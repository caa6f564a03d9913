package graft.pipeline

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.dq.{Notifier, GateResult}
import graft.store.{LogTableStore, TableStore}
import graft.wiki._

class OrchestratorSpec extends SparkSpec {

  private object QuietNotifier extends Notifier {
    def notify(layer: String, result: GateResult): Unit = ()
  }

  private def seedBronze(store: TableStore): Unit = {
    store.ensure("bronze.raw_events", WikiSchemas.BronzeSchema,
      Seq("event_date", "event_hour"))
    // the no-domain fixture would (correctly) fail the bronze gate's
    // domain-completeness check — the DLQ would have caught it upstream
    val bronze = BronzeTransform(FixtureData.kafkaDf(spark),
      Clock.fixed("2024-01-02 15:00:00"))
      .filter(col("domain").isNotNull)
    store.mergeInsertOnly("bronze.raw_events", bronze, Seq("event_id"))
  }

  test("full cycle: bronzeDQ → silver → silverDQ → gold → goldDQ") {
    val store = new LogTableStore(spark, tmpDir("pipe"))
    seedBronze(store)
    val orch = new Orchestrator(spark, store,
      Clock.fixed("2024-01-02 16:00:00"), QuietNotifier)
    val result = orch.runCycle("run-001", "2024-01-02", "2024-01-02")
    assert(result.succeeded, result.gateResults.flatMap(_.results)
      .filter(_.failed).mkString("; "))
    assert(result.completed === Seq("silver", "gold.hourly_stats",
      "gold.risk_scores", "gold.daily_analytics_summary"))
    assert(store.scan("silver.cleaned_events").count() === 4)
    assert(store.scan("gold.hourly_stats").count() > 0)
    assert(store.scan("gold.daily_analytics_summary").count() === 1)
    // audit trail written for all three gates
    val audit = store.scan("dq_audit.quality_results")
    assert(audit.select("layer").distinct().count() === 3)
    // A8: profiles persisted for the silver layer
    val profiles = store.scan("dq_audit.profile_metrics")
    assert(profiles.filter(col("column_name") === "length_delta")
      .count() >= 1)
    // cycle is idempotent — rerun leaves the same state
    val rerun = orch.runCycle("run-002", "2024-01-02", "2024-01-02")
    assert(rerun.succeeded)
    assert(store.scan("silver.cleaned_events").count() === 4)
    assert(store.scan("gold.daily_analytics_summary").count() === 1)
  }

  test("full cycle runs unchanged on the transactional LogTableStore backend") {
    // the identical cycle with a checkpoint every second commit, so
    // every stage reads tables resolved from checkpoint + delta
    // entries — including the idempotent rerun's copy-on-write MERGEs
    val store = new LogTableStore(spark, tmpDir("pipelog"),
      checkpointInterval = 2)
    seedBronze(store)
    val orch = new Orchestrator(spark, store,
      Clock.fixed("2024-01-02 16:00:00"), QuietNotifier)
    val result = orch.runCycle("run-001", "2024-01-02", "2024-01-02")
    assert(result.succeeded, result.gateResults.flatMap(_.results)
      .filter(_.failed).mkString("; "))
    assert(store.scan("silver.cleaned_events").count() === 4)
    assert(store.scan("gold.daily_analytics_summary").count() === 1)
    val rerun = orch.runCycle("run-002", "2024-01-02", "2024-01-02")
    assert(rerun.succeeded)
    assert(store.scan("silver.cleaned_events").count() === 4)
    assert(store.scan("gold.daily_analytics_summary").count() === 1)
    // and the whole history is one time-travelable log per table
    assert(store.versions("gold.daily_analytics_summary").size >= 2)
  }

  test("restarted batch run (fresh JVM registry) keeps declared types") {
    val root = tmpDir("piperestart")
    val s1 = new LogTableStore(spark, root)
    seedBronze(s1)
    // simulate a restart: a brand-new store instance against the same
    // root with its JVM caches dropped (the commit log must supply the
    // declared types, e.g. event_date STRING, to the silver written
    // this cycle)
    s1.close()
    val s2 = new LogTableStore(spark, root)
    val orch = new Orchestrator(spark, s2,
      Clock.fixed("2024-01-02 16:00:00"), QuietNotifier)
    val result = orch.runCycle("run-r1", "2024-01-02", "2024-01-02")
    assert(result.succeeded, result.gateResults.flatMap(_.results)
      .filter(_.failed).mkString("; "))
    val silver = s2.scan("silver.cleaned_events")
    assert(silver.schema("event_date").dataType ===
      org.apache.spark.sql.types.StringType)
    assert(silver.count() === 4)
  }

  test("failed bronze gate blocks downstream (D14 fail-fast)") {
    val store = new LogTableStore(spark, tmpDir("pipe2"))
    seedBronze(store)
    // corrupt bronze: an out-of-vocabulary event_type
    val bad = store.scan("bronze.raw_events")
      .withColumn("event_type", lit("hacked"))
      .withColumn("event_id", concat(lit("bad-"), col("event_id")))
    store.mergeInsertOnly("bronze.raw_events", bad, Seq("event_id"))
    val orch = new Orchestrator(spark, store,
      Clock.fixed("2024-01-02 16:00:00"), QuietNotifier)
    val result = orch.runCycle("run-003", "2024-01-02", "2024-01-02")
    assert(!result.succeeded)
    assert(result.failedGate === Some("bronze"))
    assert(result.completed.isEmpty)
    assert(!store.exists("silver.cleaned_events") ||
      store.scan("silver.cleaned_events").isEmpty)
  }
}
