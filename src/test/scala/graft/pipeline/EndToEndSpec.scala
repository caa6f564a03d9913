package graft.pipeline

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.SparkSpec
import graft.dq.{GateResult, Notifier}
import graft.store.LogTableStore
import graft.streaming.{BronzeStreamingJob, EventSource}
import graft.wiki.{Clock, FixtureData}

/** Golden end-to-end flow (SURVEY §5.2): envelope JSON on disk →
  * file-replay streaming source → Bronze (watermarked dedup +
  * idempotent MERGE) → orchestrated batch cycle (DQ gates, Silver,
  * Gold) → asserted Gold table contents. Everything a deployment does,
  * minus Kafka.
  */
class EndToEndSpec extends SparkSpec {

  private object QuietNotifier extends Notifier {
    def notify(layer: String, result: GateResult): Unit = ()
  }

  test("file source → streaming bronze → batch cycle → gold tables") {
    val sp = spark
    import sp.implicits._

    // 1. write the replayable event file (duplicate included, the
    //    no-domain record held back — its place is the DLQ)
    val srcDir = tmpDir("e2e_src")
    val lines = FixtureData.kafkaRecords.filterNot(
        _.value.contains("NoDomainUser"))
      .map(r => Seq(
        s""""offset": ${r.offset}""",
        s""""timestamp": "${r.timestamp}"""",
        s""""value": ${compactJsonString(r.value)}""").mkString("{", ", ", "}"))
    Files.write(Paths.get(s"$srcDir/events.json"),
      lines.mkString("\n").getBytes("UTF-8"))

    // 2. streaming ingestion into Bronze
    val store = new LogTableStore(spark, tmpDir("e2e_store"))
    val job = new BronzeStreamingJob(store, "bronze.raw_events",
      tmpDir("e2e_ckpt"), Trigger.ProcessingTime(0),
      Clock.fixed("2024-01-02 15:00:00"))
    val q = job.start(EventSource.fileReplay(spark, srcDir))
    q.processAllAvailable()
    q.stop()
    assert(store.scan("bronze.raw_events").count() === 4) // dup dropped

    // 3. orchestrated batch cycle
    val orch = new Orchestrator(spark, store,
      Clock.fixed("2024-01-02 16:00:00"), QuietNotifier)
    val result = orch.runCycle("e2e-run", "2024-01-02", "2024-01-02")
    assert(result.succeeded, result.gateResults.flatMap(_.results)
      .filter(_.failed).mkString("; "))

    // 4. golden assertions on gold tables
    val hourly = store.scan("gold.hourly_stats")
    val en13 = hourly.filter(col("domain") === "en.wikipedia.org" &&
      col("stat_hour") === 13).collect()(0)
    assert(en13.getAs[Long]("total_events") === 2L)
    assert(en13.getAs[Long]("bytes_added") === 5150L)

    val summary = store.scan("gold.daily_analytics_summary").collect()(0)
    assert(summary.getAs[Long]("total_events") === 4L)
    assert(summary.getAs[Double]("anonymous_percentage") === 25.0)
    assert(summary.getAs[Double]("platform_health_score") === 22.5)

    // 5. replay the whole stream from scratch → state unchanged
    val q2 = new BronzeStreamingJob(store, "bronze.raw_events",
      tmpDir("e2e_ckpt2"), Trigger.ProcessingTime(0),
      Clock.fixed("2024-01-02 15:00:00"))
      .start(EventSource.fileReplay(spark, srcDir))
    q2.processAllAvailable()
    q2.stop()
    val rerun = orch.runCycle("e2e-run-2", "2024-01-02", "2024-01-02")
    assert(rerun.succeeded)
    assert(store.scan("bronze.raw_events").count() === 4)
    assert(store.scan("gold.daily_analytics_summary").count() === 1)
  }

  /** Encode a string as a JSON string literal. */
  private def compactJsonString(s: String): String =
    "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c    => c.toString
    } + "\""
}
