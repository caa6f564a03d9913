package graft.wiki

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.store.LogTableStore

class IncrementalGoldSpec extends SparkSpec {

  private lazy val silver = SilverTransform(
    BronzeTransform(FixtureData.kafkaDf(spark), Clock.fixed("2024-01-02 15:00:00")),
    Clock.fixed("2024-01-02 15:05:00")).cache()

  private val clock = Clock.fixed("2024-01-02 16:00:00")

  /** Synthetic silver large enough to exercise the A3 branches the
    * 7-row fixture cannot: a "spike_user" with >1200 same-day edits
    * (top velocity branch → HIGH + alert), "rare_" users with ~6
    * edits whose per-batch counts sit BELOW the ≥5 activity gate
    * (threshold must be crossed on merged state, never per batch),
    * bots, anonymous users, null users, and null deltas. */
  private lazy val bigSilver = {
    val id = col("id")
    spark.range(3000)
      .withColumn("event_id", concat(lit("evt_"), id))
      .withColumn("event_date",
        when(id < 1400, "2024-03-01")
          .when(id >= 2000 && id < 2102, "2024-03-02")
          .when(id % 2 === 0, "2024-03-01").otherwise("2024-03-02"))
      .withColumn("hr", (id * 7 % 24).cast("int"))
      .withColumn("event_timestamp", to_timestamp(
        format_string("%s %02d:15:00", col("event_date"), col("hr"))))
      .withColumn("domain", element_at(
        array(lit("en.wikipedia.org"), lit("de.wikipedia.org"),
          lit("fr.wikipedia.org"), lit("ja.wikipedia.org"),
          lit("es.wikipedia.org"), lit("ru.wikipedia.org"),
          lit("zh.wikipedia.org")), (id * 3 % 7 + 1).cast("int")))
      .withColumn("region", element_at(
        array(lit("europe"), lit("americas"), lit("asia_pacific")),
        (id % 3 + 1).cast("int")))
      .withColumn("user_normalized",
        when(id % 37 === 0, lit(null).cast("string"))
          .when(id < 1400, "spike_user")
          .when(id >= 2000 && id < 2102,
            concat(lit("rare_"), ((id - 2000) / 6).cast("long")))
          .otherwise(concat(lit("user_"), id % 19)))
      .withColumn("title", concat(lit("Page_"), id * 5 % 53))
      .withColumn("length_delta",
        when(id % 41 === 0, lit(null).cast("long"))
          .otherwise(((id % 29 - 14) * 97).cast("long")))
      .withColumn("is_bot", id % 11 === 0)
      .withColumn("is_anonymous", id % 13 === 0)
      .withColumn("event_type", element_at(
        array(lit("edit"), lit("edit"), lit("edit"), lit("new"),
          lit("categorize"), lit("log")), (id % 6 + 1).cast("int")))
      .withColumn("is_large_deletion", id % 17 === 0)
      .withColumn("is_large_addition", id % 23 === 0)
      .drop("id", "hr")
      .cache()
  }

  /** Column-for-column equality of `got` against `want`, joined on
    * `keys` (the A1 spec's comparison, factored for reuse). */
  private def assertSame(want: org.apache.spark.sql.DataFrame,
                         got: org.apache.spark.sql.DataFrame,
                         keys: Seq[String]): Unit = {
    assert(got.count() === want.count())
    val cols = want.columns.filterNot(_ == "gold_processed_at").toSeq
    val joined = want.select(cols.map(c => col(c).as(s"w_$c")): _*)
      .join(got, keys.map(k => col(s"w_$k") === col(k)).reduce(_ && _))
    assert(joined.count() === want.count(), "join lost rows")
    cols.foreach { c =>
      val bad = joined.filter(!(col(s"w_$c") <=> col(c))).count()
      assert(bad === 0L, s"column $c diverges in $bad rows")
    }
  }

  test("incremental refresh over batches equals the full A1 recompute") {
    val root = Files.createTempDirectory("incgold").toString
    val store = new LogTableStore(spark, root)
    // three disjoint batches partitioned by event_id hash — arbitrary
    // split, together exactly the full silver set
    (0 until 3).foreach { b =>
      val batch = silver.filter(pmod(xxhash64(col("event_id")), lit(3)) === b)
      IncrementalGold.refresh(store, batch, clock)
    }
    val got = store.scan("gold.hourly_stats")
    val want = GoldTransforms.hourlyStats(silver, clock)
    assert(got.count() === want.count())
    // every column matches the one-shot batch aggregate, including the
    // HLL distinct estimates (exact at fixture cardinalities) and the
    // derived ratios
    val cols = want.columns.filterNot(_ == "gold_processed_at")
    val joined = want.select(cols.map(c => col(c).as(s"w_$c")): _*)
      .join(got,
        col("w_stat_date") === col("stat_date") &&
          col("w_stat_hour") === col("stat_hour") &&
          col("w_domain") === col("domain") && col("w_region") === col("region"))
    assert(joined.count() === want.count(), "join lost groups")
    cols.foreach { c =>
      val bad = joined.filter(!(col(s"w_$c") <=> col(c))).count()
      assert(bad === 0L, s"column $c diverges in $bad groups")
    }
  }

  test("refresh touches only the batch's dates; other state is untouched") {
    val root = Files.createTempDirectory("incgold2").toString
    val store = new LogTableStore(spark, root)
    IncrementalGold.refresh(store, silver, clock)
    val before = store.scan("gold.hourly_stats_state")
      .select("stat_date").distinct().collect().map(_.getString(0)).sorted
    // a second-day batch: same rows shifted to a new date label
    val day2 = silver
      .withColumn("event_date", lit("2024-09-09"))
    IncrementalGold.refresh(store, day2, clock)
    val after = store.scan("gold.hourly_stats_state")
    // day-1 state rows are byte-identical (not re-merged): total_events
    // for day 1 unchanged, day 2 present
    val d1 = after.filter(col("stat_date").isin(before.toSeq: _*))
      .agg(sum("total_events")).collect()(0).getLong(0)
    val d2 = after.filter(col("stat_date") === "2024-09-09")
      .agg(sum("total_events")).collect()(0).getLong(0)
    assert(d1 === silver.count())
    assert(d2 === silver.count())
    // folding the same batch twice double-counts — the documented
    // exactly-once contract (feed fresh rows only)
    IncrementalGold.refresh(store, day2, clock)
    val d2twice = store.scan("gold.hourly_stats_state")
      .filter(col("stat_date") === "2024-09-09")
      .agg(sum("total_events")).collect()(0).getLong(0)
    assert(d2twice === 2 * silver.count())

    // ...and rebuildDates REPAIRS the double-fold from silver truth:
    // idempotent, exact, other dates untouched
    IncrementalGold.rebuildDates(store, day2, clock)
    IncrementalGold.rebuildDates(store, day2, clock) // idempotent
    val repaired = store.scan("gold.hourly_stats")
      .filter(col("stat_date") === "2024-09-09")
      .agg(sum("total_events")).collect()(0).getLong(0)
    assert(repaired === silver.count())
    val d1after = store.scan("gold.hourly_stats")
      .filter(col("stat_date") =!= "2024-09-09")
      .agg(sum("total_events")).collect()(0).getLong(0)
    assert(d1after === silver.count(), "untouched dates must survive repair")
    // a group that vanished from silver does not survive the rebuild
    val day2Half = day2.filter(col("domain") =!= "en.wikipedia.org")
    IncrementalGold.rebuildDates(store, day2Half, clock)
    val ghost = store.scan("gold.hourly_stats")
      .filter(col("stat_date") === "2024-09-09" &&
        col("domain") === "en.wikipedia.org").count()
    assert(ghost === 0L)
  }

  test("incremental risk + daily refresh over batches equals the batch recompute") {
    val root = Files.createTempDirectory("incrisk").toString
    val store = new LogTableStore(spark, root)
    // three disjoint batches, hash-split — together exactly bigSilver
    (0 until 3).foreach { b =>
      val batch = bigSilver.filter(pmod(xxhash64(col("event_id")), lit(3)) === b)
      IncrementalGold.refreshAll(store, batch, clock)
    }
    val wantRisk = GoldTransforms.riskScores(
      GoldTransforms.userMetrics(bigSilver), clock)
    val gotRisk = store.scan("gold.risk_scores")
    assertSame(wantRisk, gotRisk, Seq("stat_date", "entity_id"))
    // branch coverage: the spike user hits the top velocity + deletion
    // branches (HIGH + alert); at least one sparse user crossed the
    // ≥5-edits gate only on MERGED state (per-batch counts are ~2)
    assert(gotRisk.filter(col("risk_level") === "HIGH" &&
      col("alert_triggered") === true).count() >= 1, "no HIGH+alert row")
    assert(gotRisk.filter(col("entity_id").startsWith("rare_")).count() >= 1,
      "no threshold-crossing sparse user")
    assert(wantRisk.filter(col("entity_id").startsWith("rare_")).count() ===
      gotRisk.filter(col("entity_id").startsWith("rare_")).count())

    // A5: the per-day risk rollup refreshes with the family
    assertSame(GoldTransforms.riskSummary(wantRisk),
      store.scan("gold.risk_summary"), Seq("stat_date"))

    val wantDaily = GoldTransforms.dailySummary(bigSilver, wantRisk, clock)
    assertSame(wantDaily, store.scan("gold.daily_summary"),
      Seq("summary_date"))

    // a double-fold diverges (additive state, documented contract)...
    IncrementalGold.refreshAll(store, bigSilver, clock)
    val inflated = store.scan("gold.risk_scores")
      .agg(max("total_edits")).collect()(0).getLong(0)
    val trueMax = wantRisk.agg(max("total_edits")).collect()(0).getLong(0)
    assert(inflated > trueMax, "double-fold should inflate totals")
    // ...and rebuildAllDates repairs ALL gold-family tables exactly
    IncrementalGold.rebuildAllDates(store, bigSilver, clock)
    assertSame(wantRisk, store.scan("gold.risk_scores"),
      Seq("stat_date", "entity_id"))
    assertSame(wantDaily, store.scan("gold.daily_summary"),
      Seq("summary_date"))
    assertSame(GoldTransforms.hourlyStats(bigSilver, clock),
      store.scan("gold.hourly_stats"),
      Seq("stat_date", "stat_hour", "domain", "region"))
  }
}
