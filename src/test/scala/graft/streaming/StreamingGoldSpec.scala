package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.SparkSpec
import graft.store.LogTableStore
import graft.wiki._
import graft.wiki.FixtureData.KafkaRecord

class StreamingGoldSpec extends SparkSpec {

  test("streaming gold refresh over micro-batches equals the batch A1 recompute") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    val bclock = Clock.fixed("2024-01-02 15:00:00")
    val gclock = Clock.fixed("2024-01-02 16:00:00")
    val input = MemoryStream[KafkaRecord]
    val store = new LogTableStore(spark, tmpDir("goldstream"))
    val ck = tmpDir("goldck")
    val silverStream = SilverTransformStreaming(
      BronzeTransform(input.toDF(), bclock), bclock)
    val job = new StreamingGoldJob(store, ck, Trigger.ProcessingTime(0), gclock)
    val q = job.start(silverStream)

    // two micro-batches covering all fixture records
    val records = FixtureData.kafkaRecords
    input.addData(records.take(3): _*)
    q.processAllAvailable()
    input.addData(records.drop(3): _*)
    q.processAllAvailable()
    q.stop()

    val got = store.scan("gold.hourly_stats")
    val silverBatch = SilverTransform(
      BronzeTransform(FixtureData.kafkaDf(spark), bclock), bclock)
    val want = GoldTransforms.hourlyStats(silverBatch, gclock)
    assert(got.count() === want.count())
    val cols = want.columns.filterNot(_ == "gold_processed_at")
    val joined = want.select(cols.map(c => col(c).as(s"w_$c")): _*)
      .join(got, col("w_stat_date") === col("stat_date") &&
        col("w_stat_hour") === col("stat_hour") &&
        col("w_domain") === col("domain") && col("w_region") === col("region"))
    assert(joined.count() === want.count(), "group mismatch")
    cols.foreach { c =>
      val bad = joined.filter(!(col(s"w_$c") <=> col(c))).count()
      assert(bad === 0L, s"column $c diverges in $bad groups")
    }

    // restart from the same checkpoint with no new data: completed
    // batches are NOT re-folded (state stays additive-correct)
    val q2 = new StreamingGoldJob(store, ck, Trigger.ProcessingTime(0), gclock)
      .start(SilverTransformStreaming(
        BronzeTransform(input.toDF(), bclock), bclock))
    q2.processAllAvailable()
    q2.stop()
    val total = store.scan("gold.hourly_stats")
      .agg(sum("total_events")).collect()(0).getLong(0)
    assert(total === silverBatch.count(), "restart must not double-count")

    // the at-least-once crash path: foreachBatch REPLAYS a batch id
    // whose fold completed but whose checkpoint commit did not — the
    // durable marker must make the second fold a no-op
    val job3 = new StreamingGoldJob(store, ck, Trigger.ProcessingTime(0), gclock)
    assert(job3.lastFolded >= 1L, "marker must survive restarts")
    job3.foldBatch(silverBatch, job3.lastFolded) // simulated replay
    val total2 = store.scan("gold.hourly_stats")
      .agg(sum("total_events")).collect()(0).getLong(0)
    assert(total2 === total, "replayed batchId must not double-fold")
    // a genuinely new batch id still folds and advances the marker
    val before = job3.lastFolded
    job3.foldBatch(silverBatch.limit(0), before + 1)
    assert(job3.lastFolded === before + 1)
  }

  test("partial-fold crash replays only the unfolded gold families") {
    val sp = spark
    import sp.implicits._
    val bclock = Clock.fixed("2024-01-02 15:00:00")
    val gclock = Clock.fixed("2024-01-02 16:00:00")
    val silverBatch = SilverTransform(
      BronzeTransform(FixtureData.kafkaDf(spark), bclock), bclock)
    // truth: one clean fold of every family
    val truth = new LogTableStore(spark, tmpDir("goldtruth"))
    IncrementalGold.refreshAll(truth, silverBatch, gclock)
    // crash scenario: batch 0's HOURLY fold completed and committed its
    // family marker, then the process died before risk/daily —
    // foreachBatch replays batch 0 whole
    val store = new LogTableStore(spark, tmpDir("goldpartial"))
    val ck = tmpDir("goldpartialck")
    IncrementalGold.refresh(store, silverBatch, gclock) // hourly fold ran
    new BatchMarker(ck, "graft_last_folded_hourly").commit(0L)
    val job = new StreamingGoldJob(store, ck,
      Trigger.ProcessingTime(0), gclock)
    job.foldBatch(silverBatch, 0L) // the replay
    // hourly must NOT double-fold; risk and daily must fold exactly once
    for (t <- Seq("gold.hourly_stats", "gold.risk_scores",
        "gold.risk_summary", "gold.daily_summary")) {
      val a = truth.scan(t).drop("gold_processed_at", "calculated_at",
        "summary_generated_at").collect().map(_.toSeq).toSet
      val b = store.scan(t).drop("gold_processed_at", "calculated_at",
        "summary_generated_at").collect().map(_.toSeq).toSet
      assert(b === a, s"$t diverged after partial-fold replay")
    }
    // a second full replay of the same id is now a complete no-op
    job.foldBatch(silverBatch, 0L)
    val again = store.scan("gold.hourly_stats")
      .agg(sum("total_events")).collect()(0).getLong(0)
    assert(again === truth.scan("gold.hourly_stats")
      .agg(sum("total_events")).collect()(0).getLong(0))
  }
}
