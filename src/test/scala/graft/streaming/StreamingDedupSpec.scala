package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger
import graft.SparkSpec
import graft.store.LogTableStore
import graft.wiki.{Clock, FixtureData}
import graft.wiki.FixtureData.KafkaRecord

/** ST1-ST5: streaming semantics without Kafka — MemoryStream micro-
  * batches with duplicates inside one batch, across batches (within the
  * watermark), and full replays (MERGE idempotence).
  */
class StreamingDedupSpec extends SparkSpec {

  private def runDedupScenario(store: graft.store.TableStore): Unit = {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext

    val input = MemoryStream[KafkaRecord]
    val job = new BronzeStreamingJob(store, "bronze.raw_events",
      tmpDir("ckpt"), Trigger.ProcessingTime(0),
      Clock.fixed("2024-01-02 15:00:00"))
    val query = job.start(input.toDF())

    val recs = FixtureData.kafkaRecords
    // batch 1: events 1, 2 and an in-batch duplicate of 1
    input.addData(recs(0), recs(1), recs(4))
    query.processAllAvailable()
    assert(store.scan("bronze.raw_events").count() === 2)

    // batch 2: replay of event 1 (cross-batch dup within watermark) + event 3
    input.addData(recs(0), recs(2))
    query.processAllAvailable()
    assert(store.scan("bronze.raw_events").count() === 3)

    // batch 3: full replay of everything — MERGE keeps it idempotent
    input.addData(recs: _*)
    query.processAllAvailable()
    val finalRows = store.scan("bronze.raw_events")
    assert(finalRows.count() === 5)
    assert(finalRows.select("event_id").distinct().count() === 5)
    query.stop()
  }

  test("stateful dedup across micro-batches + idempotent MERGE sink") {
    runDedupScenario(new LogTableStore(spark, tmpDir("stream")))
  }

  test("the same streaming dedup scenario on the transactional LogTableStore sink") {
    // a checkpoint every second commit: the sink's merges resolve the
    // table through checkpoint + delta entries, not one delta chain
    runDedupScenario(new LogTableStore(spark, tmpDir("streamlog"),
      checkpointInterval = 2))
  }
}
