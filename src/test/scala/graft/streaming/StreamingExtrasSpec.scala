package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.store.LogTableStore
import graft.wiki.{BronzeTransform, Clock, FixtureData}
import graft.wiki.FixtureData.KafkaRecord

class StreamingExtrasSpec extends SparkSpec {

  test("S1: kafka source option contract matches the reference job") {
    // bronze_streaming_job.py:381-395 — subscribe + consumer group +
    // startingOffsets; auth settings ride the extra map. The connector
    // jar is absent in this environment, so the contract IS the seam.
    val opts = EventSource.kafkaOptions("broker:9098",
      extra = Map("kafka.security.protocol" -> "SASL_SSL"))
    assert(opts("kafka.bootstrap.servers") === "broker:9098")
    assert(opts("subscribe") === "raw-events")
    assert(opts("kafka.group.id") === "graft-bronze-streaming-consumer")
    assert(opts("startingOffsets") === "latest")
    assert(opts("failOnDataLoss") === "false")
    assert(opts("kafka.security.protocol") === "SASL_SSL")
    // and the configured reader fails only for the missing connector,
    // not for a malformed option set
    val err = intercept[Exception] {
      EventSource.kafka(spark, "broker:9098").isStreaming
    }
    assert(err.getMessage.toLowerCase.contains("kafka"))
  }

  test("S3: malformed envelopes route to the DLQ table") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    val input = MemoryStream[KafkaRecord]
    val store = new LogTableStore(spark, tmpDir("dlqstore"))
    val job = new BronzeStreamingJob(store, "bronze.raw_events",
      tmpDir("dlqck"), Trigger.ProcessingTime(0),
      Clock.fixed("2024-01-02 15:00:00"))
    val dlqQ = job.startDlq(input.toDF())

    val good = FixtureData.kafkaRecords.head
    val garbage = KafkaRecord("raw-events", 0, 99L,
      Timestamp.valueOf("2024-01-02 15:00:00"), "not json at all {{{")
    val nodata = KafkaRecord("raw-events", 0, 100L,
      Timestamp.valueOf("2024-01-02 15:00:01"),
      """{"id": "x", "_processing": {"ingested_at": "t", "producer_version": "v", "environment": "e"}}""")
    input.addData(good, garbage, nodata)
    dlqQ.processAllAvailable()

    val dlq = store.scan("bronze.dlq_events")
    assert(dlq.count() === 2)
    val reasons = dlq.select("error_reason").collect()
      .map(_.getString(0)).toSet
    assert(reasons === Set("unparseable_envelope", "missing_data_payload"))
    assert(dlq.select("failed_date").distinct().collect()(0)
      .getString(0) === "2024-01-02")
    dlqQ.stop()
  }

  test("silver transform is streaming-capable (stateless enrich on a stream)") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    val input = MemoryStream[KafkaRecord]
    val silverStream = graft.wiki.SilverTransformStreaming(
      BronzeTransform(input.toDF(), Clock.fixed("2024-01-02 15:00:00"),
        stateful = false),
      Clock.fixed("2024-01-02 15:05:00"))
    val q = silverStream.writeStream.outputMode("append")
      .format("memory").queryName("silver_stream")
      .trigger(Trigger.ProcessingTime(0)).start()
    input.addData(FixtureData.kafkaRecords.take(3): _*)
    q.processAllAvailable()
    val out = spark.table("silver_stream")
    assert(out.count() === 3)
    assert(out.filter(col("region") === "asia_pacific").count() === 1)
    q.stop()
  }

  test("ST6: streaming tumbling-window hourly stats with watermark") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    val input = MemoryStream[KafkaRecord]
    val bronze = BronzeTransform(input.toDF(),
      Clock.fixed("2024-01-02 15:00:00"), stateful = false)
    val q = StreamingHourlyStats(bronze).writeStream
      .outputMode("complete")
      .format("memory").queryName("hourly_stream")
      .trigger(Trigger.ProcessingTime(0))
      .start()
    input.addData(FixtureData.kafkaRecords: _*)
    q.processAllAvailable()
    val out = spark.table("hourly_stream")
    val en13 = out.filter(col("domain") === "en.wikipedia.org" &&
      hour(col("window_start")) === 13).collect()
    assert(en13.length === 1)
    // the dashboard stream is at-least-once (no stateful dedup — the
    // batch path is the exact source of truth), so the replayed
    // duplicate of event 1 is counted: 3 raw events, 5150+150 bytes
    assert(en13(0).getAs[Long]("total_events") === 3L)
    assert(en13(0).getAs[Long]("bytes_added") === 5300L)
    // window bounds are aligned to the hour
    assert(minute(col("window_start")).toString != null)
    q.stop()
  }
}
