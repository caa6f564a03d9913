package graft.wiki

import org.apache.spark.sql.functions._
import graft.SparkSpec

class BronzeTransformSpec extends SparkSpec {

  private lazy val bronze =
    BronzeTransform(FixtureData.kafkaDf(spark), Clock.fixed("2024-01-02 15:00:00"))
      .cache()

  test("envelope parse + flatten produces one row per distinct event") {
    // 6 records, one exact duplicate → 5 bronze rows
    assert(bronze.count() === 5)
  }

  test("canonical edit event fields (P1-P7)") {
    val r = bronze.filter(col("event_id") === "test-event-001").collect()(0)
    assert(r.getAs[Long]("rc_id") === 1234567890L)
    assert(r.getAs[String]("event_type") === "edit")
    assert(r.getAs[String]("domain") === "en.wikipedia.org")
    assert(r.getAs[Int]("length_old") === 45000)
    assert(r.getAs[Int]("length_new") === 45150)
    assert(r.getAs[Int]("length_delta") === 150)
    assert(r.getAs[Long]("revision_new") === 123456790L)
    assert(r.getAs[String]("event_date") === "2024-01-02")
    assert(r.getAs[Int]("event_hour") === 13)
    assert(!r.getAs[Boolean]("is_bot"))
    assert(r.getAs[String]("schema_version") === "1.0.0")
  }

  test("surrogate key md5 path for missing meta.id (P4)") {
    val r = bronze.filter(col("domain") === "de.wikipedia.org").collect()(0)
    val expected = java.security.MessageDigest.getInstance("MD5")
      .digest("de.wikipedia.org-999-1704204700".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    assert(r.getAs[String]("event_id") === expected)
    // missing type coalesces to "unknown"
    assert(r.getAs[String]("event_type") === "unknown")
    // missing length → null delta
    assert(r.isNullAt(r.fieldIndex("length_delta")))
  }

  test("timestamp resolution prefers unix epoch (P6)") {
    val r = bronze.filter(col("event_id") === "test-event-002").collect()(0)
    assert(r.getAs[java.sql.Timestamp]("event_timestamp").toInstant
      === java.time.Instant.ofEpochSecond(1704201000L))
    assert(r.getAs[java.sql.Timestamp]("producer_ingested_at") != null)
  }

  test("bad-typed JSON fields degrade to null/defaults instead of throwing") {
    val sp = spark
    import sp.implicits._
    // well-formed JSON, wrong types everywhere — under ANSI casts this
    // would kill the micro-batch; reference semantics null them out
    val badData =
      """{"id": "not-a-number", "type": "edit", "bot": "maybe", "timestamp": "garbage", "length": {"old": "x", "new": "y"}, "meta": {"domain": "en.wikipedia.org", "dt": "also-garbage", "id": "bad-types-001"}}"""
    val rec = FixtureData.KafkaRecord("raw-events", 0, 7L,
      java.sql.Timestamp.valueOf("2024-01-02 15:00:00"),
      FixtureData.envelope(Some("bad-types-001"), badData))
    val out = BronzeTransform(Seq(rec).toDF(),
      Clock.fixed("2024-01-02 15:00:00")).collect()
    assert(out.length === 1)
    val r = out(0)
    assert(r.getAs[String]("event_id") === "bad-types-001")
    assert(r.getAs[Long]("rc_id") === -1L)       // bad id → coalesce default
    assert(!r.getAs[Boolean]("is_bot"))           // bad bool → false
    assert(r.isNullAt(r.fieldIndex("length_old")))
    assert(r.isNullAt(r.fieldIndex("event_timestamp"))) // both ts paths bad
  }

  test("no-payload and unparseable envelopes reach only the DLQ") {
    val sp = spark
    import sp.implicits._
    val clock = Clock.fixed("2024-01-02 15:00:00")
    val ts = java.sql.Timestamp.valueOf("2024-01-02 15:00:00")
    val good = FixtureData.kafkaRecords.head
    val garbage = FixtureData.KafkaRecord("raw-events", 0, 99L, ts,
      "not json at all {{{")
    val nodata = FixtureData.KafkaRecord("raw-events", 0, 100L, ts,
      """{"id": "no-payload-001", "_processing": {"ingested_at": "t", "producer_version": "v", "environment": "e"}}""")
    val input = Seq(good, garbage, nodata).toDF()
    // the good path keeps only the well-formed envelope...
    assert(BronzeTransform(input, clock).select("event_id").as[String]
      .collect().toSeq === Seq("test-event-001"))
    // ...and the DLQ holds exactly the other two, one row each
    val dlq = BronzeTransform.dlq(input, clock)
      .select("raw_value", "error_reason").as[(String, String)].collect()
    assert(dlq.map(_._2).sorted.toSeq ===
      Seq("missing_data_payload", "unparseable_envelope"))
    assert(dlq.map(_._1).toSet === Set(garbage.value, nodata.value))
  }

  test("injected clock stamps bronze_processed_at deterministically") {
    val stamps = bronze.select("bronze_processed_at").distinct().collect()
    assert(stamps.length === 1)
    assert(stamps(0).getTimestamp(0) ===
      java.sql.Timestamp.valueOf("2024-01-02 15:00:00"))
  }
}
