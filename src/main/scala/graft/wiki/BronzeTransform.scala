package graft.wiki

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.Settings

/** Kafka records → flattened Bronze rows. Pure plan construction —
  * faithful to /root/reference/spark/jobs/bronze_streaming_job.py:131-238
  * (P1-P8 + ST2/ST3 in SURVEY §2).
  *
  * Input schema: `topic, partition, offset, timestamp, value` (the
  * Kafka source shape; `value` may be binary or string).
  *
  * Streaming inputs get the watermark + stateful cross-batch dedup
  * (`dropDuplicatesWithinWatermark`); batch inputs get a plain
  * `dropDuplicates` since watermark state needs a streaming query.
  */
object BronzeTransform {

  val WatermarkDelay = "10 minutes"

  /** The envelope parse both outputs route on. */
  private def parseEnvelope(value: Column): Column =
    from_json(value.cast("string"), WikiSchemas.KafkaValueSchema)

  /** The ONE routing predicate: an envelope is dead-lettered iff it
    * fails the declared-schema parse or carries no data payload.
    * [[dlq]] keeps exactly these rows and [[apply]] drops exactly
    * these, so every envelope lands in one of the two outputs, never
    * both (PERMISSIVE from_json yields an all-null struct, not a null,
    * for garbage input — its `data` is null, so it routes here too). */
  private def deadLetter(envelope: Column): Column =
    envelope.isNull || envelope("data").isNull

  /** S3: dead-letter routing — records whose envelope fails the
    * declared-schema parse (or carries no data payload) become DLQ rows
    * (producer/kafka_producer.py:380-389; table schema
    * bronze_schema.py:189-199). The good path proceeds through
    * [[apply]]; at 100 TB this is one pass over the batch with two
    * filtered sinks, not a re-read.
    */
  def dlq(df: DataFrame, clock: Clock = Clock.system): DataFrame = {
    val parsed = df.withColumn("__parsed", parseEnvelope(col("value")))
    // classify by whether ANY field survived the parse
    val unparseable = col("__parsed").isNull ||
      (col("__parsed.id").isNull && col("__parsed.data").isNull &&
        col("__parsed._processing").isNull)
    parsed
      .filter(deadLetter(col("__parsed")))
      .select(
        col("value").cast("string").as("raw_value"),
        when(unparseable, "unparseable_envelope")
          .otherwise("missing_data_payload").as("error_reason"),
        clock.now.as("failed_at"),
        date_format(clock.now, "yyyy-MM-dd").as("failed_date"))
  }

  /** Full transform with watermark + stateful dedup on streaming
    * inputs. Set `stateful = false` for downstream consumers that add
    * their OWN stateful operator (e.g. StreamingHourlyStats) — Spark
    * disallows redefining the watermark across chained stateful ops.
    */
  def apply(df: DataFrame, clock: Clock = Clock.system,
            stateful: Boolean = true): DataFrame = {
    val useState = stateful && df.isStreaming
    val watermarked = {
      val parsed = df.select(
        col("topic").as("kafka_topic"),
        col("partition").as("kafka_partition"),
        col("offset").as("kafka_offset"),
        col("timestamp").as("kafka_timestamp"),
        parseEnvelope(col("value")).as("parsed"))
        .filter(!deadLetter(col("parsed")))
      if (useState) parsed.withWatermark("kafka_timestamp", WatermarkDelay)
      else parsed
    }

    val extracted = watermarked
      .select(
        col("kafka_topic"), col("kafka_partition"), col("kafka_offset"),
        col("kafka_timestamp"),
        col("parsed.id").as("source_event_id"),
        col("parsed.data").as("data_json"),
        col("parsed._processing.ingested_at").as("producer_ingested_at_str"))
      // parse the payload ONCE against the declared schema — the
      // reference's 17 get_json_object calls each re-parse the string
      // (semantically equal per SURVEY §2.2 P2; ~2× ingest throughput)
      .withColumn("rc", from_json(col("data_json"), WikiSchemas.RecentchangeSchema))
      .select(
        col("kafka_topic"), col("kafka_partition"), col("kafka_offset"),
        col("kafka_timestamp"), col("source_event_id"),
        col("producer_ingested_at_str"),
        coalesce(col("rc.id"), lit(-1L)).as("rc_id"),
        coalesce(col("rc.type"), lit("unknown")).as("event_type"),
        col("rc.namespace").as("namespace"),
        col("rc.meta.domain").as("domain"),
        col("rc.title").as("title"),
        col("rc.title_url").as("title_url"),
        col("rc.user").as("user"),
        coalesce(col("rc.bot"), lit(false)).as("is_bot"),
        col("rc.comment").as("comment"),
        col("rc.wiki").as("wiki"),
        col("rc.server_name").as("server_name"),
        col("rc.length.old").as("length_old"),
        col("rc.length.new").as("length_new"),
        col("rc.revision.old").as("revision_old"),
        col("rc.revision.new").as("revision_new"),
        col("rc.timestamp").as("event_ts_unix"),
        col("rc.meta.dt").as("event_dt_str"))

    val derived = extracted
      // P4: deterministic surrogate key for idempotent dedup
      .withColumn("event_id",
        when(col("source_event_id").isNotNull, col("source_event_id"))
          .otherwise(md5(concat_ws("-",
            coalesce(col("domain"), lit("unknown")),
            coalesce(col("rc_id").cast("string"), lit("0")),
            coalesce(col("event_ts_unix").cast("string"), lit("0"))))))
      // P5: derived delta
      .withColumn("length_delta",
        when(col("length_new").isNotNull && col("length_old").isNotNull,
          col("length_new") - col("length_old")))
      // P6: timestamp resolution — unix epoch preferred, ISO fallback
      .withColumn("event_timestamp",
        when(col("event_ts_unix").isNotNull,
          col("event_ts_unix").cast("timestamp"))
          .otherwise(to_timestamp(col("event_dt_str"),
            "yyyy-MM-dd'T'HH:mm:ss'Z'")))
      .withColumn("producer_ingested_at",
        to_timestamp(col("producer_ingested_at_str")))
      .withColumn("bronze_processed_at", clock.now)
      // P7: time dimensions (event_date stays a STRING — faithful)
      .withColumn("event_date", date_format(col("event_timestamp"), "yyyy-MM-dd"))
      .withColumn("event_hour", hour(col("event_timestamp")))
      .withColumn("schema_version", lit(Settings.SchemaVersion))
      .select(
        "event_id", "kafka_topic", "kafka_partition", "kafka_offset",
        "kafka_timestamp", "rc_id", "event_type", "namespace", "domain",
        "title", "title_url", "user", "is_bot", "comment", "wiki",
        "server_name", "length_old", "length_new", "length_delta",
        "revision_old", "revision_new", "event_timestamp",
        "producer_ingested_at", "bronze_processed_at", "event_date",
        "event_hour", "schema_version")
      // P8: malformed-row filter
      .filter(col("event_id").isNotNull)

    // ST3: stateful cross-batch dedup bounded by the watermark
    if (useState) derived.dropDuplicatesWithinWatermark(Seq("event_id"))
    else if (!df.isStreaming) derived.dropDuplicates(Seq("event_id"))
    else derived
  }
}
