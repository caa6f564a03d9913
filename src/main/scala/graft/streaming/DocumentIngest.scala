package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._
import graft.llmdata.TextFunctions
import graft.store.TableStore

/** Streaming ingest for the training-data side of the engine — the
  * document analogue of [[BronzeStreamingJob]] (an extension beyond
  * the reference, which only streams wiki events): raw documents
  * arrive on a stream, are enriched with the llmdata quality columns
  * (pure codegen projections, so fully streaming-safe), exact-deduped
  * on content digest within a watermark, and merged idempotently.
  *
  * Scale shape: the only stateful operator is the digest dedup (keyed
  * state bounded by the watermark); everything else is a per-row
  * projection, so the stream partitions scale out linearly and the
  * sink merge probes only the partitions the micro-batch touches.
  */
class DocumentIngest(store: TableStore,
                     table: String = "docs.ingested",
                     checkpoint: String,
                     trigger: Trigger = Trigger.ProcessingTime("3 minutes"),
                     watermark: String = "10 minutes") {

  import DocumentIngest._

  /** `source` needs (doc_id long, text string, lang string,
    * source string, ingest_ts timestamp). */
  def start(source: DataFrame): StreamingQuery = {
    // Partitioned by digest_bucket (a prefix of the merge key), NOT by
    // source: each written file then holds one bucket, so its
    // text_digest zone is narrow and the merge's anti-join probe prunes
    // to the files whose key window the batch can hit. A `source`
    // partition would scatter one digest range over every feed's files.
    // The 256 hex buckets also spread ingest writes evenly regardless of
    // feed skew.
    store.ensure(table, IngestedSchema, Seq("digest_bucket"))
    // Bloom-prefiltered merge: at scale most micro-batch digests are
    // genuinely new, so the sidecar filter lets the anti-join probe
    // carry only bloom hits (true replays + ~1% false positives)
    // instead of the whole batch
    store match {
      case l: graft.store.LogTableStore =>
        l.enableKeyBloom(table, Seq("text_digest"))
      case _ => ()
    }
    DocumentIngest.enrich(source)
      .withWatermark("ingest_ts", watermark)
      // exact near-line dedup: identical content arriving within the
      // watermark (replays, multi-feed overlap) is dropped pre-sink;
      // anything older is caught by the idempotent digest MERGE below
      .dropDuplicatesWithinWatermark("text_digest")
      .writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          val inserted = store.mergeInsertOnly(table, batch, Seq("text_digest"))
          println(s"[docs] batch $batchId inserted $inserted rows")
        }
        ()
      }
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .start()
  }
}

object DocumentIngest {

  val IngestedSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("ingest_ts", TimestampType),
    StructField("text_digest", StringType),
    StructField("fingerprint", LongType),
    StructField("n_tokens", IntegerType),
    StructField("quality_score", DoubleType),
    StructField("predicted_lang", StringType),
    StructField("digest_bucket", StringType)))

  /** The stateless enrichment — shared by the streaming job and batch
    * backfills so both paths produce identical rows. */
  def enrich(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"), col("text"), col("lang"), col("source"),
      col("ingest_ts"),
      md5(col("text")).as("text_digest"),
      TextFunctions.fingerprint(col("text")).as("fingerprint"),
      // r18: n_tokens from the fused tokenStats kernel so it shares
      // ONE pass with qualityScore/langIdArgmax via subexpr elimination
      TextFunctions.tokenStats(col("text")).getField("n_tokens")
        .as("n_tokens"),
      TextFunctions.qualityScore(col("text")).as("quality_score"),
      TextFunctions.langIdArgmax(col("text")).as("predicted_lang"),
      // partition column: first digest byte — a prefix of the merge
      // key, so each bucket's files cover one narrow digest range
      substring(md5(col("text")), 1, 2).as("digest_bucket"))
}
