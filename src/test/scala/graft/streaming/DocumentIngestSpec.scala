package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.SparkSpec
import graft.store.LogTableStore

class DocumentIngestSpec extends SparkSpec {

  private def runScenario(store: graft.store.TableStore): Unit = {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    def ts(s: String) = Timestamp.valueOf(s)

    val input = MemoryStream[(Long, String, String, String, Timestamp)]
    val job = new DocumentIngest(store, checkpoint = tmpDir("docsckpt"),
      trigger = Trigger.ProcessingTime(0))
    val q = job.start(input.toDF()
      .toDF("doc_id", "text", "lang", "source", "ingest_ts"))

    input.addData(
      (1L, "the quick brown fox jumps over the lazy dog", "en", "s0",
        ts("2024-01-02 10:00:00")),
      (2L, "the quick brown fox jumps over the lazy dog", "en", "s0",
        ts("2024-01-02 10:00:05")), // in-batch exact dup
      (3L, "une phrase en français pour le test", "fr", "s1",
        ts("2024-01-02 10:00:10")))
    q.processAllAvailable()

    input.addData(
      (4L, "the quick brown fox jumps over the lazy dog", "en", "s0",
        ts("2024-01-02 10:01:00")), // cross-batch dup inside watermark
      (5L, "entirely new content for the second batch", "en", "s2",
        ts("2024-01-02 10:01:30")))
    q.processAllAvailable()
    q.stop()

    val out = store.scan("docs.ingested")
    // 5 arrivals → 3 distinct contents
    assert(out.count() === 3)
    assert(out.filter(col("doc_id").isin(2L, 4L)).count() === 0)
    // enrichment columns are populated
    val row = out.filter(col("doc_id") === 1L).collect()(0)
    assert(row.getAs[Int]("n_tokens") === 9)
    assert(!row.isNullAt(row.fieldIndex("quality_score")))
    assert(row.getAs[String]("text_digest").length === 32)

    // a full replay into the same table inserts nothing (merge on digest)
    val replay = DocumentIngest.enrich(
      Seq((1L, "the quick brown fox jumps over the lazy dog", "en", "s0",
        ts("2024-01-02 10:00:00")))
        .toDF("doc_id", "text", "lang", "source", "ingest_ts"))
    assert(store.mergeInsertOnly("docs.ingested", replay,
      Seq("text_digest")) === 0L)

    // identical text from a DIFFERENT source, outside the watermark
    // window: the digest MERGE must still drop it. This is why the
    // table partitions on digest_bucket (implied by the merge key),
    // not on source — a source partition would make the scoped probe
    // miss this row and insert a duplicate digest.
    val crossSource = DocumentIngest.enrich(
      Seq((99L, "the quick brown fox jumps over the lazy dog", "en",
        "other-feed", ts("2024-03-01 00:00:00")))
        .toDF("doc_id", "text", "lang", "source", "ingest_ts"))
    assert(store.mergeInsertOnly("docs.ingested", crossSource,
      Seq("text_digest")) === 0L)
    assert(store.scan("docs.ingested").count() === 3)
  }

  test("streaming document ingest: enrich + watermark dedup + idempotent merge") {
    runScenario(new LogTableStore(spark, tmpDir("docsingest")))
  }

  test("document ingest on the transactional log store (Bloom-prefiltered digest merge)") {
    // same scenario end to end with a checkpoint every second commit:
    // DocumentIngest.start enables the key Bloom, so the digest MERGE
    // (uniform md5 keys — the case zone pruning cannot help) runs the
    // prefiltered path while the version gate reads across checkpoints
    runScenario(new LogTableStore(spark, tmpDir("docsingestlog"),
      checkpointInterval = 2))
  }
}
