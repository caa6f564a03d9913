package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.SparkSpec
import graft.llmdata.{DedupFunctions, IncrementalCorpus}
import graft.pipeline.{E2eDoc, LlmOrchestrator}
import graft.store.LogTableStore

/** The continuously-maintained corpus gold must equal the batch
  * recompute no matter how the corpus is micro-batched — including
  * cross-batch near-dup merges — and a poisoned state must heal
  * through the rebuild repair path. */
class StreamingCorpusSpec extends SparkSpec {

  private val t0 = Timestamp.valueOf("2024-03-01 12:00:00")
  private val quick = "the quick brown fox jumps over the lazy dog and " +
    "then runs far away into the green quiet forest before dark"

  private val batches = Seq(
    Seq(E2eDoc(1L, quick, "en", "web", t0),
      E2eDoc(2L, quick.replace("dog", "cat"), "en", "web", t0),
      E2eDoc(3L, "completely different prose about distributed query " +
        "engines and the many shuffles they try so hard to avoid",
        "en", "books", t0)),
    Seq(E2eDoc(4L, quick, "en", "books", t0), // exact text, later id
      E2eDoc(5L, "short low quality zz", "en", "crawl", t0)),
    Seq(E2eDoc(6L, quick.replace("dark", "dawn"), "en", "web", t0)))

  private def keeperSet(df: DataFrame) =
    df.select("doc_id", "cluster_id", "keep").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet

  private def summarySet(df: DataFrame) =
    df.select("lang", "source", "n_docs", "n_keepers", "dup_ratio",
        "avg_quality", "total_tokens").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        math.round(r.getDouble(4) * 1e9), math.round(r.getDouble(5) * 1e9),
        r.getLong(6))).toSet

  test("streamed corpus gold ≡ batch recompute; replays no-op; rebuild heals") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext

    val store = new LogTableStore(spark, tmpDir("scorpus"))
    val idx = s"s_corpus_idx_${System.nanoTime()}"
    val input = MemoryStream[E2eDoc]
    val job = new StreamingCorpusJob(store, idx, tmpDir("scorpusck"),
      Trigger.ProcessingTime(0))
    val q = job.start(input.toDF())
    for (b <- batches) { input.addData(b: _*); q.processAllAvailable() }
    q.stop()

    // batch twin over the SAME raw corpus (no digest dedup here — the
    // exact-text doc 4 is a distinct id and must land in doc 1's
    // cluster via identical signatures)
    val raw = batches.flatten.toDF()
    val enriched = DocumentIngest.enrich(raw).select(
      col("doc_id"), col("lang"), col("source"), col("n_tokens"),
      col("quality_score"))
    val sigs = raw.select(col("doc_id"),
        graft.functions.ShingleExpression.bigramShingleHashes(col("text"))
          .as("th"))
      .filter(size(col("th")) > 0)
      .select(col("doc_id"),
        DedupFunctions.minhashSignature(col("th"), 8).as("sig"))
    val pairs = DedupFunctions.lshCandidates(sigs, "doc_id", 4, 2)
      .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"))
    val batchKeepers = LlmOrchestrator.electKeepers(enriched, pairs)

    assert(keeperSet(store.scan("docs.cluster_state")) ===
      keeperSet(batchKeepers))
    val batchSummary = LlmOrchestrator.corpusSummary(enriched,
      batchKeepers.select(col("doc_id"), col("keep")))
    assert(summarySet(IncrementalCorpus.publish(store)) ===
      summarySet(batchSummary))
    // cross-batch merges actually happened: 1,2,4,6 share one cluster
    val state = store.scan("docs.cluster_state").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster_id")).toMap
    assert(Seq(2L, 4L, 6L).forall(state(_) == state(1L)))

    // at-least-once: a replayed batch id must not double-fold
    val before = keeperSet(store.scan("docs.cluster_state"))
    assert(job.lastFolded >= 2L)
    job.foldOnce(batches.head.toDF(), 0L)
    job.foldOnce(batches.head.toDF(), job.lastFolded + 1) // fresh gate
    assert(keeperSet(store.scan("docs.cluster_state")) === before)

    // heal path: poison the summary state, rebuild from truth
    import org.apache.spark.sql.Row
    store.mergeUpsert("gold.corpus_state", spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row("en", "web", 999L, 999L,
        new java.math.BigDecimal("1.000000000"), 999L)), 1),
      IncrementalCorpus.CorpusStateSchema), Seq("lang", "source"))
    assert(summarySet(IncrementalCorpus.publish(store)) !==
      summarySet(batchSummary))
    IncrementalCorpus.rebuild(store, enriched, pairs)
    assert(summarySet(IncrementalCorpus.publish(store)) ===
      summarySet(batchSummary))
    assert(keeperSet(store.scan("docs.cluster_state")) ===
      keeperSet(batchKeepers))

    spark.sql(s"DROP TABLE IF EXISTS $idx")
    sweepPersistentRdds()
  }

  test("maintenance cadence bounds index and cluster-state file accretion") {
    // the StreamingCcSpec bound, for the corpus job's TWO growing
    // states: with the threshold at 4 neither the bucketed LSH index
    // nor the log-store cluster state (whose keyed MERGE accretes COW
    // files every fold) may ratchet past threshold + one batch's
    // fan-out — the state compaction is the clusterBy(cluster_id)
    // path that also keeps applyBatch's scanRange zones tight — and
    // the folded gold still equals the batch twin at the end.
    val sp = spark
    import sp.implicits._
    val store = new graft.store.LogTableStore(spark, tmpDir("scorpcmp"))
    // few id buckets so toy partitions don't dominate the file count
    IncrementalCorpus.ensure(store, buckets = 4)
    val idx = s"s_corpus_cidx_${System.nanoTime()}"
    val job = new StreamingCorpusJob(store, idx, tmpDir("scorpcmpck"),
      Trigger.ProcessingTime(0), buckets = 4, compactAbove = 4,
      maintainEvery = 1)
    val mk = (i: Long) => E2eDoc(i,
      s"shared template text block number ${i % 3} with enough words " +
        "to shingle and band reliably every time", "en", "web", t0)
    var maxIdx, maxState = 0
    (0 until 8).foreach { b =>
      job.foldOnce(Seq(mk(b * 2L), mk(b * 2L + 1)).toDF(), b.toLong)
      maxIdx = math.max(maxIdx, spark.table(idx).inputFiles.length)
      maxState = math.max(maxState,
        store.scan("docs.cluster_state").inputFiles.length)
    }
    assert(maxIdx <= 4 + 4 + 8, s"index files ratcheted to $maxIdx")
    assert(maxState <= 4 + 4 + 8,
      s"cluster-state files ratcheted to $maxState")
    // the cadence (compactions interleaved with folds) kept the gold
    // exact: keeper state equals the one-shot batch election
    val raw = (0L until 16L).map(mk).toDF()
    val enriched = DocumentIngest.enrich(raw).select(
      col("doc_id"), col("lang"), col("source"), col("n_tokens"),
      col("quality_score"))
    val sigs = raw.select(col("doc_id"),
        graft.functions.ShingleExpression.bigramShingleHashes(col("text"))
          .as("th"))
      .filter(size(col("th")) > 0)
      .select(col("doc_id"),
        DedupFunctions.minhashSignature(col("th"), 8).as("sig"))
    val pairs = DedupFunctions.lshCandidates(sigs, "doc_id", 4, 2)
      .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"))
    val batchKeepers = LlmOrchestrator.electKeepers(enriched, pairs)
    assert(keeperSet(store.scan("docs.cluster_state")) ===
      keeperSet(batchKeepers),
      "maintenance cadence broke the fold ≡ batch equivalence")
    store.close()
    spark.sql(s"DROP TABLE IF EXISTS $idx")
    sweepPersistentRdds()
  }
}
