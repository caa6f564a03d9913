package graft.pipeline

import java.sql.Timestamp
import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.SparkSpec
import graft.dq.{GateResult, Notifier}
import graft.llmdata.{AnnIndex, DedupFunctions, Similarity}
import graft.store.LogTableStore
import graft.streaming.{DocumentIngest, EmbeddingIngest, StreamingLshJob}

/** The FULL training-data loop, streamed end-to-end over two
  * micro-batches and then orchestrated:
  *
  *   docs stream → [[DocumentIngest]] (enrich + digest dedup + MERGE)
  *   docs stream → [[StreamingLshJob]] (sign, probe, index, pair log)
  *   vec stream  → [[EmbeddingIngest]] (frozen-quantizer ANN append)
  *           then [[LlmOrchestrator]].runCycle:
  *   DQ gate → cluster contraction → keeper election → gold summary
  *
  * and every served artifact — keepers, corpus summary, ANN search
  * results — must equal the one-shot batch recompute over the same
  * corpus. Each job is unit-tested elsewhere; this proves the
  * COMPOSITION: the streamed state the batch cycle consumes is the
  * state the batch twin would have produced.
  */
case class E2eDoc(doc_id: Long, text: String, lang: String,
                  source: String, ingest_ts: Timestamp)

class LlmStreamingEndToEndSpec extends SparkSpec {

  private type Doc = E2eDoc
  private val Doc = E2eDoc

  private object QuietNotifier extends Notifier {
    def notify(layer: String, result: GateResult): Unit = ()
  }

  private val t0 = Timestamp.valueOf("2024-03-01 12:00:00")
  private val quick = "the quick brown fox jumps over the lazy dog and " +
    "then runs far away into the green quiet forest before dark"

  // batch 1 ends at doc 3; doc 4 is an EXACT dup of 1 arriving later
  // (digest-dropped at ingest, still pair-logged), 7 a cross-batch
  // near dup — the cases only a streamed composition can get wrong
  private val batch1 = Seq(
    Doc(1L, quick, "en", "web", t0),
    Doc(2L, quick.replace("dog", "cat"), "en", "web", t0),
    Doc(3L, "completely different prose about distributed query engines " +
      "and the many shuffles they try so hard to avoid at scale",
      "en", "books", t0))
  private val batch2 = Seq(
    Doc(4L, quick, "en", "books", t0),
    Doc(5L, "short low quality zz", "en", "crawl", t0),
    Doc(6L, "ganz anderer deutscher text über verteilte systeme und " +
      "die vielen partitionen die sie brauchen", "de", "web", t0),
    Doc(7L, quick.replace("dark", "dawn"), "en", "web", t0))

  private def runE2E(store: graft.store.TableStore): Unit = {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext

    val lshIdx = s"e2e_lsh_idx_${System.nanoTime()}"
    val lshPairs = s"e2e_lsh_pairs_${System.nanoTime()}"

    // ---- the three streaming jobs, fed the same two micro-batches ----
    val docInput = MemoryStream[Doc]
    val ingest = new DocumentIngest(store, "docs.ingested",
      tmpDir("e2edocck"), Trigger.ProcessingTime(0), "10 minutes")
    val qIngest = ingest.start(docInput.toDF())

    val lshInput = MemoryStream[Doc]
    val lsh = new StreamingLshJob(lshIdx, lshPairs, tmpDir("e2elshck"),
      Trigger.ProcessingTime(0))
    val qLsh = lsh.start(lshInput.toDF().select("doc_id", "text"))

    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val boot = emb.filter(col("vec_id") % 3 === 0)
    val cents = Similarity.trainCentroids(boot, "vec_id", "embedding", 16)
    val books = Similarity.trainPqCodebooks(boot, "vec_id", "embedding",
      m = 4, k = 16)
    val annIdx = s"e2e_ann_idx_${System.nanoTime()}"
    AnnIndex.build(spark, annIdx, boot, "vec_id", "embedding",
      nlist = 16, m = 4, kCodes = 16, residual = false,
      centroids = Some(cents), codebooks = Some(books))
    val rest = emb.filter(col("vec_id") % 3 =!= 0)
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])].collect().toSeq
    val (vb1, vb2) = rest.splitAt(rest.size / 2)
    val vecInput = MemoryStream[(Long, Array[Float])]
    val annJob = new EmbeddingIngest(annIdx, tmpDir("e2eannck"),
      trigger = Trigger.ProcessingTime(0))
    val qAnn = annJob.start(vecInput.toDF().toDF("vec_id", "embedding"))

    docInput.addData(batch1: _*); lshInput.addData(batch1: _*)
    vecInput.addData(vb1: _*)
    qIngest.processAllAvailable(); qLsh.processAllAvailable()
    qAnn.processAllAvailable()
    docInput.addData(batch2: _*); lshInput.addData(batch2: _*)
    vecInput.addData(vb2: _*)
    qIngest.processAllAvailable(); qLsh.processAllAvailable()
    qAnn.processAllAvailable()
    qIngest.stop(); qLsh.stop(); qAnn.stop()

    // doc 4's text digest equals doc 1's → dropped at ingest
    assert(store.scan("docs.ingested").count() === 6)

    // ---- the orchestrated batch cycle over the streamed state ----
    val orch = new LlmOrchestrator(spark, store, QuietNotifier,
      pairsTable = lshPairs)
    val result = orch.runCycle("e2e-llm-1", "2024-03-01")
    assert(result.succeeded, result.gateResults.flatMap(_.results)
      .filter(_.failed).mkString("; "))
    assert(result.completed === Seq("keepers", "summary"))
    assert(result.gateResults.map(_.layer) === Seq("docs", "corpus"))

    // ---- batch twin: one-shot recompute over the SAME raw corpus ----
    val raw = (batch1 ++ batch2).toDF()
    val enriched = DocumentIngest.enrich(raw)
    // ingest keeps the first arrival per digest; with ids assigned in
    // arrival order that's the min doc_id
    val dedupW = org.apache.spark.sql.expressions.Window
      .partitionBy(col("text_digest")).orderBy(col("doc_id"))
    val dedup = enriched.withColumn("rn", row_number().over(dedupW))
      .filter(col("rn") === 1).drop("rn")
    // one-shot pair set over ALL raw docs (the stream pair-logs exact
    // dups too), same banding params as StreamingLshJob defaults
    val sigs = raw.select(col("doc_id"),
        graft.functions.ShingleExpression.bigramShingleHashes(col("text"))
          .as("th"))
      .filter(size(col("th")) > 0)
      .select(col("doc_id"),
        DedupFunctions.minhashSignature(col("th"), 8).as("sig"))
    val oneShotPairs = DedupFunctions.lshCandidates(sigs, "doc_id", 4, 2)
      .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"))

    val streamedPairs = spark.table(lshPairs)
      .select(col("id_a"), col("id_b"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamedPairs === oneShotPairs.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet)

    // keepers: orchestrated table ≡ batch election
    val batchKeepers = LlmOrchestrator.electKeepers(dedup, oneShotPairs)
    def keeperSet(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "cluster_id", "keep").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    assert(keeperSet(store.scan("docs.keepers")) === keeperSet(batchKeepers))
    // {1,2,7} one near-dup cluster (one keeper), 3/5/6 singletons
    assert(store.scan("docs.keepers").filter(col("keep")).count() === 4)

    // ---- incremental-clustering orchestrator twin: folding the SAME
    // streamed pair log batch-by-batch through the persisted
    // IncrementalCc assignment elects the same keepers ----
    val incStore = new graft.store.LogTableStore(spark, tmpDir("e2einc"))
    incStore.ensure("docs.ingested", DocumentIngest.IngestedSchema,
      Seq("digest_bucket"))
    incStore.append("docs.ingested", store.scan("docs.ingested"))
    val incOrch = new LlmOrchestrator(spark, incStore, QuietNotifier,
      pairsTable = lshPairs, incrementalCc = true)
    assert(incOrch.runCycle("e2e-llm-inc", "2024-03-01").succeeded)
    assert(keeperSet(incStore.scan("docs.keepers")) === keeperSet(batchKeepers),
      "incremental clustering diverged from the batch cycle on streamed pairs")

    // gold summary: orchestrated table ≡ batch recompute
    val batchSummary = LlmOrchestrator.corpusSummary(dedup, batchKeepers)
    def summarySet(df: org.apache.spark.sql.DataFrame) =
      df.select("lang", "source", "n_docs", "n_keepers", "dup_ratio",
          "total_tokens").collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2),
          r.getLong(3), math.round(r.getDouble(4) * 1e9), r.getLong(5)))
        .toSet
    assert(summarySet(store.scan("gold.corpus_summary")) ===
      summarySet(batchSummary))

    // ---- serve: streamed ANN index ≡ one-shot build (frozen quantizer)
    val annFull = s"e2e_ann_full_${System.nanoTime()}"
    AnnIndex.build(spark, annFull, emb, "vec_id", "embedding",
      nlist = 16, m = 4, kCodes = 16, residual = false,
      centroids = Some(cents), codebooks = Some(books))
    val queries = emb.filter(col("vec_id") < 20)
    def served(t: String) = AnnIndex.search(spark, t, queries,
        "vec_id", "embedding", k = 3, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getDouble(2), r.getInt(3))).toSet
    assert(served(annIdx) === served(annFull))

    // ---- idempotence: a rerun cycle republishes identical tables ----
    val rerun = orch.runCycle("e2e-llm-1b", "2024-03-01")
    assert(rerun.succeeded)
    assert(keeperSet(store.scan("docs.keepers")) === keeperSet(batchKeepers))
    assert(store.scan("gold.corpus_summary").count() === 4)

    // ---- a poisoned corpus blocks the cycle at the docs gate ----
    val bad = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(99L, null, "en", "crawl", t0,
        "ffffffffffffffffffffffffffffffff", 0L, 0, 0.5, "en", "ff")), 1),
      DocumentIngest.IngestedSchema)
    store.append("docs.ingested", bad)
    val blocked = orch.runCycle("e2e-llm-2", "2024-03-01")
    assert(!blocked.succeeded)
    assert(blocked.failedGate === Some("docs"))
    assert(blocked.completed.isEmpty, "gated cycle must publish nothing")

    spark.sql(s"DROP TABLE IF EXISTS $lshIdx")
    spark.sql(s"DROP TABLE IF EXISTS $lshPairs")
    Seq(annIdx, annFull).foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      spark.sql(s"DROP TABLE IF EXISTS ${t}_params")
    }
    sweepPersistentRdds()
  }

  test("streamed ingest+index+append → orchestrated cycle ≡ batch recompute") {
    runE2E(new LogTableStore(spark, tmpDir("llme2e")))
  }

  test("the full streamed pipeline runs unchanged on the transactional log store") {
    // a checkpoint every second commit: every table the pipeline
    // touches resolves through checkpoint + delta entries
    runE2E(new LogTableStore(spark, tmpDir("llme2elog"),
      checkpointInterval = 2))
  }
}
