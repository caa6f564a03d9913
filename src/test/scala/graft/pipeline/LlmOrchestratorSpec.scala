package graft.pipeline

import java.sql.Timestamp
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.dq.{GateResult, Notifier}
import graft.store.LogTableStore
import graft.streaming.DocumentIngest

/** Edge paths of the llmdata batch cycle that the streamed end-to-end
  * spec (which always has a populated pair log) cannot reach: the very
  * first cycle of a deployment, before any near-dup pair has ever been
  * logged — and a cycle over an empty corpus. Both are day-one
  * production states, not corner cases. */
class LlmOrchestratorSpec extends SparkSpec {

  private object QuietNotifier extends Notifier {
    def notify(layer: String, result: GateResult): Unit = ()
  }

  private val t0 = Timestamp.valueOf("2024-03-01 12:00:00")

  private def ingestedDocs(rows: Seq[(Long, String, String, String)]) = {
    val sp = spark
    import sp.implicits._
    DocumentIngest.enrich(
      rows.map { case (id, text, lang, src) => (id, text, lang, src, t0) }
        .toDF("doc_id", "text", "lang", "source", "ingest_ts"))
  }

  test("first cycle with no pairs table: every doc is its own keeper") {
    val store = new LogTableStore(spark, tmpDir("llmorch1"))
    store.ensure("docs.ingested", DocumentIngest.IngestedSchema,
      Seq("digest_bucket"))
    store.append("docs.ingested", ingestedDocs(Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river " +
        "bank where tall grass grows in the morning light", "en", "web"),
      (2L, "completely different prose about distributed query engines " +
        "and the shuffles they avoid", "en", "books"))))

    val orch = new LlmOrchestrator(spark, store, QuietNotifier,
      pairsTable = s"no_such_pairs_${System.nanoTime()}")
    val result = orch.runCycle("first-cycle", "2024-03-01")
    assert(result.succeeded, result.gateResults.flatMap(_.results)
      .filter(_.failed).mkString("; "))

    val keepers = store.scan("docs.keepers").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("cluster_id"),
        r.getAs[Boolean]("keep"))).toSet
    assert(keepers === Set((1L, 1L, true), (2L, 2L, true)))
    val summary = store.scan("gold.corpus_summary")
    assert(summary.count() === 2)
    assert(summary.filter(col("dup_ratio") =!= 0.0).count() === 0)
    assert(summary.filter(col("n_keepers") =!= 1).count() === 0)
  }

  test("first cycle runs identically on the transactional LogTableStore backend") {
    val store = new graft.store.LogTableStore(spark, tmpDir("llmorchlog"))
    store.ensure("docs.ingested", DocumentIngest.IngestedSchema,
      Seq("digest_bucket"))
    store.append("docs.ingested", ingestedDocs(Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river " +
        "bank where tall grass grows in the morning light", "en", "web"),
      (2L, "completely different prose about distributed query engines " +
        "and the shuffles they avoid", "en", "books"))))
    val orch = new LlmOrchestrator(spark, store, QuietNotifier,
      pairsTable = s"no_such_pairs_${System.nanoTime()}")
    val result = orch.runCycle("first-cycle", "2024-03-01")
    assert(result.succeeded, result.gateResults.flatMap(_.results)
      .filter(_.failed).mkString("; "))
    val keepers = store.scan("docs.keepers").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Boolean]("keep"))).toSet
    assert(keepers === Set((1L, true), (2L, true)))
    assert(store.scan("gold.corpus_summary").count() === 2)
  }

  test("incremental clustering mode matches batch mode across cycles and folds only new batches") {
    val sp = spark
    import sp.implicits._
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river " +
        "bank in the cool morning light of early spring", "en", "web"),
      (2L, "a second document with its own words about rivers and dogs " +
        "and the quick pace of early mornings", "en", "web"),
      // all four clusterable docs share one (lang, source) slice: a
      // cross-slice merge would legitimately trip the corpus gate's
      // "every slice keeps >= 1 doc" constraint
      (3L, "distributed query engines avoid shuffles by pruning and " +
        "broadcasting the small side of a join", "en", "web"),
      (4L, "another treatise on query engines and the exchanges they " +
        "schedule when keys must be colocated", "en", "web"),
      (5L, "an entirely unrelated note about tokenizers and byte pair " +
        "encodings trained on sampled corpora", "en", "crawl"))
    val pairsTable = s"orch_pairs_${System.nanoTime()}"
    def writeBatch(bid: Long, ps: Seq[(Long, Long)]): Unit = {
      val df = ps.toDF("id_a", "id_b").withColumn("batch_id", lit(bid))
      if (!spark.catalog.tableExists(pairsTable))
        df.write.partitionBy("batch_id").format("parquet")
          .saveAsTable(pairsTable)
      else df.write.mode("append").format("parquet").insertInto(pairsTable)
    }
    val storeB = new LogTableStore(spark, tmpDir("orchccB"))
    val storeI = new LogTableStore(spark, tmpDir("orchccI"))
    for (s <- Seq(storeB, storeI)) {
      s.ensure("docs.ingested", DocumentIngest.IngestedSchema,
        Seq("digest_bucket"))
      s.append("docs.ingested", ingestedDocs(docs))
    }
    val batchOrch = new LlmOrchestrator(spark, storeB, QuietNotifier,
      pairsTable = pairsTable)
    val incOrch = new LlmOrchestrator(spark, storeI, QuietNotifier,
      pairsTable = pairsTable, incrementalCc = true)
    def keepersOf(s: graft.store.TableStore) =
      s.scan("docs.keepers").collect()
        .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("cluster_id"),
          r.getAs[Boolean]("keep"))).toSet
    def hwm: Long = storeI.scan("docs.cc_assign_hwm")
      .collect().map(_.getAs[Long]("folded_through")).headOption.getOrElse(-1L)

    // cycle 1: two separate near-dup pairs, two pair-log batches
    writeBatch(0L, Seq((1L, 2L)))
    writeBatch(1L, Seq((3L, 4L)))
    assert(batchOrch.runCycle("c1", "2024-03-01").succeeded)
    assert(incOrch.runCycle("c1", "2024-03-01").succeeded)
    assert(keepersOf(storeI) === keepersOf(storeB))
    assert(hwm === 1L)

    // cycle 2: a bridging pair merges the clusters — the incremental
    // mode must fold ONLY batch 2 and still relabel members 3 and 4
    writeBatch(2L, Seq((2L, 3L)))
    assert(batchOrch.runCycle("c2", "2024-03-01").succeeded)
    assert(incOrch.runCycle("c2", "2024-03-01").succeeded)
    val k2 = keepersOf(storeI)
    assert(k2 === keepersOf(storeB))
    assert(k2.filter(_._1 <= 4L).map(_._2) === Set(1L),
      s"bridged docs not in one cluster: $k2")
    assert(hwm === 2L)

    // cycle 3 with no new pair batches: a pure no-op fold — outputs
    // stable, mark unchanged
    assert(incOrch.runCycle("c3", "2024-03-01").succeeded)
    assert(keepersOf(storeI) === k2)
    assert(hwm === 2L)
  }

  test("incremental mode compacts the CC state on its own cadence (bounded live files)") {
    // each fold's COW upsert stages a small file set; over many cycles
    // an unmaintained assignment table degrades scan cost by FILE
    // COUNT, not bytes. The orchestrator now runs the clustered
    // compaction itself whenever the live count crosses the bound —
    // no manual operator chore.
    val sp = spark
    import sp.implicits._
    val docs = (1L to 16L).map(i =>
      (i, s"document number $i carries its own distinct prose about " +
        s"topic-$i and resists being clustered with any sibling", "en", "web"))
    val store = new graft.store.LogTableStore(spark, tmpDir("orchcmp"))
    store.ensure("docs.ingested", DocumentIngest.IngestedSchema,
      Seq("digest_bucket"))
    store.append("docs.ingested", ingestedDocs(docs))
    val pairsTable = s"orch_cmp_pairs_${System.nanoTime()}"
    def writeBatch(bid: Long, ps: Seq[(Long, Long)]): Unit = {
      val df = ps.toDF("id_a", "id_b").withColumn("batch_id", lit(bid))
      if (!spark.catalog.tableExists(pairsTable))
        df.write.partitionBy("batch_id").format("parquet")
          .saveAsTable(pairsTable)
      else df.write.mode("append").format("parquet").insertInto(pairsTable)
    }
    val orch = new LlmOrchestrator(spark, store, QuietNotifier,
      pairsTable = pairsTable, incrementalCc = true,
      compactStateAbove = 3)
    var counts = Vector.empty[Int]
    for (i <- 0 until 8) {
      writeBatch(i.toLong, Seq((2L * i + 1, 2L * i + 2)))
      assert(orch.runCycle(s"cmp$i", "2024-03-01").succeeded)
      counts :+= store.scan("docs.cc_assign").inputFiles.length
    }
    info(s"live assignment files per cycle: ${counts.mkString(", ")}")
    // bounded: never beyond threshold + one fold's staging; and the
    // compaction actually FIRED (the count came back down at least once)
    assert(counts.forall(_ <= 3 + 4),
      s"file count unbounded across folds: $counts")
    assert(counts.zip(counts.tail).exists { case (a, b) => b < a },
      s"compaction never fired: $counts")
    // maintenance is layout-only: the assignment still equals the
    // one-shot closure over every pair fed
    val assign = store.scan("docs.cc_assign").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(assign === (1L to 16L).map(i => i -> (i - (i + 1) % 2)).toMap)
  }

  test("empty corpus: the cycle completes with empty outputs, no crash") {
    val store = new LogTableStore(spark, tmpDir("llmorch2"))
    store.ensure("docs.ingested", DocumentIngest.IngestedSchema,
      Seq("digest_bucket"))

    val orch = new LlmOrchestrator(spark, store, QuietNotifier,
      pairsTable = s"no_such_pairs_${System.nanoTime()}")
    val result = orch.runCycle("empty-cycle", "2024-03-01")
    assert(result.succeeded)
    assert(result.completed === Seq("keepers", "summary"))
    assert(store.scan("docs.keepers").count() === 0)
    assert(store.scan("gold.corpus_summary").count() === 0)
  }
}
