package graft.queries

import graft.{GraftSession, SparkSpec, SparkEntry}
import org.apache.spark.sql.functions._

/** Scale-ratio harness: runs the superlinear-risk query family (the
  * pair-generating dedup/packing shapes whose cost could silently go
  * quadratic) at sf0.01 and sf0.1 and pins the growth of SHUFFLE WRITE
  * BYTES — the scale-faithful signal: wasted quadratic work shows up
  * as shuffle volume long before wall-clock does, and unlike time it
  * is immune to co-tenant stalls on a shared box.
  *
  * What "near-linear" means per query is DECLARED, because it differs:
  *
  *  - "linear" — shuffle must track input rows (≤18× for 10× data;
  *    headroom for constant overheads that don't grow).
  *  - "own-output" / "dd03-pairs" — shuffle must track the COLLISION
  *    SET the query (or its pair-generating stage) emits. An LSH
  *    candidate set is inherently Σ_pairs P(collide|J) — a per-PAIR
  *    false-positive probability, so FP count is quadratic in n with a
  *    small constant on any corpus. On real web-scale corpora baseline
  *    inter-doc Jaccard is ~0.01-0.05 and the constant is ~1e-9
  *    (negligible at any n); this driver-generated corpus draws from a
  *    small template vocabulary, so baseline J is ~0.2 and the FP tail
  *    dominates: measured here, true near-dups grow linearly (24→247
  *    J≥0.9 pairs for 10× docs) while band collisions grow ~107×
  *    (2326→248k pairs — sharpening to r=4 still leaves 71× growth
  *    from the J<0.3 tail, while losing J∈[0.5,0.7) recall that the
  *    downstream est_jaccard≥0.5 consumers need, so the banding stays
  *    at its threshold-matched b=4/r=2). No algorithm shuffles less
  *    than its collision set; the honest invariant — and what this
  *    spec pins — is shuffle ∝ input + collisions, i.e. bytes may grow
  *    WITH the measured collision count but never faster.
  *  - "corpus-linear" (the ANN family, r8) — the embeddings corpus
  *    grows 4× between these fixtures while the query set is FIXED
  *    (vec_id < 20), so candidate sets, encode shuffles, and the
  *    brute-force scoring window must all track |corpus|, never
  *    |queries|·|corpus|² shapes. Allowance: 2× the measured corpus
  *    row ratio (floor 8× for fixed overheads — params sidecars,
  *    probe collects — that don't grow at all).
  *  - "constant" (the r8 moments aggregate, d16; e05's shuffle-free
  *    projection) — partial buffers are O(1) per TASK by design
  *    (bounded staging map flushed before serialize), so shuffle
  *    bytes track the map-task count (which rides input FILE count —
  *    the decade-2 run measured exactly that: 494→1,755 bytes when a
  *    10× corpus arrived as 10× files), never input rows. The bound
  *    is therefore 3× OR a 64 KiB absolute ceiling, whichever is
  *    larger: a per-task-constant aggregate cannot reach 64 KiB at
  *    any tested scale, while a linear regression lands in megabytes
  *    and blows through both arms.
  */
class ScaleSpec extends SparkSpec {

  private val family = Seq(
    "dd02_ngram_jaccard" -> "own-output", // output = its candidate set
    "dd03_minhash_lsh" -> "own-output",   // output = its candidate set
    "dd10_simhash_pairs" -> "own-output",
    "t21_span_dedup" -> "linear",
    "dd08_dup_clusters" -> "dd03-pairs",  // CC over dd03's collision set
    // dd15 folds the same collision set in two batches through the
    // persisted-assignment store: contraction + root-graph CC +
    // changed-row merges all ride the pair set
    "dd15_incremental_cc" -> "dd03-pairs",
    "t11_cluster_keep" -> "dd03-pairs",   // dd08's CC + one rank window
    "t23_corpus_summary" -> "dd03-pairs", // t11 rolled up per (lang, source)
    "t09_sequence_packing" -> "linear",
    // the salted Zipfian joins and the chunk-explode dedup: their
    // token/bigram/chunk frames are O(total tokens) — growth must stay
    // linear in the corpus or the salting/chunking has regressed
    "t08_unigram_lm" -> "linear",
    "t20_bigram_lm" -> "linear",
    "t10_tfidf_topk" -> "linear",
    "t12_line_dedup" -> "linear",
    // the profile family (r8): a08's exact map state is O(distinct) —
    // its serialized partials (what the exchange actually carries)
    // track the near-unique l_extendedprice, i.e. input rows; d16's
    // moments buffers are O(1) per task and must NOT grow
    "a08_profile_stats" -> "linear",
    "d16_column_drift" -> "constant",
    // the transactional store gate (r8): append carries no shuffle at
    // all for an unpartitioned table, the COW upsert's anti-join and
    // delete's probe/rewrite shuffle O(orders) — all linear
    "s14_tx_store" -> "linear",
    // CDC gate + its consumer: join/merge-shaped plans whose
    // small-scale shuffle is broadcast-hidden — bounded by absolute
    // bytes-per-emitted-row, not a growth ratio (see checkGrowth)
    "s15_tx_changes" -> "row-payload",
    "s16_cdc_replica" -> "row-payload",
    // the tokenizer + repetition battery (r8): BPE's only exchange is
    // the word-frequency count (rides corpus tokens, capped by the
    // distinct word-form dictionary — encode itself is shuffle-free);
    // t25 is a pure fused projection and must never grow an exchange
    "t24_bpe_roundtrip" -> "linear",
    "t25_gopher_repetition" -> "constant",
    "t26_hash_classifier" -> "constant",   // pure projection, no shuffle
    // the ANN family (r8): every candidate structure rides the corpus
    "e01_cosine_topk" -> "corpus-linear",
    "e02_ann_lsh" -> "corpus-linear",
    "e03_ann_ivf" -> "corpus-linear",
    "e04_ann_ivf_trained" -> "corpus-linear",
    "e05_quantize_int8" -> "constant",    // pure projection, no shuffle
    "e06_ann_pq" -> "corpus-linear",
    "e07_ann_ivfpq" -> "corpus-linear",
    "e08_ann_rerank" -> "corpus-linear",
    "e09_ann_recall" -> "corpus-linear",
    "e10_ann_pq_trained" -> "corpus-linear",
    // the full incremental lifecycle per invocation (build + append +
    // compact + serve, cold every run like e04): every shuffle moves
    // CODES (repartition-by-cell on m ints + two scalars per vector),
    // never raw vectors — rides the corpus
    "e11_ann_incremental" -> "corpus-linear")

  /** Queries that serve from the memoized persisted AnnIndex
    * (LlmQueries.annIvfPqIndex): their FIRST invocation per dir pays
    * the one-time index build, which is not the serve-path shuffle
    * their growth model declares. Decade interleaving makes that
    * asymmetric — sf0.1 arrives warm from the decade-1 tests while a
    * freshly synthesized sf1 dir is cold, which read as a phantom
    * "41× growth" for e07 in the r8 run. Warm the memo unmeasured so
    * both sides measure steady-state retrieval; AnnIndexSpec
    * separately proves steady state never rebuilds, and e04 (which
    * trains inline every run, cold on both sides) keeps the build
    * path itself under the growth guard. */
  private val servesFromPersistedIndex =
    Set("e07_ann_ivfpq", "e08_ann_rerank", "e09_ann_recall",
      "e10_ann_pq_trained")

  private def run(name: String, dir: String): (Long, Long) = {
    if (servesFromPersistedIndex(name)) {
      SparkEntry.queries(name)(spark, dir)
        .write.mode("overwrite").format("noop").save()
      GraftSession.release(spark)
    }
    // the frame is CONSTRUCTED inside the listener window too: some
    // query fns (dd08's connected components) execute their iterative
    // shuffles eagerly at construction time, and those rounds are
    // exactly the superlinear-risk work this guard exists to see.
    // noop sink, not count(): count() lets Catalyst prune payload
    // columns out of the exchanges, under-reporting exactly the bytes
    // this spec exists to bound (the r7 Bench lesson).
    var df: org.apache.spark.sql.DataFrame = null
    val bytes = shuffleWriteBytesOf {
      df = SparkEntry.queries(name)(spark, dir)
      df.write.mode("overwrite").format("noop").save()
    }
    val rows = df.count() // outside the listener window
    GraftSession.release(spark) // free the pair generators' checkpoint blocks
    (bytes, rows)
  }

  private val small = "/root/testdata/sf0.01"
  private val big = "/root/testdata/sf0.1"

  // dd03's collision-set growth, the normalizer for queries whose
  // shuffle rides the shared pair-generating stage
  private def dd03RowsRatioOf(lo: String, hi: String): Double = {
    def rows(d: String) = SparkEntry.queries("dd03_minhash_lsh")(spark, d).count()
    val r = rows(hi).toDouble / rows(lo).max(1L)
    GraftSession.release(spark)
    r
  }
  private lazy val dd03RowsRatio: Double = dd03RowsRatioOf(small, big)

  // the embeddings corpus ratio, the normalizer for the ANN family
  // (fixtures grow the corpus 4×, not 10× — measured, not assumed)
  private def corpusRatioOf(lo: String, hi: String): Double =
    graft.Tables.embeddings(spark, hi).count().toDouble /
      graft.Tables.embeddings(spark, lo).count().max(1L)
  private lazy val corpusRatio: Double = corpusRatioOf(small, big)

  private def allowedFor(model: String, nSmall: Long, nBig: Long,
                         dd03Ratio: => Double, corpus: => Double): Double =
    model match {
      case "linear" => 18.0
      case "constant" => 3.0
      case "own-output" =>
        math.max(18.0, 1.5 * (nBig.toDouble / nSmall.max(1L)))
      case "dd03-pairs" => math.max(18.0, 1.5 * dd03Ratio)
      case "corpus-linear" => math.max(8.0, 2.0 * corpus)
    }

  private def checkGrowth(name: String, model: String,
                          lo: String, hi: String,
                          dd03Ratio: => Double, corpus: => Double): Unit = {
    val (bSmall, nSmall) = run(name, lo)
    val (bBig, nBig) = run(name, hi)
    if (model == "row-payload") {
      // absolute BYTES PER EMITTED ROW at both scales — for
      // join/merge-shaped plans whose small-scale shuffle is
      // broadcast-hidden: the regime flip to sort-merge at scale
      // makes any ratio model read as a phantom cliff (the r9
      // decade-2 run measured 198× for s15 while the true cost was
      // ~283 B/row, perfectly linear). The cap is what bounds 100 TB
      // behavior: rows × a fixed payload, whatever the join strategy.
      val cap = 700L
      info(f"$name: bytes $bSmall%,d→$bBig%,d, rows $nSmall%,d→$nBig%,d, " +
        f"B/row ${bSmall.toDouble / nSmall.max(1)}%.0f→" +
        f"${bBig.toDouble / nBig.max(1)}%.0f (cap $cap)")
      assert(bSmall <= cap * nSmall.max(1L),
        s"$name small-scale shuffle ${bSmall}B exceeds $cap B/row")
      assert(bBig <= cap * nBig.max(1L),
        s"$name large-scale shuffle ${bBig}B exceeds $cap B/row — " +
          "the merge/diff is shuffling more than its emitted rows")
      return
    }
    val bytesRatio = bBig.toDouble / bSmall.max(1L)
    val allowed = allowedFor(model, nSmall, nBig, dd03Ratio, corpus)
    info(f"$name: bytes $bSmall%,d→$bBig%,d (${bytesRatio}%.1f×), " +
      f"rows $nSmall%,d→$nBig%,d, allowed ${allowed}%.1f×")
    // "constant" = per-TASK-constant partials: totals ride the map-task
    // count (input file count), so near-zero totals get an absolute
    // ceiling no O(1)-state aggregate can reach and any linear shape
    // exceeds by orders of magnitude
    val withinAbsoluteFloor = model == "constant" && bBig <= 64 * 1024
    assert(bytesRatio <= allowed || withinAbsoluteFloor,
      f"$name shuffle bytes grew $bytesRatio%.1f× " +
        f"(allowed ${allowed}%.1f× under '$model') — shuffle is growing " +
        "faster than the work the query emits; check the banding/bucketing")
  }

  for ((name, model) <- family)
    test(s"$name shuffle volume tracks its declared growth model ($model)") {
      checkGrowth(name, model, small, big, dd03RowsRatio, corpusRatio)
    }

  // ---------------------------------------------------------------
  // Second scale decade (sf0.1 → sf1-equivalent): one decade can hide
  // a crossover, so the same declared models are re-measured against a
  // locally synthesized 10× corpus — documents/embeddings/lineitem
  // replicated with shifted ids (no oracle needed: this harness pins
  // RATIOS, not values). Gated behind SPARK_GRAFT_SCALE2=1 because the
  // pair-generating family's collision set at sf1 is ~100× sf0.1's
  // (every replica is a near-exact duplicate of its source row — the
  // honest consequence of replication, not a regression) which makes
  // the own-output queries minutes-long; the r8 run's measurements are
  // recorded in PROGRESS and the decade-2 models all held.
  // ---------------------------------------------------------------

  private lazy val sf1Dir: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-sf1").toString
    val shift = 10_000_000L
    def replicate(table: String, idCol: Option[String]): Unit = {
      val base = spark.read.parquet(s"$big/$table.parquet")
      val copies = (0 until 10).map { i =>
        idCol match {
          case Some(c) => base.withColumn(c,
            org.apache.spark.sql.functions.col(c) + (i * shift))
          case None => base
        }
      }
      copies.reduce(_ union _).write.mode("overwrite")
        .parquet(s"$dir/$table.parquet")
    }
    replicate("documents", Some("doc_id"))
    replicate("embeddings", Some("vec_id"))
    replicate("lineitem", None) // a08/d16 never join or key on ids
    // the transactional-store gates key on o_orderkey — shift it so
    // the 10× lifecycle stays key-unique (MERGE's contract)
    replicate("orders", Some("o_orderkey"))
    dir
  }

  // decade-2 membership: the linear/constant/corpus-linear families in
  // full, plus dd03 as the canonical own-output pair generator. dd02/
  // dd08/dd10 are excluded: they share dd03's collision-set normalizer
  // (pinned at decade 1) and their sf1 pair sets are ~100× by corpus
  // construction — re-measuring them buys no new information for
  // multi-minute runtimes.
  private val decade2Family = Seq(
    "t21_span_dedup" -> "linear",
    "t09_sequence_packing" -> "linear",
    "t08_unigram_lm" -> "linear",
    "t20_bigram_lm" -> "linear",
    "t10_tfidf_topk" -> "linear",
    "t12_line_dedup" -> "linear",
    "dd03_minhash_lsh" -> "own-output",
    "a08_profile_stats" -> "linear",
    "d16_column_drift" -> "constant",
    // the transactional-store family at the second decade: COW
    // probes/rewrites, the changed-file diff, and the CDC replica
    // merges must all keep riding the changed-row volume
    "s14_tx_store" -> "linear",
    "s15_tx_changes" -> "row-payload",
    "s16_cdc_replica" -> "row-payload",
    "e01_cosine_topk" -> "corpus-linear",
    "e03_ann_ivf" -> "corpus-linear",
    "e07_ann_ivfpq" -> "corpus-linear",
    "e08_ann_rerank" -> "corpus-linear")

  for ((name, model) <- decade2Family)
    test(s"decade 2 (sf0.1→sf1): $name growth model ($model) still holds") {
      assume(sys.env.contains("SPARK_GRAFT_SCALE2"),
        "slow decade-2 run — set SPARK_GRAFT_SCALE2=1 to enable")
      checkGrowth(name, model, big, sf1Dir,
        dd03RowsRatioOf(big, sf1Dir), corpusRatioOf(big, sf1Dir))
    }

  // dd15's decade-2 model is STATE-decade, not corpus-decade: the
  // gate query folds dd03's collision set, whose sf1 growth is the
  // corpus-replication artifact documented above (~100× pairs), so
  // re-folding it measures the pair generator, not the operator. The
  // scale axis that matters for incremental CC at 100 TB is the
  // PERSISTED STATE: per-batch fold cost must ride the batch while
  // the assignment table grows without bound. Measured here across a
  // 1M→10M-row state decade with automatic broadcasting DISABLED
  // (both thresholds -1) — the sort-merge regime where the r9 form of
  // the lookup would have shuffled the whole state every fold.
  test("decade 2: dd15 fold cost rides the batch across a state decade (SMJ regime)") {
    assume(sys.env.contains("SPARK_GRAFT_SCALE2"),
      "slow decade-2 run — set SPARK_GRAFT_SCALE2=1 to enable")
    import org.apache.spark.sql.functions._
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevAqe =
      spark.conf.getOption("spark.sql.adaptive.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try {
      // production-compaction-shaped states: CONSTANT file size across
      // the decade (id-range-clustered, ~16k rows/file) — the cadence
      // the operator's docs prescribe and LlmOrchestrator automates,
      // so fold cost is bounded by file granularity, never state size
      def foldBytes(stateRows: Long): (ExecBytes, ExecBytes) = {
        val store = new graft.store.LogTableStore(spark,
          java.nio.file.Files.createTempDirectory(s"iccdec$stateRows").toString)
        graft.operators.IncrementalCc.ensure(store, "t.cc")
        val files = (stateRows / 16000L).toInt.max(1)
        store.append("t.cc", spark.range(stateRows)
          .select(col("id"), col("id").as("root"))
          .repartitionByRange(files, col("id")))
        val fresh = execBytesOf {
          graft.operators.IncrementalCc.update(store, "t.cc",
            spark.range(stateRows + 1, stateRows + 21)
              .select(col("id").as("u"), (col("id") + 1000).as("v")),
            "u", "v")
        }
        val merge = execBytesOf {
          graft.operators.IncrementalCc.update(store, "t.cc",
            spark.range(1).select(lit(stateRows - 1).as("u"),
              lit(stateRows + 5000).as("v")),
            "u", "v")
        }
        store match { case l: graft.store.LogTableStore => l.close() }
        (fresh, merge)
      }
      val (freshS, mergeS) = foldBytes(1000000L)
      val (freshB, mergeB) = foldBytes(10000000L)
      info(f"fresh-id fold: ${freshS.shuffleWrite}%,d B shuffle / " +
        f"${freshS.input}%,d B read @1M state → ${freshB.shuffleWrite}%,d / " +
        f"${freshB.input}%,d B @10M state")
      info(f"merge fold:    ${mergeS.shuffleWrite}%,d B shuffle / " +
        f"${mergeS.input}%,d B read @1M state → ${mergeB.shuffleWrite}%,d / " +
        f"${mergeB.input}%,d B @10M state")
      // state-constant: a 10× state may not buy the fold more than
      // file-granularity noise (3×, with an absolute floor well under
      // one state file) — a state-shuffling lookup lands in megabytes
      // at 10M rows and blows both arms. READ bytes are pinned with
      // the same model: a scanRange that stops pruning (or a full
      // member rescan, the r10 IncrementalCorpus defect this harness
      // could not see) rides the state and trips the read arm even
      // though nothing shuffles.
      assert(freshB.shuffleWrite <= math.max(3L * freshS.shuffleWrite, 256L * 1024),
        s"fresh fold grew ${freshS.shuffleWrite}→${freshB.shuffleWrite} " +
          "shuffle B across the state decade")
      assert(mergeB.shuffleWrite <= math.max(3L * mergeS.shuffleWrite, 256L * 1024),
        s"merge fold grew ${mergeS.shuffleWrite}→${mergeB.shuffleWrite} " +
          "shuffle B across the state decade")
      assert(freshB.input <= math.max(3L * freshS.input, 512L * 1024),
        s"fresh fold read ${freshS.input}→${freshB.input} B across the " +
          "state decade — the state is being rescanned per batch")
      assert(mergeB.input <= math.max(3L * mergeS.input, 512L * 1024),
        s"merge fold read ${mergeS.input}→${mergeB.input} B across the " +
          "state decade — the state is being rescanned per batch")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      prevAqe match {
        case Some(v) =>
          spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", v)
        case None =>
          spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
      }
    }
  }

  // dd12's decade-2 model is INDEX-decade: the probe's scale axis is
  // the persisted bucketed (band,key) index, which grows without
  // bound while the trickle batch stays fixed. The fixed-scale pin
  // (IncrementalLshSpec) asserts SelectedBucketsCount on the
  // production join — the file-level guarantee — because toy-scale
  // BYTE counts are FS-buffer/dictionary-confounded. At a 1M→10M-row
  // index the real pages dominate those fixed overheads, so here the
  // byte dimension itself is pinned: a 1-doc batch probed against
  // both index sizes (post-compaction, where the per-file sortBy(key)
  // zones are tight) must read flat — bucket-file pruning bounds
  // WHICH files are opened, the sorted layout bounds which pages of
  // them are read. Broadcasting disabled like the other decade
  // models: bucket pruning exists only in the bucketed-join regime
  // (a standalone scan reports "Bucketed: false"), and SMJ is the
  // production regime at scale anyway.
  /** Broadcast joins OFF (both planner and AQE thresholds) for the
    * decade arms — the SMJ regime, where an unpruned lookup would
    * ride the state instead of hiding behind a broadcast. */
  private def noBroadcast[A](body: => A): A = {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevAqe =
      spark.conf.getOption("spark.sql.adaptive.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try body finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      prevAqe match {
        case Some(v) =>
          spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", v)
        case None =>
          spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
      }
    }
  }

  // dd12 probe decade harness (shared by the decade-2 and decade-3
  // arms): synthetic pre-signed keys in the production format (band-
  // qualified, near-unique groups — real minhash over the docs is the
  // signing cost, not the probe cost under test), written in
  // indexBatch's layout and then compacted through the REAL
  // maintenance path so the on-disk state is exactly what the
  // cadence leaves behind. High-entropy groups (md5), like real
  // minhash band groups — sequential synthetic keys delta-compress
  // to almost nothing and the experiment degenerates to comparing
  // footers.
  private def lshKeysOf(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = docs
    .select(col("doc_id"),
      explode(array((0 until 4).map(lit(_)): _*)).as("band"))
    .select(col("doc_id"), col("band"),
      concat_ws(":", col("band"),
        md5(concat_ws("#", col("band"), col("doc_id")))).as("key"))

  /** Returns (probe bytes, unpruned-control bytes, (selected, total)
    * buckets from the probe's executed plan). The BYTE ruler on this
    * setup tracks per-file open/footer cost at small files, but the
    * probed files' real row-group reads grow with file size while
    * the control's footer-only reads do not — so the byte RATIO
    * degrades across decades even when pruning is perfect; the
    * SelectedBucketsCount pair is the scale-independent form of the
    * file-pruning guarantee. */
  private def lshProbeBytes(indexRows: Long)
      : (ExecBytes, ExecBytes, (Int, Int)) = {
        val t = s"lsh_dec_${indexRows}_${System.nanoTime()}"
        lshKeysOf(spark.range(indexRows / 4).select(col("id").as("doc_id")))
          .write.format("parquet")
          .bucketBy(64, "key").sortBy("key").saveAsTable(t)
        graft.llmdata.IncrementalLsh.compact(spark, t, buckets = 64)
        // the compaction contract this arm depends on (and the r12
        // at-scale fix pinned where it broke): one file per occupied
        // bucket, so "buckets touched" IS "files opened"
        val loc = spark.sessionState.catalog.getTableMetadata(
          spark.sessionState.sqlParser.parseTableIdentifier(t)).location
        val nFiles = new java.io.File(loc.getPath).listFiles
          .count(_.getName.endsWith(".parquet"))
        assert(nFiles === 64,
          s"compact left $nFiles files over 64 buckets — the layout " +
            "contract broke and the probe bound below is meaningless")
        // fixed trickle batch: one already-indexed doc's 4 band keys
        // (hits are real rows, so the probe cannot be answered from
        // footers alone)
        val batchKeys = lshKeysOf(spark.range(1)
            .select((col("id") + indexRows / 8).as("doc_id")))
          .localCheckpoint(true)
        val probeDf = graft.llmdata.IncrementalLsh.probeJoin(batchKeys,
          graft.llmdata.IncrementalLsh.prunedHist(spark, t, batchKeys))
        val bytes = execBytesOf {
          val hits = probeDf.collect()
          assert(hits.length === 4, s"probe lost hits: ${hits.length}")
        }
        val selected = "SelectedBucketsCount: (\\d+) out of (\\d+)".r
          .findFirstMatchIn(probeDf.queryExecution.executedPlan.toString)
          .map(m => (m.group(1).toInt, m.group(2).toInt))
          .getOrElse((-1, -1))
        // negative control — what an unpruned probe would read: sum
        // DATA columns (a count(*) is footer-answered) over the whole
        // index, the r10-class full-scan this arm exists to catch
        val control = execBytesOf {
          spark.table(t)
            .agg(sum(length(col("key"))), sum(col("doc_id"))).collect()
          ()
        }
        spark.sql(s"DROP TABLE $t")
        graft.llmdata.IncrementalLsh.dropCaches(t)
        (bytes, control, selected)
      }

  test("decade 2: dd12 probe reads O(touched buckets) across an index decade") {
    assume(sys.env.contains("SPARK_GRAFT_SCALE2"),
      "slow decade-2 run — set SPARK_GRAFT_SCALE2=1 to enable")
    noBroadcast {
      val (small, controlS, _) = lshProbeBytes(1000000L)
      val (big, controlB, _) = lshProbeBytes(10000000L)
      info(f"1-doc probe: ${small.input}%,d B read / ${small.shuffleWrite}%,d " +
        f"B shuffle @1M index → ${big.input}%,d / ${big.shuffleWrite}%,d @10M")
      info(f"unpruned control: ${controlS.input}%,d B read @1M → " +
        f"${controlB.input}%,d B @10M")
      assert(big.input <= math.max(3L * small.input, 512L * 1024),
        s"probe read ${small.input}→${big.input} B across the index " +
          "decade — the probe is rescanning the index per batch")
      assert(big.shuffleWrite <= math.max(3L * small.shuffleWrite, 256L * 1024),
        s"probe shuffle grew ${small.shuffleWrite}→${big.shuffleWrite} B " +
          "across the index decade")
      // and the bound is meaningful: the pruned probe reads a small
      // fraction of what the full-index scan pays at 10M rows. (The
      // byte metric on this setup tracks per-file open/footer cost
      // far more than data pages — which is exactly the right ruler
      // for a FILE-pruning guarantee: 4 band keys may touch ≤4 of 64
      // one-file buckets, the control opens all 64.)
      assert(big.input * 8 <= controlB.input,
        s"probe read ${big.input} B vs unpruned ${controlB.input} B — " +
          "pruning is not actually bounding the read")
    }
  }

  test("decade 2: ANN search reads O(probed cells) across an index decade") {
    assume(sys.env.contains("SPARK_GRAFT_SCALE2"),
      "slow decade-2 run — set SPARK_GRAFT_SCALE2=1 to enable")
    import org.apache.spark.sql.functions._
    // AnnIndex.search's serving plan — the e07/e11 path — promises
    // "each query reads ~nprobe/nlist of the index" as literal cell-
    // partition file pruning. PlanSpec pins the PartitionFilters at
    // fixed scale; this arm pins the READ across a 1M→10M-vector
    // decade with the files-opened ruler (the dd12 pattern applied to
    // cells instead of buckets). Synthetic pre-encoded codes in the
    // production layout — encoding 10M real vectors is build cost,
    // not the serve cost under test — appended under a REAL small
    // build's frozen quantizer, then compacted through the real
    // maintenance path so the on-disk state is exactly what the
    // cadence leaves behind.
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevAqe =
      spark.conf.getOption("spark.sql.adaptive.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try {
      val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.1")
      val nlist = 64
      val queries = emb.filter(col("vec_id") < 2).localCheckpoint(true)
      def searchBytes(indexRows: Long): (ExecBytes, ExecBytes) = {
        val t = s"ann_dec_${indexRows}_${System.nanoTime()}"
        graft.llmdata.AnnIndex.build(spark, t, emb, "vec_id", "embedding",
          nlist = nlist, m = 4, kCodes = 16, residual = true)
        // synthetic growth: codes rows in the index schema, ids
        // disjoint from the real corpus, cells uniform over nlist —
        // the serving plan cannot tell them from encoded vectors
        spark.range(indexRows).select(
            (col("id") + 1000000000L).as("neighbor_id"),
            pmod(col("id"), lit(nlist)).cast("int").as("cell"),
            array((0 until 4).map(i =>
              pmod(hash(col("id"), lit(i)), lit(16)).cast("int")): _*)
              .as("codes"))
          .repartition(col("cell"))
          .write.mode(org.apache.spark.sql.SaveMode.Append)
          .format("parquet").partitionBy("cell").saveAsTable(t)
        graft.llmdata.AnnIndex.compact(spark, t)
        // the layout contract the bound depends on: ~one file per
        // occupied cell, so "cells probed" IS "files opened"
        val loc = spark.sessionState.catalog.getTableMetadata(
          spark.sessionState.sqlParser.parseTableIdentifier(t)).location
        val nFiles = {
          import scala.jdk.CollectionConverters._
          val walk = java.nio.file.Files.walk(
            java.nio.file.Paths.get(java.net.URI.create(loc.toString)))
          try walk.iterator().asScala.count(_.toString.endsWith(".parquet"))
          finally walk.close()
        }
        assert(nFiles === nlist,
          s"compact left $nFiles files over $nlist cells — the layout " +
            "contract broke and the probe bound below is meaningless")
        def once(): Unit = {
          val got = graft.llmdata.AnnIndex.search(spark, t, queries,
            "vec_id", "embedding", k = 3, nprobe = 2).collect()
          assert(got.length === 2 * 3, s"search lost rows: ${got.length}")
        }
        once() // warm: params memo + probe-cell plan, off the ruler
        val bytes = execBytesOf(once())
        // negative control: what an unpruned serve would read — DATA
        // columns over every cell of the index
        val control = execBytesOf {
          spark.table(t).agg(sum(col("neighbor_id")),
            sum(element_at(col("codes"), 1))).collect()
          ()
        }
        spark.sql(s"DROP TABLE $t")
        spark.sql(s"DROP TABLE ${t}_params")
        graft.llmdata.AnnIndex.dropCaches(spark, t)
        (bytes, control)
      }
      val (small, controlS) = searchBytes(1000000L)
      val (big, controlB) = searchBytes(10000000L)
      info(f"2-query search: ${small.input}%,d B read / " +
        f"${small.shuffleWrite}%,d B shuffle @1M index → " +
        f"${big.input}%,d / ${big.shuffleWrite}%,d @10M")
      info(f"unpruned control: ${controlS.input}%,d B read @1M → " +
        f"${controlB.input}%,d B @10M")
      assert(big.input <= math.max(3L * small.input, 512L * 1024),
        s"search read ${small.input}→${big.input} B across the index " +
          "decade — the serve path is rescanning the index")
      assert(big.shuffleWrite <= math.max(3L * small.shuffleWrite, 256L * 1024),
        s"search shuffle grew ${small.shuffleWrite}→${big.shuffleWrite} B " +
          "across the index decade")
      // the bound has teeth: ≤ |Q|·nprobe = 4 of 64 one-file cells
      // probed vs all of them opened (files-opened ruler, the right
      // one for a partition-pruning guarantee)
      assert(big.input * 8 <= controlB.input,
        s"search read ${big.input} B vs unpruned ${controlB.input} B — " +
          "cell pruning is not actually bounding the read")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      prevAqe match {
        case Some(v) =>
          spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", v)
        case None =>
          spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
      }
    }
  }

  // CDC sync-tick decade harness (shared by the decade-2 and
  // decade-3 arms) — s16's operator through the state-decade lens:
  // one maintenance tick of an in-sync replica must cost O(change
  // window), not O(replica) — `changes` reads only the files the
  // window's commits touched, the replica upsert is the zone-pruned
  // keyed COW merge, deletes the pruned anti-join. Measured under
  // [[noBroadcast]] with a FIXED 10-key change window (updates on a
  // narrow id band + fresh inserts + deletes). The O(state) snapshot
  // SEED is paid off-ruler — a consumer pays it once, ticks forever.
  // Store roots are deleted on exit: the decade-3 arm's scratch is
  // ~10 GB per call and must not accumulate across points.
  private def cdcSyncBytesAt(stateRows: Long,
                             keyKind: String): (ExecBytes, ExecBytes) = {
        // "string" runs the SAME experiment with zero-padded string
        // ids (lexicographic = numeric order, so clustering and zones
        // behave identically) — it pins the STRING arm of the merge
        // candidacy refinement (UTF-8-prefix quantile windows) at
        // decade scale, not just the numeric arm. "url" prepends a
        // constant 28-byte prefix (the realistic LLM-corpus document
        // key: "https://domain/path/<id>") — the r13 judge find: a
        // scalar built from the FIRST 7 UTF-8 bytes is batch-constant
        // for such keys, collapsing the refinement to the coarse
        // window and the touched-file probe to O(table-files) key
        // reads per tick; the common-prefix-stripped scalar must keep
        // the tick flat across the decade anyway
        val urlPfx = "https://corpus.example/docs/"
        def k(c: org.apache.spark.sql.Column) = keyKind match {
          case "long" => c
          case "string" => lpad(c.cast("string"), 10, "0")
          case "url" =>
            concat(lit(urlPfx), lpad(c.cast("string"), 10, "0"))
        }
        val srcRoot = tmpDir(s"cdcsrc$keyKind$stateRows")
        val tgtRoot = tmpDir(s"cdctgt$keyKind$stateRows")
        val src = new graft.store.LogTableStore(spark, srcRoot)
        val tgt = new graft.store.LogTableStore(spark, tgtRoot)
        val seed = spark.range(stateRows)
          .select(k(col("id")).as("id"), (col("id") * 7).as("v"),
            md5(col("id").cast("string")).as("payload"))
        src.ensure("t.src", seed.schema)
        src.mergeUpsert("t.src", seed, Seq("id"))
        // id-clustered multi-file layout on BOTH sides so the zone
        // pruning under test is observable on the files-opened ruler
        src.compact("t.src", targetBytes = 4L * 1024 * 1024,
          clusterBy = Seq("id"))
        graft.store.CdcReplica.sync(src, "t.src", tgt, "t.replica",
          Seq("id")) // snapshot seed — off the measured ruler
        tgt.compact("t.replica", targetBytes = 4L * 1024 * 1024,
          clusterBy = Seq("id"))
        // fixed change window: 5 updates on a narrow mid-state band,
        // 3 inserts past the max id, 2 deletes beside the band
        val mid = stateRows / 2
        src.mergeUpsert("t.src", spark.range(mid, mid + 5)
          .select(k(col("id")).as("id"), lit(-1L).as("v"),
            lit("upd").as("payload")),
          Seq("id"))
        src.deleteKeys("t.src",
          spark.range(mid + 100, mid + 102).select(k(col("id")).as("id")),
          Seq("id"))
        src.mergeUpsert("t.src", spark.range(stateRows, stateRows + 3)
          .select(k(col("id")).as("id"), lit(0L).as("v"),
            lit("new").as("payload")),
          Seq("id"))
        val bytes = execBytesOf {
          val (from, to) = graft.store.CdcReplica.sync(src, "t.src",
            tgt, "t.replica", Seq("id"))
          assert(to > from, "sync tick applied no window")
        }
        // the replica really converged — exact ROW MULTISET, not a
        // map (a wrongly pruned rewrite leaves the STALE row beside
        // the upserted one, and a toMap would hide the duplicate
        // behind nondeterministic collect order)
        def kv(x: Long): Any = keyKind match {
          case "long" => Long.box(x)
          case "string" => f"$x%010d"
          case "url" => urlPfx + f"$x%010d"
        }
        val got = tgt.scan("t.replica")
          .where(col("id").isin(kv(mid), kv(mid + 100), kv(stateRows)))
          .collect()
          .map(r => (r.get(0).toString.takeRight(10).toLong, r.getLong(1)))
          .sorted.toSeq
        assert(got === Seq((mid, -1L), (stateRows, 0L)),
          s"replica rows after sync: $got — expected exactly the " +
            "updated and inserted rows, no stale duplicates, no " +
            "surviving deleted key")
        // negative control: what the PRE-FIX unpruned apply paid — an
        // SMJ anti-join rewrite pass over the WHOLE replica (the
        // single-window candidacy degraded to exactly this for any
        // mixed update+insert window). Shuffle is the defect's
        // dimension: the COW tick's cost is the touched files' rows
        // moving through the anti-join exchange, so an O(state)
        // candidacy shows up as O(state) shuffle (measured 61→311 MB
        // before the quantile-window refinement), while the
        // files-opened read ruler barely moves.
        val control = execBytesOf {
          tgt.scan("t.replica")
            .join(spark.range(mid, mid + 5).select(k(col("id")).as("id")),
              Seq("id"), "left_anti")
            .write.mode("overwrite").format("noop").save()
        }
        src.close(); tgt.close()
        for (r <- Seq(srcRoot, tgtRoot)) {
          import java.nio.file.{Files, Paths}
          import java.util.Comparator
          val w = Files.walk(Paths.get(r))
          try w.sorted(Comparator.reverseOrder[java.nio.file.Path]())
            .forEach(p => { Files.deleteIfExists(p); () })
          finally w.close()
        }
        (bytes, control)
      }

  test("decade 2: CDC replica sync cost rides the change window " +
      "across a replica decade") {
    assume(sys.env.contains("SPARK_GRAFT_SCALE2"),
      "slow decade-2 run — set SPARK_GRAFT_SCALE2=1 to enable")
    noBroadcast {
      for (keyKind <- Seq("long", "string", "url")) {
        val kind = s"$keyKind-keyed"
        val (small, controlS) = cdcSyncBytesAt(1000000L, keyKind)
        val (big, controlB) = cdcSyncBytesAt(10000000L, keyKind)
        info(f"$kind 10-key sync tick: ${small.input}%,d B read / " +
          f"${small.shuffleWrite}%,d B shuffle @1M replica → " +
          f"${big.input}%,d / ${big.shuffleWrite}%,d @10M")
        info(f"$kind unpruned control: ${controlS.shuffleWrite}%,d " +
          f"B shuffle @1M → ${controlB.shuffleWrite}%,d B @10M")
        assert(big.input <= math.max(3L * small.input, 512L * 1024),
          s"$kind sync read ${small.input}→${big.input} B across the " +
            "replica decade — a tick is rescanning source or replica")
        assert(big.shuffleWrite <= math.max(3L * small.shuffleWrite,
            256L * 1024),
          s"$kind sync shuffle grew ${small.shuffleWrite}→" +
            s"${big.shuffleWrite} B across the replica decade")
        assert(big.shuffleWrite * 8 <= controlB.shuffleWrite,
          s"$kind sync shuffled ${big.shuffleWrite} B vs the unpruned " +
            s"rewrite's ${controlB.shuffleWrite} B — the window apply " +
            "is not actually bounded by touched files")
      }
    }
  }

  test("decade 3: dd12 probe and the CDC sync tick stay flat into " +
      "the 100M decade") {
    assume(sys.env.contains("SPARK_GRAFT_SCALE3"),
      "very slow decade-3 run (minutes, ~20 GB transient scratch) — " +
        "set SPARK_GRAFT_SCALE3=1 to enable")
    // every at-scale defect so far (r11 probe co-location, r12 LSH
    // compact layout, r13 mergeUpsert candidacy) was exposed by the
    // NEWEST decade arm, never by the correctness gates — so the two
    // cheapest stateful serve paths get one more decade: 10M→100M
    // index rows for the dd12 probe, 10M→100M replica rows for the
    // CDC sync tick (long keys; the string/url arms are pinned at
    // decade 2 and share every pruning code path past the scalar).
    // Both points re-measured within this run so the ratio is never
    // cross-confounded with another session's numbers.
    noBroadcast {
      val (p10, _, sel10) = lshProbeBytes(10000000L)
      val (p100, c100, sel100) = lshProbeBytes(100000000L)
      info(f"1-doc probe: ${p10.input}%,d B read @10M index → " +
        f"${p100.input}%,d B @100M (footer-scan control " +
        f"${c100.input}%,d B); buckets $sel10 → $sel100")
      assert(p100.input <= math.max(3L * p10.input, 512L * 1024),
        s"probe read ${p10.input}→${p100.input} B across the " +
          "second index decade")
      assert(p100.shuffleWrite <= math.max(3L * p10.shuffleWrite,
          256L * 1024),
        s"probe shuffle grew ${p10.shuffleWrite}→${p100.shuffleWrite} B " +
          "across the second index decade")
      // the pruning guarantee in its scale-independent form: a 4-key
      // probe opens ≤4 of 64 one-file buckets at BOTH points (the
      // decade-2 byte-ratio control is footer-dominated and stops
      // being comparable once probed files carry real row groups —
      // see lshProbeBytes)
      for ((sel, at) <- Seq((sel10, "10M"), (sel100, "100M"))) {
        assert(sel._2 === 64, s"no bucket pruning in the probe plan @$at")
        assert(sel._1 <= 4,
          s"probe opened ${sel._1} of ${sel._2} buckets @$at — file " +
            "pruning stopped bounding the read")
      }
      val (s10, _) = cdcSyncBytesAt(10000000L, "long")
      val (s100, c100s) = cdcSyncBytesAt(100000000L, "long")
      info(f"10-key sync tick: ${s10.input}%,d B read / " +
        f"${s10.shuffleWrite}%,d B shuffle @10M replica → " +
        f"${s100.input}%,d / ${s100.shuffleWrite}%,d @100M " +
        f"(control ${c100s.shuffleWrite}%,d B)")
      assert(s100.input <= math.max(3L * s10.input, 512L * 1024),
        s"sync read ${s10.input}→${s100.input} B across the second " +
          "replica decade")
      assert(s100.shuffleWrite <= math.max(3L * s10.shuffleWrite,
          256L * 1024),
        s"sync shuffle grew ${s10.shuffleWrite}→${s100.shuffleWrite} B " +
          "across the second replica decade")
      assert(s100.shuffleWrite * 8 <= c100s.shuffleWrite,
        s"sync shuffled ${s100.shuffleWrite} B vs the unpruned " +
          s"rewrite's ${c100s.shuffleWrite} B at 100M rows")
    }
  }

  test("decade 3: dd15 fold stays flat into the 100M-assignment decade") {
    assume(sys.env.contains("SPARK_GRAFT_SCALE3"),
      "very slow decade-3 run (minutes, ~5 GB transient scratch) — " +
        "set SPARK_GRAFT_SCALE3=1 to enable")
    // dd12/CDC are proven to 100M (above); dd15's state-constant model
    // stopped at 10M. Same synthetic-state recipe as the decade-2 arm
    // (production-compaction shape: id-range-clustered ~16k-row files),
    // both points re-measured in this run, plus the unpruned negative
    // control at 100M: what a fold that rescans the whole assignment
    // state would read.
    import org.apache.spark.sql.functions._
    noBroadcast {
      def foldBytesAt(stateRows: Long, withControl: Boolean)
          : (ExecBytes, ExecBytes, ExecBytes) = {
        val store = new graft.store.LogTableStore(spark,
          java.nio.file.Files.createTempDirectory(s"iccd3x$stateRows").toString)
        graft.operators.IncrementalCc.ensure(store, "t.cc")
        val files = (stateRows / 16000L).toInt.max(1)
        store.append("t.cc", spark.range(stateRows)
          .select(col("id"), col("id").as("root"))
          .repartitionByRange(files, col("id")))
        val fresh = execBytesOf {
          graft.operators.IncrementalCc.update(store, "t.cc",
            spark.range(stateRows + 1, stateRows + 21)
              .select(col("id").as("u"), (col("id") + 1000).as("v")),
            "u", "v")
        }
        val merge = execBytesOf {
          graft.operators.IncrementalCc.update(store, "t.cc",
            spark.range(1).select(lit(stateRows - 1).as("u"),
              lit(stateRows + 5000).as("v")),
            "u", "v")
        }
        val control = if (!withControl) ExecBytes(0L, 0L) else execBytesOf {
          store.scan("t.cc").agg(sum(col("id")), sum(col("root"))).collect()
          ()
        }
        store.close()
        (fresh, merge, control)
      }
      val (f10, m10, _) = foldBytesAt(10000000L, withControl = false)
      val (f100, m100, c100) = foldBytesAt(100000000L, withControl = true)
      info(f"fresh-id fold: ${f10.shuffleWrite}%,d B shuffle / " +
        f"${f10.input}%,d B read @10M state → ${f100.shuffleWrite}%,d / " +
        f"${f100.input}%,d B @100M (unpruned control ${c100.input}%,d B)")
      info(f"merge fold:    ${m10.shuffleWrite}%,d B shuffle / " +
        f"${m10.input}%,d B read @10M → ${m100.shuffleWrite}%,d / " +
        f"${m100.input}%,d B @100M")
      assert(f100.shuffleWrite <= math.max(3L * f10.shuffleWrite, 256L * 1024),
        s"fresh fold grew ${f10.shuffleWrite}→${f100.shuffleWrite} " +
          "shuffle B across the third state decade")
      assert(m100.shuffleWrite <= math.max(3L * m10.shuffleWrite, 256L * 1024),
        s"merge fold grew ${m10.shuffleWrite}→${m100.shuffleWrite} " +
          "shuffle B across the third state decade")
      assert(f100.input <= math.max(3L * f10.input, 512L * 1024),
        s"fresh fold read ${f10.input}→${f100.input} B across the third " +
          "state decade — the state is being rescanned per batch")
      assert(m100.input <= math.max(3L * m10.input, 512L * 1024),
        s"merge fold read ${m10.input}→${m100.input} B across the third " +
          "state decade")
      // the negative control: an unpruned full-state read at 100M rows
      // dwarfs what the fold actually read
      assert(math.max(f100.input, m100.input) * 8 <= c100.input,
        s"fold read ${math.max(f100.input, m100.input)} B vs the " +
          s"unpruned state scan's ${c100.input} B at 100M rows")
    }
  }

  // t27's decade-2 model is state-decade too, for the same reason as
  // dd15: the corpus-gold fold's scale axis is the persisted
  // cluster-state table. A fixed 10-doc batch (one pair merging into
  // the state) folds into 1M- and 10M-row states with broadcasting
  // disabled; BOTH shuffle-write and input-read bytes must be flat —
  // the read arm is what catches the r10 member-search defect (a full
  // state scan that never shuffles).
  test("decade 2: t27 fold cost rides the batch across a state decade (SMJ regime)") {
    assume(sys.env.contains("SPARK_GRAFT_SCALE2"),
      "slow decade-2 run — set SPARK_GRAFT_SCALE2=1 to enable")
    import org.apache.spark.sql.functions._
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevAqe =
      spark.conf.getOption("spark.sql.adaptive.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try {
      def foldBytes(stateRows: Long): ExecBytes = {
        val store = new graft.store.LogTableStore(spark,
          java.nio.file.Files.createTempDirectory(s"icorpdec$stateRows").toString)
        graft.llmdata.IncrementalCorpus.ensure(store)
        val b = graft.llmdata.IncrementalCorpus
          .bucketCount(store, "docs.cluster_state")
        // singleton-keeper state, then the production compaction
        // cadence (cluster_id-clustered files) that keeps applyBatch's
        // two scanRange prunes selective
        store.append("docs.cluster_state", spark.range(stateRows)
          .select(col("id").as("doc_id"), col("id").as("cluster_id"),
            lit("en").as("lang"), lit("web").as("source"),
            lit(30).as("n_tokens"),
            (pmod(col("id"), lit(97)) / 100.0).as("quality_score"),
            lit(true).as("keep"),
            pmod(col("id"), lit(b)).cast("int").as("id_bucket")))
        store.compact("docs.cluster_state", targetBytes = 64L * 1024,
          clusterBy = Seq("cluster_id"))
        val sp = spark
        import sp.implicits._
        // fresh ids strictly above BOTH state sizes — colliding with
        // live state rows would violate applyBatch's freshness contract
        val batch = (90000000L until 90000010L)
          .map(i => (i, "en", "web", 20, 0.99))
          .toDF("doc_id", "lang", "source", "n_tokens", "quality_score")
        val pairs = Seq((90000000L, 90000001L), (90000002L, 90000003L),
          (stateRows - 1, 90000000L)).toDF("doc_a", "doc_b")
        val bytes = execBytesOf {
          graft.llmdata.IncrementalCorpus.applyBatch(store, batch, pairs)
        }
        // fold correctness at this scale: the touched state doc merged
        // and was demoted by the higher-quality fresh keeper
        val st = store.scan("docs.cluster_state")
          .where(col("doc_id") >= stateRows - 1)
          .collect().map(r => r.getAs[Long]("doc_id") ->
            (r.getAs[Long]("cluster_id"), r.getAs[Boolean]("keep"))).toMap
        assert(st(90000000L) === ((stateRows - 1, true)))
        assert(st(stateRows - 1)._2 === false)
        store.close()
        bytes
      }
      val small = foldBytes(1000000L)
      val big = foldBytes(10000000L)
      info(f"10-doc corpus fold: ${small.shuffleWrite}%,d B shuffle / " +
        f"${small.input}%,d B read @1M state → ${big.shuffleWrite}%,d / " +
        f"${big.input}%,d B @10M state")
      assert(big.shuffleWrite <= math.max(3L * small.shuffleWrite, 256L * 1024),
        s"corpus fold grew ${small.shuffleWrite}→${big.shuffleWrite} " +
          "shuffle B across the state decade")
      assert(big.input <= math.max(3L * small.input, 512L * 1024),
        s"corpus fold read ${small.input}→${big.input} B across the " +
          "state decade — the state is being rescanned per batch")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      prevAqe match {
        case Some(v) =>
          spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", v)
        case None =>
          spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
      }
    }
  }

  test("decade 3: t27 fold stays flat into the 100M-row state decade") {
    assume(sys.env.contains("SPARK_GRAFT_SCALE3"),
      "very slow decade-3 run (minutes, ~10 GB transient scratch) — " +
        "set SPARK_GRAFT_SCALE3=1 to enable")
    // dd15/dd12/CDC are proven at 100M (above); the corpus-gold fold
    // was the one remaining incremental operator pinned only to 10M
    // state. Same recipe as the decade-2 arm — production append +
    // compact(clusterBy = cluster_id) so both scanRange prunes stay
    // selective — at 10M → 100M, both points re-measured in this run,
    // plus the unpruned negative control at 100M (what a fold that
    // rescans the whole cluster state would read). The compaction
    // target scales with the decade (512 KB files at both points)
    // purely to keep the synthetic file count testable; pruning
    // tightness is zone-based and target-independent.
    import org.apache.spark.sql.functions._
    noBroadcast {
      def foldBytesAt(stateRows: Long,
                      withControl: Boolean): (ExecBytes, ExecBytes) = {
        val store = new graft.store.LogTableStore(spark,
          java.nio.file.Files.createTempDirectory(s"icorpd3x$stateRows").toString)
        graft.llmdata.IncrementalCorpus.ensure(store)
        val b = graft.llmdata.IncrementalCorpus
          .bucketCount(store, "docs.cluster_state")
        store.append("docs.cluster_state", spark.range(stateRows)
          .select(col("id").as("doc_id"), col("id").as("cluster_id"),
            lit("en").as("lang"), lit("web").as("source"),
            lit(30).as("n_tokens"),
            (pmod(col("id"), lit(97)) / 100.0).as("quality_score"),
            lit(true).as("keep"),
            pmod(col("id"), lit(b)).cast("int").as("id_bucket")))
        store.compact("docs.cluster_state", targetBytes = 512L * 1024,
          clusterBy = Seq("cluster_id"))
        val sp = spark
        import sp.implicits._
        // fresh ids strictly above BOTH state sizes
        val batch = (900000000L until 900000010L)
          .map(i => (i, "en", "web", 20, 0.99))
          .toDF("doc_id", "lang", "source", "n_tokens", "quality_score")
        val pairs = Seq((900000000L, 900000001L), (900000002L, 900000003L),
          (stateRows - 1, 900000000L)).toDF("doc_a", "doc_b")
        val bytes = execBytesOf {
          graft.llmdata.IncrementalCorpus.applyBatch(store, batch, pairs)
        }
        val st = store.scan("docs.cluster_state")
          .where(col("doc_id") >= stateRows - 1)
          .collect().map(r => r.getAs[Long]("doc_id") ->
            (r.getAs[Long]("cluster_id"), r.getAs[Boolean]("keep"))).toMap
        assert(st(900000000L) === ((stateRows - 1, true)))
        assert(st(stateRows - 1)._2 === false)
        val control = if (!withControl) ExecBytes(0L, 0L) else execBytesOf {
          store.scan("docs.cluster_state")
            .agg(sum(col("doc_id")), sum(col("cluster_id"))).collect()
          ()
        }
        store.close()
        (bytes, control)
      }
      val (small, _) = foldBytesAt(10000000L, withControl = false)
      val (big, ctl) = foldBytesAt(100000000L, withControl = true)
      info(f"10-doc corpus fold: ${small.shuffleWrite}%,d B shuffle / " +
        f"${small.input}%,d B read @10M state → ${big.shuffleWrite}%,d / " +
        f"${big.input}%,d B @100M (unpruned control ${ctl.input}%,d B)")
      assert(big.shuffleWrite <= math.max(3L * small.shuffleWrite, 256L * 1024),
        s"corpus fold grew ${small.shuffleWrite}→${big.shuffleWrite} " +
          "shuffle B across the third state decade")
      assert(big.input <= math.max(3L * small.input, 512L * 1024),
        s"corpus fold read ${small.input}→${big.input} B across the " +
          "third state decade — the state is being rescanned per batch")
      // the negative control: an unpruned full-state scan at 100M rows
      // dwarfs what the fold actually read
      assert(big.input * 8 <= ctl.input,
        s"fold read ${big.input} B vs the unpruned state scan's " +
          s"${ctl.input} B at 100M rows")
    }
  }
}
