package graft.operators

import graft.SparkSpec
import graft.store.{LogTableStore, TableStore}
import org.apache.spark.sql.functions._

/** The incremental closure must be indistinguishable from the
  * one-shot closure over the union of every batch fed so far — under
  * any batch split, across cross-batch component merges, and under
  * replay — on BOTH store backends. */
class IncrementalCcSpec extends SparkSpec {

  private def edgesDf(pairs: Seq[(Long, Long)]) = {
    val sp = spark
    import sp.implicits._
    pairs.toDF("u", "v")
  }

  private def stateOf(store: TableStore, t: String): Map[Long, Long] =
    IncrementalCc.assignments(store, t).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap

  private def oneShot(pairs: Seq[(Long, Long)]): Map[Long, Long] =
    ConnectedComponents.label(edgesDf(pairs), "u", "v").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("cross-batch chain merge relabels every member of the losing components") {
    val store = new LogTableStore(spark, tmpDir("icc"))
    IncrementalCc.ensure(store, "t.cc")
    // batch 1: two separate components {1,2} and {3,4,5}
    IncrementalCc.update(store, "t.cc",
      edgesDf(Seq((1L, 2L), (3L, 4L), (4L, 5L))), "u", "v")
    assert(stateOf(store, "t.cc") ===
      Map(1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 3L, 5L -> 3L))
    // batch 2: one bridging edge merges them — members 4 and 5, which
    // are NOT endpoints of the new edge, must be relabeled too
    IncrementalCc.update(store, "t.cc", edgesDf(Seq((2L, 3L))), "u", "v")
    assert(stateOf(store, "t.cc") ===
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L))
    // self-loop on a new node registers a singleton
    IncrementalCc.update(store, "t.cc", edgesDf(Seq((9L, 9L))), "u", "v")
    assert(stateOf(store, "t.cc")(9L) === 9L)
  }

  test("random batch splits converge to the one-shot closure (both backends)") {
    val rnd = new scala.util.Random(7)
    val n = 120
    val pairs = Seq.fill(260)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
    val expected = oneShot(pairs)
    // the default log layout, and one that checkpoints every second
    // commit so the folds resolve state through checkpoint entries
    for ((mkStore, tag) <- Seq(
        ((r: String) => new LogTableStore(spark, r): TableStore, "log"),
        ((r: String) => new LogTableStore(spark, r, checkpointInterval = 2):
          TableStore, "log-ckpt2"))) {
      val store = mkStore(tmpDir(s"icc$tag"))
      IncrementalCc.ensure(store, "t.cc")
      // three uneven batches, order-scrambled
      val shuffled = rnd.shuffle(pairs)
      val batches = Seq(shuffled.take(30), shuffled.slice(30, 200),
        shuffled.drop(200))
      for (b <- batches)
        IncrementalCc.update(store, "t.cc", edgesDf(b), "u", "v")
      assert(stateOf(store, "t.cc") === expected,
        s"$tag backend diverged from the one-shot closure")
    }
  }

  test("replaying a batch is a no-op (idempotent fold)") {
    val store = new LogTableStore(spark, tmpDir("iccr"))
    IncrementalCc.ensure(store, "t.cc")
    val b1 = Seq((1L, 2L), (2L, 3L), (7L, 8L))
    IncrementalCc.update(store, "t.cc", edgesDf(b1), "u", "v")
    val before = stateOf(store, "t.cc")
    IncrementalCc.update(store, "t.cc", edgesDf(b1), "u", "v")
    assert(stateOf(store, "t.cc") === before)
    assert(before === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L, 8L -> 7L))
  }

  test("folding a small batch into a large state shuffles O(batch), not O(state)") {
    // the operator's reason to exist: per-cycle cost must ride the
    // NEW pairs. Build a state from a large batch, then measure the
    // shuffle a tiny follow-up fold pays — it must be a small
    // fraction of the build's, not proportional to it.
    //
    // The bound is proven with automatic broadcasting DISABLED: the
    // r9 form of this test measured against a 17k-row state, i.e.
    // inside the broadcast regime, where AQE broadcast-hides a
    // state-shuffling plan (exactly how the old left-outer
    // nodes→state lookup passed while degrading to a full per-batch
    // state shuffle at real state sizes). With both thresholds at -1
    // only the operator's EXPLICIT broadcast hints — all on provably
    // O(batch) sides — keep the state out of every exchange, so the
    // measurement holds in the sort-merge regime where it matters.
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevAqe =
      spark.conf.getOption("spark.sql.adaptive.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try {
      val store = new LogTableStore(spark, tmpDir("iccb"))
      IncrementalCc.ensure(store, "t.cc")
      val rnd = new scala.util.Random(11)
      val big = Seq.fill(20000)(
        (rnd.nextInt(30000).toLong, rnd.nextInt(30000).toLong))
      val buildBytes = shuffleWriteBytesOf {
        IncrementalCc.update(store, "t.cc", edgesDf(big), "u", "v")
      }
      val stateRows = store.scan("t.cc").count()
      assert(stateRows > 10000L, s"state only $stateRows rows")
      // production cadence: cluster the state by id so file zones are
      // disjoint ranges — what makes the store's COW matched-file
      // search and the operator's scanRange pruning selective
      // small target so the COW unit (one clustered file) is a small
      // fraction of the state — the merge-fold bound below measures
      // file-granularity rewrite cost, which rides targetBytes, not
      // the state size
      store.compact("t.cc", targetBytes = 8L * 1024, clusterBy = Seq("id"))
      // a 10-edge fold among FRESH ids (no merges with existing
      // components): the steady-state trickle case
      val tiny = (900000L until 900020L).grouped(2).map(s => (s.head, s.last)).toSeq
      val fold = execBytesOf {
        IncrementalCc.update(store, "t.cc", edgesDf(tiny), "u", "v")
      }
      // a fold that MERGES into the big state: endpoints + changed
      // members must still shuffle O(batch + touched component), and
      // the matched-root lookup must stream (not shuffle) the state
      // even though nothing is auto-broadcastable
      val maxId = store.scan("t.cc").where(col("id") < 900000L)
        .agg(max(col("id"))).head().getLong(0)
      val merge = execBytesOf {
        IncrementalCc.update(store, "t.cc", edgesDf(Seq((maxId, 900000L))),
          "u", "v")
      }
      info(f"build shuffle $buildBytes%,d B; tiny-fold ${fold.shuffleWrite}%,d B " +
        f"shuffle / ${fold.input}%,d B read; merge-fold " +
        f"${merge.shuffleWrite}%,d B / ${merge.input}%,d B (SMJ regime)")
      assert(fold.shuffleWrite < buildBytes / 10,
        s"tiny fold shuffled ${fold.shuffleWrite} B vs build $buildBytes B — " +
          "per-batch cost is riding the state, not the batch")
      assert(merge.shuffleWrite < buildBytes / 10,
        s"merge fold shuffled ${merge.shuffleWrite} B vs build $buildBytes B — " +
          "the root lookup is shuffling the state outside the " +
          "broadcast regime")
      // No read-ratio arm HERE on purpose: this state is two
      // delta-encoded long columns (~10 KB for 30k rows), smaller
      // than the fold's fixed overheads (batch-side checkpoint
      // blocks, COW rewrite reads), so any fixed-scale ratio is
      // meaningless noise. The read bound that matters — fold input
      // FLAT across a 1M→10M state decade — is pinned in ScaleSpec's
      // decade-2 state model, where the state's footprint dwarfs the
      // overheads; the measurement above is surfaced for that table.
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

  test("the closure runs on the contracted root graph, not the state") {
    // a big existing component + a one-edge batch: the contracted
    // edge set the CC loop sees must be O(batch), independent of the
    // component's member count — the property that makes the operator
    // incremental at all
    val store = new LogTableStore(spark, tmpDir("iccs"))
    IncrementalCc.ensure(store, "t.cc")
    val chain = (0L until 60L).sliding(2).map(s => (s(0), s(1))).toSeq
    IncrementalCc.update(store, "t.cc", edgesDf(chain), "u", "v")
    // new edge joins the chain to a fresh pair — endpoints' roots are
    // (0, 100): exactly one contracted edge regardless of chain length
    IncrementalCc.update(store, "t.cc",
      edgesDf(Seq((100L, 101L), (59L, 100L))), "u", "v")
    val st = stateOf(store, "t.cc")
    assert(st(100L) === 0L && st(101L) === 0L && st(59L) === 0L)
    assert(st.values.toSet === Set(0L))
  }
}
