package graft.store

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The replica must equal the source at every applied horizon — for
  * any window split, in a separate store root or beside the source in
  * its own root, and under window replay. */
class CdcReplicaSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("k", LongType), StructField("s", StringType)))

  private def keyed(rows: Seq[(Long, String)]) = {
    val sp = spark
    import sp.implicits._
    rows.toDF("k", "s")
  }

  private def contentOf(t: TableStore, name: String): Set[(Long, String)] =
    t.scan(name).collect().map(r => (r.getLong(0), r.getString(1))).toSet

  /** source lifecycle: append → upsert → delete → insert, recording
    * the version after each commit. */
  private def buildSource(src: LogTableStore): Seq[Long] = {
    src.ensure("src.t", schema)
    var vs = Vector(src.versions("src.t").last)
    src.append("src.t", keyed(Seq((1L, "a"), (2L, "b"), (3L, "c"))))
    vs :+= src.versions("src.t").last
    src.mergeUpsert("src.t", keyed(Seq((2L, "B"), (4L, "d"))), Seq("k"))
    vs :+= src.versions("src.t").last
    src.delete("src.t", col("k") === 1L)
    vs :+= src.versions("src.t").last
    src.mergeInsertOnly("src.t", keyed(Seq((5L, "e"), (3L, "dup"))), Seq("k"))
    vs :+= src.versions("src.t").last
    vs
  }

  test("window-by-window apply tracks the source exactly (both target backends)") {
    // targets: a separate store root, and the source's own store (the
    // replica table beside the source table, sharing its caches)
    for ((mkTarget, tag) <- Seq(
        ((_: LogTableStore) => new LogTableStore(spark, tmpDir("cdcdst")), "separate"),
        ((src: LogTableStore) => src, "same-root"))) {
      val src = new LogTableStore(spark, tmpDir("cdcsrc"))
      val vs = buildSource(src)
      val target: TableStore = mkTarget(src)
      for (Seq(from, to) <- vs.sliding(2)) {
        CdcReplica(src, "src.t", target, "dst.t", from, to, Seq("k"))
        assert(contentOf(target, "dst.t") ===
          src.scanAt("src.t", to).collect()
            .map(r => (r.getLong(0), r.getString(1))).toSet,
          s"$tag replica diverged at source v$to")
      }
      assert(contentOf(target, "dst.t") ===
        Set((2L, "B"), (3L, "c"), (4L, "d"), (5L, "e")))
    }
  }

  test("one wide window equals the window-by-window apply (squash safety)") {
    val src = new LogTableStore(spark, tmpDir("cdcsrc2"))
    val vs = buildSource(src)
    val wide = new LogTableStore(spark, tmpDir("cdcw"))
    CdcReplica(src, "src.t", wide, "dst.t", vs.head, vs.last, Seq("k"))
    // key 1 was inserted AND deleted inside the window: it must never
    // surface in the replica (the feed squashes it to nothing
    // relative to vs.head, where it did not exist)
    assert(contentOf(wide, "dst.t") ===
      Set((2L, "B"), (3L, "c"), (4L, "d"), (5L, "e")))
  }

  test("sync(): snapshot seed, marked windows, crash replay, vacuum horizon") {
    val src = new LogTableStore(spark, tmpDir("cdcsync"))
    src.ensure("src.t", schema)
    src.append("src.t", keyed(Seq((1L, "a"), (2L, "b"))))
    val t = new LogTableStore(spark, tmpDir("cdcsyncdst"))
    def inSync(): Unit =
      assert(contentOf(t, "dst.t") ===
        src.scan("src.t").collect()
          .map(r => (r.getLong(0), r.getString(1))).toSet)
    // first sync seeds from a snapshot (CDC can't reach pre-history)
    val (s0, s1) = CdcReplica.sync(src, "src.t", t, "dst.t", Seq("k"))
    assert(s0 === s1)
    inSync()
    // ops accumulate; one tick catches up across all of them
    src.mergeUpsert("src.t", keyed(Seq((2L, "B"), (3L, "c"))), Seq("k"))
    src.delete("src.t", col("k") === 1L)
    val (f1, t1) = CdcReplica.sync(src, "src.t", t, "dst.t", Seq("k"))
    assert(f1 < t1)
    inSync()
    // no new commits: the tick is a no-op (and the crash-replay case:
    // a second tick after an applied-but-unmarked window would re-apply
    // the same window, which the previous test proves is a no-op)
    val (f2, t2) = CdcReplica.sync(src, "src.t", t, "dst.t", Seq("k"))
    assert(f2 === t2)
    inSync()
    // vacuum past the mark: the next catch-up must fail LOUDLY, never
    // silently skip the gap
    src.append("src.t", keyed(Seq((9L, "i"))))
    src.vacuum("src.t", keepLast = 1, graceMillis = 0L)
    intercept[IllegalArgumentException](
      CdcReplica.sync(src, "src.t", t, "dst.t", Seq("k")))
  }

  test("a retention-sweep window (40k deletes) applies distributed, both backends") {
    // the scale case the old literal-predicate delete path could not
    // survive: one upstream retention sweep produces a window whose
    // delete set must flow through the target's keyed COW anti-join
    // as a DataFrame — never a driver collect, never an isin literal
    for ((mkTarget, tag) <- Seq(
        ((_: LogTableStore) => new LogTableStore(spark, tmpDir("cdcbigdst")), "separate"),
        ((src: LogTableStore) => src, "same-root"))) {
      val src = new LogTableStore(spark, tmpDir(s"cdcbig$tag"))
      src.ensure("src.t", schema)
      src.append("src.t", spark.range(60000)
        .select(col("id").as("k"), concat(lit("v"), col("id")).as("s")))
      val t: TableStore = mkTarget(src)
      val (_, seeded) = CdcReplica.sync(src, "src.t", t, "dst.t", Seq("k"))
      val removedAtSource = src.delete("src.t", col("k") % 3 =!= 0L)
      assert(removedAtSource === 40000L)
      val to = src.versions("src.t").last
      val (nUp, nDel) =
        CdcReplica(src, "src.t", t, "dst.t", seeded, to, Seq("k"))
      assert(nDel === 40000L, s"$tag applied $nDel deletes")
      assert(nUp === 0L)
      assert(t.scan("dst.t").count() === 20000L)
      assert(t.scan("dst.t").where(col("k") % 3 =!= 0L).count() === 0L,
        s"$tag replica kept swept keys")
      CdcReplica.sync(src, "src.t", t, "dst.t", Seq("k")) // mark catch-up
    }
  }

  test("re-applying the most recent window is a no-op (crash-recovery replay)") {
    val src = new LogTableStore(spark, tmpDir("cdcsrc3"))
    val vs = buildSource(src)
    val t = new LogTableStore(spark, tmpDir("cdcr"))
    for (Seq(from, to) <- vs.sliding(2))
      CdcReplica(src, "src.t", t, "dst.t", from, to, Seq("k"))
    val before = contentOf(t, "dst.t")
    // the at-least-once crash case: the LAST applied window fires
    // again (an old window replayed out of order is NOT safe — the
    // consumer contract is ordered windows behind a high-water mark)
    CdcReplica(src, "src.t", t, "dst.t", vs(3), vs(4), Seq("k"))
    CdcReplica(src, "src.t", t, "dst.t", vs(3), vs(4), Seq("k"))
    assert(contentOf(t, "dst.t") === before)
  }
}
