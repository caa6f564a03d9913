package graft.store

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.SparkSpec
import java.nio.file.{Files, Paths}

/** The transactional (manifest-log) store: atomic commit visibility,
  * optimistic concurrency, copy-on-write pruning, time travel, vacuum
  * reachability. The trait-level MERGE/DELETE contract (S7/S8/S11,
  * evolution, snapshots, Bloom) is pinned in TableStoreSpec.
  */
class LogTableStoreSpec extends SparkSpec {

  private def freshRoot = tmpDir("logstore")
  private def storeAt(root: String) = new LogTableStore(spark, root)

  private def df(rows: Seq[(String, String, Double)]) = {
    val sp = spark
    import sp.implicits._
    rows.toDF("id", "part", "v")
  }

  private def keyed(rows: Seq[(Long, String)]) = {
    val sp = spark
    import sp.implicits._
    rows.toDF("k", "s")
  }

  private val schema = StructType(Seq(
    StructField("id", StringType), StructField("part", StringType),
    StructField("v", DoubleType)))

  private val keyedSchema = StructType(Seq(
    StructField("k", LongType), StructField("s", StringType)))

  test("ensure + append + scan round trip; partition columns stay in the data") {
    val store = storeAt(freshRoot)
    store.ensure("t.base", schema, Seq("part"))
    assert(store.exists("t.base"))
    assert(store.scan("t.base").count() === 0)
    store.ensure("t.base", schema, Seq("part")) // idempotent
    store.append("t.base", df(Seq(("a", "p1", 1.0), ("b", "p2", 2.0))))
    assert(store.scan("t.base").count() === 2)
    // partition column readable like any other (no hive-dir stripping)
    assert(store.scan("t.base").where(col("part") === "p2").count() === 1)
    assert(store.scanRange("t.base", "part", "p1", "p1").count() === 1)
  }

  test("ensure refuses a table directory the retired parquet store wrote") {
    // `_meta.json` + data files, no `_log`: an empty log created beside
    // them would make every old row silently vanish
    val root = freshRoot
    Files.createDirectories(Paths.get(root, "t/old"))
    Files.write(Paths.get(root, "t/old/_meta.json"), "{}".getBytes)
    val store = storeAt(root)
    val e = intercept[IllegalStateException] {
      store.ensure("t.old", schema)
    }
    assert(e.getMessage.contains("_meta.json"))
    assert(!store.exists("t.old"))
    assert(!Files.exists(Paths.get(root, "t/old/_log")))
  }

  test("atomicity: staged-but-uncommitted files are invisible; a new store instance sees only commits") {
    val root = freshRoot
    val store = storeAt(root)
    store.ensure("t.atomic", schema)
    store.append("t.atomic", df(Seq(("a", "p1", 1.0))))
    // simulate a crashed writer: drop a valid parquet file into data/
    // WITHOUT a manifest referencing it
    val dataDir = Paths.get(root, "t/atomic/data")
    df(Seq(("ghost", "p9", 9.0))).coalesce(1)
      .write.parquet(s"$root/__orphan__")
    val orphan = Files.walk(Paths.get(root, "__orphan__"))
      .filter(p => p.toString.endsWith(".parquet")).findFirst().get()
    Files.copy(orphan, dataDir.resolve("crashed-writer.parquet"))
    assert(store.scan("t.atomic").count() === 1,
      "unreferenced data files must be invisible to readers")
    // a fresh store instance (new JVM analogue) resolves the same state
    assert(storeAt(root).scan("t.atomic").count() === 1)
  }

  test("S7 mergeInsertOnly is idempotent and counts from footers (no extra action)") {
    val store = storeAt(freshRoot)
    store.ensure("t.ins", schema, Seq("part"))
    val batch = df(Seq(("a", "p1", 1.0), ("b", "p1", 2.0), ("a", "p1", 1.0)))
    assert(store.mergeInsertOnly("t.ins", batch, Seq("id")) === 2) // in-batch dedup
    assert(store.mergeInsertOnly("t.ins", batch, Seq("id")) === 0) // replay
    assert(store.scan("t.ins").count() === 2)
    assert(store.mergeInsertOnly("t.ins",
      df(Seq(("c", "p2", 3.0))), Seq("id")) === 1)
    assert(store.scan("t.ins").count() === 3)
  }

  test("key Bloom prefilter: correct under seed, replay, delete-then-reinsert, restart") {
    val root = freshRoot
    val store = storeAt(root)
    store.ensure("t.bloom", keyedSchema)
    store.append("t.bloom", keyed(Seq((1L, "a"), (2L, "b"))))
    // seed from existing contents (the append predates enabling)
    store.enableKeyBloom("t.bloom", Seq("k"), expectedItems = 1000L)
    assert(Files.exists(Paths.get(root, "t/bloom/_keybloom.bin")))
    // replay of seeded keys inserts zero; mixed batch inserts the rest
    assert(store.mergeInsertOnly("t.bloom",
      keyed(Seq((1L, "a"), (3L, "c"))), Seq("k")) === 1L)
    assert(store.mergeInsertOnly("t.bloom",
      keyed(Seq((1L, "a"), (2L, "b"), (3L, "c"))), Seq("k")) === 0L)
    assert(store.scan("t.bloom").count() === 3)
    // superset staleness is SAFE: delete a key, then re-insert it —
    // the filter still says might-contain, the probe says gone, row
    // lands again
    assert(store.delete("t.bloom", col("k") === 2L) === 1L)
    assert(store.mergeInsertOnly("t.bloom",
      keyed(Seq((2L, "b2"))), Seq("k")) === 1L)
    assert(store.scan("t.bloom").where(col("s") === "b2").count() === 1)
    // upserted keys enter the sidecar; a cold store reuses it
    store.mergeUpsert("t.bloom", keyed(Seq((9L, "i"))), Seq("k"))
    val cold = storeAt(root)
    cold.enableKeyBloom("t.bloom", Seq("k"), expectedItems = 1000L)
    assert(cold.mergeInsertOnly("t.bloom",
      keyed(Seq((9L, "i"), (10L, "j"))), Seq("k")) === 1L)
    assert(cold.scan("t.bloom").count() === 5)
  }

  test("Bloom version gate: un-absorbed key-adding commits disable the fast path (no silent duplicates)") {
    val root = freshRoot
    val store = storeAt(root)
    store.ensure("t.bgate", keyedSchema)
    store.enableKeyBloom("t.bgate", Seq("k"), expectedItems = 1000L)
    assert(store.mergeInsertOnly("t.bgate",
      keyed(Seq((1L, "a"), (2L, "b"))), Seq("k")) === 2L)
    // a key-adding commit that bypasses absorption (plain append —
    // the contract-violating path, standing in for a crashed absorb
    // or a foreign writer): key 3 exists in the table but NOT in the
    // sidecar. Pre-r9 the unversioned filter called it "definitely
    // fresh", skipped the anti-join, and inserted a duplicate.
    store.append("t.bgate", keyed(Seq((3L, "c"))))
    assert(store.mergeInsertOnly("t.bgate",
      keyed(Seq((3L, "dup"), (4L, "d"))), Seq("k")) === 1L,
      "lagging sidecar must fall back to the anti-join")
    val perKey = store.scan("t.bgate").groupBy("k").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(perKey === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L),
      s"duplicate keys after lagged merge: $perKey")
    // the fallback merge re-seeded the sidecar — a replay of the
    // append-introduced key is now caught through the fast path too
    assert(store.mergeInsertOnly("t.bgate",
      keyed(Seq((3L, "dup2"), (5L, "e"))), Seq("k")) === 1L)
    assert(store.scan("t.bgate").where(col("k") === 3L).count() === 1L)
    // delete-only gaps keep coverage (shrink staleness stays safe):
    // no re-seed needed, replayed key still caught
    assert(store.delete("t.bgate", col("k") === 1L) === 1L)
    assert(store.mergeInsertOnly("t.bgate",
      keyed(Seq((2L, "dup3"), (6L, "f"))), Seq("k")) === 1L)
    assert(store.scan("t.bgate").where(col("k") === 2L).count() === 1L)
    // a SECOND instance over the same root shares the JVM lock and
    // caches (companion-keyed) — replay through it stays exact
    val twin = storeAt(root)
    twin.enableKeyBloom("t.bgate", Seq("k"), expectedItems = 1000L)
    assert(twin.mergeInsertOnly("t.bgate",
      keyed(Seq((6L, "dup4"), (7L, "g"))), Seq("k")) === 1L)
    assert(twin.scan("t.bgate").groupBy("k").count()
      .where(col("count") > 1).count() === 0L)
  }

  test("mergeInsertOnly probe is zone-pruned: a key-window batch never reads out-of-window files") {
    val store = storeAt(freshRoot)
    store.ensure("t.zp2", keyedSchema)
    store.append("t.zp2", keyed((1L to 40L).map(i => (i, s"old$i"))))
    store.append("t.zp2", keyed((1000L to 1040L).map(i => (i, s"hist$i"))))
    // an incoming batch whose key window misses the historical file:
    // the anti-join must plan only in-window files, so even with a
    // listener counting rows read, the historical segment stays cold.
    // Assert via job-level inputFiles of the probe's plan twin:
    val incoming = keyed(Seq((35L, "dup"), (41L, "new")))
    val planned = store.scanRange("t.zp2", "k", "35", "41").inputFiles.toSet
    val historical = store.scanRange("t.zp2", "k", "1000", "1040").inputFiles.toSet
    assert(historical.nonEmpty && planned.intersect(historical).isEmpty)
    assert(store.mergeInsertOnly("t.zp2", incoming, Seq("k")) === 1L)
    val got = store.scan("t.zp2").count()
    assert(got === 40 + 41 + 1)
    // replay of the same batch inserts zero (the pruned probe still
    // sees the in-window duplicate AND the just-inserted key)
    assert(store.mergeInsertOnly("t.zp2", incoming, Seq("k")) === 0L)
  }

  test("S8 mergeUpsert: incoming wins, unmatched kept; provably-unmatched files are NOT rewritten") {
    val store = storeAt(freshRoot)
    store.ensure("t.up", keyedSchema)
    // two appends → two file sets with disjoint key zones
    store.append("t.up", keyed(Seq((1L, "one"), (2L, "two"))))
    store.append("t.up", keyed(Seq((100L, "hundred"), (200L, "two-hundred"))))
    val beforePaths = store.scan("t.up").inputFiles.toSet
    // the files an upsert of keys [2, 3] may touch = those whose key
    // zone intersects that range; everything else must survive verbatim
    val candidatePaths = store.scanRange("t.up", "k", "2", "3").inputFiles.toSet
    val untouchedPaths = beforePaths -- candidatePaths
    assert(candidatePaths.nonEmpty && untouchedPaths.nonEmpty)
    store.mergeUpsert("t.up", keyed(Seq((2L, "TWO"), (3L, "three"))), Seq("k"))
    val out = store.scan("t.up").collect()
      .map(r => r.getAs[Long]("k") -> r.getAs[String]("s")).toMap
    assert(out === Map(1L -> "one", 2L -> "TWO", 3L -> "three",
      100L -> "hundred", 200L -> "two-hundred"))
    val afterPaths = store.scan("t.up").inputFiles.toSet
    assert(untouchedPaths.subsetOf(afterPaths),
      "zone-unmatched files were rewritten — copy-on-write pruning broke")
    assert(candidatePaths.intersect(afterPaths).isEmpty,
      "matched files must be replaced, not patched")
    // idempotent under replay
    store.mergeUpsert("t.up", keyed(Seq((2L, "TWO"), (3L, "three"))), Seq("k"))
    assert(store.scan("t.up").count() === 5)
  }

  test("S11 delete: rewrites only files that contain matches, returns removed count") {
    val store = storeAt(freshRoot)
    store.ensure("t.del", keyedSchema)
    store.append("t.del", keyed(Seq((1L, "a"), (2L, "b"))))
    store.append("t.del", keyed(Seq((10L, "x"), (11L, "y"))))
    val untouchedFiles = store.scanRange("t.del", "k", "10", "11").inputFiles.toSet
    assert(store.delete("t.del", col("k") === 2L) === 1L)
    assert(store.scan("t.del").collect().map(_.getAs[Long]("k")).sorted
      === Array(1L, 10L, 11L))
    assert(untouchedFiles.subsetOf(store.scan("t.del").inputFiles.toSet),
      "files without matching rows must be carried forward untouched")
    // no-match delete is a no-op version-wise
    val vBefore = store.versions("t.del").last
    assert(store.delete("t.del", col("k") === 999L) === 0L)
    assert(store.versions("t.del").last === vBefore)
  }

  test("ZonePredicate analyzes range/equality shapes; widens or refuses everything else") {
    import org.apache.spark.sql.functions.{col => c, lit}
    def w(p: org.apache.spark.sql.Column) = ZonePredicate.analyze(p)
    assert(w(c("k") === 5L) === Some(ZoneWindow("k", Some("5"), Some("5"))))
    assert(w(lit(5L) === c("k")) === Some(ZoneWindow("k", Some("5"), Some("5"))))
    assert(w(c("ts") < "2024-02-01") ===
      Some(ZoneWindow("ts", None, Some("2024-02-01"))))
    assert(w(c("k") >= 10L) === Some(ZoneWindow("k", Some("10"), None)))
    assert(w(lit(10L) > c("k")) === Some(ZoneWindow("k", None, Some("10"))))
    assert(w(c("k").between(3L, 9L)) ===
      Some(ZoneWindow("k", Some("3"), Some("9"))))
    // one analyzable conjunct still prunes soundly
    assert(w(c("k") >= 10L && c("s").contains("x")) ===
      Some(ZoneWindow("k", Some("10"), None)))
    // refusals: disjunction, multi-column conjunction, arithmetic
    assert(w(c("k") === 1L || c("k") === 9L).isEmpty)
    assert(w(c("k") % 7 === 0).isEmpty)
    assert(w(c("a") > 1L && c("b") < 2L).map(_.col).exists(Set("a", "b")))
  }

  test("delete with a range predicate zone-prunes its probe; out-of-zone delete is IO-free") {
    val store = storeAt(freshRoot)
    store.ensure("t.rdel", keyedSchema)
    store.append("t.rdel", keyed((1L to 40L).map(i => (i, s"a$i"))))
    store.append("t.rdel", keyed((1000L to 1040L).map(i => (i, s"b$i"))))
    // retention-style range delete: only the old segment rewrites
    val untouched = store.scanRange("t.rdel", "k", "1000", "1040").inputFiles.toSet
    assert(store.delete("t.rdel", col("k") <= 40L) === 40L)
    assert(store.scan("t.rdel").count() === 41)
    assert(untouched.subsetOf(store.scan("t.rdel").inputFiles.toSet))
    // a delete whose window misses every zone commits nothing and
    // never plans a scan over the data
    val vBefore = store.versions("t.rdel").last
    assert(store.delete("t.rdel", col("k") === 500L) === 0L)
    assert(store.versions("t.rdel").last === vBefore)
  }

  test("time travel + rollback: every commit is a readable version; rollback is append-only") {
    val store = storeAt(freshRoot)
    store.ensure("t.tt", keyedSchema)
    store.append("t.tt", keyed(Seq((1L, "a"))))                  // v2
    store.append("t.tt", keyed(Seq((2L, "b"))))                  // v3
    store.delete("t.tt", col("k") === 1L)                        // v4
    assert(store.scanAt("t.tt", 2).collect().map(_.getLong(0)).sorted === Array(1L))
    assert(store.scanAt("t.tt", 3).collect().map(_.getLong(0)).sorted === Array(1L, 2L))
    assert(store.scan("t.tt").collect().map(_.getLong(0)) === Array(2L))
    store.rollback("t.tt", 3)                                    // v5 = v3's files
    assert(store.scan("t.tt").collect().map(_.getLong(0)).sorted === Array(1L, 2L))
    // the rolled-back-FROM state is still readable (history append-only)
    assert(store.scanAt("t.tt", 4).collect().map(_.getLong(0)) === Array(2L))
  }

  test("schema evolution is metadata-only: old files surface NULL, no rewrite") {
    val store = storeAt(freshRoot)
    store.ensure("t.evo", keyedSchema)
    store.append("t.evo", keyed(Seq((1L, "a"))))
    val filesBefore = store.scan("t.evo").inputFiles.toSet
    store.addColumn("t.evo", StructField("w", DoubleType))
    assert(store.scan("t.evo").inputFiles.toSet === filesBefore,
      "addColumn must not rewrite data")
    val row = store.scan("t.evo").head()
    assert(row.isNullAt(row.fieldIndex("w")))
    // old versions keep the old schema
    assert(!store.scanAt("t.evo", 2).columns.contains("w"))
    // new appends carry the column
    val sp = spark; import sp.implicits._
    store.append("t.evo", Seq((2L, "b", 2.5)).toDF("k", "s", "w"))
    assert(store.scan("t.evo").where(col("w") === 2.5).count() === 1)
  }

  test("optimistic concurrency: a stale rewrite aborts loudly; appends re-base and win") {
    val root = freshRoot
    val a = storeAt(root)
    val b = storeAt(root) // second committer (separate-process analogue)
    a.ensure("t.cc", keyedSchema)
    a.append("t.cc", keyed(Seq((1L, "a"))))
    // b commits between a's read and a's rewrite commit: simulate by
    // pre-publishing the version a's delete will try to take
    val vNext = a.versions("t.cc").last + 1
    b.append("t.cc", keyed(Seq((2L, "b")))) // takes vNext
    assert(Files.exists(Paths.get(root, "t/cc/_log", f"v$vNext%020d.json")))
    // a's append still succeeds (re-bases onto b's commit)
    a.append("t.cc", keyed(Seq((3L, "c"))))
    assert(a.scan("t.cc").count() === 3)
  }

  test("multi-writer stress: racing appenders from independent store instances all land") {
    // two LogTableStore instances = two processes in miniature: no
    // shared jvmLock, so every commit races through the hardlink-CAS
    // for real. All appends must land exactly once and the version
    // chain must be dense.
    val root = freshRoot
    val init = storeAt(root)
    init.ensure("t.race", keyedSchema)
    val writers = 4
    val perWriter = 6
    val pool = java.util.concurrent.Executors.newFixedThreadPool(writers)
    try {
      val futures = (0 until writers).map { w =>
        pool.submit(new java.util.concurrent.Callable[Unit] {
          def call(): Unit = {
            val own = storeAt(root) // independent instance per "process"
            for (i <- 0 until perWriter)
              own.append("t.race", keyed(Seq(((w * 1000 + i).toLong, s"w$w-$i"))))
          }
        })
      }
      futures.foreach(_.get(120, java.util.concurrent.TimeUnit.SECONDS))
    } finally pool.shutdown()
    val ks = init.scan("t.race").collect().map(_.getLong(0)).sorted
    val expected = (for (w <- 0 until writers; i <- 0 until perWriter)
      yield (w * 1000 + i).toLong).sorted
    assert(ks.toSeq === expected, "a racing append was lost or duplicated")
    val vs = init.versions("t.race")
    assert(vs === (1L to (1 + writers * perWriter)).toSeq,
      s"version chain not dense: $vs")
  }

  test("vacuum: drops expired manifests, deletes only unreachable files, clears staging debris") {
    val root = freshRoot
    val store = storeAt(root)
    store.ensure("t.vac", keyedSchema)
    store.append("t.vac", keyed(Seq((1L, "a"))))        // v2
    store.delete("t.vac", col("k") === 1L)              // v3 (v2's file now historical)
    store.append("t.vac", keyed(Seq((2L, "b"))))        // v4
    val dataDir = Paths.get(root, "t/vac/data")
    def parquetCount = {
      val s = Files.walk(dataDir)
      try s.filter(p => p.toString.endsWith(".parquet")).count()
      finally s.close()
    }
    assert(parquetCount === 2) // v2's file + v4's file
    // graceMillis = 0: single-process test, no concurrent writers —
    // the aged-reclamation path has its own test below
    val (expired, deleted) = store.vacuum("t.vac", keepLast = 2,
      graceMillis = 0L)
    assert(expired === Seq(1L, 2L))
    assert(deleted === 1L) // v2's file unreachable from v3/v4
    assert(parquetCount === 1)
    assert(store.scan("t.vac").collect().map(_.getLong(0)) === Array(2L))
    assert(store.versions("t.vac") === Seq(3L, 4L))
    intercept[IllegalArgumentException](store.scanAt("t.vac", 2))
  }

  test("vacuum grace window: fresh unreferenced files survive; aged ones are reclaimed") {
    val root = freshRoot
    val store = storeAt(root)
    store.ensure("t.grace", keyedSchema)
    store.append("t.grace", keyed(Seq((1L, "a"))))      // v2
    store.delete("t.grace", col("k") === 1L)            // v3
    store.append("t.grace", keyed(Seq((2L, "b"))))      // v4
    val dataDir = Paths.get(root, "t/grace/data")
    // a concurrent writer mid-transaction: files staged into data/ but
    // not yet published by a commit (stage() runs before tryCommit),
    // plus an in-flight _staging dir — both FRESH
    val live = {
      val s = Files.walk(dataDir)
      try s.filter(_.toString.endsWith(".parquet")).toArray
        .map(_.asInstanceOf[java.nio.file.Path]).toSeq
      finally s.close()
    }
    val orphan = dataDir.resolve("inflight-writer-part-0.parquet")
    Files.copy(live.head, orphan)
    val stagingTx = Paths.get(root, "t/grace/_staging/inflight-tx")
    Files.createDirectories(stagingTx)
    Files.write(stagingTx.resolve("part-0.parquet"), Array[Byte](1, 2, 3))
    // default grace: expired manifests drop, but NO fresh file dies —
    // the in-flight writer's staged work survives
    val (expired, deleted) = store.vacuum("t.grace", keepLast = 1)
    assert(expired.nonEmpty)
    assert(deleted === 0L,
      "vacuum reclaimed files younger than the grace window")
    assert(Files.exists(orphan) && Files.exists(stagingTx))
    assert(store.scan("t.grace").collect().map(_.getLong(0)) === Array(2L))
    // age everything an hour into the past; a 30-minute grace now
    // reclaims the unreferenced files and the staging dir, and only
    // those — referenced files are never age-eligible
    val old = java.nio.file.attribute.FileTime.fromMillis(
      System.currentTimeMillis() - 3600L * 1000)
    val s2 = Files.walk(Paths.get(root, "t/grace"))
    try s2.toArray.map(_.asInstanceOf[java.nio.file.Path])
      .foreach(p => Files.setLastModifiedTime(p, old))
    finally s2.close()
    val (_, deleted2) = store.vacuum("t.grace", keepLast = 1,
      graceMillis = 30L * 60 * 1000)
    assert(deleted2 >= 2L, s"expected the aged unreferenced files gone, got $deleted2")
    assert(!Files.exists(orphan) && !Files.exists(stagingTx))
    assert(store.scan("t.grace").collect().map(_.getLong(0)) === Array(2L))
  }

  test("scanRange prunes files from manifest zones (no candidate file IO at plan time)") {
    val store = storeAt(freshRoot)
    store.ensure("t.zp", keyedSchema)
    store.append("t.zp", keyed((1L to 50L).map(i => (i, s"v$i"))))
    store.append("t.zp", keyed((1000L to 1050L).map(i => (i, s"v$i"))))
    val all = store.scan("t.zp").inputFiles.toSet
    val pruned = store.scanRange("t.zp", "k", "1000", "1050").inputFiles.toSet
    assert(pruned.nonEmpty && pruned.size < all.size,
      s"zone pruning kept ${pruned.size}/${all.size} files")
    assert(store.scanRange("t.zp", "k", "1000", "1050").count() === 51)
    // range with no possible file → empty scan, correct schema
    val empty = store.scanRange("t.zp", "k", "5000", "6000")
    assert(empty.count() === 0 && empty.columns.toSeq === Seq("k", "s"))
  }

  test("s14_tx_store gate query: committed end state equals the declarative twin") {
    val dir = "/root/testdata/sf0.001"
    val got = graft.SparkEntry.queries("s14_tx_store")(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val expected = graft.Tables.orders(spark, dir)
      .filter(col("o_orderkey") % 7 =!= 0)
      .select(col("o_orderkey"),
        when(col("o_orderkey") % 5 === 0, col("o_totalprice") * lit(1.1))
          .otherwise(col("o_totalprice")).as("price"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got.size === expected.size)
    assert(got === expected)
  }

  test("appendOnce: replayed micro-batches are no-ops from the log's txn marks alone") {
    val root = freshRoot
    val store = storeAt(root)
    store.ensure("t.eo", keyedSchema)
    assert(store.appendOnce("t.eo", keyed(Seq((1L, "a"))), "query-1", 0L))
    assert(store.appendOnce("t.eo", keyed(Seq((2L, "b"))), "query-1", 1L))
    // foreachBatch re-delivery after checkpoint recovery: same batch id
    assert(!store.appendOnce("t.eo", keyed(Seq((2L, "b"))), "query-1", 1L),
      "replayed batch must be recognized and skipped")
    assert(!store.appendOnce("t.eo", keyed(Seq((1L, "a"))), "query-1", 0L))
    assert(store.scan("t.eo").count() === 2, "replay must not duplicate rows")
    // an EMPTY batch still advances the mark (else it replays forever)
    assert(store.appendOnce("t.eo", keyed(Nil), "query-1", 2L))
    assert(!store.appendOnce("t.eo", keyed(Nil), "query-1", 2L))
    // independent writers do not interfere
    assert(store.appendOnce("t.eo", keyed(Seq((3L, "c"))), "query-2", 0L))
    assert(store.scan("t.eo").count() === 3)
    // marks survive a cold store (new JVM analogue) AND vacuum's
    // checkpointing of the oldest retained version
    store.vacuum("t.eo", keepLast = 2)
    val cold = storeAt(root)
    assert(!cold.appendOnce("t.eo", keyed(Seq((2L, "b"))), "query-1", 1L),
      "txn high-water marks must survive restart and log truncation")
    assert(cold.scan("t.eo").count() === 3)
    // rollback keeps the marks: restoring data must not re-admit
    // already-applied batches
    val v = cold.versions("t.eo").head
    cold.rollback("t.eo", v)
    assert(!cold.appendOnce("t.eo", keyed(Seq((2L, "b"))), "query-1", 1L))
  }

  test("appendOnce as a foreachBatch sink: live micro-batches land once, re-delivery skipped") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    val store = storeAt(freshRoot)
    store.ensure("t.stream", keyedSchema)
    var lastBatch: (org.apache.spark.sql.DataFrame, Long) = null
    val query = input.toDF().toDF("k", "s").writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
        lastBatch = (df.persist(), id)
        store.appendOnce("t.stream", df, "stream-q1", id)
        ()
      }
      .option("checkpointLocation", tmpDir("eockpt"))
      .start()
    input.addData((1L, "a"), (2L, "b"))
    query.processAllAvailable()
    input.addData((3L, "c"))
    query.processAllAvailable()
    query.stop()
    assert(store.scan("t.stream").count() === 3)
    // foreachBatch's contract: after a crash the LAST batch may be
    // delivered AGAIN with the same batchId — replay it verbatim
    val applied = store.appendOnce("t.stream", lastBatch._1, "stream-q1", lastBatch._2)
    assert(!applied && store.scan("t.stream").count() === 3,
      "re-delivered foreachBatch must be a no-op")
    lastBatch._1.unpersist()
  }

  test("changes(): row-level CDC from changed files only — insert/delete/update classified") {
    val root = freshRoot
    val store = storeAt(root)
    store.ensure("t.cdc", keyedSchema)
    store.append("t.cdc", keyed(Seq((1L, "a"), (2L, "b"))))          // v2
    store.append("t.cdc", keyed(Seq((100L, "far"))))                 // v3 (own file)
    val vFrom = store.versions("t.cdc").last
    store.mergeUpsert("t.cdc", keyed(Seq((2L, "B2"), (3L, "c"))), Seq("k")) // v4
    store.delete("t.cdc", col("k") === 1L)                           // v5
    val vTo = store.versions("t.cdc").last
    val diff = store.changes("t.cdc", vFrom, vTo, Seq("k")).collect()
      .map(r => r.getAs[Long]("k") -> r.getAs[String]("_change_type")).toMap
    assert(diff === Map(1L -> "delete", 2L -> "update_postimage", 3L -> "insert"))
    // the far key's file was untouched by the window → it must not be
    // read at all (O(changed files), the whole point)
    val planned = store.changes("t.cdc", vFrom, vTo, Seq("k")).inputFiles
    val farFile = store.scanRange("t.cdc", "k", "100", "100").inputFiles.head
    assert(!planned.contains(farFile),
      "CDC read an untouched file — diff must be O(changed files)")
    // unchanged survivor rows carried through a rewrite are NOT changes
    assert(!diff.contains(100L))
  }

  test("close() evicts this root's JVM-global caches; a reopened store still works") {
    val sp = spark
    import sp.implicits._
    val root = freshRoot
    val rootKey = Paths.get(root).toAbsolutePath.normalize.toString
    val store = storeAt(root)
    store.ensure("t.cl", keyedSchema)
    store.enableKeyBloom("t.cl", Seq("k"), expectedItems = 1000L)
    store.mergeInsertOnly("t.cl", keyed(Seq((1L, "a"), (2L, "b"))), Seq("k"))
    store.scan("t.cl").count()
    assert(LogTableStore.cacheEntryCount(rootKey) > 0,
      "expected live lock/manifest/bloom cache entries before close")
    store.close()
    assert(LogTableStore.cacheEntryCount(rootKey) === 0,
      "close() left companion cache entries behind")
    // an abandoned-then-reopened root repopulates from disk: the bloom
    // fast path still guards (replay inserts zero), data intact
    val reopened = storeAt(root)
    reopened.enableKeyBloom("t.cl", Seq("k"), expectedItems = 1000L)
    assert(reopened.mergeInsertOnly("t.cl",
      keyed(Seq((1L, "a"), (3L, "c"))), Seq("k")) === 1L)
    assert(reopened.scan("t.cl").count() === 3L)
    reopened.close()
  }

  test("mergeUpsert: a mixed update+append batch rewrites only the " +
      "touched key clusters (numeric refinement + string probe)") {
    // the r13 CDC-decade find: candidacy from the batch's SINGLE
    // [min, max] window turns any mixed batch (mid-table update +
    // key-tail insert — every CDC change window) into an O(key span)
    // rewrite. Numeric keys: quantile-bucket windows exclude the
    // inter-cluster gap. String keys: the coarse window stays wide, so
    // a touched-file data probe narrows the rewrite instead. Both
    // paths only engage past the small-candidate fast path, so the
    // fixture lays down 8 disjoint-zone files.
    val sp = spark
    import sp.implicits._

    // numeric arm
    val store = storeAt(freshRoot)
    store.ensure("t.mx", keyedSchema)
    for (b <- 0 until 8)
      store.append("t.mx",
        keyed((0 until 10).map(j => ((b * 100 + j).toLong, s"f$b-$j"))))
    val before = store.scan("t.mx").inputFiles.toSet
    val touched = store.scanRange("t.mx", "k", "105", "105").inputFiles.toSet
    assert(touched.size === 1)
    // update one key in file 1's zone + insert past every zone: the
    // coarse window [105, 9000] spans files 1..7
    store.mergeUpsert("t.mx",
      keyed(Seq((105L, "UPD"), (9000L, "new9000"), (9001L, "new9001"))),
      Seq("k"))
    val after = store.scan("t.mx").inputFiles.toSet
    assert((before -- touched).subsetOf(after),
      "mixed batch rewrote files outside its touched key clusters — " +
        "the single-window candidacy regression")
    assert(touched.intersect(after).isEmpty,
      "the matched file must be replaced")
    assert(store.scan("t.mx").count() === 82)
    assert(store.scan("t.mx").where(col("k") === 105L)
      .head().getString(1) === "UPD")

    // string arm (no quantiles possible — the data probe must bound it)
    val sKeyed = StructType(Seq(
      StructField("k", StringType), StructField("s", StringType)))
    store.ensure("t.ms", sKeyed)
    for (b <- 0 until 8)
      store.append("t.ms", (0 until 10)
        .map(j => (f"${('a' + b).toChar}$j%02d", s"f$b-$j")).toDF("k", "s"))
    val beforeS = store.scan("t.ms").inputFiles.toSet
    val touchedS = store.scanRange("t.ms", "k", "b05", "b05").inputFiles.toSet
    assert(touchedS.size === 1)
    store.mergeUpsert("t.ms",
      Seq(("b05", "UPD"), ("zz1", "new1"), ("zz2", "new2")).toDF("k", "s"),
      Seq("k"))
    val afterS = store.scan("t.ms").inputFiles.toSet
    assert((beforeS -- touchedS).subsetOf(afterS),
      "string-keyed mixed batch rewrote untouched files — the probe " +
        "is not bounding the rewrite")
    assert(touchedS.intersect(afterS).isEmpty)
    assert(store.scan("t.ms").count() === 82)
    assert(store.scan("t.ms").where(col("k") === "b05")
      .head().getString(1) === "UPD")

    // URL-shaped string keys (the r13 judge find): every key shares a
    // >7-byte constant prefix, so a scalar built from the FIRST 7
    // UTF-8 bytes is batch-constant — one quantile bucket, refinement
    // collapses to the coarse window, and the touched-file probe
    // reads the key column of EVERY coarse candidate (O(table files)
    // for a 10-row tick). The fixed scalar strips the batch-wide
    // common prefix (derived from the coarse min/max) first, so the
    // candidacy itself must land on the touched clusters: assert the
    // CANDIDATE SET directly via the test hook — ≤ RefineCandidatesAbove
    // files for a 2-cluster batch over 8 disjoint-zone files.
    val url = (k: String) => s"https://corpus.example/docs/shard/$k"
    val sKeyed2 = StructType(Seq(
      StructField("k", StringType), StructField("s", StringType)))
    store.ensure("t.mu", sKeyed2)
    for (b <- 0 until 8)
      store.append("t.mu", (0 until 10)
        .map(j => (url(f"${('a' + b).toChar}$j%02d"), s"f$b-$j"))
        .toDF("k", "s"))
    val mixed = Seq((url("b05"), "UPD"), (url("zz1"), "new1"),
      (url("zz2"), "new2")).toDF("k", "s")
    val cand = store.keyCandidatePaths("t.mu", mixed, Seq("k"))
    assert(cand.size <= 4,
      s"URL-keyed mixed batch's zone candidacy is ${cand.size} files " +
        "of 8 — the shared >7-byte prefix collapsed the quantile " +
        "refinement back to the coarse window")
    val beforeU = store.scan("t.mu").inputFiles.toSet
    val touchedU = store.scanRange("t.mu", "k",
      url("b05"), url("b05")).inputFiles.toSet
    assert(touchedU.size === 1)
    store.mergeUpsert("t.mu", mixed, Seq("k"))
    assert((beforeU -- touchedU).subsetOf(store.scan("t.mu").inputFiles.toSet))
    assert(store.scan("t.mu").count() === 82)
    assert(store.scan("t.mu").where(col("k") === url("b05"))
      .head().getString(1) === "UPD")
    // padding correctness across unequal key lengths: "b" vs "aa"
    // ("b" > "aa" lexicographically; an unpadded scalar inverts them
    // and scatters clusters — safe but loose; padded must stay tight)
    store.ensure("t.mw", sKeyed2)
    store.append("t.mw", Seq(("aa", "1"), ("ab", "2")).toDF("k", "s"))
    store.append("t.mw", Seq(("b", "3"), ("bb", "4")).toDF("k", "s"))
    store.append("t.mw", Seq(("c1", "5"), ("c2", "6")).toDF("k", "s"))
    store.append("t.mw", Seq(("d1", "7"), ("d2", "8")).toDF("k", "s"))
    store.append("t.mw", Seq(("x1", "9"), ("x2", "10")).toDF("k", "s"))
    store.append("t.mw", Seq(("y1", "11"), ("y2", "12")).toDF("k", "s"))
    store.append("t.mw", Seq(("z1", "13"), ("z2", "14")).toDF("k", "s"))
    val mixedW = Seq(("b", "UPD"), ("z9", "new")).toDF("k", "s")
    val candW = store.keyCandidatePaths("t.mw", mixedW, Seq("k"))
    // coarse window [b, z9] spans 6 of 7 files (>4 → refinement
    // runs); refined clusters {b} and {z9} must drop the c/d/x/y
    // files, and z9 lies past the z file's zone — so only b's file
    assert(candW.size <= 2,
      s"short-key candidacy kept ${candW.size} of 7 files — the " +
        "padded prefix scalar is not separating unequal-length keys")
  }

  test("deleteKeys: zone-pruned COW — only files actually holding matching keys are rewritten") {
    val sp = spark
    import sp.implicits._
    val store = storeAt(freshRoot)
    store.ensure("t.dk", keyedSchema)
    // three appends with disjoint key ranges → three file sets with
    // disjoint zones on k
    store.append("t.dk", keyed((0L until 10L).map(k => (k, s"a$k"))))
    store.append("t.dk", keyed((100L until 110L).map(k => (k, s"b$k"))))
    store.append("t.dk", keyed((200L until 210L).map(k => (k, s"c$k"))))
    val farFiles = store.scanRange("t.dk", "k", "200", "209").inputFiles.toSet
    val removed = store.deleteKeys("t.dk",
      Seq(100L, 105L, 999L).toDF("k"), Seq("k"))
    assert(removed === 2L) // 999 matches nothing
    assert(store.scan("t.dk").count() === 28L)
    assert(store.scan("t.dk").where(col("k").isin(100L, 105L)).count() === 0L)
    // the far range's physical files survived the rewrite untouched
    val after = store.scan("t.dk").inputFiles.toSet
    assert(farFiles.subsetOf(after),
      "deleteKeys rewrote files whose key zones provably held no match")
    // a provably-disjoint key frame is a metadata-only no-op: no new
    // version, no rewrite
    val vBefore = store.versions("t.dk").last
    assert(store.deleteKeys("t.dk", Seq(5000L).toDF("k"), Seq("k")) === 0L)
    assert(store.versions("t.dk").last === vBefore)
  }

  test("compact(): folds small files into few, zones narrow under clusterBy, history intact") {
    val store = storeAt(freshRoot)
    store.ensure("t.cp", keyedSchema)
    // interleaved key ranges across many small append files
    for (i <- 0 until 6)
      store.append("t.cp", keyed((0 until 10).map(j => ((j * 6 + i).toLong, s"r$i-$j"))))
    val beforeFiles = store.scan("t.cp").inputFiles.length
    val beforeRows = store.scan("t.cp").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    val vBefore = store.versions("t.cp").last
    val (folded, written) = store.compact("t.cp", clusterBy = Seq("k"))
    assert(folded.toInt === beforeFiles && written < folded,
      s"folded $folded of $beforeFiles into $written")
    val after = store.scan("t.cp")
    assert(after.inputFiles.length === written.toInt)
    assert(after.collect().map(r => (r.getLong(0), r.getString(1))).toSet
      === beforeRows, "compaction must not change table content")
    // clusterBy gave the new files disjoint key ranges → a narrow range
    // now touches ONE file where the interleaved smalls all matched
    if (written > 1) {
      val pruned = store.scanRange("t.cp", "k", "0", "5").inputFiles.length
      assert(pruned < written.toInt,
        s"range scan read $pruned of $written clustered files — zones did not narrow")
    }
    // pre-compaction version still readable (folded files not deleted)
    assert(store.scanAt("t.cp", vBefore).count() === 60)
    // second compact is a no-op shape (everything already right-sized
    // relative to the tiny corpus folds into one file ≤ once more)
    val (f2, _) = store.compact("t.cp", clusterBy = Seq("k"))
    assert(f2 <= written)
  }

  test("compactZOrder: manifest zones bound BOTH dimensions per file") {
    val sp = spark
    import sp.implicits._
    val root = freshRoot
    val store = storeAt(root)
    val schema2d = StructType(Seq(
      StructField("x", LongType), StructField("y", LongType)))
    store.ensure("t.z", schema2d)
    // a 32×32 grid in row-major (= lexicographic by x) order; enough
    // output files that the z-curve recursion reaches BOTH dims' bits
    store.append("t.z", (0 until 32)
      .flatMap(a => (0 until 32).map(b => (a.toLong, b.toLong))).toDF("x", "y"))
    val (_, written) = store.compactZOrder("t.z",
      targetBytes = 512, dimA = "x", dimB = "y")
    assert(written >= 8, s"need >=8 files to observe 2-D clustering, got $written")
    assert(store.scan("t.z").count() === 1024)
    // read the spans straight from the COMMITTED manifest zones — the
    // exact numbers the driver-side pruning consumes
    val log = Paths.get(root, "t/z/_log")
    val vLast = store.versions("t.z").last
    val commit = LogTableStore.parseCommit(new String(
      Files.readAllBytes(log.resolve(f"v$vLast%020d.json")), "UTF-8"))
    val spans = commit.add.map { f =>
      def span(c: String) = {
        val z = f.zones(c); z.maxS.get.toLong - z.minS.get.toLong
      }
      (span("x"), span("y"))
    }
    val avgX = spans.map(_._1).sum.toDouble / spans.length
    val avgY = spans.map(_._2).sum.toDouble / spans.length
    assert(avgX < 20, s"x not clustered in manifest zones: avg span $avgX of 31")
    assert(avgY < 20, s"y not clustered in manifest zones: avg span $avgY of 31")
    // and the zones actually prune: a quadrant scan reads a subset
    val pruned = store.scanRange("t.z", "y", "0", "7").inputFiles.length
    assert(pruned < written.toInt,
      s"y-quadrant read $pruned of $written z-ordered files")
  }

  test("a corrupt checkpoint falls back to the delta chain; a corrupt commit fails loudly") {
    val root = freshRoot
    val store = new LogTableStore(spark, root, checkpointInterval = 4)
    store.ensure("t.corrupt", keyedSchema)
    for (i <- 1 to 5) store.append("t.corrupt", keyed(Seq((i.toLong, s"v$i"))))
    // checkpoints land off the commit path (r15) — quiesce before
    // asserting on their files
    assert(LogTableStore.awaitBackgroundCheckpoints())
    val log = Paths.get(root, "t/corrupt/_log")
    val cp4 = log.resolve(f"v${4L}%020d.checkpoint.json")
    assert(Files.exists(cp4))
    // truncate the checkpoint: redundant metadata → resolution heals
    Files.write(cp4, "{\"version\": 4, \"op\": \"chec".getBytes("UTF-8"))
    val cold = new LogTableStore(spark, root, checkpointInterval = 4)
    assert(cold.scan("t.corrupt").count() === 5,
      "a corrupt checkpoint must not take the table down")
    assert(cold.scanAt("t.corrupt", 4).count() === 3)
    // a corrupt COMMIT is the source of truth → loud failure. The
    // corrupt entry is a NEW version: resolved manifests are cached
    // JVM-wide (immutable by protocol), so only an unresolved version
    // exercises the parse path — which is also the real failure shape
    // (a half-written commit from a dying writer)
    Files.write(log.resolve(f"v${7L}%020d.json"), "garbage".getBytes("UTF-8"))
    val cold2 = new LogTableStore(spark, root, checkpointInterval = 4)
    intercept[Exception](cold2.scan("t.corrupt").count())
  }

  test("zone pruning on astral-plane string keys: UTF-8 order, no silently missed rows") {
    // U+10000+ characters encode as UTF-16 surrogates (0xD800-0xDFFF),
    // which Java String.compareTo sorts BELOW U+E000..U+FFFF — the
    // OPPOSITE of the UTF-8 byte order parquet footers and Spark use.
    // With the old comparator a range probe over such keys pruned away
    // the file that held the matches: rows missed by scans, rows not
    // deleted. These three keys order differently under the two rules:
    // UTF-8:  "e" < "�" < "😀" (U+1F600)
    // UTF-16: "e" < "😀" < "�"
    val sp = spark
    import sp.implicits._
    val store = storeAt(freshRoot)
    val astral = "😀" // U+1F600, 4-byte UTF-8
    val sch = StructType(Seq(
      StructField("k", StringType), StructField("n", LongType)))
    store.ensure("t.astral", sch)
    // separate appends → separate files with disjoint zones
    store.append("t.astral", Seq(("e", 1L), ("f", 2L)).toDF("k", "n"))
    store.append("t.astral", Seq(("�", 3L)).toDF("k", "n"))
    store.append("t.astral", Seq((astral, 4L), (astral + "x", 5L)).toDF("k", "n"))
    // range [U+FFFD, U+1F600]: under UTF-16 order the astral file's
    // zone [😀, 😀x] sorts BELOW the range start and gets pruned
    val got = store.scanRange("t.astral", "k", "�", astral)
      .collect().map(_.getLong(1)).sorted
    assert(got === Array(3L, 4L),
      s"astral-range scan returned ${got.mkString(",")} — zone order diverged")
    // range delete across the same boundary must remove BOTH rows
    assert(store.delete("t.astral",
      col("k") >= "�" && col("k") <= astral) === 2L)
    assert(store.scan("t.astral").collect().map(_.getLong(1)).sorted
      === Array(1L, 2L, 5L))
  }

  test("type-mismatched range literal degrades to no pruning, never throws") {
    val store = storeAt(freshRoot)
    store.ensure("t.mismatch", keyedSchema) // k is LONG
    store.append("t.mismatch", keyed(Seq((1L, "a"), (2L, "b"), (10L, "c"))))
    // a DOUBLE literal against the long column: Zones.parse would
    // throw NumberFormatException; the pruner must keep all files and
    // let Spark evaluate the (valid!) predicate
    assert(store.delete("t.mismatch", col("k") < lit(3.5)) === 2L)
    assert(store.scan("t.mismatch").collect().map(_.getLong(0)) === Array(10L))
    // and a string literal against the numeric column on the scan path
    val sr = store.scanRange("t.mismatch", "k", "abc", "zzz")
    assert(sr.count() === 0L) // predicate itself matches nothing; no throw
  }

  test("checkpointInterval sweep: cold resolution reads <= min(interval, commits)+1 log entries") {
    // the protocol's O(changed-files) metadata claim rests on the one
    // parameter nothing swept before r9: resolution walks back at most
    // checkpointInterval deltas before hitting a checkpoint or the
    // full create entry. Measured with the shared manifest cache
    // evicted, so the walk is genuinely cold (a new-process read).
    val root = freshRoot
    val appends = 25 // versions 1 (create) .. 26
    val measured = Seq(2, 16, 64).map { interval =>
      val store = new LogTableStore(spark, root, checkpointInterval = interval)
      val t = s"t.cpi$interval"
      store.ensure(t, keyedSchema)
      for (i <- 1 to appends) store.append(t, keyed(Seq((i.toLong, s"v$i"))))
      // quiesce the background checkpoint writer: the walk bound below
      // needs the boundary checkpoints ON DISK, and the logEntryReads
      // delta must not absorb background resolution reads
      assert(LogTableStore.awaitBackgroundCheckpoints())
      LogTableStore.evictResolvedManifests()
      val before = LogTableStore.logEntryReads.get()
      assert(store.scan(t).count() === appends.toLong)
      val reads = LogTableStore.logEntryReads.get() - before
      val bound = math.min(interval, appends + 1) + 1
      assert(reads <= bound,
        s"interval $interval: cold resolve read $reads log entries (> $bound)")
      interval -> reads
    }
    info(s"cold-resolution log reads by interval: $measured")
    // the model is monotone in the interval (denser checkpoints =
    // strictly shorter walks at this commit count)
    assert(measured(0)._2 < measured(1)._2 && measured(1)._2 < measured(2)._2,
      s"resolution cost not monotone in checkpointInterval: $measured")
  }

  test("vacuum vs time travel: every expired version fails loudly, every retained one resolves exactly") {
    for (keepLast <- Seq(1, 3, 5)) {
      val store = storeAt(freshRoot)
      val t = "t.vtt"
      store.ensure(t, keyedSchema)
      for (i <- 1 to 6) store.append(t, keyed(Seq((i.toLong, s"v$i")))) // v2..v7
      val tsByVersion = store.history(t).collect()
        .map(r => r.getLong(0) -> r.getTimestamp(2).getTime).toMap
      val all = store.versions(t)
      val (expired, _) = store.vacuum(t, keepLast, graceMillis = 0L)
      val retained = store.versions(t)
      assert(expired === all.dropRight(keepLast))
      for (v <- expired) {
        intercept[IllegalArgumentException](store.scanAt(t, v))
        intercept[IllegalArgumentException](store.rollback(t, v))
      }
      for (v <- retained) {
        // row count at version v: v1 is create (0 rows), v=k+1 holds k
        assert(store.scanAt(t, v).count() === v - 1,
          s"retained v$v resolved wrong after vacuum (keepLast=$keepLast)")
      }
      // wall-clock travel before the horizon fails loudly too, never
      // resolving a half-deleted file list
      if (expired.nonEmpty)
        intercept[IllegalArgumentException](
          store.scanAsOf(t, tsByVersion(expired.head)))
    }
  }

  test("snapshot isolation: a reader planned before a rewrite still sees its version") {
    val store = storeAt(freshRoot)
    store.ensure("t.iso", keyedSchema)
    store.append("t.iso", keyed(Seq((1L, "a"), (2L, "b"))))
    // plan (and partially bind) a scan of the current version
    val reader = store.scan("t.iso")
    // a full COW rewrite replaces every file the reader references
    store.mergeUpsert("t.iso", keyed(Seq((1L, "A"), (2L, "B"))), Seq("k"))
    assert(store.scan("t.iso").collect().map(_.getString(1)).sorted
      === Array("A", "B"))
    // the old files are unreferenced but NOT deleted until vacuum —
    // the in-flight reader completes against its own version
    assert(reader.collect().map(_.getString(1)).sorted === Array("a", "b"),
      "reader lost its snapshot under a concurrent rewrite")
    // vacuum is the explicit end of that guarantee
    store.vacuum("t.iso", keepLast = 1)
    assert(store.scan("t.iso").count() === 2)
  }

  test("scanAsOf: wall-clock time travel picks the newest commit at or before ts") {
    val store = storeAt(freshRoot)
    store.ensure("t.asof", keyedSchema)
    store.append("t.asof", keyed(Seq((1L, "a"))))
    val between = System.currentTimeMillis()
    Thread.sleep(5)
    store.append("t.asof", keyed(Seq((2L, "b"))))
    assert(store.scanAsOf("t.asof", between).count() === 1)
    assert(store.scanAsOf("t.asof", System.currentTimeMillis()).count() === 2)
    intercept[IllegalArgumentException](store.scanAsOf("t.asof", 1000L))
  }

  test("history(): one audit row per commit with timestamps, delta shape, txn marks") {
    val store = storeAt(freshRoot)
    store.ensure("t.hist", keyedSchema)
    val t0 = System.currentTimeMillis()
    store.append("t.hist", keyed(Seq((1L, "a"), (2L, "b"))))
    store.appendOnce("t.hist", keyed(Seq((3L, "c"))), "q1", 0L)
    store.delete("t.hist", col("k") === 1L)
    val h = store.history("t.hist").collect()
      .map(r => (r.getAs[Long]("version"), r.getAs[String]("op"),
        r.getAs[java.sql.Timestamp]("committed_at").getTime,
        r.getAs[Long]("rows_added"), r.getAs[String]("txns")))
    assert(h.map(_._1).toSeq === Seq(1L, 2L, 3L, 4L))
    assert(h.map(_._2).toSeq === Seq("create", "append", "append-once", "delete"))
    assert(h.forall { case (_, _, ts, _, _) =>
      ts >= t0 - 60000 && ts <= System.currentTimeMillis() + 1000 })
    assert(h(1)._4 === 2L && h(2)._4 === 1L)
    assert(h(2)._5 === "q1=0")
    // time-based retention: everything is younger than a day → no-op;
    // a zero window keeps only the latest
    assert(store.vacuumOlderThan("t.hist", 24L * 3600 * 1000)._1.isEmpty)
    Thread.sleep(5) // the last commit must be strictly older than "now"
    val (expired, _) = store.vacuumOlderThan("t.hist", 0L)
    assert(expired === Seq(1L, 2L, 3L))
    assert(store.scan("t.hist").collect().map(_.getLong(0)).sorted
      === Array(2L, 3L))
  }

  test("log-entry JSON round-trips exactly (schema, zones, all-null/unknown, add/remove)") {
    val c = Commit(7L, "merge-upsert",
      StructType(Seq(StructField("k", LongType), StructField("s", StringType))),
      Seq("s"),
      Seq(
        ManifestFile("data/f1.parquet", 10L, 1234L, Map(
          "k" -> ZoneEntry(Some("1"), Some("50"), allNull = false),
          "s" -> ZoneEntry(None, None, allNull = true))),
        ManifestFile("data/f2.parquet", 3L, 99L, Map(
          "k" -> ZoneEntry(None, None, allNull = false)))),
      Seq("data/old1.parquet", "data/old2.parquet"),
      full = false,
      txns = Map("query-1" -> 41L, "query-2" -> 0L))
    assert(LogTableStore.parseCommit(LogTableStore.renderCommit(c)) === c)
    val full = c.copy(op = "checkpoint", remove = Nil, full = true)
    assert(LogTableStore.parseCommit(LogTableStore.renderCommit(full)) === full)
    // the streaming codec (the production path) agrees byte-for-byte
    // and value-for-value with the AST twin on both shapes
    assertCodecsAgree(c)
    assertCodecsAgree(full)
  }

  /** Pin the streaming codec to the AST twin: identical BYTES out
    * (on-disk format unchanged by the r14 streaming rewrite — old
    * logs parse, new logs would parse under old code) and identical
    * Commit back in, through both parsers, from both renderings. */
  private def assertCodecsAgree(c: Commit): Unit = {
    val ast = LogTableStore.renderCommit(c)
    val bos = new java.io.ByteArrayOutputStream()
    LogTableStore.writeCommitStream(bos, c)
    val streamed = bos.toString("UTF-8")
    assert(streamed === ast, "streaming render diverged from the AST twin")
    def parse(s: String) = LogTableStore.readCommitStream(
      new java.io.ByteArrayInputStream(s.getBytes("UTF-8")))
    assert(parse(ast) === c)
    assert(parse(streamed) === c)
    assert(LogTableStore.parseCommit(streamed) === c)
  }

  test("log-entry codecs agree on adversarial strings, schemas, and randomized entries") {
    val nastySchema = StructType(Seq(
      StructField("k", LongType),
      StructField("price", DecimalType(18, 4)),
      StructField("emb", ArrayType(FloatType)),
      StructField("attrs", MapType(StringType, StringType)),
      StructField("nested", StructType(Seq(
        StructField("quote\"back\\slash", StringType),
        StructField("unicode_é_中", DoubleType)))),
      StructField("ts", TimestampType)))
    val nasty = Commit(Long.MaxValue, "merge-upsert",
      nastySchema, Seq("attrs", "unicode_é_中"),
      Seq(ManifestFile("data/dir with space/\"quoted\"\\file\n\t\u0001.parquet",
        Long.MaxValue, 0L, Map(
          "k" -> ZoneEntry(Some(""), Some("\u0000"), allNull = false),
          "路径" -> ZoneEntry(Some("emoji \ud83d\ude80 astral"),
            Some("ctrl\u0007bell"), allNull = false),
          "n" -> ZoneEntry(None, None, allNull = true)))),
      Seq("remove/with \"specials\"\\\n.parquet", ""),
      full = true,
      txns = Map("query \"q\"\n" -> Long.MinValue, "" -> 0L),
      tsMillis = Long.MaxValue)
    assertCodecsAgree(nasty)

    // seeded randomized sweep — reproducible, no wall-clock dependence
    val rnd = new scala.util.Random(0xC0DEC14L)
    val charset =
      "ab\"\\\n\t\u0001é中\ud83d\ude80/.:-_ 0123456789".toCharArray
    def rstr(max: Int): String = {
      val sb = new StringBuilder
      (0 until rnd.nextInt(max)).foreach { _ =>
        val ch = charset(rnd.nextInt(charset.length))
        // never emit a lone surrogate half — invalid UTF-16 cannot
        // round-trip through UTF-8 bytes by definition
        if (Character.isHighSurrogate(ch)) sb.append("\ud83d\ude80")
        else if (!Character.isLowSurrogate(ch)) sb.append(ch)
      }
      sb.toString
    }
    def rzone(): ZoneEntry =
      if (rnd.nextInt(4) == 0) ZoneEntry(None, None, allNull = rnd.nextBoolean())
      else ZoneEntry(Some(rstr(12)), Some(rstr(12)), allNull = false)
    val schemas = Seq(keyedSchema, schema, nastySchema)
    for (_ <- 1 to 60) {
      val c = Commit(
        version = rnd.nextLong().abs,
        op = rstr(8),
        schema = schemas(rnd.nextInt(schemas.length)),
        partitionBy = Seq.fill(rnd.nextInt(3))(rstr(6)),
        add = Seq.fill(rnd.nextInt(5))(ManifestFile(
          rstr(20), rnd.nextLong().abs, rnd.nextLong().abs,
          Seq.fill(rnd.nextInt(3))(rstr(5) -> rzone()).toMap)),
        remove = Seq.fill(rnd.nextInt(4))(rstr(16)),
        full = rnd.nextBoolean(),
        txns = Seq.fill(rnd.nextInt(3))(rstr(6) -> rnd.nextLong()).toMap,
        tsMillis = rnd.nextLong().abs)
      assertCodecsAgree(c)
    }
  }

  test("resolution memo rotates: a long-running committer holds a " +
      "constant number of manifests, and evicted versions re-resolve") {
    // each memoized manifest holds an O(files) list spine; without
    // rotation a commit-per-trigger streaming writer leaks one spine
    // PER COMMIT for the process lifetime (gigabytes/day at a
    // 10^6-file table) — and r15's memo-based fast path made the memo
    // load-bearing, so it must rotate, not vanish
    val root = freshRoot
    val store = new LogTableStore(spark, root, checkpointInterval = 4)
    store.ensure("t.memo", keyedSchema)
    for (i <- 1 to 30) store.append("t.memo", keyed(Seq((i.toLong, s"v$i"))))
    assert(LogTableStore.awaitBackgroundCheckpoints())
    val held = store.memoizedVersionCount("t.memo")
    assert(held <= LogTableStore.MemoKeepVersions,
      s"$held manifests memoized after 30 commits — the memo is not rotating")
    // the latest stays correct, and DEEP time travel (both versions
    // long evicted) re-resolves cold from checkpoints/deltas
    assert(store.scan("t.memo").count() === 30)
    assert(store.scanAt("t.memo", 6).count() === 5)
    assert(store.scanAt("t.memo", 2).count() === 1)
  }

  test("vacuum sweeps aged log-entry tmp debris; fresh tmps survive") {
    // a hard crash mid-stream skips the writer's finally-delete, and a
    // checkpoint tmp is manifest-sized — vacuum must reclaim aged
    // orphans (and ONLY aged ones: a fresh tmp may be an in-flight
    // writer about to hardlink-CAS it)
    val root = freshRoot
    val store = storeAt(root)
    store.ensure("t.tmpdbg", keyedSchema)
    store.append("t.tmpdbg", keyed(Seq((1L, "a"))))
    val log = Paths.get(root, "t/tmpdbg/_log")
    val aged = log.resolve(".v99.123.tmp")
    val fresh = log.resolve(".v99.456.tmp")
    Files.write(aged, "partial".getBytes("UTF-8"))
    Files.write(fresh, "partial".getBytes("UTF-8"))
    Files.setLastModifiedTime(aged,
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - 3600L * 1000))
    // orphan CHECKPOINTS (a version with no commit — the residue of a
    // background publish racing a cross-instance vacuum) are swept by
    // the same aged-only rule; a checkpoint is manifest-sized, so an
    // unreclaimed orphan is a permanent GB-scale leak at 10^7 files
    val agedCp = log.resolve(f"v${98L}%020d.checkpoint.json")
    val freshCp = log.resolve(f"v${99L}%020d.checkpoint.json")
    LogTableStore.writeCommitFile(agedCp, Commit(98L, "checkpoint",
      keyedSchema, Nil, Nil, Nil, full = true))
    LogTableStore.writeCommitFile(freshCp, Commit(99L, "checkpoint",
      keyedSchema, Nil, Nil, Nil, full = true))
    Files.setLastModifiedTime(agedCp,
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - 3600L * 1000))
    store.vacuum("t.tmpdbg", keepLast = 10)
    assert(!Files.exists(aged), "aged log tmp debris not swept")
    assert(Files.exists(fresh),
      "fresh tmp (possible in-flight writer) must survive")
    assert(!Files.exists(agedCp),
      "aged orphan checkpoint (no commit) not swept")
    assert(Files.exists(freshCp),
      "fresh orphan checkpoint may belong to a commit landing now — " +
        "must survive this vacuum")
    assert(store.scan("t.tmpdbg").count() === 1) // entries untouched
  }

  test("streaming parser matches the AST twin's lenience on malformed entries — no desync") {
    // the AST twin looks fields up by name, so an ill-typed lenient
    // field just defaults; a token-stream parser must SKIP the
    // unexpected subtree or the rest of the entry parses into the
    // wrong fields. Each case: both parsers, same Commit out (or both
    // throw) — and the well-formed TAIL fields after the malformed one
    // must still land, which is exactly what a desync would corrupt.
    val schemaJson =
      """"schema":{"type":"struct","fields":[{"name":"k","type":"long",
        |"nullable":true,"metadata":{}}]}""".stripMargin.replace("\n", "")
    def entry(mid: String): String =
      s"""{"version":3,"op":"append",$schemaJson,$mid,"ts":77}"""
    val lenient = Seq(
      // ill-typed ts (float and string) → 0, never a throw
      s"""{"version":3,"op":"a",$schemaJson,"add":[],"ts":1.5}""",
      s"""{"version":3,"op":"a",$schemaJson,"add":[],"ts":"x"}""",
      // container where a lenient scalar/field belongs
      entry(""""full":{"nested":[1,2]},"remove":["r1"]"""),
      entry(""""partitionBy":"notanarray","remove":["r1"]"""),
      entry(""""txns":[1,2],"remove":["r1"]"""),
      entry(""""add":{"notanarray":true},"remove":["r1"]"""),
      // zone min/max holding an object; zones holding a scalar;
      // a zone column holding an array
      entry(""""add":[{"path":"p","rows":1,"bytes":2,
        |"zones":{"k":{"min":{"x":[1]},"max":"9","allNull":false}}}]"""
        .stripMargin.replace("\n", "")),
      entry(""""add":[{"path":"p","rows":1,"bytes":2,"zones":7}]"""),
      // ARRAY-wrapped zone object: json4s `\` would recurse into the
      // array and surface the inner min — both parsers must instead
      // read it as an ill-shaped zone → empty entry (r15 alignment;
      // zones are advisory, empty is the safe lenience)
      entry(""""add":[{"path":"p","rows":1,"bytes":2,
        |"zones":{"k":[{"min":"a","max":"b","allNull":true}]}}]"""
        .stripMargin.replace("\n", "")),
      // PRESENT negative version/rows/bytes are accepted in both
      // (stats/identifiers, not validated magnitudes) — a sentinel-
      // based stream parser would conflate them with "absent"
      s"""{"version":-3,"op":"a",$schemaJson,"add":[{"path":"p","rows":-1,"bytes":-2}],"ts":77}""",
      // unknown fields carrying containers are skipped whole
      entry(""""mystery":{"deep":{"er":[1,{"x":2}]}},"remove":["r1"]"""))
    for (s <- lenient) {
      val viaAst = LogTableStore.parseCommit(s)
      val viaStream = LogTableStore.readCommitStream(
        new java.io.ByteArrayInputStream(s.getBytes("UTF-8")))
      assert(viaStream === viaAst, s"parser divergence on: $s")
      // the tail survived the skip (|.|: the negative-version case)
      assert(math.abs(viaStream.version) === 3L)
    }
    // strict fields stay strict in BOTH: ill-typed rows/op/path throw
    val strict = Seq(
      s"""{"version":3,"op":7,$schemaJson,"add":[]}""",
      entry(""""add":[{"path":"p","rows":"NaN","bytes":2}]"""),
      entry(""""add":[{"path":[],"rows":1,"bytes":2}]"""),
      entry(""""add":[17]"""),
      entry(""""partitionBy":[{"o":1}]"""))
    for (s <- strict) {
      intercept[IllegalStateException] { LogTableStore.parseCommit(s) }
      intercept[IllegalStateException] { LogTableStore.readCommitStream(
        new java.io.ByteArrayInputStream(s.getBytes("UTF-8"))) }
    }
  }

  test("delta log: commit payload is O(changed files); checkpoints bound resolution") {
    val root = freshRoot
    val store = new LogTableStore(spark, root, checkpointInterval = 4)
    store.ensure("t.dl", keyedSchema)                                // v1 (full)
    for (i <- 1 to 10)                                               // v2..v11
      store.append("t.dl", keyed(Seq((i.toLong, s"v$i"))))
    // the checkpoint WRITES are asynchronous (r15) but every boundary
    // still APPEARS: the background task writes all missed boundaries
    assert(LogTableStore.awaitBackgroundCheckpoints())
    val log = Paths.get(root, "t/dl/_log")
    assert(Files.exists(log.resolve(f"v${4L}%020d.checkpoint.json")))
    assert(Files.exists(log.resolve(f"v${8L}%020d.checkpoint.json")))
    // a late commit is a DELTA: mentions only its own staged files —
    // this is what keeps per-commit metadata O(change) at scale
    val c11 = LogTableStore.parseCommit(new String(
      Files.readAllBytes(log.resolve(f"v${11L}%020d.json")), "UTF-8"))
    assert(!c11.full && c11.add.size === 1 && c11.remove.isEmpty)
    assert(Files.size(log.resolve(f"v${11L}%020d.json")) <
      Files.size(log.resolve(f"v${8L}%020d.checkpoint.json")),
      "a delta commit must be smaller than a full checkpoint")
    // resolution across the checkpoint boundary is exact
    assert(store.scan("t.dl").count() === 10)
    assert(store.scanAt("t.dl", 6).count() === 5)
    // remove-deltas resolve too, and history before them is intact
    store.delete("t.dl", col("k") <= 3L)                             // v12
    assert(store.scan("t.dl").count() === 7)
    assert(store.scanAt("t.dl", 11).count() === 10)
    // a FRESH store instance (no memo) resolves the same state
    val cold = new LogTableStore(spark, root, checkpointInterval = 4)
    assert(cold.scan("t.dl").count() === 7)
    assert(cold.scanAt("t.dl", 6).count() === 5)
  }

  test("manifest dimension: a 1M-file manifest stays driver-viable " +
      "(write, cold resolve, candidacy) and candidacy stays O(touched files)") {
    assume(sys.env.contains("SPARK_GRAFT_SCALE2"),
      "slow large-manifest run — set SPARK_GRAFT_SCALE2=1 to enable")
    // The decade arms measure the EXECUTOR dimension (read/shuffle
    // bytes at 10M-100M rows). This arm pins the DRIVER dimension the
    // VERDICT r13 directive named: the manifest itself. At 100 TB and
    // 128 MB files a table is ~10^6 manifest entries; every checkpoint
    // write, cold resolution, and zone-candidacy pass walks that list
    // on the driver. Synthetic full-create entries in production
    // layout (written by the production writer), two points a decade
    // apart, measured for: entry write time, cold resolve time
    // (streaming codec — the production path), the AST-codec control
    // on the same bytes, and merge-candidacy time + TIGHTNESS.
    val root = freshRoot
    def bestOf2(body: => Unit): Double = {
      def once = { val t0 = System.nanoTime(); body
        (System.nanoTime() - t0) / 1e9 }
      math.min(once, once)
    }
    val points = Seq(100000, 1000000).map { n =>
      val name = s"t.mdim$n"
      val files = (0 until n).map { i =>
        ManifestFile(f"data/part-$i%08d-synthetic.parquet", 1000L,
          134217728L, Map(
            "k" -> ZoneEntry(Some((i.toLong * 1000).toString),
              Some((i.toLong * 1000 + 999).toString), allNull = false),
            "s" -> ZoneEntry(Some(f"https://corpus.example/dir$i%08d/doc"),
              Some(f"https://corpus.example/dir$i%08d/doc~"),
              allNull = false)))
      }
      val log = Paths.get(root, name.replace('.', '/'), "_log")
      Files.createDirectories(log)
      val entry = log.resolve(f"v${1L}%020d.json")
      val commit = Commit(1L, "create", keyedSchema, Nil, files, Nil,
        full = true)
      // overwriting the same path is fine here: production publishes
      // via hardlink-CAS from a tmp file; the WRITE cost is identical
      val tWrite = bestOf2 { LogTableStore.writeCommitFile(entry, commit) }
      val store = storeAt(root)
      val tResolve = bestOf2 {
        LogTableStore.evictResolvedManifests()
        assert(store.smallFileCount(name, 1L) === 0) // every file is 128 MB
      }
      val tAst = bestOf2 {
        val c = LogTableStore.parseCommit(
          new String(Files.readAllBytes(entry), "UTF-8"))
        assert(c.add.size === n)
      }
      // 15 delta commits churning one file each — the worst cold
      // resolution shape checkpointInterval=16 permits: a reader folds
      // every delta over the n-entry base list before the next
      // checkpoint would land
      for (j <- 2 to 16) {
        val churn = files(84 + j) // churn files 86..100 — never the
        // ones the candidacy assertions below name (10, n/2, n-10)
        LogTableStore.writeCommitFile(log.resolve(f"v${j.toLong}%020d.json"),
          Commit(j.toLong, "append", keyedSchema, Nil,
            Seq(churn.copy(path = churn.path + f".r$j")), Seq(churn.path),
            full = false))
      }
      val tFold = bestOf2 {
        LogTableStore.evictResolvedManifests()
        assert(store.smallFileCount(name, 1L) === 0)
      }
      // a 10-key CDC-tick-shaped batch: candidacy must touch ~1 file
      // window out of n, never O(n) paths — the r13 mergeUpsert class
      val incoming = keyed((0 until 10).map(i =>
        (n / 2L * 1000L + i, s"v$i")))
      var cand: Seq[String] = Nil
      val tCand = bestOf2 { cand = store.keyCandidatePaths(name, incoming, Seq("k")) }
      assert(cand.size <= 2,
        s"candidacy at $n files returned ${cand.size} paths — not O(touched)")
      assert(cand.contains(f"data/part-${n / 2}%08d-synthetic.parquet"))
      // a SPANNING mixed batch (updates at the low end, updates near
      // the high end, and TRUE appends past every zone — the CDC
      // change-window shape) makes the coarse window O(n) files and
      // forces the quantile REFINEMENT; the refined set must be
      // EXACTLY the two touched files (append keys match no window),
      // and the refinement must cost one parsed manifest pass, not
      // one pass per window
      val spanning = keyed((0 until 5).map(i => (10L * 1000L + i, s"u$i")) ++
        (0 until 5).map(i => ((n - 10L) * 1000L + i, s"h$i")) ++
        (0 until 5).map(i => ((n + 5L) * 1000L + i, s"a$i")))
      var refined: Seq[String] = Nil
      val tRefine = bestOf2 {
        refined = store.keyCandidatePaths(name, spanning, Seq("k")) }
      assert(refined.toSet === Set(
        f"data/part-${10}%08d-synthetic.parquet",
        f"data/part-${n - 10}%08d-synthetic.parquet"),
        s"refined candidacy at $n files returned ${refined.size} paths")
      val bytes = Files.size(entry)
      info(f"n=$n%,d: entry ${bytes / 1048576.0}%.1f MB, write $tWrite%.2fs, " +
        f"cold resolve $tResolve%.2fs (AST control $tAst%.2fs, " +
        f"15-delta fold $tFold%.2fs), " +
        f"candidacy $tCand%.3fs, spanning-batch refinement $tRefine%.2fs " +
        f"-> ${refined.size} files")
      (n, tWrite, tResolve, tAst, tCand, tRefine, tFold)
    }
    val Seq((_, w1, r1, _, c1, f1, d1), (_, w2, r2, a2, c2, f2, d2)) = points
    // a decade of manifest growth costs at most a decade (2x slack) of
    // driver time on every op — no superlinear manifest pass anywhere.
    // Sub-second decade-1 times are floored: at that magnitude the
    // ratio measures scheduler noise, not growth (the r13 bench
    // lesson — co-tenant stalls poison small denominators first)
    assert(r2 / math.max(r1, 0.25) < 20, f"cold resolve superlinear: $r1%.2f -> $r2%.2f")
    assert(w2 / math.max(w1, 0.25) < 20, f"entry write superlinear: $w1%.2f -> $w2%.2f")
    assert(c2 / math.max(c1, 0.25) < 20, f"candidacy superlinear: $c1%.3f -> $c2%.3f")
    assert(f2 / math.max(f1, 0.25) < 20, f"refinement superlinear: $f1%.2f -> $f2%.2f")
    assert(f2 < 15, f"1M-file spanning-batch refinement took $f2%.1fs")
    assert(d2 / math.max(d1, 0.25) < 20, f"delta fold superlinear: $d1%.2f -> $d2%.2f")
    assert(d2 < 30, f"1M-file 15-delta cold resolve took $d2%.1fs")
    // absolute viability at the 100 TB shape: resolving a 1M-file
    // manifest must cost seconds, not minutes, on this box
    assert(r2 < 30, f"1M-file cold resolve took $r2%.1fs")
    // and the streaming production parse must not lose to the AST
    // control it replaced (generous band — co-tenant noise)
    assert(r2 < a2 * 1.5,
      f"streaming resolve $r2%.2fs vs AST control $a2%.2fs")

  }

  test("manifest dimension, decade 3: a 10M-file manifest resolves and " +
      "refines linearly from the 1M point") {
    assume(sys.env.contains("SPARK_GRAFT_SCALE3"),
      "slow decade-3 run — set SPARK_GRAFT_SCALE3=1 to enable")
    assume(Runtime.getRuntime.maxMemory >= 20L * (1L << 30),
      "resolution materializes a ~10M-entry two-zone manifest (~7 GB) " +
        "and the eviction/re-resolve cycle needs GC headroom beyond it " +
        "or the timing measures collection, not parsing — run with " +
        "SPARK_DRIVER_MEM>=24g (size the driver to the manifest, as a " +
        "real deployment at this file count would)")
    // 10M files = a 100 TB table badly compacted at ~10 MB/file, or
    // 1 PB at 128 MB. Entries carry the SAME zone shape as the
    // decade-1/2 arm (long k + URL-shaped s) so the decade ratios
    // compare like for like; both points are measured HERE so the
    // ratio never crosses test boundaries. The write side streams an
    // on-demand IndexedSeq through the production codec — only the
    // read side ever holds the manifest, which is the point: the
    // codec must never need the whole entry in memory.
    val root = freshRoot
    def bestOf2(body: => Unit): Double = {
      def once = { val t0 = System.nanoTime(); body
        (System.nanoTime() - t0) / 1e9 }
      math.min(once, once)
    }
    def mk(i: Int): ManifestFile =
      ManifestFile(f"data/part-$i%08d-synthetic.parquet", 1000L,
        134217728L, Map(
          "k" -> ZoneEntry(Some((i.toLong * 1000).toString),
            Some((i.toLong * 1000 + 999).toString), allNull = false),
          "s" -> ZoneEntry(Some(f"https://corpus.example/dir$i%08d/doc"),
            Some(f"https://corpus.example/dir$i%08d/doc~"),
            allNull = false)))
    val points = Seq(1000000, 10000000).map { n =>
      val name = s"t.mdim3x$n"
      val files: IndexedSeq[ManifestFile] = new IndexedSeq[ManifestFile] {
        def length: Int = n
        def apply(i: Int): ManifestFile = mk(i)
      }
      val log = Paths.get(root, name.replace('.', '/'), "_log")
      Files.createDirectories(log)
      val entry = log.resolve(f"v${1L}%020d.json")
      val commit = Commit(1L, "create", keyedSchema, Nil, files, Nil,
        full = true)
      // generation-only control: iterating the on-demand sequence
      // without the codec prices the test scaffolding, so the write
      // row's codec share is measured, not asserted by hand-waving
      var blackhole = 0L
      val tGen = bestOf2 { files.foreach(f => blackhole ^= f.bytes) }
      assert(blackhole == 0L, "xor of an even pass count must cancel")
      val tWrite = bestOf2 { LogTableStore.writeCommitFile(entry, commit) }
      val store = storeAt(root)
      val tResolve = bestOf2 {
        LogTableStore.evictResolvedManifests()
        assert(store.smallFileCount(name, 1L) === 0)
      }
      // mixed low-updates + high-updates + TRUE appends past every
      // zone; refined candidacy must be EXACTLY the two touched files
      val spanning = keyed((0 until 5).map(i => (10L * 1000L + i, s"u$i")) ++
        (0 until 5).map(i => ((n - 10L) * 1000L + i, s"h$i")) ++
        (0 until 5).map(i => ((n + 5L) * 1000L + i, s"a$i")))
      var refined: Seq[String] = Nil
      val tRefine = bestOf2 {
        refined = store.keyCandidatePaths(name, spanning, Seq("k")) }
      assert(refined.toSet === Set(
        f"data/part-${10}%08d-synthetic.parquet",
        f"data/part-${n - 10}%08d-synthetic.parquet"),
        s"refined candidacy at $n files returned ${refined.size} paths")
      // committer-side row (r15): the boundary append's INLINE cost at
      // this manifest size — the checkpoint write (10-27 s of codec+IO
      // here at 10M) now lands on the background thread, so the
      // boundary commit must cost a plain delta append
      val store4 = new LogTableStore(spark, root, checkpointInterval = 4)
      def timedAppend(i: Int): Double = {
        val t0b = System.nanoTime()
        store4.append(name, keyed(Seq((n * 1000L + i, s"a$i"))))
        (System.nanoTime() - t0b) / 1e9
      }
      // appends v2..v9: boundaries v4 and v8 — TWO boundary samples so
      // the min is GC/stall-immune (a 10M-entry fold cycle plus the
      // 2.5 GB entry write leave enough garbage that any single append
      // can eat a multi-second old-gen pause; the first run of this
      // arm caught exactly that at v4)
      val timed = (2 to 9).map(i => i -> timedAppend(i)).toMap
      val tPlain = {
        val xs = Seq(2, 3, 5, 6, 7, 9).map(timed).sorted
        xs(xs.size / 2)
      }
      val tBoundary = math.min(timed(4), timed(8))
      assert(LogTableStore.awaitBackgroundCheckpoints(600000L),
        "background checkpoint writer did not quiesce")
      val cp8 = log.resolve(f"v${8L}%020d.checkpoint.json")
      for (b <- Seq(4L, 8L))
        assert(Files.exists(log.resolve(f"v$b%020d.checkpoint.json")),
          s"boundary checkpoint v$b missing at n=$n")
      // control: the sync checkpoint write the committer no longer
      // pays (resolution memoized — prices codec+IO, the r14 stall)
      Files.delete(cp8)
      val tSync = { val t0s = System.nanoTime()
        store4.writeMissingCheckpoints(name)
        (System.nanoTime() - t0s) / 1e9 }
      assert(Files.exists(cp8))
      // r16 NEIGHBOR-INTERFERENCE row: hold the daemon's manifest-sized
      // write in flight (delete + reschedule) and measure plain appends
      // riding beside it. r15 disclosed this as a footnote (7.85 s
      // median at 10M while the daemon streamed — the write held the
      // table lock AND saturated the disk); with the write outside the
      // lock and IO-rate-capped, neighbor-commit latency must be
      // bounded by residual contention, decoupled from the write's
      // duration.
      // r17: the write window is DERIVED from the measured checkpoint
      // size — rate = size / max(12·tPlain, 6 s) — so it provably
      // spans several append durations on any box (at the default
      // 256 MB/s a loaded box could close the window before a sample
      // landed), and an empty sample set retries once before failing.
      val cpSize = Files.size(cp8)
      val windowSecs = math.max(12 * tPlain, 6.0)
      val rate = math.min(math.max(1L, (cpSize / windowSecs).toLong),
        LogTableStore.checkpointWriteBytesPerSec)
      val rootKeyStr = Paths.get(root).toAbsolutePath.normalize.toString
      val during = scala.collection.mutable.ArrayBuffer.empty[Double]
      var jn = 20
      withCheckpointRate(rate) {
        var attempt = 0
        while (during.isEmpty && attempt < 2) {
          attempt += 1
          Files.deleteIfExists(cp8)
          LogTableStore.scheduleCheckpoint(rootKeyStr, s"$rootKeyStr::$name",
            () => store4.writeMissingCheckpoints(name))
          while (LogTableStore.backgroundCheckpointBusy && during.size < 6) {
            during += timedAppend(jn); jn += 1
          }
          assert(LogTableStore.awaitBackgroundCheckpoints(600000L))
        }
      }
      val windowCovered = during.size
      assert(Files.exists(cp8))
      val tDuring =
        if (during.isEmpty) 0.0
        else { val xs = during.sorted; xs(xs.size / 2) }
      info(f"n=$n%,d: entry ${Files.size(entry) / 1048576.0}%.1f MB, " +
        f"write $tWrite%.2fs (generation-only control $tGen%.2fs), " +
        f"cold resolve $tResolve%.2fs, refinement $tRefine%.2fs " +
        f"-> ${refined.size} files; boundary append $tBoundary%.2fs " +
        f"inline vs plain $tPlain%.2fs (sync checkpoint control $tSync%.2fs); " +
        f"append during in-flight checkpoint $tDuring%.2fs median of " +
        f"$windowCovered in-window samples")
      (tWrite, tGen, tResolve, tRefine, tPlain, tBoundary, tSync,
        tDuring, windowCovered)
    }
    val Seq((w1, g1, r1, f1, pl1, b1, _, _, _),
            (w2, g2, r2, f2, pl2, b2, sync2, during2, covered2)) =
      points
    // the third decade costs at most a decade (with slack) over the
    // second on every op — and the write's growth is dominated by the
    // measured generation control, not the codec. The resolve bound
    // carries 3x slack on a 1-second floor: a ~7 GB live set pays
    // real old-gen promotion cost per byte that a 0.7 GB set does not
    // (measured 0.8-2.3 s at 1M vs 19-22 s at 10M across runs), and
    // the ABSOLUTE cap below is what pins viability
    assert(r2 / math.max(r1, 1.0) < 30,
      f"decade-3 resolve superlinear: $r1%.2f -> $r2%.2f")
    assert(f2 / math.max(f1, 0.25) < 20,
      f"decade-3 refinement superlinear: $f1%.2f -> $f2%.2f")
    assert(w2 / math.max(w1, 0.25) < 20,
      f"decade-3 write superlinear: $w1%.2f -> $w2%.2f")
    assert(r2 < 60, f"10M-file cold resolve took $r2%.1fs")
    // the committer never pays the checkpoint: boundary-append inline
    // cost within noise of a plain append at 10M files, flat from 1M,
    // and verifiably EXCLUDING the measured multi-second sync write
    // (this is where the power is: sync2 is 10+ s at 10M files)
    assert(b2 < math.max(pl2, 1.0) * 3,
      f"10M-file boundary append $b2%.2fs vs plain $pl2%.2fs")
    assert(b2 / math.max(b1, 1.0) < 3,
      f"boundary-commit inline cost grew decade-3: $b1%.2f -> $b2%.2f")
    assert(b2 < math.max(pl2, 1.0) + math.max(sync2 * 0.5, 1.0),
      f"10M boundary append $b2%.2fs looks like plain $pl2%.2fs PLUS " +
        f"the sync checkpoint $sync2%.2fs — the write is back inline")
    // the r16 contract: at 10M files the interference window was
    // actually sampled, and a commit inside it is bounded WELL below
    // the write it rides beside (r15's footnote measured 7.85 s ≈
    // sync/2.4 with the lock held; the bound pins the decoupling)
    assert(covered2 >= 1,
      "no append landed inside the 10M checkpoint write window — " +
        "the interference row measured nothing")
    assert(during2 < math.max(sync2 / 3, 2.0),
      f"appends during the in-flight 10M checkpoint write take " +
        f"$during2%.2fs (write itself $sync2%.2fs) — the background " +
        "write is stalling its neighbors again")
  }

  test("checkpoint off the commit path: a boundary commit pays O(delta) " +
      "inline across the manifest decade; the checkpoint still appears") {
    assume(sys.env.contains("SPARK_GRAFT_SCALE2"),
      "slow large-manifest run — set SPARK_GRAFT_SCALE2=1 to enable")
    // The r14 arm priced the checkpoint WRITE (1.6 s at 1M files,
    // 10-27 s of codec+IO at 10M) — and whichever committer landed on
    // the interval boundary paid it INLINE in its commit: a
    // trigger-length stall at streaming cadence against a
    // badly-compacted 100 TB table. r15 moves the write to the shared
    // background thread. This arm pins the contract from the
    // COMMITTER's side: at 10^5 and 10^6 manifest entries (and 10^7
    // in the SCALE3 decade-3 arm), the boundary append's inline cost
    // is indistinguishable from a plain append's — flat in the
    // manifest size — while the manifest-sized checkpoint still lands
    // (awaited, existence + size asserted).
    val root = freshRoot
    val points = Seq(100000, 1000000).map { n =>
      val name = s"t.cpoff$n"
      val files = (0 until n).map { i =>
        ManifestFile(f"data/part-$i%08d-synthetic.parquet", 1000L,
          134217728L, Map(
            "k" -> ZoneEntry(Some((i.toLong * 1000).toString),
              Some((i.toLong * 1000 + 999).toString), allNull = false)))
      }
      val log = Paths.get(root, name.replace('.', '/'), "_log")
      Files.createDirectories(log)
      val entry = log.resolve(f"v${1L}%020d.json")
      LogTableStore.writeCommitFile(entry,
        Commit(1L, "create", keyedSchema, Nil, files, Nil, full = true))
      val store = new LogTableStore(spark, root, checkpointInterval = 4)
      // warm the resolution memo: a real committer resolves its base
      // once per process regardless of where checkpoints are written
      assert(store.smallFileCount(name, 1L) === 0)
      def timedAppend(i: Int): Double = {
        val t0 = System.nanoTime()
        store.append(name, keyed(Seq((n * 1000L + i, s"a$i"))))
        (System.nanoTime() - t0) / 1e9
      }
      // appends v2..v9: v4 and v8 are boundaries. TWO boundary samples
      // so the min is stall-immune (one sample can catch a co-tenant
      // pause that reads as a phantom inline checkpoint); five plain
      // samples so the baseline is a median, not a lucky min.
      val timed = (2 to 9).map(i => i -> timedAppend(i)).toMap
      val plainMed = {
        val xs = Seq(2, 3, 5, 6, 7, 9).map(timed).sorted
        xs(xs.size / 2)
      }
      val boundaryMin = math.min(timed(4), timed(8))
      assert(LogTableStore.awaitBackgroundCheckpoints(600000L),
        "background checkpoint writer did not quiesce")
      for (b <- Seq(4L, 8L)) {
        val cp = log.resolve(f"v$b%020d.checkpoint.json")
        assert(Files.exists(cp), s"boundary checkpoint v$b missing at n=$n")
        // manifest-sized: the full file list, not a stub
        assert(Files.size(cp) > Files.size(entry) / 2,
          s"checkpoint v$b at n=$n is ${Files.size(cp)} B — not a manifest")
      }
      val cpBytes = Files.size(log.resolve(f"v${8L}%020d.checkpoint.json"))
      // control: what the boundary committer NO LONGER pays — the
      // synchronous checkpoint write itself (resolution is memoized,
      // so this prices codec+IO, the r14 inline stall)
      Files.delete(log.resolve(f"v${8L}%020d.checkpoint.json"))
      val tSync = { val t0 = System.nanoTime()
        store.writeMissingCheckpoints(name)
        (System.nanoTime() - t0) / 1e9 }
      assert(Files.exists(log.resolve(f"v${8L}%020d.checkpoint.json")))
      info(f"n=$n%,d: plain append median $plainMed%.2fs, boundary append " +
        f"min $boundaryMin%.2fs inline, sync checkpoint control $tSync%.2fs, " +
        f"checkpoint ${cpBytes / 1048576.0}%.1f MB landed in background")
      (boundaryMin, plainMed, cpBytes, tSync)
    }
    val Seq((b1, p1, s1, _), (b2, p2, s2, sync2)) = points
    // the checkpoint itself grew with the decade…
    assert(s2 > s1 * 5, s"checkpoint sizes $s1 -> $s2 did not scale")
    // …but the boundary commit's INLINE cost did not: within noise of
    // a plain append at both points (floored: sub-second denominators
    // measure scheduler noise, the r13 bench lesson), flat across the
    // decade, and at 1M files verifiably EXCLUDING the measured sync
    // checkpoint cost (the r14 shape was boundary ≈ plain + sync)
    assert(b1 < math.max(p1, 0.5) * 3,
      f"boundary append $b1%.2fs vs plain $p1%.2fs at 100k files")
    assert(b2 < math.max(p2, 0.5) * 3,
      f"boundary append $b2%.2fs vs plain $p2%.2fs at 1M files")
    assert(b2 / math.max(b1, 0.5) < 3,
      f"boundary-commit inline cost grew with the manifest: $b1%.2f -> $b2%.2f")
    assert(b2 < math.max(p2, 0.5) + math.max(sync2 * 0.75, 0.5),
      f"1M boundary append $b2%.2fs looks like plain $p2%.2fs PLUS the " +
        f"sync checkpoint $sync2%.2fs — the write is back inline")
  }

  test("commit-count dimension: a 10k-commit history keeps resolution " +
      "bounded, ops sub-second, and vacuums down cleanly") {
    assume(sys.env.contains("SPARK_GRAFT_SCALE2"),
      "slow long-history run — set SPARK_GRAFT_SCALE2=1 to enable")
    // The manifest arms pin the FILE dimension; this pins the HISTORY
    // dimension a commit-per-trigger streaming writer actually
    // produces: 10^4 live commits between vacuums. What must stay
    // bounded: resolution reads (≤ interval+1 entries regardless of
    // history length — the checkpoint contract), the per-op _log
    // directory listing (O(commits) by design, bounded by vacuum —
    // measured here so the contract has a number), and
    // vacuumOlderThan's retention probe (reads every live commit's ts
    // — the administrative op that trims the other two).
    val root = freshRoot
    val name = "t.many"
    val log = Paths.get(root, name.replace('.', '/'), "_log")
    Files.createDirectories(log)
    val base = 1700000000000L
    LogTableStore.writeCommitFile(log.resolve(f"v${1L}%020d.json"),
      Commit(1L, "create", keyedSchema, Nil,
        (0 until 10).map(i => ManifestFile(s"data/seed-$i.parquet", 100L,
          1000L, Map.empty)), Nil, full = true, tsMillis = base))
    val commits = 10000
    for (v <- 2 to commits)
      LogTableStore.writeCommitFile(log.resolve(f"v${v.toLong}%020d.json"),
        Commit(v.toLong, "append", keyedSchema, Nil,
          Seq(ManifestFile(f"data/part-$v%08d.parquet", 100L, 1000L,
            Map("k" -> ZoneEntry(Some((v * 10L).toString),
              Some((v * 10L + 9).toString), allNull = false)))),
          Nil, full = false, tsMillis = base + v))
    val store = new LogTableStore(spark, root, checkpointInterval = 16)
    def timed[A](body: => A): (A, Double) = {
      val t0 = System.nanoTime()
      val a = body
      (a, (System.nanoTime() - t0) / 1e9)
    }
    // checkpoint backfill over 624 missed boundaries (the worst case a
    // crashed-forever background writer could leave): each boundary
    // folds ≤ interval deltas over the memoized predecessor
    val (_, tBackfill) = timed(store.writeMissingCheckpoints(name))
    // cold resolution is bounded by the INTERVAL, not the history
    LogTableStore.evictResolvedManifests()
    val reads0 = LogTableStore.logEntryReads.get()
    val ((), tCold) = timed {
      assert(store.smallFileCount(name, 1L) === 0); ()
    }
    val coldReads = LogTableStore.logEntryReads.get() - reads0
    assert(coldReads <= 17,
      s"cold resolve at a $commits-commit history read $coldReads log " +
        "entries — history length leaked into resolution")
    // the O(commits) ops: one directory listing, one production append
    val (vs, tList) = timed(store.versions(name))
    assert(vs.size === commits)
    val (_, tAppend) = timed(
      store.append(name, keyed(Seq((0L, "tail")))))
    // r16: the O(commits) listing is O(1) AMORTIZED now — 20 more
    // steady-state commits at this history depth take (near-)zero real
    // listings, because own commits advance the cached listing and
    // freshness is two stats. This is the arm row that turns the
    // "bounded only by vacuum cadence" footnote into a contract: a
    // commit-per-trigger writer pays stats, not O(commits) lists,
    // between vacuums. (≤2 slack: a noteCommitted/noteCheckpointed
    // CAS race on the cache falls back to one re-list.)
    val lst0 = LogTableStore.logDirListings.get()
    val (_, tSteady20) = timed(
      for (i <- 1 to 20) store.append(name, keyed(Seq((i.toLong, "t")))))
    val steadyListings = LogTableStore.logDirListings.get() - lst0
    assert(steadyListings <= 2,
      s"$steadyListings _log listings across 20 steady-state commits " +
        s"at a $commits-commit history — latest() is not O(1) amortized")
    // retention probe + expiry down to ~100 live commits
    val ((expired, _), tVac) = timed(
      store.vacuumOlderThan(name, retainMillis =
        System.currentTimeMillis() - (base + commits - 100)))
    assert(expired.size >= commits - 101,
      s"vacuumOlderThan expired only ${expired.size} of $commits")
    val (vsAfter, tListAfter) = timed(store.versions(name))
    assert(vsAfter.size <= 122) // ~100 synthetic survivors + 21 real commits
    // post-vacuum the latest state still resolves, cold and bounded
    // (metadata-only: the synthetic paths have no data files behind
    // them, so the check is the resolved manifest, not a scan)
    assert(LogTableStore.awaitBackgroundCheckpoints())
    LogTableStore.evictResolvedManifests()
    val reads1 = LogTableStore.logEntryReads.get()
    assert(store.smallFileCount(name, 1 << 20) > 0) // the real tail file
    assert(LogTableStore.logEntryReads.get() - reads1 <= 17)
    info(f"$commits-commit history: checkpoint backfill $tBackfill%.1fs " +
      f"(624 boundaries), cold resolve $tCold%.2fs ($coldReads entry " +
      f"reads), _log listing $tList%.2fs, append $tAppend%.2fs, " +
      f"20 steady commits $tSteady20%.1fs ($steadyListings listings), " +
      f"vacuumOlderThan $tVac%.1fs, post-vacuum listing $tListAfter%.3fs")
    // absolute viability: the per-op costs a streaming writer pays at
    // this history depth stay well under a trigger
    assert(tList < 2.0, f"10k-commit _log listing took $tList%.2fs")
    assert(tCold < 2.0, f"bounded cold resolve took $tCold%.2fs")
  }

  test("multi-writer CAS contention at a 1M-file manifest: losers " +
      "re-resolve from the memo, never a cold walk") {
    assume(sys.env.contains("SPARK_GRAFT_SCALE2"),
      "slow large-manifest run — set SPARK_GRAFT_SCALE2=1 to enable")
    // The soak proves 3-writer CORRECTNESS at toy manifests; this arm
    // prices the RETRY at the 100 TB shape: when a CAS loser must
    // re-base against a 10^6-entry manifest before retrying, the
    // memoized resolution has to make that re-base a gap-entry read +
    // one delta fold — not the 0.7-1.5 s cold re-resolve the r14
    // VERDICT measured. Pinned structurally (counters: zero cold
    // walks, bounded log-entry reads), not by wall-clock, which
    // 3-thread scheduling noise would drown.
    //
    // Writer isolation: same-JVM appenders serialize on the table's
    // jvmLock and never reach the CAS — the CAS exists for
    // CROSS-PROCESS writers. Each writer therefore gets its own
    // SYMLINK to the root: rootKey normalization is lexical, so the
    // three stores carry distinct locks and distinct resolution memos
    // (exactly a real process's view — nothing shared but the disk),
    // while every commit lands in one physical _log.
    val root = freshRoot
    val name = "t.cas"
    val log = syntheticManifest(root, name, 1000000)
    // r16 compound shape: the burst must land WHILE the daemon streams
    // the manifest-sized checkpoint — the realistic collision is a
    // burst of committers right after a boundary. The root store uses
    // interval 2 so its own serial append (v2) schedules the
    // background write, and the rate cap stretches the ~250 MB
    // checkpoint across the whole burst window; the writers keep
    // interval 64 and never schedule. The daemon's own resolve of v2
    // rides the memo (base v1 is warm), so the cold-walk assert below
    // covers it too.
    val store = new LogTableStore(spark, root, checkpointInterval = 2)
    assert(store.smallFileCount(name, 1L) === 0) // warm the base memo
    withCheckpointRate(16L << 20) { // ~16 s window
      // uncontended baseline at this manifest size (v2: the boundary
      // that schedules the paced background checkpoint)
      val tSerial = { val t0 = System.nanoTime()
        store.append(name, keyed(Seq((0L, "serial"))))
        (System.nanoTime() - t0) / 1e9 }
      assert(LogTableStore.backgroundCheckpointBusy,
        "the paced v2 checkpoint should be in flight before the burst")
      // let the task take its boundary listing before burst commits add
      // later (even-numbered) versions it would also have to stream
      Thread.sleep(300)
      val writers = 3
      val commitsEach = 6
      // one "process" per writer: symlinked root → distinct rootKey →
      // distinct jvmLock + resolution memo. Pre-warm each writer's memo
      // (a real long-lived committer resolves its base once at startup);
      // the measured phase then isolates the RETRY cost.
      val writerStores = (0 until writers).map { w =>
        val link = Paths.get(s"$root-w$w")
        Files.createSymbolicLink(link, Paths.get(root))
        val st = new LogTableStore(spark, link.toString,
          checkpointInterval = 64)
        assert(st.smallFileCount(name, 1L) === 0) // cold walk paid HERE
        st
      }
      val retries0 = LogTableStore.commitRetries.get()
      val walks0 = LogTableStore.resolveColdWalks.get()
      val memo0 = LogTableStore.resolveMemoBases.get()
      val reads0 = LogTableStore.logEntryReads.get()
      val failures = new java.util.concurrent.atomic.AtomicInteger(0)
      val t0 = System.nanoTime()
      val threads = (0 until writers).map { w =>
        val t = new Thread(() => {
          try {
            for (j <- 0 until commitsEach)
              writerStores(w).append(name, keyed(Seq((w * 1000L + j, s"w$w-$j"))))
          } catch { case _: Throwable => failures.incrementAndGet() }
        }, s"cas-writer-$w")
        t.start(); t
      }
      threads.foreach(_.join(600000L))
      val wall = (System.nanoTime() - t0) / 1e9
      // the compound claim needs the overlap to have actually happened:
      // the whole burst ran inside the checkpoint's write window
      val burstInsideWindow = LogTableStore.backgroundCheckpointBusy
      assert(LogTableStore.awaitBackgroundCheckpoints(600000L),
        "background checkpoint writer did not quiesce")
      assert(burstInsideWindow,
        "the burst outlasted the paced checkpoint window — the " +
          "contention-during-checkpoint claim was not exercised; lower " +
          "the rate")
      val cp2 = log.resolve(f"v${2L}%020d.checkpoint.json")
      assert(Files.exists(cp2), "the in-flight checkpoint never landed")
      assert(Files.size(cp2) > (64L << 20),
        s"checkpoint v2 is ${Files.size(cp2)} B — not manifest-sized")
      assert(failures.get() === 0, "a contending appender failed outright")
      val retries = LogTableStore.commitRetries.get() - retries0
      val coldWalks = LogTableStore.resolveColdWalks.get() - walks0
      val memoBases = LogTableStore.resolveMemoBases.get() - memo0
      val entryReads = LogTableStore.logEntryReads.get() - reads0
      // every commit landed exactly once (append CAS loss = re-base +
      // retry; nothing lost, nothing doubled)
      assert(store.versions(name).size === 2 + writers * commitsEach,
        "commit count wrong after contention")
      // every appended file is live in the final manifest (the synthetic
      // base files are 128 MB entries; the real appends are the only
      // sub-MB ones — no scan: the synthetic paths have no data behind
      // them, metadata is the surface under test)
      assert(store.smallFileCount(name, 1048576L) ===
        1 + writers * commitsEach,
        "an appended file is missing from the resolved manifest")
      assert(retries >= 1,
        "no CAS collision occurred — 3 writers x 6 commits with " +
          "second-long stage windows should contend; the arm proved nothing")
      info(f"$writers writers x $commitsEach commits in $wall%.1fs " +
        f"(serial append $tSerial%.2fs): $retries CAS retries, " +
        f"$memoBases memo-based resolves, $coldWalks cold walks, " +
        f"$entryReads log-entry reads")
      // the contract under test: every re-resolve (winner or loser) rode
      // the memo — zero cold walks over the 10^6-entry manifest
      assert(coldWalks === 0,
        s"$coldWalks resolutions cold-walked the 1M-file manifest " +
          "under contention")
      // and the IO side: resolves read only their version gap — bounded
      // by (resolves x writers), nowhere near O(commits^2) re-walks
      assert(entryReads <= (memoBases + 1) * (writers + 2),
        s"$entryReads log-entry reads for $memoBases resolves — " +
          "losers are re-reading history")
      writerStores.foreach(_.close())
    }
    store.close()
  }

  /** Scope a lowered background-checkpoint IO rate: the knob is
    * JVM-global, so every test that touches it must restore it even
    * on assertion failure or the throttle leaks into later arms
    * (a 2.5 GB decade checkpoint at a test's 1.5 MB/s is a half-hour
    * phantom hang). */
  private def withCheckpointRate[A](bytesPerSec: Long)(body: => A): A = {
    val prev = LogTableStore.checkpointWriteBytesPerSec
    LogTableStore.checkpointWriteBytesPerSec = bytesPerSec
    try body finally LogTableStore.checkpointWriteBytesPerSec = prev
  }

  /** Synthetic manifest table in production layout: one full create
    * entry with `n` 128 MB-shaped file entries (long-key zone) — the
    * checkpoint-interference and contention arms need a
    * manifest-sized checkpoint without 10^5 real files. */
  private def syntheticManifest(root: String, name: String,
                                n: Int): java.nio.file.Path = {
    val files = (0 until n).map { i =>
      ManifestFile(f"data/part-$i%08d-synthetic.parquet", 1000L,
        134217728L, Map(
          "k" -> ZoneEntry(Some((i.toLong * 1000).toString),
            Some((i.toLong * 1000 + 999).toString), allNull = false)))
    }
    val log = Paths.get(root, name.replace('.', '/'), "_log")
    Files.createDirectories(log)
    LogTableStore.writeCommitFile(log.resolve(f"v${1L}%020d.json"),
      Commit(1L, "create", keyedSchema, Nil, files, Nil, full = true))
    log
  }

  test("background checkpoint streams OUTSIDE the table lock: commits " +
      "issued during the write land at commit speed") {
    // r15 moved the checkpoint write off the commit path, but
    // writeMissingCheckpoints held the table's jvmLock for the whole
    // manifest-sized write — so a same-table commit racing the
    // background write still blocked for the full duration (the r15
    // ADVICE finding: the stall didn't vanish, it moved to whichever
    // neighbor raced the daemon). The write now runs outside the lock
    // (hardlink-CAS publish only is serialized) and is IO-rate-capped.
    // This arm holds a write in flight DETERMINISTICALLY (pacing, not
    // co-tenant luck) and times appends issued inside the window.
    val root = freshRoot
    val name = "t.cplock"
    val log = syntheticManifest(root, name, 20000) // ~5 MB checkpoint
    withCheckpointRate(3L << 19) { // 1.5 MB/s ≈ 3.5 s window
      val store = new LogTableStore(spark, root, checkpointInterval = 4)
      assert(store.smallFileCount(name, 1L) === 0) // warm the base memo
      store.append(name, keyed(Seq((1L, "a")))) // v2
      store.append(name, keyed(Seq((2L, "b")))) // v3
      val tB0 = System.nanoTime()
      store.append(name, keyed(Seq((3L, "bnd")))) // v4 → schedules write
      val boundarySecs = (System.nanoTime() - tB0) / 1e9
      assert(LogTableStore.backgroundCheckpointBusy,
        "paced checkpoint finished before the window was probed — " +
          "lower the rate or grow the manifest")
      val durs = (0 until 3).map { i =>
        val t0 = System.nanoTime()
        store.append(name, keyed(Seq((100L + i, s"c$i"))))
        (System.nanoTime() - t0) / 1e9
      }
      val stillBusy = LogTableStore.backgroundCheckpointBusy
      assert(LogTableStore.awaitBackgroundCheckpoints(600000L))
      val cp = log.resolve(f"v${4L}%020d.checkpoint.json")
      assert(Files.exists(cp), "boundary checkpoint never landed")
      assert(Files.size(cp) > (1L << 20),
        s"checkpoint is ${Files.size(cp)} B — not manifest-sized")
      info(f"boundary append ${boundarySecs}%.2fs; appends during the " +
        f"in-flight checkpoint write: ${durs.map(d => f"$d%.2f").mkString(", ")}s")
      assert(stillBusy,
        "all probed appends outlasted the checkpoint window — nothing " +
          "was proven; lower the rate")
      assert(boundarySecs < 2.0,
        f"boundary commit took $boundarySecs%.2fs — enqueue-only broke")
      durs.foreach(d => assert(d < 2.0,
        f"an append issued during the background checkpoint write took " +
          f"$d%.2fs — the write is holding the table lock again"))
    }
  }

  test("close() during an in-flight background checkpoint write cannot " +
      "re-pin the dropped root's caches") {
    // a checkpoint task scheduled just before close() used to run
    // after dropRoot and re-populate the companion caches via
    // resolve()/jvmLock() under the dropped rootKey — pinning O(files)
    // manifest spines per abandoned root for the JVM lifetime (exactly
    // what per-run temp-root test/gate JVMs produce). The task now
    // captures a root epoch at schedule time and re-evicts anything it
    // repopulated when the epoch moved.
    val root = freshRoot
    val name = "t.cpdrop"
    syntheticManifest(root, name, 20000)
    withCheckpointRate(3L << 19) { // hold the write in flight
      val store = new LogTableStore(spark, root, checkpointInterval = 2)
      assert(store.smallFileCount(name, 1L) === 0)
      store.append(name, keyed(Seq((1L, "a")))) // v2 boundary → paced write
      assert(LogTableStore.backgroundCheckpointBusy,
        "paced checkpoint finished before close() could race it")
      store.close() // dropRoot while the write streams
      assert(LogTableStore.awaitBackgroundCheckpoints(600000L))
      val rootKey = Paths.get(root).toAbsolutePath.normalize.toString
      assert(LogTableStore.cacheEntryCount(rootKey) === 0,
        "a checkpoint task scheduled before close() re-populated the " +
          "dropped root's companion caches")
    }
  }

  test("cached _log listing: steady-state commits take no directory " +
      "listing; foreign commits and vacuums are detected by stat") {
    // latest() once listed _log on every call — O(commits) per commit
    // for a commit-per-trigger writer, quadratic across an
    // inter-vacuum span (~100 s aggregate at 10^4 commits). The
    // listing is now cached per table, advanced on own commits, and
    // kept honest by two stats (versions are DENSE by the CAS
    // protocol: a foreign commit is exactly last+1; a foreign vacuum
    // deletes the head). What this buys an OPERATOR doing
    // out-of-band (non-protocol) disk mutations is written up as the
    // "out-of-band operation contract" in README's scale section —
    // this test and the recreate arms below are its pins.
    val root = freshRoot
    val name = "t.cachedlist"
    val store = new LogTableStore(spark, root, checkpointInterval = 64)
    store.ensure(name, keyedSchema)
    for (i <- 1 to 4) store.append(name, keyed(Seq((i.toLong, s"w$i"))))
    val l0 = LogTableStore.logDirListings.get()
    for (i <- 5 to 10) store.append(name, keyed(Seq((i.toLong, s"w$i"))))
    assert(store.versions(name).size === 11)
    assert(store.scan(name).count() === 10)
    val steady = LogTableStore.logDirListings.get() - l0
    assert(steady === 0,
      s"$steady _log listings during steady-state commits — latest() " +
        "is not O(1) amortized")
    // a FOREIGN commit (another process) lands as exactly last+1:
    // the tip stat detects it and one real listing refreshes the cache
    val log = Paths.get(root, name.replace('.', '/'), "_log")
    LogTableStore.writeCommitFile(log.resolve(f"v${12L}%020d.json"),
      Commit(12L, "append", keyedSchema, Nil,
        Seq(ManifestFile("data/foreign.parquet", 0L, 0L, Map.empty)),
        Nil, full = false))
    assert(store.versions(name).size === 12,
      "a foreign process's commit is invisible through the cached listing")
    assert(store.scan(name).count() === 10)
    // a FOREIGN vacuum deletes the cached head: detected by stat too
    val link = Paths.get(s"$root-vac")
    Files.createSymbolicLink(link, Paths.get(root))
    val other = new LogTableStore(spark, link.toString)
    other.vacuum(name, keepLast = 3, graceMillis = 0L)
    assert(store.versions(name).size === 3,
      "a foreign vacuum's deletions are invisible through the cached listing")
    assert(store.scan(name).count() === 10)
    // an out-of-band DROP-AND-RECREATE (not a protocol op, but an
    // operator can do it): the new log is SHORTER with a fresh v1, so
    // neither the tip stat (last+1 absent) nor the head stat (a v1
    // exists — the new one) fires — the TAIL stat must, or the stale
    // cache validates forever and every read chases phantom versions.
    // And detection must evict the MEMOIZED MANIFESTS too: the new
    // incarnation reuses version numbers, so a memo hit at v2 would
    // silently serve the old incarnation's file list — scan() below
    // pins content, not just the version listing.
    val name2 = "t.recreate"
    store.ensure(name2, keyedSchema)
    for (i <- 1 to 5) store.append(name2, keyed(Seq((i.toLong, s"x$i"))))
    assert(store.versions(name2).size === 6) // cache now [1..6]
    assert(store.scan(name2).count() === 5)  // memo holds v1..v6
    val log2 = Paths.get(root, name2.replace('.', '/'), "_log")
    val s2 = Files.list(log2)
    try s2.toArray.foreach(p =>
      Files.delete(p.asInstanceOf[java.nio.file.Path]))
    finally s2.close()
    LogTableStore.writeCommitFile(log2.resolve(f"v${1L}%020d.json"),
      Commit(1L, "create", keyedSchema, Nil, Nil, Nil, full = true))
    LogTableStore.writeCommitFile(log2.resolve(f"v${2L}%020d.json"),
      Commit(2L, "append", keyedSchema, Nil, Nil, Nil, full = false))
    assert(store.versions(name2) === Seq(1L, 2L),
      "a recreated (shorter) log is invisible through the cached listing")
    assert(store.scan(name2).count() === 0,
      "a reused version number served the DEAD incarnation's manifest " +
        "from the memo")
    // r17: an EQUAL-LENGTH recreate defeats the tail-shrank detector
    // (same version set, so no stat fires on count alone) — the HEAD
    // IDENTITY STAMP (mtime+size, recorded at listing/commit time)
    // must fire instead, and detection must evict the memos so the
    // reused v2 can't serve the dead incarnation's file list.
    val name3 = "t.recreate2"
    store.ensure(name3, keyedSchema)
    store.append(name3, keyed(Seq((1L, "z1")))) // v2; cache [1,2]
    assert(store.versions(name3) === Seq(1L, 2L))
    assert(store.scan(name3).count() === 1) // memo holds v2's files
    val log3 = Paths.get(root, name3.replace('.', '/'), "_log")
    val s3 = Files.list(log3)
    try s3.toArray.foreach(p =>
      Files.delete(p.asInstanceOf[java.nio.file.Path]))
    finally s3.close()
    // new incarnation with the SAME log length (v1 create + v2 append,
    // both empty) — only the head file's identity differs
    LogTableStore.writeCommitFile(log3.resolve(f"v${1L}%020d.json"),
      Commit(1L, "create", keyedSchema, Nil, Nil, Nil, full = true))
    LogTableStore.writeCommitFile(log3.resolve(f"v${2L}%020d.json"),
      Commit(2L, "append", keyedSchema, Nil, Nil, Nil, full = false))
    assert(store.versions(name3) === Seq(1L, 2L))
    assert(store.scan(name3).count() === 0,
      "an equal-length recreate went undetected — the head identity " +
        "stamp did not evict the dead incarnation's memoized manifest")
    // r17: a recreate whose new head lands PAST the cached head
    // (recreate + commits + a vacuum before the next probe) gives the
    // HEAD stamp no comparand — the TAIL stamp (recorded on every own
    // commit) must fire instead: the new log's range still covers the
    // cached tail version, and the reused version is a different file.
    val name4 = "t.recreate3"
    store.ensure(name4, keyedSchema)
    store.append(name4, keyed(Seq((1L, "w1")))) // v2; cache [1,2]
    assert(store.versions(name4) === Seq(1L, 2L))
    assert(store.scan(name4).count() === 1)
    val log4 = Paths.get(root, name4.replace('.', '/'), "_log")
    val s4 = Files.list(log4)
    try s4.toArray.foreach(p =>
      Files.delete(p.asInstanceOf[java.nio.file.Path]))
    finally s4.close()
    // new incarnation whose log is [2,3]: head(2) > cached head(1),
    // tail(3) > cached tail(2) — only the tail stamp at the reused v2
    // can fire
    LogTableStore.writeCommitFile(log4.resolve(f"v${2L}%020d.json"),
      Commit(2L, "create", keyedSchema, Nil, Nil, Nil, full = true))
    LogTableStore.writeCommitFile(log4.resolve(f"v${3L}%020d.json"),
      Commit(3L, "append", keyedSchema, Nil, Nil, Nil, full = false))
    assert(store.versions(name4) === Seq(2L, 3L))
    assert(store.scan(name4).count() === 0,
      "a past-the-head recreate went undetected — the tail identity " +
        "stamp did not evict the dead incarnation's memoized manifest")
    other.close()
    store.close()
  }

  test("concurrent writeMissingCheckpoints callers serialize: a missing " +
      "boundary is streamed exactly once") {
    // The hardlink-CAS dedupes the PUBLISH, but without the per-table
    // streaming marker a direct maintenance call racing the scheduled
    // daemon task would both stream the same manifest-sized,
    // rate-capped tmp — doubling the disk-interference window the
    // rate cap exists to bound. Three concurrent callers (daemon +
    // two maintenance threads) must produce exactly ONE stream: the
    // winner writes, the waiters re-check the boundary stat and skip.
    val root = freshRoot
    val name = "t.cpserial"
    syntheticManifest(root, name, 20000) // ~3 MB checkpoint
    val store = new LogTableStore(spark, root, checkpointInterval = 2)
    assert(store.smallFileCount(name, 1L) === 0) // warm the memo
    withCheckpointRate(2L << 20) { // ~1.5 s stream window
      val streams0 = LogTableStore.checkpointStreams.get()
      store.append(name, keyed(Seq((0L, "a")))) // v2 boundary → daemon task
      val errs = new java.util.concurrent.atomic.AtomicInteger(0)
      val threads = (0 until 2).map { i =>
        val t = new Thread(() => {
          try store.writeMissingCheckpoints(name)
          catch { case _: Throwable => errs.incrementAndGet() }
        }, s"cp-maint-$i")
        t.start(); t
      }
      threads.foreach(_.join(600000L))
      assert(LogTableStore.awaitBackgroundCheckpoints(600000L))
      assert(errs.get() === 0, "a concurrent maintenance caller failed")
      val log = Paths.get(root, name.replace('.', '/'), "_log")
      assert(Files.exists(log.resolve(f"v${2L}%020d.checkpoint.json")))
      val streams = LogTableStore.checkpointStreams.get() - streams0
      assert(streams === 1,
        s"$streams checkpoint streams for one missing boundary — " +
          "concurrent callers are duplicating the paced write")
    }
    store.close()
  }

  test("paced checkpoint write rejects a non-positive rate instead of " +
      "hanging the daemon") {
    // A non-positive bytesPerSec would overflow aheadNanos into an
    // effectively-infinite sleep — the daemon thread hangs and every
    // later checkpoint queues behind it forever.
    val root = freshRoot
    val tmp = Paths.get(root).resolve("paced.tmp")
    Files.createDirectories(Paths.get(root))
    val c = Commit(1L, "create", keyedSchema, Nil, Nil, Nil, full = true)
    intercept[IllegalArgumentException] {
      LogTableStore.writeCommitFilePaced(tmp, c, 0L)
    }
    intercept[IllegalArgumentException] {
      LogTableStore.writeCommitFilePaced(tmp, c, -5L)
    }
    // and the positive path still writes a parseable entry
    LogTableStore.writeCommitFilePaced(tmp, c, 1L << 20)
    val in = Files.newInputStream(tmp)
    try assert(LogTableStore.readCommitStream(in).version === 1L)
    finally in.close()
  }

  test("driver footprint soak: 1,000 commit-per-trigger cycles hold a " +
      "constant memo, near-zero listings, and a flat heap") {
    // The memo-rotation test pins the structure at 30 commits; this
    // soak runs the longevity story end-to-end at streaming cadence.
    // rollback() is a full production commit (resolve + CAS publish)
    // with no Spark job, so 1,000 cycles run in seconds — the surface
    // under test is the DRIVER's: memo spines must rotate, the _log
    // listing must stay O(1) amortized, heap must come back flat.
    val root = freshRoot
    val name = "t.soak"
    val store = new LogTableStore(spark, root, checkpointInterval = 16)
    store.ensure(name, keyedSchema)
    store.append(name, keyed(Seq((1L, "seed")))) // v2: the restored state
    def gcUsed(): Long = {
      (1 to 3).foreach(_ => System.gc())
      Thread.sleep(100)
      val r = Runtime.getRuntime
      r.totalMemory() - r.freeMemory()
    }
    val heap0 = gcUsed()
    val l0 = LogTableStore.logDirListings.get()
    var maxMemo = 0
    val t0 = System.nanoTime()
    for (i <- 1 to 1000) {
      store.rollback(name, 2L)
      if (i % 100 == 0)
        maxMemo = math.max(maxMemo, store.memoizedVersionCount(name))
    }
    val soakSecs = (System.nanoTime() - t0) / 1e9
    val listings = LogTableStore.logDirListings.get() - l0
    assert(LogTableStore.awaitBackgroundCheckpoints(600000L))
    val heap1 = gcUsed()
    info(f"1,000 commits in $soakSecs%.1fs: max memo $maxMemo, " +
      f"$listings listings, heap ${heap0 / 1048576}%d → " +
      f"${heap1 / 1048576}%d MB")
    // +1: a concurrent background-checkpoint resolve of an old boundary
    // transiently memoizes before noteResolved evicts it
    assert(maxMemo <= LogTableStore.MemoKeepVersions + 1,
      s"$maxMemo manifests memoized mid-soak — the memo is not rotating")
    assert(store.memoizedVersionCount(name) <=
      LogTableStore.MemoKeepVersions)
    assert(listings <= 20,
      s"$listings _log listings across 1,000 commits — the cached " +
        "listing is not advancing on own commits")
    assert(store.versions(name).size === 1002)
    assert(store.scan(name).count() === 1)
    val heapGrowth = heap1 - heap0
    assert(heapGrowth < 512L * 1024 * 1024,
      s"driver heap grew ${heapGrowth / 1048576} MB across the soak")
    store.close()
  }

  test("multi-table driver soak: 4 tables x 250 interleaved cycles hold " +
      "per-table memo rotation, near-zero listings, and a flat heap") {
    // The 1,000-cycle soak drives ONE table; a streaming deployment
    // holds several at once (documents + LSH index + corpus state +
    // gold), each with its own memo, cached listing, and checkpoint
    // cadence. Four tables with STAGGERED checkpoint intervals (8, 12,
    // 16, 20) interleave their boundary tasks on the shared daemon
    // thread — the pins must hold PER TABLE, not just in aggregate,
    // and a boundary task for one table must not disturb another
    // table's caches.
    val root = freshRoot
    val intervals = Seq(8, 12, 16, 20)
    val names = intervals.map(iv => s"t.msoak$iv")
    val stores = intervals.map(iv =>
      new LogTableStore(spark, root, checkpointInterval = iv))
    names.zip(stores).foreach { case (n, st) =>
      st.ensure(n, keyedSchema)
      st.append(n, keyed(Seq((1L, "seed")))) // v2: the restored state
    }
    def gcUsed(): Long = {
      (1 to 3).foreach(_ => System.gc())
      Thread.sleep(100)
      val r = Runtime.getRuntime
      r.totalMemory() - r.freeMemory()
    }
    val heap0 = gcUsed()
    val l0 = LogTableStore.logDirListings.get()
    val maxMemo = Array.fill(names.size)(0)
    val t0 = System.nanoTime()
    for (i <- 1 to 250; t <- names.indices) {
      stores(t).rollback(names(t), 2L)
      if (i % 50 == 0)
        maxMemo(t) = math.max(maxMemo(t),
          stores(t).memoizedVersionCount(names(t)))
    }
    val soakSecs = (System.nanoTime() - t0) / 1e9
    assert(LogTableStore.awaitBackgroundCheckpoints(600000L))
    val listings = LogTableStore.logDirListings.get() - l0
    val heap1 = gcUsed()
    info(f"4x250 interleaved commits in $soakSecs%.1fs: max memo " +
      f"${maxMemo.mkString("/")}, $listings listings, heap " +
      f"${heap0 / 1048576}%d → ${heap1 / 1048576}%d MB")
    for (t <- names.indices) {
      assert(maxMemo(t) <= LogTableStore.MemoKeepVersions + 1,
        s"table ${names(t)}: ${maxMemo(t)} manifests memoized mid-soak " +
          "— the memo is not rotating per table")
      assert(stores(t).memoizedVersionCount(names(t)) <=
        LogTableStore.MemoKeepVersions)
      assert(stores(t).versions(names(t)).size === 252)
      assert(stores(t).scan(names(t)).count() === 1)
    }
    assert(listings <= 40,
      s"$listings _log listings across 4x250 interleaved commits — a " +
        "table's cached listing is being disturbed by its neighbors")
    val heapGrowth = heap1 - heap0
    assert(heapGrowth < 512L * 1024 * 1024,
      s"driver heap grew ${heapGrowth / 1048576} MB across the soak")
    stores.foreach(_.close())
  }
}
