package graft.store

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.SparkSpec
import java.nio.file.{Files, Paths}

/** The [[TableStore]] contract the pipeline relies on — MERGE, DELETE,
  * schema evolution, snapshots, compaction, the key Bloom — run
  * against its implementation, [[LogTableStore]]. Protocol internals
  * (commit log, checkpoints, CAS, vacuum reachability) live in
  * LogTableStoreSpec.
  */
class TableStoreSpec extends SparkSpec {

  private def freshStore = new LogTableStore(spark, tmpDir("store"))

  private def df(rows: Seq[(String, String, Double)]) = {
    val sp = spark
    import sp.implicits._
    rows.toDF("id", "part", "v")
  }

  private val schema = StructType(Seq(
    StructField("id", StringType), StructField("part", StringType),
    StructField("v", DoubleType)))

  private def idsOf(store: TableStore, name: String): Set[String] =
    store.scan(name).select("id").collect().map(_.getString(0)).toSet

  /** Live data files holding rows of one partition value. */
  private def filesOf(store: TableStore, name: String, part: String) =
    store.scanRange(name, "part", part, part).inputFiles.toSet

  test("ensure + append + scan round trip with partitioning") {
    val store = freshStore
    store.ensure("t.base", schema, Seq("part"))
    assert(store.scan("t.base").count() === 0)
    store.append("t.base", df(Seq(("a", "p1", 1.0), ("b", "p2", 2.0))))
    assert(store.scan("t.base").count() === 2)
    assert(store.scanRange("t.base", "part", "p1", "p1").count() === 1)
  }

  test("S7 mergeInsertOnly is idempotent (run twice ≡ run once)") {
    val store = freshStore
    store.ensure("t.ins", schema, Seq("part"))
    val batch = df(Seq(("a", "p1", 1.0), ("b", "p1", 2.0), ("a", "p1", 1.0)))
    assert(store.mergeInsertOnly("t.ins", batch, Seq("id")) === 2) // in-batch dedup
    assert(store.mergeInsertOnly("t.ins", batch, Seq("id")) === 0) // replay
    assert(store.scan("t.ins").count() === 2)
    // new keys still insert
    assert(store.mergeInsertOnly("t.ins",
      df(Seq(("c", "p2", 3.0))), Seq("id")) === 1)
    assert(store.scan("t.ins").count() === 3)
  }

  test("S8 mergeUpsert updates matched keys, keeps unmatched, only rewrites touched partitions") {
    val store = freshStore
    store.ensure("t.up", schema, Seq("part"))
    store.append("t.up", df(Seq(("a", "p1", 1.0), ("b", "p1", 2.0))))
    store.append("t.up", df(Seq(("x", "p2", 3.0))))
    val p2Before = filesOf(store, "t.up", "p2")
    store.mergeUpsert("t.up",
      df(Seq(("a", "p1", 10.0), ("d", "p1", 4.0))), Seq("id"))
    val out = store.scan("t.up").collect()
      .map(r => r.getAs[String]("id") -> r.getAs[Double]("v")).toMap
    assert(out === Map("a" -> 10.0, "b" -> 2.0, "x" -> 3.0, "d" -> 4.0))
    // p2's file holds no incoming key and its key zone [x, x] lies
    // outside the batch's [a, d]: it is not rewritten
    assert(filesOf(store, "t.up", "p2") === p2Before)
    // idempotent under replay
    store.mergeUpsert("t.up",
      df(Seq(("a", "p1", 10.0), ("d", "p1", 4.0))), Seq("id"))
    assert(store.scan("t.up").count() === 4)
  }

  test("compaction packs many small files into few, data intact") {
    val store = freshStore
    store.ensure("t.cmp", schema, Seq("part"))
    // simulate 10 micro-batch appends → ≥10 files
    (1 to 10).foreach { i =>
      store.append("t.cmp", df(Seq((s"r$i", s"p${i % 2}", i.toDouble))))
    }
    val beforeRows = idsOf(store, "t.cmp")
    val (before, after) = store.compact("t.cmp")
    assert(before >= 10)
    assert(after < before)
    assert(idsOf(store, "t.cmp") === beforeRows)
  }

  test("clustered compaction sorts rows within files, data intact") {
    val store = freshStore
    store.ensure("t.cl", schema, Nil)
    // append in deliberately scrambled id order across several files
    Seq(Seq(("z9", "p1", 9.0), ("a1", "p1", 1.0)),
      Seq(("m5", "p1", 5.0), ("b2", "p1", 2.0)),
      Seq(("q7", "p1", 7.0), ("c3", "p1", 3.0))).foreach(r => store.append("t.cl", df(r)))
    val beforeIds = idsOf(store, "t.cl")
    store.compact("t.cl", targetBytes = 1200L, clusterBy = Seq("id"))
    assert(idsOf(store, "t.cl") === beforeIds)
    // every output file is internally sorted by id (row-group stats
    // become selective for id predicates)
    assert(store.scan("t.cl").inputFiles.nonEmpty)
    store.scan("t.cl").inputFiles.foreach { f =>
      val ids = spark.read.parquet(f).collect().map(_.getString(0)).toSeq
      assert(ids == ids.sorted, s"$f not clustered: $ids")
    }
  }

  test("S11 delete removes matching rows only") {
    val store = freshStore
    store.ensure("t.del", schema, Seq("part"))
    store.append("t.del",
      df(Seq(("a", "p1", 1.0), ("b", "p1", 2.0), ("c", "p2", 3.0))))
    assert(store.delete("t.del", col("id") === "b") === 1)
    assert(idsOf(store, "t.del") === Set("a", "c"))
    // no-match delete leaves the table untouched
    assert(store.delete("t.del", col("id") === "zzz") === 0)
    assert(store.scan("t.del").count() === 2)
  }

  test("S11 delete rewrites only touched partitions; emptied partitions are dropped") {
    val store = freshStore
    store.ensure("t.dp", schema, Seq("part"))
    // one append per partition: each value gets its own file
    Seq(Seq(("a", "p1", 1.0), ("b", "p1", 2.0)), Seq(("c", "p2", 3.0)),
      Seq(("d", "p3", 4.0))).foreach(r => store.append("t.dp", df(r)))
    val p3Before = filesOf(store, "t.dp", "p3")
    // delete every row of p2 + one row of p1
    assert(store.delete("t.dp", col("id").isin("b", "c")) === 2)
    assert(idsOf(store, "t.dp") === Set("a", "d"))
    // p2 has no live file left (fully emptied), p3's file is untouched
    assert(filesOf(store, "t.dp", "p2").isEmpty)
    assert(filesOf(store, "t.dp", "p3") === p3Before)
  }

  test("S11 emptied-partition drop handles writer-escaped partition values") {
    // values a Hive-style writer leaves literal (space, comma, +) or
    // percent-escapes (:, /): partition values are ordinary column data
    // in the files, so deleting each must empty exactly its rows and
    // leave no live file behind once the last one is gone
    val store = freshStore
    store.ensure("t.esc", schema, Seq("part"))
    val values = Seq("has space", "a,b+c", "x:y/z")
    store.append("t.esc", df(values.zipWithIndex.map { case (p, i) =>
      (s"id$i", p, i.toDouble) }))
    for ((p, i) <- values.zipWithIndex) {
      assert(store.delete("t.esc", col("part") === p) === 1, s"value '$p'")
      assert(store.scan("t.esc").filter(col("part") === p).count() === 0L)
      assert(store.scan("t.esc").count() === values.size - 1 - i)
    }
    assert(store.scan("t.esc").inputFiles.isEmpty,
      "an emptied table still references data files")
  }

  test("S11 delete of every row in a non-partitioned table empties it cleanly") {
    val store = freshStore
    store.ensure("t.all", schema, Nil)
    store.append("t.all", df(Seq(("a", "p1", 1.0), ("b", "p2", 2.0))))
    // full-scope delete stages zero data files — must not crash, and
    // the table must come back empty but usable
    assert(store.delete("t.all", lit(true)) === 2)
    assert(store.scan("t.all").count() === 0L)
    store.append("t.all", df(Seq(("c", "p3", 3.0))))
    assert(store.scan("t.all").select("id").collect().map(_.getString(0))
      .toSeq === Seq("c"))
  }

  test("metadata survives a store restart: declared types and addColumn") {
    val root = tmpDir("persist")
    val s1 = new LogTableStore(spark, root)
    val dated = StructType(Seq(
      StructField("id", StringType), StructField("event_date", StringType),
      StructField("v", DoubleType)))
    s1.ensure("t.per", dated, Seq("event_date"))
    val sp = spark; import sp.implicits._
    s1.append("t.per", Seq(("a", "2024-01-02", 1.0)).toDF("id", "event_date", "v"))
    s1.addColumn("t.per", StructField("extra", IntegerType))
    s1.close() // drop this root's JVM caches: the restart reads disk only

    val s2 = new LogTableStore(spark, root)
    val out = s2.scan("t.per")
    // a date-shaped partition value stays the declared STRING
    assert(out.schema("event_date").dataType === StringType)
    // the addColumn evolution survived the restart
    assert(out.columns.contains("extra"))
    assert(out.select("extra").collect().head.isNullAt(0))
    // S5 IF NOT EXISTS: re-ensure with the pre-evolution schema keeps
    // the evolved one
    s2.ensure("t.per", dated, Seq("event_date"))
    assert(s2.scan("t.per").columns.contains("extra"))
  }

  test("snapshot pins state across upsert, delete, and schema evolution") {
    val store = freshStore
    store.ensure("t.snap", schema, Seq("part"))
    store.append("t.snap", df(Seq(("a", "p1", 1.0), ("b", "p2", 2.0))))
    val v1 = store.versions("t.snap").last

    // mutate the live table every way the store can
    store.mergeUpsert("t.snap", df(Seq(("a", "p1", 10.0))), Seq("id"))
    store.delete("t.snap", col("id") === "b")
    store.addColumn("t.snap", StructField("extra", IntegerType))
    store.append("t.snap", df(Seq(("c", "p3", 3.0)))
      .withColumn("extra", lit(7)))

    // time travel: v1 sees the original rows and the pre-evolution schema
    val old = store.scanAt("t.snap", v1)
    assert(!old.columns.contains("extra"))
    assert(old.collect().map(r =>
      r.getAs[String]("id") -> r.getAs[Double]("v")).toMap
      === Map("a" -> 1.0, "b" -> 2.0))
    // live table is unaffected by the time-travel read
    val live = store.scan("t.snap").collect()
      .map(r => r.getAs[String]("id") -> r.getAs[Double]("v")).toMap
    assert(live === Map("a" -> 10.0, "c" -> 3.0))
  }

  test("rollback restores data and schema; snapshots survive and are re-playable") {
    val store = freshStore
    store.ensure("t.rb", schema, Seq("part"))
    store.append("t.rb", df(Seq(("a", "p1", 1.0))))
    val v1 = store.versions("t.rb").last
    store.append("t.rb", df(Seq(("b", "p2", 2.0))))
    store.addColumn("t.rb", StructField("extra", IntegerType))
    val v2 = store.versions("t.rb").last

    store.rollback("t.rb", v1)
    assert(store.scan("t.rb").count() === 1)
    assert(!store.scan("t.rb").columns.contains("extra"))
    // history is append-only: both versions are still readable
    assert(Seq(v1, v2).forall(store.versions("t.rb").contains))

    // roll forward again: v2 still exists and restores the evolved state
    store.rollback("t.rb", v2)
    assert(store.scan("t.rb").count() === 2)
    assert(store.scan("t.rb").columns.contains("extra"))
  }

  test("expireSnapshots drops old versions, keeps the newest, live table intact") {
    val store = freshStore
    store.ensure("t.exp", schema, Seq("part"))
    store.append("t.exp", df(Seq(("a", "p1", 1.0))))
    val v1 = store.versions("t.exp").last
    store.append("t.exp", df(Seq(("b", "p2", 2.0))))
    store.append("t.exp", df(Seq(("c", "p3", 3.0))))
    val all = store.versions("t.exp")

    val (expired, _) = store.vacuum("t.exp", keepLast = 1, graceMillis = 0L)
    assert(expired === all.init)
    assert(store.versions("t.exp") === Seq(all.last))
    // expired versions are gone; the survivor and the live table read fine
    intercept[IllegalArgumentException](store.scanAt("t.exp", v1))
    assert(store.scanAt("t.exp", all.last).count() === 3)
    assert(store.scan("t.exp").count() === 3)
    // idempotent: nothing left to expire
    assert(store.vacuum("t.exp", keepLast = 1, graceMillis = 0L)._1 === Seq.empty)
  }

  test("diffSnapshots emits insert/delete/update_postimage between versions") {
    val store = freshStore
    store.ensure("t.cdc", schema, Seq("part"))
    store.append("t.cdc", df(Seq(("a", "p1", 1.0), ("b", "p1", 2.0), ("c", "p2", 3.0))))
    val v1 = store.versions("t.cdc").last
    store.mergeUpsert("t.cdc", df(Seq(("a", "p1", 10.0), ("d", "p2", 4.0))), Seq("id"))
    store.delete("t.cdc", col("id") === "b")
    val v2 = store.versions("t.cdc").last
    val changes = store.changes("t.cdc", v1, v2, Seq("id")).collect()
      .map(r => r.getAs[String]("id") -> r.getAs[String]("_change_type")).toMap
    assert(changes === Map("a" -> "update_postimage", "b" -> "delete",
      "d" -> "insert"))
    // the update carries the NEW value
    val postA = store.changes("t.cdc", v1, v2, Seq("id"))
      .filter(col("id") === "a").collect()(0).getAs[Double]("v")
    assert(postA === 10.0)
    // a window must span at least one commit
    intercept[IllegalArgumentException](store.changes("t.cdc", v2, v2, Seq("id")))
  }

  test("diffSnapshots signature is boundary- and NULL-unambiguous") {
    val sp = spark
    import sp.implicits._
    val store = freshStore
    val s2 = StructType(Seq(StructField("id", StringType),
      StructField("x", StringType), StructField("y", StringType)))
    store.ensure("t.sig", s2)
    store.append("t.sig", Seq(("k1", "ab", "c"), ("k2", null.asInstanceOf[String], "z"))
      .toDF("id", "x", "y"))
    val v1 = store.versions("t.sig").last
    // shift the column boundary ("ab","c")→("a","bc") and NULL→""
    store.mergeUpsert("t.sig",
      Seq(("k1", "a", "bc"), ("k2", "", "z")).toDF("id", "x", "y"), Seq("id"))
    val v2 = store.versions("t.sig").last
    val changes = store.changes("t.sig", v1, v2, Seq("id")).collect()
      .map(r => r.getAs[String]("id") -> r.getAs[String]("_change_type")).toMap
    assert(changes === Map("k1" -> "update_postimage", "k2" -> "update_postimage"))
  }

  test("z-order compaction bounds per-file spans on BOTH dimensions") {
    val sp = spark
    import sp.implicits._
    val store = freshStore
    // a 32×32 grid in row-major (= lexicographic by a) order
    val grid = (0 until 32).flatMap(a => (0 until 32).map(b => (a, b)))
      .toDF("a", "b")
    val schema2 = StructType(Seq(
      StructField("a", IntegerType), StructField("b", IntegerType)))
    store.ensure("t.zo", schema2)
    store.append("t.zo", grid)
    // enough output files that the z-curve recursion reaches BOTH
    // dimensions' bits (2 files would split on a's high bit alone)
    val (_, after) = store.compactZOrder("t.zo", targetBytes = 512, "a", "b")
    assert(after >= 8, s"need >=8 files to observe 2-D clustering, got $after")
    assert(store.scan("t.zo").count() === 1024) // data intact
    // per-file min/max spans: with Z-order, BOTH dims are bounded in
    // every file; a lexicographic sort would leave b spanning 0..31
    // in all but degenerate files. (The span sum is what file/row-group
    // skipping sees via parquet min-max stats.)
    val spans = store.scan("t.zo").inputFiles.map { f =>
      val r = spark.read.parquet(f)
        .agg(min("a"), max("a"), min("b"), max("b")).collect()(0)
      (r.getInt(1) - r.getInt(0), r.getInt(3) - r.getInt(2))
    }
    val avgASpan = spans.map(_._1).sum.toDouble / spans.length
    val avgBSpan = spans.map(_._2).sum.toDouble / spans.length
    assert(avgASpan < 20, s"a not clustered: avg span $avgASpan of 31")
    assert(avgBSpan < 20, s"b not clustered: avg span $avgBSpan of 31")
  }

  test("zone-map pruning: a range scan on a z-ordered table reads fewer files") {
    val sp = spark
    import sp.implicits._
    val store = freshStore
    val grid = (0 until 32).flatMap(a => (0 until 32).map(b => (a, b)))
      .toDF("a", "b")
    val schema2 = StructType(Seq(
      StructField("a", IntegerType), StructField("b", IntegerType)))
    store.ensure("t.zm", schema2)
    store.append("t.zm", grid)
    store.compactZOrder("t.zm", targetBytes = 512, "a", "b")
    val total = store.scan("t.zm").inputFiles.length
    // a narrow range on the NON-partition column a: zone-map pruning
    // must plan a scan over a strict subset of the files
    val pruned = store.scanRange("t.zm", "a", "2", "5")
    assert(pruned.inputFiles.length < total,
      s"no pruning: ${pruned.inputFiles.length} of $total files")
    assert(pruned.inputFiles.nonEmpty)
    // and results are exactly the unpruned filter
    val want = store.scan("t.zm").where(col("a").between(2, 5))
      .collect().map(r => (r.getInt(0), r.getInt(1))).toSet
    val got = pruned.collect().map(r => (r.getInt(0), r.getInt(1))).toSet
    assert(got === want)
    assert(got.size === 4 * 32)
    // a range beyond the domain prunes every file, schema intact
    val none = store.scanRange("t.zm", "a", "99", "120")
    assert(none.count() === 0L)
    assert(none.columns.toSeq === Seq("a", "b"))
    // string zone maps: dates as strings (the store convention) prune
    // on lexicographic footer stats
    val dated = (1 to 30).map(d => (f"2024-03-$d%02d", d.toLong))
      .toDF("event_date", "n")
    val schema3 = StructType(Seq(StructField("event_date", StringType),
      StructField("n", LongType)))
    store.ensure("t.zd", schema3)
    store.append("t.zd", dated.repartitionByRange(6, col("event_date")))
    val allD = store.scan("t.zd").inputFiles.length
    val prunedD = store.scanRange("t.zd", "event_date",
      "2024-03-10", "2024-03-12")
    assert(prunedD.inputFiles.length < allD,
      s"no string pruning: ${prunedD.inputFiles.length} of $allD")
    assert(prunedD.collect().map(_.getLong(1)).toSet === Set(10L, 11L, 12L))
    // a partitioned table prunes on its partition column the same way
    val store2 = freshStore
    store2.ensure("t.zp", schema3, Seq("event_date"))
    store2.append("t.zp", dated)
    val viaPart = store2.scanRange("t.zp", "event_date",
      "2024-03-10", "2024-03-12")
    assert(viaPart.collect().map(_.getLong(1)).toSet === Set(10L, 11L, 12L))
  }

  test("bloom-prefiltered merge: dedup semantics unchanged, prefilter in the plan") {
    val root = tmpDir("storebl1")
    val store = new LogTableStore(spark, root)
    store.ensure("t.bl", schema, Nil)
    store.enableKeyBloom("t.bl", Seq("id"), expectedItems = 10000L)
    // one file whose id zone [a, z] admits every probe below
    val a = df(Seq(("a", "p1", 1.0), ("z", "p1", 2.0)))
    assert(store.mergeInsertOnly("t.bl", a, Seq("id")) === 2)
    // replay: every key is a bloom hit → probed → rejected
    assert(store.mergeInsertOnly("t.bl", a, Seq("id")) === 0)
    assert(store.scan("t.bl").count() === 2)
    // Probe shape: overwrite the live data file with garbage. A batch
    // of definitely-new keys must not open the target at all (the
    // filter drops every key from the probe side, so no target file
    // is a candidate) — zones alone would have probed it...
    val target = store.scan("t.bl").inputFiles.toSeq
    assert(target.size === 1)
    Files.write(Paths.get(new java.net.URI(target.head)), "torn".getBytes)
    assert(store.mergeInsertOnly("t.bl",
      df(Seq(("m", "p2", 3.0), ("n", "p2", 4.0))), Seq("id")) === 2)
    // ...while a bloom-hit key still probes it
    intercept[org.apache.spark.SparkException] {
      store.mergeInsertOnly("t.bl", df(Seq(("a", "p1", 1.0))), Seq("id"))
    }
  }

  test("bloom sidecar survives restart and stays a superset across delete") {
    val root = tmpDir("storebl")
    val s1 = new LogTableStore(spark, root)
    s1.ensure("t.bl2", schema, Seq("part"))
    s1.enableKeyBloom("t.bl2", Seq("id"), expectedItems = 10000L)
    s1.mergeInsertOnly("t.bl2",
      df(Seq(("a", "p1", 1.0), ("b", "p2", 2.0))), Seq("id"))
    s1.close()
    // fresh store instance, same root — sidecar is reloaded, replay dedups
    val s2 = new LogTableStore(spark, root)
    s2.enableKeyBloom("t.bl2", Seq("id"), expectedItems = 10000L)
    assert(s2.mergeInsertOnly("t.bl2",
      df(Seq(("a", "p1", 1.0), ("z", "p1", 9.0))), Seq("id")) === 1)
    // delete leaves the filter a superset: a re-merged deleted key is a
    // bloom hit, probes the target, finds nothing, and re-inserts
    assert(s2.delete("t.bl2", col("id") === "a") === 1)
    assert(s2.mergeInsertOnly("t.bl2",
      df(Seq(("a", "p1", 7.0))), Seq("id")) === 1)
    assert(s2.scan("t.bl2").filter(col("id") === "a").count() === 1)
    // and across a second restart after the delete
    s2.close()
    val s3 = new LogTableStore(spark, root)
    s3.enableKeyBloom("t.bl2", Seq("id"), expectedItems = 10000L)
    assert(s3.mergeInsertOnly("t.bl2",
      df(Seq(("a", "p1", 7.0), ("b", "p2", 2.0), ("z", "p1", 9.0))),
      Seq("id")) === 0)
    assert(s3.scan("t.bl2").count() === 3)
  }

  test("bloom sidecar survives a static-overwrite rewrite after restart") {
    // restart (cache empty, sidecar on disk only) → a compaction that
    // replaces every live file → absorb → replay: the rewrite must not
    // leave a filter that is missing the old keys, or mergeInsertOnly
    // would silently duplicate them
    val root = tmpDir("storeblc")
    val s1 = new LogTableStore(spark, root)
    s1.ensure("t.blc", schema, Nil)
    s1.enableKeyBloom("t.blc", Seq("id"), expectedItems = 10000L)
    s1.mergeInsertOnly("t.blc", df(Seq(("a", "p1", 1.0))), Seq("id"))
    s1.mergeInsertOnly("t.blc", df(Seq(("b", "p1", 2.0))), Seq("id"))
    s1.close()
    val s2 = new LogTableStore(spark, root)
    s2.enableKeyBloom("t.blc", Seq("id"), expectedItems = 10000L)
    val (folded, written) = s2.compact("t.blc")
    assert(folded === 2L && written === 1L)
    assert(Files.exists(Paths.get(s"$root/t/blc/_keybloom.bin")),
      "the sidecar must outlive the rewrite")
    // absorb a new key, then replay BOTH old and new keys: zero inserts
    assert(s2.mergeInsertOnly("t.blc", df(Seq(("c", "p1", 3.0))), Seq("id")) === 1)
    assert(s2.mergeInsertOnly("t.blc",
      df(Seq(("a", "p1", 1.0), ("b", "p1", 2.0), ("c", "p1", 3.0))),
      Seq("id")) === 0)
    // and a THIRD instance restoring from the sidecar still dedups the
    // original keys
    s2.close()
    val s3 = new LogTableStore(spark, root)
    s3.enableKeyBloom("t.blc", Seq("id"), expectedItems = 10000L)
    assert(s3.mergeInsertOnly("t.blc",
      df(Seq(("a", "p1", 1.0))), Seq("id")) === 0)
    assert(s3.scan("t.blc").count() === 3)
  }

  test("interleaved instances over one root share the bloom cache (no stale fast path)") {
    // a per-instance cache would go stale after another instance's
    // merge absorbed new keys: the first instance would call those
    // keys "definitely fresh", skip the anti-join, and insert silent
    // duplicates. The cache lives in the companion keyed by canonical
    // root::table.
    val root = tmpDir("storebli")
    val s1 = new LogTableStore(spark, root)
    s1.ensure("t.bli", schema, Seq("part"))
    s1.enableKeyBloom("t.bli", Seq("id"), expectedItems = 10000L)
    assert(s1.mergeInsertOnly("t.bli",
      df(Seq(("a", "p1", 1.0), ("b", "p1", 2.0))), Seq("id")) === 2)
    val s2 = new LogTableStore(spark, root)
    s2.enableKeyBloom("t.bli", Seq("id"), expectedItems = 10000L)
    assert(s2.mergeInsertOnly("t.bli",
      df(Seq(("c", "p1", 3.0))), Seq("id")) === 1)
    // back on s1: replay the key s2 absorbed — must NOT duplicate
    assert(s1.mergeInsertOnly("t.bli",
      df(Seq(("c", "p1", 3.0), ("d", "p1", 4.0))), Seq("id")) === 1)
    assert(s1.scan("t.bli").groupBy("id").count()
      .where(col("count") > 1).count() === 0L)
    assert(s1.scan("t.bli").count() === 4)
  }

  test("single-writer guard: a concurrent second writer fails loudly") {
    // the second writer reaches the table through a symlinked root — a
    // separate process in miniature (no shared JVM lock) — and commits
    // while the first writer's MERGE is mid-flight, after it resolved
    // its base version. The stale MERGE must abort, never commit over
    // the other writer's version.
    val root = tmpDir("lock")
    val link = Paths.get(s"$root-other")
    Files.createSymbolicLink(link, Paths.get(root))
    val store = new LogTableStore(spark, root)
    val other = new LogTableStore(spark, link.toString)
    store.ensure("t.lk", schema, Nil)
    store.append("t.lk", df(Seq(("a", "p1", 1.0))))
    def racedBy(write: => Unit): Throwable = {
      TableStoreSpec.reset()
      val t = new Thread(() => {
        other.append("t.lk", df(Seq((s"x${System.nanoTime()}", "p1", 0.0))))
        ()
      })
      val failure = new java.util.concurrent.atomic.AtomicReference[Throwable]
      val writer = new Thread(() =>
        try write catch { case e: Throwable => failure.set(e) })
      writer.start()
      TableStoreSpec.awaitPaused()
      t.start(); t.join(120000)
      TableStoreSpec.resume()
      writer.join(120000)
      failure.get
    }
    def gated(rows: Seq[(String, String, Double)]) = {
      val gate = udf { (v: Double) => TableStoreSpec.pause(); v }
      df(rows).withColumn("v", gate(col("v")))
    }
    assert(racedBy(store.mergeUpsert("t.lk", gated(Seq(("a", "p1", 2.0))),
      Seq("id"))).isInstanceOf[java.util.ConcurrentModificationException])
    assert(racedBy(store.mergeInsertOnly("t.lk", gated(Seq(("b", "p1", 2.0))),
      Seq("id"))).isInstanceOf[java.util.ConcurrentModificationException])
    // deletes park in their probe: the predicate, then the key frame
    val gate = udf { (v: Double) => TableStoreSpec.pause(); v }
    assert(racedBy(store.delete("t.lk", gate(col("v")) === 1.0))
      .isInstanceOf[java.util.ConcurrentModificationException])
    val gateKey = udf { (k: String) => TableStoreSpec.pause(); k }
    assert(racedBy(store.deleteKeys("t.lk",
      df(Seq(("a", "p1", 1.0))).select(gateKey(col("id")).as("id")),
      Seq("id"))).isInstanceOf[java.util.ConcurrentModificationException])
    // no stale write landed — "a" survived both deletes unchanged; the
    // racing appends did land
    assert(store.scan("t.lk").filter(col("id").isin("a", "b"))
      .collect().map(_.getDouble(2)).toSeq === Seq(1.0))
    assert(store.scan("t.lk").count() === 5)
    // no race → writes proceed, and sequential ops never self-block
    store.mergeUpsert("t.lk", df(Seq(("a", "p1", 3.0))), Seq("id"))
    store.mergeInsertOnly("t.lk", df(Seq(("b", "p1", 4.0))), Seq("id"))
    assert(store.delete("t.lk", col("id") === "b") === 1)
    assert(store.scan("t.lk").filter(col("id") === "a")
      .collect().map(_.getDouble(2)).toSeq === Seq(3.0))
  }

  test("bloom seeded from pre-existing data; upsert keys absorbed") {
    val store = freshStore
    store.ensure("t.bl3", schema, Seq("part"))
    store.append("t.bl3", df(Seq(("a", "p1", 1.0), ("b", "p2", 2.0))))
    // enabling AFTER data exists seeds the filter from the table scan
    store.enableKeyBloom("t.bl3", Seq("id"), expectedItems = 10000L)
    assert(store.mergeInsertOnly("t.bl3",
      df(Seq(("a", "p1", 1.0), ("c", "p1", 3.0))), Seq("id")) === 1)
    // keys arriving via upsert are also absorbed (superset across styles)
    store.mergeUpsert("t.bl3", df(Seq(("d", "p2", 4.0))), Seq("id"))
    assert(store.mergeInsertOnly("t.bl3",
      df(Seq(("d", "p2", 4.0))), Seq("id")) === 0)
    assert(store.scan("t.bl3").count() === 4)
  }
}

/** Same-JVM latch the racing-writer test parks a MERGE's task on: a
  * UDF in the incoming batch pauses until the racing commit lands. A
  * companion object, so the executor-side UDF and the test thread see
  * the same latches (local mode runs tasks in this JVM). */
private object TableStoreSpec {
  @volatile private var paused = new java.util.concurrent.CountDownLatch(1)
  @volatile private var go = new java.util.concurrent.CountDownLatch(1)
  def reset(): Unit = {
    paused = new java.util.concurrent.CountDownLatch(1)
    go = new java.util.concurrent.CountDownLatch(1)
  }
  def pause(): Unit = {
    paused.countDown()
    go.await(120, java.util.concurrent.TimeUnit.SECONDS)
  }
  def awaitPaused(): Unit =
    assert(paused.await(120, java.util.concurrent.TimeUnit.SECONDS),
      "the MERGE never evaluated its incoming batch")
  def resume(): Unit = go.countDown()
}
