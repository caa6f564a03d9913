package graft

import java.nio.file.{Files, Paths}
import org.apache.hadoop.fs.FileSystem
import graft.store.LogTableStore

/** The session contract every entry point and this harness share. */
class GraftSessionSpec extends SparkSpec {

  test("the contract: Bench's semantic and engine confs, UI off, log level WARN") {
    val conf = spark.sparkContext.getConf
    // Bench's session map before the contract existed, at the harness's
    // 4 cores; only the file:// class differs (see the next tests)
    val want = Map(
      "spark.master" -> "local[4]",
      "spark.sql.shuffle.partitions" -> "4",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.sql.ansi.enabled" -> "false",
      "spark.shuffle.sort.bypassMergeThreshold" -> "1",
      "spark.sql.codegen.cache.maxEntries" -> "5000",
      "spark.ui.enabled" -> "false",
      "spark.hadoop.fs.file.impl" ->
        classOf[GraftSession.NoCrcLocalFileSystem].getName)
    for ((k, v) <- want) assert(conf.getOption(k).contains(v), k)
    // kernels come in through the builder's extensions, not a conf key
    assert(!conf.contains("spark.sql.extensions"))
    val wh = Paths.get(conf.get("spark.sql.warehouse.dir"))
    assert(wh.getFileName.toString.startsWith("graft-warehouse"), wh)
    assert(org.apache.logging.log4j.LogManager.getRootLogger.getLevel.toString
      === "WARN")
  }

  test("store and plain parquet writes leave no .crc sidecars on file://") {
    val root = tmpDir("graft-session-crc")
    val store = new LogTableStore(spark, root)
    val sp = spark
    import sp.implicits._
    val rows = Seq((1L, "a"), (2L, "b")).toDF("k", "s")
    store.ensure("t.crc", rows.schema)
    store.append("t.crc", rows)
    store.mergeUpsert("t.crc", Seq((2L, "B"), (3L, "c")).toDF("k", "s"), Seq("k"))
    assert(store.scan("t.crc").count() === 3L)
    // the store moves only parquet parts out of staging, so a plain
    // write is what shows a sidecar the filesystem still creates
    spark.range(10).write.parquet(s"$root/plain")
    val files = Files.walk(Paths.get(root))
    try {
      val crcs = files.filter(_.getFileName.toString.endsWith(".crc")).count()
      assert(crcs === 0L)
    } finally files.close()
    store.close()
  }

  test("FileSystem.getLocal succeeds (RocksDB state uploads go through it)") {
    val fs = FileSystem.getLocal(spark.sessionState.newHadoopConf())
    assert(fs.isInstanceOf[GraftSession.NoCrcLocalFileSystem])
  }

  test("kernels resolve in SQL with no registration call, also in a new session") {
    // "the" → ((0*31+116)%p*31+104)%p*31+101 % p = 114801
    assert(spark.sql("SELECT poly_hash('the')").head().getLong(0) === 114801L)
    assert(spark.newSession().sql("SELECT poly_hash('the')").head().getLong(0)
      === 114801L)
  }

  test("release frees localCheckpoint blocks and cached frames") {
    spark.range(1000).localCheckpoint() // eager: its blocks are live now
    val cached = spark.range(10).cache()
    cached.count()
    assert(spark.sparkContext.getPersistentRDDs.nonEmpty)
    GraftSession.release(spark)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
    assert(spark.sharedState.cacheManager.isEmpty)
  }
}
