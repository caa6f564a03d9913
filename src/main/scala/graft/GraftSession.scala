package graft

import java.net.URI
import java.nio.file.Files
import scala.util.control.NonFatal
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.LocalFileSystem
import org.apache.spark.SparkContext
import org.apache.spark.sql.SparkSession
import graft.functions.GraftExtensions

/** The one session contract. Every entry point (Bench, Verify, the
  * pipeline mains, the instruments) and the test harness build their
  * session here, so the confs the suite is tested under are the confs
  * the benchmarks and the oracle dump run under.
  *
  * Semantic confs — results depend on these:
  *  - session time zone UTC;
  *  - `nanosAsLong`: `events.ts` is parquet TIMESTAMP(NANOS), which
  *    Spark refuses to read otherwise (`Tables.events` converts it);
  *  - `ansi=false`, the reference's Spark 3 semantics: malformed field
  *    values cast to NULL instead of throwing, so bad-typed JSON fields
  *    degrade gracefully rather than kill the streaming job.
  *
  * Engine confs — speed only, each with its reason below. Every
  * custom kernel is callable from SQL through [[GraftExtensions]];
  * that adds no conf key.
  *
  * Parameters are only what callers really differ in: the master
  * (`local[cores]` unless a main passes `SPARK_MASTER`), the core count
  * (which is also the shuffle width), and the warehouse directory (a
  * fresh temp directory unless a deployment keeps it beside its store).
  */
object GraftSession {

  /** `cores` defaults to `SPARK_GRAFT_CPUS`, else 4. */
  def apply(cores: Int = sys.env.get("SPARK_GRAFT_CPUS").fold(4)(_.toInt),
            master: Option[String] = None,
            warehouseDir: Option[String] = None): SparkSession = {
    val spark = SparkSession.builder()
      .master(master.getOrElse(s"local[$cores]"))
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.ansi.enabled", "false")
      // managed tables (dd12's bucketed LSH index, the streaming LSH
      // tables) land outside the repo
      .config("spark.sql.warehouse.dir", warehouseDir.getOrElse(
        Files.createTempDirectory("graft-warehouse").toString))
      // r17, many small shuffle blocks: below the
      // bypass-merge threshold (default 200 reduce partitions) Spark's
      // BypassMergeSortShuffleWriter opens one file PER REDUCE
      // PARTITION per map task — M×R file creations per shuffle. At
      // R = cores that is ~1k syscall-bound file opens per exchange;
      // jstack sampling showed executor CPU dominated by
      // FileOutputStream.open0/mmap, and task-CPU for the signing
      // pipeline dropped 6.5 s → 2.5 s with the sort writer (one
      // spill file per map task) forced. Scale-neutral: production
      // reduce counts exceed 200, where the bypass writer is never
      // chosen and this setting is a no-op.
      .config("spark.shuffle.sort.bypassMergeThreshold", "1")
      .config("spark.hadoop.fs.file.impl", classOf[NoCrcLocalFileSystem].getName)
      // r17: the suite executes 119 queries × several generated
      // classes each per pass — far over the 100-entry default codegen
      // class cache, so every pass re-Janino-compiles every stage
      // (pure CPU overhead re-paid per iteration; a production driver
      // serving a wide query mix raises this the same way). Memory
      // cost is tens of MB of compiled classes.
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** `file://` without client-side `.crc` sidecars. Hadoop's default
    * local filesystem is a ChecksumFileSystem: every parquet part,
    * `_SUCCESS` marker and staged file gets a hidden `.crc` sidecar,
    * doubling creates/renames/deletes per table write (r17 measured
    * e11's build+append+compact lifecycle warm wall 4.5 → 3.5 s
    * without them). Integrity does not rest on the sidecars: parquet
    * writes page CRCs by default, and the log store's commit files go
    * through `java.nio`, which never wrote sidecars.
    *
    * This must stay a `LocalFileSystem`, not `RawLocalFileSystem`:
    * `FileSystem.getLocal` casts to `LocalFileSystem`, and Spark's
    * RocksDB state store (the provider `UserSessions.sessionizeTws`
    * needs) uploads its files through `copyFromLocalFile` → `getLocal`,
    * which throws ClassCastException under the raw class. */
  final class NoCrcLocalFileSystem extends LocalFileSystem {
    override def initialize(name: URI, conf: Configuration): Unit = {
      super.initialize(name, conf)
      setWriteChecksum(false)
      setVerifyChecksum(false)
    }
  }

  /** Drop every cached frame and free every persisted RDD block.
    * Operators that materialize intermediates via localCheckpoint (CC
    * rounds, LSH signatures, PQ codes) leave their blocks behind until
    * GC + ContextCleaner get around to them; across 100+ queries the
    * block manager fills and every later query pays the memory
    * pressure (the r5 lockstep drift).
    *
    * INVARIANT this relies on: no RDD-level state may outlive a query.
    * Sweeping destroys localCheckpoint blocks irrecoverably (lineage is
    * truncated — a later action on a swept frame throws
    * CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND), so any cross-query memo must
    * store *disk table names* (as LlmQueries.annIndexMemo does), never
    * a persisted frame. */
  def release(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))
  }

  /** Wait (bounded) until the listener bus has delivered every posted
    * event, so task-end metrics land on the query that ran them.
    * `SparkContext.listenerBus` and `LiveListenerBus.waitUntilEmpty`
    * are private[spark] in Scala but public in bytecode
    * (qualified-private compiles to public), so reflection needs no
    * setAccessible. The wait is capped at 10 s: a timeout degrades to a
    * slightly-misattributed tail, never a hang. */
  def drainListenerBus(spark: SparkSession): Unit =
    try {
      val bus = classOf[SparkContext].getMethod("listenerBus")
        .invoke(spark.sparkContext)
      bus.getClass.getMethod("waitUntilEmpty", classOf[Long])
        .invoke(bus, java.lang.Long.valueOf(10000L))
    } catch { case NonFatal(_) => () }
}
