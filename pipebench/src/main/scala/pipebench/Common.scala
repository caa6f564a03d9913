package pipebench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession

/** Command-line arguments of one benchmark run. */
final case class RunArgs(workload: String, seed: Long, seconds: Int,
                         trace: Boolean, cpus: Int, sf: String, work: Path,
                         out: Path)

/** One correctness check, made against a reference the benchmark
  * computes itself (never against the program's own output). */
final case class Check(name: String, ok: Boolean, detail: String)

/** What a workload hands back to [[Main]]: op counts, checks, the
  * end-to-end metrics and free-form facts for the report. */
final case class Outcome(attempted: Long, failed: Long, checks: Seq[Check],
                         e2e: Map[String, Double], info: Map[String, Any])

object Session {
  /** `graft.Bench.main`'s session confs verbatim; only the warehouse
    * directory moves under the run's work directory. */
  def build(cpus: Int, work: Path): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.shuffle.sort.bypassMergeThreshold", "1")
      .config("spark.hadoop.fs.file.impl",
        "org.apache.hadoop.fs.RawLocalFileSystem")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Bench's JVM/codegen warm-up
    spark.range(100000).selectExpr("sum(id)").collect()
    spark
  }

  /** Waits until the listener bus has delivered every posted event.
    * `listenerBus` and `waitUntilEmpty` are private[spark] in Scala but
    * public in bytecode. */
  def drainBus(spark: SparkSession): Unit = {
    val bus = classOf[org.apache.spark.SparkContext]
      .getMethod("listenerBus").invoke(spark.sparkContext)
    bus.getClass.getMethod("waitUntilEmpty", classOf[Long])
      .invoke(bus, java.lang.Long.valueOf(10000L))
  }
}

object Stats {
  /** Linear-interpolated quantile, q in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Largest heap in use right after a collection, in MB: the live set
    * at its peak. Peak RSS is reported beside it, but it follows the
    * collector's heap sizing more than the program and spreads by a
    * third between identical runs. */
  def watchLiveHeap(): () => Double = {
    import java.lang.management.ManagementFactory
    import javax.management.{Notification, NotificationEmitter, NotificationListener}
    import javax.management.openmbean.CompositeData
    import com.sun.management.GarbageCollectionNotificationInfo
    import scala.jdk.CollectionConverters._
    val peak = new java.util.concurrent.atomic.AtomicLong(0L)
    val l: NotificationListener = (n: Notification, _: AnyRef) =>
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.values.asScala.map(_.getUsed).sum
        peak.accumulateAndGet(used, math.max)
      }
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: NotificationEmitter => e.addNotificationListener(l, null, null)
      case _ => ()
    }
    () => peak.get / 1048576.0
  }

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  def seconds(t0: Long): Double = (System.nanoTime() - t0) / 1e9
}

object Files2 {
  def fresh(p: Path): Path = {
    if (Files.exists(p)) deleteTree(p)
    Files.createDirectories(p)
  }
  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(f => Files.delete(f))
      finally s.close()
    }
  /** Writes `lines` to a hidden file and renames it into `dir`, so a
    * directory-watching stream never lists a half-written file. */
  def publish(dir: Path, name: String, lines: Iterator[String]): Unit =
    publishAll(dir, Seq(name -> lines))
  /** Writes every file hidden first, then renames them all, so a stream
    * lists them in one trigger unless a trigger starts within the
    * renames (written one by one, a backlog sometimes split across two
    * triggers). */
  def publishAll(dir: Path, files: Seq[(String, Iterator[String])]): Unit = {
    val written = files.map { case (name, lines) =>
      val tmp = dir.resolve(s".$name.tmp")
      val w = Files.newBufferedWriter(tmp)
      try lines.foreach { l => w.write(l); w.write('\n') } finally w.close()
      tmp -> dir.resolve(name)
    }
    written.foreach { case (tmp, f) =>
      Files.move(tmp, f, java.nio.file.StandardCopyOption.ATOMIC_MOVE) }
  }
  def path(s: String): Path = Paths.get(s)
}

/** Minimal JSON writer for the run's result file. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else BigDecimal(d).toString
    case i: Int => i.toString
    case l: Long => l.toString
    case m: scala.collection.Map[_, _] =>
      m.toSeq.sortBy(_._1.toString)
        .map { case (k, x) => str(k.toString) + ":" + apply(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}
