package graft.store

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.SparkSpec
import scala.jdk.CollectionConverters._

/** TRUE cross-process CAS contention: two forked JVMs (real process
  * isolation — separate companion caches, separate page-cache views,
  * separate `Files` layers) burst production appends against one
  * shared root and race a shared exactly-once probe. The
  * symlink-rooted arm in LogTableStoreSpec models the memo and lock
  * topology of cross-process writers faithfully — but inside one JVM;
  * this spec retires that last modeling assumption. The 1M-file
  * manifest pricing stays in the symlink arm (forking JVMs per writer
  * at that manifest size would price JVM startup, not the protocol).
  *
  * Contract under test, via the children's exit artifacts plus the
  * parent's own read of the final log:
  *  - exactly-once commits: every version number appears once, the
  *    version sequence is dense (CAS winners are base+1), and every
  *    appended row is present exactly once — no lost updates;
  *  - the shared appendOnce probe (same writerId+batchVersion from
  *    both processes) applies EXACTLY once, with the loser recognizing
  *    the replay from the log's txn high-water mark;
  *  - the bursts genuinely overlapped (wall-clock spans), so the
  *    above held under real concurrency, not accidental serialization.
  */
class CrossProcessSpec extends SparkSpec {

  private val keyedSchema = StructType(Seq(
    StructField("k", LongType), StructField("s", StringType)))

  test("two forked JVMs against one root: exactly-once commits, no " +
      "lost updates, and a single application of the shared probe") {
    assume(sys.env.contains("SPARK_GRAFT_SCALE2"),
      "forks two Spark JVMs — set SPARK_GRAFT_SCALE2=1 to enable")
    val root = tmpDir("xproc")
    val table = "t.xproc"
    val commitsEach = 12
    val parent = new LogTableStore(spark, root, checkpointInterval = 8)
    parent.ensure(table, keyedSchema)
    val sp = spark
    import sp.implicits._
    parent.append(table, Seq((-1L, "seed")).toDF("k", "s")) // v2

    val javaBin = Paths.get(sys.props("java.home"), "bin", "java").toString
    // re-use this JVM's --add-opens set (Spark 4 on JDK 17 needs it)
    val runtimeArgs = java.lang.management.ManagementFactory
      .getRuntimeMXBean.getInputArguments.asScala.toVector
    val addOpens = runtimeArgs.zipWithIndex.collect {
      case (a, i) if a == "--add-opens" => Seq(a, runtimeArgs(i + 1))
      case (a, _) if a.startsWith("--add-opens=") => Seq(a)
    }.flatten
    val cp = sys.props("java.class.path")
    val procs = (0 until 2).map { w =>
      val artifact = Paths.get(root, s"artifact-w$w.txt").toString
      val out = Paths.get(root, s"child-w$w.log").toFile
      val cmd = (Seq(javaBin) ++ addOpens ++ Seq(
        "-Xmx3g", "-cp", cp, "graft.store.CrossProcessWriterMain",
        root, table, s"w$w", commitsEach.toString, artifact))
      val pb = new ProcessBuilder(cmd.asJava)
      pb.directory(Files.createTempDirectory(s"xproc-cwd-$w").toFile)
      pb.redirectErrorStream(true)
      pb.redirectOutput(out)
      (w, pb.start(), artifact, out)
    }
    // both children poll for the barrier once their session is up —
    // give them a moment so neither burns its burst alone, then release
    Thread.sleep(5000)
    Files.write(Paths.get(root, "_go"), Array.empty[Byte])
    val results = procs.map { case (w, p, artifact, out) =>
      assert(p.waitFor(10, java.util.concurrent.TimeUnit.MINUTES),
        s"child w$w did not exit within 10 minutes")
      val tail = {
        val s = scala.io.Source.fromFile(out)
        try s.getLines().toVector.takeRight(20).mkString("\n")
        finally s.close()
      }
      assert(p.exitValue() === 0,
        s"child w$w exited ${p.exitValue()}; log tail:\n$tail")
      val kv = Files.readAllLines(Paths.get(artifact)).asScala
        .filter(_.contains("="))
        .map { l => val Array(k, v) = l.split("=", 2); k -> v }.toMap
      (w, kv)
    }
    for ((w, kv) <- results) {
      assert(kv("failures") === "0",
        s"child w$w append failures: ${kv("appendError")}")
      assert(kv("probeError") === "", s"child w$w: ${kv("probeError")}")
    }
    // real concurrency happened: the burst spans overlapped
    val spans = results.map { case (_, kv) =>
      (kv("burstStartMillis").toLong, kv("burstEndMillis").toLong) }
    val overlap = math.min(spans(0)._2, spans(1)._2) -
      math.max(spans(0)._1, spans(1)._1)
    assert(overlap > 0,
      s"children's bursts did not overlap (spans $spans) — the arm " +
        "proved serial behavior, not contention")
    // exactly one application of the shared probe, and the loser
    // recognized the replay (false), not an error
    val applied = results.map(_._2("probeApplied").toBoolean)
    assert(applied.count(identity) === 1,
      s"shared appendOnce probe applied ${applied.count(identity)} times " +
        "across two processes — exactly-once is broken cross-process")
    // the parent's view of the final log: dense versions, every row
    // exactly once. (The parent's cached listing detects the foreign
    // commits by stat — same code path a monitoring process rides.)
    val versions = parent.versions(table)
    assert(versions === (1L to versions.last),
      "version sequence is not dense — a CAS winner skipped or doubled")
    assert(versions.size === 2 + 2 * commitsEach + 1,
      s"expected ${2 + 2 * commitsEach + 1} versions " +
        s"(create + seed + 2x$commitsEach appends + 1 probe), got " +
        s"${versions.size}")
    val rows = parent.scan(table).select("k", "s").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(rows.length === 1 + 2 * commitsEach + 1,
      "row count wrong — an append was lost or doubled")
    assert(rows.map(_._1).distinct.length === rows.length,
      "a key appears twice — a lost-update rewrite doubled a row")
    for (w <- 0 until 2; j <- 0 until commitsEach)
      assert(rows.contains((w * 1000L + j, s"w$w-$j")),
        s"row w$w-$j was lost")
    assert(rows.count(_._1 == 999999L) === 1,
      "the shared probe row must appear exactly once")
    val retries = results.map(_._2("casRetries").toLong).sum
    info(s"2 processes x $commitsEach commits, overlap ${overlap} ms, " +
      s"$retries cross-process CAS retries, probe applied by exactly one")
    parent.close()
  }
}
