package graft.store

import java.nio.file.{Files, Paths, StandardOpenOption}
import java.nio.charset.StandardCharsets.UTF_8

/** Child JVM for the TRUE cross-process contention arm
  * (CrossProcessSpec): a real second process — its own page cache
  * view, its own `Files` layer, no shared companion caches — driving
  * production appends against a root another process is writing
  * concurrently. The symlink-rooted arm models the memo/lock topology
  * faithfully but inside one JVM; this main retires that last
  * modeling assumption for the CAS story.
  *
  * Protocol: open a store over args(0), wait for the parent's `_go`
  * barrier file (so both children burst together), run `n` one-row
  * production appends, then race the SHARED exactly-once probe — both
  * children call appendOnce with the SAME (writerId, batchVersion)
  * and the same row, retrying CAS-stale aborts exactly as a streaming
  * foreachBatch re-delivery would; the commit-protocol high-water
  * mark must let exactly one application land. Results go to a
  * key=value exit artifact the parent asserts on.
  */
object CrossProcessWriterMain {
  def main(args: Array[String]): Unit = {
    val Array(root, table, writerId, nStr, artifact) = args
    val n = nStr.toInt
    var failures = 0
    var appendError = ""
    var probeApplied = false
    var probeError = ""
    var t0 = 0L
    var t1 = 0L
    val spark = graft.GraftSession(cores = 2)
    try {
      import spark.implicits._
      val store = new LogTableStore(spark, root, checkpointInterval = 8)
      val go = Paths.get(root, "_go")
      val deadline = System.nanoTime() + 300L * 1000000000L
      while (!Files.exists(go) && System.nanoTime() < deadline)
        Thread.sleep(10)
      require(Files.exists(go), "barrier file never appeared")
      // wall-clock millis, NOT nanoTime: the parent compares the two
      // children's burst spans for overlap, and nanoTime origins are
      // per-JVM
      t0 = System.currentTimeMillis()
      val wid = writerId.stripPrefix("w").toLong
      for (j <- 0 until n) {
        try store.append(table,
          Seq((wid * 1000L + j, s"$writerId-$j")).toDF("k", "s"))
        catch { case e: Throwable =>
          failures += 1
          appendError = s"append[$j]: ${e.getClass.getSimpleName}"
        }
      }
      t1 = System.currentTimeMillis()
      // the shared exactly-once probe: identical logical batch from
      // both processes; CAS-stale aborts retry (a replayed micro-batch
      // would), the txn high-water mark dedupes
      var attempts = 0
      var done = false
      while (!done && attempts < 64) {
        attempts += 1
        try {
          probeApplied = store.appendOnce(table,
            Seq((999999L, "probe")).toDF("k", "s"),
            "xproc-shared", 1L)
          done = true
        } catch {
          case _: java.util.ConcurrentModificationException => ()
          case e: Throwable =>
            probeError = s"probe: ${e.getClass.getSimpleName}"
            done = true
        }
      }
      if (!done) probeError = "probe: retries exhausted"
      val lines = Seq(
        s"writer=$writerId",
        s"commits=$n",
        s"failures=$failures",
        s"appendError=$appendError",
        s"casRetries=${LogTableStore.commitRetries.get()}",
        s"coldWalks=${LogTableStore.resolveColdWalks.get()}",
        s"probeApplied=$probeApplied",
        s"probeError=$probeError",
        s"burstStartMillis=$t0",
        s"burstEndMillis=$t1").mkString("", "\n", "\n")
      Files.write(Paths.get(artifact), lines.getBytes(UTF_8),
        StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
      store.close()
    } finally spark.stop()
    // a leftover non-daemon thread must not hold the exit artifact's
    // reader waiting — report and terminate
    sys.exit(if (failures == 0 && probeError.isEmpty) 0 else 1)
  }
}
