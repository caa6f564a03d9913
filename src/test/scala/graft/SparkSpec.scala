package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM, getOrCreate reuse). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** Shuffle-write AND input-read bytes of every stage `thunk` runs —
    * the shared harness behind the exchange-payload and
    * read-amplification guards (ScaleSpec, Dd02AblationSpec,
    * IncrementalCorpusSpec/IncrementalCcSpec state-decade models).
    * Shuffle-only bounds are blind to a per-batch O(state) SCAN that
    * never shuffles (the r10 IncrementalCorpus member search passed
    * its decade guard that way), so state-constant models must pin
    * both numbers. `inputBytes` counts file-source reads plus cached
    * block reads; both ride the state if a scan is unpruned. The
    * listener bus delivers asynchronously, so after the thunk returns
    * we poll until the counters are stable for 300 ms (10 s
    * deadline). Single shared implementation: the polling and
    * deadline logic must not fork between the guards. */
  case class ExecBytes(shuffleWrite: Long, input: Long)
  def execBytesOf(thunk: => Unit): ExecBytes = {
    val shuffle = new java.util.concurrent.atomic.AtomicLong
    val input = new java.util.concurrent.atomic.AtomicLong
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(
          s: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        shuffle.addAndGet(s.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
        input.addAndGet(s.stageInfo.taskMetrics.inputMetrics.bytesRead)
        ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      thunk
      var last = -1L
      var stable = 0
      val deadline = System.nanoTime() + 10L * 1000000000L
      while (stable < 3 && System.nanoTime() < deadline) {
        Thread.sleep(100)
        val now = shuffle.get() + input.get()
        if (now == last) stable += 1 else { stable = 0; last = now }
      }
      // a lagging listener bus must FAIL the guard, not masquerade as
      // low shuffle/read volume — an undercounted total silently
      // weakens every bound built on this number
      if (stable < 3)
        fail(s"execBytesOf: listener bus never went quiet " +
          s"within 10 s (counters still moving, last=$last bytes) — " +
          "measurement would undercount; rerun")
      ExecBytes(shuffle.get(), input.get())
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  /** Shuffle-write-only view of [[execBytesOf]]. */
  def shuffleWriteBytesOf(thunk: => Unit): Long =
    execBytesOf(thunk).shuffleWrite
}

object SparkSpec {
  /** The [[GraftSession]] contract at 4 cores: the shuffle-byte and
    * partition-count guards are calibrated to that width, whatever
    * `SPARK_GRAFT_CPUS` the run sets. */
  lazy val session: SparkSession = GraftSession(cores = 4)
}
