package graft.pipeline

import graft.GraftSession
import org.apache.spark.sql.streaming.Trigger
import graft.store.LogTableStore
import graft.streaming.{BronzeStreamingJob, EventSource}
import graft.wiki.Clock

/** Self-looping local deployment — the Step Functions state machine
  * (batch_pipeline.json.tftpl) collapsed into one process: streaming
  * ingestion (bronze + DLQ) runs continuously; every `intervalSec` a
  * batch cycle (DQ gates → silver → gold) processes the date range.
  *
  * Usage: runMain graft.pipeline.PipelineMain <envelopeJsonDir>
  *   <storeRoot> <startDate> <endDate> [cycles=1] [intervalSec=0]
  * `SPARK_MASTER` overrides the master, which is otherwise
  * `local[$SPARK_GRAFT_CPUS]` (default 4; see [[GraftSession]]).
  */
object PipelineMain {
  def main(args: Array[String]): Unit = {
    val Array(srcDir, storeRoot, startDate, endDate, rest @ _*) = args: @unchecked
    val cycles = rest.headOption.map(_.toInt).getOrElse(1)
    val intervalSec = rest.drop(1).headOption.map(_.toInt).getOrElse(0)

    val spark = GraftSession(master = sys.env.get("SPARK_MASTER"))

    val store = new LogTableStore(spark, storeRoot)
    val ckpt = s"$storeRoot/__checkpoints__/bronze"
    val job = new BronzeStreamingJob(store, "bronze.raw_events", ckpt,
      Trigger.ProcessingTime("3 seconds"), Clock.system)
    val ingest = job.start(EventSource.fileReplay(spark, srcDir))
    val dlq = job.startDlq(EventSource.fileReplay(spark, srcDir))

    val orch = new Orchestrator(spark, store)
    var cycle = 0
    while (cycle < cycles) {
      ingest.processAllAvailable()
      dlq.processAllAvailable()
      val runId = f"run-$cycle%04d"
      val result = orch.runCycle(runId, startDate, endDate)
      println(s"[pipeline] cycle $cycle ${if (result.succeeded) "OK" else
        s"BLOCKED at ${result.failedGate.get}"} — completed: ${result.completed.mkString(", ")}")
      cycle += 1
      if (cycle < cycles && intervalSec > 0) Thread.sleep(intervalSec * 1000L)
    }
    ingest.stop(); dlq.stop(); spark.stop()
  }
}
