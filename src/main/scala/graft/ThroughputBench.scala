package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.streaming.Trigger
import graft.pipeline.Orchestrator
import graft.store.LogTableStore
import graft.streaming.{BronzeStreamingJob, EventSource}
import graft.wiki.Clock

/** End-to-end pipeline throughput: N synthetic producer envelopes →
  * streaming Bronze ingestion (watermarked dedup + idempotent MERGE +
  * DLQ) → one full DQ-gated batch cycle (silver + 3 gold tables +
  * 3 gates). Prints one JSON line. The reference ingests ~500-700
  * events/min and spends 2-3 min per batch job (BASELINE.md).
  *
  * Usage: runMain graft.ThroughputBench [nEvents=100000]
  */
object ThroughputBench {

  private val domains = Settings.DomainRegionMap.map(_._1)

  private def envelope(i: Int): String = {
    val dom = domains(i % domains.length)
    val user = if (i % 11 == 0) s"10.0.${i % 256}.${(i / 7) % 256}"
               else s"User${i % 5000}"
    val ts = 1704153600L + (i % 86400) // spread over 2024-01-02 UTC
    val lOld = 1000 + i % 40000
    val lNew = lOld + (if (i % 97 == 0) -6000 else (i % 211) - 40)
    val typ = Seq("edit", "new", "categorize", "log")(i % 4)
    val data = s"""{\\"id\\": $i, \\"type\\": \\"$typ\\", \\"namespace\\": ${i % 16}, """ +
      s"""\\"title\\": \\"Page_${i % 20000}\\", \\"timestamp\\": $ts, """ +
      s"""\\"user\\": \\"$user\\", \\"bot\\": ${i % 13 == 0}, """ +
      s"""\\"length\\": {\\"old\\": $lOld, \\"new\\": $lNew}, """ +
      s"""\\"revision\\": {\\"old\\": $i, \\"new\\": ${i + 1}}, """ +
      s"""\\"meta\\": {\\"domain\\": \\"$dom\\", \\"dt\\": \\"2024-01-02T00:00:00Z\\", \\"id\\": \\"ev-$i\\"}, """ +
      s"""\\"wiki\\": \\"wiki${i % domains.length}\\"}"""
    s"""{"offset": $i, "timestamp": "2024-01-02 12:00:00", "value": "{\\"id\\": \\"ev-$i\\", \\"data\\": \\"${data.replace("\\\"", "\\\\\\\"")}\\", \\"_processing\\": {\\"ingested_at\\": \\"2024-01-02T12:00:01Z\\", \\"producer_version\\": \\"1.0.0\\", \\"environment\\": \\"bench\\"}}"}"""
  }

  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toInt).getOrElse(100000)
    val spark = GraftSession()

    val srcDir = Files.createTempDirectory("tput_src").toString
    val out = Files.newBufferedWriter(Paths.get(s"$srcDir/events.json"))
    try (0 until n).foreach { i => out.write(envelope(i)); out.write('\n') }
    finally out.close()

    val store = new LogTableStore(spark,
      Files.createTempDirectory("tput_store").toString)
    val job = new BronzeStreamingJob(store, "bronze.raw_events",
      Files.createTempDirectory("tput_ckpt").toString,
      Trigger.ProcessingTime(0), Clock.fixed("2024-01-02 13:00:00"))

    val t0 = System.nanoTime()
    val q = job.start(EventSource.fileReplay(spark, srcDir))
    q.processAllAvailable(); q.stop()
    val ingestS = (System.nanoTime() - t0) / 1e9

    val t1 = System.nanoTime()
    val result = new Orchestrator(spark, store,
      Clock.fixed("2024-01-02 14:00:00")).runCycle("tput", "2024-01-02", "2024-01-02")
    val cycleS = (System.nanoTime() - t1) / 1e9

    val bronzeRows = store.scan("bronze.raw_events").count()
    println(f"""{"metric":"pipeline_throughput","events":$n,"bronze_rows":$bronzeRows,"ingest_sec":$ingestS%.1f,"cycle_sec":$cycleS%.1f,"events_per_min_ingest":${n / ingestS * 60}%.0f,"cycle_ok":${result.succeeded}}""")
    spark.stop()
  }
}
