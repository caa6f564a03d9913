package pipebench

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress, Trigger}
import graft.store.{TableStore, TableStores}
import graft.streaming.{BronzeStreamingJob, EventSource}
import graft.wiki.Clock

/** A running Bronze ingest: the ingest and DLQ queries over one source
  * directory, started as `graft.pipeline.PipelineMain` starts them. */
final class StreamRig(val dir: Path, val store: TableStore,
                      val src: Path, val ckpt: Path,
                      val ingest: StreamingQuery, val dlq: StreamingQuery,
                      val startSeconds: Double) {
  def drain(): Unit = { ingest.processAllAvailable(); dlq.processAllAvailable() }
  /** Pushes `lines` through both queries, so JIT and codegen are warm
    * before a timed phase. */
  def warmUp(lines: Iterator[String]): Unit = {
    Files2.publish(src, "warmup.json", lines)
    drain()
  }
  def stop(): Unit = { ingest.stop(); dlq.stop() }

  /** The ingest query's trigger reports so far, from the tracer's
    * listener when tracing, else from the query's own recent progress. */
  def ingestProgress(tracer: Option[Tracer]): Seq[StreamingQueryProgress] =
    tracer.fold(ingest.recentProgress.toSeq)(t => t.progress.synchronized(
      t.progress.progress.getOrElse(ingest.id.toString, Nil).toSeq))

  /** Batch timestamp (the rows' `bronze_processed_at`) → batch id, from
    * the ingest query's offset log. */
  def batchIdsByTimestamp(): Map[Long, Long] = {
    val ts = """"batchTimestampMs"\s*:\s*(\d+)""".r
    val offs = ckpt.resolve("offsets")
    val files = Files.list(offs)
    try files.iterator().asScala
      .filter(_.getFileName.toString.forall(_.isDigit))
      .flatMap { f =>
        ts.findFirstMatchIn(Files.readString(f))
          .map(m => m.group(1).toLong -> f.getFileName.toString.toLong)
      }.toMap
    finally files.close()
  }
}

object StreamRig {
  /** Starts both queries on an empty source directory and waits until
    * each has finished its first trigger: the set-up a user pays before
    * the first event can land. */
  def start(spark: SparkSession, dir: Path, triggerMs: Long, clock: Clock,
            tracer: Option[Tracer]): StreamRig = {
    Files2.fresh(dir)
    val src = Files.createDirectories(dir.resolve("src"))
    val ckpt = dir.resolve("ckpt")
    val t0 = System.nanoTime()
    val backend = TableStores.forEnv(spark, dir.resolve("store").toString, Map.empty)
    val store = tracer.fold(backend)(_.store(backend))
    val job = new BronzeStreamingJob(store, "bronze.raw_events", ckpt.toString,
      Trigger.ProcessingTime(triggerMs), clock)
    def go(f: => StreamingQuery): StreamingQuery =
      tracer.fold(f)(_.withProp(Tracer.SpanKey, "streaming")(f))
    val ingest = go(job.start(EventSource.fileReplay(spark, src.toString)))
    val dlq = go(job.startDlq(EventSource.fileReplay(spark, src.toString)))
    // ready once both have reported their first trigger (an empty one);
    // processAllAvailable would also wait out the next trigger interval
    val deadline = System.nanoTime() + 120L * 1000000000L
    while ((ingest.lastProgress == null || dlq.lastProgress == null) &&
           System.nanoTime() < deadline) Thread.sleep(2)
    require(ingest.lastProgress != null && dlq.lastProgress != null,
      "stream did not finish its first trigger")
    new StreamRig(dir, store, src, ckpt, ingest, dlq, Stats.seconds(t0))
  }

  /** Per-trigger facts of one query's progress reports. */
  final case class TriggerRow(batchId: Long, startMs: Long, seconds: Double,
                              addBatchS: Double, rowsIn: Long,
                              dupDropped: Long, stateRows: Long,
                              stateBytes: Long) {
    def endMs: Long = startMs + (seconds * 1000).round
  }
  def triggers(ps: Seq[StreamingQueryProgress]): Seq[TriggerRow] =
    ps.filter(_.batchId >= 0).map { p =>
      val d = p.durationMs
      def ms(k: String): Double = Option(d.get(k)).map(_.doubleValue).getOrElse(0.0)
      val st = p.stateOperators.toSeq
      TriggerRow(p.batchId, java.time.Instant.parse(p.timestamp).toEpochMilli,
        ms("triggerExecution") / 1000, ms("addBatch") / 1000, p.numInputRows,
        st.map(s => Option(s.customMetrics.get("numDroppedDuplicateRows"))
          .map(_.longValue).getOrElse(0L)).sum,
        st.map(_.numRowsTotal).sum, st.map(_.memoryUsedBytes).sum)
    }.groupBy(_.batchId).values.map(_.maxBy(_.seconds)).toSeq.sortBy(_.batchId)

  /** The `streaming.*` per-layer metrics over the given triggers. */
  def layerMetrics(rows: Seq[TriggerRow], committed: Long, dlqRows: Long)
      : Map[String, Double] = {
    val busy = rows.filter(_.rowsIn > 0)
    val secs = busy.map(_.seconds)
    def q(x: Double) = if (secs.isEmpty) 0.0 else Stats.quantile(secs, x)
    Map(
      "streaming.triggers" -> busy.size.toDouble,
      "streaming.trigger_s.p50" -> q(0.5),
      "streaming.trigger_s.p95" -> q(0.95),
      "streaming.add_batch_s" -> busy.map(_.addBatchS).sum,
      "streaming.driver_s" -> busy.map(r => r.seconds - r.addBatchS).sum,
      "streaming.rows_in" -> busy.map(_.rowsIn).sum.toDouble,
      "streaming.rows_committed" -> committed.toDouble,
      "streaming.dup_dropped" -> busy.map(_.dupDropped).sum.toDouble,
      "streaming.dlq_rows" -> dlqRows.toDouble,
      "streaming.state_rows" -> rows.lastOption.map(_.stateRows).getOrElse(0L).toDouble,
      "streaming.state_bytes" -> rows.lastOption.map(_.stateBytes).getOrElse(0L).toDouble)
  }
}
