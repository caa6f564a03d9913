package pipebench

import scala.collection.mutable
import org.apache.spark.sql.SparkSession
import graft.CpuTimeListener
import graft.wiki.Clock

/** `stream_ingest`: an open loop into the Bronze stream.
  *
  * One generator thread writes an envelope file every [[FileMs]] on a
  * fixed schedule, whatever the stream does, for `--seconds`. Each
  * file's events are stamped with the time the file was due; an event's
  * latency runs from that stamp to the end of the trigger that
  * committed it to Bronze. The schedule sits between the trigger
  * instants (ProcessingTime triggers fire on multiples of the
  * interval), so the wait for the next trigger depends only on a
  * file's place in the interval, the same in every run. */
object StreamIngest {
  /** A trigger of 200 to 1,200 events took 1.4-2.9 s on four cores,
    * nearly all of it fixed cost, so a 1 s interval kept triggers back
    * to back at any rate and latency measured the queue. With a 3 s
    * interval triggers of 300 to 600 events took 1.4-2.9 s, so the
    * stream idles about a third of the time. */
  val Rate = 200         // events per second
  val FileMs = 500L
  val TriggerMs = 3000L
  val DupShare = 0.02    // re-sends of an event sent in the last ~30 s
  val BadShare = 0.005   // malformed envelopes, bound for the DLQ
  val LateShare = 0.01   // event time 1-3 h back: older Bronze partitions

  private final case class Sent(dueMs: Long, ids: Seq[String])

  def run(spark: SparkSession, a: RunArgs, tracer: Option[Tracer],
          cpu: CpuTimeListener): (Outcome, Map[String, Double]) = {
    val root = a.work.resolve("stream_ingest")
    // set-up three times; the third rig takes the load. The first two
    // also ingest a warm-up file, so JIT and codegen are warm before the
    // open loop starts.
    val warm = new Gen(-a.seed - 1)
    val rigs = (1 to 3).map(i =>
      StreamRig.start(spark, root.resolve(s"rig$i"), TriggerMs, Clock.system, tracer))
    rigs.init.foreach { r =>
      val now = System.currentTimeMillis()
      r.warmUp(Iterator.tabulate(Rate)(k =>
        Gen.line(if (k % 100 == 99) warm.malformed() else warm.event(now / 1000).body,
          k, now)))
      r.stop()
    }
    val rig = rigs.last

    val gen = new Gen(a.seed)
    val files = a.seconds * 1000 / FileMs.toInt
    val perFile = (Rate * FileMs / 1000).toInt
    val valid = mutable.Map.empty[String, Ev]
    val recent = mutable.ArrayBuffer.empty[Ev]
    var bad = 0L
    var dups = 0L
    var late = 0L
    var offset = 0L
    val sent = mutable.ArrayBuffer.empty[Sent]
    val lateness = mutable.ArrayBuffer.empty[Double]

    val cpu0 = cpu.taskCpuNanos.get()
    val now = System.currentTimeMillis()
    // first file due a quarter into an interval, at least one interval from now
    val base = (now / TriggerMs + 2) * TriggerMs + TriggerMs / 4
    val windowEndMs = base + files * FileMs
    val genThread = new Thread(() => {
      for (k <- 0 until files) {
        val due = base + k * FileMs
        val lines = mutable.ArrayBuffer.empty[String]
        val ids = mutable.ArrayBuffer.empty[String]
        for (_ <- 0 until perFile) {
          offset += 1
          val u = gen.uniform()
          if (u < BadShare) {
            bad += 1
            lines += Gen.line(gen.malformed(), offset, due)
          } else if (u < BadShare + DupShare && recent.nonEmpty) {
            dups += 1
            val e = recent(recent.size - 1 - gen.below(math.min(recent.size, Rate * 30)))
            lines += Gen.line(e.body, offset, due)
          } else {
            val isLate = u > 1 - LateShare
            if (isLate) late += 1
            val ts = due / 1000 - (if (isLate) 3600 + gen.below(7200) else 0)
            val e = gen.event(ts)
            valid(e.id) = e
            recent += e
            ids += e.id
            lines += Gen.line(e.body, offset, due)
          }
        }
        val wait = due - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        Files2.publish(rig.src, f"part-$k%05d.json", lines.iterator)
        lateness += (System.currentTimeMillis() - due) / 1000.0
        sent += Sent(due, ids.toSeq)
      }
    }, "pipebench-generator")
    genThread.start()
    genThread.join()
    val tDrain = System.nanoTime()
    rig.drain()
    val drainS = Stats.seconds(tDrain)
    Session.drainBus(spark)
    val cpuS = (cpu.taskCpuNanos.get() - cpu0) / 1e9
    rig.stop()

    // ---- outside the timed window: references and checks ----
    val bronze = rig.store.scan("bronze.raw_events")
      .select("event_id", "bronze_processed_at", "domain", "event_date", "event_hour")
      .collect()
    val dlqRows = rig.store.scan("bronze.dlq_events").count()
    val batchOf = rig.batchIdsByTimestamp()
    val trig = StreamRig.triggers(rig.ingestProgress(tracer))
    val endOf = trig.map(r => r.batchId -> r.endMs).toMap

    val byId = bronze.groupBy(_.getString(0))
    val dupRows = byId.count(_._2.length > 1)
    val extra = byId.keySet.count(id => !valid.contains(id))
    var wrong = 0L
    val commitMs = mutable.Map.empty[String, Long]
    for ((id, rows) <- byId; e <- valid.get(id)) {
      val r = rows.head
      if (r.getString(2) != e.domain || r.getString(3) != e.date ||
          r.getInt(4) != e.hour) wrong += 1
      for (b <- batchOf.get(r.getTimestamp(1).getTime); end <- endOf.get(b))
        commitMs(id) = end
    }
    val missing = valid.keySet.count(id => !byId.contains(id))
    val latencies = for (s <- sent; id <- s.ids; end <- commitMs.get(id))
      yield (end - s.dueMs) / 1000.0
    val untimed = valid.size - missing - latencies.size
    val backlog = sent.flatMap(s => s.ids).count(id =>
      commitMs.get(id).forall(_ > windowEndMs))

    val checks = Seq(
      Check("bronze_rows_equal_distinct_valid_events",
        missing == 0 && extra == 0 && dupRows == 0,
        s"generated ${valid.size} distinct valid, Bronze ${byId.size} keys " +
          s"(missing $missing, not generated $extra, duplicated $dupRows)" +
          byId.keys.filterNot(valid.contains).take(3).mkString(" e.g. ", ", ", "")),
      Check("bronze_fields_match_generator", wrong == 0, s"$wrong rows differ"),
      Check("dlq_rows_equal_malformed", dlqRows == bad,
        s"malformed $bad, DLQ $dlqRows"),
      Check("every_commit_timed", untimed == 0, s"$untimed events without a trigger"))
    val failedOps = missing + extra + dupRows + wrong + math.abs(dlqRows - bad) + untimed
    val attempted = valid.size + bad
    val busy = trig.filter(_.rowsIn > 0)
    val busyS = busy.map(_.seconds).sum
    val p50 = if (latencies.isEmpty) Double.NaN else Stats.quantile(latencies.toSeq, 0.5)
    val p95 = if (latencies.isEmpty) Double.NaN else Stats.quantile(latencies.toSeq, 0.95)
    val e2e = Map(
      "setup_s" -> Stats.median(rigs.map(_.startSeconds)),
      "ok_frac" -> (1.0 - failedOps.toDouble / attempted),
      "task_cpu_s" -> cpuS,
      "op_p50_s" -> p50,
      "op_p95_s" -> p95,
      "work_s" -> busyS)
    val info = Map[String, Any](
      "ingest_latency_p50_s" -> p50, "ingest_latency_p95_s" -> p95,
      "latency_samples" -> latencies.size, "triggers_with_data" -> busy.size,
      "events_per_s_offered" -> Rate, "trigger_ms" -> TriggerMs,
      "files" -> files, "events_valid" -> valid.size, "dups_sent" -> dups,
      "malformed_sent" -> bad, "late_events" -> late,
      "generator_late_p50_s" -> Stats.median(lateness.toSeq),
      "generator_late_max_s" -> lateness.max,
      "backlog_at_window_end_events" -> backlog,
      "drain_s" -> drainS,
      "committed_events_per_busy_s" -> (if (busyS > 0) valid.size / busyS else 0.0),
      "setup_samples_s" -> rigs.map(_.startSeconds),
      "trigger_s" -> busy.map(_.seconds), "trigger_rows" -> busy.map(_.rowsIn))
    val layer = StreamRig.layerMetrics(trig, byId.size.toLong, dlqRows)
    (Outcome(attempted, failedOps, checks, e2e, info), layer)
  }
}
