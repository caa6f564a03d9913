package pipebench

import scala.collection.mutable
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import graft.CpuTimeListener
import graft.pipeline.{CycleResult, Orchestrator}
import graft.wiki.Clock

/** `wiki_cycle`: a closed loop through the whole medallion pipeline.
  *
  * Each iteration, on empty tables: a pre-written backlog of two event
  * dates goes through the Bronze stream in one catch-up trigger; one
  * `runCycle` runs over both dates; then a delta of new events,
  * re-sent duplicates and late events for already-populated hours is
  * ingested and a second `runCycle` runs over the same range, so its
  * Silver and Gold merges are upserts into populated partitions.
  * One iteration runs per [[SecondsPerIteration]] of `--seconds` (at
  * least one), a fixed count, so every run reports the same statistic. */
object WikiCycle {
  val Dates = Seq("2024-03-10", "2024-03-11")
  /** Runs at 6,000 to 60,000 backlog events on four cores put a cycle
    * at about 7.6 s plus 70 µs an event (incremental: 11.6 s plus 83 µs)
    * and the timed work's task CPU at about 13 s plus 0.42 ms an event
    * (results/sizing.json). At this size per-event work is about a sixth
    * of each cycle and two fifths of the task CPU; a larger backlog does
    * not fit the benchmark's time budget. */
  val BacklogEvents = 20000
  val NewEvents = 2000    // delta: fresh events on the second date's last hours
  val LateEvents = 700    // delta: fresh events in hours the backlog filled
  val DupEvents = 700     // delta: re-sends of backlog events
  val BacklogFiles = 4
  val TriggerMs = 1000L
  /** Untraced stream start-ups in set-up, besides the iteration's own. */
  val Probes = 8
  /** About one iteration's wall on four cores. */
  val SecondsPerIteration = 45
  private val ArrivalMs = Gen.dayStart("2024-03-12") * 1000
  private val StreamClock = Clock.fixed("2024-03-12 00:30:00")
  private val CycleClock = Clock.fixed("2024-03-12 01:00:00")

  /** Tally of distinct valid events per (date, hour, domain). */
  private type Tally = mutable.Map[(String, Int, String), Long]

  private final case class Iteration(setupS: Double, backfillS: Double,
                                     cycleS: Double, deltaS: Double,
                                     incrS: Double, cpuS: Double, passed: Int,
                                     checks: Seq[Check], coverage: Seq[Double])

  def run(spark: SparkSession, a: RunArgs, tracer: Option[Tracer],
          cpu: CpuTimeListener): (Outcome, Map[String, Double]) = {
    val root = a.work.resolve("wiki_cycle")
    // eight extra set-up samples, so every run reports a median of nine:
    // one start-up takes about 0.2 s, too little for a single sample.
    // The first probe also ingests a warm-up file and runs one cycle over
    // it, so JIT and codegen are warm before the timed phases: a cold
    // first cycle spread by half between identical runs. Probes are not
    // traced; the per-layer metrics cover the timed iterations.
    val warm = new Gen(-a.seed - 1)
    val tProbes = System.nanoTime()
    var warmUpS = 0.0
    val probes = (1 to Probes).map { i =>
      val r = StreamRig.start(spark, root.resolve(s"probe$i"), TriggerMs, StreamClock, None)
      if (i == 1) {
        val t0 = System.nanoTime()
        r.warmUp(Iterator.tabulate(1000)(k =>
          Gen.line(warm.event(ArrivalMs / 1000 - 86400 + k).body, k, ArrivalMs)))
        new Orchestrator(spark, r.store, CycleClock).runCycle("warm-up", Dates.head, Dates.last)
        warmUpS = Stats.seconds(t0)
      }
      r.stop()
      r.startSeconds
    }
    val probesS = Stats.seconds(tProbes)
    val gen = new Gen(a.seed)
    val its = mutable.ArrayBuffer.empty[Iteration]
    val trigRows = mutable.ArrayBuffer.empty[StreamRig.TriggerRow]
    var committed = 0L
    for (i <- 0 until math.max(1, a.seconds / SecondsPerIteration)) {
      val (it, rows, n) = iteration(spark, root.resolve(s"it$i"), gen, tracer, cpu)
      its += it
      trigRows ++= rows
      committed += n
    }

    val cycles = its.flatMap(i => Seq(i.cycleS, i.incrS)).toSeq
    val passed = its.map(_.passed).sum
    val work = its.map(i => i.backfillS + i.cycleS + i.deltaS + i.incrS).toSeq
    val e2e = Map(
      "setup_s" -> Stats.median(probes ++ its.map(_.setupS)),
      "ok_frac" -> passed.toDouble / cycles.size,
      "task_cpu_s" -> Stats.median(its.map(_.cpuS).toSeq),
      "op_p50_s" -> Stats.median(cycles),
      "op_p95_s" -> Stats.quantile(cycles, 0.95),
      "work_s" -> Stats.median(work))
    val info = Map[String, Any](
      "iterations" -> its.size,
      "setup_wall_s" -> probesS,
      "warm_up_s" -> warmUpS,
      "backfill_events_per_s" -> Stats.median(its.map(BacklogEvents / _.backfillS).toSeq),
      "cycle_s" -> Stats.median(its.map(_.cycleS).toSeq),
      "incremental_cycle_s" -> Stats.median(its.map(_.incrS).toSeq),
      "delta_ingest_s" -> Stats.median(its.map(_.deltaS).toSeq),
      "span_coverage" -> its.flatMap(_.coverage).toSeq,
      "backlog_events" -> BacklogEvents,
      "delta_events" -> Map("new" -> NewEvents, "late" -> LateEvents, "dups" -> DupEvents))
    val layer = StreamRig.layerMetrics(trigRows.toSeq, committed, 0L) ++
      tracer.fold(Map.empty[String, Double])(spanMetrics(_, its.size))
    val checks = its.flatMap(_.checks).toSeq
    (Outcome(cycles.size, cycles.size - passed, checks, e2e, info), layer)
  }

  /** One iteration; returns it, its ingest triggers and Bronze rows. */
  private def iteration(spark: SparkSession, dir: java.nio.file.Path, gen: Gen,
                        tracer: Option[Tracer], cpu: CpuTimeListener)
      : (Iteration, Seq[StreamRig.TriggerRow], Long) = {
    val rig = StreamRig.start(spark, dir, TriggerMs, StreamClock, tracer)
    val tally: Tally = mutable.Map.empty.withDefaultValue(0L)
    val day0 = Gen.dayStart(Dates.head)
    // diurnal profile: busiest in the UTC afternoon
    val hourCdf = {
      val w = (0 until 48).map(h => 1.0 + 0.6 * math.sin((h % 24 - 8) * math.Pi / 12))
      w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toArray
    }
    def at(h: Int): Long = day0 + h * 3600L + gen.below(3600)
    def drawHour(): Int = {
      val i = java.util.Arrays.binarySearch(hourCdf, gen.uniform())
      math.min(if (i >= 0) i else -i - 1, 47)
    }
    def count(e: Ev): Ev = { tally((e.date, e.hour, e.domain)) += 1; e }

    val backlog = Vector.fill(BacklogEvents)(count(gen.event(at(drawHour()))))
    var offset = 0L
    def lines(evs: Seq[Ev], sentMs: Long) = evs.iterator.map { e =>
      offset += 1
      Gen.line(e.body, offset, sentMs + offset)
    }
    val per = BacklogEvents / BacklogFiles
    Files2.publishAll(rig.src, backlog.grouped(per).zipWithIndex.map {
      case (chunk, k) => f"backlog-$k%03d.json" -> lines(chunk, ArrivalMs)
    }.toSeq)
    // executor CPU of the timed phases only, not of the checks between
    var cpuNanos = 0L
    def timedCpu[T](body: => T): T = {
      Session.drainBus(spark)
      val c0 = cpu.taskCpuNanos.get()
      val out = body
      Session.drainBus(spark)
      cpuNanos += cpu.taskCpuNanos.get() - c0
      out
    }
    val before = rig.ingestProgress(tracer).size
    timedCpu(rig.drain())
    val backfill = StreamRig.triggers(rig.ingestProgress(tracer).drop(before))
      .filter(_.rowsIn > 0)

    val orch = new Orchestrator(spark, rig.store, CycleClock,
      tracer.fold(graft.dq.ConsoleNotifier: graft.dq.Notifier)(_.notifier))
    val coverage = mutable.ArrayBuffer.empty[Double]
    def cycle(runId: String, phase: String): (CycleResult, Double) = {
      tracer.foreach(_.beginCycle(phase))
      val t0 = System.nanoTime()
      val r = timedCpu(orch.runCycle(runId, Dates.head, Dates.last))
      val s = Stats.seconds(t0)
      tracer.foreach(t => coverage += t.endCycle() / s)
      (r, s)
    }
    val (first, firstS) = cycle("cycle-1", "first")
    val checks1 = verify(rig, first, tally, "first")

    val fresh = Vector.fill(NewEvents)(count(gen.event(at(44 + gen.below(4))))) ++
      Vector.fill(LateEvents)(count(gen.event(at(gen.below(44)))))
    val dups = Vector.fill(DupEvents)(backlog(gen.below(backlog.size)))
    val delta = new scala.util.Random(gen.below(Int.MaxValue)).shuffle(fresh ++ dups)
    Files2.publish(rig.src, "delta-000.json", lines(delta, ArrivalMs + 300000))
    val before2 = rig.ingestProgress(tracer).size
    timedCpu(rig.drain())
    val deltaTrig = StreamRig.triggers(rig.ingestProgress(tracer).drop(before2))
      .filter(_.rowsIn > 0)
    val (incr, incrS) = cycle("cycle-2", "incr")
    val checks2 = verify(rig, incr, tally, "incr")
    val rows = rig.store.scan("bronze.raw_events").count()
    rig.stop()

    val expected = BacklogEvents + NewEvents + LateEvents
    val bronzeCheck = Check("bronze_rows_equal_distinct_events",
      rows == expected, s"generated $expected, Bronze $rows")
    // a cycle passes when its own checks do; the second also needs Bronze
    val passed = Seq(checks1, checks2 :+ bronzeCheck).count(_.forall(_.ok))
    val checks = checks1 ++ checks2 :+ bronzeCheck
    (Iteration(rig.startSeconds, backfill.map(_.seconds).sum, firstS,
      deltaTrig.map(_.seconds).sum, incrS, cpuNanos / 1e9, passed, checks,
      coverage.toSeq),
      backfill ++ deltaTrig, rows)
  }

  /** Both gates passed, and Gold's hourly totals equal the generator's
    * own tally. Runs outside the cycle's timing. */
  private def verify(rig: StreamRig, r: CycleResult, tally: Tally,
                     phase: String): Seq[Check] = {
    val gates = r.gateResults.map(g => g.layer -> g.passed)
    val gold = rig.store.scan("gold.hourly_stats")
      .select(col("stat_date"), col("stat_hour"), col("domain"), col("total_events"))
      .collect()
      .map(x => (x.getString(0), x.getInt(1), x.getString(2)) -> x.getLong(3)).toMap
    val diff = (tally.keySet ++ gold.keySet).count(k =>
      tally.getOrElse(k, 0L) != gold.getOrElse(k, 0L))
    Seq(
      Check(s"$phase.gates_passed", r.succeeded && gates.size == 3 && gates.forall(_._2),
        gates.map { case (l, p) => s"$l:${if (p) "PASS" else "FAIL"}" }.mkString(",") +
          r.failedGate.fold("")(g => s" blocked at $g")),
      Check(s"$phase.hourly_total_events_equal_tally", diff == 0,
        s"${tally.size} (date, hour, domain) groups generated, $diff differ"))
  }

  /** Cycle-span metrics per iteration: seconds, task CPU, jobs. */
  private def spanMetrics(t: Tracer, iterations: Int): Map[String, Double] = {
    val l = t.listener
    (for (n <- Tracer.CycleSpanNames; ph <- Seq("first", "incr")) yield {
      val label = s"$n.$ph"
      val w = l.span(label)
      Seq(s"$label.s" -> t.spans.filter(_._1 == label).map(_._2).sum / iterations,
        s"$label.cpu_s" -> w.cpuNanos / 1e9 / iterations,
        s"$label.jobs" -> w.jobs.toDouble / iterations)
    }).flatten.toMap
  }
}
