package pipebench

import java.nio.file.Files
import graft.CpuTimeListener

/** One benchmark run in its own JVM; `run.py` builds and launches it.
  *
  * Usage: pipebench.Main <workload> <seed> <seconds> <trace 0|1> <cpus>
  *   <sfDir> <workDir> <resultFile>
  *
  * Writes one JSON object to `resultFile`: op counts, checks, every
  * end-to-end metric (untraced) or every per-layer metric (traced),
  * and the facts the report prints. */
object Main {
  /** End-to-end metrics, the same on every workload; see README.md for
    * what one op and the timed work are on each. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "ok_frac" -> "ratio", "task_cpu_s" -> "s",
    "peak_heap_mb" -> "MB", "op_p50_s" -> "s", "op_p95_s" -> "s",
    "work_s" -> "s")

  val StoreOps = Seq("merge_insert_only", "merge_upsert", "append", "scan_range")

  /** Per-layer metrics, the same on every workload (0 where a workload
    * never reaches the layer). */
  val PerLayer: Seq[(String, String)] = {
    val streaming = Seq("triggers" -> "count", "trigger_s.p50" -> "s",
      "trigger_s.p95" -> "s", "add_batch_s" -> "s", "driver_s" -> "s",
      "rows_in" -> "count", "rows_committed" -> "count",
      "dup_dropped" -> "count", "dlq_rows" -> "count",
      "state_rows" -> "count", "state_bytes" -> "B")
      .map { case (n, u) => s"streaming.$n" -> u }
    val store = StoreOps.flatMap(op => Seq(s"store.$op.calls" -> "count",
      s"store.$op.s" -> "s", s"store.$op.jobs" -> "count")) :+
      ("store.merge_insert_only.rows" -> "count")
    val spans = for (n <- Tracer.CycleSpanNames; ph <- Seq("first", "incr");
                     (m, u) <- Seq("s" -> "s", "cpu_s" -> "s", "jobs" -> "count"))
      yield s"$n.$ph.$m" -> u
    val groups = for (g <- QuerySuite.Groups.map(_._1);
                      (m, u) <- Seq("wall_s" -> "s", "cpu_s" -> "s",
                        "jobs" -> "count", "shuffle_bytes" -> "B"))
      yield s"queries.$g.$m" -> u
    val named = for (q <- QuerySuite.Named;
                     (m, u) <- Seq("wall_s" -> "s", "cpu_s" -> "s", "jobs" -> "count"))
      yield s"query.$q.$m" -> u
    val spark = Seq("jobs" -> "count", "tasks" -> "count",
      "shuffle_bytes" -> "B", "spill_bytes" -> "B").map { case (n, u) => s"spark.$n" -> u }
    streaming ++ store ++ spans ++ groups ++ Seq("queries.floor_s" -> "s") ++
      named ++ spark
  }

  def main(argv: Array[String]): Unit = {
    require(argv.length == 8, "usage: Main workload seed seconds trace cpus sf work out")
    val a = RunArgs(argv(0), argv(1).toLong, argv(2).toInt, argv(3) == "1",
      argv(4).toInt, argv(5), Files2.path(argv(6)), Files2.path(argv(7)))
    Files2.fresh(a.work)
    val liveHeap = Stats.watchLiveHeap()
    val t0 = System.nanoTime()
    val spark = Session.build(a.cpus, a.work)
    val sessionS = Stats.seconds(t0)
    val cpu = new CpuTimeListener
    spark.sparkContext.addSparkListener(cpu)
    val tracer = if (a.trace) Some(new Tracer(spark)) else None
    val t1 = System.nanoTime()
    val (outcome, layer) = a.workload match {
      case "stream_ingest" => StreamIngest.run(spark, a, tracer, cpu)
      case "wiki_cycle" => WikiCycle.run(spark, a, tracer, cpu)
      case "query_suite" => QuerySuite.run(spark, a, tracer, cpu)
      case w => sys.error(s"unknown workload $w")
    }
    val workloadS = Stats.seconds(t1)
    val e2e = outcome.e2e + ("peak_heap_mb" -> liveHeap())
    val perLayer = tracer.fold(Map.empty[String, Double]) { t =>
      Session.drainBus(spark)
      layer ++ storeAndSpark(t)
    }
    spark.stop()

    def withUnits(names: Seq[(String, String)], vals: Map[String, Double]) =
      names.map { case (n, u) =>
        n -> Map("value" -> vals.getOrElse(n, 0.0), "unit" -> u) }.toMap
    val result = Map[String, Any](
      "workload" -> a.workload, "seed" -> a.seed, "seconds" -> a.seconds,
      "trace" -> a.trace, "cpus" -> a.cpus,
      "attempted" -> outcome.attempted, "failed" -> outcome.failed,
      "checks" -> outcome.checks.map(c =>
        Map("name" -> c.name, "ok" -> c.ok, "detail" -> c.detail)),
      "end_to_end" -> withUnits(EndToEnd, e2e),
      "per_layer" -> (if (a.trace) withUnits(PerLayer, perLayer) else Map.empty),
      "info" -> (outcome.info ++ Map("peak_rss_mb" -> Stats.peakRssMb(),
        "session_start_s" -> sessionS, "workload_wall_s" -> workloadS)))
    Files.writeString(a.out, Json(result) + "\n")
  }

  private def storeAndSpark(t: Tracer): Map[String, Double] = {
    val l = t.listener
    l.synchronized {
      val store = StoreOps.flatMap { op =>
        val s = t.storeOps.getOrElse(op, new StoreOp)
        Seq(s"store.$op.calls" -> s.calls.toDouble, s"store.$op.s" -> s.nanos / 1e9,
          s"store.$op.jobs" -> l.byStore.get(op).fold(0L)(_.jobs).toDouble)
      } :+ ("store.merge_insert_only.rows" ->
        t.storeOps.get("merge_insert_only").fold(0L)(_.rows).toDouble)
      (store ++ Seq(
        "spark.jobs" -> l.total.jobs.toDouble, "spark.tasks" -> l.total.tasks.toDouble,
        "spark.shuffle_bytes" -> l.total.shuffleBytes.toDouble,
        "spark.spill_bytes" -> l.total.spillBytes.toDouble)).toMap
    }
  }
}
