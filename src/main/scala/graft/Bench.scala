package graft
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import java.util.concurrent.atomic.AtomicLong

/** Listener-summed task CPU: the co-tenancy-immune ruler. Wall-clock on
  * a shared box drifts ±35% with undisclosed neighbor load (r10–r14 all
  * paid cross-round adjudication for it; r14's +8% committed "regression"
  * was spread uniformly across queries whose code had not changed) —
  * CPU time charged to OUR tasks doesn't: a co-tenant can delay our
  * threads but cannot bill its cycles to them. onTaskEnd sums
  * `executorCpuTime` (ns of on-CPU time inside the task body) into an
  * atomic; Bench snapshots it around each query after draining the
  * listener bus (events post asynchronously — without the drain a slow
  * bus attributes a tail of task-ends to the NEXT query). */
final class CpuTimeListener extends SparkListener {
  val taskCpuNanos = new AtomicLong(0L)
  override def onTaskEnd(taskEnd: SparkListenerTaskEnd): Unit = {
    val m = taskEnd.taskMetrics
    if (m != null) taskCpuNanos.addAndGet(m.executorCpuTime)
  }
}

object Bench {
  /** Execution order for iteration `it` of `iters`: the registry rotated
    * by an offset spread evenly across the suite (iter 0 → 0, iter 1 →
    * n/iters, …). Iterations are interleaved (one pass over every query
    * per iteration), so queries adjacent in registry order run adjacent
    * in wall-clock time at roughly the SAME within-pass offset every
    * pass — a recurring co-tenant stall window can therefore poison the
    * same registry region in multiple passes, defeating the median
    * (BENCH_r11 recorded e08/e09 medians +4.5/+4.8 s that an idle re-run
    * disproved). Rotating each pass by a maximally-spread deterministic
    * offset decorrelates registry position from within-pass time, so one
    * stall window hits DIFFERENT queries each pass and median-of-3
    * rejects it. Deterministic by construction (offset is a pure function
    * of the iteration index — no wall clock, no randomness). */
  def rotated[A](xs: Seq[A], it: Int, iters: Int): Seq[A] = {
    if (xs.isEmpty) xs
    else {
      val off = ((it.toLong * xs.size) / iters.max(1)).toInt % xs.size
      xs.drop(off) ++ xs.take(off)
    }
  }
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession()
    val cpuListener = new CpuTimeListener
    spark.sparkContext.addSparkListener(cpuListener)
    // process CPU (driver + local-mode executor threads share one JVM):
    // the synchronous cross-check for the listener ruler — includes
    // codegen/GC/listener threads the task metric doesn't, excludes
    // co-tenant processes entirely.
    val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    def processCpuNanos: Long = osBean match {
      case sun: com.sun.management.OperatingSystemMXBean => sun.getProcessCpuTime
      case _ => -1L
    }
    // JVM/codegen warmup so the first measured query isn't charged
    // with session initialization
    spark.range(100000).selectExpr("sum(id)").collect()
    // optional comma-separated subset for local iteration; the driver
    // sets nothing and always times the full suite
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet).getOrElse(Set.empty[String])
    // `iters` timed runs per query: a single run on a shared 32-core
    // box is GC/scheduler noise at sub-second durations (the r3 "d11
    // 4.7× regression" was exactly this phantom). Iterations are
    // INTERLEAVED round-robin — iter 1 of every query, then iter 2, …
    // — so a transient co-tenant stall poisons at most one sample of
    // each query instead of every sample of a consecutive block (the
    // r6 phantom 6-18× "regression" hit 7 queries whose 3 back-to-back
    // iters all sat inside one stall window). We report the median AND
    // the min: the min is the stall-immune statistic. Each pass runs the
    // registry ROTATED by a per-iteration offset (see `rotated`) so one
    // recurring stall window cannot poison the same queries in more than
    // one pass.
    val iters = sys.env.getOrElse("SPARK_GRAFT_ITERS", "3").toInt.max(1)
    val wall0 = System.nanoTime()
    val queries = SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }.toSeq
    val samples = scala.collection.mutable.Map[String, Vector[Double]]()
      .withDefaultValue(Vector.empty)
    // per-query CPU samples, same shape as wall. cpuSamples = listener
    // task CPU; procSamples = whole-process CPU delta (cross-check).
    val cpuSamples = scala.collection.mutable.Map[String, Vector[Double]]()
      .withDefaultValue(Vector.empty)
    val procSamples = scala.collection.mutable.Map[String, Vector[Double]]()
      .withDefaultValue(Vector.empty)
    // co-tenant disclosure: this box's times drift ±35% with external
    // load (r10-r12 all paid cross-round confusion for it) — record
    // the 1-minute loadavg at the START of each pass so a reviewer
    // reads contention off the artifact instead of inferring it from
    // prose. Spread per query (min/median/max maps below) shows WHERE
    // the contention landed.
    def loadavg1: Double =
      try java.nio.file.Files.readString(
        java.nio.file.Paths.get("/proc/loadavg")).split(" ")(0).toDouble
      catch { case _: Throwable => -1.0 }
    val passLoads = scala.collection.mutable.ArrayBuffer.empty[Double]
    var lastIt = -1
    for (it <- 0 until iters; (name, fn) <- rotated(queries, it, iters)) {
      if (it != lastIt) { passLoads += loadavg1; lastIt = it }
      // elapsed is captured INSIDE the try, immediately after count():
      // the cleanup sweep below must not be charged to the measured
      // query (and with blocking=false its actual block removal drifts
      // into the next iteration — keep it outside the timed window).
      // noop sink, NOT count(): count() lets Catalyst prune every
      // column the row count doesn't depend on — for "one scalar agg →
      // explode(array(structs))" shapes (a08/a15/d16 profiling family)
      // that deletes the aggregates themselves and times only the scan
      // (a08 measured 0.2 s under count() vs 10+ s fully evaluated —
      // a 50× phantom discovered in r7). The noop write evaluates the
      // query's own plan with ALL its output columns and discards the
      // rows, which is exactly "run the query".
      // CPU snapshots bracket the same window as wall; the bus drain
      // happens INSIDE the window end (before the after-snapshot) so
      // task-end events land on the query that ran them, and OUTSIDE
      // the wall measurement concern — the drain is microseconds when
      // the bus is healthy and its cost is a bench artifact either way.
      GraftSession.drainListenerBus(spark)
      val cpu0 = cpuListener.taskCpuNanos.get()
      val proc0 = processCpuNanos
      val t0 = System.nanoTime()
      val elapsed =
        try {
          fn(spark, sfDir).write.mode("overwrite").format("noop").save()
          val wallSec = (System.nanoTime() - t0) / 1e9
          GraftSession.drainListenerBus(spark)
          cpuSamples(name) = cpuSamples(name) :+
            (cpuListener.taskCpuNanos.get() - cpu0) / 1e9
          val p1 = processCpuNanos
          procSamples(name) = procSamples(name) :+
            (if (proc0 < 0 || p1 < 0) -1.0 else (p1 - proc0) / 1e9)
          wallSec
        }
        catch { case _: Throwable =>
          cpuSamples(name) = cpuSamples(name) :+ -1.0
          procSamples(name) = procSamples(name) :+ -1.0
          -1.0
        }
        finally GraftSession.release(spark) // see its INVARIANT note
      samples(name) = samples(name) :+ elapsed
    }
    def median(ts: Vector[Double]): Double =
      if (ts.contains(-1.0)) -1.0 else ts.sorted.apply(ts.size / 2)
    def minOf(ts: Vector[Double]): Double =
      if (ts.contains(-1.0)) -1.0 else ts.min
    def maxOf(ts: Vector[Double]): Double =
      if (ts.contains(-1.0)) -1.0 else ts.max
    val results = queries.map { case (name, _) => name -> samples(name) }
    // 4-decimal values keep the single JSON line compact (~2 KB for
    // ~100 queries) so a bounded tail capture still parses it whole
    def fmt(v: Double): String =
      if (v < 0) "-1" else BigDecimal(v).setScale(4, BigDecimal.RoundingMode.HALF_UP).toString
    def jmap(f: Vector[Double] => Double): String = results
      .map { case (k, ts) => s"\"" + k + "\":" + fmt(f(ts)) }
      .mkString("{", ",", "}")
    def jmapOf(m: scala.collection.Map[String, Vector[Double]],
               f: Vector[Double] => Double): String = results
      .map { case (k, _) => s"\"" + k + "\":" + fmt(f(m(k))) }
      .mkString("{", ",", "}")
    // value = one-suite-pass cost (sum of per-query medians), the
    // round-over-round comparable number; value_min = sum of per-query
    // minimums — the stall-immune headline (driver medians run ~15%
    // hot vs mins under co-tenant noise; compare rounds on value_min).
    // Failed queries (-1 sentinels) are EXCLUDED from both totals —
    // summing a -1 with real seconds silently deflates the comparable
    // number — and surfaced via the `failed` count instead.
    val ok = results.filterNot { case (_, ts) => ts.contains(-1.0) }
    val failed = results.size - ok.size
    val total = ok.map { case (_, ts) => median(ts) }.sum
    val totalMin = ok.map { case (_, ts) => minOf(ts) }.sum
    // CPU totals: the co-tenancy-immune round-over-round comparables.
    // value_cpu sums per-query MEDIAN task CPU (CPU needs no min-based
    // stall rejection — a neighbor can't bill cycles to our tasks — and
    // the median absorbs the one-off iter-1 codegen-compile CPU);
    // value_cpu_min is kept beside it as the strictly-steady-state twin.
    val totalCpu = ok.map { case (k, _) => median(cpuSamples(k)) }.sum
    val totalCpuMin = ok.map { case (k, _) => minOf(cpuSamples(k)) }.sum
    val wall = (System.nanoTime() - wall0) / 1e9
    spark.stop()
    val loadJson = passLoads.map(fmt).mkString("[", ",", "]")
    val json = s"""{"metric":"total","value":${fmt(total)},"value_min":${fmt(totalMin)},"value_cpu":${fmt(totalCpu)},"value_cpu_min":${fmt(totalCpuMin)},"failed":$failed,"unit":"sec","iters":$iters,"wall":${fmt(wall)},"loadavg":$loadJson,"queries":${jmap(median)},"queries_min":${jmap(minOf)},"queries_max":${jmap(maxOf)},"queries_cpu":${jmapOf(cpuSamples, median)},"queries_cpu_min":${jmapOf(cpuSamples, minOf)},"queries_proc_cpu":${jmapOf(procSamples, median)},"sf":"$sfDir"}"""
    // FULL artifact (both per-query maps) goes to a durable file: at
    // 117 queries the maps alone run ~7 KB, and the driver's stdout
    // tail capture is 2000 chars — the full line can NEVER survive it
    // (r8/r9 both recorded parsed:null with the line decapitated).
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get("bench_out.json"), json + "\n")
    catch { case _: Throwable => () } // stdout below still carries data
    // stdout gets a line BUILT TO FIT the tail window. r18 measured
    // the window precisely: the driver's captured `tail` field is
    // EXACTLY 2000 chars in BENCH_r16/r17.json (and r8/r9 recorded
    // parsed:null when a ~7 KB line was decapitated), so the COMPLETE
    // line must stay under 2000 chars — emitting all 119 entries is
    // arithmetically impossible (the query names alone sum to 1990
    // chars; the full map needs ~2.9 KB at 2-decimal values before
    // any headline). Within that hard budget the r18 line restores
    // the driver contract's `queries` map (per-query MEDIANS — the
    // same statistic `value` sums; dropped in r12 when the compact
    // line switched to queries_min-only, which is the likely reason
    // PERF_r17 read per_query/n_common empty) AND keeps the r17
    // `queries_min` map (per-query MIN — the stall-immune statistic
    // VERDICT r17's own ratio table used). Both maps carry the SAME
    // top-cost entry set (ranked by min, 2-decimal values) so they
    // stay mutually comparable; the full 4-decimal maps for every
    // query are in bench_out.json.
    val byCost = results.toSeq.sortBy { case (_, ts) => -minOf(ts) }
    def fmt2(v: Double): String =
      if (v < 0) "-1"
      else BigDecimal(v).setScale(2, BigDecimal.RoundingMode.HALF_UP).toString
    def compactLine(medEntries: Seq[String], minEntries: Seq[String],
                    truncated: Int): String =
      s"""{"metric":"total","value":${fmt(total)},"value_min":${fmt(totalMin)},"value_cpu":${fmt(totalCpu)},"value_cpu_min":${fmt(totalCpuMin)},"failed":$failed,"unit":"sec","iters":$iters,"wall":${fmt(wall)},"loadavg":$loadJson,"n_queries":${results.size},"queries":${medEntries.mkString("{", ",", "}")},"queries_stat":"min","queries_min":${minEntries.mkString("{", ",", "}")},"queries_truncated":$truncated,"queries_file":"bench_out.json","sf":"$sfDir"}"""
    val lineBudget = 1900 // hard cap 2000 measured; 100 chars of slack
    val fixedCost = compactLine(Nil, Nil, results.size).length
    val entryPairs = byCost.map { case (k, ts) =>
      ("\"" + k + "\":" + fmt2(median(ts)), "\"" + k + "\":" + fmt2(minOf(ts)))
    }
    val medEntries = scala.collection.mutable.ArrayBuffer.empty[String]
    val minEntries = scala.collection.mutable.ArrayBuffer.empty[String]
    var used = fixedCost
    for ((me, mn) <- entryPairs) {
      val add = me.length + mn.length + 2 // two commas once non-empty
      if (used + add <= lineBudget) { medEntries += me; minEntries += mn; used += add }
    }
    val compact = compactLine(medEntries.toSeq, minEntries.toSeq,
      results.size - minEntries.size)
    // printed after spark.stop() so the JSON is the last stdout line
    println(compact)
  }
}
