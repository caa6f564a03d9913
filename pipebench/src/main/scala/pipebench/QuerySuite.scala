package pipebench

import java.nio.file.Files
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.CpuTimeListener
import graft.SparkEntry
import graft.queries._

/** `query_suite`: declared queries at a fixed scale factor, each into
  * the `noop` sink as `graft.Bench` runs them.
  *
  * Set-up is the cold pass: every query once, its result written to
  * parquet for the DuckDB oracle compare that `run.py` makes after the
  * run. Timed passes then repeat, rotated as Bench rotates them, one per
  * [[SecondsPerPass]] of `--seconds`; a query's wall is its fastest pass, Bench's
  * stall-immune statistic (one warm pass spreads by a quarter between
  * identical runs on a shared four-core box).
  *
  * The queries are a fixed selection, not all 119: a cold and a warm
  * pass over the whole suite take two to three minutes on four cores,
  * far more than a run may last. The selection has the slowest
  * driver-bound store lifecycle (`s16_cdc_replica`) and two or more
  * queries of every `*Queries` module, choosing those that run the
  * custom kernels (TokenStats, sig_match_count, the profile aggregate),
  * the as-of and range join operators and the ANN index. Left out: the
  * other slow lifecycles (e09, e11, t27, dd12, dd15: 4-11 s each cold)
  * and the connected-components queries, whose DuckDB oracles (dd08,
  * dd15) take over ten seconds. */
object QuerySuite {
  val Groups: Seq[(String, Map[String, (SparkSession, String) => DataFrame])] = Seq(
    "core" -> CoreQueries.queries, "gold" -> GoldQueries.queries,
    "merge" -> MergeQueries.queries, "stats" -> StatsQueries.queries,
    "dq" -> DqQueries.queries, "llm" -> LlmQueries.queries,
    "tpch" -> TpchQueries.queries)

  /** One timed pass per this many seconds of `--seconds` (at least one):
    * a fixed count per run, so every run reports the same statistic. */
  val SecondsPerPass = 5

  val Named: Seq[String] = Seq("s16_cdc_replica")

  val Picks: Seq[String] = Named ++ Seq("a01_hourly_stats", "a14_pivot",
    "a02_a03_risk_scores", "a05_risk_summary", "s14_tx_store", "j05_asof_join",
    "j06_range_join", "a08_profile_stats", "d16_column_drift",
    "d14_gate_aggregation", "d11_consistency_check", "t01_text_stats",
    "dd03_minhash_lsh", "e03_ann_ivf", "b01_pricing_summary",
    "b17_market_share")

  def run(spark: SparkSession, a: RunArgs, tracer: Option[Tracer],
          cpu: CpuTimeListener): (Outcome, Map[String, Double]) = {
    val all = SparkEntry.queries
    val missing = Picks.filterNot(all.contains)
    require(missing.isEmpty, s"queries not declared: ${missing.mkString(", ")}")
    val dumps = Files2.fresh(a.work.resolve("dumps"))
    val failed = mutable.Set.empty[String]

    def once(name: String, label: String)(act: DataFrame => Unit): Double = {
      tracer.foreach(_.window(label))
      val t0 = System.nanoTime()
      try { act(all(name)(spark, a.sf)); Stats.seconds(t0) }
      catch { case e: Throwable =>
        System.err.println(s"[pipebench] $name failed: $e")
        failed += name
        Stats.seconds(t0)
      }
      finally {
        spark.catalog.clearCache()
        spark.sparkContext.getPersistentRDDs.values
          .foreach(_.unpersist(blocking = false))
      }
    }

    // set-up: the cold pass, which also dumps results for the oracle
    val cold = Picks.map(n => once(n, s"cold:$n")(
      _.write.mode("overwrite").parquet(dumps.resolve(n).toString)))
    val oracle = SparkEntry.oracleSql.filter { case (k, _) => Picks.contains(k) }
    Files.writeString(dumps.resolve("oracle_sql.json"), Json(oracle))

    // timed passes
    val walls = mutable.Map.empty[String, Vector[Double]].withDefaultValue(Vector.empty)
    Session.drainBus(spark)
    val cpu0 = cpu.taskCpuNanos.get()
    val passes = math.max(1, a.seconds / SecondsPerPass)
    for (p <- 0 until passes; n <- graft.Bench.rotated(Picks, p, passes))
      walls(n) :+= once(n, s"query:$n")(_.write.mode("overwrite").format("noop").save())
    Session.drainBus(spark)
    val cpuS = (cpu.taskCpuNanos.get() - cpu0) / 1e9 / passes
    tracer.foreach(_.window("other"))

    val wall = Picks.map(n => n -> walls(n).min).toMap
    val e2e = Map(
      "setup_s" -> cold.sum,
      "ok_frac" -> (1.0 - failed.size.toDouble / Picks.size),
      "task_cpu_s" -> cpuS,
      "op_p50_s" -> Stats.median(wall.values.toSeq),
      "op_p95_s" -> Stats.quantile(wall.values.toSeq, 0.95),
      "work_s" -> wall.values.sum)
    val info = Map[String, Any](
      "suite_wall_s" -> wall.values.sum, "passes" -> passes, "sf" -> a.sf,
      "queries" -> Picks, "query_wall_s" -> wall,
      "query_pass_walls_s" -> Picks.map(n => n -> walls(n)).toMap,
      "cold_wall_s" -> Picks.zip(cold).toMap,
      "failed_queries" -> failed.toSeq.sorted,
      "oracle_queries" -> oracle.keys.toSeq.sorted,
      "rows_only_queries" -> Picks.filterNot(oracle.contains),
      "dump_dir" -> dumps.toString)
    val layer = tracer.fold(Map.empty[String, Double])(t =>
      queryMetrics(t, wall, passes))
    (Outcome(Picks.size, failed.size, Nil, e2e, info), layer)
  }

  private def queryMetrics(t: Tracer, wall: Map[String, Double],
                           passes: Int): Map[String, Double] = {
    val l = t.listener
    def work(n: String) = l.span(s"query:$n")
    val groups = Groups.flatMap { case (g, qs) =>
      val in = Picks.filter(qs.contains)
      Seq(s"queries.$g.wall_s" -> in.map(wall).sum,
        s"queries.$g.cpu_s" -> in.map(work(_).cpuNanos).sum / 1e9 / passes,
        s"queries.$g.jobs" -> in.map(work(_).jobs).sum.toDouble / passes,
        s"queries.$g.shuffle_bytes" -> in.map(work(_).shuffleBytes).sum.toDouble / passes)
    }
    val named = Named.flatMap(n => Seq(s"query.$n.wall_s" -> wall(n),
      s"query.$n.cpu_s" -> work(n).cpuNanos / 1e9 / passes,
      s"query.$n.jobs" -> work(n).jobs.toDouble / passes))
    (groups ++ named :+ ("queries.floor_s" -> Stats.quantile(wall.values.toSeq, 0.25))).toMap
  }
}
