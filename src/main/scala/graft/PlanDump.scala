package graft

import java.nio.file.{Files, Paths}

/** Optimization-round instrument (r17): dump `.explain("formatted")`
  * for the named declared queries to `<outDir>/<query>_<suffix>.txt`
  * under the [[GraftSession]] contract. Not part of the driver
  * contract.
  *
  * Usage: SPARK_GRAFT_SF_DIR=... \
  *   sbt "runMain graft.PlanDump <outDir> <suffix> <q1,q2,...>"
  * `SPARK_GRAFT_CPUS` sets the cores (default 4, as for every
  * [[GraftSession]]).
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val Array(outDir, suffix, qlist) = args.take(3)
    val names = qlist.split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession()
    Files.createDirectories(Paths.get(outDir))
    for (name <- names) {
      try {
        val df = SparkEntry.queries(name)(spark, sfDir)
        // queryExecution.explainString: same text explain("formatted")
        // prints, captured instead of stdout-redirected
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        Files.writeString(Paths.get(outDir, s"${name}_$suffix.txt"), txt)
        println(s"[plandump] wrote $name ($suffix)")
      } catch { case e: Throwable =>
        println(s"[plandump] $name FAILED: ${e.getMessage}")
      } finally GraftSession.release(spark)
    }
    spark.stop()
  }
}
