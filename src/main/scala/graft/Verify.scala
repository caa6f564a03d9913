package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (Array(sfDir, outDir), only) = (args.take(2), args.drop(2).toSet)
    val spark = GraftSession()
    new java.io.File(outDir).mkdirs()
    // a failed query must be a LOUD artifact, not just a stderr line —
    // in r6 two queries (w04/j06) silently dropped out of the driver's
    // correctness file because their parquet was never written
    val failures = scala.collection.mutable.ListBuffer[(String, String)]()
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        failures += name -> Option(e.getMessage).getOrElse(e.getClass.getName)
      }
      // free checkpoint blocks operators leave behind, so a
      // 100+-query dump doesn't accumulate block-manager pressure
      finally GraftSession.release(spark)
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // durable failure list (empty array when all queries dumped) — the
    // driver and the judge can diff it against the registry instead of
    // inferring failures from missing keys
    val failJson = failures
      .map { case (n, m) => s"{${q("query")}: ${q(n)}, ${q("error")}: ${q(m.take(500))}}" }
      .mkString("[", ",", "]")
    Files.writeString(Paths.get(s"$outDir/verify_failures.json"), failJson)
    spark.stop()
    // exit 0 regardless: the driver must still run the DuckDB compare
    // for the queries that DID dump; the failure list above is the
    // loud signal
    if (failures.nonEmpty)
      System.err.println(s"[verify] ${failures.size} queries failed: " +
        failures.map(_._1).mkString(", "))
  }
}
