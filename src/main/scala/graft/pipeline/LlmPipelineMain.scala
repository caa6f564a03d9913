package graft.pipeline

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._
import graft.store.LogTableStore
import graft.streaming.{DocumentIngest, StreamingLshJob}

/** Self-looping local deployment of the training-data side — the
  * llmdata twin of [[PipelineMain]]: document parquet files landing in
  * `docsDir` stream continuously through [[DocumentIngest]] (enrich +
  * digest dedup + MERGE) and [[StreamingLshJob]] (near-dup pair log);
  * every `intervalSec` an [[LlmOrchestrator]] cycle gates the corpus,
  * contracts the pair log into clusters, elects keepers, and publishes
  * the gold corpus summary. The composition this wires is proven
  * stream ≡ batch in LlmStreamingEndToEndSpec.
  *
  * Usage: runMain graft.pipeline.LlmPipelineMain <docsParquetDir>
  *   <storeRoot> [cycles=1] [intervalSec=0]
  */
object LlmPipelineMain {

  /** Raw document contract: what upstream producers drop in docsDir. */
  val DocSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("ingest_ts", TimestampType)))

  def main(args: Array[String]): Unit = {
    val Array(docsDir, storeRoot, rest @ _*) = args: @unchecked
    val cycles = rest.headOption.map(_.toInt).getOrElse(1)
    val intervalSec = rest.drop(1).headOption.map(_.toInt).getOrElse(0)

    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[8]"))
      .appName("graft-llm-pipeline")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.ansi.enabled", "false")
      // the LSH index/pairs tables are catalog-managed — keep them
      // beside the store so the deployment is one directory
      .config("spark.sql.warehouse.dir", s"$storeRoot/__warehouse__")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val store = new LogTableStore(spark, storeRoot)
    def src = spark.readStream.schema(DocSchema).parquet(docsDir)

    val ingest = new DocumentIngest(store, "docs.ingested",
      s"$storeRoot/__checkpoints__/docs",
      Trigger.ProcessingTime("3 seconds")).start(src)
    val lsh = new StreamingLshJob("docs_lsh_index", "docs_lsh_pairs",
      s"$storeRoot/__checkpoints__/lsh", Trigger.ProcessingTime("3 seconds"))
      .start(src.select(col("doc_id"), col("text")))

    val orch = new LlmOrchestrator(spark, store)
    var cycle = 0
    while (cycle < cycles) {
      ingest.processAllAvailable()
      lsh.processAllAvailable()
      val result = orch.runCycle(f"llm-run-$cycle%04d",
        java.time.LocalDate.now().toString)
      println(s"[llm-pipeline] cycle $cycle ${if (result.succeeded) "OK"
        else s"BLOCKED at ${result.failedGate.get}"} — completed: " +
        result.completed.mkString(", "))
      cycle += 1
      if (cycle < cycles && intervalSec > 0) Thread.sleep(intervalSec * 1000L)
    }
    ingest.stop(); lsh.stop(); spark.stop()
  }
}
