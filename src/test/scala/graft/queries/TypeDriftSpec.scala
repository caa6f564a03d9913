package graft.queries

import graft.{GraftSession, SparkSpec, SparkEntry, Tables}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The r6 testdata regeneration changed a column's physical type and
  * silently broke two queries. EventsEncodingSpec pins the events.ts
  * seam; this spec pins the OTHER type-drift surfaces a regeneration
  * could plausibly flip:
  *
  *  - `embeddings.embedding` as list<double> instead of list<float> —
  *    the vector kernels are type-strict on array<float>, so without
  *    the Tables.embeddings seam every e-/dd-vector query would throw;
  *  - `o_orderdate` / `l_shipdate` as DATE or ISO STRING instead of
  *    timestamp — the date predicates are written cast-tolerant
  *    (string comparisons, year()/datediff() on explicit casts), which
  *    this spec proves by RUNNING the date-consuming queries on
  *    re-encoded fixtures. Row counts must match the baseline run;
  *    full value equality is pinned only where outputs carry no raw
  *    temporal column (a DATE-encoded fixture legitimately yields a
  *    DATE output column where the baseline yields a timestamp).
  */
class TypeDriftSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  private def fixtureDir(name: String,
                         rewrite: Map[String, org.apache.spark.sql.DataFrame =>
                           org.apache.spark.sql.DataFrame]): String = {
    val dir = java.nio.file.Paths.get(tmpDir(s"type-drift-$name"))
    Tables.names.foreach { t =>
      rewrite.get(t) match {
        case Some(f) =>
          f(spark.read.parquet(s"$sfDir/$t.parquet"))
            .write.parquet(dir.resolve(s"$t.parquet").toString)
        case None =>
          java.nio.file.Files.createSymbolicLink(
            dir.resolve(s"$t.parquet"),
            java.nio.file.Paths.get(s"$sfDir/$t.parquet"))
      }
    }
    dir.toString
  }

  test("embeddings as list<double>: seam normalizes, vector queries agree") {
    val dblDir = fixtureDir("emb-double", Map(
      "embeddings" -> (df =>
        df.withColumn("embedding", col("embedding").cast("array<double>")))))
    assert(spark.read.parquet(s"$dblDir/embeddings.parquet")
      .schema("embedding").dataType == ArrayType(DoubleType, containsNull = true))
    val ev = Tables.embeddings(spark, dblDir)
    assert(ev.schema("embedding").dataType
      .asInstanceOf[ArrayType].elementType == FloatType,
      "seam must narrow list<double> back to array<float>")
    // float→double→float round-trips exactly, so results are IDENTICAL
    val qs = SparkEntry.queries
    for (name <- Seq("e01_cosine_topk", "e02_ann_lsh", "e05_quantize_int8",
        "dd05_embedding_neardup", "dd09_semantic_dedup")) {
      val base = qs(name)(spark, sfDir).collect().map(_.toString).sorted.toSeq
      val got = qs(name)(spark, dblDir).collect().map(_.toString).sorted.toSeq
      assert(got == base, s"$name diverged on double-encoded embeddings")
    }
  }

  test("documents.doc_id as int32: dedup/cluster queries run, counts equal") {
    // ids feed joins, groupBys, and ConnectedComponents (whose driver
    // union-find path is long-only and must FALL THROUGH to the
    // type-generic distributed loop, not ClassCastException)
    val intDir = fixtureDir("docid-int", Map(
      "documents" -> (df => df.withColumn("doc_id", col("doc_id").cast("int")))))
    assert(spark.read.parquet(s"$intDir/documents.parquet")
      .schema("doc_id").dataType == IntegerType)
    val qs = SparkEntry.queries
    val failures = Seq("dd01_exact_dedup", "dd03_minhash_lsh",
        "dd08_dup_clusters", "t11_cluster_keep", "t13_normalized_dedup")
      .flatMap { name =>
        val base = qs(name)(spark, sfDir).count()
        try {
          val n = qs(name)(spark, intDir).count()
          if (n == base) None else Some(s"$name: $n rows != baseline $base")
        } catch {
          case e: Throwable => Some(s"$name threw: ${e.getMessage.take(120)}")
        }
      }
    GraftSession.release(spark)
    assert(failures.isEmpty, failures.mkString("\n"))
  }

  test("lineitem measures as decimal(15,2): seam restores bit-identical outputs") {
    // the remaining plausible regeneration flip after r6 (money columns
    // shipped decimal instead of double): the Tables.lineitem seam
    // casts DecimalType measures back to double — value-EXACT, because
    // a 2-decimal 15-digit value and its original double render the
    // same — so consumers must agree to the bit, not just in row count
    val decDir = fixtureDir("money-decimal", Map(
      "lineitem" -> (df => Seq("l_quantity", "l_extendedprice",
          "l_discount", "l_tax")
        .foldLeft(df)((d, c) => d.withColumn(c, col(c).cast("decimal(15,2)"))))))
    assert(spark.read.parquet(s"$decDir/lineitem.parquet")
      .schema("l_extendedprice").dataType == DecimalType(15, 2))
    assert(Tables.lineitem(spark, decDir)
      .schema("l_extendedprice").dataType == DoubleType,
      "seam must widen decimal measures back to double")
    val qs = SparkEntry.queries
    for (name <- Seq("b01_pricing_summary", "b04_forecast_revenue",
        "b08_promo_revenue", "b11_disjunctive_pred",
        "a08_profile_stats", "d16_column_drift")) {
      val base = qs(name)(spark, sfDir).collect().map(_.toString).sorted.toSeq
      val got = qs(name)(spark, decDir).collect().map(_.toString).sorted.toSeq
      assert(got == base, s"$name diverged on decimal-encoded measures")
    }
  }

  test("l_quantity as int32 and events.value as decimal: seams hold exact") {
    // quantity is integral in this corpus — an int32 (or int64)
    // regeneration is the natural width flip; events.value carries two
    // decimals, so decimal(15,2) is its natural flip. Both normalize
    // at the loader seams; int→double and decimal→double are exact
    val qtyDir = fixtureDir("qty-int", Map(
      "lineitem" -> (df => df.withColumn("l_quantity",
        col("l_quantity").cast("int")))))
    assert(spark.read.parquet(s"$qtyDir/lineitem.parquet")
      .schema("l_quantity").dataType == IntegerType)
    val valDir = fixtureDir("value-decimal", Map(
      "events" -> (df => df.withColumn("value",
        col("value").cast("decimal(15,2)")))))
    assert(spark.read.parquet(s"$valDir/events.parquet")
      .schema("value").dataType == DecimalType(15, 2))
    val qs = SparkEntry.queries
    for (name <- Seq("b01_pricing_summary", "b09_small_qty_revenue",
        "a08_profile_stats")) {
      val base = qs(name)(spark, sfDir).collect().map(_.toString).sorted.toSeq
      val got = qs(name)(spark, qtyDir).collect().map(_.toString).sorted.toSeq
      assert(got == base, s"$name diverged on int-encoded l_quantity")
    }
    for (name <- Seq("d13_drift_detection", "d15_anomaly_hours",
        "w03_hourly_trend")) {
      val base = qs(name)(spark, sfDir).collect().map(_.toString).sorted.toSeq
      val got = qs(name)(spark, valDir).collect().map(_.toString).sorted.toSeq
      assert(got == base, s"$name diverged on decimal-encoded events.value")
    }
  }

  test("date columns as DATE and as ISO string: date queries still run") {
    def reDate(cols: Seq[String], to: String)(df: org.apache.spark.sql.DataFrame) =
      cols.foldLeft(df)((d, c) => d.withColumn(c, col(c).cast(to)))
    val asDate = fixtureDir("dates-date", Map(
      "orders" -> reDate(Seq("o_orderdate"), "date"),
      "lineitem" -> reDate(Seq("l_shipdate"), "date")))
    val asString = fixtureDir("dates-string", Map(
      "orders" -> (df => df.withColumn("o_orderdate",
        date_format(col("o_orderdate"), "yyyy-MM-dd HH:mm:ss"))),
      "lineitem" -> (df => df.withColumn("l_shipdate",
        date_format(col("l_shipdate"), "yyyy-MM-dd HH:mm:ss")))))
    val dateConsumers = Seq(
      "b01_pricing_summary", "b02_shipping_priority", "b03_local_supplier_volume",
      "b04_forecast_revenue", "b05_returned_items", "b08_promo_revenue",
      "b09_small_qty_revenue", "b12_dormant_customers", "b13_nation_volume",
      "b14_top_supplier", "b16_returned_revenue", "b17_market_share",
      "b18_product_profit", "d06_timeliness_p95", "d16_column_drift")
    val qs = SparkEntry.queries
    val failures = dateConsumers.flatMap { name =>
      val base = qs(name)(spark, sfDir).count()
      Seq("date" -> asDate, "string" -> asString).flatMap { case (enc, dir) =>
        try {
          val n = qs(name)(spark, dir).count()
          if (n == base) None
          else Some(s"$name[$enc]: $n rows != baseline $base")
        } catch {
          case e: Throwable =>
            Some(s"$name[$enc] threw: ${e.getMessage.take(120)}")
        }
      }
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }
}
