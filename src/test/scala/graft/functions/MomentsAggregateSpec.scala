package graft.functions

import graft.SparkSpec
import graft.functions.MomentsAggregate.columnMoments
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, Row}

/** The constant-state moments aggregate must be BIT-IDENTICAL to both
  * the builtin decimal-sum composition and ColumnProfileAgg's sum
  * path it extracted (d16 swapped the profile map for this — any
  * drift would break d16's oracle hash), with the flush machinery
  * exercised at a tiny cap so bounded state is proven, not assumed.
  */
class MomentsAggregateSpec extends SparkSpec {

  private def builtinRow(df: DataFrame, c: String): Row =
    df.agg(
      sum(when(col(c).isNull, 1L).otherwise(0L)).as("null_count"),
      sum(col(c).cast("decimal(30,6)")).cast("double").as("sum6"),
      sum((col(c) * col(c)).cast("decimal(38,12)")).cast("double")
        .as("sumsq12")
    ).head()

  private def momentsRow(df: DataFrame, c: String, flushCap: Int = 0): Row = {
    val agg =
      if (flushCap <= 0) columnMoments(col(c))
      else GraftColumnBridge.column(ColumnMomentsAgg(
        GraftColumnBridge.expression(col(c).cast("double")), flushCap)
        .toAggregateExpression())
    df.agg(agg.as("m")).select(col("m.*")).head()
  }

  private def assertSame(df: DataFrame, c: String, flushCap: Int = 0): Unit = {
    val b = builtinRow(df, c)
    val m = momentsRow(df, c, flushCap)
    assert(m.getLong(0) == b.getLong(0), s"$c null_count (cap=$flushCap)")
    for ((i, what) <- Seq(1 -> "sum6", 2 -> "sumsq12")) {
      val bothNull = m.isNullAt(i) && b.isNullAt(i)
      assert(bothNull || (!m.isNullAt(i) && !b.isNullAt(i) &&
        java.lang.Double.compare(m.getDouble(i), b.getDouble(i)) == 0),
        s"$c $what (cap=$flushCap): " +
          s"${if (m.isNullAt(i)) null else m.getDouble(i)} != " +
          s"${if (b.isNullAt(i)) null else b.getDouble(i)}")
    }
  }

  test("bit-identical to the builtin decimal sums on lineitem") {
    val li = graft.Tables.lineitem(spark, "/root/testdata/sf0.01")
    for (c <- Seq("l_quantity", "l_extendedprice", "l_discount"))
      assertSame(li, c)
  }

  test("flushCap=4 forces mid-stream flushes without changing results") {
    val sp = spark
    import sp.implicits._
    // 97 distinct values over 10k rows across 8 partitions: every
    // partial flushes many times AND merges ship flushed (O(1))
    // buffers; decimal addition is associative so bits must match
    val df = (1 to 10000).map(i => ((i % 97).toDouble / 3.0))
      .toDF("x").repartition(8)
    assertSame(df, "x", flushCap = 4)
    assertSame(df, "x") // default cap: single flush at eval
  }

  test("NaN/Infinity/nulls degrade like the builtins") {
    val sp = spark
    import sp.implicits._
    val df = Seq[java.lang.Double](
      1.0, 2.0, Double.NaN, Double.PositiveInfinity,
      Double.NegativeInfinity, null, -0.0, 0.0, -3.75).toDF("x")
    assertSame(df, "x")
    assertSame(df, "x", flushCap = 2)
    // all-non-finite: sums NULL, nulls still counted
    val nf = Seq[java.lang.Double](Double.NaN, null).toDF("x")
    val m = momentsRow(nf, "x")
    assert(m.getLong(0) == 1L && m.isNullAt(1))
    // NaN² is NaN but (-∞)² is +∞ — still excluded from sumsq
    val inf = Seq[java.lang.Double](Double.NegativeInfinity, 2.0).toDF("x")
    assertSame(inf, "x")
  }

  test("matches ColumnProfileAgg's sum path bit-for-bit") {
    val sp = spark
    import sp.implicits._
    val df = (1 to 5000).map(i => ((i % 311).toDouble * 1.000001))
      .toDF("x").repartition(4)
    val m = momentsRow(df, "x")
    val p = df.agg(ProfileAggregate.columnProfile(col("x"), Nil).as("p"))
      .select(col("p.null_count"), col("p.sum6"), col("p.sumsq12")).head()
    assert(m.getLong(0) == p.getLong(0))
    assert(java.lang.Double.compare(m.getDouble(1), p.getDouble(1)) == 0)
    assert(java.lang.Double.compare(m.getDouble(2), p.getDouble(2)) == 0)
  }

  test("grouped aggregation exercises merge + serialize paths") {
    val sp = spark
    import sp.implicits._
    val df = (1 to 10000).map(i => (i % 7, (i % 97).toDouble / 3.0))
      .toDF("g", "x").repartition(8)
    val got = df.groupBy("g").agg(columnMoments(col("x")).as("m"))
      .select(col("g"), col("m.*")).collect()
      .map(r => r.getInt(0) -> r.toSeq.drop(1)).toMap
    val want = df.groupBy("g").agg(
        sum(when(col("x").isNull, 1L).otherwise(0L)),
        sum(col("x").cast("decimal(30,6)")).cast("double"),
        sum((col("x") * col("x")).cast("decimal(38,12)")).cast("double"))
      .collect().map(r => r.getInt(0) -> r.toSeq.drop(1)).toMap
    assert(got.keySet == want.keySet)
    for (g <- got.keySet) assert(got(g) == want(g), s"group $g")
  }

  test("callable from SQL after registration") {
    val sp = spark
    import sp.implicits._
    Seq[java.lang.Double](1.0, 2.0, null).toDF("x")
      .createOrReplaceTempView("cm_probe")
    val r = spark.sql(
      """SELECT m.null_count, m.sum6, m.sumsq12
        |FROM (SELECT column_moments(x) AS m FROM cm_probe)""".stripMargin)
      .head()
    assert(r.getLong(0) == 1L && r.getDouble(1) == 3.0 && r.getDouble(2) == 5.0)
  }
}
