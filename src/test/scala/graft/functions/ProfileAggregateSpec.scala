package graft.functions

import graft.SparkSpec
import graft.functions.ProfileAggregate.columnProfile
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, Row}

/** The one-pass profile aggregate must be BIT-IDENTICAL to the builtin
  * composition it replaces (countIf-null + countDistinct + decimal
  * sums + min/max + percentile) — on real table data, on adversarial
  * duplicate/percentile-boundary fixtures, and on grouped aggregation
  * (merge paths + serialization). Any drift here would silently break
  * a08's oracle hash.
  */
class ProfileAggregateSpec extends SparkSpec {

  private val pcts = Seq(0.25, 0.5, 0.75, 0.95)

  private def builtinRow(df: DataFrame, c: String): Row =
    df.agg(
      sum(when(col(c).isNull, 1L).otherwise(0L)).as("null_count"),
      countDistinct(col(c)).as("distinct_count"),
      sum(col(c).cast("decimal(30,6)")).cast("double").as("sum6"),
      sum((col(c) * col(c)).cast("decimal(38,12)")).cast("double")
        .as("sumsq12"),
      min(col(c)).as("min"), max(col(c)).as("max"),
      expr(s"percentile($c, array(0.25D, 0.5D, 0.75D, 0.95D))").as("pcts")
    ).head()

  private def profileRow(df: DataFrame, c: String): Row =
    df.agg(columnProfile(col(c), pcts).as("p")).select(col("p.*")).head()

  private def assertSame(df: DataFrame, c: String): Unit = {
    val b = builtinRow(df, c)
    val p = profileRow(df, c)
    // NaN-safe, null-safe bit comparison (primitive NaN == NaN is false)
    def sameD(i: Int, what: String): Unit = {
      val bothNull = p.isNullAt(i) && b.isNullAt(i)
      assert(bothNull || (!p.isNullAt(i) && !b.isNullAt(i) &&
        java.lang.Double.compare(p.getDouble(i), b.getDouble(i)) == 0),
        s"$c $what: ${if (p.isNullAt(i)) null else p.getDouble(i)} != " +
          s"${if (b.isNullAt(i)) null else b.getDouble(i)}")
    }
    assert(p.getLong(0) == b.getLong(0), s"$c null_count")
    assert(p.getLong(1) == b.getLong(1), s"$c distinct_count")
    sameD(2, "sum6"); sameD(3, "sumsq12"); sameD(4, "min"); sameD(5, "max")
    val (ps, bs) = (p.getSeq[Double](6), b.getSeq[Double](6))
    assert(ps.length == bs.length && ps.lazyZip(bs).forall(
      (x, y) => java.lang.Double.compare(x, y) == 0),
      s"$c percentiles: $ps != $bs")
  }

  test("bit-identical to the builtin composition on lineitem") {
    val li = graft.Tables.lineitem(spark, "/root/testdata/sf0.01")
    for (c <- Seq("l_quantity", "l_extendedprice", "l_discount"))
      assertSame(li, c)
  }

  test("adversarial fixtures: duplicates, boundaries, negatives, nulls") {
    val sp = spark
    import sp.implicits._
    // heavy duplication (percentile positions land ON and BETWEEN
    // cumulative-count steps), negative values, -0.0 vs 0.0 (distinct
    // boxed doubles, like the builtins), nulls interleaved
    val data: Seq[java.lang.Double] = Seq[java.lang.Double](
      1.0, 1.0, 1.0, 2.5, 2.5, -3.75, -3.75, -3.75, -3.75, 100.125,
      0.0, -0.0, null, null, 7.000001, 7.000001, -0.1, 42.0)
    val df = data.toDF("x")
    assertSame(df, "x")
    // two-value edge: interpolation between exactly two keys
    assertSame(Seq[java.lang.Double](1.0, 2.0).toDF("x"), "x")
    // single value: every percentile is that value
    assertSame(Seq[java.lang.Double](5.5).toDF("x"), "x")
  }

  test("all-null and empty groups profile to empty stats") {
    val sp = spark
    import sp.implicits._
    val df = Seq[java.lang.Double](null, null, null).toDF("x")
    val p = profileRow(df, "x")
    assert(p.getLong(0) == 3L && p.getLong(1) == 0L)
    assert(p.isNullAt(2) && p.isNullAt(3) && p.isNullAt(4) && p.isNullAt(5)
      && p.isNullAt(6))
  }

  test("NaN/Infinity degrade like the builtins — sums exclude, extrema keep") {
    val sp = spark
    import sp.implicits._
    val df = Seq[java.lang.Double](
      1.0, 2.0, Double.NaN, Double.PositiveInfinity,
      Double.NegativeInfinity, null).toDF("x")
    // the builtin composition is the semantics oracle here too: casts
    // of NaN/Inf to decimal are NULL under non-ANSI, so sums skip them
    assertSame(df, "x")
    // all-non-finite: sums NULL, extrema/percentiles still answer
    val nf = Seq[java.lang.Double](Double.NaN, Double.PositiveInfinity).toDF("x")
    val p = profileRow(nf, "x")
    assert(p.isNullAt(2) && p.isNullAt(3), "sums over no finite values")
    assert(p.getLong(1) == 2L)
    assert(p.getDouble(4).isPosInfinity && p.getDouble(5).isNaN)
  }

  test("-0.0 as the strict extremum surfaces the raw bit like builtin min/max") {
    val sp = spark
    import sp.implicits._
    // -0.0 strictly below every other value → builtin min returns the
    // -0.0 bit pattern (Least keeps it: -0.0 < 1.0 under
    // SQLOrderingUtil.compareDoubles); the normalized map alone would
    // report +0.0 — the raw-bit extrema tracking must not
    assertSame(Seq[java.lang.Double](-0.0, 1.0, 2.0).toDF("x"), "x")
    // -0.0 as the strict maximum (all others negative)
    assertSame(Seq[java.lang.Double](-0.0, -1.0, -2.0).toDF("x"), "x")
    val p = profileRow(Seq[java.lang.Double](-0.0, 1.0).toDF("x"), "x")
    assert(java.lang.Double.doubleToRawLongBits(p.getDouble(4)) ==
      java.lang.Double.doubleToRawLongBits(-0.0d), "min must be -0.0 raw")
    // distinct_count still normalizes: {-0.0, 0.0} is ONE value, like
    // countDistinct over NormalizeFloatingNumbers-normalized keys
    val q = profileRow(Seq[java.lang.Double](-0.0, 0.0).toDF("x"), "x")
    assert(q.getLong(1) == 1L)
  }

  test("distinct cap fails loudly toward the a15 approx seam, not OOM") {
    val sp = spark
    import sp.implicits._
    // near-unique column with a cap far below its cardinality: the
    // aggregate must fail fast with a descriptive pointer at the
    // approx family (the 100 TB alternative to OOMing mid-merge)
    val df = (1 to 5000).map(_.toDouble).toDF("x").repartition(4)
    val err = intercept[org.apache.spark.SparkException] {
      df.agg(columnProfile(col("x"), Seq(0.5), maxDistinct = 1000)).collect()
    }
    val msg = err.getCause match { case c: Throwable => c.getMessage case _ => err.getMessage }
    assert(msg.contains("maxDistinct=1000") &&
      msg.contains("a15_profile_approx") &&
      msg.contains("approx_count_distinct"), s"got: $msg")
    // same column under the default cap profiles fine
    val ok = df.agg(columnProfile(col("x"), Seq(0.5)).as("p"))
      .select(col("p.distinct_count")).head().getLong(0)
    assert(ok == 5000L)
  }

  test("percentages outside [0,1] are rejected at construction") {
    val sp = spark
    import sp.implicits._
    val df = Seq(1.0, 2.0).toDF("x")
    val err = intercept[IllegalArgumentException] {
      df.agg(columnProfile(col("x"), Seq(1.5))).collect()
    }
    assert(err.getMessage.contains("[0, 1]"))
  }

  test("callable from SQL after registration") {
    val sp = spark
    import sp.implicits._
    Seq(1.0, 2.0, 2.0, 3.0).toDF("x").createOrReplaceTempView("cp_probe")
    // both literal spellings: 0.5 parses as a DECIMAL literal (Spark's
    // Decimal is not a java.lang.Number), 0.5D as a double
    for (lit <- Seq("0.5", "0.5D")) {
      val r = spark.sql(
        s"""SELECT p.null_count, p.distinct_count, p.min, p.max, p.pcts
           |FROM (SELECT column_profile(x, $lit) AS p FROM cp_probe)""".stripMargin)
        .head()
      assert(r.getLong(0) == 0L && r.getLong(1) == 3L)
      assert(r.getDouble(2) == 1.0 && r.getDouble(3) == 3.0)
      assert(r.getSeq[Double](4) == Seq(2.0))
    }
  }

  test("grouped aggregation exercises merge + serialize paths") {
    val sp = spark
    import sp.implicits._
    // many partitions force partial buffers through serialize/merge
    val df = (1 to 10000).map(i => (i % 7, (i % 97).toDouble / 3.0))
      .toDF("g", "x").repartition(8)
    val got = df.groupBy("g").agg(columnProfile(col("x"), pcts).as("p"))
      .select(col("g"), col("p.*")).collect()
      .map(r => r.getInt(0) -> r.toSeq.drop(1)).toMap
    val want = df.groupBy("g").agg(
        sum(when(col("x").isNull, 1L).otherwise(0L)),
        countDistinct(col("x")),
        sum(col("x").cast("decimal(30,6)")).cast("double"),
        sum((col("x") * col("x")).cast("decimal(38,12)")).cast("double"),
        min(col("x")), max(col("x")),
        expr("percentile(x, array(0.25D, 0.5D, 0.75D, 0.95D))"))
      .collect().map(r => r.getInt(0) -> r.toSeq.drop(1)).toMap
    assert(got.keySet == want.keySet)
    for (g <- got.keySet) assert(got(g) == want(g), s"group $g")
  }
}
