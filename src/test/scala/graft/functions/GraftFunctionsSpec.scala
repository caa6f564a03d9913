package graft.functions

import graft.SparkSpec

class GraftFunctionsSpec extends SparkSpec {

  test("custom expressions are callable from SQL after registration") {
    val r = spark.sql(
      """SELECT
        |  poly_hash('the') AS h,
        |  minhash_sig(array(114801L, 99L), 4) AS sig,
        |  bigram_shingle_hashes('a b c') AS sh,
        |  float_dot(array(CAST(1.5 AS FLOAT), CAST(2.0 AS FLOAT)),
        |            array(CAST(2.0 AS FLOAT), CAST(3.0 AS FLOAT))) AS dot,
        |  float_lsh_bucket(array(CAST(1.0 AS FLOAT), CAST(-1.0 AS FLOAT)), 4) AS bkt
        |""".stripMargin).collect()(0)
    // "the" → ((0*31+116)%p*31+104)%p*31+101 % p = 114801
    assert(r.getAs[Long]("h") === 114801L)
    assert(r.getAs[Seq[Long]]("sig").length === 4)
    assert(r.getAs[Seq[Long]]("sh").length === 2) // "a b", "b c"
    val ng = spark.sql(
      "SELECT ngram_shingle_hashes('a b c d', 3) AS g").collect()(0)
    assert(ng.getAs[Seq[Long]]("g").length === 2) // "a b c", "b c d"
    val sh = spark.sql(
      """SELECT simhash16(array(5L, 9L)) AS s16,
        |  simhash64_bands(array(5L, 9L)) AS s64,
        |  bigram_strings('a b c') AS bg""".stripMargin).collect()(0)
    assert(sh.getAs[Int]("s16") >= 0 && sh.getAs[Int]("s16") < 65536)
    assert(sh.getAs[Seq[Int]]("s64").length === 4)
    assert(sh.getAs[Seq[String]]("bg") === Seq("a b", "b c"))
    assert(r.getAs[Double]("dot") === 1.5 * 2.0 + 2.0 * 3.0)
    assert(r.getAs[Int]("bkt") >= 0 && r.getAs[Int]("bkt") < 16)
  }

  test("lsh_band_keys matches the builtin transform/concat_ws formulation") {
    val r = spark.sql(
      """SELECT
        |  lsh_band_keys(array(5L, 17L, 3L, 99L, 42L, 7L, 1L, 8L), 4, 2) AS k,
        |  transform(sequence(0, 3), j ->
        |    concat_ws('_',
        |      CAST(get(array(5L, 17L, 3L, 99L, 42L, 7L, 1L, 8L), j * 2) AS STRING),
        |      CAST(get(array(5L, 17L, 3L, 99L, 42L, 7L, 1L, 8L), j * 2 + 1) AS STRING))) AS twin,
        |  lsh_band_keys(array(5L, 17L, 3L), 4, 2) AS short_sig
        |""".stripMargin).collect()(0)
    assert(r.getSeq[String](0) === r.getSeq[String](1))
    assert(r.getSeq[String](0).toSeq === Seq("5_17", "3_99", "42_7", "1_8"))
    // short signatures yield NO keys (the builtin's dropped-null concat
    // would collapse them into a shared bucket instead)
    assert(r.getSeq[String](2).isEmpty)
  }

  test("bigram_strings matches the HOF transform formulation incl. edge cases") {
    val sp = spark
    import sp.implicits._
    import org.apache.spark.sql.functions._
    val texts = Seq("a b c", "one", "", "x  y", "emoji 😃 tail",
      "dup dup dup").toDF("text")
    val toks = split(col("text"), " ")
    val twin = when(size(toks) >= 2,
      transform(sequence(lit(1), size(toks) - 1),
        i => concat_ws(" ", element_at(toks, i), element_at(toks, i + 1))))
      .otherwise(array().cast("array<string>"))
    val rows = texts.select(
      ShingleExpression.bigramStrings(col("text")).as("kernel"),
      twin.as("hof")).collect()
    rows.foreach(r =>
      assert(r.getSeq[String](0) === r.getSeq[String](1), r.toString))
  }

  test("int8 quantization: half-away rounding, zero vector, exact self dot") {
    val r = spark.sql(
      """SELECT
        |  float_max_abs(array(CAST(-1.0 AS FLOAT), CAST(1.0 AS FLOAT),
        |    CAST(2.0 AS FLOAT))) AS m,
        |  float_quantize_int8(array(CAST(-1.0 AS FLOAT), CAST(1.0 AS FLOAT),
        |    CAST(2.0 AS FLOAT)), CAST(2.0 AS DOUBLE)) AS q,
        |  float_quantize_int8(array(CAST(0.0 AS FLOAT)), CAST(0.0 AS DOUBLE)) AS qz,
        |  int8_self_dot(float_quantize_int8(array(CAST(-1.0 AS FLOAT),
        |    CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)), CAST(2.0 AS DOUBLE))) AS sd
        |""".stripMargin).collect()(0)
    assert(r.getAs[Double]("m") === 2.0)
    // ±63.5 rounds AWAY from zero on both ends (Math.round would give
    // -63 for the negative half — the DuckDB/C++ semantics give -64)
    assert(r.getSeq[Byte](1).toSeq === Seq[Byte](-64, 64, 127))
    assert(r.getSeq[Byte](2).toSeq === Seq[Byte](0))
    assert(r.getAs[Long]("sd") === 64L * 64 + 64L * 64 + 127L * 127)
  }

  test("float_dot matches builtin zip_with/aggregate NULL semantics") {
    val rows = spark.sql(
      """SELECT
        |  float_dot(array(CAST(1.0 AS FLOAT)),
        |            array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT))) AS len_mismatch,
        |  float_dot(array(CAST(1.0 AS FLOAT), CAST(NULL AS FLOAT)),
        |            array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT))) AS null_elem,
        |  aggregate(zip_with(array(CAST(1.0 AS FLOAT)),
        |                     array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)),
        |                     (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),
        |            CAST(0.0 AS DOUBLE), (acc, v) -> acc + v) AS builtin_mismatch
        |""".stripMargin).collect()(0)
    assert(rows.isNullAt(0), "length mismatch must yield NULL")
    assert(rows.isNullAt(1), "null element must yield NULL")
    assert(rows.isNullAt(2)) // the builtin twin agrees
  }

  test("zorder2 interleaves bits; SQL surface agrees with the Scala eval") {
    // a=1010b, b=0101b → pairs (1,0)(0,1)(1,0)(0,1) → 10011001b = 153
    assert(ZOrderExpression.interleave2(10L, 5L) === 153L)
    assert(ZOrderExpression.interleave2(0L, 0L) === 0L)
    // a contributes the higher bit of each pair
    assert(ZOrderExpression.interleave2(1L, 0L) === 2L)
    assert(ZOrderExpression.interleave2(0L, 1L) === 1L)
    // z-order locality: the key of (x, y) and (x+1, y) differ only in
    // low-order bits when x is even — neighbors stay numerically close
    assert(math.abs(ZOrderExpression.interleave2(4L, 4L) -
      ZOrderExpression.interleave2(5L, 4L)) === 2L)
    val viaSql = spark.sql("SELECT zorder2(10, 5) AS z").collect()(0).getLong(0)
    assert(viaSql === 153L)
  }
}
