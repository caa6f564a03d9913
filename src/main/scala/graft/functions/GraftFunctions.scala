package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, ExpressionInfo}
import org.apache.spark.sql.types.LongType

/** SQL exposure of the custom Catalyst expressions: [[GraftExtensions]]
  * injects [[GraftFunctions.all]] into every session
  * [[graft.GraftSession]] builds (and into any session launched with
  * `--conf spark.sql.extensions=graft.functions.GraftExtensions`).
  */
object GraftFunctions {

  private def litInt(e: Expression): Int =
    e.eval().asInstanceOf[Number].intValue()

  val all: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "poly_hash" -> (es => PolyHash(es.head)),
    "minhash_sig" -> (es => MinHashSig(es.head, litInt(es(1)))),
    "lsh_band_keys" -> (es => LshBandKeys(es.head, litInt(es(1)), litInt(es(2)))),
    "bigram_shingle_hashes" -> (es => BigramShingleHashes(es.head)),
    "ngram_shingle_hashes" -> (es => NGramShingleHashes(es.head, litInt(es(1)))),
    "float_dot" -> (es => FloatDotProduct(es.head, es(1))),
    "float_lsh_bucket" -> (es => FloatLshBucket(es.head, litInt(es(1)),
      if (es.size > 2) litInt(es(2)) else 0)),
    "float_max_abs" -> (es => FloatMaxAbs(es.head)),
    "float_quantize_int8" -> (es => FloatQuantizeInt8(es.head, es(1))),
    "int8_self_dot" -> (es => Int8SelfDot(es.head)),
    "zorder2" -> (es => ZOrderLong(Cast(es.head, LongType), Cast(es(1), LongType))),
    "hash_bucket_counts" -> (es => HashBucketCounts(es.head, litInt(es(1)))),
    "simhash16" -> (es => SimHash16(es.head)),
    "simhash64_bands" -> (es => SimHash64Bands(es.head)),
    "bigram_strings" -> (es => BigramStrings(es.head)),
    // one-pass exact column profile (aggregate):
    //   column_profile(x, 0.25, 0.5, ...) →
    //   struct(null_count, distinct_count, sum6, sumsq12, min, max, pcts)
    "column_profile" -> (es => ColumnProfileAgg(
      Cast(es.head, org.apache.spark.sql.types.DoubleType),
      es.tail.map(litDouble)).toAggregateExpression()),
    // constant-state null-count + decimal-exact sums (aggregate):
    //   column_moments(x) → struct(null_count, sum6, sumsq12)
    "column_moments" -> (es => ColumnMomentsAgg(
      Cast(es.head, org.apache.spark.sql.types.DoubleType))
      .toAggregateExpression()))

  /** A literal percentage from SQL: `0.5` parses as a DecimalType
    * literal (Decimal is NOT a java.lang.Number), `0.5D` as a double —
    * accept both, reject non-foldable arguments loudly. */
  private def litDouble(e: Expression): Double = {
    require(e.foldable, s"percentage must be a literal, got $e")
    e.eval() match {
      case d: org.apache.spark.sql.types.Decimal => d.toDouble
      case n: Number => n.doubleValue()
      case other => throw new IllegalArgumentException(
        s"percentage must be numeric, got $other")
    }
  }
}

class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftFunctions.all.foreach { case (name, builder) =>
      ext.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo("graft.functions", name),
        builder))
    }
}
