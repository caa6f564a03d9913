package graft.store

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.xxhash64

/** Bloom-filter primitives behind [[LogTableStore]]'s key prefilter
  * (the `_keybloom.bin` sidecar beside the commit log). Built on
  * Spark's own codegen'd BloomFilterAggregate / BloomFilterMightContain
  * (the runtime-filter machinery) over xxhash64 of the key columns —
  * no UDF, no driver loop. Filters OR together only when built with
  * the same (items, bits). */
private[store] object KeyBloom {

  def keyHash(keys: Seq[String]): Column =
    xxhash64(keys.map(org.apache.spark.sql.functions.col): _*)

  def optimalBits(expectedItems: Long, fpp: Double): Long =
    org.apache.spark.util.sketch.BloomFilter.optimalNumOfBits(expectedItems, fpp)

  /** One distributed aggregate over `df`'s keys → serialized filter
    * (None for an empty frame). */
  def agg(df: DataFrame, keys: Seq[String],
          items: Long, bits: Long): Option[Array[Byte]] = {
    import org.apache.spark.sql.GraftColumnBridge.{column, expression}
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    val a = new BloomFilterAggregate(expression(keyHash(keys)),
      Literal(items), Literal(bits)).toAggregateExpression()
    Option(df.select(column(a)).head().get(0))
      .map(_.asInstanceOf[Array[Byte]])
  }

  /** Codegen'd membership predicate against a serialized filter. */
  def mightContain(bloom: Array[Byte], keys: Seq[String]): Column = {
    import org.apache.spark.sql.GraftColumnBridge.{column, expression}
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.types.BinaryType
    column(BloomFilterMightContain(Literal(bloom, BinaryType),
      expression(keyHash(keys))))
  }

  /** OR two serialized filters (same (items, bits) layout). */
  def or(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
    import org.apache.spark.util.sketch.{BloomFilter => SketchBloom}
    val f = SketchBloom.readFrom(a)
    f.mergeInPlace(SketchBloom.readFrom(b))
    val out = new java.io.ByteArrayOutputStream()
    f.writeTo(out)
    out.toByteArray
  }
}
