package graft.store

import org.apache.spark.sql.types._

/** Per-file, per-column zone: string-rendered [min, max] (exact
  * round-trip for the supported primitive types), a PROVEN all-null
  * flag, or unknown (both bounds None, allNull false) — and unknown
  * always keeps the file at pruning time.
  */
private[store] final case class ZoneEntry(minS: Option[String],
                                          maxS: Option[String],
                                          allNull: Boolean)

/** Zone-map primitives behind [[LogTableStore]]'s manifest zones
  * (read from each data file's footer once, at commit time, and
  * carried in the commit log) and [[ZonePredicate]]'s literal parsing:
  * the all-null/unknown proofs and the string-render round-trip rules.
  */
private[store] object Zones {

  /** Declared types whose parquet footer min/max we can compare
    * against string-rendered range bounds. */
  def comparable(dt: DataType): Boolean = dt match {
    case StringType | LongType | IntegerType | ShortType | ByteType |
         DoubleType | FloatType => true
    case _ => false
  }

  def parse(dt: DataType, s: String): Any = dt match {
    case StringType              => s
    case LongType                => java.lang.Long.valueOf(s.trim)
    case IntegerType             => java.lang.Integer.valueOf(s.trim)
    case ShortType               => java.lang.Short.valueOf(s.trim)
    case ByteType                => java.lang.Byte.valueOf(s.trim)
    case DoubleType              => java.lang.Double.valueOf(s.trim)
    case FloatType               => java.lang.Float.valueOf(s.trim)
    case other                   => throw new IllegalStateException(s"$other")
  }

  def cmp(dt: DataType, a: Any, b: Any): Int = dt match {
    // UTF-8 BINARY order, not String.compareTo: Java compares UTF-16
    // code units, where supplementary-plane characters (surrogates,
    // 0xD800-0xDFFF) sort BELOW U+E000..U+FFFF — but parquet footer
    // min/max and Spark's own string comparisons are UTF-8 byte order.
    // Divergence would let zone pruning drop a file that actually
    // contains matching astral-character keys: silently missed scan
    // rows and un-deleted rows, the worst failure class a pruner has.
    case StringType =>
      org.apache.spark.unsafe.types.UTF8String
        .fromString(a.asInstanceOf[String])
        .compareTo(org.apache.spark.unsafe.types.UTF8String
          .fromString(b.asInstanceOf[String]))
    case DoubleType | FloatType =>
      java.lang.Double.compare(a.asInstanceOf[Number].doubleValue,
        b.asInstanceOf[Number].doubleValue)
    case _ =>
      java.lang.Long.compare(a.asInstanceOf[Number].longValue,
        b.asInstanceOf[Number].longValue)
  }

  def render(dt: DataType, v: Any): String = dt match {
    case StringType => v.asInstanceOf[String]
    case _          => v.toString // Long/Int/Double/Float round-trip exactly
  }

  /** Footer → (row count, per-column zones) for one file. A chunk
    * whose statistics carry no min/max is treated as all-null ONLY
    * when the null count proves it (numNulls equals the chunk's value
    * count — stats-disabled or legacy writers omit min/max while
    * values exist); any unprovable chunk makes the whole column
    * unknown for this file, which keeps it at pruning time. */
  def readFooter(conf: org.apache.hadoop.conf.Configuration,
                 f: java.nio.file.Path,
                 cols: Seq[StructField]): (Long, Map[String, ZoneEntry]) = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.hadoop.fs.Path
    import scala.jdk.CollectionConverters._
    val reader = ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile
        .fromPath(new Path(f.toUri), conf))
    val footer = try reader.getFooter finally reader.close()
    val rowCount = footer.getBlocks.asScala.map(_.getRowCount).sum
    val chunksByCol = footer.getBlocks.asScala.flatMap(_.getColumns.asScala)
      .groupBy(_.getPath.toDotString)
    val zones = cols.map { field =>
      val dt = field.dataType
      val chunks = chunksByCol.getOrElse(field.name, Nil).toSeq
      val entry =
        if (chunks.isEmpty) ZoneEntry(None, None, allNull = false) // unknown
        else {
          val infos = chunks.map { c =>
            val s = c.getStatistics
            val provablyAllNull = s != null && s.isNumNullsSet &&
              s.getNumNulls == c.getValueCount
            val hasMM = s != null && s.hasNonNullValue
            (s, provablyAllNull, hasMM)
          }
          if (infos.exists { case (_, an, mm) => !an && !mm })
            ZoneEntry(None, None, allNull = false) // unprovable → unknown
          else if (infos.forall(_._2))
            ZoneEntry(None, None, allNull = true) // proven all-null
          else {
            val valued = infos.collect { case (s, _, true) => s }
            def bound(isMin: Boolean): Any = valued.map[Any] { s =>
              dt match {
                case StringType => if (isMin) s.minAsString else s.maxAsString
                case _          => if (isMin) s.genericGetMin else s.genericGetMax
              }
            }.reduce((x, y) =>
              if ((cmp(dt, x, y) <= 0) == isMin) x else y)
            ZoneEntry(Some(render(dt, bound(isMin = true))),
              Some(render(dt, bound(isMin = false))), allNull = false)
          }
        }
      field.name -> entry
    }.toMap
    (rowCount, zones)
  }
}
