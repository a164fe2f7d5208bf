package graft.streaming

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.{LogicalTypeAnnotation, PrimitiveType}
import org.apache.parquet.schema.LogicalTypeAnnotation.{
  DateLogicalTypeAnnotation, DecimalLogicalTypeAnnotation,
  IntLogicalTypeAnnotation, StringLogicalTypeAnnotation}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
import org.apache.parquet.schema.Type.Repetition
import org.apache.spark.sql.types._

/** Publish facts of one parquet data file, read from its FOOTER: the
  * record count and, per requested top-level column, (min, max,
  * nullCount) merged across row groups — what [[DeltaExport]]'s
  * `add.stats` and [[IcebergExport]]'s manifest metrics publish, at one
  * footer read per new file and no Spark job.
  *
  * Every open goes through [[footer]] with the caller's (session)
  * Hadoop conf: parquet's conf-less `open(InputFile)` builds its read
  * options on a fresh `Configuration`, re-parsing the classpath's
  * `*-default.xml`/`*-site.xml` on every call.
  *
  * Exactness: a bound is returned only where the footer provably equals
  * Spark's `min`/`max` over the file; otherwise it is null (no bound —
  * absence only disables skipping, never wrongs it):
  *  - a column the file does not have reads as all-NULL (what an
  *    explicit-schema scan yields): nullCount = numRecords, no bounds;
  *  - a row group holding values but no min/max gives no bound:
  *    parquet-java omits binary stats whose min + max reach 4 KB, and
  *    since its writer orders NaN largest, a NaN reaches the footer and
  *    its reader drops the float/double pair (Spark's max would be NaN);
  *  - a footer physical type/annotation that is not the one Spark writes
  *    for the Catalyst type gives no bound;
  *  - dates in a file written with the legacy hybrid calendar (the
  *    `org.apache.spark.legacyDateTime` key, which makes Spark's reader
  *    rebase them) get no bound.
  * A column whose footer lacks null counts (parquet-java drops them with
  * the over-4 KB binary stats), or that the file stores under another
  * letter case or as a non-primitive, is left out.
  */
private[streaming] object FooterStats {

  /** (min, max, nullCount) of one column; a null min/max = no bound.
    * Values are Row-land types: Int, Short, Byte, Long, Boolean, Float,
    * Double, String, java.time.LocalDate, java.math.BigDecimal (at the
    * column's scale).
    */
  type ColStats = (Any, Any, Long)

  final case class FileStats(numRecords: Long,
      columns: Map[String, ColStats])

  /** The parquet footer of `path`, opened with `conf`. */
  def footer(conf: Configuration, path: Path): ParquetMetadata = {
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(path, conf),
      HadoopReadOptions.builder(conf, path).build())
    try r.getFooter finally r.close()
  }

  /** Record count + per-column stats of `path` for the top-level
    * `fields` (matched by name, bounds typed by the field's type).
    */
  def read(conf: Configuration, path: String,
      fields: Seq[StructField]): FileStats = {
    val meta = footer(conf, new Path(path))
    val fileMeta = meta.getFileMetaData
    val blocks = meta.getBlocks.asScala.toSeq
    val numRecords = blocks.map(_.getRowCount).sum
    val kv = fileMeta.getKeyValueMetaData.asScala
    val legacyDates = kv.contains("org.apache.spark.legacyDateTime")
    val fileSchema = fileMeta.getSchema
    val columns = fields.flatMap { f =>
      if (!fileSchema.containsField(f.name)) {
        if (fileSchema.getFields.asScala
            .exists(_.getName.equalsIgnoreCase(f.name))) None
        else Some(f.name -> ((null, null, numRecords)))
      } else fileSchema.getType(fileSchema.getFieldIndex(f.name)) match {
        case pt: PrimitiveType if pt.getRepetition != Repetition.REPEATED =>
          val chunks = blocks.map(_.getColumns.asScala
            .find(_.getPath.toArray.sameElements(Array(f.name))).get)
          val stats = chunks.map(_.getStatistics)
          if (stats.exists(s => s == null || !s.isNumNullsSet)) None
          else {
            // row groups holding a value; each must carry min/max
            val valued = chunks.filter(c =>
              c.getStatistics.getNumNulls < c.getValueCount)
              .map(_.getStatistics)
            val conv = converter(f.dataType, pt, legacyDates)
            val (mn, mx) =
              if (valued.isEmpty || !valued.forall(_.hasNonNullValue) ||
                  conv.isEmpty) (null, null)
              else {
                val cmp = pt.comparator()
                  .asInstanceOf[java.util.Comparator[Any]]
                val lo = valued.map(_.genericGetMin: Any)
                  .reduce((a, b) => if (cmp.compare(a, b) <= 0) a else b)
                val hi = valued.map(_.genericGetMax: Any)
                  .reduce((a, b) => if (cmp.compare(a, b) >= 0) a else b)
                (conv.get(lo), conv.get(hi))
              }
            Some(f.name -> ((mn, mx, stats.map(_.getNumNulls).sum)))
          }
        case _ => None
      }
    }.toMap
    FileStats(numRecords, columns)
  }

  private object SignedInt {
    def unapply(a: LogicalTypeAnnotation): Option[Int] = a match {
      case i: IntLogicalTypeAnnotation if i.isSigned => Some(i.getBitWidth)
      case _ => None
    }
  }

  /** Footer value -> Row-land value, where the footer's physical type and
    * annotation are the ones Spark writes for `dt`; None otherwise.
    */
  private def converter(dt: DataType, pt: PrimitiveType,
      legacyDates: Boolean): Option[Any => Any] =
    (dt, pt.getPrimitiveTypeName, pt.getLogicalTypeAnnotation) match {
      case (BooleanType, BOOLEAN, null) |
           (IntegerType, INT32, null) | (IntegerType, INT32, SignedInt(32)) |
           (LongType, INT64, null) | (LongType, INT64, SignedInt(64)) |
           (FloatType, FLOAT, null) | (DoubleType, DOUBLE, null) =>
        Some(identity)
      case (ShortType, INT32, SignedInt(16)) =>
        Some(v => v.asInstanceOf[Integer].shortValue)
      case (ByteType, INT32, SignedInt(8)) =>
        Some(v => v.asInstanceOf[Integer].byteValue)
      case (DateType, INT32, _: DateLogicalTypeAnnotation)
          if !legacyDates =>
        Some(v => java.time.LocalDate.ofEpochDay(
          v.asInstanceOf[Integer].longValue))
      case (StringType, BINARY, _: StringLogicalTypeAnnotation) =>
        Some(v => v.asInstanceOf[Binary].toStringUsingUTF8)
      case (d: DecimalType, INT32 | INT64 | BINARY | FIXED_LEN_BYTE_ARRAY,
          a: DecimalLogicalTypeAnnotation)
          if a.getPrecision == d.precision && a.getScale == d.scale =>
        Some {
          case i: Integer => java.math.BigDecimal.valueOf(i.longValue, d.scale)
          case l: java.lang.Long => java.math.BigDecimal.valueOf(l, d.scale)
          case b: Binary => new java.math.BigDecimal(
            new java.math.BigInteger(b.getBytes), d.scale)
        }
      case _ => None
    }
}
