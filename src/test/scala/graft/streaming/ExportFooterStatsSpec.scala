package graft.streaming

import java.math.BigInteger
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import java.time.LocalDate
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{DeserializationFeature, JsonNode,
  ObjectMapper}
import org.apache.avro.file.DataFileStream
import org.apache.avro.generic.{GenericDatumReader, GenericRecord}
import org.apache.hadoop.fs.Path
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec

/** Both exports take each new file's record count and column stats from
  * its parquet footer ([[FooterStats]]). They must equal what a per-file
  * Spark aggregation over the same file yields — the scan the exports ran
  * before, kept here as the oracle — except where the footer cannot prove
  * Spark's bound, and there the file publishes no bound: a float/double
  * column holding a NaN (Spark's max is NaN; parquet drops the pair) and
  * a string column whose min + max exceed parquet's 4 KB stats budget
  * (parquet drops that column chunk's null count too, so the column is
  * left out of the file's stats altogether).
  */
class ExportFooterStatsSpec extends SparkSpec {

  // decimals in add.stats are compared exactly, not through a double
  private val mapper = new ObjectMapper()
    .enable(DeserializationFeature.USE_BIG_DECIMAL_FOR_FLOATS)

  private def conf = spark.sparkContext.hadoopConfiguration

  /** (numRecords, column -> (min, max, nullCount)) per data-file NAME. */
  private type Stats = (Long, Map[String, (Any, Any, Long)])

  /** The oracle: one grouped aggregation over `paths`, read with the
    * explicit `schema` so a file written before a column existed
    * NULL-extends it.
    */
  private def oracle(paths: Seq[String],
      schema: StructType): Map[String, Stats] = {
    val aggs = Seq(count(lit(1)).as("__nr")) ++ schema.fields.toSeq
      .flatMap(f => Seq(
        min(col(f.name)).as(s"__mn:${f.name}"),
        max(col(f.name)).as(s"__mx:${f.name}"),
        sum(col(f.name).isNull.cast("long")).as(s"__nc:${f.name}")))
    spark.read.schema(schema).parquet(paths: _*)
      .groupBy(col("_metadata.file_name").as("__f"))
      .agg(aggs.head, aggs.tail: _*).collect().map { r =>
        r.getString(0) -> ((r.getLong(1), schema.fields.map { f =>
          f.name -> ((r.get(r.fieldIndex(s"__mn:${f.name}")),
            r.get(r.fieldIndex(s"__mx:${f.name}")),
            r.getLong(r.fieldIndex(s"__nc:${f.name}"))))
        }.toMap))
      }.toMap
  }

  /** Numeric values compare as decimals (so -0.0 equals 0.0), dates as
    * LocalDate; NaN becomes a marker.
    */
  private def norm(v: Any): Any = v match {
    case x: Double if x.isNaN => "NaN"
    case x: Float if x.isNaN => "NaN"
    case x: Double => BigDecimal(x)
    case x: Float => BigDecimal(x.toDouble)
    case x: Int => BigDecimal(x)
    case x: Long => BigDecimal(x)
    case x: Short => BigDecimal(x.toInt)
    case x: Byte => BigDecimal(x.toInt)
    case x: java.math.BigDecimal => BigDecimal(x)
    case x: java.sql.Date => x.toLocalDate
    case other => other
  }

  /** The oracle's (min, max) is one the footer cannot prove. The string
    * rule assumes one row group (parquet drops a row group's binary
    * stats when min + max reach 4096 bytes).
    */
  private def unprovable(mn: Any, mx: Any): Boolean = (mn, mx) match {
    case (_, x: Double) => x.isNaN
    case (_, x: Float) => x.isNaN
    case (a: String, b: String) =>
      a.getBytes(UTF_8).length + b.getBytes(UTF_8).length >= 4096
    case _ => false
  }

  private val LongString = "😀" * 1250 // 5,000 UTF-8 bytes

  private val schema = StructType(Seq(
    StructField("k", LongType), StructField("i", IntegerType),
    StructField("sh", ShortType), StructField("by", ByteType),
    StructField("b", BooleanType), StructField("d", DateType),
    StructField("dec7", DecimalType(7, 2)),
    StructField("dec15", DecimalType(15, 2)),
    StructField("dec25", DecimalType(25, 3)),
    StructField("s", StringType), StructField("db", DoubleType),
    StructField("f", FloatType), StructField("n", IntegerType)))

  /** One row of every stat type; every 7th row is NULL in most columns,
    * `n` is always NULL. Strings include code points whose UTF-16 order
    * differs from their UTF-8 byte order.
    */
  private def row(i: Int, s: String, db: Double, f: Float): Row = {
    def orNull(v: Any): Any = if (i % 7 == 3) null else v
    Row(i.toLong, orNull(i - 50), orNull((i * 7 - 300).toShort),
      orNull((i % 200 - 100).toByte), orNull(i % 3 == 0),
      orNull(java.sql.Date.valueOf(
        LocalDate.of(2020, 1, 1).plusDays(i * 13L - 400))),
      orNull(new java.math.BigDecimal(BigInteger.valueOf(i * 37L - 1000), 2)),
      orNull(new java.math.BigDecimal(
        BigInteger.valueOf(i * 1000003L - 7000000000L), 2)),
      orNull(new java.math.BigDecimal(
        BigInteger.valueOf(i * 7919L - 50000L)
          .multiply(BigInteger.TEN.pow(17)), 3)),
      orNull(s), orNull(db), orNull(f), null)
  }

  private def text(i: Int): String = i % 11 match {
    case 0 => "～" + i
    case 1 => "😀" + i
    case _ => s"k${i * 7919 % 3001}"
  }

  private def frame(rows: Seq[Row], s: StructType = schema): DataFrame =
    spark.createDataFrame(rows.asJava, s)

  test("footer stats equal the per-file aggregation for every stat type, " +
      "across row groups and schema evolution, except the documented " +
      "absences") {
    val base = Files.createTempDirectory("footer-stats").toString
    val full = schema.add(StructField("added", LongType))
    def write(name: String, df: DataFrame, opts: (String, String)*): Unit =
      df.coalesce(1).write.options(opts.toMap).parquet(s"$base/$name")
    def withAdded(rows: Seq[Row]): Seq[Row] = rows.zipWithIndex.map {
      case (r, j) => Row.fromSeq(r.toSeq :+ (if (j % 5 == 0) null else j * 3L))
    }
    // written before `added` existed
    write("old", frame((0 until 40).map(i =>
      row(i, text(i), i * 0.5 - 7, i * 0.25f - 3))))
    // several row groups: the merge across them is what is checked
    write("multi", frame(withAdded((0 until 3000).map(i =>
      row(i, text(i), (i * 37 % 101) - 50.5, (i * 13 % 29) - 14.5f))), full),
      "parquet.block.size" -> "4096")
    write("zeros", frame(withAdded(Seq(
      row(1, "a", -0.0, 0.0f), row(2, "b", 0.0, -0.0f),
      row(4, "c", -0.0, -0.0f), row(5, "d", 0.0, 0.0f))), full))
    write("nan", frame(withAdded(Seq(
      row(1, "a", 21.0, 1.5f), row(2, "b", Double.NaN, Float.NaN),
      row(4, "c", 30.0, 2.5f))), full))
    write("long", frame(withAdded(Seq(
      row(1, "a", 1.0, 1.0f), row(2, LongString, 2.0, 2.0f),
      row(4, "b", 3.0, 3.0f))), full))
    // hybrid-calendar dates: Spark's reader rebases them, so no bound
    ConfPin.withValue(spark,
        "spark.sql.parquet.datetimeRebaseModeInWrite", "LEGACY") {
      write("legacy", frame(withAdded((0 until 20).map(i =>
        row(i, text(i), i.toDouble, i.toFloat))), full))
    }

    val names = Seq("old", "multi", "zeros", "nan", "long", "legacy")
    val files = names.map { d =>
      d -> new java.io.File(s"$base/$d").listFiles()
        .filter(_.getName.endsWith(".parquet")).map(_.getPath).toSeq
    }
    files.foreach { case (d, ps) => assert(ps.size == 1, d) }
    val pathOf = files.map { case (d, ps) => d -> ps.head }.toMap
    assert(FooterStats.footer(conf, new Path(pathOf("multi")))
      .getBlocks.size > 1, "the multi file must hold several row groups")

    val want = oracle(pathOf.values.toSeq, full)
    val absences = pathOf.toSeq.flatMap { case (d, p) =>
      val (nr, byCol) = want(new Path(p).getName)
      val got = FooterStats.read(conf, p, full.fields.toSeq)
      assert(got.numRecords == nr, d)
      full.fieldNames.toSeq.flatMap { c =>
        val (omn, omx, onc) = byCol(c)
        val (fmn, fmx, fnc) = got.columns.getOrElse(c, {
          assert(omn.isInstanceOf[String] && unprovable(omn, omx),
            s"$d.$c: no footer stats")
          (null, null, onc)
        })
        assert(fnc == onc, s"$d.$c null count")
        if (norm(fmn) == norm(omn) && norm(fmx) == norm(omx)) None
        else {
          assert(fmn == null && fmx == null &&
            (unprovable(omn, omx) || s"$d.$c" == "legacy.d"),
            s"$d.$c: footer ($fmn, $fmx) vs scan ($omn, $omx)")
          Some(s"$d.$c")
        }
      }
    }
    assert(absences.toSet == Set("nan.db", "nan.f", "long.s", "legacy.d"))
    assert(!FooterStats.read(conf, pathOf("long"), full.fields.toSeq)
      .columns.contains("s"))
    // the column the old file lacks reads as all-NULL, with no bounds
    val (oldNr, _) = want(new Path(pathOf("old")).getName)
    assert(FooterStats.read(conf, pathOf("old"), full.fields.toSeq)
      .columns("added") == ((null, null, oldNr)))
  }

  private def readAvro(p: String): Seq[GenericRecord] = {
    val s = new DataFileStream(new java.io.FileInputStream(p),
      new GenericDatumReader[GenericRecord]())
    try s.iterator().asScala.toVector finally s.close()
  }

  private def decodeBound(b: ByteBuffer, dt: DataType): Any = {
    val bytes = new Array[Byte](b.remaining())
    b.duplicate().get(bytes)
    val le = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    dt match {
      case IntegerType | ShortType | ByteType => BigDecimal(le.getInt)
      case DateType => LocalDate.ofEpochDay(le.getInt.toLong)
      case LongType => BigDecimal(le.getLong)
      case BooleanType => bytes(0) != 0
      case StringType => new String(bytes, UTF_8)
      case d: DecimalType => BigDecimal(
        new java.math.BigDecimal(new BigInteger(bytes), d.scale))
    }
  }

  private def jsonValue(n: JsonNode, dt: DataType): Any = dt match {
    case DateType => LocalDate.parse(n.asText())
    case BooleanType => n.asBoolean()
    case _ => BigDecimal(n.decimalValue())
  }

  test("a merge published to Delta and Iceberg carries the oracle's " +
      "counts, null counts and bounds") {
    val root = Files.createTempDirectory("footer-export").toString
    val rows = (0 until 200).map { i =>
      row(i, if (i == 27) LongString else text(i),
        if (i == 13) Double.NaN else i * 0.75 - 40, i * 0.5f - 9)
    }
    MergeInto.mergeBatch(spark, frame(rows), root, "k", numBuckets = 4)
    // a widening merge of one key: the other buckets' files predate `x`
    MergeInto.mergeBatch(spark,
      frame(Seq(row(5, "v", 1.0, 1.0f))).withColumn("x", lit(7)),
      root, "k", numBuckets = 4)
    DeltaExport.export(spark, root)
    IcebergExport.export(spark, root)
    val tableSchema = schema.add(StructField("x", IntegerType))

    // Delta: every add action's stats JSON
    val log = scala.io.Source.fromFile(
      s"$root/_delta_log/00000000000000000000.json")
    val adds = try log.getLines().map(mapper.readTree)
      .filter(_.has("add")).map(_.get("add")).toVector finally log.close()
    val addPaths = adds.map(a =>
      s"$root/${DeltaExport.decodePath(a.get("path").asText())}")
    val want = oracle(addPaths, tableSchema)
    assert(adds.size == want.size && adds.size >= 4)
    val deltaTypes = tableSchema.fields.filter(f => f.dataType match {
      case StringType => false
      case _ => true
    })
    var deltaAbsent = 0
    adds.zip(addPaths).foreach { case (a, p) =>
      val (nr, byCol) = want(new Path(p).getName)
      val st = mapper.readTree(a.get("stats").asText())
      assert(st.get("numRecords").asLong() == nr)
      assert(st.get("tightBounds").asBoolean())
      deltaTypes.foreach { f =>
        val (mn, mx, nc) = byCol(f.name)
        assert(st.get("nullCount").get(f.name).asLong() == nc, f.name)
        val bounds = Seq("minValues" -> mn, "maxValues" -> mx)
        if (mn == null || unprovable(mn, mx)) {
          bounds.foreach { case (k, _) => assert(!st.get(k).has(f.name)) }
          if (mn != null) deltaAbsent += 1
        } else bounds.foreach { case (k, v) =>
          assert(jsonValue(st.get(k).get(f.name), f.dataType) == norm(v),
            s"$k.${f.name} of $p")
        }
      }
    }
    assert(deltaAbsent == 1, "the NaN file's double column alone")

    // Iceberg: the current snapshot's data-file metrics
    val mdDir = s"$root/metadata"
    val v = scala.io.Source.fromFile(s"$mdDir/version-hint.text")
    val md = try mapper.readTree(scala.io.Source.fromFile(
      s"$mdDir/v${v.mkString.trim}.metadata.json").mkString) finally v.close()
    val ids: Map[Int, String] = md.get("schemas").elements().asScala
      .find(_.get("schema-id").asInt() == md.get("current-schema-id").asInt())
      .get.get("fields").elements().asScala
      .map(f => f.get("id").asInt() -> f.get("name").asText()).toMap
    val snap = md.get("snapshots").elements().asScala.find(
      _.get("snapshot-id").asLong() == md.get("current-snapshot-id").asLong())
      .get
    val dataFiles = readAvro(snap.get("manifest-list").asText())
      .flatMap(mf => readAvro(mf.get("manifest_path").toString))
      .map(_.get("data_file").asInstanceOf[GenericRecord])
    assert(dataFiles.size == want.size)
    def metric[T](df: GenericRecord, field: String): Map[String, T] =
      Option(df.get(field)).toSeq.flatMap(
        _.asInstanceOf[java.util.List[GenericRecord]].asScala).map(r =>
        ids(r.get("key").asInstanceOf[Int]) -> r.get("value").asInstanceOf[T])
        .toMap
    val icebergTypes = tableSchema.fields.filter(f => f.dataType match {
      case DoubleType | FloatType => false
      case _ => true
    })
    var icebergAbsent = 0
    dataFiles.foreach { df =>
      val p = df.get("file_path").toString
      val (nr, byCol) = want(new Path(p).getName)
      assert(df.get("record_count") == nr)
      val nulls = metric[Long](df, "null_value_counts")
      val lows = metric[ByteBuffer](df, "lower_bounds")
      val ups = metric[ByteBuffer](df, "upper_bounds")
      icebergTypes.foreach { f =>
        val (mn, mx, nc) = byCol(f.name)
        // an over-4 KB string chunk carries no null count either
        if (mn.isInstanceOf[String] && unprovable(mn, mx))
          assert(!nulls.contains(f.name), f.name)
        else assert(nulls(f.name) == nc, f.name)
        if (mn == null || unprovable(mn, mx)) {
          assert(!lows.contains(f.name) && !ups.contains(f.name), f.name)
          if (mn != null) icebergAbsent += 1
        } else {
          assert(decodeBound(lows(f.name), f.dataType) == norm(mn),
            s"lower ${f.name} of $p")
          assert(decodeBound(ups(f.name), f.dataType) == norm(mx),
            s"upper ${f.name} of $p")
        }
      }
    }
    assert(icebergAbsent == 1, "the long string's file alone")
  }

  test("publishing after a bucket-rewriting merge starts no Spark job") {
    import spark.implicits._
    val root = Files.createTempDirectory("footer-jobs").toString
    MergeInto.mergeBatch(spark,
      (0L until 400L).map(k => (k, s"v$k", k.toInt)).toDF("k", "s", "v"),
      root, "k", numBuckets = 8)
    DeltaExport.export(spark, root)
    IcebergExport.export(spark, root)
    MergeInto.mergeBatch(spark,
      (0L until 400L by 3L).map(k => (k, s"w$k", -k.toInt)).toDF("k", "s", "v"),
      root, "k", numBuckets = 8)
    val group = s"footer-jobs-${System.nanoTime()}"
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(
            _.getProperty("spark.jobGroup.id") == group)) jobs.incrementAndGet()
    }
    ListenerBusDrain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    spark.sparkContext.setJobGroup(group, "export job budget")
    try {
      val (dv, _) = DeltaExport.export(spark, root)
      assert(dv == 1L, "a non-checkpoint version")
      ListenerBusDrain(spark.sparkContext)
      assert(jobs.get == 0, "DeltaExport.export started Spark jobs")
      val (sid, _) = IcebergExport.export(spark, root)
      assert(sid == 2L)
      ListenerBusDrain(spark.sparkContext)
      assert(jobs.get == 0, "IcebergExport.export started Spark jobs")
    } finally {
      spark.sparkContext.clearJobGroup()
      spark.sparkContext.removeSparkListener(listener)
    }
  }
}
