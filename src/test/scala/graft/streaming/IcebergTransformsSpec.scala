package graft.streaming

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Transform-aware Iceberg partition pruning: the spec's Appendix-B
  * hash (pinned to its five published test vectors) and end-to-end
  * file-prune pins for bucket / truncate / day / month transforms in
  * FOREIGN metadata (identity tables rewritten to transform specs, the
  * shape any real Iceberg writer produces).
  */
class IcebergTransformsSpec extends SparkSpec {

  import spark.implicits._

  test("murmur3_x86_32 reproduces the spec's Appendix-B vectors") {
    def le8(v: Long): Array[Byte] =
      (0 until 8).map(i => ((v >>> (8 * i)) & 0xff).toByte).toArray
    assert(IcebergTransforms.murmur3(le8(34L)) == 2017239379) // int/long
    assert(IcebergTransforms.murmur3(
      "iceberg".getBytes("UTF-8")) == 1210000089)
    assert(IcebergTransforms.murmur3(le8(17486L)) == -653330422) // date
    assert(IcebergTransforms.murmur3(le8(1510871468000000L)) ==
      -2047944441) // timestamp 2017-11-16T22:31:08 UTC, micros
    assert(IcebergTransforms.murmur3(
      java.math.BigInteger.valueOf(1420).toByteArray) ==
      -500754589) // decimal 14.20 unscaled minimal big-endian
    assert(IcebergTransforms.bucketLong(34L, 16) ==
      ((2017239379 & Int.MaxValue) % 16))
  }

  private def scannedFiles(df: org.apache.spark.sql.DataFrame): Long = {
    df.collect()
    val exec = df.queryExecution.executedPlan
    val finalPlan = exec.collectFirst {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
    }.getOrElse(exec)
    (finalPlan.collectLeaves() :+ finalPlan).collectFirst {
      case s: org.apache.spark.sql.execution.FileSourceScanExec =>
        s.metrics("numFiles").value
    }.getOrElse(-1L)
  }

  /** Rewrite the newest metadata's partition spec: the identity field
    * over `fromCol` becomes `transform` over `toCol`'s field id — the
    * exact metadata a foreign writer partitioned by that transform
    * publishes (data files store every column either way).
    */
  private def retransform(root: String, transform: String,
      toCol: String): Unit = {
    import scala.jdk.CollectionConverters._
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    val metaDir = new java.io.File(root, "metadata")
    val mdFile = metaDir.listFiles()
      .filter(_.getName.matches("v\\d+\\.metadata\\.json"))
      .maxBy(_.getName.stripPrefix("v")
        .stripSuffix(".metadata.json").toInt)
    val md = m.readTree(scala.io.Source.fromFile(mdFile).mkString)
      .deepCopy[com.fasterxml.jackson.databind.node.ObjectNode]()
    val schema = md.get("schemas").elements().asScala
      .find(_.get("schema-id").asInt() ==
        md.get("current-schema-id").asInt()).get
    val srcId = schema.get("fields").elements().asScala
      .find(_.get("name").asText() == toCol).get.get("id").asInt()
    val spec = md.get("partition-specs").elements().asScala.next()
      .get("fields").elements().asScala.next()
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    spec.put("transform", transform)
    spec.put("source-id", srcId)
    val w = new java.io.PrintWriter(mdFile, "UTF-8")
    try w.print(m.writeValueAsString(md)) finally w.close()
    new java.io.File(metaDir, "." + mdFile.getName + ".crc").delete()
  }

  test("bucket[8] pruning: an equality predicate on the SOURCE column " +
      "scans only the matching bucket's files; ranges and corrupt " +
      "bucket ids never prune") {
    val root = java.nio.file.Files.createTempDirectory("itrans").toString
    val rows = (0L until 64L).map(k =>
      (k, s"v$k", IcebergTransforms.bucketLong(k, 8)))
    IcebergExport.exportPartitioned(spark,
      rows.toDF("k", "s", "p"), root, Seq("p"))
    retransform(root, "bucket[8]", "k")
    val all = IcebergExport.read(spark, root)
    val total = scannedFiles(all.select("k"))
    assert(total >= 8, s"expected >=8 partition files, scanned $total")
    // equality on k: only k's bucket file(s) scan
    val hit = IcebergExport.read(spark, root).filter(col("k") === 34L)
    assert(hit.select("s").as[String].collect().toSeq == Seq("v34"))
    assert(scannedFiles(hit.select("k", "s")) < total,
      "bucket pruning must drop non-matching buckets")
    // IN-list prunes to the union of its buckets
    val in2 = IcebergExport.read(spark, root)
      .filter(col("k").isin(3L, 34L))
    assert(in2.count() == 2)
    assert(scannedFiles(in2.select("k")) < total)
    // a RANGE predicate must not bucket-prune (hash order is unrelated):
    // only the files' own exact k bounds may drop a file, so exactly the
    // files holding a matching row scan
    val rng = IcebergExport.read(spark, root).filter(col("k") >= 60L)
    assert(rng.count() == 4)
    val holding = spark.read.parquet(s"$root/data").filter(col("k") >= 60L)
      .select(col("_metadata.file_path")).distinct().count()
    assert(scannedFiles(rng.select("k")) == holding,
      "ranges cannot prune a bucket layout")
  }

  test("truncate[100] pruning: point and range predicates prune to " +
      "the covering width-100 slices") {
    val root = java.nio.file.Files.createTempDirectory("itrans").toString
    val rows = (0L until 400L).map(k => (k, k - (k % 100)))
    IcebergExport.exportPartitioned(spark,
      rows.toDF("k", "p"), root, Seq("p"))
    retransform(root, "truncate[100]", "k")
    val total = scannedFiles(IcebergExport.read(spark, root).select("k"))
    assert(total >= 4)
    val pt = IcebergExport.read(spark, root).filter(col("k") === 123L)
    assert(pt.count() == 1)
    assert(scannedFiles(pt.select("k")) == total / 4,
      "a point lookup must scan only its slice")
    val rng = IcebergExport.read(spark, root).filter(col("k") >= 350L)
    assert(rng.count() == 50)
    assert(scannedFiles(rng.select("k")) == total / 4,
      "k >= 350 only reaches the [300,399] slice")
  }

  test("bucket/truncate pruning on STRING sources: UTF-8 hash buckets " +
      "prune equality; prefix values lower-bound ranges (no upper — " +
      "a prefix never caps the source)") {
    // bucket[16] over a string key
    val root = java.nio.file.Files.createTempDirectory("itrans").toString
    val rows = (0 until 64).map { i =>
      val sv = s"name-$i"
      (i.toLong, sv,
        IcebergTransforms.bucketBytes(sv.getBytes("UTF-8"), 16))
    }
    IcebergExport.exportPartitioned(spark,
      rows.toDF("k", "s", "p"), root, Seq("p"))
    retransform(root, "bucket[16]", "s")
    val total = scannedFiles(IcebergExport.read(spark, root).select("k"))
    assert(total >= 8)
    val hit = IcebergExport.read(spark, root)
      .filter(col("s") === "name-34")
    assert(hit.select("k").as[Long].collect().toSeq == Seq(34L))
    assert(scannedFiles(hit.select("k", "s")) < total)
    // a string RANGE cannot bucket-prune
    val rng = IcebergExport.read(spark, root).filter(col("s") >= "name-9")
    assert(scannedFiles(rng.select("k")) == total)

    // truncate[4] over a string: four prefix groups
    val root2 = java.nio.file.Files.createTempDirectory("itrans").toString
    val prefixes = Seq("aaaa", "bbbb", "cccc", "dddd")
    val rows2 = (0 until 80).map { i =>
      val sv = s"${prefixes(i % 4)}-$i"
      (i.toLong, sv, sv.take(4))
    }
    IcebergExport.exportPartitioned(spark,
      rows2.toDF("k", "s", "p"), root2, Seq("p"))
    retransform(root2, "truncate[4]", "s")
    val total2 =
      scannedFiles(IcebergExport.read(spark, root2).select("k"))
    assert(total2 >= 4)
    // equality prunes via the prefix LOWER bound (higher-prefix files'
    // min exceeds the literal)
    val eq = IcebergExport.read(spark, root2)
      .filter(col("s") === "aaaa-8")
    assert(eq.count() == 1)
    assert(scannedFiles(eq.select("k", "s")) == total2 / 4)
    // s < "bbbb" prunes every file whose prefix min is >= "bbbb"
    val lt = IcebergExport.read(spark, root2).filter(col("s") < "bbbb")
    assert(lt.count() == 20)
    assert(scannedFiles(lt.select("k")) == total2 / 4)
    // s >= "cccc" must NOT prune on the missing upper bound alone —
    // every file scans (a prefix lower bound can only exclude ABOVE the
    // literal), and the answer is still exact
    val ge = IcebergExport.read(spark, root2).filter(col("s") >= "cccc")
    assert(ge.count() == 40)
  }

  test("day/month pruning on timestamp/date sources: time-range " +
      "predicates scan only the covering partitions") {
    // day transform over a TIMESTAMP source
    val root = java.nio.file.Files.createTempDirectory("itrans").toString
    val base = java.time.LocalDateTime.of(2024, 3, 1, 0, 0, 0)
    val rows = (0 until 96).map { h =>
      val ts = base.plusHours(h.toLong)
      (h.toLong, ts, ts.toLocalDate.toEpochDay.toInt)
    }
    IcebergExport.exportPartitioned(spark,
      rows.toDF("id", "ts", "p"), root, Seq("p"))
    retransform(root, "day", "ts")
    val total = scannedFiles(IcebergExport.read(spark, root).select("id"))
    assert(total >= 4) // four days
    val oneDay = IcebergExport.read(spark, root)
      .filter(col("ts") >= lit(base.plusDays(2L)) &&
        col("ts") < lit(base.plusDays(3L)))
    assert(oneDay.count() == 24)
    assert(scannedFiles(oneDay.select("id")) == total / 4,
      "a one-day range must scan one day-partition")

    // month transform over a DATE source
    val root2 = java.nio.file.Files.createTempDirectory("itrans").toString
    val rows2 = (0 until 120).map { d =>
      val dt = java.time.LocalDate.of(2024, 1, 1).plusDays(d.toLong)
      (d.toLong, dt,
        (dt.getYear - 1970) * 12 + dt.getMonthValue - 1)
    }
    IcebergExport.exportPartitioned(spark,
      rows2.toDF("id", "d", "p"), root2, Seq("p"))
    retransform(root2, "month", "d")
    val total2 =
      scannedFiles(IcebergExport.read(spark, root2).select("id"))
    assert(total2 >= 4) // Jan..Apr
    val feb = IcebergExport.read(spark, root2)
      .filter(col("d") >= lit(java.time.LocalDate.of(2024, 2, 1)) &&
        col("d") <= lit(java.time.LocalDate.of(2024, 2, 29)))
    assert(feb.count() == 29)
    assert(scannedFiles(feb.select("id")) == total2 / 4,
      "a February range must scan only the February partition")
  }
}
