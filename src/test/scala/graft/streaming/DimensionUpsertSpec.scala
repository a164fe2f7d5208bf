package graft.streaming

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.streaming.Scd2Stream.{Change, Version}

class DimensionUpsertSpec extends SparkSpec {

  import spark.implicits._

  private def ts(s: Long) = new Timestamp(s * 1000)
  private def chg(id: Long, st: String, lsn: Long, t: Long) =
    Change(id, Option(st), Some(lsn * 1.0), "UPDATE", lsn, ts(t))

  /** (name, size, md5) of every data file under a directory — byte-level
    * fingerprint for the untouched-bucket assertion.
    */
  private def fileSigs(dir: String): Seq[(String, Long, String)] = {
    val d = new java.io.File(dir)
    d.listFiles().filter(_.getName.endsWith(".parquet")).toSeq.map { f =>
      val bytes = Files.readAllBytes(f.toPath)
      val md5 = java.security.MessageDigest.getInstance("MD5").digest(bytes)
        .map("%02x".format(_)).mkString
      (f.getName, f.length(), md5)
    }.sortBy(_._1)
  }

  test("dimensionStream maintains a bucketed parquet SCD2 dimension; " +
       "batches rewrite only touched buckets") {
    val base = Files.createTempDirectory("graft-dim").toString
    val dim = s"$base/dim"
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Change]
    val q = Scd2Stream.dimensionStream(input.toDS(), dim, s"$base/ckpt")

    // Keys 1 and 2 must land in different buckets for the untouched-bucket
    // assertion to bite (deterministic Murmur3; verified, not assumed).
    val Seq(b1, b2) = Seq(1L, 2L).toDF("id")
      .select(pmod(hash(col("id")), lit(64))).as[Int].collect().toSeq
    assert(b1 != b2, "pick different test ids: buckets collide")

    input.addData(chg(1, "a", 1, 10), chg(1, "b", 2, 20), chg(2, "x", 1, 15))
    q.processAllAvailable()
    val after1 = Scd2Stream.readDimension(spark, dim).collect()
    assert(after1.length == 3) // key1: a(closed), b(open); key2: x(open)
    assert(after1.count(!_.closed) == 2)
    assert(after1.find(v => v.id == 1L && !v.closed).get.status.contains("b"))
    val snap1 = ManifestStore.latest(spark, dim).get
    val bucket1Dir = s"$dim/${snap1.entries(b1.toString)}"
    val bucket1Before = fileSigs(bucket1Dir)
    assert(bucket1Before.nonEmpty)

    // Second batch touches ONLY key 2 → bucket b1 must keep pointing at the
    // SAME data directory and its files must remain byte-identical (never
    // read, rewritten, or moved).
    input.addData(chg(2, "y", 2, 25))
    q.processAllAvailable()
    q.stop()
    val after2 = Scd2Stream.readDimension(spark, dim).collect()
    // key1: a(closed), b(open); key2: x(closed, upserted over open x), y(open)
    assert(after2.length == 4)
    assert(after2.count(!_.closed) == 2)
    val xRow = after2.find(v => v.status.contains("x")).get
    assert(xRow.closed && xRow.row_valid_expiration_timestamp == ts(25))

    val snap2 = ManifestStore.latest(spark, dim).get
    assert(snap2.version > snap1.version)
    assert(snap2.entries(b1.toString) == snap1.entries(b1.toString))
    assert(snap2.entries(b2.toString) != snap1.entries(b2.toString))
    assert(fileSigs(bucket1Dir) == bucket1Before)
  }

  test("upsertBatch keeps same-start versions with distinct LSNs " +
       "(same-millisecond CDC updates)") {
    val base = Files.createTempDirectory("graft-dim-lsn").toString
    val dim = s"$base/dim"
    // Two versions of key 9 opened at the SAME timestamp by events lsn=1,2:
    // the zero-length [T,T) version and its successor must BOTH persist,
    // matching the batch SCD2 derivation.
    val out = Scd2Stream.foldKey(9L,
      Seq(chg(9, "v1", 1, 10), chg(9, "v2", 2, 10)), None)
    Scd2Stream.upsertBatch(spark, out.toDS(), dim)
    val rows = Scd2Stream.readDimension(spark, dim).collect()
    assert(rows.length == 2)
    assert(rows.map(_.lsn).sorted.toSeq == Seq(1L, 2L))
    assert(rows.forall(_.row_valid_start_timestamp == ts(10)))
  }

  test("upsertBatch of an empty batch commits no version and stages no " +
       "data dir") {
    val dim = Files.createTempDirectory("graft-dim-empty").toString + "/dim"
    val out = Scd2Stream.foldKey(1L, Seq(chg(1, "a", 1, 10)), None)
    Scd2Stream.upsertBatch(spark, out.toDS(), dim)
    val dirs = new java.io.File(s"$dim/data").list().toSet
    val empty = spark.emptyDataset[Version]
    assert(Scd2Stream.stageBatch(spark, empty, dim, 64).isEmpty)
    Scd2Stream.upsertBatch(spark, empty, dim)
    assert(ManifestStore.latest(spark, dim).get.version == 1L)
    assert(new java.io.File(s"$dim/data").list().toSet == dirs)
    assert(Scd2Stream.readDimension(spark, dim).collect().map(_.id).toSeq ==
      Seq(1L))
  }

  test("a stream continued after ManifestStore.restore folds against the " +
       "restored rows: one open version, contiguous versions") {
    val base = Files.createTempDirectory("graft-dim-restore").toString
    val dim = s"$base/dim"
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Change]
    val q = Scd2Stream.dimensionStream(input.toDS(), dim, s"$base/ckpt",
      numBuckets = 4)
    try {
      input.addData(chg(1, "a", 10, 10))
      q.processAllAvailable()
      val first = ManifestStore.latest(spark, dim).get.version
      input.addData(chg(1, "b", 20, 20))
      q.processAllAvailable()
      ManifestStore.restore(spark, dim, first)
      input.addData(chg(1, "c", 30, 30))
      q.processAllAvailable()
    } finally q.stop()
    val rows = Scd2Stream.readDimension(spark, dim).collect()
      .filter(_.id == 1L).sortBy(_.row_valid_start_timestamp.getTime)
    assert(rows.count(!_.closed) == 1, rows.mkString("; "))
    assert(rows.last.row_valid_expiration_timestamp == Scd2Stream.sentinel)
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(a.row_valid_expiration_timestamp == b.row_valid_start_timestamp,
        rows.mkString("; "))
    }
    assert(rows.map(_.status.get).toSeq == Seq("a", "c"))
  }
}
