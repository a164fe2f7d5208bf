package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec

class HistogramStoreSpec extends SparkSpec {

  import spark.implicits._

  private def freshRoot() = {
    val r = Files.createTempDirectory("graft-hist").resolve("store").toString
    HistogramStore.create(spark, r, mn = 0.0, mx = 100.0, bins = 10)
    r
  }

  private def rows(triples: (String, Boolean, Double)*) =
    triples.toDF("group", "is_ref", "value")

  private def mk(n: Int) =
    Seq.tabulate(n)(i => ("g" + (i % 2), i % 3 == 0, (i * 7 % 101).toDouble))

  test("additive merge is lossless: incremental == one-shot, any split") {
    val all = mk(40)
    val oneShot = freshRoot()
    HistogramStore.merge(spark, oneShot, rows(all: _*))
    for (splitAt <- Seq(1, 13, 39)) {
      val inc = freshRoot()
      HistogramStore.merge(spark, inc, rows(all.take(splitAt): _*))
      HistogramStore.merge(spark, inc, rows(all.drop(splitAt): _*))
      def st(r: String) = HistogramStore.cells(spark, r)
        .as[(String, Long, Long, Long)].collect().toSet
      assert(st(inc) == st(oneShot), s"split at $splitAt diverged")
    }
  }

  test("frozen edges clamp out-of-range values into the edge bins") {
    val root = freshRoot()
    HistogramStore.merge(spark, root,
      rows(("g", true, -5.0), ("g", true, 1000.0), ("g", false, 50.0)))
    val cells = HistogramStore.cells(spark, root)
      .as[(String, Long, Long, Long)].collect().toSet
    assert(cells == Set(("g", 0L, 1L, 0L), ("g", 9L, 1L, 0L),
      ("g", 5L, 0L, 1L)))
  }

  test("replayed txn is a no-op; fresh txn commits; config survives merges") {
    val root = freshRoot()
    HistogramStore.merge(spark, root, rows(("g", true, 5.0)),
      txnId = Some(1L))
    val v1 = ManifestStore.latest(spark, root).get.version
    HistogramStore.merge(spark, root, rows(("g", true, 15.0)),
      txnId = Some(1L))
    assert(ManifestStore.latest(spark, root).get.version == v1)
    HistogramStore.merge(spark, root, rows(("g", true, 15.0)),
      txnId = Some(2L))
    assert(HistogramStore.cells(spark, root).count() == 2)
    assert(HistogramStore.config(spark, root) == ((0.0, 100.0, 10)))
  }

  test("staged-but-uncommitted cells are invisible to readers") {
    val root = freshRoot()
    HistogramStore.merge(spark, root, rows(("g", true, 5.0)))
    val orphanRel = ManifestStore.dataRel(
      ManifestStore.versionAfter(ManifestStore.latest(spark, root)))
    Seq(("x", 0L, 9L, 9L)).toDF("group", "bin", "c_ref", "c_cur")
      .write.parquet(s"$root/$orphanRel/cells")
    assert(HistogramStore.cells(spark, root)
      .as[(String, Long, Long, Long)].collect().toSet ==
      Set(("g", 0L, 1L, 0L)))
    HistogramStore.merge(spark, root, rows(("h", false, 95.0)))
    assert(HistogramStore.cells(spark, root).count() == 2)
  }

  test("micro-batch ingest through the streaming writer equals direct merges") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq = spark.sqlContext
    val direct = freshRoot()
    val data = mk(24)
    HistogramStore.merge(spark, direct, rows(data: _*))

    val streamed = freshRoot()
    val ms = MemoryStream[(String, Boolean, Double)]
    val q = HistogramStore.mergeStream(spark,
      ms.toDF().toDF("group", "is_ref", "value"), streamed,
      Files.createTempDirectory("graft-hist-ckpt").toString)
    ms.addData(data.take(9))
    q.processAllAvailable()
    ms.addData(data.drop(9))
    q.processAllAvailable()
    q.stop()
    def st(r: String) = HistogramStore.cells(spark, r)
      .as[(String, Long, Long, Long)].collect().toSet
    assert(st(streamed) == st(direct))
  }

  test("histogram KS equals the exact KS of the binned values") {
    val root = freshRoot()   // edges 0..100, 10 bins
    val data = mk(60)
    HistogramStore.merge(spark, root, rows(data: _*))
    val got = HistogramStore.ks(spark, root)
      .select("group", "ks").as[(String, Double)].collect().toMap
    // exact KS over the binned representative (bin index) of each value:
    // same information content as the cells, so the readout must agree.
    for (g <- Seq("g0", "g1")) {
      val binned = data.filter(_._1 == g)
        .map(t => (math.min((t._3 / 10.0).floor.toLong, 9L), t._2))
      val na = binned.count(_._2).toDouble
      val nb = binned.count(!_._2).toDouble
      val ksExact = (0L to 9L).map { b =>
        math.abs(binned.count(t => t._1 <= b && t._2) / na -
          binned.count(t => t._1 <= b && !t._2) / nb)
      }.max
      assert(got(g) == ksExact, s"group $g")
    }
  }

  test("the gate fixture's TVD matches a one-shot store over all events") {
    val root = HistogramStore.materializedEventsDriftDir(spark, sfDir)
    val incremental = HistogramStore.tvd(spark, root)
      .as[(String, Long, Long, Double)].collect().toSet
    val oneShot = Files.createTempDirectory("graft-hist-one")
      .resolve("store").toString
    val ev = graft.ops.Tables(spark, sfDir, "events")
      .select(col("event_type").as("group"),
        (col("ts") < lit("2024-01-15 00:00:00").cast("timestamp_ntz"))
          .as("is_ref"),
        col("value"))
    val b = ev.agg(min(col("value")), max(col("value"))).collect()(0)
    HistogramStore.create(spark, oneShot, b.getDouble(0), b.getDouble(1), 20)
    HistogramStore.merge(spark, oneShot, ev)
    val direct = HistogramStore.tvd(spark, oneShot)
      .as[(String, Long, Long, Double)].collect().toSet
    assert(incremental == direct)
  }
}
