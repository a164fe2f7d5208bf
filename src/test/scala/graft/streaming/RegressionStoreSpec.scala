package graft.streaming

import java.nio.file.Files

import graft.SparkSpec

class RegressionStoreSpec extends SparkSpec {

  import spark.implicits._

  private def freshRoot() =
    Files.createTempDirectory("graft-reg").resolve("store").toString

  private def rows(obs: (String, Double, Double)*) =
    obs.toDF("group", "x", "y")

  private def mk(n: Int) =
    Seq.tabulate(n)(i =>
      ("g" + (i % 2), (i % 50 + 1).toDouble, (i * 7 % 101 + 0.25)))

  private def st(r: String) =
    RegressionStore.sums(spark, r)
      .selectExpr("group", "n", "CAST(sx AS STRING)", "CAST(sy AS STRING)",
        "CAST(sxy AS STRING)", "CAST(sx2 AS STRING)", "CAST(sy2 AS STRING)")
      .as[(String, Long, String, String, String, String, String)]
      .collect().toSet

  test("decimal merge is lossless: incremental == one-shot, any split") {
    val all = mk(40)
    val oneShot = freshRoot()
    RegressionStore.merge(spark, oneShot, rows(all: _*))
    for (splitAt <- Seq(1, 13, 39)) {
      val inc = freshRoot()
      RegressionStore.merge(spark, inc, rows(all.take(splitAt): _*))
      RegressionStore.merge(spark, inc, rows(all.drop(splitAt): _*))
      assert(st(inc) == st(oneShot), s"split at $splitAt diverged")
    }
  }

  test("fit recovers a perfect line (slope 2, intercept 1, corr 1)") {
    val root = freshRoot()
    RegressionStore.merge(spark, root,
      rows((1 to 10).map(i => ("g", i.toDouble, 2.0 * i + 1)): _*))
    val (n, slope, intercept, corr) = RegressionStore.fit(spark, root)
      .select("n", "slope", "intercept", "corr_xy")
      .as[(Long, Double, Double, Double)].collect().head
    assert(n == 10L)
    assert(math.abs(slope - 2.0) < 1e-12)
    assert(math.abs(intercept - 1.0) < 1e-12)
    assert(math.abs(corr - 1.0) < 1e-12)
  }

  test("staged-but-uncommitted sums are invisible to readers") {
    val root = freshRoot()
    RegressionStore.merge(spark, root, rows(("g", 1.0, 2.0)))
    val orphanRel = ManifestStore.dataRel(
      ManifestStore.versionAfter(ManifestStore.latest(spark, root)))
    rows(("x", 9.0, 9.0)).write.parquet(s"$root/$orphanRel/sums")
    assert(RegressionStore.sums(spark, root)
      .select("group").as[String].collect().toSeq == Seq("g"))
    RegressionStore.merge(spark, root, rows(("h", 5.0, 6.0)))
    assert(RegressionStore.sums(spark, root).count() == 2)
  }

  test("micro-batch ingest through the streaming writer equals direct merges") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq = spark.sqlContext
    val direct = freshRoot()
    val data = mk(24)
    RegressionStore.merge(spark, direct, rows(data: _*))

    val streamed = freshRoot()
    val ms = MemoryStream[(String, Double, Double)]
    val q = RegressionStore.mergeStream(spark,
      ms.toDF().toDF("group", "x", "y"), streamed,
      Files.createTempDirectory("graft-reg-ckpt").toString)
    ms.addData(data.take(9))
    q.processAllAvailable()
    ms.addData(data.drop(9))
    q.processAllAvailable()
    q.stop()
    assert(st(streamed) == st(direct))
  }
}
