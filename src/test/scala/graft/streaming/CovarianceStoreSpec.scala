package graft.streaming

import org.apache.spark.sql.functions._

import graft.SparkSpec

class CovarianceStoreSpec extends SparkSpec {
  import spark.implicits._

  private def vecs(ids: Range) = ids.map { i =>
    val t = (i % 21) - 10.0
    (i.toLong, Array.tabulate(8) { d =>
      (t * (if (d % 2 == 0) 0.5 else -0.3) + 0.01 * (i % 7) * (d + 1)).toFloat
    }.toSeq)
  }.toDF("id", "vec")

  private def cellMap(root: String) =
    CovarianceStore.cells(spark, root).collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getDecimal(2).toBigInteger)
      .toMap

  test("any-split merges are lossless: 1 merge == 3 merges, bit-exact") {
    val one = java.nio.file.Files.createTempDirectory("cov1").toString
    val three = java.nio.file.Files.createTempDirectory("cov3").toString
    val all = vecs(0 until 60)
    CovarianceStore.merge(spark, one, all)
    for ((m, t) <- Seq(0, 1, 2).zipWithIndex)
      CovarianceStore.merge(spark, three,
        all.filter(col("id") % 3 === m), txnId = Some(t.toLong + 1))
    assert(cellMap(one) == cellMap(three))
    val (m1, v1) = CovarianceStore.topComponent(spark, one, 8)
    val (m3, v3) = CovarianceStore.topComponent(spark, three, 8)
    assert(m1.toSeq == m3.toSeq && v1.toSeq == v3.toSeq)
  }

  test("component recovers the planted dominant direction") {
    val root = java.nio.file.Files.createTempDirectory("cov").toString
    CovarianceStore.merge(spark, root, vecs(0 until 200))
    val (_, v) = CovarianceStore.topComponent(spark, root, 8, iters = 5)
    val w = Array.tabulate(8)(d => if (d % 2 == 0) 0.5 else -0.3)
    val nw = math.sqrt(w.map(x => x * x).sum)
    val cos = v.zip(w).map { case (a, b) => a * b / nw }.sum
    assert(math.abs(cos) > 0.98, s"|cos| = ${math.abs(cos)}")
  }

  test("streaming ingest equals direct merges") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val root = java.nio.file.Files.createTempDirectory("cov").toString
    val direct = java.nio.file.Files.createTempDirectory("cov").toString
    implicit val sq = spark.sqlContext
    val ms = MemoryStream[(Long, Seq[Float])]
    val rows = vecs(0 until 40).as[(Long, Seq[Float])].collect().toSeq
    val q = CovarianceStore.mergeStream(spark,
      ms.toDF().toDF("id", "vec"), root,
      java.nio.file.Files.createTempDirectory("ckpt").toString)
    ms.addData(rows.take(20)); q.processAllAvailable()
    ms.addData(rows.drop(20)); q.processAllAvailable()
    q.stop()
    CovarianceStore.merge(spark, direct, vecs(0 until 40))
    assert(cellMap(root) == cellMap(direct))
  }
}
