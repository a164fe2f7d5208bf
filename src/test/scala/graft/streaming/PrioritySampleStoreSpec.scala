package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec

class PrioritySampleStoreSpec extends SparkSpec {

  import spark.implicits._

  private val K = 4

  private def freshRoot() =
    Files.createTempDirectory("graft-psample").resolve("store").toString

  private def rows(triples: (Long, Double, Double)*) =
    triples.toDF("id", "weight", "priority")

  private def mk(n: Int) =
    Seq.tabulate(n)(i => (i.toLong, (i % 7 + 1).toDouble,
      ((i * 37 + 5) % 101).toDouble))

  test("top-k merge is lossless: incremental == one-shot, any split") {
    val all = mk(20)
    val oneShot = freshRoot()
    PrioritySampleStore.merge(spark, oneShot, rows(all: _*), K)
    for (splitAt <- Seq(1, 7, 19)) {
      val inc = freshRoot()
      PrioritySampleStore.merge(spark, inc, rows(all.take(splitAt): _*), K)
      PrioritySampleStore.merge(spark, inc, rows(all.drop(splitAt): _*), K)
      def st(r: String) = ManifestStore.read(spark, r)
        .as[(Long, Double, Double)].collect().toSet
      assert(st(inc) == st(oneShot), s"split at $splitAt diverged")
    }
  }

  test("sample: rank order, tau threshold, and the unsaturated case") {
    val root = freshRoot()
    PrioritySampleStore.merge(spark, root,
      rows((1L, 2.0, 50.0), (2L, 9.0, 40.0), (3L, 1.0, 30.0),
        (4L, 5.0, 20.0), (5L, 3.0, 10.0), (6L, 4.0, 5.0)), K)
    val got = PrioritySampleStore.sample(spark, root, K)
      .as[(Int, Long, Double, Double)].collect().sortBy(_._1)
    // top-4 by priority; tau = 5th priority = 10.0; est = max(w, tau)
    assert(got.map(_._2).toSeq == Seq(1L, 2L, 3L, 4L))
    assert(got.map(_._4).toSeq == Seq(10.0, 10.0, 10.0, 10.0))

    val tiny = freshRoot()
    PrioritySampleStore.merge(spark, tiny, rows((1L, 2.0, 50.0)), K)
    val t = PrioritySampleStore.sample(spark, tiny, K)
      .as[(Int, Long, Double, Double)].collect()
    assert(t.toSeq == Seq((1, 1L, 2.0, 2.0))) // tau=0: weights exact
  }

  test("replayed txn is a no-op; fresh txn commits") {
    val root = freshRoot()
    PrioritySampleStore.merge(spark, root, rows((1L, 1.0, 9.0)), K,
      txnId = Some(1L))
    val v1 = ManifestStore.latest(spark, root).get.version
    PrioritySampleStore.merge(spark, root, rows((2L, 1.0, 8.0)), K,
      txnId = Some(1L))
    assert(ManifestStore.latest(spark, root).get.version == v1)
    assert(ManifestStore.read(spark, root).count() == 1)
    PrioritySampleStore.merge(spark, root, rows((2L, 1.0, 8.0)), K,
      txnId = Some(2L))
    assert(ManifestStore.read(spark, root).count() == 2)
  }

  test("staged-but-uncommitted sample is invisible to readers") {
    val root = freshRoot()
    PrioritySampleStore.merge(spark, root, rows((1L, 1.0, 9.0)), K)
    val orphanRel = ManifestStore.dataRel(
      ManifestStore.versionAfter(ManifestStore.latest(spark, root)))
    rows((99L, 1.0, 999.0)).write.parquet(s"$root/$orphanRel/sample")
    assert(ManifestStore.read(spark, root).as[(Long, Double, Double)]
      .collect().toSet == Set((1L, 1.0, 9.0)))
    PrioritySampleStore.merge(spark, root, rows((2L, 1.0, 8.0)), K)
    assert(ManifestStore.read(spark, root).count() == 2)
  }

  test("micro-batch ingest through the streaming writer equals direct merges") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq = spark.sqlContext
    val direct = freshRoot()
    val data = mk(12)
    PrioritySampleStore.merge(spark, direct, rows(data: _*), K)

    val streamed = freshRoot()
    val ms = MemoryStream[(Long, Double, Double)]
    val q = PrioritySampleStore.mergeStream(spark,
      ms.toDF().toDF("id", "weight", "priority"), streamed, K,
      Files.createTempDirectory("graft-psample-ckpt").toString)
    ms.addData(data.take(5))
    q.processAllAvailable()
    ms.addData(data.drop(5))
    q.processAllAvailable()
    q.stop()
    def st(r: String) = ManifestStore.read(spark, r)
      .as[(Long, Double, Double)].collect().toSet
    assert(st(streamed) == st(direct))
  }

  test("the gate fixture's store matches one-shot sampling of all events") {
    val root = PrioritySampleStore
      .materializedEventsPriorityDir(spark, sfDir, k = 32)
    val incremental = ManifestStore.read(spark, root)
      .as[(Long, Double, Double)].collect().toSet
    val oneShot = freshRoot()
    val ev = graft.ops.Tables(spark, sfDir, "events")
      .select(col("event_id").as("id"), col("value").as("weight"))
      .withColumn("priority",
        PrioritySampleStore.priorityOf(col("id"), col("weight")))
    PrioritySampleStore.merge(spark, oneShot, ev, k = 32)
    val direct = ManifestStore.read(spark, oneShot)
      .as[(Long, Double, Double)].collect().toSet
    assert(incremental == direct)
  }
}
