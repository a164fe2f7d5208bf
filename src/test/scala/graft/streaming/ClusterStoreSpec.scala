package graft.streaming

import java.nio.file.Files

import graft.SparkSpec

class ClusterStoreSpec extends SparkSpec {

  import spark.implicits._

  private def freshRoot() = {
    val r = Files.createTempDirectory("graft-cluster").resolve("store").toString
    ClusterStore.create(spark, r)
    r
  }

  private def pairs(ps: (Long, Long)*) = ps.toDF("id_a", "id_b")

  private def st(r: String): Set[(Long, Long)] =
    ClusterStore.labels(spark, r).as[(Long, Long)].collect().toSet

  // a chain, a clique, a pair, dup/reversed edges — CC-shaped stress
  private val all = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L),
    (10L, 11L), (11L, 12L), (10L, 12L),
    (20L, 21L), (21L, 20L), (20L, 21L),
    (30L, 31L), (31L, 32L))

  test("star-forest merge is lossless: incremental == one-shot, any split") {
    val oneShot = freshRoot()
    ClusterStore.merge(spark, oneShot, pairs(all: _*), "id_a", "id_b")
    for (splitAt <- Seq(1, 5, 11)) {
      val inc = freshRoot()
      ClusterStore.merge(spark, inc, pairs(all.take(splitAt): _*), "id_a", "id_b")
      ClusterStore.merge(spark, inc, pairs(all.drop(splitAt): _*), "id_a", "id_b")
      assert(st(inc) == st(oneShot), s"split at $splitAt diverged")
    }
  }

  test("a bridging batch unions two standing clusters under the global min") {
    val root = freshRoot()
    ClusterStore.merge(spark, root, pairs((1L, 2L), (10L, 11L)), "id_a", "id_b")
    assert(st(root) == Set((1L, 1L), (2L, 1L), (10L, 10L), (11L, 10L)))
    ClusterStore.merge(spark, root, pairs((2L, 11L)), "id_a", "id_b")
    assert(st(root) == Set((1L, 1L), (2L, 1L), (10L, 1L), (11L, 1L)))
  }

  test("replayed txn is a no-op; fresh txn commits") {
    val root = freshRoot()
    ClusterStore.merge(spark, root, pairs((1L, 2L)), "id_a", "id_b",
      txnId = Some(1L))
    val v1 = ManifestStore.latest(spark, root).get.version
    ClusterStore.merge(spark, root, pairs((3L, 4L)), "id_a", "id_b",
      txnId = Some(1L))
    assert(ManifestStore.latest(spark, root).get.version == v1)
    assert(st(root) == Set((1L, 1L), (2L, 1L)))
    ClusterStore.merge(spark, root, pairs((3L, 4L)), "id_a", "id_b",
      txnId = Some(2L))
    assert(st(root) == Set((1L, 1L), (2L, 1L), (3L, 3L), (4L, 3L)))
  }

  test("staged-but-uncommitted labels are invisible to readers") {
    val root = freshRoot()
    ClusterStore.merge(spark, root, pairs((1L, 2L)), "id_a", "id_b")
    val orphanRel = ManifestStore.dataRel(
      ManifestStore.versionAfter(ManifestStore.latest(spark, root)))
    Seq((99L, 9L)).toDF("id", "component")
      .write.parquet(s"$root/$orphanRel/labels")
    assert(st(root) == Set((1L, 1L), (2L, 1L)))
    ClusterStore.merge(spark, root, pairs((5L, 6L)), "id_a", "id_b")
    assert(st(root) == Set((1L, 1L), (2L, 1L), (5L, 5L), (6L, 5L)))
  }

  test("micro-batch ingest through the streaming writer equals direct merge") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq = spark.sqlContext
    val direct = freshRoot()
    ClusterStore.merge(spark, direct, pairs(all: _*), "id_a", "id_b")

    val streamed = freshRoot()
    val ms = MemoryStream[(Long, Long)]
    val q = ClusterStore.mergeStream(spark,
      ms.toDF().toDF("id_a", "id_b"), streamed,
      Files.createTempDirectory("graft-cluster-ckpt").toString)
    ms.addData(all.take(4))
    q.processAllAvailable()
    ms.addData(all.drop(4))
    q.processAllAvailable()
    q.stop()
    assert(st(streamed) == st(direct))
  }
}
