package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec

class KmvStoreSpec extends SparkSpec {

  import spark.implicits._

  private val K = 4

  private def freshRoot() =
    Files.createTempDirectory("graft-kmv").resolve("store").toString

  private def rows(pairs: (String, Long)*) =
    pairs.toDF("group", "h")

  test("bottom-k merge is lossless: incremental == one-shot, any split") {
    val all = Seq.tabulate(20)(i => ("g", (i * 37 + 5).toLong)) ++
      Seq.tabulate(3)(i => ("small", (i * 11 + 2).toLong))
    val oneShot = freshRoot()
    KmvStore.merge(spark, oneShot, rows(all: _*), K)
    for (splitAt <- Seq(1, 7, 19)) {
      val inc = freshRoot()
      KmvStore.merge(spark, inc, rows(all.take(splitAt): _*), K)
      KmvStore.merge(spark, inc, rows(all.drop(splitAt): _*), K)
      def sk(r: String) = ManifestStore.read(spark, r)
        .as[(String, Long)].collect().toSet
      assert(sk(inc) == sk(oneShot), s"split at $splitAt diverged")
    }
  }

  test("estimator: exact below k, (k-1)*2^60/theta at k") {
    val root = freshRoot()
    KmvStore.merge(spark, root,
      rows(("tiny", 10L), ("tiny", 20L),
        ("full", 1L << 40), ("full", 1L << 41), ("full", 1L << 42),
        ("full", 1L << 43), ("full", 1L << 44)), K)
    val est = KmvStore.estimates(spark, root, K)
      .as[(String, Double)].collect().toMap
    assert(est("tiny") == 2.0) // unsaturated: exact
    val theta = (1L << 43).toDouble // 4th smallest of the five
    assert(est("full") == 3.0 * (1L << 60).toDouble / theta)
  }

  test("replayed txn is a no-op; fresh txn commits") {
    val root = freshRoot()
    KmvStore.merge(spark, root, rows(("g", 5L)), K, txnId = Some(1L))
    val v1 = ManifestStore.latest(spark, root).get.version
    KmvStore.merge(spark, root, rows(("g", 6L)), K, txnId = Some(1L))
    assert(ManifestStore.latest(spark, root).get.version == v1)
    assert(ManifestStore.read(spark, root).count() == 1)
    KmvStore.merge(spark, root, rows(("g", 6L)), K, txnId = Some(2L))
    assert(ManifestStore.read(spark, root).count() == 2)
  }

  test("staged-but-uncommitted sketch is invisible to readers") {
    val root = freshRoot()
    KmvStore.merge(spark, root, rows(("g", 5L)), K)
    // a crashed writer staged v2 data but never committed its manifest
    val orphanRel = ManifestStore.dataRel(
      ManifestStore.versionAfter(ManifestStore.latest(spark, root)))
    rows(("g", 1L)).write.parquet(s"$root/$orphanRel/sketch")
    assert(ManifestStore.read(spark, root).as[(String, Long)].collect()
      .toSet == Set(("g", 5L)))
    // the next successful writer skips past the orphan's version
    KmvStore.merge(spark, root, rows(("g", 7L)), K)
    assert(ManifestStore.read(spark, root).count() == 2)
  }

  test("micro-batch ingest through the streaming writer equals direct merges") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq = spark.sqlContext
    val direct = freshRoot()
    val data = Seq.tabulate(12)(i => ("g" + (i % 2), (i * 101 + 3).toLong))
    KmvStore.merge(spark, direct, rows(data: _*), K)

    val streamed = freshRoot()
    val ms = MemoryStream[(String, Long)]
    val q = KmvStore.mergeStream(spark, ms.toDF().toDF("group", "h"),
      streamed, K, Files.createTempDirectory("graft-kmv-ckpt").toString)
    ms.addData(data.take(5))
    q.processAllAvailable()
    ms.addData(data.drop(5))
    q.processAllAvailable()
    q.stop()
    def sk(r: String) = ManifestStore.read(spark, r)
      .as[(String, Long)].collect().toSet
    assert(sk(streamed) == sk(direct))
  }

  test("the gate fixture's store matches a one-shot sketch of all events") {
    val root = KmvStore.materializedEventsKmvDir(spark, sfDir, k = 16)
    val incremental = KmvStore.estimates(spark, root, k = 16)
      .as[(String, Double)].collect().toMap
    val oneShot = freshRoot()
    KmvStore.merge(spark, oneShot,
      graft.ops.Tables(spark, sfDir, "events")
        .select(col("event_type").as("group"),
          graft.functions.Hash60(col("user_id").cast("string")).as("h")),
      k = 16)
    val direct = KmvStore.estimates(spark, oneShot, k = 16)
      .as[(String, Double)].collect().toMap
    assert(incremental == direct)
  }
}
