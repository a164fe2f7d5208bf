package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec

class DqStoreSpec extends SparkSpec {

  import spark.implicits._

  private def freshRoot() =
    Files.createTempDirectory("graft-dq").resolve("store").toString

  private def batch(rows: (Long, Double, String)*) =
    rows.toDF("user_id", "value", "event_type")
      .withColumn("ts", lit("2024-01-05").cast("timestamp_ntz"))

  test("counter merge is additive: incremental == one-shot, any split") {
    val rows = Seq.tabulate(10)(i =>
      (i.toLong, if (i % 3 == 0) 150.0 else 5.0,
        if (i % 4 == 0) "weird" else "view"))
    val oneShot = freshRoot()
    DqStore.merge(spark, oneShot, DqStore.eventsAudit(batch(rows: _*)))
    for (splitAt <- Seq(1, 5, 9)) {
      val inc = freshRoot()
      DqStore.merge(spark, inc,
        DqStore.eventsAudit(batch(rows.take(splitAt): _*)))
      DqStore.merge(spark, inc,
        DqStore.eventsAudit(batch(rows.drop(splitAt): _*)))
      def rep(r: String) = DqStore.report(spark, r)
        .as[(String, Long, Long, Long)].collect().toSet
      assert(rep(inc) == rep(oneShot), s"split at $splitAt diverged")
    }
  }

  test("violations actually count and pass flags flip") {
    val root = freshRoot()
    DqStore.merge(spark, root, DqStore.eventsAudit(batch(
      (1L, 150.0, "view"), (2L, 5.0, "weird"), (3L, 5.0, "view"))))
    val rep = DqStore.report(spark, root)
      .as[(String, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._3, r._4))).toMap
    assert(rep("range:events.value in [0,100]") == ((1L, 0L)))
    assert(rep(
      "domain:events.event_type in {view,click,purchase,signup,error}")
      == ((1L, 0L)))
    assert(rep("not_null:events.user_id") == ((0L, 1L)))
  }

  test("replayed txn is a no-op; fresh txn commits") {
    val root = freshRoot()
    val b = DqStore.eventsAudit(batch((1L, 5.0, "view")))
    DqStore.merge(spark, root, b, txnId = Some(1L))
    val v1 = ManifestStore.latest(spark, root).get.version
    DqStore.merge(spark, root, b, txnId = Some(1L))
    assert(ManifestStore.latest(spark, root).get.version == v1)
    DqStore.merge(spark, root, b, txnId = Some(2L))
    val rep = DqStore.report(spark, root)
      .filter(col("constraint_name") === "not_null:events.user_id")
      .collect().head
    assert(rep.getLong(1) === 2L) // both committed txns counted once each
  }

  test("MemoryStream ingest lands the same counters as direct merges") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq = spark.sqlContext
    val rows = Seq.tabulate(8)(i =>
      (i.toLong, if (i % 2 == 0) 500.0 else 1.0, "click"))
    val direct = freshRoot()
    DqStore.merge(spark, direct, DqStore.eventsAudit(batch(rows: _*)))

    val streamed = freshRoot()
    val ms = MemoryStream[(Long, Double, String)]
    val q = DqStore.mergeStream(spark,
      ms.toDF().toDF("user_id", "value", "event_type")
        .withColumn("ts", lit("2024-01-05").cast("timestamp_ntz")),
      streamed, Files.createTempDirectory("graft-dq-ckpt").toString,
      DqStore.eventsAudit)
    ms.addData(rows.take(3))
    q.processAllAvailable()
    ms.addData(rows.drop(3))
    q.processAllAvailable()
    q.stop()
    def rep(r: String) = DqStore.report(spark, r)
      .as[(String, Long, Long, Long)].collect().toSet
    assert(rep(streamed) == rep(direct))
  }
}
