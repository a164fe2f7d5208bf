package graft.streaming

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.SparkSpec
import graft.streaming.Scd2Stream.Change

class CurrentStateStreamSpec extends SparkSpec {

  import spark.implicits._

  private def chg(id: Long, status: String, ver: Int, lsn: Long,
                  op: String = "UPDATE"): Change =
    Change(id, Option(status), Some(ver.toDouble), op, lsn,
      Timestamp.valueOf(f"2024-01-0$ver 00:00:00"))

  /** Stream `batches` into a fresh store; the store's rows (tombstones
    * included) after each batch, as (status, lsn, deleted) per key.
    */
  private def streamed(batches: Seq[Change]*)
      : Seq[Map[Long, (String, Long, Boolean)]] = {
    implicit val sqlCtx = spark.sqlContext
    val base = Files.createTempDirectory("graft-current").toString
    val input = MemoryStream[Change]
    val q = CurrentStateStream.storeStream(input.toDS(), s"$base/store",
      s"$base/ckpt", numBuckets = 4)
    try batches.map { b =>
      input.addData(b)
      q.processAllAvailable()
      ManifestStore.read(spark, s"$base/store")
        .select("id", "status", "log_seq_num", "deleted")
        .as[(Long, String, Long, Boolean)].collect()
        .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    } finally q.stop()
  }

  test("storeStream keeps the newest event and drops LSN regressions") {
    val Seq(s1, s2, s3) = streamed(
      Seq(chg(1, "a", 1, 10), chg(1, "b", 2, 20)),
      // a stale replay (lsn 5) cannot regress the stored row
      Seq(chg(1, "stale", 1, 5)),
      Seq(chg(1, "gone", 3, 30, op = "DELETE")))
    assert(s1(1L) == (("b", 20L, false)))
    assert(s2(1L) == (("b", 20L, false)))
    assert(s3(1L)._3, "a DELETE leaves a tombstone")
  }

  test("streamed current state over micro-batches == batch latest-non-delete") {
    val all = Seq(
      chg(1, "a", 1, 10), chg(2, "x", 1, 15),
      chg(1, "b", 2, 20),
      chg(2, "y", 2, 25, op = "DELETE"),
      chg(3, "solo", 1, 40),
      chg(1, "c", 3, 30))
    val upserted = streamed(all.take(2), all.drop(2)).last
      .collect { case (id, (status, lsn, false)) => (id, status, lsn) }.toSet

    // batch semantics: latest event per key, deletes drop out
    val batch = all.groupBy(_.id)
      .map { case (_, es) => es.maxBy(_.log_seq_num) }
      .filter(_.operation_type != "DELETE")
      .map(e => (e.id, e.status.get, e.log_seq_num)).toSet

    assert(upserted == batch)
    assert(!upserted.exists(_._1 == 2L)) // the deleted key is gone
  }
}
