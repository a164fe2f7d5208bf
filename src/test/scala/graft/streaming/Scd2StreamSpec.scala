package graft.streaming

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.SparkSpec
import graft.streaming.Scd2Stream.Change

class Scd2StreamSpec extends SparkSpec {

  import spark.implicits._

  private def ts(s: Long) = new Timestamp(s * 1000)

  private def chg(id: Long, st: String, lsn: Long, t: Long) =
    Change(id, Option(st), Some(lsn * 1.0), "UPDATE", lsn, ts(t))

  test("foldKey: versions chain and re-emit open version") {
    val out = Scd2Stream.foldKey(1L,
      Seq(chg(1, "a", 1, 10), chg(1, "b", 2, 20)), None)
    assert(out.map(v => (v.row_valid_start_timestamp,
      v.row_valid_expiration_timestamp, v.closed)) == Seq(
      (ts(10), ts(20), true),
      (ts(20), Scd2Stream.sentinel, false)))
    val open = out.find(!_.closed)
    assert(open.get.lsn == 2)

    // Second batch continues from the stored open row; stale LSN is dropped.
    val out2 = Scd2Stream.foldKey(1L,
      Seq(chg(1, "stale", 1, 5), chg(1, "c", 3, 30)), open)
    assert(out2.map(v => (v.status, v.closed)) == Seq(
      (Some("b"), true), (Some("c"), false)))
    assert((out.filter(_.closed) ++ out2).size == 3)

    // A batch of only stale events leaves the open row as stored.
    assert(Scd2Stream.foldKey(1L, Seq(chg(1, "stale", 2, 5)), open) ==
      open.toSeq)
  }

  test("streamed versions over micro-batches == batch SCD2 (closed ∪ final open)") {
    implicit val sqlCtx = spark.sqlContext
    val base = Files.createTempDirectory("graft-scd2-stream").toString
    val input = MemoryStream[Change]
    val q = Scd2Stream.dimensionStream(input.toDS(), s"$base/dim",
      s"$base/ckpt", numBuckets = 4)

    val all = Seq(
      chg(1, "a", 1, 10), chg(1, "b", 2, 20),
      chg(2, "x", 1, 15),
      chg(2, "y", 2, 25), chg(1, "c", 3, 30),
      chg(3, "solo", 1, 40))
    input.addData(all.take(3))
    q.processAllAvailable()
    input.addData(all.drop(3))
    q.processAllAvailable()
    q.stop()

    val latest = Scd2Stream.readDimension(spark, s"$base/dim").collect().toSeq

    val batch = Scd2Stream.batchEquivalent(spark, all.toDS())
      .orderBy("id", "row_valid_start_timestamp")
      .collect().map(r => (r.getLong(0), r.getTimestamp(3), r.getTimestamp(4)))

    // Batch publishes only multi-event keys; streamed rows restricted to
    // those keys must agree on (id, start, expiration).
    val multiKeys = batch.map(_._1).toSet
    val streamedCmp = latest.filter(v => multiKeys.contains(v.id))
      .map(v => (v.id, v.row_valid_start_timestamp,
        v.row_valid_expiration_timestamp))
      .sortBy(t => (t._1, t._2.getTime))
    assert(streamedCmp == batch.toSeq)

    // The single-event key appears (open) in the stream, by design.
    assert(latest.exists(v => v.id == 3L && !v.closed))
  }
}
