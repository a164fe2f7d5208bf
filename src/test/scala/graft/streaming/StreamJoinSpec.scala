package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Stream-stream join semantics beyond the driver-gated inner join
  * (`ev2_stream_attribution`): cross-micro-batch pair formation, and the
  * LEFT OUTER variant's watermark-expiry emission — an unmatched click is
  * held in state until the watermark proves no purchase can still arrive,
  * then emitted with nulls. That timing is unobservable in a batch oracle,
  * so it lives here as a unit surface.
  */
class StreamJoinSpec extends SparkSpec {

  import spark.implicits._

  // offset well past the epoch: the initial watermark is 1970-01-01, and
  // rows at/behind it are dropped as late before they ever reach state
  private def ts(min: Long) = new Timestamp(1704067200000L + min * 60000)

  private def joined(clicks: org.apache.spark.sql.DataFrame,
                     purchases: org.apache.spark.sql.DataFrame,
                     joinType: String) = {
    val c = clicks.withWatermark("ts", "10 minutes")
      .select(col("user_id"), col("event_id").as("click_id"),
        col("ts").as("click_ts"))
    val p = purchases.withWatermark("ts", "10 minutes")
      .select(col("user_id").as("p_user_id"),
        col("event_id").as("purchase_id"), col("ts").as("purchase_ts"))
    c.join(p,
      col("user_id") === col("p_user_id") &&
        col("purchase_ts") >= col("click_ts") &&
        col("purchase_ts") <= col("click_ts") + expr("INTERVAL 30 minutes"),
      joinType)
      .select(col("user_id"), col("click_id"), col("purchase_id"))
  }

  test("inner: pairs form across micro-batches while state is in-window") {
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[(Long, Long, Timestamp)]
    val purchases = MemoryStream[(Long, Long, Timestamp)]
    def df(m: MemoryStream[(Long, Long, Timestamp)]) =
      m.toDS().toDF("user_id", "event_id", "ts")
    val q = joined(df(clicks), df(purchases), "inner")
      .writeStream.format("memory").queryName("ssj_inner")
      .outputMode("append").start()

    clicks.addData((1L, 100L, ts(0)))          // batch 1: click only
    q.processAllAvailable()
    purchases.addData((1L, 200L, ts(20)))      // batch 2: in-window purchase
    q.processAllAvailable()
    purchases.addData((1L, 201L, ts(45)))      // batch 3: outside the 30-min window
    q.processAllAvailable()
    q.stop()

    val got = spark.table("ssj_inner")
      .as[(Long, Long, Long)].collect().toSet
    assert(got == Set((1L, 100L, 200L)), s"got $got")
  }

  test("left outer: unmatched click emits nulls only after the watermark expires it") {
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[(Long, Long, Timestamp)]
    val purchases = MemoryStream[(Long, Long, Timestamp)]
    def df(m: MemoryStream[(Long, Long, Timestamp)]) =
      m.toDS().toDF("user_id", "event_id", "ts")
    val q = joined(df(clicks), df(purchases), "left_outer")
      .writeStream.format("memory").queryName("ssj_outer")
      .outputMode("append").start()

    clicks.addData((1L, 100L, ts(0)), (2L, 101L, ts(0)))
    purchases.addData((1L, 200L, ts(5)))
    q.processAllAvailable()
    // user 2's click is unmatched but must NOT emit yet — a purchase
    // could still arrive inside its 30-minute window
    val early = spark.table("ssj_outer")
      .as[(Long, Long, Option[Long])].collect().toSet
    assert(!early.exists(_._1 == 2L),
      s"unmatched click emitted before watermark expiry: $early")

    // advance BOTH watermarks far past the window + delay horizon
    clicks.addData((9L, 999L, ts(600)))
    purchases.addData((9L, 998L, ts(600)))
    q.processAllAvailable()
    // one more cycle so the expiry batch is committed
    clicks.addData((9L, 997L, ts(1200)))
    purchases.addData((9L, 996L, ts(1200)))
    q.processAllAvailable()
    q.stop()

    val got = spark.table("ssj_outer")
      .as[(Long, Long, Option[Long])].collect().toSet
    assert(got.contains((1L, 100L, Some(200L))))
    assert(got.contains((2L, 101L, None)),
      s"expired unmatched click never emitted with nulls: $got")
  }

  test("attribution fixture chunks arrive in event-time order " +
       "(ascending mtimes pinned by range-partition name)") {
    // FileStreamSource admits files in modification-time order; the
    // materializer stamps ascending mtimes onto the ts-range-ordered part
    // files because a racy parallel-write order once let the watermark
    // jump a low-ts chunk and silently drop 33/371 in-window pairs at
    // sf0.1. This pins the contract on the real fixture.
    StreamJoin.materializedAttributionDir(spark, sfDir)
    val chunks = FixtureLock.root(sfDir, "events_attribution_stream")
      .resolve("chunks")
    val parts = java.nio.file.Files.list(chunks).iterator()
    val sorted = scala.jdk.CollectionConverters.IteratorHasAsScala(parts)
      .asScala.toSeq
      .filter(_.getFileName.toString.startsWith("part-"))
      .sortBy(_.getFileName.toString)
    assert(sorted.size > 1, "expected multiple range chunks")
    val mtimes = sorted.map(p =>
      java.nio.file.Files.getLastModifiedTime(p).toMillis)
    assert(mtimes == mtimes.sorted && mtimes.distinct.size == mtimes.size,
      s"chunk mtimes must strictly ascend in range order: $mtimes")
  }
}
