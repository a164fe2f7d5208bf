package graft.streaming

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Watermarked STREAM-STREAM interval join — the last core Structured
  * Streaming shape in the engine's coverage (alongside windowed aggs,
  * session windows, and dedup): click→purchase attribution,
  * `purchase.ts ∈ [click.ts, click.ts + attributionWindow]` per user.
  *
  * Why this exact shape: an inner stream-stream join is only bounded if
  * BOTH sides carry a watermark and the join condition bounds event time
  * on both sides — Spark then sizes each side's state to the attribution
  * window + watermark delay and evicts behind it. Without the time bound
  * the state is infinite (Spark rejects it in append mode).
  *
  * Deterministic for any micro-batch split: an inner join emits a pair
  * exactly once, whenever both sides have arrived, and the generous
  * watermark delay guarantees no in-window match is ever evicted early —
  * so the final appended store equals the batch interval join
  * bit-for-bit, which is what the `ev2_stream_attribution` gate asserts
  * against the DuckDB oracle.
  *
  * Scale shape: one hash exchange per side on `user_id` (the equi-key);
  * state per side is O(events inside watermark horizon), not O(stream).
  */
object StreamJoin {

  /** The attribution join (works on batch or streaming frames). */
  def attribution(clicks: DataFrame, purchases: DataFrame,
                  attributionWindow: String = "1 hour"): DataFrame = {
    val c = clicks.select(col("user_id"),
      col("event_id").as("click_id"), col("ts").as("click_ts"))
    val p = purchases.select(col("user_id").as("p_user_id"),
      col("event_id").as("purchase_id"), col("ts").as("purchase_ts"),
      col("value"))
    c.join(p,
      col("user_id") === col("p_user_id") &&
        col("purchase_ts") >= col("click_ts") &&
        col("purchase_ts") <= col("click_ts") + expr(s"INTERVAL $attributionWindow"))
      .select(col("user_id"), col("click_id"), col("purchase_id"),
        col("purchase_ts"), col("value"))
  }


  /** LEFT OUTER attribution: every click, matched purchases within the
    * window, and a NULL-purchase row for clicks that converted nothing —
    * the unanswered-clicks report an inner join cannot produce. On
    * streams this is the genuinely harder shape: Spark holds each click
    * until the PURCHASE-side watermark passes its window's end and only
    * then emits the NULL row (an unmatched result is a claim about data
    * that never arrived, which is only safe behind the watermark).
    */
  def leftOuterAttribution(clicks: DataFrame, purchases: DataFrame,
                           attributionWindow: String = "1 hour"): DataFrame = {
    val c = clicks.select(col("user_id"),
      col("event_id").as("click_id"), col("ts").as("click_ts"))
    val p = purchases.select(col("user_id").as("p_user_id"),
      col("event_id").as("purchase_id"), col("ts").as("purchase_ts"),
      col("value"))
    c.join(p,
      col("user_id") === col("p_user_id") &&
        col("purchase_ts") >= col("click_ts") &&
        col("purchase_ts") <= col("click_ts") +
          expr(s"INTERVAL $attributionWindow"),
      "left_outer")
      .select(col("user_id"), col("click_id"), col("click_ts"),
        col("purchase_id"), col("value"))
  }

  /** Run the LEFT OUTER attribution as a real two-stream job once per
    * sfDir. Same chunked-arrival setup as the inner fixture, plus the one
    * piece outer joins need: a SENTINEL event far past the data's max
    * event time appended as the LAST chunk, so the watermark provably
    * passes every real click's window and the final unmatched rows flush
    * before the query stops (without it, the tail clicks' NULL rows stay
    * in state forever — `processAllAvailable` does not close windows).
    * Sentinel rows carry user_id −1 and are excluded from the store.
    */
  def materializedOuterAttributionDir(spark: SparkSession,
                                      sfDir: String): String = {
    import java.nio.file.{Files, Paths}
    val root = FixtureLock.root(sfDir, "events_outer_attribution_v1")
    val store = root.resolve("store").toString
    FixtureLock.once(root) {
        Seq("ckpt", "store", "chunks").foreach { d =>
          org.apache.commons.io.FileUtils.deleteQuietly(
            root.resolve(d).toFile)
        }
        val events = graft.ops.Tables(spark, sfDir, "events")
          .select(col("event_id"), col("ts"), col("user_id"),
            col("event_type"), col("value"))
        val chunks = root.resolve("chunks").toString
        events.repartitionByRange(8, col("ts"))
          .write.mode("overwrite").parquet(chunks)
        // the watermark-advancing sentinel: one click + one purchase 30
        // days past max ts, written as their own part file
        val sentinel = events.agg(max(col("ts")).as("mx"))
          .select(explode(array(
            struct(lit(-1L).as("event_id"),
              (col("mx") + expr("INTERVAL 30 DAYS")).as("ts"),
              lit(-1L).as("user_id"), lit("click").as("event_type"),
              lit(0.0).as("value")),
            struct(lit(-2L).as("event_id"),
              (col("mx") + expr("INTERVAL 30 DAYS")).as("ts"),
              lit(-1L).as("user_id"), lit("purchase").as("event_type"),
              lit(0.0).as("value")))).as("r"))
          .select(col("r.*"))
        val sentinelDir = root.resolve("chunks_sentinel").toString
        sentinel.coalesce(1).write.mode("overwrite").parquet(sentinelDir)
        Files.list(Paths.get(sentinelDir)).iterator().asScala.toSeq
          .filter(_.getFileName.toString.startsWith("part-"))
          .foreach { p =>
            Files.move(p, Paths.get(chunks, "part-zzz-sentinel.parquet"))
          }
        // arrival order = event-time order (see the inner fixture's
        // mtime note); the sentinel sorts and stamps LAST
        Files.list(Paths.get(chunks)).iterator().asScala.toSeq
          .filter(_.getFileName.toString.startsWith("part-"))
          .sortBy(_.getFileName.toString)
          .zipWithIndex.foreach { case (p, i) =>
            Files.setLastModifiedTime(p,
              java.nio.file.attribute.FileTime.fromMillis(
                1000000000000L + i * 1000L))
          }
        def src() = spark.readStream.schema(events.schema)
          .option("maxFilesPerTrigger", 2).parquet(chunks)
          .withColumn("ts", col("ts").cast("timestamp"))
        val clicks = src().filter(col("event_type") === "click")
          .withWatermark("ts", "2 hours")
        val purchases = src().filter(col("event_type") === "purchase")
          .withWatermark("ts", "2 hours")
        val q = leftOuterAttribution(clicks, purchases).writeStream
          .outputMode("append")
          .option("checkpointLocation", root.resolve("ckpt").toString)
          .foreachBatch { (batch: DataFrame, _: Long) =>
            batch.filter(col("user_id") >= 0)
              .write.mode("append").parquet(store)
          }
          .start()
        q.processAllAvailable()
        q.stop()
    }
    store
  }

  /** Run the attribution join as a REAL two-stream job once per sfDir and
    * return the result store path. The events table is range-split into
    * chunk files consumed `maxFilesPerTrigger=2`, so clicks and purchases
    * genuinely arrive across multiple micro-batches and pairs form across
    * batch boundaries (state-matched), not within one degenerate batch.
    */
  def materializedAttributionDir(spark: SparkSession, sfDir: String): String = {
    import java.nio.file.{Files, Paths}
    val root = FixtureLock.root(sfDir, "events_attribution_stream")
    val store = root.resolve("store").toString
    FixtureLock.once(root) {
        // a crashed earlier build leaves a checkpoint whose resume could
        // re-run the last batch into the plain-append store (duplicates)
        // or skip its output (losses) — without _DONE the partial state is
        // worthless, so always rebuild from scratch
        Seq("ckpt", "store", "chunks").foreach { d =>
          org.apache.commons.io.FileUtils.deleteQuietly(
            root.resolve(d).toFile)
        }
        val events = graft.ops.Tables(spark, sfDir, "events")
          .select(col("event_id"), col("ts"), col("user_id"),
            col("event_type"), col("value"))
        val chunks = root.resolve("chunks").toString
        events.repartitionByRange(8, col("ts"))
          .write.mode("overwrite").parquet(chunks)
        // FileStreamSource admits files in MODIFICATION-TIME order, and the
        // 8 range chunks finish writing in racy parallel order. If a
        // high-ts chunk lands first, the watermark jumps past an unwritten
        // low-ts chunk and its pairs are dropped as late — a build-time
        // coin flip (it cost 33/371 pairs at sf0.1 once). Pin the arrival
        // order to the ts order: part-file NAMES follow the range-partition
        // order, so stamp ascending mtimes by name.
        Files.list(Paths.get(chunks)).iterator().asScala.toSeq
          .filter(_.getFileName.toString.startsWith("part-"))
          .sortBy(_.getFileName.toString)
          .zipWithIndex.foreach { case (p, i) =>
            Files.setLastModifiedTime(p,
              java.nio.file.attribute.FileTime.fromMillis(1000000000000L + i * 1000L))
          }
        // watermarks demand TIMESTAMP (not NTZ); the session runs UTC so
        // the cast is a wall-clock no-op, and the gate casts back to NTZ
        def src() = spark.readStream.schema(events.schema)
          .option("maxFilesPerTrigger", 2).parquet(chunks)
          .withColumn("ts", col("ts").cast("timestamp"))
        // watermark delay must cover the attribution window plus chunk
        // skew, or a late-arriving purchase's click may be evicted; the
        // fixture spans days, so "2 hours" is generous and still bounds
        // state
        val clicks = src().filter(col("event_type") === "click")
          .withWatermark("ts", "2 hours")
        val purchases = src().filter(col("event_type") === "purchase")
          .withWatermark("ts", "2 hours")
        val q = attribution(clicks, purchases).writeStream
          .outputMode("append")
          .option("checkpointLocation", root.resolve("ckpt").toString)
          .foreachBatch { (batch: DataFrame, _: Long) =>
            batch.write.mode("append").parquet(store)
          }
          .start()
        q.processAllAvailable()
        q.stop()
    }
    store
  }
}
