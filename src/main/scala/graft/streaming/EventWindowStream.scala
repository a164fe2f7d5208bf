package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Tumbling-window aggregation over the `events` table as a REAL
  * Structured-Streaming run — the ST4 surface driver-gated end-to-end
  * (`ev1_stream_hourly`), complementing the append+watermark unit coverage
  * in `WindowedAggSpec`.
  *
  * Shape: the bounded backfill pattern — complete-output windowed agg,
  * each micro-batch's full aggregate overwriting a parquet store via
  * `foreachBatch`, so the final store equals the relational GROUP BY the
  * DuckDB oracle computes. (The unbounded-production twin is append mode
  * with a watermark — that path can't be batch-gated because its tail
  * windows only emit when a LATER event advances the watermark; the spec
  * covers its late-data semantics instead.)
  *
  * Scale shape: state is O(open windows × event types); the one exchange
  * is the hash-by-(window, type) shuffle with map-side partial counts —
  * identical to the batch agg. The event stream is range-split into
  * several files and consumed `maxFilesPerTrigger=2`, so the gate
  * exercises genuine multi-micro-batch state accumulation, not a
  * one-batch degenerate run.
  */
object EventWindowStream {

  /** The windowed aggregate (works on a batch or streaming DataFrame).
    * Money sums ride DECIMAL(18,2) internally (bit-exact cross-engine) and
    * publish as DOUBLE.
    */
  def hourlyAgg(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast(DecimalType(18, 2))).as("sum_value_dec"))


  /** STREAM-STATIC enrichment + APPEND-mode windowed aggregation (the
    * production shape ev1's scaladoc defers): the event stream inner-joins
    * the STATIC customer dimension (no watermark needed on a static side;
    * Spark broadcasts or re-plans it per micro-batch), then aggregates
    * per (1-day window × market segment) with a watermark, emitting each
    * window EXACTLY ONCE when the watermark passes its end. Works on
    * batch or streaming frames.
    */
  def segmentDailyAgg(events: DataFrame, dim: DataFrame): DataFrame =
    events.join(dim, col("user_id") === col("c_custkey"))
      .groupBy(window(col("ts"), "1 day"),
        col("c_mktsegment").as("segment"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast(DecimalType(18, 2))).as("sum_value_dec"))

  /** Run [[segmentDailyAgg]] as a real stream once per sfDir. Append mode
    * needs the tail windows CLOSED before the query stops, so the last
    * chunk is a sentinel event far past max ts (user −1 — it advances the
    * source watermark, then vanishes in the dimension inner join).
    */
  def materializedSegmentDailyDir(spark: SparkSession,
                                  sfDir: String): String = {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val root = FixtureLock.root(sfDir, "events_segment_daily_v1")
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
        val sentinel = events.agg(max(col("ts")).as("mx"))
          .select(lit(-1L).as("event_id"),
            (col("mx") + expr("INTERVAL 30 DAYS")).as("ts"),
            lit(-1L).as("user_id"), lit("click").as("event_type"),
            lit(0.0).as("value"))
        val sentinelDir = root.resolve("chunks_sentinel").toString
        sentinel.coalesce(1).write.mode("overwrite").parquet(sentinelDir)
        Files.list(Paths.get(sentinelDir)).iterator().asScala.toSeq
          .filter(_.getFileName.toString.startsWith("part-"))
          .foreach { p =>
            Files.move(p, Paths.get(chunks, "part-zzz-sentinel.parquet"))
          }
        Files.list(Paths.get(chunks)).iterator().asScala.toSeq
          .filter(_.getFileName.toString.startsWith("part-"))
          .sortBy(_.getFileName.toString)
          .zipWithIndex.foreach { case (p, i) =>
            Files.setLastModifiedTime(p,
              java.nio.file.attribute.FileTime.fromMillis(
                1000000000000L + i * 1000L))
          }
        val dim = graft.ops.Tables(spark, sfDir, "customer")
          .select(col("c_custkey"), col("c_mktsegment"))
        val stream = spark.readStream.schema(events.schema)
          .option("maxFilesPerTrigger", 2).parquet(chunks)
          .withColumn("ts", col("ts").cast("timestamp"))
          .withWatermark("ts", "2 hours")
        val q = segmentDailyAgg(stream, dim).writeStream
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

  /** Materialize the streamed hourly aggregate once per sfDir; returns the
    * store path. Deterministic for any micro-batch split (complete-mode
    * aggregation is split-invariant), so the done-marker only guards cost.
    */
  def materializedHourlyDir(spark: SparkSession, sfDir: String): String = {
    val root = FixtureLock.root(sfDir, "events_hourly_stream")
    val store = root.resolve("store").toString
    FixtureLock.once(root) {
        val events = graft.ops.Tables(spark, sfDir, "events")
          .select(col("ts"), col("event_type"), col("value"))
        val chunks = root.resolve("chunks").toString
        events.repartitionByRange(8, col("ts"))
          .write.mode("overwrite").parquet(chunks)
        val stream = spark.readStream
          .schema(events.schema)
          .option("maxFilesPerTrigger", 2)
          .parquet(chunks)
        val q = hourlyAgg(stream).writeStream
          .outputMode("complete")
          .option("checkpointLocation", root.resolve("ckpt").toString)
          .foreachBatch { (batch: DataFrame, _: Long) =>
            batch.write.mode("overwrite").parquet(store)
          }
          .start()
        q.processAllAvailable()
        q.stop()
    }
    store
  }
}
