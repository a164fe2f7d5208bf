package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** SESSION-window aggregation over the `events` table as a REAL
  * Structured-Streaming run — the gap-based sibling of
  * [[EventWindowStream]]'s tumbling gate: Spark's native `session_window`
  * merges an event into the current per-user session while it lands
  * strictly inside the previous event's `[ts, ts+gap)` extension, i.e. a
  * NEW session starts when the gap to the previous event is ≥ `gap` —
  * exactly the gaps-and-islands grouping the DuckDB oracle computes.
  *
  * Shape: the bounded backfill pattern (complete-output agg, each
  * micro-batch overwriting the parquet store via foreachBatch) — session
  * state without a watermark is only admissible in complete mode, which
  * is also what makes the final store equal the relational recompute.
  * Scale shape: state is O(open sessions); the exchange is hash-by-
  * (user, session) with Spark's dedicated session-merge state store; the
  * stream is consumed `maxFilesPerTrigger=2` over 8 range-split chunks,
  * so sessions genuinely MERGE across micro-batch boundaries (an event
  * arriving in batch k can extend a session opened in batch k−1).
  *
  * Event time: the testdata's TIMESTAMP_NTZ is cast to TIMESTAMP at the
  * stream source (session_window needs event-time) and the session
  * bounds cast back to NTZ at the gate output — lossless in the UTC
  * session.
  */
object SessionWindowStream {

  val Gap = "30 minutes"

  /** Per-(user, session) aggregate (works on a batch or streaming frame):
    * session bounds as the observed min/max event ts (not the gap-extended
    * window end), plus the event count.
    */
  def sessionAgg(events: DataFrame): DataFrame =
    events
      .withColumn("ts", col("ts").cast("timestamp"))
      .groupBy(session_window(col("ts"), Gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        min(col("ts")).as("session_start"),
        max(col("ts")).as("session_last"))
      .select(col("user_id"), col("session_start"), col("session_last"),
        col("n_events"))


  /** Materialize the streamed session table once per sfDir; returns the
    * store path. Complete-mode session aggregation is split-invariant, so
    * the done-marker only guards cost.
    */
  def materializedSessionsDir(spark: SparkSession, sfDir: String): String = {
    val root = FixtureLock.root(sfDir, "events_session_stream")
    val store = root.resolve("store").toString
    FixtureLock.once(root) {
        val events = graft.ops.Tables(spark, sfDir, "events")
          .select(col("ts"), col("user_id"))
        val chunks = root.resolve("chunks").toString
        events.repartitionByRange(8, col("ts"))
          .write.mode("overwrite").parquet(chunks)
        val stream = spark.readStream
          .schema(events.schema)
          .option("maxFilesPerTrigger", 2)
          .parquet(chunks)
        val q = sessionAgg(stream).writeStream
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
