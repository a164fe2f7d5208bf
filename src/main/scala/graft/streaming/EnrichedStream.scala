package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** STREAM–STATIC join enrichment as a real Structured-Streaming run — the
  * remaining streaming join shape next to ev2's stream–stream interval
  * join: each micro-batch of the event stream joins the STATIC customer
  * dimension (the lookup-table pattern every production stream runs), then
  * feeds a complete-mode aggregate per (market segment, event type).
  *
  * Scale shape: the dimension rides the join as a BROADCAST — re-resolved
  * per micro-batch by Structured Streaming, never shuffled, which is
  * exactly how a dimension enrichment should behave on a 1000-executor
  * stream (state stays O(segments × types) in the agg, the stream side
  * never repartitions for the join). The event stream is range-split into
  * chunk files consumed `maxFilesPerTrigger=2` — genuine multi-micro-batch
  * accumulation, not a one-batch degenerate run. Money sums ride
  * DECIMAL(18,2) (bit-exact cross-engine), published as DOUBLE.
  */
object EnrichedStream {

  /** The enriched aggregate (works on batch or streaming `events`). */
  def segmentAgg(events: DataFrame, dim: DataFrame): DataFrame =
    events.join(broadcast(dim), col("user_id") === col("c_custkey"))
      .groupBy(col("c_mktsegment"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast(DecimalType(18, 2))).as("sum_value_dec"))


  /** Materialize the streamed enriched aggregate once per sfDir; returns
    * the store path. Complete-mode aggregation is micro-batch-split
    * invariant, so the done-marker only guards cost.
    */
  def materializedSegmentDir(spark: SparkSession, sfDir: String): String = {
    val root = FixtureLock.root(sfDir, "events_enriched_stream")
    val store = root.resolve("store").toString
    FixtureLock.once(root) {
        val events = graft.ops.Tables(spark, sfDir, "events")
          .select(col("ts"), col("user_id"), col("event_type"), col("value"))
        val dim = graft.ops.Tables(spark, sfDir, "customer")
          .select(col("c_custkey"), col("c_mktsegment"))
        val chunks = root.resolve("chunks").toString
        events.repartitionByRange(8, col("ts"))
          .write.mode("overwrite").parquet(chunks)
        val stream = spark.readStream
          .schema(events.schema)
          .option("maxFilesPerTrigger", 2)
          .parquet(chunks)
        val q = segmentAgg(stream, dim).writeStream
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
