package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}

/** A STANDING weighted sample: the top-(K+1) priority-sampling rows
  * (Duffield–Lund–Thorup) maintained incrementally under [[ManifestStore]]
  * commits — the streaming twin of the one-shot `q46_priority_sample` gate.
  *
  * Why this exists: a training-data pipeline that wants "a fixed-size
  * weighted sample of everything ingested so far" cannot re-scan the corpus
  * per refresh. Priority sampling is MERGEABLE: top-k(A ∪ B) =
  * top-k(top-k(A) ∪ top-k(B)), so folding each micro-batch's top-(K+1)
  * into a K+1-row store is bit-identical to one-shot sampling over all the
  * data — which is exactly what the driver gate's relational oracle
  * recomputes. Keeping K+1 rows (not K) preserves the threshold τ that
  * makes the estimator ŵ_i = max(w_i, τ) unbiased for subset sums.
  *
  * Determinism: priorities are w/u with u ∈ (0,1] derived from the 60-bit
  * md5 hash of the row id — two correctly-rounded IEEE divisions, no RNG,
  * no libm — so both engines rank identical doubles.
  *
  * Store layout: one tiny parquet of (id, weight, priority) — K+1 rows —
  * rewritten per merge under the [[StandingStore]] protocol.
  */
object PrioritySampleStore {

  private val SampleSlot = "sample"

  val rowSchema: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("weight", DoubleType, nullable = false),
    StructField("priority", DoubleType, nullable = false)))

  /** Deterministic priority column: weight / u(id). */
  def priorityOf(id: org.apache.spark.sql.Column,
                 weight: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    weight / ((graft.functions.Hash60(id.cast("string")) + lit(1L))
      .cast("double") / lit((1L << 60).toDouble))

  /** Fold one batch of (id, weight, priority) rows into the store: union
    * with the current sample, keep the K+1 largest priorities, commit.
    * The batch is reduced to ITS top-(K+1) before touching the store, so
    * the write is O(K) regardless of batch size.
    */
  def merge(spark: SparkSession, root: String, batch: DataFrame, k: Int,
            txnId: Option[Long] = None): Unit =
    StandingStore.rewrite(spark, root, SampleSlot, rowSchema, txnId) {
      (_, current) =>
        val batchTop = batch
          .select(col("id").cast("long"), col("weight").cast("double"),
            col("priority").cast("double"))
          .orderBy(col("priority").desc, col("id")).limit(k + 1)
        // bounded global window: union of two ≤(K+1)-row sides
        val w = Window.orderBy(col("priority").desc, col("id"))
        batchTop.union(current)
          .withColumn("__rn", row_number().over(w))
          .filter(col("__rn") <= k + 1)
          .drop("__rn")
    }

  /** Maintain the sample from a STREAM of (id, weight, priority) rows:
    * one manifest commit per micro-batch, batch id as the idempotence txn.
    */
  def mergeStream(spark: SparkSession, rows: DataFrame, root: String,
                  k: Int, checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    StandingStore.stream(rows, checkpoint) { (batch, id) =>
      merge(spark, root, batch, k, txnId = Some(id))
    }

  /** The current sample: top-K rows ranked by priority, with the unbiased
    * subset-sum estimate ŵ = max(w, τ) from the (K+1)th priority (τ = 0
    * when the store never saturated — every weight is then exact).
    */
  def sample(spark: SparkSession, root: String, k: Int): DataFrame = {
    val w = Window.orderBy(col("priority").desc, col("id"))
    val ranked = ManifestStore.read(spark, root)
      .withColumn("rank", row_number().over(w))
    val tau = ranked.filter(col("rank") === k + 1)
      .select(col("priority").as("tau"))
    ranked.filter(col("rank") <= k)
      .join(broadcast(tau), lit(true), "left")
      .select(col("rank"), col("id"), col("weight"),
        greatest(col("weight"), coalesce(col("tau"), lit(0.0)))
          .as("est_weight"))
  }


  /** Materialize-once fixture: a standing weighted sample of the events
    * table (weight = `value`), built as TWO merges (even event_ids, then
    * odd) with txn ids — the store the driver gate reads. Mergeability
    * makes it bit-identical to one-shot priority sampling over all events,
    * which the gate's oracle recomputes relationally.
    */
  def materializedEventsPriorityDir(spark: SparkSession, sfDir: String,
                                    k: Int): String = {
    val root = FixtureLock.root(sfDir, "events_priority_v1")
    FixtureLock.once(root) {
        val ev = graft.ops.Tables(spark, sfDir, "events")
          .select(col("event_id").as("id"), col("value").as("weight"))
          .withColumn("priority", priorityOf(col("id"), col("weight")))
        merge(spark, root.toString, ev.filter(col("id") % 2 === 0),
          k, txnId = Some(1L))
        merge(spark, root.toString, ev.filter(col("id") % 2 === 1),
          k, txnId = Some(2L))
    }
    root.toString
  }
}
