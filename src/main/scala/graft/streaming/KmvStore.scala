package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** A STANDING distinct-count sketch table: per-group KMV (bottom-k) hash
  * sketches maintained incrementally under [[ManifestStore]] commits — the
  * streaming twin of the one-shot sketches in `q45_kmv_overlap`.
  *
  * Why this exists: a 100 TB pipeline doesn't recompute COUNT(DISTINCT)
  * from raw events; it keeps a tiny mergeable sketch per group and folds
  * each arriving batch into it. KMV merge is LOSSLESS for this purpose —
  * bottom-k(A ∪ B) = bottom-k(bottom-k(A) ∪ bottom-k(B)) — so the
  * incrementally-maintained store is bit-identical to a one-shot build
  * over all the data, which is exactly what the driver gate's relational
  * oracle recomputes. No approximate-merge drift, no RNG: hashes are the
  * deterministic 60-bit md5 prefix ([[graft.functions.Hash60]]).
  *
  * Store layout: one tiny parquet of (group, h) — O(groups · k) rows —
  * rewritten per merge under the [[StandingStore]] protocol.
  */
object KmvStore {

  private val SketchSlot = "sketch"

  val sketchSchema: StructType = StructType(Seq(
    StructField("group", StringType, nullable = false),
    StructField("h", LongType, nullable = false)))

  /** Fold one batch of (group, h) candidate hashes into the store: union
    * with the current sketch, keep the bottom-k per group, commit. The
    * write is O(groups · k) regardless of batch size — the batch itself is
    * reduced to its bottom-k BEFORE touching the store.
    */
  def merge(spark: SparkSession, root: String, batch: DataFrame, k: Int,
            txnId: Option[Long] = None): Unit =
    StandingStore.rewrite(spark, root, SketchSlot, sketchSchema, txnId) {
      (_, current) =>
        val w = Window.partitionBy(col("group")).orderBy(col("h"))
        batch.select(col("group").cast("string"), col("h").cast("long"))
          .union(current).distinct()
          .withColumn("__rn", row_number().over(w))
          .filter(col("__rn") <= k)
          .drop("__rn")
    }

  /** Maintain the sketch table from a STREAM of (group, h) rows: one
    * manifest commit per micro-batch, batch id as the idempotence txn.
    */
  def mergeStream(spark: SparkSession, rows: DataFrame, root: String,
                  k: Int, checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    StandingStore.stream(rows, checkpoint) { (batch, id) =>
      merge(spark, root, batch, k, txnId = Some(id))
    }

  /** Distinct-count estimates off the standing sketches: exact count when
    * a group never filled its k slots, (k-1)·2^60/θ when it did — the same
    * estimator (and the same left-associative double arithmetic) as the
    * one-shot q45 gate, so a SQL oracle reproduces it bit-for-bit.
    */
  def estimates(spark: SparkSession, root: String, k: Int): DataFrame = {
    val Dom = 1L << 60
    ManifestStore.read(spark, root)
      .groupBy(col("group"))
      .agg(count(lit(1)).as("cnt"), max(col("h")).as("hk"))
      .select(col("group"),
        when(col("cnt") < k, col("cnt").cast("double"))
          .otherwise(lit((k - 1).toDouble) * Dom.toDouble
            / col("hk").cast("double")).as("est_distinct"))
  }


  /** Materialize-once fixture: the events table's per-type distinct-user
    * sketches built as TWO merges (even event_ids, then odd) with txn ids —
    * the store the driver gate reads. A replayed second merge (same txn)
    * must be a no-op; the spec asserts that, and the gate's oracle
    * recomputes the one-shot equivalent.
    */
  def materializedEventsKmvDir(spark: SparkSession, sfDir: String,
                               k: Int): String = {
    val root = FixtureLock.root(sfDir, "events_kmv_v1")
    FixtureLock.once(root) {
        val ev = graft.ops.Tables(spark, sfDir, "events")
          .select(col("event_id"), col("event_type").as("group"),
            graft.functions.Hash60(col("user_id").cast("string")).as("h"))
        merge(spark, root.toString,
          ev.filter(col("event_id") % 2 === 0).select("group", "h"),
          k, txnId = Some(1L))
        merge(spark, root.toString,
          ev.filter(col("event_id") % 2 === 1).select("group", "h"),
          k, txnId = Some(2L))
    }
    root.toString
  }
}
