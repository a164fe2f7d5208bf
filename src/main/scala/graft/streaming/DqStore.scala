package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** A STANDING data-quality counter table: the streaming twin of the
  * one-shot `dq2_constraint_audit` gate — per-constraint (n_checked,
  * n_violations) counters folded forward micro-batch by micro-batch.
  *
  * Why this exists: at 100 TB you cannot re-audit the corpus per check;
  * violation COUNTERS are additive (merge = SUM per constraint), so
  * folding each micro-batch's audit rows into an O(|constraints|) table
  * is LOSSLESS — the standing report is bit-identical to a one-shot audit
  * over everything ingested, and reading it costs O(|constraints|).
  *
  * Store mechanics: [[StandingStore]] (one tiny parquet rewritten per
  * merge).
  */
object DqStore {

  private val CellsSlot = "cells"

  val cellSchema: StructType = StructType(Seq(
    StructField("constraint_name", StringType, nullable = false),
    StructField("n_checked", LongType, nullable = false),
    StructField("n_violations", LongType, nullable = false)))

  /** Fold one batch's audit rows (constraint_name, n_checked,
    * n_violations — e.g. `quality.DataQuality.audit` output without the
    * pass flag) into the store: union with current counters, SUM per
    * constraint, commit.
    */
  def merge(spark: SparkSession, root: String, auditRows: DataFrame,
            txnId: Option[Long] = None): Unit =
    StandingStore.rewrite(spark, root, CellsSlot, cellSchema, txnId) {
      (_, current) =>
        auditRows
          .select(col("constraint_name").cast("string"),
            col("n_checked").cast("long"), col("n_violations").cast("long"))
          .unionByName(current)
          .groupBy(col("constraint_name"))
          .agg(sum(col("n_checked")).as("n_checked"),
            sum(col("n_violations")).as("n_violations"))
    }

  /** Maintain the counters from a STREAM of raw rows: per micro-batch,
    * run `auditOf` over the batch and fold the resulting counter rows in
    * (one manifest commit per batch, batch id as the idempotence txn).
    */
  def mergeStream(spark: SparkSession, rows: DataFrame, root: String,
                  checkpoint: String, auditOf: DataFrame => DataFrame)
      : org.apache.spark.sql.streaming.StreamingQuery =
    StandingStore.stream(rows, checkpoint) { (batch, id) =>
      merge(spark, root, auditOf(batch), txnId = Some(id))
    }

  /** The standing report: counters + the pass flag, totally ordered. */
  def report(spark: SparkSession, root: String): DataFrame =
    ManifestStore.read(spark, root)
      .select(col("constraint_name"), col("n_checked"), col("n_violations"),
        (col("n_violations") === 0).cast("long").as("passed"))
      .orderBy(col("constraint_name"))

  /** The events-table audit rules used by the fixture, the gate oracle,
    * and the spec — one failing range rule with real violation mass plus
    * three passing rules.
    */
  def eventsAudit(batch: DataFrame): DataFrame = {
    import graft.quality.DataQuality
    DataQuality.audit(Seq(
      DataQuality.predicateRule("range:events.value in [0,100]", batch,
        col("value") < 0 || col("value") > 100),
      DataQuality.predicateRule(
        "domain:events.event_type in {view,click,purchase,signup,error}",
        batch, !col("event_type").isin(
          "view", "click", "purchase", "signup", "error")),
      DataQuality.predicateRule("not_null:events.user_id", batch,
        col("user_id").isNull),
      DataQuality.predicateRule("freshness:events.ts >= 2024-01-01", batch,
        col("ts") < lit("2024-01-01").cast("timestamp_ntz"))))
      .drop("passed")
  }

  /** Materialize-once fixture: the events audit counters built as TWO
    * merges (even event_ids, then odd) with txn ids — additive counters,
    * so the standing report must equal the one-shot audit the oracle
    * recomputes. The spec additionally proves MemoryStream ingest ≡
    * direct merges and the replay no-op.
    */
  def materializedEventsDqDir(spark: SparkSession, sfDir: String): String = {
    val root = FixtureLock.root(sfDir, "events_dq_v1")
    FixtureLock.once(root) {
        val ev = graft.ops.Tables(spark, sfDir, "events")
        merge(spark, root.toString,
          eventsAudit(ev.filter(col("event_id") % 2 === 0)),
          txnId = Some(1L))
        merge(spark, root.toString,
          eventsAudit(ev.filter(col("event_id") % 2 === 1)),
          txnId = Some(2L))
    }
    root.toString
  }
}
