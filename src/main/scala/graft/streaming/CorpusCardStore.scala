package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** A STANDING dataset-card table: the streaming twin of the one-shot
  * `cur18_dataset_card` gate, restricted to its ADDITIVE fields — total
  * docs/chars/tokens plus per-language and per-source document counts,
  * folded forward micro-batch by micro-batch.
  *
  * Why this exists: a live training-data lake needs its release card
  * (what's in here, in what languages, from what sources) continuously,
  * and every field here is a SUM — so folding each batch's card cells
  * into an O(|langs| + |sources|) table is LOSSLESS: the standing card is
  * bit-identical to recomputing over everything ingested, and reading it
  * never touches the corpus. (The card's non-additive fields — duplicate
  * mass, median length — belong to the dedup store and histogram store
  * respectively; this store deliberately carries only what merges
  * exactly.)
  *
  * Store mechanics: [[StandingStore]] (one tiny parquet rewritten per
  * merge).
  */
object CorpusCardStore {

  private val CellsSlot = "cells"

  val cellSchema: StructType = StructType(Seq(
    StructField("dim", StringType, nullable = false),
    StructField("key", StringType, nullable = false),
    StructField("n", LongType, nullable = false)))

  /** One batch of `documents` rows → its additive card cells. */
  def cardOf(docs: DataFrame): DataFrame = {
    val base = docs.select(col("lang"), col("source"), col("n_chars"),
      graft.text.TextFunctions.tokenCount(col("text")).cast("long")
        .as("t"))
    val totals = base.agg(count(lit(1)).as("docs"),
        sum(col("n_chars")).as("chars"), sum(col("t")).as("tokens"))
      .select(explode(map(
        lit("docs"), col("docs"), lit("chars"), col("chars"),
        lit("tokens"), col("tokens"))).as(Seq("key", "n")))
      .select(lit("total").as("dim"), col("key"), col("n"))
    val langs = base.groupBy(col("lang").as("key"))
      .agg(count(lit(1)).as("n")).select(lit("lang").as("dim"),
        col("key"), col("n"))
    val sources = base.groupBy(col("source").as("key"))
      .agg(count(lit(1)).as("n")).select(lit("source").as("dim"),
        col("key"), col("n"))
    totals.unionByName(langs).unionByName(sources)
  }

  /** Fold one batch's card cells into the store: union with the current
    * cells, SUM per (dim, key), commit.
    */
  def merge(spark: SparkSession, root: String, cells: DataFrame,
            txnId: Option[Long] = None): Unit =
    StandingStore.rewrite(spark, root, CellsSlot, cellSchema, txnId) {
      (_, current) =>
        cells
          .select(col("dim").cast("string"), col("key").cast("string"),
            col("n").cast("long"))
          .unionByName(current)
          .groupBy(col("dim"), col("key"))
          .agg(sum(col("n")).as("n"))
    }

  /** Maintain the card from a STREAM of document rows: one manifest
    * commit per micro-batch, batch id as the idempotence txn.
    */
  def mergeStream(spark: SparkSession, rows: DataFrame, root: String,
                  checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    StandingStore.stream(rows, checkpoint) { (batch, id) =>
      merge(spark, root, cardOf(batch), txnId = Some(id))
    }

  /** The standing card, totally ordered. */
  def report(spark: SparkSession, root: String): DataFrame =
    ManifestStore.read(spark, root)
      .select(col("dim"), col("key"), col("n"))
      .orderBy(col("dim"), col("key"))

  /** Materialize-once fixture: the documents card built as TWO merges
    * (even doc_ids, then odd) with txn ids — additive cells, so the
    * standing card must equal the one-shot recompute the oracle runs.
    */
  def materializedDocsCardDir(spark: SparkSession, sfDir: String): String = {
    val root = FixtureLock.root(sfDir, "docs_card_v1")
    FixtureLock.once(root) {
        val docs = graft.ops.Tables(spark, sfDir, "documents")
        merge(spark, root.toString,
          cardOf(docs.filter(col("doc_id") % 2 === 0)), txnId = Some(1L))
        merge(spark, root.toString,
          cardOf(docs.filter(col("doc_id") % 2 === 1)), txnId = Some(2L))
    }
    root.toString
  }
}
