package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** A STANDING per-(group, bin) histogram-cell table: the additive
  * aggregate store behind CONTINUOUS distribution-drift monitoring — the
  * streaming twin of the one-shot `q47_drift_tvd` gate.
  *
  * Why this exists: recomputing a reference-vs-current histogram from raw
  * events per drift check is a full scan per check. Counter cells are the
  * easiest mergeable summary there is — merge = SUM per key — so folding
  * each micro-batch's cells into an O(groups·bins) table is LOSSLESS:
  * the incrementally-maintained store is bit-identical to a one-shot
  * aggregation over all the data, and any TVD/χ²/PSI readout is
  * O(groups·bins), corpus never touched.
  *
  * Bin edges are FROZEN AT STORE CREATION (manifest metadata `__mn`/
  * `__mx`/`__bins`) — the production contract: edges come from the
  * reference snapshot's range, and every later batch bins against the
  * same edges or the histograms would not be comparable. Values outside
  * the frozen range clamp into the edge bins.
  *
  * Store layout: one tiny parquet of (group, bin, c_ref, c_cur),
  * rewritten per merge under the [[StandingStore]] protocol.
  */
object HistogramStore {

  private val CellsSlot = "cells"
  private val MinSlot = "__mn"
  private val MaxSlot = "__mx"
  private val BinsSlot = "__bins"

  val cellSchema: StructType = StructType(Seq(
    StructField("group", StringType, nullable = false),
    StructField("bin", LongType, nullable = false),
    StructField("c_ref", LongType, nullable = false),
    StructField("c_cur", LongType, nullable = false)))

  /** Create the store: freeze the bin edges into manifest metadata. */
  def create(spark: SparkSession, root: String, mn: Double, mx: Double,
             bins: Int): Unit = {
    val version = ManifestStore.versionAfter(ManifestStore.latest(spark, root))
    require(version == 1, s"store at $root already exists")
    ManifestStore.commit(spark, root, version,
      Map(MinSlot -> mn.toString, MaxSlot -> mx.toString,
        BinsSlot -> bins.toString))
  }

  /** The frozen (mn, mx, bins) config. */
  def config(spark: SparkSession, root: String): (Double, Double, Int) =
    configOf(ManifestStore.latest(spark, root).getOrElse(
      throw new IllegalStateException(s"no store at $root")).entries)

  private def configOf(e: Map[String, String]): (Double, Double, Int) =
    (e(MinSlot).toDouble, e(MaxSlot).toDouble, e(BinsSlot).toInt)

  /** Bin a raw batch of (group, is_ref, value) rows against the frozen
    * edges and fold the resulting cells into the store: union with the
    * current cells, SUM per (group, bin), commit. The batch is reduced to
    * O(groups·bins) cells BEFORE touching the store.
    */
  def merge(spark: SparkSession, root: String, batch: DataFrame,
            txnId: Option[Long] = None): Unit =
    StandingStore.rewrite(spark, root, CellsSlot, cellSchema, txnId,
        requireStore = true) { (entries, current) =>
      val (mn, mx, bins) = configOf(entries)
      val binned = batch.select(col("group").cast("string"),
          col("is_ref").cast("boolean").as("is_ref"),
          greatest(least(floor((col("value").cast("double") - lit(mn)) /
            (lit(mx) - lit(mn)) * bins).cast("long"),
            lit(bins - 1L)), lit(0L)).as("bin"))
        .groupBy(col("group"), col("bin"))
        .agg(sum(when(col("is_ref"), 1L).otherwise(0L)).as("c_ref"),
          sum(when(col("is_ref"), 0L).otherwise(1L)).as("c_cur"))
      binned.unionByName(current)
        .groupBy(col("group"), col("bin"))
        .agg(sum(col("c_ref")).as("c_ref"), sum(col("c_cur")).as("c_cur"))
    }

  /** Maintain the cells from a STREAM of (group, is_ref, value) rows. */
  def mergeStream(spark: SparkSession, rows: DataFrame, root: String,
                  checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    StandingStore.stream(rows, checkpoint) { (batch, id) =>
      merge(spark, root, batch, txnId = Some(id))
    }

  /** Raw cells (empty frame with the cell schema before the first merge). */
  def cells(spark: SparkSession, root: String): DataFrame =
    StandingStore.read(spark, root, cellSchema)

  /** Per-group total-variation distance off the standing cells — same
    * grid-quantized |p−q| arithmetic as the one-shot q47 gate, O(cells).
    */
  def tvd(spark: SparkSession, root: String): DataFrame = {
    val G = 1048576L
    val cs = cells(spark, root)
    val totals = cs.groupBy(col("group"))
      .agg(sum(col("c_ref")).as("na"), sum(col("c_cur")).as("nb"))
    cs.join(totals, Seq("group"))
      .select(col("group"), col("na"), col("nb"),
        (round(abs(col("c_ref").cast("double") / col("na").cast("double") -
          col("c_cur").cast("double") / col("nb").cast("double")) * G, 0) / G)
          .as("d"))
      .groupBy(col("group"))
      .agg(first(col("na")).as("n_a"), first(col("nb")).as("n_b"),
        (sum(col("d")) / 2.0).as("tvd"))
  }

  /** Per-group Kolmogorov–Smirnov statistic off the standing cells:
    * max |cumF_ref − cumF_cur| over bin edges — the O(cells) sketch of the
    * exact KS (the exact statistic's resolution at the frozen bin
    * granularity). One window over ≤bins rows per group; division-only
    * arithmetic, no grid.
    */
  def ks(spark: SparkSession, root: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cs = cells(spark, root)
    val totals = cs.groupBy(col("group"))
      .agg(sum(col("c_ref")).as("na"), sum(col("c_cur")).as("nb"))
    val w = Window.partitionBy(col("group")).orderBy(col("bin"))
    cs.select(col("group"),
        sum(col("c_ref")).over(w).as("cca"),
        sum(col("c_cur")).over(w).as("ccb"))
      .join(totals, Seq("group"))
      .groupBy(col("group"))
      .agg(first(col("na")).as("n_ref"), first(col("nb")).as("n_cur"),
        max(abs(col("cca").cast("double") / col("na").cast("double") -
          col("ccb").cast("double") / col("nb").cast("double"))).as("ks"))
  }


  /** Materialize-once fixture: the events drift cells built as TWO merges
    * (even event_ids, then odd) with txn ids against edges frozen from
    * the full table's range — the store the driver gate reads. Additive
    * merges are lossless, so the gate's oracle recomputes the one-shot
    * equivalent relationally.
    */
  def materializedEventsDriftDir(spark: SparkSession, sfDir: String): String = {
    val root = FixtureLock.root(sfDir, "events_drift_v1")
    FixtureLock.once(root) {
        val ev = graft.ops.Tables(spark, sfDir, "events")
          .select(col("event_id"), col("event_type").as("group"),
            (col("ts") < lit("2024-01-15 00:00:00").cast("timestamp_ntz"))
              .as("is_ref"),
            col("value"))
        val b = ev.agg(min(col("value")), max(col("value"))).collect()(0)
        create(spark, root.toString, b.getDouble(0), b.getDouble(1), 20)
        merge(spark, root.toString,
          ev.filter(col("event_id") % 2 === 0), txnId = Some(1L))
        merge(spark, root.toString,
          ev.filter(col("event_id") % 2 === 1), txnId = Some(2L))
    }
    root.toString
  }
}
