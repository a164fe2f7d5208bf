package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, GraftBridge, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** STREAMING-maintained column statistics: the incremental twin of
  * `MergeInto.analyzeTable` — per-column row/null counters, min/max, and
  * the KMV NDV sketch folded forward micro-batch by micro-batch.
  *
  * Why this exists: at 100 TB you don't re-ANALYZE the corpus per batch;
  * every statistic kept here is MERGEABLE — counts add, min/max fold,
  * and bottom-k-distinct is a semilattice (bottom-k(A ∪ B) =
  * bottom-k(bottom-k(A) ∪ bottom-k(B))), so the standing store is
  * bit-identical to a one-shot ANALYZE over everything ingested. Exact
  * NDV is deliberately NOT kept: it is the one statistic with no bounded
  * merge state — the sketch estimate is the scalable contract.
  *
  * Numerics fold and hash through DECIMAL(18,2) (cross-engine text
  * rendering of doubles differs; decimals render identically). Store
  * mechanics: [[StandingStore]] (O(columns) parquet rewritten per merge;
  * `__k` records the sketch size every merge must match).
  */
object StatStore {

  private val CellsSlot = "cells"
  private val KSlot = "__k"

  val cellSchema: StructType = StructType(Seq(
    StructField("column", StringType, nullable = false),
    StructField("n_rows", LongType, nullable = false),
    StructField("n_nulls", LongType, nullable = false),
    StructField("min_num", DecimalType(18, 2), nullable = true),
    StructField("max_num", DecimalType(18, 2), nullable = true),
    StructField("min_str", StringType, nullable = true),
    StructField("max_str", StringType, nullable = true),
    StructField("sketch", ArrayType(LongType, containsNull = false),
      nullable = false)))

  private def kmvCol(c: Column, k: Int): Column = GraftBridge.column(
    graft.functions.KmvSketchAgg(GraftBridge.expression(c), k)
      .toAggregateExpression())

  /** One batch reduced to its per-column stat cells (one row per column —
    * a single aggregation pass, then a driver-side pivot of ONE row).
    */
  def cellsOf(batch: DataFrame, numericCols: Seq[String],
              stringCols: Seq[String], k: Int): DataFrame = {
    val spark = batch.sparkSession
    val dec = "decimal(18,2)"
    val aggs = Seq(count(lit(1)).as("__n")) ++
      numericCols.flatMap { c =>
        Seq(sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"${c}__nulls"),
          min(col(c).cast(dec)).as(s"${c}__min"),
          max(col(c).cast(dec)).as(s"${c}__max"),
          kmvCol(graft.functions.Hash60(col(c).cast(dec).cast("string")), k)
            .as(s"${c}__sk"))
      } ++
      stringCols.flatMap { c =>
        Seq(sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"${c}__nulls"),
          min(col(c)).as(s"${c}__min"),
          max(col(c)).as(s"${c}__max"),
          kmvCol(graft.functions.Hash60(col(c)), k).as(s"${c}__sk"))
      }
    val row = batch.agg(aggs.head, aggs.tail: _*).head
    val n = row.getAs[Long]("__n")
    def cell(c: String, num: Boolean) = Row(
      c, n, row.getAs[Long](s"${c}__nulls"),
      if (num) row.getAs[java.math.BigDecimal](s"${c}__min") else null,
      if (num) row.getAs[java.math.BigDecimal](s"${c}__max") else null,
      if (num) null else row.getAs[String](s"${c}__min"),
      if (num) null else row.getAs[String](s"${c}__max"),
      row.getSeq[Long](row.fieldIndex(s"${c}__sk")))
    spark.createDataFrame(
      spark.sparkContext.parallelize(
        numericCols.map(cell(_, num = true)) ++
          stringCols.map(cell(_, num = false)), 1),
      cellSchema)
  }

  /** Fold one batch's cells into the store: counters add, min/max fold,
    * sketches re-bottom-k through the SAME aggregate (explode + merge is
    * exactly the aggregate's own merge path).
    */
  def merge(spark: SparkSession, root: String, cells: DataFrame,
            k: Int, txnId: Option[Long] = None): Unit =
    StandingStore.rewrite(spark, root, CellsSlot, cellSchema, txnId,
        meta = Map(KSlot -> k.toString)) { (entries, current) =>
      entries.get(KSlot).map(_.toInt).foreach(k0 =>
        require(k0 == k, s"store at $root was built with k=$k0, merge got $k"))
      val unioned = cells.unionByName(current)
      // counters/min-max fold on the un-exploded rows; the sketch merge is
      // a re-bottom-k of the flattened hash arrays through the SAME
      // aggregate (explode_outer keeps empty-sketch columns alive; the
      // null it emits is skipped by the aggregate)
      val scalars = unioned.groupBy(col("column"))
        .agg(sum(col("n_rows")).as("n_rows"),
          sum(col("n_nulls")).as("n_nulls"),
          min(col("min_num")).as("min_num"),
          max(col("max_num")).as("max_num"),
          min(col("min_str")).as("min_str"),
          max(col("max_str")).as("max_str"))
      val sketches = unioned
        .select(col("column"), explode_outer(col("sketch")).as("h"))
        .groupBy(col("column"))
        .agg(kmvCol(col("h"), k).as("sketch"))
      scalars.join(sketches, Seq("column"))
    }

  /** Maintain the stats from a STREAM of raw rows (one manifest commit
    * per micro-batch, batch id as the idempotence txn).
    */
  def mergeStream(spark: SparkSession, rows: DataFrame, root: String,
                  checkpoint: String, numericCols: Seq[String],
                  stringCols: Seq[String], k: Int)
      : org.apache.spark.sql.streaming.StreamingQuery =
    StandingStore.stream(rows, checkpoint) { (batch, id) =>
      merge(spark, root, cellsOf(batch, numericCols, stringCols, k), k,
        txnId = Some(id))
    }

  /** The standing report: one row per column with the NDV estimate
    * derived from the sketch ((K-1)·2^60/θ when saturated).
    */
  def report(spark: SparkSession, root: String): DataFrame = {
    val snap = ManifestStore.latest(spark, root).getOrElse(
      throw new IllegalStateException(s"no stats store under $root"))
    val k = snap.entries(KSlot).toInt
    val dom = (1L << 60).toDouble
    ManifestStore.readOrEmpty(spark, root, cellSchema, Some(snap))
      .select(col("column"), col("n_rows"), col("n_nulls"),
        when(size(col("sketch")) < k,
            size(col("sketch")).cast("double"))
          .otherwise(lit((k - 1).toDouble * dom) /
            element_at(col("sketch"), k).cast("double")).as("ndv_est"),
        col("min_num").cast("double").as("min_num"),
        col("max_num").cast("double").as("max_num"),
        col("min_str"), col("max_str"))
      .orderBy(col("column"))
  }

  /** Materialize-once fixture: events stats built as TWO merges (even
    * event_ids, then odd) with txn ids — every statistic is mergeable,
    * so the standing report must equal the oracle's one-shot recompute
    * over all events.
    */
  def materializedEventsStatsDir(spark: SparkSession,
                                 sfDir: String): String = {
    val root = FixtureLock.root(sfDir, "events_stats_v1")
    val k = 64
    FixtureLock.once(root) {
        val ev = graft.ops.Tables(spark, sfDir, "events")
        def half(p: Int) = ev.filter(col("event_id") % 2 === p)
        merge(spark, root.toString,
          cellsOf(half(0), Seq("user_id", "value"), Seq("event_type"), k),
          k, txnId = Some(1L))
        merge(spark, root.toString,
          cellsOf(half(1), Seq("user_id", "value"), Seq("event_type"), k),
          k, txnId = Some(2L))
    }
    root.toString
  }
}
