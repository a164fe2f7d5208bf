package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** A STANDING covariance-matrix store for an embedding column — PCA from
  * sufficient statistics, continuously maintained: the linear-algebra
  * sibling of [[RegressionStore]]. The store holds the exact integer
  * second-moment accumulators of the grid-quantized vectors
  * (`xq = floor(x·2^20)`):
  *
  *   - `n` (row count), `s[d] = Σ xq_d`, `p[d,e] = Σ xq_d·xq_e` (d ≤ e),
  *     all DECIMAL(38,0) — integer addition is exact and associative, so
  *     merge = SUM per cell is LOSSLESS and the incrementally-maintained
  *     store is bit-identical to a one-shot aggregation;
  *   - the top principal component is then a DRIVER-side power iteration
  *     on the O(dim²) covariance matrix derived from the store — the
  *     corpus is NEVER rescanned for a component refresh, which is the
  *     whole point: a 100 TB embedding table streams through once, and
  *     every later PCA readout costs O(dim²).
  *
  * Engine-exact readout (so the DuckDB oracle can unroll it): the
  * integer-exact cell `cg[d,e] = n·p[d,e] − s[d]·s[e]` maps to a double
  * by the correctly-rounded chain `double(cg)/n/n/G/G`, matvec terms are
  * floor-quantized to the 2^-20 grid (64 exact dyadic addends per row —
  * order-independent), and normalization divides by the sqrt of a
  * grid-quantized sum of squares — the [[graft.sim.Pca]] discipline on a
  * matrix instead of a corpus.
  *
  * Store layout: one tiny parquet of (d, e, v) cells rewritten per merge
  * under the [[StandingStore]] protocol.
  */
object CovarianceStore {

  val Grid = 1048576L

  private val CellsSlot = "cells"
  private val Dec = DecimalType(38, 0)

  /** (d, e, v): e = -1 rows carry Σxq_d; the (d = -1, e = -1) row is n. */
  val cellsSchema: StructType = StructType(Seq(
    StructField("d", IntegerType, nullable = false),
    StructField("e", IntegerType, nullable = false),
    StructField("v", Dec, nullable = true)))

  /** Reduce a raw (id, vec) batch to its additive cells SCAN-SIDE: pair
    * products come from a per-row double generator over the quantized
    * vector (explode dim positions, then the d..dim-1 tail slice per
    * position) — never an id-keyed self-join. The dim·(dim+1)/2 per-row
    * fan-out exists either way (those are the products being summed), but
    * here it is map-side combined into O(dim²) groups BEFORE any
    * exchange; the join form shuffled the n·dim exploded table first
    * (~2080 pair rows per 64-dim vector through the shuffle — the wrong
    * cost class for the 100 TB streaming claim).
    */
  private def reduce(batch: DataFrame): DataFrame = {
    // quantized vectors, materialized once (n rows of dim longs — read by
    // the three passes below without recomputing the source batch)
    val vq = graft.graph.GraphOps.checkpoint(batch
      .select(transform(col("vec").cast("array<double>"),
        x => floor(x * Grid).cast("long")).as("vq")))
    val ex = vq.select(posexplode(col("vq")).as(Seq("dd", "xq")), col("vq"))
    val firsts = ex.groupBy(col("dd"))
      .agg(sum(col("xq").cast(Dec)).cast(Dec).as("v"))
      .select(col("dd").cast("int").as("d"), lit(-1).as("e"), col("v"))
    val pairs = ex
      .select(col("dd").cast("int").as("d"), col("xq"),
        posexplode(slice(col("vq"), col("dd") + 1,
          size(col("vq")) - col("dd"))).as(Seq("off", "xe")))
      .groupBy(col("d"), (col("d") + col("off")).cast("int").as("e"))
      .agg(sum(col("xq").cast(Dec) * col("xe").cast(Dec)).cast(Dec).as("v"))
    val nrow = vq.agg(count(lit(1)).cast(Dec).as("v"))
      .select(lit(-1).as("d"), lit(-1).as("e"), col("v"))
    firsts.unionByName(pairs).unionByName(nrow)
  }

  /** Fold a batch of (id, vec) rows into the store (created on first
    * merge); exact-decimal cell addition keeps the merge lossless.
    */
  def merge(spark: SparkSession, root: String, batch: DataFrame,
            txnId: Option[Long] = None): Unit =
    StandingStore.rewrite(spark, root, CellsSlot, cellsSchema, txnId) {
      (_, current) =>
        reduce(batch).unionByName(current)
          .groupBy(col("d"), col("e"))
          .agg(sum(col("v")).cast(Dec).as("v"))
    }

  /** Maintain the cells from a stream of (id, vec) rows — exactly-once
    * via the micro-batch id as the idempotence txn.
    */
  def mergeStream(spark: SparkSession, rows: DataFrame, root: String,
                  checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    StandingStore.stream(rows, checkpoint) { (batch, id) =>
      merge(spark, root, batch, txnId = Some(id))
    }

  /** The standing cells. */
  def cells(spark: SparkSession, root: String): DataFrame =
    StandingStore.read(spark, root, cellsSchema)

  /** (mean, top component) from the standing cells alone — O(dim²)
    * driver work, zero corpus access. Identical arithmetic to the oracle
    * mirror: exact BigInt `cg = n·p − s·s`, correctly-rounded double
    * image, grid-quantized matvec + norm per power round.
    */
  def topComponent(spark: SparkSession, root: String, dim: Int,
                   iters: Int = 3): (Array[Double], Array[Double]) = {
    val g = Grid.toDouble
    val rows = cells(spark, root).collect()
    var n = BigInt(0)
    val s = Array.fill(dim)(BigInt(0))
    val p = Array.fill(dim, dim)(BigInt(0))
    rows.foreach { r =>
      val (d, e) = (r.getInt(0), r.getInt(1))
      val v = r.getDecimal(2).toBigInteger
      if (d == -1) n = BigInt(v)
      else if (e == -1) s(d) = BigInt(v)
      else { p(d)(e) = BigInt(v); p(e)(d) = BigInt(v) }
    }
    require(n > 0, s"covariance store at $root holds no rows")
    val nd = n.toDouble
    val c = Array.tabulate(dim, dim) { (d, e) =>
      (n * p(d)(e) - s(d) * s(e)).toDouble / nd / nd / g / g
    }
    val mean = Array.tabulate(dim)(d => s(d).toDouble / nd / g)
    var v = Array.fill(dim)(1.0 / math.sqrt(dim.toDouble))
    for (_ <- 1 to iters) {
      val u = Array.tabulate(dim) { d =>
        var acc = 0.0
        var e = 0
        while (e < dim) { acc += math.floor(c(d)(e) * v(e) * g) / g; e += 1 }
        acc
      }
      val sq = u.map(x => math.floor(x * x * g) / g).sum // exact dyadic sum
      if (sq > 0) {
        val nrm = math.sqrt(sq)
        v = u.map(_ / nrm)
      }
    }
    (mean, v)
  }


  /** Materialize-once fixture: the embeddings covariance store built as
    * TWO merges (even vec_id, then odd) with txn ids — the store the
    * ev10 driver gate reads. Lossless merging makes it bit-identical to
    * the one-shot accumulation the oracle recomputes.
    */
  def materializedEmbCovDir(spark: SparkSession, sfDir: String): String = {
    val root = FixtureLock.root(sfDir, "emb_cov_v1")
    FixtureLock.once(root) {
        val emb = graft.ops.Tables(spark, sfDir, "embeddings")
          .select(col("vec_id").as("id"), col("embedding").as("vec"))
        merge(spark, root.toString,
          emb.filter(col("id") % 2 === 0), txnId = Some(1L))
        merge(spark, root.toString,
          emb.filter(col("id") % 2 === 1), txnId = Some(2L))
    }
    root.toString
  }
}
