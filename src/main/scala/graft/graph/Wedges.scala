package graft.graph

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Shared preamble for the wedge-enumeration gates (q103/q110/q136): one
  * bounded driver action over the cut edge leaf yields the id range (for
  * the PackedPairs key decision) AND the exact wedge count Σ C(deg, 2),
  * which sizes the explode stage's parallelism.
  *
  * Why the explicit sizing (guide §2.2/§2.5): the wedge-explode stage's
  * cost tracks its OUTPUT volume (~15× the rows and ~50× the bytes of its
  * input at the measured degree distribution), but AQE coalesces the
  * stage's input exchange by INPUT bytes — at bench scale the whole
  * multi-CPU-second generate + partial-aggregate pipeline landed on a
  * handful of tasks. The measured wedge count is exact and already known
  * before the stage runs, so the input exchange is pinned to
  * ceil(wedges / WedgesPerTask), clamped to 4× the cluster's default
  * parallelism — derived from data and environment, never a constant
  * (same discipline as GraphOps.BroadcastNodeCap and
  * PrefixSum.runningSumsByAdaptive). Below 2 partitions the hint is
  * skipped entirely and the plan is unchanged (AQE keeps deciding).
  */
object Wedges {

  /** ~0.3–0.5 s of generate + partial-aggregate work per task at measured
    * per-wedge cost — small enough to spread, large enough that per-task
    * setup stays amortized.
    */
  val WedgesPerTask: Long = 500000L

  /** Id range and exact wedge mass of an edge table, in ONE action.
    *
    * @param edges the CUT (checkpointed) distinct edge table with columns
    *              `p` (part key) and `c` (customer id)
    * @param degLo/degHi  the gate's degree band: only parts whose buyer
    *              count lies in [degLo, degHi] generate wedges
    */
  final case class EdgeStats(minId: Long, maxId: Long, wedges: Long,
                             empty: Boolean)

  def stats(edges: DataFrame, degLo: Long, degHi: Long): EdgeStats = {
    val r = edges.groupBy(col("p"))
      .agg(min(col("c")).as("mn"), max(col("c")).as("mx"),
        count(lit(1)).as("deg"))
      .agg(min(col("mn")).as("mn"), max(col("mx")).as("mx"),
        sum(when(col("deg").between(degLo, degHi),
          expr("deg * (deg - 1) div 2")).otherwise(0L)).as("w"))
      .head()
    if (r.isNullAt(0)) EdgeStats(0L, -1L, 0L, empty = true)
    else EdgeStats(r.getLong(0), r.getLong(1), r.getLong(2), empty = false)
  }

  /** The degree filter matching `stats(edges, degLo, degHi)`'s band, for
    * a `deg` that is a buyer COUNT (≥ 1): a `degLo` of 1 adds no lower
    * bound, so the band's plan is exactly the one-sided cap.
    */
  def inBand(deg: Column, degLo: Long, degHi: Long): Column =
    if (degLo <= 1L) deg <= degHi else deg >= degLo && deg <= degHi

  /** Pin the wedge-explode stage's input exchange to a partition count
    * sized from the measured wedge mass. The repartition lands on the
    * grouping key, so the downstream groupBy reuses it — same single
    * exchange as before, now output-sized instead of input-coalesced.
    * Returns the input unchanged when the measured mass doesn't warrant
    * ≥ 2 partitions.
    */
  def fanout(df: DataFrame, keyCol: String, wedges: Long): DataFrame = {
    val cores = df.sparkSession.sparkContext.defaultParallelism.toLong
    val n = math.min((wedges + WedgesPerTask - 1L) / WedgesPerTask,
      4L * cores)
    if (n >= 2L) df.repartition(n.toInt, col(keyCol)) else df
  }
}
