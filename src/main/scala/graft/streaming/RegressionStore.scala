package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** A STANDING per-group regression-sums store: the additive-aggregate
  * twin of the one-shot `q55_group_regression` gate — continuously
  * maintained OLS/correlation state over a stream of (group, x, y)
  * observations.
  *
  * The store holds (group, n, Σx, Σy, Σxy, Σx², Σy²) with every sum an
  * EXACT DECIMAL(38,4) — sufficient statistics for slope, intercept,
  * Pearson r, x/y means and variances. Decimal addition is exact and
  * associative, so merge = SUM per group is LOSSLESS: the incrementally
  * maintained store is bit-identical to the one-shot aggregation over
  * all observations (which is exactly what the gate's oracle recomputes),
  * and any fit readout is O(groups), corpus never rescanned. The double
  * math happens ONCE at readout, in the same operation order as the q55
  * mirror.
  *
  * Store layout: one tiny parquet of sums rewritten per merge under the
  * [[StandingStore]] protocol.
  */
object RegressionStore {

  private val SumsSlot = "sums"

  private val Dec = DecimalType(38, 4)

  val sumsSchema: StructType = StructType(Seq(
    StructField("group", StringType, nullable = false),
    StructField("n", LongType, nullable = false),
    StructField("sx", Dec, nullable = true),
    StructField("sy", Dec, nullable = true),
    StructField("sxy", Dec, nullable = true),
    StructField("sx2", Dec, nullable = true),
    StructField("sy2", Dec, nullable = true)))

  /** Reduce a raw (group, x, y) batch to per-group exact decimal sums —
    * the q55 accumulators, O(groups) rows out.
    */
  private def reduce(batch: DataFrame): DataFrame = {
    val x = col("x").cast(DecimalType(18, 2))
    val y = col("y").cast(DecimalType(18, 2))
    batch.select(col("group").cast("string"), x.as("x"), y.as("y"))
      .groupBy(col("group"))
      .agg(count(lit(1)).as("n"),
        sum(col("x")).cast(Dec).as("sx"),
        sum(col("y")).cast(Dec).as("sy"),
        sum((col("x") * col("y")).cast(Dec)).cast(Dec).as("sxy"),
        sum((col("x") * col("x")).cast(Dec)).cast(Dec).as("sx2"),
        sum((col("y") * col("y")).cast(Dec)).cast(Dec).as("sy2"))
  }

  /** Fold a batch of (group, x, y) observations into the store (created
    * on first merge). The batch collapses to O(groups) sums BEFORE
    * touching the store; existing sums are carried by exact decimal
    * addition.
    */
  def merge(spark: SparkSession, root: String, batch: DataFrame,
            txnId: Option[Long] = None): Unit =
    StandingStore.rewrite(spark, root, SumsSlot, sumsSchema, txnId) {
      (_, current) =>
        reduce(batch).unionByName(current)
          .groupBy(col("group"))
          .agg(sum(col("n")).as("n"),
            sum(col("sx")).cast(Dec).as("sx"),
            sum(col("sy")).cast(Dec).as("sy"),
            sum(col("sxy")).cast(Dec).as("sxy"),
            sum(col("sx2")).cast(Dec).as("sx2"),
            sum(col("sy2")).cast(Dec).as("sy2"))
    }

  /** Maintain the sums from a STREAM of (group, x, y) observations —
    * exactly-once via the micro-batch id as the idempotence txn.
    */
  def mergeStream(spark: SparkSession, rows: DataFrame, root: String,
                  checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    StandingStore.stream(rows, checkpoint) { (batch, id) =>
      merge(spark, root, batch, txnId = Some(id))
    }

  /** The standing sufficient statistics. */
  def sums(spark: SparkSession, root: String): DataFrame =
    StandingStore.read(spark, root, sumsSchema)

  /** Per-group OLS fit + Pearson correlation off the standing sums — the
    * q55 double-math tail, bit-identical to the one-shot gate because the
    * decimal sums underneath are.
    */
  def fit(spark: SparkSession, root: String): DataFrame =
    sums(spark, root)
      .select(col("group"), col("n"),
        col("sx").cast("double").as("sx"), col("sy").cast("double").as("sy"),
        col("sxy").cast("double").as("sxy"),
        col("sx2").cast("double").as("sx2"),
        col("sy2").cast("double").as("sy2"))
      .select(col("group"), col("n"), col("sx"), col("sy"),
        ((col("n") * col("sxy") - col("sx") * col("sy"))
          / (col("n") * col("sx2") - col("sx") * col("sx"))).as("slope"),
        ((col("n") * col("sxy") - col("sx") * col("sy"))
          / (sqrt(col("n") * col("sx2") - col("sx") * col("sx"))
            * sqrt(col("n") * col("sy2") - col("sy") * col("sy"))))
          .as("corr_xy"))
      .select(col("group"), col("n"), col("slope"),
        ((col("sy") - col("slope") * col("sx")) / col("n")).as("intercept"),
        col("corr_xy"))


  /** Materialize-once fixture: the lineitem regression sums built as TWO
    * merges (even l_orderkey, then odd) with txn ids — the store the
    * ev7 driver gate reads. Lossless merging makes it bit-identical to
    * the one-shot q55 aggregation, which is what the oracle recomputes.
    */
  def materializedLineitemRegDir(spark: SparkSession, sfDir: String): String = {
    val root = FixtureLock.root(sfDir, "lineitem_reg_v1")
    FixtureLock.once(root) {
        val li = graft.ops.Tables(spark, sfDir, "lineitem")
          .select(col("l_orderkey"), col("l_returnflag").as("group"),
            col("l_quantity").as("x"), col("l_extendedprice").as("y"))
        merge(spark, root.toString,
          li.filter(col("l_orderkey") % 2 === 0).select("group", "x", "y"),
          txnId = Some(1L))
        merge(spark, root.toString,
          li.filter(col("l_orderkey") % 2 === 1).select("group", "x", "y"),
          txnId = Some(2L))
    }
    root.toString
  }
}
