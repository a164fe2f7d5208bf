package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** A STANDING frequent-items sketch table: one Misra-Gries counter summary
  * maintained incrementally under [[ManifestStore]] commits — the streaming
  * twin of the one-shot two-pass [[graft.text.HeavyHitters]].
  *
  * Why this exists: a 100 TB corpus can't re-run even the two-pass heavy-
  * hitter mining on every update — the standing store folds each arriving
  * batch into an O(capacity) counter table, and candidate extraction is a
  * metadata read. MG summaries are MERGEABLE with the one-shot error bound
  * (Agarwal et al., PODS 2012): merging by summing counters and subtracting
  * the (capacity+1)-th largest keeps, for every token,
  * `counter(t) ≥ count(t) − n_total/(capacity+1)` — inductively across any
  * number of store merges. (Proof shape: each decrement step, inside a
  * batch pass or at a merge, destroys ≥ capacity+1 units of counter mass,
  * so (capacity+1)·undercount ≤ n_total − storedMass ≤ n_total.)
  *
  * The store is therefore a guaranteed SUPERSET of every token with count
  * > n/(capacity+1); [[verifiedHitters]] joins the candidates back to the
  * corpus for exact counts, making the final answer deterministic and
  * equal to the naive `GROUP BY token HAVING count ≥ threshold` whenever
  * `threshold > n/(capacity+1)` (require-checked) — which is what the
  * driver gate's relational oracle recomputes.
  *
  * Store layout: one tiny parquet of (tok, cnt) — ≤ capacity rows —
  * rewritten per merge under the [[StandingStore]] protocol.
  */
object HeavyHitterStore {

  private val CountersSlot = "counters"

  val counterSchema: StructType = StructType(Seq(
    StructField("tok", StringType, nullable = false),
    StructField("cnt", LongType, nullable = false)))

  /** MG-reduce a (tok, cnt) counter table to ≤ capacity entries: sum per
    * token, subtract the (capacity+1)-th largest summed counter (0 when
    * the table already fits), drop non-positive. The cut selection is a
    * bounded top-(capacity+1) — TakeOrderedAndProject, never a global
    * sort of the counter table.
    */
  private def mgReduce(df: DataFrame, capacity: Int): DataFrame = {
    val summed = df.groupBy(col("tok")).agg(sum(col("cnt")).as("cnt"))
    val cut = summed.orderBy(col("cnt").desc, col("tok"))
      .limit(capacity + 1)
      .agg(when(count(lit(1)) > capacity, min(col("cnt")))
        .otherwise(lit(0L)).as("cut"))
    summed.crossJoin(broadcast(cut))
      .select(col("tok"), (col("cnt") - col("cut")).as("cnt"))
      .filter(col("cnt") > 0)
  }

  /** Fold one batch of token occurrences (a `tok` column, one row per
    * occurrence) into the store. The batch is first summarized
    * per-partition with classic decrement-all MG (O(capacity) memory, one
    * streaming pass — the corpus-side shuffle carries ≤ capacity·partitions
    * candidate rows, never the token stream), then the partials and the
    * current store counters MG-reduce together and the result is committed.
    */
  def merge(spark: SparkSession, root: String, batch: DataFrame,
            capacity: Int, txnId: Option[Long] = None): Unit = {
    import spark.implicits._
    StandingStore.rewrite(spark, root, CountersSlot, counterSchema, txnId) {
      (_, current) =>
        val partials = batch.select(col("tok").cast("string")).as[String]
          .mapPartitions { it =>
            val counts = scala.collection.mutable.HashMap.empty[String, Long]
            it.foreach { t =>
              counts.get(t) match {
                case Some(c) => counts(t) = c + 1
                case None if counts.size < capacity => counts(t) = 1L
                case None => // decrement-all; drop counters reaching zero
                  counts.keysIterator.toList.foreach { k =>
                    val v = counts(k) - 1
                    if (v == 0L) counts.remove(k) else counts(k) = v
                  }
              }
            }
            counts.iterator
          }.toDF("tok", "cnt")
        mgReduce(partials.unionByName(current), capacity)
    }
  }

  /** Maintain the counter table from a STREAM of token rows: one manifest
    * commit per micro-batch, batch id as the idempotence txn.
    */
  def mergeStream(spark: SparkSession, rows: DataFrame, root: String,
                  capacity: Int, checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    StandingStore.stream(rows, checkpoint) { (batch, id) =>
      merge(spark, root, batch, capacity, txnId = Some(id))
    }

  /** The store's raw candidate counters (≤ capacity rows). */
  def candidates(spark: SparkSession, root: String): DataFrame =
    ManifestStore.read(spark, root)

  /** Deterministic exact readout: broadcast the store's candidate set as a
    * filter over the corpus token stream, count exactly, keep ≥ threshold.
    * Provably equal to the naive full GROUP BY when
    * `threshold > n/(capacity+1)` — the require guard; size capacity from
    * table stats in production.
    */
  def verifiedHitters(spark: SparkSession, root: String, corpus: DataFrame,
                      capacity: Int, threshold: Long): DataFrame = {
    val toks = corpus.select(col("tok"))
    val n = toks.count()
    require(threshold > n / (capacity + 1),
      s"threshold $threshold is not > n/(capacity+1) = " +
        s"${n / (capacity + 1)}: the standing MG summary could miss a " +
        s"qualifying token — raise capacity to at least ${n / threshold + 1}")
    toks.join(broadcast(candidates(spark, root).select(col("tok"))),
        Seq("tok"))
      .groupBy(col("tok"))
      .agg(count(lit(1)).as("n_occurrences"))
      .filter(col("n_occurrences") >= threshold)
  }

  /** The capacity that makes [[verifiedHitters]]' exactness guarantee hold
    * at a given corpus size: n/(capacity+1) < threshold. Production sizes
    * this from table stats; the fixture counts once at build time — the
    * store stays O(n/threshold), tiny relative to any corpus.
    */
  def autoCapacity(n: Long, threshold: Long, floor: Int = 4096): Int =
    math.max(floor.toLong, n / threshold + 1).toInt

  /** Materialize-once fixture: the documents table's whitespace tokens
    * folded as TWO merges (even doc_ids, then odd) with txn ids — the
    * store the driver gate reads. Capacity is auto-sized from the corpus
    * token count so the exactness guard holds at ANY scale (the 10× soak
    * corpus tripped a fixed 4096). A replayed second merge (same txn)
    * must be a no-op; the spec asserts that, and the gate's oracle
    * recomputes the exact one-shot equivalent.
    *
    * @return (store root, capacity used) — readers pass the same capacity
    *   to [[verifiedHitters]].
    */
  def materializedDocsHittersDir(spark: SparkSession, sfDir: String,
                                 threshold: Long): (String, Int) = {
    val root = FixtureLock.root(sfDir, "docs_hitters_v2")
    val docs = graft.ops.Tables(spark, sfDir, "documents")
    def toks(parity: Int): DataFrame = docs
      .filter(col("doc_id") % 2 === parity)
      .select(explode(graft.text.TextFunctions.tokens(col("text")))
        .as("tok"))
    val n = toks(0).count() + toks(1).count()
    val capacity = autoCapacity(n, threshold)
    FixtureLock.once(root) {
      merge(spark, root.toString, toks(0), capacity, txnId = Some(1L))
      merge(spark, root.toString, toks(1), capacity, txnId = Some(2L))
    }
    (root.toString, capacity)
  }
}
