package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** A STANDING duplicate-cluster label table maintained INCREMENTALLY from
  * batches of near-duplicate pairs — the streaming twin of the one-shot
  * `dd5_dup_clusters` gate (LSH pair mining → connected components).
  *
  * Why this exists: at 100 TB the pair stream never stops, and re-running
  * connected components over the full historical edge set per batch is a
  * scan of everything ever mined. The store instead keeps only the
  * CURRENT labels — a star forest, one (id, component) row per clustered
  * node — and each merge runs CC over (new pairs ∪ star edges). That is
  * lossless: a star forest has exactly the components of the edges it
  * summarizes, and the component label is the global min id, so
  * CC(E₁ ∪ E₂) ≡ CC(star(CC(E₁)) ∪ E₂) — incremental equals one-shot,
  * bit-for-bit (`ClusterStoreSpec` proves it for arbitrary splits). Merge
  * cost is O(clustered nodes + batch pairs), independent of how many
  * pairs history ever produced.
  *
  * Every stored component has ≥2 members (labels only exist for nodes
  * that appeared in some pair), so each member is retained through a
  * non-self star edge; self-loops of component roots are dropped by CC's
  * canonicalization and reappear via their members.
  *
  * Store layout: one parquet of (id, component) rewritten per merge under
  * the [[StandingStore]] protocol.
  */
object ClusterStore {

  private val LabelsSlot = "labels"

  val labelSchema: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("component", LongType, nullable = false)))

  /** Create an empty store. */
  def create(spark: SparkSession, root: String): Unit = {
    val version = ManifestStore.versionAfter(ManifestStore.latest(spark, root))
    require(version == 1, s"store at $root already exists")
    ManifestStore.commit(spark, root, version, Map.empty)
  }

  /** Current labels: one (id, component) row per clustered node (empty
    * frame before the first merge).
    */
  def labels(spark: SparkSession, root: String): DataFrame =
    StandingStore.read(spark, root, labelSchema)

  /** Fold a batch of undirected pairs (two integral id columns) into the
    * labels: CC over (batch ∪ star edges of the current labels), commit.
    */
  def merge(spark: SparkSession, root: String, pairs: DataFrame,
            srcCol: String, dstCol: String,
            txnId: Option[Long] = None): Unit =
    StandingStore.rewrite(spark, root, LabelsSlot, labelSchema, txnId,
        requireStore = true) { (_, current) =>
      val batch = pairs.select(col(srcCol).cast("long").as("a"),
        col(dstCol).cast("long").as("b"))
      val star = current.select(col("id").as("a"), col("component").as("b"))
      graft.graph.ConnectedComponents
        .minLabel(batch.unionByName(star), "a", "b")
        .select(col("id"), col("component"))
    }

  /** Maintain the labels from a STREAM of (id_a, id_b) pair rows. */
  def mergeStream(spark: SparkSession, pairs: DataFrame, root: String,
                  checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    StandingStore.stream(pairs, checkpoint) { (batch, id) =>
      merge(spark, root, batch, "id_a", "id_b", txnId = Some(id))
    }
}
