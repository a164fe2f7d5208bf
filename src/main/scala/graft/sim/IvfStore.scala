package graft.sim

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.streaming.{ManifestStore, StandingStore}

/** Incrementally-maintained IVF vector index — the standing-store shape a
  * production embedding pipeline needs: vectors arrive in batches forever,
  * but queries must never pay an index rebuild.
  *
  * Layout (manifest-committed, like the engine's other mutable stores):
  * {{{
  *   <root>/data/v1/centroids/            coarse quantizer, trained ONCE
  *   <root>/data/v<N>/seg/__cell=<c>/     batch N's vectors, cell-partitioned
  * }}}
  *
  * Ingest does the expensive half at WRITE time: each appended batch is
  * assigned to its nearest centroid cell (one broadcast join over the
  * O(cells·dim) quantizer) and written Hive-partitioned BY CELL. A query
  * then probes its `nProbe` nearest cells with a partition-column `IN`
  * filter, so Spark's partition pruning opens only the probed cell
  * directories of each segment — query I/O is O(probed cells), independent
  * of both corpus size and segment count, and corpus vectors are never
  * reassigned or shuffled at query time ([[Similarity.ivfTopK]] by contrast
  * pays assignment on every call — right for ad-hoc, wrong for standing).
  *
  * The quantizer is FROZEN at bootstrap (FAISS practice: train once on a
  * sample, assign forever) — that is what makes batch-N assignment
  * independent of batches 1..N-1 and the whole index equal to a one-shot
  * build over the union, which is exactly the invariant the sm9 gate's
  * oracle asserts. Re-training would be a new index version.
  *
  * Commit protocol is [[StandingStore]]'s segment-append shape: a
  * crashed append leaves an orphaned `data/v<N>` no reader resolves;
  * readers see whole segments or nothing.
  */
object IvfStore {

  /** Meta slots: quantizer location + size (data slots are segments only,
    * so plain [[ManifestStore.read]] over data slots stays homogeneous).
    */
  private val CentroidsSlot = "__centroids"
  private val NumCentroidsSlot = "__numCentroids"

  /** Train the frozen coarse quantizer from the first batch (stride pick —
    * deterministic and engine-reproducible) and commit it together with the
    * batch's cell-assigned vectors as version 1.
    */
  def bootstrap(spark: SparkSession, batch: DataFrame, root: String,
                numCentroids: Int = -1): Unit =
    StandingStore.append(spark, root, txnId = None, bootstrap = true) {
      (_, rel, version) =>
        val c = if (numCentroids > 0) numCentroids
          else Similarity.autoCentroids(batch.count(), cap = 65536)
        Similarity.strideCentroids(batch, c)
          .write.mode("errorifexists").parquet(s"$root/$rel/centroids")
        Map(writeSegment(batch,
            spark.read.parquet(s"$root/$rel/centroids"), root, rel, version),
          CentroidsSlot -> s"$rel/centroids",
          NumCentroidsSlot -> c.toString)
    }

  /** Append a batch: assign against the frozen quantizer, stage one new
    * cell-partitioned segment, commit. Only the manifest and the new
    * segment are written — existing segments are never touched, so appends
    * stay O(batch) as the index grows (same flat-cost contract as the
    * dedup store's, soaked in `tools/MergeSoak` for the merge table).
    *
    * @param txnId monotone transaction id for IDEMPOTENT appends (a
    *   streaming micro-batch id): see [[StandingStore]].
    */
  def append(spark: SparkSession, batch: DataFrame, root: String,
             txnId: Option[Long] = None): Unit =
    StandingStore.append(spark, root, txnId) { (entries, rel, version) =>
      Map(writeSegment(batch, centroidsOf(spark, root, entries), root, rel,
        version))
    }

  /** Maintain the index from a STREAM of vectors: each micro-batch appends
    * one manifest-committed segment, with the batch id as the idempotence
    * txn — the streaming twin of the dedup store's ingestion path.
    */
  def appendStream(spark: SparkSession, vectors: DataFrame, root: String,
                   checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    StandingStore.stream(vectors, checkpoint) { (batch, id) =>
      append(spark, batch, root, txnId = Some(id))
    }

  /** Stage `batch` as segment `seg-<version>`, cell-assigned against
    * `centroids`; returns its slot.
    */
  private def writeSegment(batch: DataFrame, centroids: DataFrame,
      root: String, rel: String, version: Long): (String, String) = {
    assign(batch, centroids).write.mode("errorifexists")
      .partitionBy("__cell").parquet(s"$root/$rel/seg")
    s"seg-$version" -> s"$rel/seg"
  }

  private def centroidsOf(spark: SparkSession, root: String,
                          entries: Map[String, String]): DataFrame =
    spark.read.parquet(s"$root/${entries(CentroidsSlot)}")

  /** Nearest-centroid cell per vector: broadcast the O(cells·dim) quantizer,
    * rank-1 by cosine with centroid-id tie-break — the same argmax the
    * oracle mirrors relationally.
    */
  private def assign(batch: DataFrame, centroids: DataFrame): DataFrame = {
    val ct = centroids.withColumn("cn", Similarity.norm(col("cvec")))
    val side = batch.select(col("id"), col("vec"))
    // scan-side NearestCells kernel under the literal cap (no broadcast
    // join, no per-vector window exchange on the ingest path); join twin
    // above it — same bits either way (see Similarity.cellAssignLocal)
    (Similarity.localCentroids(ct) match {
      case Some(l) => Similarity.cellAssignLocal(side, l, "vec", 1)
      case None => Similarity.cellAssignJoin(side, ct, "id", "vec", 1)
    }).select(col("id"), col("vec"), col("centroid_id").as("__cell"))
  }

  /** Approximate top-k against the standing index. The probed-cell set is
    * collected to the driver (bounded by the cell count, itself capped —
    * index METADATA, not data) and pushed as a partition-column `IN`, so
    * only those cell directories are opened in any segment.
    */
  def topK(spark: SparkSession, root: String, queries: DataFrame, k: Int,
           nProbe: Int = -1): DataFrame = {
    val snap = ManifestStore.latest(spark, root).getOrElse(
      throw new IllegalStateException(s"no index at $root"))
    val p = if (nProbe > 0) nProbe
      else Similarity.autoProbes(snap.entries(NumCentroidsSlot).toInt)
    val ct = centroidsOf(spark, root, snap.entries)
      .withColumn("cn", Similarity.norm(col("cvec")))

    val qside = queries.select(col("id").as("query_id"), col("vec").as("qv"))
    val queryCells = (Similarity.localCentroids(ct) match {
      case Some(l) => Similarity.cellAssignLocal(qside, l, "qv", p)
      case None => Similarity.cellAssignJoin(qside, ct, "query_id", "qv", p)
    }).select(col("query_id"), col("qv"), col("centroid_id"))

    val probed = queryCells.select(col("centroid_id")).distinct()
      .collect().map(_.getLong(0))
    // one read per segment root (a shared multi-root read trips partition
    // discovery across the version directories); the cell IN-filter pushes
    // into each scan as a partition filter, so every branch of the union
    // opens only its probed cell directories
    val segPaths = ManifestStore.resolvePaths(root, snap)
    val corpus = segPaths.map(p => spark.read.parquet(p))
      .reduce(_.unionByName(_))
      .filter(col("__cell").isin(probed: _*))

    val scored = corpus
      .select(col("id").as("corpus_id"), col("vec").as("cv"), col("__cell"))
      .join(broadcast(queryCells.withColumnRenamed("centroid_id", "__cell")),
        Seq("__cell"))
      .filter(col("query_id") =!= col("corpus_id"))
      .withColumn("cos", Similarity.dot(col("qv"), col("cv"))
        / (Similarity.norm(col("qv")) * Similarity.norm(col("cv"))))
    val rw = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("corpus_id"))
    scored.withColumn("rank", row_number().over(rw))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("corpus_id"), col("cos"), col("rank"))
  }

  /** Materialize the two-batch index fixture once per scale factor: even
    * vec_ids bootstrap (and train the frozen quantizer), odd vec_ids
    * append as a second segment. Split-invariance makes the result equal
    * to a one-shot build — which is what the oracle recomputes.
    */
  def materializedEmbeddingsDir(spark: SparkSession, sfDir: String,
                                numCentroids: Int): String = {
    val root = graft.streaming.FixtureLock.root(sfDir, "ivf_index_v1")
    graft.streaming.FixtureLock.once(root) {
        val e = graft.ops.Tables(spark, sfDir, "embeddings")
          .select(col("vec_id").as("id"), col("embedding").as("vec"))
        bootstrap(spark, e.filter(col("id") % 2 === 0), root.toString,
          numCentroids)
        append(spark, e.filter(col("id") % 2 === 1), root.toString)
    }
    root.toString
  }
}
