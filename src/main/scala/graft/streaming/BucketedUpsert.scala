package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Manifest-committed, key-BUCKETED store maintained batch by batch — the
  * write path of both streaming maintainers ([[Scd2Stream]],
  * [[CurrentStateStream]]) and of the generic KEY-LATEST upsert
  * ([[upsertBatch]]: one row per key survives, the row with the highest
  * `orderCol`, incoming beating stored on ties, so a replay is idempotent).
  *
  * A batch rewrites ONLY the buckets its keys hash into: a manifest-pruned
  * read of those buckets, one fold of the batch against their stored rows,
  * a staged write under an immutable versioned prefix and one atomic
  * manifest commit; untouched buckets are never opened. Cost per batch is
  * O(store/numBuckets × touched buckets + batch), not O(store). A batch is
  * two Spark jobs: the touched-bucket collect (an empty set means an empty
  * batch — nothing staged or committed) and the write.
  *
  * The stored rows are the only copy of each key's head: a stream keeps no
  * state store beside them, so a [[ManifestStore.restore]] rolls back
  * everything the next batch folds against, and a re-delivered batch folds
  * to the rows already stored.
  *
  * Deletes: callers keep tombstone rows (e.g. a `deleted` flag) IN the
  * store rather than physically removing keys — the tombstone's order
  * value keeps dropping late lower-order replays that would otherwise
  * resurrect the key; the read path filters them. Physical reclamation is
  * [[purgeTombstones]], a maintenance rewrite, not an upsert concern.
  */
object BucketedUpsert {

  /** A fold of a batch against the touched buckets' stored rows (None
    * before the first commit) into the rows those buckets hold next.
    */
  type Fold = (Option[DataFrame], DataFrame) => DataFrame

  def upsertBatch(spark: SparkSession, batch: DataFrame, root: String,
                  keyCol: String, orderCol: String,
                  numBuckets: Int = 64): Unit =
    upsert(spark, batch, root, keyCol, numBuckets)(latest(keyCol, orderCol))

  /** The key-latest fold: the highest-`orderCol` row per key. */
  private[streaming] def latest(keyCol: String, orderCol: String): Fold =
    newest(Window.partitionBy(col(keyCol))
      .orderBy(col(orderCol).desc, col("__p").desc))

  /** Keep the first row of each `w` partition of the stored rows (`__p` =
    * 0) and the incoming ones (`__p` = 1).
    */
  private[streaming] def newest(w: WindowSpec): Fold = (stored, incoming) => {
    val in = incoming.withColumn("__p", lit(1))
    stored.fold(in)(_.withColumn("__p", lit(0)).unionByName(in))
      .withColumn("__r", row_number().over(w))
      .filter(col("__r") === 1).drop("__p", "__r")
  }

  /** Stage and commit one batch ([[stageBatch]]). */
  private[streaming] def upsert(spark: SparkSession, batch: DataFrame,
      root: String, keyCol: String, numBuckets: Int)(fold: Fold): Unit =
    stageBatch(spark, batch, root, keyCol, numBuckets)(fold)
      .foreach { case (v, e) => ManifestStore.commit(spark, root, v, e) }

  /** Maintain the store from a stream: each micro-batch is persisted, so
    * the touched-bucket collect and the write decode it once, and
    * [[upsert]]ed with `fold`.
    */
  private[streaming] def stream(changes: DataFrame, root: String,
      keyCol: String, checkpoint: String, numBuckets: Int)(
      fold: Fold): StreamingQuery =
    StandingStore.stream(changes, checkpoint) { (batch, _) =>
      batch.persist()
      try upsert(batch.sparkSession, batch, root, keyCol, numBuckets)(fold)
      finally batch.unpersist()
    }

  /** The stage half of an upsert: fold `batch` against the touched
    * buckets' stored rows and stage the result under a fresh versioned
    * prefix WITHOUT committing. Returns the version and the entry map a
    * commit of it publishes, or None for an empty batch.
    */
  private[streaming] def stageBatch(spark: SparkSession, batch: DataFrame,
      root: String, keyCol: String, numBuckets: Int)(
      fold: Fold): Option[(Long, Map[String, String])] = {
    // Spark's HashPartitioning id of the key
    val bucket = pmod(hash(col(keyCol)), lit(numBuckets))
    val incoming = batch.withColumn("__bucket", bucket)
    // driver-side metadata collect: ≤ numBuckets ints (a file-index scale
    // lookup, not a data collect)
    val touched = incoming.select("__bucket").distinct()
      .collect().map(_.getInt(0)).sorted
    if (touched.isEmpty) return None
    val snap = ManifestStore.latest(spark, root)
    // bucket count and key are the store's identity — same guards as the
    // merge table (a mismatch would put keys in wrong buckets / declare
    // a wrong HashPartitioning)
    val n = snap.flatMap(_.entries.get(MergeInto.NumBucketsSlot))
      .map(_.toInt).getOrElse(numBuckets)
    require(n == numBuckets,
      s"store at $root was bucketed with $n buckets; upsert requested " +
        s"$numBuckets — bucket count is immutable after the first commit")
    val priorKey = snap.flatMap(_.entries.get(MergeInto.BucketKeySlot))
    require(priorKey.forall(_ == keyCol),
      s"store at $root is bucketed by '${priorKey.getOrElse("")}'; " +
        s"upsert requested '$keyCol' — the bucket key is immutable")
    // `__bucket` is a DATA column in the files (stageBuckets duplicates it
    // into `__dir`), so the read needs no partition discovery across
    // mixed version prefixes
    val touchedPaths = snap.toSeq.flatMap { s =>
      touched.flatMap(b => s.entries.get(b.toString))
        .map(rel => s"$root/$rel")
    }
    val stored =
      if (touchedPaths.isEmpty) None
      else Some(MergeInto.readRows(spark, root, snap.get, touchedPaths))
    val merged = fold(stored, incoming).withColumn("__bucket", bucket)
    val version = ManifestStore.versionAfter(snap)
    val rel = ManifestStore.dataRel(version)
    // bucket-id-stamped file names: readers (and downstream key joins)
    // get a HashPartitioning-declaring scan — zero-shuffle co-location,
    // same contract as the merge table
    val written = MergeInto.stageBuckets(spark, merged, root, rel)
    val entries = snap.map(_.entries).getOrElse(Map.empty[String, String]) ++
      written.map(b => b.toString -> s"$rel/__dir=$b") +
      (MergeInto.NumBucketsSlot -> numBuckets.toString) +
      (MergeInto.BucketKeySlot -> keyCol) +
      (MergeInto.SchemaSlot -> MergeInto.committedSchema(spark, root, snap,
        merged.schema).json)
    Some((version, entries))
  }

  /** Physical tombstone reclamation — the maintenance rewrite the upsert
    * path deliberately never does (see the object doc: tombstones stay in
    * the store so late lower-order replays can't resurrect a key).
    *
    * Drops tombstone rows whose `orderCol` is BELOW `horizon` — i.e. the
    * upstream can no longer replay anything that old, so the tombstone
    * has finished its job — and keeps younger tombstones guarding. One
    * full rewrite committed as a new version (all buckets; this is the
    * scheduled compaction pass, not a per-batch cost), after which a
    * [[ManifestStore.vacuum]] reclaims the superseded files.
    *
    * @param tombstoneCol boolean column marking tombstones (e.g. `deleted`)
    */
  def purgeTombstones(spark: SparkSession, root: String,
                      tombstoneCol: String, orderCol: String,
                      horizon: Long): Unit = {
    val snap = ManifestStore.latest(spark, root).getOrElse(return)
    val paths = ManifestStore.resolvePaths(root, snap)
    if (paths.isEmpty) return
    val kept = MergeInto.readRows(spark, root, snap, paths)
      .filter(!coalesce(col(tombstoneCol), lit(false)) ||
        col(orderCol) >= horizon)
    val version = ManifestStore.versionAfter(Some(snap))
    val rel = ManifestStore.dataRel(version)
    val written: Set[Int] = MergeInto.stageBuckets(spark, kept, root, rel)
    val dataSlots = snap.entries.keys
      .filterNot(ManifestStore.isMetaSlot).toSeq
    val entries = snap.entries -- dataSlots ++
      written.map(b => b.toString -> s"$rel/__dir=$b")
    ManifestStore.commit(spark, root, version, entries)
  }
}
