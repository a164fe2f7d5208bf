package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._

/** Generic manifest-committed bucketed KEY-LATEST store — the upsert shape
  * a current-state (compacted) table needs, factored out of the
  * SCD2-specific merge in [[Scd2Stream]]: one row per key survives, the
  * row with the highest `orderCol` (incoming beats stored on ties, making
  * replays idempotent).
  *
  * Same scale contract as the dimension store: a batch rewrites ONLY the
  * buckets its keys hash into (manifest-pruned read of those buckets, one
  * window merge, staged write under an immutable versioned prefix, one
  * atomic manifest commit); untouched buckets are never opened. Cost per
  * batch is O(store/numBuckets × touched buckets + batch), not O(store).
  * A batch is two Spark jobs: the touched-bucket collect (an empty set
  * means an empty batch — nothing staged or committed) and the write.
  * Streaming callers persist the batch so both read it once.
  *
  * Deletes: callers keep tombstone rows (e.g. a `deleted` flag) IN the
  * store rather than physically removing keys — the tombstone's order
  * value keeps dropping late lower-order replays that would otherwise
  * resurrect the key; the read path filters them. Physical reclamation is
  * a maintenance rewrite (like a table format's purge), not an upsert
  * concern.
  */
object BucketedUpsert {

  def upsertBatch(spark: SparkSession, batch: DataFrame, root: String,
                  keyCol: String, orderCol: String,
                  numBuckets: Int = 64): Unit =
    stageBatch(spark, batch, root, keyCol, numBuckets, Window
      .partitionBy(col(keyCol)).orderBy(col(orderCol).desc, col("__p").desc))
      .foreach { case (v, e) => ManifestStore.commit(spark, root, v, e) }

  /** The stage half of an upsert, shared with [[Scd2Stream.stageBatch]]:
    * merge the touched buckets' rows with `batch`, keeping the first row
    * of each `newest` window partition (stored rows carry `__p` = 0,
    * incoming 1), and stage them under a fresh versioned prefix WITHOUT
    * committing. Returns the version and the entry map a commit of it
    * publishes, or None for an empty batch.
    */
  private[streaming] def stageBatch(spark: SparkSession, batch: DataFrame,
      root: String, keyCol: String, numBuckets: Int,
      newest: WindowSpec): Option[(Long, Map[String, String])] = {
    val incoming = batch
      .withColumn("__bucket", pmod(hash(col(keyCol)), lit(numBuckets)))
      .withColumn("__p", lit(1))
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
    val base =
      if (touchedPaths.nonEmpty)
        MergeInto.readRows(spark, root, snap.get, touchedPaths)
          .withColumn("__p", lit(0)).unionByName(incoming)
      else incoming
    val merged = base
      .withColumn("__r", row_number().over(newest))
      .filter(col("__r") === 1).drop("__p", "__r")
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
