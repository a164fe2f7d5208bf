package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

/** The exactly-once protocol every STANDING STORE shares — a small table
  * folded forward batch by batch under [[ManifestStore]] commits (the
  * sketch/counter stores in this package, [[graft.sim.IvfStore]],
  * [[graft.text.PostingStore]]). A store supplies only its fold (or its
  * segment writer), its schema and its own metadata slots; everything
  * below lives here, once.
  *
  * Protocol, per merge:
  *   1. resolve ONE snapshot ([[ManifestStore.latest]]);
  *   2. GUARD: when the merge carries a `txnId` and the snapshot's
  *      `__lastTxn` slot records an applied id ≥ it, the merge is a
  *      no-op — `foreachBatch` is at-least-once, and a restarted query
  *      re-delivers its last batch under the same batch id, so
  *      "txn ≤ applied" means "already folded in" (the batch-id-keyed
  *      idempotent sink of Structured Streaming);
  *   3. read the current state from the SAME snapshot the guard saw
  *      ([[ManifestStore.readOrEmpty]] — recorded `__fs:` file statuses,
  *      no listing), so guard and fold can never disagree about which
  *      version they extend;
  *   4. stage the new data under a fresh, writer-unique
  *      [[ManifestStore.dataRel]] dir — IMMUTABLE once committed, never
  *      rewritten; a crash here leaves an orphan no manifest references,
  *      hence invisible to readers and reclaimed by
  *      [[ManifestStore.vacuum]];
  *   5. commit at `snapshot.version + 1` (compare-and-swap,
  *      [[ManifestStore.versionAfter]]) with every prior entry CARRIED —
  *      including `__lastTxn` when this merge has no txn: an out-of-band
  *      (txn-less) correction must not erase the stream's replay guard,
  *      or a later restart would re-apply its last batch and double-count.
  *      A txn-ful merge records its id in `__lastTxn`.
  *
  * Two commit shapes: [[rewrite]] (one slot replaced per merge — the
  * O(state) summary stores) and [[append]] (one segment added per merge
  * — the indexes); [[stream]] wires either to a micro-batch source with
  * the batch id as the txn.
  */
object StandingStore {

  private val LastTxnSlot = "__lastTxn"

  private def replayed(snap: Option[ManifestStore.Snapshot],
      txnId: Option[Long]): Boolean = {
    val applied = snap.flatMap(_.entries.get(LastTxnSlot)).map(_.toLong)
    txnId.exists(id => applied.exists(id <= _))
  }

  private def commit(spark: SparkSession, root: String, version: Long,
      entries: Map[String, String], txnId: Option[Long]): Unit =
    ManifestStore.commit(spark, root, version,
      entries ++ txnId.map(id => LastTxnSlot -> id.toString))

  /** SLOT-REWRITE merge: `fold(entries, current)` maps the snapshot's
    * entries and its `slot` state (`schema`; empty before the first
    * merge) to the new state, written as one file under
    * `<dataRel>/<slot>` and committed with `meta` (store-owned metadata
    * slots) and the txn.
    *
    * @param requireStore fail (no commit) when no snapshot exists — for
    *   stores whose `create` froze configuration the fold reads
    */
  def rewrite(spark: SparkSession, root: String, slot: String,
      schema: StructType, txnId: Option[Long],
      requireStore: Boolean = false, meta: Map[String, String] = Map.empty)
      (fold: (Map[String, String], DataFrame) => DataFrame): Unit = {
    val snap = ManifestStore.latest(spark, root)
    if (requireStore && snap.isEmpty)
      throw new IllegalStateException(s"no store at $root — create first")
    if (replayed(snap, txnId)) return
    val entries = snap.map(_.entries).getOrElse(Map.empty[String, String])
    val next = fold(entries,
      ManifestStore.readOrEmpty(spark, root, schema, snap))
    val version = ManifestStore.versionAfter(snap)
    val rel = ManifestStore.dataRel(version)
    next.coalesce(1).write.mode("errorifexists").parquet(s"$root/$rel/$slot")
    commit(spark, root, version, entries ++ meta + (slot -> s"$rel/$slot"),
      txnId)
  }

  /** SEGMENT-APPEND merge: `stage(entries, rel, version)` writes one
    * segment under `rel` and returns the slots it adds; the commit
    * carries every prior entry plus those.
    *
    * @param bootstrap this is the index's FIRST commit: refuse an
    *   existing index (instead of refusing a missing one), stage against
    *   no entries
    */
  def append(spark: SparkSession, root: String, txnId: Option[Long],
      bootstrap: Boolean = false)
      (stage: (Map[String, String], String, Long) => Map[String, String])
      : Unit = {
    val snap = ManifestStore.latest(spark, root)
    if (bootstrap)
      require(snap.isEmpty, s"index at $root already bootstrapped — use append")
    else if (snap.isEmpty)
      throw new IllegalStateException(s"no index at $root — bootstrap first")
    if (replayed(snap, txnId)) return
    val entries = snap.map(_.entries).getOrElse(Map.empty[String, String])
    val version = ManifestStore.versionAfter(snap)
    val added = stage(entries, ManifestStore.dataRel(version), version)
    commit(spark, root, version, entries ++ added, txnId)
  }

  /** The committed `schema` state of a store that must exist (empty
    * before its first merge).
    */
  def read(spark: SparkSession, root: String, schema: StructType): DataFrame = {
    val snap = ManifestStore.latest(spark, root)
    if (snap.isEmpty) throw new IllegalStateException(s"no store at $root")
    ManifestStore.readOrEmpty(spark, root, schema, snap)
  }

  /** Drive a store from a STREAM: `merge(batch, batchId)` per micro-batch,
    * the batch id being the txn that makes a re-delivered batch a no-op.
    *
    * AQE is pinned off for the batch: its session is the query's own
    * clone, where Spark turns AQE back on for a stateless query, and under
    * AQE every shuffle of the batch's work runs as a job of its own (a
    * [[KmvStore]] batch: 3 jobs instead of 1; a [[BucketedUpsert]] batch:
    * up to 7 instead of 2).
    */
  def stream(rows: DataFrame, checkpoint: String)
      (merge: (DataFrame, Long) => Unit): StreamingQuery =
    rows.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        batch.sparkSession.conf.set("spark.sql.adaptive.enabled", "false")
        merge(batch, id)
      }
      .start()
}
