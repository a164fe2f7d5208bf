package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.cdc.Scd2

/** Incremental SCD2 — SURVEY §7.3 "hard part #1".
  *
  * The reference recomputes its SCD2 dimension from the whole lake on every
  * query (batch recompute = the parity bar, served by [[graft.cdc.Scd2]]).
  * This is the streaming upgrade: each micro-batch of change events is
  * folded against the rows the dimension already holds for the buckets its
  * keys hash into ([[BucketedUpsert]]). A key's stored open version
  * (`closed = false`) is its prior state; the batch's newer events close it
  * and open the next versions, the last one carrying the sentinel
  * expiration. No state store keeps a second copy of that head, so the
  * dimension is the whole state: a [[ManifestStore.restore]] rolls the
  * stream back with it, and a re-delivered batch folds to the stored rows.
  *
  * Ordering: events within a micro-batch are folded in LSN order; events
  * at or below the stored open version's LSN are dropped (replays, and
  * cross-batch regressions — the at-least-once dedup upstream
  * ([[Landing.dedupWithinWatermark]]) makes genuine regressions impossible
  * short of a source rewind).
  */
object Scd2Stream {

  /** One decoded change event (the orders-fixture payload shape). */
  case class Change(id: Long, status: Option[String],
                    totalprice: Option[Double], operation_type: String,
                    log_seq_num: Long, source_timestamp: Timestamp)

  /** One stored SCD2 version row. `closed` marks rows that can never change
    * again (their expiration is final); the one open row per key carries
    * the sentinel and is replaced as its key evolves. `lsn` is the LSN of
    * the event that OPENED this version: it distinguishes two versions of
    * one key that share a start timestamp (rapid CDC updates inside the
    * same millisecond — distinct LSNs, equal `source_timestamp`), which a
    * (id, start)-keyed upsert would otherwise collapse, silently dropping a
    * version the batch [[graft.cdc.Scd2]] derivation retains.
    */
  case class Version(id: Long, status: Option[String],
                     totalprice: Option[Double],
                     row_valid_start_timestamp: Timestamp,
                     row_valid_expiration_timestamp: Timestamp,
                     closed: Boolean, lsn: Long)

  val sentinel: Timestamp = Timestamp.valueOf("9999-01-01 00:00:00")

  /** Fold one key's micro-batch `events` against its stored open version
    * `prior`: the rows that replace `prior` in the dimension. Events at or
    * below `prior`'s LSN are dropped and a duplicated LSN counts once; each
    * remaining event, in LSN order, closes the version before it and opens
    * its own. With no fresh event the result is `prior` unchanged.
    */
  def foldKey(id: Long, events: Seq[Change], prior: Option[Version])
      : Seq[Version] = {
    val fresh = events.filter(e => prior.forall(_.lsn < e.log_seq_num))
      .sortBy(_.log_seq_num).distinctBy(_.log_seq_num)
    val versions = prior.toSeq ++ fresh.map(e => Version(id, e.status,
      e.totalprice, e.source_timestamp, sentinel, closed = false,
      lsn = e.log_seq_num))
    versions.zip(versions.drop(1)).map { case (v, next) =>
      v.copy(row_valid_expiration_timestamp = next.row_valid_start_timestamp,
        closed = true)
    } ++ versions.lastOption
  }

  /** The stream's [[BucketedUpsert.Fold]]: per key of the touched buckets,
    * the closed rows pass through and the open row is [[foldKey]]'s prior
    * version.
    */
  private val foldBatch: BucketedUpsert.Fold =
    (stored, changes) => {
      val spark = changes.sparkSession
      import spark.implicits._
      val rows = stored.fold(spark.emptyDataset[Version])(_.as[Version])
      changes.as[Change].groupByKey(_.id)
        .cogroup(rows.groupByKey(_.id)) { (id, events, keyRows) =>
          val (open, closed) = keyRows.toSeq.partition(!_.closed)
          require(open.size <= 1,
            s"dimension holds ${open.size} open versions of key $id")
          closed ++ foldKey(id, events.toSeq, open.headOption)
        }.toDF()
    }

  /** Batch-parity helper: the streamed versions of a *complete* change log
    * must equal the batch [[Scd2.scd2]] output restricted to multi-event
    * keys. Used by the spec; also a convenient materialized view.
    */
  def batchEquivalent(spark: SparkSession, changes: Dataset[Change]) = {
    Scd2.scd2(changes.toDF(), "id", "log_seq_num", "source_timestamp",
      Seq("status", "totalprice"))
  }

  /** Maintain a manifest-committed parquet dimension at `dimPath` from a
    * change stream, key-BUCKETED so a batch rewrites only the buckets its
    * keys hash into — not the whole dimension. Read the dimension back with
    * [[readDimension]] (a plain `spark.read.parquet(dimPath)` sees staged +
    * superseded files too).
    *
    * Layout: [[ManifestStore]] slots are bucket ids
    * (`pmod(hash(id), numBuckets)`); each commit's rewritten buckets live
    * under an immutable `data/v<N>-<uid>/__dir=<b>/` prefix and the
    * manifest points every bucket at its current prefix.
    *
    * Per batch ([[BucketedUpsert.stream]]): (1) the batch of change rows is
    * persisted, so its decode runs once for both actions below; (2) the
    * touched-bucket set (a ≤ numBuckets-int driver-side collect — metadata
    * on the same order as a table format's file index, not a data
    * collect); an empty set stages and commits nothing; (3) one write job
    * reads ONLY those buckets' current data dirs (manifest-pruned scan),
    * folds the batch's events against their stored rows ([[foldKey]] per
    * key) and stages the rewritten buckets under a fresh versioned prefix.
    * The commit is one atomic manifest publish ([[ManifestStore]] documents
    * why that is object-store-safe). Untouched buckets' files are never
    * opened, read, rewritten, or even re-pointed. A crash between stage
    * and commit leaves readers on the old dimension; they can never
    * observe a mix. Rewrite cost per batch is
    * O(dimension/numBuckets × touched buckets), not O(dimension).
    *
    * This is the same merge a Delta/Iceberg `MERGE` would run, with the
    * manifest pointer standing in for their transaction log.
    */
  def dimensionStream(changes: Dataset[Change], dimPath: String,
                      checkpoint: String,
                      numBuckets: Int = 64): StreamingQuery =
    BucketedUpsert.stream(changes.toDF(), dimPath, "id", checkpoint,
      numBuckets)(foldBatch)

  /** Upsert [[Version]] rows into the dimension at `dimPath` (the layout of
    * [[dimensionStream]]): the newest row wins per
    * (id, row_valid_start_timestamp, lsn), so same-millisecond versions
    * with distinct LSNs both survive, matching the batch derivation.
    */
  def upsertBatch(spark: SparkSession, batch: Dataset[Version],
                  dimPath: String, numBuckets: Int = 64): Unit =
    stageBatch(spark, batch, dimPath, numBuckets)
      .foreach { case (v, e) => ManifestStore.commit(spark, dimPath, v, e) }

  /** The stage half of [[upsertBatch]]: None for an empty batch. Split out
    * so the crash-injection spec can stop exactly between stage and commit.
    */
  private[streaming] def stageBatch(spark: SparkSession,
      batch: Dataset[Version], dimPath: String,
      numBuckets: Int): Option[(Long, Map[String, String])] =
    BucketedUpsert.stageBatch(spark, batch.toDF(), dimPath, "id", numBuckets)(
      BucketedUpsert.newest(Window.partitionBy(col("id"),
        col("row_valid_start_timestamp"), col("lsn")).orderBy(col("__p").desc)))

  /** The dimension's current committed state. */
  def readDimension(spark: SparkSession, dimPath: String): Dataset[Version] = {
    import spark.implicits._
    ManifestStore.read(spark, dimPath)
      .select(col("id"), col("status"), col("totalprice"),
        col("row_valid_start_timestamp"),
        col("row_valid_expiration_timestamp"), col("closed"), col("lsn"))
      .as[Version]
  }
}
