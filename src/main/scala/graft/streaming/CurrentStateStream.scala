package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.streaming.Scd2Stream.Change

/** Streaming CURRENT-STATE maintenance — the stateful twin of the batch
  * `cdc_current_state` compaction (latest event per key wins, deletes drop
  * the key): `mapGroupsWithState` keyed by the business key, state = the
  * newest event folded so far, one upsert row emitted per touched key per
  * micro-batch.
  *
  * Where [[Scd2Stream]] materializes full version history, this keeps only
  * the head — the dimension most serving layers actually read. Deleted keys
  * emit a `deleted = true` tombstone row so a downstream upsert sink can
  * remove them (state is retained to keep dropping late/lower-LSN replays
  * deterministically; set a timeout in a real deployment if deleted keys
  * must eventually vacate state).
  *
  * Scale shape: state is one row per live key; the only exchange is the
  * hash-by-key shuffle the stateful operator needs — identical partitioning
  * to the batch window, so the two paths cost the same per event. LSN
  * regressions (late replays) are dropped exactly like the batch
  * row_number-over-lsn keeps only the newest.
  */
object CurrentStateStream {

  /** One emitted current-state row; `deleted` keys should be removed by the
    * consuming upsert.
    */
  case class Current(id: Long, status: Option[String],
                     totalprice: Option[Double], log_seq_num: Long,
                     deleted: Boolean)

  /** Per-key state: the newest event's payload. */
  case class CurState(status: Option[String], totalprice: Option[Double],
                      lsn: Long, deleted: Boolean)

  /** Fold one key's micro-batch: keep the highest-LSN event newer than the
    * state. Exposed for direct unit testing of the pure transition.
    */
  def foldKey(id: Long, events: Seq[Change], prior: Option[CurState])
      : (Option[Current], Option[CurState]) = {
    val fresh = events.filter(e => prior.forall(_.lsn < e.log_seq_num))
    if (fresh.isEmpty) return (None, prior)
    val last = fresh.maxBy(_.log_seq_num)
    val st = CurState(last.status, last.totalprice, last.log_seq_num,
      last.operation_type == "DELETE")
    (Some(Current(id, st.status, st.totalprice, st.lsn, st.deleted)), Some(st))
  }

  private def stateFunc(id: Long, events: Iterator[Change],
                        state: GroupState[CurState]): Current = {
    val (row, next) =
      foldKey(id, events.toSeq, if (state.exists) Some(state.get) else None)
    next.foreach(state.update)
    // mapGroupsWithState must return one value per key; a batch whose
    // events were all stale re-emits the unchanged current row (an
    // idempotent upsert downstream).
    row.getOrElse {
      val s = state.get
      Current(id, s.status, s.totalprice, s.lsn, s.deleted)
    }
  }

  /** Wire the stateful transform over a streaming (or batch) Dataset. */
  def currentState(changes: Dataset[Change]): Dataset[Current] = {
    import changes.sparkSession.implicits._
    changes.groupByKey(_.id)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout())(stateFunc)
  }

  /** Full incremental pipeline: change stream → stateful current-state →
    * per-batch [[BucketedUpsert]] into a manifest-committed key-latest
    * store at `storePath`. Tombstones stay in the store (their LSN drops
    * late replays); [[readCurrent]] filters them.
    */
  def storeStream(changes: Dataset[Change], storePath: String,
                  checkpoint: String, numBuckets: Int = 64) =
    currentState(changes).writeStream
      .outputMode(OutputMode.Update())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[Current], _: Long) =>
        // one stateful fold per batch (see Scd2Stream.dimensionStream)
        batch.persist()
        try BucketedUpsert.upsertBatch(batch.sparkSession, batch.toDF(),
          storePath, "id", "log_seq_num", numBuckets)
        finally batch.unpersist()
      }
      .start()

  /** The maintained table's committed live rows (tombstones filtered). */
  def readCurrent(spark: SparkSession, storePath: String): DataFrame =
    ManifestStore.read(spark, storePath)
      .filter(!col("deleted"))
      .select("id", "status", "totalprice", "log_seq_num")
}
