package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQuery

import graft.streaming.Scd2Stream.Change

/** Streaming CURRENT-STATE maintenance — the streamed twin of the batch
  * `cdc_current_state` compaction (latest event per key wins, deletes drop
  * the key).
  *
  * Where [[Scd2Stream]] materializes full version history, this keeps only
  * the head — the dimension most serving layers actually read. Each
  * micro-batch is folded against the store's rows for the buckets its keys
  * hash into ([[BucketedUpsert]]'s key-latest fold on `log_seq_num`): the
  * highest-LSN event per key wins over the stored row, so LSN regressions
  * (late replays) are dropped exactly like the batch row_number-over-lsn
  * keeps only the newest, and a re-delivered batch folds to the stored
  * rows. Deleted keys become `deleted = true` tombstone rows, which stay in
  * the store so their LSN keeps dropping late replays;
  * [[BucketedUpsert.purgeTombstones]] reclaims those behind the upstream's
  * replay horizon.
  */
object CurrentStateStream {

  /** Full incremental pipeline: change stream → per-batch
    * [[BucketedUpsert]] into a manifest-committed key-latest store at
    * `storePath` with columns (id, status, totalprice, log_seq_num,
    * deleted); [[readCurrent]] filters the tombstones.
    */
  def storeStream(changes: Dataset[Change], storePath: String,
                  checkpoint: String, numBuckets: Int = 64): StreamingQuery =
    BucketedUpsert.stream(
      changes.select(col("id"), col("status"), col("totalprice"),
        col("log_seq_num"), col("operation_type").eqNullSafe("DELETE")
          .as("deleted")),
      storePath, "id", checkpoint, numBuckets)(
      BucketedUpsert.latest("id", "log_seq_num"))

  /** The maintained table's committed live rows (tombstones filtered). */
  def readCurrent(spark: SparkSession, storePath: String): DataFrame =
    ManifestStore.read(spark, storePath)
      .filter(!col("deleted"))
      .select("id", "status", "totalprice", "log_seq_num")
}
