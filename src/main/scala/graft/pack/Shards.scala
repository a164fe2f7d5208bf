package graft.pack

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Hash60
import graft.streaming.ManifestStore

/** Balanced training-shard emission — the LAST step of the corpus pipeline
  * (curate → dedup → pack → SHARD): split the corpus into `n` same-sized
  * output shards a training job can map one-to-one onto data-loader
  * workers.
  *
  * Assignment is a salted deterministic hash of the document id — not
  * round-robin on partition position — so shard membership is stable under
  * re-runs, insensitive to upstream partitioning, and reproducible by the
  * SQL oracle. Expected imbalance across shards is O(sqrt(docs/shard)),
  * i.e. fractions of a percent at any real corpus size.
  *
  * The writer stages every shard under one immutable version prefix and
  * publishes them with a single [[ManifestStore]] commit — a crashed write
  * leaves no visible shards, and a training job resolving the manifest sees
  * all shards of one version or none (the same visibility contract as the
  * engine's other stores).
  *
  * Scale shape: one hash-partitioned exchange on the shard id (the shuffle
  * is the point — it physically co-locates each shard's rows), then one
  * writer task per shard directory.
  */
object Shards {

  /** Deterministic shard id in [0, nShards). */
  def assign(docs: DataFrame, idCol: String, nShards: Int): DataFrame =
    docs.withColumn("__shard",
      Hash60(concat(lit("shard:"), col(idCol).cast("string")))
        % nShards.toLong)

  /** Stage + atomically publish `nShards` shard directories. */
  def write(spark: SparkSession, docs: DataFrame, root: String,
            idCol: String, nShards: Int): Unit = {
    val version = ManifestStore.versionAfter(ManifestStore.latest(spark, root))
    val rel = ManifestStore.dataRel(version)
    assign(docs, idCol, nShards)
      .repartition(nShards, col("__shard"))
      .write.mode("errorifexists").partitionBy("__shard")
      .parquet(s"$root/$rel")
    // partition-dir inference types __shard as INT on read-back
    val written = spark.read.parquet(s"$root/$rel")
      .select(col("__shard").cast("long")).distinct()
      .collect().map(_.getLong(0)) // ≤ nShards driver-side ints
    ManifestStore.commit(spark, root, version,
      written.map(sd => sd.toString -> s"$rel/__shard=$sd").toMap)
  }

  /** One shard's rows (a data-loader worker's slice). */
  def readShard(spark: SparkSession, root: String, shard: Int): DataFrame = {
    val snap = ManifestStore.latest(spark, root).getOrElse(
      throw new IllegalStateException(s"no published shards under $root"))
    val rel = snap.entries.getOrElse(shard.toString,
      throw new IllegalStateException(
        s"shard $shard not in manifest v${snap.version}"))
    spark.read.parquet(s"$root/$rel")
  }
}
