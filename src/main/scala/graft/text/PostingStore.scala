package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.Hash60
import graft.streaming.{ManifestStore, StandingStore}

/** Incrementally-maintained inverted index for BM25 retrieval — the text
  * twin of [[graft.sim.IvfStore]]: documents arrive in batches forever, but
  * a term lookup must never rescan (or re-tokenize) the corpus.
  *
  * Layout (manifest-committed like the engine's other mutable stores):
  * {{{
  *   <root>/data/v<N>/seg/__bucket=<b>/   batch N's postings, term-bucketed
  *   <root>/data/v<N>/stats/              batch N's (n_docs, sum_dl) row
  * }}}
  *
  * Ingest does the expensive half at WRITE time: each appended batch is
  * tokenized ONCE into (tok, doc_id, tf, dl) postings and written
  * Hive-partitioned by `__bucket = hash60(tok) % numBuckets`. A query for a
  * term set resolves its buckets DRIVER-SIDE (a few longs — index metadata,
  * not data) and pushes them as a partition-column `IN` filter, so only the
  * matching bucket directories of each segment are opened: query I/O is
  * O(query buckets), independent of corpus size and segment count. Corpus
  * stats (N, avgdl) merge by summing the per-segment one-row stats tables —
  * the mergeable-sketch shape, never a corpus rescan.
  *
  * Append contract: batches carry disjoint doc_ids (CDC upserts would go
  * through the merge table first). With that, an N-batch index is equal to
  * a one-shot build over the union — the invariant the gate's oracle
  * asserts by recomputing BM25 from raw documents in DuckDB.
  *
  * Commit protocol is [[StandingStore]]'s segment-append shape: a
  * crashed append leaves an orphaned `data/v<N>` no reader resolves;
  * readers see whole segments or nothing; `txnId` makes streaming appends
  * idempotent.
  */
object PostingStore {

  private val NumBucketsSlot = "__numBuckets"
  private def statsSlot(version: Long) = s"__stats-$version"

  /** Postings for one batch: (tok, doc_id, tf, dl, __bucket). One shuffle
    * (the per-doc-term count); dl is denormalized onto every posting so a
    * probe never needs a second doc-length lookup.
    */
  private def postings(docs: DataFrame, numBuckets: Int): DataFrame = {
    val withDl = docs.select(col("doc_id"),
      TextFunctions.tokenCount(col("text")).as("dl"),
      explode(TextFunctions.tokens(col("text"))).as("tok"))
    withDl.groupBy(col("tok"), col("doc_id"), col("dl"))
      .agg(count(lit(1)).as("tf"))
      .withColumn("__bucket", pmod(Hash60(col("tok")), lit(numBuckets)))
  }

  private def writeSegment(docs: DataFrame, root: String, rel: String,
      version: Long, numBuckets: Int): Map[String, String] = {
    postings(docs, numBuckets).write.mode("errorifexists")
      .partitionBy("__bucket").parquet(s"$root/$rel/seg")
    docs.agg(count(lit(1)).as("n_docs"),
        sum(TextFunctions.tokenCount(col("text"))).as("sum_dl"))
      .write.mode("errorifexists").parquet(s"$root/$rel/stats")
    Map(s"seg-$version" -> s"$rel/seg", statsSlot(version) -> s"$rel/stats")
  }

  def bootstrap(spark: SparkSession, docs: DataFrame, root: String,
                numBuckets: Int = 64, txnId: Option[Long] = None): Unit =
    StandingStore.append(spark, root, txnId, bootstrap = true) {
      (_, rel, version) =>
        writeSegment(docs, root, rel, version, numBuckets) +
          (NumBucketsSlot -> numBuckets.toString)
    }

  /** Append a batch of NEW documents as one segment; existing segments are
    * never touched, so appends stay O(batch) as the index grows.
    */
  def append(spark: SparkSession, docs: DataFrame, root: String,
             txnId: Option[Long] = None): Unit =
    StandingStore.append(spark, root, txnId) { (entries, rel, version) =>
      writeSegment(docs, root, rel, version, entries(NumBucketsSlot).toInt)
    }

  /** Maintain the index from a STREAM of documents — each micro-batch
    * appends one manifest-committed segment with the batch id as the
    * idempotence txn (the first batch bootstraps, carrying its txn id too,
    * so an at-least-once replay of ANY batch — including batch 0 — is a
    * no-op).
    */
  def appendStream(spark: SparkSession, docs: DataFrame, root: String,
                   checkpoint: String, numBuckets: Int = 64)
      : org.apache.spark.sql.streaming.StreamingQuery =
    StandingStore.stream(docs, checkpoint) { (batch, id) =>
      if (ManifestStore.latest(spark, root).isEmpty)
        bootstrap(spark, batch, root, numBuckets, txnId = Some(id))
      else append(spark, batch, root, txnId = Some(id))
    }

  /** BM25 top-k for a fixed term set against the standing index. Opens
    * only the terms' bucket directories (partition-pruned `IN`); stats
    * merge by summing the per-segment rows; scoring is [[Bm25.topK]] — the
    * identical expression tree the ad-hoc q52 gate uses.
    */
  def topK(spark: SparkSession, root: String, terms: Seq[String], k: Int)
      : DataFrame = {
    val snap = ManifestStore.latest(spark, root).getOrElse(
      throw new IllegalStateException(s"no index at $root"))
    val nb = snap.entries(NumBucketsSlot).toInt
    val buckets = terms
      .map(t => Hash60.hash(UTF8String.fromString(t)) % nb).distinct

    val segs = ManifestStore.resolvePaths(root, snap)
      .map(p => spark.read.parquet(p)).reduce(_.unionByName(_))
    val hits = segs.filter(col("__bucket").isin(buckets: _*))
      .filter(col("tok").isin(terms: _*))
      .select(col("doc_id"), col("dl"), col("tok"), col("tf"))

    val statsPaths = snap.entries.collect {
      case (slot, rel) if slot.startsWith("__stats-") => s"$root/$rel"
    }.toSeq
    val stats = statsPaths.map(p => spark.read.parquet(p))
      .reduce(_.unionByName(_))
      .agg(sum(col("n_docs")).as("n_docs"), sum(col("sum_dl")).as("sum_dl"))
      .select(col("n_docs"),
        (col("sum_dl").cast("double") / col("n_docs")).as("avgdl"))

    val dfq = hits.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    Bm25.topK(hits, dfq, stats, k)
  }

  /** Segment compaction — the maintenance pass a long-lived index needs: a
    * streaming writer leaves one segment per micro-batch and every probe
    * unions them all. Rewrites current postings as ONE bucket-partitioned
    * segment and current stats as ONE row, committed atomically (concurrent
    * readers keep their snapshot; a crash leaves an invisible orphan).
    * Rows are untouched — same postings, fewer files;
    * [[ManifestStore.vacuum]] reclaims superseded segments afterwards.
    */
  def compact(spark: SparkSession, root: String): Unit = {
    val snap = ManifestStore.latest(spark, root).getOrElse(return)
    val segSlots = snap.entries.keys.filter(_.startsWith("seg-")).toSeq
    val statSlots = snap.entries.keys.filter(_.startsWith("__stats-")).toSeq
    if (segSlots.size <= 1) return // nothing to merge
    val all = segSlots.map(sl => spark.read.parquet(s"$root/${snap.entries(sl)}"))
      .reduce(_.unionByName(_))
    val stats = statSlots.map(sl => spark.read.parquet(s"$root/${snap.entries(sl)}"))
      .reduce(_.unionByName(_))
      .agg(sum(col("n_docs")).as("n_docs"), sum(col("sum_dl")).as("sum_dl"))
    val version = ManifestStore.versionAfter(Some(snap))
    val rel = ManifestStore.dataRel(version)
    all.write.mode("errorifexists").partitionBy("__bucket")
      .parquet(s"$root/$rel/seg")
    stats.write.mode("errorifexists").parquet(s"$root/$rel/stats")
    ManifestStore.commit(spark, root, version,
      snap.entries -- segSlots -- statSlots +
        (s"seg-$version" -> s"$rel/seg") +
        (statsSlot(version) -> s"$rel/stats"))
  }

  /** Streamed twin of [[materializedDocsDir]]: the index is built by the
    * REAL `appendStream` writer over two single-file micro-batches (even
    * doc_ids, then odd; chunk mtimes stamped ascending so FileStreamSource
    * admits them in that order). Same end state as the batch fixture and
    * the one-shot build — which is what the shared oracle recomputes.
    */
  def materializedStreamDocsDir(spark: SparkSession, sfDir: String)
      : String = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val root = graft.streaming.FixtureLock.root(sfDir, "posting_stream_v1")
    val store = root.resolve("store").toString
    graft.streaming.FixtureLock.once(root) {
        val docs = graft.ops.Tables(spark, sfDir, "documents")
        val chunkDir = root.resolve("chunks")
        Files.createDirectories(chunkDir)
        Seq(col("doc_id") % 2 === 0, col("doc_id") % 2 === 1)
          .zipWithIndex.foreach { case (pred, i) =>
            val tmp = root.resolve(s"tmp$i").toString
            docs.filter(pred).coalesce(1).write.mode("overwrite").parquet(tmp)
            val part = Files.list(Paths.get(tmp)).iterator()
            var src: java.nio.file.Path = null
            while (part.hasNext) {
              val p = part.next()
              if (p.getFileName.toString.startsWith("part-")) src = p
            }
            val tgt = chunkDir.resolve(f"chunk$i%04d.parquet")
            Files.copy(src, tgt, StandardCopyOption.REPLACE_EXISTING)
            // pin batch order: strictly increasing mtimes
            tgt.toFile.setLastModified(1700000000000L + i * 600000L)
          }
        val src = spark.readStream.schema(docs.schema)
          .option("maxFilesPerTrigger", 1)
          .parquet(chunkDir.toString)
        val q = appendStream(spark, src, store,
          root.resolve("ckpt").toString)
        q.processAllAvailable()
        q.stop()
    }
    store
  }

  /** Materialize the two-batch index fixture once per scale factor: even
    * doc_ids bootstrap, odd doc_ids append as a second segment. Batch
    * disjointness makes the index equal to a one-shot build — which is
    * what the gate's oracle recomputes from raw documents.
    */
  def materializedDocsDir(spark: SparkSession, sfDir: String): String = {
    val root = graft.streaming.FixtureLock.root(sfDir, "posting_index_v1")
    graft.streaming.FixtureLock.once(root) {
        val d = graft.ops.Tables(spark, sfDir, "documents")
        bootstrap(spark, d.filter(col("doc_id") % 2 === 0), root.toString)
        append(spark, d.filter(col("doc_id") % 2 === 1), root.toString)
    }
    root.toString
  }
}
