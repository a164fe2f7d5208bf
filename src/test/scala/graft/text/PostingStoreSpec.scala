package graft.text

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.streaming.ManifestStore

class PostingStoreSpec extends SparkSpec {

  import spark.implicits._

  private def freshRoot(): String =
    Files.createTempDirectory("posting_store_spec").toString + "/idx"

  private def corpus(ids: Range) =
    ids.map(i => (i.toLong, s"alpha beta gamma doc$i " + ("alpha " * (i % 3))))
      .toDF("doc_id", "text")

  test("incremental two-batch build equals a one-shot build") {
    val inc = freshRoot()
    PostingStore.bootstrap(spark, corpus(0 until 50), inc, numBuckets = 8)
    PostingStore.append(spark, corpus(50 until 90), inc)
    val one = freshRoot()
    PostingStore.bootstrap(spark, corpus(0 until 90), one, numBuckets = 8)
    val q = Seq("alpha", "beta")
    val a = PostingStore.topK(spark, inc, q, 10)
      .as[(Long, Double, Long)].collect().toSeq
    val b = PostingStore.topK(spark, one, q, 10)
      .as[(Long, Double, Long)].collect().toSeq
    assert(a == b && a.size == 10)
  }

  test("staged-but-uncommitted segments are invisible to probes") {
    val root = freshRoot()
    PostingStore.bootstrap(spark, corpus(0 until 30), root, numBuckets = 4)
    val before = PostingStore.topK(spark, root, Seq("alpha"), 5)
      .as[(Long, Double, Long)].collect().toSeq
    // "crash": a writer stages a full segment but dies before the commit
    val orphanRel = ManifestStore.dataRel(
      ManifestStore.versionAfter(ManifestStore.latest(spark, root)))
    corpus(1000 until 1100)
      .select(col("doc_id"), lit(4L).as("dl"), lit("alpha").as("tok"),
        lit(1L).as("tf"), lit(0L).as("__bucket"))
      .write.partitionBy("__bucket").parquet(s"$root/$orphanRel/seg")
    assert(PostingStore.topK(spark, root, Seq("alpha"), 5)
      .as[(Long, Double, Long)].collect().toSeq == before)
  }

  test("replayed txnIds are no-ops (at-least-once appends stay exactly-once)") {
    val root = freshRoot()
    PostingStore.bootstrap(spark, corpus(0 until 20), root, numBuckets = 4)
    PostingStore.append(spark, corpus(20 until 40), root, txnId = Some(1L))
    val v = ManifestStore.latest(spark, root).get.version
    PostingStore.append(spark, corpus(20 until 40), root, txnId = Some(1L))
    assert(ManifestStore.latest(spark, root).get.version == v,
      "replayed append must not commit a new version")
  }

  test("a probe's scan is partition-pruned to the query terms' buckets") {
    val root = freshRoot()
    PostingStore.bootstrap(spark, corpus(0 until 40), root, numBuckets = 16)
    val plan = PostingStore.topK(spark, root, Seq("alpha"), 5)
      .queryExecution.executedPlan.toString
    // the partition filter must reach the scan: pruning happens at
    // planning, so the bucket predicate appears as a PartitionFilters
    // entry on __bucket, not a post-scan Filter
    assert(plan.contains("PartitionFilters") && plan.contains("__bucket"),
      s"bucket predicate did not reach the scan:\n$plan")
  }

  test("compaction folds segments without changing any probe result") {
    val root = freshRoot()
    PostingStore.bootstrap(spark, corpus(0 until 30), root, numBuckets = 8)
    PostingStore.append(spark, corpus(30 until 60), root)
    PostingStore.append(spark, corpus(60 until 80), root)
    val before = PostingStore.topK(spark, root, Seq("alpha", "beta"), 10)
      .as[(Long, Double, Long)].collect().toSeq
    PostingStore.compact(spark, root)
    val snap = ManifestStore.latest(spark, root).get
    assert(snap.entries.keys.count(_.startsWith("seg-")) == 1,
      "compaction must leave exactly one posting segment")
    assert(snap.entries.keys.count(_.startsWith("__stats-")) == 1,
      "compaction must leave exactly one stats row")
    val after = PostingStore.topK(spark, root, Seq("alpha", "beta"), 10)
      .as[(Long, Double, Long)].collect().toSeq
    assert(after == before)
  }

  test("stats merge across segments: N and avgdl cover every batch") {
    val root = freshRoot()
    PostingStore.bootstrap(spark, corpus(0 until 10), root, numBuckets = 4)
    PostingStore.append(spark, corpus(10 until 30), root)
    // every doc contains 'gamma' exactly once → n_terms_hit rows == N docs
    val hits = PostingStore.topK(spark, root, Seq("gamma"), 1000).count()
    assert(hits == 30)
  }
}
