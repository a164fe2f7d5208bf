package graft.streaming

import java.io.File
import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

import graft.SparkSpec

/** Job budget of one `MergeInto.mergeBatch` into a non-empty 64-bucket
  * table: 6 jobs, 3 for the one source probe (count, distinct-key count
  * and touched-bucket set in one aggregate) and 3 for the write (source
  * shuffle, target scan, bucket write); at most one data file per touched
  * bucket; and a replayed txn starts no job at all.
  */
class MergeBatchJobsSpec extends SparkSpec {

  import spark.implicits._

  private val Group = "merge-batch-jobs"

  /** Jobs started under [[Group]]. */
  private object Jobs extends SparkListener {
    val n = new AtomicInteger
    override def onJobStart(e: SparkListenerJobStart): Unit =
      if (Option(e.properties).exists(
          _.getProperty("spark.jobGroup.id") == Group)) n.incrementAndGet()
  }

  private def jobsOf(body: => Unit): Int = {
    ListenerBusDrain(spark.sparkContext)
    Jobs.n.set(0)
    spark.sparkContext.setJobGroup(Group, Group)
    try body finally spark.sparkContext.clearJobGroup()
    ListenerBusDrain(spark.sparkContext)
    Jobs.n.get
  }

  test("a non-empty 64-bucket merge is 6 jobs; a replayed txn is none") {
    val root = Files.createTempDirectory("graft-merge-jobs").toString
    MergeInto.mergeBatch(spark,
      (1L to 20000L).map(i => (i, s"v$i")).toDF("id", "v"), root, "id",
      txnId = Some(1L))
    // half updates of stored keys, half new keys: every bucket is touched
    val batch = (10001L to 30000L).map(i => (i, s"w$i")).toDF("id", "v")
    spark.sparkContext.addSparkListener(Jobs)
    try {
      val n = jobsOf(MergeInto.mergeBatch(spark, batch, root, "id",
        txnId = Some(2L)))
      assert(n == 6, s"$n jobs for one merge batch")

      val snap = ManifestStore.latest(spark, root).get
      val buckets = snap.entries.filter(_._1.forall(_.isDigit))
      assert(buckets.size == 64)
      buckets.values.foreach { rel =>
        val files = new File(s"$root/$rel").list()
          .filter(f => f.startsWith("part-") && f.endsWith(".parquet"))
        assert(files.length <= 1, s"${files.length} data files in $rel")
      }
      assert(MergeInto.readTable(spark, root).count() == 30000L)

      assert(jobsOf(MergeInto.mergeBatch(spark, batch, root, "id",
        txnId = Some(2L))) == 0, "a replayed txn starts no job")
      assert(ManifestStore.latest(spark, root).get.version == snap.version)
    } finally spark.sparkContext.removeSparkListener(Jobs)
  }
}
