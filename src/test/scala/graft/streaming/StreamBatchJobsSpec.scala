package graft.streaming

import java.io.File
import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.SparkSpec
import graft.cdc.Decode
import graft.model.Envelope
import graft.streaming.Scd2Stream.Change

/** Job budget of one store micro-batch. A bucketed-store batch is persisted,
  * so it is decoded once, and a batch is at most two Spark jobs: the
  * touched-bucket collect and the write, whose fold reads the stored rows,
  * with no emptiness probes. The streams are stateless: no state operator,
  * no `state/` dir in the checkpoint. A batch that decodes to zero change
  * rows commits nothing. A one-slot standing-store batch is its one write.
  */
class StreamBatchJobsSpec extends SparkSpec {

  import spark.implicits._
  import StreamBatchJobsSpec._

  /** Micro-batch ids of every job the query with `runId` starts. */
  private class BatchJobs(runId: String) extends SparkListener {
    private val batches = new ConcurrentLinkedQueue[String]
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties)
        .filter(_.getProperty("spark.jobGroup.id") == runId)
        .foreach(p => batches.add(p.getProperty("streaming.sql.batchId")))
    def of(batch: Long): Int = {
      ListenerBusDrain(spark.sparkContext)
      batches.asScala.count(_ == batch.toString)
    }
  }

  private def awaitBatch(q: StreamingQuery, batch: Long): Unit = {
    q.processAllAvailable()
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (Option(q.lastProgress).forall(_.batchId < batch)) {
      assert(System.nanoTime() < deadline, s"batch $batch never reported")
      Thread.sleep(5)
    }
  }

  private def dataDirs(root: String): Set[String] =
    Option(new File(root, "data").list()).map(_.toSet).getOrElse(Set.empty)

  private def checkBudget(name: String,
      start: (Dataset[Change], String, String) => StreamingQuery): Unit = {
    implicit val sqlCtx = spark.sqlContext
    val base = Files.createTempDirectory(name).toString
    val root = s"$base/store"
    val input = MemoryStream[String]
    val q = start(changes(spark, input), root, s"$base/ckpt")
    val jobs = new BatchJobs(q.runId.toString)
    spark.sparkContext.addSparkListener(jobs)
    try {
      input.addData((1L to 40L).map(id => envelope("c", id, "a", id)))
      awaitBatch(q, 0)
      // the measured batch: 20 updates of stored keys + 20 new keys
      input.addData((1L to 20L).map(id => envelope("u", id, "b", 100 + id)) ++
        (41L to 60L).map(id => envelope("c", id, "a", 100 + id)))
      awaitBatch(q, 1)
      assert(q.lastProgress.stateOperators.isEmpty, "a stateless stream")
      assert(!new File(s"$base/ckpt/state").exists(),
        "the checkpoint holds no state store")
      val n = jobs.of(1)
      assert(n >= 1 && n <= 2, s"$n jobs for one micro-batch")

      val version = ManifestStore.latest(spark, root).get.version
      val dirs = dataDirs(root)
      input.addData(Seq.fill(5)(Tombstone))
      awaitBatch(q, 2)
      assert(q.lastProgress.numInputRows == 5)
      assert(ManifestStore.latest(spark, root).get.version == version)
      assert(dataDirs(root) == dirs, "an empty batch stages nothing")
    } finally {
      q.stop()
      spark.sparkContext.removeSparkListener(jobs)
    }
  }

  test("Scd2Stream.dimensionStream: one fold and at most two jobs per batch") {
    checkBudget("graft-jobs-scd2", (c, root, ckpt) =>
      Scd2Stream.dimensionStream(c, root, ckpt, numBuckets = 8))
  }

  test("CurrentStateStream.storeStream: one fold and at most two jobs per batch") {
    checkBudget("graft-jobs-current", (c, root, ckpt) =>
      CurrentStateStream.storeStream(c, root, ckpt, numBuckets = 8))
  }

  test("KmvStore.mergeStream: a standing-store batch is one job") {
    implicit val sqlCtx = spark.sqlContext
    val base = Files.createTempDirectory("graft-jobs-kmv").toString
    val input = MemoryStream[(String, Long)]
    val q = KmvStore.mergeStream(spark, input.toDF().toDF("group", "h"),
      s"$base/store", 4, s"$base/ckpt")
    val jobs = new BatchJobs(q.runId.toString)
    spark.sparkContext.addSparkListener(jobs)
    try {
      input.addData((1L to 40L).map(i => (s"g${i % 3}", i * 37 % 101)))
      awaitBatch(q, 0)
      input.addData((41L to 80L).map(i => (s"g${i % 3}", i * 37 % 101)))
      awaitBatch(q, 1)
      // the one write; with AQE on in the batch's session it was three
      assert(jobs.of(1) == 1, s"${jobs.of(1)} jobs for one micro-batch")
    } finally {
      q.stop()
      spark.sparkContext.removeSparkListener(jobs)
    }
  }
}

object StreamBatchJobsSpec {

  def envelope(op: String, id: Long, status: String, lsn: Long): String =
    s"""{"value":{"before":null,"after":{"id":$id,"status":"$status",""" +
      s""""totalprice":$lsn.5},"source":{"ts_ms":""" +
      s"""${1700000000000L + lsn * 1000},"lsn":$lsn},"op":"$op"}}"""

  val Tombstone = """{"value":null}"""

  /** NDJSON lines → decoded change rows, wired as the orders fixture
    * wires its stream.
    */
  def changes(spark: SparkSession, lines: MemoryStream[String])
      : Dataset[Change] = {
    import spark.implicits._
    Decode.decodeEnvelope(Decode.parseLineColumnNative(
        lines.toDF().select(col("value").as("line")),
        Envelope.prunedLineSchema(Envelope.ordersPayload)), "id")
      .select(col("id"), col("after.status").as("status"),
        col("after.totalprice").as("totalprice"), col("operation_type"),
        col("log_seq_num"),
        col("source_timestamp").cast("timestamp").as("source_timestamp"))
      .as[Change]
  }
}
