package graft.streaming

import java.io.File
import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.SparkSpec
import graft.streaming.Scd2Stream.Change

/** Both stateless streams over a replayable file source: restarting from a
  * fresh checkpoint re-delivers every event, and a batch whose commit was
  * lost runs again — neither changes a committed row, because each batch
  * folds against the rows the table already holds.
  */
class StreamRestartSpec extends SparkSpec {

  import spark.implicits._

  private def chg(id: Long, st: String, lsn: Long, op: String = "UPDATE") =
    Change(id, Option(st), Some(lsn * 1.5), op,
      lsn, new Timestamp(lsn * 1000))

  private val batches = Seq(
    Seq(chg(1, "a", 1), chg(2, "x", 2), chg(3, "p", 3)),
    Seq(chg(1, "b", 4), chg(4, "q", 5), chg(2, "y", 6)),
    Seq(chg(1, "c", 7), chg(2, null, 8, op = "DELETE"), chg(3, "p2", 9)))

  /** One parquet file per batch, modification times in batch order (the
    * file source admits files in that order).
    */
  private def source(dir: String): Unit =
    batches.zipWithIndex.foreach { case (b, i) =>
      val before = Option(new File(dir).list()).map(_.toSet)
        .getOrElse(Set.empty)
      b.toDS().coalesce(1).write.mode("append").parquet(dir)
      new File(dir).listFiles()
        .filter(f => f.getName.endsWith(".parquet") &&
          !before(f.getName))
        .foreach(_.setLastModified(1700000000000L + i * 60000L))
    }

  private def checkRestart(name: String,
      start: (Dataset[Change], String, String) => StreamingQuery): Unit = {
    val base = Files.createTempDirectory(name).toString
    val (src, root, ckpt) = (s"$base/src", s"$base/store", s"$base/ckpt")
    source(src)
    def run(): Unit = {
      val changes = spark.readStream.schema(Encoders.product[Change].schema)
        .option("maxFilesPerTrigger", 1).parquet(src).as[Change]
      val q = start(changes, root, ckpt)
      try q.processAllAvailable() finally q.stop()
    }
    def rows() = ManifestStore.read(spark, root).collect()
      .map(_.toString).sorted.toSeq
    def version() = ManifestStore.latest(spark, root).get.version

    run()
    assert(version() == 3L, "one commit per batch")
    val committed = rows()

    // a fresh checkpoint over the same source re-delivers every batch
    org.apache.commons.io.FileUtils.deleteDirectory(new File(ckpt))
    run()
    assert(rows() == committed)

    // a lost commit record: Spark runs the last batch again
    val v = version()
    Seq("2", ".2.crc").foreach(f => new File(s"$ckpt/commits/$f").delete())
    run()
    assert(version() == v + 1, "the last batch ran again")
    assert(rows() == committed)
  }

  test("Scd2Stream.dimensionStream: restart and replay change no row") {
    checkRestart("graft-restart-scd2", (c, root, ckpt) =>
      Scd2Stream.dimensionStream(c, root, ckpt, numBuckets = 4))
  }

  test("CurrentStateStream.storeStream: restart and replay change no row") {
    checkRestart("graft-restart-current", (c, root, ckpt) =>
      CurrentStateStream.storeStream(c, root, ckpt, numBuckets = 4))
  }
}
