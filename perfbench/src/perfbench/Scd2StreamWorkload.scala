package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

import graft.cdc.{Decode, Scd2}
import graft.model.Envelope
import graft.streaming.Scd2Stream

/** `scd2_stream`: a seeded Debezium orders stream, staged as NDJSON files
  * and offered one file at a time to `Scd2Stream.dimensionStream`
  * (`maxFilesPerTrigger=1`) into an empty 64-bucket dimension. A batch's
  * latency runs from its file landing in the source directory to the
  * progress report of the batch that committed it.
  */
object Scd2StreamWorkload {

  // 6 timed batches of ~9.6k envelopes (~3 s each here) fit the run's
  // 20 s; the warm-up's 2 smaller batches take the first-batch JIT
  val TimedFiles = 6
  val KeysPerFile = 8000
  val WarmFiles = 2
  val WarmKeys = 3000
  val Buckets = 64
  val SetupRepeats = 3
  val Reads = 7

  /** Decoded change rows of NDJSON `lines`, wired as the program's own
    * streaming fixture wires them.
    */
  def changes(lines: DataFrame): DataFrame =
    Decode.decodeEnvelope(Decode.parseLineColumnNative(lines,
        Envelope.prunedLineSchema(Envelope.ordersPayload)), "id")
      .select(col("id"), col("after.status").as("status"),
        col("after.totalprice").as("totalprice"), col("operation_type"),
        col("log_seq_num"),
        col("source_timestamp").cast("timestamp").as("source_timestamp"))

  final case class Staged(files: Seq[Path], events: Seq[Int])

  def stage(dir: Path, seed: Long, files: Int, keysPerFile: Int = KeysPerFile): Staged = {
    val (content, _) = Gen.orderStream(seed, files * keysPerFile, files)
    val paths = content.zipWithIndex.map { case (lines, i) =>
      val p = dir.resolve(f"part-$i%05d.json")
      Fs.writeLines(p, lines)
      p
    }
    Staged(paths, content.map(_.count(_ != Gen.Tombstone)))
  }

  final case class Drain(latMs: Seq[Double], events: Long, wallMs: Double,
                         progress: Seq[StreamingQueryProgress],
                         offered: Seq[Path], fsDiffs: Seq[(Int, Long)])

  /** Offers the staged files one by one, each after the previous batch has
    * committed, until all are offered or the deadline passes.
    */
  def drain(ctx: Ctx, base: Path, staged: Staged, deadlineNs: Long): Drain = {
    val spark = ctx.spark
    import spark.implicits._
    val src = Fs.fresh(base.resolve("src"))
    val dim = base.resolve("dim").toString
    val lines = spark.readStream.option("maxFilesPerTrigger", 1)
      .text(src.toString).select(col("value").as("line"))
    val decoded = ctx.trace.span("Decode") { changes(lines).as[Scd2Stream.Change] }
    val q = Scd2Stream.dimensionStream(decoded, dim,
      base.resolve("ckpt").toString, numBuckets = Buckets)
    val lat = Seq.newBuilder[Double]
    val diffs = Seq.newBuilder[(Int, Long)]
    var events = 0L
    var offered = Vector.empty[Path]
    val t0 = System.nanoTime()
    var t1 = t0
    try {
      staged.files.zip(staged.events).zipWithIndex.foreach { case ((f, ev), i) =>
        if (System.nanoTime() < deadlineNs) {
          val before = if (ctx.trace.enabled) Fs.files(new java.io.File(dim)) else Nil
          val s = System.nanoTime()
          ctx.ops(s"stream batch $i") {
            ctx.trace.span("Scd2Stream.batch") {
              val target = src.resolve(f.getFileName)
              Files.move(f, target, StandardCopyOption.ATOMIC_MOVE)
              offered :+= target
              await(q, i)
            }
          }
          t1 = System.nanoTime()
          lat += (t1 - s) / 1e6
          events += ev
          if (ctx.trace.enabled) {
            val after = Fs.files(new java.io.File(dim))
            val added = after.filterNot(before.toSet)
            diffs += ((added.size, added.map(_.length).sum))
          }
        }
      }
    } finally q.stop()
    Drain(lat.result(), events, (t1 - t0) / 1e6, q.recentProgress.toSeq,
      offered, diffs.result())
  }

  private def await(q: StreamingQuery, batch: Int): Unit = {
    val limit = System.nanoTime() + 120L * 1000000000L
    def done = {
      val p = q.lastProgress
      p != null && p.batchId >= batch && p.numInputRows > 0
    }
    while (!done) {
      q.exception.foreach(e => throw e)
      if (!q.isActive) throw new IllegalStateException("stream stopped")
      if (System.nanoTime() > limit) throw new IllegalStateException(s"batch $batch timed out")
      Thread.sleep(1)
    }
  }

  /** Seconds of each of `Reads` full reads of the dimension into noop. */
  def readback(ctx: Ctx, dim: String): Seq[Double] = (1 to Reads).flatMap { _ =>
    val t = System.nanoTime()
    ctx.ops("readDimension") {
      ctx.trace.span("Scd2Stream.readDimension") {
        Scd2Stream.readDimension(ctx.spark, dim).toDF()
          .write.format("noop").mode("overwrite").save()
      }
    }.map(_ => (System.nanoTime() - t) / 1e9)
  }

  private val DimCols = Seq(col("id"), col("status"), col("totalprice")) ++
    Seq("row_valid_start_timestamp", "row_valid_expiration_timestamp")
      .map(c => col(c).cast("timestamp_ntz").as(c))

  /** The reference SCD2 derivation, recomputed from the raw NDJSON files. */
  def batchScd2(spark: SparkSession, files: Seq[Path]): DataFrame =
    Scd2.scd2(changes(spark.read.text(files.map(_.toString): _*)
        .select(col("value").as("line"))),
        "id", "log_seq_num", "source_timestamp", Seq("status", "totalprice"))
      .select(DimCols: _*)

  /** The streamed dimension, published with the reference filter, equals
    * the batch SCD2 derivation of the same offered files as an exact
    * multiset (the `cdc_stream_scd2_dim` comparison).
    */
  def check(spark: SparkSession, dim: String, offered: Seq[Path]): Boolean = {
    val streamed = Scd2.changedKeysOnly(Scd2Stream.readDimension(spark, dim).toDF(), "id")
      .select(DimCols: _*)
    val batch = batchScd2(spark, offered)
    // equal sizes and one-way multiset containment imply equal multisets
    val n = batch.count()
    n > 0 && streamed.count() == n && streamed.exceptAll(batch).isEmpty
  }

  def run(ctx: Ctx): Outcome = {
    // warm-up: the same shape into separate directories, untimed
    val w0 = System.nanoTime()
    val warmBase = ctx.dir("warm")
    val warmStaged = stage(ctx.dir("warm-staged"), ctx.seed ^ 0x5eedL, WarmFiles, WarmKeys)
    val silent = new Ctx(ctx.spark, ctx.seed, ctx.seconds, new Tracer(false, ctx.spark), ctx.work, new Ops)
    drain(silent, warmBase, warmStaged, Long.MaxValue)
    require(silent.ops.failed == 0, "warm-up failed")
    Fs.deleteRecursively(warmBase.toFile)
    val warmMs = (System.nanoTime() - w0) / 1e6

    val setup = (0 until SetupRepeats).map { i =>
      val t = System.nanoTime()
      val staged = stage(ctx.dir(s"staged$i"), ctx.seed, TimedFiles)
      ((System.nanoTime() - t) / 1e6, staged)
    }
    val staged = setup.last._2

    val base = ctx.dir("run")
    val dim = base.resolve("dim").toString
    val cpu0 = Main.beginTimed()
    val d = drain(ctx, base, staged, ctx.guardNs)
    val cpuMs = Main.cpuMs - cpu0
    val heap = Main.Heap.peakMb
    // read-back and the reference's recompute of the same dimension from
    // the raw lake are per-layer numbers: timed in traced runs only
    val reads = if (ctx.trace.enabled) readback(ctx, dim) else Nil
    val recompute = if (!ctx.trace.enabled) Nil else (1 to 3).flatMap { _ =>
      val t = System.nanoTime()
      ctx.ops("Scd2.scd2 recompute") {
        ctx.trace.span("Scd2.scd2") {
          batchScd2(ctx.spark, d.offered).write.format("noop").mode("overwrite").save()
        }
      }.map(_ => (System.nanoTime() - t) / 1e9)
    }
    val ok = ctx.ops.check("scd2 dimension equals batch derivation") {
      check(ctx.spark, dim, d.offered)
    }

    val eventsPerS = d.events / (d.wallMs / 1000.0)
    val e2e = Map("events_per_s" -> eventsPerS,
      "batch_ms_p50" -> Stats.median(d.latMs), "batch_ms_p75" -> Stats.quantile(d.latMs, 0.75),
      "cpu_ms_per_kevent" -> cpuMs / (d.events / 1000.0),
      "storage_amp" -> Fs.bytes(new java.io.File(dim)) / ManifestLive.bytes(ctx.spark, dim))
    val layers = if (!ctx.trace.enabled) Map.empty[String, Double] else {
      val data = d.progress.filter(_.numInputRows > 0)
      val state = data.flatMap(_.stateOperators.headOption)
      Layers.streamPhases(data) ++ Map(
        "Scd2Stream.state_rows" -> state.lastOption.map(_.numRowsTotal.toDouble).getOrElse(0.0),
        "Scd2Stream.state_commit_ms_p50" -> Stats.median(state.map(_.commitTimeMs.toDouble)),
        "Scd2Stream.state_mem_mb" -> state.lastOption.map(_.memoryUsedBytes / 1048576.0).getOrElse(0.0),
        "ManifestStore.files_per_commit" -> Stats.median(d.fsDiffs.map(_._1.toDouble)),
        "ManifestStore.mb_per_commit" -> Stats.median(d.fsDiffs.map(_._2 / 1048576.0)),
        "MergeInto.rewrite_bytes_per_event" -> d.fsDiffs.map(_._2).sum.toDouble / d.events,
        "Scd2Stream.readDimension_s" -> Stats.median(reads),
        "Scd2.recompute_s" -> Stats.median(recompute),
        "jvm.heap_peak_mb" -> heap,
        "readback_s" -> Stats.median(reads),
        "traced.events_per_s" -> eventsPerS) ++
        Layers.sparkPerOp(ctx.trace.named("Scd2Stream.batch")) ++
        Layers.shares(ctx.trace, d.wallMs) +
        Layers.planShare(ctx.trace.named("Scd2Stream.batch"), d.wallMs)
    }
    Outcome(e2e, layers, setup.map(_._1), warmMs, ok,
      Map("batches" -> d.latMs.size, "reads" -> reads.size, "recomputes" -> recompute.size))
  }
}
