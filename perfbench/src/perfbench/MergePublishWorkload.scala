package perfbench

import java.nio.file.Path

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.cdc.Decode
import graft.model.Envelope
import graft.streaming.{DeltaExport, IcebergExport, ManifestStore, MergeInto}

/** `merge_publish`: a pre-loaded current-state table takes seeded NDJSON
  * batches of distinct keys (updates, inserts, ~5% deletes) through
  * `Decode` → `MergeInto.mergeBatch(txnId)` → `DeltaExport.export` →
  * `IcebergExport.export`; every fourth batch is delivered again with its
  * old txn id. A batch's latency ends when both exports are published.
  */
object MergePublishWorkload {

  // 5 timed batches (~3.6 s each here, plus one replay) fit the run's 20 s
  val Preload = 150000L
  val BatchKeys = 20000
  val Batches = 5
  val WarmBatches = 2
  val Buckets = 64
  val SetupRepeats = 3
  val ReadRounds = 5

  /** Decoded merge source: one row per key, `deleted` marks deletes. */
  def source(spark: SparkSession, file: Path): DataFrame =
    Decode.decodeEnvelope(Decode.parseLineColumnNative(
        spark.read.text(file.toString).select(col("value").as("line")),
        Envelope.prunedLineSchema(Envelope.ordersPayload)), "id")
      .select(col("id"), col("after.status").as("status"),
        col("after.totalprice").as("totalprice"),
        (col("operation_type") === "DELETE").as("deleted"))

  /** The generated pre-load rows, computed inside Spark tasks. */
  def preloadRows(spark: SparkSession, seed: Long, n: Long): DataFrame = {
    import spark.implicits._
    spark.range(0, n, 1, 8).as[Long].map { k =>
      val r = Gen.baseRow(seed, k)
      (k, r.status, r.price)
    }.toDF("id", "status", "totalprice")
  }

  final case class Prepared(root: String, files: Seq[Path], events: Seq[Int],
                            model: Gen.MergeModel)

  /** Generates the batches and pre-loads the table (one merge, both
    * exports) under `dir`.
    */
  def prepare(spark: SparkSession, dir: Path, seed: Long, preload: Long,
              batches: Int, batchKeys: Int = BatchKeys): Prepared = {
    val model = new Gen.MergeModel(seed, preload)
    val files = (0 until batches).map { b =>
      val lines = Gen.mergeBatch(model, b, batchKeys, (b + 1) * 1000000L)
      val p = dir.resolve(f"batch-$b%03d.json")
      Fs.writeLines(p, lines)
      p
    }
    val root = dir.resolve("table").toString
    MergeInto.mergeBatch(spark, preloadRows(spark, seed, preload), root, "id",
      Buckets, txnId = Some(0L))
    DeltaExport.export(spark, root)
    IcebergExport.export(spark, root)
    Prepared(root, files, files.map(_ => batchKeys), model)
  }

  final case class Drain(latMs: Seq[Double], replayMs: Seq[Double],
                         events: Long, wallMs: Double, fsDiffs: Seq[(Int, Long)])

  def drain(ctx: Ctx, p: Prepared, deadlineNs: Long): Drain = {
    val spark = ctx.spark
    val tr = ctx.trace
    val lat, replays = Seq.newBuilder[Double]
    val diffs = Seq.newBuilder[(Int, Long)]
    var events = 0L
    val t0 = System.nanoTime()
    var t1 = t0
    p.files.zip(p.events).zipWithIndex.foreach { case ((f, ev), b) =>
      if (System.nanoTime() < deadlineNs) {
        val txn = Some(b + 1L)
        val before = if (tr.enabled) Fs.files(new java.io.File(p.root)).toSet else Set.empty[java.io.File]
        val s = System.nanoTime()
        tr.span("batch") {
          ctx.ops(s"merge batch $b") {
            val src = tr.span("Decode") { source(spark, f) }
            tr.span("MergeInto.mergeBatch") {
              MergeInto.mergeBatch(spark, src, p.root, "id", Buckets,
                deleteCol = Some("deleted"), txnId = txn)
            }
          }
          ctx.ops(s"delta publish $b") {
            tr.span("DeltaExport.export") { DeltaExport.export(spark, p.root) }
          }
          ctx.ops(s"iceberg publish $b") {
            tr.span("IcebergExport.export") { IcebergExport.export(spark, p.root) }
          }
        }
        t1 = System.nanoTime()
        lat += (t1 - s) / 1e6
        events += ev
        if (tr.enabled) {
          val added = Fs.files(new java.io.File(p.root)).filterNot(before)
          diffs += ((added.size, added.map(_.length).sum))
        }
        if ((b + 1) % 4 == 0) {
          val v0 = ManifestStore.latest(spark, p.root).map(_.version)
          val r = System.nanoTime()
          ctx.ops(s"replay batch $b") {
            val src = tr.span("Decode") { source(spark, f) }
            tr.span("MergeInto.replay") {
              MergeInto.mergeBatch(spark, src, p.root, "id", Buckets,
                deleteCol = Some("deleted"), txnId = txn)
            }
          }
          t1 = System.nanoTime()
          replays += (t1 - r) / 1e6
          ctx.ops.check(s"replay of batch $b is a no-op") {
            ManifestStore.latest(spark, p.root).map(_.version) == v0
          }
        }
      }
    }
    Drain(lat.result(), replays.result(), events, (t1 - t0) / 1e6, diffs.result())
  }

  val Readers: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "MergeInto.readTable" -> ((s, r) => MergeInto.readTable(s, r)),
    "DeltaExport.read" -> ((s, r) => DeltaExport.read(s, r)),
    "IcebergExport.read" -> ((s, r) => IcebergExport.read(s, r)))

  /** `n` rounds of full reads through every reader into noop: per reader
    * and per round (all readers) seconds.
    */
  def readback(ctx: Ctx, root: String, n: Int = ReadRounds): (Map[String, Seq[Double]], Seq[Double]) = {
    val rounds = (1 to n).map { _ =>
      Readers.flatMap { case (name, read) =>
        val t = System.nanoTime()
        ctx.ops(name) {
          ctx.trace.span(name) {
            read(ctx.spark, root).write.format("noop").mode("overwrite").save()
          }
        }.map(_ => name -> (System.nanoTime() - t) / 1e9)
      }
    }
    (rounds.flatten.groupMap(_._1)(_._2), rounds.map(_.map(_._2).sum))
  }

  /** Count and order-independent hash of (id, status, totalprice) rows. */
  def fingerprint(df: DataFrame): (Long, BigDecimal) = {
    val r = df.select(col("id").cast("long"), col("status"), col("totalprice"))
      .agg(count(lit(1)), sum(xxhash64(col("id"), col("status"), col("totalprice"))
        .cast("decimal(38,0)")))
      .head()
    (r.getLong(0), Option(r.getDecimal(1)).map(BigDecimal(_)).getOrElse(BigDecimal(0)))
  }

  /** The model's latest non-deleted row per key as a DataFrame. */
  def expected(spark: SparkSession, model: Gen.MergeModel): DataFrame = {
    import spark.implicits._
    val m = spark.sparkContext.broadcast(model.overrides.toMap)
    val (seed, preload) = (model.seed, model.preload)
    spark.range(0, preload + preload / 20, 1, 8).as[Long].flatMap { k =>
      m.value.getOrElse(k, if (k < preload) Some(Gen.baseRow(seed, k)) else None)
        .map(r => (k, r.status, r.price))
    }.toDF("id", "status", "totalprice")
  }

  /** Every reader's view of the table equals the model. */
  def check(ctx: Ctx, root: String, model: Gen.MergeModel): Boolean = {
    val want = fingerprint(expected(ctx.spark, model))
    Readers.map { case (name, read) =>
      ctx.ops.check(s"$name equals the model") {
        fingerprint(read(ctx.spark, root)) == want
      }
    }.forall(identity)
  }

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    // set-up, three times into fresh directories; the first table also
    // takes the untimed warm-up batches, so no timed sample pays first-call
    // JIT, and the median leaves out its one-off cold start
    val silent = new Ctx(spark, ctx.seed, ctx.seconds, new Tracer(false, spark), ctx.work, new Ops)
    var warmMs = 0.0
    val setup = (0 until SetupRepeats).map { i =>
      val t = System.nanoTime()
      val p = prepare(spark, ctx.dir(s"prep$i"), ctx.seed, Preload, Batches)
      val ms = (System.nanoTime() - t) / 1e6
      if (i == 0) {
        val w = System.nanoTime()
        drain(silent, p.copy(files = p.files.take(WarmBatches)), Long.MaxValue)
        require(silent.ops.failed == 0, "warm-up failed")
        warmMs = (System.nanoTime() - w) / 1e6
      }
      if (i < SetupRepeats - 1) Fs.deleteRecursively(ctx.work.resolve(s"prep$i").toFile)
      (ms, p)
    }
    val p = setup.last._2

    val cpu0 = Main.beginTimed()
    val d = drain(ctx, p, ctx.guardNs)
    val cpuMs = Main.cpuMs - cpu0
    val heap = Main.Heap.peakMb
    // read-back is a per-layer number: timed in traced runs only
    val (perReader, rounds) =
      if (ctx.trace.enabled) readback(ctx, p.root) else (Map.empty[String, Seq[Double]], Nil)
    val ok = check(ctx, p.root, p.model)

    val eventsPerS = d.events / (d.wallMs / 1000.0)
    val e2e = Map("events_per_s" -> eventsPerS,
      "batch_ms_p50" -> Stats.median(d.latMs), "batch_ms_p75" -> Stats.quantile(d.latMs, 0.75),
      "cpu_ms_per_kevent" -> cpuMs / (d.events / 1000.0),
      "storage_amp" -> Fs.bytes(new java.io.File(p.root)) / ManifestLive.bytes(spark, p.root))
    val layers = if (!ctx.trace.enabled) Map.empty[String, Double] else {
      val tr = ctx.trace
      def p50(n: String) = Stats.median(tr.named(n).map(_.ms))
      Map("MergeInto.mergeBatch_ms_p50" -> p50("MergeInto.mergeBatch"),
        "MergeInto.replay_ms_p50" -> p50("MergeInto.replay"),
        "DeltaExport.export_ms_p50" -> p50("DeltaExport.export"),
        "IcebergExport.export_ms_p50" -> p50("IcebergExport.export"),
        "ManifestStore.files_per_commit" -> Stats.median(d.fsDiffs.map(_._1.toDouble)),
        "ManifestStore.mb_per_commit" -> Stats.median(d.fsDiffs.map(_._2 / 1048576.0)),
        "MergeInto.rewrite_bytes_per_event" -> d.fsDiffs.map(_._2).sum.toDouble / d.events,
        "jvm.heap_peak_mb" -> heap,
        "readback_s" -> Stats.median(rounds),
        "traced.events_per_s" -> eventsPerS) ++
        perReader.map { case (n, xs) => s"${n}_s" -> Stats.median(xs) } ++
        Layers.sparkPerOp(tr.named("batch")) ++
        Layers.shares(tr, d.wallMs) +
        Layers.planShare(tr.named("batch") ++ tr.named("MergeInto.replay"), d.wallMs)
    }
    Outcome(e2e, layers, setup.map(_._1), warmMs, ok,
      Map("batches" -> d.latMs.size, "replays" -> d.replayMs.size, "read_rounds" -> rounds.size))
  }
}
