package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Everything a workload needs: the session, its seed and time budget, the
  * tracer, a fresh per-run work directory and the operation accounting.
  */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Int,
                val trace: Tracer, val work: Path, val ops: Ops) {
  /** Work is sized to finish within `seconds`; past 2.5× that, no new
    * batch or pass starts, which keeps a slowed run inside its time limit.
    */
  def guardNs: Long = System.nanoTime() + (seconds * 2.5e9).toLong
  def dir(name: String): Path = Fs.fresh(work.resolve(name))
}

/** What a workload reports. `setupMs` are the repeated set-up timings
  * (the median enters `setup_s`); `warmMs` is the one-off warm-up.
  */
final case class Outcome(endToEnd: Map[String, Double],
                         layers: Map[String, Double],
                         setupMs: Seq[Double], warmMs: Double,
                         correct: Boolean, samples: Map[String, Int])

/** `perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  * --work <dir>`: runs one closed-loop workload against the program's
  * public entry points on `local[nproc]` and prints one JSON result line.
  */
object Main {

  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "events_per_s" -> "1/s", "batch_ms_p50" -> "ms",
    "batch_ms_p75" -> "ms", "cpu_ms_per_kevent" -> "ms", "storage_amp" -> "ratio")

  def session(work: Path): SparkSession = {
    val n = Runtime.getRuntime.availableProcessors()
    val s = graft.GraftSession.builder(s"local[$n]")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toInt
    val traced = opts.getOrElse("trace", "0") == "1"
    val work = Paths.get(opts("work")).toAbsolutePath
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime

    val spark = session(work)
    val sessionMs = (System.currentTimeMillis() - jvmStartMs).toDouble
    val ctx = new Ctx(spark, seed, seconds, new Tracer(traced, spark), work, new Ops)
    val out = workload match {
      case "scd2_stream" => Scd2StreamWorkload.run(ctx)
      case "merge_publish" => MergePublishWorkload.run(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    System.err.println(s"perfbench: session ${sessionMs.round} ms, setup ${out.setupMs.map(_.round)} ms, " +
      s"warm-up ${out.warmMs.round} ms, samples ${out.samples}")
    val setupS = (sessionMs + Stats.median(out.setupMs) + out.warmMs) / 1000.0
    val e2e = out.endToEnd + ("setup_s" -> setupS)
    val metrics =
      if (!traced) EndToEnd.map { case (n, u) => n -> (e2e(n), u) }
      else Layers.all.map { case (n, u) => n -> (Stats.orZero(out.layers.getOrElse(n, Double.NaN)), u) }

    if (traced) writeArtifact(ctx, workload, out, e2e, sessionMs)
    val result = Json.Obj(Seq(
      "correct" -> Json.Bool(out.correct && ctx.ops.failed == 0),
      "attempted" -> Json.Num(ctx.ops.attempted.toDouble),
      "failed" -> Json.Num(ctx.ops.failed.toDouble),
      "metrics" -> Json.Obj(metrics.map { case (n, (v, u)) =>
        n -> Json.Obj(Seq("value" -> Json.Num(v), "unit" -> Json.Str(u))) })))
    spark.stop()
    println("PERFBENCH_RESULT " + result.render)
  }

  /** Peak heap across the timed part: every heap pool's peak is reset at
    * its start and summed at its end.
    */
  object Heap {
    private def pools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP)
    def reset(): Unit = pools.foreach(_.resetPeakUsage())
    def peakMb: Double = pools.map(_.getPeakUsage.getUsed).sum / 1048576.0
  }

  /** CPU time of the whole JVM, all threads, in ms. */
  def cpuMs: Double = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e6

  /** Prepares the timed part: a full GC outside it, then fresh heap peaks.
    * Returns the JVM's CPU time at its start.
    */
  def beginTimed(): Double = {
    System.gc()
    Heap.reset()
    cpuMs
  }

  private def writeArtifact(ctx: Ctx, workload: String, out: Outcome,
                            e2e: Map[String, Double], sessionMs: Double): Unit = {
    val dir = Files.createDirectories(Paths.get(sys.props("perfbench.traceDir")))
    val self = ctx.trace.selfMs
    val doc = Json.Obj(Seq(
      "workload" -> Json.Str(workload),
      "seed" -> Json.Num(ctx.seed.toDouble),
      "end_to_end_traced" -> Json.Obj(e2e.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.Num(v) }),
      "per_layer" -> Json.Obj(out.layers.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.Num(v) }),
      "samples" -> Json.Obj(out.samples.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.Num(v) }),
      "self_ms" -> Json.Obj(self.toSeq.sortBy(-_._2).map { case (k, v) => k -> Json.Num(v) }),
      "session_ms" -> Json.Num(sessionMs),
      "setup_ms" -> Json.Arr(out.setupMs.map(Json.Num)),
      "warm_ms" -> Json.Num(out.warmMs),
      "spans" -> ctx.trace.toJson))
    Files.writeString(dir.resolve(s"$workload-seed${ctx.seed}.json"), doc.render)
  }
}
