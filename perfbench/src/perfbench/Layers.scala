package perfbench

import org.apache.spark.sql.streaming.StreamingQueryProgress

/** The per-layer metrics of a traced run. Every traced run reports all of
  * them; a layer a workload never enters reads 0.
  */
object Layers {

  val StreamPhases: Seq[String] = Seq("addBatch", "queryPlanning", "getBatch",
    "latestOffset", "walCommit", "commitOffsets")

  /** Span names whose self time is reported as a share of the timed wall. */
  val Shared: Seq[String] = Seq("Decode", "Scd2Stream.batch",
    "MergeInto.mergeBatch", "MergeInto.replay", "DeltaExport.export",
    "IcebergExport.export")

  val all: Seq[(String, String)] =
    StreamPhases.map(p => s"stream.${p}_ms_p50" -> "ms") ++ Seq(
      "Scd2Stream.state_rows" -> "count",
      "Scd2Stream.state_commit_ms_p50" -> "ms",
      "Scd2Stream.state_mem_mb" -> "MB",
      "MergeInto.mergeBatch_ms_p50" -> "ms",
      "MergeInto.rewrite_bytes_per_event" -> "B",
      "ManifestStore.files_per_commit" -> "count",
      "ManifestStore.mb_per_commit" -> "MB",
      "MergeInto.replay_ms_p50" -> "ms",
      "DeltaExport.export_ms_p50" -> "ms",
      "IcebergExport.export_ms_p50" -> "ms",
      "readback_s" -> "s",
      "Scd2Stream.readDimension_s" -> "s",
      "MergeInto.readTable_s" -> "s",
      "DeltaExport.read_s" -> "s",
      "IcebergExport.read_s" -> "s",
      "spark.jobs" -> "count",
      "spark.stages" -> "count",
      "spark.tasks" -> "count",
      "spark.task_s" -> "s",
      "spark.gc_s" -> "s",
      "spark.shuffle_mb" -> "MB",
      "spark.spill_mb" -> "MB",
      "Scd2.recompute_s" -> "s",
      "jvm.heap_peak_mb" -> "MB",
      "traced.events_per_s" -> "1/s") ++
    Shared.map(n => s"share.$n" -> "%") :+ ("share.plan" -> "%")

  /** `spark.*` per operation, from the counters of the operation spans. */
  def sparkPerOp(spans: Seq[Span]): Map[String, Double] = {
    val cs = spans.map(_.counts)
    if (cs.isEmpty) Map.empty
    else {
      val n = cs.size.toDouble
      def avg(f: Counts => Long, scale: Double = 1.0) = cs.map(f).sum / n / scale
      Map("spark.jobs" -> avg(_.jobs), "spark.stages" -> avg(_.stages),
        "spark.tasks" -> avg(_.tasks), "spark.task_s" -> avg(_.taskMs, 1000.0),
        "spark.gc_s" -> avg(_.gcMs, 1000.0),
        "spark.shuffle_mb" -> avg(_.shuffleBytes, 1048576.0),
        "spark.spill_mb" -> avg(_.spillBytes, 1048576.0))
    }
  }

  /** Self time of each shared layer as a percentage of the timed wall. */
  def shares(trace: Tracer, timedMs: Double): Map[String, Double] = {
    val self = trace.selfMs
    Shared.map(n => s"share.$n" -> 100.0 * self.getOrElse(n, 0.0) / timedMs).toMap
  }

  /** Catalyst planning inside the operation spans, as a percentage of the
    * timed wall.
    */
  def planShare(spans: Seq[Span], timedMs: Double): (String, Double) =
    "share.plan" -> 100.0 * spans.map(_.counts.planMs).sum / timedMs

  def streamPhases(ps: Seq[StreamingQueryProgress]): Map[String, Double] =
    StreamPhases.map { p =>
      s"stream.${p}_ms_p50" -> Stats.median(ps.flatMap(pr =>
        Option(pr.durationMs.get(p)).map(_.doubleValue)))
    }.toMap
}
