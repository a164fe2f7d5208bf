package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Dev tool (optimization round): per-operator runtime metrics for one gate
  * execution (AQE-final plan). Prints rows/spill/build-time per operator so
  * "which operator actually burned the CPU / produced the volume" is
  * measured, not guessed (guide §7.1 — the SQL-tab view, headless).
  *
  * Usage: MetricsDump <gate> [sfDir]
  */
object MetricsDump {
  def main(args: Array[String]): Unit = {
    if (args.isEmpty) {
      System.err.println("usage: MetricsDump <gate> [sfDir]")
      sys.exit(2)
    }
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.shuffle.sort.bypassMergeThreshold", "0")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    @volatile var last: QueryExecution = null
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
        last = qe
      override def onFailure(f: String, qe: QueryExecution,
                             e: Exception): Unit = ()
    })
    graft.SparkEntry.queries(name)(spark, sfDir)
      .write.format("noop").mode("overwrite").save()
    var spin = 0
    while (last == null && spin < 100) { Thread.sleep(50); spin += 1 }

    def walk(p: SparkPlan, depth: Int): Unit = {
      val interesting = p.metrics.filter { case (k, _) =>
        k.contains("numOutputRows") || k.contains("spill") ||
        k.contains("aggTime") || k.contains("time in aggregation") ||
        k.contains("peak") || k.contains("dataSize") ||
        k.contains("shuffleBytesWritten") || k.contains("avg hash probe")
      }
      val ms = interesting.map { case (k, m) => s"$k=${m.value}" }
        .mkString(" ")
      println(("  " * depth) + p.nodeName + (if (ms.nonEmpty) s"  [$ms]" else ""))
      p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan, depth + 1)
        case q: QueryStageExec => walk(q.plan, depth + 1)
        case r: ReusedExchangeExec => walk(r.child, depth + 1)
        case _ => p.children.foreach(walk(_, depth + 1))
      }
    }
    if (last == null) {
      spark.stop()
      throw new IllegalStateException("no query execution of gate " +
        s"'$name' was reported within ${spin * 50} ms — nothing to dump")
    }
    walk(last.executedPlan, 0)
    spark.stop()
  }
}
