package graft.tools

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.matching.Regex

import org.apache.spark.{ListenerBusDrain, StageScopes}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FormattedMode, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Dev tool: where a gate's time goes, on the mains' session
  * ([[graft.GraftSession.local]]). Every execution is a full evaluation
  * into the `noop` sink, as in `graft.Bench`.
  *
  * Usage: Profile <mode> <gate[,gate…]|all> <sfDir> [mode args]
  *
  *   - `time [iters]` — per gate, after one untimed warm-up run (JIT,
  *     footers, fixtures): `build` (DataFrame construction), `plan`
  *     (Catalyst analysis + optimization + physical planning, driver-side
  *     and single-threaded), `exec` (best of `iters`, default 2, with every
  *     run's wall in `runs`), and for the best run the jobs, stages, tasks,
  *     task/run/CPU/deserialize/GC seconds and the executed plan's
  *     `Exchange` count. Many `jobs` mean driver-side actions serialize the
  *     gate; `exec` with few jobs is distributed compute. Gates named
  *     together run in sequence in ONE session, so a session-state
  *     interaction between gates reproduces.
  *   - `stages` — the stages of one execution after a warm-up, slowest
  *     first: task count, run and CPU seconds, and the operators the stage
  *     ran (its RDDs' operation scopes), followed by the job's call site
  *     unless that is AQE's query-stage thread, which names no operator.
  *     AQE coalescing is decided at runtime, so only this shows the
  *     partition count a stage ran with.
  *   - `plan [outDir tag]` — the formatted pre-execution plan and the
  *     AQE-final plan of the executed write (runtime join demotions,
  *     coalesced shuffle reads and reused stages exist only in the
  *     latter), to stdout or to `<outDir>/<gate>_<tag>.txt`, with the
  *     per-session ids normalized ([[normalizePlan]]), so two runs of the
  *     same code write the same bytes.
  *   - `ops` — per-operator runtime metrics (rows, spill, build time,
  *     data size) of the AQE-final plan of one execution.
  *   - `probe` — one line per gate naming the physical-plan markers its
  *     pre-execution plan contains; nothing executes.
  *
  * A gate that fails, or whose write reports no query execution, prints
  * an ERROR line and makes the tool exit non-zero.
  */
object Profile {

  private val Usage = "usage: Profile <time|stages|plan|ops|probe> " +
    "<gate[,gate...]|all> <sfDir> [time: iters | plan: outDir tag]"

  private val Markers = Seq("TakeOrderedAndProject", "WindowGroupLimit",
    "ObjectHashAggregate", "SortAggregate", "BroadcastHashJoin",
    "BroadcastNestedLoopJoin", "SortMergeJoin", "ShuffledHashJoin",
    "CartesianProduct", "LeftSemi", "LeftAnti", "Window", "PushedFilters: [",
    "WholeStageCodegen")

  private case class Stage(id: Int, name: String, tasks: Int, runMs: Long,
      cpuMs: Long)

  /** The per-session ids of a formatted plan: `(kept prefix)(id)` and
    * the tag the id's replacement carries. Expression ids (`#12`),
    * `plan_id=`s, RDD ids (`MapPartitionsRDD[7]`), lambda variables
    * (`lambda x_130`), whole-stage-codegen ids and query-stage ids come
    * from JVM-wide counters or from the order AQE finished its stages;
    * identity hashes (`[J@1b2c3d`, `Media$$$Lambda$12/0x…@5e6f`,
    * `…UnsafeArrayData@582dcbb3`) differ per object.
    */
  private val PlanIds: Seq[(Regex, String)] = Seq(
    """(#)(\d+)""" -> "",
    """(plan_id=)(\d+)""" -> "",
    """(\w*RDD\[)(\d+)""" -> "",
    """(lambda \w+?_)(\d+)\b""" -> "",
    """(codegen id : )(\d+)""" -> "",
    """(QueryStage\n(?:Output [^\n]*\n)?Arguments: )(\d+)""" -> "",
    """(\$\$Lambda)((?:\$\d+)?/0x[0-9a-f]+@[0-9a-f]+)""" -> "@h",
    """(\[+(?:[BCDFIJSZ]|L[\w.$]+;)@)([0-9a-f]+)""" -> "h",
    """((?:[a-z_]\w*\.)+[A-Z][\w$]*@)([0-9a-f]+)""" -> "h")
    .map { case (re, tag) => re.r -> tag }

  /** A formatted plan with each of [[PlanIds]] renumbered by first
    * appearance, so two runs of the same code write the same text and a
    * plan change still shows as a diff.
    */
  private[tools] def normalizePlan(text: String): String =
    PlanIds.foldLeft(text) { case (t, (re, tag)) =>
      val seen = mutable.HashMap.empty[String, Int]
      re.replaceAllIn(t, m => Regex.quoteReplacement(m.group(1) + tag +
        seen.getOrElseUpdate(m.group(2), seen.size + 1)))
    }

  /** Spark work since the last [[reset]]. */
  private class Counts extends SparkListener {
    var jobs = 0; var tasks = 0
    var taskMs = 0L; var runMs = 0L; var deserMs = 0L; var gcMs = 0L
    var cpuMs = 0L
    val stages = mutable.ArrayBuffer.empty[Stage]

    def reset(): Unit = synchronized {
      jobs = 0; tasks = 0; taskMs = 0L; runMs = 0L; deserMs = 0L; gcMs = 0L
      cpuMs = 0L; stages.clear()
    }
    def summary: String = synchronized(s"jobs=$jobs stages=${stages.size}" +
      f" tasks=$tasks taskSec=${taskMs / 1e3}%7.1f run=${runMs / 1e3}%6.1f" +
      f" cpu=${cpuMs / 1e3}%6.1f deser=${deserMs / 1e3}%5.1f gc=${gcMs / 1e3}%5.1f")
    override def onJobStart(e: SparkListenerJobStart): Unit =
      synchronized(jobs += 1)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      synchronized {
        val si = e.stageInfo
        val tm = Option(si.taskMetrics)
        val site = si.name.takeWhile(_ != '\n')
        val name = (StageScopes(si).mkString(" > ") +:
          Seq(site).filterNot(_.contains("withThreadLocalCaptured")))
          .filter(_.nonEmpty).mkString(" @ ")
        stages += Stage(si.stageId, name,
          si.numTasks, tm.map(_.executorRunTime).getOrElse(0L),
          tm.map(_.executorCpuTime / 1000000L).getOrElse(0L))
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      tasks += 1
      if (e.taskInfo != null) taskMs += e.taskInfo.duration
      if (e.taskMetrics != null) {
        runMs += e.taskMetrics.executorRunTime
        deserMs += e.taskMetrics.executorDeserializeTime
        gcMs += e.taskMetrics.jvmGCTime
        cpuMs += e.taskMetrics.executorCpuTime / 1000000L
      }
    }
  }

  def main(args: Array[String]): Unit = {
    if (args.length < 3 ||
        !Set("time", "stages", "plan", "ops", "probe").contains(args(0)) ||
        (args(0) == "plan" && args.length == 4)) {
      System.err.println(Usage)
      sys.exit(2)
    }
    val Array(mode, gates, sfDir) = args.take(3)
    val spark = graft.GraftSession.local()
    val names =
      if (gates == "all") graft.SparkEntry.queries.keys.toSeq.sorted
      else gates.split(',').map(_.trim).filter(_.nonEmpty).toSeq

    val counts = new Counts
    spark.sparkContext.addSparkListener(counts)
    @volatile var last: QueryExecution = null
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
        last = qe
      override def onFailure(f: String, qe: QueryExecution,
                             e: Exception): Unit = ()
    })

    /** One noop execution of `name`, DataFrame construction included (a
      * gate may run jobs while it builds): its write's query execution and
      * wall nanoseconds, with the Spark work it did in `counts`.
      * `built` sees the DataFrame before it executes.
      */
    def run(name: String, built: DataFrame => Unit = _ => ())
        : (QueryExecution, Long) = {
      ListenerBusDrain(spark.sparkContext)
      counts.reset()
      last = null
      val t0 = System.nanoTime()
      val df = graft.SparkEntry.queries(name)(spark, sfDir)
      built(df)
      df.write.format("noop").mode("overwrite").save()
      val wall = System.nanoTime() - t0
      ListenerBusDrain(spark.sparkContext)
      if (last == null) throw new IllegalStateException(
        s"no query execution of gate '$name' was reported — nothing to profile")
      (last, wall)
    }

    def sec(ns: Long) = f"${ns / 1e9}%6.2f"
    def time(name: String, iters: Int): Unit = {
      run(name)
      val t0 = System.nanoTime()
      val df = graft.SparkEntry.queries(name)(spark, sfDir)
      val t1 = System.nanoTime()
      val plan = df.queryExecution.executedPlan // forces full planning
      val t2 = System.nanoTime()
      val exch = "(?i)exchange".r.findAllIn(plan.toString).size
      val runs = (1 to iters).map(_ => (run(name)._2, counts.summary))
      val (best, work) = runs.minBy(_._1)
      println(s"[profile] $name build=${sec(t1 - t0)} plan=${sec(t2 - t1)}" +
        s" exec=${sec(best)} $work exch=$exch" +
        runs.map(r => f"${r._1 / 1e9}%.2f").mkString(" runs=", ",", ""))
    }

    def stages(name: String): Unit = {
      run(name)
      val wall = run(name)._2
      println(s"[profile] $name wall=${sec(wall)}")
      counts.synchronized(counts.stages.sortBy(-_.runMs).take(12).toList)
        .foreach { s =>
          println(f"  stage=${s.id}%4d tasks=${s.tasks}%4d " +
            f"runSec=${s.runMs / 1e3}%7.2f cpuSec=${s.cpuMs / 1e3}%7.2f  ${s.name}")
        }
    }

    def plan(name: String): Unit = {
      var pre = ""
      val fin = run(name, df => pre =
        df.queryExecution.explainString(FormattedMode))._1
        .explainString(FormattedMode)
      val txt = normalizePlan(s"== pre-execution plan ==\n$pre\n" +
        s"== executed (AQE-final) plan ==\n$fin")
      if (args.length < 5) println(s"[profile] $name\n$txt")
      else {
        val out = Paths.get(args(3), s"${name}_${args(4)}.txt")
        Files.createDirectories(out.getParent)
        Files.writeString(out, txt)
        println(s"[profile] $name -> $out")
      }
    }

    def ops(name: String): Unit = {
      def walk(p: SparkPlan, depth: Int): Unit = {
        val ms = p.metrics.collect { case (k, m) if
            k.contains("numOutputRows") || k.contains("spill") ||
            k.contains("aggTime") || k.contains("time in aggregation") ||
            k.contains("peak") || k.contains("dataSize") ||
            k.contains("shuffleBytesWritten") || k.contains("avg hash probe") =>
          s"$k=${m.value}"
        }.mkString(" ")
        println(("  " * depth) + p.nodeName + (if (ms.nonEmpty) s"  [$ms]" else ""))
        p match {
          case a: AdaptiveSparkPlanExec => walk(a.executedPlan, depth + 1)
          case q: QueryStageExec => walk(q.plan, depth + 1)
          case r: ReusedExchangeExec => walk(r.child, depth + 1)
          case _ => p.children.foreach(walk(_, depth + 1))
        }
      }
      println(s"[profile] $name")
      walk(run(name)._1.executedPlan, 0)
    }

    def probe(name: String): Unit = {
      val plan = graft.SparkEntry.queries(name)(spark, sfDir)
        .queryExecution.executedPlan.toString
      println(s"[profile] $name :: ${Markers.filter(plan.contains).mkString(",")}")
    }

    val failed = names.filterNot { name =>
      try {
        mode match {
          case "time" => time(name, if (args.length > 3) args(3).toInt else 2)
          case "stages" => stages(name)
          case "plan" => plan(name)
          case "ops" => ops(name)
          case "probe" => probe(name)
        }
        true
      } catch { case e: Throwable =>
        println(s"[profile] $name ERROR ${e.getClass.getSimpleName}: " +
          Option(e.getMessage).getOrElse("").take(200))
        false
      }
    }
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }
}
