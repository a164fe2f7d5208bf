package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Engine-side counters at one instant (cumulative since registration). */
final case class Counts(jobs: Long, stages: Long, tasks: Long, taskMs: Long,
                        gcMs: Long, shuffleBytes: Long, spillBytes: Long,
                        planMs: Long) {
  def -(o: Counts): Counts = Counts(jobs - o.jobs, stages - o.stages,
    tasks - o.tasks, taskMs - o.taskMs, gcMs - o.gcMs,
    shuffleBytes - o.shuffleBytes, spillBytes - o.spillBytes, planMs - o.planMs)
}

/** One timed region of the client thread. `parent` is -1 at top level. */
final case class Span(id: Int, parent: Int, name: String, startNs: Long,
                      endNs: Long, counts: Counts) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Spans around the benchmark's calls into the program, plus one
  * SparkListener and one QueryExecutionListener for the engine counters.
  * Disabled, `span` only runs its body: untraced runs register nothing.
  * Spans stay in memory until the run writes them out.
  */
final class Tracer(val enabled: Boolean, spark: SparkSession) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0

  private val jobs, stages, tasks, taskMs, gcMs, shuffle, spill, planMs =
    new AtomicLong(0L)

  if (enabled) {
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        stages.incrementAndGet()
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        tasks.incrementAndGet()
        val m = e.taskMetrics
        if (m != null) {
          taskMs.addAndGet(m.executorRunTime)
          gcMs.addAndGet(m.jvmGCTime)
          shuffle.addAndGet(m.shuffleReadMetrics.totalBytesRead +
            m.shuffleWriteMetrics.bytesWritten)
          spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        }
      }
    })
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
        planMs.addAndGet(qe.tracker.phases.values.map(_.durationMs).sum)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
        planMs.addAndGet(qe.tracker.phases.values.map(_.durationMs).sum)
    })
  }

  /** Counters after every event posted so far has been delivered. */
  def counts(): Counts = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    Counts(jobs.get, stages.get, tasks.get, taskMs.get, gcMs.get,
      shuffle.get, spill.get, planMs.get)
  }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val c0 = counts()
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack = stack.tail
        spans += Span(id, parent, name, t0, t1, counts() - c0)
      }
    }

  def all: Seq[Span] = spans.toSeq.sortBy(_.id)

  def named(name: String): Seq[Span] = all.filter(_.name == name)

  /** Span time minus the time of its direct children, per span name. */
  def selfMs: Map[String, Double] = {
    val byParent = all.groupBy(_.parent)
    all.groupBy(_.name).map { case (n, ss) =>
      n -> ss.map(s => s.ms - byParent.getOrElse(s.id, Nil).map(_.ms).sum).sum
    }
  }

  def toJson: Json.Arr = Json.Arr(all.map { s =>
    Json.Obj(Seq("id" -> Json.Num(s.id), "parent" -> Json.Num(s.parent),
      "name" -> Json.Str(s.name), "start_ns" -> Json.Num(s.startNs.toDouble),
      "end_ns" -> Json.Num(s.endNs.toDouble), "jobs" -> Json.Num(s.counts.jobs),
      "tasks" -> Json.Num(s.counts.tasks), "task_ms" -> Json.Num(s.counts.taskMs),
      "plan_ms" -> Json.Num(s.counts.planMs)))
  })
}
