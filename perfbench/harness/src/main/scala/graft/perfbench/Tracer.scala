package graft.perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable

/** One timed interval. `parent` is -1 for spans reported by Spark's
  * listeners (jobs, planning phases); the span-tree pass assigns them
  * to the innermost benchmark span of the same op that contains them.
  * Times are nanoseconds on the harness's monotonic timeline.
  */
final case class Span(id: Int, parent: Int, op: Int, name: String, layer: String,
                      start: Long, end: Long, attrs: Map[String, Double])

/** Records spans at the layer boundaries the benchmark calls through.
  * Disabled, it registers nothing and `span` is a plain call, so the
  * untraced runs that give the end-to-end numbers carry no listener.
  */
final class Tracer(val enabled: Boolean) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val ids = new java.util.concurrent.atomic.AtomicInteger
  private val open = mutable.Stack.empty[Int]
  @volatile var currentOp: Int = -1
  // wall-clock epoch ms (listener event times) → the nanoTime timeline
  private val offsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
  private def fromEpochMs(ms: Long): Long = ms * 1000000L - offsetNs

  def nextId(): Int = ids.incrementAndGet()
  def add(sp: Span): Unit = spans.synchronized { spans += sp }
  def all: Seq[Span] = spans.synchronized { spans.toList }

  def span[T](name: String, layer: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId()
      val parent = open.headOption.getOrElse(0)
      open.push(id)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        open.pop()
        add(Span(id, parent, currentOp, name, layer, t0, t1, Map.empty))
      }
    }

  private val trackers = new java.util.IdentityHashMap[AnyRef, Integer]
  private def trackerId(t: AnyRef): Int = trackers.synchronized {
    Option(trackers.get(t)).map(_.intValue).getOrElse {
      val id = trackers.size + 1
      trackers.put(t, id)
      id
    }
  }

  /** Analysis/optimization/planning phases from a query's
    * QueryPlanningTracker, plus final-plan counts on the planning span.
    * Each phase span carries its tracker as `query`: the runner and the
    * query listener can both report one tracker (a collected frame), and
    * the span-tree pass keeps one span per op, query and phase.
    */
  def phases(qe: QueryExecution, op: Int, withCounts: Boolean): Unit = if (enabled) {
    val counts = if (withCounts) PlanCounts(qe.executedPlan) else Map.empty[String, Double]
    val query = Map("query" -> trackerId(qe.tracker).toDouble)
    for ((phase, sum) <- qe.tracker.phases if phase != "parsing")
      add(Span(nextId(), -1, op, phase, "plans", fromEpochMs(sum.startTimeMs),
        fromEpochMs(sum.endTimeMs), query ++ (if (phase == "planning") counts else Map.empty)))
  }

  def register(s: SparkSession): Unit = if (enabled) {
    s.sparkContext.addSparkListener(new JobListener)
    s.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        phases(qe, currentOp, withCounts = true)
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    })
  }

  /** Jobs and stages, attributed to the op current when the event is
    * processed — the runner drains the bus at every op boundary.
    */
  private final class JobListener extends SparkListener {
    private val jobs = mutable.HashMap.empty[Int, (Int, Int, Long)] // job → (span id, op, start ms)
    private val stageJob = mutable.HashMap.empty[Int, Int]
    private val taskTimes = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Long]]
    private val schedDelay = mutable.HashMap.empty[Int, Long]

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobs(e.jobId) = (nextId(), currentOp, e.time)
      e.stageIds.foreach(stageJob(_) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobs.remove(e.jobId).foreach { case (id, op, t0) =>
        add(Span(id, -1, op, "job", "exec", fromEpochMs(t0), fromEpochMs(e.time), Map.empty))
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (e.taskInfo != null) {
      val info = e.taskInfo
      taskTimes.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += info.duration
      val m = e.taskMetrics
      if (m != null) {
        val busy = m.executorRunTime + m.executorDeserializeTime + m.resultSerializationTime
        val getting = if (info.gettingResultTime > 0) info.finishTime - info.gettingResultTime else 0L
        schedDelay(e.stageId) = schedDelay.getOrElse(e.stageId, 0L) +
          math.max(0L, info.duration - busy - getting)
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      val id = si.stageId
      val times = taskTimes.remove(id).getOrElse(mutable.ArrayBuffer.empty[Long]).sorted
      val skew = if (times.size >= 2 && times(times.size / 2) > 0)
        times.last.toDouble / times(times.size / 2) else 1.0
      val m = si.taskMetrics
      val mb = 1048576.0
      val attrs = Map(
        "tasks" -> si.numTasks.toDouble,
        "task_cpu_s" -> (if (m == null) 0.0 else m.executorCpuTime / 1e9),
        "gc_s" -> (if (m == null) 0.0 else m.jvmGCTime / 1e3),
        "shuffle_write_mb" -> (if (m == null) 0.0 else m.shuffleWriteMetrics.bytesWritten / mb),
        "shuffle_read_mb" -> (if (m == null) 0.0 else
          (m.shuffleReadMetrics.localBytesRead + m.shuffleReadMetrics.remoteBytesRead) / mb),
        "spill_mem_mb" -> (if (m == null) 0.0 else m.memoryBytesSpilled / mb),
        "spill_disk_mb" -> (if (m == null) 0.0 else m.diskBytesSpilled / mb),
        "input_mb" -> (if (m == null) 0.0 else m.inputMetrics.bytesRead / mb),
        "sched_delay_s" -> schedDelay.remove(id).getOrElse(0L) / 1e3,
        "skew" -> skew)
      val (jobSpan, op) = stageJob.remove(id).flatMap(jobs.get)
        .map { case (js, o, _) => (js, o) }.getOrElse((-1, currentOp))
      val t0 = si.submissionTime.getOrElse(0L)
      val t1 = si.completionTime.getOrElse(t0)
      add(Span(nextId(), jobSpan, op, "stage", "exec", fromEpochMs(t0), fromEpochMs(t1), attrs))
    }
  }
}

/** Counts over a final physical plan, descending into adaptive query
  * stages and subqueries.
  */
object PlanCounts extends AdaptiveSparkPlanHelper {
  def apply(plan: SparkPlan): Map[String, Double] = {
    def n(pf: PartialFunction[SparkPlan, Int]): Double =
      collectWithSubqueries(plan)(pf).sum.toDouble
    Map(
      "exchanges" -> n { case _: ShuffleExchangeLike => 1 },
      "sort_merge_joins" -> n { case _: SortMergeJoinExec => 1 },
      "broadcast_joins" -> n { case _: BroadcastHashJoinExec => 1 },
      "cached_scans" -> n { case _: InMemoryTableScanExec => 1 },
      "files_read" -> n { case f: FileSourceScanExec =>
        f.metrics.get("numFiles").map(_.value.toInt).getOrElse(0) })
  }
}
