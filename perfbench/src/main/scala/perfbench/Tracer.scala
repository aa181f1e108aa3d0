package perfbench

import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution._
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** Scheduler, task and plan counters for one span (a query's build or exec
  * phase), filled from listener events of the jobs tagged with its id. */
final class SpanCounters {
  var jobs, stages, tasks, failedTasks = 0L
  var taskWaitMs, taskRunMs, taskWallMs, gcMs = 0L
  var taskCpuNs = 0L
  var shuffleWriteBytes, shuffleReadBytes, shuffleRecords = 0L
  var inputRows, inputBytes, outputBytes = 0L
  var peakTaskMem, spillBytes = 0L
  // sum over multi-task stages of the slowest and of the mean task wall
  var stageMaxMs, stageMeanMs = 0.0

  def toMap: Map[String, Any] = Map(
    "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
    "failed_tasks" -> failedTasks, "task_wait_ms" -> taskWaitMs,
    "task_run_ms" -> taskRunMs, "task_wall_ms" -> taskWallMs,
    "task_cpu_ns" -> taskCpuNs, "gc_ms" -> gcMs,
    "shuffle_write_bytes" -> shuffleWriteBytes,
    "shuffle_read_bytes" -> shuffleReadBytes,
    "shuffle_records" -> shuffleRecords, "input_rows" -> inputRows,
    "input_bytes" -> inputBytes, "output_bytes" -> outputBytes,
    "peak_task_mem" -> peakTaskMem, "spill_bytes" -> spillBytes,
    "stage_max_ms" -> stageMaxMs, "stage_mean_ms" -> stageMeanMs)
}

/** Listens through Spark's public listener APIs and attributes what it sees
  * to spans. Jobs carry the span id as their job group; each executed
  * query plan is reported with its planning phases and the operator counts
  * of its final (post-AQE) physical plan, and is matched to a span by time
  * afterwards. Everything stays in memory until the run ends. */
final class Tracer extends SparkListener with QueryExecutionListener {
  private val lock = new Object
  val spans = mutable.LinkedHashMap[String, SpanCounters]()
  private val stageSpan = mutable.Map[Int, String]()
  private val stageSubmitMs = mutable.Map[Int, Long]()
  private val stageTaskMs = mutable.Map[Int, mutable.ArrayBuffer[Long]]()
  /** One entry per executed query plan: planning phases and plan shape. */
  val executions = mutable.ArrayBuffer[Map[String, Any]]()
  /** Time spent inside this tracer's own callbacks. */
  val overheadNs = new AtomicLong()
  private val started, ended = new AtomicLong()
  /** Off during the untraced passes of a traced run: the callbacks then
    * only keep the counts `drained` needs. */
  @volatile var enabled = false

  private def timed(f: => Unit): Unit = if (enabled) {
    val t0 = System.nanoTime()
    try lock.synchronized(f)
    finally overheadNs.addAndGet(System.nanoTime() - t0)
  }

  /** Runs `f` if enabled, then counts the event in `counter`. */
  private def on(counter: AtomicLong)(f: => Unit): Unit = {
    timed(f)
    counter.incrementAndGet()
  }

  private def groupOf(props: java.util.Properties): Option[String] =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .filter(spans.contains)

  def open(spanId: String): Unit = lock.synchronized {
    spans(spanId) = new SpanCounters
  }

  /** True once every job, stage, task and SQL execution that started has
    * also been reported as ended. */
  def drained: Boolean = started.get == ended.get

  override def onJobStart(e: SparkListenerJobStart): Unit = on(started) {
    groupOf(e.properties).foreach(g => spans(g).jobs += 1)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = ended.incrementAndGet()

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = on(started) {
    val id = e.stageInfo.stageId
    groupOf(e.properties).foreach { g =>
      spans(g).stages += 1
      stageSpan(id) = g
    }
    stageSubmitMs(id) = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
    stageTaskMs(id) = mutable.ArrayBuffer[Long]()
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = on(ended) {
    val id = e.stageInfo.stageId
    val walls = stageTaskMs.remove(id).getOrElse(mutable.ArrayBuffer[Long]())
    stageSpan.remove(id).foreach { g =>
      if (walls.size >= 2) {
        val c = spans(g)
        c.stageMaxMs += walls.max
        c.stageMeanMs += walls.sum.toDouble / walls.size
      }
    }
    stageSubmitMs.remove(id)
  }

  override def onTaskStart(e: SparkListenerTaskStart): Unit = started.incrementAndGet()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = on(ended) {
    val info = e.taskInfo
    stageTaskMs.get(e.stageId).foreach(_ += info.duration)
    stageSpan.get(e.stageId).foreach { g =>
      val c = spans(g)
      c.tasks += 1
      if (info.failed || info.killed) c.failedTasks += 1
      c.taskWallMs += info.duration
      stageSubmitMs.get(e.stageId).foreach(s => c.taskWaitMs += math.max(0L, info.launchTime - s))
      val m = e.taskMetrics
      if (m != null) {
        c.taskRunMs += m.executorRunTime
        c.taskCpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.shuffleRecords += m.shuffleWriteMetrics.recordsWritten
        c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        c.inputRows += m.inputMetrics.recordsRead
        c.inputBytes += m.inputMetrics.bytesRead
        c.outputBytes += m.outputMetrics.bytesWritten
        c.peakTaskMem = math.max(c.peakTaskMem, m.peakExecutionMemory)
        c.spillBytes += m.diskBytesSpilled
      }
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case _: SparkListenerSQLExecutionStart => started.incrementAndGet()
    case _: SparkListenerSQLExecutionEnd => ended.incrementAndGet()
    case _ =>
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(funcName, qe)
  override def onFailure(funcName: String, qe: QueryExecution, error: Exception): Unit =
    record(funcName, qe)

  private def record(funcName: String, qe: QueryExecution): Unit = timed {
    val phases = qe.tracker.phases.map { case (k, p) =>
      k -> Map("start_ms" -> p.startTimeMs, "end_ms" -> p.endTimeMs)
    }
    executions += Map("func" -> funcName, "phases" -> phases,
      "plan" -> PlanShape(qe.executedPlan))
  }
}

/** Operator counts of a physical plan, looking through AQE wrappers and
  * query stages into the final plan, and into subqueries. */
object PlanShape {
  def apply(root: SparkPlan): Map[String, Long] = {
    val n = mutable.Map[String, Long]().withDefaultValue(0L)
    def walk(p: SparkPlan, inCodegen: Boolean): Unit = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan, inCodegen = false)
      case s: QueryStageExec => walk(s.plan, inCodegen = false)
      case w: WholeStageCodegenExec => walk(w.child, inCodegen = true)
      case i: InputAdapter => walk(i.child, inCodegen = false)
      case node =>
        node match {
          case _: ShuffleExchangeLike => n("exchanges") += 1
          case _: BroadcastExchangeLike => n("broadcasts") += 1
          case _: ReusedExchangeExec => n("reused_exchanges") += 1
          case _: SortExec => n("sorts") += 1
          case _: GenerateExec => n("generates") += 1
          case _ =>
        }
        if (node.getClass.getSimpleName == "AsOfMergeJoinExec") n("asof_merge_joins") += 1
        val wrapper = node.isInstanceOf[ShuffleExchangeLike] ||
          node.isInstanceOf[BroadcastExchangeLike] || node.isInstanceOf[ReusedExchangeExec]
        if (!inCodegen && !wrapper) n("non_codegen_ops") += 1
        node.children.foreach(walk(_, inCodegen))
        node.subqueries.foreach(walk(_, inCodegen = false))
    }
    walk(root, inCodegen = false)
    Seq("exchanges", "sorts", "broadcasts", "reused_exchanges", "generates",
      "asof_merge_joins", "non_codegen_ops").map(k => k -> n(k)).toMap
  }
}
