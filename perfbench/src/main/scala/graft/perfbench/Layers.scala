package graft.perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{SortExec, SparkPlan}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Length of the union of half-open intervals `[s, e)`, clipped to
  * `[lo, hi)`. Overlapping task intervals count once: this is the time
  * at least one task was running. */
object Intervals {
  def unionLength(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals.iterator
      .map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.toArray.sortBy(_._1)
    var total = 0L
    var curS = 0L
    var curE = Long.MinValue
    clipped.foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}

/** One traced span: `op` is the id shared by every span of one op;
  * `parent` is the span that caused this one (0 for an op's root).
  * Times are epoch milliseconds, as Spark's events report them. */
final case class Span(id: Long, op: Long, name: String, start: Long,
    end: Long, parent: Long)

/** Counters for one op (or one pipeline stage call), filled from
  * listener events while the op runs. */
final class OpLayers(val op: Long, val rootSpan: Long) {
  var jobs, stages, tasks, singleTaskStages = 0L
  var taskMs, cpuNs, gcMs = 0L
  var shuffleWriteB, shuffleReadB, fetchWaitMs, spillB = 0L
  var inputB, inputRows, outputB = 0L
  var analysisMs, optimizationMs, planningMs = 0L
  var exchanges, sorts, windows, broadcasts, executions = 0L
  var storagePeakB, storageEndB = 0L
  val taskIntervals = ArrayBuffer.empty[(Long, Long)]
}

/** Plan-shape counts of an executed physical plan. Under adaptive
  * execution the final plan hides behind query stages, so the walk
  * descends through them; a reused exchange does no new work and is
  * not counted. */
object PlanShape {
  final case class Counts(exchanges: Long, sorts: Long, windows: Long,
      broadcasts: Long)

  def of(plan: SparkPlan): Counts = {
    var ex, so, wi, br = 0L
    def walk(p: SparkPlan): Unit = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case _: ReusedExchangeExec => ()
      case other =>
        other match {
          case _: BroadcastExchangeLike => br += 1
          case _: ShuffleExchangeLike => ex += 1
          case _: SortExec => so += 1
          case _: WindowExec => wi += 1
          case _ => ()
        }
        other.children.foreach(walk)
        other.subqueries.foreach(walk)
    }
    walk(plan)
    Counts(ex, so, wi, br)
  }
}

/** Attributes Spark's scheduler, task, storage and query-execution
  * events to the op that is running. The benchmark runs one op at a
  * time and drains the listener bus before it switches ops, so every
  * event delivered while `current` is set belongs to that op, whichever
  * driver thread launched the job. */
final class Recorder extends SparkListener with QueryExecutionListener {
  @volatile private var current: OpLayers = _
  private var nextId = 0L
  private val spans = ArrayBuffer.empty[Span]
  private val jobSpan = scala.collection.mutable.Map.empty[Int, (Long, Long, OpLayers)]
  private val stageParent = scala.collection.mutable.Map.empty[Int, Long]
  private val rddBlocks = scala.collection.mutable.Map.empty[String, Long]
  private var storageB = 0L

  def newId(): Long = synchronized { nextId += 1; nextId }

  def begin(layers: OpLayers): Unit = synchronized {
    current = layers
    layers.storagePeakB = storageB
  }

  def end(): Unit = synchronized {
    if (current != null) current.storageEndB = storageB
    current = null
  }

  def addSpan(s: Span): Unit = synchronized { spans += s }

  def allSpans: Seq[Span] = synchronized { spans.toList }

  private def withCurrent(f: OpLayers => Unit): Unit = synchronized {
    if (current != null) f(current)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = withCurrent { l =>
    l.jobs += 1
    val id = newIdLocked()
    jobSpan(e.jobId) = (id, e.time, l)
    e.stageInfos.foreach(s => stageParent.getOrElseUpdate(s.stageId, id))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobSpan.remove(e.jobId).foreach { case (id, start, l) =>
      spans += Span(id, l.op, s"job ${e.jobId}", start, e.time, l.rootSpan)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    withCurrent { l =>
      val info = e.stageInfo
      l.stages += 1
      if (info.numTasks == 1) l.singleTaskStages += 1
      val parent = stageParent.remove(info.stageId).getOrElse(l.rootSpan)
      spans += Span(newIdLocked(), l.op, s"stage ${info.stageId}",
        info.submissionTime.getOrElse(0L),
        info.completionTime.getOrElse(0L), parent)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = withCurrent { l =>
    l.tasks += 1
    l.taskIntervals += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
    val m = e.taskMetrics
    if (m != null) {
      l.taskMs += m.executorRunTime
      l.cpuNs += m.executorCpuTime
      l.gcMs += m.jvmGCTime
      l.spillB += m.diskBytesSpilled
      l.inputB += m.inputMetrics.bytesRead
      l.inputRows += m.inputMetrics.recordsRead
      l.outputB += m.outputMetrics.bytesWritten
      l.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
      l.shuffleReadB += m.shuffleReadMetrics.totalBytesRead
      l.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD) {
      val key = info.blockId.name
      storageB -= rddBlocks.getOrElse(key, 0L)
      if (info.storageLevel.isValid) {
        rddBlocks(key) = info.memSize + info.diskSize
        storageB += info.memSize + info.diskSize
      } else rddBlocks.remove(key)
      if (current != null)
        current.storagePeakB = math.max(current.storagePeakB, storageB)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = record(qe)

  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = record(qe)

  private def record(qe: QueryExecution): Unit = withCurrent { l =>
    val phases = qe.tracker.phases
    def ms(p: String) = phases.get(p).map(_.durationMs).getOrElse(0L)
    l.executions += 1
    l.analysisMs += ms("analysis")
    l.optimizationMs += ms("optimization")
    l.planningMs += ms("planning")
    val c = PlanShape.of(qe.executedPlan)
    l.exchanges += c.exchanges
    l.sorts += c.sorts
    l.windows += c.windows
    l.broadcasts += c.broadcasts
  }

  private def newIdLocked(): Long = { nextId += 1; nextId }
}
