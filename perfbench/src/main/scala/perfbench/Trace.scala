package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.util.QueryExecutionListener

/** One clock for spans and listener events: `System.nanoTime`, with
  * Spark's epoch-millisecond event times mapped onto it.
  */
object Clock {
  private val nanoAt = System.nanoTime()
  private val msAt = System.currentTimeMillis()
  def now(): Long = System.nanoTime()
  def fromEpochMs(ms: Long): Long = nanoAt + (ms - msAt) * 1000000L
  def secs(nanos: Long): Double = nanos / 1e9
}

/** A timed interval. `op` names the operation (one table, one query or
  * one pass) the span belongs to; `parent` is 0 for a root.
  */
final case class Span(id: Int, parent: Int, name: String, op: String,
    start: Long, end: Long) {
  def interval: (Long, Long) = (start, end)
}

/** In-memory span buffer; written out once, when the run ends. */
final class Spans {
  private val ids = new AtomicInteger()
  private val buf = new ConcurrentLinkedQueue[Span]()
  /** Record a span; returns its id, for its children's `parent`. */
  def add(parent: Int, name: String, op: String, start: Long, end: Long): Int = {
    val id = ids.incrementAndGet()
    buf.add(Span(id, parent, name, op, start, end))
    id
  }
  def all: Vector[Span] = buf.asScala.toVector.sortBy(_.start)
}

/** One Spark job as the listener saw it. */
final case class JobRec(id: Int, submit: Long, end: Long, description: String,
    stages: Seq[Int])

/** Task metrics summed over one stage. */
final class StageAgg {
  var tasks = 0
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var schedDelayMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var inputRows = 0L
  var inputBytes = 0L
}

/** Executor-layer recorder: jobs, their stages and per-stage task sums,
  * from the public `SparkListener` events.
  */
final class SparkLayer extends SparkListener {
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  val stages = new ConcurrentHashMap[Int, StageAgg]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val desc = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.job.description"))).getOrElse("")
    jobs.put(e.jobId, JobRec(e.jobId, Clock.fromEpochMs(e.time), -1L, desc, e.stageIds))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobs.computeIfPresent(e.jobId, (_, j) => j.copy(end = Clock.fromEpochMs(e.time)))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      val agg = stages.computeIfAbsent(e.stageId, _ => new StageAgg)
      val info = e.taskInfo
      agg.synchronized {
        agg.tasks += 1
        agg.runMs += m.executorRunTime
        agg.cpuNs += m.executorCpuTime
        agg.gcMs += m.jvmGCTime
        // the scheduler-delay rule of Spark's own UI
        agg.schedDelayMs += math.max(0L, info.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime -
          (if (info.gettingResultTime > 0) info.finishTime - info.gettingResultTime else 0L))
        agg.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        agg.shuffleRead += m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
        agg.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        agg.inputRows += m.inputMetrics.recordsRead
        agg.inputBytes += m.inputMetrics.bytesRead
      }
    }
  }

  def jobList: Vector[JobRec] = jobs.values.asScala.toVector.sortBy(_.id)
}

/** One SQL action: its planning phases and executed-plan shape. */
final case class ActionRec(start: Long, analysisMs: Long, optimizationMs: Long,
    planningMs: Long, exchanges: Int, sorts: Int, windows: Int, bnlj: Int)

/** Driver-planning recorder from the public `QueryExecutionListener`:
  * the `QueryPlanningTracker` phases of each action and a node count of
  * its executed plan (adaptive stages included).
  */
final class QueryLayer extends QueryExecutionListener with AdaptiveSparkPlanHelper {
  val actions = new ConcurrentLinkedQueue[ActionRec]()

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe)

  private def record(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases
    def ms(p: String) = phases.get(p).map(_.durationMs).getOrElse(0L)
    val start = if (phases.isEmpty) Clock.now()
      else Clock.fromEpochMs(phases.values.map(_.startTimeMs).min)
    var ex, so, wi, nl = 0
    val plan: SparkPlan = try qe.executedPlan catch { case _: Throwable => null }
    if (plan != null) foreach(plan) {
      case _: Exchange => ex += 1
      case _: SortExec => so += 1
      case _: WindowExec => wi += 1
      case _: BroadcastNestedLoopJoinExec => nl += 1
      case _ => ()
    }
    actions.add(ActionRec(start, ms("analysis"), ms("optimization"), ms("planning"),
      ex, so, wi, nl))
  }

  def actionList: Vector[ActionRec] = actions.asScala.toVector.sortBy(_.start)
}

/** Attribution of jobs and actions to benchmark operations. */
object Attribution {
  val Unattributed = "unattributed"
  private val MigratePrefix = "migrate "

  /** The table a job belongs to, from the job description `Pipeline`
    * sets on each table's thread.
    */
  def byDescription(description: String): Option[String] =
    if (description.startsWith(MigratePrefix)) Some(description.stripPrefix(MigratePrefix))
    else None

  /** The op whose window [start, end] holds instant `t` (one client runs
    * ops back to back, so windows do not overlap).
    */
  def byWindow(t: Long, windows: Seq[(String, Long, Long)]): Option[String] =
    windows.collectFirst { case (op, s, e) if s <= t && t <= e => op }

  /** Jobs grouped by op: by description first when `useDescription`,
    * else (or failing that) by submission time; the rest under
    * [[Unattributed]].
    */
  def jobs(all: Seq[JobRec], windows: Seq[(String, Long, Long)],
      useDescription: Boolean): Map[String, Seq[JobRec]] =
    all.groupBy { j =>
      (if (useDescription) byDescription(j.description) else None)
        .orElse(byWindow(j.submit, windows))
        .getOrElse(Unattributed)
    }
}

/** The traced run's recorders, registered on the session while tracing
  * is on and detached while it is off (the untraced iterations that give
  * the tracing overhead).
  */
final class Tracer(spark: SparkSession) {
  val spans = new Spans
  val sparkLayer = new SparkLayer
  val queryLayer = new QueryLayer
  /** Per-op wall-time accounts, set by the workload for the trace file. */
  var accounts: Seq[OpAccount] = Nil
  private var attached = false

  def attach(): Unit = if (!attached) {
    spark.sparkContext.addSparkListener(sparkLayer)
    spark.listenerManager.register(queryLayer)
    attached = true
  }

  def detach(): Unit = if (attached) {
    drain()
    spark.sparkContext.removeSparkListener(sparkLayer)
    spark.listenerManager.unregister(queryLayer)
    attached = false
  }

  /** Wait until listener delivery has caught up: every job seen has
    * ended and no new event arrived for a quiet period. Listener events
    * are delivered asynchronously, and task events precede their job's
    * end on the bus.
    */
  def drain(quietMs: Long = 300, timeoutMs: Long = 20000): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    var last = (-1, -1, -1)
    var stableSince = System.currentTimeMillis()
    while (System.currentTimeMillis() < deadline) {
      val js = sparkLayer.jobList
      val cur = (js.size, js.count(_.end >= 0), queryLayer.actions.size)
      if (cur != last) { last = cur; stableSince = System.currentTimeMillis() }
      else if (cur._1 == cur._2 && System.currentTimeMillis() - stableSince >= quietMs) return
      Thread.sleep(25)
    }
  }

  /** Stage sums of the given jobs (a stage shared by several jobs counts
    * once, under the first job that lists it).
    */
  def stageAggs(jobs: Seq[JobRec]): Seq[StageAgg] = {
    val owner = scala.collection.mutable.Map.empty[Int, Int]
    sparkLayer.jobList.foreach(j => j.stages.foreach(s => if (!owner.contains(s)) owner(s) = j.id))
    val ids = jobs.map(_.id).toSet
    jobs.flatMap(_.stages).distinct
      .filter(s => owner.get(s).exists(ids))
      .flatMap(s => Option(sparkLayer.stages.get(s)))
  }
}
