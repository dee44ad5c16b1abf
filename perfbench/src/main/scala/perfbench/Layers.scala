package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

final case class Metric(value: Double, unit: String)

/** One benchmark operation's window: a table, a query execution, or a
  * whole migrate call. `group` is the query family or "table".
  */
final case class Op(name: String, group: String, start: Long, end: Long) {
  def window: (String, Long, Long) = (name, start, end)
  def nanos: Long = end - start
}

/** Where one op's wall time went: planning phases, time covered by its
  * jobs, and the named remainder (driver-side work and waits outside
  * both, reported as `driver_idle_s`).
  */
final case class OpAccount(op: String, group: String, wallS: Double,
    planningS: Double, jobsS: Double, driverIdleS: Double, jobs: Int,
    actions: Int)

/** Aggregation of recorded jobs, stages and actions into the per-layer
  * metrics, named by layer.
  */
object Layers {

  def sparkMetrics(prefix: String, tracer: Tracer, jobs: Seq[JobRec],
      wallNs: Long, cores: Int): Seq[(String, Metric)] = {
    val st = tracer.stageAggs(jobs)
    def sum(f: StageAgg => Long): Double = st.map(f).sum.toDouble
    val runS = sum(_.runMs) / 1e3
    Seq(
      s"$prefix.jobs" -> Metric(jobs.size, "count"),
      s"$prefix.stages" -> Metric(st.size, "count"),
      s"$prefix.tasks" -> Metric(sum(_.tasks.toLong), "count"),
      s"$prefix.executor_run_s" -> Metric(runS, "s"),
      s"$prefix.executor_cpu_s" -> Metric(sum(_.cpuNs) / 1e9, "s"),
      s"$prefix.task_gc_s" -> Metric(sum(_.gcMs) / 1e3, "s"),
      s"$prefix.scheduler_delay_s" -> Metric(sum(_.schedDelayMs) / 1e3, "s"),
      s"$prefix.shuffle_write_bytes" -> Metric(sum(_.shuffleWrite), "bytes"),
      s"$prefix.shuffle_read_bytes" -> Metric(sum(_.shuffleRead), "bytes"),
      s"$prefix.spill_bytes" -> Metric(sum(_.spill), "bytes"),
      s"$prefix.busy_share" -> Metric(
        if (wallNs <= 0) 0.0 else runS / (cores * Clock.secs(wallNs)), "ratio"))
  }

  def queryMetrics(prefix: String, actions: Seq[ActionRec],
      accounts: Seq[OpAccount]): Seq[(String, Metric)] = Seq(
    s"$prefix.analysis_s" -> Metric(actions.map(_.analysisMs).sum / 1e3, "s"),
    s"$prefix.optimization_s" -> Metric(actions.map(_.optimizationMs).sum / 1e3, "s"),
    s"$prefix.planning_s" -> Metric(actions.map(_.planningMs).sum / 1e3, "s"),
    s"$prefix.actions" -> Metric(actions.size, "count"),
    s"$prefix.exchanges" -> Metric(actions.map(_.exchanges).sum, "count"),
    s"$prefix.sorts" -> Metric(actions.map(_.sorts).sum, "count"),
    s"$prefix.windows" -> Metric(actions.map(_.windows).sum, "count"),
    s"$prefix.bnlj" -> Metric(actions.map(_.bnlj).sum, "count"),
    s"$prefix.driver_idle_s" -> Metric(accounts.map(_.driverIdleS).sum, "s"))

  /** Account each op's wall time from the jobs and actions attributed to
    * it. Planning is the sum of its actions' tracked phases; jobs count
    * by the union of their intervals clipped to the op.
    */
  def account(ops: Seq[Op], jobsByOp: Map[String, Seq[JobRec]],
      actionsByOp: Map[String, Seq[ActionRec]]): Seq[OpAccount] =
    ops.map { op =>
      val js = jobsByOp.getOrElse(op.name, Nil)
      val as = actionsByOp.getOrElse(op.name, Nil)
      val planning = as.map(a => a.analysisMs + a.optimizationMs + a.planningMs).sum / 1e3
      val covered = Stats.covered(js.map(j =>
        (math.max(j.submit, op.start), math.min(if (j.end < 0) op.end else j.end, op.end))))
      val wall = Clock.secs(op.nanos)
      OpAccount(op.name, op.group, wall, planning, Clock.secs(covered),
        math.max(0.0, wall - planning - Clock.secs(covered)), js.size, as.size)
    }

  def actionsByWindow(actions: Seq[ActionRec], ops: Seq[Op]): Map[String, Seq[ActionRec]] =
    actions.groupBy(a => Attribution.byWindow(a.start, ops.map(_.window))
      .getOrElse(Attribution.Unattributed))

  /** Bytes of every regular file under `dir` (0 when it does not exist). */
  def dirBytes(dir: Path): Long =
    if (!Files.exists(dir)) 0L
    else {
      val s = Files.walk(dir)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }

  def deleteTree(dir: Path): Unit =
    if (Files.exists(dir)) {
      val s = Files.walk(dir)
      try s.iterator().asScala.toVector.reverse.foreach(Files.deleteIfExists)
      finally s.close()
    }
}

/** JVM-level readings from the GC and memory MXBeans. */
object Jvm {
  private val mb = 1024.0 * 1024.0

  /** (collections, collection milliseconds) summed over all collectors. */
  def gc(): (Long, Long) = {
    val bs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    (bs.map(b => math.max(0L, b.getCollectionCount)).sum,
      bs.map(b => math.max(0L, b.getCollectionTime)).sum)
  }

  private def heapPools =
    ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP)

  def resetPeak(): Unit = heapPools.foreach(_.resetPeakUsage())

  def heapPeakMb(): Double = heapPools.map(_.getPeakUsage.getUsed).sum / mb

  /** Heap still in use after a full collection: the least of three
    * readings, since listener and cleaner threads keep allocating
    * between them.
    */
  def retainedMb(): Double =
    (1 to 3).map { _ =>
      System.gc()
      Thread.sleep(50)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / mb
    }.min
}
