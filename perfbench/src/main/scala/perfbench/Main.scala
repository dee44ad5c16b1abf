package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** What a run hands each workload. */
final class RunCtx(val spark: SparkSession, val runDir: Path, val storeRoot: Path,
    val seed: Long, val seconds: Double, val cores: Int, val tracer: Option[Tracer])

/** A workload's timed section. A pass is one migrate call or one pass
  * of the query list, the first one cold; an op is one table or one
  * query execution. `attempted`/`failed` count ops (a failed op threw or
  * failed its correctness check). `passS` holds the warm pass times,
  * untraced; `extra` the workload's own figures (per-op percentiles among
  * them).
  */
final case class Outcome(attempted: Long, failed: Long, coldS: Double,
    passS: Seq[Double], extra: Seq[(String, Metric)],
    layers: Seq[(String, Metric)], timedNanos: Long)

object Outcome {
  /** Tracing overhead from one run's traced and untraced ops. */
  def overhead(traced: Seq[Double], untraced: Seq[Double]): Seq[(String, Metric)] =
    if (traced.isEmpty || untraced.isEmpty) Nil
    else {
      val d = Stats.median(traced) - Stats.median(untraced)
      Seq("trace.overhead_s" -> Metric(d, "s"),
        "trace.overhead_share" -> Metric(d / Stats.median(untraced), "ratio"))
    }
}

trait Workload {
  def name: String
  /** Make (or validate) the inputs once; returns a signature of them.
    * Called several times: set-up time is the median, and every call
    * must give the same signature.
    */
  def prepareInputs(ctx: RunCtx, rep: Int): String
  /** Untimed warm-up of the code path the timed section runs. */
  def warmup(ctx: RunCtx): Unit
  def measure(ctx: RunCtx): Outcome
}

/** Benchmark entry point: one workload in one JVM against
  * `graft.Engine.local(cores)`, one client.
  *
  * {{{
  * perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *   --run-dir <fresh dir> --bench-dir <perfbench dir> [--trace-out <file>]
  * perfbench.Main --record-query-mix 1 --run-dir <dir> --bench-dir <dir>
  * }}}
  *
  * The last stdout line is the result object; everything else goes to
  * stderr.
  */
object Main {
  val SetupReps = 3

  def workloads(benchDir: Path): Map[String, () => Workload] = Map(
    "migrate_many" -> (() => new MigrateWorkload),
    "query_mix" -> (() => new QueryMixWorkload(benchDir)))

  private def parse(args: Array[String]): Map[String, String] =
    args.sliding(2, 2).collect {
      case Array(k, v) if k.startsWith("--") => k.stripPrefix("--") -> v
      case Array(k) if k.startsWith("--") => k.stripPrefix("--") -> "1"
    }.toMap

  def main(args: Array[String]): Unit = {
    val a = parse(args)
    val runDir = Paths.get(a("run-dir")).toAbsolutePath
    val benchDir = Paths.get(a("bench-dir")).toAbsolutePath
    val cores = Runtime.getRuntime.availableProcessors()
    val jvmStart = Clock.fromEpochMs(ManagementFactory.getRuntimeMXBean.getStartTime)
    Files.createDirectories(runDir)
    val storeRoot = runDir.resolve("stores")
    val spark = graft.Engine.local(cores)
    spark.conf.set("spark.graft.store.root", storeRoot.toString)
    val sessionReady = Clock.now()
    try {
      if (a.contains("record-query-mix")) {
        val ctx = new RunCtx(spark, runDir, storeRoot, 0L, 0.0, cores, None)
        new QueryMixWorkload(benchDir).record(ctx).foreach(println)
      } else run(a, spark, runDir, storeRoot, benchDir, cores, jvmStart, sessionReady)
    } finally spark.stop()
  }

  private def run(a: Map[String, String], spark: SparkSession, runDir: Path,
      storeRoot: Path, benchDir: Path, cores: Int, jvmStart: Long, sessionReady: Long): Unit = {
    val name = a("workload")
    val workload = workloads(benchDir).getOrElse(name,
      sys.error(s"unknown workload $name; known: ${workloads(benchDir).keys.toSeq.sorted.mkString(", ")}"))()
    val traced = a.getOrElse("trace", "0") == "1"
    val tracer = if (traced) Some(new Tracer(spark)) else None
    val ctx = new RunCtx(spark, runDir, storeRoot, a("seed").toLong, a("seconds").toDouble, cores, tracer)

    val reps = (0 until SetupReps).map { r =>
      val t = Clock.now()
      val sig = workload.prepareInputs(ctx, r)
      (Clock.secs(Clock.now() - t), sig)
    }
    val inputsStable = reps.map(_._2).distinct.size == 1
    if (!inputsStable) System.err.println(s"[perfbench] $name: inputs differ between set-up repetitions")
    val w0 = Clock.now()
    workload.warmup(ctx)
    val warmS = Clock.secs(Clock.now() - w0)
    val setupS = Clock.secs(sessionReady - jvmStart) + Stats.median(reps.map(_._1)) + warmS

    Jvm.resetPeak()
    val (gc0, gcMs0) = Jvm.gc()
    val out = workload.measure(ctx)
    val (gc1, gcMs1) = Jvm.gc()
    val heapPeak = Jvm.heapPeakMb()
    val retained = Jvm.retainedMb()

    val e2e = Seq(
      "setup_s" -> Metric(setupS, "s"),
      "cold_pass_s" -> Metric(out.coldS, "s"),
      "pass_s" -> Metric(Stats.median(out.passS), "s"),
      "heap_retained_mb" -> Metric(retained, "MB"))
    val extra = out.extra ++ Seq(
      "error_rate" -> Metric(out.failed.toDouble / math.max(1L, out.attempted), "ratio"))
    val layers = ArrayBuffer[(String, Metric)]()
    layers ++= out.layers
    if (traced) {
      layers += "jvm.gc_s" -> Metric((gcMs1 - gcMs0) / 1e3, "s")
      layers += "jvm.gc_count" -> Metric((gc1 - gc0).toDouble, "count")
      layers += "jvm.heap_peak_mb" -> Metric(heapPeak, "MB")
    }
    System.err.println(f"[perfbench] $name seed=${ctx.seed} set-up reps=${reps.map(_._1).map(x => f"$x%.2f").mkString(",")} " +
      f"warm-up=$warmS%.2f s, timed section ${Clock.secs(out.timedNanos)}%.1f s")
    (e2e ++ extra ++ layers).foreach { case (k, m) => System.err.println(f"[perfbench]   $k%-34s ${m.value}%14.6f ${m.unit}") }

    tracer.foreach(t => a.get("trace-out").foreach(f =>
      writeTrace(Paths.get(f), name, ctx.seed, t, e2e ++ extra, layers.toSeq)))
    Layers.deleteTree(runDir)

    val metrics = (if (traced) layers else e2e).map { case (k, m) =>
      k -> Json.Obj(Seq("value" -> m.value, "unit" -> m.unit))
    }
    println(Json.render(Json.Obj(Seq(
      "correct" -> (out.failed == 0 && inputsStable),
      "attempted" -> out.attempted,
      "failed" -> out.failed,
      "metrics" -> Json.Obj(metrics.toSeq)))))
  }

  /** The traced run's spans, jobs, actions and per-op accounts. Times are
    * seconds from the first span.
    */
  private def writeTrace(file: Path, workload: String, seed: Long, t: Tracer,
      traced: Seq[(String, Metric)], layers: Seq[(String, Metric)]): Unit = {
    val spans = t.spans.all
    val children = spans.groupBy(_.parent)
    val t0 = spans.headOption.map(_.start).getOrElse(0L)
    def rel(x: Long) = if (x <= 0) -1.0 else Clock.secs(x - t0)
    def metrics(ms: Seq[(String, Metric)]) =
      Json.Obj(ms.map { case (k, m) => k -> Json.Obj(Seq("value" -> m.value, "unit" -> m.unit)) })
    val doc = Json.Obj(Seq(
      "workload" -> workload, "seed" -> seed,
      // end-to-end figures of this traced run, tracing on
      "traced_end_to_end" -> metrics(traced),
      "layers" -> metrics(layers),
      "accounts" -> t.accounts.sortBy(_.op).map(a => Json.Obj(Seq(
        "op" -> a.op, "group" -> a.group, "wall_s" -> a.wallS, "planning_s" -> a.planningS,
        "jobs_s" -> a.jobsS, "driver_idle_s" -> a.driverIdleS, "jobs" -> a.jobs, "actions" -> a.actions))),
      "spans" -> spans.map(s => Json.Obj(Seq(
        "id" -> s.id, "parent" -> s.parent, "name" -> s.name, "op" -> s.op,
        "start" -> rel(s.start), "end" -> rel(s.end),
        "self_s" -> Clock.secs(Stats.selfTime(s.interval,
          children.getOrElse(s.id, Nil).map(_.interval))))))))
    Files.createDirectories(file.toAbsolutePath.getParent)
    Files.writeString(file, Json.render(doc) + "\n")
  }
}
