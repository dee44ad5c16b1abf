package perfbench

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.pipeline.{LineProtocolSink, Pipeline, PipelineConfig, ProgressListener, Sink}

/** Per-table timestamps taken around the calls `Pipeline.migrate` makes
  * into the benchmark's prepare function and sink.
  */
final class TableClock {
  final class Times {
    @volatile var prepCall, prepApply, prepEnd, appendStart, appendEnd = 0L
    @volatile var markStart, markEnd, truncStart, truncEnd = 0L
  }
  val tables = new ConcurrentHashMap[String, Times]()
  def of(table: String): Times = tables.computeIfAbsent(table, _ => new Times)

  /** Wrap a prepare function: the outer call marks the table's start
    * (Pipeline calls it before loading the source), the inner one the
    * transform itself.
    */
  def prepare(user: String => DataFrame => DataFrame): String => DataFrame => DataFrame =
    name => {
      of(name).prepCall = Clock.now()
      val f = user(name)
      df => {
        val t = of(name)
        t.prepApply = Clock.now()
        val out = f(df)
        t.prepEnd = Clock.now()
        out
      }
    }
}

/** A sink that times each call and delegates to the engine's sink. */
final class TimedSink(inner: Sink, @transient clock: TableClock) extends Sink {
  override def truncate(table: String): Unit = {
    val t = clock.of(table)
    t.truncStart = Clock.now()
    try inner.truncate(table) finally t.truncEnd = Clock.now()
  }
  override def append(df: DataFrame, table: String): Unit = {
    val t = clock.of(table)
    t.appendStart = Clock.now()
    try inner.append(df, table) finally t.appendEnd = Clock.now()
  }
  override def markDone(table: String): Unit = {
    val t = clock.of(table)
    t.markStart = Clock.now()
    try inner.markDone(table) finally t.markEnd = Clock.now()
  }
  override def isDone(table: String): Boolean = inner.isDone(table)
}

/** What the published series of one migration hold. */
final case class Published(lines: Map[String, Long], bytes: Long, files: Long,
    staged: Set[String], badFirstLine: Set[String])

object Published {
  private val nl = '\n'.toByte

  /** Read every published flush file under `sinkDir` (names starting
    * with `_` or `.` are not published), and note any series whose
    * `_staging` still holds files.
    */
  def read(sinkDir: Path): Published = {
    val lines = scala.collection.mutable.Map.empty[String, Long]
    var bytes, files = 0L
    val staged = scala.collection.mutable.Set.empty[String]
    val bad = scala.collection.mutable.Set.empty[String]
    val buf = new Array[Byte](1 << 20)
    if (Files.isDirectory(sinkDir)) Files.list(sinkDir).iterator().asScala.foreach { series =>
      val name = series.getFileName.toString
      if (Files.isDirectory(series)) {
        if (hasFiles(series.resolve("_staging"))) staged += name
        var n = 0L
        Files.list(series).iterator().asScala
          .filter(p => Files.isRegularFile(p) && !p.getFileName.toString.startsWith("_") &&
            !p.getFileName.toString.startsWith("."))
          .foreach { f =>
            files += 1
            bytes += Files.size(f)
            val in = Files.newInputStream(f)
            try {
              var first = true
              var r = in.read(buf)
              while (r > 0) {
                if (first) {
                  val head = new String(buf, 0, math.min(r, name.length + 1), "UTF-8")
                  if (head != name + " ") bad += name
                  first = false
                }
                var i = 0
                while (i < r) { if (buf(i) == nl) n += 1; i += 1 }
                r = in.read(buf)
              }
            } finally in.close()
          }
        lines(name) = n
      }
    }
    Published(lines.toMap, bytes, files, staged.toSet, bad.toSet)
  }

  private def hasFiles(dir: Path): Boolean =
    Files.exists(dir) && {
      val s = Files.walk(dir)
      try s.iterator().asScala.exists(Files.isRegularFile(_)) finally s.close()
    }
}

/** A generated catalog and the ledger a correct migration reports. */
final case class Inputs(dir: String, truth: Vector[TableTruth])

/** One migrate call's outcome. */
final case class MigrateIter(traced: Boolean, start: Long, end: Long,
    clock: TableClock, written: Long, published: Published, failedTables: Set[String],
    progressRows: Long) {
  def wallS: Double = Clock.secs(end - start)
}

/** `migrate_many`: closed-loop `Pipeline.migrate` calls over one
  * seed-generated catalog of many small collections, each call into a
  * fresh `LineProtocolSink` directory at the reference's insertLimit 100
  * and limit 2, every call checked against the generator's counts. At
  * least `WarmCalls` calls follow the cold one, so a short burst of host
  * contention moves one call, not the median.
  */
final class MigrateWorkload extends Workload {
  val name = "migrate_many"
  private val InsertLimit = 100
  private val WarmCalls = 5

  /** The benchmark's prepare function, as in the reference example: drop
    * the Mongo `_id` and rename the event time to `time`.
    */
  def userPrepare(table: String): DataFrame => DataFrame = df => {
    val d = if (df.columns.contains("_id")) df.drop("_id") else df
    if (d.columns.contains(Catalogs.TimeCol)) d.withColumnRenamed(Catalogs.TimeCol, "time") else d
  }

  /** Write the catalog with the collections spread over the executors. */
  private def generate(spark: SparkSession, dir: String, ss: Vector[TableSpec]): Vector[TableTruth] =
    spark.sparkContext.parallelize(ss, math.max(1, spark.sparkContext.defaultParallelism))
      .map(Catalogs.write(dir, _))
      .collect().toVector

  private var inputs: Inputs = _

  override def prepareInputs(ctx: RunCtx, rep: Int): String = {
    val dir = ctx.runDir.resolve(s"catalog-$rep")
    val truth = generate(ctx.spark, dir.toString, Catalogs.many(ctx.seed))
    val sig = truth.map(t => s"${t.name}:${t.rows}:${t.written}:${t.skipped}:${t.bytes}").mkString(",")
    if (inputs != null) Layers.deleteTree(Paths.get(inputs.dir))
    inputs = Inputs(dir.toString, truth)
    sig
  }

  private val config = PipelineConfig(insertLimit = InsertLimit, limit = 2, logging = false)

  override def warmup(ctx: RunCtx): Unit = {
    val dir = ctx.runDir.resolve("warm-catalog")
    val truth = generate(ctx.spark, dir.toString, Catalogs.many(ctx.seed + 1, tables = 8))
    val it = migrateOnce(ctx, dir.toString, truth, ctx.runDir.resolve("warm-sink"), traced = false)
    require(it.failedTables.isEmpty, s"warm-up migration failed: ${it.failedTables.mkString(",")}")
    Layers.deleteTree(dir)
  }

  private def migrateOnce(ctx: RunCtx, catalog: String, truthV: Vector[TableTruth],
      sinkDir: Path, traced: Boolean): MigrateIter = {
    val clock = new TableClock
    val sink = new TimedSink(new LineProtocolSink(sinkDir.toString, InsertLimit), clock)
    val progress = if (traced) Some(new ProgressListener().register(ctx.spark)) else None
    val start = Clock.now()
    val ledger = Pipeline.migrate(ctx.spark, catalog, sink, clock.prepare(userPrepare), config)
    val end = Clock.now()
    val reported = ledger.collect().map(r =>
      r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    if (traced) ctx.tracer.foreach(_.drain())
    val progressRows = progress.map { p =>
      p.unregister(ctx.spark)
      p.snapshot().values.map(_._1).sum
    }.getOrElse(0L)
    val published = Published.read(sinkDir)
    val failed = ArrayBuffer.empty[String]
    truthV.filterNot(_.system).foreach { t =>
      val ok = reported.get(t.name).contains((t.written, t.skipped)) &&
        published.lines.getOrElse(t.name, 0L) == t.written &&
        !published.staged(t.name) && !published.badFirstLine(t.name)
      if (!ok) failed += t.name
    }
    // a system collection must be neither reported nor published
    truthV.filter(_.system).foreach { t =>
      if (reported.contains(t.name) || published.lines.contains(t.name)) failed += t.name
    }
    Layers.deleteTree(sinkDir)
    MigrateIter(traced, start, end, clock, truthV.filterNot(_.system).map(_.written).sum,
      published, failed.toSet, progressRows)
  }

  override def measure(ctx: RunCtx): Outcome = {
    val iters = ArrayBuffer.empty[MigrateIter]
    val t0 = Clock.now()
    // call 0 is the cold call; after it a traced run alternates untraced
    // and traced calls, starting and ending untraced, so the overhead
    // compares neighbours
    val minIters = if (ctx.tracer.isDefined) math.max(4, 1 + WarmCalls) else 1 + WarmCalls
    while (iters.size < minIters || Clock.secs(Clock.now() - t0) < ctx.seconds ||
        (ctx.tracer.isDefined && iters.size % 2 == 1)) {
      val traced = ctx.tracer.isDefined && iters.size % 2 == 0 && iters.size > 0
      ctx.tracer.foreach(t => if (traced) t.attach() else t.detach())
      iters += migrateOnce(ctx, inputs.dir, inputs.truth,
        ctx.runDir.resolve(s"sink-${iters.size}"), traced)
      if (iters.last.failedTables.nonEmpty)
        System.err.println(s"[perfbench] $name: failed tables: ${iters.last.failedTables.toSeq.sorted.mkString(",")}")
    }
    ctx.tracer.foreach(_.detach())
    val timedEnd = Clock.now()

    val migrated = inputs.truth.filterNot(_.system)
    val sourceRows = migrated.map(_.rows).sum
    val written = migrated.map(_.written).sum
    val warm = iters.drop(1).filterNot(_.traced).toSeq
    val migrateS = Stats.median(warm.map(_.wallS))
    val service = warm.flatMap(it => it.clock.tables.asScala.collect {
      case (_, t) if t.appendEnd > 0 => Clock.secs(t.appendEnd - t.prepCall)
    })
    val extra = ArrayBuffer[(String, Metric)](
      "migrate_s" -> Metric(migrateS, "s"),
      "rows_per_s" -> Metric(sourceRows / migrateS, "rows/s"),
      "sink_bytes_per_row" -> Metric(
        iters.map(_.published.bytes).sum.toDouble / math.max(1L, written * iters.size), "bytes"),
      "table_p50_s" -> Metric(Stats.median(service), "s"))
    Stats.tailPercentile(service, 0.9).foreach(p => extra += "table_p90_s" -> Metric(p, "s"))
    extra += "table_samples" -> Metric(service.size, "count")
    Outcome(iters.size.toLong * migrated.size, iters.map(_.failedTables.size.toLong).sum,
      iters.head.wallS, warm.map(_.wallS), extra.toSeq,
      ctx.tracer.map(t => layers(ctx, t, iters.toSeq)).getOrElse(Nil), timedEnd - t0)
  }

  /** Per-layer metrics over the traced iterations, per migrate call. */
  private def layers(ctx: RunCtx, tracer: Tracer, iters: Seq[MigrateIter]): Seq[(String, Metric)] = {
    val traced = iters.filter(_.traced)
    val n = traced.size.toDouble
    val allJobs = tracer.sparkLayer.jobList
    val out = ArrayBuffer.empty[(String, Metric)]
    def per(name: String, unit: String)(f: MigrateIter => Double): Unit =
      out += name -> Metric(traced.map(f).sum / n, unit)

    // jobs and actions of each traced call, by the call's window
    def inCall(it: MigrateIter, t: Long) = it.start <= t && t <= it.end
    val jobsOf = traced.map(it => it -> allJobs.filter(j => inCall(it, j.submit))).toMap
    val actionsOf = traced.map(it => it -> tracer.queryLayer.actionList.filter(a => inCall(it, a.start))).toMap
    def tableSpans(it: MigrateIter) = it.clock.tables.asScala.toSeq.collect {
      case (tb, t) if t.prepCall > 0 => tb -> t
    }
    // spans: the call, its tables, their phases, and their write jobs
    traced.foreach { it =>
      val callId = tracer.spans.add(0, "migrate", name, it.start, it.end)
      val byTable = Attribution.jobs(jobsOf(it), Nil, useDescription = true)
      tableSpans(it).foreach { case (tb, t) =>
        val end = math.max(t.markEnd, t.appendEnd)
        val id = tracer.spans.add(callId, "table", tb, t.prepCall, end)
        tracer.spans.add(id, "load", tb, t.prepCall, t.prepApply)
        tracer.spans.add(id, "prepare", tb, t.prepApply, t.prepEnd)
        tracer.spans.add(id, "plan", tb, t.prepEnd, t.appendStart)
        val ap = tracer.spans.add(id, "append", tb, t.appendStart, t.appendEnd)
        byTable.getOrElse(tb, Nil).foreach(j => tracer.spans.add(ap, s"job ${j.id}", tb, j.submit, j.end))
        tracer.spans.add(id, "ledger", tb, t.appendEnd, t.markStart)
        tracer.spans.add(id, "mark_done", tb, t.markStart, t.markEnd)
      }
      byTable.get(Attribution.Unattributed).foreach(_.foreach(j =>
        tracer.spans.add(callId, s"job ${j.id}", Attribution.Unattributed, j.submit, j.end)))
    }

    per("sources.scan_rows", "rows")(it => tracer.stageAggs(jobsOf(it)).map(_.inputRows).sum.toDouble)
    per("sources.scan_bytes", "bytes")(it => tracer.stageAggs(jobsOf(it)).map(_.inputBytes).sum.toDouble)
    per("pipeline.prelude_s", "s")(it =>
      Clock.secs(tableSpans(it).map(_._2.prepCall).minOption.getOrElse(it.end) - it.start))
    per("pipeline.prepare_s", "s")(it => tableSpans(it).map { case (_, t) => Clock.secs(t.appendStart - t.prepCall) }.sum)
    per("pipeline.append_s", "s")(it => tableSpans(it).map { case (_, t) => Clock.secs(t.appendEnd - t.appendStart) }.sum)
    per("pipeline.in_flight_mean", "count")(it =>
      Stats.meanInFlight(tableSpans(it).map { case (_, t) => (t.appendStart, t.appendEnd) }))
    per("pipeline.gap_s", "s")(it => Clock.secs(it.end - it.start - Stats.covered(
      tableSpans(it).map { case (_, t) => (t.prepCall, math.max(t.markEnd, t.appendEnd)) })))
    out += "pipeline.tables_failed" -> Metric(iters.map(_.failedTables.size).sum, "count")

    per("sink.flush_files", "count")(_.published.files.toDouble)
    per("sink.rows_per_flush", "rows")(it =>
      it.published.lines.values.sum.toDouble / math.max(1L, it.published.files))
    per("sink.write_cpu_s", "s")(it => tracer.stageAggs(jobsOf(it)).map(_.cpuNs).sum / 1e9)
    per("sink.commit_s", "s") { it =>
      val byTable = Attribution.jobs(jobsOf(it), Nil, useDescription = true)
      tableSpans(it).map { case (tb, t) =>
        byTable.get(tb).map(js => Clock.secs(t.appendEnd - js.map(_.end).max)).getOrElse(0.0)
      }.sum
    }
    per("sink.truncate_s", "s")(it => tableSpans(it).map { case (_, t) => Clock.secs(t.truncEnd - t.truncStart) }.sum)
    per("sink.mark_done_s", "s")(it => tableSpans(it).map { case (_, t) => Clock.secs(t.markEnd - t.markStart) }.sum)

    val sparkPer = traced.map(it => Layers.sparkMetrics("spark", tracer, jobsOf(it), it.end - it.start, ctx.cores))
    out ++= mean(sparkPer)
    per("spark.jobs_per_table", "count")(it => jobsOf(it).size.toDouble / math.max(1, tableSpans(it).size))
    per("spark.unattributed_jobs", "count")(it =>
      Attribution.jobs(jobsOf(it), Nil, useDescription = true).getOrElse(Attribution.Unattributed, Nil).size.toDouble)
    val accounts = traced.zipWithIndex.map { case (it, i) =>
      val op = Op(s"$name#${i + 1}", "migrate", it.start, it.end)
      Layers.account(Seq(op), Map(op.name -> jobsOf(it)), Map(op.name -> actionsOf(it))).head
    }
    tracer.accounts = accounts
    out ++= mean(traced.zip(accounts).map { case (it, a) =>
      Layers.queryMetrics("queries", actionsOf(it), Seq(a)) })
    per("progress.coverage", "ratio")(it =>
      it.progressRows.toDouble / math.max(1L, it.written))
    out ++= Outcome.overhead(traced.map(_.wallS), iters.drop(1).filterNot(_.traced).map(_.wallS))
    out.toSeq
  }

  private def mean(runs: Seq[Seq[(String, Metric)]]): Seq[(String, Metric)] =
    runs.head.map { case (k, m) =>
      k -> Metric(runs.map(_.find(_._1 == k).get._2.value).sum / runs.size, m.unit)
    }
}
