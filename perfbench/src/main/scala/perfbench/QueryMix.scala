package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, count, expr, lit, xxhash64}

/** A query's recorded result: row count, and the Bench-style digest
  * (`bit_xor` of `xxhash64` over all columns). Queries that are rows-only
  * by contract (no DuckDB oracle) are checked by row count alone.
  */
final case class Expected(rows: Long, digest: Long, byDigest: Boolean)

/** One pass over the query list. Its time is the sum of its queries'
  * times; the GC settle before each query is outside them.
  */
final case class Pass(index: Int, traced: Boolean, start: Long, end: Long,
    runs: Vector[QueryRun]) {
  def wallS: Double = runs.map(_.wallS).sum
}

/** One query execution inside a pass. */
final case class QueryRun(query: String, pass: Int, traced: Boolean,
    start: Long, end: Long, ok: Boolean) {
  def wallS: Double = Clock.secs(end - start)
  def family: String = QueryMix.family(query)
}

object QueryMix {
  /** The registered queries the workload runs, across all five families:
    * sub-second floor-bound parity, relational and time-series queries,
    * a streaming query, and store consumers (a durable-store update that
    * builds in the run's store root, and a durable-store vacuum).
    */
  val queries: Vector[String] = Vector(
    "p01_prepare_map", "r01_pricing_summary", "r22_window_rank",
    "t01_tumbling_window", "t06_stream_tumbling",
    "l133_dsir_durable_update", "s14_store_vacuum")

  val families: Vector[(String, String)] = Vector(
    "p" -> "parity", "r" -> "relational", "t" -> "timeseries", "l" -> "llm", "s" -> "scale")

  def family(query: String): String =
    families.find(f => query.startsWith(f._1)).map(_._2).getOrElse("other")

  /** The pass order: a seeded permutation, different for every pass. */
  def order(seed: Long, pass: Int): Vector[String] =
    new scala.util.Random(seed * 7919L + pass).shuffle(queries)

  /** Fully materialize a query the way `graft.Bench` does, returning
    * (rows, digest).
    */
  def materialize(spark: SparkSession, fixtures: String, query: String): (Long, Long) = {
    val df = graft.SparkEntry.queries(query)(spark, fixtures)
    val r = df.select(xxhash64(df.columns.map(col).toIndexedSeq: _*).as("h"))
      .agg(expr("bit_xor(h)"), count(lit(1))).collect()(0)
    (r.getLong(1), if (r.isNullAt(0)) 0L else r.getLong(0))
  }

  /** Expected results file: `table <name> <rows>` lines for the fixture
    * tables and `query <name> <rows> <digest> <digest|rows>` lines.
    */
  def readExpected(file: Path): (Map[String, Long], Map[String, Expected]) = {
    val lines = Files.readAllLines(file).asScala.map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
    val tables = lines.collect { case l if l.startsWith("table\t") =>
      val f = l.split('\t'); f(1) -> f(2).toLong
    }.toMap
    val qs = lines.collect { case l if l.startsWith("query\t") =>
      val f = l.split('\t'); f(1) -> Expected(f(2).toLong, f(3).toLong, f(4) == "digest")
    }.toMap
    (tables, qs)
  }
}

/** `query_mix`: a fixed list of registered queries over the read-only
  * fixtures. One cold pass on the run's fresh store root (the standing
  * and durable stores build), then warm passes; every execution is
  * checked against the recorded results.
  */
final class QueryMixWorkload(benchDir: Path) extends Workload {
  import QueryMix._

  val name = "query_mix"
  private val fixtures = benchDir.resolve("fixtures").resolve("sf0.01").toString
  private lazy val (tableRows, expected) = readExpected(benchDir.resolve("expected").resolve("query_mix.tsv"))

  /** Validate the fixtures: each table loads and has its recorded rows
    * (one job over all tables).
    */
  override def prepareInputs(ctx: RunCtx, rep: Int): String = {
    val counts = graft.Tables.all
      .map(t => graft.Tables.load(ctx.spark, fixtures, t).select(lit(t).as("t")))
      .reduce(_ unionByName _).groupBy("t").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).sortBy(_._1).toSeq
    counts.foreach { case (t, n) =>
      require(tableRows.get(t).contains(n), s"fixture $t has $n rows, expected ${tableRows.get(t)}")
    }
    counts.map { case (t, n) => s"$t:$n" }.mkString(",")
  }

  override def warmup(ctx: RunCtx): Unit = materialize(ctx.spark, fixtures, "p05_count")

  private def runOne(ctx: RunCtx, q: String, pass: Int, traced: Boolean): QueryRun = {
    // As graft.Bench does: settle garbage left by the previous query so
    // it is not collected inside this one's time.
    System.gc()
    val start = Clock.now()
    val ok = try {
      val (rows, digest) = materialize(ctx.spark, fixtures, q)
      val e = expected.getOrElse(q, sys.error(s"no recorded result for $q"))
      val good = rows == e.rows && (!e.byDigest || digest == e.digest)
      if (!good) System.err.println(s"[perfbench] $q: rows=$rows digest=$digest, expected $e")
      good
    } catch {
      case scala.util.control.NonFatal(ex) =>
        System.err.println(s"[perfbench] $q failed: $ex")
        false
    }
    QueryRun(q, pass, traced, start, Clock.now(), ok)
  }

  private def runPass(ctx: RunCtx, pass: Int, traced: Boolean): Pass = {
    ctx.tracer.foreach(t => if (traced) t.attach() else t.detach())
    val start = Clock.now()
    val runs = order(ctx.seed, pass).map(q => runOne(ctx, q, pass, traced))
    Pass(pass, traced, start, Clock.now(), runs)
  }

  override def measure(ctx: RunCtx): Outcome = {
    val t0 = Clock.now()
    val ledger0 = graft.operators.StoreBuildLedger.snapshot
    val cold = runPass(ctx, 0, traced = ctx.tracer.isDefined)
    val ledger1 = graft.operators.StoreBuildLedger.snapshot
    val warm = ArrayBuffer.empty[Pass]
    // warm passes run for the given seconds after the cold pass
    val warmT0 = Clock.now()
    // several warm passes, so a short burst of host contention moves one
    // pass, not the median; a traced run alternates untraced and traced
    // passes, starting and ending untraced, so the overhead compares
    // neighbours
    val minWarm = 4
    while (warm.size < minWarm || Clock.secs(Clock.now() - warmT0) < ctx.seconds ||
        (ctx.tracer.isDefined && warm.size % 2 == 0)) {
      val traced = ctx.tracer.isDefined && warm.size % 2 == 1
      warm += runPass(ctx, warm.size + 1, traced)
    }
    ctx.tracer.foreach(_.detach())
    val ledger2 = graft.operators.StoreBuildLedger.snapshot
    val timedEnd = Clock.now()
    val storeBytes = Layers.dirBytes(ctx.storeRoot)

    val all = cold.runs ++ warm.flatMap(_.runs)
    val untracedWarm = warm.filterNot(_.traced).toSeq
    // a warm pass's time: each query at its median over the warm passes,
    // so one query's spike in one pass does not move it
    val samples = untracedWarm.flatMap(_.runs)
    val passS = Seq(samples.groupBy(_.query).values.map(rs => Stats.median(rs.map(_.wallS))).sum)
    val latencies = samples.map(_.wallS)
    val extra = ArrayBuffer[(String, Metric)](
      "warm_pass_s" -> Metric(passS.head, "s"),
      "query_p50_s" -> Metric(Stats.median(latencies), "s"))
    Stats.tailPercentile(latencies, 0.9).foreach(p => extra += "query_p90_s" -> Metric(p, "s"))
    extra += "query_samples" -> Metric(latencies.size, "count")

    def delta(a: Map[String, Double], b: Map[String, Double]) =
      b.map { case (k, v) => k -> (v - a.getOrElse(k, 0.0)) }.filter(_._2 > 0)
    val stores = Seq(
      "stores.build_s" -> Metric(delta(ledger0, ledger1).values.sum, "s"),
      "stores.builds" -> Metric(delta(ledger0, ledger1).size, "count"),
      "stores.warm_build_s" -> Metric(delta(ledger1, ledger2).values.sum, "s"),
      "stores.root_bytes" -> Metric(storeBytes.toDouble, "bytes"))
    val layerMetrics = ctx.tracer.map(t => stores ++ layers(ctx, t, cold, warm.toSeq)).getOrElse(Nil)
    Outcome(all.size.toLong, all.count(!_.ok).toLong, cold.wallS,
      passS, extra.toSeq, layerMetrics, timedEnd - t0)
  }

  /** Per-layer metrics: warm-pass figures are per traced warm pass, the
    * `cold` ones cover the cold pass.
    */
  private def layers(ctx: RunCtx, tracer: Tracer, cold: Pass,
      warm: Seq[Pass]): Seq[(String, Metric)] = {
    val tracedWarm = warm.filter(_.traced)
    val passes = cold +: tracedWarm
    val ops = passes.flatMap(_.runs.map(r => Op(s"${r.query}#${r.pass}", r.family, r.start, r.end)))
    val jobsByOp = Attribution.jobs(tracer.sparkLayer.jobList, ops.map(_.window), useDescription = false)
    val actionsByOp = Layers.actionsByWindow(tracer.queryLayer.actionList, ops)
    val accounts = Layers.account(ops, jobsByOp, actionsByOp).map(a => a.op -> a).toMap

    // spans: pass -> query -> jobs
    passes.foreach { p =>
      val passId = tracer.spans.add(0, s"pass ${p.index}", "pass", p.start, p.end)
      p.runs.foreach { r =>
        val op = s"${r.query}#${r.pass}"
        val qid = tracer.spans.add(passId, r.query, op, r.start, r.end)
        jobsByOp.getOrElse(op, Nil).foreach(j => tracer.spans.add(qid, s"job ${j.id}", op, j.submit, j.end))
      }
    }

    val out = ArrayBuffer.empty[(String, Metric)]
    val n = math.max(1, tracedWarm.size).toDouble
    // totals over the traced warm passes, reported per pass (a share is
    // already a ratio)
    def perPass(ms: Seq[(String, Metric)]) = ms.map {
      case (k, m) if k.endsWith("busy_share") => k -> m
      case (k, m) => k -> m.copy(value = m.value / n)
    }
    val warmOps = ops.filter(o => !o.name.endsWith("#0"))
    val warmWall = tracedWarm.map(p => p.end - p.start).sum
    def jobsOf(os: Seq[Op]) = os.flatMap(o => jobsByOp.getOrElse(o.name, Nil))
    def actionsOf(os: Seq[Op]) = os.flatMap(o => actionsByOp.getOrElse(o.name, Nil))
    def accountsOf(os: Seq[Op]) = os.flatMap(o => accounts.get(o.name))
    out ++= perPass(Layers.sparkMetrics("spark", tracer, jobsOf(warmOps), warmWall, ctx.cores))
    out ++= perPass(Layers.queryMetrics("queries", actionsOf(warmOps), accountsOf(warmOps)))
    families.foreach { case (_, fam) =>
      val fo = warmOps.filter(_.group == fam)
      val st = tracer.stageAggs(jobsOf(fo))
      val ac = accountsOf(fo)
      out ++= perPass(Seq(
        s"queries.$fam.wall_s" -> Metric(ac.map(_.wallS).sum, "s"),
        s"queries.$fam.planning_s" -> Metric(ac.map(_.planningS).sum, "s"),
        s"queries.$fam.driver_idle_s" -> Metric(ac.map(_.driverIdleS).sum, "s"),
        s"spark.$fam.jobs" -> Metric(jobsOf(fo).size, "count"),
        s"spark.$fam.executor_cpu_s" -> Metric(st.map(_.cpuNs).sum / 1e9, "s"),
        s"spark.$fam.shuffle_bytes" -> Metric(st.map(s => s.shuffleRead + s.shuffleWrite).sum.toDouble, "bytes")))
    }
    val coldOps = ops.filter(_.name.endsWith("#0"))
    out += "spark.cold.jobs" -> Metric(jobsOf(coldOps).size, "count")
    out += "spark.cold.executor_run_s" -> Metric(tracer.stageAggs(jobsOf(coldOps)).map(_.runMs).sum / 1e3, "s")
    out += "queries.cold.driver_idle_s" -> Metric(accountsOf(coldOps).map(_.driverIdleS).sum, "s")
    out += "spark.unattributed_jobs" -> Metric(jobsByOp.getOrElse(Attribution.Unattributed, Nil).size, "count")
    out += "queries.samples" -> Metric(warmOps.size, "count")
    out ++= Outcome.overhead(
      tracedWarm.map(_.wallS), warm.filterNot(_.traced).map(_.wallS))
    tracer.accounts = accounts.values.toSeq
    out.toSeq
  }

  /** Record the expected results: run every query once and print the
    * lines of the expected file.
    */
  def record(ctx: RunCtx): Seq[String] = {
    graft.Tables.all.map(t => s"table\t$t\t${graft.Tables.load(ctx.spark, fixtures, t).count()}") ++
      queries.map { q =>
        val (rows, digest) = materialize(ctx.spark, fixtures, q)
        val check = if (graft.SparkEntry.oracleSql.contains(q)) "digest" else "rows"
        s"query\t$q\t$rows\t$digest\t$check"
      }
  }
}
