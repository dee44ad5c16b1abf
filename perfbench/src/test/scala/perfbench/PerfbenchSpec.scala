package perfbench

import java.nio.file.{Files, Path}
import java.security.MessageDigest

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

class PerfbenchSpec extends AnyFunSuite {

  private def tempDir(): Path = Files.createTempDirectory("perfbench-spec-")

  /** Relative path -> SHA-256 of every parquet file under `dir`. */
  private def contents(dir: Path): Map[String, String] = {
    val s = Files.walk(dir)
    try s.iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".parquet"))
      .map { p =>
        val md = MessageDigest.getInstance("SHA-256").digest(Files.readAllBytes(p))
        dir.relativize(p).toString -> md.map("%02x".format(_)).mkString
      }.toMap
    finally s.close()
  }

  private def write(specs: Vector[TableSpec]): (Vector[TableTruth], Map[String, String]) = {
    val dir = tempDir()
    try (specs.map(Catalogs.write(dir.toString, _)), contents(dir))
    finally Layers.deleteTree(dir)
  }

  test("same seed gives an identical catalog; another seed a different one") {
    def many(seed: Long) = Catalogs.many(seed, tables = 30, minRows = 5, maxRows = 40)
    val (t1, c1) = write(many(7))
    val (t2, c2) = write(many(7))
    val (t3, c3) = write(many(8))
    assert(t1 == t2, "counts and bytes")
    assert(c1 == c2, "file contents")
    assert(c1.nonEmpty)
    assert(t1 != t3)
    assert(c1 != c3)
  }

  test("generated catalogs carry the edge cases the workload relies on") {
    val many = Catalogs.many(3)
    val (truth, _) = write(many)
    assert(truth.count(_.system) > 0, "system collections to skip")
    assert(truth.exists(t => !t.system && t.rows > 0 && t.written == 0 && t.skipped == t.rows),
      "a collection without a time column, fully skip-counted")
    assert(truth.exists(t => t.written > 0 && t.skipped > 0), "a seeded share of null times")
    assert(truth.count(t => !t.system && t.rows == 0) == 1, "one empty collection")
    assert(many.map(_.cols.map(_.name).toSet).distinct.size > 10, "ragged schemas")
    assert(many.flatMap(_.cols.map(_.kind)).toSet ==
      Set(Kind.Str, Kind.Long, Kind.Int, Kind.Double, Kind.Bool, Kind.Json, Kind.Ts))
    truth.foreach(t => assert(t.written + t.skipped == t.rows))
  }

  test("p90 is quoted only with at least ten samples beyond it") {
    val hundred = (1 to 100).map(_.toDouble)
    assert(Stats.tailPercentile(hundred, 0.9) == Some(90.0))
    assert(hundred.count(_ > 90.0) == 10)
    assert(Stats.tailPercentile((1 to 99).map(_.toDouble), 0.9) == None)
    // ties at the top leave nothing strictly beyond
    assert(Stats.tailPercentile(Seq.fill(500)(1.0), 0.9) == None)
    assert(Stats.tailPercentile(Nil, 0.9) == None)
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
    assert(Stats.nearestRank(Seq(5.0), 0.9) == 5.0)
  }

  test("self time subtracts the union of children, clipped to the span") {
    // children overlap each other and run past the span's end
    assert(Stats.selfTime((0L, 100L), Seq((10L, 30L), (20L, 40L), (90L, 120L))) == 60L)
    assert(Stats.selfTime((0L, 100L), Nil) == 100L)
    assert(Stats.selfTime((0L, 100L), Seq((0L, 100L), (50L, 60L))) == 0L)
    assert(Stats.selfTime((50L, 100L), Seq((0L, 40L))) == 50L)
    assert(Stats.covered(Seq((0L, 10L), (5L, 15L), (20L, 30L))) == 25L)
    assert(Stats.meanInFlight(Seq((0L, 10L), (0L, 10L), (10L, 20L))) == 1.5)
  }

  test("jobs are attributed by migrate description, else by time window") {
    assert(Attribution.byDescription("migrate coll_007") == Some("coll_007"))
    assert(Attribution.byDescription("collect at Foo.scala:1").isEmpty)
    val windows = Seq(("q1#1", 100L, 200L), ("q2#1", 201L, 300L))
    assert(Attribution.byWindow(150L, windows) == Some("q1#1"))
    assert(Attribution.byWindow(200L, windows) == Some("q1#1"))
    assert(Attribution.byWindow(250L, windows) == Some("q2#1"))
    assert(Attribution.byWindow(400L, windows).isEmpty)

    def job(id: Int, submit: Long, desc: String = "") = JobRec(id, submit, submit + 5, desc, Nil)
    val jobs = Seq(job(1, 150), job(2, 250), job(3, 999), job(4, 999, "migrate t1"), job(5, 150, "migrate t2"))
    val byWindow = Attribution.jobs(jobs, windows, useDescription = false)
    assert(byWindow("q1#1").map(_.id).toSet == Set(1, 5))
    assert(byWindow("q2#1").map(_.id) == Seq(2))
    assert(byWindow(Attribution.Unattributed).map(_.id).toSet == Set(3, 4))
    val byDesc = Attribution.jobs(jobs, Nil, useDescription = true)
    assert(byDesc("t1").map(_.id) == Seq(4))
    assert(byDesc("t2").map(_.id) == Seq(5))
    assert(byDesc(Attribution.Unattributed).map(_.id).toSet == Set(1, 2, 3))
  }

  test("per-op accounts name the wall time outside planning and jobs") {
    val ms = 1000000L
    val op = Op("q#1", "relational", 0L, 1000 * ms)
    val jobs = Seq(JobRec(1, 100 * ms, 400 * ms, "", Nil), JobRec(2, 300 * ms, 500 * ms, "", Nil))
    val actions = Seq(ActionRec(0L, 50, 30, 20, 1, 0, 0, 0))
    val a = Layers.account(Seq(op), Map(op.name -> jobs), Map(op.name -> actions)).head
    assert(math.abs(a.wallS - 1.0) < 1e-9)
    assert(math.abs(a.planningS - 0.1) < 1e-9)
    assert(math.abs(a.jobsS - 0.4) < 1e-9)
    assert(math.abs(a.driverIdleS - 0.5) < 1e-9)
  }

  test("result JSON renders numbers and strings as the contract expects") {
    assert(Json.render(Json.Obj(Seq("a" -> 1.25, "b" -> 3L, "c" -> "x\"y", "d" -> true))) ==
      """{"a":1.25,"b":3,"c":"x\"y","d":true}""")
    assert(Json.render(Seq(0.0, Double.NaN)) == "[0,null]")
  }
}
