package perfbench

import java.util.SplittableRandom

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.ParquetFileWriter
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.schema.LogicalTypeAnnotation.TimeUnit
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, Type, Types}

/** Column kinds of a generated collection. `Ts` is the event time that the
  * benchmark's prepare function renames to `time`.
  */
sealed abstract class Kind extends Serializable
object Kind {
  case object Long extends Kind
  case object Int extends Kind
  case object Double extends Kind
  case object Bool extends Kind
  case object Str extends Kind
  case object Json extends Kind
  case object Ts extends Kind
}

final case class ColSpec(name: String, kind: Kind, nullPermille: Int)

/** One generated collection: its columns and row count. Everything
  * about it, values included, follows from `seed`.
  */
final case class TableSpec(name: String, cols: Vector[ColSpec], rows: Long, seed: Long) {
  def hasTime: Boolean = cols.exists(_.kind == Kind.Ts)
}

/** The exact ledger a correct migration of `name` must report. */
final case class TableTruth(name: String, rows: Long, written: Long,
    skipped: Long, bytes: Long, system: Boolean)

/** Seeded source catalogs for the migrate workload. A catalog is a
  * directory of `<collection>.parquet/` directories, the layout
  * `graft.sources.Catalog.listTables` enumerates. Files are written
  * directly with parquet-hadoop, not through Spark SQL, so the expected
  * written/skipped counts come from the generator itself rather than from
  * the engine under test.
  */
object Catalogs {

  val SystemMarker = "system"
  val TimeCol = "ts"

  private def mix(a: Long, b: Long): Long = new SplittableRandom(a * 0x9E3779B97F4A7C15L + b).nextLong()

  private val manyPool = Vector(
    ColSpec("seq", Kind.Long, 30), ColSpec("count", Kind.Int, 50),
    ColSpec("value", Kind.Double, 40), ColSpec("flag", Kind.Bool, 60),
    ColSpec("host", Kind.Str, 20), ColSpec("region", Kind.Str, 80),
    ColSpec("props", Kind.Json, 70), ColSpec("latency", Kind.Double, 90),
    ColSpec("code", Kind.Int, 10), ColSpec("user", Kind.Long, 50),
    ColSpec("path", Kind.Str, 40), ColSpec("meta", Kind.Json, 100))

  /** Many small collections with ragged schemas: each has a Mongo-style
    * `_id` and takes a seeded subset of a shared column pool. A fixed
    * number carry "system" in their name (skipped by the pipeline), a
    * fixed number have no time column (fully skip-counted), and one is
    * empty; the seed picks which, and all values.
    */
  def many(seed: Long, tables: Int = 40, minRows: Int = 100,
      maxRows: Int = 900): Vector[TableSpec] = {
    val r = new SplittableRandom(mix(seed, 2))
    val systemTables = tables / 15
    val noTimeTables = tables / 12
    // a seeded permutation assigns the roles: system, no time, empty, plain
    val perm = (0 until tables).toArray
    for (i <- tables - 1 to 1 by -1) {
      val j = r.nextInt(i + 1)
      val t = perm(i); perm(i) = perm(j); perm(j) = t
    }
    val role = perm.zipWithIndex.map { case (table, rank) => table -> rank }.toMap
    (0 until tables).toVector.map { i =>
      val rank = role(i)
      val sys = rank < systemTables
      val noTime = !sys && rank < systemTables + noTimeTables
      val empty = rank == systemTables + noTimeTables
      val name = f"${if (sys) (if (r.nextBoolean()) "system_" else "eco" + SystemMarker + "_") else "coll_"}$i%03d"
      val picked = manyPool.filter(_ => r.nextInt(100) < 55)
      val base = if (picked.isEmpty) Vector(manyPool(r.nextInt(manyPool.size))) else picked
      val withId = ColSpec("_id", Kind.Str, 0) +: base
      val cols = if (noTime) withId else withId :+ ColSpec(TimeCol, Kind.Ts, 20 + r.nextInt(200))
      val rows = if (empty) 0L else (minRows + r.nextInt(maxRows - minRows + 1)).toLong
      TableSpec(name, cols, rows, mix(seed, 1000 + i))
    }
  }

  def schema(spec: TableSpec): MessageType = {
    val fields: Seq[Type] = spec.cols.map { c =>
      c.kind match {
        case Kind.Long => Types.optional(PrimitiveTypeName.INT64).named(c.name)
        case Kind.Int => Types.optional(PrimitiveTypeName.INT32).named(c.name)
        case Kind.Double => Types.optional(PrimitiveTypeName.DOUBLE).named(c.name)
        case Kind.Bool => Types.optional(PrimitiveTypeName.BOOLEAN).named(c.name)
        case Kind.Str | Kind.Json =>
          Types.optional(PrimitiveTypeName.BINARY).as(LogicalTypeAnnotation.stringType()).named(c.name)
        case Kind.Ts =>
          Types.optional(PrimitiveTypeName.INT64)
            .as(LogicalTypeAnnotation.timestampType(true, TimeUnit.MICROS)).named(c.name)
      }
    }
    new MessageType(spec.name, fields.asJava)
  }

  private val words = Vector("alpha", "beta", "gamma", "delta", "eps\"q", "zeta", "eta, theta",
    "iota kappa", "lambda=mu", "nu\\xi")
  private val t0Micros = 1704067200000000L // 2024-01-01T00:00:00Z

  def tablePath(dir: String, table: String): String = s"$dir/$table.parquet"

  /** Write `spec` under `dir` as one parquet file, returning the ledger a
    * correct migration of it reports.
    */
  def write(dir: String, spec: TableSpec): TableTruth = {
    val schemaT = schema(spec)
    val path = new Path(s"${tablePath(dir, spec.name)}/part-0.parquet")
    val conf = new Configuration()
    val writer = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(path, conf))
      .withType(schemaT).withConf(conf)
      .withCompressionCodec(CompressionCodecName.SNAPPY)
      .withWriteMode(ParquetFileWriter.Mode.OVERWRITE)
      .build()
    val factory = new SimpleGroupFactory(schemaT)
    val r = new SplittableRandom(spec.seed)
    var nullTime = 0L
    try {
      var row = 0L
      while (row < spec.rows) {
        val g = factory.newGroup()
        spec.cols.foreach { c =>
          if (c.nullPermille > 0 && r.nextInt(1000) < c.nullPermille) {
            if (c.kind == Kind.Ts) nullTime += 1
          } else c.kind match {
            case Kind.Long => g.append(c.name, r.nextLong(1000000000000L))
            case Kind.Int => g.append(c.name, r.nextInt(1000000))
            case Kind.Double => g.append(c.name, r.nextDouble() * 1000)
            case Kind.Bool => g.append(c.name, r.nextBoolean())
            case Kind.Str =>
              if (c.name == "_id") g.append(c.name, f"${spec.seed & 0xffffffL}%06x$row%018x")
              else g.append(c.name, s"${words(r.nextInt(words.size))}-${r.nextInt(500)}")
            case Kind.Json =>
              g.append(c.name, s"""{"k":${r.nextInt(100)},"tag":"${words(r.nextInt(4))}","v":[${r.nextInt(9)},${r.nextInt(9)}]}""")
            case Kind.Ts => g.append(c.name, t0Micros + row * 1000000L + r.nextInt(1000000))
          }
        }
        writer.write(g)
        row += 1
      }
    } finally writer.close()
    val bytes = path.getFileSystem(conf).getFileStatus(path).getLen
    val (written, skipped) = if (spec.hasTime) (spec.rows - nullTime, nullTime) else (0L, spec.rows)
    TableTruth(spec.name, spec.rows, written, skipped, bytes, spec.name.contains(SystemMarker))
  }
}
