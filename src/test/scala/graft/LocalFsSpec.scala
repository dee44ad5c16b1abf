package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, Path => JPath}
import java.sql.Timestamp
import java.util.EnumSet

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileContext, FileSystem, LocalFileSystem, Options, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager

import graft.pipeline.LineProtocolSink

/** The in-process local filesystem (`LocalFs.scala`): local writes start
  * no child process, and what they leave on disk is what Hadoop's stock
  * `LocalFileSystem` leaves.
  */
class LocalFsSpec extends SparkSpec {

  private def hadoopConf = spark.sparkContext.hadoopConfiguration

  private def mode(p: JPath): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & oct("7777")

  private def oct(s: String): Int = Integer.parseInt(s, 8)

  /** The commands of the processes `body` starts, from a JFR recording. */
  private def processStarts(body: => Unit): Seq[String] = {
    // Hadoop's Shell probes bash/setsid once per JVM in its static
    // initializer; run that before recording so only `body` is counted.
    assert(!org.apache.hadoop.util.Shell.WINDOWS)
    val rec = new Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try body finally rec.stop()
    val out = Files.createTempFile("graft_jfr_", ".jfr")
    try {
      rec.dump(out)
      RecordingFile.readAllEvents(out).asScala.toSeq
        .filter(_.getEventType.getName == "jdk.ProcessStart")
        .map(_.getString("command"))
    } finally {
      rec.close()
      Files.delete(out)
    }
  }

  test("session file: paths resolve to the in-process filesystem") {
    val fs = FileSystem.get(new URI("file:///"), hadoopConf)
    assert(fs.isInstanceOf[GraftLocalFileSystem])
    assert(FileContext.getFileContext(hadoopConf).getDefaultFileSystem
      .isInstanceOf[GraftLocalFs])
    assert(Engine.localFsWarning(fs, hadoopConf).isEmpty)
  }

  test("FileSystem, sink, FileContext and checkpoint writes start no process") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_localfs_")
    val t0 = Timestamp.valueOf("2024-01-01 00:00:00").getTime
    val df = (1 to 300).map(i => (i.toLong, new Timestamp(t0 + i * 1000L)))
      .toDF("v", "time")
    val fs = FileSystem.get(new URI("file:///"), hadoopConf)
    val fc = FileContext.getFileContext(hadoopConf)
    val cpDir = new Path(dir.resolve("checkpoint").toUri)
    val started = processStarts {
      fs.mkdirs(new Path(dir.resolve("a/b/c").toUri))
      val out = fs.create(new Path(dir.resolve("x/y/f.txt").toUri), false)
      out.write(1)
      out.close()
      new LineProtocolSink(dir.resolve("sink").toString, 10).append(df, "m")
      val fcOut = fc.create(new Path(dir.resolve("fc/g.txt").toUri),
        EnumSet.of(CreateFlag.CREATE), Options.CreateOpts.createParent())
      fcOut.write(2)
      fcOut.close()
      val cfm = CheckpointFileManager.create(cpDir, hadoopConf)
      cfm.mkdirs(cpDir)
      // createAtomic writes a temp file and renames it on close; the
      // second write renames over the first
      Seq(3, 4).foreach { b =>
        val a = cfm.createAtomic(new Path(cpDir, "0"), true)
        a.write(b)
        a.close()
      }
    }
    assert(started.isEmpty,
      s"${started.size} process starts, first: ${started.take(5).mkString("; ")}")
    assert(Files.readAllBytes(dir.resolve("checkpoint/0")).toSeq === Seq(4.toByte))
    assert(Files.exists(dir.resolve("checkpoint/.0.crc")))
    assert(Files.exists(dir.resolve("x/y/.f.txt.crc")))
    val flushLines = Files.list(dir.resolve("sink/m")).iterator.asScala
      .filter(_.getFileName.toString.endsWith(".lp"))
      .map(Files.readAllLines(_).size).toSeq
    assert(flushLines.sum === 300 && flushLines.forall(_ <= 10))
  }

  test("file and dir modes equal stock LocalFileSystem's under the same umask") {
    Seq("022" -> ("644", "755"), "027" -> ("640", "750")).foreach {
      case (umask, (fileMode, dirMode)) =>
        val conf = new Configuration(hadoopConf)
        conf.set("fs.permissions.umask-mode", umask)
        def layout(fs: FileSystem, root: JPath): Seq[(String, Int)] = {
          fs.initialize(new URI("file:///"), conf)
          try {
            fs.mkdirs(new Path(root.resolve("d1/d2").toUri))
            fs.create(new Path(root.resolve("d3/f").toUri), false).close()
          } finally fs.close()
          Files.walk(root).iterator.asScala.toSeq.sorted
            .map(p => root.relativize(p).toString -> mode(p))
        }
        val stock = layout(new LocalFileSystem(),
          Files.createTempDirectory("graft_stock_"))
        val graft = layout(new GraftLocalFileSystem,
          Files.createTempDirectory("graft_inproc_"))
        assert(graft === stock, s"umask $umask")
        val byName = graft.toMap
        assert(byName("d1/d2") === oct(dirMode) && byName("d3") === oct(dirMode))
        assert(byName("d3/f") === oct(fileMode) && byName("d3/.f.crc") === oct(fileMode))
    }
  }

  test("sticky bit goes through Hadoop's chmod and takes effect") {
    val fs = FileSystem.get(new URI("file:///"), hadoopConf)
    val d = Files.createTempDirectory("graft_sticky_")
    fs.setPermission(new Path(d.toUri), new FsPermission(oct("1777").toShort))
    assert(mode(d) === oct("1777"))
  }

  test("symlinks keep Hadoop's link status; missing paths still throw") {
    val dir = Files.createTempDirectory("graft_link_")
    val target = Files.createFile(dir.resolve("target"))
    // Hadoop's readlink sees scheme-less paths only, so these are bare
    val link = new Path(Files.createSymbolicLink(dir.resolve("link"), target).toString)
    val fs = FileSystem.get(new URI("file:///"), hadoopConf)
    val stock = new LocalFileSystem()
    stock.initialize(new URI("file:///"), hadoopConf)
    val stockConf = new Configuration(hadoopConf)
    stockConf.set("fs.AbstractFileSystem.file.impl", classOf[org.apache.hadoop.fs.local.LocalFs].getName)
    try {
      val got = fs.getFileLinkStatus(link)
      assert(got.isSymlink)
      assert(got.getSymlink.toUri.getPath === target.toString)
      assert(got.getSymlink === stock.getFileLinkStatus(link).getSymlink)
      val fcGot = FileContext.getFileContext(hadoopConf).getFileLinkStatus(link)
      val fcStock = FileContext.getFileContext(stockConf).getFileLinkStatus(link)
      assert(fcGot.isSymlink && fcGot.getSymlink === fcStock.getSymlink)
      assert(!fs.getFileLinkStatus(new Path(target.toString)).isSymlink)
      val missing = new Path(dir.resolve("missing").toString)
      intercept[FileNotFoundException](fs.getFileLinkStatus(missing))
      intercept[FileNotFoundException](
        FileContext.getFileContext(hadoopConf).getFileLinkStatus(missing))
    } finally stock.close()
  }

  test("localFsWarning names why the stock filesystem is in use") {
    val stock = new LocalFileSystem()
    val bare = new Configuration(false)
    val noConf = Engine.localFsWarning(stock, bare)
    assert(noConf.exists(_.contains("SparkContext existed before")), noConf)
    val cached = Engine.localFsWarning(stock, hadoopConf)
    assert(cached.exists(_.contains("cached in this JVM")), cached)
    assert(cached.exists(_.contains(classOf[LocalFileSystem].getName)), cached)
  }
}
