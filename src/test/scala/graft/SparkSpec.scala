package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for the suite (one JVM-wide session — Spark
  * sessions are expensive; getOrCreate makes the suites share it). It
  * runs on the engine's local filesystem (`Engine.LocalFsConf`), as
  * `Engine.session` does.
  */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config(Engine.LocalFsConf)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
