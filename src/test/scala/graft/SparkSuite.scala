package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session per JVM (suites reuse it via getOrCreate — same configs
  * as Verify/Bench so plan behavior matches the driver's runs). graft's
  * extensions are installed once at creation, so every suite plans with
  * the same rule set whatever the suite order. */
trait SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSuite.session
  val sfDir = "/root/testdata/sf0.001"
}

object SparkSuite {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    org.apache.spark.sql.graft.GraftExtensions.install(s)
    s
  }
}
