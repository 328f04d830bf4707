package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session per JVM (suites reuse it). It is built by
  * [[GraftSession.local]], the builder Verify and Bench use, so plan
  * behavior matches the driver's runs and graft's extensions are
  * installed once at creation whatever the suite order; a suite that
  * needs its own conf takes a [[GraftSession.child]]. */
trait SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSuite.session
  val sfDir = "/root/testdata/sf0.001"
}

object SparkSuite {
  lazy val session: SparkSession = GraftSession.local(4)
}
