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

  /** Runs `f` and returns its value with the number of Spark jobs started
    * while it ran whose local property [[SparkSuite.JobTag]] is `tag`:
    * the jobs of the calling thread, which carries the tag while `f` runs,
    * and of any other thread that sets it. Events reach a listener in
    * order, so once a marker job started after `f` is seen, every job of
    * `f` has been counted. */
  def countJobs[A](tag: String)(f: => A): (A, Int) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val marker = s"$tag-marker"
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val flushed = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        Option(j.properties).foreach { p =>
          if (p.getProperty(SparkSuite.JobTag) == tag) jobs.incrementAndGet()
          if (p.getProperty("spark.job.description") == marker) flushed.countDown()
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(SparkSuite.JobTag, tag)
      val out = try f finally sc.setLocalProperty(SparkSuite.JobTag, null)
      sc.setJobDescription(marker)
      try spark.range(1).count() finally sc.setJobDescription(null)
      assert(flushed.await(60, java.util.concurrent.TimeUnit.SECONDS))
      (out, jobs.get)
    } finally sc.removeSparkListener(listener)
  }
}

object SparkSuite {
  /** The local property [[SparkSuite.countJobs]] counts jobs by. */
  val JobTag = "graft.spec.job.tag"

  lazy val session: SparkSession = GraftSession.local(4)
}
