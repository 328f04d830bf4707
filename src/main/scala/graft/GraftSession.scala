package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graft.GraftExtensions

/** The one place graft's Spark sessions are built: root sessions for the
  * mains and the test suites, and conf-isolated child sessions for the
  * operators that need their own settings. */
object GraftSession {

  /** Worker threads for a main's root session: `SPARK_GRAFT_CPUS`, else
    * the entry point's own default. */
  def cpus(default: => Int = 4): Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt).getOrElse(default)

  /** The settings every root session carries. Builder options, so every
    * [[child]] starts from them too. */
  private[graft] def settings(cpus: Int): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$cpus]",
    "spark.sql.shuffle.partitions" -> cpus.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false",
    // null-on-error cast/parse semantics to match the reference's
    // strict-parse-else-reject pipeline (SURVEY §7.4#5); Spark 4
    // defaults ANSI on.
    "spark.sql.ansi.enabled" -> "false",
    "spark.sql.adaptive.enabled" -> "true",
    // guard for a nanos-typed events.ts layout (reads as long, re-typed
    // in Tables.normalizedTs); a no-op on the current µs layout
    "spark.sql.legacy.parquet.nanosAsLong" -> "true")

  /** The process's root session on `local[cpus]`, logging at WARN, with
    * graft's extensions installed. */
  def local(cpus: Int): SparkSession = {
    val spark = settings(cpus)
      .foldLeft(SparkSession.builder()) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    GraftExtensions.install(spark)
    spark
  }

  /** A child of `spark` with `conf` set on it: shared SparkContext and
    * root settings, isolated SQL conf, so the overrides never reach the
    * caller's session (set-and-restore on a shared session would race any
    * query running concurrently on it). Children start WITHOUT graft's
    * extensions: a child gets them only if it is installed itself, which
    * `SparkEntry.queries` does for every query it builds. */
  def child(spark: SparkSession, conf: (String, String)*): SparkSession = {
    val c = spark.newSession()
    conf.foreach { case (k, v) => c.conf.set(k, v) }
    c
  }
}
