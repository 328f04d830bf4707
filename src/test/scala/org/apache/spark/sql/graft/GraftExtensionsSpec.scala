package org.apache.spark.sql.graft

import org.apache.logging.log4j.LogManager
import org.apache.logging.log4j.core.{LogEvent, Logger => CoreLogger}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.expressions.Expression

/** GraftExtensions is the one list of graft's functions, rules and
  * strategies: the config entry point (spark.sql.extensions) and the
  * runtime `install` expose the same set, `install` is idempotent and
  * quiet, and children (`graft.GraftSession.child`) inherit none of it. */
class GraftExtensionsSpec extends graft.SparkSuite {

  private val names = Seq("graft_dot", "graft_bloom_agg", "graft_might_contain")

  /** Messages logged at WARN or above while `body` runs. */
  private def warnings(body: => Unit): Seq[String] = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val app = new AbstractAppender("graft-extensions-spec", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        seen.add(e.getMessage.getFormattedMessage)
    }
    app.start()
    val root = LogManager.getRootLogger.asInstanceOf[CoreLogger]
    root.addAppender(app)
    try body finally { root.removeAppender(app); app.stop() }
    seen.toArray(Array.empty[String]).toSeq
  }

  private def replaced(ws: Seq[String]) =
    ws.filter(_.contains("replaced a previously registered function"))

  test("extensions entry point registers graft_dot for SQL resolution") {
    val ext = new SparkSessionExtensions
    new GraftExtensions().apply(ext)
    val s = spark.newSession()
    ext.registerFunctions(s.sessionState.functionRegistry)
    val v = s.sql(
      "SELECT graft_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d")
      .head.getDouble(0)
    assert(v == 11.0)
  }

  test("config path and install expose the same three functions, two rules, one strategy") {
    val ext = new SparkSessionExtensions
    new GraftExtensions().apply(ext)
    val configured = spark.newSession()
    val registry = configured.sessionState.functionRegistry
    ext.registerFunctions(registry)
    val viaConfig = (names.filter(n => registry.functionExists(
        org.apache.spark.sql.catalyst.FunctionIdentifier(n))),
      ext.buildOptimizerRules(configured), ext.buildPlannerStrategies(configured))

    val installed = spark.newSession()
    GraftExtensions.install(installed)
    val viaInstall = (names.filter(installed.catalog.functionExists),
      installed.experimental.extraOptimizations,
      installed.experimental.extraStrategies)

    assert(viaConfig._1 == names && viaInstall._1 == names)
    assert(viaConfig._2 == Seq(BandedLevenshteinRule, FirstRowPerKeyRule))
    assert(viaInstall._2 == viaConfig._2)
    assert(viaConfig._3 == Seq(TopKPerKeyStrategy))
    assert(viaInstall._3 == viaConfig._3)
    // and the installed functions resolve in SQL
    assert(installed.sql(
      "SELECT graft_dot(array(1.0D, 2.0D), array(3.0D, 4.0D))").head.getDouble(0) == 11.0)
  }

  test("a second install adds nothing and logs no replaced-function WARN") {
    val s = spark.newSession()
    GraftExtensions.install(s)
    def state(x: SparkSession) = (
      x.sessionState.functionRegistry.listFunction().size,
      x.experimental.extraOptimizations, x.experimental.extraStrategies)
    val before = state(s)
    val ws = warnings(GraftExtensions.install(s))
    assert(state(s) == before)
    assert(replaced(ws).isEmpty, ws.mkString("\n"))
    // the capture is live: replacing an existing function with a new
    // builder (what createOrReplaceTempFunction does) does log it
    val (id, info, builder) = GraftExtensions.functions.head
    val control = warnings(s.sessionState.functionRegistry
      .registerFunction(id, info, (e: Seq[Expression]) => builder(e)))
    assert(replaced(control).nonEmpty, "log capture saw no replace WARN")
  }

  test("newSession() children inherit none of the installed extensions") {
    assert(names.forall(spark.catalog.functionExists), "shared session not installed")
    val child = graft.GraftSession.child(spark)
    assert(names.forall(n => !child.catalog.functionExists(n)))
    assert(GraftExtensions.rules.forall(r => !child.experimental.extraOptimizations.contains(r)))
    assert(GraftExtensions.strategies.forall(r => !child.experimental.extraStrategies.contains(r)))
  }
}
