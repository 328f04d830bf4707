package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.graft.GraftExtensions

/** Pins [[GraftSession]]: what a root session carries, that a child's
  * conf stays on the child, and that [[ops.Streaming.warmup]] warms the
  * same state-store path the stream runs use and leaves nothing behind. */
class GraftSessionSpec extends SparkSuite {

  test("local: exactly the 7 root settings, WARN logging, every extension installed") {
    assert(GraftSession.settings(4) == Seq(
      "spark.master" -> "local[4]",
      "spark.sql.shuffle.partitions" -> "4",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false",
      "spark.sql.ansi.enabled" -> "false",
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true"))
    // the shared suite session is GraftSession.local(4)
    GraftSession.settings(4).foreach { case (k, v) =>
      assert(spark.sparkContext.getConf.get(k) == v, k)
      if (k != "spark.master") assert(spark.conf.get(k) == v, k)
    }
    assert(org.apache.logging.log4j.LogManager.getRootLogger.getLevel.toString == "WARN")
    assert(GraftExtensions.functions.size == 3)
    GraftExtensions.functions.foreach { case (id, _, _) =>
      assert(spark.catalog.functionExists(id.funcName), id.funcName)
    }
    val exp = spark.experimental
    assert(exp.extraOptimizations.count(GraftExtensions.rules.contains) == 2)
    assert(exp.extraStrategies.count(GraftExtensions.strategies.contains) == 1)
  }

  test("child: its conf stays on the child, and the parent is unchanged after child runs") {
    val before = spark.conf.getAll
    val key = ops.PairCap.ConfKey
    val child = GraftSession.child(spark, key -> "8",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    assert(child.conf.get(key) == "8")
    assert(child.conf.get("spark.sql.autoBroadcastJoinThreshold") == "-1")
    // root settings reach the child; the parent never sees the overrides
    assert(child.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.conf.getOption(key).isEmpty)
    assert(child.range(100).join(child.range(50), "id").count() == 50)
    // the two conf-isolated joins build their own children
    ops.Curation.joinSkewAdaptive(spark, sfDir).collect()
    ops.Curation.joinRuntimeFilter(spark, sfDir).collect()
    assert(spark.conf.getAll == before)
  }

  test("warmup: runs on the RocksDB stream-child conf and leaves no checkpoint or loaded store") {
    val stateKeys = ops.Streaming.streamChild(spark, rocksDb = true).conf.getAll
      .filter(_._1.startsWith("spark.sql.streaming.stateStore."))
    assert(stateKeys.get("spark.sql.streaming.stateStore.rocksdb.trackTotalNumberOfRows")
      .contains("false"))
    val execs = new java.util.concurrent.ConcurrentLinkedQueue[SparkListenerSQLExecutionStart]()
    val marker = "graft-session-spec-marker"
    val flushed = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart => execs.add(s)
        case _ =>
      }
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (Option(j.properties).exists(p =>
            p.getProperty("spark.job.description") == marker)) flushed.countDown()
    }
    val scratch = new java.io.File(ops.Streaming.ScratchRoot)
    def listing = Option(scratch.listFiles()).toSeq.flatten.map(_.getName).toSet
    val before = listing
    spark.sparkContext.addSparkListener(listener)
    try {
      ops.Streaming.warmup(spark, sfDir)
      // events reach a listener in order: once the marker job is seen,
      // every event the warm-up posted has been delivered
      spark.sparkContext.setJobDescription(marker)
      try spark.range(1).count() finally spark.sparkContext.setJobDescription(null)
      assert(flushed.await(60, java.util.concurrent.TimeUnit.SECONDS))
    } finally spark.sparkContext.removeSparkListener(listener)
    import scala.jdk.CollectionConverters._
    // the micro-batches: executions that ran with a state-store provider set
    val batches = execs.asScala.toSeq.filter(_.modifiedConfigs.keys
      .exists(_.startsWith("spark.sql.streaming.stateStore.")))
    assert(batches.nonEmpty, "the warm-up ran no stateful micro-batch")
    batches.foreach { b =>
      stateKeys.foreach { case (k, v) => assert(b.modifiedConfigs.get(k).contains(v), k) }
    }
    assert(listing == before, "the warm-up left scratch behind")
    assert(loadedStateStores == 0)
  }

  /** Size of Spark's JVM-wide loaded state-store provider map, which has
    * no public accessor. */
  private def loadedStateStores: Int = {
    val cls = Class.forName("org.apache.spark.sql.execution.streaming.state.StateStore$")
    val f = cls.getDeclaredField("loadedProviders")
    f.setAccessible(true)
    val m = f.get(null).asInstanceOf[scala.collection.mutable.HashMap[_, _]]
    m.synchronized(m.size)
  }
}
