package servicebench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import scala.concurrent.ExecutionContext
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spans of one traced run: one per op, one per Spark job, one per stage.
  * All times are epoch milliseconds, the clock Spark's listener events
  * carry. Spans stay in memory and are written out when the run ends. */
object Trace {
  /** Local property naming the op a Spark job runs for. */
  val OpKey = "servicebench.op"

  final case class OpSpan(id: String, name: String, start: Long, end: Long)

  final class JobSpan(val jobId: Int, val name: String, val start: Long,
                      val tagged: Option[String], val stages: Seq[Int]) {
    @volatile var end: Long = -1L
    @volatile var op: Option[String] = tagged
  }

  final class StageSpan(val stageId: Int, val name: String, val jobId: Int) {
    @volatile var start: Long = -1L
    @volatile var end: Long = -1L
    val tasks = new java.util.concurrent.atomic.AtomicLong()
    // summed task metrics
    val cpuNs, runMs, shuffleRead, shuffleWrite, spill, gcMs =
      new java.util.concurrent.atomic.AtomicLong()
  }

  /** Job and stage name without the line number of its call site, e.g.
    * "parquet at UploadService.scala". */
  def site(name: String): String = name.replaceAll(":\\d+", "").trim

  /** An ExecutionContext that carries the submitting thread's op id onto
    * the thread that runs the task, so the Spark jobs an upload's
    * background future starts are tagged with the upload's op. */
  final class OpTagging(sc: SparkContext, base: ExecutionContext) extends ExecutionContext {
    def execute(r: Runnable): Unit = {
      val op = sc.getLocalProperty(OpKey)
      base.execute { () =>
        val prev = sc.getLocalProperty(OpKey)
        sc.setLocalProperty(OpKey, op)
        try r.run() finally sc.setLocalProperty(OpKey, prev)
      }
    }
    def reportFailure(t: Throwable): Unit = base.reportFailure(t)
  }
}

/** Records job and stage spans and task metrics. Attribution rule: a job
  * belongs to the op named by its [[Trace.OpKey]] property; a job without
  * one belongs to the op whose span contains the job's start, when
  * exactly one op does; otherwise it is unattributed. */
final class Tracer extends SparkListener {
  import Trace._
  val jobs = new ConcurrentHashMap[Int, JobSpan]()
  val stages = new ConcurrentHashMap[Int, StageSpan]()
  val ops = new java.util.concurrent.ConcurrentLinkedQueue[OpSpan]()
  private val sqlSites = new ConcurrentHashMap[Long, String]()

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
      sqlSites.put(s.executionId, s.description)
    case _ => ()
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    val tagged = props.flatMap(p => Option(p.getProperty(OpKey)))
    // a job of a SQL execution is named by the execution's call site: Spark
    // runs such jobs from its own threads, so their stage names point there.
    // A streaming micro-batch's description names its query and run ids,
    // so those jobs share one name.
    val name =
      if (props.exists(_.getProperty("sql.streaming.queryId") != null)) "streaming micro-batch"
      else props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .flatMap(id => Option(sqlSites.get(id.toLong)))
        .getOrElse(e.stageInfos.maxBy(_.stageId).name)
    jobs.put(e.jobId, new JobSpan(e.jobId, site(name), e.time, tagged, e.stageIds))
    e.stageInfos.foreach(s =>
      stages.putIfAbsent(s.stageId, new StageSpan(s.stageId, site(s.name), e.jobId)))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.end = e.time)

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    Option(stages.get(e.stageInfo.stageId)).foreach(s =>
      s.start = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis()))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stages.get(e.stageInfo.stageId)).foreach(s =>
      s.end = e.stageInfo.completionTime.getOrElse(System.currentTimeMillis()))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val s = stages.get(e.stageId)
    val m = e.taskMetrics
    if (s != null && m != null) {
      s.tasks.incrementAndGet()
      s.cpuNs.addAndGet(m.executorCpuTime)
      s.runMs.addAndGet(m.executorRunTime)
      s.shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      s.shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      s.spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      s.gcMs.addAndGet(m.jvmGCTime)
    }
  }

  def addOp(o: OpSpan): Unit = ops.add(o)

  /** Wait until every job seen so far has ended (the listener bus is
    * asynchronous), for at most `ms`. */
  def drain(ms: Long): Unit = {
    val deadline = System.currentTimeMillis() + ms
    Thread.sleep(100)
    while (jobs.values.asScala.exists(_.end < 0) && System.currentTimeMillis() < deadline)
      Thread.sleep(50)
  }

  /** Resolve untagged jobs by span containment; returns jobs per op. */
  def attribute(): Map[String, Seq[JobSpan]] = {
    val opList = ops.asScala.toVector
    jobs.values.asScala.foreach { j =>
      if (j.op.isEmpty) {
        val hits = opList.filter(o => j.start >= o.start && j.start <= o.end)
        if (hits.size == 1) j.op = Some(hits.head.id)
      }
    }
    jobs.values.asScala.toSeq.flatMap(j => j.op.map(_ -> j)).groupBy(_._1)
      .map { case (k, v) => k -> v.map(_._2).sortBy(_.jobId) }
  }

  def stagesOf(j: JobSpan): Seq[StageSpan] = j.stages.flatMap(s => Option(stages.get(s)))
      .filter(_.jobId == j.jobId)

  /** Total length of the union of intervals, clipped to [lo, hi]. */
  def unionMs(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var cur: (Long, Long) = null
    clipped.foreach { case (a, b) =>
      if (cur == null) cur = (a, b)
      else if (a <= cur._2) cur = (cur._1, math.max(cur._2, b))
      else { total += cur._2 - cur._1; cur = (a, b) }
    }
    if (cur != null) total += cur._2 - cur._1
    total
  }

  /** Spans as JSON lines: ops, jobs (parent = op) and stages (parent =
    * job), each with its self time — its duration minus the time its
    * children cover. */
  def spansJson(): Seq[String] = {
    val byOp = attribute()
    def q(s: String) = Json.str(s)
    val out = mutable.ArrayBuffer.empty[String]
    ops.asScala.foreach { o =>
      val js = byOp.getOrElse(o.id, Nil)
      val self = (o.end - o.start) - unionMs(js.map(j => (j.start, j.end)), o.start, o.end)
      out += s"""{"kind":"op","id":${q(o.id)},"name":${q(o.name)},"start":${o.start},"end":${o.end},"parent":null,"op":${q(o.id)},"self_ms":$self}"""
    }
    jobs.values.asScala.toSeq.sortBy(_.jobId).foreach { j =>
      val st = stagesOf(j).filter(_.start >= 0)
      val self = (j.end - j.start) - unionMs(st.map(s => (s.start, s.end)), j.start, j.end)
      val op = j.op.map(q).getOrElse("null")
      out += s"""{"kind":"job","id":"job-${j.jobId}","name":${q(j.name)},"start":${j.start},"end":${j.end},"parent":$op,"op":$op,"self_ms":$self}"""
      st.foreach { s =>
        out += s"""{"kind":"stage","id":"stage-${s.stageId}","name":${q(s.name)},"start":${s.start},"end":${s.end},"parent":"job-${j.jobId}","op":$op,"self_ms":${s.end - s.start},"tasks":${s.tasks.get}}"""
      }
    }
    out.toSeq
  }
}

/** Streaming runs seen by [[StreamListener]]: one per started query,
  * with the per-batch durations and state figures of its progress events.
  * Times are epoch milliseconds at the listener. */
object StreamTrace {
  final class Run(val runId: String, val name: String, val start: Long) {
    @volatile var end: Long = -1L
    val batches, addBatchMs, commitMs, walCommitMs, planningMs =
      new java.util.concurrent.atomic.AtomicLong()
    /** The most state rows and bytes any of the run's batches held. */
    @volatile var stateRows = 0L
    @volatile var stateBytes = 0L

    def json(op: Option[String]): String = {
      val o = op.map(Json.str).getOrElse("null")
      s"""{"kind":"stream_run","id":${Json.str(runId)},"name":${Json.str(name)},"start":$start,"end":$end,"parent":$o,"op":$o,"batches":${batches.get},"addBatch_ms":${addBatchMs.get},"commit_ms":${commitMs.get}}"""
    }
  }

  private val byId = new ConcurrentHashMap[java.util.UUID, Run]()

  def reset(): Unit = byId.clear()
  def runs: Seq[Run] = byId.values.asScala.toSeq.sortBy(_.start)

  /** Wait until every run seen so far has ended, for at most `ms`. */
  def drain(ms: Long): Unit = {
    val deadline = System.currentTimeMillis() + ms
    while (byId.values.asScala.exists(_.end < 0) && System.currentTimeMillis() < deadline)
      Thread.sleep(50)
  }

  private[servicebench] def started(id: java.util.UUID, name: String): Unit =
    byId.put(id, new Run(id.toString, Option(name).getOrElse(""), System.currentTimeMillis()))

  private[servicebench] def progress(p: org.apache.spark.sql.streaming.StreamingQueryProgress): Unit =
    Option(byId.get(p.runId)).foreach { r =>
      def d(k: String) = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
      r.batches.incrementAndGet()
      r.addBatchMs.addAndGet(d("addBatch"))
      r.walCommitMs.addAndGet(d("walCommit"))
      r.planningMs.addAndGet(d("queryPlanning"))
      r.commitMs.addAndGet(p.stateOperators.map(_.commitTimeMs).sum)
      r.stateRows = math.max(r.stateRows, p.stateOperators.map(_.numRowsTotal).sum)
      r.stateBytes = math.max(r.stateBytes, p.stateOperators.map(_.memoryUsedBytes).sum)
    }

  private[servicebench] def terminated(id: java.util.UUID): Unit =
    Option(byId.get(id)).foreach(_.end = System.currentTimeMillis())
}

/** Registered through `spark.sql.streaming.streamingQueryListeners`, so
  * that every session's query manager (the program runs its streams in
  * child sessions) gets one; all of them report to [[StreamTrace]]. */
final class StreamListener extends org.apache.spark.sql.streaming.StreamingQueryListener {
  import org.apache.spark.sql.streaming.StreamingQueryListener._
  override def onQueryStarted(e: QueryStartedEvent): Unit = StreamTrace.started(e.runId, e.name)
  override def onQueryProgress(e: QueryProgressEvent): Unit = StreamTrace.progress(e.progress)
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = StreamTrace.terminated(e.runId)
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString
}
