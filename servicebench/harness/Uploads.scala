package servicebench

import java.io.File
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger
import scala.collection.mutable
import scala.concurrent.ExecutionContext
import scala.util.{Failure, Success, Try}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.ops.UploadService

/** What an upload produced, reduced to the parts that are outputs: the
  * counters, the error histogram, the multiset of loaded rows and the
  * reasons at the end of the error-report lines. */
final case class Got(processed: Long, inserted: Long, failed: Long,
                     errorCounts: Map[String, Long], loaded: Vector[String],
                     reasons: Vector[String])

object Got {
  def read(spark: SparkSession, r: UploadService.UploadResult): Got = {
    val loaded = spark.read.parquet(r.loadedDir).collect().map { row =>
      Gen.loadedKey(row.getString(0), row.getString(1),
        if (row.isNullAt(2)) null else row.getInt(2),
        if (row.isNullAt(3)) null else row.getDate(3).toLocalDate)
    }.toVector.sorted
    val lines = spark.read.text(r.errorReportDir).collect().map(_.getString(0))
    Got(r.processed, r.inserted, r.failed, r.errorCounts, loaded,
      lines.map(l => l.substring(l.lastIndexOf(',') + 1)).toVector.sorted)
  }

  /** None when `got` matches `exp`, else what differs, naming the op. */
  def check(op: String, exp: Gen.Expected, got: Got): Option[String] = {
    def diff[A](what: String, e: A, g: A): Option[String] =
      if (e == g) None else Some(s"$op: $what expected $e, got $g")
    def multiset(what: String, e: Vector[String], g: Vector[String]): Option[String] =
      if (e == g) None else {
        val (ec, gc) = (e.groupBy(identity).view.mapValues(_.size).toMap,
          g.groupBy(identity).view.mapValues(_.size).toMap)
        val missing = ec.collect { case (k, n) if gc.getOrElse(k, 0) < n => k }.take(3)
        val extra = gc.collect { case (k, n) if ec.getOrElse(k, 0) < n => k }.take(3)
        Some(s"$op: $what differ (expected ${e.size}, got ${g.size}; " +
          s"missing ${missing.mkString("[", "; ", "]")}, extra ${extra.mkString("[", "; ", "]")})")
      }
    diff("processed", exp.processed, got.processed)
      .orElse(diff("inserted", exp.inserted, got.inserted))
      .orElse(diff("failed", exp.failed, got.failed))
      .orElse(diff("errorCounts", exp.errorCounts, got.errorCounts))
      .orElse(multiset("loaded rows", exp.loaded, got.loaded))
      .orElse(multiset("error-report reasons", exp.reasons, got.reasons))
  }
}

/** upload_burst: two closed-loop clients, each submitting a fresh seeded
  * 2,000-row CSV with ALL_OR_NOTHING after a pause of up to 200 ms,
  * polling `status` every 10 ms until the job completes, then taking the
  * result from `await`. Each upload runs its Spark jobs on all four local
  * cores, so two clients already keep more than half of a 4-vCPU host
  * busy; four saturated it, and the run then measured the scheduler. */
object Uploads {
  val RampS = 2.0
}

final class Uploads(ctx: Ctx) extends Workload {
  private val clients = 2
  private val rows = 2000
  private val mode = UploadService.AllOrNothing
  private val work = new File(ctx.work, ctx.workload)
  private val csvDir = new File(work, "csv")
  private val outBase = new File(work, "uploads")
  private val existingDir = new File(work, "existing.parquet").getPath

  private var spark: SparkSession = _
  private var svc: UploadService.Service = _

  private final case class Op(u: Int, id: String, jobId: String, startMs: Long, endMs: Long,
                              latencyS: Double, submitMs: Double, firstUpdateMs: Double,
                              statusGetUs: Double, result: Try[UploadService.UploadResult])

  private def csv(u: Int): String = new File(csvDir, s"u$u.csv").getPath

  private def generate(u: Int): Unit =
    if (!new File(csv(u)).exists) Gen.write(Paths.get(csv(u)), Gen.lines(ctx.seed, u, rows))

  /** Submit, poll until the job leaves the running states, collect. */
  private def upload(u: Int, path: String): Op = {
    val sc = spark.sparkContext
    val id = s"upload-$u"
    sc.setLocalProperty(Trace.OpKey, id)
    try {
      val startMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val jobId = svc.submit(path, mode)
      val submitted = System.nanoTime()
      var firstUpdate = -1L
      val gets = mutable.ArrayBuffer.empty[Long]
      var step = ""
      val timeout = t0 + 150L * 1000000000L
      while (step != "JOB_COMPLETE" && step != "JOB_FAILED" && System.nanoTime() < timeout) {
        val g0 = System.nanoTime()
        step = svc.status(jobId).step
        val g1 = System.nanoTime()
        gets += g1 - g0
        if (firstUpdate < 0 && step == "PROCESSING") firstUpdate = g1
        if (step != "JOB_COMPLETE" && step != "JOB_FAILED") Thread.sleep(10)
      }
      val t1 = System.nanoTime()
      val result =
        if (step == "JOB_COMPLETE" || step == "JOB_FAILED") Try(svc.await(jobId))
        else Failure(new RuntimeException(s"$id timed out in state $step"))
      Op(u, id, jobId, startMs, System.currentTimeMillis(), (t1 - t0) / 1e9,
        (submitted - t0) / 1e6, if (firstUpdate < 0) 0.0 else (firstUpdate - t0) / 1e6,
        Stats.median(gets.map(_ / 1e3).toSeq), result)
    } finally sc.setLocalProperty(Trace.OpKey, null)
  }

  /** Check one finished op against the generator's expectation, then
    * delete its output directory and input file. */
  private def verify(op: Op): Option[String] = {
    val res = op.result match {
      case Success(r) =>
        Got.check(op.id, Gen.expected(Gen.lines(ctx.seed, op.u, rows)), Got.read(spark, r))
      case Failure(e) => Some(s"${op.id}: failed: ${e.getMessage}")
    }
    Layers.deleteRec(new File(outBase, op.jobId))
    new File(csv(op.u)).delete()
    res
  }

  private def newService(): Unit = {
    val existing = spark.read.parquet(existingDir)
    svc = new UploadService.Service(spark, existing, outBase.getPath)(
      new Trace.OpTagging(spark.sparkContext, ExecutionContext.global))
  }

  def setup(): Unit = {
    Layers.deleteRec(work)
    csvDir.mkdirs()
    // set-up is timed three times: session start, service, one warm-up
    // upload; input generation and output checks are excluded
    val times = (0 until 3).map { k =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      var excluded = 0L
      def exclude[A](f: => A): A = {
        val e0 = System.nanoTime(); try f finally excluded += System.nanoTime() - e0
      }
      spark = ctx.session()
      if (k == 0) exclude {
        spark.range(Gen.ExistingKeys).select(
          (lit(Gen.ExistingBase) + col("id")).cast("string").as("external_id"))
          .write.parquet(existingDir)
      }
      newService()
      val u = -1 - k
      exclude(generate(u))
      val op = upload(u, csv(u))
      exclude(verify(op)).foreach(ctx.fail)
      (System.nanoTime() - t0 - excluded) / 1e9
    }
    ctx.setupS = Stats.median(times)
    System.err.println(s"[servicebench] set-up times ${times.map(t => f"$t%.2f").mkString(" ")}")
    runProbe()
  }

  /** The empty-cell probe: seven lines through `submit`, counted against
    * the reference verdicts — reported, not gated. */
  private def runProbe(): Unit = {
    val path = new File(csvDir, "probe.csv").getPath
    Files.write(Paths.get(path),
      (Gen.Header +: Gen.probe.map(_._1)).mkString("", "\n", "\n").getBytes("UTF-8"))
    val op = upload(-100, path)
    op.result match {
      case Success(r) =>
        val cells = Gen.probe.map(_._2)
        val want = Gen.verdicts(cells, _ => false)
        val loadedIds = spark.read.parquet(r.loadedDir).collect().map(_.getString(0)).toSet
        val report = spark.read.text(r.errorReportDir).collect().map(_.getString(0)).toVector
        // the program's verdict per line, keyed by its trimmed externalId
        val byId = report.map(l => l.substring(0, l.indexOf(',')) ->
          l.substring(l.lastIndexOf(',') + 1)).toMap
        val got = cells.map { c =>
          val id = Option(c(0)).getOrElse("").trim
          if (loadedIds(id)) None else byId.get(id).orElse(Some("missing"))
        }
        ctx.layerFixed("UploadService.probe_wrong_verdicts") =
          want.zip(got).count { case (w, g) => w != g }.toDouble
        val wantLines = cells.zip(want).collect { case (c, Some(r)) =>
          Gen.referenceReportLine(c, r) }
        ctx.layerFixed("UploadService.probe_wrong_report_lines") =
          (report diff wantLines).size.toDouble
        System.err.println(s"[servicebench] probe: inserted=${r.inserted} failed=${r.failed} " +
          s"report=${report.mkString(" | ")}")
        Layers.deleteRec(new File(outBase, op.jobId))
      case Failure(e) => ctx.fail(s"probe upload failed: ${e.getMessage}")
    }
  }

  def run(tracer: Option[Tracer]): Unit = {
    tracer.foreach(spark.sparkContext.addSparkListener)
    // inputs are written before the window; a client that outruns them
    // writes its own
    val planned = clients * math.max(2, ((ctx.seconds + Uploads.RampS) * 0.5).toInt)
    (0 until planned).foreach(generate)
    // Closed loop: uploads started during a ramp of RampS seconds are
    // warm-up; those started in the next `seconds` are measured. Clients
    // keep the load up until the last measured upload completes, so every
    // measured upload runs with all clients busy.
    val next = new AtomicInteger(0)
    val ops = new java.util.concurrent.ConcurrentLinkedQueue[Op]()
    val extra = new java.util.concurrent.ConcurrentLinkedQueue[Op]()
    val measuring = new AtomicInteger(0)
    val t0 = System.nanoTime()
    val fromMs = System.currentTimeMillis() + (Uploads.RampS * 1e3).toLong
    val from = t0 + (Uploads.RampS * 1e9).toLong
    val until = from + (ctx.seconds * 1e9).toLong
    val threads = (0 until clients).map { c =>
      val t = new Thread(() => {
        // a seeded pause of up to 200 ms before each submit keeps the four
        // clients from locking into one phase, which made whole runs fast
        // or slow
        val think = new scala.util.Random(ctx.seed * 31 + c)
        var go = true
        while (go) {
          val now = System.nanoTime()
          val measured = now >= from && now < until
          if (now >= until && measuring.get == 0) go = false
          else {
            if (measured) measuring.incrementAndGet()
            Thread.sleep(think.nextInt(200))
            val u = next.getAndIncrement()
            generate(u)
            val op = upload(u, csv(u))
            if (measured) { ops.add(op); measuring.decrementAndGet() } else extra.add(op)
          }
        }
      })
      t.start(); t
    }
    // the JVM's CPU time over the window [from, until)
    var windowCpu = Cpu.Zero
    val sampler = new Thread(() => {
      Thread.sleep(math.max(0L, (from - System.nanoTime()) / 1000000L))
      val c0 = Cpu.sample()
      Thread.sleep(math.max(0L, (until - System.nanoTime()) / 1000000L))
      windowCpu = Cpu.sample() - c0
    })
    sampler.start()
    threads.foreach(_.join())
    sampler.join()
    System.err.println(f"[servicebench] ramp and window ${(System.nanoTime() - t0) / 1e9}%.1f s")
    import scala.jdk.CollectionConverters._
    val all = ops.asScala.toVector.sortBy(_.u)
    if (all.isEmpty) ctx.fail("no upload started in the window")
    val ok = all.filter(_.result.isSuccess)
    val lat = ok.map(_.latencyS)
    ctx.attempted = all.size
    ctx.failed = all.size - ok.size
    ctx.e2e("op_p50_s") = Stats.quantile(lat, 0.5)
    ctx.e2e("op_p90_s") = Stats.quantile(lat, 0.9)
    // uploads done per second of the fixed window [from, until): each
    // successful upload, warm-up and overrun ones included, counts with
    // the share of its time in flight that falls inside the window, so the
    // figure does not jump by a whole upload at the window's edges
    val untilMs = fromMs + (ctx.seconds * 1e3).toLong
    val done = (ok ++ extra.asScala.filter(_.result.isSuccess)).map { o =>
      math.max(0L, math.min(o.endMs, untilMs) - math.max(o.startMs, fromMs)).toDouble /
        math.max(1L, o.endMs - o.startMs)
    }.sum
    ctx.e2e("ops_per_s") = done / ctx.seconds
    // CPU time per upload: the window's CPU time over the uploads done in
    // it, counted as above
    ctx.cpuPerOp(Seq(windowCpu -> done))

    // per-op layer figures come from the spans, before any check job runs
    tracer.foreach { tr =>
      tr.drain(10000)
      all.foreach(o => tr.addOp(Trace.OpSpan(o.id, "upload", o.startMs, o.endMs)))
      layers(tr, ok)
      ctx.spans = tr.spansJson()
    }
    (0 until planned).filter(u => !all.exists(_.u == u)).foreach(u => new File(csv(u)).delete())
    // output checks, four at a time; an op's files are counted before its
    // check deletes them
    if (tracer.isDefined) all.foreach(_.result.foreach { r =>
      val files = Seq(r.loadedDir, r.errorReportDir).flatMap(d => listData(new File(d)))
      ctx.layerSamples("UploadService.files_written") += files.size.toDouble
      ctx.layerSamples("UploadService.bytes_written") += files.map(_.length).sum.toDouble
    })
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    (all ++ extra.asScala).map(o => pool.submit(new java.util.concurrent.Callable[Unit] {
      def call(): Unit = verify(o).foreach(ctx.fail)
    })).foreach(_.get())
    pool.shutdown()
    tracer.foreach(spark.sparkContext.removeSparkListener)
  }

  private def listData(d: File): Seq[File] =
    Option(d.listFiles).toSeq.flatten.flatMap { f =>
      if (f.isDirectory) listData(f)
      else if (f.getName.startsWith("_") || f.getName.startsWith(".")) Nil
      else Seq(f)
    }

  private def layers(tr: Tracer, ok: Seq[Op]): Unit = {
    val byOp = tr.attribute()
    val s = ctx.layerSamples
    ok.foreach { o =>
      val js = byOp.getOrElse(o.id, Nil)
      val st = js.flatMap(tr.stagesOf)
      def jobMs(p: String => Boolean) = js.filter(j => p(j.name)).map(j => j.end - j.start).sum.toDouble
      def at(action: String)(n: String) = n == s"$action at UploadService.scala"
      s("UploadService.submit_ms") += o.submitMs
      s("UploadService.jobs") += js.size.toDouble
      s("UploadService.tasks") += st.map(_.tasks.get).sum.toDouble
      s("UploadService.driver_ms") += ((o.endMs - o.startMs) -
        tr.unionMs(js.map(j => (j.start, j.end)), o.startMs, o.endMs)).toDouble
      s("Progress.first_update_ms") += o.firstUpdateMs
      s("Progress.status_get_us") += o.statusGetUs
      s("UploadService.parse_ms") += jobMs(n => at("csv")(n) || at("zipWithIndex")(n))
      s("Ingest.classify_ms") += jobMs(at("head"))
      s("UploadService.load_write_ms") += jobMs(at("parquet"))
      s("UploadService.report_write_ms") += jobMs(at("text"))
      s("UploadService.histogram_ms") += jobMs(at("collect"))
      ctx.sparkSamples(st)
      js.groupBy(_.name).foreach { case (n, g) =>
        ctx.siteSamples(n) += g.map(j => j.end - j.start).sum.toDouble }
    }
    ctx.layerFixed("UploadService.rows_per_s") = ctx.e2e("ops_per_s") * rows
    ctx.unattributed(tr, ok.map(o => (o.startMs, o.endMs)))
  }

  def close(): Unit = {
    if (spark != null) spark.stop()
    Layers.deleteRec(work)
  }
}
