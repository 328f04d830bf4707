package servicebench

import java.io.File
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import org.apache.spark.sql.SparkSession

trait Workload {
  def setup(): Unit
  def run(tracer: Option[Tracer]): Unit
  def close(): Unit
}

/** Named sample lists, created on first use. */
final class Samples {
  private val m = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  def apply(k: String): mutable.ArrayBuffer[Double] = m.getOrElseUpdate(k, mutable.ArrayBuffer.empty)
  def get(k: String): Option[Seq[Double]] = m.get(k).map(_.toSeq)
  def toSeq: Seq[(String, Seq[Double])] = m.toSeq.map { case (k, v) => k -> v.toSeq }
}

object Stats {
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}

/** CPU time of this JVM in ns, split into the JVM's JIT compiler
  * threads, its garbage-collector and VM threads, and the rest: the
  * program's own threads (the client, driver, scheduler and task
  * threads). */
final case class CpuSample(processNs: Long, jitNs: Long, gcNs: Long) {
  def appNs: Long = processNs - jitNs - gcNs
  def -(o: CpuSample): CpuSample = CpuSample(processNs - o.processNs, jitNs - o.jitNs, gcNs - o.gcNs)
  def +(o: CpuSample): CpuSample = CpuSample(processNs + o.processNs, jitNs + o.jitNs, gcNs + o.gcNs)
}

/** The kernel accounts time the hypervisor steals from a guest CPU as
  * steal, not as the running thread's CPU time, so these figures do not
  * grow when a shared host is busy, as wall-clock times do. The JIT and
  * GC threads' time follows warm-up and the collector's pause-time
  * heuristics, both of which depend on run timing; it is reported apart
  * from the program's own. */
object Cpu {
  val Zero = CpuSample(0L, 0L, 0L)
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  // thread names as /proc shows them (15 characters at most)
  private val Jit = Seq("C1 CompilerThre", "C2 CompilerThre", "Sweeper thread")
  private val Gc = Seq("GC Thread", "G1 ", "VM Thread")
  private val TickNs = 10000000L

  def sample(): CpuSample = {
    val process = os.getProcessCpuTime
    var jit, gc = 0L
    Option(new File("/proc/self/task").listFiles).toSeq.flatten.foreach { t =>
      try {
        val s = new String(Files.readAllBytes(Paths.get(t.getPath, "stat")))
        val name = s.substring(s.indexOf('(') + 1, s.lastIndexOf(')'))
        if (Jit.exists(name.startsWith) || Gc.exists(name.startsWith)) {
          // utime and stime, fields 14 and 15 of stat
          val f = s.substring(s.lastIndexOf(')') + 2).split(" ")
          val ns = (f(11).toLong + f(12).toLong) * TickNs
          if (Jit.exists(name.startsWith)) jit += ns else gc += ns
        }
      } catch { case _: java.io.IOException => () } // the thread ended
    }
    CpuSample(process, jit, gc)
  }
}

/** One run's settings and everything it measures. */
final class Ctx(val workload: String, val seed: Long, val seconds: Double,
                val traced: Boolean, val root: File, val work: File) {
  val dataDir: String = new File(root, "servicebench/data/sf0.01").getPath
  val reference = new File(root, "servicebench/.build/reference.txt")
  val failures = mutable.ArrayBuffer.empty[String]
  var attempted = 0
  var failed = 0
  var setupS = 0.0
  val e2e = mutable.LinkedHashMap.empty[String, Double]
  val layerSamples = new Samples
  val siteSamples = new Samples
  /** Per-layer figures that are one number per run, not per op. */
  val layerFixed = mutable.LinkedHashMap.empty[String, Double]
  var spans: Seq[String] = Nil

  def fail(msg: String): Unit = synchronized {
    System.err.println(s"[servicebench] CHECK FAILED $msg")
    failures += msg
  }

  /** The run's Spark session: local[n], set up as Bench sets up its own. */
  def session(n: Int = 4): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$n]")
      .appName("servicebench")
      .config("spark.sql.shuffle.partitions", n.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
    val s = (if (traced) b.config("spark.sql.streaming.streamingQueryListeners",
      classOf[StreamListener].getName) else b).getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Executor-side task metrics of one op, summed over its stages. */
  def sparkSamples(st: Seq[Trace.StageSpan]): Unit = {
    def sum(f: Trace.StageSpan => Long) = st.map(f).sum.toDouble
    layerSamples("spark.executor_cpu_ms") += sum(_.cpuNs.get) / 1e6
    layerSamples("spark.executor_run_ms") += sum(_.runMs.get)
    layerSamples("spark.shuffle_read_bytes") += sum(_.shuffleRead.get)
    layerSamples("spark.shuffle_write_bytes") += sum(_.shuffleWrite.get)
    layerSamples("spark.spill_bytes") += sum(_.spill.get)
    layerSamples("spark.gc_ms") += sum(_.gcMs.get)
  }

  /** CPU time per op, the program's own and the JIT's and GC's apart:
    * the median over `parts` (each a CPU sample and its op count). */
  def cpuPerOp(parts: Seq[(CpuSample, Double)]): Unit = {
    def per(f: CpuSample => Long) = Stats.median(parts.map { case (c, n) => f(c) / 1e9 / n })
    e2e("cpu_s_per_op") = per(_.appNs)
    e2e("jit_cpu_s_per_op") = per(_.jitNs)
    e2e("gc_cpu_s_per_op") = per(_.gcNs)
  }

  /** Share of the job time that started inside the ops' window but that
    * the attribution rule gave to no op. */
  def unattributed(tr: Tracer, opSpans: Seq[(Long, Long)]): Unit = {
    import scala.jdk.CollectionConverters._
    tr.attribute()
    val (lo, hi) = (opSpans.map(_._1).min, opSpans.map(_._2).max)
    val loose = tr.jobs.values.asScala.filter(j => j.op.isEmpty && j.start >= lo && j.start <= hi)
      .map(j => (j.end - j.start).toDouble).sum
    layerFixed("trace.unattributed_job_share") = loose / opSpans.map(s => (s._2 - s._1).toDouble).sum
  }
}

/** Entry point: `--workload <name> --seed <n> --seconds <s> --trace <0|1>
  * --root <checkout> --work <dir>`, or `--selftest` with the same
  * `--root` and `--work`. Prints one JSON object as the last stdout line. */
object Main {
  /** The end-to-end metrics: those whose run-to-run spread on a shared
    * 4-vCPU host stays within a bound. Wall-clock throughput, latency
    * percentiles and peak RSS follow the host's load and are per-layer
    * figures of the traced run (`trace.*`). */
  val E2E: Seq[(String, String)] = Seq("setup_s" -> "s", "cpu_s_per_op" -> "s")

  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  }

  def main(argv: Array[String]): Unit = {
    val a = argv.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val root = new File(a("root")).getAbsoluteFile
    val work = new File(a("work")).getAbsoluteFile
    work.mkdirs()
    if (argv.contains("--selftest")) sys.exit(SelfTest.run(root, work))
    if (argv.contains("--reference")) {
      MixQuery.writeReference(new Ctx("reference", 0L, 0.0, false, root, work))
      sys.exit(0)
    }
    val name = a("workload")
    val ctx = new Ctx(name, a("seed").toLong, a("seconds").toDouble, a("trace") == "1",
      root, work)
    val w: Workload = name match {
      case "upload_burst" => new Uploads(ctx)
      case "analyst_mix" => new Mix(ctx)
      case other => System.err.println(s"unknown workload $other"); sys.exit(2)
    }
    val t0 = System.nanoTime()
    def log(what: String) =
      System.err.println(f"[servicebench] $what at ${(System.nanoTime() - t0) / 1e9}%.1f s")
    try {
      w.setup()
      log(f"set-up done (median ${ctx.setupS}%.2f s)")
      w.run(if (ctx.traced) Some(new Tracer) else None)
      log("run and checks done")
    } finally w.close()
    ctx.e2e("setup_s") = ctx.setupS
    ctx.e2e("peak_rss_mb") = peakRssMb()
    System.err.println("[servicebench] " + ctx.e2e.map { case (k, v) => f"$k=$v%.4f" }.mkString(" "))
    println(result(ctx))
    sys.exit(0)
  }

  private def metric(v: Double, unit: String) =
    s"""{"value":${Json.num(v)},"unit":${Json.str(unit)}}"""

  def result(ctx: Ctx): String = {
    val fixed = ctx.layerFixed.toMap
    val metrics: Seq[(String, String)] =
      if (!ctx.traced) E2E.map { case (k, u) => k -> metric(ctx.e2e.getOrElse(k, 0.0), u) }
      else Layers.all.map { case (k, u) =>
        val v = fixed.get(k).orElse(ctx.layerSamples.get(k).map(Stats.median))
          .orElse(ctx.e2e.get(k.stripPrefix("trace."))).getOrElse(0.0)
        k -> metric(v, u)
      }
    if (ctx.traced) writeTrace(ctx, metrics)
    val correct = ctx.failures.isEmpty && ctx.failed == 0 && ctx.attempted > 0
    val m = metrics.map { case (k, v) => s"${Json.str(k)}:$v" }.mkString("{", ",", "}")
    s"""{"correct":$correct,"attempted":${math.max(ctx.attempted, 1)},"failed":${ctx.failed},"metrics":$m}"""
  }

  /** The traced run's spans and per-layer figures, for compare.py. */
  private def writeTrace(ctx: Ctx, metrics: Seq[(String, String)]): Unit = {
    val dir = new File(ctx.root, "servicebench/traces")
    dir.mkdirs()
    val sites = ctx.siteSamples.toSeq.sortBy(_._1)
      .map { case (k, v) => s"${Json.str(k)}:${Json.num(Stats.median(v.toSeq))}" }
      .mkString("{", ",", "}")
    val head = s"""{"workload":${Json.str(ctx.workload)},"seed":${ctx.seed},"metrics":${metrics.map { case (k, v) => s"${Json.str(k)}:$v" }.mkString("{", ",", "}")},"job_ms_by_site":$sites}"""
    Files.writeString(Paths.get(dir.getPath, s"${ctx.workload}-seed${ctx.seed}.jsonl"),
      (head +: ctx.spans).mkString("", "\n", "\n"))
  }
}
