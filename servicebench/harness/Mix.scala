package servicebench

import java.io.File
import java.nio.file.Files
import scala.collection.mutable
import org.apache.spark.sql.SparkSession
import graft.SparkEntry
import graft.ops.{Residue, Streaming}

/** One entry of queries.txt. */
final case class MixQuery(part: String, module: String, name: String)

object MixQuery {
  def load(root: File): Seq[MixQuery] = {
    val src = scala.io.Source.fromFile(new File(root, "servicebench/queries.txt"))
    try src.getLines().map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map(_.split("\\s+") match { case Array(p, m, q) => MixQuery(p, m, q) }).toVector
    finally src.close()
  }

  /** The DuckDB-checked reference of every query: its fingerprint, read
    * back from the checked file, or why it has none. */
  type Reference = Map[String, Either[String, (Long, BigDecimal)]]

  /** Write every query's result and DuckDB SQL with graft.Verify, check
    * them with tools/check.py, and save the fingerprint of each passing
    * result to `ctx.reference`, one "<query> <rows> <hash>" or
    * "<query> FAIL <why>" line per query. */
  def writeReference(ctx: Ctx): Unit = {
    val qs = load(ctx.root).map(_.name)
    val dir = new File(ctx.work, "check")
    graft.Verify.main(Array(ctx.dataDir, dir.getPath) ++ qs)
    val cmd = Seq("python3", new File(ctx.root, "tools/check.py").getPath, ctx.dataDir,
      dir.getPath) ++ qs
    val p = new ProcessBuilder(cmd: _*).redirectErrorStream(true).start()
    val out = scala.io.Source.fromInputStream(p.getInputStream).getLines().toVector
    p.waitFor()
    out.foreach(l => System.err.println(s"[check.py] $l"))
    val passed = out.collect { case l if l.startsWith("PASS ") => l.split(" ")(1) }.toSet
    val spark = ctx.session()
    val lines = qs.map { q =>
      if (passed(q)) {
        val (n, h) = Fingerprint.of(spark.read.parquet(new File(dir, q).getPath))
        s"$q $n $h"
      } else s"$q FAIL " + out.find(_.startsWith(s"FAIL $q"))
        .getOrElse("no PASS line from check.py").replace('\n', ' ')
    }
    spark.stop()
    Files.writeString(ctx.reference.toPath, lines.mkString("", "\n", "\n"))
  }

  def readReference(file: File): Reference = {
    val src = scala.io.Source.fromFile(file)
    try src.getLines().map(_.split(" ", 3)).map {
      case Array(q, "FAIL", why) => q -> Left(why)
      case Array(q, n, h) => q -> Right((n.toLong, BigDecimal(h)))
    }.toMap
    finally src.close()
  }
}

/** analyst_mix: passes over every query of queries.txt, one client.
  * The part a and b queries are grouped by module; the part s (streaming)
  * queries by board family (`scan`, `stream`), as Bench runs them. At the
  * end of each pass the shared-run machinery is reset and every streaming
  * scratch directory swept.
  *
  * Group order is drawn from the seed for each pass. Bench's untimed
  * hygiene (`Residue.familyBoundary`, then a GC settle) runs at each group
  * change. Each op is one query: build its DataFrame, then fingerprint it
  * in the timed action, before any sweep. */
final class Mix(ctx: Ctx) extends Workload {
  private val mix = MixQuery.load(ctx.root)
  private val streaming = mix.exists(_.part == "s")
  private def group(q: MixQuery) = if (q.part == "s") q.name.takeWhile(_ != '_') else q.module
  private val groups = mix.map(group).distinct
  private val modules = mix.map(_.module).distinct
  private var spark: SparkSession = _
  private val ref = MixQuery.readReference(ctx.reference)

  /** Bench's untimed group hygiene and settle: drop caches and checkpoint
    * residue, then two collections with a pause between, so the cleanup a
    * group leaves behind is not collected inside the next group's timed
    * queries. Returns the hygiene's own time in ms. */
  private def boundary(): Double = {
    val h0 = System.nanoTime()
    Residue.familyBoundary(spark)
    val ms = (System.nanoTime() - h0) / 1e6
    System.gc()
    Thread.sleep(50)
    System.gc()
    ms
  }

  /** End of a pass: the streaming shared runs and the pinned scratch go
    * too (`sweepAllScratch` also resets the pair runs). */
  private def passEnd(): Double = {
    val h0 = System.nanoTime()
    Residue.familyBoundary(spark)
    if (streaming) Streaming.sweepAllScratch()
    (System.nanoTime() - h0) / 1e6
  }

  def setup(): Unit = {
    if (streaming) {
      // the streaming CSV source reads the fixtures beside ScratchRoot
      val csvDir = new File(new File(Streaming.ScratchRoot).getParentFile.getParentFile,
        "src/test/resources")
      if (!new File(csvDir, "items_scan.csv").isFile)
        throw new IllegalStateException(s"streaming CSV source $csvDir is missing")
    }
    // set-up is timed five times: session start and a first job; the
    // untimed pass below is the warm-up
    val times = (0 until 5).map { _ =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = ctx.session()
      spark.range(1000).count()
      (System.nanoTime() - t0) / 1e9
    }
    ctx.setupS = Stats.median(times)
    System.err.println(s"[servicebench] set-up times ${times.map(t => f"$t%.2f").mkString(" ")}")
    // one untimed pass, the warm-up: each result must fingerprint as its
    // checked file did
    val w0 = System.nanoTime()
    groups.foreach { g =>
      boundary()
      mix.filter(q => group(q) == g).foreach { q =>
        try check(s"${q.name} (set-up)", q,
          Fingerprint.of(SparkEntry.queries(q.name)(spark, ctx.dataDir)))
        catch { case e: Throwable => ctx.fail(s"${q.name} (set-up): failed: ${e.getMessage}") }
      }
    }
    passEnd()
    System.err.println(f"[servicebench] warm-up pass ${(System.nanoTime() - w0) / 1e9}%.1f s")
  }

  private def check(op: String, q: MixQuery, fp: (Long, BigDecimal)): Unit =
    ref.get(q.name) match {
      case Some(Left(why)) => ctx.fail(s"$op: DuckDB check failed: $why")
      case r => Fingerprint.check(op, fp, r.flatMap(_.toOption)).foreach(ctx.fail)
    }

  private final case class Op(pass: Int, q: MixQuery, id: String, startMs: Long,
                              endMs: Long, buildS: Double, execS: Double, ok: Boolean)

  def run(tracer: Option[Tracer]): Unit = {
    tracer.foreach(spark.sparkContext.addSparkListener)
    StreamTrace.reset()
    val sc = spark.sparkContext
    val ops = mutable.ArrayBuffer.empty[Op]
    val hygiene = mutable.ArrayBuffer.empty[Double]
    // CPU time of each pass's groups, hygiene and settles left out
    val passCpu = mutable.ArrayBuffer.empty[CpuSample]
    var outsideS = 0.0
    val t0 = System.nanoTime()
    def windowS = (System.nanoTime() - t0) / 1e9 - outsideS
    // whole passes until the window, less the untimed hygiene and settles
    // between groups, holds `seconds`
    var pass = 0
    while (pass == 0 || windowS < ctx.seconds) {
      val rnd = new scala.util.Random(ctx.seed * 1000003L + pass)
      var hyg = 0.0
      var cpu = Cpu.Zero
      rnd.shuffle(groups).foreach { g =>
        val b0 = System.nanoTime()
        hyg += boundary()
        outsideS += (System.nanoTime() - b0) / 1e9
        val c0 = Cpu.sample()
        mix.filter(q => group(q) == g).foreach { q =>
          val id = s"p$pass-${q.name}"
          sc.setLocalProperty(Trace.OpKey, id)
          val startMs = System.currentTimeMillis()
          val a = System.nanoTime()
          val (b, fp) = try {
            val df = SparkEntry.queries(q.name)(spark, ctx.dataDir)
            val b = System.nanoTime()
            (b, Some(Fingerprint.of(df)))
          } catch { case e: Throwable =>
            ctx.fail(s"${q.name} (pass $pass): failed: ${e.getMessage}")
            (System.nanoTime(), None)
          } finally sc.setLocalProperty(Trace.OpKey, null)
          val c = System.nanoTime()
          fp.foreach(check(s"${q.name} (pass $pass)", q, _))
          ops += Op(pass, q, id, startMs, System.currentTimeMillis(), (b - a) / 1e9,
            (c - b) / 1e9, fp.isDefined)
          System.err.println(f"[servicebench] $id build ${(b - a) / 1e6}%.0f ms exec ${(c - b) / 1e6}%.0f ms")
        }
        cpu = cpu + (Cpu.sample() - c0)
      }
      val e0 = System.nanoTime()
      hyg += passEnd()
      outsideS += (System.nanoTime() - e0) / 1e9
      hygiene += hyg
      passCpu += cpu
      System.err.println(f"[servicebench] pass $pass: ${ops.filter(_.pass == pass).map(o => o.buildS + o.execS).sum}%.2f s, " +
        f"cpu ${cpu.appNs / 1e9}%.2f s, jit ${cpu.jitNs / 1e9}%.2f s, gc ${cpu.gcNs / 1e9}%.2f s")
      pass += 1
    }
    val window = windowS
    val lat = ops.filter(_.ok).map(o => o.buildS + o.execS).toSeq
    ctx.attempted = ops.size
    ctx.failed = ops.count(!_.ok)
    ctx.e2e("op_p50_s") = Stats.quantile(lat, 0.5)
    ctx.e2e("op_p90_s") = Stats.quantile(lat, 0.9)
    ctx.e2e("ops_per_s") = lat.size / window
    ctx.cpuPerOp(passCpu.toSeq.map(_ -> mix.size.toDouble))
    System.err.println(s"[servicebench] ${ctx.workload}: $pass passes, ${ops.size} queries, " +
      f"timed window $window%.1f s")
    tracer.foreach { tr =>
      tr.drain(10000)
      StreamTrace.drain(10000)
      ops.foreach(o => tr.addOp(Trace.OpSpan(o.id, o.q.name, o.startMs, o.endMs)))
      val byOp = tr.attribute()
      val runs = StreamTrace.runs
      val s = ctx.layerSamples
      ops.groupBy(_.pass).values.foreach { po =>
        s(s"${ctx.workload}.pass_s") += po.map(o => o.buildS + o.execS).sum
        modules.foreach { m =>
          val mo = po.filter(_.q.module == m)
          val js = mo.flatMap(o => byOp.getOrElse(o.id, Nil))
          val st = js.flatMap(tr.stagesOf)
          s(s"$m.build_ms") += mo.map(_.buildS * 1e3).sum
          s(s"$m.exec_ms") += mo.map(_.execS * 1e3).sum
          s(s"$m.jobs") += js.size.toDouble
          s(s"$m.driver_ms") += mo.map { o =>
            val oj = byOp.getOrElse(o.id, Nil)
            ((o.endMs - o.startMs) - tr.unionMs(oj.map(j => (j.start, j.end)), o.startMs, o.endMs)).toDouble
          }.sum
          s(s"$m.shuffle_bytes") += st.map(x => x.shuffleRead.get + x.shuffleWrite.get).sum.toDouble
          s(s"$m.gc_ms") += st.map(_.gcMs.get).sum.toDouble
        }
        if (streaming) {
          // a run belongs to the streaming op whose span holds its start
          val ps = po.filter(_.q.part == "s")
          val pr = runs.filter(r => ps.exists(o => r.start >= o.startMs && r.start <= o.endMs))
          s("Streaming.run_ms") += pr.map(r => r.end - r.start).sum.toDouble
          s("Streaming.reader_ms") += ps.map(o => (o.endMs - o.startMs) -
            tr.unionMs(pr.map(r => (r.start, r.end)), o.startMs, o.endMs)).sum.toDouble
          s("Streaming.runs") += pr.size.toDouble
          s("Streaming.batches") += pr.map(_.batches.get).sum.toDouble
          s("Streaming.addBatch_ms") += pr.map(_.addBatchMs.get).sum.toDouble
          s("Streaming.commit_ms") += pr.map(_.commitMs.get).sum.toDouble
          s("Streaming.walCommit_ms") += pr.map(_.walCommitMs.get).sum.toDouble
          s("Streaming.queryPlanning_ms") += pr.map(_.planningMs.get).sum.toDouble
          s("Streaming.state_rows") += pr.map(_.stateRows).sum.toDouble
          s("Streaming.state_bytes") += pr.map(_.stateBytes).sum.toDouble
        }
      }
      ops.foreach { o =>
        val js = byOp.getOrElse(o.id, Nil)
        ctx.sparkSamples(js.flatMap(tr.stagesOf))
        js.groupBy(_.name).foreach { case (n, g) =>
          ctx.siteSamples(n) += g.map(j => j.end - j.start).sum.toDouble }
      }
      hygiene.foreach(h => s("Residue.hygiene_ms") += h)
      ctx.unattributed(tr, ops.map(o => (o.startMs, o.endMs)).toSeq)
      ctx.spans = tr.spansJson() ++ runs.map(r =>
        r.json(ops.find(o => r.start >= o.startMs && r.start <= o.endMs).map(_.id)))
      sc.removeSparkListener(tr)
    }
  }

  def close(): Unit = {
    if (spark != null) {
      passEnd()
      spark.stop()
    }
  }
}
