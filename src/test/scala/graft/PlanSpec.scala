package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ExplainMode

/** Physical-plan shape assertions: the properties that make these queries
  * survive a 100 TB / 1000-executor scale-up, pinned so a refactor can't
  * silently regress them (SURVEY §4: built-in Catalyst behaviors we rely
  * on — broadcast joins, scan pushdown/pruning, TakeOrdered top-k,
  * partial aggregation, whole-stage codegen).
  */
class PlanSpec extends SparkSuite {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sfDir)
      .queryExecution.explainString(ExplainMode.fromString("formatted"))

  test("join_broadcast plans a broadcast hash join (no fact-side shuffle)") {
    assert(plan("join_broadcast").contains("BroadcastHashJoin"))
  }

  test("dedup_anti_existing is a broadcast anti-join, not a shuffle") {
    val p = plan("dedup_anti_existing")
    assert(p.contains("BroadcastHashJoin"))
    assert(p.contains("LeftAnti"))
  }

  test("topk_global plans TakeOrderedAndProject (no global sort)") {
    assert(plan("topk_global").contains("TakeOrderedAndProject"))
  }

  test("sample_weighted_reservoir selects via TakeOrdered heap, no global sort") {
    // the A-ES reservoir's whole scale story: k rows out of a map pass
    assert(plan("sample_weighted_reservoir").contains("TakeOrderedAndProject"))
  }

  test("embed_rand_proj is one map pass — no join, no hash-partition exchange") {
    val p = plan("embed_rand_proj")
    assert(!p.contains("Join"), s"JL projection must not join:\n$p")
    assert(!p.contains("hashpartitioning"),
      s"JL projection must not hash-shuffle (only the output range sort):\n$p")
  }

  test("graph_kcore's final plan reads checkpoints only — zero file re-scans") {
    // 4 peel rounds materialize through Residue; the emitted query must
    // start from those LogicalRDDs, never re-derive the edge build
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def flatten(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case a: AdaptiveSparkPlanExec => flatten(a.executedPlan)
      case q: QueryStageExec => flatten(q.plan)
      case _ => p.children.flatMap(flatten)
    })
    val df = SparkEntry.queries("graph_kcore")(spark, sfDir)
    df.collect()
    val scans = flatten(df.queryExecution.executedPlan)
      .collect { case f: FileSourceScanExec => f }
    assert(scans.isEmpty, s"kcore re-scans files: $scans")
  }

  test("sim_cosine_probe broadcasts the probe (nested-loop, no shuffle)") {
    assert(plan("sim_cosine_probe").contains("BroadcastNestedLoopJoin"))
  }

  test("agg_pricing_summary pushes the shipdate filter into the scan") {
    val p = plan("agg_pricing_summary")
    assert(p.contains("PushedFilters") &&
      p.linesIterator.exists(l => l.contains("PushedFilters") && l.contains("l_shipdate")),
      s"no pushed l_shipdate filter in:\n$p")
  }

  test("agg_pricing_summary prunes the lineitem scan to needed columns") {
    val read = plan("agg_pricing_summary").linesIterator
      .find(_.contains("ReadSchema")).getOrElse("")
    // needs 7 of lineitem's 16 columns; pruning must drop the rest
    assert(read.contains("l_shipdate") && !read.contains("l_comment"),
      s"scan not pruned: $read")
  }

  test("agg_pricing_summary does map-side partial aggregation") {
    val p = plan("agg_pricing_summary")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      "expected partial + final HashAggregate")
  }

  test("flagship plan stays inside whole-stage codegen") {
    // AQE finalizes codegen stages only at execution: run, then inspect
    // the executed plan ("*(id)" marks whole-stage-codegen'd operators)
    val df = SparkEntry.queries("agg_pricing_summary")(spark, sfDir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("*("), s"no codegen stage in:\n$p")
  }

  test("lookup_eq pushes the point predicate into the scan") {
    val p = plan("lookup_eq")
    assert(p.linesIterator.exists(l =>
      l.contains("PushedFilters") && l.contains("c_name")), s"no pushdown:\n$p")
  }

  private def executedPlan(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sfDir)
    df.collect()
    df.queryExecution.executedPlan.toString
  }

  test("minhash band self-join reads the signature cache (tokenize scan runs once)") {
    // r7: the band frame is a LAZY plan-keyed cache (Similarity.scala
    // deliberately avoids an eager count — see the rationale at the cache
    // site), so after execution the pair join must source BOTH sides from
    // the in-memory signatures — any file scan in the final plan means
    // the corpus is being re-tokenized.
    // (Typed walk: the string form embeds the cached relation's build
    // plan, whose historical file scan is provenance, not execution.)
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    val df = SparkEntry.queries("dedup_minhash_lsh")(spark, sfDir)
    df.collect()
    def flatten(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case a: AdaptiveSparkPlanExec => flatten(a.executedPlan)
      case q: QueryStageExec => flatten(q.plan)
      case _ => p.children.flatMap(flatten)
    })
    val nodes = flatten(df.queryExecution.executedPlan)
    assert(nodes.exists(_.isInstanceOf[InMemoryTableScanExec]),
      "join does not read the band cache")
    assert(!nodes.exists(_.isInstanceOf[FileSourceScanExec]),
      "corpus re-scanned outside the band cache")
  }

  test("ngram jaccard self-join reuses one exchange (gram scan runs once)") {
    assert(executedPlan("dedup_ngram_jaccard").contains("ReusedExchange"))
  }

  test("minhash consumers read the candidates cache: zero banding shuffles") {
    // r12: minhashCandidates is a lazy plan-keyed cache (the BandDfCap
    // stage was re-running its bucket-frequency aggregate + keep-join +
    // pair-groupBy in EVERY consumer — the r11 shared pass showed the
    // family paying ~2×). After any consumer executes, every other
    // consumer must source the pair rows from the in-memory candidates
    // entry: an (i, v) hash exchange in a consumer's executed plan means
    // the banding join is running again.
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    def flatten(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case a: AdaptiveSparkPlanExec => flatten(a.executedPlan)
      case q: QueryStageExec => flatten(q.plan)
      case _ => p.children.flatMap(flatten)
    })
    SparkEntry.queries("dedup_minhash_lsh")(spark, sfDir).collect() // populate
    for (name <- Seq("dedup_minhash_lsh", "dedup_minhash_containment")) {
      val df = SparkEntry.queries(name)(spark, sfDir)
      df.collect()
      val nodes = flatten(df.queryExecution.executedPlan)
      assert(nodes.exists(_.isInstanceOf[InMemoryTableScanExec]),
        s"$name does not read the candidates cache")
      // containment's exact shingle-set sizes are a DECLARED per-row pass
      // over documents (see its scaladoc) — only the pure-LSH consumer
      // must be scan-free.
      if (name == "dedup_minhash_lsh")
        assert(!nodes.exists(_.isInstanceOf[FileSourceScanExec]),
          s"$name re-scans the corpus outside the caches")
      val bandShuffles = nodes.collect {
        case e: ShuffleExchangeExec
            if e.outputPartitioning.toString.contains("(i#") => e
      }
      assert(bandShuffles.isEmpty,
        s"$name re-runs the banding join: ${bandShuffles.mkString("; ")}")
    }
  }

  test("banding build pays at most 2 signature shuffles (bdf agg once per side)") {
    // Pin of the bandedCandidates scaladoc's measured shape (r12): in the
    // broadcast shape the populating action's only (i, v) shuffles are
    // the two per-side bdf aggregates of the tiny signature frame (AQE's
    // stage cache misses over the cached-bands leaves, so they are NOT
    // deduped — see the scaladoc). A THIRD (i, v) exchange means a
    // refactor added another banding pass per side. Built with a
    // non-default cap so the plan can't alias the session's populated
    // candidates cache entry (which would hide the build entirely).
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import graft.ops.Similarity
    def flatten(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case a: AdaptiveSparkPlanExec => flatten(a.executedPlan)
      case q: QueryStageExec => flatten(q.plan)
      case _ => p.children.flatMap(flatten)
    })
    val df = Similarity.bandedCandidates(
      Similarity.minhashBands(spark, sfDir), Similarity.BandDfCap + 1)
    df.collect()
    val nodes = flatten(df.queryExecution.executedPlan)
    assert(!nodes.exists(_.isInstanceOf[FileSourceScanExec]),
      "banding build re-tokenizes the corpus outside the bands cache")
    val ivShuffles = nodes.collect {
      case e: ShuffleExchangeExec
          if e.outputPartitioning.toString.contains("(i#") => e
    }
    assert(ivShuffles.size <= 2,
      s"banding build runs ${ivShuffles.size} (i, v) shuffles (expected <= 2):\n" +
        ivShuffles.mkString("\n"))
  }

  test("no window query funnels the table into one task") {
    // Exchange SinglePartition under a Window = whole-table single-task
    // sort; every declared window must partition by a real key.
    for (name <- SparkEntry.queries.keys.filter(_.startsWith("win_"))) {
      val p = plan(name)
      assert(!p.contains("SinglePartition"),
        s"$name plans a single-partition exchange:\n$p")
    }
  }

  test("ALL queries: no WindowExec fed by a single-partition exchange (typed sweep)") {
    // The win_* textual sweep above misses windows inside non-win_
    // queries (r8 nearly shipped an agg_approx_quantile bracket whose
    // row_number sorted each flag's whole corpus in one task before the
    // count-aggregate rewrite). Typed form of the same rule over EVERY
    // declared query: walk the physical plan, and for each WindowExec /
    // WindowGroupLimitExec find the topmost exchange feeding it — that
    // exchange must not be SinglePartition. A window over a frame the
    // plan has already aggregated to bounded size is the one legitimate
    // exception — today that is exactly profile_drift, whose trailing-
    // median window runs over the |days|-row daily aggregate (the corpus
    // is reduced by a map-side combinable groupBy BEFORE the exchange);
    // new appearances must be added here deliberately.
    // sim_rrf_fusion (r8): its two rank windows run over the 20-row
    // TakeOrdered ranker results — bounded before any exchange by
    // construction (RrfDepth)
    // text_zipf_fit (r8): the global rank window runs over the tf
    // aggregate — bounded by VOCABULARY size, not corpus size, before the
    // exchange (same argument as profile_drift's |days|-row window).
    // agg_benford (r8): the total window runs over the 9-row digit
    // aggregate.
    // sim_ivf_nprobe (r11): the probe-cell rank window runs over the
    // one probe's |centroids|-row score frame — bounded by the broadcast
    // centroid set before any exchange, never a corpus sort.
    val boundedFrameOk =
      Set("profile_drift", "sim_rrf_fusion", "text_zipf_fit", "agg_benford",
        "sim_ivf_nprobe")
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}
    import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
    def flatten(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case a: AdaptiveSparkPlanExec => flatten(a.executedPlan)
      case q: QueryStageExec => flatten(q.plan)
      case _ => p.children.flatMap(flatten)
    })
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1)
      .filterNot(q => boundedFrameOk(q._1)).flatMap {
      case (name, fn) =>
        val nodes = flatten(fn(spark, sfDir).queryExecution.executedPlan)
        val windowChildren = nodes.collect {
          case w: WindowExec => w.child
          case w: WindowGroupLimitExec => w.child
        }
        windowChildren.flatMap { c =>
          flatten(c).collectFirst { case e: ShuffleExchangeExec => e }
            .filter(_.outputPartitioning == SinglePartition)
            .map(_ => s"$name: window fed by Exchange SinglePartition")
        }
    }.distinct
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("agg_approx_quantile prunes both lineitem scans to (flag, quantity)") {
    // the bounds bracket and the sketch each scan lineitem; both scans
    // must read exactly the two needed columns of the 11-column table
    val p = plan("agg_approx_quantile")
    val reads = p.linesIterator.filter(_.contains("ReadSchema")).toSeq
    assert(reads.nonEmpty)
    reads.foreach { r =>
      assert(r.contains("l_returnflag") && r.contains("l_quantity") &&
        !r.contains("l_extendedprice") && !r.contains("l_shipdate"),
        s"scan not pruned: $r")
    }
  }

  test("text_tfidf computes df via partial aggregation, not a window") {
    val p = plan("text_tfidf")
    assert(!p.contains("Window"), s"tfidf df uses a window (skew-unsafe):\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      "expected partial+final aggregation for df")
  }

  test("scan_partition_prune read plans partition filters on lang") {
    // materialize the partitioned fixture, then inspect the read plan
    ops.Sources.scanPartitionPrune(spark, sfDir).collect()
    val dir = s"/tmp/graft_sources/${math.abs(sfDir.hashCode)}/documents_by_lang"
    val p = ops.Sources.prunedRead(spark, dir)
      .queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(p.linesIterator.exists(l =>
      l.contains("PartitionFilters") && l.contains("lang")),
      s"lang filter not applied as a partition filter:\n$p")
  }

  test("scan_nested_prune reads only the projected struct leaf") {
    ops.Sources.scanNestedPrune(spark, sfDir).collect() // materialize fixture
    val dir = s"/tmp/graft_sources/${math.abs(sfDir.hashCode)}/orders_nested"
    val p = ops.Sources.nestedPrunedRead(spark, dir)
      .queryExecution.explainString(ExplainMode.fromString("formatted"))
    val read = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(read.contains("o_orderpriority"), s"pruned leaf missing:\n$read")
    assert(!read.contains("o_totalprice") && !read.contains("o_custkey"),
      s"nested pruning failed — whole struct read:\n$read")
  }

  test("join_dpp injects a DynamicPruningExpression into the fact scan") {
    ops.Sources.joinDpp(spark, sfDir).collect() // materialize the fixture
    val dir = s"/tmp/graft_sources/${math.abs(sfDir.hashCode)}/customer_by_nation"
    val p = ops.Sources.dppJoin(spark, sfDir, dir)
      .queryExecution.executedPlan.toString
    assert(p.toLowerCase.contains("dynamicpruningexpression"),
      s"no dynamic partition pruning on the fact scan:\n$p")
  }

  test("text_decontaminate broadcasts the eval gram set (corpus side map-only)") {
    assert(plan("text_decontaminate").contains("BroadcastHashJoin"))
  }

  test("outlier_zscore broadcasts the per-type stats") {
    assert(plan("outlier_zscore").contains("BroadcastHashJoin"))
  }

  test("sample_stratified broadcasts the rate dimension") {
    assert(plan("sample_stratified").contains("BroadcastHashJoin"))
  }

  test("sim_hybrid_search broadcasts the probe and heaps the top-k") {
    val p = plan("sim_hybrid_search")
    assert(p.contains("TakeOrderedAndProject"),
      s"hybrid top-k is not a TakeOrdered heap:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"probe is not broadcast:\n$p")
  }

  test("scd2_lookup joins intervals on the user key, never a cartesian") {
    val p = plan("scd2_lookup")
    assert(!p.contains("CartesianProduct"),
      s"interval lookup degenerated to a cartesian product:\n$p")
  }

  test("agg_salted plans two aggregation stages (salt then merge)") {
    // 2 logical stages × (partial + final) = at least 4 HashAggregates
    assert("HashAggregate".r.findAllIn(plan("agg_salted")).size >= 4)
  }

  test("topk_per_key_native plans the custom heap operator, no sort below it") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val li = Tables.lineitem(spark, sfDir)
      .select($"l_suppkey", $"l_orderkey", $"l_linenumber", $"l_extendedprice")
    // without the final presentation orderBy: the operator itself must
    // not sort anything — Catalyst only inserts the clustering exchange
    val df = org.apache.spark.sql.graft.TopK.perKey(li, $"l_suppkey", 3,
      $"l_extendedprice".desc, $"l_orderkey".asc, $"l_linenumber".asc)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("TopKPerKey"), s"custom operator missing:\n$p")
    assert(!p.contains("Sort "), s"heap operator must not plan a sort:\n$p")
    // and it agrees with the window formulation
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"l_suppkey")
      .orderBy($"l_extendedprice".desc, $"l_orderkey", $"l_linenumber")
    val viaWindow = li.withColumn("rn", row_number().over(w))
      .filter($"rn" <= 3).drop("rn")
      .collect().map(_.toSeq).toSet
    assert(df.collect().map(_.toSeq).toSet == viaWindow)
  }

  test("profile_table plans no Expand and prunes each branch to one column") {
    val p = plan("profile_table")
    // a multi-distinct aggregate would plan Expand (×6 row replication
    // before the shuffle) — the one shape that fails a 100 TB scale-up
    assert(!p.contains("Expand"), s"multi-distinct Expand found:\n$p")
    // every per-column branch must scan exactly its one column
    val reads = p.linesIterator.filter(_.contains("ReadSchema")).toList
    assert(reads.nonEmpty && reads.forall(!_.contains(",")),
      s"profile branch reads more than one column:\n${reads.mkString("\n")}")
  }

  test("dedup_edit_distance DP join stage keeps full parallelism under AQE") {
    // the pair rows are byte-small but CPU-heavy; if AQE coalesces the
    // join stage to one partition the whole DP bill lands on a single
    // core (the 8 s regression this query's pre-partition exists to fix)
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, ShuffledHashJoinExec, SortMergeJoinExec}
    val df = SparkEntry.queries("dedup_edit_distance")(spark, sfDir)
    df.collect()
    val finalPlan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    // AQE may plan the pair join shuffled (large inputs) or broadcast
    // (small side fits); either way the DP evaluates at the join's output
    // partitioning — that count is what must not collapse to 1. Query
    // stages don't expose their subtree as children, so descend manually.
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.QueryStageExec
    def flatten(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case q: QueryStageExec => flatten(q.plan)
      case _ => p.children.flatMap(flatten)
    })
    val joins = flatten(finalPlan).collect {
      case j: SortMergeJoinExec => j.outputPartitioning.numPartitions
      case j: ShuffledHashJoinExec => j.outputPartitioning.numPartitions
      case j: BroadcastHashJoinExec => j.outputPartitioning.numPartitions
    }
    assert(joins.nonEmpty, s"no pair join in:\n$finalPlan")
    assert(joins.forall(_ >= spark.sparkContext.defaultParallelism),
      s"DP join stage coalesced below defaultParallelism: $joins")
  }

  test("ts_theilsen pair join is co-partitioned and the pair frame never shuffles") {
    // same CPU-not-bytes rule as dedup_edit_distance, plus the data-
    // movement rule the r8 fix restored: the checkpointed event frame
    // carries HashPartitioning(user_id, N), so the self-join runs
    // co-partitioned at full parallelism and BOTH windows reuse that
    // partitioning — the only exchange allowed anywhere is the final
    // 150-row ORDER BY (rangepartitioning). Before the fix the bare
    // repartition(col) was AQE-coalescible, the checkpoint reported
    // UnknownPartitioning, and the plan broadcast the event frame then
    // re-shuffled every quadratic pair row into the windows.
    import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.{REPARTITION_BY_NUM, ShuffleExchangeExec}
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, ShuffledHashJoinExec, SortMergeJoinExec}
    val df = SparkEntry.queries("ts_theilsen")(spark, sfDir)
    df.collect()
    def flatten(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case a: AdaptiveSparkPlanExec => flatten(a.executedPlan)
      case q: QueryStageExec => flatten(q.plan)
      case _ => p.children.flatMap(flatten)
    })
    val nodes = flatten(df.queryExecution.executedPlan)
    // the pair join may be SMJ (both sides co-partitioned) or BHJ over
    // the hash-partitioned streamed side — either way its OUTPUT must
    // carry the user_id distribution at full parallelism so the windows
    // consume it directly
    val joins = nodes.collect {
      case j: SortMergeJoinExec => j.outputPartitioning.numPartitions
      case j: ShuffledHashJoinExec => j.outputPartitioning.numPartitions
      case j: BroadcastHashJoinExec => j.outputPartitioning.numPartitions
    }
    assert(joins.nonEmpty,
      s"no pair join found:\n${df.queryExecution.executedPlan}")
    assert(joins.forall(_ > 1),
      s"slope join output lost the user_id distribution: $joins\n" +
        df.queryExecution.executedPlan.toString)
    // allowed exchanges: the declared event-frame repartition
    // (REPARTITION_BY_NUM, pre-join, tiny) and the final 150-row ORDER BY
    // (rangepartitioning). An ENSURE_REQUIREMENTS hash exchange would be
    // the quadratic pair frame re-shuffling — the regression this pins.
    val badExchanges = nodes.collect {
      case e: ShuffleExchangeExec
        if e.shuffleOrigin != REPARTITION_BY_NUM &&
          !e.outputPartitioning.isInstanceOf[RangePartitioning] => e
    }
    assert(badExchanges.isEmpty,
      s"pair frame shuffles: $badExchanges")
  }

  test("pipeline_dedup_e2e composition reads its survivor/band caches") {
    // the r8 warm-lane fix: survivor frames (s1, s2) and the component
    // minhash band frame are plan-keyed caches with two consumers each —
    // after execution the plan must contain in-memory relation scans, or
    // the funnel is recomputing its stages
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    val df = SparkEntry.queries("pipeline_dedup_e2e")(spark, sfDir)
    df.collect()
    def flatten(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case a: AdaptiveSparkPlanExec => flatten(a.executedPlan)
      case q: QueryStageExec => flatten(q.plan)
      case _ => p.children.flatMap(flatten)
    })
    assert(flatten(df.queryExecution.executedPlan)
      .exists(_.isInstanceOf[InMemoryTableScanExec]),
      "composition does not read any plan-keyed cache")
  }

  test("proj_key_only scan reads a single column") {
    val read = plan("proj_key_only").linesIterator
      .filter(_.contains("ReadSchema")).mkString("\n")
    assert(read.nonEmpty && !read.contains(","),
      s"key-only projection reads extra columns: $read")
  }

  test("join_interval_overlap plans a hash equi-join, never a nested loop") {
    // the bucketization exists to turn the interval range predicate into
    // an equi-join on (key, bucket); a NestedLoop/Cartesian here means the
    // banding silently stopped keying the join
    val p = plan("join_interval_overlap")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"interval join fell back to a non-equi plan:\n$p")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin")
      || p.contains("BroadcastHashJoin"), s"no hash equi-join in:\n$p")
  }

  test("embed_centroid_distance's corpus-sized rank runs on the bounded heap") {
    // the first (big) window drops its rank column, so FirstRowPerKeyRule
    // must re-plan it as TopKPerKey — only the ≤3-per-label survivors may
    // see a real window sort
    val df = SparkEntry.queries("embed_centroid_distance")(spark, sfDir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("TopKPerKey"), s"bounded-heap rewrite did not fire:\n$p")
  }

  test("win_cumulative_distinct runs both windows off ONE exchange") {
    val df = SparkEntry.queries("win_cumulative_distinct")(spark, sfDir)
    df.collect()
    // executedPlan prints Final AND Initial AQE sections — count only the
    // final one. The explicit user_id repartition must satisfy both
    // window distributions: exactly one hash shuffle (the trailing
    // rangepartitioning belongs to the output ORDER BY contract).
    val p = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges == 1, s"expected 1 hash exchange, found $exchanges:\n$p")
  }

  test("sql_api_q10 broadcasts the nation dim and heaps the top-20") {
    val p = plan("sql_api_q10")
    assert(p.contains("BroadcastHashJoin"), s"no broadcast join:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"no TakeOrdered:\n$p")
  }

  test("text_langid / text_lm_score tokenize the corpus exactly once") {
    // round-4 weakness: both queries re-executed their tokenize subtree
    // (2× / 3×) and broadcast an unbounded corpus-derived profile. The
    // rewrite caches the per-doc tf table, so every corpus access in the
    // core plan must go through the cache: ZERO direct file scans, and
    // the capped profile keeps the broadcast bounded by construction.
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    def flatten(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case a: AdaptiveSparkPlanExec => flatten(a.executedPlan)
      case q: QueryStageExec => flatten(q.plan)
      case _ => p.children.flatMap(flatten)
    })
    val cores = Seq(
      "text_langid" -> ops.TextSim.langidCore(spark, sfDir),
      "text_lm_score" -> ops.TextSim.lmScoreCore(spark, sfDir),
      "text_tfidf" -> ops.TextSim.tfidfCore(spark, sfDir))
    for ((name, (tf, core)) <- cores) {
      core.collect()
      val nodes = flatten(core.queryExecution.executedPlan)
      val fileScans = nodes.collect { case f: FileSourceScanExec => f }
      val cacheScans = nodes.collect { case c: InMemoryTableScanExec => c }
      assert(fileScans.isEmpty,
        s"$name re-scans the corpus outside the tf cache: $fileScans")
      assert(cacheScans.nonEmpty, s"$name does not read through the tf cache")
      tf.unpersist(blocking = false)
    }
  }

  test("sorted-neighborhood candidate join is equi on the rank band") {
    // round-6 scale fix: the w-band must live IN the equi keys
    // ((blk, rk + j) = (blk, rk)), not as a post-join filter on a
    // blk-only key — the filter form enumerates m² pairs inside a hot
    // first-token block before discarding them (49 s warm at sf0.1 on
    // 5,000 docs). Pin: some hash/merge join carries ≥2 keys with the
    // exploded rank expression among them.
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, ShuffledHashJoinExec, SortMergeJoinExec}
    val df = SparkEntry.queries("dedup_sorted_neighborhood")(spark, sfDir)
    df.collect()
    def flatten(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case a: AdaptiveSparkPlanExec => flatten(a.executedPlan)
      case q: QueryStageExec => flatten(q.plan)
      case _ => p.children.flatMap(flatten)
    })
    // both sides: a planner side-swap (stats/AQE) must not fail the pin
    val joinKeys = flatten(df.queryExecution.executedPlan).collect {
      case j: SortMergeJoinExec => j.leftKeys ++ j.rightKeys
      case j: ShuffledHashJoinExec => j.leftKeys ++ j.rightKeys
      case j: BroadcastHashJoinExec => j.leftKeys ++ j.rightKeys
    }
    assert(joinKeys.exists(ks => ks.size >= 4 && ks.exists(_.toString.contains("rkj"))),
      s"candidate join does not band on the rank in its equi keys: $joinKeys")
  }

  test("no query plans a CartesianProduct; BNLJ only on broadcast-tiny frames") {
    // the blanket join-shape guard: a CartesianProduct anywhere is a
    // scale-killer regression; BroadcastNestedLoopJoin is legitimate
    // ONLY as crossJoin-against-a-broadcast-tiny-frame (probe vectors,
    // centroid sets, global scalars, rate dims — the judge-reviewed
    // pattern), so new appearances must be added here deliberately.
    val bnljOk = Set(
      "dedup_semantic", "embed_kmeans", "join_cross_theta", "profile_skew",
      "sample_mixture", "sample_temperature", "sample_weighted",
      "sim_cosine_probe", "sim_hybrid_search", "sim_ivf_probe",
      // exact tier inherits sim_cosine_probe's broadcast single-row probe
      "sim_ann_recall",
      // r8 bounds oracle: merged sketch row crossJoins the broadcast
      // 1-row global exact NDV
      "agg_hll_mergeable",
      // r8 additions, same reviewed shapes: heavy-hitters crossJoins the
      // broadcast 1-row corpus total; IVF-PQ reuses ivfAssigned's
      // crossJoin vs the broadcast centroid set (sim_ivf_probe's shape);
      // MRL/MaxSim/RRF crossJoin the broadcast probe (1 row / 4
      // subvector rows); BM25 crossJoins its broadcast 1-row stats;
      // PSI crossJoins the broadcast 1-row midpoint and the 20-row bin
      // grid
      "agg_heavy_hitters", "sim_ivfpq_search", "sim_mrl_rerank",
      "sim_maxsim", "sim_rrf_fusion", "text_bm25", "profile_psi",
      "text_tfidf", "ts_seasonal_baseline",
      // keyword extraction crossJoins the broadcast 1-row tokenized doc
      // count (text_tfidf's N shape)
      "text_keyword_extract",
      // binary-signature retrieval crossJoins the broadcast 1-row probe
      // signature (sim_cosine_probe's shape, 16 bytes instead of a vector)
      "sim_binary_hamming",
      // purity inherits ivfAssigned's crossJoin vs the broadcast centroid
      // set (the sim_ivf_probe / dedup_semantic shape)
      "embed_cluster_purity",
      // burstiness crossJoins the broadcast 1-row corpus doc count
      "text_burstiness",
      // periodogram crossJoins the broadcast 1-row series origin t0
      "ts_periodogram",
      // bootstrap crossJoins the broadcast 1-row observed total
      "stat_bootstrap_ci",
      // KS crossJoins the broadcast 1-row temporal midpoint (the
      // profile_psi shape)
      "agg_ks_test",
      // pairwise sketch algebra: inequality-only self-join of the
      // |event_types|-row (≤5) sketch frame — broadcast-tiny by
      // construction, pairs bounded by sketch count not data
      "agg_hll_intersect",
      // CMS probe grid: crossJoin of the 5-row sketch frame with the
      // broadcast 10-row probe set (the bm25/tfidf 1-row-stats shape)
      "agg_cms_point",
      // r11 nprobe dial: inherits ivfAssigned's crossJoin vs the
      // broadcast centroid set AND crossJoins the broadcast 1-row probe
      // (the sim_ivf_probe / sim_cosine_probe shapes combined)
      "sim_ivf_nprobe")
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        val p = fn(spark, sfDir).queryExecution
          .explainString(ExplainMode.fromString("formatted"))
        val cart = p.contains("CartesianProduct")
        val bnlj = p.contains("BroadcastNestedLoopJoin") && !bnljOk(name)
        if (cart) Some(s"$name: CartesianProduct")
        else if (bnlj) Some(s"$name: unexpected BroadcastNestedLoopJoin")
        else None
    }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("dedup_keep_best runs class-size and argmax windows off ONE exchange") {
    // both windows partition on the normalized text, so the plan must
    // shuffle the scored frame exactly once (trailing rangepartitioning
    // is the output ORDER BY)
    val df = SparkEntry.queries("dedup_keep_best")(spark, sfDir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges == 1, s"expected 1 hash exchange, found $exchanges:\n$p")
  }

  test("graph_pagerank and text_line_dedup iterate off checkpoints, zero re-scans") {
    // both ops localCheckpoint their shared subtree (edge build / chunk
    // frame) exactly once — every downstream consumer must read the
    // checkpointed blocks, never re-execute the file scan. A regression
    // here multiplies the heaviest subtree by the consumer count (4× for
    // pagerank's rounds, 3× for the chunk frame's branches).
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def flatten(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case a: AdaptiveSparkPlanExec => flatten(a.executedPlan)
      case q: QueryStageExec => flatten(q.plan)
      case _ => p.children.flatMap(flatten)
    })
    for (name <- Seq("graph_pagerank", "text_line_dedup", "text_span_dedup")) {
      val df = SparkEntry.queries(name)(spark, sfDir)
      df.collect()
      val scans = flatten(df.queryExecution.executedPlan)
        .collect { case f: FileSourceScanExec => f }
      assert(scans.isEmpty,
        s"$name re-executes its checkpointed subtree: $scans")
    }
  }

  test("sql_api_q21 decorrelates both subqueries into semi/anti joins") {
    // EXISTS + NOT EXISTS correlated on the outer order key must plan as
    // one LeftSemi and one LeftAnti hash join (RewritePredicateSubquery);
    // a per-row subquery execution would re-scan lineitem per outer row
    val p = plan("sql_api_q21")
    assert(p.contains("LeftSemi"), s"EXISTS not decorrelated to a semi join:\n$p")
    assert(p.contains("LeftAnti"), s"NOT EXISTS not decorrelated to an anti join:\n$p")
  }

  test("sql_api_q16 plans NOT IN as a null-aware broadcast anti join") {
    // NOT IN's three-valued logic makes a plain anti join wrong; the
    // single-column equality must plan as a broadcast hash NAAJ — never a
    // per-row subquery or a BroadcastNestedLoop over the exclusion list
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def flatten(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case a: AdaptiveSparkPlanExec => flatten(a.executedPlan)
      case q: QueryStageExec => flatten(q.plan)
      case _ => p.children.flatMap(flatten)
    })
    // inspect the INITIAL physical plan: at tiny scale the exclusion list
    // is empty and AQE (correctly) eliminates the runtime anti join, so
    // the decorrelation evidence lives in the pre-execution plan
    val df = SparkEntry.queries("sql_api_q16")(spark, sfDir)
    val naaj = flatten(df.queryExecution.executedPlan)
      .collect { case b: BroadcastHashJoinExec if b.isNullAwareAntiJoin => b }
    assert(naaj.nonEmpty,
      s"NOT IN did not plan as a null-aware broadcast anti join:\n${df.queryExecution.executedPlan}")
  }

  test("sql_api_q2 decorrelates the scalar min subquery into an aggregate join") {
    // RewriteCorrelatedScalarSubquery must turn `= (SELECT MIN(...) WHERE
    // correlated)` into a per-part min aggregate joined back to the outer
    // side — the plan shows the aggregate + join, never a per-row subquery
    val p = plan("sql_api_q2")
    assert(!p.toLowerCase.contains("scalar-subquery"),
      s"scalar subquery left undecorrelated:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"no decorrelated min aggregate in:\n$p")
  }

  test("sql_api_q4 decorrelates EXISTS-with-date-bound into a semi join") {
    // the correlation carries BOTH the equi key and the outer row's
    // orderdate in the comparison; RewritePredicateSubquery must still
    // plan ONE left-semi hash join (date bound as join condition), never
    // a per-outer-row lineitem scan
    val p = plan("sql_api_q4")
    assert(p.contains("LeftSemi"), s"EXISTS not decorrelated to a semi join:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"date-bound correlation fell back to a nested loop:\n$p")
  }

  test("sql_api_q6 pushes all three range predicates into the scan") {
    // Q6 is the pure pushdown query: shipdate year band, discount band,
    // quantity cap must ALL reach the parquet reader as PushedFilters —
    // at 100 TB this is the difference between reading a year's row
    // groups and reading the table
    val p = plan("sql_api_q6")
    val pushed = p.linesIterator.filter(_.contains("PushedFilters")).mkString
    for (c <- Seq("l_shipdate", "l_discount", "l_quantity"))
      assert(pushed.contains(c), s"$c not in PushedFilters:\n$p")
  }

  test("sql_api_q17 decorrelates the scalar avg subquery into an aggregate join") {
    // `l_quantity < 0.5*(SELECT AVG WHERE correlated)` must rewrite to a
    // per-partkey average joined back (the q2 pattern with AVG) — the
    // plan shows the extra aggregate, never a per-row rescan
    val p = plan("sql_api_q17")
    assert(!p.toLowerCase.contains("scalar-subquery"),
      s"scalar subquery left undecorrelated:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"no decorrelated avg aggregate in:\n$p")
  }

  test("sql_api_q19 pushes the common conjunct and keeps an equi join") {
    // the three-branch OR must not break the equi join on p_partkey, and
    // the common conjunct (returnflag) must still push into the lineitem
    // scan even though the branch predicates cross tables
    val p = plan("sql_api_q19")
    val pushed = p.linesIterator.filter(_.contains("PushedFilters")).mkString
    assert(pushed.contains("l_returnflag"),
      s"common conjunct not pushed into the scan:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"disjunctive predicate broke the equi join:\n$p")
  }

  test("join_existence_flag plans the ExistenceJoin variant") {
    // IN-subquery under a disjunction: rows failing the membership probe
    // must survive, so the semi join must EMIT the boolean, not filter —
    // Catalyst's ExistenceJoin, never a per-row subquery
    assert(plan("join_existence_flag").contains("ExistenceJoin"),
      s"membership probe not planned as ExistenceJoin:\n${plan("join_existence_flag")}")
  }

  test("profile_skew plans TakeOrdered for the top-k, partial agg below") {
    val p = plan("profile_skew")
    assert(p.contains("TakeOrderedAndProject"), s"no TakeOrdered in:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      "expected partial + final HashAggregate")
  }
}
