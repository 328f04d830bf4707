package graft

import graft.ops.{Analytics, Curation}

/** Hand-computable fixtures for the round-4 robust-stats / graph /
  * interpolation operators — the oracle proves them on harness data;
  * these pin the edge semantics (orientation, exact-gap medians, NULL
  * edges) on inputs small enough to derive by eye. */
class RobustGraphSpec extends SparkSuite {
  import spark.implicits._
  import org.apache.spark.sql.functions._

  /** lineitem fixture: only the columns the graph ops read. Order 10
    * carries parts {1,2,3} (a triangle), 20 carries {3,4}, 30 carries
    * {1,2} (a duplicate edge — must not double-count), and 15 carries
    * {7,8,9} but is dropped by the %10 slice. */
  private lazy val graphDir: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_graph").toString
    Seq(
      (10L, 1L), (10L, 2L), (10L, 3L),
      (20L, 3L), (20L, 4L),
      (30L, 1L), (30L, 2L),
      (15L, 7L), (15L, 8L), (15L, 9L))
      .toDF("l_orderkey", "l_partkey")
      .write.parquet(s"$dir/lineitem.parquet")
    dir
  }

  test("graph_degree: distinct-edge degrees, sliced input, histogram form") {
    val got = Analytics.graphDegree(spark, graphDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    // degrees: 1→{2,3}, 2→{1,3}, 3→{1,2,4}, 4→{3} ⇒ one node of degree 1,
    // two of degree 2, one of degree 3; parts 7/8/9 sliced away
    assert(got == Seq((1L, 1L), (2L, 2L), (3L, 1L)))
  }

  test("graph_triangle_count: one triangle, counted once per member node") {
    val got = Analytics.graphTriangleCount(spark, graphDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == Seq((1L, 1L), (2L, 1L), (3L, 1L)))
  }

  test("graph_common_neighbors: adjacent pairs excluded, union-denominator jaccard") {
    // non-adjacent pairs sharing a neighbor: only (1,4) and (2,4), both
    // through node 3 — common 1, jaccard 1/(2+1-1) = 0.5; (1,2)/(1,3)/
    // (2,3)/(3,4) are edges and must NOT appear even though (1,2) shares
    // neighbor 3
    val got = Analytics.graphCommonNeighbors(spark, graphDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDecimal(3).doubleValue)).toSeq
    assert(got == Seq((1L, 4L, 1L, 0.5), (2L, 4L, 1L, 0.5)))
  }

  test("graph_common_neighbors: the hub cap excludes a super-hub from the shared-neighbor role") {
    // r17: a hub h co-occurring with > CommonNeighborHubCap distinct
    // parts would emit deg² wedges from the index join; the cap excludes
    // it from the SHARED-neighbOR role only. Fixture: hub 1000 sits in
    // 40 orders of 3 (80 spoke neighbors, degree 80 > 64); spokes
    // 1..80 pair up only THROUGH the hub except spokes 1 and 3, which
    // also share the ordinary neighbor 2000 without being adjacent.
    val dir = java.nio.file.Files.createTempDirectory("graft_hub").toString
    val hubOrders = (0 until 40).flatMap { i =>
      Seq((100L + 10 * i, 1000L), (100L + 10 * i, 1L + 2 * i),
        (100L + 10 * i, 2L + 2 * i))
    }
    // ordinary shared neighbor 2000 for the NON-adjacent spokes 1 and 3
    val plain = Seq((900L, 1L), (900L, 2000L), (910L, 3L), (910L, 2000L))
    (hubOrders ++ plain).toDF("l_orderkey", "l_partkey")
      .write.parquet(s"$dir/lineitem.parquet")
    val rows = Analytics.graphCommonNeighbors(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    // hub degree: 80 spokes (distinct co-parts) > 64 ⇒ every
    // only-through-the-hub pair (e.g. spokes 1 and 4, or 2 and 3) is
    // GONE — uncapped, ~3.1k such pairs would flood the top-20. What
    // survives: (1,3) via ordinary neighbor 2000 (the hub's contribution
    // excluded from its common too), the hub/2000 pair via their shared
    // ORDINARY neighbors 1 and 3, and (2,2000)/(4,2000) via spokes 1/3.
    assert(rows == Seq((1000L, 2000L, 2L), (1L, 3L, 1L),
        (2L, 2000L, 1L), (4L, 2000L, 1L)),
      s"hub-capped result set diverges: $rows")
    // and the uncapped reference would have found hub-only pairs: prove
    // the cap is what removed them (non-vacuity)
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
      .filter($"l_orderkey" % 10 === 0)
    val e = li.as("a").join(li.as("b"),
        $"a.l_orderkey" === $"b.l_orderkey" && $"a.l_partkey" < $"b.l_partkey")
      .select($"a.l_partkey".as("u"), $"b.l_partkey".as("v")).distinct()
    val adj = e.select($"u".as("n"), $"v".as("w"))
      .unionAll(e.select($"v".as("n"), $"u".as("w")))
    val hubDeg = adj.filter($"n" === 1000L).count()
    assert(hubDeg > Analytics.CommonNeighborHubCap,
      s"fixture hub degree $hubDeg must exceed the cap for a binding test")
    val uncappedWedges = adj.select($"n".as("a"), $"w")
      .join(adj.select($"n".as("b"), $"w"), "w")
      .filter($"a" < $"b" && $"w" === 1000L).count()
    assert(uncappedWedges > 1000L,
      s"the hub must generate a quadratic wedge head uncapped: $uncappedWedges")
  }

  /** events fixture for MAD + interpolation: nanosecond ts longs like the
    * harness parquet (SparkSuite sessions read ts as long). */
  private def eventsDir(rows: Seq[(Long, Long, Long, String, Double)]): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_ev").toString
    rows.toDF("event_id", "us", "user_id", "event_type", "value")
      .select($"event_id", ($"us" * 1000).as("ts"), $"user_id",
        $"event_type", $"value")
      .write.parquet(s"$dir/events.parquet")
    dir
  }

  test("anomaly_mad: odd and even group sizes, deviation median, outlier count") {
    val us0 = 1700000000000000L
    val dir = eventsDir(Seq(
      // odd group: values 1,2,3,4,100 → med 3, devs sorted 0,1,1,2,97 →
      // mad 1 → threshold 4.4478 → exactly the 100 flagged
      (1L, us0 + 1, 1L, "a", 1.0), (2L, us0 + 2, 1L, "a", 2.0),
      (3L, us0 + 3, 1L, "a", 3.0), (4L, us0 + 4, 1L, "a", 4.0),
      (5L, us0 + 5, 1L, "a", 100.0),
      // even group: 1,2,3,4 → med 2.5, devs sorted .5,.5,1.5,1.5 →
      // mad (0.5+1.5)/2 = 1.0 → no outliers
      (6L, us0 + 6, 1L, "b", 1.0), (7L, us0 + 7, 1L, "b", 2.0),
      (8L, us0 + 8, 1L, "b", 3.0), (9L, us0 + 9, 1L, "b", 4.0)))
    val got = Curation.anomalyMad(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDecimal(2).doubleValue,
        r.getDecimal(3).doubleValue, r.getLong(4))).toSeq
    assert(got == Seq(("a", 5L, 3.0, 1.0, 1L), ("b", 4L, 2.5, 1.0, 0L)))
  }

  test("anomaly_mad: a null value is skipped, not a failure") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ev_null").toString
    val us0 = 1700000000000000L
    Seq[(Long, Long, Long, String, java.lang.Double)](
      (1L, us0 + 1, 1L, "a", 1.0), (2L, us0 + 2, 1L, "a", null),
      (3L, us0 + 3, 1L, "a", 3.0), (4L, us0 + 4, 1L, "a", 5.0))
      .toDF("event_id", "us", "user_id", "event_type", "value")
      .select($"event_id", ($"us" * 1000).as("ts"), $"user_id",
        $"event_type", $"value")
      .write.parquet(s"$dir/events.parquet")
    val got = Curation.anomalyMad(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDecimal(2).doubleValue,
        r.getDecimal(3).doubleValue, r.getLong(4))).toSeq
    // values 1, 3, 5 → med 3, devs 0, 2, 2 → mad 2
    assert(got == Seq(("a", 3L, 3.0, 2.0, 0L)))
  }

  test("ts_interpolate: straight line through the gap, NULL never invented at edges") {
    val bucketUs = 21600000000L
    val b0 = 1700006400000000L - (1700006400000000L % bucketUs)
    val dir = eventsDir(Seq(
      // user 1: observations in buckets 0 (v=10) and 4 (v=30): buckets
      // 1..3 must read 15, 20, 25 with n_events = 0
      (1L, b0 + 1L, 1L, "a", 10.0),
      (2L, b0 + 4 * bucketUs + 1L, 1L, "a", 30.0),
      // user 2: a single event → a single already-observed row
      (3L, b0 + 1L, 2L, "a", 7.0)))
    val got = Analytics.tsInterpolate(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getDecimal(3).doubleValue))).toSeq
    assert(got == Seq(
      (1L, 1L, Some(10.0)), (1L, 0L, Some(15.0)), (1L, 0L, Some(20.0)),
      (1L, 0L, Some(25.0)), (1L, 1L, Some(30.0)),
      (2L, 1L, Some(7.0))))
  }

  test("merge_scd2_apply: change, no-op, brand-new, and run-collapse paths") {
    // the harness data has no delta-only users, so the INSERT-new-user
    // path of the MERGE only gets exercised here
    val cut = 1705795200000000L
    val Seq(t1, t2, t3, t9) =
      Seq(cut - 3000L, cut - 2000L, cut - 1000L, cut + 1000L)
    val dir = eventsDir(Seq(
      // user 1: a,a (one collapsed run), then b; delta changes to c
      (1L, t1, 1L, "a", 0.0), (2L, t2, 1L, "a", 0.0), (3L, t3, 1L, "b", 0.0),
      (4L, t9, 1L, "c", 0.0),
      // user 2: delta value equals current → no-op, interval stays open
      (5L, t1, 2L, "a", 0.0), (6L, t9, 2L, "a", 0.0),
      // user 3: no history at all → brand-new current row
      (7L, t9, 3L, "d", 0.0)))
    val got = Curation.mergeScd2Apply(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3)), r.getBoolean(4))).toSeq
    assert(got == Seq(
      (1L, "a", t1, Some(t3), false),
      (1L, "b", t3, Some(t9), false),
      (1L, "c", t9, None, true),
      (2L, "a", t1, None, true),
      (3L, "d", t9, None, true)))
  }

  test("graph_pagerank: 3 integer-µ-unit iterations on the tiny graph, by hand") {
    // edges {1-2,1-3,2-3,3-4}; deg 1:2, 2:2, 3:3, 4:1. Each round:
    // r'(v) = 150000 + (85·Σ (r(u) div deg(u))) div 100 from r0 = 1e6.
    // r1 = (858333, 858333, 1850000, 433333)
    // r2 = (1038957, 1038957, 1247915, 674166)
    // r3 = (945131, 945131, 1606153, 503575)
    val got = Analytics.graphPagerank(spark, graphDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == Seq(
      (3L, 1606153L), (1L, 945131L), (2L, 945131L), (4L, 503575L)))
  }

  test("ts_cusum: argmax of the integer centered cumulative sum, by hand") {
    val d = 86400000000L // one day in µs
    val us0 = 1700000000000000L // 2023-11-14 UTC
    // daily µ-sums 1e6, 1e6, 4e6 → N=3, T=6e6; S' = 3·cum − t·6e6 =
    // (−3e6, −6e6, 0) → argmax |S'| at day 2, dev = 6e6/(3·1e6) = 2.0
    val dir = eventsDir(Seq(
      (1L, us0, 1L, "a", 1.0),
      (2L, us0 + d, 1L, "a", 1.0),
      (3L, us0 + 2 * d, 1L, "a", 4.0)))
    val got = Analytics.tsCusum(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      .toSeq
    assert(got == Seq(("a", "2023-11-15", 3L, 2.0)))
  }

  test("profile_skew: shares and skew multiples from a known distribution") {
    val us0 = 1700000000000000L
    // user 1: 6 events, users 2..4: 2 each ⇒ total 12, 4 keys, mean 3
    val rows = (1 to 6).map(i => (i.toLong, us0 + i, 1L, "a", 1.0)) ++
      Seq(2L, 3L, 4L).flatMap(u =>
        Seq((u * 10, us0 + u * 10, u, "a", 1.0),
          (u * 10 + 1, us0 + u * 10 + 1, u, "a", 1.0)))
    val got = graft.ops.Quality.profileSkew(spark, eventsDir(rows)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDecimal(2).doubleValue,
        r.getDecimal(3).doubleValue)).toSeq
    assert(got == Seq(
      (1L, 6L, 0.5, 2.0),
      (2L, 2L, 0.166667, 0.666667),
      (3L, 2L, 0.166667, 0.666667),
      (4L, 2L, 0.166667, 0.666667)))
  }

  test("graph_label_propagation: 4 synchronous rounds by hand, then a naive replay") {
    // fixture graph: triangle {1,2,3} + pendant 3-4. By hand (mode of
    // neighbor labels, min on ties): r1 = (1→2, 2→1, 3→1, 4→3),
    // r2 = (1→1, 2→1, 3→1, 4→1), r3 = r4 = all 1 — one community.
    val got = Analytics.graphLabelPropagation(spark, graphDir)
      .as[(Long, Long, Long, Long)].collect().toList
    assert(got == List((1L, 4L, 1L, 4L)))

    // naive replay on the real sf data: synchronous rounds over an
    // adjacency map, no DataFrames
    val edges = graft.Tables.lineitem(spark, sfDir)
      .filter($"l_orderkey" % 10 === 0)
      .select($"l_orderkey", $"l_partkey").as[(Long, Long)].collect()
      .groupBy(_._1).values.flatMap { rows =>
        val ps = rows.map(_._2).distinct.sorted
        for (i <- ps.indices; j <- i + 1 until ps.length) yield (ps(i), ps(j))
      }.toSet
    val adj = (edges.toSeq ++ edges.toSeq.map(e => (e._2, e._1)))
      .groupBy(_._1).map { case (n, es) => n -> es.map(_._2) }
    var lab: Map[Long, Long] = adj.keys.map(n => n -> n).toMap
    for (_ <- 1 to 4) lab = adj.map { case (n, nbrs) =>
      val freq = nbrs.groupBy(lab).map { case (l, xs) => (l, xs.size) }
      n -> freq.toSeq.minBy { case (l, c) => (-c, l) }._1
    }
    val want = lab.groupBy(_._2).map { case (l, m) =>
      (l, m.size.toLong, m.keys.min, m.keys.max)
    }.toList.sortBy(_._1)
    val gotSf = Analytics.graphLabelPropagation(spark, sfDir)
      .as[(Long, Long, Long, Long)].collect().toList
    assert(gotSf == want)
  }

  test("ts_mann_kendall: S, tau and z re-derive from a naive pair scan") {
    val ev = graft.Tables.events(spark, sfDir)
      .select($"user_id", expr("unix_micros(ts)").as("us"),
        round($"value".cast("double") * 1e6).cast("long").as("u6"))
      .as[(Long, Long, Long)].collect().groupBy(_._1)
    val got = Analytics.tsMannKendall(spark, sfDir)
      .as[(Long, Long, Long, Long, Long, String)].collect().toList
    assert(got.nonEmpty)
    got.foreach { case (uid, n, s, tau6, z6, trend) =>
      val rows = ev(uid)
      assert(n == rows.length.toLong)
      val ss = (for {
        a <- rows; b <- rows if a._2 < b._2
      } yield java.lang.Long.signum(b._3 - a._3).toLong).sum
      assert(s == ss, s"user $uid S $s != naive $ss")
      assert(tau6 >= -1000000L && tau6 <= 1000000L)
      val np = n * (n - 1) / 2.0
      assert(tau6 == math.round(s / np * 1e6))
      val z = if (s == 0) 0.0
        else (s - math.signum(s.toDouble)) /
          math.sqrt(n * (n - 1) * (2 * n + 5) / 18.0)
      assert(z6 == math.round(z * 1e6), s"user $uid z mismatch")
      assert(trend == (if (z > 1.96) "up" else if (z < -1.96) "down" else "none"))
    }
  }

  test("graph_kcore: K4-plus-pendant fixture peels exactly") {
    // order 40 carries parts {1,2,3,4} → K4 (every degree 3, a true
    // 3-core); order 20 carries {4,5} → node 5 is a pendant peeled in
    // round 1, dropping node 4's degree back to 3. Expected core:
    // {1,2,3,4}, each with core_deg 3.
    val dir = java.nio.file.Files.createTempDirectory("graft_kcore").toString
    Seq((40L, 1L), (40L, 2L), (40L, 3L), (40L, 4L), (20L, 4L), (20L, 5L))
      .toDF("l_orderkey", "l_partkey")
      .write.parquet(s"$dir/lineitem.parquet")
    val got = Analytics.graphKcore(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == Seq((1L, 3L), (2L, 3L), (3L, 3L), (4L, 3L)), s"got $got")
  }

  test("graph_kcore: fixed round budget CONVERGES on the declared corpus") {
    // every emitted core degree ≥ k is exactly the statement that a
    // fifth peel round would drop nothing — the fixed 4-round budget is
    // a converged fixpoint on this fixture, not a truncation
    val rows = Analytics.graphKcore(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getLong(1) >= 3,
      s"node ${r.getLong(0)} core_deg ${r.getLong(1)} < 3: round budget truncated"))
  }
}
