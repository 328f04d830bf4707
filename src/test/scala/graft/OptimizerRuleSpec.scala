package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.expressions.{GreaterThanOrEqual, Levenshtein}

/** BandedLevenshteinRule: `levenshtein(a,b) <= k` filters must optimize to
  * the banded threshold DP without changing results. Frames are parquet-
  * backed — a LocalRelation would constant-fold the whole filter away
  * before the plan can be inspected. */
class OptimizerRuleSpec extends SparkSuite {
  import spark.implicits._

  private def docs = Tables.documents(spark, sfDir)
    .select(substring($"text", 1, 30).as("a"),
      substring($"text", 3, 30).as("b"),
      when($"doc_id" % 7 === 0, substring($"text", 2, 30)).as("maybe_null"))

  private def hasBanded(df: org.apache.spark.sql.DataFrame): Boolean =
    df.queryExecution.optimizedPlan.collect { case p => p.expressions.flatMap(_.collect {
      case GreaterThanOrEqual(Levenshtein(_, _, Some(_)), _) => true
    })}.flatten.nonEmpty

  test("<=, <, and flipped comparisons rewrite to the banded form") {
    val unopt = docs.select(levenshtein($"a", $"b").as("d"))
      .filter($"d" <= 4).count()
    for (cond <- Seq(
        levenshtein($"a", $"b") <= 4,
        levenshtein($"a", $"b") < 5,
        lit(4) >= levenshtein($"a", $"b"),
        lit(5) > levenshtein($"a", $"b"))) {
      val q = docs.filter(cond)
      assert(hasBanded(q), s"no banded rewrite in: ${q.queryExecution.optimizedPlan}")
      assert(q.count() == unopt, "banded filter must keep the same rows")
    }
  }

  test("unbounded comparisons and projections stay on the full DP") {
    // projecting the distance itself must NOT be rewritten
    val proj = docs.select(levenshtein($"a", $"b").as("d"))
    assert(!hasBanded(proj))
    // >= keeps the full DP (a rewrite would lose distances above k)
    val ge = docs.filter(levenshtein($"a", $"b") >= 2)
    assert(!hasBanded(ge))
  }

  test("rewrite preserves null propagation") {
    val q = docs.filter(levenshtein($"a", $"maybe_null") <= 28)
    assert(hasBanded(q))
    val viaProjection = docs
      .select(levenshtein($"a", $"maybe_null").as("d")).filter($"d" <= 28)
    assert(q.count() == viaProjection.count(),
      "null rows must filter out identically in both forms")
  }

  // ---------------------------------------------------- FirstRowPerKeyRule

  /** The shared session carries the rule; a [[GraftSession.child]] has
    * none of graft's extensions, so it plans the plain window form. */
  private lazy val plainSession = GraftSession.child(spark)

  private def heapIn(df: org.apache.spark.sql.DataFrame): Boolean =
    df.queryExecution.optimizedPlan.collect {
      case n: org.apache.spark.sql.graft.TopKPerKeyNode => n
    }.nonEmpty

  test("row_number=1 dedup with rank dropped rewrites to the heap operator") {
    import org.apache.spark.sql.expressions.Window
    val ev = spark.read.parquet(s"$sfDir/orders.parquet")
      .select($"o_custkey", $"o_orderkey", $"o_totalprice")
    val w = Window.partitionBy($"o_custkey").orderBy($"o_orderkey")
    def pattern(df: org.apache.spark.sql.DataFrame) = df
      .withColumn("rn", row_number().over(w))
      .filter($"rn" === 1).drop("rn")
    val q = pattern(ev)
    assert(heapIn(q), s"no heap rewrite in:\n${q.queryExecution.optimizedPlan}")
    // same rows as the un-rewritten window form on a plain session
    val plain = Tables.orders(plainSession, sfDir)
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("o_custkey")).orderBy(col("o_orderkey"))))
      .filter(col("rn") === 1).drop("rn")
    assert(!heapIn(plain), "the plain session must keep the window form")
    val expected = plain.orderBy(col("o_custkey"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val got = q.orderBy($"o_custkey")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == expected)
    // rn <= 3 with rank dropped also rewrites, emitting 3 rows per key max
    val q3 = ev.withColumn("rn", row_number().over(w))
      .filter($"rn" <= 3).drop("rn")
    assert(heapIn(q3))
    val maxPerKey = q3.groupBy($"o_custkey").count()
      .agg(max($"count")).head().getLong(0)
    assert(maxPerKey <= 3)
  }

  test("rank survivors and rank() variants stay on the window plan") {
    import org.apache.spark.sql.expressions.Window
    val ev = spark.read.parquet(s"$sfDir/orders.parquet")
      .select($"o_custkey", $"o_orderkey")
    val w = Window.partitionBy($"o_custkey").orderBy($"o_orderkey")
    // rank column kept in the output → heap cannot produce it
    val kept = ev.withColumn("rn", row_number().over(w)).filter($"rn" === 1)
    assert(!heapIn(kept), "must not rewrite when the rank survives")
    // rank() admits ties beyond k → never rewritten
    val rk = ev.withColumn("rk", rank().over(w)).filter($"rk" === 1).drop("rk")
    assert(!heapIn(rk), "must not rewrite rank()")
  }
}
