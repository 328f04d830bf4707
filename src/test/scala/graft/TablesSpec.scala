package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Pins Tables.events' ts-dtype branch against every parquet layout the
  * harness has shipped — nanos-as-long (rounds 1-5), µs TIMESTAMP_NTZ
  * (round 6 regen), and plain TIMESTAMP — so the next testdata regen
  * fails ONE named test instead of 58 events-keyed queries (the round-6
  * regression mode). */
class TablesSpec extends SparkSuite {

  private def writeFixture(df: DataFrame): String = {
    val dir = java.nio.file.Files.createTempDirectory("tables-spec").toString
    df.write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  test("events: real testdata loads ts as TimestampType") {
    val df = Tables.events(spark, sfDir)
    assert(df.schema("ts").dataType == TimestampType)
    assert(df.limit(1).count() == 1)
  }

  test("events: nanos-as-long layout converts via exact integer div 1000") {
    import spark.implicits._
    // under nanosAsLong=true a TIMESTAMP(NANOS) file loads as LongType —
    // a plain long column exercises the identical loader branch
    val ns = 1722470400123456789L // 2024-08-01T00:00:00.123456789Z
    val dir = writeFixture(Seq((1L, ns)).toDF("event_id", "ts"))
    val df = Tables.events(spark, dir)
    assert(df.schema("ts").dataType == TimestampType)
    assert(df.select(unix_micros($"ts")).head.getLong(0) == ns / 1000L)
  }

  test("events: µs TIMESTAMP_NTZ layout re-tags to TimestampType losslessly") {
    import spark.implicits._
    val us = 1722470400123456L
    val dir = writeFixture(
      Seq(1L).toDF("event_id")
        .select($"event_id",
          timestamp_micros(lit(us)).cast(TimestampNTZType).as("ts")))
    val df = Tables.events(spark, dir)
    assert(df.schema("ts").dataType == TimestampType)
    assert(df.select(unix_micros($"ts")).head.getLong(0) == us)
  }

  test("events: plain TIMESTAMP layout passes through unchanged") {
    import spark.implicits._
    val us = 1722470400123456L
    val dir = writeFixture(
      Seq(1L).toDF("event_id")
        .select($"event_id", timestamp_micros(lit(us)).as("ts")))
    val df = Tables.events(spark, dir)
    assert(df.schema("ts").dataType == TimestampType)
    assert(df.select(unix_micros($"ts")).head.getLong(0) == us)
  }

  test("events: an unrecognized ts layout fails fast instead of mis-scaling") {
    import spark.implicits._
    // a silent wrong-branch guess (e.g. µs longs through the ns path)
    // would corrupt every events oracle while schemas still looked fine
    val dir = writeFixture(Seq((1L, "2024-08-01")).toDF("event_id", "ts"))
    val e = intercept[IllegalStateException](Tables.events(spark, dir))
    assert(e.getMessage.contains("unsupported parquet layout"))
  }

  test("a table's schema is inferred once, and again after the table is rewritten") {
    import spark.implicits._
    val dir = writeFixture(Seq((1L, "a")).toDF("event_id", "props"))
    val path = s"$dir/events.parquet"
    val (first, firstJobs) = countJobs("tables-schema")(Tables.schemaOf(spark, path))
    val (again, againJobs) = countJobs("tables-schema")(Tables.schemaOf(spark, path))
    assert(first == again && first.fieldNames.toSeq == Seq("event_id", "props"))
    assert(firstJobs >= 1 && againJobs == 0, s"jobs: $firstJobs, then $againJobs")
    // a rewrite at the same path gives new files, so the schema is read again
    Seq((1L, 2.5)).toDF("event_id", "value").write.mode("overwrite").parquet(path)
    assert(Tables.schemaOf(spark, path).fieldNames.toSeq == Seq("event_id", "value"))
    assert(spark.read.schema(Tables.schemaOf(spark, path)).parquet(path)
      .head().getDouble(1) == 2.5)
  }

  test("schema contract: every harness table loads with the expected columns and types") {
    // The round-6 regression mode generalized: a harness testdata regen
    // that shifts ANY table's physical layout should fail HERE, by name,
    // not as dozens of downstream analysis errors. Timestamp-ish columns
    // accept either session-TZ or NTZ flavor (the regen has shipped
    // both); everything else is pinned exactly as the operators consume
    // it via Tables.*.
    val anyTs: DataType => Boolean =
      t => t == TimestampType || t == TimestampNTZType
    def expect(df: DataFrame, cols: (String, Any)*): Unit = {
      val s = df.schema
      assert(s.fieldNames.toSeq == cols.map(_._1),
        s"column drift: got ${s.fieldNames.toSeq}, want ${cols.map(_._1)}")
      cols.foreach {
        case (n, t: DataType) => assert(s(n).dataType == t,
          s"$n: got ${s(n).dataType}, want $t")
        case (n, p: (DataType => Boolean) @unchecked) => assert(p(s(n).dataType),
          s"$n: got ${s(n).dataType}, want a timestamp flavor")
      }
    }
    expect(Tables.region(spark, sfDir),
      "r_regionkey" -> IntegerType, "r_name" -> StringType)
    expect(Tables.nation(spark, sfDir),
      "n_nationkey" -> IntegerType, "n_name" -> StringType,
      "n_regionkey" -> IntegerType)
    expect(Tables.customer(spark, sfDir),
      "c_custkey" -> LongType, "c_name" -> StringType,
      "c_nationkey" -> IntegerType, "c_acctbal" -> DoubleType,
      "c_mktsegment" -> StringType)
    expect(Tables.supplier(spark, sfDir),
      "s_suppkey" -> LongType, "s_name" -> StringType,
      "s_nationkey" -> IntegerType, "s_acctbal" -> DoubleType)
    expect(Tables.part(spark, sfDir),
      "p_partkey" -> LongType, "p_name" -> StringType,
      "p_brand" -> StringType, "p_type" -> StringType,
      "p_size" -> IntegerType, "p_retailprice" -> DoubleType)
    expect(Tables.orders(spark, sfDir),
      "o_orderkey" -> LongType, "o_custkey" -> LongType,
      "o_orderstatus" -> StringType, "o_totalprice" -> DoubleType,
      "o_orderdate" -> anyTs, "o_orderpriority" -> StringType)
    expect(Tables.lineitem(spark, sfDir),
      "l_orderkey" -> LongType, "l_partkey" -> LongType,
      "l_suppkey" -> LongType, "l_linenumber" -> IntegerType,
      "l_quantity" -> DoubleType, "l_extendedprice" -> DoubleType,
      "l_discount" -> DoubleType, "l_tax" -> DoubleType,
      "l_returnflag" -> StringType, "l_linestatus" -> StringType,
      "l_shipdate" -> anyTs)
    expect(Tables.events(spark, sfDir),
      "event_id" -> LongType, "ts" -> TimestampType,
      "user_id" -> LongType, "event_type" -> StringType,
      "value" -> DoubleType, "props" -> StringType)
    expect(Tables.documents(spark, sfDir),
      "doc_id" -> LongType, "text" -> StringType, "lang" -> StringType,
      "source" -> StringType, "n_chars" -> LongType)
    expect(Tables.embeddings(spark, sfDir),
      "vec_id" -> LongType, "embedding" -> ArrayType(FloatType),
      "label" -> IntegerType)
  }

  // Value-DOMAIN contract for the two tables the dedup/similarity family
  // builds on. The round-6 incident proved harness regens can change
  // physical layouts without notice; the schema contract above caught the
  // ts dtype flip, these catch the next silent domain change (a null text
  // or a ragged embedding would poison every gram/signature/cosine
  // pipeline with nulls rather than fail loudly). Each assertion names
  // the violated invariant so the diagnosis is one line.
  test("domain contract: documents text/doc_id non-null, doc_id unique, n_chars consistent") {
    import org.apache.spark.sql.functions._
    val d = Tables.documents(spark, sfDir)
    val total = d.count()
    assert(total > 0, "documents is empty")
    assert(d.filter(col("doc_id").isNull).count() == 0, "null doc_id in documents")
    assert(d.filter(col("text").isNull).count() == 0, "null text in documents")
    assert(d.select(col("doc_id")).distinct().count() == total,
      "doc_id is not unique in documents")
    val badLen = d.filter(col("n_chars") =!= length(col("text"))).count()
    assert(badLen == 0, s"$badLen documents rows where n_chars != length(text)")
  }

  test("domain contract: embeddings vec_id unique, every vector length 64 and non-null") {
    import org.apache.spark.sql.functions._
    val e = Tables.embeddings(spark, sfDir)
    val total = e.count()
    assert(total > 0, "embeddings is empty")
    assert(e.filter(col("vec_id").isNull).count() == 0, "null vec_id in embeddings")
    assert(e.select(col("vec_id")).distinct().count() == total,
      "vec_id is not unique in embeddings")
    val badVec = e.filter(col("embedding").isNull ||
      size(col("embedding")) =!= 64 ||
      exists(col("embedding"), v => v.isNull || isnan(v))).count()
    assert(badVec == 0,
      s"$badVec embeddings rows violate [non-null, length-64, finite-element]")
  }
}
