package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType
import graft.ops.Once

/** Parquet table loaders for the harness star schema (TESTDATA.md).
  *
  * Every declared query is a pure function of (spark, sfDir); these
  * helpers are the only data entry point so that predicate pushdown /
  * column pruning always start from a plain parquet scan.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  private def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    spark.read.schema(schemaOf(spark, path)).parquet(path)
  }

  /** The settings that change the schema Spark infers from parquet footers. */
  private val SchemaConf = Seq("spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp", "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.legacy.parquet.nanosAsLong")

  private val schemas = new Once[(String, Seq[(String, Long, Long)], Seq[String]), StructType]

  /** The schema Spark infers for the parquet table at `path`, inferred
    * once: inference is a Spark job that reads a footer, and every load
    * of a table would otherwise run it again. Cached by the table's
    * absolute path, the path, length and modification time of each of
    * its files, and the session's [[SchemaConf]], so a rewritten table is
    * read again; two concurrent first loads of a table infer it once. */
  def schemaOf(spark: SparkSession, path: String): StructType = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) spark.read.parquet(path).schema // fails as the reader does
    else {
      val files = Seq.newBuilder[(String, Long, Long)]
      val it = fs.listFiles(p, true)
      while (it.hasNext) {
        val f = it.next()
        files += ((f.getPath.toString, f.getLen, f.getModificationTime))
      }
      val key = (fs.makeQualified(p).toString, files.result().sorted,
        SchemaConf.map(spark.conf.getOption(_).getOrElse("")))
      schemas.get(key)(spark.read.parquet(path).schema)
    }
  }

  def region(spark: SparkSession, sfDir: String): DataFrame     = load(spark, sfDir, "region")
  def nation(spark: SparkSession, sfDir: String): DataFrame     = load(spark, sfDir, "nation")
  def customer(spark: SparkSession, sfDir: String): DataFrame   = load(spark, sfDir, "customer")
  def supplier(spark: SparkSession, sfDir: String): DataFrame   = load(spark, sfDir, "supplier")
  def part(spark: SparkSession, sfDir: String): DataFrame       = load(spark, sfDir, "part")
  def orders(spark: SparkSession, sfDir: String): DataFrame     = load(spark, sfDir, "orders")
  def lineitem(spark: SparkSession, sfDir: String): DataFrame   = load(spark, sfDir, "lineitem")
  /** events.ts normalizer: the harness has shipped this column as both
    * parquet TIMESTAMP(NANOS) (loads as LongType under
    * spark.sql.legacy.parquet.nanosAsLong=true, which sessions still set
    * as a harmless guard) and TIMESTAMP(MICROS, isAdjustedToUTC=false)
    * (loads as TIMESTAMP_NTZ). Branch on the LOADED dtype so either
    * layout yields the same µs-precision TimestampType column
    * (SURVEY §7.4#3); TablesSpec pins both paths against fixtures. */
  def events(spark: SparkSession, sfDir: String): DataFrame = {
    val raw = load(spark, sfDir, "events")
    raw.withColumn("ts", normalizedTs(raw.schema("ts").dataType))
  }

  /** The ts-normalizing expression for a given LOADED events.ts dtype —
    * ONE definition shared by the batch loader, the streaming source
    * (Streaming.eventsStream) and the spec's independent stream builder,
    * so the next layout change is a one-line fix. Unknown layouts THROW
    * rather than guess: a silent mis-scale (e.g. an INT64-µs file pushed
    * through the ns path) would corrupt all 58 events-keyed oracles
    * while every schema assertion still passed. */
  def normalizedTs(dt: org.apache.spark.sql.types.DataType): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    dt match {
      // nanos-as-long layout. `ts div 1000` is exact integer division;
      // `/` on longs is IEEE double division which silently truncates
      // 1µs low for ns values > 2^53 (every 2024-era timestamp) —
      // DuckDB's epoch_us is exact, so the double form can diverge from
      // the oracle on window membership.
      case LongType         => timestamp_micros(expr("ts div 1000"))
      case TimestampType    => col("ts")
      // TIMESTAMP_NTZ → TIMESTAMP is an identity re-tag under the
      // pinned UTC session timezone; keeps downstream unix_micros /
      // window calls unchanged.
      case TimestampNTZType => col("ts").cast(TimestampType)
      case other => throw new IllegalStateException(
        s"events.ts has unsupported parquet layout $other — " +
          "add an explicit branch to Tables.normalizedTs")
    }
  }
  def documents(spark: SparkSession, sfDir: String): DataFrame  = load(spark, sfDir, "documents")
  def embeddings(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "embeddings")
}
