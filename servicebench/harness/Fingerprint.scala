package servicebench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-independent fingerprint of a query result, computed in one
  * aggregation: the row count plus the exact sum of a 64-bit hash of
  * every row over every column. Doubles and floats are rounded to 9
  * significant digits first, so a sum whose last bits depend on the
  * partition order still fingerprints the same. Every column is read, so
  * Spark cannot prune any of them away. */
object Fingerprint {
  private def fmt(c: Column): Column =
    when(isnan(c.cast(DoubleType)), lit("NaN"))
      .otherwise(format_string("%.8e", c.cast(DoubleType) + lit(0.0)))

  private def norm(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType => fmt(c)
    case ArrayType(et, _) => transform(c, x => norm(x, et))
    case StructType(fs) =>
      when(c.isNull, lit(null)).otherwise(
        struct(fs.toIndexedSeq.map(f => norm(c.getField(f.name), f.dataType).as(f.name)): _*))
    case MapType(kt, vt, _) =>
      array_sort(transform(map_entries(c), e =>
        struct(norm(e.getField("key"), kt).as("k"), norm(e.getField("value"), vt).as("v"))))
    case _: DecimalType => fmt(c)
    case BooleanType | ByteType | ShortType | IntegerType | LongType | StringType |
         DateType | TimestampType | TimestampNTZType | BinaryType | NullType => c
    case _ => c.cast(StringType)
  }

  /** (row count, hash sum) — one Spark action. */
  def of(df: DataFrame): (Long, BigDecimal) = {
    // positional names: a result may carry two columns of the same name
    val named = df.toDF(df.schema.fields.indices.map(i => s"c$i"): _*)
    val cols = df.schema.fields.toIndexedSeq.zipWithIndex
      .map { case (f, i) => norm(col(s"c$i"), f.dataType) }
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    val r = named.agg(count(lit(1)), sum(h.cast(DecimalType(38, 0)))).head()
    (r.getLong(0), if (r.isNullAt(1)) BigDecimal(0) else BigDecimal(r.getDecimal(1)))
  }

  def show(fp: (Long, BigDecimal)): String = s"${fp._1}:${fp._2}"

  /** None when `got` equals the reference, else a message naming `op`. */
  def check(op: String, got: (Long, BigDecimal), ref: Option[(Long, BigDecimal)]): Option[String] =
    if (ref.contains(got)) None
    else Some(s"$op: fingerprint ${show(got)} != reference ${ref.map(show).getOrElse("none")}")
}
