package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-independent digest of a DataFrame: its row count and the exact sum
  * of a 64-bit hash of every row. Row order and partitioning do not change
  * it; any changed, missing or duplicated row does. Floating-point values
  * are hashed at 9 significant digits, so a result whose last bits depend
  * on summation order still digests the same. */
final case class Digest(rows: Long, hashSum: BigDecimal) {
  override def toString: String = s"$rows:$hashSum"
}

object Digest {

  /** A column rewritten so that equal values hash equally: floats rounded
    * to 9 significant digits, maps turned into key-sorted entry arrays
    * (Spark refuses to hash maps), and nested values rewritten likewise. */
  private def canonical(c: Column, t: DataType): Column = t match {
    case FloatType | DoubleType =>
      when(c.isNull, lit(null).cast(StringType))
        .when(c.cast(DoubleType) === 0.0, lit("0"))
        .otherwise(format_string("%.8e", c.cast(DoubleType)))
    case ArrayType(et, _) => transform(c, x => canonical(x, et))
    case MapType(kt, vt, _) =>
      transform(array_sort(map_entries(c)), e =>
        struct(canonical(e.getField("key"), kt).as("k"),
          canonical(e.getField("value"), vt).as("v")))
    case StructType(fs) =>
      if (fs.isEmpty) c
      else struct(fs.toIndexedSeq.map(f =>
        canonical(c.getField(f.name), f.dataType).as(f.name)): _*)
    case _ => c
  }

  def rowHash(df: DataFrame): Column = {
    val cols = df.schema.fields.toSeq.map(f => canonical(col(f.name), f.dataType))
    if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
  }

  /** Runs one aggregation job over `df`. */
  def of(df: DataFrame): Digest = {
    val r = df.select(rowHash(df).cast(DecimalType(20, 0)).as("h"))
      .agg(count(lit(1)), sum(col("h")))
      .collect().head
    Digest(r.getLong(0),
      if (r.isNullAt(1)) BigDecimal(0) else BigDecimal(r.getDecimal(1)))
  }
}
