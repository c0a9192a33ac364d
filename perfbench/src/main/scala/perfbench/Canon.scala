package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Row count plus an order-independent content hash of a result, in one
  * Spark action that reads every row and every column.
  *
  * Each row is hashed with xxhash64 over its columns in name order, each
  * value after its column name and in canonical form: floating-point
  * values rounded to single precision, so the last bits of a sum whose
  * merge order varies do not change the hash, with `-0.0` as `0.0`, and
  * map entries sorted. The row hashes are summed as a 38-digit decimal:
  * the sum does not depend on row order or partitioning, and repeated
  * rows still count.
  */
object Canon {
  private def floating(t: DataType): Boolean = t match {
    case DoubleType | FloatType | _: MapType => true
    case ArrayType(et, _) => floating(et)
    case s: StructType => s.fields.exists(f => floating(f.dataType))
    case _ => false
  }

  /** `c` (of type `t`) in canonical form. */
  def canonical(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType =>
      when(c === lit(0.0), lit(0.0f)).otherwise(c.cast(FloatType))
    case ArrayType(et, _) if floating(et) => transform(c, x => canonical(x, et))
    case MapType(kt, vt, _) =>
      array_sort(transform(map_entries(c), e => struct(
        canonical(e.getField("key"), kt).as("k"),
        canonical(e.getField("value"), vt).as("v"))))
    case s: StructType if floating(s) =>
      when(c.isNotNull, struct(s.fields.toSeq.map(f =>
        canonical(c.getField(f.name), f.dataType).as(f.name)): _*))
    case _ => c
  }

  /** The hash of each row of `df`. */
  def rowHash(df: DataFrame): Column =
    xxhash64(df.schema.fields.sortBy(_.name).toSeq.flatMap(f =>
      Seq(lit(f.name), canonical(df.col(s"`${f.name}`"), f.dataType))): _*)

  /** (rows, hash) of `df`: one job over the whole result. */
  def rowsAndHash(df: DataFrame): (Long, String) = {
    val r = df.select(rowHash(df).as("h"))
      .agg(count(lit(1)), sum(col("h").cast(DecimalType(38, 0))))
      .head()
    (r.getLong(0), Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0"))
  }
}
