package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-independent content fingerprint of a query result: row count,
  * plus the sum (low 32 bits of each row hash) and the xor of an xxhash64
  * over the row's columns in name order. Floating-point values are rounded
  * to 6 decimals (and -0.0 folded into 0.0) first, so the fingerprint does
  * not depend on summation order in the last bits.
  */
object Fingerprint {
  private def floating(dt: DataType): Boolean = dt match {
    case DoubleType | FloatType => true
    case ArrayType(et, _) => floating(et)
    case StructType(fs) => fs.exists(f => floating(f.dataType))
    case MapType(k, v, _) => floating(k) || floating(v)
    case _ => false
  }

  def canon(c: Column, dt: DataType): Column = dt match {
    case DoubleType | FloatType => round(c.cast(DoubleType), 6) + lit(0.0)
    case ArrayType(et, _) if floating(et) => transform(c, x => canon(x, et))
    case st: StructType if floating(st) =>
      when(c.isNull, lit(null)).otherwise(
        struct(st.fields.toIndexedSeq.map(f => canon(c.getField(f.name), f.dataType).as(f.name)): _*))
    case MapType(k, v, _) =>
      val entry = StructType(Seq(StructField("key", k), StructField("value", v)))
      array_sort(canon(map_entries(c), ArrayType(entry)))
    case _ => c
  }

  /** (rows, fingerprint hex) of `df`, computed in one aggregate. */
  def of(df: DataFrame): (Long, String) = {
    val fields = df.schema.fields.toSeq.zipWithIndex.sortBy { case (f, i) => (f.name, i) }
    val positional = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = fields.map { case (f, i) => canon(col(s"c$i"), f.dataType) }
    val hashed = positional.select(xxhash64(cols: _*).as("h"))
    val r = hashed.agg(
      count(lit(1)),
      coalesce(sum(col("h").bitwiseAND(lit(0xFFFFFFFFL))), lit(0L)),
      coalesce(bit_xor(col("h")), lit(0L))).head()
    (r.getLong(0), f"${r.getLong(1)}%x-${r.getLong(2)}%016x")
  }
}
