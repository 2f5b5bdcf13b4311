package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-independent content fingerprint of a result: its row count and the
  * sum of one 64-bit hash per row. Floating-point values are hashed as their
  * 7-significant-digit decimal form, so a change in summation order (which
  * moves the last bits of a double) does not read as a wrong result. */
object Fingerprint {
  final case class Value(rows: Long, hash: String)

  private def normalize(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType =>
      val d = c.cast(DoubleType)
      when(d === 0.0, lit("0")).otherwise(format_string("%.6e", d))
    case ArrayType(et, _) => transform(c, x => normalize(x, et))
    case StructType(fs) =>
      if (fs.isEmpty) c
      else struct(fs.toIndexedSeq.map(f => normalize(c.getField(f.name), f.dataType).as(f.name)): _*)
    case MapType(kt, vt, _) =>
      transform(map_entries(c), e => struct(normalize(e.getField("key"), kt),
        normalize(e.getField("value"), vt)))
    case _ => c
  }

  def apply(df: DataFrame): Value = {
    val cols = df.schema.fields.toIndexedSeq.map(f => normalize(col(s"`${f.name}`"), f.dataType))
    val rowHash = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    val r = df.select(rowHash.cast(DecimalType(38, 0)).as("h"))
      .agg(count(lit(1)), coalesce(sum(col("h")), lit(BigDecimal(0)))).head()
    Value(r.getLong(0), r.getDecimal(1).toBigInteger.toString)
  }
}
