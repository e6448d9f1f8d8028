package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-insensitive result digest: row count plus the sum and the xor of
  * a per-row hash. Floating-point values are hashed through their first
  * ten significant digits, so a sum whose terms Spark added in another
  * order still digests the same.
  */
object Digest {
  final case class D(rows: Long, sum: Long, xor: Long) {
    override def toString: String = s"$rows:$sum:$xor"
  }

  private def norm(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType =>
      format_string("%.9e", c.cast(DoubleType))
    case ArrayType(et, _) => transform(c, x => norm(x, et))
    case st: StructType =>
      if (st.isEmpty) c
      else struct(st.fields.toSeq.map(f => norm(c.getField(f.name), f.dataType).as(f.name)): _*)
    case MapType(kt, vt, _) =>
      transform(map_entries(c), e => struct(norm(e.getField("key"), kt),
        norm(e.getField("value"), vt)))
    case _ => c
  }

  def of(df: DataFrame): D = {
    val cols = df.schema.fields.toSeq.map(f => norm(col(s"`${f.name}`"), f.dataType))
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    val r = df.select(h.as("h"))
      .agg(count(lit(1)), coalesce(sum(pmod(col("h"), lit(1000000007L))), lit(0L)),
        coalesce(bit_xor(col("h")), lit(0L)))
      .head()
    D(r.getLong(0), r.getLong(1), r.getLong(2))
  }
}
