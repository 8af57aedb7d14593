package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The final action of every registry query in the benchmark: one
  * aggregate over all columns, `count(*)` and an order-independent sum
  * of per-row 64-bit hashes. Reading every column keeps the optimizer
  * from pruning work that a real consumer of the output would pay for,
  * and the pair doubles as the correctness check against the stored
  * digest.
  *
  * Floating-point values are rounded to 6 decimals (and -0.0 folded into
  * 0.0) before hashing, so that harmless last-bit differences between
  * runs do not change the digest. Maps are hashed as their sorted entry
  * arrays.
  */
object Digest {
  def of(df: DataFrame): String = {
    val cols = df.schema.fields.toSeq.sortBy(_.name).map(f => normalize(col(s"`${f.name}`"), f.dataType))
    val row = df.agg(
      count(lit(1)),
      coalesce(sum(xxhash64(cols: _*).cast("decimal(38,0)")), lit(0).cast("decimal(38,0)")))
      .head()
    s"${row.getLong(0)}:${row.getDecimal(1).toPlainString}"
  }

  private def normalize(c: Column, t: DataType): Column = t match {
    case FloatType | DoubleType => round(c.cast(DoubleType), 6) + lit(0.0)
    case ArrayType(et, _) => transform(c, x => normalize(x, et))
    case st: StructType =>
      if (st.isEmpty) c
      else struct(st.fields.toSeq.map(f => normalize(c.getField(f.name), f.dataType).as(f.name)): _*)
    case MapType(kt, vt, _) =>
      array_sort(transform(map_entries(c), e =>
        struct(normalize(e.getField("key"), kt).as("key"), normalize(e.getField("value"), vt).as("value"))))
    case _ => c
  }
}
