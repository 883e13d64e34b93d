package graft.layerbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Order-insensitive result checksum: the row count plus two exact
  * (decimal) sums of independent 64-bit row hashes. Each row is
  * rendered as JSON over positionally renamed columns, so column
  * names cannot collide while column order, types' textual forms and
  * every value still count. Sums commute, so partitioning and row
  * order do not change the checksum; any changed, missing or extra
  * row does (up to a 2^-128 collision).
  *
  * It runs its own Spark job over the result, so callers compute it
  * outside the timed span. */
object Checksum {

  def of(df: DataFrame): String = {
    val renamed = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val row = to_json(struct(renamed.columns.map(col).toIndexedSeq: _*))
    val h1 = xxhash64(row)
    val h2 = xxhash64(concat(row, lit("#")))
    val r = renamed.agg(
      count(lit(1)),
      coalesce(sum(h1.cast("decimal(38,0)")), lit(0).cast("decimal(38,0)")),
      coalesce(sum(h2.cast("decimal(38,0)")), lit(0).cast("decimal(38,0)")))
      .head()
    s"${r.getLong(0)}:${r.getDecimal(1).toPlainString}:" +
      r.getDecimal(2).toPlainString
  }
}
