package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Skew-mitigation utilities.
  *
  * AQE's skew-join handling (on by default) covers sort-merge joins;
  * explicit salting remains the tool when a hot key floods a single
  * reducer in aggregations or when the build side must be replicated
  * deterministically. Salting rewrites
  * `large ⋈ₖ small` as `(large + salt) ⋈ₖ,ₛ (small × salts)`:
  * the hot key's rows spread over `factor` reducers at the cost of
  * replicating the (small) other side `factor` times.
  */
object Skew {

  /** Equi-join with the small side replicated `factor` ways. Result is
    * identical to `large.join(small, key)` for any salt assignment —
    * the salt only routes rows, so the nondeterministic row-id source
    * is safe. */
  def saltedJoin(large: DataFrame, small: DataFrame, key: String,
      factor: Int): DataFrame = {
    val saltedLarge = large.withColumn("__salt",
      pmod(monotonically_increasing_id(), lit(factor)).cast("int"))
    val replicatedSmall = small.withColumn("__salt",
      explode(array((0 until factor).map(lit): _*)))
    saltedLarge.join(replicatedSmall, Seq(key, "__salt"))
      .drop("__salt")
  }
}
