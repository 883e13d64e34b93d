package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Scalar helpers mirroring reference string/date semantics. */
object Scalars {

  /** Python `str.capitalize` exactly (reference P4,
    * `/root/reference/dags/my_data_pipeline.py:69`): first character
    * uppercased, ALL the rest lowercased. Differs from `initcap`,
    * which capitalizes every word. */
  def capitalize(c: Column): Column =
    // tail length bounded by length(c): Spark's Substring cost is
    // proportional to the LITERAL length argument, so a "big enough"
    // constant like 1000000 makes every row pay for a 1MB bound
    concat(upper(substring(c, 1, 1)), lower(c.substr(lit(2), length(c))))
}
