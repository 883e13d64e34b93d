package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Long -> wide reshaping (reference P6: the per-contaminant table
  * split, `/root/reference/dags/my_data_pipeline.py:84-86,158`).
  * The per-contaminant tables themselves are [[Flatten.perPollutant]].
  *
  * The long format is the scale-native layout (pollutant as data);
  * the wide view is a pivot with an EXPLICIT value list — an implicit
  * pivot would need an extra distinct pass over the data to discover
  * columns, and nondeterministic schemas break downstream plans.
  */
object Reshape {

  /** long (day, country, pollutant, avg, max, min) -> one wide row per
    * (day, country) with {p}_daily_{stat} columns. */
  def pivotWide(long: DataFrame, pollutants: Seq[String]): DataFrame =
    long.groupBy(col("day"), col("country"))
      .pivot("pollutant", pollutants)
      .agg(first(col("avg")).as("daily_avg"),
        first(col("max")).as("daily_max"),
        first(col("min")).as("daily_min"))
}
