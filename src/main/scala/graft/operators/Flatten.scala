package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.Scalars.capitalize

/** Flattening of the nested WAQI payload into tabular rows — the
  * reference's transform stage (P1–P4,
  * `/root/reference/dags/my_data_pipeline.py:50-75`).
  *
  * P1 (null-safe nested-path filter) is implicit: `explode` of a null
  * array yields zero rows, exactly the `'forecast' in data and ...`
  * guard chain at reference line 64 — including the corrupt-payload
  * case, where the whole struct is null.
  */
object Flatten {

  /** Wide per-pollutant frame, column names parameterized by the
    * pollutant exactly as the reference does (`:67-73`):
    * `day, country, {p}_daily_avg, {p}_daily_max, {p}_daily_min`. */
  def perPollutant(okPayloads: DataFrame, pollutant: String): DataFrame =
    okPayloads
      .select(col("city"),
        explode(col(s"data.forecast.daily.$pollutant")).as("e"))
      .select(
        col("e.day").as("day"),
        capitalize(col("city")).as("country"),
        col("e.avg").as(s"${pollutant}_daily_avg"),
        col("e.max").as(s"${pollutant}_daily_max"),
        col("e.min").as(s"${pollutant}_daily_min"))

  /** Scale-preferred LONG format: one row per (city, pollutant, day),
    * pollutant as data instead of as schema (SURVEY.md §1.1). The wide
    * shape is recovered by [[Reshape.pivotWide]]. */
  def longFormat(okPayloads: DataFrame,
      pollutants: Seq[String]): DataFrame = {
    val perP = pollutants.map { p =>
      okPayloads
        .select(col("city"),
          explode(col(s"data.forecast.daily.$p")).as("e"))
        .select(
          col("e.day").as("day"),
          capitalize(col("city")).as("country"),
          lit(p).as("pollutant"),
          col("e.avg").as("avg"),
          col("e.max").as("max"),
          col("e.min").as("min"))
    }
    perP.reduce(_.unionAll(_))
  }
}
