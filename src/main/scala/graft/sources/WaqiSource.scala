package graft.sources

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Ingestion of WAQI-shaped air-quality JSON payloads — the Spark
  * rebuild of the reference's extract stage (S1–S3,
  * `/root/reference/dags/my_data_pipeline.py:22-48,78,155`).
  *
  * Differences by design (SURVEY.md §1.2, §2.1):
  *  - the schema is EXPLICIT, never inferred — an empty or failed batch
  *    still yields a correctly-typed (0-row) DataFrame instead of the
  *    reference's 0-column frame hazard;
  *  - failures are first-class: malformed JSON lands in
  *    `_corrupt_record` (PERMISSIVE mode) and API-level errors keep
  *    `status != "ok"`, so failed sources contribute zero data rows
  *    (observable parity with the reference) while staying countable
  *    as an error metric instead of vanishing;
  *  - fan-out is a Dataset of payloads, not a sequential driver loop:
  *    [[Fetch.slices]] splits the cities into a few partitions, on the
  *    Dataset path or the DataSource V2 provider; everything downstream
  *    of the payload Dataset is unchanged.
  */
object WaqiSource {

  val Pollutants: Seq[String] = Seq("o3", "pm10", "pm25", "uvi")

  /** struct<day:string, avg:long, max:long, min:long> — `day` stays a
    * string for reference fidelity (my_data_pipeline.py:68,101). */
  private val dayStat = ArrayType(StructType(Seq(
    StructField("day", StringType),
    StructField("avg", LongType),
    StructField("max", LongType),
    StructField("min", LongType))))

  /** Explicit payload schema (FIXTURES.md family A). */
  val payloadSchema: StructType = StructType(Seq(
    StructField("status", StringType),
    StructField("data", StructType(Seq(
      StructField("aqi", LongType),
      StructField("city", StructType(Seq(StructField("name", StringType)))),
      StructField("forecast", StructType(Seq(
        StructField("daily", StructType(
          Pollutants.map(p => StructField(p, dayStat)))))))))),
    StructField("_corrupt_record", StringType)))

  /** The Dataset-path fetch: the city list goes into [[Fetch.slices]],
    * one partition each (at most 2 × the session's default parallelism,
    * no shuffle), and each task calls [[WaqiTransport.fetch]] once per
    * city of its slice — executor-side and parallel across slices, the
    * Dataset twin of the DataSource V2 scan in [[WaqiTableProvider]].
    * Rows come back in input order. At 100 TB-pipeline scale the city
    * list is a table of millions of URLs and the same shape holds: the
    * transport ships to executors, payload bytes are born there, and
    * the driver never sees a body. */
  def fetchPayloads(spark: SparkSession, cities: Seq[String],
      transport: WaqiTransport): Dataset[(String, String)] = {
    import spark.implicits._
    val slices =
      Fetch.slices(cities, spark.sparkContext.defaultParallelism)
    spark.createDataset(spark.sparkContext.parallelize(slices, slices.size)
      .flatMap(_.iterator.map(c => (c, transport.fetch(c)))))
  }

  /** Parse raw payload strings (one JSON document per city) into the
    * typed layout. PERMISSIVE: bad documents become rows with only
    * `_corrupt_record` set. */
  def parse(payloads: Dataset[(String, String)]): DataFrame = {
    payloads.toDF("city", "raw")
      .withColumn("j", from_json(col("raw"), payloadSchema,
        Map("mode" -> "PERMISSIVE",
          "columnNameOfCorruptRecord" -> "_corrupt_record")))
      .select(col("city"), col("j.*"))
  }

  /** Rows that produced no usable data: corrupt JSON or API error.
    * The reference silently drops these (my_data_pipeline.py:40-48,64);
    * we keep the drop semantics for output parity but expose the count. */
  def errors(parsed: DataFrame): DataFrame =
    parsed.filter(col("_corrupt_record").isNotNull ||
      col("status").isNull || col("status") =!= "ok")

  /** Usable payloads only. */
  def ok(parsed: DataFrame): DataFrame =
    parsed.filter(col("_corrupt_record").isNull && col("status") === "ok")
}
