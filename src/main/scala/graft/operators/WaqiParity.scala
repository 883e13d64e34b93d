package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.sources.{WaqiFixtures, WaqiSource}

/** Reference-parity queries over the canned WAQI payloads. The oracle
  * SQL embeds the SAME fixture payload strings as a VALUES table
  * (built from [[WaqiFixtures.all]] at SQL-generation time, so fixture
  * and oracle cannot drift) and re-runs the whole pipeline — validity
  * check, status filter, per-pollutant JSON array explode, typed
  * projection — with DuckDB's independent JSON engine. That upgrades
  * q60–q63 from rows-only to hash-exact: two engines, two JSON
  * parsers, one answer. WaqiPipelineSpec still pins the golden rows. */
object WaqiParity {

  private def longDf(s: SparkSession): DataFrame = {
    import s.implicits._
    Flatten.longFormat(
      WaqiSource.ok(WaqiSource.parse(s.createDataset(WaqiFixtures.all))),
      WaqiSource.Pollutants)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q60_waqi_flatten_long" -> ((s, _) =>
      longDf(s).orderBy("pollutant", "country", "day")),
    "q61_waqi_pivot_wide" -> ((s, _) =>
      Reshape.pivotWide(longDf(s), WaqiSource.Pollutants)
        .orderBy("day", "country")),
    "q62_waqi_per_pollutant" -> ((s, _) => {
      import s.implicits._
      Flatten.perPollutant(
        WaqiSource.ok(WaqiSource.parse(s.createDataset(WaqiFixtures.all))),
        "pm25").orderBy("country", "day")
    }),
    // same flatten, but the payloads arrive through the DataSource V2
    // table (the fetch device's slices as input partitions) instead of
    // a local Dataset
    "q63_waqi_dsv2_source" -> ((s, _) => {
      import s.implicits._
      val raw = s.read.format("graft.sources.WaqiTableProvider").load()
        .as[(String, String)]
      Flatten.longFormat(WaqiSource.ok(WaqiSource.parse(raw)),
        WaqiSource.Pollutants).orderBy("pollutant", "country", "day")
    })
  )

  /** The fixture payloads as a DuckDB VALUES table. Payloads are
    * single-line JSON (no newlines by construction); single quotes are
    * SQL-doubled defensively. */
  private def fixtureValues: String =
    WaqiFixtures.all.map { case (c, p) =>
      s"('$c', '${p.replace("'", "''")}')"
    }.mkString(",\n    ")

  /** Shared long-format derivation: DuckDB twin of
    * [[WaqiSource.parse]] -> [[WaqiSource.ok]] ->
    * [[Flatten.longFormat]]. `json_valid` mirrors PERMISSIVE-mode
    * corrupt-record filtering; a missing forecast path yields NULL,
    * whose unnest contributes zero rows — the same null-safe P1
    * semantics as the Spark explode. */
  private def longCte: String =
    s"""raw AS (SELECT * FROM (VALUES
       |    $fixtureValues) t(city, payload)),
       |ok AS (
       |  SELECT city, payload FROM raw
       |  WHERE json_valid(payload)
       |    AND json_extract_string(payload, '$$.status') = 'ok'),
       |pol AS (SELECT unnest(['o3','pm10','pm25','uvi']) AS pollutant),
       |long AS (
       |  SELECT json_extract_string(e, '$$.day') AS day,
       |    upper(substr(city, 1, 1)) || substr(city, 2) AS country,
       |    pollutant,
       |    CAST(json_extract(e, '$$.avg') AS BIGINT) AS avg,
       |    CAST(json_extract(e, '$$.max') AS BIGINT) AS max,
       |    CAST(json_extract(e, '$$.min') AS BIGINT) AS min
       |  FROM (
       |    SELECT city, pollutant,
       |      unnest(CAST(json_extract(payload,
       |        '$$.data.forecast.daily.' || pollutant) AS JSON[])) AS e
       |    FROM ok CROSS JOIN pol))""".stripMargin

  private def pivotCols: String =
    WaqiSource.Pollutants.map { p =>
      Seq("avg", "max", "min").map(st =>
        s"  MAX(CASE WHEN pollutant = '$p' THEN $st END) " +
          s"AS ${p}_daily_$st").mkString(",\n")
    }.mkString(",\n")

  val oracleSql: Map[String, String] = Map(
    "q60_waqi_flatten_long" ->
      s"""WITH ${longCte}
         |SELECT day, country, pollutant, avg, max, min FROM long
         |ORDER BY pollutant, country, day""".stripMargin,
    "q63_waqi_dsv2_source" ->
      s"""WITH ${longCte}
         |SELECT day, country, pollutant, avg, max, min FROM long
         |ORDER BY pollutant, country, day""".stripMargin,
    "q61_waqi_pivot_wide" ->
      s"""WITH ${longCte}
         |SELECT day, country,
         |$pivotCols
         |FROM long GROUP BY day, country
         |ORDER BY day, country""".stripMargin,
    "q62_waqi_per_pollutant" ->
      s"""WITH ${longCte}
         |SELECT day, country, avg AS pm25_daily_avg,
         |  max AS pm25_daily_max, min AS pm25_daily_min
         |FROM long WHERE pollutant = 'pm25'
         |ORDER BY country, day""".stripMargin
  )
}
