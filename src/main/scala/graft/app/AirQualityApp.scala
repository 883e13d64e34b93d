package graft.app

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.{Describe, Flatten}
import graft.pipeline.Pipeline
import graft.sinks.{ConsoleReportSink, RecordingReportSink, ReportSink, Sinks, SmtpReportSink}
import graft.sources.{FixtureWaqiTransport, WaqiFixtures, WaqiSource, WaqiTransport}

/** The reference pipeline end-to-end (SURVEY.md §3.1 trace):
  * extract (canned payloads by default) →
  * parse → flatten per pollutant → per-table describe report →
  * parquet sink partitioned by pollutant.
  *
  * One lineage, two actions (write + report) — the XCom/process
  * boundaries of the Airflow original disappear into lazy composition.
  */
object AirQualityApp {

  final case class Result(
      long: DataFrame,
      perPollutant: Map[String, DataFrame],
      nErrors: Long,
      reports: Seq[(String, String)])

  /** The report transport is pluggable (K6): console by default, or
    * real SMTP when SMTP_HOST is configured — mirroring the
    * reference's enviar_email without hardwiring a relay
    * (my_data_pipeline.py:178-197). */
  def defaultReporter(): ReportSink =
    sys.env.get("SMTP_HOST") match {
      case Some(host) => new SmtpReportSink(host,
        sys.env.getOrElse("SMTP_PORT", "25").toInt,
        sys.env.getOrElse("SMTP_FROM", "graft@localhost"),
        sys.env.getOrElse("SMTP_TO", "ops@localhost").split(",").toSeq)
      case None => new ConsoleReportSink
    }

  /** Extract goes through [[WaqiSource.fetchPayloads]] with the canned
    * fixture cities and transport by default; pass `HttpWaqiTransport`
    * and real city names for the live feed. The payloads stay cached,
    * as `long` does, so the error count, the four reports, the parquet
    * write and any later use of the returned frames share one fetch per
    * city, as the reference's single extract does. */
  def run(spark: SparkSession, outDir: Option[String] = None,
      reporter0: Option[ReportSink] = None,
      cities: Seq[String] = WaqiFixtures.all.map(_._1),
      transport: WaqiTransport = new FixtureWaqiTransport): Result = {
    val payloads = WaqiSource.fetchPayloads(spark, cities, transport)
      .persist()
    val parsed = WaqiSource.parse(payloads)
    val okRows = WaqiSource.ok(parsed)
    val nErrors = WaqiSource.errors(parsed).count()

    val long = Flatten.longFormat(okRows, WaqiSource.Pollutants)
      .persist() // two downstream actions: report + write
    val tables = WaqiSource.Pollutants.map(p =>
      p -> Flatten.perPollutant(okRows, p)).toMap

    // Record (subject, body) pairs regardless of transport — with an
    // SMTP or injected sink, Result.reports used to come back empty,
    // indistinguishable from "no reports produced".
    val reporter = new RecordingReportSink(reporter0.getOrElse(defaultReporter()))
    Pipeline.withRetry(retries = 1, delayMs = 100) {
      tables.foreach { case (p, df) =>
        val statCols = df.columns.filter(_.endsWith("_avg")) ++
          df.columns.filter(_.endsWith("_max")) ++
          df.columns.filter(_.endsWith("_min"))
        reporter.send(s"Air quality summary: $p",
          Describe.report(p, Describe.exact(df, statCols.toSeq)))
      }
    }
    outDir.foreach(dir =>
      Sinks.parquetPartitioned(long, s"$dir/air_quality", "pollutant"))
    Result(long, tables, nErrors, reporter.sent.toSeq)
  }

  def main(args: Array[String]): Unit = {
    val spark = graft.Bench.timingSession()
    val r = run(spark, args.headOption)
    Sinks.console(r.long.orderBy("pollutant", "country", "day"), 50)
    println(s"error payloads: ${r.nErrors}")
    spark.stop()
  }
}
