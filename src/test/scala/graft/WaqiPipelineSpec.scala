package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.app.AirQualityApp
import graft.functions.Scalars
import graft.operators.{Flatten, Reshape}
import graft.sources.{WaqiFixtures, WaqiSource}

class WaqiPipelineSpec extends AnyFunSuite {
  lazy val spark = SharedSession.spark
  import spark.implicits._

  private def parsed =
    WaqiSource.parse(spark.createDataset(WaqiFixtures.all))

  test("explicit schema: failures parse to typed rows, never 0-column") {
    val df = parsed
    assert(df.count() == 7) // 3 good + 4 failure variants
    assert(WaqiSource.errors(df).count() == 2) // bad json + status=error
    assert(WaqiSource.ok(df).count() == 5)     // incl. missing/empty forecast
    assert(df.schema.fieldNames.contains("_corrupt_record"))
  }

  test("flatten: failure payloads contribute exactly zero rows (ref :64)") {
    val long = Flatten.longFormat(WaqiSource.ok(parsed),
      WaqiSource.Pollutants)
    val badCities = Seq("Errorcity", "Httpfail", "Noforecast", "Emptyarrays")
    assert(long.filter(col("country").isin(badCities: _*)).count() == 0)
    // 3 cities x 4 pollutants x (3,2,3) days
    assert(long.count() == 4 * (3 + 2 + 3))
  }

  test("per-pollutant wide frame has the reference's column names") {
    val o3 = Flatten.perPollutant(WaqiSource.ok(parsed), "o3")
    assert(o3.columns.toSeq ==
      Seq("day", "country", "o3_daily_avg", "o3_daily_max", "o3_daily_min"))
    val ams = o3.filter(col("country") === "Amsterdam" &&
      col("day") === "2026-08-10").head
    assert(ams.getAs[Long]("o3_daily_avg") == 28) // 14 * scale 2
    assert(ams.getAs[Long]("o3_daily_max") == 40)
    assert(ams.getAs[Long]("o3_daily_min") == 19)
  }

  test("capitalize matches python str.capitalize, not initcap") {
    val got = Seq("new york", "PARIS", "aMStErdam")
      .toDF("c").select(Scalars.capitalize(col("c"))).as[String].collect()
    assert(got.toSeq == Seq("New york", "Paris", "Amsterdam"))
  }

  test("pivotWide(long) matches Flatten.perPollutant for each pollutant") {
    val ok = WaqiSource.ok(parsed)
    val long = Flatten.longFormat(ok, WaqiSource.Pollutants)
    val wide = Reshape.pivotWide(long, WaqiSource.Pollutants)
    WaqiSource.Pollutants.foreach { p =>
      val stats = Seq("avg", "max", "min").map(st => s"${p}_daily_$st")
      val a = wide.select("day", "country" +: stats: _*)
        .filter(stats.map(col(_).isNotNull).reduce(_ || _))
        .collect().map(_.toSeq).toSet
      val b = Flatten.perPollutant(ok, p)
        .select("day", "country" +: stats: _*)
        .collect().map(_.toSeq).toSet
      assert(a == b, s"pollutant $p")
    }
  }

  test("perPollutant: per-key family partitions the long table (P6 parity)") {
    val ok = WaqiSource.ok(parsed)
    val long = Flatten.longFormat(ok, WaqiSource.Pollutants)
    val fam = WaqiSource.Pollutants
      .map(p => p -> Flatten.perPollutant(ok, p)).toMap
    assert(fam.keySet == WaqiSource.Pollutants.toSet)
    // each member holds exactly its key's rows; members partition long
    fam.foreach { case (k, df) =>
      assert(df.count() == long.filter(col("pollutant") === k).count())
    }
    assert(fam.values.map(_.count()).sum == long.count())
  }

  test("end-to-end app: reports per pollutant, errors counted") {
    val r = AirQualityApp.run(spark)
    assert(r.nErrors == 2)
    assert(r.reports.size == 4)
    assert(r.reports.map(_._1).forall(_.startsWith("Air quality summary")))
    assert(r.perPollutant.keySet == WaqiSource.Pollutants.toSet)
    r.long.unpersist()
  }

  test("withRetry: an interrupt propagates at once, a runtime failure " +
      "gets its retry") {
    import graft.pipeline.Pipeline
    var runs = 0
    intercept[InterruptedException] {
      Pipeline.withRetry(retries = 1, delayMs = 0) {
        runs += 1
        throw new InterruptedException("stop")
      }
    }
    assert(runs == 1, "an interrupted body was retried")
    runs = 0
    var notified = 0
    val e = intercept[RuntimeException] {
      Pipeline.withRetry(retries = 1, delayMs = 0,
          onFailure = _ => notified += 1) {
        runs += 1
        throw new RuntimeException(s"boom $runs")
      }
    }
    assert(runs == 2 && notified == 2 && e.getMessage == "boom 2")
  }

  test("describe exact: stats ordering invariant min<=p25<=p50<=p75<=max") {
    val d = operators.Describe.exact(
      Tables(spark, "/root/testdata/sf0.001").lineitem,
      Seq("l_quantity", "l_extendedprice"))
    d.collect().foreach { r =>
      val (mn, p25, p50, p75, mx) = (r.getDouble(4), r.getDouble(5),
        r.getDouble(6), r.getDouble(7), r.getDouble(8))
      assert(mn <= p25 && p25 <= p50 && p50 <= p75 && p75 <= mx)
      assert(r.getDouble(2) >= mn && r.getDouble(2) <= mx) // mean in range
    }
  }
}
