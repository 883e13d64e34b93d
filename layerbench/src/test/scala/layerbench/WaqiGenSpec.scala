package graft.layerbench

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Describe, Flatten}
import graft.sources.WaqiSource

class WaqiGenSpec extends AnyFunSuite {
  private lazy val spark = LocalSpark.spark
  import spark.implicits._

  test("payloads and ground truth are a pure function of the seed") {
    val cities = WaqiGen.cities(3, 160)
    assert(cities.map(WaqiGen.payload(7, 4, _)) == cities.map(WaqiGen.payload(7, 4, _)))
    assert(WaqiGen.truth(7, 4, cities) == WaqiGen.truth(7, 4, cities))
    assert(cities.map(WaqiGen.payload(7, 4, _)) != cities.map(WaqiGen.payload(8, 4, _)))
  }

  test("every 80 cities hold one city of each failure mode") {
    Seq(1L, 2L, 99L).foreach { seed =>
      val kinds = WaqiGen.cities(0, 160).map(WaqiGen.kind(seed, _))
      Seq(WaqiGen.ApiError, WaqiGen.HttpFail, WaqiGen.NoForecast,
        WaqiGen.EmptyArrays).foreach(k => assert(kinds.count(_ == k) == 2, k))
      assert(kinds.count(_ == WaqiGen.Good) == 152)
    }
  }

  test("ground truth matches a hand-counted batch") {
    // 80 cities, 2 days: 76 healthy cities -> 152 rows per pollutant;
    // the API error and the HTTP failure are the error payloads, the
    // no-forecast and empty-array payloads are ok but flatten to nothing
    val cities = WaqiGen.cities(5, 80)
    val t = WaqiGen.truth(11, 2, cities)
    assert(t.errorPayloads == 2)
    assert(t.rows == WaqiSource.Pollutants.map(_ -> 152L).toMap)
    // one healthy city by hand: its o3 readings bound the o3 stats
    val city = cities.find(WaqiGen.kind(11, _) == WaqiGen.Good).get
    val o3 = """"o3": \[(.*?)\]""".r.findFirstMatchIn(WaqiGen.payload(11, 2, city)).get.group(1)
    val avgs = """"avg": (\d+)""".r.findAllMatchIn(o3).map(_.group(1).toLong).toSeq
    assert(avgs.size == 2)
    val st = t.stats("o3")("o3_daily_avg")
    assert(st.n == 152 && avgs.forall(a => a >= st.min && a <= st.max))
  }

  test("the engine's parse, flatten and describe agree with the ground truth") {
    val cities = WaqiGen.cities(2, 80)
    val payloads = cities.map(c => (c, WaqiGen.payload(5, 3, c))).toDS()
    val parsed = WaqiSource.parse(payloads)
    val t = WaqiGen.truth(5, 3, cities)
    assert(WaqiSource.errors(parsed).count() == t.errorPayloads)
    WaqiSource.Pollutants.foreach { p =>
      val df = Flatten.perPollutant(WaqiSource.ok(parsed), p)
      assert(df.count() == t.rows(p))
      val cols = Seq("avg", "max", "min").map(s => s"${p}_daily_$s")
      val got = WaqiCheck.reportStats(Describe.report(p, Describe.exact(df, cols)))
      assert(got == t.stats(p), p)
    }
  }
}
