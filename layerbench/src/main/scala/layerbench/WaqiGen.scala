package graft.layerbench

import scala.util.hashing.MurmurHash3

import graft.sources.{WaqiFixtures, WaqiSource, WaqiTransport}

/** Seeded WAQI payload generator for the `waqi_etl` workload.
  *
  * Batch `b` holds `cities` cities named `city<b>n<i>`; each city's
  * payload is a pure function of (seed, city), so the transport can
  * rebuild it on an executor from the name alone. Exactly one city in
  * every [[Cycle]] consecutive cities takes each of the four failure
  * modes of [[WaqiFixtures.failurePayloads]] (a fixed 5 % share); the
  * rest are healthy payloads with `days` forecast days of all four
  * pollutants. [[truth]] gives what the pipeline must produce. */
object WaqiGen {

  /** One city in `Cycle` takes each failure mode: 4/80 = 5 %. */
  val Cycle = 80

  sealed abstract class Kind(val fixture: Option[String])
  case object Good extends Kind(None)
  case object ApiError extends Kind(Some("errorcity"))
  case object HttpFail extends Kind(Some("httpfail"))
  case object NoForecast extends Kind(Some("noforecast"))
  case object EmptyArrays extends Kind(Some("emptyarrays"))
  private val FailureKinds = Seq(ApiError, HttpFail, NoForecast, EmptyArrays)
  private lazy val fixtures = WaqiFixtures.failurePayloads.toMap

  def cityName(batch: Int, i: Int): String = s"city${batch}n$i"

  def cities(batch: Int, n: Int): Seq[String] =
    (0 until n).map(cityName(batch, _))

  private def h(seed: Long, parts: Any*): Int =
    MurmurHash3.stringHash(parts.mkString("|"), seed.toInt ^ (seed >>> 32).toInt)

  private def nonNeg(x: Int): Int = x & Int.MaxValue

  def kind(seed: Long, city: String): Kind = {
    val n = city.lastIndexOf('n')
    val batch = city.substring(4, n)
    val i = city.substring(n + 1).toInt
    val slot = (i + nonNeg(h(seed, "offset", batch)) % Cycle) % Cycle
    if (slot < FailureKinds.size) FailureKinds(slot) else Good
  }

  def day(d: Int): String = java.time.LocalDate.of(2026, 8, 1).plusDays(d).toString

  /** (avg, max, min) of one (city, day, pollutant) reading. */
  def reading(seed: Long, city: String, d: Int, p: String): (Long, Long, Long) = {
    val avg = nonNeg(h(seed, city, d, p, "avg")) % 300
    val max = avg + nonNeg(h(seed, city, d, p, "max")) % 60
    val min = math.max(avg - nonNeg(h(seed, city, d, p, "min")) % 45, 0)
    (avg.toLong, max.toLong, min.toLong)
  }

  def payload(seed: Long, days: Int, city: String): String =
    kind(seed, city).fixture match {
      case Some(f) => fixtures(f)
      case None =>
        def arr(p: String): String = (0 until days).map { d =>
          val (avg, max, min) = reading(seed, city, d, p)
          s"""{"avg": $avg, "day": "${day(d)}", "max": $max, "min": $min}"""
        }.mkString("[", ",", "]")
        val daily = WaqiSource.Pollutants.map(p => s""""$p": ${arr(p)}""")
          .mkString(", ")
        s"""{"status": "ok", "data": {"aqi": ${nonNeg(h(seed, city, "aqi")) % 400}, """ +
          s""""city": {"name": "${city.capitalize}"}, """ +
          s""""forecast": {"daily": {$daily}}}}"""
    }

  /** The benchmark-side transport: payloads derived from (seed, city). */
  final class Transport(seed: Long, days: Int) extends WaqiTransport {
    override def fetch(city: String): String = payload(seed, days, city)
  }

  /** count, min and max of one flattened column. */
  final case class ColStats(n: Long, min: Long, max: Long)

  /** What one batch must produce: error payloads (corrupt JSON or a
    * non-ok status), flattened rows per pollutant table, and per
    * pollutant the stats of its `_avg`/`_max`/`_min` columns. */
  final case class Truth(errorPayloads: Long, rows: Map[String, Long],
      stats: Map[String, Map[String, ColStats]]) {
    def totalRows: Long = rows.values.sum
  }

  def truth(seed: Long, days: Int, cityNames: Seq[String]): Truth = {
    val kinds = cityNames.map(c => c -> kind(seed, c))
    val good = kinds.collect { case (c, Good) => c }
    val errors = kinds.count { case (_, k) => k == ApiError || k == HttpFail }
    val stats = WaqiSource.Pollutants.map { p =>
      val rs = for (c <- good; d <- 0 until days) yield reading(seed, c, d, p)
      def st(xs: Seq[Long]) =
        if (xs.isEmpty) ColStats(0, 0, 0) else ColStats(xs.size, xs.min, xs.max)
      p -> Map(s"${p}_daily_avg" -> st(rs.map(_._1)),
        s"${p}_daily_max" -> st(rs.map(_._2)),
        s"${p}_daily_min" -> st(rs.map(_._3)))
    }.toMap
    Truth(errors.toLong,
      WaqiSource.Pollutants.map(_ -> good.size.toLong * days).toMap, stats)
  }
}
