package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Encoders, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

import graft.app.AirQualityApp
import graft.sinks.RecordingReportSink
import graft.sources.{Fetch, FixtureWaqiTransport, WaqiFixtures, WaqiSource, WaqiTransport}

/** Serves the fixture payloads and logs every fetched city in a
  * JVM-wide queue that the local executors share. */
final class CountingTransport extends WaqiTransport {
  private val fixtures = new FixtureWaqiTransport
  override def fetch(city: String): String = {
    CountingTransport.fetched.add(city)
    fixtures.fetch(city)
  }
}

object CountingTransport {
  val fetched = new java.util.concurrent.ConcurrentLinkedQueue[String]()
}

/** Echoes the city, and breaks the transport contract by throwing on
  * the city named `boom`. */
final class ThrowingTransport extends WaqiTransport {
  override def fetch(city: String): String =
    if (city == "boom") throw new IllegalStateException(s"contract breach at $city")
    else s"""{"status": "ok", "echo": "$city"}"""
}

/** [[Fetch.slices]] on both scan paths: rows in input order, at most
  * 2 × cores partitions, the same slices on either path, and a
  * throwing transport failing the action with its own exception; and
  * the app fetching each city once. */
class WaqiFetchSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SharedSession.spark
  private def cores = spark.sparkContext.defaultParallelism

  private def cities(n: Int): Seq[String] = (0 until n).map(i => s"c$i")

  private def echo(city: String): String = new ThrowingTransport().fetch(city)

  private def dsv2(cs: Seq[String], transport: Class[_]) =
    spark.read.format("graft.sources.WaqiTableProvider")
      .option("transport", transport.getName)
      .option("cities", cs.mkString(","))
      .load()

  test("0, 1, 7 and 200 cities: one row per city, in input order, " +
      "in at most 2 x cores partitions, on both paths") {
    Seq(0, 1, 7, 200).foreach { n =>
      val cs = cities(n)
      val want = cs.map(c => (c, echo(c)))
      val ds = WaqiSource.fetchPayloads(spark, cs, new ThrowingTransport)
      assert(ds.collect().toSeq == want, s"$n cities, Dataset path")
      assert(ds.rdd.getNumPartitions <= 2 * cores)
      assert(ds.rdd.getNumPartitions == math.max(1, math.min(n, 2 * cores)))
      val df = dsv2(cs, classOf[ThrowingTransport])
      val got = df.as(Encoders.tuple(Encoders.STRING, Encoders.STRING))
        .collect().toSeq
      assert(got == want, s"$n cities, DSv2 path")
      assert(df.rdd.getNumPartitions <= 2 * cores)
    }
  }

  test("both paths plan the same contiguous slices") {
    val cs = cities(37)
    val slices = Fetch.slices(cs, cores)
    assert(slices.flatten == cs)
    assert(slices.map(_.size).max - slices.map(_.size).min <= 1)
    val viaDataset = WaqiSource.fetchPayloads(spark, cs, new ThrowingTransport)
      .rdd.glom().collect().map(_.map(_._1).toSeq).toSeq
    val viaDsv2 = dsv2(cs, classOf[ThrowingTransport]).rdd.glom().collect()
      .map(_.map(_.getString(0)).toSeq).toSeq
    assert(viaDataset == slices)
    assert(viaDsv2 == slices)
  }

  test("a throwing transport fails the action with its own exception") {
    val cs = cities(50).patch(23, Seq("boom"), 1)
    Seq(
      () => WaqiSource.fetchPayloads(spark, cs, new ThrowingTransport).count(),
      () => dsv2(cs, classOf[ThrowingTransport]).count()
    ).foreach { action =>
      val e = intercept[Exception](action())
      val causes = Iterator.iterate[Throwable](e)(_.getCause)
        .takeWhile(_ != null).toSeq
      assert(causes.exists(c => c.isInstanceOf[IllegalStateException] &&
        c.getMessage == "contract breach at boom"), causes)
    }
  }

  test("the app fetches each city once, also when the returned frames " +
      "are used after the run") {
    CountingTransport.fetched.clear()
    val cs = WaqiFixtures.all.map(_._1)
    val r = AirQualityApp.run(spark,
      reporter0 = Some(new RecordingReportSink((_, _) => ())),
      cities = cs, transport = new CountingTransport)
    assert(r.long.orderBy("pollutant", "country", "day").collect().nonEmpty)
    assert(r.perPollutant.values.map(_.count()).sum == r.long.count())
    assert(CountingTransport.fetched.asScala.toSeq.sorted == cs.sorted)
    r.long.unpersist()
  }
}
