package graft.sources

import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DataSource V2 `TableProvider` exposing the WAQI feed as a real
  * Spark table (SURVEY.md §7.3 "WAQI HTTP source as a real table"):
  *
  * {{{
  *   spark.read.format("graft.sources.WaqiTableProvider").load()
  *   // => (city string, raw string), one row per city payload
  *
  *   spark.read.format("graft.sources.WaqiTableProvider")
  *     .option("cities", "amsterdam,berlin")
  *     .option("transport", "graft.sources.HttpWaqiTransport")
  *     .option("baseUrl", "https://api.waqi.info/feed")
  *     .option("token", "...").load()        // the LIVE path
  * }}}
  *
  * Input partitions are [[Fetch.slices]]: at most 2 × the session's
  * default parallelism, each a contiguous run of cities whose
  * `PartitionReader` calls [[WaqiTransport.fetch]] once per city
  * executor-side, the slices in parallel — unlike the reference's
  * sequential driver-side loop (my_data_pipeline.py:78,155). A list no
  * longer than that (the 7 fixture cities on 4 cores) still gets one
  * partition per city. The transport is the injection seam:
  * [[HttpWaqiTransport]] is the real HTTP GET (exercised against a
  * loopback server in WaqiDsv2Spec), and the default
  * [[FixtureWaqiTransport]] serves the canned payloads so every other
  * query/spec stays deterministic. A partition carries only (cities,
  * transport class, options) — the reader builds one transport per
  * partition, and payload bytes are born on executors and never route
  * through the driver.
  */
class WaqiTableProvider extends TableProvider {

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    WaqiTableProvider.schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new WaqiTable(properties.asScala.toMap)
}

object WaqiTableProvider {
  val schema: StructType = StructType(Seq(
    StructField("city", StringType, nullable = false),
    StructField("raw", StringType, nullable = false)))

  val DefaultTransport: String = classOf[FixtureWaqiTransport].getName
}

final class WaqiTable(properties: Map[String, String])
    extends Table with SupportsRead {
  override def name(): String = "waqi"
  override def schema(): StructType = WaqiTableProvider.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap)
      : ScanBuilder = {
    val opts = properties ++ options.asScala
    new ScanBuilder with Scan with Batch {
      override def build(): Scan = this
      override def readSchema(): StructType = WaqiTableProvider.schema
      override def toBatch: Batch = this

      override def planInputPartitions(): Array[InputPartition] = {
        val cities = opts.get("cities") match {
          case Some(cs) => cs.split(',').map(_.trim).filter(_.nonEmpty).toSeq
          case None => WaqiFixtures.all.map(_._1)
        }
        val fqcn =
          opts.getOrElse("transport", WaqiTableProvider.DefaultTransport)
        val parallelism = SparkSession.active.sparkContext.defaultParallelism
        Fetch.slices(cities, parallelism)
          .map(slice => WaqiInputPartition(slice, fqcn, opts): InputPartition)
          .toArray
      }

      override def createReaderFactory(): PartitionReaderFactory =
        new PartitionReaderFactory {
          override def createReader(p: InputPartition)
              : PartitionReader[InternalRow] =
            new WaqiPartitionReader(p.asInstanceOf[WaqiInputPartition])
        }
    }
  }
}

/** One slice's unit of work; serialized to executors. Carries the
  * transport RECIPE (class + options), not a payload — the fetch
  * itself happens in the reader. */
final case class WaqiInputPartition(cities: Seq[String],
    transportFqcn: String, options: Map[String, String])
    extends InputPartition

/** Fetches its slice one city per `next()`. With HttpWaqiTransport
  * each fetch is the live api.waqi.info call; the fixture transport
  * answers from canned payloads. */
final class WaqiPartitionReader(p: WaqiInputPartition)
    extends PartitionReader[InternalRow] {
  private val transport = WaqiTransport.instantiate(p.transportFqcn, p.options)
  private val cities = p.cities.iterator
  private var row: InternalRow = _

  override def next(): Boolean = cities.hasNext && {
    val city = cities.next()
    row = InternalRow(UTF8String.fromString(city),
      UTF8String.fromString(transport.fetch(city)))
    true
  }

  override def get(): InternalRow = row

  override def close(): Unit = ()
}
