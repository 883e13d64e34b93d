package graft.layerbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

import graft.SparkEntry
import graft.operators.{Describe, Flatten}
import graft.pipeline.Pipeline
import graft.sinks.Sinks
import graft.sources.WaqiSource

/** Everything a workload needs for one run. `lakeRoot` holds the
  * read-only seed-42 lakes (`sf0.01`, ...). `expected` maps a query
  * name to its checksum; with `record` set, checksums are written there
  * instead of compared, and each query result is saved under
  * `recordDir/<name>/` for `scripts/check_oracle.py`. */
final class Ctx(val spark: SparkSession, val lakeRoot: String, val work: Path,
    val seed: Long, val cores: Int, val tracer: Tracer,
    val expected: Map[String, String],
    val record: Option[mutable.Map[String, String]] = None,
    val recordDir: Option[String] = None) {

  private lazy val registry = SparkEntry.queries

  def query(name: String): (SparkSession, String) => DataFrame =
    registry.getOrElse(name, sys.error(s"unknown query $name"))

  /** Compare (or record) the checksum of one query result. */
  def checkQuery(name: String, df: DataFrame): Option[String] = {
    val got = Checksum.of(df)
    record match {
      case Some(rec) =>
        rec.get(name).filter(_ != got)
          .map(prev => s"checksum changed within the run: $prev then $got")
          .orElse {
            if (rec.contains(name)) None
            else {
              rec(name) = got
              // the saved copy is what scripts/check_oracle.py compares
              // with DuckDB; it must hold exactly the checksummed rows
              recordDir.flatMap { d =>
                df.write.mode("overwrite").parquet(s"$d/$name")
                val saved = Checksum.of(spark.read.parquet(s"$d/$name"))
                if (saved == got) None else Some(s"saved result reads $saved, not $got")
              }
            }
          }
      case None => expected.get(name) match {
        case None => Some("no expected checksum recorded")
        case Some(want) if want != got => Some(s"checksum $got, expected $want")
        case _ => None
      }
    }
  }
}

/** A named workload: an untimed warm-up, then timed passes. A pass
  * returns the layer values only the workload itself can measure. */
trait Workload {
  def name: String
  /** Typical seconds of one warm pass on a 4-core VM: the run makes
    * round(seconds / nominalPassS) passes, at least one. */
  def nominalPassS: Double
  def warmUp(c: Ctx): Unit
  def pass(c: Ctx, h: Harness, p: Int): Map[String, Double]
}

object Workloads {

  val all: Seq[Workload] = Seq(
    // q348 publishes, appends to, compacts and serves the near-dup base,
    // the screen base and the IVF exact index; q347 publishes, appends
    // to and serves the media fingerprints; q345 serves the screen home
    // q348 published. All are driver-bound, so the small lake keeps a
    // cycle inside the run.
    new ArtifactWorkload("sf0.01", Seq(
      "q348_nightly_admission_compacted", "q347_image_dedup_appended",
      "q345_screen_appended"), 20.0),
    new WaqiWorkload(cities = 200, days = 8, batches = 4, 14.0))

  def byName(n: String): Workload = all.find(_.name == n)
    .getOrElse(sys.error(s"unknown workload $n (have ${all.map(_.name).mkString(", ")})"))

  /** One query op: registry call (build), physical planning (plan),
    * noop write (exec), all inside the op span; checksum after it. */
  def queryOp(c: Ctx, h: Harness, name: String, phase: String, pass: Int,
      dir: String, check: Boolean): Boolean = {
    val fn = c.query(name)
    h.op(name, phase, pass) {
      val df = c.tracer.span("operators.build")(fn(c.spark, dir))
      c.tracer.span("spark.plan")(df.queryExecution.executedPlan)
      c.tracer.span("spark.exec")(
        df.write.format("noop").mode("overwrite").save())
      df
    }(df => if (check) c.checkQuery(name, df) else None)
  }

  /** Seeded order of one pass. */
  def order[T](xs: Seq[T], seed: Long, p: Int): Seq[T] =
    new scala.util.Random(seed * 1000003L + p).shuffle(xs)

  /** Copy a flat or nested dataset directory (fresh mtimes, so durable
    * artifact homes keyed on the copy start empty). */
  def copyTree(from: Path, to: Path): Unit = {
    val s = Files.walk(from)
    try s.iterator().asScala.foreach { p =>
      val t = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else Files.copy(p, t)
    } finally s.close()
  }

  /** (bytes, files) under a directory; (0, 0) when it does not exist. */
  def treeSize(dir: Path): (Long, Long) =
    if (!Files.exists(dir)) (0L, 0L)
    else {
      val s = Files.walk(dir)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .foldLeft((0L, 0L)) { case ((b, n), p) => (b + Files.size(p), n + 1) }
      finally s.close()
    }

  def deleteTree(dir: Path): Unit = if (Files.exists(dir)) {
    val s = Files.walk(dir)
    try s.iterator().asScala.toSeq.reverse.foreach(Files.delete)
    finally s.close()
  }

  val MB: Double = 1024.0 * 1024.0
}

/** The durable-artifact cycle. Each pass runs on its own copy of the
  * lake, so its artifact homes (keyed by dataset path) start empty:
  * the publish phase builds, appends and compacts them, the serve
  * phase reruns the same queries from the committed artifacts. */
final class ArtifactWorkload(sf: String, queries: Seq[String],
    val nominalPassS: Double) extends Workload {
  import Workloads._
  val name = "artifact_cycle"

  private def artifactRoot: Path =
    java.nio.file.Paths.get(graft.Artifacts.durableRoot)

  private def publish(c: Ctx, h: Harness, p: Int, dir: Path,
      check: Boolean): Unit = queries.foreach(q =>
    queryOp(c, h, q, "publish", p, dir.toString, check))

  private def copyLake(c: Ctx, tag: String): Path = {
    val dir = c.work.resolve(s"lake-$tag")
    copyTree(java.nio.file.Paths.get(c.lakeRoot, sf), dir)
    dir
  }

  /** Publish only: it runs every artifact code path the serve phase
    * runs, at lower cost than a whole cycle. */
  def warmUp(c: Ctx): Unit =
    publish(c, new Harness(c.tracer), -1, copyLake(c, "warmup"), check = false)

  def pass(c: Ctx, h: Harness, p: Int): Map[String, Double] = {
    val dir = copyLake(c, s"pass$p")
    val (b0, f0) = treeSize(artifactRoot)
    publish(c, h, p, dir, check = true)
    val (b1, f1) = treeSize(artifactRoot)
    order(queries, c.seed, p).foreach(q =>
      queryOp(c, h, q, "serve", p, dir.toString, check = true))
    Map("Artifacts.bytes_written_mb" -> (b1 - b0) / MB,
      "Artifacts.files" -> (f1 - f0).toDouble)
  }
}

/** The reference pipeline over seeded payloads. One op is one batch of
  * `cities` cities x `days` days: fetch -> parse/errors/ok -> flatten
  * per pollutant -> JDBC load into in-memory Derby -> exact describe
  * and report per table (under the pipeline's retry) -> partitioned
  * parquet of the long format. Each batch's output is checked against
  * the generator's ground truth after its timed span. */
final class WaqiWorkload(cities: Int, days: Int, batches: Int,
    val nominalPassS: Double) extends Workload {
  import Workloads._
  import WaqiCheck.Out
  val name = "waqi_etl"
  val DerbyUrl = "jdbc:derby:memory:layerbench;create=true"

  private def batch(c: Ctx, h: Harness, phase: String, p: Int, b: Int,
      layer: mutable.Map[String, Double], check: Boolean): Unit = {
    val names = WaqiGen.cities(b, cities)
    val spark = c.spark
    val t = c.tracer
    h.op(s"batch$b", phase, p) {
      val fetched = t.span("sources.fetch") {
        val ds = WaqiSource.fetchPayloads(spark, names,
          new WaqiGen.Transport(c.seed, days)).persist(StorageLevel.MEMORY_ONLY)
        ds.count()
        ds
      }
      val parsed = t.span("sources.parse") {
        val df = WaqiSource.parse(fetched.coalesce(c.cores))
          .persist(StorageLevel.MEMORY_ONLY)
        df.count()
        df
      }
      val nErrors = t.span("sources.errors")(WaqiSource.errors(parsed).count())
      val okRows = WaqiSource.ok(parsed)
      val tables = t.span("operators.Flatten")(WaqiSource.Pollutants
        .map(pl => pl -> Flatten.perPollutant(okRows, pl)).toMap)
      val prefix = s"AQ_${b}_"
      t.span("sinks.jdbc")(Sinks.jdbcPerKey(tables, DerbyUrl, prefix, "", ""))
      var attempts = 0
      val reports = t.span("operators.Describe.report")(
        Pipeline.withRetry(retries = 1, delayMs = 100) {
          attempts += 1
          WaqiSource.Pollutants.map { pl =>
            val df = tables(pl)
            val cols = Seq("avg", "max", "min").map(s => s"${pl}_daily_$s")
            pl -> Describe.report(pl, Describe.exact(df, cols))
          }
        })
      val dir = c.work.resolve(s"parquet-$b")
      t.span("sinks.parquet")(Sinks.parquetPartitioned(
        Flatten.longFormat(okRows, WaqiSource.Pollutants), dir.toString,
        "pollutant"))
      Out(nErrors, reports, prefix, dir, attempts, Seq(fetched, parsed))
    } { out =>
      out.cached.foreach(_.unpersist(blocking = true))
      val truth = WaqiGen.truth(c.seed, days, names)
      val problems = mutable.ArrayBuffer.empty[String]
      val conn = java.sql.DriverManager.getConnection(DerbyUrl)
      var loaded = 0L
      try WaqiSource.Pollutants.foreach { pl =>
        val st = conn.createStatement()
        try {
          val rs = st.executeQuery(s"SELECT COUNT(*) FROM ${out.tablePrefix}$pl")
          rs.next()
          val n = rs.getLong(1)
          loaded += n
          if (n != truth.rows(pl)) problems += s"$pl: $n rows in Derby, expected ${truth.rows(pl)}"
          st.execute(s"DROP TABLE ${out.tablePrefix}$pl")
        } finally st.close()
      } finally conn.close()
      if (out.nErrors != truth.errorPayloads)
        problems += s"${out.nErrors} error payloads, expected ${truth.errorPayloads}"
      out.reports.foreach { case (pl, text) =>
        val got = WaqiCheck.reportStats(text)
        truth.stats(pl).foreach { case (col, want) =>
          if (!got.get(col).contains(want))
            problems += s"report $pl/$col: ${got.get(col)}, expected $want"
        }
      }
      val parts = Files.list(out.parquetDir).iterator().asScala
        .map(_.getFileName.toString).filter(_.startsWith("pollutant=")).toSet
      if (parts != WaqiSource.Pollutants.map(pl => s"pollutant=$pl").toSet)
        problems += s"parquet partitions $parts"
      val (bytes, _) = treeSize(out.parquetDir)
      deleteTree(out.parquetDir)
      if (check && problems.isEmpty) {
        layer("sources.error_payloads") += out.nErrors
        layer("sinks.jdbc_rows") += loaded
        layer("sinks.parquet_mb") += bytes / MB
        layer("pipeline.attempts") += out.attempts
      }
      if (check && problems.nonEmpty) Some(problems.mkString("; ")) else None
    }
  }

  private def zero = mutable.Map[String, Double]().withDefaultValue(0.0)

  def warmUp(c: Ctx): Unit = {
    val h = new Harness(c.tracer)
    (0 until 2).foreach(i => batch(c, h, "warmup", -1, 100000 + i, zero, check = false))
  }

  def pass(c: Ctx, h: Harness, p: Int): Map[String, Double] = {
    val layer = zero
    (0 until batches).foreach(i => batch(c, h, "batch", p, p * batches + i, layer, check = true))
    layer.toMap
  }
}

object WaqiCheck {
  /** What one timed batch hands to its check. */
  final case class Out(nErrors: Long, reports: Seq[(String, String)],
      tablePrefix: String, parquetDir: Path, attempts: Int,
      cached: Seq[org.apache.spark.sql.Dataset[_]])

  /** column -> (count, min, max) read back from a `Describe.report`
    * text (header line, then one line per described column). */
  def reportStats(text: String): Map[String, WaqiGen.ColStats] = {
    val lines = text.split("\n").toSeq
    val header = lines.drop(1).headOption.getOrElse("").trim.split("\\s+").toSeq
    val (iN, iMin, iMax) =
      (header.indexOf("n"), header.indexOf("min"), header.indexOf("max"))
    lines.drop(2).map(_.trim.split("\\s+").toSeq).filter(_.size == header.size)
      .map { f =>
        f(0) -> WaqiGen.ColStats(f(iN).toLong, f(iMin).toDouble.toLong,
          f(iMax).toDouble.toLong)
      }.toMap
  }
}
