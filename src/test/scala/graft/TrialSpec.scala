package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

import graft.multimodal.Multimodal

/** The scale trials' devices: the growth tables name registry queries,
  * and every mode's twin grows each ruled table `factor`× with disjoint
  * ids and replica 0 equal to the base, copies the rest, and is built
  * once. */
class TrialSpec extends AnyFunSuite {
  lazy val spark = SharedSession.spark

  private val base = "/root/testdata/sf0.001"

  private def table(dir: String, t: String): DataFrame = t match {
    case "events" => Tables(spark, dir).events
    case "media" => Multimodal.materializedMedia(spark, dir)
    case _ => spark.read.parquet(s"$dir/$t.parquet")
  }

  private def sameRows(a: DataFrame, b: DataFrame): Boolean =
    a.count() == b.count() && a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty

  private def snapshot(dir: Path): Map[String, Long] = {
    val s = Files.walk(dir)
    try s.iterator().asScala.map(p =>
      p.toString -> Files.getLastModifiedTime(p).toMillis).toMap
    finally s.close()
  }

  test("every growth-table query is a registered query") {
    val missing = Trial.GrowthTables.values.flatMap(_.queries)
      .filterNot(SparkEntry.queries.contains)
    assert(missing.isEmpty, missing.mkString(", "))
  }

  test("arguments fail before any twin is built") {
    def bad(args: String*) =
      intercept[IllegalArgumentException](Trial.parse(args.toArray))
    bad("nosuchmode", base)
    bad("scale", base, "2", "/tmp/w", "q01_pricing_summary,q999_nope")
    bad("scale", base, "2", "/tmp/w", "counts")
    bad("ingest", base, "2", "/tmp/w", "q01_pricing_summary")
    assert(Trial.parse(Array("embed", base, "2", "/tmp/w", "counts")) ==
      Trial.Args("embed", base, 2, "/tmp/w", Some("counts")))
    assert(Trial.parse(Array("media-artifact", base)).factor == 10)
  }

  test("each mode's twin at factor 2: ruled tables double with disjoint " +
      "ids and replica 0 equal to the base, the rest copied, built once") {
    val root = Artifacts.tempDir("graft_trialspec_")
    for ((mode, twins) <- Trial.Twins.toSeq.sortBy(_._1)
        if mode != "ingest"; twin <- twins) {
      val out = root.resolve(s"$mode${twin.suffix}")
      Trial.buildTwin(spark, base, out.toString, 2, twin.rules)
      val tables = new java.io.File(base).list().toSeq
        .map(_.stripSuffix(".parquet")) ++ twin.rules.keys
      for (t <- tables.distinct) {
        val (b, g) = (table(base, t), table(out.toString, t))
        twin.rules.get(t) match {
          case None => assert(sameRows(b, g), s"$mode: $t is not a copy")
          case Some(rule) =>
            assert(g.count() == 2 * b.count(), s"$mode: $t")
            val (c0, _) = rule.keys.head
            val span = b.agg(max(col(c0))).head.getLong(0) + 1
            assert(sameRows(b, g.filter(col(c0) < span)),
              s"$mode: $t replica 0 differs from the base")
            rule.keys.foreach { case (c, _) =>
              assert(g.select(c).distinct().count() ==
                2 * b.select(c).distinct().count(),
                s"$mode: $t.$c replicas share ids")
            }
        }
      }
      val before = snapshot(out)
      Trial.buildTwin(spark, base, out.toString, 2, twin.rules)
      assert(snapshot(out) == before, s"$mode: the second build wrote")
    }
  }

  test("rolled embeddings reject factor > dim before writing anything") {
    val dim = table(base, "embeddings")
      .select(size(col("embedding"))).head.getInt(0)
    val out = Artifacts.tempDir("graft_trialspec_rolled_").resolve("x")
    val e = intercept[IllegalArgumentException](Trial.buildTwin(spark,
      base, out.toString, dim + 1,
      Map("embeddings" -> Trial.RolledEmbeddings)))
    assert(e.getMessage.contains(s"${dim + 1} > $dim"))
    assert(!Files.exists(out) || Files.list(out).count() == 0)
  }
}
