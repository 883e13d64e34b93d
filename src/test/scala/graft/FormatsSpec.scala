package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Source/sink format breadth: parquet / ORC / JSON / CSV round-trips
  * through the same DataFrame path the JSON air-quality source uses. */
class FormatsSpec extends AnyFunSuite {
  lazy val spark = SharedSession.spark

  private def docs = Tables(spark, "/root/testdata/sf0.001").documents

  private def roundTrip(fmt: String,
      opts: Map[String, String] = Map.empty): Unit = {
    val dir = java.nio.file.Files
      .createTempDirectory(s"graft_$fmt").toString + "/out"
    val w = docs.write.mode("overwrite").options(opts)
    w.format(fmt).save(dir)
    var r = spark.read.options(opts).format(fmt)
    val back = (fmt match {
      case "csv" | "json" => r.schema(docs.schema).load(dir)
      case _ => r.load(dir)
    }).select(docs.columns.map(col): _*)
    assert(back.count() == docs.count(), s"$fmt count")
    assert(back.except(docs).isEmpty && docs.except(back).isEmpty,
      s"$fmt values")
  }

  test("parquet round trip")(roundTrip("parquet"))
  test("orc round trip")(roundTrip("orc"))
  test("json round trip")(roundTrip("json"))
  test("csv round trip")(
    roundTrip("csv", Map("header" -> "true", "quote" -> "\"",
      "escape" -> "\"")))

  test("schema evolution: mergeSchema unifies old and new writers") {
    // v1 files lack the column a later writer added — the reader must
    // surface the union schema with nulls for pre-evolution rows
    val dir = java.nio.file.Files
      .createTempDirectory("graft_evolve").toString
    docs.select(col("doc_id"), col("lang"))
      .write.parquet(s"$dir/v=1")
    docs.select(col("doc_id"), col("lang"), col("n_chars"))
      .write.parquet(s"$dir/v=2")
    val merged = spark.read.option("mergeSchema", "true")
      .parquet(s"$dir/v=1", s"$dir/v=2")
    assert(merged.columns.toSet == Set("doc_id", "lang", "n_chars"))
    val n = docs.count()
    assert(merged.count() == 2 * n)
    assert(merged.filter(col("n_chars").isNull).count() == n)
    assert(merged.filter(col("n_chars").isNotNull).count() == n)
  }
}
