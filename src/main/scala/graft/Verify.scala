package graft
import java.nio.file.{Files, Paths}
import scala.util.control.NonFatal
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    // optional third arg: only run queries whose name starts with this
    // prefix (developer loop; the driver always passes two args)
    val prefix = if (args.length > 2) args(2) else ""
    val spark = Bench.session()
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.foreach { case (name, fn) =>
      if (name.startsWith(prefix))
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case NonFatal(e) =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        }
    }
    // escaped: a tab or CR in hand-written SQL must not make the
    // checker's JSON parse fail and silently zero the correctness run
    val json = SparkEntry.oracleSql.map { case (k, v) =>
      "\"" + Bench.jsonEscape(k) + "\": \"" + Bench.jsonEscape(v) + "\""
    }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
