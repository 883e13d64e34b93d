package graft

/** Dump each named query's formatted plan, then run it through the
  * noop sink and print its wall time. The session is
  * [[Bench.timingSession]], so the dumped plans are the benchmarked
  * plans. Usage: `runMain graft.Explain q28_minhash_dedup ...` with
  * `SPARK_GRAFT_SF_DIR` naming the lake (default sf0.1). */
object Explain {
  def main(args: Array[String]): Unit = {
    val spark = Bench.timingSession()
    val sf = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    for (name <- args) {
      println(s"========== $name ==========")
      val df = SparkEntry.queries(name)(spark, sf)
      println(df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      println(s"--- $name took ${(System.nanoTime()-t0)/1e9}s")
    }
    spark.stop()
  }
}
