package graft.layerbench

import org.apache.spark.sql.SparkSession

/** One small local session shared by the specs of this build. */
object LocalSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder().master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
