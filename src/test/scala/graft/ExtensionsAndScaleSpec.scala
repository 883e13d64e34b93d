package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Skew

class ExtensionsAndScaleSpec extends AnyFunSuite {
  lazy val spark = SharedSession.spark
  import spark.implicits._

  private def t = Tables(spark, "/root/testdata/sf0.001")

  test("GraftExtensions wires the custom expressions into SQL") {
    // the injection hook itself must accept our extension cleanly
    new graft.plans.GraftExtensions()(
      new org.apache.spark.sql.SparkSessionExtensions)
    // and the same registrations work against a live function registry
    // (getOrCreate would reuse the shared test session, so register
    // directly — identical code path to what injectFunction installs)
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_dot",
      exprs => graft.plans.DotProductExpr(exprs(0), exprs(1)),
      "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_sorted_shingles",
      exprs => graft.plans.SortedShinglesExpr(exprs(0), 3),
      "built-in")
    val d = spark.sql(
      "SELECT graft_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d")
      .head.getDouble(0)
    assert(d == 11.0)
    val sh = spark.sql(
      "SELECT graft_sorted_shingles('c b a x y', 3) AS s")
      .head.getSeq[String](0)
    assert(sh == Seq("a x y", "b a x", "c b a").sorted)
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_jump_shard",
      exprs => graft.plans.JumpHashExpr(exprs(0), 16),
      "built-in")
    val js = spark.sql("SELECT graft_jump_shard(42L, 16) AS s")
      .head.getInt(0)
    assert(js == graft.plans.JumpHashExpr.jump(42L, 16))
  }

  test("salted join result equals the plain join") {
    val li = t.lineitem.select("l_orderkey", "l_quantity")
    val o = t.orders.select("o_orderkey", "o_totalprice")
      .withColumnRenamed("o_orderkey", "l_orderkey")
    val plain = li.join(o, "l_orderkey")
    val salted = Skew.saltedJoin(li, o, "l_orderkey", factor = 4)
    assert(plain.count() == salted.count())
    val a = plain.groupBy("l_orderkey").count()
    val b = salted.groupBy("l_orderkey").count()
    assert(a.except(b).isEmpty && b.except(a).isEmpty)
  }

  test("bucketed tables co-locate: bucketed join plans without shuffle") {
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")
    // a previous JVM may have left the managed locations behind
    for (t <- Seq("b_orders", "b_lineitem")) {
      val dir = new java.io.File(s"spark-warehouse/$t")
      if (dir.exists()) {
        dir.listFiles().foreach(_.delete())
        dir.delete()
      }
    }
    t.orders.write.mode("overwrite")
      .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .saveAsTable("b_orders")
    t.lineitem.groupBy("l_orderkey")
      .agg(count(lit(1)).as("n_lines")).write.mode("overwrite")
      .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .saveAsTable("b_lineitem")
    val joined = spark.table("b_orders")
      .join(spark.table("b_lineitem"),
        col("o_orderkey") === col("l_orderkey"))
    val exchanges = joined.queryExecution.executedPlan.collect {
      case e: ShuffleExchangeExec => e
    }
    assert(exchanges.isEmpty,
      s"bucketed join should not shuffle, got: $exchanges")
    assert(joined.count() > 0)
  }

  test("TPC-H hard shapes broadcast their dims and avoid cartesian joins") {
    import graft.operators.TpchShapes
    // q79: both nation dims (and the supplier-nation composite) must
    // plan as broadcast joins; the only non-broadcast join is the
    // fact-fact lineitem-orders shuffle
    val p79 = TpchShapes.nationTradeVolume(t)
      .queryExecution.executedPlan.toString
    assert(p79.contains("BroadcastHashJoin"), p79)
    assert(!p79.contains("CartesianProduct"), p79)
    // q76: the brand part filter is broadcast below the correlated
    // aggregate; no cartesian anywhere
    val p76 = TpchShapes.smallQuantityRevenue(t)
      .queryExecution.executedPlan.toString
    assert(p76.contains("BroadcastHashJoin"), p76)
    assert(!p76.contains("CartesianProduct"), p76)
    // q77: the scalar MAX joins back as a broadcast nested loop over
    // ONE row — never a cartesian of two real relations
    val p77 = TpchShapes.topSupplier(t)
      .queryExecution.executedPlan.toString
    assert(!p77.contains("CartesianProduct"), p77)
  }

  test("partitioned parquet sink enables partition pruning on read") {
    val dir = java.nio.file.Files.createTempDirectory("graft_part").toString
    val docs = t.documents
    graft.sinks.Sinks.parquetPartitioned(docs, s"$dir/docs", "lang")
    val read = spark.read.parquet(s"$dir/docs").filter(col("lang") === "en")
    val scan = read.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.head
    // pruning happened: only the lang=en directory is selected
    assert(scan.metadata("PartitionFilters").contains("lang"))
    assert(read.count() == docs.filter(col("lang") === "en").count())
    // and the scan reports the pruned selection (1 of 5 lang dirs)
    assert(scan.metadata("Location").contains(s"$dir/docs"))
    val pruned = scan.metrics.get("numFiles")
    read.count() // populate metrics
    val totalParts = new java.io.File(s"$dir/docs").listFiles()
      .count(_.getName.startsWith("lang="))
    assert(totalParts == 5)
  }
}
