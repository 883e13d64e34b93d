package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Summary statistics — the reference's A1 operator
  * (`/root/reference/dags/my_data_pipeline.py:212`, pandas
  * `df.describe()`: count/mean/std/min/25%/50%/75%/max per numeric
  * column).
  *
  * Two paths:
  *  - [[exact]] — oracle-grade: decimal-exact mean/stddev (order
  *    independent; see [[graft.functions.Exact]]) and true
  *    `percentile` quartiles (pandas-style linear interpolation,
  *    matching DuckDB `quantile_cont`). One aggregation pass per
  *    column, unioned — each pass is a single shuffle-free partial agg
  *    (percentile is the only memory-heavy piece).
  *  - [[exactLarge]] — the same values with the quartiles taken by
  *    the scale-safe [[exactQuantilesMulti]] pass (q50).
  */
object Describe {

  /** pandas-describe-compatible stats for the given numeric columns,
    * one output row per column. Stddev is the sample (ddof=1) form
    * computed from exact decimal sums: sqrt((Σx² - (Σx)²/n)/(n-1)).
    *
    * All columns are aggregated in ONE pass over the table (a single
    * partial+final aggregate, no per-column rescan); the wide 1-row
    * result is then exploded to the per-column long layout driver-side
    * shape. */
  def exact(df: DataFrame, cols: Seq[String]): DataFrame = {
    val aggs = cols.flatMap { c =>
      val dec = col(c).cast("decimal(18,2)")
      Seq(
        count(col(c)).as(s"${c}__n"),
        sum(dec).cast("double").as(s"${c}__s"),
        sum(dec * dec).cast("double").as(s"${c}__s2"),
        min(col(c)).cast("double").as(s"${c}__min"),
        percentile(col(c), lit(0.25)).as(s"${c}__p25"),
        percentile(col(c), lit(0.5)).as(s"${c}__p50"),
        percentile(col(c), lit(0.75)).as(s"${c}__p75"),
        max(col(c)).cast("double").as(s"${c}__max"))
    }
    val wide = df.agg(aggs.head, aggs.tail: _*)
    val rows = cols.map { c =>
      val n = col(s"${c}__n")
      val s = col(s"${c}__s")
      val s2 = col(s"${c}__s2")
      struct(
        lit(c).as("column"), n.as("n"),
        (s / n).as("mean"),
        sqrt((s2 - s * s / n) / (n - lit(1))).as("stddev"),
        col(s"${c}__min").as("min"), col(s"${c}__p25").as("p25"),
        col(s"${c}__p50").as("p50"), col(s"${c}__p75").as("p75"),
        col(s"${c}__max").as("max"))
    }
    wide.select(explode(array(rows: _*)).as("r")).select(col("r.*"))
      .orderBy(col("column"))
  }

  /** Exact linear-interpolation quantiles for MANY columns in one
    * shared pass. The columns are stacked into long format
    * `(name, v)`, value-counted with a single domain-sized
    * groupBy(name, v) shuffle, and the <= 2·|probs| boundary values per
    * column are located by a distributed running rank
    * ([[rankedBoundaryMulti]]) — no per-column rescans, no global
    * window, 3 jobs total for ANY number of columns. Interpolation is
    * the weighted (1-d)·lo + d·hi form — bit-identical to both DuckDB
    * `quantile_cont` and Spark `percentile`. Columns that are
    * entirely NULL map to NaN quantiles. */
  private[graft] def exactQuantilesMulti(df: DataFrame, cols: Seq[String],
      probs: Seq[Double],
      hints: Map[String, (Long, Double, Double)] = Map.empty)
      : Map[String, Seq[Double]] = {
    if (probs.isEmpty) return cols.map(_ -> Seq.empty[Double]).toMap
    val counts = df
      .select(explode(array(cols.map(c =>
        struct(lit(c).as("name"), col(c).cast("double").as("v"))): _*)).as("e"))
      .select(col("e.name").as("name"), col("e.v").as("v"))
      .filter(col("v").isNotNull)
      .groupBy(col("name"), col("v"))
      .agg(count(lit(1)).as("cnt"))
      .persist()
    try {
      // When the caller already holds (n, min, max) per column —
      // exactLarge's moments pass does — the bucket boundaries are
      // uniform-width splits of [min, max] computed for free (skew in
      // the VALUE DOMAIN can unbalance the per-bucket windows, but
      // never past one bucket's share of the domain); no
      // boundary-estimation job runs.
      val metaHint: Option[Map[String, (Long, Seq[Double])]] =
        if (cols.forall(hints.contains)) {
          val parts = boundaryParts(df)
          Some(cols.map { c =>
            val (n, mn, mx) = hints(c)
            val w = (mx - mn) / parts
            val b = if (n == 0 || !(w > 0)) Seq.empty[Double]
              else (1 until parts).map(i => mn + i * w)
            c -> (n, b.distinct.sorted)
          }.toMap)
        } else None
      val got = quantilesFromCounts(counts, probs, metaHint)
      cols.map(c => c -> got.getOrElse(c, probs.map(_ => Double.NaN))).toMap
    } finally counts.unpersist(false)
  }

  /** Exact quantiles of `cols` PER GROUP of `groupCol` — the
    * scale-safe replacement for Spark's `percentile` in a grouped
    * aggregate (which holds every distinct value of every group in
    * per-partition hashmaps; VERDICT round-1 flagged that as an OOM
    * risk at 100x). Here each (group, column) pair becomes one `name`
    * in the same counts + distributed-rank machinery as
    * [[exactQuantilesMulti]]: one domain-sized shuffle, a bounded
    * boundary probe, nothing data-sized on any single node. Driver
    * state is O(groups x columns x probs) — fine for reporting-grade
    * group counts; regroup upstream for millions of groups. */
  private[graft] def groupedExactQuantiles(df: DataFrame, groupCol: String,
      cols: Seq[String], probs: Seq[Double])
      : Map[(String, String), Seq[Double]] = {
    if (probs.isEmpty) return Map.empty
    val sep = "\u0001" // never appears in the group values we target
    val counts = df.filter(col(groupCol).isNotNull)
      .select(col(groupCol).cast("string").as("g"),
        explode(array(cols.map(c =>
          struct(lit(c).as("c"), col(c).cast("double").as("v"))): _*)).as("e"))
      .select(concat(col("g"), lit(sep), col("e.c")).as("name"),
        col("e.v").as("v"))
      .filter(col("v").isNotNull)
      .groupBy(col("name"), col("v"))
      .agg(count(lit(1)).as("cnt"))
      .persist()
    try {
      quantilesFromCounts(counts, probs, None).map { case (nm, qs) =>
        val i = nm.indexOf(sep)
        (nm.substring(0, i), nm.substring(i + sep.length)) -> qs
      }
    } finally counts.unpersist(false)
  }

  private def boundaryParts(df: DataFrame): Int = math.max(32,
    2 * df.sparkSession.sparkContext.defaultParallelism)

  /** Shared core over a persisted `(name, v, cnt)` frame: derive per-
    * name row count + bucket boundaries (one agg job, unless supplied
    * via `metaHint`), locate the wanted rank boundaries with
    * [[rankedBoundaryMulti]], interpolate driver-side. Names whose
    * count is 0 are absent from the result. */
  private def quantilesFromCounts(counts: DataFrame, probs: Seq[Double],
      metaHint: Option[Map[String, (Long, Seq[Double])]])
      : Map[String, Seq[Double]] = {
    val parts = boundaryParts(counts)
    val meta: Map[String, (Long, Seq[Double])] = metaHint.getOrElse(
      counts.groupBy(col("name"))
        .agg(
          sum(col("cnt")).as("n"),
          approx_percentile(col("v"),
            array((1 until parts).map(i => lit(i.toDouble / parts)): _*),
            lit(10000)).as("q"))
        .collect()
        .map(r => r.getAs[String]("name") ->
          (r.getAs[Long]("n"),
            Option(r.getSeq[Double](r.fieldIndex("q")))
              .getOrElse(Seq.empty).distinct.sorted))
        .toMap)
    // n == 0 (all-NULL name) is simply absent from the result
    val positions = meta.collect { case (nm, (n, _)) if n > 0 =>
      nm -> probs.map { p =>
        val h = p * (n - 1)
        (h, math.floor(h).toLong, math.ceil(h).toLong)
      }
    }
    if (positions.isEmpty) return Map.empty
    val wanted = positions.map { case (nm, pos) =>
      nm -> pos.flatMap(x => Seq(x._2, x._3)).distinct.sorted
    }
    val boundary = rankedBoundaryMulti(
        counts, wanted, meta.map { case (nm, (_, b)) => nm -> b })
      .filter(wanted.map { case (nm, ws) =>
        col("name") === nm && ws.map(i => col("cum") > i &&
          (col("cum") - col("cnt")) <= i).reduce(_ || _)
      }.reduce(_ || _))
      .select(col("name"), col("v"), col("cnt"), col("cum"))
      .collect()
    positions.map { case (nm, pos) =>
      // value at 0-based sorted index i is the first v with cum > i
      val at = wanted(nm).map { i =>
        i -> boundary.find(r => r.getAs[String]("name") == nm &&
          r.getAs[Long]("cum") > i &&
          r.getAs[Long]("cum") - r.getAs[Long]("cnt") <= i).get
          .getAs[Double]("v")
      }.toMap
      nm -> pos.map { case (h, lo, hi) =>
        val (vl, vh) = (at(lo), at(hi))
        val d = h - lo
        // weighted form — bit-identical to BOTH DuckDB quantile_cont
        // and Spark percentile (lo + d*(hi-lo) is mathematically equal
        // but rounds differently once d itself is inexact, e.g. p=0.9)
        (1.0 - d) * vl + d * vh
      }
    }
  }

  /** Distributed running rank over per-column distinct-value counts
    * `(name, v, cnt)`, with NO global window: each column's value
    * domain is split into range buckets by the caller-supplied
    * boundaries (embedded as LITERALS so bucket id is a deterministic
    * pure function of (name, v) — consistent across jobs by
    * construction), the cumulative sum runs WITHIN each (name, bucket)
    * in parallel, and each bucket's starting offset — a driver-side
    * prefix over the per-bucket totals (#buckets rows,
    * O(columns·parallelism)) — is added back. Only buckets that can
    * contain a wanted rank are probed, so the final window touches a
    * |wanted|-bounded subset of buckets. Returns rows with `name`,
    * `v`, `cnt` and the exact per-column running count `cum`. */
  private[graft] def rankedBoundaryMulti(counts: DataFrame,
      wanted: Map[String, Seq[Long]],
      bnds: Map[String, Seq[Double]]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val names = bnds.keys.toSeq.sorted
    // per-name boundary arrays as one map literal; bucket id = #bounds <= v
    // (the higher-order filter runs on the domain-sized counts, not data)
    val bndMap = map(names.flatMap(nm =>
      Seq(lit(nm), typedLit(bnds(nm)))): _*)
    val bucketed = counts.withColumn("b",
      coalesce(size(filter(try_element_at(bndMap, col("name")),
        x => x <= col("v"))), lit(0)))
    val totals = bucketed.groupBy(col("name"), col("b"))
      .agg(sum(col("cnt")).as("bc"))
      .collect()
      .map(r => (r.getAs[String]("name"), r.getAs[Int]("b"),
        r.getAs[Long]("bc")))
      .groupBy(_._1)
    val needed = totals.toSeq.flatMap { case (nm, ts) =>
      var running = 0L
      ts.sortBy(_._2).flatMap { case (_, b, bc) =>
        val off = running; running += bc
        val want = wanted.getOrElse(nm, Seq.empty)
        if (want.exists(i => i >= off && i < off + bc)) Some((nm, b, off))
        else None
      }
    }
    if (needed.isEmpty) return bucketed.filter(lit(false))
      .withColumn("cum", lit(0L))
    def key(nm: String, b: Column) = concat(lit(nm + "#"), b.cast("string"))
    val keyCol = concat(col("name"), lit("#"), col("b").cast("string"))
    val offExpr = try_element_at(
      map(needed.flatMap { case (nm, b, off) =>
        Seq(key(nm, lit(b)), lit(off))
      }: _*), keyCol)
    val wLocal = Window.partitionBy(col("name"), col("b")).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, 0)
    bucketed
      .filter(keyCol.isin(needed.map { case (nm, b, _) => s"$nm#$b" }: _*))
      .withColumn("cum", sum(col("cnt")).over(wLocal) + offExpr)
  }

  /** [[exact]] for big/near-continuous data: moments for ALL columns
    * in one scan, quartiles for ALL columns in one shared
    * [[exactQuantilesMulti]] pass (domain-sized counts instead of
    * Percentile's all-distinct-values hashmap) — 3 jobs total
    * regardless of column count (the moments row supplies the n/min/
    * max hints, so no boundary-estimation job runs). Values are bit-identical to
    * [[exact]]; the result is assembled driver-side from the collected
    * scalars. */
  def exactLarge(df: DataFrame, cols: Seq[String]): DataFrame = {
    val spark = df.sparkSession
    val aggs = cols.flatMap { c =>
      val dec = col(c).cast("decimal(18,2)")
      Seq(count(col(c)), sum(dec).cast("double"),
        sum(dec * dec).cast("double"), min(col(c)).cast("double"),
        max(col(c)).cast("double"))
    }
    val r = df.agg(aggs.head, aggs.tail: _*).head()
    // (n, min, max) from the moments row → the quantile pass can
    // bucket on uniform ranges with no boundary-estimation job
    val hints = cols.map { c =>
      val b = cols.indexOf(c) * 5
      c -> (r.getLong(b),
        if (r.isNullAt(b + 3)) 0.0 else r.getDouble(b + 3),
        if (r.isNullAt(b + 4)) 0.0 else r.getDouble(b + 4))
    }.toMap
    val quartiles = exactQuantilesMulti(df, cols, Seq(0.25, 0.5, 0.75), hints)
    val rows = cols.sorted.map { c =>
      val b = cols.indexOf(c) * 5
      val n = r.getLong(b)
      // no non-NULL value: the sums are NULL, and so is every stat
      // [[exact]] reports
      if (n == 0) org.apache.spark.sql.Row(c, n, null, null, null, null,
        null, null, null)
      else {
        val s = r.getDouble(b + 1)
        val s2 = r.getDouble(b + 2)
        val qs = quartiles(c)
        org.apache.spark.sql.Row(c, n, s / n,
          math.sqrt((s2 - s * s / n) / (n - 1)), r.getDouble(b + 3),
          qs(0), qs(1), qs(2), r.getDouble(b + 4))
      }
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("column",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("n",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("mean",
          org.apache.spark.sql.types.DoubleType),
        org.apache.spark.sql.types.StructField("stddev",
          org.apache.spark.sql.types.DoubleType),
        org.apache.spark.sql.types.StructField("min",
          org.apache.spark.sql.types.DoubleType),
        org.apache.spark.sql.types.StructField("p25",
          org.apache.spark.sql.types.DoubleType),
        org.apache.spark.sql.types.StructField("p50",
          org.apache.spark.sql.types.DoubleType),
        org.apache.spark.sql.types.StructField("p75",
          org.apache.spark.sql.types.DoubleType),
        org.apache.spark.sql.types.StructField("max",
          org.apache.spark.sql.types.DoubleType))))
  }

  /** Plain-text report block, mirroring the reference's
    * `describe().to_string()` email body (F1,
    * my_data_pipeline.py:209-216). Driver-side formatting of an
    * already-aggregated (tiny) result. */
  def report(title: String, described: DataFrame): String = {
    val rows = described.collect()
    val header = described.columns.map(c => f"$c%14s").mkString
    val body = rows.map(_.toSeq.map {
      case d: Double => f"$d%14.4f"
      case v => f"${String.valueOf(v)}%14s"
    }.mkString).mkString("\n")
    s"Summary statistics for $title:\n$header\n$body"
  }

  private val LineitemCols =
    Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q50_describe_lineitem" ->
      ((s, d) => exactLarge(Tables(s, d).lineitem, LineitemCols))
  )

  // DuckDB's direct DECIMAL->DOUBLE cast is not correctly rounded for
  // values whose scaled magnitude exceeds 2^53 (observed 1-ulp error on
  // the sf0.1 sum of squares); the VARCHAR round-trip IS correctly
  // rounded and therefore bit-matches Spark's BigDecimal.doubleValue.
  private def d(expr: String): String =
    s"CAST(CAST($expr AS VARCHAR) AS DOUBLE)"

  private def describeSql(c: String): String =
    s"""SELECT '$c' AS "column", COUNT($c) AS n,
       |  ${d(s"SUM(CAST($c AS DECIMAL(18,2)))")} / COUNT($c) AS mean,
       |  sqrt((${d(s"SUM(CAST($c AS DECIMAL(18,2)) * CAST($c AS DECIMAL(18,2)))")}
       |    - ${d(s"SUM(CAST($c AS DECIMAL(18,2)))")}
       |      * ${d(s"SUM(CAST($c AS DECIMAL(18,2)))")} / COUNT($c))
       |    / (COUNT($c) - 1)) AS stddev,
       |  CAST(MIN($c) AS DOUBLE) AS min,
       |  quantile_cont($c, 0.25) AS p25,
       |  quantile_cont($c, 0.5) AS p50,
       |  quantile_cont($c, 0.75) AS p75,
       |  CAST(MAX($c) AS DOUBLE) AS max
       |FROM lineitem""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "q50_describe_lineitem" ->
      (LineitemCols.map(describeSql).mkString("", "\nUNION ALL\n", "\n") +
        """ORDER BY "column"""")
  )
}
