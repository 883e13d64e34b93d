package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Scalar / date / window / reshape function breadth — the library's
  * coverage of the everyday expression surface (each function used in
  * at least one oracle-checked query).
  *
  * Deliberately excluded from oracle checks: transcendentals
  * (log/exp/pow) whose libm implementations are not guaranteed
  * correctly-rounded across engines — sqrt IS IEEE-exact and is used
  * in Describe/Similarity. */
object FunctionBreadth {

  /** Math + conditional scalars over lineitem. */
  def mathScalars(t: Tables): DataFrame =
    t.lineitem
      .filter(col("l_linenumber") === 1 && col("l_orderkey") <= 2000)
      .select(
        col("l_orderkey"),
        abs(col("l_quantity") - 25).as("abs_dev"),
        round(col("l_extendedprice") / 1000, 1).as("price_k"),
        floor(col("l_quantity") / 7).as("qty_div7"),
        ceil(col("l_extendedprice") / 10000).as("price_ceil_10k"),
        pmod(col("l_orderkey"), lit(7)).as("key_mod7"),
        greatest(col("l_discount"), col("l_tax")).as("max_rate"),
        least(col("l_discount"), col("l_tax")).as("min_rate"),
        signum(col("l_quantity") - 25).as("dev_sign"),
        when(col("l_quantity") >= 40, "high")
          .when(col("l_quantity") >= 15, "mid")
          .otherwise("low").as("qty_band"),
        nullif(col("l_discount"), lit(0.0)).as("nonzero_disc"),
        coalesce(nullif(col("l_discount"), lit(0.0)), lit(-1.0))
          .as("disc_or_flag"))
      .orderBy(col("l_orderkey"))

  /** Date/time scalar functions over orders. */
  def dateScalars(t: Tables): DataFrame =
    t.orders
      .filter(col("o_orderkey") <= 2000)
      .select(
        col("o_orderkey"),
        year(col("o_orderdate")).as("y"),
        month(col("o_orderdate")).as("m"),
        dayofmonth(col("o_orderdate")).as("d"),
        quarter(col("o_orderdate")).as("q"),
        (dayofweek(col("o_orderdate")) - 1).as("dow0"), // 0=Sunday
        dayofyear(col("o_orderdate")).as("doy"),
        date_add(col("o_orderdate").cast("date"), 30).as("due_date"),
        last_day(col("o_orderdate")).as("month_end"),
        datediff(lit("2002-01-01").cast("date"),
          col("o_orderdate").cast("date")).as("days_to_2002"))
      .orderBy(col("o_orderkey"))

  /** Window-function suite over orders per customer: offsets, ranks,
    * running (decimal-exact) sums, distribution functions. */
  def windowSuite(t: Tables): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    val wRunning = w.rowsBetween(Window.unboundedPreceding, 0)
    t.orders
      .filter(col("o_custkey") <= 300)
      .select(
        col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
        col("o_totalprice"),
        lag(col("o_totalprice"), 1).over(w).as("prev_price"),
        lead(col("o_totalprice"), 1).over(w).as("next_price"),
        row_number().over(w).as("rn"),
        rank().over(
          Window.partitionBy(col("o_custkey"))
            .orderBy(col("o_orderstatus"))).as("status_rank"),
        dense_rank().over(
          Window.partitionBy(col("o_custkey"))
            .orderBy(col("o_orderstatus"))).as("status_dense_rank"),
        ntile(4).over(w).as("quartile"),
        percent_rank().over(w).as("pr"),
        cume_dist().over(w).as("cd"),
        sum(col("o_totalprice").cast("decimal(18,2)")).over(wRunning)
          .cast("double").as("running_total"),
        first(col("o_orderkey")).over(wRunning).as("first_key"),
        max(col("o_totalprice")).over(wRunning).as("running_max"))
      .orderBy(col("o_custkey"), col("o_orderdate"), col("o_orderkey"))
  }

  /** Time-RANGE rolling window + IGNORE NULLS carry-forward — the two
    * window features [[windowSuite]] doesn't reach: a 30-day
    * rolling order total via rangeBetween over an epoch-day ordering
    * (tie rows are peers, identically in both engines), and
    * last-observation-carried-forward of the most recent finished
    * order's price via last(ignoreNulls). Decimal window sums keep
    * the rolling totals exact. */
  def rollingRange(t: Tables): DataFrame = {
    val o = t.orders.filter(col("o_custkey") <= 300)
      .withColumn("day_num",
        datediff(col("o_orderdate"), lit("1970-01-01")))
    val wRange = Window.partitionBy(col("o_custkey")).orderBy(col("day_num"))
      .rangeBetween(-30, Window.currentRow)
    val wRows = Window.partitionBy(col("o_custkey"))
      .orderBy(col("day_num"), col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    o.select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
      sum(col("o_totalprice").cast("decimal(18,2)")).over(wRange)
        .cast("double").as("rolling_30d_total"),
      last(when(col("o_orderstatus") === "F", col("o_totalprice")),
        ignoreNulls = true).over(wRows).as("last_finished_price"))
      .orderBy(col("o_custkey"), col("o_orderdate"), col("o_orderkey"))
  }

  /** Wide -> long unpivot of the four lineitem measures (stack). */
  def unpivotMeasures(t: Tables): DataFrame =
    t.lineitem
      .filter(col("l_orderkey") <= 500)
      .select(col("l_orderkey"), col("l_linenumber"),
        expr("""stack(4,
          'quantity', l_quantity,
          'extendedprice', l_extendedprice,
          'discount', l_discount,
          'tax', l_tax) as (measure, value)"""))
      .orderBy(col("l_orderkey"), col("l_linenumber"), col("measure"))

  /** Correlation + least-squares regression of extendedprice on
    * quantity, per returnflag — built from exact decimal moments
    * rather than the engine's streaming `corr` (whose co-moment
    * updates are order-dependent and so never hash-stable). All six
    * sums are exact; the closed-form formulas then run in double,
    * identically in both engines. */
  def corrRegression(t: Tables): DataFrame = {
    val x = col("l_quantity").cast("decimal(18,2)")
    val y = col("l_extendedprice").cast("decimal(18,2)")
    t.lineitem.groupBy(col("l_returnflag"))
      .agg(
        count(lit(1)).as("n"),
        sum(x).cast("double").as("sx"),
        sum(y).cast("double").as("sy"),
        sum(x * y).cast("double").as("sxy"),
        sum(x * x).cast("double").as("sxx"),
        sum(y * y).cast("double").as("syy"))
      .select(
        col("l_returnflag"),
        col("n"),
        ((col("n") * col("sxy") - col("sx") * col("sy")) /
          (sqrt(col("n") * col("sxx") - col("sx") * col("sx")) *
            sqrt(col("n") * col("syy") - col("sy") * col("sy"))))
          .as("corr_qty_price"),
        ((col("n") * col("sxy") - col("sx") * col("sy")) /
          (col("n") * col("sxx") - col("sx") * col("sx")))
          .as("slope"),
        (col("sy") / col("n") -
          ((col("n") * col("sxy") - col("sx") * col("sy")) /
            (col("n") * col("sxx") - col("sx") * col("sx"))) *
            (col("sx") / col("n"))).as("intercept"))
      .orderBy(col("l_returnflag"))
  }

  /** Exact Pearson correlation MATRIX over the numeric fact columns —
    * the multicollinearity/feature-audit card next to q153's per-
    * column stats (a |cols|² relation a warehouse review and a
    * feature store both read; engine `corr` is order-dependent and
    * never hash-stable, q69's lesson). ONE pass accumulates every
    * moment — |cols| sums, |cols| self-products, C(|cols|,2) cross
    * products — as exact decimals (partial-aggregatable map-side, a
    * single 1-row result at any corpus size); the closed forms then
    * run in double identically cross-engine. Long-format upper
    * triangle, totally ordered. */
  def corrMatrix(t: Tables,
      cols: Seq[String] = Seq("l_discount", "l_extendedprice",
        "l_quantity", "l_tax")): DataFrame = {
    val sorted = cols.sorted
    val pairs = for {
      i <- sorted.indices; j <- (i + 1) until sorted.size
    } yield (sorted(i), sorted(j))
    def dec(c: String) = col(c).cast("decimal(18,2)")
    val aggs =
      sorted.map(c => sum(dec(c)).cast("double").as(s"s_$c")) ++
        sorted.map(c => sum(dec(c) * dec(c)).cast("double")
          .as(s"ss_$c")) ++
        pairs.map { case (a, b) =>
          sum(dec(a) * dec(b)).cast("double").as(s"sp_${a}_$b")
        }
    val one = t.lineitem.agg(count(lit(1)).as("n"), aggs: _*)
    val stackExpr = s"stack(${pairs.size}, " + pairs.map { case (a, b) =>
      s"'$a', '$b', (n * sp_${a}_$b - s_$a * s_$b) / " +
        s"(sqrt(n * ss_$a - s_$a * s_$a) * " +
        s"sqrt(n * ss_$b - s_$b * s_$b))"
    }.mkString(", ") + ") as (col_x, col_y, corr)"
    one.selectExpr("n", stackExpr)
      .select(col("col_x"), col("col_y"), col("n"), col("corr"))
      .orderBy(col("col_x"), col("col_y"))
  }

  /** q305's DuckDB twin, generated from the SAME sorted column list
    * and pair enumeration (q69's VARCHAR round-trip for every decimal
    * sum — direct decimal→double is 1 ulp off past 2^53 scaled). */
  private[operators] def corrMatrixSql(
      cols: Seq[String] = Seq("l_discount", "l_extendedprice",
        "l_quantity", "l_tax")): String = {
    val sorted = cols.sorted
    val pairs = for {
      i <- sorted.indices; j <- (i + 1) until sorted.size
    } yield (sorted(i), sorted(j))
    def d(e: String) = s"CAST(CAST($e AS VARCHAR) AS DOUBLE)"
    def dc(c: String) = s"CAST($c AS DECIMAL(18,2))"
    val sums =
      sorted.map(c => s"${d(s"SUM(${dc(c)})")} AS s_$c") ++
        sorted.map(c => s"${d(s"SUM(${dc(c)} * ${dc(c)})")} AS ss_$c") ++
        pairs.map { case (a, b) =>
          s"${d(s"SUM(${dc(a)} * ${dc(b)})")} AS sp_${a}_$b"
        }
    val branches = pairs.map { case (a, b) =>
      s"""SELECT '$a' AS col_x, '$b' AS col_y, n,
         |  (n * sp_${a}_$b - s_$a * s_$b) /
         |    (sqrt(n * ss_$a - s_$a * s_$a) *
         |     sqrt(n * ss_$b - s_$b * s_$b)) AS corr
         |FROM s""".stripMargin
    }
    s"""WITH s AS (
       |  SELECT COUNT(*) AS n,
       |    ${sums.mkString(",\n    ")}
       |  FROM lineitem)
       |${branches.mkString("\nUNION ALL\n")}
       |ORDER BY col_x, col_y""".stripMargin
  }

  /** Grouped exact percentiles (linear interpolation, matching
    * quantile_cont bitwise — the weighted `(1-d)*lo + d*hi` form; the
    * algebraically-equal `lo + d*(hi-lo)` drifts 1 ulp whenever `d`
    * is inexact). Routed through
    * [[Describe.groupedExactQuantiles]]'s counts +
    * distributed-rank machinery instead of Spark's `percentile`
    * aggregate, which holds every distinct value of every group in
    * per-partition hashmaps (VERDICT round-1's last remaining
    * 100x-scale risk). A (group, column) whose values are all NULL
    * has no quantiles and surfaces as NaN rather than a crash. */
  def groupedPercentiles(t: Tables): DataFrame = {
    val spark = t.lineitem.sparkSession
    val qs = Describe.groupedExactQuantiles(t.lineitem, "l_returnflag",
      Seq("l_quantity", "l_extendedprice"), Seq(0.5, 0.9))
    def at(g: String, c: String, i: Int): Double =
      qs.get((g, c)).map(_(i)).getOrElse(Double.NaN)
    val rows = qs.keys.map(_._1).toSeq.distinct.sorted.map { g =>
      org.apache.spark.sql.Row(g,
        at(g, "l_quantity", 0), at(g, "l_quantity", 1),
        at(g, "l_extendedprice", 0), at(g, "l_extendedprice", 1))
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("l_returnflag",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("median_qty",
        org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField("p90_qty",
        org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField("median_price",
        org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField("p90_price",
        org.apache.spark.sql.types.DoubleType)))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
  }

  /** Deterministic array aggregation: per-order sorted line numbers
    * and distinct part keys (collect_list/set are unordered by
    * contract; array_sort makes the result hash-stable). The query
    * surface serializes the arrays to canonical CSV strings so every
    * output column is scalar — array-typed result columns are not
    * comparable by the external oracle harness. */
  def collectLines(t: Tables): DataFrame =
    t.lineitem
      .filter(col("l_orderkey") <= 200)
      .groupBy(col("l_orderkey"))
      .agg(
        array_join(array_sort(collect_list(col("l_linenumber")))
          .cast("array<string>"), ",").as("line_numbers"),
        array_join(array_sort(collect_set(col("l_partkey")))
          .cast("array<string>"), ",").as("part_keys"),
        count(lit(1)).as("n_lines"))
      .orderBy(col("l_orderkey"))

  /** Map-typed column surface: events.props parsed to map<string,long>
    * (first-class MapType per SURVEY §1.2), with key/value extraction
    * and map construction round-trip. Keys/values are serialized to
    * canonical CSV strings in the output (scalar columns only — the
    * external oracle harness cannot sort array cells). */
  def mapOps(t: Tables): DataFrame = {
    val m = from_json(col("props"),
      org.apache.spark.sql.types.MapType(
        org.apache.spark.sql.types.StringType,
        org.apache.spark.sql.types.LongType))
    t.events
      .filter(col("event_id") <= 2000)
      .select(
        col("event_id"),
        array_join(array_sort(map_keys(m)), ",").as("prop_keys"),
        element_at(m, "k").as("k_value"),
        size(m).as("n_props"),
        array_join(map_values(m).cast("array<string>"), ",")
          .as("prop_values"))
      .orderBy(col("event_id"))
  }

  /** Ordered-argument aggregate breadth: min_by/max_by (arg-min /
    * arg-max), mode, and exact median per order status. The min_by /
    * max_by / mode winners are provably unique in this data (verified
    * at sf0.01 AND sf0.1) — with ties these aggregates are
    * engine-nondeterministic and could never be oracle-checked. */
  def aggBreadth(t: Tables): DataFrame =
    t.orders.groupBy(col("o_orderstatus"))
      .agg(
        min_by(col("o_orderkey"), col("o_totalprice")).as("cheapest_order"),
        max_by(col("o_orderkey"), col("o_totalprice")).as("priciest_order"),
        // deterministic=true breaks frequency ties to the LOWEST value
        // — engine-independent (DuckDB's mode tie is row-order
        // dependent, and sf0.001 actually has a tie; the oracle
        // replays the same min-among-argmax rule explicitly)
        mode(col("o_orderpriority"), deterministic = true)
          .as("top_priority"),
        median(col("o_totalprice")).as("median_price"),
        count(lit(1)).as("n"))
      .orderBy(col("o_orderstatus"))

  /** Array higher-order functions over the embedding vectors:
    * transform + left-fold aggregate (component sum), filter + size
    * (positive-component count), and an L1 norm — the HOF surface a
    * feature pipeline uses before vectors ever reach an ANN index.
    * Both engines fold left-to-right from a 0.0 seed over the same
    * element order, so the double results are bit-identical. */
  def arrayHofs(t: Tables): DataFrame =
    t.embeddings.select(
      col("vec_id"),
      expr("aggregate(transform(embedding, x -> CAST(x AS DOUBLE)), " +
        "CAST(0.0 AS DOUBLE), (a, x) -> a + x)").as("comp_sum"),
      expr("size(filter(embedding, x -> x > 0))").as("n_pos"),
      expr("aggregate(transform(embedding, x -> abs(CAST(x AS DOUBLE))), " +
        "CAST(0.0 AS DOUBLE), (a, x) -> a + x)").as("l1_norm"))
      .orderBy(col("vec_id"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q96_agg_breadth" -> ((s, d) => aggBreadth(Tables(s, d))),
    "q108_rolling_range" -> ((s, d) => rollingRange(Tables(s, d))),
    "q97_array_hofs" -> ((s, d) => arrayHofs(Tables(s, d))),
    "q72_map_ops" -> ((s, d) => mapOps(Tables(s, d))),
    "q69_corr_regression" -> ((s, d) => corrRegression(Tables(s, d))),
    "q305_corr_matrix" -> ((s, d) => corrMatrix(Tables(s, d))),
    "q70_grouped_percentiles" -> ((s, d) => groupedPercentiles(Tables(s, d))),
    "q71_collect_arrays" -> ((s, d) => collectLines(Tables(s, d))),
    "q52_math_scalars" -> ((s, d) => mathScalars(Tables(s, d))),
    "q53_date_scalars" -> ((s, d) => dateScalars(Tables(s, d))),
    "q54_window_suite" -> ((s, d) => windowSuite(Tables(s, d))),
    "q55_unpivot" -> ((s, d) => unpivotMeasures(Tables(s, d)))
  )

  val oracleSql: Map[String, String] = Map(
    "q108_rolling_range" ->
      """WITH o AS (
        |  SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice,
        |    o_orderstatus,
        |    date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
        |      AS day_num
        |  FROM orders WHERE o_custkey <= 300)
        |SELECT o_custkey, o_orderkey, o_orderdate,
        |  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
        |    PARTITION BY o_custkey ORDER BY day_num
        |    RANGE BETWEEN 30 PRECEDING AND CURRENT ROW) AS VARCHAR)
        |    AS DOUBLE) AS rolling_30d_total,
        |  last_value(CASE WHEN o_orderstatus = 'F' THEN o_totalprice END
        |    IGNORE NULLS)
        |    OVER (PARTITION BY o_custkey ORDER BY day_num, o_orderkey
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS last_finished_price
        |FROM o ORDER BY o_custkey, o_orderdate, o_orderkey""".stripMargin,
    "q96_agg_breadth" ->
      """WITH pc AS (
        |  SELECT o_orderstatus, o_orderpriority, COUNT(*) AS c
        |  FROM orders GROUP BY 1, 2),
        |pm AS (
        |  SELECT o_orderstatus, min(o_orderpriority) AS top_priority
        |  FROM (SELECT *, max(c) OVER (PARTITION BY o_orderstatus) AS cm
        |        FROM pc) z
        |  WHERE c = cm GROUP BY 1)
        |SELECT a.o_orderstatus, a.cheapest_order, a.priciest_order,
        |  pm.top_priority, a.median_price, a.n
        |FROM (
        |  SELECT o_orderstatus,
        |    min_by(o_orderkey, o_totalprice) AS cheapest_order,
        |    max_by(o_orderkey, o_totalprice) AS priciest_order,
        |    median(o_totalprice) AS median_price,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM orders GROUP BY 1) a
        |JOIN pm USING (o_orderstatus)
        |ORDER BY o_orderstatus""".stripMargin,
    "q97_array_hofs" ->
      """SELECT vec_id,
        |  list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |    list_transform(embedding, x -> CAST(x AS DOUBLE))),
        |    (a, b) -> a + b) AS comp_sum,
        |  CAST(len(list_filter(embedding, x -> x > 0)) AS INTEGER) AS n_pos,
        |  list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |    list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))),
        |    (a, b) -> a + b) AS l1_norm
        |FROM embeddings ORDER BY vec_id""".stripMargin,
    "q305_corr_matrix" -> corrMatrixSql(),
    "q69_corr_regression" -> {
      // VARCHAR round-trip: DuckDB's direct decimal->double cast is not
      // correctly rounded past 2^53 scaled (see q01/q50)
      def d(e: String) = s"CAST(CAST($e AS VARCHAR) AS DOUBLE)"
      val sx = d("SUM(CAST(l_quantity AS DECIMAL(18,2)))")
      val sy = d("SUM(CAST(l_extendedprice AS DECIMAL(18,2)))")
      val sxy = d("SUM(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2)))")
      val sxx = d("SUM(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2)))")
      val syy = d("SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2)))")
      s"""SELECT l_returnflag, n,
         |  (n * sxy - sx * sy)
         |    / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy))
         |    AS corr_qty_price,
         |  (n * sxy - sx * sy) / (n * sxx - sx * sx) AS slope,
         |  sy / n - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * (sx / n)
         |    AS intercept
         |FROM (
         |  SELECT l_returnflag, COUNT(*) AS n, $sx AS sx, $sy AS sy,
         |    $sxy AS sxy, $sxx AS sxx, $syy AS syy
         |  FROM lineitem GROUP BY l_returnflag)
         |ORDER BY l_returnflag""".stripMargin
    },
    "q72_map_ops" ->
      """SELECT event_id,
        |  array_to_string(list_sort(json_keys(props)), ',') AS prop_keys,
        |  CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_value,
        |  CAST(len(json_keys(props)) AS INTEGER) AS n_props,
        |  array_to_string([CAST(json_extract_string(props, '$.k')
        |    AS BIGINT)], ',') AS prop_values
        |FROM events
        |WHERE event_id <= 2000
        |ORDER BY event_id""".stripMargin,
    "q70_grouped_percentiles" ->
      """SELECT l_returnflag,
        |  quantile_cont(l_quantity, 0.5) AS median_qty,
        |  quantile_cont(l_quantity, 0.9) AS p90_qty,
        |  quantile_cont(l_extendedprice, 0.5) AS median_price,
        |  quantile_cont(l_extendedprice, 0.9) AS p90_price
        |FROM lineitem
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,
    "q71_collect_arrays" ->
      """SELECT l_orderkey,
        |  array_to_string(list_sort(list(l_linenumber)), ',')
        |    AS line_numbers,
        |  array_to_string(list_sort(list(DISTINCT l_partkey)), ',')
        |    AS part_keys,
        |  COUNT(*) AS n_lines
        |FROM lineitem
        |WHERE l_orderkey <= 200
        |GROUP BY l_orderkey
        |ORDER BY l_orderkey""".stripMargin,
    "q52_math_scalars" ->
      """SELECT l_orderkey,
        |  abs(l_quantity - 25) AS abs_dev,
        |  round(l_extendedprice / 1000, 1) AS price_k,
        |  CAST(floor(l_quantity / 7) AS BIGINT) AS qty_div7,
        |  CAST(ceil(l_extendedprice / 10000) AS BIGINT) AS price_ceil_10k,
        |  l_orderkey % 7 AS key_mod7,
        |  greatest(l_discount, l_tax) AS max_rate,
        |  least(l_discount, l_tax) AS min_rate,
        |  CAST(CASE WHEN l_quantity - 25 > 0 THEN 1.0
        |       WHEN l_quantity - 25 < 0 THEN -1.0 ELSE 0.0 END AS DOUBLE)
        |    AS dev_sign,
        |  CASE WHEN l_quantity >= 40 THEN 'high'
        |       WHEN l_quantity >= 15 THEN 'mid' ELSE 'low' END AS qty_band,
        |  nullif(l_discount, 0.0) AS nonzero_disc,
        |  coalesce(nullif(l_discount, 0.0), -1.0) AS disc_or_flag
        |FROM lineitem
        |WHERE l_linenumber = 1 AND l_orderkey <= 2000
        |ORDER BY l_orderkey""".stripMargin,
    "q53_date_scalars" ->
      """SELECT o_orderkey,
        |  year(o_orderdate) AS y,
        |  month(o_orderdate) AS m,
        |  dayofmonth(o_orderdate) AS d,
        |  quarter(o_orderdate) AS q,
        |  dayofweek(o_orderdate) AS dow0,
        |  dayofyear(o_orderdate) AS doy,
        |  CAST(o_orderdate AS DATE) + 30 AS due_date,
        |  CAST(last_day(o_orderdate) AS DATE) AS month_end,
        |  datediff('day', CAST(o_orderdate AS DATE), DATE '2002-01-01')
        |    AS days_to_2002
        |FROM orders
        |WHERE o_orderkey <= 2000
        |ORDER BY o_orderkey""".stripMargin,
    "q54_window_suite" ->
      """SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice,
        |  lag(o_totalprice, 1) OVER w AS prev_price,
        |  lead(o_totalprice, 1) OVER w AS next_price,
        |  ROW_NUMBER() OVER w AS rn,
        |  RANK() OVER (PARTITION BY o_custkey ORDER BY o_orderstatus)
        |    AS status_rank,
        |  DENSE_RANK() OVER (PARTITION BY o_custkey ORDER BY o_orderstatus)
        |    AS status_dense_rank,
        |  NTILE(4) OVER w AS quartile,
        |  PERCENT_RANK() OVER w AS pr,
        |  CUME_DIST() OVER w AS cd,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER
        |    (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |     ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS running_total,
        |  FIRST_VALUE(o_orderkey) OVER
        |    (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |     ROWS UNBOUNDED PRECEDING) AS first_key,
        |  MAX(o_totalprice) OVER
        |    (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |     ROWS UNBOUNDED PRECEDING) AS running_max
        |FROM orders
        |WHERE o_custkey <= 300
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |ORDER BY o_custkey, o_orderdate, o_orderkey""".stripMargin,
    "q55_unpivot" ->
      """SELECT l_orderkey, l_linenumber, measure, value FROM (
        |  SELECT l_orderkey, l_linenumber, 'quantity' AS measure,
        |    l_quantity AS value FROM lineitem
        |  UNION ALL
        |  SELECT l_orderkey, l_linenumber, 'extendedprice', l_extendedprice
        |    FROM lineitem
        |  UNION ALL
        |  SELECT l_orderkey, l_linenumber, 'discount', l_discount
        |    FROM lineitem
        |  UNION ALL
        |  SELECT l_orderkey, l_linenumber, 'tax', l_tax FROM lineitem)
        |WHERE l_orderkey <= 500
        |ORDER BY l_orderkey, l_linenumber, measure""".stripMargin
  )
}
