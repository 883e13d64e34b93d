package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Event-stream behavioral analytics over the `events` table — the
  * query family a product/growth pipeline runs daily (cohort
  * retention, conversion funnels, SCD-2 history, gap-filled daily
  * series). The reference's dataflow is batch-ETL over small API
  * payloads; these are the shapes the same pipeline needs once the
  * source is an event log (SURVEY.md §2 north-star).
  *
  * Scale notes: every query here is groupBy/join/window on `user_id`
  * — one hash partitioning that AQE can reuse across stages. Nothing
  * materializes per-user state on the driver, and the per-user
  * windows are keyed (never global), so the plans survive a
  * 1000-executor fan-out unchanged.
  */
object Behavioral {

  /** BURST detection with HYSTERESIS over the per-type daily event
    * series — the alerting shape where a single threshold flaps
    * (Kleinberg 2002 models bursts as a two-state automaton; the
    * ops-monitoring form is a Schmitt trigger): a type ENTERS burst
    * when its daily count clears the high-water mark and STAYS in
    * burst until the count falls below the low-water mark. Both marks
    * are the type's OWN daily-count quantiles (p90 enter / p60 exit —
    * self-calibrating at any SF, the exact-quantile order-statistic
    * machinery, no float accumulation).
    *
    * The state recurrence `in_t = cnt_t ≥ hi ∨ (cnt_t ≥ lo ∧
    * in_{t-1})` is closed-formed into two keyed running maxima —
    * in burst iff the last hi-crossing is more recent than the last
    * drop below lo — so the operator is two PARTITIONED windows over
    * the |types|×|days| daily rollup, no ordered fold, no state, and
    * the oracle states the identical windows. Days with zero events
    * have no row (the observed-day series; q99's gap-filler composes
    * in front when calendar continuity matters). */
  def burstDetect(events: DataFrame, pHi: Double = 0.9,
      pLo: Double = 0.6): DataFrame = {
    val daily = events
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("cnt"))
    val thr = Describe.groupedExactQuantiles(daily, "event_type",
      Seq("cnt"), Seq(pHi, pLo))
    def thrExpr(i: Int) = try_element_at(
      map(thr.toSeq.sortBy(_._1._1).flatMap { case ((g, _), v) =>
        Seq(lit(g), lit(v(i))): Seq[org.apache.spark.sql.Column]
      }: _*), col("event_type"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    daily
      .select(col("event_type"), col("day"), col("cnt"),
        thrExpr(0).as("hi"), thrExpr(1).as("lo"))
      .withColumn("last_hi",
        max(when(col("cnt").cast("double") >= col("hi"), col("day"))).over(w))
      .withColumn("last_lo",
        max(when(col("cnt").cast("double") < col("lo"), col("day"))).over(w))
      .select(col("event_type"), col("day"), col("cnt"), col("hi"), col("lo"),
        (col("last_hi").isNotNull &&
          (col("last_lo").isNull || col("last_hi") > col("last_lo")))
          .as("in_burst"))
      .orderBy(col("event_type"), col("day"))
  }

  /** Rolling 7-day active users — DAU / WAU / stickiness per observed
    * day, the growth-accounting rollup every product pipeline ships.
    * NO sliding window and NO per-day re-scan: activity collapses to
    * distinct (user, day) once, and each pair fans out to the ≤7
    * report days it counts toward (a broadcast 7-int sequence —
    * map-side, the multiplier is the window length, never the data),
    * deduped and counted. Exact integers + one final stickiness
    * division. Report days are the OBSERVED days (zero-event calendar
    * days have no row; q99's gap-filler composes in front when the
    * calendar view matters); the trailing fan-out beyond the last
    * observed day is cut by a 1-row broadcast max. */
  def rollingActiveUsers(events: DataFrame): DataFrame = {
    val ud = events.select(col("user_id"), to_date(col("ts")).as("day"))
      .distinct()
    val dau = ud.groupBy(col("day")).agg(count(lit(1)).as("dau"))
    val maxDay = ud.agg(max(col("day")).as("max_day"))
    val rolled = ud
      .select(col("user_id"), col("day"),
        explode(sequence(lit(0), lit(6))).as("k"))
      .select(col("user_id"), date_add(col("day"), col("k")).as("rday"))
      .distinct()
    val wau = rolled.crossJoin(broadcast(maxDay))
      .filter(col("rday") <= col("max_day"))
      .groupBy(col("rday")).agg(count(lit(1)).as("wau"))
    dau.join(wau, dau("day") === wau("rday"))
      .select(col("day"), col("dau"), col("wau"),
        (col("dau").cast("double") / col("wau").cast("double"))
          .as("stickiness"))
      .orderBy(col("day"))
  }

  /** Numeric value-DRIFT gate — q163's total-variation discipline on
    * a numeric column: per event type, the TVD between the two
    * snapshot parities' `value` distributions over REFERENCE-side
    * equi-depth buckets (the monitoring gate that catches a payments
    * feed whose amounts silently shifted). Deliberately TVD, not
    * PSI/chi²: no logarithm (engine-divergent) and no divide-by-
    * empty-bucket hazard. Bucket cuts are the reference side's exact
    * deciles (the distributed order-statistic machinery, returned as
    * a \|types\|×9 literal map), bucket assignment is a row-local
    * strict-> count fold, and the per-type TVD folds bucket-sorted
    * (≤ nBuckets terms) from a 0.0 seed — the identical IEEE chain
    * the oracle states with list_reduce. */
  def valueDriftGate(events: DataFrame, nBuckets: Int = 10): DataFrame = {
    val ref = events.filter(pmod(col("event_id"), lit(2)) === 0)
    val snap = events.filter(pmod(col("event_id"), lit(2)) === 1)
    val probs = (1 until nBuckets).map(_.toDouble / nBuckets)
    val cuts = Describe.groupedExactQuantiles(ref, "event_type",
      Seq("value"), probs)
    val cutsExpr = try_element_at(
      map(cuts.toSeq.sortBy(_._1._1).flatMap { case ((g, _), v) =>
        Seq(lit(g), array(v.map(lit): _*)): Seq[org.apache.spark.sql.Column]
      }: _*), col("event_type"))
    def bucketed(df: DataFrame, cn: String): DataFrame = df
      .select(col("event_type"),
        aggregate(cutsExpr, lit(0),
          (acc, c) => acc + when(col("value") > c, 1).otherwise(0))
          .as("bucket"))
      .groupBy(col("event_type"), col("bucket")).agg(count(lit(1)).as(cn))
    val rb = bucketed(ref, "c_ref")
    val sb = bucketed(snap, "c_snap")
    val rt = rb.groupBy(col("event_type")).agg(sum(col("c_ref")).as("tot_ref"))
    val st = sb.groupBy(col("event_type")).agg(sum(col("c_snap")).as("tot_snap"))
    rb.join(sb, Seq("event_type", "bucket"), "full_outer")
      .na.fill(0L, Seq("c_ref", "c_snap"))
      .join(broadcast(rt), "event_type")
      .join(broadcast(st), "event_type")
      .select(col("event_type"), col("bucket"),
        abs(col("c_ref").cast("double") / col("tot_ref").cast("double") -
          col("c_snap").cast("double") / col("tot_snap").cast("double"))
          .as("diff"),
        col("tot_ref"), col("tot_snap"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_buckets"),
        max(col("tot_ref")).as("n_ref"), max(col("tot_snap")).as("n_snap"),
        (lit(0.5) * aggregate(
          array_sort(collect_list(struct(col("bucket"), col("diff")))),
          lit(0.0), (acc, x) => acc + x.getField("diff"))).as("tvd"))
      .orderBy(col("event_type"))
  }

  /** Event-type AFFINITY lift — the market-basket view of the event
    * log: for every type pair, how much more often do the two co-occur
    * in one user's history than independence predicts
    * (lift = c12·n / (c1·c2) over distinct user sets — the
    * recommender/instrumentation-redundancy diagnostic). EXACT-RATIO
    * on purpose (q268's PMI convention): integer products on both
    * sides of ONE double division, no logarithm. Distinct (user,
    * type) pairs partial-aggregate map-side; the user-keyed self-join
    * rides per-user type sets (bounded by \|types\|, never events);
    * output is \|types\|²-row. */
  def typeAffinityLift(events: DataFrame): DataFrame = {
    val ut = events.select(col("user_id"), col("event_type")).distinct()
    val totals = ut.agg(count_distinct(col("user_id")).as("n_users"))
    val tc = ut.groupBy(col("event_type")).agg(count(lit(1)).as("c"))
    val pairs = ut.as("a")
      .join(ut.as("b"), col("a.user_id") === col("b.user_id") &&
        col("a.event_type") < col("b.event_type"))
      .groupBy(col("a.event_type").as("t1"), col("b.event_type").as("t2"))
      .agg(count(lit(1)).as("c12"))
    pairs
      .join(broadcast(tc.select(col("event_type").as("t1"),
        col("c").as("c1"))), "t1")
      .join(broadcast(tc.select(col("event_type").as("t2"),
        col("c").as("c2"))), "t2")
      .crossJoin(broadcast(totals))
      .select(col("t1"), col("t2"), col("c12"), col("c1"), col("c2"),
        col("n_users"),
        ((col("c12") * col("n_users")).cast("double") /
          (col("c1") * col("c2")).cast("double")).as("lift"))
      .orderBy(col("t1"), col("t2"))
  }

  /** Hour-of-day SEASONALITY profile — the ≤\|types\|×24 load matrix
    * an ops/capacity pipeline reads (when does each event type peak;
    * a nocturnal spike on a human-driven type is bot traffic): per
    * (type, hour) count and share, plus the type's peak hour as a
    * partial-aggregatable min(struct(−cnt, hour)) argmax (ties to the
    * EARLIEST hour — no window). Exact integers + one IEEE division;
    * the rollup absorbs any event volume map-side. */
  def hourlyProfile(events: DataFrame): DataFrame = {
    val h = events
      .groupBy(col("event_type"), hour(col("ts")).as("hour"))
      .agg(count(lit(1)).as("cnt"))
    val tot = h.groupBy(col("event_type"))
      .agg(sum(col("cnt")).as("total"),
        min(struct((-col("cnt")).as("nc"), col("hour").as("h"))).as("p"))
      .select(col("event_type").as("pt"), col("total"),
        col("p.h").as("peak_hour"))
    h.join(broadcast(tot), col("event_type") === col("pt"))
      .select(col("event_type"), col("hour"), col("cnt"),
        (col("cnt").cast("double") / col("total").cast("double"))
          .as("share"),
        col("peak_hour"), (col("hour") === col("peak_hour")).as("is_peak"))
      .orderBy(col("event_type"), col("hour"))
  }

  /** Event-path trigram MOTIFS — the top-k most common length-3
    * event-type paths across user histories, with count and support
    * (share of all trigram instances): the path-mining view one level
    * above q106's bigram transitions (a dominant view→view→view motif
    * is a scraper; view→click→purchase is the funnel actually taken,
    * not the one q94 assumes). Two user-keyed leads, one rollup, ONE
    * division per row; top-k via TakeOrderedAndProject (count DESC,
    * then the three types — total order).
    *
    * Scale: the lead window is user-keyed; the trigram rollup
    * partial-aggregates map-side to ≤\|types\|³ rows; the 1-row total
    * broadcasts. Nothing global. */
  def pathMotifs(events: DataFrame, k: Int = 20): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val tri = events
      .withColumn("t2", lead(col("event_type"), 1).over(w))
      .withColumn("t3", lead(col("event_type"), 2).over(w))
      .filter(col("t3").isNotNull)
      .groupBy(col("event_type").as("t1"), col("t2"), col("t3"))
      .agg(count(lit(1)).as("n"))
    val tot = tri.agg(sum(col("n")).as("total"))
    tri.crossJoin(broadcast(tot))
      .select(col("t1"), col("t2"), col("t3"), col("n"),
        (col("n").cast("double") / col("total").cast("double"))
          .as("support"))
      .orderBy(col("n").desc, col("t1"), col("t2"), col("t3"))
      .limit(k)
  }

  /** Inter-event GAP profile — per event type, the count of same-
    * user consecutive gaps with the median and p90 gap in
    * MICROSECONDS: the cadence diagnostic (a sub-second median on a
    * human-driven type is a bot/replay signature; the p90 sets the
    * sessionization/throttle window empirically instead of by folk
    * constant — the evidence q103/q173 parameters should come from).
    *
    * Exactness: gaps are exact integer microsecond differences from
    * a (user, type)-keyed lag; both quantiles are ORDER STATISTICS
    * via the distributed exact-quantile machinery (q89's bitwise
    * `quantile_cont` interpolation) — no float accumulation anywhere.
    *
    * Scale: one keyed window pass over the log, then the quantile
    * machinery's (type, gap) value-count rollup (partial-aggregated
    * map-side); thresholds return as a \|types\|-sized literal map. */
  def gapProfile(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("ts"), col("event_id"))
    val gaps = events
      .withColumn("prev", lag(col("ts"), 1).over(w))
      .filter(col("prev").isNotNull)
      .select(col("event_type"),
        (unix_micros(col("ts")) - unix_micros(col("prev"))).as("gap_us"))
    val q = Describe.groupedExactQuantiles(gaps, "event_type",
      Seq("gap_us"), Seq(0.5, 0.9))
    def qExpr(i: Int) = try_element_at(
      map(q.toSeq.sortBy(_._1._1).flatMap { case ((g, _), v) =>
        Seq(lit(g), lit(v(i))): Seq[org.apache.spark.sql.Column]
      }: _*), col("event_type"))
    gaps.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_gaps"))
      .select(col("event_type"), col("n_gaps"),
        qExpr(0).as("p50_gap_us"), qExpr(1).as("p90_gap_us"))
      .orderBy(col("event_type"))
  }

  /** GROWTH-ACCOUNTING card — the weekly new / retained /
    * resurrected / churned decomposition of the active-user count
    * (the Social-Capital growth-accounting identity: active(w) =
    * new + retained + resurrected; churned(w) = active(w−1) −
    * retained(w)): THE standard product-growth view, the per-week
    * complement to q93's cohort triangle and q279's rolling actives.
    * All integers, no floats at all.
    *
    * Classification is per-user LOCAL: a user's week is `new` when it
    * is their first active week (lag NULL), `retained` when the
    * previous active week is exactly 7 days back, `resurrected`
    * beyond that — one user-keyed lag over the distinct (user, week)
    * frame. Churn needs no per-user state: it falls out of the
    * identity as prev-week active minus this-week retained, one
    * 7-day self-join on the \|weeks\|-row rollup. A week with ZERO
    * active users emits no row (its churn is reported at the next
    * active week by the lag semantics) — dense logs never hit this.
    *
    * Scale: distinct (user, week) partial-aggregates map-side; the
    * lag window is user-keyed; the weekly rollup is \|weeks\|-sized.
    * One shuffle on user_id, one on week. */
  def growthAccounting(events: DataFrame): DataFrame = {
    val uw = events.select(col("user_id"),
      to_date(date_trunc("week", col("ts"))).as("week")).distinct()
    val w = Window.partitionBy(col("user_id")).orderBy(col("week"))
    val cls = uw
      .withColumn("prev", lag(col("week"), 1).over(w))
      .select(col("week"), col("prev").isNull.as("is_new"),
        (col("prev").isNotNull &&
          datediff(col("week"), col("prev")) === 7).as("is_ret"),
        (col("prev").isNotNull &&
          datediff(col("week"), col("prev")) > 7).as("is_res"))
    val agg = cls.groupBy(col("week")).agg(
      count(lit(1)).as("n_active"),
      sum(when(col("is_new"), 1L).otherwise(0L)).as("n_new"),
      sum(when(col("is_ret"), 1L).otherwise(0L)).as("n_retained"),
      sum(when(col("is_res"), 1L).otherwise(0L)).as("n_resurrected"))
    val prev = agg.select(date_add(col("week"), 7).as("week"),
      col("n_active").as("prev_active"))
    agg.join(prev, Seq("week"), "left_outer")
      .select(col("week"), col("n_active"), col("n_new"),
        col("n_retained"), col("n_resurrected"),
        (coalesce(col("prev_active"), lit(0L)) - col("n_retained"))
          .as("n_churned"))
      .orderBy(col("week"))
  }

  /** Event CONCENTRATION card — the Gini coefficient and top-1%
    * share of the per-user event-count distribution: the one-row
    * inequality audit (bot farms and scraper rings concentrate volume
    * onto few accounts; a healthy product log sits well under the
    * crawl-log Gini). Complements q119's top-k heavy keys with the
    * distribution-wide measure.
    *
    * Exactness: the grouped Lorenz algebra is ALL integers — members
    * of the count-group (c, n_c) occupy ranks r_prev+1..r_prev+n_c,
    * so Σ rank·x = Σ_g c·(n_c·r_prev + n_c(n_c+1)/2) exactly, and
    * Gini = (2·Σrank·x − (n+1)·T) / (n·T) is ONE double division of
    * exact longs (q268's exact-ratio convention; n·T < 2⁵³ through
    * petabyte logs — promote the two products to decimal beyond).
    * Top-1% share slices the same cumulative ranks from the top with
    * greatest/least, again integers + one division. No sort, no
    * window: ranks come from count-of-counts algebra.
    *
    * Scale: ONE user-keyed rollup (map-side combinable) collapses the
    * log to \|users\| rows, the count-of-counts rollup collapses those
    * to \|distinct counts\| rows (hundreds), and the rank cumulative
    * is a self-join on that tiny frame. Nothing else grows. */
  def eventConcentration(events: DataFrame): DataFrame = {
    val g = events.groupBy(col("user_id")).agg(count(lit(1)).as("cnt"))
      .groupBy(col("cnt").as("c")).agg(count(lit(1)).as("ng"))
      .localCheckpoint(true)
    val t = g.agg(sum(col("ng")).as("n"),
      sum(col("c") * col("ng")).as("tot"))
    val ranks = g.as("a")
      .join(g.as("b"), col("b.c") =!= col("a.c"), "left_outer")
      .groupBy(col("a.c").as("c"), col("a.ng").as("ng"))
      .agg(
        coalesce(sum(when(col("b.c") < col("a.c"), col("b.ng"))), lit(0L))
          .as("rprev"),
        coalesce(sum(when(col("b.c") > col("a.c"), col("b.ng"))), lit(0L))
          .as("above"))
    ranks.crossJoin(broadcast(t))
      .groupBy(col("n"), col("tot"))
      .agg(
        sum(expr("c * (ng * rprev + (ng * (ng + 1)) div 2)")).as("s1"),
        sum(expr("c * greatest(0L, least(ng, (n + 99) div 100 - above))"))
          .as("topev"))
      .select(col("n").as("n_users"), col("tot").as("total_events"),
        ((lit(2L) * col("s1") - (col("n") + 1) * col("tot")).cast("double")
          / (col("n") * col("tot")).cast("double")).as("gini"),
        expr("(n + 99) div 100").as("top1pct_users"),
        (col("topev").cast("double") / col("tot").cast("double"))
          .as("top1pct_share"))
      .orderBy(col("n_users"))
  }

  /** STATIONARY event-type mix — the long-run load distribution the
    * observed transition kernel implies (power iteration π·P from
    * uniform), next to the type's ACTUAL share: the instrumentation
    * drift card (ratio ≫ 1 = the chain funnels users toward a type
    * faster than today's traffic shows — tomorrow's hot partition;
    * ratio ≪ 1 = a type whose traffic is entry-driven, not organic).
    * States are the types with an outgoing transition; the kernel is
    * restricted to edges between states and row-renormalized. Mass is
    * conserved while every visited state keeps a restricted out-edge
    * (the dense-log case); a state whose outgoing edges all leave the
    * state set behaves as an absorbing exit and drains what flows
    * into it — by design, like an absorbing Markov state. A state
    * with no restricted in-edge reads π = 0, reported explicitly.
    *
    * Exactness: p = n/out is one integer division per cell; each
    * round's fan-in sums in SOURCE-TYPE-SORTED order via the
    * [[Similarity.pageRank]] fold convention (`aggregate(array_sort(
    * collect_list(struct(src, contrib))))` ↔ DuckDB `list_reduce(
    * list(contrib ORDER BY src))`), so operator and oracle add the
    * same doubles in the same order. share is exact integers + ONE
    * division; ratio is one more IEEE division.
    *
    * Scale: ONE user-keyed window pass (the q106 rollup) reduces the
    * event log to a ≤\|types\|²-row kernel; every iteration runs on
    * that kernel (the [[Iterate]] round discipline); the share rollup
    * is map-side combinable. Nothing grows with volume but the first
    * rollup. */
  def stationaryMix(events: DataFrame, rounds: Int = 5): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val cnt = events
      .withColumn("dst", lead(col("event_type"), 1).over(w))
      .filter(col("dst").isNotNull)
      .groupBy(col("event_type").as("src"), col("dst"))
      .agg(count(lit(1)).as("n"))
      .localCheckpoint(true)
    val states = cnt.select(col("src")).distinct()
    // restrict to state->state edges, renormalize rows over them
    val rest = cnt.join(broadcast(states.select(col("src").as("dst"))),
      "dst")
    val p = rest
      .join(rest.groupBy(col("src")).agg(sum(col("n")).as("out")), "src")
      .select(col("src"), col("dst"),
        (col("n").cast("double") / col("out").cast("double")).as("p"))
      .localCheckpoint(true)
    val nStates = states.count()
    val pi0 = states.select(col("src").as("t"),
      lit(1.0 / nStates).as("pi"))
    val pi = Iterate(pi0, Iterate.Fixed(rounds)) { pi =>
      p.join(pi, p("src") === pi("t"))
        .select(col("dst"), col("src"), (col("pi") * col("p")).as("contrib"))
        .groupBy(col("dst"))
        .agg(aggregate(
          array_sort(collect_list(struct(col("src"), col("contrib")))),
          lit(0.0), (acc, x) => acc + x.getField("contrib")).as("pi"))
        .select(col("dst").as("t"), col("pi"))
        .localCheckpoint(true)
    }.state
    val share = events
      .join(broadcast(states.select(col("src").as("event_type"))),
        "event_type")
      .groupBy(col("event_type")).agg(count(lit(1)).as("cnt"))
    val tot = share.agg(sum(col("cnt")).as("total"))
    share.crossJoin(broadcast(tot))
      .join(pi, share("event_type") === pi("t"), "left_outer")
      .na.fill(0.0, Seq("pi"))
      .select(col("event_type"), col("pi"),
        (col("cnt").cast("double") / col("total").cast("double"))
          .as("share"),
        (col("pi") /
          (col("cnt").cast("double") / col("total").cast("double")))
          .as("ratio"))
      .orderBy(col("event_type"))
  }

  /** Weekly cohort retention: users bucketed by the week of their
    * first event; for each (cohort week, whole weeks since first
    * event) the count of distinct active users. Two shuffles (first
    * event per user; cohort/offset rollup), both on keys that scale
    * with |users|, not |events|. */
  def cohortRetention(t: Tables): DataFrame = {
    val d = t.events.select(col("user_id"), to_date(col("ts")).as("day"))
    val coh = d.groupBy(col("user_id").as("cuid"))
      .agg(min(col("day")).as("cday"))
    d.join(coh, d("user_id") === coh("cuid"))
      .select(
        to_date(date_trunc("week", col("cday"))).as("cohort_week"),
        // integer DIV, not `/` (which is double division in Spark)
        expr("CAST(datediff(day, cday) DIV 7 AS BIGINT)").as("week_offset"),
        col("user_id"))
      .groupBy(col("cohort_week"), col("week_offset"))
      .agg(count_distinct(col("user_id")).as("n_users"))
      .orderBy(col("cohort_week"), col("week_offset"))
  }

  /** Conversion funnel view → click → purchase with per-stage
    * conversion windows (click within 1 h of first view, purchase
    * within 24 h of that click). Each stage is a keyed join + min —
    * the ordered-sequence semantics live in the ts predicates, so no
    * per-user event array is ever collected. */
  def funnel(t: Tables): DataFrame = {
    val e = t.events
    val v = e.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("ts")).as("vt"))
    val c = e.filter(col("event_type") === "click").as("e")
      .join(v.as("v"), col("e.user_id") === col("v.user_id"))
      .filter(col("e.ts") >= col("v.vt") &&
        col("e.ts") <= col("v.vt") + expr("INTERVAL 1 HOUR"))
      .groupBy(col("e.user_id")).agg(min(col("e.ts")).as("ct"))
    val p = e.filter(col("event_type") === "purchase").as("e")
      .join(c.as("c"), col("e.user_id") === col("c.user_id"))
      .filter(col("e.ts") >= col("c.ct") &&
        col("e.ts") <= col("c.ct") + expr("INTERVAL 24 HOUR"))
      .groupBy(col("e.user_id")).agg(min(col("e.ts")).as("pt"))
    v.agg(count(lit(1)).as("stage_view"))
      .crossJoin(c.agg(count(lit(1)).as("stage_click")))
      .crossJoin(p.agg(count(lit(1)).as("stage_purchase")))
  }

  /** SCD Type-2 history of each user's event_type "state": collapse
    * consecutive same-type events into validity intervals
    * [valid_from, valid_to) with an is_current flag on the open one.
    * Change detection and interval stitching are both keyed windows
    * over (user_id) — the classic dimension-build shape, fully
    * distributed. */
  def scd2UserState(t: Tables): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val changes = t.events.filter(col("user_id") < 50)
      .withColumn("prev", lag(col("event_type"), 1).over(w))
      .filter(col("prev").isNull || col("event_type") =!= col("prev"))
    val w2 = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    changes
      .withColumn("valid_to", lead(col("ts"), 1).over(w2))
      .select(col("user_id"), col("event_type"),
        col("ts").as("valid_from"), col("valid_to"),
        when(col("valid_to").isNull, 1).otherwise(0).as("is_current"),
        col("event_id"))
      .orderBy(col("user_id"), col("valid_from"), col("event_id"))
      .drop("event_id")
  }

  /** Gap-filled daily series: per-user event counts on EVERY day
    * between that user's first and last event (missing days as 0)
    * plus a running total. The dense calendar comes from
    * `sequence()` + explode — generated distributedly next to each
    * user's row, never on the driver — and the cumulative sum is a
    * keyed window. */
  def gapFilledDaily(t: Tables): DataFrame = {
    val d = t.events.filter(col("user_id") < 20)
      .groupBy(col("user_id"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n"))
    val span = d.groupBy(col("user_id").as("suid"))
      .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      .select(col("suid"),
        explode(expr("sequence(d0, d1, interval 1 day)")).as("day"))
    span.join(d, span("suid") === d("user_id") && span("day") === d("day"), "left")
      .select(span("suid").as("user_id"), span("day"),
        coalesce(col("n"), lit(0L)).as("n_events"))
      .withColumn("cum_events",
        sum(col("n_events")).over(
          Window.partitionBy(col("user_id")).orderBy(col("day"))))
      .orderBy(col("user_id"), col("day"))
  }

  /** Throttle dedup: drop events that repeat the same (user, type)
    * within 5 minutes of the previous occurrence — the bot-traffic /
    * double-fire cleanup step before behavioral aggregation. One
    * keyed window; timestamps compared as exact epoch micros so both
    * engines apply the identical integer predicate. */
  def throttleDedup(t: Tables): DataFrame = {
    val w = Window.partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("ts"), col("event_id"))
    t.events
      .withColumn("prev", lag(col("ts"), 1).over(w))
      .filter(col("prev").isNull ||
        unix_micros(col("ts")) - unix_micros(col("prev")) >= 300000000L)
      .select(col("event_id"), col("user_id"), col("event_type"), col("ts"))
      .orderBy(col("event_id"))
  }

  /** Point-in-time lookup join: each purchase event joined to the
    * SCD-2 state interval that covers its timestamp — the dimension
    * enrichment every feature pipeline needs against a versioned
    * dimension ("what was the user's state WHEN this happened", not
    * "what is it now"). Keyed on user_id with a per-user interval
    * predicate; because [[scd2UserState]]'s intervals partition each
    * user's timeline, every fact matches exactly once. */
  def pointInTimeJoin(t: Tables): DataFrame = {
    val scd = scd2UserState(t).select(col("user_id").as("suid"),
      col("event_type").as("state"), col("valid_from"), col("valid_to"))
    val purchases = t.events
      .filter(col("event_type") === "purchase" && col("user_id") < 50)
      .select(col("event_id"), col("user_id"), col("ts"))
    purchases.join(scd,
      purchases("user_id") === scd("suid") &&
        scd("valid_from") <= purchases("ts") &&
        (scd("valid_to").isNull || purchases("ts") < scd("valid_to")))
      .select(col("event_id"), col("user_id"), col("ts"), col("state"))
      .orderBy(col("event_id"))
  }

  /** First-order transition matrix over event types: for each
    * (event_type, next_event_type) the raw count and the conditional
    * probability P(next | current). Next-event pairing is a keyed
    * window; the probability denominator is a window sum over exact
    * BIGINT counts, so the double division is identical cross-engine. */
  def eventTransitions(t: Tables): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val wp = Window.partitionBy(col("event_type"))
    t.events
      .withColumn("next_type", lead(col("event_type"), 1).over(w))
      .filter(col("next_type").isNotNull)
      .groupBy(col("event_type"), col("next_type"))
      .agg(count(lit(1)).as("n"))
      .withColumn("p", col("n").cast("double") /
        sum(col("n")).over(wp).cast("double"))
      .orderBy(col("event_type"), col("next_type"))
  }

  /** RFM segmentation over purchase events: per user the classic
    * recency / frequency / monetary triple, each banded by fixed
    * business thresholds into a 1–3 score, concatenated into the
    * segment label ('333' = best). The reference date is a pinned
    * parameter (NOT now()): segmentations must be reproducible, and a
    * wall-clock call would also break cross-engine verification. One
    * groupBy(user_id); the banding is a pure projection; monetary
    * accumulates in exact decimal (the [[graft.functions.Exact]]
    * discipline) so the threshold comparison cannot flap on
    * float-accumulation order. */
  def rfmSegments(events: DataFrame,
      refDate: String = "2024-02-01"): DataFrame = {
    import graft.functions.Exact.sumD2
    val r = events.filter(col("event_type") === "purchase")
      .groupBy(col("user_id"))
      .agg(
        datediff(to_timestamp(lit(refDate)), max(col("ts")))
          .cast("bigint").as("r_days"),
        count(lit(1)).as("f"),
        sumD2(col("value")).as("m"))
    def band(hi: org.apache.spark.sql.Column,
        mid: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      when(hi, 3).when(mid, 2).otherwise(1)
    r.select(col("user_id"), col("r_days"), col("f"), col("m"),
        band(col("r_days") <= 3, col("r_days") <= 7).as("r_score"),
        band(col("f") >= 16, col("f") >= 10).as("f_score"),
        band(col("m") >= 800.0, col("m") >= 400.0).as("m_score"))
      .withColumn("segment", concat(col("r_score").cast("string"),
        col("f_score").cast("string"), col("m_score").cast("string")))
      .orderBy(col("user_id"))
  }

  /** Gap-based sessionization (the BATCH twin of q42's streaming
    * session windows): a new session starts where the gap since the
    * user's previous event exceeds `gapMinutes`. lag marks boundaries,
    * a running sum over the SAME (user, ts, event_id) window numbers
    * the sessions, one groupBy rolls them up — two window passes and
    * one aggregate, all partitioned by user_id (never global), so the
    * plan reuses a single hash partitioning end to end. Duration is
    * integer epoch-microsecond arithmetic — no float. */
  def sessionize(events: DataFrame, gapMinutes: Int = 30): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val gapUs = gapMinutes * 60L * 1000000L
    events
      .withColumn("prev", lag(col("ts"), 1).over(w))
      .withColumn("new_s",
        when(col("prev").isNull ||
          unix_micros(col("ts")) - unix_micros(col("prev")) > gapUs, 1L)
          .otherwise(0L))
      .withColumn("session_idx", sum(col("new_s")).over(
        w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("user_id"), col("session_idx"))
      .agg(count(lit(1)).as("n_events"),
        min(col("ts")).as("start_ts"),
        max(col("ts")).as("end_ts"))
      .withColumn("duration_sec",
        ((unix_micros(col("end_ts")) - unix_micros(col("start_ts")))
          / 1000000L).cast("bigint"))
      .orderBy(col("user_id"), col("session_idx"))
  }

  /** Per-user exponentially-weighted moving average of event values —
    * the classic smoothed-engagement metric. EWMA is an inherently
    * ORDERED recurrence (s ← α·x + (1−α)·s), so it folds over each
    * user's time-sorted value list seeded with the first value — the
    * same first-element-seeded left fold DuckDB's `list_reduce` runs,
    * written as the identical two-multiply-one-add IEEE tree, hence
    * hash-exact. Per-user lists are bounded by a USER's activity (not
    * the corpus) — the q90 collect discipline; a session-segmented
    * two-phase scan replaces the fold if single users outgrow memory. */
  def ewma(events: DataFrame, alpha: Double = 0.3): DataFrame = {
    val l = array_sort(collect_list(struct(col("ts"), col("event_id"),
      col("value"))))
    val vals = transform(l, e => e.getField("value"))
    events.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"), vals.as("v"))
      .select(col("user_id"), col("n_events"),
        aggregate(
          slice(col("v"), lit(2), greatest(size(col("v")) - 1, lit(0))),
          element_at(col("v"), 1),
          (s, x) => lit(alpha) * x + lit(1.0 - alpha) * s).as("ewma"))
      .orderBy(col("user_id"))
  }

  /** MAD-based robust outliers per event type: flag values more than
    * `k` median-absolute-deviations from their type's median — the
    * outlier gate that, unlike the z-score (q110), a single extreme
    * value cannot drag. Both medians run through the distributed
    * exact-quantile machinery ([[Describe.groupedExactQuantiles]] —
    * counts + per-bucket rank, never a per-group sort), and the
    * |types|-sized median/MAD maps come back as literal columns, so
    * the final sweep is one narrow pass over the scan. */
  def madOutliers(events: DataFrame, k: Double = 3.0): DataFrame = {
    val med = Describe.groupedExactQuantiles(events, "event_type",
      Seq("value"), Seq(0.5)).map { case ((g, _), v) => g -> v.head }
    val medExpr = try_element_at(
      map(med.toSeq.sortBy(_._1).flatMap { case (g, m) =>
        Seq(lit(g), lit(m)): Seq[org.apache.spark.sql.Column]
      }: _*), col("event_type"))
    val dev = events.select(col("event_type"),
      abs(col("value") - medExpr).as("dev"))
    val mad = Describe.groupedExactQuantiles(dev, "event_type",
      Seq("dev"), Seq(0.5)).map { case ((g, _), v) => g -> v.head }
    val madExpr = try_element_at(
      map(mad.toSeq.sortBy(_._1).flatMap { case (g, m) =>
        Seq(lit(g), lit(m)): Seq[org.apache.spark.sql.Column]
      }: _*), col("event_type"))
    events
      .select(col("event_id"), col("event_type"), col("value"),
        medExpr.as("med"), madExpr.as("mad"))
      .filter(abs(col("value") - col("med")) > lit(k) * col("mad"))
      .orderBy(col("event_id"))
  }

  /** Per-type OLS trend over the daily event-count series: slope and
    * intercept of n ~ day. Every sufficient statistic (Σx, Σy, Σxy,
    * Σx²) is an INTEGER sum over (epoch-day, count) pairs — exact at
    * any scale, partial-aggregatable map-side — and only the final
    * slope/intercept are double divisions both engines evaluate
    * identically. The regression never sees raw events: it runs over
    * the |types|·|days| daily rollup. */
  def trendSlopes(events: DataFrame): DataFrame = {
    val daily = events
      .groupBy(col("event_type"),
        datediff(to_date(col("ts")), lit("1970-01-01").cast("date"))
          .cast("bigint").as("x"))
      .agg(count(lit(1)).as("y"))
    daily.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_days"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"))
      .select(col("event_type"), col("n_days"),
        ((col("n_days") * col("sxy") - col("sx") * col("sy"))
          .cast("double") /
          (col("n_days") * col("sxx") - col("sx") * col("sx"))
            .cast("double")).as("slope"),
        col("sx"), col("sy"))
      .select(col("event_type"), col("n_days"), col("slope"),
        ((col("sy").cast("double") -
          col("slope") * col("sx").cast("double")) /
          col("n_days").cast("double")).as("intercept"))
      .orderBy(col("event_type"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q180_ewma" -> ((s, d) => ewma(Tables(s, d).events)),
    "q277_burst_detect" -> ((s, d) => burstDetect(Tables(s, d).events)),
    "q279_rolling_active" ->
      ((s, d) => rollingActiveUsers(Tables(s, d).events)),
    "q282_value_drift" ->
      ((s, d) => valueDriftGate(Tables(s, d).events)),
    "q285_hourly_profile" ->
      ((s, d) => hourlyProfile(Tables(s, d).events)),
    "q286_stationary_mix" ->
      ((s, d) => stationaryMix(Tables(s, d).events)),
    "q287_concentration_card" ->
      ((s, d) => eventConcentration(Tables(s, d).events)),
    "q293_growth_accounting" ->
      ((s, d) => growthAccounting(Tables(s, d).events)),
    "q294_gap_profile" ->
      ((s, d) => gapProfile(Tables(s, d).events)),
    "q295_path_motifs" ->
      ((s, d) => pathMotifs(Tables(s, d).events)),
    "q283_affinity_lift" ->
      ((s, d) => typeAffinityLift(Tables(s, d).events)),
    "q181_mad_outliers" -> ((s, d) => madOutliers(Tables(s, d).events)),
    "q182_trend_slopes" -> ((s, d) => trendSlopes(Tables(s, d).events)),
    "q172_rfm_segments" -> ((s, d) => rfmSegments(Tables(s, d).events)),
    "q173_sessionize" -> ((s, d) => sessionize(Tables(s, d).events)),
    "q103_event_throttle" -> ((s, d) => throttleDedup(Tables(s, d))),
    "q106_event_transitions" -> ((s, d) => eventTransitions(Tables(s, d))),
    "q109_pit_join" -> ((s, d) => pointInTimeJoin(Tables(s, d))),
    "q93_cohort_retention" -> ((s, d) => cohortRetention(Tables(s, d))),
    "q94_funnel" -> ((s, d) => funnel(Tables(s, d))),
    "q95_scd2_user_state" -> ((s, d) => scd2UserState(Tables(s, d))),
    "q99_gap_filled_daily" -> ((s, d) => gapFilledDaily(Tables(s, d)))
  )

  /** The unrolled DuckDB twin of [[stationaryMix]] (same rounds, same
    * restricted kernel, same sorted fold — operator and oracle cannot
    * drift on accumulation order). */
  private def stationaryMixOracle(rounds: Int): String = {
    val steps = (1 to rounds).map { r =>
      s"""pi$r AS MATERIALIZED (
         |  SELECT dst AS t,
         |    list_reduce(list_prepend(0.0, list(contrib ORDER BY src)),
         |      (a, b) -> a + b) AS pi
         |  FROM (SELECT p.dst, p.src, q.pi * p.p AS contrib
         |        FROM p JOIN pi${r - 1} q ON p.src = q.t)
         |  GROUP BY dst)""".stripMargin
    }
    s"""WITH s AS (
       |  SELECT event_type, lead(event_type) OVER
       |    (PARTITION BY user_id ORDER BY ts, event_id) AS dst
       |  FROM events),
       |cnt AS MATERIALIZED (
       |  SELECT event_type AS src, dst, CAST(count(*) AS BIGINT) AS n
       |  FROM s WHERE dst IS NOT NULL GROUP BY 1, 2),
       |st AS MATERIALIZED (SELECT DISTINCT src FROM cnt),
       |rest AS MATERIALIZED (
       |  SELECT c.src, c.dst, c.n FROM cnt c JOIN st ON c.dst = st.src),
       |p AS MATERIALIZED (
       |  SELECT r.src, r.dst,
       |    CAST(r.n AS DOUBLE) / CAST(o.out_n AS DOUBLE) AS p
       |  FROM rest r JOIN (SELECT src, CAST(sum(n) AS BIGINT) AS out_n
       |                    FROM rest GROUP BY 1) o ON r.src = o.src),
       |nn AS (SELECT count(*) AS n FROM st),
       |pi0 AS MATERIALIZED (
       |  SELECT src AS t, CAST(1 AS DOUBLE) / (SELECT n FROM nn) AS pi
       |  FROM st),
       |${steps.mkString(",\n")},
       |sh AS (
       |  SELECT e.event_type, CAST(count(*) AS BIGINT) AS cnt
       |  FROM events e JOIN st ON e.event_type = st.src GROUP BY 1),
       |tt AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM sh)
       |SELECT sh.event_type, COALESCE(pi$rounds.pi, 0.0) AS pi,
       |  CAST(sh.cnt AS DOUBLE) / CAST(tt.total AS DOUBLE) AS share,
       |  COALESCE(pi$rounds.pi, 0.0) /
       |    (CAST(sh.cnt AS DOUBLE) / CAST(tt.total AS DOUBLE)) AS ratio
       |FROM sh LEFT JOIN pi$rounds ON pi$rounds.t = sh.event_type
       |CROSS JOIN tt
       |ORDER BY sh.event_type""".stripMargin
  }

  val oracleSql: Map[String, String] = Map(
    // same first-element-seeded left fold over the same (ts, event_id)
    // order, same 0.3*x + 0.7*s IEEE tree
    "q180_ewma" ->
      """SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
        |  list_reduce(list(value ORDER BY ts, event_id),
        |    (s, x) -> 0.3 * x + 0.7 * s) AS ewma
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    // the hysteresis recurrence as its closed form: two running-max
    // windows over the daily rollup, marks = the type's own
    // quantile_cont(0.9/0.6) daily-count quantiles
    "q277_burst_detect" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day,
        |    CAST(count(*) AS BIGINT) AS cnt
        |  FROM events GROUP BY 1, 2),
        |thr AS (
        |  SELECT event_type, quantile_cont(cnt, 0.9) AS hi,
        |    quantile_cont(cnt, 0.6) AS lo
        |  FROM daily GROUP BY 1),
        |w AS (
        |  SELECT d.event_type, d.day, d.cnt, t.hi, t.lo,
        |    max(CASE WHEN CAST(d.cnt AS DOUBLE) >= t.hi THEN d.day END)
        |      OVER (PARTITION BY d.event_type ORDER BY d.day
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS last_hi,
        |    max(CASE WHEN CAST(d.cnt AS DOUBLE) < t.lo THEN d.day END)
        |      OVER (PARTITION BY d.event_type ORDER BY d.day
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS last_lo
        |  FROM daily d JOIN thr t ON d.event_type = t.event_type)
        |SELECT event_type, day, cnt, hi, lo,
        |  last_hi IS NOT NULL AND (last_lo IS NULL OR last_hi > last_lo)
        |    AS in_burst
        |FROM w ORDER BY event_type, day""".stripMargin,
    // same (type, hour) rollup; the argmax replays as the
    // (cnt DESC, hour) row_number the min(struct) implements
    "q285_hourly_profile" ->
      """WITH h AS (
        |  SELECT event_type, CAST(hour(ts) AS INTEGER) AS hour,
        |    CAST(count(*) AS BIGINT) AS cnt
        |  FROM events GROUP BY 1, 2),
        |t AS (SELECT event_type, CAST(sum(cnt) AS BIGINT) AS total
        |      FROM h GROUP BY 1),
        |p AS (
        |  SELECT event_type, hour AS peak_hour FROM (
        |    SELECT event_type, hour, row_number() OVER (
        |      PARTITION BY event_type ORDER BY cnt DESC, hour) AS rn
        |    FROM h) WHERE rn = 1)
        |SELECT h.event_type, h.hour, h.cnt,
        |  CAST(h.cnt AS DOUBLE) / CAST(t.total AS DOUBLE) AS share,
        |  p.peak_hour, h.hour = p.peak_hour AS is_peak
        |FROM h
        |JOIN t ON t.event_type = h.event_type
        |JOIN p ON p.event_type = h.event_type
        |ORDER BY h.event_type, h.hour""".stripMargin,
    // the same restricted/renormalized kernel, the same uniform seed,
    // and the pageRank list_reduce(ORDER BY src) fold per round
    "q286_stationary_mix" -> stationaryMixOracle(5),
    // the same two user-keyed leads, rollup, support division and
    // (n DESC, t1, t2, t3) total order
    "q295_path_motifs" ->
      """WITH s AS (
        |  SELECT event_type AS t1,
        |    lead(event_type, 1) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS t2,
        |    lead(event_type, 2) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS t3
        |  FROM events),
        |tri AS (
        |  SELECT t1, t2, t3, CAST(count(*) AS BIGINT) AS n
        |  FROM s WHERE t3 IS NOT NULL GROUP BY 1, 2, 3),
        |tt AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM tri)
        |SELECT t1, t2, t3, n,
        |  CAST(n AS DOUBLE) / CAST(total AS DOUBLE) AS support
        |FROM tri CROSS JOIN tt
        |ORDER BY n DESC, t1, t2, t3 LIMIT 20""".stripMargin,
    // the same (user,type)-keyed lag micros gaps and the same
    // quantile_cont interpolation the distributed machinery replays
    "q294_gap_profile" ->
      """WITH g AS (
        |  SELECT event_type,
        |    epoch_us(ts) - epoch_us(lag(ts) OVER (
        |      PARTITION BY user_id, event_type
        |      ORDER BY ts, event_id)) AS gap_us
        |  FROM events)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n_gaps,
        |  quantile_cont(gap_us, 0.5) AS p50_gap_us,
        |  quantile_cont(gap_us, 0.9) AS p90_gap_us
        |FROM g WHERE gap_us IS NOT NULL
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    // the same user-keyed lag classification and the same 7-day
    // self-join churn identity, all integers
    "q293_growth_accounting" ->
      """WITH uw AS (
        |  SELECT DISTINCT user_id,
        |    CAST(date_trunc('week', ts) AS DATE) AS week FROM events),
        |c AS (
        |  SELECT week, lag(week) OVER (PARTITION BY user_id
        |    ORDER BY week) AS prev
        |  FROM uw),
        |a AS (
        |  SELECT week, CAST(count(*) AS BIGINT) AS n_active,
        |    CAST(sum(CASE WHEN prev IS NULL THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_new,
        |    CAST(sum(CASE WHEN prev IS NOT NULL
        |      AND date_diff('day', prev, week) = 7 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_retained,
        |    CAST(sum(CASE WHEN prev IS NOT NULL
        |      AND date_diff('day', prev, week) > 7 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_resurrected
        |  FROM c GROUP BY week)
        |SELECT a.week, a.n_active, a.n_new, a.n_retained,
        |  a.n_resurrected,
        |  CAST(COALESCE(p.n_active, 0) - a.n_retained AS BIGINT)
        |    AS n_churned
        |FROM a LEFT JOIN a p ON p.week + 7 = a.week
        |ORDER BY a.week""".stripMargin,
    // the same grouped Lorenz integers (count-of-counts ranks) and
    // the same two exact-ratio divisions
    "q287_concentration_card" ->
      """WITH c AS (SELECT user_id, count(*) AS cnt
        |           FROM events GROUP BY 1),
        |g AS (SELECT cnt AS c, CAST(count(*) AS BIGINT) AS ng
        |      FROM c GROUP BY 1),
        |t AS (SELECT CAST(sum(ng) AS BIGINT) AS n,
        |             CAST(sum(c * ng) AS BIGINT) AS tot FROM g),
        |a AS (
        |  SELECT ga.c, ga.ng,
        |    CAST(COALESCE(sum(CASE WHEN gb.c < ga.c THEN gb.ng END), 0)
        |      AS BIGINT) AS rprev,
        |    CAST(COALESCE(sum(CASE WHEN gb.c > ga.c THEN gb.ng END), 0)
        |      AS BIGINT) AS above
        |  FROM g ga LEFT JOIN g gb ON gb.c <> ga.c
        |  GROUP BY 1, 2)
        |SELECT t.n AS n_users, t.tot AS total_events,
        |  CAST(2 * sum(c * (ng * rprev + (ng * (ng + 1)) // 2))
        |      - (t.n + 1) * t.tot AS DOUBLE)
        |    / CAST(t.n * t.tot AS DOUBLE) AS gini,
        |  (t.n + 99) // 100 AS top1pct_users,
        |  CAST(sum(c * greatest(0, least(ng, (t.n + 99) // 100 - above)))
        |      AS DOUBLE) / CAST(t.tot AS DOUBLE) AS top1pct_share
        |FROM a CROSS JOIN t GROUP BY t.n, t.tot
        |ORDER BY n_users""".stripMargin,
    // reference-side exact deciles (quantile_cont list), strict->
    // bucket count, and the bucket-ordered seeded TVD fold
    "q282_value_drift" ->
      """WITH ref AS (
        |  SELECT event_type, value FROM events WHERE event_id % 2 = 0),
        |snap AS (
        |  SELECT event_type, value FROM events WHERE event_id % 2 = 1),
        |cuts AS (
        |  SELECT event_type,
        |    quantile_cont(value, [0.1, 0.2, 0.3, 0.4, 0.5,
        |                          0.6, 0.7, 0.8, 0.9]) AS cs
        |  FROM ref GROUP BY 1),
        |rb AS (
        |  SELECT r.event_type,
        |    len(list_filter(c.cs, x -> r.value > x)) AS bucket,
        |    CAST(count(*) AS BIGINT) AS c_ref
        |  FROM ref r JOIN cuts c ON r.event_type = c.event_type
        |  GROUP BY 1, 2),
        |sb AS (
        |  SELECT s.event_type,
        |    len(list_filter(c.cs, x -> s.value > x)) AS bucket,
        |    CAST(count(*) AS BIGINT) AS c_snap
        |  FROM snap s JOIN cuts c ON s.event_type = c.event_type
        |  GROUP BY 1, 2),
        |rt AS (SELECT event_type, CAST(sum(c_ref) AS BIGINT) AS tot_ref
        |       FROM rb GROUP BY 1),
        |st AS (SELECT event_type, CAST(sum(c_snap) AS BIGINT) AS tot_snap
        |       FROM sb GROUP BY 1),
        |d AS (
        |  SELECT j.event_type, j.bucket,
        |    abs(CAST(j.c_ref AS DOUBLE) / CAST(rt.tot_ref AS DOUBLE) -
        |        CAST(j.c_snap AS DOUBLE) / CAST(st.tot_snap AS DOUBLE))
        |      AS diff,
        |    rt.tot_ref, st.tot_snap
        |  FROM (SELECT COALESCE(rb.event_type, sb.event_type)
        |            AS event_type,
        |          COALESCE(rb.bucket, sb.bucket) AS bucket,
        |          COALESCE(c_ref, 0) AS c_ref,
        |          COALESCE(c_snap, 0) AS c_snap
        |        FROM rb FULL OUTER JOIN sb
        |          ON rb.event_type = sb.event_type
        |          AND rb.bucket = sb.bucket) j
        |  JOIN rt ON rt.event_type = j.event_type
        |  JOIN st ON st.event_type = j.event_type)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n_buckets,
        |  max(tot_ref) AS n_ref, max(tot_snap) AS n_snap,
        |  0.5 * list_reduce(
        |    list_prepend(CAST(0.0 AS DOUBLE), list(diff ORDER BY bucket)),
        |    (a, x) -> a + x) AS tvd
        |FROM d GROUP BY event_type
        |ORDER BY event_type""".stripMargin,
    // distinct (user, type) sets, ordered pair co-occurrence, and the
    // exact-ratio lift: integer products, one double division
    "q283_affinity_lift" ->
      """WITH ut AS (
        |  SELECT DISTINCT user_id, event_type FROM events),
        |n AS (SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
        |      FROM ut),
        |tc AS (SELECT event_type, CAST(count(*) AS BIGINT) AS c
        |       FROM ut GROUP BY 1),
        |p AS (
        |  SELECT a.event_type AS t1, b.event_type AS t2,
        |    CAST(count(*) AS BIGINT) AS c12
        |  FROM ut a JOIN ut b ON a.user_id = b.user_id
        |    AND a.event_type < b.event_type
        |  GROUP BY 1, 2)
        |SELECT p.t1, p.t2, p.c12, c1.c AS c1, c2.c AS c2, n.n_users,
        |  CAST(p.c12 * n.n_users AS DOUBLE)
        |    / CAST(c1.c * c2.c AS DOUBLE) AS lift
        |FROM p
        |JOIN tc c1 ON c1.event_type = p.t1
        |JOIN tc c2 ON c2.event_type = p.t2
        |CROSS JOIN n
        |ORDER BY p.t1, p.t2""".stripMargin,
    // the same ≤7-day fan-out of distinct (user, day) pairs, deduped
    // and counted — no sliding window in either engine
    "q279_rolling_active" ->
      """WITH ud AS (
        |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        |dau AS (SELECT day, CAST(count(*) AS BIGINT) AS dau
        |        FROM ud GROUP BY 1),
        |mx AS (SELECT max(day) AS max_day FROM ud),
        |rolled AS (
        |  SELECT DISTINCT user_id, day + CAST(k AS INTEGER) AS rday
        |  FROM ud, (SELECT unnest(range(7)) AS k)),
        |wau AS (
        |  SELECT rday, CAST(count(*) AS BIGINT) AS wau
        |  FROM rolled, mx WHERE rday <= max_day GROUP BY 1)
        |SELECT d.day, d.dau, w.wau,
        |  CAST(d.dau AS DOUBLE) / CAST(w.wau AS DOUBLE) AS stickiness
        |FROM dau d JOIN wau w ON w.rday = d.day
        |ORDER BY d.day""".stripMargin,
    // exact medians both sides (quantile_cont(0.5) = the weighted
    // interpolation the distributed rank machinery reproduces)
    "q181_mad_outliers" ->
      """WITH med AS (
        |  SELECT event_type, quantile_cont(value, 0.5) AS med
        |  FROM events GROUP BY 1),
        |mad AS (
        |  SELECT e.event_type,
        |    quantile_cont(abs(e.value - m.med), 0.5) AS mad
        |  FROM events e JOIN med m ON e.event_type = m.event_type
        |  GROUP BY 1)
        |SELECT e.event_id, e.event_type, e.value, m.med, d.mad
        |FROM events e
        |JOIN med m ON e.event_type = m.event_type
        |JOIN mad d ON e.event_type = d.event_type
        |WHERE abs(e.value - m.med) > 3.0 * d.mad
        |ORDER BY e.event_id""".stripMargin,
    // integer sufficient statistics, double division only at the end
    "q182_trend_slopes" ->
      """WITH daily AS (
        |  SELECT event_type,
        |    CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
        |      AS BIGINT) AS x,
        |    CAST(count(*) AS BIGINT) AS y
        |  FROM events GROUP BY 1, 2),
        |s AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
        |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |    CAST(sum(x * y) AS BIGINT) AS sxy,
        |    CAST(sum(x * x) AS BIGINT) AS sxx
        |  FROM daily GROUP BY 1)
        |SELECT event_type, n_days,
        |  CAST(n_days * sxy - sx * sy AS DOUBLE)
        |    / CAST(n_days * sxx - sx * sx AS DOUBLE) AS slope,
        |  (CAST(sy AS DOUBLE) -
        |    (CAST(n_days * sxy - sx * sy AS DOUBLE)
        |      / CAST(n_days * sxx - sx * sx AS DOUBLE))
        |    * CAST(sx AS DOUBLE)) / CAST(n_days AS DOUBLE) AS intercept
        |FROM s ORDER BY event_type""".stripMargin,
    // decimal-exact monetary sum, integer recency, CASE banding —
    // every compared value is either integer or a single cast
    "q172_rfm_segments" ->
      """WITH r AS (
        |  SELECT user_id,
        |    CAST(date_diff('day', CAST(max(ts) AS DATE),
        |      DATE '2024-02-01') AS BIGINT) AS r_days,
        |    CAST(count(*) AS BIGINT) AS f,
        |    CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS m
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1)
        |SELECT user_id, r_days, f, m,
        |  CASE WHEN r_days <= 3 THEN 3 WHEN r_days <= 7 THEN 2
        |       ELSE 1 END AS r_score,
        |  CASE WHEN f >= 16 THEN 3 WHEN f >= 10 THEN 2
        |       ELSE 1 END AS f_score,
        |  CASE WHEN m >= 800.0 THEN 3 WHEN m >= 400.0 THEN 2
        |       ELSE 1 END AS m_score,
        |  CAST(CASE WHEN r_days <= 3 THEN 3 WHEN r_days <= 7 THEN 2
        |       ELSE 1 END AS VARCHAR) ||
        |  CAST(CASE WHEN f >= 16 THEN 3 WHEN f >= 10 THEN 2
        |       ELSE 1 END AS VARCHAR) ||
        |  CAST(CASE WHEN m >= 800.0 THEN 3 WHEN m >= 400.0 THEN 2
        |       ELSE 1 END AS VARCHAR) AS segment
        |FROM r ORDER BY user_id""".stripMargin,
    // identical lag -> boundary -> running-sum -> rollup pipeline;
    // durations in integer epoch microseconds
    "q173_sessionize" ->
      """WITH o AS (
        |  SELECT user_id, ts, event_id,
        |    lag(ts) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS prev
        |  FROM events),
        |b AS (
        |  SELECT user_id, ts, event_id,
        |    CASE WHEN prev IS NULL
        |           OR epoch_us(ts) - epoch_us(prev) > 1800000000
        |         THEN 1 ELSE 0 END AS new_s
        |  FROM o),
        |s AS (
        |  SELECT user_id, ts,
        |    CAST(sum(new_s) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_idx
        |  FROM b)
        |SELECT user_id, session_idx,
        |  CAST(count(*) AS BIGINT) AS n_events,
        |  min(ts) AS start_ts, max(ts) AS end_ts,
        |  CAST((epoch_us(max(ts)) - epoch_us(min(ts))) // 1000000
        |    AS BIGINT) AS duration_sec
        |FROM s GROUP BY 1, 2 ORDER BY user_id, session_idx""".stripMargin,
    "q109_pit_join" ->
      """WITH o AS (
        |  SELECT user_id, event_type, ts, event_id,
        |    lag(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS prev
        |  FROM events WHERE user_id < 50),
        |scd AS (
        |  SELECT user_id, event_type AS state, ts AS valid_from,
        |    lead(ts) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS valid_to
        |  FROM o WHERE prev IS NULL OR event_type <> prev),
        |purchases AS (
        |  SELECT event_id, user_id, ts FROM events
        |  WHERE event_type = 'purchase' AND user_id < 50)
        |SELECT p.event_id, p.user_id, p.ts, s.state
        |FROM purchases p JOIN scd s
        |  ON p.user_id = s.user_id
        | AND s.valid_from <= p.ts
        | AND (s.valid_to IS NULL OR p.ts < s.valid_to)
        |ORDER BY p.event_id""".stripMargin,
    "q106_event_transitions" ->
      """WITH s AS (
        |  SELECT event_type, lead(event_type) OVER
        |    (PARTITION BY user_id ORDER BY ts, event_id) AS next_type
        |  FROM events)
        |SELECT event_type, next_type, CAST(count(*) AS BIGINT) AS n,
        |  CAST(count(*) AS DOUBLE) /
        |    CAST(sum(count(*)) OVER (PARTITION BY event_type) AS DOUBLE) AS p
        |FROM s WHERE next_type IS NOT NULL
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q103_event_throttle" ->
      """WITH o AS (
        |  SELECT event_id, user_id, event_type, ts,
        |    lag(ts) OVER (PARTITION BY user_id, event_type
        |                  ORDER BY ts, event_id) AS prev
        |  FROM events)
        |SELECT event_id, user_id, event_type, ts
        |FROM o WHERE prev IS NULL
        |   OR epoch_us(ts) - epoch_us(prev) >= 300000000
        |ORDER BY event_id""".stripMargin,
    "q93_cohort_retention" ->
      """WITH d AS (SELECT user_id, CAST(ts AS DATE) AS day FROM events),
        |coh AS (SELECT user_id AS cuid, min(day) AS cday FROM d GROUP BY 1)
        |SELECT CAST(date_trunc('week', cday) AS DATE) AS cohort_week,
        |  CAST(date_diff('day', cday, day)//7 AS BIGINT) AS week_offset,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
        |FROM d JOIN coh ON d.user_id = coh.cuid
        |GROUP BY 1,2 ORDER BY 1,2""".stripMargin,
    "q94_funnel" ->
      """WITH v AS (SELECT user_id, min(ts) AS vt FROM events
        |           WHERE event_type='view' GROUP BY 1),
        |c AS (SELECT e.user_id, min(e.ts) AS ct FROM events e
        |      JOIN v ON e.user_id=v.user_id
        |      WHERE e.event_type='click' AND e.ts >= v.vt
        |        AND e.ts <= v.vt + INTERVAL 1 HOUR GROUP BY 1),
        |p AS (SELECT e.user_id, min(e.ts) AS pt FROM events e
        |      JOIN c ON e.user_id=c.user_id
        |      WHERE e.event_type='purchase' AND e.ts >= c.ct
        |        AND e.ts <= c.ct + INTERVAL 24 HOUR GROUP BY 1)
        |SELECT CAST((SELECT count(*) FROM v) AS BIGINT) AS stage_view,
        |       CAST((SELECT count(*) FROM c) AS BIGINT) AS stage_click,
        |       CAST((SELECT count(*) FROM p) AS BIGINT) AS stage_purchase""".stripMargin,
    "q95_scd2_user_state" ->
      """WITH o AS (
        |  SELECT user_id, event_type, ts, event_id,
        |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        |  FROM events WHERE user_id < 50),
        |chg AS (
        |  SELECT user_id, event_type, ts, event_id FROM o
        |  WHERE prev IS NULL OR event_type <> prev)
        |SELECT user_id, event_type, ts AS valid_from,
        |  lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to,
        |  CAST(CASE WHEN lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |       IS NULL THEN 1 ELSE 0 END AS INTEGER) AS is_current
        |FROM chg ORDER BY user_id, valid_from, event_id""".stripMargin,
    "q99_gap_filled_daily" ->
      """WITH d AS (
        |  SELECT user_id, CAST(ts AS DATE) AS day, count(*) AS n
        |  FROM events WHERE user_id < 20 GROUP BY 1,2),
        |span AS (
        |  SELECT user_id AS suid,
        |    unnest(generate_series(min(day), max(day), INTERVAL 1 DAY)) AS day
        |  FROM d GROUP BY user_id)
        |SELECT suid AS user_id, CAST(span.day AS DATE) AS day,
        |  CAST(coalesce(n, 0) AS BIGINT) AS n_events,
        |  CAST(sum(coalesce(n, 0))
        |    OVER (PARTITION BY suid ORDER BY span.day) AS BIGINT) AS cum_events
        |FROM span LEFT JOIN d
        |  ON d.user_id = span.suid AND d.day = CAST(span.day AS DATE)
        |ORDER BY user_id, day""".stripMargin
  )
}
