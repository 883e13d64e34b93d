package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Data-quality constraint checking — the expectations layer an ETL
  * engine runs before publishing a load (the reference pipeline
  * silently ships whatever the API returned; see SURVEY §1.2 on its
  * union-typed error values). Each check is one aggregate; the report
  * unions them into (check, violations) rows, so the whole audit is a
  * handful of independent scans Catalyst can schedule together and a
  * monitoring job can diff run-over-run. Checks follow the standard
  * taxonomy: completeness (nulls), uniqueness (PK), referential
  * integrity (orphans), and domain ranges. */
object Quality {

  /** One named violation count. */
  private def check(name: String, violations: DataFrame): DataFrame =
    violations.agg(count(lit(1)).as("violations"))
      .select(lit(name).as("check"), col("violations"))

  def dataQualityReport(t: Tables): DataFrame = {
    val li = t.lineitem
    val checks = Seq(
      // completeness: fact keys must never be null
      check("lineitem_orderkey_null",
        li.filter(col("l_orderkey").isNull)),
      // uniqueness: (orderkey, linenumber) is the PK
      check("lineitem_pk_duplicate",
        li.groupBy(col("l_orderkey"), col("l_linenumber"))
          .agg(count(lit(1)).as("n")).filter(col("n") > 1)),
      // referential integrity: every lineitem joins an order, every
      // order joins a customer (anti joins — null-safe, one shuffle)
      check("lineitem_orphan_orderkey",
        li.join(t.orders.select(col("o_orderkey")),
          col("l_orderkey") === col("o_orderkey"), "left_anti")),
      check("orders_orphan_custkey",
        t.orders.join(t.customer.select(col("c_custkey")),
          col("o_custkey") === col("c_custkey"), "left_anti")),
      // domain: quantities positive and bounded, discounts in [0, 1]
      check("lineitem_quantity_range",
        li.filter(col("l_quantity") <= 0 || col("l_quantity") > 60)),
      check("lineitem_discount_range",
        li.filter(col("l_discount") < 0 || col("l_discount") > 1)))
    checks.reduce(_ union _).orderBy(col("check"))
  }

  /** Statistical outlier detection: events whose value sits more than
    * 3 population standard deviations from its event-type mean. The
    * moments are exact decimal sums (events.value is 2dp, so the cast
    * is lossless) cast to double once — both engines then evaluate
    * the identical z-expression, and the 3.0 cut sits in an empirical
    * gap of ~1e-3 at both SFs, far beyond 1-ulp concerns. At scale
    * this is one pass for moments (map-side combinable) + one
    * broadcast-stats scan — the shape of every z-score/anomaly sweep. */
  def valueOutliers(t: Tables): DataFrame = {
    val v = col("value").cast("decimal(18,2)")
    val stats = t.events.groupBy(col("event_type").as("et"))
      .agg(count(lit(1)).as("n"),
        sum(v).cast("double").as("s1"),
        sum(v * v).cast("double").as("s2"))
      .select(col("et"), (col("s1") / col("n")).as("mu"),
        sqrt(col("s2") / col("n") -
          (col("s1") / col("n")) * (col("s1") / col("n"))).as("sigma"))
    t.events.join(broadcast(stats), col("event_type") === col("et"))
      .withColumn("z", (col("value") - col("mu")) / col("sigma"))
      .filter(abs(col("z")) > 3)
      .select(col("event_id"), col("event_type"), col("value"), col("z"))
      .orderBy(col("event_id"))
  }

  /** Inline pipeline instrumentation: attach data-quality counters to
    * a DataFrame with `observe()` so they accumulate DURING the job
    * that writes the data — no second scan, no separate validation
    * pass. At 100 TB this is the difference between "validated" and
    * "validated for the price of reading everything twice". Returns
    * the instrumented frame plus the Observation handle; call
    * `observation.get` after any action on the frame. QualityObserveSpec
    * pins the counters against directly-computed values. */
  def withQualityObservation(df: DataFrame, idCol: String,
      nonNegCol: String): (DataFrame, org.apache.spark.sql.Observation) = {
    val obs = org.apache.spark.sql.Observation()
    val instrumented = df.observe(obs,
      count(lit(1)).as("n_rows"),
      sum(when(col(idCol).isNull, 1L).otherwise(0L)).as("null_ids"),
      sum(when(col(nonNegCol) < 0, 1L).otherwise(0L)).as("negatives"),
      // CollectMetrics forbids DISTINCT aggregates — the approx
      // variant is the observable stand-in for a uniqueness check
      approx_count_distinct(col(idCol)).as("approx_distinct_ids"))
    (instrumented, obs)
  }

  /** ANALYZE-style column statistics in ONE scan — the numbers a
    * cost-based optimizer and a data-quality monitor both consume:
    * row count, null count, NDV, and min/max per column, one output
    * row per column via stack(). min/max serialize to strings for a
    * uniform schema across column types.
    *
    * NDV mode is the scale knob: the DEFAULT is
    * `approx_count_distinct` (HLL++, rsd 0.01) — every aggregate then
    * partial-aggregates in one plain scan with NO multi-distinct
    * Expand, which is the only plan that survives 100 TB (exact
    * multi-column count_distinct expands the scan |cols|+1-fold).
    * `exactNdv = true` is the audit/oracle configuration: bit-exact
    * NDV at the price of the Expand — fine at bench scale, documented
    * as non-default for exactly that reason (q153 pins it against
    * DuckDB; HLL sketches differ across engines so approx can't be
    * oracle-checked). */
  def columnStats(df: DataFrame, cols: Seq[String],
      exactNdv: Boolean = false): DataFrame = {
    val aggs = cols.flatMap { c =>
      Seq(
        sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"${c}__nnull"),
        (if (exactNdv) count_distinct(col(c))
         else approx_count_distinct(col(c), 0.01)).as(s"${c}__ndv"),
        min(col(c)).cast("string").as(s"${c}__min"),
        max(col(c)).cast("string").as(s"${c}__max"))
    }
    // counts / NDV / min / max are order-independent: fan out an
    // under-partitioned scan so the Expand-heavy EXACT tier
    // parallelizes (Par.fanOut — no-op at scale). The approx tier
    // stays unfanned: its per-partition partial state is |cols|
    // rsd-0.01 HLL sketches (~mega-register), so fanning a small scan
    // multiplies sketch merges for no CPU win (measured: q188
    // 2.5 → 5.4 s fanned, q153 6.7 → 3.3 s fanned — opposite signs,
    // hence the tier-specific gate).
    val one = (if (exactNdv) Par.fanOut(df) else df)
      .agg(count(lit(1)).as("n_rows"), aggs: _*)
    val stackExpr = s"stack(${cols.size}, " + cols.map(c =>
      s"'$c', ${c}__nnull, ${c}__ndv, ${c}__min, ${c}__max")
      .mkString(", ") +
      ") as (col_name, n_null, ndv, min_value, max_value)"
    one.selectExpr("n_rows", stackExpr)
      .select(col("col_name"), col("n_rows"), col("n_null"), col("ndv"),
        col("min_value"), col("max_value"))
      .orderBy(col("col_name"))
  }

  // ---- in-engine quality classifier (GPT-3-style corpus filtering) ----

  /** Hashed bag-of-words features with a leading bias slot:
    * x = [1.0, c_0/n, ..., c_{dim-1}/n] where c_i counts tokens
    * hashing (xxhash64 mod dim) to bucket i. One token-order explode
    * + two partial-aggregatable groupBys; the per-doc map is bounded
    * by dim. */
  private def bowFeatures(docs: DataFrame, positive: Column,
      dim: Int): DataFrame =
    docs.select(col("doc_id"), positive.cast("int").as("y"),
        explode(split(col("text"), " ")).as("w"))
      .select(col("doc_id"), col("y"),
        pmod(xxhash64(col("w")), lit(dim.toLong)).cast("int").as("b"))
      .groupBy(col("doc_id"), col("y"), col("b"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"), col("y"))
      .agg(map_from_entries(collect_list(struct(col("b"), col("c"))))
        .as("m"), sum(col("c")).as("n"))
      .select(col("doc_id"), col("y"), expr(
        s"concat(array(1.0d), transform(sequence(0, ${dim - 1}), " +
          "i -> coalesce(element_at(m, i), 0L) / CAST(n AS DOUBLE)))")
        .as("x"))

  /** GD inner loop over an ALREADY-PERSISTED features frame — shared
    * by train-only and train-then-score so scoring never rebuilds
    * features.
    *
    * The per-round gradient is ONE flat scan with dim+1 codegen'd
    * `sum(x[i] * err)` accumulators (partial-aggregatable, single
    * output row). Earlier rounds used posexplode + groupBy(pos),
    * which amplified the features frame (dim+1)x and shuffled the
    * blow-up EVERY round — at sf0.1 that was 15 rounds x 3.3M
    * exploded rows for a 65-double answer; the flat form cut
    * q148/q193 roughly in half (bench r9). Driver state is still just
    * the model. */
  private def gdRounds(feat: DataFrame, n: Double, dim: Int,
      rounds: Int, lr: Double): Array[Double] = {
    val w0 = new Array[Double](dim + 1)
    // No training rows (empty corpus, or a sampleFraction whose
    // hash-slice selected zero docs): the gradient agg would return
    // nulls and n=0 would divide — the zero-init model is the
    // defined answer (sigmoid(0) = 0.5 for every doc).
    if (n == 0) w0
    else Iterate(w0, Iterate.Fixed[Array[Double]](rounds)) { w =>
      val wLit = array(w.map(lit(_)): _*)
      val margin = aggregate(
        zip_with(col("x"), wLit, (x, wi) => x * wi),
        lit(0.0), (acc, t) => acc + t)
      val p = lit(1.0) / (lit(1.0) + exp(-margin))
      val sums = (0 to dim).map(i =>
        sum(col("x").getItem(i) * col("err")).as(s"g$i"))
      val row = feat
        .select((p - col("y")).as("err"), col("x"))
        .agg(sums.head, sums.tail: _*)
        .head()
      w.indices.map(i => w(i) - lr * row.getDouble(i) / n).toArray
    }.state
  }

  /** Deterministic hash-sample predicate over doc_id — the 100 TB
    * training knob: the classifier only needs a statistical slice to
    * converge, so training reads `sampleFraction` of the corpus while
    * scoring still covers all of it. xxhash64 keeps the slice stable
    * across runs/partitionings (same contract as
    * [[graft.operators.Dedup.hashStratifiedSample]]). */
  private def sampledPredicate(sampleFraction: Double): Column =
    pmod(xxhash64(col("doc_id")), lit(1000000L)) <
      lit((sampleFraction * 1000000L).toLong)

  private def sampled(docs: DataFrame, sampleFraction: Double): DataFrame =
    if (sampleFraction >= 1.0) docs
    else docs.filter(sampledPredicate(sampleFraction))

  /** Train a logistic-regression quality classifier IN-ENGINE — the
    * corpus-filtering model of GPT-3/PaLM-style curation (Brown et
    * al. 2020, arXiv:2005.14165, Appendix A: a classifier scores
    * CommonCrawl against a high-quality reference; documents are kept
    * by score), with the positive class given as a predicate over the
    * corpus itself. Batch gradient descent as DataFrame ops: each
    * round broadcasts the (dim+1)-float weight vector as literals,
    * computes row-local sigmoid margins, and reduces the gradient
    * with ONE posexplode + dim-keyed groupBy — the only driver state
    * is the model itself (the [[Similarity.kmeansCentroids]]
    * precedent). Features persist across rounds; lineage never grows
    * with rounds. `sampleFraction < 1` trains on a deterministic
    * hash-slice of the corpus — at 100 TB you train on ~1e-4 of the
    * data and score everything. */
  def trainQualityClassifier(docs: DataFrame, positive: Column,
      dim: Int = 64, rounds: Int = 15, lr: Double = 2.0,
      sampleFraction: Double = 1.0): Array[Double] = {
    val feat =
      bowFeatures(sampled(docs, sampleFraction), positive, dim).persist()
    try {
      gdRounds(feat, feat.count().toDouble, dim, rounds, lr)
    } finally feat.unpersist(false)
  }

  /** Score every document with the trained classifier: one broadcast
    * weight vector, one row-local fold per document — scan-shaped.
    *
    * Features are built ONCE: training executes its GD actions against
    * the persisted frame, scoring projects from the SAME frame, and
    * the narrow (doc_id, y, prob) result is eagerly localCheckpointed
    * so the cache can be released before returning (the
    * [[ScalePatterns.equiDepthHistogram]] unpersist-vs-recompute
    * trade, resolved here by materializing the 3-column result — tiny
    * relative to re-tokenizing the corpus). With `sampleFraction < 1`
    * training filters the SAME persisted features frame down to the
    * hash-slice (per-doc features are independent, so the filtered
    * frame is identical to features built from the sampled corpus)
    * while scoring covers the full corpus. */
  def qualityClassifierScores(docs: DataFrame, positive: Column,
      dim: Int = 64, rounds: Int = 15, lr: Double = 2.0,
      sampleFraction: Double = 1.0): DataFrame = {
    val fullFeat = bowFeatures(docs, positive, dim).persist()
    try {
      val trainFeat =
        if (sampleFraction >= 1.0) fullFeat
        else fullFeat.filter(sampledPredicate(sampleFraction))
      val w = gdRounds(trainFeat, trainFeat.count().toDouble, dim, rounds, lr)
      val wLit = array(w.map(lit(_)): _*)
      val margin = aggregate(
        zip_with(col("x"), wLit, (x, wi) => x * wi),
        lit(0.0), (acc, t) => acc + t)
      fullFeat
        .select(col("doc_id"), col("y"),
          (lit(1.0) / (lit(1.0) + exp(-margin))).as("prob"))
        .orderBy(col("doc_id"))
        .localCheckpoint(true)
    } finally fullFeat.unpersist(false)
  }

  // ---- ORACLE-EXACT linear classifier (integer batch perceptron) ----

  /** Integer bag-of-words features for the exact perceptron: slot 0
    * is the bias (always 1), slots 1..dim are RAW token counts for
    * the salted-md5-prefix bucket `1 + md5("qb:" ++ token) mod dim`
    * (the q134/q300 portability device — xxhash64 exists in no other
    * engine). No normalization: counts stay integers, so every
    * downstream quantity is exact 64-bit arithmetic in any engine.
    * Same two partial-aggregatable groupBys as [[bowFeatures]]. */
  private def intBowFeatures(docs: DataFrame, positive: Column,
      dim: Int): DataFrame =
    docs.select(col("doc_id"),
        when(positive, 1L).otherwise(-1L).as("y2"),
        explode(split(col("text"), " ")).as("w"))
      .select(col("doc_id"), col("y2"),
        (pmod(conv(substring(md5(concat(lit("qb:"), col("w"))), 1, 8),
          16, 10).cast("long"), lit(dim.toLong)) + 1L).cast("int")
          .as("f"))
      .groupBy(col("doc_id"), col("y2"), col("f"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"), col("y2"))
      .agg(map_from_entries(collect_list(struct(col("f"), col("c"))))
        .as("m"))
      .select(col("doc_id"), col("y2"), expr(
        s"concat(array(1L), transform(sequence(1, $dim), " +
          "i -> coalesce(element_at(m, i), 0L)))").as("x"))

  /** Batch-perceptron rounds over persisted integer features. Each
    * round is ONE flat scan (the [[gdRounds]] shape): broadcast the
    * integer weight vector as literals, mark misclassified docs
    * (y2·margin ≤ 0 — the classic batch update, Rosenblatt 1958 run
    * in aggregate), and fold their y2-signed feature sums into the
    * weights. Every update is an order-independent INTEGER sum, so
    * the trained model — unlike [[gdRounds]]'s float sigmoid path —
    * replays bit-exactly in SQL (q323 unrolls these rounds as CTEs).
    * An empty misclassified set converges early; the unrolled oracle
    * keeps summing zero updates, which is the same fixed point. */
  private def perceptronRounds(feat: DataFrame, dim: Int,
      rounds: Int): Array[Long] =
    Iterate(new Array[Long](dim + 1),
        Iterate.UntilKey(rounds, (w: Array[Long]) => w.toSeq)) { w =>
      val wLit = array(w.map(lit(_)): _*)
      val margin = aggregate(
        zip_with(col("x"), wLit, (x, wi) => x * wi),
        lit(0L), (acc, t) => acc + t)
      val sums = (0 to dim).map(i =>
        sum(col("x").getItem(i) * col("y2")).as(s"u$i"))
      val row = feat
        .select(col("y2"), col("x"), margin.as("mg"))
        .filter(col("y2") * col("mg") <= 0)
        .agg(sums.head, sums.tail: _*)
        .head()
      // no misclassified docs: w stays put and the key-stable stop ends
      // the loop (a zero update is a fixed point either way)
      if (row.isNullAt(0)) w
      else w.indices.map(i => w(i) + row.getLong(i)).toArray
    }.state

  /** PORTABLE deterministic hash-slice over doc_id — the same 100 TB
    * training knob as [[sampledPredicate]], built from the md5-prefix
    * long instead of xxhash64 so the q325 oracle replays the SLICE
    * SELECTION itself in SQL (sampled training and full-corpus
    * scoring both driver-checked, not merely spec-pinned). */
  private def portableSlice(sampleFraction: Double): Column =
    pmod(conv(substring(md5(concat(lit("slice:"),
      col("doc_id").cast("string"))), 1, 8), 16, 10).cast("long"),
      lit(1000000L)) < lit((sampleFraction * 1000000L).toLong)

  /** Train the exact perceptron and return the integer model —
    * exposed for specs; the registered query is
    * [[perceptronExactScores]]. */
  def trainPerceptronExact(docs: DataFrame, positive: Column,
      dim: Int = 16, rounds: Int = 4,
      sampleFraction: Double = 1.0): Array[Long] = {
    val feat = intBowFeatures(docs, positive, dim).persist()
    try {
      val trainFeat =
        if (sampleFraction >= 1.0) feat
        else feat.filter(portableSlice(sampleFraction))
      perceptronRounds(trainFeat, dim, rounds)
    } finally feat.unpersist(false)
  }

  /** ORACLE-EXACT in-engine linear quality classifier — the
    * [[qualityClassifierScores]] family's hash-exact tier (the
    * q313/q314/q316 precedent applied to the LAST rows-only
    * algorithmic family). The production tier trains logistic GD in
    * floats (sigmoid puts it beyond any SQL replay); this tier trains
    * a batch perceptron on integer md5-bucket counts, so training,
    * margins and decisions are all exact integer arithmetic that
    * DuckDB replays round by round. The linear-classifier shape is
    * the fastText corpus-filter of CCNet/LLaMA curation (Joulin et
    * al. 2016, arXiv:1607.01759; Wenzek et al. 2019,
    * arXiv:1911.00359) — same features, same serving scan, exact
    * decision audit.
    *
    * Scale: features build in two partial-agg groupBys (per-doc state
    * ≤ dim entries); each round is one flat scan reduced to a
    * (dim+1)-long driver row; scoring is one broadcast-literal scan.
    * Weight magnitudes are bounded by rounds·Σtokens and margins by
    * w·max-doc-tokens — int64-safe through ~10^13 corpus tokens; past
    * that, lift the fold to decimal(38,0) (the q139 device).
    *
    * `sampleFraction < 1` trains on a PORTABLE deterministic
    * hash-slice (md5-prefix of doc_id — the q193 100 TB knob, but
    * oracle-replayable: q325's SQL applies the identical slice
    * predicate to its training CTEs) while scoring still covers the
    * whole corpus; per-doc features are independent, so filtering
    * the persisted frame equals building features from the sampled
    * corpus. An empty slice trains the zero model (margin 0,
    * pred 0 for every doc) in both engines. */
  def perceptronExactScores(docs: DataFrame, positive: Column,
      dim: Int = 16, rounds: Int = 4,
      sampleFraction: Double = 1.0): DataFrame = {
    val feat = intBowFeatures(docs, positive, dim).persist()
    try {
      val trainFeat =
        if (sampleFraction >= 1.0) feat
        else feat.filter(portableSlice(sampleFraction))
      val w = perceptronRounds(trainFeat, dim, rounds)
      val wLit = array(w.map(lit(_)): _*)
      val margin = aggregate(
        zip_with(col("x"), wLit, (x, wi) => x * wi),
        lit(0L), (acc, t) => acc + t)
      feat.select(col("doc_id"),
          when(col("y2") > 0, 1).otherwise(0).as("y"),
          margin.as("margin"))
        .withColumn("pred", when(col("margin") > 0, 1).otherwise(0))
        .orderBy(col("doc_id"))
        .localCheckpoint(true)
    } finally feat.unpersist(false)
  }

  /** Row-local serving scan for a TRAINED exact-perceptron model —
    * the q311/q319 train-once/serve-cheap economics applied to the
    * classifier family. The fused tier (q323) builds per-doc feature
    * vectors with two groupBys because TRAINING re-reads them round
    * after round; a FIXED model needs none of that:
    * `margin = w0 + Σ_tokens w[bucket(token)]` — the bucket-count
    * contraction folded into one pass over the token array, so
    * scoring is a pure row-local projection with ZERO shuffle that
    * runs unchanged as an append-mode stream (stateless;
    * StreamingSpec pins stream == batch, QualityClassifierSpec pins
    * bit-identity to the fused tier and the Exchange-free plan).
    * At 100 TB this is the serving shape: train on the sampled slice
    * (q193's knob), broadcast 17 longs, score everything in one
    * codegen'd scan. Unordered — the registered batch query adds the
    * total order; streams can't sort in append mode.
    *
    * NULL-text docs are DROPPED, matching the fused tier exactly:
    * there `explode(split(NULL))` erases the doc from the feature
    * frame, so it gets no score row — without the mirrored filter
    * here the serve fold would emit (NULL margin, pred 0) for the
    * same doc and break the pinned serve ≡ fused bit-identity on any
    * corpus containing one. */
  def perceptronServe(docs: DataFrame, positive: Column,
      w: Array[Long], dim: Int = 16): DataFrame = {
    require(w.length == dim + 1, s"model needs ${dim + 1} slots")
    val wLit = array(w.map(lit(_)): _*)
    // element_at is 1-based: bucket f = 1 + md5 mod dim lives at
    // array slot f + 1 = md5 mod dim + 2; slot 1 (bias) seeds the fold
    val bucketWeight = (tok: Column) => element_at(wLit,
      (pmod(conv(substring(md5(concat(lit("qb:"), tok)), 1, 8), 16, 10)
        .cast("long"), lit(dim.toLong)) + 2L).cast("int"))
    val margin = aggregate(
      transform(split(col("text"), " "), bucketWeight),
      lit(w(0)), (acc, t) => acc + t)
    docs.filter(col("text").isNotNull).select(col("doc_id"),
      when(positive, 1).otherwise(0).as("y"),
      margin.as("margin"),
      when(margin > 0, 1).otherwise(0).as("pred"))
  }

  /** q323's DuckDB twin, GENERATED with the perceptron rounds
    * unrolled (the q313 convention): long-form integer features
    * (bias row per doc + md5-bucket counts), then per round one
    * margin join, one misclassified-update rollup, one weight merge —
    * the whole training loop replays, not just the scores. With
    * `sampleFraction < 1` the training CTEs read the `tr` slice
    * (the SAME md5 predicate as [[portableSlice]]) while the final
    * scoring join still reads `feat` — the q325 contract (sampled
    * training, full coverage) checked by the driver itself. */
  private def perceptronOracle(dim: Int, rounds: Int,
      sampleFraction: Double = 1.0): String = {
    val trainRel = if (sampleFraction >= 1.0) "feat" else "tr"
    val sliceCte =
      if (sampleFraction >= 1.0) ""
      else
        // no line may START with the || concat operator: the OUTER
        // template's stripMargin would strip through it (the q320
        // hazard) — keep operators at line end
        s"""tr AS (
           |  SELECT * FROM feat
           |  WHERE CAST('0x' || substr(md5('slice:' ||
           |      CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)
           |    % 1000000 < ${(sampleFraction * 1000000L).toLong}),
           |""".stripMargin
    val roundCtes = (1 to rounds).map { r =>
      s"""m$r AS (
         |  SELECT $trainRel.doc_id, $trainRel.y2,
         |    sum(w${r - 1}.w * $trainRel.c) AS mg
         |  FROM $trainRel JOIN w${r - 1} USING (f) GROUP BY 1, 2),
         |u$r AS (
         |  SELECT f, sum($trainRel.y2 * $trainRel.c) AS du
         |  FROM $trainRel JOIN m$r USING (doc_id)
         |  WHERE m$r.y2 * m$r.mg <= 0 GROUP BY f),
         |w$r AS (
         |  SELECT w${r - 1}.f, w${r - 1}.w + coalesce(u$r.du, 0) AS w
         |  FROM w${r - 1} LEFT JOIN u$r USING (f))""".stripMargin
    }.mkString(",\n")
    s"""WITH tok AS (
       |  SELECT doc_id,
       |    CASE WHEN source = 'src0' THEN 1 ELSE -1 END AS y2,
       |    unnest(string_split(text, ' ')) AS w
       |  FROM documents),
       |tf AS (
       |  SELECT doc_id, y2,
       |    CAST(1 + CAST('0x' || substr(md5('qb:' || w), 1, 8)
       |      AS BIGINT) % $dim AS INTEGER) AS f,
       |    CAST(count(*) AS BIGINT) AS c
       |  FROM tok GROUP BY 1, 2, 3),
       |feat AS (
       |  SELECT doc_id, y2, f, c FROM tf
       |  UNION ALL
       |  SELECT DISTINCT doc_id, y2, 0 AS f, CAST(1 AS BIGINT) AS c
       |  FROM tok),
       |${sliceCte}w0 AS (
       |  SELECT CAST(unnest(range(0, ${dim + 1})) AS INTEGER) AS f,
       |    CAST(0 AS BIGINT) AS w),
       |$roundCtes
       |SELECT feat.doc_id,
       |  CASE WHEN feat.y2 > 0 THEN 1 ELSE 0 END AS y,
       |  CAST(sum(w$rounds.w * feat.c) AS BIGINT) AS margin,
       |  CASE WHEN sum(w$rounds.w * feat.c) > 0 THEN 1 ELSE 0 END
       |    AS pred
       |FROM feat JOIN w$rounds USING (f)
       |GROUP BY 1, 2 ORDER BY doc_id""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // exactNdv = the oracle-pinned audit configuration; the library
    // default is the Expand-free approx path (q188 covers it)
    "q153_column_stats" -> ((s, d) =>
      columnStats(Tables(s, d).lineitem,
        Seq("l_discount", "l_extendedprice", "l_quantity", "l_returnflag"),
        exactNdv = true)),
    "q188_column_stats_approx" -> ((s, d) =>
      columnStats(Tables(s, d).lineitem,
        Seq("l_discount", "l_extendedprice", "l_quantity", "l_returnflag"))),
    "q148_quality_classifier" -> ((s, d) =>
      qualityClassifierScores(Tables(s, d).documents,
        col("source") === "src0")),
    // the 100 TB training path: train on a deterministic quarter
    // hash-slice, score the FULL corpus (rows == corpus size — the
    // driver's rows check pins exactly the scoring-coverage contract;
    // QualityClassifierSpec pins separability at this fraction)
    "q193_classifier_sampled" -> ((s, d) =>
      qualityClassifierScores(Tables(s, d).documents,
        col("source") === "src0", sampleFraction = 0.25)),
    // the classifier family's hash-exact tier: integer batch
    // perceptron, training replayed round-by-round in the oracle
    "q323_perceptron_exact" -> ((s, d) =>
      perceptronExactScores(Tables(s, d).documents,
        col("source") === "src0")),
    // the 100 TB training knob on the EXACT tier: train on the
    // portable quarter hash-slice, score the full corpus — slice
    // selection, training and coverage all replayed in the oracle
    "q325_perceptron_sampled" -> ((s, d) =>
      perceptronExactScores(Tables(s, d).documents,
        col("source") === "src0", sampleFraction = 0.25)),
    // the serving tier: train once, score in one zero-shuffle scan —
    // registered with q323's oracle VERBATIM (the q321 convention),
    // so the driver itself checks serve ≡ fused bit-for-bit
    "q324_perceptron_served" -> ((s, d) => {
      val docs = Tables(s, d).documents
      val w = trainPerceptronExact(docs, col("source") === "src0")
      perceptronServe(docs, col("source") === "src0", w)
        .orderBy(col("doc_id"))
    }),
    "q110_value_outliers" -> ((s, d) => valueOutliers(Tables(s, d))),
    "q86_quality_report" -> ((s, d) => dataQualityReport(Tables(s, d)))
  )

  val oracleSql: Map[String, String] = Map(
    "q323_perceptron_exact" -> perceptronOracle(16, 4),
    "q324_perceptron_served" -> perceptronOracle(16, 4),
    "q325_perceptron_sampled" -> perceptronOracle(16, 4, 0.25),
    "q153_column_stats" -> {
      def one(c: String) =
        s"""SELECT '$c' AS col_name, CAST(count(*) AS BIGINT) AS n_rows,
           |  CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           |    AS n_null,
           |  CAST(count(DISTINCT $c) AS BIGINT) AS ndv,
           |  CAST(min($c) AS VARCHAR) AS min_value,
           |  CAST(max($c) AS VARCHAR) AS max_value
           |FROM lineitem""".stripMargin
      Seq("l_discount", "l_extendedprice", "l_quantity", "l_returnflag")
        .map(one).mkString("", "\nUNION ALL\n", "\nORDER BY col_name")
    },
    "q110_value_outliers" -> {
      def d(e: String) = s"CAST(CAST($e AS VARCHAR) AS DOUBLE)"
      s"""WITH m AS (
         |  SELECT event_type AS et, COUNT(*) AS n,
         |    ${d("SUM(CAST(value AS DECIMAL(18,2)))")} AS s1,
         |    ${d("SUM(CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2)))")} AS s2
         |  FROM events GROUP BY 1),
         |stats AS (
         |  SELECT et, s1/n AS mu,
         |    sqrt(s2/n - (s1/n)*(s1/n)) AS sigma FROM m)
         |SELECT event_id, event_type, value, (value - mu)/sigma AS z
         |FROM events JOIN stats ON event_type = et
         |WHERE abs((value - mu)/sigma) > 3
         |ORDER BY event_id""".stripMargin
    },
    "q86_quality_report" ->
      """SELECT * FROM (
        |  SELECT 'lineitem_orderkey_null' AS check, COUNT(*) AS violations
        |  FROM lineitem WHERE l_orderkey IS NULL
        |  UNION ALL
        |  SELECT 'lineitem_pk_duplicate', COUNT(*) FROM (
        |    SELECT l_orderkey, l_linenumber FROM lineitem
        |    GROUP BY l_orderkey, l_linenumber HAVING COUNT(*) > 1)
        |  UNION ALL
        |  SELECT 'lineitem_orphan_orderkey', COUNT(*) FROM lineitem
        |  WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders)
        |  UNION ALL
        |  SELECT 'orders_orphan_custkey', COUNT(*) FROM orders
        |  WHERE o_custkey NOT IN (SELECT c_custkey FROM customer)
        |  UNION ALL
        |  SELECT 'lineitem_quantity_range', COUNT(*) FROM lineitem
        |  WHERE l_quantity <= 0 OR l_quantity > 60
        |  UNION ALL
        |  SELECT 'lineitem_discount_range', COUNT(*) FROM lineitem
        |  WHERE l_discount < 0 OR l_discount > 1)
        |ORDER BY "check"""".stripMargin
  )
}
