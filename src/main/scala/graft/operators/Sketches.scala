package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Probabilistic sketches for O(1)-memory aggregate summaries — the
  * complement to TextAnalysis.corpusCardinalitySketch (HLL++). A
  * count-min sketch answers frequency queries over a key space too
  * large to hold exactly: d hash rows × w counters, estimate = min
  * over rows, with the classic one-sided guarantee
  * `exact <= est <= exact + 2N/w` (w.h.p., Cormode & Muthukrishnan
  * 2005). Heavy hitters then fall out of scanning candidates against
  * the sketch.
  *
  * Scale notes: the sketch build is one groupBy over (depth, bucket)
  * — d·w counters regardless of input size, so the "sketch" side of
  * any later join always broadcasts. Nothing here is driver-side: the
  * sketch is a DataFrame, built and probed with joins, unlike
  * `DataFrame.stat.countMinSketch` which collects to the driver.
  */
object Sketches {

  /** Build a CMS as a (depth, bucket, cnt) DataFrame: each input row
    * increments one bucket per depth, hashed with xxhash64 under a
    * per-depth seed (the seed column participates in the hash, giving
    * d independent functions). */
  def cmsSketch(df: DataFrame, key: String, depth: Int, width: Int): DataFrame =
    df.select(col(key).as("k"),
      explode(array((0 until depth).map(lit): _*)).as("depth"))
      .select(col("depth"),
        pmod(xxhash64(col("depth"), col("k")), lit(width)).as("bucket"))
      .groupBy(col("depth"), col("bucket"))
      .agg(count(lit(1)).as("cnt"))

  /** Point-estimate frequencies for `keys` (one column named `k`):
    * hash each key the same d ways, look up the counters, take the
    * min. The sketch side is d·w rows — broadcast it. */
  def cmsEstimate(sketch: DataFrame, keys: DataFrame, depth: Int,
      width: Int): DataFrame =
    keys.select(col("k"),
      explode(array((0 until depth).map(lit): _*)).as("depth"))
      .select(col("k"), col("depth"),
        pmod(xxhash64(col("depth"), col("k")), lit(width)).as("bucket"))
      .join(broadcast(sketch), Seq("depth", "bucket"), "left")
      .groupBy(col("k"))
      .agg(min(coalesce(col("cnt"), lit(0L))).as("est"))

  val Depth = 4
  val Width = 512

  /** q98: top-20 heavy-hitter users by CMS-estimated event count.
    * Rows-only (the estimates depend on xxhash64 bucketing, which no
    * SQL oracle reproduces); SketchesSpec pins the CMS guarantees
    * against exact counts. */
  def cmsHeavyHitters(t: Tables): DataFrame = {
    val events = t.events
    val sketch = cmsSketch(events, "user_id", Depth, Width)
    val candidates = events.select(col("user_id").as("k")).distinct()
    cmsEstimate(sketch, candidates, Depth, Width)
      .orderBy(col("est").desc, col("k"))
      .limit(20)
      .select(col("k").as("user_id"), col("est"))
  }

  /** The CMS SCREEN over an already-tokenized stream `toks` (one
    * column `k`) of `n` rows: every token row evaluates its own sketch
    * estimate ROW-LOCALLY (least over d lookups into the broadcast d·w
    * counter map — model-sized state, the RuntimeFilters
    * discipline) and survives only if the estimate clears the
    * `1/share` frequency threshold. One-sided CMS error (est ≥ exact)
    * makes the screen a guaranteed SUPERSET of the true heavy tokens —
    * no false negatives, pruning invisible to the final answer. The
    * caller passes `n` so [[exactHeavyTokens]] pays for the
    * tokenize+count job ONCE. */
  private[graft] def screenTokens(toks: DataFrame, n: Long,
      share: Long): DataFrame = {
    val counters = cmsSketch(toks, "k", Depth, Width).collect()
    val cmap = map(counters.flatMap { r =>
      Seq(lit(r.getInt(0).toLong * Width + r.getLong(1)),
        lit(r.getLong(2))): Seq[org.apache.spark.sql.Column]
    }: _*)
    val est = least((0 until Depth).map { d =>
      coalesce(try_element_at(cmap,
        lit(d.toLong * Width) +
          pmod(xxhash64(lit(d), col("k")), lit(Width))), lit(0L))
    }: _*)
    toks.filter(est * lit(share) > lit(n))
  }

  /** EXACT heavy hitters by the classic two-pass sketch-then-verify
    * (Cormode & Muthukrishnan 2005 §3.1 turned into an exact
    * algorithm): pass 1 builds the d·w-counter sketch; pass 2 counts
    * EXACTLY, but only the rows whose row-local estimate cleared the
    * threshold — at 100 TB the groupBy shuffle carries the heavy
    * candidates' occurrences instead of the entire long tail, which
    * is the whole cost of a frequent-terms query over a Heaps-law
    * vocabulary. Because the screen is a superset (one-sided error),
    * the output is IDENTICAL to the unscreened plain groupBy — the
    * q117/q189 invisible-prune discipline, so the oracle is ordinary
    * SQL with a HAVING, no sketch in sight. The final integer
    * comparison `share·cnt > N` keeps the threshold rational/exact. */
  def exactHeavyTokens(docs: DataFrame, share: Long = 200,
      screened: Boolean = true): DataFrame = {
    val all = docs.select(explode(split(col("text"), " ")).as("k"))
    val n = all.count() // the one full tokenize+count — shared with the screen
    val toks = if (screened) screenTokens(all, n, share) else all
    toks.groupBy(col("k")).agg(count(lit(1)).as("n_occurrences"))
      .filter(col("n_occurrences") * lit(share) > lit(n))
      .select(col("k").as("token"), col("n_occurrences"))
      .orderBy(col("n_occurrences").desc, col("token"))
  }

  /** q100: approximate quantiles via percentile_approx (Greenwald-
    * Khanna sketch; mergeable, bounded memory — the 100 TB answer
    * when Describe.exactQuantilesMulti's domain-sized counts pass is too
    * expensive), emitted as the sketch's RANK-ERROR CONTRACT rather
    * than its raw picks: GK with accuracy a guarantees the returned
    * value's rank lies within ±n/a of ⌈p·n⌉, so the card states, per
    * (flag, p), the EXACT order statistics at the band edges
    * (lo_rank/hi_rank, ±1 rank slack for the sketch's ceil-vs-floor
    * target convention) and `within_band` = the GK pick landed
    * between them. The picks themselves are engine-specific (the old
    * rows-only excuse) but every OTHER column is an exact,
    * engine-independent order statistic, and the guarantee boolean
    * must read TRUE — DuckDB recomputes the band values exactly and
    * states the contract, upgrading q100 from `rows>0` to a checked
    * row hash.
    *
    * Exactness: band ranks are floor/ceil of identical IEEE
    * double expressions; band VALUES are min-selections over the
    * per-flag cumulative value counts (pure integers + parquet
    * doubles — no float accumulation). Scale: the cum-count window
    * runs over DISTINCT (flag, price) — domain-bounded, orders of
    * magnitude under row count — and the 12-row band table
    * broadcasts; the GK build itself is one partial-aggregated scan.
    */
  def approxQuantiles(t: Tables, accuracy: Int = 10000,
      probs: Seq[Double] = Seq(0.25, 0.5, 0.75, 0.9)): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val li = t.lineitem.select(col("l_returnflag").as("flag"),
      col("l_extendedprice").as("v"))
    val bands = li.groupBy(col("flag"))
      .agg(percentile_approx(col("v"),
        array(probs.map(lit(_)): _*), lit(accuracy)).as("qs"),
        count(lit(1)).as("n"))
      .select(col("flag"), col("n"),
        posexplode(col("qs")).as(Seq("pos", "est")))
      .select(col("flag"), col("n"), col("est"),
        element_at(array(probs.map(lit(_)): _*), col("pos") + 1).as("p"))
      .select(col("flag"), col("p"), col("n"), col("est"),
        greatest(lit(1L), floor(col("p") * col("n") -
          col("n") / lit(accuracy.toDouble)) - 1).as("lo_rank"),
        least(col("n"), ceil(col("p") * col("n") +
          col("n") / lit(accuracy.toDouble)) + 1).as("hi_rank"))
    val cum = li.groupBy(col("flag"), col("v"))
      .agg(count(lit(1)).as("c"))
      .select(col("flag"), col("v"), sum(col("c"))
        .over(Window.partitionBy(col("flag")).orderBy(col("v")))
        .as("cum"))
    cum.join(broadcast(bands), Seq("flag"))
      .groupBy(col("flag"), col("p"), col("n"), col("est"),
        col("lo_rank"), col("hi_rank"))
      .agg(min(when(col("cum") >= col("lo_rank"), col("v"))).as("lo_val"),
        min(when(col("cum") >= col("hi_rank"), col("v"))).as("hi_val"))
      .select(col("flag").as("l_returnflag"), col("p"), col("n"),
        col("lo_rank"), col("hi_rank"), col("lo_val"), col("hi_val"),
        (col("est") >= col("lo_val") && col("est") <= col("hi_val"))
          .as("within_band"))
      .orderBy(col("l_returnflag"), col("p"))
  }

  /** The per-shard MERGEABLE quantile artifact: a deterministic
    * md5-threshold sample of the per-doc statistic (`permille`/1000
    * keep rate), carried with its source so shards stay identifiable
    * at rest. Because membership is a pure hash of doc_id, the
    * artifact is trivially mergeable — sketch(A ∪ B) IS
    * sketch(A) ∪ sketch(B), no re-read of old shards when a new one
    * lands — which is what Greenwald-Khanna/KLL buy structurally and
    * this buys by determinism (at the cost of a larger summary:
    * rate·N rows instead of O(log n / ε); `permille` is the knob that
    * sizes the summary for the target corpus). */
  def quantileSampleSketch(docs: DataFrame, permille: Int = 125): DataFrame =
    docs.filter(conv(substring(md5(concat(lit("qsk:"),
        col("doc_id").cast("string"))), 1, 8), 16, 10).cast("long")
        % 1000 < permille)
      .select(col("source"), col("doc_id"),
        col("n_chars").cast("double").as("v"))

  /** Corpus quantile card from the merged sample sketch — the
    * monitoring read of [[quantileSampleSketch]]: exact quantiles OF
    * THE SAMPLE (via Describe's bucketed counts machinery — weighted
    * interpolation, no global window, bit-identical to DuckDB
    * `quantile_cont`) plus the sample/corpus sizes a reader needs to
    * apply the DKW band (|F_sample − F| ≤ √(ln(2/δ)/2m) w.p. 1−δ).
    * Driver state is |probs| numbers — model-sized. */
  def sampledQuantileCard(docs: DataFrame, permille: Int = 125,
      probs: Seq[Double] = Seq(0.25, 0.5, 0.75, 0.9)): DataFrame = {
    val sk = quantileSampleSketch(docs, permille).persist()
    try {
      val qs = Describe.exactQuantilesMulti(sk, Seq("v"), probs)("v")
      val sampleN = sk.agg(count(lit(1))).head.getLong(0)
      val corpusN = docs.agg(count(lit(1))).head.getLong(0)
      import docs.sparkSession.implicits._
      probs.zip(qs).map { case (p, v) => (p, v, sampleN, corpusN) }
        .toDF("p", "v", "sample_n", "corpus_n").orderBy(col("p"))
    } finally sk.unpersist(false)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q98_cms_heavy_hitters" -> ((s, d) => cmsHeavyHitters(Tables(s, d))),
    "q100_approx_quantiles" -> ((s, d) => approxQuantiles(Tables(s, d))),
    "q257_sampled_quantiles" -> ((s, d) =>
      sampledQuantileCard(Tables(s, d).documents)),
    "q208_exact_heavy_tokens" -> ((s, d) =>
      exactHeavyTokens(Tables(s, d).documents))
  )

  // the CMS screen is provably invisible (superset prefilter), so the
  // oracle is the plain HAVING form — no sketch arithmetic to replay
  val oracleSql: Map[String, String] = Map(
    // exact band order statistics (identical IEEE rank arithmetic,
    // min-selection over the per-flag cumulative counts) and the GK
    // guarantee stated as the literal TRUE the sketch must earn;
    // pinned to accuracy=10000, probs {.25,.5,.75,.9}
    "q100_approx_quantiles" ->
      """WITH n AS (
        |  SELECT l_returnflag AS flag, CAST(count(*) AS BIGINT) AS n
        |  FROM lineitem GROUP BY 1),
        |b AS (
        |  SELECT flag, p, n,
        |    greatest(1, CAST(floor(p * n - n / 10000.0) AS BIGINT) - 1)
        |      AS lo_rank,
        |    least(n, CAST(ceil(p * n + n / 10000.0) AS BIGINT) + 1)
        |      AS hi_rank
        |  FROM n CROSS JOIN (SELECT unnest(
        |    [CAST(0.25 AS DOUBLE), CAST(0.5 AS DOUBLE),
        |     CAST(0.75 AS DOUBLE), CAST(0.9 AS DOUBLE)]) AS p)),
        |cum AS (
        |  SELECT flag, v, SUM(c) OVER (
        |      PARTITION BY flag ORDER BY v) AS cum
        |  FROM (SELECT l_returnflag AS flag, l_extendedprice AS v,
        |          CAST(count(*) AS BIGINT) AS c
        |        FROM lineitem GROUP BY 1, 2))
        |SELECT b.flag AS l_returnflag, b.p, b.n, b.lo_rank, b.hi_rank,
        |  min(CASE WHEN cum.cum >= b.lo_rank THEN cum.v END) AS lo_val,
        |  min(CASE WHEN cum.cum >= b.hi_rank THEN cum.v END) AS hi_val,
        |  TRUE AS within_band
        |FROM b JOIN cum ON cum.flag = b.flag
        |GROUP BY 1, 2, 3, 4, 5
        |ORDER BY l_returnflag, p""".stripMargin,
    // same md5 keep-rule + quantile_cont (the weighted interpolation
    // Describe reproduces bit-exactly); multiple unnests zip
    // positionally, pinned to permille=125
    "q257_sampled_quantiles" ->
      """WITH s AS (
        |  SELECT CAST(n_chars AS DOUBLE) AS v FROM documents
        |  WHERE CAST('0x' || substr(md5('qsk:'
        |      || CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)
        |    % 1000 < 125),
        |m AS (SELECT CAST(count(*) AS BIGINT) AS sample_n FROM s),
        |c AS (SELECT CAST(count(*) AS BIGINT) AS corpus_n
        |      FROM documents),
        |q AS (SELECT quantile_cont(v, [0.25, 0.5, 0.75, 0.9]) AS qs
        |      FROM s)
        |SELECT p, v, sample_n, corpus_n
        |FROM (SELECT unnest([0.25, 0.5, 0.75, 0.9]) AS p,
        |        unnest(qs) AS v FROM q), m, c
        |ORDER BY p""".stripMargin,
    "q208_exact_heavy_tokens" ->
      """SELECT t AS token, CAST(count(*) AS BIGINT) AS n_occurrences
        |FROM (SELECT unnest(string_split(text, ' ')) AS t
        |      FROM documents)
        |GROUP BY t
        |HAVING 200 * count(*) >
        |  (SELECT count(*)
        |   FROM (SELECT unnest(string_split(text, ' ')) AS t2
        |         FROM documents))
        |ORDER BY n_occurrences DESC, token""".stripMargin
  )
}
