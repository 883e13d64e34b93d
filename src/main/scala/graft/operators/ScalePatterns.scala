package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.Exact._
import graft.functions.TextFunctions.tokens
import graft.functions.ZOrder

/** Scale-technique patterns exercised as oracle-checkable queries:
  * each is a standard 100 TB mitigation whose OUTPUT must be
  * bit-identical to the naive plan, so the oracle proves the rewrite
  * is semantics-preserving.
  *
  *  - [[saltedSkewJoin]] — hot-key mitigation for large⨝large joins:
  *    salt the probe side, replicate the build side ×salts.
  *  - [[distinctiveTerms]] — per-document term scoring (tf/df). The
  *    ratio is a single IEEE division (no transcendental), so the
  *    score — unlike a log-idf — is bit-comparable across engines;
  *    the ranking semantics match tf-idf's monotonicity per doc.
  *  - [[quantizeInt8]] — symmetric int8 embedding quantization, the
  *    4×-compression layout for ANN at scale; integer codes are exact
  *    cross-engine (scale division + multiply + floor, all correctly
  *    rounded IEEE ops).
  */
object ScalePatterns {

  /** Skew-resistant large⨝large join via [[Skew.saltedJoin]]: each
    * lineitem row carries a salt and the orders side is replicated
    * ×salts, so one hot l_orderkey fans out over `salts` reducers
    * instead of one. The result is provably identical to the unsalted
    * join (the salt only routes rows), which is exactly what the
    * oracle — running the UNSALTED SQL — proves. */
  def saltedSkewJoin(t: Tables, salts: Int = 4): DataFrame = {
    val li = t.lineitem.select(col("l_orderkey"), col("l_extendedprice"),
      col("l_discount"))
    val ords = t.orders.select(col("o_orderkey").as("l_orderkey"),
      col("o_orderpriority"))
    Skew.saltedJoin(li, ords, "l_orderkey", salts)
      .groupBy(col("o_orderpriority"))
      .agg(
        sumProdD2(col("l_extendedprice"), lit(1) - col("l_discount"))
          .as("revenue"),
        count(lit(1)).as("n_lines"))
      .orderBy(col("o_orderpriority"))
  }

  /** Top-k distinctive terms per document: tf (term count in doc) over
    * df (documents containing the term), ranked per doc. Two
    * domain-sized shuffles (doc×term counts, then term doc-frequency)
    * + one join; the per-doc window partitions by doc_id (never
    * global). */
  def distinctiveTerms(t: Tables, k: Int = 3): DataFrame = {
    val tf = t.documents
      .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("term"))
    tf.join(df, "term")
      .withColumn("score", col("tf").cast("double") / col("df"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("doc_id"), col("rank"), col("term"), col("tf"),
        col("df"), col("score"))
      .orderBy(col("doc_id"), col("rank"))
  }

  /** Symmetric int8 quantization of the embedding column:
    * scale = 127 / max|v|, code_i = floor(v_i·scale + 0.5) — explicit
    * half-up rounding (engine `round` half-even/half-away semantics
    * differ; floor(x+0.5) doesn't). Codes serialize to a canonical
    * CSV string so the output is scalar-typed for the checker. */
  def quantizeInt8(emb: DataFrame): DataFrame = {
    val m = array_max(transform(col("embedding"), x => abs(x.cast("double"))))
    emb
      .withColumn("scale", when(m > 0, lit(127.0) / m).otherwise(lit(1.0)))
      .select(col("vec_id"), col("scale"),
        array_join(transform(col("embedding"), x =>
          floor(x.cast("double") * col("scale") + lit(0.5)).cast("string")),
          ",").as("qvec"))
      .orderBy(col("vec_id"))
  }

  /** Fixed-size token-window chunking with overlap — the shape that
    * turns long documents into context-length-bounded training
    * samples. Pure per-row generate (tokenize → explode chunk
    * indices → slice), no shuffle at all: the plan is a single
    * narrow pass over the corpus. Chunk count per doc is
    * 1 + ceil(max(0, n-chunk)/stride), so every token is covered and
    * consecutive chunks overlap by chunk-stride tokens. */
  def chunkDocuments(t: Tables, chunk: Int = 50, stride: Int = 40)
      : DataFrame = {
    val nChunks = lit(1) + floor(
      (greatest(size(col("toks")) - chunk, lit(0)) + (stride - 1))
        / lit(stride.toDouble)).cast("int")
    t.documents
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"), col("toks"),
        explode(sequence(lit(0), nChunks - 1)).as("chunk_id"))
      .select(col("doc_id"), col("chunk_id"),
        (col("chunk_id") * stride).as("chunk_start"),
        size(slice(col("toks"), col("chunk_id") * stride + 1, lit(chunk)))
          .as("n_chunk_toks"),
        array_join(
          slice(col("toks"), col("chunk_id") * stride + 1, lit(chunk)),
          " ").as("chunk_text"))
      .orderBy(col("doc_id"), col("chunk_id"))
  }

  /** PII redaction over text columns: emails and phone numbers to
    * typed placeholders via regexp (patterns kept in the common
    * Java-regex/RE2 subset so the semantics are engine-portable). The
    * synthetic corpus contains no PII, so the query plants a
    * deterministic contact line per document first — the oracle
    * applies the same plant + scrub, proving the redaction semantics
    * rather than a no-op. */
  def piiScrub(t: Tables): DataFrame = {
    val planted = concat(col("text"),
      lit(" contact user"), col("doc_id").cast("string"),
      lit("@mail.example.com or "),
      lit("555-010-"), lpad(col("doc_id").cast("string"), 4, "0"))
    t.documents
      .select(col("doc_id"), planted.as("raw"))
      .select(col("doc_id"),
        regexp_replace(
          regexp_replace(col("raw"),
            lit("[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"), lit("<EMAIL>")),
          lit("[0-9]{3}-[0-9]{3}-[0-9]{4}"), lit("<PHONE>")).as("clean"))
      .orderBy(col("doc_id"))
  }

  /** Z-order clustered write: range-partition + sort by the Morton
    * code of (xCol, yCol) so each output file covers a small rectangle
    * of the 2-D key space — per-file min/max stats then prune scans
    * filtered on EITHER column (the lakehouse OPTIMIZE ZORDER layout).
    * See [[graft.functions.ZOrder]]; file-level pruning quality is
    * spec-measured against a single-key sort. */
  def zOrderWrite(df: DataFrame, xCol: String, yCol: String, path: String,
      files: Int = 8): Unit = {
    // normalize both dimensions to the full 16-bit lane first —
    // interleaving RAW values lets the wider-domain column dominate
    // the high bits and the curve degenerates to a single-key sort
    // (real lakes use rank bucketing; min/max scaling is the
    // one-small-job approximation)
    val r = df.agg(
      min(col(xCol)).cast("double"), max(col(xCol)).cast("double"),
      min(col(yCol)).cast("double"), max(col(yCol)).cast("double")).head()
    def norm(c: Column, lo: Double, hi: Double): Column =
      if (hi > lo) ((c.cast("double") - lo) / (hi - lo) * 65535.0)
        .cast("long")
      else lit(0L)
    df.withColumn("__z", ZOrder.zValue(
        norm(col(xCol), r.getDouble(0), r.getDouble(1)),
        norm(col(yCol), r.getDouble(2), r.getDouble(3))))
      .repartitionByRange(files, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
      .write.mode("overwrite").parquet(path)
  }

  /** The Morton codes themselves, exposed as an oracle-checkable
    * query (identical shift/mask arithmetic in DuckDB). */
  def zOrderValues(t: Tables): DataFrame =
    t.lineitem.filter(col("l_orderkey") < 1000)
      .select(col("l_orderkey"), col("l_partkey"), col("l_linenumber"),
        ZOrder.zValue(col("l_orderkey"), col("l_partkey")).as("z"))
      .orderBy(col("z"), col("l_orderkey"), col("l_partkey"),
        col("l_linenumber"))

  /** Fixed-width histogram with DATA-DERIVED bounds: lo = min(c),
    * width = (max-min)/buckets — the distribution report a data-prep
    * pipeline renders per feature, with no caller-supplied constant
    * that could silently encode one SF's value range. Pure arithmetic
    * bucketing (floor((v-lo)/w), clamped to the last bucket). The
    * bounds come from one tiny aggregate broadcast back over the
    * scan; bucketing stays a narrow projection + one groupBy. All
    * arithmetic is IEEE double (subtract, divide, floor), so the
    * oracle stating the identical derivation hash-matches bit-exactly. */
  def adaptiveHistogram(df: DataFrame, c: String,
      buckets: Int = 20): DataFrame = {
    val v = df.select(col(c).cast("double").as("v"))
      .filter(col("v").isNotNull)
    val b = v.agg(min(col("v")).as("mn"), max(col("v")).as("mx"))
    v.crossJoin(broadcast(b))
      .select(
        when(col("mx") > col("mn"),
          least(floor((col("v") - col("mn")) /
              ((col("mx") - col("mn")) / lit(buckets.toDouble))),
            lit(buckets - 1L)))
          .otherwise(lit(0L)).as("bucket"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("bucket"))
  }

  /** Winsorization: clip a column to its exact [p01, p99] — standard
    * outlier taming before training-statistics. The cut points come
    * from the distributed counts+rank quantile machinery
    * ([[Describe.exactQuantilesMulti]]), whose weighted interpolation
    * is bit-identical to DuckDB `quantile_cont` — which is precisely
    * what the oracle checks. */
  def winsorize(t: Tables): DataFrame = {
    val q = Describe.exactQuantilesMulti(t.lineitem,
      Seq("l_extendedprice"), Seq(0.01, 0.99))("l_extendedprice")
    t.lineitem.filter(col("l_orderkey") < 200)
      .select(col("l_orderkey"), col("l_linenumber"),
        col("l_extendedprice"),
        least(greatest(col("l_extendedprice"), lit(q(0))), lit(q(1)))
          .as("clipped"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))
  }

  /** Per-user ordered event sequences — the session-history feature a
    * behavioral model trains on: each user's events as one
    * chronologically-ordered CSV of types plus span stats. Ordering is
    * made total by sorting (ts, event_id) structs before joining
    * (collect_list alone is order-nondeterministic across retries and
    * partitionings). One groupBy shuffle; sequences cap at the
    * per-user event count, so state is bounded by the heaviest user,
    * not the table. */
  def userSequences(events: DataFrame, maxUsers: Int = 100): DataFrame =
    events.filter(col("user_id") < maxUsers)
      .groupBy(col("user_id"))
      .agg(
        array_join(transform(
          array_sort(collect_list(struct(col("ts"), col("event_id"),
            col("event_type")))),
          s => s.getField("event_type")), ",").as("sequence"),
        count(lit(1)).as("n_events"),
        min(col("ts")).as("first_ts"),
        max(col("ts")).as("last_ts"))
      .orderBy(col("user_id"))

  /** Equi-depth (equal-count) histogram with exact NTILE semantics but
    * NO global window: ntile's single-reducer `OVER (ORDER BY v)` is
    * the canonical scale-killer, so the buckets are derived from
    * distinct-value counts instead.
    *
    * Plan: (1) domain-sized groupBy(v) counts; (2) running rank with
    * the same range-bucket + per-bucket window + driver prefix-offset
    * trick as [[Describe.rankedBoundaryMulti]] (the offsets are a
    * parallelism-sized driver array, never data); (3) a 20-row bucket
    * spec — NTILE's exact rank ranges, first `n mod B` buckets one row
    * larger — broadcast-range-joined to the counts, each value row
    * contributing its rank-overlap to every bucket it spans. Counts,
    * min/max, and decimal sums over rank-range multisets are exactly
    * NTILE's per-bucket aggregates, which is what the oracle (real
    * `ntile(20)`) proves.
    *
    * Fault-tolerance caveat (ADVICE r16): the eager localCheckpoint
    * below stores NON-REPLICATED blocks — on a cluster, losing an
    * executor (or a dynamic-allocation decommission) after the
    * checkpoint makes the returned plan fail instead of recomputing
    * lineage, and the blocks release on GC (ContextCleaner), not at a
    * deterministic point. Long-lived cluster deployments that cannot
    * accept that trade should substitute `df.checkpoint()` (reliable,
    * HDFS-backed) at the same point — the algebra is unchanged. */
  def equiDepthHistogram(df: DataFrame, c: String,
      buckets: Int = 20, sumScale: Int = 2): DataFrame = {
    val spark = df.sparkSession
    // domain-sized counts feed TWO driver actions (min/max/sum head,
    // offsets collect) AND the returned plan. A persist released in
    // `finally` served only the actions and made execution RECOMPUTE
    // the whole upstream (for q154 that upstream is the full fluency
    // scoring pass); an eager localCheckpoint computes it ONCE and
    // serves all three readers, with the ContextCleaner releasing the
    // blocks when the frame goes unreachable (the q148/q151 device).
    val counts = df
      .select(col(c).cast("double").as("v"))
      .filter(col("v").isNotNull)
      .groupBy(col("v")).agg(count(lit(1)).as("cnt"))
      .localCheckpoint()
    val m = counts.agg(min(col("v")), max(col("v")),
      sum(col("cnt"))).head()
    if (m.isNullAt(2)) return counts.select(
      lit(0L).as("bucket"), col("cnt").as("n"), col("v").as("lo"),
      col("v").as("hi"), lit(0.0).as("s")).limit(0)
    val (mn, mx, n) = (m.getDouble(0), m.getDouble(1), m.getLong(2))
    // deterministic range buckets for the distributed running rank
    val parts = math.max(32, 2 * spark.sparkContext.defaultParallelism)
    val w = (mx - mn) / parts
    val rb = if (w > 0)
      least(floor((col("v") - lit(mn)) / lit(w)), lit(parts - 1L))
        .cast("int")
    else lit(0)
    val bucketed = counts.withColumn("rb", rb)
    val offsets = bucketed.groupBy(col("rb"))
      .agg(sum(col("cnt")).as("bc")).collect()
      .map(r => r.getAs[Int]("rb") -> r.getAs[Long]("bc"))
      .sortBy(_._1)
      .scanLeft((0, 0L, 0L)) { case ((_, _, run), (b, bc)) =>
        (b, run, run + bc)
      }.drop(1).map { case (b, off, _) => (b, off) }
    val offExpr = try_element_at(
      map(offsets.flatMap { case (b, off) =>
        Seq(lit(b), lit(off)): Seq[Column]
      }: _*), col("rb"))
    val wLocal = Window.partitionBy(col("rb")).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val ranked = bucketed
      .withColumn("cum", sum(col("cnt")).over(wLocal) + offExpr)
      .withColumn("cum0", col("cum") - col("cnt"))
    // NTILE(B) rank ranges: first n%B buckets hold n/B+1 rows
    val q = n / buckets
    val r = n % buckets
    val spec = spark.range(1, buckets + 1).toDF("bucket")
      .withColumn("bstart", lit(1L) + (col("bucket") - 1) * q +
        least(col("bucket") - 1, lit(r)))
      .withColumn("bend", col("bstart") + lit(q) +
        when(col("bucket") <= r, 1L).otherwise(0L) - 1)
    ranked
      .join(broadcast(spec),
        col("bstart") <= col("cum") && col("bend") >= col("cum0") + 1)
      .withColumn("overlap",
        least(col("bend"), col("cum")) -
          greatest(col("bstart"), col("cum0") + 1) + 1)
      .groupBy(col("bucket"))
      .agg(sum(col("overlap")).as("n"), min(col("v")).as("lo"),
        max(col("v")).as("hi"),
        sum(col("v").cast(s"decimal(18,$sumScale)") *
          col("overlap").cast("decimal(18,0)")).cast("double").as("s"))
      .orderBy(col("bucket"))
  }

  /** CDF / quantile normalization of a column: every DISTINCT value
    * mapped to its empirical CDF (fraction of rows ≤ v) — the
    * rank-based feature transform (quantile normalization) that makes
    * heavy-tailed columns comparable. Output is DOMAIN-sized (one row
    * per distinct value): a 100 TB column with bounded cardinality
    * yields a broadcastable lookup table to normalize the raw column.
    *
    * Same no-global-window running rank as [[equiDepthHistogram]]:
    * domain counts, deterministic range buckets, per-bucket window +
    * a driver prefix over ≤2·parallelism bucket totals. The CDF is a
    * single LONG/LONG double division — identical cross-engine.
    * Same fault-tolerance caveat as [[equiDepthHistogram]]: the eager
    * localCheckpoint trades executor-loss recovery for the
    * one-compute guarantee; substitute a reliable `checkpoint()` on
    * long-lived clusters. */
  def quantileNormalize(df: DataFrame, c: String): DataFrame = {
    val spark = df.sparkSession
    // eager localCheckpoint for the same reason as
    // [[equiDepthHistogram]]: one upstream compute serves the two
    // driver actions AND the returned plan (ContextCleaner releases
    // the blocks once the frame is unreachable)
    val counts = df
      .select(col(c).cast("double").as("v"))
      .filter(col("v").isNotNull)
      .groupBy(col("v")).agg(count(lit(1)).as("cnt"))
      .localCheckpoint()
    val m = counts.agg(min(col("v")), max(col("v")),
      sum(col("cnt"))).head()
    if (m.isNullAt(2)) return counts
      .select(col("v").as("value"), col("cnt").as("n"),
        lit(0.0).as("cdf")).limit(0)
    val (mn, mx, n) = (m.getDouble(0), m.getDouble(1), m.getLong(2))
    val parts = math.max(32, 2 * spark.sparkContext.defaultParallelism)
    val w = (mx - mn) / parts
    val rb = if (w > 0)
      least(floor((col("v") - lit(mn)) / lit(w)), lit(parts - 1L))
        .cast("int")
    else lit(0)
    val bucketed = counts.withColumn("rb", rb)
    val offsets = bucketed.groupBy(col("rb"))
      .agg(sum(col("cnt")).as("bc")).collect()
      .map(r => r.getAs[Int]("rb") -> r.getAs[Long]("bc"))
      .sortBy(_._1)
      .scanLeft((0, 0L, 0L)) { case ((_, _, run), (b, bc)) =>
        (b, run, run + bc)
      }.drop(1).map { case (b, off, _) => (b, off) }
    val offExpr = try_element_at(
      map(offsets.flatMap { case (b, off) =>
        Seq(lit(b), lit(off)): Seq[Column]
      }: _*), col("rb"))
    val wLocal = Window.partitionBy(col("rb")).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, 0)
    bucketed
      .withColumn("cum", sum(col("cnt")).over(wLocal) + offExpr)
      .select(col("v").as("value"), col("cnt").as("n"),
        (col("cum").cast("double") / lit(n.toDouble)).as("cdf"))
      .orderBy(col("value"))
  }

  /** CCNet-style fluency BANDS (Wenzek et al. 2019, arXiv:1911.00359
    * §4.3: bucket a crawl into head/middle/tail thirds by LM
    * perplexity and train on the head+middle): every scoreable doc
    * gets its exact empirical-CDF tercile of the in-engine
    * [[TextAnalysis.bigramFluency]] score. Composition, no new
    * machinery — the per-value CDF comes from [[quantileNormalize]]'s
    * no-global-window distributed rank, joined back onto the scored
    * docs by a PLAIN value equi-join (avg_prob is a continuous
    * per-doc score, so the lookup is distinct-score-sized — corpus
    * order in the worst case, which is why it must NOT be a forced
    * broadcast); band cuts are the identical correctly-rounded
    * `cdf·3 ≤ k` float ops in both engines, so the assignment
    * replays hash-exact against a cume_dist() oracle. Unscoreable
    * docs (no bigrams) drop, as CCNet drops what its LM cannot
    * score. */
  def fluencyBands(docs: DataFrame): DataFrame =
    fluencyBandsOn(docs, docs)

  /** [[fluencyBands]] with the LM held out — scores come from
    * [[TextAnalysis.bigramFluencyOn]](model, score), terciles from
    * the scored side's own distribution. With `model eq score` this
    * IS fluencyBands (the delegation above), so q210 pins the shared
    * banding kernel. */
  def fluencyBandsOn(model: DataFrame, score: DataFrame): DataFrame = {
    val fl = TextAnalysis.bigramFluencyOn(model, score)
      .filter(col("avg_prob").isNotNull)
      .localCheckpoint() // feeds the rank AND the final join — score once
    val lookup = quantileNormalize(fl, "avg_prob")
    fl.join(lookup.select(col("value").as("avg_prob"), col("cdf")),
        Seq("avg_prob"))
      .select(col("doc_id"), col("avg_prob"), col("cdf"),
        when(col("cdf") * lit(3.0) <= lit(1.0), lit("tail"))
          .when(col("cdf") * lit(3.0) <= lit(2.0), lit("middle"))
          .otherwise(lit("head")).as("band"))
      .orderBy(col("doc_id"))
  }

  /** Quality-band × length joint distribution — the confound check a
    * CCNet-style gate runs before trusting its own terciles: if the
    * "tail" band is just the short-doc bucket, the LM score is
    * measuring length, not fluency, and the gate needs length
    * stratification first. One row per (band, log2-length bucket)
    * with doc and token mass — [[fluencyBands]] joined to the
    * [[graft.operators.TextAnalysis.lengthSpectrum]] bucket rule
    * (integer bit length, float-free) and rolled up map-side to ≤
    * 3·64 rows. */
  def qualityLengthJoint(docs: DataFrame): DataFrame = {
    val n = size(split(col("text"), " ")).cast("long")
    val len = docs.select(col("doc_id"),
      (length(bin(n)) - 1).cast("long").as("log2_bucket"), n.as("n"))
    fluencyBands(docs).select(col("doc_id"), col("band"))
      .join(len, Seq("doc_id"))
      .groupBy(col("band"), col("log2_bucket"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n")).as("n_tokens"))
      .orderBy(col("band"), col("log2_bucket"))
  }

  /** The COMPLETE CCNet gate (Wenzek 2019 §4.3): train the LM on the
    * clean target slice, band the crawl by held-out score, keep
    * head + middle and drop the tail third — raw crawl in, CCNet
    * survivors out, one composed plan over three operators. */
  def ccnetKeep(model: DataFrame, score: DataFrame): DataFrame =
    fluencyBandsOn(model, score)
      .filter(col("band") =!= "tail")
      .orderBy(col("doc_id"))

  /** Join-key distribution profiler: the diagnostic a pipeline runs
    * BEFORE choosing a skew strategy. Top-k heaviest keys with their
    * absolute count, parts-per-million share, and skew factor
    * (count / mean count, ×100) — all integer arithmetic, so the
    * profile is bit-identical on any engine. One groupBy + a
    * broadcast scalar + TakeOrderedAndProject: nothing global. */
  def keySkewProfile(events: DataFrame, topK: Int = 10): DataFrame = {
    val c = events.groupBy(col("user_id")).agg(count(lit(1)).as("cnt"))
    val t = c.agg(sum(col("cnt")).as("total"), count(lit(1)).as("nkeys"))
    c.crossJoin(broadcast(t))
      .select(col("user_id"), col("cnt"),
        expr("cnt * CAST(1000000 AS BIGINT) div total").as("share_ppm"),
        expr("cnt * nkeys * CAST(100 AS BIGINT) div total").as("skew_x100"))
      .orderBy(col("cnt").desc, col("user_id"))
      .limit(topK)
  }

  /** Self-join size profiler: exact output cardinality of a key
    * equi-join computed WITHOUT running the join — Σ cnt(k)², from the
    * same per-key counts the skew profile uses. The number a planner
    * needs before committing to a join strategy (the CMS inner-product
    * estimate is the sketch-only variant; SketchesSpec bounds it
    * against this exact value). */
  def joinSizeProfile(events: DataFrame): DataFrame =
    events.groupBy(col("user_id")).agg(count(lit(1)).as("cnt"))
      .agg(sum(col("cnt") * col("cnt")).as("join_rows"),
        count(lit(1)).as("matched_keys"),
        max(col("cnt") * col("cnt")).as("max_key_rows"))

  /** Contiguous global row numbering WITHOUT a global window — the
    * stable-id assignment every dataset build needs (example ids,
    * shard offsets), where the naive `row_number() OVER (ORDER BY
    * ...)` moves the whole table through ONE reducer. Same two-phase
    * prefix-sum algebra as [[TextAnalysis.tokenBatches]]: shard by a
    * pure function of the (dense) key so shard order == key order,
    * rank WITHIN each shard in parallel, then add per-shard offsets
    * whose prefix runs over exactly #shards rows. Bit-identical to
    * the global window (the oracle IS `row_number() OVER (ORDER BY
    * doc_id)`), but the data-sized window is hash-partitioned. */
  def globalRowIds(docs: DataFrame, numShards: Int = 32): DataFrame = {
    val ids = docs.select(col("doc_id"))
    val bounds = ids.agg(
      (floor(max(col("doc_id")) / numShards) + 1).as("shard_w"))
    val sharded = ids.crossJoin(broadcast(bounds))
      .withColumn("shard_id", floor(col("doc_id") / col("shard_w")))
      .drop("shard_w")
    val wLocal = Window.partitionBy(col("shard_id")).orderBy(col("doc_id"))
    val wOffsets = Window.orderBy(col("shard_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = sharded.groupBy(col("shard_id"))
      .agg(count(lit(1)).as("n"))
      .select(col("shard_id"),
        coalesce(sum(col("n")).over(wOffsets), lit(0L)).as("off"))
    sharded
      .withColumn("local_rn", row_number().over(wLocal).cast("long"))
      .join(broadcast(offsets), Seq("shard_id"))
      .select(col("doc_id"), (col("local_rn") + col("off")).as("row_id"))
      .orderBy(col("doc_id"))
  }

  /** Epoch-seeded deterministic data ORDER — the trainer-side shuffle:
    * every epoch must visit the corpus in a different but REPRODUCIBLE
    * order (elastic restarts, tensor-parallel replicas and data-loader
    * workers all have to agree on example k of epoch e without
    * coordinating). Order key = md5("epoch<e>:" || doc_id) — a pure
    * projection, so the permutation is a property of the DATA, not of
    * partitioning or cluster shape — and the contiguous position comes
    * from the [[globalRowIds]] two-phase prefix device re-keyed for a
    * HASH ordering: the shard is the key's first hex byte (shard order
    * == key order because the int value of a hex prefix is monotone in
    * the string), ranks run per-shard in parallel, and the offset
    * prefix rides 256 count rows. The oracle IS the avoided global
    * `row_number() OVER (ORDER BY md5(...))`. */
  def epochShuffle(docs: DataFrame, epoch: Int): DataFrame = {
    val sharded = docs.select(col("doc_id"))
      .withColumn("k", md5(concat(lit(s"epoch$epoch:"),
        col("doc_id").cast("string"))))
      .withColumn("shard_id", conv(substring(col("k"), 1, 2), 16, 10)
        .cast("int"))
    val wLocal = Window.partitionBy(col("shard_id"))
      .orderBy(col("k"), col("doc_id"))
    val wOffsets = Window.orderBy(col("shard_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = sharded.groupBy(col("shard_id"))
      .agg(count(lit(1)).as("n"))
      .select(col("shard_id"),
        coalesce(sum(col("n")).over(wOffsets), lit(0L)).as("off"))
    sharded
      .withColumn("local_rn", row_number().over(wLocal).cast("long"))
      .join(broadcast(offsets), Seq("shard_id"))
      .select(col("doc_id"), (col("local_rn") + col("off")).as("pos"))
      .orderBy(col("doc_id"))
  }

  /** Source-INTERLEAVED deterministic training order — round-robin
    * across sources over each source's [[epochShuffle]]-style hash
    * order: position 1..|sources| is one doc from every source,
    * position |sources|+1 starts the second pass, and when a source
    * exhausts, the remaining sources keep rotating. A trainer reading
    * positions in order sees the mixture at every window — no
    * source-run batches (a pure hash shuffle like q222 makes runs
    * merely IMPROBABLE; interleaving makes them impossible while each
    * source's internal order stays epoch-seeded random).
    *
    * The naive statement is `row_number() OVER (ORDER BY src_rank,
    * source)` — a global sort through one reducer. Instead the global
    * position has a CLOSED FORM given the |sources|-row size table:
    * for a doc at 0-based rank r in source s,
    * `pos = Σ_s' min(r, n_s') + |{s' < s : n_s' > r}| + 1`
    * (full rotations below rank r, plus sources ahead of s still alive
    * in rotation r). Per-source ranks come from the q222 two-phase
    * device PARTITIONED BY source (local ranks per (source, hex-byte
    * shard), offset prefix per source over ≤256 rows), and the size
    * table broadcasts as one sorted struct array folded row-locally —
    * every window partitioned, shuffle cost one count rollup, and the
    * oracle states the avoided global window verbatim. */
  def interleavedOrder(docs: DataFrame, epoch: Int = 0): DataFrame = {
    val sharded = docs.select(col("doc_id"), col("source"))
      .withColumn("k", md5(concat(lit(s"epoch$epoch:"),
        col("doc_id").cast("string"))))
      .withColumn("shard_id", conv(substring(col("k"), 1, 2), 16, 10)
        .cast("int"))
    val wLocal = Window.partitionBy(col("source"), col("shard_id"))
      .orderBy(col("k"), col("doc_id"))
    val wOffsets = Window.partitionBy(col("source")).orderBy(col("shard_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = sharded.groupBy(col("source"), col("shard_id"))
      .agg(count(lit(1)).as("n"))
      .select(col("source"), col("shard_id"),
        coalesce(sum(col("n")).over(wOffsets), lit(0L)).as("off"))
    val ranked = sharded
      .withColumn("local_rn", row_number().over(wLocal).cast("long"))
      .join(broadcast(offsets), Seq("source", "shard_id"))
      .select(col("doc_id"), col("source"),
        (col("local_rn") + col("off") - 1).as("src_rank"))
    // |sources|-row size table as ONE broadcast sorted struct array:
    // the closed-form position is a row-local integer fold over it
    val sizes = docs.groupBy(col("source")).agg(count(lit(1)).as("n"))
      .agg(sort_array(collect_list(struct(col("source").as("s"),
        col("n").as("n")))).as("sz"))
    ranked.crossJoin(broadcast(sizes))
      .select(col("doc_id"), col("source"), col("src_rank"),
        (aggregate(col("sz"), lit(0L), (acc, x) =>
          acc + least(col("src_rank"), x.getField("n")) +
            when(x.getField("s") < col("source") &&
              x.getField("n") > col("src_rank"), lit(1L))
              .otherwise(lit(0L))) + 1L).as("pos"))
      .orderBy(col("doc_id"))
  }

  /** Deterministic training-shard id: a pure hash projection of
    * doc_id (the salted-md5-prefix device of q134/q164, so the same
    * assignment replays in any engine). Shard membership depends on
    * nothing but the id — re-running the export after an upstream
    * refresh moves no surviving document between shards, which is
    * what makes incremental re-export and per-shard integrity
    * checking possible. */
  def shardId(nShards: Int): Column = {
    require(nShards >= 1, s"nShards must be >= 1 (got $nShards)")
    (conv(substring(md5(concat(lit("shard:"),
      col("doc_id").cast("string"))), 1, 8), 16, 10)
      .cast("long") % nShards).cast("int")
  }

  /** Jump-consistent-hash training-shard id — the RESHARD-STABLE
    * alternative to [[shardId]]'s `hash mod n`: growing the shard
    * count n → n+1 moves exactly the expected 1/(n+1) of documents
    * (each into the NEW shard only), where mod reshuffles 1 − 1/n of
    * the corpus. The key is xxhash64(doc_id) — membership is a pure
    * function of the id, stable under growth like the q134 family,
    * engine-specific by nature (no SQL oracle; rows-only + specs). */
  def jumpShardId(nShards: Int): Column =
    graft.plans.FastOps.jumpShard(
      xxhash64(col("doc_id").cast("string")), nShards)

  /** One-row RESHARD-MOVEMENT card: growing `nFrom` → `nTo` shards,
    * how many documents change shard under `hash mod n` vs the
    * jump-consistent assignment ([[jumpShardId]]). The number a
    * release engineer reads before a reshard: mod re-uploads ~the
    * whole corpus (1 − 1/n stays only by coincidence of the two
    * moduli), jump re-uploads ~(nTo − nFrom)/nTo of it. One scan,
    * row-local hashing (the jump loop runs inside whole-stage
    * codegen), one partial-agg rollup to a single row. */
  def reshardMovement(docs: DataFrame, nFrom: Int = 16, nTo: Int = 17)
      : DataFrame = {
    require(1 <= nFrom && nFrom < nTo, s"need 1 <= nFrom < nTo")
    val key = xxhash64(col("doc_id").cast("string"))
    docs.select(
        pmod(key, lit(nFrom.toLong)).as("mod_from"),
        pmod(key, lit(nTo.toLong)).as("mod_to"),
        jumpShardId(nFrom).as("jump_from"),
        jumpShardId(nTo).as("jump_to"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("mod_from") =!= col("mod_to"), 1L).otherwise(0L))
          .as("mod_moved"),
        sum(when(col("jump_from") =!= col("jump_to"), 1L).otherwise(0L))
          .as("jump_moved"))
      .select(lit(nFrom).as("n_from"), lit(nTo).as("n_to"),
        col("n_docs"), col("mod_moved"), col("jump_moved"),
        (col("mod_moved").cast("double") / col("n_docs").cast("double"))
          .as("mod_frac"),
        (col("jump_moved").cast("double") / col("n_docs").cast("double"))
          .as("jump_frac"))
  }

  /** MINSTD modulus: the Mersenne prime 2^31 − 1. Every quantity in
    * the portable jump trajectory stays far under 2^63 — see
    * [[portableJumpAssignments]]. */
  private val JumpM = 2147483647L
  /** MINSTD multiplier (Park–Miller 1988, CACM 31(10)). */
  private val JumpA = 48271L

  /** PORTABLE jump-consistent shard assignments — [[jumpShardId]]'s
    * oracle-replayable twin (the q300/q312/q315 portability device
    * applied to the q241 family, which until now was rows-only
    * because Lamping–Veach's mod-2^64 LCG and the xxhash64 key exist
    * in neither DuckDB nor portable SQL). Same consistency algebra,
    * engine-neutral ingredients:
    *
    *  - key: md5-prefix long of "jump:" ++ doc_id (the q134/q164
    *    salted-prefix device), reduced to MINSTD state space
    *    `1 + h mod (M−1)` ∈ [1, M−1] so the generator never hits 0;
    *  - generator: MINSTD `s' = s·48271 mod M`, M = 2^31 − 1 —
    *    products ≤ (M−1)·48271 < 2^47, exact BIGINT in any engine;
    *  - jump step: Lamping–Veach (arXiv:1406.2294 §3) with the
    *    uniform draw U = s/M taken as INTEGER division
    *    `j' = ((j+1)·M) div s'` — numerator ≤ nTo·M < 2^36, so the
    *    whole trajectory is exact 64-bit integer arithmetic and the
    *    data-dependent loop unrolls into exactly `nTo` guarded steps
    *    (j strictly increases each active step, so after nTo of them
    *    j ≥ nTo and every later step is the identity).
    *
    * Emits per-doc (mod_from, mod_to, jump_from, jump_to) where the
    * mod pair uses the raw md5-prefix key — one scan, the unrolled
    * loop is a row-local CASE chain inside whole-stage codegen, no
    * shuffle until the caller aggregates. The q322 oracle replays the
    * identical trajectory as `nTo` chained CTE steps. */
  def portableJumpAssignments(docs: DataFrame, nFrom: Int = 16,
      nTo: Int = 17): DataFrame = {
    require(1 <= nFrom && nFrom < nTo, s"need 1 <= nFrom < nTo")
    val h = conv(substring(md5(concat(lit("jump:"),
      col("doc_id").cast("string"))), 1, 8), 16, 10).cast("long")
    var df = docs.select(col("doc_id"), h.as("h"),
      (lit(1L) + pmod(h, lit(JumpM - 1))).as("s"),
      lit(0L).as("j"), lit(-1L).as("bf"), lit(-1L).as("bt"))
    // Unrolled trajectory: each step advances (s, j) and records the
    // last j seen below each shard count; after nTo active steps the
    // guard is permanently false. bf/bt are always set by step 1
    // (j = 0 < nFrom), so neither ever returns -1.
    (1 to nTo).foreach { _ =>
      df = df.selectExpr("doc_id", "h",
        // LEAST clamps the numerator so the inactive branch can never
        // overflow int64 even under eager vectorized CASE evaluation
        // (j can reach ~nTo·M once the walk finishes; (j+1)·M would
        // pass 2^63 — clamped, the product is ≤ (nTo+1)·M < 2^36).
        s"IF(j < $nTo, (s * $JumpA) % $JumpM, s) AS s",
        s"IF(j < $nTo, ((least(j, $nTo) + 1) * $JumpM)" +
          s" DIV ((s * $JumpA) % $JumpM), j) AS j",
        s"IF(j < $nTo AND j < $nFrom, j, bf) AS bf",
        s"IF(j < $nTo, j, bt) AS bt")
    }
    df.select(col("doc_id"),
      pmod(col("h"), lit(nFrom.toLong)).as("mod_from"),
      pmod(col("h"), lit(nTo.toLong)).as("mod_to"),
      col("bf").as("jump_from"), col("bt").as("jump_to"))
  }

  /** [[reshardMovement]]'s one-row card over the PORTABLE assignments
    * — identical output shape, every number hash-exact vs DuckDB
    * (q322). The two fracs are each ONE double division of exact
    * integers, deterministic IEEE in both engines. */
  def portableReshardMovement(docs: DataFrame, nFrom: Int = 16,
      nTo: Int = 17): DataFrame =
    portableJumpAssignments(docs, nFrom, nTo)
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("mod_from") =!= col("mod_to"), 1L).otherwise(0L))
          .as("mod_moved"),
        sum(when(col("jump_from") =!= col("jump_to"), 1L).otherwise(0L))
          .as("jump_moved"))
      .select(lit(nFrom).as("n_from"), lit(nTo).as("n_to"),
        col("n_docs"), col("mod_moved"), col("jump_moved"),
        (col("mod_moved").cast("double") / col("n_docs").cast("double"))
          .as("mod_frac"),
        (col("jump_moved").cast("double") / col("n_docs").cast("double"))
          .as("jump_frac"))

  /** Training-shard export manifest: per-shard document/token/char
    * totals plus an ORDER-INSENSITIVE content checksum (bit_xor of a
    * per-row md5-prefix long over doc_id:text) — the sidecar every
    * dataset release ships so a trainer can verify shard integrity
    * without re-reading the corpus. One hash-keyed groupBy to
    * `nShards` rows; every aggregate (count, sums, bit_xor) is
    * partial-aggregatable, so at 100 TB the shuffle carries only
    * nShards×parallelism partial rows. xor is commutative/associative
    * and width-preserving, so the checksum is independent of row
    * order and partitioning — and DuckDB replays it bit-exactly
    * (q198). ScalePatternsSpec writes the `shard=N` lake and pins
    * manifest-from-lake ≡ manifest-from-source; the SAME plan
    * also runs as a complete-mode stream with nShards rows of state
    * (continuous export accounting — StreamingSpec pins stream ==
    * batch). */
  def shardManifest(docs: DataFrame, nShards: Int = 16): DataFrame =
    docs.withColumn("shard", shardId(nShards))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(size(tokens(col("text"))).cast("long")).as("n_tokens"),
        sum(col("n_chars")).as("sum_chars"),
        expr("bit_xor(cast(conv(substring(md5(concat(" +
          "cast(doc_id as string), ':', text)), 1, 15), 16, 10) " +
          "as bigint))").as("content_xor"))
      .orderBy(col("shard"))

  /** Incremental manifest update WITHOUT rescanning the base corpus:
    * because every [[shardManifest]] aggregate is algebraic — counts
    * and sums ADD, and the content checksum is a bit_xor (commutative,
    * associative, self-inverse) — the manifest of `base ∪ increment`
    * is exactly the per-shard merge of the two manifests:
    * `merged.content_xor = base.content_xor XOR inc.content_xor`.
    * So a nightly ingest updates the release accounting by reading
    * nShards manifest rows plus the increment ONLY — the 100 TB base
    * is never touched (the q120 algebraic-state-merge discipline
    * applied to the release artifact). Shards absent on one side pass
    * through (xor with nothing is identity); disjointness of doc_ids
    * is the caller's contract, same as any append ingest. */
  def mergeManifests(base: DataFrame, inc: DataFrame): DataFrame = {
    def side(m: DataFrame, p: String): DataFrame =
      m.select(col("shard"), col("n_docs").as(s"${p}_d"),
        col("n_tokens").as(s"${p}_t"), col("sum_chars").as(s"${p}_c"),
        col("content_xor").as(s"${p}_x"))
    side(base, "b").join(side(inc, "i"), Seq("shard"), "full_outer")
      .select(col("shard"),
        (coalesce(col("b_d"), lit(0L)) + coalesce(col("i_d"), lit(0L)))
          .as("n_docs"),
        (coalesce(col("b_t"), lit(0L)) + coalesce(col("i_t"), lit(0L)))
          .as("n_tokens"),
        (coalesce(col("b_c"), lit(0L)) + coalesce(col("i_c"), lit(0L)))
          .as("sum_chars"),
        // XOR with the identity 0 where a side is absent
        expr("coalesce(b_x, 0L) ^ coalesce(i_x, 0L)").as("content_xor"))
      .orderBy(col("shard"))
  }

  /** Release-to-release diff of two corpus snapshots at SHARD
    * granularity: both sides roll up to their [[shardManifest]] (the
    * per-shard doc/token/char totals + order-insensitive content
    * checksum every release ships), and the manifests full-outer join
    * on shard id — `changed` when the content checksum moved,
    * `unchanged` when it didn't, `added`/`removed` when a shard
    * exists on one side only. This is how a 100 TB dataset release is
    * audited WITHOUT diffing documents: because [[shardId]] is a pure
    * hash of doc_id, an edited or deleted doc perturbs exactly one
    * shard's xor checksum, and the diff touches 2·nShards manifest
    * rows no matter how big the corpora are. Doc-level drill-down on
    * the flagged shards is [[graft.operators.Merge.snapshotDiff]]
    * (q124) filtered to `shard_id IN (changed)` — this operator tells
    * you which partitions to bother reading. */
  def releaseDiff(oldDocs: DataFrame, newDocs: DataFrame,
      nShards: Int = 16): DataFrame = {
    // the diff consumes docs/tokens/xor only — synthesize n_chars if
    // the snapshot lacks it rather than forcing the column on callers
    def side(docs: DataFrame, p: String): DataFrame = {
      val d = if (docs.columns.contains("n_chars")) docs
        else docs.withColumn("n_chars", length(col("text")).cast("long"))
      shardManifest(d, nShards).select(col("shard"),
        col("n_docs").as(s"${p}_docs"),
        col("n_tokens").as(s"${p}_tokens"),
        col("content_xor").as(s"${p}_xor"))
    }
    side(oldDocs, "old").join(side(newDocs, "new"), Seq("shard"), "full_outer")
      .select(col("shard"),
        when(col("old_xor").isNull, lit("added"))
          .when(col("new_xor").isNull, lit("removed"))
          .when(col("old_xor") === col("new_xor"), lit("unchanged"))
          .otherwise(lit("changed")).as("status"),
        coalesce(col("old_docs"), lit(0L)).as("old_docs"),
        coalesce(col("new_docs"), lit(0L)).as("new_docs"),
        (coalesce(col("new_docs"), lit(0L)) -
          coalesce(col("old_docs"), lit(0L))).as("delta_docs"),
        (coalesce(col("new_tokens"), lit(0L)) -
          coalesce(col("old_tokens"), lit(0L))).as("delta_tokens"))
      .orderBy(col("shard"))
  }

  /** Bucketed-table layout: lineitem and orders written ONCE per
    * (session, sfDir) at a [[graft.Artifacts.sessionHome]] as catalog
    * tables bucketed (and sorted) on their join key, 8 buckets each
    * side. A join on the bucket key then reads co-located buckets and
    * plans with NO shuffle on either side (BucketedJoinSpec pins
    * SortMergeJoin + zero Exchange under the join) — the at-rest
    * layout that turns the biggest fact-fact join at 100 TB from a
    * full-network shuffle into a local merge. The write cost
    * amortizes over every subsequent join, exactly like a real
    * warehouse's bucketed fact tables; Spark's bucket hash is stable
    * across sessions, so the layout survives as a durable artifact. */
  def bucketedTableNames(s: SparkSession, d: String): (String, String) = {
    val home = graft.Artifacts.sessionHome(s, "graft_bucketed_", d)
    val h = graft.Artifacts.digest(home)
    val (li, ord) = (s"graft_li_bkt_$h", s"graft_ord_bkt_$h")
    val dir = graft.Artifacts.durable(s, home, "bucketed|8") { p =>
      val t = Tables(s, d)
      graft.Artifacts.writeBucketed(
        t.lineitem.select(col("l_orderkey"), col("l_quantity")),
        li, s"$p/li", "l_orderkey", 8)
      graft.Artifacts.writeBucketed(
        t.orders.select(col("o_orderkey"), col("o_custkey")),
        ord, s"$p/ord", "o_orderkey", 8)
    }
    graft.Artifacts.registerBucketedTable(s, li, s"$dir/li",
      "l_orderkey BIGINT, l_quantity DOUBLE", "l_orderkey", 8,
      Some("l_orderkey"))
    graft.Artifacts.registerBucketedTable(s, ord, s"$dir/ord",
      "o_orderkey BIGINT, o_custkey BIGINT", "o_orderkey", 8,
      Some("o_orderkey"))
    (li, ord)
  }

  /** The co-located join itself, un-aggregated (the spec asserts its
    * plan shape); `hint("merge")` pins SortMergeJoin so the sf0.01
    * broadcast threshold can't hide the bucketing. */
  def bucketedJoin(s: SparkSession, d: String): DataFrame = {
    val (li, ord) = bucketedTableNames(s, d)
    s.table(li).hint("merge")
      .join(s.table(ord), col("l_orderkey") === col("o_orderkey"))
  }

  /** Per-customer order volume over the bucketed join — the only
    * exchange in the whole plan is the post-join custkey rollup. */
  def bucketedCustomerVolume(s: SparkSession, d: String): DataFrame =
    bucketedJoin(s, d)
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_items"), sumD2(col("l_quantity")).as("sum_qty"))
      .orderBy(col("o_custkey"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q162_bucketed_join" -> ((s, d) => bucketedCustomerVolume(s, d)),
    "q149_global_row_ids" -> ((s, d) =>
      globalRowIds(Tables(s, d).documents)),
    "q222_epoch_shuffle" -> ((s, d) =>
      epochShuffle(Tables(s, d).documents, epoch = 3)),
    "q238_interleaved_order" -> ((s, d) =>
      interleavedOrder(Tables(s, d).documents, epoch = 3)),
    // rows-only by design: the jump LCG wraps mod 2^64 and the key is
    // xxhash64 — neither replays in DuckDB; movement/balance specs +
    // codegen==interpreted pin it instead
    "q241_jump_reshard" -> ((s, d) =>
      reshardMovement(Tables(s, d).documents)),
    // q241's PORTABLE twin: md5 key + MINSTD jump walk, the whole
    // trajectory replayed as unrolled CTE steps in the oracle — the
    // jump-LCG family's first hash-exact tier
    "q322_jump_portable" -> ((s, d) =>
      portableReshardMovement(Tables(s, d).documents)),
    "q198_shard_manifest" -> ((s, d) =>
      shardManifest(Tables(s, d).documents)),
    // the merge must equal the direct whole-corpus manifest — the
    // oracle IS q198's SQL over all documents, so the xor/sum algebra
    // is proven, not asserted
    "q206_manifest_merge" -> ((s, d) => {
      val docs = Tables(s, d).documents
      mergeManifests(
        shardManifest(docs.filter(pmod(col("doc_id"), lit(3)) =!= 0)),
        shardManifest(docs.filter(pmod(col("doc_id"), lit(3)) === 0)))
    }),
    // snapshot perturbation = the q163/q124 convention: every 97th doc
    // leaves the new release, every 31st gets an edit suffix
    "q203_release_diff" -> ((s, d) => {
      val docs = Tables(s, d).documents
      releaseDiff(docs, docs
        .filter(pmod(col("doc_id"), lit(97)) =!= 0)
        .withColumn("text",
          when(pmod(col("doc_id"), lit(31)) === 0,
            concat(col("text"), lit(" refreshed crawl content")))
            .otherwise(col("text"))))
    }),
    // OPERATOR COMPOSITION: corpus quality TIERS = the exact equi-depth
    // histogram applied to the in-engine LM fluency scores — two
    // operators, one still-oracle-exact plan
    "q154_fluency_tiers" -> ((s, d) =>
      equiDepthHistogram(
        TextAnalysis.bigramFluency(Tables(s, d).documents),
        "avg_prob", buckets = 10, sumScale = 12)),
    // CCNet head/middle/tail: per-DOC band assignment (q154 is the
    // per-bucket rollup of the same scores)
    "q234_quality_length_joint" -> ((s, d) =>
      qualityLengthJoint(Tables(s, d).documents)),
    "q210_fluency_bands" -> ((s, d) =>
      fluencyBands(Tables(s, d).documents)),
    // the complete CCNet gate: held-out LM, tail third dropped
    "q214_ccnet_keep" -> ((s, d) => {
      val docs = Tables(s, d).documents
      ccnetKeep(docs.filter(col("source") === "src0"),
        docs.filter(col("source") =!= "src0"))
    }),
    "q90_user_sequences" -> ((s, d) => userSequences(Tables(s, d).events)),
    "q118_equi_depth_hist" -> ((s, d) =>
      equiDepthHistogram(Tables(s, d).lineitem, "l_extendedprice")),
    "q183_quantile_normalize" -> ((s, d) =>
      quantileNormalize(Tables(s, d).lineitem, "l_quantity")),
    "q119_key_skew_profile" -> ((s, d) =>
      keySkewProfile(Tables(s, d).events)),
    "q125_join_size_profile" -> ((s, d) =>
      joinSizeProfile(Tables(s, d).events)),
    "q88_price_histogram" -> ((s, d) =>
      adaptiveHistogram(Tables(s, d).lineitem, "l_extendedprice")),
    "q89_winsorize" -> ((s, d) => winsorize(Tables(s, d))),
    "q85_zorder_values" -> ((s, d) => zOrderValues(Tables(s, d))),
    "q80_doc_chunks" -> ((s, d) => chunkDocuments(Tables(s, d))),
    "q81_pii_scrub" -> ((s, d) => piiScrub(Tables(s, d))),
    "q73_salted_skew_join" -> ((s, d) => saltedSkewJoin(Tables(s, d))),
    "q74_distinctive_terms" -> ((s, d) => distinctiveTerms(Tables(s, d))),
    "q75_embedding_quantize" ->
      ((s, d) => quantizeInt8(Tables(s, d).embeddings))
  )

  /** q322's DuckDB twin, GENERATED with the jump walk unrolled (the
    * q313 convention): same md5 key, same MINSTD step, same integer
    * jump division, one chained CTE per guarded step. Kept in lockstep
    * with [[portableJumpAssignments]] by construction — both sides
    * derive the step from (JumpA, JumpM, nFrom, nTo). */
  private def portableJumpOracle(nFrom: Int, nTo: Int): String = {
    val steps = (1 to nTo).map { t =>
      s"""s$t AS (SELECT doc_id, h,
         |  CASE WHEN j < $nTo THEN (s * $JumpA) % $JumpM ELSE s END AS s,
         |  CASE WHEN j < $nTo THEN ((least(j, $nTo) + 1) * $JumpM)
         |    // ((s * $JumpA) % $JumpM) ELSE j END AS j,
         |  CASE WHEN j < $nTo AND j < $nFrom THEN j ELSE bf END AS bf,
         |  CASE WHEN j < $nTo THEN j ELSE bt END AS bt
         |  FROM s${t - 1})""".stripMargin
    }.mkString(",\n")
    s"""WITH s0 AS (
       |  SELECT doc_id, h, 1 + h % ${JumpM - 1} AS s,
       |    CAST(0 AS BIGINT) AS j, CAST(-1 AS BIGINT) AS bf,
       |    CAST(-1 AS BIGINT) AS bt
       |  FROM (SELECT doc_id, CAST('0x' || substr(md5('jump:'
       |      || CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) AS h
       |    FROM documents)),
       |$steps,
       |agg AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_docs,
       |    CAST(sum(CASE WHEN h % $nFrom <> h % $nTo THEN 1 ELSE 0 END)
       |      AS BIGINT) AS mod_moved,
       |    CAST(sum(CASE WHEN bf <> bt THEN 1 ELSE 0 END) AS BIGINT)
       |      AS jump_moved
       |  FROM s$nTo)
       |SELECT $nFrom AS n_from, $nTo AS n_to, n_docs, mod_moved,
       |  jump_moved,
       |  CAST(mod_moved AS DOUBLE) / CAST(n_docs AS DOUBLE) AS mod_frac,
       |  CAST(jump_moved AS DOUBLE) / CAST(n_docs AS DOUBLE) AS jump_frac
       |FROM agg""".stripMargin
  }

  val oracleSql: Map[String, String] = Map(
    "q322_jump_portable" -> portableJumpOracle(16, 17),
    // same salted-md5-prefix shard id and the same per-row
    // md5-prefix long under an order-insensitive bit_xor — 15 hex
    // chars = 60 bits, so the BIGINT cast is exact in both engines
    "q198_shard_manifest" ->
      """WITH sharded AS (
        |  SELECT CAST(CAST('0x' || substr(md5('shard:'
        |        || CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 16
        |      AS INTEGER) AS shard,
        |    doc_id, text, n_chars
        |  FROM documents)
        |SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  bit_xor(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)
        |    || ':' || text), 1, 15) AS BIGINT)) AS content_xor
        |FROM sharded GROUP BY shard ORDER BY shard""".stripMargin,
    // the merged split manifests must equal the whole-corpus manifest
    // — same SQL as q198, proving the algebraic-merge identity
    "q206_manifest_merge" ->
      """WITH sharded AS (
        |  SELECT CAST(CAST('0x' || substr(md5('shard:'
        |        || CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 16
        |      AS INTEGER) AS shard,
        |    doc_id, text, n_chars
        |  FROM documents)
        |SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  bit_xor(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)
        |    || ':' || text), 1, 15) AS BIGINT)) AS content_xor
        |FROM sharded GROUP BY shard ORDER BY shard""".stripMargin,
    // both sides replay the q198 manifest algebra (same shard hash,
    // same 60-bit xor checksum) over the q163-convention perturbation,
    // then full-outer join on shard — integers and strings only
    "q203_release_diff" ->
      """WITH newdocs AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 31 = 0
        |      THEN text || ' refreshed crawl content' ELSE text END
        |      AS text
        |  FROM documents WHERE doc_id % 97 <> 0),
        |oldm AS (
        |  SELECT CAST(CAST('0x' || substr(md5('shard:'
        |        || CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 16
        |      AS INTEGER) AS shard,
        |    CAST(count(*) AS BIGINT) AS old_docs,
        |    CAST(sum(len(string_split(text, ' '))) AS BIGINT)
        |      AS old_tokens,
        |    bit_xor(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)
        |      || ':' || text), 1, 15) AS BIGINT)) AS old_xor
        |  FROM documents GROUP BY 1),
        |newm AS (
        |  SELECT CAST(CAST('0x' || substr(md5('shard:'
        |        || CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 16
        |      AS INTEGER) AS shard,
        |    CAST(count(*) AS BIGINT) AS new_docs,
        |    CAST(sum(len(string_split(text, ' '))) AS BIGINT)
        |      AS new_tokens,
        |    bit_xor(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)
        |      || ':' || text), 1, 15) AS BIGINT)) AS new_xor
        |  FROM newdocs GROUP BY 1)
        |SELECT COALESCE(o.shard, n.shard) AS shard,
        |  CASE WHEN o.old_xor IS NULL THEN 'added'
        |       WHEN n.new_xor IS NULL THEN 'removed'
        |       WHEN o.old_xor = n.new_xor THEN 'unchanged'
        |       ELSE 'changed' END AS status,
        |  COALESCE(o.old_docs, 0) AS old_docs,
        |  COALESCE(n.new_docs, 0) AS new_docs,
        |  COALESCE(n.new_docs, 0) - COALESCE(o.old_docs, 0)
        |    AS delta_docs,
        |  COALESCE(n.new_tokens, 0) - COALESCE(o.old_tokens, 0)
        |    AS delta_tokens
        |FROM oldm o FULL OUTER JOIN newm n ON o.shard = n.shard
        |ORDER BY shard""".stripMargin,
    "q162_bucketed_join" ->
      """SELECT o_custkey, COUNT(*) AS n_items,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
        |    AS sum_qty
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_custkey
        |ORDER BY o_custkey""".stripMargin,
    // q212's held-out CTE + cume_dist + the q210 band cuts + the
    // tail-drop filter — the whole gate in one statement
    "q214_ccnet_keep" ->
      s"""WITH fl AS (${TextAnalysis.heldoutFluencySql}),
         |b AS (SELECT doc_id, avg_prob,
         |        cume_dist() OVER (ORDER BY avg_prob) AS cdf
         |      FROM fl WHERE avg_prob IS NOT NULL)
         |SELECT doc_id, avg_prob, cdf,
         |  CASE WHEN cdf * 3.0 <= 1.0 THEN 'tail'
         |       WHEN cdf * 3.0 <= 2.0 THEN 'middle'
         |       ELSE 'head' END AS band
         |FROM b
         |WHERE NOT (cdf * 3.0 <= 1.0)
         |ORDER BY doc_id""".stripMargin,
    // q210's band CTEs + the q230 integer bit-length bucket, rolled
    // up to (band, bucket) — the length-confound check
    "q234_quality_length_joint" ->
      s"""WITH fl AS (${TextAnalysis.oracleSql("q140_bigram_fluency")}),
         |b AS (SELECT doc_id, avg_prob,
         |        cume_dist() OVER (ORDER BY avg_prob) AS cdf
         |      FROM fl WHERE avg_prob IS NOT NULL),
         |bands AS (
         |  SELECT doc_id,
         |    CASE WHEN cdf * 3.0 <= 1.0 THEN 'tail'
         |         WHEN cdf * 3.0 <= 2.0 THEN 'middle'
         |         ELSE 'head' END AS band
         |  FROM b),
         |len AS (
         |  SELECT doc_id,
         |    CAST(len(format('{:b}',
         |        len(string_split(text, ' ')))) - 1 AS BIGINT)
         |      AS log2_bucket,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n
         |  FROM documents)
         |SELECT bands.band, len.log2_bucket,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(len.n) AS BIGINT) AS n_tokens
         |FROM bands JOIN len USING (doc_id)
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // q140's CTE + the standard cume_dist (ties-inclusive count ≤ v
    // over n — the SAME correctly-rounded division quantileNormalize
    // computes) + identical float band cuts
    "q210_fluency_bands" ->
      s"""WITH fl AS (${TextAnalysis.oracleSql("q140_bigram_fluency")}),
         |b AS (SELECT doc_id, avg_prob,
         |        cume_dist() OVER (ORDER BY avg_prob) AS cdf
         |      FROM fl WHERE avg_prob IS NOT NULL)
         |SELECT doc_id, avg_prob, cdf,
         |  CASE WHEN cdf * 3.0 <= 1.0 THEN 'tail'
         |       WHEN cdf * 3.0 <= 2.0 THEN 'middle'
         |       ELSE 'head' END AS band
         |FROM b ORDER BY doc_id""".stripMargin,
    // the q140 oracle inlines as the source CTE, so the two stay in
    // lockstep by construction
    "q154_fluency_tiers" ->
      s"""WITH fl AS (${TextAnalysis.oracleSql("q140_bigram_fluency")})
         |SELECT bucket, CAST(count(*) AS BIGINT) AS n,
         |  min(v) AS lo, max(v) AS hi,
         |  CAST(CAST(SUM(CAST(v AS DECIMAL(18,12))) AS VARCHAR)
         |    AS DOUBLE) AS s
         |FROM (SELECT avg_prob AS v,
         |        CAST(ntile(10) OVER (ORDER BY avg_prob) AS BIGINT)
         |          AS bucket
         |      FROM fl WHERE avg_prob IS NOT NULL)
         |GROUP BY bucket ORDER BY bucket""".stripMargin,
    "q149_global_row_ids" ->
      """SELECT doc_id,
        |  row_number() OVER (ORDER BY doc_id) AS row_id
        |FROM documents ORDER BY doc_id""".stripMargin,
    // the global hash-ordered window the sharded form avoids
    "q222_epoch_shuffle" ->
      """SELECT doc_id,
        |  row_number() OVER (ORDER BY
        |    md5('epoch3:' || CAST(doc_id AS VARCHAR)), doc_id) AS pos
        |FROM documents ORDER BY doc_id""".stripMargin,
    // the oracle states BOTH avoided global forms verbatim: the
    // per-source hash-order rank and the global interleave window
    // row_number() OVER (ORDER BY src_rank, source)
    "q238_interleaved_order" ->
      """WITH r AS (
        |  SELECT doc_id, source,
        |    row_number() OVER (PARTITION BY source ORDER BY
        |      md5('epoch3:' || CAST(doc_id AS VARCHAR)), doc_id) - 1
        |      AS src_rank
        |  FROM documents)
        |SELECT doc_id, source, CAST(src_rank AS BIGINT) AS src_rank,
        |  row_number() OVER (ORDER BY src_rank, source) AS pos
        |FROM r ORDER BY doc_id""".stripMargin,
    "q118_equi_depth_hist" ->
      """SELECT bucket, CAST(count(*) AS BIGINT) AS n,
        |  min(v) AS lo, max(v) AS hi,
        |  CAST(CAST(SUM(CAST(v AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS s
        |FROM (SELECT l_extendedprice AS v,
        |        CAST(ntile(20) OVER (ORDER BY l_extendedprice) AS BIGINT)
        |          AS bucket
        |      FROM lineitem)
        |GROUP BY bucket ORDER BY bucket""".stripMargin,
    // the oracle IS the global running rank the operator avoids:
    // cumulative count over value-ordered distinct values, one
    // LONG/LONG double division
    "q183_quantile_normalize" ->
      """WITH c AS (
        |  SELECT CAST(l_quantity AS DOUBLE) AS v,
        |    CAST(count(*) AS BIGINT) AS cnt
        |  FROM lineitem WHERE l_quantity IS NOT NULL GROUP BY 1),
        |t AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM c)
        |SELECT v AS value, cnt AS n,
        |  CAST(CAST(sum(cnt) OVER (ORDER BY v
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS DOUBLE)
        |    / CAST(t.n AS DOUBLE) AS cdf
        |FROM c, t ORDER BY value""".stripMargin,
    "q125_join_size_profile" ->
      """WITH c AS (SELECT user_id, count(*) AS cnt FROM events GROUP BY 1)
        |SELECT CAST(sum(cnt * cnt) AS BIGINT) AS join_rows,
        |  CAST(count(*) AS BIGINT) AS matched_keys,
        |  CAST(max(cnt * cnt) AS BIGINT) AS max_key_rows
        |FROM c""".stripMargin,
    "q119_key_skew_profile" ->
      """WITH c AS (SELECT user_id, count(*) AS cnt FROM events GROUP BY 1),
        |t AS (SELECT CAST(sum(cnt) AS BIGINT) AS total,
        |             CAST(count(*) AS BIGINT) AS nkeys FROM c)
        |SELECT user_id, CAST(cnt AS BIGINT) AS cnt,
        |  CAST(cnt * 1000000 // total AS BIGINT) AS share_ppm,
        |  CAST(cnt * nkeys * 100 // total AS BIGINT) AS skew_x100
        |FROM c, t ORDER BY cnt DESC, user_id LIMIT 10""".stripMargin,
    "q90_user_sequences" ->
      """SELECT user_id,
        |  string_agg(event_type, ',' ORDER BY ts, event_id) AS sequence,
        |  COUNT(*) AS n_events,
        |  MIN(ts) AS first_ts,
        |  MAX(ts) AS last_ts
        |FROM events
        |WHERE user_id < 100
        |GROUP BY user_id
        |ORDER BY user_id""".stripMargin,
    "q88_price_histogram" ->
      """WITH b AS (
        |  SELECT min(CAST(l_extendedprice AS DOUBLE)) AS mn,
        |         max(CAST(l_extendedprice AS DOUBLE)) AS mx
        |  FROM lineitem WHERE l_extendedprice IS NOT NULL)
        |SELECT bucket, COUNT(*) AS n FROM (
        |  SELECT CASE WHEN mx > mn THEN
        |      CAST(LEAST(floor((CAST(l_extendedprice AS DOUBLE) - mn)
        |        / ((mx - mn) / 20.0)), 19) AS BIGINT)
        |    ELSE 0 END AS bucket
        |  FROM lineitem, b
        |  WHERE l_extendedprice IS NOT NULL)
        |GROUP BY bucket
        |ORDER BY bucket""".stripMargin,
    "q89_winsorize" ->
      """WITH b AS (
        |  SELECT quantile_cont(l_extendedprice, 0.01) AS lo,
        |         quantile_cont(l_extendedprice, 0.99) AS hi
        |  FROM lineitem)
        |SELECT l_orderkey, l_linenumber, l_extendedprice,
        |  LEAST(GREATEST(l_extendedprice, lo), hi) AS clipped
        |FROM lineitem, b
        |WHERE l_orderkey < 200
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q85_zorder_values" ->
      s"""SELECT l_orderkey, l_partkey, l_linenumber,
         |  ${ZOrder.zValueSql("l_orderkey", "l_partkey")} AS z
         |FROM lineitem
         |WHERE l_orderkey < 1000
         |ORDER BY z, l_orderkey, l_partkey, l_linenumber""".stripMargin,
    "q80_doc_chunks" ->
      """WITH d AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks,
        |    1 + CAST(floor((GREATEST(len(string_split(text, ' ')) - 50, 0)
        |      + 39) / 40.0) AS INT) AS n_chunks
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, toks,
        |    unnest(generate_series(0, n_chunks - 1)) AS chunk_id
        |  FROM d)
        |SELECT doc_id, chunk_id, chunk_id * 40 AS chunk_start,
        |  len(list_slice(toks, chunk_id * 40 + 1, chunk_id * 40 + 50))
        |    AS n_chunk_toks,
        |  array_to_string(
        |    list_slice(toks, chunk_id * 40 + 1, chunk_id * 40 + 50), ' ')
        |    AS chunk_text
        |FROM c
        |ORDER BY doc_id, chunk_id""".stripMargin,
    "q81_pii_scrub" ->
      """SELECT doc_id,
        |  regexp_replace(
        |    regexp_replace(
        |      text || ' contact user' || doc_id || '@mail.example.com or '
        |        || '555-010-' || lpad(CAST(doc_id AS VARCHAR), 4, '0'),
        |      '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '<EMAIL>', 'g'),
        |    '[0-9]{3}-[0-9]{3}-[0-9]{4}', '<PHONE>', 'g') AS clean
        |FROM documents
        |ORDER BY doc_id""".stripMargin,
    // the oracle runs the UNSALTED join — passing proves the salted
    // rewrite is semantics-preserving
    "q73_salted_skew_join" ->
      """SELECT o_orderpriority,
        |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
        |    * CAST(1 - l_discount AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE)
        |    AS revenue,
        |  COUNT(*) AS n_lines
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,
    "q74_distinctive_terms" ->
      """WITH tf AS (
        |  SELECT doc_id, term, COUNT(*) AS tf
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |        FROM documents)
        |  GROUP BY doc_id, term),
        |df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
        |scored AS (
        |  SELECT f.doc_id, f.term, f.tf, d.df,
        |    CAST(f.tf AS DOUBLE) / d.df AS score,
        |    ROW_NUMBER() OVER (PARTITION BY f.doc_id
        |      ORDER BY CAST(f.tf AS DOUBLE) / d.df DESC, f.term) AS rank
        |  FROM tf f JOIN df d ON f.term = d.term)
        |SELECT doc_id, rank, term, tf, df, score
        |FROM scored WHERE rank <= 3
        |ORDER BY doc_id, rank""".stripMargin,
    "q75_embedding_quantize" ->
      """SELECT vec_id, scale,
        |  array_to_string(list_transform(embedding, x ->
        |    CAST(CAST(floor(CAST(x AS DOUBLE) * scale + 0.5) AS BIGINT)
        |      AS VARCHAR)), ',') AS qvec
        |FROM (
        |  SELECT vec_id, embedding,
        |    CASE WHEN m > 0 THEN 127.0 / m ELSE 1.0 END AS scale
        |  FROM (
        |    SELECT vec_id, embedding,
        |      list_aggregate(list_transform(embedding,
        |        x -> abs(CAST(x AS DOUBLE))), 'max') AS m
        |    FROM embeddings))
        |ORDER BY vec_id""".stripMargin
  )
}
