package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextFunctions._
import graft.functions.VectorFunctions.{dotSql, norm2Sql}

/** Text-analysis operators over the `documents` table — the
  * training-data-pipeline generalization of the reference's string
  * handling (P4/F1, `/root/reference/dags/my_data_pipeline.py:69,209`).
  *
  * All per-document metrics are narrow map-side projections (no
  * shuffle); corpus-level rollups shuffle once on their group key.
  * Pairwise similarity is bounded by candidate buckets — never a full
  * cross join — so cost is Σ bucket² rather than corpus², which holds
  * at 100 TB as long as bucket cardinality is bounded (it is: buckets
  * are (lang, source) here, and MinHash-LSH bands in [[Dedup]]).
  */
object TextAnalysis {

  /** Per-document token statistics (pure projection). */
  def tokenStats(t: Tables): DataFrame = {
    val toks = tokens(col("text"))
    t.documents.select(
      col("doc_id"),
      size(toks).as("n_tokens"),
      size(array_distinct(toks)).as("n_types"),
      ((length(col("text")) - size(toks) + 1).cast("double") / size(toks))
        .as("avg_token_len"))
      .orderBy(col("doc_id"))
  }

  /** Corpus term frequencies: explode + count, top 30. */
  def wordFrequencies(t: Tables): DataFrame =
    t.documents
      .select(explode(tokens(col("text"))).as("word"))
      .groupBy(col("word"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("word"))
      .limit(30)

  /** Zipf rank-frequency PROFILE per source — token frequency read
    * at DOUBLING ranks (1, 2, 4, …, 2^maxLog2) with the decay ratio
    * freq(r)/freq(r/2): the lexical-naturalness fingerprint (natural
    * language tracks decay ≈ 0.5, Zipf s ≈ 1; templated or machine-
    * generated feeds read flatter — a high decay ratio deep in the
    * tail is the tell). The log-free form of the classic log-log
    * slope: all integers + ONE division per row, no ln (libm-unsafe,
    * the [[DataHygiene]] convention).
    *
    * Rank WITHOUT sorting: the count-of-counts device (q287) — a
    * frequency-group (f, n_types) occupies ranks cumAbove+1 ..
    * cumAbove+n_types, so the token at rank r is the group whose
    * range covers r. No window, no top-k: ranks come from algebra.
    *
    * Scale: the (source, token) rollup partial-aggregates map-side
    * (Zipf bounds distinct types far below token volume); count-of-
    * counts collapses it to \|distinct freqs\| rows per source
    * (hundreds); the rank probe joins THAT against ≤ maxLog2+1
    * broadcast literals. Nothing downstream of the first rollup
    * grows with corpus size. */
  def zipfProfile(docs: DataFrame, maxLog2: Int = 10): DataFrame = {
    val sp = docs.sparkSession
    import sp.implicits._
    val ranks = (0 to maxLog2).map(1L << _).toDF("rnk")
    val ff = docs
      .select(col("source"), explode(tokens(col("text"))).as("w"))
      .groupBy(col("source"), col("w")).agg(count(lit(1)).as("f"))
      .groupBy(col("source"), col("f")).agg(count(lit(1)).as("ntypes"))
      .localCheckpoint(true)
    val cum = ff.as("a")
      .join(ff.as("b"), col("a.source") === col("b.source") &&
        col("b.f") > col("a.f"), "left_outer")
      .groupBy(col("a.source").as("source"), col("a.f").as("f"),
        col("a.ntypes").as("ntypes"))
      .agg(coalesce(sum(col("b.ntypes")), lit(0L)).as("above"))
    val at = cum.join(broadcast(ranks), col("above") < col("rnk") &&
        col("rnk") <= col("above") + col("ntypes"))
      .select(col("source"), col("rnk"), col("f").as("freq"))
    at.as("x")
      .join(at.as("y"), col("x.source") === col("y.source") &&
        col("y.rnk") * 2 === col("x.rnk"), "left_outer")
      .select(col("x.source").as("source"), col("x.rnk").as("rnk"),
        col("x.freq").as("freq"),
        (col("x.freq").cast("double") / col("y.freq").cast("double"))
          .as("decay"))
      .orderBy(col("source"), col("rnk"))
  }

  /** Heuristic quality scoring: lexical diversity + stopword mass +
    * length prior (formula in [[graft.functions.TextFunctions]]). */
  def qualityScores(t: Tables): DataFrame = {
    val toks = tokens(col("text"))
    val nTokens = size(toks)
    val ttr = size(array_distinct(toks)).cast("double") / nTokens
    val stopRatio =
      size(filter(toks, w => w === "a" || w === "the")).cast("double") /
        nTokens
    t.documents.select(
      col("doc_id"),
      nTokens.as("n_tokens"),
      ttr.as("ttr"),
      stopRatio.as("stop_ratio"),
      qualityScore(nTokens, ttr, stopRatio).as("quality"))
      .orderBy(col("doc_id"))
  }

  /** Corpus rollup by (lang, source). */
  def corpusStats(t: Tables): DataFrame =
    t.documents
      .groupBy(col("lang"), col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"),
        (sum(size(tokens(col("text")))).cast("double") / count(lit(1)))
          .as("avg_tokens"))
      .orderBy(col("lang"), col("source"))

  /** Exact deduplication: group identical texts, keep the smallest
    * doc_id as canonical. Hash-groupBy — one shuffle on the md5 key,
    * which is how exact dedup runs at any scale. */
  def dedupExact(t: Tables): DataFrame =
    t.documents
      .groupBy(contentFingerprint(col("text")).as("fp"))
      .agg(min(col("doc_id")).as("canonical_id"),
        count(lit(1)).as("n_copies"))
      .orderBy(col("canonical_id"))

  /** Near-duplicate groups by order/multiplicity-insensitive token-set
    * fingerprint; emits only actual duplicate groups. */
  def dedupTokenSet(t: Tables): DataFrame =
    t.documents
      .groupBy(tokenSetFingerprint(col("text")).as("fp"))
      .agg(min(col("doc_id")).as("canonical_id"),
        count(lit(1)).as("n_copies"))
      .filter(col("n_copies") > 1)
      .orderBy(col("canonical_id"))

  /** Exact 3-gram-shingle Jaccard over candidate pairs bucketed by
    * (lang, source). The bucket join is the candidate generator (cf.
    * MinHash-LSH in [[Dedup]] for the unbucketed scale path); the
    * 0.5 threshold sits in a wide empirical gap of the similarity
    * distribution, so the cut is stable. (lang, source) cardinality is
    * data-FIXED, so blocks grow linearly with the corpus —
    * [[Dedup.capBlocks]] bounds each block to its `maxBlock` smallest
    * doc_ids (the window shares the join's (lang, source) exchange),
    * so a hot block degrades to a deterministic truncation instead of
    * O(block²); past the cap, MinHash-LSH is the right tier. */
  def jaccardPairs(documents: DataFrame, maxBlock: Int = 10000)
      : DataFrame = {
    // sorted once per doc -> each pair evaluation is a single
    // zero-allocation merge pass (SortedIntersectSizeExpr)
    val docs = Dedup.capBlocks(
      Par.fanOut(documents).select(
        col("doc_id"), col("lang"), col("source"),
        sortedShingles(col("text"), 3).as("sh"))
        .withColumn("n", size(col("sh"))), // once per doc, not per pair
      Seq("lang", "source"), Seq(col("doc_id")), maxBlock)
    val a = docs.select(col("lang"), col("source"),
      col("doc_id").as("d1"), col("sh").as("sh1"), col("n").as("n1"))
    val b = docs.select(col("lang"), col("source"),
      col("doc_id").as("d2"), col("sh").as("sh2"), col("n").as("n2"))
    a.join(b, Seq("lang", "source"))
      // one filter, cheap conjuncts in evaluation order: the pair
      // orientation check and the lossless size filter (J(A,B) <=
      // min(|A|,|B|)/max(|A|,|B|), so at t=0.5 a >2x size gap can
      // never qualify) must both run BEFORE the merge-pass jaccard
      // that Catalyst pushes into this join's condition
      .filter(col("d1") < col("d2") &&
        least(col("n1"), col("n2")) * 2 >= greatest(col("n1"), col("n2")))
      .select(col("d1"), col("d2"),
        jaccardSorted(col("sh1"), col("sh2")).as("jaccard"))
      .filter(col("jaccard") >= 0.5)
      .orderBy(col("d1"), col("d2"))
  }

  /** UNBLOCKED exact Jaccard pairs via PREFIX FILTERING (Chaudhuri,
    * Ganti & Kaushik ICDE 2006; Xiao et al.'s PPJoin family) — the
    * LOSSLESS candidate pruner for when q26's (lang, source) blocking
    * key doesn't exist and q28's MinHash recall trade is not
    * acceptable: order every document's shingle set by GLOBAL
    * rarity (df asc, shingle asc — one shared total order), index
    * only each set's first `|x| − ⌈t·|x|⌉ + 1` shingles, and join on
    * those prefixes. The prefix lemma guarantees every pair with
    * J ≥ t shares a prefix shingle (two sets missing each other's
    * prefixes cannot overlap enough), so after the exact
    * merge-pass verify the output is IDENTICAL to the all-pairs
    * join — pruning without recall loss, spec-proven against brute
    * force. Rare-first ordering makes prefixes mostly df-1 shingles,
    * so candidate volume rides the near-dup density, not n².
    *
    * Scale: df is one partial-aggregated rollup; per-doc reorder is
    * a doc-keyed collect bounded by document length; the prefix
    * join's fan-out is Σ_g df(g)² over PREFIX occurrences only —
    * the Bayardo argument with the cap replaced by a lossless
    * bound. Exact integers + the codegen merge pass; one division. */
  def prefixFilterJaccardPairs(documents: DataFrame,
      threshold: Double = 0.5): DataFrame = {
    val docs = Par.fanOut(documents).select(col("doc_id"),
      sortedShingles(col("text"), 3).as("sh"))
      .withColumn("n", size(col("sh")))
      .localCheckpoint() // feeds the df build + both verify sides
    val dfr = docs.select(col("doc_id"), explode(col("sh")).as("g"))
      .groupBy(col("g")).agg(count(lit(1)).as("df"))
    val ordered = docs
      .select(col("doc_id"), col("n"), explode(col("sh")).as("g"))
      .join(dfr, "g")
      .groupBy(col("doc_id"), col("n"))
      .agg(transform(array_sort(collect_list(struct(col("df"), col("g")))),
        s => s.getField("g")).as("og"))
    val prefixLen =
      (col("n") - ceil(col("n") * lit(threshold)) + 1).cast("int")
    val prefix = ordered.select(col("doc_id"),
      explode(slice(col("og"), lit(1), prefixLen)).as("g"))
    val cands = prefix.select(col("g"), col("doc_id").as("d1"))
      .join(prefix.select(col("g"), col("doc_id").as("d2")), Seq("g"))
      .filter(col("d1") < col("d2"))
      .select(col("d1"), col("d2")).distinct()
    cands
      .join(docs.select(col("doc_id").as("d1"), col("sh").as("sh1")),
        "d1")
      .join(docs.select(col("doc_id").as("d2"), col("sh").as("sh2")),
        "d2")
      .select(col("d1"), col("d2"),
        jaccardSorted(col("sh1"), col("sh2")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
      .orderBy(col("d1"), col("d2"))
  }

  /** Asymmetric CONTAINMENT pairs — the quote/subset-duplication
    * detector Jaccard cannot be (Broder 1997's containment
    * C(A,B)=|A∩B|/|A|; the screen Lee et al. 2022 run alongside
    * symmetric dedup): a short document pasted inside a long one has
    * near-total containment one way but tiny Jaccard, because the
    * union is dominated by the long side — exactly the pairs
    * [[jaccardPairs]]' lossless >2x-size-gap filter PROVES it can
    * never emit. Same (lang, source) candidate blocks and sorted-
    * shingle merge kernel, but the size filter is dropped (the gap is
    * the signal here) and the cut is on max-direction containment;
    * each surviving pair carries both containments, the Jaccard, and
    * a relation label: `near_dup` when Jaccard also clears its
    * threshold, else `quote`.
    *
    * Exactness: intersection size is the integer
    * [[graft.plans.SortedIntersectSizeExpr]] merge; every emitted
    * ratio is ONE double division of exact integers — bitwise equal
    * to the oracle's `len(list_intersect(...))` formulation.
    *
    * Scale: identical join shape to [[jaccardPairs]] (blocks are
    * data-fixed (lang, source), `capBlocks` bounds hot blocks, cost
    * is Σ block², never corpus²); past the cap the MinHash tier
    * generates candidates and this verify layer is unchanged. */
  def containmentPairs(documents: DataFrame, minContainment: Double = 0.5,
      nearDupJaccard: Double = 0.5, maxBlock: Int = 10000): DataFrame = {
    val docs = Dedup.capBlocks(
      Par.fanOut(documents).select(
        col("doc_id"), col("lang"), col("source"),
        sortedShingles(col("text"), 3).as("sh"))
        .withColumn("n", size(col("sh"))),
      Seq("lang", "source"), Seq(col("doc_id")), maxBlock)
    val a = docs.select(col("lang"), col("source"),
      col("doc_id").as("d1"), col("sh").as("sh1"), col("n").as("n1"))
    val b = docs.select(col("lang"), col("source"),
      col("doc_id").as("d2"), col("sh").as("sh2"), col("n").as("n2"))
    a.join(b, Seq("lang", "source"))
      .filter(col("d1") < col("d2"))
      .select(col("d1"), col("d2"),
        col("n1").cast("long").as("n1"), col("n2").cast("long").as("n2"),
        graft.plans.FastOps.sortedIntersectSize(col("sh1"), col("sh2"))
          .cast("long").as("inter"))
      .filter(col("inter").cast("double") /
        least(col("n1"), col("n2")).cast("double") >= minContainment)
      .select(col("d1"), col("d2"), col("n1"), col("n2"), col("inter"),
        (col("inter").cast("double") /
          (col("n1") + col("n2") - col("inter")).cast("double"))
          .as("jaccard"),
        (col("inter").cast("double") / col("n1").cast("double"))
          .as("c1_in_2"),
        (col("inter").cast("double") / col("n2").cast("double"))
          .as("c2_in_1"))
      .withColumn("relation",
        when(col("jaccard") >= nearDupJaccard, lit("near_dup"))
          .otherwise(lit("quote")))
      .orderBy(col("d1"), col("d2"))
  }

  /** The SCALE tier of [[containmentPairs]]: winnowing fingerprints
    * ([[Dedup.winnowingPairs]], minShared=1) generate the candidate
    * pairs, the same exact-containment math verifies them. Winnowed
    * candidate volume rides df-capped fingerprint posting lists —
    * linear for a fixed cap — where the exact tier's (lang, source)
    * block join grows block² (measured 15.3x at the 10x trial, the
    * q190→q196 precedent). Winnowing's locality guarantee is exactly
    * the right generator for the QUOTE class: a pasted passage of
    * ≥ w+k−1 tokens always shares a fingerprint, wherever it sits —
    * and candidates cross (lang, source) blocks, which the exact tier
    * never pairs. Emits q269's column contract plus n_shared. */
  def containmentPairsWinnowed(documents: DataFrame,
      minContainment: Double = 0.5, nearDupJaccard: Double = 0.5,
      k: Int = 4, w: Int = 4, maxDf: Long = 20): DataFrame = {
    val cand = Dedup.winnowingPairs(documents, k, w,
      minShared = 1, maxDf = maxDf)
      .select(col("d1"), col("d2"), col("n_shared"))
    val sh = documents.select(col("doc_id"),
        sortedShingles(col("text"), 3).as("sh"))
      .withColumn("n", size(col("sh")))
    cand
      .join(sh.select(col("doc_id").as("d1"), col("sh").as("sh1"),
        col("n").as("na")), Seq("d1"))
      .join(sh.select(col("doc_id").as("d2"), col("sh").as("sh2"),
        col("n").as("nb")), Seq("d2"))
      .select(col("d1"), col("d2"), col("n_shared"),
        col("na").cast("long").as("n1"), col("nb").cast("long").as("n2"),
        graft.plans.FastOps.sortedIntersectSize(col("sh1"), col("sh2"))
          .cast("long").as("inter"))
      .filter(col("inter").cast("double") /
        least(col("n1"), col("n2")).cast("double") >= minContainment)
      .select(col("d1"), col("d2"), col("n_shared"), col("n1"),
        col("n2"), col("inter"),
        (col("inter").cast("double") /
          (col("n1") + col("n2") - col("inter")).cast("double"))
          .as("jaccard"),
        (col("inter").cast("double") / col("n1").cast("double"))
          .as("c1_in_2"),
        (col("inter").cast("double") / col("n2").cast("double"))
          .as("c2_in_1"))
      .withColumn("relation",
        when(col("jaccard") >= nearDupJaccard, lit("near_dup"))
          .otherwise(lit("quote")))
      .orderBy(col("d1"), col("d2"))
  }

  /** All-pairs sparse-cosine similarity by POSTING-LIST join — the
    * inverted-index formulation of near-dup pair generation (Bayardo,
    * Ma & Srikant, WWW 2007 "Scaling Up All Pairs Similarity Search":
    * score pairs only through the terms they share, and prune the
    * high-frequency terms that generate quadratically many pairs).
    * Documents are 3-gram-shingle tf vectors; any gram with document
    * frequency > `maxDf` is dropped from the term space (the
    * frequency-pruning of §4 there — a corpus-common gram carries no
    * near-dup signal but contributes df² candidate pairs), and a pair
    * qualifies when its cosine over the CAPPED space ≥ `threshold`.
    *
    * Exactness: tf, df, the pair dot product, and both norms are
    * integer aggregates (order-independent), the threshold test is
    * dot² ≥ t²·‖a‖²·‖b‖² on exactly-converted doubles, and the
    * reported cosine is one correctly-rounded sqrt + division — so
    * the whole operator replays bit-exactly in the oracle. The 0.5
    * default sits in a huge empirical gap (background pairs ≤ ~0.07,
    * planted near-dups ≥ ~0.8 at every SF).
    *
    * Scale: every stage is keyed on gram or doc — O(tokens) shuffle —
    * and the pair generator's volume is Σ_kept-gram df² ≤ maxDf ·
    * (kept gram occurrences), i.e. LINEAR in corpus size for a fixed
    * cap (under Heaps-law vocab growth kept occurrences grow with the
    * corpus, never faster). Contrast [[jaccardPairs]], whose
    * (lang, source) blocking is O(block²) by design: this is the
    * unblocked tier you run when no blocking key exists. */
  def sparseCosinePairs(docs: DataFrame, threshold: Double = 0.5,
      maxDf: Long = 20): DataFrame = {
    val toks = Par.fanOut(docs)
      .select(col("doc_id"), tokens(col("text")).as("t"))
      .filter(size(col("t")) >= 3)
    val grams = toks.select(col("doc_id"), explode(expr(
      "transform(sequence(1, size(t)-2), i -> concat(" +
        "element_at(t, i), ' ', element_at(t, i+1), ' ', " +
        "element_at(t, i+2)))")).as("g"))
    val tf = grams.groupBy(col("doc_id"), col("g"))
      .agg(count(lit(1)).as("tf"))
    val dfr = tf.groupBy(col("g")).agg(count(lit(1)).as("df"))
    // kept feeds THREE consumers (both posting-join sides + norms) —
    // localCheckpoint materializes the tf+df derivation once instead
    // of three times (the q151 device)
    val kept = tf.join(
      dfr.filter(col("df") <= maxDf).select(col("g")), Seq("g"))
      .localCheckpoint()
    cosineFromPostings(kept, threshold)
  }

  /** The pair tier downstream of the df-capped posting relation
    * `(g, doc_id, tf)` — shared verbatim by [[sparseCosinePairs]]
    * (in-memory postings) and [[sparseCosinePairsMaterialized]]
    * (bucketed at-rest postings), so the two tiers cannot drift.
    * `mergeHint` pins SortMergeJoin on the posting self-join — the
    * materialized path sets it so the small-SF broadcast threshold
    * can't hide the bucketing (the q162 convention). */
  private def cosineFromPostings(kept: DataFrame, threshold: Double,
      mergeHint: Boolean = false): DataFrame = {
    val norms = kept.groupBy(col("doc_id"))
      .agg(sum(col("tf") * col("tf")).as("n2"))
    val a0 = kept.select(col("g"), col("doc_id").as("d1"),
      col("tf").as("tf1"))
    val a = if (mergeHint) a0.hint("merge") else a0
    val b = kept.select(col("g"), col("doc_id").as("d2"),
      col("tf").as("tf2"))
    a.join(b, Seq("g"))
      .filter(col("d1") < col("d2"))
      .groupBy(col("d1"), col("d2"))
      .agg(sum(col("tf1") * col("tf2")).as("dot"))
      .join(norms.select(col("doc_id").as("d1"), col("n2").as("n2a")),
        Seq("d1"))
      .join(norms.select(col("doc_id").as("d2"), col("n2").as("n2b")),
        Seq("d2"))
      .filter(col("dot").cast("double") * col("dot").cast("double") >=
        lit(threshold * threshold) * (col("n2a") * col("n2b")).cast("double"))
      .select(col("d1"), col("d2"), col("dot"),
        (col("dot").cast("double") /
          sqrt((col("n2a") * col("n2b")).cast("double"))).as("cosine"))
      .orderBy(col("d1"), col("d2"))
  }

  /** The AT-REST form of q202's posting tier: the df-capped
    * `(g, doc_id, tf)` relation written ONCE per (session, sfDir) as
    * a catalog table bucketed AND sorted on `g` (8 buckets — the
    * q162/q194/q205 durable-artifact convention). Every consumer of
    * the candidate generator — q202's pair tier and the q217/q221/
    * q224/q231 compositions that replay it — re-derives tf+df from
    * raw text on EVERY run; at 100 TB that shingling pass and the
    * gram-keyed shuffle behind the self-join dwarf the pairs
    * themselves. Bucketing by `g` makes the self-join read co-located
    * buckets with NO Exchange on either side (PlanAuditSpec pins
    * SortMergeJoin + zero shuffle under the join), and the write
    * amortizes over every downstream near-dup query. Spark's bucket
    * hash is stable across sessions, so the layout survives as a
    * durable lake artifact. */
  private val postingsTables = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String), String]
  def materializedPostingsTable(s: SparkSession, d: String,
      maxDf: Long = 20): String = postingsTables.synchronized {
    postingsTables.getOrElseUpdate((s, d), {
      // collision-resistant digest of the path + monitor around the
      // non-atomic getOrElseUpdate + exit-time dir cleanup — see
      // graft.Artifacts
      val name = s"graft_postings_${graft.Artifacts.digest(d)}"
      val dir = graft.Artifacts.tempDir("graft_postings_")
      val toks = Tables(s, d).documents
        .select(col("doc_id"), tokens(col("text")).as("t"))
        .filter(size(col("t")) >= 3)
      val grams = toks.select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(t)-2), i -> concat(" +
          "element_at(t, i), ' ', element_at(t, i+1), ' ', " +
          "element_at(t, i+2)))")).as("g"))
      val tf = grams.groupBy(col("doc_id"), col("g"))
        .agg(count(lit(1)).as("tf"))
      val dfr = tf.groupBy(col("g")).agg(count(lit(1)).as("df"))
      tf.join(dfr.filter(col("df") <= maxDf).select(col("g")), Seq("g"))
        .write.bucketBy(8, "g").sortBy("g")
        .option("path", s"$dir/p").mode("overwrite").saveAsTable(name)
      name
    })
  }

  /** q202 served FROM the at-rest posting table — identical results
    * (the table holds exactly the in-memory `kept` relation, and the
    * downstream is [[cosineFromPostings]] verbatim), shuffle-free
    * candidate generation (bucketed self-join on `g`). The oracle is
    * q202's SQL unchanged: materialization is a layout decision, not
    * a semantic one. */
  def sparseCosinePairsMaterialized(s: SparkSession, d: String,
      threshold: Double = 0.5, maxDf: Long = 20): DataFrame =
    cosineFromPostings(s.table(materializedPostingsTable(s, d, maxDf)),
      threshold, mergeHint = true)

  /** The DURABLE postings table — the last at-rest family from the
    * r13 verdict's list moved out of the exit-deleted temp tree: the
    * df-capped (g, doc_id, tf) relation written bucketBy(g) under a
    * commit-marked lake dir, with the bucket spec RE-DECLARED over the
    * committed files in a fresh session
    * ([[graft.Artifacts.registerBucketedTable]] — the q336 device),
    * so the shuffle-free posting self-join survives the JVM. The
    * documents frame is BY-NAME: a committed artifact serves without
    * re-tokenizing anything. */
  def materializedPostingsDurable(s: SparkSession,
      documents: => org.apache.spark.sql.DataFrame, dir: String,
      maxDf: Long = 20): String = {
    val name = s"graft_postings_d_${graft.Artifacts.digest(
      graft.Artifacts.canonical(dir))}"
    val d = graft.Artifacts.durable(s, dir, s"postings|maxDf=$maxDf") {
      d =>
        val toks = documents
          .select(col("doc_id"), tokens(col("text")).as("t"))
          .filter(size(col("t")) >= 3)
        val grams = toks.select(col("doc_id"), explode(expr(
          "transform(sequence(1, size(t)-2), i -> concat(" +
            "element_at(t, i), ' ', element_at(t, i+1), ' ', " +
            "element_at(t, i+2)))")).as("g"))
        val tf = grams.groupBy(col("doc_id"), col("g"))
          .agg(count(lit(1)).as("tf"))
        val dfr = tf.groupBy(col("g")).agg(count(lit(1)).as("df"))
        graft.Artifacts.writeBucketed(
          tf.join(dfr.filter(col("df") <= maxDf).select(col("g")), Seq("g")),
          name, s"$d/p", "g", 8)
    }
    graft.Artifacts.registerBucketedTable(s, name, s"$d/p",
      "g STRING, doc_id BIGINT, tf BIGINT", "g", 8, Some("g"))
    name
  }

  /** q202/q299 served from the DURABLE postings artifact — same
    * downstream ([[cosineFromPostings]] verbatim), same oracle (q202's
    * SQL unchanged: durability, like materialization, is a layout
    * decision, not a semantic one). */
  def sparseCosinePairsDurable(s: SparkSession,
      documents: => org.apache.spark.sql.DataFrame, dir: String,
      threshold: Double = 0.5, maxDf: Long = 20): DataFrame =
    cosineFromPostings(
      s.table(materializedPostingsDurable(s, documents, dir, maxDf)),
      threshold, mergeHint = true)

  /** Quality-aware near-dup collapse: one KEPT document per duplicate
    * cluster, chosen by HIGHEST quality score (ties to the lowest
    * doc_id) instead of the arbitrary min-id representative — when a
    * crawl contains a clean original and a boilerplate-wrapped copy,
    * min-id keeps whichever was crawled first; this keeps the better
    * one (the keep-best convention of RefinedWeb-style curation,
    * Penedo et al. 2023, arXiv:2306.01116 §3.3).
    *
    * Composition, no new machinery: exact-jaccard edges
    * ([[jaccardPairs]]) → [[Dedup.dupClusters]] components → per-doc
    * [[graft.functions.TextFunctions.qualityScore]] → per-cluster
    * argmax as `min(struct(-quality, doc_id, quality))` — a plain
    * partial-aggregatable groupBy, no window. Unclustered docs are
    * their own singleton cluster (left join + coalesce), so the output
    * is exactly one row per surviving document. The double negation is
    * an IEEE sign flip (exact), so the argmax is engine-independent
    * given identical scores — q190's oracle replays cluster closure,
    * scoring, and the same ordering rule, hash-exact.
    *
    * THIS form rides [[jaccardPairs]] — the EXACT pair tier, which is
    * O(block²) by design (that's what makes the oracle replayable);
    * the 10x trial measures it at ~20x, exactly the quadratic the
    * docstring always warned about. The 100 TB form is
    * [[bestQualityRepresentativesLsh]] (q196): the SAME collapse over
    * MinHash-LSH candidate edges, linear in corpus + dup density. */
  def bestQualityRepresentatives(documents: DataFrame): DataFrame =
    keepBestPerCluster(documents,
      jaccardPairs(documents).select(col("d1"), col("d2")))

  /** [[bestQualityRepresentatives]] with the edge generator swapped to
    * MinHash-LSH candidates ([[Dedup.minhashDedup]]) — the scale tier:
    * candidate volume is bounded by banded buckets (linear in corpus
    * and dup DENSITY, never block²), and everything downstream — CC,
    * scoring, per-cluster argmax — is byte-identical machinery. On
    * exact-duplicate clusters LSH recall is 1, so the two tiers agree
    * (spec-pinned); on borderline near-dups LSH may miss what the
    * exact tier finds, which is the standard recall trade every
    * LSH-tiered dedup in this library documents. */
  def bestQualityRepresentativesLsh(documents: DataFrame): DataFrame =
    keepBestPerCluster(documents,
      Dedup.minhashDedup(documents).select(col("d1"), col("d2")))

  private def keepBestPerCluster(documents: DataFrame,
      edges: DataFrame): DataFrame = {
    val clusters = Dedup.dupClusters(edges)
    val toks = tokens(col("text"))
    val nTokens = size(toks)
    val ttr = size(array_distinct(toks)).cast("double") / nTokens
    val stopRatio =
      size(filter(toks, w => w === "a" || w === "the")).cast("double") /
        nTokens
    val scored = documents.select(col("doc_id"),
      qualityScore(nTokens, ttr, stopRatio).as("quality"))
    scored.join(clusters, Seq("doc_id"), "left")
      .withColumn("cluster_id",
        coalesce(col("cluster_id"), col("doc_id")))
      .groupBy(col("cluster_id"))
      .agg(
        min(struct((-col("quality")).as("nq"), col("doc_id"),
          col("quality"))).as("w"),
        count(lit(1)).as("n_members"))
      .select(col("cluster_id"), col("w.doc_id").as("kept_doc_id"),
        col("w.quality").as("quality"), col("n_members"))
      .orderBy(col("cluster_id"))
  }

  /** Near-dup cluster-SIZE distribution — the health audit of a dedup
    * run: how many duplicate clusters of each size the corpus holds
    * (web-crawl dup clusters are heavy-tailed; a spike at one giant
    * size usually means boilerplate or a crawler loop, the first
    * thing a curation engineer looks at before collapsing anything).
    * Pure composition: the q156 oracle-exact edge tier → connected
    * components → two tiny keyed rollups; only docs IN the dup graph
    * appear (singletons are the corpus minus the distribution's
    * mass, sizes here are ≥ 2 by construction). Scale rides the
    * underlying tiers — swap [[Dedup.minhashDedup]] edges in for the
    * 100 TB run exactly as q196 does for keep-best. */
  def clusterSizeDistribution(documents: DataFrame): DataFrame =
    Dedup.dupClusters(jaccardPairs(documents).select(col("d1"), col("d2")))
      .groupBy(col("cluster_id")).agg(count(lit(1)).as("cluster_size"))
      .groupBy(col("cluster_size")).agg(count(lit(1)).as("n_clusters"))
      .orderBy(col("cluster_size"))

  /** Token counting, whitespace vs BPE-ish: the two granularities a
    * training pipeline budgets with (raw words vs pre-tokenizer
    * pieces). The corpus is bare lowercase words, so a punctuated tail
    * is planted per document (cf. q81's planted PII) to make the two
    * counts provably diverge — the oracle runs the identical plant +
    * both tokenizations. */
  def bpeTokenCounts(t: Tables): DataFrame = {
    val planted = concat(col("text"), lit(" it's v2, pi=3.14!"))
    t.documents.select(col("doc_id"),
        size(tokens(planted)).as("n_ws_tokens"),
        size(bpeTokens(planted)).as("n_bpe_tokens"))
      .orderBy(col("doc_id"))
  }

  /** Sketch-based corpus cardinalities: HyperLogLog++ estimates of
    * unique documents (by content fingerprint) and unique tokens, per
    * source — the O(1)-memory scale path for "how much is duplicated?"
    * before running full dedup. relativeSD 0.02 ≈ 2% standard error —
    * the tier below (0.01) quadruples the HLL register file (2^14
    * per group per partial aggregate) for accuracy a dedup triage
    * never needs, and benched 3× slower on the fixed per-buffer cost;
    * the estimate-vs-exact bound is asserted in tests (rows-only for
    * the oracle: DuckDB's HLL constants differ). */
  def corpusCardinalitySketch(t: Tables): DataFrame =
    t.documents
      // hash once BEFORE the aggregate: a multi-distinct agg plans an
      // Expand (×3 row duplication here), and an md5 over full document
      // text inside the agg would be re-evaluated per duplicate row
      .select(col("source"), md5(col("text")).as("h"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        approx_count_distinct(col("h"), 0.02).as("approx_unique_docs"),
        countDistinct(col("h")).as("exact_unique_docs"))
      // the q100 contract device: the HLL++ ESTIMATE is
      // engine-specific (sketches differ across engines), so the card
      // states the guarantee it must earn — |approx − exact| within
      // 3·rsd of exact — as a boolean the oracle pins TRUE, next to
      // the exact count both engines recompute. The estimate itself
      // stays available via the aggregate; the driver-checked row is
      // the contract.
      .select(col("source"), col("n_docs"), col("exact_unique_docs"),
        (abs(col("approx_unique_docs") - col("exact_unique_docs"))
          .cast("double") <=
          lit(0.06) * col("exact_unique_docs").cast("double"))
          .as("within_band"))
      .orderBy(col("source"))

  /** Unicode canonicalization sweep — the normalize step every
    * pretraining pipeline runs before dedup/tokenization (composed
    * NFC forms, ROOT-locale lowercase, whitespace-run collapse), as
    * ONE codegen'd pass per row ([[graft.plans.NormalizeTextExpr]]).
    * The corpus is ASCII, so each doc gets a deterministic messy
    * suffix (composed É / decomposed e+combining acute / ligature /
    * tabs, picked by doc_id) and the oracle proves DuckDB's
    * nfc_normalize+lower agree byte-for-byte with the JDK pipeline. */
  def normalizeCorpus(docs: DataFrame): DataFrame = {
    // literals carry the raw codepoints: case 0 composed U+00C9 É,
    // case 1 DECOMPOSED e+U+0301 (so NFC genuinely composes) + U+FB01 ﬁ
    val messy = when(col("doc_id") % 3 === 0, lit("CAFÉ  Nrº 5"))
      .when(col("doc_id") % 3 === 1, lit("Café ﬁne"))
      .otherwise(lit("  MiXeD   Case\tTAB"))
    docs.select(col("doc_id"),
      graft.plans.FastOps.normalizeText(
        concat(col("text"), lit(" "), messy)).as("clean"))
      .orderBy(col("doc_id"))
  }

  /** Stratified sampling by language — the training-mix rebalancer
    * (e.g. cap English at 20%, keep all of the low-resource strata),
    * via the salted-md5 threshold device rather than `sampleBy`:
    * Spark's seeded PRNG is engine-specific (rows-only for any
    * oracle) AND partition-sensitive, while `md5(seed-salt ∘ doc_id)
    * mod 10⁴ < ⌊frac·10⁴⌋` is a pure function of the row — any
    * engine replays the identical sample, membership never changes
    * as the corpus grows or repartitions, and per-stratum rates land
    * within binomial noise of the targets (the q134 device with its
    * own per-seed salt, so co-sampling correlation with the other
    * hash-sampled families is zero). `sampleBy` remains one
    * `.stat.sampleBy` call away for callers who genuinely want
    * per-run randomness; the library default is the reproducible
    * form. */
  def stratifiedSample(t: Tables,
      fractions: Map[String, Double] =
        Map("en" -> 0.2, "es" -> 1.0, "de" -> 1.0, "fr" -> 1.0,
          "zh" -> 1.0),
      seed: Long = 42L): DataFrame = {
    val spark = t.documents.sparkSession
    import spark.implicits._
    val dim = broadcast(fractions.toSeq
      .map { case (l, f) => (l, math.floor(f * 10000).toLong) }
      .toDF("lang", "keep_below"))
    val bucket = conv(substring(md5(concat_ws("", lit(s"smix$seed:"),
      col("doc_id").cast("string"))), 1, 8), 16, 10).cast("long") % 10000
    t.documents.join(dim, Seq("lang"))
      .filter(bucket < col("keep_below"))
      .select(col("doc_id"), col("lang"), col("source"))
      .orderBy(col("doc_id"))
  }

  /** Deterministic stratified sample: per-stratum keep-rates applied
    * by hashing the stable doc_id — the reproducible twin of
    * [[stratifiedSample]] (whose engine-specific PRNG the oracle
    * cannot replay). A doc's membership never changes as the corpus
    * grows, any engine recomputes the identical sample (md5 is md5
    * everywhere), and per-stratum rates land within binomial noise of
    * the targets. Keep-rates are integer per-10000 thresholds so both
    * engines compare integers, never floats. The hash input carries a
    * `strat:` salt so sample membership stays INDEPENDENT of the
    * `datasetSplit` buckets (q101 hashes the bare doc_id — reusing the
    * same hash would correlate the sample with the train/val/test
    * split). Pure narrow projection + one broadcast dim join: no
    * shuffle at any scale. */
  def hashStratifiedSample(docs: DataFrame,
      keepPer10k: Seq[(String, Int)] = Seq("en" -> 2000, "es" -> 5000,
        "de" -> 10000, "fr" -> 10000, "zh" -> 10000)): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val dim = broadcast(keepPer10k.toDF("lang", "keep_below"))
    val bucket = conv(substring(md5(concat_ws("", lit("strat:"),
      col("doc_id").cast("string"))), 1, 8), 16, 10).cast("long") % 10000
    docs.join(dim, Seq("lang"))
      .filter(bucket < col("keep_below"))
      .select(col("doc_id"), col("lang"), col("source"))
      .orderBy(col("doc_id"))
  }

  /** Exactly-k-per-source deterministic EVAL HOLDOUT — the
    * fixed-SIZE counterpart to [[hashStratifiedSample]]'s fixed-RATE
    * slice: an eval suite needs "exactly k docs from every source"
    * (comparable per-source metrics, bounded benchmark cost), chosen
    * by a salted-hash order so the pick is a property of the data,
    * not of partitioning ("eval:" salt — independent of the split/
    * strat/wsamp hash families). Sources with fewer than k docs keep
    * everything — row_number semantics, no padding.
    *
    * The naive form is a per-source row_number window ≤ k — which
    * sorts a 50 TB source in one partition. This routes through the
    * [[graft.plans.TopK]] custom physical operator instead: k-bounded
    * heaps per source BEFORE the shuffle, so only ≤ k·partitions
    * candidate rows cross the exchange and no full sort exists
    * anywhere. The oracle states the avoided window verbatim —
    * passing it proves the custom operator's row_number semantics on
    * a second table and key shape (q06f pins it on orders). */
  def evalHoldoutPerSource(docs: DataFrame, k: Int = 5): DataFrame =
    graft.plans.TopK.perKey(
      docs.select(col("doc_id"), col("source"),
        md5(concat(lit("eval:"), col("doc_id").cast("string")))
          .as("k_eval")),
      Seq("source"),
      Seq("k_eval" -> false, "doc_id" -> false),
      k = k)
      .select(col("doc_id"), col("source"), col("k_eval"))
      .orderBy(col("doc_id"))

  /** Quality-WEIGHTED deterministic sampling: each document is kept
    * with probability proportional to its [[qualityScores]] score —
    * the data-mixing move that up-samples high-quality text (the
    * GPT-3 curation step, Brown et al. 2020, arXiv:2005.14165 §2.2,
    * samples filtered corpora in proportion to quality), made
    * REPRODUCIBLE: keep iff `hash(doc_id) mod 10000 <
    * floor(quality · 10000 · scale)`. Both sides of the comparison
    * are integers — the md5-prefix bucket is the q101/q134 portable
    * hash (with its own `wsamp:` salt, so membership is independent
    * of the split and stratified-sample buckets), and the threshold
    * is exact because `quality` is bit-identical cross-engine (the
    * q22 oracle pins it) and ·10⁴·scale + floor are exact IEEE ops
    * on those bits. Pure narrow projection — no shuffle, no RNG
    * state, membership stable as the corpus grows. */
  def weightedQualitySample(t: Tables, scale: Double = 0.5): DataFrame = {
    val toks = tokens(col("text"))
    val nTokens = size(toks)
    val ttr = size(array_distinct(toks)).cast("double") / nTokens
    val stopRatio =
      size(filter(toks, w => w === "a" || w === "the")).cast("double") /
        nTokens
    val quality = qualityScore(nTokens, ttr, stopRatio)
    val bucket = conv(substring(md5(concat_ws("", lit("wsamp:"),
      col("doc_id").cast("string"))), 1, 8), 16, 10).cast("long") % 10000
    t.documents
      .select(col("doc_id"), col("lang"), col("source"),
        quality.as("quality"), bucket.as("bucket"))
      .filter(col("bucket") <
        floor(col("quality") * lit(10000.0) * lit(scale)))
      .select(col("doc_id"), col("lang"), col("source"), col("quality"))
      .orderBy(col("doc_id"))
  }

  /** Token-budget batch packing: documents in doc_id order are packed
    * greedily into batches of at most ~`budget` tokens (running
    * cumulative token count, batch = floor(cum / budget)) — the shape
    * used to build context-length-bounded training shards.
    *
    * Two-phase distributed prefix sum (no global single-reducer
    * window): range-partition by doc_id, cumulative-sum WITHIN each
    * partition in parallel, then add each partition's starting offset
    * (a prefix over the per-partition totals — rows = #partitions, so
    * the tiny global window there is O(parallelism), not O(data)).
    * Range partitioning orders partition ids by doc_id range, so
    * local_cum + offset equals the global running sum exactly —
    * identical greedy semantics, oracle-checkable, and the heavy
    * window runs on all cores. */
  def tokenBatches(t: Tables, budget: Int = 5000,
      numShards: Int = 32): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // shard id is a pure function of doc_id (contiguous id ranges), so
    // shard order == doc_id order and ONE hash shuffle clusters the
    // window. Dense ids -> even shards; a skewed id space would call
    // for repartitionByRange instead (same two-phase algebra).
    val counted = t.documents
      .select(col("doc_id"), size(tokens(col("text"))).as("n_tokens"))
    val bounds = counted.agg(
      (floor(max(col("doc_id")) / numShards) + 1).as("shard_w"))
    val sharded = counted.crossJoin(broadcast(bounds))
      .withColumn("shard_id", floor(col("doc_id") / col("shard_w")))
      .drop("shard_w")
    val wLocal = Window.partitionBy(col("shard_id"))
      .orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val local = sharded
      .withColumn("local_cum", sum(col("n_tokens")).over(wLocal))
    // per-shard totals: #rows == numShards, so the unpartitioned
    // prefix window below is over a provably tiny relation
    val wOffsets = Window.orderBy(col("shard_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = sharded.groupBy(col("shard_id"))
      .agg(sum(col("n_tokens")).as("shard_total"))
      .select(col("shard_id"),
        coalesce(sum(col("shard_total")).over(wOffsets), lit(0L))
          .as("shard_offset"))
    local
      .join(broadcast(offsets), Seq("shard_id"))
      .withColumn("cum_tokens", col("local_cum") + col("shard_offset"))
      .withColumn("batch_id",
        floor((col("cum_tokens") - 1) / budget).cast("long"))
      .select(col("doc_id"), col("n_tokens"), col("cum_tokens"),
        col("batch_id"))
      .orderBy(col("doc_id"))
  }

  /** Packing-efficiency report over [[tokenBatches]] — the shard-build
    * audit a trainer reads before committing a corpus to fixed-budget
    * example packing: per batch, the document count, the packed token
    * mass, the covered doc-id range, and the FILL fraction
    * (tokens/budget — under 1 means padding waste, over 1 means a doc
    * straddled the boundary into this batch; both are the costs the
    * budget choice trades). One batch-keyed map-side-combinable
    * rollup on top of the two-phase prefix plan; batch count =
    * ⌈corpus tokens / budget⌉, so the output is corpus/budget-sized
    * and every stat is an exact integer plus one IEEE division. */
  def packingEfficiency(t: Tables, budget: Int = 5000,
      numShards: Int = 32): DataFrame =
    tokenBatches(t, budget, numShards)
      .groupBy(col("batch_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("batch_tokens"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"))
      .select(col("batch_id"), col("n_docs"), col("batch_tokens"),
        col("first_doc"), col("last_doc"),
        (col("batch_tokens").cast("double") / budget).as("fill"))
      .orderBy(col("batch_id"))

  /** Document LENGTH spectrum in power-of-two buckets — the
    * sequence-length histogram a packing/curriculum design reads
    * before choosing a context budget (how much of the corpus is
    * snippets vs long-form; what fraction of docs would truncate at
    * 2^k tokens). The bucket is the INTEGER bit length of the token
    * count (floor(log2 n) without touching floats — `floor(log2(·))`
    * flips at exact powers of two under 1-ulp libm differences, the
    * cross-engine trap this avoids), so every column is exact integer
    * algebra plus one IEEE division for the doc share. One map-side-
    * combinable groupBy to ≤ 64 rows. */
  /** Deterministic EVAL-WINDOW extraction — fixed-length token
    * windows at a hash-chosen offset per document (the held-out
    * loss-eval shape: score a `win`-token slice of each doc instead
    * of the whole thing, with the offset a pure function of doc_id
    * so every rerun and every engine picks the SAME slice). Docs
    * shorter than `win` are excluded — they'd bias a fixed-window
    * perplexity mean. Pure row-local projection: one hash, one
    * modulus over (n − win + 1) valid offsets, one array slice —
    * zero shuffle at any corpus size. */
  def evalWindows(docs: DataFrame, win: Int = 32): DataFrame = {
    require(win >= 1)
    val toks = tokens(col("text"))
    val n = size(toks)
    val h = conv(substring(md5(concat(lit("evalw:"),
      col("doc_id").cast("string"))), 1, 8), 16, 10).cast("long")
    val offset = (h % (n - lit(win) + 1).cast("long")).cast("int")
    docs.filter(size(tokens(col("text"))) >= win)
      .select(col("doc_id"), col("source"), n.as("n_tokens"),
        offset.as("offset"),
        array_join(slice(toks, offset + 1, lit(win)), " ")
          .as("window_text"))
      .orderBy(col("doc_id"))
  }

  def lengthSpectrum(docs: DataFrame): DataFrame = {
    val n = size(tokens(col("text"))).cast("long")
    val bucket = (length(bin(n)) - 1).cast("long")
    val t = broadcast(docs.agg(count(lit(1)).as("total_docs")))
    docs.select(bucket.as("log2_bucket"), n.as("n"))
      .groupBy(col("log2_bucket"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n")).as("n_tokens"),
        min(col("n")).as("min_len"), max(col("n")).as("max_len"))
      .crossJoin(t)
      .select(col("log2_bucket"), col("n_docs"), col("n_tokens"),
        col("min_len"), col("max_len"),
        (col("n_docs").cast("double") / col("total_docs").cast("double"))
          .as("doc_share"))
      .orderBy(col("log2_bucket"))
  }

  /** Length-bucketed fixed-context SEQUENCE PACKING — the padding-
    * waste minimizer of trainer batch assembly: every example slot is
    * `ctx` tokens, and a naive one-doc-per-slot batch wastes
    * (ctx − n)/ctx of the window as padding. Bucketing docs by
    * power-of-two CEILING length and packing `ctx div slot_len`
    * same-bucket docs per window bounds intra-slot padding below 50%
    * and makes the assignment pure integer arithmetic (first-fit-
    * decreasing would beat it by a few points but is inherently
    * sequential — this is the standard bucketed-batching trade).
    * Docs longer than ctx are capped (the truncation the ctx contract
    * implies). Output is the per-pack audit: slot width, capacity,
    * docs packed, real-token mass, and window fill (< 1 on the final
    * partial pack of a bucket and from intra-slot padding).
    *
    * Scale: the bucket is row-local ([[lengthSpectrum]]'s float-free
    * bit length); per-bucket ranks use the q222 hex-byte two-phase
    * device PARTITIONED BY bucket (local ranks per (bucket, shard),
    * offset prefix per bucket over ≤256 rows) — no global or
    * bucket-wide sort; the rollup is map-side-combinable to
    * corpus/ctx-sized output. All integers + one IEEE division; the
    * oracle states the avoided per-bucket window verbatim. */
  def lengthBucketPacking(docs: DataFrame, ctx: Int = 512,
      epoch: Int = 0): DataFrame =
    packAssignment(docs, ctx, epoch)
      .groupBy(col("slot_len"), col("pack_id"), col("capacity"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n")).as("sum_tokens"))
      .select(col("slot_len"), col("pack_id"), col("capacity"),
        col("n_docs"), col("sum_tokens"),
        (col("sum_tokens").cast("double") / lit(ctx).cast("double"))
          .as("fill"))
      .orderBy(col("slot_len"), col("pack_id"))

  /** The (doc → pack, slot) assignment shared by [[lengthBucketPacking]]
    * (which rolls it up into the pack audit) and [[packBoundaries]]
    * (which materializes it as the trainer's boundary manifest):
    * q240's two-phase per-bucket hash rank, one row per doc with its
    * pack id and its slot index inside the pack. */
  private def packAssignment(docs: DataFrame, ctx: Int,
      epoch: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val n = least(size(tokens(col("text"))), lit(ctx)).cast("long")
    val lb = when(n <= 1, lit(0))
      .otherwise(length(bin(n - 1))).cast("int")
    val base = docs.select(col("doc_id"), n.as("n"), lb.as("lb"))
      .withColumn("slot_len",
        least(expr("shiftleft(1L, lb)"), lit(ctx.toLong)))
      .withColumn("capacity", expr(s"${ctx}L div slot_len"))
      .withColumn("k", md5(concat(lit(s"pack$epoch:"),
        col("doc_id").cast("string"))))
      .withColumn("shard_id", conv(substring(col("k"), 1, 2), 16, 10)
        .cast("int"))
    val wLocal = Window.partitionBy(col("lb"), col("shard_id"))
      .orderBy(col("k"), col("doc_id"))
    val wOffsets = Window.partitionBy(col("lb")).orderBy(col("shard_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = base.groupBy(col("lb"), col("shard_id"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("lb"), col("shard_id"),
        coalesce(sum(col("cnt")).over(wOffsets), lit(0L)).as("off"))
    base
      .withColumn("local_rn", row_number().over(wLocal).cast("long"))
      .join(broadcast(offsets), Seq("lb", "shard_id"))
      .withColumn("pack_id", expr("(local_rn + off - 1L) div capacity"))
      .withColumn("slot_idx", expr("(local_rn + off - 1L) % capacity"))
  }

  /** Packed-window BOUNDARY manifest — what a trainer actually needs
    * from q240's packing decision: for every document, WHERE inside
    * its fixed-`ctx` window it lives, so the attention mask can reset
    * at document boundaries and the loss mask can zero the intra-slot
    * padding (packed pretraining's cross-document attention-isolation
    * bookkeeping — without it, tokens attend across unrelated packed
    * neighbors). One row per (pack, slot): token start/end offsets
    * (`[start_off, end_off)` is real text, `[end_off,
    * start_off + slot_len)` is padding) plus the per-slot pad count.
    *
    * Scale: the SAME q240 assignment plan (per-(bucket, hex-shard)
    * local ranks + broadcast bucket offsets — no bucket-wide sort);
    * the manifest is a row-local projection of integer slot algebra
    * on top, corpus-sized output written alongside the packed data. */
  def packBoundaries(docs: DataFrame, ctx: Int = 512,
      epoch: Int = 0): DataFrame =
    packAssignment(docs, ctx, epoch)
      .select(col("slot_len"), col("pack_id"), col("slot_idx"),
        col("doc_id"), col("n").as("n_tokens"),
        (col("slot_idx") * col("slot_len")).as("start_off"),
        (col("slot_idx") * col("slot_len") + col("n")).as("end_off"),
        (col("slot_len") - col("n")).as("pad"))
      .orderBy(col("slot_len"), col("pack_id"), col("slot_idx"))

  /** Curriculum packing: the corpus ordered best-quality-first and
    * packed greedily into fixed token-budget batches — the "easy/clean
    * data first" training schedule, materialized as (doc → batch_id)
    * exactly like [[tokenBatches]] materializes the id-ordered plan.
    *
    * Same two-phase prefix sum, different ordering: the running sum
    * must follow (quality DESC, doc_id), and quality is a
    * data-dependent double, so shards can't be a pure function of
    * doc_id. Instead shards are deterministic VALUE ranges over
    * [min,max] quality (the [[ScalePatterns.equiDepthHistogram]]
    * device): shard index is monotone in descending quality, equal
    * scores share a shard, so local window + driver-prefixed shard
    * offsets reproduce the global running sum EXACTLY — the result is
    * independent of how many shards the domain splits into, and no
    * window ever spans more than one shard's rows (the offsets prefix
    * runs over ≤ 2·parallelism totals). Token counts are integers, so
    * cum_tokens is exact and the oracle can state the plain global
    * window. */
  def curriculumBatches(documents: DataFrame, budget: Int = 5000)
      : DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = documents.sparkSession
    val toks = tokens(col("text"))
    val nTokens = size(toks)
    val ttr = size(array_distinct(toks)).cast("double") / nTokens
    val stopRatio =
      size(filter(toks, w => w === "a" || w === "the")).cast("double") /
        nTokens
    val scored = documents.select(col("doc_id"),
      nTokens.as("n_tokens"),
      qualityScore(nTokens, ttr, stopRatio).as("quality"))
    val m = scored.agg(min(col("quality")), max(col("quality"))).head()
    if (m.isNullAt(0)) // empty corpus: typed empty result, no NPE
      return scored.select(col("doc_id"), col("n_tokens"),
        col("quality"), lit(0L).as("cum_tokens"),
        lit(0L).as("batch_id")).limit(0)
    val (mn, mx) = (m.getDouble(0), m.getDouble(1))
    val parts = math.max(32, 2 * spark.sparkContext.defaultParallelism)
    val w = (mx - mn) / parts
    val shard =
      if (w > 0)
        least(floor((lit(mx) - col("quality")) / lit(w)), lit(parts - 1L))
          .cast("long")
      else lit(0L)
    val sharded = scored.withColumn("shard_id", shard)
    val wLocal = Window.partitionBy(col("shard_id"))
      .orderBy(col("quality").desc, col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val local = sharded
      .withColumn("local_cum", sum(col("n_tokens")).over(wLocal))
    val wOffsets = Window.orderBy(col("shard_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = sharded.groupBy(col("shard_id"))
      .agg(sum(col("n_tokens")).as("shard_total"))
      .select(col("shard_id"),
        coalesce(sum(col("shard_total")).over(wOffsets), lit(0L))
          .as("shard_offset"))
    local
      .join(broadcast(offsets), Seq("shard_id"))
      .withColumn("cum_tokens", col("local_cum") + col("shard_offset"))
      .withColumn("batch_id",
        floor((col("cum_tokens") - 1) / budget).cast("long"))
      .select(col("doc_id"), col("n_tokens"), col("quality"),
        col("cum_tokens"), col("batch_id"))
      .orderBy(col("cum_tokens"))
  }

  /** Per-source quality-ranked token-budget QUOTA — the RefinedWeb /
    * Gopher "cap any one domain" curation rule (Penedo et al. 2023,
    * arXiv:2306.01116 caps per-domain document share; Rae et al. 2021
    * §A1.1 subsamples dominant sources): within each source, documents
    * are ranked best-quality-first (tie: doc_id) and admitted while
    * the source's cumulative token mass has not yet reached `budget` —
    * the crossing document still ships, so every non-empty source
    * reaches ≥ min(budget, its total). Unlike [[graft.operators
    * .CorpusSignals.waterfillSample]] (a RANDOM hash-slice realizing a
    * global allocation), the quota is deterministic and quality-
    * greedy: a 50 TB crawl contributes its best `budget` tokens, not a
    * random sample.
    *
    * Scale: the running sum must follow (quality DESC, doc_id) WITHIN
    * each source, and a single source can be most of the corpus, so a
    * plain per-source window is a 50 TB single-partition sort. Same
    * fix as [[curriculumBatches]], applied per group: deterministic
    * quality-VALUE-range shards inside each source (shard index
    * monotone in descending quality, computed from a broadcast
    * |sources|-row min/max rollup), local windows over (source,
    * shard), and per-(source,shard) offsets whose prefix window is
    * PARTITIONED BY source over ≤ 2·parallelism rows per source. All
    * integer token arithmetic — the oracle states the plain
    * per-source global window and matches hash-exactly. */
  def sourceQuota(documents: DataFrame, budget: Long = 600L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = documents.sparkSession
    val toks = tokens(col("text"))
    val nTokens = size(toks)
    val ttr = size(array_distinct(toks)).cast("double") / nTokens
    val stopRatio =
      size(filter(toks, w => w === "a" || w === "the")).cast("double") /
        nTokens
    val scored = documents.select(col("doc_id"), col("source"),
      nTokens.cast("long").as("n_tokens"),
      qualityScore(nTokens, ttr, stopRatio).as("quality"))
    val parts = math.max(32, 2 * spark.sparkContext.defaultParallelism)
    // per-source quality range — |sources| rows, broadcast back; an
    // empty corpus yields an empty rollup (no driver head(), no NPE)
    val ranges = scored.groupBy(col("source"))
      .agg(min(col("quality")).as("q_min"), max(col("quality")).as("q_max"))
    val width = (col("q_max") - col("q_min")) / lit(parts)
    val sharded = scored.join(broadcast(ranges), Seq("source"))
      .withColumn("shard_id",
        when(width > 0,
          least(floor((col("q_max") - col("quality")) / width),
            lit(parts - 1L)).cast("long"))
          .otherwise(lit(0L)))
      .drop("q_min", "q_max")
    val wLocal = Window.partitionBy(col("source"), col("shard_id"))
      .orderBy(col("quality").desc, col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val wOffsets = Window.partitionBy(col("source")).orderBy(col("shard_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = sharded.groupBy(col("source"), col("shard_id"))
      .agg(sum(col("n_tokens")).as("shard_total"))
      .select(col("source"), col("shard_id"),
        coalesce(sum(col("shard_total")).over(wOffsets), lit(0L))
          .as("shard_offset"))
    sharded
      .withColumn("local_cum", sum(col("n_tokens")).over(wLocal))
      .join(broadcast(offsets), Seq("source", "shard_id"))
      .withColumn("cum_tokens", col("local_cum") + col("shard_offset"))
      .filter(col("cum_tokens") - col("n_tokens") < budget)
      .select(col("doc_id"), col("source"), col("n_tokens"),
        col("quality"), col("cum_tokens"))
      .orderBy(col("doc_id"))
  }

  /** Statistical language-model fluency scoring — the KenLM-style
    * quality filter of a pretraining pipeline (CCNet, Wenzek et al.
    * 2020, arXiv:1911.00359, scores documents with an n-gram LM and
    * filters the tail), with the model TRAINED IN-ENGINE on the same
    * corpus: add-one-smoothed bigram conditional probabilities
    * P(w2|w1) = (c(w1,w2)+1) / (c(w1)+V), and each document scored by
    * its mean conditional probability (high = predictable/fluent,
    * low = unusual word sequences). Probability — not log-prob — on
    * purpose: every per-bigram term is one IEEE-exact integer-ratio
    * division, so the score is bit-comparable across engines, while
    * ln() is not correctly rounded and differs between libms. The
    * per-document mean folds over the position-sorted list (the q127
    * determinism pattern; lists are single-document-sized).
    *
    * Scale: unigram/bigram counts are token-order groupBys (partial-
    * aggregated map-side, so hot words combine before the shuffle);
    * scoring joins each bigram occurrence to its two count relations
    * on their natural keys; V broadcasts as one row. No stage exceeds
    * O(corpus tokens). */
  def bigramFluency(docs: DataFrame): DataFrame =
    bigramFluencyOn(docs, docs)

  /** Interpolated Kneser-Ney bigram fluency (Kneser & Ney 1995; the
    * smoothing family KenLM ships and CCNet deploys) — the upgrade
    * over [[bigramFluency]]'s add-one: absolute discounting with the
    * mass re-routed through CONTINUATION probability
    * `P_KN(w2|w1) = max(c12−D,0)/c1 + D·N1+(w1·)/c1 · Pc(w2)`,
    * `Pc(w2) = (N1+(·w2)+1)/(B+V)` (add-one-floored continuation so
    * unseen words still score), D = `discount`. The signature KN win:
    * a word frequent ONLY inside one collocation ("francisco" after
    * "san") has high raw count but N1+(·w2)=1, so the backoff demotes
    * it in novel contexts where add-one overrates it — the spec pins
    * exactly that inversion. Unseen conditioning words back off to
    * Pc alone.
    *
    * Exactness: every model quantity is an integer count; the
    * probability is ONE fixed-shape expression over single casts
    * (the q140 device), and per-doc averaging is the position-ordered
    * fold. Scale: counts are vocab-/bigram-vocab-sized partial aggs
    * (bc is localCheckpointed once for its four consumers); scoring
    * joins are model-keyed — the crawl side streams. */
  def kneserNeyFluencyOn(model: DataFrame, score: DataFrame,
      discount: Double = 0.75): DataFrame = {
    val mtoks = model.select(split(col("text"), " ").as("t"))
    val uni = mtoks.select(explode(col("t")).as("w1"))
      .groupBy(col("w1")).agg(count(lit(1)).as("c1"))
    val vocab = uni.agg(count(lit(1)).as("v"))
    val bc = mtoks.filter(size(col("t")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, size(t)-1), " +
          "i -> struct(element_at(t, i) AS w1, element_at(t, i+1) AS w2))"))
        .as("bg"))
      .select(col("bg.w1").as("w1"), col("bg.w2").as("w2"))
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
      .localCheckpoint()
    val nfw = bc.groupBy(col("w1")).agg(count(lit(1)).as("nfw"))
    val npre = bc.groupBy(col("w2")).agg(count(lit(1)).as("npre"))
    val btot = bc.agg(count(lit(1)).as("b"))
    val bi = score
      .select(col("doc_id"), split(col("text"), " ").as("t"))
      .filter(size(col("t")) >= 2)
      .select(col("doc_id"), posexplode(expr(
        "transform(sequence(1, size(t)-1), " +
          "i -> struct(element_at(t, i) AS w1, element_at(t, i+1) AS w2))")))
      .select(col("doc_id"), (col("pos") + 1).cast("long").as("p"),
        col("col.w1").as("w1"), col("col.w2").as("w2"))
    val pc = (coalesce(col("npre"), lit(0L)) + 1).cast("double") /
      (col("b") + col("v")).cast("double")
    val c1d = col("c1").cast("double")
    val probs = bi.join(bc, Seq("w1", "w2"), "left")
      .join(uni, Seq("w1"), "left")
      .join(nfw, Seq("w1"), "left")
      .join(npre, Seq("w2"), "left")
      .crossJoin(broadcast(vocab))
      .crossJoin(broadcast(btot))
      .select(col("doc_id"), col("p"),
        when(col("c1").isNotNull,
          greatest(coalesce(col("c12"), lit(0L)).cast("double") -
            lit(discount), lit(0.0)) / c1d +
            lit(discount) * coalesce(col("nfw"), lit(0L)).cast("double") /
              c1d * pc)
          .otherwise(pc).as("prob"))
    val scored = probs.groupBy(col("doc_id")).agg(
      count(lit(1)).as("n_bigrams"),
      (aggregate(
        array_sort(collect_list(struct(col("p"), col("prob")))),
        lit(0.0),
        (acc, x) => acc + x.getField("prob")) / count(lit(1)))
        .as("avg_prob"))
    score.select(col("doc_id"))
      .join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        col("avg_prob"))
      .orderBy(col("doc_id"))
  }

  /** Self-trained form of [[kneserNeyFluencyOn]] (the q140 shape). */
  def kneserNeyFluency(docs: DataFrame): DataFrame =
    kneserNeyFluencyOn(docs, docs)

  /** HELD-OUT form of [[bigramFluency]] — the model trains on one
    * corpus and scores ANOTHER, which is the actual CCNet deployment
    * shape (the KenLM trains on the clean target domain, e.g.
    * Wikipedia, and scores the crawl). Unseen words and bigrams get
    * the add-one floor their missing counts imply — COALESCE(c,0)
    * before the same IEEE division, so P(w2|w1) = 1/(c(w1)+V) for an
    * unseen bigram and 1/V for an unseen conditioning word — the
    * smoothing doing exactly its out-of-vocabulary job, still
    * bit-exact cross-engine. With `model eq score` the left joins
    * never miss (every scored bigram is a model bigram), so
    * [[bigramFluency]] delegates here and q140 pins the shared
    * kernel. */
  def bigramFluencyOn(model: DataFrame, score: DataFrame): DataFrame = {
    val mtoks = model.select(split(col("text"), " ").as("t"))
    val uni = mtoks.select(explode(col("t")).as("w1"))
      .groupBy(col("w1")).agg(count(lit(1)).as("c1"))
    val vocab = uni.agg(count(lit(1)).as("v"))
    val bc = mtoks.filter(size(col("t")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, size(t)-1), " +
          "i -> struct(element_at(t, i) AS w1, element_at(t, i+1) AS w2))"))
        .as("bg"))
      .select(col("bg.w1").as("w1"), col("bg.w2").as("w2"))
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
    val bi = score
      .select(col("doc_id"), split(col("text"), " ").as("t"))
      .filter(size(col("t")) >= 2)
      .select(col("doc_id"), posexplode(expr(
        "transform(sequence(1, size(t)-1), " +
          "i -> struct(element_at(t, i) AS w1, element_at(t, i+1) AS w2))")))
      .select(col("doc_id"), (col("pos") + 1).cast("long").as("p"),
        col("col.w1").as("w1"), col("col.w2").as("w2"))
    val probs = bi.join(bc, Seq("w1", "w2"), "left")
      .join(uni, Seq("w1"), "left")
      .crossJoin(broadcast(vocab))
      .select(col("doc_id"), col("p"),
        ((coalesce(col("c12"), lit(0L)) + 1).cast("double") /
          (coalesce(col("c1"), lit(0L)) + col("v")).cast("double"))
          .as("prob"))
    val scored = probs.groupBy(col("doc_id")).agg(
      count(lit(1)).as("n_bigrams"),
      (aggregate(
        array_sort(collect_list(struct(col("p"), col("prob")))),
        lit(0.0),
        (acc, x) => acc + x.getField("prob")) / count(lit(1)))
        .as("avg_prob"))
    score.select(col("doc_id"))
      .join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        col("avg_prob"))
      .orderBy(col("doc_id"))
  }

  /** Row-LOCAL form of [[bigramFluencyOn]] — the STREAMING twin: the
    * trained model (unigram counts, bigram counts, V) collapses into
    * broadcast sorted parallel arrays (the [[graft.operators
    * .CorpusSignals.contaminationPerDoc]] device — the model side is
    * the small clean target slice by construction, Zipf-bounded word
    * types + its own token count, the same driver-state class as
    * k-means centroids), and each document computes its whole score
    * inside ONE udf projection: same per-bigram IEEE division, same
    * ascending-position addition order as the join form's sorted
    * fold, so the two forms are BIT-identical (spec-pinned, and q213
    * registers this form against q212's oracle). No join, no
    * aggregation, no state — it runs append-mode on an unbounded
    * readStream exactly as on a batch frame. */
  def fluencyScoreLocal(model: DataFrame, score: DataFrame): DataFrame = {
    val mtoks = model.select(split(col("text"), " ").as("t"))
    val uniRows = mtoks.select(explode(col("t")).as("w1"))
      .groupBy(col("w1")).agg(count(lit(1)).as("c1"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).sortBy(_._1)
    val bcRows = mtoks.filter(size(col("t")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, size(t)-1), " +
          "i -> concat(element_at(t, i), ' ', element_at(t, i+1)))"))
        .as("bg"))
      .groupBy(col("bg")).agg(count(lit(1)).as("c12"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).sortBy(_._1)
    val v = uniRows.length.toLong
    val bcast = score.sparkSession.sparkContext.broadcast(
      (uniRows.map(_._1), uniRows.map(_._2),
        bcRows.map(_._1), bcRows.map(_._2)))
    val scoreUdf = udf((text: String) => {
      val t = text.split(" ", -1) // same regex semantics as F.split
      if (t.length < 2) None
      else {
        val (uw, uc, bw, bc2) = bcast.value
        var sum = 0.0
        var i = 0
        while (i + 1 < t.length) { // ascending position = the fold order
          val bj = java.util.Arrays.binarySearch(
            bw.asInstanceOf[Array[AnyRef]], t(i) + " " + t(i + 1))
          val c12 = if (bj >= 0) bc2(bj) else 0L
          val uj = java.util.Arrays.binarySearch(
            uw.asInstanceOf[Array[AnyRef]], t(i))
          val c1 = if (uj >= 0) uc(uj) else 0L
          sum += (c12 + 1).toDouble / (c1 + v).toDouble
          i += 1
        }
        Some((t.length - 1).toLong, sum / (t.length - 1).toDouble)
      }
    })
    score.select(col("doc_id"), scoreUdf(col("text")).as("s"))
      .select(col("doc_id"),
        coalesce(col("s._1"), lit(0L)).as("n_bigrams"),
        col("s._2").as("avg_prob"))
  }

  /** Hashed-tf document vectors — in-engine featurization carrying the
    * TEXT corpus into the VECTOR operator family (cosine pairs, ANN,
    * [[Similarity.embeddingDedup]], [[Similarity.nearestCentroid]]):
    * x_i = count of tokens hashing (md5-prefix mod dim — the q101
    * PORTABLE hash, so the whole derived-vector pipeline stays
    * oracle-checkable) to bucket i, raw counts as float (cosine
    * normalizes downstream). Bag-of-words by construction — token
    * ORDER never enters — so a shuffled near-copy lands on the
    * IDENTICAL vector, which is exactly the invariance a semantic
    * near-dup key wants. Two partial-aggregatable groupBys; per-doc
    * state bounded by dim. */
  def docVectors(docs: DataFrame, dim: Int = 64): DataFrame =
    docs.select(col("doc_id").as("vec_id"),
        explode(tokens(col("text"))).as("w"))
      .select(col("vec_id"),
        (conv(substring(md5(col("w")), 1, 8), 16, 10).cast("long")
          % dim).cast("int").as("b"))
      .groupBy(col("vec_id"), col("b")).agg(count(lit(1)).as("c"))
      .groupBy(col("vec_id"))
      .agg(map_from_entries(collect_list(struct(col("b"), col("c"))))
        .as("m"))
      .select(col("vec_id"), expr(
        s"transform(sequence(0, ${dim - 1}), " +
          "i -> CAST(coalesce(element_at(m, i), 0L) AS FLOAT))")
        .as("embedding"))

  /** Content fingerprints per document (md5 + sha256 + short prefix). */
  def fingerprints(t: Tables): DataFrame =
    t.documents.select(
      col("doc_id"),
      md5(col("text")).as("fp_md5"),
      sha2(col("text"), 256).as("fp_sha256"),
      substring(md5(col("text")), 1, 8).as("fp_short"))
      .orderBy(col("doc_id"))

  /** Gopher-style rule filter (Rae et al. 2021 §A1.1, arXiv:
    * 2112.11446): each document is kept only if EVERY hard rule
    * passes, and the failures are named — a curation run needs the
    * per-rule drop accounting (what fraction died to which rule) as
    * much as the surviving set. Rules, tuned to this corpus's token
    * distribution the way Gopher's were tuned to MassiveWeb's:
    * word count in [`minWords`, `maxWords`], mean word length in
    * [`minMeanLen`, `maxMeanLen`], at least one stopword, type-token
    * ratio ≥ `minTtr` (the repetition proxy — the full Gopher
    * repetition battery is q91).
    *
    * Everything is a pure projection (no shuffle at all): mean word
    * length uses the single-spaced-text identity (chars − spaces) /
    * words as ONE integer-derived double division, and TTR is
    * distinct/count — both bit-identical cross-engine. `keep` plus a
    * deterministic comma-joined `drop_reasons` string make the output
    * self-auditing; downstream composes `.filter(col("keep"))`. */
  def gopherRules(docs: DataFrame,
      minWords: Int = 20, maxWords: Int = 80,
      minMeanLen: Double = 4.0, maxMeanLen: Double = 5.0,
      minTtr: Double = 0.45): DataFrame = {
    val toks = tokens(col("text"))
    val n = size(toks)
    val meanLen = (length(col("text")) - n + 1).cast("double") /
      n.cast("double")
    val ttr = size(array_distinct(toks)).cast("double") / n.cast("double")
    val hasStop = arrays_overlap(toks,
      array(lit("the"), lit("a"), lit("an"), lit("of"), lit("to")))
    docs.select(col("doc_id"), n.as("n_words"),
        meanLen.as("mean_word_len"), ttr.as("ttr"),
        hasStop.as("has_stopword"))
      .withColumn("drop_reasons", concat_ws(",",
        when(col("n_words") < minWords, lit("too_short")),
        when(col("n_words") > maxWords, lit("too_long")),
        when(col("mean_word_len") < minMeanLen ||
          col("mean_word_len") > maxMeanLen, lit("word_len")),
        when(!col("has_stopword"), lit("no_stopword")),
        when(col("ttr") < minTtr, lit("repetitive"))))
      .withColumn("keep", col("drop_reasons") === "")
  }

  /** Blocklist filter (the C4 "bad words" pass, Raffel et al. 2020
    * §2.2): flag every document containing a blocked term, with the
    * matched terms in BLOCKLIST order (a filter over the list literal
    * — a total, engine-independent order where an intersect's order
    * would be implementation-defined) — curation needs the audit
    * trail ("dropped for which words"), not just the survivors. The
    * blocklist is model-sized and inlined as an array literal, so the
    * scan is a pure narrow projection (membership filter per row, no
    * join, no shuffle); at 100 TB with a large blocklist this becomes
    * a broadcast join against the exploded token stream — same
    * result, still no wide exchange. */
  def blocklistFilter(docs: DataFrame,
      blocked: Seq[String] = Seq("spark", "vector", "dup")): DataFrame = {
    val blockArr = array(blocked.map(lit): _*)
    docs.select(col("doc_id"),
        filter(blockArr,
          b => array_contains(tokens(col("text")), b)).as("matched0"))
      .select(col("doc_id"),
        array_join(col("matched0"), ",").as("matched_terms"),
        (size(col("matched0")) > 0).as("flagged"))
  }

  /** Quality-screen AGREEMENT matrix — the redundancy/complementarity
    * diagnostic a curation stack needs before adding or retiring a
    * screen: for every pair of per-doc keep verdicts (Gopher rules,
    * blocklist pass, OOV-coverage pass), the 2×2 confusion counts and
    * the Jaccard of their DROP sets. Two screens with drop-Jaccard
    * near 1 are redundant (retire one, save its scan cost); near 0
    * they catch disjoint failure classes and both earn their place —
    * the ablation table of C4/Gopher/RefinedWeb papers as a query.
    *
    * Exactness: all three verdicts are oracle-exact booleans (their
    * SQL twins are now SHARED literals so screen and matrix cannot
    * drift); cells are integer counts; drop-Jaccard is one division
    * guarded by the empty-union NULL. Scale: three narrow screen
    * projections joined on doc_id, one |screens|²-row rollup — the
    * explode multiplies rows by |screens| (=3), absorbed map-side. */
  def screenAgreement(docs: DataFrame, oovMax: Double = 0.6): DataFrame = {
    val g = gopherRules(docs)
      .select(col("doc_id"), col("keep").as("k_gopher"))
    val b = blocklistFilter(docs)
      .select(col("doc_id"), (!col("flagged")).as("k_blocklist"))
    val o = oovRate(docs)
      .select(col("doc_id"), (col("oov_rate") <= oovMax).as("k_oov"))
    val verdicts = g.join(b, Seq("doc_id")).join(o, Seq("doc_id"))
      .select(col("doc_id"), explode(array(
        struct(lit("blocklist").as("screen"), col("k_blocklist").as("keep")),
        struct(lit("gopher").as("screen"), col("k_gopher").as("keep")),
        struct(lit("oov").as("screen"), col("k_oov").as("keep")))).as("s"))
      .select(col("doc_id"), col("s.screen").as("screen"),
        col("s.keep").as("keep"))
    val cells = verdicts
      .select(col("doc_id"), col("screen").as("screen_a"),
        col("keep").as("ka"))
      .join(verdicts.select(col("doc_id"), col("screen").as("screen_b"),
        col("keep").as("kb")), Seq("doc_id"))
      .filter(col("screen_a") < col("screen_b"))
      .groupBy(col("screen_a"), col("screen_b"))
      .agg(
        count(when(col("ka") && col("kb"), 1)).as("both_keep"),
        count(when(col("ka") && !col("kb"), 1)).as("a_keeps_b_drops"),
        count(when(!col("ka") && col("kb"), 1)).as("a_drops_b_keeps"),
        count(when(!col("ka") && !col("kb"), 1)).as("both_drop"))
    val unionDrops = col("a_keeps_b_drops") + col("a_drops_b_keeps") +
      col("both_drop")
    cells.select(col("screen_a"), col("screen_b"), col("both_keep"),
        col("a_keeps_b_drops"), col("a_drops_b_keeps"), col("both_drop"),
        when(unionDrops > 0,
          col("both_drop").cast("double") / unionDrops.cast("double"))
          .as("drop_jaccard"))
      .orderBy(col("screen_a"), col("screen_b"))
  }

  /** Out-of-vocabulary rate against the corpus's own top-`v` terms —
    * the tokenizer-coverage diagnostic ("how much of each document
    * does a size-v vocab explain"). The vocab is derived, not given:
    * top-v tokens by corpus frequency with a total (count, token)
    * tie-break so the cut is deterministic in both engines. Counting
    * is one O(tokens) shuffle; the vocab is v rows, broadcast into a
    * left join against the token stream (never a filter pushed into a
    * collect); OOV rate is exact-integer division. */
  def oovRate(docs: DataFrame, v: Int = 20): DataFrame = {
    val toks = docs.select(col("doc_id"),
      explode(tokens(col("text"))).as("tok"))
    val vocab = toks.groupBy(col("tok")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("tok")).limit(v)
      .select(col("tok"), lit(1).as("in_vocab"))
    toks.join(broadcast(vocab), Seq("tok"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("in_vocab").isNull, 1L).otherwise(0L)).as("n_oov"))
      .select(col("doc_id"), col("n_tokens"), col("n_oov"),
        (col("n_oov").cast("double") / col("n_tokens").cast("double"))
          .as("oov_rate"))
      .orderBy(col("doc_id"))
  }

  /** Template/boilerplate detection by shared leading k-token prefix:
    * machine-generated corpora betray themselves by thousands of
    * documents opening with the same words. Groups documents on their
    * first `k` tokens and reports every prefix shared by ≥ `minDocs`
    * docs with the member count and canonical (smallest) doc_id —
    * the candidate generator a template-stripping pass consumes. One
    * hash shuffle on the prefix (map-side combinable); the prefix is
    * at most k tokens, never the document. */
  def templatePrefixes(docs: DataFrame, k: Int = 5,
      minDocs: Long = 2L): DataFrame =
    docs.select(col("doc_id"),
        concat_ws(" ", slice(tokens(col("text")), 1, k)).as("prefix"))
      .groupBy(col("prefix"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("canonical_id"))
      .filter(col("n_docs") >= minDocs)
      .orderBy(col("prefix"))

  /** Per-document NEAREST-DUPLICATE report — the human-audit view of
    * a dedup run ("show me each flagged doc's closest neighbor"),
    * composed from [[sparseCosinePairs]]'s posting-list tier: the pair
    * set is symmetrized and each participating doc keeps its SINGLE
    * strongest neighbor (highest cosine, ties to the smallest neighbor
    * id) plus how many candidates it had. The per-doc argmax is a
    * partial-aggregatable min(struct(−cosine, neighbor, dot)) — the
    * q190 keep-best device, no window — so the rollup adds one
    * doc-keyed shuffle of pair-volume rows to q202's cost and nothing
    * else. Negating a double is exact, so min(−cosine) ≡ max(cosine)
    * bitwise and the row_number oracle replays the same choice. */
  def nearestDuplicates(docs: DataFrame, threshold: Double = 0.5,
      maxDf: Long = 20): DataFrame = {
    val pairs = sparseCosinePairs(docs, threshold, maxDf)
    val sym = pairs
      .select(col("d1").as("doc_id"), col("d2").as("neighbor"),
        col("dot"), col("cosine"))
      .unionByName(pairs.select(col("d2").as("doc_id"),
        col("d1").as("neighbor"), col("dot"), col("cosine")))
    sym.groupBy(col("doc_id"))
      .agg(
        min(struct((-col("cosine")).as("nc"), col("neighbor").as("nb"),
          col("dot").as("dt"))).as("b"),
        count(lit(1)).as("n_candidates"))
      .select(col("doc_id"), col("b.nb").as("neighbor"),
        col("b.dt").as("dot"), (-col("b.nc")).as("cosine"),
        col("n_candidates"))
      .orderBy(col("doc_id"))
  }

  /** Per-SOURCE robust calibration of the in-engine fluency score —
    * the fix for "quality scores are not comparable across sources"
    * (a crawl and a curated corpus have different score distributions,
    * so one global threshold over- or under-filters every source):
    * each scoreable doc gets its [[bigramFluency]] score re-expressed
    * as a robust z-score within its source, (score − median_src) /
    * MAD_src — median/MAD instead of mean/std so a source's outlier
    * tail cannot drag its own calibration (the q181 robustness
    * argument applied to corpus curation).
    *
    * Both per-source medians ride [[Describe.groupedExactQuantiles]]
    * (counts + distributed rank — never a per-group sort), the
    * |sources|-sized med/MAD maps come back as literal columns, and
    * the final score is two IEEE ops (subtract, divide) on values the
    * oracle reproduces bitwise — hash-exact end to end. MAD = 0
    * (constant-score source) yields NULL via the same nullif algebra
    * in both engines. */
  def calibratedFluency(docs: DataFrame): DataFrame = {
    val fl = bigramFluency(docs)
      .filter(col("avg_prob").isNotNull)
      .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
      .localCheckpoint() // scored once; feeds two quantile passes + output
    val med = Describe.groupedExactQuantiles(fl, "source",
      Seq("avg_prob"), Seq(0.5)).map { case ((g, _), v) => g -> v.head }
    val medExpr = try_element_at(
      map(med.toSeq.sortBy(_._1).flatMap { case (g, m) =>
        Seq(lit(g), lit(m)): Seq[org.apache.spark.sql.Column]
      }: _*), col("source"))
    val dev = fl.select(col("source"),
      abs(col("avg_prob") - medExpr).as("dev"))
    val mad = Describe.groupedExactQuantiles(dev, "source",
      Seq("dev"), Seq(0.5)).map { case ((g, _), v) => g -> v.head }
    val madExpr = try_element_at(
      map(mad.toSeq.sortBy(_._1).flatMap { case (g, m) =>
        Seq(lit(g), lit(m)): Seq[org.apache.spark.sql.Column]
      }: _*), col("source"))
    fl.select(col("doc_id"), col("source"), col("avg_prob"),
        medExpr.as("med"), madExpr.as("mad"))
      .withColumn("robust_z", (col("avg_prob") - col("med")) /
        when(col("mad") === 0.0, lit(null)).otherwise(col("mad")))
      .orderBy(col("doc_id"))
  }

  /** Per-document Simpson token diversity — the aggregate
    * repetitiveness signal complementing [[CorpusSignals
    * .repetitionSignals]]'s dup-word/top-bigram fractions: Simpson
    * index Σ(cᵢ/n)² over the doc's token counts (the probability two
    * random tokens match) and its inverse, the EFFECTIVE vocabulary
    * size n²/Σcᵢ² — low effective vocab = boilerplate/loops/gibberish
    * repetition regardless of which token repeats.
    *
    * The whole operator is ONE narrow projection (the q197
    * zero-shuffle shape): the token counts never leave the row —
    * Σcᵢ² comes from a run-length fold over the doc's SORTED token
    * array (extending a run from r to r+1 adds 2r+1), so there is no
    * (doc, token) explode, no shuffle, and the plan is codegen end to
    * end at any corpus size. All counts are exact integers and each
    * reported ratio is a single correctly-rounded IEEE division of
    * exactly-converted longs, so the relational GROUP-BY oracle
    * replays it hash-exact. */
  def tokenDiversity(docs: DataFrame): DataFrame = {
    val toks = tokens(col("text"))
    val z = struct(lit("").as("prev"), lit(0L).as("run"),
      lit(0L).as("sq"), lit(0L).as("types"))
    val folded = aggregate(array_sort(toks), z, (acc, x) =>
      when(acc.getField("run") > lit(0L) && x === acc.getField("prev"),
        struct(x.as("prev"),
          (acc.getField("run") + lit(1L)).as("run"),
          (acc.getField("sq") + acc.getField("run") * lit(2L) + lit(1L))
            .as("sq"),
          acc.getField("types").as("types")))
        .otherwise(struct(x.as("prev"), lit(1L).as("run"),
          (acc.getField("sq") + lit(1L)).as("sq"),
          (acc.getField("types") + lit(1L)).as("types"))))
    docs
      .select(col("doc_id"), size(toks).cast("long").as("n_tokens"),
        folded.getField("types").as("n_types"),
        folded.getField("sq").as("sum_sq"))
      .select(col("doc_id"), col("n_tokens"), col("n_types"), col("sum_sq"),
        (col("sum_sq").cast("double") /
          (col("n_tokens") * col("n_tokens")).cast("double")).as("simpson"),
        ((col("n_tokens") * col("n_tokens")).cast("double") /
          col("sum_sq").cast("double")).as("eff_vocab"))
    // no presentation sort here: the pure projection also runs as an
    // append-mode stream (q197 convention — registration orders it)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q218_token_diversity" ->
      ((s, d) => tokenDiversity(Tables(s, d).documents)
        .orderBy(col("doc_id"))),
    "q220_calibrated_fluency" ->
      ((s, d) => calibratedFluency(Tables(s, d).documents)),
    "q221_nearest_duplicates" ->
      ((s, d) => nearestDuplicates(Tables(s, d).documents)),
    "q174_gopher_rules" ->
      ((s, d) => gopherRules(Tables(s, d).documents)
        .orderBy(col("doc_id"))),
    "q178_blocklist_filter" ->
      ((s, d) => blocklistFilter(Tables(s, d).documents)
        .orderBy(col("doc_id"))),
    "q179_oov_rate" ->
      ((s, d) => oovRate(Tables(s, d).documents)),
    "q273_screen_agreement" ->
      ((s, d) => screenAgreement(Tables(s, d).documents)),
    "q175_template_prefixes" ->
      ((s, d) => templatePrefixes(Tables(s, d).documents)),
    "q20_token_stats" -> ((s, d) => tokenStats(Tables(s, d))),
    "q21_word_freq" -> ((s, d) => wordFrequencies(Tables(s, d))),
    "q289_zipf_profile" ->
      ((s, d) => zipfProfile(Tables(s, d).documents)),
    "q22_quality_scores" -> ((s, d) => qualityScores(Tables(s, d))),
    "q23_corpus_stats" -> ((s, d) => corpusStats(Tables(s, d))),
    "q24_dedup_exact" -> ((s, d) => dedupExact(Tables(s, d))),
    "q25_dedup_tokenset" -> ((s, d) => dedupTokenSet(Tables(s, d))),
    "q26_jaccard_pairs" -> ((s, d) => jaccardPairs(Tables(s, d).documents)),
    "q307_prefix_jaccard" -> ((s, d) =>
      prefixFilterJaccardPairs(Tables(s, d).documents)),
    "q269_containment_pairs" -> ((s, d) =>
      containmentPairs(Tables(s, d).documents)),
    "q274_containment_winnowed" -> ((s, d) =>
      containmentPairsWinnowed(Tables(s, d).documents)),
    "q27_fingerprints" -> ((s, d) => fingerprints(Tables(s, d))),
    "q65_cardinality_sketch" ->
      ((s, d) => corpusCardinalitySketch(Tables(s, d))),
    "q84_bpe_token_count" -> ((s, d) => bpeTokenCounts(Tables(s, d))),
    "q66_stratified_sample" -> ((s, d) => stratifiedSample(Tables(s, d))),
    "q134_hash_stratified" ->
      ((s, d) => hashStratifiedSample(Tables(s, d).documents)),
    "q239_eval_holdout" ->
      ((s, d) => evalHoldoutPerSource(Tables(s, d).documents)),
    "q240_length_packing" ->
      ((s, d) => lengthBucketPacking(Tables(s, d).documents)),
    "q256_pack_boundaries" ->
      ((s, d) => packBoundaries(Tables(s, d).documents)),
    "q164_weighted_sample" ->
      ((s, d) => weightedQualitySample(Tables(s, d))),
    "q67_token_batches" -> ((s, d) => tokenBatches(Tables(s, d))),
    "q225_packing_efficiency" ->
      ((s, d) => packingEfficiency(Tables(s, d))),
    "q230_length_spectrum" ->
      ((s, d) => lengthSpectrum(Tables(s, d).documents)),
    "q253_eval_windows" ->
      ((s, d) => evalWindows(Tables(s, d).documents)),
    "q129_normalize_text" ->
      ((s, d) => normalizeCorpus(Tables(s, d).documents)),
    "q140_bigram_fluency" ->
      ((s, d) => bigramFluency(Tables(s, d).documents)),
    "q271_kn_fluency" ->
      ((s, d) => kneserNeyFluency(Tables(s, d).documents)),
    // semantic near-dup over DERIVED doc vectors: text corpus routed
    // through the vector dedup stack (cosine pairs -> CC -> keep)
    // the derived vectors feed THREE consumers inside embeddingDedup
    // (both sides of the pair join + the final id frame); a
    // localCheckpoint materializes the explode+2-shuffle derivation
    // once instead of three times (same device as dupClusters'
    // rounds). Lifecycle: checkpoint blocks are persisted RDD blocks,
    // so the ContextCleaner unpersists them once the frame becomes
    // unreachable — repeated invocations do not pin storage forever.
    "q151_docvec_neardup" -> ((s, d) =>
      Similarity.embeddingDedup(
        docVectors(Tables(s, d).documents).localCheckpoint(),
        threshold = 0.95)),
    // the ORACLE-EXACT tier of q82: the identical dupClusters operator
    // (union-find / star rounds) but fed the exact-jaccard edge set
    // (q26) instead of MinHash candidates, so DuckDB can replay the
    // whole pipeline — edges by brute-force jaccard, components by
    // recursive transitive closure — and pin every (node, component
    // minimum) assignment bit-exactly, not just "rows > 0"
    "q156_jaccard_clusters" -> ((s, d) =>
      Dedup.dupClusters(jaccardPairs(Tables(s, d).documents)
          .select(col("d1"), col("d2")))
        .orderBy(col("doc_id"))),
    "q190_best_of_cluster" -> ((s, d) =>
      bestQualityRepresentatives(Tables(s, d).documents)),
    // the scale tier: LSH candidate edges, same collapse (rows-only —
    // MinHash is engine-specific; exact-dup agreement is spec-pinned)
    "q196_best_of_cluster_lsh" -> ((s, d) =>
      bestQualityRepresentativesLsh(Tables(s, d).documents)),
    "q191_curriculum_batches" -> ((s, d) =>
      curriculumBatches(Tables(s, d).documents)),
    "q236_source_quota" -> ((s, d) =>
      sourceQuota(Tables(s, d).documents)),
    "q202_sparse_cosine_pairs" -> ((s, d) =>
      sparseCosinePairs(Tables(s, d).documents)),
    "q299_postings_materialized" -> ((s, d) =>
      sparseCosinePairsMaterialized(s, d)),
    // the DURABLE postings twin (q338): same downstream, same oracle;
    // a fresh JVM re-declares the bucket spec and self-joins the
    // committed layout shuffle-free
    "q338_postings_atrest" -> ((s, d) =>
      sparseCosinePairsDurable(s, Tables(s, d).documents,
        graft.operators.Dedup.docsDurableDir("postings", d))),
    "q209_cluster_sizes" -> ((s, d) =>
      clusterSizeDistribution(Tables(s, d).documents)),
    // the CCNet deployment shape: LM trained on the clean target
    // slice (src0), scoring the crawl (everything else)
    "q212_heldout_fluency" -> ((s, d) => {
      val docs = Tables(s, d).documents
      bigramFluencyOn(docs.filter(col("source") === "src0"),
        docs.filter(col("source") =!= "src0"))
    }),
    // the row-local streaming twin, registered against the SAME
    // oracle — the udf kernel must reproduce the join form bit-exactly
    "q213_heldout_fluency_local" -> ((s, d) => {
      val docs = Tables(s, d).documents
      fluencyScoreLocal(docs.filter(col("source") === "src0"),
        docs.filter(col("source") =!= "src0"))
        .orderBy(col("doc_id"))
    })
  )

  /** The q156 closure oracle (brute-force jaccard edges + recursive
    * transitive closure + component minima) as ONE shared literal:
    * q156 states it directly, q209 rolls it up — the two cannot
    * drift. */
  private val jaccardClustersSql: String =
    """WITH RECURSIVE docs AS (
      |  SELECT doc_id, lang, source,
      |    CASE WHEN len(toks) >= 3 THEN
      |      list_distinct(list_transform(range(1, len(toks) - 1),
      |        i -> array_to_string(toks[i:i+2], ' ')))
      |    ELSE [text] END AS sh
      |  FROM (SELECT doc_id, lang, source, text,
      |          string_split(text, ' ') AS toks FROM documents)),
      |pairs AS (
      |  SELECT a.doc_id AS d1, b.doc_id AS d2
      |  FROM docs a JOIN docs b
      |    ON a.lang = b.lang AND a.source = b.source
      |      AND a.doc_id < b.doc_id
      |  WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
      |      / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.5),
      |edges AS (
      |  SELECT d1 AS s, d2 AS t FROM pairs
      |  UNION SELECT d2, d1 FROM pairs),
      |reach(s, t) AS (
      |  SELECT s, t FROM edges
      |  UNION
      |  SELECT r.s, e.t FROM reach r JOIN edges e ON r.t = e.s)
      |SELECT s AS doc_id, LEAST(s, MIN(t)) AS cluster_id
      |FROM reach GROUP BY s ORDER BY doc_id""".stripMargin

  private[operators] val heldoutFluencySql: String =
      """WITH mtoks AS (
        |  SELECT string_split(text, ' ') AS t FROM documents
        |  WHERE source = 'src0'),
        |sdocs AS (
        |  SELECT doc_id, text FROM documents WHERE source <> 'src0'),
        |uni AS (
        |  SELECT w1, CAST(count(*) AS BIGINT) AS c1
        |  FROM (SELECT unnest(t) AS w1 FROM mtoks) GROUP BY w1),
        |voc AS (SELECT CAST(count(*) AS BIGINT) AS v FROM uni),
        |bc AS (
        |  SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12
        |  FROM (SELECT t[i] AS w1, t[i+1] AS w2
        |        FROM (SELECT t, unnest(range(1, len(t))) AS i
        |              FROM mtoks WHERE len(t) >= 2))
        |  GROUP BY w1, w2),
        |bi AS (
        |  SELECT doc_id, CAST(i AS BIGINT) AS p, t[i] AS w1,
        |    t[i+1] AS w2
        |  FROM (SELECT doc_id, t, unnest(range(1, len(t))) AS i
        |        FROM (SELECT doc_id, string_split(text, ' ') AS t
        |              FROM sdocs)
        |        WHERE len(t) >= 2)),
        |probs AS (
        |  SELECT doc_id, p,
        |    CAST(COALESCE(c12, 0) + 1 AS DOUBLE)
        |      / CAST(COALESCE(c1, 0) + v AS DOUBLE) AS prob
        |  FROM bi LEFT JOIN bc USING (w1, w2)
        |  LEFT JOIN uni USING (w1)
        |  CROSS JOIN voc),
        |scored AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        |    list_reduce(list_prepend(0.0, list(prob ORDER BY p)),
        |      (a, b) -> a + b) / count(*) AS avg_prob
        |  FROM probs GROUP BY doc_id)
        |SELECT d.doc_id,
        |  COALESCE(s.n_bigrams, CAST(0 AS BIGINT)) AS n_bigrams,
        |  s.avg_prob
        |FROM sdocs d LEFT JOIN scored s USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin

  /** q140's DuckDB twin, shared verbatim by every oracle that builds
    * on the in-engine fluency score (q220 here; q154/q210 inline it
    * cross-module via `oracleSql("q140_bigram_fluency")`). */
  /** q174's DuckDB twin sans ORDER BY (shared with q273). */
  private[operators] val gopherRulesSql: String =
    """WITH s AS (
      |  SELECT doc_id,
      |    CAST(len(string_split(text, ' ')) AS INTEGER) AS n_words,
      |    CAST(len(text) - len(string_split(text, ' ')) + 1 AS DOUBLE)
      |      / CAST(len(string_split(text, ' ')) AS DOUBLE)
      |      AS mean_word_len,
      |    CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
      |      / CAST(len(string_split(text, ' ')) AS DOUBLE) AS ttr,
      |    list_has_any(string_split(text, ' '),
      |      ['the', 'a', 'an', 'of', 'to']) AS has_stopword
      |  FROM documents),
      |r AS (
      |  SELECT *, concat_ws(',',
      |    CASE WHEN n_words < 20 THEN 'too_short' END,
      |    CASE WHEN n_words > 80 THEN 'too_long' END,
      |    CASE WHEN mean_word_len < 4.0 OR mean_word_len > 5.0
      |         THEN 'word_len' END,
      |    CASE WHEN NOT has_stopword THEN 'no_stopword' END,
      |    CASE WHEN ttr < 0.45 THEN 'repetitive' END) AS drop_reasons
      |  FROM s)
      |SELECT doc_id, n_words, mean_word_len, ttr, has_stopword,
      |  drop_reasons, drop_reasons = '' AS keep
      |FROM r""".stripMargin

  /** q178's DuckDB twin sans ORDER BY (shared with q273). */
  private[operators] val blocklistSql: String =
    """SELECT doc_id,
      |  coalesce(array_to_string(list_filter(['spark', 'vector', 'dup'],
      |    b -> list_contains(string_split(text, ' '), b)), ','), '')
      |    AS matched_terms,
      |  len(list_filter(['spark', 'vector', 'dup'],
      |    b -> list_contains(string_split(text, ' '), b))) > 0
      |    AS flagged
      |FROM documents""".stripMargin

  /** q179's DuckDB twin sans ORDER BY (shared with q273). */
  private[operators] val oovRateSql: String =
    """WITH toks AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok
      |  FROM documents),
      |vocab AS (
      |  SELECT tok FROM toks GROUP BY tok
      |  ORDER BY count(*) DESC, tok LIMIT 20)
      |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
      |  CAST(sum(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_oov,
      |  CAST(sum(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
      |    / CAST(count(*) AS DOUBLE) AS oov_rate
      |FROM toks t LEFT JOIN vocab v ON t.tok = v.tok
      |GROUP BY doc_id""".stripMargin

  private[operators] val bigramFluencySql: String =
    """WITH toks AS (
      |  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |uni AS (
      |  SELECT w1, CAST(count(*) AS BIGINT) AS c1
      |  FROM (SELECT unnest(t) AS w1 FROM toks) GROUP BY w1),
      |voc AS (SELECT CAST(count(*) AS BIGINT) AS v FROM uni),
      |bi AS (
      |  SELECT doc_id, CAST(i AS BIGINT) AS p, t[i] AS w1,
      |    t[i+1] AS w2
      |  FROM (SELECT doc_id, t, unnest(range(1, len(t))) AS i
      |        FROM toks WHERE len(t) >= 2)),
      |bc AS (
      |  SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12
      |  FROM bi GROUP BY w1, w2),
      |probs AS (
      |  SELECT doc_id, p,
      |    CAST(c12 + 1 AS DOUBLE) / CAST(c1 + v AS DOUBLE) AS prob
      |  FROM bi JOIN bc USING (w1, w2) JOIN uni USING (w1)
      |  CROSS JOIN voc),
      |scored AS (
      |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
      |    list_reduce(list_prepend(0.0, list(prob ORDER BY p)),
      |      (a, b) -> a + b) / count(*) AS avg_prob
      |  FROM probs GROUP BY doc_id)
      |SELECT d.doc_id,
      |  COALESCE(s.n_bigrams, CAST(0 AS BIGINT)) AS n_bigrams,
      |  s.avg_prob
      |FROM documents d LEFT JOIN scored s USING (doc_id)
      |ORDER BY d.doc_id""".stripMargin

  /** q67's DuckDB twin (shared verbatim with q225's rollup). */
  private[operators] val tokenBatchesSql: String =
    """SELECT doc_id, n_tokens,
      |  CAST(SUM(n_tokens) OVER (ORDER BY doc_id
      |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens,
      |  CAST(floor((CAST(SUM(n_tokens) OVER (ORDER BY doc_id
      |    ROWS UNBOUNDED PRECEDING) AS BIGINT) - 1) / 5000) AS BIGINT)
      |    AS batch_id
      |FROM (SELECT doc_id, len(string_split(text, ' ')) AS n_tokens
      |      FROM documents)
      |ORDER BY doc_id""".stripMargin

  /** q202's DuckDB twin over a filtered corpus slice (q231 runs the
    * pair tier on the train side only). */
  private[operators] def sparseCosineSqlWhere(pred: String): String =
    s"""WITH toks AS (
       |  SELECT doc_id, string_split(text, ' ') AS t FROM documents
       |  WHERE ($pred) AND len(string_split(text, ' ')) >= 3),""".stripMargin +
      "\n" + sparseCosineSqlBody

  /** q202's DuckDB twin (shared verbatim with the q221/q224/q228
    * compositions). */
  private[operators] val sparseCosineSql: String =
    """WITH toks AS (
      |  SELECT doc_id, string_split(text, ' ') AS t FROM documents
      |  WHERE len(string_split(text, ' ')) >= 3),""".stripMargin +
      "\n" + sparseCosineSqlBody

  // def, not val: referenced by vals declared ABOVE it (object init
  // order would otherwise null it out)
  private def sparseCosineSqlBody: String =
    """grams AS (
      |  SELECT doc_id, unnest(list_transform(
      |    generate_series(1, len(t)-2),
      |    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS g
      |  FROM toks),
      |tf AS (
      |  SELECT doc_id, g, CAST(count(*) AS BIGINT) AS tf
      |  FROM grams GROUP BY doc_id, g),
      |dfr AS (
      |  SELECT g, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY g),
      |kept AS (
      |  SELECT tf.doc_id, tf.g, tf.tf
      |  FROM tf JOIN dfr USING (g) WHERE dfr.df <= 20),
      |norms AS (
      |  SELECT doc_id, CAST(sum(tf*tf) AS BIGINT) AS n2
      |  FROM kept GROUP BY doc_id),
      |dots AS (
      |  SELECT a.doc_id AS d1, b.doc_id AS d2,
      |    CAST(sum(a.tf * b.tf) AS BIGINT) AS dot
      |  FROM kept a JOIN kept b
      |    ON a.g = b.g AND a.doc_id < b.doc_id
      |  GROUP BY a.doc_id, b.doc_id)
      |SELECT d.d1, d.d2, d.dot,
      |  CAST(d.dot AS DOUBLE)
      |    / sqrt(CAST(na.n2 * nb.n2 AS DOUBLE)) AS cosine
      |FROM dots d
      |JOIN norms na ON na.doc_id = d.d1
      |JOIN norms nb ON nb.doc_id = d.d2
      |WHERE CAST(d.dot AS DOUBLE) * CAST(d.dot AS DOUBLE)
      |  >= (0.5 * 0.5) * CAST(na.n2 * nb.n2 AS DOUBLE)
      |ORDER BY d.d1, d.d2""".stripMargin

  val oracleSql: Map[String, String] = Map(
    // integer tf/df/dot/norms all the way down; the threshold test and
    // the final cosine are the SAME exactly-converted double ops
    // (0.5*0.5 is exact in IEEE, sqrt and / are correctly rounded), so
    // the posting-list join replays bit-exactly
    "q202_sparse_cosine_pairs" -> sparseCosineSql,
    // the materialized tier is a LAYOUT decision — same pair algebra,
    // same SQL; a hash match proves the at-rest table reproduces the
    // in-memory posting relation exactly
    "q299_postings_materialized" -> sparseCosineSql,
    "q338_postings_atrest" -> sparseCosineSql,
    // q202's CTE symmetrized, then per-doc argmax replayed as the
    // (cosine DESC, neighbor ASC) row_number the min(struct) encodes
    "q221_nearest_duplicates" ->
      s"""WITH p AS ($sparseCosineSql),
         |sym AS (
         |  SELECT d1 AS doc_id, d2 AS neighbor, dot, cosine FROM p
         |  UNION ALL
         |  SELECT d2 AS doc_id, d1 AS neighbor, dot, cosine FROM p)
         |SELECT doc_id, neighbor, dot, cosine, n_candidates FROM (
         |  SELECT doc_id, neighbor, dot, cosine,
         |    row_number() OVER (PARTITION BY doc_id
         |      ORDER BY cosine DESC, neighbor) AS rn,
         |    CAST(count(*) OVER (PARTITION BY doc_id) AS BIGINT)
         |      AS n_candidates
         |  FROM sym) q WHERE rn = 1
         |ORDER BY doc_id""".stripMargin,
    // exact integer token counts (the relational GROUP-BY twin of the
    // row-local run-length fold) and single long/long IEEE divisions
    "q218_token_diversity" ->
      """WITH tc AS (
        |  SELECT doc_id, t, CAST(count(*) AS BIGINT) AS c
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS t
        |        FROM documents)
        |  GROUP BY doc_id, t),
        |agg AS (
        |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
        |    CAST(count(*) AS BIGINT) AS n_types,
        |    CAST(sum(c*c) AS BIGINT) AS sum_sq
        |  FROM tc GROUP BY doc_id)
        |SELECT doc_id, n_tokens, n_types, sum_sq,
        |  CAST(sum_sq AS DOUBLE)
        |    / CAST(n_tokens*n_tokens AS DOUBLE) AS simpson,
        |  CAST(n_tokens*n_tokens AS DOUBLE)
        |    / CAST(sum_sq AS DOUBLE) AS eff_vocab
        |FROM agg ORDER BY doc_id""".stripMargin,
    // same integer-derived divisions ((chars-spaces)/words, types/
    // words) and the same NULL-skipping concat_ws reason assembly
    "q174_gopher_rules" ->
      s"""$gopherRulesSql
         |ORDER BY doc_id""".stripMargin,
    // the same list-literal filter, so matched order is pinned to the
    // blocklist in both engines
    "q178_blocklist_filter" ->
      s"""$blocklistSql
         |ORDER BY doc_id""".stripMargin,
    // same (count, token) total-ordered vocab cut and integer-exact
    // rate division
    "q179_oov_rate" ->
      s"""$oovRateSql
         |ORDER BY doc_id""".stripMargin,
    // the three screens' SHARED literals (q174/q178/q179 — none can
    // drift from its matrix row) + integer 2x2 cells + one guarded
    // division. Pinned to oovMax=0.6.
    "q273_screen_agreement" ->
      s"""WITH g AS ($gopherRulesSql),
         |b AS ($blocklistSql),
         |o AS ($oovRateSql),
         |v AS (
         |  SELECT doc_id, 'gopher' AS screen, keep FROM g
         |  UNION ALL SELECT doc_id, 'blocklist', NOT flagged FROM b
         |  UNION ALL SELECT doc_id, 'oov', oov_rate <= 0.6 FROM o),
         |cells AS (
         |  SELECT a.screen AS screen_a, c.screen AS screen_b,
         |    CAST(count(*) FILTER (WHERE a.keep AND c.keep) AS BIGINT)
         |      AS both_keep,
         |    CAST(count(*) FILTER (WHERE a.keep AND NOT c.keep) AS BIGINT)
         |      AS a_keeps_b_drops,
         |    CAST(count(*) FILTER (WHERE NOT a.keep AND c.keep) AS BIGINT)
         |      AS a_drops_b_keeps,
         |    CAST(count(*) FILTER (WHERE NOT a.keep AND NOT c.keep)
         |      AS BIGINT) AS both_drop
         |  FROM v a JOIN v c
         |    ON a.doc_id = c.doc_id AND a.screen < c.screen
         |  GROUP BY a.screen, c.screen)
         |SELECT screen_a, screen_b, both_keep, a_keeps_b_drops,
         |  a_drops_b_keeps, both_drop,
         |  CAST(both_drop AS DOUBLE) / CAST(nullif(
         |    a_keeps_b_drops + a_drops_b_keeps + both_drop, 0)
         |    AS DOUBLE) AS drop_jaccard
         |FROM cells ORDER BY screen_a, screen_b""".stripMargin,
    "q175_template_prefixes" ->
      """SELECT array_to_string(
        |    list_slice(string_split(text, ' '), 1, 5), ' ') AS prefix,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  min(doc_id) AS canonical_id
        |FROM documents
        |GROUP BY 1 HAVING count(*) >= 2
        |ORDER BY prefix""".stripMargin,
    // q82's machinery made driver-checkable: same docs/pairs CTEs as
    // q26, then the q136 recursive-closure pattern; every edge node's
    // component minimum must match dupClusters exactly
    // the oracle IS the global window the operator avoids: integer
    // token cumsum over (quality DESC, doc_id) — bit-stable because
    // the scores are q22's proven-identical doubles and the sum is
    // integral
    "q191_curriculum_batches" ->
      """WITH q AS (
        |  SELECT doc_id, n_tokens,
        |    ttr * 0.5 + (1.0 - stop_ratio) * 0.3
        |      + least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0) * 0.2
        |      AS quality
        |  FROM (
        |    SELECT doc_id,
        |      len(toks) AS n_tokens,
        |      CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS ttr,
        |      CAST(len(list_filter(toks, w -> w = 'a' OR w = 'the'))
        |        AS DOUBLE) / len(toks) AS stop_ratio
        |    FROM (SELECT doc_id, string_split(text, ' ') AS toks
        |          FROM documents))),
        |c AS (
        |  SELECT doc_id, CAST(n_tokens AS INTEGER) AS n_tokens, quality,
        |    CAST(sum(n_tokens) OVER (ORDER BY quality DESC, doc_id)
        |      AS BIGINT) AS cum_tokens
        |  FROM q)
        |SELECT doc_id, n_tokens, quality, cum_tokens,
        |  CAST(floor((cum_tokens - 1) / 5000) AS BIGINT) AS batch_id
        |FROM c ORDER BY cum_tokens""".stripMargin,
    // the oracle IS the per-source global window the operator shards:
    // integer token cumsum over (PARTITION BY source, quality DESC,
    // doc_id); the keep rule admits docs while the budget is unmet
    // (the crossing doc ships). Pinned to the default budget = 600.
    "q236_source_quota" ->
      """WITH q AS (
        |  SELECT doc_id, source, n_tokens,
        |    ttr * 0.5 + (1.0 - stop_ratio) * 0.3
        |      + least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0) * 0.2
        |      AS quality
        |  FROM (
        |    SELECT doc_id, source,
        |      len(toks) AS n_tokens,
        |      CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS ttr,
        |      CAST(len(list_filter(toks, w -> w = 'a' OR w = 'the'))
        |        AS DOUBLE) / len(toks) AS stop_ratio
        |    FROM (SELECT doc_id, source, string_split(text, ' ') AS toks
        |          FROM documents))),
        |c AS (
        |  SELECT doc_id, source, CAST(n_tokens AS BIGINT) AS n_tokens,
        |    quality,
        |    CAST(sum(n_tokens) OVER (PARTITION BY source
        |      ORDER BY quality DESC, doc_id) AS BIGINT) AS cum_tokens
        |  FROM q)
        |SELECT doc_id, source, n_tokens, quality, cum_tokens
        |FROM c WHERE cum_tokens - n_tokens < 600
        |ORDER BY doc_id""".stripMargin,
    // q156's closure + q22's scoring + the same argmax rule (quality
    // DESC, doc_id ASC) — singletons via left join + coalesce
    "q190_best_of_cluster" ->
      """WITH RECURSIVE sh_docs AS (
        |  SELECT doc_id, lang, source,
        |    CASE WHEN len(toks) >= 3 THEN
        |      list_distinct(list_transform(range(1, len(toks) - 1),
        |        i -> array_to_string(toks[i:i+2], ' ')))
        |    ELSE [text] END AS sh
        |  FROM (SELECT doc_id, lang, source, text,
        |          string_split(text, ' ') AS toks FROM documents)),
        |pairs AS (
        |  SELECT a.doc_id AS d1, b.doc_id AS d2
        |  FROM sh_docs a JOIN sh_docs b
        |    ON a.lang = b.lang AND a.source = b.source
        |      AND a.doc_id < b.doc_id
        |  WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        |      / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.5),
        |edges AS (
        |  SELECT d1 AS s, d2 AS t FROM pairs
        |  UNION SELECT d2, d1 FROM pairs),
        |reach(s, t) AS (
        |  SELECT s, t FROM edges
        |  UNION
        |  SELECT r.s, e.t FROM reach r JOIN edges e ON r.t = e.s),
        |comp AS (
        |  SELECT s AS doc_id, LEAST(s, MIN(t)) AS cluster_id
        |  FROM reach GROUP BY s),
        |q AS (
        |  SELECT doc_id,
        |    ttr * 0.5 + (1.0 - stop_ratio) * 0.3
        |      + least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0) * 0.2
        |      AS quality
        |  FROM (
        |    SELECT doc_id,
        |      len(toks) AS n_tokens,
        |      CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS ttr,
        |      CAST(len(list_filter(toks, w -> w = 'a' OR w = 'the'))
        |        AS DOUBLE) / len(toks) AS stop_ratio
        |    FROM (SELECT doc_id, string_split(text, ' ') AS toks
        |          FROM documents))),
        |assigned AS (
        |  SELECT d.doc_id, COALESCE(c.cluster_id, d.doc_id) AS cluster_id,
        |    q.quality
        |  FROM documents d
        |  LEFT JOIN comp c ON d.doc_id = c.doc_id
        |  JOIN q ON q.doc_id = d.doc_id),
        |win AS (
        |  SELECT cluster_id, doc_id, quality,
        |    row_number() OVER (PARTITION BY cluster_id
        |      ORDER BY quality DESC, doc_id) AS rn,
        |    count(*) OVER (PARTITION BY cluster_id) AS nm
        |  FROM assigned)
        |SELECT cluster_id, doc_id AS kept_doc_id, quality,
        |  CAST(nm AS BIGINT) AS n_members
        |FROM win WHERE rn = 1 ORDER BY cluster_id""".stripMargin,
    "q156_jaccard_clusters" -> jaccardClustersSql,
    // rollup of the SAME closure — one shared literal, no drift
    "q209_cluster_sizes" ->
      s"""WITH base AS ($jaccardClustersSql),
         |sizes AS (
         |  SELECT cluster_id, CAST(count(*) AS BIGINT) AS cluster_size
         |  FROM base GROUP BY cluster_id)
         |SELECT cluster_size, CAST(count(*) AS BIGINT) AS n_clusters
         |FROM sizes GROUP BY cluster_size
         |ORDER BY cluster_size""".stripMargin,
    // the WHOLE derived-vector pipeline is SQL-expressible because the
    // bucket hash is the portable md5-prefix (q101 pattern): rebuild
    // the hashed-tf vectors, all-pairs cosine at 0.95, transitive
    // closure, component-min representative (q136 pattern)
    "q151_docvec_neardup" -> {
      val sim = s"(${dotSql("a.emb", "b.emb", 64)}) / " +
        s"(sqrt(${norm2Sql("a.emb", 64)}) * sqrt(${norm2Sql("b.emb", 64)}))"
      s"""WITH RECURSIVE tok AS (
         |  SELECT doc_id AS vec_id, unnest(string_split(text, ' ')) AS w
         |  FROM documents),
         |cnt AS (
         |  SELECT vec_id,
         |    CAST(CAST('0x' || substr(md5(w), 1, 8) AS BIGINT) % 64
         |      AS INTEGER) AS b,
         |    CAST(count(*) AS DOUBLE) AS c
         |  FROM tok GROUP BY 1, 2),
         |grid AS (
         |  SELECT d.doc_id AS vec_id, CAST(gs AS INTEGER) AS i
         |  FROM documents d, generate_series(0, 63) AS g(gs)),
         |vec AS (
         |  SELECT grid.vec_id, list(coalesce(cnt.c, 0.0) ORDER BY grid.i)
         |    AS emb
         |  FROM grid LEFT JOIN cnt
         |    ON cnt.vec_id = grid.vec_id AND cnt.b = grid.i
         |  GROUP BY grid.vec_id),
         |pairs AS (
         |  SELECT a.vec_id AS d1, b.vec_id AS d2
         |  FROM vec a JOIN vec b ON a.vec_id < b.vec_id
         |  WHERE $sim >= 0.95),
         |edges AS (
         |  SELECT d1 AS s, d2 AS t FROM pairs
         |  UNION SELECT d2, d1 FROM pairs),
         |reach(s, t) AS (
         |  SELECT s, t FROM edges
         |  UNION
         |  SELECT r.s, e.t FROM reach r JOIN edges e ON r.t = e.s),
         |rep AS (
         |  SELECT d.doc_id AS vec_id,
         |    LEAST(d.doc_id, COALESCE(MIN(r.t), d.doc_id)) AS rep_id
         |  FROM documents d LEFT JOIN reach r ON r.s = d.doc_id
         |  GROUP BY d.doc_id)
         |SELECT vec_id, rep_id, (rep_id = vec_id) AS keep
         |FROM rep ORDER BY vec_id""".stripMargin
    },
    // q140's algebra with the model CTEs built from src0 only and the
    // LEFT joins + COALESCE floors that held-out scoring requires
    // (unseen bigram -> 1/(c1+V), unseen conditioning word -> 1/V)
    "q212_heldout_fluency" -> heldoutFluencySql,
    // the row-local udf form answers the IDENTICAL SQL — udf parity
    // is oracle-checked, not just spec-asserted
    "q213_heldout_fluency_local" -> heldoutFluencySql,
    "q140_bigram_fluency" -> bigramFluencySql,
    // q140's corpus CTEs + KN continuation counts; the probability is
    // ONE fixed-shape expression (same casts, same associativity) and
    // the per-doc average is the same position-ordered fold. Pinned
    // to D=0.75. Self-trained, so every join hits (the CASE branch
    // structure still mirrors the Spark `when`).
    "q271_kn_fluency" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |uni AS (
        |  SELECT w1, CAST(count(*) AS BIGINT) AS c1
        |  FROM (SELECT unnest(t) AS w1 FROM toks) GROUP BY w1),
        |voc AS (SELECT CAST(count(*) AS BIGINT) AS v FROM uni),
        |bi AS (
        |  SELECT doc_id, CAST(i AS BIGINT) AS p, t[i] AS w1,
        |    t[i+1] AS w2
        |  FROM (SELECT doc_id, t, unnest(range(1, len(t))) AS i
        |        FROM toks WHERE len(t) >= 2)),
        |bc AS (
        |  SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12
        |  FROM bi GROUP BY w1, w2),
        |nf AS (SELECT w1, CAST(count(*) AS BIGINT) AS nfw
        |       FROM bc GROUP BY w1),
        |np AS (SELECT w2, CAST(count(*) AS BIGINT) AS npre
        |       FROM bc GROUP BY w2),
        |bt AS (SELECT CAST(count(*) AS BIGINT) AS b FROM bc),
        |probs AS (
        |  SELECT doc_id, p,
        |    greatest(CAST(c12 AS DOUBLE) - 0.75, 0.0)
        |        / CAST(c1 AS DOUBLE)
        |      + 0.75 * CAST(nfw AS DOUBLE) / CAST(c1 AS DOUBLE)
        |        * (CAST(npre + 1 AS DOUBLE) / CAST(b + v AS DOUBLE))
        |      AS prob
        |  FROM bi JOIN bc USING (w1, w2) JOIN uni USING (w1)
        |  JOIN nf USING (w1) JOIN np USING (w2)
        |  CROSS JOIN bt CROSS JOIN voc),
        |scored AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        |    list_reduce(list_prepend(0.0, list(prob ORDER BY p)),
        |      (a, b) -> a + b) / count(*) AS avg_prob
        |  FROM probs GROUP BY doc_id)
        |SELECT d.doc_id,
        |  COALESCE(s.n_bigrams, CAST(0 AS BIGINT)) AS n_bigrams,
        |  s.avg_prob
        |FROM documents d LEFT JOIN scored s USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,
    // q140's CTE (the shared literal above — the two cannot drift) +
    // quantile_cont med/MAD per source + the same two IEEE ops
    "q220_calibrated_fluency" ->
      s"""WITH fl0 AS ($bigramFluencySql),
         |fl AS (
         |  SELECT f.doc_id, d.source, f.avg_prob
         |  FROM fl0 f JOIN documents d USING (doc_id)
         |  WHERE f.avg_prob IS NOT NULL),
         |med AS (
         |  SELECT source, quantile_cont(avg_prob, 0.5) AS med
         |  FROM fl GROUP BY source),
         |mad AS (
         |  SELECT f.source, quantile_cont(abs(f.avg_prob - m.med), 0.5)
         |    AS mad
         |  FROM fl f JOIN med m USING (source) GROUP BY f.source)
         |SELECT f.doc_id, f.source, f.avg_prob, m.med, d.mad,
         |  (f.avg_prob - m.med) / nullif(d.mad, 0) AS robust_z
         |FROM fl f JOIN med m USING (source) JOIN mad d USING (source)
         |ORDER BY f.doc_id""".stripMargin,
    "q164_weighted_sample" ->
      """WITH scored AS (
        |  SELECT doc_id, lang, source,
        |    ttr * 0.5 + (1.0 - stop_ratio) * 0.3
        |      + least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0) * 0.2
        |      AS quality
        |  FROM (
        |    SELECT doc_id, lang, source,
        |      len(toks) AS n_tokens,
        |      CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS ttr,
        |      CAST(len(list_filter(toks, w -> w = 'a' OR w = 'the'))
        |        AS DOUBLE) / len(toks) AS stop_ratio
        |    FROM (SELECT doc_id, lang, source,
        |            string_split(text, ' ') AS toks FROM documents)))
        |SELECT doc_id, lang, source, quality
        |FROM scored
        |WHERE CAST('0x' || substr(md5('wsamp:' || CAST(doc_id AS VARCHAR)),
        |    1, 8) AS BIGINT) % 10000 < floor(quality * 10000.0 * 0.5)
        |ORDER BY doc_id""".stripMargin,
    "q134_hash_stratified" ->
      """SELECT doc_id, lang, source
        |FROM documents
        |JOIN (VALUES ('en', 2000), ('es', 5000), ('de', 10000),
        |      ('fr', 10000), ('zh', 10000)) AS f(lang, keep_below)
        |  USING (lang)
        |WHERE CAST('0x' || substr(md5('strat:' || CAST(doc_id AS VARCHAR)),
        |    1, 8) AS BIGINT) % 10000 < keep_below
        |ORDER BY doc_id""".stripMargin,
    // the q100 contract device: exact per-source distinct counts both
    // engines recompute + the HLL++ 3-sigma guarantee (rsd 0.02) as
    // the literal TRUE the sketch must earn
    "q65_cardinality_sketch" ->
      """SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(count(DISTINCT md5(text)) AS BIGINT)
        |    AS exact_unique_docs,
        |  TRUE AS within_band
        |FROM documents GROUP BY source
        |ORDER BY source""".stripMargin,
    // the q134 integer device with the q66 mix (en capped at 2000
    // per-10k, low-resource strata kept whole) and the per-seed
    // "smix42:" salt — previously seeded sampleBy, rows-only by
    // engine PRNG; now any engine replays the identical sample
    "q66_stratified_sample" ->
      """SELECT doc_id, lang, source
        |FROM documents
        |JOIN (VALUES ('en', 2000), ('es', 10000), ('de', 10000),
        |      ('fr', 10000), ('zh', 10000)) AS f(lang, keep_below)
        |  USING (lang)
        |WHERE CAST('0x' || substr(md5('smix42:' || CAST(doc_id AS VARCHAR)),
        |    1, 8) AS BIGINT) % 10000 < keep_below
        |ORDER BY doc_id""".stripMargin,
    // the oracle IS the per-bucket hash-order window the two-phase
    // device avoids; bucket/slot/capacity are pure integer algebra
    // (format('{:b}') bit length, << , //), pinned to ctx=512 epoch=0
    "q240_length_packing" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    least(len(string_split(text, ' ')), 512)::BIGINT AS n
        |  FROM documents),
        |b AS (
        |  SELECT doc_id, n,
        |    CASE WHEN n <= 1 THEN 0
        |      ELSE length(format('{:b}', n - 1)) END AS lb
        |  FROM d),
        |r AS (
        |  SELECT doc_id, n,
        |    least(1::BIGINT << lb, 512) AS slot_len,
        |    512 // least(1::BIGINT << lb, 512) AS capacity,
        |    row_number() OVER (PARTITION BY lb ORDER BY
        |      md5('pack0:' || CAST(doc_id AS VARCHAR)), doc_id) - 1 AS r0
        |  FROM b)
        |SELECT slot_len, CAST(r0 // capacity AS BIGINT) AS pack_id,
        |  capacity, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n) AS BIGINT) AS sum_tokens,
        |  CAST(sum(n) AS DOUBLE) / CAST(512 AS DOUBLE) AS fill
        |FROM r GROUP BY 1, 2, 3
        |ORDER BY slot_len, pack_id""".stripMargin,
    // q240's assignment CTE un-aggregated: slot index = r0 % capacity,
    // start/end/pad are pure integer slot algebra (pinned ctx=512,
    // epoch=0)
    "q256_pack_boundaries" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    least(len(string_split(text, ' ')), 512)::BIGINT AS n
        |  FROM documents),
        |b AS (
        |  SELECT doc_id, n,
        |    CASE WHEN n <= 1 THEN 0
        |      ELSE length(format('{:b}', n - 1)) END AS lb
        |  FROM d),
        |r AS (
        |  SELECT doc_id, n,
        |    least(1::BIGINT << lb, 512) AS slot_len,
        |    512 // least(1::BIGINT << lb, 512) AS capacity,
        |    row_number() OVER (PARTITION BY lb ORDER BY
        |      md5('pack0:' || CAST(doc_id AS VARCHAR)), doc_id) - 1 AS r0
        |  FROM b)
        |SELECT slot_len, CAST(r0 // capacity AS BIGINT) AS pack_id,
        |  CAST(r0 % capacity AS BIGINT) AS slot_idx, doc_id,
        |  n AS n_tokens,
        |  CAST((r0 % capacity) * slot_len AS BIGINT) AS start_off,
        |  CAST((r0 % capacity) * slot_len + n AS BIGINT) AS end_off,
        |  CAST(slot_len - n AS BIGINT) AS pad
        |FROM r
        |ORDER BY slot_len, pack_id, slot_idx""".stripMargin,
    // the oracle IS the per-source window the custom TopK operator
    // avoids: row_number over the salted-hash order, <= k (default 5)
    "q239_eval_holdout" ->
      """WITH r AS (
        |  SELECT doc_id, source,
        |    md5('eval:' || CAST(doc_id AS VARCHAR)) AS k_eval,
        |    row_number() OVER (PARTITION BY source ORDER BY
        |      md5('eval:' || CAST(doc_id AS VARCHAR)), doc_id) AS rn
        |  FROM documents)
        |SELECT doc_id, source, k_eval FROM r WHERE rn <= 5
        |ORDER BY doc_id""".stripMargin,
    "q84_bpe_token_count" ->
      s"""SELECT doc_id,
         |  len(string_split(text || ' it''s v2, pi=3.14!', ' '))
         |    AS n_ws_tokens,
         |  len(regexp_extract_all(text || ' it''s v2, pi=3.14!',
         |    ' ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9 ]+')) AS n_bpe_tokens
         |FROM documents
         |ORDER BY doc_id""".stripMargin,
    "q20_token_stats" ->
      """SELECT doc_id,
        |  len(string_split(text, ' ')) AS n_tokens,
        |  len(list_distinct(string_split(text, ' '))) AS n_types,
        |  CAST(length(text) - len(string_split(text, ' ')) + 1 AS DOUBLE)
        |    / len(string_split(text, ' ')) AS avg_token_len
        |FROM documents
        |ORDER BY doc_id""".stripMargin,
    // the same count-of-counts rank algebra (no ORDER BY rank trick:
    // the group covering rank r is located by its cumulative range)
    // and the same single decay division
    "q289_zipf_profile" ->
      """WITH tf AS (
        |  SELECT source, word, CAST(count(*) AS BIGINT) AS f
        |  FROM (SELECT source, unnest(string_split(text, ' ')) AS word
        |        FROM documents)
        |  GROUP BY 1, 2),
        |ff AS (SELECT source, f, CAST(count(*) AS BIGINT) AS ntypes
        |       FROM tf GROUP BY 1, 2),
        |cum AS (
        |  SELECT a.source, a.f, a.ntypes,
        |    CAST(COALESCE(sum(b.ntypes), 0) AS BIGINT) AS above
        |  FROM ff a LEFT JOIN ff b
        |    ON b.source = a.source AND b.f > a.f
        |  GROUP BY 1, 2, 3),
        |rk AS (SELECT (CAST(1 AS BIGINT) << CAST(x AS INTEGER)) AS rnk
        |       FROM range(0, 11) t(x)),
        |at_r AS (
        |  SELECT c.source, r.rnk, c.f AS freq
        |  FROM cum c JOIN rk r
        |    ON c.above < r.rnk AND r.rnk <= c.above + c.ntypes)
        |SELECT x.source, x.rnk, x.freq,
        |  CAST(x.freq AS DOUBLE) / CAST(y.freq AS DOUBLE) AS decay
        |FROM at_r x LEFT JOIN at_r y
        |  ON y.source = x.source AND y.rnk * 2 = x.rnk
        |ORDER BY x.source, x.rnk""".stripMargin,
    "q21_word_freq" ->
      """SELECT word, COUNT(*) AS n
        |FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
        |GROUP BY word
        |ORDER BY n DESC, word
        |LIMIT 30""".stripMargin,
    "q22_quality_scores" ->
      """SELECT doc_id, n_tokens, ttr, stop_ratio,
        |  ttr * 0.5 + (1.0 - stop_ratio) * 0.3
        |    + least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0) * 0.2 AS quality
        |FROM (
        |  SELECT doc_id,
        |    len(toks) AS n_tokens,
        |    CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS ttr,
        |    CAST(len(list_filter(toks, w -> w = 'a' OR w = 'the')) AS DOUBLE)
        |      / len(toks) AS stop_ratio
        |  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents))
        |ORDER BY doc_id""".stripMargin,
    "q23_corpus_stats" ->
      """SELECT lang, source, COUNT(*) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
        |  CAST(SUM(len(string_split(text, ' '))) AS DOUBLE) / COUNT(*)
        |    AS avg_tokens
        |FROM documents
        |GROUP BY lang, source
        |ORDER BY lang, source""".stripMargin,
    "q24_dedup_exact" ->
      """SELECT md5(text) AS fp, MIN(doc_id) AS canonical_id,
        |  COUNT(*) AS n_copies
        |FROM documents
        |GROUP BY text
        |ORDER BY canonical_id""".stripMargin,
    "q25_dedup_tokenset" ->
      """SELECT md5(array_to_string(list_sort(list_distinct(
        |    string_split(text, ' '))), ' ')) AS fp,
        |  MIN(doc_id) AS canonical_id, COUNT(*) AS n_copies
        |FROM documents
        |GROUP BY 1
        |HAVING COUNT(*) > 1
        |ORDER BY canonical_id""".stripMargin,
    // the same rarity order (df asc, shingle asc), the same
    // |x| - ceil(t|x|) + 1 prefix, the same exact verify — a lossless
    // filter replayed end to end; pinned to t=0.5
    "q307_prefix_jaccard" ->
      """WITH docs AS (
        |  SELECT doc_id,
        |    CASE WHEN len(toks) >= 3 THEN
        |      list_distinct(list_transform(range(1, len(toks) - 1),
        |        i -> array_to_string(toks[i:i+2], ' ')))
        |    ELSE [text] END AS sh
        |  FROM (SELECT doc_id, text,
        |          string_split(text, ' ') AS toks FROM documents)),
        |dfr AS (
        |  SELECT g, CAST(count(*) AS BIGINT) AS df
        |  FROM (SELECT doc_id, unnest(sh) AS g FROM docs) GROUP BY g),
        |ordered AS (
        |  SELECT e.doc_id, list(e.g ORDER BY d.df, e.g) AS og
        |  FROM (SELECT doc_id, unnest(sh) AS g FROM docs) e
        |  JOIN dfr d USING (g)
        |  GROUP BY e.doc_id),
        |pre AS (
        |  SELECT doc_id,
        |    unnest(og[1 : len(og)
        |      - CAST(ceil(0.5 * len(og)) AS BIGINT) + 1]) AS g
        |  FROM ordered),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
        |  FROM pre a JOIN pre b ON a.g = b.g AND a.doc_id < b.doc_id)
        |SELECT c.d1, c.d2,
        |  CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE)
        |    / len(list_distinct(list_concat(x.sh, y.sh))) AS jaccard
        |FROM cand c JOIN docs x ON x.doc_id = c.d1
        |JOIN docs y ON y.doc_id = c.d2
        |WHERE CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE)
        |    / len(list_distinct(list_concat(x.sh, y.sh))) >= 0.5
        |ORDER BY d1, d2""".stripMargin,
    "q26_jaccard_pairs" ->
      """WITH docs AS (
        |  SELECT doc_id, lang, source,
        |    CASE WHEN len(toks) >= 3 THEN
        |      list_distinct(list_transform(range(1, len(toks) - 1),
        |        i -> array_to_string(toks[i:i+2], ' ')))
        |    ELSE [text] END AS sh
        |  FROM (SELECT doc_id, lang, source, text,
        |          string_split(text, ' ') AS toks FROM documents))
        |SELECT a.doc_id AS d1, b.doc_id AS d2,
        |  CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        |    / len(list_distinct(list_concat(a.sh, b.sh))) AS jaccard
        |FROM docs a JOIN docs b
        |  ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
        |WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        |    / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.5
        |ORDER BY d1, d2""".stripMargin,
    "q27_fingerprints" ->
      """SELECT doc_id, md5(text) AS fp_md5, sha256(text) AS fp_sha256,
        |  substr(md5(text), 1, 8) AS fp_short
        |FROM documents
        |ORDER BY doc_id""".stripMargin,
    // q26's shingle CTE WITHOUT the size-gap filter (the gap is the
    // signal); every ratio is one double division of exact integers.
    // Pinned to minContainment=0.5, nearDupJaccard=0.5.
    "q269_containment_pairs" ->
      """WITH docs AS (
        |  SELECT doc_id, lang, source,
        |    CASE WHEN len(toks) >= 3 THEN
        |      list_distinct(list_transform(range(1, len(toks) - 1),
        |        i -> array_to_string(toks[i:i+2], ' ')))
        |    ELSE [text] END AS sh
        |  FROM (SELECT doc_id, lang, source, text,
        |          string_split(text, ' ') AS toks FROM documents)),
        |p AS (
        |  SELECT a.doc_id AS d1, b.doc_id AS d2,
        |    CAST(len(a.sh) AS BIGINT) AS n1,
        |    CAST(len(b.sh) AS BIGINT) AS n2,
        |    CAST(len(list_intersect(a.sh, b.sh)) AS BIGINT) AS inter
        |  FROM docs a JOIN docs b
        |    ON a.lang = b.lang AND a.source = b.source
        |      AND a.doc_id < b.doc_id)
        |SELECT d1, d2, n1, n2, inter,
        |  CAST(inter AS DOUBLE) / CAST(n1 + n2 - inter AS DOUBLE)
        |    AS jaccard,
        |  CAST(inter AS DOUBLE) / CAST(n1 AS DOUBLE) AS c1_in_2,
        |  CAST(inter AS DOUBLE) / CAST(n2 AS DOUBLE) AS c2_in_1,
        |  CASE WHEN CAST(inter AS DOUBLE)
        |      / CAST(n1 + n2 - inter AS DOUBLE) >= 0.5
        |    THEN 'near_dup' ELSE 'quote' END AS relation
        |FROM p
        |WHERE CAST(inter AS DOUBLE) / CAST(least(n1, n2) AS DOUBLE)
        |  >= 0.5
        |ORDER BY d1, d2""".stripMargin,
    "q67_token_batches" -> tokenBatchesSql,
    // bucket = integer bit length (len of the binary rendering - 1):
    // floor(log2) without floats, so engines cannot disagree at
    // exact powers of two
    "q230_length_spectrum" ->
      """WITH d AS (
        |  SELECT CAST(len(format('{:b}',
        |      len(string_split(text, ' ')))) - 1 AS BIGINT)
        |      AS log2_bucket,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n
        |  FROM documents),
        |t AS (SELECT CAST(count(*) AS BIGINT) AS total_docs
        |      FROM documents)
        |SELECT log2_bucket, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n) AS BIGINT) AS n_tokens,
        |  CAST(min(n) AS BIGINT) AS min_len,
        |  CAST(max(n) AS BIGINT) AS max_len,
        |  CAST(count(*) AS DOUBLE) / CAST(t.total_docs AS DOUBLE)
        |    AS doc_share
        |FROM d, t GROUP BY log2_bucket, t.total_docs
        |ORDER BY log2_bucket""".stripMargin,
    // the same 48->32-bit md5 offset + array slice, pinned to win=32
    "q253_eval_windows" ->
      """SELECT doc_id, source, CAST(len(toks) AS INTEGER) AS n_tokens,
        |  off AS offset,
        |  array_to_string(toks[off+1 : off+32], ' ') AS window_text
        |FROM (
        |  SELECT doc_id, source, toks,
        |    CAST(CAST('0x' || substr(md5('evalw:'
        |        || CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)
        |      % (len(toks) - 31) AS INTEGER) AS off
        |  FROM (SELECT doc_id, source, string_split(text, ' ') AS toks
        |        FROM documents)
        |  WHERE len(toks) >= 32)
        |ORDER BY doc_id""".stripMargin,
    // q67's CTE (the shared literal) + one batch-keyed rollup and a
    // single exact-long/int division for the fill fraction
    "q225_packing_efficiency" ->
      s"""WITH b AS ($tokenBatchesSql)
         |SELECT batch_id, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(n_tokens) AS BIGINT) AS batch_tokens,
         |  CAST(min(doc_id) AS BIGINT) AS first_doc,
         |  CAST(max(doc_id) AS BIGINT) AS last_doc,
         |  CAST(CAST(sum(n_tokens) AS BIGINT) AS DOUBLE) / 5000 AS fill
         |FROM b GROUP BY batch_id ORDER BY batch_id""".stripMargin,
    // chr(201)=É composed, chr(769)=combining acute (decomposed e'),
    // chr(64257)=ﬁ ligature, chr(186)=º, chr(9)=tab — identical bytes
    // to the Spark-side literals
    "q129_normalize_text" ->
      """SELECT doc_id,
        |  trim(regexp_replace(lower(nfc_normalize(
        |    text || ' ' ||
        |    CASE CAST(doc_id % 3 AS INTEGER)
        |      WHEN 0 THEN 'CAF' || chr(201) || '  Nr' || chr(186) || ' 5'
        |      WHEN 1 THEN 'Cafe' || chr(769) || ' ' || chr(64257) || 'ne'
        |      ELSE '  MiXeD   Case' || chr(9) || 'TAB' END)),
        |    '\s+', ' ', 'g')) AS clean
        |FROM documents
        |ORDER BY doc_id""".stripMargin
  )
}
