package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextFunctions._

/** Scale-path near-duplicate detection: MinHash+LSH and SimHash.
  *
  * These are the unbucketed candidate generators that replace the
  * O(corpus²) pair join of [[TextAnalysis.jaccardPairs]]: cost is
  * shuffle-on-band-key + Σ bucket², independent of corpus size for
  * non-degenerate data. Both are pure DataFrame plans — explode,
  * hash, groupBy, self-join — so they parallelize and AQE handles
  * skewed buckets.
  *
  * Not SQL-expressible in the oracle (engine-specific hash functions),
  * so these are rows-only checks; unit tests instead verify recall
  * against the exact-Jaccard oracle computed in-process.
  */
object Dedup {

  /** MinHash permutation family: xxhash64 seeded with the permutation
    * index (prepended as an input column) gives independent hash
    * functions without any overflow-prone arithmetic (ANSI-safe). */
  private def permutedHashes(shingle: Column, numPerms: Int): Column =
    array((0 until numPerms).map(i => xxhash64(lit(i), shingle)): _*)

  /** MinHash signatures: one row per doc, `numPerms` column-wise minima
    * over the doc's shingle set. Single explode + single groupBy. */
  def minhashSignatures(docs: DataFrame, shingleSize: Int, numPerms: Int)
      : DataFrame = {
    // numPerms·|shingles| xxhash64 calls per doc, all before the first
    // exchange: fan the scan out when it arrived under-partitioned
    // (Par.fanOut — no-op at scale; min() aggregation is
    // order-independent)
    Par.fanOut(docs)
      .select(col("doc_id"),
        explode(sortedShingles(col("text"), shingleSize)).as("sh"))
      .select(col("doc_id"), permutedHashes(col("sh"), numPerms).as("hs"))
      .groupBy(col("doc_id"))
      .agg(array((0 until numPerms).map(i =>
        min(col("hs").getItem(i))): _*).as("sig"))
  }

  /** MinHash band keys: split the signature into `bands` groups of
    * `rowsPerBand` and hash each group to one `bh` key per band. */
  private def minhashBandKeys(sig: Column, bands: Int,
      rowsPerBand: Int): Seq[Column] =
    (0 until bands).map { b =>
      xxhash64(concat_ws(":", (0 until rowsPerBand).map(r =>
        sig.getItem(b * rowsPerBand + r).cast("string")): _*))
    }

  /** Full MinHash-LSH near-dup pipeline: signatures -> band buckets ->
    * candidate pairs -> exact-Jaccard verification at `threshold`
    * (all through the [[bandRows candidate kernel]]).
    *
    * With bands=8 x rows=4 the s-curve gives ~40% recall at j=0.5,
    * ~90% at j=0.7, ~99.96% at j=0.9 — tuned for "true dup" detection
    * while keeping candidate volume sub-quadratic even on this
    * 31-word-vocabulary synthetic corpus (high baseline similarity).
    */
  def minhashDedup(docs: DataFrame, shingleSize: Int = 3,
      numPerms: Int = 32, bands: Int = 8, threshold: Double = 0.5,
      maxBucket: Int = 10000): DataFrame = {
    val candidates = selfBucketPairs(
      bandBuckets(docs, shingleSize, numPerms, bands),
      Seq("band", "bh"), "doc_id", maxBucket)
      .select(col("x.doc_id").as("d1"), col("y.doc_id").as("d2"))
      .distinct()
    val sh = docs.select(col("doc_id"),
      sortedShingles(col("text"), shingleSize).as("sh"))
    jaccardVerify(candidates, "d1", sh, "d2", sh, threshold)
      .orderBy(col("d1"), col("d2"))
  }

  /** MinHash estimator CALIBRATION — the audit that turns "we trust
    * the sketch" into a driver-checked number. [[minhashSignatures]]'s
    * xxhash64 family is engine-specific (q28 is rows-only), so this
    * audit uses a PORTABLE permutation family — minhash_i = min over
    * the doc's distinct shingles of md5("i:" || shingle), lexicographic
    * min over hex strings — that any engine replays bit-exactly. For
    * every candidate pair sharing a RARE shingle (document frequency ≤
    * `maxDf` — the [[TextAnalysis.sparseCosinePairs]] posting-list
    * device, which reaches the cross-source near-dup families a
    * (lang, source) block tier never pairs) it reports the
    * signature-agreement estimate (matching positions / numPerms — the
    * unbiased MinHash estimator, Broder 1997) next to the EXACT
    * shingle Jaccard and the absolute error, for pairs with exact
    * similarity ≥ `minJaccard` (0.25 sits in the empirical gap between
    * the ≥0.8 planted near-dup band and the <0.1 background, so the
    * audited region is the one a dedup threshold lives in).
    *
    * Scale: signatures are ROW-LOCAL (numPerms·|shingles| md5 calls,
    * no explode/groupBy) and computed ONLY for docs in a surviving
    * pair — the cheap exact-jaccard merge pass filters the candidate
    * set FIRST, so the md5 volume rides the audited near-dup band,
    * not the corpus (a 3× wall-clock cut at sf0.1; at 100 TB it is
    * the difference between hashing the corpus and hashing the dup
    * families). Candidate volume is ≤ maxDf · kept gram occurrences —
    * linear in corpus size for a fixed cap. Estimator quality
    * (E[est] = J, |err| ≲ 1/√numPerms) is what the driver check
    * certifies on real pairs. */
  def minhashCalibration(docs: DataFrame, shingleSize: Int = 3,
      numPerms: Int = 16, minJaccard: Double = 0.25,
      maxDf: Long = 20): DataFrame = {
    // feeds the posting explode AND both pair sides — materialize the
    // shingle arrays once (the q151/q202 localCheckpoint device);
    // fanned out first so the shingling pass isn't serialized by an
    // under-partitioned scan (Par.fanOut — no-op at scale)
    val based = Par.fanOut(docs)
      .select(col("doc_id"), sortedShingles(col("text"), shingleSize).as("sh"))
      .localCheckpoint()
    // candidate tier: docs sharing a RARE shingle (df-capped posting
    // join, the q202 Bayardo device) — linear in corpus for a fixed
    // cap, and it reaches the cross-source near-dup families that a
    // (lang, source) block tier never pairs
    val post = based.select(col("doc_id"), explode(col("sh")).as("g"))
    val dfr = post.groupBy(col("g")).agg(count(lit(1)).as("df"))
    val kept = post.join(
      dfr.filter(col("df") <= maxDf).select(col("g")), Seq("g"))
    val cand = kept.select(col("g"), col("doc_id").as("d1"))
      .join(kept.select(col("g"), col("doc_id").as("d2")), Seq("g"))
      .filter(col("d1") < col("d2"))
      .select(col("d1"), col("d2")).distinct()
    // exact-jaccard gate BEFORE any signature work: the merge-pass
    // jaccard is cheap, the surviving pair set is near-dup-band-sized
    val pairs = jaccardVerify(cand, "d1", based, "d2", based, minJaccard)
      .localCheckpoint() // feeds the doc-id rollup AND the final join
    // md5 signatures only for docs that made it into the audit
    val sig = transform(sequence(lit(0), lit(numPerms - 1)),
      i => array_min(transform(col("sh"),
        s => md5(concat(i.cast("string"), lit(":"), s)))))
    val audited = pairs.select(col("d1").as("doc_id"))
      .union(pairs.select(col("d2").as("doc_id"))).distinct()
    val sigs = based.join(audited, Seq("doc_id"))
      .select(col("doc_id"), sig.as("sig"))
    val matches = size(filter(sequence(lit(0), lit(numPerms - 1)),
      i => element_at(col("sig1"), i + 1) === element_at(col("sig2"), i + 1)))
    pairs
      .join(sigs.select(col("doc_id").as("d1"), col("sig").as("sig1")), "d1")
      .join(sigs.select(col("doc_id").as("d2"), col("sig").as("sig2")), "d2")
      .select(col("d1"), col("d2"),
        matches.cast("long").as("n_match"),
        (matches.cast("double") / numPerms).as("est_jaccard"),
        col("jaccard"),
        abs(matches.cast("double") / numPerms - col("jaccard"))
          .as("abs_err"))
      .orderBy(col("d1"), col("d2"))
  }

  /** MinHash-LSH banded near-dup pairs over the PORTABLE md5
    * permutation family — [[minhashDedup]]'s banding with
    * [[minhashCalibration]]'s engine-neutral signatures (minhash_i =
    * lexicographic min over the doc's distinct shingles of
    * md5("i:" || shingle)), which takes the LSH BUCKETING tier itself
    * out of rows-only: band keys are plain string concatenations of
    * signature positions, so candidate generation, the bucket cap,
    * and verification all replay in SQL and the whole pipeline is
    * hash-exact against the oracle (q300 did this for SimHash; this
    * is the same move for the MinHash family the production dedup
    * stack actually routes through). numPerms=16 banded 4×4 gives the
    * same rows-per-band s-curve as q28 (P(candidate) = 1−(1−j⁴)^b):
    * ~23% at j=0.5, ~88% at j=0.8, ~99% at j=0.9 — verification then
    * keeps only true pairs at `threshold`, so emitted pairs are a
    * subset of q26's exact tier by construction (spec-pinned, with
    * planted-near-dup recall). Bucket cap: [[bandRows]]. */
  def portableMinhashPairs(docs: DataFrame, shingleSize: Int = 3,
      numPerms: Int = 16, bands: Int = 4, threshold: Double = 0.5,
      maxBucket: Int = 10000): DataFrame = {
    val based = Par.fanOut(docs)
      .select(col("doc_id"),
        sortedShingles(col("text"), shingleSize).as("sh"))
      .localCheckpoint() // feeds signatures AND both verify sides
    val candidates = selfBucketPairs(
      portableBandedBuckets(based, numPerms, bands),
      Seq("band", "bh"), "doc_id", maxBucket)
      .select(col("x.doc_id").as("d1"), col("y.doc_id").as("d2"))
      .distinct()
    jaccardVerify(candidates, "d1", based, "d2", based, threshold)
      .orderBy(col("d1"), col("d2"))
  }

  /** (doc_id, band, bh) band keys of the PORTABLE md5 MinHash family
    * over a (doc_id, sh[, extras]) frame — the bucketing stage shared
    * by the batch ([[portableMinhashPairs]]) and incremental
    * ([[portableIncrementalNearDups]]) tiers; extra input columns
    * pass through (the incremental tier rides its is_inc flag). */
  private def portableBandedBuckets(based: DataFrame, numPerms: Int,
      bands: Int): DataFrame = {
    val rowsPerBand = numPerms / bands
    val sig = transform(sequence(lit(0), lit(numPerms - 1)),
      i => array_min(transform(col("sh"),
        s => md5(concat(i.cast("string"), lit(":"), s)))))
    val keep = col("doc_id") +:
      based.columns.filterNot(Set("doc_id", "sh")).map(col)
    bandRows(based.select(keep :+ sig.as("sig"): _*), keep, MinhashBands,
      (0 until bands).map(b => concat_ws(":", (0 until rowsPerBand).map(r =>
        col("sig").getItem(b * rowsPerBand + r)): _*)))
  }

  /** Bound every BLOCK of an exact pair tier to its `maxBlock` first
    * members under the caller's total order `ord` — the anti-quadratic
    * guard for blocking keys whose cardinality is data-fixed
    * ((lang, source) in [[TextAnalysis.jaccardPairs]], nation in
    * [[fuzzyNameMatches]]): at 100× corpus scale a hot block would
    * otherwise cost O(block²) pairs, the job that never finishes.
    *
    * Unlike the LSH bucket cap ([[bandRows]], where a dropped member
    * still pairs via its other bands) an exact tier has no second
    * chance, so the guard TRUNCATES deterministically (row_number
    * over `ord`) rather than dropping the whole block: per-block cost stays
    * ≤ maxBlock² and the kept subset is reproducible. A block at the
    * cap means the exact tier is the wrong tool for that corpus —
    * route it through the LSH path ([[minhashDedup]] / [[simhashDedup]]),
    * whose candidate volume is bounded by construction;
    * [[ScalePatterns.keySkewProfile]] is the diagnostic that spots
    * such blocks ahead of time. Defaults sit far above every tested
    * SF's block sizes, so the cap never engages on the oracle data
    * (spec-pinned output-unchanged) and only bites on degenerate
    * corpora (spec-pinned bound). */
  def capBlocks(df: DataFrame, keys: Seq[String], ord: Seq[Column],
      maxBlock: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keys.map(col): _*).orderBy(ord: _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= maxBlock)
      .drop("__rn")
  }

  // ---- LSH candidate kernel -----------------------------------------
  //
  // Every banded/chunked pair tier (MinHash xxhash and md5, SimHash and
  // media-hash chunks, RP sign bands, video frame chunks) runs the same
  // plan: explode bucket keys ([[bandRows]]), cap and bucket-join them
  // ([[selfBucketPairs]] / [[crossBucketPairs]]), project + distinct +
  // the tier's own pair predicate, then an exact verify
  // ([[jaccardVerify]] for the shingle tiers).

  /** Column names of one bucket-key layout: the band (or chunk) index,
    * the key, and the struct the explode passes through. */
  private[graft] final case class BandCols(band: String, key: String,
      struct: String)
  private[graft] val MinhashBands = BandCols("band", "bh", "bk")
  private[graft] val SignBands = BandCols("band", "bk", "bb")
  private[graft] val Chunks = BandCols("chunk", "ck", "b")

  /** Band/chunk key explode: `keep` plus one (band, key) row per entry
    * of `keys`, band = the entry's index.
    *
    * The bucket cap ([[selfBucketPairs]], [[crossBucketPairs]]) drops
    * every bucket holding more than `maxBucket` rows, whole, before the
    * join: one count-window over the bucket key, no shuffle beyond the
    * one the join needs. A degenerate key (near-constant corpus, black
    * frames, a collapsed sign space) would otherwise make its bucket
    * quadratic. The trade:
    *  - banded tiers (MinHash, RP signs) lose little — a member of an
    *    over-full bucket still pairs through its other bands, and truly
    *    identical inputs are caught by exact dedup upstream;
    *  - chunk tiers ([[Chunks]]) weaken the pigeonhole guarantee: a
    *    pair within hamming 3 shares at least one chunk, and if that
    *    chunk's bucket was dropped the pair is missed — exactly when
    *    exact dedup should have collapsed those inputs first;
    *  - the md5-portable banded tiers (MinHash md5, RP md5 planes)
    *    mirror the cap as `HAVING count(*) <= maxBucket` in their oracle
    *    SQL — per side on the inc×base tiers — so a degenerate corpus
    *    cannot diverge the two engines; the portable SimHash oracle
    *    (q300) replays the chunk join uncapped, which holds while the
    *    cap never fires. */
  private[graft] def bandRows(df: DataFrame, keep: Seq[Column],
      cols: BandCols, keys: Seq[Column]): DataFrame = {
    val exploded = df.select(keep :+ explode(array(keys.zipWithIndex.map {
      case (k, b) => struct(lit(b).as(cols.band), k.as(cols.key))
    }: _*)).as(cols.struct): _*)
    exploded.select(exploded.columns.init.map(col) :+
      col(s"${cols.struct}.${cols.band}").as(cols.band) :+
      col(s"${cols.struct}.${cols.key}").as(cols.key): _*)
  }

  /** The 4×16-bit chunk instance of [[bandRows]]: a pair within hamming
    * distance 3 of `hash` differs in at most 3 chunks, so it shares at
    * least one (chunk, ck) bucket. */
  private[graft] def chunkRows(df: DataFrame, keep: Seq[Column],
      hash: Column): DataFrame =
    bandRows(df, keep, Chunks, (0 until 4).map(c =>
      shiftright(hash, c * 16).bitwiseAND(0xffffL)))

  /** Drop every bucket whose population exceeds `maxBucket`. */
  private def capBuckets(buckets: DataFrame, keys: Seq[String],
      maxBucket: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keys.map(col): _*)
    buckets
      .withColumn("__bn", count(lit(1)).over(w))
      .filter(col("__bn") <= maxBucket)
      .drop("__bn")
  }

  /** Self bucket join: cap `rows` ([[bandRows]]), then every pair of
    * rows sharing a bucket on `keys` with `x.id < y.id`. Both sides stay
    * reachable as `x.*` / `y.*`; the caller projects, de-duplicates and
    * applies its own pair predicate. */
  private[graft] def selfBucketPairs(rows: DataFrame, keys: Seq[String],
      id: String, maxBucket: Int): DataFrame = {
    val b = capBuckets(rows, keys, maxBucket)
    b.alias("x").join(b.alias("y"), keys)
      .filter(col(s"x.$id") < col(s"y.$id"))
  }

  /** Cross bucket join: each side capped on its own ([[bandRows]]),
    * then increment rows (`x.*`) equi-joined to base rows (`y.*`) on
    * `keys` — no base×base or inc×inc pair can form. */
  private[graft] def crossBucketPairs(inc: DataFrame, base: DataFrame,
      keys: Seq[String], maxBucket: Int): DataFrame =
    capBuckets(inc, keys, maxBucket).alias("x")
      .join(capBuckets(base, keys, maxBucket).alias("y"), keys)

  /** Shingle-Jaccard verify: join each side's (doc_id, sh) sorted
    * shingle frame onto the (`id1`, `id2`) candidate pairs and keep
    * (id1, id2, jaccard) with jaccard ≥ `threshold`. */
  private[graft] def jaccardVerify(pairs: DataFrame, id1: String,
      sh1: DataFrame, id2: String, sh2: DataFrame,
      threshold: Double): DataFrame =
    pairs
      .join(sh1.select(col("doc_id").as(id1), col("sh").as("sh1")), id1)
      .join(sh2.select(col("doc_id").as(id2), col("sh").as("sh2")), id2)
      .select(col(id1), col(id2),
        jaccardSorted(col("sh1"), col("sh2")).as("jaccard"))
      .filter(col("jaccard") >= threshold)

  /** 64-bit SimHash over the token multiset: per-bit signed vote
    * weighted by term frequency. Votes are accumulated per token
    * OCCURRENCE by [[graft.functions.SimhashVotes]] (mathematically
    * identical to weighting distinct tokens by their count), so the
    * whole corpus needs ONE explode + ONE groupBy(doc_id) — no
    * (doc_id, token) TF pre-aggregation, and the 64 per-bit vote
    * columns collapse into a single typed buffer. */
  def simhashes(docs: DataFrame): DataFrame = {
    val votes = udaf(graft.functions.SimhashVotes)
    docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      .select(col("doc_id"), xxhash64(col("tok")).as("h"))
      .groupBy(col("doc_id"))
      .agg(votes(col("h")).as("simhash"))
  }

  /** SimHash near-dup pairs: 4x16-bit chunk LSH (pigeonhole: any pair
    * with hamming distance <= 3 shares at least one exact chunk), then
    * exact hamming via bit_count(xor). */
  def simhashDedup(docs: DataFrame, maxHamming: Int = 3,
      maxBucket: Int = 10000): DataFrame =
    hammingPairs(simhashes(docs), "doc_id", "simhash", maxHamming, maxBucket)
      .orderBy(col("d1"), col("d2"))

  /** Chunk-pigeonhole near-dup pairs over ANY 64-bit hash column
    * (SimHash over text, aHash over images, any locality-preserving
    * fingerprint): [[chunkRows]] buckets, so a pair within hamming
    * distance 3 is found without an all-pairs pass. Returns (d1, d2,
    * hamming) with d1 < d2, verified ≤ maxHamming. Bucket cap:
    * [[bandRows]]. */
  def hammingPairs(hashed: DataFrame, id: String, hash: String,
      maxHamming: Int = 3, maxBucket: Int = 10000): DataFrame =
    hammingCandidates(hashed, id, hash, maxBucket)
      .distinct()
      .filter(col("hamming") <= maxHamming)

  /** The candidate tier of [[hammingPairs]]: every (d1, d2, hamming)
    * chunk-bucket pair before the distinct and the hamming cut. */
  private[graft] def hammingCandidates(hashed: DataFrame, id: String,
      hash: String, maxBucket: Int): DataFrame =
    selfBucketPairs(
      chunkRows(hashed, Seq(col(id).as("doc_id"), col(hash).as("h")),
        col(hash)),
      Seq("chunk", "ck"), "doc_id", maxBucket)
      .select(col("x.doc_id").as("d1"), col("y.doc_id").as("d2"),
        bit_count(col("x.h").bitwiseXOR(col("y.h"))).as("hamming"))

  /** PORTABLE SimHash: the q217 portable-family device applied to
    * [[simhashes]] — per-token 64-bit fingerprints come from md5 hex
    * (two 32-bit halves via the q134 conv device) instead of
    * xxhash64, so ANY engine recomputes the identical signature:
    * bit i of a doc's simhash is the sign of Σ_tokens (±1 by bit i
    * of md5(token)), votes weighted by token frequency exactly as
    * the production [[simhashes]] weights them (exploded multiset,
    * not the distinct set). Integer votes are order-independent;
    * ties (vote == 0) deterministically clear the bit. Packing is a
    * carry-free bitwise OR of distinct powers of two (bit 63 rides
    * the sign bit — harmless for XOR/bit_count). Same row-local
    * shape as [[simhashes]]: one explode + one 64-accumulator
    * groupBy, partial-aggregated map-side. */
  def portableSimhashes(docs: DataFrame): DataFrame = {
    val perTok = docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("w"))
      .select(col("doc_id"),
        conv(substring(md5(col("w")), 1, 8), 16, 10).cast("long")
          .as("h1"),
        conv(substring(md5(col("w")), 9, 8), 16, 10).cast("long")
          .as("h2"))
    val votes = (0 until 64).map { i =>
      val h = if (i < 32) col("h1") else col("h2")
      sum(when(shiftright(h, i % 32).bitwiseAND(lit(1L)) === 1L, 1L)
        .otherwise(-1L)).as(s"v$i")
    }
    val packed = (0 until 64).map { i =>
      when(col(s"v$i") > 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce((a, b) => a.bitwiseOR(b))
    perTok.groupBy(col("doc_id"))
      .agg(votes.head, votes.tail: _*)
      .select(col("doc_id"), packed.as("simhash"))
  }

  /** SimHash near-dup pairs over the PORTABLE signature — q29's
    * semantics upgraded from rows-only to hash-exact: the chunk
    * pigeonhole, the exact-hamming verify, and the ≤ maxHamming cut
    * all ride [[hammingPairs]] unchanged, and because the signature
    * family is md5 the oracle replays signature → 16-bit chunk join →
    * hamming end to end (DuckDB's `hamming()` over the bit string ==
    * Spark's `bit_count(xor)` over the packed long; chunk-substring
    * equality == the shifted-mask equality). The oracle replays the
    * chunk join uncapped ([[bandRows]]). */
  def portableSimhashPairs(docs: DataFrame, maxHamming: Int = 3,
      maxBucket: Int = 10000): DataFrame =
    hammingPairs(portableSimhashes(docs), "doc_id", "simhash",
      maxHamming, maxBucket)
      .select(col("d1"), col("d2"),
        col("hamming").cast("long").as("hamming"))
      .orderBy(col("d1"), col("d2"))

  /** Stopword-profile language ID over documents (heuristic demo — the
    * synthetic corpus shares one vocabulary across langs, so this
    * illustrates the operator rather than recovering the label). */
  /** Stopword profiles for [[langId]] — also the source of q30's
    * oracle SQL, so the two can never drift. */
  private[graft] val langProfiles: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "is"),
    "es" -> Seq("el", "la", "de", "que", "y"),
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "fr" -> Seq("le", "la", "les", "et", "est"),
    "zh" -> Seq("的", "是", "了"))

  def langId(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("lang").as("labeled_lang"),
      languageId(col("text"), langProfiles).as("predicted_lang"))
      .orderBy(col("doc_id"))

  /** Language-ID with a CONFIDENCE margin — the router decision the
    * bare q30 argmax hides: a doc whose best and second-best stopword
    * profiles score within 0 of each other is code-mixed/ambiguous and
    * should go to a heavier classifier, not a language bucket.
    * Per doc: the argmax label (identical to [[langId]]'s earliest-
    * wins rule), the best overlap score, the margin to the runner-up,
    * and `confident` = positive score AND positive margin. Scores are
    * integer set-intersection sizes over a data-fixed profile
    * constant, computed in ONE narrow projection (no shuffle), and the
    * top-2 come from sorting the |langs|-length score array row-
    * locally — all integer algebra, so the generated oracle replays it
    * hash-exact. */
  def langIdConfidence(docs: DataFrame): DataFrame = {
    val toks = array_distinct(split(col("text"), " "))
    val scores = langProfiles.toSeq.sortBy(_._1).map { case (_, words) =>
      size(array_intersect(toks, array(words.map(lit): _*))).cast("long")
    }
    val srt = reverse(array_sort(array(scores: _*)))
    docs.select(col("doc_id"), col("lang").as("labeled_lang"),
        languageId(col("text"), langProfiles).as("predicted_lang"),
        element_at(srt, 1).as("top_score"),
        (element_at(srt, 1) - element_at(srt, 2)).as("margin"))
      .withColumn("confident",
        col("top_score") > 0L && col("margin") > 0L)
      .orderBy(col("doc_id"))
  }

  /** Connected components over a near-duplicate pair graph — the step
    * that turns pairwise matches into KEEP/DROP decisions (similarity
    * is not transitive, so near-dup groups are components, not
    * equivalence classes of any single key). Alternating
    * large-star/small-star rounds (Kiveris et al. 2014, "Connected
    * Components in MapReduce and Beyond"): each round rewires the
    * graph toward a forest of stars centered at component minima, and
    * the edge set converges in O(log diameter) rounds — vs the
    * O(diameter) of plain min-label propagation, which a planted long
    * chain (see TextDedupSpec) makes concrete. Each half-round is one
    * groupBy + one join over the (persisted) edge frame, all
    * distributed. The result (node -> min doc_id of its component) is
    * deterministic regardless of execution order. */
  def dupClusters(pairs: DataFrame, maxIters: Int = 20,
      driverEdgeLimit: Long = 100000L): DataFrame = {
    // Candidate-pair graphs are usually MINUSCULE next to the corpus
    // (LSH prunes to actual near-dups), while every star round costs
    // several scheduled jobs — latency, not throughput. Below an
    // explicitly bounded edge count (100k edges ≈ 1.6 MB — the same
    // model-sized-collect class as k-means centroids) the components
    // compute faster as one in-memory union-find than as one Spark
    // job; at or above the bound the distributed star rounds run
    // unchanged. Both paths produce the identical (node, component
    // minimum) result — spec-pinned.
    val spark = pairs.sparkSession
    val canonical = pairs
      .select(least(col("d1"), col("d2")).as("a"),
        greatest(col("d1"), col("d2")).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
      .persist()
    val nEdges = canonical.count()
    val out =
      if (nEdges < driverEdgeLimit) {
        val edges = canonical.collect().map(r => (r.getLong(0), r.getLong(1)))
        import spark.implicits._
        driverUnionFind(edges).toDF("doc_id", "cluster_id")
          .orderBy(col("doc_id"))
      } else dupStarRounds(canonical, maxIters, alreadyCanonical = true)
        .state
    canonical.unpersist(false)
    out
  }

  /** In-memory union-find (path halving + union by min): the driver
    * tier of [[dupClusters]] for bounded edge sets. Returns (node,
    * component minimum) sorted by node — bit-identical to the
    * distributed star rounds' output. */
  private def driverUnionFind(edges: Array[(Long, Long)])
      : Seq[(Long, Long)] = {
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x0: Long): Long = {
      var x = x0
      while (parent.getOrElse(x, x) != x) {
        val p = parent(x)
        parent(x) = parent.getOrElse(p, p) // path halving
        x = parent(x)
      }
      x
    }
    edges.foreach { case (a, b) =>
      val ra = find(a); val rb = find(b)
      if (ra != rb) {
        // union by MIN root: the representative invariant holds at
        // every step, so no second pass to relabel roots is needed
        if (ra < rb) parent(rb) = ra else parent(ra) = rb
      }
    }
    val nodes = edges.iterator.flatMap { case (a, b) => Iterator(a, b) }
      .toArray.distinct
    nodes.sorted.map(n => (n, find(n))).toSeq
  }

  /** [[dupClusters]]' distributed tier: large-star/small-star rounds
    * to an edge-set fixpoint on the [[Iterate]] device, at most
    * `maxIters` of them. The result carries the (node, component
    * minimum) frame, the rounds run and whether the fixpoint was
    * reached. */
  private[graft] def dupStarRounds(pairs: DataFrame, maxIters: Int,
      alreadyCanonical: Boolean): Iterate.Result[DataFrame] = {
    // canonical undirected edges: a < b, dedup'd, no self-loops
    // (callers holding a persisted canonical frame pass it through)
    val canonical =
      if (alreadyCanonical) pairs
      else pairs
        .select(least(col("d1"), col("d2")).as("a"),
          greatest(col("d1"), col("d2")).as("b"))
        .filter(col("a") =!= col("b"))
        .distinct()
        .persist()
    // Size the ITERATION's parallelism to the dup graph, not the
    // corpus: candidate pairs are orders of magnitude fewer than
    // documents, and every star round schedules a join+aggregate over
    // these frames — at the session's default partition count that is
    // hundreds of near-empty tasks per round. ~1M edges per task keeps
    // rounds one-stage-small; a genuinely huge dup graph still fans out.
    val nEdges = canonical.count()
    val p = math.max(1, math.min(canonical.rdd.getNumPartitions,
      (nEdges / 1000000L).toInt + 1))
    // eager localCheckpoint: truncates LINEAGE, not just computation.
    // Every star round references its input several times (sym union,
    // groupBy build, join probe), so a persist-only iteration keeps a
    // logical plan that grows ~8x per round — the ANALYSIS blows up
    // long before execution would (measured: OOM at round ~6 on a
    // 63-edge chain). Checkpointing replaces each round's plan with a
    // LogicalRDD leaf, keeping plan size constant across rounds.
    val edges0 = canonical.coalesce(p).localCheckpoint(true)
    canonical.unpersist(false)

    // Large-star: every node u connects its LARGER neighbors to
    // m = min(Γ(u) ∪ {u}). Emitted edges (b, m) keep a<b canonical
    // because m <= a < b. Strictly decreases component "height".
    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.union(e.select(col("b").as("a"), col("a").as("b")))
      val mins = sym.groupBy(col("a")).agg(min(col("b")).as("mb"))
        .select(col("a"), least(col("a"), col("mb")).as("m"))
      sym.join(mins, "a")
        .filter(col("b") > col("a"))
        .select(col("m").as("a"), col("b"))
        .distinct()
    }
    // Small-star: orient edges max->min (u = b); every u connects its
    // smaller neighborhood N ∪ {u} to m = min(N). Emits (m, x) for
    // x in (N ∪ {u}) \ {m} — canonical since m < x.
    def smallStar(e: DataFrame): DataFrame = {
      val mins = e.groupBy(col("b")).agg(min(col("a")).as("m"))
      val fromN = e.join(mins, "b")
        .filter(col("a") =!= col("m"))
        .select(col("m").as("a"), col("a").as("b"))
      val fromU = mins.select(col("m").as("a"), col("b"))
      fromN.union(fromU).distinct()
    }
    // Convergence = edge-set fixpoint (the converged graph is a star
    // forest both operators leave unchanged). Detected by a
    // (count, hash-sum) fingerprint — one aggregate per round, no
    // edges-vs-edges join; the decimal sum of per-edge xxhash64 makes
    // a missed change a ~2^-64 event, and a false "changed" only
    // costs one extra no-op round.
    def fingerprint(e: DataFrame): (Long, String) = {
      val r = e.agg(count(lit(1)),
        sum(xxhash64(col("a"), col("b")).cast("decimal(38,0)"))).head
      (r.getLong(0), String.valueOf(r.get(1)))
    }
    // One checkpoint + one cached intermediate PER ROUND: the
    // half-round result is persisted so smallStar's two references
    // evaluate largeStar once, and the round result is eagerly
    // checkpointed so the next round starts from a leaf (see above —
    // lazily chained rounds cost 2^k evaluations AND 8^k plan nodes).
    // Superseded round blocks are graph-sized and reclaimed by the
    // ContextCleaner once the old `edges` reference is dropped. An
    // empty graph stops after one no-op round.
    val run = Iterate(edges0, Iterate.UntilKey(maxIters, fingerprint)) {
      edges =>
        val ls = largeStar(edges).persist()
        val next = smallStar(ls).localCheckpoint(true)
        ls.unpersist(false)
        next
    }
    // A graph that has not converged in maxIters rounds (diameter
    // > 2^maxIters — pathological by construction) would return
    // partially merged stars — surface it rather than stay silent.
    if (!run.converged)
      System.err.println(
        s"[graft] dupClusters: star rounds did NOT reach an edge-set " +
          s"fixpoint in $maxIters iterations; returned clusters may be " +
          "partially merged")
    val edges = run.state
    // At the fixpoint the graph is a star forest, so every node's
    // component min is min(neighbors ∪ self) — one symmetric groupBy.
    // Materialize and truncate lineage: the plan spans every round,
    // whose intermediate caches are about to be released; the result
    // is node-count-sized (dup-graph nodes, not the corpus).
    val out = edges
      .union(edges.select(col("b").as("a"), col("a").as("b")))
      .groupBy(col("a"))
      .agg(min(col("b")).as("mb"))
      .select(col("a").as("doc_id"),
        least(col("a"), col("mb")).as("cluster_id"))
      .orderBy(col("doc_id"))
      .localCheckpoint(true)
    edges.unpersist(false)
    run.copy(state = out)
  }

  /** Temporal sessionization as connected components — the oracle-
    * checkable demonstration of [[dupClusters]] on a real graph (the
    * near-dup graphs of q82 hang off engine-specific MinHash, so the
    * driver can only count their rows; this edge set is pure SQL).
    *
    * Edges chain each customer's order to its predecessor (ordered by
    * (o_orderdate, o_orderkey)) when the gap is <= `gapDays`; the
    * components of that chain graph are exactly the classic
    * gaps-and-islands sessions, which a window query expresses in SQL
    * — so the generic star-rounds operator is verified bit-for-bit
    * against an independent sessionization oracle, including the
    * min-id-per-component convention (session_id = min orderkey).
    *
    * Scale: one lag window (custkey-keyed shuffle) emits O(orders)
    * chain edges — never the O(per-customer²) pair join — and the CC
    * rounds run on the multi-order subset only. Singleton orders skip
    * the graph entirely and rejoin as their own session at the end. */
  def orderSessions(orders: DataFrame, gapDays: Int = 30): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    val edges = orders
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
      .withColumn("prev_key", lag(col("o_orderkey"), 1).over(w))
      .withColumn("prev_date", lag(col("o_orderdate"), 1).over(w))
      .filter(col("prev_key").isNotNull &&
        datediff(col("o_orderdate"), col("prev_date")) <= gapDays)
      .select(col("prev_key").as("d1"), col("o_orderkey").as("d2"))
    val clusters = dupClusters(edges)
      .select(col("doc_id").as("o_orderkey"), col("cluster_id"))
    orders.select(col("o_orderkey"), col("o_custkey"))
      .join(clusters, Seq("o_orderkey"), "left")
      .select(col("o_orderkey"), col("o_custkey"),
        coalesce(col("cluster_id"), col("o_orderkey")).as("session_id"))
      .orderBy(col("o_orderkey"))
  }

  /** Entity resolution by fuzzy name match: candidate pairs blocked
    * on nation (the blocking key bounds the pair space — same role
    * the (lang, source) buckets play for jaccard pairs), verified by
    * levenshtein edit distance. Classic record-linkage shape: at
    * scale the blocking key is the whole candidate generator, and the
    * codegen'd levenshtein is the per-pair verify. Nation cardinality
    * is data-FIXED (25), so blocks grow linearly with the table —
    * [[capBlocks]] bounds each block to its `maxBlock` smallest
    * custkeys so a populous nation degrades to a deterministic
    * truncation instead of O(block²). */
  def fuzzyNameMatches(customer: DataFrame, maxDist: Int = 1,
      maxBlock: Int = 10000): DataFrame = {
    val capped = capBlocks(customer, Seq("c_nationkey"),
      Seq(col("c_custkey")), maxBlock)
    val a = capped.select(col("c_nationkey").as("nk"),
      col("c_custkey").as("id1"), col("c_name").as("n1"))
    val b = capped.select(col("c_nationkey").as("nk"),
      col("c_custkey").as("id2"), col("c_name").as("n2"))
    // verify predicate, cheapest exact form first: k=1 gets the
    // zero-allocation single-scan WithinOneEditExpr; other thresholds
    // use the banded-DP builtin (O(len·k), -1 past the threshold) —
    // either way the full O(len²) DP never runs, and the cheap
    // orientation conjunct stays ahead of the scan
    val (verify, dist) =
      if (maxDist == 1)
        (graft.plans.FastOps.withinOneEdit(col("n1"), col("n2")),
          when(col("n1") === col("n2"), 0).otherwise(1))
      else {
        val bounded = levenshtein(col("n1"), col("n2"), maxDist)
        (bounded >= 0, bounded)
      }
    a.join(b, Seq("nk"))
      .filter(col("id1") < col("id2") && verify)
      .select(col("id1"), col("id2"), dist.as("dist"))
      .orderBy(col("id1"), col("id2"))
  }

  /** INCREMENTAL near-dup: find near-duplicate pairs between a FRESH
    * batch and an EXISTING corpus via MinHash bands, never generating
    * base x base pairs — the nightly-increment form of [[minhashDedup]]
    * (a growing corpus re-dedups only the increment against touched
    * buckets, not the world). At 100 TB the base side's banded bucket
    * table is a MATERIALIZED artifact — that path is
    * [[incrementalNearDupsMaterialized]] (q194), which probes the
    * partition-pruned at-rest table from [[materializedNearDupBase]]
    * instead of re-shingling the base. Same verify tier as the batch
    * form (exact shingle jaccard); each side is capped on its own
    * ([[crossBucketPairs]]). */
  def incrementalNearDups(base: DataFrame, fresh: DataFrame,
      shingleSize: Int = 3, numPerms: Int = 32, bands: Int = 8,
      threshold: Double = 0.5, maxBucket: Int = 10000): DataFrame =
    freshBasePairs(bandBuckets(fresh, shingleSize, numPerms, bands),
      bandBuckets(base, shingleSize, numPerms, bands), base, fresh,
      shingleSize, threshold, maxBucket)

  /** (doc_id, band, bh) banded bucket keys — the blocked candidate
    * space shared by the batch, in-memory and materialized incremental
    * paths. */
  private def bandBuckets(df: DataFrame, shingleSize: Int, numPerms: Int,
      bands: Int): DataFrame =
    bandRows(minhashSignatures(df, shingleSize, numPerms),
      Seq(col("doc_id")), MinhashBands,
      minhashBandKeys(col("sig"), bands, numPerms / bands))

  /** Fresh×base bucket pairs of the two incremental paths, verified
    * with exact shingle jaccard as (d_new, d_base, jaccard). */
  private def freshBasePairs(nb: DataFrame, bb: DataFrame,
      base: DataFrame, fresh: DataFrame, shingleSize: Int,
      threshold: Double, maxBucket: Int): DataFrame = {
    val candidates = crossBucketPairs(nb, bb, Seq("band", "bh"), maxBucket)
      .select(col("x.doc_id").as("d_new"), col("y.doc_id").as("d_base"))
      .distinct()
    def sh(df: DataFrame) = df.select(col("doc_id"),
      sortedShingles(col("text"), shingleSize).as("sh"))
    jaccardVerify(candidates, "d_new", sh(fresh), "d_base", sh(base),
      threshold)
      .orderBy(col("d_new"), col("d_base"))
  }

  /** Partition count for the materialized base bucket table:
    * bands x BhPartitions directories, each holding one slice of the
    * (band, bh) bucket space. 64 keeps directory counts sane while a
    * small increment still touches only its own slices. */
  private val BhPartitions = 64

  private val baseBucketTables = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String), String]

  /** The AT-REST form of the incremental-neardup base side: the banded
    * bucket table written ONCE to the lake as a real catalog table —
    * partitioned by `pp = band * 64 + (bh mod 64)` (512 directories
    * covering the (band, bh) bucket space) and bucketed+sorted by `bh`
    * inside each partition. This is the artifact SURVEY §8 promises
    * for q155 at 100 TB: the nightly increment never re-shingles the
    * corpus, it PLANS ITS SCAN from its own touched bucket keys and
    * reads only those partitions (the [[graft.operators.ScalePatterns
    * .bucketedTableNames]] precedent, plus partition pruning). Cached
    * per (session, key) like the q162 bucketed tables. */
  def materializedNearDupBase(s: SparkSession, base: DataFrame, key: String,
      shingleSize: Int = 3, numPerms: Int = 32, bands: Int = 8): String = {
    // the signature parameters are part of the artifact identity — a
    // key reused with different shingle/perm/band settings must build
    // its own table, not probe the first build's bucket space
    val fullKey = s"$key|s=$shingleSize|p=$numPerms|b=$bands"
    baseBucketTables.getOrElseUpdate((s, fullKey), {
      // sanitized FULL key in the table name (hashCode alone can
      // collide across keys and silently overwrite another base)
      val name = "graft_nd_base_" +
        fullKey.replaceAll("[^A-Za-z0-9]", "_").takeRight(48) +
        "_" + java.lang.Integer.toHexString(fullKey.hashCode)
      val dir = java.nio.file.Files.createTempDirectory("graft_nd_base_")
      bandBuckets(base, shingleSize, numPerms, bands)
        .withColumn("pp", (col("band") * BhPartitions +
          pmod(col("bh"), lit(BhPartitions.toLong))).cast("int"))
        // r17 (guide §6, "hash distribution avoids the many-small-
        // files problem"): cluster rows by their output directory
        // BEFORE the partitioned+bucketed write — without it every
        // write task holds rows of ~all 512 pp dirs and opens a file
        // per (dir × bucket) it touches (measured: 9 tasks × ~4k file
        // creates = 216 s of task time at sf0.1; the serve then pays
        // the same multiple reading them back). One task per pp slice
        // writes each (pp, bucket) file exactly once. Layout, values
        // and the pruning contract (IncrementalMatSpec) are unchanged.
        .repartition(col("pp"))
        .write.partitionBy("pp").bucketBy(8, "bh").sortBy("bh")
        .option("path", s"$dir/t").mode("overwrite").saveAsTable(name)
      name
    })
  }

  /** [[incrementalNearDups]] probing the MATERIALIZED base bucket
    * table instead of re-shingling the base corpus: the increment's
    * distinct partition keys (bounded by bands x 64 = 512 ints —
    * parallelism-sized driver state, never data-sized) become a static
    * `pp IN (...)` partition filter on the base scan, so the probe
    * reads O(touched partitions), not O(corpus). Result-identical to
    * the in-memory path (IncrementalMatSpec pins equality, the
    * PartitionFilters entry, and the single base-table scan); the
    * verify tier still joins base text, but only for the candidate
    * doc_ids the pruned bucket join surfaced. */
  def incrementalNearDupsMaterialized(s: SparkSession, base: DataFrame,
      fresh: DataFrame, key: String, shingleSize: Int = 3,
      numPerms: Int = 32, bands: Int = 8, threshold: Double = 0.5,
      maxBucket: Int = 10000): DataFrame = {
    val table = materializedNearDupBase(s, base, key, shingleSize,
      numPerms, bands)
    // the increment's signatures feed the touched-partition collect
    // AND the bucket join — localCheckpoint runs the minhash job once
    val nb0 = bandBuckets(fresh, shingleSize, numPerms, bands)
      .withColumn("pp", (col("band") * BhPartitions +
        pmod(col("bh"), lit(BhPartitions.toLong))).cast("int"))
      .localCheckpoint()
    val touched = nb0.select(col("pp")).distinct()
      .collect().map(_.getInt(0)).sorted
    val bbScan =
      if (touched.isEmpty) s.table(table).filter(lit(false))
      else s.table(table).filter(col("pp").isin(touched.map(Int.box): _*))
    freshBasePairs(nb0.select(col("doc_id"), col("band"), col("bh")),
      bbScan.select(col("doc_id"), col("band"), col("bh")), base, fresh,
      shingleSize, threshold, maxBucket)
  }

  /** Cross-corpus dedup screen: drop candidate documents whose content
    * fingerprint already exists in a base corpus — the don't-re-ingest
    * gate between a new crawl snapshot and the training set it extends
    * (RefinedWeb, Penedo et al. 2023, arXiv:2306.01116, runs this
    * between CommonCrawl dumps). The fingerprint is the sorted-
    * distinct-token md5 (the token-set key of [[TextAnalysis
    * .dedupTokenSet]] — order- and repetition-insensitive); substitute
    * raw `md5(text)` for byte-exact screening.
    *
    * Scale: the base side collapses to DISTINCT hashes before the
    * probe, and the probe is ONE hash-keyed left anti join; at 100 TB
    * the base hash set additionally feeds a bloom runtime filter at
    * the candidate scan (the [[RuntimeFilters]] pattern) so already-
    * ingested docs are dropped before they ever shuffle. */
  def crossCorpusNew(docs: DataFrame, isBase: Column): DataFrame =
    crossCorpusNewAgainst(docs.filter(!isBase), docs.filter(isBase))
      .orderBy(col("doc_id"))

  /** Two-frame form of [[crossCorpusNew]]: screen `candidates`
    * against a separate `base` corpus. No final sort, so it runs
    * UNCHANGED as an append-mode stream of candidates against a
    * static base (stream-static left anti join — stateless, no
    * watermark; StreamingSpec pins stream == batch). */
  def crossCorpusNewAgainst(candidates: DataFrame,
      base: DataFrame): DataFrame = {
    val fp = md5(array_join(
      array_sort(array_distinct(split(col("text"), " "))), " "))
    val baseFps = base.select(fp.as("fp")).distinct()
    candidates
      .withColumn("fp", fp)
      .join(baseFps, Seq("fp"), "left_anti")
      .select(col("doc_id"), col("lang"), col("source"), col("fp"))
  }

  /** Cross-document EXACT-SUBSTRING dedup with rewrite — the
    * ExactSubstr deduplication of Lee et al. 2022 ("Deduplicating
    * Training Data Makes Language Models Better", arXiv:2107.06499
    * §4.1) at k-token granularity: any k-token span that already
    * occurred earlier in the corpus (global first occurrence = lowest
    * (doc_id, pos)) is CUT from every later occurrence, and each
    * document is rewritten from its surviving tokens. Finer-grained
    * than [[graft.operators.CorpusSignals]]' C4 line dedup (spans
    * cross line boundaries) and stricter than doc-level near-dup —
    * the boilerplate sentence stamped into a million pages survives
    * exactly once.
    *
    * Relational all the way down, no suffix array needed at this
    * granularity: (1) slide k-grams with positions — k-bounded
    * amplification of the token stream; (2) global first occurrence
    * per gram = partial-aggregatable min(struct(doc_id, pos)) — ONE
    * gram-keyed shuffle; (3) non-first span occurrences expand to
    * their k covered token indices and collapse to one per-doc drop
    * SET (a groupBy carrying only duplicated-span indices); (4) one
    * doc-keyed left join hands each doc its drop set and an
    * index-aware `filter` lambda rewrites the token array in place —
    * the corpus is never token-exploded or re-assembled
    * ([[rewriteWithoutSpans]]).
    * Everything is integers and strings (no floats), so q192's oracle
    * replays the identical algebra in DuckDB hash-exactly. NOTE: that
    * oracle SQL hardcodes the DEFAULT k=5 (range(0, len-4),
    * toks[pos+1:pos+5], generate_series(0,4)) — q192 must keep calling
    * this operator with the default; any other k is spec-territory,
    * not oracle-checked. Per-doc
    * state is bounded by doc length; no windows, no driver data.
    * Docs shorter than k tokens pass through untouched; a fully
    * duplicated doc rewrites to the empty string (filter on
    * n_tokens_kept to drop husks). */
  def exactSubstrDedup(documents: DataFrame, k: Int = 5): DataFrame = {
    val docs = documents.select(col("doc_id"),
      split(col("text"), " ").as("toks"))
    val spans = kGramSpans(docs, k)
    val firstOcc = spans.groupBy(col("gram"))
      .agg(min(struct(col("doc_id"), col("pos"))).as("f"))
    val dupSpans = spans.join(firstOcc, Seq("gram"))
      .filter(col("doc_id") =!= col("f.doc_id") ||
        col("pos") =!= col("f.pos"))
      .select(col("doc_id"), col("pos"))
    rewriteWithoutSpans(docs, dupSpans, k, "text_dedup")
      .orderBy(col("doc_id"))
  }

  /** k-token spans with 0-based start positions: (doc_id, pos, gram)
    * for every length-k token window of every doc with ≥ k tokens.
    * Shared by [[exactSubstrDedup]] and [[spanDecontaminate]]. */
  private def kGramSpans(docs: DataFrame, k: Int): DataFrame = {
    require(k >= 1, s"span length k must be >= 1 (got $k)")
    // the span transform+posexplode is the CPU-dense row-local pass
    // of the decontamination family — fan out an under-partitioned
    // scan so it parallelizes (Par.fanOut — no-op at scale; spans are
    // row-local, downstream aggregates order-independent)
    Par.fanOut(docs).filter(size(col("toks")) >= k)
      .select(col("doc_id"), posexplode(expr(
        s"transform(sequence(0, size(toks) - $k), " +
          s"i -> array_join(slice(toks, i + 1, $k), ' '))"))
        .as(Seq("pos", "gram")))
  }

  /** Cut the k-token spans at `cutSpans` (doc_id, pos) out of `docs`
    * (doc_id, toks) and rebuild each affected document from its
    * surviving tokens. The cut indices collapse to ONE per-doc
    * `collect_set` (bounded by doc length — the same bound the old
    * collect_list reassembly had) and the rewrite is a single left
    * join + an index-aware `filter` lambda over the token array: the
    * corpus is never token-exploded, never anti-joined per token,
    * never re-assembled per doc. The only shuffles keyed by training
    * data are the cut-span groupBy (carries CONTAMINATED span
    * indices, not the corpus) and the one doc-keyed join — which AQE
    * turns into a broadcast of the drop sets whenever contamination
    * is sparse, leaving the corpus side completely shuffle-free.
    * Untouched docs see a null drop set and round-trip
    * `array_join(toks)` in the same narrow projection. Output:
    * (doc_id, n_tokens, n_dropped, `outCol`). */
  private def rewriteWithoutSpans(docs: DataFrame, cutSpans: DataFrame,
      k: Int, outCol: String): DataFrame = {
    val dropSets = cutSpans
      .select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + lit(k - 1))).as("idx"))
      .groupBy(col("doc_id"))
      .agg(collect_set(col("idx")).as("drop_idx"))
    docs.join(dropSets, Seq("doc_id"), "left")
      .select(col("doc_id"), size(col("toks")).as("n_tokens"),
        coalesce(size(col("drop_idx")), lit(0)).cast("long")
          .as("n_dropped"),
        array_join(expr(
          "filter(toks, (t, i) -> drop_idx IS NULL OR " +
            "NOT array_contains(drop_idx, i))"), " ").as(outCol))
  }

  /** SPAN-LEVEL decontamination: every k-token span of a training
    * document that also occurs anywhere in a benchmark/eval corpus is
    * cut and the document rewritten from its surviving tokens — the
    * surgical alternative to [[CorpusSignals]]' q92 doc-drop
    * contamination sweep (dropping a whole book for one quoted eval
    * question wastes the book; cutting the quote keeps it). This is
    * the eval-overlap variant of Lee et al. 2022's ExactSubstr cut
    * (arXiv:2107.06499 §4.1 — they dedup train-vs-train; here the
    * gram universe is train-vs-benchmark) and the span granularity
    * matches the 13-gram overlap definition GPT-3 used for its
    * contamination study (Brown et al. 2020, arXiv:2005.14165 §4) at
    * configurable k.
    *
    * Scale shape, and why it beats [[exactSubstrDedup]]'s profile for
    * this job: the gram-keyed side is only the BENCHMARK's distinct
    * k-grams — eval suites are MBs against a 100 TB corpus, so that
    * set broadcast-joins against the training span stream and the
    * training corpus never shuffles on gram at all. The only wide
    * work keyed by training data is the drop-set groupBy +
    * one doc-keyed join, and [[rewriteWithoutSpans]] bounds both by
    * the contaminated span volume, not the corpus.
    * Integer/string algebra throughout, so q199's oracle replays it
    * hash-exactly (oracle pinned to the DEFAULT k=5). */
  /** Contamination REPORT — the reverse audit of
    * [[spanDecontaminate]]: for every benchmark/eval document, the
    * fraction of its k-gram spans that occur anywhere in the training
    * corpus. This is the per-item "dirty fraction" table every eval
    * release publishes (GPT-3's contamination study reports exactly
    * this overlap statistic per benchmark, Brown et al. 2020,
    * arXiv:2005.14165 §4 / App. C) — run it BEFORE training to decide
    * what to scrub, and after to prove the scrub worked.
    *
    * Scale shape: the only thing that ever holds the training
    * corpus is one left-semi join of training grams against the
    * BROADCAST distinct benchmark gram set (training never shuffles;
    * the semi-join output is bounded by |benchmark grams|, not the
    * corpus). The per-doc rollup then runs entirely on benchmark-
    * sized data. The contamination rate is a single IEEE division
    * (the q74 tf/df convention), so q200's oracle replays it
    * bit-exactly (pinned to the default k=5). */
  def contaminationReport(training: DataFrame, benchmark: DataFrame,
      k: Int = 5): DataFrame = {
    val bdocs = benchmark.select(col("doc_id"),
      split(col("text"), " ").as("toks"))
    val bspans = kGramSpans(bdocs, k)
    val benchGramSet = bspans.select(col("gram")).distinct()
    // training grams that appear in the benchmark — the broadcast
    // semi join filters the corpus-sized gram stream MAP-SIDE (no
    // training shuffle), and the distinct's partial aggregation
    // combines the surviving occurrences before its exchange, so the
    // shuffle carries at most parallelism × |benchmark grams| partial
    // rows (never the raw hit-occurrence volume)
    val hitGrams = kGramSpans(
      training.select(col("doc_id"), split(col("text"), " ").as("toks")), k)
      .select(col("gram"))
      .join(broadcast(benchGramSet), Seq("gram"), "left_semi")
      .distinct()
    val perDoc = bspans.join(hitGrams, Seq("gram"), "left_semi")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_contaminated"))
    bdocs
      .select(col("doc_id"),
        greatest(size(col("toks")) - lit(k - 1), lit(0)).as("n_spans"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_spans"),
        coalesce(col("n_contaminated"), lit(0L)).as("n_contaminated"),
        when(col("n_spans") > 0,
          coalesce(col("n_contaminated"), lit(0L)).cast("double") /
            col("n_spans").cast("double"))
          .otherwise(lit(0.0)).as("contamination"))
      .orderBy(col("doc_id"))
  }

  def spanDecontaminate(training: DataFrame, benchmark: DataFrame,
      k: Int = 5): DataFrame = {
    val docs = training.select(col("doc_id"),
      split(col("text"), " ").as("toks"))
    // the SAME gram constructor as the report and the rewrite kernel
    // (one definition — the decontaminate/report pair cannot drift)
    val benchGrams = kGramSpans(
      benchmark.select(col("doc_id"), split(col("text"), " ").as("toks")),
      k).select(col("gram")).distinct()
    val hits = kGramSpans(docs, k)
      .join(benchGrams, Seq("gram"))
      .select(col("doc_id"), col("pos"))
    rewriteWithoutSpans(docs, hits, k, "text_clean")
      .orderBy(col("doc_id"))
  }

  /** Dataset-RELEASE pipeline: decontaminate → quality-gate → shard,
    * emitted as the release's shard manifest — the end-to-end "cut
    * the eval leakage, drop the husks, ship accountable shards" flow
    * a training-set release actually runs, composed as ONE Catalyst
    * plan (the q130/q187 composition convention extended to the r9
    * operators). Stages:
    *
    *   1. [[spanDecontaminate]] vs the benchmark corpus;
    *   2. release gate: a doc survives iff it lost LESS than half its
    *      tokens to the scrub AND keeps ≥ `minTokens` — husks and
    *      mostly-quoted docs don't ship (the kept-token count is
    *      already on the row: no re-tokenize);
    *   3. deterministic shard assignment + per-shard manifest with
    *      the order-insensitive bit_xor checksum over the CLEANED
    *      text ([[graft.operators.ScalePatterns.shardManifest]]'s
    *      algebra — what the released lake layout is audited
    *      against).
    *
    * Every stage is integer/string algebra, so the composition stays
    * hash-exact end-to-end: q201's oracle chains q199's CTE through
    * the same gate and manifest SQL. Scale shape = q199's (benchmark
    * grams broadcast, wide work rides contaminated volume) plus one
    * partial-agg manifest shuffle of nShards×parallelism rows. */
  def releaseManifest(training: DataFrame, benchmark: DataFrame,
      k: Int = 5, nShards: Int = 16, minTokens: Int = 20): DataFrame = {
    val released = spanDecontaminate(training, benchmark, k)
      .filter(col("n_dropped") * 2 < col("n_tokens") &&
        col("n_tokens") - col("n_dropped") >= minTokens)
    released
      .withColumn("shard", ScalePatterns.shardId(nShards))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens") - col("n_dropped")).as("n_tokens"),
        expr("bit_xor(cast(conv(substring(md5(concat(" +
          "cast(doc_id as string), ':', text_clean)), 1, 15), 16, 10) " +
          "as bigint))").as("content_xor"))
      .orderBy(col("shard"))
  }

  /** [[crossCorpusNewAgainst]] with the promised bloom runtime-filter
    * prefix made code: a Bloom sketch over the base fingerprints is
    * embedded as a scan-side predicate on the candidates, splitting
    * them into definite-new rows (bloom says "not in base" — no false
    * negatives, so they ARE new and bypass the shuffle entirely) and
    * maybe-dup rows (bloom positive — the exact anti join settles
    * them, absorbing the ~fpp false positives). Result is row-identical
    * to the plain form — q189 pins that against q145's oracle.
    *
    * Scale shape: the anti-join shuffle now carries only
    * |dups| + fpp·|new| candidate rows instead of ALL of them — for a
    * fresh crawl screened against an ingested corpus (mostly-new
    * traffic) that is the difference between shuffling the crawl and
    * shuffling almost nothing. Fingerprints are hashed to longs on
    * both sides so the sketch stays on the proven long-typed
    * [[RuntimeFilters]] path; a hash collision is just one more false
    * positive for the anti join. Build cost is two tiny jobs over the
    * collapsed base hash set (count + sketch), same convention as
    * [[RuntimeFilters.bloomPrunedOrderRevenue]]: the cache is released
    * before returning, so the maybe-branch re-derives the base scan
    * with pushdown at execution time. */
  /** The content fingerprint shared by the cross-corpus screen family
    * (sorted-distinct-token md5 — [[crossCorpusNewAgainst]]'s key). */
  // private[operators]: the q340/q341 admission manifest composes
  // this exact screen — ONE fingerprint definition (and one SQL twin,
  // below), so the composition cannot drift from q145/q258/q336
  private[operators] val contentFp: Column = md5(array_join(
    array_sort(array_distinct(split(col("text"), " "))), " "))

  /** [[contentFp]]'s DuckDB spelling — shared with the q340/q341
    * oracle. */
  private[operators] val contentFpSql: String =
    "md5(array_to_string(list_sort(list_distinct(" +
      "string_split(text, ' '))), ' '))"

  def crossCorpusNewBloomScreened(candidates: DataFrame, base: DataFrame,
      fpp: Double = 0.01): DataFrame = {
    val fp = contentFp
    val baseFps = base.select(fp.as("fp")).distinct()
    baseFps.persist()
    val bloom =
      try RuntimeFilters.buildBloom(
        baseFps.select(xxhash64(col("fp")).as("h")), "h",
        baseFps.count(), fpp)
      finally baseFps.unpersist(false)
    val withFp = candidates.withColumn("fp", fp)
      .select(col("doc_id"), col("lang"), col("source"), col("fp"))
    val inBloom = RuntimeFilters.mightContain(bloom, xxhash64(col("fp")))
    val definiteNew = withFp.filter(!inBloom)
    val maybeDup = withFp.filter(inBloom).join(baseFps, Seq("fp"), "left_anti")
      .select(col("doc_id"), col("lang"), col("source"), col("fp"))
    definiteNew.unionByName(maybeDup)
  }

  /** LSH BAND-PLANNER card — the (bands, rows) design decision behind
    * q28/q155's MinHash blocking, made explicit: for every divisor
    * split b·r = `numPerms`, the S-curve collision probability
    * 1 − (1 − j^r)^b at a below-threshold, at-threshold and
    * above-threshold design point, plus the separation
    * p(jHi) − p(jLo) and the chosen row (max separation, tie → fewer
    * bands). More bands = catch lower similarities (recall), more
    * rows per band = sharper cutoff (precision) — this card is how a
    * deployment picks the operating point BEFORE paying for a corpus
    * pass, and BandPlanSpec calibrates the analytic curve against
    * realized MinHash collision rates. The default numPerms matches
    * the tiers this card plans for (q28/q312's 16 — the r12 verdict's
    * coherence gap, closed), and [[lshBandChoice]] is the same
    * selection rule as pure driver math so a tier can ACCEPT the
    * planner's chosen row instead of hardcoding (bands, rows).
    *
    * Cross-engine exactness: j^r and (1−j^r)^b are SEQUENTIAL
    * left-fold products (first step 1.0·x is exact, every later IEEE
    * multiply identical in any engine) — never pow/exp/ln, whose libm
    * implementations drift by ulps. |divisors|-row relation: all
    * driver/codegen trivia, zero data read. */
  def lshBandPlan(spark: SparkSession, numPerms: Int = 16,
      jLo: Double = 0.3, jMid: Double = 0.5,
      jHi: Double = 0.7): DataFrame = {
    import spark.implicits._
    val pairs = (1 to numPerms).filter(numPerms % _ == 0)
      .map(b => (b, numPerms / b))
    def p(j: Double): Column = {
      val jr = aggregate(sequence(lit(1), col("r")), lit(1.0),
        (acc, _) => acc * lit(j))
      lit(1.0) - aggregate(sequence(lit(1), col("b")), lit(1.0),
        (acc, _) => acc * (lit(1.0) - jr))
    }
    val scored = pairs.toDF("b", "r")
      .select(col("b"), col("r"), p(jLo).as("p_lo"), p(jMid).as("p_mid"),
        p(jHi).as("p_hi"))
      .withColumn("separation", col("p_hi") - col("p_lo"))
    val best = scored
      .agg(max(struct(col("separation"), (-col("b")).as("nb"))).as("mx"))
    scored.crossJoin(broadcast(best))
      .select(col("b"), col("r"), col("p_lo"), col("p_mid"), col("p_hi"),
        col("separation"),
        (struct(col("separation"), (-col("b")).as("nb")) === col("mx"))
          .as("chosen"))
      .orderBy(col("b"))
  }

  /** [[lshBandPlan]]'s selection rule as PURE DRIVER MATH — identical
    * association order (sequential left-fold products, never pow), so
    * the chosen (bands, rows) is bit-for-bit the planner card's
    * chosen row (spec-pinned) and a tier can take its operating point
    * FROM the planner instead of hardcoding it. Max separation
    * p(jHi) − p(jLo) over the divisor splits, tie → fewer bands. */
  def lshBandChoice(numPerms: Int = 16, jLo: Double = 0.3,
      jHi: Double = 0.7): (Int, Int) = {
    def p(j: Double, b: Int, r: Int): Double = {
      var jr = 1.0; (1 to r).foreach(_ => jr *= j)
      var q = 1.0; (1 to b).foreach(_ => q *= (1.0 - jr))
      1.0 - q
    }
    (1 to numPerms).filter(numPerms % _ == 0)
      .map(b => (b, numPerms / b))
      .maxBy { case (b, r) => (p(jHi, b, r) - p(jLo, b, r), -b) }
  }

  /** [[portableMinhashPairs]] with (bands, rows) ACCEPTED from the
    * planner's chosen row ([[lshBandChoice]] at design points
    * threshold ± 0.2, clamped to (0, 1)) — the planner card and the
    * production tier can no longer drift: q263 computes the operating
    * point, this tier runs it. At the defaults the choice lands on
    * the (4, 4) split q312 hardcodes, so the two are bit-identical
    * there (spec-pinned); a deployment re-tuning `numPerms` or
    * `threshold` gets the re-planned banding automatically. */
  def portableMinhashPairsPlanned(docs: DataFrame, shingleSize: Int = 3,
      numPerms: Int = 16, threshold: Double = 0.5,
      maxBucket: Int = 10000): DataFrame = {
    val (bands, _) = lshBandChoice(numPerms,
      math.max(0.05, threshold - 0.2), math.min(0.95, threshold + 0.2))
    portableMinhashPairs(docs, shingleSize, numPerms, bands, threshold,
      maxBucket)
  }

  /** INCREMENTAL near-dup over the PORTABLE md5 MinHash family — the
    * last production family whose incremental form had no
    * driver-checked twin (the r13 verdict's item 3):
    * [[portableMinhashPairs]]'s signature/banding machinery at the
    * PLANNER-chosen split ([[lshBandChoice]], the q321 convention)
    * composed with [[incrementalNearDups]]' increment-vs-base
    * bucketing. The increment is the deterministic slice
    * doc_id % 10 = 3 (the q327 convention); band keys, the PER-SIDE
    * bucket caps ([[crossBucketPairs]], the q155 discipline), the
    * inc×base bucket probe and the exact
    * shingle-jaccard verify ALL replay in SQL — so the nightly
    * DECISION, which new docs near-duplicate the base and against
    * whom, is hash-exact for the first time (q335). No base×base
    * pair is ever formed: candidates join the increment's buckets
    * against the base's, so at 100 TB probe cost rides the
    * increment's touched buckets (q194's at-rest table materializes
    * the base side of exactly this join; this tier is its
    * oracle-replayable twin, spec-pinned equal to the batch tier's
    * inc×base restriction on corpora where the caps are inactive). */
  def portableIncrementalNearDups(docs: DataFrame, shingleSize: Int = 3,
      numPerms: Int = 16, threshold: Double = 0.5,
      maxBucket: Int = 10000): DataFrame = {
    val (bands, _) = lshBandChoice(numPerms,
      math.max(0.05, threshold - 0.2), math.min(0.95, threshold + 0.2))
    val based = Par.fanOut(docs)
      .select(col("doc_id"),
        (pmod(col("doc_id"), lit(10L)) === 3).as("is_inc"),
        sortedShingles(col("text"), shingleSize).as("sh"))
      .localCheckpoint() // feeds buckets AND both verify sides
    val buckets0 = portableBandedBuckets(based, numPerms, bands)
    val candidates = crossBucketPairs(buckets0.filter(col("is_inc")),
        buckets0.filter(!col("is_inc")), Seq("band", "bh"), maxBucket)
      .select(col("x.doc_id").as("new_id"),
        col("y.doc_id").as("base_id"))
      .distinct()
    jaccardVerify(candidates, "new_id", based, "base_id", based, threshold)
      .orderBy(col("new_id"), col("base_id"))
  }

  /** The DURABLE base side of [[portableIncrementalNearDups]] — the
    * q330 treatment for the MinHash family: the base corpus's
    * planner-banded portable band buckets written ONCE under a
    * commit-marked lake dir, so the nightly increment probe never
    * re-shingles or re-hashes the base (the by-name `docs` frame is
    * not even evaluated on the committed path). Stores the UNCAPPED
    * (doc_id, band, bh) rows; the serve applies the same per-side
    * bucket cap ([[crossBucketPairs]]) the inline tier applies, so the
    * two are bit-identical by construction. */
  def portableNearDupBaseDurable(s: SparkSession, docs: => DataFrame,
      dir: String, shingleSize: Int = 3, numPerms: Int = 16,
      threshold: Double = 0.5): String =
    portableNearDupBaseDurableFrom(s,
      docs.filter(pmod(col("doc_id"), lit(10L)) =!= 3), dir,
      shingleSize, numPerms, threshold)

  /** [[portableNearDupBaseDurable]] over an EXPLICIT base frame — the
    * seam the streaming admission twin probes through (its base is a
    * parameter, not a slice convention). */
  def portableNearDupBaseDurableFrom(s: SparkSession,
      base: => DataFrame, dir: String, shingleSize: Int = 3,
      numPerms: Int = 16, threshold: Double = 0.5): String = {
    val (bands, _) = lshBandChoice(numPerms,
      math.max(0.05, threshold - 0.2), math.min(0.95, threshold + 0.2))
    graft.Artifacts.durable(s, dir,
      s"pndbase|s=$shingleSize|p=$numPerms|b=$bands") { d =>
      val based = Par.fanOut(base)
        .select(col("doc_id"),
          sortedShingles(col("text"), shingleSize).as("sh"))
      portableBandedBuckets(based, numPerms, bands)
        .write.mode("overwrite").parquet(s"$d/buckets")
    }
  }

  /** [[portableIncrementalNearDups]] probing the DURABLE base bucket
    * artifact: only the increment is shingled and hashed tonight; the
    * base contributes its at-rest band keys, and base TEXT is read
    * only for the candidate doc_ids the bucket probe surfaced (the
    * q194 economics on the oracle-replayable tier). Registered as
    * q337 with q335's oracle verbatim — the driver itself checks the
    * at-rest path changes nothing. */
  def portableIncrementalNearDupsDurable(s: SparkSession,
      docs: DataFrame, dir: String, shingleSize: Int = 3,
      numPerms: Int = 16, threshold: Double = 0.5,
      maxBucket: Int = 10000): DataFrame =
    portableIncNearDupsAgainstArtifact(s,
      docs.filter(pmod(col("doc_id"), lit(10L)) === 3),
      docs.filter(pmod(col("doc_id"), lit(10L)) =!= 3),
      dir, shingleSize, numPerms, threshold, maxBucket)

  /** The at-rest probe over an ARBITRARY increment frame — also the
    * per-micro-batch transform of the streaming admission twin. Only
    * the increment is shingled; base text is read ONLY for candidate
    * ids. Per-doc decisions are independent (no inc×inc pair is ever
    * considered), so micro-batched serving unions to the batch
    * result by construction. */
  def portableIncNearDupsAgainstArtifact(s: SparkSession,
      inc: DataFrame, base: => DataFrame, dir: String,
      shingleSize: Int = 3, numPerms: Int = 16,
      threshold: Double = 0.5, maxBucket: Int = 10000): DataFrame = {
    val d = portableNearDupBaseDurableFrom(s, base, dir, shingleSize,
      numPerms, threshold)
    portableIncNearDupsCore(s, inc, base,
      s.read.parquet(s"$d/buckets"), shingleSize, numPerms, threshold,
      maxBucket)
  }

  /** APPEND a nightly increment's band keys to the durable near-dup
    * base as a commit-marked delta ([[graft.Artifacts.appendDelta]];
    * the lifecycle contract lives in the [[graft.Artifacts]] header):
    * only the increment is shingled and hashed — the base is
    * untouched — and because the portable band keys are PER-DOC
    * deterministic (no corpus-dependent state), (base buckets ∪
    * delta buckets) is ROW-IDENTICAL to a base rebuilt from the
    * union: append-then-serve cannot drift from rebuild-then-serve
    * (spec-pinned; q343 registers the appended serve against q335's
    * oracle VERBATIM, whose base is the union slice). The staleness
    * card (q339) still owns the REBUILD decision — appends grow
    * bucket pressure, and the card says when re-hashing the base
    * pays. */
  def appendToNearDupBase(s: SparkSession, newDocs: DataFrame,
      dir: String, deltaName: String, shingleSize: Int = 3,
      numPerms: Int = 16, threshold: Double = 0.5): String = {
    val (bands, _) = lshBandChoice(numPerms,
      math.max(0.05, threshold - 0.2), math.min(0.95, threshold + 0.2))
    graft.Artifacts.appendDelta(s, dir, deltaName,
      s"pnddelta|s=$shingleSize|p=$numPerms|b=$bands") { d =>
      portableBandedBuckets(
        Par.fanOut(newDocs).select(col("doc_id"),
          sortedShingles(col("text"), shingleSize).as("sh")),
        numPerms, bands)
        .write.mode("overwrite").parquet(s"$d/buckets")
    }
  }

  /** COMPACT a near-dup base's accumulated deltas into a fresh
    * durable home: (base buckets ∪ every committed delta) rewritten
    * as ONE bucket table under `outDir` — no document is ever
    * re-shingled, so compaction costs ARTIFACT mass, never corpus
    * mass (at 100 TB the band-key table is GBs against the corpus's
    * TBs). Serving from the compacted home is bit-identical to
    * serving from (base + deltas) — the band keys are the same rows
    * (spec-pinned). Use it when [[nearDupBaseStaleness]]'s card says
    * the banding is still healthy but the delta COUNT has grown past
    * what nightly serving should union; a full REBUILD (re-shingle
    * under new knobs) remains the gate-fired path. The OLD home stays
    * behind deliberately — its source fingerprint is still live, so
    * [[graft.Artifacts.gcArtifacts]] refuses it; retire it explicitly
    * once consumers move. */
  def compactNearDupBase(s: SparkSession, dir: String, outDir: String,
      shingleSize: Int = 3, numPerms: Int = 16,
      threshold: Double = 0.5): String = {
    val (bands, _) = lshBandChoice(numPerms,
      math.max(0.05, threshold - 0.2), math.min(0.95, threshold + 0.2))
    val stamp = s"pndbase|s=$shingleSize|p=$numPerms|b=$bands"
    val canon = graft.Artifacts.compactionSource(dir, stamp)
    graft.Artifacts.durable(s, outDir, stamp) { d =>
      graft.Artifacts.withDeltas(s, canon, "buckets")
        .write.mode("overwrite").parquet(s"$d/buckets")
    }
  }

  /** The at-rest probe against (base artifact + ALL its committed
    * deltas): tomorrow's increment screens against everything
    * admitted through yesterday WITHOUT re-hashing the base.
    * `baseText` must cover the union (base + appended docs) — it is
    * read ONLY for the candidate ids the bucket probe surfaces, so
    * its size never enters the plan. */
  def portableIncNearDupsAgainstAppendedArtifact(s: SparkSession,
      inc: DataFrame, baseText: => DataFrame, base: => DataFrame,
      dir: String, shingleSize: Int = 3, numPerms: Int = 16,
      threshold: Double = 0.5, maxBucket: Int = 10000): DataFrame = {
    val d = portableNearDupBaseDurableFrom(s, base, dir, shingleSize,
      numPerms, threshold)
    portableIncNearDupsCore(s, inc, baseText,
      graft.Artifacts.withDeltas(s, d, "buckets"), shingleSize,
      numPerms, threshold, maxBucket)
  }

  /** q343's shape — one nightly maintenance cycle of the near-dup
    * base: day-0 base (doc_id % 10 ∉ {3,4}) built durable, day-1
    * crawl (% 10 = 4) APPENDED as a commit-marked delta, day-2
    * increment (% 10 = 3) probed against the appended artifact.
    * Registered against q335's oracle VERBATIM (whose base slice
    * % 10 <> 3 IS the union), so the driver itself checks
    * append ≡ rebuild-from-union. */
  def portableIncrementalNearDupsAppended(s: SparkSession,
      docs: DataFrame, dir: String): DataFrame = {
    val base0 =
      docs.filter(!pmod(col("doc_id"), lit(10L)).isin(3L, 4L))
    portableNearDupBaseDurableFrom(s, base0, dir)
    appendToNearDupBase(s,
      docs.filter(pmod(col("doc_id"), lit(10L)) === 4), dir, "m4")
    portableIncNearDupsAgainstAppendedArtifact(s,
      docs.filter(pmod(col("doc_id"), lit(10L)) === 3),
      docs.filter(pmod(col("doc_id"), lit(10L)) =!= 3),
      base0, dir)
  }

  /** The probe + cap + exact-verify core over an EXPLICIT base-bucket
    * frame — shared verbatim by the plain at-rest serve (q337) and
    * the appended serve (q343), so the two cannot drift. */
  private def portableIncNearDupsCore(s: SparkSession,
      inc: DataFrame, baseText: => DataFrame, baseBuckets: DataFrame,
      shingleSize: Int, numPerms: Int, threshold: Double,
      maxBucket: Int): DataFrame = {
    val (bands, _) = lshBandChoice(numPerms,
      math.max(0.05, threshold - 0.2), math.min(0.95, threshold + 0.2))
    val incBased = Par.fanOut(inc)
      .select(col("doc_id"),
        sortedShingles(col("text"), shingleSize).as("sh"))
      .localCheckpoint() // feeds the inc buckets AND the verify side
    val candidates = crossBucketPairs(
        portableBandedBuckets(incBased, numPerms, bands), baseBuckets,
        Seq("band", "bh"), maxBucket)
      .select(col("x.doc_id").as("new_id"),
        col("y.doc_id").as("base_id"))
      .distinct()
    // base shingles recomputed ONLY for candidate ids (semi-join
    // first, then the shingle projection rides the candidate volume)
    val baseSh = baseText
      .join(candidates.select(col("base_id").as("doc_id")).distinct(),
        Seq("doc_id"), "left_semi")
      .select(col("doc_id"),
        sortedShingles(col("text"), shingleSize).as("sh"))
    jaccardVerify(candidates, "new_id", incBased, "base_id", baseSh,
      threshold)
      .orderBy(col("new_id"), col("base_id"))
  }

  /** NEAR-DUP-BASE STALENESS monitor — q328's retrain-gate discipline
    * applied to the MinHash artifact q337 serves from: after each
    * nightly ingest, is the at-rest base's BANDING still healthy?
    * Per-band ENTRY counts are structural (every doc emits one row
    * per band), so the data-dependent signals are bucket DIVERSITY
    * and bucket-size PRESSURE: per band, the distinct-bucket count
    * and max bucket population before and after the merge, plus the
    * mean bucket size (one IEEE division each — hash-exact in any
    * engine). When max_bucket_merged approaches `maxBucket`, the
    * bucket cap ([[bandRows]]) will start dropping REAL candidates; when
    * mean bucket size grows past the background the planner's
    * separation assumed, the base wants more perms / a re-planned
    * banding ([[lshBandChoice]]) — this card is the number that gates
    * re-hashing a 100 TB base. Base stats read ONLY the at-rest
    * bucket table (never base text); the increment is hashed once.
    * Shares the q337 artifact — one build, dedup AND monitoring. */
  def nearDupBaseStaleness(s: SparkSession, docs: DataFrame,
      dir: String, shingleSize: Int = 3, numPerms: Int = 16,
      threshold: Double = 0.5): DataFrame = {
    val (bands, _) = lshBandChoice(numPerms,
      math.max(0.05, threshold - 0.2), math.min(0.95, threshold + 0.2))
    val d = portableNearDupBaseDurable(s, docs, dir, shingleSize,
      numPerms, threshold)
    val baseB = s.read.parquet(s"$d/buckets")
      .select(col("band"), col("bh"))
    val incB = portableBandedBuckets(
      docs.filter(pmod(col("doc_id"), lit(10L)) === 3)
        .select(col("doc_id"),
          sortedShingles(col("text"), shingleSize).as("sh")),
      numPerms, bands).select(col("band"), col("bh"))
    val nb = baseB.groupBy(col("band")).agg(count(lit(1)).as("n_base"))
    val ni = incB.groupBy(col("band")).agg(count(lit(1)).as("n_inc"))
    val mb = baseB.groupBy(col("band"), col("bh"))
      .agg(count(lit(1)).as("c")).groupBy(col("band"))
      .agg(count(lit(1)).as("n_buckets_base"),
        max(col("c")).as("max_bucket_base"))
    val mm = baseB.unionByName(incB)
      .groupBy(col("band"), col("bh")).agg(count(lit(1)).as("c"))
      .groupBy(col("band"))
      .agg(count(lit(1)).as("n_buckets_merged"),
        max(col("c")).as("max_bucket_merged"))
    // LEFT join + coalesce on the increment side: an EMPTY nightly
    // increment must still report the base-health columns (the gate
    // reads max/mean bucket pressure off the artifact alone) — an
    // inner join would return an empty card exactly when the monitor
    // is cheapest to run
    nb.join(ni, Seq("band"), "left").join(mb, "band").join(mm, "band")
      .select(col("band"), col("n_base"),
        coalesce(col("n_inc"), lit(0L)).as("n_inc"),
        col("n_buckets_base"), col("n_buckets_merged"),
        (col("n_base").cast("double") /
          col("n_buckets_base").cast("double")).as("mean_bucket_base"),
        ((col("n_base") + coalesce(col("n_inc"), lit(0L)))
          .cast("double") /
          col("n_buckets_merged").cast("double"))
          .as("mean_bucket_merged"),
        col("max_bucket_base"), col("max_bucket_merged"))
      .orderBy(col("band"))
  }

  /** Durable-artifact home for the document-table families — the
    * [[graft.Artifacts.durableDirFor]] convention keyed to the
    * documents table. */
  def docsDurableDir(prefix: String, d: String): String =
    graft.Artifacts.durableDirFor(prefix, d, "documents.parquet")

  private val screenArtifacts = scala.collection.mutable.Map
    .empty[(SparkSession, String), (String, String)]

  /** Materialize the don't-re-ingest screen as an AT-REST artifact
    * pair, built once per (session, key) and reused by every later
    * screening job ([[materializedNearDupBase]]'s convention applied
    * to the exact-dup screen): the collapsed base fingerprint set as
    * a bucketed lake table (the exact side of the screen — bucketed
    * by fp so the maybe-branch anti join never re-shuffles the base),
    * and the serialized Bloom sketch over xxhash64(fp) as a one-row
    * binary parquet (the routing side — KBs at rest, read by the
    * driver of any screening job without touching the base corpus).
    * At 100 TB this is the difference between re-scanning and
    * re-collapsing the ingested corpus on every crawl snapshot and
    * reading a fingerprint table + a sketch file. */
  def materializedScreenBase(s: SparkSession, base: DataFrame,
      key: String, fpp: Double = 0.01): (String, String) = {
    // fpp shapes the persisted Bloom sketch — part of the identity
    val fullKey = s"$key|fpp=$fpp"
    screenArtifacts.getOrElseUpdate((s, fullKey), {
      val name = "graft_screen_base_" +
        fullKey.replaceAll("[^A-Za-z0-9]", "_").takeRight(48) +
        "_" + java.lang.Integer.toHexString(fullKey.hashCode)
      val dir = java.nio.file.Files.createTempDirectory("graft_screen_")
      val fps = base.select(contentFp.as("fp")).distinct().persist()
      try {
        fps.write.bucketBy(8, "fp").sortBy("fp")
          .option("path", s"$dir/fps").mode("overwrite").saveAsTable(name)
        val bloom = RuntimeFilters.buildBloom(
          fps.select(xxhash64(col("fp")).as("h")), "h", fps.count(), fpp)
        import s.implicits._
        Seq(Tuple1(bloom)).toDF("bloom")
          .coalesce(1).write.mode("overwrite").parquet(s"$dir/bloom")
      } finally fps.unpersist(false)
      (name, s"$dir/bloom")
    })
  }

  /** [[crossCorpusNewBloomScreened]] reading the screen from the
    * at-rest artifact instead of re-deriving it from the base corpus:
    * the bloom row routes definite-new candidates around the shuffle,
    * the bucketed fingerprint table settles the maybe branch with an
    * anti join that shuffles ONLY the maybe-side (the base side is
    * pre-bucketed on fp). Row-identical to the inline form and to the
    * plain anti join — q258 pins that against the q145/q189 oracle. */
  def crossCorpusNewFromArtifact(s: SparkSession, candidates: DataFrame,
      base: DataFrame, key: String, fpp: Double = 0.01): DataFrame = {
    val (table, bloomDir) = materializedScreenBase(s, base, key, fpp)
    screenServe(s, candidates, table, bloomDir)
  }

  /** The bloom-route + bucketed-anti-join serve over an EXPLICIT
    * screen artifact (fps table name + bloom file) — shared by the
    * session-scoped and durable tiers. */
  private def screenServe(s: SparkSession, candidates: DataFrame,
      table: String, bloomDir: String): DataFrame = {
    val bloom = s.read.parquet(bloomDir).head.getAs[Array[Byte]]("bloom")
    val baseFps = s.table(table)
    val withFp = candidates.withColumn("fp", contentFp)
      .select(col("doc_id"), col("lang"), col("source"), col("fp"))
    val inBloom = RuntimeFilters.mightContain(bloom, xxhash64(col("fp")))
    val definiteNew = withFp.filter(!inBloom)
    val maybeDup = withFp.filter(inBloom)
      .join(baseFps, Seq("fp"), "left_anti")
      .select(col("doc_id"), col("lang"), col("source"), col("fp"))
    definiteNew.unionByName(maybeDup)
  }

  /** The DURABLE screen base — [[materializedScreenBase]]'s artifact
    * pair written under a commit-marked lake dir (the q330
    * machinery): the collapsed fingerprint set as a BUCKETED table
    * whose bucket spec a fresh session re-declares over the existing
    * files ([[graft.Artifacts.registerBucketedTable]] — read.parquet
    * would lose the co-location), and the Bloom sketch as a one-row
    * parquet any screening job's driver reads without touching the
    * base corpus. A crawl snapshot's screen thus survives the JVM:
    * tomorrow's screening job routes + anti-joins against tonight's
    * artifact with ZERO base work (base is by-name — never evaluated
    * on the committed path). */
  def materializedScreenBaseDurable(s: SparkSession,
      base: => DataFrame, dir: String, fpp: Double = 0.01)
      : (String, String) =
    screenBaseDurableFromFps(s,
      base.select(contentFp.as("fp")).distinct(), dir, fpp)

  /** COMPACT an exact screen's deltas into a fresh durable home: the
    * (base ∪ delta) fingerprint set re-bucketed and its Bloom rebuilt
    * under `outDir` — the base CORPUS is never re-fingerprinted
    * (compaction reads fingerprint rows only: artifact mass, not
    * corpus mass), and serving from the compacted home is
    * row-identical to the appended serve (same fp set — spec-pinned).
    * The old home stays behind (its source fingerprint is still live,
    * so GC refuses it); retire it explicitly once consumers move. */
  def compactScreenBase(s: SparkSession, dir: String, outDir: String,
      fpp: Double = 0.01): (String, String) = {
    val canon = graft.Artifacts.compactionSource(dir, s"screen|fpp=$fpp")
    val union = graft.Artifacts.withDeltas(s, canon, "fps").distinct()
    screenBaseDurableFromFps(s, union, outDir, fpp)
  }

  /** The screen-base build over an EXPLICIT fingerprint frame — shared
    * by the from-corpus build and the delta compaction so the layout
    * cannot drift. `fps` is BY-NAME: a committed home serves without
    * evaluating it. */
  private def screenBaseDurableFromFps(s: SparkSession,
      fps0: => DataFrame, dir: String, fpp: Double)
      : (String, String) = {
    val name = "graft_screen_d_" + graft.Artifacts.digest(
      graft.Artifacts.canonical(dir))
    val d = graft.Artifacts.durable(s, dir, s"screen|fpp=$fpp") { d =>
      val fps = fps0.persist()
      try {
        graft.Artifacts.writeBucketed(fps, name, s"$d/fps", "fp", 8)
        val bloom = RuntimeFilters.buildBloom(
          fps.select(xxhash64(col("fp")).as("h")), "h", fps.count(), fpp)
        import s.implicits._
        Seq(Tuple1(bloom)).toDF("bloom")
          .coalesce(1).write.mode("overwrite").parquet(s"$d/bloom")
      } finally fps.unpersist(false)
    }
    graft.Artifacts.registerBucketedTable(s, name, s"$d/fps",
      "fp STRING", "fp", 8, sortCol = Some("fp"))
    (name, s"$d/bloom")
  }

  /** [[crossCorpusNewFromArtifact]] against the DURABLE screen —
    * registered as q336 with the same q145/q189 oracle, so the driver
    * itself checks that serving from the lake artifact changes
    * nothing. */
  def crossCorpusNewFromDurableArtifact(s: SparkSession,
      candidates: DataFrame, base: => DataFrame, dir: String,
      fpp: Double = 0.01): DataFrame = {
    val (table, bloomDir) =
      materializedScreenBaseDurable(s, base, dir, fpp)
    screenServe(s, candidates, table, bloomDir)
  }

  /** APPEND admitted docs' fingerprints to the durable exact screen
    * as a commit-marked delta ([[graft.Artifacts.appendDelta]]) — the
    * base corpus is never re-fingerprinted, and the Bloom
    * route-around stays SOUND because it only gates the BASE side:
    * survivors of the base screen are additionally anti-joined
    * against the (increment-sized) delta fingerprints, so a doc that
    * duplicates an APPENDED row can never ride the definite-new
    * route around the delta check. Fingerprints are per-doc
    * deterministic, so (base fps ∪ delta fps) equals the rebuilt
    * union set — append ≡ rebuild (q345 registers the appended serve
    * against the union-rebuilt oracle). */
  def appendFpsToScreenBase(s: SparkSession, newDocs: DataFrame,
      dir: String, deltaName: String): String =
    graft.Artifacts.appendDelta(s, dir, deltaName, "screendelta|v1") { d =>
      newDocs.select(contentFp.as("fp")).distinct()
        .write.mode("overwrite").parquet(s"$d/fps")
    }

  /** [[crossCorpusNewFromDurableArtifact]] against (base artifact +
    * ALL committed deltas): the bloom-routed bucketed base screen
    * first, then one anti join against the delta fingerprints — both
    * sides of that join are increment-scale, so the appended screen
    * costs the base serve plus a small join, never a base rebuild. */
  def crossCorpusNewFromAppendedArtifact(s: SparkSession,
      candidates: DataFrame, base: => DataFrame, dir: String,
      fpp: Double = 0.01): DataFrame = {
    val survivors =
      crossCorpusNewFromDurableArtifact(s, candidates, base, dir, fpp)
    graft.Artifacts.deltasOnly(s, dir, "fps").fold(survivors) { deltaFps =>
      // a USING join reorders the join column first — restore the
      // screenServe column contract
      survivors.join(deltaFps, Seq("fp"), "left_anti")
        .select(col("doc_id"), col("lang"), col("source"), col("fp"))
    }
  }

  /** q345's shape — one maintenance cycle of the exact screen: day-0
    * base (doc_id % 10 ∉ {3,4}) materialized durable, day-1 crawl
    * (% 10 = 4) fingerprints APPENDED, day-2 increment (% 10 = 3)
    * screened against the appended artifact. The oracle collapses
    * the union slice (% 10 <> 3) — append ≡ rebuild, driver-checked. */
  def crossCorpusNewAppended(s: SparkSession, docs: DataFrame,
      dir: String): DataFrame = {
    val base0 =
      docs.filter(!pmod(col("doc_id"), lit(10L)).isin(3L, 4L))
    materializedScreenBaseDurable(s, base0, dir)
    appendFpsToScreenBase(s,
      docs.filter(pmod(col("doc_id"), lit(10L)) === 4), dir, "m4")
    crossCorpusNewFromAppendedArtifact(s,
      docs.filter(pmod(col("doc_id"), lit(10L)) === 3), base0, dir)
      .orderBy(col("doc_id"))
  }

  /** Winnowing document fingerprints + shared-fingerprint pairs
    * (Schleimer, Wilkerson & Aiken 2003, "Winnowing: Local Algorithms
    * for Document Fingerprinting" — the MOSS algorithm): hash every
    * token k-gram, slide a w-position window over the hash sequence,
    * select each window's minimum — the selection is LOCAL (depends
    * only on the window, so identical text regions select identical
    * fingerprints wherever they sit in a document) and carries the
    * paper's guarantee: any shared token run of length ≥ w+k-1
    * yields at least one shared fingerprint. That positional locality
    * is what MinHash (a whole-document sketch) cannot give: winnowing
    * finds docs sharing a PASSAGE, at fingerprint density ~2/(w+1)
    * instead of one hash per k-gram.
    *
    * Pinning, mirrored in the oracle: hashes are md5 of the
    * space-joined k-gram (the q217 portable-hash device) tagged with
    * the zero-padded position so window minima are totally ordered
    * (ties break to the leftmost position); short docs (< k tokens)
    * fall back to the whole-text md5 so they still screen. Emits
    * (d1, d2, n_shared, nfp1, nfp2, overlap_frac) for pairs sharing
    * ≥ `minShared` fingerprints after a df-cap drops boilerplate
    * fingerprints shared by more than `maxDf` docs.
    *
    * Scale: fingerprint SELECTION is row-local (one codegen'd
    * higher-order-function chain, O(positions·w) per doc, no
    * shuffle); the corpus-side output is the winnowed density ~2/(w+1)
    * per token, and the pair join rides the df-capped posting lists —
    * the q202/q217 linear-for-fixed-cap argument. */
  def winnowingPairs(documents: DataFrame, k: Int = 4, w: Int = 4,
      minShared: Int = 2, maxDf: Long = 20): DataFrame = {
    // positions become ROWS before the window pass, so each k-gram is
    // md5'd exactly once — the array formulation (array_min over a
    // slice per window) re-evaluates the whole hash array per window
    // once CollapseProject inlines it into the lambda: O(positions²)
    // md5 calls per doc, measured 40x slower at sf0.1
    val toks = split(col("text"), " ")
    val positions = greatest(size(toks) - (k - 1), lit(0))
    // one md5 per position, all scan-side: fan out an
    // under-partitioned scan (no-op at scale)
    val based = Par.fanOut(documents).select(col("doc_id"), col("text"),
      toks.as("t"), positions.as("np"))
    val hashed = based.filter(col("np") >= 1)
      .select(col("doc_id"), col("np"), posexplode(expr(
        s"transform(sequence(1, np), i -> " +
          s"concat(md5(array_join(slice(t, i, $k), ' ')), ':', " +
          "lpad(cast(i as string), 6, '0')))")))
      .select(col("doc_id"), col("np"),
        (col("pos") + 1).as("p"), col("col").as("hstr"))
    // per-window min via a doc-keyed sliding frame: row p carries the
    // min of window [p, p+w-1]; rows past the last FULL window are
    // dropped (for np < w the single clamped window at p=1 survives —
    // the slice-clamp semantics of the array form, unchanged)
    val winMin = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("p"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.currentRow,
        w - 1)
    val selected = hashed
      .withColumn("sel", min(col("hstr")).over(winMin))
      .filter(col("p") <= greatest(col("np") - (w - 1), lit(1)))
      .select(col("doc_id"), substring(col("sel"), 1, 32).as("fp"))
    val fallback = based.filter(col("np") === 0)
      .select(col("doc_id"), md5(col("text")).as("fp"))
    val fps = selected.union(fallback).distinct()
    val nf = fps.groupBy(col("doc_id")).agg(count(lit(1)).as("nfp"))
    val kept = fps.join(
      fps.groupBy(col("fp")).agg(count(lit(1)).as("df"))
        .filter(col("df") <= maxDf).select(col("fp")), Seq("fp"))
    val pairs = kept.select(col("fp"), col("doc_id").as("d1"))
      .join(kept.select(col("fp"), col("doc_id").as("d2")), Seq("fp"))
      .filter(col("d1") < col("d2"))
      .groupBy(col("d1"), col("d2"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
    pairs
      .join(nf.select(col("doc_id").as("d1"), col("nfp").as("nfp1")), "d1")
      .join(nf.select(col("doc_id").as("d2"), col("nfp").as("nfp2")), "d2")
      .select(col("d1"), col("d2"), col("n_shared"),
        col("nfp1"), col("nfp2"),
        (col("n_shared").cast("double") /
          least(col("nfp1"), col("nfp2")).cast("double"))
          .as("overlap_frac"))
      .orderBy(col("d1"), col("d2"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q300_portable_simhash_pairs" -> ((s, d) =>
      portableSimhashPairs(Tables(s, d).documents)),
    "q270_winnowing_pairs" -> ((s, d) =>
      winnowingPairs(Tables(s, d).documents)),
    "q145_cross_corpus_new" -> ((s, d) =>
      crossCorpusNew(Tables(s, d).documents, pmod(col("doc_id"), lit(2)) === 0)),
    // default k=5 only — the q192 oracle SQL is pinned to that k
    "q192_exact_substr_dedup" -> ((s, d) =>
      exactSubstrDedup(Tables(s, d).documents)),
    // every 10th doc plays the benchmark; the rest are training docs
    // scrubbed of any 5-gram the benchmark contains (oracle pinned to
    // the default k=5, same convention as q192)
    "q199_span_decontaminate" -> ((s, d) => {
      val docs = Tables(s, d).documents
      spanDecontaminate(docs.filter(pmod(col("doc_id"), lit(10)) =!= 0),
        docs.filter(pmod(col("doc_id"), lit(10)) === 0))
    }),
    // the composed release pipeline over the same 90/10 split
    // (oracle pinned to defaults k=5, 16 shards, minTokens=20)
    "q201_release_manifest" -> ((s, d) => {
      val docs = Tables(s, d).documents
      releaseManifest(docs.filter(pmod(col("doc_id"), lit(10)) =!= 0),
        docs.filter(pmod(col("doc_id"), lit(10)) === 0))
    }),
    // same 90/10 split, opposite direction: per-benchmark-doc overlap
    // fraction against the training corpus (oracle pinned to k=5)
    "q200_contamination_report" -> ((s, d) => {
      val docs = Tables(s, d).documents
      contaminationReport(docs.filter(pmod(col("doc_id"), lit(10)) =!= 0),
        docs.filter(pmod(col("doc_id"), lit(10)) === 0))
    }),
    "q189_cross_corpus_bloom" -> ((s, d) => {
      val docs = Tables(s, d).documents
      crossCorpusNewBloomScreened(
        docs.filter(pmod(col("doc_id"), lit(2)) =!= 0),
        docs.filter(pmod(col("doc_id"), lit(2)) === 0))
        .orderBy(col("doc_id"))
    }),
    // the same screen through the AT-REST artifact pair (bucketed fp
    // table + bloom parquet) — result-identical by construction
    "q263_lsh_band_plan" -> ((s, _) => lshBandPlan(s)),
    // the DURABLE screen (q336): same split, same oracle — the fps
    // table's bucket spec survives the JVM via the DDL re-register
    "q336_screen_atrest" -> ((s, d) => {
      val docs = Tables(s, d).documents
      crossCorpusNewFromDurableArtifact(s,
        docs.filter(pmod(col("doc_id"), lit(2)) =!= 0),
        docs.filter(pmod(col("doc_id"), lit(2)) === 0),
        docsDurableDir("screen", d))
        .orderBy(col("doc_id"))
    }),
    "q258_screen_artifact" -> ((s, d) => {
      val docs = Tables(s, d).documents
      crossCorpusNewFromArtifact(s,
        docs.filter(pmod(col("doc_id"), lit(2)) =!= 0),
        docs.filter(pmod(col("doc_id"), lit(2)) === 0),
        key = s"$d/documents")
        .orderBy(col("doc_id"))
    }),
    "q155_incremental_neardups" -> ((s, d) => {
      val docs = Tables(s, d).documents
      incrementalNearDups(docs.filter(pmod(col("doc_id"), lit(2)) === 0),
        docs.filter(pmod(col("doc_id"), lit(2)) === 1))
    }),
    // same split probed through the MATERIALIZED at-rest base bucket
    // table — result-identical to q155 by construction (spec-pinned)
    "q194_incremental_neardups_mat" -> ((s, d) => {
      val docs = Tables(s, d).documents
      incrementalNearDupsMaterialized(s,
        docs.filter(pmod(col("doc_id"), lit(2)) === 0),
        docs.filter(pmod(col("doc_id"), lit(2)) === 1), key = d)
    }),
    "q112_fuzzy_match" -> ((s, d) => fuzzyNameMatches(Tables(s, d).customer)),
    "q28_minhash_dedup" -> ((s, d) => minhashDedup(Tables(s, d).documents)),
    // the hash-exact MinHash-LSH tier: portable md5 signature family,
    // SQL-replayable band buckets (cap mirrored in the oracle)
    "q312_portable_minhash_pairs" ->
      ((s, d) => portableMinhashPairs(Tables(s, d).documents)),
    // the same tier with (bands, rows) ACCEPTED from the q263
    // planner's chosen row instead of hardcoded
    "q321_minhash_planned" ->
      ((s, d) => portableMinhashPairsPlanned(Tables(s, d).documents)),
    // the nightly-increment DECISION hash-exact at last: planner-
    // banded portable signatures, per-side caps, inc×base probe only
    "q335_portable_incremental_neardups" ->
      ((s, d) => portableIncrementalNearDups(Tables(s, d).documents)),
    // q335 served from the DURABLE base-bucket artifact (q330's
    // machinery on the MinHash family) — same oracle verbatim
    "q337_portable_inc_atrest" ->
      ((s, d) => portableIncrementalNearDupsDurable(s,
        Tables(s, d).documents, docsDurableDir("pndbase", d))),
    // the retrain gate for that artifact (q328's discipline on the
    // MinHash family) — shares q337's build: one artifact, dedup AND
    // monitoring
    "q339_neardup_base_staleness" ->
      ((s, d) => nearDupBaseStaleness(s, Tables(s, d).documents,
        docsDurableDir("pndbase", d))),
    // nightly MAINTENANCE (r15): base built from %10∉{3,4}, day-1
    // (%10=4) APPENDED as a commit-marked delta, day-2 (%10=3) probed
    // against (base + delta) — q335's oracle VERBATIM, whose base
    // slice %10<>3 IS the union: the driver checks append ≡ rebuild.
    // Home prefixed "pnd9": the %10∉{3,4} base is a DIFFERENT input
    // than q337's %10<>3 base — same knobs, different data must never
    // share a durable dir
    "q343_neardup_appended" ->
      ((s, d) => portableIncrementalNearDupsAppended(s,
        Tables(s, d).documents, docsDurableDir("pnd9", d))),
    // the exact screen's maintenance cycle, same convention — the
    // oracle collapses the union slice (append ≡ rebuild)
    "q345_screen_appended" ->
      ((s, d) => crossCorpusNewAppended(s, Tables(s, d).documents,
        docsDurableDir("screen9", d))),
    "q217_minhash_calibration" ->
      ((s, d) => minhashCalibration(Tables(s, d).documents)),
    "q29_simhash_dedup" -> ((s, d) => simhashDedup(Tables(s, d).documents)),
    "q30_lang_id" -> ((s, d) => langId(Tables(s, d).documents)),
    "q232_langid_confidence" ->
      ((s, d) => langIdConfidence(Tables(s, d).documents)),
    "q82_dup_clusters" ->
      ((s, d) => dupClusters(minhashDedup(Tables(s, d).documents))),
    "q133_order_sessions" -> ((s, d) => orderSessions(Tables(s, d).orders))
  )

  /** q30's oracle, generated from [[langProfiles]]: per-language score
    * = |distinct tokens ∩ profile|; argmax with ties to the
    * alphabetically-earliest language (the CASE arms are emitted in
    * sorted order with >= comparisons, matching languageId's
    * earliest-wins left fold); all-zero scores -> 'und'. */
  private def langIdOracle: String = {
    val langs = langProfiles.keys.toSeq.sorted
    def sc(l: String) = s"s_$l"
    val scoreCols = langs.map { l =>
      val words = langProfiles(l).map(w => s"'${w}'").mkString(", ")
      s"  len(list_intersect(tk, [$words])) AS ${sc(l)}"
    }.mkString(",\n")
    val arms = langs.zipWithIndex.map { case (l, i) =>
      val rest = langs.drop(i + 1)
      if (rest.isEmpty) s"    ELSE '$l' END AS predicted_lang"
      else {
        val conds = rest.map(o => s"${sc(l)} >= ${sc(o)}").mkString(" AND ")
        s"    WHEN $conds THEN '$l'"
      }
    }.mkString("\n")
    val greatest = langs.map(sc).mkString(", ")
    s"""WITH toks AS (
       |  SELECT doc_id, lang AS labeled_lang,
       |    list_distinct(string_split(text, ' ')) AS tk
       |  FROM documents),
       |scores AS (
       |  SELECT doc_id, labeled_lang,
       |$scoreCols
       |  FROM toks)
       |SELECT doc_id, labeled_lang,
       |  CASE WHEN greatest($greatest) = 0 THEN 'und'
       |$arms
       |FROM scores ORDER BY doc_id""".stripMargin
  }

  /** The q232 oracle: q30's generated score/argmax algebra plus the
    * row-local top-2 of the score list (list_reverse_sort ≡ Spark's
    * reverse(array_sort)) — all integers, shared generation with
    * [[langIdOracle]] so the two cannot drift. */
  private def langIdConfidenceOracle: String = {
    val langs = langProfiles.keys.toSeq.sorted
    def sc(l: String) = s"s_$l"
    val scoreCols = langs.map { l =>
      val words = langProfiles(l).map(w => s"'${w}'").mkString(", ")
      s"  len(list_intersect(tk, [$words])) AS ${sc(l)}"
    }.mkString(",\n")
    val arms = langs.zipWithIndex.map { case (l, i) =>
      val rest = langs.drop(i + 1)
      if (rest.isEmpty) s"    ELSE '$l' END AS predicted_lang"
      else {
        val conds = rest.map(o => s"${sc(l)} >= ${sc(o)}").mkString(" AND ")
        s"    WHEN $conds THEN '$l'"
      }
    }.mkString("\n")
    val greatest = langs.map(sc).mkString(", ")
    s"""WITH toks AS (
       |  SELECT doc_id, lang AS labeled_lang,
       |    list_distinct(string_split(text, ' ')) AS tk
       |  FROM documents),
       |scores AS (
       |  SELECT doc_id, labeled_lang,
       |$scoreCols
       |  FROM toks),
       |ranked AS (
       |  SELECT doc_id, labeled_lang,
       |    CASE WHEN greatest($greatest) = 0 THEN 'und'
       |$arms,
       |    list_reverse_sort([$greatest]) AS srt
       |  FROM scores)
       |SELECT doc_id, labeled_lang, predicted_lang,
       |  CAST(srt[1] AS BIGINT) AS top_score,
       |  CAST(srt[1] - srt[2] AS BIGINT) AS margin,
       |  srt[1] > 0 AND srt[1] - srt[2] > 0 AS confident
       |FROM ranked ORDER BY doc_id""".stripMargin
  }

  private val crossCorpusOracle =
    """WITH f AS (
      |  SELECT doc_id, lang, source,
      |    md5(array_to_string(list_sort(list_distinct(
      |      string_split(text, ' '))), ' ')) AS fp,
      |    doc_id % 2 = 0 AS isbase
      |  FROM documents)
      |SELECT doc_id, lang, source, fp FROM f
      |WHERE NOT isbase
      |  AND fp NOT IN (SELECT fp FROM f WHERE isbase)
      |ORDER BY doc_id""".stripMargin

  /** q345's DuckDB twin — [[crossCorpusOracle]]'s shape on the
    * maintenance-cycle split: base = % 10 <> 3 (the day-0 base ∪ the
    * appended day-1 delta), candidates = % 10 = 3. The union
    * collapses in SQL exactly because fingerprints are per-doc
    * deterministic — this IS the append ≡ rebuild statement. */
  private val crossCorpusAppendedOracle =
    """WITH f AS (
      |  SELECT doc_id, lang, source,
      |    md5(array_to_string(list_sort(list_distinct(
      |      string_split(text, ' '))), ' ')) AS fp,
      |    doc_id % 10 <> 3 AS isbase
      |  FROM documents)
      |SELECT doc_id, lang, source, fp FROM f
      |WHERE NOT isbase
      |  AND fp NOT IN (SELECT fp FROM f WHERE isbase)
      |ORDER BY doc_id""".stripMargin

  /** q199's DuckDB twin, also the head CTE of q201's release
    * pipeline oracle. */
  private def spanDecontamOracle: String =
    """WITH train AS (
      |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
      |  WHERE doc_id % 10 <> 0),
      |bench AS (
      |  SELECT string_split(text, ' ') AS toks FROM documents
      |  WHERE doc_id % 10 = 0),
      |bgrams AS (
      |  SELECT DISTINCT array_to_string(toks[pos + 1 : pos + 5], ' ')
      |    AS gram
      |  FROM (SELECT toks,
      |          CAST(unnest(range(0, len(toks) - 4)) AS INTEGER) AS pos
      |        FROM bench WHERE len(toks) >= 5)),
      |spans AS (
      |  SELECT doc_id, pos,
      |    array_to_string(toks[pos + 1 : pos + 5], ' ') AS gram
      |  FROM (SELECT doc_id, toks,
      |          CAST(unnest(range(0, len(toks) - 4)) AS INTEGER) AS pos
      |        FROM train WHERE len(toks) >= 5)),
      |dropped AS (
      |  SELECT DISTINCT s.doc_id, s.pos + CAST(i.gs AS INTEGER) AS idx
      |  FROM spans s JOIN bgrams b USING (gram)
      |  CROSS JOIN generate_series(0, 4) AS i(gs)),
      |tok AS (
      |  SELECT doc_id,
      |    CAST(generate_subscripts(toks, 1) AS INTEGER) - 1 AS idx,
      |    unnest(toks) AS tok
      |  FROM train),
      |kept AS (
      |  SELECT t.doc_id, t.idx, t.tok
      |  FROM tok t ANTI JOIN dropped d
      |    ON t.doc_id = d.doc_id AND t.idx = d.idx),
      |agg AS (
      |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
      |    string_agg(tok, ' ' ORDER BY idx) AS text_clean
      |  FROM kept GROUP BY doc_id)
      |SELECT d.doc_id, CAST(len(d.toks) AS INTEGER) AS n_tokens,
      |  CAST(len(d.toks) - COALESCE(a.n_kept, 0) AS BIGINT) AS n_dropped,
      |  COALESCE(a.text_clean, '') AS text_clean
      |FROM train d LEFT JOIN agg a USING (doc_id)
      |ORDER BY d.doc_id""".stripMargin

  /** q270's DuckDB twin sans ORDER BY — shared with the q274
    * containment-over-winnowing tier so candidate generation cannot
    * drift between the two. `minShared` is interpolated (q270 pins 2;
    * q274's candidate tier pins 1). */
  private[graft] def winnowingPairsSql(minShared: Int): String =
    s"""WITH d AS (
        |  SELECT doc_id, text, string_split(text, ' ') AS toks
        |  FROM documents),
        |base AS (
        |  SELECT doc_id, text, toks,
        |    greatest(len(toks) - 3, 0) AS p
        |  FROM d),
        |hs AS (
        |  SELECT doc_id, text, p,
        |    CASE WHEN p >= 1 THEN
        |      list_transform(range(1, p + 1), i ->
        |        md5(array_to_string(toks[i:i+3], ' ')) || ':' ||
        |          lpad(CAST(i AS VARCHAR), 6, '0'))
        |    ELSE [] END AS hl
        |  FROM base),
        |sel AS (
        |  SELECT doc_id,
        |    CASE WHEN p >= 1 THEN
        |      list_distinct(list_transform(
        |        range(1, greatest(p - 3, 1) + 1),
        |        j -> list_sort(hl[j:j+3])[1]))
        |    ELSE [md5(text) || ':000001'] END AS sels
        |  FROM hs),
        |fp AS (
        |  SELECT DISTINCT doc_id, substr(s, 1, 32) AS fp
        |  FROM (SELECT doc_id, unnest(sels) AS s FROM sel)),
        |nf AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS nfp
        |  FROM fp GROUP BY doc_id),
        |kept AS (
        |  SELECT f.doc_id, f.fp FROM fp f
        |  JOIN (SELECT fp FROM fp GROUP BY fp
        |        HAVING count(*) <= 20) ok ON ok.fp = f.fp),
        |p2 AS (
        |  SELECT a.doc_id AS d1, b.doc_id AS d2,
        |    CAST(count(*) AS BIGINT) AS n_shared
        |  FROM kept a JOIN kept b
        |    ON a.fp = b.fp AND a.doc_id < b.doc_id
        |  GROUP BY a.doc_id, b.doc_id
        |  HAVING count(*) >= $minShared)
        |SELECT p2.d1, p2.d2, p2.n_shared,
        |  n1.nfp AS nfp1, n2.nfp AS nfp2,
        |  CAST(p2.n_shared AS DOUBLE)
        |    / CAST(least(n1.nfp, n2.nfp) AS DOUBLE) AS overlap_frac
        |FROM p2
        |JOIN nf n1 ON n1.doc_id = p2.d1
        |JOIN nf n2 ON n2.doc_id = p2.d2""".stripMargin

  /** q300's DuckDB twin, GENERATED from the same bit range so the 64
    * vote terms cannot drift from [[portableSimhashes]]: per-token
    * md5 halves, 64 ±1 vote sums, sign-packed into a '0'/'1' bit
    * STRING (char position i+1 == packed-long bit i, so Spark's
    * 16-bit shifted-mask chunks equal the SQL's 16-char substrings),
    * the same 4-chunk pigeonhole join, and `hamming()` over the
    * strings == `bit_count(xor)` over the longs. */
  private def portableSimhashSql(maxHamming: Int): String = {
    val votes = (0 until 64).map { i =>
      val h = if (i < 32) "h1" else "h2"
      s"SUM(CASE WHEN ($h >> ${i % 32}) & 1 = 1 THEN 1 ELSE -1 END)" +
        s" AS v$i"
    }.mkString(",\n    ")
    val bits = (0 until 64)
      .map(i => s"CASE WHEN v$i > 0 THEN '1' ELSE '0' END")
      .mkString(" || ")
    s"""WITH h AS (
       |  SELECT doc_id,
       |    CAST('0x' || substr(md5(w), 1, 8) AS BIGINT) AS h1,
       |    CAST('0x' || substr(md5(w), 9, 8) AS BIGINT) AS h2
       |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
       |        FROM documents)),
       |v AS (
       |  SELECT doc_id,
       |    $votes
       |  FROM h GROUP BY doc_id),
       |sig AS (SELECT doc_id, $bits AS sig FROM v),
       |ch AS (
       |  SELECT doc_id, sig, c, substr(sig, c * 16 + 1, 16) AS ck
       |  FROM sig, (SELECT unnest(range(0, 4)) AS c)),
       |p AS (
       |  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2,
       |    CAST(hamming(a.sig, b.sig) AS BIGINT) AS hamming
       |  FROM ch a JOIN ch b
       |    ON a.c = b.c AND a.ck = b.ck AND a.doc_id < b.doc_id)
       |SELECT d1, d2, hamming FROM p
       |WHERE hamming <= $maxHamming
       |ORDER BY d1, d2""".stripMargin
  }

  /** The portable MinHash-LSH pipeline in SQL (see the q312 oracle
    * comment) — ONE literal shared by the fixed-banding (q312) and
    * planner-driven (q321) tiers, which are the same pipeline by the
    * spec-pinned lshBandChoice ≡ (4, 4) identity. */
  private val portableMinhashOracle: String =
    """WITH docs AS (
      |  SELECT doc_id,
      |    CASE WHEN len(toks) >= 3 THEN
      |      list_distinct(list_transform(range(1, len(toks) - 1),
      |        i -> array_to_string(toks[i:i+2], ' ')))
      |    ELSE [text] END AS sh
      |  FROM (SELECT doc_id, text,
      |          string_split(text, ' ') AS toks FROM documents)),
      |sigs AS (
      |  SELECT doc_id,
      |    list_transform(range(16), i ->
      |      list_min(list_transform(sh,
      |        s -> md5(CAST(i AS VARCHAR) || ':' || s)))) AS sig
      |  FROM docs),
      |b AS (
      |  SELECT doc_id, CAST(bb AS INTEGER) AS band,
      |    array_to_string(sig[bb*4+1 : bb*4+4], ':') AS bh
      |  FROM sigs, (SELECT unnest(range(4)) AS bb)),
      |ok AS (
      |  SELECT band, bh FROM b GROUP BY band, bh
      |  HAVING count(*) <= 10000),
      |kb AS (
      |  SELECT bb.doc_id, bb.band, bb.bh
      |  FROM b bb JOIN ok USING (band, bh)),
      |cand AS (
      |  SELECT DISTINCT x.doc_id AS d1, y.doc_id AS d2
      |  FROM kb x JOIN kb y
      |    ON x.band = y.band AND x.bh = y.bh
      |    AND x.doc_id < y.doc_id),
      |j AS (
      |  SELECT d1, d2,
      |    CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE)
      |      / len(list_distinct(list_concat(x.sh, y.sh))) AS jaccard
      |  FROM cand
      |  JOIN docs x ON x.doc_id = cand.d1
      |  JOIN docs y ON y.doc_id = cand.d2)
      |SELECT d1, d2, jaccard FROM j WHERE jaccard >= 0.5
      |ORDER BY d1, d2""".stripMargin

  /** q339's DuckDB twin — the q328 staleness arithmetic on the
    * MinHash artifact: per band, base/increment bucket-entry counts,
    * pre/post-ingest shares, |drift|, and the max bucket population
    * before and after the ingest (the degenerate-bucket pressure
    * gauge — when max_bucket_merged approaches the cap, the cap will
    * start dropping real candidates and the base wants re-banding). */
  private val nearDupStalenessOracle: String =
    s"WITH $portableIncCtes,\n" +
    """nb AS (
      |  SELECT band, CAST(count(*) AS BIGINT) AS n_base
      |  FROM b WHERE NOT is_inc GROUP BY band),
      |ni AS (
      |  SELECT band, CAST(count(*) AS BIGINT) AS n_inc
      |  FROM b WHERE is_inc GROUP BY band),
      |mb AS (
      |  SELECT band,
      |    CAST(count(*) AS BIGINT) AS n_buckets_base,
      |    CAST(max(c) AS BIGINT) AS max_bucket_base
      |  FROM (SELECT band, bh, count(*) AS c FROM b
      |        WHERE NOT is_inc GROUP BY band, bh)
      |  GROUP BY band),
      |mm AS (
      |  SELECT band,
      |    CAST(count(*) AS BIGINT) AS n_buckets_merged,
      |    CAST(max(c) AS BIGINT) AS max_bucket_merged
      |  FROM (SELECT band, bh, count(*) AS c FROM b GROUP BY band, bh)
      |  GROUP BY band)
      |SELECT nb.band, n_base,
      |  COALESCE(n_inc, CAST(0 AS BIGINT)) AS n_inc,
      |  n_buckets_base, n_buckets_merged,
      |  CAST(n_base AS DOUBLE) / CAST(n_buckets_base AS DOUBLE)
      |    AS mean_bucket_base,
      |  CAST(n_base + COALESCE(n_inc, CAST(0 AS BIGINT)) AS DOUBLE)
      |    / CAST(n_buckets_merged AS DOUBLE) AS mean_bucket_merged,
      |  max_bucket_base, max_bucket_merged
      |FROM nb LEFT JOIN ni USING (band) JOIN mb USING (band)
      |  JOIN mm USING (band)
      |ORDER BY band""".stripMargin

  /** q335's DuckDB twin — shared verbatim with q337 (the durable
    * serve is the identical decision). */
  /** The portable signature chain (is_inc-flagged docs → md5 sigs →
    * band keys) shared by the q335/q337 pair oracles and the q339
    * staleness card — three consumers, one literal, zero drift. */
  // def, not val: consumed by oracle literals declared EARLIER in
  // this object — a val here would still be null at their init time.
  // private[operators]: the q340 composition oracle stitches this
  // fragment verbatim, so the composition cannot drift from q335.
  // docs and b are MATERIALIZED (the q314/q327 device): docs feeds
  // sigs AND both verify sides, b feeds the four cap/keep CTEs —
  // DuckDB inlines plain CTEs per REFERENCE, and in the q340
  // composition (two heavy chains in one statement) the multiplied
  // plan ran the checker's buffer pool out of memory
  private[operators] def portableIncCtes: String =
    """docs AS MATERIALIZED (
        |  SELECT doc_id, doc_id % 10 = 3 AS is_inc,
        |    CASE WHEN len(toks) >= 3 THEN
        |      list_distinct(list_transform(range(1, len(toks) - 1),
        |        i -> array_to_string(toks[i:i+2], ' ')))
        |    ELSE [text] END AS sh
        |  FROM (SELECT doc_id, text,
        |          string_split(text, ' ') AS toks FROM documents)),
        |sigs AS (
        |  SELECT doc_id, is_inc,
        |    list_transform(range(16), i ->
        |      list_min(list_transform(sh,
        |        s -> md5(CAST(i AS VARCHAR) || ':' || s)))) AS sig
        |  FROM docs),
        |b AS MATERIALIZED (
        |  SELECT doc_id, is_inc, CAST(bb AS INTEGER) AS band,
        |    array_to_string(sig[bb*4+1 : bb*4+4], ':') AS bh
        |  FROM sigs, (SELECT unnest(range(4)) AS bb))""".stripMargin

  private val portableIncOracle: String =
    s"WITH $portableIncCtes,\n" +
    """ok_i AS (
        |  SELECT band, bh FROM b WHERE is_inc GROUP BY band, bh
        |  HAVING count(*) <= 10000),
        |ok_b AS (
        |  SELECT band, bh FROM b WHERE NOT is_inc GROUP BY band, bh
        |  HAVING count(*) <= 10000),
        |ki AS (
        |  SELECT bb.doc_id, bb.band, bb.bh
        |  FROM b bb JOIN ok_i USING (band, bh) WHERE bb.is_inc),
        |kb AS (
        |  SELECT bb.doc_id, bb.band, bb.bh
        |  FROM b bb JOIN ok_b USING (band, bh) WHERE NOT bb.is_inc),
        |cand AS (
        |  SELECT DISTINCT x.doc_id AS new_id, y.doc_id AS base_id
        |  FROM ki x JOIN kb y
        |    ON x.band = y.band AND x.bh = y.bh),
        |j AS (
        |  SELECT new_id, base_id,
        |    CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE)
        |      / len(list_distinct(list_concat(x.sh, y.sh))) AS jaccard
        |  FROM cand
        |  JOIN docs x ON x.doc_id = cand.new_id
        |  JOIN docs y ON y.doc_id = cand.base_id)
        |SELECT new_id, base_id, jaccard FROM j WHERE jaccard >= 0.5
        |ORDER BY new_id, base_id""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "q300_portable_simhash_pairs" -> portableSimhashSql(3),
    // the winnowing selection itself replays: same md5(k-gram)||pos
    // tagged hashes, same per-window lexicographic min, same df cap
    // and pair rollup. Pinned to k=4, w=4, minShared=2, maxDf=20.
    "q270_winnowing_pairs" ->
      s"""${winnowingPairsSql(2)}
         |ORDER BY d1, d2""".stripMargin,
    // winnowing candidates (shared literal, minShared=1) verified by
    // the q269 exact-containment math — the SCALE tier: candidate
    // volume rides winnowed posting lists instead of (lang,source)
    // block². Same column contract as q269 plus n_shared.
    "q274_containment_winnowed" ->
      s"""WITH wp AS (${winnowingPairsSql(1)}),
         |sh AS (
         |  SELECT doc_id,
         |    CASE WHEN len(toks) >= 3 THEN
         |      list_distinct(list_transform(range(1, len(toks) - 1),
         |        i -> array_to_string(toks[i:i+2], ' ')))
         |    ELSE [text] END AS sh
         |  FROM (SELECT doc_id, text, string_split(text, ' ') AS toks
         |        FROM documents)),
         |pr AS (
         |  SELECT wp.d1, wp.d2, wp.n_shared,
         |    CAST(len(a.sh) AS BIGINT) AS n1,
         |    CAST(len(b.sh) AS BIGINT) AS n2,
         |    CAST(len(list_intersect(a.sh, b.sh)) AS BIGINT) AS inter
         |  FROM wp
         |  JOIN sh a ON a.doc_id = wp.d1
         |  JOIN sh b ON b.doc_id = wp.d2)
         |SELECT d1, d2, n_shared, n1, n2, inter,
         |  CAST(inter AS DOUBLE) / CAST(n1 + n2 - inter AS DOUBLE)
         |    AS jaccard,
         |  CAST(inter AS DOUBLE) / CAST(n1 AS DOUBLE) AS c1_in_2,
         |  CAST(inter AS DOUBLE) / CAST(n2 AS DOUBLE) AS c2_in_1,
         |  CASE WHEN CAST(inter AS DOUBLE)
         |      / CAST(n1 + n2 - inter AS DOUBLE) >= 0.5
         |    THEN 'near_dup' ELSE 'quote' END AS relation
         |FROM pr
         |WHERE CAST(inter AS DOUBLE) / CAST(least(n1, n2) AS DOUBLE)
         |  >= 0.5
         |ORDER BY d1, d2""".stripMargin,
    // the ENTIRE MinHash-LSH pipeline replayed: q217's md5 signature
    // family, band keys as ':'-joined signature positions (DuckDB
    // list slices are 1-based inclusive: sig[b*4+1 : b*4+4] == the
    // Spark band's 4 positions), the bucket cap (Dedup.bandRows) as a
    // HAVING filter, the bucket self-join, and the q26 exact-jaccard
    // verification. Pinned to shingleSize=3, numPerms=16, bands=4,
    // threshold=0.5, maxBucket=10000.
    "q312_portable_minhash_pairs" -> portableMinhashOracle,
    // the PLANNER-DRIVEN tier: lshBandChoice(16, 0.3, 0.7) selects the
    // identical (4, 4) split q312 hardcodes, so the oracle is the SAME
    // pipeline verbatim (the q189/q258 shared-oracle convention) —
    // what the driver checks here is that accepting the planner's
    // operating point reproduces the fixed tier exactly
    "q321_minhash_planned" -> portableMinhashOracle,
    // the incremental form: the SAME signature/banding chain with an
    // is_inc flag, the per-side HAVING caps, and the inc×base-only
    // candidate join — the whole nightly decision replays
    "q335_portable_incremental_neardups" -> portableIncOracle,
    // the durable-artifact serve is the identical decision (the base
    // band keys come from the lake instead of tonight's shingling) —
    // same oracle verbatim, the q330 convention
    "q337_portable_inc_atrest" -> portableIncOracle,
    // the APPENDED serve (base + commit-marked day-1 delta): q335's
    // oracle VERBATIM — its %10<>3 base IS the union, so the driver
    // itself checks append ≡ rebuild-from-union
    "q343_neardup_appended" -> portableIncOracle,
    "q339_neardup_base_staleness" -> nearDupStalenessOracle,
    // the durable screen: same route + anti join, bucketed base from
    // the lake — same q145/q189 oracle as q258
    "q336_screen_atrest" -> crossCorpusOracle,
    // the appended exact screen: the oracle collapses the union slice
    // (%10<>3 = day-0 base ∪ day-1 delta) — append ≡ rebuild
    "q345_screen_appended" -> crossCorpusAppendedOracle,
    // same md5("i:"||shingle) permutation family, same lexicographic
    // hex min, same matches/16 estimator and the q26 exact-jaccard
    // formula — the sketch itself replays, not just its output
    "q217_minhash_calibration" ->
      """WITH docs AS (
        |  SELECT doc_id,
        |    CASE WHEN len(toks) >= 3 THEN
        |      list_distinct(list_transform(range(1, len(toks) - 1),
        |        i -> array_to_string(toks[i:i+2], ' ')))
        |    ELSE [text] END AS sh
        |  FROM (SELECT doc_id, text,
        |          string_split(text, ' ') AS toks FROM documents)),
        |sigs AS (
        |  SELECT doc_id, sh,
        |    list_transform(range(16), i ->
        |      list_min(list_transform(sh,
        |        s -> md5(CAST(i AS VARCHAR) || ':' || s)))) AS sig
        |  FROM docs),
        |post AS (SELECT doc_id, unnest(sh) AS g FROM docs),
        |dfr AS (SELECT g, count(*) AS df FROM post GROUP BY g),
        |kept AS (
        |  SELECT p.doc_id, p.g FROM post p JOIN dfr USING (g)
        |  WHERE dfr.df <= 20),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
        |  FROM kept a JOIN kept b ON a.g = b.g AND a.doc_id < b.doc_id),
        |pairs AS (
        |  SELECT d1, d2,
        |    CAST(len(list_filter(range(16),
        |      i -> x.sig[i + 1] = y.sig[i + 1])) AS BIGINT) AS n_match,
        |    CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE)
        |      / len(list_distinct(list_concat(x.sh, y.sh))) AS jaccard
        |  FROM cand
        |  JOIN sigs x ON x.doc_id = cand.d1
        |  JOIN sigs y ON y.doc_id = cand.d2)
        |SELECT d1, d2, n_match,
        |  CAST(n_match AS DOUBLE) / 16 AS est_jaccard, jaccard,
        |  abs(CAST(n_match AS DOUBLE) / 16 - jaccard) AS abs_err
        |FROM pairs WHERE jaccard >= 0.25
        |ORDER BY d1, d2""".stripMargin,
    "q145_cross_corpus_new" -> crossCorpusOracle,
    // the bloom-screened split must be row-identical to the plain form
    "q189_cross_corpus_bloom" -> crossCorpusOracle,
    "q258_screen_artifact" -> crossCorpusOracle,
    // the same sequential left-fold products (init 1.0, then identical
    // IEEE multiply chains — list init = first element, so prepend 1.0
    // is NOT needed: Spark's first step 1.0*x == x bitwise); pinned to
    // numPerms=16 (aligned with the q28/q312 tiers the card plans
    // for), design points 0.3/0.5/0.7
    "q263_lsh_band_plan" ->
      """WITH pairs AS (
        |  SELECT b, 16 // b AS r
        |  FROM unnest([1, 2, 4, 8, 16]) AS t(b)),
        |scored AS (
        |  SELECT b, r,
        |    1.0::DOUBLE - list_reduce(list_transform(range(b), x ->
        |      1.0::DOUBLE - list_reduce(list_transform(range(r),
        |          y -> 0.3::DOUBLE),
        |        (a, c) -> a * c)), (a, c) -> a * c) AS p_lo,
        |    1.0::DOUBLE - list_reduce(list_transform(range(b), x ->
        |      1.0::DOUBLE - list_reduce(list_transform(range(r),
        |          y -> 0.5::DOUBLE),
        |        (a, c) -> a * c)), (a, c) -> a * c) AS p_mid,
        |    1.0::DOUBLE - list_reduce(list_transform(range(b), x ->
        |      1.0::DOUBLE - list_reduce(list_transform(range(r),
        |          y -> 0.7::DOUBLE),
        |        (a, c) -> a * c)), (a, c) -> a * c) AS p_hi
        |  FROM pairs),
        |sep AS (
        |  SELECT b, r, p_lo, p_mid, p_hi, p_hi - p_lo AS separation,
        |    row_number() OVER (ORDER BY p_hi - p_lo DESC, b) AS rn
        |  FROM scored)
        |SELECT b, r, p_lo, p_mid, p_hi, separation, rn = 1 AS chosen
        |FROM sep
        |ORDER BY b""".stripMargin,
    // identical algebra: k-gram spans with positions, global first
    // occurrence per gram (lowest (doc_id, pos)), later occurrences
    // expand to covered token indices, anti join, ordered re-assembly
    "q192_exact_substr_dedup" ->
      """WITH docs AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |s0 AS (
        |  SELECT doc_id, toks,
        |    CAST(unnest(range(0, len(toks) - 4)) AS INTEGER) AS pos
        |  FROM docs WHERE len(toks) >= 5),
        |spans AS (
        |  SELECT doc_id, pos,
        |    array_to_string(toks[pos + 1 : pos + 5], ' ') AS gram
        |  FROM s0),
        |ranked AS (
        |  SELECT doc_id, pos,
        |    row_number() OVER (PARTITION BY gram
        |      ORDER BY doc_id, pos) AS rn
        |  FROM spans),
        |dropped AS (
        |  SELECT DISTINCT r.doc_id, r.pos + CAST(i.gs AS INTEGER) AS idx
        |  FROM ranked r, generate_series(0, 4) AS i(gs)
        |  WHERE r.rn > 1),
        |tok AS (
        |  SELECT doc_id,
        |    CAST(generate_subscripts(toks, 1) AS INTEGER) - 1 AS idx,
        |    unnest(toks) AS tok
        |  FROM docs),
        |kept AS (
        |  SELECT t.doc_id, t.idx, t.tok
        |  FROM tok t ANTI JOIN dropped d
        |    ON t.doc_id = d.doc_id AND t.idx = d.idx),
        |agg AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
        |    string_agg(tok, ' ' ORDER BY idx) AS text_dedup
        |  FROM kept GROUP BY doc_id)
        |SELECT d.doc_id, CAST(len(d.toks) AS INTEGER) AS n_tokens,
        |  CAST(len(d.toks) - COALESCE(a.n_kept, 0) AS BIGINT) AS n_dropped,
        |  COALESCE(a.text_dedup, '') AS text_dedup
        |FROM docs d LEFT JOIN agg a ON d.doc_id = a.doc_id
        |ORDER BY d.doc_id""".stripMargin,
    // identical span algebra to q192's oracle, but the drop set is
    // train-spans ∩ benchmark-grams instead of non-first occurrences;
    // the oracle reassembles EVERY training doc — row-identical to the
    // Spark filter-lambda rewrite because an untouched doc's
    // string_agg over all its tokens is exactly its original
    // single-space text
    "q199_span_decontaminate" -> spanDecontamOracle,
    // q199's CTE chained through the release gate and the q198
    // manifest algebra — the whole pipeline replayed in one statement
    "q201_release_manifest" ->
      s"""WITH rel AS ($spanDecontamOracle),
        |released AS (
        |  SELECT doc_id, n_tokens, n_dropped, text_clean FROM rel
        |  WHERE n_dropped * 2 < n_tokens
        |    AND n_tokens - n_dropped >= 20),
        |sharded AS (
        |  SELECT CAST(CAST('0x' || substr(md5('shard:'
        |        || CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 16
        |      AS INTEGER) AS shard,
        |    doc_id, text_clean,
        |    n_tokens - n_dropped AS kept_tokens
        |  FROM released)
        |SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(kept_tokens) AS BIGINT) AS n_tokens,
        |  bit_xor(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)
        |    || ':' || text_clean), 1, 15) AS BIGINT)) AS content_xor
        |FROM sharded GROUP BY shard ORDER BY shard""".stripMargin,
    // per-eval-doc span overlap vs training; the rate is ONE IEEE
    // division (q74's tf/df convention) so it compares bitwise
    "q200_contamination_report" ->
      """WITH train AS (
        |  SELECT string_split(text, ' ') AS toks FROM documents
        |  WHERE doc_id % 10 <> 0),
        |bench AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        |  WHERE doc_id % 10 = 0),
        |tg AS (
        |  SELECT DISTINCT array_to_string(toks[pos + 1 : pos + 5], ' ')
        |    AS gram
        |  FROM (SELECT toks,
        |          CAST(unnest(range(0, len(toks) - 4)) AS INTEGER) AS pos
        |        FROM train WHERE len(toks) >= 5)),
        |bs AS (
        |  SELECT doc_id,
        |    array_to_string(toks[pos + 1 : pos + 5], ' ') AS gram
        |  FROM (SELECT doc_id, toks,
        |          CAST(unnest(range(0, len(toks) - 4)) AS INTEGER) AS pos
        |        FROM bench WHERE len(toks) >= 5)),
        |hit AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_contaminated
        |  FROM bs SEMI JOIN tg USING (gram)
        |  GROUP BY doc_id)
        |SELECT b.doc_id,
        |  CAST(greatest(len(b.toks) - 4, 0) AS INTEGER) AS n_spans,
        |  COALESCE(h.n_contaminated, 0) AS n_contaminated,
        |  CASE WHEN greatest(len(b.toks) - 4, 0) > 0
        |    THEN CAST(COALESCE(h.n_contaminated, 0) AS DOUBLE)
        |      / CAST(greatest(len(b.toks) - 4, 0) AS DOUBLE)
        |    ELSE 0.0 END AS contamination
        |FROM bench b LEFT JOIN hit h USING (doc_id)
        |ORDER BY b.doc_id""".stripMargin,
    "q30_lang_id" -> langIdOracle,
    "q232_langid_confidence" -> langIdConfidenceOracle,
    "q133_order_sessions" ->
      """WITH flagged AS (
        |  SELECT o_orderkey, o_custkey, o_orderdate,
        |    CASE WHEN date_diff('day', lag(o_orderdate) OVER
        |        (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
        |        o_orderdate) <= 30
        |    THEN 0 ELSE 1 END AS new_s
        |  FROM orders),
        |s AS (
        |  SELECT o_orderkey, o_custkey,
        |    SUM(new_s) OVER (PARTITION BY o_custkey
        |      ORDER BY o_orderdate, o_orderkey
        |      ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM flagged)
        |SELECT o_orderkey, o_custkey,
        |  MIN(o_orderkey) OVER (PARTITION BY o_custkey, sid) AS session_id
        |FROM s ORDER BY o_orderkey""".stripMargin,
    "q112_fuzzy_match" ->
      """SELECT a.c_custkey AS id1, b.c_custkey AS id2,
        |  CAST(levenshtein(a.c_name, b.c_name) AS INTEGER) AS dist
        |FROM customer a JOIN customer b
        |  ON a.c_nationkey = b.c_nationkey AND a.c_custkey < b.c_custkey
        |WHERE levenshtein(a.c_name, b.c_name) <= 1
        |ORDER BY id1, id2""".stripMargin
  )
}
