package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Corpus-level curation signals for LLM training data that go beyond
  * per-doc quality scores (TextAnalysis): repetition statistics in the
  * style of the Gopher rules (Rae et al. 2021, arXiv:2112.11446 —
  * repeated-n-gram fractions mark low-quality/boilerplate text) and a
  * benchmark-contamination sweep (n-gram overlap against an eval set,
  * the decontamination step of GPT-3/PaLM-style training pipelines).
  *
  * Scale notes: both queries explode documents into (doc, n-gram)
  * rows and aggregate/join on the n-gram — shuffle volume is
  * O(tokens), the same order as reading the corpus, with no global
  * collection point. At 100 TB the contamination join keys would be
  * 64-bit n-gram hashes instead of strings (the eval side stays tiny
  * and broadcastable); here the join carries the literal strings so
  * the DuckDB oracle can state the identical query.
  */
object CorpusSignals {

  /** Word-level repetition signals per document: duplicate-token
    * fraction and the share of the most frequent bigram among all
    * bigram occurrences. High values of either flag degenerate /
    * boilerplate docs a pretraining filter should drop.
    *
    * All four counts are row-local, so they come from ONE pass of
    * [[graft.plans.BigramStatsExpr]] — no explode, no (doc, bigram)
    * shuffle; the only exchange is the presentation sort. The oracle
    * (and CorpusSignalsSpec) states the exploded groupBy form,
    * proving the fused expression computes the same fractions
    * bit-for-bit. Docs with zero bigrams are dropped like the
    * exploded form's inner join dropped them. */
  def repetitionSignals(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      graft.plans.FastOps.bigramStats(col("text")).as("s"))
      .filter(col("s.n_bigrams") > 0)
      .select(col("doc_id"),
        col("s.n_tokens").cast("long").as("n_tokens"),
        ((col("s.n_tokens") - col("s.n_distinct")).cast("double") /
          col("s.n_tokens").cast("double")).as("dup_word_frac"),
        (col("s.max_bigram").cast("double") /
          col("s.n_bigrams").cast("double")).as("top_bigram_frac"))
      .orderBy(col("doc_id"))

  /** Benchmark contamination: training docs (source != evalSource)
    * that share at least one 5-gram with any eval doc, with how many
    * eval docs they collide with and how many distinct 5-grams leak.
    * The eval side of the join is a tiny distinct-n-gram set — at
    * scale it broadcasts and the sweep is one pass over the corpus. */
  def contamination(docs: DataFrame, evalSource: String = "src0"): DataFrame = {
    def grams(df: DataFrame): DataFrame =
      df.select(col("doc_id"), col("source"),
        explode(array_distinct(expr(
          "transform(sequence(1, size(t)-4), i -> concat(" +
            "element_at(t, i), ' ', element_at(t, i+1), ' ', " +
            "element_at(t, i+2), ' ', element_at(t, i+3), ' ', " +
            "element_at(t, i+4)))"))).as("g"))
    val g = grams(docs.select(col("doc_id"), col("source"),
      split(col("text"), " ").as("t")))
    val ev = g.filter(col("source") === evalSource)
      .select(col("g"), col("doc_id").as("eval_doc")).distinct()
    val tr = g.filter(col("source") =!= evalSource)
      .select(col("doc_id"), col("g"))
    tr.join(broadcast(ev), "g")
      .groupBy(col("doc_id"))
      .agg(count_distinct(col("eval_doc")).as("n_eval_docs"),
        count_distinct(col("g")).as("n_shared_ngrams"))
      .orderBy(col("doc_id"))
  }

  /** C4-style boilerplate signal: the fraction of a document's
    * distinct 3-grams that are corpus-common (appear in >= minDf
    * docs). High fractions mark template/boilerplate text that a
    * pretraining filter down-weights or drops (the line-dedup rule of
    * Raffel et al. 2020, arXiv:1910.10683, restated over n-grams
    * because the synthetic corpus has no line structure).
    *
    * Shape: explode to distinct (doc, gram) ONCE (each distinct
    * (doc, gram) row IS one df vote), compute df with a partial-
    * aggregatable groupBy(gram).count() and join it back, aggregate
    * per doc. The groupBy — unlike the count-over-Window(gram) this
    * used to run — combines the hot gram map-side, so a corpus-wide
    * common 3-gram arrives at its reducer as one row per upstream
    * partition instead of every (doc, gram) row buffering in one
    * task; the join probe side still hashes on the gram, where AQE's
    * skew-split rebalances it (a window has no such mitigation). Both
    * shuffles are O(tokens), the order of reading the corpus; no
    * global collection point. At 100 TB the gram key would be a
    * 64-bit hash; strings here keep the DuckDB oracle literal. */
  def boilerplateFraction(docs: DataFrame, minDf: Long = 5): DataFrame = {
    val g = docs
      .select(col("doc_id"), split(col("text"), " ").as("t"))
      // <3 tokens ⇒ no 3-gram. The guard is semantic, not cosmetic:
      // Spark's sequence(1, size-2) counts DOWN through 0 for short
      // docs (element_at(t, 0) throws) where DuckDB's generate_series
      // is simply empty — same gotcha bpePairCounts documents.
      .filter(size(col("t")) >= 3)
      .select(col("doc_id"), explode(array_distinct(expr(
        "transform(sequence(1, size(t)-2), i -> concat(" +
          "element_at(t, i), ' ', element_at(t, i+1), ' ', " +
          "element_at(t, i+2)))"))).as("g"))
    val df = g.groupBy(col("g")).agg(count(lit(1)).as("df"))
    g.join(df, "g")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("df") >= minDf, 1L).otherwise(0L)).as("n_common"))
      .select(col("doc_id"), col("n_grams"), col("n_common"),
        (col("n_common").cast("double") / col("n_grams").cast("double"))
          .as("common_frac"))
      .orderBy(col("doc_id"))
  }

  /** Duplicate-span coverage (Lee et al. 2021, arXiv:2107.06499,
    * "Deduplicating Training Data Makes Language Models Better"):
    * the fraction of each document's token positions covered by some
    * 5-gram that also appears in at least `minDocs` distinct documents
    * — the substring-level dedup signal that whole-document hashing
    * (q24) and near-dup pairing (q26/q28) both miss. A doc with high
    * coverage is mostly stitched from corpus-common spans even when no
    * single other document resembles it as a whole.
    *
    * Shape: ONE positional explode to (doc, start, gram) — O(tokens)
    * rows; gram document-frequency as a partial-aggregatable
    * groupBy over the distinct (doc, gram) projection (the q116
    * pattern — hot grams combine map-side, AQE skew-splits the probe
    * join); covered positions as a 5-element sequence explode +
    * distinct, again O(tokens). No window over an unbounded key, no
    * global collection point — every stage is the order of reading
    * the corpus, the same budget as tokenizing it. */
  def dupSpanCoverage(docs: DataFrame, minDocs: Long = 2): DataFrame = {
    val toks = docs.select(col("doc_id"), split(col("text"), " ").as("t"))
    val grams = toks.filter(size(col("t")) >= 5)
      .select(col("doc_id"), posexplode(expr(
        "transform(sequence(1, size(t)-4), i -> concat(" +
          "element_at(t, i), ' ', element_at(t, i+1), ' ', " +
          "element_at(t, i+2), ' ', element_at(t, i+3), ' ', " +
          "element_at(t, i+4)))")))
      .select(col("doc_id"), (col("pos") + 1).as("p"), col("col").as("g"))
    val df = grams.select(col("doc_id"), col("g")).distinct()
      .groupBy(col("g")).agg(count(lit(1)).as("ndocs"))
    val covered = grams
      .join(df.filter(col("ndocs") >= minDocs).select(col("g")), "g")
      .select(col("doc_id"), explode(sequence(col("p"), col("p") + 4)).as("cp"))
      .distinct()
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_covered"))
    toks.select(col("doc_id"), size(col("t")).cast("long").as("n_tokens"))
      .join(covered, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_covered"), lit(0L)).as("n_covered"),
        (coalesce(col("n_covered"), lit(0L)).cast("double") /
          col("n_tokens").cast("double")).as("coverage"))
      .orderBy(col("doc_id"))
  }

  /** MEMORIZATION-EXPOSURE spectrum per source — Carlini et al. 2022
    * ("Quantifying Memorization Across Neural Language Models",
    * arXiv:2202.07646: memorization grows log-linearly with the
    * number of times a sequence is DUPLICATED in training data) as a
    * curation card: for each source and each exposure threshold T,
    * the share of the source's token positions covered by some
    * 5-gram appearing in ≥ T distinct documents. q135 measures the
    * per-doc T=2 cut (dedup triage); THIS is the per-source risk
    * spectrum — the mass a model is likely to regurgitate at each
    * duplication level, the number a release review reads before
    * deciding how aggressive the ExactSubstr pass (q192) must be.
    *
    * Shape: the q135 machinery with one extra rollup — each covered
    * position keeps its MAX gram document-frequency ("exposure"), a
    * partial-aggregatable (doc, source, position) max; the spectrum
    * is then one broadcast |thresholds|-row inequality join + a
    * (source, T) count. Every stage O(corpus tokens); integers until
    * the final share division. */
  def memorizationSpectrum(docs: DataFrame,
      thresholds: Seq[Long] = Seq(2L, 5L, 10L)): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val toks = docs.select(col("doc_id"), col("source"),
      split(col("text"), " ").as("t"))
    val grams = toks.filter(size(col("t")) >= 5)
      .select(col("doc_id"), col("source"), posexplode(expr(
        "transform(sequence(1, size(t)-4), i -> concat(" +
          "element_at(t, i), ' ', element_at(t, i+1), ' ', " +
          "element_at(t, i+2), ' ', element_at(t, i+3), ' ', " +
          "element_at(t, i+4)))")))
      .select(col("doc_id"), col("source"), (col("pos") + 1).as("p"),
        col("col").as("g"))
    val dfreq = grams.select(col("doc_id"), col("g")).distinct()
      .groupBy(col("g")).agg(count(lit(1)).as("ndocs"))
    val exposure = grams.join(dfreq, "g")
      .select(col("doc_id"), col("source"),
        explode(sequence(col("p"), col("p") + 4)).as("cp"), col("ndocs"))
      .groupBy(col("doc_id"), col("source"), col("cp"))
      .agg(max(col("ndocs")).as("exposure"))
    val th = broadcast(thresholds.toDF("t_min"))
    val covered = exposure.join(th, col("exposure") >= col("t_min"))
      .groupBy(col("source"), col("t_min"))
      .agg(count(lit(1)).as("covered_tokens"))
    toks.groupBy(col("source"))
      .agg(sum(size(col("t")).cast("long")).as("n_tokens"))
      .crossJoin(th)
      .join(covered, Seq("source", "t_min"), "left")
      .select(col("source"), col("t_min"), col("n_tokens"),
        coalesce(col("covered_tokens"), lit(0L)).as("covered_tokens"),
        (coalesce(col("covered_tokens"), lit(0L)).cast("double") /
          col("n_tokens").cast("double")).as("covered_share"))
      .orderBy(col("source"), col("t_min"))
  }

  /** Cross-document line-level deduplication WITH document rewrite —
    * the C4 line-dedup shape (Raffel et al. 2020, arXiv:1910.10683
    * §2.2: discard all but one occurrence of any repeated span), the
    * step [[dupSpanCoverage]] only measures. "Lines" are consecutive
    * `lineTokens`-token segments (this corpus has no sentence
    * punctuation to split on); a line survives only at its FIRST
    * corpus occurrence — min (doc_id, position) — and each document
    * is reassembled from its surviving lines in order.
    *
    * Scale: one explode to O(lines) rows; the first-occurrence winner
    * is a line-keyed groupBy of min(struct(doc_id, line_no)) —
    * partial-aggregatable, so a corpus-wide boilerplate line combines
    * map-side instead of flooding one reducer the way a row_number
    * window over the line key would — and the winner row ALREADY
    * carries (line, first doc, first position), so the kept set needs
    * no join back to the exploded lines; then one doc-keyed regroup
    * whose collect_list is bounded by single-document length. Every
    * stage is O(corpus tokens). */
  def lineDedupRewrite(docs: DataFrame, lineTokens: Int = 8): DataFrame = {
    val toks = docs.select(col("doc_id"), split(col("text"), " ").as("t"))
    val lines = toks.select(col("doc_id"), posexplode(expr(
      s"transform(sequence(0, cast(ceil(size(t)/$lineTokens.0d) as int)-1)," +
        s" i -> array_join(slice(t, i*$lineTokens+1, $lineTokens), ' '))")))
      .select(col("doc_id"), col("pos").cast("long").as("line_no"),
        col("col").as("line"))
    // the winner row IS the kept line — the group key carries the line
    // and min(struct) carries its first (doc_id, line_no), so no join
    // back to the exploded lines (which would recompute the explode)
    val kept = lines.groupBy(col("line"))
      .agg(min(struct(col("doc_id"), col("line_no"))).as("k"))
      .select(col("k.doc_id").as("doc_id"),
        col("k.line_no").as("line_no"), col("line"))
    val rebuilt = kept.groupBy(col("doc_id")).agg(
      count(lit(1)).as("n_kept"),
      array_join(expr(
        "transform(array_sort(collect_list(struct(line_no, line)))," +
          " x -> x.line)"), " ").as("new_text"))
    docs.select(col("doc_id"),
        ceil(size(split(col("text"), " ")) / lit(lineTokens.toDouble))
          .cast("long").as("n_lines"))
      .join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_lines"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("new_text"), lit("")).as("new_text"))
      .orderBy(col("doc_id"))
  }

  /** INTRA-document repeated-line collapse with rewrite — the
    * within-page dedup step of MassiveText/RefinedWeb-style cleaning
    * (Rae et al. 2021 §A.1.2 drop pages that repeat themselves;
    * Penedo et al. 2023, arXiv:2306.01116 §3 REWRITE them): every
    * repeated line inside a single document is removed after its
    * first occurrence in that document. [[lineDedupRewrite]] (q138)
    * is the CROSS-corpus form of the same rewrite; this one's scope
    * is a single row, which changes the execution story completely.
    *
    * Scale: because the dedup key never leaves the row, the whole
    * operator is ONE narrow projection — split, regroup into
    * `lineTokens`-token lines, `array_distinct` (order-preserving:
    * first occurrence survives), rejoin. Zero shuffle, zero
    * aggregation state, codegen end to end; at 100 TB it runs at
    * scan speed on however many partitions the corpus has — and, like
    * every stateless projection in this library, UNCHANGED as an
    * append-mode stream (no sort here; the registry adds the
    * presentation order, StreamingSpec pins stream == batch). The
    * oracle states the exploded window/row_number form, proving the
    * row-local rewrite equals the relational one bit-for-bit. */
  def intraDocLineDedup(docs: DataFrame, lineTokens: Int = 8): DataFrame =
    docs
      // split ONCE into a bound column: Catalyst does not hoist
      // loop-invariant subexpressions out of lambda bodies, so a
      // split inside the transform would re-tokenize per line
      .select(col("doc_id"), split(col("text"), " ").as("t"))
      .select(col("doc_id"), expr(
        s"transform(sequence(0, cast(ceil(size(t)/$lineTokens.0d) " +
          s"as int)-1), i -> array_join(" +
          s"slice(t, i*$lineTokens+1, $lineTokens), ' '))").as("ls"))
      .select(col("doc_id"),
        size(col("ls")).cast("long").as("n_lines"),
        size(array_distinct(col("ls"))).cast("long").as("n_kept"),
        array_join(array_distinct(col("ls")), " ").as("new_text"))

  /** Character-pair frequencies across the corpus — the first merge
    * step of BPE vocabulary induction (Sennrich et al. 2016,
    * arXiv:1508.07909): the most frequent adjacent symbol pair is the
    * next merge rule. One explode to words, one to in-word character
    * pairs, one count — O(chars) shuffle, top-k as
    * TakeOrderedAndProject. Words shorter than 2 chars carry no pair
    * and are filtered EXPLICITLY: Spark's `sequence(1, 0)` counts
    * DOWN ([1, 0]) where DuckDB's generate_series is empty, so the
    * guard keeps the engines' semantics identical. */
  def bpePairCounts(docs: DataFrame, k: Int = 30): DataFrame =
    docs.select(explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, length(w)-1), " +
          "i -> concat(substr(w, i, 1), substr(w, i+1, 1)))")).as("pair"))
      .groupBy(col("pair")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("pair"))
      .limit(k)

  /** In-engine BPE vocabulary TRAINING (Sennrich et al. 2016,
    * arXiv:1508.07909 — [[bpePairCounts]] is one round's counting;
    * this runs the full merge loop): start from characters, then
    * `nMerges` times (1) count adjacent symbol pairs weighted by
    * word-type frequency, (2) merge the most frequent pair (ties to
    * the lexicographically smallest) in every word. Returns the merge
    * table — the trained tokenizer vocabulary.
    *
    * Scale shape: the corpus collapses ONCE to a word-type frequency
    * table (Zipf: vocab-sized, not corpus-sized); every round is one
    * partial-aggregatable groupBy over that table plus a 1-row argmax
    * collect (model-sized driver state, the k-means/classifier
    * precedent) and one narrow literal `replace` projection. Rounds
    * persist + unpersist round-over-round, so lineage stays constant.
    *
    * Cross-engine exactness hinges on the SYMBOL ENCODING: a word's
    * symbols are joined by TWO spaces and padded with two spaces
    * (`"low"` -> `"  l  o  w  "`). A merge of (a,b) is then the plain
    * left-to-right `replace(sym, " a  b ", " ab ")` — each match
    * consumes one space from each side, so back-to-back occurrences
    * keep a boundary space and BPE's greedy left-to-right scan falls
    * out of `replace`'s standard non-overlapping semantics
    * IDENTICALLY in Spark and DuckDB (a single-space encoding would
    * consume the shared boundary and silently skip every second
    * occurrence — `"a a a a"` must merge to `"aa aa"`, not
    * `"aa a a"`). Symbols never contain spaces, so no false matches. */
  def bpeTrainMerges(docs: DataFrame, nMerges: Int = 10): DataFrame =
    bpeTrainMergesFromUnits(
      docs.select(explode(split(col("text"), " ")).as("word"))
        .filter(length(col("word")) >= 1),
      nMerges)

  /** The merge loop over an EXPLICIT unit stream (one row per unit
    * occurrence, column `word`) — shared by the word tier
    * ([[bpeTrainMerges]]) and the byte tier ([[byteBpeTrainMerges]])
    * so the training algebra cannot drift between them. */
  private def bpeTrainMergesFromUnits(units: DataFrame,
      nMerges: Int): DataFrame = {
    val spark = units.sparkSession
    import spark.implicits._
    val wf0 = units
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
      .select(col("freq"), concat(lit("  "),
        array_join(expr(
          "transform(sequence(1, length(word)), " +
            "i -> substring(word, i, 1))"), "  "),
        lit("  ")).as("sym"))
    // double-buffered persists: each round's ONLY action is the
    // argmax collect, which fills the current round's cache while
    // reading the previous round's — the explicit count() job per
    // round was pure scheduling overhead (guide §1.2: fewer passes),
    // and the previous frame unpersists as soon as the round that
    // read it finishes, so at most two vocab-sized tables stay cached
    var cur = wf0.persist()
    var prev: DataFrame = null
    def retire(): Unit =
      if (prev != null) { prev.unpersist(false); prev = null }
    val merges =
      scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var r = 1
    var done = false
    while (r <= nMerges && !done) {
      // the sequence(1, size-1) guard: Spark counts DOWN through 0 for
      // single-symbol words where DuckDB's range is empty (q126 gotcha)
      val top = cur
        .select(col("freq"), split(trim(col("sym")), "  ").as("l"))
        .filter(size(col("l")) >= 2)
        .select(col("freq"), explode(expr(
          "transform(sequence(1, size(l) - 1), " +
            "i -> struct(element_at(l, i) AS a, element_at(l, i + 1) AS b))"))
          .as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum(col("freq")).as("cnt"))
        .orderBy(col("cnt").desc, col("a"), col("b"))
        .limit(1).collect()
      retire()
      if (top.isEmpty) done = true
      else {
        val a = top(0).getString(0)
        val b = top(0).getString(1)
        merges += ((r, a, b, top(0).getLong(2)))
        val next = cur
          .withColumn("rpat", lit(s" $a  $b "))
          .withColumn("rrep", lit(s" $a$b "))
          .select(col("freq"), expr("replace(sym, rpat, rrep)").as("sym"))
          .persist()
        prev = cur
        cur = next
      }
      r += 1
    }
    cur.unpersist(false)
    retire()
    spark.createDataFrame(merges.toSeq)
      .toDF("merge_round", "left_sym", "right_sym", "pair_count")
      .orderBy(col("merge_round"))
  }

  /** APPLY the [[bpeTrainMerges]] tokenizer: encode every document
    * with the learned merge table — the step that turns "trained a
    * BPE vocab" into "tokenized the corpus with it". The merge list
    * is model-sized (nMerges rows) and collected once; encoding is
    * then a PURE NARROW projection — per word, the same double-space
    * char encoding and the same rank-ordered `replace` chain the
    * trainer used (one codegen'd expression tree, no joins, no
    * shuffle, no per-row state), so a 100 TB corpus encodes at scan
    * speed. Emits the per-document piece string and piece count; the
    * oracle replays training AND encoding in SQL, so the entire
    * train→apply loop is hash-exact cross-engine.
    *
    * At scale the trained merge table would be a saved artifact
    * (train once, encode many); re-training here keeps the operator a
    * pure function of its input, which is what lets the oracle check
    * it. */
  def bpeEncode(docs: DataFrame, nMerges: Int = 10): DataFrame =
    bpeEncodeWith(mergeTable(bpeTrainMerges(docs, nMerges)), docs)

  /** Collapse a [[bpeTrainMerges]] frame (possibly re-read from the
    * lake) into the rank-ordered in-memory merge list — the
    * model-sized driver artifact [[bpeEncodeWith]] compiles into its
    * replace chain. */
  def mergeTable(merges: DataFrame): Seq[(String, String)] =
    merges.collect()
      .sortBy(_.getAs[Int]("merge_round"))
      .map(r => (r.getAs[String]("left_sym"), r.getAs[String]("right_sym")))
      .toSeq

  /** Encode with an EXPLICIT merge table — the "train once, encode
    * many" deployment shape [[bpeEncode]]'s docstring promises: write
    * [[bpeTrainMerges]]'s output to the lake with any parquet sink,
    * read it back next run, and encode new corpora without
    * re-training (spec-pinned: encode-from-loaded ≡
    * encode-from-trained bit-exactly). The merge list compiles to the
    * same codegen'd replace chain either way. */
  def bpeEncodeWith(merges: Seq[(String, String)], docs: DataFrame)
      : DataFrame =
    encodeUnitsWith(merges, docs, split(col("text"), " "))

  /** One unit through the rank-ordered replace chain — the encoder
    * core both tiers compile. */
  private def pieceEncode(merges: Seq[(String, String)])(w: Column)
      : Column = {
    val s0 = concat(lit("  "),
      array_join(transform(sequence(lit(1), length(w)),
        i => w.substr(i, lit(1))), "  "), lit("  "))
    val enc = merges.foldLeft(s0) { case (c, (a, b)) =>
      call_function("replace", c, lit(s" $a  $b "), lit(s" $a$b "))
    }
    call_function("replace", trim(enc), lit("  "), lit(" "))
  }

  private def encodeUnitsWith(merges: Seq[(String, String)],
      docs: DataFrame, unitsOf: Column): DataFrame =
    docs.select(col("doc_id"),
        array_join(transform(unitsOf, pieceEncode(merges)(_)), " ")
          .as("pieces"))
      .select(col("doc_id"),
        size(split(col("pieces"), " ")).as("n_pieces"), col("pieces"))
      .orderBy(col("doc_id"))

  /** Vocabulary UTILIZATION audit — the SentencePiece prune-step
    * diagnostic (Kudo 2018 §3.2 keeps the pieces the segmentation
    * actually uses; a piece no segmentation touches is a wasted
    * embedding row and a wasted softmax column): every corpus word
    * TYPE is encoded by WordPiece-style GREEDY LONGEST-MATCH over the
    * q259 vocabulary (all corpus characters + the top-`topK`
    * occurrence-weighted 2..`maxLen`-grams, same (count DESC, gram)
    * cut so the two audits share one vocab), and the card reports,
    * per vocab piece, its occurrence-weighted usage count and share —
    * dead pieces appear explicitly with 0.
    *
    * Exactness: greedy longest-match is a deterministic integer
    * walk (at position p take the LONGEST vocab piece starting
    * there; 1-grams guarantee progress), replayed in the oracle as a
    * best-match edge table + a recursive walk — no floats until the
    * final share division. Scale: the walk rides the Zipf-bounded
    * word-TYPE table inside one row-local codegen fold (the q157/
    * q177/q259 device); the vocab is model-sized driver state; usage
    * is one partial-aggregatable piece rollup. */
  def vocabUtilization(docs: DataFrame, topK: Int = 64,
      maxLen: Int = 4): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val occurrences = docs.select(explode(split(col("text"), " ")).as("w"))
    val wt = occurrences.groupBy(col("w"))
      .agg(count(lit(1)).as("cnt")).persist()
    try {
      val grams = wt
        .select(col("w"), col("cnt"),
          explode(sequence(lit(1), lit(maxLen))).as("l"))
        .filter(length(col("w")) >= col("l"))
        .select(col("cnt"), col("l"),
          explode(sequence(lit(1), length(col("w")) - col("l") + 1))
            .as("i"), col("w"))
        .select(col("w").substr(col("i"), col("l")).as("g"), col("cnt"))
        .groupBy(col("g")).agg(sum(col("cnt")).as("c"))
      val ones = grams.filter(length(col("g")) === 1)
        .select(col("g")).collect().map(_.getString(0))
      val tops = grams.filter(length(col("g")) >= 2)
        .orderBy(col("c").desc, col("g")).limit(topK)
        .select(col("g")).collect().map(_.getString(0))
      val vocab = ones ++ tops
      val vocabLit = array(vocab.map(lit(_)): _*)
      val n = length(col("w"))
      // greedy fold: n iterations suffice (progress >= 1 char/step);
      // once pos passes the end the state freezes
      val seg = aggregate(
        sequence(lit(1), n),
        struct(lit(1).as("pos"),
          array().cast("array<string>").as("ps")),
        (st, _) => {
          val pos = st.getField("pos")
          val bestL = (maxLen to 2 by -1).map { l =>
            when(pos + (l - 1) <= n &&
              array_contains(vocabLit, col("w").substr(pos, lit(l))),
              lit(l))
          }.foldRight(lit(1))((c, acc) => coalesce(c, acc))
          when(pos > n, st).otherwise(struct(
            (pos + bestL).as("pos"),
            concat(st.getField("ps"),
              array(col("w").substr(pos, bestL))).as("ps")))
        })
      val usage = wt.select(col("cnt"), explode(seg.getField("ps"))
          .as("piece"))
        .groupBy(col("piece")).agg(sum(col("cnt")).as("uses"))
        .localCheckpoint()
      val total = usage.agg(sum(col("uses"))).head.getLong(0)
      vocab.toSeq.toDF("piece")
        .join(usage, Seq("piece"), "left")
        .select(col("piece"), length(col("piece")).cast("long")
            .as("piece_len"),
          coalesce(col("uses"), lit(0L)).as("uses"),
          (coalesce(col("uses"), lit(0L)).cast("double") /
            lit(total).cast("double")).as("share"))
        .orderBy(col("uses").desc, col("piece"))
    } finally wt.unpersist(false)
  }

  /** Tokenizer FERTILITY per source — the tokenizer-health report run
    * after (re)training a vocab: pieces-per-word (fertility — how many
    * BPE pieces an average word fragments into; a language/source the
    * merge table underserves shows fertility ≫ 1 and trains slower on
    * fewer effective tokens) and chars-per-piece (compression) under
    * the [[bpeTrainMerges]] tokenizer, by composition with
    * [[bpeEncode]]. A |sources|-row report: the encode stays the
    * scan-speed narrow projection, the rollup is one map-side-
    * combinable groupBy on source, and both ratios are single IEEE
    * divisions of exact integer sums — so the full train→encode→audit
    * chain replays hash-exact in the oracle. */
  def bpeFertility(docs: DataFrame, nMerges: Int = 10): DataFrame =
    fertilityRollup(bpeEncode(docs, nMerges), docs)

  /** The per-source fertility/compression rollup over an encoded
    * frame — shared by the word (q219) and byte (q354) audits. */
  private def fertilityRollup(encoded: DataFrame, docs: DataFrame)
      : DataFrame =
    encoded
      .join(docs.select(col("doc_id"), col("source"), col("n_chars"),
        size(split(col("text"), " ")).cast("long").as("n_words")),
        Seq("doc_id"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_words")).as("n_words"),
        sum(col("n_pieces").cast("long")).as("n_pieces"),
        sum(col("n_chars")).as("n_chars"))
      .select(col("source"), col("n_docs"), col("n_words"),
        col("n_pieces"), col("n_chars"),
        (col("n_pieces").cast("double") / col("n_words").cast("double"))
          .as("pieces_per_word"),
        (col("n_chars").cast("double") / col("n_pieces").cast("double"))
          .as("chars_per_piece"))
      .orderBy(col("source"))

  // ---------------------------------------------------------------
  // q352-q354: BYTE-LEVEL BPE — the GPT-2-family tokenizer shape
  // (Radford et al. 2019 §2.2; the reference tokenizers are
  // byte-level with a regex pre-tokenizer, where q157/q177 are
  // word-internal)
  // ---------------------------------------------------------------

  /** The documented pre-tokenizer: the GPT-2 pattern's ASCII core —
    * ` ?letters | ?digits | ?other | spaces`, each unit optionally
    * carrying its LEADING space (so "the cat" pre-tokenizes to
    * ["the", " cat"] and merges can learn space-prefixed pieces like
    * "Ġthe", which is what makes byte-level vocabularies
    * whitespace-faithful). Plain ordered alternation with greedy
    * quantifiers — identical leftmost-match semantics in Java regex
    * and RE2, so the oracle replays it verbatim; GPT-2's trailing
    * `\s+(?!\S)` lookahead is dropped (RE2 has no lookahead): a
    * multi-space run keeps its spaces in one ` +` unit instead of
    * donating the last one forward — a deterministic, documented
    * simplification. */
  val BytePretokenPattern = " ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9 ]+| +"

  /** The byte-to-symbol map on an ASCII corpus: every byte IS its
    * character, except space — which must be a real symbol inside a
    * unit but is the SEPARATOR of the double-space sym encoding — so
    * it maps to Ġ (U+0120), exactly the image of 0x20 under GPT-2's
    * bytes-to-unicode table. */
  private def byteMapped(u: Column): Column = translate(u, " ", "Ġ")

  private def byteUnitsOf(text: Column): Column =
    regexp_extract_all(text, lit(BytePretokenPattern), lit(0))

  /** BYTE-LEVEL BPE training (q352): [[bpeTrainMerges]]'s exact merge
    * loop over pre-tokenizer units instead of whitespace words — the
    * trained table contains space-crossing pieces (Ġ-prefixed), which
    * the word tier structurally cannot learn. Same scale shape: the
    * corpus collapses once to a Zipf-bounded unit-type table. */
  def byteBpeTrainMerges(docs: DataFrame, nMerges: Int = 10): DataFrame =
    bpeTrainMergesFromUnits(
      docs.select(explode(byteUnitsOf(col("text"))).as("u"))
        .filter(length(col("u")) >= 1)
        .select(byteMapped(col("u")).as("word")),
      nMerges)

  /** Encode with an explicit byte-tier merge table — pre-tokenize,
    * Ġ-map, then the same rank-ordered replace chain (one codegen'd
    * projection, scan-speed at any corpus size). */
  def byteBpeEncodeWith(merges: Seq[(String, String)],
      docs: DataFrame): DataFrame =
    encodeUnitsWith(merges, docs,
      transform(byteUnitsOf(col("text")), byteMapped(_)))

  /** Train→encode composition for the byte tier (q353) — the q177
    * convention: re-training keeps the operator a pure function of
    * its input, which is what lets the oracle replay the whole chain;
    * deployment writes the q352 table to the lake and uses
    * [[byteBpeEncodeWith]]. */
  def byteBpeEncode(docs: DataFrame, nMerges: Int = 10): DataFrame =
    byteBpeEncodeWith(mergeTable(byteBpeTrainMerges(docs, nMerges)),
      docs)

  /** The q219 fertility audit RE-POINTED at the byte tier (q354):
    * pieces-per-WORD stays the denominator (fertility must be
    * comparable across tiers), pieces now come from the byte
    * encoder. */
  def byteBpeFertility(docs: DataFrame, nMerges: Int = 10): DataFrame =
    fertilityRollup(byteBpeEncode(docs, nMerges), docs)

  /** Viterbi OPTIMAL segmentation fertility — the dynamic-programming
    * LOWER BOUND a greedy subword encoder is judged against
    * (SentencePiece's unigram tier, Kudo 2018, arXiv:1804.10959,
    * runs exactly this lattice DP): given a fixed piece vocabulary
    * (every corpus character plus the top-`topK` character 2..`maxLen`
    * -grams by occurrence-weighted frequency), the MINIMUM number of
    * vocabulary pieces each word can segment into, rolled up per
    * source next to the q219 greedy numbers. A source whose optimal
    * fertility is already ≫ 1 needs a bigger vocab, not a better
    * encoder; a big optimal-vs-greedy gap indicts the encoder.
    *
    * Exactness: the DP is pure integer shortest-path (m[i] = 1 + min
    * m[j] over in-vocab pieces w[j..i), piece length ≤ maxLen), so
    * every engine agrees bit-for-bit; the vocab cut is totally
    * ordered by (count DESC, gram ASC). The oracle replays the DP as
    * a level-deduped recursive reachability CTE (the q166 BFS
    * device): min level at which position n is reachable IS m[n].
    *
    * Scale: counts and the DP ride the WORD-TYPE table (Zipf-bounded,
    * ~√total_tokens — the q157/q177 device), never the corpus; the
    * vocab is driver-collected (topK + |Σ| entries — model-sized) and
    * embedded as an array literal in a row-local codegen'd fold; the
    * per-source rollup is one map-side-combinable groupBy. */
  def viterbiFertility(docs: DataFrame, topK: Int = 64,
      maxLen: Int = 4): DataFrame = {
    val occurrences = docs.select(col("source"),
      explode(split(col("text"), " ")).as("w"))
    val wt = occurrences.groupBy(col("w"))
      .agg(count(lit(1)).as("cnt")).persist()
    val optOf = try {
      val grams = wt
        .select(col("w"), col("cnt"),
          explode(sequence(lit(1), lit(maxLen))).as("l"))
        .filter(length(col("w")) >= col("l"))
        .select(col("cnt"), col("l"),
          explode(sequence(lit(1), length(col("w")) - col("l") + 1))
            .as("i"), col("w"))
        .select(col("w").substr(col("i"), col("l")).as("g"), col("cnt"))
        .groupBy(col("g")).agg(sum(col("cnt")).as("c"))
      val ones = grams.filter(length(col("g")) === 1)
        .select(col("g")).collect().map(_.getString(0))
      val tops = grams.filter(length(col("g")) >= 2)
        .orderBy(col("c").desc, col("g")).limit(topK)
        .select(col("g")).collect().map(_.getString(0))
      val vocabLit = array((ones ++ tops).map(lit(_)): _*)
      val big = lit(1000000)
      val n = length(col("w"))
      // m[0..n] as a left fold over positions: m[i] = 1 + min m[j]
      // over j in [i-maxLen, i) with w[j..i) in vocab (1-grams are
      // all in vocab, so m is always finite on corpus words)
      val acc = aggregate(
        sequence(lit(1), n), array(lit(0)),
        (m, i) => concat(m, array(array_min(transform(
          sequence(greatest(i - maxLen, lit(0)), i - 1),
          j => when(array_contains(vocabLit,
              col("w").substr(j + 1, i - j)),
            element_at(m, j + 1) + 1).otherwise(big))))))
      wt.select(col("w"),
        element_at(acc, n + 1).cast("long").as("opt_pieces"))
        .localCheckpoint()
    } finally wt.unpersist(false)
    occurrences.groupBy(col("source"), col("w"))
      .agg(count(lit(1)).as("cnt"))
      .join(optOf, Seq("w"))
      .groupBy(col("source"))
      .agg(sum(col("cnt")).as("n_words"),
        sum(col("cnt") * length(col("w")).cast("long")).as("n_chars"),
        sum(col("cnt") * col("opt_pieces")).as("opt_pieces"))
      .select(col("source"), col("n_words"), col("n_chars"),
        col("opt_pieces"),
        (col("opt_pieces").cast("double") / col("n_words").cast("double"))
          .as("opt_pieces_per_word"),
        (col("n_chars").cast("double") / col("opt_pieces").cast("double"))
          .as("chars_per_piece"))
      .orderBy(col("source"))
  }

  /** The DuckDB twin of [[bpeEncode]]: the [[bpeMergesOracle]] train
    * stages plus a parallel word→sym vocab fold (v0..vN applying each
    * round's merge to the DISTINCT vocabulary), then a word-position
    * join that reassembles each document's piece string in order.
    * chr(1) guards the scalar subqueries if a round ran dry (cannot
    * happen on corpora where training emitted all rounds — q157
    * proves it does here). */
  private[operators] def bpeEncodeOracle(nMerges: Int): String =
    bpeEncodeOracleOver(nMerges, wordUnitsSql, wordDocListSql)

  private[operators] def byteBpeEncodeOracle(nMerges: Int): String =
    bpeEncodeOracleOver(nMerges, byteUnitsSql, byteDocListSql)

  private def bpeEncodeOracleOver(nMerges: Int, unitsSql: String,
      docListSql: String): String = {
    val trainStages = bpeMergesOracleOver(nMerges, unitsSql)
    // reuse the training CTE block verbatim: strip its WITH and the
    // final SELECT (everything from the last "SELECT * FROM (")
    val body = trainStages.stripPrefix("WITH ")
    val cteBlock = body.substring(0, body.lastIndexOf("\nSELECT * FROM ("))
    val vocab = (1 to nMerges).map { r =>
      s"""v$r AS MATERIALIZED (
         |  SELECT word, replace(sym,
         |    coalesce(' ' || (SELECT a FROM m$r) || '  ' ||
         |      (SELECT b FROM m$r) || ' ', chr(1)),
         |    coalesce(' ' || (SELECT a FROM m$r) ||
         |      (SELECT b FROM m$r) || ' ', chr(1))) AS sym
         |  FROM v${r - 1})""".stripMargin
    }
    s"""WITH $cteBlock,
       |v0 AS MATERIALIZED (
       |  SELECT DISTINCT word,
       |    '  ' || array_to_string(string_split(word, ''), '  ') || '  '
       |      AS sym
       |  FROM ($unitsSql)
       |  WHERE len(word) >= 1),
       |${vocab.mkString(",\n")},
       |d AS (
       |  SELECT doc_id, unnest(range(1, len(l) + 1)) AS pos, l
       |  FROM (SELECT doc_id, $docListSql AS l
       |        FROM documents)),
       |enc AS (
       |  SELECT doc_id, pos,
       |    replace(trim(v.sym), '  ', ' ') AS piece,
       |    len(string_split(trim(v.sym), '  ')) AS np
       |  FROM d JOIN v$nMerges v ON d.l[pos] = v.word)
       |SELECT doc_id,
       |  CAST(sum(np) AS INTEGER) AS n_pieces,
       |  string_agg(piece, ' ' ORDER BY pos) AS pieces
       |FROM enc GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  /** The unrolled DuckDB twin of [[bpeTrainMerges]]: one
    * (pairs -> argmax-by-scalar-subquery -> replace) CTE stage per
    * round, generated for the same `nMerges` so operator and oracle
    * cannot drift. Every CTE is MATERIALIZED: DuckDB inlines CTEs by
    * default, and each round references its predecessor several times
    * (the scalar subqueries), so inlining would re-expand the whole
    * chain exponentially. */
  /** The word tier's SQL unit stream + per-doc unit list. */
  private val wordUnitsSql =
    "SELECT unnest(string_split(text, ' ')) AS word FROM documents"
  private val wordDocListSql = "string_split(text, ' ')"

  /** The byte tier's: the documented pre-tokenizer + the space→Ġ
    * map, verbatim in RE2. */
  private def byteUnitsSql =
    "SELECT replace(unnest(regexp_extract_all(text, " +
      s"'$BytePretokenPattern')), ' ', 'Ġ') AS word FROM documents"
  private def byteDocListSql =
    s"list_transform(regexp_extract_all(text, '$BytePretokenPattern')," +
      " u -> replace(u, ' ', 'Ġ'))"

  private[operators] def bpeMergesOracle(nMerges: Int): String =
    bpeMergesOracleOver(nMerges, wordUnitsSql)

  private[operators] def byteBpeMergesOracle(nMerges: Int): String =
    bpeMergesOracleOver(nMerges, byteUnitsSql)

  private def bpeMergesOracleOver(nMerges: Int,
      unitsSql: String): String = {
    val w0 =
      s"""w0 AS MATERIALIZED (
        |  SELECT freq,
        |    '  ' || array_to_string(string_split(word, ''), '  ') || '  '
        |      AS sym
        |  FROM (SELECT word, count(*) AS freq
        |        FROM ($unitsSql)
        |        WHERE len(word) >= 1 GROUP BY word))""".stripMargin
    val stages = (1 to nMerges).map { r =>
      s"""p$r AS MATERIALIZED (
         |  SELECT l[i] AS a, l[i+1] AS b, CAST(SUM(freq) AS BIGINT) AS cnt
         |  FROM (SELECT freq, l, unnest(range(1, len(l))) AS i
         |        FROM (SELECT freq, string_split(trim(sym), '  ') AS l
         |              FROM w${r - 1})
         |        WHERE len(l) >= 2)
         |  GROUP BY 1, 2),
         |m$r AS MATERIALIZED (
         |  SELECT a, b, cnt FROM p$r ORDER BY cnt DESC, a, b LIMIT 1),
         |w$r AS MATERIALIZED (
         |  SELECT freq, replace(sym,
         |    ' ' || (SELECT a FROM m$r) || '  ' || (SELECT b FROM m$r) || ' ',
         |    ' ' || (SELECT a FROM m$r) || (SELECT b FROM m$r) || ' ') AS sym
         |  FROM w${r - 1})""".stripMargin
    }
    val union = (1 to nMerges).map { r =>
      s"SELECT $r AS merge_round, a AS left_sym, b AS right_sym, " +
        s"cnt AS pair_count FROM m$r"
    }.mkString("\n  UNION ALL ")
    s"""WITH $w0,
       |${stages.mkString(",\n")}
       |SELECT * FROM (
       |  $union)
       |ORDER BY merge_round""".stripMargin
  }

  /** Pairwise source-overlap matrix: exact 3-gram Jaccard between
    * every pair of sources — the corpus-governance diagnostic behind
    * "are these two crawls the same data?" (dataset-level, where
    * q26/q28 are document-level). Unit is the DISTINCT (source, gram)
    * set; intersections come from the gram-keyed self-join (a gram
    * common to k sources contributes k(k-1)/2 pair votes — bounded by
    * |sources|² per gram, never by corpus size), unions by
    * inclusion-exclusion from the per-source set sizes. Pairs with
    * empty intersection don't join and are correctly absent. At
    * 100 TB the gram key becomes a 64-bit hash and every aggregate
    * here partial-aggregates; the output is |sources|² rows — a
    * driver-displayable matrix from any corpus size. */
  def sourceOverlapMatrix(docs: DataFrame): DataFrame = {
    val g = docs
      .select(col("source"), split(col("text"), " ").as("t"))
      .filter(size(col("t")) >= 3)
      .select(col("source"), explode(expr(
        "transform(sequence(1, size(t)-2), i -> concat(" +
          "element_at(t, i), ' ', element_at(t, i+1), ' ', " +
          "element_at(t, i+2)))")).as("g"))
      .distinct()
    val sizes = g.groupBy(col("source")).agg(count(lit(1)).as("n"))
    val inter = g.toDF("s1", "g")
      .join(g.toDF("s2", "g"), "g")
      .filter(col("s1") < col("s2"))
      .groupBy(col("s1"), col("s2")).agg(count(lit(1)).as("n_inter"))
    inter
      .join(sizes.toDF("s1", "n1"), "s1")
      .join(sizes.toDF("s2", "n2"), "s2")
      .select(col("s1"), col("s2"), col("n1"), col("n2"), col("n_inter"),
        (col("n_inter").cast("double") /
          (col("n1") + col("n2") - col("n_inter")).cast("double"))
          .as("jaccard"))
      .orderBy(col("s1"), col("s2"))
  }

  /** Token-distribution drift between two corpus snapshots, per
    * source: total-variation distance
    * TVD = ½ Σ_w |p_old(w) − p_new(w)| over the union vocabulary —
    * the distribution-shift monitor a training pipeline runs when a
    * crawl refreshes (KL needs a log whose last bits differ across
    * engines; TVD is +,−,×,÷ only, so it pins bit-exactly). Counts
    * come from two partial-aggregatable (source, word) groupBys and a
    * full-outer join (absent words count 0 on their side); the final
    * sum folds over the word-SORTED per-source diff list (float
    * addition is order-dependent — the q127 pin), so per-group state
    * is VOCABULARY-sized, not corpus-sized (the Zipf bound that makes
    * per-source vocab lists collectable at any corpus scale; past
    * that, drop the pin for a plain sum and accept ulp variance). */
  /** Length-distribution DRIFT between two corpus snapshots, per
    * source, as the exact two-sample Kolmogorov–Smirnov statistic
    * D = max_v |F_old(v) − F_new(v)| over document lengths — the
    * SHAPE-shift monitor complementing [[tokenDrift]]'s vocabulary
    * TVD: a crawler that starts truncating pages or a boilerplate
    * stripper that breaks moves the length CDF long before the token
    * mix shifts. KS needs no binning decisions and is
    * distribution-free — the standard ingest gate statistic.
    *
    * Exactness: both CDFs are cumulative integer counts over the
    * union of observed lengths (full-outer join, absent lengths
    * count 0); each CDF value is ONE exact-integer→double division,
    * the diff/abs are IEEE-exact, and D is a pure max selection —
    * nothing accumulates in float. Scale: per-(source, length)
    * counts partial-aggregate map-side to a domain-bounded relation
    * (distinct lengths, not documents); the one window rides that
    * tiny relation partitioned by source. */
  def lengthDriftKs(oldDocs: DataFrame, newDocs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    def counts(df: DataFrame, name: String) =
      df.groupBy(col("source"), col("n_chars").as("v"))
        .agg(count(lit(1)).as(name))
    val joined = counts(oldDocs, "c_old")
      .join(counts(newDocs, "c_new"), Seq("source", "v"), "full_outer")
      .na.fill(0L, Seq("c_old", "c_new"))
    val w = Window.partitionBy(col("source")).orderBy(col("v"))
    val tot = joined.groupBy(col("source"))
      .agg(sum(col("c_old")).as("n_old"), sum(col("c_new")).as("n_new"))
    joined
      .select(col("source"),
        sum(col("c_old")).over(w).as("cum_old"),
        sum(col("c_new")).over(w).as("cum_new"))
      .join(tot, "source")
      .groupBy(col("source"), col("n_old"), col("n_new"))
      .agg(max(abs(col("cum_old").cast("double") /
        col("n_old").cast("double") -
        col("cum_new").cast("double") / col("n_new").cast("double")))
        .as("ks_stat"))
      .select(col("source"), col("n_old"), col("n_new"), col("ks_stat"))
      .orderBy(col("source"))
  }

  def tokenDrift(oldDocs: DataFrame, newDocs: DataFrame): DataFrame = {
    def counts(df: DataFrame, cn: String) = df
      .select(col("source"), explode(split(col("text"), " ")).as("w"))
      .groupBy(col("source"), col("w")).agg(count(lit(1)).as(cn))
    val o = counts(oldDocs, "c_old")
    val n = counts(newDocs, "c_new")
    val ot = o.groupBy(col("source")).agg(sum(col("c_old")).as("tot_old"))
    val nt = n.groupBy(col("source")).agg(sum(col("c_new")).as("tot_new"))
    o.join(n, Seq("source", "w"), "full_outer")
      .na.fill(0L, Seq("c_old", "c_new"))
      .join(broadcast(ot), "source")
      .join(broadcast(nt), "source")
      .select(col("source"), col("w"),
        abs(col("c_old").cast("double") / col("tot_old").cast("double") -
          col("c_new").cast("double") / col("tot_new").cast("double"))
          .as("diff"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_words"),
        (lit(0.5) * aggregate(
          array_sort(collect_list(struct(col("w"), col("diff")))),
          lit(0.0), (acc, x) => acc + x.getField("diff"))).as("tvd"))
      .orderBy(col("source"))
  }

  /** Temperature-scaled source mixture weights — the data-mixing step
    * of a pretraining pipeline (sample source s with p ∝ n_s^α,
    * α=0.5 up-weights low-resource sources). The denominator is a
    * float sum, which is order-DEPENDENT — so it folds over the
    * source-sorted list ([[functions.Exact]]-style determinism for
    * transcendentals, where decimal accumulation can't apply): both
    * engines run the identical 0.0-seeded left fold and produce the
    * same bits. Sources are few by construction, so the fold's
    * collect_list is one tiny row.
    *
    * `keyCol` generalizes the mixing key: "source" is the corpus-mix
    * default; "lang" gives the language-balancing schedule of
    * multilingual pretraining (XLM-R, Conneau et al. 2020,
    * arXiv:1911.02116 §3.1 — the same n^α temperature up-weights
    * low-resource languages). Any data-FIXED-cardinality column
    * works; the machinery is unchanged. */
  def sourceMixtureWeights(docs: DataFrame,
      keyCol: String = "source"): DataFrame = {
    val counts = docs.groupBy(col(keyCol)).agg(count(lit(1)).as("n"))
    val denom = counts.agg(
      aggregate(
        array_sort(collect_list(struct(col(keyCol), col("n")))),
        lit(0.0),
        (acc, x) => acc + sqrt(x.getField("n").cast("double"))).as("denom"))
    counts.crossJoin(broadcast(denom))
      .select(col(keyCol), col("n"),
        (sqrt(col("n").cast("double")) / col("denom")).as("weight"))
      .orderBy(col(keyCol))
  }

  /** Data-selection importance weights, DSIR shape (Xie et al. 2023,
    * arXiv:2302.03169): score every raw document by how target-like
    * its unigram distribution is, where "target" is the `targetSource`
    * slice and "raw" is everything else. Per word, the add-one-
    * smoothed likelihood ratio p_target(w)/p_raw(w) over the JOINT
    * vocabulary; per document, the ratio summed over token
    * OCCURRENCES (repeats count) and its per-token mean. DSIR sums
    * log-ratios; the ratio sum is the same ranking signal with the
    * logs traded for IEEE divisions both engines compute identically
    * (the q140 no-ln discipline), which is what makes the scores
    * hash-exact instead of libm-dependent.
    *
    * The per-doc sum folds over the word-sorted occurrence list —
    * order pinned for cross-engine bit-exactness (q127 pattern; ties
    * share a word, hence a value, so tie order cannot matter). At
    * 100 TB you'd trade the fold for a plain partial-aggregatable
    * `sum` and broadcast the (vocab-sized) ratio table as a map-side
    * join — the shuffles here are already O(tokens), same order as
    * reading the corpus. */
  def importanceWeights(docs: DataFrame,
      targetSource: String = "src0"): DataFrame = {
    val toks = docs.select(col("doc_id"), col("source"),
      explode(split(col("text"), " ")).as("w"))
    val isT = col("source") === targetSource
    val counts = toks.groupBy(col("w")).agg(
      count(when(isT, 1)).as("ct"),
      count(when(!isT, 1)).as("cr"))
    val totals = counts.agg(
      count(lit(1)).as("v"),
      sum(col("ct")).as("t"),
      sum(col("cr")).as("r"))
    val ratios = counts.crossJoin(broadcast(totals))
      .select(col("w"),
        (((col("ct") + 1L).cast("double") /
          (col("t") + col("v")).cast("double")) /
          ((col("cr") + 1L).cast("double") /
            (col("r") + col("v")).cast("double"))).as("ratio"))
    toks.filter(!isT)
      .join(ratios, "w")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        aggregate(
          array_sort(collect_list(struct(col("w"), col("ratio")))),
          lit(0.0), (acc, x) => acc + x.getField("ratio")).as("score"))
      .select(col("doc_id"), col("n_tokens"), col("score"),
        (col("score") / col("n_tokens").cast("double")).as("mean_ratio"))
      .orderBy(col("doc_id"))
  }

  /** Effective-sample-size card for the DSIR importance weights
    * (Kong 1992's ESS = (Σw)²/Σw², the standard importance-sampling
    * degeneracy diagnostic): per source, how many EFFECTIVE documents
    * the weighted sample is worth — ess_frac near 1 means the weights
    * are flat (resampling that source is cheap and stable); near 0
    * means a few documents dominate and a DSIR-resampled corpus from
    * that source would be mostly copies of its tail — the proceed-or-abort
    * number to read BEFORE materializing a resampled mixture.
    *
    * Exactness: weights are [[importanceWeights]]' oracle-exact
    * mean_ratio; Σw and Σw² are doc_id-ordered left folds from a 0.0
    * seed (w·w computed per element before its fold step), and
    * ESS/ess_frac are one fixed-shape division chain — bitwise equal
    * cross-engine. Scale: rides q170 (token-keyed partial aggs); the
    * rollup is per-source with data-fixed cardinality. */
  def essCard(docs: DataFrame, targetSource: String = "src0"): DataFrame = {
    val w = importanceWeights(docs, targetSource)
      .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
    def fold(valCol: Column): Column =
      aggregate(
        array_sort(collect_list(struct(col("doc_id").as("d"),
          valCol.as("x")))),
        lit(0.0), (acc, e) => acc + e.getField("x"))
    val folds = w.groupBy(col("source")).agg(
      count(lit(1)).as("n_docs"),
      fold(col("mean_ratio")).as("sum_w"),
      fold(col("mean_ratio") * col("mean_ratio")).as("sum_w2"))
    folds.select(col("source"), col("n_docs"), col("sum_w"),
        col("sum_w2"),
        ((col("sum_w") * col("sum_w")) / col("sum_w2")).as("ess"),
        ((col("sum_w") * col("sum_w")) / col("sum_w2") /
          col("n_docs").cast("double")).as("ess_frac"))
      .orderBy(col("source"))
  }

  /** MATERIALIZE the [[sourceMixtureWeights]] mixture: one epoch of
    * training data where each source contributes ~weight·N rows, as
    * explicit (doc_id, copy) repetitions — the step that turns a
    * mixture table into the dataset a trainer actually reads
    * (over-sampled sources repeat, fractional remainders go to a
    * deterministic md5-ranked subset, so reruns and engines agree on
    * EXACTLY which docs get the extra copy).
    *
    * All post-weight arithmetic is integer (floor targets, `div`/`%`
    * copy splits), so the only float step is the weight itself —
    * already bit-exact per q127 — and the whole materialization
    * oracle-checks hash-exact.
    *
    * Scale: weights/targets are |sources|-sized broadcasts; the only
    * data-sized work is one rank window per (source, md5-byte bucket)
    * — 256 buckets per source, so no task ever holds a whole source
    * (the distributed-rank pattern shared with equiDepthHistogram;
    * the offset collect is 256·|sources| rows) — and the explode,
    * whose output is exactly the epoch the trainer consumes — there
    * is no cheaper shape that still names every row.
    *
    * `keyCol` follows [[sourceMixtureWeights]]: "lang" materializes
    * the language-balanced epoch of multilingual pretraining (q207),
    * byte-identical machinery. */
  def epochMixture(docs0: DataFrame,
      keyCol: String = "source"): DataFrame = {
    // the offset map and the driver-side grouping key the mix key as
    // a STRING — cast once here so any data-fixed-cardinality column
    // (int cluster ids included) works, as the docstring promises
    val docs = docs0.withColumn(keyCol, col(keyCol).cast("string"))
    val w = sourceMixtureWeights(docs, keyCol)
    val tot = w.agg(sum(col("n")).as("total"))
    val targets = w.crossJoin(broadcast(tot))
      .select(col(keyCol), col("n"),
        floor(col("weight") * col("total").cast("double")).as("tgt"))
    // per-key md5 rank WITHOUT a per-key window (a fixed key
    // cardinality would funnel each key's whole corpus into one
    // task at 100×): the md5's leading byte pre-buckets each key
    // into 256 ranges whose lexicographic order equals the global h
    // order, per-(key, rb) counts collect to a parallelism-sized
    // offset map (|keys|×256 rows — the equiDepthHistogram / Describe
    // distributed-rank pattern), and the window runs per (key, rb)
    // — 256× the parallelism, same exact rank
    val hashed = docs.select(col("doc_id"), col(keyCol),
        md5(col("doc_id").cast("string")).as("h"))
      .withColumn("rb", conv(substring(col("h"), 1, 2), 16, 10)
        .cast("int"))
    val offsets = hashed.groupBy(col(keyCol), col("rb"))
      .agg(count(lit(1)).as("bc")).collect()
      .groupBy(_.getAs[String](keyCol))
      .toSeq.flatMap { case (src, rows) =>
        var run = 0L
        rows.sortBy(_.getAs[Int]("rb")).map { r =>
          val off = run
          run += r.getAs[Long]("bc")
          (src, r.getAs[Int]("rb"), off)
        }
      }
    val offExpr = try_element_at(
      map(offsets.flatMap { case (s, b, off) =>
        Seq(lit(s + "#" + b), lit(off)): Seq[Column]
      }: _*),
      concat(col(keyCol), lit("#"), col("rb").cast("string")))
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy(col(keyCol), col("rb"))
      .orderBy(col("h"), col("doc_id"))
    hashed
      .withColumn("rk", row_number().over(win).cast("long") + offExpr)
      .join(broadcast(targets), keyCol)
      .select(col("doc_id"), col(keyCol),
        (expr("tgt div n") +
          when(col("rk") <= col("tgt") % col("n"), 1L).otherwise(0L))
          .as("n_copies"))
      .filter(col("n_copies") >= 1)
      .select(col("doc_id"), col(keyCol),
        explode(sequence(lit(1L), col("n_copies"))).as("copy"))
      .orderBy(col("doc_id"), col("copy"))
  }

  /** The dataset CARD — the one-row summary every dataset release
    * ships (the quantitative half of a datasheet/model-card data
    * section): corpus size, language/source breadth, exact-duplicate
    * mass, benchmark contamination, and the Gopher-rule keep count,
    * computed as ONE composed plan over the training side. Every
    * stat is an integer count (no float accumulation anywhere), so
    * the card is hash-exact cross-engine; every branch is a partial
    * aggregate or a broadcast-gram semi join collapsing to ONE row,
    * and the final assembly crossJoins six single-row frames — the
    * q48/q64 scalar-broadcast shape, nothing data-sized moves. The
    * two distinct-counts that would otherwise plan a multi-distinct
    * Expand (q153's lesson) run as separate tiny distinct+count
    * branches instead. */
  def releaseCard(docs: DataFrame, evalSource: String = "src0"): DataFrame = {
    val train = docs.filter(col("source") =!= evalSource)
    val base = train.agg(
      count(lit(1)).as("n_docs"),
      sum(size(split(col("text"), " ")).cast("long")).as("n_tokens"))
    val nl = train.select(col("lang")).distinct()
      .agg(count(lit(1)).as("n_langs"))
    val ns = train.select(col("source")).distinct()
      .agg(count(lit(1)).as("n_sources"))
    val nd = train.select(md5(col("text")).as("h")).distinct()
      .agg(count(lit(1)).as("n_distinct_texts"))
    val evalG = fiveGrams(docs.filter(col("source") === evalSource))
      .select(col("g")).distinct()
    val nc = fiveGrams(train).join(broadcast(evalG), "g")
      .select(col("doc_id")).distinct()
      .agg(count(lit(1)).as("n_contaminated"))
    val gk = TextAnalysis.gopherRules(train).filter(col("keep"))
      .agg(count(lit(1)).as("n_gopher_keep"))
    base.crossJoin(broadcast(nl)).crossJoin(broadcast(ns))
      .crossJoin(broadcast(nd)).crossJoin(broadcast(nc))
      .crossJoin(broadcast(gk))
      .select(col("n_docs"), col("n_tokens"), col("n_langs"),
        col("n_sources"),
        (col("n_docs") - col("n_distinct_texts")).as("n_exact_dups"),
        col("n_contaminated"), col("n_gopher_keep"))
  }

  /** Stateless per-document contamination sweep — the STREAMING twin
    * of [[contamination]]: the eval side collapses into a broadcast
    * gram -> eval-doc-ids map, and each training document computes
    * its own overlap counts row-locally against it — no explode-and-
    * regroup round trip, therefore NO streaming state and no
    * watermark: it runs in append mode on an unbounded `readStream`
    * of documents exactly as it runs on a batch frame (the oracle
    * checks the batch form; StreamingSpec pins stream == batch).
    *
    * Trade-off vs the batch join form: the eval side must fit one
    * executor's memory as a hash map (which decontamination has by
    * construction — eval benchmarks are tiny next to a pretraining
    * corpus); the q92 join form instead scales with total gram
    * volume but needs a shuffle. Same counts either way,
    * per-(micro)batch here. */
  def contaminationPerDoc(train: DataFrame, evalDocs: DataFrame)
      : DataFrame = {
    // The eval side collapses to a driver-built gram -> eval-doc-ids
    // map shipped once per executor as a broadcast VARIABLE —
    // model-sized state (eval suites are orders of magnitude smaller
    // than the corpus by construction), the same class as k-means
    // centroids. Per training row the sweep is then O(|doc grams|)
    // hash probes inside one narrow UDF projection. The earlier
    // one-row-join formulation was algebraically identical but
    // rematerialized the full eval-gram arrays into EVERY joined
    // row (megabytes per row at sf0.1) before the projection could
    // reduce them — a copy bomb, not a compute problem. The plan
    // stays stateless and narrow, so the same operator runs
    // append-mode on readStream with no watermark.
    // ship the gram table as SORTED PARALLEL ARRAYS, not a Map: a
    // 200k-entry HashMap costs seconds in Java serialization per run,
    // while String[]/Array[Array[Long]] serialize as flat data and
    // probe via binary search (log n string compares) with zero
    // executor-side build cost. Grouping happens IN Spark; the driver
    // only sorts the already-grouped rows.
    val grouped = fiveGrams(evalDocs)
      .select(col("g"), col("doc_id")).distinct()
      .groupBy(col("g")).agg(collect_list(col("doc_id")).as("ids"))
      .collect()
      .map(r => r.getString(0) -> r.getSeq[Long](1).toArray)
      .sortBy(_._1)
    val bc = train.sparkSession.sparkContext.broadcast(
      (grouped.map(_._1), grouped.map(_._2)))
    // the WHOLE per-document kernel (tokenize -> distinct 5-grams ->
    // probe) lives inside ONE udf over the raw text. The earlier form
    // built the gram array with Catalyst transform/element_at and fed
    // an array-typed udf — but the filter on the udf's output pushes
    // below the projection and INLINES the entire gram expression
    // into its condition, where `split(text)` is NOT subexpression-
    // eliminated inside the lambda: every element_at re-split the
    // text (5 per gram, ~250 splits/row), and the struct-returning
    // udf re-evaluated per field reference — a measured ~20x on the
    // scan. A self-contained text->counts kernel costs microseconds
    // per evaluation, so Catalyst may duplicate it freely.
    val overlap = udf((text: String) => {
      val t = text.split(" ", -1) // same regex semantics as F.split
      if (t.length < 5) None
      else {
        val (grams, idArrs) = bc.value
        val seen = scala.collection.mutable.HashSet.empty[String]
        var nShared = 0L
        val evalIds = scala.collection.mutable.HashSet.empty[Long]
        var i = 0
        while (i + 4 < t.length) {
          val g = new java.lang.StringBuilder(64)
            .append(t(i)).append(' ').append(t(i + 1)).append(' ')
            .append(t(i + 2)).append(' ').append(t(i + 3)).append(' ')
            .append(t(i + 4)).toString
          if (seen.add(g)) { // distinct grams, as array_distinct did
            val j = java.util.Arrays.binarySearch(
              grams.asInstanceOf[Array[AnyRef]], g)
            if (j >= 0) { nShared += 1; idArrs(j).foreach(evalIds.add) }
          }
          i += 1
        }
        Some((evalIds.size.toLong, nShared))
      }
    })
    train
      .select(col("doc_id"), overlap(col("text")).as("o"))
      .filter(col("o").isNotNull && col("o._2") >= 1)
      .select(col("doc_id"),
        col("o._1").as("n_eval_docs"),
        col("o._2").as("n_shared_ngrams"))
  }

  /** Distinct 5-grams per document — shared candidate unit of the
    * contamination sweep, the curation pipeline, the novelty curve,
    * and the dataset card. ONE gram-construction expression for all
    * of them; `keyCol` selects which column rides alongside the gram
    * (doc_id for contamination, source for the novelty curve). */
  private def fiveGrams(docs: DataFrame,
      keyCol: String = "doc_id"): DataFrame =
    docs.select(col(keyCol), split(col("text"), " ").as("t"))
      .filter(size(col("t")) >= 5)
      .select(col(keyCol), explode(array_distinct(expr(
        "transform(sequence(1, size(t)-4), i -> concat(" +
          "element_at(t, i), ' ', element_at(t, i+1), ' ', " +
          "element_at(t, i+2), ' ', element_at(t, i+3), ' ', " +
          "element_at(t, i+4)))"))).as("g"))

  /** Marginal-novelty curve of the corpus's sources — how many
    * distinct 5-grams each source adds that no earlier source (in
    * deterministic lexicographic source order) already contributed,
    * plus the cumulative distinct-gram count after ingesting sources
    * in that order. This is the Heaps-law ingest diagnostic behind
    * "is the next crawl worth it": a source whose `novelty_rate`
    * (new grams / its own distinct grams) is near zero duplicates
    * the corpus you already have ([[tokenDrift]] answers the same
    * question for RE-crawls of one source; this ranks sources
    * against each other).
    *
    * Scale: distinct (source, gram) is one gram-keyed aggregation —
    * O(tokens) shuffle, partial-aggregating; the first-contributor
    * is min(source) per gram (again gram-keyed, map-side
    * combinable); everything after runs on ≤ #sources rows, and the
    * one unpartitioned window rides THAT parallelism-sized relation
    * (PlanAuditSpec-allowlisted like q67/q149's offset tables). */
  /** Vocabulary COVERAGE curve from the token frequency SPECTRUM —
    * the "how big must the tokenizer vocab be" / Heaps-Zipf diagnostic
    * a release ships next to its dataset card: one row per distinct
    * occurrence count c, with the number of word types at exactly c,
    * the vocabulary size if the cut-off keeps types occurring ≥ c
    * times, and the fraction of ALL corpus tokens that vocabulary
    * covers. Reading top-down: "the 1,000 most frequent types cover
    * 78% of tokens" — the curve that sizes vocab/OOV trade-offs
    * ([[graft.operators.TextAnalysis.oovRate]] measures one chosen
    * cut; this ranks every possible cut at once).
    *
    * Scale: NO per-token ranking — the curve needs only the
    * counts-of-counts rollup (word counts → spectrum), which by Zipf
    * is O(√total_tokens) rows (a count value c has ~N/c(c+1) types;
    * distinct c values stop near √N), so the single cumulative window
    * rides a vocab-BOUNDED tiny relation (PlanAuditSpec-allowlisted)
    * while both aggregations beneath are map-side-combinable
    * gram-keyed groupBys. All integers plus one final long/long IEEE
    * division — hash-exact by construction. */
  def vocabCoverage(docs: DataFrame): DataFrame = {
    val wc = docs.select(explode(split(col("text"), " ")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
    val spectrum = wc.groupBy(col("c")).agg(count(lit(1)).as("n_types"))
    val tot = broadcast(spectrum.agg(
      sum(col("c") * col("n_types")).as("total_tokens")))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("c").desc)
      .rowsBetween(org.apache.spark.sql.expressions.Window
        .unboundedPreceding, 0)
    spectrum.crossJoin(tot)
      .select(col("c").as("min_count"), col("n_types"),
        sum(col("n_types")).over(w).cast("long").as("vocab_size"),
        sum(col("c") * col("n_types")).over(w).cast("long")
          .as("cum_tokens"),
        (sum(col("c") * col("n_types")).over(w).cast("double") /
          col("total_tokens").cast("double")).as("coverage"))
      .orderBy(col("min_count").desc)
  }

  def sourceNoveltyCurve(docs: DataFrame): DataFrame = {
    val sg = fiveGrams(docs, keyCol = "source").distinct()
    val perSource = sg.groupBy(col("source"))
      .agg(count(lit(1)).as("n_grams"))
    val news = sg.groupBy(col("g")).agg(min(col("source")).as("source"))
      .groupBy(col("source")).agg(count(lit(1)).as("new_grams"))
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("source"))
    perSource.join(news, Seq("source"), "left")
      .select(col("source"), col("n_grams"),
        coalesce(col("new_grams"), lit(0L)).as("new_grams"))
      .withColumn("cum_distinct", sum(col("new_grams")).over(w))
      .withColumn("novelty_rate",
        col("new_grams").cast("double") / col("n_grams").cast("double"))
      .orderBy(col("source"))
  }

  /** The SKETCH tier of [[sourceOverlapMatrix]] — per-source MinHash
    * signatures estimating the same 3-gram Jaccard, for source counts
    * where the exact gram self-join is unaffordable (10⁵+ feeds). The
    * estimator is Broder's: sig_s[i] = min over the source's grams of
    * hash_i(gram), est J(a,b) = agreeing positions / numPerms. Because
    * min over a MULTISET equals min over its set, no distinct pass is
    * needed: signatures fall out of ONE map-side-combinable
    * groupBy(source) over exploded grams (each partition pre-collapses
    * to |sources|·numPerms partial minima — at 100 TB the shuffle
    * carries parallelism·|sources| signature rows, nothing gram-
    * sized), and the all-pairs estimate rides the broadcast
    * |sources|-row signature table. xxhash64 family ⇒ rows-only by
    * design (q28's convention); the spec calibrates it against the
    * exact matrix — clone sources estimate 1.0 identically, MAE
    * bounded by ~1/√numPerms on every real pair. */
  def sourceOverlapMinhash(docs: DataFrame, numPerms: Int = 64)
      : DataFrame = {
    val g = docs.select(col("source"), split(col("text"), " ").as("t"))
      .filter(size(col("t")) >= 3)
      .select(col("source"), explode(expr(
        "transform(sequence(1, size(t)-2), i -> concat(" +
          "element_at(t, i), ' ', element_at(t, i+1), ' ', " +
          "element_at(t, i+2)))")).as("g"))
    val hs = g.select(col("source"),
      array((0 until numPerms).map(i => xxhash64(lit(i), col("g"))): _*)
        .as("hs"))
    val sigs = hs.groupBy(col("source"))
      .agg(array((0 until numPerms).map(i =>
        min(col("hs").getItem(i))): _*).as("sig"))
    val agree = (0 until numPerms).map(i =>
      when(col("sa").getItem(i) === col("sb").getItem(i), 1L)
        .otherwise(0L)).reduce(_ + _)
    broadcast(sigs.select(col("source").as("src_a"), col("sig").as("sa")))
      .join(broadcast(sigs.select(col("source").as("src_b"),
        col("sig").as("sb"))), col("src_a") < col("src_b"))
      .select(col("src_a"), col("src_b"), agree.as("n_agree"))
      .withColumn("est_jaccard",
        col("n_agree").cast("double") / lit(numPerms).cast("double"))
      .orderBy(col("src_a"), col("src_b"))
  }

  /** Driver-checked CALIBRATION card for [[sourceOverlapMinhash]] —
    * the q217 pattern at source granularity, stated with the q100
    * contract device: every source pair carries the EXACT 3-gram
    * Jaccard (the [[sourceOverlapMatrix]] value both engines
    * recompute, 0.0 for gram-disjoint pairs) plus `within_band` =
    * the xxhash64 sketch's estimate landed within `band` of it
    * (default 0.25 = 2/√numPerms — 4·SE at J=0.5, the estimator's
    * worst case). The production sketch stays [[sourceOverlapMinhash]]
    * alone (signatures only — that's the 10⁵-feed scale path); THIS
    * card runs both tiers at audit scale, turning "we trust the
    * source sketch" into a hash-checked row, exactly as q217 does
    * for the doc-level family. */
  def sourceOverlapSketchCalibration(docs: DataFrame, numPerms: Int = 64,
      band: Double = 0.25): DataFrame = {
    val est = sourceOverlapMinhash(docs, numPerms)
      .select(col("src_a"), col("src_b"), col("est_jaccard"))
    val exact = sourceOverlapMatrix(docs)
      .select(col("s1").as("src_a"), col("s2").as("src_b"),
        col("jaccard"))
    est.join(exact, Seq("src_a", "src_b"), "left")
      .select(col("src_a"), col("src_b"),
        coalesce(col("jaccard"), lit(0.0)).as("exact_jaccard"),
        (abs(col("est_jaccard") - coalesce(col("jaccard"), lit(0.0))) <=
          lit(band)).as("within_band"))
      .orderBy(col("src_a"), col("src_b"))
  }

  /** The cleaned corpus the curation workflow keeps: quality gate →
    * exact dedup (min-id representative per content hash) → optional
    * MinHash near-dup collapse (candidate pairs via LSH, transitive
    * clusters via the star-rounds CC operator, keep the min-doc_id
    * representative per cluster — the stage a real pretraining run
    * puts between exact dedup and decontamination) → decontamination
    * against the eval source (shared distinct 5-gram ⇒ drop).
    * Factored out of [[curationPipeline]] so specs can assert WHICH
    * documents survive, not just the per-split aggregates. */
  def curatedDocs(docs: DataFrame, evalSource: String = "src0",
      minChars: Long = 200, maxChars: Long = 1200,
      nearDup: Boolean = false): DataFrame = {
    val corpus = docs.filter(col("source") =!= evalSource &&
      col("n_chars").between(minChars, maxChars))
    val keep = corpus.groupBy(md5(col("text")).as("h"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"))
    val deduped = corpus.join(keep, Seq("doc_id"), "left_semi")
    // Near-dup collapse rides entirely on existing operators: LSH
    // keeps the candidate volume sub-quadratic, CC turns pairwise
    // matches into clusters (similarity is not transitive), and the
    // min-id keep rule mirrors the exact tier's representative choice.
    val afterNearDup =
      if (!nearDup) deduped
      else {
        val clusters = Dedup.dupClusters(
          Dedup.minhashDedup(deduped).select(col("d1"), col("d2")))
        val drops = clusters.filter(col("doc_id") =!= col("cluster_id"))
          .select(col("doc_id"))
        deduped.join(drops, Seq("doc_id"), "left_anti")
      }
    val evalGrams = fiveGrams(docs.filter(col("source") === evalSource))
      .select(col("g")).distinct()
    val contaminatedIds = fiveGrams(afterNearDup)
      .join(broadcast(evalGrams), "g")
      .select(col("doc_id")).distinct()
    afterNearDup.join(contaminatedIds, Seq("doc_id"), "left_anti")
  }

  /** The RELEASE-PACKING composition — the full path from raw crawl
    * to trainer-ready windows as ONE Catalyst plan: [[curatedDocs]]
    * (quality gate → exact dedup → decontamination) →
    * [[graft.operators.TextAnalysis.sourceQuota]] (per-source
    * quality-greedy token budget — the domain cap applied AFTER
    * cleaning, so a dup-ridden feed can't spend its quota on copies)
    * → [[graft.operators.TextAnalysis.lengthBucketPacking]] of the
    * kept docs (padding-aware fixed-ctx windows). Output is the
    * pack-level audit of the corpus a trainer would actually read.
    * Every stage is the library's own operator verbatim, so the
    * composition hash-matches the oracle end-to-end (the q130
    * assembly precedent extended by two round-10 operators); no
    * driver action anywhere — the three stages fuse into one lazy
    * plan whose only shuffles are the stages' own (md5 dedup key,
    * gram sweep, the partitioned quota/packing windows). */
  def releasePacking(docs: DataFrame, evalSource: String = "src0",
      minChars: Long = 200, maxChars: Long = 1200,
      budget: Long = 600L, ctx: Int = 512): DataFrame = {
    // r17 (guide §3 "materialising an intermediate truncates the
    // plan", §1.2): the curation algebra feeds BOTH the quota decision
    // and the packing input — without the lazy checkpoint the composed
    // plan inlines it twice (dedup + decontamination grams run twice
    // per run) and Catalyst re-optimizes the doubled tree (~1 s plan
    // time at any SF). The checkpoint materializes once inside the
    // final action; rows are unchanged (CorpusSignalsSpec pins the
    // composition against the step-by-step stages).
    val clean = curatedDocs(docs, evalSource, minChars, maxChars)
      .localCheckpoint(false)
    val kept = TextAnalysis.sourceQuota(clean, budget)
      .select(col("doc_id"))
    TextAnalysis.lengthBucketPacking(
      clean.join(kept, Seq("doc_id"), "left_semi"), ctx)
  }

  /** The curation WATERFALL — per-stage attrition of the q130
    * pipeline (raw → chars quality gate → exact dedup →
    * decontamination), one row per stage with surviving doc/char
    * mass. This is the report every curation run logs first: where
    * the corpus went. Stages replicate [[curatedDocs]]'s exact
    * algebra (and the oracle reuses q130's CTEs), so the funnel and
    * the pipeline cannot disagree about who survives.
    *
    * Scale: each stage row is ONE partial aggregate of a stage
    * relation the composed plan already builds; the union moves four
    * rows. Catalyst shares nothing between the stage scans here
    * (they are separate aggregates by construction), which at 100 TB
    * you'd amortize by persisting `deduped` — the only stage two
    * consumers read. */
  /** The four stage relations of the q130 curation algebra, shared
    * by the corpus-level ([[curationFunnel]]) and per-source
    * ([[curationFunnelBySource]]) waterfalls. */
  private def curationStages(docs: DataFrame, evalSource: String,
      minChars: Long, maxChars: Long): Seq[(Int, String, DataFrame)] = {
    val raw = docs.filter(col("source") =!= evalSource)
    val corpus = raw.filter(col("n_chars").between(minChars, maxChars))
    val keep = corpus.groupBy(md5(col("text")).as("h"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"))
    val deduped = corpus.join(keep, Seq("doc_id"), "left_semi")
    val evalGrams = fiveGrams(docs.filter(col("source") === evalSource))
      .select(col("g")).distinct()
    val contaminatedIds = fiveGrams(deduped)
      .join(broadcast(evalGrams), "g")
      .select(col("doc_id")).distinct()
    val clean = deduped.join(contaminatedIds, Seq("doc_id"), "left_anti")
    Seq((0, "raw", raw), (1, "quality_gate", corpus),
      (2, "exact_dedup", deduped), (3, "decontaminated", clean))
  }

  def curationFunnel(docs: DataFrame, evalSource: String = "src0",
      minChars: Long = 200, maxChars: Long = 1200): DataFrame =
    curationStages(docs, evalSource, minChars, maxChars).map {
      case (ord, name, df) =>
        df.agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("s"))
          .select(lit(ord).as("stage"), lit(name).as("stage_name"),
            col("n_docs"), coalesce(col("s"), lit(0L)).as("n_chars_total"))
    }.reduce(_ unionAll _).orderBy(col("stage"))

  /** [[curationFunnel]] split by SOURCE — which feed is full of
    * undersized docs, duplicates, or benchmark leakage: the triage
    * view a curation engineer reads before deciding which crawl to
    * fix. Same shared stage algebra; each stage rolls up per source
    * (map-side-combinable, |sources|·4 rows out). A source whose
    * docs all die at some stage simply has no row there — absence IS
    * the signal, and the oracle states the same group-wise shape. */
  def curationFunnelBySource(docs: DataFrame, evalSource: String = "src0",
      minChars: Long = 200, maxChars: Long = 1200): DataFrame =
    curationStages(docs, evalSource, minChars, maxChars).map {
      case (ord, name, df) =>
        df.groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("s"))
          .select(lit(ord).as("stage"), lit(name).as("stage_name"),
            col("source"), col("n_docs"),
            coalesce(col("s"), lit(0L)).as("n_chars_total"))
    }.reduce(_ unionAll _).orderBy(col("stage"), col("source"))

  /** The whole curation workflow as ONE composed plan — the user
    * story this library exists for: [[curatedDocs]] (quality gate →
    * exact dedup → optional near-dup collapse → decontamination) →
    * deterministic hashed 90/5/5 split → per-split corpus stats.
    * Every stage is the library's own operator semantics (q22/q24/
    * q28+q82/q92/q101); with `nearDup=false` every intermediate is
    * integer/string-exact, so the composition hash-matches the oracle
    * end-to-end (q130), and the near-dup variant (q131) is rows-only
    * because MinHash is engine-specific.
    * Scale: one md5-keyed shuffle (dedup), the banded LSH shuffle +
    * graph-sized CC rounds when enabled, one gram-keyed sweep with
    * the eval side broadcast, narrow everything else. */
  def curationPipeline(docs: DataFrame, evalSource: String = "src0",
      minChars: Long = 200, maxChars: Long = 1200,
      nearDup: Boolean = false): DataFrame = {
    val clean = curatedDocs(docs, evalSource, minChars, maxChars, nearDup)
    val bucket = conv(substring(md5(col("doc_id").cast("string")), 1, 8),
      16, 10).cast("long") % 100
    clean
      .withColumn("split",
        when(bucket < 90, "train").when(bucket < 95, "val")
          .otherwise("test"))
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("n_chars_total"))
      .orderBy(col("split"))
  }

  /** Deterministic train/val/test split (90/5/5) by hashing the
    * stable document id through md5 — the split a doc lands in never
    * changes as the corpus grows, unlike row_number- or rand()-based
    * splits, and any engine reproduces it (md5 is md5 everywhere).
    * Pure narrow projection: no shuffle at any scale. */
  def datasetSplit(docs: DataFrame): DataFrame = {
    val bucket = (conv(substring(md5(col("doc_id").cast("string")), 1, 8),
      16, 10).cast("long") % 100).as("bucket")
    docs.select(col("doc_id"), bucket)
      .withColumn("split",
        when(col("bucket") < 90, "train")
          .when(col("bucket") < 95, "val")
          .otherwise("test"))
      .orderBy(col("doc_id"))
  }

  /** Token-budget WATERFILLING allocation — the balanced-mixture
    * answer to "we can afford B training tokens; how many from each
    * source?": every source keeps all its tokens up to a common cap C,
    * where C is the largest integer with Σᵢ min(nᵢ, C) ≤ B — small
    * sources survive whole, the crawl giants absorb the truncation
    * (the max-min-fair allocation; [[sourceMixtureWeights]]'s n^α
    * temperature answers the same question as a RATIO schedule, this
    * answers it as a hard budget). Solved exactly in one pass over the
    * |sources|-row rollup: sorted ascending by size, Sₖ = prefixₖ +
    * (m−k)·nₖ (the budget consumed if C = nₖ) is monotone in k, so
    * k* = #{k : Sₖ ≤ B} and C = (B − prefix_{k*}) div (m − k*) —
    * all integer algebra (div = floor division), hash-exact.
    *
    * Scale: the corpus contributes ONE map-side-combinable groupBy to
    * |sources| rows; the ranking window and the 1-row solve ride that
    * data-fixed tiny relation (PlanAuditSpec-allowlisted), and the
    * per-source output is broadcastable to drive the actual sampler
    * ([[graft.operators.Dedup.hashStratifiedSample]] with rate =
    * alloc/n per source). `budgetDen`: B = total div budgetDen. */
  def budgetWaterfill(docs: DataFrame, budgetDen: Long = 2L): DataFrame = {
    require(budgetDen >= 1, s"budgetDen must be >= 1 (got $budgetDen)")
    val win = org.apache.spark.sql.expressions.Window
    val totals = docs
      .select(col("source"), size(split(col("text"), " ")).cast("long")
        .as("n"))
      .groupBy(col("source")).agg(sum(col("n")).as("n_tokens"))
    val ord = win.orderBy(col("n_tokens"), col("source"))
    val ranked = totals
      .withColumn("k", row_number().over(ord).cast("long"))
      .withColumn("prefix", sum(col("n_tokens")).over(
        ord.rowsBetween(win.unboundedPreceding, 0)))
    val g = broadcast(ranked
      .withColumn("m", count(lit(1)).over(
        win.rowsBetween(win.unboundedPreceding, win.unboundedFollowing)))
      .withColumn("total", sum(col("n_tokens")).over(
        win.rowsBetween(win.unboundedPreceding, win.unboundedFollowing)))
      .withColumn("b", expr(s"total div $budgetDen"))
      .withColumn("s_k",
        col("prefix") + (col("m") - col("k")) * col("n_tokens"))
      .agg(
        max(col("m")).as("m"), max(col("b")).as("b"),
        max(col("n_tokens")).as("max_n"),
        sum(when(col("s_k") <= col("b"), 1L).otherwise(0L)).as("kstar"),
        coalesce(max(when(col("s_k") <= col("b"), col("prefix"))), lit(0L))
          .as("pstar"))
      .select(col("b"),
        when(col("kstar") === col("m"), col("max_n"))
          .otherwise(expr("(b - pstar) div (m - kstar)")).as("cap")))
    totals.crossJoin(g)
      .select(col("source"), col("n_tokens"),
        least(col("n_tokens"), col("cap")).as("alloc_tokens"),
        (col("n_tokens") > col("cap")).as("capped"),
        col("cap"), col("b").as("budget"))
      .orderBy(col("source"))
  }

  /** Train/test split LEAKAGE audit — the reason dedup must run
    * BEFORE splitting (Lee et al. 2022 §6: near-duplicate train/test
    * pairs inflate every benchmark number): every near-duplicate pair
    * of [[TextAnalysis.sparseCosinePairs]]'s posting tier whose two
    * docs landed in DIFFERENT [[datasetSplit]] splits, with both split
    * labels and the cosine — the concrete leak list an eval audit
    * reads, not just a count. Composition only: the pair tier is
    * linear in corpus (df-capped), the split is a pure hash
    * projection, and the two label joins are doc-keyed on the tiny
    * pair set — so the audit costs one q202 plus pair-volume joins at
    * any corpus size, and every column is integer/string/replayed-
    * float algebra (hash-exact end to end). */
  def splitLeakage(docs: DataFrame, threshold: Double = 0.5): DataFrame = {
    val pairs = TextAnalysis.sparseCosinePairs(docs, threshold)
    val split = datasetSplit(docs).select(col("doc_id"), col("split"))
    pairs
      .join(split.select(col("doc_id").as("d1"), col("split").as("split1")),
        "d1")
      .join(split.select(col("doc_id").as("d2"), col("split").as("split2")),
        "d2")
      .filter(col("split1") =!= col("split2"))
      .select(col("d1"), col("d2"), col("split1"), col("split2"),
        col("cosine"))
      .orderBy(col("d1"), col("d2"))
  }

  /** CLEANING-impact card — the one-row "what would cleaning buy us"
    * estimate a curation run logs BEFORE committing to the pipeline
    * (the before-picture to [[curationFunnel]]'s after-picture):
    * corpus totals, exact-duplicate doc mass, intra-document repeated
    * 8-token lines, near-duplicate pair count from the posting tier,
    * and benchmark-contaminated doc count. Every branch collapses to
    * ONE row before the q211-style scalar crossJoin assembly, every
    * stat is an exact integer, and each branch replays its parent
    * operator's algebra (md5 fingerprints, the q197 line rule, the
    * q202 pair tier, the q92 sweep) so the card cannot disagree with
    * the operators it summarizes. */
  def cleaningImpactCard(docs: DataFrame,
      evalSource: String = "src0"): DataFrame = {
    val tot = docs.agg(count(lit(1)).as("n_docs"),
      sum(size(split(col("text"), " ")).cast("long")).as("n_tokens"))
    val ex = docs.agg((count(lit(1)) -
      count_distinct(md5(col("text")))).as("exact_dup_docs"))
    val intra = intraDocLineDedup(docs)
      .agg(sum(col("n_lines") - col("n_kept")).as("intradoc_dup_lines"))
    val nd = TextAnalysis.sparseCosinePairs(docs)
      .agg(count(lit(1)).as("neardup_pairs"))
    val cont = contamination(docs, evalSource)
      .agg(count(lit(1)).as("contaminated_docs"))
    tot.crossJoin(ex).crossJoin(intra).crossJoin(nd).crossJoin(cont)
  }

  /** Per-SOURCE contamination triage — which feed is quoting the
    * benchmark: for every non-eval source, its doc count, how many of
    * its docs share a 5-gram with the eval source (the q92 set), and
    * the contamination rate — the |sources|-row view that decides
    * whether to scrub a feed (low rate → q199's span surgery) or drop
    * it (high rate → the crawl is derivative). One left join of the
    * contaminated-doc set onto the corpus + a source-keyed map-side
    * rollup; integers + one IEEE division. */
  def contaminationBySource(docs: DataFrame,
      evalSource: String = "src0"): DataFrame = {
    val hits = contamination(docs, evalSource)
      .select(col("doc_id")).withColumn("hit", lit(1L))
    docs.filter(col("source") =!= evalSource)
      .select(col("doc_id"), col("source"))
      .join(hits, Seq("doc_id"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(coalesce(col("hit"), lit(0L))).as("n_contaminated"))
      .select(col("source"), col("n_docs"), col("n_contaminated"),
        (col("n_contaminated").cast("double") /
          col("n_docs").cast("double")).as("contamination_rate"))
      .orderBy(col("source"))
  }

  /** Contamination BLAST RADIUS — how far benchmark leakage spreads
    * through the near-duplicate graph: hop 0 is the q92 contamination
    * set (train docs sharing a 5-gram with the eval source), and hop
    * k ≤ `hops` adds train docs within k near-dup edges of a
    * contaminated one (a near-copy of a contaminated page is itself
    * suspect even when the paraphrase broke the exact 5-gram — the
    * transitive-taint sweep a conservative decontamination runs
    * before deciding its drop set). Frontier relaxation over the
    * [[TextAnalysis.sparseCosinePairs]] train-side edge tier — the
    * [[Similarity.bfsHops]] recurrence ([[Similarity.bfsRelax]])
    * re-keyed to documents; all integer, hop counts exact, hash-exact
    * against unrolled rounds.
    *
    * Scale: the seed join is one broadcast-gram semi-join shape
    * (q92), edges are the linear df-capped posting tier, and each of
    * the ≤ `hops` rounds is one edge equi-join + a min groupBy,
    * checkpointed EAGERLY: each hop reads the previous frontier twice,
    * so a lazy round would recompute it 2^hops times (the r17 q231
    * regression recorded at [[Iterate]]). */
  def contaminationBlastRadius(docs: DataFrame,
      evalSource: String = "src0", hops: Int = 2,
      threshold: Double = 0.5): DataFrame = {
    val train = docs.filter(col("source") =!= evalSource)
    val edges = Similarity.symmetricEdges(
      TextAnalysis.sparseCosinePairs(train, threshold)).localCheckpoint(true)
    val dist = contamination(docs, evalSource)
      .select(col("doc_id"), lit(0L).as("hops"))
      .localCheckpoint(true)
    Iterate(dist, Iterate.Fixed(hops))(
      Similarity.bfsRelax(edges, "doc_id", eager = true))
      .state.orderBy(col("doc_id"))
  }

  /** Leakage-SAFE split: [[datasetSplit]] with the q224 leak list
    * acted on — any val/test doc that near-duplicates a TRAIN doc is
    * reassigned to train (the eval item is burned: once its twin is
    * trained on, it can never measure generalization; quarantining it
    * into train preserves the data while keeping eval clean). Val↔test
    * cross-leaks don't touch train and are left to the q224 report.
    * Composition of [[splitLeakage]] + one doc-keyed left join; the
    * reassignment is a projection, so the operator costs one leak
    * audit at any corpus size and stays hash-exact (pure composition
    * of replayed algebra). */
  def leakageSafeSplit(docs: DataFrame, threshold: Double = 0.5)
      : DataFrame = {
    val base = datasetSplit(docs).select(col("doc_id"), col("split"))
    val leaks = splitLeakage(docs, threshold)
    val burned = leaks.filter(col("split1") === "train")
      .select(col("d2").as("doc_id"))
      .union(leaks.filter(col("split2") === "train")
        .select(col("d1").as("doc_id")))
      .distinct()
      .withColumn("burn", lit(true))
    base.join(burned, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("burn"), lit("train")).otherwise(col("split"))
          .as("split"),
        coalesce(col("burn"), lit(false)).as("reassigned"))
      .orderBy(col("doc_id"))
  }

  /** REALIZE the [[budgetWaterfill]] allocation as an actual sampled
    * corpus: per source, documents are kept by the deterministic
    * hash-threshold rule bucket(doc)·n_src < alloc_src·10⁶ (bucket =
    * md5 in [0, 10⁶)), so the expected kept token mass per source is
    * exactly its waterfilled allocation — small sources ship whole,
    * capped sources ship a stable alloc/n-rate slice. All-integer
    * comparison (the q134/q164 growth-stable keep-decision device:
    * re-running after an upstream refresh never flips a surviving
    * doc), one broadcast join of the |sources|-row allocation table —
    * the operator that turns the budget ANSWER into the dataset a
    * trainer reads. */
  def waterfillSample(docs: DataFrame, budgetDen: Long = 2L): DataFrame = {
    val alloc = budgetWaterfill(docs, budgetDen)
      .select(col("source"), col("n_tokens").as("src_tokens"),
        col("alloc_tokens"))
    val bucket = conv(substring(md5(concat(lit("wfill:"),
      col("doc_id").cast("string"))), 1, 8), 16, 10)
      .cast("long") % 1000000L
    // DECIMAL(38,0) products: bucket (<10^6) times a 100 TB source's
    // token count (~10^13) exceeds Long range, where non-ANSI Spark
    // would WRAP SILENTLY — decimal keeps the comparison exact at any
    // scale and DuckDB replays it identically
    docs.select(col("doc_id"), col("source"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
      .join(broadcast(alloc), Seq("source"))
      .filter(bucket.cast("decimal(38,0)") *
        col("src_tokens").cast("decimal(38,0)") <
        col("alloc_tokens").cast("decimal(38,0)") *
          lit(1000000L).cast("decimal(38,0)"))
      .select(col("doc_id"), col("source"), col("n_tokens"))
      .orderBy(col("doc_id"))
  }

  /** Cross-source DUPLICATE-FLOW matrix — which feeds mirror each
    * other at DOCUMENT granularity: for every source pair, the number
    * of exact-duplicate groups (md5 content fingerprints, q24's key)
    * present in both, plus the doc mass on each side. The
    * doc-identity complement to [[sourceOverlapMatrix]]'s gram-level
    * Jaccard: gram overlap says two feeds cover the same topics;
    * dup flow says one literally carries the other's pages — the
    * evidence for deduplicating at INGEST (drop the mirror feed)
    * rather than paying the near-dup stack for it.
    *
    * Scale: the self-join is keyed on fingerprint; per-fingerprint
    * expansion is C(source-df, 2) ≤ C(|sources|, 2), so the pair
    * volume rides the cross-source duplicate mass, never corpus².
    * Both rollups are map-side combinable. */
  def dupFlowMatrix(docs: DataFrame): DataFrame = {
    val c = docs
      .groupBy(md5(col("text")).as("fp"), col("source"))
      .agg(count(lit(1)).as("n"))
    c.alias("a").join(c.alias("b"),
        col("a.fp") === col("b.fp") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
      .agg(count(lit(1)).as("shared_groups"),
        sum(col("a.n")).as("docs_a"), sum(col("b.n")).as("docs_b"))
      .orderBy(col("src_a"), col("src_b"))
  }

  /** EPOCH-AWARE token allocation — the data-constrained-scaling
    * extension of [[budgetWaterfill]] (Muennighoff et al. 2023,
    * arXiv:2305.16264: when the compute budget exceeds the unique
    * corpus, repeat data — but repeated epochs have diminishing
    * value, and small curated sources are the ones worth repeating).
    * Each source may contribute up to `r_cap` epochs of its unique
    * tokens, with r_cap derived from corpus share (share < 1/32 → 4
    * epochs, < 1/16 → 3, < 1/8 → 2, else 1 — the "repeat Wikipedia,
    * not the crawl" rule, all integer threshold compares). The budget
    * funds epoch TIERS in order (every eligible source's epoch 1,
    * then epoch 2, …); the tier that exhausts the budget is split
    * proportionally to source size by exact integral division.
    * Epoch value decays on a power-of-two ladder (1, 1/2, 1/4, 1/8),
    * so `effective_x8` (effective tokens × 8) stays a pure integer.
    *
    * Exactness: the proportional split is `(rem · n) div cap` over
    * DECIMAL(38,0) products (a 100 TB source's token count times the
    * remaining budget exceeds Long, where non-ANSI Spark wraps
    * silently — the q229 device); Spark's decimal `div` is
    * BigDecimal.divideToIntegralValue, DuckDB's `//` over HUGEINT —
    * both exact. Shuffle cost: one source rollup; the tier table is
    * ≤ maxEpochs·|sources| rows, cumulated by a 4×4 self-join (no
    * window), and the one-row solve broadcasts. */
  def epochAwareAllocation(docs: DataFrame, budgetNum: Long = 5L,
      budgetDen: Long = 2L, maxEpochs: Int = 4): DataFrame = {
    require(budgetNum >= 1 && budgetDen >= 1 && maxEpochs >= 1)
    val totals = docs
      .select(col("source"),
        size(split(col("text"), " ")).cast("long").as("n"))
      .groupBy(col("source")).agg(sum(col("n")).as("n_tokens"))
    val tot = totals.agg(sum(col("n_tokens")).as("total"))
      .select(col("total"),
        expr(s"(total * $budgetNum) div $budgetDen").as("budget"))
    val rCap = when(col("n_tokens") * 32 < col("total"), 4)
      .when(col("n_tokens") * 16 < col("total"), 3)
      .when(col("n_tokens") * 8 < col("total"), 2).otherwise(1)
    val caps = totals.crossJoin(broadcast(tot))
      .select(col("source"), col("n_tokens"), rCap.as("r_cap"))
    val tiers = caps
      .select(col("n_tokens"), col("r_cap"),
        explode(sequence(lit(1), lit(maxEpochs))).as("k"))
      .filter(col("r_cap") >= col("k"))
      .groupBy(col("k")).agg(sum(col("n_tokens")).as("cap"))
    val cum = tiers.alias("x")
      .join(broadcast(tiers.alias("y")), col("y.k") <= col("x.k"))
      .groupBy(col("x.k").as("k"))
      .agg(max(col("x.cap")).as("cap"), sum(col("y.cap")).as("cumcap"))
    val g1 = cum.crossJoin(broadcast(tot))
      .agg(
        coalesce(max(when(col("cumcap") <= col("budget"), col("k"))),
          lit(0)).as("f"),
        coalesce(max(when(col("cumcap") <= col("budget"), col("cumcap"))),
          lit(0L)).as("cumf"),
        max(col("budget")).as("budget"))
    val g = g1.join(broadcast(cum), col("k") === col("f") + 1, "left")
      .select(col("f"), col("budget"),
        (col("budget") - col("cumf")).as("rem"),
        coalesce(col("cap"), lit(0L)).as("mcap"))
    val fullEpochs = least(col("f"), col("r_cap"))
    val elig = col("r_cap") > col("f") && col("mcap") > 0
    val marginal = when(elig,
      expr("(cast(rem as decimal(38,0)) * cast(n_tokens as decimal(38,0)))" +
        " div cast(mcap as decimal(38,0))")).otherwise(lit(0L))
    // Σ_{k<=fe} 8/2^(k-1) and the marginal tier's weight 8/2^f — the
    // power-of-two decay ladder in exact eighths
    val lut = map(lit(0), lit(0L), lit(1), lit(8L), lit(2), lit(12L),
      lit(3), lit(14L), lit(4), lit(15L))
    val mw = map(lit(0), lit(8L), lit(1), lit(4L), lit(2), lit(2L),
      lit(3), lit(1L))
    caps.crossJoin(broadcast(g))
      .withColumn("full_epochs", fullEpochs)
      .withColumn("marginal_alloc", marginal)
      .select(col("source"), col("n_tokens"), col("r_cap"),
        col("full_epochs"),
        col("marginal_alloc"),
        (col("n_tokens") * col("full_epochs") + col("marginal_alloc"))
          .as("alloc_tokens"),
        (col("n_tokens") * element_at(lut, col("full_epochs")) +
          col("marginal_alloc") *
            coalesce(element_at(mw, col("f")), lit(0L)))
          .as("effective_x8"),
        col("budget"))
      .orderBy(col("source"))
  }

  /** REALIZED epoch schedule — [[epochAwareAllocation]] turned into
    * the (epoch, doc) read manifest a trainer consumes (the q229
    * realization convention applied to q250): epochs 1..full ship the
    * whole source; the marginal tier ships the deterministic hash
    * slice whose expected token mass IS the marginal allocation
    * (bucket(doc)·n_src < marginal·10⁶ over DECIMAL(38,0) products —
    * exact at 100 TB where Long wraps). One broadcast join of the
    * |sources|-row allocation; the full tier is a row-local explode
    * bounded by maxEpochs. */
  def epochScheduleSample(docs: DataFrame, budgetNum: Long = 5L,
      budgetDen: Long = 2L, maxEpochs: Int = 4): DataFrame = {
    val alloc = epochAwareAllocation(docs, budgetNum, budgetDen, maxEpochs)
      .select(col("source"), col("n_tokens"), col("full_epochs"),
        col("marginal_alloc"))
    val d = docs.select(col("doc_id"), col("source"))
      .join(broadcast(alloc), Seq("source"))
    // sequence(1, 0) would DESCEND ([1, 0]) — guard the empty case
    val fullEpochs = when(col("full_epochs") >= 1,
      sequence(lit(1), col("full_epochs")))
      .otherwise(array().cast("array<int>"))
    val full = d.select(col("doc_id"), col("source"),
      explode(fullEpochs).as("epoch"))
    val bucket = conv(substring(md5(concat(lit("epk:"),
      col("doc_id").cast("string"))), 1, 8), 16, 10)
      .cast("long") % 1000000L
    val marg = d
      .filter(col("marginal_alloc") > 0 &&
        bucket.cast("decimal(38,0)") *
          col("n_tokens").cast("decimal(38,0)") <
        col("marginal_alloc").cast("decimal(38,0)") *
          lit(1000000L).cast("decimal(38,0)"))
      .select(col("doc_id"), col("source"),
        (col("full_epochs") + 1).cast("int").as("epoch"))
    full.select(col("epoch").cast("int").as("epoch"), col("doc_id"),
        col("source"))
      .unionByName(marg.select(col("epoch"), col("doc_id"), col("source")))
      .orderBy(col("epoch"), col("doc_id"))
  }

  /** Inverted index build: term → document frequency + the posting
    * list of the first 20 doc ids (serialized CSV so the oracle can
    * compare it). One explode + one (term)-keyed window + one groupBy
    * — posting lists are truncated per term BEFORE collecting, so no
    * unbounded array ever materializes (the classic index-build
    * mistake at corpus scale). */
  def invertedIndex(docs: DataFrame): DataFrame = {
    val td = docs.select(col("doc_id"),
      explode(array_distinct(split(col("text"), " "))).as("term"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("term")).orderBy(col("doc_id"))
    td.withColumn("rn", row_number().over(w))
      .groupBy(col("term"))
      .agg(count(lit(1)).as("df"),
        array_join(array_sort(collect_list(when(col("rn") <= 20,
          col("doc_id")))).cast("array<string>"), ",").as("postings"))
      .orderBy(col("term"))
  }

  /** BM25 ranked retrieval (Robertson-Spärck Jones): the first
    * `nQueries` documents act as bag-of-words queries against the
    * whole corpus, each corpus document scored by
    * Σ_{t ∈ q ∩ d} idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·|d|/avgdl))
    * and the top `k` per query returned — the search tier a curation
    * pipeline uses for example-based mining and dedup adjudication.
    *
    * Cross-engine exactness: idf is the RATIONAL form
    * (N − df + 0.5)/(df + 0.5) rather than its ln — one IEEE-exact
    * division instead of a libm transcendental (the q140
    * probability-not-logprob trade; same monotonicity, so ranking
    * semantics survive). avgdl = integer token sum / N is one exact
    * division on identical inputs, and the per-(query, doc) score
    * folds over the TERM-sorted contribution list (q127 pattern) so
    * the float sum is order-pinned. Ties and output order break on
    * doc_id.
    *
    * Scale: tf/df/doclen are partial-aggregatable token-keyed
    * groupBys (one corpus scan); candidate scoring touches only
    * documents sharing ≥1 query term (the postings intersection, not
    * the corpus), keyed by term then (query, doc); the top-k window
    * is query-keyed — per-query state is candidate-sized, and the
    * 1-row (N, avgdl) relation broadcasts. */
  def bm25TopK(docs: DataFrame, nQueries: Int = 5, k: Int = 10,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("doc_id"))
    bm25Scored(docs, nQueries, k1, b)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("doc_id"), col("score"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** The (query_id, doc_id, score) relation under bm25TopK's scoring
    * (shared by the top-k ranking and the triplet miner): every
    * corpus document sharing ≥1 term with a query, scored with the
    * rational-idf, order-pinned-fold recipe documented on
    * [[bm25TopK]]. */
  private def bm25Scored(docs: DataFrame, nQueries: Int,
      k1: Double, b: Double): DataFrame = {
    val toks = docs.select(col("doc_id"),
      explode(split(col("text"), " ")).as("t"))
    val tf = toks.groupBy(col("doc_id"), col("t"))
      .agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("t")).agg(count(lit(1)).as("df"))
    val dl = docs.select(col("doc_id"),
      size(split(col("text"), " ")).cast("long").as("dl"))
    val stats = dl.agg(count(lit(1)).as("n"),
      (sum(col("dl")).cast("double") / count(lit(1))).as("avgdl"))
    val qterms = docs.filter(col("doc_id") < nQueries)
      .select(col("doc_id").as("query_id"),
        explode(array_distinct(split(col("text"), " "))).as("t"))
    val contrib = qterms.join(tf, "t").join(df, "t").join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .select(col("query_id"), col("doc_id"), col("t"),
        (((col("n").cast("double") - col("df") + lit(0.5)) /
          (col("df").cast("double") + lit(0.5))) *
          (col("tf").cast("double") * lit(k1 + 1.0)) /
          (col("tf").cast("double") + lit(k1) *
            (lit(1.0 - b) + lit(b) * col("dl").cast("double") /
              col("avgdl")))).as("c"))
    contrib
      .groupBy(col("query_id"), col("doc_id"))
      .agg(aggregate(
        array_sort(collect_list(struct(col("t"), col("c")))),
        lit(0.0), (acc, x) => acc + x.getField("c")).as("score"))
  }

  /** Retrieval-TRAINING triplet mining — the (query, positive,
    * hard-negative) examples a dense-retriever / embedding model
    * trains on (DPR, Karpukhin et al. 2020, arXiv:2004.04906: random
    * negatives are too easy; the informative negatives are documents
    * a lexical ranker scores HIGH but not top). Built from the SAME
    * scored relation as q165: per query, rank all candidates with
    * the query document itself EXCLUDED (a query trivially retrieves
    * itself at rank 1 — keeping it would make every positive a
    * self-pair and teach the model the identity function); the
    * positive is rank 1 of what remains, the hard negatives are
    * ranks `negFrom..negFrom+nNeg-1` — deep enough to not be
    * near-duplicates of the positive, shallow enough to still be
    * lexically confusable. One row per (query, negative), carrying
    * both scores and the score margin the loss will see.
    *
    * Scale: everything through the scored relation is q165's
    * candidate-sized plan (documents sharing ≥1 query term, never
    * corpus²); the rank window is query-keyed over candidates; the
    * positive×negative assembly joins two ≤|queries|·nNeg-row
    * relations on query_id — broadcast-sized at any corpus scale. */
  def retrievalTriplets(docs: DataFrame, nQueries: Int = 5,
      negFrom: Int = 6, nNeg: Int = 3,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(negFrom >= 2 && nNeg >= 1)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("doc_id"))
    val ranked = bm25Scored(docs, nQueries, k1, b)
      .filter(col("doc_id") =!= col("query_id"))
      .withColumn("rank", row_number().over(w))
    val pos = ranked.filter(col("rank") === 1)
      .select(col("query_id"), col("doc_id").as("pos_id"),
        col("score").as("pos_score"))
    val neg = ranked
      .filter(col("rank") >= negFrom && col("rank") < negFrom + nNeg)
      .select(col("query_id"), col("rank").cast("long").as("neg_rank"),
        col("doc_id").as("neg_id"), col("score").as("neg_score"))
    pos.join(neg, "query_id")
      .select(col("query_id"), col("pos_id"), col("pos_score"),
        col("neg_rank"), col("neg_id"), col("neg_score"),
        (col("pos_score") - col("neg_score")).as("margin"))
      .orderBy(col("query_id"), col("neg_rank"))
  }

  /** Deterministic N-per-group sample: the first `n` docs per
    * language under an md5 ordering — reproducible on any engine and
    * stable as the corpus grows (a doc's hash never changes), unlike
    * TABLESAMPLE. Runs on the custom top-k-per-key operator, so the
    * per-group selection prunes map-side instead of shuffling every
    * row — hash-ordered top-k IS uniform sampling. */
  def groupSample(docs: DataFrame, n: Int = 5): DataFrame =
    graft.plans.TopK.perKey(
      docs.select(col("lang"), col("doc_id"),
        md5(col("doc_id").cast("string")).as("h")),
      Seq("lang"),
      Seq("h" -> false, "doc_id" -> false),
      k = n)
      .orderBy(col("lang"), col("h"), col("doc_id"))

  /** The q165/q255 shared oracle literal: DuckDB CTE chain producing
    * the (query_id, doc_id, score) `scored` relation that mirrors
    * [[bm25Scored]] bit-for-bit (rational idf, term-ordered fold). */
  private val bm25ScoredSql: String =
    """tf AS (
      |  SELECT doc_id, t, CAST(count(*) AS BIGINT) AS tf
      |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS t
      |        FROM documents)
      |  GROUP BY doc_id, t),
      |dfr AS (
      |  SELECT t, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY t),
      |dl AS (
      |  SELECT doc_id,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS dl
      |  FROM documents),
      |stats AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl),
      |qterms AS (
      |  SELECT doc_id AS query_id,
      |    unnest(list_distinct(string_split(text, ' '))) AS t
      |  FROM documents WHERE doc_id < 5),
      |contrib AS (
      |  SELECT q.query_id, tf.doc_id, tf.t,
      |    ((CAST(s.n AS DOUBLE) - tf2.df + 0.5)
      |      / (CAST(tf2.df AS DOUBLE) + 0.5))
      |    * (CAST(tf.tf AS DOUBLE) * (1.2 + 1.0))
      |    / (CAST(tf.tf AS DOUBLE) + 1.2 * ((1.0 - 0.75)
      |        + 0.75 * CAST(dl.dl AS DOUBLE) / s.avgdl)) AS c
      |  FROM qterms q
      |  JOIN tf ON tf.t = q.t
      |  JOIN dfr tf2 ON tf2.t = q.t
      |  JOIN dl ON dl.doc_id = tf.doc_id
      |  CROSS JOIN stats s),
      |scored AS (
      |  SELECT query_id, doc_id,
      |    list_reduce(list_prepend(0.0, list(c ORDER BY t)),
      |      (a, b) -> a + b) AS score
      |  FROM contrib GROUP BY query_id, doc_id)""".stripMargin

  /** Heaps'-law type-growth card: how the DISTINCT-token vocabulary
    * grows as the corpus is ingested in doc_id order — the curve
    * whose slope (the Heaps exponent β in V ≈ K·nᵝ, Heaps 1978)
    * tokenizer designers read to size vocabularies and data teams
    * read to detect exhausted sources (a flattening curve = new data
    * is re-treading old vocabulary; a steep one = genuinely novel
    * text). Ten checkpoints at doc_id value deciles; each row reports
    * the EXACT cumulative (tokens_seen, types_seen) at that boundary,
    * all integers — the β fit itself lives in the spec (log-log
    * regression over the 10 rows) so the driver check stays
    * float-free, the q230 length-spectrum convention.
    *
    * Scale: the naive form re-scans the corpus once per checkpoint;
    * this one never does — types collapse to their FIRST-occurrence
    * doc (one groupBy over the token stream, Zipf-bounded output),
    * per-doc token counts are a narrow projection, and both join the
    * 10-row broadcast boundary table with a ≤ predicate (row
    * multiplier ≤ 10, absorbed by map-side partial aggregation). No
    * global window, no second corpus pass. */
  def typeGrowthCard(docs: DataFrame, checkpoints: Int = 10): DataFrame = {
    val spark = docs.sparkSession
    val bounds = spark.range(1, checkpoints + 1).toDF("checkpoint")
      .crossJoin(broadcast(docs.agg(max(col("doc_id")).as("max_id"))))
      .selectExpr("checkpoint",
        s"checkpoint * max_id div $checkpoints AS bound")
    val toks = docs.select(col("doc_id"),
      explode(split(col("text"), " ")).as("tok"))
    val firstSeen = toks.groupBy(col("tok"))
      .agg(min(col("doc_id")).as("first_doc"))
    val docCounts = docs.select(col("doc_id"),
      size(split(col("text"), " ")).cast("long").as("n_toks"))
    val tokensSeen = docCounts
      .join(broadcast(bounds), col("doc_id") <= col("bound"))
      .groupBy(col("checkpoint"), col("bound"))
      .agg(sum(col("n_toks")).as("tokens_seen"))
    val typesSeen = firstSeen
      .join(broadcast(bounds), col("first_doc") <= col("bound"))
      .groupBy(col("checkpoint"))
      .agg(count(lit(1)).as("types_seen"))
    tokensSeen.join(typesSeen, Seq("checkpoint"))
      .select(col("checkpoint"), col("bound").as("bound_doc_id"),
        col("tokens_seen"), col("types_seen"))
      .orderBy(col("checkpoint"))
  }

  /** PMI collocation card (Church & Hanks 1990, "Word Association
    * Norms, Mutual Information, and Lexicography"): the top-k
    * adjacent word pairs by pointwise mutual information — the
    * association test that separates true collocations ("new york")
    * from pairs that co-occur merely because both words are frequent,
    * which a raw bigram count ranking cannot do. Emits the count
    * evidence (c12, c1, c2) alongside the score; `minCount` guards
    * PMI's known small-count blowup (a hapax pair scores arbitrarily
    * high — the standard frequency floor).
    *
    * Cross-engine exactness: the score is the PMI RATIO
    * `(c12·T²)/(B·c1·c2)` (T tokens, B bigram slots) computed as one
    * exact integer product on each side of a single double division —
    * bitwise-identical across engines, and rank-equivalent to PMI
    * itself because ln is monotone (the ln lives in downstream
    * consumers, not the driver-checked card — the q230 float-free
    * convention).
    *
    * Scale: unigram and bigram counts are partial-aggregable groupBys
    * over the token stream (vocab-/pair-vocab-sized outputs, Zipf
    * bounded); totals are a 1-row broadcast; the final top-k is
    * TakeOrdered, no global window. */
  def collocationCard(docs: DataFrame, minCount: Int = 5,
      k: Int = 100): DataFrame = {
    val toks = docs.select(split(col("text"), " ").as("t"))
    val uni = toks.select(explode(col("t")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
    val totals = toks.agg(
      sum(size(col("t"))).as("tot_toks"),
      sum(greatest(size(col("t")) - 1, lit(0))).as("tot_bi"))
    val bi = toks.filter(size(col("t")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, size(t)-1), " +
          "i -> struct(element_at(t, i) AS w1, element_at(t, i+1) AS w2))"))
        .as("p"))
      .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
      .filter(col("c12") >= minCount)
    bi.join(uni.select(col("w").as("w1"), col("c").as("c1")), Seq("w1"))
      .join(uni.select(col("w").as("w2"), col("c").as("c2")), Seq("w2"))
      .crossJoin(broadcast(totals))
      .select(col("w1"), col("w2"), col("c12"), col("c1"), col("c2"),
        // T² overflows int64 at ~3e9 tokens — far below target scale —
        // so the exact products run in decimal(38,0) (HUGEINT oracle-
        // side, the q229/q250 overflow convention) and only the final
        // division is a double. decimal(38,0) holds c12·T² through
        // ~4e12 tokens even in the degenerate c12≈T case; real bigram
        // counts are Zipf-bounded far under that.
        ((col("c12").cast("decimal(38,0)") *
          col("tot_toks").cast("decimal(38,0)") *
          col("tot_toks").cast("decimal(38,0)")).cast("double") /
          (col("tot_bi").cast("decimal(38,0)") *
            col("c1").cast("decimal(38,0)") *
            col("c2").cast("decimal(38,0)")).cast("double"))
          .as("pmi_ratio"))
      .orderBy(col("pmi_ratio").desc, col("w1"), col("w2"))
      .limit(k)
  }

  /** WINDOWED co-occurrence PMI — [[collocationCard]] generalized
    * from adjacent bigrams to a ±`window` token window: the
    * word2vec/GloVe co-occurrence statistic (Mikolov 2013 / Pennington
    * 2014 build exactly this matrix before factorizing it), ranking
    * UNORDERED word pairs by the PMI ratio over all co-occurrence
    * slots at distance ≤ window. Adjacent-only q268 finds fixed
    * phrases ("new york"); the windowed form finds topical
    * association bridging a word ("strong coffee" across "strong hot
    * coffee") — the association mining a distillation/embedding
    * pipeline reads.
    *
    * Exactness: pair keys are canonical (lexicographic min/max), all
    * counts integers, the same decimal(38,0) product guard as q268,
    * ONE double division. Scale: co-occurrence rows are window·tokens
    * (constant factor over q268), partial-aggregated to the
    * Zipf-bounded pair vocabulary; totals broadcast; TakeOrdered. */
  def windowedPmiCard(docs: DataFrame, window: Int = 2,
      minCount: Int = 5, k: Int = 100): DataFrame = {
    val toks = docs.select(split(col("text"), " ").as("t"))
    val uni = toks.select(explode(col("t")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
    // slots per doc: sum over d=1..window of max(len-d, 0)
    val slotsOf = (1 to window).map(d =>
      greatest(size(col("t")) - d, lit(0)).cast("long"))
      .reduce(_ + _)
    val totals = toks.agg(
      sum(size(col("t"))).as("tot_toks"),
      sum(slotsOf).as("tot_slots"))
    val pairs = toks.filter(size(col("t")) >= 2)
      .select(explode(expr(
        s"""flatten(transform(sequence(1, size(t) - 1), i ->
           |  transform(sequence(i + 1,
           |      least(i + $window, size(t))), j ->
           |    struct(least(element_at(t, i), element_at(t, j)) AS w1,
           |      greatest(element_at(t, i), element_at(t, j)) AS w2))))
           |""".stripMargin)).as("p"))
      .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
      .filter(col("c12") >= minCount)
    pairs
      .join(uni.select(col("w").as("w1"), col("c").as("c1")), Seq("w1"))
      .join(uni.select(col("w").as("w2"), col("c").as("c2")), Seq("w2"))
      .crossJoin(broadcast(totals))
      .select(col("w1"), col("w2"), col("c12"), col("c1"), col("c2"),
        ((col("c12").cast("decimal(38,0)") *
          col("tot_toks").cast("decimal(38,0)") *
          col("tot_toks").cast("decimal(38,0)")).cast("double") /
          (col("tot_slots").cast("decimal(38,0)") *
            col("c1").cast("decimal(38,0)") *
            col("c2").cast("decimal(38,0)")).cast("double"))
          .as("pmi_ratio"))
      .orderBy(col("pmi_ratio").desc, col("w1"), col("w2"))
      .limit(k)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q308_windowed_pmi" -> ((s, d) =>
      windowedPmiCard(Tables(s, d).documents)),
    "q268_collocations" -> ((s, d) =>
      collocationCard(Tables(s, d).documents)),
    "q267_type_growth" -> ((s, d) =>
      typeGrowthCard(Tables(s, d).documents)),
    "q111_group_sample" -> ((s, d) => groupSample(Tables(s, d).documents)),
    "q255_retrieval_triplets" -> ((s, d) =>
      retrievalTriplets(Tables(s, d).documents)),
    "q259_viterbi_fertility" -> ((s, d) =>
      viterbiFertility(Tables(s, d).documents)),
    "q301_vocab_utilization" -> ((s, d) =>
      vocabUtilization(Tables(s, d).documents)),
    "q303_memorization_spectrum" -> ((s, d) =>
      memorizationSpectrum(Tables(s, d).documents)),
    "q91_repetition_signals" -> ((s, d) =>
      repetitionSignals(Tables(s, d).documents)),
    "q92_contamination" -> ((s, d) => contamination(Tables(s, d).documents)),
    "q116_boilerplate_grams" -> ((s, d) =>
      boilerplateFraction(Tables(s, d).documents)),
    "q126_bpe_pair_counts" -> ((s, d) =>
      bpePairCounts(Tables(s, d).documents)),
    "q242_release_packing" -> ((s, d) =>
      releasePacking(Tables(s, d).documents)),
    "q130_curation_pipeline" -> ((s, d) =>
      curationPipeline(Tables(s, d).documents)),
    "q131_curation_neardup" -> ((s, d) =>
      curationPipeline(Tables(s, d).documents, nearDup = true)),
    "q132_contamination_stream" -> ((s, d) => {
      val t = Tables(s, d).documents
      contaminationPerDoc(t.filter(col("source") =!= "src0"),
        t.filter(col("source") === "src0")).orderBy(col("doc_id"))
    }),
    "q127_source_mixture" -> ((s, d) =>
      sourceMixtureWeights(Tables(s, d).documents)),
    "q168_epoch_mixture" -> ((s, d) =>
      epochMixture(Tables(s, d).documents)),
    // the SAME mixture machinery keyed on language — the XLM-R-style
    // low-resource-language up-weighting schedule, materialized
    "q207_lang_epoch_mixture" -> ((s, d) =>
      epochMixture(Tables(s, d).documents, keyCol = "lang")),
    // OPERATOR COMPOSITION — the dataset builder end to end: the
    // curated corpus (quality gate -> exact dedup -> decontamination)
    // fed straight into the temperature-mixture materializer; one
    // oracle-exact plan from raw docs to the named epoch rows a
    // trainer reads
    // r17: epochMixture reads its input three times (the offsets
    // collect plus two plan branches) — materialize the curated
    // corpus ONCE with a lazy checkpoint instead of re-running the
    // dedup + decontamination algebra per read (the q242 midpoint
    // device; at scale this is "write the curated corpus, then build
    // epochs"). Rows unchanged (checkpoint is content-neutral).
    "q187_epoch_build" -> ((s, d) =>
      epochMixture(curatedDocs(Tables(s, d).documents)
        .localCheckpoint(false))),
    "q170_importance_weights" -> ((s, d) =>
      importanceWeights(Tables(s, d).documents)),
    "q272_ess_card" -> ((s, d) => essCard(Tables(s, d).documents)),
    "q101_dataset_split" -> ((s, d) => datasetSplit(Tables(s, d).documents)),
    "q224_split_leakage" ->
      ((s, d) => splitLeakage(Tables(s, d).documents)),
    "q227_budget_waterfill" ->
      ((s, d) => budgetWaterfill(Tables(s, d).documents)),
    "q228_leakage_safe_split" ->
      ((s, d) => leakageSafeSplit(Tables(s, d).documents)),
    "q231_contamination_radius" ->
      ((s, d) => contaminationBlastRadius(Tables(s, d).documents)),
    "q233_contamination_by_source" ->
      ((s, d) => contaminationBySource(Tables(s, d).documents)),
    "q235_cleaning_impact_card" ->
      ((s, d) => cleaningImpactCard(Tables(s, d).documents)),
    "q229_waterfill_sample" ->
      ((s, d) => waterfillSample(Tables(s, d).documents)),
    "q102_inverted_index" -> ((s, d) => invertedIndex(Tables(s, d).documents)),
    "q135_dup_span_coverage" ->
      ((s, d) => dupSpanCoverage(Tables(s, d).documents)),
    "q138_line_dedup_rewrite" ->
      ((s, d) => lineDedupRewrite(Tables(s, d).documents)),
    "q197_intradoc_line_dedup" ->
      ((s, d) => intraDocLineDedup(Tables(s, d).documents)
        .orderBy(col("doc_id"))),
    "q157_bpe_merges" -> ((s, d) =>
      bpeTrainMerges(Tables(s, d).documents)),
    "q177_bpe_encode" -> ((s, d) =>
      bpeEncode(Tables(s, d).documents)),
    "q219_bpe_fertility" -> ((s, d) =>
      bpeFertility(Tables(s, d).documents)),
    // BYTE-LEVEL tier (r16): the GPT-2-family tokenizer shape — regex
    // pre-tokenizer + byte alphabet (space ↦ Ġ), same merge loop
    "q352_byte_bpe_merges" -> ((s, d) =>
      byteBpeTrainMerges(Tables(s, d).documents)),
    "q353_byte_bpe_encode" -> ((s, d) =>
      byteBpeEncode(Tables(s, d).documents)),
    "q354_byte_fertility" -> ((s, d) =>
      byteBpeFertility(Tables(s, d).documents)),
    "q165_bm25_topk" -> ((s, d) =>
      bm25TopK(Tables(s, d).documents)),
    "q159_source_overlap" -> ((s, d) =>
      sourceOverlapMatrix(Tables(s, d).documents)),
    "q223_vocab_coverage" -> ((s, d) =>
      vocabCoverage(Tables(s, d).documents)),
    "q204_source_novelty" -> ((s, d) =>
      sourceNoveltyCurve(Tables(s, d).documents)),
    "q237_source_overlap" -> ((s, d) =>
      sourceOverlapMatrix(Tables(s, d).documents)),
    // the corpus has organic cross-source duplicates only at sf0.1, so
    // the query adds a deterministic planted mirror feed (every 11th
    // doc re-emitted under 'mir:'+source — the q245/q246 plant
    // convention) on TOP of the organic pairs, keeping the matrix
    // populated at every SF
    "q249_dup_flow_matrix" -> ((s, d) => {
      val docs = Tables(s, d).documents
      dupFlowMatrix(docs.unionByName(
        docs.filter(pmod(col("doc_id"), lit(11)) === 0)
          .withColumn("source", concat(lit("mir:"), col("source")))))
    }),
    "q250_epoch_allocation" -> ((s, d) =>
      epochAwareAllocation(Tables(s, d).documents)),
    "q252_epoch_schedule" -> ((s, d) =>
      epochScheduleSample(Tables(s, d).documents)),
    // upgraded from rows-only in r11: the registered card is the
    // CALIBRATION view (exact jaccard both engines recompute + the
    // sketch's within-band contract); the raw xxhash64 signature
    // sketch remains the production scale path
    "q243_source_overlap_sketch" -> ((s, d) =>
      sourceOverlapSketchCalibration(Tables(s, d).documents)),
    "q211_release_card" -> ((s, d) =>
      releaseCard(Tables(s, d).documents)),
    "q215_curation_funnel" -> ((s, d) =>
      curationFunnel(Tables(s, d).documents)),
    "q216_funnel_by_source" -> ((s, d) =>
      curationFunnelBySource(Tables(s, d).documents)),
    // snapshot perturbation = the q124 pattern: every 97th doc leaves
    // the corpus, every 31st gets an edit suffix
    "q163_token_drift" -> ((s, d) => {
      val docs = Tables(s, d).documents
      tokenDrift(docs, docs
        .filter(pmod(col("doc_id"), lit(97)) =!= 0)
        .withColumn("text",
          when(pmod(col("doc_id"), lit(31)) === 0,
            concat(col("text"), lit(" refreshed crawl content")))
            .otherwise(col("text"))))
    }),
    // the q163 snapshot-perturbation convention (every 97th doc
    // leaves, every 31st gains the 24-char refresh suffix), read
    // through the length CDFs
    "q309_length_drift_ks" -> ((s, d) => {
      val docs = Tables(s, d).documents
      lengthDriftKs(docs, docs
        .filter(pmod(col("doc_id"), lit(97)) =!= 0)
        .withColumn("n_chars",
          when(pmod(col("doc_id"), lit(31)) === 0,
            col("n_chars") + 24).otherwise(col("n_chars"))))
    })
  )

  /** The q168 mixture-materialization oracle parameterized on the mix
    * key (q168: source; q207: lang) — ONE generator, so the two
    * registered forms cannot drift from each other. */
  private def epochMixtureOracle(key: String): String =
    s"""WITH c AS (SELECT $key, CAST(count(*) AS BIGINT) AS n
       |           FROM documents GROUP BY 1),
       |d AS (SELECT list_reduce(list_prepend(0.0,
       |        list(sqrt(CAST(n AS DOUBLE)) ORDER BY $key)),
       |        (a, b) -> a + b) AS denom FROM c),
       |tot AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM c),
       |t AS (SELECT $key, n,
       |        CAST(floor(sqrt(CAST(n AS DOUBLE)) / denom
       |          * CAST(total AS DOUBLE)) AS BIGINT) AS tgt
       |      FROM c, d, tot),
       |r AS (SELECT doc_id, dd.$key,
       |        row_number() OVER (PARTITION BY dd.$key
       |          ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
       |      FROM documents dd),
       |nc AS (SELECT doc_id, r.$key,
       |         (tgt // n) + CASE WHEN rk <= (tgt % n)
       |                           THEN 1 ELSE 0 END AS n_copies
       |       FROM r JOIN t ON r.$key = t.$key)
       |SELECT doc_id, $key,
       |  CAST(unnest(generate_series(1, n_copies)) AS BIGINT) AS copy
       |FROM nc WHERE n_copies >= 1
       |ORDER BY doc_id, copy""".stripMargin

  /** The q227 waterfill solve as a CTE chain (t → tot → r → ks → g),
    * shared verbatim by the q227 and q229 oracles so the allocation
    * and its realized sample cannot drift. */
  private val waterfillSolveCtes: String =
    """t AS (
      |  SELECT source,
      |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
      |  FROM documents GROUP BY source),
      |tot AS (
      |  SELECT CAST(count(*) AS BIGINT) AS m,
      |    CAST(sum(n_tokens) AS BIGINT) // 2 AS b,
      |    CAST(max(n_tokens) AS BIGINT) AS max_n
      |  FROM t),
      |r AS (
      |  SELECT source, n_tokens,
      |    CAST(row_number() OVER (ORDER BY n_tokens, source)
      |      AS BIGINT) AS k,
      |    CAST(sum(n_tokens) OVER (ORDER BY n_tokens, source
      |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS prefix
      |  FROM t),
      |ks AS (
      |  SELECT
      |    CAST(sum(CASE WHEN r.prefix + (tot.m - r.k) * r.n_tokens
      |      <= tot.b THEN 1 ELSE 0 END) AS BIGINT) AS kstar,
      |    CAST(coalesce(max(CASE WHEN r.prefix + (tot.m - r.k)
      |      * r.n_tokens <= tot.b THEN r.prefix END), 0)
      |      AS BIGINT) AS pstar
      |  FROM r, tot),
      |g AS (
      |  SELECT tot.b,
      |    CASE WHEN ks.kstar = tot.m THEN tot.max_n
      |         ELSE (tot.b - ks.pstar) // (tot.m - ks.kstar)
      |    END AS cap
      |  FROM ks, tot)""".stripMargin

  /** The q250 tiered solve as one shared CTE chain ending in `alloc`
    * (per source: n_tokens, r_cap, f, budget, full_epochs,
    * marginal_alloc) — q250 reads it, q252 expands it. */
  private val epochAllocSql: String =
    """totals AS (
      |  SELECT source,
      |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
      |  FROM documents GROUP BY source),
      |tot AS (
      |  SELECT CAST(sum(n_tokens) AS BIGINT) AS total,
      |    CAST(sum(n_tokens) AS BIGINT) * 5 // 2 AS budget FROM totals),
      |caps AS (
      |  SELECT source, n_tokens,
      |    CASE WHEN n_tokens * 32 < total THEN 4
      |         WHEN n_tokens * 16 < total THEN 3
      |         WHEN n_tokens * 8 < total THEN 2 ELSE 1 END AS r_cap
      |  FROM totals CROSS JOIN tot),
      |tiers AS (
      |  SELECT k, CAST(sum(n_tokens) AS BIGINT) AS cap
      |  FROM caps CROSS JOIN (SELECT unnest(range(1, 5)) AS k) ks
      |  WHERE r_cap >= k GROUP BY k),
      |cum AS (
      |  SELECT x.k, max(x.cap) AS cap,
      |    CAST(sum(y.cap) AS BIGINT) AS cumcap
      |  FROM tiers x JOIN tiers y ON y.k <= x.k GROUP BY x.k),
      |g1 AS (
      |  SELECT coalesce(max(CASE WHEN cumcap <= budget THEN k END), 0)
      |      AS f,
      |    CAST(coalesce(max(CASE WHEN cumcap <= budget THEN cumcap END),
      |      0) AS BIGINT) AS cumf,
      |    max(budget) AS budget
      |  FROM cum CROSS JOIN tot),
      |g AS (
      |  SELECT f, budget, budget - cumf AS rem,
      |    CAST(coalesce(cap, 0) AS BIGINT) AS mcap
      |  FROM g1 LEFT JOIN cum ON cum.k = g1.f + 1),
      |alloc AS (
      |  SELECT source, n_tokens, r_cap, f, budget,
      |    CAST(least(f, r_cap) AS INTEGER) AS full_epochs,
      |    CAST(CASE WHEN r_cap > f AND mcap > 0
      |      THEN (CAST(rem AS HUGEINT) * CAST(n_tokens AS HUGEINT))
      |        // CAST(mcap AS HUGEINT)
      |      ELSE 0 END AS BIGINT) AS marginal_alloc
      |  FROM caps CROSS JOIN g)""".stripMargin

  /** q170's DuckDB twin WITHOUT the final ORDER BY — shared verbatim
    * with the q272 ESS rollup so the weight definition cannot drift
    * between the two. */
  private[operators] val importanceWeightsSql: String =
    """WITH toks AS (
      |  SELECT doc_id, source, unnest(string_split(text, ' ')) AS w
      |  FROM documents),
      |counts AS (
      |  SELECT w,
      |    CAST(count(*) FILTER (WHERE source = 'src0') AS BIGINT) AS ct,
      |    CAST(count(*) FILTER (WHERE source <> 'src0') AS BIGINT) AS cr
      |  FROM toks GROUP BY w),
      |totals AS (
      |  SELECT CAST(count(*) AS BIGINT) AS v,
      |    CAST(sum(ct) AS BIGINT) AS t,
      |    CAST(sum(cr) AS BIGINT) AS r
      |  FROM counts),
      |ratios AS (
      |  SELECT w,
      |    (CAST(ct + 1 AS DOUBLE) / CAST(t + v AS DOUBLE))
      |      / (CAST(cr + 1 AS DOUBLE) / CAST(r + v AS DOUBLE)) AS ratio
      |  FROM counts, totals)
      |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
      |  list_reduce(list_prepend(0.0, list(ratio ORDER BY w)),
      |    (a, b) -> a + b) AS score,
      |  list_reduce(list_prepend(0.0, list(ratio ORDER BY w)),
      |    (a, b) -> a + b) / CAST(count(*) AS DOUBLE) AS mean_ratio
      |FROM toks JOIN ratios USING (w)
      |WHERE source <> 'src0'
      |GROUP BY doc_id""".stripMargin

  val oracleSql: Map[String, String] = Map(
    // exact integer products on both sides of ONE double division
    // (rank-equivalent to PMI since ln is monotone); same minCount=5,
    // k=100 pins
    // q268's exact-ratio algebra over the ±2 window pair space:
    // canonical (least, greatest) pair keys, HUGEINT products, ONE
    // double division; slots = Σ(len−1)+ + Σ(len−2)+ pinned to w=2
    "q308_windowed_pmi" ->
      """WITH t AS (SELECT string_split(text, ' ') AS t FROM documents),
        |u AS (SELECT w, CAST(count(*) AS BIGINT) AS c
        |      FROM (SELECT unnest(t) AS w FROM t) GROUP BY w),
        |tot AS (
        |  SELECT CAST(SUM(len(t)) AS BIGINT) AS tot_toks,
        |    CAST(SUM(greatest(len(t) - 1, 0)
        |      + greatest(len(t) - 2, 0)) AS BIGINT) AS tot_slots
        |  FROM t),
        |b AS (
        |  SELECT least(t[i], t[j]) AS w1, greatest(t[i], t[j]) AS w2
        |  FROM (SELECT t, i,
        |          unnest(generate_series(i + 1,
        |            least(i + 2, len(t)))) AS j
        |        FROM (SELECT t,
        |                unnest(generate_series(1, len(t) - 1)) AS i
        |              FROM t WHERE len(t) >= 2))),
        |bc AS (
        |  SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12
        |  FROM b GROUP BY w1, w2 HAVING count(*) >= 5)
        |SELECT bc.w1, bc.w2, bc.c12, u1.c AS c1, u2.c AS c2,
        |  CAST(CAST(bc.c12 AS HUGEINT) * CAST(tot.tot_toks AS HUGEINT)
        |      * CAST(tot.tot_toks AS HUGEINT) AS DOUBLE) /
        |    CAST(CAST(tot.tot_slots AS HUGEINT) * CAST(u1.c AS HUGEINT)
        |      * CAST(u2.c AS HUGEINT) AS DOUBLE) AS pmi_ratio
        |FROM bc
        |JOIN u u1 ON u1.w = bc.w1
        |JOIN u u2 ON u2.w = bc.w2
        |CROSS JOIN tot
        |ORDER BY pmi_ratio DESC, w1, w2 LIMIT 100""".stripMargin,
    "q268_collocations" ->
      """WITH t AS (SELECT string_split(text, ' ') AS t FROM documents),
        |u AS (SELECT w, CAST(count(*) AS BIGINT) AS c
        |      FROM (SELECT unnest(t) AS w FROM t) GROUP BY w),
        |tot AS (
        |  SELECT CAST(SUM(len(t)) AS BIGINT) AS tot_toks,
        |    CAST(SUM(greatest(len(t) - 1, 0)) AS BIGINT) AS tot_bi
        |  FROM t),
        |b AS (
        |  SELECT t[i] AS w1, t[i + 1] AS w2
        |  FROM (SELECT t, unnest(generate_series(1, len(t) - 1)) AS i
        |        FROM t WHERE len(t) >= 2)),
        |bc AS (
        |  SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12
        |  FROM b GROUP BY w1, w2 HAVING count(*) >= 5)
        |SELECT bc.w1, bc.w2, bc.c12, u1.c AS c1, u2.c AS c2,
        |  CAST(CAST(bc.c12 AS HUGEINT) * CAST(tot.tot_toks AS HUGEINT)
        |      * CAST(tot.tot_toks AS HUGEINT) AS DOUBLE) /
        |    CAST(CAST(tot.tot_bi AS HUGEINT) * CAST(u1.c AS HUGEINT)
        |      * CAST(u2.c AS HUGEINT) AS DOUBLE) AS pmi_ratio
        |FROM bc
        |JOIN u u1 ON u1.w = bc.w1
        |JOIN u u2 ON u2.w = bc.w2
        |CROSS JOIN tot
        |ORDER BY pmi_ratio DESC, w1, w2 LIMIT 100""".stripMargin,
    // integer-only card: first-occurrence doc per type + per-doc token
    // counts, both rolled up against the 10 doc_id-decile boundaries
    // with a <= join. Pinned to checkpoints=10.
    "q267_type_growth" ->
      """WITH mx AS (SELECT max(doc_id) AS max_id FROM documents),
        |b AS (
        |  SELECT t.c AS checkpoint, (t.c * mx.max_id) // 10 AS bound
        |  FROM range(1, 11) t(c), mx),
        |tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |  FROM documents),
        |f AS (SELECT tok, min(doc_id) AS first_doc FROM tok GROUP BY tok),
        |dc AS (
        |  SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks
        |  FROM documents),
        |ts AS (
        |  SELECT b.checkpoint, b.bound,
        |    CAST(SUM(dc.n_toks) AS BIGINT) AS tokens_seen
        |  FROM b JOIN dc ON dc.doc_id <= b.bound
        |  GROUP BY b.checkpoint, b.bound),
        |ty AS (
        |  SELECT b.checkpoint, CAST(COUNT(*) AS BIGINT) AS types_seen
        |  FROM b JOIN f ON f.first_doc <= b.bound
        |  GROUP BY b.checkpoint)
        |SELECT ts.checkpoint, ts.bound AS bound_doc_id,
        |  ts.tokens_seen, ty.types_seen
        |FROM ts JOIN ty ON ty.checkpoint = ts.checkpoint
        |ORDER BY ts.checkpoint""".stripMargin,
    // same counts-of-counts rollup, same count-descending cumulative
    // window, one exact long/long division
    "q223_vocab_coverage" ->
      """WITH wc AS (
        |  SELECT w, CAST(count(*) AS BIGINT) AS c
        |  FROM (SELECT unnest(string_split(text, ' ')) AS w
        |        FROM documents)
        |  GROUP BY w),
        |sp AS (
        |  SELECT c, CAST(count(*) AS BIGINT) AS n_types
        |  FROM wc GROUP BY c),
        |t AS (SELECT CAST(sum(c * n_types) AS BIGINT) AS total_tokens
        |      FROM sp)
        |SELECT c AS min_count, n_types,
        |  CAST(sum(n_types) OVER (ORDER BY c DESC
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS vocab_size,
        |  CAST(sum(c * n_types) OVER (ORDER BY c DESC
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens,
        |  CAST(CAST(sum(c * n_types) OVER (ORDER BY c DESC
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS DOUBLE)
        |    / CAST(t.total_tokens AS DOUBLE) AS coverage
        |FROM sp, t ORDER BY min_count DESC""".stripMargin,
    "q157_bpe_merges" -> bpeMergesOracle(10),
    "q177_bpe_encode" -> bpeEncodeOracle(10),
    // the byte tier replays the SAME unrolled chains over the
    // pre-tokenizer unit stream (shared generators — the tiers
    // cannot drift)
    "q352_byte_bpe_merges" -> byteBpeMergesOracle(10),
    "q353_byte_bpe_encode" -> byteBpeEncodeOracle(10),
    "q354_byte_fertility" ->
      s"""SELECT d.source, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(len(string_split(d.text, ' '))) AS BIGINT)
         |    AS n_words,
         |  CAST(sum(e.n_pieces) AS BIGINT) AS n_pieces,
         |  CAST(sum(d.n_chars) AS BIGINT) AS n_chars,
         |  CAST(CAST(sum(e.n_pieces) AS BIGINT) AS DOUBLE)
         |    / CAST(CAST(sum(len(string_split(d.text, ' '))) AS BIGINT)
         |        AS DOUBLE) AS pieces_per_word,
         |  CAST(CAST(sum(d.n_chars) AS BIGINT) AS DOUBLE)
         |    / CAST(CAST(sum(e.n_pieces) AS BIGINT) AS DOUBLE)
         |    AS chars_per_piece
         |FROM (${byteBpeEncodeOracle(10)}) e
         |JOIN documents d USING (doc_id)
         |GROUP BY d.source ORDER BY d.source""".stripMargin,
    // q177's full train+encode oracle as the inner query, rolled up
    // per source with the same integer sums and IEEE divisions
    "q219_bpe_fertility" ->
      s"""SELECT d.source, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(len(string_split(d.text, ' '))) AS BIGINT)
         |    AS n_words,
         |  CAST(sum(e.n_pieces) AS BIGINT) AS n_pieces,
         |  CAST(sum(d.n_chars) AS BIGINT) AS n_chars,
         |  CAST(CAST(sum(e.n_pieces) AS BIGINT) AS DOUBLE)
         |    / CAST(CAST(sum(len(string_split(d.text, ' '))) AS BIGINT)
         |        AS DOUBLE) AS pieces_per_word,
         |  CAST(CAST(sum(d.n_chars) AS BIGINT) AS DOUBLE)
         |    / CAST(CAST(sum(e.n_pieces) AS BIGINT) AS DOUBLE)
         |    AS chars_per_piece
         |FROM (${bpeEncodeOracle(10)}) e
         |JOIN documents d USING (doc_id)
         |GROUP BY d.source ORDER BY d.source""".stripMargin,
    // rational idf + order-pinned fold => bit-exact; the (1.2 + 1.0)
    // style subexpressions are spelled as the SAME IEEE ops Spark's
    // plan computes, never pre-evaluated decimal literals
    "q165_bm25_topk" ->
      s"""WITH $bm25ScoredSql,
        |ranked AS (
        |  SELECT query_id, doc_id, score,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY score DESC, doc_id) AS rnk
        |  FROM scored)
        |SELECT query_id, CAST(rnk AS BIGINT) AS rank, doc_id, score
        |FROM ranked WHERE rnk <= 10
        |ORDER BY query_id, rank""".stripMargin,
    // integer shortest-path DP replayed as level-deduped recursive
    // reachability (the q166 BFS device): min level reaching pos n IS
    // the optimal piece count; vocab cut totally ordered by
    // (count DESC, gram ASC), pinned to topK=64 maxLen=4
    // q259's vocab CTEs verbatim + a best-match edge table and the
    // greedy recursive walk; integer walk, one final share division
    "q301_vocab_utilization" ->
      """WITH RECURSIVE occ AS (
        |  SELECT unnest(string_split(text, ' ')) AS w FROM documents),
        |wt AS (
        |  SELECT w, CAST(count(*) AS BIGINT) AS cnt FROM occ GROUP BY w),
        |gr AS (
        |  SELECT substr(w, i, l) AS g, CAST(sum(cnt) AS BIGINT) AS c
        |  FROM wt,
        |    unnest([1, 2, 3, 4]) AS ll(l),
        |    unnest(range(1, len(w) + 1)) AS ii(i)
        |  WHERE i + l - 1 <= len(w)
        |  GROUP BY g),
        |vocab AS (
        |  SELECT g FROM gr WHERE length(g) = 1
        |  UNION ALL
        |  SELECT g FROM (
        |    SELECT g, row_number() OVER (ORDER BY c DESC, g) AS rn
        |    FROM gr WHERE length(g) >= 2) WHERE rn <= 64),
        |m AS (
        |  SELECT w, i AS pos, max(l) AS best_l
        |  FROM (SELECT wt.w, ii.i, ll.l
        |        FROM wt,
        |          unnest([1, 2, 3, 4]) AS ll(l),
        |          unnest(range(1, len(w) + 1)) AS ii(i)
        |        WHERE i + l - 1 <= len(wt.w)
        |          AND substr(wt.w, i, l) IN (SELECT g FROM vocab))
        |  GROUP BY w, i),
        |walk(w, pos, piece) AS (
        |  SELECT m.w, 1 + m.best_l, substr(m.w, 1, m.best_l)
        |  FROM m WHERE m.pos = 1
        |  UNION ALL
        |  SELECT m.w, r.pos + m.best_l, substr(m.w, r.pos, m.best_l)
        |  FROM walk r JOIN m ON m.w = r.w AND m.pos = r.pos),
        |usage AS (
        |  SELECT piece, CAST(sum(wt.cnt) AS BIGINT) AS uses
        |  FROM walk JOIN wt ON wt.w = walk.w GROUP BY piece)
        |SELECT v.g AS piece, CAST(length(v.g) AS BIGINT) AS piece_len,
        |  coalesce(u.uses, 0) AS uses,
        |  CAST(coalesce(u.uses, 0) AS DOUBLE) /
        |    (SELECT CAST(sum(uses) AS DOUBLE) FROM usage) AS share
        |FROM vocab v LEFT JOIN usage u ON u.piece = v.g
        |ORDER BY uses DESC, piece""".stripMargin,
    "q259_viterbi_fertility" ->
      """WITH RECURSIVE occ AS (
        |  SELECT source, unnest(string_split(text, ' ')) AS w
        |  FROM documents),
        |wt AS (
        |  SELECT w, CAST(count(*) AS BIGINT) AS cnt FROM occ GROUP BY w),
        |gr AS (
        |  SELECT substr(w, i, l) AS g, CAST(sum(cnt) AS BIGINT) AS c
        |  FROM wt,
        |    unnest([1, 2, 3, 4]) AS ll(l),
        |    unnest(range(1, len(w) + 1)) AS ii(i)
        |  WHERE i + l - 1 <= len(w)
        |  GROUP BY g),
        |vocab AS (
        |  SELECT g FROM gr WHERE length(g) = 1
        |  UNION ALL
        |  SELECT g FROM (
        |    SELECT g, row_number() OVER (ORDER BY c DESC, g) AS rn
        |    FROM gr WHERE length(g) >= 2) WHERE rn <= 64),
        |reach(w, pos, lvl) AS (
        |  SELECT w, 0, 0 FROM wt
        |  UNION
        |  SELECT r.w, r.pos + s.l, r.lvl + 1
        |  FROM reach r, unnest([1, 2, 3, 4]) AS s(l)
        |  WHERE r.pos + s.l <= len(r.w) AND r.lvl <= r.pos
        |    AND substr(r.w, r.pos + 1, s.l) IN (SELECT g FROM vocab)),
        |opt AS (
        |  SELECT r.w, CAST(min(r.lvl) AS BIGINT) AS opt_pieces
        |  FROM reach r JOIN wt ON wt.w = r.w AND r.pos = len(wt.w)
        |  GROUP BY r.w),
        |ws AS (
        |  SELECT source, w, CAST(count(*) AS BIGINT) AS cnt
        |  FROM occ GROUP BY source, w)
        |SELECT ws.source, CAST(sum(ws.cnt) AS BIGINT) AS n_words,
        |  CAST(sum(ws.cnt * length(ws.w)) AS BIGINT) AS n_chars,
        |  CAST(sum(ws.cnt * o.opt_pieces) AS BIGINT) AS opt_pieces,
        |  CAST(CAST(sum(ws.cnt * o.opt_pieces) AS BIGINT) AS DOUBLE)
        |    / CAST(CAST(sum(ws.cnt) AS BIGINT) AS DOUBLE)
        |    AS opt_pieces_per_word,
        |  CAST(CAST(sum(ws.cnt * length(ws.w)) AS BIGINT) AS DOUBLE)
        |    / CAST(CAST(sum(ws.cnt * o.opt_pieces) AS BIGINT) AS DOUBLE)
        |    AS chars_per_piece
        |FROM ws JOIN opt o ON o.w = ws.w
        |GROUP BY ws.source
        |ORDER BY ws.source""".stripMargin,
    // the SHARED q165 scored relation (same literal), self excluded
    // before ranking; positive = rank 1, negatives = ranks 6..8 —
    // the margin is one IEEE subtraction of two already-exact scores
    "q255_retrieval_triplets" ->
      s"""WITH $bm25ScoredSql,
        |ranked AS (
        |  SELECT query_id, doc_id, score,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY score DESC, doc_id) AS rnk
        |  FROM scored WHERE doc_id <> query_id),
        |pos AS (
        |  SELECT query_id, doc_id AS pos_id, score AS pos_score
        |  FROM ranked WHERE rnk = 1),
        |neg AS (
        |  SELECT query_id, CAST(rnk AS BIGINT) AS neg_rank,
        |    doc_id AS neg_id, score AS neg_score
        |  FROM ranked WHERE rnk >= 6 AND rnk < 9)
        |SELECT p.query_id, p.pos_id, p.pos_score, n.neg_rank,
        |  n.neg_id, n.neg_score, p.pos_score - n.neg_score AS margin
        |FROM pos p JOIN neg n ON p.query_id = n.query_id
        |ORDER BY p.query_id, neg_rank""".stripMargin,
    // same perturbation, cumulative integer CDFs over the length
    // union, one division per CDF value, max selection — pinned to
    // the q163 snapshot convention
    "q309_length_drift_ks" ->
      """WITH od AS (SELECT source, n_chars AS v FROM documents),
        |nw AS (
        |  SELECT source, CASE WHEN doc_id % 31 = 0 THEN n_chars + 24
        |    ELSE n_chars END AS v
        |  FROM documents WHERE doc_id % 97 <> 0),
        |co AS (SELECT source, v, CAST(count(*) AS BIGINT) AS c_old
        |       FROM od GROUP BY 1, 2),
        |cn AS (SELECT source, v, CAST(count(*) AS BIGINT) AS c_new
        |       FROM nw GROUP BY 1, 2),
        |j AS (
        |  SELECT coalesce(co.source, cn.source) AS source,
        |    coalesce(co.v, cn.v) AS v,
        |    coalesce(c_old, 0) AS c_old, coalesce(c_new, 0) AS c_new
        |  FROM co FULL OUTER JOIN cn
        |    ON co.source = cn.source AND co.v = cn.v),
        |cum AS (
        |  SELECT source,
        |    SUM(c_old) OVER (PARTITION BY source ORDER BY v) AS cum_old,
        |    SUM(c_new) OVER (PARTITION BY source ORDER BY v) AS cum_new,
        |    SUM(c_old) OVER (PARTITION BY source) AS n_old,
        |    SUM(c_new) OVER (PARTITION BY source) AS n_new
        |  FROM j)
        |SELECT source, CAST(n_old AS BIGINT) AS n_old,
        |  CAST(n_new AS BIGINT) AS n_new,
        |  max(abs(CAST(cum_old AS DOUBLE) / CAST(n_old AS DOUBLE)
        |    - CAST(cum_new AS DOUBLE) / CAST(n_new AS DOUBLE)))
        |    AS ks_stat
        |FROM cum GROUP BY source, n_old, n_new
        |ORDER BY source""".stripMargin,
    "q163_token_drift" ->
      """WITH newdocs AS (
        |  SELECT source,
        |    CASE WHEN doc_id % 31 = 0
        |         THEN text || ' refreshed crawl content'
        |         ELSE text END AS text
        |  FROM documents WHERE doc_id % 97 <> 0),
        |co AS (
        |  SELECT source, w, CAST(count(*) AS BIGINT) AS c_old
        |  FROM (SELECT source, unnest(string_split(text, ' ')) AS w
        |        FROM documents)
        |  GROUP BY 1, 2),
        |cn AS (
        |  SELECT source, w, CAST(count(*) AS BIGINT) AS c_new
        |  FROM (SELECT source, unnest(string_split(text, ' ')) AS w
        |        FROM newdocs)
        |  GROUP BY 1, 2),
        |tot_o AS (SELECT source, CAST(SUM(c_old) AS BIGINT) AS t
        |          FROM co GROUP BY 1),
        |tot_n AS (SELECT source, CAST(SUM(c_new) AS BIGINT) AS t
        |          FROM cn GROUP BY 1),
        |diffs AS (
        |  SELECT j.source, j.w,
        |    abs(CAST(COALESCE(j.c_old, 0) AS DOUBLE) / CAST(o.t AS DOUBLE)
        |      - CAST(COALESCE(j.c_new, 0) AS DOUBLE) / CAST(n.t AS DOUBLE))
        |      AS diff
        |  FROM (SELECT COALESCE(co.source, cn.source) AS source,
        |          COALESCE(co.w, cn.w) AS w, c_old, c_new
        |        FROM co FULL OUTER JOIN cn
        |          ON co.source = cn.source AND co.w = cn.w) j
        |  JOIN tot_o o ON j.source = o.source
        |  JOIN tot_n n ON j.source = n.source)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_words,
        |  0.5 * list_reduce(list_prepend(0.0, list(diff ORDER BY w)),
        |    (a, b) -> a + b) AS tvd
        |FROM diffs GROUP BY source ORDER BY source""".stripMargin,
    // q159's exact matrix left-joined onto the full qualifying-source
    // pair universe (sources with >=1 doc of >=3 tokens), 0.0 for
    // disjoint pairs, plus the sketch guarantee as the q100-device
    // literal TRUE the estimator must earn
    "q243_source_overlap_sketch" ->
      """WITH g AS (
        |  SELECT DISTINCT source, g FROM (
        |    SELECT source,
        |      unnest(list_transform(range(1, len(t) - 1),
        |        i -> array_to_string(t[i:i+2], ' '))) AS g
        |    FROM (SELECT source, string_split(text, ' ') AS t
        |          FROM documents)
        |    WHERE len(t) >= 3)),
        |sizes AS (SELECT source, CAST(count(*) AS BIGINT) AS n
        |          FROM g GROUP BY source),
        |inter AS (
        |  SELECT a.source AS s1, b.source AS s2,
        |    CAST(count(*) AS BIGINT) AS n_inter
        |  FROM g a JOIN g b ON a.g = b.g AND a.source < b.source
        |  GROUP BY 1, 2),
        |ex AS (
        |  SELECT s1, s2,
        |    CAST(n_inter AS DOUBLE)
        |      / CAST(x.n + y.n - n_inter AS DOUBLE) AS jaccard
        |  FROM inter JOIN sizes x ON inter.s1 = x.source
        |  JOIN sizes y ON inter.s2 = y.source),
        |pairs AS (
        |  SELECT a.source AS src_a, b.source AS src_b
        |  FROM sizes a JOIN sizes b ON a.source < b.source)
        |SELECT p.src_a, p.src_b,
        |  coalesce(ex.jaccard, 0.0) AS exact_jaccard,
        |  TRUE AS within_band
        |FROM pairs p LEFT JOIN ex ON ex.s1 = p.src_a AND ex.s2 = p.src_b
        |ORDER BY src_a, src_b""".stripMargin,
    "q159_source_overlap" ->
      """WITH g AS (
        |  SELECT DISTINCT source, g FROM (
        |    SELECT source,
        |      unnest(list_transform(range(1, len(t) - 1),
        |        i -> array_to_string(t[i:i+2], ' '))) AS g
        |    FROM (SELECT source, string_split(text, ' ') AS t
        |          FROM documents)
        |    WHERE len(t) >= 3)),
        |sizes AS (SELECT source, CAST(count(*) AS BIGINT) AS n
        |          FROM g GROUP BY source),
        |inter AS (
        |  SELECT a.source AS s1, b.source AS s2,
        |    CAST(count(*) AS BIGINT) AS n_inter
        |  FROM g a JOIN g b ON a.g = b.g AND a.source < b.source
        |  GROUP BY 1, 2)
        |SELECT s1, s2, x.n AS n1, y.n AS n2, n_inter,
        |  CAST(n_inter AS DOUBLE) / CAST(x.n + y.n - n_inter AS DOUBLE)
        |    AS jaccard
        |FROM inter JOIN sizes x ON inter.s1 = x.source
        |JOIN sizes y ON inter.s2 = y.source
        |ORDER BY s1, s2""".stripMargin,
    // the same stage CTEs rolled up per source; a source with no
    // survivors at a stage has no row there (GROUP BY semantics on
    // both engines)
    "q216_funnel_by_source" ->
      """WITH raw AS (
        |  SELECT doc_id, text, n_chars, source FROM documents
        |  WHERE source <> 'src0'),
        |corpus AS (
        |  SELECT * FROM raw WHERE n_chars BETWEEN 200 AND 1200),
        |keep AS (
        |  SELECT md5(text) AS h, min(doc_id) AS doc_id
        |  FROM corpus GROUP BY 1),
        |deduped AS (
        |  SELECT c.doc_id, c.text, c.n_chars, c.source FROM corpus c
        |  JOIN keep k ON c.doc_id = k.doc_id),
        |eval_grams AS (
        |  SELECT DISTINCT unnest(list_transform(generate_series(1, len(t)-4),
        |    i -> t[i]||' '||t[i+1]||' '||t[i+2]||' '||t[i+3]||' '||t[i+4]))
        |    AS g
        |  FROM (SELECT string_split(text,' ') AS t FROM documents
        |        WHERE source = 'src0')),
        |contaminated AS (
        |  SELECT DISTINCT doc_id FROM (
        |    SELECT doc_id,
        |      unnest(list_transform(generate_series(1, len(t)-4),
        |        i -> t[i]||' '||t[i+1]||' '||t[i+2]||' '||t[i+3]||' '||t[i+4]))
        |        AS g
        |    FROM (SELECT doc_id, string_split(text,' ') AS t FROM deduped)) d
        |  JOIN eval_grams e ON d.g = e.g),
        |clean AS (
        |  SELECT * FROM deduped
        |  WHERE doc_id NOT IN (SELECT doc_id FROM contaminated))
        |SELECT * FROM (
        |  SELECT 0 AS stage, 'raw' AS stage_name, source,
        |    CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(COALESCE(sum(n_chars), 0) AS BIGINT) AS n_chars_total
        |  FROM raw GROUP BY source
        |  UNION ALL
        |  SELECT 1, 'quality_gate', source, CAST(count(*) AS BIGINT),
        |    CAST(COALESCE(sum(n_chars), 0) AS BIGINT)
        |  FROM corpus GROUP BY source
        |  UNION ALL
        |  SELECT 2, 'exact_dedup', source, CAST(count(*) AS BIGINT),
        |    CAST(COALESCE(sum(n_chars), 0) AS BIGINT)
        |  FROM deduped GROUP BY source
        |  UNION ALL
        |  SELECT 3, 'decontaminated', source, CAST(count(*) AS BIGINT),
        |    CAST(COALESCE(sum(n_chars), 0) AS BIGINT)
        |  FROM clean GROUP BY source)
        |ORDER BY stage, source""".stripMargin,
    // q130's stage CTEs verbatim, each counted — the funnel and the
    // pipeline share one algebra
    "q215_curation_funnel" ->
      """WITH raw AS (
        |  SELECT doc_id, text, n_chars FROM documents
        |  WHERE source <> 'src0'),
        |corpus AS (
        |  SELECT * FROM raw WHERE n_chars BETWEEN 200 AND 1200),
        |keep AS (
        |  SELECT md5(text) AS h, min(doc_id) AS doc_id
        |  FROM corpus GROUP BY 1),
        |deduped AS (
        |  SELECT c.doc_id, c.text, c.n_chars FROM corpus c
        |  JOIN keep k ON c.doc_id = k.doc_id),
        |eval_grams AS (
        |  SELECT DISTINCT unnest(list_transform(generate_series(1, len(t)-4),
        |    i -> t[i]||' '||t[i+1]||' '||t[i+2]||' '||t[i+3]||' '||t[i+4]))
        |    AS g
        |  FROM (SELECT string_split(text,' ') AS t FROM documents
        |        WHERE source = 'src0')),
        |contaminated AS (
        |  SELECT DISTINCT doc_id FROM (
        |    SELECT doc_id,
        |      unnest(list_transform(generate_series(1, len(t)-4),
        |        i -> t[i]||' '||t[i+1]||' '||t[i+2]||' '||t[i+3]||' '||t[i+4]))
        |        AS g
        |    FROM (SELECT doc_id, string_split(text,' ') AS t FROM deduped)) d
        |  JOIN eval_grams e ON d.g = e.g),
        |clean AS (
        |  SELECT * FROM deduped
        |  WHERE doc_id NOT IN (SELECT doc_id FROM contaminated))
        |SELECT * FROM (
        |  SELECT 0 AS stage, 'raw' AS stage_name,
        |    CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(COALESCE(sum(n_chars), 0) AS BIGINT) AS n_chars_total
        |  FROM raw
        |  UNION ALL
        |  SELECT 1, 'quality_gate', CAST(count(*) AS BIGINT),
        |    CAST(COALESCE(sum(n_chars), 0) AS BIGINT) FROM corpus
        |  UNION ALL
        |  SELECT 2, 'exact_dedup', CAST(count(*) AS BIGINT),
        |    CAST(COALESCE(sum(n_chars), 0) AS BIGINT) FROM deduped
        |  UNION ALL
        |  SELECT 3, 'decontaminated', CAST(count(*) AS BIGINT),
        |    CAST(COALESCE(sum(n_chars), 0) AS BIGINT) FROM clean)
        |ORDER BY stage""".stripMargin,
    // every stat is an integer count; the gopher-keep branch inlines
    // the q174 oracle and filters to the train side by doc_id join,
    // so the two keep definitions cannot drift
    "q211_release_card" ->
      s"""WITH train AS (
         |  SELECT * FROM documents WHERE source <> 'src0'),
         |base AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(sum(len(string_split(text, ' '))) AS BIGINT)
         |      AS n_tokens
         |  FROM train),
         |nl AS (SELECT CAST(count(DISTINCT lang) AS BIGINT) AS n_langs
         |       FROM train),
         |ns AS (SELECT CAST(count(DISTINCT source) AS BIGINT)
         |         AS n_sources FROM train),
         |nd AS (SELECT CAST(count(DISTINCT md5(text)) AS BIGINT)
         |         AS ndt FROM train),
         |eg AS (
         |  SELECT DISTINCT g FROM (
         |    SELECT unnest(list_distinct(list_transform(
         |      generate_series(1, len(t)-4),
         |      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' '
         |        || t[i+3] || ' ' || t[i+4]))) AS g
         |    FROM (SELECT string_split(text, ' ') AS t FROM documents
         |          WHERE source = 'src0')
         |    WHERE len(t) >= 5)),
         |nc AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_contaminated FROM (
         |    SELECT DISTINCT doc_id FROM (
         |      SELECT doc_id, unnest(list_distinct(list_transform(
         |        generate_series(1, len(t)-4),
         |        i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' '
         |          || t[i+3] || ' ' || t[i+4]))) AS g
         |      FROM (SELECT doc_id, string_split(text, ' ') AS t
         |            FROM train)
         |      WHERE len(t) >= 5)
         |    WHERE g IN (SELECT g FROM eg))),
         |gk AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_gopher_keep
         |  FROM (${TextAnalysis.oracleSql("q174_gopher_rules")}) q
         |  JOIN train USING (doc_id) WHERE q.keep)
         |SELECT base.n_docs, base.n_tokens, nl.n_langs, ns.n_sources,
         |  base.n_docs - nd.ndt AS n_exact_dups,
         |  nc.n_contaminated, gk.n_gopher_keep
         |FROM base, nl, ns, nd, nc, gk""".stripMargin,
    // min(VARCHAR) is codepoint-lexicographic in both engines; the
    // running sum is CAST to BIGINT (DuckDB sums BIGINT into HUGEINT)
    "q204_source_novelty" ->
      """WITH sg AS (
        |  SELECT DISTINCT source, g FROM (
        |    SELECT source, unnest(list_distinct(list_transform(
        |      generate_series(1, len(t)-4),
        |      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' '
        |        || t[i+3] || ' ' || t[i+4]))) AS g
        |    FROM (SELECT source, string_split(text, ' ') AS t
        |          FROM documents)
        |    WHERE len(t) >= 5)),
        |per_source AS (
        |  SELECT source, CAST(count(*) AS BIGINT) AS n_grams
        |  FROM sg GROUP BY source),
        |news AS (
        |  SELECT source, CAST(count(*) AS BIGINT) AS new_grams
        |  FROM (SELECT min(source) AS source FROM sg GROUP BY g)
        |  GROUP BY source)
        |SELECT p.source, p.n_grams,
        |  COALESCE(n.new_grams, 0) AS new_grams,
        |  CAST(sum(COALESCE(n.new_grams, 0))
        |    OVER (ORDER BY p.source) AS BIGINT) AS cum_distinct,
        |  CAST(COALESCE(n.new_grams, 0) AS DOUBLE)
        |    / CAST(p.n_grams AS DOUBLE) AS novelty_rate
        |FROM per_source p LEFT JOIN news n ON n.source = p.source
        |ORDER BY p.source""".stripMargin,
    // the operator's exact 3-gram construction: distinct (source,
    // gram), gram-keyed self-join for intersections (empty
    // intersections correctly absent), inclusion-exclusion union;
    // integer counts + one IEEE division — hash-exact
    "q237_source_overlap" ->
      """WITH sg AS (
        |  SELECT DISTINCT source, g FROM (
        |    SELECT source, unnest(list_transform(
        |      generate_series(1, len(t)-2),
        |      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS g
        |    FROM (SELECT source, string_split(text, ' ') AS t
        |          FROM documents)
        |    WHERE len(t) >= 3)),
        |sizes AS (
        |  SELECT source, CAST(count(*) AS BIGINT) AS n
        |  FROM sg GROUP BY source),
        |inter AS (
        |  SELECT a.source AS s1, b.source AS s2,
        |    CAST(count(*) AS BIGINT) AS n_inter
        |  FROM sg a JOIN sg b ON a.g = b.g AND a.source < b.source
        |  GROUP BY 1, 2)
        |SELECT i.s1, i.s2, za.n AS n1, zb.n AS n2, i.n_inter,
        |  CAST(i.n_inter AS DOUBLE)
        |    / CAST(za.n + zb.n - i.n_inter AS DOUBLE) AS jaccard
        |FROM inter i JOIN sizes za ON za.source = i.s1
        |JOIN sizes zb ON zb.source = i.s2
        |ORDER BY s1, s2""".stripMargin,
    "q249_dup_flow_matrix" ->
      """WITH planted AS (
        |  SELECT text, source FROM documents
        |  UNION ALL
        |  SELECT text, 'mir:' || source FROM documents
        |  WHERE doc_id % 11 = 0),
        |c AS (
        |  SELECT md5(text) AS fp, source, count(*) AS n
        |  FROM planted GROUP BY 1, 2)
        |SELECT a.source AS src_a, b.source AS src_b,
        |  CAST(count(*) AS BIGINT) AS shared_groups,
        |  CAST(sum(a.n) AS BIGINT) AS docs_a,
        |  CAST(sum(b.n) AS BIGINT) AS docs_b
        |FROM c a JOIN c b ON a.fp = b.fp AND a.source < b.source
        |GROUP BY 1, 2 ORDER BY src_a, src_b""".stripMargin,
    // the full tiered solve replayed over the |sources|-row rollup:
    // integer thresholds, tier cumsum by self-join, exact integral
    // division over HUGEINT (Spark: decimal(38,0) `div`) — pinned to
    // the defaults budget=5/2·total, maxEpochs=4. The solve chain is
    // the SHARED epochAllocSql literal: q250 reads it directly, q252
    // expands it into the realized schedule — the two cannot drift.
    "q250_epoch_allocation" ->
      (s"WITH $epochAllocSql\n" +
        """SELECT source, n_tokens, r_cap, full_epochs, marginal_alloc,
          |  CAST(n_tokens * full_epochs + marginal_alloc AS BIGINT)
          |    AS alloc_tokens,
          |  CAST(n_tokens * (CASE full_epochs WHEN 0 THEN 0 WHEN 1 THEN 8
          |      WHEN 2 THEN 12 WHEN 3 THEN 14 ELSE 15 END)
          |    + marginal_alloc * (CASE f WHEN 0 THEN 8 WHEN 1 THEN 4
          |      WHEN 2 THEN 2 WHEN 3 THEN 1 ELSE 0 END) AS BIGINT)
          |    AS effective_x8,
          |  budget
          |FROM alloc ORDER BY source""".stripMargin),
    "q252_epoch_schedule" ->
      (s"WITH $epochAllocSql,\n" +
        """sched_full AS (
          |  SELECT ks.k AS epoch, d.doc_id, d.source
          |  FROM documents d JOIN alloc a USING (source)
          |  CROSS JOIN (SELECT unnest(range(1, 5)) AS k) ks
          |  WHERE ks.k <= a.full_epochs),
          |sched_marg AS (
          |  SELECT a.full_epochs + 1 AS epoch, d.doc_id, d.source
          |  FROM documents d JOIN alloc a USING (source)
          |  WHERE a.marginal_alloc > 0
          |    AND CAST(CAST('0x' || substr(md5('epk:'
          |          || CAST(d.doc_id AS VARCHAR)), 1, 8) AS BIGINT)
          |        % 1000000 AS HUGEINT)
          |        * CAST(a.n_tokens AS HUGEINT)
          |      < CAST(a.marginal_alloc AS HUGEINT) * 1000000)
          |SELECT CAST(epoch AS INTEGER) AS epoch, doc_id, source
          |FROM (SELECT * FROM sched_full
          |      UNION ALL SELECT * FROM sched_marg)
          |ORDER BY epoch, doc_id""".stripMargin),
    // the window/row_number relational statement of the row-local
    // array_distinct rewrite — scope is PARTITION BY (doc_id, line),
    // first occurrence by line_no; proves the narrow form exactly
    "q197_intradoc_line_dedup" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |lines AS (
        |  SELECT doc_id, CAST(gs - 1 AS BIGINT) AS line_no,
        |    array_to_string(list_slice(t, (gs-1)*8+1, (gs-1)*8+8), ' ')
        |      AS line
        |  FROM (SELECT doc_id, t,
        |          unnest(range(1, CAST(ceil(len(t)/8.0) AS BIGINT)+1))
        |            AS gs
        |        FROM toks)),
        |kept AS (
        |  SELECT doc_id, line_no, line FROM (
        |    SELECT doc_id, line_no, line,
        |      row_number() OVER (PARTITION BY doc_id, line
        |        ORDER BY line_no) AS rn
        |    FROM lines) WHERE rn = 1),
        |agg AS (
        |  SELECT doc_id,
        |    CAST(count(*) AS BIGINT) AS n_kept,
        |    string_agg(line, ' ' ORDER BY line_no) AS new_text
        |  FROM kept GROUP BY doc_id)
        |SELECT d.doc_id,
        |  CAST(ceil(len(string_split(d.text, ' '))/8.0) AS BIGINT)
        |    AS n_lines,
        |  a.n_kept, a.new_text
        |FROM documents d JOIN agg a USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,
    "q138_line_dedup_rewrite" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |lines AS (
        |  SELECT doc_id, CAST(gs - 1 AS BIGINT) AS line_no,
        |    array_to_string(list_slice(t, (gs-1)*8+1, (gs-1)*8+8), ' ')
        |      AS line
        |  FROM (SELECT doc_id, t,
        |          unnest(range(1, CAST(ceil(len(t)/8.0) AS BIGINT)+1))
        |            AS gs
        |        FROM toks)),
        |kept AS (
        |  SELECT doc_id, line_no, line FROM (
        |    SELECT doc_id, line_no, line,
        |      row_number() OVER (PARTITION BY line
        |        ORDER BY doc_id, line_no) AS rn
        |    FROM lines) WHERE rn = 1),
        |agg AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
        |    string_agg(line, ' ' ORDER BY line_no) AS new_text
        |  FROM kept GROUP BY doc_id)
        |SELECT d.doc_id,
        |  CAST(ceil(len(string_split(d.text, ' '))/8.0) AS BIGINT)
        |    AS n_lines,
        |  COALESCE(a.n_kept, CAST(0 AS BIGINT)) AS n_kept,
        |  COALESCE(a.new_text, '') AS new_text
        |FROM documents d LEFT JOIN agg a USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,
    "q111_group_sample" ->
      """SELECT lang, doc_id, h FROM (
        |  SELECT lang, doc_id, md5(CAST(doc_id AS VARCHAR)) AS h,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
        |  FROM documents) t
        |WHERE rn <= 5 ORDER BY lang, h, doc_id""".stripMargin,
    "q91_repetition_signals" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split(text,' ') AS t FROM documents),
        |base AS (
        |  SELECT doc_id, len(t) AS n_tokens,
        |         len(list_distinct(t)) AS n_distinct,
        |         list_transform(generate_series(1, len(t)-1),
        |           i -> t[i] || ' ' || t[i+1]) AS bgs
        |  FROM toks),
        |bgc AS (
        |  SELECT doc_id AS bdoc, b, count(*) AS n
        |  FROM (SELECT doc_id, unnest(bgs) AS b FROM base) GROUP BY 1,2),
        |bgtop AS (
        |  SELECT bdoc, CAST(max(n) AS DOUBLE)/CAST(sum(n) AS DOUBLE)
        |    AS top_bigram_frac
        |  FROM bgc GROUP BY 1)
        |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
        |  CAST(n_tokens - n_distinct AS DOUBLE)/CAST(n_tokens AS DOUBLE)
        |    AS dup_word_frac,
        |  top_bigram_frac
        |FROM base JOIN bgtop ON base.doc_id = bgtop.bdoc
        |ORDER BY doc_id""".stripMargin,
    "q92_contamination" ->
      """WITH toks AS (
        |  SELECT doc_id, source, string_split(text,' ') AS t FROM documents),
        |grams AS (
        |  SELECT doc_id, source,
        |    unnest(list_distinct(list_transform(generate_series(1, len(t)-4),
        |      i -> t[i]||' '||t[i+1]||' '||t[i+2]||' '||t[i+3]||' '||t[i+4])))
        |      AS g
        |  FROM toks),
        |ev AS (SELECT DISTINCT g, doc_id AS eval_doc FROM grams
        |       WHERE source = 'src0'),
        |tr AS (SELECT doc_id, g FROM grams WHERE source <> 'src0')
        |SELECT tr.doc_id AS doc_id,
        |       CAST(count(DISTINCT ev.eval_doc) AS BIGINT) AS n_eval_docs,
        |       CAST(count(DISTINCT tr.g) AS BIGINT) AS n_shared_ngrams
        |FROM tr JOIN ev ON tr.g = ev.g
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // identical semantics to q92 — the oracle states the join form,
    // the Spark side computes it per-document against the broadcast
    // eval row, proving the stateless streaming shape loses nothing
    "q132_contamination_stream" ->
      """WITH toks AS (
        |  SELECT doc_id, source, string_split(text,' ') AS t FROM documents),
        |grams AS (
        |  SELECT doc_id, source,
        |    unnest(list_distinct(list_transform(generate_series(1, len(t)-4),
        |      i -> t[i]||' '||t[i+1]||' '||t[i+2]||' '||t[i+3]||' '||t[i+4])))
        |      AS g
        |  FROM toks),
        |ev AS (SELECT DISTINCT g, doc_id AS eval_doc FROM grams
        |       WHERE source = 'src0'),
        |tr AS (SELECT doc_id, g FROM grams WHERE source <> 'src0')
        |SELECT tr.doc_id AS doc_id,
        |       CAST(count(DISTINCT ev.eval_doc) AS BIGINT) AS n_eval_docs,
        |       CAST(count(DISTINCT tr.g) AS BIGINT) AS n_shared_ngrams
        |FROM tr JOIN ev ON tr.g = ev.g
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q116_boilerplate_grams" ->
      """WITH toks AS (SELECT doc_id, string_split(text,' ') AS t FROM documents),
        |g AS (SELECT DISTINCT doc_id,
        |        unnest(list_transform(generate_series(1, len(t)-2),
        |          i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS g
        |      FROM toks),
        |df AS (SELECT g, count(*) AS df FROM g GROUP BY 1)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
        |  CAST(count(*) FILTER (WHERE df >= 5) AS BIGINT) AS n_common,
        |  CAST(count(*) FILTER (WHERE df >= 5) AS DOUBLE)
        |    / CAST(count(*) AS DOUBLE) AS common_frac
        |FROM g JOIN df USING (g)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q126_bpe_pair_counts" ->
      """WITH w AS (SELECT unnest(string_split(text, ' ')) AS w
        |           FROM documents),
        |p AS (SELECT unnest(list_transform(generate_series(1, len(w)-1),
        |        i -> w[i] || w[i+1])) AS pair
        |      FROM w)
        |SELECT pair, CAST(count(*) AS BIGINT) AS cnt
        |FROM p GROUP BY pair
        |ORDER BY cnt DESC, pair LIMIT 30""".stripMargin,
    // q130's curation CTEs (with source carried through) feeding
    // q168's mixture CTEs — the composed oracle proves the ONE-plan
    // dataset builder end to end
    "q187_epoch_build" ->
      """WITH corpus AS (
        |  SELECT doc_id, text, source FROM documents
        |  WHERE source <> 'src0' AND n_chars BETWEEN 200 AND 1200),
        |keep AS (
        |  SELECT md5(text) AS h, min(doc_id) AS doc_id
        |  FROM corpus GROUP BY 1),
        |deduped AS (
        |  SELECT c.doc_id, c.text, c.source FROM corpus c
        |  JOIN keep k ON c.doc_id = k.doc_id),
        |eval_grams AS (
        |  SELECT DISTINCT unnest(list_transform(generate_series(1, len(t)-4),
        |    i -> t[i]||' '||t[i+1]||' '||t[i+2]||' '||t[i+3]||' '||t[i+4]))
        |    AS g
        |  FROM (SELECT string_split(text,' ') AS t FROM documents
        |        WHERE source = 'src0')),
        |contaminated AS (
        |  SELECT DISTINCT doc_id FROM (
        |    SELECT doc_id,
        |      unnest(list_transform(generate_series(1, len(t)-4),
        |        i -> t[i]||' '||t[i+1]||' '||t[i+2]||' '||t[i+3]||' '||t[i+4]))
        |        AS g
        |    FROM (SELECT doc_id, string_split(text,' ') AS t FROM deduped)) d
        |  JOIN eval_grams e ON d.g = e.g),
        |clean AS (
        |  SELECT doc_id, source FROM deduped
        |  WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)),
        |c AS (SELECT source, CAST(count(*) AS BIGINT) AS n
        |      FROM clean GROUP BY 1),
        |dn AS (SELECT list_reduce(list_prepend(0.0,
        |        list(sqrt(CAST(n AS DOUBLE)) ORDER BY source)),
        |        (a, b) -> a + b) AS denom FROM c),
        |tot AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM c),
        |t AS (SELECT source, n,
        |        CAST(floor(sqrt(CAST(n AS DOUBLE)) / denom
        |          * CAST(total AS DOUBLE)) AS BIGINT) AS tgt
        |      FROM c, dn, tot),
        |r AS (SELECT doc_id, dd.source,
        |        row_number() OVER (PARTITION BY dd.source
        |          ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
        |      FROM clean dd),
        |nc AS (SELECT doc_id, r.source,
        |         (tgt // n) + CASE WHEN rk <= (tgt % n)
        |                           THEN 1 ELSE 0 END AS n_copies
        |       FROM r JOIN t ON r.source = t.source)
        |SELECT doc_id, source,
        |  CAST(unnest(generate_series(1, n_copies)) AS BIGINT) AS copy
        |FROM nc WHERE n_copies >= 1
        |ORDER BY doc_id, copy""".stripMargin,
    // q130's clean CTEs (source carried through) + q236's per-source
    // quota window + q240's packing algebra, re-pointed at the kept
    // set — the whole release path stated once in SQL
    "q242_release_packing" ->
      """WITH corpus AS (
        |  SELECT doc_id, text, source, n_chars FROM documents
        |  WHERE source <> 'src0' AND n_chars BETWEEN 200 AND 1200),
        |keep AS (
        |  SELECT md5(text) AS h, min(doc_id) AS doc_id
        |  FROM corpus GROUP BY 1),
        |deduped AS (
        |  SELECT c.doc_id, c.text, c.source FROM corpus c
        |  JOIN keep k ON c.doc_id = k.doc_id),
        |eval_grams AS (
        |  SELECT DISTINCT unnest(list_transform(generate_series(1, len(t)-4),
        |    i -> t[i]||' '||t[i+1]||' '||t[i+2]||' '||t[i+3]||' '||t[i+4]))
        |    AS g
        |  FROM (SELECT string_split(text,' ') AS t FROM documents
        |        WHERE source = 'src0')),
        |contaminated AS (
        |  SELECT DISTINCT doc_id FROM (
        |    SELECT doc_id,
        |      unnest(list_transform(generate_series(1, len(t)-4),
        |        i -> t[i]||' '||t[i+1]||' '||t[i+2]||' '||t[i+3]||' '||t[i+4]))
        |        AS g
        |    FROM (SELECT doc_id, string_split(text,' ') AS t FROM deduped)) d
        |  JOIN eval_grams e ON d.g = e.g),
        |clean AS (
        |  SELECT * FROM deduped
        |  WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)),
        |q AS (
        |  SELECT doc_id, n_tokens,
        |    ttr * 0.5 + (1.0 - stop_ratio) * 0.3
        |      + least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0) * 0.2
        |      AS quality, source
        |  FROM (
        |    SELECT doc_id, source,
        |      len(toks) AS n_tokens,
        |      CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS ttr,
        |      CAST(len(list_filter(toks, w -> w = 'a' OR w = 'the'))
        |        AS DOUBLE) / len(toks) AS stop_ratio
        |    FROM (SELECT doc_id, source, string_split(text, ' ') AS toks
        |          FROM clean))),
        |cum AS (
        |  SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
        |    CAST(sum(n_tokens) OVER (PARTITION BY source
        |      ORDER BY quality DESC, doc_id) AS BIGINT) AS cum_tokens
        |  FROM q),
        |kept AS (
        |  SELECT doc_id FROM cum WHERE cum_tokens - n_tokens < 600),
        |d AS (
        |  SELECT doc_id,
        |    least(len(string_split(text, ' ')), 512)::BIGINT AS n
        |  FROM clean WHERE doc_id IN (SELECT doc_id FROM kept)),
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
    "q130_curation_pipeline" ->
      """WITH corpus AS (
        |  SELECT doc_id, text, n_chars FROM documents
        |  WHERE source <> 'src0' AND n_chars BETWEEN 200 AND 1200),
        |keep AS (
        |  SELECT md5(text) AS h, min(doc_id) AS doc_id
        |  FROM corpus GROUP BY 1),
        |deduped AS (
        |  SELECT c.doc_id, c.text, c.n_chars FROM corpus c
        |  JOIN keep k ON c.doc_id = k.doc_id),
        |eval_grams AS (
        |  SELECT DISTINCT unnest(list_transform(generate_series(1, len(t)-4),
        |    i -> t[i]||' '||t[i+1]||' '||t[i+2]||' '||t[i+3]||' '||t[i+4]))
        |    AS g
        |  FROM (SELECT string_split(text,' ') AS t FROM documents
        |        WHERE source = 'src0')),
        |contaminated AS (
        |  SELECT DISTINCT doc_id FROM (
        |    SELECT doc_id,
        |      unnest(list_transform(generate_series(1, len(t)-4),
        |        i -> t[i]||' '||t[i+1]||' '||t[i+2]||' '||t[i+3]||' '||t[i+4]))
        |        AS g
        |    FROM (SELECT doc_id, string_split(text,' ') AS t FROM deduped)) d
        |  JOIN eval_grams e ON d.g = e.g),
        |clean AS (
        |  SELECT * FROM deduped
        |  WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)),
        |labeled AS (
        |  SELECT CASE WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)),
        |           1, 8) AS BIGINT) % 100 < 90 THEN 'train'
        |         WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)),
        |           1, 8) AS BIGINT) % 100 < 95 THEN 'val'
        |         ELSE 'test' END AS split, n_chars
        |  FROM clean)
        |SELECT split, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS n_chars_total
        |FROM labeled GROUP BY split ORDER BY split""".stripMargin,
    // the smoothing ratio is spelled as the SAME IEEE division tree
    // Spark computes (no pre-evaluated literals), and the per-doc sum
    // is the word-ordered fold — the q165 exactness recipe
    "q170_importance_weights" ->
      s"""$importanceWeightsSql
         |ORDER BY doc_id""".stripMargin,
    // q170's weight CTEs (shared literal — the two cannot drift) +
    // per-source rank-ordered folds of w and w*w and Kong's
    // ESS = (Σw)²/Σw² as one fixed-shape expression chain
    "q272_ess_card" ->
      s"""WITH iw AS ($importanceWeightsSql),
         |src AS (
         |  SELECT iw.doc_id, d.source, iw.mean_ratio AS mr
         |  FROM iw JOIN documents d ON d.doc_id = iw.doc_id),
         |folds AS (
         |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |    list_reduce(list_prepend(0.0, list(mr ORDER BY doc_id)),
         |      (a, b) -> a + b) AS sum_w,
         |    list_reduce(list_prepend(0.0,
         |        list(mr * mr ORDER BY doc_id)),
         |      (a, b) -> a + b) AS sum_w2
         |  FROM src GROUP BY source)
         |SELECT source, n_docs, sum_w, sum_w2,
         |  (sum_w * sum_w) / sum_w2 AS ess,
         |  (sum_w * sum_w) / sum_w2 / CAST(n_docs AS DOUBLE)
         |    AS ess_frac
         |FROM folds ORDER BY source""".stripMargin,
    // same denom fold as q127, then pure integer arithmetic: floor
    // targets, `//` whole copies, md5-ranked remainder, series explode
    "q168_epoch_mixture" -> epochMixtureOracle("source"),
    "q207_lang_epoch_mixture" -> epochMixtureOracle("lang"),
    "q127_source_mixture" ->
      """WITH c AS (SELECT source, CAST(count(*) AS BIGINT) AS n
        |           FROM documents GROUP BY 1),
        |d AS (SELECT list_reduce(list_prepend(0.0,
        |        list(sqrt(CAST(n AS DOUBLE)) ORDER BY source)),
        |        (a, b) -> a + b) AS denom FROM c)
        |SELECT source, n, sqrt(CAST(n AS DOUBLE)) / denom AS weight
        |FROM c, d ORDER BY source""".stripMargin,
    // same ascending (n_tokens, source) ranking, the same monotone
    // S_k feasibility count, and the same integer floor divisions
    "q227_budget_waterfill" ->
      s"""WITH $waterfillSolveCtes
         |SELECT t.source, t.n_tokens,
         |  least(t.n_tokens, g.cap) AS alloc_tokens,
         |  t.n_tokens > g.cap AS capped, g.cap, g.b AS budget
         |FROM t, g ORDER BY t.source""".stripMargin,
    // the q227 solve chain (shared literal) + the integer
    // hash-threshold keep rule bucket·n < alloc·10^6
    "q229_waterfill_sample" ->
      s"""WITH $waterfillSolveCtes,
         |a AS (
         |  SELECT t.source, t.n_tokens AS src_tokens,
         |    least(t.n_tokens, g.cap) AS alloc
         |  FROM t, g)
         |SELECT d.doc_id, d.source,
         |  CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens
         |FROM documents d JOIN a USING (source)
         |WHERE CAST(CAST('0x' || substr(md5('wfill:'
         |    || CAST(d.doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 1000000
         |    AS DECIMAL(38,0))
         |  * CAST(a.src_tokens AS DECIMAL(38,0))
         |  < CAST(a.alloc AS DECIMAL(38,0)) * CAST(1000000
         |    AS DECIMAL(38,0))
         |ORDER BY d.doc_id""".stripMargin,
    // five 1-row branches, each replaying its parent operator's
    // integer algebra, assembled by scalar cross join
    "q235_cleaning_impact_card" ->
      s"""WITH tot AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(sum(len(string_split(text, ' '))) AS BIGINT)
         |      AS n_tokens
         |  FROM documents),
         |ex AS (
         |  SELECT CAST(count(*) - count(DISTINCT md5(text)) AS BIGINT)
         |    AS exact_dup_docs
         |  FROM documents),
         |intra AS (
         |  SELECT CAST(sum(n_lines - n_kept) AS BIGINT)
         |    AS intradoc_dup_lines
         |  FROM (
         |    SELECT len(ls) AS n_lines,
         |      len(list_distinct(ls)) AS n_kept
         |    FROM (
         |      SELECT list_transform(
         |        range(CAST(ceil(len(t) / 8.0) AS INT)),
         |        i -> array_to_string(t[i*8+1:i*8+8], ' ')) AS ls
         |      FROM (SELECT string_split(text, ' ') AS t
         |            FROM documents) x) y) z),
         |nd AS (
         |  SELECT CAST(count(*) AS BIGINT) AS neardup_pairs
         |  FROM (${TextAnalysis.sparseCosineSql}) p),
         |cont AS (
         |  SELECT CAST(count(*) AS BIGINT) AS contaminated_docs
         |  FROM (
         |    WITH toks AS (
         |      SELECT doc_id, source, string_split(text,' ') AS t
         |      FROM documents),
         |    grams AS (
         |      SELECT doc_id, source,
         |        unnest(list_distinct(list_transform(
         |          generate_series(1, len(t)-4),
         |          i -> t[i]||' '||t[i+1]||' '||t[i+2]||' '||t[i+3]
         |            ||' '||t[i+4]))) AS g
         |      FROM toks),
         |    ev AS (SELECT DISTINCT g FROM grams WHERE source = 'src0')
         |    SELECT DISTINCT a.doc_id FROM grams a JOIN ev USING (g)
         |    WHERE a.source <> 'src0') h)
         |SELECT * FROM tot, ex, intra, nd, cont""".stripMargin,
    // q92's gram-hit set rolled up per source, same integer counts
    // and a single division
    "q233_contamination_by_source" ->
      """WITH toks AS (
        |  SELECT doc_id, source, string_split(text,' ') AS t
        |  FROM documents),
        |grams AS (
        |  SELECT doc_id, source,
        |    unnest(list_distinct(list_transform(
        |      generate_series(1, len(t)-4),
        |      i -> t[i]||' '||t[i+1]||' '||t[i+2]||' '||t[i+3]
        |        ||' '||t[i+4]))) AS g
        |  FROM toks),
        |ev AS (SELECT DISTINCT g FROM grams WHERE source = 'src0'),
        |hits AS (
        |  SELECT DISTINCT a.doc_id FROM grams a JOIN ev USING (g)
        |  WHERE a.source <> 'src0')
        |SELECT d.source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(count(hits.doc_id) AS BIGINT) AS n_contaminated,
        |  CAST(count(hits.doc_id) AS DOUBLE)
        |    / CAST(count(*) AS DOUBLE) AS contamination_rate
        |FROM documents d LEFT JOIN hits USING (doc_id)
        |WHERE d.source <> 'src0'
        |GROUP BY d.source ORDER BY d.source""".stripMargin,
    // q92's seed algebra + q202's edge tier over the train slice +
    // the unrolled min-hop relaxation rounds
    "q231_contamination_radius" ->
      s"""WITH toks AS (
         |  SELECT doc_id, source, string_split(text,' ') AS t
         |  FROM documents),
         |allgrams AS (
         |  SELECT doc_id, source,
         |    unnest(list_distinct(list_transform(
         |      generate_series(1, len(t)-4),
         |      i -> t[i]||' '||t[i+1]||' '||t[i+2]||' '||t[i+3]
         |        ||' '||t[i+4]))) AS g
         |  FROM toks),
         |ev AS (SELECT DISTINCT g FROM allgrams WHERE source = 'src0'),
         |seeds AS (
         |  SELECT DISTINCT a.doc_id FROM allgrams a JOIN ev USING (g)
         |  WHERE a.source <> 'src0'),
         |p AS (${TextAnalysis.sparseCosineSqlWhere("source <> 'src0'")}),
         |edges AS (
         |  SELECT d1 AS src, d2 AS dst FROM p
         |  UNION ALL SELECT d2, d1 FROM p),
         |h0 AS (SELECT doc_id, CAST(0 AS BIGINT) AS hops FROM seeds),
         |h1 AS (
         |  SELECT doc_id, CAST(min(hops) AS BIGINT) AS hops FROM (
         |    SELECT e.dst AS doc_id, h.hops + 1 AS hops
         |    FROM edges e JOIN h0 h ON e.src = h.doc_id
         |    UNION ALL SELECT doc_id, hops FROM h0) u
         |  GROUP BY doc_id),
         |h2 AS (
         |  SELECT doc_id, CAST(min(hops) AS BIGINT) AS hops FROM (
         |    SELECT e.dst AS doc_id, h.hops + 1 AS hops
         |    FROM edges e JOIN h1 h ON e.src = h.doc_id
         |    UNION ALL SELECT doc_id, hops FROM h1) u
         |  GROUP BY doc_id)
         |SELECT doc_id, hops FROM h2 ORDER BY doc_id""".stripMargin,
    // q224's leak algebra + the burn rule: eval docs twinning a train
    // doc are reassigned to train
    "q228_leakage_safe_split" ->
      s"""WITH p AS (${TextAnalysis.sparseCosineSql}),
         |s AS (
         |  SELECT doc_id,
         |    CASE WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)),
         |           1, 8) AS BIGINT) % 100 < 90 THEN 'train'
         |         WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)),
         |           1, 8) AS BIGINT) % 100 < 95 THEN 'val'
         |         ELSE 'test' END AS split
         |  FROM documents),
         |leak AS (
         |  SELECT p.d1, p.d2, a.split AS split1, b.split AS split2
         |  FROM p
         |  JOIN s a ON a.doc_id = p.d1
         |  JOIN s b ON b.doc_id = p.d2
         |  WHERE a.split <> b.split),
         |burned AS (
         |  SELECT DISTINCT doc_id FROM (
         |    SELECT d2 AS doc_id FROM leak WHERE split1 = 'train'
         |    UNION ALL
         |    SELECT d1 AS doc_id FROM leak WHERE split2 = 'train') u)
         |SELECT s.doc_id,
         |  CASE WHEN burned.doc_id IS NOT NULL THEN 'train'
         |       ELSE s.split END AS split,
         |  burned.doc_id IS NOT NULL AS reassigned
         |FROM s LEFT JOIN burned USING (doc_id)
         |ORDER BY s.doc_id""".stripMargin,
    // q202's shared pair CTE + the q101 split replay: pairs whose
    // endpoints hash into different splits
    "q224_split_leakage" ->
      s"""WITH p AS (${TextAnalysis.sparseCosineSql}),
         |s AS (
         |  SELECT doc_id,
         |    CASE WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)),
         |           1, 8) AS BIGINT) % 100 < 90 THEN 'train'
         |         WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)),
         |           1, 8) AS BIGINT) % 100 < 95 THEN 'val'
         |         ELSE 'test' END AS split
         |  FROM documents)
         |SELECT p.d1, p.d2, a.split AS split1, b.split AS split2,
         |  p.cosine
         |FROM p
         |JOIN s a ON a.doc_id = p.d1
         |JOIN s b ON b.doc_id = p.d2
         |WHERE a.split <> b.split
         |ORDER BY p.d1, p.d2""".stripMargin,
    "q101_dataset_split" ->
      """SELECT doc_id,
        |  CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
        |    AS BIGINT) % 100 AS BIGINT) AS bucket,
        |  CASE WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
        |         AS BIGINT) % 100 < 90 THEN 'train'
        |       WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
        |         AS BIGINT) % 100 < 95 THEN 'val'
        |       ELSE 'test' END AS split
        |FROM documents ORDER BY doc_id""".stripMargin,
    // q135's span machinery + per-position max exposure + the
    // threshold inequality join; integers until the share division.
    // Pinned to thresholds {2, 5, 10}
    "q303_memorization_spectrum" ->
      """WITH toks AS (SELECT doc_id, source, string_split(text,' ') AS t
        |              FROM documents),
        |gr AS (
        |  SELECT doc_id, source, i AS p,
        |    t[i]||' '||t[i+1]||' '||t[i+2]||' '||t[i+3]||' '||t[i+4] AS g
        |  FROM (SELECT doc_id, source, t,
        |          unnest(generate_series(1, len(t)-4)) AS i FROM toks)),
        |dfc AS (SELECT g, CAST(count(*) AS BIGINT) AS ndocs
        |        FROM (SELECT DISTINCT doc_id, g FROM gr) GROUP BY 1),
        |expo AS (
        |  SELECT doc_id, source, cp, max(ndocs) AS exposure
        |  FROM (SELECT gr.doc_id, gr.source,
        |          unnest(generate_series(p, p+4)) AS cp, dfc.ndocs
        |        FROM gr JOIN dfc USING (g))
        |  GROUP BY 1, 2, 3),
        |th AS (SELECT CAST(unnest([2, 5, 10]) AS BIGINT) AS t_min),
        |cov AS (
        |  SELECT source, t_min, CAST(count(*) AS BIGINT)
        |    AS covered_tokens
        |  FROM expo JOIN th ON expo.exposure >= th.t_min
        |  GROUP BY 1, 2),
        |tot AS (
        |  SELECT source, CAST(sum(len(t)) AS BIGINT) AS n_tokens
        |  FROM toks GROUP BY source)
        |SELECT tot.source, th.t_min, tot.n_tokens,
        |  coalesce(cov.covered_tokens, 0) AS covered_tokens,
        |  CAST(coalesce(cov.covered_tokens, 0) AS DOUBLE)
        |    / CAST(tot.n_tokens AS DOUBLE) AS covered_share
        |FROM tot CROSS JOIN th
        |LEFT JOIN cov ON cov.source = tot.source AND cov.t_min = th.t_min
        |ORDER BY tot.source, th.t_min""".stripMargin,
    "q135_dup_span_coverage" ->
      """WITH toks AS (SELECT doc_id, string_split(text,' ') AS t
        |              FROM documents),
        |gr AS (
        |  SELECT doc_id, i AS p,
        |    t[i]||' '||t[i+1]||' '||t[i+2]||' '||t[i+3]||' '||t[i+4] AS g
        |  FROM (SELECT doc_id, t,
        |          unnest(generate_series(1, len(t)-4)) AS i FROM toks)),
        |dfc AS (SELECT g, count(*) AS ndocs
        |        FROM (SELECT DISTINCT doc_id, g FROM gr) GROUP BY 1),
        |cov AS (
        |  SELECT doc_id, count(DISTINCT cp) AS n_covered
        |  FROM (SELECT gr.doc_id, unnest(generate_series(p, p+4)) AS cp
        |        FROM gr JOIN dfc USING (g) WHERE ndocs >= 2)
        |  GROUP BY 1)
        |SELECT t.doc_id, CAST(len(t.t) AS BIGINT) AS n_tokens,
        |  CAST(coalesce(c.n_covered, 0) AS BIGINT) AS n_covered,
        |  CAST(coalesce(c.n_covered, 0) AS DOUBLE) / len(t.t) AS coverage
        |FROM toks t LEFT JOIN cov c USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    "q102_inverted_index" ->
      """WITH td AS (
        |  SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS term
        |  FROM documents)
        |SELECT term, CAST(count(*) AS BIGINT) AS df,
        |  string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id)
        |    FILTER (WHERE rn <= 20) AS postings
        |FROM (SELECT term, doc_id,
        |        row_number() OVER (PARTITION BY term ORDER BY doc_id) AS rn
        |      FROM td)
        |GROUP BY term ORDER BY term""".stripMargin
  )
}
