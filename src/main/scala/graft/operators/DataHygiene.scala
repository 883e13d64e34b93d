package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Structural and policy hygiene screens for raw crawl data — the
  * gate family a code/web corpus passes BEFORE the content-quality
  * stack ([[TextAnalysis]], [[Quality]]) sees it:
  *
  *  - code-shape structural filters (The Stack, Kocetkov 2022;
  *    StarCoder, Li 2023: drop files by line-length stats and
  *    non-alphanumeric density — minified/generated/base64 blobs),
  *  - encoding-noise screens (U+FFFD replacement chars and C0
  *    control bytes are the signature of decode errors; a C4-style
  *    hard gate drops them before they poison token statistics),
  *  - license / opt-out marker detection (The Stack filters by
  *    detected license; "do not train" opt-out strings are honored
  *    at ingest, not at release),
  *  - fixed-size weighted sampling without replacement
  *    (Efraimidis–Spirakis 2006: top-k by u^(1/w) IS a weighted
  *    sample without replacement).
  *
  * The synthetic corpus is clean word-salad, so — exactly like q81's
  * planted PII ([[ScalePatterns.piiScrub]]) — every screen PLANTS its
  * hazard deterministically from `doc_id` and the oracle replays the
  * same plant: the detection semantics are what's under test, and the
  * plant guarantees both engines see identical bytes.
  *
  * Scale: every per-doc metric here is a row-local projection (no
  * shuffle, no UDF — higher-order array functions + regexp, all
  * codegen); rollups are map-side-combinable groupBys to |sources|-
  * or |sources|×|licenses|-sized output; the weighted sample is a
  * TakeOrderedAndProject (per-partition top-k heaps, k·partitions
  * rows to the driver-side merge — never a global sort). All
  * arithmetic is integers plus single IEEE divisions / correctly-
  * rounded sqrt, so results are bit-identical cross-engine.
  */
object DataHygiene {

  // ---------------------------------------------------------------
  // q244: code-shape structural gate
  // ---------------------------------------------------------------

  /** Rebuild each doc as "lines" of `5 + doc_id % 7` words, then
    * plant the two structural hazards the gate exists to catch:
    * docs with doc_id % 11 == 0 get a 120-char `=`-rule separator
    * line (non-alphanumeric wall), docs with doc_id % 13 == 0 get an
    * 80-char single-token line (minified/base64 blob shape). */
  private def plantedLines(): Column = {
    val toks = split(col("text"), " ")
    val m = (lit(5) + pmod(col("doc_id"), lit(7))).cast("int")
    val nWords = size(toks)
    // integer ceil-div — double ceil() would be a cross-engine hazard
    val nLines = (nWords + m - lit(1)) / m
    val base = transform(sequence(lit(0), nLines.cast("int") - lit(1)),
      i => array_join(slice(toks, i * m + lit(1), m), " "))
    val ruleLine = when(pmod(col("doc_id"), lit(11)) === 0,
      array(lit("=" * 120)))
      .otherwise(array().cast("array<string>"))
    val blobLine = when(pmod(col("doc_id"), lit(13)) === 0,
      array(lit("a0" * 40)))
      .otherwise(array().cast("array<string>"))
    concat(base, ruleLine, blobLine)
  }

  /** StarCoder-style structural code gate: per-doc line-length stats
    * (max / mean line chars) and alphanumeric character fraction over
    * the line-structured text, plus the keep decision
    * (`max <= 100 AND mean <= 40 AND alnum_frac >= 0.25` — The
    * Stack's defaults, scaled to this corpus). Pure projection:
    * zero-shuffle per-doc, codegen higher-order functions only. */
  def codeShapeGate(docs: DataFrame): DataFrame = {
    val lines = plantedLines()
    val joined = array_join(lines, "\n")
    val lens = transform(lines, l => length(l))
    val nLines = size(lens)
    val totalLineChars =
      aggregate(lens, lit(0), (acc, x) => acc + x)
    val maxLine = array_max(lens)
    val meanLine = totalLineChars.cast("double") / nLines.cast("double")
    val alnum = length(regexp_replace(joined, "[^a-z0-9]", ""))
    val alnumFrac = alnum.cast("double") / length(joined).cast("double")
    docs.select(col("doc_id"), col("source"),
        nLines.as("n_lines"),
        maxLine.as("max_line_chars"),
        meanLine.as("mean_line_chars"),
        alnumFrac.as("alnum_frac"))
      .withColumn("keep",
        col("max_line_chars") <= 100 && col("mean_line_chars") <= 40.0 &&
          col("alnum_frac") >= 0.25)
    // no presentation sort: the pure projection also runs as an
    // append-mode stream (q197/q218 convention — registration orders)
  }

  // ---------------------------------------------------------------
  // q245: encoding-noise screen
  // ---------------------------------------------------------------

  private def noisePlanted(): Column = {
    // a data-driven repeat count via substr of a pre-repeated literal
    // (functions.repeat pins n to Int; SQL-string \u escapes are
    // parser-mode-dependent — this form needs neither)
    val repl = when(pmod(col("doc_id"), lit(17)) === 0,
      concat(lit(" "), lit("�" * 5)
        .substr(lit(1), (lit(1) + pmod(col("doc_id"), lit(5))).cast("int"))))
      .otherwise(lit(""))
    val ctrl = when(pmod(col("doc_id"), lit(19)) === 0,
      concat(lit("\u0007"), lit("alert"), lit("\u001b"))).otherwise(lit(""))
    concat(col("text"), repl, ctrl)
  }

  /** Mojibake / decode-error screen, rolled up per source: docs whose
    * text carries U+FFFD replacement characters or C0 control bytes
    * are decode casualties (the ftfy/C4 hard gate); the per-source
    * view is the "which feed has the broken extractor" triage.
    * Counts are exact integers (length-difference after replace /
    * regexp strip); the corpus noise rate is one IEEE division of
    * exact sums, and `max_doc_ratio` is a selection (not an
    * accumulation), so every value is cross-engine bit-exact. */
  def encodingNoise(docs: DataFrame): DataFrame = {
    val planted = noisePlanted()
    val nRepl = length(planted) -
      length(regexp_replace(planted, "\\ufffd", ""))
    val nCtrl = length(planted) -
      length(regexp_replace(planted, "[\\x00-\\x1f]", ""))
    val perDoc = docs.select(col("source"),
      length(planted).as("n_chars"),
      nRepl.as("n_repl"), nCtrl.as("n_ctrl"),
      ((nRepl + nCtrl).cast("double") / length(planted).cast("double"))
        .as("ratio"))
    perDoc.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("n_repl") + col("n_ctrl") > 0, 1L).otherwise(0L))
          .as("noisy_docs"),
        sum(col("n_repl")).as("repl_chars"),
        sum(col("n_ctrl")).as("ctrl_chars"),
        (sum(col("n_repl") + col("n_ctrl")).cast("double") /
          sum(col("n_chars")).cast("double")).as("noise_rate"),
        max(col("ratio")).as("max_doc_ratio"))
      .orderBy(col("source"))
  }

  // ---------------------------------------------------------------
  // q246: license / opt-out marker screen
  // ---------------------------------------------------------------

  private def licensePlanted(): Column = {
    val arr = when(pmod(col("doc_id"), lit(23)) === 0,
      lit(" all rights reserved")).otherwise(lit(""))
    val cc = when(pmod(col("doc_id"), lit(29)) === 0,
      lit(" creative commons attribution license")).otherwise(lit(""))
    val optout = when(pmod(col("doc_id"), lit(31)) === 0,
      lit(" do not train on this content")).otherwise(lit(""))
    concat(col("text"), arr, cc, optout)
  }

  /** License / opt-out triage per source: marker-phrase detection
    * with a fixed precedence (opt-out strings dominate — they are an
    * instruction, not a license; explicit all-rights-reserved beats a
    * permissive grant found later in the page). Output is the
    * |sources|×|classes| policy mix a release decision reads.
    * Row-local classify + one map-side-combinable rollup. */
  def licenseScreen(docs: DataFrame): DataFrame = {
    val planted = licensePlanted()
    val license = when(planted.contains("do not train"), "optout")
      .when(planted.contains("all rights reserved"), "arr")
      .when(planted.contains("creative commons"), "cc-by")
      .otherwise(lit("none"))
    docs.select(col("source"), license.as("license"),
        length(planted).as("n_chars"))
      .groupBy(col("source"), col("license"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"))
      .orderBy(col("source"), col("license"))
  }

  // ---------------------------------------------------------------
  // q251: per-source health card
  // ---------------------------------------------------------------

  /** SOURCE-HEALTH card — one row per source with the hygiene numbers
    * an ingest decision reads side by side: doc/token mass, exact-
    * duplicate attrition (docs a keep-first dedup would drop),
    * decode-noise incidence, opt-out incidence, and structural-gate
    * failures — the q233/q235 composed-card convention applied to
    * this module. Every branch replays its parent operator's exact
    * algebra through the SAME private plant helpers (they cannot
    * drift), collapses to a |sources|-row map-side-combinable rollup,
    * and the final assembly is |sources|-keyed joins. The dup branch
    * is the only corpus-keyed shuffle (one fingerprint join). */
  def sourceHealthCard(docs: DataFrame): DataFrame = {
    val base = docs.groupBy(col("source")).agg(
      count(lit(1)).as("n_docs"),
      sum(size(split(col("text"), " ")).cast("long")).as("n_tokens"))
    val noisePl = noisePlanted()
    val nRepl = length(noisePl) -
      length(regexp_replace(noisePl, "\\ufffd", ""))
    val nCtrl = length(noisePl) -
      length(regexp_replace(noisePl, "[\\x00-\\x1f]", ""))
    val noise = docs.select(col("source"), (nRepl + nCtrl > 0).as("noisy"))
      .groupBy(col("source"))
      .agg(sum(when(col("noisy"), 1L).otherwise(0L)).as("noisy_docs"))
    val lic = docs.select(col("source"),
        licensePlanted().contains("do not train").as("optout"))
      .groupBy(col("source"))
      .agg(sum(when(col("optout"), 1L).otherwise(0L)).as("optout_docs"))
    val gate = codeShapeGate(docs)
      .groupBy(col("source"))
      .agg(sum(when(!col("keep"), 1L).otherwise(0L)).as("gate_fail_docs"))
    val winners = docs.groupBy(md5(col("text")).as("fp"))
      .agg(min(col("doc_id")).as("keep_id"))
    val dup = docs.select(col("source"), col("doc_id"),
        md5(col("text")).as("fp"))
      .join(winners, Seq("fp"))
      .groupBy(col("source"))
      .agg(sum(when(col("doc_id") =!= col("keep_id"), 1L).otherwise(0L))
        .as("dup_drop_docs"))
    base.join(dup, Seq("source")).join(noise, Seq("source"))
      .join(lic, Seq("source")).join(gate, Seq("source"))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        col("dup_drop_docs"), col("noisy_docs"), col("optout_docs"),
        col("gate_fail_docs"),
        (col("dup_drop_docs").cast("double") / col("n_docs")).as("dup_rate"),
        (col("noisy_docs").cast("double") / col("n_docs")).as("noise_rate"),
        (col("optout_docs").cast("double") / col("n_docs"))
          .as("optout_rate"),
        (col("gate_fail_docs").cast("double") / col("n_docs"))
          .as("gate_fail_rate"))
      .orderBy(col("source"))
  }

  // ---------------------------------------------------------------
  // q254: small-cell suppression for released aggregates
  // ---------------------------------------------------------------

  /** SMALL-CELL suppression — the minimum-cell-size rule of
    * disclosure control (k-anonymity, Sweeney 2002: a released
    * aggregate cell describing fewer than k individuals identifies
    * them): per-(lang, source) doc/token stats where every cell with
    * fewer than `k` documents is collapsed into one ('OTHER','OTHER')
    * row before release. `n_cells` counts the merged cells, so the
    * reader can see HOW much was suppressed without seeing what.
    * Two map-side-combinable rollups over at most |langs|×|sources|
    * rows — release-stats cost, not corpus cost. */
  def suppressSmallCells(docs: DataFrame, k: Long = 5L): DataFrame = {
    require(k >= 1)
    val cells = docs.groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(size(split(col("text"), " ")).cast("long")).as("n_tokens"))
    val small = col("n_docs") < k
    cells
      .select(
        when(small, lit("OTHER")).otherwise(col("lang")).as("lang"),
        when(small, lit("OTHER")).otherwise(col("source")).as("source"),
        col("n_docs"), col("n_tokens"))
      .groupBy(col("lang"), col("source"))
      .agg(sum(col("n_docs")).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        count(lit(1)).as("n_cells"))
      .orderBy(col("lang"), col("source"))
  }

  // ---------------------------------------------------------------
  // q247: Efraimidis–Spirakis weighted sample without replacement
  // ---------------------------------------------------------------

  /** Fixed-size weighted sample WITHOUT replacement (Efraimidis &
    * Spirakis 2006): the top k documents by key u^(1/w) are exactly a
    * w-weighted sample without replacement — the fixed-k counterpart
    * to q164's Bernoulli quality thinning (variable size) and q134's
    * fixed-rate strata.
    *
    * Exactness device: weights are a POWER-OF-TWO ladder
    * (w = 2^band from integer n_chars thresholds), so u^(1/w) is a
    * sqrt CHAIN — u, √u, √√u, √√√u — and IEEE-754 sqrt is correctly
    * rounded in every engine, making the key (and therefore the
    * selected set and its order) bit-identical cross-engine where a
    * pow()/ln() formulation would drift by ulps. u is a 48-bit md5
    * slice over 2^48 (both exactly representable; division by a
    * power of two is exact).
    *
    * Scale: orderBy+limit plans as TakeOrderedAndProject — size-k
    * heaps per partition, k·partitions rows to the final merge; no
    * global sort, no window. The naive rank-then-filter window this
    * replaces is stated verbatim in the oracle. */
  def weightedSampleNoReplacement(docs: DataFrame, k: Int = 128): DataFrame = {
    val band = when(col("n_chars") >= 418, 3)
      .when(col("n_chars") >= 295, 2)
      .when(col("n_chars") >= 176, 1).otherwise(0)
    val u = conv(substring(md5(concat(lit("eswr:"),
      col("doc_id").cast("string"))), 1, 12), 16, 10)
      .cast("long").cast("double") / lit(281474976710656.0) // 2^48
    val key = when(band === 0, u)
      .when(band === 1, sqrt(u))
      .when(band === 2, sqrt(sqrt(u)))
      .otherwise(sqrt(sqrt(sqrt(u))))
    docs.select(col("doc_id"), col("source"), col("n_chars"),
        band.as("band"), key.as("key"))
      .orderBy(col("key").desc, col("doc_id"))
      .limit(k)
  }

  // ---------------------------------------------------------------
  // registry
  // ---------------------------------------------------------------

  // ---------------------------------------------------------------
  // q260: jusText-lite paragraph gate
  // ---------------------------------------------------------------

  /** Deterministic paragraph structure over the token stream
    * (paragraph length 8 + doc_id % 5 words), with two planted
    * boilerplate paragraphs riding the q244/q245 plant convention:
    * a link-dense nav block on every 9th doc and a short copyright
    * footer on every 12th (markers verified absent from the organic
    * corpus, so thresholds sit in an empirical gap). */
  private def plantedParas(): Column = {
    val toks = split(col("text"), " ")
    val m = (lit(8) + pmod(col("doc_id"), lit(5))).cast("int")
    val nParas = (size(toks) + m - lit(1)) / m
    val base = transform(sequence(lit(0), nParas.cast("int") - lit(1)),
      i => array_join(slice(toks, i * m + lit(1), m), " "))
    val navPara = when(pmod(col("doc_id"), lit(9)) === 0,
      array(lit("href nav menu href login href")))
      .otherwise(array().cast("array<string>"))
    val footPara = when(pmod(col("doc_id"), lit(12)) === 0,
      array(lit("copyright all rights reserved")))
      .otherwise(array().cast("array<string>"))
    concat(base, navPara, footPara)
  }

  /** jusText-LITE paragraph gate (Pomikálek 2011's block
    * classification, the content-extraction complement to q244's
    * line-shape gate): each paragraph classified bad (link density
    * ≥ 0.2 — navigation/chrome), short (< 5 words — footers, menu
    * stubs) or good, rolled up per doc with the extracted token mass
    * (words in good paragraphs) and keep fraction. The full jusText
    * adds neighbor smoothing of near-good blocks; this is the
    * deterministic core tier. Pure row-local projection — paragraph
    * derivation, per-paragraph stats and the rollup are all
    * higher-order array functions inside one codegen stage; zero
    * shuffle at any corpus size. */
  def paragraphGate(docs: DataFrame): DataFrame = {
    val stats = paraStats(plantedParas())
    def cnt(cls: String) =
      size(filter(col("st"), s => s.getField("cls") === cls)).cast("long")
    def mass(cls: String) = aggregate(
      filter(col("st"), s => s.getField("cls") === cls),
      lit(0L), (acc, s) => acc + s.getField("n").cast("long"))
    docs.select(col("doc_id"), col("source"), stats.as("st"))
      .select(col("doc_id"), col("source"),
        size(col("st")).cast("long").as("n_paras"),
        cnt("good").as("n_good"), cnt("bad").as("n_bad"),
        cnt("short").as("n_short"),
        mass("good").as("kept_words"),
        (mass("good").cast("double") /
          aggregate(col("st"), lit(0L),
            (acc, s) => acc + s.getField("n").cast("long")).cast("double"))
          .as("keep_frac"))
    // no presentation sort: the pure projection also runs as an
    // append-mode stream (q197/q218 convention — registration orders)
  }

  // ---------------------------------------------------------------
  // q351: the FULL jusText tier — context-sensitive neighbor
  // smoothing (Pomikálek 2011 §3.3) over the paragraph classes
  // ---------------------------------------------------------------

  /** The q260 paragraph classifier as a reusable lambda body:
    * (words) → struct(n, cls) with cls ∈ {bad, short, good}. ONE
    * definition shared by the lite and full tiers so the class rules
    * cannot drift. */
  private[graft] def paraStats(paras: Column): Column =
    transform(paras, p => {
      val ws = split(p, " ")
      val n = size(ws)
      val links = size(filter(ws, w => w === "href"))
      struct(n.as("n"),
        when(links.cast("double") / n.cast("double") >= 0.2, "bad")
          .when(n < 5, "short").otherwise("good").as("cls"))
    })

  /** [[plantedParas]] plus an INTERIOR short plant: a 4-word
    * pull-quote inserted after the first paragraph on every 10th doc.
    * The lite derivation cannot produce an interior short (every
    * interior paragraph is exactly m ≥ 8 words), so without this the
    * full tier's PROMOTION branch (short between good neighbors →
    * good) would be structurally dead; the %12 footer remains the
    * demotion case (short against the trailing edge). Markers
    * verified absent from the organic corpus (the q244/q245 plant
    * convention). */
  private[graft] def plantedParasFull(): Column = {
    val base = plantedParas()
    when(pmod(col("doc_id"), lit(10)) === 0,
      concat(slice(base, lit(1), lit(1)),
        array(lit("key point summary here")),
        slice(base, lit(2), size(base) - 1)))
      .otherwise(base)
  }

  /** The FULL jusText paragraph gate (q351) — Pomikálek 2011 §3.3's
    * context-sensitive classification on top of q260's context-free
    * classes: every SHORT block is resolved by its nearest non-short
    * neighbors (document edges count as bad) — promoted to good
    * between two good neighbors, demoted to bad otherwise (the
    * no-stopword-tier simplification of the paper's neargood rules);
    * good and bad blocks never change. The smoothing is row-local
    * array algebra (slice + filter + element access per position —
    * no window, no shuffle: a document's paragraphs live in its own
    * row), so the gate keeps q260's zero-shuffle scale shape and the
    * whole chain replays in SQL (hash-exact at 3 SFs). Per doc:
    * class counts post-smoothing, promoted/demoted counts, extracted
    * token mass and keep fraction. */
  def paragraphGateFull(docs: DataFrame): DataFrame = {
    val st = paraStats(plantedParasFull())
    def nonShort(arr: Column): Column =
      filter(arr, y => y.getField("cls") =!= "short")
    def clsOf(elem: Column): Column =
      coalesce(elem.getField("cls"), lit("bad"))
    val smoothed = transform(col("st"), (x, i) => {
      val before = nonShort(slice(col("st"), lit(1), i))
      val after = nonShort(slice(col("st"), i + lit(2),
        size(col("st"))))
      val prevCls = clsOf(get(before, size(before) - 1))
      val nextCls = clsOf(get(after, lit(0)))
      struct(x.getField("n").as("n"),
        when(x.getField("cls") =!= "short", x.getField("cls"))
          .when(prevCls === "good" && nextCls === "good", lit("good"))
          .otherwise(lit("bad")).as("cls"))
    })
    def cnt(arr: Column, cls: String): Column =
      size(filter(arr, s => s.getField("cls") === cls)).cast("long")
    def mass(arr: Column, cls: String): Column = aggregate(
      filter(arr, s => s.getField("cls") === cls),
      lit(0L), (acc, s) => acc + s.getField("n").cast("long"))
    def moved(to: String): Column = aggregate(
      zip_with(col("st"), col("sm"), (a, b) =>
        when(a.getField("cls") === "short" &&
          b.getField("cls") === to, 1L).otherwise(0L)),
      lit(0L), (acc, x) => acc + x)
    docs.select(col("doc_id"), col("source"), st.as("st"))
      .withColumn("sm", smoothed)
      .select(col("doc_id"), col("source"),
        size(col("sm")).cast("long").as("n_paras"),
        cnt(col("sm"), "good").as("n_good"),
        cnt(col("sm"), "bad").as("n_bad"),
        moved("good").as("n_promoted"),
        moved("bad").as("n_demoted"),
        mass(col("sm"), "good").as("kept_words"),
        (mass(col("sm"), "good").cast("double") /
          aggregate(col("sm"), lit(0L),
            (acc, s) => acc + s.getField("n").cast("long"))
            .cast("double")).as("keep_frac"))
      .orderBy(col("doc_id"))
  }

  // ---------------------------------------------------------------
  // q280: unicode script-mix card
  // ---------------------------------------------------------------

  /** Per-source unicode SCRIPT-mix card — the router diagnostic
    * underneath language ID (q30/q232 score stopword PROFILES; this
    * measures the writing system itself): per source, exact counts of
    * Latin / digit / space / Cyrillic / CJK / other characters and
    * the non-Latin rate — a Latin-tagged feed with rising Cyrillic
    * mass is a mislabeled crawl or an encoding break. The synthetic
    * corpus is ASCII, so docs plant deterministic Cyrillic
    * (doc_id % 7) and CJK (doc_id % 11) tails (the q244/q245 plant
    * convention, replayed verbatim in the oracle).
    *
    * Counts are length differences under class-stripping
    * regexp_replace with LITERAL-character range classes (the same
    * `[а-ӿ]`-style class compiles identically in Java regex and
    * RE2 — no `\\u`/`\\x{}` escape-syntax divergence), so every
    * number is an exact integer; one final IEEE division. Row-local
    * projection + a map-side |sources|-row rollup — zero data-sized
    * shuffle at any corpus size. */
  def scriptMixCard(docs: DataFrame): DataFrame = {
    val cyrCls = "[Ѐ-ӿ]"
    val cjkCls = "[一-鿿]"
    val planted = concat(col("text"),
      when(pmod(col("doc_id"), lit(7)) === 0, lit(" привет мир"))
        .when(pmod(col("doc_id"), lit(11)) === 0, lit(" 你好世界"))
        .otherwise(lit("")))
    def stripped(cls: String): Column =
      length(col("t")) - length(regexp_replace(col("t"), cls, ""))
    val perDoc = docs.select(col("source"), planted.as("t"))
      .select(col("source"), length(col("t")).as("nc"),
        stripped("[A-Za-z]").as("lat"), stripped("[0-9]").as("dig"),
        stripped("[ ]").as("spc"), stripped(cyrCls).as("cyr"),
        stripped(cjkCls).as("cjk"))
    perDoc.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("nc")).as("n_chars"),
        sum(col("lat")).as("latin_chars"),
        sum(col("dig")).as("digit_chars"),
        sum(col("spc")).as("space_chars"),
        sum(col("cyr")).as("cyr_chars"),
        sum(col("cjk")).as("cjk_chars"),
        sum(col("nc") - col("lat") - col("dig") - col("spc") -
          col("cyr") - col("cjk")).as("other_chars"))
      .withColumn("non_latin_rate",
        (col("cyr_chars") + col("cjk_chars") + col("other_chars"))
          .cast("double") / col("n_chars").cast("double"))
      .orderBy(col("source"))
  }

  // ---------------------------------------------------------------
  // q281: compression-ratio gibberish screen
  // ---------------------------------------------------------------

  /** Compression-RATIO screen — the zlib-deflate quality signal the
    * RedPajama-v2/CCNet family ships per document: highly
    * compressible text (ratio near 0) is repeated boilerplate or
    * template spam; incompressible text (ratio near 1) is
    * base64/random/encrypted junk; natural language sits in the wide
    * middle band. Ratio = deflate(bytes).length / bytes.length at
    * the default zlib level — deterministic on a fixed JVM, computed
    * inside ONE narrow UDF (the only operation in this library where
    * a UDF is warranted: there is no codegen zlib), zero shuffle,
    * media-scale safe because only the two integer lengths leave the
    * row. Rows-only BY DESIGN: DuckDB exposes no deflate; the specs
    * pin planted repetitive/random/natural docs into their bands and
    * the keep decision both ways. */
  def compressionRatio(docs: DataFrame,
      loCut: Double = 0.2, hiCut: Double = 0.95): DataFrame = {
    val deflateLen = udf { (s: String) =>
      if (s == null) -1L
      else {
        val bytes = s.getBytes("UTF-8")
        val d = new java.util.zip.Deflater()
        d.setInput(bytes)
        d.finish()
        val buf = new Array[Byte](8192)
        var total = 0L
        while (!d.finished()) total += d.deflate(buf)
        d.end()
        total
      }
    }
    docs
      .select(col("doc_id"), col("source"),
        octet_length(col("text")).cast("bigint").as("n_bytes"),
        deflateLen(col("text")).as("deflate_bytes"))
      .withColumn("ratio",
        col("deflate_bytes").cast("double") / col("n_bytes").cast("double"))
      .withColumn("keep", col("ratio") >= loCut && col("ratio") <= hiCut)
    // no presentation sort here: the pure projection also runs as an
    // append-mode stream (q197/q218 convention — registration orders it)
  }

  // ---------------------------------------------------------------
  // q304: Luhn-validated payment-card screen
  // ---------------------------------------------------------------

  // mod-23 docs carry a VALID test PAN (4111… passes Luhn); mod-29
  // docs a near-miss (last digit +1, checksum fails) — the negative
  // plant is what pins the CHECKSUM semantics cross-engine: a raw
  // digit-run regex would flag both, so the oracle only agrees if
  // both engines compute the same Luhn sum.
  private def luhnPlanted(): Column =
    concat(col("text"),
      when(pmod(col("doc_id"), lit(23)) === 0,
        lit(" 4111111111111111")).otherwise(lit("")),
      when(pmod(col("doc_id"), lit(29)) === 0,
        lit(" 4111111111111112")).otherwise(lit("")))

  /** Luhn checksum over a digit-only token: reversed digits, every
    * second doubled (−9 when > 9), total ≡ 0 (mod 10) — ISO/IEC
    * 7812's check-digit algorithm, pure integer fold. */
  private def luhnOk(t: Column): Column = {
    val rev = reverse(t)
    (aggregate(sequence(lit(1), length(t)), lit(0), (acc, i) => {
      val d = ascii(rev.substr(i, lit(1))) - 48
      acc + when(i % 2 === 0,
        when(d * 2 > 9, d * 2 - 9).otherwise(d * 2)).otherwise(d)
    }) % 10) === 0
  }

  /** Payment-card PII screen with CHECKSUM validation, rolled up per
    * source — the precision fix for digit-run regexes (order ids,
    * timestamps and EAN-13s are 13–19 digit runs too): a candidate
    * counts only if it passes Luhn, the reject count shows the
    * checksum doing its false-positive work, and q81's scrub is the
    * downstream action. Per-token detection is one codegen regex +
    * one integer fold — zero-shuffle per doc, one |sources| rollup
    * (the q245/q246/q297 hygiene-card shape); exact integers, ONE
    * division. */
  def luhnScreen(docs: DataFrame): DataFrame = {
    val cands = filter(split(luhnPlanted(), " "),
      t => t.rlike("^[0-9]{13,19}$"))
    val perDoc = docs.select(col("source"),
      size(filter(cands, t => luhnOk(t))).as("n_valid"),
      size(filter(cands, t => !luhnOk(t))).as("n_rejected"))
    perDoc.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("n_valid") > 0, 1L).otherwise(0L))
          .as("flagged_docs"),
        sum(col("n_valid")).cast("long").as("valid_hits"),
        sum(col("n_rejected")).cast("long").as("checksum_rejects"),
        (sum(when(col("n_valid") > 0, 1L).otherwise(0L)).cast("double") /
          count(lit(1)).cast("double")).as("flag_rate"))
      .orderBy(col("source"))
  }

  // ---------------------------------------------------------------
  // q297: homoglyph / mixed-script confusable screen
  // ---------------------------------------------------------------

  // Cyrillic U+0400-04FF + Greek U+0370-03FF as explicit escapes (a
  // visually-identical Latin literal here would break the screen)
  private val ConfusableClass = "[\u0400-\u04ff\u0370-\u03ff]"

  // Plant: two MIXED tokens (Latin+Cyrillic "p\u0430ypal"/"l\u043egin") that
  // must flag, plus one PURE-Cyrillic token ("\u0441\u0430\u0439\u0442") that must NOT \u2014
  // without it the two predicates collapse to one on this corpus and
  // the mixed-script semantics (Latin AND confusable, not just
  // confusable) would be unpinned cross-engine.
  private def homoglyphPlanted(): Column =
    concat(col("text"), when(pmod(col("doc_id"), lit(37)) === 0,
      lit(" p\u0430ypal l\u043egin \u0441\u0430\u0439\u0442"))
      .otherwise(lit("")))

  /** Homoglyph / MIXED-SCRIPT confusable screen, rolled up per
    * source — tokens mixing Latin letters with Cyrillic or Greek
    * codepoints are the classic spoofing signature (UTS #39
    * confusables: "pаypal" with a Cyrillic а renders
    * identically to "paypal"): phishing-page boilerplate, SEO spam
    * and poisoning payloads in a crawl, invisible to every
    * Latin-only filter upstream. Deterministic positives are planted
    * on doc_id ≡ 0 (mod 37) — the [[encodingNoise]]/[[licenseScreen]]
    * fixture convention, stated identically in the oracle.
    *
    * Exactness: per-token detection is two row-local regex tests;
    * counts are exact integers, the flag rate ONE division, and the
    * per-source example a pure min() SELECTION over the mixed tokens
    * (binary UTF-8 order in both engines) — nothing accumulates in
    * float. Scale: one narrow projection + one source-keyed rollup,
    * partial-aggregated map-side. */
  def homoglyphScreen(docs: DataFrame): DataFrame = {
    val toks = split(homoglyphPlanted(), " ")
    val mixed = filter(toks, t =>
      t.rlike("[A-Za-z]") && t.rlike(ConfusableClass))
    val perDoc = docs.select(col("source"),
      size(mixed).as("n_mixed"), array_min(mixed).as("ex"))
    perDoc.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("n_mixed") > 0, 1L).otherwise(0L))
          .as("flagged_docs"),
        sum(col("n_mixed")).as("mixed_tokens"),
        (sum(when(col("n_mixed") > 0, 1L).otherwise(0L)).cast("double") /
          count(lit(1)).cast("double")).as("flag_rate"),
        min(col("ex")).as("example"))
      .orderBy(col("source"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q297_homoglyph_screen" ->
      ((s, d) => homoglyphScreen(Tables(s, d).documents)),
    "q304_luhn_screen" ->
      ((s, d) => luhnScreen(Tables(s, d).documents)),
    "q280_script_mix" ->
      ((s, d) => scriptMixCard(Tables(s, d).documents)),
    "q281_compression_ratio" ->
      ((s, d) => compressionRatio(Tables(s, d).documents)
        .orderBy(col("doc_id"))),
    "q260_paragraph_gate" ->
      ((s, d) => paragraphGate(Tables(s, d).documents)
        .orderBy(col("doc_id"))),
    // the FULL jusText tier (r16): neighbor smoothing over the
    // paragraph classes — promotion AND demotion branches exercised
    // by the interior pull-quote / trailing footer plants
    "q351_paragraph_gate_full" ->
      ((s, d) => paragraphGateFull(Tables(s, d).documents)),
    "q244_code_shape_gate" ->
      ((s, d) => codeShapeGate(Tables(s, d).documents)
        .orderBy(col("doc_id"))),
    "q245_encoding_noise" ->
      ((s, d) => encodingNoise(Tables(s, d).documents)),
    "q246_license_screen" ->
      ((s, d) => licenseScreen(Tables(s, d).documents)),
    "q247_weighted_reservoir" ->
      ((s, d) => weightedSampleNoReplacement(Tables(s, d).documents)),
    "q251_source_health" ->
      ((s, d) => sourceHealthCard(Tables(s, d).documents)),
    "q254_cell_suppression" ->
      ((s, d) => suppressSmallCells(Tables(s, d).documents))
  )

  /** Shared plant + per-doc noise counts — q245's oracle states the
    * same rollup DuckDB-side. */
  private val noiseDocSql: String =
    """SELECT source,
      |  len(planted) AS n_chars,
      |  len(planted) - len(replace(planted, chr(65533), '')) AS n_repl,
      |  len(planted) - len(regexp_replace(planted, '[\x00-\x1f]', '', 'g'))
      |    AS n_ctrl
      |FROM (
      |  SELECT source,
      |    text
      |      || CASE WHEN doc_id % 17 = 0
      |           THEN ' ' || repeat(chr(65533), CAST(1 + doc_id % 5 AS INT))
      |           ELSE '' END
      |      || CASE WHEN doc_id % 19 = 0
      |           THEN chr(7) || 'alert' || chr(27) ELSE '' END AS planted
      |  FROM documents)""".stripMargin

  /** The q244 per-doc stats + keep decision as one shared literal:
    * q244 states it directly, q251's gate branch rolls it up. */
  private val codeShapeStatsSql: String =
    """WITH lined AS (
      |  SELECT doc_id, source,
      |    list_concat(list_concat(
      |      list_transform(range(0, nb),
      |        i -> array_to_string(toks[i*m+1 : i*m+m], ' ')),
      |      CASE WHEN doc_id % 11 = 0 THEN [repeat('=', 120)]
      |           ELSE CAST([] AS VARCHAR[]) END),
      |      CASE WHEN doc_id % 13 = 0 THEN [repeat('a0', 40)]
      |           ELSE CAST([] AS VARCHAR[]) END) AS lines
      |  FROM (
      |    SELECT doc_id, source, toks, m,
      |      (len(toks) + m - 1) // m AS nb
      |    FROM (SELECT doc_id, source, string_split(text, ' ') AS toks,
      |            5 + doc_id % 7 AS m FROM documents))),
      |stats AS (
      |  SELECT doc_id, source,
      |    len(lines) AS n_lines,
      |    list_max(list_transform(lines, l -> len(l))) AS max_line_chars,
      |    CAST(list_aggregate(list_transform(lines, l -> len(l)), 'sum')
      |        AS DOUBLE) / len(lines) AS mean_line_chars,
      |    CAST(len(regexp_replace(array_to_string(lines, chr(10)),
      |        '[^a-z0-9]', '', 'g')) AS DOUBLE)
      |      / len(array_to_string(lines, chr(10))) AS alnum_frac
      |  FROM lined)
      |SELECT doc_id, source, n_lines, max_line_chars, mean_line_chars,
      |  alnum_frac,
      |  max_line_chars <= 100 AND mean_line_chars <= 40.0
      |    AND alnum_frac >= 0.25 AS keep
      |FROM stats""".stripMargin

  val oracleSql: Map[String, String] = Map(
    // same plants (valid PAN mod-23, checksum near-miss mod-29), same
    // candidate regex, and the IDENTICAL integer Luhn fold — the
    // near-miss only stays uncounted if both engines compute the same
    // checksum
    "q304_luhn_screen" ->
      """WITH p AS (
        |  SELECT source, text
        |    || CASE WHEN doc_id % 23 = 0
        |         THEN ' 4111111111111111' ELSE '' END
        |    || CASE WHEN doc_id % 29 = 0
        |         THEN ' 4111111111111112' ELSE '' END AS t
        |  FROM documents),
        |d AS (
        |  SELECT source,
        |    list_filter(string_split(t, ' '), x ->
        |      regexp_matches(x, '^[0-9]{13,19}$')) AS cands
        |  FROM p),
        |e AS (
        |  SELECT source,
        |    len(list_filter(cands, x ->
        |      list_sum(list_transform(range(1, len(x) + 1), i ->
        |        CASE WHEN i % 2 = 0 THEN
        |          CASE WHEN (ascii(substr(reverse(x), i, 1)) - 48) * 2 > 9
        |            THEN (ascii(substr(reverse(x), i, 1)) - 48) * 2 - 9
        |            ELSE (ascii(substr(reverse(x), i, 1)) - 48) * 2 END
        |        ELSE ascii(substr(reverse(x), i, 1)) - 48 END))
        |        % 10 = 0)) AS n_valid,
        |    len(list_filter(cands, x ->
        |      list_sum(list_transform(range(1, len(x) + 1), i ->
        |        CASE WHEN i % 2 = 0 THEN
        |          CASE WHEN (ascii(substr(reverse(x), i, 1)) - 48) * 2 > 9
        |            THEN (ascii(substr(reverse(x), i, 1)) - 48) * 2 - 9
        |            ELSE (ascii(substr(reverse(x), i, 1)) - 48) * 2 END
        |        ELSE ascii(substr(reverse(x), i, 1)) - 48 END))
        |        % 10 <> 0)) AS n_rejected
        |  FROM d)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(CASE WHEN n_valid > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS flagged_docs,
        |  CAST(sum(n_valid) AS BIGINT) AS valid_hits,
        |  CAST(sum(n_rejected) AS BIGINT) AS checksum_rejects,
        |  CAST(sum(CASE WHEN n_valid > 0 THEN 1 ELSE 0 END) AS DOUBLE)
        |    / CAST(count(*) AS DOUBLE) AS flag_rate
        |FROM e GROUP BY source
        |ORDER BY source""".stripMargin,
    // the same mod-37 plant (two mixed tokens + a pure-Cyrillic one
    // that must NOT flag), the same two regex tests per token —
    // Latin AND confusable, mirroring the operator — and min()
    // selections; no float accumulation anywhere
    "q297_homoglyph_screen" ->
      ("""WITH p AS (
        |  SELECT source, CASE WHEN doc_id % 37 = 0
        |    THEN text || ' pаypal lоgin сайт' ELSE text END AS t
        |  FROM documents),
        |d AS (
        |  SELECT source,
        |    list_filter(string_split(t, ' '), x ->
        |      regexp_matches(x, '[A-Za-z]') AND
        |      regexp_matches(x, '[Ѐ-ӿͰ-Ͽ]'))
        |      AS mixed
        |  FROM p)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(CASE WHEN len(mixed) > 0 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS flagged_docs,
        |  CAST(sum(len(mixed)) AS BIGINT) AS mixed_tokens,
        |  CAST(sum(CASE WHEN len(mixed) > 0 THEN 1 ELSE 0 END)
        |      AS DOUBLE) / CAST(count(*) AS DOUBLE) AS flag_rate,
        |  min(CASE WHEN len(mixed) > 0
        |      THEN list_aggregate(mixed, 'min') END) AS example
        |FROM d GROUP BY source
        |ORDER BY source""").stripMargin,
    // identical plant + LITERAL-character range classes (compile the
    // same in Java regex and RE2); counts are length differences,
    // one IEEE division at the end
    "q280_script_mix" ->
      """WITH t AS (
        |  SELECT source, text ||
        |    CASE WHEN doc_id % 7 = 0 THEN ' привет мир'
        |         WHEN doc_id % 11 = 0 THEN ' 你好世界'
        |         ELSE '' END AS t
        |  FROM documents),
        |d AS (
        |  SELECT source, length(t) AS nc,
        |    length(t) - length(regexp_replace(t, '[A-Za-z]', '', 'g'))
        |      AS lat,
        |    length(t) - length(regexp_replace(t, '[0-9]', '', 'g'))
        |      AS dig,
        |    length(t) - length(regexp_replace(t, '[ ]', '', 'g')) AS spc,
        |    length(t) - length(regexp_replace(t, '[Ѐ-ӿ]', '', 'g'))
        |      AS cyr,
        |    length(t) - length(regexp_replace(t, '[一-鿿]', '', 'g'))
        |      AS cjk
        |  FROM t)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(nc) AS BIGINT) AS n_chars,
        |  CAST(sum(lat) AS BIGINT) AS latin_chars,
        |  CAST(sum(dig) AS BIGINT) AS digit_chars,
        |  CAST(sum(spc) AS BIGINT) AS space_chars,
        |  CAST(sum(cyr) AS BIGINT) AS cyr_chars,
        |  CAST(sum(cjk) AS BIGINT) AS cjk_chars,
        |  CAST(sum(nc - lat - dig - spc - cyr - cjk) AS BIGINT)
        |    AS other_chars,
        |  CAST(CAST(sum(cyr) AS BIGINT) + CAST(sum(cjk) AS BIGINT)
        |      + CAST(sum(nc - lat - dig - spc - cyr - cjk) AS BIGINT)
        |      AS DOUBLE)
        |    / CAST(CAST(sum(nc) AS BIGINT) AS DOUBLE) AS non_latin_rate
        |FROM d GROUP BY source
        |ORDER BY source""".stripMargin,
    // same paragraph derivation + plant + CASE classes; counts are
    // exact integers, keep_frac one IEEE division
    "q260_paragraph_gate" ->
      """WITH p AS (
        |  SELECT doc_id, source,
        |    list_concat(list_concat(
        |      list_transform(range(0, (len(toks) + m - 1) // m),
        |        i -> array_to_string(toks[i * m + 1 : (i + 1) * m], ' ')),
        |      CASE WHEN doc_id % 9 = 0
        |        THEN ['href nav menu href login href'] ELSE [] END),
        |      CASE WHEN doc_id % 12 = 0
        |        THEN ['copyright all rights reserved'] ELSE [] END)
        |      AS paras
        |  FROM (SELECT doc_id, source, string_split(text, ' ') AS toks,
        |          CAST(8 + doc_id % 5 AS BIGINT) AS m FROM documents)),
        |st AS (
        |  SELECT doc_id, source,
        |    list_transform(paras, q -> struct_pack(
        |      n := len(string_split(q, ' ')),
        |      cls := CASE
        |        WHEN CAST(len(list_filter(string_split(q, ' '),
        |            w -> w = 'href')) AS DOUBLE)
        |          / len(string_split(q, ' ')) >= 0.2 THEN 'bad'
        |        WHEN len(string_split(q, ' ')) < 5 THEN 'short'
        |        ELSE 'good' END)) AS s
        |  FROM p)
        |SELECT doc_id, source,
        |  CAST(len(s) AS BIGINT) AS n_paras,
        |  CAST(len(list_filter(s, x -> x.cls = 'good')) AS BIGINT)
        |    AS n_good,
        |  CAST(len(list_filter(s, x -> x.cls = 'bad')) AS BIGINT)
        |    AS n_bad,
        |  CAST(len(list_filter(s, x -> x.cls = 'short')) AS BIGINT)
        |    AS n_short,
        |  CAST(COALESCE(list_sum(list_transform(list_filter(s,
        |      x -> x.cls = 'good'), x -> x.n)), 0) AS BIGINT) AS kept_words,
        |  CAST(CAST(COALESCE(list_sum(list_transform(list_filter(s,
        |      x -> x.cls = 'good'), x -> x.n)), 0) AS BIGINT) AS DOUBLE)
        |    / CAST(CAST(list_sum(list_transform(s, x -> x.n))
        |        AS BIGINT) AS DOUBLE) AS keep_frac
        |FROM st
        |ORDER BY doc_id""".stripMargin,
    // same derivation + plant + classes as q260, the %10 pull-quote
    // insertion, then the §3.3 smoothing as list algebra: per
    // position, nearest non-short class before/after (edges 'bad'),
    // short → good iff both good
    "q351_paragraph_gate_full" ->
      """WITH p0 AS (
        |  SELECT doc_id, source,
        |    list_concat(list_concat(
        |      list_transform(range(0, (len(toks) + m - 1) // m),
        |        i -> array_to_string(toks[i * m + 1 : (i + 1) * m], ' ')),
        |      CASE WHEN doc_id % 9 = 0
        |        THEN ['href nav menu href login href'] ELSE [] END),
        |      CASE WHEN doc_id % 12 = 0
        |        THEN ['copyright all rights reserved'] ELSE [] END)
        |      AS paras
        |  FROM (SELECT doc_id, source, string_split(text, ' ') AS toks,
        |          CAST(8 + doc_id % 5 AS BIGINT) AS m FROM documents)),
        |p AS (
        |  SELECT doc_id, source,
        |    CASE WHEN doc_id % 10 = 0 THEN
        |      list_concat(list_concat(paras[1:1],
        |        ['key point summary here']), paras[2:])
        |    ELSE paras END AS paras
        |  FROM p0),
        |st AS (
        |  SELECT doc_id, source,
        |    list_transform(paras, q -> struct_pack(
        |      n := len(string_split(q, ' ')),
        |      cls := CASE
        |        WHEN CAST(len(list_filter(string_split(q, ' '),
        |            w -> w = 'href')) AS DOUBLE)
        |          / len(string_split(q, ' ')) >= 0.2 THEN 'bad'
        |        WHEN len(string_split(q, ' ')) < 5 THEN 'short'
        |        ELSE 'good' END)) AS s
        |  FROM p),
        |sm AS (
        |  SELECT doc_id, source, s,
        |    list_transform(range(1, len(s) + 1), i ->
        |      CASE WHEN s[i].cls <> 'short' THEN s[i].cls
        |        WHEN coalesce((list_filter(s[1:i-1],
        |            x -> x.cls <> 'short')[-1]).cls, 'bad') = 'good'
        |          AND coalesce((list_filter(s[i+1:],
        |            x -> x.cls <> 'short')[1]).cls, 'bad') = 'good'
        |        THEN 'good' ELSE 'bad' END) AS t
        |  FROM st)
        |SELECT doc_id, source,
        |  CAST(len(s) AS BIGINT) AS n_paras,
        |  CAST(len(list_filter(t, c -> c = 'good')) AS BIGINT)
        |    AS n_good,
        |  CAST(len(list_filter(t, c -> c = 'bad')) AS BIGINT)
        |    AS n_bad,
        |  CAST(len(list_filter(range(1, len(s) + 1),
        |    i -> s[i].cls = 'short' AND t[i] = 'good')) AS BIGINT)
        |    AS n_promoted,
        |  CAST(len(list_filter(range(1, len(s) + 1),
        |    i -> s[i].cls = 'short' AND t[i] = 'bad')) AS BIGINT)
        |    AS n_demoted,
        |  CAST(COALESCE(list_sum(list_transform(list_filter(
        |      range(1, len(s) + 1), i -> t[i] = 'good'),
        |      i -> s[i].n)), 0) AS BIGINT) AS kept_words,
        |  CAST(CAST(COALESCE(list_sum(list_transform(list_filter(
        |      range(1, len(s) + 1), i -> t[i] = 'good'),
        |      i -> s[i].n)), 0) AS BIGINT) AS DOUBLE)
        |    / CAST(CAST(list_sum(list_transform(s, x -> x.n))
        |        AS BIGINT) AS DOUBLE) AS keep_frac
        |FROM sm
        |ORDER BY doc_id""".stripMargin,
    "q244_code_shape_gate" ->
      (codeShapeStatsSql + "\nORDER BY doc_id"),
    "q251_source_health" ->
      // each branch replays its parent screen's algebra (the shared
      // noise/code-shape literals; the license plant inline) and
      // rolls up per source; the dup branch is q24's fingerprint rule
      ("WITH nd AS (" + noiseDocSql + "),\n" +
        "cs AS (" + codeShapeStatsSql + "),\n" +
        """base AS (
          |  SELECT source, count(*) AS n_docs,
          |    CAST(sum(len(string_split(text, ' '))) AS BIGINT)
          |      AS n_tokens
          |  FROM documents GROUP BY source),
          |noise AS (
          |  SELECT source,
          |    CAST(sum(CASE WHEN n_repl + n_ctrl > 0 THEN 1 ELSE 0 END)
          |      AS BIGINT) AS noisy_docs
          |  FROM nd GROUP BY source),
          |lic AS (
          |  SELECT source,
          |    CAST(sum(CASE WHEN contains(
          |        text
          |          || CASE WHEN doc_id % 23 = 0 THEN ' all rights reserved'
          |               ELSE '' END
          |          || CASE WHEN doc_id % 29 = 0
          |               THEN ' creative commons attribution license'
          |               ELSE '' END
          |          || CASE WHEN doc_id % 31 = 0
          |               THEN ' do not train on this content' ELSE '' END,
          |        'do not train') THEN 1 ELSE 0 END) AS BIGINT)
          |      AS optout_docs
          |  FROM documents GROUP BY source),
          |gate AS (
          |  SELECT source,
          |    CAST(sum(CASE WHEN NOT keep THEN 1 ELSE 0 END) AS BIGINT)
          |      AS gate_fail_docs
          |  FROM cs GROUP BY source),
          |dup AS (
          |  SELECT d.source,
          |    CAST(sum(CASE WHEN d.doc_id <> k.keep_id THEN 1 ELSE 0 END)
          |      AS BIGINT) AS dup_drop_docs
          |  FROM (SELECT doc_id, source, md5(text) AS fp FROM documents) d
          |  JOIN (SELECT md5(text) AS fp, min(doc_id) AS keep_id
          |        FROM documents GROUP BY 1) k USING (fp)
          |  GROUP BY d.source)
          |SELECT source, n_docs, n_tokens, dup_drop_docs, noisy_docs,
          |  optout_docs, gate_fail_docs,
          |  CAST(dup_drop_docs AS DOUBLE) / n_docs AS dup_rate,
          |  CAST(noisy_docs AS DOUBLE) / n_docs AS noise_rate,
          |  CAST(optout_docs AS DOUBLE) / n_docs AS optout_rate,
          |  CAST(gate_fail_docs AS DOUBLE) / n_docs AS gate_fail_rate
          |FROM base JOIN dup USING (source) JOIN noise USING (source)
          |JOIN lic USING (source) JOIN gate USING (source)
          |ORDER BY source""".stripMargin),
    "q245_encoding_noise" ->
      // concatenated, NOT stripMargin'ed: the interpolated fragment's
      // own `||` concat operators would be eaten by a second pass
      ("WITH perdoc AS (" + noiseDocSql + ")\n" +
        """SELECT source,
          |  count(*) AS n_docs,
          |  CAST(sum(CASE WHEN n_repl + n_ctrl > 0 THEN 1 ELSE 0 END)
          |    AS BIGINT) AS noisy_docs,
          |  CAST(sum(n_repl) AS BIGINT) AS repl_chars,
          |  CAST(sum(n_ctrl) AS BIGINT) AS ctrl_chars,
          |  CAST(sum(n_repl + n_ctrl) AS DOUBLE)
          |    / CAST(sum(n_chars) AS DOUBLE) AS noise_rate,
          |  max(CAST(n_repl + n_ctrl AS DOUBLE) / n_chars) AS max_doc_ratio
          |FROM perdoc GROUP BY source ORDER BY source""".stripMargin),
    "q246_license_screen" ->
      """WITH planted AS (
        |  SELECT source,
        |    text
        |      || CASE WHEN doc_id % 23 = 0 THEN ' all rights reserved'
        |           ELSE '' END
        |      || CASE WHEN doc_id % 29 = 0
        |           THEN ' creative commons attribution license' ELSE '' END
        |      || CASE WHEN doc_id % 31 = 0
        |           THEN ' do not train on this content' ELSE '' END AS p
        |  FROM documents)
        |SELECT source,
        |  CASE WHEN contains(p, 'do not train') THEN 'optout'
        |       WHEN contains(p, 'all rights reserved') THEN 'arr'
        |       WHEN contains(p, 'creative commons') THEN 'cc-by'
        |       ELSE 'none' END AS license,
        |  count(*) AS n_docs, CAST(sum(len(p)) AS BIGINT) AS total_chars
        |FROM planted GROUP BY 1, 2 ORDER BY source, license""".stripMargin,
    "q254_cell_suppression" ->
      """WITH cells AS (
        |  SELECT lang, source, count(*) AS n_docs,
        |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY lang, source)
        |SELECT
        |  CASE WHEN n_docs < 5 THEN 'OTHER' ELSE lang END AS lang,
        |  CASE WHEN n_docs < 5 THEN 'OTHER' ELSE source END AS source,
        |  CAST(sum(n_docs) AS BIGINT) AS n_docs,
        |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
        |  CAST(count(*) AS BIGINT) AS n_cells
        |FROM cells GROUP BY 1, 2 ORDER BY lang, source""".stripMargin,
    "q247_weighted_reservoir" ->
      // the E-S key: u^(1/2^band) as an explicit sqrt chain (pow/ln
      // would be 1-ulp engine-dependent; sqrt is correctly rounded)
      """WITH keyed AS (
        |  SELECT doc_id, source, n_chars,
        |    CASE WHEN n_chars >= 418 THEN 3
        |         WHEN n_chars >= 295 THEN 2
        |         WHEN n_chars >= 176 THEN 1 ELSE 0 END AS band,
        |    CAST(CAST('0x' || substr(md5('eswr:' || CAST(doc_id AS VARCHAR)),
        |        1, 12) AS BIGINT) AS DOUBLE) / 281474976710656.0 AS u
        |  FROM documents)
        |SELECT doc_id, source, n_chars, band,
        |  CASE band WHEN 0 THEN u WHEN 1 THEN sqrt(u)
        |       WHEN 2 THEN sqrt(sqrt(u))
        |       ELSE sqrt(sqrt(sqrt(u))) END AS key
        |FROM keyed
        |ORDER BY key DESC, doc_id LIMIT 128""".stripMargin
  )
}
