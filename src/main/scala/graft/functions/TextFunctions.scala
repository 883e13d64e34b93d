package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text primitives for the LLM-training-data operators (dedup,
  * quality scoring, fingerprinting, language ID).
  *
  * Everything here is built from codegen'd `org.apache.spark.sql
  * .functions` (no UDFs), so whole-stage codegen spans stay wide and
  * the expressions are pushable/foldable by Catalyst.
  */
object TextFunctions {

  /** Whitespace tokenization (the documents table is single-spaced). */
  def tokens(text: Column): Column = split(text, " ")

  /** Distinct token set, lexicographically sorted (canonical form). */
  def tokenSet(text: Column): Column =
    array_sort(array_distinct(tokens(text)))

  /** BPE-style pre-tokenization regex (the GPT-2 pattern's shape,
    * restricted to the Java-regex/RE2 common subset): a token is an
    * optionally-space-prefixed letter run, digit run, or punctuation
    * run. Unlike whitespace split this counts "can't" as 3 pieces and
    * "3.14" as 3 — the granularity a byte-pair encoder's pre-splitter
    * feeds the merge table. */
  val BpePattern = " ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9 ]+"

  /** BPE-ish pre-tokens of `text` (codegen'd regexp_extract_all). */
  def bpeTokens(text: Column): Column =
    regexp_extract_all(text, lit(BpePattern), lit(0))

  /** Canonical content fingerprint: md5 of the raw text. */
  def contentFingerprint(text: Column): Column = md5(text)

  /** Order/multiplicity-insensitive fingerprint: md5 of the sorted
    * distinct token set — catches shuffled / repeated-word duplicates. */
  def tokenSetFingerprint(text: Column): Column =
    md5(array_join(tokenSet(text), " "))

  /** Word n-gram shingles (distinct). Docs shorter than n collapse to a
    * single whole-text shingle so the set is never empty. */
  def shingles(text: Column, n: Int): Column = {
    val toks = tokens(text)
    array_distinct(
      when(size(toks) >= n,
        transform(sequence(lit(1), size(toks) - (n - 1)),
          i => concat_ws(" ", slice(toks, i, lit(n)))))
      .otherwise(array(text)))
  }

  /** [[shingles]] + lexicographic sort in one custom-expression pass
    * ([[graft.plans.SortedShinglesExpr]]) — same value as
    * `array_sort(shingles(text, n))`, ~10x cheaper. Use for every
    * pairwise-similarity path (pairs with [[jaccardSorted]]). */
  def sortedShingles(text: Column, n: Int): Column =
    graft.plans.FastOps.sortedShingles(text, n)

  /** Exact Jaccard similarity of two pre-deduplicated string arrays.
    * Integer set sizes -> double division: bit-identical cross-engine. */
  def jaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") / size(array_union(a, b))

  /** Jaccard for pre-SORTED deduplicated arrays: one codegen'd merge
    * pass ([[graft.plans.SortedJaccardExpr]]) instead of two hash-set
    * builds per pair — and, unlike the composed
    * `intersect / (sizes - intersect)` form, the merge runs ONCE even
    * when Catalyst pushes a threshold filter on this value into a
    * join condition. |A∪B| = |A|+|B|-|A∩B|, so the value is identical
    * to [[jaccard]]. Sort once per row with array_sort before the
    * pair join. */
  def jaccardSorted(aSorted: Column, bSorted: Column): Column =
    graft.plans.FastOps.sortedJaccard(aSorted, bSorted)

  /** Heuristic quality score in [0,1]: type/token ratio (lexical
    * diversity), non-stopword mass, and a length prior. The exact
    * formula is mirrored in the DuckDB oracle — keep both in sync. */
  def qualityScore(nTokens: Column, ttr: Column, stopRatio: Column): Column =
    ttr * lit(0.5) + (lit(1.0) - stopRatio) * lit(0.3) +
      least(nTokens.cast("double") / 100.0, lit(1.0)) * lit(0.2)

  /** Stopword-overlap language ID. `profiles` maps a language code to
    * its marker-word list; the doc is labeled with the language whose
    * marker set overlaps its token set most (ties: lexicographically
    * smallest code; zero overlap: "und"). Pure array expressions — no
    * UDF, no shuffle; scales linearly with corpus size. */
  def languageId(text: Column, profiles: Map[String, Seq[String]]): Column = {
    val toks = array_distinct(tokens(text))
    // array of struct(score, lang); max by (score, then reversed lang)
    val scored = profiles.toSeq.sortBy(_._1).map { case (lang, words) =>
      struct(
        size(array_intersect(toks, array(words.map(lit): _*))).as("score"),
        lit(lang).as("lang"))
    }
    // left fold keeps the EARLIEST language on score ties
    val best = aggregate(array(scored.tail: _*), scored.head,
      (acc, x) => when(x.getField("score") > acc.getField("score"), x)
        .otherwise(acc))
    when(best.getField("score") > 0, best.getField("lang")).otherwise("und")
  }
}
