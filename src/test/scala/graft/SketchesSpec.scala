package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Describe, Sketches}

/** The sketch family's guarantees, pinned against exact computation
  * on the sf0.001 tables (rows-only queries q98/q100 have no SQL
  * oracle — these bounds are their correctness story). */
class SketchesSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SharedSession.spark

  private def t = Tables(spark, "/root/testdata/sf0.001")

  test("quantileSampleSketch is mergeable (sketch(A) ∪ sketch(B) == " +
      "sketch(A ∪ B)) and the card sits inside the DKW band of the " +
      "exact corpus quantiles") {
    val docs = t.documents
    val a = docs.filter(col("source") < "src3")
    val b = docs.filter(!(col("source") < "src3"))
    val merged = Sketches.quantileSampleSketch(a)
      .union(Sketches.quantileSampleSketch(b))
      .collect().map(_.toSeq).sortBy(_.toString)
    val whole = Sketches.quantileSampleSketch(docs)
      .collect().map(_.toSeq).sortBy(_.toString)
    assert(merged.toSeq == whole.toSeq)
    assert(whole.nonEmpty)

    val card = Sketches.sampledQuantileCard(docs).collect()
    assert(card.map(_.getDouble(0)).toSeq == Seq(0.25, 0.5, 0.75, 0.9))
    val m = card.head.getLong(2)
    assert(m == whole.length && card.head.getLong(3) == docs.count())
    // DKW at delta=0.05: the sample's p-quantile must lie between the
    // exact corpus quantiles at p ± eps (deterministic — the sample
    // is a pure hash slice, so this either always holds or never)
    val eps = math.sqrt(math.log(2.0 / 0.05) / (2.0 * m))
    val full = docs.select(col("n_chars").cast("double").as("v"))
    card.foreach { r =>
      val (p, v) = (r.getDouble(0), r.getDouble(1))
      val band = Describe.exactQuantilesMulti(full, Seq("v"),
        Seq(math.max(0.0, p - eps), math.min(1.0, p + eps)))("v")
      assert(band.head <= v && v <= band(1),
        s"p=$p sample quantile $v outside corpus band $band (eps=$eps)")
    }
  }

  test("CMS estimates never undercount, and overcount within 2N/w") {
    val events = t.events
    val n = events.count()
    val sketch = Sketches.cmsSketch(events, "user_id",
      Sketches.Depth, Sketches.Width)
    // total mass in every depth row equals N (sketch is a partition
    // of the input per depth)
    val mass = sketch.groupBy("depth").agg(sum("cnt").as("m"))
      .collect().map(_.getLong(1)).toSeq
    assert(mass.forall(_ == n), s"per-depth mass $mass != $n")
    val exact = events.groupBy(col("user_id").as("k"))
      .agg(count(lit(1)).as("exact"))
    val est = Sketches.cmsEstimate(sketch,
      exact.select("k"), Sketches.Depth, Sketches.Width)
    val joined = est.join(exact, "k")
      .select(col("k"), col("est"), col("exact")).collect()
    joined.foreach { r =>
      val (est, ex) = (r.getLong(1), r.getLong(2))
      assert(est >= ex, s"CMS undercounted key ${r.get(0)}: $est < $ex")
      // standard bound: P[err > 2N/w] <= (1/2)^depth per key; with
      // deterministic xxhash64 seeds this either holds or it doesn't —
      // no flake. 2N/w at sf0.001 ~ 2*6000/512.
      assert(est - ex <= 2 * n / Sketches.Width,
        s"CMS error ${est - ex} above 2N/w for key ${r.get(0)}")
    }
    assert(joined.nonEmpty)
  }

  test("CMS heavy hitters contain the true top keys") {
    val exactTop = t.events.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("user_id")).limit(5)
      .collect().map(_.getLong(0)).toSet
    val got = Sketches.cmsHeavyHitters(t)
      .collect().map(_.getLong(0)).toSet
    // one-sided error can only promote keys INTO the top list, never
    // evict a genuinely heavy one below a light one by more than the
    // error bound — the true top-5 must survive inside the top-20
    assert(exactTop.subsetOf(got), s"missing ${exactTop.diff(got)}")
  }

  test("approx quantile card: every (flag, p) row's GK pick earns " +
      "within_band, band edges are genuine order statistics that " +
      "bracket the exact quantile") {
    val rows = Sketches.approxQuantiles(t).collect()
    assert(rows.length == 12) // 3 flags x 4 probs
    rows.foreach { r =>
      assert(r.getBoolean(7), s"GK pick outside its rank band: $r")
      assert(r.getLong(3) <= r.getLong(4)) // lo_rank <= hi_rank
      assert(r.getDouble(5) <= r.getDouble(6)) // monotone band values
    }
    // the exact interpolated quantile must sit inside the band the
    // card publishes (the band is +-n/1e4 +-1 ranks around p*n)
    val ps = Seq(0.25, 0.5, 0.75, 0.9)
    val ex = Describe.groupedExactQuantiles(t.lineitem, "l_returnflag",
      Seq("l_extendedprice"), ps)
    rows.foreach { r =>
      val q = ex((r.getString(0), "l_extendedprice"))(
        ps.indexOf(r.getDouble(1)))
      assert(r.getDouble(5) <= q && q <= r.getDouble(6),
        s"${r.getString(0)} p=${r.getDouble(1)}: exact $q outside " +
          s"[${r.getDouble(5)}, ${r.getDouble(6)}]")
    }
  }

  test("exact heavy tokens: CMS screen is invisible, and it prunes") {
    import spark.implicits._
    val docs = t.documents
    // invisibility: the screened two-pass answer equals the plain
    // groupBy + HAVING answer exactly (superset prefilter)
    val screened = Sketches.exactHeavyTokens(docs).collect().toSeq
    val plain = Sketches.exactHeavyTokens(docs, screened = false)
      .collect().toSeq
    assert(screened == plain && screened.nonEmpty)

    // prune volume on a planted frame where the screen MUST fire:
    // one heavy token (1500 of 2000 occurrences) + 500 singletons;
    // a singleton's estimate is its own count plus collision mass —
    // far under the 10% threshold — so the screened stream carries
    // (almost) only the heavy token's occurrences
    val planted = ((1 to 500).map(i => s"rare$i") ++
      Seq(Seq.fill(1500)("heavy").mkString(" ")))
      .zipWithIndex.map { case (txt, i) => (i.toLong, txt) }
      .toDF("doc_id", "text")
    val total = 2000L
    val toks = planted.select(explode(split(col("text"), " ")).as("k"))
    val kept = Sketches.screenTokens(toks, toks.count(), share = 10)
      .count()
    assert(kept >= 1500 && kept < total / 2 + 1500,
      s"screen kept $kept of $total token rows")
    val hh = Sketches.exactHeavyTokens(planted, share = 10).collect()
    assert(hh.map(_.getString(0)).toSeq == Seq("heavy"))
    assert(hh.head.getLong(1) == 1500L)
  }

  test("within_band contract holds on every oracle corpus: a sketch " +
      "estimate outside its stated band is a CONTRACT VIOLATION, " +
      "reported here by name before it surfaces as an opaque " +
      "cross-engine hash mismatch") {
    // q100 (GK ±1-rank slack), q65 (HLL 3·rsd), q243 (MinHash
    // 2/√perms) hardcode `TRUE AS within_band` in their oracles — the
    // device that makes the sketch's guarantee driver-checked. The
    // failure mode is deterministic per corpus: on a corpus/SF change
    // that pushes an estimate out of band, CORRECTNESS would show a
    // generic hash mismatch. This spec fails FIRST, naming the query
    // and the violating rows.
    for (sf <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01");
         q <- Seq("q100_approx_quantiles", "q65_cardinality_sketch",
           "q243_source_overlap_sketch")) {
      val df = SparkEntry.queries(q)(spark, sf)
      val bad = df.filter(!col("within_band")).collect()
      assert(bad.isEmpty,
        s"CONTRACT VIOLATION ($q at $sf): sketch estimate outside its " +
          s"stated band — the oracle pins within_band=TRUE, so the " +
          s"driver hash check WILL fail; violating rows:\n" +
          bad.mkString("\n"))
    }
  }
}
