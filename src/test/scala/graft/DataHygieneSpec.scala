package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.DataHygiene

/** Structural/policy hygiene screens: hand-verified plant algebra,
  * gate semantics, and the Efraimidis–Spirakis weighted-sample
  * properties (exact k, determinism, band over-representation,
  * partitioning invariance). */
class DataHygieneSpec extends AnyFunSuite {
  private lazy val spark = SharedSession.spark
  import spark.implicits._

  private def docs =
    Tables(spark, "/root/testdata/sf0.001").documents

  test("homoglyphScreen: hand mixed-script tokens are caught with " +
      "binary-min examples, Latin-only and single-script tokens " +
      "pass; real-corpus flags equal the mod-37 plant counts") {
    // doc 37 takes the plant (2 mixed tokens + pure-Cyrillic "сайт"
    // which must NOT count — that token is why mixed_tokens below is
    // 3, not 4: MIXED-script means Latin AND confusable, not just
    // confusable); doc 1 carries a manual Cyrillic o; doc 2 is clean
    // Latin; doc 4 has Greek-only (clean) + Latin+Greek (mixed);
    // doc 5 is PURE Cyrillic and must not flag at all
    val hand = Seq(
      (37L, "quarterly report", "en", "s1"),
      (1L, "hello wоrld", "en", "s1"),
      (2L, "hello world", "en", "s2"),
      (4L, "αβγ alphaβ", "en", "s2"),
      (5L, "привет мир", "en", "s2"))
      .toDF("doc_id", "text", "lang", "source")
    val got = DataHygiene.homoglyphScreen(hand).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4), r.getString(5))).toMap
    assert(got("s1") == ((2L, 2L, 3L, 1.0, "lоgin")))
    assert(got("s2") == ((3L, 1L, 1L, 1.0 / 3.0, "alphaβ")))

    // real corpus: the clean word-salad text contributes nothing —
    // flagged docs are EXACTLY the mod-37 plants, example the
    // planted login token
    val planted = docs.filter(pmod(col("doc_id"), lit(37)) === 0)
      .groupBy(col("source")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    DataHygiene.homoglyphScreen(docs).collect().foreach { r =>
      assert(r.getLong(2) == planted.getOrElse(r.getString(0), 0L))
      assert(r.getLong(3) == 2L * r.getLong(2))
      if (r.getLong(2) > 0) assert(r.getString(5) == "lоgin")
    }
  }

  test("luhnScreen: valid PAN flags, checksum near-miss rejects, " +
      "short runs and words are not candidates; real-corpus counts " +
      "equal the mod-23/mod-29 plants") {
    // doc 23 takes the valid plant; doc 1 carries a manual AmEx test
    // PAN (371449635398431, Luhn-valid, 15 digits); doc 2 has a
    // near-miss + a 12-digit run (too short to be a candidate) + text
    val hand = Seq(
      (23L, "quarterly report", "en", "s1"),
      (1L, "pay 371449635398431 now", "en", "s1"),
      (2L, "ref 4111111111111112 id 123456789012 ok", "en", "s2"))
      .toDF("doc_id", "text", "lang", "source")
    val got = DataHygiene.luhnScreen(hand).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))).toMap
    assert(got("s1") == ((2L, 2L, 2L, 0L))) // both docs flag, 0 rejects
    assert(got("s2") == ((1L, 0L, 0L, 1L))) // near-miss rejected
    // real corpus: flagged docs == mod-23 plants; rejects == mod-29
    val docs23 = docs.filter(pmod(col("doc_id"), lit(23)) === 0)
      .groupBy(col("source")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val docs29 = docs.filter(pmod(col("doc_id"), lit(29)) === 0)
      .groupBy(col("source")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    DataHygiene.luhnScreen(docs).collect().foreach { r =>
      assert(r.getLong(2) == docs23.getOrElse(r.getString(0), 0L),
        s"${r.getString(0)} flagged")
      assert(r.getLong(3) == docs23.getOrElse(r.getString(0), 0L))
      assert(r.getLong(4) == docs29.getOrElse(r.getString(0), 0L),
        s"${r.getString(0)} rejects")
    }
  }

  test("paragraph gate: hand-corpus classes, plant placement, and " +
      "mass conservation on the real corpus") {
    def words(n: Int) = (1 to n).map(i => s"x$i").mkString(" ")
    // doc 0 (both plants, m=8): 8-word good para + 2-word short tail
    // + nav (bad) + copyright (short)
    // doc 1 (no plants, m=9): one 9-word good para
    val hand = Seq((0L, words(10), "en", "s"), (1L, words(9), "en", "s"))
      .toDF("doc_id", "text", "lang", "source")
    val rows = DataHygiene.paragraphGate(hand).collect()
    val d0 = rows.find(_.getLong(0) == 0L).get
    assert((d0.getLong(2), d0.getLong(3), d0.getLong(4), d0.getLong(5),
      d0.getLong(6)) == ((4L, 1L, 1L, 2L, 8L)))
    assert(d0.getDouble(7) == 8.0 / 20.0)
    val d1 = rows.find(_.getLong(0) == 1L).get
    assert((d1.getLong(2), d1.getLong(3), d1.getLong(4), d1.getLong(5),
      d1.getLong(6)) == ((1L, 1L, 0L, 0L, 9L)))
    assert(d1.getDouble(7) == 1.0)

    // real corpus: every 9th doc carries the nav block (bad >= 1),
    // docs off both plant cycles with long texts stay fully kept
    val real = DataHygiene.paragraphGate(docs).collect()
    real.foreach { r =>
      val id = r.getLong(0)
      if (id % 9 == 0) assert(r.getLong(4) >= 1, s"doc $id missing nav")
      assert(r.getLong(3) + r.getLong(4) + r.getLong(5) == r.getLong(2))
      assert(r.getDouble(7) >= 0.0 && r.getDouble(7) <= 1.0)
    }
    assert(real.exists(_.getLong(4) == 0), "gate must be live both ways")
    assert(real.exists(r => r.getLong(0) % 9 != 0 && r.getLong(0) % 12 != 0
      && r.getDouble(7) == 1.0))
  }

  /** The LITE classifier on the FULL derivation — the subset
    * comparison's twin: the same paragraphs, no smoothing. */
  private def paragraphGateLiteOnFull(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val st = DataHygiene.paraStats(DataHygiene.plantedParasFull())
    def cnt(cls: String) =
      size(filter(col("st"), s => s.getField("cls") === cls)).cast("long")
    def mass(cls: String) = aggregate(
      filter(col("st"), s => s.getField("cls") === cls),
      lit(0L), (acc, s) => acc + s.getField("n").cast("long"))
    docs.select(col("doc_id"), col("source"), st.as("st"))
      .select(col("doc_id"), col("source"),
        size(col("st")).cast("long").as("n_paras"),
        cnt("good").as("n_good"), cnt("bad").as("n_bad"),
        cnt("short").as("n_short"), mass("good").as("kept_words"))
      .orderBy(col("doc_id"))
  }

  test("full jusText tier (q351): hand-corpus smoothing, " +
      "promotion/demotion both live on the real corpus, and the " +
      "lite tier is a per-doc SUBSET (goods never demoted, smoothing " +
      "only resolves shorts)") {
    def words(n: Int) = (1 to n).map(i => s"x$i").mkString(" ")
    // doc 10 (m=8, %10 plant): paras = [good(8), PULL(4 short),
    // good(8), short tail(1)] → pull promoted (good/good), tail
    // demoted (good/edge)
    val hand = Seq((10L, words(17), "en", "s"))
      .toDF("doc_id", "text", "lang", "source")
    val r10 = DataHygiene.paragraphGateFull(hand).head()
    // (n_paras, n_good, n_bad, n_promoted, n_demoted, kept_words)
    assert((r10.getLong(2), r10.getLong(3), r10.getLong(4),
      r10.getLong(5), r10.getLong(6), r10.getLong(7)) ==
      ((4L, 3L, 1L, 1L, 1L, 20L)), r10.toString)
    assert(r10.getDouble(8) == 20.0 / 21.0)

    // real corpus: both smoothing branches live
    val full = DataHygiene.paragraphGateFull(docs).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(full.values.exists(_.getLong(5) > 0), "no promotion fired")
    assert(full.values.exists(_.getLong(6) > 0), "no demotion fired")
    // lite-tier subset on the SAME derivation: smoothing only
    // resolves shorts — goods and bads never flip, mass only grows
    val lite = paragraphGateLiteOnFull(docs).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(full.keySet == lite.keySet)
    full.foreach { case (id, f) =>
      val l = lite(id)
      assert(f.getLong(2) == l.getLong(2), s"doc $id n_paras drifted")
      // n_good_full = n_good_lite + promoted; n_bad_full = n_bad_lite
      // + demoted; promoted + demoted = n_short_lite
      assert(f.getLong(3) == l.getLong(3) + f.getLong(5),
        s"doc $id: a good paragraph flipped")
      assert(f.getLong(4) == l.getLong(4) + f.getLong(6),
        s"doc $id: a bad paragraph flipped")
      assert(f.getLong(5) + f.getLong(6) == l.getLong(5),
        s"doc $id: shorts not fully resolved")
      assert(f.getLong(7) >= l.getLong(6),
        s"doc $id: kept mass shrank below the lite tier")
    }
  }

  test("code-shape gate: line algebra matches a hand computation") {
    // doc_id 3: m = 5 + 3%7 = 8 words per line, no plants (3 not
    // divisible by 11 or 13)
    val row = DataHygiene.codeShapeGate(docs)
      .filter(col("doc_id") === 3).head()
    val text = docs.filter(col("doc_id") === 3)
      .select(col("text")).head().getString(0)
    val words = text.split(" ")
    val lines = words.grouped(8).map(_.mkString(" ")).toSeq
    assert(row.getAs[Int]("n_lines") == lines.size)
    assert(row.getAs[Int]("max_line_chars") == lines.map(_.length).max)
    assert(row.getAs[Double]("mean_line_chars") ==
      lines.map(_.length).sum.toDouble / lines.size)
    val joined = lines.mkString("\n")
    val alnum = joined.count(c => c.isLetterOrDigit)
    assert(row.getAs[Double]("alnum_frac") ==
      alnum.toDouble / joined.length)
  }

  test("code-shape gate: plants land on the right ids and trip the gate") {
    val g = DataHygiene.codeShapeGate(docs)
    // doc_id 0 divides both 11 and 13: separator rule AND blob line
    val d0 = g.filter(col("doc_id") === 0).head()
    assert(d0.getAs[Int]("max_line_chars") == 120)
    assert(!d0.getAs[Boolean]("keep"),
      "a 120-char =-rule line must fail the max<=100 gate")
    // doc_id 13: blob line only -> max is the 80-char token line
    val d13 = g.filter(col("doc_id") === 13).head()
    assert(d13.getAs[Int]("max_line_chars") >= 80)
    // unplanted docs: every line is <= 11 words of corpus vocabulary,
    // far under the gates -> keep unless mean is dragged by long m
    val unplanted = g.filter(col("doc_id") % 11 =!= 0 &&
      col("doc_id") % 13 =!= 0)
    assert(unplanted.filter(col("max_line_chars") > 100).count() == 0)
    // the gate is live in both directions at this SF
    assert(g.filter(col("keep")).count() > 0)
    assert(g.filter(!col("keep")).count() > 0)
  }

  test("encoding noise: planted counts are exact, clean sources clean") {
    val perSource = DataHygiene.encodingNoise(docs)
    // corpus-wide planted mass recomputed from the plant rule
    val ids = docs.select(col("doc_id")).as[Long].collect()
    val expRepl = ids.filter(_ % 17 == 0).map(id => 1 + (id % 5)).sum
    val expCtrl = ids.count(_ % 19 == 0) * 2L //  and 
    val agg = perSource.agg(sum(col("repl_chars")), sum(col("ctrl_chars")),
      sum(col("noisy_docs")), sum(col("n_docs"))).head()
    assert(agg.getLong(0) == expRepl)
    assert(agg.getLong(1) == expCtrl)
    val expNoisy = ids.count(id => id % 17 == 0 || id % 19 == 0)
    assert(agg.getLong(2) == expNoisy)
    assert(agg.getLong(3) == ids.length)
    // rates bounded and max ratio positive where noise exists
    val bad = perSource.filter(col("noise_rate") < 0 ||
      col("noise_rate") > 1 || col("max_doc_ratio") > 1).count()
    assert(bad == 0)
  }

  test("license screen: opt-out dominates, classes partition the corpus") {
    val mix = DataHygiene.licenseScreen(docs)
    val total = mix.agg(sum(col("n_docs"))).head().getLong(0)
    assert(total == docs.count())
    // doc_id 0 divides 23, 29 AND 31 -> classified optout (priority)
    val d0src = docs.filter(col("doc_id") === 0)
      .select(col("source")).head().getString(0)
    val ids = docs.select(col("doc_id"), col("source"))
      .as[(Long, String)].collect()
    def expected(id: Long): String =
      if (id % 31 == 0) "optout"
      else if (id % 23 == 0) "arr"
      else if (id % 29 == 0) "cc-by"
      else "none"
    val expMix = ids.groupBy { case (id, src) => (src, expected(id)) }
      .map { case (k, v) => k -> v.size.toLong }
    val got = mix.select(col("source"), col("license"), col("n_docs"))
      .as[(String, String, Long)].collect()
      .map { case (s, l, n) => (s, l) -> n }.toMap
    assert(got == expMix, s"license mix mismatch for source of doc 0=$d0src")
  }

  test("weighted reservoir: exact k, deterministic, band-boosted") {
    val s1 = DataHygiene.weightedSampleNoReplacement(docs, k = 100)
    assert(s1.count() == 100)
    // determinism: two runs, identical rows in identical order
    val s2 = DataHygiene.weightedSampleNoReplacement(docs, k = 100)
    assert(s1.collect().toSeq == s2.collect().toSeq)
    // band-3 docs (w=8) must be over-represented relative to their
    // corpus share; band-0 (w=1) under-represented. With 500 docs and
    // k=100, the expected inclusion rates differ by ~8x — a sign
    // check is >5 sigma.
    val corpus = docs.select(
      when(col("n_chars") >= 418, 3).when(col("n_chars") >= 295, 2)
        .when(col("n_chars") >= 176, 1).otherwise(0).as("band"))
      .groupBy("band").count().as[(Int, Long)].collect().toMap
    val sampled = s1.groupBy("band").count().as[(Int, Long)].collect().toMap
    val rate3 = sampled.getOrElse(3, 0L).toDouble / corpus(3)
    val rate0 = sampled.getOrElse(0, 0L).toDouble / corpus(0)
    assert(rate3 > rate0,
      s"w=8 band rate $rate3 must exceed w=1 band rate $rate0")
    // without-replacement: no duplicate doc_ids
    assert(s1.select("doc_id").distinct().count() == 100)
  }

  test("weighted reservoir: partitioning-invariant (TakeOrdered merge)") {
    val base = DataHygiene.weightedSampleNoReplacement(docs, k = 50)
      .collect().toSeq
    val repart = DataHygiene.weightedSampleNoReplacement(
      docs.repartition(7, col("source")), k = 50).collect().toSeq
    assert(base == repart)
    // plan shape: a TakeOrderedAndProject, not a global Sort+Limit
    val plan = DataHygiene.weightedSampleNoReplacement(docs, k = 50)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("sourceHealthCard agrees with its component screens") {
    val card = DataHygiene.sourceHealthCard(docs).collect()
      .map(r => r.getString(0) -> r).toMap
    // noisy_docs column-for-column equals q245's rollup
    val noise = DataHygiene.encodingNoise(docs).collect()
      .map(r => r.getString(0) -> r.getAs[Long]("noisy_docs")).toMap
    card.foreach { case (s, r) =>
      assert(r.getAs[Long]("noisy_docs") == noise(s), s)
    }
    // gate_fail_docs equals the q244 keep=false rollup
    val gateFail = DataHygiene.codeShapeGate(docs)
      .filter(!col("keep")).groupBy(col("source")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    card.foreach { case (s, r) =>
      assert(r.getAs[Long]("gate_fail_docs") == gateFail.getOrElse(s, 0L), s)
    }
    // optout incidence equals the plant rule
    val optByS = docs.filter(col("doc_id") % 31 === 0)
      .groupBy(col("source")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    card.foreach { case (s, r) =>
      assert(r.getAs[Long]("optout_docs") == optByS.getOrElse(s, 0L), s)
    }
    // counts bounded by docs; rates are count/n_docs exactly
    card.values.foreach { r =>
      val n = r.getAs[Long]("n_docs")
      Seq("dup_drop_docs", "noisy_docs", "optout_docs", "gate_fail_docs")
        .foreach(c => assert(r.getAs[Long](c) <= n))
      assert(r.getAs[Double]("noise_rate") ==
        r.getAs[Long]("noisy_docs").toDouble / n)
    }
    // dup drops across sources equal total non-canonical docs
    val totalDup = card.values.map(_.getAs[Long]("dup_drop_docs")).sum
    val expected = docs.count() -
      docs.select(md5(col("text"))).distinct().count()
    assert(totalDup == expected)
  }

  test("evalWindows: fixed-width deterministic slices at valid offsets") {
    import graft.operators.TextAnalysis
    val win = 32
    val got = TextAnalysis.evalWindows(docs, win).collect()
    val texts = docs.select(col("doc_id"), col("text"))
      .as[(Long, String)].collect().toMap
    // exactly the >= win docs, no others
    assert(got.length == texts.count(_._2.split(" ").length >= win))
    got.foreach { r =>
      val (id, n, off, w) = (r.getLong(0), r.getInt(2), r.getInt(3),
        r.getString(4))
      val toks = texts(id).split(" ")
      assert(n == toks.length)
      assert(off >= 0 && off <= n - win, s"doc $id offset $off")
      // the window IS the slice at the hash offset
      assert(w == toks.slice(off, off + win).mkString(" "), s"doc $id")
    }
    // determinism
    val again = TextAnalysis.evalWindows(docs, win).collect()
    assert(again.map(_.toSeq).toSeq == got.map(_.toSeq).toSeq)
  }

  test("suppressSmallCells: small cells merge to OTHER, totals conserve") {
    val df = Seq.tabulate(11) { i =>
      // lang en/src A: 6 docs; en/B: 2; de/C: 3
      val (l, s) = if (i < 6) ("en", "A") else if (i < 8) ("en", "B")
        else ("de", "C")
      (i.toLong, "w x y z", l, s)
    }.toDF("doc_id", "text", "lang", "source")
    val got = DataHygiene.suppressSmallCells(df, k = 5)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSeq
    assert(got == Seq(("OTHER", "OTHER", 5L, 20L, 2L),
      ("en", "A", 6L, 24L, 1L)))
    // on the corpus: totals conserve and released cells respect k
    val rel = DataHygiene.suppressSmallCells(docs).collect()
    assert(rel.map(_.getLong(2)).sum == docs.count())
    rel.filter(_.getString(0) != "OTHER").foreach { r =>
      assert(r.getLong(2) >= 5, s"${r.getString(0)}/${r.getString(1)}")
    }
  }

  test("hygiene screens are zero-shuffle projections / bounded rollups") {
    // q244 per-doc stats: no Exchange before the final presentation
    // sort (the only exchange allowed is the orderBy itself)
    val p244 = DataHygiene.codeShapeGate(docs)
      .queryExecution.executedPlan.toString
    val exchanges = "Exchange".r.findAllIn(p244).length
    assert(exchanges <= 1, s"per-doc projection must not shuffle:\n$p244")
    // q245/q246 rollups: one partial-agg shuffle + presentation sort
    val p245 = DataHygiene.encodingNoise(docs)
      .queryExecution.executedPlan.toString
    assert("Exchange".r.findAllIn(p245).length <= 2, p245)
    assert(p245.contains("partial"), s"rollup must map-side combine:\n$p245")
  }

  test("scriptMixCard: hand corpus counts every class exactly and " +
      "the planted scripts land on the right ids") {
    // doc 0: %7 plant (Cyrillic tail); doc 1: pure ASCII with digits;
    // doc 11: %11 plant (CJK tail — and NOT %7, precedence unexercised)
    val d = Seq(
      (0L, "ab 12", "en", "s0", 5L),
      (1L, "xyz 9", "en", "s1", 5L),
      (11L, "ok", "en", "s1", 2L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val got = DataHygiene.scriptMixCard(d).collect()
      .map(r => r.getString(0) -> r).toMap
    // s0 doc 0: "ab 12" + " привет мир" = 16 chars:
    // lat 2, dig 2, spaces 3, cyr 9, cjk 0, other 0
    val s0 = got("s0")
    assert((s0.getLong(1), s0.getLong(2), s0.getLong(3), s0.getLong(4),
      s0.getLong(5), s0.getLong(6), s0.getLong(7), s0.getLong(8)) ==
      ((1L, 16L, 2L, 2L, 3L, 9L, 0L, 0L)))
    assert(s0.getDouble(9) == 9.0 / 16.0)
    // s1 = doc 1 ("xyz 9", all ASCII) + doc 11 ("ok" + " 你好世界"):
    // chars 5 + 7 = 12; lat 3+2; dig 1; spc 1+1; cjk 4
    val s1 = got("s1")
    assert((s1.getLong(1), s1.getLong(2), s1.getLong(3), s1.getLong(4),
      s1.getLong(5), s1.getLong(6), s1.getLong(7), s1.getLong(8)) ==
      ((2L, 12L, 5L, 1L, 2L, 0L, 4L, 0L)))

    // real corpus: classes partition the char mass in every source
    DataHygiene.scriptMixCard(docs).collect().foreach { r =>
      assert(r.getLong(3) + r.getLong(4) + r.getLong(5) + r.getLong(6) +
        r.getLong(7) + r.getLong(8) == r.getLong(2), r)
    }
  }

  test("compressionRatio: repetitive text compresses into the spam " +
      "band, random hex stays near 1, natural text keeps; zero " +
      "data-sized shuffle") {
    val rnd = new scala.util.Random(7)
    val randomHex = Seq.fill(2000)(rnd.nextInt(16).toHexString).mkString
    val d = Seq(
      (0L, "spam spam " * 300, "en", "s0", 3000L),
      (1L, randomHex, "en", "s0", 2000L),
      (2L, "the quick brown fox jumps over the lazy dog and then " +
        "wanders through a long winding meadow full of tall grass " +
        "while birds circle overhead in the late afternoon light",
        "en", "s0", 160L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val got = DataHygiene.compressionRatio(d).collect()
      .map(r => r.getLong(0) ->
        (r.getDouble(4), r.getBoolean(5))).toMap
    assert(got(0L)._1 < 0.2 && !got(0L)._2, s"spam ${got(0L)}")
    assert(got(1L)._1 > 0.5, s"random ${got(1L)}")
    assert(got(2L)._1 > 0.2 && got(2L)._1 <= 0.95 && got(2L)._2,
      s"natural ${got(2L)}")

    // determinism + real corpus: ratio defined and positive everywhere
    val real = DataHygiene.compressionRatio(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(3)).sortBy(_._1)
    val again = DataHygiene.compressionRatio(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(3)).sortBy(_._1)
    assert(real.toSeq == again.toSeq)
    // zero-shuffle projection (registration adds the presentation sort)
    val plan = DataHygiene.compressionRatio(docs)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"), plan)
  }
}
