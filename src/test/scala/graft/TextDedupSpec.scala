package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.TextFunctions._
import graft.operators.{Dedup, TextAnalysis}

class TextDedupSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SharedSession.spark
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  test("containmentPairs: a quote (short doc pasted in a long one) is " +
      "caught with the quote label; near-dups get near_dup; the " +
      "jaccard path provably misses the quote") {
    val longText = (1 to 40).map(i => s"w$i").mkString(" ")
    val quote = (5 to 12).map(i => s"w$i").mkString(" ")   // inside long
    val nd1 = (1 to 20).map(i => s"v$i").mkString(" ")
    val nd2 = ((1 to 19).map(i => s"v$i") :+ "changed").mkString(" ")
    val docs = Seq(
      (1L, longText, "en", "s", 0L),
      (2L, quote, "en", "s", 0L),
      (3L, nd1, "en", "s", 0L),
      (4L, nd2, "en", "s", 0L),
      (5L, (100 to 130).map(i => s"z$i").mkString(" "), "en", "s", 0L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val got = TextAnalysis.containmentPairs(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getDouble(5), r.getDouble(6), r.getDouble(7),
          r.getString(8)))).toMap
    // the quote: every shingle of doc 2 occurs in doc 1
    val (jac, _, c2in1, rel) = got((1L, 2L))
    assert(c2in1 == 1.0, s"quote containment $c2in1")
    assert(jac < 0.5 && rel == "quote", s"quote row ($jac, $rel)")
    // the near-dup pair is labeled near_dup
    assert(got((3L, 4L))._4 == "near_dup")
    // the unrelated doc pairs with nothing
    assert(!got.keySet.exists { case (a, b) => a == 5L || b == 5L })
    // and jaccardPairs' size filter indeed can never see the quote
    val jp = TextAnalysis.jaccardPairs(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!jp.contains((1L, 2L)) && jp.contains((3L, 4L)))
  }

  test("containmentPairsWinnowed: catches the quote the exact tier " +
      "catches AND the cross-source quote the block tier never pairs") {
    val longText = (1 to 40).map(i => s"w$i").mkString(" ")
    val quote = (5 to 14).map(i => s"w$i").mkString(" ")  // 10 tokens
    val docs = Seq(
      (1L, longText, "en", "s", 0L),
      (2L, quote, "en", "s", 0L),
      // the same passage quoted from ANOTHER source: invisible to the
      // (lang, source)-blocked exact tier by construction
      (3L, quote, "en", "other", 0L),
      (4L, (100 to 130).map(i => s"z$i").mkString(" "), "en", "s", 0L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val win = TextAnalysis.containmentPairsWinnowed(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getString(9)).toMap
    assert(win.contains((1L, 2L)) && win((1L, 2L)) == "quote")
    assert(win.contains((1L, 3L)) && win((1L, 3L)) == "quote",
      s"cross-source quote missed: ${win.keySet}")
    assert(!win.keySet.exists { case (a, b) => a == 4L || b == 4L })
    val exact = TextAnalysis.containmentPairs(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.contains((1L, 2L)) && !exact.contains((1L, 3L)))
  }

  test("screenAgreement: hand-corpus cells are exact; every pair's " +
      "cells sum to the doc count; disjoint screens score " +
      "drop_jaccard 0") {
    // doc 1 passes everything (21 words, stopword, healthy ttr);
    // doc 2 fails gopher only (too short); doc 3 passes gopher but is
    // blocklist-flagged ('spark'); tiny vocab => oov keeps all
    val clean = "the quick brown foxes moved softly over damp grass " +
      "while small birds called from leafy trees before early light faded"
    val docs = Seq(
      (1L, clean, "en", "s", 0L),
      (2L, "the cat sat", "en", "s", 0L),
      (3L, clean.replace("light", "spark"), "en", "s", 0L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val got = TextAnalysis.screenAgreement(docs).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    assert(got.keySet == Set(("blocklist", "gopher"),
      ("blocklist", "oov"), ("gopher", "oov")))
    // blocklist keeps {1,2}, gopher keeps {1,3}, oov keeps all
    assert(got(("blocklist", "gopher")) == ((1L, 1L, 1L, 0L)))
    assert(got(("blocklist", "oov"))    == ((2L, 0L, 1L, 0L)))
    assert(got(("gopher", "oov"))       == ((2L, 0L, 1L, 0L)))
    // disjoint drop sets -> drop_jaccard 0 for (blocklist, gopher)
    val bg = TextAnalysis.screenAgreement(docs).collect()
      .find(r => r.getString(0) == "blocklist" &&
        r.getString(1) == "gopher").get
    assert(bg.getDouble(6) == 0.0)

    // real corpus: cells of every pair partition the doc count
    val n = Tables(spark, sf).documents.count()
    TextAnalysis.screenAgreement(Tables(spark, sf).documents).collect()
      .foreach { r =>
        assert(r.getLong(2) + r.getLong(3) + r.getLong(4) +
          r.getLong(5) == n, s"cells don't partition: $r")
      }
  }

  test("winnowingPairs: a shared passage >= w+k-1 tokens ALWAYS shares " +
      "a fingerprint wherever it sits; unrelated docs never pair; the " +
      "df cap silences boilerplate") {
    // the winnowing guarantee: k=4, w=4 → any shared run of >= 7
    // tokens yields a common selected fingerprint. Plant the same
    // 8-token passage at different offsets inside different contexts.
    val passage = (1 to 8).map(i => s"p$i").mkString(" ")
    def doc(id: Long, prefix: Int, suffix: Int) =
      (id, ((1 to prefix).map(i => s"a${id}x$i") ++ Seq(passage) ++
        (1 to suffix).map(i => s"b${id}y$i")).mkString(" "),
        "en", "s", 0L)
    val docs = Seq(
      doc(1L, 3, 9), doc(2L, 11, 2),
      (3L, (1 to 30).map(i => s"q$i").mkString(" "), "en", "s", 0L),
      (4L, "tiny doc", "en", "s", 0L),
      (5L, "tiny doc", "en", "s", 0L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val got = Dedup.winnowingPairs(docs, minShared = 1).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got.contains((1L, 2L)),
      s"planted passage pair missing from ${got.keySet}")
    assert(got((1L, 2L)) >= 1L)
    // short docs (< k tokens) screen via the whole-text fallback
    assert(got.contains((4L, 5L)))
    // the unrelated doc pairs with nothing
    assert(!got.keySet.exists { case (a, b) => a == 3L || b == 3L })

    // density: selected fingerprints are far fewer than k-gram count
    // but at least one per doc
    val many = Seq((9L, (1 to 200).map(i => s"t$i").mkString(" "),
      "en", "s", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val paired = Dedup.winnowingPairs(many.union(docs), minShared = 1)
    assert(paired.collect().map(r =>
      (r.getLong(0), r.getLong(1))).toSet == got.keySet)

    // df cap: 25 docs sharing the same passage exceed maxDf=20 →
    // the boilerplate fingerprint is dropped and nothing pairs
    val boiler = (10L until 35L).map(i =>
      (i, s"u${i}head " + passage + s" u${i}tail", "en", "s", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    assert(Dedup.winnowingPairs(boiler, minShared = 1).count() == 0L)
    // ...and the same corpus passes once the cap accommodates it
    assert(Dedup.winnowingPairs(boiler, minShared = 1, maxDf = 30)
      .count() > 0L)
  }

  test("gopherRules: each rule fires alone, clean doc keeps") {
    val docs = Seq(
      // 21 distinct words, mean len 102/21 ~ 4.86, has 'the', ttr 1.0
      (1L, "the quick brown foxes moved softly over damp grass while " +
        "small birds called from leafy trees before early light faded away"),
      (2L, "the cat sat"),                                   // too_short
      (3L, "the " + (1 to 25).map(i => f"word$i%04d").mkString(" ")), // word_len (mean>5)
      (4L, (1 to 25).map(i => "cats" + (i % 7)).mkString(" ")), // no_stopword + repetitive
      (5L, "the " + Seq.fill(24)("right").mkString(" "))     // repetitive
    ).toDF("doc_id", "text")
    val got = TextAnalysis.gopherRules(docs)
      .select(col("doc_id"), col("keep"), col("drop_reasons"))
      .as[(Long, Boolean, String)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(got(1L) == (true, ""))
    assert(got(2L)._2.contains("too_short"))
    assert(got(3L)._2 == "word_len")
    assert(got(4L)._2.contains("no_stopword") &&
      got(4L)._2.contains("repetitive"))
    assert(got(5L)._2 == "repetitive")
    assert(!got(2L)._1 && !got(3L)._1 && !got(4L)._1 && !got(5L)._1)
  }

  test("templatePrefixes groups by first-k tokens, singletons dropped") {
    val docs = Seq(
      (10L, "dear customer your order has shipped today"),
      (11L, "dear customer your order has been delayed"),
      (12L, "dear customer your order has nothing else"),
      (13L, "completely unique document body here")
    ).toDF("doc_id", "text")
    val got = TextAnalysis.templatePrefixes(docs, k = 5, minDocs = 2)
      .as[(String, Long, Long)].collect().toSeq
    assert(got == Seq(("dear customer your order has", 3L, 10L)))
  }

  test("blocklistFilter reports matches in blocklist order") {
    val docs = Seq(
      (1L, "clean words only here"),
      (2L, "dup spark something"),   // both, reported blocklist-order
      (3L, "vector stuff")
    ).toDF("doc_id", "text")
    val got = TextAnalysis.blocklistFilter(docs)
      .as[(Long, String, Boolean)].collect().toSeq
    assert(got == Seq((1L, "", false), (2L, "spark,dup", true),
      (3L, "vector", true)))
  }

  test("oovRate: tokens outside the top-v vocab counted exactly") {
    // corpus freqs: aa x4, bb x3, cc x2, dd x1 -> v=2 vocab {aa, bb}
    val docs = Seq(
      (1L, "aa aa bb cc"),   // 1 oov of 4
      (2L, "aa aa bb bb cc dd")  // 2 oov of 6
    ).toDF("doc_id", "text")
    val got = TextAnalysis.oovRate(docs, v = 2)
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(got == Seq((1L, 4L, 1L, 0.25), (2L, 6L, 2L, 2.0 / 6.0)))
  }

  test("jaccard: exact on known sets") {
    val df = Seq((Seq("a", "b", "c"), Seq("b", "c", "d"))).toDF("x", "y")
    val j = df.select(jaccard(col("x"), col("y"))).head.getDouble(0)
    assert(j == 0.5) // |{b,c}| / |{a,b,c,d}|
  }

  test("shingles: 3-grams of a 5-token doc; short docs collapse") {
    val df = Seq("a b c d e", "a b").toDF("text")
    val got = df.select(shingles(col("text"), 3)).as[Seq[String]].collect()
    assert(got(0) == Seq("a b c", "b c d", "c d e"))
    assert(got(1) == Seq("a b"))
  }

  test("languageId: profile overlap, tie goes to earliest, none -> und") {
    val profiles = Map("en" -> Seq("the", "cat"), "es" -> Seq("el", "que"))
    val df = Seq("the cat sat", "el que canta", "zzz qqq", "the el")
      .toDF("text")
    val got = df.select(languageId(col("text"), profiles)).as[String].collect()
    assert(got.toSeq == Seq("en", "es", "und", "en"))
  }

  test("minhash LSH finds every exact-duplicate pair (j=1 recall is 1)") {
    val docs = Tables(spark, sf).documents
      .union(Tables(spark, sf).documents.limit(5)
        .withColumn("doc_id", col("doc_id") + 1000000))
    val exactPairs = docs.alias("a").join(docs.alias("b"),
        col("a.text") === col("b.text") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exactPairs.size >= 5)
    val found = Dedup.minhashDedup(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exactPairs.subsetOf(found),
      s"missing: ${exactPairs.diff(found)}")
    // and every reported pair really clears the threshold
    assert(Dedup.minhashDedup(docs).filter(col("jaccard") < 0.5).isEmpty)
  }

  test("simhash: identical texts collide at hamming 0") {
    val docs = Tables(spark, sf).documents.limit(20)
      .union(Tables(spark, sf).documents.limit(3)
        .withColumn("doc_id", col("doc_id") + 1000000))
    val pairs = Dedup.simhashDedup(docs).filter(col("hamming") === 0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(Set((0L, 1000000L), (1L, 1000001L), (2L, 1000002L))
      .subsetOf(pairs))
  }

  test("prefix-filter jaccard: LOSSLESS vs brute-force all-pairs, " +
      "prefix candidates genuinely prune, and the blocked q26 tier " +
      "is a subset") {
    val docsDf = Tables(spark, sf).documents
    val got = TextAnalysis.prefixFilterJaccardPairs(docsDf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // brute force over the same shingle sets — the prefix lemma's
    // losslessness is the whole claim, so prove it, don't trust it
    val sh = docsDf.select(col("doc_id"),
      graft.functions.TextFunctions.sortedShingles(col("text"), 3)
        .as("sh")).collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1).toSet).toMap
    val ids = sh.keys.toSeq.sorted
    val brute = (for {
      a <- ids; b <- ids if a < b
      inter = (sh(a) & sh(b)).size
      j = inter.toDouble / (sh(a).size + sh(b).size - inter)
      if j >= 0.5
    } yield (a, b, j)).toSet
    assert(got == brute, s"got ${got.size} brute ${brute.size}")
    assert(brute.nonEmpty) // the corpus genuinely has near-dups
    // the (lang, source)-blocked q26 finds only within-block pairs —
    // a subset of the unblocked result
    val blocked = TextAnalysis.jaccardPairs(docsDf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(blocked.subsetOf(got))
  }

  test("portable simhash: identical texts at hamming 0, blocked tier " +
      "== brute-force radius pairs, xxhash tier agrees on exact dups") {
    val base = (1 to 40).map(i => f"w$i%02d").mkString(" ")
    val docs = Seq(
      (1L, base, "en", "s"),
      (2L, base, "en", "s"), // identical -> hamming 0
      (3L, base.replace("w05", "edit"), "en", "s"), // light edit
      (9L, "totally different vocabulary entirely here now", "en", "s"))
      .toDF("doc_id", "text", "lang", "source")
    val got = Dedup.portableSimhashPairs(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got((1L, 2L)) == 0L)
    // pigeonhole completeness: the chunk-blocked tier returns EXACTLY
    // the brute-force radius-3 pairs (one token edit can flip many
    // vote-margin bits, so membership of (1,3) is whatever the
    // signatures say — the contract is blocked == brute, not a naive
    // edit bound)
    val sigs = Dedup.portableSimhashes(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val ids = sigs.keys.toSeq.sorted
    val brute = (for {
      a <- ids; b <- ids if a < b
      h = java.lang.Long.bitCount(sigs(a) ^ sigs(b)) if h <= 3
    } yield (a, b) -> h.toLong).toMap
    assert(got == brute)
    // the portable family changes the BITS, not the semantics: on
    // identical-doc pairs the production xxhash tier finds the same
    // zero-distance pairs
    val xx = Dedup.simhashDedup(docs).filter(col("hamming") === 0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(xx.contains((1L, 2L)))
  }

  test("portable minhash pairs: identical docs always pair; every " +
      "emitted pair carries the exact brute-force jaccard; the tier " +
      "is a subset of the unblocked exact pair set") {
    val base = (1 to 40).map(i => f"w$i%02d").mkString(" ")
    val docs = Seq(
      (1L, base, "en", "s"),
      (2L, base, "en", "s"), // identical -> identical signatures
      (3L, base.replace("w05", "edit"), "en", "s"), // j ~ 0.93
      (9L, "totally different vocabulary entirely here now", "en", "s"))
      .toDF("doc_id", "text", "lang", "source")
    val got = Dedup.portableMinhashPairs(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // identical docs share every band bucket: recall exactly 1 there
    assert(got((1L, 2L)) == 1.0)
    // brute-force exact jaccard over all pairs
    val sh = docs.select(col("doc_id"), sortedShingles(col("text"), 3)
        .as("sh")).collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1).toSet).toMap
    val ids = sh.keys.toSeq.sorted
    val brute = (for {
      a <- ids; b <- ids if a < b
      inter = (sh(a) & sh(b)).size
      j = inter.toDouble / (sh(a).size + sh(b).size - inter)
      if j >= 0.5
    } yield (a, b) -> j).toMap
    // subset with IDENTICAL jaccard values (verification is exact)
    got.foreach { case (k, j) =>
      assert(brute.get(k).contains(j), s"non-exact pair $k")
    }
    // the near-identical pair (j ~ 0.93) survives banding — the
    // 1-(1-j^4)^4 s-curve sits at ~0.99 there, and the md5 family is
    // deterministic, so this is a fixed fact of the corpus, not luck
    assert(got.contains((1L, 3L)) && got.contains((2L, 3L)),
      s"high-jaccard pairs lost by banding: ${got.keySet}")
    // agreement with the production xxhash tier on the same corpus
    val xx = Dedup.minhashDedup(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(xx.keySet == got.keySet,
      s"portable vs xxhash tier disagree: ${xx.keySet} vs ${got.keySet}")
    xx.foreach { case (k, j) => assert(got(k) == j) }
  }

  test("portableIncrementalNearDups: planted near-copy in the " +
      "increment pairs with its base twin; NO base×base or inc×inc " +
      "pair is ever emitted; equals the batch tier's inc×base " +
      "restriction on the real corpus") {
    // ids pick their side by doc_id % 10: 3/13 are increment, the
    // rest base. A base doc (20) with a planted near-copy in the
    // increment (3) must pair; the identical base pair (20, 30) and
    // identical inc pair (3, 13) must NOT appear.
    val base = (1 to 40).map(i => f"w$i%02d").mkString(" ")
    val docs = Seq(
      (3L, base, "en", "s"), // inc: identical to base 20/30
      (13L, base, "en", "s"), // inc: identical to 3 — inc×inc, dropped
      (20L, base, "en", "s"), // base twin
      (30L, base, "en", "s"), // base twin — base×base, dropped
      (21L, base.replace("w05", "edit"), "en", "s"), // base, j≈0.93 to 3
      (9L, "totally different vocabulary entirely here now", "en", "s"))
      .toDF("doc_id", "text", "lang", "source")
    val got = Dedup.portableIncrementalNearDups(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // the increment docs pair against EVERY base twin, exactly
    assert(got.keySet == Set((3L, 20L), (3L, 21L), (3L, 30L),
      (13L, 20L), (13L, 21L), (13L, 30L)), s"got ${got.keySet}")
    assert(got((3L, 20L)) == 1.0 && got((13L, 30L)) == 1.0)
    // every jaccard is the exact brute-force value
    val sh = docs.select(col("doc_id"), sortedShingles(col("text"), 3)
        .as("sh")).collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1).toSet).toMap
    got.foreach { case ((a, b), j) =>
      val inter = (sh(a) & sh(b)).size
      assert(j == inter.toDouble / (sh(a).size + sh(b).size - inter))
    }
    // real corpus: equals the batch portable tier restricted to
    // pairs that straddle the increment boundary (caps inactive on
    // this corpus, so the two candidate spaces coincide there)
    val docsDf = Tables(spark, sf).documents
    val inc = Dedup.portableIncrementalNearDups(docsDf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val batch = Dedup.portableMinhashPairs(docsDf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val straddle = batch.flatMap { case ((a, b), j) =>
      (a % 10 == 3, b % 10 == 3) match {
        case (true, false) => Some((a, b) -> j)
        case (false, true) => Some((b, a) -> j)
        case _ => None
      }
    }
    assert(inc == straddle,
      s"incremental != batch-restriction: ${inc.keySet} vs " +
        s"${straddle.keySet}")
  }

  test("portable minhash pairs on the corpus: subset of the exact " +
      "unblocked jaccard pair set with identical values") {
    val docsDf = Tables(spark, sf).documents
    val got = Dedup.portableMinhashPairs(docsDf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val sh = docsDf.select(col("doc_id"), sortedShingles(col("text"), 3)
        .as("sh")).collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1).toSet).toMap
    got.foreach { case ((a, b), j) =>
      val inter = (sh(a) & sh(b)).size
      val exact = inter.toDouble / (sh(a).size + sh(b).size - inter)
      assert(j == exact && j >= 0.5, s"pair ($a,$b): $j vs $exact")
    }
  }

  test("q300/q312 bucket-cap headroom on the oracle corpora: no LSH " +
      "bucket approaches maxBucket, so the Spark-side cap provably " +
      "never drops a pair the SQL-side keeps") {
    // the q300 oracle replays the chunk join WITHOUT a capBuckets
    // equivalent (q312's oracle mirrors it in HAVING) — sound only
    // while no bucket exceeds the cap on corpora the driver checks.
    // This pins that assumption with a named failure instead of an
    // opaque cross-engine hash mismatch.
    for (d <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val docs = Tables(spark, d).documents
      val chunkMax = Dedup.portableSimhashes(docs)
        .select(col("doc_id"), explode(array((0 until 4).map { c =>
          struct(lit(c).as("c"),
            shiftright(col("simhash"), c * 16)
              .bitwiseAND(0xFFFF).as("ck"))
        }: _*)).as("b"))
        .groupBy(col("b.c"), col("b.ck")).count()
        .agg(max(col("count"))).head.getLong(0)
      assert(chunkMax <= 2000,
        s"CONTRACT HAZARD ($d): a simhash chunk bucket holds $chunkMax " +
          "docs — approaching capBuckets' 10000, where the q300 Spark " +
          "side would drop pairs its oracle keeps. Mirror the cap in " +
          "portableSimhashSql (the q312 HAVING device) before this " +
          "corpus ships.")
    }
  }

  test("bestQualityRepresentatives keeps the best doc, not the first") {
    // docs 10/11/12 are near-dups (same long base text, tiny tails).
    // 11 has the richest vocabulary (highest ttr -> highest quality),
    // so it must win even though 10 has the lower id. 50 is a
    // singleton and survives as its own cluster.
    val base = (1 to 30).map(i => f"tok$i%02d").mkString(" ")
    val docs = Seq(
      (10L, base + " filler filler filler filler", "en", "s"),
      (11L, base + " bright unique varied extras", "en", "s"),
      (12L, base + " filler filler filler extras", "en", "s"),
      (50L, "completely different standalone text here", "en", "s"))
      .toDF("doc_id", "text", "lang", "source")
    val got = TextAnalysis.bestQualityRepresentatives(docs)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(3)))).toMap
    assert(got.keySet == Set(10L, 50L)) // cluster ids are component minima
    assert(got(10L) == ((11L, 3L)), s"kept ${got(10L)}, want doc 11 of 3")
    assert(got(50L) == ((50L, 1L)))
  }

  test("keep-best LSH tier agrees with the exact tier on duplicate clusters") {
    // identical texts hash to identical MinHash signatures, so every
    // band collides and LSH recall is exactly 1 — on such a corpus the
    // scale tier (q196) must reproduce the exact tier (q190) verbatim,
    // including the quality-tie-to-lowest-id rule inside the dup
    // cluster and the untouched singleton
    val base = (1 to 30).map(i => f"tok$i%02d").mkString(" ")
    val docs = Seq(
      (10L, base, "en", "s"), (11L, base, "en", "s"),
      (12L, base, "en", "s"),
      (50L, "completely different standalone text here", "en", "s"))
      .toDF("doc_id", "text", "lang", "source")
    val exact = TextAnalysis.bestQualityRepresentatives(docs)
      .collect().toSeq
    val lsh = TextAnalysis.bestQualityRepresentativesLsh(docs)
      .collect().toSeq
    assert(lsh == exact)
    assert(exact.map(r => r.getLong(0) -> r.getLong(1)).toMap ==
      Map(10L -> 10L, 50L -> 50L)) // equal quality -> lowest id kept
  }

  test("exactSubstrDedup cuts repeated 5-gram spans, keeps first occurrence") {
    val docs = Seq(
      (1L, "a b c d e f"),             // owns both 5-grams
      (2L, "x y a b c d e z"),         // repeats "a b c d e" at pos 2
      (3L, "a b c d e f"),             // full duplicate of doc 1
      (4L, "too short"))               // < 5 tokens: untouched
      .toDF("doc_id", "text")
    val got = Dedup.exactSubstrDedup(docs)
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(1), r.getLong(2), r.getString(3)))).toMap
    assert(got(1L) == ((6, 0L, "a b c d e f")))  // first occurrence keeps all
    assert(got(2L) == ((8, 5L, "x y z")))        // span at idx 2..6 cut
    assert(got(3L) == ((6, 6L, "")))             // fully duplicated -> husk
    assert(got(4L) == ((2, 0L, "too short")))    // below k: pass-through
  }

  test("spanDecontaminate cuts benchmark 5-grams from training docs only") {
    val train = Seq(
      (1L, "p q a b c d e r s"),       // quotes the eval 5-gram at pos 2
      (2L, "clean text with no overlap at all"), // untouched
      (3L, "a b c d e"),               // IS the eval text -> husk
      (4L, "tiny doc"))                // < 5 tokens: untouched
      .toDF("doc_id", "text")
    val bench = Seq((100L, "a b c d e")).toDF("doc_id", "text")
    val got = Dedup.spanDecontaminate(train, bench)
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(1), r.getLong(2), r.getString(3)))).toMap
    assert(got(1L) == ((9, 5L, "p q r s")))     // idx 2..6 cut
    assert(got(2L) == ((7, 0L, "clean text with no overlap at all")))
    assert(got(3L) == ((5, 5L, "")))            // fully contaminated
    assert(got(4L) == ((2, 0L, "tiny doc")))
    // unlike exactSubstrDedup, NO occurrence survives — the first
    // training quote is cut too (doc 1 and doc 3 both lost the span)
    assert(got.values.map(_._2).sum == 10L)
  }

  test("releaseManifest gates husks and mostly-quoted docs, ships the rest") {
    val bench = Seq((100L, "a b c d e")).toDF("doc_id", "text")
    val train = Seq(
      (1L, "p q r s t u v w"),           // clean 8 toks -> ships
      (2L, "a b c d e"),                 // husk -> gated
      (3L, "x a b c d e y z w q"))       // loses 5 of 10 -> gated (not < half)
      .toDF("doc_id", "text")
    val man = Dedup.releaseManifest(train, bench, nShards = 4, minTokens = 3)
      .collect()
    assert(man.map(_.getLong(1)).sum == 1L)   // only doc 1 ships
    assert(man.map(_.getLong(2)).sum == 8L)   // with all 8 tokens
    assert(man.forall(r => r.getInt(0) >= 0 && r.getInt(0) < 4))
  }

  test("decontamination family: empty benchmark is a no-op") {
    val train = Seq((1L, "a b c d e f"), (2L, "tiny")).toDF("doc_id", "text")
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val clean = Dedup.spanDecontaminate(train, empty)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getString(3)))
    assert(clean.toSeq == Seq((1L, 0L, "a b c d e f"), (2L, 0L, "tiny")))
    // and the reverse report over an empty benchmark is just empty
    assert(Dedup.contaminationReport(train, empty).count() == 0)
  }

  test("contaminationReport: per-eval-doc span overlap fractions") {
    val train = Seq((1L, "a b c d e f")).toDF("doc_id", "text")
    val bench = Seq(
      (10L, "z z a b c d e z z"),  // 5 spans, 1 hit ("a b c d e")
      (20L, "a b c d e f"),        // 2 spans, both hit -> 1.0
      (30L, "nothing here at all matches nothing really"), // 0 hits
      (40L, "tiny"))               // < 5 tokens: 0 spans, rate 0.0
      .toDF("doc_id", "text")
    val got = Dedup.contaminationReport(train, bench)
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(got(10L) == ((5, 1L, 0.2)))
    assert(got(20L) == ((2, 2L, 1.0)))
    assert(got(30L) == ((3, 0L, 0.0)))
    assert(got(40L) == ((0, 0L, 0.0)))
  }

  test("spanDecontaminate with overlapping hits cuts the span union") {
    // benchmark grams "a b c d e" and "c d e f g" overlap in the
    // training doc at idx 2..6 and 4..8 -> union 2..8 (7 tokens)
    val train = Seq((1L, "x y a b c d e f g z")).toDF("doc_id", "text")
    val bench = Seq((100L, "a b c d e"), (101L, "c d e f g"))
      .toDF("doc_id", "text")
    val got = Dedup.spanDecontaminate(train, bench).head
    assert(got.getInt(1) == 10 && got.getLong(2) == 7L &&
      got.getString(3) == "x y z")
  }

  test("curriculumBatches: greedy quality-first packing on a hand corpus") {
    // qualities: doc 2 richest, doc 3 poorest; budget 10 packs the
    // best-first order (2, 1, 3) into batches of cumulative tokens
    val docs = Seq(
      (1L, "the alpha beta gamma delta alpha", "en", "s"),     // 6 toks
      (2L, "the bright unique varied tokens everywhere now", "en", "s"), // 7
      (3L, "the the the the the the", "en", "s"))              // 6 toks
      .toDF("doc_id", "text", "lang", "source")
    val got = TextAnalysis.curriculumBatches(docs, budget = 10)
      .collect().map(r => (r.getLong(0), r.getLong(3), r.getLong(4)))
    assert(got.map(_._1).toSeq == Seq(2L, 1L, 3L),
      s"quality order wrong: ${got.toSeq}")
    assert(got.map(_._2).toSeq == Seq(7L, 13L, 19L)) // running sum
    assert(got.map(_._3).toSeq == Seq(0L, 1L, 1L))   // 10-token batches
  }

  test("sourceQuota: per-source quality-greedy admission, crossing doc ships") {
    // source A: doc 2 richest (7 toks), then 1 (6), then 3 (6);
    // budget 10 admits 2 (cum_before 0) and 1 (cum_before 7) — the
    // crossing doc ships — then stops (cum_before 13). Source B has
    // one 6-token doc: admitted whole (budget > total).
    val docs = Seq(
      (1L, "the alpha beta gamma delta alpha", "en", "A"),
      (2L, "the bright unique varied tokens everywhere now", "en", "A"),
      (3L, "the the the the the the", "en", "A"),
      (4L, "the only doc in this source", "en", "B"))
      .toDF("doc_id", "text", "lang", "source")
    val got = TextAnalysis.sourceQuota(docs, budget = 10L)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(4)))
    assert(got.toSeq == Seq((1L, "A", 13L), (2L, "A", 7L), (4L, "B", 6L)),
      s"quota admission wrong: ${got.toSeq}")
  }

  test("sourceQuota: sharded form == plain per-source window; coverage") {
    import org.apache.spark.sql.expressions.Window
    val t = Tables(spark, sf)
    val got = TextAnalysis.sourceQuota(t.documents, budget = 60L).collect()
    // reference: the single per-source window the operator shards
    val toks = split(col("text"), " ")
    val nTokens = size(toks)
    val ttr = size(array_distinct(toks)).cast("double") / nTokens
    val stop = size(filter(toks, w => w === "a" || w === "the"))
      .cast("double") / nTokens
    val q = ttr * 0.5 + (lit(1.0) - stop) * 0.3 +
      least(nTokens.cast("double") / 100.0, lit(1.0)) * 0.2
    val w = Window.partitionBy(col("source"))
      .orderBy(col("quality").desc, col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val ref = t.documents
      .select(col("doc_id"), col("source"),
        nTokens.cast("long").as("n_tokens"), q.as("quality"))
      .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      .filter(col("cum_tokens") - col("n_tokens") < 60L)
      .orderBy(col("doc_id")).collect()
    assert(got.toSeq == ref.toSeq)
    // every non-empty source reaches >= min(budget, its own total)
    val totals = t.documents
      .select(col("source"), size(split(col("text"), " ")).cast("long")
        .as("n")).groupBy("source").agg(sum("n").as("total"))
      .as[(String, Long)].collect().toMap
    val kept = got.groupBy(_.getString(1))
      .map { case (s, rs) => s -> rs.map(_.getLong(2)).sum }
    totals.foreach { case (s, total) =>
      assert(kept.getOrElse(s, 0L) >= math.min(60L, total),
        s"source $s under quota: kept=${kept.get(s)} total=$total")
    }
  }

  test("evalHoldoutPerSource: exactly min(k, |source|) docs per source; " +
      "pick is partitioning-invariant") {
    val t = Tables(spark, sf)
    val sizes = t.documents.groupBy("source").count()
      .as[(String, Long)].collect().toMap
    val got = TextAnalysis.evalHoldoutPerSource(t.documents, k = 3)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val perSource = got.groupBy(_._2).map { case (s, rs) => s -> rs.length }
    sizes.foreach { case (s, n) =>
      assert(perSource.getOrElse(s, 0) == math.min(3L, n),
        s"source $s: got ${perSource.get(s)} of $n docs")
    }
    val rep = TextAnalysis.evalHoldoutPerSource(
      t.documents.repartition(7), k = 3)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(rep.sorted.toSeq == got.sorted.toSeq)
  }

  test("lengthBucketPacking: bucket/slot/capacity algebra on a hand corpus; " +
      "packs never overflow; only the last pack per bucket is partial") {
    def words(n: Int): String = (1 to n).map(i => s"w$i").mkString(" ")
    // lengths 3,4,4 -> slot 4 cap 4; 5 -> slot 8 cap 2;
    // 9,16,17(capped 16) -> slot 16 cap 1; ctx = 16
    val docs = Seq(3, 4, 4, 5, 9, 16, 17).zipWithIndex
      .map { case (n, i) => (i.toLong, words(n), "en", "s") }
      .toDF("doc_id", "text", "lang", "source")
    val got = TextAnalysis.lengthBucketPacking(docs, ctx = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getDouble(5)))
    val bySlot = got.groupBy(_._1)
    assert(bySlot(4L).length == 1 && bySlot(4L).head._4 == 3 &&
      bySlot(4L).head._5 == 11) // 3+4+4 real tokens in one 4x4 window
    assert(bySlot(8L).length == 1 && bySlot(8L).head._5 == 5)
    assert(bySlot(16L).length == 3 &&
      bySlot(16L).map(_._5).sorted.toSeq == Seq(9L, 16L, 16L))
    got.foreach { case (slot, _, cap, nd, sum, fill) =>
      assert(nd <= cap && sum <= 16 && fill == sum.toDouble / 16)
    }
    assert(got.map(_._4).sum == 7) // every doc packed exactly once
    // all but the highest pack_id per bucket are FULL
    bySlot.values.foreach { packs =>
      val lastId = packs.map(_._2).max
      packs.filter(_._2 != lastId)
        .foreach(p => assert(p._4 == p._3, s"non-final pack partial: $p"))
    }
    // partitioning-invariant (pure function of the data)
    val rep = TextAnalysis.lengthBucketPacking(docs.repartition(5), ctx = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(4)))
    assert(rep.sorted.toSeq ==
      got.map(r => (r._1, r._2, r._5)).sorted.toSeq)
  }

  test("lshBandPlan: fold-exact S-curve, monotone in b and j, chosen " +
      "row maximizes separation") {
    val card = Dedup.lshBandPlan(spark).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getDouble(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5), r.getBoolean(6)))
    assert(card.map(c => c._1 * c._2).forall(_ == 16))
    // the pure-driver selection rule IS the planner's chosen row —
    // the tier-facing lshBandChoice and the card cannot drift
    val drv = Dedup.lshBandChoice(16, 0.3, 0.7)
    assert(card.filter(_._7).map(c => (c._1, c._2)).toSeq == Seq(drv))
    // and the chosen split at the defaults is the (4, 4) banding the
    // q312 portable tier hardcodes — planner and tier aligned
    assert(drv == (4, 4))
    // independent driver-side fold with the SAME association order
    def p(j: Double, b: Int, r: Int): Double = {
      var jr = 1.0; (1 to r).foreach(_ => jr *= j)
      var q = 1.0; (1 to b).foreach(_ => q *= (1.0 - jr))
      1.0 - q
    }
    card.foreach { case (b, r, lo, mid, hi, sep, _) =>
      assert(lo == p(0.3, b, r) && mid == p(0.5, b, r) &&
        hi == p(0.7, b, r))
      assert(sep == hi - lo && lo <= mid && mid <= hi)
    }
    // more bands -> higher collision probability at every j
    card.sortBy(_._1).sliding(2).foreach {
      case Array(a, b2) =>
        assert(a._3 <= b2._3 && a._4 <= b2._4 && a._5 <= b2._5)
      case _ =>
    }
    val chosen = card.filter(_._7)
    assert(chosen.length == 1 && chosen.head._6 == card.map(_._6).max)

    // calibration anchor: exact clones (j = 1) collide in EVERY band
    // config, matching the analytic p(1) = 1
    assert(card.forall { case (b, r, _, _, _, _, _) => p(1.0, b, r) == 1.0 })
    import spark.implicits._
    val clones = Seq((0L, "a b c d e f g h i j", "en", "s"),
      (1L, "a b c d e f g h i j", "en", "s"))
      .toDF("doc_id", "text", "lang", "source")
    val shared = Dedup.minhashDedup(clones)
      .filter(col("d1") === 0 && col("d2") === 1)
    assert(shared.count() == 1, "clones must band-collide")
  }

  test("portableMinhashPairsPlanned: the tier ACCEPTS the planner's " +
      "chosen row — bit-identical to the hardcoded (4, 4) banding at " +
      "the defaults, and planted clones still pair") {
    // lshBandChoice(16, 0.3, 0.7) lands on (4, 4) — the exact split
    // q312 hardcodes — so planner-driven and fixed tiers coincide
    // bit for bit on any corpus at the defaults
    val docs = Tables(spark, sf).documents
    val planned = Dedup.portableMinhashPairsPlanned(docs).collect()
    val fixed = Dedup.portableMinhashPairs(docs).collect()
    assert(planned.toSeq == fixed.toSeq)
    // planted clones band-collide and verify at jaccard 1.0 through
    // the planned route
    val clones = Seq((0L, "a b c d e f g h i j", "en", "s"),
      (1L, "a b c d e f g h i j", "en", "s"))
      .toDF("doc_id", "text", "lang", "source")
    val got = Dedup.portableMinhashPairsPlanned(clones).collect()
    assert(got.length == 1 && got.head.getLong(0) == 0L &&
      got.head.getLong(1) == 1L && got.head.getDouble(2) == 1.0)
    // a re-tuned numPerms re-plans the banding instead of keeping a
    // stale split: 8 perms at the same design points chooses (4, 2)
    assert(Dedup.lshBandChoice(8, 0.3, 0.7) == ((4, 2)))
  }

  test("packBoundaries: slots tile the window without overlap, every " +
      "doc appears once, and the rollup reproduces the q240 audit") {
    def words(n: Int): String = (1 to n).map(i => s"w$i").mkString(" ")
    val docs = Seq(3, 4, 4, 5, 9, 16, 17).zipWithIndex
      .map { case (n, i) => (i.toLong, words(n), "en", "s") }
      .toDF("doc_id", "text", "lang", "source")
    val man = TextAnalysis.packBoundaries(docs, ctx = 16).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7)))
    assert(man.map(_._4).sorted.toSeq == (0L to 6L).toSeq) // each doc once
    man.foreach { case (slot, _, idx, _, n, start, end, pad) =>
      assert(start == idx * slot && end == start + n)
      assert(pad == slot - n && pad >= 0)
      assert(end <= (idx + 1) * slot && end <= 16)
    }
    // within a pack, slot indices are distinct and < capacity
    man.groupBy(m => (m._1, m._2)).foreach { case ((slot, _), rows) =>
      val idxs = rows.map(_._3)
      assert(idxs.distinct.length == idxs.length)
      assert(idxs.forall(_ < 16 / slot))
    }
    // rolled up, the manifest IS the q240 audit
    val audit = TextAnalysis.lengthBucketPacking(docs, ctx = 16).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3), r.getLong(4)))
      .sorted.toSeq
    val rolled = man.groupBy(m => (m._1, m._2)).map { case ((s, p), rows) =>
      (s, p, rows.length.toLong, rows.map(_._5).sum)
    }.toSeq.sorted
    assert(rolled == audit)
  }

  test("curriculumBatches and bestQualityRepresentatives: empty corpus") {
    val empty = Seq.empty[(Long, String, String, String)]
      .toDF("doc_id", "text", "lang", "source")
    assert(TextAnalysis.curriculumBatches(empty).count() == 0)
    assert(TextAnalysis.bestQualityRepresentatives(empty).count() == 0)
    assert(TextAnalysis.sourceQuota(empty).count() == 0)
  }

  test("dedup_exact partitions the corpus (sum of copies = corpus size)") {
    val t = Tables(spark, sf)
    val total = TextAnalysis.dedupExact(t)
      .agg(sum("n_copies")).head.getLong(0)
    assert(total == t.documents.count())
  }

  test("quality score stays in [0,1] and ttr <= 1") {
    val bad = TextAnalysis.qualityScores(Tables(spark, sf))
      .filter(col("quality") < 0 || col("quality") > 1 || col("ttr") > 1)
    assert(bad.isEmpty)
  }

  test("HLL sketch card: every source earns the within-band contract " +
      "and the exact counts match a direct recompute") {
    val r = TextAnalysis.corpusCardinalitySketch(Tables(spark, sf))
    val exact = Tables(spark, sf).documents
      .groupBy(col("source"))
      .agg(countDistinct(md5(col("text"))).as("e"))
      .collect().map(x => x.getString(0) -> x.getLong(1)).toMap
    r.collect().foreach { row =>
      assert(row.getAs[Boolean]("within_band"), row.toString)
      assert(row.getAs[Long]("exact_unique_docs") ==
        exact(row.getString(0)))
    }
  }

  test("bpeTokens splits contractions, numbers, and punctuation runs") {
    val df = Seq("it's pi=3.14, ok!").toDF("text")
    val got = df.select(graft.functions.TextFunctions.bpeTokens(col("text")))
      .head.getSeq[String](0)
    // letter / digit / punctuation runs, space glued to the next token
    assert(got == Seq("it", "'", "s", " pi", "=", "3", ".", "14", ",",
      " ok", "!"))
    // whitespace tokenization sees only 3 words
    assert(df.select(size(graft.functions.TextFunctions.tokens(col("text"))))
      .head.getInt(0) == 3)
  }

  test("capBlocks: default caps leave q26/q112 output unchanged " +
    "(cap does not fire on test data)") {
    val docs = Tables(spark, sf).documents
    val capped = TextAnalysis.jaccardPairs(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val uncapped = TextAnalysis.jaccardPairs(docs, Int.MaxValue)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped == uncapped)
    val cust = Tables(spark, sf).customer
    val fCapped = Dedup.fuzzyNameMatches(cust)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val fUncapped = Dedup.fuzzyNameMatches(cust, maxBlock = Int.MaxValue)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(fCapped == fUncapped)
  }

  test("capBlocks bounds a degenerate jaccard block to maxBlock members") {
    // 40 identical docs in ONE (lang, source) block: uncapped pair
    // count is C(40,2)=780; cap=10 must keep exactly the 10 smallest
    // doc_ids -> C(10,2)=45 pairs, none touching a truncated id
    val docs = (0L until 40L)
      .map(i => (i, "en", "srcX", "the same exact text repeated here"))
      .toDF("doc_id", "lang", "source", "text")
    val pairs = TextAnalysis.jaccardPairs(docs, maxBlock = 10).collect()
    assert(pairs.length == 45)
    assert(pairs.forall(r => r.getLong(0) < 10 && r.getLong(1) < 10))
  }

  test("capBlocks bounds a degenerate fuzzy-match block to maxBlock") {
    // 30 same-name customers in ONE nation; cap=5 -> C(5,2)=10 pairs
    // among the 5 smallest custkeys only
    val cust = (0L until 30L)
      .map(i => (1, i, "Customer#000000001"))
      .toDF("c_nationkey", "c_custkey", "c_name")
    val pairs = Dedup.fuzzyNameMatches(cust, maxBlock = 5).collect()
    assert(pairs.length == 10)
    assert(pairs.forall(r => r.getLong(0) < 5 && r.getLong(1) < 5))
  }

  test("dupClusters: components of a chain + triangle + isolated pair") {
    // chain 1-2-3-4 (not pairwise similar — tests transitivity),
    // triangle 10-11-12, pair 20-21
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (11L, 12L),
      (10L, 12L), (20L, 21L)).toDF("d1", "d2")
    val got = graft.operators.Dedup.dupClusters(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L))
  }

  test("dupClusters: driver union-find and star rounds agree exactly") {
    // a seeded random graph with chains, merges, and singleton-free
    // components; compare the bounded-collect tier against the
    // distributed tier (driverEdgeLimit = 0 forces star rounds)
    val rnd = new scala.util.Random(7)
    val pairs = Seq.fill(300)((rnd.nextInt(120).toLong,
      rnd.nextInt(120).toLong))
      .filter { case (a, b) => a != b }.toDF("d1", "d2")
    val fast = graft.operators.Dedup.dupClusters(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toSeq.sorted
    val dist = graft.operators.Dedup.dupClusters(pairs,
        driverEdgeLimit = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toSeq.sorted
    assert(fast.nonEmpty && fast == dist)
  }

  test("dupClusters: star rounds converge logarithmically on a long chain") {
    // chain 0-1-...-63 (diameter 63): min-label propagation would need
    // 63 rounds (and would NOT converge inside maxIters=20); the
    // large-star/small-star alternation must finish in O(log n)
    val n = 64
    val pairs = (0L until (n - 1).toLong).map(i => (i, i + 1))
      .toDF("d1", "d2")
    val run = graft.operators.Dedup.dupStarRounds(pairs, maxIters = 20,
      alreadyCanonical = false)
    val rounds = run.rounds
    val labels = run.state.collect().map(r => r.getLong(0) -> r.getLong(1))
      .toMap
    assert(labels.size == n)
    assert(labels.values.forall(_ == 0L))
    assert(rounds <= 10, s"expected <= 10 star rounds on a 64-chain, got $rounds")
  }

  test("dupClusters: a star-round cap below the chain's need reports " +
      "converged = false") {
    val pairs = (0L until 63L).map(i => (i, i + 1)).toDF("d1", "d2")
    val run = Dedup.dupStarRounds(pairs, maxIters = 2,
      alreadyCanonical = false)
    assert(run.rounds == 2)
    assert(!run.converged)
  }

  test("dupClusters on the corpus dup graph: labels are component minima") {
    val pairs = graft.operators.Dedup.minhashDedup(
      Tables(spark, sf).documents)
    val clusters = graft.operators.Dedup.dupClusters(pairs)
    // every cluster_id is itself a member of the cluster, and is the min
    val byCluster = clusters.groupBy(col("cluster_id"))
      .agg(min(col("doc_id")).as("mn"))
      .filter(col("cluster_id") =!= col("mn"))
    assert(byCluster.isEmpty)
    // every edge endpoint pair shares a component
    val e = pairs.select(col("d1"), col("d2"))
      .join(clusters.select(col("doc_id").as("d1"),
        col("cluster_id").as("c1")), "d1")
      .join(clusters.select(col("doc_id").as("d2"),
        col("cluster_id").as("c2")), "d2")
      .filter(col("c1") =!= col("c2"))
    assert(e.isEmpty)
  }

  test("orderSessions: chained gaps merge, long gaps split, singletons self") {
    def d(s: String) = java.sql.Timestamp.valueOf(s + " 00:00:00")
    val orders = Seq(
      (10L, 1L, d("2024-01-01")),
      (11L, 1L, d("2024-01-20")), // 19d after 10 -> same session
      // 40d after 10 but 21d after 11: only TRANSITIVE chaining keeps
      // it in the session — the property the CC formulation must match
      (12L, 1L, d("2024-02-10")),
      (13L, 1L, d("2024-06-01")), // 112d gap -> new session
      (20L, 2L, d("2024-01-05"))  // singleton customer
    ).toDF("o_orderkey", "o_custkey", "o_orderdate")
    val got = graft.operators.Dedup.orderSessions(orders)
      .as[(Long, Long, Long)].collect().toSeq
    assert(got == Seq((10L, 1L, 10L), (11L, 1L, 10L), (12L, 1L, 10L),
      (13L, 1L, 13L), (20L, 2L, 20L)))
  }

  test("hashStratifiedSample: growth-stable, full-keep strata intact, " +
    "en thinned near its target rate") {
    val docs = Tables(spark, sf).documents
    val s1 = TextAnalysis.hashStratifiedSample(docs)
      .select("doc_id").as[Long].collect().toSet
    // growth stability: adding rows never flips existing membership
    // (per-row hash — unlike seeded sampleBy, whose draws shift)
    val bigger = docs.union(docs.limit(10)
      .withColumn("doc_id", col("doc_id") + 5000000L))
    val s2 = TextAnalysis.hashStratifiedSample(bigger)
      .select("doc_id").as[Long].collect().toSet
    assert(s2.filter(_ < 5000000L) == s1)
    // keep_below=10000 strata pass through untouched
    val full = docs.filter(col("lang").isin("de", "fr", "zh")).count()
    val kept = TextAnalysis.hashStratifiedSample(docs)
      .filter(col("lang").isin("de", "fr", "zh")).count()
    assert(kept == full)
    // the 20% stratum lands within binomial noise of its target
    val en = docs.filter(col("lang") === "en").count().toDouble
    val enKept = TextAnalysis.hashStratifiedSample(docs)
      .filter(col("lang") === "en").count().toDouble
    assert(enKept / en > 0.08 && enKept / en < 0.35,
      s"en keep rate ${enKept / en} far from 0.2")
  }

  test("weightedQualitySample: growth-stable, rate tracks quality, " +
    "scale=0 keeps nothing") {
    val docs = Tables(spark, sf)
    val kept = TextAnalysis.weightedQualitySample(docs)
    val keptIds = kept.select("doc_id").as[Long].collect().toSet
    // membership is a pure per-row function: re-evaluation and corpus
    // growth never flip existing rows
    assert(TextAnalysis.weightedQualitySample(docs)
      .select("doc_id").as[Long].collect().toSet == keptIds)
    // aggregate keep rate ≈ scale · mean(quality): binomial-loose
    val q = TextAnalysis.qualityScores(docs)
      .agg(avg("quality")).head.getDouble(0)
    val n = docs.documents.count().toDouble
    val rate = keptIds.size / n
    assert(rate > 0.5 * q * 0.5 && rate < 1.5 * q * 0.5,
      s"keep rate $rate far from ${0.5 * q}")
    // the kept population is quality-SKEWED upward vs the corpus
    val keptQ = kept.agg(avg("quality")).head.getDouble(0)
    assert(keptQ >= q, s"sampled mean $keptQ below corpus mean $q")
    assert(TextAnalysis.weightedQualitySample(docs, scale = 0.0)
      .count() == 0L)
  }

  test("docVectors: bag-of-words invariance routes permuted copies to one vector") {
    val docs = Seq(
      (1L, "alpha beta gamma alpha"),
      (2L, "gamma alpha alpha beta"), // permutation of doc 1
      (3L, "delta epsilon zeta eta") // disjoint vocabulary
    ).toDF("doc_id", "text")
    val vecs = TextAnalysis.docVectors(docs).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    assert(vecs(1L) == vecs(2L))
    assert(vecs(1L) != vecs(3L))
    // and the composed near-dup pipeline collapses the permuted copy
    val dedup = graft.operators.Similarity
      .embeddingDedup(TextAnalysis.docVectors(docs), threshold = 0.95)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2))))
      .toMap
    assert(dedup(1L) == ((1L, true)) && dedup(2L) == ((1L, false)))
    assert(dedup(3L) == ((3L, true)))
  }

  test("incremental near-dups: a fresh near-copy pairs with its base original only") {
    val baseText = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val base = Seq((0L, baseText), (2L, "one two three four five six seven"))
      .toDF("doc_id", "text")
    val fresh = Seq(
      (1L, baseText + " lambda"),          // near-copy of base 0
      (3L, "pqr stu vwx yz abc def ghi")   // unrelated
    ).toDF("doc_id", "text")
    val pairs = Dedup.incrementalNearDups(base, fresh)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 0L)))
    // and base x base pairs are never emitted: swapping roles finds none
    val none = Dedup.incrementalNearDups(base, base.filter(lit(false)))
    assert(none.count() == 0)
  }

  test("materialized incremental near-dups: pruned scan, identical result") {
    val baseText = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    // enough base docs that the 512-way partition space is sparsely
    // touched by a 2-doc increment
    val base = ((0L until 60L by 2L).map(i =>
      (i, s"base doc $i filler tokens " + ("pad" + i + " ") * 6)) :+
      (100L, baseText)).toDF("doc_id", "text")
    val fresh = Seq(
      (1L, baseText + " lambda"),          // near-copy of base 100
      (3L, "pqr stu vwx yz abc def ghi")   // unrelated
    ).toDF("doc_id", "text")
    val key = s"matspec_${System.nanoTime()}"
    val mat = Dedup.incrementalNearDupsMaterialized(spark, base, fresh, key)
    val mem = Dedup.incrementalNearDups(base, fresh)
    assert(mat.collect().toSeq == mem.collect().toSeq)
    assert(mat.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
      Set((1L, 100L)))

    // the base side is the AT-REST table, scanned pruned: exactly one
    // FileSourceScan over the materialized path, with a PartitionFilters
    // entry on pp that selects a strict subset of the partitions.
    // (AQE wraps the executed plan — recurse through adaptive nodes.)
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def scansOf(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scansOf(a.executedPlan)
      case q: QueryStageExec => scansOf(q.plan)
      case f: FileSourceScanExec => Seq(f)
      case other => other.children.flatMap(scansOf)
    }
    val scans = scansOf(mat.queryExecution.executedPlan)
      .filter(_.metadata("Location").contains("graft_nd_base_"))
    assert(scans.size == 1, "expected exactly one scan of the base table")
    val scan = scans.head
    assert(scan.metadata("PartitionFilters").contains("pp"),
      scan.metadata("PartitionFilters"))
    // the 2-doc increment touches <= 2 docs x 8 bands = 16 of the
    // table's partition slices; the scan must read only those
    val table = Dedup.materializedNearDupBase(spark, base, key)
    val allParts = spark.table(table).select("pp").distinct().count()
    assert(allParts > 16, s"test corpus too small to prove pruning ($allParts)")
    val partsRead = scan.metrics("numPartitions").value
    assert(partsRead > 0 && partsRead <= 16 && partsRead < allParts,
      s"scan read $partsRead of $allParts partitions — not pruned")
    assert(scan.relation.partitionSchema.fieldNames.contains("pp"))
    assert(!mat.queryExecution.executedPlan.toString
      .contains("CartesianProduct"))

    // empty increment: no partitions touched, zero rows, no failure
    val none = Dedup.incrementalNearDupsMaterialized(spark, base,
      fresh.filter(lit(false)), key)
    assert(none.count() == 0)
  }

  test("cross-corpus screen drops new docs whose token set exists in base") {
    val docs = Seq(
      (0L, "a b c", "en", "src0"),      // base
      (1L, "c b a a", "en", "src1"),    // new: same token SET as base 0
      (2L, "a b c d", "en", "src1"),    // base (even id)
      (3L, "x y", "en", "src2")         // new: unseen token set
    ).toDF("doc_id", "text", "lang", "source")
    val kept = Dedup.crossCorpusNew(docs, pmod(col("doc_id"), lit(2)) === 0)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(3L))
  }

  test("clusterSizeDistribution: planted clusters roll up by size") {
    // two 2-clusters + one 3-cluster of exact copies; unique docs
    // stay out of the distribution (they are not in the dup graph)
    val docs = Seq(
      (1L, "alpha beta gamma delta"), (2L, "alpha beta gamma delta"),
      (3L, "epsilon zeta eta theta"), (4L, "epsilon zeta eta theta"),
      (5L, "iota kappa lambda mu"), (6L, "iota kappa lambda mu"),
      (7L, "iota kappa lambda mu"),
      (8L, "unique nu xi omicron")
    ).map { case (i, t) => (i, t, "en", "src1") }
      .toDF("doc_id", "text", "lang", "source")
    val got = TextAnalysis.clusterSizeDistribution(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toSeq
    assert(got == Seq(2L -> 2L, 3L -> 1L))
  }

  test("sparseCosinePairs: hand-computed cosine over the shared-gram space") {
    val docs = Seq(
      (1L, "u v w x"),     // grams {u v w, v w x}, norm2 = 2
      (2L, "u v w y"),     // grams {u v w, v w y}, norm2 = 2
      (3L, "z1 z2 z3 z4")  // disjoint
    ).toDF("doc_id", "text")
    val got = TextAnalysis.sparseCosinePairs(docs).collect()
    assert(got.length == 1)
    val r = got.head
    // dot = 1 (the shared gram), cosine = 1/sqrt(2*2) = 0.5 — the
    // threshold is inclusive, and the value is IEEE-exact
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)) ==
      ((1L, 2L, 1L, 0.5)))
  }

  test("materialized postings tier: bucketed self-join plans with " +
      "ZERO exchanges and the pair tier equals the in-memory q202") {
    val sf = "/root/testdata/sf0.001"
    // the at-rest table reproduces the in-memory kept relation, so
    // the two tiers are row-identical (both end in the same total sort)
    val mat = TextAnalysis.sparseCosinePairsMaterialized(spark, sf)
    val mem = TextAnalysis.sparseCosinePairs(Tables(spark, sf).documents)
    assert(mat.collect().toSeq == mem.collect().toSeq)
    // the candidate self-join — THE gram-keyed shuffle at 100 TB —
    // reads co-located buckets: SortMergeJoin with no Exchange on
    // either side (the q162 bucketed-join pin, on the postings table)
    val tbl = spark.table(TextAnalysis.materializedPostingsTable(spark, sf))
    val selfJoin = tbl
      .select(col("g"), col("doc_id").as("d1"), col("tf").as("tf1"))
      .hint("merge")
      .join(tbl.select(col("g"), col("doc_id").as("d2"),
        col("tf").as("tf2")), Seq("g"))
    val plan = selfJoin.queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin"), plan)
    assert(!plan.contains("Exchange"), plan)
  }

  test("sparseCosinePairs: the df cap removes corpus-common grams") {
    // four docs all built from ONE gram — with maxDf=3 the gram's
    // df=4 exceeds the cap and no pair survives; raising the cap to 4
    // admits all C(4,2)=6 pairs at cosine 1.0
    val docs = (1L to 4L).map(i => (i, "m m m")).toDF("doc_id", "text")
    assert(TextAnalysis.sparseCosinePairs(docs, maxDf = 3).count() == 0)
    val all = TextAnalysis.sparseCosinePairs(docs, maxDf = 4).collect()
    assert(all.length == 6)
    assert(all.forall(r => r.getDouble(3) == 1.0 &&
      r.getLong(0) < r.getLong(1)))
  }

  test("sparseCosinePairs: threshold drops weak overlaps") {
    val docs = Seq(
      (1L, "a b c d e f"), // 4 grams, norm2 = 4
      (2L, "a b c x y z")  // 4 grams, shares only "a b c" -> cos = 1/4
    ).toDF("doc_id", "text")
    assert(TextAnalysis.sparseCosinePairs(docs).count() == 0)
    val low = TextAnalysis.sparseCosinePairs(docs, threshold = 0.25)
      .collect()
    assert(low.length == 1 && low.head.getDouble(3) == 0.25)
  }

  test("sparseCosinePairs finds the planted near-dup families at sf0.001") {
    val docs = Tables(spark, sf).documents
    val pairs = TextAnalysis.sparseCosinePairs(docs).collect()
    assert(pairs.nonEmpty)
    // every reported pair clears the threshold; orientation is d1 < d2
    assert(pairs.forall(r => r.getDouble(3) >= 0.5 &&
      r.getLong(0) < r.getLong(1)))
  }

  test("minhashCalibration: identical docs estimate exactly 1") {
    val text = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"
    val docs = Seq((1L, text), (2L, text), (3L, "z1 z2 z3 z4 z5"))
      .toDF("doc_id", "text")
    val got = Dedup.minhashCalibration(docs).collect()
    // only the identical pair clears minJaccard; disjoint docs never pair
    assert(got.length == 1)
    val r = got.head
    assert((r.getLong(0), r.getLong(1)) == ((1L, 2L)))
    assert(r.getLong(2) == 16L && r.getDouble(3) == 1.0 &&
      r.getDouble(4) == 1.0 && r.getDouble(5) == 0.0)
  }

  test("minhashCalibration: estimator lands near exact jaccard on " +
      "planted partial overlap") {
    // 12 tokens -> 10 shingles; second doc shares a 7-token prefix
    // (5 shared shingles) => J = 5 / 15 = 1/3
    val a = "a b c d e f g h i j k l"
    val b = "a b c d e f g m n o p q"
    val docs = Seq((1L, a), (2L, b)).toDF("doc_id", "text")
    val got = Dedup.minhashCalibration(docs, minJaccard = 0.1).collect()
    assert(got.length == 1)
    val r = got.head
    assert(math.abs(r.getDouble(4) - 1.0 / 3) < 1e-15)
    // k=16 estimator: within 4 standard errors of truth (SE ~ 0.118)
    assert(r.getDouble(5) <= 4 * math.sqrt(r.getDouble(4) *
      (1 - r.getDouble(4)) / 16))
    // est is n_match/16 by construction
    assert(r.getDouble(3) == r.getLong(2).toDouble / 16)
  }

  test("minhashCalibration audits the sf0.001 near-dup band accurately") {
    val docs = Tables(spark, sf).documents
    val got = Dedup.minhashCalibration(docs).collect()
    assert(got.nonEmpty)
    // the audited region is the planted near-dup band; the k=16
    // estimator must track exact jaccard closely there (J >= 0.8 =>
    // SE <= 0.1; 4 SE is a generous but real certification)
    assert(got.forall(r => r.getDouble(4) >= 0.25))
    val meanErr = got.map(_.getDouble(5)).sum / got.length
    assert(meanErr < 0.1, s"mean |est - exact| = $meanErr")
  }

  test("nearestDuplicates keeps the strongest neighbor, ties to " +
      "smallest id") {
    val fam = "a b c d e f g h"
    val docs = Seq(
      (1L, fam),                 // identical to 2 and 3 (cos 1.0 both)
      (2L, fam), (3L, fam),
      (4L, "a b c d e f x y"),   // similar but weaker to the family
      (5L, "p q r s t u v w")    // unrelated: must not appear
    ).toDF("doc_id", "text")
    val got = TextAnalysis.nearestDuplicates(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(3)))).toMap
    assert(!got.contains(5L))
    assert(got(1L)._1 == 2L && got(1L)._2 == 1.0) // tie 2 vs 3 -> 2
    assert(got(2L)._1 == 1L && got(2L)._2 == 1.0)
    assert(got(3L)._1 == 1L && got(3L)._2 == 1.0)
    // doc 4's best neighbor is one of the identical family, cos < 1
    assert(Set(1L, 2L, 3L).contains(got(4L)._1) && got(4L)._2 < 1.0)
  }

  test("nearestDuplicates agrees with the strongest q202 pair per doc") {
    val docs = Tables(spark, sf).documents
    val pairs = TextAnalysis.sparseCosinePairs(docs).collect()
      .flatMap(r => Seq(
        (r.getLong(0), (r.getLong(1), r.getDouble(3))),
        (r.getLong(1), (r.getLong(0), r.getDouble(3)))))
    val expect = pairs.groupBy(_._1).map { case (d, xs) =>
      d -> xs.map(_._2).minBy { case (nb, cos) => (-cos, nb) }
    }
    val got = TextAnalysis.nearestDuplicates(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(3)))).toMap
    assert(got == expect && got.nonEmpty)
  }

  test("packingEfficiency: batches partition the corpus token mass, " +
      "ranges are disjoint, fill is exact") {
    val t = Tables(spark, sf)
    val got = TextAnalysis.packingEfficiency(t).collect()
    assert(got.nonEmpty)
    val corpusTokens = t.documents
      .select(sum(size(tokens(col("text")))).cast("long")).head.getLong(0)
    assert(got.map(_.getLong(2)).sum == corpusTokens)
    assert(got.forall(r => r.getLong(1) >= 1))
    assert(got.forall(r => r.getDouble(5) == r.getLong(2).toDouble / 5000))
    // batches cover consecutive, non-overlapping doc-id ranges
    val ranges = got.sortBy(_.getLong(0))
      .map(r => (r.getLong(3), r.getLong(4)))
    assert(ranges.forall { case (lo, hi) => lo <= hi })
    assert(ranges.sliding(2).forall {
      case Array((_, hi), (lo2, _)) => hi < lo2
      case _ => true
    })
    // all but the last batch reach at least the budget once straddle
    // docs are counted where their cumsum ends
    assert(got.dropRight(1).forall(r => r.getLong(2) > 0))
  }

  test("langIdConfidence: clear doc confident, tie doc margin 0, " +
      "gibberish und") {
    val docs = Seq(
      (1L, "the a of cat sat", "en"),   // en=3, margin 3
      (2L, "la maison grande", "fr"),   // es=1, fr=1 tie -> es, margin 0
      (3L, "xyzzy qqq www", "zz")       // no profile hit -> und
    ).toDF("doc_id", "text", "lang")
    val got = Dedup.langIdConfidence(docs).collect()
      .map(r => r.getLong(0) -> ((r.getString(2), r.getLong(3),
        r.getLong(4), r.getBoolean(5)))).toMap
    assert(got(1L) == (("en", 3L, 3L, true)))
    assert(got(2L) == (("es", 1L, 0L, false))) // ambiguous: es/fr tie
    assert(got(3L) == (("und", 0L, 0L, false)))
    // the argmax label always agrees with q30's langId
    val plain = Dedup.langId(docs).collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(got.view.mapValues(_._1).toMap == plain)
  }

  test("lengthSpectrum: integer bit-length buckets, exact at powers " +
      "of two, shares sum to 1") {
    def doc(n: Int) = (1 to n).map("w" + _).mkString(" ")
    // lengths 1,2,3,4,8: buckets 0,1,1,2,3 — the 2^k edges land in
    // the HIGHER bucket (bit length), never off-by-one via float log
    val docs = Seq((1L, doc(1)), (2L, doc(2)), (3L, doc(3)),
      (4L, doc(4)), (5L, doc(8))).toDF("doc_id", "text")
    val got = TextAnalysis.lengthSpectrum(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getDouble(5)))).toMap
    assert(got(0L) == ((1L, 1L, 1L, 1L, 0.2)))
    assert(got(1L) == ((2L, 5L, 2L, 3L, 0.4)))
    assert(got(2L) == ((1L, 4L, 4L, 4L, 0.2)))
    assert(got(3L) == ((1L, 8L, 8L, 8L, 0.2)))
    assert(got.values.map(_._5).sum == 1.0)
  }

  test("tokenDiversity: repetitive doc collapses, diverse doc spreads") {
    val docs = Seq(
      (1L, "x x x x"),      // one type: simpson 1, eff_vocab 1
      (2L, "a b c d"),      // all distinct: simpson 1/n, eff_vocab n
      (3L, "a a b b")       // two types of 2: sum_sq 8, eff 16/8 = 2
    ).toDF("doc_id", "text")
    val got = TextAnalysis.tokenDiversity(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getDouble(5)))).toMap
    assert(got(1L) == ((4L, 1L, 16L, 1.0, 1.0)))
    assert(got(2L) == ((4L, 4L, 4L, 0.25, 4.0)))
    assert(got(3L) == ((4L, 2L, 8L, 0.5, 2.0)))
  }

  test("tokenDiversity run-length fold == relational groupBy counts") {
    // the zero-shuffle fold must agree with the (doc, token) rollup it
    // replaces, over real corpus text
    val docs = Tables(spark, sf).documents.limit(200).localCheckpoint()
    val folded = TextAnalysis.tokenDiversity(docs)
      .select("doc_id", "n_tokens", "n_types", "sum_sq")
    val relational = docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("t"))
      .groupBy(col("doc_id"), col("t")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_tokens"), count(lit(1)).as("n_types"),
        sum(col("c") * col("c")).as("sum_sq"))
    assert(folded.exceptAll(relational).isEmpty &&
      relational.exceptAll(folded).isEmpty)
  }

  test("tokenDiversity is a pure projection: no hash shuffle in the plan") {
    val docs = Seq((1L, "a b c")).toDF("doc_id", "text")
    val plan = TextAnalysis.tokenDiversity(docs)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"), plan)
  }
}
