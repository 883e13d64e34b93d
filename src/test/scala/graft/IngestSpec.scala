package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Dedup, Ingest, Similarity}

/** The nightly-ingest admission composition (q340/q341): the manifest
  * must agree with its three component screens EXACTLY — no
  * re-derivation drift — and the planted hazards of each screen must
  * surface in the right column.
  */
class IngestSpec extends AnyFunSuite {
  lazy val spark = SharedSession.spark
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  test("manifest columns agree with the three component screens on " +
      "the real corpus; admit is their conjunction; coverage is " +
      "exactly the increment slice") {
    val docs = Tables(spark, sf).documents
    val emb = Tables(spark, sf).embeddings
    val card = Ingest.nightlyAdmission(spark, docs, emb,
      key = "ingest-spec").collect()
      .map(r => r.getLong(0) -> ((r.getBoolean(1),
        Option(r.get(2)).map(_.asInstanceOf[Long]),
        Option(r.get(3)).map(_.asInstanceOf[Long]),
        r.getBoolean(4)))).toMap
    // coverage: exactly the % 10 = 3 docs
    val incIds = docs.filter(pmod(col("doc_id"), lit(10L)) === 3)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(card.keySet == incIds)
    // component 1: exact screen recomputed independently
    val fp = md5(array_join(
      array_sort(array_distinct(split(col("text"), " "))), " "))
    val baseFps = docs.filter(pmod(col("doc_id"), lit(10L)) =!= 3)
      .select(fp.as("f")).collect().map(_.getString(0)).toSet
    val incFps = docs.filter(pmod(col("doc_id"), lit(10L)) === 3)
      .select(col("doc_id"), fp.as("f")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    card.foreach { case (id, (exact, _, _, _)) =>
      assert(exact == baseFps.contains(incFps(id)), s"exact_dup($id)")
    }
    // component 2: near screen == min base_id of the q335 pairs
    val near = Dedup.portableIncrementalNearDups(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).min }
    card.foreach { case (id, (_, nearOf, _, _)) =>
      assert(nearOf == near.get(id), s"near_dup_of($id)")
    }
    // component 3: semantic screen == the q327 decision verbatim
    val sem = Similarity.semDedupIncremental(spark, emb,
      key = "ingest-spec-sem").collect()
      .map(r => r.getLong(0) -> Option(r.get(2))
        .map(_.asInstanceOf[Long])).toMap
    card.foreach { case (id, (_, _, semOf, _)) =>
      assert(semOf == sem.getOrElse(id, None), s"sem_dup_of($id)")
    }
    // admit = the conjunction, nothing else
    card.foreach { case (id, (exact, nearOf, semOf, admit)) =>
      assert(admit == (!exact && nearOf.isEmpty && semOf.isEmpty),
        s"admit($id)")
    }
  }

  test("planted hazards surface in the right columns: an exact copy, " +
      "a near copy, a novel doc") {
    // ids pick their side by doc_id % 10: 3/13/23 increment, others base
    val base = (1 to 40).map(i => f"w$i%02d").mkString(" ")
    // the exact quantizer seeds from base vec_ids < 8, so the planted
    // base lives there: 0 = original, 1 = near-edit twin, 2/4/5/6/7 =
    // novel-vocabulary fillers with orthogonal embeddings
    val fillers = Seq(2L, 4L, 5L, 6L, 7L).zipWithIndex.map {
      case (id, i) =>
        (id, s"filler${i}a filler${i}b filler${i}c filler${i}d",
          "en", "s")
    }
    val docs = (Seq(
      (0L, base, "en", "s"), // base original
      (1L, base.replace("w05", "edit"), "en", "s"), // base, j≈0.93 to 3
      (3L, base, "en", "s"), // inc: EXACT copy of 0 (and near of 1)
      (13L, base.replace("w07", "other"), "en", "s"), // inc: near, not exact
      (23L, "totally different vocabulary entirely here now", "en", "s")
    ) ++ fillers).toDF("doc_id", "text", "lang", "source")
    // embeddings: inc vec 3 is a byte-identical twin of base vec 0
    // (sem dup); 13/23 and the fillers pairwise orthogonal
    def unit(k: Int): Seq[Float] =
      Seq.tabulate(12)(j => if (j == k) 1f else 0f)
    val emb = (Seq((0L, unit(0)), (1L, unit(1)), (3L, unit(0)),
      (13L, unit(2)), (23L, unit(3))) ++
      Seq(2L, 4L, 5L, 6L, 7L).zipWithIndex.map {
        case (id, i) => (id, unit(4 + i))
      }).toDF("vec_id", "embedding")
    val card = Ingest.nightlyAdmission(spark, docs, emb,
      key = "ingest-spec-planted").collect()
      .map(r => r.getLong(0) -> ((r.getBoolean(1),
        Option(r.get(2)).map(_.asInstanceOf[Long]),
        Option(r.get(3)).map(_.asInstanceOf[Long]),
        r.getBoolean(4)))).toMap
    assert(card.keySet == Set(3L, 13L, 23L))
    // 3: exact dup of 0, near-dups 0 (min id), sem-dups 0 — rejected
    assert(card(3L)._1, "3 must be an exact dup")
    assert(card(3L)._2.contains(0L), s"near_dup_of(3)=${card(3L)._2}")
    assert(card(3L)._3.contains(0L), s"sem_dup_of(3)=${card(3L)._3}")
    assert(!card(3L)._4)
    // 13: NOT exact, near-dup of the base twins, orthogonal embedding
    assert(!card(13L)._1)
    assert(card(13L)._2.contains(0L))
    assert(!card(13L)._4)
    // 23: novel on all three screens — admitted
    assert(card(23L) == ((false, None, None, true)))
  }

  test("at-rest tier == session tier bit-for-bit (the q341 == q340 " +
      "identity the driver also checks)") {
    val docs = Tables(spark, sf).documents
    val emb = Tables(spark, sf).embeddings
    val dirN = java.nio.file.Files
      .createTempDirectory("graft_ingest_spec_").resolve("n").toString
    val dirS = java.nio.file.Files
      .createTempDirectory("graft_ingest_spec_").resolve("s").toString
    val dirE = java.nio.file.Files
      .createTempDirectory("graft_ingest_spec_").resolve("e").toString
    val atRest = Ingest.nightlyAdmissionAtRest(spark, docs, emb,
      dirN, dirS, dirE).collect().map(_.toSeq)
    val session = Ingest.nightlyAdmission(spark, docs, emb,
      key = "ingest-spec-parity").collect().map(_.toSeq)
    assert(atRest.toSeq == session.toSeq)
  }

  test("media-composed manifest (q350): text columns equal q342's " +
      "verbatim, the media column equals the screen recomputed, admit " +
      "is the four-way conjunction, and the media screen is " +
      "artifact == inline bit-for-bit with per-doc independence " +
      "(split union == whole)") {
    import graft.multimodal.Multimodal
    val docs = Tables(spark, sf).documents
    val emb = Tables(spark, sf).embeddings
    def fresh(tag: String): String = java.nio.file.Files
      .createTempDirectory("graft_ingest_media_").resolve(tag).toString
    val (dirN, dirS, dirE, dirM) =
      (fresh("n"), fresh("s"), fresh("e"), fresh("m"))
    val full = Ingest.nightlyAdmissionWithMedia(spark, docs, emb,
      dirN, dirS, dirE, dirM).collect()
    // text columns + the base manifest ride q342's composition
    val text = Ingest.nightlyAdmissionAppended(spark, docs, emb,
      dirN, dirS, dirE).collect()
      .map(r => r.getLong(0) -> r.toSeq).toMap
    assert(full.length == text.size, "row coverage drifted")
    full.foreach { r =>
      val t = text(r.getLong(0))
      assert(r.toSeq.take(4) == t.take(4),
        s"text columns drifted for doc ${r.getLong(0)}")
    }
    // the media column equals the screen recomputed; admit is the
    // conjunction of the text admit and media-clean
    val incMedia = Multimodal.syntheticMediaFrom(
      docs.filter(pmod(col("doc_id"), lit(10L)) === 3))
    val hits = Multimodal.mediaAdmissionScreen(spark, incMedia, dirM)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    full.foreach { r =>
      val id = r.getLong(0)
      val mediaDup = Option(r.get(4)).map(_.asInstanceOf[Long])
      assert(mediaDup == hits.get(id),
        s"media column drifted for doc $id")
      val textAdmit = text(id)(4).asInstanceOf[Boolean]
      assert(r.getBoolean(5) == (textAdmit && mediaDup.isEmpty),
        s"admit is not the four-way conjunction for doc $id")
    }
    assert(full.exists(_.getBoolean(5)), "nothing admitted — vacuous")
    // PLANTED duplicates, one per KIND: media content is a pure
    // function of doc_id (no natural inc-vs-base media dups), so
    // copy three base items' exact bytes under fresh increment ids —
    // each must surface through its kind's tier
    def kindOf(id: Long): String = (id % 3) match {
      case 0 => "image"; case 1 => "audio"; case _ => "video"
    }
    val baseIds = docs.filter(pmod(col("doc_id"), lit(10L)) =!= 3)
      .select("doc_id").collect().map(_.getLong(0)).sorted
    val plantSrc = Seq("image", "audio", "video")
      .map(k => baseIds.find(kindOf(_) == k).get)
    val planted = Multimodal.syntheticMediaFrom(
      docs.filter(col("doc_id").isin(plantSrc.map(Long.box): _*)))
      .withColumn("media_id", col("media_id") + lit(1000000L))
    val plantedHits =
      Multimodal.mediaAdmissionScreen(spark, planted, dirM)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    plantSrc.foreach { b =>
      assert(plantedHits.contains(b + 1000000L),
        s"planted ${kindOf(b)} duplicate of base $b not caught")
    }
    // artifact == inline bit-for-bit (the codec-family pin), on the
    // NON-VACUOUS increment (natural + planted): the at-rest probe
    // against (base + delta) fingerprints equals the screen
    // recomputed from decoded base media
    val incAll = incMedia.unionByName(planted)
    val hitsAll = Multimodal.mediaAdmissionScreen(spark, incAll, dirM)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val baseMedia = Multimodal.syntheticMediaFrom(
      docs.filter(pmod(col("doc_id"), lit(10L)) =!= 3))
    val inline = Multimodal.mediaAdmissionCore(incAll,
        Multimodal.imageAHashes(baseMedia),
        Multimodal.audioFingerprints(baseMedia),
        Multimodal.videoFrameHashes(baseMedia), 3, 0.9, 10000)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hitsAll == inline, "media screen: artifact != inline")
    // per-doc independence: screening the planted and natural slices
    // separately unions to the whole screen (the stream-twin argument)
    val unioned = plantedHits ++ hits
    assert(unioned == hitsAll,
      "micro-batched media screening != whole-batch screening")
  }
}
