package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Dedup, Similarity}

/** The r15 maintenance layer — the piece between "admit tonight's
  * batch" (q340/q341) and "rebuild when the gate fires" (q328/q339):
  * admitted rows APPEND to the durable screen base, near-dup base and
  * semantic index as commit-marked deltas. Pins
  *  - append ≡ rebuild-from-union bit-identity for the exact screen
  *    and the near-dup base (per-doc-deterministic state, the union
  *    collapses),
  *  - append ≡ FROZEN-QUANTIZER rebuild for the semantic index (the
  *    delta assigns under the artifact's committed centroids — the
  *    retrain decision stays with the staleness gate),
  *  - planted hazards: a doc duplicating an APPENDED row is caught
  *    (the Bloom route-around cannot skip the delta check),
  *  - re-appending the same delta name is a no-op serve, not a
  *    duplicate,
  *  - cold-session serving of appended artifacts with the build
  *    counter flat,
  *  - inventory + GC: uncommitted debris always collected, orphaned
  *    committed artifacts collected, LIVE committed artifacts refused,
  *    young entries untouched.
  */
class ArtifactMaintenanceSpec extends AnyFunSuite {
  lazy val spark = SharedSession.spark

  private val sf = "/root/testdata/sf0.001"
  private def t = Tables(spark, sf)

  private def freshDir(): String =
    java.nio.file.Files.createTempDirectory("graft_maint_spec_")
      .resolve("a").toString

  test("exact screen: append ≡ rebuild-from-union (real corpus), " +
      "planted delta-dup is caught despite the base Bloom routing it " +
      "definite-new, re-append is a no-op") {
    import spark.implicits._
    // planted corpus: 100/200 are day-0 base, 104 is day-1 (appended),
    // 103 duplicates the APPENDED doc, 203 duplicates a BASE doc,
    // 113 is genuinely new
    val docs = Seq(
      (100L, "alpha beta gamma", "en", "web"),
      (200L, "the quick brown fox", "en", "web"),
      (104L, "delta epsilon zeta", "en", "web"),
      (103L, "delta epsilon zeta", "en", "web"),
      (203L, "the quick brown fox", "en", "web"),
      (113L, "unique new doc text", "en", "web")
    ).toDF("doc_id", "text", "lang", "source")
    val dir = freshDir()
    val survivors = Dedup.crossCorpusNewAppended(spark, docs, dir)
      .collect()
    assert(survivors.map(_.getLong(0)).toSeq == Seq(113L),
      s"expected only 113 to survive, got ${survivors.mkString(",")}")
    // re-append the same delta name: no new build
    val builds = Artifacts.durableBuilds.get()
    Dedup.appendFpsToScreenBase(spark,
      docs.filter(pmod(col("doc_id"), lit(10L)) === 4), dir, "m4")
    assert(Artifacts.durableBuilds.get() == builds,
      "re-appending delta m4 rebuilt it")
    // real corpus: appended serve ≡ a fresh screen rebuilt from the
    // union slice
    val real = t.documents
    val dirA = freshDir(); val dirB = freshDir()
    val appended = Dedup.crossCorpusNewAppended(spark, real, dirA)
      .collect().map(_.toSeq)
    val rebuilt = Dedup.crossCorpusNewFromDurableArtifact(spark,
      real.filter(pmod(col("doc_id"), lit(10L)) === 3),
      real.filter(pmod(col("doc_id"), lit(10L)) =!= 3), dirB)
      .orderBy(col("doc_id")).collect().map(_.toSeq)
    assert(appended.toSeq == rebuilt.toSeq,
      "appended screen != union-rebuilt screen")
  }

  test("near-dup base: append ≡ rebuild-from-union bit-for-bit (the " +
      "banded buckets are per-doc deterministic); planted near-copy " +
      "of an APPENDED doc surfaces") {
    import spark.implicits._
    val real = t.documents
    val dirA = freshDir(); val dirB = freshDir()
    val appended =
      Dedup.portableIncrementalNearDupsAppended(spark, real, dirA)
        .collect().map(_.toSeq)
    val rebuilt = Dedup.portableIncrementalNearDupsDurable(spark, real,
      dirB).collect().map(_.toSeq)
    assert(appended.toSeq == rebuilt.toSeq,
      "appended near-dup decision != union-rebuilt decision")
    // planted: 13 is a near-copy (1-token edit) of the APPENDED 14 —
    // the probe must surface the pair through the delta buckets
    val planted = Seq(
      (10L, "completely unrelated base content here", "en", "web"),
      (14L, "one two three four five six seven eight nine ten", "en",
        "web"),
      (13L, "one two three four five six seven eight nine eleven",
        "en", "web")
    ).toDF("doc_id", "text", "lang", "source")
    val dirP = freshDir()
    val pairs =
      Dedup.portableIncrementalNearDupsAppended(spark, planted, dirP)
        .collect()
    assert(pairs.exists(r => r.getLong(0) == 13L && r.getLong(1) == 14L),
      s"planted near-copy of the appended doc not surfaced: " +
        s"${pairs.mkString(",")}")
  }

  test("semantic index: append ≡ frozen-quantizer rebuild over the " +
      "union (fresh assignment under the artifact's centroids), and " +
      "a cold session serves the appended index with the build " +
      "counter flat") {
    val emb = t.embeddings.select(col("vec_id"), col("embedding"))
    val dir = freshDir()
    val appended =
      Similarity.semDedupIncrementalAppended(spark, t.embeddings, dir)
        .collect().map(_.toSeq)
    // frozen-quantizer rebuild: the union membership argmin-assigned
    // FRESH under the committed centroid sidecar, decided by the
    // shared core — bit-identical to base-partitions ∪ delta
    val cents =
      spark.read.parquet(s"${Artifacts.canonical(dir)}/cents")
    val union = emb.filter(pmod(col("vec_id"), lit(10L)) =!= 3)
    val vectors = Similarity.assignCellsExact(union, cents)
      .join(union, "vec_id")
      .select(col("vec_id"), col("embedding"), col("cell"))
    val inc = emb.filter(pmod(col("vec_id"), lit(10L)) === 3)
    val rebuilt =
      Similarity.semDedupDecide(inc, vectors, cents, 0.35)
        .collect().map(_.toSeq)
    assert(appended.toSeq == rebuilt.toSeq,
      "appended index decision != frozen-quantizer union rebuild")
    // the delta really contributes: at least one decision differs
    // from the UN-appended serve (dup targets in the %10=4 slice), or
    // — if the corpus happens not to produce one — the delta rows are
    // at least present in the appended scan
    val deltaRows = Artifacts.committedDeltas(dir)
      .map(dd => spark.read.parquet(s"$dd/t").count()).sum
    assert(deltaRows ==
      emb.filter(pmod(col("vec_id"), lit(10L)) === 4).count(),
      "delta is missing appended vectors")
    // cold session: serve only, counter flat
    val s2 = spark.newSession()
    val builds = Artifacts.durableBuilds.get()
    val served = Similarity.semDedupIncrementalAppended(s2,
      Tables(s2, sf).embeddings, dir).collect().map(_.toSeq)
    assert(Artifacts.durableBuilds.get() == builds,
      "cold-session appended serve rebuilt something")
    assert(served.toSeq == appended.toSeq)
    // appending to an uncommitted home fails loudly
    intercept[IllegalArgumentException] {
      Similarity.appendToIvfIndex(spark, inc, freshDir(), "m4")
    }
  }

  test("media fingerprints: append ≡ rebuild-from-union ≡ inline for " +
      "image, audio and video; re-append is a no-op; a cold session " +
      "serves the appended artifact without decoding") {
    import graft.multimodal.Multimodal
    val media = Multimodal.materializedMedia(spark, sf)
    val base0 =
      media.filter(!pmod(col("media_id"), lit(10L)).isin(3L, 4L))
    val day1 = media.filter(pmod(col("media_id"), lit(10L)) === 4)
    val union = media.filter(pmod(col("media_id"), lit(10L)) =!= 3)
    val dirA = freshDir(); val dirB = freshDir()
    Multimodal.mediaFingerprintArtifact(spark, base0, dirA)
    Multimodal.appendToMediaFingerprintArtifact(spark, day1, dirA, "m4")
    val builds = Artifacts.durableBuilds.get()
    Multimodal.appendToMediaFingerprintArtifact(spark, day1, dirA, "m4")
    assert(Artifacts.durableBuilds.get() == builds,
      "re-appending delta m4 re-decoded it")
    Multimodal.mediaFingerprintArtifact(spark, union, dirB)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSeq
    // image
    assert(rows(Multimodal.imageDedupFromAppendedArtifact(spark, dirA))
      == rows(Multimodal.imageDedupFromArtifact(spark, dirB)))
    assert(rows(Multimodal.imageDedupFromAppendedArtifact(spark, dirA))
      == rows(Multimodal.imageDedup(union)))
    // audio: the shared fingerprint core over (artifact + deltas)
    def audioAppended = Multimodal.fingerprintDedup(
      Artifacts.withDeltas(spark, dirA, "audio"), "afp", 3, 10000)
    assert(rows(audioAppended)
      == rows(Multimodal.audioDedupFromArtifact(spark, dirB)))
    assert(rows(audioAppended)
      == rows(Multimodal.audioDedup(union)))
    // video: the frame-hash tier over (artifact + deltas)
    def videoAppended = Multimodal.videoDedupFromFrames(
      Artifacts.withDeltas(spark, dirA, "video_frames"))
    assert(rows(videoAppended)
      == rows(Multimodal.videoDedupFromArtifact(spark, dirB)))
    assert(rows(videoAppended)
      == rows(Multimodal.videoDedup(union)))
    // cold session: serve only, no decode, counter flat
    val s2 = spark.newSession()
    val buildsC = Artifacts.durableBuilds.get()
    val served =
      rows(Multimodal.imageDedupFromAppendedArtifact(s2, dirA))
    assert(Artifacts.durableBuilds.get() == buildsC,
      "cold-session appended media serve rebuilt something")
    assert(served ==
      rows(Multimodal.imageDedupFromAppendedArtifact(spark, dirA)))
  }

  test("multi-day deltas: two appended days serve identically to one " +
      "combined append and to the union rebuild (deltas compose)") {
    val real = t.documents
    val day1 = real.filter(pmod(col("doc_id"), lit(10L)) === 4)
    val d1a = day1.filter(pmod(col("doc_id"), lit(20L)) === 4)
    val d1b = day1.filter(pmod(col("doc_id"), lit(20L)) === 14)
    val base0 =
      real.filter(!pmod(col("doc_id"), lit(10L)).isin(3L, 4L))
    val inc = real.filter(pmod(col("doc_id"), lit(10L)) === 3)
    val baseText = real.filter(pmod(col("doc_id"), lit(10L)) =!= 3)
    // two-day home: day-1 split into two commit-marked deltas
    val dir2 = freshDir()
    Dedup.portableNearDupBaseDurableFrom(spark, base0, dir2)
    Dedup.appendToNearDupBase(spark, d1a, dir2, "day1")
    Dedup.appendToNearDupBase(spark, d1b, dir2, "day2")
    val multi = Dedup.portableIncNearDupsAgainstAppendedArtifact(
      spark, inc, baseText, base0, dir2).collect().map(_.toSeq)
    // single-delta home (q343's shape)
    val dir1 = freshDir()
    val single =
      Dedup.portableIncrementalNearDupsAppended(spark, real, dir1)
        .collect().map(_.toSeq)
    assert(multi.toSeq == single.toSeq,
      "two-day deltas != one-day append")
    // and both equal the union rebuild
    val dirU = freshDir()
    val rebuilt = Dedup.portableIncrementalNearDupsDurable(spark, real,
      dirU).collect().map(_.toSeq)
    assert(multi.toSeq == rebuilt.toSeq)
  }

  test("compaction: folding deltas into a fresh home preserves every " +
      "decision bit-for-bit, and the SOURCE frames are never " +
      "evaluated (compaction costs artifact mass, not corpus mass)") {
    val real = t.documents
    val emb = t.embeddings.select(col("vec_id"), col("embedding"))
    val inc = real.filter(pmod(col("doc_id"), lit(10L)) === 3)
    val baseText = real.filter(pmod(col("doc_id"), lit(10L)) =!= 3)
    // near-dup: appended home -> compacted home, decisions identical
    val nd = freshDir()
    val appendedNd =
      Dedup.portableIncrementalNearDupsAppended(spark, real, nd)
        .collect().map(_.toSeq)
    val ndC = freshDir()
    Dedup.compactNearDupBase(spark, nd, ndC)
    // the probe reads base TEXT only for surfaced candidates (that is
    // its contract) — but the compacted home must serve the BUCKETS
    // without a rebuild (build counter flat)
    val buildsNd = Artifacts.durableBuilds.get()
    val compactedNd = Dedup.portableIncNearDupsAgainstArtifact(spark,
      inc, baseText, ndC)
      .collect().map(_.toSeq)
    assert(Artifacts.durableBuilds.get() == buildsNd,
      "probing the compacted near-dup home rebuilt it")
    assert(compactedNd.toSeq == appendedNd.toSeq,
      "compacted near-dup home changed the decision")
    // exact screen: appended home -> compacted home
    val sc = freshDir()
    Dedup.materializedScreenBaseDurable(spark,
      real.filter(!pmod(col("doc_id"), lit(10L)).isin(3L, 4L)), sc)
    Dedup.appendFpsToScreenBase(spark,
      real.filter(pmod(col("doc_id"), lit(10L)) === 4), sc, "m4")
    val appendedSc = Dedup.crossCorpusNewFromAppendedArtifact(spark,
      inc, sys.error("base evaluated"), sc)
      .collect().map(_.toSeq).sortBy(_.toString)
    val scC = freshDir()
    Dedup.compactScreenBase(spark, sc, scC)
    val compactedSc = Dedup.crossCorpusNewFromDurableArtifact(spark,
      inc, sys.error("base evaluated on the compacted path"), scC)
      .collect().map(_.toSeq).sortBy(_.toString)
    assert(compactedSc.toSeq == appendedSc.toSeq,
      "compacted screen home changed the survivors")
    // semantic index: frozen-quantizer compaction — centroids copied
    // verbatim, decisions identical, vectors never re-assigned
    val sem = freshDir()
    val appendedSem =
      Similarity.semDedupIncrementalAppended(spark, t.embeddings, sem)
        .collect().map(_.toSeq)
    val semC = freshDir()
    Similarity.compactIvfIndex(spark, sem, semC)
    val buildsSem = Artifacts.durableBuilds.get()
    val compactedSem = Similarity.semDedupAgainstIndexDurable(spark,
      emb.filter(pmod(col("vec_id"), lit(10L)) === 3),
      emb.filter(!pmod(col("vec_id"), lit(10L)).isin(3L, 4L)), semC)
      .collect().map(_.toSeq)
    assert(Artifacts.durableBuilds.get() == buildsSem,
      "serving the compacted index rebuilt or retrained it")
    assert(compactedSem.toSeq == appendedSem.toSeq,
      "compacted index changed the SemDeDup decision")
    assert(spark.read.parquet(s"${Artifacts.canonical(semC)}/cents")
      .collect().map(_.toSeq).sortBy(_.toString).toSeq ==
      spark.read.parquet(s"${Artifacts.canonical(sem)}/cents")
        .collect().map(_.toSeq).sortBy(_.toString).toSeq,
      "compaction moved the centroids")
    // compacted homes carry no deltas; compacting an unbuilt home
    // fails loudly
    assert(Artifacts.committedDeltas(ndC).isEmpty &&
      Artifacts.committedDeltas(scC).isEmpty &&
      Artifacts.committedDeltas(semC).isEmpty)
    intercept[IllegalArgumentException] {
      Dedup.compactNearDupBase(spark, freshDir(), freshDir())
    }
    // PARAMS-SAFE folding (the r15 verdict's finding #1): a compactor
    // called with arguments that disagree with the source artifact's
    // params sidecar refuses — it copies rows verbatim, so stamping
    // the caller's arguments would mislabel the fold
    val eN = intercept[IllegalArgumentException] {
      Dedup.compactNearDupBase(spark, nd, freshDir(), numPerms = 32)
    }
    assert(eN.getMessage.contains("was built with"), eN.getMessage)
    val eS = intercept[IllegalArgumentException] {
      Dedup.compactScreenBase(spark, sc, freshDir(), fpp = 0.5)
    }
    assert(eS.getMessage.contains("was built with"), eS.getMessage)
    val eI = intercept[IllegalArgumentException] {
      Similarity.compactIvfIndex(spark, sem, freshDir(), cells = 16)
    }
    assert(eI.getMessage.contains("was built with"), eI.getMessage)
  }

  test("inventory + GC: debris always collected, orphaned committed " +
      "artifact collected, live committed artifact REFUSED, young " +
      "entries untouched") {
    import java.nio.file.{Files, Paths}
    val root = Files.createTempDirectory("graft_gc_root_").toString
    val live = Seq((sf, "documents.parquet"))
    val suffix = Artifacts.digest(
      sf + "|" + Artifacts.pathFingerprint(s"$sf/documents.parquet"))
    val liveDir = s"$root/fam_$suffix"
    Artifacts.durable("gcLive", liveDir, "p=1") { d =>
      Files.writeString(Paths.get(d, "payload"), "x")
    }
    val orphanDir = s"$root/fam_0123456789abcdef"
    Artifacts.durable("gcOrphan", orphanDir, "p=1") { d =>
      Files.writeString(Paths.get(d, "payload"), "y")
    }
    val debrisDir = s"$root/fam_deadbeefdeadbeef"
    Files.createDirectories(Paths.get(debrisDir))
    Files.writeString(Paths.get(debrisDir, "partial"), "junk")
    // inventory sees all three with the right flags
    val inv = Artifacts.inventory(spark, root, live).collect()
      .map(r => r.getString(0) ->
        (r.getBoolean(3), r.getBoolean(7))).toMap
    assert(inv(s"fam_$suffix") == ((true, true)))
    assert(inv("fam_0123456789abcdef") == ((true, false)))
    assert(inv("fam_deadbeefdeadbeef") == ((false, false)))
    // a too-young sweep touches nothing
    assert(Artifacts.gcArtifacts(root, live,
      minAgeMs = 3600000L).isEmpty)
    // a committed home whose name does NOT parse as
    // <family>_<16-hex> (a caller-named compaction target) is REFUSED
    // even past age — its suffix is garbage, not orphanhood evidence
    val callerNamed = s"$root/compacted_nd"
    Artifacts.durable("gcCallerNamed", callerNamed, "p=1") { d =>
      Files.writeString(Paths.get(d, "payload"), "z")
    }
    // nested delta debris inside the LIVE home: an uncommitted delta
    // tree + dot-prefixed staging debris are sweepable; a committed
    // delta is the serving set and stays
    val goodDelta = Artifacts.deltaDir(liveDir, "day1")
    Artifacts.durable("gcGoodDelta", goodDelta, "p=1") { d =>
      Files.writeString(Paths.get(d, "rows"), "r")
    }
    val crashedDelta = Paths.get(liveDir, "deltas", "day2_crashed")
    Files.createDirectories(crashedDelta)
    Files.writeString(crashedDelta.resolve("rows"), "half")
    val stagingDebris = Paths.get(liveDir, "deltas", ".graft_build_ff")
    Files.createDirectories(stagingDebris)
    // a due sweep collects the orphan + debris + nested delta debris,
    // refuses the live home, the caller-named home and committed deltas
    val deleted = Artifacts.gcArtifacts(root, live, minAgeMs = 0L)
    assert(deleted.map(p => p.substring(p.lastIndexOf('/') + 1))
      .toSet == Set("fam_0123456789abcdef", "fam_deadbeefdeadbeef",
        "day2_crashed", ".graft_build_ff"),
      s"gc deleted $deleted")
    assert(Artifacts.isCommitted(liveDir),
      "gc touched a live committed artifact")
    assert(Artifacts.isCommitted(callerNamed),
      "gc deleted a committed caller-named home on a garbage suffix")
    assert(Artifacts.committedDeltas(liveDir).size == 1 &&
      Artifacts.isCommitted(goodDelta),
      "gc touched a committed (serving) delta")
    assert(!Files.exists(crashedDelta) && !Files.exists(stagingDebris),
      "gc left nested delta debris behind")
    assert(!Files.exists(Paths.get(orphanDir)) &&
      !Files.exists(Paths.get(debrisDir)))
  }

  test("the composed appended admission (q342's shape) decomposes to " +
      "its three appended screens on the real corpus") {
    import graft.operators.Ingest
    val docs = t.documents
    val emb = t.embeddings
    val nearDir = freshDir(); val semDir = freshDir()
    val screenDir = freshDir()
    val manifest = Ingest.nightlyAdmissionAppended(spark, docs, emb,
      nearDir, semDir, screenDir).collect()
    val inc = docs.filter(pmod(col("doc_id"), lit(10L)) === 3)
    // exact column ≡ the appended screen recomputed
    val survivors = Dedup.crossCorpusNewFromAppendedArtifact(spark,
      inc, docs.filter(!pmod(col("doc_id"), lit(10L)).isin(3L, 4L)),
      screenDir).select("doc_id").collect().map(_.getLong(0)).toSet
    manifest.foreach { r =>
      assert(r.getBoolean(1) == !survivors(r.getLong(0)),
        s"exact_dup mismatch at ${r.getLong(0)}")
    }
    // near column ≡ min matching base id of the appended probe
    val near = Dedup.portableIncNearDupsAgainstAppendedArtifact(spark,
      inc, docs.filter(pmod(col("doc_id"), lit(10L)) =!= 3),
      docs.filter(!pmod(col("doc_id"), lit(10L)).isin(3L, 4L)),
      nearDir)
      .groupBy(col("new_id")).agg(min(col("base_id")).as("b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    manifest.foreach { r =>
      val expect = near.get(r.getLong(0))
      val got = if (r.isNullAt(2)) None else Some(r.getLong(2))
      assert(got == expect, s"near_dup_of mismatch at ${r.getLong(0)}")
    }
    // sem column ≡ the appended index decision
    val sem = Similarity.semDedupIncrementalAppended(spark, emb, semDir)
      .filter(col("dup_of").isNotNull)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    manifest.foreach { r =>
      val expect = sem.get(r.getLong(0))
      val got = if (r.isNullAt(3)) None else Some(r.getLong(3))
      assert(got == expect, s"sem_dup_of mismatch at ${r.getLong(0)}")
    }
    // admit = none of the three fired
    manifest.foreach { r =>
      assert(r.getBoolean(4) ==
        (!r.getBoolean(1) && r.isNullAt(2) && r.isNullAt(3)))
    }
  }
}
