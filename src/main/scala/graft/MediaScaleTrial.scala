package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.multimodal.{AudioCodec, ImageCodec, Multimodal, VideoCodec}

/** MEDIA-axis scale trial — the round-12 verdict's named gap: the
  * multimodal dedup family (q147 aHash, q264 pHash, q195 audio
  * fingerprint, q266 per-frame video) had no measured growth row; its
  * "8-byte fingerprints bound the shuffle, candidate volume rides
  * chunk-bucket density" claim was design-argued only. This trial is
  * the [[EmbedScaleTrial]] template on the media table:
  *
  *  - **dense twin** (`x{factor}`): `factor` replicas of the sf media
  *    corpus with shifted media_id; replica 0 is byte-identical,
  *    replicas ≥ 1 are PERCEPTUALLY-NEAR copies built with the real
  *    codecs — images re-encoded with a per-replica brightness shift
  *    (aHash/pHash near-invariant), audio re-levelled with a
  *    per-replica gain (rmsFingerprint gain-invariant), video frames
  *    brightened frame-by-frame — so every original gains factor−1
  *    cross-replica near-dups: the re-encode/re-host dup mass a
  *    bigger crawl actually carries;
  *  - **sparse twin** (`x{factor}r`): replicas REGENERATED from
  *    shifted doc ids (media content is a pure function of doc_id),
  *    so cross-replica fingerprints are unrelated and true-dup mass
  *    stays ~factor.
  *
  * Next to wall clocks it prints the STRUCTURAL counts the 100 TB
  * claim is about: per-family pigeonhole candidate volume (the
  * chunk-bucket self-join's row count BEFORE the hamming verify) vs
  * the all-pairs contract it replaces — and the hash-table row width
  * (8-byte fingerprints), confirming media bytes never shuffle.
  *
  * Usage: runMain graft.MediaScaleTrial [baseSfDir] [factor] [workDir]
  */
object MediaScaleTrial {

  private val TrialQueries = Seq(
    "q147_image_dedup", // aHash + chunk pigeonhole + CC
    "q264_image_phash_dedup", // DCT pHash tier of the same machinery
    "q195_audio_dedup", // chunked-RMS fingerprint tier
    "q266_video_dedup") // per-(frame_idx, chunk) pigeonhole

  def main(args: Array[String]): Unit = {
    val baseDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val factor = if (args.length > 1) args(1).toInt else 10
    val workDir = if (args.length > 2) args(2) else "/tmp/graft_mscale"
    val spark = Bench.timingSession()
    val denseDir = s"$workDir/x$factor"
    val sparseDir = s"$workDir/x${factor}r"
    buildDense(spark, baseDir, denseDir, factor)
    buildSparse(spark, baseDir, sparseDir, factor)
    Bench.warmUp(spark, baseDir)
    val countsOnly = args.length > 3 && args(3) == "counts"
    // "artifact": only the at-rest fingerprint economics cells (the
    // r14 decode-once-per-corpus claim measured — q331-q334)
    if (args.length > 3 && args(3) == "artifact") {
      artifactEconomics(spark, baseDir, denseDir, factor)
      spark.stop(); return
    }
    if (!countsOnly) {
      println(f"${"query"}%-24s ${"base_s"}%8s ${"x" + factor + "_s"}%8s " +
        f"${"x" + factor + "r_s"}%8s dense sparse")
      TrialQueries.foreach { name =>
        val fn = SparkEntry.queries(name)
        val base = Bench.best2(fn(spark, baseDir))
        val dense = Bench.best2(fn(spark, denseDir))
        val sparse = Bench.best2(fn(spark, sparseDir))
        println(f"$name%-24s $base%8.2f $dense%8.2f $sparse%8.2f " +
          f"${dense / base}%5.1fx ${sparse / base}%5.1fx")
      }
    }
    // structural counts: pigeonhole candidate volume per family vs
    // the all-pairs contract — the number that scales, independent of
    // this VM's wall-clock noise
    for (dir <- Seq(baseDir, denseDir, sparseDir)) {
      val media = Multimodal.materializedMedia(spark, dir)
      val im = Multimodal.imageAHashes(media)
        .filter(col("ahash").isNotNull)
      val au = Multimodal.audioFingerprints(media)
        .filter(col("afp").isNotNull)
      val nIm = im.count(); val nAu = au.count()
      val cIm = operators.Dedup
        .hammingCandidates(im, "media_id", "ahash", 10000).distinct().count()
      val cAu = operators.Dedup
        .hammingCandidates(au, "media_id", "afp", 10000).distinct().count()
      println(s"$dir: images n=$nIm all_pairs=${nIm * (nIm - 1) / 2} " +
        s"pigeonhole_cands=$cIm | audio n=$nAu " +
        s"all_pairs=${nAu * (nAu - 1) / 2} pigeonhole_cands=$cAu")
    }
    spark.stop()
  }

  /** The AT-REST fingerprint economics (r14): the r13 trial measured
    * re-decoding as the 10× wall; the durable fingerprint artifact
    * (q331–q334) claims dedup then rides 8-byte rows only. Measured:
    * one-time artifact build (the decode term — grows with the
    * corpus, paid once per corpus lifetime) vs the per-tier SERVE
    * from the artifact vs the inline tier that re-decodes every run.
    * The serve column is the nightly re-dedup cost; the inline
    * column is what every run used to pay. */
  private def artifactEconomics(spark: SparkSession, baseDir: String,
      denseDir: String, factor: Int): Unit = {
    import Bench.{best2, clock}
    println(f"${"cell"}%-26s ${"serve_s"}%8s ${"inline_s"}%9s")
    Seq(("base", baseDir), (s"x$factor", denseDir)).foreach {
      case (label, dir0) =>
        val media = Multimodal.materializedMedia(spark, dir0)
        // a fresh artifact dir per run: the BUILD cost is measured
        // honestly, not served from a previous trial's commit
        val fpDir = java.nio.file.Files
          .createTempDirectory("graft_mediafp_trial_").resolve("fp")
          .toString
        val (tBuild, _) = clock {
          Multimodal.mediaFingerprintArtifact(spark, media, fpDir)
        }
        // the decode-and-fingerprint build is paid ONCE PER CORPUS,
        // not per tier — its own line, so the table cannot read as if
        // each tier paid it (the r14 ADVICE layout finding)
        println(f"${label + "/shared_fp_build"}%-26s $tBuild%8.2f" +
          "   (once per corpus, all tiers share it)")
        val tiers = Seq[(String, () => DataFrame, () => DataFrame)](
          ("image_ahash",
            () => Multimodal.imageDedupFromArtifact(spark, fpDir),
            () => Multimodal.imageDedup(media)),
          ("image_phash",
            () => Multimodal.imageDedupPhashFromArtifact(spark, fpDir),
            () => Multimodal.imageDedupPhash(media)),
          ("audio",
            () => Multimodal.audioDedupFromArtifact(spark, fpDir),
            () => Multimodal.audioDedup(media)),
          ("video",
            () => Multimodal.videoDedupFromArtifact(spark, fpDir),
            () => Multimodal.videoDedup(media)))
        tiers.foreach { case (tier, atRest, inline) =>
          val tServe = best2(atRest())
          val tInline = best2(inline())
          println(f"${label + "/" + tier}%-26s $tServe%8.2f " +
            f"$tInline%9.2f")
        }
    }
  }

  // ---- twin builders --------------------------------------------------

  private val brightenImage = udf((b: Array[Byte], delta: Int) =>
    perturbImage(b, delta))

  private val relevelAudio = udf((b: Array[Byte], replica: Int) =>
    perturbAudio(b, replica))

  private val brightenVideo = udf((b: Array[Byte], delta: Int) =>
    perturbVideo(b, delta))

  /** Decode → uniform brightness shift (clamped) → re-encode PNG.
    * aHash compares each cell to the image mean, so a uniform shift
    * moves numerator and mean together — the planted near-dup device
    * MultimodalSpec uses, here at corpus scale. */
  private[graft] def perturbImage(b: Array[Byte],
      delta: Int): Array[Byte] =
    ImageCodec.decode(b).map { img =>
      val out = new java.awt.image.BufferedImage(img.getWidth,
        img.getHeight, java.awt.image.BufferedImage.TYPE_INT_RGB)
      var y = 0
      while (y < img.getHeight) {
        var x = 0
        while (x < img.getWidth) {
          val p = img.getRGB(x, y)
          def c(v: Int) = math.min(255, math.max(0, v + delta))
          out.setRGB(x, y, (c((p >> 16) & 0xff) << 16) |
            (c((p >> 8) & 0xff) << 8) | c(p & 0xff))
          x += 1
        }
        y += 1
      }
      ImageCodec.encodePng(out)
    }.getOrElse(b)

  /** Decode → scale every sample by a per-replica gain → re-encode
    * WAV. rmsFingerprint normalizes by the clip mean RMS, so the
    * energy PROFILE (and the fingerprint) is gain-invariant. */
  private[graft] def perturbAudio(b: Array[Byte],
      replica: Int): Array[Byte] =
    AudioCodec.decode(b).map { case (samples, rate) =>
      val gain = 1.0 / (1 + (replica % 4))
      AudioCodec.encodeWav(
        samples.map(s => (s * gain).toShort), rate.toInt)
    }.getOrElse(b)

  /** Re-encode the GRV1 container with every frame brightened — the
    * clip stays frame-count- and cadence-identical, each frame an
    * aHash near-dup of the original's. */
  private[graft] def perturbVideo(b: Array[Byte],
      delta: Int): Array[Byte] =
    (for {
      (nFrames, frameMs) <- VideoCodec.header(b)
      frames <- Some((0 until nFrames)
        .flatMap(i => VideoCodec.frameAt(b, i)))
      if frames.length == nFrames
    } yield VideoCodec.encode(
      frames.map(perturbImage(_, delta)), frameMs)).getOrElse(b)

  /** Idempotent dense-twin build: the base media table replicated
    * `factor`× with shifted ids; replicas ≥ 1 perceptually perturbed
    * per kind. Written as a media parquet the queries read via the
    * same materialization path (documents etc. copy as-is so Tables
    * resolves). */
  def buildDense(spark: SparkSession, baseDir: String, outDir: String,
      factor: Int): Unit = {
    if (new java.io.File(s"$outDir/_MEDIA_SUCCESS").exists()) {
      // idempotent re-entry still has to point the session at the
      // PRE-BUILT media table, or materializedMedia would regenerate
      // unperturbed media from the copied documents
      Multimodal.registerMediaPath(spark, outDir,
        s"$outDir/media.parquet")
      return
    }
    copyTables(spark, baseDir, outDir)
    val media = Multimodal.materializedMedia(spark, baseDir)
    val span = media.agg(max(col("media_id"))).head.getLong(0) + 1
    val reps = (0 until factor).map { i =>
      val shifted = media.withColumn("media_id",
        col("media_id") + lit(i * span))
      if (i == 0) shifted
      else shifted.withColumn("bytes",
        when(col("kind") === "image",
          brightenImage(col("bytes"), lit(i % 8 + 1)))
          .when(col("kind") === "audio",
            relevelAudio(col("bytes"), lit(i)))
          .otherwise(brightenVideo(col("bytes"), lit(i % 8 + 1))))
    }
    reps.reduce(_ unionAll _)
      .write.mode("overwrite").parquet(s"$outDir/media.parquet")
    new java.io.File(s"$outDir/_MEDIA_SUCCESS").createNewFile()
    Multimodal.registerMediaPath(spark, outDir,
      s"$outDir/media.parquet")
  }

  /** Idempotent sparse-twin build: replicas REGENERATED from shifted
    * doc ids — unrelated content, background-only collisions. */
  def buildSparse(spark: SparkSession, baseDir: String, outDir: String,
      factor: Int): Unit = {
    if (new java.io.File(s"$outDir/_MEDIA_SUCCESS").exists()) {
      Multimodal.registerMediaPath(spark, outDir,
        s"$outDir/media.parquet")
      return
    }
    copyTables(spark, baseDir, outDir)
    val docs = Tables(spark, baseDir).documents
    val span = docs.agg(max(col("doc_id"))).head.getLong(0) + 1
    val reps = (0 until factor).map { i =>
      Multimodal.syntheticMediaFrom(
        docs.withColumn("doc_id", col("doc_id") + lit(i * span)))
    }
    reps.reduce(_ unionAll _)
      .write.mode("overwrite").parquet(s"$outDir/media.parquet")
    new java.io.File(s"$outDir/_MEDIA_SUCCESS").createNewFile()
    Multimodal.registerMediaPath(spark, outDir,
      s"$outDir/media.parquet")
  }

  private def copyTables(spark: SparkSession, baseDir: String,
      outDir: String): Unit = {
    new java.io.File(outDir).mkdirs()
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "documents", "embeddings").foreach { n =>
      if (!new java.io.File(s"$outDir/$n.parquet").exists())
        spark.read.parquet(s"$baseDir/$n.parquet")
          .write.mode("overwrite").parquet(s"$outDir/$n.parquet")
    }
  }
}
