package graft.multimodal

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Artifacts.withDeltas
import graft.Tables
import graft.operators.Dedup

/** Multimodal column plumbing: image/audio/video as opaque `binary`
  * columns with typed metadata (SURVEY.md north-star).
  *
  * All three kinds decode for REAL on JDK-only codecs:
  *  - images: genuine PNGs through `javax.imageio` ([[ImageCodec]]);
  *  - audio: genuine PCM16 WAV through `javax.sound.sampled`
  *    ([[AudioCodec]]);
  *  - video: the JDK has no demuxer, so clips use the documented
  *    `GRV1` container of length-prefixed PNG frames and every frame
  *    decode is a real ImageIO decode ([[VideoCodec]]) — the container
  *    parse is the one seam an ffmpeg-style library replaces.
  * [[hashFeature]] remains only for kinds none of the codecs claim.
  *
  * Codec work is the one place a Scala UDF beats a Catalyst
  * expression: the kernel is an opaque library call on a local byte
  * array, with nothing for codegen to fuse. The UDFs stay inside
  * narrow projections, so the plans remain shuffle-free.
  *
  * At 100 TB: media bytes stay out of shuffles (decode/feature steps
  * are narrow map-side projections; only the small feature vectors and
  * metadata move), and batch size is governed by
  * `spark.sql.files.maxPartitionBytes` on the media table scan.
  * Corrupt media decode to NULL features (filterable), never task
  * failures — at corpus scale some bytes are always garbage.
  */
object Multimodal {

  val mediaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("kind", StringType, nullable = false), // image|audio|video
    StructField("bytes", BinaryType),
    StructField("meta", StructType(Seq(
      StructField("width", IntegerType),
      StructField("height", IntegerType),
      StructField("duration_ms", LongType))))))

  val featureDim = 16

  /** Frame cadence of the synthetic video fixtures (ms per frame). */
  val FixtureFrameMs = 250

  private val imageBytesUdf =
    udf((id: Long, w: Int, h: Int) => ImageCodec.encodeFixturePng(w, h, id))

  private val audioBytesUdf =
    udf((id: Long, n: Int) => AudioCodec.encodeFixtureWav(n, id))

  private val videoBytesUdf =
    udf((id: Long, nFrames: Int, w: Int, h: Int) =>
      VideoCodec.encodeFixtureVideo(nFrames, w, h, FixtureFrameMs, id))

  private val imageFeatureUdf =
    udf((b: Array[Byte]) =>
      ImageCodec.featureFromBytes(b, featureDim).map(_.toSeq))

  private val audioFeatureUdf =
    udf((b: Array[Byte]) =>
      AudioCodec.featureFromBytes(b, featureDim).map(_.toSeq))

  private val videoFeatureUdf =
    udf((b: Array[Byte]) =>
      VideoCodec.featureFromBytes(b, featureDim).map(_.toSeq))

  /** Build a deterministic media table from the documents corpus —
    * gives every downstream operator a real `binary` column to
    * exercise. Image rows carry REAL PNGs (4..16 px a side, pixels a
    * pure function of doc_id), audio rows REAL PCM16 WAV clips
    * (50..250 ms, waveform a pure function of doc_id), video rows
    * REAL GRV1 clips of 2..6 PNG frames. meta.width/height/
    * duration_ms are the true encoded values by construction (the
    * same arithmetic feeds the encoders). */
  def syntheticMedia(t: Tables): DataFrame = syntheticMediaFrom(t.documents)

  /** [[syntheticMedia]] over an arbitrary documents frame — the scale
    * trial regenerates replicas from SHIFTED doc ids through this
    * seam (content is a pure function of doc_id, so shifted ids =
    * unrelated media). */
  def syntheticMediaFrom(documents: DataFrame): DataFrame = {
    val kind = element_at(array(lit("image"), lit("audio"), lit("video")),
      (pmod(col("doc_id"), lit(3)) + 1).cast("int"))
    val iw = (pmod(col("doc_id"), lit(13)) + 4).cast("int")
    val ih = (pmod(col("doc_id"), lit(11)) + 4).cast("int")
    val aSamples = (pmod(col("doc_id"), lit(1601)) + 400).cast("int")
    val vFrames = (pmod(col("doc_id"), lit(5)) + 2).cast("int")
    val vw = (pmod(col("doc_id"), lit(6)) + 4).cast("int")
    val vh = (pmod(col("doc_id"), lit(5)) + 4).cast("int")
    documents.select(
      col("doc_id").as("media_id"),
      kind.as("kind"),
      when(kind === "image", imageBytesUdf(col("doc_id"), iw, ih))
        .when(kind === "audio", audioBytesUdf(col("doc_id"), aSamples))
        .otherwise(videoBytesUdf(col("doc_id"), vFrames, vw, vh))
        .as("bytes"),
      struct(
        when(kind === "image", iw)
          .when(kind === "video", vw).as("width"),
        when(kind === "image", ih)
          .when(kind === "video", vh).as("height"),
        when(kind === "audio", // floor division: all values positive
            floor((aSamples.cast("long") * 1000L) / AudioCodec.FixtureRate))
          .when(kind === "video",
            vFrames.cast("long") * FixtureFrameMs)
          .as("duration_ms")).as("meta"))
  }

  /** Deterministic hash-derived feature for kinds NONE of the JDK
    * codecs claim: "pixels" derived from byte content so tests have
    * stable values. The three shipped kinds never hit this path. */
  def hashFeature(bytes: Column, dim: Int): Column =
    transform(sequence(lit(0), lit(dim - 1)),
      i => (pmod(xxhash64(bytes, i), lit(256)) / 255.0).cast("float"))

  /** Feature extraction: decode -> pooled feature vector + content
    * hash. Images pool mean RGB + luminance stripes
    * ([[ImageCodec.pooledFeature]]), audio pools RMS/ZCR/stripe-RMS
    * ([[AudioCodec.pooledFeature]]), video means the per-frame image
    * features across really-decoded frames
    * ([[VideoCodec.featureFromBytes]]). Narrow projection; media
    * bytes never shuffle. */
  def extractFeatures(media: DataFrame, dim: Int = featureDim): DataFrame = {
    require(dim == featureDim,
      s"decoders pool to featureDim=$featureDim (UDFs are dim-fixed)")
    media.select(
      col("media_id"), col("kind"),
      col("meta.width").as("width"), col("meta.height").as("height"),
      length(col("bytes")).as("n_bytes"),
      sha2(col("bytes"), 256).as("content_sha256"),
      when(col("kind") === "image", imageFeatureUdf(col("bytes")))
        .when(col("kind") === "audio", audioFeatureUdf(col("bytes")))
        .when(col("kind") === "video", videoFeatureUdf(col("bytes")))
        .otherwise(hashFeature(col("bytes"), dim)).as("feature"))
  }

  /** REAL frame sampling for video: parse the container once per
    * clip, extract the frame under each sampled timestamp, decode it
    * with ImageIO, and emit (frame index, timestamp, SHA-256 of the
    * actual frame bytes, really-decoded mean luminance). One decode
    * per distinct frame however dense the sampling; malformed
    * containers contribute zero rows (filterable upstream via
    * NULL-feature queries). Narrow until the final explode. */
  def sampleFrames(media: DataFrame,
      everyMs: Long = FixtureFrameMs.toLong): DataFrame = {
    val sampler = udf((b: Array[Byte]) =>
      VideoCodec.sampleFrames(b, everyMs)
        .map(_.map(f => (f.frameIdx, f.tsMs, f.sha256, f.meanLum)))
        .getOrElse(Seq.empty[(Int, Long, String, Float)]))
    media.filter(col("kind") === "video")
      .select(col("media_id"), explode(sampler(col("bytes"))).as("f"))
      .select(col("media_id"),
        col("f._1").as("frame_idx"),
        col("f._2").as("frame_ts_ms"),
        col("f._3").as("frame_sha"),
        col("f._4").cast("double").as("frame_mean_lum"))
  }

  /** Scene-change detection: consecutive decoded frames compared by
    * perceptual-hash hamming distance ([[ImageCodec.aHash]] — the
    * same key [[imageDedup]] buckets on); a distance above
    * `minHamming` marks a cut. Each clip decodes ONCE inside a narrow
    * UDF and emits only its (prev, next, distance, is_cut) transition
    * rows — media bytes never shuffle, the per-clip work is O(frames)
    * and embarrassingly parallel across clips, which is the whole
    * 100 TB story for video analytics. Undecodable frames are skipped
    * (comparison spans the gap — a corrupt frame is not a cut);
    * malformed containers contribute zero rows. */
  def sceneChanges(media: DataFrame, minHamming: Int = 10): DataFrame = {
    val scan = udf((b: Array[Byte]) =>
      VideoCodec.frameHashes(b).map { hs =>
        hs.sliding(2).collect { case Seq((i0, t0, h0), (i1, _, h1)) =>
          (i0, i1, t0, java.lang.Long.bitCount(h0 ^ h1))
        }.toSeq
      }.getOrElse(Seq.empty[(Int, Int, Long, Int)]))
    media.filter(col("kind") === "video")
      .select(col("media_id"), explode(scan(col("bytes"))).as("t"))
      .select(col("media_id"),
        col("t._1").as("prev_frame"),
        col("t._2").as("next_frame"),
        col("t._3").as("prev_ts_ms"),
        col("t._4").as("hamming"))
      .withColumn("is_cut", col("hamming") > minHamming)
      .orderBy(col("media_id"), col("prev_frame"))
  }

  /** REAL windowed audio analysis: decode each clip once, split into
    * fixed-ms windows, emit per-window RMS + zero-crossing rate —
    * the audio analog of [[sampleFrames]]' explode shape (what a
    * VAD / speech-segmentation stage consumes). Undecodable clips
    * contribute zero rows. Narrow until the final explode. */
  def audioWindows(media: DataFrame, windowMs: Long = 50): DataFrame = {
    val winUdf = udf((b: Array[Byte]) =>
      AudioCodec.windows(b, windowMs)
        .map(_.map(w => (w.idx, w.startMs, w.rms, w.zcr)))
        .getOrElse(Seq.empty[(Int, Long, Float, Float)]))
    media.filter(col("kind") === "audio")
      .select(col("media_id"), explode(winUdf(col("bytes"))).as("w"))
      .select(col("media_id"),
        col("w._1").as("window_idx"),
        col("w._2").as("start_ms"),
        col("w._3").cast("double").as("rms"),
        col("w._4").cast("double").as("zcr"))
  }

  /** Per-partition BATCHED decode — the Scala analog of a Python
    * `mapInPandas` decode UDF: rows stream through in groups of
    * `batchSize` so a real codec can amortize model/codec setup per
    * batch (exactly the shape a GPU feature extractor needs). All
    * three kinds decode for real (same kernels as
    * [[extractFeatures]]); undecodable bytes produce a NULL feature
    * row. */
  def decodeBatched(media: DataFrame, dim: Int = featureDim,
      batchSize: Int = 64): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id"), col("kind"), col("bytes"))
      .as[(Long, String, Array[Byte])]
      .mapPartitions { rows =>
        rows.grouped(batchSize).flatMap { batch =>
          // Per-batch codec/model init slot: a real extractor loads
          // its model ONCE here; the JDK codecs are stateless
          // statics, so these kinds need no per-batch setup.
          batch.map { case (id, kind, bytes) =>
            val feat: Option[Array[Float]] = kind match {
              case "image" => ImageCodec.featureFromBytes(bytes, dim)
              case "audio" => AudioCodec.featureFromBytes(bytes, dim)
              case "video" => VideoCodec.featureFromBytes(bytes, dim)
              case _ =>
                // unknown kind: hash stand-in (same as hashFeature)
                Some(Array.tabulate(dim) { i =>
                  val h = org.apache.spark.unsafe.hash.Murmur3_x86_32
                    .hashUnsafeBytes(bytes,
                      org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET,
                      bytes.length, i)
                  (Math.floorMod(h, 256) / 255.0f)
                })
            }
            (id, feat)
          }
        }
      }.toDF("media_id", "feature")
  }

  private val aHashUdf = udf((b: Array[Byte]) => ImageCodec.aHashFromBytes(b))

  /** 64-bit perceptual average hash per image row ([[ImageCodec
    * .aHash]]); undecodable bytes yield NULL. Narrow projection —
    * bytes never shuffle. */
  def imageAHashes(media: DataFrame): DataFrame =
    media.filter(col("kind") === "image")
      .select(col("media_id"), aHashUdf(col("bytes")).as("ahash"))

  /** Perceptual near-duplicate IMAGE dedup — the multimodal twin of
    * the text near-dup family: aHash fingerprints (brightness-shift
    * invariant, unlike a content sha), the generic chunk-pigeonhole
    * candidate generator + hamming verify
    * ([[graft.operators.Dedup.hammingPairs]]), connected components
    * ([[graft.operators.Dedup.dupClusters]]), component-minimum
    * representative, keep = self-representative. Pixels are decoded
    * ONCE into 8 bytes per image; every later stage moves hashes,
    * never media bytes — the only shape that survives 100 TB of
    * images. */
  def imageDedup(media: DataFrame, maxHamming: Int = 3,
      maxBucket: Int = 10000): DataFrame =
    fingerprintDedup(imageAHashes(media), "ahash", maxHamming, maxBucket)

  /** The shared 64-bit-fingerprint dedup core — chunk-pigeonhole
    * candidates + hamming verify + connected components + component-
    * minimum representative — over an EXPLICIT (media_id, hash) frame,
    * so the inline tiers (hash straight off the decode UDF) and the
    * at-rest tiers (hash read from the fingerprint artifact) run the
    * IDENTICAL decision and cannot drift. */
  private[graft] def fingerprintDedup(hashes0: DataFrame, hashCol: String,
      maxHamming: Int, maxBucket: Int): DataFrame = {
    val hashes = hashes0.filter(col(hashCol).isNotNull)
    val pairs = graft.operators.Dedup.hammingPairs(
      hashes, "media_id", hashCol, maxHamming, maxBucket)
    val clusters = graft.operators.Dedup.dupClusters(
      pairs.select(col("d1"), col("d2")))
    hashes
      .join(clusters.withColumnRenamed("doc_id", "media_id"),
        Seq("media_id"), "left")
      .select(col("media_id"), col(hashCol),
        coalesce(col("cluster_id"), col("media_id")).as("rep_id"))
      .withColumn("keep", col("rep_id") === col("media_id"))
      .orderBy(col("media_id"))
  }

  private val pHashUdf = udf((b: Array[Byte]) => ImageCodec.pHashFromBytes(b))

  /** 64-bit DCT perceptual hash per image row ([[ImageCodec.pHash]]);
    * undecodable bytes yield NULL. Narrow projection — bytes never
    * shuffle. */
  def imagePHashes(media: DataFrame): DataFrame =
    media.filter(col("kind") === "image")
      .select(col("media_id"), pHashUdf(col("bytes")).as("phash"))

  /** [[imageDedup]] with the DCT pHash tier instead of aHash — the
    * robustness upgrade for sparse pixel noise (compression
    * artifacts, watermark dots): frequency-domain coefficients
    * integrate over the whole image, so localized perturbations that
    * flip aHash cells move every DCT coefficient only slightly. Same
    * 8-bytes-per-image shape: decode once, hash-only pigeonhole
    * blocking + hamming verify + CC — media bytes never shuffle. */
  def imageDedupPhash(media: DataFrame, maxHamming: Int = 3,
      maxBucket: Int = 10000): DataFrame =
    fingerprintDedup(imagePHashes(media), "phash", maxHamming, maxBucket)

  private val frameHashUdf = udf((b: Array[Byte]) =>
    VideoCodec.frameHashes(b)
      .map(_.map { case (idx, _, h) => (idx, h) })
      .getOrElse(Seq.empty[(Int, Long)]))

  /** Per-frame perceptual hashes per video row: (media_id, n_frames,
    * frame_idx, fhash) for every frame that really decodes
    * ([[VideoCodec.frameHashes]] — one container walk + one ImageIO
    * decode per frame, inside a narrow UDF). `n_frames` counts the
    * DECODED frames so downstream completeness checks don't credit
    * corrupt frames. Malformed containers contribute zero rows;
    * media bytes never shuffle — each clip leaves the scan as
    * 8 bytes per frame. */
  def videoFrameHashes(media: DataFrame): DataFrame =
    media.filter(col("kind") === "video")
      .select(col("media_id"), frameHashUdf(col("bytes")).as("hs"))
      .select(col("media_id"), size(col("hs")).as("n_frames"),
        explode(col("hs")).as("f"))
      .select(col("media_id"), col("n_frames"),
        col("f._1").as("frame_idx"), col("f._2").as("fhash"))

  /** Perceptual near-duplicate VIDEO dedup — the temporal member of
    * the multimodal dedup family ([[imageDedup]]/[[imageDedupPhash]]
    * for stills, [[audioDedup]] for audio). Unlike a single
    * clip-level hash, the signature here is the SEQUENCE of per-frame
    * aHashes, so two clips are near-dups only when their frames match
    * frame-by-frame: candidates come from the 16-bit chunk pigeonhole
    * applied PER (frame_idx, chunk) — a frame pair within `maxHamming`
    * must share a chunk — the video-level verify then requires the
    * same decoded-frame count and at least ceil(minFrac·n) aligned
    * frames within `maxHamming`, and verified pairs feed the generic
    * connected-components representative (component minimum,
    * keep = self). Re-encoded/lightly-perturbed copies collapse;
    * clips sharing only some frames (trims, different cuts) stay
    * separate at the default `minFrac`.
    *
    * Scale: decode once per clip inside the narrow hash UDF; every
    * later stage moves (id, idx, 8-byte hash) rows only. Blocking is
    * keyed by (frame_idx, chunk, chunk-bits) so candidate generation
    * spreads over frames × chunks; bucket cap:
    * [[graft.operators.Dedup.bandRows]]. The verify is a count over
    * matched frames — partial-aggregable, no window. Media bytes never
    * shuffle. */
  def videoDedup(media: DataFrame, maxHamming: Int = 3,
      minFrac: Double = 0.9, maxBucket: Int = 10000): DataFrame =
    videoDedupFromFrames(videoFrameHashes(media), maxHamming, minFrac,
      maxBucket)

  /** [[videoDedup]]'s decision over an EXPLICIT per-frame-hash frame —
    * shared by the inline tier (frames straight off the decode UDF)
    * and the at-rest tier (frames read from the fingerprint
    * artifact). */
  def videoDedupFromFrames(frames: DataFrame, maxHamming: Int = 3,
      minFrac: Double = 0.9, maxBucket: Int = 10000): DataFrame = {
    val matchedFrames = Dedup.selfBucketPairs(frameChunks(frames),
        Seq("frame_idx", "chunk", "ck"), "media_id", maxBucket)
      .filter(col("x.n_frames") === col("y.n_frames"))
      .select(col("x.media_id").as("m1"), col("y.media_id").as("m2"),
        col("frame_idx"), col("x.n_frames").as("n"),
        bit_count(col("x.fhash").bitwiseXOR(col("y.fhash")))
          .as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
    val pairs = matchedFrames.groupBy(col("m1"), col("m2"), col("n"))
      .agg(count(lit(1)).as("matched"))
      .filter(col("matched") >= ceil(lit(minFrac) * col("n")))
      .select(col("m1").as("d1"), col("m2").as("d2"))
    val clusters = graft.operators.Dedup.dupClusters(pairs)
    frames.select(col("media_id"), col("n_frames")).distinct()
      .join(clusters.withColumnRenamed("doc_id", "media_id"),
        Seq("media_id"), "left")
      .select(col("media_id"), col("n_frames"),
        coalesce(col("cluster_id"), col("media_id")).as("rep_id"))
      .withColumn("keep", col("rep_id") === col("media_id"))
      .orderBy(col("media_id"))
  }

  private val audioFpUdf =
    udf((b: Array[Byte]) => AudioCodec.fingerprintFromBytes(b))

  /** 64-bit chunked-RMS fingerprint per audio row ([[AudioCodec
    * .rmsFingerprint]]); undecodable bytes yield NULL. Narrow
    * projection — bytes never shuffle. */
  def audioFingerprints(media: DataFrame): DataFrame =
    media.filter(col("kind") === "audio")
      .select(col("media_id"), audioFpUdf(col("bytes")).as("afp"))

  /** Perceptual near-duplicate AUDIO dedup — closes the multimodal
    * family's last asymmetry (images: [[imageDedup]], video:
    * [[sceneChanges]]): gain-invariant chunked-RMS fingerprints, the
    * generic chunk-pigeonhole candidate generator + hamming verify
    * ([[graft.operators.Dedup.hammingPairs]]), connected components,
    * component-minimum representative, keep = self-representative.
    * Each clip is decoded ONCE into 8 bytes of fingerprint; every
    * later stage moves hashes, never media bytes — the same only-
    * shape-that-survives-100-TB argument as the image path. */
  def audioDedup(media: DataFrame, maxHamming: Int = 3,
      maxBucket: Int = 10000): DataFrame =
    fingerprintDedup(audioFingerprints(media), "afp", maxHamming,
      maxBucket)

  /** Serialize an array<float> column to a canonical CSV string —
    * the external harness sorts result rows, so every registered
    * query's output columns must be scalar. */
  private def featureCsv(c: Column): Column =
    array_join(c.cast("array<string>"), ",")

  /** The synthetic media table MATERIALIZED to parquet once per
    * (session, sfDir) at a [[graft.Artifacts.sessionHome]] and read
    * back as a real scan. In production media bytes are stored bytes —
    * every operator's input is a table scan, not a per-query re-encode
    * of the fixture corpus; the per-query cost under test is then the
    * DECODE kernel, which is the part a 100 TB run actually pays.
    * Content is a pure function of doc_id, so the one-time build is
    * deterministic and shared safely across the media queries. */
  def materializedMedia(s: SparkSession, d: String): DataFrame =
    s.read.parquet(mediaPaths.getOrElse((s, d), {
      val home = graft.Artifacts.durable(s,
          graft.Artifacts.sessionHome(s, "graft_media_", d), "media") { p =>
        syntheticMedia(Tables(s, d)).write.mode("overwrite").parquet(s"$p/m")
      }
      s"$home/m"
    }))

  /** Media tables that [[materializedMedia]] must serve for a
    * directory instead of deriving media from its documents table —
    * the scale-trial twins' perturbed/regenerated corpora. */
  private val mediaPaths =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), String]

  def registerMediaPath(s: SparkSession, d: String, path: String): Unit =
    mediaPaths.update((s, d), path)

  private val bothImageHashesUdf =
    udf((b: Array[Byte]) => ImageCodec.hashesFromBytes(b))

  /** AT-REST media fingerprints — the r13 media trial measured the
    * 10× wall as RE-DECODING (audio 7.1×, video 4.3–5.0×; the hash
    * stages ride 8-byte rows): this durable artifact is the
    * decode-once-per-CORPUS answer, the q299/q258 at-rest convention
    * applied to the media family. One committed build decodes every
    * image ONCE (aHash AND pHash from a single decode —
    * [[ImageCodec.hashesFromBytes]]), every audio clip and video
    * once, and persists ONLY (id, 8-byte fingerprint) rows:
    * `$dir/image` (media_id, ahash, phash), `$dir/audio` (media_id,
    * afp), `$dir/video_frames` (media_id, n_frames, frame_idx,
    * fhash). Every dedup tier then runs FROM the artifact
    * ([[imageDedupFromArtifact]] and friends — bit-identical to the
    * inline tiers by the shared decision cores), so re-runs, nightly
    * re-dedups, and fresh JVMs never touch media bytes again. At
    * 100 TB the artifact is GBs against the corpus's TBs — the only
    * media I/O that repeats is the fingerprint table scan.
    * Undecodable rows are dropped at build (the inline tiers drop
    * them at the same point — corrupt media can't pair anyway). */
  def mediaFingerprintArtifact(s: SparkSession, media: => DataFrame,
      dir: String): String =
    // `media` is BY-NAME: a committed artifact serves without even
    // materializing the media table (the fresh-JVM path pays zero
    // media I/O, which is the whole point)
    graft.Artifacts.durable(s, dir, "mediafp|v1") { d =>
      writeFingerprints(media, d)
    }

  /** The decode + fingerprint + persist pass — shared verbatim by the
    * base build and the delta append so the two cannot drift. */
  private def writeFingerprints(m: DataFrame, d: String): Unit = {
    m.filter(col("kind") === "image")
      .select(col("media_id"),
        bothImageHashesUdf(col("bytes")).as("h"))
      .filter(col("h").isNotNull)
      .select(col("media_id"), col("h._1").as("ahash"),
        col("h._2").as("phash"))
      .write.mode("overwrite").parquet(s"$d/image")
    audioFingerprints(m).filter(col("afp").isNotNull)
      .write.mode("overwrite").parquet(s"$d/audio")
    videoFrameHashes(m)
      .write.mode("overwrite").parquet(s"$d/video_frames")
  }

  /** APPEND a media increment's fingerprints to the durable artifact
    * as a commit-marked delta ([[graft.Artifacts.appendDelta]]) — the
    * q343/q344/q345 maintenance convention on the media family:
    * tonight's admitted images/clips are decoded ONCE at append time,
    * the base corpus is never re-decoded, and because the
    * fingerprints are per-item deterministic, (artifact + deltas) is
    * ROW-IDENTICAL to a rebuild over the union (spec-pinned;
    * q347 registers the appended image tier). Idempotent per delta
    * name. */
  def appendToMediaFingerprintArtifact(s: SparkSession,
      newMedia: => DataFrame, dir: String, deltaName: String): String =
    graft.Artifacts.appendDelta(s, dir, deltaName, "mediafpdelta|v1") {
      d => writeFingerprints(newMedia, d)
    }

  /** [[imageDedupFromArtifact]] over (artifact + committed deltas). */
  def imageDedupFromAppendedArtifact(s: SparkSession, dir: String,
      maxHamming: Int = 3, maxBucket: Int = 10000): DataFrame =
    fingerprintDedup(
      withDeltas(s, dir, "image").select(col("media_id"), col("ahash")),
      "ahash", maxHamming, maxBucket)

  /** [[imageDedup]] from the at-rest fingerprint artifact — zero
    * decodes, media bytes untouched. */
  def imageDedupFromArtifact(s: SparkSession, dir: String,
      maxHamming: Int = 3, maxBucket: Int = 10000): DataFrame =
    fingerprintDedup(
      s.read.parquet(s"$dir/image").select(col("media_id"), col("ahash")),
      "ahash", maxHamming, maxBucket)

  /** [[imageDedupPhash]] from the artifact (same single build serves
    * both image tiers). */
  def imageDedupPhashFromArtifact(s: SparkSession, dir: String,
      maxHamming: Int = 3, maxBucket: Int = 10000): DataFrame =
    fingerprintDedup(
      s.read.parquet(s"$dir/image").select(col("media_id"), col("phash")),
      "phash", maxHamming, maxBucket)

  /** [[audioDedup]] from the artifact. */
  def audioDedupFromArtifact(s: SparkSession, dir: String,
      maxHamming: Int = 3, maxBucket: Int = 10000): DataFrame =
    fingerprintDedup(s.read.parquet(s"$dir/audio"), "afp", maxHamming,
      maxBucket)

  /** [[videoDedup]] from the artifact's per-frame hash table. */
  def videoDedupFromArtifact(s: SparkSession, dir: String,
      maxHamming: Int = 3, minFrac: Double = 0.9,
      maxBucket: Int = 10000): DataFrame =
    videoDedupFromFrames(s.read.parquet(s"$dir/video_frames"),
      maxHamming, minFrac, maxBucket)

  // ------------------------------------------------------------------
  // MEDIA ADMISSION SCREEN (r16): the media family composed into the
  // nightly-ingest manifest — each increment item's fingerprint
  // probed against the durable (base + delta) artifact, per-kind
  // tiers, inc decoded ONCE inline (increment-sized), base never
  // re-decoded. Per-doc INDEPENDENT: no inc×inc pair ever forms, so
  // micro-batched serving unions to the batch result by construction
  // (the q83/q145 stream-twin argument).
  // ------------------------------------------------------------------

  /** Asymmetric 64-bit probe: inc fingerprints against base
    * fingerprints via the same chunk-pigeonhole blocking as
    * [[graft.operators.Dedup.hammingPairs]], but inc×base ONLY —
    * admission judges each increment item against the base, never
    * against tonight's siblings. Returns (inc_id, base_id). */
  private def probe64(inc: DataFrame, base: DataFrame, hashCol: String,
      maxHamming: Int, maxBucket: Int): DataFrame = {
    def chunked(f: DataFrame): DataFrame =
      Dedup.chunkRows(f.filter(col(hashCol).isNotNull),
        Seq(col("media_id"), col(hashCol).as("h")), col(hashCol))
    Dedup.crossBucketPairs(chunked(inc), chunked(base), Seq("chunk", "ck"),
        maxBucket)
      .select(col("x.media_id").as("inc_id"),
        col("y.media_id").as("base_id"),
        bit_count(col("x.h").bitwiseXOR(col("y.h"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
      .select(col("inc_id"), col("base_id"))
  }

  /** (media_id, n_frames, frame_idx, fhash, chunk, ck) per-frame chunk
    * rows — video blocking is keyed by (frame_idx, chunk, ck). */
  private def frameChunks(frames: DataFrame): DataFrame =
    Dedup.chunkRows(frames, Seq("media_id", "n_frames", "frame_idx",
      "fhash").map(col), col("fhash"))

  /** Asymmetric frame-sequence probe (the [[videoDedupFromFrames]]
    * rule, inc×base only): clips match when they have the same frame
    * count and ≥ `minFrac` of positions hamming-match. */
  private def probeFrames(inc: DataFrame, base: DataFrame,
      maxHamming: Int, minFrac: Double, maxBucket: Int): DataFrame =
    Dedup.crossBucketPairs(frameChunks(inc), frameChunks(base),
        Seq("frame_idx", "chunk", "ck"), maxBucket)
      .filter(col("x.n_frames") === col("y.n_frames"))
      .select(col("x.media_id").as("inc_id"),
        col("y.media_id").as("base_id"), col("frame_idx"),
        col("x.n_frames").as("n"),
        bit_count(col("x.fhash").bitwiseXOR(col("y.fhash")))
          .as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
      .groupBy(col("inc_id"), col("base_id"), col("n"))
      .agg(count(lit(1)).as("matched"))
      .filter(col("matched") >= ceil(lit(minFrac) * col("n")))
      .select(col("inc_id"), col("base_id"))

  /** The probe core over EXPLICIT base fingerprint frames — the
    * at-rest screen ([[mediaAdmissionScreen]]) passes the artifact's;
    * IngestSpec passes fingerprints recomputed from decoded base media
    * to pin the two equal. Returns one row per DUPLICATE increment
    * item: (media_id, media_dup_of = min matching base id). */
  private[graft] def mediaAdmissionCore(incMedia: DataFrame,
      baseImg: DataFrame, baseAud: DataFrame, baseVid: DataFrame,
      maxHamming: Int, minFrac: Double, maxBucket: Int): DataFrame =
    probe64(imageAHashes(incMedia), baseImg, "ahash", maxHamming,
        maxBucket)
      .unionByName(probe64(audioFingerprints(incMedia), baseAud, "afp",
        maxHamming, maxBucket))
      .unionByName(probeFrames(videoFrameHashes(incMedia), baseVid,
        maxHamming, minFrac, maxBucket))
      .groupBy(col("inc_id").as("media_id"))
      .agg(min(col("base_id")).as("media_dup_of"))

  /** The MEDIA screen of the nightly admission, served from the
    * durable (base + committed deltas) fingerprint artifact: the
    * increment is decoded once tonight; the base contributes at-rest
    * 8-byte fingerprints — zero base decode, media bytes never
    * shuffle. */
  def mediaAdmissionScreen(s: SparkSession, incMedia: DataFrame,
      dir: String, maxHamming: Int = 3, minFrac: Double = 0.9,
      maxBucket: Int = 10000): DataFrame =
    mediaAdmissionCore(incMedia,
      withDeltas(s, dir, "image").select(col("media_id"), col("ahash")),
      withDeltas(s, dir, "audio"),
      withDeltas(s, dir, "video_frames"), maxHamming, minFrac, maxBucket)

  /** The media screen run CONTINUOUSLY — a media-record stream
    * (media_id, kind, bytes) screened per micro-batch against the
    * static durable fingerprint artifact, into idempotent per-batch
    * parquet (the q83/q145 stream-twin convention:
    * [[mediaAdmissionScreen]] IS the batch transform, so stream ==
    * batch by construction — per-doc decisions are independent, no
    * inc×inc pair ever forms, so micro-batched serving unions to the
    * whole-batch screen; StreamingSpec pins the union against the
    * batch tier). Stateless — the artifact is the static side Spark
    * re-plans per batch; each batch decodes ONCE, the base never. */
  def mediaAdmissionStream(s: SparkSession, mediaStream: DataFrame,
      dir: String, path: String, checkpoint: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    mediaStream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch((batch: DataFrame, batchId: Long) =>
        graft.streaming.StreamingOps.writeBatchIdempotent(
          mediaAdmissionScreen(s, batch, dir), batchId, path))

  /** The durable fingerprint home for a dataset dir — the
    * [[graft.Artifacts.durableDirFor]] convention keyed to the
    * documents table (the synthetic media is a pure function of
    * it). */
  def mediaFpDurableDir(d: String): String =
    graft.Artifacts.durableDirFor("mediafp", d, "documents.parquet")

  /** Durable home for the ADMISSION-cycle media fingerprints (q350):
    * the day-0 %10∉{3,4} base is a DIFFERENT input than the
    * whole-corpus q331-q334 artifact — same knobs, different data
    * must never share a durable dir. */
  def mediaFp9DurableDir(d: String): String =
    graft.Artifacts.durableDirFor("mediafp9", d, "documents.parquet")

  /** Ensure the fingerprint artifact for `d` exists; return its dir
    * (the accessor the four at-rest queries share — one build serves
    * all of them, across sessions and JVMs). */
  private def ensureMediaFp(s: SparkSession, d: String): String =
    mediaFingerprintArtifact(s, materializedMedia(s, d),
      mediaFpDurableDir(d))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q44_multimodal_features" -> ((s, d) =>
      extractFeatures(materializedMedia(s, d))
        .withColumn("feature", featureCsv(col("feature")))
        .orderBy("media_id")),
    "q45_video_frame_sample" -> ((s, d) =>
      sampleFrames(materializedMedia(s, d))
        .orderBy("media_id", "frame_ts_ms")),
    "q56_multimodal_batched_decode" -> ((s, d) =>
      decodeBatched(materializedMedia(s, d))
        .withColumn("feature", featureCsv(col("feature")))
        .orderBy("media_id")),
    "q137_audio_windows" -> ((s, d) =>
      audioWindows(materializedMedia(s, d))
        .orderBy("media_id", "window_idx")),
    "q147_image_dedup" -> ((s, d) =>
      imageDedup(materializedMedia(s, d))),
    "q264_image_phash_dedup" -> ((s, d) =>
      imageDedupPhash(materializedMedia(s, d))),
    "q195_audio_dedup" -> ((s, d) =>
      audioDedup(materializedMedia(s, d))),
    "q266_video_dedup" -> ((s, d) =>
      videoDedup(materializedMedia(s, d))),
    // the AT-REST tiers: dedup FROM the durable fingerprint artifact
    // (one commit-marked build decodes the corpus once; these queries
    // — and any fresh JVM — then never touch media bytes). Rows-only
    // like the rest of the codec family; MultimodalSpec pins
    // artifact ≡ inline bit-for-bit for all four.
    "q331_image_dedup_atrest" -> ((s, d) =>
      imageDedupFromArtifact(s, ensureMediaFp(s, d))),
    // the media family's MAINTENANCE tier (r15): day-0 fingerprints
    // (media_id %10 ∉ {3,4}) built durable, day-1 media (%10=4)
    // APPENDED as a commit-marked delta — tonight's items decoded
    // once, the base never re-decoded; rows-only like its family,
    // appended ≡ rebuilt ≡ inline spec-pinned bit-for-bit. Home
    // prefixed "mediafp9": a different input than q331's whole-corpus
    // base must never share a durable dir
    "q347_image_dedup_appended" -> ((s, d) => {
      val dir = mediaFp9DurableDir(d)
      mediaFingerprintArtifact(s, materializedMedia(s, d)
        .filter(!pmod(col("media_id"), lit(10L)).isin(3L, 4L)), dir)
      appendToMediaFingerprintArtifact(s, materializedMedia(s, d)
        .filter(pmod(col("media_id"), lit(10L)) === 4), dir, "m4")
      imageDedupFromAppendedArtifact(s, dir)
    }),
    "q332_image_phash_atrest" -> ((s, d) =>
      imageDedupPhashFromArtifact(s, ensureMediaFp(s, d))),
    "q333_audio_dedup_atrest" -> ((s, d) =>
      audioDedupFromArtifact(s, ensureMediaFp(s, d))),
    "q334_video_dedup_atrest" -> ((s, d) =>
      videoDedupFromArtifact(s, ensureMediaFp(s, d))),
    "q186_scene_changes" -> ((s, d) =>
      sceneChanges(materializedMedia(s, d)))
  )

  val oracleSql: Map[String, String] = Map()
}
