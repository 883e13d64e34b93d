package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.multimodal.{AudioCodec, ImageCodec, Multimodal, VideoCodec}

class MultimodalSpec extends AnyFunSuite {
  lazy val spark = SharedSession.spark
  import spark.implicits._

  private def t = Tables(spark, "/root/testdata/sf0.001")
  private val dim = Multimodal.featureDim

  /** A solid-color PNG — the known-answer fixture. */
  private def encodeSolidPng(w: Int, h: Int, r: Int, g: Int,
      b: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    val rgb = (r << 16) | (g << 8) | b
    for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, rgb)
    ImageCodec.encodePng(img)
  }

  /** Total GRV1 clip duration in ms, from the container header. */
  private def durationMs(clip: Array[Byte]): Option[Long] =
    VideoCodec.header(clip).map { case (n, ms) => n.toLong * ms }

  test("known-color PNG decodes to the known feature vector") {
    // solid red: mean R=1, G=0, B=0; every luminance stripe = 0.299
    val red = encodeSolidPng(8, 8, 255, 0, 0)
    val f = ImageCodec.featureFromBytes(red, dim).get
    assert(math.abs(f(0) - 1.0f) < 1e-6f)
    assert(f(1) == 0.0f && f(2) == 0.0f)
    (3 until dim).foreach(i =>
      assert(math.abs(f(i) - 0.299f) < 1e-6f, s"stripe $i: ${f(i)}"))
    // solid mid-gray: every slot = 128/255
    val gray = encodeSolidPng(5, 7, 128, 128, 128)
    val g = ImageCodec.featureFromBytes(gray, dim).get
    g.foreach(v => assert(math.abs(v - 128f / 255f) < 1e-6f))
  }

  test("PNG fixture round-trips bit-exactly through ImageIO") {
    val bytes = ImageCodec.encodeFixturePng(9, 6, seed = 42L)
    val img = ImageCodec.decode(bytes).get
    assert(img.getWidth == 9 && img.getHeight == 6)
    for (y <- 0 until 6; x <- 0 until 9)
      assert((img.getRGB(x, y) & 0xffffff) == ImageCodec.fixturePixel(42L, x, y))
  }

  test("corrupt bytes decode to NULL feature, not a task failure") {
    assert(ImageCodec.featureFromBytes("not a png".getBytes, dim).isEmpty)
    val df = Seq((1L, "image", "garbage".getBytes),
        (2L, "image", encodeSolidPng(4, 4, 0, 255, 0)))
      .toDF("media_id", "kind", "bytes")
      .withColumn("meta", struct(lit(4).as("width"), lit(4).as("height"),
        lit(null).cast("long").as("duration_ms")))
    val rows = Multimodal.extractFeatures(df)
      .select("media_id", "feature").orderBy("media_id").collect()
    assert(rows(0).isNullAt(1))
    val f = rows(1).getSeq[Float](1)
    assert(math.abs(f(1) - 1.0f) < 1e-6f && f(0) == 0.0f)
  }

  test("q44 image features derive from really-decoded pixels") {
    val media = Multimodal.syntheticMedia(t).filter(col("kind") === "image")
    val feats = Multimodal.extractFeatures(media)
      .select("media_id", "feature").as[(Long, Seq[Float])]
    val bytes = media.select("media_id", "bytes").as[(Long, Array[Byte])]
      .collect().toMap
    val rows = feats.collect()
    assert(rows.nonEmpty)
    rows.foreach { case (id, f) =>
      val expect = ImageCodec.featureFromBytes(bytes(id), dim).get
      assert(f == expect.toSeq, s"media $id")
    }
    // and the fixture really is a PNG (magic bytes), not hash noise
    val magic = Array(0x89.toByte, 'P'.toByte, 'N'.toByte, 'G'.toByte)
    assert(bytes.values.forall(_.take(4).sameElements(magic)))
  }

  test("batched decode matches the column-shape decode for all kinds") {
    val media = Multimodal.syntheticMedia(t).limit(90)
    val a = Multimodal.decodeBatched(media, batchSize = 7)
      .filter(col("feature").isNotNull)
      .as[(Long, Seq[Float])].collect().toMap
    val b = Multimodal.extractFeatures(media)
      .select("media_id", "feature").as[(Long, Seq[Float])]
      .collect().toMap
    assert(a.keySet == b.keySet)
    a.foreach { case (id, f) => assert(f == b(id), s"media $id") }
  }

  test("WAV fixture round-trips bit-exactly through Java Sound") {
    val samples = Array.tabulate(777)(AudioCodec.fixtureSample(99L, _))
    val bytes = AudioCodec.encodeWav(samples)
    val (decoded, rate) = AudioCodec.decode(bytes).get
    assert(rate == AudioCodec.FixtureRate.toFloat)
    assert(decoded.toSeq == samples.toSeq)
  }

  test("known waveforms decode to the known audio features") {
    // constant +half-scale: RMS = meanAbs = stripes = 0.5, ZCR = 0
    val flat = AudioCodec.encodeWav(Array.fill[Short](800)(16384))
    val f = AudioCodec.featureFromBytes(flat, dim).get
    assert(math.abs(f(0) - 0.5f) < 1e-4f && f(1) == 0.0f)
    assert(math.abs(f(2) - 0.5f) < 1e-4f)
    (3 until dim).foreach(i => assert(math.abs(f(i) - 0.5f) < 1e-4f))
    // alternating sign: zero-crossing rate = 1
    val alt = AudioCodec.encodeWav(
      Array.tabulate[Short](800)(i => if (i % 2 == 0) 16384 else -16384))
    assert(AudioCodec.featureFromBytes(alt, dim).get(1) == 1.0f)
    // corrupt bytes -> None, never a throw
    assert(AudioCodec.featureFromBytes("not audio".getBytes, dim).isEmpty)
  }

  test("GRV1 video frames are real PNGs extracted and decoded exactly") {
    val clip = VideoCodec.encodeFixtureVideo(
      nFrames = 4, w = 6, h = 5, frameMs = 250, seed = 11L)
    assert(VideoCodec.header(clip).contains((4, 250)))
    assert(durationMs(clip).contains(1000L))
    (0 until 4).foreach { i =>
      val png = VideoCodec.frameAt(clip, i).get
      assert(png.sameElements(
        ImageCodec.encodeFixturePng(6, 5, VideoCodec.frameSeed(11L, i))))
      val img = ImageCodec.decode(png).get
      assert(img.getWidth == 6 && img.getHeight == 5)
    }
    assert(VideoCodec.frameAt(clip, 4).isEmpty)
    assert(VideoCodec.header("junk".getBytes).isEmpty)
    assert(VideoCodec.sampleFrames("junk".getBytes, 250).isEmpty)
  }

  test("scene changes: planted cuts found, steady shots stay uncut") {
    def solidPng(rgb: Int, split: Boolean): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(16, 16,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 16; x <- 0 until 16)
        img.setRGB(x, y,
          if (split && x >= 8) 0xFFFFFF else rgb)
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    val black = solidPng(0x000000, split = false)
    val contrast = solidPng(0x000000, split = true) // half black half white
    val clip = VideoCodec.encode(
      Seq(black, black, contrast, contrast, black), frameMs = 100)
    val media = Seq((1L, "video", clip)).toDF("media_id", "kind", "bytes")
    val got = Multimodal.sceneChanges(media, minHamming = 10)
      .select("prev_frame", "next_frame", "hamming", "is_cut")
      .as[(Int, Int, Int, Boolean)].collect().toSeq
    assert(got.map(r => (r._1, r._2, r._4)) ==
      Seq((0, 1, false), (1, 2, true), (2, 3, false), (3, 4, true)))
    // steady transitions are hash-identical; cuts are far apart
    assert(got.filter(!_._4).forall(_._3 == 0))
    assert(got.filter(_._4).forall(_._3 >= 20))
    // malformed container contributes zero rows
    val junk = Seq((2L, "video", "junk".getBytes))
      .toDF("media_id", "kind", "bytes")
    assert(Multimodal.sceneChanges(junk).count() == 0)
  }

  test("q45 frame samples derive from really-decoded frames") {
    val media = Multimodal.syntheticMedia(t).filter(col("kind") === "video")
    val bytes = media.select("media_id", "bytes").as[(Long, Array[Byte])]
      .collect().toMap
    val rows = Multimodal.sampleFrames(media)
      .select("media_id", "frame_idx", "frame_ts_ms", "frame_sha",
        "frame_mean_lum")
      .as[(Long, Int, Long, String, Double)].collect()
    assert(rows.nonEmpty)
    val sha = java.security.MessageDigest.getInstance("SHA-256")
    rows.foreach { case (id, idx, ts, hash, lum) =>
      val png = VideoCodec.frameAt(bytes(id), idx).get
      val expect = sha.digest(png).map(b => f"$b%02x").mkString
      assert(hash == expect, s"media $id frame $idx")
      assert(ts / Multimodal.FixtureFrameMs == idx)
      val direct = VideoCodec.meanLuminance(ImageCodec.decode(png).get)
      assert(math.abs(lum - direct) < 1e-6, s"media $id frame $idx")
    }
    // every frame of every clip is sampled exactly once at the
    // fixture cadence
    val perClip = rows.groupBy(_._1).view.mapValues(_.length)
    perClip.foreach { case (id, n) =>
      assert(VideoCodec.header(bytes(id)).get._1 == n, s"media $id")
    }
  }

  test("audio windows derive from really-decoded samples") {
    // flat half-scale clip: every full window has RMS 0.5, ZCR 0
    val flat = AudioCodec.encodeWav(Array.fill[Short](1000)(16384))
    val ws = AudioCodec.windows(flat, windowMs = 50).get
    // 8 kHz * 50 ms = 400 samples/window -> 1000 samples = 3 windows
    assert(ws.length == 3)
    assert(ws.map(_.idx) == Seq(0, 1, 2))
    assert(ws.map(_.startMs) == Seq(0L, 50L, 100L))
    ws.foreach { w =>
      assert(math.abs(w.rms - 0.5f) < 1e-4f && w.zcr == 0.0f)
    }
    assert(AudioCodec.windows("junk".getBytes, 50).isEmpty)
    // operator rows match direct codec computation
    val media = Multimodal.syntheticMedia(t).filter(col("kind") === "audio")
    val bytes = media.select("media_id", "bytes").as[(Long, Array[Byte])]
      .collect().toMap
    val rows = Multimodal.audioWindows(media)
      .select("media_id", "window_idx", "start_ms", "rms", "zcr")
      .as[(Long, Int, Long, Double, Double)].collect()
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (id, rs) =>
      val expect = AudioCodec.windows(bytes(id), 50).get
      assert(rs.length == expect.length, s"media $id")
      rs.sortBy(_._2).zip(expect).foreach { case ((_, i, ms, rms, zcr), e) =>
        assert(i == e.idx && ms == e.startMs, s"media $id window $i")
        assert(math.abs(rms - e.rms) < 1e-6 && math.abs(zcr - e.zcr) < 1e-6)
      }
    }
  }

  test("q44 audio/video features derive from real decodes") {
    val media = Multimodal.syntheticMedia(t)
      .filter(col("kind") =!= "image").limit(80)
    val bytes = media.select("media_id", "kind", "bytes")
      .as[(Long, String, Array[Byte])].collect()
    val feats = Multimodal.extractFeatures(media)
      .select("media_id", "feature").as[(Long, Seq[Float])]
      .collect().toMap
    assert(bytes.nonEmpty)
    bytes.foreach { case (id, kind, b) =>
      val expect = kind match {
        case "audio" => AudioCodec.featureFromBytes(b, dim).get
        case _ => VideoCodec.featureFromBytes(b, dim).get
      }
      assert(feats(id) == expect.toSeq, s"media $id ($kind)")
    }
    // audio fixtures really are RIFF/WAVE containers, video really GRV1
    bytes.foreach { case (_, kind, b) =>
      if (kind == "audio")
        assert(new String(b.take(4), "US-ASCII") == "RIFF")
      else assert(new String(b.take(4), "US-ASCII") == "GRV1")
    }
  }

  /** Uniform +delta on every channel, clamped at 255 — the near-dup
    * perturbation aHash is built to survive. */
  private def brightened(png: Array[Byte], delta: Int): Array[Byte] = {
    val img = ImageCodec.decode(png).get
    val out = new java.awt.image.BufferedImage(
      img.getWidth, img.getHeight,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until img.getHeight; x <- 0 until img.getWidth) {
      val p = img.getRGB(x, y)
      def ch(v: Int) = math.min(255, v + delta)
      out.setRGB(x, y, (ch((p >>> 16) & 0xff) << 16) |
        (ch((p >>> 8) & 0xff) << 8) | ch(p & 0xff))
    }
    ImageCodec.encodePng(out)
  }

  test("aHash: brightness-shift invariant, distant for unrelated images") {
    val base = ImageCodec.encodeFixturePng(16, 16, seed = 42L)
    val h1 = ImageCodec.aHashFromBytes(base).get
    val h2 = ImageCodec.aHashFromBytes(brightened(base, 2)).get
    assert(java.lang.Long.bitCount(h1 ^ h2) <= 3,
      s"brightness shift moved the hash ${java.lang.Long.bitCount(h1 ^ h2)} bits")
    val other = ImageCodec.encodeFixturePng(16, 16, seed = 43L)
    val h3 = ImageCodec.aHashFromBytes(other).get
    assert(java.lang.Long.bitCount(h1 ^ h3) > 10,
      "unrelated images should hash far apart")
    // corrupt bytes decode to None, not an exception
    assert(ImageCodec.aHashFromBytes("notapng".getBytes).isEmpty)
  }

  /** Clip with a 64-chunk loud/quiet energy ENVELOPE drawn from
    * envSeed and white-noise content drawn from noiseSeed — the
    * fingerprint keys on the envelope (temporal energy profile), so
    * same-envelope clips are near-dups regardless of noise content
    * and gain, while different envelopes land far apart. */
  private def envelopedClip(envSeed: Long, noiseSeed: Long,
      gain: Double = 1.0, n: Int = 8000): Array[Short] =
    Array.tabulate(n) { i =>
      val chunk = i.toLong * 64 / n
      val loud = (AudioCodec.fixtureSample(envSeed, chunk.toInt) & 1) == 0
      val amp = (if (loud) 1.0 else 0.1) * gain
      (AudioCodec.fixtureSample(noiseSeed, i) * amp).toShort
    }

  test("audio rmsFingerprint: profile-keyed, gain/noise invariant") {
    val f1 = AudioCodec.rmsFingerprint(envelopedClip(7L, 1L))
    // same envelope, HALF the gain, different noise content
    val f2 = AudioCodec.rmsFingerprint(envelopedClip(7L, 2L, gain = 0.5))
    assert(java.lang.Long.bitCount(f1 ^ f2) <= 3,
      s"re-levelled same-profile clip moved ${java.lang.Long.bitCount(f1 ^ f2)} bits")
    // different envelope: far apart
    val f3 = AudioCodec.rmsFingerprint(envelopedClip(8L, 1L))
    assert(java.lang.Long.bitCount(f1 ^ f3) > 10,
      "different energy profiles should fingerprint far apart")
    // degenerate inputs: empty clip is the zero fingerprint, corrupt
    // bytes decode to None, never an exception
    assert(AudioCodec.rmsFingerprint(Array.empty[Short]) == 0L)
    assert(AudioCodec.fingerprintFromBytes("notawav".getBytes).isEmpty)
  }

  test("audio dedup collapses a planted re-levelled near-duplicate") {
    val media = Seq(
      (1L, "audio", AudioCodec.encodeWav(envelopedClip(7L, 1L))),
      // near-copy: same envelope, re-levelled, fresh noise
      (2L, "audio", AudioCodec.encodeWav(envelopedClip(7L, 2L, gain = 0.5))),
      // unrelated profile survives alone
      (3L, "audio", AudioCodec.encodeWav(envelopedClip(8L, 3L))),
      (4L, "audio", "corruptcorruptcorrupt".getBytes),
      (5L, "image", AudioCodec.encodeWav(envelopedClip(7L, 1L))) // wrong kind
    ).toDF("media_id", "kind", "bytes")
    val got = Multimodal.audioDedup(media).collect()
      .map(r => r.getLong(0) -> ((r.getLong(2), r.getBoolean(3)))).toMap
    assert(got.keySet == Set(1L, 2L, 3L)) // corrupt + non-audio excluded
    assert(got(1L) == ((1L, true)))
    assert(got(2L) == ((1L, false))) // twin collapsed onto the original
    assert(got(3L) == ((3L, true)))
  }

  test("pHash: brightness shift flips at most the DC bit; sparse pixel " +
      "noise stays in a small hamming neighborhood; distinct images " +
      "hash far apart") {
    val img = ImageCodec.decode(
      ImageCodec.encodeFixturePng(16, 16, seed = 42L)).get
    val p0 = ImageCodec.pHash(img)
    // uniform brightness: only the DC coefficient moves
    val pb = ImageCodec.pHashFromBytes(
      brightened(ImageCodec.encodePng(img), 8)).get
    assert(java.lang.Long.bitCount(p0 ^ pb) <= 1,
      s"brightness moved ${java.lang.Long.bitCount(p0 ^ pb)} pHash bits")
    // sparse noise: flip a handful of pixels hard
    val noisy = new java.awt.image.BufferedImage(16, 16,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 16; x <- 0 until 16)
      noisy.setRGB(x, y, img.getRGB(x, y))
    Seq((1, 2), (7, 11), (13, 3)).foreach { case (x, y) =>
      noisy.setRGB(x, y, 0xffffff - (img.getRGB(x, y) & 0xffffff))
    }
    val pn = ImageCodec.pHash(noisy)
    // three hard-inverted pixels of 256 (≈1.2% of the image): the
    // frequency-domain hash moves a few bits, never a large fraction
    assert(java.lang.Long.bitCount(p0 ^ pn) <= 8,
      s"sparse noise moved ${java.lang.Long.bitCount(p0 ^ pn)} pHash bits")
    // distinct content is far apart
    val other = ImageCodec.decode(
      ImageCodec.encodeFixturePng(16, 16, seed = 43L)).get
    assert(java.lang.Long.bitCount(p0 ^ ImageCodec.pHash(other)) > 10)
    // corrupt bytes decode to None, never an exception
    assert(ImageCodec.pHashFromBytes("notapng".getBytes).isEmpty)
  }

  test("pHash dedup collapses planted noisy + brightened near-copies") {
    val base = ImageCodec.encodeFixturePng(16, 16, seed = 42L)
    val img = ImageCodec.decode(base).get
    val noisy = new java.awt.image.BufferedImage(16, 16,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 16; x <- 0 until 16)
      noisy.setRGB(x, y, img.getRGB(x, y))
    noisy.setRGB(5, 9, 0x000000)
    val media = Seq(
      (1L, "image", base),
      (2L, "image", brightened(base, 6)),
      (3L, "image", ImageCodec.encodePng(noisy)),
      (4L, "image", ImageCodec.encodeFixturePng(16, 16, seed = 43L)),
      (5L, "image", "corruptcorruptcorrupt".getBytes)
    ).toDF("media_id", "kind", "bytes")
    val got = Multimodal.imageDedupPhash(media).collect()
      .map(r => r.getLong(0) -> ((r.getLong(2), r.getBoolean(3)))).toMap
    assert(got.keySet == Set(1L, 2L, 3L, 4L))
    assert(got(1L) == ((1L, true)))
    assert(got(2L) == ((1L, false)) && got(3L) == ((1L, false)))
    assert(got(4L) == ((4L, true)))
  }

  test("video dedup collapses a per-frame-perturbed re-encode; trims, " +
      "distinct clips and corrupt containers stay separate") {
    val base = VideoCodec.encodeFixtureVideo(4, 16, 16, 40, seed = 5L)
    // near-copy: every frame brightened (aHash-invariant per frame)
    val frames = (0 until 4).map(i => VideoCodec.frameAt(base, i).get)
    val nearCopy = VideoCodec.encode(frames.map(brightened(_, 5)), 40)
    // a TRIM: the first 3 frames only — same content, different count
    val trimmed = VideoCodec.encode(frames.take(3), 40)
    // distinct clip: different seed, same shape
    val other = VideoCodec.encodeFixtureVideo(4, 16, 16, 40, seed = 6L)
    val media = Seq(
      (1L, "video", base),
      (2L, "video", nearCopy),
      (3L, "video", trimmed),
      (4L, "video", other),
      (5L, "video", "notavideo_notavideo".getBytes),
      (6L, "image", ImageCodec.encodeFixturePng(8, 8, 1L))
    ).toDF("media_id", "kind", "bytes")
    val got = Multimodal.videoDedup(media).collect()
      .map(r => r.getLong(0) -> ((r.getLong(2), r.getBoolean(3)))).toMap
    // corrupt container and non-video rows contribute nothing
    assert(got.keySet == Set(1L, 2L, 3L, 4L))
    // the perturbed re-encode collapses onto the original
    assert(got(1L) == ((1L, true)))
    assert(got(2L) == ((1L, false)), s"near-copy not collapsed: ${got(2L)}")
    // the trim (different decoded-frame count) and the distinct clip
    // keep themselves
    assert(got(3L) == ((3L, true)))
    assert(got(4L) == ((4L, true)))
  }

  test("videoFrameHashes: one row per decoded frame, hashes match the " +
      "frame images, n_frames counts decoded frames only") {
    val clip = VideoCodec.encodeFixtureVideo(3, 16, 16, 40, seed = 9L)
    val rows = Multimodal.videoFrameHashes(
      Seq((7L, "video", clip)).toDF("media_id", "kind", "bytes"))
      .orderBy("frame_idx").collect()
    assert(rows.length == 3 && rows.forall(_.getInt(1) == 3))
    rows.zipWithIndex.foreach { case (r, i) =>
      val expect = ImageCodec.aHashFromBytes(
        VideoCodec.frameAt(clip, i).get).get
      assert(r.getInt(2) == i && r.getLong(3) == expect)
    }
  }

  test("image dedup collapses a planted brightness-shifted near-duplicate") {
    val base = ImageCodec.encodeFixturePng(16, 16, seed = 42L)
    val media = Seq(
      (1L, "image", base),
      (2L, "image", brightened(base, 2)),
      (3L, "image", ImageCodec.encodeFixturePng(16, 16, seed = 43L)),
      (4L, "image", "corruptcorruptcorrupt".getBytes),
      (5L, "audio", base) // wrong kind: excluded from the image pass
    ).toDF("media_id", "kind", "bytes")
    val got = Multimodal.imageDedup(media).collect()
      .map(r => r.getLong(0) -> ((r.getLong(2), r.getBoolean(3)))).toMap
    assert(got.keySet == Set(1L, 2L, 3L)) // corrupt + non-image excluded
    assert(got(1L) == ((1L, true)))
    assert(got(2L) == ((1L, false))) // twin collapsed onto the original
    assert(got(3L) == ((3L, true))) // unrelated image survives alone
  }

  test("at-rest fingerprint artifact: all four dedup tiers serve " +
      "bit-identically to the inline tiers, and a fresh session " +
      "serves WITHOUT re-decoding (build counter flat, media frame " +
      "never evaluated)") {
    val media = Multimodal.syntheticMedia(t).localCheckpoint()
    val dir = java.nio.file.Files
      .createTempDirectory("graft_mediafp_spec_").resolve("fp").toString
    Multimodal.mediaFingerprintArtifact(spark, media, dir)
    assert(Artifacts.isCommitted(dir))
    val builds = Artifacts.durableBuilds.get()
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSeq
    // artifact ≡ inline, every tier
    assert(rows(Multimodal.imageDedupFromArtifact(spark, dir)) ==
      rows(Multimodal.imageDedup(media)))
    assert(rows(Multimodal.imageDedupPhashFromArtifact(spark, dir)) ==
      rows(Multimodal.imageDedupPhash(media)))
    assert(rows(Multimodal.audioDedupFromArtifact(spark, dir)) ==
      rows(Multimodal.audioDedup(media)))
    assert(rows(Multimodal.videoDedupFromArtifact(spark, dir)) ==
      rows(Multimodal.videoDedup(media)))
    // a FRESH session (the cold-JVM stand-in): the by-name media
    // argument must never be evaluated — a committed artifact serves
    // with zero media I/O and no rebuild
    val s2 = spark.newSession()
    Multimodal.mediaFingerprintArtifact(s2,
      sys.error("media frame evaluated on the committed path"), dir)
    assert(Artifacts.durableBuilds.get() == builds)
    assert(rows(Multimodal.imageDedupFromArtifact(s2, dir)) ==
      rows(Multimodal.imageDedup(media)))
  }

  test("MediaScaleTrial perturbations produce dedup-collapsible " +
      "near-dups for all three kinds (the dense-twin premise)") {
    // image: brightness shift keeps the aHash within the q147 verify
    // bound, so original + perturbed replica collapse
    val png = ImageCodec.encodeFixturePng(12, 9, seed = 42L)
    val pPng = Trial.perturbImage(png, 5)
    assert(!java.util.Arrays.equals(png, pPng), "perturb must re-encode")
    val h0 = ImageCodec.aHashFromBytes(png).get
    val h1 = ImageCodec.aHashFromBytes(pPng).get
    assert(java.lang.Long.bitCount(h0 ^ h1) <= 3,
      s"brightened replica drifted ${java.lang.Long.bitCount(h0 ^ h1)} bits")
    // audio: per-replica gain keeps the RMS-profile fingerprint close
    val wav = AudioCodec.encodeFixtureWav(2000, seed = 7L)
    val pWav = Trial.perturbAudio(wav, replica = 1)
    val f0 = AudioCodec.fingerprintFromBytes(wav).get
    val f1 = AudioCodec.fingerprintFromBytes(pWav).get
    assert(java.lang.Long.bitCount(f0 ^ f1) <= 3,
      s"re-levelled replica drifted ${java.lang.Long.bitCount(f0 ^ f1)} bits")
    // video: frame-wise brightening preserves frame count, cadence and
    // per-frame hash proximity
    val vid = VideoCodec.encodeFixtureVideo(3, 8, 6, frameMs = 40, seed = 3L)
    val pVid = Trial.perturbVideo(vid, 5)
    assert(VideoCodec.header(pVid) == VideoCodec.header(vid))
    val hs0 = VideoCodec.frameHashes(vid).get
    val hs1 = VideoCodec.frameHashes(pVid).get
    assert(hs0.length == hs1.length)
    hs0.zip(hs1).foreach { case ((i0, t0, a), (i1, t1, b)) =>
      assert(i0 == i1 && t0 == t1)
      assert(java.lang.Long.bitCount(a ^ b) <= 3,
        s"frame $i0 drifted ${java.lang.Long.bitCount(a ^ b)} bits")
    }
    // corrupt bytes pass through unchanged (never an exception)
    val junk = "notmedia".getBytes
    assert(java.util.Arrays.equals(Trial.perturbImage(junk, 3), junk))
    assert(java.util.Arrays.equals(Trial.perturbAudio(junk, 1), junk))
    assert(java.util.Arrays.equals(Trial.perturbVideo(junk, 3), junk))

    // and the dedup tiers collapse original + perturbed replica while
    // an unrelated item survives — the trial's dense twin in miniature
    val media = Seq(
      (1L, "image", png), (2L, "image", pPng),
      (3L, "image", ImageCodec.encodeFixturePng(12, 9, seed = 99L)),
      (11L, "audio", wav), (12L, "audio", pWav),
      (21L, "video", vid), (22L, "video", pVid)
    ).toDF("media_id", "kind", "bytes")
    val img = Multimodal.imageDedup(media).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(img(2L) == 1L && img(1L) == 1L && img(3L) == 3L)
    val aud = Multimodal.audioDedup(media).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(aud(12L) == 11L && aud(11L) == 11L)
    val vidd = Multimodal.videoDedup(media).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(vidd(22L) == 21L && vidd(21L) == 21L)
  }
}
