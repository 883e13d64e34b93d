package graft.multimodal

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream, AudioSystem, UnsupportedAudioFileException}

/** Real audio codec work on the JDK's built-in Java Sound API
  * (`javax.sound.sampled` ships WAV/AIFF/AU readers with every JRE —
  * no external library needed, the same argument that makes
  * [[ImageCodec]] real). Executor-side kernels only: encode
  * deterministic PCM16 WAV fixtures, decode arbitrary audio bytes to
  * samples, and pool samples into a fixed-size feature vector
  * (RMS energy / zero-crossing rate / per-stripe RMS — the classic
  * cheap audio descriptors).
  *
  * Nothing here touches Spark; the [[Multimodal]] operators call these
  * from inside narrow UDF/`mapPartitions` shapes, so plans stay
  * shuffle-free no matter what the codec does.
  */
object AudioCodec {

  /** Default fixture sample rate — 8 kHz keeps fixtures tiny. */
  val FixtureRate = 8000

  /** splitmix64 finalizer — same deterministic mixer the image
    * fixtures use ([[ImageCodec]]); pure integer math, identical on
    * every JVM. */
  private def mix64(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** Deterministic signed 16-bit sample for fixture generation — a
    * stable function of (seed, i) so a spec can recompute the expected
    * waveform without decoding. */
  def fixtureSample(seed: Long, i: Int): Short =
    (mix64(seed * 1000003L + i.toLong) & 0xffffL).toShort

  /** Encode samples as PCM_SIGNED 16-bit mono little-endian WAV via
    * `AudioSystem.write`. PCM is lossless: decode recovers the exact
    * samples, so fixtures round-trip bit-exactly. */
  def encodeWav(samples: Array[Short], sampleRate: Int = FixtureRate)
      : Array[Byte] = {
    val fmt = new AudioFormat(sampleRate.toFloat, 16, 1, true, false)
    val pcm = new Array[Byte](samples.length * 2)
    var i = 0
    while (i < samples.length) {
      pcm(2 * i) = (samples(i) & 0xff).toByte
      pcm(2 * i + 1) = ((samples(i) >> 8) & 0xff).toByte
      i += 1
    }
    val ais = new AudioInputStream(
      new ByteArrayInputStream(pcm), fmt, samples.length.toLong)
    val bos = new ByteArrayOutputStream()
    AudioSystem.write(ais, AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  /** Deterministic n-sample WAV fixture whose waveform is
    * [[fixtureSample]](seed, i). */
  def encodeFixtureWav(nSamples: Int, seed: Long,
      sampleRate: Int = FixtureRate): Array[Byte] =
    encodeWav(Array.tabulate(nSamples)(fixtureSample(seed, _)), sampleRate)

  /** Decode audio bytes to (samples, sampleRate); None for bytes no
    * installed reader accepts (corrupt media decode to NULL features
    * downstream, never task failures). Non-PCM16 inputs are converted
    * through Java Sound's format-conversion chain first, so any
    * WAV/AIFF/AU variant the JRE reads lands in one canonical shape. */
  def decode(bytes: Array[Byte]): Option[(Array[Short], Float)] =
    try {
      val src = AudioSystem.getAudioInputStream(new ByteArrayInputStream(bytes))
      val f = src.getFormat
      val target = new AudioFormat(f.getSampleRate, 16, 1, true, false)
      val ais =
        if (f.matches(target)) src
        else AudioSystem.getAudioInputStream(target, src)
      val pcm = ais.readAllBytes()
      val n = pcm.length / 2
      val out = new Array[Short](n)
      var i = 0
      while (i < n) {
        out(i) = ((pcm(2 * i) & 0xff) | (pcm(2 * i + 1) << 8)).toShort
        i += 1
      }
      Some((out, target.getSampleRate))
    } catch {
      case _: UnsupportedAudioFileException => None
      case _: java.io.IOException => None
      case _: IllegalArgumentException => None // unconvertible format
    }

  /** Pool samples into a `dim`-length feature vector:
    * slot 0 = overall RMS amplitude in [0,1]; slot 1 = zero-crossing
    * rate in [0,1]; slot 2 = mean |amplitude| in [0,1]; slots
    * 3..dim-1 = RMS over `dim-3` contiguous sample stripes — the
    * audio analog of [[ImageCodec.pooledFeature]]'s luminance
    * stripes. Accumulation is integer (Long sums of s and s²) until
    * the final division, so the result does not depend on visitation
    * order. */
  def pooledFeature(samples: Array[Short], dim: Int): Array[Float] = {
    require(dim >= 4, s"feature dim must be >= 4, got $dim")
    val n = samples.length
    if (n == 0) return new Array[Float](dim)
    val stripes = dim - 3
    var sq = 0L; var sabs = 0L; var zc = 0L
    val stripeSq = new Array[Long](stripes)
    val stripeCnt = new Array[Long](stripes)
    var i = 0
    while (i < n) {
      val s = samples(i).toLong
      sq += s * s
      sabs += math.abs(s)
      if (i > 0 && ((samples(i - 1) < 0) != (s < 0))) zc += 1
      val idx = (i.toLong * stripes / n).toInt
      stripeSq(idx) += s * s
      stripeCnt(idx) += 1L
      i += 1
    }
    val out = new Array[Float](dim)
    out(0) = (math.sqrt(sq.toDouble / n) / 32768.0).toFloat
    out(1) = if (n > 1) (zc.toDouble / (n - 1)).toFloat else 0.0f
    out(2) = (sabs.toDouble / (n * 32768.0)).toFloat
    var k = 0
    while (k < stripes) {
      out(3 + k) =
        if (stripeCnt(k) == 0L) 0.0f
        else (math.sqrt(stripeSq(k).toDouble / stripeCnt(k)) / 32768.0).toFloat
      k += 1
    }
    out
  }

  /** Decode + pool in one call; None when the bytes don't decode. */
  def featureFromBytes(bytes: Array[Byte], dim: Int): Option[Array[Float]] =
    decode(bytes).map { case (samples, _) => pooledFeature(samples, dim) }

  /** 64-bit chunked-RMS fingerprint — the audio analog of
    * [[ImageCodec.aHash]]: the clip is cut into 64 equal-time chunks,
    * bit k set iff chunk k's RMS energy sits above the mean chunk
    * RMS. A global gain change scales every chunk RMS and their mean
    * together, so the above/below-mean pattern (the temporal energy
    * PROFILE) survives re-levelling, light noise, and re-encoding —
    * the property that makes this a NEAR-dup key where a content
    * checksum sees two different files. Integer (Long) accumulation
    * until the final sqrt, so the result is visitation-order
    * independent, like [[pooledFeature]]. */
  def rmsFingerprint(samples: Array[Short]): Long = {
    val chunks = 64
    val n = samples.length
    if (n == 0) return 0L
    val sq = new Array[Long](chunks)
    val cnt = new Array[Long](chunks)
    var i = 0
    while (i < n) {
      val s = samples(i).toLong
      val idx = (i.toLong * chunks / n).toInt
      sq(idx) += s * s
      cnt(idx) += 1L
      i += 1
    }
    val rms = Array.tabulate(chunks)(k =>
      if (cnt(k) == 0L) 0.0 else math.sqrt(sq(k).toDouble / cnt(k)))
    val mean = rms.sum / chunks
    var fp = 0L
    var k = 0
    while (k < chunks) {
      if (rms(k) > mean) fp |= (1L << k)
      k += 1
    }
    fp
  }

  /** Decode + fingerprint; None when the bytes don't decode. */
  def fingerprintFromBytes(bytes: Array[Byte]): Option[Long] =
    decode(bytes).map { case (samples, _) => rmsFingerprint(samples) }

  /** One analysis window: index, start offset in ms, RMS amplitude
    * and zero-crossing rate over the window's really-decoded samples
    * (both in [0,1]). */
  final case class AudioWindow(idx: Int, startMs: Long, rms: Float,
      zcr: Float)

  /** Split a clip into fixed-`windowMs` windows (last one may be
    * short) and compute per-window RMS + zero-crossing rate — the
    * audio analog of [[VideoCodec.sampleFrames]]: one decode per
    * clip, one output row per window. None when the bytes don't
    * decode. */
  def windows(bytes: Array[Byte], windowMs: Long): Option[Seq[AudioWindow]] =
    decode(bytes).map { case (samples, rate) =>
      val per = math.max(1, (rate.toDouble * windowMs / 1000.0).toInt)
      samples.grouped(per).zipWithIndex.map { case (w, i) =>
        var sq = 0L; var zc = 0L
        var j = 0
        while (j < w.length) {
          val s = w(j).toLong
          sq += s * s
          if (j > 0 && ((w(j - 1) < 0) != (s < 0))) zc += 1
          j += 1
        }
        AudioWindow(i, i.toLong * per * 1000L / rate.toLong,
          (math.sqrt(sq.toDouble / w.length) / 32768.0).toFloat,
          if (w.length > 1) (zc.toDouble / (w.length - 1)).toFloat else 0.0f)
      }.toSeq
    }
}
