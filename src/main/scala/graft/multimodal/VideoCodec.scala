package graft.multimodal

import java.nio.{ByteBuffer, ByteOrder}
import java.security.MessageDigest

/** Video handling without an external library: the JDK ships no video
  * DEMUXER, but it does ship a real image codec — so video fixtures
  * use a tiny documented container (`GRV1`) of length-prefixed PNG
  * frames, and every frame decode is a REAL `javax.imageio` decode
  * ([[ImageCodec]]). The container parse below is the exact seam
  * where an ffmpeg-style demuxer plugs in at production scale: swap
  * [[header]]/[[frameAt]] for the library call and everything
  * downstream (sampling cadence, per-frame features, Spark column
  * shapes) is unchanged.
  *
  * Container layout (all ints big-endian):
  * {{{
  *   bytes 0..3   magic "GRV1"
  *   bytes 4..7   frame count (> 0)
  *   bytes 8..11  frame duration in ms (> 0)
  *   then per frame: 4-byte payload length + PNG bytes
  * }}}
  */
object VideoCodec {

  private val Magic = Array[Byte]('G', 'R', 'V', '1')

  /** Seed for frame `idx` of a clip seeded `seed` — deterministic, so
    * a spec can regenerate any frame's expected pixels via
    * [[ImageCodec.fixturePixel]] without touching the container. */
  def frameSeed(seed: Long, idx: Int): Long = seed * 7919L + idx

  /** Assemble a GRV1 container from already-encoded frames. */
  def encode(frames: Seq[Array[Byte]], frameMs: Int): Array[Byte] = {
    require(frames.nonEmpty && frameMs > 0)
    val size = 12 + frames.map(_.length + 4).sum
    val buf = ByteBuffer.allocate(size).order(ByteOrder.BIG_ENDIAN)
    buf.put(Magic)
    buf.putInt(frames.length)
    buf.putInt(frameMs)
    frames.foreach { f => buf.putInt(f.length); buf.put(f) }
    buf.array()
  }

  /** Deterministic fixture clip: `nFrames` w×h PNG frames, frame i
    * drawn from [[ImageCodec.fixturePixel]]([[frameSeed]](seed, i)). */
  def encodeFixtureVideo(nFrames: Int, w: Int, h: Int, frameMs: Int,
      seed: Long): Array[Byte] =
    encode(Seq.tabulate(nFrames)(i =>
      ImageCodec.encodeFixturePng(w, h, frameSeed(seed, i))), frameMs)

  /** (frameCount, frameMs), or None when the bytes are not a wellformed
    * GRV1 container — corrupt media yield NULL rows, not task
    * failures. */
  def header(bytes: Array[Byte]): Option[(Int, Int)] =
    if (bytes == null || bytes.length < 12 ||
        !bytes.take(4).sameElements(Magic)) None
    else {
      val buf = ByteBuffer.wrap(bytes, 4, 8).order(ByteOrder.BIG_ENDIAN)
      val n = buf.getInt; val ms = buf.getInt
      if (n <= 0 || ms <= 0) None else Some((n, ms))
    }

  /** Raw PNG bytes of frame `idx`; None past the end or on a
    * malformed container. */
  def frameAt(bytes: Array[Byte], idx: Int): Option[Array[Byte]] =
    header(bytes).flatMap { case (n, _) =>
      if (idx < 0 || idx >= n) None
      else {
        var off = 12
        var i = 0
        var bad = false
        while (!bad && i < idx) {
          if (off + 4 > bytes.length) bad = true
          else {
            val len = ByteBuffer.wrap(bytes, off, 4)
              .order(ByteOrder.BIG_ENDIAN).getInt
            if (len < 0) bad = true
            else { off += 4 + len; i += 1 }
          }
        }
        if (bad || off + 4 > bytes.length) None
        else {
          val len = ByteBuffer.wrap(bytes, off, 4)
            .order(ByteOrder.BIG_ENDIAN).getInt
          if (len < 0 || off + 4 + len > bytes.length) None
          else Some(java.util.Arrays.copyOfRange(bytes, off + 4, off + 4 + len))
        }
      }
    }

  private def sha256Hex(b: Array[Byte]): String =
    MessageDigest.getInstance("SHA-256").digest(b)
      .map(x => f"$x%02x").mkString

  /** One sampled frame: container index, clip timestamp, SHA-256 of
    * the actual frame bytes, and the frame's really-decoded mean
    * Rec.601 luminance in [0,1]. */
  final case class SampledFrame(frameIdx: Int, tsMs: Long, sha256: String,
      meanLum: Float)

  /** Sample the clip every `everyMs` ms (timestamps 0, everyMs, … <
    * duration), extracting and REALLY decoding the frame under each
    * timestamp. One container parse + one ImageIO decode per DISTINCT
    * frame index, however dense the sampling. None for malformed
    * containers; a frame whose PNG payload doesn't decode is skipped
    * (the clip's other frames still sample). */
  def sampleFrames(bytes: Array[Byte], everyMs: Long)
      : Option[Seq[SampledFrame]] =
    header(bytes).map { case (n, frameMs) =>
      val duration = n.toLong * frameMs
      val stamps = 0L.until(duration, everyMs)
      val byIdx = stamps.groupBy(ts => (ts / frameMs).toInt)
      byIdx.toSeq.sortBy(_._1).flatMap { case (idx, tss) =>
        frameAt(bytes, idx).toSeq.flatMap { png =>
          val sha = sha256Hex(png)
          ImageCodec.decode(png).toSeq.flatMap { img =>
            val lum = meanLuminance(img)
            tss.map(ts => SampledFrame(idx, ts, sha, lum))
          }
        }
      }.sortBy(_.tsMs)
    }

  /** Per-frame perceptual hashes of a clip: (frameIdx, tsMs, aHash)
    * for every frame whose PNG payload REALLY decodes (one container
    * walk, one ImageIO decode + [[ImageCodec.aHash]] per frame).
    * None for malformed containers; undecodable frames are skipped —
    * the scene-change detector then compares across the gap, which is
    * the robust choice (a corrupt frame is not a cut). */
  def frameHashes(bytes: Array[Byte]): Option[Seq[(Int, Long, Long)]] =
    header(bytes).map { case (n, frameMs) =>
      (0 until n).flatMap { idx =>
        frameAt(bytes, idx).flatMap(ImageCodec.aHashFromBytes)
          .map(h => (idx, idx.toLong * frameMs, h)).toSeq
      }
    }

  /** Image-wide mean Rec.601 luminance in [0,1]; integer accumulation
    * until the final division. */
  def meanLuminance(img: java.awt.image.BufferedImage): Float = {
    val w = img.getWidth; val h = img.getHeight
    var acc = 0L
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val rgb = img.getRGB(x, y)
        acc += 299L * ((rgb >>> 16) & 0xff) + 587L * ((rgb >>> 8) & 0xff) +
          114L * (rgb & 0xff)
        x += 1
      }
      y += 1
    }
    (acc.toDouble / (w.toLong * h * 255000.0)).toFloat
  }

  /** Mean of per-frame pooled features ([[ImageCodec.pooledFeature]])
    * across every frame of the clip — the whole-clip descriptor
    * [[Multimodal.extractFeatures]] publishes for videos. Frames are
    * visited in container order, so the float mean is deterministic.
    * None when the container is malformed or NO frame decodes. */
  def featureFromBytes(bytes: Array[Byte], dim: Int): Option[Array[Float]] =
    header(bytes).flatMap { case (n, _) =>
      val feats = (0 until n).flatMap(i =>
        frameAt(bytes, i).flatMap(ImageCodec.featureFromBytes(_, dim)))
      if (feats.isEmpty) None
      else {
        val out = new Array[Float](dim)
        var d = 0
        while (d < dim) {
          var s = 0.0
          feats.foreach(f => s += f(d))
          out(d) = (s / feats.length).toFloat
          d += 1
        }
        Some(out)
      }
    }
}
