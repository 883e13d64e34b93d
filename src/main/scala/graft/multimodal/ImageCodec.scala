package graft.multimodal

import java.awt.image.BufferedImage
import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import javax.imageio.ImageIO

/** Real image codec work on the JDK's built-in ImageIO (PNG/BMP/JPEG
  * readers ship with every JRE — no external library needed). This is
  * the executor-side kernel the Multimodal operators call from inside
  * their `mapPartitions`/UDF column shapes: encode deterministic PNG
  * fixtures, decode arbitrary image bytes, and pool pixels to a
  * fixed-size feature vector.
  *
  * Everything here is per-row CPU work on bytes that are already local
  * to the task — nothing in this object touches Spark, so the operators
  * keep their narrow, shuffle-free plans regardless of what the codec
  * does.
  */
object ImageCodec {

  /** Deterministic 64-bit mix (splitmix64 finalizer) — the pixel
    * generator for synthetic fixtures. Pure integer math: identical on
    * every JVM, unlike anything float-based. */
  private def mix64(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** Deterministic per-pixel RGB for fixture generation: a stable
    * function of (seed, x, y) so any engine (or a spec) can recompute
    * the expected pixel without decoding. */
  def fixturePixel(seed: Long, x: Int, y: Int): Int = {
    val h = mix64(seed * 1000003L + y.toLong * 4099L + x.toLong)
    val r = (h & 0xff).toInt
    val g = ((h >>> 8) & 0xff).toInt
    val b = ((h >>> 16) & 0xff).toInt
    (r << 16) | (g << 8) | b
  }

  /** Encode a deterministic w×h RGB PNG whose pixels are
    * [[fixturePixel]](seed, x, y). PNG is lossless, so decode recovers
    * the exact generated pixels — the fixture round-trips bit-exactly. */
  def encodeFixturePng(w: Int, h: Int, seed: Long): Array[Byte] = {
    val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        img.setRGB(x, y, fixturePixel(seed, x, y))
        x += 1
      }
      y += 1
    }
    encodePng(img)
  }

  def encodePng(img: BufferedImage): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** Decode image bytes; None for bytes no installed reader accepts
    * (corrupt/truncated media are a fact of life at corpus scale —
    * callers surface them as NULL features, not task failures). */
  def decode(bytes: Array[Byte]): Option[BufferedImage] =
    try Option(ImageIO.read(new ByteArrayInputStream(bytes)))
    catch { case _: java.io.IOException => None }

  /** Pool a decoded image into a `dim`-length feature vector:
    * slots 0..2 are the image-wide mean R,G,B in [0,1]; slots 3..dim-1
    * are mean Rec.601 luminance (0.299 R + 0.587 G + 0.114 B, in
    * [0,1]) over `dim-3` contiguous row-major pixel stripes — a
    * deterministic, resolution-independent "thumbnail" any downstream
    * similarity operator can consume. Accumulation is integer until
    * the final division, so the result does not depend on pixel
    * visitation order. */
  def pooledFeature(img: BufferedImage, dim: Int): Array[Float] = {
    require(dim >= 4, s"feature dim must be >= 4, got $dim")
    val w = img.getWidth
    val h = img.getHeight
    val n = w.toLong * h
    val stripes = dim - 3
    var sr = 0L; var sg = 0L; var sb = 0L
    // per-stripe integer sums of (299 R + 587 G + 114 B)
    val lum = new Array[Long](stripes)
    val cnt = new Array[Long](stripes)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val rgb = img.getRGB(x, y)
        val r = (rgb >>> 16) & 0xff
        val g = (rgb >>> 8) & 0xff
        val b = rgb & 0xff
        sr += r; sg += g; sb += b
        val idx = y.toLong * w + x
        val s = ((idx * stripes) / n).toInt
        lum(s) += 299L * r + 587L * g + 114L * b
        cnt(s) += 1L
        x += 1
      }
      y += 1
    }
    val out = new Array[Float](dim)
    out(0) = (sr.toDouble / (n * 255.0)).toFloat
    out(1) = (sg.toDouble / (n * 255.0)).toFloat
    out(2) = (sb.toDouble / (n * 255.0)).toFloat
    var s = 0
    while (s < stripes) {
      out(3 + s) =
        if (cnt(s) == 0L) 0.0f
        else (lum(s).toDouble / (cnt(s) * 255000.0)).toFloat
      s += 1
    }
    out
  }

  /** Decode + pool in one call; None when the bytes don't decode. */
  def featureFromBytes(bytes: Array[Byte], dim: Int): Option[Array[Float]] =
    decode(bytes).map(pooledFeature(_, dim))

  /** 64-bit average hash (aHash) of a decoded image: pool Rec.709
    * integer luminance (2126 R + 7152 G + 722 B) onto an 8x8 cell
    * grid — each cell averages its floor-partitioned pixel range,
    * falling back to the single nearest pixel for images narrower
    * than 8 px — then set bit (cy*8+cx) when the cell's mean exceeds
    * the mean of the 64 cell means. A uniform brightness shift moves
    * every cell and the global mean together, so the hash is
    * invariant to it — the property that makes aHash a NEAR-dup key
    * where a content sha is an exact-dup key. Accumulation is pure
    * integer; the two final divisions are IEEE doubles evaluated in a
    * fixed order, so the hash is deterministic on any JVM. */
  def aHash(img: BufferedImage): Long = {
    val w = img.getWidth
    val h = img.getHeight
    val means = new Array[Double](64)
    var cy = 0
    while (cy < 8) {
      val y0 = cy * h / 8
      val y1 = math.max(y0 + 1, (cy + 1) * h / 8)
      var cx = 0
      while (cx < 8) {
        val x0 = cx * w / 8
        val x1 = math.max(x0 + 1, (cx + 1) * w / 8)
        var sum = 0L
        var y = y0
        while (y < y1) {
          var x = x0
          while (x < x1) {
            val rgb = img.getRGB(x, y)
            sum += 2126L * ((rgb >>> 16) & 0xff) +
              7152L * ((rgb >>> 8) & 0xff) + 722L * (rgb & 0xff)
            x += 1
          }
          y += 1
        }
        means(cy * 8 + cx) = sum.toDouble / ((y1 - y0).toLong * (x1 - x0))
        cx += 1
      }
      cy += 1
    }
    var total = 0.0
    var i = 0
    while (i < 64) { total += means(i); i += 1 }
    val mean = total / 64.0
    var bits = 0L
    i = 0
    while (i < 64) {
      if (means(i) > mean) bits |= (1L << i)
      i += 1
    }
    bits
  }

  /** Decode + hash in one call; None when the bytes don't decode. */
  def aHashFromBytes(bytes: Array[Byte]): Option[Long] =
    decode(bytes).map(aHash)

  /** 64-bit DCT perceptual hash — classic pHash (Zauner 2010,
    * "Implementation and Benchmarking of Perceptual Image Hash
    * Functions"): luminance resampled to 32×32 by a nearest-pixel
    * index map (deterministic for ANY source size), separable 2-D
    * DCT-II, keep the low-frequency 8×8 block, threshold each
    * coefficient against the mean of the 63 AC coefficients. The DC
    * term is excluded from the mean, so a uniform brightness shift —
    * which moves ONLY the DC coefficient — leaves all 63 AC bits
    * unchanged (at most the DC bit flips). Versus [[aHash]]: the
    * frequency domain integrates over the whole image, so sparse
    * pixel noise that flips aHash cells perturbs every coefficient
    * only slightly — the standard robustness upgrade. */
  def pHash(img: BufferedImage): Long = {
    val N = 32
    val lum = new Array[Double](N * N)
    var y = 0
    while (y < N) {
      val sy = y * img.getHeight / N
      var x = 0
      while (x < N) {
        val sx = x * img.getWidth / N
        val rgb = img.getRGB(sx, sy)
        lum(y * N + x) = (2126.0 * ((rgb >>> 16) & 0xff) +
          7152.0 * ((rgb >>> 8) & 0xff) + 722.0 * (rgb & 0xff)) / 10000.0
        x += 1
      }
      y += 1
    }
    // cos table for the 8 lowest frequencies over N samples
    val cosT = Array.tabulate(8, N)((k, n) =>
      math.cos(math.Pi * (2 * n + 1) * k / (2.0 * N)))
    val tmp = new Array[Double](N * 8) // row-wise DCT, 8 coeffs per row
    y = 0
    while (y < N) {
      var u = 0
      while (u < 8) {
        var s = 0.0
        var x = 0
        while (x < N) { s += lum(y * N + x) * cosT(u)(x); x += 1 }
        tmp(y * 8 + u) = s
        u += 1
      }
      y += 1
    }
    val coef = new Array[Double](64) // column-wise DCT of the 8 columns
    var v = 0
    while (v < 8) {
      var u = 0
      while (u < 8) {
        var s = 0.0
        var yy = 0
        while (yy < N) { s += tmp(yy * 8 + u) * cosT(v)(yy); yy += 1 }
        coef(v * 8 + u) = s
        u += 1
      }
      v += 1
    }
    var acSum = 0.0
    var i = 1
    while (i < 64) { acSum += coef(i); i += 1 }
    val mean = acSum / 63.0
    var bits = 0L
    i = 0
    while (i < 64) {
      if (coef(i) > mean) bits |= (1L << i)
      i += 1
    }
    bits
  }

  /** Decode + pHash in one call; None when the bytes don't decode. */
  def pHashFromBytes(bytes: Array[Byte]): Option[Long] =
    decode(bytes).map(pHash)

  /** Decode ONCE, hash twice — the at-rest fingerprint build's image
    * kernel: the decode dominates both hash costs, so persisting the
    * aHash and pHash tiers from a single decode halves the one-time
    * build against hashing them in separate scans. */
  def hashesFromBytes(bytes: Array[Byte]): Option[(Long, Long)] =
    decode(bytes).map(img => (aHash(img), pHash(img)))
}
