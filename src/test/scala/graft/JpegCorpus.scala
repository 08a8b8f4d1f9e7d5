package graft

import java.nio.ByteBuffer
import java.security.MessageDigest
import java.util.SplittableRandom
import graft.ops.ImageCodec

/** Seeded image content for the codec pins, the allocation guard and the
  * `Probe kernels` codec rung, plus the digest helpers the pins share.
  * Every image is a pure function of its seed and dims. */
object JpegCorpus {

  /** sha256 over a length-prefixed concatenation, so a single changed
    * byte anywhere, or a moved boundary between parts, changes it. */
  def sha256(parts: Seq[Array[Byte]]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    parts.foreach { p =>
      md.update(ByteBuffer.allocate(4).putInt(p.length).array)
      md.update(p)
    }
    md.digest.map(b => f"$b%02x").mkString
  }

  /** A raster as bytes: dims, then every `lumaSum3` entry. */
  def rasterBytes(r: ImageCodec.Raster): Array[Byte] = {
    val bb = ByteBuffer.allocate(8 + 4 * r.lumaSum3.length)
    bb.putInt(r.width).putInt(r.height)
    r.lumaSum3.foreach(v => bb.putInt(v))
    bb.array
  }

  /** The names of `actual` are exactly `expected`'s keys, and every
    * digest matches; a failure lists each drifted name with its digest. */
  def pinDrift(expected: Map[String, String],
      actual: Seq[(String, String)]): Seq[String] = {
    val missing = (expected.keySet -- actual.map(_._1)).toSeq.sorted
      .map(n => s"$n -> (missing)")
    missing ++ actual.collect {
      case (n, d) if !expected.get(n).contains(d) => s"$n -> $d"
    }
  }

  /** The shape of perfbench's `media_neardup` inputs: an 8×8 grid of
    * cells at seeded brightness levels (60..200) with a seeded chroma
    * tint (±20), plus a fixed per-pixel hash texture in [−12, 12].  Every
    * channel stays inside 28..232. */
  def textured(seed: Long, side: Int = 96): (Int, Int) => (Int, Int, Int) = {
    val rng = new SplittableRandom(seed)
    val level = Array.fill(64)(60 + rng.nextInt(141))
    val tint = Array.fill(64)(rng.nextInt(41) - 20)
    val cell = math.max(1, side / 8)
    (x, y) => {
      val c = math.min(7, y / cell) * 8 + math.min(7, x / cell)
      val h = ((x * 73856093) ^ (y * 19349663) ^ (c * 83492791)) & 0x7fffffff
      val base = level(c) + h % 25 - 12
      (base + tint(c), base - tint(c), base)
    }
  }

  /** Dense-AC content: per channel and 8×8 block, one of uniform noise,
    * 0/255 binary noise, a flat 0 or 255 block, or a 0/255 checkerboard.
    * At quality 100 the flat extremes give DC differences of 11 bits, the
    * checkerboards AC magnitudes of 10 bits, and the noise mostly AC
    * symbols whose Annex-K Huffman codes are longer than 9 bits. */
  def noise(seed: Long, w: Int, h: Int): (Int, Int) => (Int, Int, Int) = {
    val rng = new SplittableRandom(seed)
    val px = new Array[Int](w * h * 3)
    for (ch <- 0 until 3; by <- 0 until (h + 7) / 8; bx <- 0 until (w + 7) / 8) {
      val kind = rng.nextInt(4)
      val flat = if (rng.nextBoolean()) 255 else 0
      val phase = rng.nextInt(2)
      for (y <- by * 8 until math.min(h, by * 8 + 8);
           x <- bx * 8 until math.min(w, bx * 8 + 8))
        px((y * w + x) * 3 + ch) = kind match {
          case 0 => rng.nextInt(256)
          case 1 => if (rng.nextBoolean()) 255 else 0
          case 2 => flat
          case _ => if ((x + y + phase) % 2 == 0) 255 else 0
        }
    }
    (x, y) => {
      val i = (y * w + x) * 3
      (px(i), px(i + 1), px(i + 2))
    }
  }

  /** The red channel of [[noise]], for the grayscale encoders. */
  def noiseGray(seed: Long, w: Int, h: Int): (Int, Int) => Int = {
    val n = noise(seed, w, h)
    (x, y) => n(x, y)._1
  }

  /** Run-heavy content: 6×3 bands, alternating between two values on the
    * left half of each row and flat on the right half, so the RLE and LZW
    * encoders meet long runs, alternating pairs and literal stretches. */
  def bands(w: Int): (Int, Int) => (Int, Int, Int) = (x, y) => {
    val alt = if (2 * x < w) (x % 2) * 16 else 0
    val v = ((x / 6) * 37 + (y / 3) * 91 + alt) % 256
    (v, (v + 85) % 256, 255 - v)
  }

  /** The three contents of the raster-container pins at (w, h). */
  def pinContents(w: Int, h: Int): Seq[(Int, Int) => (Int, Int, Int)] =
    Seq(textured(7, math.max(w, h)), noise(11, w, h), bands(w))

  /** Dims of the raster-container pins: single pixel, odd and padded
    * rows, the 96×96 bench size, and a row longer than an RLE run. */
  val PinDims: Seq[(Int, Int)] =
    Seq((1, 1), (3, 2), (13, 11), (17, 9), (37, 29), (96, 96), (300, 2))

  /** Source bytes of the text-to-pixel fixtures: ASCII text, and 97
    * bytes that cover every value mod 256 in a scrambled order. */
  val PinSources: Seq[Array[Byte]] = Seq(
    "pin every raster container byte: 0123456789".getBytes("US-ASCII"),
    Array.tabulate(97)(i => (i * 53 + 11).toByte))
}
