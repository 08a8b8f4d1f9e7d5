package graft

import java.util.SplittableRandom

/** Seeded image content for the JPEG pins, the allocation guard and the
  * `Probe kernels` codec rung.  Every image is a pure function of its
  * seed and dims. */
object JpegCorpus {

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
}
