package graft.ops

import scala.collection.mutable

/** Dependency-free JPEG codec, written from the public JPEG
  * specification (ITU-T T.81: marker grammar, Annex K example
  * quantization/Huffman tables, the DECODE/RECEIVE/EXTEND procedures of
  * §F.2.2, the progressive procedures of Annex G) and the JFIF container
  * note (BT.601 full-range YCbCr).  This is the tier's first LOSSY
  * codec: encode→decode is exact for DC-only content but inexact in
  * general (quantized DCT), so its oracle queries are TOLERANCE/INVARIANT
  * gauges rather than the hash-exact text replays the five lossless
  * codecs use — per-pixel |error| bounded by a quality-derived constant,
  * and exact-duplicate inputs (identical bytes ⇒ identical decode) must
  * still pair at hamming 0 through the banded-aHash stage.
  *
  * Supported: baseline sequential (SOF0) and progressive (SOF2) DCT,
  * 8-bit, GRAYSCALE (1 component), COLOR 4:4:4 (3-component YCbCr, every
  * component 1×1), COLOR 4:2:0 / 4:2:2 / 4:1:1 (luma 2×2, 2×1 or 4×1 +
  * chroma 1×1, box downsampling on encode and nearest upsampling on
  * decode — the default, broadcast, and NTSC-DV shapes respectively),
  * restart intervals in sequential frames (DRI + RSTn cycling, with the
  * marker-sequence check), and progressive spectral selection and
  * successive approximation.  Everything else — arithmetic coding,
  * exotic sampling geometries, 12-bit precision — fails loudly with a
  * descriptive message: a decoder silently misreading entropy-coded data
  * would poison every downstream fingerprint (the ImageCodec fail-loud
  * contract).
  *
  * One pipeline per direction.  DECODE: one marker walk parses the
  * headers and entropy-decodes every scan into per-component coefficient
  * buffers over the padded block grid (a sequential frame is the special
  * case of one interleaved scan over the full spectrum, Ss..Se = 0..63,
  * Ah = Al = 0, with restart segments); one back end then dequantizes,
  * inverse-transforms, upsamples and converts colour, so progressive
  * decode equals sequential decode bit-exactly by construction.  ENCODE:
  * [[quantizedGrid]] is the one FDCT + quantize loop; every container is
  * one header followed by scans written by one DC coder and one AC band
  * coder (plus the successive-approximation refinement coder).
  */
object JpegCodec {

  // ---- Annex K.1/K.2: example quantization tables (row-major 8×8) ----
  private val BaseQuantLuma: Array[Int] = Array(
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99)

  private val BaseQuantChroma: Array[Int] = Array(
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99)

  /** libjpeg's quality→scale mapping (public IJG convention): q<50 ⇒
    * 5000/q, else 200−2q; each entry (base·scale+50)/100 clamped to
    * [1,255]. */
  private def scaledQuant(quality: Int, base: Array[Int]): Array[Int] = {
    require(quality >= 1 && quality <= 100, s"quality $quality out of [1,100]")
    val scale = if (quality < 50) 5000 / quality else 200 - 2 * quality
    base.map(b => math.min(255, math.max(1, (b * scale + 50) / 100)))
  }

  // ---- zigzag order: ZigZag(i) = natural (row-major) index of the i-th
  //      zigzag position ----
  private[graft] val ZigZag: Array[Int] = {
    val out = new Array[Int](64)
    var i = 0
    for (s <- 0 until 15) {
      // diagonal s runs between (x, y) with x + y = s; direction alternates
      val range = if (s % 2 == 0) (s to 0 by -1) else (0 to s)
      for (y <- range) {
        val x = s - y
        if (x < 8 && y < 8) { out(i) = y * 8 + x; i += 1 }
      }
    }
    out
  }

  // ---- Annex K.3.3: typical Huffman tables (luminance + chrominance) --
  // BITS = number of codes of each length 1..16; HUFFVAL = symbols in
  // code order.
  private val DcLumaBits =
    Array(0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0)
  private val DcLumaVals = (0 to 11).map(_.toByte).toArray
  private val AcLumaBits =
    Array(0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7d)
  private val AcLumaVals: Array[Byte] = Array(
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12,
    0x21, 0x31, 0x41, 0x06, 0x13, 0x51, 0x61, 0x07,
    0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xa1, 0x08,
    0x23, 0x42, 0xb1, 0xc1, 0x15, 0x52, 0xd1, 0xf0,
    0x24, 0x33, 0x62, 0x72, 0x82, 0x09, 0x0a, 0x16,
    0x17, 0x18, 0x19, 0x1a, 0x25, 0x26, 0x27, 0x28,
    0x29, 0x2a, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39,
    0x3a, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49,
    0x4a, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
    0x5a, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69,
    0x6a, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
    0x7a, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
    0x8a, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98,
    0x99, 0x9a, 0xa2, 0xa3, 0xa4, 0xa5, 0xa6, 0xa7,
    0xa8, 0xa9, 0xaa, 0xb2, 0xb3, 0xb4, 0xb5, 0xb6,
    0xb7, 0xb8, 0xb9, 0xba, 0xc2, 0xc3, 0xc4, 0xc5,
    0xc6, 0xc7, 0xc8, 0xc9, 0xca, 0xd2, 0xd3, 0xd4,
    0xd5, 0xd6, 0xd7, 0xd8, 0xd9, 0xda, 0xe1, 0xe2,
    0xe3, 0xe4, 0xe5, 0xe6, 0xe7, 0xe8, 0xe9, 0xea,
    0xf1, 0xf2, 0xf3, 0xf4, 0xf5, 0xf6, 0xf7, 0xf8,
    0xf9, 0xfa).map(_.toByte)

  private val DcChromaBits =
    Array(0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0)
  private val DcChromaVals = (0 to 11).map(_.toByte).toArray
  private val AcChromaBits =
    Array(0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77)
  private val AcChromaVals: Array[Byte] = Array(
    0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21,
    0x31, 0x06, 0x12, 0x41, 0x51, 0x07, 0x61, 0x71,
    0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91,
    0xa1, 0xb1, 0xc1, 0x09, 0x23, 0x33, 0x52, 0xf0,
    0x15, 0x62, 0x72, 0xd1, 0x0a, 0x16, 0x24, 0x34,
    0xe1, 0x25, 0xf1, 0x17, 0x18, 0x19, 0x1a, 0x26,
    0x27, 0x28, 0x29, 0x2a, 0x35, 0x36, 0x37, 0x38,
    0x39, 0x3a, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48,
    0x49, 0x4a, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58,
    0x59, 0x5a, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68,
    0x69, 0x6a, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
    0x79, 0x7a, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87,
    0x88, 0x89, 0x8a, 0x92, 0x93, 0x94, 0x95, 0x96,
    0x97, 0x98, 0x99, 0x9a, 0xa2, 0xa3, 0xa4, 0xa5,
    0xa6, 0xa7, 0xa8, 0xa9, 0xaa, 0xb2, 0xb3, 0xb4,
    0xb5, 0xb6, 0xb7, 0xb8, 0xb9, 0xba, 0xc2, 0xc3,
    0xc4, 0xc5, 0xc6, 0xc7, 0xc8, 0xc9, 0xca, 0xd2,
    0xd3, 0xd4, 0xd5, 0xd6, 0xd7, 0xd8, 0xd9, 0xda,
    0xe2, 0xe3, 0xe4, 0xe5, 0xe6, 0xe7, 0xe8, 0xe9,
    0xea, 0xf2, 0xf3, 0xf4, 0xf5, 0xf6, 0xf7, 0xf8,
    0xf9, 0xfa).map(_.toByte)

  /** Annex-K (BITS, HUFFVAL) pairs by table id: 0 luma, 1 chroma. */
  private val DcSpecs: Array[(Array[Int], Array[Byte])] =
    Array((DcLumaBits, DcLumaVals), (DcChromaBits, DcChromaVals))
  private val AcSpecs: Array[(Array[Int], Array[Byte])] =
    Array((AcLumaBits, AcLumaVals), (AcChromaBits, AcChromaVals))

  /** AC Huffman table for progressive scans: the Annex-K SEQUENTIAL AC
    * table defines no EOBn symbols (its 0x10/0x20/… slots are (run,
    * size) pairs with size ≥ 1), so a progressive encoder must carry
    * its own table — real encoders optimize one per image; this fixed
    * one assigns a uniform 8-bit code to every progressive-legal AC
    * symbol: EOB1 + EOBn (r = 1..14) + ZRL + all (run 0..15 ×
    * size 1..10).  176 codes of length 8 is a valid canonical table
    * (176 < 256; the all-ones code stays unused). */
  private val AcProgSyms: Array[Byte] = {
    val b = mutable.ArrayBuffer.empty[Byte]
    b += 0x00
    for (r <- 1 to 14) b += (r << 4).toByte
    b += 0xf0.toByte
    for (run <- 0 to 15; sz <- 1 to 10) b += ((run << 4) | sz).toByte
    b.toArray
  }
  private val AcProgBits: Array[Int] =
    Array(0, 0, 0, 0, 0, 0, 0, 176, 0, 0, 0, 0, 0, 0, 0, 0)

  /** Canonical Huffman code assignment (spec §C.2): codes of each length
    * in symbol order, doubling between lengths.  Returns symbol →
    * (code, length). */
  private def buildEncodeTable(bits: Array[Int],
      vals: Array[Byte]): Map[Int, (Int, Int)] = {
    var code = 0
    var k = 0
    val out = Map.newBuilder[Int, (Int, Int)]
    for (l <- 1 to 16) {
      for (_ <- 0 until bits(l - 1)) {
        out += ((vals(k) & 0xff) -> (code, l))
        code += 1
        k += 1
      }
      code <<= 1
    }
    out.result()
  }

  // encoder tables by id (0 luma, 1 chroma), and the progressive AC table
  private lazy val DcEnc = DcSpecs.map { case (b, v) => buildEncodeTable(b, v) }
  private lazy val AcEnc = AcSpecs.map { case (b, v) => buildEncodeTable(b, v) }
  private lazy val AcProgEnc = buildEncodeTable(AcProgBits, AcProgSyms)

  /** Decoder-side tables for the spec's DECODE procedure (§F.2.2.3):
    * per-length (mincode, maxcode, valptr) over the same canonical
    * assignment, plus a 9-bit lookahead table (libjpeg's jdhuff):
    * `look(p)` is (length << 8) | value when the 9 bits `p` begin with a
    * code of at most 9 bits, else 0.  The checks below make the code
    * prefix-free, so DECODE stops at exactly that code and a hit returns
    * what DECODE returns. */
  private final class DecodeTable(bits: Array[Int], vals: Array[Byte]) {
    val minCode = new Array[Int](17)
    val maxCode = new Array[Int](17)
    val valPtr = new Array[Int](17)
    locally {
      var code = 0
      var k = 0
      for (l <- 1 to 16) {
        if (bits(l - 1) == 0) {
          maxCode(l) = -1 // no codes of this length
        } else {
          valPtr(l) = k
          minCode(l) = code
          code += bits(l - 1)
          k += bits(l - 1)
          maxCode(l) = code - 1
        }
        // canonical-code validity (spec C.2): the running code must fit
        // in l bits, else a corrupt DHT would index past the value array
        require(code <= (1 << l), "invalid JPEG Huffman table (BITS overflow)")
        code <<= 1
      }
    }
    def value(l: Int, code: Int): Int =
      vals(valPtr(l) + code - minCode(l)) & 0xff
    val look = new Array[Int](1 << LookBits)
    locally {
      var l = 1
      while (l <= LookBits) {
        var code = minCode(l)
        while (code <= maxCode(l)) { // every code of length l
          val from = code << (LookBits - l)
          java.util.Arrays.fill(look, from, from + (1 << (LookBits - l)),
            (l << 8) | value(l, code))
          code += 1
        }
        l += 1
      }
    }
  }

  /** Bits of Huffman lookahead: codes up to this long decode in one
    * table read. */
  private final val LookBits = 9

  // ---- DCT (double-precision reference transform, spec A.3.3; 8×8
  //      blocks).  The encoder's FDCT is the direct O(64²) form; the
  //      decoder's IDCT ([[raster]]) visits only the nonzero
  //      coefficients, coefficient-major, and still adds every pixel's
  //      products in the direct form's order, so it is bit-exact. ----
  /** Cos(x·8 + u) = cos((2x + 1)uπ/16) */
  private val Cos: Array[Double] = Array.tabulate(64) { i =>
    val x = i / 8
    val u = i % 8
    math.cos((2 * x + 1) * u * math.Pi / 16)
  }
  private val C: Array[Double] =
    Array.tabulate(8)(u => if (u == 0) 1.0 / math.sqrt(2.0) else 1.0)
  /** CC(v·8 + u) = C(u)·C(v), the direct form's leading product */
  private val CC: Array[Double] = Array.tabulate(64)(i => C(i % 8) * C(i / 8))

  /** Forward DCT of a level-shifted 8×8 block (spec A.3.3). */
  private def fdct(block: Array[Double]): Array[Double] = {
    val out = new Array[Double](64)
    var u = 0
    while (u < 8) {
      var v = 0
      while (v < 8) {
        var s = 0.0
        var y = 0
        while (y < 8) {
          var x = 0
          while (x < 8) {
            s += block(y * 8 + x) * Cos(x * 8 + u) * Cos(y * 8 + v)
            x += 1
          }
          y += 1
        }
        out(v * 8 + u) = 0.25 * C(u) * C(v) * s
        v += 1
      }
      u += 1
    }
    out
  }

  // ---- bit I/O with FF byte stuffing (spec §B.1.1.5) ----
  private final class BitWriter(out: java.io.ByteArrayOutputStream) {
    private var acc = 0
    private var nBits = 0
    def put(code: Int, len: Int): Unit = {
      var i = len - 1
      while (i >= 0) {
        acc = (acc << 1) | ((code >> i) & 1)
        nBits += 1
        if (nBits == 8) flushByte()
        i -= 1
      }
    }
    private def flushByte(): Unit = {
      out.write(acc & 0xff)
      if ((acc & 0xff) == 0xff) out.write(0x00) // byte stuffing
      acc = 0
      nBits = 0
    }
    /** pad the final partial byte with 1-bits (spec: fill with 1s);
      * leaves the writer clean, so entropy coding may resume after a
      * restart marker. */
    def finish(): Unit =
      if (nBits > 0) { acc = (acc << (8 - nBits)) | ((1 << (8 - nBits)) - 1); nBits = 8; flushByte() }
  }

  /** Reads one restart segment, `data(from until until)`, through a
    * 64-bit buffer whose low `nBits` bits are the unread ones. */
  private final class BitReader(data: Array[Byte]) {
    private var pos = 0
    private var end = 0
    private var acc = 0L
    private var nBits = 0
    def reset(from: Int, until: Int): Unit = {
      pos = from; end = until; acc = 0L; nBits = 0
    }
    /** top the buffer up to more than 56 bits, or to the segment's end */
    private def fill(): Unit =
      while (nBits <= 56 && pos < end) {
        acc = (acc << 8) | (data(pos) & 0xff)
        pos += 1
        nBits += 8
      }
    def bit(): Int = {
      if (nBits == 0) {
        require(pos < end, "truncated JPEG scan data")
        fill()
      }
      nBits -= 1
      ((acc >>> nBits) & 1).toInt
    }
    def receive(n: Int): Int = {
      if (nBits < n) {
        fill()
        require(nBits >= n, "truncated JPEG scan data")
      }
      nBits -= n
      ((acc >>> nBits) & ((1L << n) - 1)).toInt
    }
    /** DECODE (spec §F.2.2.3): one Huffman symbol, read from a peek at
      * the next 16 bits (zero-padded past the segment's end).  With at
      * least [[LookBits]] real bits, a code that short is one
      * lookahead-table read; otherwise DECODE's per-length maxcode search
      * runs over the peek, and a code that needs bits the segment does not
      * have is truncated — the same outcome, and the same message, as
      * reading the code bit by bit. */
    def decode(t: DecodeTable): Int = {
      if (nBits < 16) fill()
      val real = math.min(nBits, 16)
      val peek = (if (nBits >= 16) acc >>> (nBits - 16)
        else acc << (16 - nBits)).toInt & 0xffff
      val hit = if (real >= LookBits) t.look(peek >>> (16 - LookBits)) else 0
      if (hit != 0) {
        nBits -= hit >> 8
        hit & 0xff
      } else {
        var l = 1
        while (l < 16 &&
            (t.maxCode(l) == -1 || (peek >>> (16 - l)) > t.maxCode(l)))
          l += 1
        require(l <= real, "truncated JPEG scan data")
        val code = peek >>> (16 - l)
        require(t.maxCode(l) != -1 && code <= t.maxCode(l),
          "invalid JPEG Huffman code")
        nBits -= l
        t.value(l, code)
      }
    }
  }

  /** EXTEND (spec §F.2.2.1): map an s-bit magnitude to its signed value. */
  private def extend(v: Int, s: Int): Int =
    if (s == 0) 0 else if (v < (1 << (s - 1))) v - (1 << s) + 1 else v

  private def bitSize(v: Int): Int =
    32 - Integer.numberOfLeadingZeros(math.abs(v))

  // ---- BT.601 full-range YCbCr (the JFIF convention) ----
  private def clamp255(v: Double): Int =
    if (v >= 0.5 && v < 254.5) {
      // Math.round(v) = ⌊v + ½⌋ (exact), here in 1..254.  For v ≥ ½ the
      // double sum v + 0.5 rounds only when it reaches the next binade,
      // which it overshoots by less than ½, so it never rounds onto an
      // integer and truncating it gives the same ⌊v + ½⌋.
      (v + 0.5).toInt
    } else {
      val r = java.lang.Math.round(v).toInt
      if (r < 0) 0 else if (r > 255) 255 else r
    }

  private def rgbToYcc(r: Int, g: Int, b: Int): (Int, Int, Int) = (
    clamp255(0.299 * r + 0.587 * g + 0.114 * b),
    clamp255(-0.168736 * r - 0.331264 * g + 0.5 * b + 128.0),
    clamp255(0.5 * r - 0.418688 * g - 0.081312 * b + 128.0))

  /** A frame's block geometry (spec §A.2), shared by encoder and decoder:
    * per component, the MCU-PADDED grid (mcus × sampling factors — what an
    * interleaved scan covers, and the extent of the component's plane)
    * and the CEIL grid over the component's own dims (what a
    * single-component scan covers, §A.2.2).  Blocks are indexed row-major
    * in the padded grid. */
  private final class Grid(val w: Int, val h: Int, val hs: Array[Int],
      val vs: Array[Int]) {
    val hMax: Int = hs.max
    val vMax: Int = vs.max
    val mcusX: Int = (w + 8 * hMax - 1) / (8 * hMax)
    val mcusY: Int = (h + 8 * vMax - 1) / (8 * vMax)
    // component-plane dims (ceil scaling of the image dims)
    val compW: Array[Int] = hs.map(s => (w * s + hMax - 1) / hMax)
    val compH: Array[Int] = vs.map(s => (h * s + vMax - 1) / vMax)
    val padW: Array[Int] = hs.map(mcusX * _)
    val padH: Array[Int] = vs.map(mcusY * _)

    /** the restart-counted units of a scan over components `cis`: MCUs
      * when interleaved, else the component's ceil-grid blocks */
    def units(cis: Array[Int]): Int =
      if (cis.length > 1) mcusX * mcusY
      else ((compW(cis(0)) + 7) / 8) * ((compH(cis(0)) + 7) / 8)

    /** Visit a scan's blocks in coding order.  An interleaved scan walks
      * MCUs, each component contributing its hs×vs padded-grid blocks; a
      * single-component scan walks the component's ceil grid in raster
      * order (padded-only blocks are not coded there — never sampled by
      * the assembly, so only an interleaved DC scan touches them).
      * `unit(u)` opens each unit (see [[units]]); `block(j, bi)` gets the
      * scan-component index and the padded-grid block index. */
    def visit(cis: Array[Int], unit: Int => Unit)(
        block: (Int, Int) => Unit): Unit =
      if (cis.length > 1) {
        var my = 0
        while (my < mcusY) {
          var mx = 0
          while (mx < mcusX) {
            unit(my * mcusX + mx)
            var j = 0
            while (j < cis.length) {
              val ci = cis(j)
              var vy = 0
              while (vy < vs(ci)) {
                var vx = 0
                while (vx < hs(ci)) {
                  block(j, (my * vs(ci) + vy) * padW(ci) + mx * hs(ci) + vx)
                  vx += 1
                }
                vy += 1
              }
              j += 1
            }
            mx += 1
          }
          my += 1
        }
      } else {
        val ci = cis(0)
        val bw = (compW(ci) + 7) / 8
        var by = 0
        while (by < (compH(ci) + 7) / 8) {
          var bx = 0
          while (bx < bw) {
            unit(by * bw + bx)
            block(0, by * padW(ci) + bx)
            bx += 1
          }
          by += 1
        }
      }
  }

  // ---- encoder --------------------------------------------------------

  /** A JPEG stream under construction: the one marker/segment writer. */
  private final class JpegOut extends java.io.ByteArrayOutputStream {
    def marker(m: Int): Unit = { write(0xff); write(m) }
    def seg(m: Int, payload: Array[Byte]): Unit = {
      marker(m)
      val len = payload.length + 2
      write((len >> 8) & 0xff); write(len & 0xff)
      write(payload, 0, payload.length)
    }
  }

  /** One component to encode: its plane in COMPONENT coordinates (already
    * downsampled for subsampled chroma), its sampling factors, and its
    * table id (0 luma, 1 chroma: quantization, DC and sequential AC). */
  private final case class EncComp(plane: (Int, Int) => Int,
      hSamp: Int, vSamp: Int, tableId: Int)

  /** The encoder's front half, shared by every container: the frame
    * geometry and each component's quantized zigzag blocks over its
    * padded grid. */
  private final class EncFrame(w: Int, h: Int, val comps: Seq[EncComp],
      quality: Int) {
    val grid = new Grid(w, h, comps.map(_.hSamp).toArray,
      comps.map(_.vSamp).toArray)
    val quants: Array[Array[Int]] = Array(
      scaledQuant(quality, BaseQuantLuma), scaledQuant(quality, BaseQuantChroma))
    val all: Array[Int] = comps.indices.toArray
    val blocks: Array[Array[Array[Int]]] = all.map(ci =>
      quantizedGrid(grid.compW(ci), grid.compH(ci), grid.padW(ci),
        grid.padH(ci), comps(ci).plane, quants(comps(ci).tableId)))
    def tableId(ci: Int): Int = comps(ci).tableId
  }

  private def checkDims(w: Int, h: Int): Unit =
    require(w > 0 && h > 0 && w <= 65535 && h <= 65535, "bad dims")

  /** Quantized zigzag blocks of a plane over an EXPLICIT block grid (the
    * padded grid, possibly past the ceil grid), edge-extending by clamp —
    * the ONE clamp-extend + FDCT + zigzag-quantize loop, so every
    * container codes the same coefficients and progressive decode equals
    * sequential decode bit-exactly. */
  private def quantizedGrid(compW: Int, compH: Int, bW: Int, bH: Int,
      pix: (Int, Int) => Int, quant: Array[Int]): Array[Array[Int]] = {
    val out = new Array[Array[Int]](bW * bH)
    val block = new Array[Double](64)
    var bi = 0
    var by = 0
    while (by < bH) {
      var bx = 0
      while (bx < bW) {
        var y = 0
        while (y < 8) {
          var x = 0
          while (x < 8) {
            val px = math.min(compW - 1, bx * 8 + x)
            val py = math.min(compH - 1, by * 8 + y)
            val v = pix(px, py)
            require(v >= 0 && v <= 255, s"sample($px,$py)=$v out of [0,255]")
            block(y * 8 + x) = v - 128.0
            x += 1
          }
          y += 1
        }
        val coef = fdct(block)
        // quantize in zigzag order; round half away from zero
        val q = new Array[Int](64)
        var i = 0
        while (i < 64) {
          q(i) = math.round(coef(ZigZag(i)) / quant(ZigZag(i))).toInt
          i += 1
        }
        out(bi) = q
        bi += 1
        bx += 1
      }
      by += 1
    }
    out
  }

  /** SOI, JFIF APP0, one DQT of the used tables, SOF0 or SOF2, the DHTs
    * (sequential: each used id's Annex-K DC + AC pair; progressive: each
    * used id's DC table, then the one progressive AC table), and DRI when
    * `restartInterval` > 0. */
  private def header(f: EncFrame, progressive: Boolean,
      restartInterval: Int = 0): JpegOut = {
    val out = new JpegOut
    out.marker(0xd8) // SOI
    out.seg(0xe0, "JFIF ".getBytes("US-ASCII") ++
      Array[Byte](1, 1, 0, 0, 1, 0, 1, 0, 0)) // v1.1, no density/thumb
    val ids = f.comps.map(_.tableId).distinct.sorted
    out.seg(0xdb, ids.toArray.flatMap(id =>
      Array(id.toByte) ++ ZigZag.map(n => f.quants(id)(n).toByte)))
    out.seg(if (progressive) 0xc2 else 0xc0, Array[Byte](8, // precision
      ((f.grid.h >> 8) & 0xff).toByte, (f.grid.h & 0xff).toByte,
      ((f.grid.w >> 8) & 0xff).toByte, (f.grid.w & 0xff).toByte,
      f.comps.length.toByte) ++
      f.comps.zipWithIndex.flatMap { case (c, i) =>
        Array((i + 1).toByte, ((c.hSamp << 4) | c.vSamp).toByte,
          c.tableId.toByte) })
    val dhts =
      if (progressive)
        ids.map(id => (id, DcSpecs(id))) :+ ((0x10, (AcProgBits, AcProgSyms)))
      else ids.flatMap(id => Seq((id, DcSpecs(id)), (0x10 | id, AcSpecs(id))))
    dhts.foreach { case (tcth, (bits, vals)) =>
      out.seg(0xc4, Array(tcth.toByte) ++ bits.map(_.toByte) ++ vals) }
    if (restartInterval > 0)
      out.seg(0xdd, Array[Byte](((restartInterval >> 8) & 0xff).toByte,
        (restartInterval & 0xff).toByte))
    out
  }

  /** One scan: the SOS header over `sel` (frame component index, table
    * selector byte) with Ss, Se and Ah/Al, then the entropy-coded data
    * `body` writes, padded to a byte. */
  private def scan(out: JpegOut, sel: Array[(Int, Int)], ss: Int, se: Int,
      ahal: Int)(body: BitWriter => Unit): Unit = {
    out.seg(0xda, Array(sel.length.toByte) ++
      sel.flatMap { case (ci, t) => Array((ci + 1).toByte, t.toByte) } ++
      Array(ss.toByte, se.toByte, ahal.toByte))
    val bw = new BitWriter(out)
    body(bw)
    bw.finish()
  }

  /** DC difference coding (spec §F.1.2.1): the SSSS symbol, then the
    * difference's low bits (one's complement for negatives). */
  private def putDc(bw: BitWriter, enc: Map[Int, (Int, Int)],
      diff: Int): Unit = {
    val s = bitSize(diff)
    val (c, l) = enc(s)
    bw.put(c, l)
    if (s > 0) bw.put(if (diff < 0) diff + (1 << s) - 1 else diff, s)
  }

  /** The AC band coder (spec §F.1.2.2 / §G.1.2.2): codes zigzag band
    * ss..se of each block under the point transform `al` (sign·(|v| >>
    * al) — the identity at al = 0) as (run, size) symbols with ZRL, and
    * counts blocks whose band ends in zeros into an EOB run that `flush`
    * emits as EOBn (symbol r<<4: a run of 2^r + RECEIVE(r) blocks; capped
    * at 32767).  Sequential scans have no EOB runs: they flush after every
    * block, so each EOB is a run of one — the plain EOB symbol 0x00. */
  private final class AcBandCoder(bw: BitWriter, enc: Map[Int, (Int, Int)],
      ss: Int, se: Int, al: Int) {
    private var eobrun = 0
    def flush(): Unit = if (eobrun > 0) {
      val r = 31 - Integer.numberOfLeadingZeros(eobrun)
      val (c, l) = enc(r << 4)
      bw.put(c, l)
      if (r > 0) bw.put(eobrun - (1 << r), r)
      eobrun = 0
    }
    def code(q: Array[Int]): Unit = {
      def pt(k: Int): Int = { // AC point transform: toward zero
        val m = math.abs(q(k)) >> al
        if (q(k) < 0) -m else m
      }
      // last nonzero position in the band, or ss-1 if none
      var last = se
      while (last >= ss && pt(last) == 0) last -= 1
      if (last < ss) {
        eobrun += 1
        if (eobrun == 0x7fff) flush() // spec cap: 32767
      } else {
        flush()
        var run = 0
        var k = ss
        while (k <= last) {
          val v = pt(k)
          if (v == 0) run += 1
          else {
            while (run >= 16) {
              val (zc, zl) = enc(0xf0); bw.put(zc, zl); run -= 16
            }
            val sz = bitSize(v)
            val (c, l) = enc((run << 4) | sz)
            bw.put(c, l)
            bw.put(if (v < 0) v + (1 << sz) - 1 else v, sz)
            run = 0
          }
          k += 1
        }
        if (last < se) eobrun += 1 // this block's own EOB joins the run
      }
    }
  }

  /** AC refinement scan of component `ci`, band ss..se, delivering bit
    * plane a−1 (spec §G.1.2.3): newly-significant coefficients as
    * (run, 1) + sign, one correction bit per already-significant
    * coefficient buffered behind the next symbol (the spec's BR buffer),
    * and EOB runs carrying the skipped blocks' correction bits. */
  private def acRefine(bw: BitWriter, f: EncFrame, ci: Int, ss: Int,
      se: Int, a: Int): Unit = {
    val lo = a - 1
    var eobrun = 0
    val pendingBits = new mutable.ArrayBuffer[Int]()
    // correction bits only ever accumulate together with an EOB entry,
    // so a flush always has a symbol to hang them on
    def flushEob(): Unit = {
      if (eobrun == 0) require(pendingBits.isEmpty,
        "internal: correction bits without an EOB run")
      else {
        val r = 31 - Integer.numberOfLeadingZeros(eobrun)
        val (c, l) = AcProgEnc(r << 4)
        bw.put(c, l)
        if (r > 0) bw.put(eobrun - (1 << r), r)
        eobrun = 0
        pendingBits.foreach(bit => bw.put(bit, 1))
        pendingBits.clear()
      }
    }
    f.grid.visit(Array(ci), _ => ()) { (_, bi) =>
      val q = f.blocks(ci)(bi)
      def hi(k: Int): Int = math.abs(q(k)) >> a // already-significant?
      def bitAt(k: Int): Int = (math.abs(q(k)) >> lo) & 1
      // EOB position: last NEWLY significant coefficient in the band
      var eobPos = ss - 1
      var k = ss
      while (k <= se) {
        if (hi(k) == 0 && (math.abs(q(k)) >> lo) == 1) eobPos = k
        k += 1
      }
      if (eobPos < ss) {
        // no new coefficients: block joins the EOB run; its
        // already-significant coefficients' correction bits ride along
        var j = ss
        while (j <= se) {
          if (hi(j) != 0) pendingBits += bitAt(j)
          j += 1
        }
        eobrun += 1
        if (eobrun == 0x7fff) flushEob()
      } else {
        flushEob()
        var run = 0
        val br = new mutable.ArrayBuffer[Int]()
        k = ss
        while (k <= eobPos) {
          if (hi(k) != 0) br += bitAt(k) // correction bit, buffered
          else if ((math.abs(q(k)) >> lo) == 0) {
            run += 1
            if (run == 16) { // ZRL before 16 insignificant zeros pass
              val (zc, zl) = AcProgEnc(0xf0)
              bw.put(zc, zl)
              br.foreach(bit => bw.put(bit, 1))
              br.clear()
              run = 0
            }
          } else { // newly significant (magnitude bit == 1)
            val (c, l) = AcProgEnc((run << 4) | 1)
            bw.put(c, l)
            bw.put(if (q(k) < 0) 0 else 1, 1) // sign
            br.foreach(bit => bw.put(bit, 1))
            br.clear()
            run = 0
          }
          k += 1
        }
        // tail beyond the last new coefficient: the decoder keeps
        // reading symbols until k > Se OR an EOB arrives, so ANY
        // remaining positions (trailing zeros or correction-only)
        // force this block to contribute an EOB entry, carrying its
        // trailing correction bits
        while (k <= se) {
          if (hi(k) != 0) br += bitAt(k)
          k += 1
        }
        if (eobPos < se) {
          pendingBits ++= br
          eobrun += 1
          if (eobrun == 0x7fff) flushEob()
        }
      }
    }
    flushEob()
  }

  /** Sequential (SOF0) body: one interleaved scan, each block coded as
    * its DC difference then its 1..63 band.  `restartInterval` > 0 emits
    * DRI and a cycling RSTn every that-many MCUs (DC predictors reset,
    * bit stream byte-aligned) — the error-resilience machinery real
    * encoders use. */
  private def encodeSequential(f: EncFrame,
      restartInterval: Int): Array[Byte] = {
    require(restartInterval >= 0 && restartInterval <= 65535,
      "bad restart interval")
    val out = header(f, progressive = false, restartInterval)
    // DC/AC table id = quant id (0 luma, 1 chroma)
    scan(out, f.all.map(ci => (ci, f.tableId(ci) * 0x11)), 0, 63, 0) { bw =>
      val prevDc = new Array[Int](f.all.length)
      val acs = f.all.map(ci =>
        new AcBandCoder(bw, AcEnc(f.tableId(ci)), 1, 63, 0))
      var rst = 0
      f.grid.visit(f.all, u =>
        if (restartInterval > 0 && u > 0 && u % restartInterval == 0) {
          bw.finish()
          out.marker(0xd0 + rst)
          rst = (rst + 1) % 8
          java.util.Arrays.fill(prevDc, 0)
        }) { (ci, bi) =>
        val q = f.blocks(ci)(bi)
        putDc(bw, DcEnc(f.tableId(ci)), q(0) - prevDc(ci))
        prevDc(ci) = q(0)
        acs(ci).code(q)
        acs(ci).flush()
      }
    }
    out.marker(0xd9) // EOI
    out.toByteArray
  }

  /** Progressive (SOF2) body over a component list (spec §G.1.1): an
    * interleaved DC first scan of DC >> al (arithmetic shift, §G.1.2.1),
    * DC refinement scans of one bit per block down to Al = 0, one
    * single-component AC first scan per (component × band) — the spec
    * forbids interleaved AC scans — then the AC refinement scans.  At
    * al = 0 this is plain spectral selection.  The coefficients are the
    * sequential encoder's, so decoding all scans reproduces them. */
  private def encodeProgressiveBody(f: EncFrame, bands: Seq[(Int, Int)],
      al: Int): Array[Byte] = {
    val out = header(f, progressive = true)
    val dcSel = f.all.map(ci => (ci, f.tableId(ci) << 4))
    scan(out, dcSel, 0, 0, al) { bw =>
      val prevDc = new Array[Int](f.all.length)
      f.grid.visit(f.all, _ => ()) { (ci, bi) =>
        val v = f.blocks(ci)(bi)(0) >> al
        putDc(bw, DcEnc(f.tableId(ci)), v - prevDc(ci))
        prevDc(ci) = v
      }
    }
    for (a <- al to 1 by -1)
      scan(out, dcSel, 0, 0, (a << 4) | (a - 1)) { bw =>
        f.grid.visit(f.all, _ => ())((ci, bi) =>
          bw.put((f.blocks(ci)(bi)(0) >> (a - 1)) & 1, 1))
      }
    // AC scans use table 0 for every component (the shared progressive
    // table)
    for (ci <- f.all; (ss, se) <- bands)
      scan(out, Array((ci, 0)), ss, se, al) { bw =>
        val coder = new AcBandCoder(bw, AcProgEnc, ss, se, al)
        f.grid.visit(Array(ci), _ => ())((_, bi) => coder.code(f.blocks(ci)(bi)))
        coder.flush()
      }
    for (a <- al to 1 by -1; ci <- f.all; (ss, se) <- bands)
      scan(out, Array((ci, 0)), ss, se, (a << 4) | (a - 1))(bw =>
        acRefine(bw, f, ci, ss, se, a))
    out.marker(0xd9)
    out.toByteArray
  }

  private def grayFrame(w: Int, h: Int, gray: (Int, Int) => Int,
      quality: Int): EncFrame = {
    checkDims(w, h)
    new EncFrame(w, h, Seq(EncComp(gray, 1, 1, 0)), quality)
  }

  /** Materialized YCbCr planes of an RGB image (full resolution). */
  private def yccPlanes(w: Int, h: Int,
      rgb: (Int, Int) => (Int, Int, Int))
      : (Array[Int], Array[Int], Array[Int]) = {
    val yP = new Array[Int](w * h)
    val cbP = new Array[Int](w * h)
    val crP = new Array[Int](w * h)
    for (y <- 0 until h; x <- 0 until w) {
      val (r, g, b) = rgb(x, y)
      require(r >= 0 && r <= 255 && g >= 0 && g <= 255 && b >= 0 && b <= 255,
        s"rgb($x,$y)=($r,$g,$b) out of [0,255]")
      val (yy, cb, cr) = rgbToYcc(r, g, b)
      yP(y * w + x) = yy; cbP(y * w + x) = cb; crP(y * w + x) = cr
    }
    (yP, cbP, crP)
  }

  /** Box-downsample a plane by (fx, fy) — rounded mean over each
    * fx×fy cell, partial cells averaging only in-image samples (the
    * standard chroma decimation for every subsampled geometry; the
    * identity at 1×1). */
  private def downPlane(src: Array[Int], w: Int, h: Int, fx: Int,
      fy: Int): Array[Int] = {
    val cw = (w + fx - 1) / fx
    val ch = (h + fy - 1) / fy
    val out = new Array[Int](cw * ch)
    for (cy <- 0 until ch; cx <- 0 until cw) {
      var sum = 0; var n = 0
      for (dy <- 0 until fy; dx <- 0 until fx) {
        val x = cx * fx + dx; val y = cy * fy + dy
        if (x < w && y < h) { sum += src(y * w + x); n += 1 }
      }
      out(cy * cw + cx) = (sum + n / 2) / n // rounded mean
    }
    out
  }

  /** BT.601 YCbCr frame: Y at (hs, vs) sampling with the Annex-K luma
    * tables, Cb/Cr box-downsampled by the same factors at 1×1 with the
    * chroma tables — 4:4:4 at (1, 1). */
  private def colorFrame(w: Int, h: Int, rgb: (Int, Int) => (Int, Int, Int),
      hs: Int, vs: Int, quality: Int): EncFrame = {
    checkDims(w, h)
    val (yP, cbP, crP) = yccPlanes(w, h, rgb)
    val cw = (w + hs - 1) / hs
    val cbD = downPlane(cbP, w, h, hs, vs)
    val crD = downPlane(crP, w, h, hs, vs)
    new EncFrame(w, h, Seq(
      EncComp((x, y) => yP(y * w + x), hs, vs, 0),
      EncComp((x, y) => cbD(y * cw + x), 1, 1, 1),
      EncComp((x, y) => crD(y * cw + x), 1, 1, 1)), quality)
  }

  private def checkBands(bands: Seq[(Int, Int)]): Unit = {
    require(bands.nonEmpty, "need at least one AC band")
    bands.foldLeft(1) { case (next, (a, b)) =>
      require(a == next && b >= a && b <= 63,
        s"bands must tile 1..63 in order, got ($a,$b) expecting start $next")
      b + 1
    }
    require(bands.last._2 == 63, "bands must end at 63")
  }

  /** Baseline GRAYSCALE JPEG (SOF0, one component).  `gray(x, y)` is
    * top-down row-major 0..255; edge blocks replicate the last
    * row/column (the standard edge-extension). */
  def encode(w: Int, h: Int, gray: (Int, Int) => Int, quality: Int = 90,
      restartInterval: Int = 0): Array[Byte] =
    encodeSequential(grayFrame(w, h, gray, quality), restartInterval)

  /** Baseline COLOR JPEG: BT.601 YCbCr, 4:4:4 (no subsampling), Annex K
    * luma tables for Y and chroma tables for Cb/Cr — the shape real
    * encoders emit at `-sample 1x1`.  `rgb(x, y)` channels 0..255. */
  def encodeColor(w: Int, h: Int, rgb: (Int, Int) => (Int, Int, Int),
      quality: Int = 90, restartInterval: Int = 0): Array[Byte] =
    encodeSequential(colorFrame(w, h, rgb, 1, 1, quality), restartInterval)

  /** 4:2:0 color JPEG — the shape virtually every real-world encoder
    * emits by default: Y at full resolution (2×2 sampling), Cb/Cr
    * box-downsampled 2× in both axes (the standard mean-of-the-2×2-
    * quad), MCU = four Y blocks + one Cb + one Cr. */
  def encodeColor420(w: Int, h: Int, rgb: (Int, Int) => (Int, Int, Int),
      quality: Int = 90, restartInterval: Int = 0): Array[Byte] =
    encodeSequential(colorFrame(w, h, rgb, 2, 2, quality), restartInterval)

  /** 4:2:2 color JPEG — the broadcast/video-interchange shape (DV, many
    * camera pipelines): Y at 2×1 sampling, Cb/Cr halved HORIZONTALLY
    * only; MCU = two Y blocks + one Cb + one Cr over a 16×8 tile. */
  def encodeColor422(w: Int, h: Int, rgb: (Int, Int) => (Int, Int, Int),
      quality: Int = 90, restartInterval: Int = 0): Array[Byte] =
    encodeSequential(colorFrame(w, h, rgb, 2, 1, quality), restartInterval)

  /** 4:1:1 color JPEG — the legacy NTSC-DV shape: Y at 4×1 sampling,
    * Cb/Cr quartered horizontally; MCU = four Y blocks + one Cb + one
    * Cr over a 32×8 tile. */
  def encodeColor411(w: Int, h: Int, rgb: (Int, Int) => (Int, Int, Int),
      quality: Int = 90, restartInterval: Int = 0): Array[Byte] =
    encodeSequential(colorFrame(w, h, rgb, 4, 1, quality), restartInterval)

  /** Progressive grayscale JPEG: SOF2, a DC scan, then one AC scan per
    * `bands` entry (inclusive zigzag ranges covering 1..63 in order). */
  def encodeProgressive(w: Int, h: Int, gray: (Int, Int) => Int,
      quality: Int = 90,
      bands: Seq[(Int, Int)] = Seq((1, 5), (6, 63))): Array[Byte] = {
    checkBands(bands)
    encodeProgressiveBody(grayFrame(w, h, gray, quality), bands, 0)
  }

  /** Progressive grayscale JPEG WITH SUCCESSIVE APPROXIMATION (spec
    * §G.1.2): first scans deliver each coefficient's top bits (point
    * transform at Al = `al`), refinement scans deliver one bit plane at
    * a time down to Al = 0 — the mode real progressive encoders use.
    * DC: first scan codes diffs of (DC >> al) (arithmetic shift), each
    * refinement scan is one raw bit per block.  AC: first scans code
    * sign·(|v| >> al) with EOBRUN; refinement scans code newly-
    * significant coefficients as (run, 1) + sign and append one
    * correction bit per already-significant coefficient, with the
    * correction bits buffered behind the next symbol (the spec's BR
    * buffer) and EOB runs carrying the skipped blocks' correction bits.
    * Decoding all scans reconstructs the EXACT sequential coefficients,
    * so decode stays bit-equal to the sequential container. */
  def encodeProgressiveSA(w: Int, h: Int, gray: (Int, Int) => Int,
      quality: Int = 90, bands: Seq[(Int, Int)] = Seq((1, 5), (6, 63)),
      al: Int = 1): Array[Byte] = {
    require(al >= 1 && al <= 10, s"al=$al out of [1,10]")
    checkBands(bands)
    encodeProgressiveBody(grayFrame(w, h, gray, quality), bands, al)
  }

  /** PROGRESSIVE COLOR (SOF2, 3-component YCbCr 4:4:4, spectral
    * selection): per spec §G the DC first scan may be INTERLEAVED
    * (Ns = 3, MCU = one block per component at 1×1 sampling) but every
    * AC scan must be single-component — so the container is one
    * 3-component DC scan followed by one scan per (component × band).
    * Quantization is the exact pipeline of the sequential 4:4:4 encoder
    * (same planes, FDCT, tables, rounding), so decode must equal the
    * sequential color decode BIT-EXACTLY — the oracle invariant. */
  def encodeProgressiveColor(w: Int, h: Int,
      rgb: (Int, Int) => (Int, Int, Int), quality: Int = 90,
      bands: Seq[(Int, Int)] = Seq((1, 5), (6, 63))): Array[Byte] = {
    checkBands(bands)
    encodeProgressiveBody(colorFrame(w, h, rgb, 1, 1, quality), bands, 0)
  }

  /** PROGRESSIVE SUBSAMPLED COLOR (SOF2 + chroma subsampling composed —
    * the modern web default: mozjpeg/libjpeg `-progressive` emit
    * progressive 4:2:0): luma at (hs, vs) sampling, chroma
    * box-downsampled by the same factors through the EXACT pipeline of
    * the sequential subsampled encoder, so decode must equal the
    * sequential subsampled decode BIT-EXACTLY — the oracle invariant.
    * Scan structure per spec §G.1.1: one INTERLEAVED DC scan (MCU =
    * hs·vs luma blocks + one Cb + one Cr, covering the MCU-padded grids)
    * followed by one single-component AC scan per (component × band),
    * each walking its component's ceil grid (§A.2.2). */
  def encodeProgressiveColorSub(w: Int, h: Int,
      rgb: (Int, Int) => (Int, Int, Int), hs: Int, vs: Int,
      quality: Int = 90,
      bands: Seq[(Int, Int)] = Seq((1, 5), (6, 63))): Array[Byte] = {
    require(Set((2, 2), (2, 1), (4, 1)).contains((hs, vs)),
      s"unsupported sampling ${hs}x$vs (4:2:0 / 4:2:2 / 4:1:1)")
    checkBands(bands)
    encodeProgressiveBody(colorFrame(w, h, rgb, hs, vs, quality), bands, 0)
  }

  /** Progressive 4:2:0 color — the composition real web encoders emit
    * by default. */
  def encodeProgressiveColor420(w: Int, h: Int,
      rgb: (Int, Int) => (Int, Int, Int), quality: Int = 90,
      bands: Seq[(Int, Int)] = Seq((1, 5), (6, 63))): Array[Byte] =
    encodeProgressiveColorSub(w, h, rgb, 2, 2, quality, bands)

  // ---- text-fixture wrappers ------------------------------------------

  /** the shared three-phase text→RGB pixel map of the color fixtures:
    * channel c of pixel (x, y) is src[(y·w + x + offs_c) mod len] with
    * offsets (0, 13, 29) — three phase-shifted reads of the SAME byte
    * stream, so the SQL oracle can recompute every channel from the
    * text. */
  private def textRgb(w: Int, src: Array[Byte])
      : (Int, Int) => (Int, Int, Int) = {
    require(src.nonEmpty, "empty source bytes")
    (x, y) => {
      val j = y * w + x
      (src(j % src.length) & 0xff,
        src((j + 13) % src.length) & 0xff,
        src((j + 29) % src.length) & 0xff)
    }
  }

  /** Gray JPEG of the text fixture map. */
  def grayJpeg(w: Int, h: Int, src: Array[Byte],
      quality: Int = 90): Array[Byte] =
    encode(w, h, ImageCodec.srcGray(w, src), quality)

  /** Color JPEG of the three-phase text fixture map. */
  def colorJpeg(w: Int, h: Int, src: Array[Byte],
      quality: Int = 90): Array[Byte] =
    encodeColor(w, h, textRgb(w, src), quality)

  /** [[colorJpeg]] in the 4:2:0 container — the same text-derived pixel
    * map through chroma downsampling (the real-world default shape). */
  def color420Jpeg(w: Int, h: Int, src: Array[Byte],
      quality: Int = 90): Array[Byte] =
    encodeColor420(w, h, textRgb(w, src), quality)

  /** [[colorJpeg]] in the 4:2:2 container (horizontal-only chroma
    * halving — the broadcast shape). */
  def color422Jpeg(w: Int, h: Int, src: Array[Byte],
      quality: Int = 90): Array[Byte] =
    encodeColor422(w, h, textRgb(w, src), quality)

  /** [[colorJpeg]] in the 4:1:1 container (horizontal chroma
    * quartering — the legacy NTSC-DV shape). */
  def color411Jpeg(w: Int, h: Int, src: Array[Byte],
      quality: Int = 90): Array[Byte] =
    encodeColor411(w, h, textRgb(w, src), quality)

  /** [[grayJpeg]] in the progressive container. */
  def progJpeg(w: Int, h: Int, src: Array[Byte], quality: Int = 90,
      bands: Seq[(Int, Int)] = Seq((1, 5), (6, 63))): Array[Byte] =
    encodeProgressive(w, h, ImageCodec.srcGray(w, src), quality, bands)

  /** [[colorJpeg]] in the progressive container — the three-phase text
    * pixel map through the interleaved-DC + per-component-AC scan
    * sequence. */
  def progColorJpeg(w: Int, h: Int, src: Array[Byte],
      quality: Int = 90): Array[Byte] =
    encodeProgressiveColor(w, h, textRgb(w, src), quality)

  /** [[colorJpeg]] in the progressive 4:2:0 container — the three-phase
    * text pixel map through subsampled progressive scans. */
  def prog420Jpeg(w: Int, h: Int, src: Array[Byte],
      quality: Int = 90): Array[Byte] =
    encodeProgressiveColorSub(w, h, textRgb(w, src), 2, 2, quality)

  // ---- decoder --------------------------------------------------------

  /** The T.81 Annex-K "typical" Huffman tables as DECODER tables, keyed
    * (class, id) the way a DHT segment would install them — the tables
    * the MJPEG-in-AVI convention says a decoder must supply when a
    * frame omits its DHT segments (ids 0 = luma pair, 1 = chroma pair,
    * matching the table assignment every MJPG encoder uses). */
  private lazy val AnnexKDecodeTables: Map[(Int, Int), DecodeTable] =
    (for (cls <- 0 to 1; id <- 0 to 1) yield {
      val (bits, vals) = (if (cls == 0) DcSpecs else AcSpecs)(id)
      (cls, id) -> new DecodeTable(bits, vals)
    }).toMap

  /** Remove every DHT segment from a JPEG's header — the MJPEG-in-AVI
    * table-less frame shape (capture hardware omits the tables from
    * each frame; players supply the Annex-K defaults).  The marker walk
    * stops at SOS (entropy-coded data, where a raw 0xFFC4 byte pair is
    * data, not a marker) and copies the rest verbatim, so this is a
    * pure header transform. */
  def stripDht(jpeg: Array[Byte]): Array[Byte] = {
    require(jpeg.length >= 4 && (jpeg(0) & 0xff) == 0xff &&
      (jpeg(1) & 0xff) == 0xd8, "bad JPEG signature")
    val out = new java.io.ByteArrayOutputStream(jpeg.length)
    out.write(0xff); out.write(0xd8)
    var p = 2
    while (true) {
      require(p + 1 < jpeg.length, "truncated JPEG (no SOS)")
      require((jpeg(p) & 0xff) == 0xff,
        f"expected marker, got 0x${jpeg(p)}%02x")
      val m = jpeg(p + 1) & 0xff
      if (m == 0x01 || (m >= 0xd0 && m <= 0xd7)) { // standalone
        out.write(jpeg, p, 2); p += 2
      } else {
        require(p + 3 < jpeg.length, "truncated JPEG segment")
        val len = ((jpeg(p + 2) & 0xff) << 8) | (jpeg(p + 3) & 0xff)
        require(len >= 2 && p + 2 + len <= jpeg.length,
          "truncated JPEG segment")
        if (m != 0xc4) out.write(jpeg, p, 2 + len)
        if (m == 0xda) { // SOS: copy entropy data + trailing markers
          out.write(jpeg, p + 2 + len, jpeg.length - (p + 2 + len))
          return out.toByteArray
        }
        p += 2 + len
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Decode with the MJPEG-in-AVI table convention: scans may reference
    * Huffman tables no DHT segment defined — the decoder supplies the
    * Annex-K defaults for ids 0/1 (luma/chroma, the assignment every
    * MJPG encoder uses).  ONLY the AVI container path sets this flag; a
    * bare JPEG with missing tables keeps failing loudly, because
    * outside the MJPG context a missing table means a truncated or
    * corrupt file, not a convention.  The convention is a BASELINE one:
    * the Annex-K defaults are the sequential interchange tables, and no
    * MJPEG producer emits progressive frames, so a progressive frame
    * that also omits its tables is corruption — rejected by NAME instead
    * of silently decoded with tables the encoder never meant. */
  def decode(b: Array[Byte], mjpegDefaultTables: Boolean)
      : ImageCodec.Raster = {
    require(b.length >= 4 && (b(0) & 0xff) == 0xff && (b(1) & 0xff) == 0xd8,
      "bad JPEG signature")
    var p = 2
    var progressive = false
    var compIds: Array[Int] = null // frame component ids, in order
    var quantIds: Array[Int] = null
    var grid: Grid = null
    // per component: 64 coefficients (natural order) per block of its
    // padded grid, filled by the scans
    var coefs: Array[Array[Int]] = null
    val quant = new Array[Array[Int]](4)
    val huff = mutable.Map.empty[(Int, Int), DecodeTable]
    var scanData: ScanData = null
    var restartInterval = 0
    var scans = 0
    def u16(off: Int): Int = {
      require(off + 1 < b.length, "truncated JPEG segment")
      ((b(off) & 0xff) << 8) | (b(off + 1) & 0xff)
    }
    def table(cls: Int, id: Int): DecodeTable = huff.getOrElse((cls, id), {
      val what = if (cls == 0) "DC" else "AC"
      if (mjpegDefaultTables && !progressive && id <= 1)
        AnnexKDecodeTables((cls, id))
      else throw new IllegalArgumentException(
        if (mjpegDefaultTables && progressive)
          s"missing $what Huffman table in a PROGRESSIVE MJPG frame — " +
            "the Annex-K default-table convention is baseline-only"
        else s"JPEG missing $what Huffman table $id")
    })
    var done = false
    while (!done) {
      require(p + 1 < b.length, "truncated JPEG (no EOI)")
      require((b(p) & 0xff) == 0xff, f"expected marker, got 0x${b(p)}%02x")
      val m = b(p + 1) & 0xff
      p += 2
      m match {
        case 0xd9 =>
          require(scans > 0, "JPEG EOI before SOS")
          done = true
        case 0x01 => () // TEM, standalone
        case x if x >= 0xd0 && x <= 0xd7 => () // RSTn, standalone
        case 0xc0 | 0xc2 => // SOF0 baseline, SOF2 progressive
          require(grid == null, "JPEG with more than one SOF")
          progressive = m == 0xc2
          val sof = s"SOF${m - 0xc0}"
          val len = u16(p)
          require(len >= 11 && p + len <= b.length, s"truncated $sof")
          require((b(p + 2) & 0xff) == 8, "only 8-bit JPEG supported")
          val h = u16(p + 3); val w = u16(p + 5)
          require(w > 0 && h > 0, s"bad JPEG dims ${w}x$h")
          // the coefficient planes below are sized from these dims
          ImageCodec.pixelCap(w, h, "JPEG")
          val nComp = b(p + 7) & 0xff
          require(nComp == 1 || nComp == 3,
            s"only 1- or 3-component JPEG supported, got $nComp")
          require(len >= 8 + 3 * nComp, s"truncated $sof components")
          compIds = Array.tabulate(nComp)(i => b(p + 8 + 3 * i) & 0xff)
          val hv = Array.tabulate(nComp)(i => b(p + 9 + 3 * i) & 0xff)
          quantIds = Array.tabulate(nComp) { i =>
            val tq = b(p + 10 + 3 * i) & 0xff
            require(tq <= 3, s"bad quant table id $tq")
            tq
          }
          // supported sampling geometries: all 1×1 (gray / 4:4:4), or
          // luma (2,2)/(2,1)/(4,1) + chroma 1×1 (4:2:0 — the real-world
          // default — plus the 4:2:2 broadcast and 4:1:1 NTSC-DV shapes)
          val hvs = hv.toSeq.map(s => (s >> 4, s & 0x0f))
          val ok444 = hvs.forall(_ == ((1, 1)))
          val okSub = nComp == 3 && hvs.tail.forall(_ == ((1, 1))) &&
            Set((2, 2), (2, 1), (4, 1)).contains(hvs.head)
          require(ok444 || okSub,
            s"unsupported ${if (progressive) "progressive " else ""}" +
              s"chroma subsampling $hvs — 4:4:4 / 4:2:0 / 4:2:2 / 4:1:1 only")
          grid = new Grid(w, h, hv.map(_ >> 4), hv.map(_ & 0x0f))
          coefs = Array.tabulate(nComp)(i =>
            new Array[Int](grid.padW(i) * grid.padH(i) * 64))
          p += len
        case x if (x >= 0xc1 && x <= 0xcf) && x != 0xc4 && x != 0xc8 &&
            x != 0xcc =>
          throw new IllegalArgumentException(f"JPEG SOF 0x$x%02x " +
            "unsupported (baseline SOF0 and progressive SOF2 only)")
        case 0xc8 | 0xcc => throw new IllegalArgumentException(
          "arithmetic-coded JPEG unsupported")
        case 0xdb => // DQT (possibly several tables in one segment)
          val len = u16(p)
          // len < 2 would stop `p` advancing — a crafted header must
          // fail loudly, not hang the decoder
          require(len >= 2 && p + len <= b.length, "truncated DQT")
          var q = p + 2
          while (q < p + len) {
            val pqtq = b(q) & 0xff
            require((pqtq >> 4) == 0, "16-bit quant tables unsupported")
            require((pqtq & 0x0f) <= 3, "bad quant table id")
            require(q + 65 <= p + len, "truncated DQT table")
            val t = new Array[Int](64)
            var i = 0
            while (i < 64) { t(ZigZag(i)) = b(q + 1 + i) & 0xff; i += 1 }
            quant(pqtq & 0x0f) = t
            q += 65
          }
          p += len
        case 0xc4 => // DHT (possibly several tables)
          val len = u16(p)
          require(len >= 2 && p + len <= b.length, "truncated DHT")
          var q = p + 2
          while (q < p + len) {
            val tcth = b(q) & 0xff
            require((tcth >> 4) <= 1 && (tcth & 0x0f) <= 3,
              "bad Huffman table class/id")
            require(q + 17 <= p + len, "truncated DHT header")
            val bits = Array.tabulate(16)(i => b(q + 1 + i) & 0xff)
            val n = bits.sum
            require(q + 17 + n <= p + len, "truncated DHT values")
            huff((tcth >> 4, tcth & 0x0f)) = new DecodeTable(bits,
              java.util.Arrays.copyOfRange(b, q + 17, q + 17 + n))
            q += 17 + n
          }
          p += len
        case 0xdd =>
          val len = u16(p)
          require(len == 4 && p + len <= b.length, "truncated DRI")
          restartInterval = u16(p + 2)
          p += len
        case 0xda => // SOS, then its entropy-coded data
          require(grid != null, "JPEG SOS before SOF")
          val len = u16(p)
          require(len >= 8 && p + len <= b.length, "truncated SOS")
          val ns = b(p + 2) & 0xff
          require(ns >= 1 && ns <= compIds.length,
            s"bad scan component count $ns")
          require(len >= 6 + 2 * ns, "truncated SOS components")
          val cis = Array.tabulate(ns) { i =>
            val cs = b(p + 3 + 2 * i) & 0xff
            val ci = compIds.indexOf(cs)
            require(ci >= 0, s"scan component $cs not in the frame")
            ci
          }
          val tt = Array.tabulate(ns)(i => b(p + 4 + 2 * i) & 0xff)
          val so = p + 3 + 2 * ns
          val ss = b(so) & 0xff
          val se = b(so + 1) & 0xff
          // successive approximation exists only in progressive scans
          val ah = if (progressive) (b(so + 2) & 0xff) >> 4 else 0
          val al = if (progressive) b(so + 2) & 0x0f else 0
          require(ah == 0 || ah == al + 1,
            s"non-contiguous successive approximation (Ah=$ah, Al=$al)")
          require(ss <= se && se <= 63, s"bad spectral range $ss..$se")
          val inFrameOrder = cis.sameElements(compIds.indices)
          if (progressive) {
            require(restartInterval == 0,
              "restart intervals in progressive JPEG unsupported")
            if (ss == 0) { // DC scan — the only kind the spec allows to
              // interleave (§G.1.1)
              require(se == 0, "DC scan must have Se = 0")
              require(ns == 1 || inFrameOrder,
                "interleaved DC scan must cover all components in frame order")
            } else require(ns == 1,
              "progressive AC scans must be single-component (spec G.1.1)")
          } else {
            require(ns == compIds.length,
              s"scan components ($ns) must match frame (${compIds.length})" +
                " — non-interleaved multi-scan unsupported")
            require(inFrameOrder, "scan component order must match the frame")
            require(ss == 0 && se == 63,
              "partial spectral selection unsupported")
          }
          val dcTs = if (ss == 0 && ah == 0) tt.map(t => table(0, t >> 4))
            else null
          val acTs = if (se > 0) tt.map(t => table(1, t & 0x0f)) else null
          if (scanData == null) scanData = new ScanData(b.length)
          val after = scanData.unstuff(b, p + len)
          val next = scanData.marker
          require(next == 0xd9 || (progressive &&
            (next == 0xda || next == 0xc4 || next == 0xdb)),
            f"unexpected marker 0x$next%02x after a JPEG scan")
          decodeScan(scanData, grid, coefs, cis, dcTs, acTs, ss, se, ah, al,
            restartInterval, progressive)
          scans += 1
          p = after - 2 // hand the terminating marker back to the walk
        case _ => // APPn, COM, others with a length field: skip
          val len = u16(p)
          require(len >= 2 && p + len <= b.length, "truncated JPEG segment")
          p += len
      }
    }
    quantIds.foreach(t => require(quant(t) != null,
      s"JPEG missing quant table $t"))
    raster(grid, coefs, quantIds.map(quant))
  }

  def decode(b: Array[Byte]): ImageCodec.Raster = decode(b, false)

  /** One scan's entropy-coded data, unstuffed into one buffer that every
    * scan of a decode reuses (a scan's data never outgrows the stream
    * that holds it).  Restart segment `i` is `bytes(segStart(i) until
    * segEnd(i))`. */
  private final class ScanData(capacity: Int) {
    val bytes = new Array[Byte](capacity)
    private var ends = new Array[Int](8)
    /** restart segments in the last scan */
    var segs = 0
    /** the marker that ended the last scan */
    var marker = 0
    def segStart(i: Int): Int = if (i == 0) 0 else ends(i - 1)
    def segEnd(i: Int): Int = ends(i)

    /** The entropy unstuffer (spec §B.1.1.5): the bytes from `start` to
      * the next marker other than RSTn, FF00 → FF, split at each RSTn
      * into restart segments whose markers must cycle D0..D7 in order
      * (§B.2.1.2).  Returns the position after the terminating marker. */
    def unstuff(b: Array[Byte], start: Int): Int = {
      segs = 0
      var n = 0
      var q = start
      while (true) {
        require(q < b.length, "truncated JPEG scan (no terminating marker)")
        val v = b(q)
        if (v != -1) { bytes(n) = v; n += 1; q += 1 } // not 0xFF
        else {
          require(q + 1 < b.length, "truncated JPEG scan (dangling FF)")
          val nxt = b(q + 1) & 0xff
          if (nxt == 0x00) { bytes(n) = v; n += 1; q += 2 } // stuffed data byte
          else {
            if (segs == ends.length) ends = java.util.Arrays.copyOf(ends, 2 * segs)
            ends(segs) = n
            segs += 1
            if (nxt < 0xd0 || nxt > 0xd7) { marker = nxt; return q + 2 }
            require(nxt - 0xd0 == (segs - 1) % 8,
              s"restart marker out of sequence at segment $segs")
            q += 2
          }
        }
      }
      throw new IllegalStateException("unreachable")
    }
  }

  /** Entropy-decode one scan into the frame's coefficient buffers: per
    * block, the DC (a difference in a first scan, one raw bit in a
    * refinement) when Ss = 0, then the band max(Ss, 1)..Se — (run, size)
    * symbols with ZRL and EOB runs in a first scan (a sequential scan
    * allows only the plain EOB), correction bits and newly-significant
    * coefficients in a refinement (spec §F.2.2, §G.1.2).  First scans
    * store coefficients scaled by 2^Al. */
  private def decodeScan(sd: ScanData, grid: Grid,
      coefs: Array[Array[Int]], cis: Array[Int], dcTs: Array[DecodeTable],
      acTs: Array[DecodeTable], ss: Int, se: Int, ah: Int, al: Int,
      restartInterval: Int, progressive: Boolean): Unit = {
    if (restartInterval == 0)
      require(sd.segs == 1, "restart markers present but DRI said none")
    else {
      val expected = (grid.units(cis) + restartInterval - 1) / restartInterval
      require(sd.segs == expected,
        s"restart segment count ${sd.segs} != expected $expected")
    }
    val br = new BitReader(sd.bytes)
    val prevDc = new Array[Int](cis.length)
    var eobrun = 0
    val p1 = 1 << al
    val n1 = -(1 << al)
    // refine one already-significant coefficient: bit 1 adds the p1
    // magnitude bit (negatives are stored as −magnitude, so (coef & p1)
    // tests the magnitude bit directly — low bits are zero until
    // delivered)
    def refine(c: Array[Int], i: Int): Unit =
      if (br.bit() == 1 && (c(i) & p1) == 0) c(i) += (if (c(i) >= 0) p1 else n1)
    grid.visit(cis, u =>
      if (u == 0 || (restartInterval > 0 && u % restartInterval == 0)) {
        // a restart segment: fresh bit stream, DC predictors reset
        val seg = if (restartInterval == 0) 0 else u / restartInterval
        br.reset(sd.segStart(seg), sd.segEnd(seg))
        java.util.Arrays.fill(prevDc, 0)
      }) { (j, bi) =>
      val c = coefs(cis(j))
      val base = bi * 64
      if (ss == 0) {
        // refinement is one raw bit per block: x == (x >> k << k) | low
        // bits, so OR-ing each delivered bit reconstructs the
        // two's-complement DC exactly
        if (ah == 0) {
          val s = br.decode(dcTs(j))
          require(s <= 11, s"DC size $s out of baseline range")
          prevDc(j) += extend(br.receive(s), s)
          c(base) = prevDc(j) << al
        } else c(base) |= br.bit() << al
      }
      if (se > 0) {
        var k = math.max(ss, 1)
        if (ah == 0) {
          if (eobrun > 0) eobrun -= 1
          else {
            var eob = false
            while (k <= se && !eob) {
              val rs = br.decode(acTs(j))
              val r = rs >> 4
              val sz = rs & 0x0f
              if (sz == 0) {
                if (r == 15) k += 16 // ZRL
                else { // EOBRUN: 2^r + receive(r) blocks incl. this one
                  require(progressive || r == 0,
                    f"invalid JPEG AC symbol 0x$rs%02x")
                  eobrun = (1 << r) + br.receive(r) - 1
                  eob = true
                }
              } else {
                k += r
                require(k <= se, "AC coefficient past the scan band")
                c(base + ZigZag(k)) = extend(br.receive(sz), sz) << al
                k += 1
              }
            }
          }
        } else {
          if (eobrun == 0) {
            var eob = false
            while (k <= se && !eob) {
              val rs = br.decode(acTs(j))
              var r = rs >> 4
              val sz = rs & 0x0f
              var newVal = 0
              if (sz == 0) {
                if (r != 15) { // EOBn: this block + (run−1) more
                  eobrun = (1 << r) + br.receive(r)
                  eob = true
                } // r == 15: ZRL — skip 16 zero-history positions
              } else {
                require(sz == 1, "AC refinement coefficient size must be 1")
                newVal = if (br.bit() == 1) p1 else n1
              }
              if (!eob) {
                // walk: refine nonzero-history coefficients en route;
                // count r down over zero-history ones; land on the
                // (r+1)-th zero-history position
                var placed = false
                while (k <= se && !placed) {
                  val i = base + ZigZag(k)
                  if (c(i) != 0) refine(c, i)
                  else if (r == 0) {
                    if (sz != 0) c(i) = newVal
                    placed = true
                  } else r -= 1
                  k += 1
                }
                require(placed || sz == 0, "AC refinement run past the band")
              }
            }
          }
          if (eobrun > 0) {
            // the EOB run covers the REST of this block's band …
            while (k <= se) {
              val i = base + ZigZag(k)
              if (c(i) != 0) refine(c, i)
              k += 1
            }
            eobrun -= 1 // … and (eobrun−1) full blocks after it
          }
        }
      }
    }
    require(eobrun == 0, "EOBRUN past the last block")
  }

  /** The coefficient→raster back end, once per image.
    *
    * Per block: dequantize, inverse-transform, level shift and clamp into
    * the component's PADDED plane.  The IDCT is the direct form of spec
    * A.3.3 — pixel (x, y) is 0.25 · Σ over v, then u, of
    * C(u)·C(v)·q(v, u)·Cos(x, u)·Cos(y, v), evaluated left to right — made
    * sparse and coefficient-major: the block's nonzero coefficients are
    * gathered in ascending natural order (v·8 + u), each as its row
    * amp·Cos(x, u) for x = 0..7 with amp = C(u)·C(v)·q, and each pixel
    * then sums row(x)·Cos(y, v) over the gathered terms in that order.
    * So every pixel adds the same nonzero products in the same order as
    * the direct form.  A skipped term is a product with a zero
    * coefficient, a signed zero, and adding one to a sum that is nonzero
    * or +0.0 (a sum that starts at +0.0 never becomes −0.0) leaves it as
    * it was, so every pixel is bit-identical to the direct form's.
    *
    * Then nearest upsampling at assembly (component sample (x·h/hMax,
    * y·v/vMax), through per-component column and row offsets computed
    * once — the JFIF default for subsampled chroma) and BT.601 colour
    * conversion straight into the raster. */
  private def raster(grid: Grid, coefs: Array[Array[Int]],
      qts: Array[Array[Int]]): ImageCodec.Raster = {
    val nComp = coefs.length
    val idct = new SparseIdct
    val planeW = grid.padW.map(_ * 8)
    val planes = Array.tabulate(nComp) { ci =>
      val pw = planeW(ci)
      val plane = new Array[Int](pw * grid.padH(ci) * 8)
      var bi = 0
      while (bi < grid.padW(ci) * grid.padH(ci)) {
        idct.block(coefs(ci), bi * 64, qts(ci), plane,
          bi / grid.padW(ci) * 8 * pw + bi % grid.padW(ci) * 8, pw)
        bi += 1
      }
      plane
    }
    val w = grid.w
    val h = grid.h
    def offsets(n: Int)(f: Int => Int): Array[Int] = {
      val a = new Array[Int](n)
      var i = 0
      while (i < n) { a(i) = f(i); i += 1 }
      a
    }
    val colOff = Array.tabulate(nComp)(ci =>
      offsets(w)(x => x * grid.hs(ci) / grid.hMax))
    val rowOff = Array.tabulate(nComp)(ci =>
      offsets(h)(y => y * grid.vs(ci) / grid.vMax * planeW(ci)))
    val luma = new Array[Int](w * h)
    var y = 0
    while (y < h) {
      val o = y * w
      if (nComp == 1) {
        val p0 = planes(0); val r0 = rowOff(0)(y); val c0 = colOff(0)
        var x = 0
        while (x < w) { luma(o + x) = 3 * p0(r0 + c0(x)); x += 1 }
      } else {
        val p0 = planes(0); val r0 = rowOff(0)(y); val c0 = colOff(0)
        val p1 = planes(1); val r1 = rowOff(1)(y); val c1 = colOff(1)
        val p2 = planes(2); val r2 = rowOff(2)(y); val c2 = colOff(2)
        var x = 0
        while (x < w) {
          val yy = p0(r0 + c0(x))
          val cb = p1(r1 + c1(x))
          val cr = p2(r2 + c2(x))
          luma(o + x) = clamp255(yy + 1.402 * (cr - 128)) +
            clamp255(yy - 0.344136 * (cb - 128) - 0.714136 * (cr - 128)) +
            clamp255(yy + 1.772 * (cb - 128))
          x += 1
        }
      }
      y += 1
    }
    ImageCodec.Raster(w, h, luma)
  }

  /** The IDCT of [[raster]], one block at a time over reused buffers:
    * term j of the block's gathered nonzero coefficients has its row
    * amp·Cos(x, u) at rows(j·8 + x) and its v at vOf(j). */
  private final class SparseIdct {
    private val rows = new Array[Double](64 * 8)
    private val vOf = new Array[Int](64)

    /** Dequantize and inverse-transform the block at `c(base until base +
      * 64)` with quantization table `qt`, then level shift and clamp it
      * into `plane` at offset `p0`, row stride `pw`. */
    def block(c: Array[Int], base: Int, qt: Array[Int], plane: Array[Int],
        p0: Int, pw: Int): Unit = {
      val cos = Cos
      var n = 0
      var i = 0
      while (i < 64) {
        val k = c(base + i)
        if (k != 0) {
          val u = i & 7
          val amp = CC(i) * (k.toDouble * qt(i))
          val t = n * 8
          rows(t) = amp * cos(u); rows(t + 1) = amp * cos(8 + u)
          rows(t + 2) = amp * cos(16 + u); rows(t + 3) = amp * cos(24 + u)
          rows(t + 4) = amp * cos(32 + u); rows(t + 5) = amp * cos(40 + u)
          rows(t + 6) = amp * cos(48 + u); rows(t + 7) = amp * cos(56 + u)
          vOf(n) = i >> 3
          n += 1
        }
        i += 1
      }
      var p = p0
      var o = 0
      while (o < 64) { // o = y·8
        var s0 = 0.0; var s1 = 0.0; var s2 = 0.0; var s3 = 0.0
        var s4 = 0.0; var s5 = 0.0; var s6 = 0.0; var s7 = 0.0
        var j = 0
        while (j < n) {
          val cy = cos(o + vOf(j))
          val t = j * 8
          s0 += rows(t) * cy; s1 += rows(t + 1) * cy
          s2 += rows(t + 2) * cy; s3 += rows(t + 3) * cy
          s4 += rows(t + 4) * cy; s5 += rows(t + 5) * cy
          s6 += rows(t + 6) * cy; s7 += rows(t + 7) * cy
          j += 1
        }
        plane(p) = clamp255(0.25 * s0 + 128.0)
        plane(p + 1) = clamp255(0.25 * s1 + 128.0)
        plane(p + 2) = clamp255(0.25 * s2 + 128.0)
        plane(p + 3) = clamp255(0.25 * s3 + 128.0)
        plane(p + 4) = clamp255(0.25 * s4 + 128.0)
        plane(p + 5) = clamp255(0.25 * s5 + 128.0)
        plane(p + 6) = clamp255(0.25 * s6 + 128.0)
        plane(p + 7) = clamp255(0.25 * s7 + 128.0)
        p += pw
        o += 8
      }
    }
  }

  /** Worst-case per-pixel reconstruction error bound for [[encode]] at
    * `quality` — quantization can move each zigzag coefficient by at most
    * quant/2, the IDCT basis magnitudes are ≤ C(u)C(v)/4 per pixel, plus
    * 0.5 for the final integer rounding.  The closed form is loose; this
    * returns the bound the gauge queries assert (validated empirically in
    * R17JpegSpec over adversarial fixtures).  Luma table (the gray
    * path); the color path's chroma error compounds through the YCbCr
    * inverse and is gauged empirically in its query. */
  def pixelErrorBound(quality: Int): Double = {
    val quant = scaledQuant(quality, BaseQuantLuma)
    var s = 0.0
    var u = 0
    while (u < 8) {
      var v = 0
      while (v < 8) {
        s += 0.25 * C(u) * C(v) * quant(v * 8 + u) / 2.0
        v += 1
      }
      u += 1
    }
    s + 0.5
  }
}
