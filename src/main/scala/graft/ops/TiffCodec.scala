package graft.ops

/** Dependency-free baseline TIFF 6.0 codec, written from the public TIFF
  * 6.0 specification: the 8-byte header (II/MM byte order + magic 42),
  * the IFD walk (12-byte entries, inline-or-offset values), strip-based
  * pixel data, and three compression schemes — none (1), PackBits
  * (32773: the Macintosh run-length scheme, §9) and LZW (5, §13) with
  * TIFF's MSB-first bit packing, 256/257 Clear/EOI codes, 12-bit
  * dictionary cap and the spec's EARLY-CHANGE quirk (code width grows at
  * 2^n − 1, one code earlier than GIF's LSB-first variant), plus the
  * horizontal-differencing Predictor (tag 317, value 2) that makes LZW
  * effective on continuous-tone data.  Both byte orders decode; the
  * fixture encoder emits either — real-world TIFFs come in both.
  *
  * Supported shapes: 8-bit grayscale (PhotometricInterpretation 1),
  * 8-bit RGB (2) and 8-bit PALETTE (3, ColorMap tag 320 with the
  * spec's 16-bit entries), STRIP-based (any RowsPerStrip) or TILED
  * (§15: TileWidth/TileLength tags 322/323 in multiples of 16,
  * TileOffsets/TileByteCounts 324/325, edge tiles padded to full size
  * with only the image intersection kept), compressions 1/5/32773,
  * predictor 1/2, planar configuration 1 or 2 (plane-major RGB strip
  * sequences, predictor distance 1 within a plane).  Everything else —
  * other bit depths, fill order 2 — fails loudly: a decoder silently
  * misreading strips would poison every downstream fingerprint (the
  * [[ImageCodec]] contract).  TIFF carries no checksums (the PNG tier is
  * the checksummed one); corruption safety is structural — IFD bounds,
  * strip-length accounting, LZW code validity.
  */
object TiffCodec {

  // ---- byte-order-aware primitive I/O --------------------------------------

  private final class Reader(b: Array[Byte], littleEndian: Boolean) {
    def u16(o: Int): Int = {
      require(o >= 0 && o + 1 < b.length, "truncated TIFF (u16)")
      if (littleEndian) (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8)
      else ((b(o) & 0xff) << 8) | (b(o + 1) & 0xff)
    }
    def u32(o: Int): Long = {
      require(o >= 0 && o + 3 < b.length, "truncated TIFF (u32)")
      if (littleEndian)
        (b(o) & 0xffL) | ((b(o + 1) & 0xffL) << 8) |
          ((b(o + 2) & 0xffL) << 16) | ((b(o + 3) & 0xffL) << 24)
      else
        ((b(o) & 0xffL) << 24) | ((b(o + 1) & 0xffL) << 16) |
          ((b(o + 2) & 0xffL) << 8) | (b(o + 3) & 0xffL)
    }
  }

  // ---- PackBits (spec §9) --------------------------------------------------

  private[graft] def packBitsEncode(src: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream
    var i = 0
    while (i < src.length) {
      // find run length at i (capped 128)
      var run = 1
      while (i + run < src.length && run < 128 && src(i + run) == src(i))
        run += 1
      if (run >= 2) {
        out.write(1 - run) // -(run-1) in [-127, -1]
        out.write(src(i))
        i += run
      } else {
        // literal stretch: until a run of ≥ 3 starts (2-byte runs inside
        // literals are cheaper left literal) or 128 bytes
        var j = i + 1
        var done = false
        while (j < src.length && j - i < 128 && !done) {
          if (j + 2 < src.length && src(j) == src(j + 1) &&
            src(j) == src(j + 2)) done = true
          else j += 1
        }
        out.write(j - i - 1)
        out.write(src, i, j - i)
        i = j
      }
    }
    out.toByteArray
  }

  private[graft] def packBitsDecode(src: Array[Byte], expect: Int): Array[Byte] = {
    val out = new Array[Byte](expect)
    var i = 0
    var o = 0
    while (o < expect) {
      require(i < src.length, "truncated PackBits strip")
      val n = src(i)
      i += 1
      if (n >= 0) { // n+1 literal bytes
        require(i + n < src.length, "truncated PackBits literal")
        require(o + n + 1 <= expect, "PackBits overrun")
        System.arraycopy(src, i, out, o, n + 1)
        i += n + 1
        o += n + 1
      } else if (n != -128) { // repeat next byte 1-n times
        require(i < src.length, "truncated PackBits run")
        require(o + 1 - n <= expect, "PackBits overrun")
        java.util.Arrays.fill(out, o, o + 1 - n, src(i))
        i += 1
        o += 1 - n
      } // -128: noop
    }
    require(i == src.length, "trailing PackBits bytes")
    out
  }

  // ---- TIFF LZW (spec §13: MSB-first packing, early change) ----------------

  private val LzwClear = 256
  private val LzwEoi = 257

  private[graft] def lzwEncode(src: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream
    var acc = 0
    var nBits = 0
    var width = 9
    def put(code: Int): Unit = {
      acc = (acc << width) | code
      nBits += width
      while (nBits >= 8) {
        out.write((acc >> (nBits - 8)) & 0xff)
        nBits -= 8
      }
    }
    // dictionary: prefix-code × byte → code (the classic chained form)
    var table = scala.collection.mutable.Map.empty[(Int, Int), Int]
    var nextCode = 258
    def reset(): Unit = { table.clear(); nextCode = 258 }
    put(LzwClear)
    if (src.nonEmpty) {
      var prefix = src(0) & 0xff
      var i = 1
      while (i < src.length) {
        val c = src(i) & 0xff
        table.get((prefix, c)) match {
          case Some(code) => prefix = code
          case None =>
            put(prefix)
            table((prefix, c)) = nextCode
            nextCode += 1
            // EARLY CHANGE (spec §13): the encoder widens upon ASSIGNING
            // entry 2^w − 1 (GIF widens one later, at 2^w); the decoder
            // below widens upon assigning 2^w − 2 — the −1 offset that
            // keeps a one-entry-behind decoder at the encoder's width
            if (nextCode == (1 << width) && width < 12) width += 1
            if (nextCode == 4094) { // table full: clear and restart
              put(LzwClear)
              reset()
              width = 9
            }
            prefix = c
        }
        i += 1
      }
      put(prefix)
    }
    put(LzwEoi)
    if (nBits > 0) out.write((acc << (8 - nBits)) & 0xff)
    out.toByteArray
  }

  private[graft] def lzwDecode(src: Array[Byte], expect: Int): Array[Byte] = {
    val out = new Array[Byte](expect)
    var o = 0
    var pos = 0
    var acc = 0
    var nBits = 0
    var width = 9
    def code(): Int = {
      while (nBits < width) {
        require(pos < src.length, "truncated LZW strip")
        acc = (acc << 8) | (src(pos) & 0xff)
        pos += 1
        nBits += 8
      }
      nBits -= width
      (acc >> nBits) & ((1 << width) - 1)
    }
    // dictionary as (prefixCode, byte) chains; singles implicit
    val prefixOf = new Array[Int](4096)
    val byteOf = new Array[Int](4096)
    var nextCode = 258
    def emit(c: Int): Int = { // writes string of code c, returns first byte
      if (c < 256) {
        require(o < expect, "LZW output overrun")
        out(o) = c.toByte
        o += 1
        c
      } else {
        val first = emit(prefixOf(c))
        require(o < expect, "LZW output overrun")
        out(o) = byteOf(c).toByte
        o += 1
        first
      }
    }
    var prev = -1
    var done = false
    while (!done) {
      val c = code()
      if (c == LzwEoi) done = true
      else if (c == LzwClear) {
        nextCode = 258
        width = 9
        prev = -1
      } else if (prev < 0) {
        require(c < 256, s"LZW stream must start with a literal, got $c")
        emit(c)
        prev = c
      } else {
        require(c <= nextCode, s"LZW code $c out of range (< $nextCode)")
        require(nextCode < 4095, "LZW table overflow without clear")
        if (c < nextCode) {
          // ordinary: emit table string; new entry = prev + first(c)
          val f = emit(c)
          prefixOf(nextCode) = prev
          byteOf(nextCode) = f
        } else {
          // KwKwK: entry is prev + first(prev), emitted as itself
          var f = prev
          while (f >= 256) f = prefixOf(f)
          prefixOf(nextCode) = prev
          byteOf(nextCode) = f
          emit(nextCode)
        }
        nextCode += 1
        // early change, decoder side: one entry before the encoder
        if (nextCode == (1 << width) - 1 && width < 12) width += 1
        prev = c
      }
    }
    require(o == expect, s"LZW strip short: $o of $expect")
    out
  }

  // ---- horizontal-differencing predictor (tag 317 = 2) ---------------------

  private def predictorForward(row: Array[Byte], spp: Int): Unit = {
    var i = row.length - 1
    while (i >= spp) {
      row(i) = (row(i) - row(i - spp)).toByte
      i -= 1
    }
  }

  private def predictorInverse(row: Array[Byte], spp: Int): Unit = {
    var i = spp
    while (i < row.length) {
      row(i) = (row(i) + row(i - spp)).toByte
      i += 1
    }
  }

  // ---- encoder (fixture/query side) ----------------------------------------

  /** Compression selector for [[encode]]: 1 = none, 5 = LZW,
    * 32773 = PackBits.  `tileW`/`tileH` > 0 switch to the §15 TILED
    * layout (multiples of 16, edge tiles padded to full size).
    * `palette` non-null switches to photometric 3: rgb()'s r-value is
    * the 8-bit INDEX and `palette` is the 256-entry 8-bit RGB table,
    * written as the spec's 16-bit ColorMap (v·257 = v<<8|v, so the
    * decoder's >>8 recovers v exactly). */
  def encode(w: Int, h: Int, rgb: (Int, Int) => (Int, Int, Int),
      gray: Boolean = false, compression: Int = 1, predictor: Int = 1,
      rowsPerStrip: Int = 0, bigEndian: Boolean = false,
      tileW: Int = 0, tileH: Int = 0,
      palette: Array[(Int, Int, Int)] = null,
      planar: Int = 1): Array[Byte] = {
    require(w > 0 && h > 0, "bad dims")
    require(planar == 1 || planar == 2, s"planar configuration $planar")
    // ImageWidth/ImageLength are written as SHORT IFD values — larger
    // dims would silently truncate (the decoder guards this too)
    require(w <= 65535 && h <= 65535, s"dims ${w}x$h exceed SHORT range")
    require(compression == 1 || compression == 5 || compression == 32773,
      s"compression $compression")
    require(predictor == 1 || (predictor == 2 && compression == 5),
      "predictor 2 is only meaningful under LZW")
    val tiled = tileW > 0 || tileH > 0
    if (tiled)
      require(tileW > 0 && tileW % 16 == 0 && tileH > 0 && tileH % 16 == 0,
        s"tile dims ${tileW}x$tileH must be positive multiples of 16 (§15)")
    if (palette != null)
      require(palette.length == 256 && !gray,
        "palette must have 256 entries (and excludes gray)")
    val indexed = palette != null
    val spp = if (gray || indexed) 1 else 3
    require(planar == 1 || (spp == 3 && !tiled),
      "planar configuration 2 requires RGB strips")
    val stride = w * spp
    val raw = new Array[Byte](h * stride)
    for (y <- 0 until h; x <- 0 until w) {
      val (r, g, b) = rgb(x, y)
      if (spp == 1) raw(y * stride + x) = r.toByte
      else {
        raw(y * stride + x * 3) = r.toByte
        raw(y * stride + x * 3 + 1) = g.toByte
        raw(y * stride + x * 3 + 2) = b.toByte
      }
    }
    // one compressed segment per strip or per tile (predictor runs per
    // SEGMENT row — stride w·spp for strips, tileW·spp for tiles; sample
    // distance 1 inside a planar-2 plane)
    def compress(body: Array[Byte], rows: Int, rowLen: Int,
        dist: Int = spp): Array[Byte] = {
      if (predictor == 2)
        for (r <- 0 until rows) {
          val row = java.util.Arrays.copyOfRange(body, r * rowLen,
            (r + 1) * rowLen)
          predictorForward(row, dist)
          System.arraycopy(row, 0, body, r * rowLen, rowLen)
        }
      compression match {
        case 1 => body
        case 5 => lzwEncode(body)
        case _ =>
          // TIFF 6.0 §9: each ROW must be compressed separately (runs
          // may not cross scanline boundaries); the packets concatenate
          // into one segment stream
          val out = new java.io.ByteArrayOutputStream
          for (r <- 0 until rows) {
            val enc = packBitsEncode(java.util.Arrays.copyOfRange(body,
              r * rowLen, (r + 1) * rowLen))
            out.write(enc, 0, enc.length)
          }
          out.toByteArray
      }
    }
    val rps = if (rowsPerStrip <= 0) h else rowsPerStrip
    val segments: IndexedSeq[Array[Byte]] =
      if (planar == 2) {
        // spec PlanarConfiguration 2: one strip sequence PER PLANE,
        // stored plane-major (all R strips, then G, then B); each plane
        // row is w single-sample bytes, predictor distance 1
        val nPer = (h + rps - 1) / rps
        (for (c <- 0 until 3; s <- 0 until nPer) yield {
          val y0 = s * rps
          val rows = math.min(rps, h - y0)
          val body = new Array[Byte](rows * w)
          for (r <- 0 until rows; x <- 0 until w)
            body(r * w + x) = raw((y0 + r) * stride + x * 3 + c)
          compress(body, rows, w, dist = 1)
        }).toIndexedSeq
      } else if (!tiled) {
        val nStrips = (h + rps - 1) / rps
        (0 until nStrips).map { s =>
          val y0 = s * rps
          val rows = math.min(rps, h - y0)
          compress(java.util.Arrays.copyOfRange(raw, y0 * stride,
            (y0 + rows) * stride), rows, stride)
        }
      } else {
        // §15: tiles row-major, EVERY tile full tileW×tileH — edge
        // tiles padded (zeros) beyond the image
        val across = (w + tileW - 1) / tileW
        val down = (h + tileH - 1) / tileH
        val tStride = tileW * spp
        for (ty <- 0 until down; tx <- 0 until across) yield {
          val body = new Array[Byte](tileH * tStride)
          for (r <- 0 until tileH) {
            val y = ty * tileH + r
            if (y < h) {
              val x0 = tx * tileW
              val cols = math.min(tileW, w - x0)
              if (cols > 0)
                System.arraycopy(raw, y * stride + x0 * spp,
                  body, r * tStride, cols * spp)
            }
          }
          compress(body, tileH, tStride)
        }
      }
    val nSeg = segments.length
    // layout: header(8) + segments + IFD; IFD after data keeps offsets easy
    val out = new java.io.ByteArrayOutputStream
    val le = !bigEndian
    def w16(v: Int): Unit =
      if (le) { out.write(v & 0xff); out.write((v >> 8) & 0xff) }
      else { out.write((v >> 8) & 0xff); out.write(v & 0xff) }
    def w32(v: Int): Unit =
      if (le) { out.write(v & 0xff); out.write((v >> 8) & 0xff)
        out.write((v >> 16) & 0xff); out.write((v >> 24) & 0xff) }
      else { out.write((v >> 24) & 0xff); out.write((v >> 16) & 0xff)
        out.write((v >> 8) & 0xff); out.write(v & 0xff) }
    out.write(if (le) 'I' else 'M'); out.write(if (le) 'I' else 'M')
    w16(42)
    val segOffsets = new Array[Int](nSeg)
    var off = 8
    for (s <- 0 until nSeg) { segOffsets(s) = off; off += segments(s).length }
    // TIFF 6.0: out-of-line values and the IFD must start on a WORD
    // boundary — pad after odd-length compressed segments
    val pad = off & 1
    off += pad
    // BitsPerSample for RGB needs 3 SHORTs = 6 bytes > 4 → out-of-line
    val bpsOffset = off
    if (spp == 3) off += 6
    // ColorMap: 3 × 256 SHORTs out-of-line
    val cmOffset = off
    if (indexed) off += 3 * 256 * 2
    // segment offset/count arrays out-of-line when nSeg > 1
    val soOffset = off
    if (nSeg > 1) off += 4 * nSeg
    val scOffset = off
    if (nSeg > 1) off += 4 * nSeg
    val ifdOffset = off
    w32(ifdOffset)
    segments.foreach(s => out.write(s, 0, s.length))
    if (pad == 1) out.write(0)
    if (spp == 3) { w16(8); w16(8); w16(8) }
    if (indexed) // spec plane order: all R, all G, all B
      for (plane <- 0 until 3; i <- 0 until 256) {
        val e = palette(i)
        val v8 = plane match {
          case 0 => e._1; case 1 => e._2; case _ => e._3
        }
        w16(v8 * 257)
      }
    if (nSeg > 1) segOffsets.foreach(w32)
    if (nSeg > 1) segments.foreach(s => w32(s.length))
    // IFD entries, ascending tag order as the spec requires
    case class E(tag: Int, typ: Int, count: Int, value: Int)
    val photo = if (indexed) 3 else if (gray) 1 else 2
    val common = Seq(
      E(256, 3, 1, w),                       // ImageWidth SHORT
      E(257, 3, 1, h),                       // ImageLength
      if (spp == 3) E(258, 3, 3, bpsOffset) else E(258, 3, 1, 8),
      E(259, 3, 1, compression),
      E(262, 3, 1, photo))
    val segEntries =
      if (!tiled) Seq(
        E(273, 4, nSeg, if (nSeg > 1) soOffset else segOffsets(0)),
        E(277, 3, 1, spp),
        E(278, 3, 1, rps),
        E(279, 4, nSeg, if (nSeg > 1) scOffset else segments(0).length))
      else Seq(
        E(277, 3, 1, spp),
        E(322, 3, 1, tileW),
        E(323, 3, 1, tileH),
        E(324, 4, nSeg, if (nSeg > 1) soOffset else segOffsets(0)),
        E(325, 4, nSeg, if (nSeg > 1) scOffset else segments(0).length))
    val entries = (common ++ segEntries ++
      (if (planar == 2) Seq(E(284, 3, 1, 2)) else Nil) ++
      (if (predictor == 2) Seq(E(317, 3, 1, 2)) else Nil) ++
      (if (indexed) Seq(E(320, 3, 3 * 256, cmOffset)) else Nil))
      .sortBy(_.tag)
    w16(entries.length)
    entries.foreach { e =>
      w16(e.tag); w16(e.typ); w32(e.count)
      // inline SHORT values occupy the value field's FIRST bytes
      if (e.typ == 3 && e.count == 1) { w16(e.value); w16(0) }
      else w32(e.value)
    }
    w32(0) // no next IFD
    out.toByteArray
  }

  /** [[ImageCodec.srcGray]]'s pixel map in a TIFF container.
    * `tileW`/`tileH` switch to the tiled layout; `asPalette` writes the
    * same pixels as photometric-3 indices through the identity gray
    * ColorMap (v·257 entries, so the decode is pixel-identical — the
    * indirection itself is proven by R18TiffSpec's inverted palette). */
  def grayTiff(w: Int, h: Int, src: Array[Byte], compression: Int,
      predictor: Int = 1, bigEndian: Boolean = false,
      rowsPerStrip: Int = 0, tileW: Int = 0, tileH: Int = 0,
      asPalette: Boolean = false): Array[Byte] =
    encode(w, h, ImageCodec.grayRgb(ImageCodec.srcGray(w, src)),
      gray = !asPalette, compression = compression, predictor = predictor,
      rowsPerStrip = rowsPerStrip, bigEndian = bigEndian,
      tileW = tileW, tileH = tileH,
      palette = if (asPalette) Array.tabulate(256)(i => (i, i, i))
        else null)

  // ---- decoder -------------------------------------------------------------

  def decode(b: Array[Byte]): ImageCodec.Raster = {
    require(b.length >= 8, "truncated TIFF header")
    val le = b(0) == 'I' && b(1) == 'I'
    val be = b(0) == 'M' && b(1) == 'M'
    require(le || be, "bad TIFF byte-order mark")
    val rd = new Reader(b, le)
    require(rd.u16(2) == 42, "bad TIFF magic")
    val ifdOff = rd.u32(4)
    require(ifdOff >= 8 && ifdOff + 2 <= b.length, "bad IFD offset")
    val n = rd.u16(ifdOff.toInt)
    require(n > 0 && ifdOff + 2 + 12L * n + 4 <= b.length, "truncated IFD")
    var w = -1; var h = -1; var comp = 1; var photo = -1; var spp = 1
    var rps = Int.MaxValue; var predictor = 1; var bps = 8
    var soType = 0; var soCount = 0; var soValue = 0L
    var scType = 0; var scCount = 0; var scValue = 0L
    var tileW = 0; var tileH = 0
    var toType = 0; var toCount = 0; var toValue = 0L
    var tcType = 0; var tcCount = 0; var tcValue = 0L
    var cmOffset = -1; var cmCount = 0
    var planar = 1
    for (i <- 0 until n) {
      val e = ifdOff.toInt + 2 + 12 * i
      val tag = rd.u16(e)
      val typ = rd.u16(e + 2)
      val cnt = rd.u32(e + 4)
      // SHORT/LONG scalar: value lives in the field's first bytes
      def scalar: Long = {
        require(cnt == 1, s"tag $tag expects one value")
        typ match {
          case 3 => rd.u16(e + 8).toLong
          case 4 => rd.u32(e + 8)
          case _ => throw new IllegalArgumentException(
            s"tag $tag has unsupported type $typ")
        }
      }
      tag match {
        case 256 => w = scalar.toInt
        case 257 => h = scalar.toInt
        case 258 =>
          require(typ == 3, "BitsPerSample must be SHORT")
          if (cnt == 1) bps = rd.u16(e + 8)
          else {
            require(cnt * 2 <= 4 || rd.u32(e + 8) + cnt * 2 <= b.length,
              "truncated BitsPerSample array")
            val base = if (cnt * 2 <= 4) e + 8 else rd.u32(e + 8).toInt
            for (j <- 0 until cnt.toInt) {
              val v = rd.u16(base + 2 * j)
              require(v == 8, s"only 8-bit samples supported, got $v")
            }
            bps = 8
          }
        case 259 => comp = scalar.toInt
        case 262 => photo = scalar.toInt
        case 273 => soType = typ; soCount = cnt.toInt; soValue =
          if (cnt == 1) scalar else rd.u32(e + 8)
        case 277 => spp = scalar.toInt
        case 278 => rps = scalar.toInt
        case 279 => scType = typ; scCount = cnt.toInt; scValue =
          if (cnt == 1) scalar else rd.u32(e + 8)
        case 284 => planar = scalar.toInt
        case 317 => predictor = scalar.toInt
        case 320 =>
          require(typ == 3, "ColorMap must be SHORT")
          cmCount = cnt.toInt
          cmOffset = rd.u32(e + 8).toInt // 1536 bytes: never inline
        case 322 => tileW = scalar.toInt
        case 323 => tileH = scalar.toInt
        case 324 => toType = typ; toCount = cnt.toInt; toValue =
          if (cnt == 1) scalar else rd.u32(e + 8)
        case 325 => tcType = typ; tcCount = cnt.toInt; tcValue =
          if (cnt == 1) scalar else rd.u32(e + 8)
        case 266 => require(scalar == 1, "FillOrder 2 unsupported")
        case _ => () // ancillary tags skipped
      }
    }
    require(w > 0 && h > 0, s"bad TIFF dims ${w}x$h")
    // crafted LONG dims must fail loudly, not wrap Int arithmetic
    require(w <= 65535 && h <= 65535 && w.toLong * h * spp <= Int.MaxValue,
      s"TIFF dims ${w}x$h too large")
    // the raw sample buffer below is sized from these dims
    ImageCodec.pixelCap(w, h, "TIFF")
    require(bps == 8, "only 8-bit TIFF supported")
    require(photo == 1 || photo == 2 || photo == 3,
      s"only BlackIsZero/RGB/palette TIFF supported, got photometric $photo")
    require((photo == 1 && spp == 1) || (photo == 2 && spp == 3) ||
      (photo == 3 && spp == 1),
      s"photometric $photo inconsistent with $spp samples/pixel")
    require(photo != 3 || cmOffset >= 0,
      "palette TIFF missing ColorMap (tag 320)")
    require(photo == 3 || cmOffset < 0,
      "ColorMap present on non-palette photometric")
    require(comp == 1 || comp == 5 || comp == 32773,
      s"unsupported TIFF compression $comp")
    require(predictor == 1 || predictor == 2,
      s"unsupported TIFF predictor $predictor")
    require(predictor == 1 || comp == 5,
      "predictor without LZW compression")
    // §15: an IFD carries either the strip tags or the tile tags
    val tiled = tileW > 0 || tileH > 0 || toCount > 0 || tcCount > 0
    if (tiled)
      require(soCount == 0 && scCount == 0,
        "IFD mixes strip and tile tags")
    require(planar == 1 || planar == 2,
      s"bad planar configuration $planar")
    require(planar == 1 || (spp == 3 && !tiled),
      "planar configuration 2 supported for RGB strips only")
    // strip/tile offset+count arrays are SHORT or LONG only — BYTE-typed
    // arrays would be bounds-checked at 1 byte/entry but read 4
    def arr32(typ: Int, cnt: Int, value: Long, what: String): Array[Long] =
      if (cnt == 1) Array(value)
      else {
        require(typ == 3 || typ == 4, s"bad $what array type $typ")
        val sz = if (typ == 3) 2 else 4
        val base = value.toInt
        require(base >= 0 && base + sz.toLong * cnt <= b.length,
          s"truncated $what array")
        Array.tabulate(cnt)(j =>
          if (typ == 3) rd.u16(base + 2 * j).toLong else rd.u32(base + 4 * j))
      }
    val stride = w * spp
    val raw = new Array[Byte](h * stride)
    // decompress one segment to `expect` bytes and undo the per-row
    // predictor at the segment's own row length
    def decodeSegment(off: Long, len: Long, expect: Int, rows: Int,
        rowLen: Int, what: String, dist: Int = spp): Array[Byte] = {
      require(off >= 0 && len >= 0 && off + len <= b.length,
        s"$what out of bounds")
      val comp0 = java.util.Arrays.copyOfRange(b, off.toInt,
        (off + len).toInt)
      val body = comp match {
        case 1 =>
          require(comp0.length == expect,
            s"uncompressed $what length ${comp0.length} != $expect")
          comp0
        case 5 => lzwDecode(comp0, expect)
        case _ => packBitsDecode(comp0, expect)
      }
      if (predictor == 2)
        for (r <- 0 until rows) {
          val row = java.util.Arrays.copyOfRange(body, r * rowLen,
            (r + 1) * rowLen)
          predictorInverse(row, dist)
          System.arraycopy(row, 0, body, r * rowLen, rowLen)
        }
      body
    }
    if (!tiled && planar == 2) {
      // PlanarConfiguration 2: plane-major strip sequences (all R
      // strips, then G, then B); plane rows are w single-sample bytes,
      // predictor distance 1, interleaved back on the way out
      if (rps <= 0 || rps > h) rps = h
      val nPer = (h + rps - 1) / rps
      val nStrips = 3 * nPer
      require(soCount == nStrips && scCount == nStrips,
        s"planar strip count mismatch: offsets $soCount, counts " +
          s"$scCount, expected $nStrips")
      val offsets = arr32(soType, soCount, soValue, "strip offset")
      val counts = arr32(scType, scCount, scValue, "strip count")
      for (c <- 0 until 3; s <- 0 until nPer) {
        val i = c * nPer + s
        val y0 = s * rps
        val rows = math.min(rps, h - y0)
        val body = decodeSegment(offsets(i), counts(i), rows * w, rows,
          w, s"plane $c strip $s", dist = 1)
        for (r <- 0 until rows; x <- 0 until w)
          raw((y0 + r) * stride + x * 3 + c) = body(r * w + x)
      }
    } else if (!tiled) {
      // absent RowsPerStrip defaults to 2^32-1 (one strip per spec);
      // clamp to h so (h + rps - 1) cannot overflow Int
      if (rps <= 0 || rps > h) rps = h
      val nStrips = (h + rps - 1) / rps
      require(soCount == nStrips && scCount == nStrips,
        s"strip count mismatch: offsets $soCount, counts $scCount, " +
          s"expected $nStrips")
      val offsets = arr32(soType, soCount, soValue, "strip offset")
      val counts = arr32(scType, scCount, scValue, "strip count")
      for (s <- 0 until nStrips) {
        val y0 = s * rps
        val rows = math.min(rps, h - y0)
        val expect = rows * stride
        val body = decodeSegment(offsets(s), counts(s), expect, rows,
          stride, s"strip $s")
        System.arraycopy(body, 0, raw, y0 * stride, expect)
      }
    } else {
      // §15: TileWidth/TileLength in multiples of 16, tiles row-major,
      // edge tiles padded to full size — only the image intersection
      // lands in the raster
      require(tileW > 0 && tileW % 16 == 0 && tileH > 0 && tileH % 16 == 0,
        s"tile dims ${tileW}x$tileH must be positive multiples of 16")
      require(tileW.toLong * tileH * spp <= Int.MaxValue, "tile too large")
      val across = (w + tileW - 1) / tileW
      val down = (h + tileH - 1) / tileH
      val nTiles = across * down
      require(toCount == nTiles && tcCount == nTiles,
        s"tile count mismatch: offsets $toCount, counts $tcCount, " +
          s"expected $nTiles")
      val offsets = arr32(toType, toCount, toValue, "tile offset")
      val counts = arr32(tcType, tcCount, tcValue, "tile count")
      val tStride = tileW * spp
      for (ty <- 0 until down; tx <- 0 until across) {
        val t = ty * across + tx
        val body = decodeSegment(offsets(t), counts(t), tileH * tStride,
          tileH, tStride, s"tile $t")
        val x0 = tx * tileW
        val cols = math.min(tileW, w - x0)
        for (r <- 0 until tileH) {
          val y = ty * tileH + r
          if (y < h && cols > 0)
            System.arraycopy(body, r * tStride, raw, y * stride + x0 * spp,
              cols * spp)
        }
      }
    }
    // palette indirection: spec ColorMap is 3 planes (R,G,B) of 2^bps
    // 16-bit values; 8-bit via >>8
    val cm: Array[Int] =
      if (photo != 3) null
      else {
        require(cmCount == 3 * 256, s"ColorMap count $cmCount != 768")
        require(cmOffset >= 0 && cmOffset + 1536 <= b.length,
          "truncated ColorMap")
        Array.tabulate(3 * 256)(j => rd.u16(cmOffset + 2 * j) >> 8)
      }
    val sums = new Array[Int](w * h)
    var i = 0
    while (i < w * h) {
      sums(i) =
        if (spp == 3)
          (raw(i * 3) & 0xff) + (raw(i * 3 + 1) & 0xff) +
            (raw(i * 3 + 2) & 0xff)
        else if (photo == 3) {
          val idx = raw(i) & 0xff
          cm(idx) + cm(256 + idx) + cm(512 + idx)
        } else 3 * (raw(i) & 0xff)
      i += 1
    }
    ImageCodec.Raster(w, h, sums)
  }
}
