package graft.ops

/** Dependency-free image codec for the two classic uncompressed raster
  * formats — 24-bit BI_RGB BMP and binary PPM (P6) — written from their
  * public format specifications (the Windows BITMAPINFOHEADER layout and
  * the netpbm P6 grammar).  This is the REAL (non-stub) kernel behind the
  * [[MultimodalOps.DecodeKernel]] seam: decode → block-mean luminance
  * features → aHash / near-dup / resize run on actual pixel data.
  *
  * Everything is integer until the final per-cell mean (one IEEE double
  * division of an integer sum), so features are engine-exact and the SQL
  * oracle can replay them from the source bytes.  Unsupported shapes
  * (compressed BMP, bit depths ≠ 24, 16-bit PPM, top-down BMP) fail
  * loudly — a decoder silently misreading pixels would poison every
  * downstream fingerprint.
  */
object ImageCodec {

  /** Decoded raster: dims + row-major top-down per-pixel channel sums
    * (r+g+b per pixel — the only pixel statistic the feature grid needs,
    * kept integer). */
  final case class Raster(width: Int, height: Int, lumaSum3: Array[Int])

  // ---- encoders (fixture/query side: deterministic bytes, no codec) ----

  /** 24-bit uncompressed BMP (BITMAPFILEHEADER + BITMAPINFOHEADER,
    * bottom-up rows, BGR byte order, rows padded to 4 bytes). `rgb(x, y)`
    * is top-down row-major, channels 0..255. */
  def encodeBmp(w: Int, h: Int, rgb: (Int, Int) => (Int, Int, Int))
      : Array[Byte] = {
    require(w > 0 && h > 0, "bad dims")
    val stride = (w * 3 + 3) / 4 * 4
    val dataSize = stride * h
    val out = java.nio.ByteBuffer.allocate(54 + dataSize)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    out.put('B'.toByte).put('M'.toByte)
    out.putInt(54 + dataSize).putInt(0).putInt(54) // size, reserved, offset
    out.putInt(40).putInt(w).putInt(h)             // DIB size, w, h (+h ⇒ bottom-up)
    out.putShort(1).putShort(24)                   // planes, bpp
    out.putInt(0).putInt(dataSize)                 // BI_RGB, image size
    out.putInt(2835).putInt(2835).putInt(0).putInt(0) // 72 dpi, palette
    for (fileRow <- 0 until h) {
      val y = h - 1 - fileRow                      // bottom-up storage
      for (x <- 0 until w) {
        val (r, g, b) = rgb(x, y)
        out.put(b.toByte).put(g.toByte).put(r.toByte)
      }
      for (_ <- w * 3 until stride) out.put(0.toByte)
    }
    out.array()
  }

  /** Binary PPM (P6): ASCII header `P6 <w> <h> 255`, then w·h RGB
    * triplets, top-down row-major. */
  def encodePpm(w: Int, h: Int, rgb: (Int, Int) => (Int, Int, Int))
      : Array[Byte] = {
    require(w > 0 && h > 0, "bad dims")
    val header = s"P6\n$w $h\n255\n".getBytes("US-ASCII")
    val out = new Array[Byte](header.length + w * h * 3)
    System.arraycopy(header, 0, out, 0, header.length)
    var p = header.length
    for (y <- 0 until h; x <- 0 until w) {
      val (r, g, b) = rgb(x, y)
      out(p) = r.toByte; out(p + 1) = g.toByte; out(p + 2) = b.toByte
      p += 3
    }
    out
  }

  /** Gray image whose pixel (x, y) is `src(((y·w + x) mod src.length))`
    * — the deterministic "encode the document as pixels" fixture both
    * the query and its SQL oracle compute independently. */
  def grayFromBytes(w: Int, h: Int, src: Array[Byte], asPpm: Boolean)
      : Array[Byte] = {
    require(src.nonEmpty, "empty source bytes")
    val f = (x: Int, y: Int) => {
      val v = src((y * w + x) % src.length) & 0xff
      (v, v, v)
    }
    if (asPpm) encodePpm(w, h, f) else encodeBmp(w, h, f)
  }

  /** [[grayFromBytes]], PNG container: same pixel map, chosen color type
    * and per-row filter — so one corpus sweep exercises the compressed
    * path (chunk walk, CRC, inflate, unfilter) with every filter kind. */
  def grayPng(w: Int, h: Int, src: Array[Byte], colorType: Int,
      filter: Int, interlace: Boolean = false,
      depth: Int = 8): Array[Byte] = {
    require(src.nonEmpty, "empty source bytes")
    encodePng(w, h, (x, y) => {
      val v = src((y * w + x) % src.length) & 0xff
      (v, v, v)
    }, colorType, filter, interlace, depth,
      // color type 3: pixel v doubles as the index through the identity
      // gray palette (the indirection itself is proven in the spec with
      // an inverted palette)
      palette = if (colorType == 3) Array.tabulate(256)(i => (i, i, i))
        else null)
  }

  // ---- PNG (the first COMPRESSED container in the tier) -------------------
  //
  // Written from the public PNG 1.2 specification (RFC 2083): signature,
  // length/type/data/CRC chunk grammar, IHDR/IDAT/IEND, zlib-wrapped
  // DEFLATE scanlines, the five per-row byte filters (None/Sub/Up/
  // Average/Paeth), and ADAM7 INTERLACING (seven sub-image passes, each
  // filtered independently — the progressive-download shape).
  // Compression uses the JDK's java.util.zip (zlib) — still
  // dependency-free.  Supported shapes: bit depth 8, color type 0
  // (grayscale) or 2 (truecolor RGB), interlace methods 0/1; anything
  // else fails loudly, as does any chunk whose CRC does not match — a
  // codec silently accepting corrupt IDAT bytes would poison every
  // downstream fingerprint.

  private val PngSig = Array(0x89, 'P', 'N', 'G', '\r', '\n', 0x1a, '\n')
    .map(_.toByte)

  private def crc32(b: Array[Byte], off: Int, len: Int): Int = {
    val c = new java.util.zip.CRC32
    c.update(b, off, len)
    c.getValue.toInt
  }

  private def chunk(out: java.io.ByteArrayOutputStream, typ: String,
      data: Array[Byte]): Unit = {
    val t = typ.getBytes("US-ASCII")
    require(t.length == 4, "chunk type must be 4 bytes")
    val be = java.nio.ByteBuffer.allocate(4)
    out.write(be.putInt(0, data.length).array(), 0, 4)
    out.write(t, 0, 4)
    out.write(data, 0, data.length)
    val payload = t ++ data
    out.write(be.putInt(0, crc32(payload, 0, payload.length)).array(), 0, 4)
  }

  /** Paeth predictor (PNG spec §6.6): nearest of left/above/upper-left to
    * the linear estimate a + b − c, ties resolved left, above, upper-left. */
  private def paeth(a: Int, b: Int, c: Int): Int = {
    val p = a + b - c
    val pa = math.abs(p - a); val pb = math.abs(p - b); val pc = math.abs(p - c)
    if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
  }

  /** Adam7 interlace pass origins/strides (PNG spec §8.2): (x0, y0,
    * dx, dy) per pass; each pass filters as an INDEPENDENT sub-image. */
  private val Adam7 = Array((0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8),
    (2, 0, 4, 4), (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2))

  private def adam7PassDims(w: Int, h: Int): Array[(Int, Int)] =
    Adam7.map { case (x0, y0, dx, dy) =>
      ((w - x0 + dx - 1) / dx, (h - y0 + dy - 1) / dy)
    }

  /** Apply one row filter to a (sub-)image's raw rows → the filtered
    * byte stream (1 filter byte + stride bytes per row). */
  private def filterRows(raw: Array[Array[Byte]], bpp: Int,
      filter: Int): Array[Byte] = {
    val hh = raw.length
    if (hh == 0 || raw(0).length == 0) return Array.emptyByteArray
    val stride = raw(0).length
    val filtered = new Array[Byte](hh * (1 + stride))
    for (y <- 0 until hh) {
      filtered(y * (1 + stride)) = filter.toByte
      var i = 0
      while (i < stride) {
        val cur = raw(y)(i) & 0xff
        val left = if (i >= bpp) raw(y)(i - bpp) & 0xff else 0
        val up = if (y > 0) raw(y - 1)(i) & 0xff else 0
        val ul = if (y > 0 && i >= bpp) raw(y - 1)(i - bpp) & 0xff else 0
        val pred = filter match {
          case 0 => 0
          case 1 => left
          case 2 => up
          case 3 => (left + up) / 2
          case 4 => paeth(left, up, ul)
        }
        filtered(y * (1 + stride) + 1 + i) = ((cur - pred) & 0xff).toByte
        i += 1
      }
    }
    filtered
  }

  /** Reverse the per-row filters of one (sub-)image inside the inflated
    * stream: `hh` rows of `stride` bytes starting at `off`. */
  private def unfilterRows(filtered: Array[Byte], off: Int, hh: Int,
      stride: Int, bpp: Int): Array[Array[Byte]] = {
    val raw = Array.ofDim[Byte](hh, stride)
    for (y <- 0 until hh) {
      val ft = filtered(off + y * (1 + stride)) & 0xff
      require(ft <= 4, s"bad PNG row filter $ft")
      var i = 0
      while (i < stride) {
        val v = filtered(off + y * (1 + stride) + 1 + i) & 0xff
        val left = if (i >= bpp) raw(y)(i - bpp) & 0xff else 0
        val up = if (y > 0) raw(y - 1)(i) & 0xff else 0
        val ul = if (y > 0 && i >= bpp) raw(y - 1)(i - bpp) & 0xff else 0
        val pred = ft match {
          case 0 => 0
          case 1 => left
          case 2 => up
          case 3 => (left + up) / 2
          case 4 => paeth(left, up, ul)
        }
        raw(y)(i) = ((v + pred) & 0xff).toByte
        i += 1
      }
    }
    raw
  }

  /** PNG: color type 2 (RGB), 0 (gray — encodes the r channel; callers
    * pass gray content) or 3 (PALETTE — rgb()'s r-value is the 8-bit
    * index into the 256-entry `palette`, written as the PLTE chunk).
    * `depth` 8 or 16 (gray/truecolor only): 16-bit samples are written
    * big-endian per spec with the HIGH byte the 8-bit value and a
    * deterministic non-equal low byte ((v·131+17) mod 256), so the
    * decoder's high-byte projection is PROVEN, not coincidental.
    * Every scanline carries `filter`
    * (0=None 1=Sub 2=Up 3=Average 4=Paeth) so tests can exercise each
    * filter's encode→decode round trip, not just the trivial one.
    * `interlace` writes the Adam7 container (seven sub-image passes,
    * each filtered independently — the progressive-download shape). */
  def encodePng(w: Int, h: Int, rgb: (Int, Int) => (Int, Int, Int),
      colorType: Int = 2, filter: Int = 0, interlace: Boolean = false,
      depth: Int = 8,
      palette: Array[(Int, Int, Int)] = null): Array[Byte] = {
    require(w > 0 && h > 0, "bad dims")
    require(colorType == 0 || colorType == 2 || colorType == 3,
      s"color type $colorType")
    require(depth == 8 || depth == 16, s"depth $depth")
    require(depth == 8 || colorType != 3, "palette PNG is 8-bit only")
    require((colorType == 3) == (palette != null),
      "palette required iff color type 3")
    if (palette != null)
      require(palette.length == 256, "palette must have 256 entries")
    require(filter >= 0 && filter <= 4, s"filter $filter")
    val bpp = colorType match {
      case 2 => 3 * depth / 8
      case 0 => depth / 8
      case _ => 1
    }
    def lo16(v: Int): Byte = ((v * 131 + 17) & 0xff).toByte
    // raw scanlines, then per-row filtering against the previous raw row
    val raw = Array.ofDim[Byte](h, w * bpp)
    for (y <- 0 until h; x <- 0 until w) {
      val (r, g, b) = rgb(x, y)
      colorType match {
        case 2 if depth == 8 =>
          raw(y)(x * 3) = r.toByte; raw(y)(x * 3 + 1) = g.toByte
          raw(y)(x * 3 + 2) = b.toByte
        case 2 =>
          raw(y)(x * 6) = r.toByte; raw(y)(x * 6 + 1) = lo16(r)
          raw(y)(x * 6 + 2) = g.toByte; raw(y)(x * 6 + 3) = lo16(g)
          raw(y)(x * 6 + 4) = b.toByte; raw(y)(x * 6 + 5) = lo16(b)
        case 0 if depth == 8 => raw(y)(x) = r.toByte
        case 0 => raw(y)(x * 2) = r.toByte; raw(y)(x * 2 + 1) = lo16(r)
        case _ => raw(y)(x) = r.toByte // palette index
      }
    }
    val filtered: Array[Byte] =
      if (!interlace) filterRows(raw, bpp, filter)
      else {
        val out = new java.io.ByteArrayOutputStream
        val dims = adam7PassDims(w, h)
        for (pi <- 0 until 7) {
          val (x0, y0, dx, dy) = Adam7(pi)
          val (pw, ph) = dims(pi)
          if (pw > 0 && ph > 0) {
            val sub = Array.ofDim[Byte](ph, pw * bpp)
            for (py <- 0 until ph; px <- 0 until pw; c <- 0 until bpp)
              sub(py)(px * bpp + c) = raw(y0 + py * dy)((x0 + px * dx) * bpp + c)
            val f = filterRows(sub, bpp, filter)
            out.write(f, 0, f.length)
          }
        }
        out.toByteArray
      }
    val deflater = new java.util.zip.Deflater(
      java.util.zip.Deflater.DEFAULT_COMPRESSION, /* zlib wrapper */ false)
    deflater.setInput(filtered)
    deflater.finish()
    val zout = new java.io.ByteArrayOutputStream
    val buf = new Array[Byte](8192)
    while (!deflater.finished())
      zout.write(buf, 0, deflater.deflate(buf))
    deflater.end()
    val ihdr = java.nio.ByteBuffer.allocate(13)
    ihdr.putInt(w).putInt(h)
    ihdr.put(depth.toByte).put(colorType.toByte)
    ihdr.put(0.toByte).put(0.toByte) // deflate, filter method 0
    ihdr.put((if (interlace) 1 else 0).toByte)
    val out = new java.io.ByteArrayOutputStream
    out.write(PngSig, 0, PngSig.length)
    chunk(out, "IHDR", ihdr.array())
    if (colorType == 3) {
      val plte = new Array[Byte](768)
      for (i <- 0 until 256) {
        plte(3 * i) = palette(i)._1.toByte
        plte(3 * i + 1) = palette(i)._2.toByte
        plte(3 * i + 2) = palette(i)._3.toByte
      }
      chunk(out, "PLTE", plte)
    }
    chunk(out, "IDAT", zout.toByteArray)
    chunk(out, "IEND", Array.emptyByteArray)
    out.toByteArray
  }

  private def decodePng(b: Array[Byte]): Raster = {
    require(b.length >= 8 && java.util.Arrays.equals(
      java.util.Arrays.copyOf(b, 8), PngSig), "bad PNG signature")
    var p = 8
    var w = 0; var h = 0; var colorType = -1; var interlace = 0
    var depth = 8
    var plte: Array[Byte] = null
    val idat = new java.io.ByteArrayOutputStream
    var sawEnd = false
    while (!sawEnd) {
      require(b.length >= p + 8, "truncated PNG chunk header")
      val len = java.nio.ByteBuffer.wrap(b, p, 4).getInt
      // subtraction form: `p + 12 + len` overflows Int for crafted lens
      // near 2^31, silently bypassing the addition-form bound
      require(len >= 0 && len <= b.length - p - 12, "truncated PNG chunk")
      val typ = new String(b, p + 4, 4, "US-ASCII")
      val crc = java.nio.ByteBuffer.wrap(b, p + 8 + len, 4).getInt
      require(crc == crc32(b, p + 4, 4 + len),
        s"PNG chunk $typ CRC mismatch")
      typ match {
        case "IHDR" =>
          val hb = java.nio.ByteBuffer.wrap(b, p + 8, len)
          w = hb.getInt; h = hb.getInt
          depth = hb.get() & 0xff
          colorType = hb.get() & 0xff
          val (comp, filt, ilace) =
            (hb.get() & 0xff, hb.get() & 0xff, hb.get() & 0xff)
          require(w > 0 && h > 0, s"bad PNG dims ${w}x$h")
          require(colorType == 0 || colorType == 2 || colorType == 3,
            s"only gray/truecolor/palette PNG supported, got color " +
              s"type $colorType")
          require(depth == 8 || (depth == 16 && colorType != 3),
            s"unsupported PNG depth $depth for color type $colorType")
          require(comp == 0 && filt == 0, "bad PNG compression/filter method")
          require(ilace == 0 || ilace == 1,
            s"bad PNG interlace method $ilace")
          interlace = ilace
        case "PLTE" =>
          // spec: PLTE is required for type 3, optional (suggested
          // quantization) for truecolor, ILLEGAL for grayscale; and it
          // must precede IDAT
          require(colorType == 2 || colorType == 3,
            s"PLTE illegal for color type $colorType")
          require(idat.size == 0, "PLTE after IDAT")
          require(len > 0 && len % 3 == 0 && len <= 768,
            s"bad PLTE length $len")
          if (colorType == 3)
            plte = java.util.Arrays.copyOfRange(b, p + 8, p + 8 + len)
        case "IDAT" => idat.write(b, p + 8, len)
        case "IEND" => sawEnd = true
        case _ => () // ancillary chunks skipped (CRC still verified above)
      }
      p += 12 + len
    }
    require(colorType >= 0, "PNG missing IHDR")
    require(colorType != 3 || plte != null, "palette PNG missing PLTE")
    val bpp = colorType match {
      case 2 => 3 * depth / 8
      case 0 => depth / 8
      case _ => 1
    }
    val stride = w * bpp
    val expected =
      if (interlace == 0) h * (1 + stride)
      else adam7PassDims(w, h).map { case (pw, ph) =>
        if (pw > 0 && ph > 0) ph * (1 + pw * bpp) else 0
      }.sum
    val inflater = new java.util.zip.Inflater(/* zlib wrapper */ false)
    inflater.setInput(idat.toByteArray)
    val filtered = new Array[Byte](expected)
    var got = 0
    while (got < filtered.length && !inflater.finished()) {
      val n =
        try inflater.inflate(filtered, got, filtered.length - got)
        catch {
          // keep the codec's fail-loud contract even when a corrupt
          // stream carries a VALID chunk CRC (e.g. re-checksummed
          // truncation): zlib-level damage surfaces as the same
          // IllegalArgumentException every other corruption does
          case e: java.util.zip.DataFormatException =>
            throw new IllegalArgumentException(
              s"corrupt PNG IDAT stream: ${e.getMessage}")
        }
      if (n == 0) // input exhausted (or needs-dictionary): either is corrupt
        throw new IllegalArgumentException("truncated PNG IDAT stream")
      got += n
    }
    inflater.end()
    require(got == filtered.length,
      s"PNG pixel data short: $got of ${filtered.length}")
    val raw: Array[Array[Byte]] =
      if (interlace == 0) unfilterRows(filtered, 0, h, stride, bpp)
      else {
        // Adam7: unfilter each pass independently, scatter into place
        val full = Array.ofDim[Byte](h, stride)
        val dims = adam7PassDims(w, h)
        var off = 0
        for (pi <- 0 until 7) {
          val (x0, y0, dx, dy) = Adam7(pi)
          val (pw, ph) = dims(pi)
          if (pw > 0 && ph > 0) {
            val sub = unfilterRows(filtered, off, ph, pw * bpp, bpp)
            off += ph * (1 + pw * bpp)
            for (py <- 0 until ph; px <- 0 until pw; c <- 0 until bpp)
              full(y0 + py * dy)((x0 + px * dx) * bpp + c) = sub(py)(px * bpp + c)
          }
        }
        full
      }
    val sums = new Array[Int](w * h)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        // 16-bit samples project to 8-bit via the HIGH byte (big-endian
        // per spec — the standard 16→8 reduction)
        sums(y * w + x) = colorType match {
          case 2 if depth == 8 =>
            (raw(y)(x * 3) & 0xff) + (raw(y)(x * 3 + 1) & 0xff) +
              (raw(y)(x * 3 + 2) & 0xff)
          case 2 =>
            (raw(y)(x * 6) & 0xff) + (raw(y)(x * 6 + 2) & 0xff) +
              (raw(y)(x * 6 + 4) & 0xff)
          case 0 if depth == 8 => 3 * (raw(y)(x) & 0xff)
          case 0 => 3 * (raw(y)(x * 2) & 0xff)
          case _ =>
            val i3 = 3 * (raw(y)(x) & 0xff)
            // an index beyond the palette's entry count is corrupt
            require(i3 + 2 < plte.length,
              s"PNG palette index ${i3 / 3} beyond PLTE")
            (plte(i3) & 0xff) + (plte(i3 + 1) & 0xff) + (plte(i3 + 2) & 0xff)
        }
        x += 1
      }
      y += 1
    }
    Raster(w, h, sums)
  }

  // ---- GIF87a (LZW — the tier's third compression family) -----------------
  //
  // Written from the public GIF87a specification: logical screen
  // descriptor, 256-entry grayscale global color table, image descriptor,
  // and variable-width LZW with clear/EOI codes, little-endian bit
  // packing, dictionary growth to 12 bits, and the KwKwK case.  Lossless,
  // so the text-derived oracles replay features hash-exactly (same
  // pattern as BMP/PPM/PNG).  GIF has no checksums — corruption safety is
  // structural only (magic, bounds, sub-block walk); the PNG tier is the
  // checksummed one.  Interlace (four-pass row order, r17) and local
  // color tables (per-image override of the global, r17) are supported;
  // sub-8-bit palettes fail loudly.

  /** GIF interlace row order (spec: four passes — every 8th row from 0,
    * every 8th from 4, every 4th from 2, every 2nd from 1). */
  private def gifRowOrder(h: Int): Array[Int] =
    (Seq((0, 8), (4, 8), (2, 4), (1, 2)).flatMap { case (start, step) =>
      start until h by step
    }).toArray

  /** 8-bit grayscale GIF87a: pixel (x, y) = palette index v(x, y) where
    * the global table maps i → (i, i, i).  Real LZW compression (string
    * table, not literal-only), so decode exercises dictionary hits.
    * `interlace` stores rows in the spec's four-pass order;
    * `localTable` attaches a per-image color table (identity gray) and
    * INVERTS the global one — so a decoder that ignores the local table
    * produces provably wrong pixels, not silently right ones. */
  /** One image: descriptor + optional local table + LZW data blocks —
    * shared by the single-image and animated containers. */
  private def gifWriteFrame(out: java.io.ByteArrayOutputStream, w: Int,
      h: Int, gray: (Int, Int) => Int, interlace: Boolean,
      localTable: Boolean, left: Int = 0, top: Int = 0): Unit = {
    def u16(v: Int): Unit = { out.write(v & 0xff); out.write((v >> 8) & 0xff) }
    out.write(0x2c) // image descriptor
    u16(left); u16(top); u16(w); u16(h)
    out.write((if (localTable) 0x87 else 0) |
      (if (interlace) 0x40 else 0)) // local table (256), interlace flags
    if (localTable)
      for (i <- 0 until 256) { out.write(i); out.write(i); out.write(i) }
    out.write(8) // LZW minimum code size
    // LZW: dictionary of pixel strings; codes 0..255 literals, 256 clear,
    // 257 EOI; width grows when the NEXT code would not fit; at 4096 we
    // emit clear and restart (the spec's standard overflow policy)
    val bits = new java.io.ByteArrayOutputStream
    var acc = 0L; var nAcc = 0
    var width = 9
    def put(code: Int): Unit = {
      acc |= code.toLong << nAcc; nAcc += width
      while (nAcc >= 8) { bits.write((acc & 0xff).toInt); acc >>= 8; nAcc -= 8 }
    }
    // boxed key/value types: a Scala HashMap[Long, Int] would null-unbox
    // a miss to 0 and `Int != null` is constant-true — every lookup would
    // silently "hit" code 0
    val dict = new java.util.HashMap[java.lang.Long, java.lang.Integer]()
    var nextCode = 258
    def resetDict(): Unit = { dict.clear(); nextCode = 258; width = 9 }
    put(256) // initial clear
    var prefix = -1
    val rows = if (interlace) gifRowOrder(h) else Array.range(0, h)
    for (y <- rows; x <- 0 until w) {
      val px = gray(x, y) & 0xff
      if (prefix < 0) prefix = px
      else {
        val key = (prefix.toLong << 8) | px
        val hit = dict.get(key)
        if (hit ne null) prefix = hit.intValue()
        else {
          put(prefix)
          dict.put(key, nextCode)
          // width grows when the decoder's NEXT assignable code crosses
          // a power of two (decoder adds its entry right after reading)
          if (nextCode == (1 << width) && width < 12) width += 1
          nextCode += 1
          if (nextCode > 4095) { put(256); resetDict() }
          prefix = px
        }
      }
    }
    if (prefix >= 0) put(prefix)
    put(257) // EOI
    if (nAcc > 0) bits.write((acc & 0xff).toInt)
    val data = bits.toByteArray
    var off = 0
    while (off < data.length) {
      val n = math.min(255, data.length - off)
      out.write(n); out.write(data, off, n); off += n
    }
    out.write(0) // block terminator
  }

  /** GIF header + 256-entry global gray table (inverted when a local
    * table will override it — the adversarial fixture shape). */
  private def gifWriteHeader(out: java.io.ByteArrayOutputStream, w: Int,
      h: Int, magic: String, invertGlobal: Boolean,
      background: Int = 0): Unit = {
    def u16(v: Int): Unit = { out.write(v & 0xff); out.write((v >> 8) & 0xff) }
    out.write(magic.getBytes("US-ASCII"))
    u16(w); u16(h)
    out.write(0xf7) // global table, 8-bit color resolution, 256 entries
    out.write(background); out.write(0) // background index, aspect
    for (i <- 0 until 256) {
      val v = if (invertGlobal) 255 - i else i
      out.write(v); out.write(v); out.write(v)
    }
  }

  def encodeGif(w: Int, h: Int, gray: (Int, Int) => Int,
      interlace: Boolean = false, localTable: Boolean = false)
      : Array[Byte] = {
    require(w > 0 && h > 0 && w <= 0xffff && h <= 0xffff, "bad dims")
    val out = new java.io.ByteArrayOutputStream
    gifWriteHeader(out, w, h, "GIF87a", invertGlobal = localTable)
    gifWriteFrame(out, w, h, gray, interlace, localTable)
    out.write(0x3b) // trailer
    out.toByteArray
  }

  /** ANIMATED GIF89a — the real-world GIF shape: NETSCAPE2.0 looping
    * application extension, then one Graphic Control Extension (disposal
    * 1 = leave in place, `delayCs` centiseconds, no transparency) +
    * full-screen image per frame.  Frames share the global table. */
  def encodeGifAnimated(w: Int, h: Int,
      frames: Seq[(Int, Int) => Int], delayCs: Int = 10): Array[Byte] = {
    require(w > 0 && h > 0 && w <= 0xffff && h <= 0xffff, "bad dims")
    require(frames.nonEmpty, "no frames")
    require(delayCs >= 0 && delayCs <= 0xffff, "bad delay")
    val out = new java.io.ByteArrayOutputStream
    gifWriteHeader(out, w, h, "GIF89a", invertGlobal = false)
    // NETSCAPE2.0 looping extension (the de-facto-standard block every
    // real animated GIF carries): app extension, 11-byte id, sub-block
    // {1, loopCount=0 (forever)}, terminator
    out.write(0x21); out.write(0xff); out.write(11)
    out.write("NETSCAPE2.0".getBytes("US-ASCII"))
    out.write(3); out.write(1); out.write(0); out.write(0)
    out.write(0)
    frames.foreach { f =>
      // GCE: label F9, block size 4, packed (disposal 1 <<2), delay,
      // no transparent index
      out.write(0x21); out.write(0xf9); out.write(4)
      out.write(0x04)
      out.write(delayCs & 0xff); out.write((delayCs >> 8) & 0xff)
      out.write(0); out.write(0)
      gifWriteFrame(out, w, h, f, interlace = false, localTable = false)
    }
    out.write(0x3b) // trailer
    out.toByteArray
  }

  /** One frame of a COMPOSITED animated GIF: a `w`×`h` image placed at
    * (`left`, `top`) inside the logical screen, with the GCE disposal
    * method that governs the canvas AFTER this frame renders —
    * 1 = leave in place, 2 = restore the frame's rectangle to the
    * background color, 3 = restore the canvas to its pre-frame state
    * (spec "restore to previous").  `px` is frame-local: `px(u, v)` for
    * u < w, v < h.  `transparent` marks one palette index as a HOLE —
    * pixels carrying it leave the underlying canvas untouched (the GCE
    * transparent-color flag, how real animated GIFs encode unchanged
    * regions inside the stored rectangle). */
  final case class GifFrame(left: Int, top: Int, w: Int, h: Int,
      disposal: Int, px: (Int, Int) => Int,
      transparent: Option[Int] = None)

  /** Animated GIF89a with PARTIAL frames and disposal methods — how
    * real animated GIFs are actually authored (only the changed
    * rectangle is stored per frame; the disposal method says what the
    * next frame composites over).  Same container grammar as
    * [[encodeGifAnimated]] (NETSCAPE2.0 loop + GCE per frame), but each
    * frame carries its own geometry and disposal, and the logical
    * screen descriptor's background color index is `background`
    * (disposal 2 restores to it). */
  def encodeGifAnimatedComposite(w: Int, h: Int, frames: Seq[GifFrame],
      delayCs: Int = 10, background: Int = 0): Array[Byte] = {
    require(w > 0 && h > 0 && w <= 0xffff && h <= 0xffff, "bad dims")
    require(frames.nonEmpty, "no frames")
    require(delayCs >= 0 && delayCs <= 0xffff, "bad delay")
    require(background >= 0 && background <= 255, "bad background index")
    frames.foreach { f =>
      require(f.w > 0 && f.h > 0 && f.left >= 0 && f.top >= 0 &&
        f.left + f.w <= w && f.top + f.h <= h,
        s"frame rect ${f.w}x${f.h}@(${f.left},${f.top}) escapes " +
          s"the ${w}x$h logical screen")
      require(f.disposal >= 1 && f.disposal <= 3,
        s"bad disposal method ${f.disposal} (1=leave/2=background/" +
          "3=previous)")
      f.transparent.foreach(t => require(t >= 0 && t <= 255,
        s"bad transparent index $t"))
    }
    val out = new java.io.ByteArrayOutputStream
    gifWriteHeader(out, w, h, "GIF89a", invertGlobal = false,
      background = background)
    out.write(0x21); out.write(0xff); out.write(11)
    out.write("NETSCAPE2.0".getBytes("US-ASCII"))
    out.write(3); out.write(1); out.write(0); out.write(0)
    out.write(0)
    frames.foreach { f =>
      out.write(0x21); out.write(0xf9); out.write(4)
      // packed: disposal in bits 4:2, transparent-color flag in bit 0
      out.write((f.disposal << 2) | (if (f.transparent.isDefined) 1 else 0))
      out.write(delayCs & 0xff); out.write((delayCs >> 8) & 0xff)
      out.write(f.transparent.getOrElse(0)); out.write(0)
      gifWriteFrame(out, f.w, f.h, f.px, interlace = false,
        localTable = false, left = f.left, top = f.top)
    }
    out.write(0x3b) // trailer
    out.toByteArray
  }

  /** [[grayFromBytes]], GIF container. */
  def grayGif(w: Int, h: Int, src: Array[Byte]): Array[Byte] = {
    require(src.nonEmpty, "empty source bytes")
    encodeGif(w, h, (x, y) => src((y * w + x) % src.length) & 0xff)
  }

  /** Header + logical screen + global table → (palette sums, next pos,
    * screen w, screen h). */
  private def gifHeader(b: Array[Byte]): (Array[Int], Int, Int, Int) = {
    require(b.length >= 13, "truncated GIF header")
    val magic = new String(b, 0, 6, "US-ASCII")
    require(magic == "GIF87a" || magic == "GIF89a", s"bad GIF magic $magic")
    def u16(o: Int): Int = (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8)
    var p = 6
    val sw = u16(p); val sh = u16(p + 2)
    p += 4
    val packed = b(p) & 0xff; p += 3
    val palette: Array[Int] =
      if ((packed & 0x80) != 0) {
        val n = 1 << ((packed & 7) + 1)
        require(b.length >= p + 3 * n, "truncated GIF color table")
        val pal = Array.tabulate(n) { i =>
          (b(p + 3 * i) & 0xff) + (b(p + 3 * i + 1) & 0xff) +
            (b(p + 3 * i + 2) & 0xff)
        }
        p += 3 * n
        pal
      } else Array.emptyIntArray // legal when a local table follows
    (palette, p, sw, sh)
  }

  /** Walk over any 0x21 extension blocks (GCE, app, comment — all share
    * the sub-block grammar; CRC-less, so structure is the only check). */
  private def gifSkipExtensions(b: Array[Byte], p0: Int): Int = {
    var p = p0
    while (p < b.length && (b(p) & 0xff) == 0x21) {
      p += 2 // extension introducer + label
      require(p < b.length, "truncated GIF extension")
      while ((b(p) & 0xff) != 0) {
        p += 1 + (b(p) & 0xff)
        require(p < b.length, "truncated GIF extension")
      }
      p += 1
    }
    p
  }

  private def decodeGif(b: Array[Byte]): Raster = {
    val (palette, p0, _, _) = gifHeader(b)
    val p = gifSkipExtensions(b, p0)
    gifImageAt(b, p, palette)._1
  }

  /** Every frame of an (animated) GIF, decoded independently.  Scope:
    * full-screen frames only — frames positioned or sized inside the
    * logical screen need disposal-method compositing, which is rejected
    * BY NAME rather than approximated (a half-composited frame would
    * poison downstream fingerprints). */
  def decodeGifFrames(b: Array[Byte]): IndexedSeq[Raster] = {
    val (palette, p0, sw, sh) = gifHeader(b)
    var p = p0
    val frames = scala.collection.mutable.ArrayBuffer.empty[Raster]
    var done = false
    while (!done) {
      p = gifSkipExtensions(b, p)
      require(p < b.length, "GIF unterminated (missing trailer)")
      (b(p) & 0xff) match {
        case 0x3b => done = true
        case 0x2c =>
          val (r, left, top, np) = gifImageAt(b, p, palette)
          require(left == 0 && top == 0 && r.width == sw && r.height == sh,
            "partial-frame GIF compositing unsupported " +
              "(full-screen frames only)")
          frames += r
          p = np
        case x => throw new IllegalArgumentException(
          f"unexpected GIF block 0x$x%02x")
      }
    }
    require(frames.nonEmpty, "GIF has no image frames")
    frames.toIndexedSeq
  }

  /** Every frame of an animated GIF COMPOSITED onto the logical screen
    * — the spec's actual rendering model (GIF89a §23): each image
    * draws at its (left, top) over the current canvas, the emitted
    * frame is the full canvas, and the GCE disposal method then
    * resolves the canvas for the NEXT frame: 0/1 leave in place,
    * 2 restore the image's rectangle to the logical screen's
    * background color, 3 restore the canvas to its pre-image state.
    * The canvas starts at the background color (LSD byte 11 → global
    * table).  The GCE transparent-color flag is honored: pixels
    * carrying the transparent index leave the underlying canvas
    * untouched (composited at INDEX granularity — the index→palette
    * map is not injective, so a sum-level composite could not tell a
    * hole from an opaque pixel that happens to share the color). */
  def decodeGifComposited(b: Array[Byte]): IndexedSeq[Raster] = {
    val (palette, p0, sw, sh) = gifHeader(b)
    require(palette.nonEmpty,
      "composited GIF needs a global color table (background color)")
    require(sw > 0 && sh > 0 && sw.toLong * sh <= (1 << 26),
      s"bad GIF logical screen ${sw}x$sh")
    val bgIndex = b(11) & 0xff
    require(bgIndex < palette.length,
      s"GIF background index $bgIndex outside the ${palette.length}" +
        "-entry table")
    val bg = palette(bgIndex)
    val canvas = Array.fill(sw * sh)(bg)
    val frames = scala.collection.mutable.ArrayBuffer.empty[Raster]
    var disposal = 0 // GCE applies to the NEXT image; default = none
    var transIdx = -1 // transparent palette index, -1 = opaque frame
    var p = p0
    var done = false
    while (!done) {
      require(p < b.length, "GIF unterminated (missing trailer)")
      (b(p) & 0xff) match {
        case 0x3b => done = true
        case 0x21 =>
          if (p + 1 < b.length && (b(p + 1) & 0xff) == 0xf9) {
            // Graphic Control Extension: capture disposal + the
            // transparent index (block: size 4, packed, delay u16,
            // transparent index)
            require(p + 7 < b.length && (b(p + 2) & 0xff) == 4,
              "bad GIF graphic control extension")
            val packed = b(p + 3) & 0xff
            disposal = (packed >> 2) & 7
            require(disposal <= 3,
              s"reserved GIF disposal method $disposal")
            transIdx = if ((packed & 1) != 0) b(p + 6) & 0xff else -1
          }
          // skip exactly THIS extension (gifSkipExtensions would
          // swallow a whole run — and with it the GCE after a
          // NETSCAPE block, silently dropping that frame's disposal)
          p += 2
          require(p < b.length, "truncated GIF extension")
          while ((b(p) & 0xff) != 0) {
            p += 1 + (b(p) & 0xff)
            require(p < b.length, "truncated GIF extension")
          }
          p += 1
        case 0x2c =>
          val (idx, fw, fh, left, top, pal, np) =
            gifImageIndicesAt(b, p, palette)
          require(left + fw <= sw && top + fh <= sh,
            s"GIF frame ${fw}x$fh@($left,$top) escapes " +
              s"the ${sw}x$sh logical screen")
          val before =
            if (disposal == 3) canvas.clone() else null
          var v = 0
          while (v < fh) {
            var u = 0
            while (u < fw) {
              val i = idx(v * fw + u)
              if (i != transIdx) canvas((top + v) * sw + left + u) = pal(i)
              u += 1
            }
            v += 1
          }
          frames += Raster(sw, sh, canvas.clone())
          disposal match {
            case 2 => // restore the frame's rect to background
              var y = top
              while (y < top + fh) {
                java.util.Arrays.fill(canvas, y * sw + left,
                  y * sw + left + fw, bg)
                y += 1
              }
            case 3 => System.arraycopy(before, 0, canvas, 0, canvas.length)
            case _ => () // 0/1: leave in place
          }
          disposal = 0 // a GCE governs exactly one following image
          transIdx = -1
          p = np
        case x => throw new IllegalArgumentException(
          f"unexpected GIF block 0x$x%02x")
      }
    }
    require(frames.nonEmpty, "GIF has no image frames")
    frames.toIndexedSeq
  }

  /** Decode the image whose descriptor starts at `p0` → (raster, left,
    * top, position after the data terminator). */
  private def gifImageAt(b: Array[Byte], p0: Int,
      palette: Array[Int]): (Raster, Int, Int, Int) = {
    val (idx, w, h, left, top, pal, np) = gifImageIndicesAt(b, p0, palette)
    (Raster(w, h, idx.map(pal)), left, top, np)
  }

  /** [[gifImageAt]] at PALETTE-INDEX granularity → (indices row-major,
    * w, h, left, top, active palette sums, position after the data
    * terminator) — the compositing decoder needs raw indices because a
    * transparent index must leave the canvas pixel untouched, and the
    * index→palette map is not injective in general. */
  private def gifImageIndicesAt(b: Array[Byte], p0: Int,
      palette: Array[Int])
      : (Array[Int], Int, Int, Int, Int, Array[Int], Int) = {
    def u16(o: Int): Int = (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8)
    var p = p0
    require(p < b.length && (b(p) & 0xff) == 0x2c, "GIF image descriptor missing")
    val left = u16(p + 1); val top = u16(p + 3)
    val w = u16(p + 5); val h = u16(p + 7)
    require(w > 0 && h > 0, s"bad GIF dims ${w}x$h")
    val ipacked = b(p + 9) & 0xff
    val interlaced = (ipacked & 0x40) != 0
    p += 10
    // a local color table overrides the global for this image (spec
    // §20); its size comes from the descriptor's low bits
    val activePalette: Array[Int] =
      if ((ipacked & 0x80) != 0) {
        val n = 1 << ((ipacked & 7) + 1)
        require(b.length >= p + 3 * n, "truncated GIF local color table")
        val pal = Array.tabulate(n) { i =>
          (b(p + 3 * i) & 0xff) + (b(p + 3 * i + 1) & 0xff) +
            (b(p + 3 * i + 2) & 0xff)
        }
        p += 3 * n
        pal
      } else {
        require(palette.nonEmpty,
          "GIF with neither global nor local color table")
        palette
      }
    val minCode = b(p) & 0xff; p += 1
    require(minCode == 8, s"only 8-bit GIF palettes supported, got $minCode")
    // 8-bit codes address 256 palette slots — a shorter declared table
    // would make a legal literal index out of bounds
    require(activePalette.length >= 256,
      s"GIF color table too small (${activePalette.length}) for 8-bit codes")
    // concatenate LZW sub-blocks
    val z = new java.io.ByteArrayOutputStream
    while (p < b.length && (b(p) & 0xff) != 0) {
      val n = b(p) & 0xff
      require(b.length >= p + 1 + n, "truncated GIF data sub-block")
      z.write(b, p + 1, n); p += 1 + n
    }
    require(p < b.length, "GIF data blocks unterminated")
    val data = z.toByteArray
    // LZW decode
    val clear = 256; val eoi = 257
    val px = new Array[Int](w * h)
    var nPx = 0
    var width = 9
    var acc = 0L; var nAcc = 0; var dp = 0
    // dictionary: entries as (prefix code, last byte); literals implicit
    val prefixOf = new Array[Int](4096); val byteOf = new Array[Int](4096)
    var nextCode = 258
    def emit(code: Int): Int = { // writes the string of `code`, returns first byte
      if (code < 256) {
        require(nPx < px.length, "GIF pixel overflow")
        px(nPx) = code; nPx += 1; code
      } else {
        val first = emit(prefixOf(code))
        require(nPx < px.length, "GIF pixel overflow")
        px(nPx) = byteOf(code); nPx += 1
        first
      }
    }
    var prev = -1
    var done = false
    while (!done) {
      while (nAcc < width && dp < data.length) {
        acc |= (data(dp) & 0xff).toLong << nAcc; nAcc += 8; dp += 1
      }
      require(nAcc >= width, "truncated GIF LZW stream")
      val code = (acc & ((1L << width) - 1)).toInt
      acc >>= width; nAcc -= width
      if (code == eoi) done = true
      else if (code == clear) { nextCode = 258; width = 9; prev = -1 }
      else {
        require(code < nextCode || (code == nextCode && prev >= 0),
          s"corrupt GIF LZW code $code")
        if (prev < 0) { require(code < 256, "corrupt GIF first code"); emit(code) }
        else {
          val firstByte =
            if (code < nextCode) emit(code)
            else { // KwKwK: string = prev's string + its first byte
              val f = emit(prev)
              require(nPx < px.length, "GIF pixel overflow")
              px(nPx) = f; nPx += 1; f
            }
          if (nextCode < 4096) {
            prefixOf(nextCode) = prev; byteOf(nextCode) = firstByte
            // widen ONE entry before the encoder's id boundary: the
            // decoder creates entry k−1 while processing emission E_k
            // (its table lags one code behind), so to read E_{2^w + 1}
            // at the encoder's new width it must widen after assigning
            // id 2^w − 1
            if (nextCode + 1 == (1 << width) && width < 12) width += 1
            nextCode += 1
          }
        }
        prev = code
      }
    }
    require(nPx == w * h, s"GIF pixel data short: $nPx of ${w * h}")
    val ordered =
      if (!interlaced) px
      else {
        // stored row r is actual row gifRowOrder(h)(r): scatter back
        val o = new Array[Int](w * h)
        val order = gifRowOrder(h)
        for (r <- 0 until h)
          System.arraycopy(px, r * w, o, order(r) * w, w)
        o
      }
    require(p < b.length, "GIF data blocks unterminated")
    (ordered, w, h, left, top, activePalette, p + 1)
  }

  // ---- decoder -----------------------------------------------------------

  /** Sniff the magic and decode: BMP ("BM"), PPM ("P6"), PNG, GIF,
    * TIFF ("II"/"MM"), or JPEG (FFD8).  Returns dims plus per-pixel
    * integer r+g+b sums, top-down row-major. */
  def decode(bytes: Array[Byte]): Raster = {
    require(bytes.length >= 2, "truncated image")
    if (bytes(0) == 'B'.toByte && bytes(1) == 'M'.toByte) decodeBmp(bytes)
    else if (bytes(0) == 'P'.toByte && bytes(1) >= '1'.toByte &&
        bytes(1) <= '6'.toByte)
      decodePpm(bytes) // Netpbm family: P1-P6 (r18 adds the bitmaps)
    else if (bytes(0) == 0x89.toByte && bytes(1) == 'P'.toByte)
      decodePng(bytes)
    else if (bytes(0) == 'G'.toByte && bytes(1) == 'I'.toByte)
      decodeGif(bytes)
    else if ((bytes(0) == 'I'.toByte && bytes(1) == 'I'.toByte) ||
        (bytes(0) == 'M'.toByte && bytes(1) == 'M'.toByte))
      TiffCodec.decode(bytes)
    else if ((bytes(0) & 0xff) == 0xff && (bytes(1) & 0xff) == 0xd8)
      JpegCodec.decode(bytes) // the LOSSY tier (baseline and progressive)
    else throw new IllegalArgumentException(
      f"unknown image magic 0x${bytes(0)}%02x${bytes(1)}%02x " +
        "(BMP, binary PPM, PNG, GIF, TIFF, and baseline JPEG supported)")
  }

  private def i32(b: Array[Byte], off: Int): Int =
    (b(off) & 0xff) | ((b(off + 1) & 0xff) << 8) |
      ((b(off + 2) & 0xff) << 16) | ((b(off + 3) & 0xff) << 24)

  private def i16(b: Array[Byte], off: Int): Int =
    (b(off) & 0xff) | ((b(off + 1) & 0xff) << 8)

  private def decodeBmp(b: Array[Byte]): Raster = {
    require(b.length >= 54, "truncated BMP header")
    val dataOff = i32(b, 10)
    val dibSize = i32(b, 14)
    // the upper bound keeps crafted header sizes from wrapping the
    // palette/mask offset arithmetic
    require(dibSize >= 40 && dibSize <= b.length - 14,
      s"BMP core-header (size $dibSize) unsupported")
    val w = i32(b, 18)
    val hRaw = i32(b, 22)
    // negative height = TOP-DOWN row order (the spec's convention)
    val topDown = hRaw < 0
    val h = math.abs(hRaw)
    require(w > 0 && h > 0, s"bad BMP dims ${w}x$hRaw")
    require(i16(b, 26) == 1, "BMP planes must be 1")
    val bpp = i16(b, 28)
    require(bpp == 24 || bpp == 16 || bpp == 8 || bpp == 4,
      s"only 24/16-bit and 8/4-bit-palette BMP supported, got $bpp")
    val compression = i32(b, 30)
    require(compression == 0 || (compression == 1 && bpp == 8) ||
      (compression == 2 && bpp == 4) || (compression == 3 && bpp == 16),
      s"unsupported BMP compression $compression for $bpp bpp")
    require(!(topDown && (compression == 1 || compression == 2)),
      "top-down RLE BMP is invalid (spec: RLE bitmaps are bottom-up)")
    // palette follows the DIB header (biClrUsed entries, 0 ⇒ 2^bpp)
    val palette: Array[Int] =
      if (bpp == 8 || bpp == 4) {
        val cap = 1 << bpp
        val used = i32(b, 46) match { case 0 => cap; case n => n }
        require(used > 0 && used <= cap, s"bad BMP palette size $used")
        val palOff = 14 + dibSize
        require(b.length >= palOff + 4 * used, "truncated BMP palette")
        Array.tabulate(used)(i => // BGRA quads
          (b(palOff + 4 * i) & 0xff) + (b(palOff + 4 * i + 1) & 0xff) +
            (b(palOff + 4 * i + 2) & 0xff))
      } else null
    // 16-bit: BI_RGB = X1R5G5B5; BI_BITFIELDS = three mask DWORDs right
    // after the header — only the two real-world layouts (555 / 565)
    // are accepted, decoded with the standard bit-replication expansion
    val masks16: (Int, Int, Int) =
      if (bpp != 16) null
      else if (compression == 0) (0x7c00, 0x3e0, 0x1f)
      else {
        require(b.length >= 14 + dibSize + 12,
          "truncated BI_BITFIELDS masks")
        val m = (i32(b, 14 + dibSize), i32(b, 14 + dibSize + 4),
          i32(b, 14 + dibSize + 8))
        require(m == ((0xf800, 0x7e0, 0x1f)) || m == ((0x7c00, 0x3e0, 0x1f)),
          s"unsupported BI_BITFIELDS masks $m (565 or 555 only)")
        m
      }
    // 5-bit (v<<3)|(v>>2) / 6-bit (v<<2)|(v>>4) channel expansion
    def expand(v: Int, width: Int): Int =
      if (width == 5) (v << 3) | (v >> 2) else (v << 2) | (v >> 4)
    // file row r → image row (top-down: r; bottom-up: h-1-r)
    def imageRow(r: Int): Int = if (topDown) r else h - 1 - r
    val sums = new Array[Int](w * h)
    if (bpp == 24) {
      val stride = (w * 3 + 3) / 4 * 4
      require(b.length >= dataOff + stride.toLong * h,
        "truncated BMP pixel data")
      for (r <- 0 until h) {
        val rowOff = dataOff + r * stride
        val y = imageRow(r)
        var x = 0
        while (x < w) {
          val p = rowOff + x * 3
          sums(y * w + x) =
            (b(p) & 0xff) + (b(p + 1) & 0xff) + (b(p + 2) & 0xff)
          x += 1
        }
      }
    } else if (bpp == 16) {
      val stride = (w * 2 + 3) / 4 * 4
      require(b.length >= dataOff + stride.toLong * h,
        "truncated BMP pixel data")
      val (rm, gm, bm) = masks16
      val gw = java.lang.Integer.bitCount(gm) // 5 or 6; r/b always 5
      for (r <- 0 until h) {
        val rowOff = dataOff + r * stride
        val y = imageRow(r)
        var x = 0
        while (x < w) {
          val u = (b(rowOff + 2 * x) & 0xff) |
            ((b(rowOff + 2 * x + 1) & 0xff) << 8)
          sums(y * w + x) =
            expand((u & rm) >> java.lang.Integer.numberOfTrailingZeros(rm), 5) +
              expand((u & gm) >> java.lang.Integer.numberOfTrailingZeros(gm), gw) +
              expand(u & bm, 5)
          x += 1
        }
      }
    } else if (compression == 0 && bpp == 8) { // uncompressed 8-bit palette
      val stride = (w + 3) / 4 * 4
      require(b.length >= dataOff + stride.toLong * h,
        "truncated BMP pixel data")
      for (r <- 0 until h) {
        val rowOff = dataOff + r * stride
        val y = imageRow(r)
        var x = 0
        while (x < w) {
          val idx = b(rowOff + x) & 0xff
          require(idx < palette.length, s"BMP palette index $idx out of" +
            s" range (${palette.length})")
          sums(y * w + x) = palette(idx)
          x += 1
        }
      }
    } else if (compression == 0) { // uncompressed 4-bit: nibbles, high first
      val stride = ((w + 1) / 2 + 3) / 4 * 4
      require(b.length >= dataOff + stride.toLong * h,
        "truncated BMP pixel data")
      for (r <- 0 until h) {
        val rowOff = dataOff + r * stride
        val y = imageRow(r)
        var x = 0
        while (x < w) {
          val byte = b(rowOff + x / 2) & 0xff
          val idx = if (x % 2 == 0) byte >> 4 else byte & 0xf
          require(idx < palette.length, s"BMP palette index $idx out of" +
            s" range (${palette.length})")
          sums(y * w + x) = palette(idx)
          x += 1
        }
      }
    } else if (compression == 2) { // BI_RLE4: runs of ALTERNATING nibbles
      var p = dataOff
      var fx = 0
      var fy = 0
      var eob = false
      def put4(idx: Int): Unit = {
        require(fx < w && fy < h, s"RLE4 cursor out of bounds ($fx,$fy)")
        require(idx < palette.length, s"BMP palette index $idx out of" +
          s" range (${palette.length})")
        sums((h - 1 - fy) * w + fx) = palette(idx)
        fx += 1
      }
      while (!eob) {
        require(p + 1 < b.length, "truncated BMP RLE4 stream")
        val n = b(p) & 0xff
        val v = b(p + 1) & 0xff
        p += 2
        if (n > 0) { // encoded: n pixels alternating high/low nibble of v
          var i = 0
          while (i < n) {
            put4(if (i % 2 == 0) v >> 4 else v & 0xf)
            i += 1
          }
        } else v match {
          case 0 => fx = 0; fy += 1 // end of line
          case 1 => eob = true      // end of bitmap
          case 2 =>                  // delta: skipped pixels stay 0
            require(p + 1 < b.length, "truncated BMP RLE4 delta")
            fx += b(p) & 0xff
            fy += b(p + 1) & 0xff
            p += 2
          case cnt =>               // absolute: cnt packed nibbles
            val nb = (cnt + 1) / 2
            require(p + nb <= b.length, "truncated BMP RLE4 literals")
            var i = 0
            while (i < cnt) {
              val byte = b(p + i / 2) & 0xff
              put4(if (i % 2 == 0) byte >> 4 else byte & 0xf)
              i += 1
            }
            p += nb + (nb & 1)      // word-aligned
        }
      }
    } else { // BI_RLE8 (spec: encoded runs, absolute mode, EOL/EOB/delta)
      var p = dataOff
      var fx = 0 // file-coordinate cursor (bottom-up rows)
      var fy = 0
      var eob = false
      def setPx(): Int => Unit = idx => {
        require(fx < w && fy < h, s"RLE8 cursor out of bounds ($fx,$fy)")
        require(idx < palette.length, s"BMP palette index $idx out of" +
          s" range (${palette.length})")
        sums((h - 1 - fy) * w + fx) = palette(idx)
        fx += 1
      }
      val put = setPx()
      while (!eob) {
        require(p + 1 < b.length, "truncated BMP RLE8 stream")
        val n = b(p) & 0xff
        val v = b(p + 1) & 0xff
        p += 2
        if (n > 0) { // encoded mode: n pixels of index v
          var i = 0
          while (i < n) { put(v); i += 1 }
        } else v match {
          case 0 => fx = 0; fy += 1 // end of line
          case 1 => eob = true      // end of bitmap
          case 2 =>                  // delta: skipped pixels stay 0
            require(p + 1 < b.length, "truncated BMP RLE8 delta")
            fx += b(p) & 0xff
            fy += b(p + 1) & 0xff
            p += 2
          case cnt =>               // absolute mode: cnt literal indices
            require(p + cnt <= b.length, "truncated BMP RLE8 literals")
            var i = 0
            while (i < cnt) { put(b(p + i) & 0xff); i += 1 }
            p += cnt + (cnt & 1)    // word-aligned
        }
      }
    }
    Raster(w, h, sums)
  }

  /** 8-bit palette BMP (grayscale identity palette): `topDown` writes
    * the spec's negative-height row order; `rle` compresses with
    * BI_RLE8 (encoded runs + absolute mode + EOL/EOB markers —
    * bottom-up only, per spec). */
  def encodeBmp8(w: Int, h: Int, gray: (Int, Int) => Int,
      topDown: Boolean = false, rle: Boolean = false): Array[Byte] = {
    require(w > 0 && h > 0, "bad dims")
    require(!(topDown && rle), "RLE8 BMP must be bottom-up (spec)")
    val pixels = new java.io.ByteArrayOutputStream
    if (rle) {
      for (fy <- 0 until h) {
        val y = h - 1 - fy // bottom-up file rows
        var x = 0
        while (x < w) {
          val v = gray(x, y) & 0xff
          var run = 1
          while (x + run < w && run < 255 &&
            (gray(x + run, y) & 0xff) == v) run += 1
          if (run >= 2) {
            pixels.write(run); pixels.write(v)
            x += run
          } else {
            // literal stretch until a run of ≥ 3 or 255 pixels;
            // absolute mode needs ≥ 3 literals, else encoded singles
            var j = x + 1
            var stop = false
            while (j < w && j - x < 255 && !stop) {
              if (j + 2 < w && (gray(j, y) & 0xff) == (gray(j + 1, y) & 0xff)
                && (gray(j, y) & 0xff) == (gray(j + 2, y) & 0xff)) stop = true
              else j += 1
            }
            val cnt = j - x
            if (cnt >= 3) {
              pixels.write(0); pixels.write(cnt)
              for (i <- 0 until cnt) pixels.write(gray(x + i, y) & 0xff)
              if ((cnt & 1) == 1) pixels.write(0) // word align
              x = j
            } else {
              for (i <- 0 until cnt) {
                pixels.write(1); pixels.write(gray(x + i, y) & 0xff)
              }
              x = j
            }
          }
        }
        pixels.write(0); pixels.write(0) // end of line
      }
      pixels.write(0); pixels.write(1) // end of bitmap
    } else {
      val stride = (w + 3) / 4 * 4
      for (fy <- 0 until h) {
        val y = if (topDown) fy else h - 1 - fy
        for (x <- 0 until w) pixels.write(gray(x, y) & 0xff)
        for (_ <- w until stride) pixels.write(0)
      }
    }
    val data = pixels.toByteArray
    val dataOff = 54 + 4 * 256
    val out = java.nio.ByteBuffer.allocate(dataOff + data.length)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    out.put('B'.toByte).put('M'.toByte)
    out.putInt(dataOff + data.length).putInt(0).putInt(dataOff)
    out.putInt(40).putInt(w).putInt(if (topDown) -h else h)
    out.putShort(1).putShort(8)
    out.putInt(if (rle) 1 else 0).putInt(data.length)
    out.putInt(2835).putInt(2835).putInt(256).putInt(0)
    for (i <- 0 until 256) { // BGRA grayscale identity palette
      out.put(i.toByte).put(i.toByte).put(i.toByte).put(0.toByte)
    }
    out.put(data)
    out.array()
  }

  /** 16-bit BMP: BI_RGB X1R5G5B5, or BI_BITFIELDS R5G6B5 when
    * `use565` — the two real-world HighColor layouts.  Channels
    * quantize v → v>>3 (v>>2 for the 565 green); the decoder's
    * bit-replication expansion makes the round trip SQL-replayable. */
  def encodeBmp16(w: Int, h: Int, rgb: (Int, Int) => (Int, Int, Int),
      use565: Boolean = false): Array[Byte] = {
    require(w > 0 && h > 0, "bad dims")
    val stride = (w * 2 + 3) / 4 * 4
    val masksLen = if (use565) 12 else 0
    val dataOff = 54 + masksLen
    val out = java.nio.ByteBuffer.allocate(dataOff + stride * h)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    out.put('B'.toByte).put('M'.toByte)
    out.putInt(dataOff + stride * h).putInt(0).putInt(dataOff)
    out.putInt(40).putInt(w).putInt(h)
    out.putShort(1).putShort(16)
    out.putInt(if (use565) 3 else 0).putInt(stride * h)
    out.putInt(2835).putInt(2835).putInt(0).putInt(0)
    if (use565) { out.putInt(0xf800); out.putInt(0x7e0); out.putInt(0x1f) }
    for (fy <- 0 until h) {
      val y = h - 1 - fy
      for (x <- 0 until w) {
        val (r, g, b) = rgb(x, y)
        val u =
          if (use565) ((r >> 3) << 11) | ((g >> 2) << 5) | (b >> 3)
          else ((r >> 3) << 10) | ((g >> 3) << 5) | (b >> 3)
        out.putShort(u.toShort)
      }
      for (_ <- w * 2 until stride) out.put(0.toByte)
    }
    out.array()
  }

  /** 4-bit palette BMP (16-entry i·17 grayscale table — the standard
    * 4→8 expansion): `idx(x, y)` ∈ 0..15; `rle` writes BI_RLE4
    * (alternating-nibble encoded runs + packed absolute mode). */
  def encodeBmp4(w: Int, h: Int, idx: (Int, Int) => Int,
      rle: Boolean = false): Array[Byte] = {
    require(w > 0 && h > 0, "bad dims")
    val pixels = new java.io.ByteArrayOutputStream
    if (rle) {
      for (fy <- 0 until h) {
        val y = h - 1 - fy
        var x = 0
        while (x < w) {
          val a = idx(x, y) & 0xf
          val b2 = if (x + 1 < w) idx(x + 1, y) & 0xf else a
          // run of the alternating pair (a, b2)
          var run = 1
          while (x + run < w && run < 254 &&
            (idx(x + run, y) & 0xf) ==
              (if (run % 2 == 0) a else b2)) run += 1
          if (run >= 2) {
            pixels.write(run); pixels.write((a << 4) | b2)
            x += run
          } else {
            pixels.write(1); pixels.write(a << 4)
            x += 1
          }
        }
        pixels.write(0); pixels.write(0) // end of line
      }
      pixels.write(0); pixels.write(1) // end of bitmap
    } else {
      val stride = ((w + 1) / 2 + 3) / 4 * 4
      for (fy <- 0 until h) {
        val y = h - 1 - fy
        var rowBytes = 0
        var x = 0
        while (x < w) {
          val hi = idx(x, y) & 0xf
          val lo = if (x + 1 < w) idx(x + 1, y) & 0xf else 0
          pixels.write((hi << 4) | lo)
          rowBytes += 1
          x += 2
        }
        for (_ <- rowBytes until stride) pixels.write(0)
      }
    }
    val data = pixels.toByteArray
    val dataOff = 54 + 4 * 16
    val out = java.nio.ByteBuffer.allocate(dataOff + data.length)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    out.put('B'.toByte).put('M'.toByte)
    out.putInt(dataOff + data.length).putInt(0).putInt(dataOff)
    out.putInt(40).putInt(w).putInt(h)
    out.putShort(1).putShort(4)
    out.putInt(if (rle) 2 else 0).putInt(data.length)
    out.putInt(2835).putInt(2835).putInt(16).putInt(0)
    for (i <- 0 until 16) { // BGRA i·17 grayscale palette
      val v = (i * 17).toByte
      out.put(v).put(v).put(v).put(0.toByte)
    }
    out.put(data)
    out.array()
  }

  private def decodePpm(b: Array[Byte]): Raster = {
    // Netpbm family (r17 widens beyond P6): header grammar is "P" +
    // format digit, then whitespace-separated w, h, maxval with '#'
    // comments; P5/P6 follow with ONE whitespace byte then binary
    // samples, P2/P3 with whitespace-separated ASCII decimal samples
    val fmt = b(1).toChar
    require(fmt >= '1' && fmt <= '6',
      s"unsupported Netpbm format P$fmt (P1-P6)")
    val bitmap = fmt == '1' || fmt == '4'
    val gray = fmt == '2' || fmt == '5'
    val ascii = fmt == '1' || fmt == '2' || fmt == '3'
    var p = 2
    def skipWs(): Unit = {
      var go = true
      while (go && p < b.length) {
        val c = b(p).toChar
        if (c == '#') { while (p < b.length && b(p) != '\n') p += 1 }
        else if (c.isWhitespace) p += 1
        else go = false
      }
    }
    def int(): Int = {
      skipWs()
      val s = p
      while (p < b.length && (b(p) >= '0' && b(p) <= '9')) p += 1
      require(p > s, "bad Netpbm integer")
      // toInt on an over-long digit run would escape as
      // NumberFormatException — keep the fail-loud contract
      require(p - s <= 9, "Netpbm integer too long")
      new String(b, s, p - s, "US-ASCII").toInt
    }
    val w = int(); val h = int()
    // PBM (P1/P4) has NO maxval field — bits are 1=black, 0=white
    val maxv = if (bitmap) 1 else int()
    require(w > 0 && h > 0, s"bad Netpbm dims ${w}x$h")
    require(bitmap || maxv == 255 || maxv == 65535,
      s"only maxval 255/65535 Netpbm supported, got $maxv")
    // 16-bit samples (maxval > 255): two bytes big-endian per spec,
    // projected to 8-bit via the HIGH byte (the PNG-16 convention)
    val wide = maxv == 65535
    val spp = if (gray || bitmap) 1 else 3
    val sums = new Array[Int](w * h)
    if (fmt == '1') {
      // P1: '0'/'1' digits, whitespace OPTIONAL between them (spec
      // allows packed digit runs)
      var i = 0
      while (i < w * h) {
        skipWs()
        require(p < b.length, "truncated P1 pixel data")
        val c = b(p).toChar
        require(c == '0' || c == '1', s"bad P1 digit '$c'")
        sums(i) = if (c == '1') 0 else 3 * 255 // 1 = black
        p += 1
        i += 1
      }
    } else if (fmt == '4') {
      // P4: one whitespace after h, then bit-packed rows MSB-first,
      // each ROW padded to a byte boundary
      p += 1
      val rowBytes = (w + 7) / 8
      require(b.length >= p + rowBytes * h, "truncated P4 pixel data")
      for (y <- 0 until h; x <- 0 until w) {
        val bit = (b(p + y * rowBytes + (x >> 3)) >> (7 - (x & 7))) & 1
        sums(y * w + x) = if (bit == 1) 0 else 3 * 255
      }
    } else if (ascii) {
      var i = 0
      while (i < w * h) {
        var s = 0
        var c = 0
        while (c < spp) {
          val v = int()
          require(v <= maxv, s"Netpbm sample $v exceeds maxval")
          s += (if (wide) v >> 8 else v)
          c += 1
        }
        sums(i) = if (gray) 3 * s else s
        i += 1
      }
    } else {
      p += 1 // the single whitespace after maxval
      val bytesPer = if (wide) 2 else 1
      require(b.length >= p + w * h * spp * bytesPer,
        "truncated Netpbm pixel data")
      var i = 0
      def next(): Int =
        if (wide) { val v = b(p) & 0xff; p += 2; v } // BE high byte
        else { val v = b(p) & 0xff; p += 1; v }
      while (i < w * h) {
        if (gray) sums(i) = 3 * next()
        else sums(i) = next() + next() + next()
        i += 1
      }
    }
    Raster(w, h, sums)
  }

  /** Binary PGM (P5), grayscale single-byte samples. */
  def encodePgm(w: Int, h: Int, gray: (Int, Int) => Int): Array[Byte] = {
    require(w > 0 && h > 0, "bad dims")
    val header = s"P5\n$w $h\n255\n".getBytes("US-ASCII")
    val out = new Array[Byte](header.length + w * h)
    System.arraycopy(header, 0, out, 0, header.length)
    var p = header.length
    for (y <- 0 until h; x <- 0 until w) {
      out(p) = (gray(x, y) & 0xff).toByte
      p += 1
    }
    out
  }

  /** 16-bit Netpbm (maxval 65535): binary P5/P6 write big-endian pairs
    * with the HIGH byte the 8-bit value and a deliberately different
    * low byte ((v·131+17) mod 256); ASCII P2/P3 write v·256+37 — either
    * way the decoder's high-byte projection recovers v exactly and a
    * wrong-byte read cannot pass. */
  def encodePnm16(w: Int, h: Int, rgb: (Int, Int) => (Int, Int, Int),
      gray: Boolean, ascii: Boolean): Array[Byte] = {
    require(w > 0 && h > 0, "bad dims")
    val fmt = (gray, ascii) match {
      case (true, false) => "P5"
      case (false, false) => "P6"
      case (true, true) => "P2"
      case _ => "P3"
    }
    val header = s"$fmt\n$w $h\n65535\n"
    if (ascii) {
      val sb = new StringBuilder(header)
      for (y <- 0 until h) {
        for (x <- 0 until w) {
          val (r, g, b) = rgb(x, y)
          val vs = if (gray) Seq(r) else Seq(r, g, b)
          sb.append(vs.map(v => (v * 256 + 37).toString).mkString(" "))
          if (x < w - 1) sb.append(' ')
        }
        sb.append('\n')
      }
      sb.toString.getBytes("US-ASCII")
    } else {
      val hb = header.getBytes("US-ASCII")
      val spp = if (gray) 1 else 3
      val out = new Array[Byte](hb.length + w * h * spp * 2)
      System.arraycopy(hb, 0, out, 0, hb.length)
      var p = hb.length
      for (y <- 0 until h; x <- 0 until w) {
        val (r, g, b) = rgb(x, y)
        val vs = if (gray) Seq(r) else Seq(r, g, b)
        vs.foreach { v =>
          out(p) = v.toByte
          out(p + 1) = ((v * 131 + 17) & 0xff).toByte
          p += 2
        }
      }
      out
    }
  }

  /** PBM bitmap (P4 binary / P1 ASCII): bit (x, y) true = BLACK (the
    * Netpbm polarity — decodes to gray 0; false = white = 255).  P4
    * packs bits MSB-first with each ROW padded to a byte boundary; P1
    * writes '0'/'1' digits, line-wrapped. */
  def encodePbm(w: Int, h: Int, bit: (Int, Int) => Boolean,
      ascii: Boolean = false): Array[Byte] = {
    require(w > 0 && h > 0, "bad dims")
    val header = s"P${if (ascii) 1 else 4}\n$w $h\n".getBytes("US-ASCII")
    if (ascii) {
      val sb = new StringBuilder
      for (y <- 0 until h) {
        for (x <- 0 until w) {
          sb.append(if (bit(x, y)) '1' else '0')
          if (x < w - 1) sb.append(' ')
        }
        sb.append('\n')
      }
      header ++ sb.toString.getBytes("US-ASCII")
    } else {
      val rowBytes = (w + 7) / 8
      val out = new Array[Byte](header.length + rowBytes * h)
      System.arraycopy(header, 0, out, 0, header.length)
      for (y <- 0 until h; x <- 0 until w)
        if (bit(x, y))
          out(header.length + y * rowBytes + (x >> 3)) =
            (out(header.length + y * rowBytes + (x >> 3)) |
              (1 << (7 - (x & 7)))).toByte
      out
    }
  }

  /** ASCII Netpbm (P2 gray / P3 RGB), decimal samples with line
    * wrapping — the human-readable interchange shape. */
  def encodePnmAscii(w: Int, h: Int, rgb: (Int, Int) => (Int, Int, Int),
      gray: Boolean): Array[Byte] = {
    require(w > 0 && h > 0, "bad dims")
    val sb = new StringBuilder
    sb.append(if (gray) "P2" else "P3").append('\n')
      .append(w).append(' ').append(h).append("\n255\n")
    for (y <- 0 until h) {
      for (x <- 0 until w) {
        val (r, g, b) = rgb(x, y)
        if (gray) sb.append(r)
        else sb.append(r).append(' ').append(g).append(' ').append(b)
        if (x < w - 1) sb.append(' ')
      }
      sb.append('\n')
    }
    sb.toString.getBytes("US-ASCII")
  }

  // ---- the real DecodeKernel ----------------------------------------------

  /** Block-mean luminance features over a gridW×gridH partition of the
    * decoded image (cell boundaries `floor(k·dim/grid)` — the standard
    * pooling map), features row-major.  Integer sums, ONE double division
    * per cell: for a gray image the cell mean is exactly the pixel-value
    * mean, bit-reproducible in SQL.  This is the production-shaped swap-in
    * for [[MultimodalOps.stubKernel]] — same record, real pixels. */
  def kernel(gridW: Int, gridH: Int): MultimodalOps.DecodeKernel =
    (docId, bytes) => {
      val r = decode(bytes)
      MultimodalOps.MediaFeatures(docId, bytes.length.toLong,
        r.width, r.height, rasterFeatures(r, gridW, gridH))
    }

  /** The pooling itself, usable on any already-decoded raster (the
    * per-frame path of animated containers reuses it). */
  def rasterFeatures(r: Raster, gridW: Int, gridH: Int): Array[Double] = {
    require(gridW > 0 && gridH > 0, "bad grid")
    val feats = new Array[Double](gridW * gridH)
    var gy = 0
    while (gy < gridH) {
      val y0 = gy * r.height / gridH
      val y1 = (gy + 1) * r.height / gridH
      var gx = 0
      while (gx < gridW) {
        val x0 = gx * r.width / gridW
        val x1 = (gx + 1) * r.width / gridW
        var sum = 0L
        var cnt = 0L
        var y = y0
        while (y < y1) {
          var x = x0
          while (x < x1) {
            sum += r.lumaSum3(y * r.width + x)
            cnt += 1
            x += 1
          }
          y += 1
        }
        feats(gy * gridW + gx) =
          if (cnt == 0) 0.0 else sum.toDouble / (3.0 * cnt)
        gx += 1
      }
      gy += 1
    }
    feats
  }
}
