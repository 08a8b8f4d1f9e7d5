package graft.ops

/** Dependency-free image codec, written from the public format
  * specifications: BMP (24-bit, 16-bit 555/565, 8- and 4-bit palette,
  * uncompressed or RLE, bottom-up or top-down), Netpbm P1–P6 at maxval
  * 255 or 65535, PNG, GIF, and — through [[TiffCodec]] and [[JpegCodec]] —
  * TIFF and baseline or progressive JPEG.  Each container has one writer
  * and one reader.  This is the REAL (non-stub) kernel behind the
  * [[MultimodalOps.DecodeKernel]] seam: decode → block-mean luminance
  * features → aHash / near-dup / resize run on actual pixel data.
  *
  * Everything is integer until the final per-cell mean (one IEEE double
  * division of an integer sum), so features are engine-exact and the SQL
  * oracle can replay them from the source bytes.  Unsupported shapes and
  * malformed headers fail loudly with an IllegalArgumentException — a
  * decoder silently misreading pixels would poison every downstream
  * fingerprint — and the BMP, Netpbm, GIF and PNG readers check a
  * header's declared size before allocating any pixel buffer.
  */
object ImageCodec {

  /** Decoded raster: dims + row-major top-down per-pixel channel sums
    * (r+g+b per pixel — the only pixel statistic the feature grid needs,
    * kept integer). */
  final case class Raster(width: Int, height: Int, lumaSum3: Array[Int])

  /** Pixel cap of the containers whose byte count bounds no pixel count
    * (RLE BMP, GIF, PNG, JPEG, TIFF): a crafted header must not allocate
    * the heap away before a single pixel is checked. */
  private val MaxPixels = 1 << 26

  private[ops] def pixelCap(w: Int, h: Int, what: String): Unit =
    require(w.toLong * h <= MaxPixels,
      s"$what ${w}x$h exceeds the $MaxPixels-pixel decode cap")

  // ---- the text-to-pixel fixtures ------------------------------------------

  /** Gray pixel (x, y) of a `w`-wide image is `src((y·w + x) mod
    * src.length) & 0xff` — the deterministic "encode the document as
    * pixels" map that every container's fixture and its SQL oracle
    * compute independently. */
  private[ops] def srcGray(w: Int, src: Array[Byte]): (Int, Int) => Int = {
    require(src.nonEmpty, "empty source bytes")
    (x, y) => src((y * w + x) % src.length) & 0xff
  }

  /** A gray map as RGB with three equal channels. */
  private[ops] def grayRgb(g: (Int, Int) => Int): (Int, Int) => (Int, Int, Int) =
    (x, y) => { val v = g(x, y); (v, v, v) }

  /** [[srcGray]] as a binary PPM (`asPpm`) or a 24-bit BMP. */
  def grayFromBytes(w: Int, h: Int, src: Array[Byte], asPpm: Boolean)
      : Array[Byte] = {
    val f = grayRgb(srcGray(w, src))
    if (asPpm) encodePpm(w, h, f) else encodeBmp(w, h, f)
  }

  /** [[srcGray]], PNG container: chosen color type and per-row filter —
    * so one corpus sweep exercises the compressed path (chunk walk, CRC,
    * inflate, unfilter) with every filter kind. */
  def grayPng(w: Int, h: Int, src: Array[Byte], colorType: Int,
      filter: Int, interlace: Boolean = false,
      depth: Int = 8): Array[Byte] =
    encodePng(w, h, grayRgb(srcGray(w, src)), colorType, filter, interlace,
      depth,
      // color type 3: pixel v doubles as the index through the identity
      // gray palette (the indirection itself is proven in the spec with
      // an inverted palette)
      palette = if (colorType == 3) Array.tabulate(256)(i => (i, i, i))
        else null)

  /** [[srcGray]], GIF container. */
  def grayGif(w: Int, h: Int, src: Array[Byte]): Array[Byte] =
    encodeGif(w, h, srcGray(w, src))

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
          pixelCap(w, h, "PNG")
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

  // ---- GIF (LZW — the tier's third compression family) -------------------
  //
  // Written from the public GIF87a/89a specifications: logical screen
  // descriptor, 256-entry grayscale global color table, image descriptor,
  // and variable-width LZW with clear/EOI codes, little-endian bit
  // packing, dictionary growth to 12 bits, and the KwKwK case.  Lossless,
  // so the text-derived oracles replay features hash-exactly (same
  // pattern as BMP/PPM/PNG).  GIF has no checksums — corruption safety is
  // structural only (magic, bounds, sub-block walk); the PNG tier is the
  // checksummed one.  Interlace (four-pass row order), local color tables
  // (per-image override of the global) and 89a animation (NETSCAPE2.0
  // loop block, Graphic Control Extensions, partial frames, disposal,
  // transparency) are supported; sub-8-bit palettes fail loudly.

  /** GIF interlace row order (spec: four passes — every 8th row from 0,
    * every 8th from 4, every 4th from 2, every 2nd from 1). */
  private def gifRowOrder(h: Int): Array[Int] =
    (Seq((0, 8), (4, 8), (2, 4), (1, 2)).flatMap { case (start, step) =>
      start until h by step
    }).toArray

  /** One frame of an animated GIF: a `w`×`h` image placed at (`left`,
    * `top`) inside the logical screen, with the GCE disposal method that
    * governs the canvas AFTER this frame renders — 1 = leave in place,
    * 2 = restore the frame's rectangle to the background color, 3 =
    * restore the canvas to its pre-frame state (spec "restore to
    * previous").  `px` is frame-local: `px(u, v)` for u < w, v < h.
    * `transparent` marks one palette index as a HOLE — pixels carrying it
    * leave the underlying canvas untouched (the GCE transparent-color
    * flag, how real animated GIFs encode unchanged regions inside the
    * stored rectangle). */
  final case class GifFrame(left: Int, top: Int, w: Int, h: Int,
      disposal: Int, px: (Int, Int) => Int,
      transparent: Option[Int] = None)

  /** 8-bit grayscale GIF87a: pixel (x, y) = palette index v(x, y) where
    * the global table maps i → (i, i, i).  Real LZW compression (string
    * table, not literal-only), so decode exercises dictionary hits.
    * `interlace` stores rows in the spec's four-pass order;
    * `localTable` attaches a per-image color table (identity gray) and
    * INVERTS the global one — so a decoder that ignores the local table
    * produces provably wrong pixels, not silently right ones. */
  def encodeGif(w: Int, h: Int, gray: (Int, Int) => Int,
      interlace: Boolean = false, localTable: Boolean = false)
      : Array[Byte] =
    writeGif(w, h, Seq(GifFrame(0, 0, w, h, 1, gray)), None,
      interlace = interlace, localTable = localTable)

  /** ANIMATED GIF89a — the real-world GIF shape: NETSCAPE2.0 looping
    * application extension, then one Graphic Control Extension (disposal
    * 1 = leave in place, `delayCs` centiseconds, no transparency) +
    * full-screen image per frame.  Frames share the global table. */
  def encodeGifAnimated(w: Int, h: Int,
      frames: Seq[(Int, Int) => Int], delayCs: Int = 10): Array[Byte] =
    encodeGifAnimatedComposite(w, h, frames.map(GifFrame(0, 0, w, h, 1, _)),
      delayCs)

  /** Animated GIF89a with PARTIAL frames and disposal methods — how
    * real animated GIFs are actually authored (only the changed
    * rectangle is stored per frame; the disposal method says what the
    * next frame composites over).  Same container grammar as
    * [[encodeGifAnimated]] (NETSCAPE2.0 loop + GCE per frame), but each
    * frame carries its own geometry and disposal, and the logical
    * screen descriptor's background color index is `background`
    * (disposal 2 restores to it). */
  def encodeGifAnimatedComposite(w: Int, h: Int, frames: Seq[GifFrame],
      delayCs: Int = 10, background: Int = 0): Array[Byte] =
    writeGif(w, h, frames, Some(delayCs), background)

  /** The one GIF writer: header and 256-entry global gray table (inverted
    * when `localTable` gives every image an identity table of its own),
    * then each frame's image.  An animation (`delayCs` set) is GIF89a
    * with the NETSCAPE2.0 loop block and a Graphic Control Extension
    * before each image; a still image is GIF87a with neither. */
  private def writeGif(w: Int, h: Int, frames: Seq[GifFrame],
      delayCs: Option[Int], background: Int = 0, interlace: Boolean = false,
      localTable: Boolean = false): Array[Byte] = {
    require(w > 0 && h > 0 && w <= 0xffff && h <= 0xffff, "bad dims")
    require(frames.nonEmpty, "no frames")
    delayCs.foreach(d => require(d >= 0 && d <= 0xffff, "bad delay"))
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
    def u16(v: Int): Unit = { out.write(v & 0xff); out.write((v >> 8) & 0xff) }
    // length-prefixed sub-blocks, then the block terminator
    def blocks(bs: Iterator[Array[Byte]]): Unit = {
      bs.foreach { s => out.write(s.length); out.write(s) }
      out.write(0)
    }
    def grayTable(invert: Boolean): Unit =
      for (i <- 0 until 3 * 256) out.write(if (invert) 255 - i / 3 else i / 3)
    out.write((if (delayCs.isEmpty) "GIF87a" else "GIF89a").getBytes("US-ASCII"))
    u16(w); u16(h)
    out.write(0xf7) // global table, 8-bit color resolution, 256 entries
    out.write(background); out.write(0) // background index, aspect
    grayTable(invert = localTable)
    if (delayCs.isDefined) {
      // NETSCAPE2.0 looping extension (the de-facto-standard block every
      // real animated GIF carries): sub-block {1, loopCount=0 (forever)}
      out.write(0x21); out.write(0xff)
      blocks(Iterator("NETSCAPE2.0".getBytes("US-ASCII"), Array[Byte](1, 0, 0)))
    }
    frames.foreach { f =>
      delayCs.foreach { d =>
        // GCE: packed (disposal in bits 4:2, transparent-color flag in
        // bit 0), delay u16, transparent index
        out.write(0x21); out.write(0xf9)
        blocks(Iterator(Array((f.disposal << 2) |
          (if (f.transparent.isDefined) 1 else 0), d & 0xff, d >> 8,
          f.transparent.getOrElse(0)).map(_.toByte)))
      }
      out.write(0x2c) // image descriptor
      u16(f.left); u16(f.top); u16(f.w); u16(f.h)
      out.write((if (localTable) 0x87 else 0) |
        (if (interlace) 0x40 else 0)) // local table (256), interlace flags
      if (localTable) grayTable(invert = false)
      out.write(8) // LZW minimum code size
      blocks(gifLzw(f, interlace).grouped(255))
    }
    out.write(0x3b) // trailer
    out.toByteArray
  }

  /** LZW code stream of one frame's pixels: codes 0..255 literals, 256
    * clear, 257 EOI; width grows when the NEXT code would not fit; at
    * 4096 we emit clear and restart (the spec's standard overflow
    * policy). */
  private def gifLzw(f: GifFrame, interlace: Boolean): Array[Byte] = {
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
    val rows = if (interlace) gifRowOrder(f.h) else Array.range(0, f.h)
    for (y <- rows; x <- 0 until f.w) {
      val px = f.px(x, y) & 0xff
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
    bits.toByteArray
  }

  /** Logical screen: dims, background index, global table as per-entry
    * r+g+b sums (empty when absent — legal when every image carries a
    * local table), and the offset of the first block after it. */
  private final case class GifScreen(w: Int, h: Int, background: Int,
      palette: Array[Int], start: Int)

  /** `n`-entry color table at `p` → per-entry r+g+b sums. */
  private def gifTable(b: Array[Byte], p: Int, n: Int,
      what: String): Array[Int] = {
    require(b.length >= p + 3 * n, s"truncated GIF $what")
    Array.tabulate(n) { i =>
      (b(p + 3 * i) & 0xff) + (b(p + 3 * i + 1) & 0xff) +
        (b(p + 3 * i + 2) & 0xff)
    }
  }

  private def gifScreen(b: Array[Byte]): GifScreen = {
    require(b.length >= 13, "truncated GIF header")
    val magic = new String(b, 0, 6, "US-ASCII")
    require(magic == "GIF87a" || magic == "GIF89a", s"bad GIF magic $magic")
    val packed = b(10) & 0xff
    val n = if ((packed & 0x80) != 0) 1 << ((packed & 7) + 1) else 0
    GifScreen(i16(b, 6), i16(b, 8), b(11) & 0xff,
      gifTable(b, 13, n, "color table"), 13 + 3 * n)
  }

  /** One decoded image at PALETTE-INDEX granularity (row-major indices
    * and the active table) — the compositing decoder needs raw indices
    * because a transparent index must leave the canvas pixel untouched,
    * and the index→palette map is not injective in general. */
  private final case class GifImage(idx: Array[Int], w: Int, h: Int,
      left: Int, top: Int, palette: Array[Int]) {
    def raster: Raster = Raster(w, h, idx.map(palette))
  }

  /** The one GIF block walker, from the end of the global table to the
    * trailer: each 0x21 extension is walked on its own, sub-block by
    * sub-block (a Graphic Control Extension is first handed to `gce` at
    * its introducer's offset), and each 0x2c image is decoded and handed
    * to `image`, which returns whether to go on. */
  private def gifWalk(b: Array[Byte], s: GifScreen)(gce: Int => Unit)(
      image: GifImage => Boolean): Unit = {
    var p = s.start
    var go = true
    while (go) {
      require(p < b.length, "GIF unterminated (missing trailer)")
      (b(p) & 0xff) match {
        case 0x3b => go = false
        case 0x21 =>
          if (p + 1 < b.length && (b(p + 1) & 0xff) == 0xf9) gce(p)
          p += 2 // extension introducer + label
          require(p < b.length, "truncated GIF extension")
          while ((b(p) & 0xff) != 0) {
            p += 1 + (b(p) & 0xff)
            require(p < b.length, "truncated GIF extension")
          }
          p += 1
        case 0x2c =>
          val (img, np) = gifImageAt(b, p, s.palette)
          p = np
          go = image(img)
        case x => throw new IllegalArgumentException(
          f"unexpected GIF block 0x$x%02x")
      }
    }
  }

  private def decodeGif(b: Array[Byte]): Raster = {
    var first: Raster = null
    gifWalk(b, gifScreen(b))(_ => ()) { img => first = img.raster; false }
    require(first != null, "GIF has no image frames")
    first
  }

  /** Every frame of an (animated) GIF, decoded independently.  Scope:
    * full-screen frames only — frames positioned or sized inside the
    * logical screen need disposal-method compositing, which is rejected
    * BY NAME rather than approximated (a half-composited frame would
    * poison downstream fingerprints). */
  def decodeGifFrames(b: Array[Byte]): IndexedSeq[Raster] = {
    val s = gifScreen(b)
    val frames = scala.collection.mutable.ArrayBuffer.empty[Raster]
    gifWalk(b, s)(_ => ()) { img =>
      require(img.left == 0 && img.top == 0 && img.w == s.w && img.h == s.h,
        "partial-frame GIF compositing unsupported " +
          "(full-screen frames only)")
      frames += img.raster
      true
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
    val s = gifScreen(b)
    val (sw, sh) = (s.w, s.h)
    require(s.palette.nonEmpty,
      "composited GIF needs a global color table (background color)")
    require(sw > 0 && sh > 0 && sw.toLong * sh <= MaxPixels,
      s"bad GIF logical screen ${sw}x$sh")
    require(s.background < s.palette.length,
      s"GIF background index ${s.background} outside the " +
        s"${s.palette.length}-entry table")
    val bg = s.palette(s.background)
    val canvas = Array.fill(sw * sh)(bg)
    val frames = scala.collection.mutable.ArrayBuffer.empty[Raster]
    var disposal = 0 // GCE applies to the NEXT image; default = none
    var transIdx = -1 // transparent palette index, -1 = opaque frame
    gifWalk(b, s) { p =>
      // Graphic Control Extension: capture disposal + the transparent
      // index (block: size 4, packed, delay u16, transparent index)
      require(p + 7 < b.length && (b(p + 2) & 0xff) == 4,
        "bad GIF graphic control extension")
      val packed = b(p + 3) & 0xff
      disposal = (packed >> 2) & 7
      require(disposal <= 3, s"reserved GIF disposal method $disposal")
      transIdx = if ((packed & 1) != 0) b(p + 6) & 0xff else -1
    } { img =>
      val (fw, fh, left, top) = (img.w, img.h, img.left, img.top)
      require(left + fw <= sw && top + fh <= sh,
        s"GIF frame ${fw}x$fh@($left,$top) escapes " +
          s"the ${sw}x$sh logical screen")
      val before = if (disposal == 3) canvas.clone() else null
      var v = 0
      while (v < fh) {
        var u = 0
        while (u < fw) {
          val i = img.idx(v * fw + u)
          if (i != transIdx) canvas((top + v) * sw + left + u) = img.palette(i)
          u += 1
        }
        v += 1
      }
      frames += Raster(sw, sh, canvas.clone())
      disposal match {
        case 2 => // restore the frame's rect to background
          var y = top
          while (y < top + fh) {
            java.util.Arrays.fill(canvas, y * sw + left, y * sw + left + fw, bg)
            y += 1
          }
        case 3 => System.arraycopy(before, 0, canvas, 0, canvas.length)
        case _ => () // 0/1: leave in place
      }
      disposal = 0 // a GCE governs exactly one following image
      transIdx = -1
      true
    }
    require(frames.nonEmpty, "GIF has no image frames")
    frames.toIndexedSeq
  }

  /** Decode the image whose descriptor starts at `p0` → (image, position
    * after its data terminator). */
  private def gifImageAt(b: Array[Byte], p0: Int,
      global: Array[Int]): (GifImage, Int) = {
    require(p0 + 10 <= b.length, "truncated GIF image descriptor")
    val left = i16(b, p0 + 1); val top = i16(b, p0 + 3)
    val w = i16(b, p0 + 5); val h = i16(b, p0 + 7)
    require(w > 0 && h > 0, s"bad GIF dims ${w}x$h")
    pixelCap(w, h, "GIF image")
    val ipacked = b(p0 + 9) & 0xff
    var p = p0 + 10
    // a local color table overrides the global for this image (spec
    // §20); its size comes from the descriptor's low bits
    val palette: Array[Int] =
      if ((ipacked & 0x80) != 0) {
        val n = 1 << ((ipacked & 7) + 1)
        val pal = gifTable(b, p, n, "local color table")
        p += 3 * n
        pal
      } else {
        require(global.nonEmpty,
          "GIF with neither global nor local color table")
        global
      }
    require(p < b.length, "GIF data blocks unterminated")
    val minCode = b(p) & 0xff; p += 1
    require(minCode == 8, s"only 8-bit GIF palettes supported, got $minCode")
    // 8-bit codes address 256 palette slots — a shorter declared table
    // would make a legal literal index out of bounds
    require(palette.length >= 256,
      s"GIF color table too small (${palette.length}) for 8-bit codes")
    // concatenate LZW sub-blocks
    val z = new java.io.ByteArrayOutputStream
    while (p < b.length && (b(p) & 0xff) != 0) {
      val n = b(p) & 0xff
      require(b.length >= p + 1 + n, "truncated GIF data sub-block")
      z.write(b, p + 1, n); p += 1 + n
    }
    require(p < b.length, "GIF data blocks unterminated")
    val px = gifUnLzw(z.toByteArray, w * h)
    val idx =
      if ((ipacked & 0x40) == 0) px
      else {
        // stored row r is actual row gifRowOrder(h)(r): scatter back
        val o = new Array[Int](w * h)
        val order = gifRowOrder(h)
        for (r <- 0 until h)
          System.arraycopy(px, r * w, o, order(r) * w, w)
        o
      }
    (GifImage(idx, w, h, left, top, palette), p + 1)
  }

  /** LZW-decode exactly `n` pixel indices. */
  private def gifUnLzw(data: Array[Byte], n: Int): Array[Int] = {
    val clear = 256; val eoi = 257
    val px = new Array[Int](n)
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
    require(nPx == n, s"GIF pixel data short: $nPx of $n")
    px
  }

  // ---- decoder -----------------------------------------------------------

  /** Sniff the magic and decode: BMP ("BM"), Netpbm ("P1"–"P6"), PNG,
    * GIF, TIFF ("II"/"MM"), or JPEG (FFD8).  Returns dims plus per-pixel
    * integer r+g+b sums, top-down row-major. */
  def decode(bytes: Array[Byte]): Raster = {
    require(bytes.length >= 2, "truncated image")
    if (bytes(0) == 'B'.toByte && bytes(1) == 'M'.toByte) decodeBmp(bytes)
    else if (bytes(0) == 'P'.toByte && bytes(1) >= '1'.toByte &&
        bytes(1) <= '6'.toByte)
      decodeNetpbm(bytes)
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
        "(BMP, Netpbm P1-P6, PNG, GIF, TIFF, and baseline or progressive " +
        "JPEG supported)")
  }

  private def i32(b: Array[Byte], off: Int): Int =
    (b(off) & 0xff) | ((b(off + 1) & 0xff) << 8) |
      ((b(off + 2) & 0xff) << 16) | ((b(off + 3) & 0xff) << 24)

  private def i16(b: Array[Byte], off: Int): Int =
    (b(off) & 0xff) | ((b(off + 1) & 0xff) << 8)

  // ---- BMP -----------------------------------------------------------------
  //
  // Windows BITMAPFILEHEADER + BITMAPINFOHEADER: 24-bit BI_RGB, 16-bit
  // X1R5G5B5 (BI_RGB) or R5G6B5 (BI_BITFIELDS), and 8- or 4-bit palette
  // images, uncompressed (bottom-up or top-down rows padded to 4 bytes)
  // or run-length coded (BI_RLE8 / BI_RLE4, bottom-up only per spec).

  /** The one BMP container writer: BITMAPFILEHEADER, a 40-byte
    * BITMAPINFOHEADER (`hStored` < 0 ⇒ top-down rows), then `extra`
    * (palette or bit masks, `colors` = biClrUsed palette entries) and the
    * pixel data. */
  private def bmpFile(w: Int, hStored: Int, bpp: Int, compression: Int,
      colors: Int, extra: Array[Byte], data: Array[Byte]): Array[Byte] = {
    val dataOff = 54 + extra.length
    val out = java.nio.ByteBuffer.allocate(dataOff + data.length)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    out.put('B'.toByte).put('M'.toByte)
    out.putInt(dataOff + data.length).putInt(0).putInt(dataOff) // size, reserved, offset
    out.putInt(40).putInt(w).putInt(hStored)   // DIB size, w, h
    out.putShort(1).putShort(bpp.toShort)       // planes, bpp
    out.putInt(compression).putInt(data.length) // compression, image size
    out.putInt(2835).putInt(2835).putInt(colors).putInt(0) // 72 dpi, palette
    out.put(extra).put(data)
    out.array()
  }

  /** Uncompressed rows: file row r holds image row r (`topDown`) or
    * h−1−r, written by `row` and zero-padded to 4 bytes. */
  private def bmpRows(h: Int, topDown: Boolean)(
      row: (Int, java.io.ByteArrayOutputStream) => Unit): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream
    for (fy <- 0 until h) {
      val start = out.size
      row(if (topDown) fy else h - 1 - fy, out)
      while ((out.size - start) % 4 != 0) out.write(0)
    }
    out.toByteArray
  }

  /** Run-length framing (BI_RLE8 / BI_RLE4): bottom-up rows, each coded
    * by `row` and closed by an end-of-line marker, then end of bitmap. */
  private def bmpRle(h: Int)(
      row: (Int, java.io.ByteArrayOutputStream) => Unit): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream
    for (fy <- 0 until h) {
      row(h - 1 - fy, out)
      out.write(0); out.write(0) // end of line
    }
    out.write(0); out.write(1) // end of bitmap
    out.toByteArray
  }

  /** `n`-entry BGRA gray palette, entry i = i·step. */
  private def bmpGrayPalette(n: Int, step: Int): Array[Byte] =
    Array.tabulate(4 * n)(k => if (k % 4 == 3) 0.toByte else (k / 4 * step).toByte)

  /** 24-bit uncompressed BMP (bottom-up rows, BGR byte order, rows padded
    * to 4 bytes). `rgb(x, y)` is top-down row-major, channels 0..255. */
  def encodeBmp(w: Int, h: Int, rgb: (Int, Int) => (Int, Int, Int))
      : Array[Byte] = {
    require(w > 0 && h > 0, "bad dims")
    bmpFile(w, h, 24, 0, 0, Array.emptyByteArray,
      bmpRows(h, topDown = false) { (y, out) =>
        for (x <- 0 until w) {
          val (r, g, b) = rgb(x, y)
          out.write(b); out.write(g); out.write(r)
        }
      })
  }

  /** 8-bit palette BMP (grayscale identity palette): `topDown` writes
    * the spec's negative-height row order; `rle` compresses with
    * BI_RLE8 (encoded runs + absolute mode + EOL/EOB markers —
    * bottom-up only, per spec). */
  def encodeBmp8(w: Int, h: Int, gray: (Int, Int) => Int,
      topDown: Boolean = false, rle: Boolean = false): Array[Byte] = {
    require(w > 0 && h > 0, "bad dims")
    require(!(topDown && rle), "RLE8 BMP must be bottom-up (spec)")
    def g(x: Int, y: Int): Int = gray(x, y) & 0xff
    val data =
      if (!rle) bmpRows(h, topDown)((y, out) => for (x <- 0 until w) out.write(g(x, y)))
      else bmpRle(h) { (y, out) =>
        var x = 0
        while (x < w) {
          val v = g(x, y)
          var run = 1
          while (x + run < w && run < 255 && g(x + run, y) == v) run += 1
          if (run >= 2) {
            out.write(run); out.write(v)
            x += run
          } else {
            // literal stretch until a run of ≥ 3 or 255 pixels;
            // absolute mode needs ≥ 3 literals, else encoded singles
            var j = x + 1
            while (j < w && j - x < 255 &&
              !(j + 2 < w && g(j, y) == g(j + 1, y) && g(j, y) == g(j + 2, y)))
              j += 1
            val cnt = j - x
            if (cnt >= 3) {
              out.write(0); out.write(cnt)
              for (i <- 0 until cnt) out.write(g(x + i, y))
              if ((cnt & 1) == 1) out.write(0) // word align
            } else
              for (i <- 0 until cnt) { out.write(1); out.write(g(x + i, y)) }
            x = j
          }
        }
      }
    bmpFile(w, if (topDown) -h else h, 8, if (rle) 1 else 0, 256,
      bmpGrayPalette(256, 1), data)
  }

  /** 16-bit BMP: BI_RGB X1R5G5B5, or BI_BITFIELDS R5G6B5 when
    * `use565` — the two real-world HighColor layouts.  Channels
    * quantize v → v>>3 (v>>2 for the 565 green); the decoder's
    * bit-replication expansion makes the round trip SQL-replayable. */
  def encodeBmp16(w: Int, h: Int, rgb: (Int, Int) => (Int, Int, Int),
      use565: Boolean = false): Array[Byte] = {
    require(w > 0 && h > 0, "bad dims")
    val masks =
      if (!use565) Array.emptyByteArray
      else java.nio.ByteBuffer.allocate(12).order(java.nio.ByteOrder.LITTLE_ENDIAN)
        .putInt(0xf800).putInt(0x7e0).putInt(0x1f).array()
    bmpFile(w, h, 16, if (use565) 3 else 0, 0, masks,
      bmpRows(h, topDown = false) { (y, out) =>
        for (x <- 0 until w) {
          val (r, g, b) = rgb(x, y)
          val u =
            if (use565) ((r >> 3) << 11) | ((g >> 2) << 5) | (b >> 3)
            else ((r >> 3) << 10) | ((g >> 3) << 5) | (b >> 3)
          out.write(u); out.write(u >> 8)
        }
      })
  }

  /** 4-bit palette BMP (16-entry i·17 grayscale table — the standard
    * 4→8 expansion): `idx(x, y)` ∈ 0..15; `rle` writes BI_RLE4
    * (alternating-nibble encoded runs + packed absolute mode). */
  def encodeBmp4(w: Int, h: Int, idx: (Int, Int) => Int,
      rle: Boolean = false): Array[Byte] = {
    require(w > 0 && h > 0, "bad dims")
    def n(x: Int, y: Int): Int = idx(x, y) & 0xf
    val data =
      if (!rle) bmpRows(h, topDown = false) { (y, out) =>
        for (x <- 0 until w by 2)
          out.write((n(x, y) << 4) | (if (x + 1 < w) n(x + 1, y) else 0))
      }
      else bmpRle(h) { (y, out) =>
        var x = 0
        while (x < w) {
          val a = n(x, y)
          val b2 = if (x + 1 < w) n(x + 1, y) else a
          // run of the alternating pair (a, b2)
          var run = 1
          while (x + run < w && run < 254 &&
            n(x + run, y) == (if (run % 2 == 0) a else b2)) run += 1
          if (run >= 2) { out.write(run); out.write((a << 4) | b2) }
          else { out.write(1); out.write(a << 4) }
          x += run
        }
      }
    bmpFile(w, h, 4, if (rle) 2 else 0, 16, bmpGrayPalette(16, 17), data)
  }

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
    val rle = compression == 1 || compression == 2
    require(!(topDown && rle),
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
    require(dataOff >= 0, s"bad BMP pixel data offset $dataOff")
    def pal(idx: Int): Int = {
      require(idx < palette.length,
        s"BMP palette index $idx out of range (${palette.length})")
      palette(idx)
    }
    if (rle) decodeBmpRle(b, dataOff, w, h, nibbles = compression == 2, pal)
    else {
      // 16-bit: BI_RGB = X1R5G5B5; BI_BITFIELDS = three mask DWORDs right
      // after the header — only the two real-world layouts (555 / 565)
      // are accepted, decoded with the standard bit-replication expansion
      // (5-bit (v<<3)|(v>>2), 6-bit (v<<2)|(v>>4)); blue is always 0x1f
      val (rm, gm) =
        if (bpp != 16 || compression == 0) (0x7c00, 0x3e0)
        else {
          require(b.length >= 14 + dibSize + 12,
            "truncated BI_BITFIELDS masks")
          val m = (i32(b, 14 + dibSize), i32(b, 14 + dibSize + 4),
            i32(b, 14 + dibSize + 8))
          require(m == ((0xf800, 0x7e0, 0x1f)) || m == ((0x7c00, 0x3e0, 0x1f)),
            s"unsupported BI_BITFIELDS masks $m (565 or 555 only)")
          (m._1, m._2)
        }
      val (rs, gs) = (Integer.numberOfTrailingZeros(rm),
        Integer.numberOfTrailingZeros(gm))
      val gw = Integer.bitCount(gm) // 5 or 6; r/b always 5
      def expand(v: Int, width: Int): Int =
        if (width == 5) (v << 3) | (v >> 2) else (v << 2) | (v >> 4)
      // one row loop for every uncompressed depth: (row offset, x) → r+g+b
      val px: (Int, Int) => Int = bpp match {
        case 24 => (o, x) => {
          val q = o + 3 * x
          (b(q) & 0xff) + (b(q + 1) & 0xff) + (b(q + 2) & 0xff)
        }
        case 16 => (o, x) => {
          val u = i16(b, o + 2 * x)
          expand((u & rm) >> rs, 5) + expand((u & gm) >> gs, gw) +
            expand(u & 0x1f, 5)
        }
        case 8 => (o, x) => pal(b(o + x) & 0xff)
        case _ => (o, x) => { // nibbles, high first
          val v = b(o + x / 2) & 0xff
          pal(if (x % 2 == 0) v >> 4 else v & 0xf)
        }
      }
      val stride = (w.toLong * bpp + 31) / 32 * 4
      // checked before allocating: the declared rows must be in the input
      require(b.length - dataOff >= stride * h, "truncated BMP pixel data")
      val sums = new Array[Int](w * h)
      for (r <- 0 until h) {
        val o = dataOff + r * stride.toInt
        val row = (if (topDown) r else h - 1 - r) * w
        var x = 0
        while (x < w) { sums(row + x) = px(o, x); x += 1 }
      }
      Raster(w, h, sums)
    }
  }

  /** BI_RLE8 / BI_RLE4: one walker over their shared grammar — encoded
    * run, end of line, end of bitmap, delta (skipped pixels stay 0) and
    * word-aligned absolute run — whose index unit is a byte, or a nibble
    * (an encoded RLE4 run alternates the high and low nibble of its
    * byte; absolute nibbles are packed high first). */
  private def decodeBmpRle(b: Array[Byte], dataOff: Int, w: Int, h: Int,
      nibbles: Boolean, pal: Int => Int): Raster = {
    val name = if (nibbles) "RLE4" else "RLE8"
    pixelCap(w, h, s"$name BMP")
    val sums = new Array[Int](w * h)
    var p = dataOff
    var fx = 0 // file-coordinate cursor (bottom-up rows)
    var fy = 0
    def put(idx: Int): Unit = {
      require(fx < w && fy < h, s"$name cursor out of bounds ($fx,$fy)")
      sums((h - 1 - fy) * w + fx) = pal(idx)
      fx += 1
    }
    // index i of a run whose byte is v (RLE4: alternating nibbles)
    def unit(v: Int, i: Int): Int =
      if (!nibbles) v else if (i % 2 == 0) v >> 4 else v & 0xf
    var eob = false
    while (!eob) {
      require(p + 1 < b.length, s"truncated BMP $name stream")
      val n = b(p) & 0xff
      val v = b(p + 1) & 0xff
      p += 2
      if (n > 0) { // encoded mode: n pixels from v
        var i = 0
        while (i < n) { put(unit(v, i)); i += 1 }
      } else v match {
        case 0 => fx = 0; fy += 1 // end of line
        case 1 => eob = true      // end of bitmap
        case 2 =>                  // delta
          require(p + 1 < b.length, s"truncated BMP $name delta")
          fx += b(p) & 0xff
          fy += b(p + 1) & 0xff
          p += 2
        case cnt =>               // absolute mode: cnt literal indices
          val nb = if (nibbles) (cnt + 1) / 2 else cnt
          require(p + nb <= b.length, s"truncated BMP $name literals")
          var i = 0
          while (i < cnt) {
            put(if (nibbles) unit(b(p + i / 2) & 0xff, i) else b(p + i) & 0xff)
            i += 1
          }
          p += nb + (nb & 1)      // word-aligned
      }
    }
    Raster(w, h, sums)
  }

  // ---- Netpbm ----------------------------------------------------------------
  //
  // "P" + format digit, then whitespace-separated w, h and (except for
  // the P1/P4 bitmaps) maxval, with '#' comments.  P1/P2/P3 carry ASCII
  // decimal samples (bitmap / gray / RGB), P4/P5/P6 binary ones: P4 bits
  // MSB-first with each row padded to a byte, P5/P6 one byte per sample
  // at maxval 255 or a big-endian pair at 65535.

  /** The one Netpbm writer: `pixel(x, y)` gives a pixel's samples (one
    * for bitmaps — 1 = black — and gray, three for RGB), 0..255 (0/1 for
    * a bitmap).  At maxval 65535 the 8-bit value is the HIGH byte and the
    * low byte is a deliberately different ((v·131+17) mod 256) — ASCII
    * writes v·256+37 — so the decoder's high-byte projection recovers v
    * exactly and a wrong-byte read cannot pass.  ASCII rows put one
    * space between pixels and between a pixel's samples, one line per
    * row. */
  private def encodeNetpbm(w: Int, h: Int, ascii: Boolean, maxval: Int,
      gray: Boolean, pixel: (Int, Int) => Seq[Int]): Array[Byte] = {
    require(w > 0 && h > 0, "bad dims")
    val wide = maxval == 65535
    val fmt = (if (maxval == 1) 1 else if (gray) 2 else 3) + (if (ascii) 0 else 3)
    val out = new java.io.ByteArrayOutputStream
    out.write((s"P$fmt\n$w $h\n" + (if (maxval == 1) "" else s"$maxval\n"))
      .getBytes("US-ASCII"))
    if (ascii) {
      val sb = new StringBuilder
      for (y <- 0 until h) {
        for (x <- 0 until w) {
          sb.append(pixel(x, y).map(v => if (wide) v * 256 + 37 else v)
            .mkString(" "))
          if (x < w - 1) sb.append(' ')
        }
        sb.append('\n')
      }
      out.write(sb.toString.getBytes("US-ASCII"))
    } else if (maxval == 1)
      for (y <- 0 until h; x0 <- 0 until w by 8)
        out.write((x0 until math.min(w, x0 + 8)).foldLeft(0) { (acc, x) =>
          acc | (pixel(x, y).head << (7 - (x - x0)))
        })
    else
      for (y <- 0 until h; x <- 0 until w; v <- pixel(x, y)) {
        out.write(v)
        if (wide) out.write((v * 131 + 17) & 0xff)
      }
    out.toByteArray
  }

  /** The samples of `rgb`: its r channel alone when `gray`. */
  private def rgbSamples(rgb: (Int, Int) => (Int, Int, Int),
      gray: Boolean): (Int, Int) => Seq[Int] = (x, y) => {
    val (r, g, b) = rgb(x, y)
    if (gray) Seq(r) else Seq(r, g, b)
  }

  /** Binary PPM (P6): ASCII header `P6 <w> <h> 255`, then w·h RGB
    * triplets, top-down row-major. */
  def encodePpm(w: Int, h: Int, rgb: (Int, Int) => (Int, Int, Int))
      : Array[Byte] =
    encodeNetpbm(w, h, ascii = false, 255, gray = false,
      rgbSamples(rgb, gray = false))

  /** Binary PGM (P5), grayscale single-byte samples. */
  def encodePgm(w: Int, h: Int, gray: (Int, Int) => Int): Array[Byte] =
    encodeNetpbm(w, h, ascii = false, 255, gray = true,
      (x, y) => Seq(gray(x, y) & 0xff))

  /** 16-bit Netpbm (maxval 65535): binary P5/P6 or ASCII P2/P3, gray
    * content taken from the r channel. */
  def encodePnm16(w: Int, h: Int, rgb: (Int, Int) => (Int, Int, Int),
      gray: Boolean, ascii: Boolean): Array[Byte] =
    encodeNetpbm(w, h, ascii, 65535, gray, rgbSamples(rgb, gray))

  /** PBM bitmap (P4 binary / P1 ASCII): bit (x, y) true = BLACK (the
    * Netpbm polarity — decodes to gray 0; false = white = 255). */
  def encodePbm(w: Int, h: Int, bit: (Int, Int) => Boolean,
      ascii: Boolean = false): Array[Byte] =
    encodeNetpbm(w, h, ascii, 1, gray = true,
      (x, y) => Seq(if (bit(x, y)) 1 else 0))

  /** ASCII Netpbm (P2 gray / P3 RGB), decimal samples with line
    * wrapping — the human-readable interchange shape. */
  def encodePnmAscii(w: Int, h: Int, rgb: (Int, Int) => (Int, Int, Int),
      gray: Boolean): Array[Byte] =
    encodeNetpbm(w, h, ascii = true, 255, gray, rgbSamples(rgb, gray))

  private def decodeNetpbm(b: Array[Byte]): Raster = {
    // P5/P6 follow the header with ONE whitespace byte then binary
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
    if (!ascii) p += 1 // the single whitespace after the header
    // checked before allocating: every ASCII sample takes at least one
    // byte, and the binary body has an exact size
    val need =
      if (fmt == '4') (w + 7) / 8 * h.toLong
      else w.toLong * h * spp * (if (wide && !ascii) 2 else 1)
    require(need <= b.length - p, s"truncated Netpbm pixel data " +
      s"(P$fmt ${w}x$h needs $need bytes, ${math.max(0, b.length - p)} left)")
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
      // P4: bit-packed rows MSB-first, each ROW padded to a byte boundary
      val rowBytes = (w + 7) / 8
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
      def next(): Int =
        if (wide) { val v = b(p) & 0xff; p += 2; v } // BE high byte
        else { val v = b(p) & 0xff; p += 1; v }
      var i = 0
      while (i < w * h) {
        if (gray) sums(i) = 3 * next()
        else sums(i) = next() + next() + next()
        i += 1
      }
    }
    Raster(w, h, sums)
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
