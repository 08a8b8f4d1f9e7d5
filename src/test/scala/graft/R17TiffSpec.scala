package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.ops.{ImageCodec, TiffCodec}

/** TIFF 6.0 codec fixtures — the sixth lossless container: IFD walk in
  * BOTH byte orders, strip assembly at several RowsPerStrip, all three
  * compressions (none / PackBits / LZW), the early-change code-width
  * sync crossed at the 9→10-bit boundary with adversarial content, the
  * horizontal-differencing predictor, and the codec's fail-loud
  * contract on malformed shapes. */
class R17TiffSpec extends AnyFunSuite {

  private def px(x: Int, y: Int): (Int, Int, Int) = {
    val v = (x * 31 + y * 57 + 11) % 256
    (v, (v * 3) % 256, (v * 7) % 256)
  }

  private def gray(x: Int, y: Int): (Int, Int, Int) = {
    val v = (x * 13 + y * 41 + 5) % 256
    (v, v, v)
  }

  test("every (compression × byte order × strip) shape round-trips") {
    val ref = ImageCodec.decode(ImageCodec.encodeBmp(9, 7, px))
    for (comp <- Seq(1, 5, 32773); beo <- Seq(false, true);
         rps <- Seq(0, 1, 3)) {
      val r = TiffCodec.decode(TiffCodec.encode(9, 7, px,
        compression = comp, bigEndian = beo, rowsPerStrip = rps))
      assert(r.width == 9 && r.height == 7)
      assert(r.lumaSum3.toSeq == ref.lumaSum3.toSeq,
        s"comp=$comp be=$beo rps=$rps")
    }
  }

  test("gray photometric agrees with RGB for gray content") {
    val a = TiffCodec.decode(TiffCodec.encode(8, 8, gray, gray = true,
      compression = 32773))
    val b = TiffCodec.decode(TiffCodec.encode(8, 8, gray,
      compression = 5))
    assert(a.lumaSum3.toSeq == b.lumaSum3.toSeq)
  }

  test("LZW crosses the 9->10-bit early-change boundary in sync") {
    // pseudo-random bytes defeat run coalescing, forcing one table
    // entry per ~2 symbols: > 600 distinct additions crosses 510
    val n = 4096
    val src = Array.tabulate(n)(i => ((i * 2654435761L >> 13) & 0xff).toByte)
    val enc = TiffCodec.lzwEncode(src)
    val roundTrip = TiffCodec.lzwDecode(enc, n)
    assert(roundTrip.toSeq == src.toSeq, "LZW boundary drift")
    // and through the full container at image scale (52x40 RGB = 6240
    // bytes/strip, several hundred table entries)
    val ref = ImageCodec.decode(ImageCodec.encodeBmp(52, 40, px))
    val viaLzw = TiffCodec.decode(TiffCodec.encode(52, 40, px,
      compression = 5))
    assert(viaLzw.lumaSum3.toSeq == ref.lumaSum3.toSeq)
  }

  test("predictor 2 (horizontal differencing) round-trips and shrinks " +
    "smooth gradients") {
    val grad = (x: Int, y: Int) => { val v = (x * 2 + y) % 256; (v, v, v) }
    val plain = TiffCodec.encode(40, 40, grad, gray = true, compression = 5)
    val pred = TiffCodec.encode(40, 40, grad, gray = true, compression = 5,
      predictor = 2)
    assert(pred.length < plain.length,
      s"predictor should help a gradient: ${pred.length} vs ${plain.length}")
    val a = TiffCodec.decode(plain)
    val b = TiffCodec.decode(pred)
    assert(a.lumaSum3.toSeq == b.lumaSum3.toSeq)
    // RGB predictor differs per sample, not per byte-triplet
    val c = TiffCodec.decode(TiffCodec.encode(17, 9, px, compression = 5,
      predictor = 2))
    val ref = ImageCodec.decode(ImageCodec.encodeBmp(17, 9, px))
    assert(c.lumaSum3.toSeq == ref.lumaSum3.toSeq)
  }

  test("PackBits: runs, literals, and the 128-cap round-trip") {
    for (src <- Seq(
        Array.fill(300)(7.toByte),                        // one long run
        Array.tabulate(300)(i => (i % 251).toByte),       // all literals
        (Array.fill(5)(1.toByte) ++ Array.tabulate(130)(_.toByte) ++
          Array.fill(200)(9.toByte)))) {                  // mixed
      val enc = TiffCodec.packBitsEncode(src)
      val dec = TiffCodec.packBitsDecode(enc, src.length)
      assert(dec.toSeq == src.toSeq)
    }
  }

  test("RowsPerStrip larger than the image (the absent-tag default " +
    "shape) decodes; crafted huge dims fail loudly") {
    val ok = TiffCodec.encode(6, 6, px)
    val rdLe = java.nio.ByteBuffer.wrap(ok)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val ifd = rdLe.getInt(4)
    val nEnt = rdLe.getShort(ifd) & 0xffff
    def entryAt(tag: Int): Int = (0 until nEnt).map(i => ifd + 2 + 12 * i)
      .find(e => (rdLe.getShort(e) & 0xffff) == tag).get
    // spec: absent RowsPerStrip defaults to 2^32-1 = one strip; emulate
    // with a huge in-range SHORT value — must clamp, not overflow
    val bigRps = ok.clone()
    bigRps(entryAt(278) + 8) = 0xff.toByte
    bigRps(entryAt(278) + 9) = 0xff.toByte
    val r = TiffCodec.decode(bigRps)
    assert(r.lumaSum3.toSeq == TiffCodec.decode(ok).lumaSum3.toSeq)
    // crafted LONG dims that would wrap Int arithmetic fail loudly
    val hugeDims = ok.clone()
    val we = entryAt(256)
    hugeDims(we + 2) = 4 // type LONG
    val bb = java.nio.ByteBuffer.wrap(hugeDims)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.putInt(we + 8, 65536)
    val e = intercept[IllegalArgumentException] {
      TiffCodec.decode(hugeDims) }
    assert(e.getMessage.contains("dims") || e.getMessage.contains("large"))
    // PackBits strips compress each ROW separately (TIFF 6.0 §9): a
    // constant image's runs must not cross scanline boundaries — every
    // row starts a fresh packet, so the strip splits into h decodable
    // row streams
    val const = TiffCodec.encode(40, 4, (_, _) => (9, 9, 9), gray = true,
      compression = 32773)
    val rdC = java.nio.ByteBuffer.wrap(const)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val ifdC = rdC.getInt(4)
    val nC = rdC.getShort(ifdC) & 0xffff
    def cEntry(tag: Int): Int = (0 until nC).map(i => ifdC + 2 + 12 * i)
      .find(e => (rdC.getShort(e) & 0xffff) == tag).get
    val off = rdC.getShort(cEntry(273) + 8) & 0xffff
    val cnt = rdC.getShort(cEntry(279) + 8) & 0xffff
    // 4 rows of a constant 40-px row = 4 packets of (run byte, value):
    // 2 bytes/row
    assert(cnt == 8, s"expected 4 per-row packets, strip is $cnt bytes")
    for (rw <- 0 until 4)
      assert(const(off + 2 * rw) == (1 - 40).toByte,
        s"row $rw does not start a fresh run packet")
  }

  test("magic sniff routes TIFF; fail-loud shapes are named") {
    val ok = TiffCodec.encode(6, 6, px)
    assert(ImageCodec.decode(ok).width == 6)
    val okBe = TiffCodec.encode(6, 6, px, bigEndian = true)
    assert(ImageCodec.decode(okBe).width == 6)
    // bad magic number
    val badMagic = ok.clone(); badMagic(2) = 43
    assert(intercept[IllegalArgumentException] {
      TiffCodec.decode(badMagic) }.getMessage.contains("magic"))
    // truncated strip: shrink the buffer under the strip
    assert(intercept[IllegalArgumentException] {
      TiffCodec.decode(java.util.Arrays.copyOf(ok, 20)) }
      .getMessage.nonEmpty)
    // unsupported compression id fails by name
    val gr = TiffCodec.encode(4, 4, gray, gray = true)
    // find the IFD and patch tag 259's value: walk entries
    val rdLe = java.nio.ByteBuffer.wrap(gr)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val ifd = rdLe.getInt(4)
    val nEnt = rdLe.getShort(ifd) & 0xffff
    var compEntry = -1
    for (i <- 0 until nEnt)
      if ((rdLe.getShort(ifd + 2 + 12 * i) & 0xffff) == 259)
        compEntry = ifd + 2 + 12 * i
    assert(compEntry > 0)
    val badComp = gr.clone()
    badComp(compEntry + 8) = 2 // CCITT RLE: unsupported
    assert(intercept[IllegalArgumentException] {
      TiffCodec.decode(badComp) }.getMessage.contains("compression"))
    // every single-byte truncation is controlled
    for (n <- 2 until ok.length) {
      try { TiffCodec.decode(java.util.Arrays.copyOf(ok, n)); () }
      catch { case _: IllegalArgumentException => () }
    }
  }

  // ---- byte and raster pins ---------------------------------------------
  // sha256 of grayTiff's bytes per shape over JpegCorpus.PinDims × its
  // sources, and of their decodes
  private val pinShapes: Seq[(String, (Int, Int, Array[Byte]) => Array[Byte])] =
    Seq(
      "grayTiff/c1" -> (TiffCodec.grayTiff(_, _, _, 1)),
      "grayTiff/c5/p2/be" -> (TiffCodec.grayTiff(_, _, _, 5, predictor = 2,
        bigEndian = true)),
      "grayTiff/c32773/rps3" -> (TiffCodec.grayTiff(_, _, _, 32773,
        rowsPerStrip = 3)),
      "grayTiff/c5/tile16/palette" -> (TiffCodec.grayTiff(_, _, _, 5,
        tileW = 16, tileH = 16, asPalette = true)))

  private val PinnedGrayTiff: Map[String, String] = Map(
    "grayTiff/c1" ->
      "aacb5811f951f35017c76c028ccaecea2bdc9b5bb9df0d6fc1e36e398c52bdac",
    "grayTiff/c1/decode" ->
      "42f5dc83f08da6397955af0ad5a226b70f1ee9afbcf01258b139be0ea79f0957",
    "grayTiff/c5/p2/be" ->
      "abf032783267e9f1fd2496c8de7898c57ff85853dfe4c44932c36ea32915da91",
    "grayTiff/c5/p2/be/decode" ->
      "42f5dc83f08da6397955af0ad5a226b70f1ee9afbcf01258b139be0ea79f0957",
    "grayTiff/c32773/rps3" ->
      "f5d8238116f4c7162c244cc38b89235cd2e82158d5c9de3fa7ba3e17ac8f215f",
    "grayTiff/c32773/rps3/decode" ->
      "42f5dc83f08da6397955af0ad5a226b70f1ee9afbcf01258b139be0ea79f0957",
    "grayTiff/c5/tile16/palette" ->
      "5a7d895da323b132a9daab414c24a0549b112cfab0e3b6930236333e05875bcd",
    "grayTiff/c5/tile16/palette/decode" ->
      "42f5dc83f08da6397955af0ad5a226b70f1ee9afbcf01258b139be0ea79f0957")

  test("grayTiff bytes and decoded rasters are pinned") {
    val actual = pinShapes.flatMap { case (n, enc) =>
      val out = for ((w, h) <- JpegCorpus.PinDims; src <- JpegCorpus.PinSources)
        yield enc(w, h, src)
      Seq(n -> JpegCorpus.sha256(out), s"$n/decode" -> JpegCorpus.sha256(
        out.map(b => JpegCorpus.rasterBytes(ImageCodec.decode(b)))))
    }
    val drift = JpegCorpus.pinDrift(PinnedGrayTiff, actual)
    assert(drift.isEmpty, "grayTiff drift: " + drift.mkString(", "))
  }
}
