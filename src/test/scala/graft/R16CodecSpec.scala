package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.ops.{ImageCodec, JpegCodec, MultimodalOps, TiffCodec}

/** Hand-fixture checks for the real BMP/PPM codec (the corpus-level check
  * is the mm_real_* oracle trio, whose features the DuckDB side recomputes
  * from the source text, never the bytes): BGR order, bottom-up rows, row
  * padding, PPM comments, fail-loud unsupported shapes, non-divisible
  * pooling grids, and the kernel-swap seam. */
class R16CodecSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("BMP: bottom-up BGR rows with padding decode to top-down sums") {
    // 2×2 distinct RGB corners: (x,y)=(0,0) red, (1,0) green,
    // (0,1) blue, (1,1) white
    val img = ImageCodec.encodeBmp(2, 2, {
      case (0, 0) => (255, 0, 0)
      case (1, 0) => (0, 255, 0)
      case (0, 1) => (0, 0, 255)
      case _      => (255, 255, 255)
    })
    // container invariants: magic, 54-byte header + 2 padded 8-byte rows
    assert(img(0) == 'B'.toByte && img(1) == 'M'.toByte)
    assert(img.length == 54 + 8 * 2)
    // bottom-up storage: first stored row is y=1 (blue, white), BGR order
    assert((img(54) & 0xff, img(55) & 0xff, img(56) & 0xff) == ((255, 0, 0)))
    // row padding bytes are zero
    assert(img(60) == 0 && img(61) == 0)
    val r = ImageCodec.decode(img)
    assert(r.width == 2 && r.height == 2)
    assert(r.lumaSum3.toSeq == Seq(255, 255, 255, 765))
  }

  test("BMP r17 shapes: 8-bit palette, top-down, RLE8 round-trip") {
    val g = (x: Int, y: Int) => (x * 29 + y * 53 + 7) % 256
    val ref = ImageCodec.decode(
      ImageCodec.encodeBmp(9, 7, (x, y) => (g(x, y), g(x, y), g(x, y))))
    // 8-bit palette, bottom-up
    val p8 = ImageCodec.decode(ImageCodec.encodeBmp8(9, 7, g))
    assert(p8.lumaSum3.toSeq == ref.lumaSum3.toSeq)
    // top-down (negative height) — both 8-bit and crafted content agree
    val td = ImageCodec.decode(ImageCodec.encodeBmp8(9, 7, g,
      topDown = true))
    assert(td.lumaSum3.toSeq == ref.lumaSum3.toSeq)
    // RLE8 on runny content compresses and round-trips
    val runny = (x: Int, y: Int) => if (x < 20) 7 else (x + y) % 256
    val refR = ImageCodec.decode(ImageCodec.encodeBmp(40, 12,
      (x, y) => (runny(x, y), runny(x, y), runny(x, y))))
    val rleBytes = ImageCodec.encodeBmp8(40, 12, runny, rle = true)
    val plainBytes = ImageCodec.encodeBmp8(40, 12, runny)
    assert(rleBytes.length < plainBytes.length, "RLE8 should compress runs")
    assert(ImageCodec.decode(rleBytes).lumaSum3.toSeq ==
      refR.lumaSum3.toSeq)
    // mixed content (forces absolute mode + encoded singles)
    val noisy = (x: Int, y: Int) => (x * 37 + y * 91 + 13) % 251
    val refN = ImageCodec.decode(ImageCodec.encodeBmp(13, 5,
      (x, y) => (noisy(x, y), noisy(x, y), noisy(x, y))))
    assert(ImageCodec.decode(ImageCodec.encodeBmp8(13, 5, noisy,
      rle = true)).lumaSum3.toSeq == refN.lumaSum3.toSeq)
    // top-down RLE8 is invalid by spec — encoder and decoder both refuse
    intercept[IllegalArgumentException] {
      ImageCodec.encodeBmp8(4, 4, g, topDown = true, rle = true) }
  }

  test("Netpbm r17 variants: P5/P2/P3 agree with P6 for gray content") {
    val g = (x: Int, y: Int) => (x * 29 + y * 53 + 7) % 256
    val f = (x: Int, y: Int) => (g(x, y), g(x, y), g(x, y))
    val ref = ImageCodec.decode(ImageCodec.encodePpm(9, 7, f))
    val p5 = ImageCodec.decode(ImageCodec.encodePgm(9, 7, g))
    assert(p5.lumaSum3.toSeq == ref.lumaSum3.toSeq, "P5")
    val p2 = ImageCodec.decode(ImageCodec.encodePnmAscii(9, 7, f,
      gray = true))
    assert(p2.lumaSum3.toSeq == ref.lumaSum3.toSeq, "P2")
    val p3 = ImageCodec.decode(ImageCodec.encodePnmAscii(9, 7, f,
      gray = false))
    assert(p3.lumaSum3.toSeq == ref.lumaSum3.toSeq, "P3")
    // P4 (bitmap) is supported since r18 — an all-zero-bit image is all
    // white (the Netpbm polarity); P7 stays rejected by name
    val p4 = ImageCodec.decode("P4\n8 8\n".getBytes("US-ASCII") ++
      new Array[Byte](8))
    assert(p4.lumaSum3.forall(_ == 765))
    val e = intercept[IllegalArgumentException] {
      ImageCodec.decode("P7\n8 8\n255\n".getBytes("US-ASCII") ++
        new Array[Byte](64)) }
    assert(e.getMessage.contains("P7") || e.getMessage.contains("magic"))
    // ASCII sample above maxval fails loudly
    intercept[IllegalArgumentException] {
      ImageCodec.decode("P2\n1 1\n255\n300\n".getBytes("US-ASCII")) }
  }

  test("PPM: header with comments parses; triplets decode top-down") {
    val base = ImageCodec.encodePpm(2, 1, {
      case (0, _) => (10, 20, 30)
      case _      => (1, 2, 3)
    })
    val r = ImageCodec.decode(base)
    assert(r.width == 2 && r.height == 1 && r.lumaSum3.toSeq == Seq(60, 6))
    // a '#' comment between header tokens must be skipped
    val withComment = ("P6\n# a comment\n2 1\n# more\n255\n"
      .getBytes("US-ASCII") ++ base.drop(base.length - 6))
    val r2 = ImageCodec.decode(withComment)
    assert(r2.lumaSum3.toSeq == Seq(60, 6))
  }

  test("unsupported shapes fail loudly, never misread") {
    val ok = ImageCodec.encodeBmp(2, 2, (_, _) => (1, 1, 1))
    intercept[IllegalArgumentException] {
      ImageCodec.decode("GIF89a".getBytes("US-ASCII")) }
    intercept[IllegalArgumentException] {       // truncated pixel data
      ImageCodec.decode(ok.dropRight(4)) }
    // an 8-bit claim on a paletteless 24-bit file: the (supported since
    // r17) palette path still fails loudly on the missing table
    val bpp8 = ok.clone(); bpp8(28) = 8
    intercept[IllegalArgumentException] { ImageCodec.decode(bpp8) }
    // RLE8 is 8-bit-only: claiming it on 24-bit data fails by name
    val rle = ok.clone(); rle(30) = 1           // BI_RLE8
    assert(intercept[IllegalArgumentException] {
      ImageCodec.decode(rle) }.getMessage.contains("compression"))
    // 2-bit bpp stays rejected (16/4-bit became supported in r18)
    val bpp2 = ok.clone(); bpp2(28) = 2
    intercept[IllegalArgumentException] { ImageCodec.decode(bpp2) }
    intercept[IllegalArgumentException] {       // non-255/65535 maxval
      ImageCodec.decode(("P6\n1 1\n1023\n" + "\u0000" * 6)
        .getBytes("ISO-8859-1")) }
    // headers declaring 46340×46340 pixels (one Int sum each is 8.6 GB,
    // more than any test heap) fail before anything is allocated
    val big = 46340
    for (hdr <- Seq(s"P6\n$big $big\n255\n", s"P3\n$big $big\n255\n1 2 3\n",
        s"P1\n$big $big\n0 1\n", s"P4\n$big $big\n\u0000"))
      intercept[IllegalArgumentException] {
        ImageCodec.decode(hdr.getBytes("US-ASCII")) }
    def dims(b: Array[Byte], off: Int): Array[Byte] = {
      java.nio.ByteBuffer.wrap(b).order(java.nio.ByteOrder.LITTLE_ENDIAN)
        .putInt(off, big).putInt(off + 4, big)
      b
    }
    val bmp = dims(ok.take(54), 18)                 // 24-bit, header only
    val rle8 = dims(ImageCodec.encodeBmp8(2, 2, (_, _) => 1, rle = true), 18)
    val gif = ImageCodec.encodeGif(1, 1, (_, _) => 1)
    for (off <- Seq(6, 8, 13 + 768 + 5, 13 + 768 + 7)) { // screen, image
      gif(off) = big.toByte; gif(off + 1) = (big >> 8).toByte
    }
    val png = ImageCodec.encodePng(1, 1, (_, _) => (1, 1, 1), colorType = 0)
    val crc = new java.util.zip.CRC32
    java.nio.ByteBuffer.wrap(png).putInt(16, big).putInt(20, big)
    crc.update(png, 12, 17)                          // IHDR type + data
    java.nio.ByteBuffer.wrap(png).putInt(29, crc.getValue.toInt)
    for (b <- Seq(bmp, rle8, gif, png))
      intercept[IllegalArgumentException] { ImageCodec.decode(b) }
    intercept[IllegalArgumentException] { ImageCodec.decodeGifFrames(gif) }
    intercept[IllegalArgumentException] { ImageCodec.decodeGifComposited(gif) }
    // an 8×8 gray JPEG whose SOF0 and an 8×8 gray TIFF whose
    // ImageWidth/ImageLength declare 46340×46340: both size their buffers
    // from the dims, so the cap must fire before either allocates
    val jpeg = JpegCodec.encode(8, 8, (x, y) => x * 16 + y, 90)
    val sof = (0 until jpeg.length - 1).find(i =>
      (jpeg(i) & 0xff) == 0xff && (jpeg(i + 1) & 0xff) == 0xc0).get
    java.nio.ByteBuffer.wrap(jpeg).putShort(sof + 5, big.toShort)
      .putShort(sof + 7, big.toShort)
    val tiff = TiffCodec.encode(8, 8, (x, y) => (x, y, 0), gray = true)
    val le = java.nio.ByteBuffer.wrap(tiff).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val ifd = le.getInt(4)
    for (i <- 0 until (le.getShort(ifd) & 0xffff)) {
      val e = ifd + 2 + 12 * i
      val tag = le.getShort(e) & 0xffff
      if (tag == 256 || tag == 257) le.putShort(e + 8, big.toShort)
    }
    for (b <- Seq(jpeg, tiff))
      assert(intercept[IllegalArgumentException] { ImageCodec.decode(b) }
        .getMessage.contains("decode cap"))
  }

  test("kernel: block means exact on divisible AND non-divisible grids") {
    // 4×2 gray ramp 0,10,20,30 / 40,50,60,70 — 2×1 grid: halves
    val img = ImageCodec.encodeBmp(4, 2, (x, y) => {
      val v = (y * 4 + x) * 10; (v, v, v)
    })
    val k = ImageCodec.kernel(2, 1)
    val f = k(7L, img)
    assert(f.doc_id == 7L && f.width == 4 && f.height == 2)
    // left cell mean(0,10,40,50)=25, right mean(20,30,60,70)=45
    assert(f.features.toSeq == Seq(25.0, 45.0))
    // 3-wide grid over 4 columns: floor boundaries 0,1,2,4 — cells of
    // width 1,1,2: means {0,40}=20, {10,50}=30, {20,30,60,70}=45
    val f3 = ImageCodec.kernel(3, 1)(7L, img)
    assert(f3.features.toSeq == Seq(20.0, 30.0, 45.0))
    // grid wider than the image: floor(k·1/2)=0,0 ⇒ first cell empty
    val img1 = ImageCodec.encodePpm(1, 1, (_, _) => (9, 9, 9))
    val f2 = ImageCodec.kernel(2, 1)(1L, img1)
    assert(f2.features.toSeq == Seq(0.0, 9.0))
  }

  test("seam: the real kernel drives the SAME downstream as the stub") {
    import spark.implicits._
    val rows = Seq(
      (0L, "aaaaaaaabbbbbbbb"), (1L, "aaaaaaaabbbbbbbb"),  // identical
      (2L, "zzzzzzzzzzzzzzzz")).toDF("doc_id", "text")
    val toImg = org.apache.spark.sql.functions.udf(
      (id: Long, t: String) =>
        ImageCodec.grayFromBytes(4, 4, t.getBytes("UTF-8"), id % 2 == 1))
    val d = rows.withColumn("payload",
      toImg($"doc_id", $"text"))
    val dec = MultimodalOps.decodeWith(d, $"payload", $"doc_id",
      ImageCodec.kernel(2, 2)).toDF()
    // identical pixels through DIFFERENT containers (BMP vs PPM) give
    // identical features — the container never leaks into the seam
    val byId = dec.collect().map(r =>
      r.getLong(0) -> r.getSeq[Double](4)).toMap
    assert(byId(0L) == byId(1L))
    assert(byId(0L) != byId(2L))
    // and the downstream near-dup stage pairs exactly the identical two
    val pairs = MultimodalOps.aHashPairs(dec, $"doc_id")
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 1L)) && !pairs.contains((0L, 2L)) &&
      !pairs.contains((1L, 2L)))
  }

  test("asciiBytes: one byte per CODEPOINT, non-printables become '?'") {
    // 'é' (2 UTF-8 bytes), tab, and a supplementary char (4 UTF-8 bytes,
    // 2 UTF-16 units) each collapse to ONE '?' — matching SQL's
    // substr/length codepoint indexing, never the byte or UTF-16 count
    val s = "aéb\tc" + new String(Character.toChars(0x1F600)) + "d"
    val out = MultimodalOps.asciiBytes(s)
    assert(new String(out, "US-ASCII") === "a?b?c?d")
    assert(out.length === s.codePointCount(0, s.length))
  }

  test("wavFromBytes: source byte that would wrap 16-bit PCM fails loud") {
    val ok = graft.ops.AudioCodec.wavFromBytes(16000, 8,
      Array.fill(8)(203.toByte)) // (203-76)*256 = 32512 — the max
    assert(ok.nonEmpty)
    val e = intercept[IllegalArgumentException] {
      graft.ops.AudioCodec.wavFromBytes(16000, 8,
        Array.fill(8)(204.toByte)) // would be 32768 > Short.MaxValue
    }
    assert(e.getMessage.contains("overflows"))
  }

  // ---- byte and raster pins ---------------------------------------------
  // sha256 per public BMP/Netpbm encoder and text-to-pixel fixture over
  // JpegCorpus.PinDims × its contents (or sources), and over the decode
  // of each output: a literal may change only with an intended change of
  // the container bytes or of the decoder.
  private type Rgb = (Int, Int) => (Int, Int, Int)

  private lazy val pinEncoders: Seq[(String, Seq[Array[Byte]])] = {
    def rgb(enc: (Int, Int, Rgb) => Array[Byte]): Seq[Array[Byte]] =
      for ((w, h) <- JpegCorpus.PinDims; f <- JpegCorpus.pinContents(w, h))
        yield enc(w, h, f)
    def gray(enc: (Int, Int, (Int, Int) => Int) => Array[Byte]) =
      rgb((w, h, f) => enc(w, h, (x, y) => f(x, y)._1))
    def text(enc: (Int, Int, Array[Byte]) => Array[Byte]) =
      for ((w, h) <- JpegCorpus.PinDims; src <- JpegCorpus.PinSources)
        yield enc(w, h, src)
    Seq(
      "encodeBmp" -> rgb(ImageCodec.encodeBmp),
      "encodeBmp8" -> gray(ImageCodec.encodeBmp8(_, _, _)),
      "encodeBmp8/topDown" -> gray(ImageCodec.encodeBmp8(_, _, _, topDown = true)),
      "encodeBmp8/rle" -> gray(ImageCodec.encodeBmp8(_, _, _, rle = true)),
      "encodeBmp16" -> rgb(ImageCodec.encodeBmp16(_, _, _)),
      "encodeBmp16/use565" -> rgb(ImageCodec.encodeBmp16(_, _, _, use565 = true)),
      "encodeBmp4" -> gray((w, h, g) =>
        ImageCodec.encodeBmp4(w, h, (x, y) => g(x, y) >> 4)),
      "encodeBmp4/rle" -> gray((w, h, g) =>
        ImageCodec.encodeBmp4(w, h, (x, y) => g(x, y) >> 4, rle = true)),
      "encodePpm" -> rgb(ImageCodec.encodePpm),
      "encodePgm" -> gray(ImageCodec.encodePgm),
      "encodePnmAscii/gray" -> rgb(ImageCodec.encodePnmAscii(_, _, _, gray = true)),
      "encodePnmAscii/rgb" -> rgb(ImageCodec.encodePnmAscii(_, _, _, gray = false)),
      "encodePnm16/P5" -> rgb(ImageCodec.encodePnm16(_, _, _, gray = true, ascii = false)),
      "encodePnm16/P6" -> rgb(ImageCodec.encodePnm16(_, _, _, gray = false, ascii = false)),
      "encodePnm16/P2" -> rgb(ImageCodec.encodePnm16(_, _, _, gray = true, ascii = true)),
      "encodePnm16/P3" -> rgb(ImageCodec.encodePnm16(_, _, _, gray = false, ascii = true)),
      "encodePbm" -> gray((w, h, g) => ImageCodec.encodePbm(w, h, g(_, _) >= 128)),
      "encodePbm/ascii" -> gray((w, h, g) =>
        ImageCodec.encodePbm(w, h, g(_, _) >= 128, ascii = true)),
      "grayFromBytes/ppm" -> text(ImageCodec.grayFromBytes(_, _, _, asPpm = true)),
      "grayFromBytes/bmp" -> text(ImageCodec.grayFromBytes(_, _, _, asPpm = false)),
      "grayPng/ct2/f3" -> text(ImageCodec.grayPng(_, _, _, 2, 3)),
      "grayPng/ct3/f1" -> text(ImageCodec.grayPng(_, _, _, 3, 1)),
      "grayPng/ct0/f4/interlace" -> text(
        ImageCodec.grayPng(_, _, _, 0, 4, interlace = true)),
      "grayPng/ct2/f2/depth16/interlace" -> text(
        ImageCodec.grayPng(_, _, _, 2, 2, interlace = true, depth = 16)),
      "grayJpeg" -> text(JpegCodec.grayJpeg(_, _, _))) ++
    (0 to 4).map(f => s"grayPng/ct0/f$f" -> text(ImageCodec.grayPng(_, _, _, 0, f)))
  }

  private val PinnedBytes: Map[String, String] = Map(
    "encodeBmp" ->
      "7f90de07a63c17113cb788c237531e4ba1d9651e29e2146e694a0884d946d102",
    "encodeBmp8" ->
      "90433bf22e821be79ac2808a9bcf686c32a34bed5f204df99a04a5abd8bdda51",
    "encodeBmp8/topDown" ->
      "ec9f2bcb91a257cf76a422e926b08be5359d1ba1a7a81e04285d1255bdd3d180",
    "encodeBmp8/rle" ->
      "538cfec8f475c8fbdf4f977cda745fa5ec9c73bb2820f8845f77ba129fbf0f64",
    "encodeBmp16" ->
      "dfee90b5673fb33b34648ad879e1ed8fdea40829e7127cd26600fd85848d9374",
    "encodeBmp16/use565" ->
      "8be3296f6855f5ba338ba4db51035ff4541d46a65cfba442ea6ca1e80fc76b5c",
    "encodeBmp4" ->
      "97bb49aaac7f69440b9f792df860d93ceffbd4a9ee7b7241c7c4b51e3f959b10",
    "encodeBmp4/rle" ->
      "838dd12e5672d2cca7c3fdbed872e548efec371a67109844767fee0996ef9805",
    "encodePpm" ->
      "b1d753d11d8c662268fcf04bd35561abdda2dae53e523d73e6ce22f6d6773f23",
    "encodePgm" ->
      "bbd580da7bb334bbf705da245aa96dda83dd0d1897665ba1a1c34d5c6bea691e",
    "encodePnmAscii/gray" ->
      "5b771c59314efd7f3780aaa1b50dd3d3bdbf1af45f0355da0a39900f4c44f707",
    "encodePnmAscii/rgb" ->
      "94b0b5ba008ccbf605524fdab7b80653f461b51e1074dc7c5cadf050f70a37be",
    "encodePnm16/P5" ->
      "95db06af8b8129ed9e032853a2a1aa9ffb82057ad7da4e58c58564ea22ae0803",
    "encodePnm16/P6" ->
      "6074372e7f1d85776053383d22b6f2a8d6315620942f0f3d58320b1f7902bc72",
    "encodePnm16/P2" ->
      "0dd732d9fab5bab1a16707256a82d2b006c9214d8195f5076b25441df6d16d7e",
    "encodePnm16/P3" ->
      "51c23bb432637ee5e9635271db993b8981b0e6314cb9d1122a5612d0e4f96a9b",
    "encodePbm" ->
      "546d694b5282f1f6a5583173e17dbb688293127fbfea6778680459fa9a0ede25",
    "encodePbm/ascii" ->
      "e22e42edc8f82a612f73891468f59e57fef16d2dcfbf4b34092b89d2c1650b81",
    "grayFromBytes/ppm" ->
      "6d747ef9608094a12a85419a9b7dde31a79cb70046ff7dfc58580665b115cbdb",
    "grayFromBytes/bmp" ->
      "2bf4ec6f76f915c532c8b53770efc05b462f659f81eb4479ac78129b386ec17b",
    "grayPng/ct2/f3" ->
      "31510215644ef1b7cf4b50b4eb35239c25cf8d5a0f3724754b0a68b7e280d087",
    "grayPng/ct3/f1" ->
      "2fea56da5214cd7ab3547d7f16f5c85dc85d5c662d7587d6e095f5a601fd93b9",
    "grayPng/ct0/f4/interlace" ->
      "c2df92bd32107511efaeb1263c98ae9157177aff32fc382b0e55f3a07318467e",
    "grayPng/ct2/f2/depth16/interlace" ->
      "bb0d554fc3963358bf7cf6915bd1c19795510859de2dce4e6771f17490670d57",
    "grayJpeg" ->
      "e7db75c5115857b22606d12a5d36fc01dc4a62c2e0dbdc52cffbed7877a03bfe",
    "grayPng/ct0/f0" ->
      "13497500a2b275957eb0d42621b202710c0b27dff810a2841d5518d54eb842aa",
    "grayPng/ct0/f1" ->
      "5da8775b9ab65a838862f76e285b43ecf034e3258683e4bab2771514ed940cd9",
    "grayPng/ct0/f2" ->
      "a1267d4de93ad43e24a54b4031e5d5d270b77ced9b5459f742165b89cb7ce877",
    "grayPng/ct0/f3" ->
      "3b3016bcb2ee0f0d804904345228e7b4f80b3d818acb6b6511d33dcf0e7b81ba",
    "grayPng/ct0/f4" ->
      "5eeb84c5f53e9d71b3057605d3848f7a350ddf229965a23221b05dd4240e0030")

  private val PinnedRasters: Map[String, String] = Map(
    "encodeBmp" ->
      "e8ca73357d6943b7b37f5b992ca33f8572ca5b98e1da8d5bdd522fca6c07bf18",
    "encodeBmp8" ->
      "340bc5ca47ef3473af2a2d03928ece07b90074a63b9c95293ddab43c0feeeb9c",
    "encodeBmp8/topDown" ->
      "340bc5ca47ef3473af2a2d03928ece07b90074a63b9c95293ddab43c0feeeb9c",
    "encodeBmp8/rle" ->
      "340bc5ca47ef3473af2a2d03928ece07b90074a63b9c95293ddab43c0feeeb9c",
    "encodeBmp16" ->
      "a56415891358e6439fed780999c20b3305cc4c6a98cdd6d47a95c112974f403d",
    "encodeBmp16/use565" ->
      "a1b01ae475ab6eaae1a468cfb3d4025026ca39567727ec7a2efbdfafd491061e",
    "encodeBmp4" ->
      "7f86f75875b0a3dd321463abb5b3645eb8525f5d24737db24659f385a9902ec0",
    "encodeBmp4/rle" ->
      "7f86f75875b0a3dd321463abb5b3645eb8525f5d24737db24659f385a9902ec0",
    "encodePpm" ->
      "e8ca73357d6943b7b37f5b992ca33f8572ca5b98e1da8d5bdd522fca6c07bf18",
    "encodePgm" ->
      "340bc5ca47ef3473af2a2d03928ece07b90074a63b9c95293ddab43c0feeeb9c",
    "encodePnmAscii/gray" ->
      "340bc5ca47ef3473af2a2d03928ece07b90074a63b9c95293ddab43c0feeeb9c",
    "encodePnmAscii/rgb" ->
      "e8ca73357d6943b7b37f5b992ca33f8572ca5b98e1da8d5bdd522fca6c07bf18",
    "encodePnm16/P5" ->
      "340bc5ca47ef3473af2a2d03928ece07b90074a63b9c95293ddab43c0feeeb9c",
    "encodePnm16/P6" ->
      "e8ca73357d6943b7b37f5b992ca33f8572ca5b98e1da8d5bdd522fca6c07bf18",
    "encodePnm16/P2" ->
      "340bc5ca47ef3473af2a2d03928ece07b90074a63b9c95293ddab43c0feeeb9c",
    "encodePnm16/P3" ->
      "e8ca73357d6943b7b37f5b992ca33f8572ca5b98e1da8d5bdd522fca6c07bf18",
    "encodePbm" ->
      "c34b51a8bb5ea9903d4024172cee623f9def0fa884668a79e8be758a358ece9c",
    "encodePbm/ascii" ->
      "c34b51a8bb5ea9903d4024172cee623f9def0fa884668a79e8be758a358ece9c",
    "grayFromBytes/ppm" ->
      "42f5dc83f08da6397955af0ad5a226b70f1ee9afbcf01258b139be0ea79f0957",
    "grayFromBytes/bmp" ->
      "42f5dc83f08da6397955af0ad5a226b70f1ee9afbcf01258b139be0ea79f0957",
    "grayPng/ct2/f3" ->
      "42f5dc83f08da6397955af0ad5a226b70f1ee9afbcf01258b139be0ea79f0957",
    "grayPng/ct3/f1" ->
      "42f5dc83f08da6397955af0ad5a226b70f1ee9afbcf01258b139be0ea79f0957",
    "grayPng/ct0/f4/interlace" ->
      "42f5dc83f08da6397955af0ad5a226b70f1ee9afbcf01258b139be0ea79f0957",
    "grayPng/ct2/f2/depth16/interlace" ->
      "42f5dc83f08da6397955af0ad5a226b70f1ee9afbcf01258b139be0ea79f0957",
    "grayJpeg" ->
      "0fee64884410662653d18c7f44c87bbe34ef61ec4da09edb35bf99ba43bf1b01",
    "grayPng/ct0/f0" ->
      "42f5dc83f08da6397955af0ad5a226b70f1ee9afbcf01258b139be0ea79f0957",
    "grayPng/ct0/f1" ->
      "42f5dc83f08da6397955af0ad5a226b70f1ee9afbcf01258b139be0ea79f0957",
    "grayPng/ct0/f2" ->
      "42f5dc83f08da6397955af0ad5a226b70f1ee9afbcf01258b139be0ea79f0957",
    "grayPng/ct0/f3" ->
      "42f5dc83f08da6397955af0ad5a226b70f1ee9afbcf01258b139be0ea79f0957",
    "grayPng/ct0/f4" ->
      "42f5dc83f08da6397955af0ad5a226b70f1ee9afbcf01258b139be0ea79f0957")

  test("every public BMP/Netpbm encoder and gray fixture's bytes are pinned") {
    val drift = JpegCorpus.pinDrift(PinnedBytes,
      pinEncoders.map { case (n, out) => n -> JpegCorpus.sha256(out) })
    assert(drift.isEmpty, "encoder byte drift: " + drift.mkString(", "))
  }

  test("decoded BMP/Netpbm/gray-fixture rasters are pinned") {
    val drift = JpegCorpus.pinDrift(PinnedRasters, pinEncoders.map {
      case (n, out) => n -> JpegCorpus.sha256(out.map(b =>
        JpegCorpus.rasterBytes(ImageCodec.decode(b))))
    })
    assert(drift.isEmpty, "raster drift: " + drift.mkString(", "))
  }
}
