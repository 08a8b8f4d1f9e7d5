package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.ops.ImageCodec

/** GIF87a/LZW codec edge cases (bulk correctness = the DuckDB oracle
  * replay of mm_gif_*): round trips vs the BMP decode including the
  * KwKwK case and a dictionary-reset-sized image, real compression on
  * repetitive input, structural fail-loud (no CRC in GIF — the PNG tier
  * is the checksummed one), 89a-extension skipping. */
class R16GifSpec extends AnyFunSuite {

  private def gray(v: (Int, Int) => Int): (Int, Int) => (Int, Int, Int) =
    (x, y) => { val g = v(x, y); (g, g, g) }

  test("interlaced GIF de-interlaces to the sequential decode") {
    val f = (x: Int, y: Int) => (x * 37 + y * 91 + 13) % 256
    // heights hitting every pass-boundary shape: 1 (pass 1 only), 2, 5,
    // 8, 13
    for (h <- Seq(1, 2, 5, 8, 13)) {
      val seq = ImageCodec.decode(ImageCodec.encodeGif(9, h, f))
      val il = ImageCodec.decode(ImageCodec.encodeGif(9, h, f,
        interlace = true))
      assert(il.lumaSum3.toSeq == seq.lumaSum3.toSeq, s"h=$h")
    }
  }

  test("local color table overrides an adversarially inverted global") {
    val f = (x: Int, y: Int) => (x * 29 + y * 53 + 7) % 256
    val ref = ImageCodec.decode(ImageCodec.encodeGif(8, 8, f))
    // localTable=true inverts the GLOBAL table — correct decode must
    // read the local one
    val viaLocal = ImageCodec.decode(ImageCodec.encodeGif(8, 8, f,
      localTable = true))
    assert(viaLocal.lumaSum3.toSeq == ref.lumaSum3.toSeq)
    // both flags compose
    val both = ImageCodec.decode(ImageCodec.encodeGif(8, 8, f,
      interlace = true, localTable = true))
    assert(both.lumaSum3.toSeq == ref.lumaSum3.toSeq)
  }

  test("round-trips vs BMP for mixed content") {
    val f = (x: Int, y: Int) => (x * 37 + y * 91 + 13) % 256
    val a = ImageCodec.decode(ImageCodec.encodeGif(9, 7, f))
    val b = ImageCodec.decode(ImageCodec.encodeBmp(9, 7, gray(f)))
    assert(a.width === 9 && a.height === 7)
    assert(a.lumaSum3.toSeq === b.lumaSum3.toSeq)
  }

  test("KwKwK pattern (ababab...) round-trips exactly") {
    // alternating two pixels forces the code==nextCode decode branch
    val f = (x: Int, y: Int) => if ((y * 8 + x) % 2 == 0) 97 else 98
    val a = ImageCodec.decode(ImageCodec.encodeGif(8, 8, f))
    val b = ImageCodec.decode(ImageCodec.encodeBmp(8, 8, gray(f)))
    assert(a.lumaSum3.toSeq === b.lumaSum3.toSeq)
  }

  test("large repetitive image exercises width growth + dict reset") {
    // 128x128 = 16384 pixels with long runs: the dictionary passes
    // 512/1024/2048 (width 9->12) and hits the 4096 clear/reset
    val f = (x: Int, y: Int) => (x / 7 + y / 11) % 256
    val enc = ImageCodec.encodeGif(128, 128, f)
    val a = ImageCodec.decode(enc)
    val b = ImageCodec.decode(ImageCodec.encodeBmp(128, 128, gray(f)))
    assert(a.lumaSum3.toSeq === b.lumaSum3.toSeq)
    // and LZW actually compresses: payload well under 1 byte/pixel + table
    assert(enc.length < 128 * 128 / 2 + 768 + 32, s"no compression: ${enc.length}")
  }

  test("truncation and structural corruption fail loudly") {
    val ok = ImageCodec.encodeGif(8, 8, (x, y) => (x * 5 + y) % 256)
    intercept[Exception] {
      ImageCodec.decode(java.util.Arrays.copyOf(ok, ok.length - 12)) }
    val badMagic = ok.clone(); badMagic(3) = '9'.toByte; badMagic(4) = '9'.toByte
    intercept[IllegalArgumentException] { ImageCodec.decode(badMagic) }
  }

  test("89a extension blocks are skipped to the image descriptor") {
    val ok = ImageCodec.encodeGif(4, 4, (x, y) => x * 16 + y)
    // splice a GIF89a-style application extension after the color table:
    // 0x21 0xFF, one 11-byte sub-block, terminator — and relabel to 89a
    val head = 13 + 768
    val ext = Array[Byte](0x21.toByte, 0xff.toByte, 11) ++
      "NETSCAPE2.0".getBytes("US-ASCII") ++ Array[Byte](0)
    val spliced = ok.take(head) ++ ext ++ ok.drop(head)
    spliced(4) = '9'.toByte // GIF89a
    val a = ImageCodec.decode(spliced)
    assert(a.lumaSum3.toSeq === ImageCodec.decode(ok).lumaSum3.toSeq)

    // an extension TRUNCATED mid-sub-block must fail with the codec's
    // descriptive require, not a raw ArrayIndexOutOfBoundsException
    // (the sub-block walk bounds-checks every introducer byte)
    val truncated = spliced.take(head + 2)           // introducer + label only
    val exA = intercept[IllegalArgumentException] {
      ImageCodec.decode(truncated) }
    assert(exA.getMessage.contains("truncated GIF extension"))
    val midBlock = spliced.take(head + 8)            // cut inside the sub-block
    val exB = intercept[IllegalArgumentException] {
      ImageCodec.decode(midBlock) }
    assert(exB.getMessage.contains("truncated GIF extension"))
  }

  test("grayGif matches grayFromBytes pixel map") {
    val src = "pack the bins pack the bins pack".getBytes("UTF-8")
    val g = ImageCodec.decode(ImageCodec.grayGif(8, 8, src))
    val r = ImageCodec.decode(ImageCodec.grayFromBytes(8, 8, src, asPpm = true))
    assert(g.lumaSum3.toSeq === r.lumaSum3.toSeq)
  }

  // ---- byte and raster pins ---------------------------------------------
  // sha256 per public GIF encoder over JpegCorpus.PinDims × its contents,
  // and of each decoder that accepts the output: `decode` (first image),
  // `decodeGifFrames` (full-screen frames) and `decodeGifComposited`.
  private type Gray = (Int, Int) => Int

  private def grays(w: Int, h: Int): Seq[Gray] =
    JpegCorpus.pinContents(w, h).map(f => (x: Int, y: Int) => f(x, y)._1)

  /** Four partial frames over the contents, with the given disposals and
    * a transparent index (taken from the frame's first pixel, so holes
    * occur) on frames 1 and 3. */
  private def compositeFrames(w: Int, h: Int, disposals: Seq[Int])
      : Seq[ImageCodec.GifFrame] = {
    val c = grays(w, h)
    val rects = Seq((0, 0, w, h), (w / 4, h / 4, math.max(1, w / 2),
      math.max(1, h / 2)), (0, h / 2, math.max(1, w / 2), h - h / 2),
      (w / 2, 0, w - w / 2, math.max(1, h / 2)))
    rects.zip(disposals).zipWithIndex.map { case (((l, t, fw, fh), d), i) =>
      val g = c(i % c.size)
      val px: Gray = (u, v) => g(l + u, t + v)
      ImageCodec.GifFrame(l, t, fw, fh, d, px,
        if (i % 2 == 1) Some(px(0, 0)) else None)
    }
  }

  /** name → (outputs, full-screen frames only) */
  private lazy val pinEncoders: Seq[(String, Seq[Array[Byte]], Boolean)] = {
    def each(enc: (Int, Int) => Seq[Array[Byte]]) =
      JpegCorpus.PinDims.flatMap { case (w, h) => enc(w, h) }
    def single(enc: (Int, Int, Gray) => Array[Byte]) =
      each((w, h) => grays(w, h).map(enc(w, h, _)))
    Seq(
      ("encodeGif", single(ImageCodec.encodeGif(_, _, _)), true),
      ("encodeGif/interlace", single(ImageCodec.encodeGif(_, _, _,
        interlace = true)), true),
      ("encodeGif/localTable", single(ImageCodec.encodeGif(_, _, _,
        localTable = true)), true),
      ("encodeGif/interlace/localTable", single(ImageCodec.encodeGif(_, _, _,
        interlace = true, localTable = true)), true),
      ("grayGif", JpegCorpus.PinDims.flatMap { case (w, h) =>
        JpegCorpus.PinSources.map(ImageCodec.grayGif(w, h, _)) }, true),
      ("encodeGifAnimated", each((w, h) =>
        Seq(ImageCodec.encodeGifAnimated(w, h, grays(w, h)))), true),
      ("encodeGifAnimated/delay300", each((w, h) =>
        Seq(ImageCodec.encodeGifAnimated(w, h, grays(w, h).reverse, 300))),
        true),
      ("encodeGifAnimatedComposite/d1231", each((w, h) =>
        Seq(ImageCodec.encodeGifAnimatedComposite(w, h,
          compositeFrames(w, h, Seq(1, 2, 3, 1))))), false),
      ("encodeGifAnimatedComposite/d3122/bg77", each((w, h) =>
        Seq(ImageCodec.encodeGifAnimatedComposite(w, h,
          compositeFrames(w, h, Seq(3, 1, 2, 2)), delayCs = 7,
          background = 77))), false),
      ("encodeGifAnimatedComposite/d2/full", each((w, h) =>
        Seq(ImageCodec.encodeGifAnimatedComposite(w, h, grays(w, h).map(g =>
          ImageCodec.GifFrame(0, 0, w, h, 2, g, Some(g(w - 1, h - 1)))),
          background = 255))), true))
  }

  private val PinnedBytes: Map[String, String] = Map(
    "encodeGif" ->
      "fafb09b61a87456866240c38508e6d9d55a95d52d5be9fce65a0c04329c07e99",
    "encodeGif/interlace" ->
      "1c376799020c5a52e6c517db0207e9f523333ffd202efdac748fac3c8097dabf",
    "encodeGif/localTable" ->
      "c5ccde667c697d84609e6894c4254bdb5ed95063a54a323d7c7034769cf17524",
    "encodeGif/interlace/localTable" ->
      "f17bae71f7851677bf352ef738898e31d8e8130ebd7bfa28d41d0ce123579479",
    "grayGif" ->
      "62b4cf161ac1aada58ec5a621e8165cf2b0468c787da69ce917289c20444414d",
    "encodeGifAnimated" ->
      "07f4f3d3150feb9629e003982430fd840a23d19440ff019e2e9eea7ea583e7d5",
    "encodeGifAnimated/delay300" ->
      "a4a2437a42d474cf5a1b2a470de4637dd83f2b1d2a5d91bbe02230e9c507e33c",
    "encodeGifAnimatedComposite/d1231" ->
      "dace0cd873702ad05032a4c1cd93447bb7e2a108d3a990895dbd509da37070d5",
    "encodeGifAnimatedComposite/d3122/bg77" ->
      "4351307d8f9b5413489ca814195834644078d03adfae21257667d91b67eff6ac",
    "encodeGifAnimatedComposite/d2/full" ->
      "0686a414d306e0ba69427a1838c55550d6eea15e32123429ee5a619a6c0c641b")

  private val PinnedRasters: Map[String, String] = Map(
    "encodeGif/decode" ->
      "340bc5ca47ef3473af2a2d03928ece07b90074a63b9c95293ddab43c0feeeb9c",
    "encodeGif/composited" ->
      "340bc5ca47ef3473af2a2d03928ece07b90074a63b9c95293ddab43c0feeeb9c",
    "encodeGif/frames" ->
      "340bc5ca47ef3473af2a2d03928ece07b90074a63b9c95293ddab43c0feeeb9c",
    "encodeGif/interlace/decode" ->
      "340bc5ca47ef3473af2a2d03928ece07b90074a63b9c95293ddab43c0feeeb9c",
    "encodeGif/interlace/composited" ->
      "340bc5ca47ef3473af2a2d03928ece07b90074a63b9c95293ddab43c0feeeb9c",
    "encodeGif/interlace/frames" ->
      "340bc5ca47ef3473af2a2d03928ece07b90074a63b9c95293ddab43c0feeeb9c",
    "encodeGif/localTable/decode" ->
      "340bc5ca47ef3473af2a2d03928ece07b90074a63b9c95293ddab43c0feeeb9c",
    "encodeGif/localTable/composited" ->
      "340bc5ca47ef3473af2a2d03928ece07b90074a63b9c95293ddab43c0feeeb9c",
    "encodeGif/localTable/frames" ->
      "340bc5ca47ef3473af2a2d03928ece07b90074a63b9c95293ddab43c0feeeb9c",
    "encodeGif/interlace/localTable/decode" ->
      "340bc5ca47ef3473af2a2d03928ece07b90074a63b9c95293ddab43c0feeeb9c",
    "encodeGif/interlace/localTable/composited" ->
      "340bc5ca47ef3473af2a2d03928ece07b90074a63b9c95293ddab43c0feeeb9c",
    "encodeGif/interlace/localTable/frames" ->
      "340bc5ca47ef3473af2a2d03928ece07b90074a63b9c95293ddab43c0feeeb9c",
    "grayGif/decode" ->
      "42f5dc83f08da6397955af0ad5a226b70f1ee9afbcf01258b139be0ea79f0957",
    "grayGif/composited" ->
      "42f5dc83f08da6397955af0ad5a226b70f1ee9afbcf01258b139be0ea79f0957",
    "grayGif/frames" ->
      "42f5dc83f08da6397955af0ad5a226b70f1ee9afbcf01258b139be0ea79f0957",
    "encodeGifAnimated/decode" ->
      "7bae5b661f192ec64000510e4d5c12fb56d9d939b1bf23baaa8cdfdf49ecdfa8",
    "encodeGifAnimated/composited" ->
      "340bc5ca47ef3473af2a2d03928ece07b90074a63b9c95293ddab43c0feeeb9c",
    "encodeGifAnimated/frames" ->
      "340bc5ca47ef3473af2a2d03928ece07b90074a63b9c95293ddab43c0feeeb9c",
    "encodeGifAnimated/delay300/decode" ->
      "4833ff5bc1b43a9bdca7bc8c7e37349625471aa171b3dbe51c28b9303c5700ae",
    "encodeGifAnimated/delay300/composited" ->
      "2a22c405983921ac9d4dbf1b2cf1c51f52d7660fdf833131f1c1edd41873abda",
    "encodeGifAnimated/delay300/frames" ->
      "2a22c405983921ac9d4dbf1b2cf1c51f52d7660fdf833131f1c1edd41873abda",
    "encodeGifAnimatedComposite/d1231/decode" ->
      "7bae5b661f192ec64000510e4d5c12fb56d9d939b1bf23baaa8cdfdf49ecdfa8",
    "encodeGifAnimatedComposite/d1231/composited" ->
      "4f37eb2e39e8409fc74f9dfa7fd18e28e8a767303444accb5d691ad9b0235c46",
    "encodeGifAnimatedComposite/d3122/bg77/decode" ->
      "7bae5b661f192ec64000510e4d5c12fb56d9d939b1bf23baaa8cdfdf49ecdfa8",
    "encodeGifAnimatedComposite/d3122/bg77/composited" ->
      "cb65752c2dd8a466a4d3a3099b22cc8edc8057168e89b3dc1f52f4ffa25651a4",
    "encodeGifAnimatedComposite/d2/full/decode" ->
      "7bae5b661f192ec64000510e4d5c12fb56d9d939b1bf23baaa8cdfdf49ecdfa8",
    "encodeGifAnimatedComposite/d2/full/composited" ->
      "3363d65ecc0952ad967e0b8d686d82fb5c3614581dfbffe69f3972cd94ff70dd",
    "encodeGifAnimatedComposite/d2/full/frames" ->
      "340bc5ca47ef3473af2a2d03928ece07b90074a63b9c95293ddab43c0feeeb9c")

  test("every public GIF encoder's bytes are pinned over the corpus") {
    val drift = JpegCorpus.pinDrift(PinnedBytes,
      pinEncoders.map { case (n, out, _) => n -> JpegCorpus.sha256(out) })
    assert(drift.isEmpty, "encoder byte drift: " + drift.mkString(", "))
  }

  test("decode, decodeGifFrames and decodeGifComposited rasters are pinned") {
    def frames(out: Seq[Array[Byte]],
        dec: Array[Byte] => Seq[ImageCodec.Raster]): String =
      JpegCorpus.sha256(out.flatMap(dec).map(JpegCorpus.rasterBytes))
    val drift = JpegCorpus.pinDrift(PinnedRasters, pinEncoders.flatMap {
      case (n, out, full) =>
        Seq(s"$n/decode" -> frames(out, b => Seq(ImageCodec.decode(b))),
          s"$n/composited" -> frames(out, ImageCodec.decodeGifComposited)) ++
        (if (full) Seq(s"$n/frames" -> frames(out, ImageCodec.decodeGifFrames))
         else Nil)
    })
    assert(drift.isEmpty, "raster drift: " + drift.mkString(", "))
  }
}
