package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.ops.{ImageCodec, JpegCodec, MultimodalOps}
import JpegCorpus.{rasterBytes, sha256}

/** Baseline-JPEG codec fixtures — the R16PngSpec shape for the first
  * LOSSY tier: round-trip TOLERANCE (not hash-exactness: post-DCT the
  * encoder's quantization moves pixels), DC-only exactness, structural
  * fail-loud shapes, and corruption TOTALITY.  JPEG has no CRC, so the
  * PNG "every byte flip throws" property cannot hold — a flipped entropy
  * bit is legal data that decodes to different pixels; the JPEG totality
  * contract is weaker and stated exactly: every single-byte flip either
  * decodes to a well-formed raster or throws the codec's
  * IllegalArgumentException, never an uncontrolled error. */
class R17JpegSpec extends AnyFunSuite {

  private def roundTrip(w: Int, h: Int, f: (Int, Int) => Int,
      q: Int): (ImageCodec.Raster, Int) = {
    val r = JpegCodec.decode(JpegCodec.encode(w, h, f, q))
    assert(r.width == w && r.height == h)
    var m = 0
    for (y <- 0 until h; x <- 0 until w) {
      val d = math.abs(r.lumaSum3(y * w + x) / 3 - f(x, y))
      if (d > m) m = d
    }
    (r, m)
  }

  test("zigzag order matches the published T.81 scan sequence") {
    val std = Array(0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
      12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28, 35, 42,
      49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51, 58, 59, 52, 45,
      38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63)
    assert(JpegCodec.ZigZag.toSeq == std.toSeq)
  }

  test("uniform images round-trip exactly (DC-only blocks)") {
    // exactness needs the DC quant step ≤ 8: the DC coefficient is
    // 8·(v−128), so dequantized error ≤ step/2 → ≤ step/16 < 0.5 px.
    // q90's step is 3, q75's is 8; q50's is 16 and can be off by 1.
    for (v <- Seq(0, 7, 128, 200, 255); q <- Seq(75, 90, 95)) {
      val (_, err) = roundTrip(8, 8, (_, _) => v, q)
      assert(err == 0, s"uniform $v at q$q: err $err")
    }
    for (v <- Seq(0, 7, 200)) {
      val (_, err) = roundTrip(8, 8, (_, _) => v, 50)
      assert(err <= 1, s"uniform $v at q50: err $err")
    }
  }

  test("round-trip error stays within the quality bound, incl. edge blocks") {
    val fixtures: Seq[(Int, Int, (Int, Int) => Int)] = Seq(
      (8, 8, (x, y) => (x * 32 + y * 4) % 256),
      (8, 8, (x, y) => if ((x + y) % 2 == 0) 0 else 255), // worst high-freq
      (16, 12, (x, y) => ((x * 37 + y * 91 + 13) * 31) % 256), // non-multiple-of-8
      (24, 8, (x, y) => (x * x + y * 17) % 256),
      (8, 8, (x, y) => {
        val s = MultimodalOps.asciiBytes(
          "The quick brown fox jumps over the lazy dog 0123456789")
        s((y * 8 + x) % s.length) & 0xff
      }))
    for ((w, h, f) <- fixtures; q <- Seq(75, 90, 95)) {
      val bound = JpegCodec.pixelErrorBound(q)
      val (_, err) = roundTrip(w, h, f, q)
      assert(err <= bound, s"${w}x$h at q$q: err $err > bound $bound")
      // and the corpus gauge constant holds at its quality
      if (q == 90) assert(err <= 32, s"${w}x$h at q90: err $err > gauge 32")
    }
  }

  test("identical inputs give identical bytes — the hamming-0 invariant") {
    val src = MultimodalOps.asciiBytes("same text same raster")
    val a = JpegCodec.grayJpeg(8, 8, src)
    val b = JpegCodec.grayJpeg(8, 8, src)
    assert(java.util.Arrays.equals(a, b))
  }

  test("byte stuffing round-trips (a sweep that emits 0xFF scan bytes)") {
    // 50 deterministic pseudo-random images: with ~1/256 odds per scan
    // byte, the sweep exercises the FF→FF00 stuff/unstuff path many
    // times; a stuffing bug would corrupt the bit stream and blow the
    // error bound (or throw)
    var sawStuffed = false
    for (i <- 1 to 50) {
      val f = (x: Int, y: Int) =>
        (((x * 2654435761L + y * 40503L + i * 97L) >>> 7) % 256).toInt
      val enc = JpegCodec.encode(16, 16, f, 90)
      // any FF00 after SOS is a stuffed data byte (FF00 never occurs in
      // the marker segments our encoder writes)
      if (enc.sliding(2).exists(p => (p(0) & 0xff) == 0xff && p(1) == 0))
        sawStuffed = true
      val bound = JpegCodec.pixelErrorBound(90)
      val r = JpegCodec.decode(enc)
      for (y <- 0 until 16; x <- 0 until 16)
        assert(math.abs(r.lumaSum3(y * 16 + x) / 3 - f(x, y)) <= bound)
    }
    assert(sawStuffed, "sweep never emitted a stuffed FF — not exercised")
  }

  test("structural corruption fails loudly with descriptive errors") {
    val ok = JpegCodec.encode(8, 8, (x, y) => (x * 5 + y * 11) % 256, 90)
    // truncation at EVERY prefix length: loud, never uncontrolled
    for (n <- 2 until ok.length) {
      val ex = intercept[IllegalArgumentException] {
        JpegCodec.decode(java.util.Arrays.copyOf(ok, n))
      }
      assert(ex.getMessage != null)
    }
    // bad signature
    intercept[IllegalArgumentException] {
      JpegCodec.decode(Array[Byte](0, 1, 2, 3)) }
    // a baseline stream relabeled SOF2 routes to the progressive
    // walker, whose scan-header validation rejects the sequential
    // full-spectral SOS (progressive DC and AC cannot share a scan)
    val prog = ok.clone()
    val sofAt = (0 until prog.length - 1).find(i =>
      (prog(i) & 0xff) == 0xff && (prog(i + 1) & 0xff) == 0xc0).get
    prog(sofAt + 1) = 0xc2.toByte
    val ex2 = intercept[IllegalArgumentException] { JpegCodec.decode(prog) }
    assert(ex2.getMessage.contains("DC scan must have Se = 0"))
    // arithmetic coding rejected by name
    val arith = ok.clone(); arith(sofAt + 1) = 0xc9.toByte
    val ex3 = intercept[IllegalArgumentException] { JpegCodec.decode(arith) }
    assert(ex3.getMessage.contains("unsupported"))
    // a crafted segment length < 2 must fail loudly, not loop forever
    // (len < 2 would stop the marker-walk cursor from advancing)
    val dqtAt = (0 until ok.length - 1).find(i =>
      (ok(i) & 0xff) == 0xff && (ok(i + 1) & 0xff) == 0xdb).get
    val shortLen = ok.clone()
    shortLen(dqtAt + 2) = 0; shortLen(dqtAt + 3) = 1
    val ex4 = intercept[IllegalArgumentException] {
      JpegCodec.decode(shortLen) }
    assert(ex4.getMessage.contains("DQT"))
  }

  test("corruption totality: every single-byte flip is controlled") {
    val ok = JpegCodec.encode(8, 8, (x, y) => (x * 29 + y * 53) % 256, 90)
    for (i <- ok.indices) {
      val bad = ok.clone()
      bad(i) = (bad(i) ^ 0x55).toByte
      try {
        val r = JpegCodec.decode(bad)
        // decoded without error: must still be a well-formed raster
        assert(r.width > 0 && r.height > 0 &&
          r.lumaSum3.length == r.width * r.height)
      } catch {
        case _: IllegalArgumentException => () // the codec's loud path
        case e: Throwable =>
          fail(s"flip at $i escaped the codec's error contract: $e")
      }
    }
  }

  test("ImageCodec.decode dispatches FFD8 to the JPEG decoder") {
    val src = MultimodalOps.asciiBytes("dispatch me")
    val viaDispatch = ImageCodec.decode(JpegCodec.grayJpeg(8, 8, src))
    val direct = JpegCodec.decode(JpegCodec.grayJpeg(8, 8, src))
    assert(viaDispatch.lumaSum3.toSeq == direct.lumaSum3.toSeq)
  }

  test("restart intervals round-trip; out-of-sequence markers fail") {
    // 32×24 = 12 MCUs, interval 3 → 4 restart segments, markers D0..D2
    val f = (x: Int, y: Int) => (x * 13 + y * 41) % 256
    val enc = JpegCodec.encode(32, 24, f, 90, restartInterval = 3)
    assert(enc.sliding(2).exists(p =>
      (p(0) & 0xff) == 0xff && (p(1) & 0xff) >= 0xd0 && (p(1) & 0xff) <= 0xd7),
      "encoder emitted no RST markers")
    val r = JpegCodec.decode(enc)
    val bound = JpegCodec.pixelErrorBound(90)
    for (y <- 0 until 24; x <- 0 until 32)
      assert(math.abs(r.lumaSum3(y * 32 + x) / 3 - f(x, y)) <= bound)
    // and the restart stream must equal the no-restart stream pixelwise
    // (restart only resets predictors/alignment, never pixel content)
    val plain = JpegCodec.decode(JpegCodec.encode(32, 24, f, 90))
    assert(r.lumaSum3.toSeq == plain.lumaSum3.toSeq)
    // corrupt the FIRST RST marker's index → out-of-sequence, loud
    val rstAt = (0 until enc.length - 1).find(i =>
      (enc(i) & 0xff) == 0xff && (enc(i + 1) & 0xff) == 0xd0).get
    val bad = enc.clone(); bad(rstAt + 1) = 0xd5.toByte
    val ex = intercept[IllegalArgumentException] { JpegCodec.decode(bad) }
    assert(ex.getMessage.contains("restart marker out of sequence"))
    // RST markers with DRI absent → loud
    val noDri = JpegCodec.encode(8, 8, f, 90) // 1 MCU, no DRI
    val driAt = (0 until enc.length - 1).find(i =>
      (enc(i) & 0xff) == 0xff && (enc(i + 1) & 0xff) == 0xdd).get
    val stripped = enc.take(driAt) ++ enc.drop(driAt + 6) // remove DRI seg
    val ex2 = intercept[IllegalArgumentException] {
      JpegCodec.decode(stripped) }
    assert(ex2.getMessage.contains("DRI said none"))
    assert(noDri.length > 0)
  }

  test("color JPEG round-trips within tolerance and converts YCbCr") {
    val f = (x: Int, y: Int) =>
      ((x * 37 + y * 11) % 256, (x * 5 + y * 73) % 256, (x * 91 + y) % 256)
    val enc = JpegCodec.encodeColor(16, 16, f, 90)
    val r = JpegCodec.decode(enc)
    assert(r.width == 16 && r.height == 16)
    // chroma error compounds through quantization (coarser table) and
    // the BT.601 inverse; gauge the r+g+b SUM per pixel
    for (y <- 0 until 16; x <- 0 until 16) {
      val (er, eg, eb) = f(x, y)
      val d = math.abs(r.lumaSum3(y * 16 + x) - (er + eg + eb))
      assert(d <= 96, s"color err $d at ($x,$y)") // empirical q90 gauge ×3 ch
    }
    // gray content through the color path ≈ the gray path (YCbCr of
    // (v,v,v) is (v,128,128) — chroma blocks are DC-only uniform)
    val g = (x: Int, y: Int) => (x * 16 + y * 8) % 256
    val viaColor = JpegCodec.decode(
      JpegCodec.encodeColor(8, 8, (x, y) => (g(x, y), g(x, y), g(x, y)), 90))
    val viaGray = JpegCodec.decode(JpegCodec.encode(8, 8, g, 90))
    for (i <- 0 until 64)
      assert(math.abs(viaColor.lumaSum3(i) - viaGray.lumaSum3(i)) <= 6,
        s"gray-content color drifted at $i")
  }

  test("color + restart intervals compose; uniform color is DC-exact") {
    val f = (x: Int, y: Int) => ((x * 7 + y * 3) % 256, 90, 200)
    val withRst = JpegCodec.decode(
      JpegCodec.encodeColor(24, 16, f, 90, restartInterval = 2))
    val plain = JpegCodec.decode(JpegCodec.encodeColor(24, 16, f, 90))
    assert(withRst.lumaSum3.toSeq == plain.lumaSum3.toSeq)
    // uniform color: every block DC-only in all three components — the
    // YCbCr forward/inverse round trip is the only error source (±1/ch)
    val u = JpegCodec.decode(
      JpegCodec.encodeColor(8, 8, (_, _) => (200, 30, 90), 95))
    for (i <- 0 until 64)
      assert(math.abs(u.lumaSum3(i) - (200 + 30 + 90)) <= 3,
        s"uniform color err at $i: ${u.lumaSum3(i)}")
  }

  test("progressive decode equals sequential decode bit-exactly") {
    // entropy coding is lossless over the same quantized coefficients,
    // so EVERY band split and quality must reproduce the sequential
    // pixels exactly — including odd dims (edge-replicated blocks)
    val fs: Seq[(Int, Int) => Int] = Seq(
      (x, y) => (x * 32 + y * 4) % 256,
      (x, y) => if ((x + y) % 2 == 0) 0 else 255,
      (x, y) => {
        val s = MultimodalOps.asciiBytes("progressive fox 0123456789")
        s((y * 16 + x) % s.length) & 0xff
      })
    for (f <- fs; q <- Seq(50, 90, 95);
         bands <- Seq(Seq((1, 63)), Seq((1, 5), (6, 63)),
           Seq((1, 2), (3, 8), (9, 30), (31, 63)))) {
      val seqR = JpegCodec.decode(JpegCodec.encode(16, 16, f, q))
      val progR = JpegCodec.decode(
        JpegCodec.encodeProgressive(16, 16, f, q, bands))
      assert(seqR.lumaSum3.toSeq == progR.lumaSum3.toSeq,
        s"q$q bands=$bands diverged")
    }
    val odd = JpegCodec.decode(
      JpegCodec.encodeProgressive(13, 11, fs.head, 90))
    val oddSeq = JpegCodec.decode(JpegCodec.encode(13, 11, fs.head, 90))
    assert(odd.lumaSum3.toSeq == oddSeq.lumaSum3.toSeq)
  }

  test("EOBRUN spans many blocks (the r>0 path) and still matches") {
    // 64×64 uniform = 64 blocks, every AC band all-zero: the whole AC
    // scan collapses to one EOBn with r = 6 — the multi-block run path
    val u = (_: Int, _: Int) => 77
    val prog = JpegCodec.encodeProgressive(64, 64, u, 90)
    val seqEnc = JpegCodec.encode(64, 64, u, 90)
    assert(JpegCodec.decode(prog).lumaSum3.toSeq ==
      JpegCodec.decode(seqEnc).lumaSum3.toSeq)
    // and a sparse image: one bright pixel per block row → runs broken
    // by coefficient blocks, EOBRUN restarts between them
    val sparse = (x: Int, y: Int) => if (x % 16 == 3 && y % 16 == 5) 250 else 40
    assert(JpegCodec.decode(JpegCodec.encodeProgressive(64, 64, sparse, 90))
      .lumaSum3.toSeq ==
      JpegCodec.decode(JpegCodec.encode(64, 64, sparse, 90)).lumaSum3.toSeq)
  }

  test("successive approximation reconstructs sequential bit-exactly") {
    // SA delivers each coefficient's bits over multiple scans (DC: raw
    // bit planes; AC: newly-significant (run,1)+sign symbols with
    // buffered correction bits and EOB runs carrying skipped blocks'
    // corrections).  Decoding ALL scans must equal the sequential
    // decode exactly — every Al depth, band split, and the adversarial
    // shapes (checker = max AC energy, sparse = long EOB runs with
    // mid-run corrections)
    val fs: Seq[(Int, Int) => Int] = Seq(
      (x, y) => (x * 32 + y * 4) % 256,
      (x, y) => if ((x + y) % 2 == 0) 0 else 255,
      (x, y) => if (x % 16 == 3 && y % 16 == 5) 250 else 40)
    for (f <- fs; q <- Seq(50, 90); al <- Seq(1, 2, 3);
         bands <- Seq(Seq((1, 63)), Seq((1, 5), (6, 63)))) {
      val seqR = JpegCodec.decode(JpegCodec.encode(32, 32, f, q))
      val saR = JpegCodec.decode(
        JpegCodec.encodeProgressiveSA(32, 32, f, q, bands, al))
      assert(seqR.lumaSum3.toSeq == saR.lumaSum3.toSeq,
        s"q$q al=$al bands=$bands diverged")
    }
    // odd dims through SA
    val odd = JpegCodec.decode(
      JpegCodec.encodeProgressiveSA(13, 11, fs.head, 90, al = 2))
    val oddSeq = JpegCodec.decode(JpegCodec.encode(13, 11, fs.head, 90))
    assert(odd.lumaSum3.toSeq == oddSeq.lumaSum3.toSeq)
    // SA truncation stays controlled at every prefix
    val sa = JpegCodec.encodeProgressiveSA(8, 8,
      (x, y) => (x * 9 + y * 31) % 256, 90, al = 2)
    for (n <- 2 until sa.length) {
      intercept[IllegalArgumentException] {
        JpegCodec.decode(java.util.Arrays.copyOf(sa, n)) }
    }
    // non-contiguous approximation (Ah != Al + 1) is rejected by name
    val sosAts = (0 until sa.length - 1).filter(i =>
      (sa(i) & 0xff) == 0xff && (sa(i + 1) & 0xff) == 0xda)
    val bad = sa.clone(); bad(sosAts.last + 9) = 0x30.toByte // Ah=3,Al=0
    val ex = intercept[IllegalArgumentException] { JpegCodec.decode(bad) }
    assert(ex.getMessage.contains("non-contiguous"))
  }

  test("progressive fail-loud shapes: refinement scans, color, DRI, truncation") {
    val prog = JpegCodec.encodeProgressive(8, 8,
      (x, y) => (x * 9 + y * 31) % 256, 90)
    // every truncation prefix is controlled
    for (n <- 2 until prog.length) {
      intercept[IllegalArgumentException] {
        JpegCodec.decode(java.util.Arrays.copyOf(prog, n)) }
    }
    // a NON-CONTIGUOUS approximation header (Ah ≠ Al + 1) is rejected
    // by name: flip the LAST SOS header's Ah/Al byte (header is 8
    // bytes: FF DA len(2) ns(1) comp(2) Ss Se AhAl)
    val sosAts = (0 until prog.length - 1).filter(i =>
      (prog(i) & 0xff) == 0xff && (prog(i + 1) & 0xff) == 0xda)
    val lastSos = sosAts.last
    val refine = prog.clone(); refine(lastSos + 9) = 0x31.toByte // Ah=3,Al=1
    val ex = intercept[IllegalArgumentException] { JpegCodec.decode(refine) }
    assert(ex.getMessage.contains("non-contiguous"))
    // SOF2 claiming 3 components over a 1-component stream: the header
    // itself is now too short for its claim — still controlled
    val sofAt = (0 until prog.length - 1).find(i =>
      (prog(i) & 0xff) == 0xff && (prog(i + 1) & 0xff) == 0xc2).get
    val color = prog.clone(); color(sofAt + 9) = 3
    val ex2 = intercept[IllegalArgumentException] { JpegCodec.decode(color) }
    assert(ex2.getMessage.contains("SOF2"))
    // DRI ≠ 0 in progressive is rejected by name
    val dri = Array(0xff, 0xdd, 0x00, 0x04, 0x00, 0x02).map(_.toByte)
    val withDri = prog.take(sofAt) ++ dri ++ prog.drop(sofAt)
    val ex3 = intercept[IllegalArgumentException] {
      JpegCodec.decode(withDri) }
    assert(ex3.getMessage.contains("progressive"))
  }

  test("progressive COLOR decode equals sequential color bit-exactly") {
    val f = (x: Int, y: Int) =>
      ((x * 37 + y * 11) % 256, (x * 5 + y * 73) % 256, (x * 91 + y) % 256)
    for ((w, h) <- Seq((8, 8), (16, 16), (13, 11))) {
      val seq = JpegCodec.decode(JpegCodec.encodeColor(w, h, f, 90))
      val prog = JpegCodec.decode(JpegCodec.encodeProgressiveColor(w, h, f,
        90))
      assert(prog.width == w && prog.height == h)
      assert(prog.lumaSum3.toSeq == seq.lumaSum3.toSeq,
        s"progressive color drifted at ${w}x$h")
      // multiple AC bands deliver the same coefficients
      val banded = JpegCodec.decode(JpegCodec.encodeProgressiveColor(w, h,
        f, 90, bands = Seq((1, 2), (3, 20), (21, 63))))
      assert(banded.lumaSum3.toSeq == seq.lumaSum3.toSeq)
    }
    // fixture wrapper matches the sequential color fixture
    val src = "progressive color fixture".getBytes("US-ASCII")
    val viaProg = JpegCodec.decode(JpegCodec.progColorJpeg(8, 8, src))
    val viaSeq = JpegCodec.decode(JpegCodec.colorJpeg(8, 8, src))
    assert(viaProg.lumaSum3.toSeq == viaSeq.lumaSum3.toSeq)
  }

  test("progressive color fail-loud: subsampling, interleaved AC scans") {
    val f = (x: Int, y: Int) => (x * 30 % 256, y * 30 % 256, 128)
    val prog = JpegCodec.encodeProgressiveColor(8, 8, f, 90)
    // flip Y's sampling to 3×3 (not a supported geometry — 2×2 became
    // the progressive-4:2:0 FEATURE in r20): rejected by name
    val sofAt = (0 until prog.length - 1).find(i =>
      (prog(i) & 0xff) == 0xff && (prog(i + 1) & 0xff) == 0xc2).get
    val sub = prog.clone(); sub(sofAt + 11) = 0x33.toByte
    val ex = intercept[IllegalArgumentException] { JpegCodec.decode(sub) }
    assert(ex.getMessage.contains("unsupported progressive chroma"))
    // rewrite an AC scan header to claim 3 components: spec G.1.1
    // forbids interleaved AC scans — rejected by name.  The second SOS
    // is the first AC scan (header: FF DA len ns (cs tt)… Ss Se AhAl);
    // claiming ns=3 shifts Ss into the table bytes, so craft a full
    // 3-component header in place by splicing
    val sosAts = (0 until prog.length - 1).filter(i =>
      (prog(i) & 0xff) == 0xff && (prog(i + 1) & 0xff) == 0xda)
    val acSos = sosAts(1)
    val acLen = ((prog(acSos + 2) & 0xff) << 8) | (prog(acSos + 3) & 0xff)
    val ss = prog(acSos + 7) & 0xff
    val se = prog(acSos + 8) & 0xff
    val spliced = prog.take(acSos) ++
      Array(0xff, 0xda, 0x00, 12, 3, 1, 0x00, 2, 0x00, 3, 0x00, ss, se,
        0).map(_.toByte) ++ prog.drop(acSos + 2 + acLen)
    val ex2 = intercept[IllegalArgumentException] {
      JpegCodec.decode(spliced) }
    assert(ex2.getMessage.contains("single-component"))
    // truncation totality holds for the color container too
    for (n <- 2 until prog.length by 7) {
      intercept[IllegalArgumentException] {
        JpegCodec.decode(java.util.Arrays.copyOf(prog, n)) }
    }
  }

  test("unsupported subsampling geometries are rejected by name") {
    // craft: set Y's sampling to 3×1 / 1×2 / 4×2 — geometries the
    // decoder does not implement must be rejected, not silently
    // misparsed
    val enc = JpegCodec.encodeColor(8, 8,
      (x, y) => (x * 30 % 256, y * 30 % 256, 128), 90)
    val sofAt = (0 until enc.length - 1).find(i =>
      (enc(i) & 0xff) == 0xff && (enc(i + 1) & 0xff) == 0xc0).get
    // byte layout from the marker: FF C0 len(2) prec(1) h(2) w(2)
    // ncomp(1), then per comp (id, sampling, tq) — Y's sampling byte is
    // marker+11
    for (hv <- Seq(0x31, 0x12, 0x42)) {
      val bad = enc.clone(); bad(sofAt + 11) = hv.toByte
      val ex = intercept[IllegalArgumentException] { JpegCodec.decode(bad) }
      assert(ex.getMessage.contains("subsampling"), f"0x$hv%02x")
    }
  }

  test("4:2:2 and 4:1:1 round-trip: the broadcast and NTSC-DV shapes") {
    val f = (x: Int, y: Int) =>
      ((x * 37 + y * 11) % 256, (x * 5 + y * 73) % 256, (x * 91 + y) % 256)
    // horizontal-only downsampling: payload sizes order 444 > 422 > 411
    // on chroma-detailed content — at w ≥ 32 so the 4:1:1 MCU (32 px
    // wide) carries no padded luma blocks that would mask the saving
    val enc444 = JpegCodec.encodeColor(32, 16, f, 90)
    val enc422 = JpegCodec.encodeColor422(32, 16, f, 90)
    val enc411 = JpegCodec.encodeColor411(32, 16, f, 90)
    assert(enc422.length < enc444.length && enc411.length < enc422.length)
    for (enc <- Seq(enc422, enc411)) {
      val r = JpegCodec.decode(enc)
      assert(r.width == 32 && r.height == 16)
    }
    // gray content: uniform chroma survives any horizontal decimation,
    // so both geometries track the pure-gray path within rounding
    val g = (x: Int, y: Int) => (x * 16 + y * 8) % 256
    val viaGray = JpegCodec.decode(JpegCodec.encode(16, 16, g, 90))
    for (mk <- Seq(JpegCodec.encodeColor422 _, JpegCodec.encodeColor411 _)) {
      val via = JpegCodec.decode(
        mk(16, 16, (x, y) => (g(x, y), g(x, y), g(x, y)), 90, 0))
      for (i <- 0 until 256)
        assert(math.abs(via.lumaSum3(i) - viaGray.lumaSum3(i)) <= 6,
          s"gray-content drift at $i")
    }
    // uniform color: constant chroma planes downsample losslessly —
    // DC-only, so only the YCbCr round trip contributes (±1/channel)
    for (mk <- Seq(JpegCodec.encodeColor422 _, JpegCodec.encodeColor411 _)) {
      val u = JpegCodec.decode(mk(8, 8, (_, _) => (200, 30, 90), 95, 0))
      for (i <- 0 until 64)
        assert(math.abs(u.lumaSum3(i) - 320) <= 3, s"uniform err at $i")
    }
    // odd dims (partial MCUs: 4:1:1 MCU is 32 px wide) + restart compose
    val odd = JpegCodec.decode(JpegCodec.encodeColor411(13, 11, f, 90))
    assert(odd.width == 13 && odd.height == 11)
    val withRst = JpegCodec.decode(
      JpegCodec.encodeColor422(48, 16, f, 90, restartInterval = 2))
    val plain = JpegCodec.decode(JpegCodec.encodeColor422(48, 16, f, 90))
    assert(withRst.lumaSum3.toSeq == plain.lumaSum3.toSeq)
  }

  test("4:2:0 round-trips: luma crisp, chroma smeared but bounded") {
    val f = (x: Int, y: Int) =>
      ((x * 37 + y * 11) % 256, (x * 5 + y * 73) % 256, (x * 91 + y) % 256)
    val enc420 = JpegCodec.encodeColor420(16, 16, f, 90)
    val enc444 = JpegCodec.encodeColor(16, 16, f, 90)
    assert(enc420.length < enc444.length,
      "4:2:0 must be smaller than 4:4:4 on chroma-detailed content")
    val r = JpegCodec.decode(enc420)
    assert(r.width == 16 && r.height == 16)
    // gray-content 4:2:0 ≈ gray path exactly as 4:4:4 does (uniform
    // chroma planes survive downsampling unchanged)
    val g = (x: Int, y: Int) => (x * 16 + y * 8) % 256
    val via420 = JpegCodec.decode(JpegCodec.encodeColor420(16, 16,
      (x, y) => (g(x, y), g(x, y), g(x, y)), 90))
    val viaGray = JpegCodec.decode(JpegCodec.encode(16, 16, g, 90))
    for (i <- 0 until 256)
      assert(math.abs(via420.lumaSum3(i) - viaGray.lumaSum3(i)) <= 6,
        s"gray-content 4:2:0 drifted at $i")
    // uniform color: DC-only everywhere — downsampling a constant is
    // lossless, so the YCbCr round trip is the only error (±1/channel)
    val u = JpegCodec.decode(
      JpegCodec.encodeColor420(8, 8, (_, _) => (200, 30, 90), 95))
    for (i <- 0 until 64)
      assert(math.abs(u.lumaSum3(i) - 320) <= 3, s"uniform 420 err at $i")
    // odd dims exercise the padded-MCU + edge-replication path
    val odd = JpegCodec.decode(JpegCodec.encodeColor420(13, 11, f, 90))
    assert(odd.width == 13 && odd.height == 11)
    // restart intervals compose with 4:2:0 MCUs identically
    val withRst = JpegCodec.decode(
      JpegCodec.encodeColor420(48, 16, f, 90, restartInterval = 2))
    val plain = JpegCodec.decode(JpegCodec.encodeColor420(48, 16, f, 90))
    assert(withRst.lumaSum3.toSeq == plain.lumaSum3.toSeq)
  }

  // ---- byte and raster pins ---------------------------------------------
  // sha256 per public encoder (and per decode of its output) over every
  // (dims, quality) of the pin corpus — length-prefixed concatenation, so
  // a single changed byte or pixel anywhere changes the digest, so a
  // literal may change only with an intended change of the container
  // bytes or of the decoder's arithmetic.
  private val PinDims = Seq((8, 8), (13, 11), (17, 9), (32, 24), (96, 96))
  private val PinQualities = Seq(50, 85, 90)
  private val pinGray = (x: Int, y: Int) => (x * 37 + y * 91 + x * y * 13) % 256
  private val pinRgb = (x: Int, y: Int) =>
    ((x * 37 + y * 11) % 256, (x * 5 + y * 73 + x * y) % 256, (x * 91 + y * 3) % 256)
  private val pinText = MultimodalOps.asciiBytes(
    "pin every JPEG container byte: the quick brown fox 0123456789")
  private val pinBands = Seq((1, 2), (3, 9), (10, 63))

  /** name → encoder at (w, h, quality) */
  private val pinEncoders: Seq[(String, (Int, Int, Int) => Array[Byte])] = Seq(
    "encode" -> ((w, h, q) => JpegCodec.encode(w, h, pinGray, q)),
    "encode/rst3" -> ((w, h, q) => JpegCodec.encode(w, h, pinGray, q, 3)),
    "encodeColor" -> ((w, h, q) => JpegCodec.encodeColor(w, h, pinRgb, q)),
    "encodeColor/rst3" -> ((w, h, q) =>
      JpegCodec.encodeColor(w, h, pinRgb, q, 3)),
    "encodeColor420" -> ((w, h, q) => JpegCodec.encodeColor420(w, h, pinRgb, q)),
    "encodeColor420/rst3" -> ((w, h, q) =>
      JpegCodec.encodeColor420(w, h, pinRgb, q, 3)),
    "encodeColor422" -> ((w, h, q) => JpegCodec.encodeColor422(w, h, pinRgb, q)),
    "encodeColor422/rst3" -> ((w, h, q) =>
      JpegCodec.encodeColor422(w, h, pinRgb, q, 3)),
    "encodeColor411" -> ((w, h, q) => JpegCodec.encodeColor411(w, h, pinRgb, q)),
    "encodeColor411/rst3" -> ((w, h, q) =>
      JpegCodec.encodeColor411(w, h, pinRgb, q, 3)),
    "encodeProgressive" -> ((w, h, q) =>
      JpegCodec.encodeProgressive(w, h, pinGray, q)),
    "encodeProgressive/bands" -> ((w, h, q) =>
      JpegCodec.encodeProgressive(w, h, pinGray, q, pinBands)),
    "encodeProgressiveSA/al1" -> ((w, h, q) =>
      JpegCodec.encodeProgressiveSA(w, h, pinGray, q, al = 1)),
    "encodeProgressiveSA/al2" -> ((w, h, q) =>
      JpegCodec.encodeProgressiveSA(w, h, pinGray, q, pinBands, al = 2)),
    "encodeProgressiveColor" -> ((w, h, q) =>
      JpegCodec.encodeProgressiveColor(w, h, pinRgb, q)),
    "encodeProgressiveColorSub/2x2" -> ((w, h, q) =>
      JpegCodec.encodeProgressiveColorSub(w, h, pinRgb, 2, 2, q)),
    "encodeProgressiveColorSub/2x1" -> ((w, h, q) =>
      JpegCodec.encodeProgressiveColorSub(w, h, pinRgb, 2, 1, q, pinBands)),
    "encodeProgressiveColorSub/4x1" -> ((w, h, q) =>
      JpegCodec.encodeProgressiveColorSub(w, h, pinRgb, 4, 1, q)),
    "encodeProgressiveColor420" -> ((w, h, q) =>
      JpegCodec.encodeProgressiveColor420(w, h, pinRgb, q)),
    "grayJpeg" -> ((w, h, q) => JpegCodec.grayJpeg(w, h, pinText, q)),
    "colorJpeg" -> ((w, h, q) => JpegCodec.colorJpeg(w, h, pinText, q)),
    "color420Jpeg" -> ((w, h, q) => JpegCodec.color420Jpeg(w, h, pinText, q)),
    "color422Jpeg" -> ((w, h, q) => JpegCodec.color422Jpeg(w, h, pinText, q)),
    "color411Jpeg" -> ((w, h, q) => JpegCodec.color411Jpeg(w, h, pinText, q)),
    "progJpeg" -> ((w, h, q) => JpegCodec.progJpeg(w, h, pinText, q)),
    "progColorJpeg" -> ((w, h, q) => JpegCodec.progColorJpeg(w, h, pinText, q)),
    "prog420Jpeg" -> ((w, h, q) => JpegCodec.prog420Jpeg(w, h, pinText, q)),
    "stripDht/encode" -> ((w, h, q) =>
      JpegCodec.stripDht(JpegCodec.encode(w, h, pinGray, q))),
    "stripDht/encodeColor" -> ((w, h, q) =>
      JpegCodec.stripDht(JpegCodec.encodeColor(w, h, pinRgb, q))),
    "stripDht/encodeColor420" -> ((w, h, q) =>
      JpegCodec.stripDht(JpegCodec.encodeColor420(w, h, pinRgb, q))))

  private def pinOutputs(enc: (Int, Int, Int) => Array[Byte]): Seq[Array[Byte]] =
    for ((w, h) <- PinDims; q <- PinQualities) yield enc(w, h, q)

  private def checkPins(kind: String, expected: Map[String, String],
      actual: Seq[(String, String)]): Unit = {
    assert(actual.map(_._1).toSet == expected.keySet)
    val drift = actual.filter { case (n, d) => expected(n) != d }
    assert(drift.isEmpty, s"$kind drift: " +
      drift.map { case (n, d) => s"$n -> $d" }.mkString(", "))
  }

  private val PinnedBytes: Map[String, String] = Map(
    "encode" ->
      "3166c7e3edddd304987c5ddfdd53c62ea6e1a2c7d01b2a6c7c0f713d1027994c",
    "encode/rst3" ->
      "28baad5d756726ca386c80759eb7fff5f78e7eccdf14b4702629a54940677bec",
    "encodeColor" ->
      "ad727642a52577fac08f7e95719eabb591baa20df789d3cf665ccfeb02362e35",
    "encodeColor/rst3" ->
      "49d3d4741e27717327f834002bbd03b91870630e20deef29c39cdebc2f58e0be",
    "encodeColor420" ->
      "fbb4d7c49d979e1ac53b3154a1737bd7fd228720fba3a209ca94f84943979b9d",
    "encodeColor420/rst3" ->
      "55f82913508156da46c86645847481379d58ece705339e4524b385e154cc4f4e",
    "encodeColor422" ->
      "903d15b376256904bac1db79dd1969e7a729ef2f414bcc39616503a235f0e8a7",
    "encodeColor422/rst3" ->
      "b13717b2f6c8a8fd93707f1a60a3623a2744cf64f99a76d5c22f9aca259bebcd",
    "encodeColor411" ->
      "457c2852c012cac7e24507243f7e3fd9caec7f77ad8b349ea543d6c2668fb564",
    "encodeColor411/rst3" ->
      "a4063e17ceffe88b424aff4fc87dde7c45ec6ab9bc39952697ff1018ab1ab3cc",
    "encodeProgressive" ->
      "5842f9556badbdc00ad91cd00d1456cafa3856cd09ab4f7833411ef7a72bbd0d",
    "encodeProgressive/bands" ->
      "21c3c40be0095aa8362d12c551ee291f6c405451892e5ad04ef947e86424a451",
    "encodeProgressiveSA/al1" ->
      "5479666c157ad2154458e9f5638a41dd82d3c6aa903b477c7058835244a8058d",
    "encodeProgressiveSA/al2" ->
      "97256e8b422ac2012a0846bad5ff32901eaef03390ad5a0e7594d7dfb355486a",
    "encodeProgressiveColor" ->
      "a8ce1e066eb06543c7d861b6903b990ab6138944dabb246cf2b3971674dcbd24",
    "encodeProgressiveColorSub/2x2" ->
      "1ce91580f2ee97f895cde7419a7f496715297012df7bfbc337146362d7adc170",
    "encodeProgressiveColorSub/2x1" ->
      "46380c2d57d67d12534d28dfd213d5abf1dc1d595615e34287d08f8ad304dfda",
    "encodeProgressiveColorSub/4x1" ->
      "7b05c09b7ddc17e0db15f39ab591967498c714e29f3b58cd3aa9a533a88b2399",
    "encodeProgressiveColor420" ->
      "1ce91580f2ee97f895cde7419a7f496715297012df7bfbc337146362d7adc170",
    "grayJpeg" ->
      "aa5763247274ef70073d12a54dd859f1a6e2678bacbe031e3c7d61e0bd479021",
    "colorJpeg" ->
      "fd687d5e58dff61ed9f05f503eeafc74792e47661d50cf03736152398459c5f5",
    "color420Jpeg" ->
      "9f9e17f180840018e07236356b6eb5b58acf459cf24307faf8ff52f236495f52",
    "color422Jpeg" ->
      "179ec4c23c15c20122e73fce9b583e338ed262fb5788c5da3abc6c549392fdc1",
    "color411Jpeg" ->
      "1dea8632f6bc15e1692a3deaad17671b2bac8f0abb63f55dd13098c1ec0fabb1",
    "progJpeg" ->
      "42d92e27fee3c81c5cd06b79a604c8a8d1f1d2b373106f349715688e0152f478",
    "progColorJpeg" ->
      "f4763b289e5bdf4d00b2c00055d5fe1442f47f89a6312ec9036d6ca504c75bd3",
    "prog420Jpeg" ->
      "7368bf50b5b032e70aab8c66de9aec3f08115336ac5f78b59e15bdb7a474ea94",
    "stripDht/encode" ->
      "765257a8439adb15caebbeb2d15503f4ddaf24c924a5b0fee424cdc9af51c77a",
    "stripDht/encodeColor" ->
      "472ee99ab6ee8fe13828ec1dee58a079974b69d32fcbdc29615ca6e198485e9a",
    "stripDht/encodeColor420" ->
      "f4d92c6e9041d0cb5ec07f58de268782d22cc488c46906df7c70503aa19dade0")

  private val PinnedRasters: Map[String, String] = Map(
    "encode" ->
      "8746a0a550d0180c0d05e432aeebc6848ba13d08a5b33e327b0d2c329bed0b55",
    "encode/rst3" ->
      "8746a0a550d0180c0d05e432aeebc6848ba13d08a5b33e327b0d2c329bed0b55",
    "encodeColor" ->
      "13a0e57acfb638386fd5565e1b66e7576761b57337edabb01c30fd7d34a4bd62",
    "encodeColor/rst3" ->
      "13a0e57acfb638386fd5565e1b66e7576761b57337edabb01c30fd7d34a4bd62",
    "encodeColor420" ->
      "206928c2270e6ffd7d270b84312fea855d6c22853652174a721843c9b93b485c",
    "encodeColor420/rst3" ->
      "206928c2270e6ffd7d270b84312fea855d6c22853652174a721843c9b93b485c",
    "encodeColor422" ->
      "ca4dfac8b14524bba800caa5cd0953f761f166645bfe13e890c0c24067b3a440",
    "encodeColor422/rst3" ->
      "ca4dfac8b14524bba800caa5cd0953f761f166645bfe13e890c0c24067b3a440",
    "encodeColor411" ->
      "2f1fe0d7a8f35c91df81d3444d1c13c2c76f4d74b21fe7eb66bf66d1b4dee4a3",
    "encodeColor411/rst3" ->
      "2f1fe0d7a8f35c91df81d3444d1c13c2c76f4d74b21fe7eb66bf66d1b4dee4a3",
    "encodeProgressive" ->
      "8746a0a550d0180c0d05e432aeebc6848ba13d08a5b33e327b0d2c329bed0b55",
    "encodeProgressive/bands" ->
      "8746a0a550d0180c0d05e432aeebc6848ba13d08a5b33e327b0d2c329bed0b55",
    "encodeProgressiveSA/al1" ->
      "8746a0a550d0180c0d05e432aeebc6848ba13d08a5b33e327b0d2c329bed0b55",
    "encodeProgressiveSA/al2" ->
      "8746a0a550d0180c0d05e432aeebc6848ba13d08a5b33e327b0d2c329bed0b55",
    "encodeProgressiveColor" ->
      "13a0e57acfb638386fd5565e1b66e7576761b57337edabb01c30fd7d34a4bd62",
    "encodeProgressiveColorSub/2x2" ->
      "206928c2270e6ffd7d270b84312fea855d6c22853652174a721843c9b93b485c",
    "encodeProgressiveColorSub/2x1" ->
      "ca4dfac8b14524bba800caa5cd0953f761f166645bfe13e890c0c24067b3a440",
    "encodeProgressiveColorSub/4x1" ->
      "2f1fe0d7a8f35c91df81d3444d1c13c2c76f4d74b21fe7eb66bf66d1b4dee4a3",
    "encodeProgressiveColor420" ->
      "206928c2270e6ffd7d270b84312fea855d6c22853652174a721843c9b93b485c",
    "grayJpeg" ->
      "8211411fd725dc695053ea9737e9be815de976c4751932f17b4385c9ed0224ed",
    "colorJpeg" ->
      "75bbf651626ed7999fd23fb8648b35a0e015b564792f97303b91dd9963104057",
    "color420Jpeg" ->
      "8f1007ebb049b222974a74d036cef2e9c350c99ad2b9a74e7c3fc897a401c7fd",
    "color422Jpeg" ->
      "50b599daf1e5f5d5c51fc0051b042fae7e4fbb9a29e426dacb5d1f14e8355489",
    "color411Jpeg" ->
      "20b49c7ad36e9c0d0fdb7d613eb840dc07c00a8795056073def5e10201b7502a",
    "progJpeg" ->
      "8211411fd725dc695053ea9737e9be815de976c4751932f17b4385c9ed0224ed",
    "progColorJpeg" ->
      "75bbf651626ed7999fd23fb8648b35a0e015b564792f97303b91dd9963104057",
    "prog420Jpeg" ->
      "8f1007ebb049b222974a74d036cef2e9c350c99ad2b9a74e7c3fc897a401c7fd",
    "stripDht/encode" ->
      "8746a0a550d0180c0d05e432aeebc6848ba13d08a5b33e327b0d2c329bed0b55",
    "stripDht/encodeColor" ->
      "13a0e57acfb638386fd5565e1b66e7576761b57337edabb01c30fd7d34a4bd62",
    "stripDht/encodeColor420" ->
      "206928c2270e6ffd7d270b84312fea855d6c22853652174a721843c9b93b485c")

  test("every public encoder's bytes are pinned over the corpus") {
    checkPins("encoder byte", PinnedBytes,
      pinEncoders.map { case (n, enc) => n -> sha256(pinOutputs(enc)) })
  }

  test("decoded rasters are pinned, incl. table-less MJPEG frames") {
    checkPins("raster", PinnedRasters, pinEncoders.map { case (n, enc) =>
      val strip = n.startsWith("stripDht/")
      n -> sha256(pinOutputs(enc).map(b => rasterBytes(
        JpegCodec.decode(b, mjpegDefaultTables = strip))))
    })
  }

  // ---- dense-AC raster pins ---------------------------------------------
  // The corpus above is smooth gradients at quality ≤ 90.  These pins add
  // the `media_neardup` shape (textured 96×96 at quality 85) and
  // JpegCorpus.noise at quality 100, which codes Huffman symbols longer
  // than the decoder's 9-bit lookahead and magnitudes of 10–11 bits, with
  // restart intervals 1 and 7 so that the lookahead meets many segment
  // ends.  Digests are sha256 over the decoded rasters, as above.
  private val DenseDims = Seq((96, 96), (37, 29))
  private val denseEncoders: Seq[(String, Seq[Array[Byte]])] = {
    val tex = (1 to 3).map(s => JpegCorpus.textured(s))
    def noisy(enc: (Int, Int, Long) => Array[Byte]): Seq[Array[Byte]] =
      for ((w, h) <- DenseDims; s <- Seq(11L, 12L)) yield enc(w, h, s)
    Seq(
      "textured/encodeColor420/q85" ->
        tex.map(JpegCodec.encodeColor420(96, 96, _, 85)),
      "textured/encodeProgressiveColor420/q85" ->
        tex.map(JpegCodec.encodeProgressiveColor420(96, 96, _, 85)),
      "noise/encode/q100" -> noisy((w, h, s) =>
        JpegCodec.encode(w, h, JpegCorpus.noiseGray(s, w, h), 100)),
      "noise/encodeColor/q100" -> noisy((w, h, s) =>
        JpegCodec.encodeColor(w, h, JpegCorpus.noise(s, w, h), 100)),
      "noise/encodeColor420/q100" -> noisy((w, h, s) =>
        JpegCodec.encodeColor420(w, h, JpegCorpus.noise(s, w, h), 100))) ++
    (for (rst <- Seq(1, 7)) yield Seq(
      s"noise/encode/q100/rst$rst" -> noisy((w, h, s) =>
        JpegCodec.encode(w, h, JpegCorpus.noiseGray(s, w, h), 100, rst)),
      s"noise/encodeColor/q100/rst$rst" -> noisy((w, h, s) =>
        JpegCodec.encodeColor(w, h, JpegCorpus.noise(s, w, h), 100, rst)),
      s"noise/encodeColor420/q100/rst$rst" -> noisy((w, h, s) =>
        JpegCodec.encodeColor420(w, h, JpegCorpus.noise(s, w, h), 100, rst))))
      .flatten :+
    ("stripDht/noise/encodeColor420/q100" -> noisy((w, h, s) =>
      JpegCodec.stripDht(
        JpegCodec.encodeColor420(w, h, JpegCorpus.noise(s, w, h), 100))))
  }

  private val PinnedDenseRasters: Map[String, String] = Map(
    "textured/encodeColor420/q85" ->
      "f4ba8ea0ac580112b387420845adbdaec5c6e2cb4b406607cacfceaec1569b85",
    "textured/encodeProgressiveColor420/q85" ->
      "f4ba8ea0ac580112b387420845adbdaec5c6e2cb4b406607cacfceaec1569b85",
    "noise/encode/q100" ->
      "a0c67548fa692ef13658c2cee00eb922cac8d6083d1636ef887d348ce762c8df",
    "noise/encodeColor/q100" ->
      "e713966c6ca7c815afaecf9698d7a46431e76bb7e13ba74e4bf5cdc11aefe534",
    "noise/encodeColor420/q100" ->
      "880bbdf58fbce3ef4241ed32aab782c61686cc45ed0b2eb670e55ddbace2d4c9",
    "noise/encode/q100/rst1" ->
      "a0c67548fa692ef13658c2cee00eb922cac8d6083d1636ef887d348ce762c8df",
    "noise/encodeColor/q100/rst1" ->
      "e713966c6ca7c815afaecf9698d7a46431e76bb7e13ba74e4bf5cdc11aefe534",
    "noise/encodeColor420/q100/rst1" ->
      "880bbdf58fbce3ef4241ed32aab782c61686cc45ed0b2eb670e55ddbace2d4c9",
    "noise/encode/q100/rst7" ->
      "a0c67548fa692ef13658c2cee00eb922cac8d6083d1636ef887d348ce762c8df",
    "noise/encodeColor/q100/rst7" ->
      "e713966c6ca7c815afaecf9698d7a46431e76bb7e13ba74e4bf5cdc11aefe534",
    "noise/encodeColor420/q100/rst7" ->
      "880bbdf58fbce3ef4241ed32aab782c61686cc45ed0b2eb670e55ddbace2d4c9",
    "stripDht/noise/encodeColor420/q100" ->
      "880bbdf58fbce3ef4241ed32aab782c61686cc45ed0b2eb670e55ddbace2d4c9")

  test("dense-AC rasters are pinned: texture, q100 noise, restarts, no tables") {
    checkPins("dense raster", PinnedDenseRasters, denseEncoders.map {
      case (n, frames) =>
        val strip = n.startsWith("stripDht/")
        n -> sha256(frames.map(b => rasterBytes(
          JpegCodec.decode(b, mjpegDefaultTables = strip))))
    })
    // truncation at every prefix of a noise frame with a restart marker
    // after every MCU stays loud
    val ok = JpegCodec.encodeColor420(16, 16, JpegCorpus.noise(13, 16, 16),
      100, restartInterval = 1)
    for (n <- 2 until ok.length) {
      val ex = intercept[IllegalArgumentException] {
        JpegCodec.decode(java.util.Arrays.copyOf(ok, n))
      }
      assert(ex.getMessage != null)
    }
  }

  test("a 96×96 decode allocates at most 400 KB (4:2:0 and progressive)") {
    val mx = java.lang.management.ManagementFactory.getThreadMXBean
      .asInstanceOf[com.sun.management.ThreadMXBean]
    val tid = Thread.currentThread().getId
    val rgb = JpegCorpus.textured(5)
    for ((kind, frame) <- Seq(
        "4:2:0" -> JpegCodec.encodeColor420(96, 96, rgb, 85),
        "progressive 4:2:0" -> JpegCodec.encodeProgressiveColor420(96, 96, rgb, 85))) {
      for (_ <- 1 to 50) JpegCodec.decode(frame)
      val perDecode = (1 to 5).map { _ =>
        val a0 = mx.getThreadAllocatedBytes(tid)
        JpegCodec.decode(frame)
        mx.getThreadAllocatedBytes(tid) - a0
      }
      assert(perDecode.forall(_ <= 400 * 1024),
        s"$kind decode allocated ${perDecode.mkString(", ")} bytes")
    }
  }
}
