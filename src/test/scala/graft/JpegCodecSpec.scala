package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.ops.JpegCodec
import graft.ops.JpegCodec.Frame

/** Tests for the baseline-JPEG codec. DC-only constant blocks must
  * round-trip EXACTLY (the oracle's determinism claim); general
  * coefficient blocks — full Huffman AC coding, runs, ZRL, negatives,
  * DC prediction — are decoded against an INDEPENDENT direct-form IDCT
  * reference computed here in the test, so a decoder bug cannot
  * self-certify via the codec's own transform. */
class JpegCodecSpec extends AnyFunSuite {

  private val rng = new scala.util.Random(0xdc7)

  test("zigzag order is the T.81 walk (spot anchors)") {
    val z = JpegCodec.Zigzag
    assert(z(0) == 0 && z(1) == 1 && z(2) == 8 && z(3) == 16 && z(4) == 9)
    assert(z(5) == 2 && z(63) == 63 && z.distinct.length == 64)
  }

  test("constant even blocks round-trip EXACTLY through the lossy pipeline") {
    (1 to 10).foreach { _ =>
      val bw = 1 + rng.nextInt(4); val bh = 1 + rng.nextInt(3)
      val w = bw * 8; val h = bh * 8
      val px = new Array[Int](w * h)
      for (by <- 0 until bh; bx <- 0 until bw) {
        val v = rng.nextInt(128) * 2 // even 0..254
        for (y <- 0 until 8; x <- 0 until 8) px((by * 8 + y) * w + bx * 8 + x) = v
      }
      val img = JpegCodec.decode(JpegCodec.encode(Frame.gray(w, h, 16,
        JpegCodec.constantBlocks(w, h, 8, 16)((x, y) => px(y * w + x)))))
      assert(img.width == w && img.height == h)
      assert(img.pixels.toSeq == px.toSeq, "exact reconstruction of even constant blocks")
    }
  }

  /** Independent direct-form IDCT (T.81 A.3.3 written from the formula,
    * no shared tables with the codec) + level shift + clamp. */
  private def refIdct(coef: Array[Int]): Array[Int] =
    Array.tabulate(64) { i =>
      val x = i % 8; val y = i / 8
      var s = 0.0
      for (u <- 0 until 8; v <- 0 until 8) {
        val cu = if (u == 0) 1.0 / math.sqrt(2.0) else 1.0
        val cv = if (v == 0) 1.0 / math.sqrt(2.0) else 1.0
        s += cu * cv * coef(v * 8 + u) *
          math.cos((2 * x + 1) * u * math.Pi / 16.0) *
          math.cos((2 * y + 1) * v * math.Pi / 16.0)
      }
      math.max(0, math.min(255, math.round(s / 4.0 + 128.0).toInt))
    }

  test("general AC coefficients decode to the independent IDCT reference") {
    def check(blocks: Array[Array[Int]], bw: Int, bh: Int): Array[Byte] = {
      val q = 16
      val bytes = JpegCodec.encode(Frame.gray(bw * 8, bh * 8, q, blocks))
      val img = JpegCodec.decode(bytes)
      for (bi <- 0 until bw * bh) {
        val deq = Array.tabulate(64)(i => blocks(bi)(i) * q)
        val expect = refIdct(deq)
        val bx = bi % bw; val by = bi / bw
        for (y <- 0 until 8; x <- 0 until 8) {
          val got = img.pixels((by * 8 + y) * bw * 8 + bx * 8 + x)
          assert(math.abs(got - expect(y * 8 + x)) <= 1,
            s"block $bi ($x,$y): got $got want ${expect(y * 8 + x)}")
        }
      }
      bytes
    }
    (1 to 25).foreach { _ =>
      val bw = 1 + rng.nextInt(3); val bh = 1 + rng.nextInt(2)
      val blocks = Array.fill(bw * bh) {
        val blk = new Array[Int](64)
        blk(0) = rng.nextInt(201) - 100           // DC in [-100, 100]
        (1 to 1 + rng.nextInt(12)).foreach { _ => // sparse random ACs
          blk(1 + rng.nextInt(63)) = rng.nextInt(61) - 30
        }
        blk
      }
      check(blocks, bw, bh)
    }
    // deterministic 0xFF-stuffing fixture: ACs of +1023 emit 10-bit
    // all-ones magnitude runs; the 19-bit code+bits period is coprime
    // with 8, so every byte alignment occurs and some byte is 0xFF
    val ones = Array.fill(1)(Array.tabulate(64)(i => if (i == 0) 0 else 1023))
    val stuffed = check(ones, 1, 1)
    assert(stuffed.sliding(2).exists(p => (p(0) & 0xff) == 0xff && p(1) == 0x00),
      "the all-ones fixture must exercise 0xFF byte stuffing")
  }

  test("0xFF fill bytes before markers decode identically (T.81 B.1.1.2)") {
    // legal padding: any run of 0xFF may precede a marker; conforming
    // encoders emit it for alignment. Insert fill runs before EVERY
    // marker segment boundary (after SOI, between segments, and before
    // EOI — the scan-end search and the marker loop both see one) and
    // require a bit-identical decode (r14 ADVICE: the fill byte was
    // misparsed as marker 0xFF with a bogus segment length).
    val px = new Array[Int](16 * 16)
    for (y <- 0 until 16; x <- 0 until 16)
      px(y * 16 + x) = (if (x < 8) 100 else 200)
    val clean = JpegCodec.encode(Frame.gray(16, 16, 16,
      JpegCodec.constantBlocks(16, 16, 8, 16)((x, y) => px(y * 16 + x))))
    val ref = JpegCodec.decode(clean)
    // walk the marker structure of the clean file and re-emit it with a
    // 1-3 byte 0xFF run before each marker (except SOI, which must open
    // the stream)
    val out = new scala.collection.mutable.ArrayBuffer[Byte]()
    out += clean(0) += clean(1) // SOI
    var pos = 2
    var fills = 0
    var inScan = false
    while (pos < clean.length) {
      if (!inScan) {
        val m = clean(pos + 1) & 0xff
        val run = 1 + (fills % 3); fills += 1
        (0 until run).foreach(_ => out += 0xff.toByte)
        if (m == 0xd9) { out += clean(pos) += clean(pos + 1); pos = clean.length }
        else {
          val len = ((clean(pos + 2) & 0xff) << 8) | (clean(pos + 3) & 0xff)
          (pos until pos + 2 + len).foreach(i => out += clean(i))
          pos += 2 + len
          if (m == 0xda) inScan = true
        }
      } else {
        // entropy data: copy verbatim up to (not including) the next true
        // marker (0xFF00 stuffing and RSTn stay inside the data)
        val b = clean(pos) & 0xff
        if (b == 0xff) {
          val nb = clean(pos + 1) & 0xff
          if (nb == 0x00 || (nb >= 0xd0 && nb <= 0xd7)) {
            out += clean(pos) += clean(pos + 1); pos += 2
          } else inScan = false
        } else { out += clean(pos); pos += 1 }
      }
    }
    assert(fills >= 3, "fixture must pad several marker boundaries")
    val img = JpegCodec.decode(out.toArray)
    assert(img.width == ref.width && img.height == ref.height)
    assert(img.pixels.toSeq == ref.pixels.toSeq,
      "fill-padded stream must decode bit-identically to the clean one")
  }

  test("rejects malformed and out-of-scope input loudly") {
    val good = JpegCodec.encode(Frame.gray(8, 8, 16,
      JpegCodec.constantBlocks(8, 8, 8, 16)((_, _) => 100)))
    assert(intercept[IllegalArgumentException](
      JpegCodec.decode(good.drop(2))).getMessage.contains("SOI"))
    assert(intercept[IllegalArgumentException](
      JpegCodec.decode(good.dropRight(2))).getMessage.contains("EOI"))
    // progressive: patch SOF0 (0xC0) to SOF2 (0xC2)
    val prog = good.clone()
    val sofAt = good.indices.find(i =>
      (good(i) & 0xff) == 0xff && (good(i + 1) & 0xff) == 0xc0).get
    prog(sofAt + 1) = 0xc2.toByte
    assert(intercept[IllegalArgumentException](
      JpegCodec.decode(prog)).getMessage.contains("progressive"))
    // odd constant value is not exactly quantizable — encoder refuses
    assert(intercept[IllegalArgumentException](
      JpegCodec.encode(Frame.gray(8, 8, 16,
        JpegCodec.constantBlocks(8, 8, 8, 16)((_, _) => 101))))
      .getMessage.contains("quantizable"))
    // DC diff beyond magnitude category 11 must be the codec's loud IAE,
    // not a NoSuchElementException from the Huffman-table Map (r8 ADVICE)
    val big = Array.tabulate(64)(i => if (i == 0) 4096 else 0)
    assert(intercept[IllegalArgumentException](
      JpegCodec.encode(Frame.gray(8, 8, 16, Array(big))))
      .getMessage.contains("DC difference"))
  }

  test("4:4:4 color: per-component planes reconstruct exactly and convert per BT.601") {
    // two MCUs of DC-only constant blocks with EVEN values and q=16, so
    // every plane reconstructs exactly (the grayscale determinism
    // argument, per component); the expected RGB is then the BT.601
    // conversion of those exact planes. Distinct per-MCU values exercise
    // the PER-COMPONENT DC prediction chains; distinct quant/Huffman
    // selectors (luma 0, chroma 1) exercise the table plumbing.
    def blkOf(v: Int): Array[Int] = {
      val b = new Array[Int](64); b(0) = 8 * (v - 128) / 16; b
    }
    val w = 16; val h = 8
    val yv = Array(120, 136); val cbv = Array(100, 128); val crv = Array(160, 128)
    val img = JpegCodec.decode(JpegCodec.encode(Frame.ycc(w, h, 16, 16,
      yv.map(blkOf), cbv.map(blkOf), crv.map(blkOf), 1, 1)))
    assert(img.channels == 3 && img.width == w && img.height == h)
    def expect(y: Int, cb: Int, cr: Int): (Int, Int, Int) = {
      def c(d: Double) = math.max(0, math.min(255, math.round(d).toInt))
      (c(y + 1.402 * (cr - 128)),
        c(y - 0.344136 * (cb - 128) - 0.714136 * (cr - 128)),
        c(y + 1.772 * (cb - 128)))
    }
    for (bi <- 0 until 2; yy <- 0 until 8; xx <- 0 until 8) {
      val p = (yy * w + bi * 8 + xx) * 3
      val (r, g, b) = expect(yv(bi), cbv(bi), crv(bi))
      assert(img.pixels(p) == r && img.pixels(p + 1) == g && img.pixels(p + 2) == b,
        s"block $bi pixel ($xx,$yy)")
    }
    // neutral chroma (128) must decode to pure gray = the luma value
    val gray = (0 * w + 8) * 3 // block 1's first pixel
    assert(img.pixels(gray) == 136 && img.pixels(gray + 1) == 136 &&
      img.pixels(gray + 2) == 136)
  }

  private def blkOf(v: Int): Array[Int] = {
    val b = new Array[Int](64); b(0) = 8 * (v - 128) / 16; b
  }

  private def bt601(y: Int, cb: Int, cr: Int): (Int, Int, Int) = {
    def c(d: Double) = math.max(0, math.min(255, math.round(d).toInt))
    (c(y + 1.402 * (cr - 128)),
      c(y - 0.344136 * (cb - 128) - 0.714136 * (cr - 128)),
      c(y + 1.772 * (cb - 128)))
  }

  test("4:2:0: reconstruction ground truth — MCU geometry, DC cadence, upsampling") {
    // 32x16 = two 16x16 MCUs. Y varies PER BLOCK (distinct even values →
    // the 4-Y-then-chroma DC cadence must be exactly right or wrong blocks
    // land in wrong positions); chroma is constant PER MCU (every legal
    // upsampler agrees on constants). All values even + q=16 → every plane
    // reconstructs exactly; expected RGB is the BT.601 closed form.
    val w = 32; val h = 16
    val yv = Array(100, 102, 104, 106, 110, 112, 114, 116) // bw=4, bh=2
    val cbv = Array(100, 150); val crv = Array(160, 90)    // one per MCU
    val img = JpegCodec.decode(JpegCodec.encode(Frame.ycc(w, h, 16, 16,
      yv.map(blkOf), cbv.map(blkOf), crv.map(blkOf), 2, 2)))
    assert(img.channels == 3 && img.width == w && img.height == h)
    for (py <- 0 until h; px <- 0 until w) {
      val bx = px / 8; val by = py / 8; val mcu = px / 16
      val (r, g, b) = bt601(yv(by * 4 + bx), cbv(mcu), crv(mcu))
      val p = (py * w + px) * 3
      assert(img.pixels(p) == r && img.pixels(p + 1) == g && img.pixels(p + 2) == b,
        s"pixel ($px,$py): got (${img.pixels(p)},${img.pixels(p + 1)},${img.pixels(p + 2)}) want ($r,$g,$b)")
    }
  }

  test("4:2:0 with general AC luma decodes to the independent IDCT reference") {
    // neutral constant chroma makes RGB = the Y plane exactly, so random
    // AC content in Y is checkable against refIdct through the full
    // subsampled-MCU path (geometry already pinned by the test above)
    val q = 16
    (1 to 10).foreach { _ =>
      val y = Array.fill(8) { // 32x16: bw=4, bh=2
        val blk = new Array[Int](64)
        blk(0) = rng.nextInt(201) - 100
        (1 to 1 + rng.nextInt(10)).foreach(_ =>
          blk(1 + rng.nextInt(63)) = rng.nextInt(61) - 30)
        blk
      }
      val neutral = Array.fill(2)(blkOf(128))
      val img = JpegCodec.decode(
        JpegCodec.encode(Frame.ycc(32, 16, q, q, y, neutral, neutral, 2, 2)))
      for (bi <- 0 until 8) {
        val expect = refIdct(Array.tabulate(64)(i => y(bi)(i) * q))
        val bx = bi % 4; val by = bi / 4
        for (yy <- 0 until 8; xx <- 0 until 8) {
          val got = img.pixels(((by * 8 + yy) * 32 + bx * 8 + xx) * 3)
          assert(math.abs(got - expect(yy * 8 + xx)) <= 1,
            s"block $bi ($xx,$yy): got $got want ${expect(yy * 8 + xx)}")
        }
      }
    }
  }

  test("4:2:2: horizontal-only subsampling decodes exactly") {
    val w = 32; val h = 8 // bw=4; chroma grid 2x1 (MCU = 16x8)
    val yv = Array(100, 102, 104, 106)
    val cbv = Array(100, 150); val crv = Array(160, 90)
    val img = JpegCodec.decode(JpegCodec.encode(Frame.ycc(w, h, 16, 16,
      yv.map(blkOf), cbv.map(blkOf), crv.map(blkOf), sh = 2, sv = 1)))
    for (py <- 0 until h; px <- 0 until w) {
      val (r, g, b) = bt601(yv(px / 8), cbv(px / 16), crv(px / 16))
      val p = (py * w + px) * 3
      assert(img.pixels(p) == r && img.pixels(p + 1) == g && img.pixels(p + 2) == b,
        s"pixel ($px,$py)")
    }
  }

  test("non-8-aligned dims decode via clipped edge MCUs") {
    // encode a full 16x16 constant-block gray image, then patch SOF0's
    // dims to 13x11 — the entropy stream still carries full MCUs; the
    // decoder must clip, exactly what a real-world 13x11 baseline file
    // contains
    val px16 = Array.tabulate(16 * 16) { i =>
      val bx = (i % 16) / 8; val by = (i / 16) / 8
      100 + 2 * (by * 2 + bx)
    }
    val full = JpegCodec.encode(Frame.gray(16, 16, 16,
      JpegCodec.constantBlocks(16, 16, 8, 16)((x, y) => px16(y * 16 + x))))
    val sofAt = full.indices.find(i =>
      (full(i) & 0xff) == 0xff && (full(i + 1) & 0xff) == 0xc0).get
    val body = sofAt + 4
    val patched = full.clone()
    patched(body + 1) = 0; patched(body + 2) = 11 // height
    patched(body + 3) = 0; patched(body + 4) = 13 // width
    val img = JpegCodec.decode(patched)
    assert(img.width == 13 && img.height == 11 && img.pixels.length == 13 * 11)
    for (py <- 0 until 11; px <- 0 until 13)
      assert(img.pixels(py * 13 + px) == px16(py * 16 + px), s"pixel ($px,$py)")
  }

  test("restart intervals: byte realignment, RSTn cadence, DC-chain resets") {
    // random-AC grayscale with DRI=2: every second block a restart —
    // byte alignment + the modulo-8 marker sequence + the DC reset all
    // sit on the path; the decode must equal the restart-free decode
    // of the SAME coefficients (restarts change framing, never values)
    val q = 16
    (1 to 10).foreach { _ =>
      val blocks = Array.fill(12) { // 4x3 blocks = 32x24
        val blk = new Array[Int](64)
        blk(0) = rng.nextInt(201) - 100
        (1 to 1 + rng.nextInt(10)).foreach(_ =>
          blk(1 + rng.nextInt(63)) = rng.nextInt(61) - 30)
        blk
      }
      val plain = JpegCodec.decode(JpegCodec.encode(Frame.gray(32, 24, q, blocks)))
      val restarted = JpegCodec.decode(
        JpegCodec.encode(Frame.gray(32, 24, q, blocks).copy(restartInterval = 2)))
      assert(restarted.pixels.toSeq == plain.pixels.toSeq,
        "restart framing must not change decoded values")
    }
    // more than 8 restarts → the modulo-8 RSTn cycle wraps
    val many = Array.tabulate(24)(i => blkOf(100 + 2 * (i % 20)))
    val wrapped = JpegCodec.decode(
      JpegCodec.encode(Frame.gray(48, 32, q, many).copy(restartInterval = 1)))
    assert(wrapped.pixels.length == 48 * 32)
    // 4:2:0 + restarts compose
    val yv = Array(100, 102, 104, 106, 110, 112, 114, 116)
    val cbv = Array(100, 150); val crv = Array(160, 90)
    val img420 = JpegCodec.decode(JpegCodec.encode(Frame.ycc(32, 16, q, q,
      yv.map(blkOf), cbv.map(blkOf), crv.map(blkOf), 2, 2).copy(restartInterval = 1)))
    val img420plain = JpegCodec.decode(JpegCodec.encode(Frame.ycc(32, 16, q, q,
      yv.map(blkOf), cbv.map(blkOf), crv.map(blkOf), 2, 2)))
    assert(img420.pixels.toSeq == img420plain.pixels.toSeq)
    // a MISSING restart marker (DRI says 2, stream has none) rejects
    // loudly instead of silently desynchronizing
    val noRst = JpegCodec.encode(Frame.gray(32, 24, q,
      Array.fill(12)(blkOf(100))))
    val sofless = noRst.clone()
    // splice a DRI=2 segment right after SOI (before DQT)
    val dri = Array[Byte](0xff.toByte, 0xdd.toByte, 0, 4, 0, 2)
    val withDri = sofless.take(2) ++ dri ++ sofless.drop(2)
    val e = intercept[IllegalArgumentException](JpegCodec.decode(withDri))
    assert(e.getMessage.contains("restart marker") ||
      e.getMessage.contains("marker inside entropy"),
      s"missing restarts must reject loudly: ${e.getMessage}")
  }

  test("out-of-scope sampling and scan order are rejected loudly, not misread") {
    val good = JpegCodec.encode(Frame.ycc(8, 8, 16, 16,
      Array(blkOf(128)), Array(blkOf(128)), Array(blkOf(128)), 1, 1))
    // factor 5 is outside the T.81 legal range 1..4 (4:1:1 itself is
    // now supported — JpegArithSpec pins it against libjpeg)
    val sofAt = good.indices.find(i =>
      (good(i) & 0xff) == 0xff && (good(i + 1) & 0xff) == 0xc0).get
    val sub = good.clone()
    sub(sofAt + 4 + 7) = 0x51.toByte // body at sofAt+4; comp0 hv at +7
    assert(intercept[IllegalArgumentException](
      JpegCodec.decode(sub)).getMessage.contains("sampling factors"))
    // a 4x4,2x2,2x2 frame would carry 24 blocks per MCU — B.2.3 caps 10
    val fat = good.clone()
    fat(sofAt + 4 + 7) = 0x44.toByte
    fat(sofAt + 4 + 10) = 0x22.toByte
    fat(sofAt + 4 + 13) = 0x22.toByte
    assert(intercept[IllegalArgumentException](
      JpegCodec.decode(fat)).getMessage.contains("B.2.3"))
    // a scan that lists components out of frame order would decode with
    // swapped planes/DC chains — must reject, not silently misread
    val sosAt = good.indices.find(i =>
      (good(i) & 0xff) == 0xff && (good(i + 1) & 0xff) == 0xda).get
    val swapped = good.clone()
    val b0 = sosAt + 4 + 1 // first scan component id (after ns byte)
    // swap (id, selectors) of scan components 0 and 1
    val tmpId = swapped(b0); val tmpSel = swapped(b0 + 1)
    swapped(b0) = swapped(b0 + 2); swapped(b0 + 1) = swapped(b0 + 3)
    swapped(b0 + 2) = tmpId; swapped(b0 + 3) = tmpSel
    assert(intercept[IllegalArgumentException](
      JpegCodec.decode(swapped)).getMessage.contains("scan component order"))
  }

  test("progressive grayscale: all scans applied == sequential decode, bit for bit") {
    // progressive (SOF2) re-encodes the SAME quantized coefficients as a
    // DC-first + two spectral AC bands + one-bit refinements script; once
    // every scan lands, the coefficient array is IDENTICAL to what the
    // sequential scan decodes, so the rasters must match exactly —
    // including negative values through the point transform and EOB runs
    // spanning blocks.
    (1 to 20).foreach { trial =>
      val bw = 1 + rng.nextInt(4); val bh = 1 + rng.nextInt(3)
      val blocks = Array.fill(bw * bh) {
        val blk = new Array[Int](64)
        blk(0) = rng.nextInt(201) - 100
        (0 until rng.nextInt(14)).foreach { _ =>
          blk(1 + rng.nextInt(63)) = rng.nextInt(61) - 30
        }
        blk
      }
      val ri = trial % 3 // 0 = none, 1/2 = restart cadences
      val seqImg = JpegCodec.decode(
        JpegCodec.encode(Frame.gray(bw * 8, bh * 8, 16, blocks).copy(restartInterval = ri)))
      val progImg = JpegCodec.decode(
        JpegCodec.encode(Frame.gray(bw * 8, bh * 8, 16, blocks)
          .copy(progressive = true, restartInterval = ri)))
      assert(progImg.width == seqImg.width && progImg.height == seqImg.height)
      assert(progImg.pixels.toSeq == seqImg.pixels.toSeq,
        s"trial $trial (${bw}x$bh, ri=$ri): progressive != sequential")
    }
  }

  test("progressive 4:2:0 color: all scans applied == sequential decode") {
    (1 to 12).foreach { trial =>
      val mw = 1 + rng.nextInt(2); val mh = 1 + rng.nextInt(2) // MCUs
      val w = mw * 16; val h = mh * 16
      val bw = w / 8; val bh = h / 8
      def rblk(): Array[Int] = {
        val blk = new Array[Int](64)
        blk(0) = rng.nextInt(161) - 80
        (0 until rng.nextInt(10)).foreach { _ =>
          blk(1 + rng.nextInt(63)) = rng.nextInt(41) - 20
        }
        blk
      }
      val y = Array.fill(bw * bh)(rblk())
      val cb = Array.fill(mw * mh)(rblk())
      val cr = Array.fill(mw * mh)(rblk())
      val ri = trial % 3
      val seqImg = JpegCodec.decode(
        JpegCodec.encode(Frame.ycc(w, h, 16, 16, y, cb, cr, 2, 2).copy(restartInterval = ri)))
      val progImg = JpegCodec.decode(
        JpegCodec.encode(Frame.ycc(w, h, 16, 16, y, cb, cr, 2, 2)
          .copy(progressive = true, restartInterval = ri)))
      assert(progImg.pixels.toSeq == seqImg.pixels.toSeq,
        s"trial $trial (${w}x$h, ri=$ri): progressive != sequential")
    }
  }

  test("progressive 4:2:2 decodes identically to its sequential encoding") {
    val w = 32; val h = 16 // 2x1 sampling: MCU is 16x8
    val bw = w / 8; val bh = h / 8
    val cw = w / 16; val chh = h / 8
    def rblk(): Array[Int] = {
      val blk = new Array[Int](64)
      blk(0) = rng.nextInt(121) - 60
      (0 until 6).foreach(_ => blk(1 + rng.nextInt(63)) = rng.nextInt(31) - 15)
      blk
    }
    val y = Array.fill(bw * bh)(rblk())
    val cb = Array.fill(cw * chh)(rblk())
    val cr = Array.fill(cw * chh)(rblk())
    val seqImg = JpegCodec.decode(
      JpegCodec.encode(Frame.ycc(w, h, 16, 16, y, cb, cr, sh = 2, sv = 1)))
    val progImg = JpegCodec.decode(JpegCodec.encode(
      Frame.ycc(w, h, 16, 16, y, cb, cr, sh = 2, sv = 1).copy(progressive = true)))
    assert(progImg.pixels.toSeq == seqImg.pixels.toSeq)
  }

  test("Huffman tables redefined BETWEEN scans apply to the following scan") {
    // real progressive files commonly re-emit DHT before each scan; the
    // multi-scan parser must honor arrival order. Splice a redundant DHT
    // (identical spec — the entropy bytes stay valid) before the SECOND
    // SOS and require an unchanged decode.
    val blocks = Array.fill(4)(blkOf(100 + 2 * rng.nextInt(20)))
    val good = JpegCodec.encode(Frame.gray(16, 16, 16, blocks).copy(progressive = true))
    val want = JpegCodec.decode(good).pixels.toSeq
    // locate the second SOS marker
    var sosSeen = 0; var at = -1
    var i2 = 2
    while (at < 0 && i2 + 1 < good.length) {
      if ((good(i2) & 0xff) == 0xff && (good(i2 + 1) & 0xff) == 0xda) {
        sosSeen += 1
        if (sosSeen == 2) at = i2
      }
      i2 += 1
    }
    assert(at > 0, "fixture must have a second scan")
    // a DC DHT segment identical to the canonical one (class 0, id 0)
    val dht = {
      val body = Array[Byte](0x00) ++
        (1 to 16).map(l => JpegCodec.DcBits(l).toByte).toArray ++
        JpegCodec.DcVals.map(_.toByte)
      Array[Byte](0xff.toByte, 0xc4.toByte,
        ((body.length + 2) >> 8).toByte, ((body.length + 2) & 0xff).toByte) ++ body
    }
    val spliced = good.take(at) ++ dht ++ good.drop(at)
    assert(JpegCodec.decode(spliced).pixels.toSeq == want,
      "a redundant mid-stream DHT must be honored, not break the parse")
  }

  test("progressive out-of-scope shapes reject loudly") {
    val blocks = Array(blkOf(100))
    val good = JpegCodec.encode(Frame.gray(8, 8, 16, blocks).copy(progressive = true))
    // 12-bit precision stays rejected (patch SOF2 precision byte)
    val sofAt = good.indices.find(i =>
      (good(i) & 0xff) == 0xff && (good(i + 1) & 0xff) == 0xc2).get
    val deep = good.clone()
    deep(sofAt + 4) = 12.toByte
    assert(intercept[IllegalArgumentException](
      JpegCodec.decode(deep)).getMessage.contains("8-bit precision"))
    // arithmetic-coded LOSSLESS (SOF11) and hierarchical (SOF5) reject
    // by marker (SOF10 progressive-arithmetic is now supported and has
    // its own conformance battery in JpegArithSpec)
    for (sof <- Seq(0xcb, 0xc5)) {
      val rej = good.clone()
      rej(sofAt + 1) = sof.toByte
      assert(intercept[IllegalArgumentException](
        JpegCodec.decode(rej)).getMessage.contains("unsupported SOF"))
    }
    // a baseline-shaped scan header (Se=63) under a DC-first progressive
    // scan is malformed — the decoder must not misread it
    val sosAt = good.indices.find(i =>
      (good(i) & 0xff) == 0xff && (good(i + 1) & 0xff) == 0xda).get
    val bad = good.clone()
    bad(sosAt + 4 + 3 + 1) = 63.toByte // Se of the first (DC) scan
    assert(intercept[IllegalArgumentException](
      JpegCodec.decode(bad)).getMessage.contains("Se=0"))
  }

  test("lossless round-trips bit-for-bit: every predictor x precision 8/12/16") {
    val rng = new scala.util.Random(0x10551e55L)
    for (pred <- 1 to 7; prec <- Seq(8, 12, 16)) {
      val w = 9; val h = 7 // NOT 8-aligned: lossless has no MCU grid
      val px = Array.fill(w * h)(rng.nextInt(1 << prec))
      val img = JpegCodec.decode(JpegCodec.encodeLossless(w, h, prec, pred, Array(px)))
      assert(img.width == w && img.height == h && img.channels == 1)
      assert(img.depth == prec, s"native precision must survive (pred=$pred)")
      assert(img.pixels.toSeq == px.toSeq, s"pred=$pred prec=$prec")
    }
  }

  test("lossless SSSS=16 (+32768 difference, bitless) round-trips") {
    // default prediction at P=16 is 32768; a first sample of 0 makes the
    // mod-2^16 difference exactly 32768 — the one category with no
    // appended magnitude bits. The second sample then swings back.
    val px = Array(0, 32768, 0, 65535)
    val img = JpegCodec.decode(JpegCodec.encodeLossless(4, 1, 16, 1, Array(px)))
    assert(img.pixels.toSeq == px.toSeq)
  }

  test("lossless point transform drops and re-inserts the low bits") {
    val w = 6; val h = 4
    val px = Array.tabulate(w * h)(i => (i * 37) % 4096)
    val img = JpegCodec.decode(
      JpegCodec.encodeLossless(w, h, 12, 4, Array(px), pointTransform = 2))
    // decoded samples are the originals with their 2 low bits zeroed
    assert(img.pixels.toSeq == px.map(v => (v >> 2) << 2).toSeq)
  }

  test("lossless restart intervals reset the prediction and verify cadence") {
    val rng = new scala.util.Random(0x0d51)
    val w = 10; val h = 6
    val px = Array.fill(w * h)(rng.nextInt(4096))
    val bytes = JpegCodec.encodeLossless(w, h, 12, 7, Array(px), restartInterval = 9)
    assert(JpegCodec.decode(bytes).pixels.toSeq == px.toSeq)
    // strip the first restart marker: the decoder must reject loudly,
    // not desynchronize every later sample
    val at = bytes.indices.find(i =>
      (bytes(i) & 0xff) == 0xff && (bytes(i + 1) & 0xff) == 0xd0).get
    val cut = bytes.take(at) ++ bytes.drop(at + 2)
    assert(intercept[IllegalArgumentException](JpegCodec.decode(cut))
      .getMessage.nonEmpty)
  }

  test("lossless restarts: rest of the line predicts 1-D from Ra (T.81 H.1.1 fixture)") {
    // CONFORMANCE pin, independent of the codec's own predictor: the
    // stream below is built HERE from the spec's coding rules (5-bit
    // category code = the category value under the codec's canonical
    // DHT, then SSSS magnitude bits; 1-padding + RSTn between
    // intervals), and the differences are hand-derived from H.1.1 for
    // predictor 4, w=4 h=3, restart interval 5, P=8 (default pred 128):
    //   i0 (0,0) fresh→128        d=-118   i6 (2,1) Ra=60   d=+10  «H.1.1»
    //   i1 (1,0) Ra=10   d=+10             i7 (3,1) Ra=70   d=+10  «H.1.1»
    //   i2 (2,0) Ra=20   d=+10             i8 (0,2) Rb=50   d=+40
    //   i3 (3,0) Ra=30   d=+10             i9 (1,2) p4:90+60-50 d=0
    //   i4 (0,1) Rb=10   d=+40           RST1
    //   RST0                               i10 (2,2) fresh→128 d=-18
    //   i5 (1,1) fresh→128 d=-68           i11 (3,2) Ra=110 d=+10 «H.1.1»
    // The «H.1.1» samples are exactly where a decoder that resumes the
    // 2-D predictor after a restart (the pre-r17 bug) reads different
    // pixels — this fixture pins interop with external SOF3 codecs.
    val pixels = Array(10, 20, 30, 40, 50, 60, 70, 80, 90, 100, 110, 120)
    val diffs = Array(-118, 10, 10, 10, 40, Int.MinValue /*RST*/ ,
      -68, 10, 10, 40, 0, Int.MinValue /*RST*/ , -18, 10)
    val bits = new scala.collection.mutable.ArrayBuffer[Int]()
    val bytes = new scala.collection.mutable.ArrayBuffer[Byte]()
    def flushBits(): Unit = {
      while (bits.length % 8 != 0) bits += 1 // 1-padding (B.1.1.5)
      bits.grouped(8).foreach { g =>
        val b = g.foldLeft(0)((a, x) => (a << 1) | x)
        bytes += b.toByte
        if (b == 0xff) bytes += 0x00.toByte // stuffing
      }
      bits.clear()
    }
    def putBits(v: Int, n: Int): Unit =
      (n - 1 to 0 by -1).foreach(i => bits += ((v >> i) & 1))
    var rst = 0
    diffs.foreach {
      case Int.MinValue =>
        flushBits()
        bytes += 0xff.toByte += (0xd0 + rst).toByte; rst += 1
      case d =>
        val s = if (d == 0) 0 else 32 - Integer.numberOfLeadingZeros(math.abs(d))
        putBits(s, 5) // canonical 5-bit code for category s IS s
        if (s > 0) putBits(if (d >= 0) d else d + (1 << s) - 1, s)
    }
    flushBits()
    val entropy = bytes.toArray
    val out = new java.io.ByteArrayOutputStream()
    def seg(m: Int, body: Array[Int]): Unit = {
      out.write(0xff); out.write(m)
      out.write((body.length + 2) >> 8); out.write((body.length + 2) & 0xff)
      body.foreach(out.write)
    }
    out.write(0xff); out.write(0xd8) // SOI
    seg(0xc4, Array(0x00) ++ Array(0, 0, 0, 0, 17, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0) ++
      (0 to 16)) // DHT: 17 five-bit codes, vals = categories 0..16
    seg(0xdd, Array(0, 5)) // DRI: restart every 5 samples
    seg(0xc3, Array(8, 0, 3, 0, 4, 1, 1, 0x11, 0)) // SOF3: P=8, 3x4, 1 comp
    seg(0xda, Array(1, 1, 0x00, 4, 0, 0)) // SOS: predictor 4, Pt 0
    out.write(entropy)
    out.write(0xff); out.write(0xd9) // EOI
    val img = JpegCodec.decode(out.toByteArray)
    assert(img.width == 4 && img.height == 3)
    assert(img.pixels.toSeq == pixels.toSeq,
      "H.1.1 restart semantics: Ra prediction to end of the restart line")
    // and the codec's own encoder emits a stream this decoder (now
    // pinned to the spec) reads back identically — transferring the
    // conformance to the encode side, which shares losslessPredict
    val own = JpegCodec.encodeLossless(4, 3, 8, 4, Array(pixels), restartInterval = 5)
    assert(JpegCodec.decode(own).pixels.toSeq == pixels.toSeq)
  }

  test("multi-component lossless round-trips bit-for-bit: predictors x precisions x restarts") {
    val rng = new scala.util.Random(0x3c010)
    for (pred <- 1 to 7; prec <- Seq(8, 12, 16)) {
      val w = 7; val h = 5 // no MCU grid in lossless
      val planes = Array.fill(3)(Array.fill(w * h)(rng.nextInt(1 << prec)))
      val restart = if (pred % 2 == 0) 6 else 0
      val img = JpegCodec.decode(JpegCodec.encodeLossless(
        w, h, prec, pred, planes, restartInterval = restart))
      assert(img.channels == 3 && img.depth == prec)
      for (c <- 0 until 3; i <- 0 until w * h)
        assert(img.pixels(i * 3 + c) == planes(c)(i),
          s"pred=$pred prec=$prec comp=$c sample $i")
    }
    // 2 and 4 components, point transform
    for (nc <- Seq(2, 4)) {
      val planes = Array.fill(nc)(Array.fill(12)(rng.nextInt(256)))
      val img = JpegCodec.decode(JpegCodec.encodeLossless(
        4, 3, 8, 4, planes, pointTransform = 2))
      assert(img.channels == nc)
      for (c <- 0 until nc; i <- 0 until 12)
        assert(img.pixels(i * nc + c) == (planes(c)(i) >> 2) << 2, s"Pt nc=$nc")
    }
  }

  test("multi-component lossless conformance fixture: interleaving, per-plane prediction, per-component tables, shared restarts") {
    // Hand-built from the spec (like the H.1.1 fixture): w=3 h=2, TWO
    // components, predictor 1, restart every 4 MCUs. Component 0 codes
    // on a 5-bit category table (selector 0), component 1 on a 4-bit
    // 12-category table (selector 1) — a decoder that ignores the
    // per-component Td or reads planes in the wrong order cannot
    // reproduce these pixels. Diffs hand-derived (default pred 128,
    // H.1.1 Ra rule after the restart):
    //   MCU  c0: px pred d     c1: px pred d
    //   0    100 128 -28       200 128 +72
    //   1    110 100 +10       190 200 -10
    //   2    120 110 +10       180 190 -10
    //   3    130 100 +30 (Rb)  170 200 -30 (Rb)
    //   RST0
    //   4    140 128 +12       160 128 +32
    //   5    150 140 +10 (Ra)  150 160 -10 (Ra)
    val c0 = Array(100, 110, 120, 130, 140, 150)
    val c1 = Array(200, 190, 180, 170, 160, 150)
    val mcus: Seq[Seq[(Int, Int)]] = Seq( // per MCU: (diff, componentTableBits)
      Seq(-28 -> 5, 72 -> 4), Seq(10 -> 5, -10 -> 4), Seq(10 -> 5, -10 -> 4),
      Seq(30 -> 5, -30 -> 4), Seq(12 -> 5, 32 -> 4), Seq(10 -> 5, -10 -> 4))
    val bits = new scala.collection.mutable.ArrayBuffer[Int]()
    val bytes = new scala.collection.mutable.ArrayBuffer[Byte]()
    def flushBits(): Unit = {
      while (bits.length % 8 != 0) bits += 1
      bits.grouped(8).foreach { g =>
        val b = g.foldLeft(0)((a, x) => (a << 1) | x)
        bytes += b.toByte
        if (b == 0xff) bytes += 0x00.toByte
      }
      bits.clear()
    }
    def putBits(v: Int, n: Int): Unit =
      (n - 1 to 0 by -1).foreach(i => bits += ((v >> i) & 1))
    mcus.zipWithIndex.foreach { case (mcu, mi) =>
      if (mi == 4) { flushBits(); bytes += 0xff.toByte += 0xd0.toByte }
      mcu.foreach { case (d, codeLen) =>
        val s = if (d == 0) 0 else 32 - Integer.numberOfLeadingZeros(math.abs(d))
        putBits(s, codeLen) // canonical equal-length code for category s IS s
        if (s > 0) putBits(if (d >= 0) d else d + (1 << s) - 1, s)
      }
    }
    flushBits()
    val out = new java.io.ByteArrayOutputStream()
    def seg(m: Int, body: Array[Int]): Unit = {
      out.write(0xff); out.write(m)
      out.write((body.length + 2) >> 8); out.write((body.length + 2) & 0xff)
      body.foreach(out.write)
    }
    out.write(0xff); out.write(0xd8)
    seg(0xc4, Array(0x00) ++ Array(0, 0, 0, 0, 17, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0) ++
      (0 to 16)) // table 0: 17 five-bit codes
    seg(0xc4, Array(0x01) ++ Array(0, 0, 0, 12, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0) ++
      (0 to 11)) // table 1: 12 four-bit codes
    seg(0xdd, Array(0, 4))
    seg(0xc3, Array(8, 0, 2, 0, 3, 2, 1, 0x11, 0, 2, 0x11, 0)) // SOF3: 2 comps
    seg(0xda, Array(2, 1, 0x00, 2, 0x10, 1, 0, 0)) // predictor 1, Pt 0
    out.write(bytes.toArray)
    out.write(0xff); out.write(0xd9)
    val img = JpegCodec.decode(out.toByteArray)
    assert(img.width == 3 && img.height == 2 && img.channels == 2)
    for (i <- 0 until 6) {
      assert(img.pixels(2 * i) == c0(i), s"comp 0 sample $i")
      assert(img.pixels(2 * i + 1) == c1(i), s"comp 1 sample $i")
    }
    // the codec's own multi-component encoder reads back identically
    // under the now-pinned decoder
    val own = JpegCodec.decode(JpegCodec.encodeLossless(
      3, 2, 8, 1, Array(c0, c1), restartInterval = 4))
    for (i <- 0 until 6)
      assert(own.pixels(2 * i) == c0(i) && own.pixels(2 * i + 1) == c1(i))
  }

  test("multi-component lossless out-of-scope shapes reject loudly") {
    val good = JpegCodec.encodeLossless(4, 3, 8, 1,
      Array(Array.fill(12)(5), Array.fill(12)(9), Array.fill(12)(7)))
    val sofAt = good.indices.find(i =>
      (good(i) & 0xff) == 0xff && (good(i + 1) & 0xff) == 0xc3).get
    // subsampled multi-component lossless rejects
    val sub = good.clone()
    sub(sofAt + 4 + 7) = 0x21.toByte // comp 0 hv
    assert(intercept[IllegalArgumentException](JpegCodec.decode(sub))
      .getMessage.contains("1x1"))
    // a partial (single-component) scan over a 3-component frame rejects
    val sosAt = good.indices.find(i =>
      (good(i) & 0xff) == 0xff && (good(i + 1) & 0xff) == 0xda).get
    val partial = good.clone()
    partial(sosAt + 4) = 1.toByte // ns = 1
    assert(intercept[IllegalArgumentException](JpegCodec.decode(partial))
      .getMessage.toLowerCase.contains("scan"))
    // 5 components exceed Table B.7
    assert(intercept[IllegalArgumentException](
      JpegCodec.encodeLossless(2, 2, 8, 1, Array.fill(5)(Array.fill(4)(0))))
      .getMessage.contains("2..4"))
  }

  test("lossless out-of-scope shapes reject loudly") {
    assert(intercept[IllegalArgumentException](
      JpegCodec.encodeLossless(4, 4, 17, 1, Array(Array.fill(16)(0))))
      .getMessage.contains("2..16"))
    assert(intercept[IllegalArgumentException](
      JpegCodec.encodeLossless(4, 4, 8, 8, Array(Array.fill(16)(0))))
      .getMessage.contains("1..7"))
    // decode-side: a lossless scan with Se != 0 rejects
    val good = JpegCodec.encodeLossless(4, 4, 8, 3, Array(Array.fill(16)(5)))
    val sosAt = good.indices.find(i =>
      (good(i) & 0xff) == 0xff && (good(i + 1) & 0xff) == 0xda).get
    val bad = good.clone()
    bad(sosAt + 4 + 3 + 1) = 9.toByte // Se byte of the single-component SOS
    assert(intercept[IllegalArgumentException](JpegCodec.decode(bad))
      .getMessage.contains("Se=0"))
  }

  /** Independent direct-form IDCT at 12-bit reach (+2048 shift, 0..4095
    * clamp) — same first-principles formula, no shared tables. */
  private def refIdct12(coef: Array[Int]): Array[Int] =
    Array.tabulate(64) { i =>
      val x = i % 8; val y = i / 8
      var s = 0.0
      for (u <- 0 until 8; v <- 0 until 8) {
        val cu = if (u == 0) 1.0 / math.sqrt(2.0) else 1.0
        val cv = if (v == 0) 1.0 / math.sqrt(2.0) else 1.0
        s += cu * cv * coef(v * 8 + u) *
          math.cos((2 * x + 1) * u * math.Pi / 16.0) *
          math.cos((2 * y + 1) * v * math.Pi / 16.0)
      }
      math.max(0, math.min(4095, math.round(s / 4.0 + 2048.0).toInt))
    }

  test("12-bit SOF1: constant blocks round-trip exactly, depth carried") {
    val rng = new scala.util.Random(0x12b1)
    (1 to 8).foreach { _ =>
      val bw = 1 + rng.nextInt(3); val bh = 1 + rng.nextInt(3)
      val w = bw * 8; val h = bh * 8
      val px = new Array[Int](w * h)
      for (by <- 0 until bh; bx <- 0 until bw) {
        val v = 64 * rng.nextInt(64) // multiples of 64: q=512 | 8·(v−2048)
        for (y <- 0 until 8; x <- 0 until 8) px((by * 8 + y) * w + bx * 8 + x) = v
      }
      val img = JpegCodec.decode(JpegCodec.encode(Frame.gray(w, h, 512,
        JpegCodec.constantBlocks(w, h, 12, 512)((x, y) => px(y * w + x))).copy(precision = 12)))
      assert(img.width == w && img.height == h && img.channels == 1)
      assert(img.depth == 12, "12-bit precision must survive to the caller")
      assert(img.pixels.toSeq == px.toSeq, "exact 12-bit reconstruction")
    }
  }

  test("12-bit SOF1: general AC + deep DC swings decode to the independent reference") {
    // q=300 only fits a Pq=1 (16-bit) DQT entry — a decoder that parsed
    // the table as bytes would dequantize with 300 & 0xFF = 44 and fail
    // every block below. DC swings of ±12k quantized steps force DC
    // difference categories up to 15 and AC values to ±16383 force
    // sizes up to 14 — the reach baseline tables cannot express.
    val rng = new scala.util.Random(0x12b2)
    val q = 300
    (1 to 10).foreach { _ =>
      val bw = 1 + rng.nextInt(3); val bh = 1 + rng.nextInt(2)
      val blocks = Array.tabulate(bw * bh) { bi =>
        val blk = new Array[Int](64)
        blk(0) = (if (bi % 2 == 0) 1 else -1) * (8000 + rng.nextInt(4000))
        (1 to 1 + rng.nextInt(12)).foreach { _ =>
          blk(1 + rng.nextInt(63)) = rng.nextInt(32767) - 16383
        }
        blk
      }
      val ri = if (rng.nextBoolean()) 2 else 0
      val bytes = JpegCodec.encode(
        Frame.gray(bw * 8, bh * 8, q, blocks).copy(precision = 12, restartInterval = ri))
      val img = JpegCodec.decode(bytes)
      assert(img.depth == 12)
      for (bi <- 0 until bw * bh) {
        val expect = refIdct12(Array.tabulate(64)(i => blocks(bi)(i) * q))
        val bx = bi % bw; val by = bi / bw
        for (y <- 0 until 8; x <- 0 until 8) {
          val got = img.pixels((by * 8 + y) * bw * 8 + bx * 8 + x)
          assert(math.abs(got - expect(y * 8 + x)) <= 1,
            s"block $bi ($x,$y): got $got want ${expect(y * 8 + x)}")
        }
      }
    }
  }

  test("8-bit SOF1 decodes exactly as its SOF0 twin; 12-bit rejects stay loud") {
    // extended-sequential at 8-bit is semantically baseline: flip the
    // SOF marker byte and require a bit-identical raster
    val px = new Array[Int](16 * 8)
    for (y <- 0 until 8; x <- 0 until 16)
      px(y * 16 + x) = 2 * (((x / 8) * 31 + 7) % 128)
    val sof0 = JpegCodec.encode(Frame.gray(16, 8, 16,
      JpegCodec.constantBlocks(16, 8, 8, 16)((x, y) => px(y * 16 + x))))
    val at = sof0.indices.find(i =>
      (sof0(i) & 0xff) == 0xff && (sof0(i + 1) & 0xff) == 0xc0).get
    val sof1 = sof0.clone(); sof1(at + 1) = 0xc1.toByte
    assert(JpegCodec.decode(sof1).pixels.toSeq == JpegCodec.decode(sof0).pixels.toSeq)
    // 12-bit color: patch a 4:4:4 color file to SOF1/P=12 → grayscale-only
    val color = JpegCodec.encode(Frame.ycc(8, 8, 16, 16,
      Array(Array.fill(64)(0)), Array(Array.fill(64)(0)), Array(Array.fill(64)(0)), 1, 1))
    val cAt = color.indices.find(i =>
      (color(i) & 0xff) == 0xff && (color(i + 1) & 0xff) == 0xc0).get
    val bad = color.clone(); bad(cAt + 1) = 0xc1.toByte; bad(cAt + 4) = 12.toByte
    assert(intercept[IllegalArgumentException](JpegCodec.decode(bad))
      .getMessage.contains("grayscale only"))
    // SOF1 precision 10 is out of spec
    val p10 = sof1.clone(); p10(at + 4) = 10.toByte
    assert(intercept[IllegalArgumentException](JpegCodec.decode(p10))
      .getMessage.contains("8 or 12"))
    // DQT Pq=2 is malformed
    val twelve = JpegCodec.encode(Frame.gray(8, 8, 512,
      JpegCodec.constantBlocks(8, 8, 12, 512)((_, _) => 1024)).copy(precision = 12))
    val qAt = twelve.indices.find(i =>
      (twelve(i) & 0xff) == 0xff && (twelve(i + 1) & 0xff) == 0xdb).get
    val badQ = twelve.clone(); badQ(qAt + 4) = 0x20.toByte
    assert(intercept[IllegalArgumentException](JpegCodec.decode(badQ))
      .getMessage.contains("Pq"))
  }

  test("decodeJpeg query emits decoder-derived features on the fixture corpus") {
    import TestSpark._
    val rows = graft.ops.Multimodal.decodeJpeg(spark, sf).collect()
    assert(rows.length == Tables.documents(spark, sf).count())
    rows.foreach { r =>
      val id = r.getLong(0)
      assert(r.getInt(1) == (8 * (1 + id % 3)).toInt, "width")
      assert(r.getInt(2) == (8 * (1 + id % 2)).toInt, "height")
      assert(r.getInt(5) <= 254 && r.getInt(5) % 2 == 0, "peak is an even byte")
    }
  }
}
