package graft.ops

/** A REAL JPEG (ITU-T T.81) codec in plain Scala. The JDK's ImageIO reads
  * baseline and progressive JPEG, but it cannot read the arithmetic,
  * lossless or 12-bit modes, and its encoder quantizes pixels it
  * transforms itself, so it cannot write the coefficient-exact fixtures
  * the oracle gates need; both directions are therefore implemented
  * here: marker segments (SOI/DQT/SOF/DHT/SOS/DRI/EOI), canonical
  * Huffman table construction from DHT, the spec's EXTEND/RECEIVE
  * magnitude coding, DC prediction, run/size AC coding with EOB and ZRL,
  * 0xFF00 byte unstuffing, dequantization, inverse zigzag, and a
  * double-precision IDCT with level shift + clamp.
  *
  * Scope: baseline sequential (SOF0), extended sequential (SOF1 —
  * including 12-bit grayscale with 16-bit Pq=1 quant tables, the
  * Huffman DICOM-export mode), progressive (SOF2) AND lossless
  * (SOF3, T.81 Annex H — predictors 1..7 at any precision 2..16 with
  * point transform and restarts, the mode old medical/DNG corpora
  * carry; 1..4 interleaved components; after an RSTn the remainder of
  * that sample line predicts 1-D from Ra per H.1.1, matching external
  * conformant codecs) Huffman coding, PLUS ARITHMETIC coding (the T.81
  * Annex D QM-coder with the full Table D.3 estimation state machine
  * and DAC conditioning with spec defaults): SOF9 sequential at 8- and
  * 12-bit grayscale and 8-bit YCbCr, decode AND encode, with
  * per-interval statistics resets at restarts; SOF10 progressive DECODE
  * covering all four G.2 scan procedures (DC first/refine, AC band
  * first/refine with the kex EOB rule). Every arithmetic path is pinned
  * EXACTLY against the system libjpeg via entropy-level transcoding
  * in JpegArithSpec — tools/jpegarith.c regenerates the fixtures —
  * so conformance does not rest on shared-code round-trips (an encoder
  * and decoder sharing a bug agree with each other). For the 8-bit DCT
  * modes, grayscale (one component) AND YCbCr color with the full T.81
  * sampling-factor range 1..4 — 4:4:4, 4:2:0 (the dominant real-world
  * encoding), 4:2:2, 4:4:0 and the DV-derived 4:1:1 / 4:1:0.
  * Progressive decoding covers the full T.81 G.1.2 surface a real scan
  * script uses: interleaved and single-component DC scans, spectral
  * selection (AC bands per component, non-interleaved as the spec
  * requires), successive approximation (one-bit DC and AC refinement
  * scans with EOB-run coding and correction bits), tables redefined
  * between scans, and restart intervals inside any scan. The decoder is
  * multi-scan: every scan accumulates into per-component coefficient
  * buffers; dequant + IDCT happen once at assembly, so baseline and
  * progressive share one reconstruction path and a progressive file
  * decodes EXACTLY the raster its sequential re-encoding does
  * (JpegCodecSpec pins this bit for bit). Subsampled chroma upsamples
  * by sample replication at the BT.601 conversion; arbitrary
  * (non-8-aligned) dims decode via full edge MCUs clipped on output;
  * per-component quant/Huffman table selectors honored; restart
  * intervals (DRI/RSTn — ubiquitous in camera output) decode with byte
  * realignment, modulo-8 marker verification, DC-chain and EOB-run
  * resets, and a lost or reordered restart marker rejects loudly
  * instead of desynchronizing every later MCU. Everything else — 12-bit
  * color, hierarchical, scan component order differing from the
  * frame — is rejected LOUDLY.
  *
  * One frame model serves every DCT mode: [[encode]] takes a [[Frame]]
  * and writes it through one header writer, and every scan — the
  * Huffman and arithmetic decoders, the sequential and progressive
  * encoders — visits its blocks through one MCU walk ([[Geometry.walk]]).
  *
  * Determinism note (how a LOSSY format still hash-gates): the oracle
  * fixtures are grids of CONSTANT 8×8 blocks with EVEN sample values
  * and a uniform quant step of 16. A constant block's DCT is DC-only
  * with DC = 8·(v−128); v even ⇒ DC divisible by 16 ⇒ quantization is
  * EXACT, and the DC-only IDCT is a constant whose float error (~1e-13)
  * vanishes under round-to-int. So the decoded raster provably equals
  * the generator's closed form, and the DuckDB oracle re-derives it —
  * through a genuinely lossy pipeline ([[constantBlocks]] checks both
  * conditions). The general AC paths are exercised in JpegCodecSpec
  * against an independent IDCT reference.
  */
object JpegCodec {

  /** Decoded image: `channels` 1 (gray, pixels = luma) or 3 (color,
    * pixels = row-major interleaved RGB after the JFIF conversion). */
  final case class Jpeg(width: Int, height: Int, pixels: Array[Int],
      channels: Int = 1, depth: Int = 8)

  // zigzag index -> (row-major) coefficient index, per T.81 Figure 5
  private[graft] val Zigzag: Array[Int] = {
    val order = new Array[Int](64)
    var i = 0; var x = 0; var y = 0; var up = true
    while (i < 64) {
      order(i) = y * 8 + x
      if (up) {
        if (x == 7) { y += 1; up = false }
        else if (y == 0) { x += 1; up = false }
        else { x += 1; y -= 1 }
      } else {
        if (y == 7) { x += 1; up = true }
        else if (x == 0) { y += 1; up = true }
        else { x -= 1; y += 1 }
      }
      i += 1
    }
    order
  }

  /** Simple custom Huffman specs (written into DHT, so any spec-correct
    * decoder reads them back): DC = 12 categories, all 4-bit codes;
    * AC = the 162 standard (run,size) symbols plus EOB/ZRL, all 9-bit
    * codes. Both satisfy Kraft with the all-ones code unused. */
  private[graft] val DcBits: Array[Int] = { val b = new Array[Int](17); b(4) = 12; b }
  private[graft] val DcVals: Array[Int] = (0 to 11).toArray
  // lossless difference categories 0..16 (T.81 table H.2 — SSSS 16 is the
  // bitless +32768 case), all 5-bit codes (Kraft: 17 ≤ 32, all-ones unused)
  private[graft] val LsBits: Array[Int] = { val b = new Array[Int](17); b(5) = 17; b }
  private[graft] val LsVals: Array[Int] = (0 to 16).toArray
  private[graft] val AcBits: Array[Int] = { val b = new Array[Int](17); b(9) = 162; b }
  private[graft] val AcVals: Array[Int] = {
    // EOB, ZRL, then (run 0..15, size 1..10) ascending: 2 + 160 = 162
    // symbols, all 9-bit (Kraft: 162 ≤ 512; last canonical code 161 is
    // not the reserved all-ones)
    val vs = collection.mutable.ArrayBuffer[Int](0x00, 0xf0)
    for (run <- 0 to 15; size <- 1 to 10) vs += ((run << 4) | size)
    require(vs.size == 162, s"ac symbol count ${vs.size}")
    vs.toArray
  }
  // 12-bit extended-sequential reach (T.81 F.1.2.1 at P=12): DC
  // categories 0..15, all 5-bit codes (16 ≤ 32, all-ones unused); AC
  // (run,size) with size 1..14 plus EOB/ZRL = 226 symbols, all 9-bit
  // codes (226 ≤ 512, last canonical code 225 is not the reserved
  // all-ones). Written into DHT, so any spec-correct decoder reads them.
  private[graft] val Dc12Bits: Array[Int] = { val b = new Array[Int](17); b(5) = 16; b }
  private[graft] val Dc12Vals: Array[Int] = (0 to 15).toArray
  private[graft] val Ac12Bits: Array[Int] = { val b = new Array[Int](17); b(9) = 226; b }
  private[graft] val Ac12Vals: Array[Int] = {
    val vs = collection.mutable.ArrayBuffer[Int](0x00, 0xf0)
    for (run <- 0 to 15; size <- 1 to 14) vs += ((run << 4) | size)
    require(vs.size == 226, s"ac12 symbol count ${vs.size}")
    vs.toArray
  }
  /** AC Huffman spec for PROGRESSIVE scans: the baseline 162 symbols
    * plus the EOBn symbols (r<<4, r = 1..14) that successive-
    * approximation scans emit for EOB runs longer than one block.
    * 176 nine-bit codes (Kraft: 176 ≤ 511, all-ones unused). */
  private[graft] val ProgAcBits: Array[Int] = { val b = new Array[Int](17); b(9) = 176; b }
  private[graft] val ProgAcVals: Array[Int] = {
    val vs = collection.mutable.ArrayBuffer[Int](0x00, 0xf0)
    for (r <- 1 to 14) vs += (r << 4)
    for (run <- 0 to 15; size <- 1 to 10) vs += ((run << 4) | size)
    require(vs.size == 176, s"prog ac symbol count ${vs.size}")
    vs.toArray
  }

  /** Canonical code assignment (T.81 Annex C): symbols in `vals` order,
    * lengths from `bits`; returns symbol -> (code, length). */
  private def canonicalCodes(bits: Array[Int], vals: Array[Int]): Map[Int, (Int, Int)] = {
    var code = 0; var k = 0
    val out = collection.mutable.Map[Int, (Int, Int)]()
    var len = 1
    while (len <= 16) {
      var i = 0
      while (i < bits(len)) {
        out(vals(k)) = (code, len)
        code += 1; k += 1; i += 1
      }
      code <<= 1
      len += 1
    }
    out.toMap
  }

  private class BitWriter {
    private val out = new java.io.ByteArrayOutputStream()
    private var acc = 0; private var n = 0
    def put(code: Int, len: Int): Unit = {
      var i = len - 1
      while (i >= 0) {
        acc = (acc << 1) | ((code >> i) & 1); n += 1
        if (n == 8) {
          out.write(acc)
          if (acc == 0xff) out.write(0x00) // byte stuffing
          acc = 0; n = 0
        }
        i -= 1
      }
    }
    /** The `s` low bits of a value of magnitude category `s` (T.81
      * F.1.2.1: ones' complement for negatives). */
    def putValue(v: Int, s: Int): Unit = put(if (v >= 0) v else v + (1 << s) - 1, s)
    def finish(): Array[Byte] = {
      flushByte()
      out.toByteArray
    }
    private def flushByte(): Unit =
      if (n > 0) { // pad with 1-bits per spec
        acc = (acc << (8 - n)) | ((1 << (8 - n)) - 1)
        out.write(acc)
        if (acc == 0xff) out.write(0x00)
        acc = 0; n = 0
      }
    /** Byte-align (1-bit padding) and emit RSTm — T.81 restart marker. */
    def restart(m: Int): Unit = {
      flushByte()
      out.write(0xff); out.write(0xd0 + (m & 7))
    }
  }

  private def magnitude(v: Int): Int = {
    var s = 0; var a = math.abs(v)
    while (a > 0) { s += 1; a >>= 1 }
    s
  }

  /** Code a DC-style difference: its magnitude category, then the value
    * bits. A category the table lacks rejects loudly. */
  private def putDiff(bits: BitWriter, codes: Map[Int, (Int, Int)], d: Int): Unit = {
    val s = magnitude(d)
    require(codes.contains(s), s"DC difference $d too large for the table")
    val (c, l) = codes(s); bits.put(c, l)
    if (s > 0) bits.putValue(d, s)
  }

  /** Entropy-encode one quantized block (NATURAL order) and return the
    * block's DC for the caller's per-component predictor chain. */
  private def writeBlock(bits: BitWriter, blk: Array[Int], prevDc: Int,
      dcC: Map[Int, (Int, Int)], acC: Map[Int, (Int, Int)]): Int = {
    putDiff(bits, dcC, blk(0) - prevDc)
    // AC in zigzag order with run/size coding
    var k = 1; var run = 0
    while (k < 64) {
      val v = blk(Zigzag(k))
      if (v == 0) { run += 1 }
      else {
        while (run >= 16) { val (zc, zl) = acC(0xf0); bits.put(zc, zl); run -= 16 }
        val sz = magnitude(v)
        require(acC.contains((run << 4) | sz), s"AC magnitude $v too large for the table")
        val (ac, al) = acC((run << 4) | sz); bits.put(ac, al)
        bits.putValue(v, sz)
        run = 0
      }
      k += 1
    }
    if (run > 0) { val (ec, el) = acC(0x00); bits.put(ec, el) }
    blk(0)
  }

  // ---- marker segments: one header writer for every frame ----

  private def marker(out: java.io.ByteArrayOutputStream, m: Int): Unit = {
    out.write(0xff); out.write(m)
  }
  private def seg(out: java.io.ByteArrayOutputStream, m: Int, body: Seq[Int]): Unit = {
    marker(out, m)
    out.write((body.length + 2) >> 8); out.write((body.length + 2) & 0xff)
    body.foreach(b => out.write(b & 0xff))
  }
  /** One DHT table: class (0 DC, 1 AC), id, code-length counts, symbols. */
  private def dht(cls: Int, id: Int, bits: Array[Int], vals: Array[Int]): (Int, Seq[Int]) =
    0xc4 -> (((cls << 4) | id) +: ((1 to 16).map(bits(_)) ++ vals))

  /** Everything a frame carries before its first scan, in one order for
    * every mode: SOI, DQT (DCT frames: one uniform table per step, 8-bit
    * entries at precision 8, 16-bit Pq=1 entries otherwise), DRI (when
    * restarts are on), SOF (component ids 1..n with their sampling byte
    * and quant selector), then the DHT or DAC segments. */
  private def writeHeader(out: java.io.ByteArrayOutputStream, sof: Int,
      precision: Int, width: Int, height: Int, comps: Seq[(Int, Int)],
      quant: Seq[Int], restartInterval: Int, tables: Seq[(Int, Seq[Int])]): Unit = {
    marker(out, 0xd8)
    if (quant.nonEmpty)
      seg(out, 0xdb, quant.indices.flatMap { t =>
        if (precision == 8) t +: Seq.fill(64)(quant(t))
        else (0x10 | t) +: Seq.fill(64)(Seq(quant(t) >> 8, quant(t))).flatten
      })
    if (restartInterval > 0) seg(out, 0xdd, Seq(restartInterval >> 8, restartInterval))
    seg(out, sof, Seq(precision, height >> 8, height, width >> 8, width, comps.size) ++
      comps.zipWithIndex.flatMap { case ((hv, tq), ci) => Seq(ci + 1, hv, tq) })
    tables.foreach { case (m, body) => seg(out, m, body) }
  }

  /** SOS: (frame component index, table-selector byte) per scan
    * component, then Ss, Se and Ah<<4|Al (lossless scans carry the
    * predictor in Ss and the point transform in Al). */
  private def sos(out: java.io.ByteArrayOutputStream, comps: Seq[(Int, Int)],
      ss: Int, se: Int, ahal: Int): Unit =
    seg(out, 0xda, (comps.size +: comps.flatMap { case (ci, sel) => Seq(ci + 1, sel) }) ++
      Seq(ss, se, ahal))

  // ---- frame geometry and the one MCU walk (T.81 A.2) ----

  /** Block geometry of a frame whose components sample at `h`×`v`
    * (T.81 A.2.3): the interleaved MCU covers 8·hmax × 8·vmax pixels and
    * carries hi×vi raster-ordered blocks per component. Component planes
    * live at reduced resolution and are stored on the full MCU grid
    * (`padW` × `padH` blocks), so partial edge MCUs decode in full and
    * clip on output; `trueW` × `trueH` is the component's OWN block grid
    * (ceil(compW/8) × ceil(compH/8)) — what a non-interleaved scan walks
    * (A.2.2), NOT the padded grid. */
  private final class Geometry(width: Int, height: Int,
      val h: Array[Int], val v: Array[Int]) {
    val hmax: Int = h.max
    val vmax: Int = v.max
    val mcusX: Int = (width + 8 * hmax - 1) / (8 * hmax)
    val mcusY: Int = (height + 8 * vmax - 1) / (8 * vmax)
    val padW: Array[Int] = h.map(mcusX * _)
    val padH: Array[Int] = v.map(mcusY * _)
    val trueW: Array[Int] = h.map(hi => ((width * hi + hmax - 1) / hmax + 7) / 8)
    val trueH: Array[Int] = v.map(vi => ((height * vi + vmax - 1) / vmax + 7) / 8)

    /** Visit one scan's blocks in stream order. `scan` lists frame
      * component indices; `block(si, b)` gets the position `si` in `scan`
      * and the block's index `b` on that component's padded grid. A
      * one-component scan is non-interleaved: it walks the component's
      * own grid, one block per data unit. An interleaved scan visits
      * hi×vi blocks per component per MCU. `restart(m)` fires before
      * every `restartInterval`-th data unit after the first, with `m` the
      * RSTm number (mod 8). */
    def walk(scan: Array[Int], restartInterval: Int)(restart: Int => Unit)(
        block: (Int, Int) => Unit): Unit = {
      val interleaved = scan.length > 1
      val units = if (interleaved) mcusX * mcusY else trueW(scan(0)) * trueH(scan(0))
      var u = 0
      while (u < units) {
        if (restartInterval > 0 && u > 0 && u % restartInterval == 0)
          restart((u / restartInterval - 1) & 7)
        if (interleaved) {
          val mx = u % mcusX; val my = u / mcusX
          var si = 0
          while (si < scan.length) {
            val ci = scan(si)
            var b = 0
            while (b < h(ci) * v(ci)) {
              block(si, (my * v(ci) + b / h(ci)) * padW(ci) + mx * h(ci) + b % h(ci))
              b += 1
            }
            si += 1
          }
        } else {
          val ci = scan(0); val bw = trueW(ci)
          block(0, (u / bw) * padW(ci) + u % bw)
        }
        u += 1
      }
    }
  }

  // ---- DCT encoder ----

  /** One component of a [[Frame]]: quantized coefficient blocks in
    * NATURAL (row-major, not zigzag) order, in raster order over the
    * component's own block grid; its sampling factors; and the table
    * selector its quant step and entropy tables are read from. */
  final case class Component(blocks: Array[Array[Int]], h: Int, v: Int, table: Int)

  /** A DCT frame for [[encode]]: dims, precision (8 or 12), components,
    * the uniform quant step of each table selector, the entropy coder
    * (Huffman, or the arithmetic QM-coder), the scan structure (one
    * sequential scan, or the canonical progressive script) and the
    * restart interval in data units. */
  final case class Frame(width: Int, height: Int, components: Seq[Component],
      quant: Seq[Int], precision: Int, arithmetic: Boolean, progressive: Boolean,
      restartInterval: Int)

  object Frame {
    /** A sequential 8-bit Huffman grayscale frame: one component on table 0. */
    def gray(width: Int, height: Int, q: Int, blocks: Array[Array[Int]]): Frame =
      Frame(width, height, Seq(Component(blocks, 1, 1, 0)), Seq(q),
        precision = 8, arithmetic = false, progressive = false, restartInterval = 0)

    /** A sequential 8-bit Huffman YCbCr frame in the JFIF table
      * assignment: Y at `sh`×`sv` sampling on table 0 ((w/8)·(h/8)
      * blocks), both chromas 1×1 SHARING table 1 ((w/8sh)·(h/8sv) blocks
      * each) — 1×1 is 4:4:4, 2×2 4:2:0, 2×1 4:2:2, 4×1 4:1:1. */
    def ycc(width: Int, height: Int, qY: Int, qC: Int, y: Array[Array[Int]],
        cb: Array[Array[Int]], cr: Array[Array[Int]], sh: Int, sv: Int): Frame =
      Frame(width, height,
        Seq(Component(y, sh, sv, 0), Component(cb, 1, 1, 1), Component(cr, 1, 1, 1)),
        Seq(qY, qC), precision = 8, arithmetic = false, progressive = false,
        restartInterval = 0)
  }

  // conditioning defaults (T.81 F.1.4.4.1.2 / F.1.4.4.2.1): the encoder
  // writes them into DAC, the decoder assumes them when DAC is absent
  private val DacDefaultL = 0
  private val DacDefaultU = 1
  private val DacDefaultKx = 5

  /** The canonical progressive script: DC first at Al=1 over every
    * component (interleaved when there are several), the first
    * component's AC split into the bands 1..5 and 6..63 around the other
    * components' whole-band AC, then one-bit refinements of everything
    * (DC interleaved, AC per component). Each entry is (components, Ss,
    * Se, Ah, Al). */
  private def progressiveScript(nc: Int): Seq[(Array[Int], Int, Int, Int, Int)] = {
    val all = Array.range(0, nc)
    Seq((all, 0, 0, 0, 1), (Array(0), 1, 5, 0, 1)) ++
      (1 until nc).map(c => (Array(c), 1, 63, 0, 1)) ++
      Seq((Array(0), 6, 63, 0, 1), (all, 0, 0, 1, 0)) ++
      (0 until nc).map(c => (Array(c), 1, 63, 1, 0))
  }

  /** Encode a DCT frame: sequential Huffman (SOF0; SOF1 at 12-bit),
    * sequential arithmetic (SOF9, default conditioning spelled out in
    * DAC; every restart interval flushes the coder and resets the
    * statistics) or progressive Huffman (SOF2, [[progressiveScript]]). A
    * spec-correct progressive decoder reconstructs EXACTLY the raster the
    * sequential encoding of the same blocks produces. Rejects loudly what
    * the decoder cannot read back (12-bit colour, 12-bit progressive) and
    * what this encoder does not write (arithmetic progressive, subsampled
    * chroma, dims off the MCU grid). */
  def encode(frame: Frame): Array[Byte] = {
    import frame._
    val nc = components.size
    require(precision == 8 || precision == 12, s"DCT precision must be 8 or 12, got $precision")
    require(nc == 1 || nc == 3, s"1 (gray) or 3 (YCbCr) components, got $nc")
    require(precision == 8 || nc == 1, "12-bit frames are grayscale only")
    require(!progressive || (precision == 8 && !arithmetic),
      "progressive frames are 8-bit Huffman only")
    val y = components.head
    require(if (nc == 1) y.h == 1 && y.v == 1
      else y.h >= 1 && y.h <= 4 && y.v >= 1 && y.v <= 4 && y.h * y.v <= 8 &&
        components.tail.forall(c => c.h == 1 && c.v == 1),
      "sampling must be 1x1 for gray; for color, Y 1..4 x 1..4 with at most " +
        s"8 luma blocks per MCU over 1x1 chroma, got ${components.map(c => s"${c.h}x${c.v}")}")
    val maxQ = if (precision == 8) 255 else 65535
    require(quant.size <= 4 && quant.forall(q => q >= 1 && q <= maxQ),
      s"at most 4 quant steps, each 1..$maxQ, got $quant")
    require(components.forall(c => quant.indices.contains(c.table)),
      "every component's table selector needs a quant step")
    require(restartInterval >= 0 && restartInterval <= 0xffff,
      s"restart interval $restartInterval out of range")
    val geo = new Geometry(width, height, components.map(_.h).toArray, components.map(_.v).toArray)
    require(width > 0 && height > 0 && width <= 0xffff && height <= 0xffff &&
      width % (8 * geo.hmax) == 0 && height % (8 * geo.vmax) == 0,
      s"dims must align to the ${8 * geo.hmax}x${8 * geo.vmax} MCU: ${width}x$height")
    val blocks = components.map(_.blocks).toArray
    blocks.indices.foreach { ci =>
      val n = geo.trueW(ci) * geo.trueH(ci)
      require(blocks(ci).length == n && blocks(ci).forall(_.length == 64),
        s"component $ci: need $n blocks of 64 coefficients, got ${blocks(ci).length}")
    }
    val (dcBits, dcVals, acBits, acVals) =
      if (precision == 12) (Dc12Bits, Dc12Vals, Ac12Bits, Ac12Vals)
      else if (progressive) (DcBits, DcVals, ProgAcBits, ProgAcVals)
      else (DcBits, DcVals, AcBits, AcVals)
    val dcC = canonicalCodes(dcBits, dcVals)
    val acC = canonicalCodes(acBits, acVals)
    val tables =
      if (arithmetic)
        Seq(0xcc -> (quant.indices.flatMap(t => Seq(t, (DacDefaultU << 4) | DacDefaultL)) ++
          quant.indices.flatMap(t => Seq(0x10 | t, DacDefaultKx))))
      else quant.indices.flatMap(t => Seq(dht(0, t, dcBits, dcVals), dht(1, t, acBits, acVals)))
    val sof =
      if (progressive) 0xc2 else if (arithmetic) 0xc9 else if (precision == 12) 0xc1 else 0xc0
    val out = new java.io.ByteArrayOutputStream()
    writeHeader(out, sof, precision, width, height,
      components.map(c => ((c.h << 4) | c.v, c.table)), quant, restartInterval, tables)
    def sel(ci: Int): (Int, Int) = ci -> ((components(ci).table << 4) | components(ci).table)
    val all = Array.range(0, nc)
    if (progressive) {
      val zig = blocks.map(_.map(blk => Array.tabulate(64)(k => blk(Zigzag(k)))))
      progressiveScript(nc).foreach { case (scan, ss, se, ah, al) =>
        sos(out, scan.toSeq.map(sel), ss, se, (ah << 4) | al)
        out.write(progressiveScan(geo, scan, zig, ss, se, ah, al, restartInterval, dcC, acC))
      }
    } else {
      sos(out, all.toSeq.map(sel), 0, 63, 0)
      if (arithmetic) {
        val enc = new ArithEncoder
        val stats = new ArithStats(nc, Array.fill(4)(DacDefaultL),
          Array.fill(4)(DacDefaultU), Array.fill(4)(DacDefaultKx))
        geo.walk(all, restartInterval) { m =>
          out.write(enc.flush()); marker(out, 0xd0 + m)
          stats.reset()
        } { (si, b) =>
          val blk = blocks(si)(b); val t = components(si).table
          arithEncodeDc(enc, stats, t, si, blk(0))
          arithEncodeAc(enc, stats, t, blk, 1, 63)
        }
        out.write(enc.flush())
      } else {
        val bits = new BitWriter
        val prevDc = new Array[Int](nc)
        geo.walk(all, restartInterval) { m =>
          bits.restart(m)
          java.util.Arrays.fill(prevDc, 0) // restart resets the DC prediction chains
        } { (si, b) =>
          prevDc(si) = writeBlock(bits, blocks(si)(b), prevDc(si), dcC, acC)
        }
        out.write(bits.finish())
      }
    }
    marker(out, 0xd9)
    out.toByteArray
  }

  /** One progressive AC SCAN's encoder state (the encoder mirror of the
    * T.81 G.1.2.2/G.1.2.3 decoding flowcharts): EOB runs aggregate
    * across blocks, and refinement correction bits buffer until the
    * symbol that covers them is emitted (first the in-block symbol's
    * own bits, then the buffered corrections — exactly the order the
    * decoder's band walk consumes them in). */
  private class ProgAcWriter(bits: BitWriter, acC: Map[Int, (Int, Int)]) {
    private var eobRun = 0
    private val eobBits = new collection.mutable.ArrayBuffer[Int] // corrections riding the EOB run

    private def emitAc(sym: Int): Unit = { val (c, l) = acC(sym); bits.put(c, l) }

    /** Flush the pending EOB run (EOBn symbol + extra bits) followed by
      * the correction bits buffered under it. */
    def flushEob(): Unit = {
      if (eobRun > 0) {
        var nb = 0
        while ((eobRun >> (nb + 1)) > 0) nb += 1 // floor(log2(eobRun))
        emitAc(nb << 4)
        if (nb > 0) bits.put(eobRun - (1 << nb), nb)
        eobRun = 0
      }
      eobBits.foreach(b => bits.put(b, 1))
      eobBits.clear()
    }

    /** First AC scan (Ah=0) for one block: run/size coding of the
      * point-transformed band, EOB runs aggregated across blocks. */
    def firstBlock(zig: Array[Int], ss: Int, se: Int, al: Int): Unit = {
      var r = 0
      var k = ss
      while (k <= se) {
        val v = zig(k)
        val t = if (v >= 0) v >> al else -((-v) >> al) // AC point transform
        if (t == 0) r += 1
        else {
          flushEob()
          while (r > 15) { emitAc(0xf0); r -= 16 }
          val sz = magnitude(t)
          require(sz <= 10, s"AC magnitude $t too large for the table")
          emitAc((r << 4) | sz)
          bits.putValue(t, sz)
          r = 0
        }
        k += 1
      }
      if (r > 0) {
        eobRun += 1
        if (eobRun == 0x7fff) flushEob()
      }
    }

    /** Refinement AC scan (Ah=Al+1) for one block: newly-significant
      * coefficients emit (run,1)+sign, already-nonzero ones queue one
      * correction bit each; runs count only zero-history positions and
      * trailing content folds into the EOB run. */
    def refineBlock(zig: Array[Int], ss: Int, se: Int, al: Int): Unit = {
      // last newly-significant position: zeros beyond it fold into EOB
      var eobPos = ss - 1
      var k = ss
      while (k <= se) {
        val a = math.abs(zig(k)) >> al
        if (a == 1) eobPos = k
        k += 1
      }
      var r = 0
      val pending = new collection.mutable.ArrayBuffer[Int]
      k = ss
      while (k <= se) {
        val a = math.abs(zig(k)) >> al
        if (a == 0) r += 1
        else {
          // ZRLs only when a later newly-significant coef needs the run
          while (r > 15 && k <= eobPos) {
            flushEob()
            emitAc(0xf0); r -= 16
            pending.foreach(b => bits.put(b, 1)); pending.clear()
          }
          if (a > 1) pending += (a & 1) // correction bit; run unaffected
          else {
            flushEob()
            emitAc((r << 4) | 1); r = 0
            bits.put(if (zig(k) >= 0) 1 else 0, 1) // sign of the new coef
            pending.foreach(b => bits.put(b, 1)); pending.clear()
          }
        }
        k += 1
      }
      if (r > 0 || pending.nonEmpty) {
        eobRun += 1
        eobBits ++= pending
        if (eobRun == 0x7fff) flushEob()
      }
    }
  }

  /** One progressive scan's entropy data over zigzag-ordered blocks: a DC
    * scan (Ss=0) codes the point-transformed DC difference (first pass)
    * or one raw bit per block (refinement); an AC scan codes one band of
    * one component through [[ProgAcWriter]]. Restarts flush the EOB run
    * and reset the DC chains. */
  private def progressiveScan(geo: Geometry, scan: Array[Int],
      zig: Array[Array[Array[Int]]], ss: Int, se: Int, ah: Int, al: Int,
      restartInterval: Int, dcC: Map[Int, (Int, Int)],
      acC: Map[Int, (Int, Int)]): Array[Byte] = {
    val bits = new BitWriter
    val prog = new ProgAcWriter(bits, acC)
    val prevDc = new Array[Int](scan.length)
    geo.walk(scan, restartInterval) { m =>
      prog.flushEob()
      bits.restart(m)
      java.util.Arrays.fill(prevDc, 0)
    } { (si, b) =>
      val blk = zig(scan(si))(b)
      if (ss > 0) {
        if (ah == 0) prog.firstBlock(blk, ss, se, al) else prog.refineBlock(blk, ss, se, al)
      } else if (ah == 0) {
        val v = blk(0) >> al // DC point transform: arithmetic shift
        putDiff(bits, dcC, v - prevDc(si))
        prevDc(si) = v
      } else bits.put((blk(0) >> al) & 1, 1)
    }
    prog.flushEob()
    bits.finish()
  }

  /** DC-only blocks of a raster built from CONSTANT 8×8 blocks — the
    * oracle fixtures' shape. `pixel(x, y)` is sampled over every block;
    * each block must be constant and its DC 8·(v − 2^(P−1)) divisible
    * by `q`, the two conditions under which the lossy pipeline
    * reproduces the raster exactly (at P=8 and q=16: even values). */
  def constantBlocks(width: Int, height: Int, precision: Int, q: Int)(
      pixel: (Int, Int) => Int): Array[Array[Int]] = {
    require(width % 8 == 0 && height % 8 == 0, s"dims must be 8-aligned: ${width}x$height")
    val bw = width / 8
    Array.tabulate(bw * (height / 8)) { bi =>
      val bx = bi % bw; val by = bi / bw
      val v = pixel(bx * 8, by * 8)
      for (y <- 0 until 8; x <- 0 until 8)
        require(pixel(bx * 8 + x, by * 8 + y) == v, s"block ($bx,$by) not constant")
      val dc = 8 * (v - (1 << (precision - 1)))
      require(dc % q == 0, s"DC $dc not exactly quantizable by $q")
      val blk = new Array[Int](64); blk(0) = dc / q; blk
    }
  }

  // ---- lossless (SOF3, T.81 Annex H) ----

  /** T.81 H.1.1 prediction for sample (x, y) of raster `px` (already
    * point-transformed). `fresh` marks the first sample of the scan or
    * of a restart interval, which always predicts 2^(P−Pt−1); the line
    * CONTAINING that fresh sample (`restartRow` — row 0 at scan start,
    * then the row where each restart landed) predicts from Ra (left)
    * for its remaining samples, exactly as the spec treats the first
    * line — "the selected predictor is used for all lines EXCEPT the
    * first line and the first line after each restart, which use the
    * one-dimensional Ra predictor". The first sample of every OTHER
    * line predicts from Rb (above). Shared verbatim by the encoder and
    * decoder so the two cannot disagree on the >>1 semantics of
    * predictors 5..7 (arithmetic shift, per the spec's "shift right one
    * bit" on values that can be transiently negative). */
  private def losslessPredict(px: Array[Int], w: Int, x: Int, y: Int,
      predictor: Int, defaultPred: Int, fresh: Boolean, restartRow: Int): Int = {
    if (fresh) defaultPred
    else if (y == restartRow) px(y * w + x - 1) // Ra, 1-D line after SOI/RSTn
    else if (x == 0) px((y - 1) * w)
    else {
      val ra = px(y * w + x - 1)
      val rb = px((y - 1) * w + x)
      val rc = px((y - 1) * w + x - 1)
      predictor match {
        case 1 => ra
        case 2 => rb
        case 3 => rc
        case 4 => ra + rb - rc
        case 5 => ra + ((rb - rc) >> 1)
        case 6 => rb + ((ra - rc) >> 1)
        case 7 => (ra + rb) >> 1
      }
    }
  }

  /** Encode a LOSSLESS (SOF3) JPEG over 1..4 planes: Huffman-coded
    * prediction differences, no DCT and no quantization, so decode
    * reproduces the input EXACTLY at any precision 2..16 — the mode old
    * medical (DICOM) and raw-photo (DNG) corpora carry. Several planes
    * are the DICOM RGB export shape: all 1×1 sampling, one sample per
    * component per interleaved MCU, each component predicting within
    * its own plane, component 0 on Huffman selector 0 and the rest
    * SHARING selector 1; components pass through UNTRANSFORMED (T.81
    * lossless has no color transform). `predictor` selects the T.81 H.1
    * neighbor formula (1..7, written into the scan's Ss field);
    * `pointTransform` (Al/Pt) drops that many low bits before
    * prediction; differences are coded modulo 2^16 with the bitless
    * SSSS=16 case for +32768; restart intervals (in samples) byte-align,
    * reset the first post-restart prediction to the default, and predict
    * the remainder of that sample line 1-D from Ra — the T.81 H.1.1 rule
    * third-party (DICOM/DNG) codecs apply. */
  def encodeLossless(width: Int, height: Int, precision: Int, predictor: Int,
      planes: Array[Array[Int]], pointTransform: Int = 0,
      restartInterval: Int = 0): Array[Byte] = {
    val nc = planes.length
    require(nc >= 1 && nc <= 4,
      s"one plane, or 2..4 interleaved components (T.81 Table B.7), got $nc")
    require(width > 0 && height > 0, s"bad dims: ${width}x$height")
    require(precision >= 2 && precision <= 16,
      s"lossless precision must be 2..16, got $precision")
    require(predictor >= 1 && predictor <= 7, s"predictor must be 1..7, got $predictor")
    require(pointTransform >= 0 && pointTransform < precision,
      s"point transform $pointTransform out of range for precision $precision")
    val maxS = (1 << precision) - 1
    planes.zipWithIndex.foreach { case (p, c) =>
      require(p.length == width * height,
        s"raster mismatch: component $c has ${p.length} samples for ${width}x$height")
      require(p.forall(v => v >= 0 && v <= maxS),
        s"component $c sample out of range for precision $precision")
    }
    val pt = pointTransform
    val sp = planes.map(p => if (pt == 0) p else p.map(_ >> pt))
    val codes = canonicalCodes(LsBits, LsVals)
    val bits = new BitWriter
    val defaultPred = 1 << (precision - pt - 1)
    var fresh = true
    var restartRow = 0 // row whose remaining samples use 1-D Ra (H.1.1)
    var since = 0
    var rst = 0
    var i = 0
    while (i < width * height) {
      if (restartInterval > 0 && since == restartInterval) {
        bits.restart(rst); rst = (rst + 1) % 8
        since = 0; fresh = true; restartRow = i / width
      }
      var c = 0
      while (c < nc) {
        val pred = losslessPredict(sp(c), width, i % width, i / width,
          predictor, defaultPred, fresh, restartRow)
        var d = (sp(c)(i) - pred) & 0xffff // difference modulo 2^16 (H.2.1)
        if (d > 32768) d -= 65536
        if (d == 32768) { val (cd, l) = codes(16); bits.put(cd, l) }
        else putDiff(bits, codes, d)
        c += 1
      }
      fresh = false
      since += 1
      i += 1
    }
    val out = new java.io.ByteArrayOutputStream()
    writeHeader(out, 0xc3, precision, width, height, Seq.fill(nc)((0x11, 0)), Nil,
      restartInterval, (0 until math.min(nc, 2)).map(t => dht(0, t, LsBits, LsVals)))
    // SOS: Td 0 for component 0, 1 for the rest (Ta unused); Ss carries
    // the predictor, Se must be 0, Ah=0, Al = Pt (H.2.3)
    sos(out, (0 until nc).map(c => c -> (math.min(c, 1) << 4)), predictor, 0, pt)
    out.write(bits.finish())
    marker(out, 0xd9)
    out.toByteArray
  }

  /** Decode ONE lossless scan: per sample, a DC-style Huffman category +
    * magnitude bits gives the prediction difference (mod 2^16); restart
    * markers verify cadence and reset the prediction. Returns the
    * point-transformed raster (caller shifts left by Pt on output). */
  private def runLosslessScan(br: BitReader, w: Int, h: Int, precision: Int,
      predictor: Int, pt: Int, tabs: Array[HuffTable],
      restartInterval: Int): Array[Array[Int]] = {
    // multi-component lossless (the DICOM RGB shape) interleaves ONE
    // sample per component per MCU (all factors 1x1 — A.2.3 degenerate
    // case); each component predicts within its OWN plane with its own
    // Huffman table, and the H.1.1 restart state is shared because the
    // planes advance in lockstep
    val nc = tabs.length
    val out = Array.fill(nc)(new Array[Int](w * h))
    val defaultPred = 1 << (precision - pt - 1)
    val maxS = (1 << (precision - pt)) - 1
    var fresh = true
    var restartRow = 0 // row whose remaining samples use 1-D Ra (H.1.1)
    var since = 0
    var rst = 0
    var i = 0
    while (i < w * h) {
      if (restartInterval > 0 && since == restartInterval) {
        br.expectRestart(rst); rst = (rst + 1) % 8
        since = 0; fresh = true; restartRow = i / w
      }
      var c = 0
      while (c < nc) {
        val s = tabs(c).decode(br)
        require(s <= 16, s"invalid lossless difference category $s")
        val d = if (s == 16) 32768 else extend(br.receive(s), s)
        val pred = losslessPredict(out(c), w, i % w, i / w,
          predictor, defaultPred, fresh, restartRow)
        val v = (pred + d) & 0xffff
        require(v <= maxS,
          s"reconstructed sample $v exceeds ${precision}-bit (Pt=$pt) range " +
            s"0..$maxS at index $i component $c — corrupt stream or wrong predictor")
        out(c)(i) = v
        c += 1
      }
      fresh = false
      since += 1
      i += 1
    }
    out
  }

  // ---- decoder ----

  private class BitReader(data: Array[Byte]) {
    private var pos = 0; private var acc = 0; private var n = 0
    def bit(): Int = {
      if (n == 0) {
        require(pos < data.length, "entropy stream exhausted")
        val b = data(pos) & 0xff; pos += 1
        if (b == 0xff) {
          require(pos < data.length && data(pos) == 0x00,
            "unexpected marker inside entropy data")
          pos += 1 // skip the stuffed 0x00
        }
        acc = b; n = 8
      }
      n -= 1
      (acc >> n) & 1
    }
    def receive(len: Int): Int = {
      var v = 0; var i = 0
      while (i < len) { v = (v << 1) | bit(); i += 1 }
      v
    }
    /** Discard pad bits to the byte boundary and consume the expected
      * RSTm marker — loud on anything else (a lost/reordered restart
      * would silently desynchronize every later MCU). A 0xFF pad byte's
      * stuffed 0x00 was already skipped when that byte loaded, so `pos`
      * sits exactly on the marker here. */
    def expectRestart(m: Int): Unit = {
      n = 0
      require(pos + 1 < data.length,
        s"entropy stream ended before expected restart marker RST$m")
      val a = data(pos) & 0xff; val b = data(pos + 1) & 0xff
      require(a == 0xff && b == 0xd0 + m,
        f"expected restart marker RST$m%d, found 0x$a%02x 0x$b%02x")
      pos += 2
    }
  }

  private class HuffTable(bits: Array[Int], vals: Array[Int]) {
    // T.81 F.2.2.3 decode: mincode/maxcode/valptr per length
    private val minCode = new Array[Int](17)
    private val maxCode = new Array[Int](17)
    private val valPtr = new Array[Int](17)
    locally {
      var code = 0; var k = 0; var l = 1
      while (l <= 16) {
        if (bits(l) == 0) { maxCode(l) = -1 }
        else {
          valPtr(l) = k; minCode(l) = code
          k += bits(l); code += bits(l)
          maxCode(l) = code - 1
        }
        code <<= 1
        l += 1
      }
    }
    def decode(br: BitReader): Int = {
      var code = br.bit(); var l = 1
      while (l <= 16 && (maxCode(l) < 0 || code > maxCode(l))) {
        code = (code << 1) | br.bit(); l += 1
      }
      require(l <= 16, "invalid Huffman code")
      vals(valPtr(l) + code - minCode(l))
    }
  }

  private def extend(v: Int, s: Int): Int =
    if (s == 0) 0 else if (v < (1 << (s - 1))) v - (1 << s) + 1 else v

  // IDCT constants hoisted: rebuilt per block they cost more than the
  // transform itself across a 50k-row corpus
  private val IdctC: Array[Double] =
    Array.tabulate(8)(u => if (u == 0) 1.0 / math.sqrt(2) else 1.0)
  private val IdctCos: Array[Array[Double]] =
    Array.tabulate(8, 8)((x, u) => math.cos((2 * x + 1) * u * math.Pi / 16))

  /** Separable double-precision IDCT (T.81 A.3.3), level shift + clamp —
    * both sized by the frame precision (+128 / 0..255 at 8-bit,
    * +2048 / 0..4095 at 12-bit extended). */
  private[graft] def idct(coef: Array[Int], precision: Int = 8): Array[Int] = {
    val c = IdctC
    val cosT = IdctCos
    val shift = 1 << (precision - 1)
    val maxV = (1 << precision) - 1
    val out = new Array[Int](64)
    var y = 0
    while (y < 8) {
      var x = 0
      while (x < 8) {
        var s = 0.0
        var u = 0
        while (u < 8) {
          var v = 0
          while (v < 8) {
            s += c(u) * c(v) * coef(v * 8 + u) * cosT(x)(u) * cosT(y)(v)
            v += 1
          }
          u += 1
        }
        val px = math.round(s / 4 + shift).toInt
        out(y * 8 + x) = math.max(0, math.min(maxV, px))
        x += 1
      }
      y += 1
    }
    out
  }

  // ---- arithmetic entropy coding (T.81 Annex D QM-coder) ----

  /** T.81 Table D.3 — the QM-coder's probability-estimation state
    * machine, packed one Int per state: Qe in bits 16..31, NMPS (next
    * state after an MPS renormalization) in bits 8..15, SWITCH in bit 7,
    * NLPS in bits 0..6. Values verified against the system libjpeg's
    * rendering of the same ITU table (tools/jpegarith.c fixtures pin the
    * whole coder against that independent implementation). Index 113 is
    * the extra NON-adaptive state (Qe ≈ 0.5, NMPS = NLPS = itself,
    * SWITCH = 0) that F.1.4.4.2.1 prescribes for AC coefficient signs. */
  private val AriTab: Array[Int] = Array(
    0x5a1d0181, 0x2586020e, 0x11140310, 0x080b0412, 0x03d80514, 0x01da0617,
    0x00e50719, 0x006f081c, 0x0036091e, 0x001a0a21, 0x000d0b23, 0x00060c09,
    0x00030d0a, 0x00010d0c, 0x5a7f0f8f, 0x3f251024, 0x2cf21126, 0x207c1227,
    0x17b91328, 0x1182142a, 0x0cef152b, 0x09a1162d, 0x072f172e, 0x055c1830,
    0x04061931, 0x03031a33, 0x02401b34, 0x01b11c36, 0x01441d38, 0x00f51e39,
    0x00b71f3b, 0x008a203c, 0x0068213e, 0x004e223f, 0x003b2320, 0x002c0921,
    0x5ae125a5, 0x484c2640, 0x3a0d2741, 0x2ef12843, 0x261f2944, 0x1f332a45,
    0x19a82b46, 0x15182c48, 0x11772d49, 0x0e742e4a, 0x0bfb2f4b, 0x09f8304d,
    0x0861314e, 0x0706324f, 0x05cd3330, 0x04de3432, 0x040f3532, 0x03633633,
    0x02d43734, 0x025c3835, 0x01f83936, 0x01a43a37, 0x01603b38, 0x01253c39,
    0x00f63d3a, 0x00cb3e3b, 0x00ab3f3d, 0x008f203d, 0x5b1241c1, 0x4d044250,
    0x412c4351, 0x37d84452, 0x2fe84553, 0x293c4654, 0x23794756, 0x1edf4857,
    0x1aa94957, 0x174e4a48, 0x14244b48, 0x119c4c4a, 0x0f6b4d4a, 0x0d514e4b,
    0x0bb64f4d, 0x0a40304d, 0x583251d0, 0x4d1c5258, 0x438e5359, 0x3bdd545a,
    0x34ee555b, 0x2eae565c, 0x299a575d, 0x25164756, 0x557059d8, 0x4ca95a5f,
    0x44d95b60, 0x3e225c61, 0x38245d63, 0x32b45e63, 0x2e17565d, 0x56a860df,
    0x4f466165, 0x47e56266, 0x41cf6367, 0x3c3d6468, 0x375e5d63, 0x52316669,
    0x4c0f676a, 0x4639686b, 0x415e6367, 0x56276ae9, 0x50e76b6c, 0x4b85676d,
    0x55976d6e, 0x504f6b6f, 0x5a106fee, 0x55226d70, 0x59eb6ff0, 0x5a1d7171)

  /** Per-scan arithmetic conditioning state (T.81 F.1.4.4): one 64-bin
    * DC and one 256-bin AC statistics area per conditioning-table id
    * (components selecting the same id SHARE the area), the per-
    * component DC difference context and prediction, and the single
    * fixed bin for AC signs. Bin layout follows the spec's Tables F.4 /
    * F.5: DC context bases {0,4,8,12,16} each hold the S0/SS/SP/SN
    * decisions, the magnitude-category chain starts at X1 = 20 and its
    * magnitude bits ride 14 bins above the chain position; AC spends
    * 3 bins per coefficient index (SE/S0/first-magnitude), with the
    * low- and high-frequency category chains at 189 and 217 (split by
    * the Kx conditioning bound) and their magnitude bits 14 above. */
  private final class ArithStats(nComp: Int,
      val dcL: Array[Int], val dcU: Array[Int], val acKx: Array[Int]) {
    val dc: Array[Array[Byte]] = Array.fill(4)(new Array[Byte](64))
    val ac: Array[Array[Byte]] = Array.fill(4)(new Array[Byte](256))
    val fixed: Array[Byte] = Array(113.toByte)
    val dcCtx = new Array[Int](nComp)
    val lastDc = new Array[Int](nComp)
    def reset(): Unit = {
      dc.foreach(java.util.Arrays.fill(_, 0.toByte))
      ac.foreach(java.util.Arrays.fill(_, 0.toByte))
      fixed(0) = 113.toByte
      java.util.Arrays.fill(dcCtx, 0)
      java.util.Arrays.fill(lastDc, 0)
    }
  }

  /** QM arithmetic DECODER (T.81 F.2.2, software-conventions register
    * layout): C accumulates raw code bytes with CT tracking the bit
    * offset of the active 16-bit window, A is the interval register
    * renormalized lazily at the head of each decision. Byte feeding
    * applies the stuffing convention (0xFF 0x00 is a data 0xFF, a run
    * of 0xFF fill bytes collapses) and HALTS at any true marker,
    * feeding zero bytes from then on — the flush-discarded tail of an
    * interval never needs its real bytes (F.2.2.5). */
  private final class ArithDecoder(bytes: Array[Byte], start: Int, end: Int) {
    private var bp = start
    private var halted = false
    private var c = 0L
    private var a = 0L
    private var ct = -16

    private def nextByte(): Int = {
      if (halted || bp >= end) { halted = true; 0 }
      else {
        val b = bytes(bp) & 0xff
        if (b != 0xff) { bp += 1; b }
        else {
          var p = bp + 1
          while (p < end && (bytes(p) & 0xff) == 0xff) p += 1
          if (p < end && (bytes(p) & 0xff) == 0x00) { bp = p + 1; 0xff }
          else { halted = true; 0 } // marker (or EOF): zero-fill, don't consume
        }
      }
    }

    /** Decode one binary decision against statistics bin `st(i)` (low 7
      * bits = Table D.3 state, bit 7 = current MPS sense), updating the
      * bin per the estimation state machine with conditional MPS/LPS
      * exchange (F.2.2.2). */
    def decodeBit(st: Array[Byte], i: Int): Int = {
      while (a < 0x8000L) { // renorm + byte feed (F.2.2.3/F.2.2.4)
        ct -= 1
        if (ct < 0) {
          c = (c << 8) | nextByte()
          ct += 8
          if (ct < 0) { ct += 1; if (ct == 0) a = 0x8000L } // initial 2 bytes
        }
        a <<= 1
      }
      val sv = st(i) & 0xff
      val e = AriTab(sv & 0x7f)
      val qe = (e >>> 16).toLong
      a -= qe
      val t = a << ct
      var d = 0
      if (c >= t) {
        // code point in the Qe sub-interval
        c -= t
        if (a < qe) { // conditional exchange: the Qe region codes the MPS
          d = sv >> 7
          st(i) = ((sv & 0x80) ^ ((e >>> 8) & 0xff)).toByte
        } else {
          d = (sv >> 7) ^ 1
          st(i) = ((sv & 0x80) ^ (e & 0xff)).toByte // SWITCH in bit 7 flips MPS
        }
        a = qe
      } else if (a < 0x8000L) {
        // MPS sub-interval, renormalization pending
        if (a < qe) {
          d = (sv >> 7) ^ 1
          st(i) = ((sv & 0x80) ^ (e & 0xff)).toByte
        } else {
          d = sv >> 7
          st(i) = ((sv & 0x80) ^ ((e >>> 8) & 0xff)).toByte
        }
      } else d = sv >> 7 // MPS, no renorm: no state change
      d
    }

    /** Align to, verify, and consume the next restart marker, then
      * re-initialize the registers (the statistics reset is the
      * caller's). Unconsumed flush bytes before the marker are legal —
      * stuffing guarantees the first FF-non-00 run IS the marker. */
    def restart(expected: Int): Unit = {
      var p = bp
      while (p + 1 < end &&
          !((bytes(p) & 0xff) == 0xff && (bytes(p + 1) & 0xff) != 0x00)) p += 1
      require(p + 1 < end, "expected a restart marker, hit end of scan data")
      var q = p + 1
      while (q + 1 < end && (bytes(q) & 0xff) == 0xff) q += 1 // fill bytes
      val m = bytes(q) & 0xff
      require(m == 0xd0 + expected,
        f"expected RST$expected%d, found marker 0xff$m%02x — a lost or " +
          "reordered restart would desynchronize every later MCU")
      bp = q + 1; halted = false; c = 0; a = 0; ct = -16
    }
  }

  /** QM arithmetic ENCODER (T.81 D.1, software conventions). Output is
    * collected as RAW coded bytes so the carry propagates by simple
    * back-increment; byte stuffing (0x00 after any 0xFF) is applied at
    * flush(), which also performs the D.1.8 CLEARBITS/FLUSH termination
    * and drops trailing zero bytes (the decoder zero-fills past the
    * marker). flush() resets the coder for the next restart interval. */
  private final class ArithEncoder {
    private val raw = collection.mutable.ArrayBuffer.empty[Int]
    private var c = 0L
    private var a = 0x10000L
    private var ct = 11

    private def carry(): Unit = {
      var i = raw.length - 1
      require(i >= 0, "arithmetic carry out of an empty interval")
      while (raw(i) == 0xff) {
        raw(i) = 0; i -= 1
        require(i >= 0, "arithmetic carry ran off the interval start")
      }
      raw(i) += 1
    }

    def encodeBit(st: Array[Byte], i: Int, bit: Int): Unit = {
      val sv = st(i) & 0xff
      val e = AriTab(sv & 0x7f)
      val qe = (e >>> 16).toLong
      a -= qe
      if (bit != (sv >> 7)) {
        // LPS path (with conditional exchange when Qe outgrew the MPS interval)
        if (a >= qe) { c += a; a = qe }
        st(i) = ((sv & 0x80) ^ (e & 0xff)).toByte
      } else {
        if (a >= 0x8000L) return // short MPS path: no renorm, no estimation
        if (a < qe) { c += a; a = qe }
        st(i) = ((sv & 0x80) ^ ((e >>> 8) & 0xff)).toByte
      }
      while ({ // renormalize + byte out (D.1.6/D.1.7)
        a <<= 1; c <<= 1; ct -= 1
        if (ct == 0) {
          var t = (c >>> 19).toInt
          if (t > 0xff) { carry(); t &= 0xff }
          raw += t
          c &= 0x7ffffL
          ct = 8
        }
        a < 0x8000L
      }) ()
    }

    /** Terminate the interval (D.1.8): choose the in-interval code point
      * with the most trailing zeros, emit the remaining bytes, drop the
      * all-zero tail, and return the STUFFED bytes. */
    def flush(): Array[Byte] = {
      val t = (c + a - 1) & 0xffff0000L
      c = if (t < c) t + 0x8000L else t
      c <<= ct
      if ((c >>> 27) != 0) { carry(); c &= 0x7ffffffL }
      raw += ((c >>> 19) & 0xff).toInt
      raw += ((c >>> 11) & 0xff).toInt
      while (raw.nonEmpty && raw.last == 0) raw.remove(raw.length - 1)
      val out = new java.io.ByteArrayOutputStream()
      raw.foreach { b => out.write(b); if (b == 0xff) out.write(0) }
      raw.clear(); c = 0; a = 0x10000L; ct = 11
      out.toByteArray
    }
  }

  // ---- arithmetic DC/AC conditioning (T.81 F.1.4.4 / F.2.4) ----
  // The decode procedures mirror the encode procedures decision for
  // decision; both are pinned against the system libjpeg (an independent
  // conformant implementation) in JpegCodecSpec, in BOTH directions.

  private def arithDecodeDc(dec: ArithDecoder, stats: ArithStats,
      tbl: Int, ci: Int): Int = {
    val st = stats.dc(tbl)
    val base = stats.dcCtx(ci)
    if (dec.decodeBit(st, base) == 0) stats.dcCtx(ci) = 0 // zero diff
    else {
      val sign = dec.decodeBit(st, base + 1)
      var idx = base + 2 + sign
      var m = dec.decodeBit(st, idx)
      if (m != 0) { // magnitude-category chain at X1 = 20
        idx = 20
        while (dec.decodeBit(st, idx) == 1) {
          m <<= 1
          require(m < 0x8000, "arithmetic DC magnitude overflow")
          idx += 1
        }
      }
      stats.dcCtx(ci) =
        if (m < ((1 << stats.dcL(tbl)) >> 1)) 0
        else if (m > ((1 << stats.dcU(tbl)) >> 1)) 12 + 4 * sign
        else 4 + 4 * sign
      var v = m
      idx += 14 // magnitude bits, one shared bin per chain position
      var mm = m >> 1
      while (mm != 0) {
        if (dec.decodeBit(st, idx) == 1) v |= mm
        mm >>= 1
      }
      v += 1
      stats.lastDc(ci) += (if (sign == 1) -v else v)
    }
    stats.lastDc(ci)
  }

  private def arithEncodeDc(enc: ArithEncoder, stats: ArithStats,
      tbl: Int, ci: Int, dcVal: Int): Unit = {
    val st = stats.dc(tbl)
    val base = stats.dcCtx(ci)
    val v = dcVal - stats.lastDc(ci)
    stats.lastDc(ci) = dcVal
    if (v == 0) { enc.encodeBit(st, base, 0); stats.dcCtx(ci) = 0 }
    else {
      enc.encodeBit(st, base, 1)
      val sign = if (v < 0) 1 else 0
      val av = math.abs(v) - 1
      enc.encodeBit(st, base + 1, sign)
      var m = 0
      var idx = base + 2 + sign
      if (av != 0) {
        enc.encodeBit(st, idx, 1)
        m = 1
        idx = 20
        var v2 = av >> 1
        while (v2 != 0) {
          enc.encodeBit(st, idx, 1); m <<= 1; idx += 1; v2 >>= 1
        }
      }
      enc.encodeBit(st, idx, 0)
      stats.dcCtx(ci) =
        if (m < ((1 << stats.dcL(tbl)) >> 1)) 0
        else if (m > ((1 << stats.dcU(tbl)) >> 1)) 12 + 4 * sign
        else 4 + 4 * sign
      idx += 14
      var mm = m >> 1
      while (mm != 0) {
        enc.encodeBit(st, idx, if ((av & mm) != 0) 1 else 0)
        mm >>= 1
      }
    }
  }

  /** Refine one block's AC band by one bit (T.81 G.2 arithmetic
    * successive approximation, the mirror of the Huffman acRefine):
    * the EOB decision is only coded BEYOND the previous stage's last
    * nonzero index (kex); already-nonzero coefficients take an adaptive
    * correction bit at their first-magnitude bin, newly-significant
    * ones a significance decision plus a fixed-bin sign. */
  private def arithDecodeAcRefine(dec: ArithDecoder, stats: ArithStats,
      tbl: Int, coef: Array[Int], off: Int, ss: Int, se: Int, al: Int): Unit = {
    val st = stats.ac(tbl)
    val p1 = 1 << al
    val m1 = -1 << al
    var kex = se
    while (kex >= ss && coef(off + kex) == 0) kex -= 1
    var k = ss
    var done = false
    while (!done && k <= se) {
      var base = 3 * (k - 1)
      if (k > kex && dec.decodeBit(st, base) == 1) done = true // EOB
      else {
        var placed = false
        while (!placed) {
          val idx = off + k
          if (coef(idx) != 0) {
            if (dec.decodeBit(st, base + 2) == 1) {
              if (coef(idx) < 0) coef(idx) += m1 else coef(idx) += p1
            }
            placed = true
          } else if (dec.decodeBit(st, base + 1) == 1) {
            coef(idx) = if (dec.decodeBit(stats.fixed, 0) == 1) m1 else p1
            placed = true
          } else {
            base += 3; k += 1
            require(k <= se, "arithmetic AC refinement overflows the band")
          }
        }
        k += 1
      }
    }
  }

  /** Decode one block's AC coefficients (zigzag positions ss..se,
    * values scaled by 2^al for progressive first scans) into `coef` at
    * `off` — which stores ZIGZAG order, like the Huffman path. */
  private def arithDecodeAc(dec: ArithDecoder, stats: ArithStats,
      tbl: Int, coef: Array[Int], off: Int, ss: Int, se: Int, al: Int = 0): Unit = {
    val st = stats.ac(tbl)
    var k = ss
    var done = false
    while (!done && k <= se) {
      var base = 3 * (k - 1)
      if (dec.decodeBit(st, base) == 1) done = true // EOB decision
      else {
        while (dec.decodeBit(st, base + 1) == 0) {
          base += 3; k += 1
          require(k <= se, "arithmetic AC run overflows the band")
        }
        val sign = dec.decodeBit(stats.fixed, 0)
        var idx = base + 2
        var m = dec.decodeBit(st, idx)
        if (m != 0 && dec.decodeBit(st, idx) == 1) {
          m = 2
          idx = if (k <= stats.acKx(tbl)) 189 else 217
          while (dec.decodeBit(st, idx) == 1) {
            m <<= 1
            require(m < 0x8000, "arithmetic AC magnitude overflow")
            idx += 1
          }
        }
        var v = m
        idx += 14
        var mm = m >> 1
        while (mm != 0) {
          if (dec.decodeBit(st, idx) == 1) v |= mm
          mm >>= 1
        }
        v += 1
        coef(off + k) = (if (sign == 1) -v else v) << al
        k += 1
      }
    }
  }

  /** Encode one block's AC coefficients (`blk` in NATURAL order, like
    * the Huffman encoders take). */
  private def arithEncodeAc(enc: ArithEncoder, stats: ArithStats,
      tbl: Int, blk: Array[Int], ss: Int, se: Int): Unit = {
    val st = stats.ac(tbl)
    var ke = se
    while (ke >= ss && blk(Zigzag(ke)) == 0) ke -= 1
    var k = ss
    while (k <= ke) {
      var base = 3 * (k - 1)
      enc.encodeBit(st, base, 0) // not EOB yet
      var v = blk(Zigzag(k))
      while (v == 0) {
        enc.encodeBit(st, base + 1, 0); base += 3; k += 1
        v = blk(Zigzag(k))
      }
      enc.encodeBit(st, base + 1, 1)
      val sign = if (v < 0) 1 else 0
      enc.encodeBit(stats.fixed, 0, sign)
      val av = math.abs(v) - 1
      var idx = base + 2
      var m = 0
      if (av != 0) {
        enc.encodeBit(st, idx, 1)
        m = 1
        var v2 = av >> 1
        if (v2 != 0) {
          enc.encodeBit(st, idx, 1) // second category decision, SAME bin
          m = 2
          idx = if (k <= stats.acKx(tbl)) 189 else 217
          v2 >>= 1
          while (v2 != 0) {
            enc.encodeBit(st, idx, 1); m <<= 1; idx += 1; v2 >>= 1
          }
        }
      }
      enc.encodeBit(st, idx, 0)
      idx += 14
      var mm = m >> 1
      while (mm != 0) {
        enc.encodeBit(st, idx, if ((av & mm) != 0) 1 else 0)
        mm >>= 1
      }
      k += 1
    }
    if (ke < se) enc.encodeBit(st, 3 * (k - 1), 1) // EOB
  }

  /** Decode ONE arithmetic-coded scan (T.81 F.2.4 sequential, G.2
    * progressive) into the coefficient buffers: the same MCU walk as
    * the Huffman path, with QM-decoded decisions, per-interval
    * statistics resets, and modulo-8 restart verification. Statistics
    * areas are per-scan, like the Huffman tables a progressive file
    * redefines between scans. */
  private def runArithScan(bytes: Array[Byte], from: Int, to: Int,
      coefs: Array[Array[Int]], geo: Geometry,
      scanComp: Array[Int], scanTd: Array[Int], scanTa: Array[Int],
      dcL: Array[Int], dcU: Array[Int], acKx: Array[Int],
      ss: Int, se: Int, ah: Int, al: Int,
      restartInterval: Int, sequential: Boolean): Unit = {
    val dec = new ArithDecoder(bytes, from, to)
    val stats = new ArithStats(scanComp.length, dcL, dcU, acKx)
    geo.walk(scanComp, restartInterval) { m =>
      dec.restart(m)
      stats.reset()
    } { (si, blockOff) =>
      val off = blockOff * 64
      val coef = coefs(scanComp(si))
      if (sequential) {
        coef(off) = arithDecodeDc(dec, stats, scanTd(si), si)
        arithDecodeAc(dec, stats, scanTa(si), coef, off, 1, 63)
      } else if (ss == 0) {
        if (ah == 0) // DC first: prediction chain unshifted, value scaled
          coef(off) = arithDecodeDc(dec, stats, scanTd(si), si) << al
        else // DC refinement: one fixed-bin bit per block (G.2.1)
          coef(off) |= dec.decodeBit(stats.fixed, 0) << al
      } else {
        if (ah == 0) arithDecodeAc(dec, stats, scanTa(si), coef, off, ss, se, al)
        else arithDecodeAcRefine(dec, stats, scanTa(si), coef, off, ss, se, al)
      }
    }
  }

  /** Decode a JPEG of the scope listed above: Huffman SOF0/1/2/3 or
    * arithmetic SOF9/10, grayscale or YCbCr (1..4 components when
    * lossless). Throws IllegalArgumentException with a precise message on
    * malformed or out-of-scope input. */
  def decode(bytes: Array[Byte]): Jpeg = {
    require(bytes.length >= 4, s"truncated: ${bytes.length} bytes")
    require((bytes(0) & 0xff) == 0xff && (bytes(1) & 0xff) == 0xd8, "missing SOI marker")
    var pos = 2
    var w = -1; var h = -1
    var progressive = false
    var extended = false
    var lossless = false
    var arith = false
    var precision = 8
    var pointT = 0
    var losslessPx: Array[Array[Int]] = null
    val quantT = new Array[Array[Int]](4)
    val dcT = new Array[HuffTable](4)
    val acT = new Array[HuffTable](4)
    // arithmetic conditioning (DAC) — spec defaults apply when absent
    val dacDcL = Array.fill(4)(DacDefaultL)
    val dacDcU = Array.fill(4)(DacDefaultU)
    val dacAcKx = Array.fill(4)(DacDefaultKx)
    var compIds: Array[Int] = null // SOF order
    var compTq: Array[Int] = null
    var compH: Array[Int] = null   // sampling factors per component
    var compV: Array[Int] = null
    var restartInterval = 0        // DRI: MCUs between RSTn markers (0 = none)
    var geo: Geometry = null       // frame geometry (computed at SOF)
    // per component: all blocks' coefficients, ZIGZAG order, 64 per block
    // on the padded grid — progressive scans accumulate into this across
    // scans; the sequential scan fills it in one pass. Dequant + IDCT
    // happen once, at assembly.
    var coefs: Array[Array[Int]] = null
    var sawScan = false
    var done = false
    def u16(p: Int): Int = ((bytes(p) & 0xff) << 8) | (bytes(p + 1) & 0xff)

    while (!done) {
      require(pos + 2 <= bytes.length, "truncated marker stream")
      require((bytes(pos) & 0xff) == 0xff, f"expected marker at $pos")
      // T.81 B.1.1.2: any number of 0xFF fill bytes may pad before a
      // marker — the marker code is the first non-0xFF byte after the run
      // (without this, a conforming file with fill bytes misparses the
      // fill byte as marker 0xFF and reads a bogus length)
      while (pos + 2 < bytes.length && (bytes(pos + 1) & 0xff) == 0xff) pos += 1
      require(pos + 2 <= bytes.length, "truncated marker stream")
      val m = bytes(pos + 1) & 0xff
      if (m == 0xd9) { // EOI
        require(sawScan, "EOI before SOS")
        done = true
      } else {
        require(pos + 4 <= bytes.length, "truncated marker stream")
        val len = u16(pos + 2)
        val body = pos + 4
        // a corrupt length must fail HERE, not as an index error deep in a
        // segment parser — the whole declared segment must be in range
        require(len >= 2 && pos + 2 + len <= bytes.length,
          s"segment 0x${m.toHexString} length $len overruns the stream")
        m match {
          case 0xdb =>
            // one DQT segment may carry several tables back-to-back
            var o = body
            val end = pos + 2 + len
            while (o < end) {
              val pq = (bytes(o) & 0xff) >> 4
              val tq = bytes(o) & 0xf
              // Pq=1 (16-bit big-endian entries) is legal — and typical —
              // for 12-bit frames (T.81 B.2.4.1); baseline requires Pq=0
              require(pq == 0 || pq == 1, s"bad DQT precision Pq=$pq")
              val stride = 1 + 64 * (pq + 1)
              require(end - o >= stride, s"DQT table truncated at offset $o")
              quantT(tq) =
                if (pq == 0) Array.tabulate(64)(i => bytes(o + 1 + i) & 0xff)
                else Array.tabulate(64)(i => u16(o + 1 + 2 * i))
              o += stride
            }
          case 0xc0 | 0xc1 | 0xc2 | 0xc3 | 0xc9 | 0xca =>
            require(compIds == null, "multiple frames not supported")
            extended = m == 0xc1 || m == 0xc9
            progressive = m == 0xc2 || m == 0xca
            lossless = m == 0xc3
            arith = m == 0xc9 || m == 0xca
            require(len >= 2 + 9, s"SOF segment too short: $len")
            precision = bytes(body) & 0xff
            if (lossless)
              require(precision >= 2 && precision <= 16,
                s"lossless precision must be 2..16, got $precision")
            else if (extended)
              // T.81 B.2.2: extended sequential allows 8 or 12; this is
              // the DICOM-export mode (12-bit grayscale, Huffman)
              require(precision == 8 || precision == 12,
                s"extended-sequential (SOF1) precision must be 8 or 12, got $precision")
            else
              require(precision == 8, "only 8-bit precision supported for DCT modes")
            h = u16(body + 1); w = u16(body + 3)
            require(w > 0 && h > 0, s"bad frame dims ${w}x$h")
            require(w.toLong * h < Int.MaxValue / 8,
              s"implausible dims ${w}x$h overflow the raster size")
            val ncomp = bytes(body + 5) & 0xff
            require(ncomp == 1 || ncomp == 3 || (lossless && ncomp <= 4),
              s"only grayscale (1) or YCbCr (3 components) supported, got $ncomp")
            if (lossless) require(ncomp <= 4,
              s"lossless supports at most 4 components (T.81 Table B.7), got $ncomp")
            if (lossless && ncomp > 1)
              (0 until ncomp).foreach { i =>
                require((bytes(body + 7 + 3 * i) & 0xff) == 0x11,
                  "multi-component lossless requires 1x1 sampling on every " +
                    "component (the interleaved-sample MCU shape DICOM uses)")
              }
            if (precision == 12 && !lossless) require(ncomp == 1,
              "12-bit extended-sequential is supported for grayscale only " +
                s"(the DICOM-export shape); got $ncomp components")
            require(len >= 2 + 6 + 3 * ncomp, s"SOF too short for $ncomp components")
            compIds = new Array[Int](ncomp)
            compTq = new Array[Int](ncomp)
            compH = new Array[Int](ncomp)
            compV = new Array[Int](ncomp)
            var c = 0
            while (c < ncomp) {
              compIds(c) = bytes(body + 6 + 3 * c) & 0xff
              val hv = bytes(body + 7 + 3 * c) & 0xff
              compH(c) = hv >> 4; compV(c) = hv & 0xf
              // the full T.81 B.2.2 range 1..4: 4:4:4, 4:2:0 (dominant),
              // 4:2:2, 4:4:0 and the DV-derived 4:1:1 / 4:1:0 shapes;
              // the MCU geometry, walk and replication upsampler below
              // are factor-generic
              require(compH(c) >= 1 && compH(c) <= 4 && compV(c) >= 1 && compV(c) <= 4,
                s"sampling factors ${compH(c)}x${compV(c)} on component $c out " +
                  "of the T.81 range 1..4")
              compTq(c) = bytes(body + 8 + 3 * c) & 0xff
              require(compTq(c) < 4, s"bad quant selector ${compTq(c)}")
              c += 1
            }
            // T.81 B.2.3: at most 10 data units per interleaved MCU
            require(ncomp == 1 ||
              (0 until ncomp).map(i => compH(i) * compV(i)).sum <= 10,
              "more than 10 blocks per MCU violates T.81 B.2.3")
            if (ncomp == 1) {
              // a single-component scan is NON-interleaved per T.81: its MCU
              // is one data unit regardless of declared sampling factors
              compH(0) = 1; compV(0) = 1
            }
            geo = new Geometry(w, h, compH, compV)
            coefs = Array.tabulate(ncomp)(ci => new Array[Int](geo.padW(ci) * geo.padH(ci) * 64))
          case 0xc5 | 0xc6 | 0xc7 | 0xc8 | 0xcb | 0xcd | 0xce | 0xcf =>
            throw new IllegalArgumentException(
              f"unsupported SOF marker 0xff$m%02x — only baseline-sequential " +
                "(SOF0), extended-sequential (SOF1), progressive (SOF2), " +
                "lossless (SOF3) Huffman and arithmetic sequential (SOF9) / " +
                "progressive (SOF10) modes are supported (hierarchical and " +
                "arithmetic-lossless reject loudly)")
          case 0xcc =>
            // DAC: arithmetic conditioning values (T.81 B.2.4.3); pairs of
            // (Tc<<4|Tb, Cs) — DC Cs packs U<<4|L, AC Cs is Kx
            var o = body
            val end = pos + 2 + len
            while (o < end) {
              require(end - o >= 2, s"DAC segment truncated at offset $o")
              val tc = (bytes(o) & 0xff) >> 4
              val tb = bytes(o) & 0xf
              val cs = bytes(o + 1) & 0xff
              require(tc <= 1 && tb < 4, s"bad DAC class/id $tc/$tb")
              if (tc == 0) {
                val l = cs & 0xf; val u = cs >> 4
                require(l <= u && u <= 15, s"bad DC conditioning L=$l U=$u")
                dacDcL(tb) = l; dacDcU(tb) = u
              } else {
                require(cs >= 1 && cs <= 63, s"bad AC conditioning Kx=$cs")
                dacAcKx(tb) = cs
              }
              o += 2
            }
          case 0xc4 =>
            // one DHT segment may carry several tables back-to-back
            var o = body
            val end = pos + 2 + len
            while (o < end) {
              require(end - o >= 17, s"DHT table truncated at offset $o")
              val cls = (bytes(o) & 0xff) >> 4
              val id = bytes(o) & 0xf
              require(cls <= 1 && id < 4, s"bad DHT class/id $cls/$id")
              val bitsA = new Array[Int](17)
              var total = 0
              (1 to 16).foreach { l => bitsA(l) = bytes(o + l) & 0xff; total += bitsA(l) }
              require(end - o >= 17 + total,
                s"DHT declares $total values beyond its segment")
              val valsA = Array.tabulate(total)(i => bytes(o + 17 + i) & 0xff)
              val t = new HuffTable(bitsA, valsA)
              if (cls == 0) dcT(id) = t else acT(id) = t
              o += 17 + total
            }
          case 0xdd =>
            require(len == 4, s"bad DRI length $len")
            restartInterval = u16(body)
          case 0xda =>
            require(compIds != null, "SOS before SOF")
            val ns = bytes(body) & 0xff
            require(ns >= 1 && ns <= compIds.length, s"bad scan component count $ns")
            require(len >= 2 + 1 + 2 * ns + 3, s"SOS segment too short: $len")
            val scanComp = new Array[Int](ns)
            val scanTd = new Array[Int](ns); val scanTa = new Array[Int](ns)
            var prevFi = -1
            var c = 0
            while (c < ns) {
              val cs = bytes(body + 1 + 2 * c) & 0xff
              val fi = compIds.indexOf(cs)
              require(fi >= 0, s"scan names unknown component $cs")
              // the entropy stream interleaves MCUs in SCAN order (T.81
              // B.2.3) while this decoder emits blocks in FRAME order — a
              // scan that reorders components would decode with swapped
              // planes and DC chains, a SILENT misread. Out-of-order scans
              // are legal but essentially nonexistent in the wild; reject
              // them loudly rather than misread them.
              require(fi > prevFi, s"scan component order differs from the " +
                s"frame (scan[$c]=$cs); only frame-ordered scans supported")
              prevFi = fi
              scanComp(c) = fi
              scanTd(c) = (bytes(body + 2 + 2 * c) & 0xff) >> 4
              scanTa(c) = bytes(body + 2 + 2 * c) & 0xf
              require(scanTd(c) < 4 && scanTa(c) < 4, "bad Huffman selector")
              c += 1
            }
            val ss = bytes(body + 1 + 2 * ns) & 0xff
            val se = bytes(body + 2 + 2 * ns) & 0xff
            val ahal = bytes(body + 3 + 2 * ns) & 0xff
            val ah = ahal >> 4; val al = ahal & 0xf
            if (lossless) {
              // H.2.3: Ss = predictor 1..7, Se = 0, Ah = 0, Al = Pt
              require(ss >= 1 && ss <= 7,
                s"lossless scan predictor (Ss) must be 1..7, got $ss")
              require(se == 0 && ah == 0,
                s"lossless scan must have Se=0 Ah=0, got Se=$se Ah=$ah")
              require(al < precision,
                s"point transform Al=$al out of range for precision $precision")
            } else if (!progressive) {
              require(ns == compIds.length,
                s"scan has $ns components, frame has ${compIds.length} (partial scans unsupported)")
              require(ss == 0 && se == 63 && ah == 0 && al == 0,
                s"baseline scan must be Ss=0 Se=63 Ah=Al=0, got $ss/$se/$ah/$al")
            } else {
              // progressive scan legality (T.81 G.1.1.1): a DC scan covers
              // only coefficient 0 (and may be interleaved); an AC scan is
              // one band of ONE component; refinements move Al down one bit
              if (ss == 0) require(se == 0, "progressive DC scan must have Se=0")
              else {
                require(ns == 1, "progressive AC scans must be non-interleaved")
                require(se >= ss && se <= 63, s"bad spectral band $ss..$se")
              }
              require(al <= 13, s"bad point transform Al=$al")
              if (ah != 0) require(ah == al + 1,
                s"successive approximation must refine one bit (Ah=$ah, Al=$al)")
            }
            // table presence for THIS scan (tables may arrive between
            // scans). Arithmetic scans select DAC conditioning instead of
            // DHT tables — defaults apply, so nothing to require.
            c = 0
            while (c < ns && !arith) {
              if (lossless || (ss == 0 && ah == 0))
                require(dcT(scanTd(c)) != null, s"scan component $c: missing DC table ${scanTd(c)}")
              if (!lossless && (!progressive || ss > 0))
                require(acT(scanTa(c)) != null, s"scan component $c: missing AC table ${scanTa(c)}")
              c += 1
            }
            val entropyStart = body + 1 + 2 * ns + 3
            // the scan's entropy data runs to the next true marker (0xFF00
            // stuffing and RSTn belong to the data)
            var p = entropyStart
            var scanEnd = -1
            while (scanEnd < 0) {
              require(p + 1 < bytes.length,
                "entropy stream ran past EOF — no terminating marker/EOI")
              if ((bytes(p) & 0xff) == 0xff) {
                val nb = bytes(p + 1) & 0xff
                if (nb == 0x00 || (nb >= 0xd0 && nb <= 0xd7)) p += 2
                else scanEnd = p
              } else p += 1
            }
            if (lossless) {
              require(ns == compIds.length,
                s"lossless scan has $ns components, frame has ${compIds.length} " +
                  "(partial lossless scans unsupported)")
              pointT = al
              val br = new BitReader(bytes.slice(entropyStart, scanEnd))
              losslessPx = runLosslessScan(br, w, h, precision, predictor = ss,
                pt = al, tabs = scanTd.map(dcT(_)), restartInterval = restartInterval)
            } else if (arith)
              runArithScan(bytes, entropyStart, scanEnd, coefs, geo,
                scanComp, scanTd, scanTa, dacDcL, dacDcU, dacAcKx,
                ss, se, ah, al, restartInterval, sequential = !progressive)
            else {
              val br = new BitReader(bytes.slice(entropyStart, scanEnd))
              runScan(br, coefs, geo,
                scanComp, scanTd.map(dcT(_)), scanTa.map(acT(_)),
                ss, se, ah, al, restartInterval, sequential = !progressive)
            }
            sawScan = true
            pos = scanEnd - 2 - len // cancel the uniform advance below
          case _ => () // APPn/COM skipped
        }
        pos = pos + 2 + len
      }
    }
    require(w > 0 && h > 0, "no SOF before EOI")

    if (lossless) {
      // no DCT assembly: the scan decoded the raster directly; the spec's
      // output step re-inserts the point transform's dropped low bits as
      // zeros (shift left by Pt). Multi-component output interleaves the
      // planes UNTRANSFORMED — T.81 lossless has no color transform, so
      // a 3-component DICOM export's planes ARE its RGB
      require(losslessPx != null, "no lossless scan decoded")
      val nc = losslessPx.length
      val out =
        if (nc == 1) {
          if (pointT == 0) losslessPx(0) else losslessPx(0).map(_ << pointT)
        } else {
          val o = new Array[Int](w * h * nc)
          var i = 0
          while (i < w * h) {
            var c = 0
            while (c < nc) { o(i * nc + c) = losslessPx(c)(i) << pointT; c += 1 }
            i += 1
          }
          o
        }
      return Jpeg(w, h, out, nc, precision)
    }

    // ---- assembly: dequantize + inverse zigzag + IDCT every block ----
    val ncomp = compIds.length
    var c = 0
    while (c < ncomp) {
      require(quantT(compTq(c)) != null, s"component $c: no DQT table ${compTq(c)}")
      c += 1
    }
    val padW = geo.padW; val padH = geo.padH
    val planeW = padW.map(_ * 8)
    val planes = Array.tabulate(ncomp)(ci => new Array[Int](planeW(ci) * padH(ci) * 8))
    var ci = 0
    while (ci < ncomp) {
      val quant = quantT(compTq(ci))
      val cz = coefs(ci)
      val pw = planeW(ci)
      val plane = planes(ci)
      var by = 0
      while (by < padH(ci)) {
        var bx = 0
        while (bx < padW(ci)) {
          val off = (by * padW(ci) + bx) * 64
          val coefN = new Array[Int](64)
          var i = 0
          while (i < 64) { coefN(Zigzag(i)) = cz(off + i) * quant(i); i += 1 }
          val blk = idct(coefN, precision)
          var y = 0
          while (y < 8) {
            var x = 0
            while (x < 8) {
              plane((by * 8 + y) * pw + bx * 8 + x) = blk(y * 8 + x)
              x += 1
            }
            y += 1
          }
          bx += 1
        }
        by += 1
      }
      ci += 1
    }
    if (ncomp == 1) {
      val out = new Array[Int](w * h)
      val pw = planeW(0)
      var y = 0
      while (y < h) {
        System.arraycopy(planes(0), y * pw, out, y * w, w)
        y += 1
      }
      Jpeg(w, h, out, 1, precision)
    } else {
      // JFIF YCbCr -> RGB (ITU-R BT.601 constants), rounded and clamped.
      // Subsampled chroma upsamples by sample replication (px·hi/hmax) —
      // the spec-legal nearest-neighbor upsampler; on the per-MCU-constant
      // oracle fixtures every legal upsampler agrees exactly.
      val rgb = new Array[Int](w * h * 3)
      def clamp(d: Double): Int =
        math.max(0, math.min(255, math.round(d).toInt))
      val hmax = geo.hmax; val vmax = geo.vmax
      var py = 0
      while (py < h) {
        var px = 0
        while (px < w) {
          val i = py * w + px
          val yv = planes(0)(
            (py * compV(0) / vmax) * planeW(0) + px * compH(0) / hmax).toDouble
          val cb = planes(1)(
            (py * compV(1) / vmax) * planeW(1) + px * compH(1) / hmax) - 128.0
          val cr = planes(2)(
            (py * compV(2) / vmax) * planeW(2) + px * compH(2) / hmax) - 128.0
          rgb(3 * i) = clamp(yv + 1.402 * cr)
          rgb(3 * i + 1) = clamp(yv - 0.344136 * cb - 0.714136 * cr)
          rgb(3 * i + 2) = clamp(yv + 1.772 * cb)
          px += 1
        }
        py += 1
      }
      Jpeg(w, h, rgb, 3)
    }
  }

  /** Decode ONE scan's entropy data into the coefficient buffers.
    *
    * Sequential: the full 0..63 band, DC prediction + AC run/size per
    * block (T.81 F.2). Progressive (T.81 G.1.2): a DC scan carries
    * coefficient 0 only — first pass (Ah=0) decodes predictions shifted
    * left by Al, refinements (Ah>0) append one raw bit per block; an AC
    * scan carries one band of one component — first pass decodes
    * run/size values at magnitude Al with EOB-RUN coding across blocks,
    * refinements walk the band appending one correction bit per
    * already-nonzero coefficient and placing newly-significant ±1<<Al
    * values (the G.1.2.3 flowchart). Restart markers byte-align, verify
    * the modulo-8 cadence, and reset DC predictions AND the EOB run. */
  private def runScan(br: BitReader, coefs: Array[Array[Int]], geo: Geometry,
      scanComp: Array[Int], dcTs: Array[HuffTable], acTs: Array[HuffTable],
      ss: Int, se: Int, ah: Int, al: Int, restartInterval: Int,
      sequential: Boolean): Unit = {
    val prevDc = new Array[Int](scanComp.length)
    var eobrun = 0

    def seqBlock(si: Int, off: Int): Unit = {
      val coef = coefs(scanComp(si))
      val s = dcTs(si).decode(br)
      prevDc(si) += extend(br.receive(s), s)
      coef(off) = prevDc(si)
      var k = 1
      while (k < 64) {
        val rs = acTs(si).decode(br)
        if (rs == 0x00) k = 64            // EOB
        else if (rs == 0xf0) k += 16      // ZRL
        else {
          k += (rs >> 4)
          require(k < 64, s"AC run overflows block at k=$k")
          coef(off + k) = extend(br.receive(rs & 0xf), rs & 0xf)
          k += 1
        }
      }
    }

    def dcFirst(si: Int, off: Int): Unit = {
      val s = dcTs(si).decode(br)
      prevDc(si) += extend(br.receive(s), s)
      coefs(scanComp(si))(off) = prevDc(si) << al
    }

    def dcRefine(si: Int, off: Int): Unit =
      coefs(scanComp(si))(off) |= br.bit() << al

    def acFirst(off: Int): Unit = {
      if (eobrun > 0) { eobrun -= 1; return }
      val coef = coefs(scanComp(0))
      var k = ss
      while (k <= se) {
        val rs = acTs(0).decode(br)
        val r = rs >> 4; val sz = rs & 15
        if (sz == 0) {
          if (r == 15) k += 16 // ZRL
          else {
            // EOBn: run of 2^r + receive(r) blocks ending here — the
            // current block is one of them
            eobrun = (1 << r) - 1
            if (r > 0) eobrun += br.receive(r)
            k = 64
          }
        } else {
          k += r
          require(k <= se, s"AC run overflows band at k=$k")
          coef(off + k) = extend(br.receive(sz), sz) << al
          k += 1
        }
      }
    }

    def acRefine(off: Int): Unit = {
      val coef = coefs(scanComp(0))
      val p1 = 1 << al
      def correct(idx: Int): Unit =
        if (br.bit() == 1 && (coef(idx) & p1) == 0)
          coef(idx) += (if (coef(idx) >= 0) p1 else -p1)
      if (eobrun > 0) {
        // block fully covered by a pending EOB run: correction bits only
        var k = ss
        while (k <= se) { if (coef(off + k) != 0) correct(off + k); k += 1 }
        eobrun -= 1
      } else {
        var k = ss
        while (k <= se) {
          val rs = acTs(0).decode(br)
          var r = rs >> 4; val sz = rs & 15
          var newval = 0
          if (sz == 0) {
            if (r < 15) {
              // EOBn: current block's tail still gets correction bits —
              // force the walk to the band end; the run count below
              // already EXCLUDES this block
              eobrun = (1 << r) - 1
              if (r > 0) eobrun += br.receive(r)
              r = 64
            }
            // r == 15 (ZRL): the walk consumes r+1 = 16 zero-history slots
          } else {
            require(sz == 1, s"AC refinement size must be 1, got $sz")
            newval = if (br.bit() == 1) p1 else -p1
          }
          var placed = false
          while (k <= se && !placed) {
            val idx = off + k
            k += 1
            if (coef(idx) != 0) correct(idx)
            else if (r == 0) {
              if (newval != 0) coef(idx) = newval
              placed = true
            } else r -= 1
          }
        }
      }
    }

    geo.walk(scanComp, restartInterval) { m =>
      br.expectRestart(m)
      java.util.Arrays.fill(prevDc, 0)
      eobrun = 0
    } { (si, blockOff) =>
      val off = blockOff * 64
      if (sequential) seqBlock(si, off)
      else if (ss == 0) { if (ah == 0) dcFirst(si, off) else dcRefine(si, off) }
      else { if (ah == 0) acFirst(off) else acRefine(off) }
    }
  }
}
