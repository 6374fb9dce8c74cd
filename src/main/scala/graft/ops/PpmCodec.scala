package graft.ops

/** A REAL (not stubbed) binary PPM (P6) image codec in plain Scala — the
  * image twin of [[WavCodec]], chosen for the same reason WAV was: Netpbm
  * P6 is an uncompressed PUBLIC format (one ASCII header, then raw RGB
  * bytes) fully decodable without any image library, which is exactly
  * what this container lacks. With this, the multimodal pillar has a real
  * decode path for both audio (RIFF/WAVE) and images; only the
  * entropy-coded formats (jpeg/png) remain loudly-marked stubs in
  * [[Multimodal]].
  *
  * The decoder is production-shaped, not fixture-shaped: the PPM header
  * grammar allows arbitrary whitespace runs and `#` comment lines between
  * tokens, so the parser genuinely TOKENIZES (the encoder injects junk
  * comments to force it — a byte-44-style fixed-offset "parser" cannot
  * pass the fixtures). Malformed input fails loudly with a precise
  * message: a 100 TB image crawl WILL contain garbage, and a silent
  * misparse poisons every downstream feature.
  *
  * Scale shape: identical to WavCodec — per-row CPU inside one
  * `mapPartitions`, zero shuffle before the tiny feature rows; see
  * [[Multimodal.decodePpm]].
  */
object PpmCodec {

  /** Decoded image: dims + max sample value straight from the header,
    * interleaved RGB samples (R G B R G B …, one triple per pixel) from
    * the raster.
    * `pixels.length` = width × height × 3; values 0..maxVal. */
  final case class Ppm(width: Int, height: Int, maxVal: Int,
      pixels: Array[Int])

  /** Encode interleaved RGB samples as a P6 blob. `junkComments` injects
    * that many `#`-comment lines of varying width into the header, so a
    * decoder tested against these fixtures must genuinely tokenize the
    * header rather than assume fixed offsets (the WavCodec LIST-chunk
    * trick, transposed). Only 1-byte samples (maxVal ≤ 255) are emitted —
    * the format the decode path supports. */
  def encode(width: Int, height: Int, maxVal: Int, pixels: Array[Int],
      junkComments: Int = 0): Array[Byte] = {
    require(width > 0 && height > 0, s"bad dims: ${width}x$height")
    require(maxVal > 0 && maxVal <= 255, s"encoder supports maxVal 1..255, got $maxVal")
    require(pixels.length == width * height * 3,
      s"raster mismatch: ${pixels.length} samples for ${width}x$height RGB")
    val sb = new StringBuilder("P6\n")
    var c = 0
    while (c < junkComments) {
      // width varies per line so a comment-skipper must honor the \n
      sb.append("# junk").append("x" * (c + 1)).append('\n')
      c += 1
    }
    sb.append(width).append(' ').append(height).append('\n')
      .append(maxVal).append('\n')
    val header = sb.toString.getBytes("US-ASCII")
    val out = new Array[Byte](header.length + pixels.length)
    System.arraycopy(header, 0, out, 0, header.length)
    var i = 0
    while (i < pixels.length) {
      val v = pixels(i)
      require(v >= 0 && v <= maxVal, s"sample $v out of range 0..$maxVal at $i")
      out(header.length + i) = v.toByte
      i += 1
    }
    out
  }

  /** Header byte length the canonical encoder produces for the given
    * params — the closed form the oracle needs to reproduce container
    * sizes in SQL: 3 ("P6\n") + Σ_{c<junk}(6+(c+1)+1) comment bytes +
    * digits(w)+1 + digits(h)+1 + digits(maxVal)+1. */
  def headerLen(width: Int, height: Int, maxVal: Int, junkComments: Int): Int = {
    var j = 0; var c = 0
    while (c < junkComments) { j += 6 + (c + 1) + 1; c += 1 }
    3 + j + width.toString.length + 1 + height.toString.length + 1 +
      maxVal.toString.length + 1
  }

  /** Parse a P6 blob. Throws IllegalArgumentException with a precise
    * message on malformed input. Grammar (Netpbm spec): "P6", then three
    * ASCII decimal tokens (width, height, maxval) each preceded by
    * whitespace that may contain `#`-to-end-of-line comments, then ONE
    * whitespace byte, then width·height·3 raster bytes. maxVal ≥ 256
    * (2-byte samples) is valid PPM but rejected loudly here — the
    * features contract is 1-byte samples. */
  def decode(bytes: Array[Byte]): Ppm = {
    require(bytes.length >= 2, s"truncated: ${bytes.length} bytes")
    require(bytes(0) == 'P' && bytes(1) == '6',
      s"missing P6 magic, got '${new String(bytes.take(2), "US-ASCII")}'")
    var pos = 2
    // skip whitespace runs and # comments (comment runs to end of line)
    def skipSpace(what: String): Unit = {
      var progressed = false
      var done = false
      while (!done && pos < bytes.length) {
        val b = bytes(pos)
        if (b == ' ' || b == '\t' || b == '\n' || b == '\r' || b == 11 || b == 12) {
          pos += 1; progressed = true
        } else if (b == '#') {
          while (pos < bytes.length && bytes(pos) != '\n') pos += 1
          progressed = true
        } else done = true
      }
      require(progressed, s"expected whitespace before $what at byte $pos")
    }
    def token(what: String): Int = {
      skipSpace(what)
      val start = pos
      var v = 0L
      while (pos < bytes.length && bytes(pos) >= '0' && bytes(pos) <= '9') {
        v = v * 10 + (bytes(pos) - '0')
        require(v <= Int.MaxValue, s"$what overflows at byte $start")
        pos += 1
      }
      require(pos > start, s"expected decimal $what at byte $start")
      v.toInt
    }
    val w = token("width")
    val h = token("height")
    val mv = token("maxval")
    require(w > 0 && h > 0, s"bad dims: ${w}x$h")
    require(mv > 0 && mv < 65536, s"maxval $mv out of spec range 1..65535")
    require(mv <= 255,
      s"2-byte samples (maxval $mv) not supported by this decode path")
    // exactly ONE whitespace byte separates the header from the raster
    require(pos < bytes.length && (bytes(pos) == '\n' || bytes(pos) == ' ' ||
      bytes(pos) == '\t' || bytes(pos) == '\r'),
      s"expected single whitespace before raster at byte $pos")
    pos += 1
    // long arithmetic: corrupt headers can claim dims whose product
    // overflows Int and flips negative, sailing past the length check
    val nL = w.toLong * h * 3
    require(nL <= Int.MaxValue, s"implausible dims ${w}x$h overflow the raster size")
    val n = nL.toInt
    require(bytes.length - pos >= n,
      s"raster truncated: need $n bytes, have ${bytes.length - pos}")
    val px = new Array[Int](n)
    var i = 0
    while (i < n) {
      val v = bytes(pos + i) & 0xff
      require(v <= mv, s"sample $v exceeds maxval $mv at raster byte $i")
      px(i) = v
      i += 1
    }
    Ppm(w, h, mv, px)
  }
}
