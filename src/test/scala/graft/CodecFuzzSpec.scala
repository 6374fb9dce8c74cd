package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{JpegCodec, PngCodec, PpmCodec, WavCodec}

/** Mutation fuzzing for the byte codecs. A 100 TB media crawl WILL feed
  * these garbage, and the stated contract is LOUD, PRECISE failure:
  * every mutated container must either decode (mutations in slack
  * space / in formats without integrity checks) or throw
  * IllegalArgumentException — never an index error, a buffer underflow,
  * zlib's checked DataFormatException, a negative allocation, or a
  * hang. Each failure class here was a real unguarded path before the
  * hardening pass (overflowing dims, lying segment lengths, truncated
  * zlib streams). */
class CodecFuzzSpec extends AnyFunSuite {

  private val rng = new scala.util.Random(0xf022)

  /** Run `decode` over `trials` random 1-3 byte mutations of `base`;
    * the only tolerated outcomes are success or IAE. */
  private def fuzz(name: String, base: Array[Byte], trials: Int)(decode: Array[Byte] => Any): Unit = {
    var ok = 0; var rejected = 0
    (1 to trials).foreach { t =>
      val mutated = base.clone()
      (0 until 1 + rng.nextInt(3)).foreach { _ =>
        mutated(rng.nextInt(mutated.length)) = rng.nextInt(256).toByte
      }
      try { decode(mutated); ok += 1 }
      catch {
        case _: IllegalArgumentException => rejected += 1
        case e: Throwable =>
          fail(s"$name trial $t: non-contract failure ${e.getClass.getName}: ${e.getMessage}")
      }
    }
    info(f"$name: $ok decoded, $rejected rejected loudly over $trials mutations")
  }

  /** Truncation sweep: every prefix length must also stay in contract. */
  private def truncations(name: String, base: Array[Byte])(decode: Array[Byte] => Any): Unit =
    (0 until base.length by math.max(1, base.length / 97)).foreach { n =>
      try decode(base.take(n))
      catch {
        case _: IllegalArgumentException => ()
        case e: Throwable =>
          fail(s"$name truncated to $n: ${e.getClass.getName}: ${e.getMessage}")
      }
    }

  test("WAV decode stays in contract under mutation and truncation") {
    val base = WavCodec.encode(22050, 2,
      Array.tabulate(400)(i => ((i * 371) % 4096 - 2048).toShort), junk = 3)
    fuzz("wav", base, 400)(WavCodec.decode)
    truncations("wav", base)(WavCodec.decode)
  }

  test("PPM decode stays in contract under mutation and truncation") {
    val base = PpmCodec.encode(9, 7, 255,
      Array.tabulate(9 * 7 * 3)(i => i * 31 % 256), junkComments = 2)
    fuzz("ppm", base, 400)(PpmCodec.decode)
    truncations("ppm", base)(PpmCodec.decode)
  }

  test("PNG decode stays in contract under mutation and truncation") {
    val base = PngCodec.encode(9, 7, 3,
      Array.tabulate(9 * 7 * 3)(i => i * 37 % 256))
    fuzz("png", base, 400)(PngCodec.decode)
    truncations("png", base)(PngCodec.decode)
  }

  test("16-bit + Adam7 PNG decode stays in contract under mutation and truncation") {
    // the new surfaces bring their own parse paths (2-byte samples, the
    // 7-pass size accounting, per-pass unfilter bounds) — fuzz both
    val b16 = PngCodec.encode(9, 7, 3,
      Array.tabulate(9 * 7 * 3)(i => i * 977 % 65536), depth = 16)
    fuzz("png16", b16, 400)(PngCodec.decode)
    truncations("png16", b16)(PngCodec.decode)
    val a7 = PngCodec.encode(11, 9, 2,
      Array.tabulate(11 * 9 * 2)(i => i * 37 % 256), interlace = true)
    fuzz("png_adam7", a7, 400)(PngCodec.decode)
    truncations("png_adam7", a7)(PngCodec.decode)
    val a716 = PngCodec.encode(10, 6, 1,
      Array.tabulate(10 * 6)(i => i * 1103 % 65536), depth = 16, interlace = true)
    fuzz("png16_adam7", a716, 400)(PngCodec.decode)
    truncations("png16_adam7", a716)(PngCodec.decode)
  }

  test("lossless JPEG decode stays in contract under mutation and truncation") {
    // its own parse paths: SOF3 precision range, predictor-bearing SOS,
    // category-16 differences, restart cadence in sample units
    val ls = JpegCodec.encodeLossless(9, 7, 12, 5,
      Array(Array.tabulate(9 * 7)(i => i * 131 % 4096)), restartInterval = 11)
    fuzz("jpeg_lossless", ls, 400)(JpegCodec.decode)
    truncations("jpeg_lossless", ls)(JpegCodec.decode)
  }

  test("sub-byte PNG decode stays in contract under mutation and truncation") {
    // bit-packed rows bring their own parse paths: byte-padded row
    // accounting, MSB-first unpacking, palette index bounds at depth<8
    val g2 = PngCodec.encode(11, 7, 1, Array.tabulate(11 * 7)(i => i % 4), depth = 2)
    fuzz("png_gray2", g2, 400)(PngCodec.decode)
    truncations("png_gray2", g2)(PngCodec.decode)
    val p4 = PngCodec.encode(9, 5, 1, Array.tabulate(9 * 5)(i => i % 16),
      depth = 4, palette = Some(Array.tabulate(16)(j => j * 0x111111)))
    fuzz("png_pal4", p4, 400)(PngCodec.decode)
    truncations("png_pal4", p4)(PngCodec.decode)
    val g1a7 = PngCodec.encode(13, 11, 1, Array.tabulate(13 * 11)(i => i % 2),
      depth = 1, interlace = true)
    fuzz("png_gray1_adam7", g1a7, 400)(PngCodec.decode)
    truncations("png_gray1_adam7", g1a7)(PngCodec.decode)
  }

  test("JPEG decode stays in contract under mutation and truncation") {
    val px = new Array[Int](16 * 16)
    for (by <- 0 until 2; bx <- 0 until 2; y <- 0 until 8; x <- 0 until 8)
      px((by * 8 + y) * 16 + bx * 8 + x) = ((bx * 3 + by * 7) % 128) * 2
    val base = JpegCodec.encode(JpegCodec.Frame.gray(16, 16, 16,
      JpegCodec.constantBlocks(16, 16, 8, 16)((x, y) => px(y * 16 + x))))
    fuzz("jpeg", base, 400)(JpegCodec.decode)
    truncations("jpeg", base)(JpegCodec.decode)
  }
}
