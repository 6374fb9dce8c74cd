package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Multimodal-column plumbing (SURVEY.md §7.5): image/audio/video handled
  * as opaque `binary` columns with typed metadata, decoded/featurized in
  * batch via `mapPartitions`.
  *
  * Every format has a real decode path: RIFF/WAVE PCM audio
  * ([[WavCodec]] — byte-level encode + chunk-walking decode, run by
  * [[decodeWav]]), binary PPM (P6) images ([[PpmCodec]] —
  * header-tokenizing parse, run by [[decodePpm]]), COMPRESSED PNG
  * ([[PngCodec]] — zlib inflate via the JDK's built-in Inflater, chunk
  * CRCs, all five row filters, run by [[decodePng]]), GIF ([[GifCodec]])
  * and JPEG ([[JpegCodec]] — baseline, progressive, 12-bit, arithmetic
  * and lossless, run by the `decodeJpeg*` gates on fixtures the lossy
  * pipeline reproduces exactly). The byte-statistics bodies in
  * [[features]]/[[resize]] below remain marked stand-ins for a GENERIC
  * payload (the synthetic media table's blobs are not real containers);
  * the per-format decode queries above are where real bytes are parsed.
  *
  * Scale notes: media payloads dominate row size, so the feature pass maps
  * partitions 1:1 with no shuffle (narrow dependency); only the small
  * feature output ever shuffles. `spark.sql.files.maxPartitionBytes`
  * governs batch size per task — with real ~MB payloads you'd lower it so
  * a partition's decoded batch fits executor memory.
  */
object Multimodal {

  /** doc_id source for a CPU-heavy codec stage, fanned to full
    * parallelism: the corpus parquet is a single split at bench
    * scale, so the whole encode+decode stage otherwise runs as ONE task;
    * only 8-byte ids cross the fanout exchange. Used by exactly the
    * gates whose per-row codec work outweighs a 32-task dispatch — the
    * sub-quarter-second gates deliberately stay on the plain scan. */
  private def fannedDocIds(s: SparkSession, d: String): org.apache.spark.sql.Dataset[Long] = {
    import s.implicits._
    Tables.fanout(s, Tables.documents(s, d).select("doc_id")).as[Long]
  }


  /** Synthetic media table: a deterministic 128-byte payload per document
    * (md5 of the text, repeated — engine-reproducible) plus typed metadata.
    * Stands in for a real `binary` column read from parquet. */
  def mediaTable(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(
      col("doc_id"),
      unhex(repeat(md5(col("text")), 8)).as("payload"),
      element_at(array(lit("jpeg"), lit("png"), lit("wav")),
        (col("doc_id") % 3 + 1).cast("int")).as("format"),
      (col("n_chars") % 64 + 16).cast("int").as("width"),
      (col("n_chars") % 48 + 16).cast("int").as("height"))

  /** Metadata projection over the binary column (oracle-checked: byte
    * length + typed meta survive the binary round-trip). */
  def meta(s: SparkSession, d: String): DataFrame =
    mediaTable(s, d)
      .select(col("doc_id"), length(col("payload")).cast("long").as("n_bytes"),
        col("format"), col("width"), col("height"))
      .orderBy("doc_id")

  val metaOracle: String = """
SELECT doc_id,
       octet_length(unhex(repeat(md5(text), 8))) AS n_bytes,
       ['jpeg', 'png', 'wav'][CAST(doc_id % 3 + 1 AS INT)] AS format,
       CAST(n_chars % 64 + 16 AS INT) AS width,
       CAST(n_chars % 48 + 16 AS INT) AS height
FROM documents ORDER BY doc_id"""

  /** Binary-content exact dedup — the first stage of any media pipeline:
    * hash the raw payload BYTES (before any decode), keep one copy per
    * content hash. Deduping on the 16-byte digest means the shuffle moves
    * hashes, never payloads — at 100 TB of media that is the difference
    * between shuffling kilobyte-to-megabyte blobs and fixed 16-byte keys
    * (same design as [[Dedup.exact]] for text). The hash is taken over the
    * engine-neutral hex rendering of the bytes so DuckDB (whose md5 only
    * accepts VARCHAR) reproduces it exactly. */
  def contentDedup(s: SparkSession, d: String): DataFrame =
    mediaTable(s, d)
      .groupBy(md5(hex(col("payload"))).as("content_hash"))
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_copies"),
        min("format").as("format"))
      .orderBy("keep_id")

  val contentDedupOracle: String = """
SELECT md5(hex(unhex(repeat(md5(text), 8)))) AS content_hash,
       min(doc_id) AS keep_id, count(*) AS n_copies,
       min(['jpeg', 'png', 'wav'][CAST(doc_id % 3 + 1 AS INT)]) AS format
FROM documents GROUP BY 1 ORDER BY keep_id"""

  case class MediaFeatures(doc_id: Long, n_bytes: Int, mean_byte: Double,
    h0: Long, h1: Long, h2: Long, h3: Long)

  /** Batch "decode" + feature extraction via mapPartitions — the partition
    * is the batch, mirroring how a vectorized decode UDF consumes arrow
    * batches. The byte-statistics body below is the STUB standing in for
    * a real codec call. */
  def features(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val out = mediaTable(s, d).select("doc_id", "payload")
      .as[(Long, Array[Byte])]
      .mapPartitions { batch =>
        batch.map { case (id, bytes) =>
          // STUB decode: byte histogram over the top-2 bits + mean byte.
          // A real deployment replaces this block with the codec call;
          // the surrounding plumbing (schema, batching, output) stays.
          val hist = new Array[Long](4)
          var sum = 0L
          bytes.foreach { b =>
            val v = b & 0xff
            hist(v >> 6) += 1
            sum += v
          }
          MediaFeatures(id, bytes.length,
            math.rint(sum.toDouble / bytes.length * 1e6) / 1e6,
            hist(0), hist(1), hist(2), hist(3))
        }
      }
    out.toDF().orderBy("doc_id")
  }

  /** Oracle recomputes the byte statistics from the md5 hex digits (the
    * payload is the 16 md5 bytes repeated 8×, so each histogram count is
    * 8× the per-md5 count and the mean is unchanged). */
  val featuresOracle: String = {
    val byteAt = "list_transform(generate_series(1, 16), i -> " +
      "(strpos('0123456789abcdef', substr(md5(text), 2*i-1, 1)) - 1) * 16 + " +
      "(strpos('0123456789abcdef', substr(md5(text), 2*i, 1)) - 1))"
    s"""
WITH b AS (SELECT doc_id, $byteAt AS bytes FROM documents)
SELECT doc_id,
       CAST(128 AS INT) AS n_bytes,
       round(list_sum(bytes) / 16.0, 6) AS mean_byte,
       CAST(8 * len(list_filter(bytes, v -> v // 64 = 0)) AS BIGINT) AS h0,
       CAST(8 * len(list_filter(bytes, v -> v // 64 = 1)) AS BIGINT) AS h1,
       CAST(8 * len(list_filter(bytes, v -> v // 64 = 2)) AS BIGINT) AS h2,
       CAST(8 * len(list_filter(bytes, v -> v // 64 = 3)) AS BIGINT) AS h3
FROM b ORDER BY doc_id"""
  }

  case class FrameSample(doc_id: Long, n_frames: Int, n_sampled: Int, first_frame_hex: String)

  /** Video-style frame sampling: slice the payload into fixed-size frames,
    * keep every `stride`-th. Oracle-checked: the oracle re-states the
    * slicing arithmetic over the payload length and reproduces the first
    * kept frame from the payload's known md5-repeat structure (frame 0 is
    * exactly the 16 md5 digest bytes, so its hex IS md5(text)). */
  def frameSample(s: SparkSession, d: String, frameBytes: Int = 16, stride: Int = 4): DataFrame = {
    import s.implicits._
    mediaTable(s, d).select("doc_id", "payload")
      .as[(Long, Array[Byte])]
      .mapPartitions { batch =>
        batch.map { case (id, bytes) =>
          val frames = bytes.grouped(frameBytes).toArray
          val sampled = frames.indices.collect { case i if i % stride == 0 => frames(i) }
          FrameSample(id, frames.length, sampled.length,
            sampled.headOption.map(_.map("%02x".format(_)).mkString).getOrElse(""))
        }
      }
      .toDF().orderBy("doc_id")
  }

  /** frameBytes=16, stride=4 over the 128-byte payload: n_frames =
    * ceil(len/16), n_sampled = |{i < n_frames : i % 4 = 0}| = ceil(n/4),
    * and the first kept frame (index 0) is the md5 digest itself. */
  val frameSampleOracle: String = """
WITH p AS (SELECT doc_id, octet_length(unhex(repeat(md5(text), 8))) AS len,
                  md5(text) AS h
           FROM documents)
SELECT doc_id,
       CAST(ceil(len / 16.0) AS INT) AS n_frames,
       CAST(ceil(ceil(len / 16.0) / 4.0) AS INT) AS n_sampled,
       h AS first_frame_hex
FROM p ORDER BY doc_id"""

  case class ResizePlan(doc_id: Long, out_w: Int, out_h: Int, resized_len: Int, first_byte: Int)

  /** Image-style resize: aspect-preserving fit into a `box`×`box` target
    * (pure integer arithmetic on the typed metadata) plus a stub byte-
    * stride downsample of the payload standing in for the pixel resample.
    * As with [[features]], the codec-adjacent body is the STUB; the
    * batched binary plumbing and the dims arithmetic are real. */
  def resize(s: SparkSession, d: String, box: Int = 64): DataFrame = {
    import s.implicits._
    mediaTable(s, d).select("doc_id", "payload", "width", "height")
      .as[(Long, Array[Byte], Int, Int)]
      .mapPartitions { batch =>
        batch.map { case (id, bytes, w, h) =>
          val m = math.max(w, h)
          val ow = math.max(1, w * box / m)
          val oh = math.max(1, h * box / m)
          // STUB resample: every stride-th byte; a real deployment swaps
          // this for the codec's scaler, keeping dims + output shape
          val stride = math.max(1, bytes.length / box)
          val res = bytes.indices.collect { case i if i % stride == 0 => bytes(i) }
          ResizePlan(id, ow, oh, res.length, res.head & 0xff)
        }
      }
      .toDF().orderBy("doc_id")
  }

  /** Integer fit arithmetic restated in SQL; the first resampled byte is
    * payload byte 0 = the first md5 digest byte, derived from the hex. */
  val resizeOracle: String = """
WITH p AS (SELECT doc_id,
                  CAST(n_chars % 64 + 16 AS INT) AS w,
                  CAST(n_chars % 48 + 16 AS INT) AS h,
                  octet_length(unhex(repeat(md5(text), 8))) AS len,
                  md5(text) AS hx
           FROM documents)
SELECT doc_id,
       CAST(greatest(1, w * 64 // greatest(w, h)) AS INT) AS out_w,
       CAST(greatest(1, h * 64 // greatest(w, h)) AS INT) AS out_h,
       CAST(ceil(len * 1.0 / greatest(1, len // 64)) AS INT) AS resized_len,
       CAST((strpos('0123456789abcdef', substr(hx, 1, 1)) - 1) * 16
          + (strpos('0123456789abcdef', substr(hx, 2, 1)) - 1) AS INT) AS first_byte
FROM p ORDER BY doc_id"""

  case class WavFeatures(doc_id: Long, n_bytes: Int, sample_rate: Int,
    n_channels: Int, n_frames: Int, duration_ms: Long, peak: Int, sum_sq: Long)

  /** REAL audio decode (no stub): per row, synthesize a spec-complete
    * 16-bit PCM WAV blob (deterministic LCG-ish samples + a junk LIST
    * chunk so the parser must chunk-walk), then run [[WavCodec.decode]]
    * on the bytes and emit features computed ONLY from the decoded
    * stream. The oracle re-derives every feature from the generator's
    * closed form — so a header misparse (wrong rate/channels/data
    * offset) or a sample-endianness bug breaks the hash gate.
    *
    * Scale shape: generation and decode are per-row CPU inside one
    * `mapPartitions` (narrow, zero shuffle before the tiny feature rows);
    * with real files the generator disappears and `payload` arrives from
    * parquet — the decode/feature body is unchanged. */
  case class WavDownsampled(doc_id: Long, in_bytes: Int, out_bytes: Int,
    in_frames: Int, out_frames: Int, out_rate: Int, out_duration_ms: Long,
    out_peak: Int, out_sumsq: Long)

  /** Audio TRANSFORM plumbing — decimation by 2 (keep every 2nd frame,
    * halve the sample rate, duration preserved): the audio analog of
    * [[resize]] for images, composing the codec BOTH WAYS —
    * decode → transform → [[WavCodec.encode]] → decode again — with all
    * reported features computed from the SECOND decode, so a bug in
    * either direction of the codec or in the interleaved frame surgery
    * breaks the hash gate. (True decimation low-pass-filters first; the
    * drop-frame form keeps the arithmetic integer-exact so the
    * transform itself gates — the filter is a kernel swap in the same
    * frame loop.) The oracle re-derives everything from the generator's
    * closed form over the EVEN frame indices plus RIFF size arithmetic.
    * Per-row CPU inside one mapPartitions, zero shuffle. */
  def downsampleWav(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d).select("doc_id").as[Long]
      .mapPartitions { batch =>
        batch.map { id =>
          val rate = Array(8000, 16000, 22050)((id % 3).toInt)
          val ch = 1 + (id % 2).toInt
          val nf = (500 + (id % 7) * 250).toInt
          val junk = (id % 5).toInt + 1
          val samples = new Array[Short](nf * ch)
          var i = 0
          while (i < samples.length) {
            val t = i / ch; val c = i % ch
            samples(i) = (((id * 37 + t * 13 + c * 101) % 4096) - 2048).toShort
            i += 1
          }
          val inBytes = WavCodec.encode(rate, ch, samples, junk)
          // decode #1, frame surgery on the DECODED stream
          val in = WavCodec.decode(inBytes)
          val keptFrames = (in.frames + 1) / 2
          val kept = new Array[Short](keptFrames * in.channels)
          var f = 0
          while (f < keptFrames) {
            var c = 0
            while (c < in.channels) {
              kept(f * in.channels + c) = in.samples(2 * f * in.channels + c)
              c += 1
            }
            f += 1
          }
          val outBytes = WavCodec.encode(in.sampleRate / 2, in.channels, kept)
          // decode #2 — every reported feature comes from here
          val out = WavCodec.decode(outBytes)
          var peak = 0; var sumSq = 0L
          var j = 0
          while (j < out.samples.length) {
            val v = out.samples(j).toInt
            if (math.abs(v) > peak) peak = math.abs(v)
            sumSq += v.toLong * v
            j += 1
          }
          WavDownsampled(id, inBytes.length, outBytes.length, in.frames,
            out.frames, out.sampleRate,
            out.frames * 1000L / out.sampleRate, peak, sumSq)
        }
      }
      .toDF().orderBy("doc_id")
  }

  val downsampleWavOracle: String = """
WITH p AS (
  SELECT doc_id,
         CAST([8000, 16000, 22050][CAST(doc_id % 3 AS INT) + 1] AS INT) AS rate,
         CAST(1 + doc_id % 2 AS INT) AS ch,
         CAST(500 + (doc_id % 7) * 250 AS INT) AS nf,
         CAST(doc_id % 5 + 1 AS INT) AS junk
  FROM documents),
sizes AS (
  SELECT *, (nf + 1) // 2 AS nf2,
         CAST(44 + (8 + junk + (junk % 2)) + nf * ch * 2 AS INT) AS in_bytes,
         CAST(44 + ((nf + 1) // 2) * ch * 2 AS INT) AS out_bytes
  FROM p),
i AS (
  SELECT doc_id, ch, unnest(generate_series(0, nf2 * ch - 1)) AS i
  FROM sizes),
sam AS (
  SELECT doc_id,
         ((doc_id * 37 + ((i // ch) * 2) * 13 + (i % ch) * 101) % 4096) - 2048 AS v
  FROM i),
agg AS (
  SELECT doc_id, CAST(max(abs(v)) AS INT) AS out_peak,
         CAST(sum(v * v) AS BIGINT) AS out_sumsq
  FROM sam GROUP BY 1)
SELECT s.doc_id, s.in_bytes, s.out_bytes,
       s.nf AS in_frames, CAST(s.nf2 AS INT) AS out_frames,
       CAST(s.rate // 2 AS INT) AS out_rate,
       CAST(s.nf2 * 1000 // (s.rate // 2) AS BIGINT) AS out_duration_ms,
       a.out_peak, a.out_sumsq
FROM sizes s JOIN agg a USING (doc_id)
ORDER BY s.doc_id"""

  def decodeWav(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d).select("doc_id").as[Long]
      .mapPartitions { batch =>
        batch.map { id =>
          val rate = Array(8000, 16000, 22050)((id % 3).toInt)
          val ch = 1 + (id % 2).toInt
          val nf = (500 + (id % 7) * 250).toInt
          val junk = (id % 5).toInt + 1
          val samples = new Array[Short](nf * ch)
          var i = 0
          while (i < samples.length) {
            val t = i / ch; val c = i % ch
            samples(i) = (((id * 37 + t * 13 + c * 101) % 4096) - 2048).toShort
            i += 1
          }
          val bytes = WavCodec.encode(rate, ch, samples, junk)
          // From here on, ONLY the decoded stream is consulted.
          val wav = WavCodec.decode(bytes)
          var peak = 0; var sumSq = 0L
          var j = 0
          while (j < wav.samples.length) {
            val v = wav.samples(j).toInt
            if (math.abs(v) > peak) peak = math.abs(v)
            sumSq += v.toLong * v
            j += 1
          }
          WavFeatures(id, bytes.length, wav.sampleRate, wav.channels,
            wav.frames, wav.frames * 1000L / wav.sampleRate, peak, sumSq)
        }
      }
      .toDF().orderBy("doc_id")
  }

  /** The generator's closed form restated in SQL: params from doc_id,
    * samples re-derived via a lateral generate_series, container size
    * from RIFF arithmetic (44-byte canonical header + 8+junk+pad LIST
    * chunk + data). Agreement here certifies the DECODER, because the
    * Spark side only reports what [[WavCodec.decode]] parsed back out. */
  val decodeWavOracle: String = """
WITH p AS (
  SELECT doc_id,
         CAST([8000, 16000, 22050][CAST(doc_id % 3 AS INT) + 1] AS INT) AS rate,
         CAST(1 + doc_id % 2 AS INT) AS ch,
         CAST(500 + (doc_id % 7) * 250 AS INT) AS nf,
         CAST(doc_id % 5 + 1 AS INT) AS junk
  FROM documents),
i AS (
  SELECT doc_id, rate, ch, nf, junk,
         unnest(generate_series(0, nf * ch - 1)) AS i
  FROM p),
s AS (
  SELECT doc_id, rate, ch, nf, junk,
         ((doc_id * 37 + (i // ch) * 13 + (i % ch) * 101) % 4096) - 2048 AS v
  FROM i)
SELECT doc_id,
       CAST(52 + junk + junk % 2 + nf * ch * 2 AS INT) AS n_bytes,
       rate AS sample_rate,
       ch AS n_channels,
       nf AS n_frames,
       CAST(nf * 1000 // rate AS BIGINT) AS duration_ms,
       CAST(max(abs(v)) AS INT) AS peak,
       CAST(sum(v * v) AS BIGINT) AS sum_sq
FROM s GROUP BY doc_id, rate, ch, nf, junk ORDER BY doc_id"""

  case class PpmFeatures(doc_id: Long, n_bytes: Int, width: Int, height: Int,
    max_val: Int, sum_r: Long, sum_g: Long, sum_b: Long, peak: Int)

  /** REAL image decode (no stub) — the image twin of [[decodeWav]]: per
    * row, synthesize a binary PPM (P6) blob with junk header comments (so
    * the parser must genuinely tokenize the header; see [[PpmCodec]]),
    * then decode the BYTES and emit per-channel features computed ONLY
    * from the decoded raster. The oracle re-derives every feature —
    * including the container byte size, header arithmetic and all — from
    * the generator's closed form, so a header misparse (wrong dims,
    * maxval, raster offset) breaks the hash gate.
    *
    * Scale shape: identical to [[decodeWav]] — per-row CPU in one
    * `mapPartitions`, zero shuffle before the tiny feature rows; with
    * real crawled images the generator disappears and `payload` arrives
    * from parquet, the decode/feature body unchanged. */
  def decodePpm(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d).select("doc_id").as[Long]
      .mapPartitions { batch =>
        batch.map { id =>
          val w = (4 + id % 5).toInt
          val h = (3 + id % 4).toInt
          val mv = (63 + (id % 3) * 96).toInt
          val junk = (id % 4).toInt
          val px = Array.tabulate(w * h * 3)(i =>
            ((id * 31 + i * 17) % (mv + 1)).toInt)
          val bytes = PpmCodec.encode(w, h, mv, px, junk)
          // From here on, ONLY the decoded image is consulted.
          val img = PpmCodec.decode(bytes)
          var sr = 0L; var sg = 0L; var sb = 0L; var peak = 0
          var i = 0
          while (i < img.pixels.length) {
            val v = img.pixels(i)
            (i % 3) match {
              case 0 => sr += v
              case 1 => sg += v
              case _ => sb += v
            }
            if (v > peak) peak = v
            i += 1
          }
          PpmFeatures(id, bytes.length, img.width, img.height, img.maxVal,
            sr, sg, sb, peak)
        }
      }
      .toDF().orderBy("doc_id")
  }

  /** The generator's closed form restated in SQL: dims/maxval/junk from
    * doc_id, samples via a lateral generate_series, container size from
    * the canonical header arithmetic ([[PpmCodec.headerLen]]). Agreement
    * certifies the DECODER — the Spark side only reports what
    * [[PpmCodec.decode]] parsed back out of the bytes. */
  val decodePpmOracle: String = """
WITH p AS (
  SELECT doc_id,
         CAST(4 + doc_id % 5 AS INT) AS w,
         CAST(3 + doc_id % 4 AS INT) AS h,
         CAST(63 + (doc_id % 3) * 96 AS INT) AS mv,
         CAST(doc_id % 4 AS INT) AS junk
  FROM documents),
i AS (
  SELECT doc_id, w, h, mv, junk,
         unnest(generate_series(0, w * h * 3 - 1)) AS i
  FROM p),
s AS (
  SELECT doc_id, w, h, mv, junk, i,
         (doc_id * 31 + i * 17) % (mv + 1) AS v
  FROM i)
SELECT doc_id,
       CAST(8 + 8 * junk + junk * (junk - 1) // 2
            + length(CAST(mv AS VARCHAR)) + w * h * 3 AS INT) AS n_bytes,
       w AS width, h AS height, mv AS max_val,
       CAST(sum(CASE WHEN i % 3 = 0 THEN v END) AS BIGINT) AS sum_r,
       CAST(sum(CASE WHEN i % 3 = 1 THEN v END) AS BIGINT) AS sum_g,
       CAST(sum(CASE WHEN i % 3 = 2 THEN v END) AS BIGINT) AS sum_b,
       CAST(max(v) AS INT) AS peak
FROM s GROUP BY doc_id, w, h, mv, junk ORDER BY doc_id"""

  case class PngFeatures(doc_id: Long, width: Int, height: Int, channels: Int,
    n_pixels: Int, sum_r: Long, sum_g: Long, sum_b: Long, sum_a: Long, peak: Int)

  /** REAL compressed-image decode (no stub): per row, synthesize a PNG
    * whose rows cycle all five filter types ([[PngCodec.encode]] with
    * filterMode = -1 — a decoder that shortcuts any unfilter path breaks
    * on the fixtures), then decode the BYTES — zlib inflate, chunk CRCs,
    * per-row defiltering and all — and emit per-channel features computed
    * ONLY from the decoded raster. The oracle re-derives every feature
    * from the generator's closed form; the DEFLATE container size is
    * deliberately not a feature (compression output is not SQL-expressible
    * — the decode path is certified by the pixel values instead, which
    * cross the full compress→decompress→defilter pipeline). */
  def decodePng(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d).select("doc_id").as[Long]
      .mapPartitions { batch =>
        batch.map { id =>
          val w = (3 + id % 5).toInt
          val h = (2 + id % 4).toInt
          val ch = (3 + id % 2).toInt
          val px = Array.tabulate(w * h * ch)(i => ((id * 29 + i * 13) % 256).toInt)
          val bytes = PngCodec.encode(w, h, ch, px)
          // From here on, ONLY the decoded image is consulted.
          val img = PngCodec.decode(bytes)
          var sr = 0L; var sg = 0L; var sb = 0L; var sa = 0L; var peak = 0
          var i = 0
          while (i < img.pixels.length) {
            val v = img.pixels(i)
            (i % img.channels) match {
              case 0 => sr += v
              case 1 => sg += v
              case 2 => sb += v
              case _ => sa += v
            }
            if (v > peak) peak = v
            i += 1
          }
          PngFeatures(id, img.width, img.height, img.channels,
            img.width * img.height, sr, sg, sb, sa, peak)
        }
      }
      .toDF().orderBy("doc_id")
  }

  /** Generator closed form in SQL; sum_a coalesces to 0 for RGB images
    * (no i ≡ 3 mod 3 channel exists). Agreement certifies the DECODER —
    * the pixels the Spark side reports crossed deflate → inflate →
    * CRC-verified chunks → all five unfilter paths. */
  val decodePngOracle: String = """
WITH p AS (
  SELECT doc_id,
         CAST(3 + doc_id % 5 AS INT) AS w,
         CAST(2 + doc_id % 4 AS INT) AS h,
         CAST(3 + doc_id % 2 AS INT) AS ch
  FROM documents),
i AS (
  SELECT doc_id, w, h, ch,
         unnest(generate_series(0, w * h * ch - 1)) AS i
  FROM p),
s AS (
  SELECT doc_id, w, h, ch, i,
         (doc_id * 29 + i * 13) % 256 AS v
  FROM i)
SELECT doc_id, w AS width, h AS height, ch AS channels,
       CAST(w * h AS INT) AS n_pixels,
       CAST(sum(CASE WHEN i % ch = 0 THEN v END) AS BIGINT) AS sum_r,
       CAST(sum(CASE WHEN i % ch = 1 THEN v END) AS BIGINT) AS sum_g,
       CAST(sum(CASE WHEN i % ch = 2 THEN v END) AS BIGINT) AS sum_b,
       CAST(COALESCE(sum(CASE WHEN i % ch = 3 THEN v END), 0) AS BIGINT) AS sum_a,
       CAST(max(v) AS INT) AS peak
FROM s GROUP BY doc_id, w, h, ch ORDER BY doc_id"""

  case class Png16Features(doc_id: Long, width: Int, height: Int,
    channels: Int, interlaced: Boolean, n_pixels: Int,
    sum_c0: Long, sum_c1: Long, sum_c2: Long, sum_c3: Long, peak: Int)

  /** 16-bit + Adam7 PNG decode as a first-class gate (the largest codec
    * share of a real crawl corpus after progressive JPEG). Per row: synthesize a full-range 16-bit raster
    * (values up to 65535 — any sample-level filter shortcut or
    * high/low-byte swap corrupts them), encode it as a real PNG at
    * depth 16 — even doc_ids additionally Adam7-INTERLACED, so both
    * layouts hash into one gate — then decode the bytes and emit
    * per-channel sums and the peak computed ONLY from the decoded
    * raster. PNG is lossless, so the oracle re-derives every feature
    * from the generator's closed form; agreement certifies the 2-byte
    * sample path, byte-level filtering at bpp = 2·channels, and the
    * 7-pass de-interlace scatter end to end. Scale shape: per-row CPU
    * inside one mapPartitions, zero shuffle before the tiny feature
    * rows (same as every codec gate). */
  def decodePng16(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d).select("doc_id").as[Long]
      .mapPartitions { batch =>
        batch.map { id =>
          val w = (3 + id % 7).toInt
          val h = (2 + id % 6).toInt
          val ch = (1 + id % 4).toInt
          val inter = id % 2 == 0
          val px = Array.tabulate(w * h * ch)(i => ((id * 31 + i * 257) % 65536).toInt)
          val bytes = PngCodec.encode(w, h, ch, px, depth = 16, interlace = inter)
          // From here on, ONLY the decoded image is consulted.
          val img = PngCodec.decode(bytes)
          require(img.depth == 16, s"doc $id: expected a 16-bit decode")
          val sums = new Array[Long](4)
          var peak = 0
          var i = 0
          while (i < img.pixels.length) {
            val v = img.pixels(i)
            sums(i % img.channels) += v
            if (v > peak) peak = v
            i += 1
          }
          Png16Features(id, img.width, img.height, img.channels, inter,
            img.width * img.height, sums(0), sums(1), sums(2), sums(3), peak)
        }
      }
      .toDF().orderBy("doc_id")
  }

  case class PngSub8Features(doc_id: Long, width: Int, height: Int,
    depth_bits: Int, paletted: Boolean, interlaced: Boolean, n_pixels: Int,
    sum_c0: Long, sum_c1: Long, sum_c2: Long, peak: Int)

  /** Sub-byte (1/2/4-bit) PNG decode as a first-class gate — the LAST
    * codec sliver after 16-bit + Adam7 (web crawls carry old 1-bit
    * fax-style scans and tiny 2/4-bit palette icons). Per row: synthesize a native-range raster, encode at the
    * row's sub-byte depth — odd widths so rows pad mid-byte (spec §7.2),
    * even doc_ids Adam7-interlaced so pass rows re-pad independently,
    * alternating grayscale / palette so both sub-byte color types hash
    * into one gate — then decode and emit per-channel sums and the peak
    * computed ONLY from the decoded raster (palette rows from the
    * PLTE-expanded RGB). PNG is lossless, so the oracle re-derives every
    * feature from the generator's closed form; agreement certifies
    * MSB-first bit unpacking, byte-padded pass rows, and byte-distance-1
    * filtering end to end. Scale shape: per-row CPU inside one
    * mapPartitions, zero shuffle before the tiny feature rows. */
  def decodePngSub8(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d).select("doc_id").as[Long]
      .mapPartitions { batch =>
        batch.map { id =>
          val w = (3 + id % 9).toInt
          val h = (2 + id % 5).toInt
          val depth = Array(1, 2, 4)((id % 3).toInt)
          val inter = id % 2 == 0
          val pal = (id / 2) % 2 == 0
          val m = 1 << depth
          val px = Array.tabulate(w * h)(i => ((id * 7 + i * 5) % m).toInt)
          val bytes =
            if (pal)
              PngCodec.encode(w, h, 1, px, depth = depth, interlace = inter,
                palette = Some(Array.tabulate(m)(j =>
                  ((j * 11 % 256) << 16) | ((j * 23 % 256) << 8) | (j * 37 % 256))))
            else PngCodec.encode(w, h, 1, px, depth = depth, interlace = inter)
          // From here on, ONLY the decoded image is consulted.
          val img = PngCodec.decode(bytes)
          if (pal) require(img.channels == 3 && img.depth == 8,
            s"doc $id: palette decode must expand to 8-bit RGB")
          else require(img.channels == 1 && img.depth == depth,
            s"doc $id: gray decode must keep native depth $depth")
          val sums = new Array[Long](3)
          var peak = 0
          var i = 0
          while (i < img.pixels.length) {
            val v = img.pixels(i)
            sums(i % img.channels) += v
            if (v > peak) peak = v
            i += 1
          }
          PngSub8Features(id, img.width, img.height, depth, pal, inter,
            img.width * img.height, sums(0), sums(1), sums(2), peak)
        }
      }
      .toDF().orderBy("doc_id")
  }

  /** Generator closed form in SQL (lossless): gray rows sum the native
    * samples into c0; palette rows sum the PLTE closed form per RGB
    * channel. */
  val decodePngSub8Oracle: String = """
WITH p AS (
  SELECT doc_id,
         CAST(3 + doc_id % 9 AS INT) AS w,
         CAST(2 + doc_id % 5 AS INT) AS h,
         CAST(CASE doc_id % 3 WHEN 0 THEN 1 WHEN 1 THEN 2 ELSE 4 END AS INT) AS depth_bits,
         (doc_id // 2) % 2 = 0 AS paletted,
         doc_id % 2 = 0 AS interlaced
  FROM documents),
i AS (
  SELECT doc_id, w, h, depth_bits, paletted, interlaced,
         unnest(generate_series(0, w * h - 1)) AS i
  FROM p),
s AS (
  SELECT doc_id, w, h, depth_bits, paletted, interlaced,
         (doc_id * 7 + i * 5) % (CASE depth_bits WHEN 1 THEN 2 WHEN 2 THEN 4 ELSE 16 END) AS v
  FROM i)
SELECT doc_id, w AS width, h AS height, depth_bits, paletted, interlaced,
       CAST(w * h AS INT) AS n_pixels,
       CAST(sum(CASE WHEN paletted THEN (v * 11) % 256 ELSE v END) AS BIGINT) AS sum_c0,
       CAST(sum(CASE WHEN paletted THEN (v * 23) % 256 ELSE 0 END) AS BIGINT) AS sum_c1,
       CAST(sum(CASE WHEN paletted THEN (v * 37) % 256 ELSE 0 END) AS BIGINT) AS sum_c2,
       CAST(max(CASE WHEN paletted
                THEN greatest((v * 11) % 256, (v * 23) % 256, (v * 37) % 256)
                ELSE v END) AS INT) AS peak
FROM s GROUP BY doc_id, w, h, depth_bits, paletted, interlaced
ORDER BY doc_id"""

  /** Generator closed form in SQL (PNG is lossless, so decoded samples ≡
    * generated samples); channel sums beyond the image's channel count
    * coalesce to 0. */
  val decodePng16Oracle: String = """
WITH p AS (
  SELECT doc_id,
         CAST(3 + doc_id % 7 AS INT) AS w,
         CAST(2 + doc_id % 6 AS INT) AS h,
         CAST(1 + doc_id % 4 AS INT) AS ch,
         doc_id % 2 = 0 AS interlaced
  FROM documents),
i AS (
  SELECT doc_id, w, h, ch, interlaced,
         unnest(generate_series(0, w * h * ch - 1)) AS i
  FROM p),
s AS (
  SELECT doc_id, w, h, ch, interlaced, i,
         (doc_id * 31 + i * 257) % 65536 AS v
  FROM i)
SELECT doc_id, w AS width, h AS height, ch AS channels, interlaced,
       CAST(w * h AS INT) AS n_pixels,
       CAST(COALESCE(sum(CASE WHEN i % ch = 0 THEN v END), 0) AS BIGINT) AS sum_c0,
       CAST(COALESCE(sum(CASE WHEN i % ch = 1 THEN v END), 0) AS BIGINT) AS sum_c1,
       CAST(COALESCE(sum(CASE WHEN i % ch = 2 THEN v END), 0) AS BIGINT) AS sum_c2,
       CAST(COALESCE(sum(CASE WHEN i % ch = 3 THEN v END), 0) AS BIGINT) AS sum_c3,
       CAST(max(v) AS INT) AS peak
FROM s GROUP BY doc_id, w, h, ch, interlaced ORDER BY doc_id"""

  case class JpegFeatures(doc_id: Long, width: Int, height: Int,
    n_blocks: Int, sum_px: Long, peak: Int)

  /** REAL baseline-JPEG decode (no stub) — through a genuinely LOSSY
    * pipeline: per row, synthesize a grayscale image of CONSTANT 8×8
    * blocks with EVEN values, encode it as a real baseline JPEG
    * (Huffman entropy coding, DC prediction, byte stuffing — see
    * [[JpegCodec]]), then decode the BYTES and emit features computed
    * ONLY from the decoded raster. Constant-even blocks are the one
    * family the 16-step quantizer reproduces EXACTLY (DC = 8·(v−128)
    * divisible by 16, AC all zero), which is what lets a lossy codec
    * hash-gate: the oracle re-derives the raster from the generator's
    * closed form, and any Huffman/DC-prediction/IDCT misparse breaks
    * it. The general AC paths are spec-covered against an independent
    * IDCT reference (JpegCodecSpec). */
  def decodeJpeg(s: SparkSession, d: String): DataFrame = grayJpegGate(s, d) { id =>
    val w = (8 * (1 + id % 3)).toInt
    val h = (8 * (1 + id % 2)).toInt
    JpegCodec.Frame.gray(w, h, 16, evenBlocks(w, h)((bx, by) => id * 7 + bx * 3 + by * 5))
  }

  /** DC-only blocks of the 8-bit gates' constant-block rasters: block
    * (bx, by) holds the even value 2·(v(bx, by) mod 128), which the
    * q=16 quantizer reproduces exactly. */
  private def evenBlocks(w: Int, h: Int)(v: (Int, Int) => Long): Array[Array[Int]] =
    JpegCodec.constantBlocks(w, h, 8, 16)((x, y) => (2 * (v(x / 8, y / 8) % 128)).toInt)

  /** (sum, peak) of a decoded single-channel raster. */
  private def grayFold(px: Array[Int]): (Long, Int) = {
    var sum = 0L; var peak = 0; var i = 0
    while (i < px.length) {
      val v = px(i)
      sum += v; if (v > peak) peak = v
      i += 1
    }
    (sum, peak)
  }

  /** One 8-bit gray JPEG gate: per doc id (fanned out to full
    * parallelism), encode `frame(id)`, then decode the BYTES and emit
    * features computed ONLY from the decoded raster. */
  private def grayJpegGate(s: SparkSession, d: String)(
      frame: Long => JpegCodec.Frame): DataFrame = {
    import s.implicits._
    fannedDocIds(s, d)
      .mapPartitions { batch =>
        batch.map { id =>
          val img = JpegCodec.decode(JpegCodec.encode(frame(id)))
          val (sum, peak) = grayFold(img.pixels)
          JpegFeatures(id, img.width, img.height,
            (img.width / 8) * (img.height / 8), sum, peak)
        }
      }
      .toDF().orderBy("doc_id")
  }

  /** The generator's closed form per block, restated in SQL — agreement
    * certifies the full decode chain (marker parse → Huffman → DC
    * prediction → dequant → IDCT → level shift), because the Spark side
    * reports only what [[JpegCodec.decode]] reconstructed. */
  val decodeJpegOracle: String = """
WITH p AS (
  SELECT doc_id,
         CAST(8 * (1 + doc_id % 3) AS INT) AS w,
         CAST(8 * (1 + doc_id % 2) AS INT) AS h
  FROM documents),
b AS (
  SELECT doc_id, w, h,
         unnest(generate_series(0, (w // 8) * (h // 8) - 1)) AS bi
  FROM p),
v AS (
  SELECT doc_id, w, h,
         2 * ((doc_id * 7 + (bi % (w // 8)) * 3 + (bi // (w // 8)) * 5) % 128) AS v
  FROM b)
SELECT doc_id, w AS width, h AS height,
       CAST((w // 8) * (h // 8) AS INT) AS n_blocks,
       CAST(sum(64 * v) AS BIGINT) AS sum_px,
       CAST(max(v) AS INT) AS peak
FROM v GROUP BY doc_id, w, h ORDER BY doc_id"""

  case class JpegColorFeatures(doc_id: Long, width: Int, height: Int,
    channels: Int, sum_rgb: Long, peak: Int, n_nongray: Long)

  /** COLOR JPEG through the gate: the same closed-form luma grid, now
    * encoded as a 4:4:4 three-component JPEG with NEUTRAL chroma
    * (Cb = Cr = 128) — neutral chroma makes the BT.601 conversion exact
    * (every RGB sample equals the luma), so the lossy COLOR pipeline
    * hash-gates with zero float hazard while the full multi-component
    * machinery (two quant tables, four Huffman tables, interleaved MCUs,
    * three DC prediction chains, the conversion itself) sits on the
    * decode path. `n_nongray` counts pixels where the channels diverge —
    * the oracle pins it to 0, so a conversion or plane-interleaving bug
    * cannot hide in the sums. Non-neutral chroma is spec-covered
    * (JpegCodecSpec) against BT.601 ground truth. */
  def decodeJpegColor(s: SparkSession, d: String): DataFrame = colorJpegGate(s, d) { id =>
    val w = (8 * (1 + id % 3)).toInt
    val h = (8 * (1 + id % 2)).toInt
    val neutral = JpegCodec.constantBlocks(w, h, 8, 16)((_, _) => 128)
    JpegCodec.Frame.ycc(w, h, 16, 16,
      evenBlocks(w, h)((bx, by) => id * 7 + bx * 3 + by * 5), neutral, neutral, 1, 1)
  }

  /** One YCbCr JPEG gate: per doc id (fanned out to full parallelism),
    * encode `frame(id)`, decode the BYTES, and fold the decoded RGB
    * raster into (sum of r+g+b, peak channel value, pixels whose
    * channels differ). */
  private def colorJpegGate(s: SparkSession, d: String)(
      frame: Long => JpegCodec.Frame): DataFrame = {
    import s.implicits._
    fannedDocIds(s, d)
      .mapPartitions { batch =>
        batch.map { id =>
          val img = JpegCodec.decode(JpegCodec.encode(frame(id)))
          var sum = 0L; var peak = 0; var nongray = 0L; var i = 0
          while (i < img.pixels.length) {
            val r = img.pixels(i); val g = img.pixels(i + 1); val b = img.pixels(i + 2)
            sum += r + g + b
            if (r > peak) peak = r
            if (g > peak) peak = g
            if (b > peak) peak = b
            if (r != g || g != b) nongray += 1
            i += 3
          }
          JpegColorFeatures(id, img.width, img.height, img.channels,
            sum, peak, nongray)
        }
      }
      .toDF().orderBy("doc_id")
  }

  val decodeJpegColorOracle: String = """
WITH p AS (
  SELECT doc_id,
         CAST(8 * (1 + doc_id % 3) AS INT) AS w,
         CAST(8 * (1 + doc_id % 2) AS INT) AS h
  FROM documents),
b AS (
  SELECT doc_id, w, h,
         unnest(generate_series(0, (w // 8) * (h // 8) - 1)) AS bi
  FROM p),
v AS (
  SELECT doc_id, w, h,
         2 * ((doc_id * 7 + (bi % (w // 8)) * 3 + (bi // (w // 8)) * 5) % 128) AS v
  FROM b)
SELECT doc_id, w AS width, h AS height, CAST(3 AS INT) AS channels,
       CAST(sum(3 * 64 * v) AS BIGINT) AS sum_rgb,
       CAST(max(v) AS INT) AS peak,
       CAST(0 AS BIGINT) AS n_nongray
FROM v GROUP BY doc_id, w, h ORDER BY doc_id"""

  /** 4:2:0 COLOR JPEG through the gate — the dominant real-world JPEG
    * encoding. Fixtures: the closed-form luma
    * grid at full resolution plus NON-NEUTRAL chroma that is CONSTANT PER
    * MCU — a constant quarter-res chroma block upsamples to a constant
    * 16×16 field under EVERY legal upsampler, so the decode is
    * method-independent while the full subsampled machinery (2×2 Y
    * sampling, 6-block interleaved MCUs, three DC chains through a
    * 4-blocks-then-chroma cadence, replication upsampling, BT.601 with
    * live chroma) sits on the gate path. Even values keep the 16-step
    * quantization exact (the standing determinism argument); the BT.601
    * doubles are bit-identical across engines because both state the same
    * literal expression tree, and half-sample rounding agrees inside the
    * clamp range (Math.round vs HALF-AWAY differ only below zero, where
    * both clamp to 0). `n_nongray` is LIVE here (chroma ≠ 128), so a
    * plane swap, a wrong MCU-to-block mapping, or a dead conversion
    * cannot hide in the sums. */
  def decodeJpeg420(s: SparkSession, d: String): DataFrame =
    colorJpegGate(s, d)(ycc420Fixture)

  /** The 4:2:0 fixture of doc `id`: the closed-form luma grid at full
    * resolution, chroma constant per 16×16 MCU. Half the fixtures carry
    * a DRI=1 restart cadence — restarts change entropy FRAMING, never
    * values, so the oracle is untouched while byte realignment, the
    * modulo-8 RSTn sequence and the triple DC-chain resets all sit on
    * the gated path. */
  private def ycc420Fixture(id: Long): JpegCodec.Frame = {
    val w = (16 * (1 + id % 2)).toInt
    val h = (16 * (1 + id % 3)).toInt
    JpegCodec.Frame.ycc(w, h, 16, 16,
      evenBlocks(w, h)((bx, by) => id * 7 + bx * 3 + by * 5),
      evenBlocks(w / 2, h / 2)((mx, my) => id * 11 + mx * 5 + my * 3),
      evenBlocks(w / 2, h / 2)((mx, my) => id * 13 + mx * 3 + my * 7), 2, 2)
      .copy(restartInterval = if (id % 2 == 0) 1 else 0)
  }

  /** The 4:2:0 generator's closed form per 8×8 block, restated in SQL
    * with the SAME BT.601 double expression tree the decoder evaluates —
    * every pixel of a block shares one (Y, Cb, Cr) triple, so the whole
    * decode chain (subsampled MCU parse → three DC chains → dequant →
    * IDCT → replication upsample → conversion) must land exactly on the
    * restated arithmetic. */
  val decodeJpeg420Oracle: String = """
WITH p AS (
  SELECT doc_id,
         CAST(16 * (1 + doc_id % 2) AS INT) AS w,
         CAST(16 * (1 + doc_id % 3) AS INT) AS h
  FROM documents),
b AS (
  SELECT doc_id, w, h,
         unnest(generate_series(0, (w // 8) * (h // 8) - 1)) AS bi
  FROM p),
yc AS (
  SELECT doc_id, w, h,
         2 * ((doc_id * 7 + (bi % (w // 8)) * 3 + (bi // (w // 8)) * 5) % 128) AS yv,
         2 * ((doc_id * 11 + ((bi % (w // 8)) // 2) * 5 + ((bi // (w // 8)) // 2) * 3) % 128) AS cbv,
         2 * ((doc_id * 13 + ((bi % (w // 8)) // 2) * 3 + ((bi // (w // 8)) // 2) * 7) % 128) AS crv
  FROM b),
rgb AS (
  SELECT doc_id, w, h,
         greatest(0, least(255, CAST(round(yv + 1.402 * (crv - 128)) AS INT))) AS r,
         greatest(0, least(255, CAST(round(yv - 0.344136 * (cbv - 128) - 0.714136 * (crv - 128)) AS INT))) AS g,
         greatest(0, least(255, CAST(round(yv + 1.772 * (cbv - 128)) AS INT))) AS bl
  FROM yc)
SELECT doc_id, w AS width, h AS height, CAST(3 AS INT) AS channels,
       CAST(sum(CAST(64 AS BIGINT) * (r + g + bl)) AS BIGINT) AS sum_rgb,
       CAST(max(greatest(r, g, bl)) AS INT) AS peak,
       CAST(sum(CASE WHEN r <> g OR g <> bl THEN 64 ELSE 0 END) AS BIGINT) AS n_nongray
FROM rgb GROUP BY doc_id, w, h ORDER BY doc_id"""

  /** PROGRESSIVE (SOF2) 4:2:0 color JPEG through the gate — the largest
    * real-world JPEG share after baseline.
    * The SAME closed-form fixtures as [[decodeJpeg420]], re-encoded as a
    * nine-scan progressive script: interleaved DC first at Al=1, luma AC
    * split into two spectral bands, whole-band chroma AC, then one-bit
    * refinement scans for everything — so spectral selection, successive
    * approximation, EOB-run coding across blocks, AND the subsampled MCU
    * machinery all sit on the gated path. The determinism argument is
    * UNCHANGED: the progressive scans reassemble exactly the same
    * quantized coefficients the sequential encoding carries
    * (JpegCodecSpec pins progressive ≡ sequential bit for bit), and
    * those coefficients reconstruct exactly by the standing even-value/
    * q=16 argument. Half the fixtures carry DRI=1 restarts — in
    * progressive files the restart cadence ALSO resets the EOB run, so
    * that reset is gate-covered too. */
  def decodeJpegProgressive(s: SparkSession, d: String): DataFrame =
    colorJpegGate(s, d)(id => ycc420Fixture(id).copy(progressive = true))

  /** Same closed form as [[decodeJpeg420Oracle]] — the progressive
    * re-encoding changes entropy FRAMING only, never reconstructed
    * values, so the oracle restates the identical arithmetic. */
  val decodeJpegProgressiveOracle: String = decodeJpeg420Oracle

  case class JpegLosslessFeatures(doc_id: Long, width: Int, height: Int,
    precision_bits: Int, predictor: Int, point_transformed: Boolean,
    n_pixels: Int, sum_px: Long, peak: Int)

  /** LOSSLESS JPEG (SOF3, T.81 Annex H) as a first-class gate — the
    * mode old medical (DICOM) and raw-photo (DNG) corpora carry, and
    * the codec's first EXACT arbitrary-precision path (no lossy
    * fixture trick needed: prediction + Huffman differences round-trip
    * every raster bit-for-bit). Per row: a native-range raster at
    * precision 8/12/16 (12 and 16 exceed the DCT modes' byte samples,
    * so the 2-byte magnitude path and the bitless SSSS=16 case are
    * live), predictor cycling through all seven H.1 formulas, every
    * 4th doc restart-interval-coded, every 5th point-transformed
    * (Pt=2 — decoded samples drop their 2 low bits, which the oracle
    * states as v − v%4). Dims are NOT 8-aligned — lossless has no MCU
    * grid. Features come ONLY from the decoded raster; the oracle
    * re-derives them from the generator's closed form. Scale shape:
    * per-row CPU inside one mapPartitions, zero shuffle before the
    * tiny feature rows. */
  def decodeJpegLossless(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d).select("doc_id").as[Long]
      .mapPartitions { batch =>
        batch.map { id =>
          val w = (3 + id % 6).toInt
          val h = (2 + id % 5).toInt
          val precision = Array(8, 12, 16)((id % 3).toInt)
          val predictor = (id % 7 + 1).toInt
          val ri = if (id % 4 == 0) 7 else 0
          val pt = if (id % 5 == 0) 2 else 0
          val m = 1 << precision
          val px = Array.tabulate(w * h)(i => ((id * 13 + i * 29) % m).toInt)
          val bytes = JpegCodec.encodeLossless(w, h, precision, predictor, Array(px),
            pointTransform = pt, restartInterval = ri)
          // From here on, ONLY the decoded image is consulted.
          val img = JpegCodec.decode(bytes)
          require(img.depth == precision && img.channels == 1,
            s"doc $id: expected a $precision-bit single-component decode")
          val (sum, peak) = grayFold(img.pixels)
          JpegLosslessFeatures(id, img.width, img.height, precision,
            predictor, pt > 0, img.width * img.height, sum, peak)
        }
      }
      .toDF().orderBy("doc_id")
  }

  /** Generator closed form in SQL — lossless, so decoded ≡ generated,
    * modulo the point transform's dropped low bits (v − v%4 when Pt=2). */
  val decodeJpegLosslessOracle: String = """
WITH p AS (
  SELECT doc_id,
         CAST(3 + doc_id % 6 AS INT) AS w,
         CAST(2 + doc_id % 5 AS INT) AS h,
         CAST(CASE doc_id % 3 WHEN 0 THEN 8 WHEN 1 THEN 12 ELSE 16 END AS INT) AS precision_bits,
         CAST(doc_id % 7 + 1 AS INT) AS predictor,
         doc_id % 5 = 0 AS point_transformed
  FROM documents),
i AS (
  SELECT doc_id, w, h, precision_bits, predictor, point_transformed,
         unnest(generate_series(0, w * h - 1)) AS i
  FROM p),
s AS (
  SELECT doc_id, w, h, precision_bits, predictor, point_transformed,
         (doc_id * 13 + i * 29) %
           (CASE precision_bits WHEN 8 THEN 256 WHEN 12 THEN 4096 ELSE 65536 END) AS v
  FROM i)
SELECT doc_id, w AS width, h AS height, precision_bits, predictor, point_transformed,
       CAST(w * h AS INT) AS n_pixels,
       CAST(sum(CASE WHEN point_transformed THEN v - v % 4 ELSE v END) AS BIGINT) AS sum_px,
       CAST(max(CASE WHEN point_transformed THEN v - v % 4 ELSE v END) AS INT) AS peak
FROM s GROUP BY doc_id, w, h, precision_bits, predictor, point_transformed
ORDER BY doc_id"""

  case class JpegLosslessRgbFeatures(doc_id: Long, width: Int, height: Int,
    precision_bits: Int, predictor: Int, n_pixels: Int,
    sum_r: Long, sum_g: Long, sum_b: Long, peak: Int)

  /** MULTI-COMPONENT (RGB) LOSSLESS JPEG — the DICOM color export shape
    * (transfer syntax 1.2.840.10008.1.2.4.57/.70 with three samples per
    * pixel): three planes, 1×1 sampling, one interleaved sample per
    * component per MCU, each plane predicting independently, components
    * UNTRANSFORMED (T.81 lossless has no color transform). Lossless ⇒
    * decoded ≡ generated, so per-channel sums hash-gate exactly at 8-
    * and 16-bit precisions with restart intervals on every 3rd doc. */
  def decodeJpegLosslessRgb(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d).select("doc_id").as[Long]
      .mapPartitions { batch =>
        batch.map { id =>
          val w = (3 + id % 5).toInt
          val h = (2 + id % 4).toInt
          val precision = if (id % 2 == 0) 8 else 16
          val predictor = (id % 7 + 1).toInt
          val ri = if (id % 3 == 0) 5 else 0
          val m = 1 << precision
          val planes = Array.tabulate(3)(c =>
            Array.tabulate(w * h)(i => ((id * 17 + c * 7 + i * 31) % m).toInt))
          val bytes = JpegCodec.encodeLossless(w, h, precision, predictor,
            planes, restartInterval = ri)
          // From here on, ONLY the decoded image is consulted.
          val img = JpegCodec.decode(bytes)
          require(img.depth == precision && img.channels == 3,
            s"doc $id: expected a $precision-bit 3-component lossless decode")
          val sums = new Array[Long](3); var peak = 0
          var i = 0
          while (i < img.pixels.length) {
            val v = img.pixels(i)
            sums(i % 3) += v; if (v > peak) peak = v
            i += 1
          }
          JpegLosslessRgbFeatures(id, img.width, img.height, precision,
            predictor, img.width * img.height, sums(0), sums(1), sums(2), peak)
        }
      }
      .toDF().orderBy("doc_id")
  }

  /** Per-channel closed form in SQL — lossless, exact. */
  val decodeJpegLosslessRgbOracle: String = """
WITH p AS (
  SELECT doc_id,
         CAST(3 + doc_id % 5 AS INT) AS w,
         CAST(2 + doc_id % 4 AS INT) AS h,
         CAST(CASE WHEN doc_id % 2 = 0 THEN 8 ELSE 16 END AS INT) AS precision_bits,
         CAST(doc_id % 7 + 1 AS INT) AS predictor
  FROM documents),
i AS (
  SELECT doc_id, w, h, precision_bits, predictor,
         unnest(generate_series(0, w * h - 1)) AS i
  FROM p),
s AS (
  SELECT doc_id, w, h, precision_bits, predictor,
         (doc_id * 17 + 0 * 7 + i * 31) % (CASE precision_bits WHEN 8 THEN 256 ELSE 65536 END) AS r,
         (doc_id * 17 + 1 * 7 + i * 31) % (CASE precision_bits WHEN 8 THEN 256 ELSE 65536 END) AS g,
         (doc_id * 17 + 2 * 7 + i * 31) % (CASE precision_bits WHEN 8 THEN 256 ELSE 65536 END) AS b
  FROM i)
SELECT doc_id, w AS width, h AS height, precision_bits, predictor,
       CAST(w * h AS INT) AS n_pixels,
       CAST(sum(r) AS BIGINT) AS sum_r,
       CAST(sum(g) AS BIGINT) AS sum_g,
       CAST(sum(b) AS BIGINT) AS sum_b,
       CAST(greatest(max(r), max(g), max(b)) AS INT) AS peak
FROM s GROUP BY doc_id, w, h, precision_bits, predictor ORDER BY doc_id"""

  case class Jpeg12Features(doc_id: Long, width: Int, height: Int,
    depth_bits: Int, n_blocks: Int, sum_px: Long, peak: Int)

  /** 12-BIT EXTENDED-SEQUENTIAL JPEG (SOF1) as a first-class gate — the
    * Huffman mode 12-bit medical exports (DICOM transfer syntax
    * 1.2.840.10008.1.2.4.51) carry, and the last DCT-family sliver a
    * real corpus plausibly hits. Same closed-form trick as the 8-bit
    * gate at 12-bit reach: constant 8×8 blocks at multiples of 64, a
    * quant step of 512 that only fits a 16-bit (Pq=1) DQT entry, DC =
    * 8·(v−2048) exactly divisible — so the genuinely lossy pipeline
    * (extended-category Huffman → DC chain → 16-bit dequant → IDCT with
    * the +2048 level shift) reproduces the generator bit-for-bit and
    * the DuckDB oracle re-derives it. General AC / deep-DC reach is
    * spec-covered against an independent IDCT (JpegCodecSpec). Scale
    * shape: per-row CPU inside one mapPartitions, zero shuffle. */
  def decodeJpeg12(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    fannedDocIds(s, d)
      .mapPartitions { batch =>
        batch.map { id =>
          val w = (8 * (1 + id % 3)).toInt
          val h = (8 * (1 + id % 2)).toInt
          val blocks = JpegCodec.constantBlocks(w, h, 12, 512)((x, y) =>
            (64 * ((id * 11 + x / 8 * 5 + y / 8 * 3) % 64)).toInt)
          val bytes = JpegCodec.encode(JpegCodec.Frame.gray(w, h, 512, blocks).copy(precision = 12))
          // From here on, ONLY the decoded image is consulted.
          val img = JpegCodec.decode(bytes)
          require(img.depth == 12 && img.channels == 1,
            s"doc $id: expected a 12-bit single-component decode")
          val (sum, peak) = grayFold(img.pixels)
          Jpeg12Features(id, img.width, img.height, img.depth,
            (img.width / 8) * (img.height / 8), sum, peak)
        }
      }
      .toDF().orderBy("doc_id")
  }

  /** The 12-bit generator's closed form per block, restated in SQL. */
  val decodeJpeg12Oracle: String = """
WITH p AS (
  SELECT doc_id,
         CAST(8 * (1 + doc_id % 3) AS INT) AS w,
         CAST(8 * (1 + doc_id % 2) AS INT) AS h
  FROM documents),
b AS (
  SELECT doc_id, w, h,
         unnest(generate_series(0, (w // 8) * (h // 8) - 1)) AS bi
  FROM p),
v AS (
  SELECT doc_id, w, h,
         64 * ((doc_id * 11 + (bi % (w // 8)) * 5 + (bi // (w // 8)) * 3) % 64) AS v
  FROM b)
SELECT doc_id, w AS width, h AS height, CAST(12 AS INT) AS depth_bits,
       CAST((w // 8) * (h // 8) AS INT) AS n_blocks,
       CAST(sum(64 * v) AS BIGINT) AS sum_px,
       CAST(max(v) AS INT) AS peak
FROM v GROUP BY doc_id, w, h ORDER BY doc_id"""

  /** Arithmetic-coded (SOF9) JPEG through the gate: the constant-block
    * closed form encoded with the T.81 Annex D QM-coder instead of
    * Huffman — a genuinely different entropy layer (adaptive binary
    * decisions over conditioning contexts, restart-interval statistics
    * resets) under the same exact-reconstruction argument. Restart
    * intervals vary per document (0..3 MCUs) so the flush/RSTn/reset
    * path is ON the gated surface, not just in the spec. */
  def decodeJpegArith(s: SparkSession, d: String): DataFrame = grayJpegGate(s, d) { id =>
    val w = (8 * (1 + id % 4)).toInt
    val h = (8 * (1 + id % 3)).toInt
    JpegCodec.Frame.gray(w, h, 16, evenBlocks(w, h)((bx, by) => id * 13 + bx * 7 + by * 5))
      .copy(arithmetic = true, restartInterval = (id % 4).toInt)
  }

  /** The arithmetic generator's closed form, restated in SQL. */
  val decodeJpegArithOracle: String = """
WITH p AS (
  SELECT doc_id,
         CAST(8 * (1 + doc_id % 4) AS INT) AS w,
         CAST(8 * (1 + doc_id % 3) AS INT) AS h
  FROM documents),
b AS (
  SELECT doc_id, w, h,
         unnest(generate_series(0, (w // 8) * (h // 8) - 1)) AS bi
  FROM p),
v AS (
  SELECT doc_id, w, h,
         2 * ((doc_id * 13 + (bi % (w // 8)) * 7 + (bi // (w // 8)) * 5) % 128) AS v
  FROM b)
SELECT doc_id, w AS width, h AS height,
       CAST((w // 8) * (h // 8) AS INT) AS n_blocks,
       CAST(sum(64 * v) AS BIGINT) AS sum_px,
       CAST(max(v) AS INT) AS peak
FROM v GROUP BY doc_id, w, h ORDER BY doc_id"""

  case class GifFeatures(doc_id: Long, width: Int, height: Int,
    n_colors: Int, n_transparent: Long, sum_r: Long, sum_g: Long, sum_b: Long)

  /** GIF decode as a first-class gate — billions of real training-corpus
    * images are GIFs. The full container surface is on the gated path:
    * LZW entropy decode (variable-width codes, clear/end), global color
    * table sizes 4/8/16 cycling, interlacing on every 3rd doc (row
    * de-permutation), transparency on every 5th (alpha-0 pixels excluded
    * from the sums), arbitrary non-aligned dims. GIF is LOSSLESS, so the
    * decoded raster equals the generator closed form exactly — no
    * determinism trick needed. External conformance (both directions vs
    * the JDK's independent ImageIO implementation, including animation
    * and the KwKwK/dictionary-overflow LZW corners) lives in
    * GifCodecSpec. Scale shape: per-row CPU in one mapPartitions, zero
    * shuffle before the feature rows. */
  def decodeGif(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d).select("doc_id").as[Long]
      .mapPartitions { batch =>
        batch.map { id =>
          val w = (8 + id % 9).toInt
          val h = (6 + id % 7).toInt
          val nCol = 1 << (2 + id % 3).toInt
          val pal = Array.tabulate(nCol)(i =>
            ((((i * 37 + id * 3) % 256) << 16) |
              (((i * 59 + id * 5) % 256) << 8) |
              ((i * 83 + id * 7) % 256)).toInt)
          val idx = Array.tabulate(w * h)(p =>
            (((p % w) * 3 + (p / w) * 5 + id) % nCol).toByte)
          val transparent = if (id % 5 == 0) (id % nCol).toInt else -1
          val bytes = GifCodec.encode(w, h, pal, Seq((0, 0, w, h, idx)),
            interlace = id % 3 == 0, transparentIndex = transparent)
          // From here on, ONLY the decoded image is consulted.
          val gif = GifCodec.decode(bytes)
          require(gif.frames.length == 1, s"doc $id: expected one frame")
          val fr = gif.frames.head
          var nT = 0L; var sr = 0L; var sg = 0L; var sb = 0L
          fr.pixels.foreach { p =>
            if ((p >>> 24) == 0) nT += 1
            else {
              sr += (p >> 16) & 0xff; sg += (p >> 8) & 0xff; sb += p & 0xff
            }
          }
          GifFeatures(id, fr.width, fr.height, nCol, nT, sr, sg, sb)
        }
      }
      .toDF().orderBy("doc_id")
  }

  /** The GIF generator's palette and index closed forms in SQL — exact,
    * because GIF is lossless. */
  val decodeGifOracle: String = """
WITH p AS (
  SELECT doc_id,
         CAST(8 + doc_id % 9 AS INT) AS w,
         CAST(6 + doc_id % 7 AS INT) AS h,
         CAST(1 << (2 + doc_id % 3) AS INT) AS n_colors,
         CASE WHEN doc_id % 5 = 0 THEN doc_id % (1 << (2 + doc_id % 3)) ELSE -1 END AS t
  FROM documents),
xs AS (SELECT doc_id, w, h, n_colors, t,
              unnest(generate_series(0, w * h - 1)) AS pos FROM p),
px AS (
  SELECT doc_id, w, h, n_colors, t,
         ((pos % w) * 3 + (pos // w) * 5 + doc_id) % n_colors AS i
  FROM xs)
SELECT doc_id, w AS width, h AS height, n_colors,
       CAST(count(*) FILTER (WHERE i = t) AS BIGINT) AS n_transparent,
       CAST(sum(CASE WHEN i = t THEN 0 ELSE (i * 37 + doc_id * 3) % 256 END) AS BIGINT) AS sum_r,
       CAST(sum(CASE WHEN i = t THEN 0 ELSE (i * 59 + doc_id * 5) % 256 END) AS BIGINT) AS sum_g,
       CAST(sum(CASE WHEN i = t THEN 0 ELSE (i * 83 + doc_id * 7) % 256 END) AS BIGINT) AS sum_b
FROM px GROUP BY doc_id, w, h, n_colors ORDER BY doc_id"""

  case class PhashBands(doc_id: Long, b0: Int, b1: Int, b2: Int, b3: Int)

  /** PERCEPTUAL image near-dup detection — the cross-pillar operator a
    * multimodal training corpus needs: re-encoded/brightness-shifted
    * copies of an image survive content-hash dedup, but share a dHash.
    * Pipeline: decode (arithmetic-coded JPEG — the Annex D path is ON
    * the gated surface here), 8× box-downscale to a 9×8 cell grid,
    * 64-bit difference hash (bit k = cy·8+cx set iff cell(cx+1,cy) >
    * cell(cx,cy)), split into 4×16-bit bands, candidates via the banded
    * join (two images at Hamming ≤ 3 share ≥ 1 exact band by
    * pigeonhole — the simhash/Manku shape), exact popcount verification
    * on candidates ONLY, then a per-document rollup. Never all-pairs:
    * at 100 TB the fingerprint build is per-row CPU with zero shuffle,
    * the join exchanges 4 band rows per image, and the quadratic term
    * is confined to genuine near-dup buckets — the same scale argument
    * as `dedup_simhash_pairs`, here carried end-to-end from pixels.
    *
    * Fixture determinism: cell-constant even-valued rasters make the
    * lossy decode exact (the constant-block argument), the box average
    * is integer-exact on constant cells, and the fixture plants three
    * structures — groups of gradient-identical images (jitter shifts
    * every cell equally), single-cell perturbations that flip ≤ 2
    * gradient bits, and cross-group band collisions that the exact
    * verify must reject. The group-dependent cross terms keep band
    * patterns diverse: at sf0.1 (5000 images, ~60k true pairs) the
    * banded join emits ~92k candidates — ~1.5× the true mass, where a
    * naive linear gradient (whose band patterns all collide) emits
    * 1.8M; at 100× that difference is the join. */
  def phashDedup(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // Two properties of the expensive stage (the JPEG arith encode →
    // decode → dHash map):
    //  1. PARALLELISM: the doc_id source is a single parquet split at
    //     bench scale, so the codec stage would run as ONE task; fanout
    //     spreads it to defaultParallelism before the per-row compute
    //     (the documented fanout use case).
    //  2. RUN-ONCE: `fp` is consumed by FOUR plan branches (band rows ×2
    //     via the banded self-join, fa, fb, and the final per-doc rollup).
    //     With no exchange between the codec map and its consumers, each
    //     branch would re-execute the whole encode+decode — the corpus
    //     decoded 4×. `fpOnce` pins one hash exchange of the 40-byte
    //     fingerprint PROXY rows (doc_id + 4 bands) directly above the
    //     map; every consumer branch starts from the identical exchange
    //     subtree, which AQE's ReuseExchange materializes once — decode
    //     exactly once, move only proxy bytes after (heavy payload work
    //     once, decisions on lightweight proxies).
    val fp0 = fannedDocIds(s, d)
      .mapPartitions { batch =>
        batch.map { id =>
          val cells = Array.tabulate(8, 9) { (cy, cx) =>
            val g = id % 199
            var v = (2 * ((g * 11 + cx * 17 + cy * 23 +
              (g % 29 + 3) * cx * cy + (g % 7) * cx * cx) % 90) + 20 +
              2 * (id % 13)).toInt
            if (id % 4 == 0 && cx == ((id / 4) % 9).toInt &&
              cy == ((id / 36) % 8).toInt) v += 32
            v
          }
          val w = 72; val h = 64
          val blocks = JpegCodec.constantBlocks(w, h, 8, 16)((x, y) => cells(y / 8)(x / 8))
          val bytes =
            JpegCodec.encode(JpegCodec.Frame.gray(w, h, 16, blocks).copy(arithmetic = true))
          // From here on, ONLY the decoded image is consulted.
          val img = JpegCodec.decode(bytes)
          val bands = new Array[Int](4)
          def cellAvg(cx: Int, cy: Int): Int = {
            var sum = 0
            var y = 0
            while (y < 8) {
              var x = 0
              while (x < 8) { sum += img.pixels((cy * 8 + y) * w + cx * 8 + x); x += 1 }
              y += 1
            }
            sum / 64
          }
          var cy = 0
          while (cy < 8) {
            var cx = 0
            while (cx < 8) {
              val k = cy * 8 + cx
              if (cellAvg(cx + 1, cy) > cellAvg(cx, cy)) bands(k / 16) |= 1 << (k % 16)
              cx += 1
            }
            cy += 1
          }
          PhashBands(id, bands(0), bands(1), bands(2), bands(3))
        }
      }.toDF()
    val fp = fp0.repartition(col("doc_id"))
    val bandRows = fp.select(col("doc_id"),
      posexplode(array(col("b0"), col("b1"), col("b2"), col("b3")))
        .as(Seq("band_idx", "band_val")))
    val cands = bandRows.as("x").join(bandRows.as("y"),
        col("x.band_idx") === col("y.band_idx") &&
          col("x.band_val") === col("y.band_val") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
      .distinct()
    val fa = fp.select(col("doc_id").as("a"), col("b0").as("a0"),
      col("b1").as("a1"), col("b2").as("a2"), col("b3").as("a3"))
    val fb = fp.select(col("doc_id").as("b"), col("b0").as("c0"),
      col("b1").as("c1"), col("b2").as("c2"), col("b3").as("c3"))
    val near = cands.join(fa, "a").join(fb, "b")
      .withColumn("hamming", expr(
        "bit_count(a0 ^ c0) + bit_count(a1 ^ c1) + " +
          "bit_count(a2 ^ c2) + bit_count(a3 ^ c3)"))
      .filter(col("hamming") <= 2)
    val sym = near.select(col("a").as("doc_id"), col("b").as("partner"), col("hamming"))
      .union(near.select(col("b").as("doc_id"), col("a").as("partner"), col("hamming")))
    val agg = sym.groupBy("doc_id").agg(
      countDistinct("partner").as("n_near"),
      min("hamming").as("min_hamming"))
    fp.select("doc_id").join(agg, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_near"), lit(0L)).as("n_near"),
        coalesce(col("min_hamming"), lit(-1)).cast("int").as("min_hamming"))
      .orderBy("doc_id")
  }

  /** The generator's cell grid, dHash bands, banded join and exact
    * Hamming verify restated in SQL. */
  val phashDedupOracle: String = """
WITH cx AS (
  SELECT doc_id, unnest(generate_series(0, 8)) AS cx FROM documents),
cells AS (
  SELECT doc_id, cx, unnest(generate_series(0, 7)) AS cy,
         NULL AS pad FROM cx),
v AS (
  SELECT doc_id, cx, cy,
         2 * (((doc_id % 199) * 11 + cx * 17 + cy * 23
               + ((doc_id % 199) % 29 + 3) * cx * cy
               + ((doc_id % 199) % 7) * cx * cx) % 90) + 20
           + 2 * (doc_id % 13)
           + CASE WHEN doc_id % 4 = 0 AND cx = (doc_id // 4) % 9
                   AND cy = (doc_id // 36) % 8 THEN 32 ELSE 0 END AS v
  FROM cells),
bits AS (
  SELECT a.doc_id, (a.cy * 8 + a.cx) // 16 AS band_idx,
         sum((CASE WHEN b.v > a.v THEN 1 ELSE 0 END) << ((a.cy * 8 + a.cx) % 16)) AS band_val
  FROM v a JOIN v b ON b.doc_id = a.doc_id AND b.cy = a.cy AND b.cx = a.cx + 1
  WHERE a.cx < 8
  GROUP BY 1, 2),
cand AS (
  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
  FROM bits x JOIN bits y
    ON x.band_idx = y.band_idx AND x.band_val = y.band_val AND x.doc_id < y.doc_id),
ham AS (
  SELECT c.a, c.b, sum(bit_count(xor(xa.band_val, xb.band_val))) AS hamming
  FROM cand c
  JOIN bits xa ON xa.doc_id = c.a
  JOIN bits xb ON xb.doc_id = c.b AND xb.band_idx = xa.band_idx
  GROUP BY 1, 2),
near AS (SELECT * FROM ham WHERE hamming <= 2),
sym AS (SELECT a AS doc_id, b AS partner, hamming FROM near
        UNION ALL SELECT b AS doc_id, a AS partner, hamming FROM near),
agg AS (SELECT doc_id, count(DISTINCT partner) AS n_near,
               min(hamming) AS min_hamming FROM sym GROUP BY 1)
SELECT d.doc_id,
       CAST(coalesce(agg.n_near, 0) AS BIGINT) AS n_near,
       CAST(coalesce(agg.min_hamming, -1) AS INT) AS min_hamming
FROM documents d LEFT JOIN agg ON agg.doc_id = d.doc_id
ORDER BY d.doc_id"""

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "multimodal_decode_jpeg_color" -> (decodeJpegColor _),
    "multimodal_decode_jpeg_420" -> (decodeJpeg420 _),
    "multimodal_decode_jpeg_progressive" -> (decodeJpegProgressive _),
    "multimodal_meta"     -> (meta _),
    "multimodal_features" -> (features _),
    "multimodal_frames"   -> ((s: SparkSession, d: String) => frameSample(s, d)),
    "multimodal_resize"   -> ((s: SparkSession, d: String) => resize(s, d)),
    "multimodal_dedup"    -> (contentDedup _),
    "multimodal_decode_wav" -> (decodeWav _),
    "multimodal_downsample_wav" -> (downsampleWav _),
    "multimodal_decode_ppm" -> (decodePpm _),
    "multimodal_decode_png" -> (decodePng _),
    "multimodal_decode_png16" -> (decodePng16 _),
    "multimodal_decode_png_sub8" -> (decodePngSub8 _),
    "multimodal_decode_jpeg" -> (decodeJpeg _),
    "multimodal_decode_jpeg_lossless" -> (decodeJpegLossless _),
    "multimodal_decode_jpeg_lossless_rgb" -> (decodeJpegLosslessRgb _),
    "multimodal_decode_jpeg12" -> (decodeJpeg12 _),
    "multimodal_decode_jpeg_arith" -> (decodeJpegArith _),
    "multimodal_phash_dedup" -> (phashDedup _),
    "multimodal_decode_gif" -> (decodeGif _)
  )

  val oracleSql: Map[String, String] = Map(
    "multimodal_decode_jpeg_color" -> decodeJpegColorOracle,
    "multimodal_decode_jpeg_420" -> decodeJpeg420Oracle,
    "multimodal_decode_jpeg_progressive" -> decodeJpegProgressiveOracle,
    "multimodal_meta"     -> metaOracle,
    "multimodal_features" -> featuresOracle,
    "multimodal_frames"   -> frameSampleOracle,
    "multimodal_resize"   -> resizeOracle,
    "multimodal_dedup"    -> contentDedupOracle,
    "multimodal_decode_wav" -> decodeWavOracle,
    "multimodal_downsample_wav" -> downsampleWavOracle,
    "multimodal_decode_ppm" -> decodePpmOracle,
    "multimodal_decode_png" -> decodePngOracle,
    "multimodal_decode_png16" -> decodePng16Oracle,
    "multimodal_decode_png_sub8" -> decodePngSub8Oracle,
    "multimodal_decode_jpeg" -> decodeJpegOracle,
    "multimodal_decode_jpeg_lossless" -> decodeJpegLosslessOracle,
    "multimodal_decode_jpeg_lossless_rgb" -> decodeJpegLosslessRgbOracle,
    "multimodal_decode_jpeg12" -> decodeJpeg12Oracle,
    "multimodal_decode_jpeg_arith" -> decodeJpegArithOracle,
    "multimodal_phash_dedup" -> phashDedupOracle,
    "multimodal_decode_gif" -> decodeGifOracle
  )
}
