package graft.ops

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}

import org.apache.spark.sql.{Column, DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.BloomFilter

import graft.Tables
import graft.util.{AtomicTable, SilverArtifact}

/** File-level data skipping over plain parquet — the scale feature a
  * transactional table format (Delta/Iceberg) would provide and this
  * environment's jar set does not (NOTES.md ritual: 0/287 jars). The
  * reference persists its zones as unclustered parquet directories
  * (etl_lakehouse.py:113-116) and every read is a full scan; at 100 TB
  * the difference between scanning 1 PB-of-files and the 0.4% of files a
  * predicate can touch IS the query latency, so the engine owns the three
  * standard skipping structures itself:
  *
  *  - **zone maps** — per-file min/max for chosen columns, collected in
  *    ONE distributed pass over the freshly written files (grouped by
  *    `_metadata.file_name` — the relocation-stable identity shared with
  *    the `_dv`/`_mor` sidecars, so restore/clone/append carry the stats)
  *    and stored as a parquet sidecar under `<version>/_skip` (a
  *    `_`-prefixed dir is invisible to normal reads, like `_SUCCESS`).
  *    Pruning is itself a Catalyst filter over the sidecar table — only
  *    the KEPT path strings ever reach the driver, so a 100 TB table
  *    with 10^6 files prunes via a distributed metadata query, the same
  *    shape as a Delta log replay.
  *  - **Z-order clustering** — multi-column locality so zone maps prune
  *    on EVERY clustered column, not just the leading sort key: each
  *    column is bucketed into 256 quantile-free `width_bucket` cells and
  *    the bucket bits are interleaved into a codegen-friendly integer
  *    z-value (pure `shiftleft`/`bitwiseOR` column arithmetic, no UDF);
  *    `repartitionByRange` on the z-value then makes each output file a
  *    compact z-curve segment = a small min/max box in BOTH dimensions.
  *  - **per-file Bloom indexes** — point lookups on a high-cardinality
  *    key that zone maps cannot serve (the key is scattered uniformly, so
  *    every file's [min,max] straddles every probe): a mergeable
  *    `BloomFilter` per file, built by a typed [[Aggregator]] in the SAME
  *    single stats pass (map-side partial blooms merge associatively),
  *    probed at plan time with no false negatives.
  *
  * Soundness: skipping only ever drops files that CANNOT contain a
  * matching row (min/max bounds are exact; Bloom `mightContain` has no
  * false negatives), and the exact predicate is still applied to the
  * surviving files — so every skipping read is answer-identical to the
  * full scan, which is exactly what the DuckDB oracles (full-scan SQL
  * over the canonical tables) verify.
  *
  * Writes go through [[AtomicTable.publish]], so the sidecar and the data
  * files become visible atomically with the version pointer — a reader
  * can never see data files without their skipping metadata.
  */
object DataSkipping {

  // ---------------------------------------------------------------- z-order

  /** Interleave the low `bits` bits of two bucket ids, `a`'s bits at the
    * odd (higher) positions — a 2-D Morton/Z code as pure column
    * arithmetic (stays inside whole-stage codegen; no UDF). */
  def interleaveBits(a: Column, b: Column, bits: Int = 8): Column =
    (0 until bits).foldLeft(lit(0L)) { (acc, i) =>
      acc
        .bitwiseOR(shiftleft(a.bitwiseAND(lit(1L << i)), i + 1))
        .bitwiseOR(shiftleft(b.bitwiseAND(lit(1L << i)), i))
    }

  /** 0..255 bucket id for `c` over the CLOSED domain [lo, hi] (domain
    * bounds come from a one-row aggregate over the input — tiny, exact).
    * `width_bucket` is end-exclusive on the upper edge, so the domain is
    * widened by 1 to keep `hi` itself in bucket 255, and the result is
    * clamped for safety against rows outside the sampled domain. */
  def bucketId(c: Column, lo: Long, hi: Long): Column =
    least(lit(255L), greatest(lit(0L),
      width_bucket(c.cast("double"), lit(lo.toDouble),
        lit(hi.toDouble + 1.0), lit(256)) - 1))

  // ------------------------------------------------------- write + sidecar

  /** Mergeable per-file Bloom built distributively: partial filters on the
    * map side, `mergeInPlace` on the reduce side — the same one-pass
    * associative shape as the min/max stats it rides along with. */
  private class BloomAgg(expected: Long, fpp: Double)
      extends Aggregator[Long, BloomFilter, Array[Byte]] {
    override def zero: BloomFilter = BloomFilter.create(math.max(expected, 64L), fpp)
    override def reduce(b: BloomFilter, a: Long): BloomFilter = { b.putLong(a); b }
    override def merge(x: BloomFilter, y: BloomFilter): BloomFilter = {
      x.mergeInPlace(y); x
    }
    override def finish(b: BloomFilter): Array[Byte] = {
      val bos = new ByteArrayOutputStream()
      b.writeTo(bos)
      bos.toByteArray
    }
    override def bufferEncoder: org.apache.spark.sql.Encoder[BloomFilter] =
      Encoders.javaSerialization[BloomFilter]
    override def outputEncoder: org.apache.spark.sql.Encoder[Array[Byte]] =
      Encoders.BINARY
  }

  private val Sidecar = "_skip"

  /** Publish `df` at `base` clustered for skipping, and build the sidecar.
    *
    *  - `clusterCols` (1 or 2 LONG columns): 1 → range-cluster on the
    *    column itself; 2 → range-cluster on their interleaved z-value.
    *  - `statsCols`: zone-map min/max columns (any orderable type — the
    *    sidecar stores them natively typed, and pruning compares them
    *    with ordinary Catalyst predicates, so no manual type juggling).
    *  - `bloomCol`: optional LONG key column for the per-file Bloom.
    *  - `nFiles`: target file count — the knob that trades skipping
    *    granularity against small-file overhead (at 100 TB you'd size
    *    this to ~128 MB-1 GB per file; [[graft.queries.PipelineOps]]'s
    *    `compact_small_files` is the companion compaction path).
    */
  def optimizedWrite(
      s: SparkSession, df: DataFrame, base: String,
      clusterCols: Seq[String], statsCols: Seq[String],
      bloomCol: Option[String], nFiles: Int): Unit = {
    require(clusterCols.nonEmpty && clusterCols.size <= 2,
      "1 (range) or 2 (z-order) cluster columns")
    // one tiny aggregate for the cluster-column domains + row count
    // (drives bucket scaling and per-file Bloom capacity)
    val domAggs = clusterCols.flatMap(c =>
      Seq(min(col(c).cast("long")), max(col(c).cast("long")))) :+ count(lit(1))
    val dom = df.agg(domAggs.head, domAggs.tail: _*).head()
    val rows = dom.getLong(2 * clusterCols.size)
    val zkey = clusterCols match {
      case Seq(c) => col(c).cast("long")
      case Seq(ca, cb) =>
        interleaveBits(
          bucketId(col(ca), dom.getLong(0), dom.getLong(1)),
          bucketId(col(cb), dom.getLong(2), dom.getLong(3)))
    }
    AtomicTable.publish(base) { dir =>
      df.withColumn("_zkey", zkey)
        .repartitionByRange(nFiles, col("_zkey"))
        .sortWithinPartitions("_zkey")
        .drop("_zkey")
        .write.mode("overwrite").parquet(dir)
      // ONE distributed stats pass over the files just written: min/max
      // zone maps and (optionally) the per-file Bloom, grouped by the
      // parquet reader's file-path metadata column
      val written = s.read.parquet(dir)
      val statAggs = statsCols.flatMap(c =>
        Seq(min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c"))) ++
        Seq(count(lit(1)).as("rows")) ++
        bloomCol.map { c =>
          val agg = udaf(new BloomAgg(2L * math.max(1L, rows / nFiles), 0.01),
            Encoders.scalaLong)
          agg(col(c).cast("long")).as("bloom")
        }
      val needed = (statsCols ++ bloomCol).distinct
      // stats key the file NAME (relocation-stable — the same convention
      // as the _dv/_mor sidecars), so hardlink relocation (restore /
      // clone / append) carries the skipping metadata intact; [[stats]]
      // reconstructs absolute paths against whatever version dir is live
      written
        .select(col("_metadata.file_name").as("fname") +: needed.map(col): _*)
        .groupBy("fname")
        .agg(statAggs.head, statAggs.tail: _*)
        .coalesce(1)
        .write.mode("overwrite").parquet(s"$dir/$Sidecar")
    }
  }

  /** The sidecar as a DataFrame — pruning predicates run HERE, over file
    * metadata, before any data file is opened. The stored key is the
    * relocation-stable file NAME; `path` is reconstructed against the
    * LIVE version directory, so consumers always get openable absolute
    * paths even when the version was produced by restore/clone/append. */
  def stats(s: SparkSession, base: String): DataFrame = {
    val ver = AtomicTable.resolve(base).getOrElse(
      throw new IllegalStateException(s"no published version at $base"))
    s.read.parquet(ver + "/" + Sidecar)
      .withColumn("path", concat(lit(ver + "/"), col("fname")))
  }

  /** Files whose zone map can satisfy `keep` (a predicate over the
    * sidecar's `min_*`/`max_*` columns), plus the total file count. Only
    * the surviving path strings reach the driver. */
  def pruneFiles(s: SparkSession, base: String, keep: Column): (Seq[String], Long) = {
    val st = stats(s, base)
    val total = st.count()
    val kept = st.where(keep).select("path").collect().map(_.getString(0)).toSeq
    (kept, total)
  }

  /** Zone-map overlap predicate for `lo <= c <= hi`: a file survives iff
    * its [min,max] box intersects the range. Literal types follow the
    * sidecar's native column types, so dates/timestamps/longs all compare
    * correctly through ordinary Catalyst coercion. */
  def rangeKeep(c: String, lo: Column, hi: Column): Column =
    !(col(s"max_$c") < lo || col(s"min_$c") > hi)

  /** Files whose Bloom filter might contain ANY of `keys` (no false
    * negatives ⇒ sound). The probe runs distributed over the sidecar —
    * each row deserializes its file's filter once — and only kept paths
    * are collected. */
  def bloomPruneFiles(s: SparkSession, base: String, keys: Seq[Long]): (Seq[String], Long) = {
    val ks = keys.toArray
    val probe = udf { (bytes: Array[Byte]) =>
      val bf = BloomFilter.readFrom(new ByteArrayInputStream(bytes))
      ks.exists(bf.mightContainLong)
    }
    val st = stats(s, base)
    val total = st.count()
    val kept = st.where(probe(col("bloom")))
      .select("path").collect().map(_.getString(0)).toSeq
    (kept, total)
  }

  /** Read exactly the surviving files (the skipping read). An empty
    * survivor list still needs the table schema, so it degenerates to a
    * full-scan plan with a false filter — zero rows, zero files opened
    * beyond footers. */
  def readFiles(s: SparkSession, base: String, kept: Seq[String]): DataFrame =
    if (kept.isEmpty)
      AtomicTable.read(s, base).where(lit(false))
    else s.read.parquet(kept: _*)

  // --------------------------------------------------------- staged tables

  /** lineitem z-ordered by (l_partkey, l_suppkey) with zone maps on both —
    * staged once per table version, the way a 100 TB pipeline runs
    * OPTIMIZE: the staged-once stamp (source part-file fingerprint) is
    * the metadata a table format would carry for its clustering state. */
  def zorderedLineitem(s: SparkSession, d: String): String = {
    val base = SilverArtifact.pathFor(d, "skip/lineitem_z")
    val fp = SilverArtifact.sourceFingerprint(
      s"$d/lineitem.parquet", "zorder-v2-fname-pk-sk-32f")
    SilverArtifact.stagedOnce(base, fp) {
      optimizedWrite(s, Tables.lineitem(s, d), base,
        clusterCols = Seq("l_partkey", "l_suppkey"),
        statsCols = Seq("l_partkey", "l_suppkey"),
        bloomCol = None, nFiles = 32)
    }
    base
  }

  /** orders range-clustered by o_orderdate, zone maps on the date, Bloom
    * on the scattered o_orderkey (the key zone maps CANNOT serve). */
  def dateClusteredOrders(s: SparkSession, d: String): String = {
    val base = SilverArtifact.pathFor(d, "skip/orders_bydate")
    val fp = SilverArtifact.sourceFingerprint(
      s"$d/orders.parquet", "bydate-v2-fname-bloom-32f")
    SilverArtifact.stagedOnce(base, fp) {
      optimizedWrite(s, Tables.orders(s, d)
        .withColumn("o_datekey",
          unix_date(col("o_orderdate").cast("date")).cast("long")), base,
        clusterCols = Seq("o_datekey"), statsCols = Seq("o_orderdate"),
        bloomCol = Some("o_orderkey"), nFiles = 32)
    }
    base
  }

  private def dropDatekey(df: DataFrame): DataFrame = df.drop("o_datekey")

  // --------------------------------------------------------------- queries

  /** Middle-quintile bounds of `c`'s domain in pure Long arithmetic —
    * bit-identical to the oracle's `min + (max-min)*k // 5` (no floating
    * point anywhere, so no cross-engine rounding hazard). */
  private def quintileBounds(s: SparkSession, d: String, c: String): (Long, Long) = {
    val r = Tables.lineitem(s, d).agg(min(col(c)), max(col(c))).head()
    val (lo, hi) = (r.getLong(0), r.getLong(1))
    (lo + (hi - lo) * 2 / 5, lo + (hi - lo) * 3 / 5)
  }

  /** Z-order skipping: a 2-D range predicate served from the z-clustered
    * lineitem — both dimensions prune files (DataSkippingSpec asserts the
    * file counts; the oracle asserts the answer ≡ full scan). */
  def zorderSkipping(s: SparkSession, d: String): DataFrame = {
    val base = zorderedLineitem(s, d)
    val (plo, phi) = quintileBounds(s, d, "l_partkey")
    val (slo, shi) = quintileBounds(s, d, "l_suppkey")
    val (kept, _) = pruneFiles(s, base,
      rangeKeep("l_partkey", lit(plo), lit(phi)) &&
        rangeKeep("l_suppkey", lit(slo), lit(shi)))
    readFiles(s, base, kept)
      .where(col("l_partkey").between(plo, phi) &&
        col("l_suppkey").between(slo, shi))
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n_rows"), sum("l_quantity").as("sum_qty"),
        sum(round(col("l_extendedprice") * 100).cast("long")).as("revenue_cents"))
      .orderBy("l_returnflag")
  }

  /** Zone-map skipping on the natural clustering column: a quarter-year
    * window over date-clustered orders touches ~1/26 of the date domain,
    * so ~24/26 of the files are never opened. */
  def dataSkippingRead(s: SparkSession, d: String): DataFrame = {
    val base = dateClusteredOrders(s, d)
    val (lo, hi) = (lit("1997-01-01").cast("timestamp"),
      lit("1997-03-31 23:59:59").cast("timestamp"))
    val (kept, _) = pruneFiles(s, base, rangeKeep("o_orderdate", lo, hi))
    dropDatekey(readFiles(s, base, kept))
      .where(col("o_orderdate") >= lo &&
        col("o_orderdate") < lit("1997-04-01").cast("timestamp"))
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_orders"),
        sum(round(col("o_totalprice") * 100).cast("long")).as("total_cents"))
      .orderBy("o_orderstatus")
  }

  /** Bloom-index point lookup: the probe keys are uniformly scattered, so
    * every file's [min,max] straddles them and zone maps keep everything —
    * the per-file Bloom keeps only the files that might actually hold a
    * key (≈ |keys| of 32 at 1% fpp). The 12-key probe list is a one-row
    * driver aggregate (bytes, not data). */
  def bloomFileSkipping(s: SparkSession, d: String): DataFrame = {
    val base = dateClusteredOrders(s, d)
    val keys = Tables.orders(s, d).select(col("o_orderkey"))
      .orderBy("o_orderkey").limit(12).collect().map(_.getLong(0)).toSeq
    val (kept, _) = bloomPruneFiles(s, base, keys)
    dropDatekey(readFiles(s, base, kept))
      .where(col("o_orderkey").isin(keys: _*))
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
      .orderBy("o_orderkey")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "zorder_skipping" -> (zorderSkipping _),
    "data_skipping_read" -> (dataSkippingRead _),
    "bloom_file_skipping" -> (bloomFileSkipping _)
  )

  val oracleSql: Map[String, String] = Map(
    // integer-only bound arithmetic ('//' floor-div in DuckDB ≡ Long '/'
    // in Scala on non-negative ints) — no decimal/double rounding hazard
    "zorder_skipping" -> """
      WITH b AS (
        SELECT min(l_partkey) plo, max(l_partkey) phi,
               min(l_suppkey) slo, max(l_suppkey) shi
        FROM lineitem)
      SELECT l_returnflag, count(*) AS n_rows, sum(l_quantity) AS sum_qty,
             CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS revenue_cents
      FROM lineitem, b
      WHERE l_partkey BETWEEN plo + (phi-plo)*2//5 AND plo + (phi-plo)*3//5
        AND l_suppkey BETWEEN slo + (shi-slo)*2//5 AND slo + (shi-slo)*3//5
      GROUP BY 1 ORDER BY 1""",
    "data_skipping_read" -> """
      SELECT o_orderstatus, count(*) AS n_orders,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total_cents
      FROM orders
      WHERE o_orderdate >= TIMESTAMP '1997-01-01'
        AND o_orderdate < TIMESTAMP '1997-04-01'
      GROUP BY 1 ORDER BY 1""",
    "bloom_file_skipping" -> """
      SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
      FROM orders
      WHERE o_orderkey IN (
        SELECT o_orderkey FROM orders ORDER BY o_orderkey LIMIT 12)
      ORDER BY o_orderkey"""
  )
}
