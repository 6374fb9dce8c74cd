package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.util.SilverArtifact

/** Round-4 coverage extensions — operator families a large-scale curation /
  * lakehouse engine needs beyond the reference's surface (reference has none
  * of these; cited gaps are SURVEY.md §2 ABSENT rows and the LLM-pipeline
  * mandate):
  *
  *  - [[piiScrub]] — PII redaction over text columns (regex email/phone
  *    masking), the standard pre-training scrub pass.
  *  - [[conditionalAgg]] — FILTER-clause / conditional aggregation family
  *    (count_if, conditional sum/min/max in one grouped pass).
  *  - [[argmaxPerGroup]] — max_by/arg_max: "row attribute at the group's
  *    extremum" without a self-join or window.
  *  - [[histogramPrices]] — fixed-width bucketing (the groupBy form of a
  *    histogram; linear single-shuffle profile pass).
  *  - [[orcRoundtrip]] — ORC source/sink surface (columnar-format coverage
  *    beyond parquet/CSV; ORC ships in /opt/spark/jars).
  *  - [[lateralExplode]] — ordinal-preserving array explode (posexplode):
  *    tokenization fan-out with stable positions, the shape every
  *    shingle/n-gram pipeline starts from.
  *  - [[zorderCluster]] — Z-order (Morton) interleaved sort key over two
  *    join/filter dimensions: the lakehouse data-clustering technique that
  *    makes min/max file skipping effective on BOTH columns at once.
  *  - [[randomProjection]] — sparse sign random projection (Achlioptas-style
  *    ±1 matrix) 64-dim → 8-dim: the cheap linear dimensionality reduction
  *    used before LSH/clustering at corpus scale.
  *  - [[timeTravelRead]] — versioned-table time travel through
  *    [[graft.util.AtomicTable]]: read version N-1 while N is live.
  *
  * All queries keep the project's determinism rules: total output order,
  * exact integer/floor quantization for computed doubles, identical column
  * aliases in the Spark plan and the oracle SQL.
  */
object ExtraOps {

  // ---------------------------------------------------------------- pii

  /** The synthetic testdata carries no real PII, so the query derives the
    * email/phone columns deterministically from customer fields first, then
    * applies the redaction — the redaction expressions are the operator
    * under test, the derivation just feeds them realistic shapes. */
  def piiScrub(s: SparkSession, d: String): DataFrame = {
    val email = concat(
      lower(regexp_replace(col("c_name"), "[^A-Za-z0-9]+", ".")),
      lit("@example.com"))
    val phone = concat(lit("+1-"), lpad(col("c_custkey").cast("string"), 7, "0"))
    Tables.customer(s, d).select(
      col("c_custkey"),
      email.as("email_raw"),
      regexp_replace(email, "[a-z0-9.]+@", "[EMAIL]@").as("email_redacted"),
      regexp_replace(phone, "[0-9]", "#").as("phone_redacted"))
      .orderBy("c_custkey")
  }

  val piiScrubOracle: String = """
WITH pii AS (
  SELECT c_custkey,
         lower(regexp_replace(c_name, '[^A-Za-z0-9]+', '.', 'g')) || '@example.com' AS email_raw,
         '+1-' || lpad(CAST(c_custkey AS VARCHAR), 7, '0') AS phone_raw
  FROM customer)
SELECT c_custkey, email_raw,
       regexp_replace(email_raw, '[a-z0-9.]+@', '[EMAIL]@', 'g') AS email_redacted,
       regexp_replace(phone_raw, '[0-9]', '#', 'g') AS phone_redacted
FROM pii ORDER BY c_custkey"""

  // ------------------------------------------------- conditional aggregates

  /** count_if + conditional sum/min/max in ONE grouped pass (no per-branch
    * re-scan). Conditional min/max stay float-hazard-free (no arithmetic);
    * the conditional sum runs on exact integer cents — its group totals
    * pass 10^8 where a double sum's order error exceeds the 4-dp compare
    * grid. */
  def conditionalAgg(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d).groupBy("o_orderpriority").agg(
      count(lit(1)).as("n_total"),
      sum(when(col("o_totalprice") > 150000.0, 1L).otherwise(0L)).as("n_big"),
      sum(when(col("o_orderstatus") === "F",
        round(col("o_totalprice") * 100).cast("long")).otherwise(0L)).as("sales_f_cents"),
      min(when(col("o_orderstatus") === "F", col("o_totalprice"))).as("min_f"),
      max(when(col("o_orderstatus") === "F", col("o_totalprice"))).as("max_f"))
      .orderBy("o_orderpriority")

  val conditionalAggOracle: String = """
SELECT o_orderpriority,
       count(*) AS n_total,
       CAST(count(*) FILTER (WHERE o_totalprice > 150000) AS BIGINT) AS n_big,
       CAST(coalesce(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                     FILTER (WHERE o_orderstatus = 'F'), 0) AS BIGINT) AS sales_f_cents,
       min(o_totalprice) FILTER (WHERE o_orderstatus = 'F') AS min_f,
       max(o_totalprice) FILTER (WHERE o_orderstatus = 'F') AS max_f
FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority"""

  // --------------------------------------------------------------- arg_max

  /** Attribute-at-extremum per group without a self-join or window: one
    * hash aggregate with map-side partials. The ordering value packs the
    * tie-break into one BIGINT (n_chars · 10^6 + doc_id — doc_id < 10^6 at
    * every SF), so both engines pick the same row deterministically. */
  def argmaxPerGroup(s: SparkSession, d: String): DataFrame = {
    val rank = col("n_chars") * lit(1000000L) + col("doc_id")
    Tables.documents(s, d).groupBy("lang").agg(
      max_by(col("doc_id"), rank).as("top_doc_id"),
      max_by(col("n_chars"), rank).as("top_n_chars"),
      count(lit(1)).as("n_docs"))
      .orderBy("lang")
  }

  val argmaxPerGroupOracle: String = """
SELECT lang,
       arg_max(doc_id, n_chars * 1000000 + doc_id) AS top_doc_id,
       arg_max(n_chars, n_chars * 1000000 + doc_id) AS top_n_chars,
       count(*) AS n_docs
FROM documents GROUP BY lang ORDER BY lang"""

  // ------------------------------------------------------------- histogram

  /** Fixed-width histogram as floor-division bucketing + grouped agg.
    * Bucket edges are exact multiples of 25000 (representable doubles), and
    * both engines divide the same double by the same constant — IEEE says
    * the quotients are bit-identical, so floor never straddles an edge. */
  def histogramPrices(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .select(floor(col("o_totalprice") / 25000.0).cast("long").as("bucket"),
        col("o_totalprice"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n"),
        sum(round(col("o_totalprice") * 100).cast("long")).as("total_cents"))
      .orderBy("bucket")

  val histogramPricesOracle: String = """
SELECT CAST(floor(o_totalprice / 25000.0) AS BIGINT) AS bucket,
       count(*) AS n,
       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total_cents
FROM orders GROUP BY 1 ORDER BY bucket"""

  // ------------------------------------------------------------------- orc

  /** ORC round-trip: write supplier as ORC, read back with the explicit
    * schema (engine contracts never rely on inference). Completes the
    * columnar-format surface next to parquet (native) and CSV
    * ([[PipelineOps.csvRoundtrip]]). */
  def orcRoundtrip(s: SparkSession, d: String): DataFrame = {
    val out = SilverArtifact.pathFor(d, "orc/supplier")
    Tables.supplier(s, d).write.mode("overwrite").orc(out)
    s.read.schema(Tables.supplier(s, d).schema).orc(out)
      .orderBy("s_suppkey")
  }

  val orcRoundtripOracle: String =
    "SELECT * FROM supplier ORDER BY s_suppkey"

  // -------------------------------------------------------- lateral explode

  /** Ordinal-preserving tokenization fan-out: posexplode keeps each token's
    * position, the prerequisite for positional n-grams/shingles. Bounded to
    * 50 docs so the output stays diff-sized; the operator itself is a
    * narrow per-row generate — linear at any corpus size. */
  def lateralExplode(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .filter(col("doc_id") < 50)
      .select(col("doc_id"), posexplode(split(col("text"), " ")))
      .withColumnsRenamed(Map("pos" -> "pos", "col" -> "tok"))
      .select(col("doc_id"), col("pos").cast("int").as("pos"), col("tok"))
      .orderBy("doc_id", "pos")

  /** DuckDB (this version) lacks WITH ORDINALITY — a lateral unnest over
    * `range(len(list))` reproduces the 0-based position exactly. */
  val lateralExplodeOracle: String = """
SELECT d.doc_id, CAST(u.i AS INT) AS pos, d.l[u.i + 1] AS tok
FROM (SELECT doc_id, string_split(text, ' ') AS l
      FROM documents WHERE doc_id < 50) d,
     UNNEST(range(len(d.l))) AS u(i)
ORDER BY doc_id, pos"""

  // --------------------------------------------------------------- z-order

  /** Bit-spread of a 10-bit value to even bit positions (Morton encoding
    * step), emitted as engine-dialect SQL so the Spark plan and the oracle
    * evaluate the identical integer formula. `shl` abstracts the only
    * dialect difference (shiftleft() vs <<). */
  private def zSpread(x0: String, shl: (String, Int) => String): String =
    Seq(8 -> "16711935", 4 -> "252645135", 2 -> "858993459", 1 -> "1431655765")
      .foldLeft(x0) { case (x, (sh, mask)) => s"((($x) | ${shl(x, sh)}) & $mask)" }

  private def zValue(a: String, b: String, shl: (String, Int) => String): String =
    s"(${zSpread(a, shl)} | ${shl(zSpread(b, shl), 1)})"

  private val sparkShl = (x: String, n: Int) => s"shiftleft($x, $n)"
  private val duckShl  = (x: String, n: Int) => s"(($x) << $n)"

  /** The Spark-dialect z-value SQL for arbitrary integer expressions —
    * shared with ZOrderSpec's synthetic-grid locality test so the spec
    * exercises the exact production encoding. */
  private[graft] def zSparkSql(a: String, b: String): String = zValue(a, b, sparkShl)

  /** Z-order clustering key over (part, supplier): interleaving the two
    * keys' bits gives ONE sort column whose ordering is spatially local in
    * BOTH dimensions — files written in z-order carry tight min/max ranges
    * on part AND supplier simultaneously, so scans filtered on either key
    * skip most files (single-column sorts only ever skip on that column).
    * At 100 TB this is `repartitionByRange(zval) + sortWithinPartitions`
    * at write time; the query verifies the encoding + total z-sort. */
  def zorderCluster(s: SparkSession, d: String): DataFrame = {
    val z = zValue("(l_partkey & 1023)", "(l_suppkey & 1023)", sparkShl)
    Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_linenumber"),
        col("l_partkey"), col("l_suppkey"),
        expr(s"CAST($z AS BIGINT)").as("zval"))
      .orderBy("zval", "l_orderkey", "l_linenumber")
  }

  val zorderClusterOracle: String = {
    val z = zValue("(l_partkey & 1023)", "(l_suppkey & 1023)", duckShl)
    s"""
SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
       CAST($z AS BIGINT) AS zval
FROM lineitem
ORDER BY zval, l_orderkey, l_linenumber"""
  }

  // ----------------------------------------------------- random projection

  private val RpInDim  = 64
  private val RpOutDim = 8

  /** Fixed ±1 sign for matrix cell (j, i) — one deterministic generator
    * emits both the Spark expression and the oracle SQL, so the "random"
    * matrix is identical on both engines (same technique as the pinned LSH
    * planes / IVF centroids in [[graft.ops.Similarity]]). */
  private def rpSign(j: Int, i: Int): Int = {
    val h = (j * 1315423911) ^ (i * 0x9E3779B1.toInt) ^ ((i + j) >>> 3)
    if (((h * 0x85EBCA6B.toInt) >>> 16 & 1) == 0) 1 else -1
  }

  /** Sign-matrix product as a left-associated chain of +/- terms: both
    * engines then add the SAME doubles in the SAME order, so the result is
    * bit-identical (Dedup/Similarity's sequential-sum rule) and the 1e4
    * floor quantization never straddles. `idx` maps to each engine's array
    * indexing (Spark 0-based, DuckDB lists 1-based). */
  private def rpChain(j: Int, idx: Int => String): String =
    (0 until RpInDim).map { i =>
      s"${if (rpSign(j, i) > 0) "+" else "-"} CAST(${idx(i)} AS DOUBLE)"
    }.mkString("0.0 ", " ", "")

  /** Achlioptas-style sparse random projection 64-dim → 8-dim: a narrow
    * per-row projection (no shuffle, codegen arithmetic) that preserves
    * pairwise distances within (1±ε) w.h.p. — the standard cheap front-end
    * before LSH bucketing or clustering when the raw dimension is high.
    * Cost is linear in rows; at 100 TB it pipelines inside the scan. */
  def randomProjection(s: SparkSession, d: String): DataFrame = {
    val cols = (0 until RpOutDim).map { j =>
      expr(s"CAST(floor((${rpChain(j, i => s"embedding[$i]")}) * 10000) AS BIGINT)")
        .as(s"rp$j")
    }
    Tables.embeddings(s, d)
      .select(col("vec_id") +: cols: _*)
      .orderBy("vec_id")
  }

  val randomProjectionOracle: String = {
    val cols = (0 until RpOutDim).map { j =>
      s"CAST(floor((${rpChain(j, i => s"embedding[${i + 1}]")}) * 10000) AS BIGINT) AS rp$j"
    }.mkString(",\n       ")
    s"""
SELECT vec_id,
       $cols
FROM embeddings ORDER BY vec_id"""
  }

  // ----------------------------------------------------- quantile bucketing

  /** Per-group quantile bucketing — assign every order its within-status
    * price quartile, the stratification primitive behind quality-score
    * binning and balanced sampling in curation pipelines. Scale shape:
    * boundaries are a tiny per-group aggregate (percentile_disc picks an
    * ACTUAL data value — no interpolated float to disagree on), broadcast
    * back onto the fact; no global window, no single-task funnel. The
    * oracle derives the same boundaries from first principles
    * (smallest value with cume_dist ≥ q — percentile_disc's definition),
    * so the two engines must agree on the exact data value chosen. */
  def quantileBuckets(s: SparkSession, d: String): DataFrame = {
    val bounds = Tables.orders(s, d).groupBy("o_orderstatus").agg(
      expr("percentile_disc(0.25) WITHIN GROUP (ORDER BY o_totalprice)").as("q1"),
      expr("percentile_disc(0.50) WITHIN GROUP (ORDER BY o_totalprice)").as("q2"),
      expr("percentile_disc(0.75) WITHIN GROUP (ORDER BY o_totalprice)").as("q3"))
    Tables.orders(s, d)
      .join(broadcast(bounds), "o_orderstatus")
      .withColumn("quartile",
        when(col("o_totalprice") <= col("q1"), 1)
          .when(col("o_totalprice") <= col("q2"), 2)
          .when(col("o_totalprice") <= col("q3"), 3)
          .otherwise(4))
      .groupBy("o_orderstatus", "quartile")
      .agg(count(lit(1)).as("n"),
        min("o_totalprice").as("min_price"),
        max("o_totalprice").as("max_price"))
      .orderBy("o_orderstatus", "quartile")
  }

  val quantileBucketsOracle: String = """
WITH cd AS (
  SELECT o_orderstatus, o_totalprice,
         cume_dist() OVER (PARTITION BY o_orderstatus ORDER BY o_totalprice) AS c
  FROM orders),
b AS (
  SELECT o_orderstatus,
         min(o_totalprice) FILTER (WHERE c >= 0.25) AS q1,
         min(o_totalprice) FILTER (WHERE c >= 0.50) AS q2,
         min(o_totalprice) FILTER (WHERE c >= 0.75) AS q3
  FROM cd GROUP BY o_orderstatus)
SELECT o.o_orderstatus AS o_orderstatus,
       CASE WHEN o_totalprice <= q1 THEN 1
            WHEN o_totalprice <= q2 THEN 2
            WHEN o_totalprice <= q3 THEN 3
            ELSE 4 END AS quartile,
       count(*) AS n, min(o_totalprice) AS min_price, max(o_totalprice) AS max_price
FROM orders o JOIN b ON o.o_orderstatus = b.o_orderstatus
GROUP BY 1, 2 ORDER BY 1, 2"""

  // ------------------------------------------------------------ time travel

  /** Versioned-table time travel: publish nation twice through
    * [[graft.util.AtomicTable]] (full, then filtered), read the FIRST
    * retained version back while the second is live — the
    * `VERSION AS OF N-1` read every transactional table format offers.
    * The base dir is wiped first so the two-version history (and thus the
    * result) is identical on every run. */
  def timeTravelRead(s: SparkSession, d: String): DataFrame = {
    import graft.util.AtomicTable
    val base = SilverArtifact.pathFor(d, "tt/nation")
    AtomicTable.deleteRecursively(java.nio.file.Paths.get(base))
    val nation = Tables.nation(s, d)
    AtomicTable.publish(base, keep = 2)(dir => nation.write.mode("overwrite").parquet(dir))
    AtomicTable.publish(base, keep = 2)(dir =>
      nation.filter(col("n_nationkey") < 10).write.mode("overwrite").parquet(dir))
    val v1 = AtomicTable.history(base).head
    AtomicTable.readVersion(s, base, v1).orderBy("n_nationkey")
  }

  /** The live table is the filtered v2; reading v1 must yield ALL nations. */
  val timeTravelReadOracle: String =
    "SELECT * FROM nation ORDER BY n_nationkey"

  /** `RESTORE TABLE ... TO VERSION AS OF` through the versioned store:
    * v1 = supplier, v2 = a "bad deploy" (rows dropped, balances zeroed),
    * then [[graft.util.AtomicTable.restore]] rolls FORWARD to a v3 that
    * hardlinks v1's files — no Spark job, O(files). The gate reads the
    * LIVE table after the restore; matching the raw supplier oracle
    * proves the roll-forward restored every row and that the bad v2
    * stayed in history rather than being the read path. */
  def tableRestore(s: SparkSession, d: String): DataFrame = {
    import graft.util.AtomicTable
    val base = SilverArtifact.pathFor(d, "restore/supplier")
    AtomicTable.deleteRecursively(java.nio.file.Paths.get(base))
    val sup = Tables.supplier(s, d)
    AtomicTable.publish(base, keep = 3)(dir =>
      sup.write.mode("overwrite").parquet(dir))
    AtomicTable.publish(base, keep = 3)(dir =>
      sup.filter(col("s_suppkey") % 2 === 0)
        .withColumn("s_acctbal", lit(0.0))
        .write.mode("overwrite").parquet(dir))
    val v1 = AtomicTable.history(base).head
    AtomicTable.restore(base, v1, keep = 3)
    AtomicTable.read(s, base).orderBy("s_suppkey")
  }

  val tableRestoreOracle: String =
    "SELECT * FROM supplier ORDER BY s_suppkey"

  /** SHALLOW CLONE ([[graft.util.AtomicTable.cloneTable]] — the Delta
    * `CREATE TABLE ... SHALLOW CLONE` analog): part is published, cloned
    * (zero bytes copied — hardlinks), and then the SOURCE moves on: a
    * keep=1 publish of a vandalized v2 that also PRUNES the cloned v1 out
    * of the source's own history. The gate reads the CLONE — matching the
    * raw part oracle proves (a) the clone is pinned to clone-time state
    * (the source's later version never leaks in) and (b) source retention
    * cannot break it (v1's directory is gone; the clone's links keep the
    * shared inodes alive — stronger than Delta, where a source VACUUM
    * orphans shallow clones). */
  /** `ALTER TABLE ... RENAME COLUMN` / `DROP COLUMN` as METADATA — the
    * Delta column-mapping feature ([[graft.util.AtomicTable.renameColumn]]):
    * logical names live in the table's `_CURRENT` commit record, physical
    * names in the immutable files, so the rename+drop here run no Spark
    * job and touch no data file (ColumnMappingSpec proves files
    * byte-identical). The gate then
    * APPENDS through the logical schema ([[graft.util.AtomicTable
    * .toPhysical]] translates back to physical names, so old and new
    * files stay footer-compatible) and aggregates through the mapped
    * read. The oracle restates source ∪ appended rows under the renamed
    * column — a lost mapping, a mis-translated append, or a resurrected
    * dropped column all break the hash. */
  def tableRenameColumn(s: SparkSession, d: String): DataFrame = {
    import graft.util.AtomicTable
    val base = SilverArtifact.pathFor(d, "colmap/orders")
    val fp = SilverArtifact.sourceFingerprint(
      s"$d/orders.parquet", "colmap-v2")
    SilverArtifact.stagedOnce(base, fp) {
      AtomicTable.deleteRecursively(
        java.nio.file.Paths.get(base).resolveSibling("orders"))
      AtomicTable.publish(base)(dir =>
        Tables.orders(s, d).repartition(4).write.mode("overwrite").parquet(dir))
      AtomicTable.renameColumn(s, base, "o_totalprice", "price_usd")
      AtomicTable.dropColumn(s, base, "o_orderpriority")
      // append THROUGH the logical schema: re-enter key%17 orders at +2.00
      val batch = AtomicTable.readMapped(s, base)
        .where(col("o_orderkey") % 17 === 0)
        .withColumn("o_orderkey", col("o_orderkey") + lit(300000000L))
        .withColumn("price_usd", col("price_usd") + lit(2.0))
      AtomicTable.publishAppend(base, keep = 2)(dir =>
        AtomicTable.toPhysical(batch, base)
          .coalesce(2).write.mode("append").parquet(dir))
    }
    AtomicTable.readMapped(s, base)
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_orders"),
        sum(round(col("price_usd") * 100).cast("long")).as("total_cents"))
      .orderBy("o_orderstatus")
  }

  val tableRenameColumnOracle: String = """
SELECT o_orderstatus, count(*) AS n_orders,
       CAST(sum(CAST(round(p * 100) AS BIGINT)) AS BIGINT) AS total_cents
FROM (
  SELECT o_orderstatus, o_totalprice AS p FROM orders
  UNION ALL
  SELECT o_orderstatus, o_totalprice + 2.0 FROM orders WHERE o_orderkey % 17 = 0
)
GROUP BY 1 ORDER BY 1"""

  def tableClone(s: SparkSession, d: String): DataFrame = {
    import graft.util.AtomicTable
    val root = SilverArtifact.pathFor(d, "clone")
    AtomicTable.deleteRecursively(java.nio.file.Paths.get(root))
    val (src, dst) = (s"$root/part_src", s"$root/part_clone")
    val p = Tables.part(s, d)
    AtomicTable.publish(src)(dir =>
      p.write.mode("overwrite").parquet(dir))
    AtomicTable.cloneTable(src, dst)
    AtomicTable.publish(src, keep = 1)(dir =>
      p.filter(col("p_partkey") % 2 === 0)
        .withColumn("p_retailprice", lit(0.0))
        .write.mode("overwrite").parquet(dir))
    AtomicTable.read(s, dst).orderBy("p_partkey")
  }

  val tableCloneOracle: String =
    "SELECT * FROM part ORDER BY p_partkey"

  /** Write-side CHECK constraints ([[graft.util.AtomicTable
    * .publishChecked]] — the `ALTER TABLE ... ADD CONSTRAINT CHECK`
    * write-path enforcement): a clean publish commits, then a batch with
    * vandalized rows (prices negated for key%3=0) is REFUSED atomically —
    * enforcement rides the write job's `observe` accumulators, zero extra
    * passes. The result reads the LIVE table (cents would shift if the
    * refused batch had committed) plus the refusal evidence: the
    * per-constraint violating-row count from the exception and the
    * history length proving no second version exists. */
  def constrainedWrite(s: SparkSession, d: String): DataFrame = {
    import graft.util.AtomicTable
    val base = SilverArtifact.pathFor(d, "checked/orders")
    AtomicTable.deleteRecursively(java.nio.file.Paths.get(base))
    val o = Tables.orders(s, d)
    val checks = Map(
      "price_positive" -> (col("o_totalprice") > 0.0),
      "status_domain"  -> col("o_orderstatus").isin("O", "F", "P"))
    AtomicTable.publishChecked(o, base, checks)
    val rejected =
      try {
        AtomicTable.publishChecked(
          o.withColumn("o_totalprice",
            when(col("o_orderkey") % 3 === 0, -col("o_totalprice"))
              .otherwise(col("o_totalprice"))),
          base, checks)
        -1L // unreachable: the publish above must throw
      } catch {
        case e: AtomicTable.ConstraintViolationException =>
          e.counts.getOrElse("price_positive", 0L)
      }
    AtomicTable.read(s, base)
      .agg(count(lit(1)).as("n_orders"),
        sum(round(col("o_totalprice") * 100).cast("long")).as("total_cents"))
      .withColumn("n_rejected_rows", lit(rejected))
      .withColumn("n_versions", lit(AtomicTable.history(base).size.toLong))
  }

  val constrainedWriteOracle: String = """
SELECT count(*) AS n_orders,
       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
         AS total_cents,
       (SELECT count(*) FROM orders WHERE o_orderkey % 3 = 0)
         AS n_rejected_rows,
       CAST(1 AS BIGINT) AS n_versions
FROM orders"""

  /** GENERATED columns ([[graft.util.AtomicTable.publishGenerated]] —
    * Delta generated-column writes): `o_year` and `o_cents` are ABSENT
    * from the incoming frame, so the write computes them from their
    * generation expressions; the gate then aggregates THROUGH the stored
    * generated columns — wrong or missing generation breaks grouping and
    * sums alike. (The verify-on-supply path — a writer providing values
    * that must match the generator — is spec-covered, including the
    * refusal.) */
  def generatedColumns(s: SparkSession, d: String): DataFrame = {
    import graft.util.AtomicTable
    val base = SilverArtifact.pathFor(d, "generated/orders")
    AtomicTable.deleteRecursively(java.nio.file.Paths.get(base))
    AtomicTable.publishGenerated(Tables.orders(s, d), base, Map(
      "o_year"  -> year(col("o_orderdate")).cast("long"),
      "o_cents" -> round(col("o_totalprice") * 100).cast("long")))
    AtomicTable.read(s, base)
      .groupBy("o_year")
      .agg(count(lit(1)).as("n_orders"), sum("o_cents").as("total_cents"))
      .orderBy("o_year")
  }

  val generatedColumnsOracle: String = """
SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year, count(*) AS n_orders,
       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
         AS total_cents
FROM orders GROUP BY 1 ORDER BY 1"""

  /** Change-data-feed between two stored table versions: publish customer
    * twice through [[graft.util.AtomicTable]] (v2 = deletes at key%11=0,
    * segment updates at key%7=0, inserts at key+1000000 for key%13=0), then
    * derive the CDC rows — insert / delete / update with before+after
    * images — from the STORED VERSIONS by a keyed full-outer join. This is
    * `table_changes(v1, v2)` of a transactional format, recovered from
    * plain versioned parquet: one shuffle on the key, arbitrary-width
    * change batches, no driver materialization. The oracle recomputes the
    * same feed from the mutation rules directly, so the version-store
    * round-trip is what's actually under test. */
  /** Publish the canonical two customer versions under `tag` and return
    * (v1, v2) as read back from the STORE (shared by [[versionDiff]] and
    * [[mvCdcRefresh]] so the mutation rules cannot drift apart). */
  private def customerVersions(s: SparkSession, d: String,
                               tag: String): (DataFrame, DataFrame) = {
    import graft.util.AtomicTable
    val base = SilverArtifact.pathFor(d, s"vdiff/$tag")
    AtomicTable.deleteRecursively(java.nio.file.Paths.get(base))
    val cust = Tables.customer(s, d).select("c_custkey", "c_mktsegment")
    AtomicTable.publish(base, keep = 2)(dir => cust.write.mode("overwrite").parquet(dir))
    val v2data = cust.filter(col("c_custkey") % 11 =!= 0)
      .withColumn("c_mktsegment",
        when(col("c_custkey") % 7 === 0, lit("UPDATED")).otherwise(col("c_mktsegment")))
      .unionByName(cust.filter(col("c_custkey") % 13 === 0)
        .select((col("c_custkey") + 1000000L).as("c_custkey"), lit("NEWSEG").as("c_mktsegment")))
    AtomicTable.publish(base, keep = 2)(dir => v2data.write.mode("overwrite").parquet(dir))
    val versions = AtomicTable.history(base)
    (AtomicTable.readVersion(s, base, versions.head),
      AtomicTable.readVersion(s, base, versions.last))
  }

  /** CDC rows (insert/delete/update with before+after images) between two
    * version DataFrames, `unchanged` rows dropped. */
  private def cdcOf(v1df: DataFrame, v2df: DataFrame): DataFrame = {
    val v1 = v1df.select(col("c_custkey").as("k1"), col("c_mktsegment").as("old_seg"))
    val v2 = v2df.select(col("c_custkey").as("k2"), col("c_mktsegment").as("new_seg"))
    v1.join(v2, col("k1") === col("k2"), "full_outer")
      .withColumn("op",
        when(col("k1").isNull, lit("insert"))
          .when(col("k2").isNull, lit("delete"))
          .when(col("old_seg") =!= col("new_seg"), lit("update"))
          .otherwise(lit("unchanged")))
      .filter(col("op") =!= "unchanged")
      .select(coalesce(col("k1"), col("k2")).as("c_custkey"),
        col("op"), col("old_seg"), col("new_seg"))
  }

  def versionDiff(s: SparkSession, d: String): DataFrame = {
    val (v1, v2) = customerVersions(s, d, "customer")
    cdcOf(v1, v2).orderBy("c_custkey")
  }

  /** Same feed from the mutation rules (original segments are never the
    * sentinel values, so rule-derived ops match the stored-version diff). */
  val versionDiffOracle: String = """
SELECT c_custkey, 'delete' AS op, c_mktsegment AS old_seg, NULL AS new_seg
FROM customer WHERE c_custkey % 11 = 0
UNION ALL
SELECT c_custkey, 'update', c_mktsegment, 'UPDATED'
FROM customer WHERE c_custkey % 7 = 0 AND c_custkey % 11 <> 0
UNION ALL
SELECT c_custkey + 1000000, 'insert', NULL, 'NEWSEG'
FROM customer WHERE c_custkey % 13 = 0
ORDER BY c_custkey"""

  /** Incremental materialized-view maintenance from the CDC feed: the MV
    * (customer count per market segment) is aggregated ONCE over v1, then
    * refreshed to the v2 state by applying only the change rows — each
    * delete/update retracts one count from its before-image segment, each
    * insert/update adds one to its after-image segment, and the deltas
    * merge into the stored MV by a segment-keyed full-outer join. Refresh
    * cost is ∝ |CDC batch|, never ∝ |table| — on a 100 TB fact a nightly
    * 0.1% change batch refreshes the view in seconds where the oracle's
    * full recompute re-scans everything; the gate proves the incremental
    * path lands on EXACTLY the recompute's answer (the algebraic-retract
    * correctness a real MV engine must guarantee). Segments whose count
    * reaches zero drop out, as a recompute would drop them. */
  def mvCdcRefresh(s: SparkSession, d: String): DataFrame = {
    val (v1, v2) = customerVersions(s, d, "customer_mv")
    val mv1 = v1.groupBy("c_mktsegment").agg(count(lit(1)).as("n_customers"))
    val cdc = cdcOf(v1, v2)
    val retracts = cdc.filter(col("op").isin("delete", "update"))
      .select(col("old_seg").as("c_mktsegment"), lit(-1L).as("dn"))
    val adds = cdc.filter(col("op").isin("insert", "update"))
      .select(col("new_seg").as("c_mktsegment"), lit(1L).as("dn"))
    val delta = retracts.unionByName(adds)
      .groupBy("c_mktsegment").agg(sum("dn").as("dn"))
    mv1.join(delta, Seq("c_mktsegment"), "full_outer")
      .select(col("c_mktsegment"),
        (coalesce(col("n_customers"), lit(0L)) + coalesce(col("dn"), lit(0L)))
          .as("n_customers"))
      .filter(col("n_customers") > 0)
      .orderBy("c_mktsegment")
  }

  /** Full recompute of the view over the simulated v2 state — the answer
    * the incremental refresh must land on. */
  val mvCdcRefreshOracle: String = """
WITH v2 AS (
  SELECT c_custkey,
         CASE WHEN c_custkey % 7 = 0 THEN 'UPDATED' ELSE c_mktsegment END AS seg
  FROM customer WHERE c_custkey % 11 <> 0
  UNION ALL
  SELECT c_custkey + 1000000, 'NEWSEG' FROM customer WHERE c_custkey % 13 = 0)
SELECT seg AS c_mktsegment, count(*) AS n_customers
FROM v2 GROUP BY 1 ORDER BY 1"""

  /** Small-file compaction — the OPTIMIZE/maintenance pass every lakehouse
    * table needs: publish orders fragmented into 64 files (the steady state
    * of frequent small appends), then republish the SAME rows compacted to
    * 4 right-sized files through the atomic pointer swap, so readers flip
    * from the fragmented to the compacted layout with zero downtime and
    * bit-identical content. At 100 TB the win is file-listing and
    * open-per-file overhead: scan tasks per partition drop ~16×. The query
    * returns the compacted table's aggregate fingerprint; the oracle
    * computes it straight from the source — content preservation IS the
    * check (file counts are asserted in CompactionSpec). */
  def compactSmallFiles(s: SparkSession, d: String): DataFrame = {
    import graft.util.AtomicTable
    val base = SilverArtifact.pathFor(d, "compact/orders")
    AtomicTable.deleteRecursively(java.nio.file.Paths.get(base))
    val orders = Tables.orders(s, d)
    AtomicTable.publish(base, keep = 2)(dir =>
      orders.repartition(64).write.mode("overwrite").parquet(dir))
    val fragmented = AtomicTable.read(s, base)
    AtomicTable.publish(base, keep = 2)(dir =>
      fragmented.repartition(4).write.mode("overwrite").parquet(dir))
    AtomicTable.read(s, base)
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_orders"),
        sum(round(col("o_totalprice") * 100).cast("long")).as("sum_cents"),
        min("o_orderkey").as("min_key"), max("o_orderkey").as("max_key"))
      .orderBy("o_orderpriority")
  }

  val compactSmallFilesOracle: String = """
SELECT o_orderpriority, count(*) AS n_orders,
       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
       min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority"""

  /** Scan the custom DSv2 generated table ([[graft.sources.GraftGen]])
    * through a range predicate and projection — exercising the connector's
    * filter pushdown (the scan only PLANS partitions inside [5000, 5200)),
    * column pruning, and split planning against the DuckDB oracle
    * generating the identical rows from `range()`. */
  def genSourceScan(s: SparkSession, d: String): DataFrame =
    s.read.format("graft.sources.GraftGen")
      .option("rows", "100000").option("splits", "16").load()
      .filter(col("id") >= 5000 && col("id") < 5200)
      .select(col("id"), col("bucket"), col("val_hash"),
        round(col("payload"), 6).as("payload_r"))
      .orderBy("id")

  val genSourceScanOracle: String = """
SELECT i AS id, CAST(i % 16 AS INT) AS bucket,
       md5('g:' || CAST(i AS VARCHAR)) AS val_hash,
       round(CAST(list_sum(list_transform(generate_series(1, 8),
         j -> CAST((strpos('0123456789abcdef',
                substr(md5('g:' || CAST(i AS VARCHAR)), j, 1)) - 1) AS BIGINT)
              * CAST(power(16, 8 - j) AS BIGINT))) AS DOUBLE) / 4294967296.0, 6) AS payload_r
FROM range(5000, 5200) t(i) ORDER BY id"""

  // ------------------------------------------------------- schema evolution

  /** Lakehouse schema evolution: an old partition written with two columns,
    * a newer one with three, read back as ONE table via mergeSchema — the
    * v1 rows surface NULL for the late-added column, exactly how a growing
    * lakehouse absorbs schema drift without rewriting history. The merged
    * read is then aggregated per writer version (count, non-null count of
    * the evolved column, cents sum). Scale shape: schema merge happens at
    * footer-planning time (per-file schemas union on the driver, data
    * never rewritten); the aggregation is an ordinary pruned-column scan. */
  def schemaEvolution(s: SparkSession, d: String): DataFrame = {
    val base = SilverArtifact.pathFor(d, "evo/customer")
    val c = Tables.customer(s, d)
    c.filter(col("c_custkey") % 2 === 0)
      .select("c_custkey", "c_name")
      .write.mode("overwrite").parquet(s"$base/v=1")
    c.filter(col("c_custkey") % 2 =!= 0)
      .select("c_custkey", "c_name", "c_acctbal")
      .write.mode("overwrite").parquet(s"$base/v=2")
    s.read.option("mergeSchema", "true").parquet(base)
      .groupBy("v")
      .agg(count(lit(1)).as("n"),
        count(col("c_acctbal")).as("n_with_bal"),
        sum(expr("CAST(floor(c_acctbal * 100) AS BIGINT)")).as("bal_cents"))
      .withColumn("v", col("v").cast("int"))
      .orderBy("v")
  }

  val schemaEvolutionOracle: String = """
SELECT CAST(1 + c_custkey % 2 AS INT) AS v, count(*) AS n,
       CAST(count(CASE WHEN c_custkey % 2 <> 0 THEN c_acctbal END) AS BIGINT) AS n_with_bal,
       CAST(sum(CASE WHEN c_custkey % 2 <> 0
                THEN CAST(floor(c_acctbal * 100) AS BIGINT) END) AS BIGINT) AS bal_cents
FROM customer
GROUP BY 1 ORDER BY v"""

  // ---------------------------------------------------------- JSONL source

  /** JSON-lines write → schema-first read-back → aggregate, completing the
    * format matrix (Parquet everywhere, CSV [[RelOps]], ORC above). The
    * read goes through [[graft.sources.Connectors.json]] with the writer's
    * schema — never inference, per the engine's schema contract (SURVEY.md
    * §1.5). Doubles survive the text roundtrip exactly (Spark emits
    * shortest-round-trip literals), which the floor-cents hash proves. */
  def jsonlRoundtrip(s: SparkSession, d: String): DataFrame = {
    val out = SilverArtifact.pathFor(d, "jsonl/part")
    val p = Tables.part(s, d)
    p.write.mode("overwrite").json(out)
    graft.sources.Connectors.json(s, out, p.schema)
      .groupBy("p_brand")
      .agg(count(lit(1)).as("n"),
        sum(col("p_size").cast("long")).as("sum_size"),
        sum(expr("CAST(floor(p_retailprice * 100) AS BIGINT)")).as("retail_cents"))
      .orderBy("p_brand")
  }

  val jsonlRoundtripOracle: String = """
SELECT p_brand, count(*) AS n,
       CAST(sum(p_size) AS BIGINT) AS sum_size,
       CAST(sum(CAST(floor(p_retailprice * 100) AS BIGINT)) AS BIGINT) AS retail_cents
FROM part GROUP BY p_brand ORDER BY p_brand"""

  // -------------------------------------------------------- corrupt records

  /** PERMISSIVE-mode ingestion accounting: a JSONL feed with planted bad
    * lines (unparseable JSON; a type-mismatched key field) reads into the
    * declared schema with the failures captured in a corrupt-record column
    * instead of failing the job — then one aggregate reports delivered vs
    * quarantined rows. This is the dead-letter pattern every production
    * feed needs: the pipeline stays up, the bad lines stay auditable.
    * (The .cache() is Spark's documented requirement for queries that
    * touch the internal corrupt-record column; guarded on storageLevel so
    * a repeat invocation's identical plan doesn't re-cache — CacheManager
    * WARNs "already cached" per repeat otherwise.) */
  def jsonBadRecords(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.types.StringType
    val out = SilverArtifact.pathFor(d, "badjson/nation")
    val n = Tables.nation(s, d)
    val good = n.select(to_json(struct(n.columns.map(col): _*)).as("line"))
    import s.implicits._
    val bad = Seq("{ this is not json",
      """{"n_nationkey": "not-an-int", "n_name": "X", "n_regionkey": 0}""")
      .toDF("line")
    good.unionByName(bad).coalesce(1).write.mode("overwrite").text(out)
    val withCorrupt = n.schema.add("_corrupt", StringType)
    val parsed = s.read.schema(withCorrupt)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt")
      .json(out)
    if (parsed.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
      parsed.cache()
    parsed.agg(
      count(lit(1)).as("n_lines"),
      count(col("n_nationkey")).as("n_delivered"),
      count(col("_corrupt")).as("n_quarantined"))
  }

  val jsonBadRecordsOracle: String = """
SELECT count(*) + 2 AS n_lines,
       count(*) AS n_delivered,
       CAST(2 AS BIGINT) AS n_quarantined
FROM nation"""

  // ------------------------------------------------------------ map columns

  /** MapType plumbing (ABSENT in the reference, SURVEY.md §2.8): per nation
    * build a segment→customer-count map with map_from_entries over a
    * grouped collect, then consume it with map typed accessors (size,
    * element_at, sorted keys). The map is INTERNAL plumbing — the output is
    * scalar columns, so the differential hash stays engine-neutral (DuckDB
    * map literals would not hash-compare). Scale shape: maps are
    * per-nation and segment-bounded (≤ 5 entries) — never data-sized;
    * one hash-agg by (nation, segment), one by nation. */
  def mapOps(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d)
      .join(Tables.nation(s, d), col("c_nationkey") === col("n_nationkey"))
      .groupBy("n_name", "c_mktsegment")
      .agg(count(lit(1)).as("cnt"))
      .groupBy("n_name")
      .agg(map_from_entries(sort_array(collect_list(
        struct(col("c_mktsegment"), col("cnt"))))).as("seg_map"))
      .select(col("n_name"),
        size(col("seg_map")).as("n_segments"),
        coalesce(element_at(col("seg_map"), "BUILDING"), lit(0L)).as("n_building"),
        concat_ws(",", map_keys(col("seg_map"))).as("segments"),
        expr("aggregate(map_values(seg_map), 0L, (a, x) -> a + x)").as("n_customers"))
      .orderBy("n_name")

  val mapOpsOracle: String = """
WITH seg AS (
  SELECT n.n_name, c.c_mktsegment, count(*) AS cnt
  FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
  GROUP BY 1, 2)
SELECT n_name,
       CAST(count(*) AS INT) AS n_segments,
       CAST(coalesce(sum(cnt) FILTER (WHERE c_mktsegment = 'BUILDING'), 0) AS BIGINT) AS n_building,
       string_agg(c_mktsegment, ',' ORDER BY c_mktsegment) AS segments,
       CAST(sum(cnt) AS BIGINT) AS n_customers
FROM seg GROUP BY n_name ORDER BY n_name"""

  // ---------------------------------------------------------------- wiring

  // ------------------------------------------------------- recursive CTEs

  /** Hierarchy walk via WITH RECURSIVE (SPARK-24497, shipped in Spark 4) —
    * the org-chart / category-tree / BOM traversal every DWH eventually
    * needs and the one classic OLAP family the engine didn't yet cover.
    * The tree is derived deterministically from the data (parent =
    * c_custkey DIV 10, keys below 10 are roots — keys are contiguous from
    * 0 at every SF, so every parent exists): each node gets its root, its
    * depth, and its materialized root-to-node path. Scale shape: Spark
    * plans the recursion as depth-many iterations (≤ log10 n ≈ 5 levels
    * even at 10^9 customers) of a hash join keyed on the parent — level
    * sizes partition n, so total work is one extra pass over the table
    * per level, never quadratic. */
  /** The recursion row limit is a RUNAWAY-QUERY safety valve, not a
    * result cap — but its default (1M rows) is sized for toy tables: the
    * closure legitimately materializes ~n·log10(n) rows, so at sf10
    * (1.5M customers) a correct query trips it. These
    * recursions are PROVABLY depth-bounded (parent = key DIV 10 strictly
    * shrinks the key, ≤ log10(maxkey) levels), so the valve scales with
    * the input: 16 levels of headroom per row, floored at the default. */
  /** The raised valve lives on a DEDICATED session clone, never on the
    * caller's conf (a `conf.set` on the shared batch session would leak
    * the raised limit to every later recursive query — and a
    * save/restore around the sql() call would be wrong the other way,
    * because the limit is consumed lazily at EXECUTION, after any eager
    * restore had already reverted it). One clone per (session, dataset),
    * memoized like the streaming clones; the clone inherits the builder
    * confs (shuffle partitions, timezone) from the shared SparkConf. */
  private val recMemo = graft.util.SessionCaches.memo[Unit]("extraops.recursion.session")

  private def recursionSession(s: SparkSession, d: String): SparkSession =
    recMemo(s, d) {
      val n = Tables.customer(s, d).count()
      val lim = math.min(Int.MaxValue.toLong, math.max(1000000L, 16L * n))
      val ss = s.newSession()
      ss.conf.set("spark.sql.cteRecursionRowLimit", lim.toString)
      ss
    }

  def recursiveHierarchy(s0: SparkSession, d: String): DataFrame = {
    val s = recursionSession(s0, d)
    Tables.customer(s, d).createOrReplaceTempView("customer")
    s.sql("""
WITH RECURSIVE chain AS (
  SELECT c_custkey, c_custkey AS root_key, CAST(0 AS BIGINT) AS depth,
         CAST(c_custkey AS STRING) AS path
  FROM customer WHERE c_custkey < 10
  UNION ALL
  SELECT c.c_custkey, ch.root_key, ch.depth + 1 AS depth,
         concat(ch.path, '/', CAST(c.c_custkey AS STRING)) AS path
  FROM customer c JOIN chain ch ON c.c_custkey DIV 10 = ch.c_custkey
  WHERE c.c_custkey >= 10)
SELECT c_custkey, root_key, depth, path FROM chain ORDER BY c_custkey""")
  }

  val recursiveHierarchyOracle: String = """
WITH RECURSIVE chain AS (
  SELECT c_custkey, c_custkey AS root_key, CAST(0 AS BIGINT) AS depth,
         CAST(c_custkey AS VARCHAR) AS path
  FROM customer WHERE c_custkey < 10
  UNION ALL
  SELECT c.c_custkey, ch.root_key, ch.depth + 1 AS depth,
         ch.path || '/' || CAST(c.c_custkey AS VARCHAR) AS path
  FROM customer c JOIN chain ch ON c.c_custkey // 10 = ch.c_custkey
  WHERE c.c_custkey >= 10)
SELECT c_custkey, root_key, depth, path FROM chain ORDER BY c_custkey"""

  /** The aggregate over the recursion: ancestor→descendant closure, then a
    * per-ancestor subtree rollup (node count, depth below the ancestor,
    * balance cents) — the BOM-explosion / org-rollup query. The closure
    * materializes Σ depth(v) ≈ n·log10(n) rows; that is the honest cost of
    * closure-based rollups, and for deeper trees the scale path is
    * bottom-up iterative aggregation per level instead (same recursion,
    * aggregated as it unwinds) — at 10-ary branching the closure is ~5×
    * the table, well inside shuffle budget. Integer cents keep the rollup
    * sum exact cross-engine. */
  def recursiveSubtreeRollup(s0: SparkSession, d: String): DataFrame = {
    val s = recursionSession(s0, d)
    Tables.customer(s, d).createOrReplaceTempView("customer")
    s.sql("""
WITH RECURSIVE closure AS (
  SELECT c_custkey AS anc, c_custkey AS node, CAST(0 AS BIGINT) AS lvl
  FROM customer
  UNION ALL
  SELECT cl.anc, c.c_custkey AS node, cl.lvl + 1 AS lvl
  FROM closure cl JOIN customer c ON c.c_custkey DIV 10 = cl.node
  WHERE c.c_custkey >= 10)
SELECT cl.anc AS c_custkey,
       count(*) AS subtree_nodes,
       max(cl.lvl) AS subtree_depth,
       sum(CAST(floor(c.c_acctbal * 100) AS BIGINT)) AS subtree_bal_cents
FROM closure cl JOIN customer c ON c.c_custkey = cl.node
GROUP BY cl.anc ORDER BY c_custkey""")
  }

  val recursiveSubtreeRollupOracle: String = """
WITH RECURSIVE closure AS (
  SELECT c_custkey AS anc, c_custkey AS node, CAST(0 AS BIGINT) AS lvl
  FROM customer
  UNION ALL
  SELECT cl.anc, c.c_custkey AS node, cl.lvl + 1 AS lvl
  FROM closure cl JOIN customer c ON c.c_custkey // 10 = cl.node
  WHERE c.c_custkey >= 10)
SELECT cl.anc AS c_custkey,
       CAST(count(*) AS BIGINT) AS subtree_nodes,
       max(cl.lvl) AS subtree_depth,
       CAST(sum(CAST(floor(c.c_acctbal * 100) AS BIGINT)) AS BIGINT) AS subtree_bal_cents
FROM closure cl JOIN customer c ON c.c_custkey = cl.node
GROUP BY cl.anc ORDER BY c_custkey"""

  /** LATERAL correlated-subquery top-N-per-key — the join-shaped dual of
    * the window-function formulation (`window_rank_per_group` /
    * `topk_per_group_agg`): each nation row invokes a correlated,
    * ORDER-BY-LIMIT subquery over its customers. Spark decorrelates the
    * lateral into a ranked join rather than re-executing the inner query
    * per outer row — the plan to check is that no per-row re-scan
    * survives. This completes the per-group-top-k matrix: window
    * (general), partial-agg (bounded k, map-side), and LATERAL (SQL
    * standard form, correlated-limit decorrelation). */
  def lateralTopk(s: SparkSession, d: String): DataFrame = {
    Tables.nation(s, d).createOrReplaceTempView("nation")
    Tables.customer(s, d).createOrReplaceTempView("customer")
    s.sql(lateralTopkSql)
  }

  private val lateralTopkSql: String = """
SELECT n_name, c.c_name, c.c_acctbal
FROM nation, LATERAL (
  SELECT c_name, c_acctbal FROM customer
  WHERE c_nationkey = n_nationkey
  ORDER BY c_acctbal DESC, c_custkey LIMIT 2) c
ORDER BY n_name, c_acctbal DESC, c_name"""

  val lateralTopkOracle: String = lateralTopkSql

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "lateral_topk"        -> (lateralTopk _),
    "recursive_hierarchy" -> (recursiveHierarchy _),
    "recursive_subtree_rollup" -> (recursiveSubtreeRollup _),
    "schema_evolution"  -> (schemaEvolution _),
    "map_ops"           -> (mapOps _),
    "jsonl_roundtrip"   -> (jsonlRoundtrip _),
    "json_bad_records"  -> (jsonBadRecords _),
    "pii_scrub"         -> (piiScrub _),
    "conditional_agg"   -> (conditionalAgg _),
    "argmax_per_group"  -> (argmaxPerGroup _),
    "histogram_prices"  -> (histogramPrices _),
    "orc_roundtrip"     -> (orcRoundtrip _),
    "lateral_explode"   -> (lateralExplode _),
    "zorder_cluster"    -> (zorderCluster _),
    "random_projection" -> (randomProjection _),
    "quantile_buckets"  -> (quantileBuckets _),
    "time_travel_read"  -> (timeTravelRead _),
    "table_restore"     -> (tableRestore _),
    "table_clone"       -> (tableClone _),
    "table_rename_column" -> (tableRenameColumn _),
    "constrained_write" -> (constrainedWrite _),
    "generated_columns" -> (generatedColumns _),
    "version_diff"      -> (versionDiff _),
    "mv_cdc_refresh"    -> (mvCdcRefresh _),
    "gen_source_scan"   -> (genSourceScan _),
    "compact_small_files" -> (compactSmallFiles _)
  )

  val oracleSql: Map[String, String] = Map(
    "lateral_topk"        -> lateralTopkOracle,
    "recursive_hierarchy" -> recursiveHierarchyOracle,
    "recursive_subtree_rollup" -> recursiveSubtreeRollupOracle,
    "schema_evolution"  -> schemaEvolutionOracle,
    "map_ops"           -> mapOpsOracle,
    "jsonl_roundtrip"   -> jsonlRoundtripOracle,
    "json_bad_records"  -> jsonBadRecordsOracle,
    "pii_scrub"         -> piiScrubOracle,
    "conditional_agg"   -> conditionalAggOracle,
    "argmax_per_group"  -> argmaxPerGroupOracle,
    "histogram_prices"  -> histogramPricesOracle,
    "orc_roundtrip"     -> orcRoundtripOracle,
    "lateral_explode"   -> lateralExplodeOracle,
    "zorder_cluster"    -> zorderClusterOracle,
    "random_projection" -> randomProjectionOracle,
    "quantile_buckets"  -> quantileBucketsOracle,
    "time_travel_read"  -> timeTravelReadOracle,
    "table_restore"     -> tableRestoreOracle,
    "table_clone"       -> tableCloneOracle,
    "table_rename_column" -> tableRenameColumnOracle,
    "constrained_write" -> constrainedWriteOracle,
    "generated_columns" -> generatedColumnsOracle,
    "version_diff"      -> versionDiffOracle,
    "mv_cdc_refresh"    -> mvCdcRefreshOracle,
    "gen_source_scan"   -> genSourceScanOracle,
    "compact_small_files" -> compactSmallFilesOracle
  )
}
