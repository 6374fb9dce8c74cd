package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.functions._

import graft.Tables
import graft.util.SilverArtifact

/** Scale-technique queries: each demonstrates — verifiably — a pattern
  * that keeps a 100 TB deployment off the shuffle floor. The correctness
  * gate proves the technique changes the PLAN, not the ANSWER.
  *
  *  - [[bucketedJoin]] — co-located join: both sides written bucketed on
  *    the join key, so the join runs with zero Exchange (the spec asserts
  *    the plan has no shuffle on the join path). This is THE pattern for
  *    repeated fact⋈fact joins at scale: pay the shuffle once at write
  *    time, never per query.
  *  - [[saltedAgg]] — two-phase aggregation over a skewed low-cardinality
  *    key: salt to `SaltBuckets` sub-keys, partial-agg, then final-agg.
  *    Identical result to the direct groupBy (the oracle proves it); the
  *    first shuffle fans a hot key across `SaltBuckets` reducers instead
  *    of one. (For JOIN skew, AQE's skew-join split handles it at runtime;
  *    this is the aggregation-side equivalent.)
  *  - [[percentiles]] — exact percentiles (Spark `percentile` ≡ DuckDB
  *    `quantile_cont`, both linear interpolation — oracle-checked).
  *  - [[approxDistinct]] / [[approxPercentiles]] — sketch aggregates whose
  *    hashed result is the exact value plus an in-bound boolean (the error
  *    CONTRACT): cross-engine sketch divergence doesn't break the gate,
  *    but an estimator regression does.
  */
object ScaleOps {

  val SaltBuckets = 16

  /** Write lineitem + orders bucketed by the join key, then join the two
    * bucketed tables — no Exchange in the join (bucket-aware scan). A
    * bucket spec needs saveAsTable, so the copies are catalog entries,
    * each stamped with its path under the silver root and both sources'
    * fingerprints: a source rewritten in place, or a root moved since the
    * entry was written, re-buckets the pair. */
  def bucketedJoin(s: SparkSession, d: String): DataFrame = {
    val safe = graft.util.PathKeys.safe(d)
    val base = SilverArtifact.pathFor(d, "buckets")
    val lt = s"graft_li_$safe"
    val ot = s"graft_ord_$safe"
    val stamp = (base +: Seq("lineitem", "orders").map(t =>
      SilverArtifact.sourceFingerprint(s"$d/$t.parquet", "bucketed-v1"))).mkString("|")
    def fresh(t: String): Boolean = s.catalog.tableExists(t) &&
      s.sessionState.catalog.getTableMetadata(TableIdentifier(t))
        .storage.properties.get(BucketStamp).contains(stamp)
    // stale if EITHER is: a failure between the two writes must not wedge
    // the session with a half-written pair
    if (!fresh(lt) || !fresh(ot)) {
      Tables.lineitem(s, d).write
        .bucketBy(16, "l_orderkey").sortBy("l_orderkey").option(BucketStamp, stamp)
        .option("path", s"$base/lineitem").mode("overwrite").saveAsTable(lt)
      Tables.orders(s, d).write
        .bucketBy(16, "o_orderkey").sortBy("o_orderkey").option(BucketStamp, stamp)
        .option("path", s"$base/orders").mode("overwrite").saveAsTable(ot)
    }
    s.table(lt).join(s.table(ot), col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_lines"),
        sum(round(col("l_extendedprice") * 100).cast("long")).as("revenue_cents"))
      .orderBy("o_orderpriority")
  }

  private val BucketStamp = "graft.bucket.stamp"

  val bucketedJoinOracle: String = """
SELECT o_orderpriority, count(*) AS n_lines,
       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS revenue_cents
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderpriority ORDER BY o_orderpriority"""

  /** The bucketed join's plan, for the no-Exchange assertion in tests. */
  def bucketedJoinPlan(s: SparkSession, d: String): String =
    bucketedJoin(s, d).queryExecution.executedPlan.toString

  /** Two-phase salted aggregation: sum/count decompose over the salt, so
    * phase-2 just re-aggregates the partials. Salt derives from a
    * uniformly-distributed existing column (not rand(), keeping the query
    * deterministic). */
  def saltedAgg(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .withColumn("salt", pmod(col("o_orderkey"), lit(SaltBuckets)))
      .groupBy("o_orderpriority", "salt")
      .agg(count(lit(1)).as("pn"),
        sum(round(col("o_totalprice") * 100).cast("long")).as("ps"))
      .groupBy("o_orderpriority")
      .agg(sum("pn").as("n_orders"), sum("ps").as("total_cents"))
      .orderBy("o_orderpriority")

  val saltedAggOracle: String = """
SELECT o_orderpriority, count(*) AS n_orders,
       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total_cents
FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority"""

  /** Exact per-key COUNT(DISTINCT) via VALUE-hash salting — the skew-safe
    * shape for holistic aggregation: salting by a hash of the VALUE keeps
    * every occurrence of one value in one salt bucket, so per-(key, salt)
    * distinct counts are disjoint and their plain sum is the exact global
    * distinct count. Where this wins at scale: the final per-key shuffle
    * carries `SaltBuckets` partial counts per key instead of one row per
    * distinct value — a hot key with 10^8 distinct values sends 16 rows to
    * its reducer, not 10^8. Generalizable to any holistic agg
    * (collect_set, percentile merge); ScaleOpsSpec proves the load spread
    * on a 50%-hot-key corpus. */
  def saltedDistinct(s: SparkSession, d: String): DataFrame =
    saltedDistinctOn(Tables.orders(s, d), "o_orderpriority", "o_custkey")
      .orderBy("o_orderpriority")

  /** The reusable two-phase core, parameterized so the spec can run it on
    * a synthetically skewed corpus. Output: (key, n_distinct, n_rows). */
  def saltedDistinctOn(df: DataFrame, key: String, value: String): DataFrame =
    df
      .withColumn("salt", pmod(xxhash64(col(value)), lit(SaltBuckets)))
      .groupBy(col(key), col("salt"))
      .agg(countDistinct(col(value)).as("pd"), count(lit(1)).as("pn"))
      .groupBy(col(key))
      .agg(sum("pd").as("n_distinct"), sum("pn").as("n_rows"))

  val saltedDistinctOracle: String = """
SELECT o_orderpriority, count(DISTINCT o_custkey) AS n_distinct,
       count(*) AS n_rows
FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority"""

  /** SALTED SHUFFLE JOIN — the join-side twin of [[saltedDistinct]], for
    * the regime where the build side is too big to broadcast AND the probe
    * side has hot keys: a plain shuffle join sends every row of a hot key
    * to ONE reducer. Salting gives each probe row a row-derived salt (NOT
    * a function of the join key — a key-derived salt would land a hot key
    * in one bucket again) and replicates each build row to all
    * `SaltBuckets` salts, so the join key's hot partition fans out B ways.
    * Cost: B× the (smaller) build side through the shuffle — the classic
    * replicate-vs-skew trade. AQE's skew-join split is the automatic
    * runtime version; this is the explicit, planner-independent form.
    * The oracle proves answer-equality with the unsalted join;
    * ScaleOpsSpec proves the reducer load spread on a hot-key corpus. */
  def saltedJoinOn(fact: DataFrame, dim: DataFrame, fk: String, dk: String,
    rowSalt: org.apache.spark.sql.Column): DataFrame = {
    val salts = array((0 until SaltBuckets).map(i => lit(i.toLong)): _*)
    val rep = dim.withColumn("dsalt", explode(salts))
    fact.withColumn("fsalt", pmod(rowSalt, lit(SaltBuckets.toLong)))
      // shuffle_hash hint: without it this dim would auto-broadcast (and
      // need no salt at all) — the query pins the non-broadcast regime the
      // technique exists for
      .join(rep.hint("shuffle_hash"),
        col(fk) === col(dk) && col("fsalt") === col("dsalt"))
  }

  /** Revenue per supplier nation through the salted join: lineitem (fact,
    * salted per row) ⋈ supplier⋈nation (build side, replicated ×B). */
  def saltedJoin(s: SparkSession, d: String): DataFrame = {
    val dim = Tables.supplier(s, d)
      .join(Tables.nation(s, d), col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name"))
    saltedJoinOn(Tables.lineitem(s, d), dim, "l_suppkey", "s_suppkey",
      xxhash64(col("l_orderkey"), col("l_linenumber")))
      .groupBy(col("n_name").as("nation"))
      .agg(count(lit(1)).as("n_lines"),
        sum(round(col("l_extendedprice") * 100).cast("long")).as("revenue_cents"))
      .orderBy("nation")
  }

  val saltedJoinOracle: String = """
SELECT n_name AS nation, count(*) AS n_lines,
       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS revenue_cents
FROM lineitem
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
GROUP BY n_name ORDER BY nation"""

  /** RUNTIME BLOOM-FILTER JOIN PRUNING — drop fact rows that cannot match
    * the (filtered) build side BEFORE the join's shuffle. The build side's
    * key SET compresses into a few hundred KB of bloom even when its rows
    * don't fit a broadcast join, so a selective dimension filter turns into
    * a pre-shuffle fact filter: at 100 TB the scan emits ~sel% of the fact
    * into the exchange instead of all of it. False positives pass the bloom
    * and are removed by the exact join that follows — the answer is
    * provably identical (the oracle checks it); false negatives cannot
    * happen. This is the explicit form of Spark's own runtime filter
    * (`spark.sql.optimizer.runtime.bloomFilter.enabled`), useful when the
    * planner can't see the opportunity (cross-pipeline reuse, a persisted
    * bloom shared across jobs, pruning before an expensive per-row op). */
  def bloomPrune(s: SparkSession, fact: DataFrame, factKey: String,
    build: DataFrame, buildKey: String, expectedKeys: Long = 100000L): DataFrame = {
    // one aggregate pass over the build side; the sketch merges per
    // partition (bitwise OR) and only the final ~KB bitset reaches the driver
    val bf = build.stat.bloomFilter(buildKey, expectedKeys, 0.01)
    val bfB = s.sparkContext.broadcast(bf)
    val mightContain = udf((k: Long) => bfB.value.mightContain(k))
    fact.filter(mightContain(col(factKey)))
  }

  /** Urgent-order revenue by return flag through the bloom-pruned join:
    * lineitem is pruned by the bloom of urgent order keys (~20% selectivity
    * + 1% fp) before the shuffle join that finalizes exactness. */
  def bloomPruneJoin(s: SparkSession, d: String): DataFrame = {
    val urgent = Tables.orders(s, d)
      .filter(col("o_orderpriority") === "1-URGENT")
      .select("o_orderkey")
    val pruned = bloomPrune(s, Tables.lineitem(s, d), "l_orderkey", urgent, "o_orderkey")
    // shuffle_hash hint pins the non-broadcast regime the technique exists
    // for (a broadcastable build side would never need the bloom)
    pruned.join(urgent.hint("shuffle_hash"), col("l_orderkey") === col("o_orderkey"))
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n_lines"),
        sum(round(col("l_extendedprice") * 100).cast("long")).as("revenue_cents"))
      .orderBy("l_returnflag")
  }

  val bloomPruneJoinOracle: String = """
SELECT l_returnflag, count(*) AS n_lines,
       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS revenue_cents
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE o_orderpriority = '1-URGENT'
GROUP BY l_returnflag ORDER BY l_returnflag"""

  /** Exact percentiles per group (single-pass sort-based; for true 100 TB
    * percentiles switch to approx_percentile's GK sketch —
    * [[approxPercentiles]], which carries its error contract in-band). */
  def percentiles(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .groupBy("o_orderstatus")
      .agg(
        round(expr("percentile(o_totalprice, 0.5)"), 4).as("p50"),
        round(expr("percentile(o_totalprice, 0.9)"), 4).as("p90"),
        count(lit(1)).as("n"))
      .orderBy("o_orderstatus")

  val percentilesOracle: String = """
SELECT o_orderstatus,
       round(quantile_cont(o_totalprice, 0.5), 4) AS p50,
       round(quantile_cont(o_totalprice, 0.9), 4) AS p90,
       count(*) AS n
FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus"""

  /** DISCRETE percentiles — the actual data element at rank ⌈p·n⌉, never
    * an interpolated value that exists in no row (the form an SLA
    * contract quotes: "p99 latency" must be a latency that HAPPENED).
    * Built from explicit ranks rather than each engine's quantile_disc —
    * tie-break and rounding conventions differ across engines, but
    * row_number over a total (value, key) order is identical everywhere,
    * which is what lets a DISC percentile hash-gate where the built-ins
    * would flake. One exchange on the group key; the conditional-min
    * extraction aggregates map-side. */
  def percentilesDisc(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("o_orderstatus")
      .orderBy(col("o_totalprice"), col("o_orderkey"))
    val counts = Tables.orders(s, d)
      .groupBy("o_orderstatus").agg(count(lit(1)).as("n"))
    Tables.orders(s, d)
      .select(col("o_orderstatus"), col("o_totalprice"), col("o_orderkey"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .join(broadcast(counts), "o_orderstatus")
      .groupBy("o_orderstatus", "n")
      .agg(
        min(when(col("rn") === expr("(n + 1) DIV 2"), col("o_totalprice"))).as("p50_disc"),
        min(when(col("rn") === expr("(9 * n + 9) DIV 10"), col("o_totalprice"))).as("p90_disc"))
      .select("o_orderstatus", "n", "p50_disc", "p90_disc")
      .orderBy("o_orderstatus")
  }

  val percentilesDiscOracle: String = """
WITH r AS (
  SELECT o_orderstatus, o_totalprice,
         CAST(row_number() OVER (PARTITION BY o_orderstatus
           ORDER BY o_totalprice, o_orderkey) AS BIGINT) AS rn,
         count(*) OVER (PARTITION BY o_orderstatus) AS n
  FROM orders)
SELECT o_orderstatus, n,
       min(CASE WHEN rn = (n + 1) // 2 THEN o_totalprice END) AS p50_disc,
       min(CASE WHEN rn = (9 * n + 9) // 10 THEN o_totalprice END) AS p90_disc
FROM r GROUP BY o_orderstatus, n ORDER BY o_orderstatus"""

  /** GK-sketch approximate percentiles — single-pass, mergeable, the
    * 100 TB replacement for the exact sort-based percentile. Sketch
    * estimates differ across engines by design, so the HASHED result is
    * the approximation's ERROR CONTRACT, not the estimate: each group
    * emits the exact percentiles plus booleans asserting the GK estimate
    * falls inside the exact ±0.02-quantile band (the sketch guarantees
    * rank error ≤ n/accuracy = 0.001·n, 20× tighter). DuckDB computes the
    * exact side and the contract booleans are literally `true` there — a
    * sketch regression flips Spark's boolean and fails the hash gate. */
  def approxPercentiles(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .groupBy("o_orderstatus")
      .agg(
        round(expr("percentile(o_totalprice, 0.5)"), 4).as("p50"),
        round(expr("percentile(o_totalprice, 0.9)"), 4).as("p90"),
        count(lit(1)).as("n"),
        expr("approx_percentile(o_totalprice, 0.5, 1000)").as("a50"),
        expr("approx_percentile(o_totalprice, 0.9, 1000)").as("a90"),
        expr("percentile(o_totalprice, 0.48)").as("lo50"),
        expr("percentile(o_totalprice, 0.52)").as("hi50"),
        expr("percentile(o_totalprice, 0.88)").as("lo90"),
        expr("percentile(o_totalprice, 0.92)").as("hi90"))
      .select(col("o_orderstatus"), col("p50"), col("p90"), col("n"),
        (col("a50") >= col("lo50") && col("a50") <= col("hi50")).as("p50_within_eps"),
        (col("a90") >= col("lo90") && col("a90") <= col("hi90")).as("p90_within_eps"))
      .orderBy("o_orderstatus")

  val approxPercentilesOracle: String = """
SELECT o_orderstatus,
       round(quantile_cont(o_totalprice, 0.5), 4) AS p50,
       round(quantile_cont(o_totalprice, 0.9), 4) AS p90,
       count(*) AS n,
       true AS p50_within_eps,
       true AS p90_within_eps
FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus"""

  /** HLL++ approximate distinct — sketch mergeable across partitions, the
    * only sane COUNT(DISTINCT) at 100 TB. Same error-contract shape as
    * [[approxPercentiles]]: the hashed result is the exact count plus a
    * boolean asserting |HLL − exact| ≤ max(1, exact/10) (rsd 0.02 keeps
    * the real error ~5× tighter); DuckDB emits the exact side with a
    * literal `true`, so an estimator regression fails the hash gate. */
  def approxDistinct(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .groupBy("o_orderpriority")
      .agg(
        approx_count_distinct("o_custkey", 0.02).as("approx"),
        countDistinct(col("o_custkey")).as("exact_customers"),
        count(lit(1)).as("n_orders"))
      .select(col("o_orderpriority"), col("exact_customers"), col("n_orders"),
        (abs(col("approx") - col("exact_customers")) <=
          greatest(lit(1L), expr("exact_customers div 10"))).as("within_10pct"))
      .orderBy("o_orderpriority")

  val approxDistinctOracle: String = """
SELECT o_orderpriority,
       count(DISTINCT o_custkey) AS exact_customers,
       count(*) AS n_orders,
       true AS within_10pct
FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority"""

  /** Mergeable-sketch rollup — THE 100 TB distinct-count architecture: a
    * DataSketches HLL sketch is built per fine-grained cell
    * ((priority, status) here; per partition/day in production), then the
    * COARSE counts come from `hll_union_agg` over the stored sketches —
    * no second pass over raw data, ever. The exact re-count per priority
    * exists here only to drive the same in-band error contract as
    * [[approxDistinct]] (DuckDB computes the exact side, literal true).
    * At scale the cell sketches are persisted; any rollup (day→month→year,
    * status→priority→global) is a sketch union, which is associative,
    * commutative, and idempotent — re-processing a cell twice cannot
    * double-count. */
  def sketchUnionDistinct(s: SparkSession, d: String): DataFrame = {
    val cells = Tables.orders(s, d)
      .groupBy("o_orderpriority", "o_orderstatus")
      .agg(expr("hll_sketch_agg(o_custkey, 14)").as("sk"))
    val rolled = cells.groupBy("o_orderpriority")
      .agg(expr("hll_sketch_estimate(hll_union_agg(sk))").as("approx"))
    val exact = Tables.orders(s, d).groupBy("o_orderpriority")
      .agg(countDistinct(col("o_custkey")).as("exact_customers"))
    rolled.join(exact, "o_orderpriority")
      .select(col("o_orderpriority"), col("exact_customers"),
        (abs(col("approx") - col("exact_customers")) <=
          greatest(lit(1L), expr("exact_customers div 10"))).as("within_10pct"))
      .orderBy("o_orderpriority")
  }

  val sketchUnionDistinctOracle: String = """
SELECT o_orderpriority,
       count(DISTINCT o_custkey) AS exact_customers,
       true AS within_10pct
FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority"""

  /** Consistent-hashing shard assignment with a REBALANCE AUDIT — the
    * operational cost that decides how a 100 TB store grows: naive
    * `hash MOD n` reassigns ~(n−1)/n of ALL keys when a shard is added
    * (a full-cluster rewrite), while a hash ring with virtual nodes moves
    * only ~1/(n+1) (just the slice the new shard captures). This query
    * assigns every document under both schemes at n=16 and n=17 and
    * counts movement, plus the ≥8× improvement claim as a hashed boolean.
    * Mechanics: 32 virtual points per shard on a 2^60 ring, each point
    * tagged with its shard in the low 5 bits (so the winning shard is
    * recoverable as `point % 32` — no tie-break join); a document goes to
    * the clockwise-nearest point. The ring is 544 CONSTANTS (kilobytes,
    * like the IVF centroid table) folded into the plan as a literal
    * array, so assignment is one codegen'd lambda per row — no join, no
    * shuffle, and the cross-engine gate is exact integer arithmetic. */
  def shardRebalance(s: SparkSession, d: String): DataFrame = {
    val MOD = 1L << 60
    def u60(str: String): Long = java.lang.Long.parseLong(
      java.security.MessageDigest.getInstance("MD5")
        .digest(str.getBytes("UTF-8")).take(8).map(b => f"$b%02x").mkString.take(15), 16)
    def ring(n: Int): Seq[Long] =
      for { sh <- 0 until n; v <- 0 until 32 }
        yield (u60(s"ring:$sh:$v") / 32) * 32 + sh
    def asg(ringPts: Seq[Long]): org.apache.spark.sql.Column = {
      val arr = array(ringPts.map(lit): _*)
      val dmin = array_min(transform(arr, p => (p - col("h") + lit(MOD)) % lit(MOD)))
      ((col("h") + dmin) % lit(MOD)) % lit(32L)
    }
    Tables.documents(s, d)
      .select(conv(substring(md5(concat(lit("shard:"), col("doc_id").cast("string"))), 1, 15), 16, 10)
        .cast("long").as("h"))
      .select(col("h"), asg(ring(16)).as("a16"), asg(ring(17)).as("a17"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("a16") =!= col("a17"), 1L).otherwise(0L)).as("moved_ring"),
        sum(when(col("h") % 16 =!= col("h") % 17, 1L).otherwise(0L)).as("moved_naive"))
      .withColumn("ring_wins_8x", col("moved_ring") * 8 <= col("moved_naive"))
  }

  val shardRebalanceOracle: String = """
WITH shv AS (
  SELECT n.n AS n, s.sh AS sh, v.v AS v
  FROM (VALUES (16), (17)) n(n),
       (SELECT unnest(range(17)) AS sh) s,
       (SELECT unnest(range(32)) AS v) v
  WHERE s.sh < n.n),
ringpts AS (
  SELECT n, (u60 // 32) * 32 + sh AS rp FROM (
    SELECT n, sh,
      CAST(list_sum(list_transform(generate_series(1, 15),
        j -> CAST((strpos('0123456789abcdef',
               substr(md5('ring:' || sh || ':' || v), j, 1)) - 1) AS BIGINT)
             * CAST(power(16, 15 - j) AS BIGINT))) AS BIGINT) AS u60
    FROM shv)),
rings AS (
  SELECT list(rp) FILTER (WHERE n = 16) AS r16,
         list(rp) FILTER (WHERE n = 17) AS r17
  FROM ringpts),
docs AS (
  SELECT CAST(list_sum(list_transform(generate_series(1, 15),
           j -> CAST((strpos('0123456789abcdef',
                  substr(md5('shard:' || CAST(doc_id AS VARCHAR)), j, 1)) - 1) AS BIGINT)
                * CAST(power(16, 15 - j) AS BIGINT))) AS BIGINT) AS h
  FROM documents),
asg AS (
  SELECT h,
    ((h + list_min(list_transform(r16,
        p -> (p - h + 1152921504606846976) % 1152921504606846976)))
      % 1152921504606846976) % 32 AS a16,
    ((h + list_min(list_transform(r17,
        p -> (p - h + 1152921504606846976) % 1152921504606846976)))
      % 1152921504606846976) % 32 AS a17
  FROM docs, rings)
SELECT CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN a16 <> a17 THEN 1 ELSE 0 END) AS BIGINT) AS moved_ring,
       CAST(sum(CASE WHEN h % 16 <> h % 17 THEN 1 ELSE 0 END) AS BIGINT) AS moved_naive,
       sum(CASE WHEN a16 <> a17 THEN 1 ELSE 0 END) * 8 <=
         sum(CASE WHEN h % 16 <> h % 17 THEN 1 ELSE 0 END) AS ring_wins_8x
FROM asg"""

  /** Sketch-composed set INTERSECTION estimate by inclusion–exclusion:
    * |A∩B| ≈ est(A) + est(B) − est(A∪B), all three read off HLL sketches
    * (union is the sketch-native operation; intersection is not, and this
    * identity is the standard workaround). The 100 TB use: estimate the
    * overlap between two corpus slices (customers with both open and
    * fulfilled orders here; in a training pipeline, documents shared by
    * two crawls) from kilobyte sketches with NO exact join of the raw
    * sets. Inclusion–exclusion amplifies the sketches' relative error —
    * the error contract is on the INTERSECTION, the hard case, not the
    * unions. One pass builds both sketches (conditional agg); the exact
    * audit side is one groupBy the oracle restates. */
  def sketchIntersection(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
    val est = o.agg(
        expr("hll_sketch_agg(CASE WHEN o_orderstatus = 'O' THEN o_custkey END, 14)").as("ska"),
        expr("hll_sketch_agg(CASE WHEN o_orderstatus = 'F' THEN o_custkey END, 14)").as("skb"))
      .select(
        expr("hll_sketch_estimate(ska)").as("ea"),
        expr("hll_sketch_estimate(skb)").as("eb"),
        expr("hll_sketch_estimate(hll_union(ska, skb))").as("eu"))
      .select((col("ea") + col("eb") - col("eu")).as("approx_both"))
    val exact = o.groupBy("o_custkey").agg(
        max(when(col("o_orderstatus") === "O", 1).otherwise(0)).as("ha"),
        max(when(col("o_orderstatus") === "F", 1).otherwise(0)).as("hb"))
      .agg(sum(when(col("ha") === 1, 1L).otherwise(0L)).as("exact_a"),
        sum(when(col("hb") === 1, 1L).otherwise(0L)).as("exact_b"),
        sum(when(col("ha") === 1 && col("hb") === 1, 1L).otherwise(0L)).as("exact_both"))
    exact.crossJoin(est)
      .select(col("exact_a"), col("exact_b"), col("exact_both"),
        (abs(col("approx_both") - col("exact_both")) <=
          greatest(lit(2L), expr("exact_both div 10"))).as("within_10pct"))
  }

  val sketchIntersectionOracle: String = """
WITH flags AS (
  SELECT o_custkey,
         max(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS ha,
         max(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS hb
  FROM orders GROUP BY o_custkey)
SELECT CAST(sum(ha) AS BIGINT) AS exact_a,
       CAST(sum(hb) AS BIGINT) AS exact_b,
       CAST(sum(CASE WHEN ha = 1 AND hb = 1 THEN 1 ELSE 0 END) AS BIGINT) AS exact_both,
       true AS within_10pct
FROM flags"""

  /** Incremental aggregate maintenance — the algebraic-merge law behind
    * every streaming aggregation and materialized-view refresh: a stored
    * per-key state (count, cents) over events BEFORE the cutoff is merged
    * with the same shape computed over only the NEW batch, by summing —
    * never touching old raw data. The oracle states the full recompute
    * over everything, so the hash gate IS the proof that merge(state,
    * delta) ≡ recompute. At 100 TB the state is table-sized, the delta is
    * day-sized; this query is the difference between reading a day and
    * reading history. */
  def incrementalAgg(s: SparkSession, d: String): DataFrame =
    incrementalAggFrom(Tables.events(s, d), "2024-06-01")

  /** Core of [[incrementalAgg]] over any events frame — parameterized so
    * the spec can plant NULL timestamps and prove the partition is total. */
  def incrementalAggFrom(events: DataFrame, cutoff: String): DataFrame = {
    def shape(df: DataFrame): DataFrame = df
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(expr("CAST(floor(value * 100) AS BIGINT)")).as("cents"))
    // NULL ts must be routed, not dropped: `ts < cutoff` and `ts >= cutoff`
    // are BOTH false for NULL, which would silently lose those rows from
    // state and delta while the full-recompute oracle still counts them —
    // breaking the merge ≡ recompute identity the day a null timestamp
    // appears. Nulls belong to the state side (they are by definition not
    // "new since the cutoff"), making the partition total over the domain.
    val state = shape(events.filter(col("ts") < lit(cutoff) || col("ts").isNull))
    val delta = shape(events.filter(col("ts") >= lit(cutoff)))
    state.unionByName(delta)
      .groupBy("event_type")
      .agg(sum("n").as("n"), sum("cents").as("cents"))
      .orderBy("event_type")
  }

  val incrementalAggOracle: String = """
SELECT event_type, count(*) AS n,
       CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS cents
FROM events GROUP BY event_type ORDER BY event_type"""

  // ------------------------------------------- pre-aggregation through join

  /** Manual partial-aggregation pushdown through a join — the rewrite
    * Catalyst does NOT do automatically: revenue per nation computed by
    * first collapsing lineitem to one row per order (6:1 here, often
    * 100:1 in clickstream fact tables) BEFORE joining orders and the
    * nation dim. The join input shrinks by the collapse factor, the final
    * aggregate is over pre-summed cents, and the answer is provably
    * unchanged — the oracle states the naive join-then-aggregate form, so
    * the differential gate IS the equivalence proof. At 100 TB this is the
    * difference between shuffling the fact table and shuffling one row
    * per order key. */
  def preaggJoin(s: SparkSession, d: String): DataFrame = {
    val perOrder = Tables.lineitem(s, d)
      .groupBy("l_orderkey")
      .agg(sum(expr("CAST(floor(l_extendedprice * 100) AS BIGINT)")).as("order_cents"),
        count(lit(1)).as("n_lines"))
    perOrder
      .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
      .join(Tables.nation(s, d), col("c_nationkey") === col("n_nationkey"))
      .groupBy("n_name")
      .agg(sum("order_cents").as("revenue_cents"),
        sum("n_lines").as("n_lines"),
        count(lit(1)).as("n_orders"))
      .orderBy("n_name")
  }

  /** The AUTOMATIC twin of [[preaggJoin]]: the query is written in the
    * naive join-then-aggregate form, and
    * [[graft.plans.PushAggThroughUniqueJoin]] performs the partial-
    * aggregation pushdown because the dim side is an Aggregate grouped
    * exactly on the join key (the static n:1 uniqueness proof the rule
    * requires). The oracle states the same naive form, so the
    * differential gate is the rewrite's equivalence proof;
    * PushAggRuleSpec asserts the rewritten shape (an Aggregate BELOW
    * the join) and rule-off/rule-on result equality. */
  def autoPreaggJoin(s: SparkSession, d: String): DataFrame = {
    graft.plans.PushAggThroughUniqueJoin.ensure(s)
    val dim = Tables.orders(s, d).groupBy("o_orderkey")
      .agg(max("o_custkey").as("custkey"))
    Tables.lineitem(s, d)
      .select(col("l_orderkey"),
        expr("CAST(floor(l_extendedprice * 100) AS BIGINT)").as("cents"))
      .join(dim, col("l_orderkey") === col("o_orderkey"))
      .groupBy("custkey")
      .agg(sum("cents").as("revenue_cents"), count(lit(1)).as("n_lines"),
        max("cents").as("max_line_cents"))
      .orderBy("custkey")
  }

  val autoPreaggJoinOracle: String = """
WITH dim AS (SELECT o_orderkey, max(o_custkey) AS custkey FROM orders GROUP BY 1)
SELECT custkey,
       CAST(sum(CAST(floor(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS revenue_cents,
       count(*) AS n_lines,
       CAST(max(CAST(floor(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS max_line_cents
FROM lineitem JOIN dim ON l_orderkey = o_orderkey
GROUP BY 1 ORDER BY 1"""

  /** The MULTI-KEY naive form: the dim is unique on the
    * composite (partkey, suppkey) offering key — an Aggregate grouped on
    * exactly those attributes — and the fact joins on BOTH key pairs
    * (`And(EqualTo, EqualTo)`), so the widened
    * [[graft.plans.PushAggThroughUniqueJoin]] must prove uniqueness from
    * the conjunction, not a single EqualTo. The aggregate list also
    * carries an AVG, exercising the sum+count partial split (merged as
    * Σsum/Σcount — exact here because quantities are integral, so both
    * engines' double sums are order-independent-exact). The oracle
    * states the same naive join-then-aggregate form; PushAggRuleSpec
    * asserts the rewritten shape. */
  def autoPreaggMultikey(s: SparkSession, d: String): DataFrame = {
    graft.plans.PushAggThroughUniqueJoin.ensure(s)
    val dim = Tables.lineitem(s, d)
      .select(col("l_partkey").as("pk"), col("l_suppkey").as("sk2"),
        col("l_quantity").as("q2"))
      .groupBy("pk", "sk2")
      .agg(floor(max("q2") / 10).cast("long").as("qty_band"))
    Tables.lineitem(s, d)
      .select(col("l_partkey"), col("l_suppkey"),
        expr("CAST(floor(l_extendedprice * 100) AS BIGINT)").as("cents"),
        col("l_quantity").cast("long").as("qty"))
      .join(dim, col("l_partkey") === col("pk") && col("l_suppkey") === col("sk2"))
      .groupBy("qty_band")
      .agg(sum("cents").as("revenue_cents"), count(lit(1)).as("n_lines"),
        avg("qty").as("avg_qty"))
      .orderBy("qty_band")
  }

  val autoPreaggMultikeyOracle: String = """
WITH dim AS (
  SELECT l_partkey AS pk, l_suppkey AS sk2,
         CAST(floor(max(l_quantity) / 10) AS BIGINT) AS qty_band
  FROM lineitem GROUP BY 1, 2)
SELECT qty_band,
       CAST(sum(CAST(floor(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS revenue_cents,
       count(*) AS n_lines,
       avg(CAST(l_quantity AS BIGINT)) AS avg_qty
FROM lineitem l JOIN dim ON l.l_partkey = dim.pk AND l.l_suppkey = dim.sk2
GROUP BY 1 ORDER BY 1"""

  val preaggJoinOracle: String = """
SELECT n.n_name,
       CAST(sum(CAST(floor(l.l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS revenue_cents,
       count(*) AS n_lines,
       count(DISTINCT o.o_orderkey) AS n_orders
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
GROUP BY n.n_name ORDER BY n.n_name"""

  /** AQE SKEW-JOIN — the AUTOMATIC runtime twin of [[saltedJoin]], and
    * the path a 100 TB job leans on FIRST: when a
    * shuffle join's runtime partition stats show one reducer partition
    * far above the median, AQE's OptimizeSkewedJoin splits it into
    * sub-partitions (replicating the matching build rows) with no query
    * rewrite at all. This query manufactures the regime on purpose:
    *
    *  - a PLANTED hot key: ~80% of lineitem rows map to hot_key 0, the
    *    rest spread over 1..49 — a Zipf-shaped fact;
    *  - a non-broadcastable build side: broadcast is disabled on the
    *    cloned session (below), forcing the sort-merge join AQE's skew
    *    rule targets;
    *  - thresholds sized so the hot partition qualifies at test scale
    *    (skewedPartitionThresholdInBytes=64k vs the 256 MB production
    *    default — the RATIO logic is identical, only the floor moves).
    *
    * The answer is planner-independent (the oracle proves it); the
    * SPLIT is asserted by AqeSkewSpec on the post-execution adaptive
    * plan (SortMergeJoinExec.isSkewJoin) — so this row certifies both
    * "the results are right" and "the runtime actually defused the
    * skew". Manual salting ([[saltedJoin]]) remains for the cases AQE
    * can't touch: aggregation skew and joins the planner never sees. */
  private val aqeSessions =
    scala.collection.concurrent.TrieMap[SparkSession, SparkSession]()

  /** Memoized session clone with the AQE skew-join regime pinned. */
  def aqeSession(s: SparkSession): SparkSession =
    aqeSessions.getOrElseUpdate(s, {
      val ss = s.newSession()
      ss.conf.set("spark.sql.adaptive.enabled", "true")
      ss.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
      // default factor 5.0 / threshold 256m assume production partitions;
      // scale the FLOOR down so the planted 80%-hot partition qualifies
      // at sf0.001+ while the ratio test stays the production logic
      ss.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2.0")
      ss.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64k")
      ss.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16k")
      // disable broadcast: the skew rule rewrites shuffle joins only
      ss.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      ss
    })

  def aqeSkewJoin(s: SparkSession, d: String): DataFrame = {
    val ss = aqeSession(s)
    // fanout matters beyond its usual scan-parallelism role here: the
    // skew rule splits a hot REDUCER partition by ranges of MAP outputs,
    // so a single-file scan (ONE mapper at test scale) leaves nothing to
    // subdivide and the rule correctly declines. At 100 TB the fact
    // arrives as thousands of splits and the repartition disappears.
    val fact = Tables.fanout(ss, Tables.lineitem(ss, d))
      .withColumn("hot_key",
        when(pmod(col("l_orderkey"), lit(10L)) < 8, lit(0L))
          .otherwise(pmod(col("l_orderkey"), lit(49L)) + 1L))
    val dim = ss.range(0L, 50L)
      .withColumn("grp", concat(lit("grp-"), pmod(col("id"), lit(7L))))
    fact.join(dim, col("hot_key") === col("id"))
      .groupBy("grp")
      .agg(count(lit(1)).as("n_lines"),
        sum(floor(col("l_extendedprice") * 100).cast("long")).as("revenue_cents"))
      .orderBy("grp")
  }

  val aqeSkewJoinOracle: String = """
WITH fact AS (
  SELECT CASE WHEN l_orderkey % 10 < 8 THEN 0
              ELSE l_orderkey % 49 + 1 END AS hot_key,
         l_extendedprice
  FROM lineitem),
dim AS (
  SELECT r.range AS id, 'grp-' || CAST(r.range % 7 AS VARCHAR) AS grp
  FROM range(0, 50) r)
SELECT grp, count(*) AS n_lines,
       CAST(sum(CAST(floor(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS revenue_cents
FROM fact JOIN dim ON hot_key = id
GROUP BY grp ORDER BY grp"""

  /** AUTOMATIC runtime bloom-filter join pruning — the planner-native
    * twin of [[bloomPrune]] (the same manual/automatic symmetry as
    * [[saltedJoin]] vs [[aqeSkewJoin]]): when a join's creation side
    * carries a selective predicate, Spark's InjectRuntimeFilter rewrites
    * the APPLICATION side to `might_contain(bloom_agg(keys), key)` —
    * the fact scan drops non-matching rows BEFORE its shuffle with no
    * query rewrite at all. The production thresholds assume a 10 GB+
    * application scan; the clone scales that floor to test size (the
    * injection logic itself is unchanged). The answer is planner-
    * independent (oracle); the injected filter is asserted by a plan
    * spec. */
  private val bloomSessions =
    scala.collection.concurrent.TrieMap[SparkSession, SparkSession]()

  /** Memoized clone with the runtime-bloom-filter regime pinned. */
  def bloomSession(s: SparkSession): SparkSession =
    bloomSessions.getOrElseUpdate(s, {
      val ss = s.newSession()
      ss.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      // production default 10GB — the injection is only worth it when the
      // application side is huge; lower the floor so test scans qualify
      ss.conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
      // the rule targets shuffle joins (a broadcast join already prunes
      // via its build side) — pin the non-broadcast regime
      ss.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      ss
    })

  def runtimeBloomJoin(s: SparkSession, d: String): DataFrame = {
    val ss = bloomSession(s)
    val dim = Tables.part(ss, d)
      .filter(col("p_size") === 1)               // selective creation side
      .select("p_partkey")
    Tables.lineitem(ss, d)
      .join(dim, col("l_partkey") === col("p_partkey"))
      .agg(count(lit(1)).as("n_lines"),
        sum(floor(col("l_extendedprice") * 100).cast("long")).as("revenue_cents"),
        countDistinct(col("l_partkey")).as("n_parts"))
  }

  val runtimeBloomJoinOracle: String = """
SELECT count(*) AS n_lines,
       CAST(sum(CAST(floor(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS revenue_cents,
       count(DISTINCT l_partkey) AS n_parts
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE p_size = 1"""

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "runtime_bloom_join" -> (runtimeBloomJoin _),
    "aqe_skew_join"   -> (aqeSkewJoin _),
    "preagg_join"     -> (preaggJoin _),
    "auto_preagg_join" -> (autoPreaggJoin _),
    "auto_preagg_multikey" -> (autoPreaggMultikey _),
    "bucketed_join"   -> (bucketedJoin _),
    "salted_agg"      -> (saltedAgg _),
    "salted_distinct" -> (saltedDistinct _),
    "salted_join"     -> (saltedJoin _),
    "bloom_prune_join" -> (bloomPruneJoin _),
    "percentiles"     -> (percentiles _),
    "percentiles_disc" -> (percentilesDisc _),
    "approx_percentiles" -> (approxPercentiles _),
    "approx_distinct" -> (approxDistinct _),
    "sketch_union_distinct" -> (sketchUnionDistinct _),
    "sketch_intersection" -> (sketchIntersection _),
    "shard_rebalance" -> (shardRebalance _),
    "incremental_agg" -> (incrementalAgg _)
  )

  val oracleSql: Map[String, String] = Map(
    "runtime_bloom_join" -> runtimeBloomJoinOracle,
    "aqe_skew_join"   -> aqeSkewJoinOracle,
    "preagg_join"     -> preaggJoinOracle,
    "auto_preagg_join" -> autoPreaggJoinOracle,
    "auto_preagg_multikey" -> autoPreaggMultikeyOracle,
    "bucketed_join"   -> bucketedJoinOracle,
    "salted_agg"      -> saltedAggOracle,
    "salted_distinct" -> saltedDistinctOracle,
    "salted_join"     -> saltedJoinOracle,
    "bloom_prune_join" -> bloomPruneJoinOracle,
    "percentiles"     -> percentilesOracle,
    "percentiles_disc" -> percentilesDiscOracle,
    // the approximate aggs hash their ERROR CONTRACT (exact value +
    // in-bound boolean), so they are fully oracle-checked despite
    // cross-engine sketch divergence
    "approx_percentiles" -> approxPercentilesOracle,
    "approx_distinct" -> approxDistinctOracle,
    "sketch_union_distinct" -> sketchUnionDistinctOracle,
    "sketch_intersection" -> sketchIntersectionOracle,
    "shard_rebalance" -> shardRebalanceOracle,
    "incremental_agg" -> incrementalAggOracle
  )
}
