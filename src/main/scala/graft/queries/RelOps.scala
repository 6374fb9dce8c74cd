package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Per-operator coverage queries for SURVEY.md §2's inventory — every scan,
  * projection, filter, join mode, aggregate, sort, set op, and scalar
  * function family the reference executes, each as one named verifiable
  * query over the testdata, plus the window/rollup/set-op extensions the
  * reference lacks (§2.5/§2.7 ABSENT markers).
  *
  * Design rule shared with Analytics: deterministic total order on every
  * output (D6), rounded money aggregates, column names aliased identically
  * in the Spark plan and the oracle SQL.
  */
object RelOps {

  /** S2 + P1 + P6: projection & predicate pushed into the parquet scan.
    * `.explain` shows PushedFilters + a 4-column ReadSchema — at 100 TB this
    * is the difference between scanning ~40 GB and scanning everything. */
  def scanProjectFilter(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") >= to_timestamp(lit("1995-01-01")) &&
        col("l_shipdate") < to_timestamp(lit("1996-01-01")) &&
        col("l_extendedprice") > 1000.0)
      .select("l_orderkey", "l_linenumber", "l_shipdate", "l_extendedprice")
      .orderBy("l_orderkey", "l_linenumber")

  /** S7/S8: SQL text over registered views (reference: DuckDB views over
    * parquet, test_queries/test_queries.py:91-97). Same text runs on both
    * engines — the dialect-shared subset. */
  val sqlOverViewsText: String =
    """SELECT o_orderpriority, count(*) AS n_orders
      |FROM orders WHERE o_totalprice > 100000
      |GROUP BY o_orderpriority
      |ORDER BY n_orders DESC, o_orderpriority ASC""".stripMargin

  def sqlOverViews(s: SparkSession, d: String): DataFrame = {
    Tables.orders(s, d).createOrReplaceTempView("orders")
    s.sql(sqlOverViewsText)
  }

  /** P1/P2/P3/P5: projection, rename, computed column, casts
    * (etl_lakehouse.py:86-97, :124-132). */
  def projectRenameCast(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d).select(
      col("o_orderkey").as("okey"),
      to_date(col("o_orderdate")).as("odate"),
      year(col("o_orderdate")).as("oyear"),
      floor(col("o_totalprice")).cast("long").as("price_floor"),
      upper(col("o_orderstatus")).as("status_uc"))
      .orderBy("okey")

  /** P4: null-drop scoped to the post-left-join miss column (D5;
    * etl_lakehouse.py:128-130). Customers that never ordered produce the
    * nulls that na.drop removes. */
  def dropnaLeftJoin(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d)
      .join(Tables.orders(s, d).select(col("o_custkey")).distinct(),
        col("c_custkey") === col("o_custkey"), "left")
      .select(col("c_custkey"), col("c_name"), col("o_custkey").as("matched"))
      .na.drop(Seq("matched"))
      .orderBy("c_custkey")

  /** P6: conjunctive predicates — equality, range, IN-list. */
  def filterPredicates(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .filter(col("o_orderstatus") === "O" &&
        col("o_totalprice").between(50000.0, 200000.0) &&
        col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
      .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority")
      .orderBy("o_orderkey")

  /** J16 semi: EXISTS as left_semi (10_mysql_populate_others.sql:26-31). */
  def joinSemi(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d)
      .join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"), "left_semi")
      .select("c_custkey", "c_name")
      .orderBy("c_custkey")

  /** J16 anti: NOT EXISTS as left_anti (13_…orderhistory.sql:74-79).
    * Filtered right side keeps the result non-empty on this data. */
  def joinAnti(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d)
      .join(Tables.orders(s, d).filter(col("o_totalprice") > 300000.0),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .select("c_custkey", "c_name")
      .orderBy("c_custkey")

  /** A1: global min/max over a datetime column (etl_lakehouse.py:100-101). */
  def aggMinMax(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d).agg(
      min("o_orderdate").as("first_order"),
      max("o_orderdate").as("last_order"),
      count(lit(1)).as("n_orders"))

  /** A2: DISTINCT dedup (etl_lakehouse.py:95). */
  def distinctSegments(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d).select("c_mktsegment").distinct().orderBy("c_mktsegment")

  /** A4: deterministic group string-concat (D2; etl_lakehouse.py:64) —
    * FIXTURES.md's per-nation customer-name analog. */
  def stringAggPerNation(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d)
      .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name").as("nation"))
      .agg(array_join(array_sort(collect_set(col("c_name"))), ", ").as("customers"))
      .orderBy("nation")

  /** §2.4-ABSENT extension: ROLLUP over (year, quarter). Partial aggregation
    * happens map-side; the rollup adds one extra shuffle-free expand. */
  def rollupSales(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .select(year(col("o_orderdate")).as("year_val"),
        quarter(col("o_orderdate")).as("quarter_val"),
        col("o_totalprice"))
      .rollup("year_val", "quarter_val")
      .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("total_cents"),
        count(lit(1)).as("n_orders"))
      .orderBy(asc_nulls_first("year_val"), asc_nulls_first("quarter_val"))

  /** §2.5-ABSENT extension: ranking window — top-3 parts per supplier.
    * Partitioned window (no single-task funnel; scales with #suppliers). */
  def windowRankPerGroup(s: SparkSession, d: String): DataFrame = {
    // ONE exchange instead of two: hash-partitioning by l_suppkey alone
    // satisfies the groupBy's ClusteredDistribution(l_suppkey, l_partkey)
    // (partitioning keys ⊆ clustering keys) AND the window's
    // partitionBy(l_suppkey), so neither re-shuffles. The trade: the
    // up-front repartition ships full rows (no map-side partial agg), which
    // wins exactly when group keys are near-unique per row — true here
    // ((suppkey, partkey) pairs ≈ rows) and for most per-entity rankings.
    val totals = Tables.lineitem(s, d)
      .select("l_suppkey", "l_partkey", "l_quantity")
      .repartition(col("l_suppkey"))
      .groupBy("l_suppkey", "l_partkey")
      .agg(sum("l_quantity").as("total_qty"))
    totals
      .withColumn("rnk", row_number().over(
        Window.partitionBy("l_suppkey").orderBy(desc("total_qty"), asc("l_partkey"))))
      .filter(col("rnk") <= 3)
      .select("l_suppkey", "l_partkey", "total_qty", "rnk")
      .orderBy("l_suppkey", "rnk")
  }

  /** §2.5-ABSENT extension: running total per customer, explicit ROWS frame
    * (deterministic under ties, unlike the default RANGE frame). */
  def windowRunningSpend(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d).select(
      col("o_custkey"), col("o_orderdate"), col("o_orderkey"),
      round(sum("o_totalprice").over(
        Window.partitionBy("o_custkey")
          .orderBy("o_orderdate", "o_orderkey")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)), 2)
        .as("running_spend"))
      .orderBy("o_custkey", "o_orderdate", "o_orderkey")

  /** §2.5-ABSENT extension: running COUNT(DISTINCT) over a window — a
    * genuine hole in Spark's window support (SPARK-13170: DISTINCT
    * aggregates are rejected inside OVER). Rewritten as the standard
    * first-occurrence trick: `row_number() = 1` over (key, value) marks a
    * value's first appearance in its partition's event order, and a
    * running SUM of that flag — an ordinary codegen'd window — IS the
    * running distinct count. Two partitioned windows, no state beyond
    * the frame; the oracle uses DuckDB's NATIVE `count(DISTINCT) OVER`,
    * so the two engines compute the answer by structurally different
    * routes. Scales with #keys like every partitioned window here. */
  def windowDistinctCounts(s: SparkSession, d: String): DataFrame = {
    val perValue = Window.partitionBy("o_custkey", "o_orderpriority")
      .orderBy("o_orderdate", "o_orderkey")
    val running = Window.partitionBy("o_custkey")
      .orderBy("o_orderdate", "o_orderkey")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.orders(s, d)
      .withColumn("first_seen",
        when(row_number().over(perValue) === 1, 1L).otherwise(0L))
      .select(col("o_custkey"), col("o_orderkey"),
        sum("first_seen").over(running).as("n_prio"))
      .orderBy("o_custkey", "o_orderkey")
  }

  /** §2.5-ABSENT extension: the full analytic-window family in one query —
    * lag/lead, dense_rank, ntile, first/last over an explicit full frame,
    * percent_rank/cume_dist. All partitioned windows (scale with #keys). */
  def windowAnalytics(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    val full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    Tables.orders(s, d).select(
      col("o_custkey"), col("o_orderkey"), col("o_orderdate"), col("o_totalprice"))
      .withColumn("seq", row_number().over(w))
      .withColumn("prev_price", lag("o_totalprice", 1).over(w))
      .withColumn("next_price", lead("o_totalprice", 1).over(w))
      .withColumn("quartile", ntile(4).over(w))
      .withColumn("first_price", first("o_totalprice").over(full))
      .withColumn("last_price", last("o_totalprice").over(full))
      .withColumn("pr", round(percent_rank().over(w), 6))
      .withColumn("cd", round(cume_dist().over(w), 6))
      .orderBy("o_custkey", "seq")
  }

  /** §2.4-ABSENT extension: GROUPING SETS (finer than rollup/cube). */
  def groupingSetsSales(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .groupingSets(
        Seq(Seq(col("o_orderstatus"), col("o_orderpriority")),
          Seq(col("o_orderstatus")), Seq()),
        col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
        sum(round(col("o_totalprice") * 100).cast("long")).as("total_cents"))
      .orderBy(asc_nulls_first("o_orderstatus"), asc_nulls_first("o_orderpriority"))

  /** Extension: fuzzy string matching — entity-resolution staple. Exact
    * integer edit distance, identical across engines (no float hazard).
    * All-pairs here (25 nations); at scale, block by a cheap key first
    * (length band / first char / q-gram bucket) exactly like the LSH
    * candidate generation in Dedup. */
  def fuzzyMatchNations(s: SparkSession, d: String): DataFrame = {
    val a = Tables.nation(s, d).select(col("n_name").as("name_a"))
    val b = Tables.nation(s, d).select(col("n_name").as("name_b"))
    a.join(b, col("name_a") < col("name_b"))
      .withColumn("dist", levenshtein(col("name_a"), col("name_b")).cast("long"))
      // threshold 1, not 4: the synthetic NATION_xx names are all within
      // distance 2 of each other, so anything looser is a vacuous filter
      .filter(col("dist") <= 1)
      .orderBy("name_a", "name_b")
  }

  val fuzzyMatchOracle: String = """
SELECT a.n_name AS name_a, b.n_name AS name_b,
       levenshtein(a.n_name, b.n_name) AS dist
FROM nation a JOIN nation b ON a.n_name < b.n_name
WHERE levenshtein(a.n_name, b.n_name) <= 1
ORDER BY name_a, name_b"""

  /** Extension: statistical aggregates — stddev/variance/correlation/
    * covariance per group. Both engines use numerically-stable streaming
    * moment updates; 4-6dp rounding absorbs the merge-order residue. */
  def statsAgg(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(
        round(stddev_samp(col("l_extendedprice")), 4).as("sd_price"),
        round(var_samp(col("l_quantity")), 4).as("var_qty"),
        round(corr(col("l_extendedprice"), col("l_quantity")), 6).as("corr_price_qty"),
        round(covar_samp(col("l_extendedprice"), col("l_discount")), 6).as("covar_price_disc"),
        count(lit(1)).as("n"))
      .orderBy("l_returnflag")

  val statsAggOracle: String = """
SELECT l_returnflag,
       round(stddev_samp(l_extendedprice), 4) AS sd_price,
       round(var_samp(l_quantity), 4) AS var_qty,
       round(corr(l_extendedprice, l_quantity), 6) AS corr_price_qty,
       round(covar_samp(l_extendedprice, l_discount), 6) AS covar_price_disc,
       count(*) AS n
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""

  /** Extension: PIVOT — order counts per priority, one column per status.
    * Explicit pivot values keep the plan single-pass (no extra distinct
    * scan to discover them) and the output schema static. */
  def pivotStatus(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .groupBy("o_orderpriority")
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(count(lit(1)))
      .na.fill(0L)
      .withColumnsRenamed(Map("F" -> "n_f", "O" -> "n_o", "P" -> "n_p"))
      .orderBy("o_orderpriority")

  /** Extension: correlated scalar subquery — Catalyst decorrelates it into
    * an aggregate + left join (SURVEY.md §4.3), so it runs as one hash
    * join, not a per-row probe. Shared-dialect SQL text doubles as the
    * oracle. */
  val scalarSubquerySql: String = """
SELECT c_custkey, c_name,
       (SELECT count(*) FROM orders WHERE o_custkey = c_custkey) AS n_orders
FROM customer
ORDER BY c_custkey"""

  def scalarSubquery(s: SparkSession, d: String): DataFrame = {
    Tables.customer(s, d).createOrReplaceTempView("customer")
    Tables.orders(s, d).createOrReplaceTempView("orders")
    s.sql(scalarSubquerySql)
  }

  /** O4: reproducible random sample (10_mysql_populate_others.sql:8-9
    * analog). ORDER BY a salted md5 of the key stands in for ORDER BY
    * rand(seed): uniform over the keyspace and seedable (the salt), but —
    * unlike engine-native rand() — identical across engines, so the sample
    * is oracle-checkable. Key tie-break keeps the order total. */
  def sampleRand(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d)
      .orderBy(md5(concat_ws(":", lit("o4"), col("c_custkey"))), col("c_custkey"))
      .limit(20).select("c_custkey", "c_name")

  val sampleRandSql: String = """
SELECT c_custkey, c_name FROM customer
ORDER BY md5('o4:' || CAST(c_custkey AS VARCHAR)), c_custkey
LIMIT 20"""

  /** §2.7: unionByName (11_mysql_populate_order.sql:20-110 analog). */
  def unionKeys(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d).select(col("c_custkey").as("key"), lit("customer").as("src"))
      .unionByName(
        Tables.supplier(s, d).select(col("s_suppkey").as("key"), lit("supplier").as("src")))
      .orderBy("src", "key")

  /** §2.7-ABSENT extension: EXCEPT — parts not shipped in 1995H1
    * (time-scoped so the result is non-empty). */
  def exceptUnsoldParts(s: SparkSession, d: String): DataFrame =
    Tables.part(s, d).select("p_partkey")
      .except(Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= to_timestamp(lit("1995-01-01")) &&
          col("l_shipdate") < to_timestamp(lit("1995-07-01")))
        .select(col("l_partkey").as("p_partkey")))
      .orderBy("p_partkey")

  /** §2.7-ABSENT extension, MULTISET forms: EXCEPT ALL — every line's
    * part key minus one copy per RETURNED line (`exceptAll` subtracts
    * multiplicities where `except` would erase a part entirely on its
    * first return). The surviving multiset is the per-part NET unreturned
    * demand; rolled up to counts so 600k surviving rows hash as a
    * part-dim-sized table. Scale: exceptAll plans as a single hash
    * aggregation on the value with count differencing — one shuffle, no
    * join. */
  def exceptAllParts(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d).select(col("l_partkey"))
      .exceptAll(Tables.lineitem(s, d)
        .filter(col("l_returnflag") === "R").select(col("l_partkey")))
      .groupBy("l_partkey").agg(count(lit(1)).as("net_lines"))
      .orderBy(desc("net_lines"), col("l_partkey"))
      .limit(100)

  /** §2.7-ABSENT extension, MULTISET forms: INTERSECT ALL — a customer's
    * order multiset of 1995 intersected with 1996 keeps min(n95, n96)
    * copies: the year-over-year REPEAT INTENSITY (how many orders of the
    * earlier cadence the customer sustained), which the DISTINCT form
    * collapses to a yes/no. Rolled up to per-customer copy counts. */
  def intersectAllCustomers(s: SparkSession, d: String): DataFrame = {
    def yr(y: Int) = Tables.orders(s, d)
      .filter(year(col("o_orderdate")) === y).select(col("o_custkey"))
    yr(1995).intersectAll(yr(1996))
      .groupBy("o_custkey").agg(count(lit(1)).as("sustained_orders"))
      .orderBy(desc("sustained_orders"), col("o_custkey"))
      .limit(100)
  }

  /** §2.4-ABSENT extension: CUBE — all 2^2 grouping combinations of
    * (status, priority) in one pass (completes the rollup / grouping-sets
    * / cube family). */
  def cubeSales(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .select(col("o_orderstatus"), col("o_orderpriority"), col("o_totalprice"))
      .cube("o_orderstatus", "o_orderpriority")
      .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("total_cents"),
        count(lit(1)).as("n_orders"))
      .orderBy(asc_nulls_first("o_orderstatus"), asc_nulls_first("o_orderpriority"))

  /** ROLLUP with GROUPING-ID markers: the bitmask distinguishes a
    * subtotal row's NULL (column rolled away) from a NULL that is data —
    * the semantic corner every BI layer on top of rollups depends on.
    * Spark's grouping_id() and DuckDB's multi-arg GROUPING() emit the
    * same bitmask, so the marker itself is oracle-checked. */
  def rollupGroupingId(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .rollup("o_orderstatus", "o_orderpriority")
      .agg(grouping_id().cast("long").as("gid"),
        count(lit(1)).as("n"),
        sum(expr("CAST(floor(o_totalprice * 100) AS BIGINT)")).as("cents"))
      .orderBy(col("gid"),
        asc_nulls_first("o_orderstatus"), asc_nulls_first("o_orderpriority"))

  val rollupGroupingIdOracle: String = """
SELECT o_orderstatus, o_orderpriority,
       CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT) AS gid,
       count(*) AS n,
       CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
ORDER BY gid, o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST"""

  /** Keyset-free pagination: page 3 (rows 21-30) of the price-ranked part
    * catalog via offset+limit over a total order. Spark plans this as a
    * global sort with the offset folded into the limit (rows 1-20 are
    * discarded at the take, not scanned twice). Note for 100 TB: deep
    * OFFSET degrades linearly — production pagination should switch to a
    * keyset predicate (WHERE (price, key) > (last_seen...)), which
    * [[scanProjectFilter]]-style pushdown serves; this query covers the
    * API semantics. */
  def paginatedTopk(s: SparkSession, d: String): DataFrame =
    Tables.part(s, d)
      .select(col("p_partkey"), col("p_name"),
        expr("CAST(floor(p_retailprice * 100) AS BIGINT)").as("cents"))
      .orderBy(desc("cents"), col("p_partkey"))
      .offset(20)
      .limit(10)

  val paginatedTopkOracle: String = """
SELECT p_partkey, p_name, CAST(floor(p_retailprice * 100) AS BIGINT) AS cents
FROM part ORDER BY cents DESC, p_partkey LIMIT 10 OFFSET 20"""

  /** Keyset pagination — the 100 TB-safe companion to [[paginatedTopk]]:
    * resume AFTER a (price, key) cursor with a predicate on the RAW
    * columns, so it reaches the parquet scan as a pushed filter
    * (row-group/page skipping via min-max stats) instead of sorting the
    * world and discarding an ever-deeper prefix. In (price DESC, key ASC)
    * order, "after (1500.00, 1000)" is `price < c OR (price = c AND key >
    * k)` — OpsInvariantsSpec asserts the Or-predicate lands in
    * PushedFilters. Cost is O(page) per page regardless of depth. */
  def paginatedKeyset(s: SparkSession, d: String): DataFrame =
    Tables.part(s, d)
      .filter(col("p_retailprice") < 1500.0 ||
        (col("p_retailprice") === 1500.0 && col("p_partkey") > 1000L))
      .select(col("p_partkey"), col("p_name"),
        expr("CAST(floor(p_retailprice * 100) AS BIGINT)").as("cents"))
      .orderBy(desc("cents"), col("p_partkey"))
      .limit(10)

  val paginatedKeysetOracle: String = """
SELECT p_partkey, p_name, CAST(floor(p_retailprice * 100) AS BIGINT) AS cents
FROM part
WHERE p_retailprice < CAST(1500.0 AS DOUBLE)
   OR (p_retailprice = CAST(1500.0 AS DOUBLE) AND p_partkey > 1000)
ORDER BY cents DESC, p_partkey LIMIT 10"""

  /** NULL-semantics corner suite: a planted NULL-bearing key (nullif)
    * grouped — NULL forms its own group — with count(*) vs count(col)
    * skipping, null-skipping sums, and a NULL-SAFE self-equality probe
    * (Spark `<=>` ≡ DuckDB `IS NOT DISTINCT FROM`: the NULL group matches
    * itself exactly once, where `=` would match nothing). These are the
    * semantics every outer-join/cleanup pipeline silently leans on. */
  def nullSemantics(s: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(s, d).select(
      nullif(col("c_mktsegment"), lit("BUILDING")).as("seg"),
      expr("CAST(floor(c_acctbal * 100) AS BIGINT)").as("cents"))
    val g = c.groupBy("seg").agg(
      count(lit(1)).as("n_rows"),
      count(col("seg")).as("n_nonnull"),
      sum("cents").as("cents"))
    val probe = g.select(col("seg").as("seg2"))
    g.join(probe, col("seg") <=> col("seg2"))
      .groupBy("seg", "n_rows", "n_nonnull", "cents")
      .agg(count(lit(1)).as("n_nullsafe_matches"))
      .orderBy(asc_nulls_first("seg"))
  }

  val nullSemanticsOracle: String = """
WITH c AS (
  SELECT nullif(c_mktsegment, 'BUILDING') AS seg,
         CAST(floor(c_acctbal * 100) AS BIGINT) AS cents
  FROM customer),
g AS (
  SELECT seg, count(*) AS n_rows, count(seg) AS n_nonnull,
         CAST(sum(cents) AS BIGINT) AS cents
  FROM c GROUP BY seg)
SELECT g.seg, g.n_rows, g.n_nonnull, g.cents,
       (SELECT count(*) FROM g g2
        WHERE g2.seg IS NOT DISTINCT FROM g.seg) AS n_nullsafe_matches
FROM g ORDER BY seg NULLS FIRST"""

  /** §2.7-ABSENT extension: INTERSECT — customers active in BOTH 1995H1
    * and 1996H1 (completes the set-op family with union/except). */
  def intersectRepeatCustomers(s: SparkSession, d: String): DataFrame = {
    def active(from: String, until: String) =
      Tables.orders(s, d)
        .filter(col("o_orderdate") >= to_timestamp(lit(from)) &&
          col("o_orderdate") < to_timestamp(lit(until)))
        .select("o_custkey")
    active("1995-01-01", "1995-07-01")
      .intersect(active("1996-01-01", "1996-07-01"))
      .orderBy("o_custkey")
  }

  /** F6/F7/F9 + null-handling extension: scalar expression families in one
    * projection — arithmetic, round, concat_ws, CASE, coalesce/nullif. */
  def scalarFuncs(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d).select(
      col("l_orderkey"), col("l_linenumber"),
      // floor, not round: the product has >2 true decimals, and Spark
      // (decimal-string HALF_UP) vs DuckDB (binary-double) disagree on
      // exact .xx5 half-cents; floor of the same binary double is exact
      // and identical in both engines.
      floor(col("l_extendedprice") * (lit(1.0) - col("l_discount")) *
        (lit(1.0) + col("l_tax"))).cast("long").as("charge"),
      concat_ws("-", col("l_returnflag"), col("l_linestatus")).as("flag_status"),
      when(col("l_quantity") >= 25, "bulk").otherwise("small").as("size_class"),
      coalesce(nullif(col("l_returnflag"), lit("N")), lit("none")).as("ret"))
      .orderBy("l_orderkey", "l_linenumber")

  /** Fact-scale surrogate-key assignment (D1 at scale): contiguous 1..n
    * keys over lineitem WITHOUT the single-task global window that
    * [[graft.ops.SurrogateKeys.dense]] deliberately restricts to dims.
    * The input is range-partitioned + sorted on the UNIQUE
    * (l_orderkey, l_linenumber) key; since range partitions are totally
    * ordered and rows are sorted within each, the partition-ordered
    * numbering in [[graft.ops.SurrogateKeys.scalable]] reproduces
    * exactly `row_number() OVER (ORDER BY l_orderkey, l_linenumber)` —
    * the oracle — while every stage stays parallel (range exchange,
    * per-partition sort, O(#partitions) driver-side offsets). Uniqueness
    * of the sort key is what makes the assignment independent of the
    * sampled range boundaries. */
  def skScalableFact(s: SparkSession, d: String): DataFrame = {
    val sorted = Tables.lineitem(s, d)
      .select("l_orderkey", "l_linenumber")
      .repartitionByRange(col("l_orderkey"), col("l_linenumber"))
      .sortWithinPartitions("l_orderkey", "l_linenumber")
    graft.ops.SurrogateKeys.scalable(sorted, "line_sk")
      .select(col("line_sk"), col("l_orderkey"), col("l_linenumber"))
      .orderBy("line_sk")
  }

  /** §2.8-ABSENT extension: the string-manipulation family, restricted to
    * functions with EXACT cross-engine twins (upper/lower, trim variants,
    * pad, substring, replace, reverse, split_part, position, repeat,
    * left/right slicing via substring). Locale-free ASCII semantics on
    * this data, so every output hash-matches. */
  def stringFuncs(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d).select(
      col("c_custkey"),
      upper(col("c_name")).as("uc"),
      lower(col("c_mktsegment")).as("lc"),
      lpad(col("c_custkey").cast("string"), 10, "0").as("padded"),
      substring(col("c_name"), 1, 8).as("prefix"),
      regexp_replace(col("c_name"), "Customer", "Cust").as("replaced"),
      reverse(col("c_name")).as("revd"),
      element_at(split(col("c_name"), "#"), 2).as("name_num"),
      instr(col("c_name"), "#").cast("long").as("hash_pos"),
      repeat(lit("ab"), 3).as("repeated"),
      length(rtrim(ltrim(concat(lit("  "), col("c_name"), lit("  ")))))
        .cast("long").as("trimmed_len"))
      .orderBy("c_custkey")

  val stringFuncsOracle: String = """
SELECT c_custkey,
       upper(c_name) AS uc,
       lower(c_mktsegment) AS lc,
       lpad(CAST(c_custkey AS VARCHAR), 10, '0') AS padded,
       substr(c_name, 1, 8) AS prefix,
       regexp_replace(c_name, 'Customer', 'Cust', 'g') AS replaced,
       reverse(c_name) AS revd,
       split_part(c_name, '#', 2) AS name_num,
       CAST(strpos(c_name, '#') AS BIGINT) AS hash_pos,
       repeat('ab', 3) AS repeated,
       CAST(len(rtrim(ltrim('  ' || c_name || '  '))) AS BIGINT) AS trimmed_len
FROM customer ORDER BY c_custkey"""

  /** §2.8 extension: date-arithmetic family beyond the dim_date
    * derivations — day offsets, day differences, month boundaries,
    * truncation, day-of-year. Date-typed results are surfaced as tz-less
    * timestamps (a Spark DATE never string-matches a DuckDB DATE through
    * the harness's pandas round-trip). */
  def dateFuncs(s: SparkSession, d: String): DataFrame = {
    val od = to_date(col("o_orderdate"))
    Tables.orders(s, d).select(
      col("o_orderkey"),
      date_add(od, 30).cast("timestamp_ntz").as("plus_30d"),
      datediff(lit("1998-12-31").cast("date"), od).cast("long").as("days_to_eoy98"),
      last_day(od).cast("timestamp_ntz").as("month_end"),
      trunc(od, "month").cast("timestamp_ntz").as("month_start"),
      dayofyear(od).cast("int").as("doy"))
      .orderBy("o_orderkey")
  }

  val dateFuncsOracle: String = """
SELECT o_orderkey,
       CAST(CAST(o_orderdate AS DATE) + INTERVAL 30 DAY AS TIMESTAMP) AS plus_30d,
       CAST(date_diff('day', CAST(o_orderdate AS DATE), DATE '1998-12-31') AS BIGINT) AS days_to_eoy98,
       CAST(last_day(CAST(o_orderdate AS DATE)) AS TIMESTAMP) AS month_end,
       CAST(date_trunc('month', CAST(o_orderdate AS DATE)) AS TIMESTAMP) AS month_start,
       CAST(dayofyear(CAST(o_orderdate AS DATE)) AS INT) AS doy
FROM orders ORDER BY o_orderkey"""

  /** Pivot→unpivot round-trip: widen order counts per (priority × status)
    * with the pivot, then melt the wide frame back to long form with the
    * built-in `unpivot` (Spark's UNPIVOT/MELT relational operator —
    * reference has no reshaping surface at all). Missing combinations
    * surface as 0 (the pivot's count never saw them), so the long output
    * equals the direct grouped count. Scale shape: the pivot is a single
    * hash aggregate (statuses are a known tiny set); unpivot is a per-row
    * expand — no extra shuffle. */
  def unpivotMelt(s: SparkSession, d: String): DataFrame = {
    val wide = Tables.orders(s, d)
      .groupBy("o_orderpriority")
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(count(lit(1)))
    wide.unpivot(
      Array(col("o_orderpriority")),
      Array(col("F"), col("O"), col("P")),
      "status", "n")
      .withColumn("n", coalesce(col("n"), lit(0L)))
      .orderBy("o_orderpriority", "status")
  }

  val unpivotMeltOracle: String = """
WITH w AS (
  SELECT o_orderpriority,
         count(*) FILTER (WHERE o_orderstatus = 'F') AS f,
         count(*) FILTER (WHERE o_orderstatus = 'O') AS o,
         count(*) FILTER (WHERE o_orderstatus = 'P') AS p
  FROM orders GROUP BY 1)
SELECT o_orderpriority, 'F' AS status, f AS n FROM w
UNION ALL SELECT o_orderpriority, 'O', o FROM w
UNION ALL SELECT o_orderpriority, 'P', p FROM w
ORDER BY o_orderpriority, status"""

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "unpivot_melt"          -> (unpivotMelt _),
    "string_funcs"          -> (stringFuncs _),
    "date_funcs"            -> (dateFuncs _),
    "sk_scalable_fact"      -> (skScalableFact _),
    "scan_project_filter"   -> (scanProjectFilter _),
    "sql_over_views"        -> (sqlOverViews _),
    "project_rename_cast"   -> (projectRenameCast _),
    "dropna_left_join"      -> (dropnaLeftJoin _),
    "filter_predicates"     -> (filterPredicates _),
    "join_semi"             -> (joinSemi _),
    "join_anti"             -> (joinAnti _),
    "agg_minmax"            -> (aggMinMax _),
    "distinct_segments"     -> (distinctSegments _),
    "stringagg_per_nation"  -> (stringAggPerNation _),
    "rollup_sales"          -> (rollupSales _),
    "rollup_grouping_id"    -> (rollupGroupingId _),
    "null_semantics"        -> (nullSemantics _),
    "paginated_topk"        -> (paginatedTopk _),
    "paginated_keyset"      -> (paginatedKeyset _),
    "window_rank_per_group" -> (windowRankPerGroup _),
    "window_running_spend"  -> (windowRunningSpend _),
    "window_distinct_counts" -> (windowDistinctCounts _),
    "window_analytics"      -> (windowAnalytics _),
    "grouping_sets_sales"   -> (groupingSetsSales _),
    "pivot_status"          -> (pivotStatus _),
    "stats_agg"             -> (statsAgg _),
    "fuzzy_match_nations"   -> (fuzzyMatchNations _),
    "scalar_subquery"       -> (scalarSubquery _),
    "sample_rand"           -> (sampleRand _),
    "union_keys"            -> (unionKeys _),
    "except_unsold_parts"   -> (exceptUnsoldParts _),
    "intersect_repeat_customers" -> (intersectRepeatCustomers _),
    "except_all_parts"      -> (exceptAllParts _),
    "intersect_all_customers" -> (intersectAllCustomers _),
    "cube_sales"            -> (cubeSales _),
    "scalar_funcs"          -> (scalarFuncs _)
  )

  val oracleSql: Map[String, String] = Map(
    "unpivot_melt" -> unpivotMeltOracle,
    "string_funcs" -> stringFuncsOracle,
    "date_funcs" -> dateFuncsOracle,
    "sk_scalable_fact" -> """
SELECT CAST(row_number() OVER (ORDER BY l_orderkey, l_linenumber) AS BIGINT) AS line_sk,
       l_orderkey, l_linenumber
FROM lineitem ORDER BY line_sk""",
    "scan_project_filter" -> """
SELECT l_orderkey, l_linenumber, l_shipdate, l_extendedprice
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1995-01-01' AND l_shipdate < TIMESTAMP '1996-01-01'
  AND l_extendedprice > 1000
ORDER BY l_orderkey, l_linenumber""",
    "sql_over_views" -> sqlOverViewsText,
    "project_rename_cast" -> """
SELECT o_orderkey AS okey, CAST(o_orderdate AS DATE) AS odate,
       CAST(year(o_orderdate) AS INT) AS oyear,
       CAST(floor(o_totalprice) AS BIGINT) AS price_floor,
       upper(o_orderstatus) AS status_uc
FROM orders ORDER BY okey""",
    "dropna_left_join" -> """
SELECT c_custkey, c_name, o_custkey AS matched
FROM customer LEFT JOIN (SELECT DISTINCT o_custkey FROM orders) o
  ON c_custkey = o_custkey
WHERE o_custkey IS NOT NULL
ORDER BY c_custkey""",
    "filter_predicates" -> """
SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority
FROM orders
WHERE o_orderstatus = 'O' AND o_totalprice BETWEEN 50000 AND 200000
  AND o_orderpriority IN ('1-URGENT', '2-HIGH')
ORDER BY o_orderkey""",
    "join_semi" -> """
SELECT c_custkey, c_name FROM customer
WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
ORDER BY c_custkey""",
    "join_anti" -> """
SELECT c_custkey, c_name FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_totalprice > 300000)
ORDER BY c_custkey""",
    "agg_minmax" -> """
SELECT min(o_orderdate) AS first_order, max(o_orderdate) AS last_order,
       count(*) AS n_orders
FROM orders""",
    "distinct_segments" -> """
SELECT DISTINCT c_mktsegment FROM customer ORDER BY c_mktsegment""",
    "stringagg_per_nation" -> """
SELECT n_name AS nation,
       string_agg(DISTINCT c_name, ', ' ORDER BY c_name) AS customers
FROM customer JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name ORDER BY nation""",
    "rollup_sales" -> """
SELECT year_val, quarter_val,
       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total_cents,
       count(*) AS n_orders
FROM (SELECT CAST(year(o_orderdate) AS INT) AS year_val,
             CAST(quarter(o_orderdate) AS INT) AS quarter_val, o_totalprice
      FROM orders) t
GROUP BY ROLLUP (year_val, quarter_val)
ORDER BY year_val ASC NULLS FIRST, quarter_val ASC NULLS FIRST""",
    "rollup_grouping_id" -> rollupGroupingIdOracle,
    "null_semantics" -> nullSemanticsOracle,
    "paginated_topk" -> paginatedTopkOracle,
    "paginated_keyset" -> paginatedKeysetOracle,
    "cube_sales" -> """
SELECT o_orderstatus, o_orderpriority,
       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total_cents,
       count(*) AS n_orders
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""",
    "window_rank_per_group" -> """
SELECT l_suppkey, l_partkey, total_qty, rnk FROM (
  SELECT l_suppkey, l_partkey, total_qty,
         CAST(row_number() OVER (PARTITION BY l_suppkey
           ORDER BY total_qty DESC, l_partkey ASC) AS INT) AS rnk
  FROM (SELECT l_suppkey, l_partkey, sum(l_quantity) AS total_qty
        FROM lineitem GROUP BY l_suppkey, l_partkey) t) r
WHERE rnk <= 3
ORDER BY l_suppkey, rnk""",
    "window_running_spend" -> """
SELECT o_custkey, o_orderdate, o_orderkey,
       round(sum(o_totalprice) OVER (PARTITION BY o_custkey
         ORDER BY o_orderdate, o_orderkey
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_spend
FROM orders
ORDER BY o_custkey, o_orderdate, o_orderkey""",
    "window_distinct_counts" -> """
SELECT o_custkey, o_orderkey,
       count(DISTINCT o_orderpriority) OVER (PARTITION BY o_custkey
         ORDER BY o_orderdate, o_orderkey) AS n_prio
FROM orders
ORDER BY o_custkey, o_orderkey""",
    "window_analytics" -> """
SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice,
       CAST(row_number() OVER w AS INT) AS seq,
       lag(o_totalprice, 1) OVER w AS prev_price,
       lead(o_totalprice, 1) OVER w AS next_price,
       CAST(ntile(4) OVER w AS INT) AS quartile,
       first_value(o_totalprice) OVER wf AS first_price,
       last_value(o_totalprice) OVER wf AS last_price,
       round(percent_rank() OVER w, 6) AS pr,
       round(cume_dist() OVER w, 6) AS cd
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
       wf AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
              ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
ORDER BY o_custkey, seq""",
    "grouping_sets_sales" -> """
SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders,
       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total_cents
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""",
    "pivot_status" -> """
SELECT o_orderpriority,
       CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_f,
       CAST(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_o,
       CAST(sum(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS n_p
FROM orders
GROUP BY o_orderpriority ORDER BY o_orderpriority""",
    "scalar_subquery" -> scalarSubquerySql,
    "sample_rand" -> sampleRandSql,
    "stats_agg" -> statsAggOracle,
    "fuzzy_match_nations" -> fuzzyMatchOracle,
    "union_keys" -> """
SELECT c_custkey AS key, 'customer' AS src FROM customer
UNION ALL
SELECT s_suppkey AS key, 'supplier' AS src FROM supplier
ORDER BY src, key""",
    "except_unsold_parts" -> """
SELECT p_partkey FROM part
EXCEPT
SELECT l_partkey FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1995-01-01' AND l_shipdate < TIMESTAMP '1995-07-01'
ORDER BY p_partkey""",
    "intersect_repeat_customers" -> """
SELECT o_custkey FROM orders
WHERE o_orderdate >= TIMESTAMP '1995-01-01' AND o_orderdate < TIMESTAMP '1995-07-01'
INTERSECT
SELECT o_custkey FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1996-07-01'
ORDER BY o_custkey""",
    "except_all_parts" -> """
WITH surv AS (
  SELECT l_partkey FROM lineitem
  EXCEPT ALL
  SELECT l_partkey FROM lineitem WHERE l_returnflag = 'R')
SELECT l_partkey, count(*) AS net_lines
FROM surv GROUP BY 1 ORDER BY net_lines DESC, l_partkey LIMIT 100""",
    "intersect_all_customers" -> """
WITH s AS (
  SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1995
  INTERSECT ALL
  SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996)
SELECT o_custkey, count(*) AS sustained_orders
FROM s GROUP BY 1 ORDER BY sustained_orders DESC, o_custkey LIMIT 100""",
    "scalar_funcs" -> """
SELECT l_orderkey, l_linenumber,
       CAST(floor(l_extendedprice * (1 - l_discount) * (1 + l_tax)) AS BIGINT) AS charge,
       concat_ws('-', l_returnflag, l_linestatus) AS flag_status,
       CASE WHEN l_quantity >= 25 THEN 'bulk' ELSE 'small' END AS size_class,
       coalesce(nullif(l_returnflag, 'N'), 'none') AS ret
FROM lineitem
ORDER BY l_orderkey, l_linenumber"""
  )
}
