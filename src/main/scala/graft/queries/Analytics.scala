package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.pipeline.Medallion

/** The five analytic queries (SURVEY.md §2.9; reference:
  * test_queries/test_queries.py:15-68) re-expressed over the testdata star
  * schema, plus the gold tables themselves as verifiable outputs.
  *
  * Every query ends in a total order (explicit tie-breakers) because the
  * differential harness is order-sensitive (D6 in SURVEY.md §7.4; reference
  * comparator test_queries.py:103-119). Money aggregates are wrapped in
  * round(..., 2) on BOTH the Spark and oracle side so cross-engine
  * floating-point summation-order differences cannot flip the comparison,
  * and ORDER BY always references the rounded alias, never the raw sum.
  *
  * Scale: all five are star joins — a big fact streamed against broadcast
  * dims, then a hash aggregate over low-cardinality keys (partial map-side
  * agg shrinks the shuffle to ~|groups|×|partitions| rows) and a top-k sort
  * that Spark plans as TakeOrderedAndProject (no global sort of the fact).
  */
object Analytics {

  /** Shared DuckDB CTE prologue mirroring Medallion's gold pipeline.
    * Kept in exact lock-step with Medallion.* — any change there must land
    * here too, or the differential gate fails (which is the point). */
  val ctes: String = """WITH dim_customer AS (
  SELECT CAST(row_number() OVER (ORDER BY c_custkey) AS INT) AS customer_sk,
         c_custkey AS customer_id, c_name AS name, c_acctbal AS acctbal,
         c_mktsegment AS mktsegment, n_name AS nation, r_name AS region
  FROM customer
  JOIN nation ON c_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey),
part_suppliers AS (
  SELECT l_partkey, string_agg(DISTINCT s_name, ', ' ORDER BY s_name) AS supplier_names
  FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) lps
  JOIN supplier ON l_suppkey = s_suppkey
  GROUP BY l_partkey),
dim_part AS (
  SELECT CAST(row_number() OVER (ORDER BY p_partkey) AS INT) AS part_sk,
         p_partkey AS part_id, p_name AS name, p_brand AS brand,
         p_type AS ptype, p_size AS psize, p_retailprice AS retailprice,
         supplier_names
  FROM part LEFT JOIN part_suppliers ON p_partkey = l_partkey),
dim_supplier AS (
  SELECT CAST(row_number() OVER (ORDER BY supplier_id) AS INT) AS supplier_sk,
         supplier_id, supplier
  FROM (SELECT DISTINCT s_suppkey AS supplier_id, s_name AS supplier
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN supplier ON l_suppkey = s_suppkey) ss),
bounds AS (
  SELECT CAST(min(o_orderdate) AS DATE) AS lo, CAST(max(o_orderdate) AS DATE) AS hi FROM orders),
dim_date AS (
  SELECT CAST(d AS DATE) AS full_date,
         CAST(strftime(CAST(d AS DATE), '%Y%m%d') AS INT) AS date_sk,
         CAST(day(CAST(d AS DATE)) AS INT) AS day_val,
         CAST(month(CAST(d AS DATE)) AS INT) AS month_val,
         CAST(year(CAST(d AS DATE)) AS INT) AS year_val,
         CAST(quarter(CAST(d AS DATE)) AS INT) AS quarter_val,
         dayname(CAST(d AS DATE)) AS day_name,
         monthname(CAST(d AS DATE)) AS month_name
  FROM (SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS d FROM bounds) g),
fact_sales AS (
  SELECT customer_sk, part_sk, supplier_sk, date_sk,
         l_extendedprice AS price, s_acctbal AS ship_cost
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  LEFT JOIN supplier ON l_suppkey = s_suppkey
  LEFT JOIN dim_customer ON o_custkey = customer_id
  LEFT JOIN dim_part ON l_partkey = part_id
  LEFT JOIN dim_supplier ON l_suppkey = supplier_id
  LEFT JOIN dim_date ON CAST(o_orderdate AS DATE) = full_date
  WHERE customer_sk IS NOT NULL AND part_sk IS NOT NULL
    AND supplier_sk IS NOT NULL AND date_sk IS NOT NULL
    AND l_extendedprice IS NOT NULL AND s_acctbal IS NOT NULL)
"""

  // ---- gold tables as verifiable outputs ----

  def goldDimCustomer(s: SparkSession, d: String): DataFrame =
    Medallion.dimCustomer(s, d).orderBy("customer_sk")

  def goldDimPart(s: SparkSession, d: String): DataFrame =
    Medallion.dimPart(s, d).orderBy("part_sk")

  def goldDimSupplier(s: SparkSession, d: String): DataFrame =
    Medallion.dimSupplier(s, d).orderBy("supplier_sk")

  def goldDimDate(s: SparkSession, d: String): DataFrame =
    Medallion.dimDate(s, d).orderBy("full_date")

  def goldFactSales(s: SparkSession, d: String): DataFrame =
    Medallion.factSales(s, d)
      .orderBy("customer_sk", "part_sk", "supplier_sk", "date_sk", "price", "ship_cost")

  // ---- Q1-Q5 (test_queries.py:15-68 analogs) ----

  /** Q1 sales per month (test_queries.py:16-26): month_val is grouped and
    * sorted but NOT selected — sort before the final projection. The money
    * total keeps the reference's dollar shape but is computed as an exact
    * cents sum (long) with ONE final /100.0 — group totals reach 10^8+
    * where a double sum's order error exceeds the 4-dp compare grid;
    * long→double then IEEE division is deterministic. */
  def q1SalesPerMonth(s: SparkSession, d: String): DataFrame =
    Medallion.factSales(s, d)
      .join(broadcast(Medallion.dimDate(s, d)), "date_sk")
      .groupBy("year_val", "month_val", "month_name")
      .agg(count("part_sk").as("n_sales"),
        round(sum(round(col("price") * 100).cast("long")) / 100.0, 2).as("total_sales"))
      .orderBy("year_val", "month_val")
      .select("year_val", "month_name", "n_sales", "total_sales")

  /** Q2 top-10 best-selling parts (test_queries.py:27-37). The reference
    * groups by (sk, title, author); since the SK functionally determines
    * the other dim columns, we aggregate on the int SK alone and attach
    * the (long string) dim columns to the aggregated rows afterwards —
    * same result, but the hash-agg keys stay 4 bytes instead of ~100, and
    * at 100 TB the shuffle carries |parts| rows of strings instead of
    * |fact|. Column order is restored to the reference's shape. */
  def q2TopParts(s: SparkSession, d: String): DataFrame =
    Medallion.factSales(s, d)
      .groupBy("part_sk")
      .agg(count(lit(1)).as("n_sold"))
      .join(broadcast(Medallion.dimPart(s, d).select("part_sk", "name", "supplier_names")), "part_sk")
      .select("part_sk", "name", "supplier_names", "n_sold")
      .orderBy(desc("n_sold"), asc("name"), asc("part_sk"))
      .limit(10)

  /** Q3 top-5 customers by spend (test_queries.py:38-49): customer_sk sorted
    * but not selected. */
  def q3TopCustomers(s: SparkSession, d: String): DataFrame =
    Medallion.factSales(s, d)
      .join(broadcast(Medallion.dimCustomer(s, d)), "customer_sk")
      .groupBy("customer_sk", "name", "nation")
      .agg(round(sum(col("price") + col("ship_cost")), 2).as("total_spend"))
      .orderBy(desc("total_spend"), asc("customer_sk"))
      .limit(5)
      .select("name", "nation", "total_spend")

  /** Q4 sales by nation (test_queries.py:50-58, country → nation). Money
    * total via the deterministic cents-sum pattern (see [[q1SalesPerMonth]]:
    * per-nation totals are 10^8+, past the double-sum tolerance edge). */
  def q4SalesByNation(s: SparkSession, d: String): DataFrame =
    Medallion.factSales(s, d)
      .join(broadcast(Medallion.dimCustomer(s, d)), "customer_sk")
      .groupBy("nation")
      .agg(round(sum(round(col("price") * 100).cast("long")) / 100.0, 2).as("total_sales"))
      .orderBy(desc("total_sales"), asc("nation"))

  /** Q5 supplier popularity (test_queries.py:59-67, shipping method → supplier). */
  def q5SupplierPopularity(s: SparkSession, d: String): DataFrame =
    Medallion.factSales(s, d)
      .join(broadcast(Medallion.dimSupplier(s, d)), "supplier_sk")
      .groupBy("supplier")
      .agg(count(lit(1)).as("n_shipments"))
      .orderBy(desc("n_shipments"), asc("supplier"))

  // ---- registration ----

  /** TPC-H Q1-shaped pricing summary: the canonical multi-aggregate scan —
    * 8 aggregates over a date-filtered lineitem, grouped by two low-
    * cardinality flags. All aggregation is map-side partial onto 6 groups,
    * so the exchange moves ~6 rows per task regardless of fact size, and
    * the date filter reaches the parquet scan. Money sums keep their
    * dollar shape but run on EXACT scaled integers — price, discount and
    * tax are 2-decimal, so price·(1−disc) is exact in cents·10² and
    * price·(1−disc)·(1+tax) in cents·10⁴; group totals reach 10^8+
    * dollars where a double sum's order error exceeds the 4-dp compare
    * grid, while the long sums are exact and the single
    * final division is deterministic on both engines. */
  def tpchPricingSummary(s: SparkSession, d: String): DataFrame = {
    val cents = round(col("l_extendedprice") * 100).cast("long")
    val discC = lit(100L) - round(col("l_discount") * 100).cast("long")
    val taxC = lit(100L) + round(col("l_tax") * 100).cast("long")
    graft.Tables.lineitem(s, d)
      .filter(col("l_shipdate") <= lit("1998-09-01"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        // quantities are integral-valued doubles — cast per row so the sum
        // itself runs on longs (exact at any SF; a double sum is exact only
        // while the total stays under 2^53, and DeterministicMoneySpec pins
        // the no-fractional-sum plan shape)
        sum(col("l_quantity").cast("long")).as("sum_qty"),
        // each per-row product is an exact long (≤ ~1.2e11), but the SUMS
        // accumulate in decimal(38,0), not long: a long sum of
        // cents·discC·taxC wraps silently at ~9.2e18 — reached near
        // SF ≈ 50 — while DuckDB's BIGINT sum widens to HUGEINT.
        // Decimal(38,0) keeps 1e38 headroom (≈ SF 10¹⁸), stays
        // order-independent exact integer arithmetic, and the final
        // decimal→double division is the same exact-int-to-nearest-double
        // conversion on both engines.
        round(sum(cents.cast("decimal(38,0)")) / 100.0, 2).as("sum_base_price"),
        round(sum((cents * discC).cast("decimal(38,0)")) / 10000.0, 2).as("sum_disc_price"),
        round(sum((cents * discC * taxC).cast("decimal(38,0)")) / 1000000.0, 2).as("sum_charge"),
        round(avg("l_quantity"), 4).as("avg_qty"),
        round(avg("l_extendedprice"), 4).as("avg_price"),
        round(avg("l_discount"), 4).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  val tpchPricingSummaryOracle: String = """
SELECT l_returnflag, l_linestatus,
       CAST(sum(l_quantity) AS BIGINT) AS sum_qty,
       round(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) / 100.0, 2) AS sum_base_price,
       round(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                 * (100 - CAST(round(l_discount * 100) AS BIGINT))) / 10000.0, 2) AS sum_disc_price,
       round(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                 * (100 - CAST(round(l_discount * 100) AS BIGINT))
                 * (100 + CAST(round(l_tax * 100) AS BIGINT))) / 1000000.0, 2) AS sum_charge,
       round(avg(l_quantity), 4) AS avg_qty,
       round(avg(l_extendedprice), 4) AS avg_price,
       round(avg(l_discount), 4) AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-01'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus"""

  /** TPC-H Q17-shaped small-quantity revenue, written as SQL with TWO
    * correlated scalar subqueries and handed to Catalyst UNREWRITTEN —
    * the decorrelation demo: RewriteCorrelatedScalarSubquery +
    * MergeScalarSubqueries turn the per-row "re-aggregate my part" into
    * one grouped aggregate joined back (O(n) instead of O(n·parts);
    * naive nested execution at 100 TB is quadrillions of probes). The
    * threshold is the classic qty < avg/5, restated as
    * `qty·5·count < sum` so every comparison is exact integer-valued
    * double arithmetic — no division, no rounding boundary to flip
    * between engines (quantities are integral ≤ 50, counts small). */
  def tpchSmallQuantity(s: SparkSession, d: String): DataFrame = {
    graft.Tables.registerViews(s, d)
    // CAST ... AS DOUBLE: in Spark SQL the literal 700.0 is a DECIMAL, so
    // long/700.0 would produce a decimal column (pandas `object`), whose
    // string form ("x.20" vs float "x.2") can diverge from the oracle's
    s.sql("""
      SELECT CAST(round(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
                        / CAST(700.0 AS DOUBLE), 2) AS DOUBLE) AS avg_yearly
      FROM lineitem l1
      WHERE l_quantity * 5 * (SELECT count(*) FROM lineitem l2
                              WHERE l2.l_partkey = l1.l_partkey)
          < (SELECT sum(l_quantity) FROM lineitem l2
             WHERE l2.l_partkey = l1.l_partkey)""")
  }

  val tpchSmallQuantityOracle: String = """
SELECT round(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) / 700.0, 2) AS avg_yearly
FROM lineitem l1
WHERE l_quantity * 5 * (SELECT count(*) FROM lineitem l2
                        WHERE l2.l_partkey = l1.l_partkey)
    < (SELECT sum(l_quantity) FROM lineitem l2
       WHERE l2.l_partkey = l1.l_partkey)"""

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "tpch_pricing_summary" -> (tpchPricingSummary _),
    "tpch_small_quantity"  -> (tpchSmallQuantity _),
    "gold_dim_customer" -> (goldDimCustomer _),
    "gold_dim_part"     -> (goldDimPart _),
    "gold_dim_supplier" -> (goldDimSupplier _),
    "gold_dim_date"     -> (goldDimDate _),
    "gold_fact_sales"   -> (goldFactSales _),
    "q1_sales_per_month"    -> (q1SalesPerMonth _),
    "q2_top_parts"          -> (q2TopParts _),
    "q3_top_customers"      -> (q3TopCustomers _),
    "q4_sales_by_nation"    -> (q4SalesByNation _),
    "q5_supplier_popularity" -> (q5SupplierPopularity _)
  )

  val oracleSql: Map[String, String] = Map(
    "tpch_pricing_summary" -> tpchPricingSummaryOracle,
    "tpch_small_quantity"  -> tpchSmallQuantityOracle,
    "gold_dim_customer" -> (ctes +
      "SELECT * FROM dim_customer ORDER BY customer_sk"),
    "gold_dim_part" -> (ctes +
      "SELECT * FROM dim_part ORDER BY part_sk"),
    "gold_dim_supplier" -> (ctes +
      "SELECT * FROM dim_supplier ORDER BY supplier_sk"),
    "gold_dim_date" -> (ctes +
      "SELECT * FROM dim_date ORDER BY full_date"),
    "gold_fact_sales" -> (ctes +
      "SELECT * FROM fact_sales ORDER BY customer_sk, part_sk, supplier_sk, date_sk, price, ship_cost"),
    "q1_sales_per_month" -> (ctes + """
SELECT year_val, month_name, count(part_sk) AS n_sales,
       round(sum(CAST(round(price * 100) AS BIGINT)) / 100.0, 2) AS total_sales
FROM fact_sales JOIN dim_date USING (date_sk)
GROUP BY year_val, month_val, month_name
ORDER BY year_val, month_val"""),
    "q2_top_parts" -> (ctes + """
SELECT part_sk, name, supplier_names, count(*) AS n_sold
FROM fact_sales JOIN dim_part USING (part_sk)
GROUP BY part_sk, name, supplier_names
ORDER BY n_sold DESC, name ASC, part_sk ASC
LIMIT 10"""),
    "q3_top_customers" -> (ctes + """
SELECT name, nation, total_spend FROM (
  SELECT customer_sk, name, nation,
         round(sum(price + ship_cost), 2) AS total_spend
  FROM fact_sales JOIN dim_customer USING (customer_sk)
  GROUP BY customer_sk, name, nation) t
ORDER BY total_spend DESC, customer_sk ASC
LIMIT 5"""),
    "q4_sales_by_nation" -> (ctes + """
SELECT nation,
       round(sum(CAST(round(price * 100) AS BIGINT)) / 100.0, 2) AS total_sales
FROM fact_sales JOIN dim_customer USING (customer_sk)
GROUP BY nation
ORDER BY total_sales DESC, nation ASC"""),
    "q5_supplier_popularity" -> (ctes + """
SELECT supplier, count(*) AS n_shipments
FROM fact_sales JOIN dim_supplier USING (supplier_sk)
GROUP BY supplier
ORDER BY n_shipments DESC, supplier ASC""")
  )
}
