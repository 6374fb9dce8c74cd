package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Corpus-profiling queries:
  *
  *  - [[profileOrders]] — dynamic-schema column profiler: null count and
  *    distinct count per column, built by folding over the runtime schema
  *    (the metaprogramming pattern every data-quality layer needs — no
  *    column names hard-coded). The 100 TB path is ONE hash-aggregate scan
  *    carrying an HLL sketch (`approx_count_distinct`) per column — no
  *    Expand, no row replication (a multi-count_distinct plan replays
  *    every row ~|cols|+1× through an Expand). Exactness is enforced by the same
  *    in-band error contract as [[graft.queries.ScaleOps.approxDistinct]]:
  *    the hashed result is the EXACT distinct count plus a boolean
  *    asserting the sketch landed within max(1, exact/10); the exact side
  *    (an unpivot + single keyed distinct — two keyed hash aggregates, no
  *    Expand either) exists only to drive the oracle and is dropped at
  *    scale.
  *  - [[topBigrams]] — corpus n-gram frequency table (top-k word bigrams),
  *    the building block of n-gram language models / contamination checks:
  *    explode → hash count → TakeOrderedAndProject.
  */
object ProfileOps {

  /** Per-column (n_nulls, n_distinct, within_10pct) for orders, long
    * format. See the object doc for the two-tier shape: the sketch pass IS
    * the profiler; the exact pass only feeds the error contract. */
  def profileOrders(s: SparkSession, d: String): DataFrame = {
    val df = Tables.orders(s, d)
    val cols = df.columns.toSeq
    // the 100 TB profiler: one scan, one hash aggregate, an HLL buffer and
    // a null counter per column — every aggregate here is map-side partial
    val aggs = cols.flatMap { c =>
      Seq(sum(when(col(c).isNull, 1).otherwise(0)).cast("long").as(s"__nn_$c"),
        approx_count_distinct(col(c), 0.02).as(s"__ad_$c"))
    }
    val wide = df.agg(aggs.head, aggs.tail: _*)
    val pairs = cols.map { c =>
      struct(lit(c).as("column_name"), col(s"__nn_$c").as("n_nulls"),
        col(s"__ad_$c").as("approx"))
    }
    val sketchSide = wide.select(explode(array(pairs: _*)).as("p")).select("p.*")
    // exact side (oracle contract only — dropped at scale): unpivot to
    // (column_name, value) and run ONE keyed distinct; Spark's
    // single-distinct rewrite plans two keyed hash aggregates, no Expand.
    // String-cast is injective for every orders type, so counts survive it.
    val melted = df.select(explode(array(cols.map(c =>
      struct(lit(c).as("column_name"), col(c).cast("string").as("v"))): _*)).as("p"))
      .select("p.*")
    val exact = melted.groupBy("column_name")
      .agg(count_distinct(col("v")).as("n_distinct"))
    // left join + coalesce: on an EMPTY table the melted/exact side has no
    // rows at all (and sum() over zero rows is NULL), but the profile
    // contract is still one row per column with zero counts — the oracle
    // coalesces identically, so the gate checks the same total semantics
    sketchSide.join(exact, Seq("column_name"), "left")
      .select(col("column_name"),
        coalesce(col("n_nulls"), lit(0L)).as("n_nulls"),
        coalesce(col("n_distinct"), lit(0L)).as("n_distinct"),
        (abs(col("approx") - coalesce(col("n_distinct"), lit(0L))) <=
          greatest(lit(1L), expr("n_distinct div 10"))).as("within_10pct"))
      .orderBy("column_name")
  }

  val profileOrdersOracle: String = {
    val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
      "o_orderdate", "o_orderpriority")
    cols.map { c =>
      s"""SELECT '$c' AS column_name,
         |       CAST(coalesce(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_nulls,
         |       CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct,
         |       true AS within_10pct
         |FROM orders""".stripMargin
    }.mkString("", "\nUNION ALL\n", "\nORDER BY column_name")
  }

  /** Top-20 word bigrams across the document corpus. Grams come from the
    * [[graft.functions.WordNgrams]] generator (one Generate node, one
    * tokenization, no interpreted HOF lambdas — the NOTES.md trap that cost
    * `contamination_ngrams` 4× before its rebuild); documents shorter than
    * 2 words yield no rows from the generator, matching the oracle's
    * length filter. `Tables.fanout` spreads the single bench-scale parquet
    * file across cores; at 100 TB the input is many splits and the
    * exchange is a no-op cost-wise. */
  def topBigrams(s: SparkSession, d: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    Tables.fanout(s, Tables.documents(s, d))
      .select(expr("word_ngrams(text, 2)").as("bigram"))
      .groupBy("bigram")
      .agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), asc("bigram"))
      .limit(20)
  }

  val topBigramsOracle: String = """
WITH w AS (SELECT string_split(text, ' ') AS ws FROM documents
           WHERE len(string_split(text, ' ')) >= 2),
b AS (SELECT unnest(list_transform(generate_series(1, len(ws) - 1),
        i -> ws[i] || ' ' || ws[i+1])) AS bigram FROM w)
SELECT bigram, count(*) AS n FROM b
GROUP BY bigram ORDER BY n DESC, bigram ASC LIMIT 20"""

  /** Top-20 bigram collocations by PMI — pointwise mutual information,
    * the standard corpus-statistics measure of "these words co-occur more
    * than chance". The inner probability ratio
    * `P(xy) / (P(x)·P(y)) = n_xy·N_uni² / (N_big·n_x·n_y)` is computed as
    * one fixed-association double expression (identical operand order on
    * both engines ⇒ bit-identical result) and floor-quantized ×10⁶ —
    * monotone in the classic `log` PMI, without the cross-libm `ln` ulp
    * hazard in a hash gate. Shape at scale: two linear generates (the
    * codegen-path [[graft.functions.WordNgrams]] UDTF for grams — NOT the
    * interpreted-HOF build, which cost this query 7.9 s at sf0.1), unigram/
    * bigram hash aggregates (map-side partial), two vocab-sized joins, a
    * global top-k (TakeOrderedAndProject). The `n_xy ≥ 5` support floor is
    * the standard guard against PMI's low-count blow-up. */
  def pmiBigrams(s: SparkSession, d: String, k: Int = 20, minCount: Int = 5): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    val docs = Tables.fanout(s, Tables.documents(s, d))
    val toks = docs.select(explode(split(col("text"), " ")).as("w"))
    val uni = toks.groupBy("w").agg(count(lit(1)).as("nw"))
    // N_uni = Σ nw exactly (every token instance counts once in its
    // word's group), so the total folds out of the unigram counts — a
    // scalar count over `toks` would be column-pruned into a SECOND
    // explode pass over the corpus; this form re-aggregates the
    // vocab-sized rows of the one unigram exchange
    val nUni = uni.agg(sum("nw").as("n_uni"))
    // generator yields no rows for sub-2-word docs — the oracle's length
    // filter is implicit here
    val bigramRows = docs.select(expr("word_ngrams(text, 2)").as("bigram"))
    val bigramCounts = bigramRows.groupBy("bigram").agg(count(lit(1)).as("nxy"))
    // N_big = Σ nxy PRE-filter, same identity — the old scalar count ran
    // the word_ngrams generate over the corpus a second time; this
    // branch and the rule pipeline below now share the one bigram
    // exchange (identical subtrees → runtime ReusedExchange)
    val nBig = bigramCounts.agg(sum("nxy").as("n_big"))
    bigramCounts
      .filter(col("nxy") >= minCount)
      .withColumn("w1", element_at(split(col("bigram"), " "), 1))
      .withColumn("w2", element_at(split(col("bigram"), " "), 2))
      .join(uni.select(col("w").as("w1"), col("nw").as("nx")), "w1")
      .join(uni.select(col("w").as("w2"), col("nw").as("ny")), "w2")
      .crossJoin(broadcast(nUni))
      .crossJoin(broadcast(nBig))
      // explicit DOUBLE casts, not `* 1.0`: a bare 1.0 literal is DOUBLE in
      // Spark but DECIMAL in DuckDB, and decimal-exact intermediate math
      // rounds differently at the floor boundary (off-by-one in the gate)
      .withColumn("score_q", expr(
        "CAST(floor((CAST(nxy AS DOUBLE) * n_uni * n_uni) / (CAST(n_big AS DOUBLE) * nx * ny) * 1000000) AS BIGINT)"))
      .orderBy(desc("score_q"), asc("bigram"))
      .limit(k)
      .select("bigram", "nxy", "nx", "ny", "score_q")
  }

  val pmiBigramsOracle: String = """
WITH toks AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents),
uni AS (SELECT w, count(*) AS nw FROM toks GROUP BY w),
nu AS (SELECT count(*) AS n_uni FROM toks),
bl AS (SELECT unnest(list_transform(generate_series(1, len(ws) - 1),
         i -> ws[i] || ' ' || ws[i+1])) AS bigram
       FROM (SELECT string_split(text, ' ') AS ws FROM documents
             WHERE len(string_split(text, ' ')) >= 2)),
nb AS (SELECT count(*) AS n_big FROM bl),
bc AS (SELECT bigram, count(*) AS nxy FROM bl GROUP BY bigram HAVING count(*) >= 5),
j AS (SELECT bigram, nxy,
             split_part(bigram, ' ', 1) AS w1, split_part(bigram, ' ', 2) AS w2
      FROM bc)
SELECT bigram, nxy, u1.nw AS nx, u2.nw AS ny,
       CAST(floor((CAST(nxy AS DOUBLE) * n_uni * n_uni) / (CAST(n_big AS DOUBLE) * u1.nw * u2.nw) * 1000000) AS BIGINT) AS score_q
FROM j JOIN uni u1 ON j.w1 = u1.w JOIN uni u2 ON j.w2 = u2.w
CROSS JOIN nu CROSS JOIN nb
ORDER BY score_q DESC, bigram LIMIT 20"""

  /** Shuffle-skew profile of a join/agg key — the diagnostic a planner (or
    * an engineer sizing `spark.sql.shuffle.partitions` / deciding to salt)
    * runs BEFORE shipping a 100 TB shuffle: per-key group sizes reduced to
    * exact distribution stats (min/max/percentile-disc picks actual data
    * values — no interpolation to disagree on) plus a max-vs-mean skew
    * ratio in exact ppm. Two hash aggregates, the second over one row per
    * key; nothing wider than (key, count) ever moves. */
  def skewStats(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy("l_partkey").agg(count(lit(1)).as("sz"))
      .agg(count(lit(1)).as("n_keys"),
        sum("sz").as("n_rows"),
        min("sz").as("min_sz"),
        max("sz").as("max_sz"),
        // percentile_disc picks an actual data value but Spark types it
        // DOUBLE — cast back to the exact integer it is
        expr("CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY sz) AS BIGINT)").as("p50_sz"),
        expr("CAST(percentile_disc(0.9) WITHIN GROUP (ORDER BY sz) AS BIGINT)").as("p90_sz"),
        expr("CAST(percentile_disc(0.99) WITHIN GROUP (ORDER BY sz) AS BIGINT)").as("p99_sz"))
      .withColumn("skew_ratio_ppm",
        expr("max_sz * 1000000L * n_keys div n_rows"))

  val skewStatsOracle: String = """
WITH s AS (SELECT l_partkey, count(*) AS sz FROM lineitem GROUP BY 1)
SELECT count(*) AS n_keys,
       CAST(sum(sz) AS BIGINT) AS n_rows,
       min(sz) AS min_sz,
       max(sz) AS max_sz,
       percentile_disc(0.5) WITHIN GROUP (ORDER BY sz) AS p50_sz,
       percentile_disc(0.9) WITHIN GROUP (ORDER BY sz) AS p90_sz,
       percentile_disc(0.99) WITHIN GROUP (ORDER BY sz) AS p99_sz,
       CAST(max(sz) * 1000000 * count(*) // sum(sz) AS BIGINT) AS skew_ratio_ppm
FROM s"""

  // ------------------------------------------------------- observed metrics

  /** Observability as a first-class operator (SURVEY.md §2.4 A6 — the
    * reference instruments frames with memory_usage; the Spark-native form
    * is `Dataset.observe`): a CollectMetrics node rides ON the scan and
    * accumulates named aggregates as the data flows — zero extra passes,
    * which at 100 TB is the entire point (a separate metrics query would
    * re-read the table). The observed values are then republished as the
    * query result, so the DuckDB oracle hash-checks the instrumentation
    * itself, not just a spec bound. */
  def observedScan(s: SparkSession, d: String): DataFrame = {
    val obs = org.apache.spark.sql.Observation()
    val df = Tables.lineitem(s, d).observe(obs,
      count(lit(1)).as("n_rows"),
      sum(expr("CAST(floor(l_extendedprice * 100) AS BIGINT)")).as("cents"),
      count(col("l_shipdate")).as("n_shipdate"))
    df.foreach(_ => ()) // one full pass; metrics accumulate alongside it
    val m = obs.get
    import s.implicits._
    Seq((m("n_rows").asInstanceOf[Long],
      m("cents").asInstanceOf[Long],
      m("n_shipdate").asInstanceOf[Long]))
      .toDF("n_rows", "cents", "n_shipdate")
  }

  val observedScanOracle: String = """
SELECT count(*) AS n_rows,
       CAST(sum(CAST(floor(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS cents,
       count(l_shipdate) AS n_shipdate
FROM lineitem"""

  // -------------------------------------------------------- data quality

  /** Declarative data-quality expectations over the fact table (the
    * dbt-test / Delta-constraint shape): each rule reduces to
    * (check_name, n_checked, n_violations) — null checks, range checks, a
    * referential-integrity check against orders, and a composite-key
    * uniqueness check. The range-40 rule is deliberately tighter than the
    * data so a NON-zero violation count proves the counting path.
    * Scale shape: the three column rules AND the composite-key uniqueness
    * count are ONE combined aggregate pass — a single scan of the fact,
    * unpivoted afterward into rule rows (one pass per rule would scan
    * lineitem five times; at 100 TB that is five reads of a 100 TB
    * table). The FK rule is
    * the one remaining join, probing the orders key set (shuffle-hash at
    * scale — never collected). All counts, no floats. */
  def dqChecks(s: SparkSession, d: String): DataFrame =
    dqColumnRules(s, d)
      .unionByName(
        Tables.lineitem(s, d)
          .join(Tables.orders(s, d).select(col("o_orderkey")).distinct(),
            col("l_orderkey") === col("o_orderkey"), "left")
          .agg(count(lit(1)).as("n_checked"),
            sum(when(col("o_orderkey").isNull, 1L).otherwise(0L)).as("n_violations"))
          .select(lit("fk_orderkey").as("check_name"), col("n_checked"), col("n_violations")))
      .orderBy("check_name")

  /** The non-join rules (3 column checks + uniqueness) as one aggregate
    * over one scan of lineitem. The single count_distinct rides the same
    * pass via Spark's single-distinct rewrite (keyed partial on the
    * composite key — no Expand, unlike the multi-distinct profiler).
    * DqPlanSpec asserts the one-scan shape. */
  def dqColumnRules(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .agg(
        count(lit(1)).as("n_checked"),
        sum(when(col("l_shipdate").isNull, 1L).otherwise(0L)).as("v_null_ship"),
        sum(when(col("l_quantity") < 1 || col("l_quantity") > 40, 1L).otherwise(0L)).as("v_qty"),
        sum(when(col("l_discount") < 0 || col("l_discount") > 0.1, 1L).otherwise(0L)).as("v_disc"),
        (count(lit(1)) - countDistinct(col("l_orderkey"), col("l_linenumber"))).as("v_uniq"))
      .select(explode(array(
        struct(lit("not_null_shipdate").as("check_name"), col("n_checked"), col("v_null_ship").as("n_violations")),
        struct(lit("range_quantity_le40").as("check_name"), col("n_checked"), col("v_qty").as("n_violations")),
        struct(lit("range_discount").as("check_name"), col("n_checked"), col("v_disc").as("n_violations")),
        struct(lit("unique_line").as("check_name"), col("n_checked"), col("v_uniq").as("n_violations")))).as("r"))
      .select("r.check_name", "r.n_checked", "r.n_violations")

  val dqChecksOracle: String = """
SELECT * FROM (
  SELECT 'not_null_shipdate' AS check_name, count(*) AS n_checked,
         CAST(count(*) FILTER (WHERE l_shipdate IS NULL) AS BIGINT) AS n_violations
  FROM lineitem
  UNION ALL
  SELECT 'range_quantity_le40', count(*),
         CAST(count(*) FILTER (WHERE l_quantity < 1 OR l_quantity > 40) AS BIGINT)
  FROM lineitem
  UNION ALL
  SELECT 'range_discount', count(*),
         CAST(count(*) FILTER (WHERE l_discount < 0 OR l_discount > 0.1) AS BIGINT)
  FROM lineitem
  UNION ALL
  SELECT 'fk_orderkey', count(*),
         CAST(count(*) FILTER (WHERE o.o_orderkey IS NULL) AS BIGINT)
  FROM lineitem l LEFT JOIN (SELECT DISTINCT o_orderkey FROM orders) o
    ON l.l_orderkey = o.o_orderkey
  UNION ALL
  SELECT 'unique_line', count(*),
         CAST(count(*) - count(DISTINCT (l_orderkey, l_linenumber)) AS BIGINT)
  FROM lineitem
) ORDER BY check_name"""

  // ------------------------------------------------------- custom generator

  /** Top-20 word trigrams via the custom [[graft.functions.WordNgrams]]
    * Catalyst table-generating function — the UDTF member of the
    * extension-type matrix (scalar [[graft.functions.ArrayDot]], aggregate
    * [[graft.functions.MisraGriesAgg]], whole-operator
    * [[graft.plans.IntervalJoin]]). One Generate node produces each n-gram
    * string directly from a single tokenization (no token-array
    * duplication, no interpreted HOF lambdas); the count is partial-agg'd
    * map-side and cut with TakeOrderedAndProject. */
  def ngramUdtf(s: SparkSession, d: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    Tables.fanout(s, Tables.documents(s, d))
      .select(expr("word_ngrams(text, 3)").as("ngram"))
      .groupBy("ngram")
      .agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), col("ngram"))
      .limit(20)
  }

  val ngramUdtfOracle: String = """
WITH t AS (SELECT string_split(text, ' ') AS ws FROM documents),
g AS (
  SELECT array_to_string(ws[(CAST(u.i AS INT) + 1):(CAST(u.i AS INT) + 3)], ' ') AS ngram
  FROM t, UNNEST(range(len(ws) - 2)) AS u(i)
  WHERE len(ws) >= 3)
SELECT ngram, count(*) AS n FROM g
GROUP BY ngram ORDER BY n DESC, ngram LIMIT 20"""

  /** K-ANONYMITY AUDIT — the privacy gate a corpus passes before release:
    * any quasi-identifier combination shared by fewer than k individuals
    * re-identifies them (Sweeney 2002). Here the quasi-identifiers are
    * (nation, market segment, account-balance band) — the classic
    * generalization step bands the continuous column first, because raw
    * balances are near-unique and every group would fail. Output: one
    * row per group with its size and at-risk flag, plus the suppression
    * cost (how many individuals a release dropping at-risk groups loses).
    *
    * Scale shape: ONE hash aggregate on the quasi-identifier key (the
    * same shuffle any groupBy pays), then a 1-row summary joined back —
    * no per-individual state, no window. At 100 TB the audit cost is the
    * groupBy; the group table itself is tiny (|nations|×|segments|×bands). */
  def kAnonymity(s: SparkSession, d: String, k: Int = 5): DataFrame = {
    val groups = Tables.customer(s, d)
      .select(col("c_nationkey"), col("c_mktsegment"),
        floor(col("c_acctbal") / 2000).cast("long").as("bal_band"))
      .groupBy("c_nationkey", "c_mktsegment", "bal_band")
      .agg(count(lit(1)).as("n_members"))
      .withColumn("at_risk", (col("n_members") < k).cast("boolean"))
    val cost = groups.agg(
      sum(when(col("at_risk"), col("n_members")).otherwise(0L)).as("suppressed"),
      count(lit(1)).as("n_groups"),
      sum(when(col("at_risk"), 1L).otherwise(0L)).as("risk_groups"))
    groups.crossJoin(broadcast(cost))
      .select(col("c_nationkey"), col("c_mktsegment"), col("bal_band"),
        col("n_members"), col("at_risk"),
        col("suppressed"), col("n_groups"), col("risk_groups"))
      .orderBy("c_nationkey", "c_mktsegment", "bal_band")
  }

  val kAnonymityOracle: String = """
WITH g AS (
  SELECT c_nationkey, c_mktsegment,
         CAST(floor(c_acctbal / 2000) AS BIGINT) AS bal_band,
         count(*) AS n_members
  FROM customer GROUP BY 1, 2, 3),
f AS (SELECT *, n_members < 5 AS at_risk FROM g),
c AS (SELECT CAST(sum(CASE WHEN at_risk THEN n_members ELSE 0 END) AS BIGINT) AS suppressed,
             count(*) AS n_groups,
             CAST(sum(CASE WHEN at_risk THEN 1 ELSE 0 END) AS BIGINT) AS risk_groups
      FROM f)
SELECT c_nationkey, c_mktsegment, bal_band, n_members, at_risk,
       suppressed, n_groups, risk_groups
FROM f CROSS JOIN c
ORDER BY c_nationkey, c_mktsegment, bal_band"""

  /** Monthly return-rate trend — the operational quality KPI a warehouse
    * dashboards weekly: per order month, line volume, returned-line count
    * and rate in exact ppm, plus the month-over-month rate delta (signed,
    * but computed by SUBTRACTING two already-floored non-negative ppm
    * values — integer subtraction is engine-identical, unlike signed
    * floor division). Scale shape: one fact-side hash-agg on the order
    * month (map-side partial conditional sums); the lag window runs over
    * the calendar-bounded month series. */
  def returnRateTrend(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.orderBy("ym")
    Tables.lineitem(s, d)
      .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .groupBy((year(col("o_orderdate")) * 100 + month(col("o_orderdate")))
        .cast("long").as("ym"))
      .agg(count(lit(1)).as("n_lines"),
        sum(when(col("l_returnflag") === "R", 1L).otherwise(0L)).as("n_returned"))
      .withColumn("return_ppm", expr("n_returned * 1000000L DIV n_lines"))
      .withColumn("mom_delta_ppm",
        col("return_ppm") - lag("return_ppm", 1).over(w))
      .orderBy("ym")
  }

  val returnRateTrendOracle: String = """
WITH m AS (
  SELECT CAST(year(o_orderdate) * 100 + month(o_orderdate) AS BIGINT) AS ym,
         count(*) AS n_lines,
         CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS n_returned
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  GROUP BY 1),
r AS (
  SELECT *, CAST(n_returned * 1000000 // n_lines AS BIGINT) AS return_ppm FROM m)
SELECT ym, n_lines, n_returned, return_ppm,
       return_ppm - lag(return_ppm) OVER (ORDER BY ym) AS mom_delta_ppm
FROM r ORDER BY ym"""

  /** Supplier-concentration risk per part: how much of each part's
    * revenue its LARGEST supplier carries (top-supplier share in exact
    * ppm — a threshold-free variant of the procurement risk register,
    * since a fixed "single-sourced" cut can be vacuously empty on
    * balanced corpora). Top-50 most concentrated parts by
    * (share, revenue) with total tie-breaks. One fact hash-agg on
    * (part, supplier), then a part-keyed max/sum rollup — no windows,
    * no joins beyond the rollup. */
  def singleSourceRisk(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy("l_partkey", "l_suppkey")
      .agg(sum(expr("CAST(floor(l_extendedprice * 100) AS BIGINT)")).as("cents"))
      .groupBy("l_partkey")
      .agg(count(lit(1)).as("n_suppliers"), sum("cents").as("total_cents"),
        max("cents").as("top_cents"))
      .withColumn("top_share_ppm", expr("top_cents * 1000000L DIV total_cents"))
      .select("l_partkey", "n_suppliers", "total_cents", "top_share_ppm")
      .orderBy(desc("top_share_ppm"), desc("total_cents"), col("l_partkey"))
      .limit(50)

  val singleSourceRiskOracle: String = """
WITH ps AS (
  SELECT l_partkey, l_suppkey,
         CAST(sum(CAST(floor(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM lineitem GROUP BY 1, 2),
p AS (
  SELECT l_partkey, count(*) AS n_suppliers,
         CAST(sum(cents) AS BIGINT) AS total_cents,
         CAST(max(cents) AS BIGINT) AS top_cents
  FROM ps GROUP BY 1)
SELECT l_partkey, n_suppliers, total_cents,
       CAST(top_cents * 1000000 // total_cents AS BIGINT) AS top_share_ppm
FROM p
ORDER BY top_share_ppm DESC, total_cents DESC, l_partkey LIMIT 50"""

  /** Price-consistency audit: per part, the dispersion of the realized
    * UNIT price across its order lines (unit cents = line cents DIV
    * quantity — quantities are integral in this corpus, and integer
    * division is engine-identical where a double ratio would need
    * rounding care), reported as the (max−min)/min spread in exact ppm.
    * Top-50 most dispersed parts with total tie-breaks — the pricing
    * anomaly screen a revenue-assurance team runs. One fact hash-agg on
    * partkey. */
  def priceDispersion(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .select(col("l_partkey"),
        expr("CAST(floor(l_extendedprice * 100) AS BIGINT) DIV CAST(l_quantity AS BIGINT)")
          .as("unit_cents"))
      .groupBy("l_partkey")
      .agg(count(lit(1)).as("n_lines"), min("unit_cents").as("min_unit"),
        max("unit_cents").as("max_unit"))
      .withColumn("spread_ppm",
        expr("(max_unit - min_unit) * 1000000L DIV min_unit"))
      .orderBy(desc("spread_ppm"), col("l_partkey"))
      .limit(50)

  val priceDispersionOracle: String = """
WITH u AS (
  SELECT l_partkey,
         CAST(floor(l_extendedprice * 100) AS BIGINT) // CAST(l_quantity AS BIGINT) AS unit_cents
  FROM lineitem),
p AS (
  SELECT l_partkey, count(*) AS n_lines,
         CAST(min(unit_cents) AS BIGINT) AS min_unit,
         CAST(max(unit_cents) AS BIGINT) AS max_unit
  FROM u GROUP BY 1)
SELECT l_partkey, n_lines, min_unit, max_unit,
       CAST((max_unit - min_unit) * 1000000 // min_unit AS BIGINT) AS spread_ppm
FROM p ORDER BY spread_ppm DESC, l_partkey LIMIT 50"""

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "single_source_risk" -> (singleSourceRisk _),
    "price_dispersion"   -> (priceDispersion _),
    "return_rate_trend" -> (returnRateTrend _),
    "k_anonymity"    -> ((s: SparkSession, d: String) => kAnonymity(s, d)),
    "skew_stats"     -> (skewStats _),
    "profile_orders" -> (profileOrders _),
    "text_top_bigrams" -> (topBigrams _),
    "pmi_bigrams" -> ((s: SparkSession, d: String) => pmiBigrams(s, d)),
    "ngram_udtf" -> (ngramUdtf _),
    "dq_checks" -> (dqChecks _),
    "observed_scan" -> (observedScan _)
  )

  val oracleSql: Map[String, String] = Map(
    "single_source_risk" -> singleSourceRiskOracle,
    "price_dispersion"   -> priceDispersionOracle,
    "return_rate_trend" -> returnRateTrendOracle,
    "k_anonymity" -> kAnonymityOracle,
    "skew_stats" -> skewStatsOracle,
    "profile_orders" -> profileOrdersOracle,
    "text_top_bigrams" -> topBigramsOracle,
    "pmi_bigrams" -> pmiBigramsOracle,
    "ngram_udtf" -> ngramUdtfOracle,
    "dq_checks" -> dqChecksOracle,
    "observed_scan" -> observedScanOracle
  )
}
