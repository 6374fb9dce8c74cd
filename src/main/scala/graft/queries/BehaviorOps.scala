package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.ops.Ranks
import graft.util.SessionCaches.PersistOnce

/** Behavioral / co-occurrence analytics over the fact tables — the
  * user-journey and market-basket query family a warehouse on top of the
  * reference's star schema would grow next (reference has only the five
  * static aggregation queries, test_queries/test_queries.py:100-158; none of
  * these shapes exist there):
  *
  *  - [[copurchasePairs]] — market-basket co-occurrence: which part pairs
  *    appear in the same order, with support counts.
  *  - [[cohortRetention]] — weekly signup-cohort retention over the events
  *    stream, the canonical product-analytics triangle table.
  *  - [[eventTransitions]] — first-order Markov transition matrix between
  *    event types per user session stream.
  *
  * All three keep the project's determinism rules: total output order,
  * integer-exact derived metrics (ppm via integer floor division, never a
  * float ratio), identical aliases in plan and oracle.
  */
object BehaviorOps {

  // ------------------------------------------------------------ co-purchase

  // The (order → sorted distinct part set) basket table is the input of
  // BOTH market-basket queries, and inside assoc_rules its collect_set
  // finalization would otherwise execute once per consumer branch (pair
  // expansion, item counts, basket count); fusing them inside one query
  // measured worse (grouping-key filters split the shared subtree). So
  // the basket aggregate is a stored corpus artifact, built once per
  // lineitem version and memoized per session: every consumer reads
  // k·|orders| basket rows, and the fact scan + order-key shuffle + set
  // aggregation run once per corpus version.
  private val basketCache = graft.util.SessionCaches.memo[Unit]("behavior.baskets")

  private[graft] def baskets(s: SparkSession, d: String): DataFrame =
    basketCache(s, d) {
      val fp = graft.util.SilverArtifact.sourceFingerprint(
        s"$d/lineitem.parquet", "baskets-v1-distinct-sorted")
      graft.util.SilverArtifact.getOrBuild(s, graft.util.SilverArtifact.pathFor(d, "baskets"), fp) {
        Tables.lineitem(s, d)
          .groupBy("l_orderkey")
          .agg(sort_array(collect_set("l_partkey")).as("parts"))
      }
        .persistOnce()
    }

  /** Part pairs co-occurring in an order, top-100 by support. Scale shape:
    * ONE shuffle (groupBy orderkey with map-side partial sets), then the
    * pair fan-out runs per order and is bounded by the basket size — a
    * ~7-line order yields ≤21 pairs, so the expansion is linear in orders,
    * never the all-pairs self-join (which would shuffle the fact twice and
    * explode on hot orders). The basket aggregate is the stored
    * [[baskets]] artifact shared with [[assocRules]]. */
  def copurchasePairs(s: SparkSession, d: String): DataFrame =
    baskets(s, d)
      // pair expansion as TWO stacked explodes instead of a nested
      // transform/flatten lambda — the HOF form is a CodegenFallback
      // expression evaluated interpreted per basket (the same trap the
      // contamination gram build documents); posexplode + slice-explode
      // emit the identical (parts[i], parts[j]), j > i pair set through
      // codegen GenerateExec nodes. Same rows, same one-shuffle shape.
      .select(col("parts"), posexplode(col("parts")).as(Seq("i", "p1")))
      .select(col("p1"),
        explode(expr("slice(parts, i + 2, size(parts))")).as("p2"))
      .groupBy("p1", "p2")
      .agg(count(lit(1)).as("n_orders"))
      .orderBy(desc("n_orders"), col("p1"), col("p2"))
      .limit(100)

  val copurchasePairsOracle: String = """
WITH p AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
pr AS (
  SELECT a.l_partkey AS p1, b.l_partkey AS p2
  FROM p a JOIN p b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey)
SELECT p1, p2, count(*) AS n_orders
FROM pr GROUP BY 1, 2
ORDER BY n_orders DESC, p1, p2 LIMIT 100"""

  // -------------------------------------------------------------- retention

  /** Weekly cohort retention: users bucketed by the week of their first
    * event, distinct-user counts per (cohort, week-offset). Scale shape:
    * the first-seen pass is a hash aggregate on user_id (map-side partial
    * min), the join is user-keyed (broadcast at dim scale, shuffle-hash at
    * 100 TB where the user dim itself is big), and the triangle output is
    * O(weeks²) rows regardless of event volume. Week index is exact
    * integer day-arithmetic — no timestamp division. */
  def cohortRetention(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d).select(
      col("user_id"),
      expr("datediff(date(ts), DATE'2024-01-01') div 7").as("wk"))
    val firstSeen = ev.groupBy("user_id").agg(min("wk").as("cohort_wk"))
    ev.join(firstSeen, "user_id")
      .groupBy(col("cohort_wk"), (col("wk") - col("cohort_wk")).as("week_offset"))
      .agg(countDistinct("user_id").as("n_users"))
      .orderBy("cohort_wk", "week_offset")
  }

  val cohortRetentionOracle: String = """
WITH ev AS (
  SELECT user_id,
         CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) // 7 AS BIGINT) AS wk
  FROM events),
f AS (SELECT user_id, min(wk) AS cohort_wk FROM ev GROUP BY 1)
SELECT f.cohort_wk, ev.wk - f.cohort_wk AS week_offset,
       count(DISTINCT ev.user_id) AS n_users
FROM ev JOIN f ON ev.user_id = f.user_id
GROUP BY 1, 2 ORDER BY 1, 2"""

  // ------------------------------------------------------------ transitions

  /** First-order event-type transition matrix with per-source probabilities
    * in exact ppm (integer floor division — both engines compute the same
    * BIGINT). Scale shape: one shuffle on user_id for the lead() window
    * (per-user streams are small), then the matrix aggregate is |types|²
    * rows; the final probability window runs on that tiny matrix. The
    * (ts, event_id) order key is total, so the successor of every event is
    * engine-independent. */
  def eventTransitions(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    Tables.events(s, d)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("next_type", lead("event_type", 1).over(w))
      .filter(col("next_type").isNotNull)
      .groupBy(col("event_type").as("from_type"), col("next_type").as("to_type"))
      .agg(count(lit(1)).as("n_trans"))
      .withColumn("prob_ppm",
        expr("n_trans * 1000000L div sum(n_trans) OVER (PARTITION BY from_type)"))
      .orderBy("from_type", "to_type")
  }

  val eventTransitionsOracle: String = """
WITH seq AS (
  SELECT user_id, event_type,
         lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_type
  FROM events),
t AS (
  SELECT event_type AS from_type, next_type AS to_type, count(*) AS n_trans
  FROM seq WHERE next_type IS NOT NULL GROUP BY 1, 2)
SELECT from_type, to_type, n_trans,
       CAST(n_trans * 1000000 // sum(n_trans) OVER (PARTITION BY from_type) AS BIGINT) AS prob_ppm
FROM t ORDER BY from_type, to_type"""

  // ---------------------------------------------------------------- wiring

  // ------------------------------------------------- rolling active users

  /** Trailing-7-day active users per day (the WAU curve). A DISTINCT over a
    * sliding window cannot use a window function (no distinct-agg frames in
    * either engine) and a 7-way self-join re-scans the input; instead each
    * (user, active-day) pair EXPLODES into the 7 window-end days it
    * contributes to — a bounded ×7 generator — and one hash-agg per day
    * counts distinct users. Linear, partial-agg friendly, and the exact
    * same dataflow handles 30/90-day windows by widening the sequence.
    * Days trail past the last event (a user stays "active this week" for
    * 6 days after their last click) — both engines agree on the full
    * range. */
  def rollingActiveUsers(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select(datediff(to_date(col("ts")), lit("1970-01-01")).cast("long").as("day"),
        col("user_id"))
      .distinct()
      .select(col("user_id"), explode(expr("sequence(day, day + 6)")).as("day"))
      .groupBy("day")
      .agg(countDistinct("user_id").as("wau"))
      .orderBy("day")

  val rollingActiveUsersOracle: String = """
WITH ev AS (
  SELECT DISTINCT
         CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS BIGINT) AS day,
         user_id
  FROM events),
x AS (
  SELECT user_id, CAST(u.d AS BIGINT) AS day
  FROM ev, UNNEST(range(day, day + 7)) AS u(d))
SELECT day, count(DISTINCT user_id) AS wau
FROM x GROUP BY day ORDER BY day"""

  // ------------------------------------------------- first-touch attribution

  /** First-touch marketing attribution: each purchase's revenue goes to
    * the EARLIEST touch event (view/click/signup) in the 30 minutes
    * before it, or to 'direct' when the window is empty. The shape is the
    * [[graft.queries.ChangeOps.pitJoin]] argument again: a user-keyed
    * equi-join carries the interval predicate as a post-filter (never a
    * nested loop), then one purchase-keyed window picks the minimum
    * (ts, event_id) touch — a total order, so attribution is
    * engine-independent. Per-user activity bounds the join fan-out; at
    * 100 TB both sides shuffle once on user_id and the window runs on the
    * purchase key, so no stage sees more than the windowed candidates. */
  def attributionFirstTouch(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("p_ts"),
        col("event_id").as("p_id"), col("value"))
    val touches = ev.filter(col("event_type").isin("view", "click", "signup"))
      .select(col("user_id"), col("ts").as("t_ts"),
        col("event_id").as("t_id"), col("event_type").as("channel"))
    val w = Window.partitionBy("p_id").orderBy("t_ts", "t_id")
    val firstTouch = purchases.join(touches, Seq("user_id"))
      .filter(col("t_ts") >= col("p_ts") - expr("INTERVAL 30 MINUTES") &&
        col("t_ts") < col("p_ts"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("p_id"), col("channel"))
    purchases.join(firstTouch, Seq("p_id"), "left")
      .withColumn("channel", coalesce(col("channel"), lit("direct")))
      .groupBy("channel")
      .agg(count(lit(1)).as("n_purchases"), round(sum("value"), 2).as("revenue"))
      .orderBy("channel")
  }

  val attributionFirstTouchOracle: String = """
WITH p AS (
  SELECT event_id AS p_id, user_id, ts AS p_ts, value
  FROM events WHERE event_type = 'purchase'),
t AS (
  SELECT user_id, ts AS t_ts, event_id AS t_id, event_type AS channel
  FROM events WHERE event_type IN ('view', 'click', 'signup')),
a AS (
  SELECT p_id, channel,
         row_number() OVER (PARTITION BY p_id ORDER BY t_ts, t_id) AS rn
  FROM p JOIN t USING (user_id)
  WHERE t_ts >= p_ts - INTERVAL 30 MINUTE AND t_ts < p_ts)
SELECT coalesce(a.channel, 'direct') AS channel, count(*) AS n_purchases,
       round(sum(p.value), 2) AS revenue
FROM p LEFT JOIN (SELECT p_id, channel FROM a WHERE rn = 1) a USING (p_id)
GROUP BY 1 ORDER BY 1"""

  // ---------------------------------------------------------- association rules

  /** Market-basket association rules A→B with support, confidence, and lift
    * — the step AFTER [[copurchasePairs]]: raw co-occurrence becomes a
    * directional recommendation score. Metrics are exact integer ppm
    * (conf = n_AB/n_A, lift = n_AB·N/(n_A·n_B) — both cleared of floats by
    * the usual 10^6 floor division), so the ranking hash-gates. Scale
    * shape: the SAME one-shuffle basket expansion as [[copurchasePairs]]
    * but emitting BOTH directions (a rule is ordered); the per-item count
    * table is part-dimension-sized, joined twice with broadcast (at 100 TB
    * the item dim still fits — it is a catalog, not a fact); the scalar
    * basket count rides a broadcast crossJoin. The oracle's all-pairs
    * self-join lives only in DuckDB. */
  def assocRules(s: SparkSession, d: String): DataFrame = {
    // ONE basket aggregate feeds all three statistics — deriving item
    // counts and the basket count from `grouped` (instead of separate
    // distinct/agg passes over lineitem) makes every branch consume the
    // IDENTICAL subtree, so runtime exchange reuse executes the fact
    // scan + order-key shuffle once instead of four times (this plus
    // the canonical-pair halving below measured 3.6 → 1.6 s at sf0.1).
    // `grouped` is the stored [[baskets]] artifact: exchange reuse alone
    // shares the SHUFFLE across the three branches, but each would still
    // finalize the collect_set aggregate; the persisted artifact
    // finalizes it once per corpus version.
    val grouped = baskets(s, d)
    val nOrders = grouped.agg(count(lit(1)).as("n_orders"))
    val items = grouped.select(explode(col("parts")).as("l_partkey"))
      .groupBy("l_partkey").agg(count(lit(1)).as("n_item"))
    // expand CANONICAL pairs only (u < v — half the generator fan-out and
    // shuffle volume of emitting both directions raw), then mirror the
    // counted pair table: co-occurrence is symmetric, so both rule
    // orientations share one support count
    // same codegen pair expansion as copurchasePairs — two stacked
    // explodes, not the interpreted nested-lambda flatten (identical
    // (parts[i], parts[j]), j > i pair set). Folding items/nOrders into
    // one tally aggregate does not help: the consumers' grouping-key
    // filters push below the shared aggregate, split the subtree, and
    // the basket explode runs 7× instead of 3.
    val canon = grouped
      .select(col("parts"), posexplode(col("parts")).as(Seq("i", "a")))
      .select(col("a"),
        explode(expr("slice(parts, i + 2, size(parts))")).as("b"))
      .groupBy(col("a").as("p1"), col("b").as("p2"))
      .agg(count(lit(1)).as("n_ab"))
      .filter(col("n_ab") >= 2)
    // mirror via ONE explode of a 2-struct array, not a unionAll of two
    // selects — the union's branches would be two separate consumers of
    // `canon`, so the pair table's FINAL hash aggregate (and its
    // exchange read) would execute twice; the explode emits the identical
    // row multiset from a single execution of the aggregate
    val pairs = canon
      .select(explode(array(
        struct(col("p1").as("antecedent"), col("p2").as("consequent"), col("n_ab")),
        struct(col("p2").as("antecedent"), col("p1").as("consequent"), col("n_ab"))))
        .as("r"))
      .select("r.antecedent", "r.consequent", "r.n_ab")
    pairs
      .join(broadcast(items.withColumnRenamed("l_partkey", "antecedent")
        .withColumnRenamed("n_item", "n_a")), "antecedent")
      .join(broadcast(items.withColumnRenamed("l_partkey", "consequent")
        .withColumnRenamed("n_item", "n_b")), "consequent")
      .crossJoin(broadcast(nOrders))
      .withColumn("conf_ppm", expr("n_ab * 1000000L DIV n_a"))
      .withColumn("lift_ppm", expr("n_ab * n_orders * 1000000L DIV (n_a * n_b)"))
      .select("antecedent", "consequent", "n_ab", "conf_ppm", "lift_ppm")
      .orderBy(desc("lift_ppm"), desc("conf_ppm"), col("antecedent"), col("consequent"))
      .limit(100)
  }

  val assocRulesOracle: String = """
WITH p AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
n AS (SELECT count(DISTINCT l_orderkey) AS n_orders FROM p),
i AS (SELECT l_partkey, count(*) AS n_item FROM p GROUP BY 1),
pr AS (
  SELECT a.l_partkey AS antecedent, b.l_partkey AS consequent, count(*) AS n_ab
  FROM p a JOIN p b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
  GROUP BY 1, 2 HAVING count(*) >= 2)
SELECT antecedent, consequent, n_ab,
       CAST(n_ab * 1000000 // ia.n_item AS BIGINT) AS conf_ppm,
       CAST(n_ab * n.n_orders * 1000000 // (ia.n_item * ic.n_item) AS BIGINT) AS lift_ppm
FROM pr
JOIN i ia ON ia.l_partkey = antecedent
JOIN i ic ON ic.l_partkey = consequent
CROSS JOIN n
ORDER BY lift_ppm DESC, conf_ppm DESC, antecedent, consequent LIMIT 100"""

  // ------------------------------------------------------- RFM segmentation

  /** RFM (recency / frequency / monetary) customer segmentation — the
    * classic CRM scoring grid. Per customer: days since last order
    * (against the corpus max date, so the query is reproducible), order
    * count, and lifetime cents; each metric quintile-scored 1–5 by
    * ntile(5) with a total (metric, custkey) tie-break so bucket edges
    * are engine-exact; the 125 (r,f,m) cells roll up with a rule-based
    * segment label. Output is the cell grid, not per-customer rows — the
    * hash covers every cell count and the label logic. Scale shape: one
    * fact-side hash-agg on custkey; the three rankings run as one
    * range-exchanged ntile over (score, customer) rows
    * ([[graft.ops.Ranks]]), never in one task. */
  def rfmSegments(s: SparkSession, d: String): DataFrame = {
    val per = Tables.orders(s, d)
      .groupBy(col("o_custkey").as("custkey"))
      .agg(max(datediff(to_date(col("o_orderdate")), lit("1970-01-01")))
        .cast("long").as("last_day"),
        count(lit(1)).as("f"),
        sum(expr("CAST(floor(o_totalprice * 100) AS BIGINT)")).as("cents"))
    val maxDay = per.agg(max("last_day").as("max_day"))
    val base = per.crossJoin(broadcast(maxDay))
      .withColumn("days_since", col("max_day") - col("last_day"))
    // one row per (customer, score) ranks all three orders in one pass,
    // each score its own group; recency ranks the longest absence first
    def key(score: String, k: Column) = struct(lit(score).as("score"), k.as("key"))
    val keyed = base
      .select(col("custkey"), col("cents"), explode(array(
        key("r", -col("days_since")), key("f", col("f")), key("m", col("cents")))).as("k"))
      .select(col("custkey"), col("cents"), col("k.score").as("score"), col("k.key").as("key"))
    def tile(score: String) = max(when(col("score") === score, col("tile"))).as(s"${score}_score")
    val scored = Ranks.ntile(keyed, 5, Seq("score"), Seq(col("key"), col("custkey")), "tile")
      .groupBy("custkey")
      .agg(tile("r"), tile("f"), tile("m"), max("cents").as("cents"))
    scored.groupBy("r_score", "f_score", "m_score")
      .agg(count(lit(1)).as("n_customers"), sum("cents").as("total_cents"))
      .withColumn("segment", expr(
        """CASE WHEN r_score >= 4 AND f_score >= 4 THEN 'champion'
          |     WHEN r_score >= 4 THEN 'recent'
          |     WHEN f_score >= 4 THEN 'at_risk'
          |     ELSE 'regular' END""".stripMargin))
      .orderBy("r_score", "f_score", "m_score")
  }

  val rfmSegmentsOracle: String = """
WITH per AS (
  SELECT o_custkey AS custkey,
         CAST(max(date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))) AS BIGINT) AS last_day,
         count(*) AS f,
         CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM orders GROUP BY 1),
mx AS (SELECT max(last_day) AS max_day FROM per),
sc AS (
  SELECT custkey, f, cents,
         CAST(ntile(5) OVER (ORDER BY max_day - last_day DESC, custkey) AS BIGINT) AS r_score,
         CAST(ntile(5) OVER (ORDER BY f, custkey) AS BIGINT) AS f_score,
         CAST(ntile(5) OVER (ORDER BY cents, custkey) AS BIGINT) AS m_score
  FROM per CROSS JOIN mx)
SELECT r_score, f_score, m_score, count(*) AS n_customers,
       CAST(sum(cents) AS BIGINT) AS total_cents,
       CASE WHEN r_score >= 4 AND f_score >= 4 THEN 'champion'
            WHEN r_score >= 4 THEN 'recent'
            WHEN f_score >= 4 THEN 'at_risk'
            ELSE 'regular' END AS segment
FROM sc GROUP BY 1, 2, 3 ORDER BY 1, 2, 3"""

  // ------------------------------------------------------ ABC classification

  /** ABC (Pareto) inventory classification: parts ranked by revenue,
    * class A = the head covering 80% of revenue, B = the next 15%,
    * C = the tail — the cycle-count prioritization every inventory
    * system runs. Class boundaries are exact integer CROSS-MULTIPLIED
    * comparisons (running·100 ≤ total·80 — no percentage division to
    * floor differently), and the running sum orders by (cents DESC,
    * partkey) so ties are engine-identical. Scale shape: one fact
    * hash-agg on partkey; the running sum runs over range-exchanged parts
    * ([[graft.ops.Ranks.runningSum]]), never in one task; output is the
    * 3-row class summary. */
  def abcClassification(s: SparkSession, d: String): DataFrame = {
    val rev = Tables.lineitem(s, d)
      .groupBy(col("l_partkey"))
      .agg(sum(expr("CAST(floor(l_extendedprice * 100) AS BIGINT)")).as("cents"))
    val tot = rev.agg(sum("cents").as("total"))
    Ranks.runningSum(rev.crossJoin(broadcast(tot)),
        Seq(desc("cents"), col("l_partkey")), "cents", "running")
      .withColumn("abc_class", expr(
        """CASE WHEN running * 100 <= total * 80 THEN 'A'
          |     WHEN running * 100 <= total * 95 THEN 'B'
          |     ELSE 'C' END""".stripMargin))
      .groupBy("abc_class")
      .agg(count(lit(1)).as("n_parts"), sum("cents").as("class_cents"),
        expr("sum(cents) * 1000000L DIV max(total)").as("share_ppm"))
      .orderBy("abc_class")
  }

  val abcClassificationOracle: String = """
WITH rev AS (
  SELECT l_partkey, CAST(sum(CAST(floor(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM lineitem GROUP BY 1),
t AS (SELECT CAST(sum(cents) AS BIGINT) AS total FROM rev),
r AS (
  SELECT cents, total,
         CAST(sum(cents) OVER (ORDER BY cents DESC, l_partkey
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS running
  FROM rev CROSS JOIN t),
c AS (
  SELECT cents, total,
         CASE WHEN running * 100 <= total * 80 THEN 'A'
              WHEN running * 100 <= total * 95 THEN 'B'
              ELSE 'C' END AS abc_class
  FROM r)
SELECT abc_class, count(*) AS n_parts, CAST(sum(cents) AS BIGINT) AS class_cents,
       CAST(sum(cents) * 1000000 // max(total) AS BIGINT) AS share_ppm
FROM c GROUP BY 1 ORDER BY 1"""

  // ------------------------------------------------------ segment migration

  /** Year-over-year spend-quartile migration matrix: customers quartiled
    * by 1995 spend and again by 1996 spend (total-tie-break ntile(4), the
    * engine-exact bucketing), paired per customer so year-entries and
    * churn are first-class (bucket 0 = absent that year), and reduced to
    * the (from, to) transition matrix with exact row-share ppm — the
    * customer-lifecycle flow a growth dashboard reads as a Sankey. One
    * fact hash-agg on (year, custkey), both years quartiled in one
    * range-exchanged ntile grouped by year ([[graft.ops.Ranks]]), one
    * per-customer aggregate pairing them, ≤25-cell output. */
  def segmentMigration(s: SparkSession, d: String): DataFrame = {
    val spend = Tables.orders(s, d)
      .filter(year(col("o_orderdate")).isin(1995, 1996))
      .groupBy(year(col("o_orderdate")).as("y"), col("o_custkey").as("custkey"))
      .agg(sum(expr("CAST(floor(o_totalprice * 100) AS BIGINT)")).as("cents"))
    // a customer with no orders in a year has no row for it: bucket 0
    def bucket(y: Int) = coalesce(max(when(col("y") === y, col("q"))), lit(0L))
    Ranks.ntile(spend, 4, Seq("y"), Seq(col("cents"), col("custkey")), "q")
      .groupBy("custkey")
      .agg(bucket(1995).as("from_q"), bucket(1996).as("to_q"))
      .groupBy("from_q", "to_q")
      .agg(count(lit(1)).as("n_customers"))
      .withColumn("row_share_ppm", expr(
        "n_customers * 1000000L div sum(n_customers) OVER (PARTITION BY from_q)"))
      .orderBy("from_q", "to_q")
  }

  val segmentMigrationOracle: String = """
WITH y95 AS (
  SELECT o_custkey AS custkey,
         CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM orders WHERE year(o_orderdate) = 1995 GROUP BY 1),
y96 AS (
  SELECT o_custkey AS custkey,
         CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM orders WHERE year(o_orderdate) = 1996 GROUP BY 1),
q95 AS (SELECT custkey, CAST(ntile(4) OVER (ORDER BY cents, custkey) AS BIGINT) AS from_q FROM y95),
q96 AS (SELECT custkey, CAST(ntile(4) OVER (ORDER BY cents, custkey) AS BIGINT) AS to_q FROM y96),
m AS (
  SELECT coalesce(q95.from_q, 0) AS from_q, coalesce(q96.to_q, 0) AS to_q
  FROM q95 FULL OUTER JOIN q96 ON q95.custkey = q96.custkey),
g AS (SELECT from_q, to_q, count(*) AS n_customers FROM m GROUP BY 1, 2)
SELECT from_q, to_q, n_customers,
       CAST(n_customers * 1000000 // sum(n_customers) OVER (PARTITION BY from_q) AS BIGINT) AS row_share_ppm
FROM g ORDER BY from_q, to_q"""

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "assoc_rules"       -> (assocRules _),
    "rfm_segments"      -> (rfmSegments _),
    "abc_classification" -> (abcClassification _),
    "segment_migration" -> (segmentMigration _),
    "copurchase_pairs"  -> (copurchasePairs _),
    "cohort_retention"  -> (cohortRetention _),
    "event_transitions" -> (eventTransitions _),
    "rolling_active_users" -> (rollingActiveUsers _),
    "attribution_first_touch" -> (attributionFirstTouch _)
  )

  val oracleSql: Map[String, String] = Map(
    "assoc_rules"       -> assocRulesOracle,
    "rfm_segments"      -> rfmSegmentsOracle,
    "abc_classification" -> abcClassificationOracle,
    "segment_migration" -> segmentMigrationOracle,
    "copurchase_pairs"  -> copurchasePairsOracle,
    "cohort_retention"  -> cohortRetentionOracle,
    "rolling_active_users" -> rollingActiveUsersOracle,
    "event_transitions" -> eventTransitionsOracle,
    "attribution_first_touch" -> attributionFirstTouchOracle
  )
}
