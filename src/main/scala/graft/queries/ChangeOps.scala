package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.util.SilverArtifact

/** Change-data / sampling operators:
  *
  *  - [[scd1Upsert]] — MERGE-style SCD-type-1 upsert composed from a full
  *    outer join + column-wise coalesce: updates overwrite matching keys,
  *    inserts append new keys, untouched rows pass through. This is the
  *    upsert path for a plain-parquet lakehouse (Delta/Iceberg MERGE
  *    without the table format); at scale it's one shuffle of base ∪
  *    updates on the key, then an overwrite of the affected partitions.
  *  - [[stratifiedSample]] — deterministic stratified sampling: fixed-size
  *    per-stratum samples ordered by a content hash (md5 — reproducible
  *    across engines AND runs, unlike rand()-based sampleBy). The standard
  *    way to carve eval slices out of a training corpus such that the
  *    sample is stable under reprocessing.
  */
object ChangeOps {

  /** Deterministic "updates batch" derived from the customer table:
    * every 7th key changes (acctbal bump + segment rewrite), every 13th
    * key yields a brand-new synthetic customer. */
  private def updates(s: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(s, d)
    // insert-key offset derived from the data, not a constant: a fixed
    // +1000000 collides with real keys at larger scale factors, silently
    // turning inserts into updates (and breaking the total order when the
    // same key lands in both branches). +1 because c_custkey starts at 0 —
    // an insert derived from key 0 would otherwise land ON max(c_custkey).
    val maxKey = c.agg(max("c_custkey")).head().getLong(0) + 1
    val changed = c.filter(col("c_custkey") % 7 === 0)
      .select(col("c_custkey"),
        col("c_name"),
        round(col("c_acctbal") + 100.0, 2).as("c_acctbal"),
        lit("UPDATED").as("c_mktsegment"))
    val inserted = c.filter(col("c_custkey") % 13 === 0)
      .select((col("c_custkey") + lit(maxKey)).as("c_custkey"),
        concat(lit("NEW "), col("c_name")).as("c_name"),
        lit(0.0).as("c_acctbal"),
        lit("NEWSEG").as("c_mktsegment"))
    changed.unionByName(inserted)
  }

  def scd1Upsert(s: SparkSession, d: String): DataFrame = {
    val base = Tables.customer(s, d)
      .select("c_custkey", "c_name", "c_acctbal", "c_mktsegment")
    val up = updates(s, d)
    base.as("b").join(up.as("u"), base("c_custkey") === up("c_custkey"), "full_outer")
      .select(
        coalesce(col("u.c_custkey"), col("b.c_custkey")).as("c_custkey"),
        coalesce(col("u.c_name"), col("b.c_name")).as("c_name"),
        coalesce(col("u.c_acctbal"), col("b.c_acctbal")).as("c_acctbal"),
        coalesce(col("u.c_mktsegment"), col("b.c_mktsegment")).as("c_mktsegment"))
      .orderBy("c_custkey")
  }

  val scd1UpsertOracle: String = """
WITH up AS (
  SELECT c_custkey, c_name, round(c_acctbal + 100.0, 2) AS c_acctbal,
         'UPDATED' AS c_mktsegment
  FROM customer WHERE c_custkey % 7 = 0
  UNION ALL
  SELECT c_custkey + (SELECT max(c_custkey) + 1 FROM customer),
         concat('NEW ', c_name), 0.0, 'NEWSEG'
  FROM customer WHERE c_custkey % 13 = 0)
SELECT coalesce(u.c_custkey, b.c_custkey) AS c_custkey,
       coalesce(u.c_name, b.c_name) AS c_name,
       coalesce(u.c_acctbal, b.c_acctbal) AS c_acctbal,
       coalesce(u.c_mktsegment, b.c_mktsegment) AS c_mktsegment
FROM customer b FULL OUTER JOIN up u ON b.c_custkey = u.c_custkey
ORDER BY c_custkey"""

  /** SCD-type-2 history build: apply the same deterministic change batch
    * as [[scd1Upsert]], but KEEP history — a changed key's old row is
    * closed out (valid_to = change date, is_current = false) and its new
    * version opened; unchanged rows stay current from the initial load;
    * inserts open at the change date. Three branches, one broadcastable
    * join of base against the (small) change batch — at scale this is the
    * standard one-shuffle SCD2 merge; with a transactional table format
    * the same three branches feed a MERGE with WHEN MATCHED UPDATE +
    * WHEN NOT MATCHED INSERT. Effective dates are fixed literals so both
    * engines derive identical history. */
  def scd2History(s: SparkSession, d: String): DataFrame = {
    // timestamp_ntz (not DATE): the differential harness stringifies
    // values, and a Spark DATE ("2024-06-01") never string-matches a
    // DuckDB DATE surfaced through pandas ("2024-06-01 00:00:00");
    // tz-less timestamps print identically in both engines.
    val init = lit("2024-01-01 00:00:00").cast("timestamp_ntz")
    val chg = lit("2024-06-01 00:00:00").cast("timestamp_ntz")
    val noDate = lit(null).cast("timestamp_ntz")
    val base = Tables.customer(s, d)
      .select("c_custkey", "c_name", "c_acctbal", "c_mktsegment")
    val up = updates(s, d)
    val expired = base.join(broadcast(up.select("c_custkey")), Seq("c_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"), col("c_mktsegment"),
        init.as("valid_from"), chg.as("valid_to"), lit(false).as("is_current"))
    val unchanged = base.join(broadcast(up.select("c_custkey")), Seq("c_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"), col("c_mktsegment"),
        init.as("valid_from"), noDate.as("valid_to"), lit(true).as("is_current"))
    val fresh = up
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"), col("c_mktsegment"),
        chg.as("valid_from"), noDate.as("valid_to"), lit(true).as("is_current"))
    expired.unionByName(unchanged).unionByName(fresh)
      .orderBy("c_custkey", "valid_from")
  }

  val scd2HistoryOracle: String = """
WITH up AS (
  SELECT c_custkey, c_name, round(c_acctbal + 100.0, 2) AS c_acctbal,
         'UPDATED' AS c_mktsegment
  FROM customer WHERE c_custkey % 7 = 0
  UNION ALL
  SELECT c_custkey + (SELECT max(c_custkey) + 1 FROM customer),
         concat('NEW ', c_name), 0.0, 'NEWSEG'
  FROM customer WHERE c_custkey % 13 = 0)
SELECT b.c_custkey, b.c_name, b.c_acctbal, b.c_mktsegment,
       TIMESTAMP '2024-01-01' AS valid_from, TIMESTAMP '2024-06-01' AS valid_to,
       false AS is_current
FROM customer b WHERE EXISTS (SELECT 1 FROM up u WHERE u.c_custkey = b.c_custkey)
UNION ALL
SELECT b.c_custkey, b.c_name, b.c_acctbal, b.c_mktsegment,
       TIMESTAMP '2024-01-01', CAST(NULL AS TIMESTAMP), true
FROM customer b WHERE NOT EXISTS (SELECT 1 FROM up u WHERE u.c_custkey = b.c_custkey)
UNION ALL
SELECT c_custkey, c_name, c_acctbal, c_mktsegment,
       TIMESTAMP '2024-06-01', CAST(NULL AS TIMESTAMP), true
FROM up
ORDER BY c_custkey, valid_from"""

  val SamplePerStratum = 10

  def stratifiedSample(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("c_mktsegment")
      .orderBy(md5(col("c_custkey").cast("string")), col("c_custkey"))
    Tables.customer(s, d)
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= SamplePerStratum)
      .select("c_mktsegment", "rnk", "c_custkey", "c_name")
      .orderBy("c_mktsegment", "rnk")
  }

  val stratifiedSampleOracle: String = s"""
SELECT c_mktsegment, rnk, c_custkey, c_name FROM (
  SELECT c_mktsegment, c_custkey, c_name,
         CAST(row_number() OVER (PARTITION BY c_mktsegment
           ORDER BY md5(CAST(c_custkey AS VARCHAR)), c_custkey) AS INT) AS rnk
  FROM customer) t
WHERE rnk <= $SamplePerStratum
ORDER BY c_mktsegment, rnk"""

  // ------------------------------------------------- deletion propagation

  /** Right-to-be-forgotten cascade: given a deletion list of customer keys
    * (every 97th key — key 0 always qualifies, so the set is non-empty at
    * every scale factor), drop those customers, their orders, and those
    * orders' line items, then report what survives. Scale shape: the
    * deletion list is key-only and tiny relative to the fact tables —
    * explicitly broadcast into an anti-join against orders; the
    * order-cascade leg (orders of deleted customers → lineitem anti-join)
    * is left unhinted because at 100 TB it is fact-vs-1% — a shuffle-hash
    * anti-join on the join key, which AQE picks (and can still demote to
    * broadcast when the runtime size allows). Nothing row-sized ever
    * reaches the driver; in the lakehouse this pairs with the
    * [[graft.util.AtomicTable]] pointer swap to republish the purged
    * tables atomically. */
  def forgetKeys(s: SparkSession, d: String): DataFrame = {
    val del = Tables.customer(s, d)
      .filter(col("c_custkey") % 97 === 0).select("c_custkey")
    val orders = Tables.orders(s, d)
    val keptOrders = orders.join(broadcast(del),
      orders("o_custkey") === del("c_custkey"), "left_anti")
    val deadOrders = orders.join(broadcast(del),
      orders("o_custkey") === del("c_custkey"), "left_semi")
      .select("o_orderkey")
    val keptLines = Tables.lineitem(s, d).join(deadOrders,
      col("l_orderkey") === deadOrders("o_orderkey"), "left_anti")
    val custLeft = Tables.customer(s, d)
      .filter(col("c_custkey") % 97 =!= 0)
      .agg(count(lit(1)).as("n_customers_kept"))
    val ordersLeft = keptOrders.agg(count(lit(1)).as("n_orders_kept"))
    val linesLeft = keptLines.agg(count(lit(1)).as("n_lineitems_kept"),
      sum(expr("CAST(floor(l_extendedprice * 100) AS BIGINT)")).as("kept_cents"))
    custLeft.crossJoin(ordersLeft).crossJoin(linesLeft)
  }

  val forgetKeysOracle: String = """
WITH del AS (SELECT c_custkey FROM customer WHERE c_custkey % 97 = 0),
dead_orders AS (
  SELECT o_orderkey FROM orders WHERE o_custkey IN (SELECT c_custkey FROM del)),
kept_lines AS (
  SELECT * FROM lineitem
  WHERE l_orderkey NOT IN (SELECT o_orderkey FROM dead_orders))
SELECT
  (SELECT count(*) FROM customer WHERE c_custkey % 97 <> 0) AS n_customers_kept,
  (SELECT count(*) FROM orders
   WHERE o_custkey NOT IN (SELECT c_custkey FROM del)) AS n_orders_kept,
  (SELECT count(*) FROM kept_lines) AS n_lineitems_kept,
  (SELECT CAST(sum(CAST(floor(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
   FROM kept_lines) AS kept_cents"""

  // ---------------------------------------------------------------- wiring

  /** POINT-IN-TIME join — the query [[scd2History]] exists to serve, and
    * the correctness property that separates a versioned DWH from a
    * lookup table: each event joins the dimension version whose validity
    * interval CONTAINS the event's timestamp, so an updated user's events
    * before the change date attribute to their OLD segment and events
    * after it to the new one. Rewriting history (joining everything to
    * is_current) silently reclassifies the past; the spec proves the two
    * disagree exactly on pre-change events of changed users, and the
    * coverage identity (every event matches exactly one version) rides
    * the hashed n_events total. Scale shape: equi-join on the key with
    * the interval predicate as a post-join filter — a hash join, not a
    * nested loop, because the key pair is selective (the same shape as
    * `range_join_sessions`); the dimension side is dim-sized, so it is
    * explicitly broadcast — at sf0.01 the planner would otherwise pick
    * whichever side sampled smaller (it picked the FACT side once, the
    * shape a 100 TB events table cannot survive), so the scale-safe
    * build side is pinned in code and asserted by a plan spec, not
    * left to small-scale statistics. The interval comparison happens in
    * the timestamp_ntz domain (events.ts cast to ntz, matching the ntz
    * validity bounds from [[scd2History]]) so the boundary semantics do
    * not depend on spark.sql.session.timeZone. */
  def pitJoin(s: SparkSession, d: String): DataFrame = {
    val hist = scd2History(s, d)
    val ev = Tables.events(s, d)
    val ts = ev("ts").cast("timestamp_ntz")
    ev.join(broadcast(hist),
        ev("user_id") === hist("c_custkey") &&
        ts >= hist("valid_from") &&
        (hist("valid_to").isNull || ts < hist("valid_to")))
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_events"),
        sum(expr("CAST(floor(value * 100) AS BIGINT)")).as("value_cents"))
      .orderBy("c_mktsegment")
  }

  val pitJoinOracle: String = """
WITH up AS (
  SELECT c_custkey, c_name, round(c_acctbal + 100.0, 2) AS c_acctbal,
         'UPDATED' AS c_mktsegment
  FROM customer WHERE c_custkey % 7 = 0
  UNION ALL
  SELECT c_custkey + (SELECT max(c_custkey) + 1 FROM customer),
         concat('NEW ', c_name), 0.0, 'NEWSEG'
  FROM customer WHERE c_custkey % 13 = 0),
hist AS (
  SELECT b.c_custkey, b.c_mktsegment,
         TIMESTAMP '2024-01-01' AS valid_from, TIMESTAMP '2024-06-01' AS valid_to
  FROM customer b WHERE EXISTS (SELECT 1 FROM up u WHERE u.c_custkey = b.c_custkey)
  UNION ALL
  SELECT b.c_custkey, b.c_mktsegment,
         TIMESTAMP '2024-01-01', CAST(NULL AS TIMESTAMP)
  FROM customer b WHERE NOT EXISTS (SELECT 1 FROM up u WHERE u.c_custkey = b.c_custkey)
  UNION ALL
  SELECT c_custkey, c_mktsegment, TIMESTAMP '2024-06-01', CAST(NULL AS TIMESTAMP)
  FROM up)
SELECT h.c_mktsegment, count(*) AS n_events,
       CAST(sum(CAST(floor(e.value * 100) AS BIGINT)) AS BIGINT) AS value_cents
FROM events e JOIN hist h
  ON e.user_id = h.c_custkey
 AND e.ts >= h.valid_from
 AND (h.valid_to IS NULL OR e.ts < h.valid_to)
GROUP BY h.c_mktsegment ORDER BY h.c_mktsegment"""

  /** Bitemporal revision report — the two time axes a warehouse must keep
    * apart, queried JOINTLY: valid time (what the SCD2 intervals say was
    * true in the world) and transaction time (what the store had recorded
    * when — [[graft.util.AtomicTable]] versions). The history table is
    * published twice: v1 before the June change batch was known, v2 after
    * SCD2 recorded it. Both versions are then asked the SAME valid-time
    * question — "who was what on 2024-07-01?" — and the full-outer diff of
    * the answers is exactly the RESTATEMENT report (which believed facts
    * were revised, which arrived late) that audit/compliance queries need;
    * neither axis alone can produce it (valid-time-only loses what was
    * known when; transaction-time-only loses interval semantics). One
    * keyed shuffle over dim-sized inputs; both version reads are plain
    * pinned-directory scans, so the pattern survives any table size. */
  def bitemporalAsof(s: SparkSession, d: String): DataFrame = {
    import graft.util.AtomicTable
    val base = SilverArtifact.pathFor(d, "bitemp/customer_hist")
    AtomicTable.deleteRecursively(java.nio.file.Paths.get(base))
    val init = lit("2024-01-01 00:00:00").cast("timestamp_ntz")
    val noDate = lit(null).cast("timestamp_ntz")
    val hist1 = Tables.customer(s, d)
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"), col("c_mktsegment"),
        init.as("valid_from"), noDate.as("valid_to"), lit(true).as("is_current"))
    AtomicTable.publish(base, keep = 2)(dir =>
      hist1.write.mode("overwrite").parquet(dir))
    AtomicTable.publish(base, keep = 2)(dir =>
      scd2History(s, d).write.mode("overwrite").parquet(dir))
    val versions = AtomicTable.history(base)
    val v = lit("2024-07-01 00:00:00").cast("timestamp_ntz")
    def asOf(df: DataFrame): DataFrame =
      df.filter(col("valid_from") <= v &&
        (col("valid_to").isNull || col("valid_to") > v))
    val belief1 = asOf(AtomicTable.readVersion(s, base, versions.head))
      .select(col("c_custkey"), col("c_mktsegment").as("seg_v1"))
    val belief2 = asOf(AtomicTable.readVersion(s, base, versions.last))
      .select(col("c_custkey").as("k2"), col("c_mktsegment").as("seg_v2"))
    belief1.join(belief2, col("c_custkey") === col("k2"), "full_outer")
      .filter(!(col("seg_v1") <=> col("seg_v2")))
      .select(coalesce(col("c_custkey"), col("k2")).as("c_custkey"),
        col("seg_v1"), col("seg_v2"),
        when(col("seg_v1").isNull, lit("late_arrival"))
          .otherwise(lit("revised")).as("revision"))
      .orderBy("c_custkey")
  }

  /** The report re-derived from the mutation rules: %7 keys were revised
    * to UPDATED, %13-derived inserts arrived late as NEWSEG. */
  val bitemporalAsofOracle: String = """
SELECT c_custkey, c_mktsegment AS seg_v1, 'UPDATED' AS seg_v2,
       'revised' AS revision
FROM customer WHERE c_custkey % 7 = 0
UNION ALL
SELECT c_custkey + (SELECT max(c_custkey) + 1 FROM customer),
       NULL, 'NEWSEG', 'late_arrival'
FROM customer WHERE c_custkey % 13 = 0
ORDER BY c_custkey"""

  // ------------------------------------------------ largest-remainder proration

  /** Exact proration: spread each order's 5% discount across its line
    * items proportionally to price, with the largest-remainder method so
    * the allocated cents SUM EXACTLY to the discount (base share =
    * ⌊D·pᵢ/T⌋ leaves a shortfall < n_lines; the lines with the largest
    * division remainders, tie-broken by line number, each absorb one
    * extra cent) — the allocation every billing/finance pipeline needs
    * and float arithmetic cannot do. All BIGINT. Output is the per-order
    * reconciliation (alloc_sum, extremes, bumped-line count), which pins
    * every per-line allocation through the hash. Scale shape: one
    * shuffle on the order key serves BOTH windows (total + remainder
    * rank — baskets are ≤7 lines); the discount side is an
    * order-key-aligned join; the final rollup reuses the same key. */
  def prorateAllocation(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d).select(col("l_orderkey"), col("l_linenumber"),
      expr("CAST(floor(l_extendedprice * 100) AS BIGINT)").as("price_cents"))
    val disc = Tables.orders(s, d).select(col("o_orderkey"),
      expr("CAST(floor(o_totalprice * 100) AS BIGINT) DIV 20").as("disc_cents"))
    val wOrd = Window.partitionBy("l_orderkey")
    li.join(disc, col("l_orderkey") === col("o_orderkey"))
      .withColumn("total_cents", sum("price_cents").over(wOrd))
      .withColumn("base", expr("disc_cents * price_cents DIV total_cents"))
      .withColumn("rem", expr("(disc_cents * price_cents) % total_cents"))
      .withColumn("shortfall",
        expr("disc_cents - sum(base) OVER (PARTITION BY l_orderkey)"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("l_orderkey").orderBy(desc("rem"), col("l_linenumber"))))
      .withColumn("alloc", expr("base + CASE WHEN rk <= shortfall THEN 1L ELSE 0L END"))
      .groupBy(col("o_orderkey"), col("disc_cents"))
      .agg(count(lit(1)).as("n_lines"), sum("alloc").as("alloc_sum"),
        max("alloc").as("max_alloc"), min("alloc").as("min_alloc"),
        sum(expr("CASE WHEN rk <= shortfall THEN 1L ELSE 0L END")).as("bumped"))
      .orderBy("o_orderkey")
  }

  val prorateAllocationOracle: String = """
WITH li AS (
  SELECT l_orderkey, l_linenumber,
         CAST(floor(l_extendedprice * 100) AS BIGINT) AS price_cents
  FROM lineitem),
o AS (
  SELECT o_orderkey, CAST(floor(o_totalprice * 100) AS BIGINT) // 20 AS disc_cents
  FROM orders),
x AS (
  SELECT li.*, o.o_orderkey, o.disc_cents,
         sum(price_cents) OVER (PARTITION BY l_orderkey) AS total_cents
  FROM li JOIN o ON li.l_orderkey = o.o_orderkey),
y AS (
  SELECT *, disc_cents * price_cents // total_cents AS base,
         (disc_cents * price_cents) % total_cents AS rem
  FROM x),
z AS (
  SELECT *, disc_cents - sum(base) OVER (PARTITION BY l_orderkey) AS shortfall,
         row_number() OVER (PARTITION BY l_orderkey ORDER BY rem DESC, l_linenumber) AS rk
  FROM y)
SELECT o_orderkey, disc_cents, count(*) AS n_lines,
       CAST(sum(base + CASE WHEN rk <= shortfall THEN 1 ELSE 0 END) AS BIGINT) AS alloc_sum,
       CAST(max(base + CASE WHEN rk <= shortfall THEN 1 ELSE 0 END) AS BIGINT) AS max_alloc,
       CAST(min(base + CASE WHEN rk <= shortfall THEN 1 ELSE 0 END) AS BIGINT) AS min_alloc,
       CAST(sum(CASE WHEN rk <= shortfall THEN 1 ELSE 0 END) AS BIGINT) AS bumped
FROM z GROUP BY o_orderkey, disc_cents ORDER BY o_orderkey"""

  // ------------------------------------------------ late-arriving dimension

  /** Late-arriving-dimension handling: facts referencing customers the
    * dimension batch has not delivered yet get an INFERRED skeleton
    * member (the Kimball pattern), and the late dim batch later backfills
    * the real attributes in place — key stability means no fact rewrite.
    * Simulated by withholding every 13th customer from the on-time dim;
    * output is the inferred ledger (fact rollup + before/after
    * attributes). Scale shape: the membership probe is a fact-side
    * left join on the dim key (broadcast at dim scale, shuffle-hash at
    * 100 TB); the backfill joins ONLY the inferred subset against the
    * late batch — cost ∝ late rows, never the fact. */
  def inferredDimBackfill(s: SparkSession, d: String): DataFrame = {
    val cust = Tables.customer(s, d)
    val onTime = cust.filter(col("c_custkey") % 13 =!= 0)
      .select(col("c_custkey").as("custkey"), col("c_name"))
    val late = cust.filter(col("c_custkey") % 13 === 0)
      .select(col("c_custkey").as("custkey"), col("c_name").as("late_name"),
        col("c_mktsegment").as("late_seg"))
    val facts = Tables.orders(s, d).groupBy(col("o_custkey").as("custkey"))
      .agg(count(lit(1)).as("n_orders"),
        sum(expr("CAST(floor(o_totalprice * 100) AS BIGINT)")).as("total_cents"))
    facts.join(onTime, Seq("custkey"), "left")
      .filter(col("c_name").isNull)
      .join(late, Seq("custkey"), "left")
      .select(col("custkey"), col("n_orders"), col("total_cents"),
        lit("INFERRED").as("status_before"),
        coalesce(col("late_name"), lit("STILL_MISSING")).as("name_after"),
        coalesce(col("late_seg"), lit("UNKNOWN")).as("segment_after"))
      .orderBy("custkey")
  }

  val inferredDimBackfillOracle: String = """
WITH facts AS (
  SELECT o_custkey AS custkey, count(*) AS n_orders,
         CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total_cents
  FROM orders GROUP BY 1),
ontime AS (SELECT c_custkey AS custkey, c_name FROM customer WHERE c_custkey % 13 <> 0),
late AS (SELECT c_custkey AS custkey, c_name AS late_name, c_mktsegment AS late_seg
         FROM customer WHERE c_custkey % 13 = 0)
SELECT f.custkey, f.n_orders, f.total_cents,
       'INFERRED' AS status_before,
       coalesce(l.late_name, 'STILL_MISSING') AS name_after,
       coalesce(l.late_seg, 'UNKNOWN') AS segment_after
FROM facts f
LEFT JOIN ontime o ON f.custkey = o.custkey
LEFT JOIN late l ON f.custkey = l.custkey
WHERE o.c_name IS NULL
ORDER BY f.custkey"""

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "prorate_allocation"    -> (prorateAllocation _),
    "inferred_dim_backfill" -> (inferredDimBackfill _),
    "scd1_upsert"       -> (scd1Upsert _),
    "scd2_history"      -> (scd2History _),
    "pit_join"          -> (pitJoin _),
    "bitemporal_asof"   -> (bitemporalAsof _),
    "stratified_sample" -> (stratifiedSample _),
    "forget_keys"       -> (forgetKeys _)
  )

  val oracleSql: Map[String, String] = Map(
    "prorate_allocation"    -> prorateAllocationOracle,
    "inferred_dim_backfill" -> inferredDimBackfillOracle,
    "scd1_upsert"       -> scd1UpsertOracle,
    "scd2_history"      -> scd2HistoryOracle,
    "pit_join"          -> pitJoinOracle,
    "bitemporal_asof"   -> bitemporalAsofOracle,
    "stratified_sample" -> stratifiedSampleOracle,
    "forget_keys"       -> forgetKeysOracle
  )
}
