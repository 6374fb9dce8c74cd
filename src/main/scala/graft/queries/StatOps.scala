package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Statistical / windowed analytics beyond the reference's five queries
  * (SURVEY.md §2.5 marks windows ABSENT in the reference — this module
  * extends the window family the engine already built in [[RelOps]]):
  *
  *  - [[windowRangeFrame]] — time-RANGE window frames (rolling 30-day
  *    spend per customer): value-based frames, not row-counted ones.
  *  - [[ntileDeciles]] — equi-depth decile assignment per order-status
  *    partition (ntile) reduced to per-decile revenue stats.
  *  - [[outlierZscore]] — classic two-pass z-score outlier screen per
  *    event type (the numeric cousin of the text quality filters).
  *  - [[embeddingCovariance]] — the upper triangle of the corpus
  *    embedding Gram/covariance matrix, integer-exact via micro-unit
  *    quantization: the one-pass distributed linear-algebra reduction
  *    behind PCA/whitening of an embedding store.
  *
  * Determinism: cents/micro-unit BIGINT arithmetic wherever a sum feeds
  * the hash; stats that are inherently floating (stddev, mean) are
  * rounded to 4dp in BOTH engines before comparison.
  */
object StatOps {

  // ------------------------------------------------------- time-RANGE frame

  /** Rolling 30-day spend per customer via a RANGE frame over the epoch-day
    * ordering — a value-based frame (all orders within 29 preceding days),
    * which rows-based frames cannot express when order density varies.
    * Scale shape: one shuffle on o_custkey (the window partition key), then
    * a linear per-partition sweep; cents arithmetic keeps the rolling sum
    * hash-exact. Peer rows (same customer, same day) correctly share one
    * frame, so tie order never matters. */
  def windowRangeFrame(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d).select(
      col("o_custkey"), col("o_orderkey"),
      datediff(to_date(col("o_orderdate")), lit("1970-01-01")).cast("long").as("day"),
      expr("CAST(floor(o_totalprice * 100) AS BIGINT)").as("cents"))
    val w = Window.partitionBy("o_custkey").orderBy("day").rangeBetween(-29, 0)
    o.withColumn("spend_30d_cents", sum("cents").over(w))
      .orderBy("o_custkey", "day", "o_orderkey")
  }

  val windowRangeFrameOracle: String = """
WITH o AS (
  SELECT o_custkey, o_orderkey,
         CAST(date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS day,
         CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders)
SELECT o_custkey, o_orderkey, day, cents,
       CAST(sum(cents) OVER (PARTITION BY o_custkey ORDER BY day
            RANGE BETWEEN 29 PRECEDING AND CURRENT ROW) AS BIGINT) AS spend_30d_cents
FROM o ORDER BY o_custkey, day, o_orderkey"""

  // ----------------------------------------------------------- ntile deciles

  /** Equi-depth deciles of order value within each order status —
    * EXACT ntile(10) semantics with a full deterministic tie-break,
    * reduced to per-decile count and revenue, computed WITHOUT a
    * per-group window. A windowed ntile PARTITION BY o_orderstatus
    * funnels each status through ONE task (3 tasks for the whole fact —
    * 18.5 s at sf10, a parallelism ceiling that only worsens with
    * scale). Instead [[graft.ops.Ranks.ntile]]: a range exchange on the
    * window's total order, per-range status counts collected in one
    * pass, each row's rank within its status from them, and ntile's
    * closed form. The oracle states the true windowed ntile, so the gate
    * IS the equivalence proof of the closed form. */
  def ntileDeciles(s: SparkSession, d: String): DataFrame = {
    val base = Tables.orders(s, d)
      .select(col("o_orderstatus"), col("o_orderkey"),
        expr("CAST(floor(o_totalprice * 100) AS BIGINT)").as("cents"))
    // o_orderkey is unique, so the order is strict and deterministic
    graft.ops.Ranks.ntile(base, 10, Seq("o_orderstatus"), Seq(col("cents"), col("o_orderkey")), "decile")
      .groupBy("o_orderstatus", "decile")
      .agg(count(lit(1)).as("n"),
        min("cents").as("min_cents"),
        max("cents").as("max_cents"),
        sum("cents").as("sum_cents"))
      .orderBy("o_orderstatus", "decile")
  }

  val ntileDecilesOracle: String = """
WITH o AS (
  SELECT o_orderstatus, o_orderkey,
         CAST(floor(o_totalprice * 100) AS BIGINT) AS cents,
         ntile(10) OVER (PARTITION BY o_orderstatus
                         ORDER BY CAST(floor(o_totalprice * 100) AS BIGINT),
                                  o_orderkey) AS decile
  FROM orders)
SELECT o_orderstatus, decile, count(*) AS n,
       min(cents) AS min_cents, max(cents) AS max_cents,
       CAST(sum(cents) AS BIGINT) AS sum_cents
FROM o GROUP BY 1, 2 ORDER BY 1, 2"""

  // --------------------------------------------------------- z-score outliers

  /** Two-pass outlier screen: per event type compute mean/stddev, then
    * count events beyond 2σ. Scale shape: pass 1 is a hash-agg to a
    * types-sized frame; pass 2 joins it back (broadcast — the stats side is
    * tiny by construction) and re-aggregates. Nothing event-sized ever sits
    * on the driver.
    *
    * Determinism: a naive avg()/stddev_samp() over doubles
    * sums in partition order — Spark and DuckDB can disagree in the last
    * ulps, flipping events sitting ON the 2σ boundary. So values are
    * quantized to exact integer micro-units first; n, Σv, Σv² are
    * order-independent integer sums (Σv² in DECIMAL(38)), and µ/σ come
    * from ONE fixed-association double formula evaluated identically on
    * both engines — the boundary cut is bit-deterministic. Quantization at
    * 1e-6 of the value unit is far below any physical meaning of a 2σ
    * screen. */
  def outlierZscore(s: SparkSession, d: String): DataFrame = {
    val e = Tables.events(s, d).select(col("event_type"),
      expr("CAST(floor(value * 1000000) AS BIGINT)").as("vq"))
    val st = e.groupBy("event_type").agg(
        count(lit(1)).as("n"),
        sum("vq").as("s1"),
        sum(expr("CAST(vq AS DECIMAL(38,0)) * vq")).as("s2"))
      .select(col("event_type"),
        expr("CAST(s1 AS DOUBLE) / n").as("mu_q"),
        expr("sqrt((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n) / (n - 1))").as("sd_q"))
    e.join(broadcast(st), "event_type")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(when(abs(col("vq").cast("double") - col("mu_q")) > col("sd_q") * 2, 1L)
          .otherwise(0L)).as("n_outliers"),
        round(expr("first(mu_q) / CAST(1000000 AS DOUBLE)"), 4).as("mu"),
        round(expr("first(sd_q) / CAST(1000000 AS DOUBLE)"), 4).as("sd"))
      .orderBy("event_type")
  }

  val outlierZscoreOracle: String = """
WITH q AS (
  SELECT event_type, CAST(floor(value * 1000000) AS BIGINT) AS vq FROM events),
st AS (
  SELECT event_type, count(*) AS n, sum(vq) AS s1,
         sum(CAST(vq AS HUGEINT) * vq) AS s2
  FROM q GROUP BY 1),
dd AS (
  SELECT event_type,
         CAST(s1 AS DOUBLE) / n AS mu_q,
         sqrt((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n) / (n - 1)) AS sd_q
  FROM st)
SELECT q.event_type, count(*) AS n,
       CAST(count(*) FILTER (WHERE abs(CAST(vq AS DOUBLE) - mu_q) > sd_q * 2) AS BIGINT) AS n_outliers,
       round(any_value(mu_q) / CAST(1000000 AS DOUBLE), 4) AS mu,
       round(any_value(sd_q) / CAST(1000000 AS DOUBLE), 4) AS sd
FROM q JOIN dd USING (event_type)
GROUP BY 1 ORDER BY 1"""

  // ----------------------------------------------------------- forward fill

  /** Last-observation-carried-forward: every event carries the user's most
    * recent purchase value (NULL until their first purchase) — the
    * sensor-gap / sparse-feature fill every time-series pipeline needs.
    * One ignore-nulls window over a (partition, time, tiebreak) order:
    * a single shuffle on user_id, linear per-partition scan; the same
    * machinery [[graft.ops.AsOf]] builds its point-in-time join from. */
  def forwardFill(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(s, d)
      .select(col("event_id"), col("user_id"), col("ts"), col("event_type"),
        when(col("event_type") === "purchase", col("value")).as("pv"))
      .withColumn("last_purchase_value",
        round(last(col("pv"), ignoreNulls = true).over(w), 6))
      .select("event_id", "user_id", "event_type", "last_purchase_value")
      .orderBy("event_id")
  }

  val forwardFillOracle: String = """
SELECT event_id, user_id, event_type,
       round(last_value(CASE WHEN event_type = 'purchase' THEN value END
             IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6)
         AS last_purchase_value
FROM events ORDER BY event_id"""

  // --------------------------------------------------------------- MAD

  /** Median absolute deviation per event type — the ROBUST spread measure
    * ([[outlierZscore]]'s stddev is inflated by the very outliers it
    * screens; MAD is not). Exact and engine-neutral because
    * percentile_disc picks actual data values (no interpolation): pass 1
    * takes the per-type median, pass 2 the median of absolute deviations
    * from it. Scale shape: two hash-aggs with the types-sized median frame
    * broadcast between them — same two-pass join-back as the z-score
    * screen, no window over the data. */
  def robustMad(s: SparkSession, d: String): DataFrame = {
    val e = Tables.events(s, d).select("event_type", "value")
    val med = e.groupBy("event_type")
      .agg(expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY value)").as("med"))
    e.join(broadcast(med), "event_type")
      .select(col("event_type"), col("med"),
        abs(col("value") - col("med")).as("ad"))
      .groupBy("event_type", "med")
      .agg(expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY ad)").as("mad"),
        count(lit(1)).as("n"))
      .select(col("event_type"), round(col("med"), 6).as("med"),
        round(col("mad"), 6).as("mad"), col("n"))
      .orderBy("event_type")
  }

  val robustMadOracle: String = """
WITH med AS (
  SELECT event_type,
         percentile_disc(0.5) WITHIN GROUP (ORDER BY value) AS med
  FROM events GROUP BY 1),
dev AS (
  SELECT e.event_type, m.med, abs(e.value - m.med) AS ad
  FROM events e JOIN med m USING (event_type))
SELECT event_type, round(med, 6) AS med,
       round(percentile_disc(0.5) WITHIN GROUP (ORDER BY ad), 6) AS mad,
       count(*) AS n
FROM dev GROUP BY event_type, med ORDER BY event_type"""

  // --------------------------------------------------- embedding covariance

  /** Upper triangle of the corpus Gram matrix G[i][j] = Σ_rows q_i·q_j over
    * micro-unit-quantized embeddings (floor(x·1000) as BIGINT — identical
    * double→int in both engines, so the reduction is hash-exact). This is
    * the distributed reduction at the heart of PCA / covariance whitening
    * of an embedding store: each row contributes its outer product, partial
    * sums combine map-side, and only the dim²-sized triangle (2080 rows for
    * dim 64) ever shuffles. The j ≥ i constraint is applied INSIDE the
    * generator (slice from i) so no filtered-out pair is ever produced. */
  def embeddingCovariance(s: SparkSession, d: String): DataFrame =
    Tables.fanout(s, Tables.embeddings(s, d))
      .select(expr("transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT))").as("q"))
      .select(posexplode(col("q")).as(Seq("i", "qi")), col("q"))
      .select(col("i"), col("qi"),
        posexplode(expr("slice(q, i + 1, size(q) - i)")).as(Seq("p", "qj")))
      .select(col("i"), (col("i") + col("p")).as("j"), (col("qi") * col("qj")).as("prod"))
      .groupBy("i", "j")
      .agg(sum("prod").as("gram"))
      .orderBy("i", "j")

  val embeddingCovarianceOracle: String = """
WITH q AS (
  SELECT list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q
  FROM embeddings),
pairs AS (
  SELECT CAST(u.i AS INT) AS i, CAST(v.j AS INT) AS j,
         q.q[CAST(u.i AS INT) + 1] * q.q[CAST(v.j AS INT) + 1] AS prod
  FROM q, UNNEST(range(len(q.q))) AS u(i), UNNEST(range(len(q.q))) AS v(j)
  WHERE v.j >= u.i)
SELECT i, j, CAST(sum(prod) AS BIGINT) AS gram
FROM pairs GROUP BY 1, 2 ORDER BY 1, 2"""

  /** Pairwise Pearson CORRELATION MATRIX over the lineitem numerics, from
    * ONE scan: every moment the 6 pairwise correlations need (4 sums, 4
    * sum-of-squares, 6 cross-sums — 15 accumulators: constant state, the
    * way a 100 TB profile pass has to work) aggregates exactly over
    * 1e-4-quantized BIGINTs (squares/products in DECIMAL(38) — the same
    * discipline as the z-score screen's s2), and each correlation is ONE
    * fixed-association double formula over those exact moments, written
    * identically in both engines. No corr() builtin on raw doubles — its
    * partition-order float summation would not gate. */
  def corrMatrix(s: SparkSession, d: String): DataFrame = {
    val cols = Seq("quantity", "extendedprice", "discount", "tax")
    val q = Tables.lineitem(s, d).select(
      cols.map(c => expr(s"CAST(floor(l_$c * 10000) AS BIGINT)").as(c)): _*)
    val moments =
      Seq(count(lit(1)).cast("decimal(38,0)").as("n")) ++
      // cast INSIDE the sum: a LongType sum of 1e-4-quantized prices
      // overflows 2^63 around 9e9 rows — the scale this pass is for
      cols.map(c => sum(col(c).cast("decimal(38,0)")).as(s"s_$c")) ++
      cols.combinations(2).map { case Seq(a, b) =>
        sum(expr(s"CAST($a AS DECIMAL(38,0)) * $b")).as(s"p_${a}_$b") }.toSeq ++
      cols.map(c => sum(expr(s"CAST($c AS DECIMAL(38,0)) * $c")).as(s"q_$c"))
    val m = q.agg(moments.head, moments.tail: _*)
    def corr(a: String, b: String) = round(
      (expr(s"CAST(n AS DOUBLE) * CAST(p_${a}_$b AS DOUBLE)") -
        expr(s"CAST(s_$a AS DOUBLE) * CAST(s_$b AS DOUBLE)")) /
      sqrt(expr(s"CAST(n AS DOUBLE) * CAST(q_$a AS DOUBLE)") -
        expr(s"CAST(s_$a AS DOUBLE) * CAST(s_$a AS DOUBLE)")) /
      sqrt(expr(s"CAST(n AS DOUBLE) * CAST(q_$b AS DOUBLE)") -
        expr(s"CAST(s_$b AS DOUBLE) * CAST(s_$b AS DOUBLE)")), 4)
    val pairs = cols.combinations(2).toSeq
    val withCorrs = pairs.foldLeft(m) { case (df, Seq(a, b)) =>
      df.withColumn(s"c_${a}_$b", corr(a, b)) }
    withCorrs.select(expr(s"stack(${pairs.size}, " + pairs.map { case Seq(a, b) =>
        s"'$a', '$b', c_${a}_$b" }.mkString(", ") + ") AS (x_col, y_col, corr)"))
      .orderBy("x_col", "y_col")
  }

  val corrMatrixOracle: String = """
WITH q AS (
  SELECT CAST(floor(l_quantity * 10000) AS BIGINT) AS quantity,
         CAST(floor(l_extendedprice * 10000) AS BIGINT) AS extendedprice,
         CAST(floor(l_discount * 10000) AS BIGINT) AS discount,
         CAST(floor(l_tax * 10000) AS BIGINT) AS tax
  FROM lineitem),
m AS (
  SELECT CAST(count(*) AS HUGEINT) AS n,
         sum(quantity) AS s_quantity, sum(extendedprice) AS s_extendedprice,
         sum(discount) AS s_discount, sum(tax) AS s_tax,
         sum(CAST(quantity AS HUGEINT) * extendedprice) AS p_quantity_extendedprice,
         sum(CAST(quantity AS HUGEINT) * discount) AS p_quantity_discount,
         sum(CAST(quantity AS HUGEINT) * tax) AS p_quantity_tax,
         sum(CAST(extendedprice AS HUGEINT) * discount) AS p_extendedprice_discount,
         sum(CAST(extendedprice AS HUGEINT) * tax) AS p_extendedprice_tax,
         sum(CAST(discount AS HUGEINT) * tax) AS p_discount_tax,
         sum(CAST(quantity AS HUGEINT) * quantity) AS q_quantity,
         sum(CAST(extendedprice AS HUGEINT) * extendedprice) AS q_extendedprice,
         sum(CAST(discount AS HUGEINT) * discount) AS q_discount,
         sum(CAST(tax AS HUGEINT) * tax) AS q_tax
  FROM q)
SELECT x_col, y_col,
       round((CAST(n AS DOUBLE) * CAST(p AS DOUBLE)
              - CAST(sa AS DOUBLE) * CAST(sb AS DOUBLE))
             / sqrt(CAST(n AS DOUBLE) * CAST(qa AS DOUBLE)
              - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE))
             / sqrt(CAST(n AS DOUBLE) * CAST(qb AS DOUBLE)
              - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE)), 4) AS corr
FROM (
  SELECT 'discount' AS x_col, 'tax' AS y_col, p_discount_tax AS p,
         s_discount AS sa, s_tax AS sb, q_discount AS qa, q_tax AS qb, n FROM m
  UNION ALL
  SELECT 'extendedprice', 'discount', p_extendedprice_discount,
         s_extendedprice, s_discount, q_extendedprice, q_discount, n FROM m
  UNION ALL
  SELECT 'extendedprice', 'tax', p_extendedprice_tax,
         s_extendedprice, s_tax, q_extendedprice, q_tax, n FROM m
  UNION ALL
  SELECT 'quantity', 'extendedprice', p_quantity_extendedprice,
         s_quantity, s_extendedprice, q_quantity, q_extendedprice, n FROM m
  UNION ALL
  SELECT 'quantity', 'discount', p_quantity_discount,
         s_quantity, s_discount, q_quantity, q_discount, n FROM m
  UNION ALL
  SELECT 'quantity', 'tax', p_quantity_tax,
         s_quantity, s_tax, q_quantity, q_tax, n FROM m)
ORDER BY x_col, y_col"""

  /** Per-group OLS TREND — slope and intercept of monthly revenue over the
    * month index, per order status: the regression the dashboards behind
    * every "is this segment growing?" question run, built on the same
    * exact-moment discipline as [[corrMatrix]]. Both outputs come from
    * INTEGER-EXACT numerators held in DECIMAL(38) — slope = num/den and
    * intercept = (Σy·den − num·Σx)/(n·den) with num = nΣxy−ΣxΣy,
    * den = nΣx²−(Σx)² — so each is exactly ONE correctly-rounded double
    * division and the floats gate bit-exactly (no intermediate rounded
    * slope feeding the intercept). Scale shape: a calendar-bucket
    * hash-agg (months × statuses cells), then constant-state moments per
    * status — the raw table is touched once. */
  def olsTrend(s: SparkSession, d: String): DataFrame = {
    val monthly = Tables.orders(s, d)
      .select(col("o_orderstatus"),
        ((year(to_date(col("o_orderdate"))) - 1992) * 12 +
          month(to_date(col("o_orderdate"))) - 1).cast("long").as("x"),
        expr("CAST(floor(o_totalprice * 100) AS BIGINT)").as("cents"))
      .groupBy("o_orderstatus", "x")
      .agg(sum("cents").as("y"))
    monthly.groupBy("o_orderstatus")
      .agg(count(lit(1)).cast("decimal(38,0)").as("n"),
        sum("x").cast("decimal(38,0)").as("sx"),
        sum("y").cast("decimal(38,0)").as("sy"),
        sum(expr("CAST(x AS DECIMAL(38,0)) * y")).as("sxy"),
        sum(expr("CAST(x AS DECIMAL(38,0)) * x")).as("sxx"))
      .select(col("o_orderstatus"), col("n").cast("long").as("n_months"),
        round(expr("""CAST(n * sxy - sx * sy AS DOUBLE)
                      / CAST(n * sxx - sx * sx AS DOUBLE)"""), 4)
          .as("slope_cents_per_month"),
        round(expr("""CAST(sy * (n * sxx - sx * sx) - (n * sxy - sx * sy) * sx AS DOUBLE)
                      / CAST(n * (n * sxx - sx * sx) AS DOUBLE)"""), 4)
          .as("intercept_cents"))
      .orderBy("o_orderstatus")
  }

  val olsTrendOracle: String = """
WITH monthly AS (
  SELECT o_orderstatus,
         CAST((year(CAST(o_orderdate AS DATE)) - 1992) * 12
              + month(CAST(o_orderdate AS DATE)) - 1 AS BIGINT) AS x,
         CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS y
  FROM orders GROUP BY 1, 2),
m AS (
  SELECT o_orderstatus, CAST(count(*) AS HUGEINT) AS n,
         CAST(sum(x) AS HUGEINT) AS sx, CAST(sum(y) AS HUGEINT) AS sy,
         sum(CAST(x AS HUGEINT) * y) AS sxy, sum(CAST(x AS HUGEINT) * x) AS sxx
  FROM monthly GROUP BY 1)
SELECT o_orderstatus, CAST(n AS BIGINT) AS n_months,
       round(CAST(n * sxy - sx * sy AS DOUBLE)
             / CAST(n * sxx - sx * sx AS DOUBLE), 4) AS slope_cents_per_month,
       round(CAST(sy * (n * sxx - sx * sx) - (n * sxy - sx * sy) * sx AS DOUBLE)
             / CAST(n * (n * sxx - sx * sx) AS DOUBLE), 4) AS intercept_cents
FROM m ORDER BY o_orderstatus"""

  // ------------------------------------------------------------- drift test

  /** Exact two-sample Kolmogorov–Smirnov drift test — the distribution
    * monitor a production pipeline runs between corpus versions, data
    * splits, or (here) two source groups (even- vs odd-numbered sources,
    * compared on document token counts). The statistic D = max |ECDF_A −
    * ECDF_B| is computed in PURE INTEGERS — D·n_a·n_b = max |cum_a·n_b −
    * cum_b·n_a| over the merged distinct-value order — with exactly one
    * final division, so the float columns hash-gate bit-exactly; even the
    * α=0.05 critical-value comparison is deterministic because IEEE 754
    * requires sqrt (like division) to be correctly rounded. Scale shape:
    * one hash-agg to per-value counts (distinct values ≪ rows), one
    * ordered cumulative window over that small table (at extreme value
    * cardinality, pre-bin or range-partition the cumsum), and 1-row
    * broadcast joins for the totals. The integer cross products need
    * n_a·n_b < 2^63 — beyond ~3·10^9 rows a side, bin first. */
  def driftKs(s: SparkSession, d: String): DataFrame =
    driftKsFrom(Tables.documents(s, d).select(
      (expr("substring(source, 4)").cast("long") % 2).as("side"),
      size(split(col("text"), " ")).cast("long").as("v")))

  /** Core over any (side ∈ {0,1}, v) frame — parameterized so specs can
    * plant shifted distributions and assert the detector fires. */
  def driftKsFrom(tok: DataFrame): DataFrame = {
    val counts = tok.groupBy("v").agg(
      sum(when(col("side") === 0, 1L).otherwise(0L)).as("ca"),
      sum(when(col("side") === 1, 1L).otherwise(0L)).as("cb"))
    val w = Window.orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = counts
      .withColumn("cuma", sum("ca").over(w))
      .withColumn("cumb", sum("cb").over(w))
    // totals fall out of the tiny counts table — re-aggregating the raw
    // frame would be a second full corpus pass for two numbers
    val tot = counts.agg(sum("ca").as("n_a"), sum("cb").as("n_b"))
    val dnum = cum.crossJoin(broadcast(tot))
      .agg(max(abs(col("cuma") * col("n_b") - col("cumb") * col("n_a"))).as("d_num"))
    tot.crossJoin(dnum)
      .withColumn("d", col("d_num").cast("double") /
        (col("n_a") * col("n_b")).cast("double"))
      .withColumn("crit", lit(1.358) * sqrt((col("n_a") + col("n_b")).cast("double") /
        (col("n_a") * col("n_b")).cast("double")))
      .withColumn("drift", col("d") > col("crit"))
      .select("n_a", "n_b", "d_num", "d", "crit", "drift")
  }

  val driftKsOracle: String = """
WITH tok AS (
  SELECT CAST(substr(source, 4) AS BIGINT) % 2 AS side,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS v
  FROM documents),
counts AS (
  SELECT v, CAST(count(*) FILTER (WHERE side = 0) AS BIGINT) AS ca,
         CAST(count(*) FILTER (WHERE side = 1) AS BIGINT) AS cb
  FROM tok GROUP BY v),
cum AS (
  SELECT v, CAST(sum(ca) OVER (ORDER BY v) AS BIGINT) AS cuma,
         CAST(sum(cb) OVER (ORDER BY v) AS BIGINT) AS cumb
  FROM counts),
tot AS (
  SELECT CAST(sum(ca) AS BIGINT) AS n_a, CAST(sum(cb) AS BIGINT) AS n_b
  FROM counts),
dn AS (SELECT CAST(max(abs(cuma * n_b - cumb * n_a)) AS BIGINT) AS d_num
       FROM cum, tot)
SELECT n_a, n_b, d_num,
       CAST(d_num AS DOUBLE) / CAST(n_a * n_b AS DOUBLE) AS d,
       1.358 * sqrt(CAST(n_a + n_b AS DOUBLE) / CAST(n_a * n_b AS DOUBLE)) AS crit,
       CAST(d_num AS DOUBLE) / CAST(n_a * n_b AS DOUBLE) >
         1.358 * sqrt(CAST(n_a + n_b AS DOUBLE) / CAST(n_a * n_b AS DOUBLE)) AS drift
FROM tot, dn"""

  /** Categorical companion to [[driftKs]]: Pearson's χ² independence test
    * between a slice label and a categorical column — here, whether the
    * event-type MIX differs between user cohorts (even vs odd user id).
    * Numerically: each cell's (o−e)²/e is computed as
    * (o·N − row·col)² / (row·col·N) — the numerator root is an exact
    * BIGINT, both products stay under 2^53 so their double casts are
    * exact, and the square/divide are correctly-rounded IEEE ops — then
    * QUANTIZED to integer nano-units BEFORE the sum, so the engines'
    * different addition orders cannot produce divergent rounding (the
    * same discipline as the covariance micro-units). The α=0.05 critical
    * value comes from a literal dof-indexed table (dof ≤ 12 here; a
    * categorical column with more levels extends the literal). Scale
    * shape: ONE hash-agg to the contingency table (cells = types ×
    * cohorts, tiny), everything after is arithmetic on that table. */
  def driftChi2(s: SparkSession, d: String): DataFrame =
    driftChi2From(Tables.events(s, d).select(
      (col("user_id") % 2).as("side"), col("event_type").as("cat")))

  /** Core over any (side ∈ {0,1}, cat) frame — parameterized for specs. */
  def driftChi2From(obs: DataFrame): DataFrame = {
    val observed = obs.groupBy("side", "cat").agg(count(lit(1)).as("o"))
    val rows = observed.groupBy("side").agg(sum("o").as("rt"))
    val cols = observed.groupBy("cat").agg(sum("o").as("ct"))
    val n = observed.agg(sum("o").as("n"))
    // the COMPLETE grid, not just observed cells: a category absent from
    // one cohort still contributes (0 − e)²/e = e, and dropping it
    // understates χ² on exactly the inputs that drift hardest
    val cells = rows.crossJoin(cols)
      .join(observed, Seq("side", "cat"), "left")
      .withColumn("o", coalesce(col("o"), lit(0L)))
    val terms = cells.crossJoin(broadcast(n))
      .withColumn("root", col("o") * col("n") - col("rt") * col("ct"))
      .withColumn("term_q9",
        floor(col("root").cast("double") * col("root").cast("double") /
          (col("rt") * col("ct")).cast("double") / col("n").cast("double") * lit(1e9))
          .cast("long"))
    val dims = observed.agg(
      ((countDistinct("side") - 1) * (countDistinct("cat") - 1)).as("dof"))
    // χ²(0.05) critical values, dof 1..12; try_element_at keeps degenerate
    // dof (0, or beyond the table) a NULL crit in BOTH engines, not a crash
    val crits = Seq(3.841, 5.991, 7.815, 9.488, 11.070, 12.592, 14.067,
      15.507, 16.919, 18.307, 19.675, 21.026)
    terms.agg(sum("term_q9").as("chi2_q9")).crossJoin(dims)
      .withColumn("crit",
        // CAST AS DOUBLE: bare 3.841 in SQL text is a DECIMAL literal,
        // which would silently retype the column vs the oracle
        expr(s"try_element_at(array(${crits.map(c => s"CAST($c AS DOUBLE)").mkString(", ")}), CAST(dof AS INT))"))
      .withColumn("drift", col("chi2_q9").cast("double") / lit(1e9) > col("crit"))
      .select("chi2_q9", "dof", "crit", "drift")
  }

  val driftChi2Oracle: String = """
WITH obs AS (
  SELECT user_id % 2 AS side, event_type AS cat FROM events),
observed AS (SELECT side, cat, CAST(count(*) AS BIGINT) AS o FROM obs GROUP BY side, cat),
rws AS (SELECT side, CAST(sum(o) AS BIGINT) AS rt FROM observed GROUP BY side),
cls AS (SELECT cat, CAST(sum(o) AS BIGINT) AS ct FROM observed GROUP BY cat),
tot AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM observed),
cells AS (
  SELECT rws.side, cls.cat, rws.rt, cls.ct, coalesce(observed.o, 0) AS o
  FROM rws CROSS JOIN cls
  LEFT JOIN observed ON observed.side = rws.side AND observed.cat = cls.cat),
terms AS (
  SELECT CAST(floor(CAST(o * n - rt * ct AS DOUBLE) * CAST(o * n - rt * ct AS DOUBLE)
           / CAST(rt * ct AS DOUBLE) / CAST(n AS DOUBLE) * 1e9) AS BIGINT) AS term_q9
  FROM cells, tot),
dims AS (SELECT (count(DISTINCT side) - 1) * (count(DISTINCT cat) - 1) AS dof FROM observed),
crit AS (SELECT ([3.841, 5.991, 7.815, 9.488, 11.070, 12.592, 14.067,
                  15.507, 16.919, 18.307, 19.675, 21.026])[dof] AS crit, dof FROM dims)
SELECT CAST(sum(term_q9) AS BIGINT) AS chi2_q9, CAST(dof AS BIGINT) AS dof, crit,
       CAST(sum(term_q9) AS DOUBLE) / 1e9 > crit AS drift
FROM terms, crit GROUP BY dof, crit"""

  // ------------------------------------------------------------------- PCA

  /** Principal-component analysis of the embedding store — the standard
    * dimensionality-reduction step before ANN indexing / whitening. The
    * architecture is the 100 TB-correct split the IVF/PQ family already
    * uses: the DATA-sized work (the D(D+1)/2 Gram triangle + per-dim sums
    * over micro-unit-quantized vectors, exact BIGINT arithmetic) runs as
    * one distributed map-side-combined reduction; only the D²-sized
    * moment matrix (2080 longs for D=64 — kilobytes) reaches the driver,
    * where a cyclic Jacobi eigensolver diagonalizes the covariance; a
    * SECOND distributed pass then verifies the spectrum against the data
    * by projecting every vector onto each top component and checking
    * Var(scoreᶜ) = λᶜ (an identity of the population covariance — a wrong
    * eigensolver or a wrong covariance assembly both break it).
    *
    * Gate design (the sketch pattern of `approx_distinct`): DuckDB
    * re-derives the EXACT integer invariants (n and the covariance trace
    * numerator T = Σᵢ n·Gᵢᵢ − Sᵢ², same integer arithmetic) and states
    * the analytic contracts as literal `true`; Spark computes them for
    * real — orthonormality of V, eigen-residual ‖Cv − λv‖, descending
    * spectrum, and the distributed variance identity. */
  def embeddingPca(s: SparkSession, d: String): DataFrame = {
    val topK = 4
    val q = Tables.fanout(s, Tables.embeddings(s, d))
      .select(expr("transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT))").as("q"))
    // ONE reduction for ALL moments: the upper-triangle explode (j >= i)
    // already carries each dim's value on its diagonal row, so per-dim
    // sums and n ride the Gram aggregation as conditional partials — this
    // query's steady passes degrade under full-suite memory pressure, and
    // halving the explode passes halves the allocation pressure that
    // makes it GC-sensitive
    val moments = q.select(posexplode(col("q")).as(Seq("i", "qi")), col("q"))
      .select(col("i"), col("qi"),
        posexplode(expr("slice(q, i + 1, size(q) - i)")).as(Seq("p", "qj")))
      .select(col("i"), (col("i") + col("p")).as("j"), col("qi"), col("qj"))
      .groupBy("i", "j")
      .agg(sum(col("qi") * col("qj")).as("g"),
        sum(when(col("i") === col("j"), col("qi"))).as("si"),
        count(when(col("i") === col("j"), lit(1))).as("nd"))
      .collect()
    val gram = moments.map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
    val sums = moments.filter(r => r.getInt(0) == r.getInt(1))
      .map(r => r.getInt(0) -> (r.getLong(3), r.getLong(4))).toMap
    val dim = sums.size
    val n = sums(0)._2
    // population covariance in micro-unit² scale: C = (n·G − S·Sᵀ)/n²
    val nB = BigInt(n)
    def cov(i: Int, j: Int): Double = {
      val g = gram(if (i <= j) (i, j) else (j, i))
      ((nB * g - BigInt(sums(i)._1) * BigInt(sums(j)._1)).toDouble) / (n.toDouble * n.toDouble)
    }
    val c = Array.tabulate(dim, dim)(cov)
    // exact integer trace numerator — the cross-engine-checkable invariant
    val traceNum = (0 until dim)
      .map(i => nB * gram((i, i)) - BigInt(sums(i)._1) * BigInt(sums(i)._1)).sum
    val (eigVals, eigVecs) = jacobiEigen(c)
    val order = eigVals.zipWithIndex.sortBy(-_._1).map(_._2).take(topK)
    val lambda = order.map(eigVals)
    val vecs = order.map(k => Array.tabulate(dim)(i => eigVecs(i)(k)))
    // driver-side analytic contracts
    val orthonormal = (0 until topK).forall { a =>
      (0 until topK).forall { b =>
        val dot = (0 until dim).map(i => vecs(a)(i) * vecs(b)(i)).sum
        math.abs(dot - (if (a == b) 1.0 else 0.0)) < 1e-9
      }
    }
    val trace = (0 until dim).map(i => c(i)(i)).sum
    val eigenOk = (0 until topK).forall { k =>
      val resid = (0 until dim).map { i =>
        val cv = (0 until dim).map(j => c(i)(j) * vecs(k)(j)).sum
        math.abs(cv - lambda(k) * vecs(k)(i))
      }.max
      resid <= 1e-9 * trace + 1e-9 * math.abs(lambda(k))
    }
    val descending = lambda.sliding(2).forall(p => p.length < 2 || p(0) >= p(1) - 1e-12 * trace)
    // SECOND distributed pass: Var(q·vᶜ) must equal λᶜ — verifies the
    // spectrum against the data itself, not just the collected moments
    val vLits = vecs.map(v => array(v.map(x => lit(x)): _*))
    val withV = vLits.zipWithIndex.foldLeft(q) { case (df, (v, k)) => df.withColumn(s"v$k", v) }
    val scores = withV.select((0 until topK).map { k =>
      expr(s"aggregate(zip_with(q, v$k, (a, b) -> CAST(a AS DOUBLE) * b), CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)").as(s"s$k")
    }: _*)
    val varRow = scores.agg(
      (0 until topK).flatMap(k => Seq(sum(col(s"s$k")).as(s"sum$k"),
        sum(col(s"s$k") * col(s"s$k")).as(s"sq$k"))).head,
      (0 until topK).flatMap(k => Seq(sum(col(s"s$k")).as(s"sum$k"),
        sum(col(s"s$k") * col(s"s$k")).as(s"sq$k"))).tail: _*).head()
    val varMatches = (0 until topK).forall { k =>
      val sm = varRow.getDouble(2 * k); val sq = varRow.getDouble(2 * k + 1)
      val v = (sq - sm * sm / n) / n
      math.abs(v - lambda(k)) <= 1e-9 * trace + 1e-6 * math.abs(lambda(k))
    }
    import s.implicits._
    (1 to topK).map(cN => (cN, n, traceNum.toLong, varMatches, orthonormal, eigenOk, descending))
      .toDF("component", "n", "trace_num", "var_matches_eigval",
        "orthonormal", "eigen_ok", "descending")
      .orderBy("component")
  }

  /** Cyclic Jacobi eigendecomposition of a symmetric matrix (returns
    * (eigenvalues, eigenvector columns)). D=64 → microseconds on the
    * driver; the data-sized work stayed distributed. */
  private[graft] def jacobiEigen(a0: Array[Array[Double]]): (Array[Double], Array[Array[Double]]) = {
    val d = a0.length
    val a = a0.map(_.clone())
    val v = Array.tabulate(d, d)((i, j) => if (i == j) 1.0 else 0.0)
    var sweep = 0
    def off(): Double =
      (0 until d).map(i => (i + 1 until d).map(j => a(i)(j) * a(i)(j)).sum).sum
    while (sweep < 64 && off() > 1e-22 * d * d) {
      for (p <- 0 until d; qq <- p + 1 until d if math.abs(a(p)(qq)) > 0) {
        val theta = (a(qq)(qq) - a(p)(p)) / (2.0 * a(p)(qq))
        val t = math.signum(theta) / (math.abs(theta) + math.sqrt(theta * theta + 1.0))
        val cth = 1.0 / math.sqrt(t * t + 1.0)
        val sth = t * cth
        for (i <- 0 until d) {
          val aip = a(i)(p); val aiq = a(i)(qq)
          a(i)(p) = cth * aip - sth * aiq
          a(i)(qq) = sth * aip + cth * aiq
        }
        for (i <- 0 until d) {
          val api = a(p)(i); val aqi = a(qq)(i)
          a(p)(i) = cth * api - sth * aqi
          a(qq)(i) = sth * api + cth * aqi
        }
        for (i <- 0 until d) {
          val vip = v(i)(p); val viq = v(i)(qq)
          v(i)(p) = cth * vip - sth * viq
          v(i)(qq) = sth * vip + cth * viq
        }
      }
      sweep += 1
    }
    (Array.tabulate(d)(i => a(i)(i)), v)
  }

  val embeddingPcaOracle: String = """
WITH q AS (
  SELECT list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q
  FROM embeddings),
dims AS (
  SELECT CAST(u.i AS INT) AS i, q.q[CAST(u.i AS INT) + 1] AS v
  FROM q, UNNEST(range(len(q.q))) AS u(i)),
s AS (
  SELECT i, sum(v) AS si, sum(CAST(v AS HUGEINT) * v) AS gii, count(*) AS n
  FROM dims GROUP BY i),
t AS (
  SELECT CAST(sum(CAST(n AS HUGEINT) * gii - CAST(si AS HUGEINT) * si) AS BIGINT) AS trace_num,
         CAST(max(n) AS BIGINT) AS n
  FROM s)
SELECT CAST(r.c AS INT) AS component, t.n, t.trace_num,
       true AS var_matches_eigval, true AS orthonormal,
       true AS eigen_ok, true AS descending
FROM t, UNNEST(range(1, 5)) AS r(c)
ORDER BY component"""

  // ------------------------------------------- inequality / concentration

  /** Per-nation customer-spend inequality: exact Gini coefficient plus the
    * Pareto top-20% revenue share. Gini uses the rank formulation
    * G = (2·Σi·xᵢ − (n+1)·Σxᵢ) / (n·Σxᵢ) over spend sorted ascending with
    * a total (cents, custkey) tie-break; numerator and denominator are
    * exact BIGINTs and meet in ONE long→double conversion + IEEE division
    * — both correctly rounded and engine-identical even past 2^53, where
    * the conversion rounds the same way on both sides (the repo's
    * weighted-sample precedent). The top-20% share is pure integer ppm
    * (top ⌈n/5⌉ spenders = ranks above n − ⌈n/5⌉). Scale shape: spend is
    * one fact-side hash-agg on custkey; the ranking window partitions by
    * nation (25 partitions of customer-dim size — at 100 TB swap in
    * [[graft.ops.Ranks.ranked]], a range-exchange ranking); the
    * count table and nation dim broadcast. */
  def giniPareto(s: SparkSession, d: String): DataFrame = {
    val spend = Tables.orders(s, d)
      .select(col("o_custkey"),
        expr("CAST(floor(o_totalprice * 100) AS BIGINT)").as("cents"))
      .groupBy("o_custkey").agg(sum("cents").as("cents"))
      .join(Tables.customer(s, d).select(col("c_custkey"), col("c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(s, d).select(col("n_nationkey"), col("n_name"))),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("n_name").as("nation"), col("o_custkey").as("custkey"), col("cents"))
    val w = Window.partitionBy("nation").orderBy(col("cents"), col("custkey"))
    val counts = spend.groupBy("nation").agg(count(lit(1)).as("n"))
    spend.withColumn("i", row_number().over(w).cast("long"))
      .join(broadcast(counts), "nation")
      .groupBy("nation", "n")
      .agg(sum("cents").as("total_cents"),
        sum(expr("i * cents")).as("iwx"),
        sum(expr("CASE WHEN i > n - (n + 4) DIV 5 THEN cents ELSE 0L END")).as("top_cents"))
      .select(col("nation"), col("n").as("n_customers"), col("total_cents"),
        round(expr("CAST(2 * iwx - (n + 1) * total_cents AS DOUBLE) / CAST(n * total_cents AS DOUBLE)"), 6).as("gini"),
        expr("top_cents * 1000000L DIV total_cents").as("top20_share_ppm"))
      .orderBy("nation")
  }

  val giniParetoOracle: String = """
WITH spend AS (
  SELECT n.n_name AS nation, o.o_custkey AS custkey,
         CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM orders o
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  GROUP BY 1, 2),
r AS (
  SELECT *, CAST(row_number() OVER (PARTITION BY nation ORDER BY cents, custkey) AS BIGINT) AS i,
         count(*) OVER (PARTITION BY nation) AS n
  FROM spend)
SELECT nation, n AS n_customers, CAST(sum(cents) AS BIGINT) AS total_cents,
       round(CAST(2 * sum(i * cents) - (n + 1) * sum(cents) AS DOUBLE)
             / CAST(n * sum(cents) AS DOUBLE), 6) AS gini,
       CAST(sum(CASE WHEN i > n - (n + 4) // 5 THEN cents ELSE 0 END) * 1000000
            // sum(cents) AS BIGINT) AS top20_share_ppm
FROM r GROUP BY nation, n ORDER BY nation"""

  /** Herfindahl–Hirschman market-concentration index: supplier revenue
    * shares within each nation, shares floored to whole basis points
    * (xᵢ·10⁴ DIV X) BEFORE squaring so every term is an exact BIGINT and
    * the sum is order-independent — a float Σsᵢ² would diverge across
    * engines on addition order alone. HHI reads on the usual 0–10⁸ scale
    * (10⁸ = monopoly). Scale shape: revenue is one fact-side hash-agg on
    * suppkey; the per-nation total is a 25-row broadcast; the index
    * aggregate is supplier-dim-sized. */
  def hhiConcentration(s: SparkSession, d: String): DataFrame = {
    val rev = Tables.lineitem(s, d)
      .select(col("l_suppkey"),
        expr("CAST(floor(l_extendedprice * 100) AS BIGINT)").as("cents"))
      .groupBy("l_suppkey").agg(sum("cents").as("cents"))
      .join(Tables.supplier(s, d).select(col("s_suppkey"), col("s_nationkey")),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(Tables.nation(s, d).select(col("n_nationkey"), col("n_name"))),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("n_name").as("nation"), col("l_suppkey").as("suppkey"), col("cents"))
    val totals = rev.groupBy("nation").agg(sum("cents").as("total_cents"))
    rev.join(broadcast(totals), "nation")
      .withColumn("share_bp", expr("cents * 10000L DIV total_cents"))
      .groupBy("nation")
      .agg(count(lit(1)).as("n_suppliers"),
        sum(expr("share_bp * share_bp")).as("hhi"),
        max("share_bp").as("top_share_bp"))
      .orderBy("nation")
  }

  val hhiConcentrationOracle: String = """
WITH rev AS (
  SELECT n.n_name AS nation, l.l_suppkey AS suppkey,
         CAST(sum(CAST(floor(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM lineitem l
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  JOIN nation n ON s.s_nationkey = n.n_nationkey
  GROUP BY 1, 2),
t AS (SELECT nation, CAST(sum(cents) AS BIGINT) AS total_cents FROM rev GROUP BY 1),
sh AS (
  SELECT rev.nation, cents * 10000 // total_cents AS share_bp
  FROM rev JOIN t ON rev.nation = t.nation)
SELECT nation, count(*) AS n_suppliers,
       CAST(sum(share_bp * share_bp) AS BIGINT) AS hhi,
       CAST(max(share_bp) AS BIGINT) AS top_share_bp
FROM sh GROUP BY nation ORDER BY nation"""

  // ------------------------------------------------------ A/B test (χ², 1 dof)

  /** Two-proportion A/B significance test: users split by id parity,
    * "converted" = made ≥1 purchase above 120 (every user purchases
    * SOMETHING in this corpus — the threshold is what makes conversion a
    * real Bernoulli), and the 2×2 χ² statistic (= z²
    * for two proportions) decides whether conversion differs. Everything
    * up to the statistic is exact BIGINT (user counts, conversions, ppm
    * rates); the statistic itself is the exact rational
    * (c₁n₂−c₂n₁)²·N / (n₁n₂·C·(N−C)) evaluated as ONE identically-
    * parenthesized chain of long→double casts and IEEE mul/div — both
    * engines round each step the same way, so even the float hash-gates.
    * (a = c₁n₂−c₂n₁ stays < 2^63 to customer-dim scale; past that,
    * pre-reduce per shard.) The significance gate is the literal 0.05
    * critical value 3.841459 — a constant, like the Benford table. Scale
    * shape: one hash-agg on user_id (map-side partial max), then a
    * four-way conditional sum to a single row. */
  def abTestChi2(s: SparkSession, d: String): DataFrame = {
    val users = Tables.events(s, d).groupBy("user_id")
      .agg(max(when(col("event_type") === "purchase" && col("value") > 120, 1L)
        .otherwise(0L)).as("conv"))
      .withColumn("grp", expr("user_id % 2"))
    users.agg(
        sum(when(col("grp") === 0, 1L).otherwise(0L)).as("n_a"),
        sum(when(col("grp") === 1, 1L).otherwise(0L)).as("n_b"),
        sum(when(col("grp") === 0, col("conv")).otherwise(0L)).as("conv_a"),
        sum(when(col("grp") === 1, col("conv")).otherwise(0L)).as("conv_b"))
      .withColumn("rate_a_ppm", expr("conv_a * 1000000L DIV n_a"))
      .withColumn("rate_b_ppm", expr("conv_b * 1000000L DIV n_b"))
      .withColumn("chi2", expr(
        """CASE WHEN conv_a + conv_b = 0 OR conv_a + conv_b = n_a + n_b THEN 0.0
          |ELSE round(CAST((conv_a * n_b - conv_b * n_a) * (conv_a * n_b - conv_b * n_a) AS DOUBLE)
          |/ CAST(n_a * n_b AS DOUBLE)
          |* CAST(n_a + n_b AS DOUBLE)
          |/ CAST((conv_a + conv_b) * (n_a + n_b - conv_a - conv_b) AS DOUBLE), 6) END""".stripMargin))
      .withColumn("significant", col("chi2") > 3.841459)
  }

  val abTestChi2Oracle: String = """
WITH u AS (
  SELECT user_id,
         max(CASE WHEN event_type = 'purchase' AND value > 120 THEN 1 ELSE 0 END) AS conv,
         user_id % 2 AS grp
  FROM events GROUP BY user_id),
g AS (
  SELECT CAST(sum(CASE WHEN grp = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
         CAST(sum(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
         CAST(sum(CASE WHEN grp = 0 THEN conv ELSE 0 END) AS BIGINT) AS conv_a,
         CAST(sum(CASE WHEN grp = 1 THEN conv ELSE 0 END) AS BIGINT) AS conv_b
  FROM u),
x AS (
  SELECT *, CASE WHEN conv_a + conv_b = 0 OR conv_a + conv_b = n_a + n_b THEN 0.0
       ELSE round(CAST((conv_a * n_b - conv_b * n_a) * (conv_a * n_b - conv_b * n_a) AS DOUBLE)
             / CAST(n_a * n_b AS DOUBLE)
             * CAST(n_a + n_b AS DOUBLE)
             / CAST((conv_a + conv_b) * (n_a + n_b - conv_a - conv_b) AS DOUBLE), 6) END AS chi2
  FROM g)
SELECT n_a, n_b, conv_a, conv_b,
       CAST(conv_a * 1000000 // n_a AS BIGINT) AS rate_a_ppm,
       CAST(conv_b * 1000000 // n_b AS BIGINT) AS rate_b_ppm,
       chi2, chi2 > 3.841459 AS significant
FROM x"""

  // ----------------------------------------------- purchase cadence profile

  /** Purchase-cadence profile: the distribution of per-customer
    * inter-order gaps (days between consecutive orders), summarized as
    * exact-rank discrete percentiles (p25/p50/p90 — the
    * [[graft.queries.ScaleOps.percentilesDisc]] construction, so the
    * reported gaps are gaps that HAPPENED) plus the share of gaps
    * within 30 days in exact ppm — the replenishment-cycle readout
    * behind churn models. Gaps are exact integer day arithmetic with a
    * (date, orderkey) total order; the customer-keyed lag window and
    * one per-gap count aggregate are the only fact-scale shuffles. */
  def purchaseCadence(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("o_custkey").orderBy("day", "o_orderkey")
    val gaps = Tables.orders(s, d)
      .select(col("o_custkey"), col("o_orderkey"),
        datediff(to_date(col("o_orderdate")), lit("1970-01-01"))
          .cast("long").as("day"))
      .withColumn("gap", col("day") - lag("day", 1).over(w))
      .filter(col("gap").isNotNull)
      .select(col("gap"), col("o_custkey"), col("o_orderkey"))
    // Never rank the FULL fact-scale gap table with a partition-less
    // row_number — a SinglePartition exchange + one-task sort of every gap
    // row ("WindowExec: No Partition Defined", an at-scale defect that
    // WindowAuditSpec rejects). The exact ranks only ever READ
    // `gap` at three positions, and the rank order is primarily by gap —
    // the (custkey, orderkey) tie-breakers can never change WHICH gap
    // value occupies a given global rank. So the gap value at rank k is
    // min{ g : cum_count(g) >= k } over the PER-GAP count table: aggregate
    // to (gap, cnt) with map-side partials (distinct gaps are bounded by
    // the corpus day-range — dimension-sized at any corpus size), then one
    // running sum over that bounded table. n / n_30 re-aggregate the same
    // count table, so the fact-scale window subtree is built once and
    // shared (runtime exchange reuse; no grouping-key filter to split it).
    val byGap = gaps.groupBy("gap").agg(count(lit(1)).as("cnt"))
    val n = byGap.agg(sum("cnt").as("n"),
      sum(when(col("gap") <= 30, col("cnt")).otherwise(0L)).as("n_30"))
    // bounded-input partition-less window: input is the per-gap AGGREGATE
    // (≤ day-range rows), never fact rows — the PlanAudit window tripwire
    // accepts it because a grouped aggregate sits below it
    val cw = Window.orderBy("gap")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    byGap.withColumn("cum", sum("cnt").over(cw))
      .crossJoin(broadcast(n))
      .groupBy("n", "n_30")
      .agg(
        min(when(col("cum") >= expr("(n + 3) DIV 4"), col("gap"))).as("p25_gap_days"),
        min(when(col("cum") >= expr("(n + 1) DIV 2"), col("gap"))).as("p50_gap_days"),
        min(when(col("cum") >= expr("(9 * n + 9) DIV 10"), col("gap"))).as("p90_gap_days"))
      .select(col("n").as("n_gaps"),
        expr("n_30 * 1000000L DIV n").as("within_30d_ppm"),
        col("p25_gap_days"), col("p50_gap_days"), col("p90_gap_days"))
  }

  val purchaseCadenceOracle: String = """
WITH g AS (
  SELECT o_custkey, o_orderkey,
         CAST(date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS day
  FROM orders),
gaps AS (
  SELECT day - lag(day) OVER (PARTITION BY o_custkey ORDER BY day, o_orderkey) AS gap,
         o_custkey, o_orderkey
  FROM g),
f AS (SELECT * FROM gaps WHERE gap IS NOT NULL),
t AS (SELECT count(*) AS n,
             CAST(sum(CASE WHEN gap <= 30 THEN 1 ELSE 0 END) AS BIGINT) AS n_30
      FROM f),
r AS (
  SELECT gap, CAST(row_number() OVER (ORDER BY gap, o_custkey, o_orderkey) AS BIGINT) AS rn
  FROM f)
SELECT t.n AS n_gaps,
       CAST(t.n_30 * 1000000 // t.n AS BIGINT) AS within_30d_ppm,
       min(CASE WHEN rn = (t.n + 3) // 4 THEN gap END) AS p25_gap_days,
       min(CASE WHEN rn = (t.n + 1) // 2 THEN gap END) AS p50_gap_days,
       min(CASE WHEN rn = (9 * t.n + 9) // 10 THEN gap END) AS p90_gap_days
FROM r CROSS JOIN t GROUP BY t.n, t.n_30"""

  // ----------------------------------------------------- weekday profile

  /** Day-of-week seasonality profile of order volume and revenue — the
    * staffing/capacity planning staple. Day numbering is a classic
    * cross-engine divergence (Spark's `dayofweek` is 1=Sunday, DuckDB's
    * `dayofweek` is 0=Sunday), so BOTH sides are pinned to the ISO
    * Monday=1 convention (Spark `weekday()+1` ≡ DuckDB `isodow`).
    * Exact ppm shares against broadcast totals; one fact hash-agg into
    * a 7-row table. */
  def weekdayProfile(s: SparkSession, d: String): DataFrame = {
    val byDay = Tables.orders(s, d)
      .groupBy((weekday(to_date(col("o_orderdate"))) + 1).cast("long").as("isodow"))
      .agg(count(lit(1)).as("n_orders"),
        sum(expr("CAST(floor(o_totalprice * 100) AS BIGINT)")).as("cents"))
    val tot = byDay.agg(sum("n_orders").as("nt"), sum("cents").as("ct"))
    byDay.crossJoin(broadcast(tot))
      .select(col("isodow"), col("n_orders"), col("cents"),
        expr("n_orders * 1000000L DIV nt").as("order_share_ppm"),
        expr("cents * 1000000L DIV ct").as("rev_share_ppm"),
        (col("isodow") >= 6).as("is_weekend"))
      .orderBy("isodow")
  }

  val weekdayProfileOracle: String = """
WITH g AS (
  SELECT CAST(isodow(o_orderdate) AS BIGINT) AS isodow, count(*) AS n_orders,
         CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM orders GROUP BY 1),
t AS (SELECT CAST(sum(n_orders) AS BIGINT) AS nt, CAST(sum(cents) AS BIGINT) AS ct FROM g)
SELECT isodow, n_orders, cents,
       CAST(n_orders * 1000000 // t.nt AS BIGINT) AS order_share_ppm,
       CAST(cents * 1000000 // t.ct AS BIGINT) AS rev_share_ppm,
       isodow >= 6 AS is_weekend
FROM g CROSS JOIN t ORDER BY isodow"""

  // --------------------------------------------------------- Lorenz curve

  /** The Lorenz curve behind [[giniPareto]]'s scalar: customers sorted by
    * spend ascending, cut into deciles (total-tie-break ntile(10)), each
    * reporting the cumulative population and revenue shares in exact ppm
    * — the 10 points a dashboard draws, where the Gini is the area. Pure
    * integer arithmetic: cumulative cents over the decile rollup (10
    * rows) against broadcast totals. Scale shape: one fact hash-agg on
    * custkey, the ntile over range-exchanged customers
    * ([[graft.ops.Ranks]]), a 10-row cumulative window. */
  def lorenzCurve(s: SparkSession, d: String): DataFrame = {
    val spend = Tables.orders(s, d)
      .groupBy(col("o_custkey").as("custkey"))
      .agg(sum(expr("CAST(floor(o_totalprice * 100) AS BIGINT)")).as("cents"))
    val deciled = graft.ops.Ranks.ntile(spend, 10, Nil, Seq(col("cents"), col("custkey")), "decile")
    val tot = spend.agg(count(lit(1)).as("n_total"), sum("cents").as("c_total"))
    val w = Window.orderBy("decile")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    deciled.groupBy("decile")
      .agg(count(lit(1)).as("n"), sum("cents").as("c"))
      .withColumn("cum_n", sum("n").over(w))
      .withColumn("cum_c", sum("c").over(w))
      .crossJoin(broadcast(tot))
      .select(col("decile"),
        expr("cum_n * 1000000L DIV n_total").as("pop_share_ppm"),
        expr("cum_c * 1000000L DIV c_total").as("rev_share_ppm"))
      .orderBy("decile")
  }

  val lorenzCurveOracle: String = """
WITH spend AS (
  SELECT o_custkey AS custkey,
         CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM orders GROUP BY 1),
d AS (
  SELECT cents, CAST(ntile(10) OVER (ORDER BY cents, custkey) AS BIGINT) AS decile
  FROM spend),
t AS (SELECT count(*) AS n_total, CAST(sum(cents) AS BIGINT) AS c_total FROM spend),
g AS (SELECT decile, count(*) AS n, CAST(sum(cents) AS BIGINT) AS c FROM d GROUP BY 1),
cum AS (
  SELECT decile,
         sum(n) OVER (ORDER BY decile ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_n,
         sum(c) OVER (ORDER BY decile ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_c
  FROM g)
SELECT decile,
       CAST(cum_n * 1000000 // t.n_total AS BIGINT) AS pop_share_ppm,
       CAST(cum_c * 1000000 // t.c_total AS BIGINT) AS rev_share_ppm
FROM cum CROSS JOIN t ORDER BY decile"""

  // ------------------------------------------------------- bootstrap CI

  /** Nonparametric bootstrap 95% CI for mean daily revenue — 100
    * with-replacement resamples of the day series, each day drawn by a
    * seeded md5 integer draw (`u32 % n`, the [[graft.ops.CorpusOps]]
    * mixSample idiom — reproducible across engines AND runs where
    * rand() is neither), resample means in exact integer cents, and the
    * CI endpoints read off exact ranks 3/98 of the 100 sorted means
    * (2.5/97.5 percentiles). The whole pipeline is integer arithmetic,
    * so a RESAMPLING procedure hash-gates bit-exactly. Scale shape: the
    * day series is calendar-bounded, so draws are B×days rows joined
    * back by day index — never fact-sized; the fact is touched once for
    * the daily rollup. */
  def bootstrapCi(s: SparkSession, d: String, b: Int = 100): DataFrame = {
    val daily = Tables.orders(s, d)
      .groupBy(datediff(to_date(col("o_orderdate")), lit("1970-01-01"))
        .cast("long").as("day"))
      .agg(sum(expr("CAST(floor(o_totalprice * 100) AS BIGINT)")).as("cents"))
      .withColumn("idx",
        row_number().over(Window.orderBy("day")).cast("long") - 1)
    val nDf = daily.agg(count(lit(1)).as("n"), sum("cents").as("total"))
    val draws = s.range(0, b).select(col("id").as("b"))
      .crossJoin(broadcast(nDf))
      .select(col("b"), col("n"), explode(expr("sequence(0L, n - 1)")).as("j"))
      .withColumn("u32", conv(substring(md5(concat(lit("boot:"),
        col("b").cast("string"), lit(":"), col("j").cast("string"))), 1, 8),
        16, 10).cast("long"))
      .withColumn("idx", expr("u32 % n"))
    val means = draws.join(daily.select("idx", "cents"), "idx")
      .groupBy("b", "n").agg(sum("cents").as("sc"))
      .withColumn("mean_b", expr("sc DIV n"))
    val ranked = means.withColumn("rnk",
      row_number().over(Window.orderBy("mean_b", "b")))
    ranked.agg(
        min(when(col("rnk") === 3, col("mean_b"))).as("ci_lo_cents"),
        min(when(col("rnk") === b - 2, col("mean_b"))).as("ci_hi_cents"))
      .crossJoin(broadcast(nDf))
      .select(col("n").as("n_days"), expr("total DIV n").as("mean_cents"),
        col("ci_lo_cents"), col("ci_hi_cents"))
  }

  val bootstrapCiOracle: String = """
WITH daily AS (
  SELECT CAST(date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS day,
         CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM orders GROUP BY 1),
idx AS (SELECT cents, row_number() OVER (ORDER BY day) - 1 AS idx FROM daily),
nn AS (SELECT count(*) AS n, CAST(sum(cents) AS BIGINT) AS total FROM daily),
draws AS (
  SELECT b.b, CAST(list_sum(list_transform(generate_series(1, 8), k ->
           CAST((strpos('0123456789abcdef',
                  substr(md5('boot:' || CAST(b.b AS VARCHAR) || ':' || CAST(j.j AS VARCHAR)), k, 1)) - 1) AS BIGINT)
           * CAST(power(16, 8 - k) AS BIGINT))) AS BIGINT) % (SELECT n FROM nn) AS idx
  FROM (SELECT unnest(range(0, 100)) AS b) b,
       (SELECT unnest(range(0, (SELECT n FROM nn))) AS j) j),
means AS (
  SELECT b, CAST(sum(cents) AS BIGINT) // (SELECT n FROM nn) AS mean_b
  FROM draws JOIN idx USING (idx) GROUP BY b),
ranked AS (SELECT b, mean_b, row_number() OVER (ORDER BY mean_b, b) AS rnk FROM means)
SELECT nn.n AS n_days, CAST(nn.total // nn.n AS BIGINT) AS mean_cents,
       (SELECT mean_b FROM ranked WHERE rnk = 3) AS ci_lo_cents,
       (SELECT mean_b FROM ranked WHERE rnk = 98) AS ci_hi_cents
FROM nn"""

  // ------------------------------------------------------- CUPED adjustment

  /** CUPED variance-reduced A/B readout (Deng et al. 2013): each user's
    * post-period purchase spend Y is adjusted by their PRE-period spend X
    * — Y' = Y − θ·(X − X̄) with θ = cov(X,Y)/var(X) pooled across arms —
    * the standard trick that removes between-user variance an experiment
    * can't control. Determinism discipline: X, Y and every moment
    * (Σx, Σy, Σxy, Σx²) are exact BIGINT cents aggregated once; θ and
    * the adjusted means are identically-parenthesized long→double IEEE
    * chains rounded at the end (the `ab_test_chi2` pattern — no float
    * ever sums across rows). Moment magnitudes fit BIGINT through the
    * tested scales; a 100× corpus shard-reduces the moments first.
    * Scale shape: ONE hash-agg on user_id with conditional sums, then a
    * single-row moment aggregate broadcast onto the two arm rows. */
  def cupedAdjustment(s: SparkSession, d: String): DataFrame = {
    val split = "2024-04-01"
    val users = Tables.events(s, d)
      .filter(col("event_type") === "purchase")
      .groupBy("user_id")
      .agg(
        sum(when(col("ts") < lit(split),
          expr("CAST(floor(value * 100) AS BIGINT)")).otherwise(0L)).as("x"),
        sum(when(col("ts") >= lit(split),
          expr("CAST(floor(value * 100) AS BIGINT)")).otherwise(0L)).as("y"))
      .withColumn("arm", expr("user_id % 2"))
    val moments = users.agg(
      count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"),
      sum(expr("x * y")).as("sxy"), sum(expr("x * x")).as("sxx"))
    val arms = users.groupBy("arm")
      .agg(count(lit(1)).as("n_users"), sum("x").as("ax"), sum("y").as("ay"))
    arms.crossJoin(broadcast(moments))
      .withColumn("theta", expr(
        "round(CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * sxx - sx * sx AS DOUBLE), 6)"))
      .withColumn("mean_y_cents", expr(
        "round(CAST(ay AS DOUBLE) / CAST(n_users AS DOUBLE), 2)"))
      .withColumn("adj_mean_y_cents", expr(
        """round(CAST(ay AS DOUBLE) / CAST(n_users AS DOUBLE)
          |- round(CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * sxx - sx * sx AS DOUBLE), 6)
          |* (CAST(ax AS DOUBLE) / CAST(n_users AS DOUBLE)
          |   - CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)), 2)""".stripMargin))
      .select("arm", "n_users", "mean_y_cents", "theta", "adj_mean_y_cents")
      .orderBy("arm")
  }

  val cupedAdjustmentOracle: String = """
WITH u AS (
  SELECT user_id,
         CAST(sum(CASE WHEN ts < TIMESTAMP '2024-04-01'
              THEN CAST(floor(value * 100) AS BIGINT) ELSE 0 END) AS BIGINT) AS x,
         CAST(sum(CASE WHEN ts >= TIMESTAMP '2024-04-01'
              THEN CAST(floor(value * 100) AS BIGINT) ELSE 0 END) AS BIGINT) AS y,
         user_id % 2 AS arm
  FROM events WHERE event_type = 'purchase' GROUP BY user_id),
m AS (
  SELECT count(*) AS n, CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x * y) AS BIGINT) AS sxy, CAST(sum(x * x) AS BIGINT) AS sxx
  FROM u),
a AS (
  SELECT arm, count(*) AS n_users, CAST(sum(x) AS BIGINT) AS ax,
         CAST(sum(y) AS BIGINT) AS ay
  FROM u GROUP BY arm)
SELECT arm, n_users,
       round(CAST(ay AS DOUBLE) / CAST(n_users AS DOUBLE), 2) AS mean_y_cents,
       round(CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * sxx - sx * sx AS DOUBLE), 6) AS theta,
       round(CAST(ay AS DOUBLE) / CAST(n_users AS DOUBLE)
             - round(CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * sxx - sx * sx AS DOUBLE), 6)
             * (CAST(ax AS DOUBLE) / CAST(n_users AS DOUBLE)
                - CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)), 2) AS adj_mean_y_cents
FROM a CROSS JOIN m ORDER BY arm"""

  // ----------------------------------------------------------- Benford audit

  /** Benford first-significant-digit audit over order totals — the classic
    * forensic-accounting / data-quality screen for fabricated or truncated
    * numeric columns. Per digit 1–9: observed count, observed share,
    * Benford's expected share log₁₀(1+1/d), the absolute deviation, and a
    * Pearson χ² contribution — all in exact integer ppm. The expected
    * shares ARE transcendental, but they are nine CONSTANTS, so both
    * engines carry the same pre-rounded literals (301030 … 45757) and no
    * runtime log is evaluated; the χ² contribution squares the ppm GAP
    * (≤10^6, so the square fits BIGINT) rather than raw counts, which
    * would overflow at fact scale. The first digit is taken from the
    * BIGINT→string cast of floor(x) — integer formatting is
    * engine-identical where double formatting is not. Scale shape: one
    * linear scan into a 9-row hash-agg (map-side partial), a broadcast
    * scalar total, and a 9-row literal spine left-join so an absent digit
    * still reports its full expected deviation. */
  def benfordDigits(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val digits = Tables.orders(s, d)
      .select(expr(
        "cast(substring(cast(cast(floor(o_totalprice) AS bigint) AS string), 1, 1) AS int)")
        .as("digit"))
      .groupBy("digit").agg(count(lit(1)).as("n"))
    val total = Tables.orders(s, d).agg(count(lit(1)).as("n_total"))
    val spine = Seq(1 -> 301030L, 2 -> 176091L, 3 -> 124939L, 4 -> 96910L,
      5 -> 79181L, 6 -> 66947L, 7 -> 57992L, 8 -> 51153L, 9 -> 45757L)
      .toDF("digit", "exp_ppm")
    spine.join(digits, Seq("digit"), "left")
      .na.fill(0L, Seq("n"))
      .crossJoin(broadcast(total))
      .withColumn("obs_ppm", expr("n * 1000000L DIV n_total"))
      .withColumn("dev_ppm", abs(col("obs_ppm") - col("exp_ppm")))
      .withColumn("chi2_q",
        expr("(obs_ppm - exp_ppm) * (obs_ppm - exp_ppm) DIV exp_ppm"))
      .select("digit", "n", "obs_ppm", "exp_ppm", "dev_ppm", "chi2_q")
      .orderBy("digit")
  }

  val benfordDigitsOracle: String = """
WITH d AS (
  SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1) AS INT) AS digit
  FROM orders),
c AS (SELECT digit, count(*) AS n FROM d GROUP BY 1),
t AS (SELECT count(*) AS n_total FROM orders),
e AS (SELECT * FROM (VALUES (1, 301030), (2, 176091), (3, 124939), (4, 96910),
  (5, 79181), (6, 66947), (7, 57992), (8, 51153), (9, 45757)) AS v(digit, exp_ppm))
SELECT e.digit, coalesce(c.n, 0) AS n,
       CAST(coalesce(c.n, 0) * 1000000 // t.n_total AS BIGINT) AS obs_ppm,
       CAST(e.exp_ppm AS BIGINT) AS exp_ppm,
       CAST(abs(coalesce(c.n, 0) * 1000000 // t.n_total - e.exp_ppm) AS BIGINT) AS dev_ppm,
       CAST((coalesce(c.n, 0) * 1000000 // t.n_total - e.exp_ppm)
            * (coalesce(c.n, 0) * 1000000 // t.n_total - e.exp_ppm)
            // e.exp_ppm AS BIGINT) AS chi2_q
FROM e LEFT JOIN c USING (digit) CROSS JOIN t ORDER BY e.digit"""

  // ------------------------------------------------------------------ wiring

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "benford_digits"       -> (benfordDigits _),
    "gini_pareto"          -> (giniPareto _),
    "hhi_concentration"    -> (hhiConcentration _),
    "ab_test_chi2"         -> (abTestChi2 _),
    "cuped_adjustment"     -> (cupedAdjustment _),
    "bootstrap_ci"         -> ((s: SparkSession, d: String) => bootstrapCi(s, d)),
    "lorenz_curve"         -> (lorenzCurve _),
    "weekday_profile"      -> (weekdayProfile _),
    "purchase_cadence"     -> (purchaseCadence _),
    "drift_ks"             -> (driftKs _),
    "corr_matrix"          -> (corrMatrix _),
    "ols_trend"            -> (olsTrend _),
    "drift_chi2"           -> (driftChi2 _),
    "window_range_frame"   -> (windowRangeFrame _),
    "ntile_deciles"        -> (ntileDeciles _),
    "outlier_zscore"       -> (outlierZscore _),
    "robust_mad"           -> (robustMad _),
    "forward_fill"         -> (forwardFill _),
    "embedding_covariance" -> (embeddingCovariance _),
    "embedding_pca"        -> (embeddingPca _)
  )

  val oracleSql: Map[String, String] = Map(
    "benford_digits"       -> benfordDigitsOracle,
    "gini_pareto"          -> giniParetoOracle,
    "hhi_concentration"    -> hhiConcentrationOracle,
    "ab_test_chi2"         -> abTestChi2Oracle,
    "cuped_adjustment"     -> cupedAdjustmentOracle,
    "bootstrap_ci"         -> bootstrapCiOracle,
    "lorenz_curve"         -> lorenzCurveOracle,
    "weekday_profile"      -> weekdayProfileOracle,
    "purchase_cadence"     -> purchaseCadenceOracle,
    "drift_ks"             -> driftKsOracle,
    "corr_matrix"          -> corrMatrixOracle,
    "ols_trend"            -> olsTrendOracle,
    "drift_chi2"           -> driftChi2Oracle,
    "window_range_frame"   -> windowRangeFrameOracle,
    "ntile_deciles"        -> ntileDecilesOracle,
    "outlier_zscore"       -> outlierZscoreOracle,
    "robust_mad"           -> robustMadOracle,
    "forward_fill"         -> forwardFillOracle,
    "embedding_covariance" -> embeddingCovarianceOracle,
    "embedding_pca"        -> embeddingPcaOracle
  )
}
