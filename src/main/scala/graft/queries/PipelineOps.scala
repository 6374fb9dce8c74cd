package graft.queries

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.pipeline.Medallion
import graft.util.SilverArtifact

/** Pipeline/API-surface coverage queries:
  *
  *  - [[writeRoundtrip]] — S3/S6 (SURVEY.md §2.1): materialize the full
  *    bronze/silver/gold medallion to a lake directory with overwrite
  *    (truncate-and-reload semantics, etl_lakehouse.py:21-35) and read the
  *    fact back from storage — the reference's actual persistence path.
  *  - [[typedDatasetAgg]] — the typed Dataset[T]/Encoder surface
  *    (SURVEY.md §1.6): case-class rows, groupByKey + typed aggregation.
  *  - [[jsonExtract]] — semi-structured props column on the events stream:
  *    JSON field extraction + aggregation (extension; reference has no
  *    JSON anywhere).
  *  - [[csvRoundtrip]] — non-parquet format surface (reference is
  *    parquet-only; CSV/JSON readers are table-stakes for a lakehouse
  *    engine): write a dim as CSV, read it back with an explicit schema.
  */
object PipelineOps {

  /** Full medallion write + read-back of the gold fact from storage —
    * through the TRANSACTION manifest: writeAll commits all 15 zone
    * tables in one snapshot-manifest commit, and the read resolves that
    * snapshot (not the per-table pointer), so the gated value is produced
    * by the cross-table-consistent path end to end. */
  def writeRoundtrip(s: SparkSession, d: String): DataFrame = {
    val lake = SilverArtifact.pathFor(d, "lake")
    Medallion.writeAll(s, d, lake)
    // retention maintenance as part of the reload: VACUUM
    // every zone table with keep=1 — deliberately more aggressive than the
    // commit's own keep=2, so the read below exercises the snapshot PIN:
    // the versions named by the retained `_snapshots/` manifests survive the
    // sweep (pruneLocked unions them into `retained`), and the snapshot
    // read stays resolvable with VACUUM in the path. Fanned out like the
    // commit's pointer refresh — each member holds its own lock, and a
    // serial 15× lock+list+manifest-read loop is the same per-table
    // latency chain commitSnapshot just shed.
    graft.util.Par.blockingMap(
      graft.util.AtomicTable.resolveSnapshot(lake).get.keys.toSeq)(t =>
      graft.util.AtomicTable.vacuum(s"$lake/$t", keep = 1))
    graft.util.AtomicTable.readSnapshot(s, lake, "gold/fact_sales")
      // sale_year is the directory-partition column added by the layout
      // optimization in writeAll — project back to the logical fact schema
      .select("customer_sk", "part_sk", "supplier_sk", "date_sk", "price", "ship_cost")
      .orderBy("customer_sk", "part_sk", "supplier_sk", "date_sk", "price", "ship_cost")
  }

  /** Star join resolved from ONE snapshot: the fact and both dims are
    * opened through a single snapshot resolution
    * ([[graft.util.AtomicTable.readSnapshotTables]]), so every input
    * belongs to the same committed reload — the cross-table-consistent
    * read the reference's dual-system comparison assumes, now a gated
    * value (the oracle restates the whole gold derivation from source).
    * Dims broadcast; money sums are exact integer cents. */
  def snapshotStarRead(s: SparkSession, d: String): DataFrame = {
    val lake = ensureLake(s, d)
    val t = graft.util.AtomicTable.readSnapshotTables(s, lake,
      Seq("gold/fact_sales", "gold/dim_date", "gold/dim_customer"))
    t("gold/fact_sales")
      .join(broadcast(t("gold/dim_date").select("date_sk", "year_val")), "date_sk")
      .join(broadcast(t("gold/dim_customer").select("customer_sk", "nation")),
        "customer_sk")
      .groupBy("year_val", "nation")
      .agg(count(lit(1)).as("n_sales"),
        sum(round(col("price") * 100).cast("long")).as("revenue_cents"))
      .orderBy("year_val", "nation")
  }

  val snapshotStarReadOracle: String = Analytics.ctes + """
SELECT year_val, nation, count(*) AS n_sales,
       CAST(sum(CAST(round(price * 100) AS BIGINT)) AS BIGINT) AS revenue_cents
FROM fact_sales JOIN dim_date USING (date_sk)
JOIN dim_customer USING (customer_sk)
GROUP BY 1, 2 ORDER BY 1, 2"""

  // one tiny two-commit lake per (session, dataset), shared by the
  // time-travel and CDF queries; rebuilt fresh per session so the
  // snapshot ids are deterministic
  private val ttLakeCache = graft.util.SessionCaches.memo[Unit]("pipeline.ttlake")

  /** Build a two-snapshot demo lake over the nation dim and return
    * (root, firstSnapshotId). Snapshot 1 is the full dim; snapshot 2 a
    * reload with planted row-level changes — every third key DELETED,
    * every remaining fifth key's region UPDATED (+100), and the first
    * three keys re-keyed +1000 as INSERTS. Between the commits and any
    * read, the member table is VACUUMed with keep=1: only the retained
    * manifests' version pins ([[graft.util.AtomicTable]] pruneLocked)
    * keep the superseded snapshot-1 version alive — without
    * manifest-aware retention the historical read would throw on a
    * deleted directory. */
  private def ttLake(s: SparkSession, d: String): (String, Long) =
    ttLakeCache(s, d) {
      import graft.util.AtomicTable
      val root = SilverArtifact.pathFor(d, "snap_tt")
      AtomicTable.deleteRecursively(java.nio.file.Paths.get(root))
      val nation = Tables.nation(s, d)
      def stage(df: DataFrame): Seq[(String, String)] = Seq("dim/nation" ->
        AtomicTable.stageVersion(s"$root/dim/nation")(dir =>
          df.coalesce(1).write.mode("overwrite").parquet(dir)))
      val sn1 = AtomicTable.commitSnapshot(root, stage(nation))
      val reloaded = nation.filter(col("n_nationkey") % 3 =!= 0)
        .withColumn("n_regionkey",
          when(col("n_nationkey") % 5 === 0, col("n_regionkey") + 100)
            .otherwise(col("n_regionkey")))
        .unionByName(nation.filter(col("n_nationkey") < 3)
          .withColumn("n_nationkey", col("n_nationkey") + 1000))
      AtomicTable.commitSnapshot(root, stage(reloaded))
      // ordinary per-table maintenance between commit and historical read:
      // keep=1 would reclaim the superseded version — the sn1 manifest pin
      // is the only thing keeping the old snapshot resolvable
      AtomicTable.vacuum(s"$root/dim/nation", keep = 1)
      (root, sn1)
    }

  /** TRANSACTION-level time travel ([[graft.util.AtomicTable
    * .readSnapshotTablesAt]] — the `VERSION AS OF` analog at snapshot
    * grain): the OLD snapshot of the [[ttLake]] dim re-read in full while
    * the newer one is live — after a keep=1 vacuum of the member — and
    * flagged by which rows survived the reload; the oracle restates both
    * states from source. */
  def snapshotTimeTravel(s: SparkSession, d: String): DataFrame = {
    import graft.util.AtomicTable
    val (root, sn1) = ttLake(s, d)
    val old = AtomicTable.readSnapshotTablesAt(s, root, sn1,
      Seq("dim/nation"))("dim/nation")
    val live = AtomicTable.readSnapshotTables(s, root,
      Seq("dim/nation"))("dim/nation")
    old.join(live.select(col("n_nationkey").as("live_key")),
        col("n_nationkey") === col("live_key"), "left")
      .select(col("n_nationkey"), col("n_name"),
        col("live_key").isNotNull.as("in_live"))
      .orderBy("n_nationkey")
  }

  val snapshotTimeTravelOracle: String = """
SELECT n_nationkey, n_name, (n_nationkey % 3 <> 0) AS in_live
FROM nation ORDER BY n_nationkey"""

  /** CHANGE-DATA READ between two retained snapshots (the Delta CDF /
    * Iceberg incremental-read analog at transaction grain): both states
    * of the [[ttLake]] dim are opened through one history resolution
    * ([[graft.util.AtomicTable.readSnapshotTablesAt]] + the live
    * manifest), full-outer joined on the key, and classified
    * insert / delete / update (unchanged rows drop out). This is the
    * "what changed since snapshot N" API an incremental consumer polls
    * instead of re-scanning the table; at 100 TB the join is keyed on
    * the PK — one co-partitioned shuffle, candidates only, no full
    * comparison of unchanged column data beyond the keyed rows. The
    * oracle restates the planted changes from source. */
  def snapshotCdf(s: SparkSession, d: String): DataFrame = {
    import graft.util.AtomicTable
    val (root, sn1) = ttLake(s, d)
    val old = AtomicTable.readSnapshotTablesAt(s, root, sn1,
      Seq("dim/nation"))("dim/nation")
      .select(col("n_nationkey").as("o_key"), col("n_regionkey").as("old_region"))
    val neu = AtomicTable.readSnapshotTables(s, root,
      Seq("dim/nation"))("dim/nation")
      .select(col("n_nationkey").as("n_key"), col("n_regionkey").as("new_region"))
    old.join(neu, col("o_key") === col("n_key"), "full_outer")
      .withColumn("change_type",
        when(col("o_key").isNull, "insert")
          .when(col("n_key").isNull, "delete")
          .when(col("old_region") =!= col("new_region"), "update"))
      .filter(col("change_type").isNotNull)
      .select(coalesce(col("o_key"), col("n_key")).as("n_nationkey"),
        col("change_type"), col("old_region"), col("new_region"))
      .orderBy("n_nationkey", "change_type")
  }

  val snapshotCdfOracle: String = """
WITH old AS (SELECT n_nationkey, n_regionkey FROM nation),
new AS (
  SELECT n_nationkey,
         CASE WHEN n_nationkey % 5 = 0 THEN n_regionkey + 100
              ELSE n_regionkey END AS n_regionkey
  FROM nation WHERE n_nationkey % 3 <> 0
  UNION ALL
  SELECT n_nationkey + 1000, n_regionkey FROM nation WHERE n_nationkey < 3),
j AS (
  SELECT old.n_nationkey AS o_key, old.n_regionkey AS old_region,
         new.n_nationkey AS n_key, new.n_regionkey AS new_region
  FROM old FULL OUTER JOIN new ON old.n_nationkey = new.n_nationkey)
SELECT coalesce(o_key, n_key) AS n_nationkey,
       CASE WHEN o_key IS NULL THEN 'insert'
            WHEN n_key IS NULL THEN 'delete'
            WHEN old_region <> new_region THEN 'update' END AS change_type,
       old_region, new_region
FROM j
WHERE o_key IS NULL OR n_key IS NULL OR old_region <> new_region
ORDER BY n_nationkey, change_type"""

  private val restoreLakeCache = graft.util.SessionCaches.memo[Unit]("pipeline.restorelake")

  /** TRANSACTION-level RESTORE ([[graft.util.AtomicTable
    * .restoreSnapshot]] — the snapshot twin of the table-level
    * `table_restore`): a two-member lake (nation + region) commits a
    * clean snapshot, then a "bad deploy" snapshot (nations halved,
    * region names vandalized) — with a keep=1 vacuum of BOTH members in
    * between, so only manifest pins keep the clean versions alive. The
    * restore re-commits the clean manifest as snapshot 3 WITHOUT touching
    * any version directory (O(manifest)); the gate then reads the LIVE
    * snapshot through `readSnapshotTables` and joins the members —
    * matching the raw source oracle proves the roll-forward restored
    * BOTH tables atomically and that the vandalized snapshot 2 stayed in
    * history rather than being the read path. */
  def snapshotRestore(s: SparkSession, d: String): DataFrame = {
    import graft.util.AtomicTable
    val root = restoreLakeCache(s, d) {
      val r = SilverArtifact.pathFor(d, "snap_restore")
      AtomicTable.deleteRecursively(java.nio.file.Paths.get(r))
      val nation = Tables.nation(s, d)
      val region = Tables.region(s, d)
      def stage(n: DataFrame, g: DataFrame): Seq[(String, String)] = Seq(
        "dim/nation" -> AtomicTable.stageVersion(s"$r/dim/nation")(dir =>
          n.coalesce(1).write.mode("overwrite").parquet(dir)),
        "dim/region" -> AtomicTable.stageVersion(s"$r/dim/region")(dir =>
          g.coalesce(1).write.mode("overwrite").parquet(dir)))
      val sn1 = AtomicTable.commitSnapshot(r, stage(nation, region))
      AtomicTable.commitSnapshot(r,
        stage(nation.filter(col("n_nationkey") % 2 === 0),
          region.withColumn("r_name", concat(col("r_name"), lit("_BAD")))))
      AtomicTable.vacuum(s"$r/dim/nation", keep = 1)
      AtomicTable.vacuum(s"$r/dim/region", keep = 1)
      AtomicTable.restoreSnapshot(r, sn1)
      r
    }
    val t = AtomicTable.readSnapshotTables(s, root,
      Seq("dim/nation", "dim/region"))
    t("dim/nation")
      .join(broadcast(t("dim/region").select(col("r_regionkey"), col("r_name"))),
        col("n_regionkey") === col("r_regionkey"))
      .select("n_nationkey", "n_name", "r_name")
      .orderBy("n_nationkey")
  }

  val snapshotRestoreOracle: String = """
SELECT n_nationkey, n_name, r_name
FROM nation JOIN region ON n_regionkey = r_regionkey
ORDER BY n_nationkey"""

  /** SNAPSHOT-grain CHECK constraints — write-side DQ enforcement at the
    * TRANSACTION level ([[graft.util.AtomicTable.stageChecked]]): every
    * member of a two-table lake stages with violation counts riding its
    * own write job; if ANY member violates, ALL staged members are
    * discarded and nothing commits — the refusal is as atomic as the
    * commit, so readers can never see the clean member of a dirty
    * reload. Attempt 1 vandalizes nation (NULL names for key%5=0, which
    * a NOT-NULL check must catch as exactly 5 rows) while region stays
    * clean; the gate proves the refused attempt left NO snapshot and the
    * clean attempt 2 is the only visible state — plus the refusal
    * evidence (violation count, snapshot count 1) in the result. */
  def snapshotCheckedCommit(s: SparkSession, d: String): DataFrame = {
    import graft.util.AtomicTable
    val root = SilverArtifact.pathFor(d, "snap_checked")
    AtomicTable.deleteRecursively(java.nio.file.Paths.get(root))
    val nation = Tables.nation(s, d)
    val region = Tables.region(s, d)
    def stageAll(n: DataFrame): Seq[(String, String, Map[String, Long])] = Seq(
      ("dim/nation",
        AtomicTable.stageChecked(s"$root/dim/nation",
          n.coalesce(1), Map("name_not_null" -> col("n_name").isNotNull))),
      ("dim/region",
        AtomicTable.stageChecked(s"$root/dim/region",
          region.coalesce(1), Map("name_not_null" -> col("r_name").isNotNull)))
    ).map { case (rel, (name, bad)) => (rel, name, bad) }
    // attempt 1: one dirty member → refuse the WHOLE transaction
    val dirty = stageAll(nation.withColumn("n_name",
      when(col("n_nationkey") % 5 === 0, lit(null)).otherwise(col("n_name"))))
    val refusedRows = dirty.map(_._3.values.sum).sum
    if (refusedRows > 0)
      dirty.foreach { case (rel, name, _) =>
        AtomicTable.discardStaged(s"$root/$rel", name) }
    else AtomicTable.commitSnapshot(root,
      dirty.map { case (rel, name, _) => rel -> name })
    // attempt 2: clean reload commits
    val clean = stageAll(nation)
    require(clean.forall(_._3.isEmpty), "clean attempt must not violate")
    AtomicTable.commitSnapshot(root,
      clean.map { case (rel, name, _) => rel -> name })
    val t = AtomicTable.readSnapshotTables(s, root,
      Seq("dim/nation", "dim/region"))
    t("dim/nation")
      .join(broadcast(t("dim/region").select(col("r_regionkey"), col("r_name"))),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey"), col("n_name"), col("r_name"))
      .withColumn("n_refused_rows", lit(refusedRows))
      .withColumn("n_snapshots",
        lit(AtomicTable.snapshotHistory(root).size.toLong))
      .orderBy("n_nationkey")
  }

  val snapshotCheckedCommitOracle: String = """
SELECT n_nationkey, n_name, r_name,
       (SELECT count(*) FROM nation WHERE n_nationkey % 5 = 0)
         AS n_refused_rows,
       CAST(1 AS BIGINT) AS n_snapshots
FROM nation JOIN region ON n_regionkey = r_regionkey
ORDER BY n_nationkey"""

  case class LineRow(l_returnflag: String, l_linestatus: String,
    l_quantity: Double, l_extendedprice: Double)
  case class FlagAgg(flag_status: String, sum_qty: Double, n_rows: Long)

  /** Typed aggregator: sums quantity and counts rows with MAP-SIDE partial
    * aggregation. `mapGroups` would shuffle every input row to its group's
    * reducer (measured 2× slower at sf0.1); an Aggregator[IN,BUF,OUT]
    * reduces per-partition first — the typed API's equivalent of a hash
    * aggregate, and the §2.11 custom-aggregator surface. */
  object QtyCount extends org.apache.spark.sql.expressions.Aggregator[LineRow, (Double, Long), (Double, Long)] {
    override def zero: (Double, Long) = (0.0, 0L)
    override def reduce(b: (Double, Long), a: LineRow): (Double, Long) =
      (b._1 + a.l_quantity, b._2 + 1)
    override def merge(a: (Double, Long), b: (Double, Long)): (Double, Long) =
      (a._1 + b._1, a._2 + b._2)
    override def finish(r: (Double, Long)): (Double, Long) = r
    override def bufferEncoder: org.apache.spark.sql.Encoder[(Double, Long)] =
      org.apache.spark.sql.Encoders.tuple(org.apache.spark.sql.Encoders.scalaDouble,
        org.apache.spark.sql.Encoders.scalaLong)
    override def outputEncoder: org.apache.spark.sql.Encoder[(Double, Long)] =
      bufferEncoder
  }

  /** Typed Dataset path: Encoders, groupByKey, custom Aggregator —
    * compile-time field checking where the DataFrame path is
    * stringly-typed. l_quantity values are small integers as doubles, so
    * the partial-aggregated sum is exact in any order (oracle-safe). */
  def typedDatasetAgg(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ds: Dataset[LineRow] = Tables.lineitem(s, d)
      .select("l_returnflag", "l_linestatus", "l_quantity", "l_extendedprice")
      .as[LineRow]
    ds.groupByKey(r => r.l_returnflag + "-" + r.l_linestatus)
      .agg(QtyCount.toColumn)
      .map { case (key, (qty, n)) => FlagAgg(key, qty, n) }
      .toDF()
      .orderBy("flag_status")
  }

  val typedDatasetAggOracle: String = """
SELECT concat(l_returnflag, '-', l_linestatus) AS flag_status,
       sum(l_quantity) AS sum_qty, count(*) AS n_rows
FROM lineitem
GROUP BY 1 ORDER BY flag_status"""

  /** JSON extraction over the events props column + grouped agg. */
  def jsonExtract(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .withColumn("k", get_json_object(col("props"), "$.k").cast("int"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("k").as("sum_k"),
        min("k").as("min_k"), max("k").as("max_k"))
      .orderBy("event_type")

  val jsonExtractOracle: String = """
SELECT event_type, count(*) AS n,
       CAST(sum(CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT) AS sum_k,
       min(CAST(json_extract_string(props, '$.k') AS INT)) AS min_k,
       max(CAST(json_extract_string(props, '$.k') AS INT)) AS max_k
FROM events
GROUP BY event_type ORDER BY event_type"""

  /** VARIANT-typed semi-structured shredding (Spark 4's open-schema type,
    * SPARK-45891): a deterministic heterogeneous payload — three JSON
    * shapes keyed off the row (nested object / array / string) — is
    * parsed ONCE into VARIANT and every downstream field access is a
    * typed `(try_)variant_get` path, including an array index and a
    * 2-level nest. The VARIANT encoding is the point at scale: parse
    * once at ingest, store the binary, and every later query shreds
    * just the paths it needs instead of re-parsing JSON text per query
    * (this is exactly what `json_extract_props`'s per-query
    * get_json_object cannot avoid). try_variant_get returns NULL — not
    * an error — when a path is absent from a row's shape, which is the
    * open-schema contract heterogeneous event streams require. */
  def variantShred(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select(get_json_object(col("props"), "$.k").cast("long").as("k"))
      // k-less rows are excluded EXPLICITLY: Spark's concat propagates a
      // NULL k to a NULL doc while DuckDB's concat skips NULL arguments,
      // so letting NULLs reach the CASE would silently diverge the gate
      .filter(col("k").isNotNull)
      .withColumn("doc", expr(
        """CASE WHEN k % 3 = 0 THEN concat('{"tag":"obj","nest":{"val":', k, '}}')
                WHEN k % 3 = 1 THEN concat('{"tag":"arr","xs":[', k, ',', k + 1, ']}')
                ELSE concat('{"tag":"str","s":"v', k, '"}') END"""))
      .withColumn("v", parse_json(col("doc")))
      .select(
        expr("variant_get(v, '$.tag', 'string')").as("tag"),
        expr("try_variant_get(v, '$.nest.val', 'long')").as("nv"),
        expr("try_variant_get(v, '$.xs[1]', 'long')").as("x1"),
        expr("try_variant_get(v, '$.s', 'string')").as("sv"))
      .groupBy("tag")
      .agg(count(lit(1)).as("n"), sum("nv").as("sum_nest"),
        sum("x1").as("sum_x1"), count("sv").as("n_str"))
      .orderBy("tag")

  val variantShredOracle: String = """
WITH base AS (
  SELECT TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS k FROM events
  WHERE TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) IS NOT NULL),
docs AS (
  SELECT CASE WHEN k % 3 = 0 THEN concat('{"tag":"obj","nest":{"val":', k, '}}')
              WHEN k % 3 = 1 THEN concat('{"tag":"arr","xs":[', k, ',', k + 1, ']}')
              ELSE concat('{"tag":"str","s":"v', k, '"}') END AS doc
  FROM base)
SELECT json_extract_string(doc, '$.tag') AS tag,
       count(*) AS n,
       CAST(sum(CAST(json_extract(doc, '$.nest.val') AS BIGINT)) AS BIGINT) AS sum_nest,
       CAST(sum(CAST(json_extract(doc, '$.xs[1]') AS BIGINT)) AS BIGINT) AS sum_x1,
       CAST(count(json_extract_string(doc, '$.s')) AS BIGINT) AS n_str
FROM docs GROUP BY tag ORDER BY tag"""

  /** CSV round-trip: write nation as headered CSV, read back with an
    * explicit StructType (never schema-inference for engine contracts). */
  def csvRoundtrip(s: SparkSession, d: String): DataFrame = {
    val out = SilverArtifact.pathFor(d, "csv/nation")
    Tables.nation(s, d).write.mode("overwrite").option("header", "true").csv(out)
    s.read.schema(Tables.nation(s, d).schema).option("header", "true").csv(out)
      .orderBy("n_nationkey")
  }

  val csvRoundtripOracle: String =
    "SELECT * FROM nation ORDER BY n_nationkey"

  // ----------------------------------------------- dynamic partition pruning

  // one materialized lake per source version: dpp_star_scan reads the
  // PUBLISHED fact (partition pruning only exists against storage), and
  // re-running the whole ETL per query would time the write, not the scan
  private def ensureLake(s: SparkSession, d: String): String = {
    val lake = SilverArtifact.pathFor(d, "lake")
    // the consumer queries need the lake to EXIST and be current — the
    // staged-once stamp skips the 15-table reload when the committed
    // snapshot already matches the source (writeRoundtrip, whose gated
    // VALUE is the write path itself, always runs writeAll regardless)
    val fp = graft.Tables.sourceNames.map(t =>
      SilverArtifact.sourceFingerprint(s"$d/$t.parquet", "lake-v1"))
      .mkString("|")
    SilverArtifact.stagedOnce(s"$lake/gold/fact_sales", fp) {
      Medallion.writeAll(s, d, lake)
    }
    lake
  }

  /** Dynamic partition pruning against the year-partitioned gold fact: the
    * date-dim filter (a calendar range) is only known to restrict
    * `sale_year` at RUNTIME — Catalyst inserts a dynamicpruning subquery on
    * the fact's partition column, so the scan lists ONLY the matching year
    * directories (reusing the broadcast it builds for the join). At 100 TB
    * this is the difference between reading one year and the whole fact;
    * the plan shape is asserted in StatOpsSpec, the answer here. */
  def dppStarScan(s: SparkSession, d: String): DataFrame = {
    val lake = ensureLake(s, d)
    val fact = graft.util.AtomicTable.read(s, s"$lake/gold/fact_sales")
    val years = graft.util.AtomicTable.read(s, s"$lake/gold/dim_date")
      .filter(col("full_date") >= to_date(lit("1995-02-01")) &&
        col("full_date") <= to_date(lit("1995-11-30")))
      .select(col("year_val").as("y")).distinct()
    fact.join(years, col("sale_year") === col("y"))
      .agg(count(lit(1)).as("n_rows"),
        sum(expr("CAST(floor(price * 100) AS BIGINT)")).as("cents"))
  }

  val dppStarScanOracle: String = Analytics.ctes + """,
cal AS (
  SELECT unnest(generate_series(
    (SELECT min(CAST(o_orderdate AS DATE)) FROM orders),
    (SELECT max(CAST(o_orderdate AS DATE)) FROM orders),
    INTERVAL 1 DAY)) AS d),
years AS (
  SELECT DISTINCT CAST(year(d) AS INT) AS y FROM cal
  WHERE d BETWEEN DATE '1995-02-01' AND DATE '1995-11-30')
SELECT count(*) AS n_rows,
       CAST(sum(CAST(floor(price * 100) AS BIGINT)) AS BIGINT) AS cents
FROM fact_sales WHERE date_sk // 10000 IN (SELECT y FROM years)"""

  // ---------------------------------------------------- replica verification

  /** Merkle-style replica diff: verify two copies of a table by comparing
    * per-bucket digests instead of rows — the anti-entropy check a
    * multi-region lakehouse runs nightly. Each row reduces to a 32-bit
    * integer fingerprint (md5 over a canonical string; doubles enter as
    * floor-cents so the canonical form is engine-neutral); a bucket's
    * digest is the SUM of its row fingerprints — commutative, so no
    * per-bucket ordering is ever needed. Only (bucket, digest, count)
    * tuples shuffle: verifying a 100 TB table moves kilobytes. Buckets
    * whose digest or count disagree are exactly the repair set. The
    * "replica" here is derived with planted drift — every 131st key
    * modified, every 173rd dropped — so the mismatch set is non-empty and
    * deterministic at every scale factor.
    *
    * In production the bucket key is a hash of the primary key (uniform);
    * modulo keeps the planted example readable. */
  def tableDiffBuckets(s: SparkSession, d: String): DataFrame = {
    def digests(df: DataFrame, sumName: String, nName: String): DataFrame = df
      .select((col("c_custkey") % 32).as("bucket"),
        conv(substring(md5(concat_ws("|",
          col("c_custkey"), col("c_name"),
          expr("CAST(floor(c_acctbal * 100) AS BIGINT)"),
          col("c_mktsegment"))), 1, 8), 16, 10).cast("long").as("h"))
      .groupBy("bucket")
      .agg(sum("h").as(sumName), count(lit(1)).as(nName))
    val base = Tables.customer(s, d)
    val replica = base
      .filter(col("c_custkey") % 173 =!= 0)
      .withColumn("c_acctbal",
        when(col("c_custkey") % 131 === 0, col("c_acctbal") + lit(1.0))
          .otherwise(col("c_acctbal")))
    digests(base, "base_digest", "base_n")
      .join(digests(replica, "rep_digest", "rep_n"), Seq("bucket"), "full_outer")
      .filter(col("base_digest") =!= col("rep_digest") ||
        col("base_n") =!= col("rep_n") ||
        col("base_digest").isNull || col("rep_digest").isNull)
      .orderBy("bucket")
  }

  val tableDiffBucketsOracle: String = """
WITH canon AS (
  SELECT c_custkey % 32 AS bucket,
         md5(concat_ws('|', c_custkey, c_name,
             CAST(floor(c_acctbal * 100) AS BIGINT), c_mktsegment)) AS hx,
         c_custkey
  FROM customer),
bh AS (
  SELECT bucket,
         CAST(list_sum(list_transform(generate_series(1, 8),
           j -> CAST((strpos('0123456789abcdef', substr(hx, j, 1)) - 1) AS BIGINT)
                * CAST(power(16, 8 - j) AS BIGINT))) AS BIGINT) AS h
  FROM canon),
base AS (SELECT bucket, CAST(sum(h) AS BIGINT) AS base_digest, count(*) AS base_n
         FROM bh GROUP BY bucket),
rcanon AS (
  SELECT c_custkey % 32 AS bucket,
         md5(concat_ws('|', c_custkey, c_name,
             CAST(floor(CASE WHEN c_custkey % 131 = 0 THEN c_acctbal + 1.0
                             ELSE c_acctbal END * 100) AS BIGINT),
             c_mktsegment)) AS hx
  FROM customer WHERE c_custkey % 173 <> 0),
rh AS (
  SELECT bucket,
         CAST(list_sum(list_transform(generate_series(1, 8),
           j -> CAST((strpos('0123456789abcdef', substr(hx, j, 1)) - 1) AS BIGINT)
                * CAST(power(16, 8 - j) AS BIGINT))) AS BIGINT) AS h
  FROM rcanon),
rep AS (SELECT bucket, CAST(sum(h) AS BIGINT) AS rep_digest, count(*) AS rep_n
        FROM rh GROUP BY bucket)
SELECT bucket, base_digest, base_n, rep_digest, rep_n
FROM base FULL OUTER JOIN rep USING (bucket)
WHERE base_digest <> rep_digest OR base_n <> rep_n
   OR base_digest IS NULL OR rep_digest IS NULL
ORDER BY bucket"""

  case class CustRow(c_custkey: Long, c_name: String)
  case class OrderRow(o_custkey: Long, o_totalprice: Double)
  case class CustSpend(c_custkey: Long, c_name: String,
    n_orders: Long, total_spend: Double)

  /** Typed COGROUP (`KeyValueGroupedDataset.cogroup`) — the Dataset-API
    * escape hatch for per-key logic that needs BOTH sides' rows at once
    * and can't be phrased as join + aggregate (custom matching,
    * reconciliation, per-key merges). Physically one co-partitioned
    * shuffle on the key with both inputs streamed per key — the same
    * exchange a join would pay, no more — so the shape holds at 100 TB;
    * the per-key closure here folds the orders iterator without
    * materializing it. The gate pins the typed path to the relational
    * answer (LEFT JOIN + GROUP BY in the oracle), including zero-order
    * customers, which cogroup sees as an empty right iterator. */
  def typedCogroup(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val cust = Tables.customer(s, d).select("c_custkey", "c_name").as[CustRow]
    val ord = Tables.orders(s, d).select("o_custkey", "o_totalprice").as[OrderRow]
    cust.groupByKey(_.c_custkey)
      .cogroup(ord.groupByKey(_.o_custkey)) { (k, cs, os) =>
        val cl = cs.toSeq // ≤ 1: c_custkey is the customer PK
        if (cl.isEmpty) Iterator.empty // orders with no customer row
        else {
          var n = 0L
          var t = 0.0
          os.foreach { o => n += 1; t += o.o_totalprice }
          Iterator(CustSpend(k, cl.head.c_name, n, t))
        }
      }
      .toDF()
      .withColumn("total_spend", round(col("total_spend"), 2))
      .orderBy("c_custkey")
  }

  val typedCogroupOracle: String = """
SELECT c.c_custkey, c.c_name, count(o.o_custkey) AS n_orders,
       round(coalesce(sum(o.o_totalprice), 0), 2) AS total_spend
FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
GROUP BY 1, 2 ORDER BY 1"""

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "pipeline_write_roundtrip" -> (writeRoundtrip _),
    "snapshot_star_read" -> (snapshotStarRead _),
    "snapshot_time_travel" -> (snapshotTimeTravel _),
    "snapshot_cdf" -> (snapshotCdf _),
    "snapshot_restore" -> (snapshotRestore _),
    "snapshot_checked_commit" -> (snapshotCheckedCommit _),
    "typed_dataset_agg"        -> (typedDatasetAgg _),
    "typed_cogroup"            -> (typedCogroup _),
    "json_extract_props"       -> (jsonExtract _),
    "variant_shred"            -> (variantShred _),
    "csv_roundtrip"            -> (csvRoundtrip _),
    "table_diff_buckets"       -> (tableDiffBuckets _),
    "dpp_star_scan"            -> (dppStarScan _)
  )

  val oracleSql: Map[String, String] = Map(
    "pipeline_write_roundtrip" -> Analytics.oracleSql("gold_fact_sales"),
    "snapshot_star_read" -> snapshotStarReadOracle,
    "snapshot_time_travel" -> snapshotTimeTravelOracle,
    "snapshot_cdf" -> snapshotCdfOracle,
    "snapshot_restore" -> snapshotRestoreOracle,
    "snapshot_checked_commit" -> snapshotCheckedCommitOracle,
    "typed_dataset_agg"        -> typedDatasetAggOracle,
    "typed_cogroup"            -> typedCogroupOracle,
    "json_extract_props"       -> jsonExtractOracle,
    "variant_shred"            -> variantShredOracle,
    "csv_roundtrip"            -> csvRoundtripOracle,
    "table_diff_buckets"       -> tableDiffBucketsOracle,
    "dpp_star_scan"            -> dppStarScanOracle
  )
}
