package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.ops.{DateDim, SurrogateKeys}
import graft.util.SessionCaches.PersistOnce

/** Bronze → Silver → Gold medallion pipeline (SURVEY.md §3.1; reference:
  * etl_script_dlh/etl_lakehouse.py), re-expressed over the driver testdata
  * star schema per FIXTURES.md's mapping:
  *
  *   customer⋈nation⋈region  ↔ the customer⋈address⋈country chain (J1-J4)
  *   part + supplier agg      ↔ book + publisher/author chain (J5-J8, A4)
  *   lineitem⋈orders⋈supplier ↔ order_line⋈cust_order⋈shipping (J9-J10)
  *   generated calendar       ↔ dim_date (F1-F4)
  *   SK left-joins + dropna   ↔ fact assembly (J11-J14, P4-P5)
  *
  * Unlike the reference's eager pandas stages (every intermediate fully
  * materialized in memory, §4.1), each stage here is a lazy DataFrame DAG:
  * Catalyst prunes the wide silver projections down to what gold actually
  * consumes, and the only materialization points are the optional parquet
  * writes in [[writeAll]].
  *
  * Scale notes (100 TB): the fact assembly joins a huge lineitem⋈orders
  * stream against four dimension key-maps, all of which are orders of
  * magnitude smaller — Spark auto-broadcasts them (threshold 10 MB; add an
  * explicit `broadcast()` if dims grow past it but still fit in executor
  * memory). The lineitem⋈orders join is the one real shuffle; both sides
  * hash-partition on the order key and AQE handles skew. Dimension SK
  * assignment uses a single-task window (SurrogateKeys.dense) which is
  * correct for dim-sized inputs only — see SurrogateKeys for the scalable
  * variant.
  */
object Medallion {

  /** Gold tables are READ-THROUGH stored artifacts, the way the reference
    * materializes gold to storage and queries read it back (etl_lakehouse
    * .py:113-116 → test_queries.py:91-95): the first session to touch a
    * gold table per SOURCE VERSION derives it from silver and publishes it
    * through [[graft.util.SilverArtifact]] (atomic, fingerprint-stamped);
    * every later session — and every later query in THIS session — reads
    * the stored columnar copy instead of re-deriving the whole silver DAG
    * (joins + SK windows). The fingerprint covers the part files of all
    * seven star source tables plus a logic-version tag, so regenerating
    * any source, or changing the derivation code, rebuilds instead of
    * serving stale gold. Within a session the artifact scan is addition-
    * ally persist()ed: dims are small at any scale; at 100 TB you would
    * drop the fact's persist and lean on the columnar scan (partition-
    * pruned, column-pruned) — the artifact IS the written gold zone. */
  private val goldCache = graft.util.SessionCaches.memo[String]("medallion.gold")

  /** The logic-version component of a gold artifact's fingerprint is a
    * DIGEST OF THE DERIVATION ITSELF ([[graft.util.SilverArtifact
    * .planFingerprint]] — the canonicalized analyzed plan of the builder
    * DataFrame): any code change that alters the silver/gold derivation
    * changes the plan and auto-orphans stored artifacts, where a
    * hand-bumped constant would let an edit that forgot the bump serve
    * stale gold to every later session. Because the digest covers the
    * builder's INPUT FILE LIST alongside the plan
    * (plan text alone renders file relations path-less), the fact's
    * fingerprint names the dim artifacts' version directories — a dim
    * rebuild cascades to the fact. Over-invalidation, never staleness. */
  private def goldFp(d: String, logic: String): String =
    Tables.sourceNames.map(n =>
      graft.util.SilverArtifact.sourceFingerprint(s"$d/$n.parquet", logic))
      .mkString("|")

  private def cached(s: SparkSession, d: String, name: String)(build: => DataFrame): DataFrame =
    goldCache(s, d, name) {
      // constructing the builder frame is lazy (no action) — its plan
      // digest is the fingerprint's logic component, computed per session
      val built = build
      val stored = graft.util.SilverArtifact.getOrBuild(
        s, graft.util.SilverArtifact.pathFor(d, s"gold_$name"),
        goldFp(d, graft.util.SilverArtifact.planFingerprint(built)))(built)
      // the artifact is written as few files (it is dim/bench-fact sized);
      // fan the FACT back out so its cached partitions use the full
      // cluster — dims stay as-read (they broadcast into joins anyway)
      val df = if (name == "fact_sales") Tables.fanout(s, stored) else stored
      df.persistOnce()
    }

  // ---- Silver (cleaned/conformed wide tables; etl_lakehouse.py:47-74) ----

  /** Customer conformed with nation + region (reference J1-J4,
    * etl_lakehouse.py:54-57): inner chain, small dims broadcast. */
  def silverCustomer(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d)
      .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, d)), col("n_regionkey") === col("r_regionkey"))

  /** Per-part comma-joined supplier names — the author string-agg analog
    * (reference A4/J7-J8, etl_lakehouse.py:62-65). The reference's
    * `', '.join` order is pandas file order (non-reproducible, D2 in
    * SURVEY.md §7.4); we make it deterministic with
    * array_join(array_sort(collect_set(..))). */
  def partSupplierNames(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d).select(col("l_partkey"), col("l_suppkey")).distinct()
      .join(broadcast(Tables.supplier(s, d)), col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("l_partkey").as("part_id"))
      .agg(array_join(array_sort(collect_set(col("s_name"))), ", ").as("supplier_names"))

  /** Part enriched with its supplier list (reference silver book,
    * etl_lakehouse.py:60-66): left join keeps parts never sold. */
  def silverPart(s: SparkSession, d: String): DataFrame =
    Tables.part(s, d)
      .join(partSupplierNames(s, d), col("p_partkey") === col("part_id"), "left")
      .drop("part_id")

  /** Sales rows: lineitem ⋈ orders (inner, J9) then left join supplier on
    * differing key names (J10 analog, etl_lakehouse.py:70-71). */
  def silverSales(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(Tables.supplier(s, d)), col("l_suppkey") === col("s_suppkey"), "left")

  // ---- Gold (star schema; etl_lakehouse.py:76-136) ----

  /** dim_customer analog (etl_lakehouse.py:86-88): project/rename + dense SK. */
  def dimCustomer(s: SparkSession, d: String): DataFrame =
    cached(s, d, "dim_customer") {
      SurrogateKeys.dense(
        silverCustomer(s, d).select(
          col("c_custkey").as("customer_id"),
          col("c_name").as("name"),
          col("c_acctbal").as("acctbal"),
          col("c_mktsegment").as("mktsegment"),
          col("n_name").as("nation"),
          col("r_name").as("region")),
        "customer_sk", col("customer_id"))
        .select("customer_sk", "customer_id", "name", "acctbal", "mktsegment", "nation", "region")
    }

  /** dim_book analog (etl_lakehouse.py:91-92). */
  def dimPart(s: SparkSession, d: String): DataFrame =
    cached(s, d, "dim_part") {
      SurrogateKeys.dense(
        silverPart(s, d).select(
          col("p_partkey").as("part_id"),
          col("p_name").as("name"),
          col("p_brand").as("brand"),
          col("p_type").as("ptype"),
          col("p_size").as("psize"),
          col("p_retailprice").as("retailprice"),
          col("supplier_names")),
        "part_sk", col("part_id"))
        .select("part_sk", "part_id", "name", "brand", "ptype", "psize", "retailprice", "supplier_names")
    }

  /** dim_shipping analog (etl_lakehouse.py:95-97): DISTINCT over the sales
    * rows (A2), then SK — only suppliers that actually shipped appear. */
  def dimSupplier(s: SparkSession, d: String): DataFrame =
    cached(s, d, "dim_supplier") {
      SurrogateKeys.dense(
        silverSales(s, d)
          .select(col("s_suppkey").as("supplier_id"), col("s_name").as("supplier"))
          .na.drop()
          .dropDuplicates("supplier_id", "supplier"),
        "supplier_sk", col("supplier_id"))
        .select("supplier_sk", "supplier_id", "supplier")
    }

  /** dim_date (etl_lakehouse.py:100-110): calendar over order-date bounds. */
  def dimDate(s: SparkSession, d: String): DataFrame =
    cached(s, d, "dim_date") {
      DateDim.fromBounds(Tables.orders(s, d), col("o_orderdate"))
    }

  /** fact_book_sales analog (etl_lakehouse.py:118-134): left-join the sales
    * rows to each dim's (sk, natural key) map, normalize the date key with
    * to_date on both sides (J14 / D4), project the fact columns, drop rows
    * with any FK miss (P4 / D5 — dropna scoped to exactly the projected
    * columns), and cast SKs to int (P5). */
  def factSales(s: SparkSession, d: String): DataFrame = cached(s, d, "fact_sales") {
    val sales = silverSales(s, d)
    val cust  = dimCustomer(s, d).select("customer_sk", "customer_id")
    val prt   = dimPart(s, d).select("part_sk", "part_id")
    val supp  = dimSupplier(s, d).select("supplier_sk", "supplier_id")
    val dates = dimDate(s, d).select("date_sk", "full_date")
    sales
      .join(broadcast(cust), col("o_custkey") === col("customer_id"), "left")
      .join(broadcast(prt), col("l_partkey") === col("part_id"), "left")
      .join(broadcast(supp), col("l_suppkey") === col("supplier_id"), "left")
      .join(broadcast(dates), to_date(col("o_orderdate")) === col("full_date"), "left")
      .select(
        col("customer_sk").cast("int").as("customer_sk"),
        col("part_sk").cast("int").as("part_sk"),
        col("supplier_sk").cast("int").as("supplier_sk"),
        col("date_sk").cast("int").as("date_sk"),
        col("l_extendedprice").as("price"),
        col("s_acctbal").as("ship_cost"))
      .na.drop()
  }

  /** Materialize the zones like the reference's truncate-and-reload runs
    * (S3/S6; etl_lakehouse.py:21-35,:43,:113-116) — as ONE multi-table
    * TRANSACTION: every table is STAGED into a fresh
    * [[graft.util.AtomicTable]] version directory, then the whole 15-table
    * set becomes visible via a single atomic snapshot-manifest swap
    * ([[graft.util.AtomicTable.commitSnapshot]]). A crash at any point
    * leaves snapshot readers on the previous COMPLETE snapshot; a reader
    * between two reloads can never see zone A from run N and zone B from
    * run N−1 (the mixed-snapshot window the per-table pointer swaps used
    * to leave — and the consistency the reference's dual-system query
    * comparison assumes of one load). Per-table `_CURRENT` pointers are
    * refreshed after the snapshot commit, so
    * [[graft.util.AtomicTable.read]] on individual tables keeps working;
    * cross-table-consistent reads go through
    * [[graft.util.AtomicTable.readSnapshotTables]]. */
  def writeAll(s: SparkSession, srcDir: String, lakeDir: String): Unit = {
    import graft.util.AtomicTable
    // Every zone table derives from srcDir (not from a prior zone), and
    // AtomicTable stagings are per-directory with no shared state — so
    // all 15 writes are independent Spark JOBS. Submitting them
    // concurrently lets the scheduler overlap the many small write stages
    // (each has far fewer tasks than cores); sequential submission left
    // most of the cluster idle between jobs. Measured ~2× on the ETL
    // action at sf0.1. Any failure propagates out of the Await — and
    // nothing becomes visible, because the snapshot commit runs only
    // after EVERY member staged successfully.
    val stages: Seq[(String, String => Unit)] =
      Tables.sourceNames.map { n =>
        // Bronze is a 1:1 copy of ALREADY-PARQUET source data
        // (etl_lakehouse.py:40-44) — staging HARDLINKS the source file
        // into the version dir instead of running a Spark rewrite job:
        // a metadata-only publish (the Delta CONVERT TO DELTA shape,
        // which logs existing files rather than rewriting them). At
        // 100 TB this is the difference between re-writing the raw
        // corpus once per reload and an O(files) link pass; readers see
        // an ordinary parquet directory either way. Copy is the fallback
        // where the filesystem refuses links (e.g. cross-device).
        s"bronze/$n" -> ((dir: String) => {
          val src = java.nio.file.Paths.get(srcDir, s"$n.parquet")
          val to = java.nio.file.Paths.get(dir, s"$n.parquet")
          try java.nio.file.Files.createLink(to, src)
          catch {
            case _: UnsupportedOperationException |
                 _: java.nio.file.FileSystemException =>
              java.nio.file.Files.copy(src, to)
          }
          ()
        })
      } ++ Seq[(String, () => org.apache.spark.sql.DataFrame)](
        "silver/silver_customer" -> (() => silverCustomer(s, srcDir)),
        "silver/silver_part"     -> (() => silverPart(s, srcDir)),
        "silver/silver_sales"    -> (() => silverSales(s, srcDir)),
        "gold/dim_customer"      -> (() => dimCustomer(s, srcDir)),
        "gold/dim_part"          -> (() => dimPart(s, srcDir)),
        "gold/dim_supplier"      -> (() => dimSupplier(s, srcDir)),
        "gold/dim_date"          -> (() => dimDate(s, srcDir))
      ).map { case (n, df) =>
        n -> ((dir: String) => df().write.mode("overwrite").parquet(dir))
      } ++ Seq(
        // Fact layout for scale (SURVEY.md §4.3's opt-in extension):
        // directory partitioning on the sale year gives partition PRUNING
        // for date-ranged queries (a year-filtered scan never lists the
        // other years), and range-repartition + sort on date_sk within
        // files gives row-group pruning via parquet min/max stats below
        // the year grain. At 100 TB this layout is the difference between
        // scanning a year and a decade.
        "gold/fact_sales" -> ((dir: String) =>
          factSales(s, srcDir)
            .withColumn("sale_year", (col("date_sk") / 10000).cast("int"))
            .repartitionByRange(col("sale_year"), col("date_sk"))
            .sortWithinPartitions("date_sk")
            .write.mode("overwrite")
            .partitionBy("sale_year")
            .parquet(dir)))
    // On failure Par.blockingMap rethrows and the staged dirs are left
    // UNCOMMITTED (invisible; the orphan pruner reaps them after the TTL).
    val t0 = System.nanoTime()
    val staged: Seq[(String, String)] = graft.util.Par.blockingMap(stages) {
      case (rel, write) => rel -> AtomicTable.stageVersion(s"$lakeDir/$rel")(write)
    }
    val t1 = System.nanoTime()
    AtomicTable.commitSnapshot(lakeDir, staged)
    // phase observability (the "[graft]" stderr convention): a bench log
    // shows where a reload's wall clock went — the staging writes or the
    // manifest + pointer commit
    System.err.println(f"[graft] writeAll staged=${(t1 - t0) / 1e9}%.3fs " +
      f"commit=${(System.nanoTime() - t1) / 1e9}%.3fs $lakeDir")
  }
}
