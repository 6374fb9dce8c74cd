package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Parquet table loaders for the driver testdata (TESTDATA.md).
  *
  * Mirrors the reference's source-extraction surface (S1/S2 in SURVEY.md §2.1:
  * full-table reads at etl_script_dlh/etl_lakehouse.py:42,:51 and
  * etl_script_dwh/etl_dwh.py:42) as lazy Spark parquet scans. Unlike the
  * reference's eager pandas reads, nothing is materialized here — Catalyst
  * prunes columns and pushes predicates into the scan, so a 100 TB table only
  * reads the columns/row-groups a query actually touches.
  */
object Tables {
  /** Resolution memo: each `spark.read.parquet` call lists the table's
    * files and runs a Spark job that infers the schema from a footer (9
    * such jobs in one star_analytics cold pass of perfbench), and nearly
    * every declared query resolves its source tables 1-4× per execution.
    * Resolving each source table ONCE per session is what `spark.table()`
    * over a catalog does in production: only the analyzed PLAN (schema +
    * file index metadata) is reused — execution still scans the parquet
    * files on every action, so no result or data caching is introduced.
    * Registered in [[graft.util.SessionCaches]], so the bench's cold pass
    * still measures a cold session's first resolution, and a table
    * rewritten in place resolves afresh instead of serving a stale file
    * listing. Source tables still infer on each resolution; a schema
    * taken from a per-file record, as `AtomicTable` versions carry, is
    * ROADMAP item 2(a)'s open bullet for `Tables.table`. */
  private val resolvedCache = graft.util.SessionCaches.memo[String]("tables.resolved")

  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    resolvedCache(spark, dir, name)(spark.read.parquet(s"$dir/$name.parquet"))

  def region(s: SparkSession, d: String): DataFrame     = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = table(s, d, "lineitem")
  /** `events.ts` has shipped as parquet TIMESTAMP(NANOS) in some testdata
    * drops (Spark 4 refuses to read that natively — [PARQUET_TYPE_ILLEGAL]
    * — so the legacy conf `spark.sql.legacy.parquet.nanosAsLong`, set once
    * in [[GraftSession.builder]], reads it as a raw nanos BIGINT) and as
    * TIMESTAMP(MICROS) (→ TIMESTAMP_NTZ) in others. [[normalizeTs]] adapts
    * on the ACTUAL schema rather than bake in either vintage. A read never
    * writes the session conf. */
  def eventsRaw(s: SparkSession, d: String): DataFrame = table(s, d, "events")

  /** Normalize whatever physical type `ts` arrived as to TimestampType:
    * raw nanos BIGINT → integer-division truncation to micros (ns-since-
    * epoch exceeds 2^53, a double division would silently lose micros;
    * floor matches DuckDB's read of the same file); TIMESTAMP_NTZ → cast
    * (identity wall clock under the UTC session pin, matching DuckDB's
    * naive read). Shared by the batch and streaming readers so the two
    * paths cannot drift. */
  def normalizeTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.{LongType, TimestampType}
    df.schema("ts").dataType match {
      case LongType      =>
        df.withColumn("ts", org.apache.spark.sql.functions.expr("timestamp_micros(ts DIV 1000)"))
      case TimestampType => df
      case _             =>
        df.withColumn("ts", org.apache.spark.sql.functions.col("ts").cast("timestamp"))
    }
  }

  def events(s: SparkSession, d: String): DataFrame =
    normalizeTs(eventsRaw(s, d))
  def documents(s: SparkSession, d: String): DataFrame  = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")

  /** Fan a few-files scan out to full parallelism before a heavy derived
    * computation (shingle explosion, simhash bit sums, norm/dot passes).
    * The corpus parquet is a SINGLE file at bench scale, so everything
    * upstream of the first exchange otherwise runs as one task — measured
    * 2.5 s → 0.7 s on the bigram count at sf0.1. At 100 TB inputs arrive
    * as many splits and this exchange moves data it would have shuffled
    * anyway; use it only where real per-row compute follows. */
  def fanout(s: SparkSession, df: DataFrame): DataFrame =
    df.repartition(s.sparkContext.defaultParallelism)

  /** All relational source tables, keyed by name — the analog of the
    * reference's bronze extraction list (etl_lakehouse.py:40). */
  val sourceNames: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part", "orders", "lineitem")

  /** Register every table as a temp view (S7 in SURVEY.md §2.1 — the
    * DuckDB view-over-parquet pattern at test_queries/test_queries.py:91-95).
    * `events` goes through [[events]], not the raw loader — the raw parquet
    * is TIMESTAMP(NANOS) which a fresh session refuses to read, and even
    * with the legacy conf the raw view would expose ts as a nanos BIGINT. */
  def registerViews(s: SparkSession, d: String): Unit = {
    (sourceNames ++ Seq("documents", "embeddings")).foreach { n =>
      table(s, d, n).createOrReplaceTempView(n)
    }
    events(s, d).createOrReplaceTempView("events")
  }
}
