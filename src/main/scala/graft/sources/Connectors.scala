package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.types.StructType

/** Source/sink adapters covering the reference's connector surface
  * (SURVEY.md §2.1):
  *
  *  - S1/S8 JDBC table + query scans (reference: pd.read_sql_table at
  *    etl_dwh.py:42, SQL fetch at test_queries.py:75)
  *  - S4 chunked JDBC append (reference: 1000-row INSERT batches,
  *    etl_dwh.py:108)
  *  - S6 truncate-and-reload (reference: TRUNCATE with FK checks off,
  *    etl_dwh.py:15-29)
  *
  * This environment has no database SERVER, but the JDBC paths are
  * exercised against a live in-process endpoint: JdbcRoundtripSpec drives
  * chunked append, bare + partitioned scans, and truncate-and-reload
  * through embedded Apache Derby (ships with the Spark distribution). The
  * file-format readers are exercised too (csv via
  * PipelineOps.csvRoundtrip; parquet everywhere).
  *
  * Scale notes: JDBC reads parallelize only when partitionColumn/bounds are
  * set — a bare dbtable read is one task regardless of cluster size, which
  * at 100 TB is the difference between a scan and a stall. [[jdbcRead]]
  * therefore takes the partitioning spec as first-class parameters.
  */
object Connectors {

  /** Partitioned JDBC table scan — numPartitions concurrent range queries
    * on partitionColumn, not one giant result set. */
  def jdbcRead(s: SparkSession, url: String, table: String,
    partitionColumn: Option[String] = None,
    bounds: Option[(Long, Long)] = None,
    numPartitions: Int = 8,
    props: Map[String, String] = Map.empty): DataFrame = {
    val base = s.read.format("jdbc")
      .option("url", url)
      .option("dbtable", table)
      .options(props)
    (partitionColumn, bounds) match {
      case (Some(c), Some((lo, hi))) =>
        base.option("partitionColumn", c)
          .option("lowerBound", lo).option("upperBound", hi)
          .option("numPartitions", numPartitions)
          .load()
      case _ => base.load()
    }
  }

  /** Chunked append (reference S4: batchsize 1000, etl_dwh.py:108). */
  def jdbcAppend(df: DataFrame, url: String, table: String,
    batchSize: Int = 1000, props: Map[String, String] = Map.empty): Unit =
    df.write.format("jdbc")
      .option("url", url)
      .option("dbtable", table)
      .option("batchsize", batchSize)
      .options(props)
      .mode(SaveMode.Append)
      .save()

  /** Truncate-and-reload (reference S6): TRUNCATE keeps the table's schema
    * and grants instead of dropping it, matching the FK-checks-off reload
    * at etl_dwh.py:15-29. */
  def jdbcOverwrite(df: DataFrame, url: String, table: String,
    props: Map[String, String] = Map.empty): Unit =
    df.write.format("jdbc")
      .option("url", url)
      .option("dbtable", table)
      .option("truncate", "true")
      .options(props)
      .mode(SaveMode.Overwrite)
      .save()

  /** Schema-first readers for the non-parquet formats (never inference for
    * engine contracts — SURVEY.md §1.5). */
  def csv(s: SparkSession, path: String, schema: StructType, header: Boolean = true): DataFrame =
    s.read.schema(schema).option("header", header.toString).csv(path)

  def json(s: SparkSession, path: String, schema: StructType): DataFrame =
    s.read.schema(schema).json(path)

  def orc(s: SparkSession, path: String): DataFrame = s.read.orc(path)
}
