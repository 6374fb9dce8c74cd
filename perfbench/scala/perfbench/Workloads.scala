package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** What each workload runs: the declared queries of its modules (the
  * `queries` maps `SparkEntry` collects), which the timed names of
  * `harness.WORKLOADS` are looked up in, the set-up steps that publish the
  * stored tables those queries read, and the row shape of its commit
  * batches. */
object Workloads {
  type Query = (SparkSession, String) => DataFrame

  def queries(workload: String): Map[String, Query] = workload match {
    case "star_analytics" =>
      graft.queries.Analytics.queries ++ graft.queries.RelOps.queries ++
        graft.queries.TemporalOps.queries ++ graft.queries.BehaviorOps.queries
    case "corpus_curation" =>
      graft.ops.Dedup.queries ++ graft.ops.Similarity.queries ++ graft.ops.TextOps.queries ++
        graft.ops.TokenOps.queries ++ graft.ops.CorpusOps.queries ++
        graft.ops.SubstringDedup.queries ++ graft.ops.Boilerplate.queries ++
        graft.ops.InvertedIndex.queries ++
        graft.streaming.EventsStream.queries.filter { case (k, _) => k == "stream_corpus_filter" }
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  /** A set-up step publishes one stored table into an empty store. The
    * stored tables that only a query's first run publishes are built by
    * running that query once. Each workload builds the tables its timed
    * queries read. */
  final case class Step(name: String, module: String, run: (SparkSession, String) => DataFrame)

  private def viaQuery(q: String, module: String, workload: String): Step =
    Step(s"via:$q", module, queries(workload)(q))

  def setup(workload: String): Seq[Step] = workload match {
    case "star_analytics" =>
      import graft.pipeline.Medallion
      Seq(
        Step("gold_dim_customer", "Medallion", Medallion.dimCustomer),
        Step("gold_dim_part", "Medallion", Medallion.dimPart),
        Step("gold_dim_supplier", "Medallion", Medallion.dimSupplier),
        Step("gold_dim_date", "Medallion", Medallion.dimDate),
        Step("gold_fact_sales", "Medallion", Medallion.factSales),
        viaQuery("copurchase_pairs", "SilverArtifact", workload))
    case "corpus_curation" =>
      Seq(
        viaQuery("dedup_minhash_lsh", "SilverArtifact", workload),
        viaQuery("sparse_retrieval", "SilverArtifact", workload),
        Step("inverted_index", "SilverArtifact", graft.ops.InvertedIndex.indexTable))
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  /** Row shape of the workload's commit batches (CSV columns in order). */
  def batchSchema(workload: String): StructType = workload match {
    case "star_analytics" => StructType(Seq(
      StructField("l_orderkey", LongType), StructField("l_partkey", LongType),
      StructField("l_suppkey", LongType), StructField("l_quantity", DoubleType),
      StructField("l_extendedprice", DoubleType), StructField("l_discount", DoubleType),
      StructField("l_shipdate", DateType)))
    case "corpus_curation" => StructType(Seq(
      StructField("doc_id", LongType), StructField("source", StringType),
      StructField("text", StringType)))
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }
}
