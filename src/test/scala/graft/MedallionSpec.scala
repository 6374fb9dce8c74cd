package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.Medallion
import graft.ops.SurrogateKeys

object TestSpark {
  // not GraftSession: an extension-injected PushAggThroughUniqueJoin would stay on in PushAggRuleSpec's rule-off case.
  // GraftSession's JVM-wide confs apply, so specs run under the mains' codegen regime.
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config(GraftSession.jvmConfs)
    .getOrCreate()
  val sf = "/root/testdata/sf0.001"
}

class MedallionSpec extends AnyFunSuite {
  import TestSpark._

  test("surrogate keys are contiguous 1..n and deterministic (D1)") {
    val dim = Medallion.dimCustomer(spark, sf)
    val n = dim.count()
    val sks = dim.agg(min("customer_sk"), max("customer_sk"), countDistinct("customer_sk"))
      .head()
    assert(sks.getInt(0) == 1 && sks.getInt(1) == n && sks.getLong(2) == n)
    // deterministic across runs
    val again = Medallion.dimCustomer(spark, sf).orderBy("customer_sk").collect()
    assert(Medallion.dimCustomer(spark, sf).orderBy("customer_sk").collect().sameElements(again))
  }

  test("scalable SK assignment is contiguous 1..n") {
    val df = SurrogateKeys.scalable(
      Tables.customer(spark, sf).repartition(4), "sk")
    val r = df.agg(min("sk"), max("sk"), countDistinct("sk")).head()
    assert(r.getLong(0) == 1L && r.getLong(1) == df.count() && r.getLong(2) == df.count())
  }

  test("dim_date is a continuous daily calendar spanning order bounds (F4/D4)") {
    val dd = Medallion.dimDate(spark, sf)
    val b = Tables.orders(spark, sf)
      .agg(to_date(min("o_orderdate")).as("lo"), to_date(max("o_orderdate")).as("hi")).head()
    val days = java.time.temporal.ChronoUnit.DAYS.between(
      b.getDate(0).toLocalDate, b.getDate(1).toLocalDate) + 1
    assert(dd.count() == days)
    assert(dd.where(col("day_name").isin("Monday", "Tuesday", "Wednesday", "Thursday",
      "Friday", "Saturday", "Sunday")).count() == days)
    // date_sk is yyyyMMdd of full_date
    assert(dd.where(date_format(col("full_date"), "yyyyMMdd").cast("int") =!= col("date_sk"))
      .count() == 0)
  }

  test("day/month names are locale-independent (D4) — English under Locale.GERMANY") {
    val saved = java.util.Locale.getDefault
    try {
      java.util.Locale.setDefault(java.util.Locale.GERMANY)
      val row = graft.ops.DateDim.fromBounds(Tables.orders(spark, sf), col("o_orderdate"))
        .filter(col("full_date") === lit("1995-01-01").cast("date"))
        .select("day_name", "month_name", "date_sk").head()
      assert(row.getString(0) == "Sunday" && row.getString(1) == "January")
      assert(row.getInt(2) == 19950101)
    } finally java.util.Locale.setDefault(saved)
  }

  test("fact has no null SKs and joins back to every dim (D5)") {
    // factSales returns the gold memo's frame, which is ALREADY persisted
    // (and shared with every other query) — a spec-side cache() here both
    // warned "already cached" and, via the paired unpersist, dropped the
    // shared entry out from under later suites
    val f = Medallion.factSales(spark, sf)
    assert(f.count() > 0)
    assert(f.na.drop().count() == f.count())
    val viaDim = f.join(Medallion.dimCustomer(spark, sf), Seq("customer_sk"), "left_anti").count()
    assert(viaDim == 0)
  }

  test("author-string-agg analog is sorted and deterministic (D2/A4)") {
    val sp = Medallion.silverPart(spark, sf)
      .where(col("supplier_names").isNotNull)
      .select("supplier_names").limit(20).collect().map(_.getString(0))
    assert(sp.nonEmpty)
    sp.foreach { names =>
      val parts = names.split(", ").toSeq
      assert(parts == parts.sorted, s"unsorted agg: $names")
    }
  }

  test("q1-q5 return rows with expected shapes") {
    import graft.queries.Analytics._
    assert(q1SalesPerMonth(spark, sf).columns.toSeq ==
      Seq("year_val", "month_name", "n_sales", "total_sales"))
    assert(q2TopParts(spark, sf).count() == 10)
    assert(q3TopCustomers(spark, sf).count() == 5)
    assert(q4SalesByNation(spark, sf).count() > 0)
    assert(q5SupplierPopularity(spark, sf).count() > 0)
  }

  test("SparkEntry contract: every oracle key has a query") {
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
  }

  test("gold fact layout gives partition pruning on year-scoped scans") {
    val lake = s"/tmp/graft_lake_spec/${graft.ops.Dedup.hashCode()}"
    pipeline.Medallion.writeAll(spark, sf, lake)
    val scan = graft.util.AtomicTable.read(spark, s"$lake/gold/fact_sales")
      .filter(col("sale_year") === 1995)
    val plan = scan.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(sale_year"),
      s"year filter did not become a partition filter:\n${plan.take(800)}")
    assert(scan.count() > 0)
  }
}
