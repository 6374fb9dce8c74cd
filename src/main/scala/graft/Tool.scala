package graft

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.{FileSourceScanExec, FormattedMode, GenerateExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeExec}

/** Developer tool over the declared queries ([[SparkEntry.queries]]):
  * {{{
  *   sbt "runMain graft.Tool time    <sfDir> <query>"
  *   sbt "runMain graft.Tool explain <sfDir> <outDir> <suffix> <q1,q2|all>"
  *   sbt "runMain graft.Tool reuse   <sfDir> <q1,q2,...>"
  *   sbt "runMain graft.Tool plans   <sfDir>" > PLANS.md
  * }}}
  * Each subcommand is a function of (session, args), so a spec can drive
  * it on its own session; `main` only builds the [[GraftSession]] — the
  * session `Bench` and `Verify` run on — and dispatches. */
object Tool {

  private val commands: Map[String, (SparkSession, Seq[String]) => Any] = Map(
    "time" -> (time _), "explain" -> (explain _), "reuse" -> (reuse _), "plans" -> (plans _))

  def main(args: Array[String]): Unit = {
    val run = commands.getOrElse(args.headOption.getOrElse(""), {
      System.err.println(s"usage: graft.Tool ${commands.keys.toSeq.sorted.mkString("|")} <sfDir> ...")
      sys.exit(2)
    })
    val spark = GraftSession.builder().config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try run(spark, args.toSeq.tail) finally spark.stop()
  }

  private def query(name: String): (SparkSession, String) => DataFrame =
    SparkEntry.queries.getOrElse(name, throw new IllegalArgumentException(
      s"unknown query '$name'; known: ${SparkEntry.queries.keys.toSeq.sorted.mkString(", ")}"))

  private def need(args: Seq[String], n: Int, shape: String): Seq[String] = {
    require(args.size >= n, s"usage: $shape")
    args.take(n)
  }

  /** Produces every result row of `df` into the `noop` sink: end-to-end
    * execution, where `count()` lets Catalyst prune whatever does not
    * change the row count. */
  def materialize(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Classes Spark generated and compiled, and the janino seconds spent on
    * them. */
  final case class Codegen(compiles: Long, seconds: Double)

  /** Runs `run` and returns its result with the compiles the JVM made
    * meanwhile. */
  def compiling[T](run: => T): (T, Codegen) = {
    val (n0, t0) = (CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime)
    val r = run
    (r, Codegen(CodegenMetrics.METRIC_COMPILATION_TIME.getCount - n0,
      (CodeGenerator.compileTime - t0) / 1e9))
  }

  /** Runs the query once cold (warming plans, memos and the JIT), then
    * times three steady passes, each until every result row has reached the
    * `noop` sink. Prints all four with the classes each compiled; returns
    * the steady pass times in seconds. */
  def time(spark: SparkSession, args: Seq[String]): Seq[Double] = {
    val Seq(sfDir, name) = need(args, 2, "time <sfDir> <query>")
    val fn = query(name)
    def timed(label: String): Double = {
      val t0 = System.nanoTime()
      val (_, cg) = compiling(materialize(fn(spark, sfDir)))
      val t = (System.nanoTime() - t0) / 1e9
      println(f"[time] $name $label: $t%.3f s (codegen: ${cg.compiles} compiles, ${cg.seconds}%.3f s)")
      t
    }
    timed("cold")
    val times = (1 to 3).map(i => timed(s"pass $i"))
    println(f"[time] $name min: ${times.min}%.3f s")
    times
  }

  /** Writes `.explain("formatted")` of each query to `<outDir>/<query>_<suffix>.txt`;
    * returns the files written. */
  def explain(spark: SparkSession, args: Seq[String]): Seq[Path] = {
    val Seq(sfDir, outDir, suffix, qlist) =
      need(args, 4, "explain <sfDir> <outDir> <suffix> <q1,q2|all>")
    val names =
      if (qlist == "all") SparkEntry.queries.keys.toSeq.sorted else qlist.split(",").toSeq
    val dir = Files.createDirectories(Paths.get(outDir))
    names.map { name =>
      val txt = query(name)(spark, sfDir).queryExecution.explainString(FormattedMode)
      val f = Files.writeString(dir.resolve(s"${name}_$suffix.txt"), txt)
      System.err.println(s"[explain] $name -> $f (${txt.length} chars)")
      f
    }
  }

  /** Live operator counts of a query's FINAL adaptive plan, distinct by
    * operator id: a subtree materialized once and read by N consumers
    * counts once. */
  final case class Reuse(liveShuffles: Int, reusedExchanges: Int, liveGenerates: Int, liveScans: Int)

  private def flatten(p: SparkPlan): Seq[SparkPlan] =
    p +: (p match {
      case a: AdaptiveSparkPlanExec => flatten(a.executedPlan)
      case q: QueryStageExec        => flatten(q.plan)
      case r: ReusedExchangeExec    => flatten(r.child)
      case other                    => other.children.flatMap(flatten)
    })

  /** Executes each query and counts its live shuffles, generates and scans —
    * the exchange and subtree reuse AQE does at run time, which a static
    * `.explain` cannot show. */
  def reuse(spark: SparkSession, args: Seq[String]): Seq[(String, Reuse)] = {
    val Seq(sfDir, qlist) = need(args, 2, "reuse <sfDir> <q1,q2,...>")
    qlist.split(",").toSeq.map { name =>
      val df = query(name)(spark, sfDir)
      df.collect()
      val nodes = flatten(df.queryExecution.executedPlan)
      val r = Reuse(
        nodes.collect { case e: ShuffleExchangeExec => e.id }.distinct.size,
        nodes.count(_.isInstanceOf[ReusedExchangeExec]),
        nodes.collect { case g: GenerateExec => g.id }.distinct.size,
        nodes.collect { case s: FileSourceScanExec => s.id }.distinct.size)
      println(s"[reuse] $name: liveShuffles=${r.liveShuffles} reusedExchanges=" +
        s"${r.reusedExchanges} liveGenerates=${r.liveGenerates} liveScans=${r.liveScans}")
      name -> r
    }
  }

  /** Prints the PLANS.md physical-plan audit: the executed plan of every
    * [[PlanDump.audited]] query under the claim it is audited for. */
  def plans(spark: SparkSession, args: Seq[String]): Unit = {
    val Seq(sfDir) = need(args, 1, "plans <sfDir>")
    println(s"# PLANS - physical-plan audit (generated by graft.Tool plans at ${Paths.get(sfDir).getFileName})")
    println()
    println("""Evidence that the headline plans are the plans we want: filters and
projections reach the parquet scan, dims broadcast, aggregates are
partial before the shuffle, top-k plans as TakeOrderedAndProject, the
bucketed join has no Exchange, ranking shares one exchange with its
aggregation, the correlated scalar subquery is decorrelated, the cosine
block product shuffles once on the block key, and the salted distinct
aggregates partially per salt. Regenerate with:
`sbt "runMain graft.Tool plans <sfDir>" > PLANS.md`""")
    PlanDump.audited.foreach { case (name, claim) =>
      val df = query(name)(spark, sfDir)
      println()
      println(s"## $name - $claim")
      println()
      println("```")
      // executedPlan, truncated per line to keep the audit reviewable
      println(df.queryExecution.executedPlan.toString.linesIterator
        .map(l => if (l.length > 400) l.take(397) + "..." else l)
        .mkString("\n").trim)
      println("```")
    }
  }
}
