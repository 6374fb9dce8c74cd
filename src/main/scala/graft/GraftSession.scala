package graft

import org.apache.spark.sql.SparkSession

/** Tuned SparkSession entry point for the engine — the one-stop builder a
  * library user calls instead of hand-assembling configs, and the only
  * place this library calls `SparkSession.builder()`: `Bench`, `Verify`
  * and `Tool` all start here, so the oracle, the plan audits and the
  * benchmarks see the same optimizer rules and physical plans.
  *
  * Defaults encode the deployment guidance that recurs in this codebase's
  * scaladoc: shuffle partitions sized to the cluster (NOT the 200 default —
  * match cores locally, 2-3× total cores on a cluster), AQE on (runtime
  * coalescing + skew-join splitting), UTC session time zone (oracle/date
  * parity), the nanos-timestamp read conf, and the graft optimizer
  * extensions injected. Sessions cloned with `newSession()` (the
  * streaming clones) inherit every entry.
  */
object GraftSession {

  /** Cores of the default local master: the `SPARK_GRAFT_CPUS` deployment
    * setting, else every core of the host. */
  private def defaultCores: Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors)

  private val LocalN = """local\[(\d+)(?:,\d+)?\]""".r

  /** Default shuffle partitions: the N of `local[N]`, every core for other
    * local masters, Spark's 200 on a cluster. */
  private[graft] def partitionsFor(master: String): Int = master match {
    case LocalN(n) => n.toInt
    case m if m.startsWith("local") => Runtime.getRuntime.availableProcessors
    case _ => 200
  }

  def builder(master: String = s"local[$defaultCores]",
    shufflePartitions: Option[Int] = None,
    appName: String = "graft"): SparkSession.Builder = {
    val parts = shufflePartitions.getOrElse(partitionsFor(master))
    SparkSession.builder()
      .master(master)
      .appName(appName)
      .config("spark.sql.shuffle.partitions", parts.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // reads a TIMESTAMP(NANOS) events.ts as a nanos BIGINT (Tables.eventsRaw)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", classOf[graft.functions.GraftExtensions].getName)
  }

  def getOrCreate(): SparkSession = {
    val s = builder().getOrCreate()
    graft.functions.GraftFunctions.register(s)
    s
  }
}
