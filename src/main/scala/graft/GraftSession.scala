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
  *
  * Further defaults, [[jvmConfs]], let one compiled class serve every
  * pass, session and stream start in the JVM, and let local file
  * operations run without starting a process (see there).
  */
object GraftSession {

  /** Entries of Spark's generated-class cache. Spark keeps every class it
    * compiles (whole-stage stages, projections, predicates, orderings) in
    * one JVM-wide Guava cache, capped by this static conf at 100 by
    * default; a miss costs a janino compile on the query's path.
    *
    * Derivation. A `graft.Bench` run at sf0.01 with a cap that evicts
    * nothing and artifact isolation off compiles 3,420 distinct classes:
    * 3,188 in its cold pass over the 305 declared queries, 106 in warmup
    * and calibration before it, and 88 and 38 in its two steady passes
    * (code that differs per call, which no later call reuses). All 3,420
    * are the working set. Guava splits the cap evenly over 4 segments
    * (Spark sets no concurrency level) and evicts per segment, so a
    * segment whose hash share runs above its quarter evicts while the
    * total is still below the cap. Twice the working set gives each
    * segment twice its mean load (1,710 against 855); the spread of 3,420
    * uniformly hashed keys over 4 segments is about 25 per segment, so the
    * doubling leaves about 850 entries per segment for new queries and
    * per-call classes. Once those fill it, the cache evicts the least
    * recently used class, which is a per-call one. With stage ids out of
    * class names (below) the same run compiles fewer classes (2,841 in its
    * cold pass, 18 in three steady passes), so the margin only grows. Every cached class
    * stays loaded: after such a run the JVM's metaspace (MemoryPoolMXBean
    * "Metaspace") holds 247 MB, against 227 MB after a run under the
    * 100-entry default, which lets evicted classes unload. */
  private val CodegenCacheEntries: Int = 2 * 3420

  /** The settings that take effect once per JVM. Three make generated
    * code compile once per JVM:
    *  - `spark.sql.codegen.cache.maxEntries`: [[CodegenCacheEntries]];
    *  - `spark.sql.artifact.isolation.enabled=false`. Spark keys its
    *    generated-class cache on (context class loader, code body). With
    *    artifact isolation on (Spark 4's default) every new session, and
    *    so every start of a streaming query (which runs in a fresh clone of
    *    its session), gets its tasks their own class loader, so byte-
    *    identical code is compiled again under each. Isolation only keeps
    *    one session's `addArtifact`/`addJar` out of another, and this
    *    library adds no artifact or jar to any session, so it protects
    *    nothing here;
    *  - `spark.sql.codegen.useIdInClassName=false`. Spark names each
    *    whole-stage class after its codegen stage id, and under AQE the ids
    *    follow the order in which a query's stages are planned, which can
    *    change from call to call (`assoc_rules`' stages do). Two bodies that
    *    differ only in that suffix are two cache entries; without it they
    *    are one. The id stays in the plan's explain output.
    *
    * Two register [[graft.util.LocalFs]] for `file:` paths, under both of
    * Hadoop's file system APIs: `fs.file.impl` (`FileSystem`: parquet
    * writes, listings, the `AtomicTable` data files) and
    * `fs.AbstractFileSystem.file.impl` (FileContext: streaming
    * checkpoints, state stores and file-sink logs). Without a native
    * libhadoop, Hadoop's raw local file system starts a `chmod` process
    * for every file and directory it creates and a `readlink` process for
    * every link probe of a FileContext rename. A JFR recording
    * (`jdk.ProcessStart`) of perfbench counted 17 starts per committed
    * `AtomicTable` append and 172 per `stream_corpus_filter` start (59
    * `chmod`, 112 `readlink`, and Spark's own `rm -rf` of the session
    * clone's artifact directory), at 1.3–1.7 ms each. Both entries wrap
    * it in Hadoop's checksummed classes (`.crc` files, checksum
    * verification) and keep FileContext's no-overwrite rename, which is
    * why the checkpoints stay on the FileContext manager. A native
    * libhadoop would avoid the processes as well, but Spark's binary
    * distribution ships none.
    *
    * They take effect only when the JVM's first session is created: they
    * reach every later session and clone through that session's SparkConf,
    * the cache is sized once, when Spark first generates code, and a
    * session reads the isolation flag once. Hadoop caches one `FileSystem`
    * per scheme, authority and user, and its cache key ignores the
    * configuration, so the first `file:` instance created in the JVM
    * serves every later one; no code of this library obtains a
    * `FileSystem` before its first session. A session built before
    * [[builder]] ran, or `getOrCreate` returning an existing session, leaves
    * them unapplied. */
  private[graft] val jvmConfs: Map[String, String] = Map(
    "spark.sql.codegen.cache.maxEntries" -> CodegenCacheEntries.toString,
    "spark.sql.artifact.isolation.enabled" -> "false",
    "spark.sql.codegen.useIdInClassName" -> "false",
    "spark.hadoop.fs.file.impl" -> classOf[graft.util.LocalFs.Checksummed].getName,
    "spark.hadoop.fs.AbstractFileSystem.file.impl" -> classOf[graft.util.LocalFs.ChecksummedFs].getName)

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
      .config(jvmConfs)
  }

  def getOrCreate(): SparkSession = {
    val s = builder().getOrCreate()
    graft.functions.GraftFunctions.register(s)
    s
  }
}
