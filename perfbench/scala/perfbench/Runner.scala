package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.util.{AtomicTable, SessionCaches, SilverArtifact}

/** Runs one workload plan in this JVM and writes its raw record as JSON.
  *
  * Usage: `Runner <plan.json> <record.json>`. The plan (written by
  * `run.py`) fixes the query order of every pass and the commit batches;
  * this program only executes it and measures. Every query is timed from
  * the call of its function until its last row reached [[DigestSink]].
  * Exit code 0 means the record is complete; a set-up failure exits 3
  * after writing what it has. */
object Runner {
  private val mapper = new ObjectMapper()

  private def strs(n: JsonNode): Seq[String] = n.elements().asScala.map(_.asText).toSeq

  private def describe(e: Throwable): String =
    s"${e.getClass.getName}: ${Option(e.getMessage).getOrElse("").take(500)}"

  private def seconds(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def main(args: Array[String]): Unit = {
    val plan = mapper.readTree(Paths.get(args(0)).toFile)
    val rec = mutable.LinkedHashMap[String, Any]()
    val code =
      try { new Runner(plan, rec).run(); 0 }
      catch { case NonFatal(e) => e.printStackTrace(); rec("fatal") = describe(e); 3 }
    Files.writeString(Paths.get(args(1)), Json.write(rec))
    System.exit(code)
  }

  def du(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val st = Files.walk(p)
      try st.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally st.close()
    }
}

final class Runner(plan: JsonNode, rec: mutable.LinkedHashMap[String, Any]) {
  import Runner._

  private val workload = plan.get("workload").asText
  private val runDir = Paths.get(plan.get("run_dir").asText)
  private val srcData = Paths.get(plan.get("data_dir").asText)
  private val dataDir = runDir.resolve("data")
  private val traced = plan.get("trace").asBoolean
  private val cores = Runtime.getRuntime.availableProcessors
  private val queries = Workloads.queries(workload)
  private var spark: SparkSession = _
  private var analyzer: org.apache.spark.perfbench.AnalyzerClock = _
  private var nextId = 0L

  /** Runs `df` to completion into the digest sink. */
  private def drain(df: DataFrame): Digest.Acc = {
    nextId += 1
    val id = s"q$nextId"
    df.write.format(classOf[DigestSink].getName).option("id", id).mode("overwrite").save()
    DigestSink.take(id).getOrElse(throw new IllegalStateException("digest sink did not commit"))
  }

  private def timeQuery(name: String, d: String, dump: Option[Path]): Map[String, Any] = {
    val fn = queries.getOrElse(name, throw new IllegalArgumentException(s"unknown query $name"))
    val t0 = System.nanoTime()
    var t1 = t0
    try Trace.span(name, "query") {
      val df = Trace.span("construct", "construct")(fn(spark, d))
      t1 = System.nanoTime()
      val acc = Trace.span("execute", "execute")(drain(df))
      val t2 = System.nanoTime()
      dump.foreach(p => df.coalesce(1).write.mode("overwrite").parquet(p.resolve(name).toString))
      Map("name" -> name, "construct_s" -> (t1 - t0) / 1e9, "execute_s" -> (t2 - t1) / 1e9,
        "rows" -> acc.rows, "digest" -> acc.hex)
    } catch {
      case NonFatal(e) =>
        Map("name" -> name, "construct_s" -> (t1 - t0) / 1e9, "execute_s" -> seconds(t1),
          "error" -> describe(e))
    }
  }

  /** One pass over `order`, with codegen counters and, when traced, the
    * analyzer's rule time around it. */
  private def pass(label: String, order: Seq[String], d: String,
      dump: Option[Path] = None): Map[String, Any] = {
    import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
    import org.apache.spark.metrics.source.CodegenMetrics
    val c0 = CodeGenerator.compileTime
    val n0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val a0 = if (traced) analyzer.ns else 0L
    val w0 = Trace.nowMs
    val t0 = System.nanoTime()
    val qs = Trace.span(label, "phase")(order.map(timeQuery(_, d, dump)))
    Map("label" -> label, "wall_s" -> seconds(t0), "start_ms" -> w0, "end_ms" -> Trace.nowMs,
      "codegen_compile_s" -> (CodeGenerator.compileTime - c0) / 1e9,
      "codegen_compiles" -> (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - n0),
      "analysis_s" -> (if (traced) (analyzer.ns - a0) / 1e9 else 0.0),
      "queries" -> qs)
  }

  /** The run's view of the input tables: hard links under a fresh path,
    * so every path-keyed store and staging directory starts empty. */
  private def linkData(): String = {
    Files.createDirectories(dataDir)
    val st = Files.list(srcData)
    try st.iterator().asScala.filter(_.toString.endsWith(".parquet"))
      .foreach(f => Files.createLink(dataDir.resolve(f.getFileName), f))
    finally st.close()
    dataDir.toString
  }

  /** Deletes what the library staged under its fixed `/tmp/graft_*`
    * directories for this run: every such path is keyed by
    * `PathKeys.safe` of the data directory, which is new in each run. */
  private def removeStaging(): Unit = {
    val key = graft.util.PathKeys.safe(dataDir.toString)
    val dirs = Files.newDirectoryStream(Paths.get("/tmp"), "graft_*")
    try dirs.asScala.filter(Files.isDirectory(_)).foreach { dir =>
      val staged = Files.newDirectoryStream(dir, s"$key*")
      try staged.asScala.foreach(p => org.apache.commons.io.FileUtils.deleteQuietly(p.toFile))
      finally staged.close()
    } finally dirs.close()
  }

  private def silverLogLines(): Long = {
    val root = Paths.get(SilverArtifact.root)
    if (!Files.exists(root)) 0L
    else {
      val st = Files.walk(root)
      try st.iterator().asScala.filter(_.getFileName.toString == "_LOG")
        .map(p => Files.readAllLines(p).size.toLong).sum
      finally st.close()
    }
  }

  /** Builds the workload's stored tables into an empty store. */
  private def setup(d: String): Map[String, Any] = {
    SilverArtifact.root = runDir.resolve("silver").toString
    val t0 = System.nanoTime()
    val steps = Trace.span("setup", "phase") {
      Workloads.setup(workload).map { st =>
        val s0 = System.nanoTime()
        // a failed step fails the run: its cost would otherwise move into the passes
        Trace.span(st.name, "step")(drain(st.run(spark, d)))
        Map("name" -> st.name, "module" -> st.module, "s" -> seconds(s0))
      }
    }
    Map("total_s" -> seconds(t0), "steps" -> steps)
  }

  private def readBatch(file: String): DataFrame = {
    import org.apache.spark.sql.types._
    val schema = Workloads.batchSchema(workload)
    val rows = Files.readAllLines(Paths.get(file)).asScala.map { line =>
      Row.fromSeq(line.split("\t", -1).toSeq.zip(schema.fields).map { case (v, f) =>
        f.dataType match {
          case LongType      => v.toLong
          case DoubleType    => v.toDouble
          case DateType      => java.sql.Date.valueOf(v)
          case _             => v
        }
      })
    }
    spark.createDataFrame(rows.asJava, schema)
  }

  private def topLevelBytes(base: Path): Long = {
    val st = Files.list(base)
    try st.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
    finally st.close()
  }

  /** Bytes one commit wrote: the files of the new version that no earlier
    * version links (a single link), plus the table's top-level metadata
    * files, which every commit rewrites. */
  private def commitBytes(base: Path): Long = {
    val st = Files.walk(Paths.get(AtomicTable.resolve(base.toString).get))
    val data =
      try st.iterator().asScala.filter(Files.isRegularFile(_))
        .filter(p => Files.getAttribute(p, "unix:nlink").asInstanceOf[Int] == 1)
        .map(Files.size).sum
      finally st.close()
    data + topLevelBytes(base)
  }

  private def parquetFiles(dir: String): Int = {
    val st = Files.walk(Paths.get(dir))
    try st.iterator().asScala.count(_.getFileName.toString.endsWith(".parquet"))
    finally st.close()
  }

  /** Seeded appends to one table through `AtomicTable.appendIdempotent`,
    * with a read of the latest version at every plan read point, and of the
    * oldest retained version at the last one. */
  private def commitLoop(c: JsonNode): Map[String, Any] = {
    val base = runDir.resolve("commit_table")
    val keep = c.get("keep").asInt
    val readEvery = c.get("read_every").asInt
    val appends = mutable.ArrayBuffer[Map[String, Any]]()
    val reads = mutable.ArrayBuffer[Map[String, Any]]()
    val start = Trace.nowMs
    Trace.span("commit_loop", "phase") {
      val batches = c.get("batches").elements().asScala.toVector
      batches.zipWithIndex.foreach { case (b, i) =>
        val df = readBatch(b.get("file").asText)
        val txn = b.get("txn").asLong
        val before = AtomicTable.resolve(base.toString).map(parquetFiles).getOrElse(0)
        try {
          var writeNs = 0L
          val t0 = System.nanoTime()
          val committed = Trace.span(s"append $txn", "append") {
            AtomicTable.appendIdempotent(base.toString, "perfbench", txn, keep) { dir =>
              val s0 = System.nanoTime()
              df.write.mode("append").parquet(dir)
              writeNs = System.nanoTime() - s0
            }
          }
          val ms = (System.nanoTime() - t0) / 1e6
          appends += Map("txn" -> txn, "committed" -> committed, "append_ms" -> ms,
            "write_ms" -> writeNs / 1e6, "meta_bytes" -> topLevelBytes(base),
            "written_bytes" -> (if (committed) commitBytes(base) else 0L), "files_before" -> before)
        } catch { case NonFatal(e) => appends += Map("txn" -> txn, "error" -> describe(e)) }
        if ((i + 1) % readEvery == 0) {
          try {
            val t0 = System.nanoTime()
            val latest = Trace.span("read latest", "read")(drain(AtomicTable.read(spark, base.toString)))
            val ms = (System.nanoTime() - t0) / 1e6
            val read = Map("after" -> (i + 1), "rows" -> latest.rows, "ms" -> ms,
              "files" -> parquetFiles(AtomicTable.resolve(base.toString).get))
            reads += (if (i + readEvery < batches.size) read else {
              val oldest = AtomicTable.history(base.toString).head
              val old = Trace.span("read oldest", "read")(
                drain(AtomicTable.readVersion(spark, base.toString, oldest)))
              read ++ Map("oldest" -> oldest, "oldest_rows" -> old.rows)
            })
          } catch { case NonFatal(e) => reads += Map("after" -> (i + 1), "error" -> describe(e)) }
        }
      }
    }
    Map("appends" -> appends.toSeq, "reads" -> reads.toSeq, "start_ms" -> start,
      "end_ms" -> Trace.nowMs)
  }

  private def session(): SparkSession = {
    val s = graft.GraftSession.builder(master = s"local[$cores]", appName = "perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", runDir.resolve("warehouse").toString)
      .config("spark.local.dir", runDir.resolve("spark-local").toString)
      .config("spark.sql.streaming.checkpointLocation", runDir.resolve("checkpoints").toString)
      .getOrCreate()
    graft.functions.GraftFunctions.register(s)
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def run(): Unit = {
    val rt = java.lang.management.ManagementFactory.getRuntimeMXBean
    Trace.enabled = traced
    rec("workload") = workload
    rec("run_id") = Trace.runId
    rec("cores") = cores
    rec("jvm") = s"${System.getProperty("java.vm.name")} ${System.getProperty("java.runtime.version")}"
    // also runs when the JVM is terminated (SIGTERM) before it finishes
    sys.addShutdownHook(removeStaging())
    Trace.span("run", "run") {
      spark = session()
      rec("session_s") = (System.currentTimeMillis() - rt.getStartTime) / 1e3
      if (traced) {
        spark.sparkContext.addSparkListener(Trace.Collector)
        spark.listenerManager.register(Trace.Collector)
        analyzer = new org.apache.spark.perfbench.AnalyzerClock(spark)
      }
      rec("spark_version") = spark.version
      val d = linkData()
      rec("setup") = setup(d)
      rec("commit") = commitLoop(plan.get("commit"))

      val logs0 = silverLogLines()
      SessionCaches.clear(spark)
      val dump = Option(plan.get("dump_dir")).map(n => Paths.get(n.asText))
      dump.foreach { p =>
        Files.createDirectories(p)
        Files.writeString(p.resolve("oracle_sql.json"),
          Json.write(graft.SparkEntry.oracleSql.filter { case (k, _) => queries.contains(k) }))
      }
      rec("cold") = pass("cold", strs(plan.get("cold_order")), d, dump)
      val budget = plan.get("seconds").asDouble
      val minPasses = plan.get("min_steady_passes").asInt
      val t0 = System.nanoTime()
      val steady = mutable.ArrayBuffer[Map[String, Any]]()
      val orders = plan.get("steady_orders").elements().asScala
      while (orders.hasNext && (steady.size < minPasses || seconds(t0) < budget))
        steady += pass(s"warm_${steady.size}", strs(orders.next()), d)
      rec("steady") = steady.toSeq
      val storage = spark.sparkContext.getRDDStorageInfo
      rec("cached_bytes") = storage.map(i => i.memSize + i.diskSize).sum
      rec("persisted_rdds") = spark.sparkContext.getPersistentRDDs.size
      rec("silver") = Map("builds_in_passes" -> (silverLogLines() - logs0),
        "disk_bytes" -> du(Paths.get(SilverArtifact.root)))
      if (traced) rec("layers") = layerProbes(d)
      rec("conf") = spark.conf.getAll.toSeq.sortBy(_._1).toMap
    }
    if (traced) {
      org.apache.spark.perfbench.Bridge.drainListeners(spark.sparkContext)
      rec("windows") = (Seq(rec("cold")) ++ rec("steady").asInstanceOf[Seq[Any]] :+ rec("commit"))
        .map(_.asInstanceOf[Map[String, Any]]).map { p =>
          Trace.window(p("start_ms").asInstanceOf[Double], p("end_ms").asInstanceOf[Double], cores)
        }
      rec("stream_batches") = Trace.batches.toSeq.map(b => Map("durations" -> b.durations,
        "state_rows" -> b.stateRows, "state_bytes" -> b.stateBytes, "state_commit_ms" -> b.stateCommitMs))
      rec("spans") = Trace.finish().map(s => Map("id" -> s.id, "parent" -> s.parent,
        "name" -> s.name, "kind" -> s.kind, "start" -> s.start, "end" -> s.end, "attrs" -> s.attrs))
    }
    spark.stop()
  }

  /** Direct calls into `Tables` and `Medallion` from fresh sessions, after
    * the timed passes: each source table resolved cold and then again, and
    * the gold tables built into an empty store and then read back from it. */
  private def layerProbes(d: String): Map[String, Any] = {
    import graft.pipeline.Medallion
    def ms(f: => Any): Double = { val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e6 }
    val names = graft.Tables.sourceNames ++ Seq("documents", "embeddings")
    val fresh = spark.newSession()
    val cold = names.map(n => ms(graft.Tables.table(fresh, d, n)))
    val hit = names.map(n => ms(graft.Tables.table(fresh, d, n)))
    val gold = Seq(Medallion.dimCustomer _, Medallion.dimPart _, Medallion.dimSupplier _,
      Medallion.dimDate _, Medallion.factSales _)
    val root = SilverArtifact.root
    SilverArtifact.root = runDir.resolve("silver_probe").toString
    try {
      val (builder, reader) = (spark.newSession(), spark.newSession())
      val build = Trace.span("gold build", "probe")(ms(gold.foreach(f => drain(f(builder, d)))))
      SessionCaches.clear(builder)
      val read = Trace.span("gold read", "probe")(ms(gold.foreach(f => drain(f(reader, d)))))
      SessionCaches.clear(reader)
      Map("resolve_cold_ms" -> cold, "resolve_hit_ms" -> hit,
        "gold_build_s" -> build / 1e3, "gold_read_s" -> read / 1e3)
    } finally {
      SilverArtifact.root = root
      SessionCaches.clear(fresh)
    }
  }
}

/** Minimal JSON writer for the record. */
object Json {
  private def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"'  => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def write(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => write(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + write(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(write).mkString("[", ",", "]")
    case x => str(x.toString)
  }
}
