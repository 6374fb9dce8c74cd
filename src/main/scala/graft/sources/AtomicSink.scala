package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import java.util

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.util.{AtomicTable, SilverArtifact}

/** The WRITE half of the DataSource V2 surface (the read half is
  * [[GraftGen]]): a transactional batch sink implementing the task-commit
  * protocol every exactly-once distributed writer needs — how a batch's
  * files get finished correctly under task retries and job failure —
  * on top of [[graft.util.AtomicTable]], which makes the finished batch
  * visible:
  *
  *  - **task isolation**: each task writes its rows to a uniquely-named
  *    staged file (`.staging/part-<query>-<partition>-<task>.jsonl`) —
  *    speculative or retried attempts can never collide or interleave;
  *  - **commit messages**: a task reports the file it wrote (plus a row
  *    count) back to the driver ONLY on success — the Iceberg/Delta
  *    "data files are metadata-candidates, not data" principle;
  *  - **atomic job commit**: the driver publishes the committed files as
  *    one [[graft.util.AtomicTable.publishAppend]] version of the sink
  *    directory — readers either see the whole batch or none of it, and
  *    concurrent job commits serialize on the table's locks without
  *    losing each other's files;
  *  - **abort**: failed jobs delete their staged files; nothing they
  *    wrote can ever be read.
  *
  * Rows are encoded as JSON lines (longs and strings — enough for the
  * contract demo; escaping mirrors graft.Verify's). `readBack` scans ONLY
  * the live version directory, so staged, aborted, or stray part files
  * elsewhere in the sink directory are ignored — asserted by
  * AtomicSinkSpec.
  *
  * Usage: `df.write.format("graft.sources.GraftSink")
  *   .option("path", dir).mode("append").save()`.
  */
class GraftSink extends TableProvider {
  override def supportsExternalMetadata(): Boolean = true
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    throw new IllegalArgumentException("graft sink requires an explicit write schema")
  override def getTable(schema: StructType, partitioning: Array[Transform],
      props: util.Map[String, String]): Table = {
    val path = props.get("path")
    require(path != null && path.nonEmpty, "graft sink requires option 'path'")
    new SinkTable(path, schema)
  }
}

object GraftSink {

  /** JSON string escape (the graft.Verify escape — both engines parse it). */
  private[sources] def esc(s: String): String = s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  /** End-to-end write-protocol demo: push an orders projection through
    * the transactional sink (fresh directory per run), plant a STRAY
    * part file outside every published version, and aggregate the
    * version-scoped read-back — equal to the same aggregate over the
    * source table iff (a) every task's rows survived the
    * stage→commit→publish hops intact and (b) snapshot isolation really
    * ignores unpublished files. The oracle aggregates the source
    * directly. */
  def sinkRoundtrip(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val dir = SilverArtifact.pathFor(d, "sink")
    val root = Paths.get(dir)
    // fresh run: drop any prior versions so append semantics of the
    // protocol don't accumulate across verify/bench invocations
    if (Files.exists(root)) {
      val it = Files.walk(root).sorted(java.util.Comparator.reverseOrder[Path]())
      try it.forEach(p => Files.deleteIfExists(p)) finally it.close()
    }
    val df = graft.Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"),
      expr("CAST(floor(o_totalprice * 100) AS BIGINT)").as("cents"),
      col("o_orderstatus"))
    df.write.format("graft.sources.GraftSink").option("path", dir)
      .mode("append").save()
    Files.write(root.resolve("part-stray-never-committed.jsonl"),
      "{\"o_orderkey\":-1,\"o_custkey\":-1,\"cents\":-1,\"o_orderstatus\":\"X\"}\n"
        .getBytes(StandardCharsets.UTF_8))
    readBack(s, dir, df.schema)
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"), sum("cents").as("sum_cents"),
        min("o_orderkey").as("min_key"), max("o_orderkey").as("max_key"))
      .orderBy("o_orderstatus")
  }

  val sinkRoundtripOracle: String = """
SELECT o_orderstatus, count(*) AS n,
       CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
       min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
FROM orders GROUP BY 1 ORDER BY 1"""

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dsv2_sink_roundtrip" -> (sinkRoundtrip _)
  )

  val oracleSql: Map[String, String] = Map(
    "dsv2_sink_roundtrip" -> sinkRoundtripOracle
  )

  /** Read a sink directory with snapshot isolation: ONLY the live
    * version is scanned, so staged, aborted, or stray part files are
    * invisible. A sink with no published version is an empty table. */
  def readBack(s: SparkSession, dir: String, schema: StructType): DataFrame =
    AtomicTable.resolve(dir) match {
      case Some(live) => s.read.schema(schema).json(live)
      case None => s.createDataFrame(
        s.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    }
}

private[sources] class SinkTable(path: String, writeSchema: StructType)
  extends Table with SupportsWrite {
  override def name: String = s"graftsink($path)"
  override def schema: StructType = writeSchema
  override def capabilities: util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_WRITE)
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): Write = new Write {
        override def toBatch: BatchWrite =
          new SinkBatchWrite(path, info.schema(), info.queryId())
      }
    }
}

/** One file per committed task; `commit` publishes atomically. */
private[graft] class SinkBatchWrite(path: String, schema: StructType, queryId: String)
  extends BatchWrite {

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new SinkWriterFactory(path, schema, queryId)

  /** Publish every committed task file as one appended version. The
    * write function LINKS the staged files (never moves them): a lost
    * append race re-runs it against the new base, so the staged copies
    * must outlive every attempt and are deleted only once the publish
    * returned. A file already in the version (a retried driver commit of
    * this job) is kept as is. */
  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val staging = Paths.get(path, ".staging")
    val (committed, empty) =
      messages.collect { case m: SinkCommit => m }.partition(_.rows > 0)
    // empty tasks committed successfully (so task abort never ran) but
    // their files aren't published — reap them or .staging grows forever
    empty.foreach(m => Files.deleteIfExists(staging.resolve(m.file)))
    AtomicTable.publishAppend(path, keep = 2) { dir =>
      committed.foreach { m =>
        val to = Paths.get(dir, m.file)
        if (!Files.exists(to)) AtomicTable.linkOrCopy(staging.resolve(m.file), to)
      }
    }
    committed.foreach(m => Files.deleteIfExists(staging.resolve(m.file)))
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val staging = Paths.get(path, ".staging")
    messages.foreach {
      case m: SinkCommit => Files.deleteIfExists(staging.resolve(m.file))
      case _ => ()
    }
  }
}

private[graft] case class SinkCommit(file: String, rows: Long)
  extends WriterCommitMessage

private[graft] class SinkWriterFactory(path: String, schema: StructType, queryId: String)
  extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new SinkWriter(path, schema, queryId, partitionId, taskId)
}

/** Streams JSON lines to a task-unique staged file. `commit` closes the
  * stream and reports the file; `abort` deletes it. */
private[graft] class SinkWriter(path: String, schema: StructType,
    queryId: String, partitionId: Int, taskId: Long)
  extends DataWriter[InternalRow] {

  private val fileName = s"part-$queryId-$partitionId-$taskId.jsonl"
  private val staged: Path = {
    val stagingDir = Paths.get(path, ".staging")
    Files.createDirectories(stagingDir)
    stagingDir.resolve(fileName)
  }
  private val out = Files.newBufferedWriter(staged, StandardCharsets.UTF_8)
  private var rows = 0L

  override def write(row: InternalRow): Unit = {
    val sb = new StringBuilder("{")
    var i = 0
    while (i < schema.length) {
      if (i > 0) sb.append(',')
      sb.append('"').append(GraftSink.esc(schema(i).name)).append("\":")
      if (row.isNullAt(i)) sb.append("null")
      else schema(i).dataType match {
        case LongType    => sb.append(row.getLong(i))
        case IntegerType => sb.append(row.getInt(i))
        case BooleanType => sb.append(row.getBoolean(i))
        case StringType  =>
          sb.append('"').append(GraftSink.esc(row.getUTF8String(i).toString)).append('"')
        case dt => throw new IllegalArgumentException(
          s"graft sink demo supports long/int/boolean/string columns, got $dt")
      }
      i += 1
    }
    sb.append('}')
    out.write(sb.toString)
    out.newLine()
    rows += 1
  }

  override def commit(): WriterCommitMessage = {
    out.close()
    SinkCommit(fileName, rows)
  }

  override def abort(): Unit = {
    out.close()
    Files.deleteIfExists(staged)
  }

  override def close(): Unit = ()
}
