package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession, classic}
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan, Repartition}
import org.apache.spark.sql.execution.{CommandExecutionMode, QueryExecution}
import org.apache.spark.sql.execution.datasources.{DataSource, InsertIntoHadoopFsRelationCommand}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, LongType, StringType, StructField, StructType}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.GraftExtensions
import graft.plans.LocalWrites
import graft.util.AtomicTable

/** [[LocalWrites]]: a file write of driver-held rows lands as one file per
  * split instead of one per core, and every other write plans as before.
  * Runs in a session built with [[GraftExtensions]] over the shared
  * local[4] context, against the extension-free `TestSpark` session. */
class LocalWritesSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val plain = TestSpark.spark

  private lazy val ext: SparkSession = {
    val s = SparkSession.builder().withExtensions(new GraftExtensions).create()
    // other suites resolve the ambient session; keep it the shared one
    SparkSession.setActiveSession(plain)
    SparkSession.setDefaultSession(plain)
    s
  }

  private val dirs = scala.collection.mutable.ArrayBuffer[Path]()

  override def afterAll(): Unit = {
    SparkSession.setActiveSession(plain)
    SparkSession.setDefaultSession(plain)
    dirs.foreach(AtomicTable.deleteRecursively)
  }

  private def tmp(): Path = {
    val d = Files.createTempDirectory("graft_local_writes")
    dirs += d
    d
  }

  private val schema = StructType(Seq(
    StructField("id", LongType, nullable = false), StructField("s", StringType)))

  /** `n` driver-held rows: a bare `LocalRelation`. */
  private def local(n: Int, from: Int = 0): DataFrame =
    ext.createDataFrame((from until from + n).map(i => Row(i.toLong, s"row-$i")).asJava, schema)

  private def parquetFiles(dir: String): Int =
    Files.walk(Paths.get(dir)).iterator().asScala
      .count(p => Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet"))

  private def live(base: String): String = AtomicTable.resolve(base).get

  private def assertSameRows(a: DataFrame, b: DataFrame): Unit = {
    assert(a.exceptAll(b).isEmpty, "rows written but not read back")
    assert(b.exceptAll(a).isEmpty, "rows read back but not written")
  }

  private def assertRecorded(dir: String): Unit = {
    val rec = Paths.get(dir, "_SCHEMA")
    assert(Files.exists(rec), s"no schema record in $dir")
    assert(DataType.fromJson(Files.readString(rec)) == plain.read.parquet(dir).schema)
  }

  /** The file-write command `df.write.mode("overwrite").parquet(dir)`
    * plans, before optimization. */
  private def writeCommand(s: SparkSession, df: DataFrame, dir: String)
      : InsertIntoHadoopFsRelationCommand =
    DataSource(s.asInstanceOf[classic.SparkSession], className = "parquet",
      options = Map("path" -> dir))
      .planForWriting(SaveMode.Overwrite, df.queryExecution.analyzed)
      .asInstanceOf[InsertIntoHadoopFsRelationCommand]

  /** `cmd` optimized by `s`'s optimizer, without running it. */
  private def optimized(s: SparkSession, cmd: LogicalPlan): LogicalPlan =
    new QueryExecution(s.asInstanceOf[classic.SparkSession], cmd,
      mode = CommandExecutionMode.SKIP).optimizedPlan

  test("a 200-row append or write of local rows adds exactly one file") {
    val t = tmp()
    val input = local(200)

    val idem = t.resolve("idem").toString
    assert(AtomicTable.appendIdempotent(idem, "app", 1L, keep = 3)(
      input.write.mode("append").parquet(_)))
    assert(parquetFiles(live(idem)) == 1)
    assert(AtomicTable.appendIdempotent(idem, "app", 2L, keep = 3)(
      local(200, 200).write.mode("append").parquet(_)))
    assert(parquetFiles(live(idem)) == 2)
    assertRecorded(live(idem))
    assertSameRows(AtomicTable.read(ext, idem), input.union(local(200, 200)))

    val pub = t.resolve("pub").toString
    AtomicTable.publishAppend(pub)(input.write.mode("append").parquet(_))
    assert(parquetFiles(live(pub)) == 1)
    assertRecorded(live(pub))
    assertSameRows(AtomicTable.read(ext, pub), input)

    val plainDir = t.resolve("plain").toString
    input.write.parquet(plainDir)
    assert(parquetFiles(plainDir) == 1)
    assertSameRows(ext.read.parquet(plainDir), input)

    // the same write without the rule: one file per core
    val before = t.resolve("before").toString
    plain.createDataFrame(input.collect().toSeq.asJava, schema).write.parquet(before)
    assert(parquetFiles(before) == 4)
  }

  test("a caller's own repartition or coalesce keeps its file count") {
    val t = tmp()
    local(200).repartition(4).write.parquet(t.resolve("r4").toString)
    local(200).coalesce(2).write.parquet(t.resolve("c2").toString)
    assert(parquetFiles(t.resolve("r4").toString) == 4)
    assert(parquetFiles(t.resolve("c2").toString) == 2)
  }

  test("file-scan and range inputs plan exactly as without the rule") {
    val t = tmp()
    val src = t.resolve("src").toString
    plain.range(0, 1000).repartition(3).write.parquet(src)
    Seq(ext.read.parquet(src), ext.range(0, 1000).withColumn("s", col("id").cast("string")))
      .foreach { df =>
        val cmd = writeCommand(ext, df, t.resolve("out").toString)
        assert(optimized(ext, cmd) == optimized(plain, cmd))
      }
    // and the rule is what changes a local write's plan
    val cmd = writeCommand(ext, local(200), t.resolve("out").toString)
    def coalesces(p: LogicalPlan) = p.collect { case r: Repartition => (r.numPartitions, r.shuffle) }
    assert(coalesces(optimized(ext, cmd)) == Seq(1 -> false))
    assert(coalesces(optimized(plain, cmd)).isEmpty)
  }

  test("local rows above one split write ceil(size / split) files") {
    val df = local(200)
    val size = df.queryExecution.optimizedPlan.stats.sizeInBytes.toLong
    val split = size / 3 + 1
    val expected = (size + split - 1) / split
    assert(expected == 3)
    val dir = tmp().resolve("split").toString
    ext.conf.set("spark.sql.files.maxPartitionBytes", split.toString)
    try df.write.parquet(dir)
    finally ext.conf.unset("spark.sql.files.maxPartitionBytes")
    assert(parquetFiles(dir) == expected)
    assertSameRows(ext.read.parquet(dir), df)
  }

  test("a partitionBy write of local rows reads back identically") {
    val df = local(200).withColumn("p", (col("id") % 3).cast("int"))
    val dir = tmp().resolve("parts").toString
    df.write.partitionBy("p").parquet(dir)
    assert(parquetFiles(dir) == 3) // one task: one file per partition value
    assertSameRows(ext.read.parquet(dir).select("id", "s", "p"), df)
  }

  test("a streaming local relation is left alone") {
    val cmd = writeCommand(ext, local(200), tmp().resolve("out").toString)
    val streaming = cmd.copy(query = cmd.query.asInstanceOf[LocalRelation].copy(isStreaming = true))
    assert(LocalWrites(ext)(streaming) eq streaming)
    assert(LocalWrites(ext)(cmd) ne cmd)
  }
}
