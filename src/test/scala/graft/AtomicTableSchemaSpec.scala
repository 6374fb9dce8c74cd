package graft

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, MetadataBuilder, StructType}
import org.scalatest.funsuite.AnyFunSuite

import graft.util.{AtomicTable, SilverArtifact}

/** The `_vN/_SCHEMA` record: every writer leaves the schema Spark would
  * infer, reads that use it run no inference job, and every case the
  * record cannot vouch for (an evolving append, a footer without Spark
  * row metadata, a garbled record) reads exactly as an inferred scan. */
class AtomicTableSchemaSpec extends AnyFunSuite {
  import TestSpark._

  private def tmp(): Path = Files.createTempDirectory("graft_schema")

  /** Nested, decimal, date, map and field-metadata columns, some of them
    * non-nullable as written. */
  private def rich(n: Int, from: Int = 0): DataFrame =
    spark.range(from, from + n).select(
      col("id"),
      (col("id") * 1.5).as("d"),
      col("id").cast("string").as("s",
        new MetadataBuilder().putString("comment", "as text").build()),
      struct(col("id").as("a"), lit("x").as("b")).as("st"),
      array(col("id"), lit(7L)).as("arr"),
      map(lit("k"), col("id")).as("m"),
      col("id").cast("decimal(12,2)").as("dec"),
      to_date(lit("2024-01-01")).as("dt"))

  private def live(base: String): String = AtomicTable.resolve(base).get

  private def record(dir: String): Path = Paths.get(dir, "_SCHEMA")

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  /** The record exists and holds the schema Spark infers, and the table's
    * read returns the inferred scan's schema and rows. */
  private def assertRecorded(dir: String, read: DataFrame): Unit = {
    assert(Files.exists(record(dir)), s"no schema record in $dir")
    val st = DataType.fromJson(Files.readString(record(dir))).asInstanceOf[StructType]
    val inferred = spark.read.parquet(dir)
    assert(st == inferred.schema)
    assert(read.schema == inferred.schema)
    assert(rows(read) == rows(inferred))
  }

  /** No record, and the read is the inferred scan, schema and rows. */
  private def assertInferred(dir: String, read: DataFrame): Unit = {
    assert(!Files.exists(record(dir)), s"unexpected schema record in $dir")
    val inferred = spark.read.parquet(dir)
    assert(read.schema == inferred.schema)
    assert(rows(read) == rows(inferred))
  }

  /** Jobs started while `body` runs. A marker job run after it is the
    * last event the bus delivers, so every earlier job start has been
    * counted when the marker arrives. */
  private def jobsDuring(body: => Unit): Int = {
    val groups = new LinkedBlockingQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.put(Option(e.properties).flatMap(p =>
          Option(p.getProperty("spark.jobGroup.id"))).getOrElse(""))
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      spark.sparkContext.setJobGroup("schema-spec-marker", "bus marker")
      try spark.sparkContext.parallelize(Seq(1), 1).count()
      finally spark.sparkContext.clearJobGroup()
      Iterator.continually(groups.poll(60, TimeUnit.SECONDS))
        .takeWhile { g => assert(g != null, "listener bus never delivered the marker"); g != "schema-spec-marker" }
        .size
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("every writer records the schema Spark infers for the version") {
    val t = tmp()
    def at(n: String) = t.resolve(n).toString

    AtomicTable.publish(at("publish"))(rich(5).write.mode("overwrite").parquet(_))
    AtomicTable.overwrite(rich(5), at("overwrite"))
    AtomicTable.publishChecked(rich(5), at("checked"), Map("pos" -> (col("id") >= 0)))
    AtomicTable.publishGenerated(rich(5), at("generated"), Map("g" -> (col("id") * 2)))
    AtomicTable.publishGenerated(rich(5).withColumn("g", col("id") * 2), at("verified"),
      Map("g" -> (col("id") * 2)))
    assert(AtomicTable.publishIdempotent(at("idem"), "app", 1L)(
      rich(5).write.mode("overwrite").parquet(_)))
    Seq("publish", "overwrite", "checked", "generated", "verified", "idem").foreach { n =>
      assertRecorded(live(at(n)), AtomicTable.read(spark, at(n)))
    }

    // appends: the base's record rides along as a link (same inode)
    val app = at("append")
    AtomicTable.overwrite(rich(5), app, keep = 5)
    val v1 = live(app)
    assert(AtomicTable.appendIdempotent(app, "app", 1L, keep = 5)(
      rich(3, 100).write.mode("append").parquet(_)))
    AtomicTable.publishAppend(app, keep = 5)(rich(2, 200).write.mode("append").parquet(_))
    assertRecorded(live(app), AtomicTable.read(spark, app))
    assert(AtomicTable.read(spark, app).count() == 10)
    assert(Files.isSameFile(record(v1), record(live(app))))
    // an append to an empty table records like a first publish
    val empty = at("append_empty")
    AtomicTable.publishAppend(empty)(rich(4).write.mode("append").parquet(_))
    assertRecorded(live(empty), AtomicTable.read(spark, empty))

    // restore and clone link the whole version, record included
    AtomicTable.restore(app, v1.split('/').last, keep = 5)
    assertRecorded(live(app), AtomicTable.read(spark, app))
    assert(AtomicTable.read(spark, app).count() == 5)
    assert(Files.isSameFile(record(v1), record(live(app))))
    AtomicTable.cloneTable(app, at("clone"))
    assertRecorded(live(at("clone")), AtomicTable.read(spark, at("clone")))
    assert(Files.isSameFile(record(v1), record(live(at("clone")))))
    val hist = AtomicTable.history(app)
    hist.foreach(v => assertRecorded(s"$app/$v", AtomicTable.readVersion(spark, app, v)))

    // snapshot members
    val root = at("lake")
    val staged = Seq("a", "b").map { m =>
      m -> AtomicTable.stageVersion(s"$root/$m")(rich(4).write.mode("overwrite").parquet(_))
    }
    val sn = AtomicTable.commitSnapshot(root, staged)
    val snap = AtomicTable.readSnapshotTables(spark, root, Seq("a", "b"))
    val at1 = AtomicTable.readSnapshotTablesAt(spark, root, sn, Seq("a", "b"))
    staged.foreach { case (m, v) =>
      assertRecorded(s"$root/$m/$v", snap(m))
      assertRecorded(s"$root/$m/$v", at1(m))
    }

    // stored silver artifacts
    val art = at("artifact")
    val got = SilverArtifact.getOrBuild(spark, art, "fp-1")(rich(6))
    assertRecorded(live(art), got)
  }

  test("a footer longer than the first tail read is recorded") {
    val base = tmp().resolve("wide").toString
    val wide = spark.range(3).select((0 until 400).map(i => col("id").as(s"column_$i")): _*)
    AtomicTable.overwrite(wide, base)
    val part = Files.list(Paths.get(live(base))).iterator().asScala
      .find(_.getFileName.toString.startsWith("part-")).get
    assert(Files.size(part) > 16384)
    assertRecorded(live(base), AtomicTable.read(spark, base))
  }

  test("mapped reads and physical appends take the mapping's columns and types from the record") {
    val base = tmp().resolve("t").toString
    AtomicTable.overwrite(rich(5), base, keep = 2)
    val v1 = live(base)
    AtomicTable.renameColumn(spark, base, "d", "price")
    AtomicTable.dropColumn(spark, base, "dec")
    val mapped = AtomicTable.readMapped(spark, base)
    assert(mapped.columns.toSeq == Seq("id", "price", "s", "st", "arr", "m", "dt"))
    // the dropped slot is typed from the record: the append keeps its schema
    AtomicTable.publishAppend(base, keep = 2)(
      AtomicTable.toPhysical(mapped.limit(2), base).write.mode("append").parquet(_))
    assert(AtomicTable.readMapped(spark, base).count() == 7)
    assert(AtomicTable.readMapped(spark, base).schema == mapped.schema)
    // the read-back frame drops the base's non-null flags, which no scan keeps
    assert(Files.isSameFile(record(v1), record(live(base))))
  }

  test("an evolving append leaves no record and reads as inference does") {
    val base = tmp().resolve("t").toString
    AtomicTable.overwrite(rich(5), base, keep = 2)
    val v1 = live(base)
    val before = Files.readString(record(v1))
    AtomicTable.publishAppend(base, keep = 2)(
      rich(2, 50).withColumn("extra", lit("e")).write.mode("append").parquet(_))
    assertInferred(live(base), AtomicTable.read(spark, base))
    // the base version's linked record was never written through
    assert(Files.readString(record(v1)) == before)
    assertRecorded(v1, AtomicTable.readVersion(spark, base, v1.split('/').last))
    // later appends stay unrecorded: the base files no longer vouch for one schema
    AtomicTable.publishAppend(base, keep = 2)(rich(1, 90).write.mode("append").parquet(_))
    assertInferred(live(base), AtomicTable.read(spark, base))
    // merge-on-read of the mapped path sees the evolved column
    AtomicTable.renameColumn(spark, base, "s", "text")
    assert(AtomicTable.readMapped(spark, base).columns.contains("extra"))
  }

  /** A parquet file written by parquet-mr itself: no Spark row metadata. */
  private def writeForeign(file: String): Unit = {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val schema = MessageTypeParser.parseMessageType(
      "message m { required int64 id; optional binary s (STRING); }")
    val w = ExampleParquetWriter.builder(new org.apache.hadoop.fs.Path(file))
      .withType(schema).build()
    val groups = new SimpleGroupFactory(schema)
    try (1 to 3).foreach(i => w.write(groups.newGroup().append("id", i.toLong).append("s", s"r$i")))
    finally w.close()
  }

  test("a footer without Spark row metadata leaves no record") {
    val t = tmp()
    val foreign = t.resolve("foreign").toString
    AtomicTable.publish(foreign)(dir => writeForeign(s"$dir/part-0.parquet"))
    assertInferred(live(foreign), AtomicTable.read(spark, foreign))
    // appended to a recorded Spark table: the new version drops the record
    val mixed = t.resolve("mixed").toString
    AtomicTable.overwrite(spark.range(3).select(col("id"), col("id").cast("string").as("s")),
      mixed, keep = 2)
    val v1 = live(mixed)
    assert(Files.exists(record(v1)))
    AtomicTable.publishAppend(mixed, keep = 2)(dir => writeForeign(s"$dir/part-foreign.parquet"))
    assertInferred(live(mixed), AtomicTable.read(spark, mixed))
    assert(Files.exists(record(v1)), "the base version keeps its record")
  }

  test("a garbled record falls back to inference, and appends drop it") {
    val base = tmp().resolve("t").toString
    AtomicTable.overwrite(rich(5), base, keep = 2)
    val v1 = live(base)
    Files.delete(record(v1))
    Files.writeString(record(v1), "{\"type\":\"struct\",\"fie")
    val inferred = spark.read.parquet(v1)
    Seq(AtomicTable.read(spark, base), AtomicTable.readMapped(spark, base),
        AtomicTable.readVersion(spark, base, v1.split('/').last)).foreach { df =>
      assert(df.schema == inferred.schema)
      assert(rows(df) == rows(inferred))
    }
    AtomicTable.publishAppend(base, keep = 2)(rich(2, 10).write.mode("append").parquet(_))
    assertInferred(live(base), AtomicTable.read(spark, base))
    assert(Files.readString(record(v1)).endsWith("fie"), "the base's file is untouched")
    // a record that is valid JSON but no struct is garbled too
    Files.delete(record(v1))
    Files.writeString(record(v1), "\"long\"")
    assert(AtomicTable.read(spark, base).count() == 7)
    assert(AtomicTable.readVersion(spark, base, v1.split('/').last).schema == inferred.schema)
  }

  test("a missing version directory fails as an inferred read does") {
    val base = tmp().resolve("t").toString
    AtomicTable.overwrite(rich(2), base)
    val v = live(base)
    AtomicTable.deleteRecursively(Paths.get(v))
    val e = intercept[org.apache.spark.sql.AnalysisException](AtomicTable.read(spark, base))
    assert(e.getCondition == "PATH_NOT_FOUND", e.getMessage)
  }

  test("constructing read, readVersion and readSnapshotTables frames runs no job") {
    val t = tmp()
    val base = t.resolve("t").toString
    AtomicTable.overwrite(rich(5), base, keep = 2)
    assert(AtomicTable.appendIdempotent(base, "app", 1L, keep = 2)(
      rich(3, 20).write.mode("append").parquet(_)))
    val oldest = AtomicTable.history(base).head
    val root = t.resolve("lake").toString
    AtomicTable.commitSnapshot(root, Seq("a", "b").map { m =>
      m -> AtomicTable.stageVersion(s"$root/$m")(rich(4).write.mode("overwrite").parquet(_))
    })
    var frames = Seq.empty[DataFrame]
    val jobs = jobsDuring {
      frames = Seq(AtomicTable.read(spark, base), AtomicTable.readVersion(spark, base, oldest)) ++
        AtomicTable.readSnapshotTables(spark, root, Seq("a", "b")).values
    }
    assert(jobs == 0, s"$jobs job(s) ran while constructing ${frames.size} frames")
    assert(frames.map(_.count()) == Seq(8L, 5L, 4L, 4L))
  }
}
