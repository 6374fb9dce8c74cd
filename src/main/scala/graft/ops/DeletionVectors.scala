package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.util.{AtomicTable, SilverArtifact}

/** Merge-on-read row deletes — deletion vectors, the mechanism modern
  * table formats (Delta DVs, Iceberg position deletes) use to delete rows
  * WITHOUT rewriting data files. At 100 TB a copy-on-write delete of 0.1%
  * of rows rewrites terabytes; a deletion vector writes kilobytes.
  *
  * Mechanics on top of [[AtomicTable]]'s immutable version directories:
  *
  *  - **delete** — one scan evaluates the predicate and records each
  *    matching row's physical position `(file, row_index)` (Spark's
  *    parquet `_metadata.row_index` column — the row's ordinal within its
  *    file, stable because data files are immutable). Positions append to
  *    a `_dv` sidecar inside the SAME version directory, so version
  *    pruning/time travel carry the deletes with the data they apply to,
  *    and plain readers (which ignore `_`-prefixed dirs) are untouched.
  *  - **read** — two forms, chosen PER FILE by deleted-position count
  *    (the same decision Delta's DV-bitmap threshold makes):
  *    below [[BitmapThresholdPositions]] the DV applies as a broadcast
  *    LEFT ANTI join on (file, position) — the DV side is
  *    deleted-rows-sized, so the data side never shuffles; above it, a
  *    billion-row-file delete would make that broadcast gigabytes, so
  *    the positions compress into a per-file range-RLE BITMAP
  *    ([[graft.functions.RleBitmap]], one BinaryType value per file,
  *    16 bytes per run — a dropped partition is ONE run) attached to
  *    the scan by a broadcast metadata join on file NAME (the
  *    relocation-stable identity every sidecar keys) and applied as
  *    a codegen'd FILTER on `_metadata.row_index`, never an anti-join.
  *    Bitmaps are (re)encoded at DELETE time into a `_dvbm` sidecar, so
  *    readers just apply them.
  *  - **idempotence / composition** — the anti-join is set semantics:
  *    re-appending the same positions or composing multiple deletes is
  *    harmless (duplicates cannot double-delete).
  *  - **compaction** — `compactDeletes` materializes the surviving rows
  *    into a NEW version (atomic publish) whose `_dv` starts empty:
  *    merge-on-read debt is paid back in one rewrite, exactly Delta's
  *    `REORG TABLE ... APPLY (PURGE)`.
  */
object DeletionVectors {

  private val Dv = "_dv"

  private[ops] def verDir(base: String): String =
    AtomicTable.resolve(base).getOrElse(
      throw new IllegalStateException(s"no published version at $base"))

  private[ops] def dvPath(base: String): String = s"${verDir(base)}/$Dv"

  /** Per-file deleted-position count above which the DV switches from the
    * broadcast (path, pos) row list to the range-RLE bitmap form. The
    * production default mirrors Delta's instinct (a few million positions
    * ≈ tens of MB of broadcast rows); specs shrink it to exercise the
    * bitmap path at test scale. */
  @volatile var BitmapThresholdPositions: Long = 1L << 21

  private val DvBm = "_dvbm"

  private[ops] def dvBmPath(base: String): String = s"${verDir(base)}/$DvBm"

  private[graft] def hasBm(base: String): Boolean =
    java.nio.file.Files.isDirectory(java.nio.file.Paths.get(dvBmPath(base)))

  /** Record (do not rewrite): append the physical positions of rows
    * matching `pred` to the current version's deletion vector, then
    * re-encode the bitmap sidecar for any file whose position count now
    * exceeds [[BitmapThresholdPositions]].
    *
    * Positions key the file NAME (`_metadata.file_name`), not the full
    * path: names are task-UUID-unique within a version, and the name —
    * unlike the absolute path — SURVIVES hardlink relocation, so a
    * restore/clone/append of a merged table carries its delete/merge
    * state intact instead of silently resurrecting rows. */
  def deleteWhere(s: SparkSession, base: String, pred: Column): Unit = {
    AtomicTable.scanVersion(s, verDir(base))
      .where(pred)
      .select(col("_metadata.file_name").as("fname"),
        col("_metadata.row_index").as("pos"))
      .coalesce(1)
      .write.mode("append").parquet(dvPath(base))
    refreshBitmaps(s, base)
  }

  /** (Re)encode the `_dvbm` sidecar: one (fname, bm) row per
    * above-threshold file, bm = the file's deleted positions coalesced
    * into range-RLE runs ([[graft.functions.RleBitmap]]). Run DETECTION
    * is distributed — a per-file window pass marks run breaks and one
    * groupBy collapses each run to (start, len), so only the
    * run-compressed form (one struct per run, ONE for a dropped
    * partition) is ever collected into a single row for packing; the
    * raw position stream never leaves its partitions un-aggregated.
    * Idempotent: positions are distinct'd first, so re-recorded deletes
    * don't grow the bitmap. (Adversarially NON-contiguous dense deletes
    * degrade RLE to 16 bytes/position — the point where a production
    * engine switches to a roaring container; the threshold form and the
    * scan-side application are identical.) */
  private def refreshBitmaps(s: SparkSession, base: String): Unit = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val dv = s.read.parquet(dvPath(base)).select("fname", "pos").distinct()
    val hot = dv.groupBy("fname").agg(count(lit(1)).as("n"))
      .where(col("n") > BitmapThresholdPositions)
      .select("fname")
    // file-count-sized driver list (the same class of decision a Delta
    // log replay makes per file)
    val hotNames = hot.collect().map(_.getString(0)).toSeq
    val bmDir = dvBmPath(base)
    if (hotNames.isEmpty) {
      AtomicTable.deleteRecursively(java.nio.file.Paths.get(bmDir))
    } else {
      val w = Window.partitionBy("fname").orderBy("pos")
      val runs = dv.where(col("fname").isin(hotNames: _*))
        .withColumn("prev", lag("pos", 1).over(w))
        .withColumn("brk",
          when(col("prev").isNull || col("pos") =!= col("prev") + 1, 1L).otherwise(0L))
        .withColumn("run_id", sum("brk").over(w))
        .groupBy("fname", "run_id")
        .agg(min("pos").as("start"), count(lit(1)).as("len"))
      val bms = runs.groupBy("fname")
        .agg(sort_array(collect_list(struct(col("start").as("_1"),
          col("len").as("_2")))).as("runs"))
        .as[(String, Seq[(Long, Long)])]
        .map { case (p, rs) => (p, graft.functions.RleBitmap.encode(rs)) }
        .toDF("fname", "bm")
      bms.coalesce(1).write.mode("overwrite").parquet(bmDir)
    }
  }

  private[ops] def hasDv(base: String): Boolean =
    java.nio.file.Files.isDirectory(java.nio.file.Paths.get(dvPath(base)))

  /** The table with its deletion vector applied. Sparsely-deleted files
    * anti-join the broadcast position list; densely-deleted files get
    * their RLE bitmap attached by a broadcast metadata join on file path
    * (one tiny row per file) and filtered by the codegen'd
    * `rle_contains` on the row index — the data side keeps its
    * partitioning and never shuffles in either form. */
  def readWithDv(s: SparkSession, base: String): DataFrame = {
    val dataCols = AtomicTable.read(s, base).columns.map(col).toSeq
    val data = AtomicTable.scanVersion(s, verDir(base))
      .withColumn("__file", col("_metadata.file_name"))
      .withColumn("__pos", col("_metadata.row_index"))
    if (!hasDv(base)) data.select(dataCols: _*)
    else {
      val bmNames: Set[String] =
        if (!hasBm(base)) Set.empty
        else s.read.parquet(dvBmPath(base))
          .select("fname").collect().map(_.getString(0)).toSet
      var out = data
      if (bmNames.nonEmpty) {
        val bms = s.read.parquet(dvBmPath(base))
          .select(col("fname").as("__file"), col("bm").as("__bm"))
        out = out.join(broadcast(bms), Seq("__file"), "left")
          .where(col("__bm").isNull ||
            !graft.functions.GraftFunctions.rleContains(s, col("__bm"), col("__pos")))
          .drop("__bm")
      }
      // positions for files still on the list form; empty when every
      // deleted file crossed the bitmap threshold — then no anti-join
      // appears in the plan at all (DvBitmapSpec asserts this)
      val listDv = s.read.parquet(dvPath(base))
        .where(if (bmNames.isEmpty) lit(true)
               else !col("fname").isin(bmNames.toSeq: _*))
      val listNames = listDv.select("fname").distinct()
        .collect().map(_.getString(0)).toSeq // file-count-sized
      if (listNames.nonEmpty)
        out = out.join(
          broadcast(listDv.select(col("fname").as("__file"), col("pos").as("__pos"))),
          Seq("__file", "__pos"), "left_anti")
      out.select(dataCols: _*)
    }
  }

  /** Pay back the merge-on-read debt: publish a new version holding only
    * the surviving rows (fresh `_dv`-free files), atomically. */
  def compactDeletes(s: SparkSession, base: String, nFiles: Int = 8): Unit = {
    val survivors = readWithDv(s, base)
    AtomicTable.publish(base)(dir =>
      survivors.repartition(nFiles).write.mode("overwrite").parquet(dir))
  }

  // --------------------------------------- composition with file skipping

  /** Files of `base` whose EVERY row is deleted — decided purely from
    * metadata: the DV's per-file distinct-position counts against the
    * zone-map sidecar's per-file row counts ([[DataSkipping.stats]]).
    * Both sides are file-count-sized (never data-sized), so at 100 TB
    * this is a metadata join over ~10^6 rows, the same shape as a Delta
    * log replay deciding a file is 100% covered by its DV bitmap. */
  def dvDeadFiles(s: SparkSession, base: String): Seq[String] = {
    if (!hasDv(base)) return Seq.empty
    val dead = s.read.parquet(dvPath(base))
      .select("fname", "pos").distinct() // delete idempotence: re-appended positions count once
      .groupBy("fname").agg(count(lit(1)).as("n_dead"))
    // both sidecars key the relocation-stable file name; stats() also
    // reconstructs the openable absolute path, which callers want back
    DataSkipping.stats(s, base)
      .join(dead, "fname")
      .where(col("n_dead") === col("rows"))
      .select("path").collect().map(_.getString(0)).toSeq
  }

  /** [[readWithDv]] composed with file skipping: fully-deleted files are
    * pruned OUT OF THE SCAN (they never reach the FileScan's path list —
    * DvPruneSpec asserts `inputFiles` shrinks), and the broadcast DV
    * drops their entries too, so a delete of an entire partition costs
    * zero data I/O at read time instead of scan-then-anti-join. Partially
    * deleted files keep the positional anti-join. Returns the DataFrame
    * plus (keptFiles, totalFiles) for plan audits. */
  def readWithDvPruned(s: SparkSession, base: String): (DataFrame, Int, Int) = {
    val dataCols = AtomicTable.read(s, base).columns.map(col).toSeq
    val all = DataSkipping.stats(s, base)
      .select("path").collect().map(_.getString(0)).toSeq
    val dead = dvDeadFiles(s, base).toSet
    val kept = all.filterNot(dead)
    val deadNames = dead.map(p => p.substring(p.lastIndexOf('/') + 1))
    val data = DataSkipping.readFiles(s, base, kept)
      .withColumn("__file", col("_metadata.file_name"))
      .withColumn("__pos", col("_metadata.row_index"))
    val out =
      if (!hasDv(base)) data.select(dataCols: _*)
      else {
        val dv = s.read.parquet(dvPath(base))
          .where(if (deadNames.isEmpty) lit(true)
                 else !col("fname").isin(deadNames.toSeq: _*))
          .select(col("fname").as("__file"), col("pos").as("__pos"))
        data.join(broadcast(dv), Seq("__file", "__pos"), "left_anti")
          .select(dataCols: _*)
      }
    (out, kept.size, all.size)
  }

  // --------------------------------------------------------------- queries

  /** The delete this query family applies — restated verbatim in the
    * oracle's WHERE NOT(...). */
  private def doomed: Column =
    col("o_orderpriority") === "1-URGENT" && col("o_orderkey") % 10 < 3

  /** orders staged (plain range-clustered copy, separate from the
    * skipping demos so their file counts stay untouched) with the delete
    * committed once per SOURCE version: the post-delete state (data
    * version + _dv sidecar) is table metadata a real deployment carries,
    * and a fresh session re-reads it. */
  private[graft] def dvOrders(s: SparkSession, d: String): String = {
    val base = SilverArtifact.pathFor(d, "dv/orders")
    val fp = SilverArtifact.sourceFingerprint(
      s"$d/orders.parquet", s"dv-v2-fname-urgent-mod10-thr$BitmapThresholdPositions")
    SilverArtifact.stagedOnce(base, fp) {
      AtomicTable.publish(base) { dir =>
        Tables.orders(s, d).repartition(8).write.mode("overwrite").parquet(dir)
      }
      deleteWhere(s, base, doomed)
    }
    base
  }

  /** Aggregate over the DV-applied table — answer must equal a full scan
    * with the delete predicate negated (the oracle), proving the
    * positional anti-join deletes exactly the doomed rows. Prices sum as
    * exact integer cents: group totals reach ~10^9 where cross-engine
    * double summation-order error exceeds the 4-dp compare grid; per-row
    * `round(x*100)` is IEEE-identical across engines and the long sum is
    * exact. */
  def deletionVectorRead(s: SparkSession, d: String): DataFrame =
    readWithDv(s, dvOrders(s, d))
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_orders"),
        sum(round(col("o_totalprice") * 100).cast("long")).as("total_cents"))
      .orderBy("o_orderstatus")

  /** The pruning demo's delete: a date-RANGE predicate against a table
    * range-clustered ON that date, so the leading files die entirely (the
    * "drop an old partition" shape) while the boundary file dies only
    * partially — both paths of [[readWithDvPruned]] exercise. Restated
    * verbatim in the oracle's WHERE NOT(...). */
  private val pruneCutoff = "1996-07-01"

  /** orders staged date-clustered WITH a zone-map sidecar (so per-file row
    * counts exist as metadata), then the range delete committed once per
    * source version. Separate base from the skipping demos and
    * [[dvOrders]] so their file counts stay untouched. */
  private[graft] def dvPrunedOrders(s: SparkSession, d: String): String = {
    val base = SilverArtifact.pathFor(d, "dvp/orders")
    val fp = SilverArtifact.sourceFingerprint(
      s"$d/orders.parquet",
      s"dvp-v3-fname-cut$pruneCutoff-thr$BitmapThresholdPositions")
    SilverArtifact.stagedOnce(base, fp) {
      DataSkipping.optimizedWrite(s,
        Tables.orders(s, d).withColumn("o_datekey",
          unix_date(col("o_orderdate").cast("date")).cast("long")),
        base, clusterCols = Seq("o_datekey"), statsCols = Seq("o_orderdate"),
        bloomCol = None, nFiles = 16)
      deleteWhere(s, base,
        col("o_orderdate") < lit(pruneCutoff).cast("timestamp"))
    }
    base
  }

  /** Aggregate over the DV-applied, file-pruned table — answer must equal
    * the full scan with the delete negated, while the scan itself touches
    * only surviving files (DvPruneSpec + PLANS.md audit the path-list
    * shrink). Exact integer cents, as everywhere money sums cross 10^8. */
  def dvFilePrune(s: SparkSession, d: String): DataFrame = {
    val (df, _, _) = readWithDvPruned(s, dvPrunedOrders(s, d))
    df.groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_orders"),
        sum(round(col("o_totalprice") * 100).cast("long")).as("total_cents"))
      .orderBy("o_orderstatus")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "deletion_vector_read" -> (deletionVectorRead _),
    "dv_file_prune" -> (dvFilePrune _)
  )

  val oracleSql: Map[String, String] = Map(
    "deletion_vector_read" -> """
SELECT o_orderstatus, count(*) AS n_orders,
       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total_cents
FROM orders
WHERE NOT (o_orderpriority = '1-URGENT' AND o_orderkey % 10 < 3)
GROUP BY 1 ORDER BY 1""",
    "dv_file_prune" -> """
SELECT o_orderstatus, count(*) AS n_orders,
       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total_cents
FROM orders
WHERE NOT (o_orderdate < TIMESTAMP '1996-07-01')
GROUP BY 1 ORDER BY 1"""
  )
}
