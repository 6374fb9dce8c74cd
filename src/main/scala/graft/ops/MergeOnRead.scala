package graft.ops

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.util.{AtomicTable, SilverArtifact}

/** Merge-on-read MERGE (upsert) — the full Delta-DV / Iceberg-v2 write
  * shape on top of [[DeletionVectors]]: a MERGE batch neither rewrites nor
  * shuffles the table. Matched rows die by POSITION (their `(file,
  * row_index)` appends to the version's `_dv` sidecar) and the batch's
  * new row versions append as fresh files to a `_mor` sidecar; the read
  * composes `(data ∪ _mor) ANTI `_dv``. The reference's closest analog is
  * the truncate-and-reload batch ETL (etl_lakehouse.py:21-35) — at 100 TB
  * that rewrite costs the whole table per batch, while this MERGE costs
  * O(batch): one table scan to locate matched positions (itself prunable
  * by zone maps on the merge keys), kilobytes of DV, batch-sized inserts.
  *
  * Positions are uniform across data AND `_mor` files (`_metadata
  * .row_index` is the row's ordinal within its immutable file), so a later
  * merge that updates a row an earlier merge INSERTED works identically:
  * its `_mor` position lands in the DV like any data-file position. The
  * matched-key join broadcasts the batch's key set — right while batches
  * are CDC-sized (≪ table); a table-sized backfill would flip to a
  * shuffle join and should use `compactMerged`'s rewrite path instead.
  * `compactMerged` pays the read debt back: survivors publish atomically
  * as a fresh DV-free, MOR-free version (Delta `REORG ... APPLY (PURGE)`).
  */
object MergeOnRead {

  private val Mor = "_mor"

  private def morPath(base: String): String =
    s"${DeletionVectors.verDir(base)}/$Mor"

  private def hasMor(base: String): Boolean =
    java.nio.file.Files.isDirectory(java.nio.file.Paths.get(morPath(base)))

  /** Each row's relocation-stable physical position attached. */
  private def withPos(df: DataFrame): DataFrame =
    df.withColumn("__file", col("_metadata.file_name"))
      .withColumn("__pos", col("_metadata.row_index"))

  /** Live rows with positions: (data ∪ mor) ANTI dv, `__file`/`__pos`
    * still attached (internal — callers project them away). The `_mor`
    * scan reconciles footers (`mergeSchema`) and the union tolerates
    * missing columns, so a schema-EVOLVED merge batch
    * ([[readMergedEvolved]]) never breaks old readers: [[readMerged]]
    * projects the original columns, which every file still carries.
    * `evolveSchema` additionally footer-merges the DATA scan, so the
    * output carries the UNION schema with NULL backfill — the
    * [[readMergedEvolved]] path; plans differ only in the projection. */
  private def liveWithPos(s: SparkSession, base: String,
      evolveSchema: Boolean = false): DataFrame = {
    val data = withPos(
      AtomicTable.scanVersion(s, DeletionVectors.verDir(base), mergeSchema = evolveSchema))
    val all =
      if (hasMor(base))
        data.unionByName(withPos(s.read.option("mergeSchema", "true").parquet(morPath(base))),
          allowMissingColumns = true)
      else data
    if (!DeletionVectors.hasDv(base)) all
    else {
      val dv = s.read.parquet(DeletionVectors.dvPath(base))
        .select(col("fname").as("__file"), col("pos").as("__pos"))
      all.join(broadcast(dv), Seq("__file", "__pos"), "left_anti")
    }
  }

  /** The table with every merge applied. */
  def readMerged(s: SparkSession, base: String): DataFrame = {
    val dataCols = AtomicTable.read(s, base).columns.map(col).toSeq
    liveWithPos(s, base).select(dataCols: _*)
  }

  /** Root-level change-data directory (Delta `_change_data` analog): it
    * is NOT a `_v<N>` name, so table retention never sweeps it, and it is
    * not under a version dir, so the feed survives compaction/publishes —
    * the change LOG outlives the states it connects.
    *
    * Layout v2 (flat — batch AND streaming readers just scan the
    * directory): each commit's parquet files carry a `c<version>-`
    * filename prefix, so per-commit retention ([[vacuumChanges]]) is a
    * filename-metadata operation — no file is ever opened to decide its
    * commit. Hidden sidecars (leading `_`, invisible to Spark's file
    * index and to the file stream source): `_FLOOR` holds the lowest
    * still-readable commit (reads below it refuse loudly — Delta's
    * out-of-range `table_changes` error), and `_c<v>.base` records the
    * table version the commit applied to, which is what makes the sweep
    * snapshot-pin-aware ([[vacuumChanges]]). A data file without the
    * prefix cannot be assigned to a commit, so [[readChanges]] refuses a
    * feed that holds one. */
  private[graft] def changesPath(base: String): String = s"$base/_changes"

  private[graft] def hasChanges(base: String): Boolean =
    java.nio.file.Files.isDirectory(java.nio.file.Paths.get(changesPath(base)))

  private val CommitFileRe = "c(\\d+)-.*".r

  /** Write one commit's change rows into the feed under the v2 layout:
    * stage to a temp dir, then MOVE the part files in with the
    * `c<version>-` prefix (same-FS rename — atomic per file; a reader
    * never sees a torn file). Also stamps the commit's base-version
    * marker for the pin-aware sweep. */
  private def writeChanges(df: DataFrame, base: String, v: Long): Unit = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val dir = Paths.get(changesPath(base))
    Files.createDirectories(dir)
    val tmp = Files.createTempDirectory(dir, "_stage_")
    try {
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val files = Files.list(tmp)
      val parts = try files.iterator().asScala.filter(p =>
        p.getFileName.toString.endsWith(".parquet")).toSeq
      finally files.close()
      parts.foreach { p =>
        Files.move(p, dir.resolve(s"c$v-${p.getFileName}"),
          StandardCopyOption.ATOMIC_MOVE)
      }
      val basever = AtomicTable.resolve(base)
        .map(p => Paths.get(p).getFileName.toString).getOrElse("_v0")
      val marker = dir.resolve(s"_c$v.base")
      if (!Files.exists(marker)) Files.writeString(marker, basever + "\n")
    } finally AtomicTable.deleteRecursively(tmp)
  }

  /** File names in the feed directory (empty when there is no feed). */
  private def feedNames(base: String): Seq[String] = {
    import java.nio.file.{Files, Paths}
    val dir = Paths.get(changesPath(base))
    if (!Files.isDirectory(dir)) return Seq.empty
    val files = Files.list(dir)
    try files.iterator().asScala.map(_.getFileName.toString).toSeq
    finally files.close()
  }

  /** Commit versions present in the feed (v2 filenames), sorted. */
  private[graft] def changeCommits(base: String): Seq[Long] =
    feedNames(base).collect { case CommitFileRe(n) => n.toLong }.distinct.sorted

  private def floorPath(base: String) =
    java.nio.file.Paths.get(changesPath(base), "_FLOOR")

  /** The lowest still-readable commit: the `_FLOOR` stamp if a vacuum ever
    * ran, else the lowest commit physically present (1 on a virgin feed). */
  private[graft] def changesFloor(base: String): Long = {
    val p = floorPath(base)
    if (java.nio.file.Files.exists(p))
      java.nio.file.Files.readString(p).trim.toLong
    else changeCommits(base).headOption.getOrElse(1L)
  }

  /** `table_changes(startVersion, ...)`: the maintained read over the
    * feed. Refuses a feed holding data files without the `c<version>-`
    * prefix (their commit is unknowable, so any range read would be
    * wrong), refuses a start below the vacuumed floor with a precise
    * message (the Delta out-of-range CDF error), and scans ONLY the
    * in-range commit files — an explicit file list, so a reader of the
    * latest commits never pays for the history it skipped. */
  def readChanges(s: SparkSession, base: String,
      startVersion: Long = Long.MinValue): DataFrame = {
    // Floor check + file listing run under the COMMIT LOCK — the same
    // lock vacuumChanges sweeps under — so the refuse-or-read decision
    // is atomic against a concurrent sweep: a reader can never pass the
    // floor check and then list a half-swept feed. After the locked
    // listing, the usual retention contract governs — a reader racing
    // future sweeps needs its range within keepCommits, exactly like
    // AtomicTable.read needs keep >= 2 across publishes.
    val paths = AtomicTable.withCommitLock(java.nio.file.Paths.get(base)) {
      val names = feedNames(base)
      val unprefixed = names.filter(n => !n.startsWith("_") && !n.startsWith(".") &&
        !CommitFileRe.pattern.matcher(n).matches())
      require(unprefixed.isEmpty,
        s"change feed at ${changesPath(base)} holds data files without a " +
          s"c<version>- commit prefix, so their commit is unknown: " +
          unprefixed.sorted.mkString(", "))
      val floor = changesFloor(base)
      require(startVersion == Long.MinValue || startVersion >= floor,
        s"change commits below $floor have been vacuumed from " +
          s"${changesPath(base)}; requested startVersion=$startVersion " +
          s"is no longer readable (retained commits: " +
          s"${changeCommits(base).mkString(",")})")
      val start = if (startVersion == Long.MinValue) floor else startVersion
      val picked = changeCommits(base).filter(_ >= start)
      require(picked.nonEmpty, s"no change commits >= $start at ${changesPath(base)}")
      val wanted = picked.map(v => s"c$v-").toSet
      names.filter(n => wanted.exists(n.startsWith))
        .map(n => s"${changesPath(base)}/$n")
    }
    s.read.parquet(paths: _*)
  }

  /** Continuity guard for STREAM readers of the feed: a file-stream
    * source lists the directory per micro-batch, so a file swept BEFORE
    * the source listed it simply never appears — silent data loss, the
    * one failure mode worse than a crash. A streaming reader calls this
    * at the START of each micro-batch (foreachBatch, BEFORE absorbing
    * the batch — guarding after would hide the gap the batch jumped
    * over) with the highest commit it has fully processed; if the floor
    * has advanced past the next unread commit,
    * the gap is unrecoverable and the stream refuses LOUDLY with the
    * retention remedy, exactly like the batch reader's below-floor
    * refusal. A sweep that keeps the reader's unread range (floor ≤
    * lastProcessed + 1) passes — already-processed commits may vacuum
    * freely underneath a live stream. */
  def requireStreamContinuity(base: String, lastProcessed: Long): Unit = {
    val floor = changesFloor(base)
    require(floor <= lastProcessed + 1,
      s"change feed at ${changesPath(base)} was vacuumed past the stream " +
        s"reader: floor=$floor but the reader has only processed commits " +
        s"<= $lastProcessed; commits ${lastProcessed + 1}..${floor - 1} are " +
        "gone (increase keepCommits or checkpoint the reader faster)")
  }

  /** CDF retention — the sweep the feed was missing (the feed otherwise
    * grows one commit file per merge FOREVER; Delta bounds CDF by the
    * version-retention window). Keeps the newest `keepCommits` commits,
    * EXTENDED by the snapshot pins: a retained snapshot manifest that
    * pins THIS table at version P means a snapshot reader may still sit
    * at P and replay the feed forward, so every commit whose recorded
    * base version is >= P survives regardless of age (the same
    * mandatory-pin rule as AtomicTable's pruneLocked). Swept commits
    * raise the `_FLOOR` stamp; [[readChanges]] below it refuses loudly.
    * Returns the number of commits removed. O(#files) metadata — no file
    * is opened. */
  def vacuumChanges(base: String, keepCommits: Int): Int = {
    require(keepCommits >= 1, "must keep at least the newest commit")
    if (!hasChanges(base)) return 0
    import java.nio.file.{Files, Paths}
    AtomicTable.withCommitLock(Paths.get(base)) {
      val commits = changeCommits(base)
      if (commits.isEmpty) return 0
      val keepFloor = commits.takeRight(keepCommits).head
      val pins = AtomicTable.snapshotPinnedVersions(base)
      val pinFloor =
        if (pins.isEmpty) Long.MaxValue
        else {
          val minPin = pins.map(AtomicTable.versionNumOf).min
          def baseverNum(v: Long): Long = {
            val m = Paths.get(changesPath(base), s"_c$v.base")
            if (!Files.exists(m)) Long.MaxValue // unknown base: never sweep
            else AtomicTable.versionNumOf(Files.readString(m).trim)
          }
          commits.find(c => baseverNum(c) >= minPin).getOrElse(Long.MaxValue)
        }
      val floor = math.min(keepFloor, pinFloor)
      val dir = Paths.get(changesPath(base))
      val dead = commits.filter(_ < floor).toSet
      feedNames(base).foreach { n =>
        val victim = n match {
          case CommitFileRe(v) => dead(v.toLong)
          case _ => n.startsWith("_c") && n.endsWith(".base") &&
            n.stripPrefix("_c").stripSuffix(".base").toLongOption.exists(dead)
        }
        if (victim)
          try Files.deleteIfExists(dir.resolve(n))
          catch { case _: java.io.IOException => () } // strands disk, not wrongness
      }
      if (dead.nonEmpty) {
        val tmp = dir.resolve("_FLOOR.tmp")
        Files.writeString(tmp, floor.toString + "\n")
        Files.move(tmp, floorPath(base),
          java.nio.file.StandardCopyOption.ATOMIC_MOVE,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      }
      dead.size
    }
  }

  /** MERGE: rows of `batch` whose `keyCol` matches a live row REPLACE it
    * (positional delete + insert); unmatched rows INSERT. The matched
    * positions are materialized into the DV BEFORE the batch lands in
    * `_mor`, so the batch can never match itself.
    *
    * With `cdfVersion = Some(v)` the merge also emits a CHANGE-DATA-FEED
    * file (Delta CDF: `table_changes` rows typed `update_preimage` /
    * `update_postimage` / `insert`, stamped `_commit_version = v`) into
    * [[changesPath]]. The change rows are a FREE BY-PRODUCT of the merge's
    * own classification — the matched-live frame is pinned once and feeds
    * both the DV append and the preimages — so CDF costs O(batch) extra
    * write, never a table diff (exactly why Delta computes CDF during the
    * DML instead of diffing versions after the fact). */
  def mergeUpsert(s: SparkSession, base: String, batch: DataFrame,
                  keyCol: String, cdfVersion: Option[Long] = None): Unit = {
    val keys = batch.select(keyCol).distinct()
    val matchedLive = liveWithPos(s, base).join(broadcast(keys), keyCol)
    def dvAppend(m: DataFrame): Unit =
      m.select(col("__file").as("fname"), col("__pos").as("pos"))
        .coalesce(1)
        .write.mode("append").parquet(DeletionVectors.dvPath(base))
    cdfVersion match {
      case None =>
        dvAppend(matchedLive)
        batch.coalesce(1).write.mode("append").parquet(morPath(base))
      case Some(v) =>
        // pin the classification with an EAGER localCheckpoint, not
        // persist+count: the sidecar appends below land under the cached
        // plan's read paths, and Spark's CacheManager.recacheByPath
        // RECOMPUTES such caches on write — a persisted frame would
        // silently re-classify from the grown sidecars and emit the
        // batch's own values as "preimages" (caught by the gate on the
        // second commit). The checkpoint truncates the plan to the
        // materialized rows (LogicalRDD — no file relation left for the
        // recache to match), and it is batch-sized: the matched-live
        // frame is the broadcast-key join's output, never the table.
        val pinned = matchedLive.localCheckpoint()
        // the batch pins too: a TABLE-DERIVED batch (built from
        // readMerged) would otherwise re-evaluate over the grown sidecars
        // when the post/insert change rows run after the appends below —
        // the same recache hazard, one frame over
        val bpin = batch.localCheckpoint()
        dvAppend(pinned)
        bpin.coalesce(1).write.mode("append").parquet(morPath(base))
        val tcols = AtomicTable.read(s, base).columns.toSeq
        val matchedKeys = pinned.select(col(keyCol)).distinct()
        val pre = pinned.select(tcols.map(col): _*)
          .withColumn("_change_type", lit("update_preimage"))
        val post = bpin.join(broadcast(matchedKeys), Seq(keyCol), "left_semi")
          .select(tcols.map(col): _*)
          .withColumn("_change_type", lit("update_postimage"))
        val ins = bpin.join(broadcast(matchedKeys), Seq(keyCol), "left_anti")
          .select(tcols.map(col): _*)
          .withColumn("_change_type", lit("insert"))
        writeChanges(
          pre.unionByName(post).unionByName(ins)
            .withColumn("_commit_version", lit(v)),
          base, v)
    }
  }

  /** The merged table under SCHEMA EVOLUTION — the Delta
    * `spark.databricks.delta.schema.autoMerge` MERGE shape: a batch may
    * carry columns the table never had; they land in the `_mor` files
    * as-is (parquet files are self-describing, so the sidecar needs no
    * coordination), and THIS read surfaces the union schema — footer
    * `mergeSchema` on each scan, `unionByName(allowMissingColumns)`
    * across them — with NULLs for rows that predate each column, exactly
    * Delta's backfill-free semantics. Old readers ([[readMerged]]) keep
    * working: they project the original columns, which every file still
    * carries. Cost note: `mergeSchema` reconciles FOOTERS (one metadata
    * task per file), never data — at 100 TB the read plan is unchanged
    * except for the widened projection. */
  def readMergedEvolved(s: SparkSession, base: String): DataFrame = {
    val live = liveWithPos(s, base, evolveSchema = true)
    val dataCols = live.columns.filterNot(_.startsWith("__")).map(col).toSeq
    live.select(dataCols: _*)
  }

  /** Pay back the merge-on-read debt: publish the merged state as a fresh
    * version with empty sidecars, atomically. */
  def compactMerged(s: SparkSession, base: String, nFiles: Int = 8): Unit = {
    val survivors = readMerged(s, base)
    AtomicTable.publish(base)(dir =>
      survivors.repartition(nFiles).write.mode("overwrite").parquet(dir))
  }

  import org.apache.spark.sql.Column

  /** The FULL MERGE clause matrix — the Delta/Iceberg `MERGE INTO` shape
    * [[mergeUpsert]] only covers the upsert corner of:
    *
    *   WHEN MATCHED AND `matchedUpdateCond` THEN UPDATE SET `updateSet`
    *   WHEN MATCHED AND `matchedDeleteCond` THEN DELETE
    *   WHEN NOT MATCHED THEN INSERT *               (if `insertNotMatched`)
    *   WHEN NOT MATCHED BY SOURCE AND `notMatchedBySourceDeleteCond`
    *     THEN DELETE
    *
    * Clause order is first-match-wins (UPDATE before DELETE), as in the
    * SQL standard. Conditions and `updateSet` values are Columns over the
    * matched pair: target columns by their own names, source columns
    * prefixed `__src_` (e.g. `col("__src_o_totalprice")`). Source keys
    * must be unique (the transactional formats raise on multi-match; here
    * a duplicate source key would DV one position and insert two row
    * versions — enforce upstream).
    *
    * Cost model, unchanged from [[mergeUpsert]]: matched/not-matched-by-
    * source classification is ONE scan of the live table against the
    * broadcast source (the scan is zone-map-prunable on the key only for
    * the matched clauses; a NOT MATCHED BY SOURCE clause inherently
    * touches every target row — identical in Delta, which is why its
    * docs warn the clause forces a full-table scan); writes are
    * kilobytes of DV positions plus batch-sized `_mor` appends. All
    * outputs are MATERIALIZED from one persisted classification pass
    * before any sidecar write lands — see the in-body comment for why
    * the pin must be a localCheckpoint rather than a persist. */
  def mergeFull(s: SparkSession, base: String, source: DataFrame,
      keyCol: String,
      matchedUpdateCond: Column, updateSet: Map[String, Column],
      matchedDeleteCond: Column,
      insertNotMatched: Boolean,
      notMatchedBySourceDeleteCond: Column,
      cdfVersion: Option[Long] = None): Unit = {
    val srcKey = s"__src_$keyCol"
    val srcP = source.columns.foldLeft(source)(
      (d, c) => d.withColumnRenamed(c, s"__src_$c"))
    // the classification pass is persisted only while the OUTPUT frames
    // materialize below — every write target lands under the live table's
    // read paths, and Spark's CacheManager.recacheByPath RECOMPUTES any
    // cache reading those paths on write, so a frame still rooted in the
    // table scan would silently re-classify from the grown sidecars
    // mid-merge (matched-DELETEd rows resurrecting as inserts; batch
    // values posing as preimages). The defense: derive ALL outputs from
    // the persisted classification, pin each with an eager
    // localCheckpoint (LogicalRDD — no file relation for the recache to
    // match, and each is O(batch)-sized, never the table), and only THEN
    // touch the sidecars.
    val joined = liveWithPos(s, base)
      .join(broadcast(srcP), col(keyCol) === col(srcKey), "left")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val (dvOut, morOut, cdfOut) =
      try {
        val matched = col(srcKey).isNotNull
        val updating = matched && matchedUpdateCond
        val deleting =
          (matched && !matchedUpdateCond && matchedDeleteCond) ||
            (!matched && notMatchedBySourceDeleteCond)
        val dv = joined.filter(updating || deleting)
          .select(col("__file").as("fname"), col("__pos").as("pos"))
          .localCheckpoint()

        val tcols = AtomicTable.read(s, base).columns.toSeq
        val updated = joined.filter(updating)
          .select(tcols.map(c => updateSet.getOrElse(c, col(c)).as(c)): _*)
        val inserted =
          if (!insertNotMatched) None
          else {
            // matched keys come from the pinned classification, not a
            // re-scan, so a matched-DELETEd key cannot resurrect as an
            // insert
            val matchedKeys = joined.filter(matched)
              .select(col(srcKey).as("__mk")).distinct()
            Some(srcP.join(broadcast(matchedKeys),
                col(srcKey) === col("__mk"), "left_anti")
              .select(tcols.map(c => col(s"__src_$c").as(c)): _*))
          }
        val mor = inserted.fold(updated)(updated.unionByName(_)).localCheckpoint()

        // change-data feed: a free O(batch) by-product of the
        // classification the merge already did — see [[mergeUpsert]].
        // The full matrix adds the 'delete' type the upsert never emits.
        val cdf = cdfVersion.map { v =>
          val pre = joined.filter(updating).select(tcols.map(col): _*)
            .withColumn("_change_type", lit("update_preimage"))
          val post = updated.withColumn("_change_type", lit("update_postimage"))
          val del = joined.filter(deleting).select(tcols.map(col): _*)
            .withColumn("_change_type", lit("delete"))
          val ins = inserted.map(_.withColumn("_change_type", lit("insert")))
          val upd = pre.unionByName(post).unionByName(del)
          ins.fold(upd)(upd.unionByName(_))
            .withColumn("_commit_version", lit(v))
            .localCheckpoint()
        }
        (dv, mor, cdf)
      } finally joined.unpersist()
    dvOut.coalesce(1).write.mode("append").parquet(DeletionVectors.dvPath(base))
    morOut.coalesce(1).write.mode("append").parquet(morPath(base))
    cdfVersion.zip(cdfOut).foreach { case (v, cdf) => writeChanges(cdf, base, v) }
  }

  // --------------------------------------------------------------- queries

  /** First CDC batch: an update (every key ≡ 0 mod 7 gets +10.00 and a
    * marker priority) plus inserts (keys ≡ 0 mod 13 re-enter offset by
    * 10^8 with status 'N'). Arithmetic is exact in doubles — no rounding
    * to diverge between engines. */
  private def batch1(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
    val updates = o.where(col("o_orderkey") % 7 === 0)
      .withColumn("o_totalprice", col("o_totalprice") + lit(10.0))
      .withColumn("o_orderpriority", lit("0-MERGED"))
    val inserts = o.where(col("o_orderkey") % 13 === 0)
      .withColumn("o_orderkey", col("o_orderkey") + lit(100000000L))
      .withColumn("o_orderstatus", lit("N"))
    updates.unionByName(inserts)
  }

  /** Second batch updates rows the FIRST merge inserted (+5.00) — the
    * position mechanism must reach into `_mor` files for these. Derived
    * from the SOURCE (not `readMerged`) so the batch plan cannot observe
    * its own merge's sidecar writes mid-flight. */
  private def batch2(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d).where(col("o_orderkey") % 13 === 0)
      .withColumn("o_orderkey", col("o_orderkey") + lit(100000000L))
      .withColumn("o_orderstatus", lit("N"))
      .withColumn("o_totalprice", col("o_totalprice") + lit(5.0))

  /** orders staged once per SOURCE VERSION with both merges committed —
    * the stamped fingerprint is the table's post-MERGE metadata state; a
    * fresh session re-reads the committed sidecars instead of re-merging. */
  private[graft] def morOrders(s: SparkSession, d: String): String = {
    val base = SilverArtifact.pathFor(d, "mor/orders")
    val fp = SilverArtifact.sourceFingerprint(
      s"$d/orders.parquet", "mor-v4-fname")
    SilverArtifact.stagedOnce(base, fp) {
      // restage = reload from scratch: the root-level change feed
      // deliberately outlives version publishes, so a full rebuild
      // must reset it or the replayed merges would double every row
      AtomicTable.deleteRecursively(
        java.nio.file.Paths.get(changesPath(base)))
      AtomicTable.publish(base) { dir =>
        Tables.orders(s, d).repartition(8).write.mode("overwrite").parquet(dir)
      }
      mergeUpsert(s, base, batch1(s, d), "o_orderkey", cdfVersion = Some(1L))
      mergeUpsert(s, base, batch2(s, d), "o_orderkey", cdfVersion = Some(2L))
      // retention runs in the gated path on every staging (keep=2 retains
      // both commits here — the stream oracles replay both); CdfRetention
      // Spec proves the sweeping + refusing behavior with keep=1
      vacuumChanges(base, keepCommits = 2)
    }
    base
  }

  /** Aggregate over the twice-merged table — must equal the oracle's
    * direct simulation of both merges over the source, proving positional
    * replace semantics across data AND merge-inserted files. Prices sum
    * as exact integer cents (group totals ~10^9 overflow the 4-dp compare
    * grid when summed as doubles); per-row
    * `round(x*100)` after the exact +10/+5 deltas is IEEE-identical
    * across engines and the long sum is exact. */
  def mergeUpsertMor(s: SparkSession, d: String): DataFrame =
    readMerged(s, morOrders(s, d))
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_orders"),
        sum(round(col("o_totalprice") * 100).cast("long")).as("total_cents"))
      .orderBy("o_orderstatus")

  // ----------------------------------------------------- full-matrix query

  /** Source batch for the full-matrix MERGE: every key ≡ 0 mod 5 arrives
    * re-priced (+7.00, exact in doubles); keys ≡ 0 mod 19 arrive as NEW
    * orders (key offset by 2·10^8, status 'X'). */
  private def fullBatch(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
    o.where(col("o_orderkey") % 5 === 0)
      .withColumn("o_totalprice", col("o_totalprice") + lit(7.0))
      .unionByName(
        o.where(col("o_orderkey") % 19 === 0)
          .withColumn("o_orderkey", col("o_orderkey") + lit(200000000L))
          .withColumn("o_orderstatus", lit("X")))
  }

  /** orders with the full clause matrix committed once per source
    * version:
    *   MATCHED AND tgt.status='F'  → UPDATE (take source price, mark)
    *   MATCHED AND tgt.status='P'  → DELETE
    *   NOT MATCHED                 → INSERT
    *   NOT MATCHED BY SOURCE AND key%3=0 → DELETE
    * Matched 'O' rows hit no clause and survive untouched. */
  private[graft] def fullOrders(s: SparkSession, d: String): String = {
    val base = SilverArtifact.pathFor(d, "mor/orders_full")
    val fp = SilverArtifact.sourceFingerprint(
      s"$d/orders.parquet", "morfull-v4-fname")
    SilverArtifact.stagedOnce(base, fp) {
      // restage = reload from scratch (see [[morOrders]])
      AtomicTable.deleteRecursively(
        java.nio.file.Paths.get(changesPath(base)))
      AtomicTable.publish(base) { dir =>
        Tables.orders(s, d).repartition(8).write.mode("overwrite").parquet(dir)
      }
      mergeFull(s, base, fullBatch(s, d), "o_orderkey",
        matchedUpdateCond = col("o_orderstatus") === "F",
        updateSet = Map(
          "o_totalprice" -> col("__src_o_totalprice"),
          "o_orderpriority" -> lit("1-UPDATED")),
        matchedDeleteCond = col("o_orderstatus") === "P",
        insertNotMatched = true,
        notMatchedBySourceDeleteCond = col("o_orderkey") % 3 === 0,
        cdfVersion = Some(1L))
    }
    base
  }

  /** Aggregate over the full-matrix-merged table; `n_updated` counts the
    * marker priority, proving UPDATE SET applied (and only under its
    * condition). Same exact-cents discipline as [[mergeUpsertMor]]. */
  def mergeFullMatrix(s: SparkSession, d: String): DataFrame =
    readMerged(s, fullOrders(s, d))
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_orders"),
        sum(when(col("o_orderpriority") === "1-UPDATED", 1L).otherwise(0L))
          .as("n_updated"),
        sum(round(col("o_totalprice") * 100).cast("long")).as("total_cents"))
      .orderBy("o_orderstatus")

  // ------------------------------------------------ schema-evolution query

  /** orders with one schema-EVOLVING merge committed: every key ≡ 0 mod 4
    * arrives re-priced (+1.00, exact) and carrying a column the table
    * never had (`o_channel`, keyed deterministically off the order key). */
  private[graft] def evoOrders(s: SparkSession, d: String): String = {
    val base = SilverArtifact.pathFor(d, "mor/orders_evo")
    val fp = SilverArtifact.sourceFingerprint(
      s"$d/orders.parquet", "morevo-v2-fname")
    SilverArtifact.stagedOnce(base, fp) {
      AtomicTable.deleteRecursively(
        java.nio.file.Paths.get(changesPath(base)))
      AtomicTable.publish(base) { dir =>
        Tables.orders(s, d).repartition(8).write.mode("overwrite").parquet(dir)
      }
      val o = Tables.orders(s, d)
      val batch = o.where(col("o_orderkey") % 4 === 0)
        .withColumn("o_totalprice", col("o_totalprice") + lit(1.0))
        .withColumn("o_channel",
          when(col("o_orderkey") % 8 === 0, "web").otherwise("store"))
      mergeUpsert(s, base, batch, "o_orderkey")
    }
    base
  }

  /** Aggregate over the union schema: merged rows carry their channel,
    * pre-evolution rows read NULL (rendered 'none' so both engines order
    * the groups identically). The same exact-cents discipline. */
  def mergeSchemaEvolution(s: SparkSession, d: String): DataFrame =
    readMergedEvolved(s, evoOrders(s, d))
      .groupBy(col("o_orderstatus"),
        coalesce(col("o_channel"), lit("none")).as("o_channel"))
      .agg(count(lit(1)).as("n_rows"),
        sum(round(col("o_totalprice") * 100).cast("long")).as("total_cents"))
      .orderBy("o_orderstatus", "o_channel")

  /** The `table_changes(...)` read over the full-matrix merge's CDF:
    * every change row the MERGE emitted, rolled up per (commit, type) —
    * all FOUR Delta change types present (update_preimage /
    * update_postimage / delete / insert). The cents discipline matches
    * [[mergeUpsertMor]]; the oracle restates each clause's pre/post
    * state directly from the source, so a wrong preimage (e.g. one
    * computed AFTER the DV landed) or a mis-classified row breaks the
    * hash. Reading the feed costs one scan of `_changes` — batch-sized
    * files, never the table. */
  def tableChanges(s: SparkSession, d: String): DataFrame =
    readChanges(s, fullOrders(s, d))
      .groupBy(col("_commit_version").as("commit_version"),
        col("_change_type").as("change_type"))
      .agg(count(lit(1)).as("n_rows"),
        sum(round(col("o_totalprice") * 100).cast("long")).as("total_cents"))
      .orderBy("commit_version", "change_type")

  /** `table_changes(startVersion)` as a RANGE read — the Delta
    * `table_changes('t', 2)` shape: open the feed FROM commit 2 only.
    * [[readChanges]] resolves the in-range commit files by NAME and scans
    * only them (the plan never lists commit 1's files), so a consumer of
    * recent changes never pays for the history it skipped — at a realistic
    * merge cadence on a 100 TB table, that is the difference between
    * scanning one batch and scanning the table's whole change history.
    * The oracle restates commit 2 alone (batch2's pre/post images). */
  def tableChangesRange(s: SparkSession, d: String): DataFrame =
    readChanges(s, morOrders(s, d), startVersion = 2L)
      .groupBy(col("_commit_version").as("commit_version"),
        col("_change_type").as("change_type"))
      .agg(count(lit(1)).as("n_rows"),
        sum(round(col("o_totalprice") * 100).cast("long")).as("total_cents"))
      .orderBy("commit_version", "change_type")

  /** JOIN materialized view maintained from the change feed — the
    * delta-join rule (ΔMV = ΔFact ⋈ Dim, signed) that makes a join MV
    * refresh cost ∝ |changes|, never ∝ |fact|: the per-segment revenue
    * MV is SEEDED from the pre-merge fact joined to the customer dim,
    * then every CDF row joins the BROADCAST dim once and folds in as an
    * algebraic delta (`update_preimage`/`delete` retract, `postimage`/
    * `insert` add). The dim side is static here — the overwhelmingly
    * common case (fact churns, dimensions trickle); a dim-side delta
    * adds the symmetric A⋈ΔB ∪ ΔA⋈ΔB terms with the same machinery.
    * The gate: the maintained MV must land EXACTLY on the twice-merged
    * fact joined to the dim, restated from source by the oracle —
    * feed-maintained ≡ recomputed, now THROUGH a join. */
  def mvJoinFromChanges(s: SparkSession, d: String): DataFrame = {
    val base = morOrders(s, d)
    val cust = Tables.customer(s, d).select(col("c_custkey"), col("c_mktsegment"))
    def cents = sum(round(col("o_totalprice") * 100).cast("long"))
    // seed: the PRE-merge state — v1's data files (both merges changed
    // only sidecars, so the base read IS the state the feed picks up from)
    val seed = AtomicTable.read(s, base)
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_orders"), cents.as("total_cents"))
    val deltas = readChanges(s, base)
      .withColumn("sign",
        when(col("_change_type").isin("update_preimage", "delete"), -1L)
          .otherwise(1L))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .groupBy("c_mktsegment")
      .agg(sum(col("sign")).as("dn"),
        sum(col("sign") * round(col("o_totalprice") * 100).cast("long")).as("dc"))
    seed.join(deltas, Seq("c_mktsegment"), "full_outer")
      .select(col("c_mktsegment"),
        (coalesce(col("n_orders"), lit(0L)) + coalesce(col("dn"), lit(0L)))
          .as("n_orders"),
        (coalesce(col("total_cents"), lit(0L)) + coalesce(col("dc"), lit(0L)))
          .as("total_cents"))
      .filter(col("n_orders") > 0L)
      .orderBy("c_mktsegment")
  }

  /** Shallow clone of a LIVE merged table — the composition the
    * filename-keyed sidecars exist for: `cloneTable` hardlinks the
    * version directory INCLUDING its `_dv`/`_mor` sidecars, and because
    * positions key the file NAME (relocation-stable) rather than the
    * path, the clone's merged read serves exactly the source's
    * merge-applied state. Shares `merge_upsert_mor`'s oracle — a single
    * resurrected delete or lost merge batch breaks the hash. */
  def tableCloneMerged(s: SparkSession, d: String): DataFrame = {
    val src = morOrders(s, d)
    val dst = SilverArtifact.pathFor(d, "mor/orders_clone")
    AtomicTable.deleteRecursively(java.nio.file.Paths.get(dst))
    AtomicTable.cloneTable(src, dst)
    readMerged(s, dst)
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_orders"),
        sum(round(col("o_totalprice") * 100).cast("long")).as("total_cents"))
      .orderBy("o_orderstatus")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "merge_upsert_mor" -> (mergeUpsertMor _),
    "merge_full"       -> (mergeFullMatrix _),
    "merge_schema_evolution" -> (mergeSchemaEvolution _),
    "table_changes"    -> (tableChanges _),
    "table_changes_range" -> (tableChangesRange _),
    "mv_join_from_changes" -> (mvJoinFromChanges _),
    "table_clone_merged" -> (tableCloneMerged _)
  )

  val oracleSql: Map[String, String] = Map(
    // the merged clone must serve the source's merge-applied state —
    // same restatement as merge_upsert_mor
    "table_clone_merged" -> """
SELECT o_orderstatus, count(*) AS n_orders,
       CAST(sum(CAST(round(p * 100) AS BIGINT)) AS BIGINT) AS total_cents
FROM (
  SELECT o_orderstatus,
         CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 10.0
              ELSE o_totalprice END AS p
  FROM orders
  UNION ALL
  SELECT 'N' AS o_orderstatus, o_totalprice + 5.0 AS p
  FROM orders WHERE o_orderkey % 13 = 0
)
GROUP BY 1 ORDER BY 1""",
    "merge_upsert_mor" -> """
SELECT o_orderstatus, count(*) AS n_orders,
       CAST(sum(CAST(round(p * 100) AS BIGINT)) AS BIGINT) AS total_cents
FROM (
  SELECT o_orderstatus,
         CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 10.0
              ELSE o_totalprice END AS p
  FROM orders
  UNION ALL
  SELECT 'N' AS o_orderstatus, o_totalprice + 5.0 AS p
  FROM orders WHERE o_orderkey % 13 = 0
)
GROUP BY 1 ORDER BY 1""",
    // the clause matrix restated over the source: matched F → source
    // price (+7) and the marker; matched P → gone; matched O →
    // untouched; unmatched key%3=0 → gone; inserts carry status X.
    "merge_full" -> """
SELECT o_orderstatus, count(*) AS n_orders,
       CAST(sum(upd) AS BIGINT) AS n_updated,
       CAST(sum(CAST(round(p * 100) AS BIGINT)) AS BIGINT) AS total_cents
FROM (
  SELECT o_orderstatus, 1 AS upd, o_totalprice + 7.0 AS p
  FROM orders WHERE o_orderkey % 5 = 0 AND o_orderstatus = 'F'
  UNION ALL
  SELECT o_orderstatus, 0, o_totalprice
  FROM orders WHERE o_orderkey % 5 = 0 AND o_orderstatus = 'O'
  UNION ALL
  SELECT o_orderstatus, 0, o_totalprice
  FROM orders WHERE o_orderkey % 5 <> 0 AND o_orderkey % 3 <> 0
  UNION ALL
  SELECT 'X', 0, o_totalprice
  FROM orders WHERE o_orderkey % 19 = 0
)
GROUP BY 1 ORDER BY 1""",
    // the evolving merge restated: key%4=0 rows re-priced with a channel,
    // everything else untouched with channel 'none' (NULL rendered so both
    // engines group and ORDER identically)
    "merge_schema_evolution" -> """
SELECT o_orderstatus, o_channel, count(*) AS n_rows,
       CAST(sum(CAST(round(p * 100) AS BIGINT)) AS BIGINT) AS total_cents
FROM (
  SELECT o_orderstatus,
         CASE WHEN o_orderkey % 8 = 0 THEN 'web' ELSE 'store' END AS o_channel,
         o_totalprice + 1.0 AS p
  FROM orders WHERE o_orderkey % 4 = 0
  UNION ALL
  SELECT o_orderstatus, 'none', o_totalprice
  FROM orders WHERE o_orderkey % 4 <> 0
)
GROUP BY 1, 2 ORDER BY 1, 2""",
    // the join-MV restated from source: the twice-merged fact (same
    // simulation as merge_upsert_mor) joined to customer, per segment
    "mv_join_from_changes" -> """
SELECT c_mktsegment, count(*) AS n_orders,
       CAST(sum(CAST(round(p * 100) AS BIGINT)) AS BIGINT) AS total_cents
FROM (
  SELECT o_custkey,
         CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 10.0
              ELSE o_totalprice END AS p
  FROM orders
  UNION ALL
  SELECT o_custkey, o_totalprice + 5.0 AS p
  FROM orders WHERE o_orderkey % 13 = 0
) f JOIN customer c ON f.o_custkey = c.c_custkey
GROUP BY 1 ORDER BY 1""",
    // commit 2 of the upsert feed alone (the range read's floor): batch2
    // re-priced the rows batch1 inserted — preimages at their inserted
    // (original-price, status N) state, postimages +5
    "table_changes_range" -> """
SELECT CAST(2 AS BIGINT) AS commit_version, ct AS change_type,
       count(*) AS n_rows,
       CAST(sum(CAST(round(p * 100) AS BIGINT)) AS BIGINT) AS total_cents
FROM (
  SELECT 'update_preimage' AS ct, o_totalprice AS p
  FROM orders WHERE o_orderkey % 13 = 0
  UNION ALL
  SELECT 'update_postimage', o_totalprice + 5.0
  FROM orders WHERE o_orderkey % 13 = 0
)
GROUP BY 1, 2 ORDER BY 1, 2""",
    // the full-matrix CDF restated from source: updates are matched 'F'
    // rows (pre = original, post = source price = original+7); deletes
    // are matched 'P' rows plus unmatched key%3=0 rows at their original
    // values; inserts are the key%19=0 re-entries (price unchanged).
    "table_changes" -> """
SELECT CAST(cv AS BIGINT) AS commit_version, ct AS change_type,
       count(*) AS n_rows,
       CAST(sum(CAST(round(p * 100) AS BIGINT)) AS BIGINT) AS total_cents
FROM (
  SELECT 1 AS cv, 'update_preimage' AS ct, o_totalprice AS p
  FROM orders WHERE o_orderkey % 5 = 0 AND o_orderstatus = 'F'
  UNION ALL
  SELECT 1, 'update_postimage', o_totalprice + 7.0
  FROM orders WHERE o_orderkey % 5 = 0 AND o_orderstatus = 'F'
  UNION ALL
  SELECT 1, 'delete', o_totalprice
  FROM orders WHERE (o_orderkey % 5 = 0 AND o_orderstatus = 'P')
                 OR (o_orderkey % 5 <> 0 AND o_orderkey % 3 = 0)
  UNION ALL
  SELECT 1, 'insert', o_totalprice
  FROM orders WHERE o_orderkey % 19 = 0
)
GROUP BY 1, 2 ORDER BY 1, 2"""
  )
}
