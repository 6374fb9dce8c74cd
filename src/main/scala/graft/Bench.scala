package graft
import scala.jdk.CollectionConverters._
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // builder-iteration aid: comma-separated exact names and/or prefixes
    // (trailing '*') restrict the run, e.g. SPARK_GRAFT_BENCH_ONLY='stream_*'
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(",").toSeq)
    // builder-iteration aid: steady-pass count (default 3 = the driver's
    // median-of-3 contract; 1 for long self-measurement runs like sf1)
    val nPasses = sys.env.get("SPARK_GRAFT_BENCH_PASSES").map(_.toInt).getOrElse(3)
    require(nPasses >= 1, s"SPARK_GRAFT_BENCH_PASSES must be >= 1, got $nPasses")
    def selected(name: String): Boolean = only.forall(_.exists(p =>
      if (p.endsWith("*")) name.startsWith(p.dropRight(1)) else name == p))
    // a typo'd filter must fail loudly, not print a plausible 0.0s total
    if (!SparkEntry.queries.keys.exists(selected)) {
      System.err.println(
        s"[bench] SPARK_GRAFT_BENCH_ONLY=${only.get.mkString(",")} matches no query — aborting")
      sys.exit(2)
    }
    // Session-lifetime memo caches are MEMORY_AND_DISK and scale with the
    // corpus. The Spark default storageFraction=0.5 makes half the unified
    // region unevictable cache, which at sf30 in a 16 GB JVM pinned it
    // while an object-path shuffle needed headroom (task OOM); at small
    // scale factors 0.2 costs ~10% for nothing. So the fraction is sized
    // from the dataset, deterministically: the default 0.5 below 512 MB of
    // corpus parquet (sf1 is ~175 MB), 0.2 at or above. The walk is
    // recursive so a table staged as a Spark-written DIRECTORY named
    // *.parquet counts its part files, not its directory inode.
    val corpusBytes = {
      val d = java.nio.file.Paths.get(sfDir)
      if (java.nio.file.Files.isDirectory(d)) {
        val st = java.nio.file.Files.walk(d)
        try st.iterator().asScala
          .filter(p => java.nio.file.Files.isRegularFile(p) &&
            p.getFileName.toString.endsWith(".parquet"))
          .map(java.nio.file.Files.size).sum
        finally st.close()
      } else 0L
    }
    val storageFraction = if (corpusBytes >= (512L << 20)) "0.2" else "0.5"
    System.err.println(
      s"[bench] corpus=$corpusBytes bytes -> spark.memory.storageFraction=$storageFraction")
    val spark = GraftSession.builder()
      .config("spark.ui.enabled", "false")
      .config("spark.memory.storageFraction", storageFraction)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // HOST-CALIBRATION ANCHOR: the same code measured on one host drifts
    // by up to ±25% between runs, so every bench run carries a fixed-work,
    // dataset-independent microtask (pure CPU + one 32-way shuffle +
    // hash agg over 400M deterministic rows) whose time moves ONLY with
    // the host. Cross-round comparisons divide totals by the calibration
    // ratio instead of needing a manual worktree A/B. Four passes: the
    // first absorbs codegen/JIT warmup and is discarded; the reported
    // value is the MIN of the rest (noise only ever adds time on a
    // deterministic workload).
    val calibration = {
      def once(): Double = {
        val t0 = System.nanoTime()
        spark.range(0L, 400_000_000L, 1L, 32)
          .selectExpr("id % 9973 AS k", "xxhash64(id) AS h")
          .groupBy("k").agg(org.apache.spark.sql.functions.sum("h"),
            org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1)))
          .count()
        (System.nanoTime() - t0) / 1e9
      }
      once() // JIT/codegen warmup pass, discarded
      Seq.fill(3)(once()).min
    }
    System.err.println(f"[bench] calibration_sec=$calibration%.3f (fixed-work host anchor)")
    // Warmup = the ETL phase: materialize the gold star schema once, the
    // way the reference separates ETL wall-time (etl_lakehouse.py:139-147)
    // from per-query latency measured on the already-built gold zone
    // (test_queries.py:132-144). Reported separately, not hidden.
    // The silver index artifacts are ETL too: a 100 TB ingestion job stores
    // the shingle table, the banded MinHash index, the k-NN edge set and
    // the basket table once per corpus version (SilverArtifact), and every
    // later session reads them. Publishing them here — count() drives the
    // build on a miss and is a cheap parquet read on a hit — makes the cold
    // pass measure what a cold SESSION pays, not the once-per-corpus build.
    // The staged demo tables are skipped when their stamped source
    // fingerprint matches; all of them live under SilverArtifact.root.
    // The bucketed tables are catalog entries (a bucket spec needs
    // saveAsTable) stamped with their path and both sources'
    // fingerprints, so they survive SessionCaches.clear and re-bucket
    // only when a source or the root changes. The stateful-streaming
    // prewarm loads the RocksDB JNI and state-store classes once per JVM,
    // so the cold pass measures a cold session, not a cold JVM.
    // a failed step would silently move its build cost into the cold pass
    def warm(step: String)(run: => Any): Unit =
      try run catch { case e: Throwable =>
        System.err.println(s"[bench] warmup step $step FAILED: $e")
        e.printStackTrace()
        spark.stop()
        sys.exit(1)
      }
    val w0 = System.nanoTime()
    warm("Medallion.factSales")(graft.pipeline.Medallion.factSales(spark, sfDir).count())
    warm("Medallion.dimPart")(graft.pipeline.Medallion.dimPart(spark, sfDir).count())
    warm("Dedup.bandedTable")(graft.ops.Dedup.bandedTable(spark, sfDir).count())
    warm("Similarity.knnGraph")(graft.ops.Similarity.knnGraph(spark, sfDir, 3).count())
    warm("Dedup.clusters")(graft.ops.Dedup.clusters(spark, sfDir).count())
    warm("Dedup.semanticDedup")(graft.ops.Dedup.semanticDedup(spark, sfDir).count())
    warm("TextOps.sparseWeights")(graft.ops.TextOps.sparseWeights(spark, sfDir).count())
    warm("BehaviorOps.baskets")(graft.queries.BehaviorOps.baskets(spark, sfDir).count())
    warm("DeletionVectors.dvOrders")(graft.ops.DeletionVectors.dvOrders(spark, sfDir))
    warm("DeletionVectors.dvPrunedOrders")(graft.ops.DeletionVectors.dvPrunedOrders(spark, sfDir))
    warm("MergeOnRead.morOrders")(graft.ops.MergeOnRead.morOrders(spark, sfDir))
    warm("MergeOnRead.fullOrders")(graft.ops.MergeOnRead.fullOrders(spark, sfDir))
    warm("MergeOnRead.evoOrders")(graft.ops.MergeOnRead.evoOrders(spark, sfDir))
    warm("InvertedIndex.indexTable")(graft.ops.InvertedIndex.indexTable(spark, sfDir).count())
    warm("DataSkipping.zorderedLineitem")(graft.ops.DataSkipping.zorderedLineitem(spark, sfDir))
    warm("DataSkipping.dateClusteredOrders")(graft.ops.DataSkipping.dateClusteredOrders(spark, sfDir))
    warm("ScaleOps.bucketedJoin")(graft.queries.ScaleOps.bucketedJoin(spark, sfDir).count())
    warm("EventsStream.prewarm")(graft.streaming.EventsStream.prewarm(spark, sfDir))
    val warmup = (System.nanoTime() - w0) / 1e9
    val failed = scala.collection.mutable.LinkedHashSet[String]()
    // Each query is timed until its last row reaches the `noop` sink
    // (Tool.materialize); `count()` would let Catalyst prune every operator
    // that does not change the row count. A failed pass records NaN — the
    // query is then EXCLUDED from the median/total (a time-until-exception
    // would masquerade as fast and understate regressions); it survives
    // only in the 'failed' list. Each query also reports the classes Spark
    // compiled for it and their janino seconds
    def timeAll(): Map[String, (Double, Tool.Codegen)] = SparkEntry.queries
      .filter { case (name, _) => selected(name) }
      .map { case (name, fn) =>
        val t0 = System.nanoTime()
        val (_, cg) = Tool.compiling(
          try { Tool.materialize(fn(spark, sfDir)) } catch { case e: Throwable =>
            failed += name
            System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
          })
        name -> ((if (failed.contains(name)) Double.NaN
                  else (System.nanoTime() - t0) / 1e9), cg)
      }
    // COLD vs STEADY: several operators memoize session
    // artifacts (gold tables, shingle tables, ANN indexes, CC labels) the
    // way a 100 TB pipeline writes them once per corpus version — so a
    // median over same-session passes measures warm-cache cost and hides
    // the cold cost entirely (dedup_clusters: 0.38s warm vs 6.78s cold).
    // The bench reports BOTH: every session memo is dropped after the
    // warmup, pass 1 runs genuinely cold (memo builds included, in query
    // order — the pipeline-backfill shape), then three steady passes give
    // the per-query MEDIAN plus (min, max) spread. Median-of-3 because
    // this host's per-query noise reaches 4× (identical-code totals
    // measured 56.9-94.2s back-to-back): robust to a single slow AND a
    // single anomalously fast pass.
    // Each pass also records the classes Spark compiled during it, the sum
    // of its queries' counts: a steady pass that compiles pays janino time again
    // for code an earlier pass already generated, or for code that differs
    // per call. The queries that compile in a steady pass are listed with
    // their per-pass counts.
    graft.util.SessionCaches.clear(spark)
    def times(run: Map[String, (Double, Tool.Codegen)]) = run.map { case (k, (t, _)) => k -> t }
    def codegenOf(run: Map[String, (Double, Tool.Codegen)]) = Tool.Codegen(
      run.values.map(_._2.compiles).sum, run.values.map(_._2.seconds).sum)
    val coldRun = timeAll()
    val steadyRuns = Seq.fill(nPasses)(timeAll())
    val coldPass = times(coldRun)
    val passes = steadyRuns.map(times)
    val steadyCompiles = steadyRuns.head.keys.toSeq.sorted
      .map(k => k -> steadyRuns.map(_(k)._2.compiles)).filter(_._2.exists(_ > 0))
    // the metaspace that loaded classes, the cached generated ones
    // included, hold once every pass has run
    val metaspaceMb = java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .find(_.getName == "Metaspace").map(_.getUsage.getUsed / 1048576.0).getOrElse(Double.NaN)
    val ok = passes.head.keys.filterNot(failed.contains).toSeq
    val spread = ok.map { k =>
      val ts = passes.map(_(k)).sorted
      k -> (ts.head, ts(ts.size / 2), ts.last)
    }.toMap
    // "value" is the MEDIAN of the steady passes, as in every committed
    // BENCH_*.json, so tooling comparing runs never mixes statistics; the
    // MIN of the passes (noise only ever ADDS time on a deterministic
    // workload) rides alongside as "min_total_sec" + per-query
    // "queries_min" — both statistics always present, neither renamed.
    val results = spread.map { case (k, (_, md, _)) => k -> md }
    val minsPer = spread.map { case (k, (mn, _, _)) => k -> mn }
    val cold = ok.map(k => k -> coldPass(k)).toMap
    val coldTotal = if (cold.nonEmpty) cold.values.sum else 0.0
    val fl = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = if (results.nonEmpty) results.values.sum else 0.0
    val minTotal = if (minsPer.nonEmpty) minsPer.values.sum else 0.0
    def r3(v: Double): String = java.math.BigDecimal.valueOf(v)
      .setScale(3, java.math.RoundingMode.HALF_UP).toPlainString
    def entries(m: Seq[(String, Double)]): String =
      m.map { case (k, v) => "\"" + k + "\":" + r3(v) }.mkString("{", ",", "}")
    def spreadEntries(ks: Seq[String]): String =
      ks.map { k =>
        val (mn, md, mx) = spread(k)
        "\"" + k + "\":[" + r3(mn) + "," + r3(md) + "," + r3(mx) + "]"
      }.mkString("{", ",", "}")
    val steadyCompileEntries = steadyCompiles
      .map { case (k, ns) => "\"" + k + "\":" + ns.mkString("[", ",", "]") }.mkString("{", ",", "}")
    val codegen = {
      val cgs = (coldRun +: steadyRuns).map(codegenOf)
      def fields(f: Tool.Codegen => String): String =
        s"""{"cold":${f(cgs.head)},"passes":${cgs.tail.map(f).mkString("[", ",", "]")}}"""
      s""""codegen_compiles":${fields(_.compiles.toString)},"codegen_compile_s":${fields(c => r3(c.seconds))},"metaspace_mb":${r3(metaspaceMb)}"""
    }
    // "value" is the steady MEDIAN-of-passes total (continuous with every
    // prior round's "value"); "min_total_sec" is the noise-robust
    // min-of-passes statistic, and the per-query "spread" carries
    // [min,median,max]
    val json = s"""{"metric":"total","value":${r3(total)},"unit":"sec","stat":"median_of_passes","min_total_sec":${r3(minTotal)},"calibration_sec":${r3(calibration)},"warmup_etl_sec":${r3(warmup)},"cold_total_sec":${r3(coldTotal)},"passes":$nPasses,$codegen,"codegen_steady_compiles":$steadyCompileEntries,"failed":$fl,"queries":${entries(results.toSeq)},"cold":${entries(cold.toSeq)},"spread":${spreadEntries(results.keys.toSeq)},"sf":"$sfDir"}"""
    // The harness that collects this output keeps only a ~2000-char tail of
    // stdout, and the full per-query map overflows it — the JSON line must
    // stay short enough to survive the tail capture INTACT. Print a line
    // capped at ~1600 chars: keep the slowest queries (the ones that matter
    // for a perf read) with their [min,median,max] spread, elide the
    // fastest, record how many were elided. The complete map is persisted
    // to bench_out.json below either way.
    val budget = 1600
    val stdoutJson =
      if (json.length <= budget) json
      else {
        val bySlowest = results.toSeq.sortBy(-_._2)
        var kept = bySlowest
        var line = json
        while (line.length > budget && kept.nonEmpty) {
          kept = kept.dropRight(math.max(1, kept.size / 8))
          line = s"""{"metric":"total","value":${r3(total)},"unit":"sec","stat":"median_of_passes","min_total_sec":${r3(minTotal)},"calibration_sec":${r3(calibration)},"warmup_etl_sec":${r3(warmup)},"cold_total_sec":${r3(coldTotal)},"passes":$nPasses,$codegen,"failed":$fl,"queries_total":${results.size},"queries_elided":${results.size - kept.size},"queries":${entries(kept)},"cold":${entries(kept.map { case (k, _) => k -> cold(k) })},"spread":${spreadEntries(kept.map(_._1))},"sf":"$sfDir"}"""
        }
        line
      }
    println(stdoutJson)
    // stdout tail-capture can truncate the (long) JSON line — persist it to
    // a file as well so the numbers are always machine-readable. Best-effort:
    // a read-only CWD must not fail the bench after valid results printed.
    try {
      val out = java.nio.file.Paths.get(
        sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json")).toAbsolutePath
      java.nio.file.Files.writeString(out, json + "\n")
    } catch { case scala.util.control.NonFatal(e) =>
      // IOException AND e.g. InvalidPathException from a malformed env
      // override — nothing here may fail the bench after results printed
      System.err.println(s"[bench] could not persist bench_out.json: ${e.getMessage}")
    } finally spark.stop()
  }
}
