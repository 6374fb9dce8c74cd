package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.util.SessionCaches.PersistOnce

/** Document deduplication suite — the training-data-pipeline extension
  * surface (SURVEY.md §7.5) over the `documents` table.
  *
  * Core strategies, ordered by scale behavior (the object also carries
  * their compositions: incremental index probes, connected-component
  * clustering, and the end-to-end semantic-dedup funnel):
  *
  *  - [[exact]]       — hash-groupBy. One shuffle on md5(text); at 100 TB,
  *                      shuffling a 16-byte hash + ids instead of the text
  *                      itself is the whole trick.
  *  - [[ngramJaccard]]— exact threshold-Jaccard, threshold-adaptive
  *                      physical shape: PREFIX-FILTERED candidates
  *                      (SSJoin/AllPairs/PPJoin over the rarest-first
  *                      stored arrays) + array verify at t ≥ 0.7 where
  *                      candidates are rare; the count-aggregate gram
  *                      join — run as sequential disjoint gram SHARDS at
  *                      corpus scale, bounding the sf100 45 GB middle to
  *                      ~1/K per shard — below. Output identical to brute
  *                      force either way.
  *  - [[minhashLsh]]  — MinHash signatures (64 perms via xxhash64) banded
  *                      16×4; candidates from band-bucket equi-joins only,
  *                      then exact-Jaccard verification of the (tiny)
  *                      candidate set. This is the 100 TB path: cost is
  *                      O(docs × shingles) for signatures + O(candidates)
  *                      verify, never all-pairs. With r=4,b=16 the miss
  *                      probability at j=0.9 is (1-0.9^4)^16 ≈ 2e-3 and at
  *                      the planted j≈0.98 it's ~1e-18, so the verified
  *                      output equals the brute-force oracle.
  *  - [[simhash]]     — 120-bit SimHash fingerprints from md5-derived word
  *                      hashes (engine-neutral, so the oracle can recompute
  *                      them in SQL). Hamming-adjacent fingerprints =
  *                      near-dups; fingerprinting is one narrow pass.
  *  - [[cosinePairs]] — embedding near-dup over `embeddings`: exact
  *                      all-pairs cosine (baseline; the LSH-bucketed scale
  *                      variant lives in Similarity).
  */
object Dedup {

  /** Word 3-gram shingle set as 64-bit hashes, semantically mirrored by
    * the DuckDB oracle's string shingles: split on single spaces, 1-based
    * sliding windows, distinct. Hashing INSIDE the transform keeps the
    * distinct + every downstream join/shuffle on primitive longs instead
    * of ~20-byte strings (array_distinct over strings is an O(n²) compare
    * loop that dominated profiles; over longs it's cheap). A cross-doc
    * hash collision would need two distinct shingles sharing an xxhash64
    * value — p ≈ |shingles|²/2^64, negligible, and the differential gate
    * would catch it. */
  private def withShingles(docs: DataFrame): DataFrame =
    docs
      .filter(size(split(col("text"), " ")) >= 3)
      .withColumn("sh", array_distinct(transform(
        Ngrams.wordNgrams(col("text"), 3), x => xxhash64(x))))
      .withColumn("m", size(col("sh")))

  /** Session-scoped memo of the per-doc shingle-hash table — the "silver
    * layer" for document dedup, shared by the Jaccard and MinHash paths
    * (each would otherwise recompute the shingle pass for every join
    * branch). At 100 TB this table is what you'd write to storage once and
    * reuse across dedup runs. */
  private val shingleCache = graft.util.SessionCaches.memo[Unit]("dedup.shingles")

  /** Hot-shingle document-frequency cap: shingles present in more than
    * max(5, 1% of the corpus) documents are dropped from every shingle
    * set BEFORE any join. Without this, one stopword-like shingle with
    * document frequency f makes the inverted-index self-join emit f²/2
    * rows — at 100 TB a single hot shingle is O(n²) on its own. Dropping
    * near-ubiquitous shingles barely moves Jaccard (they carry no
    * discriminative signal) and the cap is applied identically in the
    * oracle CTE, so the differential gate checks the capped semantics. */
  val MaxShingleDfFrac = 0.01
  val MinShingleDfCap = 5L

  private[graft] def shingleTable(s: SparkSession, d: String): DataFrame =
    shingleCache(s, d) {
      // the shingle table persists to DISK through SilverArtifact like a
      // real silver-zone table (the 100-TB design: the dominant shingle
      // pass is a batch artifact written once and reused across dedup runs
      // AND sessions). A cold session — bench pass 1 after
      // SessionCaches.clear — pays a parquet read, not a recompute; the
      // part-file fingerprint invalidates on source regeneration even when
      // the directory entry is untouched, and the logic tag orphans stored
      // shingles if this derivation ever changes.
      val base = graft.util.SilverArtifact.pathFor(d, "shingles")
      // v3: arrays stored RAREST-FIRST — sorted by (global document
      // frequency, hash) instead of by hash — so the Jaccard prefix
      // filter ([[ngramJaccard]]) is a zero-cost `slice` of the stored
      // array at query time. Every other consumer treats sh as a SET
      // (MinHash signatures are min-over-array, verification is
      // array_intersect), so only the ngram path observes the order.
      // The df attach is one build-time h-exchange, paid once per corpus
      // version — exactly the pass the stored artifact exists to amortize.
      val fp = graft.util.SilverArtifact.sourceFingerprint(
        s"$d/documents.parquet",
        s"shingles-v3-rarestfirst-cap$MaxShingleDfFrac-$MinShingleDfCap")
      // the split/ngram/hash explosion feeds BOTH the df aggregate and
      // the join input — persisted so the dominant shingle pass runs
      // once during the publish write, released right after
      var ex: DataFrame = null
      val read = graft.util.SilverArtifact.getOrBuild(s, base, fp) {
        val nDocs = Tables.documents(s, d).count()
        val cap = math.max(MinShingleDfCap, math.floor(MaxShingleDfFrac * nDocs).toLong)
        // plain persist (NOT persistOnce): this is a transient
        // persist/unpersist pair scoped to the one-time artifact build —
        // persistOnce is reserved for memo-lifetime caches with no paired
        // unpersist, because its skip-if-cached semantics would let the
        // unpersist below drop another session's live entry.
        ex = withShingles(Tables.fanout(s, Tables.documents(s, d)))
          .select(col("doc_id"), explode(col("sh")).as("h"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        // sh is distinct per doc, so count == document frequency; the
        // SAME aggregate drives the hot-cap filter (df > 1% of corpus)
        // and the rarest-first sort key
        val dfs = ex.groupBy("h").agg(count(lit(1)).as("df"))
        ex.join(dfs, Seq("h"))
          .filter(col("df") <= cap)
          .groupBy("doc_id")
          .agg(sort_array(collect_list(struct(col("df"), col("h")))).as("dh"),
            count(lit(1)).as("m"))
          .select(col("doc_id"),
            transform(col("dh"), x => x.getField("h")).as("sh"), col("m"))
      }
      if (ex != null) ex.unpersist()
      // re-establish the doc_id co-location the parquet read loses (the
      // on-disk analog would be bucketBy(doc_id), which needs a metastore
      // table): one session-amortized repartition, cached, so every
      // downstream doc_id groupBy/join reuses the partitioning instead of
      // re-exchanging per query — PlanAuditSpec's 1-exchange budgets on
      // the dedup family depend on this
      read
        .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
        .persistOnce()
    }

  /** Shared oracle CTE: per-doc distinct shingles, hot-shingle-capped
    * exactly like [[shingleTable]], exploded. */
  val shingleCte: String = """WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
  WHERE len(string_split(text, ' ')) >= 3),
sh AS (
  SELECT doc_id,
         list_distinct(list_transform(generate_series(1, len(ws)-2),
           i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS s
  FROM w),
ex0 AS (SELECT doc_id, unnest(s) AS sh FROM sh),
keep AS (
  SELECT sh FROM ex0 GROUP BY sh
  HAVING count(*) <= greatest(5, CAST(floor(0.01 * (SELECT count(*) FROM documents)) AS BIGINT))),
ex1 AS (SELECT ex0.doc_id, ex0.sh FROM ex0 JOIN keep USING (sh)),
ex AS (SELECT doc_id, count(*) OVER (PARTITION BY doc_id) AS m, sh FROM ex1),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.m AS ma, b.m AS mb,
         count(*) AS inter
  FROM ex a JOIN ex b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY 1, 2, 3, 4)
"""

  // ---- exact ----

  def exact(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .groupBy(md5(col("text")).as("text_hash"))
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
      .orderBy("keep_id")

  val exactOracle: String = """
SELECT md5(text) AS text_hash, min(doc_id) AS keep_id, count(*) AS n_copies
FROM documents GROUP BY md5(text) ORDER BY keep_id"""

  // ---- exact n-gram Jaccard (inverted index) ----

  /** Prefix+verify pays off only when candidates are RARE: each
    * surviving candidate is verified by joining the two stored gram
    * ARRAYS onto the pair, and that intermediate ships ~1-2 KB per
    * candidate through an exchange. At t ≥ 0.7 real near-dup candidates
    * are a sliver of all pairs and the array verify is the 100 TB shape
    * (it is exactly what the MinHash-LSH paths do at t = 0.9); at
    * t = 0.5 on a self-similar sf100 corpus there are
    * ~80 candidates PER DOC (409M pairs from 5M docs, 99.94% of them
    * failing verification) — the array-carrying verify exchange becomes
    * the scratch hog and the COUNT shape below wins instead. */
  val PrefixVerifyThreshold = 0.7

  /** Sequential gram shards for the count path, sized to the corpus:
    * 1 below 512 MB of documents parquet (driver-scale plans and the
    * bench at small SF stay single-pass, plan shape unchanged), then
    * one shard per 128 MB, capped at 8 (sf100's 623 MB → 4). Shards
    * bound the SCRATCH PEAK, not total work — unsharded, the sf100
    * peak is the whole 1.27B-row pair middle in flight at once. */
  private[graft] def gramShardsFor(d: String): Int = {
    val p = java.nio.file.Paths.get(s"$d/documents.parquet")
    val bytes = if (java.nio.file.Files.exists(p)) java.nio.file.Files.size(p) else 0L
    if (bytes < (512L << 20)) 1
    else math.min(8, (bytes / (128L << 20)).toInt).max(2)
  }

  /** All pairs with Jaccard ≥ `threshold` over 3-gram shingles — EXACT
    * (identical to the brute-force inverted-index join the oracle
    * runs), with a threshold-adaptive physical shape:
    *
    *  - t ≥ [[PrefixVerifyThreshold]]: PREFIX-FILTERED candidates
    *    (Chaudhuri et al. SSJoin / Bayardo et al. AllPairs / Xiao et
    *    al. PPJoin) + exact array verify. The lemma: under any fixed
    *    total order of the gram universe, two sets with J(A,B) ≥ t
    *    must share an element inside each other's first
    *    |x| − ⌈t·|x|⌉ + 1 grams — if both prefixes missed, each set
    *    would need > ⌈t·|x|⌉ exclusive elements ranked after the
    *    other's whole prefix, capping the intersection below t·|A∪B|.
    *    The shingle artifact stores arrays RAREST-FIRST (global df
    *    order, v3), so the prefix is a zero-cost `slice` and prefixes
    *    concentrate on low-df grams (measured at sf0.1: candidates
    *    11525 → 1093 at t = 0.5). The ε in the prefix length guards
    *    the one unsafe float direction: t·m over-computing an exact
    *    integer would shorten the prefix below the lemma's bound;
    *    undershoot only lengthens it.
    *  - t < threshold: the COUNT shape — gram self-join aggregated
    *    straight to per-pair intersection counts (no per-pair arrays
    *    ever cross an exchange), run as [[gramShardsFor]] SEQUENTIAL
    *    disjoint gram shards at corpus scale: shard i keeps grams with
    *    pmod(g, K) = i, per-shard partial pair counts land in scratch
    *    parquet, and the final pass sums counts per pair (disjoint
    *    shards ⇒ counts add ⇒ hash-identical output). Each shard's
    *    join middle — the sf100 scratch peak — is ~1/K of the
    *    whole, and shards run one at a time. */
  def ngramJaccard(s: SparkSession, d: String, threshold: Double = 0.5): DataFrame = {
    val docs = shingleTable(s, d)
    if (threshold >= PrefixVerifyThreshold) {
      val pfxLen = greatest(lit(1),
        (col("m") - ceil(col("m") * lit(threshold) - lit(1e-9)) + lit(1)).cast("int"))
      val pfx = docs.select(col("doc_id"),
        explode(slice(col("sh"), lit(1), pfxLen)).as("g"))
      val a = pfx.select(col("doc_id").as("doc_a"), col("g"))
      val b = pfx.select(col("doc_id").as("doc_b"), col("g"))
      val cands = a.join(b, Seq("g"))
        .filter(col("doc_a") < col("doc_b"))
        .select("doc_a", "doc_b").distinct()
      verifyJaccard(docs, cands, threshold)
    } else countJaccard(s, docs, d, threshold, gramShardsFor(d))
  }

  /** The count shape, optionally gram-sharded (see [[ngramJaccard]]).
    * `shards` = 1 is the plain single-pass join; > 1 materializes each
    * disjoint gram shard's partial pair counts sequentially so only
    * one shard's join middle is ever in flight.
    *
    * Two scratch levers beyond sharding (at sf100 the middle exchange,
    * not the join itself, is where the bytes live):
    *  - the middle carries ONLY (doc_a, doc_b): the set sizes ma/mb
    *    (2 of the 4 longs in the old pair row) ride a billion-row
    *    exchange for nothing, because they are only needed for the
    *    FINAL jaccard arithmetic — and by then the count lower bound
    *    below has shrunk the pairs to a sliver that joins the sizes
    *    back as a broadcast;
    *  - a SAFE post-aggregation lower bound: J ≥ t ⇒
    *    inter ≥ t/(1+t)·(ma+mb) ≥ ⌈2t/(1+t)·m_min⌉ with m_min the
    *    corpus-wide smallest shingle set (a 1-row scalar). On the
    *    measured corpus (m_min = 8, t = 0.5 ⇒ inter ≥ 6, mean shared
    *    grams per candidate pair = 1.12) this discards ~99% of
    *    aggregated pairs before anything wide touches them. The final
    *    exact-jaccard filter is unchanged — the bound only prunes
    *    pairs that provably cannot reach t, so output is identical. */
  private[graft] def countJaccard(s: SparkSession, docs: DataFrame, d: String,
      threshold: Double, shards: Int): DataFrame = {
    def pairCounts(ex: DataFrame): DataFrame = {
      val a = ex.select(col("doc_id").as("doc_a"), col("sh1"))
      val b = ex.select(col("doc_id").as("doc_b"), col("sh1"))
      a.join(b, a("sh1") === b("sh1") && col("doc_a") < col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(count(lit(1)).as("inter"))
    }
    val ex0 = docs.select(col("doc_id"), explode(col("sh")).as("sh1"))
    val counted =
      if (shards <= 1) pairCounts(ex0)
      else {
        val scratch = graft.util.TempDirs.scratch(
          s"graft_ngram_shards_${graft.util.PathKeys.safe(d)}_$threshold").toString
        val shardDirs = (0 until shards).map(i => s"$scratch/shard$i")
        shardDirs.zipWithIndex.foreach { case (dir, i) =>
          pairCounts(ex0.filter(pmod(col("sh1"), lit(shards)) === i))
            .write.mode("overwrite").parquet(dir)
          require(java.nio.file.Files.isDirectory(java.nio.file.Paths.get(dir)),
            s"gram shard $i write left no directory at $dir")
          // nudge the ContextCleaner so the finished shard's shuffle
          // files free before the next shard's middle builds — this is
          // the whole point of running shards sequentially. The cleaner
          // is ASYNC (it drains a weak-ref queue on its own thread), so
          // give it a bounded beat after the GC; without the pause ~2
          // shards of dead shuffle files are still on disk at sf100 when
          // the next middle peaks.
          System.gc()
          Thread.sleep(3000)
        }
        // disjoint gram shards ⇒ per-pair counts ADD exactly
        s.read.parquet(shardDirs: _*)
          .groupBy("doc_a", "doc_b")
          .agg(sum("inter").as("inter"))
      }
    // 1-row scalar (kilobyte-class driver value, like the IVF centroids)
    val mMin = Option(docs.agg(min("m")).head().get(0))
      .map(_.asInstanceOf[Long]).getOrElse(0L)
    val lower = math.ceil(2.0 * threshold / (1.0 + threshold) * mMin).toLong
    counted
      .filter(col("inter") >= lower)
      .join(docs.select(col("doc_id").as("doc_a"), col("m").as("ma")), "doc_a")
      .join(docs.select(col("doc_id").as("doc_b"), col("m").as("mb")), "doc_b")
      .withColumn("jaccard",
        round(col("inter").cast("double") / (col("ma") + col("mb") - col("inter")), 6))
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")
      .orderBy("doc_a", "doc_b")
  }

  def ngramJaccardOracle(threshold: Double = 0.5): String = shingleCte + s"""
SELECT doc_a, doc_b, round(inter * 1.0 / (ma + mb - inter), 6) AS jaccard
FROM pairs
WHERE round(inter * 1.0 / (ma + mb - inter), 6) >= $threshold
ORDER BY doc_a, doc_b"""

  // ---- MinHash + LSH (the scale path) ----

  val NumHashes = 64
  val Bands = 16
  val RowsPerBand = 4 // NumHashes / Bands

  /** Near-dup pairs at Jaccard ≥ `threshold`, candidates via banded MinHash,
    * verified exactly. Output is identical to brute force whenever LSH
    * recall at the threshold is ~1 (see class doc), which the oracle checks. */
  def minhashLsh(s: SparkSession, d: String, threshold: Double = 0.9): DataFrame = {
    val docs = shingleTable(s, d)
    val banded = bandedTable(s, d)
    val l = banded.select(col("doc_id").as("doc_a"), col("band_idx"), col("band_val"))
    val r = banded.select(col("doc_id").as("doc_b"), col("band_idx"), col("band_val"))
    val cands = l.join(r, Seq("band_idx", "band_val"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
    verifyJaccard(docs, cands, threshold)
  }

  /** Per-doc banded MinHash signature rows (doc_id, band_idx, band_val) —
    * the LSH index structure. The shingle hash itself is the base hash;
    * the 64 "permutations" are XOR with per-permutation random constants
    * (each XOR is a bijection on the 64-bit domain, so min-over-XOR is a
    * valid minwise family, and it cannot overflow under ANSI mode the way
    * multiply-add wraparound does). Engine-specific hashing is fine
    * because only the exact-Jaccard-VERIFIED output is compared to the
    * oracle. At 100 TB this table IS the stored dedup index (banded rows
    * keyed by (band_idx, band_val) — what [[minhashIncremental]] probes). */
  /** The 64 XOR "permutation" constants (seeded; shared by the batch
    * index build and the streaming probe so their band values match). */
  private[graft] lazy val Perms: Array[Long] = {
    val rng = new scala.util.Random(0x5eed)
    Array.fill(NumHashes)(rng.nextLong())
  }

  /** PER-ROW banded signature array from a capped shingle-array column:
    * min-over-XOR as `array_min` over a transformed array — no explode,
    * no aggregation, so it runs as a narrow map (and inside a STREAMING
    * query without consuming the one-aggregation budget). Element b is
    * band b's value (murmur3 of its 4 signature slots). */
  private[graft] def bandedOfShingles(sh: Column): Column = {
    val sigs = (0 until NumHashes).map { p =>
      array_min(transform(sh, x => x.bitwiseXOR(lit(Perms(p)))))
    }
    array((0 until Bands).map { b =>
      hash(sigs.slice(b * RowsPerBand, (b + 1) * RowsPerBand): _*)
    }: _*)
  }

  private[graft] def bandedSignatures(docs: DataFrame): DataFrame =
    // identical values to the old explode + 64-min-aggregates form (min
    // over the same distinct shingle set), minus its aggregation — the
    // index build is now a pure narrow pass over the shingle table
    docs.select(col("doc_id"),
      posexplode(bandedOfShingles(col("sh"))).as(Seq("band_idx", "band_val")))

  private val bandedCache = graft.util.SessionCaches.memo[Unit]("dedup.bands")

  /** The STORED LSH index: (doc_id, band_idx, band_val) persisted through
    * SilverArtifact next to the shingle table. The class doc above calls
    * this table the stored dedup index — so it is stored: a cold session's
    * `dedup_minhash_lsh` is a parquet read + candidate equi-join, not 64
    * min-aggregates over the exploded shingle table. 16 rows/doc, far
    * smaller than the shingles; invalidated by the same part-file
    * fingerprint plus a logic tag carrying the permutation seed and
    * banding shape. */
  private[graft] def bandedTable(s: SparkSession, d: String): DataFrame =
    bandedCache(s, d) {
      val base = graft.util.SilverArtifact.pathFor(d, "minhash_bands")
      val fp = graft.util.SilverArtifact.sourceFingerprint(
        s"$d/documents.parquet",
        s"bands-v1-seed5eed-n$NumHashes-b${Bands}x$RowsPerBand")
      graft.util.SilverArtifact.getOrBuild(s, base, fp) {
        bandedSignatures(shingleTable(s, d))
      }
        // co-locate on the probe key: every consumer equi-joins on
        // (band_idx, band_val), so one session-amortized repartition lets
        // index-vs-index and batch-vs-index joins reuse the exchange
        .repartition(s.sparkContext.defaultParallelism,
          col("band_idx"), col("band_val"))
        .persistOnce()
    }

  /** Exact-Jaccard verification of candidate pairs against the shingle
    * sets — shared by every LSH path; the approximation only ever prunes
    * candidates, never invents or mis-scores a pair. */
  private def verifyJaccard(docs: DataFrame, cands: DataFrame,
      threshold: Double): DataFrame =
    cands
      .join(docs.select(col("doc_id").as("doc_a"), col("sh").as("sh_a"), col("m").as("ma")), "doc_a")
      .join(docs.select(col("doc_id").as("doc_b"), col("sh").as("sh_b"), col("m").as("mb")), "doc_b")
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("jaccard",
        round(col("inter").cast("double") / (col("ma") + col("mb") - col("inter")), 6))
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")
      .orderBy("doc_a", "doc_b")

  /** Incremental near-dup maintenance — the 100 TB ingestion pattern:
    * the already-ingested corpus ("index", here doc_id < the 90%-boundary)
    * has its banded signature table STORED; a new batch (the top decile)
    * computes signatures for its own documents only and probes the index
    * by (band_idx, band_val) equi-join, then exact-verifies the candidate
    * pairs. Daily cost scales with the batch, never the corpus — the
    * near-dup complement of [[graft.queries.ScaleOps]].incrementalAgg's
    * "read the day, not the history" and of [[incremental]]'s exact-hash
    * variant. Batch-internal duplicates are [[minhashLsh]]'s job on the
    * batch alone; this query reports only new-vs-corpus collisions
    * (doc_a = matched index doc, doc_b = batch doc). */
  def minhashIncremental(s: SparkSession, d: String, threshold: Double = 0.9): DataFrame = {
    val docs = shingleTable(s, d)
    // the split point is a scalar of a 1-row max aggregate (kilobyte-scale
    // driver value, same class as the IVF centroid means)
    val maxId = Tables.documents(s, d).agg(max("doc_id")).head().getLong(0)
    val thr = 9L * maxId / 10
    val banded = bandedTable(s, d)
    val idx = banded.filter(col("doc_id") < thr)
      .select(col("doc_id").as("doc_a"), col("band_idx"), col("band_val"))
    val bat = banded.filter(col("doc_id") >= thr)
      .select(col("doc_id").as("doc_b"), col("band_idx"), col("band_val"))
    val cands = idx.join(bat, Seq("band_idx", "band_val"))
      .select("doc_a", "doc_b").distinct()
    verifyJaccard(docs, cands, threshold)
  }

  /** Oracle caveat (same accepted assumption as [[minhashLshOracle]]):
    * the SQL side computes EXACT all-pairs Jaccard restricted to
    * index×batch, so gate-green additionally asserts that 16-band/4-row
    * banding recalls EVERY ≥0.9 pair at this SF and perm seed (expected
    * misses ≈ Σ 1−(1−s⁴)¹⁶ < 10⁻⁶ per pair at s ≥ 0.9 — recall-1 is the
    * overwhelmingly likely outcome, not a certainty). A near-threshold
    * pair missed by all 16 bands would fail the gate probabilistically at
    * another SF or seed; that failure mode indicts the PROBABILITY, not
    * the algorithm — mirror the banding in SQL (as simhashPairsOracle
    * does) if it ever fires. */
  def minhashIncrementalOracle(threshold: Double = 0.9): String =
    shingleCte + s"""
SELECT doc_a, doc_b,
       round(CAST(inter AS DOUBLE) / (ma + mb - inter), 6) AS jaccard
FROM pairs, (SELECT 9 * max(doc_id) // 10 AS thr FROM documents)
WHERE round(CAST(inter AS DOUBLE) / (ma + mb - inter), 6) >= $threshold
  AND doc_a < thr AND doc_b >= thr
ORDER BY doc_a, doc_b"""

  // ---- SimHash ----

  // 120-bit fingerprint (v2; v1 was 60-bit):
  // banding exactness for Hamming ≤ h forces bands = h+1, so the BAND
  // WIDTH — and with it the bucket count 2^width that divides the
  // quadratic random-collision term n²·bands/2^width — scales only with
  // the fingerprint size. The v1 4 × 15-bit split (the Manku-et-al
  // production shape for h ≤ 3) carries an n²/2^15 collision floor that
  // starts to bind at 5M docs (sf100 measured a 4.9× step on 3.33×
  // data); 4 × 30-bit bands push the floor to n²/2^30 —
  // negligible to ~1B docs (collisions ≈ n²·4/2^30: ~4M pairs at 33M
  // docs, trivially verified). Results are EXACT at any banding
  // (candidates are Hamming-verified), so v2 changes the FINGERPRINT
  // ARTIFACT and gate schema, not pair semantics: the fingerprint is now
  // TWO non-negative 60-bit longs — `simhash_lo` IS the v1 fingerprint
  // bit-for-bit (md5 hex chars 1-8/9-16), `simhash_hi` applies the same
  // construction to chars 17-24/25-32. Two 60-bit halves rather than the
  // textbook 2×64 because the oracle assembles each long as a SUM of
  // 2^b terms — staying clear of the sign bit keeps that sum legal in
  // DuckDB, which raises on BIGINT overflow (the same constraint that
  // sized v1 at 60). 120/4 = 30-bit bands split 2+2 across the halves,
  // so the pigeonhole guarantee (h ≤ 3 leaves ≥1 of 4 disjoint bands
  // untouched) is unchanged.
  val SimhashBits = 120
  private val SimhashHalf = 60 // bits per stored long, sign-safe

  /** 120-bit ([[SimhashBits]]) SimHash per document from md5-derived
    * word hashes, as two 60-bit longs: `simhash_lo` from the first 16
    * md5 hex chars (bits 0-31 sign-sum chars 1-8, bits 32-59 chars
    * 9-16 — bit-identical to the v1 60-bit fingerprint), `simhash_hi`
    * the same construction over chars 17-24/25-32. md5 is available and
    * byte-identical in both engines, so the fingerprints are
    * oracle-reproducible — unlike murmur/xxhash which are
    * engine-specific. One narrow pass: explode words → SimhashBits
    * signed bit sums per doc → reassemble. */
  def simhash(s: SparkSession, d: String): DataFrame = {
    // Fingerprint aggregation via the single-buffer `simhash_sums`
    // TypedImperativeAggregate, not 120 separate
    // `sum(CASE WHEN (hv >> b) & 1 = 1 THEN 1 ELSE -1 END)` aggregates —
    // a 120-slot HashAggregate exceeds `spark.sql.codegen.maxFields`
    // (100), so the whole aggregate would run INTERPRETED: every word
    // row paying 120 boxed expression evaluations
    // twice (partial + final). `simhash_sums` keeps one Array[Int](120)
    // per doc and updates it with a shift/mask loop; partial/merge
    // mergeability is unchanged (counter arrays add), and eval assembles
    // the two sign-safe 60-bit longs with the identical `counter >= 0`
    // tie rule — see [[graft.functions.SimhashSumsAgg]] for the pinned
    // equivalence (incl. the NULL-hash corner). Results bit-identical;
    // only the aggregate's execution strategy changes.
    graft.functions.GraftFunctions.register(s)
    val words = Tables.fanout(s, Tables.documents(s, d))
      .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
      .withColumn("hv1", conv(substring(md5(col("word")), 1, 8), 16, 10).cast("long"))
      .withColumn("hv2", conv(substring(md5(col("word")), 9, 8), 16, 10).cast("long"))
      .withColumn("hv3", conv(substring(md5(col("word")), 17, 8), 16, 10).cast("long"))
      .withColumn("hv4", conv(substring(md5(col("word")), 25, 8), 16, 10).cast("long"))
    val sums = words.groupBy("doc_id").agg(
      call_function("simhash_sums",
        col("hv1"), col("hv2"), col("hv3"), col("hv4")).as("fp"))
    sums.select(col("doc_id"), col("fp.hi").as("simhash_hi"),
      col("fp.lo").as("simhash_lo")).orderBy("doc_id")
  }

  val simhashOracle: String = {
    def hex2int(from: Int) = "list_sum(list_transform(generate_series(1, 8), " +
      s"i -> CAST((strpos('0123456789abcdef', substr(md5(word), i + ${from - 1}, 1)) - 1) AS BIGINT) " +
      "* CAST(power(16, 8 - i) AS BIGINT)))"
    def bitSums(half: String) = (0 until SimhashHalf)
      .map { b =>
        val (a, c) = if (half == "lo") ("hv1", "hv2") else ("hv3", "hv4")
        val src = if (b < 32) s"($a >> $b)" else s"($c >> ${b - 32})"
        s"sum(CASE WHEN $src & 1 = 1 THEN 1 ELSE -1 END) AS ${half}$b"
      }
      .mkString(",\n         ")
    def assemble(half: String) = (0 until SimhashHalf)
      .map(b => s"(CASE WHEN ${half}$b >= 0 THEN ${1L << b} ELSE 0 END)")
      .mkString(" + ")
    s"""WITH w AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
h AS (SELECT doc_id, ${hex2int(1)} AS hv1, ${hex2int(9)} AS hv2,
             ${hex2int(17)} AS hv3, ${hex2int(25)} AS hv4 FROM w),
b AS (SELECT doc_id,
         ${bitSums("lo")},
         ${bitSums("hi")}
      FROM h GROUP BY doc_id)
SELECT doc_id, CAST(${assemble("hi")} AS BIGINT) AS simhash_hi,
       CAST(${assemble("lo")} AS BIGINT) AS simhash_lo
FROM b ORDER BY doc_id"""
  }

  val SimhashBands = 4 // pigeonhole-exact for Hamming ≤ SimhashBands - 1
  /** Width of each of the [[SimhashBands]] disjoint bands (30): the
    * 2^30 buckets per band are what keep the candidate join's quadratic
    * term negligible — see the [[SimhashBits]] note. Bands 0-1 slice
    * `simhash_lo`, bands 2-3 slice `simhash_hi`, two per half. */
  val SimhashBandWidth: Int = SimhashBits / SimhashBands
  private val SimhashBandMask: Long = (1L << SimhashBandWidth) - 1

  val SimhashMaxHamming = 3

  /** SimHash near-dup PAIRS at Hamming distance ≤ `maxHamming`, found by
    * banding — the simhash analog of MinHash-LSH banding, and EXACT by
    * pigeonhole: two [[SimhashBits]]-bit fingerprints within Hamming 3
    * differ in at most 3 of the 4 disjoint [[SimhashBandWidth]]-bit bands
    * (30-bit at the current 120/4 split), so at least one band matches
    * and the pair surfaces in that band's bucket. Candidates come from
    * equi-joins on (band index, band value) — never all pairs — then the
    * true Hamming distance filters them. Output therefore EQUALS the
    * brute-force all-pairs scan, which is exactly what the oracle
    * computes. */
  def simhashPairs(s: SparkSession, d: String, maxHamming: Int = SimhashMaxHamming): DataFrame = {
    val fp = simhash(s, d) // (doc_id, simhash_hi, simhash_lo), 120 bits
    // bands 0-1 slice the lo half, 2-3 the hi half (30 bits each)
    val bandVals = (0 until SimhashBands).map { b =>
      val half = if (b < 2) col("simhash_lo") else col("simhash_hi")
      shiftright(half, (b % 2) * SimhashBandWidth).bitwiseAND(SimhashBandMask)
    }
    val bands = fp.select(col("doc_id"), col("simhash_hi"), col("simhash_lo"),
      posexplode(array(bandVals: _*)).as(Seq("band_idx", "band_val")))
    val l = bands.select(col("doc_id").as("doc_a"),
      col("simhash_hi").as("fa_hi"), col("simhash_lo").as("fa_lo"),
      col("band_idx"), col("band_val"))
    val r = bands.select(col("doc_id").as("doc_b"),
      col("simhash_hi").as("fb_hi"), col("simhash_lo").as("fb_lo"),
      col("band_idx"), col("band_val"))
    l.join(r, Seq("band_idx", "band_val"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b", "fa_hi", "fa_lo", "fb_hi", "fb_lo").distinct()
      .withColumn("hamming",
        bit_count(col("fa_hi").bitwiseXOR(col("fb_hi"))) +
          bit_count(col("fa_lo").bitwiseXOR(col("fb_lo"))))
      .filter(col("hamming") <= maxHamming)
      .select(col("doc_a"), col("doc_b"), col("hamming").cast("int").as("hamming"))
      .orderBy("doc_a", "doc_b")
  }

  /** Brute-force all-pairs Hamming scan over the same fingerprints — the
    * banding above is exact for maxHamming ≤ SimhashBands - 1, so the
    * results must hash-match. */
  def simhashPairsOracle(maxHamming: Int = SimhashMaxHamming): String = {
    // reuse the fingerprint derivation from simhashOracle as a CTE
    val fpCte = simhashOracle
      .replace("ORDER BY doc_id", "")
    s"""WITH fp AS ($fpCte)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.simhash_hi, b.simhash_hi))
          + bit_count(xor(a.simhash_lo, b.simhash_lo)) AS INT) AS hamming
FROM fp a JOIN fp b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash_hi, b.simhash_hi))
    + bit_count(xor(a.simhash_lo, b.simhash_lo)) <= $maxHamming
ORDER BY doc_a, doc_b"""
  }

  // ---- duplicate clustering (pairs → connected components) ----

  /** Collapse near-dup PAIRS into duplicate CLUSTERS via distributed
    * connected components (the keep-one-per-cluster step of corpus dedup):
    * every doc in a connected component maps to the component's smallest
    * doc_id. Uses the alternating large-star/small-star algorithm (Kiveris
    * et al., "Connected Components in MapReduce and Beyond", SoCC'14) —
    * rounds are O(log n) and DIAMETER-INDEPENDENT, unlike plain min-label
    * propagation whose round count tracks the longest chain in the graph
    * (a fixed round cap would cut long chains). Each round is
    * two groupBy-join passes over the shrinking edge list, reliably
    * `checkpoint()`ed (HDFS-durable in production — a lost executor replays
    * from the checkpoint file, not from a 2k-round lineage; an
    * executor-local localCheckpoint would die with the executor). Docs
    * not in any pair are their own cluster and are omitted, matching the
    * oracle's recursive closure over the pair list. */
  // cluster assignment is a corpus ARTIFACT like the k-NN edge set or
  // the BPE model: a corpus pipeline computes it once per corpus version
  // and every consumer (dedup manifest, survivor pick, analytics) reads
  // the stored labels — re-running the iterative CC loop per query (or
  // per SESSION) is the anti-pattern. Stored through SilverArtifact
  // (cold sessions read the label parquet), memoized per
  // (session, dataset, threshold) on top; evicted via
  // SessionCaches.clear.
  private val clusterCache = graft.util.SessionCaches.memo[Double]("dedup.clusters")

  def clusters(s: SparkSession, d: String, threshold: Double = 0.9): DataFrame =
    clusterCache(s, d, threshold) {
      val base = graft.util.SilverArtifact.pathFor(d, s"cc_labels_$threshold")
      val fp = graft.util.SilverArtifact.sourceFingerprint(
        s"$d/documents.parquet",
        s"cc-v1-minhash-n$NumHashes-b${Bands}x$RowsPerBand-t$threshold")
      graft.util.SilverArtifact.getOrBuild(s, base, fp) {
        clustersFromPairs(minhashLsh(s, d, threshold).select("doc_a", "doc_b"))
      }
        .orderBy("doc_id")
        .persistOnce()
    }

  /** Large-star: for every node u, hang each strictly-larger neighbor off
    * m = min(N(u) ∪ {u}). Connectivity-preserving; output edges are
    * (larger, smaller). */
  private def largeStar(e: DataFrame): DataFrame = {
    val nbrs = e.select(col("u"), col("v"))
      .unionByName(e.select(col("v").as("u"), col("u").as("v")))
    val mins = nbrs.groupBy("u").agg(min("v").as("mv"))
    nbrs.join(mins, "u")
      .filter(col("v") > col("u"))
      .select(col("v").as("u"), least(col("mv"), col("u")).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
  }

  /** Small-star: for every node u, hang u and all its smaller neighbors
    * off m = min of those neighbors. Output edges are (larger, smaller). */
  private def smallStar(e: DataFrame): DataFrame = {
    val c = e.select(greatest(col("u"), col("v")).as("u"),
      least(col("u"), col("v")).as("v"))
    val mins = c.groupBy("u").agg(min("v").as("mv"))
    c.join(mins, "u")
      .filter(col("v") =!= col("mv"))
      .select(col("v").as("u"), col("mv").as("v"))
      .unionByName(mins.select(col("u"), col("mv").as("v")))
      .filter(col("u") =!= col("v"))
      .distinct()
  }

  /** The reusable core over any (doc_a, doc_b) pair set — also
    * property-tested against a local union-find on random graphs including
    * a 200-node path (diameter ≫ the old 50-round cap; PropertySpec).
    * Converges when a full large-star+small-star round leaves the edge
    * multiset unchanged, at which point the edges form min-rooted stars.
    *
    * Each round's edge set is persisted to parquet and read back — the
    * same lineage truncation a reliable `checkpoint()` buys (a lost
    * executor replays from the file, not a 2k-round lineage) with
    * MANAGED lifetime: round k−1's files are deleted the moment round k
    * is durable, and the final round's dir is reaped at JVM exit
    * ([[graft.util.TempDirs]]) — an unmanaged checkpoint dir would be
    * an unbounded per-call disk leak. A production job
    * passes `workDir` on durable lake storage. */
  def clustersFromPairs(pairs: DataFrame, workDir: Option[String] = None): DataFrame = {
    val s = pairs.sparkSession
    // path arithmetic stays string + Hadoop Path (NOT java.nio.Paths,
    // which mangles scheme URIs like s3a:// and can only delete locally) —
    // a caller-supplied workDir on lake storage must actually work
    // the default scratch dir is explicitly file://-qualified: on a
    // cluster whose fs.defaultFS is remote (hdfs/s3a), an unqualified
    // local path would resolve round writes against the DEFAULT fs while
    // the JVM-exit reaper (TempDirs, java.nio) cleans only the local dir
    val base = workDir.getOrElse(
      "file://" + graft.util.TempDirs.scratch("graft-ccomp").toString)
    // the convergence signature (count + two independent 64-bit xor-folds
    // — order-independent, ANSI-safe where sum overflows; equal signatures
    // across a round ⇒ fixpoint, collision odds ~2⁻¹²⁸) rides the round's
    // WRITE action via Dataset.observe (CollectMetrics) instead of a
    // separate aggregation job over the written files — one Spark job per
    // round, not two, and job overhead dominates at small edge counts
    def persistRound(df: DataFrame, r: Int): (DataFrame, (Long, Long, Long)) = {
      val p = s"$base/round-$r"
      val obs = new org.apache.spark.sql.Observation(s"ccomp-sig-$r-${System.nanoTime}")
      df.observe(obs, count(lit(1)).as("n"),
          expr("bit_xor(xxhash64(u, v))").as("x1"),
          expr("bit_xor(xxhash64(1L, u, v))").as("x2"))
        .write.mode("overwrite").parquet(p)
      // superseded round: r was computed wholly from r−1, so r−1's files
      // are dead the moment r's write commits
      if (r > 0) {
        val prev = new org.apache.hadoop.fs.Path(s"$base/round-${r - 1}")
        prev.getFileSystem(s.sparkContext.hadoopConfiguration).delete(prev, true)
      }
      val m = obs.get
      val sig = (m("n").asInstanceOf[Long],
        Option(m("x1")).map(_.asInstanceOf[Long]).getOrElse(0L),
        Option(m("x2")).map(_.asInstanceOf[Long]).getOrElse(0L))
      (s.read.parquet(p), sig)
    }
    var (edges, sig) = persistRound(pairs
      .filter(col("doc_a") =!= col("doc_b"))
      .select(greatest(col("doc_a"), col("doc_b")).as("u"),
        least(col("doc_a"), col("doc_b")).as("v"))
      .distinct(), 0)
    var converged = false
    var rounds = 0
    val maxRounds = 60 // safety only: O(log n) rounds can't reach this
    while (!converged && rounds < maxRounds) {
      val (next, nsig) = persistRound(smallStar(largeStar(edges)), rounds + 1)
      converged = nsig == sig
      edges = next
      sig = nsig
      rounds += 1
    }
    // a partially contracted edge set is WRONG, not approximate — fail
    // loudly instead of returning non-minimal roots
    if (!converged) throw new IllegalStateException(
      s"connected components did not converge within $maxRounds " +
        "large-star/small-star rounds")
    // fixpoint edges are (node, component-min) stars; nodes that appear
    // only as roots (or only in self-loops) label themselves
    val nodes = pairs.select(col("doc_a").as("doc_id"))
      .unionByName(pairs.select(col("doc_b").as("doc_id"))).distinct()
    nodes.join(edges.select(col("u").as("doc_id"), col("v").as("root")),
        Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("root"), col("doc_id")).as("cluster_root"))
      .orderBy("doc_id")
  }

  def clustersOracle(threshold: Double = 0.9): String = shingleCte + s"""
, dup AS (
  SELECT doc_a, doc_b FROM pairs
  WHERE round(inter * 1.0 / (ma + mb - inter), 6) >= $threshold),
edges AS (SELECT doc_a AS a, doc_b AS b FROM dup
          UNION SELECT doc_b, doc_a FROM dup),
reach AS (
  WITH RECURSIVE r(n, m) AS (
    SELECT a, a FROM edges
    UNION
    SELECT r.n, e.b FROM r JOIN edges e ON r.m = e.a)
  SELECT n, m FROM r)
SELECT n AS doc_id, min(m) AS cluster_root
FROM reach GROUP BY n ORDER BY doc_id"""

  // ---- embedding cosine near-dup (exact baseline) ----

  /** All embedding pairs with cosine ≥ `threshold`, as a distributed
    * block-pair cross product. The corpus is split into hash blocks of
    * ~`blockRows` vectors; every unordered block pair (i ≤ j) becomes one
    * task that holds exactly two blocks in memory and tight-loops the
    * cosine math, emitting only above-threshold pairs. Nothing is
    * collected to the driver and nothing is broadcast — each row is
    * shuffled `numBlocks` times (n·B rows total, the minimum replication
    * any exact all-pairs scheme needs), task memory is bounded by
    * 2·blockRows vectors regardless of corpus size, and no n² joined rows
    * are ever materialized (a DataFrame self-join builds an UnsafeRow per
    * pair, each dragging both 512-byte vectors — measured 2 GB of GC churn
    * at sf0.1). The O(n²) COMPUTE is inherent to exact all-pairs; beyond
    * that, the LSH/IVF bucketed paths (Similarity.annLshTopK) take over.
    *
    * Blocks are assigned by a deterministic executor-side hash of vec_id
    * (splitmix64): uniform balance with NO boundary-estimation pass and no
    * driver-side state beyond the single count that sizes numBlocks. Each
    * unordered id pair {a,b} lands in exactly one block pair, and the pair
    * is emitted as (min, max), matching the oracle's vec_a < vec_b.
    *
    * Double math is the same sequence as the oracle's (ascending-index dot,
    * sqrt norms, divide, round 6), so results stay bitwise identical.
    *
    * Corpus budget: the block product bounds MEMORY, but the O(n²)
    * compute is inherent — the cold gate measured 443 s at sf10 (200k
    * vectors) and grows quadratically, like an unsampled exact ANN
    * anchor. Once the corpus exceeds [[CosineSampleCap]] the
    * gate pairs only a seeded md5-ordered sample of that size: exact
    * within the sample (sample-then-pair ≡ pair-then-filter-both-ends,
    * so the oracle states the identical sample), O(n log cap) selection
    * + constant pair work at any scale, `sample_n` in the schema so a
    * result can't detach from its support. Every driver-scale corpus is
    * under the cap, so those gates stay byte-identical (modulo the new
    * column); full exactness at scale is the LSH path's recall contract
    * (SimilaritySpec planted clusters), not an all-pairs scan. */
  /** Block count for [[cosinePairs]]. Cap block size by ~n/parallelism:
    * with the default 64k blockRows a corpus under 64k vectors would
    * collapse to numBlocks=1 — a single task doing all n² work. Small
    * corpora still fan out; large corpora keep the replication factor
    * (n·B) bounded by the configured blockRows. The 256 floor stops a
    * tiny corpus from sharding into hundreds of near-empty groups. */
  private[graft] def cosineNumBlocks(n: Long, blockRows: Int, parallelism: Int): Int = {
    val eff = math.max(256L,
      math.min(blockRows.toLong, math.ceil(n.toDouble / parallelism).toLong))
    math.max(1, math.ceil(n.toDouble / eff).toInt)
  }

  /** Deterministic uniform block assignment (splitmix64 finalizer of the
    * id) — computed executor-side, no driver state, balanced for ANY id
    * distribution. */
  private[graft] def blockOfId(id: Long, numBlocks: Int): Int = {
    var z = id + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z = z ^ (z >>> 31)
    java.lang.Math.floorMod(z, numBlocks.toLong).toInt
  }

  // memoized per (session, dataset, params): repeat invocations (bench
  // passes, specs, clusters) must not stack fresh persist() entries
  private val cosineCache = graft.util.SessionCaches.memo[(Double, Int)]("dedup.cosine")

  def cosinePairs(s: SparkSession, d: String, threshold: Double = 0.4,
      blockRows: Int = 1 << 16): DataFrame =
    cosineCache(s, d, (threshold, blockRows))(
      cosinePairsUncached(s, d, threshold, blockRows))

  /** Above this corpus size the exact gate pairs a seeded sample (see the
    * [[cosinePairs]] doc): 32k vectors ≈ 5·10⁸ candidate pairs — bounded
    * pair work forever, still a statistically dense exactness anchor. */
  val CosineSampleCap: Int = 1 << 15

  private[graft] def cosinePairsUncached(s: SparkSession, d: String, threshold: Double,
      blockRows: Int, cap: Int = CosineSampleCap): DataFrame = {
    import s.implicits._
    val full = Tables.fanout(s, Tables.embeddings(s, d))
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .as[(Long, Array[Double])]
      // count + the pair flatMap are two actions over the same narrow
      // projection; cache it once instead of rescanning the source
      .persistOnce()
    val nFull = full.count()
    // seeded corpus budget: md5-ordered top-cap is a TakeOrderedAndProject
    // (per-partition top-k, never a full sort); the 32k-id list broadcasts
    // at ~256 KB. Below the cap the branch is a no-op and the plan keeps
    // the broadcast-free block-product shape ExtensionsSpec pins.
    val emb =
      if (nFull <= cap) full
      else {
        val ids = full.toDF("vec_id", "v")
          .select(col("vec_id"), md5(col("vec_id").cast("string")).as("__ord"))
          .orderBy(col("__ord"), col("vec_id")).limit(cap)
          .select("vec_id")
        full.toDF("vec_id", "v").join(broadcast(ids), "vec_id")
          .as[(Long, Array[Double])]
      }
    val n = math.min(nFull, cap.toLong)
    val numBlocks = cosineNumBlocks(n, blockRows, s.sparkContext.defaultParallelism)
    def sortedNormed(m: Array[(Long, Array[Double])]): (Array[(Long, Array[Double])], Array[Double]) = {
      val sorted = m.sortBy(_._1)
      val nrm = sorted.map { case (_, v) =>
        var sq = 0.0; var k = 0
        while (k < v.length) { sq += v(k) * v(k); k += 1 }
        math.sqrt(sq)
      }
      (sorted, nrm)
    }
    emb.flatMap { case (id, v) =>
      val b = blockOfId(id, numBlocks)
      // this row is side 0 of pairs (b, j≥b) and side 1 of pairs (i<b, b)
      (b until numBlocks).iterator.map(j => (b, j, 0.toByte, id, v)) ++
        (0 until b).iterator.map(i => (i, b, 1.toByte, id, v))
    }
      .groupByKey(t => (t._1, t._2))
      .flatMapGroups { (key: (Int, Int), rows: Iterator[(Int, Int, Byte, Long, Array[Double])]) =>
        val (i, j) = key
        val buf = rows.toArray
        val (left, ln) = sortedNormed(buf.filter(_._3 == 0).map(t => (t._4, t._5)))
        val (right, rn) =
          if (i == j) (left, ln) else sortedNormed(buf.filter(_._3 == 1).map(t => (t._4, t._5)))
        val out = scala.collection.mutable.ArrayBuffer[(Long, Long, Double)]()
        var a = 0
        while (a < left.length) {
          val (aId, av) = left(a)
          // i == j: ascending-sorted block, start at a+1 ⇒ aId < bId.
          // i < j: blocks are disjoint id sets, every cross pair once;
          // emit as (min, max) below to match the oracle's vec_a < vec_b.
          var bi = if (i == j) a + 1 else 0
          while (bi < right.length) {
            val (bId, bv) = right(bi)
            var dotv = 0.0; var k = 0
            val nn = math.min(av.length, bv.length)
            while (k < nn) { dotv += av(k) * bv(k); k += 1 }
            // same rounding path as Spark's round()/DuckDB's round (decimal
            // HALF_UP via the canonical string repr) — math.rint(x*1e6) can
            // flip boundary values through binary multiply error
            val cos = java.math.BigDecimal.valueOf(dotv / (ln(a) * rn(bi)))
              .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
            if (cos >= threshold)
              out += ((math.min(aId, bId), math.max(aId, bId), cos))
            bi += 1
          }
          a += 1
        }
        out.iterator
      }
      .toDF("vec_a", "vec_b", "cosine")
      .withColumn("sample_n", lit(n))
      // persist the (small: above-threshold only) pair set before the
      // deterministic sort: orderBy's range-partitioner runs a sampling
      // job over its child, which would otherwise re-execute the whole
      // O(n²) pair computation a second time
      .persistOnce()
      .orderBy("vec_a", "vec_b")
  }

  /** LSH-bucketed embedding near-dup — the sublinear scale path that the
    * exact [[cosinePairs]] block product defers to: vectors are bucketed
    * by the sign pattern of Similarity's pinned hyperplanes (both
    * tables), candidate pairs come from same-bucket plus Hamming-1-probe
    * collisions, and only candidates get the exact cosine check. Cost is
    * O(n · tables · (bits+1)) candidate lookups instead of O(n²).
    * Approximate — a pair can miss every table — but DETERMINISTIC, so
    * the oracle mirrors the bucketing bit-for-bit (same plane literals as
    * the ANN oracle) and hash-checks the whole pipeline; the recall
    * contract on planted near-dup structure lives in SimilaritySpec. */
  def cosinePairsLsh(s: SparkSession, d: String, threshold: Double = 0.5): DataFrame = {
    import Similarity.NumTables
    // adaptive resolution: bits grow with the corpus so expected bucket
    // occupancy stays ~TargetBucket and pair work stays LINEAR in n (the
    // sf1 self-measurement caught the fixed-bits quadratic — see
    // Similarity's adaptive-resolution note). count() on the raw parquet
    // is a metadata-only job; the oracle mirrors the integer thresholds.
    val effBits = Similarity.effBitsFor(Tables.embeddings(s, d).count())
    val emb0 = Tables.fanout(s, Tables.embeddings(s, d))
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("nrm", sqrt(graft.functions.GraftFunctions.arrayDot(s, col("v"), col("v"))))
    val emb = (0 until NumTables).foldLeft(emb0) { (df, t) =>
      df.withColumn(s"b$t", Similarity.bucketOfAdaptive(s, col("v"), t, effBits))
    }
    val bucketArr = array((0 until NumTables).map(t => col(s"b$t")): _*)
    // Score INSIDE the bucket join and project the vectors away in the
    // same operator — distinct-ing the candidate ids first and re-joining
    // both 512-byte vectors after materializes ~1 KB per CANDIDATE row:
    // at 200k vectors (sf10) that is a >70 GB spill before any filtering.
    // Here every post-join row is 24 bytes (ids + cosine), the threshold
    // filter runs before the distinct, and a multi-table duplicate
    // collision merely recomputes one 64-mult dot — the right trade at
    // any scale.
    val side = emb.select(col("vec_id"), col("v"), col("nrm"),
      posexplode(bucketArr).as(Seq("tbl", "bucket")))
    val probes = array((lit(0) +: (0 until effBits).map(b => lit(1 << b))): _*)
    val probed = side.select(col("vec_id"), col("v"), col("nrm"), col("tbl"),
      explode(probes).as("flip"), col("bucket"))
      .withColumn("probe_bucket", col("bucket").bitwiseXOR(col("flip")))
    probed.select(col("vec_id").as("vec_a"), col("v").as("va"),
        col("nrm").as("na"), col("tbl"), col("probe_bucket").as("bucket"))
      .join(side.select(col("vec_id").as("vec_b"), col("v").as("vb"),
        col("nrm").as("nb"), col("tbl"), col("bucket")), Seq("tbl", "bucket"))
      .filter(col("vec_a") < col("vec_b"))
      .select(col("vec_a"), col("vec_b"),
        round(graft.functions.GraftFunctions.arrayDot(s, col("va"), col("vb")) /
          (col("na") * col("nb")), 6).as("cosine"))
      .filter(col("cosine") >= threshold)
      .dropDuplicates("vec_a", "vec_b") // collisions carry identical cosines
      .orderBy("vec_a", "vec_b")
  }

  /** Shared SQL prelude for the adaptive-LSH candidate set — the CTE
    * chain `emb → params → b → side → probed → cand` mirroring
    * [[cosinePairsLsh]] bit-for-bit: the full MaxBits bucket masked down
    * to the count-derived resolution, probes limited to the live bits. */
  private def lshCandidateCtes(): String = {
    import Similarity.{MaxBits, NumTables}
    val bCols = (0 until NumTables)
      .map(t => s"((${Similarity.bucketCasesSqlAdaptive(t)}) & ((1 << p.effbits) - 1)) AS b$t")
      .mkString(",\n  ")
    val sideUnion = (0 until NumTables)
      .map(t => s"SELECT vec_id, $t AS tbl, b$t AS bucket FROM b")
      .mkString("\nUNION ALL ")
    s"""emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
params AS (SELECT ${Similarity.effBitsSql} AS effbits
           FROM (SELECT count(*) AS c FROM embeddings)),
b AS (SELECT vec_id, v,
  $bCols
  FROM emb, params p),
side AS ($sideUnion),
probed AS (
  SELECT vec_id, tbl, xor(bucket, f.flip) AS bucket
  FROM side CROSS JOIN (VALUES (0)${(0 until MaxBits).map(x => s", (${1 << x})").mkString}) AS f(flip), params p
  WHERE f.flip < (1 << p.effbits)),
cand AS (
  SELECT DISTINCT p.vec_id AS vec_a, s.vec_id AS vec_b
  FROM probed p JOIN side s ON p.tbl = s.tbl AND p.bucket = s.bucket
  WHERE p.vec_id < s.vec_id)"""
  }

  def cosinePairsLshOracle(threshold: Double = 0.5): String = {
    s"""
WITH ${lshCandidateCtes()}
SELECT c.vec_a, c.vec_b,
       round(list_cosine_similarity(a.v, bb.v), 6) AS cosine
FROM cand c JOIN emb a ON a.vec_id = c.vec_a JOIN emb bb ON bb.vec_id = c.vec_b
WHERE round(list_cosine_similarity(a.v, bb.v), 6) >= $threshold
ORDER BY vec_a, vec_b"""
  }

  /** The oracle states the identical seeded sample (md5 of the decimal
    * rendering — the engine-neutral shuffle the ANN budgets use): per-pair
    * results are independent, so sample-then-pair ≡ pair-then-filter-both-
    * endpoints, and at oracle scale (≤ cap) the sample is the whole corpus. */
  def cosinePairsOracle(threshold: Double = 0.4): String = s"""
WITH smp AS (
  SELECT vec_id FROM embeddings
  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT $CosineSampleCap),
e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
  WHERE vec_id IN (SELECT vec_id FROM smp))
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       round(list_cosine_similarity(a.v, b.v), 6) AS cosine,
       CAST((SELECT count(*) FROM smp) AS BIGINT) AS sample_n
FROM e a JOIN e b ON a.vec_id < b.vec_id
WHERE round(list_cosine_similarity(a.v, b.v), 6) >= $threshold
ORDER BY vec_a, vec_b"""

  // ---- end-to-end semantic dedup funnel ----

  /** The full semantic-dedup pipeline a training corpus runs, composed
    * from the already-gated stages: LSH-bucketed cosine candidate pairs
    * ([[cosinePairsLsh]], never all-pairs) → distributed connected
    * components ([[clustersFromPairs]]) → ONE quality-chosen survivor per
    * semantic cluster (the [[graft.ops.CorpusOps.keepBest]] rule, on the
    * 1:1 doc for each vector). Singletons survive as their own cluster.
    * Output: one row per cluster with its size, the kept doc and its
    * quality score — i.e. the deduplicated corpus manifest. The oracle
    * restates the whole funnel (pinned LSH planes → recursive closure →
    * quality argmax), so the COMPOSED semantics are hash-checked. */
  // the semantic cluster labels are the same session-artifact shape as
  // [[clusters]]': computed once per (corpus, threshold), read by every
  // downstream consumer
  private val semanticLabelCache = graft.util.SessionCaches.memo[Double]("dedup.semanticLabels")

  def semanticDedup(s: SparkSession, d: String, threshold: Double = 0.5): DataFrame = {
    val labels = semanticLabelCache(s, d, threshold) {
      // stored like [[clusters]]': the LSH pair scan + CC loop run once
      // per corpus version; cold sessions read the label parquet
      val base = graft.util.SilverArtifact.pathFor(d, s"semantic_labels_$threshold")
      val fp = graft.util.SilverArtifact.sourceFingerprint(
        s"$d/embeddings.parquet",
        s"semcc-v3-pfxlsh-t${Similarity.NumTables}mb${Similarity.MaxBits}" +
          s"tb${Similarity.TargetBucket}-t$threshold")
      graft.util.SilverArtifact.getOrBuild(s, base, fp) {
        clustersFromPairs(cosinePairsLsh(s, d, threshold)
          .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b")))
      }
        .persistOnce()
    }
    val allIds = Tables.embeddings(s, d).select(col("vec_id").as("doc_id"))
    val labeled = allIds.join(labels, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("cluster_root"), col("doc_id")).as("cluster_root"))
    val ws = split(col("text"), " ")
    val alpha = length(col("text")) - length(regexp_replace(col("text"), "[a-zA-Z]", ""))
    val stops = size(filter(ws, w => w.isInCollection(TextOps.stopwords("en"))))
    val q = round(least(size(ws).cast("double") / 100, lit(1.0)) * 0.4 +
      (alpha.cast("double") / length(col("text"))) * 0.4 +
      least(stops.cast("double") / size(ws) * lit(5.0), lit(1.0)) * 0.2, 6)
    val quality = Tables.documents(s, d).select(col("doc_id"), q.as("q"))
    labeled.join(quality, "doc_id")
      .groupBy("cluster_root")
      .agg(count(lit(1)).as("n_members"),
        max(struct(col("q"), (-col("doc_id")).as("neg_id"))).as("best"))
      .select(col("cluster_root"), col("n_members"),
        (-col("best.neg_id")).as("keep_id"), col("best.q").as("keep_q"))
      .orderBy("cluster_root")
  }

  def semanticDedupOracle(threshold: Double = 0.5): String = {
    val stopList = TextOps.stopwords("en").map(w => s"'$w'").mkString(", ")
    s"""
WITH RECURSIVE ${lshCandidateCtes()},
dup AS (
  SELECT c.vec_a AS doc_a, c.vec_b AS doc_b
  FROM cand c JOIN emb a ON a.vec_id = c.vec_a JOIN emb bb ON bb.vec_id = c.vec_b
  WHERE round(list_cosine_similarity(a.v, bb.v), 6) >= $threshold),
edges AS (SELECT doc_a AS a, doc_b AS b FROM dup
          UNION SELECT doc_b, doc_a FROM dup),
r(n, m) AS (
  SELECT a, a FROM edges
  UNION
  SELECT r.n, e.b FROM r JOIN edges e ON r.m = e.a),
roots AS (SELECT n AS doc_id, min(m) AS cluster_root FROM r GROUP BY n),
lab AS (
  SELECT e.vec_id AS doc_id, COALESCE(ro.cluster_root, e.vec_id) AS cluster_root
  FROM emb e LEFT JOIN roots ro ON ro.doc_id = e.vec_id),
quality AS (
  SELECT doc_id,
         round(least(len(string_split(text, ' ')) / 100.0, 1.0) * 0.4 +
           ((len(text) - len(regexp_replace(text, '[a-zA-Z]', '', 'g'))) * 1.0
             / len(text)) * 0.4 +
           least(len(list_filter(string_split(text, ' '), w -> w IN ($stopList)))
             * 1.0 / len(string_split(text, ' ')) * 5.0, 1.0) * 0.2, 6) AS q
  FROM documents),
ranked AS (
  SELECT l.cluster_root, l.doc_id, qu.q,
         row_number() OVER (PARTITION BY l.cluster_root
           ORDER BY qu.q DESC, l.doc_id ASC) AS rn,
         count(*) OVER (PARTITION BY l.cluster_root) AS n_members
  FROM lab l JOIN quality qu USING (doc_id))
SELECT cluster_root, n_members, doc_id AS keep_id, q AS keep_q
FROM ranked WHERE rn = 1 ORDER BY cluster_root"""
  }

  // ---- registration ----

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_exact"         -> (exact _),
    "dedup_ngram_jaccard" -> ((s: SparkSession, d: String) => ngramJaccard(s, d)),
    "dedup_minhash_lsh"   -> ((s: SparkSession, d: String) => minhashLsh(s, d)),
    "dedup_incremental_minhash" -> ((s: SparkSession, d: String) => minhashIncremental(s, d)),
    "dedup_simhash"       -> (simhash _),
    "dedup_simhash_pairs" -> ((s: SparkSession, d: String) => simhashPairs(s, d)),
    "dedup_cosine"        -> ((s: SparkSession, d: String) => cosinePairs(s, d)),
    "dedup_cosine_lsh"    -> ((s: SparkSession, d: String) => cosinePairsLsh(s, d, threshold = 0.4)),
    "dedup_clusters"      -> ((s: SparkSession, d: String) => clusters(s, d)),
    "dedup_semantic"      -> ((s: SparkSession, d: String) => semanticDedup(s, d))
  )

  val oracleSql: Map[String, String] = Map(
    "dedup_exact"         -> exactOracle,
    "dedup_ngram_jaccard" -> ngramJaccardOracle(),
    "dedup_minhash_lsh"   -> ngramJaccardOracle(0.9),
    "dedup_incremental_minhash" -> minhashIncrementalOracle(),
    "dedup_simhash"       -> simhashOracle,
    "dedup_simhash_pairs" -> simhashPairsOracle(),
    "dedup_cosine"        -> cosinePairsOracle(),
    "dedup_cosine_lsh"    -> cosinePairsLshOracle(threshold = 0.4),
    "dedup_clusters"      -> clustersOracle(),
    "dedup_semantic"      -> semanticDedupOracle()
  )
}
