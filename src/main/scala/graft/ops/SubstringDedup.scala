package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.util.SessionCaches.PersistOnce

/** Exact substring-level duplicate detection — the "documents sharing a
  * long verbatim passage" operator from the public deduplicating-training-
  * data recipe (Lee et al. 2021 use suffix arrays on a single node; the
  * distributed re-expression below is anchor-gram bucketing):
  *
  * every document emits its stride-1 windows of L consecutive words
  * ("anchor grams", hashed); a common substring of m ≥ L words between two
  * documents is EXACTLY a run of m−L+1 consecutive matches along one
  * alignment diagonal (ia − jb constant), so grouping gram matches by
  * (pair, diagonal) and measuring the longest consecutive-position island
  * recovers the true longest-common-substring length — no approximation,
  * and the pair candidates come only from shared-gram buckets, never an
  * all-pairs product.
  *
  * Scale shape: the gram generate is linear in corpus tokens (stride 1 is
  * the price of exactness — cf. [[TokenOps.spanDedup]]'s disjoint spans for
  * the cheap profiling variant); grams shuffle as 16-byte hashes; the
  * bucket self-join only ever pairs rows sharing a gram hash, and grams
  * occurring in more than `maxDf` distinct documents are dropped before
  * the join — the same hot-key defuse as [[Dedup.minhashLsh]]'s shingle
  * DF cap, which bounds any bucket's pair fan-out at maxDf² instead of
  * letting one viral sentence go quadratic. Such ultra-common grams are
  * template text by definition (that detector is [[Boilerplate]]); runs
  * anchored only by them go unreported, so lcs_words is exact for every
  * pair whose overlap contains at least one sub-cap anchor — at the
  * fixture scale no gram comes near the cap and the result is exact
  * everywhere, which the DuckDB oracle (identical cap) certifies.
  * Mirrors the reference's dedup surface (gravity-books has no curation
  * ops; SURVEY.md §2 extension mandate).
  */
object SubstringDedup {

  /** Grams in more distinct docs than this never anchor a pair — the
    * quadratic-bucket guard. 64² candidate pairs per degenerate gram is
    * the worst case a single shuffle key can produce. */
  val MaxGramDf = 64

  // the capped gram table feeds the hot-list aggregate AND both sides of
  // the self-join — memoized + persisted per (session, dataset, L) like
  // Dedup.shingleTable, so one materialization serves up to 4 plan
  // references (and repeat bench passes). At 100 TB this table is the
  // stored artifact a real pipeline writes once per corpus version.
  private val gramCache = graft.util.SessionCaches.memo[Int]("substring.grams")

  /** Document pairs sharing a verbatim run of ≥ `L` words, with the exact
    * longest shared run length and the supporting anchor-match count. */
  def substringPairs(s: SparkSession, d: String, L: Int = 12): DataFrame = {
    val grams = gramCache(s, d, L) {
      // the shingleTable build discipline (Dedup.scala): persist the raw
      // generate (it feeds the hot-list aggregate AND the anti-join),
      // materialize the capped table, release the intermediate — one
      // O(n) Generate pass total, cache lifetime = session (same
      // contract as shingleCache/knnCache: a bench or notebook session
      // reuses it; batch jobs die with the JVM)
      val raw = rawGrams(Tables.fanout(s, Tables.documents(s, d)), L)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val capped = capGrams(raw, MaxGramDf)
        .persistOnce()
      capped.count()
      raw.unpersist()
      capped
    }
    pairsFromGrams(grams, L)
  }

  /** Core over any (doc_id, text) frame — parameterized so specs can plant
    * known overlaps (cross-checked against a brute-force LCS) and hot
    * grams past a tiny `maxDf` to observe the cap. Unmemoized. */
  def substringPairsFrom(docs: DataFrame, L: Int,
      maxDf: Int = MaxGramDf): DataFrame =
    pairsFromGrams(capGrams(rawGrams(docs, L), maxDf), L)

  /** Raw anchor-gram table (doc_id, pos, h1, h2): one O(n) Generate per
    * document via the custom Rabin-Karp UDTF
    * ([[graft.functions.RollingHashWindows]]): each word hashed once,
    * two 2⁶⁴-ring polynomial accumulators slide — versus slice + concat
    * + md5 re-touching every word L times. The (h1, h2) pair is the gram
    * identity downstream (128-bit-equivalent, collision odds birthday
    * 2¹²⁸ ≈ 0); the DuckDB oracle keeps md5 digests for the same grams —
    * both sides are collision-free injections of the word run, so the
    * PAIR output they derive is identical even though the digests differ. */
  private def rawGrams(docs: DataFrame, L: Int): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    docs.select(col("doc_id"),
      expr(s"rolling_hash_windows(text, $L)").as(Seq("pos", "h1", "h2")))
  }

  /** Hot-gram defuse: one distinct-doc count per digest, anti-join the
    * degenerate tail out before anything can pair on it. */
  private def capGrams(raw: DataFrame, maxDf: Int): DataFrame = {
    val hot = raw.groupBy("h1", "h2")
      .agg(countDistinct("doc_id").as("ndocs"))
      .filter(col("ndocs") > maxDf)
      .select("h1", "h2")
    raw.join(hot, Seq("h1", "h2"), "left_anti")
  }

  private def pairsFromGrams(grams: DataFrame, L: Int): DataFrame = {
    val matches = grams
      .select(col("doc_id").as("doc_a"), col("pos").as("ia"), col("h1"), col("h2"))
      .join(grams.select(col("doc_id").as("doc_b"), col("pos").as("jb"),
        col("h1"), col("h2")), Seq("h1", "h2"))
      .filter(col("doc_a") < col("doc_b"))
      .withColumn("diag", col("ia") - col("jb"))
    // islands of consecutive ia along a diagonal: a shared substring of
    // m words is a run of m−L+1 matches, so run + L − 1 = its exact length
    val w = Window.partitionBy("doc_a", "doc_b", "diag").orderBy("ia")
    val runs = matches
      .withColumn("isl", col("ia") - row_number().over(w))
      .groupBy("doc_a", "doc_b", "diag", "isl")
      .agg((count(lit(1)) + lit(L - 1)).as("run_words"))
    runs.groupBy("doc_a", "doc_b")
      .agg(max("run_words").as("lcs_words"),
        sum(col("run_words") - lit(L - 1)).as("n_anchor_matches"))
      .orderBy("doc_a", "doc_b")
  }

  def substringPairsOracle(L: Int = 12, maxDf: Int = MaxGramDf): String = s"""
WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents
           WHERE len(string_split(text, ' ')) >= $L),
g0 AS (SELECT doc_id, CAST(u.i AS BIGINT) AS pos,
        md5(array_to_string(ws[(CAST(u.i AS INT) + 1):(CAST(u.i AS INT) + $L)], ' ')) AS gh
      FROM w, UNNEST(range(len(ws) - ${L - 1})) AS u(i)),
g AS (SELECT * FROM g0 WHERE gh NOT IN (
        SELECT gh FROM g0 GROUP BY gh
        HAVING count(DISTINCT doc_id) > $maxDf)),
m AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.pos AS ia,
             a.pos - b.pos AS diag
      FROM g a JOIN g b ON a.gh = b.gh AND a.doc_id < b.doc_id),
r AS (SELECT doc_a, doc_b, count(*) + ${L - 1} AS run_words
      FROM (SELECT *, ia - row_number() OVER (
              PARTITION BY doc_a, doc_b, diag ORDER BY ia) AS isl FROM m)
      GROUP BY doc_a, doc_b, diag, isl)
SELECT doc_a, doc_b, CAST(max(run_words) AS BIGINT) AS lcs_words,
       CAST(sum(run_words - ${L - 1}) AS BIGINT) AS n_anchor_matches
FROM r GROUP BY doc_a, doc_b ORDER BY doc_a, doc_b"""

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_substring" -> ((s: SparkSession, d: String) => substringPairs(s, d))
  )

  val oracleSql: Map[String, String] = Map(
    "dedup_substring" -> substringPairsOracle()
  )
}
