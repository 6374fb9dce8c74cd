package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.util.{SessionCaches, SilverArtifact}

/** Positional inverted index over the `documents` corpus — the retrieval
  * structure the tf-idf / BM25 family ([[CorpusOps]] `sparse_retrieval`,
  * `bm25_rank`) cannot express: POSITIONS. A posting here is `(term,
  * doc_id, pos)`, which turns phrase search ("these words, adjacent, in
  * order") and proximity search ("these words within a window") into
  * equi-joins on `(doc_id, pos + offset)` — no regex over raw text, no
  * document scan at query time.
  *
  * The reference engine has no search operator at all (its text columns
  * are only filtered with SQL LIKE — test_queries/test_queries.py); this is
  * part of the beyond-reference LLM-curation surface, where phrase-level
  * exact match is the standard probe for benchmark contamination and
  * memorized-span detection (complementing [[CorpusOps]]'s hashed n-gram
  * `contamination_ngrams`, which can only test FIXED n — a positional
  * index answers any phrase length with the same artifact).
  *
  * 100-TB shape: the index is built ONCE per source version (one
  * posexplode pass, one shuffle into term-ordered parquet) and persisted
  * through [[SilverArtifact]]; queries touch only the postings of the
  * query terms — the parquet scan is min/max-prunable on `term` because
  * the artifact is written term-sorted (range-partitioned then sorted
  * within partitions), so a k-term phrase reads k slivers of the index,
  * never the corpus. Phrase matching is then k-1 self-equi-joins on
  * `(doc_id, pos)` over candidate postings whose combined size is the
  * selectivity of the rarest term — the classic Lucene cost model,
  * re-expressed as Spark joins.
  */
object InvertedIndex {

  /** Tokenization contract (shared with the oracle CTE): documents are
    * single-space-joined lowercase words, so `split(text, ' ')` with
    * 1-based positions IS the token stream. */
  private def postingsOf(s: SparkSession, docs: DataFrame): DataFrame =
    Tables.fanout(s, docs)
      .select(col("doc_id"), posexplode(split(col("text"), " ")))
      .select(col("col").as("term"), col("doc_id"),
        (col("pos") + 1).cast("long").as("pos"))

  private def postings(s: SparkSession, d: String): DataFrame =
    postingsOf(s, Tables.documents(s, d))

  private val indexMemo = SessionCaches.memo[Unit]("inverted_index.postings")

  /** The stored index: `(term, doc_id, pos)` term-range-partitioned and
    * sorted within partitions, so every parquet footer carries a tight
    * `term` min/max — a query-term filter prunes to the posting sliver.
    * Built once per SOURCE VERSION (fingerprint-stamped); later sessions
    * read the artifact. */
  def indexTable(s: SparkSession, d: String): DataFrame =
    indexMemo(s, d) {
      val base = SilverArtifact.pathFor(d, "inverted_index")
      val fp = SilverArtifact.sourceFingerprint(
        s"$d/documents.parquet", "invidx-v1-pos1")
      SilverArtifact.getOrBuild(s, base, fp) {
        postings(s, d)
          .repartitionByRange(col("term"))
          .sortWithinPartitions("term", "doc_id", "pos")
      }
    }

  /** Docs containing the exact phrase, with occurrence counts: the
    * first-term postings anchor, each later term joins on `(doc_id,
    * anchor_pos + i)`. Postings per term are index slivers (filter pushed
    * to the term-sorted scan); the joins carry only candidate positions. */
  def phraseHits(s: SparkSession, d: String, phrase: String): DataFrame =
    phraseOver(indexTable(s, d), phrase)

  /** The phrase join over an arbitrary postings frame — shared by the
    * stored-index path and the incremental stored∪batch path. */
  private def phraseOver(idx: DataFrame, phrase: String): DataFrame = {
    // split(" ") of "" is Array("") — filter so a blank phrase actually
    // trips the guard instead of running a vacuous term="" scan
    val terms = phrase.split(" ").toSeq.filter(_.nonEmpty)
    require(terms.nonEmpty, "empty phrase")
    val anchor = idx.filter(col("term") === terms.head)
      .select(col("doc_id"), col("pos"))
    val matched = terms.zipWithIndex.tail.foldLeft(anchor) {
      case (acc, (t, i)) =>
        val p = idx.filter(col("term") === t)
          .select(col("doc_id").as("d2"), col("pos").as("p2"))
        acc.join(p, acc("doc_id") === col("d2") && col("p2") === acc("pos") + i)
          .select(acc("doc_id"), acc("pos"))
    }
    matched.groupBy("doc_id").agg(count(lit(1)).as("n_hits"))
  }

  // --------------------------------------------------------------- queries

  /** Gated phrase: 3 distinct words, present at every SF (corpus words
    * draw from a fixed small vocabulary). Distinct words ⇒ occurrences
    * cannot overlap, so the positional count equals any substring count. */
  private val Phrase = "slow hash batch"

  def phraseSearch(s: SparkSession, d: String): DataFrame =
    phraseHits(s, d, Phrase).orderBy("doc_id")

  /** Proximity (sloppy phrase): docs where `termA` and `termB` co-occur
    * within `Window` tokens, counted as ORDERED (a,b) position pairs with
    * 0 < p_b − p_a ≤ Window — the primitive behind "terms near each
    * other" relevance signals. Same index slivers, one band-join. */
  private val TermA = "spark"
  private val TermB = "join"
  private val Window = 5L

  def proximitySearch(s: SparkSession, d: String): DataFrame = {
    val idx = indexTable(s, d)
    val a = idx.filter(col("term") === TermA)
      .select(col("doc_id"), col("pos").as("pa"))
    val b = idx.filter(col("term") === TermB)
      .select(col("doc_id").as("db"), col("pos").as("pb"))
    a.join(b, a("doc_id") === col("db") &&
        col("pb") > col("pa") && col("pb") <= col("pa") + Window)
      .groupBy(a("doc_id")).agg(count(lit(1)).as("n_pairs"),
        min(col("pa")).as("first_pos"))
      .orderBy("doc_id")
  }

  /** INCREMENTAL index maintenance: the daily-ingest shape. The stored
    * index covers the already-ingested corpus (doc_id below the 90%
    * boundary — the [[Dedup]] `dedup_incremental_minhash` convention); a
    * new batch tokenizes ONLY its own documents and the query spans
    * stored ∪ batch postings. Index-update cost is ∝ batch (one
    * posexplode of the new docs, one append to the artifact), never a
    * corpus re-tokenize — and the phrase join is unchanged, because
    * postings are postings wherever they live. `src` labels each hit's
    * provenance so the gate proves BOTH sides answered. */
  private val IncPhrase = "big data"

  def phraseIncremental(s: SparkSession, d: String): DataFrame = {
    val maxId = Tables.documents(s, d).agg(max("doc_id")).head().getLong(0)
    val thr = 9L * maxId / 10
    val stored = indexTable(s, d).filter(col("doc_id") < thr)
    val batch = postingsOf(s, Tables.documents(s, d).filter(col("doc_id") >= thr))
    phraseOver(stored.unionByName(batch), IncPhrase)
      .withColumn("src", when(col("doc_id") < thr, "index").otherwise("batch"))
      .orderBy("doc_id")
  }

  /** Shared oracle token stream: 1-based positions via zipped unnest. */
  private val TokensCte = """WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
t AS (
  SELECT doc_id, unnest(ws) AS term,
         CAST(unnest(generate_series(1, len(ws))) AS BIGINT) AS pos
  FROM w)"""

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "phrase_search" -> (phraseSearch _),
    "proximity_search" -> (proximitySearch _),
    "index_incremental_phrase" -> (phraseIncremental _)
  )

  val oracleSql: Map[String, String] = Map(
    "phrase_search" -> s"""$TokensCte
SELECT t1.doc_id, count(*) AS n_hits
FROM t t1
JOIN t t2 ON t2.doc_id = t1.doc_id AND t2.pos = t1.pos + 1
JOIN t t3 ON t3.doc_id = t1.doc_id AND t3.pos = t1.pos + 2
WHERE t1.term = 'slow' AND t2.term = 'hash' AND t3.term = 'batch'
GROUP BY 1 ORDER BY 1""",
    "proximity_search" -> s"""$TokensCte
SELECT a.doc_id, count(*) AS n_pairs, min(a.pos) AS first_pos
FROM t a JOIN t b ON b.doc_id = a.doc_id
     AND b.pos > a.pos AND b.pos <= a.pos + $Window
WHERE a.term = '$TermA' AND b.term = '$TermB'
GROUP BY 1 ORDER BY 1""",
    "index_incremental_phrase" -> s"""$TokensCte,
thr AS (SELECT 9 * max(doc_id) // 10 AS t FROM documents)
SELECT doc_id, n_hits,
       CASE WHEN doc_id < (SELECT t FROM thr) THEN 'index' ELSE 'batch' END AS src
FROM (
  SELECT t1.doc_id, count(*) AS n_hits
  FROM t t1 JOIN t t2 ON t2.doc_id = t1.doc_id AND t2.pos = t1.pos + 1
  WHERE t1.term = 'big' AND t2.term = 'data'
  GROUP BY 1)
ORDER BY doc_id"""
  )
}
