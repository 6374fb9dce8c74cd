package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.util.SessionCaches.PersistOnce

/** Text-analysis suite over the `documents` table (SURVEY.md §7.5):
  * language-ID heuristic, quality scoring, token counting, and positional
  * document fingerprinting. Every op is a single narrow projection /
  * aggregation — embarrassingly parallel, no shuffle except the final
  * presentation sort, so all four scale linearly with the corpus.
  *
  * All computations are engine-neutral (string splits, regex over simple
  * character classes, md5-derived hashes, double arithmetic in fixed
  * order), so each query has an exact DuckDB oracle.
  */
object TextOps {

  /** Small per-language stopword lists for the n-gram/stopword language
    * heuristic. Deliberately tiny — the heuristic's shape (per-language
    * membership scores + argmax) is what the operator contract is. */
  val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "to", "is", "in", "it"),
    "es" -> Seq("el", "la", "de", "que", "y", "los", "en", "un"),
    "de" -> Seq("der", "die", "das", "und", "ist", "ein", "nicht", "mit"),
    "fr" -> Seq("le", "la", "les", "et", "un", "une", "est", "que"))

  private[graft] def ws: Column = split(col("text"), " ")

  private[graft] def hitCount(lang: String): Column =
    size(filter(ws, w => w.isInCollection(stopwords(lang))))

  private[graft] def hitCountSql(lang: String): String = {
    val list = stopwords(lang).map(w => s"'$w'").mkString(", ")
    s"len(list_filter(string_split(text, ' '), w -> w IN ($list)))"
  }

  /** Language-ID heuristic: stopword-hit score per language, argmax with a
    * fixed precedence order, 'und' (undetermined) when no list hits. */
  def langId(s: SparkSession, d: String): DataFrame = {
    val scores = Seq("en", "es", "de", "fr").map(l => hitCount(l).cast("long").as(s"score_$l"))
    val best = when(
      col("score_en") === 0 && col("score_es") === 0 &&
        col("score_de") === 0 && col("score_fr") === 0, lit("und"))
      .when(col("score_en") >= col("score_es") && col("score_en") >= col("score_de") &&
        col("score_en") >= col("score_fr"), lit("en"))
      .when(col("score_es") >= col("score_de") && col("score_es") >= col("score_fr"), lit("es"))
      .when(col("score_de") >= col("score_fr"), lit("de"))
      .otherwise(lit("fr"))
    Tables.documents(s, d)
      .select(col("doc_id") +: scores: _*)
      .withColumn("predicted_lang", best)
      .orderBy("doc_id")
  }

  val langIdOracle: String = {
    val scores = Seq("en", "es", "de", "fr")
      .map(l => s"${hitCountSql(l)} AS score_$l").mkString(",\n       ")
    s"""
WITH scored AS (
  SELECT doc_id,
       $scores
  FROM documents)
SELECT doc_id, score_en, score_es, score_de, score_fr,
       CASE
         WHEN score_en = 0 AND score_es = 0 AND score_de = 0 AND score_fr = 0 THEN 'und'
         WHEN score_en >= score_es AND score_en >= score_de AND score_en >= score_fr THEN 'en'
         WHEN score_es >= score_de AND score_es >= score_fr THEN 'es'
         WHEN score_de >= score_fr THEN 'de'
         ELSE 'fr'
       END AS predicted_lang
FROM scored ORDER BY doc_id"""
  }

  /** Quality scoring: length/punctuation/stopword/char-class ratios plus a
    * composite score — the standard pre-training corpus filters. */
  def quality(s: SparkSession, d: String): DataFrame = {
    val nWords = size(ws)
    val nChars = length(col("text"))
    val punct = length(col("text")) - length(regexp_replace(col("text"), "[.!?,;:]", ""))
    val alpha = length(col("text")) - length(regexp_replace(col("text"), "[a-zA-Z]", ""))
    val stops = hitCount("en")
    Tables.documents(s, d).select(
      col("doc_id"),
      nWords.cast("long").as("n_words"),
      nChars.cast("long").as("n_chars_measured"),
      round(nChars.cast("double") / nWords, 6).as("avg_word_len"),
      round(punct.cast("double") / nChars, 6).as("punct_ratio"),
      round(alpha.cast("double") / nChars, 6).as("alpha_ratio"),
      round(stops.cast("double") / nWords, 6).as("stop_ratio"),
      // composite: long-enough + alphabetic + some stopwords = likely prose
      round(least(nWords.cast("double") / 100, lit(1.0)) * 0.4 +
        (alpha.cast("double") / nChars) * 0.4 +
        least(stops.cast("double") / nWords * lit(5.0), lit(1.0)) * 0.2, 6)
        .as("quality_score"))
      .orderBy("doc_id")
  }

  val qualityOracle: String = s"""
SELECT doc_id,
       len(string_split(text, ' ')) AS n_words,
       len(text) AS n_chars_measured,
       round(len(text) * 1.0 / len(string_split(text, ' ')), 6) AS avg_word_len,
       round((len(text) - len(regexp_replace(text, '[.!?,;:]', '', 'g')) ) * 1.0 / len(text), 6) AS punct_ratio,
       round((len(text) - len(regexp_replace(text, '[a-zA-Z]', '', 'g')) ) * 1.0 / len(text), 6) AS alpha_ratio,
       round(${hitCountSql("en")} * 1.0 / len(string_split(text, ' ')), 6) AS stop_ratio,
       round(least(len(string_split(text, ' ')) / 100.0, 1.0) * 0.4 +
             ((len(text) - len(regexp_replace(text, '[a-zA-Z]', '', 'g'))) * 1.0 / len(text)) * 0.4 +
             least(${hitCountSql("en")} * 1.0 / len(string_split(text, ' ')) * 5.0, 1.0) * 0.2, 6) AS quality_score
FROM documents ORDER BY doc_id"""

  /** Token counting: whitespace tokens vs a BPE-ish regex tokenizer
    * (alnum runs or single non-space symbols). */
  def tokenCount(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(
      col("doc_id"),
      size(ws).cast("long").as("ws_tokens"),
      size(expr("regexp_extract_all(lower(text), '[a-z0-9]+|[^a-z0-9 ]', 0)"))
        .cast("long").as("re_tokens"))
      .orderBy("doc_id")

  val tokenCountOracle: String = """
SELECT doc_id,
       len(string_split(text, ' ')) AS ws_tokens,
       len(regexp_extract_all(lower(text), '[a-z0-9]+|[^a-z0-9 ]')) AS re_tokens
FROM documents ORDER BY doc_id"""

  /** Positional document fingerprint: sum over positions i of
    * i × h(word_i) where h = first 8 md5 hex chars as int. Order-sensitive
    * (a permuted document fingerprints differently), overflow-free
    * (≤ ~1e14 for any realistic document), and engine-neutral. */
  def fingerprint(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(
      col("doc_id"),
      aggregate(
        transform(ws, (w, i) => (i + 1).cast("long") *
          conv(substring(md5(w), 1, 8), 16, 10).cast("long")),
        lit(0L), _ + _).as("fingerprint"))
      .orderBy("doc_id")

  val fingerprintOracle: String = """
WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
SELECT doc_id,
       CAST(list_sum(list_transform(generate_series(1, len(ws)),
         i -> CAST(i AS BIGINT) * list_sum(list_transform(generate_series(1, 8),
           j -> CAST((strpos('0123456789abcdef', substr(md5(ws[i]), j, 1)) - 1) AS BIGINT)
                * CAST(power(16, 8 - j) AS BIGINT))))) AS BIGINT) AS fingerprint
FROM w ORDER BY doc_id"""

  /** Normalization-aware exact dedup: lowercase, strip punctuation,
    * collapse runs of spaces, trim — then hash-group like Dedup.exact.
    * Catches the case/punctuation/spacing near-copies that raw byte
    * equality misses, at the same one-shuffle-of-16-byte-hashes cost;
    * this normalize-then-hash pass is the standard first stage of a
    * training-corpus dedup cascade (before MinHash handles real edits). */
  def normalizeDedup(s: SparkSession, d: String): DataFrame = {
    val norm = trim(regexp_replace(
      regexp_replace(lower(col("text")), "[.!?,;:]", ""), " +", " "))
    Tables.documents(s, d)
      .groupBy(md5(norm).as("norm_hash"))
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
      .orderBy("keep_id")
  }

  // DuckDB regexp_replace needs the explicit 'g' flag (Spark replaces all
  // occurrences by default)
  val normalizeDedupOracle: String = """
SELECT md5(trim(regexp_replace(regexp_replace(lower(text), '[.!?,;:]', '', 'g'),
                               ' +', ' ', 'g'))) AS norm_hash,
       min(doc_id) AS keep_id, count(*) AS n_copies
FROM documents GROUP BY 1 ORDER BY keep_id"""

  /** End-to-end corpus curation pipeline — the composition every
    * pre-training data pipeline runs, in ONE narrow single-shuffle query:
    * (1) keep exactly one doc per normalized-text group (dedup), (2) keep
    * English-classified docs, (3) keep quality score ≥ 0.5, and report
    * the per-stage survivor counts. Each stage reuses the already-oracled
    * building blocks; the oracle restates the same funnel in SQL, so the
    * composed semantics — not just the parts — are hash-checked. */
  def corpusFilter(s: SparkSession, d: String): DataFrame = {
    val norm = trim(regexp_replace(
      regexp_replace(lower(col("text")), "[.!?,;:]", ""), " +", " "))
    val docs = Tables.documents(s, d)
      .withColumn("norm_hash", md5(norm))
      // dedup: keep the lowest doc_id per normalized group (one window
      // over the hash — the only shuffle in the pipeline)
      .withColumn("dup_rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("norm_hash").orderBy("doc_id")))
    val scored = docs.filter(col("dup_rank") === 1)
      .withColumn("is_en",
        hitCount("en") > greatest(hitCount("es"), hitCount("de"), hitCount("fr")))
      .withColumn("q",
        least(size(ws).cast("double") / 100, lit(1.0)) * 0.4 +
          ((length(col("text")) - length(regexp_replace(col("text"), "[a-zA-Z]", "")))
            .cast("double") / length(col("text"))) * 0.4 +
          least(hitCount("en").cast("double") / size(ws) * lit(5.0), lit(1.0)) * 0.2)
    scored
      .agg(
        count(lit(1)).as("n_deduped"),
        sum(when(col("is_en"), 1L).otherwise(0L)).as("n_english"),
        sum(when(col("is_en") && col("q") >= 0.5, 1L).otherwise(0L)).as("n_kept"))
  }

  val corpusFilterOracle: String = s"""
WITH dedup AS (
  SELECT doc_id, text,
         row_number() OVER (
           PARTITION BY md5(trim(regexp_replace(regexp_replace(lower(text),
             '[.!?,;:]', '', 'g'), ' +', ' ', 'g')))
           ORDER BY doc_id) AS dup_rank
  FROM documents),
scored AS (
  SELECT doc_id,
         ${hitCountSql("en")} > greatest(${hitCountSql("es")},
           ${hitCountSql("de")}, ${hitCountSql("fr")}) AS is_en,
         least(len(string_split(text, ' ')) / 100.0, 1.0) * 0.4 +
           ((len(text) - len(regexp_replace(text, '[a-zA-Z]', '', 'g'))) * 1.0
             / len(text)) * 0.4 +
           least(${hitCountSql("en")} * 1.0 / len(string_split(text, ' ')) * 5.0,
             1.0) * 0.2 AS q
  FROM dedup WHERE dup_rank = 1)
SELECT count(*) AS n_deduped,
       CAST(sum(CASE WHEN is_en THEN 1 ELSE 0 END) AS BIGINT) AS n_english,
       CAST(sum(CASE WHEN is_en AND q >= 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
FROM scored"""

  /** TF-IDF top-5 terms per document. The weighting uses an exact integer
    * rational surrogate for the idf — score = ⌊tf·(N+1)·10^6 / (df+1)⌋ —
    * monotone in tf/(df+1) exactly like smoothed tf·idf but free of
    * transcendental `ln`, whose last-ulp differences between libm
    * implementations would make a cross-engine hash gate flaky (swap
    * `ln((N+1)/(df+1))` in for the classic weighting; the pipeline shape is
    * the operator). Shape at scale: explode is linear; tf aggregates on
    * (doc, term) and df on term — both map-side partial; the tf⋈df join
    * shuffles on term (vocab-sized right side; AQE broadcasts it when it
    * fits); the per-doc ranking window partitions by doc_id, so no global
    * funnel anywhere. */
  def tfidfTopTerms(s: SparkSession, d: String, k: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(s, d)
    val toks = Tables.fanout(s, docs)
      .select(col("doc_id"), explode(split(lower(col("text")), " ")).as("tok"))
      .filter(length(col("tok")) >= 3)
    val tf = toks.groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
    // df(tok) = distinct docs containing tok = rows of tf per tok,
    // computed as an unbounded COUNT WINDOW over tf partitioned by tok
    // — not a SECOND scan+explode+distinct pipeline over the raw token
    // stream, which costs two full-stream exchanges. Deriving df from a
    // tf re-aggregation gets column-pruned back into the distinct shape
    // (the count the pruner drops is exactly what made the exchanges
    // shareable), so the window is the form that provably shuffles the
    // raw stream ONCE and moves only aggregated (doc, tok) rows
    // afterwards. Caveat for 100 TB: the unbounded frame buffers one hot
    // token's (doc, tok) group per task (spillable
    // ExternalAppendOnlyUnsafeRowArray), where a broadcast-join df never
    // buffers — acceptable against halving the dominant raw-token
    // exchange.
    val wDf = Window.partitionBy("tok")
    val nDf = docs.agg(count(lit(1)).as("n"))
    val w = Window.partitionBy("doc_id").orderBy(desc("score_q"), asc("tok"))
    tf.withColumn("df", count(lit(1)).over(wDf))
      .crossJoin(broadcast(nDf))
      .withColumn("score_q", expr("(tf * (n + 1) * 1000000) DIV (df + 1)"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("doc_id"), col("tok"), col("tf"), col("df"),
        col("score_q"), col("rnk").cast("int").as("rnk"))
      .orderBy("doc_id", "rnk")
  }

  val tfidfOracle: String = """
WITH toks AS (
  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok FROM documents),
t AS (SELECT doc_id, tok FROM toks WHERE len(tok) >= 3),
tf AS (SELECT doc_id, tok, count(*) AS tf FROM t GROUP BY 1, 2),
df AS (SELECT tok, count(DISTINCT doc_id) AS df FROM t GROUP BY 1),
n AS (SELECT count(*) AS n FROM documents),
scored AS (
  SELECT tf.doc_id, tf.tok, tf.tf, df.df,
         (tf.tf * (n.n + 1) * 1000000) // (df.df + 1) AS score_q
  FROM tf JOIN df USING (tok) CROSS JOIN n)
SELECT doc_id, tok, tf, df, score_q, rnk FROM (
  SELECT *, CAST(row_number() OVER (PARTITION BY doc_id
              ORDER BY score_q DESC, tok) AS INT) AS rnk
  FROM scored) r
WHERE rnk <= 5
ORDER BY doc_id, rnk"""

  // ----------------------------------------------------------------- BM25

  /** BM25 document retrieval for a fixed 3-term query — the ranking stage
    * of a search/RAG pipeline over the corpus (tf-saturation + length
    * normalization, which plain [[tfidfTopTerms]] lacks). Arithmetic is the
    * project's exact-rational surrogate discipline: with k1 = 6/5 and
    * b = 3/4, the Robertson tf component
    * tf·(k1+1)/(tf + k1·(1−b+b·dl/avgdl)) is EXACTLY
    * 22·tf·S / (10·S·tf + 3·S + 9·dl·N) once avgdl = S/N is cleared of
    * fractions (S = corpus token count, N = docs) — integer-exact at scale
    * 10^4; the idf swaps ln((N−df+½)/(df+½)) for the monotone rational
    * (N−df+1)/(df+1) at the same scale (the [[tfidfTopTerms]] precedent —
    * transcendental last-ulp skew would make the cross-engine hash flaky).
    * Scale shape: the postings build is one explode + two hash-aggs; the
    * query-term filter prunes the postings BEFORE any shuffle (three terms
    * → three posting lists, the inverted-index access path); df and the
    * (S, N) scalars broadcast; the per-doc score is one hash-agg and the
    * answer is a TakeOrderedAndProject top-20 — no global sort, no
    * all-terms score matrix. */
  def bm25Rank(s: SparkSession, d: String): DataFrame = {
    val qTerms = Seq("spark", "vector", "customer")
    val base = Tables.fanout(s, Tables.documents(s, d))
    // doc length = size of the split array — a PROJECTION, not a
    // full-corpus explode + per-doc hash-agg (the exploded token stream
    // never materializes for dl, and no doc-keyed exchange is paid:
    // don't explode what a scalar expression can count).
    // Exactly equal: explode emits one row per split element. The fanout
    // exchange is shared with the hits branch via ReusedExchange.
    // null-text guard as an EXPRESSION, not a Filter: the explode shape
    // emitted no rows for a NULL text, so a null-text doc must stay out of
    // dl/stats here too (none exist in the fixtures; the guard pins the
    // equivalence for any corpus). A Filter node would get pushed below
    // the fanout repartition and make this branch's exchange subtree
    // differ from the hits branch's, defeating the runtime stage reuse
    // that keeps this at ONE corpus scan — a null dl never survives the
    // inner join to tf (a null-text doc has no tokens, hence no tf rows),
    // and sum/count skip nulls, so the expression form is exact.
    val dl = base.select(col("doc_id"),
      when(col("text").isNotNull,
        size(split(lower(col("text")), " ")).cast("long")).as("dl"))
    val stats = dl.agg(sum("dl").as("s_total"), count(col("dl")).as("n_docs"))
    val hits = base
      .select(col("doc_id"), explode(split(lower(col("text")), " ")).as("tok"))
      .filter(col("tok").isin(qTerms: _*))
    val tf = hits.groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
    // df from tf (the tfidfTopTerms rewrite): distinct-doc count per term
    // = rows of tf per term — no second distinct() pipeline over hits
    val dfreq = tf.groupBy("tok").agg(count(lit(1)).as("df"))
    tf.join(broadcast(dfreq), "tok")
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .withColumn("score_q", expr(
        """((n_docs - df + 1) * 10000L DIV (df + 1)) *
          |(22L * tf * s_total * 10000L DIV
          |  (10L * s_total * tf + 3L * s_total + 9L * dl * n_docs))""".stripMargin))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_terms"), sum("score_q").as("score_q"))
      .orderBy(desc("score_q"), col("doc_id"))
      .limit(20)
  }

  val bm25RankOracle: String = """
WITH toks AS (
  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok FROM documents),
dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1),
st AS (SELECT CAST(sum(dl) AS BIGINT) AS s_total, count(*) AS n_docs FROM dl),
q AS (SELECT doc_id, tok FROM toks WHERE tok IN ('spark', 'vector', 'customer')),
tf AS (SELECT doc_id, tok, count(*) AS tf FROM q GROUP BY 1, 2),
df AS (SELECT tok, count(DISTINCT doc_id) AS df FROM q GROUP BY 1),
sc AS (
  SELECT tf.doc_id,
         ((st.n_docs - df.df + 1) * 10000 // (df.df + 1)) *
         (22 * tf.tf * st.s_total * 10000 //
           (10 * st.s_total * tf.tf + 3 * st.s_total + 9 * dl.dl * st.n_docs)) AS score_q
  FROM tf JOIN df USING (tok) JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN st)
SELECT doc_id, count(*) AS n_terms, CAST(sum(score_q) AS BIGINT) AS score_q
FROM sc GROUP BY 1 ORDER BY score_q DESC, doc_id LIMIT 20"""

  // ------------------------------------------------------ sparse retrieval

  /** Doc-to-doc SPARSE lexical retrieval: every 100th document queries
    * the corpus and retrieves its top-5 most similar documents by
    * tf·idf-weighted dot product over SHARED TERMS — the inverted-index
    * third of the retrieval triangle (dense cosine = `dedup_cosine`,
    * term-query ranking = `bm25_rank`). Weights are the exact-integer
    * idf surrogate (tf·(N+1)·10³ DIV (df+1), the [[tfidfTopTerms]]
    * discipline at a smaller scale so pairwise products stay far inside
    * BIGINT), and the ranking is the raw dot product — the
    * norm-free form an inverted index serves without a sqrt. Scale
    * shape: the query-side postings are a 1%-sample — broadcast — so
    * the corpus posting list is probed once per term with NO self-join
    * of the full index; per-(query, doc) partial products merge
    * map-side; top-5 per query is a partitioned rank. */
  // the tf·idf weight table is the sparse INDEX — a corpus artifact a
  // pipeline builds once per version (the Dedup.shingleCache pattern);
  // sparse_retrieval and rrf_fusion both consume it, so the memo halves
  // their combined cost (measured 2.8 s each per pass rebuilding it)
  private val weightCache = graft.util.SessionCaches.memo[Unit]("text.sparseWeights")

  private[graft] def sparseWeights(s: SparkSession, d: String): DataFrame =
    weightCache(s, d) {
      // stored through SilverArtifact like the MinHash band index: the
      // tokenize + tf/df passes run once per corpus version, and a cold
      // session's sparse_retrieval / rrf_fusion start from a parquet read
      val base = graft.util.SilverArtifact.pathFor(d, "sparse_weights")
      val fp = graft.util.SilverArtifact.sourceFingerprint(
        s"$d/documents.parquet", "sparsew-v1-min3-idf1000")
      graft.util.SilverArtifact.getOrBuild(s, base, fp) {
        val toks = Tables.fanout(s, Tables.documents(s, d))
          .select(col("doc_id"), explode(split(lower(col("text")), " ")).as("tok"))
          .filter(length(col("tok")) >= 3)
        val tf = toks.groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
        // df as a count window over tf partitioned by tok — the
        // tfidfTopTerms rewrite: the once-per-corpus-version index build
        // shuffles the raw token stream ONCE instead of twice (the old
        // second distinct() pipeline), at the cost of a spillable buffer
        // on the hottest token's group
        val wDf = org.apache.spark.sql.expressions.Window.partitionBy("tok")
        val nDf = Tables.documents(s, d).agg(count(lit(1)).as("n"))
        tf.withColumn("df", count(lit(1)).over(wDf))
          .crossJoin(broadcast(nDf))
          .select(col("doc_id"), col("tok"),
            expr("tf * (n + 1) * 1000 DIV (df + 1)").as("wt"))
      }
        .persistOnce()
    }

  /** Query budget: exhaustive per-query scoring is O(Σ shared-term df)
    * ≈ O(corpus) per query on this vocabulary, so running EVERY %100 doc
    * as a query is O(n²/100) — measured 180 s at sf10 (3× the
    * brute-force-ANN anchor) before sampling. The seeded fixed budget is
    * the ann_recall_eval rule: per-query semantics stay
    * EXACT, the gate goes O(corpus × budget), and the oracle states the
    * identical md5-ordered sample. At the driver's gate scales the %100
    * population is smaller than the budget, so the sample is the full
    * set and the results are unchanged. */
  val SparseQueryBudget = 64

  // The ranked top-k is the serving-layer artifact a RAG stack computes
  // once per (corpus version, query set) and every fusion consumes — the
  // shape of the memoized knnGraph edge set rrf_fusion's dense side reads;
  // without it rrf_fusion re-ran this whole probe. Rows are query budget
  // × k (~320). No disk artifact (unlike the weights INDEX this is derived
  // per-query-set output), so it is session-lifetime only, cleared by
  // SessionCaches.clear so the bench's cold pass pays the full probe.
  // Keyed by k: each k persists its own copy.
  private val sparseTopKCache = graft.util.SessionCaches.memo[Int]("text.sparseTopK")

  def sparseRetrieval(s: SparkSession, d: String, k: Int = 5): DataFrame =
    sparseTopKCache(s, d, k)(sparseRetrievalUncached(s, d, k).persistOnce())

  private def sparseRetrievalUncached(s: SparkSession, d: String, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = sparseWeights(s, d)
    val qids = w.select("doc_id").where(col("doc_id") % 100 === 0).distinct()
      .withColumn("__ord", md5(col("doc_id").cast("string")))
      .orderBy(col("__ord"), col("doc_id"))
      .limit(SparseQueryBudget)
      .select("doc_id")
    // every qid satisfies %100 == 0 by construction, so pre-filtering the
    // query-side postings build with the same predicate is an identity —
    // but it lets this broadcast-build job
    // evaluate the semi join over the 1% query-candidate slice of the index
    // instead of every posting row (the corpus-side probe below still scans
    // the full index ONCE, which is the fundamental pass)
    val qw = w.where(col("doc_id") % 100 === 0)
      .join(broadcast(qids), Seq("doc_id"), "left_semi")
      .select(col("doc_id").as("query_id"), col("tok"), col("wt").as("qwt"))
    val rankW = Window.partitionBy("query_id")
      .orderBy(desc("score"), asc("doc_id"))
    w.join(broadcast(qw), "tok")
      .filter(col("doc_id") =!= col("query_id"))
      .groupBy("query_id", "doc_id")
      .agg(sum(expr("qwt * wt")).as("score"))
      .withColumn("rnk", row_number().over(rankW).cast("int"))
      .filter(col("rnk") <= k)
      .select("query_id", "doc_id", "score", "rnk")
      .orderBy("query_id", "rnk")
  }

  val sparseRetrievalOracle: String = """
WITH toks AS (
  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok FROM documents),
t AS (SELECT doc_id, tok FROM toks WHERE len(tok) >= 3),
tf AS (SELECT doc_id, tok, count(*) AS tf FROM t GROUP BY 1, 2),
df AS (SELECT tok, count(DISTINCT doc_id) AS df FROM t GROUP BY 1),
n AS (SELECT count(*) AS n FROM documents),
w AS (
  SELECT tf.doc_id, tf.tok, tf.tf * (n.n + 1) * 1000 // (df.df + 1) AS wt
  FROM tf JOIN df USING (tok) CROSS JOIN n),
qs AS (
  SELECT DISTINCT doc_id FROM w WHERE doc_id % 100 = 0
  ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id LIMIT 64),
sc AS (
  SELECT q.doc_id AS query_id, c.doc_id, CAST(sum(q.wt * c.wt) AS BIGINT) AS score
  FROM w q JOIN w c ON q.tok = c.tok AND c.doc_id <> q.doc_id
  WHERE q.doc_id IN (SELECT doc_id FROM qs)
  GROUP BY 1, 2)
SELECT query_id, doc_id, score, rnk FROM (
  SELECT *, CAST(row_number() OVER (PARTITION BY query_id
              ORDER BY score DESC, doc_id) AS INT) AS rnk
  FROM sc) r
WHERE rnk <= 5 ORDER BY query_id, rnk"""

  // ----------------------------------------------------- lexical diversity

  /** Per-source lexical-diversity profile: vocabulary size, type-token
    * ratio, and the Simpson repeat index Σnᵢ(nᵢ−1)/(N(N−1)) — the
    * probability two tokens drawn without replacement are the same type.
    * Simpson is the diversity measure chosen here because (unlike Shannon
    * entropy's Σp·ln p) it is a pure rational of the counts, so the ppm
    * result is exact BIGINT arithmetic and hash-gates. Scale shape: one
    * explode into a (source, token) hash-agg (map-side partial), then a
    * source-keyed rollup; nothing but counts ever shuffles. The Σnᵢ(nᵢ−1)
    * numerator is bounded by N² — fine to petabyte-per-source scale in
    * BIGINT cents of ppm; past that the same rollup runs on per-shard
    * partials. */
  def lexicalDiversity(s: SparkSession, d: String): DataFrame =
    Tables.fanout(s, Tables.documents(s, d))
      .select(col("source"), explode(split(lower(col("text")), " ")).as("tok"))
      .groupBy("source", "tok").agg(count(lit(1)).as("c"))
      .groupBy("source")
      .agg(sum("c").as("n_tokens"),
        count(lit(1)).as("vocab"),
        sum(expr("c * (c - 1)")).as("rep_pairs"))
      .select(col("source"), col("n_tokens"), col("vocab"),
        expr("vocab * 1000000L DIV n_tokens").as("ttr_ppm"),
        expr("rep_pairs * 1000000L DIV (n_tokens * (n_tokens - 1))").as("simpson_ppm"))
      .orderBy("source")

  val lexicalDiversityOracle: String = """
WITH toks AS (
  SELECT source, unnest(string_split(lower(text), ' ')) AS tok FROM documents),
c AS (SELECT source, tok, count(*) AS c FROM toks GROUP BY 1, 2),
g AS (
  SELECT source, CAST(sum(c) AS BIGINT) AS n_tokens, count(*) AS vocab,
         CAST(sum(c * (c - 1)) AS BIGINT) AS rep_pairs
  FROM c GROUP BY 1)
SELECT source, n_tokens, vocab,
       CAST(vocab * 1000000 // n_tokens AS BIGINT) AS ttr_ppm,
       CAST(rep_pairs * 1000000 // (n_tokens * (n_tokens - 1)) AS BIGINT) AS simpson_ppm
FROM g ORDER BY source"""

  /** Unicode NFC canonicalization over the corpus — the normalization
    * pass that runs BEFORE any hashing-based dedup or contamination scan
    * (NFD/NFC variants of one text hash differently and silently defeat
    * both). The fixture suffixes each doc with a DECOMPOSED sequence
    * derived from its id (e+U+0301, n+U+0303, a+U+030A), so the
    * normalizer genuinely composes on every row; `raw_chars` vs
    * `nfc_chars` pins the composition (one combining pair collapses) and
    * `nfc_md5` hash-checks the normalized BYTES across two independent
    * Unicode implementations (JDK Normalizer vs DuckDB's utf8proc).
    * Per-row codegen'd expression ([[graft.functions.NfcNormalize]]),
    * zero shuffle — linear at any scale. */
  def nfcNormalizeCorpus(s: SparkSession, d: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    val dec = concat(col("text"), lit(" nfd:"),
      when(col("doc_id") % 3 === 0, lit("e\u0301"))
        .when(col("doc_id") % 3 === 1, lit("n\u0303"))
        .otherwise(lit("a\u030a")))
    Tables.fanout(s, Tables.documents(s, d))
      .select(col("doc_id"), dec.as("raw"))
      .select(col("doc_id"),
        length(col("raw")).as("raw_chars"),
        length(call_function("nfc_normalize", col("raw"))).as("nfc_chars"),
        md5(call_function("nfc_normalize", col("raw"))).as("nfc_md5"))
      .orderBy("doc_id")
  }

  val nfcNormalizeCorpusOracle: String = """
WITH raw AS (
  SELECT doc_id,
         text || ' nfd:' ||
           CASE WHEN doc_id % 3 = 0 THEN 'e' || chr(769)
                WHEN doc_id % 3 = 1 THEN 'n' || chr(771)
                ELSE 'a' || chr(778) END AS raw
  FROM documents)
SELECT doc_id,
       CAST(length(raw) AS INT) AS raw_chars,
       CAST(length(nfc_normalize(raw)) AS INT) AS nfc_chars,
       md5(nfc_normalize(raw)) AS nfc_md5
FROM raw ORDER BY doc_id"""

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_nfc_normalize"   -> (nfcNormalizeCorpus _),
    "tfidf_top_terms"      -> ((s: SparkSession, d: String) => tfidfTopTerms(s, d)),
    "bm25_rank"            -> (bm25Rank _),
    "sparse_retrieval"     -> ((s: SparkSession, d: String) => sparseRetrieval(s, d)),
    "lexical_diversity"    -> (lexicalDiversity _),
    "corpus_filter"        -> (corpusFilter _),
    "text_langid"          -> (langId _),
    "text_quality"         -> (quality _),
    "text_token_count"     -> (tokenCount _),
    "text_fingerprint"     -> (fingerprint _),
    "text_normalize_dedup" -> (normalizeDedup _)
  )

  val oracleSql: Map[String, String] = Map(
    "text_nfc_normalize"   -> nfcNormalizeCorpusOracle,
    "tfidf_top_terms"      -> tfidfOracle,
    "bm25_rank"            -> bm25RankOracle,
    "sparse_retrieval"     -> sparseRetrievalOracle,
    "lexical_diversity"    -> lexicalDiversityOracle,
    "corpus_filter"        -> corpusFilterOracle,
    "text_langid"          -> langIdOracle,
    "text_quality"         -> qualityOracle,
    "text_token_count"     -> tokenCountOracle,
    "text_fingerprint"     -> fingerprintOracle,
    "text_normalize_dedup" -> normalizeDedupOracle
  )
}
