package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.util.SessionCaches.PersistOnce

/** Token-level corpus operators — the frequency-table family a pre-training
  * data pipeline runs between raw text and the tokenizer (absent from the
  * reference, which has no text surface at all; part of the LLM-pipeline
  * mandate alongside [[TextOps]]/[[CorpusOps]]):
  *
  *  - [[tokenRarity]] — per-document rarity profile against the corpus
  *    unigram frequency table (hapax counts, mean token frequency): the
  *    signal behind "remove boilerplate / keep information-dense docs"
  *    curation filters.
  *  - [[bpePairCounts]] — adjacent character-pair frequencies within words:
  *    the first merge-candidate scan of BPE tokenizer training.
  *  - [[docChunking]] — overlapping fixed-size token-window chunking
  *    (size 64, stride 32): the context-window packing step before
  *    embedding or indexing a long document.
  *  - [[dedupIncremental]] — new-snapshot-vs-corpus dedup: drop arriving
  *    documents whose normalized content hash already exists in the stored
  *    corpus (and dedup inside the batch), the incremental form of
  *    [[Dedup.exact]] every recurring crawl needs.
  *
  * Determinism: counts and integer floor-division metrics only (no float
  * ratios), md5 content keys, total output order, aliases mirrored in the
  * oracles.
  */
object TokenOps {

  // ------------------------------------------------------------ token rarity

  /** Scale shape: one explode (linear), one hash-agg on token for the
    * frequency table, one token-keyed join back (vocab is heavy-tailed —
    * at corpus scale this is a shuffle-hash join; at test scale AQE
    * broadcasts the freq side), then a per-doc hash-agg. No windows, no
    * driver state. Mean token frequency is reported as an exact integer sum
    * plus a ppm rate — both engines do the same BIGINT arithmetic. */
  def tokenRarity(s: SparkSession, d: String): DataFrame = {
    // fed the raw (doc_id, tok) instance stream, the frequency aggregate
    // and the join probe would read it through two differently-shaped
    // exchanges — column pruning drops doc_id below any shared exchange
    // on the frequency branch (a bare repartition reuse point does NOT
    // survive it; measured liveGenerates=2) — so the corpus explode
    // would run twice. Pre-aggregating ONCE to
    // (doc_id, tok, cnt) makes doc_id a GROUPING key, which pruning
    // cannot remove: both branches share the identical exchange subtree
    // (explode once) and everything downstream moves aggregated rows.
    // Exactly equal: f(tok) = Σ_doc cnt; per-doc n_tokens = Σ cnt;
    // sum_freq = Σ f·cnt; a hapax (f = 1) necessarily has cnt = 1, so
    // n_hapax = Σ cnt where f = 1 ≡ the old per-instance count.
    val docTok = Tables.fanout(s, Tables.documents(s, d))
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("cnt"))
    val freq = docTok.groupBy("tok").agg(sum("cnt").as("f"))
    docTok.join(freq, "tok")
      .groupBy("doc_id")
      .agg(sum("cnt").as("n_tokens"),
        sum(col("f") * col("cnt")).as("sum_freq"),
        sum(when(col("f") === 1L, col("cnt")).otherwise(0L)).as("n_hapax"))
      .withColumn("rarity_ppm", expr("n_hapax * 1000000L div n_tokens"))
      .orderBy("doc_id")
  }

  val tokenRarityOracle: String = """
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
freq AS (SELECT tok, count(*) AS f FROM tok GROUP BY 1)
SELECT doc_id, count(*) AS n_tokens, CAST(sum(f) AS BIGINT) AS sum_freq,
       CAST(count(*) FILTER (WHERE f = 1) AS BIGINT) AS n_hapax,
       CAST(count(*) FILTER (WHERE f = 1) * 1000000 // count(*) AS BIGINT) AS rarity_ppm
FROM tok JOIN freq USING (tok)
GROUP BY doc_id ORDER BY doc_id"""

  // -------------------------------------------------------- BPE pair counts

  /** Top-50 adjacent character pairs inside lowercased alphabetic words —
    * the candidate ranking of the first BPE merge iteration. Scale shape:
    * two generators (word explode, position explode) kept on the codegen
    * path (substring arithmetic, no higher-order lambdas — the
    * interpreted-HOF trap in NOTES.md), partial-aggregated map-side, then
    * TakeOrderedAndProject for the cut. Linear in corpus characters. */
  def bpePairCounts(s: SparkSession, d: String): DataFrame =
    Tables.fanout(s, Tables.documents(s, d))
      .select(explode(split(regexp_replace(lower(col("text")), "[^a-z ]", ""), " ")).as("w"))
      .filter(length(col("w")) >= 2)
      .select(col("w"), expr("explode(sequence(1, length(w) - 1))").as("i"))
      .select(expr("substring(w, i, 2)").as("pair"))
      .groupBy("pair")
      .agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), col("pair"))
      .limit(50)

  val bpePairCountsOracle: String = """
WITH w AS (
  SELECT unnest(string_split(regexp_replace(lower(text), '[^a-z ]', '', 'g'), ' ')) AS w
  FROM documents),
p AS (
  SELECT substr(w.w, CAST(u.i AS INT), 2) AS pair
  FROM w, UNNEST(range(1, len(w.w))) AS u(i)
  WHERE len(w.w) >= 2)
SELECT pair, count(*) AS n FROM p
GROUP BY pair ORDER BY n DESC, pair LIMIT 50"""

  // ---------------------------------------------------------- doc chunking

  /** Overlapping token windows: chunk c covers tokens [c·32+1, c·32+64],
    * c = 0 .. (n_tokens-1) div 32 — a pure integer rule both engines apply
    * identically (trailing chunks may be short; the rule stays branch-free).
    * Scale shape: per-row generate bounded by doc length (≤2× token
    * duplication at stride = size/2), chunk content reduced to an md5 so
    * the output is fingerprint-sized. Linear, shuffle-free until the final
    * sort. */
  def docChunking(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .withColumn("n", size(col("ws")))
      .select(col("doc_id"), col("ws"),
        expr("explode(sequence(0L, (n - 1) div 32))").as("chunk_id"))
      .select(col("doc_id"), col("chunk_id"),
        expr("slice(ws, CAST(chunk_id * 32 + 1 AS INT), 64)").as("chunk"))
      .select(col("doc_id"), col("chunk_id"),
        size(col("chunk")).as("n_toks"),
        md5(concat_ws(" ", col("chunk"))).as("chunk_hash"))
      .orderBy("doc_id", "chunk_id")

  val docChunkingOracle: String = """
WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
c AS (
  SELECT doc_id, CAST(u.i AS BIGINT) AS chunk_id,
         ws[(CAST(u.i AS INT) * 32 + 1):(CAST(u.i AS INT) * 32 + 64)] AS chunk
  FROM w, UNNEST(range((len(ws) - 1) // 32 + 1)) AS u(i))
SELECT doc_id, chunk_id, CAST(len(chunk) AS INT) AS n_toks,
       md5(array_to_string(chunk, ' ')) AS chunk_hash
FROM c ORDER BY doc_id, chunk_id"""

  // ------------------------------------------------- fill-in-middle (FIM)

  /** Fill-in-middle restructuring — the FIM data transform infilling-
    * capable code/text models train on (Bavarian et al. 2022): each
    * document splits into (prefix, middle, suffix) at DETERMINISTIC
    * pseudo-random word boundaries and re-serializes in PSM order,
    * `<PRE>prefix<SUF>suffix<MID>middle`. Split points derive from
    * md5(doc_id) — the engine-neutral hash discipline of
    * [[graft.ops.Dedup.simhash]] — as p1 = 1 + h1 mod (n div 3),
    * p2 = p1 + 1 + h2 mod (n div 3), so 1 ≤ p1 < p2 < n and all three
    * spans are non-empty for every doc with ≥ 9 words. Pure per-row
    * string arithmetic: embarrassingly parallel, shuffle-free until the
    * presentation sort; output is fingerprint-sized (the re-serialized
    * string reduces to its md5, which the oracle reproduces from the
    * same rule). */
  def fimTransform(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .withColumn("n", size(col("ws")).cast("long"))
      .filter(col("n") >= 9)
      // 7 hex chars per split hash keep the value < 2^28 — exact in both
      // engines' integer types and in the oracle's digit-sum restatement
      .withColumn("h1",
        expr("CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 7), 16, 10) AS BIGINT)"))
      .withColumn("h2",
        expr("CAST(conv(substring(md5(CAST(doc_id AS STRING)), 9, 7), 16, 10) AS BIGINT)"))
      .withColumn("p1", expr("1L + h1 % (n DIV 3)"))
      .withColumn("p2", expr("p1 + 1L + h2 % (n DIV 3)"))
      .select(col("doc_id"), col("n").as("n_words"), col("p1"), col("p2"),
        md5(concat(
          lit("<PRE>"), concat_ws(" ", expr("slice(ws, 1, CAST(p1 AS INT))")),
          lit("<SUF>"), concat_ws(" ",
            expr("slice(ws, CAST(p2 + 1 AS INT), CAST(n - p2 AS INT))")),
          lit("<MID>"), concat_ws(" ",
            expr("slice(ws, CAST(p1 + 1 AS INT), CAST(p2 - p1 AS INT))"))))
          .as("fim_hash"))
      .orderBy("doc_id")

  val fimTransformOracle: String = {
    def hex2long(startIdx: Int): String =
      s"list_sum(list_transform(generate_series(1, 7), j -> " +
        s"CAST((strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), j + ${startIdx - 1}, 1)) - 1) AS BIGINT) " +
        s"* CAST(power(16, 7 - j) AS BIGINT)))"
    s"""
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS ws,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n
  FROM documents),
h AS (
  SELECT doc_id, ws, n,
         CAST(${hex2long(1)} AS BIGINT) AS h1,
         CAST(${hex2long(9)} AS BIGINT) AS h2
  FROM w WHERE n >= 9),
p AS (
  SELECT doc_id, ws, n,
         1 + h1 % (n // 3) AS p1,
         1 + h1 % (n // 3) + 1 + h2 % (n // 3) AS p2
  FROM h)
SELECT doc_id, n AS n_words, CAST(p1 AS BIGINT) AS p1, CAST(p2 AS BIGINT) AS p2,
       md5('<PRE>' || array_to_string(ws[1:CAST(p1 AS INT)], ' ') ||
           '<SUF>' || array_to_string(ws[CAST(p2 + 1 AS INT):CAST(n AS INT)], ' ') ||
           '<MID>' || array_to_string(ws[CAST(p1 + 1 AS INT):CAST(p2 AS INT)], ' ')) AS fim_hash
FROM p ORDER BY doc_id"""
  }

  // ----------------------------------------------------- incremental dedup

  /** Same normalization as [[Dedup]]/[[CorpusOps.keepBest]] (lowercase,
    * strip sentence punctuation, collapse whitespace). */
  private def normHash = md5(trim(regexp_replace(
    regexp_replace(lower(col("text")), "[.!?,;:]", ""), " +", " ")))

  /** Incremental snapshot dedup: the arriving batch (doc_id % 10 = 0 — a
    * stand-in for "this week's crawl") keeps only documents whose
    * normalized content hash is NOT already in the stored corpus, deduped
    * within the batch to the lowest doc_id. Scale shape: everything moves
    * as 16-byte hashes — one anti-join (shuffle-hash on the digest; the
    * CORPUS side streams, never collected) + one hash-agg. This is the
    * production form of exact dedup: re-crawls check against the lake
    * without rereading it into memory. */
  def dedupIncremental(s: SparkSession, d: String): DataFrame = {
    val hashed = Tables.documents(s, d).select(col("doc_id"), normHash.as("content_hash"))
    val batch  = hashed.filter(col("doc_id") % 10 === 0)
    val corpus = hashed.filter(col("doc_id") % 10 =!= 0).select("content_hash")
    batch.join(corpus, Seq("content_hash"), "left_anti")
      .groupBy("content_hash")
      .agg(min("doc_id").as("doc_id"))
      .orderBy("doc_id")
  }

  val dedupIncrementalOracle: String = """
WITH d AS (
  SELECT doc_id,
         md5(trim(regexp_replace(regexp_replace(lower(text), '[.!?,;:]', '', 'g'),
                  ' +', ' ', 'g'))) AS content_hash
  FROM documents),
batch AS (SELECT * FROM d WHERE doc_id % 10 = 0)
SELECT content_hash, min(doc_id) AS doc_id
FROM batch b
WHERE NOT EXISTS (SELECT 1 FROM d c
                  WHERE c.doc_id % 10 <> 0 AND c.content_hash = b.content_hash)
GROUP BY content_hash ORDER BY doc_id"""

  // ------------------------------------------------------------- BPE training

  /** Two unrolled rounds of distributed BPE tokenizer TRAINING (the
    * iterative continuation of [[bpePairCounts]], which only scores the
    * first round's candidates): each round counts adjacent token pairs
    * across the corpus, picks the most frequent pair (ties broken
    * lexicographically so the argmax is total), and applies the merge
    * everywhere. Output is the trained vocabulary's top-30 tokens — the
    * learned merges surface as multi-char tokens.
    *
    * Representation: a word is its token sequence joined by U+001F, so a
    * merge is one literal regexp_replace (left-to-right, non-overlapping —
    * exactly BPE's leftmost-first merge rule, and identical in DuckDB's
    * regex engine). Scale shape per round: one generator pass for pairs, a
    * hash-agg keyed by pair, and a 1-row argmax to the driver (the same
    * driver-coordination footprint as Lloyd's k centroids in Similarity or
    * the pagerank rounds in GraphOps — constant-size, never data-sized);
    * the merge application is a pipelined narrow map. Real BPE training
    * runs this loop to 30k+ merges with the SAME dataflow. */
  private val SEP = "\u001f"

  /** Per-word token representation (doc_id carried), shared by train and
    * encode - persisted per (session, dataset) like the embedding cache in
    * [[Similarity]]: the char-split regex is the dominant cost and every
    * merge round re-reads this frame. */
  private val reprCache = graft.util.SessionCaches.memo[Unit]("token.repr")

  private def wordRepr(s: SparkSession, d: String): DataFrame =
    reprCache(s, d)(
      Tables.fanout(s, Tables.documents(s, d))
        .select(col("doc_id"),
          explode(split(regexp_replace(lower(col("text")), "[^a-z ]", ""), " ")).as("w"))
        .filter(length(col("w")) >= 2)
        .select(col("doc_id"),
          rtrim(regexp_replace(col("w"), "(.)", "$1" + SEP), SEP).as("r"))
        .persistOnce())

  private def pairs(df: DataFrame): DataFrame = df
    .select(split(col("r"), SEP).as("ts"))
    .filter(size(col("ts")) >= 2)
    .select(col("ts"), expr("explode(sequence(1, size(ts) - 1))").as("i"))
    .select(expr("element_at(ts, i)").as("a"), expr("element_at(ts, i + 1)").as("b"))

  private def bestMerge(df: DataFrame): (String, String) = {
    val row = pairs(df).groupBy("a", "b").agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), col("a"), col("b")).limit(1).head()
    (row.getString(0), row.getString(1))
  }

  private def applyMerge(df: DataFrame, m: (String, String)): DataFrame = {
    // learned tokens are interpolated into a REGEX pattern — only safe
    // because wordRepr strips to [a-z ] (no metacharacters can be
    // learned). Assert that invariant so a future alphabet change (digits,
    // punctuation) fails loudly here instead of silently corrupting
    // merges; the oracle interpolates the same literal, so quoting must
    // stay in lockstep on both sides if ever needed.
    require((m._1 + m._2).matches("[a-z]+"),
      s"merge tokens must stay in the [a-z] alphabet, got '${m._1}'+'${m._2}'")
    df.withColumn("r", regexp_replace(col("r"), m._1 + SEP + m._2, m._1 + m._2))
  }

  /** The two learned merges, derived once per (session, dataset) - a
    * trained tokenizer is a reusable artifact; [[bpeEncode]] must not pay
    * for training again. */
  private val mergeCache = graft.util.SessionCaches.memo[Unit]("token.merges")

  private def merges(s: SparkSession, d: String): ((String, String), (String, String)) =
    mergeCache(s, d) {
      val r0 = wordRepr(s, d)
      val m1 = bestMerge(r0)
      val m2 = bestMerge(applyMerge(r0, m1))
      (m1, m2)
    }

  def bpeTrain(s: SparkSession, d: String): DataFrame = {
    val (m1, m2) = merges(s, d)
    applyMerge(applyMerge(wordRepr(s, d), m1), m2)
      .select(explode(split(col("r"), SEP)).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), col("tok"))
      .limit(30)
  }

  val bpeTrainOracle: String = """
WITH w0 AS (
  SELECT unnest(string_split(regexp_replace(lower(text), '[^a-z ]', '', 'g'), ' ')) AS w
  FROM documents),
r0 AS (
  SELECT rtrim(regexp_replace(w, '(.)', '\1' || chr(31), 'g'), chr(31)) AS r
  FROM w0 WHERE len(w) >= 2),
p1 AS (
  SELECT ts[CAST(u.i AS INT)] AS a, ts[CAST(u.i AS INT) + 1] AS b
  FROM (SELECT string_split(r, chr(31)) AS ts FROM r0) t, UNNEST(range(1, len(ts))) AS u(i)),
m1 AS (SELECT a, b FROM p1 GROUP BY a, b ORDER BY count(*) DESC, a, b LIMIT 1),
r1 AS (
  SELECT regexp_replace(r, (SELECT a || chr(31) || b FROM m1),
                        (SELECT a || b FROM m1), 'g') AS r FROM r0),
p2 AS (
  SELECT ts[CAST(u.i AS INT)] AS a, ts[CAST(u.i AS INT) + 1] AS b
  FROM (SELECT string_split(r, chr(31)) AS ts FROM r1) t, UNNEST(range(1, len(ts))) AS u(i)),
m2 AS (SELECT a, b FROM p2 GROUP BY a, b ORDER BY count(*) DESC, a, b LIMIT 1),
r2 AS (
  SELECT regexp_replace(r, (SELECT a || chr(31) || b FROM m2),
                        (SELECT a || b FROM m2), 'g') AS r FROM r1)
SELECT tok, count(*) AS n
FROM (SELECT unnest(string_split(r, chr(31))) AS tok FROM r2)
GROUP BY tok ORDER BY n DESC, tok LIMIT 30"""

  // ------------------------------------------------------------- BPE encode

  /** Apply the tokenizer [[bpeTrain]] learns: re-derive the two merge
    * rounds (the argmaxes are deterministic), encode every document with
    * them, and report per-document token counts before/after plus the
    * compression in ppm — the train→apply loop of a real tokenizer
    * pipeline. Scale shape: identical to training (narrow regexp maps)
    * with doc_id carried through; the per-doc reduce is one hash-agg. */
  def bpeEncode(s: SparkSession, d: String): DataFrame = {
    val (m1, m2) = merges(s, d)
    val r2 = applyMerge(applyMerge(wordRepr(s, d), m1), m2)
    r2.select(col("doc_id"),
        size(split(col("r"), SEP)).cast("long").as("toks"),
        length(regexp_replace(col("r"), SEP, "")).cast("long").as("chars"))
      .groupBy("doc_id")
      .agg(sum("chars").as("n_char_tokens"),
        sum("toks").as("n_bpe_tokens"))
      .withColumn("saved_ppm",
        expr("(n_char_tokens - n_bpe_tokens) * 1000000L div n_char_tokens"))
      .orderBy("doc_id")
  }

  val bpeEncodeOracle: String = """
WITH w0 AS (
  SELECT doc_id,
         unnest(string_split(regexp_replace(lower(text), '[^a-z ]', '', 'g'), ' ')) AS w
  FROM documents),
r0 AS (
  SELECT doc_id, rtrim(regexp_replace(w, '(.)', '\1' || chr(31), 'g'), chr(31)) AS r
  FROM w0 WHERE len(w) >= 2),
p1 AS (
  SELECT ts[CAST(u.i AS INT)] AS a, ts[CAST(u.i AS INT) + 1] AS b
  FROM (SELECT string_split(r, chr(31)) AS ts FROM r0) t, UNNEST(range(1, len(ts))) AS u(i)),
m1 AS (SELECT a, b FROM p1 GROUP BY a, b ORDER BY count(*) DESC, a, b LIMIT 1),
r1 AS (
  SELECT doc_id, regexp_replace(r, (SELECT a || chr(31) || b FROM m1),
                        (SELECT a || b FROM m1), 'g') AS r FROM r0),
p2 AS (
  SELECT ts[CAST(u.i AS INT)] AS a, ts[CAST(u.i AS INT) + 1] AS b
  FROM (SELECT string_split(r, chr(31)) AS ts FROM r1) t, UNNEST(range(1, len(ts))) AS u(i)),
m2 AS (SELECT a, b FROM p2 GROUP BY a, b ORDER BY count(*) DESC, a, b LIMIT 1),
r2 AS (
  SELECT doc_id, regexp_replace(r, (SELECT a || chr(31) || b FROM m2),
                        (SELECT a || b FROM m2), 'g') AS r FROM r1),
enc AS (
  SELECT doc_id,
         CAST(len(string_split(r, chr(31))) AS BIGINT) AS toks,
         CAST(len(replace(r, chr(31), '')) AS BIGINT) AS chars
  FROM r2)
SELECT doc_id, CAST(sum(chars) AS BIGINT) AS n_char_tokens,
       CAST(sum(toks) AS BIGINT) AS n_bpe_tokens,
       CAST((sum(chars) - sum(toks)) * 1000000 // sum(chars) AS BIGINT) AS saved_ppm
FROM enc GROUP BY doc_id ORDER BY doc_id"""

  // ---------------------------------------------------------- bigram LM score

  /** Corpus-trained bigram-LM fluency proxy (the shape of a CCNet/KenLM
    * perplexity filter, arithmetic kept exact): train P(w2|w1) =
    * c(w1,w2)/c(w1·) on the whole corpus, then score every document by the
    * mean transition probability of its own bigrams, in ppm via integer
    * floor division — no logs, no floats, so both engines agree bit-for-bit.
    * Low scores mark token sequences the corpus model finds improbable —
    * the fluency cut of a pre-training quality pipeline.
    *
    * Scale shape: bigram extraction is one generator pass (lead over a
    * per-doc window would shuffle; adjacent-pair slicing stays pipelined);
    * the LM is a hash-agg keyed by bigram; scoring joins docs' bigrams back
    * to the LM on the bigram key (heavy-tailed — shuffle-hash join at
    * corpus scale) and hash-aggs per doc. The model never sits on the
    * driver. */
  def lmScore(s: SparkSession, d: String): DataFrame = {
    val big = Tables.fanout(s, Tables.documents(s, d))
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .filter(size(col("ws")) >= 2)
      .select(col("doc_id"), col("ws"),
        expr("explode(sequence(1, size(ws) - 1))").as("i"))
      .select(col("doc_id"),
        expr("element_at(ws, i)").as("w1"),
        expr("element_at(ws, i + 1)").as("w2"))
    val bigram  = big.groupBy("w1", "w2").agg(count(lit(1)).as("c2"))
    // c(w1·) = Σ_w2 c(w1,w2) exactly (every bigram instance has one w2),
    // so the unigram table folds out of the bigram counts instead of a
    // third full pass + exchange over the raw bigram stream — the
    // generator runs once for the model (ReusedExchange) and the unigram
    // exchange carries aggregated counts, not instances.
    val unigram = bigram.groupBy("w1").agg(sum("c2").as("c1"))
    val lm = bigram.join(unigram, "w1")
      .select(col("w1"), col("w2"), expr("c2 * 1000000L div c1").as("p_ppm"))
    big.join(lm, Seq("w1", "w2"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        expr("sum(p_ppm) div count(1)").as("fluency_ppm"))
      .orderBy("doc_id")
  }

  val lmScoreOracle: String = """
WITH ws AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents
            WHERE len(string_split(text, ' ')) >= 2),
big AS (
  SELECT doc_id, ws[CAST(u.i AS INT)] AS w1, ws[CAST(u.i AS INT) + 1] AS w2
  FROM ws, UNNEST(range(1, len(ws))) AS u(i)),
uni AS (SELECT w1, count(*) AS c1 FROM big GROUP BY 1),
bi  AS (SELECT w1, w2, count(*) AS c2 FROM big GROUP BY 1, 2),
lm  AS (SELECT w1, w2, c2 * 1000000 // c1 AS p_ppm
        FROM bi JOIN uni USING (w1))
SELECT doc_id, count(*) AS n_bigrams,
       CAST(sum(p_ppm) // count(*) AS BIGINT) AS fluency_ppm
FROM big JOIN lm USING (w1, w2)
GROUP BY doc_id ORDER BY doc_id"""

  // ------------------------------------------------------------- span dedup

  /** Duplicated-span profile (the C4/RefinedWeb "repeated passage" signal):
    * cut every document into disjoint 16-token spans, fingerprint each span
    * (md5), call a span duplicated when the same fingerprint occurs in ≥ 2
    * DISTINCT documents, and report the per-document duplicated-span rate
    * as an integer ppm. Scale shape: one bounded generator (≤ n/16 spans
    * per doc), a hash-agg on the 16-byte fingerprint for the document
    * frequency, one fingerprint-keyed join back, one per-doc hash-agg —
    * the [[tokenRarity]] shape at span granularity; only fingerprints ever
    * shuffle, never text. */
  def spanDedup(s: SparkSession, d: String): DataFrame = {
    val spans0 = Tables.fanout(s, Tables.documents(s, d))
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .withColumn("n", size(col("ws")))
      .select(col("doc_id"), col("ws"),
        expr("explode(sequence(0L, (n - 1) div 16))").as("c"))
      .select(col("doc_id"),
        md5(concat_ws(" ",
          expr("slice(ws, CAST(c * 16 + 1 AS INT), 16)"))).as("h"))
    // `spans` feeds two consumers — the document-frequency aggregate
    // and the join probe — whose exchange subtrees DIFFER (one carries
    // the countDistinct partial), so on its own the span generator
    // (split + slice + md5 over every span) would execute twice. One
    // explicit hash exchange on the join/grouping key makes both
    // consumers start from the identical subtree: the generator
    // runs once, the df aggregate and the join both read the one
    // materialized exchange (and are already partitioned on h, so
    // neither pays a further data exchange).
    val spans = spans0.repartition(col("h"))
    val docFreq = spans.groupBy("h").agg(countDistinct("doc_id").as("ndocs"))
    spans.join(docFreq, "h")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_spans"),
        sum(when(col("ndocs") >= 2, 1L).otherwise(0L)).as("n_dup_spans"))
      .withColumn("dup_ppm", expr("n_dup_spans * 1000000L div n_spans"))
      .orderBy("doc_id")
  }

  val spanDedupOracle: String = """
WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
sp AS (
  SELECT doc_id,
         md5(array_to_string(
           ws[(CAST(u.c AS INT) * 16 + 1):(CAST(u.c AS INT) * 16 + 16)],
           ' ')) AS h
  FROM w, UNNEST(range((len(ws) - 1) // 16 + 1)) AS u(c)),
df AS (SELECT h, count(DISTINCT doc_id) AS ndocs FROM sp GROUP BY 1)
SELECT doc_id, count(*) AS n_spans,
       CAST(count(*) FILTER (WHERE ndocs >= 2) AS BIGINT) AS n_dup_spans,
       CAST(count(*) FILTER (WHERE ndocs >= 2) * 1000000 // count(*) AS BIGINT) AS dup_ppm
FROM sp JOIN df USING (h)
GROUP BY doc_id ORDER BY doc_id"""

  // ---------------------------------------------------------- heavy hitters

  /** Exact frequent tokens (> 1% of the stream) WITHOUT a full-vocabulary
    * groupBy, via the custom [[graft.functions.MisraGriesAgg]] Catalyst
    * aggregate: pass 1 streams every token through k=200 bounded-memory
    * counters (partials merge map-side, O(k) state per task — nothing
    * vocabulary-sized ever shuffles); pass 2 exactly re-counts only the
    * ≤ 200 surviving candidates through a broadcast semi-join and applies
    * the threshold. The MG guarantee (no item above N/(k+1) is evicted,
    * 1% > 1/201) makes the final set EXACT — identical to the oracle's
    * full groupBy-HAVING — while the heavy pass stays sketch-sized. */
  def heavyHitters(s: SparkSession, d: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    val tok = Tables.fanout(s, Tables.documents(s, d))
      .select(explode(split(col("text"), " ")).as("tok"))
    val sketch = tok.agg(
      call_function("misra_gries", col("tok"), lit(200)).as("cands"),
      count(lit(1)).as("n"))
    val cands = sketch.select(col("n"), explode(col("cands")).as("tok"))
    tok.join(broadcast(cands), "tok")
      .groupBy("tok", "n")
      .agg(count(lit(1)).as("n_occur"))
      .filter(col("n_occur") * 100 > col("n"))
      .select(col("tok"), col("n_occur"))
      .orderBy(desc("n_occur"), col("tok"))
  }

  val heavyHittersOracle: String = """
WITH tok AS (SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
n AS (SELECT count(*) AS n FROM tok)
SELECT tok, count(*) AS n_occur
FROM tok, n GROUP BY tok, n.n
HAVING count(*) * 100 > n.n
ORDER BY n_occur DESC, tok"""

  // ------------------------------------------------ length-bucketed batching

  /** Length-bucketed dynamic-padding batch formation — the step a training
    * data loader runs after tokenization: group sequences of similar
    * length (8-token equi-width buckets), fill fixed-size batches longest-
    * first inside each bucket, pad every row to its BATCH max, and report
    * the padding efficiency the bucketing bought. Complements
    * [[graft.ops.CorpusOps.sequencePack]] (concat-packing into one
    * context window) — bucketed padding is what encoder/contrastive
    * training uses where packing is unsound. Scale shape: the batching
    * window partitions by (bucket, shard) — shard = doc_id DIV 1000 —
    * exactly how per-worker loaders batch, so no partition exceeds the
    * shard size regardless of corpus scale and the hot small-length
    * bucket never funnels into one task; the per-batch reduce and the
    * per-bucket rollup are hash-aggs. Padding math is integer-exact
    * (pad = batch_max·n − Σlen), so efficiency ppm hash-gates. */
  def lengthBucketBatches(s: SparkSession, d: String, batch: Int = 32): DataFrame = {
    val docs = Tables.documents(s, d).select(
        col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tok"),
        expr("doc_id DIV 1000").as("shard"))
      .withColumn("bucket_cap", expr("((n_tok + 7) DIV 8) * 8"))
    val w = Window.partitionBy("bucket_cap", "shard")
      .orderBy(desc("n_tok"), col("doc_id"))
    docs
      .withColumn("rn", row_number().over(w))
      .withColumn("batch_id", expr(s"(rn - 1) DIV $batch"))
      .groupBy("bucket_cap", "shard", "batch_id")
      .agg(count(lit(1)).as("bn"), max("n_tok").as("bmax"), sum("n_tok").as("btok"))
      .groupBy("bucket_cap")
      .agg(sum("bn").as("n_docs"),
        count(lit(1)).as("n_batches"),
        sum("btok").as("total_tokens"),
        sum(col("bmax") * col("bn") - col("btok")).as("pad_tokens"))
      .withColumn("efficiency_ppm",
        expr("total_tokens * 1000000L DIV (total_tokens + pad_tokens)"))
      .orderBy("bucket_cap")
  }

  val lengthBucketBatchesOracle: String = """
WITH d AS (
  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
         doc_id // 1000 AS shard
  FROM documents),
b AS (
  SELECT *, ((n_tok + 7) // 8) * 8 AS bucket_cap,
         (row_number() OVER (PARTITION BY ((n_tok + 7) // 8) * 8, shard
                             ORDER BY n_tok DESC, doc_id) - 1) // 32 AS batch_id
  FROM d),
g AS (
  SELECT bucket_cap, shard, batch_id, count(*) AS bn,
         max(n_tok) AS bmax, sum(n_tok) AS btok
  FROM b GROUP BY 1, 2, 3),
r AS (
  SELECT bucket_cap, CAST(sum(bn) AS BIGINT) AS n_docs, count(*) AS n_batches,
         CAST(sum(btok) AS BIGINT) AS total_tokens,
         CAST(sum(bmax * bn - btok) AS BIGINT) AS pad_tokens
  FROM g GROUP BY 1)
SELECT bucket_cap, n_docs, n_batches, total_tokens, pad_tokens,
       CAST(total_tokens * 1000000 // (total_tokens + pad_tokens) AS BIGINT) AS efficiency_ppm
FROM r ORDER BY bucket_cap"""

  // ---------------------------------------------------------------- wiring

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "length_bucket_batches" -> ((s: SparkSession, d: String) => lengthBucketBatches(s, d)),
    "token_rarity"      -> (tokenRarity _),
    "bpe_pair_counts"   -> (bpePairCounts _),
    "doc_chunking"      -> (docChunking _),
    "fim_transform"     -> (fimTransform _),
    "dedup_incremental" -> (dedupIncremental _),
    "heavy_hitters"     -> (heavyHitters _),
    "span_dedup"        -> (spanDedup _),
    "lm_score"          -> (lmScore _),
    "bpe_train"         -> (bpeTrain _),
    "bpe_encode"        -> (bpeEncode _)
  )

  val oracleSql: Map[String, String] = Map(
    "length_bucket_batches" -> lengthBucketBatchesOracle,
    "token_rarity"      -> tokenRarityOracle,
    "bpe_pair_counts"   -> bpePairCountsOracle,
    "doc_chunking"      -> docChunkingOracle,
    "fim_transform"     -> fimTransformOracle,
    "dedup_incremental" -> dedupIncrementalOracle,
    "heavy_hitters"     -> heavyHittersOracle,
    "span_dedup"        -> spanDedupOracle,
    "lm_score"          -> lmScoreOracle,
    "bpe_train"         -> bpeTrainOracle,
    "bpe_encode"        -> bpeEncodeOracle
  )
}
