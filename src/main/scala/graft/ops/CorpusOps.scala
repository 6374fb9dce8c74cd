package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Corpus-curation operators a large-scale training-data pipeline needs
  * beyond per-document scoring (SURVEY.md §7.5 extensions): within-document
  * repetition scoring (the Gopher dup-n-gram filters), benchmark
  * contamination detection (n-gram overlap against a held-out set),
  * deterministic per-source mixing/sampling, and token sequence packing.
  *
  * Everything is engine-neutral (array transforms, md5-derived hashes,
  * integer threshold arithmetic), so each query has an exact DuckDB oracle.
  */
object CorpusOps {
  import TextOps.ws

  private def gramsSql(n: Int): String = {
    val parts = (0 until n).map(j => s"ws[i + $j]").mkString(" || ' ' || ")
    s"list_transform(generate_series(1, len(ws) - ${n - 1}), i -> $parts)"
  }

  /** Within-document repetition scoring — the Gopher-style duplicate-n-gram
    * ratios (fraction of word/bigram/trigram occurrences that are repeats of
    * an earlier occurrence in the same document). Pure per-row array math:
    * no shuffle at all except the presentation sort, so it scales linearly
    * and composes with `corpus_filter` as another pass/fail column. */
  def repetition(s: SparkSession, d: String): DataFrame = {
    def dupRatio(g: Column): Column =
      round((size(g) - size(array_distinct(g))).cast("double") /
        greatest(size(g), lit(1)), 6)
    Tables.documents(s, d).select(
      col("doc_id"),
      size(ws).cast("long").as("n_words"),
      dupRatio(ws).as("dup_word_ratio"),
      dupRatio(Ngrams.wordNgrams(col("text"), 2)).as("dup_bigram_ratio"),
      dupRatio(Ngrams.wordNgrams(col("text"), 3)).as("dup_trigram_ratio"))
      .orderBy("doc_id")
  }

  val repetitionOracle: String = s"""
WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
g AS (SELECT doc_id, ws, ${gramsSql(2)} AS g2, ${gramsSql(3)} AS g3 FROM w)
SELECT doc_id,
       CAST(len(ws) AS BIGINT) AS n_words,
       round((len(ws) - len(list_distinct(ws))) * 1.0 / greatest(len(ws), 1), 6) AS dup_word_ratio,
       round((len(g2) - len(list_distinct(g2))) * 1.0 / greatest(len(g2), 1), 6) AS dup_bigram_ratio,
       round((len(g3) - len(list_distinct(g3))) * 1.0 / greatest(len(g3), 1), 6) AS dup_trigram_ratio
FROM g ORDER BY doc_id"""

  /** Benchmark-contamination check: which corpus documents share 4-gram
    * spans with a held-out benchmark set (here: every 20th document stands
    * in for the eval suite). Per surviving doc: its distinct-4-gram count,
    * how many of those appear anywhere in the benchmark, and the
    * contaminated fraction.
    *
    * Shape at scale: each side reduces to DISTINCT 16-hex-char gram hashes
    * per doc BEFORE anything moves (`array_distinct` map-side, 8-byte-ish
    * keys, never the text). The benchmark side is eval-suite-sized — tiny
    * relative to a 100 TB corpus — so it broadcasts and the corpus's gram
    * stream never shuffles for the probe; the only exchange is the per-doc
    * count aggregation on doc_id. */
  def contamination(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // Gram construction stays on the codegen path: explode words once,
    // form each 4-gram with lead() windows + plain string expressions.
    // (The HOF formulation — transform/element_at lambdas — evaluates
    // interpreted AND gets duplicated into an inferred generator filter:
    // measured 4x slower at sf0.1.) The window shuffle partitions by
    // doc_id; the distinct gram set then aggregates map-side first.
    val wv = Window.partitionBy("doc_id").orderBy("pos")
    val grams = Tables.fanout(s, Tables.documents(s, d))
      .filter(size(ws) >= 4)
      .select(col("doc_id"), posexplode(ws).as(Seq("pos", "w")))
      .withColumn("w1", lead("w", 1).over(wv))
      .withColumn("w2", lead("w", 2).over(wv))
      .withColumn("w3", lead("w", 3).over(wv))
      .filter(col("w3").isNotNull)
      .select(col("doc_id"),
        substring(md5(concat_ws(" ", col("w"), col("w1"), col("w2"), col("w3"))), 1, 16)
          .as("gh"))
      .distinct()
    val bench = grams.filter(col("doc_id") % 20 === 0).select("gh").distinct()
      .withColumn("__hit", lit(1L))
    // One pipeline over `grams`: three separate consumers — perDoc (full
    // corpus), bench (1/20, filter pushed to the scan), and the probe join
    // (19/20) — would not share work, because the pushed %20 filters sink
    // below the window+md5 pipeline, the consumers' exchange subtrees
    // differ and nothing is reused: the gram pipeline would execute ~2×
    // the corpus. Marking hits with a broadcast
    // LEFT join and aggregating count + hit-sum in ONE per-doc pass folds
    // perDoc and the probe into a single 19/20 pipeline (total gram work
    // ≈ 1× the corpus). Exactly equal to the three-consumer inner join,
    // which keeps only docs with ≥ 1 hit (perDoc's extra %20==0 rows
    // never survive it); `sum(__hit)` over the left join counts exactly the grams with
    // a bench match (bench ghs are distinct, so the join multiplicity is
    // 1), and a doc with zero hits aggregates to NULL and is dropped by
    // the n_hit >= 1 filter — the same doc set.
    grams.filter(col("doc_id") % 20 =!= 0)
      .join(broadcast(bench), Seq("gh"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"), sum("__hit").as("n_hit"))
      .filter(col("n_hit") >= 1)
      .select(col("doc_id"), col("n_grams"), col("n_hit"),
        round(col("n_hit").cast("double") / col("n_grams"), 6).as("hit_ratio"))
      .orderBy("doc_id")
  }

  val contaminationOracle: String = """
WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents
           WHERE len(string_split(text, ' ')) >= 4),
g AS (SELECT doc_id,
        list_distinct(list_transform(generate_series(1, len(ws) - 3),
          i -> substr(md5(ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3]), 1, 16))) AS ghs
      FROM w),
bench AS (SELECT DISTINCT unnest(ghs) AS gh FROM g WHERE doc_id % 20 = 0),
corpus AS (SELECT doc_id, CAST(len(ghs) AS BIGINT) AS n_grams, unnest(ghs) AS gh
           FROM g WHERE doc_id % 20 <> 0)
SELECT doc_id, n_grams, count(*) AS n_hit,
       round(count(*) * 1.0 / n_grams, 6) AS hit_ratio
FROM corpus JOIN bench USING (gh)
GROUP BY doc_id, n_grams ORDER BY doc_id"""

  /** Deterministic source-mixing sampler: each source gets a target keep
    * rate (k/5 with k = source number mod 4 + 1 — standing in for the
    * domain-mixture weights of a training recipe), and a document survives
    * iff a salted-md5 uniform draw on its id clears the rate. The keep
    * decision is `u32 * 5 < k * 2^32` — pure integer arithmetic, so there
    * is no float-comparison edge to diverge across engines, and the sample
    * is exactly reproducible given (salt, id): resampling a grown corpus
    * keeps every previously-kept doc whose rate didn't change. One narrow
    * filter, no shuffle. */
  def mixSample(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .withColumn("u32",
        conv(substring(md5(concat(lit("mix:"), col("doc_id").cast("string"))), 1, 8), 16, 10)
          .cast("long"))
      .withColumn("k", expr("substring(source, 4)").cast("long") % 4 + 1)
      .filter(col("u32") * 5 < col("k") * 4294967296L)
      .select(col("doc_id"), col("source"), col("k").as("rate_fifths"))
      .orderBy("doc_id")

  val mixSampleOracle: String = """
WITH s AS (
  SELECT doc_id, source,
         CAST(substr(source, 4) AS BIGINT) % 4 + 1 AS rate_fifths,
         CAST(list_sum(list_transform(generate_series(1, 8),
           j -> CAST((strpos('0123456789abcdef',
                  substr(md5('mix:' || CAST(doc_id AS VARCHAR)), j, 1)) - 1) AS BIGINT)
                * CAST(power(16, 8 - j) AS BIGINT))) AS BIGINT) AS u32
  FROM documents)
SELECT doc_id, source, rate_fifths
FROM s WHERE u32 * 5 < rate_fifths * 4294967296 ORDER BY doc_id"""

  /** Token sequence packing: assign documents (in id order) to fixed-
    * capacity training sequences of 256 tokens by greedy next-fit — the
    * standard pre-tokenization batching step. Packing is inherently
    * sequential, so the scalable shape shards the corpus (here by
    * `doc_id DIV 100` — in production, by input split), packs each shard
    * independently in one pass, and sequence ids are per-shard: ONE hash
    * exchange on the shard key + an in-partition sort, then a linear
    * stateful scan. This is the genuine per-partition-imperative case the
    * DataFrame API can't express declaratively — cumulative sum with
    * reset-on-overflow is not a window function — so `mapPartitions` is
    * the right tool (SURVEY §7.2 preference order, last resort, used
    * deliberately). */
  def sequencePack(s: SparkSession, d: String, capacity: Long = 256L): DataFrame = {
    import s.implicits._
    Tables.documents(s, d)
      .select(col("doc_id"), expr("doc_id DIV 100").as("shard"),
        size(ws).cast("long").as("tokens"))
      .repartition(col("shard"))
      .sortWithinPartitions("shard", "doc_id")
      .as[(Long, Long, Long)]
      .mapPartitions { it =>
        var curShard = Long.MinValue
        var seq = 0L
        var acc = 0L
        it.map { case (docId, shard, tokens) =>
          if (shard != curShard) { curShard = shard; seq = 0L; acc = tokens }
          else if (acc + tokens > capacity) { seq += 1; acc = tokens }
          else acc += tokens
          (docId, shard, tokens, seq)
        }
      }
      .toDF("doc_id", "shard", "tokens", "seq_id")
      .orderBy("doc_id")
  }

  // Greedy next-fit restated as a recursive scan per shard — the oracle
  // walks rn = 1, 2, … within each shard carrying (seq_id, fill) state.
  val sequencePackOracle: String = """
WITH RECURSIVE base AS (
  SELECT doc_id, doc_id // 100 AS shard,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS tokens,
         row_number() OVER (PARTITION BY doc_id // 100 ORDER BY doc_id) AS rn
  FROM documents),
pack AS (
  SELECT shard, rn, doc_id, tokens, CAST(0 AS BIGINT) AS seq_id, tokens AS acc
  FROM base WHERE rn = 1
  UNION ALL
  SELECT b.shard, b.rn, b.doc_id, b.tokens,
         CASE WHEN p.acc + b.tokens > 256 THEN p.seq_id + 1 ELSE p.seq_id END,
         CASE WHEN p.acc + b.tokens > 256 THEN b.tokens ELSE p.acc + b.tokens END
  FROM pack p JOIN base b ON b.shard = p.shard AND b.rn = p.rn + 1)
SELECT doc_id, shard, tokens, seq_id FROM pack ORDER BY doc_id"""

  /** Quality-aware dedup survivor selection: group near-copies (here by
    * normalized-text hash — the cascade's stage-1 key), score every member
    * with the composite quality heuristic, and keep the HIGHEST-QUALITY
    * member instead of the arbitrary lowest-id one — what a production
    * dedup actually wants when copies differ in cruft. One shuffle on the
    * 16-byte group hash; the argmax is a packed struct max (no window, so
    * the aggregation stays partial map-side). Tie-break: lowest doc_id. */
  def keepBest(s: SparkSession, d: String): DataFrame = {
    val norm = trim(regexp_replace(
      regexp_replace(lower(col("text")), "[.!?,;:]", ""), " +", " "))
    val nWords = size(ws)
    val alpha = length(col("text")) - length(regexp_replace(col("text"), "[a-zA-Z]", ""))
    val stops = size(filter(ws, w => w.isInCollection(TextOps.stopwords("en"))))
    val q = round(least(nWords.cast("double") / 100, lit(1.0)) * 0.4 +
      (alpha.cast("double") / length(col("text"))) * 0.4 +
      least(stops.cast("double") / nWords * lit(5.0), lit(1.0)) * 0.2, 6)
    Tables.documents(s, d)
      .select(md5(norm).as("norm_hash"), col("doc_id"), q.as("q"))
      // argmax via struct max: (q, -doc_id) so higher quality wins and the
      // LOWER id wins ties — packed, so one partial-aggregable max
      .groupBy("norm_hash")
      .agg(count(lit(1)).as("n_copies"),
        max(struct(col("q"), (-col("doc_id")).as("neg_id"))).as("best"))
      .select(col("norm_hash"), col("n_copies"),
        (-col("best.neg_id")).as("keep_id"), col("best.q").as("keep_q"))
      .orderBy("keep_id")
  }

  val keepBestOracle: String = s"""
WITH scored AS (
  SELECT md5(trim(regexp_replace(regexp_replace(lower(text), '[.!?,;:]', '', 'g'),
           ' +', ' ', 'g'))) AS norm_hash,
         doc_id,
         round(least(len(string_split(text, ' ')) / 100.0, 1.0) * 0.4 +
           ((len(text) - len(regexp_replace(text, '[a-zA-Z]', '', 'g'))) * 1.0
             / len(text)) * 0.4 +
           least(len(list_filter(string_split(text, ' '),
               w -> w IN (${TextOps.stopwords("en").map(w => s"'$w'").mkString(", ")})))
             * 1.0 / len(string_split(text, ' ')) * 5.0, 1.0) * 0.2, 6) AS q
  FROM documents),
ranked AS (
  SELECT norm_hash, doc_id, q,
         row_number() OVER (PARTITION BY norm_hash ORDER BY q DESC, doc_id ASC) AS rn,
         count(*) OVER (PARTITION BY norm_hash) AS n_copies
  FROM scored)
SELECT norm_hash, n_copies, doc_id AS keep_id, q AS keep_q
FROM ranked WHERE rn = 1 ORDER BY keep_id"""

  /** Vocabulary coverage curve — the tokenizer-training diagnostic: rank
    * words by corpus frequency and report each rank's cumulative share of
    * all token occurrences ("a 1k vocab covers 93% of tokens"). The
    * explode+count is corpus-linear with map-side partials; the ranking
    * window runs over the VOCABULARY (orders of magnitude smaller than the
    * corpus), which is the inherent scale of the curve itself. */
  def vocabCoverage(s: SparkSession, d: String, topK: Int = 100): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val freq = Tables.fanout(s, Tables.documents(s, d))
      .select(explode(ws).as("word"))
      .groupBy("word").agg(count(lit(1)).as("freq"))
    val ord = Window.orderBy(desc("freq"), asc("word"))
    freq
      .withColumn("rnk", row_number().over(ord))
      .withColumn("cum", sum("freq").over(ord.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("total", sum("freq").over(
        Window.orderBy(lit(1)).rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .filter(col("rnk") <= topK)
      .select(col("rnk").cast("int").as("rnk"), col("word"), col("freq"),
        round(col("cum").cast("double") / col("total"), 6).as("coverage"))
      .orderBy("rnk")
  }

  val vocabCoverageOracle: String = """
WITH freq AS (
  SELECT unnest(string_split(text, ' ')) AS word FROM documents),
counts AS (SELECT word, count(*) AS freq FROM freq GROUP BY word),
ranked AS (
  SELECT word, freq,
         CAST(row_number() OVER (ORDER BY freq DESC, word ASC) AS INT) AS rnk,
         sum(freq) OVER (ORDER BY freq DESC, word ASC
                         ROWS UNBOUNDED PRECEDING) AS cum,
         sum(freq) OVER () AS total
  FROM counts)
SELECT rnk, word, freq, round(cum * 1.0 / total, 6) AS coverage
FROM ranked WHERE rnk <= 100 ORDER BY rnk"""

  // ------------------------------------------------- temperature weighting

  /** Temperature-scaled source-mixing weights (the Pile/ROOTS balancing
    * rule at T=2, i.e. weights ∝ √count): big sources are down-weighted,
    * small ones surface. Arithmetic kept exact: each source's √count is
    * floored to integer micro-units FIRST, then the normalization is pure
    * BIGINT division — no cross-engine float summation order anywhere
    * (a raw sum of doubles over groups is shuffle-order-dependent).
    * upsample_x1000 = how much the source's share grows vs proportional
    * sampling. Scale shape: one hash-agg to a sources-sized frame; the
    * normalizing total is a 1-row cross join. */
  def mixTemperature(s: SparkSession, d: String): DataFrame = {
    val bySrc = Tables.documents(s, d)
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("q", expr("CAST(floor(sqrt(CAST(n_docs AS DOUBLE)) * 1000000) AS BIGINT)"))
    val tot = bySrc.agg(sum("q").as("qt"), sum("n_docs").as("nt"))
    bySrc.crossJoin(tot)
      .select(col("source"), col("n_docs"),
        expr("q * 1000000L div qt").as("weight_ppm"),
        // greatest(1,·): a source under 1 ppm of the corpus floors its
        // proportional share to 0 — Spark's div would return NULL and
        // DuckDB's // error; the guard (mirrored in the oracle) clamps the
        // denominator so extreme skew caps the ratio instead of diverging
        expr("(q * 1000000L div qt) * 1000L div greatest(1L, n_docs * 1000000L div nt)").as("upsample_x1000"))
      .orderBy("source")
  }

  val mixTemperatureOracle: String = """
WITH b AS (
  SELECT source, count(*) AS n_docs,
         CAST(floor(sqrt(CAST(count(*) AS DOUBLE)) * 1000000) AS BIGINT) AS q
  FROM documents GROUP BY source),
t AS (SELECT CAST(sum(q) AS BIGINT) AS qt, CAST(sum(n_docs) AS BIGINT) AS nt FROM b)
SELECT source, n_docs,
       CAST(q * 1000000 // qt AS BIGINT) AS weight_ppm,
       CAST((q * 1000000 // qt) * 1000 // greatest(1, n_docs * 1000000 // nt) AS BIGINT) AS upsample_x1000
FROM b, t ORDER BY source"""

  // --------------------------------------------- cross-doc span pruning

  /** C4-style cross-document span REMOVAL (the destructive sibling of
    * [[graft.ops.TokenOps.spanDedup]]'s profiling): cut every document
    * into disjoint 16-token spans, keep each distinct span's FIRST
    * occurrence in global (doc_id, position) order, drop every later
    * occurrence (across documents AND within one), and reassemble each
    * document from its surviving spans in position order. The result row
    * carries the reassembled text's fingerprint, so the hash gate checks
    * the reassembly itself, not just the counts. Scale shape: one bounded
    * generator, a 16-byte-fingerprint hash-agg picking min(encoded
    * position) per span, one fingerprint join back, a per-doc sorted-array
    * rebuild — spans shuffle as fingerprints + at most one surviving text
    * copy each; never all-pairs. */
  def spanPruneFirstWins(s: SparkSession, d: String): DataFrame = {
    val spans = Tables.fanout(s, Tables.documents(s, d))
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .withColumn("n", size(col("ws")))
      .select(col("doc_id"),
        expr("explode(sequence(0L, (n - 1) div 16))").as("c"),
        col("ws"))
      .select(col("doc_id"), col("c"),
        concat_ws(" ", expr("slice(ws, CAST(c * 16 + 1 AS INT), 16)")).as("span"))
      // encoded global order: the encoding keeps min() a single BIGINT
      // agg. The factor bounds spans per doc at 1M (a 16M-token document)
      // — far beyond any real corpus row, where the old 1000 factor
      // (16k-word docs) was a plausible silent-corruption edge
      .withColumn("pos", expr("doc_id * 1000000L + c"))
    val keeper = spans.groupBy(md5(col("span")).as("h"))
      .agg(min("pos").as("keep_pos"))
    val flagged = spans.join(keeper, md5(col("span")) === col("h"))
      .withColumn("kept", col("pos") === col("keep_pos"))
    flagged.groupBy("doc_id")
      .agg(count(lit(1)).as("n_spans"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
        md5(array_join(transform(
          array_sort(collect_list(when(col("kept"),
            struct(col("c"), col("span"))))),
          x => x.getField("span")), " ")).as("new_text_fp"))
      .orderBy("doc_id")
  }

  val spanPruneFirstWinsOracle: String = """
WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
sp AS (
  SELECT doc_id, CAST(u.c AS BIGINT) AS c,
         array_to_string(
           ws[(CAST(u.c AS INT) * 16 + 1):(CAST(u.c AS INT) * 16 + 16)],
           ' ') AS span,
         doc_id * 1000000 + CAST(u.c AS BIGINT) AS pos
  FROM w, UNNEST(range((len(ws) - 1) // 16 + 1)) AS u(c)),
keep AS (SELECT md5(span) AS h, min(pos) AS keep_pos FROM sp GROUP BY 1)
SELECT doc_id, count(*) AS n_spans,
       CAST(count(*) FILTER (WHERE pos = keep_pos) AS BIGINT) AS n_kept,
       md5(coalesce(string_agg(span, ' ' ORDER BY c)
         FILTER (WHERE pos = keep_pos), '')) AS new_text_fp
FROM sp JOIN keep ON md5(span) = keep.h
GROUP BY doc_id ORDER BY doc_id"""

  // ------------------------------------------------- dataset split + leakage

  /** Deterministic train/val/test assignment plus a leakage audit — the
    * step every training pipeline runs before anything touches the data.
    * Split by a salted md5 of the STABLE key (not rand(): reshuffling
    * partitions must never move a document across splits): first hex byte
    * < 0xcc → train (~79.7%), < 0xe6 → val (~10.2%), else test (~10.2%).
    * The audit then fingerprints each document's CONTENT and counts, per
    * split, documents whose exact content also appears in a DIFFERENT
    * split — the train/test contamination that silently inflates evals
    * (zero on a content-clean corpus: the audit's green state, which the
    * spec cross-checks by planting a duplicate and watching it flip).
    * One linear scan, a fingerprint hash-agg, one join back. */
  def datasetSplit(s: SparkSession, d: String): DataFrame =
    datasetSplitOf(Tables.documents(s, d))

  /** The reusable core over any (doc_id, text, n_chars) frame — the spec
    * plants a cross-split duplicate through this entry. */
  def datasetSplitOf(docs: DataFrame): DataFrame = {
    val h = substring(md5(concat_ws(":", lit("split"), col("doc_id"))), 1, 2)
    val sp = docs
      .select(col("doc_id"), col("n_chars"), md5(col("text")).as("fp"),
        when(h < "cc", "train").when(h < "e6", "val").otherwise("test").as("split"))
    val fpSplits = sp.groupBy("fp").agg(countDistinct("split").as("nsplits"))
    sp.join(fpSplits, "fp")
      .groupBy("split")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_chars").as("n_chars"),
        sum(when(col("nsplits") >= 2, 1L).otherwise(0L)).as("n_leaked"))
      .orderBy("split")
  }

  val datasetSplitOracle: String = """
WITH sp AS (
  SELECT doc_id, n_chars, md5(text) AS fp,
         CASE WHEN substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 2) < 'cc' THEN 'train'
              WHEN substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 2) < 'e6' THEN 'val'
              ELSE 'test' END AS split
  FROM documents),
fps AS (SELECT fp, count(DISTINCT split) AS nsplits FROM sp GROUP BY 1)
SELECT split, count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS n_chars,
       CAST(count(*) FILTER (WHERE nsplits >= 2) AS BIGINT) AS n_leaked
FROM sp JOIN fps USING (fp)
GROUP BY split ORDER BY split"""

  // --------------------------------------------- adaptive quality threshold

  /** Per-source ADAPTIVE quality filtering — instead of one global cutoff
    * (which a heterogeneous corpus turns into "delete the weakest source
    * whole"), each source keeps documents at or above its own median
    * lexical-diversity score (distinct-word ratio in exact ppm). The
    * median is percentile_disc — an actual data value, no interpolation to
    * disagree on cross-engine. Scale shape: token explode → per-doc
    * hash-agg (count + single distinct rides one pass), a sources-sized
    * median agg, broadcast join back, final per-source rollup. Nothing
    * document-sized reaches the driver. */
  /** TOKEN-MASS weighted median document length per source, next to the
    * plain document-count median — the two answer different planning
    * questions and diverge exactly when it matters: "half the DOCS are
    * shorter than X" (count median) vs "half the TOKENS live in docs
    * shorter than Y" (mass median, always ≥). Truncation budgets, packing
    * capacity ([[sequencePack]]) and loss accounting follow token mass,
    * not doc count. Both are exact integers: the mass median is the first
    * length where 2·cum_mass ≥ total_mass (cumulative window per source
    * over the tiny distinct-length table), the count median is
    * percentile_disc — an actual data value, nothing interpolated, so the
    * whole row hash-gates with no float in sight. */
  def weightedMedian(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // ONE corpus scan: the per-(source, length) cell carries both doc
    // count and token mass, and BOTH medians fall out of the same
    // cumulative window — the lower count-median (percentile_disc(0.5)
    // semantics) is the first length where 2·cum_docs ≥ total_docs,
    // exactly as the mass median is over cum_mass
    val counts = Tables.documents(s, d)
      .select(col("source"), size(split(col("text"), " ")).cast("long").as("v"))
      .groupBy("source", "v")
      .agg(count(lit(1)).as("nd"), sum("v").as("w"))
    val win = Window.partitionBy("source").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = counts.groupBy("source")
      .agg(sum("w").as("total_tokens"), sum("nd").as("total_docs"))
    val cum = counts
      .withColumn("cw", sum("w").over(win))
      .withColumn("cn", sum("nd").over(win))
      .join(tot, "source")
    val mass = cum.filter(col("cw") * 2 >= col("total_tokens"))
      .groupBy("source")
      .agg(min("v").as("median_len_by_tokens"), max("total_tokens").as("total_tokens"))
    val byDocs = cum.filter(col("cn") * 2 >= col("total_docs"))
      .groupBy("source")
      .agg(min("v").as("median_len_by_docs"))
    mass.join(byDocs, "source")
      .select("source", "total_tokens", "median_len_by_docs", "median_len_by_tokens")
      .orderBy("source")
  }

  val weightedMedianOracle: String = """
WITH lens AS (
  SELECT source, CAST(len(string_split(text, ' ')) AS BIGINT) AS v FROM documents),
counts AS (
  SELECT source, v, CAST(count(*) AS BIGINT) AS nd, CAST(sum(v) AS BIGINT) AS w
  FROM lens GROUP BY source, v),
cum AS (
  SELECT source, v,
         CAST(sum(w) OVER (PARTITION BY source ORDER BY v) AS BIGINT) AS cw,
         CAST(sum(nd) OVER (PARTITION BY source ORDER BY v) AS BIGINT) AS cn,
         CAST(sum(w) OVER (PARTITION BY source) AS BIGINT) AS total_tokens,
         CAST(sum(nd) OVER (PARTITION BY source) AS BIGINT) AS total_docs
  FROM counts),
mass AS (
  SELECT source, min(v) AS median_len_by_tokens, max(total_tokens) AS total_tokens
  FROM cum WHERE cw * 2 >= total_tokens GROUP BY source),
bydocs AS (
  SELECT source, min(v) AS median_len_by_docs
  FROM cum WHERE cn * 2 >= total_docs GROUP BY source)
SELECT source, total_tokens, median_len_by_docs, median_len_by_tokens
FROM mass JOIN bydocs USING (source) ORDER BY source"""

  /** Cross-source quality-score CALIBRATION by quantile normalization:
    * each document's lexical-diversity score is mapped to its percent
    * rank WITHIN its source, so one global threshold (here the top
    * quartile) means the same thing for every source — the standard fix
    * for "source A's scorer runs hot" when assembling a mixed training
    * corpus (complements [[qualityAdaptiveFilter]]'s per-source median
    * cut, which keeps a fixed fraction; calibration exposes the whole
    * comparable scale). Determinism: percent_rank is (rank−1)/(n−1) —
    * one small-integer IEEE division, correctly rounded, so the floats
    * gate bit-exactly; rank ties on equal scores share a value, so no
    * tie-break ambiguity reaches the output. Scale shape: the per-doc
    * score is one explode + hash-agg pass; the rank is one exchange on
    * the source key + an in-partition sort — no global sort, and at
    * 100 TB the window is per-source parallel. */
  /** The shared lexical-diversity score (distinct-word ratio in exact
    * ppm) both [[qualityCalibration]] and [[qualityAdaptiveFilter]]
    * rank on — one definition so the two queries cannot silently
    * diverge. (source, doc_id, nw, ndw, score_ppm). */
  private def scoredPpm(s: SparkSession, d: String): DataFrame =
    Tables.fanout(s, Tables.documents(s, d))
      .select(col("source"), col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .groupBy("source", "doc_id")
      .agg(count(lit(1)).as("nw"), countDistinct("w").as("ndw"))
      .withColumn("score_ppm", expr("ndw * 1000000L div nw"))

  def qualityCalibration(s: SparkSession, d: String): DataFrame = {
    scoredPpm(s, d)
      .withColumn("pct", percent_rank().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("source").orderBy("score_ppm")))
      .withColumn("top_quartile", col("pct") >= 0.75)
      .select("doc_id", "source", "score_ppm", "pct", "top_quartile")
      .orderBy("doc_id")
  }

  val qualityCalibrationOracle: String = """
WITH tok AS (
  SELECT source, doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
scored AS (
  SELECT source, doc_id,
         count(DISTINCT w) * 1000000 // count(*) AS score_ppm
  FROM tok GROUP BY 1, 2)
SELECT doc_id, source, score_ppm,
       percent_rank() OVER (PARTITION BY source ORDER BY score_ppm) AS pct,
       percent_rank() OVER (PARTITION BY source ORDER BY score_ppm) >= 0.75
         AS top_quartile
FROM scored ORDER BY doc_id"""

  def qualityAdaptiveFilter(s: SparkSession, d: String): DataFrame = {
    val scored = scoredPpm(s, d)
    val med = scored.groupBy("source").agg(
      expr("CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY score_ppm) AS BIGINT)").as("median_score_ppm"))
    scored.join(broadcast(med), "source")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("score_ppm") >= col("median_score_ppm"), 1L).otherwise(0L)).as("n_kept"),
        first("median_score_ppm").as("median_score_ppm"))
      .orderBy("source")
  }

  val qualityAdaptiveFilterOracle: String = """
WITH tok AS (
  SELECT source, doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
scored AS (
  SELECT source, doc_id,
         count(*) AS nw, count(DISTINCT w) AS ndw,
         count(DISTINCT w) * 1000000 // count(*) AS score_ppm
  FROM tok GROUP BY 1, 2),
med AS (
  SELECT source,
         CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY score_ppm) AS BIGINT) AS median_score_ppm
  FROM scored GROUP BY 1)
SELECT source, count(*) AS n_docs,
       CAST(count(*) FILTER (WHERE score_ppm >= median_score_ppm) AS BIGINT) AS n_kept,
       any_value(median_score_ppm) AS median_score_ppm
FROM scored JOIN med USING (source)
GROUP BY source ORDER BY source"""

  /** Weighted sampling without replacement by PRIORITY SAMPLING
    * (Duffield–Lund–Thorup, "Priority sampling for estimation of arbitrary
    * subset sums", JACM 2007): item i draws u_i uniform on (0,1], gets
    * priority w_i / u_i, and the m highest-priority items form the sample.
    * Here w_i is the document's token count, so the draw is the standard
    * token-budget-aware corpus subset (long documents proportionally
    * favored — sampling docs uniformly would bias the token mixture toward
    * short ones). The division w / u is the load-bearing choice: IEEE 754
    * requires division (unlike log/exp, whose libm rounding varies) to be
    * correctly rounded, so the priority is bit-identical across engines
    * and the sample is exactly hash-checkable — the same reason
    * Efraimidis–Spirakis u^(1/w) keys would NOT gate cleanly. The
    * uniform is (u32+1)/2^32 ∈ (0,1] from a salted md5 of the doc id,
    * so the priority is w·2^32/(u32+1): the numerator stays below 2^53
    * (exact as a double) and the whole key is ONE division. Scale shape:
    * narrow per-row projection into TakeOrderedAndProject — per-partition
    * top-m heaps, driver merges m rows per partition; the corpus itself
    * never shuffles or sorts. */
  def weightedSample(s: SparkSession, d: String, m: Int = 50): DataFrame =
    weightedSampleFrom(Tables.documents(s, d), m)

  /** Core over any (doc_id, source, text) frame — parameterized so specs
    * can plant corpora with known token weights. */
  def weightedSampleFrom(docs: DataFrame, m: Int): DataFrame =
    prioritized(docs)
      .orderBy(col("priority").desc, col("doc_id"))
      .limit(m)
      .select("doc_id", "source", "n_tokens")
      .orderBy("doc_id")

  /** (doc_id, source, n_tokens, u, priority) — the shared scoring
    * projection of [[weightedSampleFrom]] / [[prioritySubsetSumFrom]]. */
  private def prioritized(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), col("source"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
      .withColumn("u",
        conv(substring(md5(concat(lit("wsample:"), col("doc_id").cast("string"))), 1, 8), 16, 10)
          .cast("long") + 1L)
      .withColumn("priority",
        col("n_tokens").cast("double") * lit(4294967296.0) / col("u").cast("double"))

  val weightedSampleOracle: String = """
WITH w AS (
  SELECT doc_id, source,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         CAST(list_sum(list_transform(generate_series(1, 8),
           j -> CAST((strpos('0123456789abcdef',
                  substr(md5('wsample:' || CAST(doc_id AS VARCHAR)), j, 1)) - 1) AS BIGINT)
                * CAST(power(16, 8 - j) AS BIGINT))) AS BIGINT) + 1 AS u
  FROM documents),
s AS (SELECT doc_id, source, n_tokens FROM w
      ORDER BY CAST(n_tokens AS DOUBLE) * 4294967296.0 / CAST(u AS DOUBLE) DESC, doc_id
      LIMIT 50)
SELECT * FROM s ORDER BY doc_id"""

  /** The 100 TB payoff of [[weightedSample]]: the THRESHOLD ESTIMATOR.
    * With τ = the (m+1)-th highest priority, Σ over sampled items of
    * max(w_i, τ) is an unbiased estimate of the full corpus token total
    * (Duffield et al. Thm 1) — subset sums over 100 TB answered from an
    * m-row sample, no second scan. This query demonstrates the contract
    * the way `approx_distinct` does: it computes the exact total (the
    * audit side a production pipeline would skip), the quantized estimate,
    * and an in-bound boolean, and the gate hashes all three. Determinism:
    * max() and floor() of correctly-rounded doubles are exact, and the
    * per-item estimates are floored to integer 1e-4 units BEFORE summing,
    * so addition order cannot produce engine-divergent rounding. The
    * (m+1)-row window is bounded by construction — TakeOrderedAndProject
    * feeds it, never the corpus. */
  def prioritySubsetSum(s: SparkSession, d: String, m: Int = 50): DataFrame =
    prioritySubsetSumFrom(Tables.documents(s, d), m)

  def prioritySubsetSumFrom(docs: DataFrame, m: Int): DataFrame = {
    val scored = prioritized(docs)
    val topm1 = scored.orderBy(col("priority").desc, col("doc_id")).limit(m + 1)
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("priority").desc, col("doc_id"))))
    val tau = topm1.agg(
      coalesce(max(when(col("rn") === m + 1, col("priority"))), lit(0.0)).as("tau"))
    val est = topm1.filter(col("rn") <= m).crossJoin(tau)
      .agg(count(lit(1)).as("n_sampled"),
        max(floor(col("tau") * 1e4).cast("long")).as("tau_q4"),
        sum(floor(greatest(col("n_tokens").cast("double"), col("tau")) * 1e4).cast("long"))
          .as("est_total_q4"))
    val exact = scored.agg(count(lit(1)).as("n_docs"),
      sum("n_tokens").as("exact_total_tokens"))
    exact.crossJoin(est)
      .withColumn("in_bound",
        abs(col("est_total_q4") - col("exact_total_tokens") * 10000L)
          <= col("exact_total_tokens") * 3500L)
      .select("n_docs", "exact_total_tokens", "n_sampled", "tau_q4",
        "est_total_q4", "in_bound")
  }

  val prioritySubsetSumOracle: String = """
WITH w AS (
  SELECT doc_id,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         CAST(list_sum(list_transform(generate_series(1, 8),
           j -> CAST((strpos('0123456789abcdef',
                  substr(md5('wsample:' || CAST(doc_id AS VARCHAR)), j, 1)) - 1) AS BIGINT)
                * CAST(power(16, 8 - j) AS BIGINT))) AS BIGINT) + 1 AS u
  FROM documents),
p AS (SELECT doc_id, n_tokens,
             CAST(n_tokens AS DOUBLE) * 4294967296.0 / CAST(u AS DOUBLE) AS priority
      FROM w),
top AS (SELECT *, row_number() OVER (ORDER BY priority DESC, doc_id) AS rn
        FROM p ORDER BY priority DESC, doc_id LIMIT 51),
tau AS (SELECT coalesce(max(priority) FILTER (WHERE rn = 51), 0.0) AS tau FROM top),
est AS (SELECT CAST(count(*) AS BIGINT) AS n_sampled,
               max(CAST(floor(tau * 10000) AS BIGINT)) AS tau_q4,
               CAST(sum(CAST(floor(greatest(CAST(n_tokens AS DOUBLE), tau) * 10000) AS BIGINT))
                 AS BIGINT) AS est_total_q4
        FROM top, tau WHERE rn <= 50),
exact AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
                 CAST(sum(n_tokens) AS BIGINT) AS exact_total_tokens FROM w)
SELECT n_docs, exact_total_tokens, n_sampled, tau_q4, est_total_q4,
       abs(est_total_q4 - exact_total_tokens * 10000) <= exact_total_tokens * 3500
         AS in_bound
FROM exact, est"""

  // ------------------------------------------------------------ epoch shuffle

  /** Reproducible global shuffle — the per-epoch corpus permutation a
    * training pipeline needs: every document gets a seeded pseudo-random
    * sort key `md5('epoch:<seed>:' || doc_id)` (cross-engine identical,
    * unlike Spark's `rand`/`hash`), the key's first hex digit is the
    * shard, and within a shard the key IS the read order. Changing the
    * seed re-permutes everything; re-running the same seed reproduces the
    * epoch exactly — determinism a `repartition(shuffle=true)` cannot
    * give. At 100 TB this is ONE hash-partition exchange per epoch (shard
    * count = target file count, writers stream each shard sorted by key);
    * here the gate checks the per-shard composition: sizes, the head/tail
    * documents of each shard's read order (min_by/max_by on the key), and
    * the shard's token mass. EpochShuffleSpec proves determinism,
    * epoch-to-epoch decorrelation, and shard balance. */
  def epochShuffleKey(seed: String): Column =
    md5(concat(lit(s"epoch:$seed:"), col("doc_id").cast("string")))

  def epochShuffle(s: SparkSession, d: String, seed: String = "42"): DataFrame =
    Tables.documents(s, d)
      .withColumn("k", epochShuffleKey(seed))
      .withColumn("shard", substring(col("k"), 1, 1))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"),
        min_by(col("doc_id"), col("k")).as("first_doc"),
        max_by(col("doc_id"), col("k")).as("last_doc"),
        sum("n_chars").as("sum_chars"))
      .orderBy("shard")

  val epochShuffleOracle: String = """
WITH k AS (
  SELECT doc_id, n_chars,
         md5('epoch:42:' || CAST(doc_id AS VARCHAR)) AS k
  FROM documents)
SELECT substr(k, 1, 1) AS shard, count(*) AS n_docs,
       arg_min(doc_id, k) AS first_doc, arg_max(doc_id, k) AS last_doc,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars
FROM k GROUP BY 1 ORDER BY 1"""

  // ------------------------------------------------- DSIR importance sample

  /** Data Selection via Importance Resampling (Xie et al. 2023, arXiv
    * 2302.03169) — the hashed-n-gram importance weighting a pipeline uses
    * to pull target-domain-like documents out of a raw corpus. Features
    * are word unigrams hashed into 256 buckets (2 md5 hex chars — the
    * repo's portable cross-engine hash); the target distribution is the
    * `lang = 'en'` slice, raw is the whole corpus. Each token contributes
    * the bucket's probability RATIO (target/raw, smoothed +1), kept in
    * exact integer ppm rather than the paper's log-likelihood — division
    * is correctly rounded by IEEE spec where libm log is not, so the
    * score itself hash-gates (the repo's D2 determinism rule; same
    * reasoning as `weighted_sample`). A document's score is its
    * per-token mean ratio, and `kept` marks the top-100 by
    * (score, doc_id) — importance RANKING, as DSIR resamples.
    *
    * Scale shape: the bucket-stats table is 256 rows (broadcast); tokens
    * shuffle only as (bucket:int, doc_id) pairs for the two hash-aggs —
    * never text. The top-100 boundary is EXACT at any scale without a
    * global sort: a bounded `topk_min` aggregate (100-pair state, partial
    * map-side merge) finds the 100th-ranked (score, doc_id) and `kept`
    * compares against that broadcast threshold. */
  def dsirSample(s: SparkSession, d: String): DataFrame = {
    // One pass over the raw token stream: consuming it through THREE
    // branches (source histogram, en-filtered target histogram, per-doc
    // scoring) would run the explode + per-token md5 pipeline ~3× the
    // corpus, because the pushed lang filter makes the branches'
    // exchange subtrees differ. Pre-aggregating ONCE to
    // (doc_id, lang, bucket, cnt) — docs × ≤256 buckets, far smaller
    // than token instances — gives every branch the identical exchange
    // subtree (explode runs once), the target histogram becomes a
    // CONDITIONAL sum instead of a filtered second pass + left join +
    // na.fill (exactly equal: a bucket with no en tokens sums to 0, what
    // the fill produces), and the per-doc score re-aggregates counts
    // (Σ lr·cnt / Σ cnt ≡ the per-instance mean).
    val docB = Tables.fanout(s, Tables.documents(s, d))
      .select(col("doc_id"), col("lang"),
        explode(split(col("text"), " ")).as("w"))
      .withColumn("b", conv(substring(md5(col("w")), 1, 2), 16, 10).cast("long"))
      .groupBy("doc_id", "lang", "b").agg(count(lit(1)).as("cnt"))
    val stats = docB.groupBy("b").agg(
      sum("cnt").as("sb"),
      sum(when(col("lang") === "en", col("cnt")).otherwise(0L)).as("tbc"))
    val tot = stats.agg(sum("sb").as("s_tot"), sum("tbc").as("t_tot"))
    val rated = stats.crossJoin(broadcast(tot))
      .select(col("b"), expr(
        """((tbc + 1) * 1000000L div (t_tot + 256)) * 1000000L
           div ((sb + 1) * 1000000L div (s_tot + 256)) - 1000000L""").as("lr_ppm"))
    val scored = docB.join(broadcast(rated), "b")
      .groupBy("doc_id")
      .agg(sum("cnt").as("n_tokens"),
        expr("sum(lr_ppm * cnt) div sum(cnt)").as("dsir_ppm"))
    // `kept` must not be a partition-less row_number over EVERY scored
    // doc — a SinglePartition exchange + one-task sort of the
    // corpus-sized score table would be dsir's dominant at-scale cost.
    // The global rank only ever
    // DECIDES a boundary, so compute the boundary with the repo's bounded
    // top-k aggregate instead: topk_min(-dsir_ppm, doc_id, 100) keeps the
    // 100 smallest (-dsir_ppm, doc_id) pairs — i.e. the top-100 in
    // (dsir_ppm DESC, doc_id ASC) rank order — with O(100) state per
    // partial, merged map-side; its LAST element is the 100th-ranked row.
    // kept ≡ "(-dsir_ppm, doc_id) <= that element lexicographically", which
    // equals rank <= 100 exactly: the rank order IS this lexicographic
    // order and (dsir_ppm, doc_id) pairs are unique (doc_id is a key).
    // Fewer than 100 docs ⇒ the threshold is the order-maximum row ⇒ all
    // kept, as rank <= 100 marked them. The scored subtree feeds both the
    // threshold and the output, so its exchange is built once and reused
    // (no grouping-key filter to split it — verified with `graft.Tool reuse`).
    graft.functions.GraftFunctions.register(s)
    val thr = scored
      .agg(call_function("topk_min",
        -col("dsir_ppm"), col("doc_id"), lit(100)).as("top"))
      // `get` (not element_at): null, never an ANSI error, on empty input
      .select(get(col("top"), size(col("top")) - 1).as("t"))
    scored.crossJoin(broadcast(thr))
      .withColumn("kept",
        (col("dsir_ppm") > -col("t.dist")) ||
          (col("dsir_ppm") === -col("t.dist") && col("doc_id") <= col("t.id")))
      .select("doc_id", "n_tokens", "dsir_ppm", "kept")
      .orderBy("doc_id")
  }

  val dsirSampleOracle: String = """
WITH tok AS (
  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w FROM documents),
tb AS (
  SELECT doc_id, lang,
         list_sum(list_transform(generate_series(1, 2),
           i -> CAST((strpos('0123456789abcdef', substr(md5(w), i, 1)) - 1) AS BIGINT)
                * CAST(power(16, 2 - i) AS BIGINT))) AS b
  FROM tok),
src AS (SELECT b, count(*) AS sb FROM tb GROUP BY 1),
tgt AS (SELECT b, count(*) AS tbc FROM tb WHERE lang = 'en' GROUP BY 1),
stats AS (SELECT b, sb, coalesce(tbc, 0) AS tbc FROM src LEFT JOIN tgt USING (b)),
tot AS (SELECT sum(sb) AS s_tot, sum(tbc) AS t_tot FROM stats),
rated AS (
  SELECT b,
    ((tbc + 1) * 1000000 // (t_tot + 256)) * 1000000
      // ((sb + 1) * 1000000 // (s_tot + 256)) - 1000000 AS lr_ppm
  FROM stats, tot),
scored AS (
  SELECT doc_id, count(*) AS n_tokens,
         CAST(sum(lr_ppm) // count(*) AS BIGINT) AS dsir_ppm
  FROM tb JOIN rated USING (b) GROUP BY doc_id)
SELECT doc_id, n_tokens, dsir_ppm,
       row_number() OVER (ORDER BY dsir_ppm DESC, doc_id) <= 100 AS kept
FROM scored ORDER BY doc_id"""

  // -------------------------------------------- source distribution distance

  /** Pairwise total-variation distance between per-source unigram
    * distributions — the "how different are my corpus slices" diagnostic
    * behind source-mixing decisions ([[mixTemperature]] reweights by size;
    * this measures CONTENT divergence). TV is chosen over KL/JS because it
    * is a pure rational of the counts — with p = c_a/n_a, q = c_b/n_b,
    * TV = ½·Σ|p−q| decomposes over the SHARED vocabulary as
    * ½·[Σ_both |c_a·n_b − c_b·n_a| + (n_a·n_b − Σ_both c_a·n_b)
    *    + (n_a·n_b − Σ_both c_b·n_a)] / (n_a·n_b)
    * (the two complement terms are the one-sided masses), so the ppm result
    * is exact BIGINT floor division and hash-gates where JS's p·ln p would
    * not. Scale shape: the (source, token) count table is one explode + one
    * hash-agg; the pair expansion joins that table to itself ON TOKEN, so
    * fan-out per token is (#sources)² — sources are a dimension (tens), not
    * data-sized — and the per-pair reduce is a hash-agg on (src_a, src_b).
    * Nothing driver-side; the vocabulary never collects. */
  def sourceTvDistance(s: SparkSession, d: String): DataFrame = {
    val cnt = Tables.fanout(s, Tables.documents(s, d))
      .select(col("source"), explode(split(lower(col("text")), " ")).as("tok"))
      .groupBy("source", "tok").agg(count(lit(1)).as("c"))
    val tot = cnt.groupBy("source").agg(sum("c").as("n"))
    val a = cnt.join(tot, "source")
      .select(col("tok"), col("source").as("src_a"), col("c").as("ca"), col("n").as("na"))
    val b = cnt.join(tot, "source")
      .select(col("tok"), col("source").as("src_b"), col("c").as("cb"), col("n").as("nb"))
    a.join(b, "tok").filter(col("src_a") < col("src_b"))
      .groupBy("src_a", "na", "src_b", "nb")
      .agg(count(lit(1)).as("shared_tokens"),
        sum(abs(col("ca") * col("nb") - col("cb") * col("na"))).as("diff_both"),
        sum(col("ca") * col("nb")).as("mass_a"),
        sum(col("cb") * col("na")).as("mass_b"))
      .withColumn("tv_ppm", expr(
        "(diff_both + (na * nb - mass_a) + (na * nb - mass_b)) * 1000000L DIV (2L * na * nb)"))
      .select("src_a", "src_b", "shared_tokens", "tv_ppm")
      .orderBy("src_a", "src_b")
  }

  val sourceTvDistanceOracle: String = """
WITH toks AS (
  SELECT source, unnest(string_split(lower(text), ' ')) AS tok FROM documents),
c AS (SELECT source, tok, count(*) AS c FROM toks GROUP BY 1, 2),
t AS (SELECT source, CAST(sum(c) AS BIGINT) AS n FROM c GROUP BY 1),
j AS (
  SELECT a.source AS src_a, ta.n AS na, b.source AS src_b, tb.n AS nb,
         a.c AS ca, b.c AS cb
  FROM c a JOIN c b ON a.tok = b.tok AND a.source < b.source
  JOIN t ta ON ta.source = a.source
  JOIN t tb ON tb.source = b.source)
SELECT src_a, src_b, count(*) AS shared_tokens,
       CAST((sum(abs(ca * nb - cb * na)) + (na * nb - sum(ca * nb))
             + (na * nb - sum(cb * na))) * 1000000
            // (2 * na * nb) AS BIGINT) AS tv_ppm
FROM j GROUP BY src_a, na, src_b, nb ORDER BY src_a, src_b"""

  // ----------------------------------------------- in-batch negative sampling

  /** Deterministic in-batch negative assignment for contrastive training —
    * the sampler behind CLIP/DPR-style objectives: shuffle the corpus with
    * a seeded md5 key (epoch 1 of [[epochShuffle]]'s keying), cut each
    * shard's shuffle order into batches of 8, and pair every document with
    * the OTHER members of its batch as negatives, dropping exact-duplicate
    * texts from a batch's negative set (a duplicate is a FALSE negative —
    * the model would be pushed away from its own positive). Output is the
    * per-anchor negative-set summary (count, id-sum checksum, min id) so
    * the full assignment hash-gates without dumping 8×N pair rows. Scale
    * shape: the batching window partitions by the md5 shard (hex-digit
    * prefix — one digit here so test-scale batches actually fill; widen
    * the prefix as the corpus grows, the shards stay balanced by
    * construction), and the pairing self-join keys on (shard, batch) with
    * fan-out bounded by the batch size — never all-pairs. Re-keying the
    * md5 seed re-deals every batch per epoch with zero state. */
  def inbatchNegatives(s: SparkSession, d: String, batch: Int = 8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(s, d).select(col("doc_id"),
        md5(concat(lit("neg:1:"), col("doc_id").cast("string"))).as("k"),
        md5(col("text")).as("fp"))
      .withColumn("shard", substring(col("k"), 1, 1))
    val w = Window.partitionBy("shard").orderBy("k", "doc_id")
    val batched = docs.withColumn("rn", row_number().over(w))
      .withColumn("bseq", expr(s"(rn - 1) DIV $batch"))
      .select("doc_id", "fp", "shard", "bseq")
    val other = batched.select(col("shard"), col("bseq"),
      col("doc_id").as("neg_id"), col("fp").as("neg_fp"))
    batched.join(other, Seq("shard", "bseq"))
      .filter(col("neg_id") =!= col("doc_id") && col("neg_fp") =!= col("fp"))
      .groupBy("doc_id", "shard", "bseq")
      .agg(count(lit(1)).as("n_negatives"), sum("neg_id").as("neg_sum"),
        min("neg_id").as("neg_min"))
      .select(col("doc_id"),
        concat(col("shard"), lit(":"), col("bseq").cast("string")).as("batch_key"),
        col("n_negatives"), col("neg_sum"), col("neg_min"))
      .orderBy("doc_id")
  }

  val inbatchNegativesOracle: String = """
WITH d AS (
  SELECT doc_id, md5('neg:1:' || CAST(doc_id AS VARCHAR)) AS k, md5(text) AS fp
  FROM documents),
b AS (
  SELECT doc_id, fp, substr(k, 1, 1) AS shard,
         (row_number() OVER (PARTITION BY substr(k, 1, 1) ORDER BY k, doc_id) - 1) // 8 AS bseq
  FROM d),
pr AS (
  SELECT a.doc_id, a.shard, a.bseq, n.doc_id AS neg_id
  FROM b a JOIN b n ON a.shard = n.shard AND a.bseq = n.bseq
  WHERE n.doc_id <> a.doc_id AND n.fp <> a.fp)
SELECT doc_id, shard || ':' || CAST(bseq AS VARCHAR) AS batch_key,
       count(*) AS n_negatives, CAST(sum(neg_id) AS BIGINT) AS neg_sum,
       min(neg_id) AS neg_min
FROM pr GROUP BY doc_id, shard, bseq ORDER BY doc_id"""

  // ------------------------------------------------- cross-source overlap

  /** Cross-source shared-opening overlap — the mirror-site / syndication
    * diagnostic: fingerprint each document's normalized 8-token opening
    * span and count, per source pair, how many distinct fingerprints both
    * sources contain (plus the Jaccard of their fingerprint sets in exact
    * ppm). Complements [[sourceTvDistance]]: TV measures DISTRIBUTION
    * divergence, this measures literal shared content — a pair can be
    * distributionally close yet share nothing, or far yet mirror each
    * other's openings. Scale shape: one md5 per doc, a (source, fp)
    * distinct, and a fp-keyed self-join whose fan-out per fingerprint is
    * bounded by the source count — the [[sourceTvDistance]] join shape,
    * never doc×doc. */
  def sourceOverlap(s: SparkSession, d: String): DataFrame = {
    val fp = Tables.documents(s, d)
      .select(col("source"),
        md5(concat_ws(" ", slice(split(lower(col("text")), " "), 1, 8))).as("fp"))
      .distinct()
    val sizes = fp.groupBy("source").agg(count(lit(1)).as("n_fp"))
    val a = fp.join(sizes, "source")
      .select(col("fp"), col("source").as("src_a"), col("n_fp").as("na"))
    val b = fp.join(sizes, "source")
      .select(col("fp"), col("source").as("src_b"), col("n_fp").as("nb"))
    a.join(b, "fp").filter(col("src_a") < col("src_b"))
      .groupBy("src_a", "na", "src_b", "nb")
      .agg(count(lit(1)).as("n_shared"))
      .withColumn("jaccard_ppm",
        expr("n_shared * 1000000L DIV (na + nb - n_shared)"))
      .select("src_a", "src_b", "n_shared", "jaccard_ppm")
      .orderBy("src_a", "src_b")
  }

  val sourceOverlapOracle: String = """
WITH fp AS (
  SELECT DISTINCT source,
         md5(array_to_string(string_split(lower(text), ' ')[1:8], ' ')) AS fp
  FROM documents),
sz AS (SELECT source, count(*) AS n_fp FROM fp GROUP BY 1),
j AS (
  SELECT a.source AS src_a, sa.n_fp AS na, b.source AS src_b, sb.n_fp AS nb
  FROM fp a JOIN fp b ON a.fp = b.fp AND a.source < b.source
  JOIN sz sa ON sa.source = a.source
  JOIN sz sb ON sb.source = b.source)
SELECT src_a, src_b, count(*) AS n_shared,
       CAST(count(*) * 1000000 // (na + nb - count(*)) AS BIGINT) AS jaccard_ppm
FROM j GROUP BY src_a, na, src_b, nb ORDER BY src_a, src_b"""

  // ------------------------------------------------------------ dataset card

  /** One-row dataset card — the summary block a corpus release ships
    * (HuggingFace dataset-card / Datasheets-for-Datasets practice):
    * document and token volume, vocabulary size, source/language
    * breadth, English share, exact-duplicate rate (normalized-text md5),
    * and mean document length — every figure an exact BIGINT or integer
    * ppm so the card itself hash-gates. Scale shape: one explode feeding
    * two hash-aggs (token count + vocab), one doc-level agg, one
    * fingerprint dup-count agg; the five scalar sides meet in broadcast
    * crossJoins — no row-sized data ever funnels. */
  def datasetCard(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val base = docs.agg(
      count(lit(1)).as("n_docs"),
      countDistinct("source").as("n_sources"),
      countDistinct("lang").as("n_langs"),
      sum(when(col("lang") === "en", 1L).otherwise(0L)).as("n_en_docs"))
    val toks = Tables.fanout(s, docs)
      .select(explode(split(lower(col("text")), " ")).as("tok"))
    val tokStats = toks.agg(count(lit(1)).as("n_tokens"),
      countDistinct("tok").as("vocab"))
    val dups = docs
      .select(md5(regexp_replace(lower(col("text")), "[^a-z0-9 ]", "")).as("fp"))
      .groupBy("fp").agg(count(lit(1)).as("n"))
      .agg(sum(expr("CASE WHEN n > 1 THEN n ELSE 0L END")).as("dup_docs"))
    base.crossJoin(broadcast(tokStats)).crossJoin(broadcast(dups))
      .select(col("n_docs"), col("n_tokens"), col("vocab"),
        col("n_sources"), col("n_langs"),
        expr("n_en_docs * 1000000L DIV n_docs").as("en_ppm"),
        expr("dup_docs * 1000000L DIV n_docs").as("dup_ppm"),
        expr("n_tokens DIV n_docs").as("mean_doc_tokens"))
  }

  val datasetCardOracle: String = """
WITH base AS (
  SELECT count(*) AS n_docs, count(DISTINCT source) AS n_sources,
         count(DISTINCT lang) AS n_langs,
         CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n_en_docs
  FROM documents),
t AS (
  SELECT count(*) AS n_tokens, count(DISTINCT tok) AS vocab
  FROM (SELECT unnest(string_split(lower(text), ' ')) AS tok FROM documents)),
dup AS (
  SELECT CAST(coalesce(sum(CASE WHEN n > 1 THEN n ELSE 0 END), 0) AS BIGINT) AS dup_docs
  FROM (SELECT md5(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g')) AS fp,
               count(*) AS n
        FROM documents GROUP BY 1))
SELECT n_docs, n_tokens, vocab, n_sources, n_langs,
       CAST(n_en_docs * 1000000 // n_docs AS BIGINT) AS en_ppm,
       CAST(dup_docs * 1000000 // n_docs AS BIGINT) AS dup_ppm,
       CAST(n_tokens // n_docs AS BIGINT) AS mean_doc_tokens
FROM base CROSS JOIN t CROSS JOIN dup"""

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "source_tv_distance"   -> (sourceTvDistance _),
    "source_overlap"       -> (sourceOverlap _),
    "dataset_card"         -> (datasetCard _),
    "inbatch_negatives"    -> ((s: SparkSession, d: String) => inbatchNegatives(s, d)),
    "dsir_importance_sample" -> (dsirSample _),
    "epoch_shuffle"        -> ((s: SparkSession, d: String) => epochShuffle(s, d)),
    "weighted_sample"      -> ((s: SparkSession, d: String) => weightedSample(s, d)),
    "priority_subset_sum"  -> ((s: SparkSession, d: String) => prioritySubsetSum(s, d)),
    "span_prune_firstwins" -> (spanPruneFirstWins _),
    "dataset_split"        -> (datasetSplit _),
    "quality_adaptive_filter" -> (qualityAdaptiveFilter _),
    "quality_calibration"  -> (qualityCalibration _),
    "weighted_median"      -> (weightedMedian _),
    "mix_temperature"      -> (mixTemperature _),
    "text_repetition"      -> (repetition _),
    "contamination_ngrams" -> (contamination _),
    "mix_sample"           -> (mixSample _),
    "sequence_pack"        -> ((s: SparkSession, d: String) => sequencePack(s, d)),
    "dedup_keep_best"      -> (keepBest _),
    "vocab_coverage"       -> ((s: SparkSession, d: String) => vocabCoverage(s, d))
  )

  val oracleSql: Map[String, String] = Map(
    "source_tv_distance"   -> sourceTvDistanceOracle,
    "source_overlap"       -> sourceOverlapOracle,
    "dataset_card"         -> datasetCardOracle,
    "inbatch_negatives"    -> inbatchNegativesOracle,
    "dsir_importance_sample" -> dsirSampleOracle,
    "epoch_shuffle"        -> epochShuffleOracle,
    "weighted_sample"      -> weightedSampleOracle,
    "priority_subset_sum"  -> prioritySubsetSumOracle,
    "span_prune_firstwins" -> spanPruneFirstWinsOracle,
    "dataset_split"        -> datasetSplitOracle,
    "quality_adaptive_filter" -> qualityAdaptiveFilterOracle,
    "quality_calibration"  -> qualityCalibrationOracle,
    "weighted_median"      -> weightedMedianOracle,
    "mix_temperature"      -> mixTemperatureOracle,
    "text_repetition"      -> repetitionOracle,
    "contamination_ngrams" -> contaminationOracle,
    "mix_sample"           -> mixSampleOracle,
    "sequence_pack"        -> sequencePackOracle,
    "dedup_keep_best"      -> keepBestOracle,
    "vocab_coverage"       -> vocabCoverageOracle
  )
}
