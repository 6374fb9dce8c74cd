package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.util.SessionCaches.PersistOnce

/** Distributed, exactly-reproducible LINEAR CLASSIFIER training — the
  * trainable quality/language-filter stage of a corpus pipeline (the
  * fasttext-style filter every large pretraining corpus runs), expressed
  * as the engine primitive it really is: K passes of a batch PERCEPTRON
  * with normalized integer steps.
  *
  * Why a perceptron and why integers: gradient methods need a sigmoid —
  * and `exp` is libm-implementation-specific, so a logistic trainer can
  * never hash-match a second engine. The batch perceptron's update is
  *
  * {{{ w ← w + (Σ_{misclassified i} yᵢ·xᵢ) DIV max(1, |misclassified|) }}}
  *
  * — a SUM of integer vectors followed by ONE truncating division, so
  * every round is order-independent exact arithmetic that DuckDB
  * reproduces bit-for-bit (`//` and Spark's `DIV` both truncate toward
  * zero). Normalizing by the misclassified count bounds the weights by
  * rounds·max|x| (≈ 8·10⁶ here) REGARDLESS of corpus size, so the w·x
  * dot products stay ~10¹³ — far inside Long at any SF.
  *
  * Scale shape: each round is ONE map-side-partial aggregate over the
  * feature frame (a filter + 5 sums — no shuffle beyond the scalar
  * collect), identical to the Lloyd/PageRank unrolled-iteration
  * discipline; the per-round driver state is five longs (the same
  * kilobyte class as IVF centroids). The feature frame is computed once
  * and cached per (session, corpus).
  *
  * Features (integer, engine-neutral): bias, capped word count,
  * alphabetic-character ppm, English-stopword ppm. Label: +1 when
  * [[TextOps.langId]]'s deterministic argmax predicts 'en', else −1.
  * [[perceptronTrain]] emits the full training TRAJECTORY (per-round
  * weights + misclassified count) — any drift in any round fails the
  * gate; [[perceptronScore]] applies the round-[[Rounds]] model back to
  * the corpus and reports the confusion counts, the apply-side of the
  * filter. */
object Classifier {

  val Rounds = 8
  val WordCap = 1000L

  /** (doc_id, y, x0..x3) — all BIGINT, restated verbatim in the oracle. */
  private def featureFrame(s: SparkSession, d: String): DataFrame = {
    val nWords = size(TextOps.ws).cast("long")
    val nChars = length(col("text")).cast("long")
    val alpha = (nChars -
      length(regexp_replace(col("text"), "[a-zA-Z]", "")).cast("long"))
    val scores = Seq("en", "es", "de", "fr")
      .map(l => TextOps.hitCount(l).cast("long").as(s"score_$l"))
    val isEn = col("score_en") > 0 &&
      col("score_en") >= col("score_es") &&
      col("score_en") >= col("score_de") &&
      col("score_en") >= col("score_fr")
    Tables.documents(s, d)
      .select(col("doc_id") +: col("text") +: scores: _*)
      .withColumn("n_words", nWords)
      .withColumn("n_chars", nChars)
      .withColumn("alpha", alpha)
      .withColumn("stops", TextOps.hitCount("en").cast("long"))
      .select(
        col("doc_id"),
        when(isEn, 1L).otherwise(-1L).as("y"),
        lit(1L).as("x0"),
        least(col("n_words"), lit(WordCap)).as("x1"),
        // DIV, not `/`: Column `/` on longs is a DOUBLE divide; both
        // engines' integer division truncates toward zero. greatest(1, _)
        // guards the empty-document case symmetrically with the oracle:
        // Spark's DIV by zero yields NULL while DuckDB's `//` raises, so
        // an unguarded denominator would desync or fail the gate on any
        // corpus containing an empty text.
        expr("(alpha * 1000000L) DIV greatest(1L, n_chars)").as("x2"),
        expr("(stops * 1000000L) DIV greatest(1L, n_words)").as("x3"))
  }

  // the cached feature frame is scanned Rounds times — memoized like the
  // shingle table so bench passes and the score query share one build
  private val featCache = graft.util.SessionCaches.memo[Unit]("classifier.features")

  private def features(s: SparkSession, d: String): DataFrame =
    featCache(s, d)(
      featureFrame(s, d)
        .persistOnce())

  private def margin(w: Array[Long]): Column =
    col("y") * (lit(w(0)) * col("x0") + lit(w(1)) * col("x1") +
      lit(w(2)) * col("x2") + lit(w(3)) * col("x3"))

  /** Run the K rounds, returning (round, weights-after, n_misclassified)
    * — n counted against the round's STARTING weights. */
  private def trajectory(s: SparkSession, d: String): Seq[(Int, Array[Long], Long)] = {
    val f = features(s, d)
    var w = Array(0L, 0L, 0L, 0L)
    (1 to Rounds).map { r =>
      val mis = f.filter(margin(w) <= 0)
      // ONE aggregate → five longs on the driver (kilobyte-class scalar,
      // the Lloyd-centroid precedent)
      val g = mis.agg(
        coalesce(sum(col("y") * col("x0")), lit(0L)),
        coalesce(sum(col("y") * col("x1")), lit(0L)),
        coalesce(sum(col("y") * col("x2")), lit(0L)),
        coalesce(sum(col("y") * col("x3")), lit(0L)),
        count(lit(1))).head()
      val n = g.getLong(4)
      val div = math.max(1L, n)
      w = Array(
        w(0) + g.getLong(0) / div, w(1) + g.getLong(1) / div,
        w(2) + g.getLong(2) / div, w(3) + g.getLong(3) / div)
      (r, w.clone(), n)
    }
  }

  /** The gated training query: one row per round. */
  def perceptronTrain(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    trajectory(s, d)
      .map { case (r, w, n) => (r, w(0), w(1), w(2), w(3), n) }
      .toDF("round", "w0", "w1", "w2", "w3", "n_misclassified")
  }

  /** Apply the trained model: confusion counts of sign(w·x) vs y. */
  def perceptronScore(s: SparkSession, d: String): DataFrame = {
    val w = trajectory(s, d).last._2
    features(s, d)
      .withColumn("pred",
        when((lit(w(0)) * col("x0") + lit(w(1)) * col("x1") +
          lit(w(2)) * col("x2") + lit(w(3)) * col("x3")) > 0, 1L).otherwise(-1L))
      .groupBy(col("y"), col("pred"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy("y", "pred")
  }

  // ------------------------------------------------------------- oracles

  /** Shared feature/label CTE. */
  private def featSql: String = {
    val scoreCols = Seq("en", "es", "de", "fr")
      .map(l => s"${TextOps.hitCountSql(l)} AS score_$l").mkString(",\n    ")
    s"""feat AS (
  SELECT doc_id,
         CASE WHEN score_en > 0 AND score_en >= score_es
                AND score_en >= score_de AND score_en >= score_fr
              THEN 1 ELSE -1 END AS y,
         CAST(1 AS BIGINT) AS x0,
         least(CAST(len(string_split(text, ' ')) AS BIGINT), $WordCap) AS x1,
         (CAST(len(text) - len(regexp_replace(text, '[a-zA-Z]', '', 'g')) AS BIGINT)
            * 1000000) // greatest(1, CAST(len(text) AS BIGINT)) AS x2,
         (CAST(${TextOps.hitCountSql("en")} AS BIGINT) * 1000000)
            // greatest(1, CAST(len(string_split(text, ' ')) AS BIGINT)) AS x3
  FROM (SELECT doc_id, text,
    $scoreCols
    FROM documents) sc_t)"""
  }

  /** The unrolled K-round restatement (the PageRank/Lloyd discipline):
    * each round is a misclassified-filter + sums + ONE `//` per weight —
    * both engines truncate integer division toward zero, so the
    * trajectories are bit-identical. */
  def perceptronTrainOracle: String = {
    def round(r: Int): String = s"""
g$r AS (
  SELECT COALESCE(CAST(sum(y * x0) AS BIGINT), 0) AS g0,
         COALESCE(CAST(sum(y * x1) AS BIGINT), 0) AS g1,
         COALESCE(CAST(sum(y * x2) AS BIGINT), 0) AS g2,
         COALESCE(CAST(sum(y * x3) AS BIGINT), 0) AS g3,
         count(*) AS n
  FROM feat, w${r - 1}
  WHERE y * (w0 * x0 + w1 * x1 + w2 * x2 + w3 * x3) <= 0),
w$r AS (
  SELECT w0 + g0 // greatest(1, n) AS w0, w1 + g1 // greatest(1, n) AS w1,
         w2 + g2 // greatest(1, n) AS w2, w3 + g3 // greatest(1, n) AS w3
  FROM w${r - 1}, g$r),"""
    val rounds = (1 to Rounds).map(round).mkString
    val rows = (1 to Rounds).map(r =>
      s"SELECT $r AS round, w$r.w0, w$r.w1, w$r.w2, w$r.w3, g$r.n AS n_misclassified FROM w$r, g$r")
      .mkString("\nUNION ALL ")
    s"""WITH $featSql,
w0 AS (SELECT CAST(0 AS BIGINT) AS w0, CAST(0 AS BIGINT) AS w1,
              CAST(0 AS BIGINT) AS w2, CAST(0 AS BIGINT) AS w3),$rounds
trajectory AS (
$rows)
SELECT CAST(round AS INT) AS round, w0, w1, w2, w3, n_misclassified
FROM trajectory ORDER BY round"""
  }

  def perceptronScoreOracle: String = {
    def round(r: Int): String = s"""
g$r AS (
  SELECT COALESCE(CAST(sum(y * x0) AS BIGINT), 0) AS g0,
         COALESCE(CAST(sum(y * x1) AS BIGINT), 0) AS g1,
         COALESCE(CAST(sum(y * x2) AS BIGINT), 0) AS g2,
         COALESCE(CAST(sum(y * x3) AS BIGINT), 0) AS g3,
         count(*) AS n
  FROM feat, w${r - 1}
  WHERE y * (w0 * x0 + w1 * x1 + w2 * x2 + w3 * x3) <= 0),
w$r AS (
  SELECT w0 + g0 // greatest(1, n) AS w0, w1 + g1 // greatest(1, n) AS w1,
         w2 + g2 // greatest(1, n) AS w2, w3 + g3 // greatest(1, n) AS w3
  FROM w${r - 1}, g$r),"""
    val rounds = (1 to Rounds).map(round).mkString
    s"""WITH $featSql,
w0 AS (SELECT CAST(0 AS BIGINT) AS w0, CAST(0 AS BIGINT) AS w1,
              CAST(0 AS BIGINT) AS w2, CAST(0 AS BIGINT) AS w3),$rounds
scored AS (
  SELECT y, CASE WHEN w0 * x0 + w1 * x1 + w2 * x2 + w3 * x3 > 0
                 THEN 1 ELSE -1 END AS pred
  FROM feat, w$Rounds)
SELECT CAST(y AS BIGINT) AS y, CAST(pred AS BIGINT) AS pred,
       count(*) AS n_docs
FROM scored GROUP BY 1, 2 ORDER BY y, pred"""
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "perceptron_train" -> (perceptronTrain _),
    "perceptron_score" -> (perceptronScore _)
  )

  val oracleSql: Map[String, String] = Map(
    "perceptron_train" -> perceptronTrainOracle,
    "perceptron_score" -> perceptronScoreOracle
  )
}
