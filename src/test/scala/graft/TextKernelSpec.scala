package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{CorpusOps, Ngrams, TextOps}

/** The token-array kernels against plain-Scala references, on the edge
  * shapes: an empty text, fewer words than the n-gram width (Spark's
  * `sequence(1, 0)` counts down), all-repeated words and one long
  * document. Equality is exact. */
class TextKernelSpec extends AnyFunSuite {
  import TestSpark._

  private val texts: Seq[String] = Seq("", "a", "a b", "a a a", "a b a b a b",
    (0 until 200).map(i => s"w${(i * 7) % 23}").mkString(" "))

  private lazy val dir: String = {
    val d = java.nio.file.Files.createTempDirectory("graft_text_kernels").toString
    import spark.implicits._
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    d
  }

  private def words(t: String): Seq[String] = t.split(" ", -1).toSeq

  private def grams(t: String, n: Int): Seq[String] = {
    val ws = words(t)
    if (ws.size < n) Nil else ws.sliding(n).map(_.mkString(" ")).toSeq
  }

  private def dupRatio(g: Seq[String]): Double =
    BigDecimal((g.size - g.distinct.size).toDouble / math.max(g.size, 1))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  test("repetition matches a plain-Scala reference on edge-case texts") {
    val got = CorpusOps.repetition(spark, dir).collect().map(r =>
      r.getLong(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
    texts.zipWithIndex.foreach { case (t, i) =>
      val expect = (words(t).size.toLong, dupRatio(words(t)),
        dupRatio(grams(t, 2)), dupRatio(grams(t, 3)))
      assert(got(i.toLong) == expect, s"text '${t.take(40)}'")
    }
  }

  test("fingerprint matches a plain-Scala reference on edge-case texts") {
    val md5 = java.security.MessageDigest.getInstance("MD5")
    def h(w: String): Long = java.lang.Long.parseLong(
      md5.digest(w.getBytes("UTF-8")).take(4).map(b => f"${b & 0xff}%02x").mkString, 16)
    val got = TextOps.fingerprint(spark, dir).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    texts.zipWithIndex.foreach { case (t, i) =>
      val expect = words(t).zipWithIndex.map { case (w, j) => (j + 1L) * h(w) }.sum
      assert(got(i.toLong) == expect, s"text '${t.take(40)}'")
    }
  }

  test("wordNgrams matches a plain-Scala reference on edge-case texts, including short ones") {
    val docs = Tables.documents(spark, dir)
    (1 to 4).foreach { n =>
      val got = docs.select(col("doc_id"), Ngrams.wordNgrams(col("text"), n)).collect()
        .map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
      texts.zipWithIndex.foreach { case (t, i) =>
        assert(got(i.toLong) == grams(t, n), s"n=$n text '${t.take(40)}'")
      }
    }
  }
}
