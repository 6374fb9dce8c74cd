package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Generator}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Custom Catalyst UDTF `rolling_hash_windows(text, L)`: one row
  * `(pos, h1, h2)` per stride-1 window of L consecutive words, where
  * (h1, h2) is a 128-bit-equivalent pair of polynomial rolling hashes —
  * the Rabin-Karp primitive under substring-level dedup.
  *
  * Why it exists: hashing every stride-1 L-gram via slice + concat + md5
  * re-touches each word L times — O(corpus · L) bytes hashed, a 12×
  * write amplification at [[graft.ops.SubstringDedup]]'s L = 12. The
  * rolling form hashes each word once (FNV-1a 64 over its UTF-8 bytes)
  * and slides two independent degree-(L−1) polynomial accumulators in
  * the 2⁶⁴ ring — O(corpus) total, one Generate node, no token-array
  * duplication per output row (the same argument as [[WordNgrams]],
  * which stays the right tool when the gram STRING itself is needed).
  *
  * The pair is genuinely 128-bit: each accumulator slides over its OWN
  * word hash (two multiply-xor hashes with independent offsets and
  * multipliers) under its own polynomial base. That independence is
  * load-bearing — if both polynomials consumed the same 64-bit word
  * hash, a single word-level collision would collide h1 AND h2
  * simultaneously, capping the pair at a 64-bit birthday bound on
  * VOCABULARY (~2³² distinct tokens — plausibly reached by a 100 TB web
  * corpus of URLs, numbers, and typos). With
  * independent word hashes a cross-gram collision needs simultaneous
  * collisions in two unrelated 64-bit rings: birthday(2¹²⁸), vanishing
  * at any corpus size, so downstream equality on (h1, h2) is equality
  * of the word run, exactly like the md5 digest it replaces.
  *
  * Semantics: strings shorter than L words yield no rows; NULL yields no
  * rows (like explode of NULL); L must be a foldable positive int literal.
  */
case class RollingHashWindows(child: Expression, lExpr: Expression)
    extends Expression with Generator with CodegenFallback {

  override def children: Seq[Expression] = Seq(child, lExpr)
  override def prettyName: String = "rolling_hash_windows"

  override def elementSchema: StructType = StructType(
    StructField("pos", LongType, nullable = false) ::
    StructField("h1", LongType, nullable = false) ::
    StructField("h2", LongType, nullable = false) :: Nil)

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType != StringType)
      TypeCheckResult.TypeCheckFailure(
        s"rolling_hash_windows requires a string column, got ${child.dataType.catalogString}")
    else if (lExpr.dataType != IntegerType || !lExpr.foldable ||
        lExpr.eval() == null) // a foldable NULL would NPE at first eval
      TypeCheckResult.TypeCheckFailure("rolling_hash_windows requires a non-null literal int L")
    else TypeCheckResult.TypeCheckSuccess

  private lazy val l: Int = lExpr.eval().asInstanceOf[Number].intValue()

  // odd multipliers: units of the 2⁶⁴ ring (Long overflow IS the mod)
  private final val B1 = 0x9e3779b97f4a7c15L // golden-ratio odd constant
  private final val B2 = 0xc2b2ae3d27d4eb4fL // xxhash64 prime 2 (odd)
  private lazy val pw1 = pow(B1, l - 1)
  private lazy val pw2 = pow(B2, l - 1)

  private def pow(b: Long, e: Int): Long = {
    var r = 1L; var i = 0
    while (i < e) { r *= b; i += 1 }
    r
  }

  /** Multiply-xor (FNV-1a-shaped) 64-bit hash over the word's UTF-8
    * bytes, parameterized by offset basis + odd multiplier so the two
    * accumulators consume INDEPENDENT word hashes — stable across JVMs. */
  private def wordHash(w: String, offset: Long, mult: Long): Long = {
    val bytes = w.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var h = offset
    var i = 0
    while (i < bytes.length) { h ^= bytes(i) & 0xffL; h *= mult; i += 1 }
    h
  }

  // hash 1: canonical FNV-1a 64; hash 2: distinct offset + murmur3
  // fmix odd multiplier — unrelated ring, see the class doc
  private final val O1 = 0xcbf29ce484222325L; private final val M1 = 0x100000001b3L
  private final val O2 = 0x9ae16a3b2f90404fL; private final val M2 = 0xff51afd7ed558ccdL

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val raw = child.eval(input)
    if (raw == null || l <= 0) return Iterator.empty
    // limit -1 keeps trailing empty tokens, matching Spark SQL split()
    // and DuckDB string_split (Java's 1-arg split drops them)
    val words = raw.asInstanceOf[UTF8String].toString.split(" ", -1)
    if (words.length < l) return Iterator.empty
    val wh1 = new Array[Long](words.length)
    val wh2 = new Array[Long](words.length)
    var i = 0
    while (i < words.length) {
      wh1(i) = wordHash(words(i), O1, M1)
      wh2(i) = wordHash(words(i), O2, M2)
      i += 1
    }
    var h1 = 0L; var h2 = 0L
    i = 0
    while (i < l) { h1 = h1 * B1 + wh1(i); h2 = h2 * B2 + wh2(i); i += 1 }
    val n = words.length - l + 1
    new Iterator[InternalRow] {
      private var pos = 0
      override def hasNext: Boolean = pos < n
      override def next(): InternalRow = {
        val row = InternalRow(pos.toLong, h1, h2)
        // slide AFTER emitting: drop word[pos], append word[pos + l]
        if (pos + 1 < n) {
          h1 = (h1 - wh1(pos) * pw1) * B1 + wh1(pos + l)
          h2 = (h2 - wh2(pos) * pw2) * B2 + wh2(pos + l)
        }
        pos += 1
        row
      }
    }
  }

  override protected def withNewChildrenInternal(
    newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren(0), lExpr = newChildren(1))
}
