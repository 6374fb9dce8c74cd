package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.types.{DataType, LongType, StructField, StructType}

/** All 120 SimHash signed bit-sums in ONE aggregate buffer. The
  * expression form — 120 separate
  * `sum(CASE WHEN (hv >> b) & 1 = 1 THEN 1 ELSE -1 END)` aggregates — is a
  * HashAggregate with 120 buffer slots, which exceeds
  * `spark.sql.codegen.maxFields` (100), so the whole aggregate falls out
  * of WholeStageCodegen and every word row pays 120 interpreted
  * expression evaluations (measured: that aggregate dominated
  * dedup_simhash/dedup_simhash_pairs at every SF). This
  * TypedImperativeAggregate keeps one primitive `Array[Int](120)` per
  * group and updates it with a tight shift/mask loop — same partial/merge
  * mergeability (counter arrays add), byte-serialized map-side like any
  * typed aggregate, O(120 ints) state.
  *
  * Semantics are EXACTLY the expression form, including the null
  * corner: a NULL hash value contributes -1 to every one of its 32 bit
  * sums there (`when(null === 1, 1).otherwise(-1)`), so a null child
  * decrements its 32- or 28-bit slice here too (unreachable from [[
  * graft.ops.Dedup.simhash]], whose md5-derived hv columns are never null,
  * but pinned so the aggregate is a drop-in for the expression form on ANY
  * input). Slice widths per hash value: 32 bits for hv1/hv3, 28 bits
  * (= Half − 32) for hv2/hv4 — 60 per half.
  *
  * Layout contract (mirrors Dedup.simhash v2): counters 0-59 are the `lo`
  * half (bits 0-31 from hv1, 32-59 from hv2), counters 60-119 the `hi`
  * half (bits 0-31 from hv3, 32-59 from hv4); `eval` assembles the two
  * sign-safe 60-bit longs directly — bit b set iff its counter is >= 0 —
  * so the caller reads a finished fingerprint, not 120 columns.
  */
case class SimhashSumsAgg(
    hv1: Expression,
    hv2: Expression,
    hv3: Expression,
    hv4: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Int]] {

  private val Half = 60 // bits per assembled long (sign-safe, see Dedup)

  override def prettyName: String = "simhash_sums"
  override def children: Seq[Expression] = Seq(hv1, hv2, hv3, hv4)
  override def nullable: Boolean = false
  override def dataType: DataType = StructType(Seq(
    StructField("hi", LongType, nullable = false),
    StructField("lo", LongType, nullable = false)))

  override def checkInputDataTypes(): TypeCheckResult =
    if (children.forall(_.dataType == LongType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"simhash_sums requires four bigint columns, got " +
        children.map(_.dataType.catalogString).mkString(", "))

  override def createAggregationBuffer(): Array[Int] = new Array[Int](2 * Half)

  /** Add one hash value's ±1 contributions to counters [off, off+width):
    * bit b of `hv` maps to counter off+b; a NULL hv is -1 everywhere
    * (the expression-form corner documented above). */
  private def addHash(buf: Array[Int], v: Any, off: Int, width: Int): Unit = {
    if (v == null) {
      var b = 0
      while (b < width) { buf(off + b) -= 1; b += 1 }
    } else {
      val hv = v.asInstanceOf[Long]
      var b = 0
      while (b < width) {
        buf(off + b) += (((hv >>> b) & 1L).toInt << 1) - 1
        b += 1
      }
    }
  }

  override def update(buf: Array[Int], input: InternalRow): Array[Int] = {
    addHash(buf, hv1.eval(input), 0, 32)       // lo bits 0-31
    addHash(buf, hv2.eval(input), 32, Half - 32) // lo bits 32-59
    addHash(buf, hv3.eval(input), Half, 32)    // hi bits 0-31
    addHash(buf, hv4.eval(input), Half + 32, Half - 32) // hi bits 32-59
    buf
  }

  override def merge(buf: Array[Int], other: Array[Int]): Array[Int] = {
    var i = 0
    while (i < buf.length) { buf(i) += other(i); i += 1 }
    buf
  }

  override def eval(buf: Array[Int]): Any = {
    var lo = 0L
    var hi = 0L
    var b = 0
    while (b < Half) {
      if (buf(b) >= 0) lo |= 1L << b
      if (buf(Half + b) >= 0) hi |= 1L << b
      b += 1
    }
    new GenericInternalRow(Array[Any](hi, lo))
  }

  override def serialize(buf: Array[Int]): Array[Byte] = {
    val bos = new ByteArrayOutputStream(buf.length * 4)
    val out = new DataOutputStream(bos)
    var i = 0
    while (i < buf.length) { out.writeInt(buf(i)); i += 1 }
    out.flush(); bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): Array[Int] = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val buf = new Array[Int](2 * Half)
    var i = 0
    while (i < buf.length) { buf(i) = in.readInt(); i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): SimhashSumsAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): SimhashSumsAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(hv1 = newChildren(0), hv2 = newChildren(1),
      hv3 = newChildren(2), hv4 = newChildren(3))
}
