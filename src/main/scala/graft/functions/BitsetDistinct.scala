package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.graft.GraftShims
import org.apache.spark.sql.types._

/**
 * EXACT distinct count of a LONG key with a bounded domain
 * [0, maxBits), via a fixed-width bitset aggregation buffer — the
 * distributed twin of the CSR kernel's per-hub `java.util.BitSet`
 * (LocalCsr.twoHopReachDf).
 *
 * Why it exists (guide §2.3/§2.4): `distinct().groupBy(k).count()` over
 * a wedge multiset shuffles one row per DISTINCT (group, member) pair —
 * for 2-hop reach that is the hubs' entire reach set. With a bitset
 * aggregate the distinct IS the buffer: partial aggregation collapses
 * each map partition's wedge mass into one maxBits/8-byte buffer per
 * group, the exchange carries (#groups × #map partitions) buffers
 * instead of the reach set, and the dedup exchange disappears from the
 * plan. Exact — a bit per domain value, no hashing, no estimation —
 * so results are bit-identical to the distinct() formulation.
 *
 * Memory contract: the caller must bound (#groups in one task ×
 * maxBits/8 × concurrent tasks) — the buffers are plain heap objects
 * outside Spark's memory accounting. The 2-hop caller gates on
 * `spark.graft.twoHopBitsetMaxBits` / defaultParallelism ≥ k·maxBits
 * and falls back to the distinct() plan above it
 * (EdgeOps.twoHopReach).
 *
 * Serialization trims trailing zero words, so a buffer whose populated
 * prefix is small ships small; merge ORs the shorter buffer into the
 * longer.
 */
case class BitsetDistinct(
    child: Expression, maxBitsExpr: Expression,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]] {

  lazy val maxBits: Long = {
    require(maxBitsExpr.foldable, "bitset_distinct: maxBits must be a literal")
    val v = maxBitsExpr.eval().asInstanceOf[Number].longValue()
    require(v > 0 && v <= (1L << 36),
      s"bitset_distinct: maxBits must be in (0, 2^36], got $v")
    v
  }
  private lazy val nWords: Int = ((maxBits + 63) >>> 6).toInt

  override def createAggregationBuffer(): Array[Long] = new Array[Long](nWords)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      val x = v.asInstanceOf[Long]
      if (x < 0 || x >= maxBits)
        throw new IllegalArgumentException(
          s"bitset_distinct: value $x outside domain [0, $maxBits)")
      buf((x >>> 6).toInt) |= 1L << (x & 63)
    }
    buf
  }

  override def merge(buf: Array[Long], other: Array[Long]): Array[Long] = {
    require(other.length <= buf.length,
      s"bitset_distinct: partial buffer wider (${other.length} words) " +
        s"than the domain ($nWords words)")
    var i = 0
    while (i < other.length) { buf(i) |= other(i); i += 1 }
    buf
  }

  override def eval(buf: Array[Long]): Any = {
    var n = 0L
    var i = 0
    while (i < buf.length) {
      n += java.lang.Long.bitCount(buf(i))
      i += 1
    }
    n
  }

  override def serialize(buf: Array[Long]): Array[Byte] = {
    var last = buf.length
    while (last > 0 && buf(last - 1) == 0L) last -= 1
    val bb = java.nio.ByteBuffer.allocate(last * 8)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.asLongBuffer().put(buf, 0, last)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val out = new Array[Long](bytes.length / 8)
    java.nio.ByteBuffer.wrap(bytes)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).asLongBuffer().get(out)
    out
  }

  override def dataType: DataType = LongType
  override def nullable: Boolean = false
  override def children: Seq[Expression] = Seq(child, maxBitsExpr)
  override def prettyName: String = "bitset_distinct"

  override def withNewMutableAggBufferOffset(newOffset: Int): BitsetDistinct =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): BitsetDistinct =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): BitsetDistinct =
    copy(child = newChildren(0), maxBitsExpr = newChildren(1))
}

object BitsetDistinct {
  /** Column API: exact distinct count of `key` ∈ [0, maxBits). */
  def of(key: Column, maxBits: Long): Column =
    GraftShims.column(BitsetDistinct(
      GraftShims.expression(key),
      org.apache.spark.sql.catalyst.expressions.Literal(maxBits))
      .toAggregateExpression())
}
