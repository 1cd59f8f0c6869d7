package graft.plans

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types._

/** KMV (k-minimum-values / bottom-k) distinct sketch as a custom
  * `TypedImperativeAggregate`: the buffer holds the k smallest DISTINCT
  * hash values seen — bounded memory per partial, merged by union+trim
  * like any agg buffer, O(log k) per update. The k-th minimum estimates
  * cardinality as (k−1)·H/h₍k₎ (Bar-Yossef et al.), and when fewer than
  * k distinct hashes exist the sketch IS the exact distinct set.
  *
  * Why this exists next to `approx_count_distinct` (q17): HLL's
  * register estimate is engine-internal (rows-only oracle), while KMV
  * over graft's portable md5-prefix hash family is fully DETERMINISTIC
  * — the sketch content and therefore the estimate replay bit-for-bit
  * in DuckDB, so even the approximating regime is hash-checkable. KMV
  * sketches also compose: the union of two sketches is the sketch of
  * the union (the set-operation algebra Theta sketches build on).
  */
final class KmvBuffer {
  val set = new java.util.TreeSet[java.lang.Long]()

  def offer(k: Int, h: Long): Unit = {
    if (set.size < k) { set.add(h); () }
    else if (h < set.last) {
      // only evict when the insert actually added a NEW value
      if (set.add(h)) { set.pollLast(); () }
    }
  }
}

case class KmvSketch(
    child: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[KmvBuffer] {

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def createAggregationBuffer(): KmvBuffer = new KmvBuffer

  override def update(buf: KmvBuffer, input: InternalRow): KmvBuffer = {
    val v = child.eval(input)
    if (v != null) buf.offer(k, v.asInstanceOf[Long])
    buf
  }

  override def merge(buf: KmvBuffer, other: KmvBuffer): KmvBuffer = {
    val it = other.set.iterator()
    while (it.hasNext) buf.offer(k, it.next())
    buf
  }

  /** ascending array of the ≤k minima — deterministic content. */
  override def eval(buf: KmvBuffer): Any = {
    val arr = new Array[Any](buf.set.size)
    val it = buf.set.iterator()
    var i = 0
    while (it.hasNext) { arr(i) = it.next().longValue(); i += 1 }
    new GenericArrayData(arr)
  }

  override def serialize(buf: KmvBuffer): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buf.set.size)
    val it = buf.set.iterator()
    while (it.hasNext) out.writeLong(it.next())
    out.flush(); bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): KmvBuffer = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val n = in.readInt()
    val buf = new KmvBuffer
    (0 until n).foreach(_ => buf.offer(k, in.readLong()))
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): KmvSketch =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): KmvSketch =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): KmvSketch =
    copy(child = newChildren.head)
}

object KmvSketch {
  /** Builder in the [[GraftExtensions]] function table: guards
    * the capacity argument so a non-literal `k` in pure SQL fails
    * with a usage message instead of an obscure eval error. */
  def fromExprs(exprs: Seq[Expression]): Expression = {
    require(exprs.length == 2, "kmv_sketch(col, k) takes 2 arguments")
    require(exprs(1).foldable,
      s"kmv_sketch: k must be a literal, got ${exprs(1).sql}")
    KmvSketch(exprs(0),
      exprs(1).eval().asInstanceOf[Number].intValue()).toAggregateExpression()
  }

  def kmv_sketch(c: Column, k: Int): Column =
    call_function("kmv_sketch", c, org.apache.spark.sql.functions.lit(k))
}
