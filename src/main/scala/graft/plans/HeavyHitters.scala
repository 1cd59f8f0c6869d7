package graft.plans

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}
import scala.collection.mutable

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** SpaceSaving (Metwally et al.) heavy-hitters sketch as a custom
  * `TypedImperativeAggregate` — Spark has no bounded-memory top-k
  * frequency aggregate (`count + orderBy + limit` shuffles every
  * distinct key; this holds at most `capacity` counters per partial
  * aggregate and merges like any other agg buffer).
  *
  * Guarantee: any item with true frequency > n/capacity is present in
  * the sketch, and each reported count overestimates by at most the
  * smallest displaced counter (tracked as the error term).
  *
  * Returned as map(item → estimated count); callers take the top-k
  * entries. Exactness: when distinct items ≤ capacity the counts are
  * exact — HeavyHittersSpec exploits that to check against groupBy.
  */
/** SpaceSaving buffer: the counter map plus a lazy min-heap over
  * (count, item) so displacement finds the minimum counter in
  * amortized O(log capacity) — a `minBy` scan is O(capacity) per
  * displaced insert, which turns the sketch O(n·capacity) exactly in
  * the regime it exists for (vocabulary ≫ capacity; measured 65×
  * slower at 16× corpus). Counts only grow, so stale heap entries
  * (superseded or displaced) are popped and discarded when their
  * recorded count no longer matches the live map; the heap is rebuilt
  * whenever it outgrows 4× capacity, keeping it O(capacity) space. */
final class SSBuffer {
  val items = mutable.LinkedHashMap.empty[String, (Long, Long)]
  private val minOrd = Ordering.Tuple2[Long, String].reverse // dequeue = smallest (count, item)
  private var heap = mutable.PriorityQueue.empty[(Long, String)](minOrd)

  private def rebuild(): Unit = {
    heap = mutable.PriorityQueue.empty[(Long, String)](minOrd)
    items.foreach { case (k, (c, _)) => heap.enqueue((c, k)) }
  }

  def offer(capacity: Int, item: String, add: Long, addErr: Long): Unit = {
    items.get(item) match {
      case Some((c, e)) =>
        items.update(item, (c + add, e + addErr))
        heap.enqueue((c + add, item))
      case None if items.size < capacity =>
        items.update(item, (add, addErr))
        heap.enqueue((add, item))
      case None =>
        // displace the minimum counter (SpaceSaving step); pop stale
        // entries until one matches its live count — it is then the
        // true minimum, since every live entry is in the heap and
        // counts never decrease. Tiebreak (count, item) matches the
        // previous minBy exactly.
        var min: (Long, String) = null
        while (min == null) {
          val cand = heap.dequeue()
          if (items.get(cand._2).exists(_._1 == cand._1)) min = cand
        }
        val (minC, minItem) = min
        items.remove(minItem)
        items.update(item, (minC + add, minC + addErr))
        heap.enqueue((minC + add, item))
        if (heap.size > 4 * capacity) rebuild()
    }
  }
}

case class HeavyHitters(
    child: Expression,
    capacity: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[SSBuffer] {

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = MapType(StringType, LongType)

  override def createAggregationBuffer(): SSBuffer = new SSBuffer

  override def update(buf: SSBuffer, input: InternalRow): SSBuffer = {
    val v = child.eval(input)
    if (v != null) buf.offer(capacity, v.toString, 1L, 0L)
    buf
  }

  override def merge(buf: SSBuffer, other: SSBuffer): SSBuffer = {
    other.items.foreach { case (item, (c, e)) => buf.offer(capacity, item, c, e) }
    buf
  }

  override def eval(buf: SSBuffer): Any = {
    val entries = buf.items.toSeq.sortBy { case (k, (c, _)) => (-c, k) }
    new ArrayBasedMapData(
      new GenericArrayData(entries.map(e => UTF8String.fromString(e._1)).toArray[Any]),
      new GenericArrayData(entries.map(_._2._1).toArray[Any]))
  }

  override def serialize(buf: SSBuffer): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buf.items.size)
    buf.items.foreach { case (k, (c, e)) =>
      val kb = k.getBytes("UTF-8")
      out.writeInt(kb.length); out.write(kb); out.writeLong(c); out.writeLong(e)
    }
    out.flush(); bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): SSBuffer = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val n = in.readInt()
    val buf = new SSBuffer
    (0 until n).foreach { _ =>
      val kb = new Array[Byte](in.readInt()); in.readFully(kb)
      // deserialized counters load below capacity by construction, so
      // offer() takes the insert path and seeds the heap consistently
      val k = new String(kb, "UTF-8"); val c = in.readLong(); val e = in.readLong()
      buf.offer(Int.MaxValue, k, c, e)
    }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): HeavyHitters =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): HeavyHitters =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): HeavyHitters =
    copy(child = newChildren.head)
}

object HeavyHitters {
  /** Builder in the [[GraftExtensions]] function table: guards
    * the capacity argument so a non-literal capacity in pure SQL
    * fails with a usage message instead of an obscure eval error. */
  def fromExprs(exprs: Seq[Expression]): Expression = {
    require(exprs.length == 2,
      "heavy_hitters(col, capacity) takes 2 arguments")
    require(exprs(1).foldable,
      s"heavy_hitters: capacity must be a literal, got ${exprs(1).sql}")
    HeavyHitters(exprs(0),
      exprs(1).eval().asInstanceOf[Number].intValue()).toAggregateExpression()
  }

  def heavy_hitters(c: Column, capacity: Int): Column =
    call_function("heavy_hitters", c, org.apache.spark.sql.functions.lit(capacity))
}
