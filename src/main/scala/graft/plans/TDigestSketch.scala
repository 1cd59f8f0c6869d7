package graft.plans

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types._

/** t-digest (Dunning's merging digest, k1 scale function) as a custom
  * `TypedImperativeAggregate` — the third bounded-memory sketch next to
  * SpaceSaving (heavy hitters) and KMV (distincts), covering the 100 TB
  * quantile path: ≤ ~2·δ centroids per partial regardless of input
  * size, partials merge associatively (concatenate + re-compress), and
  * the k1 scale function concentrates centroid resolution at the tails
  * — exactly where p95/p99 market queries live. q15 (exact rank
  * arithmetic, needs a per-group sort) and q16 (percentile_approx,
  * Spark-internal, rows-only) bracket this: the t-digest is mergeable
  * AND its error is a pinned contract (QueriesSpec bounds rank error vs
  * q15's exact quantiles; DeterminismSpec bounds it under adversarial
  * partitionings).
  *
  * Compression order is partition-order-dependent (like every
  * t-digest), so estimates may differ at the last ulps across
  * partitionings — the registry entry is rows-only for that reason,
  * with the ERROR BOUND (not the estimate) as the pinned, portable
  * contract. min/max/total-weight are exact and deterministic.
  */
final class TDigestBuffer(val compression: Int) {
  // sorted-by-mean centroid list, maintained only at compress() time
  var means: Array[Double] = Array.emptyDoubleArray
  var weights: Array[Long] = Array.emptyLongArray
  // unsorted singleton buffer; compressed when full
  val pending = new scala.collection.mutable.ArrayBuffer[Double]()
  // merge() appends foreign centroids out of order — quantile() needs
  // the sorted invariant back, so compress() must not early-return
  var dirty: Boolean = false
  var min: Double = Double.PositiveInfinity
  var max: Double = Double.NegativeInfinity
  var total: Long = 0L

  def add(v: Double): Unit = {
    pending += v
    if (v < min) min = v
    if (v > max) max = v
    total += 1
    if (pending.length >= 4 * compression) compress()
  }

  /** k1 scale: k(q) = δ·(asin(2q−1)/π + 1/2); centroid capacity is one
    * unit of k. */
  private def qLimit(k0: Double): Double = {
    val k1 = k0 + 1.0
    if (k1 >= compression) 1.0
    else (math.sin(math.Pi * (k1 / compression - 0.5)) + 1.0) / 2.0
  }

  private def kOf(q: Double): Double =
    compression * (math.asin(math.min(1.0, math.max(-1.0, 2 * q - 1))) / math.Pi + 0.5)

  def compress(): Unit = {
    if (!dirty && pending.isEmpty && means.length <= 2 * compression) return
    dirty = false
    val n = means.length + pending.length
    val ms = new Array[Double](n)
    val ws = new Array[Long](n)
    System.arraycopy(means, 0, ms, 0, means.length)
    System.arraycopy(weights, 0, ws, 0, means.length)
    var i = means.length
    pending.foreach { v => ms(i) = v; ws(i) = 1L; i += 1 }
    pending.clear()
    // sort (mean asc, weight asc for a deterministic tie order)
    val idx = (0 until n).sortBy(j => (ms(j), ws(j)))
    val outM = new scala.collection.mutable.ArrayBuffer[Double](2 * compression)
    val outW = new scala.collection.mutable.ArrayBuffer[Long](2 * compression)
    val tot = total.toDouble
    var cum = 0L // weight fully emitted so far
    var curSum = 0.0 // Σ mean·weight of the open centroid
    var curW = 0L
    var lim = qLimit(kOf(0.0))
    idx.foreach { j =>
      if (curW > 0 && (cum + curW + ws(j)).toDouble / tot > lim) {
        outM += curSum / curW; outW += curW
        cum += curW
        lim = qLimit(kOf(cum.toDouble / tot))
        curSum = 0.0; curW = 0L
      }
      curSum += ms(j) * ws(j).toDouble
      curW += ws(j)
    }
    if (curW > 0) { outM += curSum / curW; outW += curW }
    means = outM.toArray
    weights = outW.toArray
  }

  /** Quantile estimate: centroid i sits at cumulative (cum + w_i/2);
    * linear interpolation between neighbors, clamped to [min, max]. */
  def quantile(p: Double): Double = {
    compress()
    if (total == 0) return Double.NaN
    if (means.length == 1) return means(0)
    val target = p * total
    var cum = 0.0
    var i = 0
    var prevPos = 0.0
    var prevMean = min
    while (i < means.length) {
      val pos = cum + weights(i) / 2.0
      if (target < pos) {
        val frac = if (pos > prevPos) (target - prevPos) / (pos - prevPos) else 0.0
        val v = prevMean + frac * (means(i) - prevMean)
        return math.min(max, math.max(min, v))
      }
      cum += weights(i)
      prevPos = pos
      prevMean = means(i)
      i += 1
    }
    max
  }
}

case class TDigestSketch(
    child: Expression,
    compression: Int,
    quantiles: Seq[Double],
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[TDigestBuffer] with ImplicitCastInputTypes {

  override def children: Seq[Expression] = Seq(child)
  // the analyzer inserts the cast for INT/DECIMAL/… children instead of
  // update() throwing a ClassCastException at runtime
  override def inputTypes = Seq(DoubleType)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

  override def createAggregationBuffer(): TDigestBuffer = new TDigestBuffer(compression)

  override def update(buf: TDigestBuffer, input: InternalRow): TDigestBuffer = {
    val v = child.eval(input)
    if (v != null) buf.add(v.asInstanceOf[Double])
    buf
  }

  override def merge(buf: TDigestBuffer, other: TDigestBuffer): TDigestBuffer = {
    other.compress() // also drains other.pending into its centroids
    // centroids re-enter as weighted points: one pre-sized splice (an
    // element-wise :+ would copy the whole array per centroid — O(c²)
    // in the 100 TB reduce path)
    val n = buf.means.length
    val m = other.means.length
    if (m > 0) {
      val ms = new Array[Double](n + m)
      val ws = new Array[Long](n + m)
      System.arraycopy(buf.means, 0, ms, 0, n)
      System.arraycopy(buf.weights, 0, ws, 0, n)
      System.arraycopy(other.means, 0, ms, n, m)
      System.arraycopy(other.weights, 0, ws, n, m)
      buf.means = ms
      buf.weights = ws
    }
    if (other.min < buf.min) buf.min = other.min
    if (other.max > buf.max) buf.max = other.max
    buf.total += other.total
    buf.dirty = true
    buf.compress()
    buf
  }

  override def eval(buf: TDigestBuffer): Any = {
    val arr: Array[Any] = quantiles.map(p => buf.quantile(p): Any).toArray
    new GenericArrayData(arr)
  }

  override def serialize(buf: TDigestBuffer): Array[Byte] = {
    buf.compress()
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeLong(buf.total)
    out.writeDouble(buf.min)
    out.writeDouble(buf.max)
    out.writeInt(buf.means.length)
    var i = 0
    while (i < buf.means.length) {
      out.writeDouble(buf.means(i)); out.writeLong(buf.weights(i)); i += 1
    }
    out.flush(); bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): TDigestBuffer = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val buf = new TDigestBuffer(compression)
    buf.total = in.readLong()
    buf.min = in.readDouble()
    buf.max = in.readDouble()
    val n = in.readInt()
    buf.means = new Array[Double](n)
    buf.weights = new Array[Long](n)
    var i = 0
    while (i < n) { buf.means(i) = in.readDouble(); buf.weights(i) = in.readLong(); i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): TDigestSketch =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TDigestSketch =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): TDigestSketch =
    copy(child = newChildren.head)
}

object TDigestSketch {
  /** SQL builder in the [[GraftExtensions]] function table. The
    * quantile array tolerates any numeric literal element — a bare SQL
    * literal like `array(0.5, 0.99)` parses as DECIMAL, not DOUBLE, so
    * `toDoubleArray` alone would class-cast. */
  def fromExprs(exprs: Seq[Expression]): Expression = {
    require(exprs.length == 3,
      "tdigest_quantiles(col, compression, array(p...)) takes 3 arguments")
    require(exprs(1).foldable,
      s"tdigest_quantiles: compression must be a literal, got ${exprs(1).sql}")
    require(exprs(2).foldable,
      s"tdigest_quantiles: quantile array must be a literal, got ${exprs(2).sql}")
    val arr = exprs(2).eval()
      .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val elemType = exprs(2).dataType
      .asInstanceOf[org.apache.spark.sql.types.ArrayType].elementType
    val ps = (0 until arr.numElements()).map { i =>
      arr.get(i, elemType) match {
        case d: org.apache.spark.sql.types.Decimal => d.toDouble
        case n: java.lang.Number                   => n.doubleValue()
        case other => throw new IllegalArgumentException(
          s"tdigest_quantiles: non-numeric quantile $other")
      }
    }
    TDigestSketch(exprs(0),
      exprs(1).eval().asInstanceOf[Number].intValue(), ps).toAggregateExpression()
  }

  def tdigest_quantiles(c: Column, compression: Int, ps: Seq[Double]): Column =
    call_function("tdigest_quantiles", c,
      org.apache.spark.sql.functions.lit(compression),
      org.apache.spark.sql.functions.array(
        ps.map(org.apache.spark.sql.functions.lit): _*))
}
