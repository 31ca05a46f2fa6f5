package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftshim.Shims.{AbstractDataType, NumericType}
import org.apache.spark.sql.types._

/** Mutable KLL-style quantile summary: a ladder of level buffers where
  * an item in level h stands for 2^h original rows. Inserts land in
  * level 0; a level past `k` items is sorted and halved (keep every
  * second item, promote to the next level). Compaction parity alternates
  * per level — deterministic, unlike the coin-flip of Karnin/Lang/
  * Liberty 2016 KLL, trading the worst-case proof for bit-reproducible
  * runs; the spec measures rank error empirically instead.
  *
  * The load-bearing property for the rollup oracle: with total weight
  * n ≤ k nothing ever compacts, so the summary IS the exact multiset and
  * any merge tree yields identical quantiles. */
final class KllBuffer(val k: Int, var n: Long) {
  val levels: ArrayBuffer[ArrayBuffer[Double]] =
    ArrayBuffer(ArrayBuffer.empty[Double])
  val parity: ArrayBuffer[Int] = ArrayBuffer(0)

  def insert(v: Double): Unit = {
    levels(0) += v
    n += 1
    compactFrom(0)
  }

  private def compactFrom(start: Int): Unit = {
    var h = start
    while (h < levels.length && levels(h).length > k) {
      val buf = levels(h).sorted
      if (h + 1 == levels.length) {
        levels += ArrayBuffer.empty[Double]
        parity += 0
      }
      val off = parity(h)
      parity(h) = 1 - off
      levels(h).clear()
      var i = off
      while (i < buf.length) {
        levels(h + 1) += buf(i)
        i += 2
      }
      // halving drops (or double-counts) one odd item's weight; n tracks
      // TRUE count, the summary's weights drift within the error bound
      h += 1
    }
  }

  def mergeIn(other: KllBuffer): Unit = {
    var h = 0
    while (h < other.levels.length) {
      if (h == levels.length) {
        levels += ArrayBuffer.empty[Double]
        parity += 0
      }
      levels(h) ++= other.levels(h)
      h += 1
    }
    n += other.n
    var l = 0
    while (l < levels.length) { compactFrom(l); l += 1 }
  }

  /** Discrete quantiles at `probs`, DuckDB/ANSI percentile_disc rank
    * semantics: item at cumulative weight ≥ max(1, ceil(q·W)) where W is
    * the summary's total weight. Null (NaN here; wrapped by the caller)
    * if empty. */
  def quantiles(probs: Array[Double]): Array[Double] = {
    val items = ArrayBuffer.empty[(Double, Long)]
    var h = 0
    while (h < levels.length) {
      val w = 1L << h
      levels(h).foreach(v => items += ((v, w)))
      h += 1
    }
    val sorted = items.sortBy(_._1)
    val total = sorted.iterator.map(_._2).sum
    probs.map { q =>
      if (total == 0L) Double.NaN
      else {
        val target = math.max(1L, math.ceil(q * total).toLong)
        var cum = 0L
        var i = 0
        var out = sorted.last._1
        var found = false
        while (i < sorted.length && !found) {
          cum += sorted(i)._2
          if (cum >= target) { out = sorted(i)._1; found = true }
          i += 1
        }
        out
      }
    }
  }

  def serialize(): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(k)
    out.writeLong(n)
    out.writeInt(levels.length)
    var h = 0
    while (h < levels.length) {
      out.writeInt(parity(h))
      out.writeInt(levels(h).length)
      levels(h).foreach(out.writeDouble)
      h += 1
    }
    out.flush()
    bos.toByteArray
  }
}

object KllBuffer {
  def deserialize(bytes: Array[Byte]): KllBuffer = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val k = in.readInt()
    val n = in.readLong()
    val buf = new KllBuffer(k, n)
    val nLevels = in.readInt()
    var h = 0
    while (h < nLevels) {
      if (h == buf.levels.length) {
        buf.levels += ArrayBuffer.empty[Double]
        buf.parity += 0
      }
      buf.parity(h) = in.readInt()
      val size = in.readInt()
      var i = 0
      while (i < size) { buf.levels(h) += in.readDouble(); i += 1 }
      h += 1
    }
    buf
  }
}

/** Per-group mergeable quantile-sketch state (binary column) — the
  * quantile leg of the PartialAgg rollup family, closing the sketch
  * tier: HLL for DISTINCT, Count-Min/Misra-Gries for frequency, this
  * for order statistics. The shuffle carries O(k·log(n/k)) doubles per
  * group however many rows flow through — a 100 TB percentile rollup
  * never re-sorts raw data. */
case class QuantileSketchAgg(
    child: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[KllBuffer] with ExpectsInputTypes {

  require(k >= 8, s"sketch capacity k must be >= 8, got $k")

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = BinaryType

  override def inputTypes: Seq[AbstractDataType] = Seq(NumericType)

  private lazy val toDouble: Any => Double = child.dataType match {
    case DoubleType => v => v.asInstanceOf[Double]
    case FloatType => v => v.asInstanceOf[Float].toDouble
    case IntegerType => v => v.asInstanceOf[Int].toDouble
    case LongType => v => v.asInstanceOf[Long].toDouble
    case ShortType => v => v.asInstanceOf[Short].toDouble
    case ByteType => v => v.asInstanceOf[Byte].toDouble
    case d: DecimalType => v =>
      v.asInstanceOf[org.apache.spark.sql.types.Decimal].toDouble
  }

  override def createAggregationBuffer(): KllBuffer = new KllBuffer(k, 0L)

  override def update(buf: KllBuffer, input: InternalRow): KllBuffer = {
    val raw = child.eval(input)
    if (raw != null) buf.insert(toDouble(raw))
    buf
  }

  override def merge(buf: KllBuffer, other: KllBuffer): KllBuffer = {
    buf.mergeIn(other)
    buf
  }

  override def eval(buf: KllBuffer): Any = buf.serialize()
  override def serialize(buf: KllBuffer): Array[Byte] = buf.serialize()
  override def deserialize(bytes: Array[Byte]): KllBuffer =
    KllBuffer.deserialize(bytes)

  override def withNewMutableAggBufferOffset(o: Int): QuantileSketchAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): QuantileSketchAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): QuantileSketchAgg =
    copy(child = newChildren.head)
}

/** Union of serialized quantile-sketch states — the merge leg: rolls
  * fine-grain state rows up to a coarser grouping without the raw
  * table, composable like [[QuantileSketchAgg]] itself. */
case class QuantileSketchUnion(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[KllBuffer] with ExpectsInputTypes {

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = BinaryType

  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType)

  // k arrives with the first sketch; an empty-group eval serializes the
  // placeholder (k=8, n=0) whose quantiles are all-null anyway
  override def createAggregationBuffer(): KllBuffer = new KllBuffer(8, 0L)

  override def update(buf: KllBuffer, input: InternalRow): KllBuffer = {
    val raw = child.eval(input)
    if (raw == null) buf
    else {
      val other = KllBuffer.deserialize(raw.asInstanceOf[Array[Byte]])
      if (buf.n == 0L && buf.levels.forall(_.isEmpty)) other
      else { buf.mergeIn(other); buf }
    }
  }

  override def merge(buf: KllBuffer, other: KllBuffer): KllBuffer =
    if (buf.n == 0L && buf.levels.forall(_.isEmpty)) other
    else { buf.mergeIn(other); buf }

  override def eval(buf: KllBuffer): Any = buf.serialize()
  override def serialize(buf: KllBuffer): Array[Byte] = buf.serialize()
  override def deserialize(bytes: Array[Byte]): KllBuffer =
    KllBuffer.deserialize(bytes)

  override def withNewMutableAggBufferOffset(o: Int): QuantileSketchUnion =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): QuantileSketchUnion =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): QuantileSketchUnion =
    copy(child = newChildren.head)
}

/** Scalar read of a (possibly merged) sketch state: discrete quantiles
  * at the given probabilities, percentile_disc rank semantics. Null for
  * an empty sketch. */
case class SketchQuantiles(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes with CodegenFallback {

  override def dataType: DataType =
    ArrayType(DoubleType, containsNull = false)
  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true

  override def inputTypes: Seq[AbstractDataType] =
    Seq(BinaryType, ArrayType(DoubleType))

  override def nullSafeEval(sketch: Any, probs: Any): Any = {
    val buf = KllBuffer.deserialize(sketch.asInstanceOf[Array[Byte]])
    val ps = probs.asInstanceOf[ArrayData].toDoubleArray()
    val qs = buf.quantiles(ps)
    if (qs.exists(_.isNaN)) null else new GenericArrayData(qs)
  }

  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): SketchQuantiles =
    copy(left = l, right = r)
}
