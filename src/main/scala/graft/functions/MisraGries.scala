package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graftshim.Shims.{AbstractDataType, TypeCollection}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Mutable Misra-Gries summary: at most `capacity` counters plus the
  * number of values observed. The classic deterministic heavy-hitter
  * sketch (Misra & Gries 1982): every item with true frequency
  * > n/(capacity+1) is GUARANTEED to hold a counter when the pass ends —
  * the one-sided error is only ever an over-report of candidates, never
  * a miss. */
final class MgBuffer(
    val counts: java.util.HashMap[Any, Long], var n: Long)

/** Misra-Gries heavy-hitter candidates over a string/int/long column as a
  * [[TypedImperativeAggregate]] — the engine's bounded-state aggregate
  * tier. Each partition folds its rows into a `capacity`-counter summary
  * (O(capacity) memory however many rows flow through); partial summaries
  * merge pairwise with the standard offset-subtraction merge (Agarwal et
  * al. 2013, "Mergeable Summaries"), which preserves the guarantee:
  * after any merge tree, every item with count > n/(capacity+1) survives.
  *
  * So the SHUFFLE carries `capacity` counters per partition instead of
  * one row per distinct key — the whole point at 100 TB, where a plain
  * `groupBy(col).count()` on a high-cardinality column shuffles the
  * world to find a handful of frequent values.
  *
  * The returned value is the sorted candidate item array (a SUPERSET of
  * the true heavy hitters; contents beyond the guarantee depend on the
  * merge order). Callers wanting exact, deterministic output verify the
  * candidates with a second exact pass — [[graft.operators.HeavyHitters]]
  * — mirroring the q43 approx/exact pairing.
  */
case class MisraGriesCandidates(
    child: Expression,
    capacity: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[MgBuffer] with ExpectsInputTypes {

  require(capacity >= 1, s"capacity must be >= 1, got $capacity")

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(child.dataType)

  override def inputTypes: Seq[AbstractDataType] =
    Seq(TypeCollection(StringType, IntegerType, LongType))

  override def createAggregationBuffer(): MgBuffer =
    new MgBuffer(new java.util.HashMap[Any, Long](capacity * 2), 0L)

  override def update(buf: MgBuffer, input: InternalRow): MgBuffer = {
    val raw = child.eval(input)
    if (raw != null) {
      buf.n += 1L
      val cur = buf.counts.getOrDefault(raw, 0L)
      if (cur > 0L) {
        buf.counts.put(raw, cur + 1L)
      } else if (buf.counts.size() < capacity) {
        // an UnsafeRow-backed UTF8String is a pointer into a REUSED row
        // buffer — keys stored across rows must own their bytes
        val v = raw match {
          case s: UTF8String => s.clone()
          case other => other
        }
        buf.counts.put(v, 1L)
      } else {
        // decrement-all step: amortized O(1) — each decrement "spends"
        // one prior increment, so total work is O(rows + capacity)
        val it = buf.counts.entrySet().iterator()
        while (it.hasNext) {
          val e = it.next()
          if (e.getValue == 1L) it.remove()
          else e.setValue(e.getValue - 1L)
        }
      }
    }
    buf
  }

  override def merge(buf: MgBuffer, other: MgBuffer): MgBuffer = {
    val oit = other.counts.entrySet().iterator()
    while (oit.hasNext) {
      val e = oit.next()
      buf.counts.put(e.getKey, buf.counts.getOrDefault(e.getKey, 0L) + e.getValue)
    }
    buf.n += other.n
    if (buf.counts.size() > capacity) {
      // subtract the (capacity+1)-th largest count from every counter and
      // drop the non-positive — the mergeable-summaries reduction, which
      // keeps the summary at `capacity` and the error ≤ n/(capacity+1)
      val values = new Array[Long](buf.counts.size())
      val vit = buf.counts.values().iterator()
      var i = 0
      while (vit.hasNext) { values(i) = vit.next(); i += 1 }
      java.util.Arrays.sort(values)
      val offset = values(values.length - capacity - 1)
      val it = buf.counts.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        if (e.getValue <= offset) it.remove()
        else e.setValue(e.getValue - offset)
      }
    }
    buf
  }

  override def eval(buf: MgBuffer): Any = {
    val keys = new Array[AnyRef](buf.counts.size())
    buf.counts.keySet().toArray(keys)
    // deterministic candidate ORDER (the set itself is merge-shaped)
    child.dataType match {
      case StringType =>
        java.util.Arrays.sort(keys.asInstanceOf[Array[AnyRef]],
          (a: AnyRef, b: AnyRef) => a.asInstanceOf[UTF8String]
            .compareTo(b.asInstanceOf[UTF8String]))
      case IntegerType =>
        java.util.Arrays.sort(keys,
          (a: AnyRef, b: AnyRef) => java.lang.Integer.compare(
            a.asInstanceOf[java.lang.Integer], b.asInstanceOf[java.lang.Integer]))
      case _ =>
        java.util.Arrays.sort(keys,
          (a: AnyRef, b: AnyRef) => java.lang.Long.compare(
            a.asInstanceOf[java.lang.Long], b.asInstanceOf[java.lang.Long]))
    }
    new GenericArrayData(keys)
  }

  override def serialize(buf: MgBuffer): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeLong(buf.n)
    out.writeInt(buf.counts.size())
    val it = buf.counts.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      child.dataType match {
        case StringType =>
          val b = e.getKey.asInstanceOf[UTF8String].getBytes
          out.writeInt(b.length); out.write(b)
        case IntegerType => out.writeInt(e.getKey.asInstanceOf[Int])
        case _ => out.writeLong(e.getKey.asInstanceOf[Long])
      }
      out.writeLong(e.getValue)
    }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): MgBuffer = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val n = in.readLong()
    val size = in.readInt()
    val m = new java.util.HashMap[Any, Long](size * 2)
    var i = 0
    while (i < size) {
      val key: Any = child.dataType match {
        case StringType =>
          val len = in.readInt()
          val b = new Array[Byte](len)
          in.readFully(b)
          UTF8String.fromBytes(b)
        case IntegerType => in.readInt()
        case _ => in.readLong()
      }
      m.put(key, in.readLong())
      i += 1
    }
    new MgBuffer(m, n)
  }

  override def withNewMutableAggBufferOffset(o: Int): MisraGriesCandidates =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): MisraGriesCandidates =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): MisraGriesCandidates =
    copy(child = newChildren.head)
}
