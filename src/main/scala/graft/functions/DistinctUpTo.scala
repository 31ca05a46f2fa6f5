package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.graftshim.Shims.{AbstractDataType, TypeCollection}
import org.apache.spark.sql.types._

/** `min(count distinct, cap)` with STATE BOUNDED BY `cap` — the
  * scale-correct form of every "at least l distinct values?" test
  * (l-diversity's is the motivating one): the answer saturates at `cap`,
  * so the aggregate stops remembering the moment it has seen `cap`
  * distinct values. Exact `countDistinct` keeps per-group state
  * proportional to the group's true cardinality (and plans a two-phase
  * expand); this keeps ≤ cap longs per group — which is also what makes
  * it legal as ONE stateful streaming aggregation (exact distinct is
  * unsupported in streaming aggregations; this is a plain
  * TypedImperativeAggregate with fixed-bound state, the
  * [[DivergenceCounters]] contract).
  *
  * Input must be integral (long-coercible) — the sensitive attribute in
  * privacy audits is a generalization BUCKET by construction. Nulls
  * don't count (the countDistinct convention). Merge is capped set
  * union: min(|A ∪ B|, cap) == min(true distinct, cap) whatever the
  * split, so the result is partition- and order-invariant. */
case class DistinctUpTo(
    child: Expression,
    cap: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[java.util.HashSet[java.lang.Long]]
  with ExpectsInputTypes {

  require(cap >= 1, s"cap must be >= 1, got $cap")

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = LongType

  override def inputTypes: Seq[AbstractDataType] =
    Seq(TypeCollection(LongType, IntegerType, ShortType, ByteType))

  private def toLong(raw: Any): Long = raw match {
    case l: java.lang.Long => l.longValue()
    case i: java.lang.Integer => i.longValue()
    case s: java.lang.Short => s.longValue()
    case b: java.lang.Byte => b.longValue()
  }

  override def createAggregationBuffer(): java.util.HashSet[java.lang.Long] =
    new java.util.HashSet[java.lang.Long](math.min(cap, 16) * 2)

  override def update(
      buf: java.util.HashSet[java.lang.Long],
      input: InternalRow): java.util.HashSet[java.lang.Long] = {
    if (buf.size() < cap) {
      val raw = child.eval(input)
      if (raw != null) buf.add(toLong(raw))
    }
    buf
  }

  override def merge(
      buf: java.util.HashSet[java.lang.Long],
      other: java.util.HashSet[java.lang.Long])
      : java.util.HashSet[java.lang.Long] = {
    val it = other.iterator()
    while (buf.size() < cap && it.hasNext) buf.add(it.next())
    buf
  }

  override def eval(buf: java.util.HashSet[java.lang.Long]): Any =
    buf.size().toLong

  override def serialize(
      buf: java.util.HashSet[java.lang.Long]): Array[Byte] = {
    val bos = new ByteArrayOutputStream(4 + buf.size() * 8)
    val out = new DataOutputStream(bos)
    out.writeInt(buf.size())
    val it = buf.iterator()
    while (it.hasNext) out.writeLong(it.next())
    out.flush()
    bos.toByteArray
  }

  override def deserialize(
      bytes: Array[Byte]): java.util.HashSet[java.lang.Long] = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val n = in.readInt()
    val buf = new java.util.HashSet[java.lang.Long](math.max(n * 2, 4))
    var i = 0
    while (i < n) { buf.add(in.readLong()); i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(o: Int): DistinctUpTo =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): DistinctUpTo =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): DistinctUpTo =
    copy(child = newChildren.head)
}

object DistinctUpTo {
  def column(c: Column, cap: Int): Column =
    org.apache.spark.sql.graftshim.Shims.column(
      DistinctUpTo(org.apache.spark.sql.graftshim.Shims.expression(c), cap)
        .toAggregateExpression())
}
