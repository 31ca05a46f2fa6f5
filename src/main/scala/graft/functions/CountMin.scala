package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graftshim.Shims.AbstractDataType
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Count-Min sketch over a string column as a
  * [[TypedImperativeAggregate]] (Cormode & Muthukrishnan 2005): a
  * `depth × width` counter table; each value increments one counter per
  * row of the table at column h_i(value) mod width. The point estimate
  * for a key is the MIN of its depth counters — always ≥ the true count,
  * over by at most εn with probability 1−δ (ε = e/width, δ = e^−depth).
  *
  * Scale contract: per-partition state and the shuffled partial are
  * `depth·width` longs (a few KB) REGARDLESS of row count or key
  * cardinality — the frequency-table shape that a 100 TB
  * `groupBy(token).count()` cannot afford. Merge is element-wise sum.
  *
  * Determinism: counters are pure sums, so the merged table is
  * bit-identical under ANY partitioning or merge order (unlike
  * Misra-Gries, whose candidate SET is merge-shaped). And because the
  * row hashes are the [[PortableHash]] md5-affine family, the ENTIRE
  * sketch — not just a bound — is replayable in oracle SQL: group
  * occurrences by (i, (a_i·H+b_i) mod p mod width) and the counters
  * match this aggregate's output exactly.
  */
case class CountMinCounters(
    child: Expression,
    depth: Int,
    width: Int,
    seed: Long = 43L,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]] with ExpectsInputTypes {

  require(depth >= 1 && depth <= 16, s"depth must be in [1,16], got $depth")
  require(width >= 2, s"width must be >= 2, got $width")

  @transient private lazy val coef: Array[(Long, Long)] =
    PortableHash.coefficients(depth, seed).toArray

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)

  override def createAggregationBuffer(): Array[Long] =
    new Array[Long](depth * width)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val raw = child.eval(input)
    if (raw != null) {
      val h = PortableHash.hash32(raw.asInstanceOf[UTF8String].getBytes)
      var i = 0
      while (i < depth) {
        val (a, b) = coef(i)
        val c = ((a * h + b) % PortableHash.prime % width).toInt
        buf(i * width + c) += 1L
        i += 1
      }
    }
    buf
  }

  override def merge(buf: Array[Long], other: Array[Long]): Array[Long] = {
    var i = 0
    while (i < buf.length) { buf(i) += other(i); i += 1 }
    buf
  }

  override def eval(buf: Array[Long]): Any = new GenericArrayData(buf)

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bos = new ByteArrayOutputStream(buf.length * 8)
    val out = new DataOutputStream(bos)
    var i = 0
    while (i < buf.length) { out.writeLong(buf(i)); i += 1 }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val buf = new Array[Long](depth * width)
    var i = 0
    while (i < buf.length) { buf(i) = in.readLong(); i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(o: Int): CountMinCounters =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): CountMinCounters =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): CountMinCounters =
    copy(child = newChildren.head)
}
