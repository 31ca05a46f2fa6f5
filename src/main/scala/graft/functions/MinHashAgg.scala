package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graftshim.Shims.{AbstractDataType, TypeCollection}
import org.apache.spark.sql.types._

/** All k MinHash slots as ONE aggregate: buffer = long[k], update = one
  * tight loop of Carter–Wegman derivations h_i = (a_i·H + b_i) mod p
  * with an element-wise running min.
  *
  * Replaces the k-separate-`min((a_i*H+b_i) % p)` aggregate-expression
  * formulation, whose per-row cost is k independent codegen'd aggregate
  * updates (each with its own null check, buffer slot bookkeeping, and
  * join-row indirection). Profiling the portable chain showed the
  * signature pass's CPU DOUBLING from k=64 to k=128 — the k-expression
  * machinery, not the one md5 per shingle, dominated. Values are
  * bit-identical to the expression form (same 64-bit multiply-add-mod),
  * so the generated DuckDB oracles (q35/q57) replay unchanged.
  *
  * Coefficients are passed as the (a, b) pair sequence from
  * [[PortableHash.coefficients]] — a Seq so the node keeps case-class
  * equality (an Array field would compare by reference and defeat plan
  * canonicalization).
  */
case class PortableMinHashAgg(
    child: Expression,
    coef: Seq[(Long, Long)],
    prime: Long,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]] with ExpectsInputTypes {

  require(coef.nonEmpty, "minhash needs at least one coefficient pair")

  @transient private lazy val as: Array[Long] = coef.map(_._1).toArray
  @transient private lazy val bs: Array[Long] = coef.map(_._2).toArray
  private def k: Int = coef.length

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def inputTypes: Seq[AbstractDataType] =
    Seq(TypeCollection(LongType, IntegerType))

  override def createAggregationBuffer(): Array[Long] =
    Array.fill(k)(Long.MaxValue)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val raw = child.eval(input)
    if (raw != null) {
      val h = raw.asInstanceOf[Number].longValue()
      var i = 0
      while (i < buf.length) {
        val v = (as(i) * h + bs(i)) % prime
        if (v < buf(i)) buf(i) = v
        i += 1
      }
    }
    buf
  }

  override def merge(buf: Array[Long], other: Array[Long]): Array[Long] = {
    var i = 0
    while (i < buf.length) {
      if (other(i) < buf(i)) buf(i) = other(i)
      i += 1
    }
    buf
  }

  override def eval(buf: Array[Long]): Any = new GenericArrayData(buf)

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bytes = new Array[Byte](buf.length * 8)
    val bb = java.nio.ByteBuffer.wrap(bytes)
    var i = 0
    while (i < buf.length) { bb.putLong(buf(i)); i += 1 }
    bytes
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val buf = new Array[Long](bytes.length / 8)
    var i = 0
    while (i < buf.length) { buf(i) = bb.getLong(); i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(o: Int): PortableMinHashAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): PortableMinHashAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      c: IndexedSeq[Expression]): PortableMinHashAgg = copy(child = c.head)
}

object PortableMinHashAgg {
  /** Aggregate column: array<long> of the k per-slot minima of
    * (a_i·H + b_i) mod p over the group's base-hash column `h`. */
  def column(h: Column, coef: Seq[(Long, Long)], prime: Long): Column =
    org.apache.spark.sql.graftshim.Shims.column(
      PortableMinHashAgg(
        org.apache.spark.sql.graftshim.Shims.expression(h), coef, prime)
        .toAggregateExpression())
}

/** One-permutation-hashing signature as ONE aggregate: buffer = per-bin
  * raw minima (long[k], bin = H mod k), eval applies the rotation
  * densification of Shrivastava & Li (UAI 2014) — slot j = min over
  * non-empty bins b of ((b − j) mod k)·offset + min_H(b).
  *
  * Replaces the two-shuffle formulation (groupBy (doc, bin) min →
  * groupBy doc collect_list → interpreted transform/array_min
  * densification): one groupBy(doc), map-side-combined k-long buffers,
  * and the O(k²)-per-doc densification runs once at eval in a tight
  * loop instead of per-slot interpreted HOF lambdas. Values are
  * bit-identical to the expression form, so the generated q117 oracle
  * replays unchanged.
  */
case class OphMinHashAgg(
    child: Expression,
    numSlots: Int,
    offset: Long,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]] with ExpectsInputTypes {

  require(numSlots >= 1, s"numSlots must be >= 1, got $numSlots")

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def inputTypes: Seq[AbstractDataType] =
    Seq(TypeCollection(LongType, IntegerType))

  override def createAggregationBuffer(): Array[Long] =
    Array.fill(numSlots)(Long.MaxValue)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val raw = child.eval(input)
    if (raw != null) {
      val h = raw.asInstanceOf[Number].longValue()
      // INPUT CONTRACT, enforced: the base hash must lie in [0, offset).
      // The densification arithmetic assumes it twice over — a value
      // ≥ offset breaks the "displacement dominates every raw hash"
      // ordering (and can overflow (k-1)·offset + h), while a negative
      // or Long.MaxValue input would corrupt the bin minima / be
      // misread as an empty bin at eval. A caller feeding raw xxhash64
      // must mask to 32 bits first (the portable chain's md5Prefix(·, 8)
      // satisfies this by construction); failing fast here beats
      // silently wrong signatures.
      if (h < 0L || h >= offset)
        throw new IllegalArgumentException(
          s"oph_minhash_agg base hash out of contract: $h not in " +
            s"[0, $offset) — mask 64-bit hashes to 32 bits first")
      val bin = java.lang.Math.floorMod(h, numSlots.toLong).toInt
      if (h < buf(bin)) buf(bin) = h
    }
    buf
  }

  override def merge(buf: Array[Long], other: Array[Long]): Array[Long] = {
    var i = 0
    while (i < buf.length) {
      if (other(i) < buf(i)) buf(i) = other(i)
      i += 1
    }
    buf
  }

  override def eval(buf: Array[Long]): Any = {
    // rotation densification: Long.MaxValue marks an empty bin (raw
    // 32-bit hashes are far below it, and an aggregate group implies at
    // least one non-empty bin)
    val k = numSlots
    val out = new Array[Long](k)
    var j = 0
    while (j < k) {
      var best = Long.MaxValue
      var b = 0
      while (b < k) {
        if (buf(b) != Long.MaxValue) {
          val v = java.lang.Math.floorMod((b - j).toLong, k.toLong) *
            offset + buf(b)
          if (v < best) best = v
        }
        b += 1
      }
      out(j) = best
      j += 1
    }
    new GenericArrayData(out)
  }

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bytes = new Array[Byte](buf.length * 8)
    val bb = java.nio.ByteBuffer.wrap(bytes)
    var i = 0
    while (i < buf.length) { bb.putLong(buf(i)); i += 1 }
    bytes
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val buf = new Array[Long](bytes.length / 8)
    var i = 0
    while (i < buf.length) { buf(i) = bb.getLong(); i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(o: Int): OphMinHashAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): OphMinHashAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      c: IndexedSeq[Expression]): OphMinHashAgg = copy(child = c.head)
}

object OphMinHashAgg {
  /** Aggregate column: densified OPH signature (array<long> of numSlots
    * values) over the group's base-hash column `h`. */
  def column(h: Column, numSlots: Int, offset: Long): Column =
    org.apache.spark.sql.graftshim.Shims.column(
      OphMinHashAgg(
        org.apache.spark.sql.graftshim.Shims.expression(h), numSlots,
        offset).toAggregateExpression())
}
