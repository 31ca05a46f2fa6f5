package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}
import java.math.{BigDecimal => JBigDecimal, RoundingMode}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.graftshim.Shims.AbstractDataType
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Unigram-divergence aggregate against a FROZEN reference profile: one
  * pass over token rows accumulates a (K+1)-slot counter vector (top-K
  * reference vocabulary + `<oov>`) and evaluates to
  * (n_tokens, oov_frac, kl_vs_ref, js_vs_ref) — the train-vs-serve
  * lexical skew monitor, where the reference is a designated corpus
  * slice rather than [[graft.operators.Drift.unigramDivergence]]'s
  * all-source global.
  *
  * Why an aggregate and not the frame shape: the frame form needs the
  * per-(group, symbol) contingency PLUS a groups × support join — two
  * chained aggregations, which a STREAMING window cannot run as one
  * stateful operator. This aggregate gives the windowed form one
  * watermark-bounded state row of K+1 longs per window (the
  * [[CountMinCounters]] fixed-width-state contract), and the batch form
  * one map-side-combined pass.
  *
  * Reference probabilities arrive Laplace-smoothed by the CALLER
  * (q_i = (n_i + 1) / (total + K + 1) — [[graft.operators.Drift.psi]]'s
  * exact-integer recipe), so every support symbol has q > 0 and
  * KL(p‖q) is finite even for tokens the reference never saw (they ride
  * the `<oov>` slot). The current side is NOT smoothed (p is the exact
  * integer ratio), so identical-to-reference windows read ≈0, not
  * exactly 0 — the PSI-family property, documented there.
  *
  * Float discipline (oracle-replayable, the q163/q174 recipe): p and q
  * are correctly-rounded double divisions of exact longs; each ln is
  * quantized to DECIMAL(24,10) HALF_UP before multiplying; each term to
  * DECIMAL(28,12); terms sum as exact BigDecimals (order-free), cast to
  * double at the end and rounded to 6. oov_frac is floor-ppm integer
  * arithmetic (the q173 lesson: float ROUND on an exact ratio can land
  * on an engine-splitting .5 tie).
  *
  * Merge is element-wise long addition — bit-identical under any
  * partitioning or merge order.
  */
case class DivergenceCounters(
    child: Expression,
    vocab: Seq[String],
    refQ: Seq[Double],
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]] with ExpectsInputTypes {

  require(vocab.nonEmpty, "vocab must be non-empty")
  require(refQ.length == vocab.length + 1,
    s"refQ must carry vocab + oov probabilities " +
      s"(${vocab.length + 1}), got ${refQ.length}")
  require(refQ.forall(_ > 0.0),
    "reference probabilities must be positive (smooth the profile)")

  private val k = vocab.length

  // UTF8String-keyed so the per-token hot path does a hash lookup on
  // the raw eval() value with NO String materialization (a String per
  // token is corpus-sized garbage at 100 TB rates); UTF8String has
  // value equals/hashCode, and get() retains nothing, so a buffer-backed
  // input UTF8String is safe to probe with
  @transient private lazy val index: java.util.HashMap[UTF8String, Integer] = {
    val m = new java.util.HashMap[UTF8String, Integer](k * 2)
    var i = 0
    while (i < k) { m.put(UTF8String.fromString(vocab(i)), i); i += 1 }
    m
  }

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = StructType(Seq(
    StructField("n_tokens", LongType, nullable = false),
    StructField("oov_frac", DoubleType, nullable = false),
    StructField("kl_vs_ref", DoubleType, nullable = false),
    StructField("js_vs_ref", DoubleType, nullable = false)))

  // keep the K-sized vocabulary and probability vectors OUT of plan
  // text (the q129/q97 plan-size pathology class); sizes identify the
  // shape, the values live only in the serialized expression
  override def stringArgs: Iterator[Any] =
    Iterator(child, s"vocab[${vocab.length}]", s"refQ[${refQ.length}]")

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)

  override def createAggregationBuffer(): Array[Long] = new Array[Long](k + 1)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val raw = child.eval(input)
    if (raw != null) {
      val i = index.get(raw.asInstanceOf[UTF8String])
      buf(if (i == null) k else i.intValue()) += 1L
    }
    buf
  }

  override def merge(buf: Array[Long], other: Array[Long]): Array[Long] = {
    var i = 0
    while (i < buf.length) { buf(i) += other(i); i += 1 }
    buf
  }

  private def dec10(x: Double): Double =
    JBigDecimal.valueOf(x).setScale(10, RoundingMode.HALF_UP).doubleValue()

  private def dec12(x: Double): JBigDecimal =
    JBigDecimal.valueOf(x).setScale(12, RoundingMode.HALF_UP)

  private def round6(x: Double): Double =
    JBigDecimal.valueOf(x).setScale(6, RoundingMode.HALF_UP).doubleValue()

  override def eval(buf: Array[Long]): Any = {
    var n = 0L
    var i = 0
    while (i <= k) { n += buf(i); i += 1 }
    // a group exists only if it saw rows, but all-null token groups can
    // reach here with n = 0 — emit the defined-neutral row
    if (n == 0L) return InternalRow(0L, 0.0, 0.0, 0.0)
    var kl = JBigDecimal.ZERO
    var jsp = JBigDecimal.ZERO
    var jsq = JBigDecimal.ZERO
    i = 0
    while (i <= k) {
      val q = refQ(i)
      val p = if (buf(i) > 0) buf(i).toDouble / n.toDouble else 0.0
      val m = (p + q) / 2.0
      if (buf(i) > 0) {
        kl = kl.add(dec12(p * dec10(math.log(p / q))))
        jsp = jsp.add(dec12(p * dec10(math.log(p / m))))
      }
      jsq = jsq.add(dec12(q * dec10(math.log(q / m))))
      i += 1
    }
    // BigInt product: a window past ~9.2e12 oov tokens would overflow
    // the long ppm product at 100 TB rates
    val oovFrac =
      (BigInt(buf(k)) * 1000000 / BigInt(n)).toLong.toDouble / 1e6
    InternalRow(n, oovFrac,
      round6(kl.doubleValue()),
      round6(jsp.add(jsq).doubleValue() / 2.0))
  }

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
    val buf = new Array[Long](k + 1)
    var i = 0
    while (i < buf.length) { buf(i) = in.readLong(); i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(o: Int): DivergenceCounters =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): DivergenceCounters =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): DivergenceCounters =
    copy(child = newChildren.head)
}
