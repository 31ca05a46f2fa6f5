package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression,
  ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodegenFallback, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftshim.Shims.AbstractDataType
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Static row kernels of [[CosineSimilarity]], [[EuclideanDistSq]] and
  * [[NearestCentroid]]: `eval` and the generated code both call them, so
  * each loop is written once. Sums run in double over float inputs, in
  * index order. A kernel assumes its inputs passed the null predicate. */
object VectorUtil {
  /** Cosine is null when the lengths differ, the arrays are empty, or one
    * side is all zeros — exactly the inputs with a zero norm. */
  def cosineIsNull(a: ArrayData, b: ArrayData): Boolean = {
    val n = a.numElements()
    n != b.numElements() || n == 0 || allZero(a) || allZero(b)
  }

  def cosine(a: ArrayData, b: ArrayData): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < a.numElements()) {
      val x = a.getFloat(i).toDouble
      val y = b.getFloat(i).toDouble
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Stops at the first nonzero element (±0 count as zero). */
  private def allZero(a: ArrayData): Boolean = {
    var i = 0
    while (i < a.numElements() && a.getFloat(i) == 0f) i += 1
    i == a.numElements()
  }

  def distSqIsNull(a: ArrayData, b: ArrayData): Boolean =
    a.numElements() != b.numElements()

  def distSq(a: ArrayData, b: ArrayData): Double = {
    var acc = 0.0
    var i = 0
    while (i < a.numElements()) {
      val d = a.getFloat(i).toDouble - b.getFloat(i).toDouble
      acc += d * d
      i += 1
    }
    acc
  }

  /** [[NearestCentroid]]'s argmin of [[distSq]] (semantics there). */
  def nearest(v: ArrayData, centroids: Array[ArrayData]): Long = {
    var best = -1L
    var first = -1L
    var bestD = Double.PositiveInfinity
    var c = 0
    while (c < centroids.length) {
      if (!distSqIsNull(v, centroids(c))) {
        if (first < 0) first = c
        val d = distSq(v, centroids(c))
        if (d < bestD) { bestD = d; best = c }
      }
      c += 1
    }
    if (best < 0) first else best
  }
}

/** Cosine similarity over two `array<float>` columns as one codegen'd
  * call of [[VectorUtil.cosine]] — the scale path for brute-force ANN:
  * no `zip_with` intermediate array materialization, no per-element
  * expression eval.
  *
  * Null/edge semantics: null input → null; length mismatch, empty, or
  * zero-norm → null.
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(FloatType), ArrayType(FloatType))

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    if (VectorUtil.cosineIsNull(a, b)) null else VectorUtil.cosine(a, b)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => s"""
      |if (graft.functions.VectorUtil.cosineIsNull($a, $b)) {
      |  ${ev.isNull} = true;
      |} else {
      |  ${ev.value} = graft.functions.VectorUtil.cosine($a, $b);
      |}""".stripMargin)

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSimilarity =
    copy(left = newLeft, right = newRight)
}

/** Squared Euclidean distance over two `array<float>` columns as one
  * codegen'd call of [[VectorUtil.distSq]] — where a per-centroid
  * `zip_with`+`aggregate` tree would bloat codegen and materialize an
  * intermediate array per centroid per row. Null/length-mismatch → null.
  */
case class EuclideanDistSq(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(FloatType), ArrayType(FloatType))

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    if (VectorUtil.distSqIsNull(a, b)) null else VectorUtil.distSq(a, b)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => s"""
      |if (graft.functions.VectorUtil.distSqIsNull($a, $b)) {
      |  ${ev.isNull} = true;
      |} else {
      |  ${ev.value} = graft.functions.VectorUtil.distSq($a, $b);
      |}""".stripMargin)

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): EuclideanDistSq =
    copy(left = newLeft, right = newRight)
}

/** Argmin-centroid assignment over a WHOLE centroid matrix in one
  * expression node — the IVF/k-means/PQ assignment primitive.
  *
  * Why not compose from [[EuclideanDistSq]]: the per-centroid column
  * tree (`CASE WHEN dist_i = least(dist_0..dist_k) THEN i ...`) embeds
  * every distance expression — 64 float literals each — once per WHEN
  * branch, an O(k² · dim) expression tree. At k=8/dim=64 the executed
  * plan printed 344 KB and every driver pass (analysis, canonicalization
  * for exchange reuse, AQE re-planning, Janino compile) walked it; q129's
  * steady-state was ~2 s of DRIVER time on <1 s of executor work, with a
  * 23 s worst run when bench-JVM GC landed on those walks. Here the
  * matrix lives OUTSIDE the tree — a plain constructor value, shipped to
  * codegen via `addReferenceObj` — so the plan holds one node and the
  * generated source one call of [[VectorUtil.nearest]], at any k.
  *
  * Semantics (bit-identical to the old tree, including Spark's NaN
  * rules): squared-L2 in double over float inputs, argmin with ties to
  * the LOWEST centroid id; a centroid of mismatched length never wins
  * (its distance was NULL under [[EuclideanDistSq]], skipped by
  * `least`); a NaN distance loses to every REAL distance (NaN ranks
  * above every double in `least`), but when EVERY length-matching
  * distance is NaN the lowest-id length-matching centroid wins —
  * Spark SQL's `NaN = NaN` is TRUE, so the old tree's first
  * `WHEN dist_i = least(...)` branch fired there (assigning a
  * garbage all-NaN vector to a cluster is arbitrary but harmless;
  * returning -1 instead would crash downstream `element_at(lut,
  * code + 1)` ADC lookups); null/unmatchable input → -1 (the old
  * tree's `otherwise` default), so the expression is never null.
  *
  * `centroids` is an IndexedSeq for structural case-class equality —
  * two assignments over the same matrix canonicalize equal, which is
  * what lets the self-join arms share one exchange. toString prints the
  * matrix SHAPE only (k×dim), keeping plan dumps readable. */
case class NearestCentroid(child: Expression, centroids: IndexedSeq[IndexedSeq[Float]])
    extends UnaryExpression with ExpectsInputTypes {

  override def dataType: DataType = LongType
  override def nullable: Boolean = false

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(FloatType))

  @transient private lazy val cents: Array[ArrayData] =
    centroids.map(c => ArrayData.toArrayData(c.toArray)).toArray

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) -1L else VectorUtil.nearest(v.asInstanceOf[ArrayData], cents)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val childGen = child.genCode(ctx)
    val mat = ctx.addReferenceObj("centroids", cents,
      "org.apache.spark.sql.catalyst.util.ArrayData[]")
    ev.copy(
      code = code"""
        ${childGen.code}
        final long ${ev.value} = ${childGen.isNull} ? -1L
          : graft.functions.VectorUtil.nearest(${childGen.value}, $mat);
      """,
      isNull = org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral)
  }

  override def toString: String =
    s"nearest_centroid($child, ${centroids.length}x" +
      s"${centroids.headOption.map(_.length).getOrElse(0)})"
  override def sql: String =
    s"nearest_centroid(${child.sql}, ${centroids.length}x" +
      s"${centroids.headOption.map(_.length).getOrElse(0)})"

  override protected def withNewChildInternal(newChild: Expression): NearestCentroid =
    copy(child = newChild)
}

/** Bloom-filter membership probe over a 64-bit hash column, with the
  * serialized filter held OUTSIDE the expression tree — the q97 instance
  * of the same pathology [[NearestCentroid]] fixed for centroid
  * matrices: `BloomFilterMightContain(Literal(bytes, BinaryType), …)`
  * prints the WHOLE filter as hex in every plan dump (359 KiB of
  * executed-plan text for a ~1 Mi-key bloom), and every driver plan
  * walk pays it. Here the bytes are a constructor field with a
  * shape-only toString; the deserialized
  * `org.apache.spark.util.sketch.BloomFilter` is built lazily once per
  * JVM and shipped to codegen via `addReferenceObj` — per-row probes
  * call `mightContainLong` directly, identical semantics to Spark's
  * own expression (which also hashes with XxHash64 before probing).
  *
  * Array-field case-class equality is reference-based — two probes
  * over equal bytes won't canonicalize equal. Harmless here: nothing
  * reuses a filter-probe subtree, and each [[graft.operators
  * .BloomJoin]] call builds its own filter anyway. */
case class BloomProbe(child: Expression, bloomBytes: Array[Byte])
    extends UnaryExpression with ExpectsInputTypes {

  // an EMPTY build side serializes to null (BloomFilterAggregate.eval
  // returns null at cardinality 0) — callers must map that to a null
  // boolean column (see BloomJoin.mightContain), not construct a probe
  require(bloomBytes != null,
    "bloom_probe needs a non-null serialized filter; an empty build " +
      "side yields null — emit a null-boolean column instead")

  override def dataType: DataType = BooleanType
  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true

  override def inputTypes: Seq[AbstractDataType] = Seq(LongType)

  @transient private lazy val filter: org.apache.spark.util.sketch.BloomFilter =
    org.apache.spark.util.sketch.BloomFilter.readFrom(
      new java.io.ByteArrayInputStream(bloomBytes))

  override def nullSafeEval(v: Any): Any =
    java.lang.Boolean.valueOf(filter.mightContainLong(v.asInstanceOf[Long]))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bf = ctx.addReferenceObj("bloomFilter", filter,
      classOf[org.apache.spark.util.sketch.BloomFilter].getName)
    nullSafeCodeGen(ctx, ev, h => s"${ev.value} = $bf.mightContainLong($h);")
  }

  override def toString: String =
    s"bloom_probe($child, ${bloomBytes.length}B)"
  override def sql: String =
    s"bloom_probe(${child.sql}, ${bloomBytes.length}B)"

  override protected def withNewChildInternal(newChild: Expression): BloomProbe =
    copy(child = newChild)
}

/** 64-bit SimHash of an `array<string>` token column.
  *
  * Standard construction (Charikar 2002, "Similarity Estimation Techniques
  * from Rounding Algorithms"): per token take a 64-bit hash; for each bit
  * add +1/-1 to a 64-wide tally; the sketch's bit i is the tally sign.
  * Token hash = xxHash64(utf8 bytes, seed 42) — Spark's own `xxhash64`
  * seed, so `xxhash64(token)` in SQL matches per-token values.
  *
  * Per-row sketch compute is O(tokens × 64) driver-free work; eval-mode
  * (CodegenFallback) is fine here because the op is used once per document
  * in dedup pipelines, not in inner join loops.
  */
case class SimHash64(child: Expression)
    extends UnaryExpression with ExpectsInputTypes with CodegenFallback {

  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(StringType))

  override def nullSafeEval(v: Any): Any = {
    val arr = v.asInstanceOf[ArrayData]
    val tally = new Array[Int](64)
    var i = 0
    val n = arr.numElements()
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val s = arr.getUTF8String(i)
        val h = hashUtf8(s)
        var bit = 0
        while (bit < 64) {
          if (((h >>> bit) & 1L) == 1L) tally(bit) += 1 else tally(bit) -= 1
          bit += 1
        }
      }
      i += 1
    }
    var out = 0L
    var bit = 0
    while (bit < 64) {
      if (tally(bit) > 0) out |= (1L << bit)
      bit += 1
    }
    java.lang.Long.valueOf(out)
  }

  private def hashUtf8(s: UTF8String): Long =
    org.apache.spark.sql.catalyst.expressions.XxHash64Function.hash(
      s, StringType, 42L)

  override protected def withNewChildInternal(c: Expression): SimHash64 =
    copy(child = c)
}

/** Unicode normalization (java.text.Normalizer) of a string column —
  * NFC by default. Spark has no built-in unicode normalizer; mixed-form
  * text (decomposed accents from OCR/scrapes) breaks exact dedup and
  * tokenization without it. Eval-mode (CodegenFallback): one JDK call per
  * row, not a hot inner loop.
  */
case class NormalizeUnicode(child: Expression, form: String)
    extends UnaryExpression with ExpectsInputTypes with CodegenFallback {

  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true

  @transient private lazy val normForm =
    java.text.Normalizer.Form.valueOf(form)

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)

  override def nullSafeEval(v: Any): Any =
    UTF8String.fromString(java.text.Normalizer.normalize(
      v.asInstanceOf[UTF8String].toString, normForm))

  override protected def withNewChildInternal(c: Expression): NormalizeUnicode =
    copy(child = c)
}

/** Polynomial rolling hash (base-31, mod 2^64) of a string — a classic
  * document fingerprint primitive (Rabin-Karp family). Deterministic and
  * cheap; used where a 64-bit integer fingerprint beats a hex md5.
  */
case class RollingHash(child: Expression)
    extends UnaryExpression with ExpectsInputTypes with CodegenFallback {

  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)

  override def nullSafeEval(v: Any): Any = {
    val bytes = v.asInstanceOf[UTF8String].getBytes
    var h = 0L
    var i = 0
    while (i < bytes.length) {
      h = h * 31L + (bytes(i) & 0xffL)
      i += 1
    }
    java.lang.Long.valueOf(h)
  }

  override protected def withNewChildInternal(c: Expression): RollingHash =
    copy(child = c)
}

/** Static helpers for [[WordShingles]] and [[PositionalWordShingles]] —
  * kept in a standalone object so the generated Java can call them
  * through the Scala static forwarder. Both share one tokenizer:
  * lowercase, whitespace-split (Java-regex `\s+` semantics: space, \t,
  * \n, \u000B, \f, \r; empties dropped), word n-grams joined by a
  * single space. */
object ShingleUtil {
  /** Distinct n-grams preserving first occurrence — one tight pass,
    * value-identical to the declarative composition
    * `array_distinct(transform(..., concat_ws(" ", ...)))` over
    * `filter(split(lower(text), "\s+"), _ =!= "")`.
    */
  def compute(s: UTF8String, n: Int): ArrayData = {
    val toks = tokens(s)
    val out = new java.util.LinkedHashSet[String]()
    val sb = if (n == 1) null else new java.lang.StringBuilder()
    var j = 0
    while (j <= toks.size() - n) { out.add(gram(toks, j, n, sb)); j += 1 }
    val arr = new Array[AnyRef](out.size())
    val it = out.iterator()
    var k = 0
    while (it.hasNext) { arr(k) = UTF8String.fromString(it.next()); k += 1 }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(arr)
  }

  /** All n-grams IN POSITION ORDER (index = 0-based token offset),
    * keeping duplicates — the postings form substring-dedup needs.
    * Value-identical to
    * `transform(sequence(...), i -> array_join(slice(tokens, i, n), " "))`
    * over the same token filter, which as an interpreted
    * higher-order-function tree costs ~30× more per row (measured:
    * 3.1 s → 0.1 s for 246k postings at sf0.1). */
  def positional(s: UTF8String, n: Int): ArrayData = {
    val toks = tokens(s)
    val arr = new Array[AnyRef](math.max(toks.size() - n + 1, 0))
    val sb = if (n == 1) null else new java.lang.StringBuilder()
    var j = 0
    while (j < arr.length) {
      arr(j) = UTF8String.fromString(gram(toks, j, n, sb))
      j += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(arr)
  }

  private def tokens(s: UTF8String): java.util.ArrayList[String] = {
    val str = s.toLowerCase.toString
    val toks = new java.util.ArrayList[String]()
    var i = 0
    val len = str.length
    while (i < len) {
      while (i < len && isWs(str.charAt(i))) i += 1
      val start = i
      while (i < len && !isWs(str.charAt(i))) i += 1
      if (i > start) toks.add(str.substring(start, i))
    }
    toks
  }

  /** Tokens j until j + n joined by single spaces. */
  private def gram(toks: java.util.ArrayList[String], j: Int, n: Int,
      sb: java.lang.StringBuilder): String =
    if (n == 1) toks.get(j)
    else {
      sb.setLength(0)
      var w = 0
      while (w < n) {
        if (w > 0) sb.append(' ')
        sb.append(toks.get(j + w))
        w += 1
      }
      sb.toString
    }

  @inline private def isWs(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' || c == '\r'
}

/** Static helper for [[JaccardSimilarity]] — standalone object so
  * generated Java reaches it through the static forwarder. */
object JaccardUtil {
  /** |A∩B| / |A∪B| over two string arrays that are already element-
    * distinct (the shingle/set producers guarantee it). One hash-set
    * pass — no intermediate intersect/union array materialization. The
    * arithmetic is exactly `size(array_intersect)/size(array_union)`
    * (union size = |A| + |B| − |A∩B| for distinct inputs), so results are
    * bit-identical to the declarative form and to the DuckDB oracles.
    * Returns NaN-free Double; both-empty → null (0/0), matching the
    * built-in composition's null. */
  def compute(a: ArrayData, b: ArrayData): Any = {
    val na = a.numElements()
    val nb = b.numElements()
    if (na + nb == 0) return null
    val set = new java.util.HashSet[UTF8String](na * 2)
    var i = 0
    while (i < na) { set.add(a.getUTF8String(i)); i += 1 }
    var inter = 0
    var j = 0
    while (j < nb) {
      if (set.contains(b.getUTF8String(j))) inter += 1
      j += 1
    }
    java.lang.Double.valueOf(inter.toDouble / (na + nb - inter).toDouble)
  }

  /** |A∩B| over two SORTED element-distinct string arrays, by linear
    * merge — zero allocations beyond the UTF8String views the array
    * accessor already creates, no hash table (round-20: the HashSet
    * build dominated the verify hot loop at ~10⁵-10⁶ pairs per query).
    * Sortedness is the CALLER's contract (array_sort once per doc,
    * amortized over every pair the doc appears in); order only has to
    * be consistent between the two sides, and UTF8String.compareTo is
    * exactly array_sort's string ordering. Intersection cardinality is
    * order-invariant, so values are bit-identical to the hash form. */
  def interSorted(a: ArrayData, b: ArrayData): Int = {
    val na = a.numElements()
    val nb = b.numElements()
    var i = 0
    var j = 0
    var inter = 0
    while (i < na && j < nb) {
      val c = a.getUTF8String(i).compareTo(b.getUTF8String(j))
      if (c == 0) { inter += 1; i += 1; j += 1 }
      else if (c < 0) i += 1
      else j += 1
    }
    inter
  }

  /** [[compute]] for pre-SORTED distinct arrays: same value, same null
    * contract (both-empty → null), merge instead of hash. */
  def computeSorted(a: ArrayData, b: ArrayData): Any = {
    val na = a.numElements()
    val nb = b.numElements()
    if (na + nb == 0) return null
    val inter = interSorted(a, b)
    java.lang.Double.valueOf(inter.toDouble / (na + nb - inter).toDouble)
  }
}

/** Exact Jaccard similarity of two distinct-element `array<string>`
  * columns as ONE codegen'd expression — the verify primitive of the
  * dedup/similarity-join chains, where it runs once per candidate pair
  * (the hot loop of q35/q36/q57). */
case class JaccardSimilarity(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(StringType), ArrayType(StringType))

  override def nullSafeEval(l: Any, r: Any): Any =
    JaccardUtil.compute(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val res = ctx.freshName("jres")
      s"""
         |Object $res = graft.functions.JaccardUtil.compute($a, $b);
         |if ($res == null) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = ((java.lang.Double) $res).doubleValue();
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): JaccardSimilarity =
    copy(left = newLeft, right = newRight)
}

/** [[JaccardSimilarity]] over arrays the caller has ALREADY sorted
  * (array_sort) and made element-distinct: linear merge instead of a
  * per-pair hash set (see [[JaccardUtil.computeSorted]]). Used by the
  * exact similarity joins, where each doc's set is materialized once
  * and compared against many partners — the sort is paid per doc, the
  * allocation-free merge per pair. Value- and null-identical to
  * [[JaccardSimilarity]] on such inputs. */
case class JaccardSortedSimilarity(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(StringType), ArrayType(StringType))

  override def nullSafeEval(l: Any, r: Any): Any =
    JaccardUtil.computeSorted(
      l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val res = ctx.freshName("jres")
      s"""
         |Object $res = graft.functions.JaccardUtil.computeSorted($a, $b);
         |if ($res == null) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = ((java.lang.Double) $res).doubleValue();
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): JaccardSortedSimilarity =
    copy(left = newLeft, right = newRight)
}

/** |A∩B| of two SORTED element-distinct string arrays as a codegen'd
  * long — the directed-containment verify primitive (|a∩b| / |a|),
  * merge-based like [[JaccardSortedSimilarity]]. Nulls propagate
  * (nullIntolerant); both-empty yields 0 (the caller divides by |a|,
  * which it guards). */
case class IntersectCountSorted(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(StringType), ArrayType(StringType))

  override def nullSafeEval(l: Any, r: Any): Any =
    java.lang.Long.valueOf(JaccardUtil.interSorted(
      l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData]).toLong)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = (long) graft.functions.JaccardUtil.interSorted($a, $b);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): IntersectCountSorted =
    copy(left = newLeft, right = newRight)
}

/** Static helper for [[EditSegmentKeys]] — standalone object so generated
  * Java reaches it through the static forwarder. */
object SegmentKeyUtil {
  /** PassJoin blocking keys (kl, ki, ks) for one string (see
    * [[graft.operators.Fuzzy.editDistanceSelfJoin]] for the scheme and the
    * completeness argument). Works on codepoints so positions agree with
    * Spark's character-based `length`/`levenshtein` even off the BMP.
    *
    * Index mode (`probe = false`): the k+1 segments of this string, keyed
    * by own length. Probe mode: every substring of this string where a
    * segment of a length-L partner (L within ±k) could land, shifted by
    * d ∈ [-k, k]. Both modes add the shared "short" key for strings of
    * length ≤ 2k (pairs whose shorter side has < k+1 chars can't use the
    * pigeonhole, and are bounded to this block by |len diff| ≤ k).
    */
  def compute(s: UTF8String, k: Int, probe: Boolean): ArrayData = {
    val cps = s.toString.codePoints().toArray
    val len = cps.length
    val m = k + 1
    val out = new java.util.LinkedHashSet[(Int, Int, String)]()
    def sub(start: Int, segLen: Int): String =
      new String(cps, start, segLen)
    if (!probe) {
      if (len >= m) {
        val base = len / m
        val rem = len % m
        var i = 0
        while (i < m) {
          val li = base + (if (i < rem) 1 else 0)
          val st = i * base + math.min(i, rem)
          out.add((len, i, sub(st, li)))
          i += 1
        }
      }
    } else {
      var ll = math.max(len - k, m)
      while (ll <= len + k) {
        val base = ll / m
        val rem = ll % m
        var i = 0
        while (i < m) {
          val li = base + (if (i < rem) 1 else 0)
          val st = i * base + math.min(i, rem)
          var d = -k
          while (d <= k) {
            val pos = st + d
            if (pos >= 0 && pos + li <= len) out.add((ll, i, sub(pos, li)))
            d += 1
          }
          i += 1
        }
        ll += 1
      }
    }
    if (len <= 2 * k) out.add((-1, 0, ""))
    val arr = new Array[AnyRef](out.size())
    val it = out.iterator()
    var j = 0
    while (it.hasNext) {
      val (kl, ki, ks) = it.next()
      arr(j) = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](kl, ki, UTF8String.fromString(ks)))
      j += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(arr)
  }
}

/** PassJoin segment blocking keys as one codegen'd expression returning
  * `array<struct<kl:int, ki:int, ks:string>>`. A column-tree version of
  * the probe side needs (2k+1)²·(k+1) conditional struct expressions —
  * ~200 `when(...)` arms whose generated Java dominated q28's wall time
  * as fixed janino-compile cost; this expression is one tight loop and a
  * tiny call site, fast both per-row and to compile.
  */
case class EditSegmentKeys(child: Expression, k: Int, probe: Boolean)
    extends UnaryExpression with ExpectsInputTypes {

  require(k >= 1, s"edit-distance threshold must be >= 1, got $k")

  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("kl", IntegerType, nullable = false),
      StructField("ki", IntegerType, nullable = false),
      StructField("ks", StringType, nullable = false))),
    containsNull = false)
  override def nullable: Boolean = child.nullable
  override def nullIntolerant: Boolean = true

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)

  override def nullSafeEval(v: Any): Any =
    SegmentKeyUtil.compute(v.asInstanceOf[UTF8String], k, probe)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.SegmentKeyUtil.compute($c, $k, $probe);")

  override protected def withNewChildInternal(c: Expression): EditSegmentKeys =
    copy(child = c)
}

/** Distinct word n-gram shingles of a raw text column as ONE codegen'd
  * expression — replaces the `tokens → transform → concat_ws →
  * array_distinct` higher-order-function tree, which evaluates interpreted
  * lambdas per element and dominated the minhash chain's profile
  * (~100 µs/doc at 54 tokens). Semantics are identical to
  * `TextFunctions.shingles(text, n)`; the DuckDB oracle equivalent is
  * unchanged (list_distinct over string_split_regex n-grams).
  */
case class WordShingles(child: Expression, n: Int)
    extends UnaryExpression with ExpectsInputTypes {

  require(n >= 1, s"shingle size must be >= 1, got $n")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = child.nullable
  override def nullIntolerant: Boolean = true

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)

  override def nullSafeEval(v: Any): Any =
    ShingleUtil.compute(v.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.ShingleUtil.compute($c, $n);")

  override protected def withNewChildInternal(c: Expression): WordShingles =
    copy(child = c)
}

/** Static helper for [[CharEntropy]] — standalone object so generated
  * Java calls it through the Scala static forwarder. */
object EntropyUtil {
  /** Shannon entropy in bits over the string's Unicode code points,
    * via the identity  H = log2(n) − (Σ c·log2 c)/n  with the count
    * terms summed in ASCENDING-count order — c·log2 c depends only on
    * the count, so the sorted fold is deterministic no matter which
    * characters tie, and the DuckDB oracle replays the identical
    * sequential sum (list_sort → list_transform → list_sum). Empty
    * string → 0.0. */
  def compute(s: UTF8String): Double = {
    val str = s.toString
    if (str.isEmpty) return 0.0
    val hist = new java.util.HashMap[Integer, Long]()
    var i = 0
    var n = 0L
    while (i < str.length) {
      val cp = str.codePointAt(i)
      hist.merge(cp, 1L, (a, b) => a + b)
      i += Character.charCount(cp)
      n += 1
    }
    val counts = new Array[Double](hist.size)
    val it = hist.values().iterator()
    var j = 0
    while (it.hasNext) { counts(j) = it.next().toDouble; j += 1 }
    java.util.Arrays.sort(counts)
    var s2 = 0.0
    j = 0
    val log2 = java.lang.Math.log(2.0)
    while (j < counts.length) {
      s2 += counts(j) * (java.lang.Math.log(counts(j)) / log2)
      j += 1
    }
    java.lang.Math.log(n.toDouble) / log2 - s2 / n
  }
}

/** Shannon entropy (bits/char) of a string — the byte-soup/gibberish
  * quality signal: natural language sits ~3.5–4.5 bits over code
  * points, base64 blobs and minified code run higher, boilerplate
  * repetition lower. One fused histogram pass inside whole-stage
  * codegen; no per-char row explosion (the declarative equivalent is an
  * explode + two shuffles PER DOCUMENT COLUMN at 100 TB). */
case class CharEntropy(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = child.nullable
  override def nullIntolerant: Boolean = true

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)

  override def nullSafeEval(v: Any): Any =
    java.lang.Double.valueOf(
      EntropyUtil.compute(v.asInstanceOf[UTF8String]))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.EntropyUtil.compute($c);")

  override protected def withNewChildInternal(c: Expression): CharEntropy =
    copy(child = c)
}

/** Positional word n-grams (duplicates and order kept; element index =
  * token offset) as one fused codegen pass — the postings generator for
  * [[graft.operators.RepeatedSpans]]. */
case class PositionalWordShingles(child: Expression, n: Int)
    extends UnaryExpression with ExpectsInputTypes {

  require(n >= 1, s"shingle size must be >= 1, got $n")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = child.nullable
  override def nullIntolerant: Boolean = true

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)

  override def nullSafeEval(v: Any): Any =
    ShingleUtil.positional(v.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.ShingleUtil.positional($c, $n);")

  override protected def withNewChildInternal(
      c: Expression): PositionalWordShingles =
    copy(child = c)
}

/** zlib-deflate compression ratio of a string's UTF-8 bytes —
  * compressed/raw in (0, ~1.05]. The Gopher/RedPajama-family quality
  * heuristic: natural prose sits ~0.3–0.6; heavy repetition compresses
  * far below it, base64/minified noise sits near (or above) 1. NOT
  * SQL-expressible in DuckDB, so this signal is spec-gated rather than
  * oracle-gated (the q35/q37 honesty convention). Deflater instances
  * are thread-local and reset per row — no per-row allocation.
  */
object CompressionRatioUtil {
  private val deflaters = new ThreadLocal[java.util.zip.Deflater] {
    override def initialValue(): java.util.zip.Deflater =
      new java.util.zip.Deflater(java.util.zip.Deflater.DEFAULT_COMPRESSION,
        true) // nowrap: no 6-byte zlib header skewing short docs
  }
  def ratio(s: UTF8String): Double = {
    val raw = s.getBytes
    if (raw.isEmpty) return 1.0
    val d = deflaters.get()
    d.reset()
    d.setInput(raw)
    d.finish()
    val buf = new Array[Byte](256)
    var compressed = 0L
    while (!d.finished()) compressed += d.deflate(buf)
    compressed.toDouble / raw.length.toDouble
  }
}

case class CompressionRatio(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = child.nullable
  override def nullIntolerant: Boolean = true

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)

  override def nullSafeEval(v: Any): Any =
    CompressionRatioUtil.ratio(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.CompressionRatioUtil.ratio($c);")

  override protected def withNewChildInternal(
      c: Expression): CompressionRatio =
    copy(child = c)
}

/** Static helper for [[Md5Prefix64]] — standalone object so generated
  * Java calls it through the Scala static forwarder. The MessageDigest
  * instance is thread-local: MD5 digesters are stateful and not
  * thread-safe, and `getInstance` per row would dominate the hash. */
object Md5PrefixUtil {
  private val md = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** First `hexChars` hex characters of md5(utf8 bytes of `s`) as an
    * unsigned long — bit-identical to
    * `conv(substring(md5(s), 1, hexChars), 16, 10)` without the
    * hex-encode / substring / base-16 re-parse string round-trip.
    * hexChars ≤ 15 keeps the value positive in a signed 64-bit long. */
  def compute(s: UTF8String, hexChars: Int): Long = {
    val d = md.get()
    d.reset()
    val digest = d.digest(s.getBytes)
    var v = 0L
    var i = 0
    while (i < hexChars) {
      val b = digest(i >> 1) & 0xff
      v = (v << 4) | (if ((i & 1) == 0) b >>> 4 else b & 0xf)
      i += 1
    }
    v
  }
}

/** The portable hash family's base hash as ONE codegen'd expression:
  * first `hexChars` hex chars of md5 as an unsigned long. Replaces the
  * `conv(substring(md5(col), 1, n), 16, 10).cast("long")` column tree —
  * value-identical (the oracle SQL keeps exactly that spelling; see
  * [[PortableHash]]), but skips two UTF8String allocations and the
  * base-16 character re-parse per row on the minhash/simhash/sampling
  * hot paths. hexChars ∈ [1, 15] so the result stays non-negative.
  */
case class Md5Prefix64(child: Expression, hexChars: Int)
    extends UnaryExpression with ExpectsInputTypes {

  require(hexChars >= 1 && hexChars <= 15,
    s"hexChars must be in [1, 15], got $hexChars")

  override def dataType: DataType = LongType
  override def nullable: Boolean = child.nullable
  override def nullIntolerant: Boolean = true

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)

  override def nullSafeEval(v: Any): Any =
    Md5PrefixUtil.compute(v.asInstanceOf[UTF8String], hexChars)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.Md5PrefixUtil.compute($c, $hexChars);")

  override protected def withNewChildInternal(c: Expression): Md5Prefix64 =
    copy(child = c)
}
