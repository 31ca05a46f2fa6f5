package graft

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression,
  InterpretedUnsafeProjection}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.Shims
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import graft.functions._
import graft.functions.{VectorFunctions => VF}

class ExpressionsSpec extends SparkTestBase {
  import spark.implicits._

  private def cosOf(a: Seq[Float], b: Seq[Float]): Option[Double] = {
    val df = Seq((a, b)).toDF("a", "b")
      .select(VF.cosineFast(
        col("a").cast("array<float>"), col("b").cast("array<float>")).as("c"))
    val r = df.head()
    if (r.isNullAt(0)) None else Some(r.getDouble(0))
  }

  test("CosineSimilarity: identical, orthogonal, opposite, degenerate") {
    assert(math.abs(cosOf(Seq(1f, 2f, 3f), Seq(1f, 2f, 3f)).get - 1.0) < 1e-12)
    assert(math.abs(cosOf(Seq(1f, 0f), Seq(0f, 1f)).get) < 1e-12)
    assert(math.abs(cosOf(Seq(1f, 0f), Seq(-1f, 0f)).get + 1.0) < 1e-12)
    assert(cosOf(Seq(1f, 2f), Seq(1f, 2f, 3f)).isEmpty) // length mismatch
    assert(cosOf(Seq(0f, 0f), Seq(1f, 2f)).isEmpty) // zero norm
    assert(cosOf(Seq.empty, Seq.empty).isEmpty) // empty
  }

  test("CosineSimilarity fused path matches the built-in composition") {
    val df = spark.read.parquet(s"$sf001/embeddings.parquet").limit(50)
    val q = df.orderBy(col("vec_id")).head().getSeq[Float](1)
    val fused = df.select(col("vec_id"),
      VF.cosineFast(col("embedding"), VF.floatVec(q)).as("c"))
    val builtin = df.select(col("vec_id"),
      VF.cosine(col("embedding"), VF.floatVec(q)).as("c"))
    val a = fused.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val b = builtin.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(a.keySet == b.keySet)
    a.foreach { case (k, v) => assert(math.abs(v - b(k)) < 1e-12) }
  }

  test("SimHash64: deterministic; near-identical token sets are close") {
    val df = Seq(
      (1L, Seq("a", "b", "c", "d", "e", "f", "g", "h")),
      (2L, Seq("a", "b", "c", "d", "e", "f", "g", "x")),
      (3L, Seq("q", "w", "r", "t", "y", "u", "i", "o"))
    ).toDF("id", "toks")
      .select(col("id"), VF.simhash(col("toks")).as("sk"))
    val sk = df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(sk(1L), sk(2L)) < ham(sk(1L), sk(3L)))
    // deterministic across evaluations
    val again = df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sk == again)
  }

  test("custom expressions are SQL-callable after registration") {
    graft.functions.GraftFunctions.registerAll(spark)
    val r = spark.sql(
      """SELECT cosine_similarity(CAST(array(1.0, 0.0) AS array<float>),
        |                         CAST(array(1.0, 0.0) AS array<float>)) AS c,
        |       rolling_hash('ab') AS rh,
        |       simhash64(array('a', 'b')) AS sh,
        |       euclidean_dist_sq(CAST(array(0.0, 0.0) AS array<float>),
        |                         CAST(array(3.0, 4.0) AS array<float>)) AS d
        |""".stripMargin).head()
    assert(math.abs(r.getDouble(0) - 1.0) < 1e-12)
    assert(r.getLong(1) == 'a'.toLong * 31 + 'b'.toLong)
    assert(math.abs(r.getDouble(3) - 25.0) < 1e-12)
    val j = spark.sql(
      """SELECT jaccard_similarity(array('a','b','c'), array('b','c','d')) AS j,
        |       word_shingles('A b c', 2) AS ws""".stripMargin).head()
    assert(math.abs(j.getDouble(0) - 0.5) < 1e-12)
    assert(j.getSeq[String](1) == Seq("a b", "b c"))
  }

  test("RollingHash matches the reference polynomial") {
    val got = Seq("ab").toDF("s")
      .select(Shims.column(RollingHash(Shims.expression(col("s")))))
      .head().getLong(0)
    assert(got == 'a'.toLong * 31 + 'b'.toLong)
    val empty = Seq("").toDF("s")
      .select(Shims.column(RollingHash(Shims.expression(col("s")))))
      .head().getLong(0)
    assert(empty == 0L)
  }

  test("JaccardSimilarity equals the declarative intersect/union form") {
    val rng = new scala.util.Random(17)
    val vocab = (0 until 12).map(i => s"w$i")
    val rows = (0 until 200).map { i =>
      def set() = rng.shuffle(vocab).take(rng.nextInt(vocab.size + 1))
      (i.toLong, set(), set())
    }
    val df = rows.toDF("id", "a", "b")
    val fused = graft.functions.TextFunctions.jaccardFast(col("a"), col("b"))
    val declarative =
      size(array_intersect(col("a"), col("b"))).cast("double") /
        size(array_union(col("a"), col("b"))).cast("double")
    val out = df.select(col("id"), fused.as("f"), declarative.as("d"))
      .collect()
    out.foreach { r =>
      val f = if (r.isNullAt(1)) Double.NaN else r.getDouble(1)
      val d = r.getDouble(2) // 0/0 → NaN in the declarative form
      assert(f == d || (f.isNaN && d.isNaN), s"row ${r.getLong(0)}: $f vs $d")
    }
    // WordShingles also matches its declarative twin on messy text
    val texts = Seq("  A  b\tc a B ", "", "one", "x y z x y").toDF("t")
    val fastVsSlow = texts.select(
      graft.functions.TextFunctions.shinglesFast(col("t"), 2).as("fast"),
      graft.functions.TextFunctions.shingles(col("t"), 2).as("slow")).collect()
    fastVsSlow.foreach(r =>
      assert(r.getSeq[String](0) == r.getSeq[String](1)))
  }

  test("sorted-merge Jaccard/intersect equal the hash and declarative " +
    "forms on sorted inputs (round-20 verify primitive)") {
    val rng = new scala.util.Random(23)
    val vocab = (0 until 14).map(i => s"tok$i")
    val rows = (0 until 300).map { i =>
      def set() = rng.shuffle(vocab).take(rng.nextInt(vocab.size + 1))
      (i.toLong, set(), set())
    }
    val df = rows.toDF("id", "ra", "rb")
      .select(col("id"),
        array_sort(array_distinct(col("ra"))).as("a"),
        array_sort(array_distinct(col("rb"))).as("b"))
    val out = df.select(col("id"),
        graft.functions.TextFunctions.jaccardSortedFast(
          col("a"), col("b")).as("m"),
        graft.functions.TextFunctions.jaccardFast(col("a"), col("b")).as("h"),
        graft.functions.TextFunctions.intersectCountSorted(
          col("a"), col("b")).as("ic"),
        size(array_intersect(col("a"), col("b"))).cast("long").as("id_"))
      .collect()
    out.foreach { r =>
      val m = if (r.isNullAt(1)) None else Some(r.getDouble(1))
      val h = if (r.isNullAt(2)) None else Some(r.getDouble(2))
      assert(m == h, s"row ${r.getLong(0)}: merge $m vs hash $h")
      assert(r.getLong(3) == r.getLong(4),
        s"row ${r.getLong(0)}: interSorted ${r.getLong(3)} vs " +
          s"declarative ${r.getLong(4)}")
    }
    // null propagation matches the hash form (nullIntolerant), and the
    // both-empty case yields null like the hash form's 0/0
    val edge = Seq(
      (1L, Some(Seq("a")), None),
      (2L, None, Some(Seq("b"))),
      (3L, Some(Seq.empty[String]), Some(Seq.empty[String])))
      .toDF("id", "a", "b")
    val e = edge.select(col("id"),
      graft.functions.TextFunctions.jaccardSortedFast(
        col("a"), col("b")).as("m"),
      graft.functions.TextFunctions.intersectCountSorted(
        col("a"), col("b")).as("ic")).collect()
    e.foreach { r =>
      if (r.getLong(0) <= 2) { assert(r.isNullAt(1) && r.isNullAt(2)) }
      else { assert(r.isNullAt(1) && r.getLong(2) == 0L) }
    }
  }

  test("CharEntropy: hand-computed values, degenerate cases, null") {
    val df = Seq(
      (1L, "aab"),      // -(2/3)log2(2/3) - (1/3)log2(1/3)
      (2L, ""),         // empty -> 0
      (3L, "zzzzzz"),   // single symbol -> 0
      (4L, "abcd"),     // uniform over 4 -> 2 bits
      (5L, null.asInstanceOf[String]))
      .toDF("id", "t")
      .select(col("id"),
        graft.functions.TextFunctions.charEntropy(col("t")).as("h"))
      .collect().map(r =>
        r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1))))
      .toMap
    val aab = -(2.0 / 3) * (math.log(2.0 / 3) / math.log(2)) -
      (1.0 / 3) * (math.log(1.0 / 3) / math.log(2))
    assert(math.abs(df(1L).get - aab) < 1e-12)
    assert(df(2L).get == 0.0)
    assert(df(3L).get == 0.0)
    assert(math.abs(df(4L).get - 2.0) < 1e-12)
    assert(df(5L).isEmpty)
  }

  test("CharEntropy counts code points, not UTF-16 units; SQL-callable") {
    graft.functions.GraftFunctions.registerAll(spark)
    // U+1D11E (musical G clef) is a surrogate pair: two of them + two 'x'
    // must read as 4 code points, 2 symbols each -> exactly 1 bit.
    val r = spark.sql("SELECT char_entropy('𝄞x𝄞x') AS h")
      .head().getDouble(0)
    assert(r == 1.0)
  }

  test("CharEntropy interpreted eval matches codegen") {
    val texts = Seq("the quick brown fox", "aaaa bbbb", "x", "",
      "mixed 123 !?. content").zipWithIndex
      .map { case (t, i) => (i.toLong, t) }
    val df = texts.toDF("id", "t")
    val fused = df.select(col("id"),
      graft.functions.TextFunctions.charEntropy(col("t")).as("h"))
    val interp = texts.map { case (i, t) =>
      i -> graft.functions.EntropyUtil.compute(
        org.apache.spark.unsafe.types.UTF8String.fromString(t))
    }.toMap
    fused.collect().foreach(r =>
      assert(r.getDouble(1) == interp(r.getLong(0))))
  }

  test("CompressionRatio: repetition compresses, noise doesn't; SQL") {
    import graft.functions.{TextFunctions => TF}
    def ratio(s: String): Double =
      Seq(s).toDF("t").select(TF.compressionRatio(col("t")))
        .head().getDouble(0)
    val repetitive = ratio("spam spam spam spam spam spam spam spam " * 8)
    val prose = ratio("a genuinely informative sentence about query " +
      "planning, shuffles, and broadcast joins in a distributed engine")
    val rnd = new scala.util.Random(42) // seeded: deterministic spec
    val noise = ratio(
      (0 until 256).map(_ => (rnd.nextInt(94) + 33).toChar).mkString)
    assert(repetitive < prose, s"$repetitive !< $prose")
    assert(prose < noise, s"$prose !< $noise")
    assert(repetitive < 0.2 && noise > 0.8)
    // empty input is defined (1.0), null stays null
    assert(ratio("") == 1.0)
    val n = Seq(Option.empty[String]).toDF("t")
      .select(TF.compressionRatio(col("t"))).head()
    assert(n.isNullAt(0))
    // SQL-registered and identical to the Column arm
    val viaSql = spark.sql(
      "SELECT compression_ratio('spam spam spam spam spam spam')")
      .head().getDouble(0)
    assert(viaSql == ratio("spam spam spam spam spam spam"))
    // deterministic across partitions/threads (thread-local deflater)
    val docs = spark.read.parquet(s"$sf001/documents.parquet").limit(64)
    val a = docs.select(col("doc_id"),
      TF.compressionRatio(col("text")).as("r")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val b = docs.repartition(8).select(col("doc_id"),
      TF.compressionRatio(col("text")).as("r")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(a === b)
  }

  test("Md5Prefix64 is bit-identical to the conv/substring/md5 spelling") {
    import graft.functions.PortableHash
    val rng = new scala.util.Random(23)
    val strs = (0 until 300).map { i =>
      rng.nextInt(4) match {
        case 0 => ""
        case 1 => s"token$i"
        case 2 => rng.nextString(1 + rng.nextInt(20)) // arbitrary unicode
        case _ => List.fill(1 + rng.nextInt(8))(
          s"w${rng.nextInt(50)}").mkString(" ")
      }
    } :+ "café € 😀" // multi-byte incl. surrogates
    val df = strs.toDF("s")
    for (n <- Seq(4, 6, 8, 15)) {
      val rows = df.select(
        PortableHash.md5Prefix(col("s"), n).as("fast"),
        conv(substring(md5(col("s")), 1, n), 16, 10).cast("long").as("ref"))
        .collect()
      rows.foreach(r => assert(r.getLong(0) == r.getLong(1),
        s"n=$n mismatch: ${r.getLong(0)} vs ${r.getLong(1)}"))
    }
    // JVM-side hash32 agrees with the column form at 8 hex chars
    val jvm = strs.map(s => graft.functions.PortableHash.hash32(
      s.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
    val colv = df.select(PortableHash.md5Prefix(col("s"), 8))
      .collect().map(_.getLong(0))
    assert(jvm.zip(colv).forall { case (a, b) => a == b })
    // null in → null out; SQL-callable through the registry
    graft.functions.GraftFunctions.registerAll(spark)
    val nulls = Seq((1L, Option.empty[String]), (2L, Some("x")))
      .toDF("id", "s")
      .selectExpr("md5_prefix64(s, 8) AS h").collect()
    assert(nulls.count(_.isNullAt(0)) == 1)
  }

  test("NearestCentroid matches the per-centroid least/CASE tree") {
    import graft.functions.NearestCentroid
    // Reference semantics = the old O(k²) column tree this expression
    // replaced: argmin squared-L2 in double, ties to the LOWEST centroid
    // id, null/length-mismatch/all-NaN input → -1.
    val cents: IndexedSeq[IndexedSeq[Float]] = IndexedSeq(
      IndexedSeq(0f, 0f), IndexedSeq(1f, 1f), IndexedSeq(1f, 1f), // dup: tie
      IndexedSeq(3f, 4f))
    def assign(vec: org.apache.spark.sql.Column) =
      Shims.column(NearestCentroid(Shims.expression(vec), cents))
    val df = Seq(
      (1L, Some(Seq(0.1f, 0.1f))), // nearest c0
      (2L, Some(Seq(1.2f, 0.9f))), // nearest c1 — and NOT the dup c2
      (3L, Some(Seq(3f, 3.9f))), // nearest c3
      (4L, Option.empty[Seq[Float]]), // null → -1
      (5L, Some(Seq(1f, 2f, 3f))), // length mismatch everywhere → -1
      // all distances NaN: Spark's NaN = NaN is TRUE, so the old tree's
      // first WHEN branch fired — lowest-id length-matching centroid
      // wins, never -1 (a -1 code would crash ADC's element_at(lut, 0))
      (6L, Some(Seq(Float.NaN, Float.NaN))))
      .toDF("id", "v")
      .select(col("id"), col("v").cast("array<float>").as("v"))
    val got = df.select(col("id"), assign(col("v")).as("c"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 0L, 2L -> 1L, 3L -> 3L,
      4L -> -1L, 5L -> -1L, 6L -> 0L))
    // the old-tree equivalence on the NaN row, asserted against the
    // ACTUAL old formulation (CASE WHEN dist = least(...)):
    val oldTree = {
      val dists = cents.zipWithIndex.map { case (cv, i) =>
        i -> graft.functions.VectorFunctions.distSqFast(
          col("v"), graft.functions.VectorFunctions.floatVec(cv))
      }
      val minD = dists.map(_._2).reduce(least(_, _))
      dists.foldRight(lit(-1L): org.apache.spark.sql.Column) {
        case ((i, d), other) => when(d === minD, lit(i.toLong)).otherwise(other)
      }
    }
    val oldGot = df.select(col("id"), oldTree.as("c"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(oldGot == got)
    // interpreted eval agrees with the codegen path above
    val e = NearestCentroid(
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        Seq(1.2f, 0.9f),
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.FloatType)), cents)
    assert(e.eval(null) == 1L)
    // one node per assignment: the executed plan stays small at any k —
    // the O(k² · dim) CASE/least tree this replaced printed 344 KB at
    // k=8/dim=64 and cost ~2 s of driver time per q129 run (round-12
    // VERDICT #1)
    val many: IndexedSeq[IndexedSeq[Float]] =
      IndexedSeq.tabulate(64)(i => IndexedSeq.fill(64)(i.toFloat))
    val plan = df.select(Shims.column(NearestCentroid(
        Shims.expression(col("v")), many)).as("c"))
      .queryExecution.executedPlan.toString
    assert(plan.length < 20000,
      s"assignment plan blew up to ${plan.length} chars — the centroid " +
        "matrix leaked back into the expression tree")
  }

  test("Md5Prefix64 interpreted eval matches codegen") {
    import graft.functions.Md5Prefix64
    val e = Md5Prefix64(
      org.apache.spark.sql.catalyst.expressions.Literal("hello world"), 8)
    val interpreted = e.eval(null).asInstanceOf[Long]
    val viaDf = Seq("hello world").toDF("s")
      .select(graft.functions.PortableHash.md5Prefix(col("s"), 8))
      .collect().head.getLong(0)
    assert(interpreted == viaDf)
  }

  /** One row of the parity table: an expression over bound inputs of
    * `types`, the input rows to evaluate it on, and one wrong-typed
    * input list that analysis must reject. */
  private case class ParityCase(
      name: String,
      types: Seq[DataType],
      build: Seq[Expression] => Expression,
      rows: Seq[Seq[Any]],
      wrong: Seq[DataType])

  private lazy val parityCases: Seq[ParityCase] = {
    val floats = ArrayType(FloatType)
    val strings = ArrayType(StringType)
    def fv(xs: Float*): Any = new GenericArrayData(xs.map(x => x: Any).toArray)
    def sv(xs: String*): Any =
      new GenericArrayData(xs.map(x => UTF8String.fromString(x): Any).toArray)
    def str(x: String): Any = UTF8String.fromString(x)
    val nan = Float.NaN
    // null, empty, mismatched lengths, all-zero, NaN, ordinary
    val vecPairs: Seq[Seq[Any]] = Seq(
      Seq(null, fv(1f, 2f)), Seq(fv(1f, 2f), null), Seq(fv(), fv()),
      Seq(fv(1f, 2f), fv(1f, 2f, 3f)), Seq(fv(0f, 0f), fv(1f, 2f)),
      Seq(fv(1f, 2f), fv(0f, -0f)), Seq(fv(0f, 0f), fv(nan, 1f)),
      Seq(fv(nan, 1f), fv(1f, 2f)), Seq(fv(Float.PositiveInfinity, 1f),
        fv(1f, 1f)), Seq(fv(1f, 2f, 3f), fv(4f, -5f, 6f)),
      Seq(fv(1e-30f, 3f), fv(2f, 1e30f)))
    val vecs: Seq[Seq[Any]] = Seq(Seq(null), Seq(fv()), Seq(fv(9f)),
      Seq(fv(0f, 0f)), Seq(fv(nan, nan)), Seq(fv(nan, 1f)),
      Seq(fv(1.2f, 0.9f)), Seq(fv(3f, 3.9f)), Seq(fv(1f, 2f, 3f)))
    val texts: Seq[Seq[Any]] = Seq(null, "", "NaN", "one",
      "  A  b\tc a B ", "x y z x y x y", "é café € 😀",
      "\u000B\f\r\n", "kitten sitting").map(t => Seq(str(t)))
    val setPairs: Seq[Seq[Any]] = Seq(
      Seq(null, sv("a")), Seq(sv("a"), null), Seq(sv(), sv()),
      Seq(sv(), sv("a", "b")), Seq(sv("a"), sv("a", "b", "c")),
      Seq(sv("a", "b", "c"), sv("b", "c", "d")), Seq(sv("NaN"), sv("NaN")))
    val tokenArrays: Seq[Seq[Any]] = Seq(Seq(null), Seq(sv()),
      Seq(sv("a", "b")), Seq(new GenericArrayData(Array[Any](null,
        UTF8String.fromString("a")))), Seq(sv("NaN", "x", "y")))
    val cents: IndexedSeq[IndexedSeq[Float]] = IndexedSeq(
      IndexedSeq(0f, 0f), IndexedSeq(1f, 1f), IndexedSeq(1f, 1f),
      IndexedSeq(3f, 4f), IndexedSeq(1f, 2f, 3f))
    val bloom = {
      val bf = org.apache.spark.util.sketch.BloomFilter.create(100)
      (1L to 10L).foreach(bf.putLong)
      val out = new java.io.ByteArrayOutputStream()
      bf.writeTo(out)
      out.toByteArray
    }
    def sketch(xs: Double*): Array[Byte] = {
      val b = new KllBuffer(8, 0L)
      xs.foreach(b.insert)
      b.serialize()
    }
    def probs(ps: Double*): Any = new GenericArrayData(ps.map(p => p: Any).toArray)
    def unary(name: String, t: DataType, rows: Seq[Seq[Any]],
        wrong: DataType)(f: Expression => Expression) =
      ParityCase(name, Seq(t), es => f(es.head), rows, Seq(wrong))
    def binary(name: String, t: DataType, rows: Seq[Seq[Any]],
        wrong: Seq[DataType])(f: (Expression, Expression) => Expression) =
      ParityCase(name, Seq(t, t), es => f(es(0), es(1)), rows, wrong)
    Seq(
      binary("CosineSimilarity", floats, vecPairs,
        Seq(ArrayType(DoubleType), floats))(CosineSimilarity(_, _)),
      binary("EuclideanDistSq", floats, vecPairs,
        Seq(floats, ArrayType(IntegerType)))(EuclideanDistSq(_, _)),
      unary("NearestCentroid", floats, vecs, ArrayType(DoubleType))(
        NearestCentroid(_, cents)),
      unary("BloomProbe", LongType, Seq(null, 0L, 5L, 1000L,
        Long.MinValue).map(Seq(_)), IntegerType)(BloomProbe(_, bloom)),
      unary("SimHash64", strings, tokenArrays, StringType)(SimHash64(_)),
      unary("NormalizeUnicode", StringType, texts, BinaryType)(
        NormalizeUnicode(_, "NFC")),
      unary("RollingHash", StringType, texts, LongType)(RollingHash(_)),
      binary("JaccardSimilarity", strings, setPairs,
        Seq(strings, ArrayType(LongType)))(JaccardSimilarity(_, _)),
      binary("JaccardSortedSimilarity", strings, setPairs,
        Seq(StringType, strings))(JaccardSortedSimilarity(_, _)),
      binary("IntersectCountSorted", strings, setPairs,
        Seq(strings, StringType))(IntersectCountSorted(_, _)),
      unary("EditSegmentKeys(index)", StringType, texts, strings)(
        EditSegmentKeys(_, 1, probe = false)),
      unary("EditSegmentKeys(probe)", StringType, texts, strings)(
        EditSegmentKeys(_, 2, probe = true)),
      unary("WordShingles", StringType, texts, strings)(WordShingles(_, 2)),
      unary("WordShingles(n=1)", StringType, texts, IntegerType)(
        WordShingles(_, 1)),
      unary("CharEntropy", StringType, texts, BinaryType)(CharEntropy(_)),
      unary("PositionalWordShingles", StringType, texts, strings)(
        PositionalWordShingles(_, 2)),
      unary("CompressionRatio", StringType, texts, DoubleType)(
        CompressionRatio(_)),
      unary("Md5Prefix64", StringType, texts, LongType)(Md5Prefix64(_, 8)),
      ParityCase("SketchQuantiles", Seq(BinaryType, ArrayType(DoubleType)),
        es => SketchQuantiles(es(0), es(1)),
        Seq(Seq(null, probs(0.5)), Seq(sketch(1.0), null),
          Seq(sketch(1.0, 2.0), probs()), Seq(sketch(), probs(0.5)),
          Seq(sketch(3.0, 1.0, 2.0), probs(0.0, 0.5, 1.0, Double.NaN)),
          Seq(sketch(1.0, Double.NaN), probs(0.25, 0.75)),
          Seq(sketch((1 to 40).map(_.toDouble): _*), probs(0.1, 0.9))),
        Seq(BinaryType, ArrayType(FloatType))))
  }

  test("every scalar expression: interpreted and generated projections " +
    "agree on null, empty, mismatched, all-zero, NaN and ordinary rows") {
    parityCases.foreach { c =>
      val inputs = c.types.zipWithIndex.map { case (t, i) =>
        BoundReference(i, t, nullable = true) }
      val e = c.build(inputs)
      assert(e.checkInputDataTypes().isSuccess, c.name)
      val interpreted = InterpretedUnsafeProjection.createProjection(Seq(e))
      val generated = GenerateUnsafeProjection.generate(Seq(e))
      c.rows.foreach { r =>
        val row = InternalRow.fromSeq(r)
        val a = interpreted(row).copy()
        val b = generated(row).copy()
        assert(a == b, s"${c.name} on ${r.mkString("(", ", ", ")")}: " +
          s"interpreted ${a.get(0, e.dataType)} vs generated " +
          s"${b.get(0, e.dataType)}")
      }
    }
  }

  test("every scalar expression rejects a wrong-typed input at analysis") {
    val ok = Map[DataType, org.apache.spark.sql.Column](
      StringType -> lit("x"), LongType -> lit(1L), IntegerType -> lit(1),
      DoubleType -> lit(1.0), BinaryType -> lit(Array[Byte](1)),
      ArrayType(FloatType) -> array(lit(1f)),
      ArrayType(DoubleType) -> array(lit(1.0)),
      ArrayType(IntegerType) -> array(lit(1)),
      ArrayType(LongType) -> array(lit(1L)),
      ArrayType(StringType) -> array(lit("x")))
    val one = spark.range(1).toDF()
    parityCases.foreach { c =>
      val e = c.build(c.wrong.map(t => Shims.expression(ok(t))))
      val err = intercept[org.apache.spark.sql.AnalysisException](
        one.select(Shims.column(e)))
      assert(err.getCondition == "DATATYPE_MISMATCH.UNEXPECTED_INPUT_TYPE",
        s"${c.name}: ${err.getMessage}")
    }
  }

  test("every aggregate rejects a wrong-typed input at analysis") {
    import org.apache.spark.sql.catalyst.expressions.aggregate
      .AggregateFunction
    val d = Shims.expression(lit(1.5))
    val l = Shims.expression(lit(1L))
    val aggs: Seq[(String, AggregateFunction)] = Seq(
      "QuantileSketchAgg" -> QuantileSketchAgg(Shims.expression(lit("x")), 8),
      "QuantileSketchUnion" -> QuantileSketchUnion(l),
      "PortableMinHashAgg" -> PortableMinHashAgg(d, Seq((1L, 2L)), 7L),
      "OphMinHashAgg" -> OphMinHashAgg(d, 4, 1L << 40),
      "CountMinCounters" -> CountMinCounters(l, 2, 8),
      "MisraGriesCandidates" -> MisraGriesCandidates(d, 4),
      "DistinctUpTo" -> DistinctUpTo(d, 4),
      "DivergenceCounters" -> DivergenceCounters(l, Seq("a"), Seq(0.5, 0.5)))
    aggs.foreach { case (name, f) =>
      val err = intercept[org.apache.spark.sql.AnalysisException](
        spark.range(1).agg(Shims.column(f.toAggregateExpression())))
      assert(err.getCondition == "DATATYPE_MISMATCH.UNEXPECTED_INPUT_TYPE",
        s"$name: ${err.getMessage}")
    }
  }
}
