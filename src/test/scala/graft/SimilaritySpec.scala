package graft

import org.apache.spark.sql.functions._
import graft.operators.Similarity

class SimilaritySpec extends SparkTestBase {
  import spark.implicits._

  private lazy val emb = spark.read.parquet(s"$sf001/embeddings.parquet")

  test("brute-force topK: self similarity ranks first") {
    val q = emb.filter(col("vec_id") === 7).head().getSeq[Float](1)
    val top = Similarity.topK(emb, "vec_id", "embedding", q, 5).collect()
    assert(top.head.getLong(0) == 7L)
    assert(math.abs(top.head.getDouble(1) - 1.0) < 1e-9)
    val scores = top.map(_.getDouble(1)).toSeq
    assert(scores == scores.sorted.reverse) // descending
  }

  test("topKForQueries returns k rows per query") {
    val queries = emb.filter(col("vec_id") < 3)
    val out = Similarity.topKForQueries(emb, queries,
      "vec_id", "embedding", "vec_id", k = 4)
    assert(out.columns.toSeq == Seq("query_id", "vec_id", "cosine"))
    val byQuery = out.collect().groupBy(_.getLong(0))
    assert(byQuery.keySet == Set(0L, 1L, 2L))
    assert(byQuery.values.forall(_.length == 4))
    // each query's own vector ranks first with cosine ~ 1
    byQuery.foreach { case (q, rows) =>
      val best = rows.maxBy(_.getDouble(2))
      assert(best.getLong(1) == q)
    }
  }

  test("hardNegatives returns only other-label rows, ranked by cosine") {
    val out = Similarity.hardNegatives(emb, emb.filter(col("vec_id") < 3),
      "vec_id", "embedding", "label", "vec_id", k = 4)
    val labels = emb.select(col("vec_id").as("v"), col("label")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val rows = out.collect()
    assert(rows.length == 3 * 4)
    rows.foreach { r =>
      val (q, v) = (r.getLong(0), r.getLong(1))
      assert(labels(v) != labels(q), s"negative $v shares label with $q")
    }
    // parity with the window formulation
    val brute = emb.as("e").crossJoin(
        emb.filter(col("vec_id") < 3)
          .select(col("vec_id").as("qid"), col("embedding").as("qv"),
            col("label").as("ql")))
      .filter(col("label") =!= col("ql"))
      .select(col("qid"), col("vec_id"),
        graft.functions.VectorFunctions
          .cosineFast(col("embedding"), col("qv")).as("c"))
      .withColumn("rn", org.apache.spark.sql.functions.row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("qid"))
          .orderBy(col("c").desc, col("vec_id"))))
      .filter(col("rn") <= 4)
      .select(col("qid"), col("vec_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(rows.map(r => (r.getLong(0), r.getLong(1))).toSet == brute)
  }

  test("IVF index: assignments cover corpus; probe recall vs brute force") {
    val idx = Similarity.buildIvf(spark, emb, "vec_id", "embedding",
      nCentroids = 4, iterations = 2)
    assert(idx.centroids.length == 4)
    assert(idx.assigned.count() == emb.count())
    // all assignments land on a valid centroid id
    val cids = idx.assigned.select("__centroid").distinct()
      .collect().map(_.getLong(0)).toSet
    assert(cids.subsetOf((0 until 4).map(_.toLong).toSet))
    val q = emb.filter(col("vec_id") === 7).head().getSeq[Float](1)
    // full probe == brute force (sanity: IVF with nProbe=all is exact)
    val ivfAll = Similarity.searchIvf(idx, "vec_id", "embedding",
      q, k = 5, nProbe = 4).collect().map(_.getLong(0)).toSeq
    val brute = Similarity.topK(emb, "vec_id", "embedding", q, 5)
      .collect().map(_.getLong(0)).toSeq
    assert(ivfAll == brute)
    // partial probe still finds the exact-self match
    val ivf2 = Similarity.searchIvf(idx, "vec_id", "embedding",
      q, k = 5, nProbe = 2).collect().map(_.getLong(0)).toSeq
    assert(ivf2.contains(7L))
  }

  test("searchIvfForQueries: parity with single-query searchIvf for " +
      "every query, one corpus join") {
    val idx = Similarity.buildIvf(spark, emb, "vec_id", "embedding",
      nCentroids = 4, iterations = 1)
    val queries = emb.filter(col("vec_id") < 3)
    val batched = Similarity.searchIvfForQueries(idx, "vec_id",
        "embedding", queries, "vec_id", k = 5, nProbe = 2)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1),
        BigDecimal(r.getDouble(2)).setScale(9,
          BigDecimal.RoundingMode.HALF_UP)))
      .groupBy(_._1).view.mapValues(_.map(t => (t._2, t._3)).toSet).toMap
    (0L to 2L).foreach { qid =>
      val qv = emb.filter(col("vec_id") === qid).head().getSeq[Float](1)
      val single = Similarity.searchIvf(idx, "vec_id", "embedding",
          qv, k = 5, nProbe = 2)
        .collect()
        .map(r => (r.getLong(0), BigDecimal(r.getDouble(1)).setScale(9,
          BigDecimal.RoundingMode.HALF_UP))).toSet
      assert(batched(qid) === single, s"query $qid")
    }
  }

  test("annRecall: full probe -> recall exactly 1.0; hits are monotone " +
      "in nProbe; self-match guarantees recall > 0") {
    val idx = Similarity.buildIvf(spark, emb, "vec_id", "embedding",
      nCentroids = 4, iterations = 1)
    val queries = emb.filter(col("vec_id") < 5)
    val full = Similarity.annRecall(idx, "vec_id", "embedding",
      queries, "vec_id", k = 5, nProbe = 4).collect()
    assert(full.length === 5)
    full.foreach { r =>
      assert(r.getLong(1) === 5L && r.getLong(2) === 5L &&
        r.getDouble(3) === 1.0, s"full probe must be exact: $r")
    }
    // nested probe lists mean a hit can only be displaced by a
    // better-scoring item, which is itself in the exact top-k
    val byProbe = (1 to 4).map { np =>
      np -> Similarity.annRecall(idx, "vec_id", "embedding",
          queries, "vec_id", k = 5, nProbe = np)
        .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    }.toMap
    (0L until 5L).foreach { qid =>
      (1 to 3).foreach { np =>
        assert(byProbe(np)(qid) <= byProbe(np + 1)(qid),
          s"hits must not drop when widening probes: q=$qid np=$np")
      }
      // the query's own vector lives in its probed nearest list
      assert(byProbe(1)(qid) >= 1L, s"self-match missing at q=$qid")
    }
  }

  test("PQ: codes in range, deterministic, Lloyd does not increase error") {
    val books0 = Similarity.trainPq(emb, "vec_id", "embedding",
      dim = 64, m = 8, k = 4, iterations = 0)
    val books2 = Similarity.trainPq(emb, "vec_id", "embedding",
      dim = 64, m = 8, k = 4, iterations = 2)
    assert(books2.centroids.length == 8 &&
      books2.centroids.forall(_.length == 4) &&
      books2.centroids.forall(_.forall(_.length == 8)))
    val enc = Similarity.encodePq(emb, "embedding", books2).cache()
    val codes = enc.select(explode(col("pq_code")).as("c"))
      .agg(min(col("c")), max(col("c"))).head()
    assert(codes.getInt(0) >= 0 && codes.getInt(1) < 4)
    // deterministic: encoding twice from a different layout is identical
    val enc2 = Similarity.encodePq(
      emb.repartition(5), "embedding", books2)
    assert(enc.select(col("vec_id"), col("pq_code").cast("string"))
      .except(enc2.select(col("vec_id"), col("pq_code").cast("string")))
      .count() == 0)
    // Lloyd refinement must not increase mean reconstruction error
    val e0 = Similarity.pqReconstructionError(
      Similarity.encodePq(emb, "embedding", books0), "embedding", books0)
    val e2 = Similarity.pqReconstructionError(enc, "embedding", books2)
    assert(e2 <= e0 + 1e-9, s"iter2 err $e2 > iter0 err $e0")
    enc.unpersist()
  }

  test("PQ init dedups duplicate leading subvectors") {
    // 3 distinct vectors but the LOWEST ids are all copies of one vector —
    // a naive first-m*k init would seed every centroid identically and
    // (with carry-over on empty cells) could keep the codebook collapsed.
    val dup = (0L until 12L).map { i =>
      val base = if (i < 8) 0 else (i - 7).toInt // ids 0-7 duplicate vector 0
      (i, Array.tabulate(8)(d => (base * 10 + d).toFloat))
    }.toDF("vec_id", "embedding")
    val books = Similarity.trainPq(dup, "vec_id", "embedding",
      dim = 8, m = 2, k = 4, iterations = 0)
    // iteration 0 = pure init: every subspace must already hold >1
    // distinct centroid (the duplicates were skipped, not enthroned)
    books.centroids.foreach { book =>
      assert(book.distinct.length > 1,
        s"collapsed codebook at init: $book")
    }
    // and encoding separates the distinct vectors into distinct codes
    val enc = Similarity.encodePq(dup, "embedding", books)
    val distinctCodes = enc.select(col("pq_code").cast("string"))
      .distinct().count()
    assert(distinctCodes > 1)
  }

  test("PQ ADC: exact on a centroid-representable corpus; real recall") {
    // corpus whose subvectors ARE codebook centroids -> zero quantization
    // error -> ADC distance equals true distance exactly
    val books = Similarity.trainPq(emb, "vec_id", "embedding",
      dim = 64, m = 16, k = 16, iterations = 2)
    val synth = (0 until 16).map { i =>
      (i.toLong, (0 until 16).flatMap(s => books.centroids(s)(i)).toArray)
    }.toDF("vec_id", "embedding")
    val encSynth = Similarity.encodePq(synth, "embedding", books)
    assert(Similarity.pqReconstructionError(
      encSynth, "embedding", books) < 1e-9)
    val q0 = synth.filter(col("vec_id") === 2).head()
      .getSeq[Float](1)
    val hit = Similarity.searchPqAdc(encSynth, "vec_id", books, q0, 1)
      .head()
    assert(hit.getLong(0) == 2L && hit.getDouble(1) < 1e-9)
    // on the real corpus: ADC top-10 recalls a useful fraction of the
    // true L2 top-10 (deterministic: no RNG anywhere in train/encode)
    val enc = Similarity.encodePq(emb, "embedding", books)
    val q = emb.filter(col("vec_id") === 7).head().getSeq[Float](1)
    val adcTop = Similarity.searchPqAdc(enc, "vec_id", books, q, 10)
      .collect().map(_.getLong(0)).toSet
    val trueTop = emb.select(col("vec_id"),
      graft.functions.VectorFunctions.distSqFast(col("embedding"),
        graft.functions.VectorFunctions.floatVec(q)).as("d"))
      .orderBy(col("d").asc, col("vec_id")).limit(10)
      .collect().map(_.getLong(0)).toSet
    val recall = (adcTop & trueTop).size / 10.0
    assert(recall >= 0.3, s"ADC recall@10 = $recall")
  }

  test("PQ train, encode and reconstruction error at m = 16, k = 16 run " +
    "compiled (codegen fallback off)") {
    // with the fallback off, a stage whose generated code fails to
    // compile throws instead of silently running interpreted
    val key = "spark.sql.codegen.fallback"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "false")
    try {
      val books = Similarity.trainPq(emb, "vec_id", "embedding",
        dim = 64, m = 16, k = 16, iterations = 2)
      assert(books.centroids.length == 16 &&
        books.centroids.forall(_.length == 16))
      val enc = Similarity.encodePq(emb, "embedding", books)
      val err = Similarity.pqReconstructionError(enc, "embedding", books)
      // the same mean recomputed on the driver from the collected codes
      val rows = enc.select("embedding", "pq_code").collect()
      val want = rows.map { r =>
        val v = r.getSeq[Float](0)
        val code = r.getSeq[Int](1)
        (0 until 16).map { s =>
          val c = books.centroids(s)(code(s))
          (0 until 4).map { i =>
            val d = v(s * 4 + i).toDouble - c(i).toDouble; d * d
          }.sum
        }.sum
      }.sum / rows.length
      assert(math.abs(err - want) <= 1e-9 * math.max(1.0, want),
        s"reconstruction error $err, driver-side $want")
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("a training call that fails releases the frame it cached") {
    val bad = emb.withColumn("embedding",
      when(col("vec_id") === 5, raise_error(lit("bad vector")))
        .otherwise(col("embedding")))
    // only NEW entries count: the context cleaner may drop older ones
    def persisted = spark.sparkContext.getPersistentRDDs.keySet
    val before = persisted
    intercept[Exception](Similarity.trainPq(bad, "vec_id", "embedding",
      dim = 64, m = 4, k = 4, iterations = 1))
    assert((persisted -- before).isEmpty, "trainPq left its frame cached")
    intercept[Exception](Similarity.buildIvf(spark, bad, "vec_id",
      "embedding", nCentroids = 4, iterations = 1))
    assert((persisted -- before).isEmpty, "buildIvf left its frame cached")
  }

  test("IVF-PQ: pruned + quantized probe still finds near neighbors") {
    val (ivf, books, encoded) = Similarity.buildIvfPq(
      spark, emb, "vec_id", "embedding",
      nCentroids = 4, m = 16, k = 16, dim = 64, iterations = 1)
    assert(encoded.columns.toSet == Set("vec_id", "__centroid", "pq_code"))
    assert(encoded.count() == emb.count())
    val q = emb.filter(col("vec_id") === 7).head().getSeq[Float](1)
    // full probe (all lists): IVF adds nothing, pure ADC ranking — the
    // query's own (quantized) row must rank at or near the top
    val full = Similarity.searchIvfPq(ivf, books, encoded,
      "vec_id", q, topK = 10, nProbe = 4)
      .collect().map(_.getLong(0)).toSeq
    assert(full.contains(7L), s"self not in full-probe top-10: $full")
    // pruned probe scans only half the lists and still finds self:
    // the query's own list is always among the nearest centroids
    val pruned = Similarity.searchIvfPq(ivf, books, encoded,
      "vec_id", q, topK = 10, nProbe = 2)
      .collect().map(_.getLong(0)).toSeq
    assert(pruned.contains(7L), s"self not in pruned top-10: $pruned")
    // pruned results come ONLY from the 2 probed lists' members
    val probedLists = Similarity.nearestLists(ivf.centroids, q, 2)
    val members = encoded
      .filter(col("__centroid").isin(probedLists: _*))
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(pruned.toSet.subsetOf(members),
      s"ids outside probed lists: ${pruned.toSet -- members}")
  }

  test("truncatedRerank: full-width shortlist is exact; ranks by full dim") {
    val queries = emb.filter(col("vec_id") < 3)
    // shortlist = corpus size -> stage 1 prunes nothing, so the result
    // must EQUAL exhaustive full-dimension top-k whatever the prefix
    val n = emb.count().toInt
    val exact = Similarity.topKForQueries(emb, queries,
      "vec_id", "embedding", "vec_id", k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val viaPrefix = Similarity.truncatedRerank(emb, queries,
      "vec_id", "embedding", "vec_id",
      prefixDim = 8, shortlist = n, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(viaPrefix == exact)
    // tight shortlist: still k rows per query, self still ranks first
    // (the self row's prefix cosine is 1.0 — it cannot miss the shortlist)
    val tight = Similarity.truncatedRerank(emb, queries,
      "vec_id", "embedding", "vec_id",
      prefixDim = 8, shortlist = 12, k = 5)
      .collect()
    val byQuery = tight.groupBy(_.getLong(0))
    assert(byQuery.keySet == Set(0L, 1L, 2L))
    assert(byQuery.values.forall(_.length == 5))
    byQuery.foreach { case (q, rows) =>
      assert(rows.maxBy(_.getDouble(2)).getLong(1) == q)
    }
    // reranked scores are true full-dim cosines: cross-check one pair
    // against the exhaustive scorer
    val want = Similarity.topKForQueries(emb, queries,
      "vec_id", "embedding", "vec_id", k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
      .toMap
    tight.foreach { r =>
      want.get((r.getLong(0), r.getLong(1))).foreach { c =>
        assert(math.abs(c - r.getDouble(2)) < 1e-12)
      }
    }
  }

  test("centroid matrix: orthogonal groups score 0, aligned score 1") {
    // group A along axis 0, B along axis 1 (orthogonal), C = A scaled
    val mk = (axis: Int, scale: Float) =>
      Array.tabulate(4)(i => if (i == axis) scale else 0f).toSeq
    val df = Seq(
      ("A", mk(0, 1f)), ("A", mk(0, 3f)),
      ("B", mk(1, 2f)), ("B", mk(1, 4f)),
      ("C", mk(0, 5f)), ("C", mk(0, 7f))
    ).toDF("label", "embedding")
    val m = Similarity.centroidSimilarityMatrix(df, "label", "embedding")
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    assert(math.abs(m(("A", "B"))) < 1e-12)
    assert(math.abs(m(("A", "C")) - 1.0) < 1e-12)
    assert(math.abs(m(("B", "C"))) < 1e-12)
    assert(m.size == 3)
  }

  test("group centroids are exact means, layout-independent") {
    val df = Seq(("g", Seq(1f, 3f)), ("g", Seq(3f, 5f))).toDF("l", "v")
    val c1 = Similarity.groupCentroids(df.repartition(1), "l", "v")
      .head().getSeq[Double](1)
    val c7 = Similarity.groupCentroids(df.repartition(7), "l", "v")
      .head().getSeq[Double](1)
    assert(c1 == Seq(2.0, 4.0))
    assert(c1 == c7)
  }
}
