package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions

/** Approximate-nearest-neighbor search over an embedding column.
  *
  *  - [[topK]] — brute-force cosine top-k against one query vector: a
  *    single codegen'd scan (the fused [[graft.functions.CosineSimilarity]]
  *    loop) + `TakeOrderedAndProject`. The correctness baseline; at 100 TB
  *    it is one map stage + a k-row reduce, embarrassingly parallel.
  *  - [[topKForQueries]] — many queries at once: broadcast the (small)
  *    query set, one scan of the corpus, per-query window top-k.
  *  - IVF ([[IvfIndex]]) — the scale path: coarse k-means quantizer
  *    (deterministic Lloyd iterations), corpus partitioned by nearest
  *    centroid; a probe searches only `nProbe` inverted lists, cutting the
  *    scanned fraction to nProbe/nCentroids.
  */
object Similarity {

  /** Brute-force cosine top-k for a single query vector. */
  def topK(
      corpus: DataFrame, idCol: String, vecCol: String,
      query: Seq[Float], k: Int): DataFrame =
    corpus.select(
      col(idCol),
      VectorFunctions.cosineFast(col(vecCol), VectorFunctions.floatVec(query))
        .as("cosine"))
      .orderBy(col("cosine").desc, col(idCol))
      .limit(k)

  /** Top-k for each row of a (small) query table: broadcast-nested-loop
    * join, then the custom bounded-heap top-k operator
    * ([[graft.plans.TopKPerGroup]]) — no per-query sort of the scored
    * corpus, which at 100 TB is the difference between a heap scan and a
    * full shuffle-sort of |corpus| × |queries| rows. */
  def topKForQueries(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, queryIdCol: String,
      k: Int): DataFrame = {
    val q = broadcast(queries.select(
      col(queryIdCol).as("__qid"), col(vecCol).as("__qv")))
    val scored = corpus.crossJoin(q)
      .select(col("__qid"), col(idCol),
        VectorFunctions.cosineFast(col(vecCol), col("__qv")).as("cosine"))
    graft.plans.TopKPerGroup
      .perKey(scored, Seq("__qid"), "cosine", idCol, k)
      .select(col("__qid").as("query_id"), col(idCol), col("cosine"))
  }

  /** Hard-negative mining: for each query vector, the `k` most similar
    * corpus vectors carrying a DIFFERENT label — the contrastive-training
    * negatives worth mining because the model currently confuses them.
    * Same shape as [[topKForQueries]] (broadcast queries, one corpus
    * scan, bounded-heap top-k per query — no per-query sort), plus the
    * label-mismatch predicate applied before scoring so same-label rows
    * never reach the heap. */
  def hardNegatives(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, labelCol: String,
      queryIdCol: String, k: Int): DataFrame = {
    val q = broadcast(queries.select(
      col(queryIdCol).as("__qid"), col(vecCol).as("__qv"),
      col(labelCol).as("__qlabel")))
    val scored = corpus.crossJoin(q)
      .filter(col(labelCol) =!= col("__qlabel"))
      .select(col("__qid"), col(idCol),
        VectorFunctions.cosineFast(col(vecCol), col("__qv")).as("cosine"))
    graft.plans.TopKPerGroup
      .perKey(scored, Seq("__qid"), "cosine", idCol, k)
      .select(col("__qid").as("query_id"), col(idCol), col("cosine"))
  }

  /** Matryoshka-style two-stage search (Kusupati et al. 2022, MRL): rank
    * the corpus by cosine over only the FIRST `prefixDim` dimensions —
    * for matryoshka-trained embeddings the prefix is itself a valid
    * low-dim embedding — keep a `shortlist` per query, then re-rank just
    * the shortlist with full-dimension cosine and keep `k`.
    *
    * Why at 100 TB: stage 1 is the only corpus-wide scan and it touches
    * `prefixDim/dim` of the vector bytes (memory bandwidth, not compute,
    * bounds brute-force search); stage 2 runs on |queries|·shortlist
    * rows, negligible by construction. Both stages use the bounded-heap
    * [[graft.plans.TopKPerGroup]] — no per-query sort anywhere. The
    * result is exact IF every true top-k member ranks within the
    * shortlist on the prefix (the MRL training objective); the operator
    * itself is deterministic either way (ties break on id at both
    * stages), so the recall trade is measurable, not noisy. */
  def truncatedRerank(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, queryIdCol: String,
      prefixDim: Int, shortlist: Int, k: Int): DataFrame = {
    require(prefixDim >= 1, s"prefixDim must be >= 1, got $prefixDim")
    require(shortlist >= k,
      s"shortlist $shortlist must be >= k $k (stage 2 reranks stage 1)")
    val q = broadcast(queries.select(
      col(queryIdCol).as("__qid"), col(vecCol).as("__qv")))
    val pre = corpus.crossJoin(q)
      .select(col("__qid"), col(idCol), col(vecCol), col("__qv"),
        VectorFunctions.cosineFast(
          slice(col(vecCol), 1, prefixDim),
          slice(col("__qv"), 1, prefixDim)).as("__pre_cosine"))
    val short = graft.plans.TopKPerGroup
      .perKey(pre, Seq("__qid"), "__pre_cosine", idCol, shortlist)
    val reranked = short
      .select(col("__qid"), col(idCol),
        VectorFunctions.cosineFast(col(vecCol), col("__qv")).as("cosine"))
    graft.plans.TopKPerGroup
      .perKey(reranked, Seq("__qid"), "cosine", idCol, k)
      .select(col("__qid").as("query_id"), col(idCol), col("cosine"))
  }

  /** IVF coarse quantizer: `nCentroids` centroids trained with
    * deterministic Lloyd iterations (init = lowest-id vectors; means in
    * fixed dimension order). Centroids are collected to the driver (tiny:
    * nCentroids × dim floats) and re-broadcast as literals — the classic
    * small-side-broadcast pattern. */
  final case class IvfIndex(
      centroids: IndexedSeq[Seq[Float]],
      assigned: DataFrame /* idCol, vecCol, __centroid */)

  def buildIvf(
      spark: SparkSession,
      corpus: DataFrame, idCol: String, vecCol: String,
      nCentroids: Int, iterations: Int = 2): IvfIndex = {
    // cached only for the duration of training (each Lloyd iteration
    // rescans the corpus); released before returning so a long-lived
    // session doesn't accumulate pinned RDDs — the returned `assigned`
    // plan recomputes from source when the caller executes it. With
    // iterations = 0 there is exactly ONE training read (the init
    // collect), so the cache would be pure block-manager churn — skip it.
    val doCache = iterations > 0
    val cached = if (doCache) corpus.cache() else corpus
    try {
      var centroids: IndexedSeq[Seq[Float]] =
        cached.orderBy(col(idCol)).limit(nCentroids)
          .select(col(vecCol)).collect()
          .map(_.getSeq[Float](0).toIndexedSeq).toIndexedSeq
      var assigned: DataFrame = null
      var iter = 0
      while (iter <= iterations) {
        assigned = cached.withColumn("__centroid",
          nearestCentroid(col(vecCol), centroids))
        if (iter < iterations) {
          // Deterministic mean: per-dimension sums go through DECIMAL —
          // a double sum's value depends on partial-aggregation order, which
          // would make the trained centroids (and IVF results) vary run to
          // run. posexplode + narrow (centroid, dim) aggregation instead of
          // a dim-wide agg: one small shuffle, and it survives dim >> 64.
          val means = assigned
            .select(col("__centroid"),
              posexplode(col(vecCol)).as(Seq("__pos", "__val")))
            .groupBy(col("__centroid"), col("__pos"))
            .agg(sum(col("__val").cast("decimal(28,12)")).cast("double")
              .as("__sum"), count(lit(1)).as("__n"))
            .collect()
          val byId = means
            .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2), r.getLong(3)))
            .groupBy(_._1)
          centroids = centroids.indices.map { c =>
            byId.get(c.toLong) match {
              case Some(rows) if rows.head._4 > 0 =>
                val n = rows.head._4
                rows.sortBy(_._2).map(t => (t._3 / n).toFloat).toIndexedSeq
              case _ => centroids(c)
            }
          }
        }
        iter += 1
      }
      IvfIndex(centroids, assigned)
    } finally if (doCache) cached.unpersist()
  }

  /** Nearest-centroid id (argmin squared L2, ties broken by lowest
    * centroid id; null/unmatchable vector → -1) as ONE codegen
    * expression node holding the whole centroid matrix
    * ([[graft.functions.NearestCentroid]]). The previous per-centroid
    * `CASE WHEN dist_i = least(dist_0..dist_k)` column tree was
    * O(k² · dim) in expression size — at k=8/dim=64 the executed plan
    * printed 344 KB and q129 spent ~2 s of driver time per run walking
    * it (analysis, canonicalization, AQE, Janino), with 23 s worst runs
    * when bench-JVM GC landed on those walks (round-12 VERDICT #1). */
  private def nearestCentroid(
      vec: Column, centroids: IndexedSeq[Seq[Float]]): Column =
    org.apache.spark.sql.graftshim.Shims.column(
      graft.functions.NearestCentroid(
        org.apache.spark.sql.graftshim.Shims.expression(vec),
        centroids.map(_.toIndexedSeq)))

  // ======================= product quantization =======================

  /** Product-quantization codebooks: `m` subspaces × `k` centroids of
    * `subDim` floats each. Driver-tiny (k·dim floats total), broadcast as
    * literals wherever used — the FAISS-style design that makes
    * billion-vector ANN shippable: dim×4 bytes/vector → m small codes. */
  final case class PqCodebooks(
      m: Int, k: Int, subDim: Int,
      centroids: IndexedSeq[IndexedSeq[Seq[Float]]])

  /** Train PQ codebooks with deterministic Lloyd iterations per subspace
    * (init = subvectors of the lowest-id rows; means through exact
    * DECIMAL, like [[buildIvf]], so training is layout-independent).
    * All `m` subspaces train in the SAME distributed pass per iteration:
    * one posexplode into (subspace, subvector) rows, one combined
    * assignment expression, one narrow (sub, centroid, dim) aggregation. */
  def trainPq(
      corpus: DataFrame, idCol: String, vecCol: String,
      dim: Int, m: Int, k: Int, iterations: Int = 2): PqCodebooks = {
    require(dim % m == 0, s"dim $dim must be divisible by m $m")
    val subDim = dim / m
    val subs = corpus.select(col(idCol).as("__id"),
      posexplode(array((0 until m).map(s =>
        slice(col(vecCol), s * subDim + 1, subDim)): _*))
        .as(Seq("__sub", "__subvec")))
      .cache()
    try {
      // Init from the lowest-id rows, DEDUPLICATED per subspace: duplicate
      // leading subvectors would collide centroids at iteration 0, and with
      // few Lloyd iterations + empty-cell carry-over the collided codes
      // could stay duplicated forever, wasting codebook capacity. Collect a
      // few times k candidates so dedup still fills k distinct seeds on
      // repetitive corpora; when the corpus has fewer than k distinct
      // subvectors the tail seeds all repeat the LAST distinct one (the
      // clamped index below), and Lloyd + empty-cell carry-over re-spreads
      // them in later iterations.
      val init = subs.orderBy(col("__id"), col("__sub"))
        .limit(4 * m * k).collect()
        .map(r => (r.getInt(1), r.getSeq[Float](2)))
        .groupBy(_._1)
      require(init.nonEmpty, "trainPq requires a non-empty corpus")
      var books: IndexedSeq[IndexedSeq[Seq[Float]]] =
        (0 until m).map { s =>
          val rows = init.getOrElse(s, Array.empty).map(_._2)
            .distinct
          require(rows.nonEmpty, s"trainPq: no init rows for subspace $s")
          (0 until k).map(i =>
            rows(math.min(i, rows.length - 1)).toIndexedSeq).toIndexedSeq
        }
      var iter = 0
      while (iter < iterations) {
        val assigned = subs.withColumn("__c", assignPq(col("__subvec"),
          col("__sub"), books))
        val means = assigned
          .select(col("__sub"), col("__c"),
            posexplode(col("__subvec")).as(Seq("__pos", "__val")))
          .groupBy(col("__sub"), col("__c"), col("__pos"))
          .agg(sum(col("__val").cast("decimal(28,12)")).cast("double")
            .as("__sum"), count(lit(1)).as("__n"))
          .collect()
          .map(r => ((r.getInt(0), r.getLong(1)), (r.getInt(2),
            r.getDouble(3), r.getLong(4))))
          .groupBy(_._1)
        books = (0 until m).map { s =>
          (0 until k).map { c =>
            means.get((s, c.toLong)) match {
              case Some(rows) =>
                val n = rows.head._2._3
                rows.map(_._2).sortBy(_._1)
                  .map(t => (t._2 / n).toFloat).toIndexedSeq
              case None => books(s)(c) // empty cell keeps its centroid
            }
          }
        }
        iter += 1
      }
      PqCodebooks(m, k, subDim, books)
    } finally subs.unpersist()
  }

  /** Combined per-subspace nearest-centroid id: the (sub, subvec) row's
    * code under its own subspace's codebook. */
  private def assignPq(
      subvec: Column, sub: Column,
      books: IndexedSeq[IndexedSeq[Seq[Float]]]): Column =
    books.zipWithIndex.foldRight(lit(-1L): Column) { case ((book, s), other) =>
      when(sub === s, nearestCentroid(subvec, book)).otherwise(other)
    }

  /** Encode vectors as `m` centroid codes — map-only, no shuffle. After
    * encoding, searches never touch the float vectors again. */
  def encodePq(
      df: DataFrame, vecCol: String, books: PqCodebooks): DataFrame = {
    val subDim = books.subDim
    df.withColumn("pq_code",
      array((0 until books.m).map(s =>
        nearestCentroid(slice(col(vecCol), s * subDim + 1, subDim),
          books.centroids(s)).cast("int")): _*))
  }

  /** Asymmetric-distance (ADC) top-k: the per-query m×k lookup table is
    * computed once on the driver (m·k doubles) and inlined as literals;
    * the corpus scan is then a pure lookup-sum over the code column —
    * one map stage + a k-row TakeOrdered, independent of `dim`. */
  def searchPqAdc(
      encoded: DataFrame, idCol: String, books: PqCodebooks,
      query: Seq[Float], k: Int): DataFrame = {
    val lut: IndexedSeq[IndexedSeq[Double]] = (0 until books.m).map { s =>
      val qsub = query.slice(s * books.subDim, (s + 1) * books.subDim)
      books.centroids(s).map { cvec =>
        cvec.zip(qsub).map { case (a, b) =>
          val d = a.toDouble - b.toDouble; d * d
        }.sum
      }
    }
    val score = (0 until books.m).map { s =>
      element_at(array(lut(s).map(lit): _*),
        element_at(col("pq_code"), s + 1) + 1)
    }.reduce(_ + _)
    encoded.select(col(idCol), score.as("adc_dist_sq"))
      .orderBy(col("adc_dist_sq").asc, col(idCol))
      .limit(k)
  }

  /** Mean squared reconstruction error of a PQ encoding — the training
    * quality metric (Lloyd iterations must not increase it). */
  def pqReconstructionError(
      encoded: DataFrame, vecCol: String, books: PqCodebooks): Double = {
    val err = (0 until books.m).map { s =>
      val sub = slice(col(vecCol), s * books.subDim + 1, books.subDim)
      val code = element_at(col("pq_code"), s + 1)
      // distance of the subvector to ITS assigned centroid, looked up in
      // the subspace's codebook literal: one node per subspace (a k-way
      // CASE per subspace outgrew Janino's 64 KB method limit at m = k =
      // 16, and the stage fell back to interpreted evaluation); a code
      // outside [0, k) or null adds 0, as that CASE's default did
      val book = array(books.centroids(s).map(VectorFunctions.floatVec): _*)
      when(code >= 0 && code < books.k,
        VectorFunctions.distSqFast(sub, element_at(book, code + 1)))
        .otherwise(lit(0.0))
    }.reduce(_ + _)
    encoded.agg(avg(err)).head().getDouble(0)
  }

  /** IVF-PQ: the composed billion-scale design — the coarse quantizer
    * prunes to `nProbe` inverted lists, and WITHIN the probed lists rows
    * are scored by ADC over their PQ codes, so the probe reads
    * (nProbe/nCentroids) of the corpus and touches only m small codes per
    * row, never the float vectors. Build = IVF assignment + PQ encode in
    * one frame; at 100 TB the encoded index is ~dim×4/m the size of the
    * raw embeddings and the scan is lookup-adds instead of FMAs. */
  def buildIvfPq(
      spark: SparkSession,
      corpus: DataFrame, idCol: String, vecCol: String,
      nCentroids: Int, m: Int, k: Int, dim: Int,
      iterations: Int = 2): (IvfIndex, PqCodebooks, DataFrame) = {
    val ivf = buildIvf(spark, corpus, idCol, vecCol, nCentroids, iterations)
    val books = trainPq(corpus, idCol, vecCol, dim, m, k, iterations)
    val encoded = encodePq(ivf.assigned, vecCol, books)
      .select(col(idCol), col("__centroid"), col("pq_code"))
    (ivf, books, encoded)
  }

  /** The `nProbe` inverted-list ids nearest `query` (squared L2 over the
    * driver-resident centroids; ties broken by lowest id) — shared by the
    * exact and PQ probes so their pruning can never diverge. */
  def nearestLists(
      centroids: IndexedSeq[Seq[Float]], query: Seq[Float],
      nProbe: Int): Seq[Long] =
    centroids.zipWithIndex.map { case (cvec, i) =>
      val d = cvec.zip(query).map { case (a, b) =>
        val diff = a.toDouble - b.toDouble; diff * diff
      }.sum
      (i.toLong, d)
    }.sortBy { case (i, d) => (d, i) }.take(nProbe).map(_._1)

  /** ADC search over the probed lists of an IVF-PQ index. */
  def searchIvfPq(
      ivf: IvfIndex, books: PqCodebooks, encoded: DataFrame,
      idCol: String, query: Seq[Float], topK: Int,
      nProbe: Int = 2): DataFrame = {
    val ranked = nearestLists(ivf.centroids, query, nProbe)
    searchPqAdc(
      encoded.filter(col("__centroid").isin(ranked: _*)),
      idCol, books, query, topK)
  }

  /** Per-group mean embedding (centroid) with exact-DECIMAL per-dim
    * sums — the same narrow (group, dim) aggregation as [[buildIvf]]'s
    * Lloyd update, so the centroid is layout-independent and replayable
    * in SQL. Output: (groupCol, centroid array<double> of `dim`). */
  def groupCentroids(
      df: DataFrame, groupCol: String, vecCol: String): DataFrame =
    df.select(col(groupCol),
        posexplode(col(vecCol)).as(Seq("__dim", "__v")))
      .groupBy(col(groupCol), col("__dim"))
      .agg((sum(col("__v").cast("decimal(28,12)")).cast("double") /
        count(lit(1))).as("__m"))
      .groupBy(col(groupCol))
      .agg(sort_array(collect_list(struct(col("__dim"), col("__m"))))
        .as("__o"))
      .select(col(groupCol), expr("transform(__o, s -> s.__m)")
        .as("centroid"))

  /** Pairwise cosine between group centroids — the class-separation /
    * confusion-structure view of a labeled embedding corpus (which
    * classes sit close enough to need hard negatives, q101's input
    * question). k groups → k·(k−1)/2 rows; the join is over the tiny
    * centroid frame, never the corpus. Sequential-fold dot products so
    * the doubles replay exactly in SQL (SparkEntry q127). A NULL group
    * (unlabeled rows) gets a centroid from [[groupCentroids]] but NO
    * matrix rows — the triangular `<` cut has no ordering for null
    * (round-17 null-join sweep: deliberate, "similarity of the
    * unlabeled class" is not a class-separation question; coalesce
    * labels first if you want it in the matrix). */
  def centroidSimilarityMatrix(
      df: DataFrame, groupCol: String, vecCol: String): DataFrame = {
    val cent = groupCentroids(df, groupCol, vecCol)
    val dot = (a: String, b: String) =>
      expr(s"aggregate(zip_with($a, $b, (x, y) -> x * y), " +
        "0D, (acc, x) -> acc + x)")
    cent.as("a")
      .withColumnRenamed(groupCol, "group_a")
      .withColumnRenamed("centroid", "ca")
      .join(cent.as("b").withColumnRenamed(groupCol, "group_b")
        .withColumnRenamed("centroid", "cb"),
        col("group_a") < col("group_b"))
      .select(col("group_a"), col("group_b"),
        (dot("ca", "cb") /
          (sqrt(dot("ca", "ca")) * sqrt(dot("cb", "cb"))))
          .as("cosine"))
  }

  /** IVF probe: search only the `nProbe` inverted lists nearest the query.
    * Scanned fraction ≈ nProbe / nCentroids. */
  def searchIvf(
      index: IvfIndex, idCol: String, vecCol: String,
      query: Seq[Float], k: Int, nProbe: Int = 2): DataFrame = {
    val ranked = nearestLists(index.centroids, query, nProbe)
    index.assigned
      .filter(col("__centroid").isin(ranked: _*))
      .select(col(idCol),
        VectorFunctions.cosineFast(col(vecCol),
          VectorFunctions.floatVec(query)).as("cosine"))
      .orderBy(col("cosine").desc, col(idCol))
      .limit(k)
  }

  /** Batched IVF search — [[searchIvf]] for a query TABLE. Per-query
    * probe lists are computed distributedly (|Q| × nCentroids distances
    * → bounded-heap cut to nProbe; same squared-L2 + lowest-id tie
    * contract as [[nearestLists]], so single- and batched-query probes
    * can never diverge), then ONE corpus pass: the |Q|·nProbe probe
    * table broadcasts onto the inverted-list join, each probed row is
    * scored once per probing query, and the bounded heap keeps k per
    * query — no per-query corpus scan, no driver loop over queries.
    * Output: (query_id, idCol, cosine). */
  def searchIvfForQueries(
      index: IvfIndex, idCol: String, vecCol: String,
      queries: DataFrame, queryIdCol: String,
      k: Int, nProbe: Int = 2): DataFrame = {
    val spark = index.assigned.sparkSession
    import spark.implicits._
    val cent = index.centroids.zipWithIndex
      .map { case (v, i) => (i.toLong, v) }.toDF("__cid", "__cv")
    val q = queries.select(col(queryIdCol).as("__qid"),
      col(vecCol).as("__qv"))
    val probes = graft.plans.TopKPerGroup.perKey(
      q.crossJoin(broadcast(cent))
        .select(col("__qid"), col("__qv"), col("__cid"),
          (-VectorFunctions.distSqFast(col("__qv"), col("__cv")))
            .as("__negd")),
      Seq("__qid"), "__negd", "__cid", nProbe)
      .select(col("__qid"), col("__qv"), col("__cid"))
    val scored = index.assigned
      .join(broadcast(probes), col("__centroid") === col("__cid"))
      .select(col("__qid"), col(idCol),
        VectorFunctions.cosineFast(col(vecCol), col("__qv"))
          .as("cosine"))
    graft.plans.TopKPerGroup
      .perKey(scored, Seq("__qid"), "cosine", idCol, k)
      .select(col("__qid").as("query_id"), col(idCol), col("cosine"))
  }

  /** ANN quality gate: per-query recall@k of the IVF probe against the
    * exact brute-force top-k over the SAME corpus and tie contract
    * (score desc, id asc — both arms ride the bounded heap, so the
    * comparison is deterministic, never "roughly the same set"). This
    * is the acceptance test on an index-parameter change
    * (nCentroids/nProbe/iterations): measure recall on a query sample
    * BEFORE swapping parameters into a corpus-wide near-dup or
    * retrieval job.
    *
    * recall = |approx ∩ exact| / |exact| per query (|exact| can be < k
    * on a small corpus). Both arms are k·|Q|-bounded after their single
    * corpus pass each; the intersection join and the two tiny
    * aggregates never touch the corpus again. Output:
    * (query_id, n_exact, n_hit, recall), recall 6 dp. */
  def annRecall(
      index: IvfIndex, idCol: String, vecCol: String,
      queries: DataFrame, queryIdCol: String,
      k: Int, nProbe: Int = 2): DataFrame = {
    val exact = topKForQueries(
        index.assigned, queries, idCol, vecCol, queryIdCol, k)
      .select(col("query_id").as("__eq"), col(idCol).as("__ed"))
    val approx = searchIvfForQueries(
        index, idCol, vecCol, queries, queryIdCol, k, nProbe)
      .select(col("query_id").as("__aq"), col(idCol).as("__ad"))
    // ONE left-outer join + ONE aggregate: a semi-join-for-hits plus a
    // separate totals aggregate would consume `exact` twice, and each
    // copy re-runs its corpus pass (exchange reuse doesn't survive the
    // differently-pruned subtrees). (query, doc) is unique on both
    // k-cut sides, so the outer join preserves exactly the exact rows.
    exact
      .join(approx, col("__eq") === col("__aq") &&
        col("__ed") === col("__ad"), "left_outer")
      .groupBy(col("__eq"))
      .agg(count(lit(1)).as("n_exact"),
        sum(when(col("__ad").isNotNull, 1L).otherwise(0L)).as("n_hit"))
      .select(col("__eq").as("query_id"), col("n_exact"), col("n_hit"),
        round(col("n_hit").cast("double") /
          col("n_exact").cast("double"), 6).as("recall"))
  }
}
