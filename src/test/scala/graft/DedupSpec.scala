package graft

import org.apache.spark.sql.functions._
import graft.operators.Dedup
import org.apache.spark.CheckpointDirs.{filesUnder, withCheckpointDir}

class DedupSpec extends SparkTestBase {
  import spark.implicits._

  private lazy val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog near the river bank"),
    (2L, "the quick brown fox jumps over the lazy dog near the river bend"), // near-dup of 1
    (3L, "completely different content about database engines and queries"),
    (4L, "THE QUICK  BROWN fox jumps over the lazy dog near the river bank"), // exact after norm
    (5L, "yet another unrelated document mentioning spark and parquet files")
  ).toDF("doc_id", "text")

  test("exactByFingerprint keeps lowest id per normalized-text group") {
    val out = Dedup.exactByFingerprint(docs, "doc_id", "text")
    val ids = out.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids == Set(1L, 2L, 3L, 5L)) // 4 collapses into 1
  }

  test("incremental LSH equals the full run restricted to new-doc pairs") {
    val all = spark.read.parquet(s"$sf001/documents.parquet")
    val newDocs = all.filter(col("doc_id") % 10 === 0)
    val oldDocs = all.filter(col("doc_id") % 10 =!= 0)
    val oldBuckets = Dedup.minhashBuckets(oldDocs, "doc_id", "text",
      numHashes = 64, bands = 16, shingleSize = 3)
    val inc = Dedup.incrementalMinhashNearDups(
      newDocs, oldDocs, oldBuckets, "doc_id", "text",
      numHashes = 64, bands = 16, shingleSize = 3, threshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val full = Dedup.minhashNearDups(all, "doc_id", "text",
      numHashes = 64, bands = 16, shingleSize = 3, threshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val fullTouchingNew = full.filter { case (a, b) =>
      a % 10 == 0 || b % 10 == 0 }
    assert(inc == fullTouchingNew)
    assert(inc.nonEmpty) // the fixture's planted near-dups straddle split
  }

  test("minhash LSH finds the planted near-dup pair") {
    val pairs = Dedup.minhashNearDups(docs, "doc_id", "text",
      numHashes = 64, bands = 32, shingleSize = 2, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(pairs.contains((1L, 4L))) // exact dup always survives
    assert(!pairs.exists { case (a, b) => Set(a, b).contains(3L) })
  }

  test("deferred-set verify equals precomputed-set verify on sf0.001") {
    // jaccardVerify builds shingle sets AFTER the candidate join (compute
    // tracks |candidates|); this replays the legacy corpus-wide-sets
    // formulation and asserts value equality on real data.
    val all = spark.read.parquet(s"$sf001/documents.parquet")
    val buckets = Dedup.portableBuckets(all, "doc_id", "text",
      numHashes = 64, bands = 16, shingleSize = 3)
    val pairs = Dedup.candidatePairs(buckets, "doc_id")
    val deferred = Dedup.jaccardVerify(pairs, all, "doc_id", "text",
      shingleSize = 3, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val sets = all.select(col("doc_id").as("__id"),
      graft.functions.TextFunctions.shinglesFast(col("text"), 3).as("__set"))
    val legacy = pairs
      .join(sets.withColumnRenamed("__id", "id_a")
        .withColumnRenamed("__set", "__set_a"), Seq("id_a"))
      .join(sets.withColumnRenamed("__id", "id_b")
        .withColumnRenamed("__set", "__set_b"), Seq("id_b"))
      .withColumn("jaccard",
        graft.functions.TextFunctions.jaccardFast(col("__set_a"), col("__set_b")))
      .filter(col("jaccard") >= 0.5)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(deferred == legacy)
    assert(deferred.nonEmpty)
  }

  test("OPH signatures: k-wide, deterministic, densification fills every slot") {
    val sig = Dedup.ophPortableSignatures(docs, "doc_id", "text",
      numSlots = 64, shingleSize = 2)
    val rows = sig.collect()
    assert(rows.length == docs.count())
    assert(rows.forall(_.getSeq[Long](1).length == 64))
    // no slot may be null/unfilled: densification borrows for empty bins
    assert(rows.forall(_.getSeq[Long](1).forall(_ >= 0L)))
    val again = Dedup.ophPortableSignatures(docs, "doc_id", "text",
      numSlots = 64, shingleSize = 2).collect()
    assert(rows.map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap ==
      again.map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap)
    // a filled bin's slot is a raw 32-bit hash (< 2^32); a borrowed slot
    // carries the t*2^32 displacement — both kinds should appear on this
    // small fixture (few shingles can't fill all 64 bins)
    val slots = rows.flatMap(_.getSeq[Long](1))
    assert(slots.exists(_ < 4294967296L))
    assert(slots.exists(_ >= 4294967296L))
  }

  test("OPH aggregate rejects out-of-contract base hashes") {
    // The densification math assumes hashes in [0, offset): a raw
    // xxhash64 (negative or >= 2^32) would silently corrupt bin minima
    // (Long.MaxValue doubles as the empty-bin marker, and the
    // (b−j mod k)·offset displacement must dominate every raw value) —
    // the aggregate must fail fast instead
    val bad = Seq((1L, 1L << 40), (1L, -5L)).toDF("id", "h")
    val err = intercept[Exception] {
      bad.groupBy(col("id"))
        .agg(graft.functions.OphMinHashAgg.column(col("h"), 8,
          4294967296L).as("sig"))
        .collect()
    }
    def rootMessages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e =>
        Option(e.getMessage).toSeq ++ rootMessages(e.getCause))
    assert(rootMessages(err).exists(_.contains("out of contract")))
    // in-contract values still aggregate
    val ok = Seq((1L, 7L), (1L, 3L)).toDF("id", "h")
      .groupBy(col("id"))
      .agg(graft.functions.OphMinHashAgg.column(col("h"), 8,
        4294967296L).as("sig"))
      .collect()
    assert(ok.head.getSeq[Long](1).length == 8)
  }

  test("OPH chain finds the planted near-dups and only true ones") {
    val pairs = Dedup.ophNearDups(docs, "doc_id", "text",
      numSlots = 64, bands = 32, shingleSize = 2, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(pairs.contains((1L, 4L)))
    assert(!pairs.exists { case (a, b) => Set(a, b).contains(3L) })
  }

  test("OPH recall tracks classic MinHash on sf0.001 (same verify tail)") {
    val all = spark.read.parquet(s"$sf001/documents.parquet")
    val oph = Dedup.ophNearDups(all, "doc_id", "text",
      numSlots = 64, bands = 16, shingleSize = 3, threshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val classic = Dedup.portableNearDups(all, "doc_id", "text",
      numHashes = 64, bands = 16, shingleSize = 3, threshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // both chains verify with exact Jaccard >= 0.8, so each output is a
    // subset of the true near-dup pairs; candidate recall may differ by
    // a few pairs between the two sketch families, not collapse
    assert(oph.nonEmpty)
    assert((oph intersect classic).size.toDouble >=
      0.8 * math.max(oph.size, classic.size))
  }

  test("prefix self-join (Fuzzy) contains the LSH chain's verified pairs") {
    // LSH candidate generation is probabilistic (can miss); the prefix
    // filter is recall-complete — so at the same threshold and set
    // family the LSH output must be a subset of the exact join's.
    val all = spark.read.parquet(s"$sf001/documents.parquet")
    val sets = all.select(col("doc_id"),
      graft.functions.TextFunctions.shinglesFast(col("text"), 3).as("st"))
    val pf = graft.operators.Fuzzy.jaccardSelfJoin(
        sets, "doc_id", "st", threshold = 0.8, leftPred = lit(true))
      .filter(col("id_a") < col("id_b"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.portableNearDups(all, "doc_id", "text",
      numHashes = 64, bands = 16, shingleSize = 3, threshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.subsetOf(pf))
    assert(pf.nonEmpty)
  }

  test("minhash signatures are stable and k-wide") {
    val sig = Dedup.minhashSignatures(docs, "doc_id", "text",
      numHashes = 16, shingleSize = 2)
    val rows = sig.collect()
    assert(rows.forall(_.getSeq[Long](1).length == 16))
    val sig2 = Dedup.minhashSignatures(docs, "doc_id", "text",
      numHashes = 16, shingleSize = 2).collect()
    assert(rows.map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap ==
      sig2.map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap)
  }

  test("simhash near-dup finds the near-identical pair") {
    val pairs = Dedup.simhashNearDups(docs, "doc_id", "text", maxHamming = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 4L))) // identical token stream -> hamming 0
  }

  test("embedding near-dup finds planted duplicate vectors") {
    val base = (0 until 16).map(_.toFloat / 16f)
    val shifted = base.map(_ + 5f)
    val vecs = Seq(
      (10L, base), (11L, base), // exact dup pair
      (12L, shifted), (13L, base.map(x => -x - 0.1f))
    ).toDF("vec_id", "v").select(col("vec_id"),
      col("v").cast("array<float>").as("v"))
    val pairs = Dedup.embeddingNearDups(vecs, "vec_id", "v",
      dim = 16, threshold = 0.99, numPlanes = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((10L, 11L)))
    assert(!pairs.exists { case (a, b) => Set(a, b).contains(13L) })
  }

  test("null embeddings cannot evict a genuine sign-LSH bucket") {
    // dot(NULL, plane) is NULL -> every null vector's sign bits read 0,
    // so the null population used to pile into bucket 0 alongside the
    // real all-negative-sign vectors; enough dead embeddings pushed
    // that bucket over maxBucketSize and silently dropped its genuine
    // near-dup pair. Nulls are filtered before bucketing now.
    val neg = (0 until 8).map(i => -1f - i.toFloat / 8f)
    val rows =
      Seq((1L, Some(neg)), (2L, Some(neg))) ++ // all-negative dup pair
        (10L until 20L).map(i => (i, Option.empty[Seq[Float]]))
    val vecs = rows.toDF("vec_id", "v")
      .select(col("vec_id"), col("v").cast("array<float>").as("v"))
    val pairs = Dedup.embeddingNearDups(vecs, "vec_id", "v",
      dim = 8, threshold = 0.99, numPlanes = 8, maxBucketSize = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)),
      "the genuine bucket-0 pair was evicted by null-vector rows")
    assert(pairs.forall { case (a, b) => a < 10L && b < 10L })
  }

  test("exactByFingerprint keeps exactly one null-text row — both arms") {
    // null text -> null md5 -> the semi-join arm's null-rejecting
    // equi-join used to drop EVERY null-text row, while the window
    // fallback (float id here) kept one — the same call losing data
    // depending on the id type
    val longIds = Seq((3L, Some("the doc")), (2L, Option.empty[String]),
      (1L, Option.empty[String])).toDF("doc_id", "text")
    val a = Dedup.exactByFingerprint(longIds, "doc_id", "text")
      .collect().map(_.getLong(0)).toSet
    assert(a === Set(1L, 3L)) // null-text group keeps its lowest id
    val floatIds = longIds
      .select(col("doc_id").cast("float").as("doc_id"), col("text"))
    val b = Dedup.exactByFingerprint(floatIds, "doc_id", "text")
      .collect().map(_.getFloat(0)).toSet
    assert(b === Set(1f, 3f)) // window arm agrees
  }

  test("portable (md5-family) minhash finds the planted near-dup pair") {
    val pairs = Dedup.portableNearDups(docs, "doc_id", "text",
      numHashes = 64, bands = 32, shingleSize = 2, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)) && pairs.contains((1L, 4L)))
  }

  test("portable simhash: identical token streams share a sketch") {
    val sk = Dedup.portableSimhash(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sk(1L) == sk(4L)) // same tokens after lowering
    assert(sk(1L) != sk(3L))
  }

  test("connected components clusters transitive near-dup chains") {
    // chain 1-2-3 (one component), pair 10-11, singleton edge 20-20
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 20L))
      .toDF("id_a", "id_b")
    val comp = Dedup.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp(1L) == 1L && comp(2L) == 1L && comp(3L) == 1L)
    assert(comp(10L) == 10L && comp(11L) == 10L)
    assert(comp(20L) == 20L)
  }

  test("connected components: a failing pair frame leaves nothing cached") {
    // a range, not a local relation: the error must surface while the
    // cached frame fills, not while the optimizer folds the rows
    val pairs = spark.range(1, 4).select(col("id").as("id_a"),
      when(col("id") === 2L, raise_error(lit("bad pair")))
        .otherwise(col("id") + 1).as("id_b"))
    // only NEW entries count: the context cleaner may drop older ones
    def persisted = spark.sparkContext.getPersistentRDDs.keySet
    val before = persisted
    intercept[Exception](Dedup.connectedComponents(pairs).collect())
    intercept[Exception](Dedup.connectedComponents(pairs,
      localEdgeThreshold = 0L).collect())
    assert((persisted -- before).isEmpty)
  }

  test("connected components: local union-find == distributed propagation") {
    // Random graphs through BOTH arms of the hybrid: default threshold
    // takes the driver union-find, threshold=0 forces the distributed
    // min-label loop; the fixpoints must be identical row-for-row.
    val rng = new scala.util.Random(7)
    for (trial <- 0 until 3) {
      val n = 30 + trial * 20
      val edges = Seq.fill(n)(
        (rng.nextInt(25).toLong, rng.nextInt(25).toLong))
        .filter { case (a, b) => a != b }
        .map { case (a, b) => (math.min(a, b), math.max(a, b)) }
        .distinct
      val pairs = edges.toDF("id_a", "id_b")
      val local = Dedup.connectedComponents(pairs)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val dist = Dedup.connectedComponents(pairs, localEdgeThreshold = 0L)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(local == dist, s"trial $trial: hybrid arms disagree")
    }
  }

  test("connected components: reliable-checkpoint loop == cached loop") {
    // threshold=0 forces the distributed min-label loop; its per-round
    // pins run local, then reliable under a session checkpoint dir, and
    // the fixpoints must be identical.
    val rng = new scala.util.Random(11)
    val pairs = Seq.fill(60)(
      (rng.nextInt(30).toLong, rng.nextInt(30).toLong))
      .filter { case (a, b) => a != b }
      .distinct.toDF("id_a", "id_b")
    val cached = Dedup.connectedComponents(pairs, localEdgeThreshold = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val dir = java.nio.file.Files
      .createTempDirectory("graft-cc-ckpt").toString
    try {
      val reliable = withCheckpointDir(dir)(Dedup.connectedComponents(pairs,
        localEdgeThreshold = 0L)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
      assert(cached == reliable)
      assert(filesUnder(dir).nonEmpty) // the per-round pins were reliable
      assert(cached.nonEmpty)
    } finally {
      org.apache.commons.io.FileUtils
        .deleteQuietly(new java.io.File(dir)); ()
    }
  }

  test("incremental OPH equals the full run restricted to new-doc pairs") {
    val all = spark.read.parquet(s"$sf001/documents.parquet")
    val newDocs = all.filter(col("doc_id") % 10 === 0)
    val oldDocs = all.filter(col("doc_id") % 10 =!= 0)
    val oldBuckets = Dedup.ophPortableBuckets(oldDocs, "doc_id", "text",
      numSlots = 64, bands = 16, shingleSize = 3)
    val inc = Dedup.incrementalOphNearDups(
      newDocs, oldDocs, oldBuckets, "doc_id", "text",
      numSlots = 64, bands = 16, shingleSize = 3, threshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val full = Dedup.ophNearDups(all, "doc_id", "text",
      numSlots = 64, bands = 16, shingleSize = 3, threshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val fullTouchingNew = full.filter { case (a, b) =>
      a % 10 == 0 || b % 10 == 0 }
    assert(inc == fullTouchingNew)
    assert(inc.nonEmpty)
  }

  test("oversized-bucket guardrail reports its drops, never silently") {
    // 30 identical docs saturate one bucket per band; with
    // maxBucketSize=5 every one of their 4 buckets is dropped, and the
    // observe metric must report 4 dropped buckets and the 4*(30*29/2)
    // skipped pairs. Two twin docs with unrelated text keep one small
    // bucket per band alive — without at least one surviving candidate,
    // AQE's empty-relation propagation would prune the CollectMetrics
    // node itself (documented caveat in candidatePairs).
    val dups = ((0L until 30L)
      .map(i => (i, "the same text for every single document")) ++ Seq(
        (100L, "an entirely different pair of twin documents"),
        (101L, "an entirely different pair of twin documents")))
      .toDF("doc_id", "text")
    @volatile var seen: Option[(Long, Long)] = None
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          d: Long): Unit =
        qe.observedMetrics.collectFirst {
          case (name, row) if name.startsWith("graft.dedup.oversized_buckets") =>
            (row.getLong(row.fieldIndex("buckets_dropped")),
              row.getLong(row.fieldIndex("pairs_skipped")))
        }.foreach(v => seen = Some(v))
      override def onFailure(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val buckets = Dedup.portableBuckets(dups, "doc_id", "text",
        numHashes = 16, bands = 4, shingleSize = 2)
      val pairs = Dedup.candidatePairs(buckets, "doc_id", maxBucketSize = 5)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(pairs == Set((100L, 101L))) // hot buckets dropped, twins kept
      val deadline = System.currentTimeMillis + 20000
      while (seen.isEmpty && System.currentTimeMillis < deadline)
        Thread.sleep(50)
      assert(seen.contains((4L, 4L * (30 * 29 / 2))))
    } finally spark.listenerManager.unregister(listener)
  }

  test("semanticNearDups: nClusters=1 equals brute force; planted dup found") {
    val rng = new scala.util.Random(23)
    val base = (0L until 40L).map(i =>
      (i, Array.fill(16)(rng.nextFloat() * 2 - 1)))
    // plant an exact duplicate of vector 5 as id 100
    val vecs = base :+ (100L, base(5)._2.clone())
    val df = vecs.toDF("vec_id", "embedding")
    def cos(a: Array[Float], b: Array[Float]): Double = {
      val dot = a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
      val na = math.sqrt(a.map(x => x.toDouble * x).sum)
      val nb = math.sqrt(b.map(x => x.toDouble * x).sum)
      dot / (na * nb)
    }
    val brute = (for {
      (ia, va) <- vecs; (ib, vb) <- vecs
      if ia < ib && cos(va, vb) >= 0.8
    } yield (ia, ib)).toSet
    // one cluster -> the complete all-pairs threshold join
    val one = Dedup.semanticNearDups(df, "vec_id", "embedding",
      nClusters = 1, threshold = 0.8, iterations = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(one == brute)
    assert(one.contains((5L, 100L)))
    // clustered run: the exact duplicate lands in its twin's cluster by
    // construction (identical vectors share a nearest centroid), so the
    // planted pair survives any k
    val clustered = Dedup.semanticNearDups(df, "vec_id", "embedding",
      nClusters = 4, threshold = 0.8, iterations = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(clustered.contains((5L, 100L)))
    assert(clustered.subsetOf(brute)) // verify is exact: no false pairs
  }

  test("bagDuplicateGroups: token permutations collide, edits do not") {
    val d = Seq(
      (1L, "alpha beta gamma delta"),
      (2L, "delta gamma beta alpha"),   // permutation of 1 → same bag
      (3L, "alpha beta gamma"),         // subset, NOT a bag dup
      (4L, "alpha beta beta gamma delta") // extra multiplicity → distinct
    ).toDF("doc_id", "text")
    val groups = Dedup.bagDuplicateGroups(d, "doc_id", "text")
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    assert(groups.toSeq == Seq((1L, 2L))) // only {1,2}, rep = min id
  }

  test("containmentVerify scores a subset pair that Jaccard under-ranks") {
    val short = "one two three four five six"
    val d = Seq(
      (1L, short),
      (2L, short + " seven eight nine ten eleven twelve thirteen fourteen" +
        " fifteen sixteen seventeen eighteen"), // contains all of 1's grams
      (3L, "totally unrelated words in this other document here")
    ).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (1L, 3L)).toDF("id_a", "id_b")
    val cont = Dedup.containmentVerify(pairs, d, "doc_id", "text",
      shingleSize = 3, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
      .toMap
    assert(cont((1L, 2L)) == 1.0) // every shingle of 1 occurs in 2
    assert(!cont.contains((1L, 3L)))
    val jac = Dedup.jaccardVerify(pairs, d, "doc_id", "text",
      shingleSize = 3, threshold = 0.0)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
      .toMap
    assert(jac((1L, 2L)) < 0.5) // Jaccard misses what containment catches
  }

  test("capPerGroup keeps exactly k per group, layout-independent") {
    val d = spark.read.parquet(s"$sf001/documents.parquet")
    val kept = graft.operators.Sampling.capPerGroup(d, "doc_id", "source", 10)
    val sizes = kept.groupBy("source").count()
      .collect().map(_.getLong(1))
    assert(sizes.forall(_ <= 10))
    assert(kept.count() ==
      d.groupBy("source").count()
        .agg(sum(least(col("count"), lit(10L)))).head().getLong(0))
    // same kept set under a different physical layout
    val kept2 = graft.operators.Sampling
      .capPerGroup(d.repartition(7, col("lang")), "doc_id", "source", 10)
    assert(kept.select("doc_id").exceptAll(kept2.select("doc_id")).count() == 0)
  }

  test("capPerGroup: heap cap, no sort, parity with the window form") {
    val d = spark.read.parquet(s"$sf001/documents.parquet")
    val capped = graft.operators.Sampling.capPerGroup(d, "doc_id", "source", 10)
    // plan: rides TopKPerGroupExec with NO Sort anywhere — the window
    // formulation this replaced sorted every source group in full
    capped.collect()
    val plan = capped.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(plan.contains("TopKPerGroup"), "cap lost the heap exec")
    assert(!plan.contains("Sort"), "cap sorted — the window-form bug")
    assert(!plan.contains("Window"), "cap still uses a window")
    // parity: identical kept SET to the row_number window over the same
    // 60-bit hash order (the formulation capPerGroup replaced)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source"))
      .orderBy(
        graft.functions.PortableHash.md5Prefix(
          col("doc_id").cast("string"), 15),
        col("doc_id"))
    val windowKept = d.withColumn("__rk", row_number().over(w))
      .filter(col("__rk") <= 10).select("doc_id")
    assert(capped.select("doc_id").exceptAll(windowKept).count() == 0)
    assert(windowKept.exceptAll(capped.select("doc_id")).count() == 0)
  }

  test("capPerGroup: null-key drop is counted, key types validated up front") {
    // ADVICE r12: the null-key drop was documented but silent, and key
    // validation happened inside the exec. Now: an observe metric
    // carries the dropped count, and unmappable key types throw
    // immediately — data-independently — while the mapped set widened
    // to decimal/datetime/boolean.
    // suites share one session, and q113 runs capPerGroup concurrently
    // from QueriesSpec with ITS metric (0 dropped) — collect every
    // delivery and look for this test's value instead of racing on a
    // single slot (a last-writer-wins Option flaked under parallel
    // suites)
    val dropped = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          d: Long): Unit =
        qe.observedMetrics.foreach { case (name, row) =>
          if (name.startsWith("graft.sampling.cap_per_group"))
            dropped.add(row.getLong(row.fieldIndex("null_key_rows_dropped")))
        }
      override def onFailure(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val d = Seq((Some(1L), "a"), (None, "a"), (Some(2L), "a"),
        (None, "b"), (Some(3L), "b"))
        .toDF("doc_id", "source")
      val kept = graft.operators.Sampling.capPerGroup(d, "doc_id", "source", 1)
      assert(kept.count() == 2) // one per source, null keys dropped
      // QueryExecutionListener delivery is async — poll with a deadline
      val deadline = System.currentTimeMillis + 20000
      while (!dropped.contains(2L) && System.currentTimeMillis < deadline)
        Thread.sleep(50)
      assert(dropped.contains(2L), s"observe metric reported $dropped")
    } finally spark.listenerManager.unregister(listener)
    // timestamp keys: newly inside the mapped set
    val ts = Seq((java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), "a"),
      (java.sql.Timestamp.valueOf("2024-01-02 00:00:00"), "a"))
      .toDF("doc_id", "source")
    assert(graft.operators.Sampling.capPerGroup(ts, "doc_id", "source", 1)
      .count() == 1)
    // unmappable key type (double): fails fast at the API, not in the exec
    val bad = Seq((1.5, "a")).toDF("doc_id", "source")
    intercept[IllegalArgumentException] {
      graft.operators.Sampling.capPerGroup(bad, "doc_id", "source", 1)
    }
    intercept[IllegalArgumentException] {
      graft.operators.Sampling.balanceClasses(bad, "doc_id", "source")
    }
  }

  test("balanceClasses: null-key drop is counted, like capPerGroup") {
    // same no-silent-drops contract — the sibling sampler gained the
    // observe metric a round earlier; this pins parity. Collect every
    // delivery (shared session: q104 runs balanceClasses concurrently
    // from QueriesSpec with 0 dropped) — same de-flake as the
    // capPerGroup test above.
    val dropped = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          d: Long): Unit =
        qe.observedMetrics.foreach { case (name, row) =>
          if (name.startsWith("graft.sampling.balance_classes"))
            dropped.add(row.getLong(row.fieldIndex("null_key_rows_dropped")))
        }
      override def onFailure(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val d = Seq((Some(1L), "a"), (None, "a"), (Some(2L), "b"),
        (None, "b"), (Some(3L), "b"))
        .toDF("doc_id", "label")
      val kept = graft.operators.Sampling
        .balanceClasses(d, "doc_id", "label")
      assert(kept.count() == 2) // min class size 1 -> one per label
      val deadline = System.currentTimeMillis + 20000
      while (!dropped.contains(2L) && System.currentTimeMillis < deadline)
        Thread.sleep(50)
      assert(dropped.contains(2L), s"observe metric reported $dropped")
    } finally spark.listenerManager.unregister(listener)
  }

  test("cluster argmax rides the heap exec, parity with the window form") {
    val d = spark.read.parquet(s"$sf001/documents.parquet")
      .withColumn("score",
        graft.functions.TextFunctions.qualityScore(col("text")))
    val pairs = Dedup.portableNearDups(d, "doc_id", "text",
      numHashes = 64, bands = 16, shingleSize = 3, threshold = 0.8)
    val best = Dedup.bestPerCluster(d, "doc_id", pairs, "score")
    best.collect()
    val plan = best.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(plan.contains("TopKPerGroup"), "argmax lost the heap exec")
    assert(!plan.contains("Window"), "argmax still uses a window")
    // parity vs the row_number window formulation it replaced
    val comp = Dedup.connectedComponents(pairs)
      .withColumnRenamed("id", "doc_id")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("component"))
      .orderBy(col("score").desc, col("doc_id"))
    val windowBest = d.join(comp, Seq("doc_id"))
      .withColumn("__rk", row_number().over(w))
      .filter(col("__rk") === 1).select("doc_id")
    assert(best.select("doc_id").exceptAll(windowBest).count() == 0)
    assert(windowBest.exceptAll(best.select("doc_id")).count() == 0)
    // keepBestPerCluster = unpaired docs + the same winners
    val kept = Dedup.keepBestPerCluster(d, "doc_id", pairs, "score")
      .select("doc_id")
    val expected = d.join(comp.select("doc_id"), Seq("doc_id"), "left_anti")
      .select("doc_id").unionByName(windowBest)
    assert(kept.exceptAll(expected).count() == 0)
    assert(expected.exceptAll(kept).count() == 0)
  }

  test("exactByFingerprint: spillable argmin-agg plan, parity with the window form") {
    val d = spark.read.parquet(s"$sf001/documents.parquet")
    val out = Dedup.exactByFingerprint(d, "doc_id", "text")
    out.collect()
    val plan = out.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    // argmin-via-aggregate: a spillable, map-side-combined HashAggregate
    // over skinny (fingerprint, tie) pairs + a semi-join — never a
    // per-group Window sort, and never a full-row heap (which would hold
    // ~the whole partition's text unspillably on a mostly-unique corpus)
    assert(plan.contains("HashAggregate"), "keep-one lost the hash argmin")
    assert(!plan.contains("Window"), "keep-one still uses a window")
    assert(!plan.contains("TopKPerGroup"),
      "keep-one routes full rows through the unspillable heap exec")
    // parity vs the row_number window formulation it replaced
    val fp = graft.functions.TextFunctions.fingerprint(col("text"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__fp")).orderBy(col("doc_id"))
    val windowKept = d.withColumn("__fp", fp)
      .withColumn("__rk", row_number().over(w))
      .filter(col("__rk") === 1).select("doc_id")
    assert(out.select("doc_id").exceptAll(windowKept).count() == 0)
    assert(windowKept.exceptAll(out.select("doc_id")).count() == 0)
  }

  test("exactByFingerprint: semi-join key references two distinct " +
      "attribute ids") {
    // VERDICT r14 #2: the winners side used to carry its grouping
    // attribute through with the SAME expression id as the probe side,
    // so the key equality was a trivially-true predicate at Column
    // level ('__fp == __fp' analyzer WARN on every bench run) rescued
    // only by Spark's dataset-id self-join disambiguation. The rename
    // to __wfp mints a fresh attribute id; pin the ids as distinct so
    // a refactor can't silently regress to a TRUE join condition.
    import org.apache.spark.sql.catalyst.expressions.{AttributeReference, EqualTo}
    import org.apache.spark.sql.catalyst.plans.logical.Join
    val d = Seq((1L, "same text"), (2L, "same text"), (3L, "other"))
      .toDF("doc_id", "text")
    val out = Dedup.exactByFingerprint(d, "doc_id", "text")
    val joins = out.queryExecution.analyzed.collect { case j: Join => j }
    assert(joins.nonEmpty, "no join in the keep-one plan")
    val fpEqs = joins.flatMap(_.condition).flatMap(_.collect {
      case EqualTo(a: AttributeReference, b: AttributeReference)
          if Set(a.name, b.name).subsetOf(Set("__fp", "__wfp")) => (a, b)
    })
    assert(fpEqs.nonEmpty, "fingerprint key equality not found in plan")
    fpEqs.foreach { case (a, b) =>
      assert(a.exprId != b.exprId, "join key equality is trivially " +
        s"true: ${a.name}#${a.exprId.id} == ${b.name}#${b.exprId.id}")
    }
    assert(out.count() === 2)
  }

  test("exactByFingerprint: string, decimal, and null ids") {
    // string ids: kept winner is the byte-order-lowest id per group
    val s = Seq(("b", "same text here"), ("a", "same  TEXT here"),
      ("c", "other text entirely"))
      .toDF("doc_id", "text")
    val sIds = Dedup.exactByFingerprint(s, "doc_id", "text")
      .select("doc_id").collect().map(_.getString(0)).toSet
    assert(sIds == Set("a", "c"))
    // decimal ids (p<=18): exact unscaled ranking — previously only the
    // window path served these
    val dec = Seq((BigDecimal("2.50"), "same text here"),
      (BigDecimal("2.49"), "same  TEXT here"),
      (BigDecimal("9.99"), "other text entirely"))
      .toDF("doc_id", "text")
      .select(col("doc_id").cast("decimal(10,2)").as("doc_id"), col("text"))
    val decIds = Dedup.exactByFingerprint(dec, "doc_id", "text")
      .collect().map(_.getDecimal(0).toPlainString).toSet
    assert(decIds == Set("2.49", "9.99"))
    // null id ranks FIRST (the window's asc nulls-first) — it is kept,
    // not silently dropped by the exec's null-tie skip
    val n = Seq((Option.empty[Long], "same text here"),
      (Some(7L), "same  TEXT here"))
      .toDF("doc_id", "text")
    val nOut = Dedup.exactByFingerprint(n, "doc_id", "text").collect()
    assert(nOut.length == 1 && nOut.head.isNullAt(0))
  }

  test("tie mapping is collision-free: null id vs sentinel-valued id") {
    // ADVICE r13: the old tie mapping sent null ids and genuine
    // sentinel-valued ids (empty string / Long.MinValue) to the SAME
    // tie value, so a fingerprint group holding both kept BOTH rows in
    // the semi-join arm (tie equality matched two source rows) and made
    // the k=1 cluster winner nondeterministic. The mapping is now
    // injective: exactly one row survives, the null id (asc
    // nulls-first, the window's order).
    val s = Seq((Option.empty[String], "same text here"),
      (Some(""), "same  TEXT here"), (Some("z"), "same TEXT  here"))
      .toDF("doc_id", "text")
    val sOut = Dedup.exactByFingerprint(s, "doc_id", "text").collect()
    assert(sOut.length == 1 && sOut.head.isNullAt(0))
    val n = Seq((Option.empty[Long], "same text here"),
      (Some(Long.MinValue), "same  TEXT here"), (Some(0L), "same TEXT  here"))
      .toDF("doc_id", "text")
    val nOut = Dedup.exactByFingerprint(n, "doc_id", "text").collect()
    assert(nOut.length == 1 && nOut.head.isNullAt(0))
    // winners outside the collision cases are unchanged: ordinary long
    // ids still keep the lowest id per group through the new encoding
    val p = Seq((Some(9L), "same text here"), (Some(-3L), "same  TEXT here"),
      (Some(4L), "other text entirely")).toDF("doc_id", "text")
    val pIds = Dedup.exactByFingerprint(p, "doc_id", "text")
      .collect().map(_.getLong(0)).toSet
    assert(pIds == Set(-3L, 4L))
  }

  test("crossContamination best-match rides the heap exec (no window)") {
    val docs = spark.read.parquet(s"$sf001/documents.parquet")
    val cross = Dedup.crossContamination(
      docs.filter(col("doc_id") % 2 === 0),
      docs.filter(col("doc_id") % 2 === 1), "doc_id", "text")
    cross.collect()
    val plan = cross.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(plan.contains("TopKPerGroup"), "best-match lost the heap exec")
    assert(!plan.contains("Window"),
      "best-match still sorts candidate lists through a window")
  }

  test("cluster argmax accepts decimal ids (exact tie mapping)") {
    // ADVICE r12: keepBestPerCluster/bestPerCluster required
    // integral-or-string ids after the heap routing, breaking callers
    // with decimal/timestamp ids that the window form accepted. The
    // tieExpr mapping restores them with exact unscaled ranking.
    val d = Seq(
      (BigDecimal("1.10"), "the quick brown fox jumps over the lazy dog", 0.2),
      (BigDecimal("1.05"), "the quick brown fox jumps over the lazy dot", 0.9),
      (BigDecimal("3.00"), "a completely unrelated document", 0.5))
      .toDF("doc_id", "text", "score")
      .select(col("doc_id").cast("decimal(10,2)").as("doc_id"),
        col("text"), col("score"))
    val pairs = Seq((BigDecimal("1.10"), BigDecimal("1.05")))
      .toDF("id_a", "id_b")
      .select(col("id_a").cast("decimal(10,2)").as("id_a"),
        col("id_b").cast("decimal(10,2)").as("id_b"))
    val kept = Dedup.keepBestPerCluster(d, "doc_id", pairs, "score")
      .collect().map(_.getDecimal(0).toPlainString).toSet
    assert(kept == Set("1.05", "3.00")) // 1.05 wins its cluster on score
    val best = Dedup.bestPerCluster(d, "doc_id", pairs, "score")
      .collect().map(_.getDecimal(0).toPlainString).toSet
    assert(best == Set("1.05"))
  }

  test("leakageSafeSplit puts every near-dup cluster in one split") {
    val d = spark.read.parquet(s"$sf001/documents.parquet")
    val pairs = Dedup.portableNearDups(d, "doc_id", "text",
      numHashes = 64, bands = 16, shingleSize = 3, threshold = 0.8)
    assert(pairs.count() > 0)
    val split = graft.operators.Sampling.leakageSafeSplit(
      d, "doc_id", pairs, trainFraction = 0.8)
    // both endpoints of every verified pair share a split label
    val crossSplit = pairs
      .join(split.select(col("doc_id").as("id_a"), col("split").as("sa")),
        Seq("id_a"))
      .join(split.select(col("doc_id").as("id_b"), col("split").as("sb")),
        Seq("id_b"))
      .filter(col("sa") =!= col("sb"))
    assert(crossSplit.count() == 0)
    // and the split is a partition of the corpus with both sides present
    assert(split.count() == d.count())
    assert(split.select("split").distinct().count() == 2)
  }

  test("keepClusterRepresentatives keeps one doc per component") {
    val pairs = Seq((1L, 2L), (2L, 4L)).toDF("id_a", "id_b")
    val out = Dedup.keepClusterRepresentatives(docs, "doc_id", pairs)
    val ids = out.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids == Set(1L, 3L, 5L)) // 2 and 4 fold into component 1
  }

  test("keepBestPerCluster keeps the score argmax, unpaired docs untouched") {
    val scored = docs.withColumn("score",
      when(col("doc_id") === 2L, 9.0).otherwise(col("doc_id").cast("double")))
    val pairs = Seq((1L, 2L), (2L, 4L)).toDF("id_a", "id_b")
    val ids = Dedup.keepBestPerCluster(scored, "doc_id", pairs, "score")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids == Set(2L, 3L, 5L)) // doc 2 wins its cluster on score
    // tie case: equal scores fall back to lowest id
    val tied = docs.withColumn("score", lit(1.0))
    val tiedIds = Dedup.keepBestPerCluster(tied, "doc_id", pairs, "score")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(tiedIds == Set(1L, 3L, 5L))
  }

  test("keepBestPerCluster never deletes a whole cluster on null scores") {
    // Regression for the TopK swap: the heap exec drops null-order
    // rows, so an all-null cluster produced NO winner and every copy
    // was deleted. argmaxOrder maps null → type minimum instead: the
    // all-null cluster keeps its lowest id (desc-NULLS-LAST parity).
    val pairs = Seq((1L, 2L), (2L, 4L)).toDF("id_a", "id_b")
    val nullScored = docs.withColumn("score",
      lit(null).cast("double"))
    val ids = Dedup.keepBestPerCluster(nullScored, "doc_id", pairs, "score")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids == Set(1L, 3L, 5L)) // cluster {1,2,4} keeps lowest id 1
    val best = Dedup.bestPerCluster(nullScored, "doc_id", pairs, "score")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(best == Set(1L))
    // mixed null/non-null: the scored member wins over the null ones
    val mixed = docs.withColumn("score",
      when(col("doc_id") === 4L, 2.0).otherwise(lit(null).cast("double")))
    val mixedBest = Dedup.bestPerCluster(mixed, "doc_id", pairs, "score")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(mixedBest == Set(4L))
    // NaN ranks ABOVE every finite score (Spark's double ordering)
    val withNan = docs.withColumn("score",
      when(col("doc_id") === 2L, lit(Double.NaN)).otherwise(lit(1.0)))
    val nanBest = Dedup.bestPerCluster(withNan, "doc_id", pairs, "score")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(nanBest == Set(2L))
  }

  test("cluster argmax ranks long-backed decimal scores exactly") {
    // Regression: a double coercion collapses decimals past 2^53 into
    // ties and crowns the lower-scored doc (ties break by lowest id).
    // p <= 18 decimals rank on their unscaled long value instead.
    val pairs = Seq((1L, 2L)).toDF("id_a", "id_b")
    val scored = Seq(
      (1L, BigDecimal("100000000000000001")), // 1e17 + 1: same double...
      (2L, BigDecimal("100000000000000002")), // ...as this, but smaller
      (3L, BigDecimal("5")))
      .toDF("doc_id", "score")
      .select(col("doc_id"), col("score").cast("decimal(18,0)").as("score"))
    val best = Dedup.bestPerCluster(scored, "doc_id", pairs, "score")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(best == Set(2L)) // exact compare: 2 wins; double would pick 1
  }

  test("incremental dedup fails fast on a stale bucket-index format") {
    // The portable chains moved __bucket from md5-hex string to 60-bit
    // long; a persisted string index joined against long batch buckets
    // would cast to NULL and silently match nothing. The operator must
    // reject the mismatch with the rebuild remediation instead.
    val newDocs = Seq((100L, "aa bb cc dd ee")).toDF("doc_id", "text")
    val oldDocs = Seq((1L, "aa bb cc dd ee")).toDF("doc_id", "text")
    val staleIndex = Seq((1L, 0, "00ff00ff00ff00ff00ff00ff00ff00ff"))
      .toDF("doc_id", "__band", "__bucket")
    val err = intercept[IllegalArgumentException] {
      Dedup.incrementalOphNearDups(newDocs, oldDocs, staleIndex,
        "doc_id", "text", numSlots = 8, bands = 2, shingleSize = 1)
        .collect()
    }
    assert(err.getMessage.contains("__bucket type mismatch"))
    // matching formats still work end to end
    val freshIndex = Dedup.ophPortableBuckets(oldDocs, "doc_id", "text",
      numSlots = 8, bands = 2, shingleSize = 1)
    val pairs = Dedup.incrementalOphNearDups(newDocs, oldDocs, freshIndex,
      "doc_id", "text", numSlots = 8, bands = 2, shingleSize = 1)
      .collect()
    assert(pairs.nonEmpty) // identical text = a cross near-dup
  }

  test("duplicateNgramProfile counts shared token spans exactly") {
    // "a b c d" and "x y a b c" share exactly the 2-grams "a b","b c"
    val tiny = Seq(
      (1L, "a b c d"),        // grams: "a b","b c","c d" -> 2 of 3 dup
      (2L, "x y a b c"),      // grams: "x y","y a","a b","b c" -> 2 of 4
      (3L, "p q"),            // gram: "p q" -> 0 of 1 dup
      (4L, "z")               // shorter than n -> no grams, no row
    ).toDF("doc_id", "text")
    val prof = Dedup.duplicateNgramProfile(tiny, "doc_id", "text",
      n = 2, hashGrams = false)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(prof(1L) == ((3L, 2L, 0.666667)))
    assert(prof(2L) == ((4L, 2L, 0.5)))
    assert(prof(3L) == ((1L, 0L, 0.0)))
    assert(!prof.contains(4L))
  }

  test("profile counts EVERY occurrence of a within-doc repeated gram") {
    // doc 1 repeats "a b" twice; doc 2 shares it. Both occurrences in
    // doc 1 are duplicated spans — the distinct-pair fold carries the
    // within-doc count, so n_dup must be 2, not 1.
    val tiny = Seq(
      (1L, "a b a b"),  // grams: "a b","b a","a b" -> n_grams 3, dup 2
      (2L, "a b z")     // grams: "a b","b z"       -> n_grams 2, dup 1
    ).toDF("doc_id", "text")
    val prof = Dedup.duplicateNgramProfile(tiny, "doc_id", "text",
      n = 2, hashGrams = false)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(prof(1L) == ((3L, 2L, 0.666667)))
    assert(prof(2L) == ((2L, 1L, 0.5)))
  }

  test("profile plan tokenizes + explodes the corpus exactly once") {
    // Both consumers of the gram stream (per-gram doc frequency and
    // the count join-back) hang off ONE distinct-pair aggregate whose
    // exchange is reused — a second Generate would mean the corpus is
    // being re-scanned and re-exploded per branch.
    val d = spark.read.parquet(s"$sf001/documents.parquet")
    val prof = Dedup.duplicateNgramProfile(d, "doc_id", "text",
      n = 3, hashGrams = true)
    prof.collect()
    val plan = prof.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    // substring count, not a line-anchored pattern: tree-prefix glyphs
    // (':  +-') defeat anchored regexes and silently undercount
    val generates = "Generate explode".r.findAllMatchIn(plan).length
    assert(generates == 1,
      s"expected ONE explode pass over the corpus, found $generates:\n" +
        plan.take(4000))
    assert(plan.contains("ReusedExchange"),
      "the doc-frequency branch is not reusing the (gram, doc) " +
        "pair exchange:\n" + plan.take(4000))
  }

  test("hashed-gram profile is value-identical to the raw-gram profile") {
    val d = spark.read.parquet(s"$sf001/documents.parquet")
    val raw = Dedup.duplicateNgramProfile(d, "doc_id", "text",
      n = 3, hashGrams = false)
    val hashed = Dedup.duplicateNgramProfile(d, "doc_id", "text",
      n = 3, hashGrams = true)
    assert(raw.exceptAll(hashed).count() == 0)
    assert(hashed.exceptAll(raw).count() == 0)
    // and the signal is non-trivial on the fixture corpus
    assert(raw.filter(col("n_dup") > 0).count() > 0)
  }

  test("dropOverDuplicatedDocs drops both sides of a duplicated span") {
    val tiny = Seq(
      (1L, "a b c d"),
      (2L, "x y a b c"),
      (3L, "p q r s t")
    ).toDF("doc_id", "text")
    val kept = Dedup.dropOverDuplicatedDocs(tiny, "doc_id", "text",
      n = 2, maxDupFrac = 0.4, hashGrams = false)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // docs 1 (2/3 dup) and 2 (2/4 dup) exceed 0.4; doc 3 is clean;
    // too-short docs (no grams) are never dropped by the gate
    assert(kept == Set(3L))
  }

  test("exact dedup on testdata documents is lossless (no dups present)") {
    val d = spark.read.parquet(s"$sf001/documents.parquet")
    assert(Dedup.exact(d, Seq("text")).count() == d.count())
  }

  test("crossContamination = cross-parity slice of the full chain, best match per eval doc") {
    val docs = spark.read.parquet(s"$sf001/documents.parquet")
    val cross = Dedup.crossContamination(
        docs.filter(col("doc_id") % 2 === 0),
        docs.filter(col("doc_id") % 2 === 1), "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // reference: whole-corpus portable chain (per-doc signatures make the
    // subset chains identical), cross-parity pairs only, argmax per eval
    val ref = Dedup.portableNearDups(docs, "doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .filter { case (a, b, _) => a % 2 != b % 2 }
      .map { case (a, b, j) => if (a % 2 == 1) (a, b, j) else (b, a, j) }
      .groupBy(_._1).map { case (_, ms) => ms.minBy(m => (-m._3, m._2)) }
      .toSet
    assert(cross == ref)
    assert(cross.nonEmpty) // planted near-dups do cross the split
  }

  test("crossContamination finds nothing between disjoint corpora") {
    val a = Seq((0L, "alpha beta gamma delta epsilon zeta"))
      .toDF("doc_id", "text")
    val b = Seq((1L, "one two three four five six")).toDF("doc_id", "text")
    assert(Dedup.crossContamination(a, b, "doc_id", "text").isEmpty)
  }

  test("dupRateByGroup: duplicate groups are corpus-wide, counts per source") {
    // 'mirror' text appears in BOTH sources: every copy counts as dup
    val d = Seq(
      (1L, "a", "mirror"), (2L, "a", "mirror"), (3L, "a", "unique a"),
      (4L, "b", "mirror"), (5L, "b", "only in b"), (6L, "b", "also only b")
    ).toDF("doc_id", "source", "text")
    val out = Dedup.dupRateByGroup(d, "source", "text")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3),
          r.getAs[Double]("dup_rate")))).toMap
    // source a: 3 docs, 2 in the mirror group → rate 2/3 floor-ppm
    assert(out("a") === ((3L, 2L, 1L, 0.666666)))
    // source b: its single mirror copy is a dup because the GROUP has
    // 3 members corpus-wide, even though b holds only one of them
    assert(out("b") === ((3L, 1L, 1L, 0.333333)))
  }

  test("dupRateByGroup: null text buckets, never drops rows or sources") {
    // ADVICE r14: md5(null) is null, and the null-rejecting equi-join
    // on __h dropped those rows — a source whose docs ALL had null text
    // vanished from the report, and a mixed-null source's dup_rate
    // denominator shrank below its doc count. Null text now buckets
    // under the "" fingerprint (unreachable as a real 32-hex md5): the
    // rows count in n_docs and form one corpus-wide duplicate group.
    val d = Seq(
      (1L, "allnull", Option.empty[String]),
      (2L, "allnull", Option.empty[String]),
      (3L, "mixed", Some("real text")),
      (4L, "mixed", Option.empty[String]),
      (5L, "clean", Some("other text"))
    ).toDF("doc_id", "source", "text")
    val out = Dedup.dupRateByGroup(d, "source", "text")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3),
          r.getAs[Double]("dup_rate")))).toMap
    // the all-null source EXISTS, with both docs in one dup group
    assert(out("allnull") === ((2L, 2L, 1L, 1.0)))
    // mixed: denominator is the full doc count (2), and its null-text
    // doc is a dup of the corpus-wide null bucket (3 members)
    assert(out("mixed") === ((2L, 1L, 1L, 0.5)))
    assert(out("clean") === ((1L, 0L, 0L, 0.0)))
  }

  test("dupRateByGroup on a dup-free source reports zero everywhere") {
    val d = Seq((1L, "a", "x"), (2L, "a", "y")).toDF("doc_id", "source", "text")
    val r = Dedup.dupRateByGroup(d, "source", "text").collect().head
    assert((r.getLong(1), r.getLong(2), r.getLong(3),
      r.getAs[Double]("dup_rate")) === ((2L, 0L, 0L, 0.0)))
  }

  test("kFold: group-coherent, deterministic across layouts, all folds " +
      "populated, null keys visible") {
    val d = spark.read.parquet(s"$sf001/documents.parquet")
      .withColumn("grp", col("doc_id") % 97) // multi-member groups
    val folded = graft.operators.Sampling.kFold(d, "grp", 5)
    // every member of a group gets the SAME fold
    assert(folded.select("grp", "fold").distinct().count() ===
      folded.select("grp").distinct().count())
    val folds = folded.select("fold").distinct()
      .collect().map(_.getInt(0)).sorted
    assert(folds.toSeq === Seq(0, 1, 2, 3, 4), "all folds populated")
    // layout-independent: a different partitioning assigns identically
    val re = graft.operators.Sampling.kFold(d.repartition(7), "grp", 5)
      .select("doc_id", "fold").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    folded.select("doc_id", "fold").collect()
      .foreach(r => assert(re(r.getLong(0)) === r.getInt(1)))
    // null key -> null fold, row kept
    import spark.implicits._
    val withNull = Seq((Some(1L), "a"), (None, "b")).toDF("grp", "x")
    val nf = graft.operators.Sampling.kFold(withNull, "grp", 3).collect()
    assert(nf.length === 2)
    assert(nf.exists(r => !r.isNullAt(0) && !r.isNullAt(2)))
    assert(nf.exists(r => r.isNullAt(0) && r.isNullAt(2)))
    intercept[IllegalArgumentException] {
      graft.operators.Sampling.kFold(d, "grp", 1)
    }
  }

  test("thresholdSweep: hand-checked curve, per-threshold parity with " +
      "standalone runs, zero-pair thresholds kept") {
    // shingleSize=1 word sets; bands = numHashes (r=1) so any shared
    // minhash value collides — recall 1 for overlapping docs here.
    // jaccard(1,2)=1.0 exact dup; jaccard(1,3)=jaccard(2,3)=7/9≈0.778
    val d = Seq(
      (1L, "a b c d e f g h"), (2L, "a b c d e f g h"),
      (3L, "a b c d e f g x"), (4L, "z y w"))
      .toDF("doc_id", "text")
    val sweep = Dedup.thresholdSweep(d, "doc_id", "text",
        thresholds = Seq(0.9, 0.5, 1.0, 0.5), // dup + unsorted input
        numHashes = 16, bands = 16, shingleSize = 1)
      .collect().map(r =>
        (r.getDouble(0), r.getLong(1), r.getLong(2)))
    assert(sweep.toSeq === Seq(
      (0.5, 3L, 3L),   // (1,2) (1,3) (2,3) over docs {1,2,3}
      (0.9, 1L, 2L),   // only the exact dup
      (1.0, 1L, 2L)))  // jaccard 1.0 >= 1.0
    // per-threshold parity with a standalone chain run at that verify
    // threshold — the sweep must be exactly "run it per threshold",
    // minus the repeated executions
    Seq(0.5, 0.9, 1.0).foreach { t =>
      val standalone = Dedup.portableNearDups(d, "doc_id", "text",
        numHashes = 16, bands = 16, shingleSize = 1, threshold = t)
      val row = sweep.find(_._1 == t).get
      assert(standalone.count() === row._2, s"pairs at $t")
    }
    // monotone: both counts non-increasing in threshold
    sweep.sliding(2).foreach { case Array(lo, hi) =>
      assert(lo._2 >= hi._2 && lo._3 >= hi._3)
    }
    // a threshold no pair reaches still gets its (0, 0) row
    val zero = Dedup.thresholdSweep(
      d.filter(col("doc_id") =!= 2L), "doc_id", "text",
      thresholds = Seq(0.5, 0.95),
      numHashes = 16, bands = 16, shingleSize = 1)
      .collect().map(r => (r.getDouble(0), r.getLong(1), r.getLong(2)))
    assert(zero.toSeq === Seq((0.5, 1L, 2L), (0.95, 0L, 0L)))
    intercept[IllegalArgumentException] {
      Dedup.thresholdSweep(d, "doc_id", "text", Seq.empty)
    }
  }

  test("crossSourceDupMatrix: shared texts per pair, within-source " +
      "diagonal, null buckets visible") {
    val docs = Seq(
      // T1: twice in s1 (diagonal), once in s2 (pair s1-s2)
      (1L, "T1", "s1"), (2L, "T1", "s1"), (3L, "T1", "s2"),
      // T2: shared by s2 and s3, single copy each — no diagonal
      (4L, "T2", "s2"), (5L, "T2", "s3"),
      // unique text: contributes nothing
      (6L, "solo", "s3"),
      // null text buckets as "" and pairs the null source with s1
      (7L, null.asInstanceOf[String], "s1"),
      (8L, null.asInstanceOf[String], null.asInstanceOf[String])
    ).toDF("doc_id", "text", "source")
    val got = Dedup.crossSourceDupMatrix(docs, "source", md5(col("text")))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      .toSet
    assert(got === Set(
      ("s1", "s1", 1L),       // T1 duplicated within s1
      ("s1", "s2", 1L),       // T1 shared
      ("s2", "s3", 1L),       // T2 shared
      ("<null>", "s1", 1L)))  // the null-text "" hash, across sources
    // layout-invariant
    val got2 = Dedup.crossSourceDupMatrix(docs.repartition(5),
        "source", md5(col("text")))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      .toSet
    assert(got2 === got)
  }

  test("null-twin parity (NullGroupParity helper): dupRateByGroup " +
      "reports a null group exactly like its named twin") {
    // round-19 rollout: the per-source dup report's group column is
    // nullable by contract (a doc with no source still counts). The
    // twin's texts are byte-identical to the named group's, so copy
    // counts combine across the twin pair symmetrically — both rows
    // must agree on every reported number.
    val base = Seq(
      (1L, "a", "dup text"), (2L, "a", "dup text"),   // in-group dup
      (3L, "a", "unique one"),
      (4L, "b", "other text")
    ).toDF("doc_id", "source", "text")
    NullGroupParity.assertParity(
      base, "source", "a",
      df => Dedup.dupRateByGroup(df, "source", "text"),
      sig = half => half.select("n_docs", "n_dup_docs", "n_dup_groups",
          "dup_rate")
        .collect().map(_.toSeq.mkString(",")).toSeq)
  }

  test("null-twin parity: crossSourceDupMatrix's <null> source row " +
      "carries the same cells as its named twin") {
    // round-19 convention rollout (VERDICT r18 #3). The helper's
    // assertParity can't apply directly — the operator REPRESENTS the
    // null group as the visible "<null>" string across TWO group
    // columns — so the twin fixture is built with withNullTwin and
    // the parity asserted by hand: every cell involving "<null>" must
    // mirror the corresponding "a" cell (same diagonal, same cross-
    // source counts), because the twin holds byte-identical texts.
    val base = Seq(
      (1L, "T1", "a"), (2L, "T1", "a"),    // T1 duplicated within a
      (3L, "T1", "b"),                     // ...and shared with b
      (4L, "T2", "a"), (5L, "T2", "b"),    // T2 shared a-b, no diagonal
      (6L, "solo", "b")
    ).toDF("doc_id", "text", "source")
    val twinned = NullGroupParity.withNullTwin(
      base, "source", "a", idCol = Some("doc_id"))
    val got = Dedup.crossSourceDupMatrix(twinned, "source", md5(col("text")))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
      .toMap
    // named twin's cells
    assert(got(("a", "a")) === 1L)          // T1 diagonal
    assert(got(("a", "b")) === 2L)          // T1 + T2 shared with b
    // the null group's cells must mirror them exactly
    assert(got(("<null>", "<null>")) === got(("a", "a")))
    assert(got(("<null>", "b")) === got(("a", "b")))
    // and the twin pair itself shares everything "a" holds (2 texts)
    assert(got(("<null>", "a")) === 2L)
  }

  test("entity-resolution composite: partition of the catalog, canonical " +
      "is a member, singletons survive") {
    val out = SparkEntry.queries("q192_entity_resolution")(spark,
      "/root/testdata/sf0.001")
    val rows = out.collect().map(r => (r.getLong(0), r.getLong(1)))
    val parts = spark.read.parquet("/root/testdata/sf0.001/part.parquet")
    val nParts = parts.count()
    // entities PARTITION the catalog: membership sums to |parts|,
    // entity ids are distinct part keys (the canonical member exists)
    assert(rows.map(_._2).sum === nParts)
    assert(rows.map(_._1).distinct.length === rows.length)
    val keys = parts.collect().map(_.getLong(0)).toSet
    assert(rows.forall(r => keys.contains(r._1)))
    // singletons are their own entity (n_members 1 rows exist iff some
    // part matched nothing — with 200 parts over a small name vocab,
    // both cluster sizes should appear)
    assert(rows.exists(_._2 > 1), "no clusters found — fixture changed?")
  }

  test("duplicationSpectrum: hand histogram, partition of the corpus, " +
      "layout-invariant") {
    val docs = Seq(
      (1L, "x"), (2L, "x"), (3L, "x"),          // one text, 3 copies
      (4L, "y"), (5L, "y"),                      // 2 copies
      (6L, "z"), (7L, "w"),                      // two singletons
      (8L, null.asInstanceOf[String])            // null: its own "" group
    ).toDF("doc_id", "text")
    val got = Dedup.duplicationSpectrum(docs, md5(col("text")))
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(got === Map(
      1L -> ((3L, 3L, 0L)),   // z, w, and the null group
      2L -> ((1L, 2L, 1L)),
      3L -> ((1L, 3L, 2L))))
    // Σ n_docs over the spectrum is the corpus size — always
    assert(got.values.map(_._2).sum === 8L)
    val again = Dedup.duplicationSpectrum(docs.repartition(5),
        md5(col("text")))
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(again === got)
  }

  test("crossSourceDupMatrix invariants on real data under the " +
      "vocabulary fingerprint") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val fp = Dedup.vocabFingerprint(col("text"))
    val rows = Dedup.crossSourceDupMatrix(docs, "source", fp)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(rows.nonEmpty, "sf0.001 has vocabulary-level dup groups")
    // upper-triangular: every pair ordered, no duplicates
    assert(rows.forall { case (a, b, n) => a <= b && n >= 1 })
    assert(rows.map(p => (p._1, p._2)).distinct.length === rows.length)
    // the diagonal total equals the independently-counted number of
    // (fingerprint, source) cells with >= 2 copies
    val expectedDiag = docs
      .groupBy(fp.as("h"), col("source"))
      .agg(count(lit(1)).as("c"))
      .filter(col("c") >= 2)
      .count()
    val gotDiag = rows.filter(r => r._1 == r._2).map(_._3).sum
    assert(gotDiag === expectedDiag)
  }
}
