package graft

import graft.operators.Bpe
import org.apache.spark.CheckpointDirs.{filesUnder, withCheckpointDir}
import org.apache.spark.sql.functions._

class BpeSpec extends SparkTestBase {
  import spark.implicits._

  private def merges(df: org.apache.spark.sql.DataFrame)
    : Seq[(Int, String, String, Long)] =
    df.collect().map(r =>
      (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq

  test("learnMerges golden: hand-checkable corpus") {
    // counts: "low low low low low" + "lower lower" + "newest"
    val docs = Seq(
      "low low low",
      "low low lower",
      "lower newest").toDF("text")
    // adjacent pairs weighted by word count: low×5 → (l,o)=7, (o,w)=7
    // (lower has both too), lower×2 → (w,e)=3 [+newest], ...
    // tie (l,o) vs (o,w) at 7 broken lexicographically → (l,o) first.
    val got = merges(Bpe.learnMerges(docs, "text", 3))
    assert(got.head === ((1, "l", "o", 7L)))
    // after merge 1: low → [lo,w], lower → [lo,w,e,r]; (lo,w)=7 wins
    assert(got(1) === ((2, "lo", "w", 7L)))
    // after merge 2: low → [low], lower → [low,e,r], newest untouched;
    // pairs: (low,e)=2, (e,r)=2, (n,e)=1,(e,w)=1,(w,e)=1,(e,s)=1,(s,t)=1
    // tie at 2 → lexicographic: ("e","r") < ("low","e")
    assert(got(2) === ((3, "e", "r", 2L)))
  }

  test("distributed arm equals driver arm (same tie-breaks)") {
    val docs = spark.read.parquet(s"$sf001/documents.parquet").limit(120)
    val local = merges(Bpe.learnMerges(docs, "text", 5,
      localVocabThreshold = Long.MaxValue))
    val dist = merges(Bpe.learnMerges(docs, "text", 5,
      localVocabThreshold = 0L))
    assert(local === dist)
    assert(local.length === 5)
  }

  test("reliable-checkpoint arm matches localCheckpoint arm") {
    val docs = Seq("aa ab aa ab abc", "aa aa bc").toDF("text")
    val dir = java.nio.file.Files
      .createTempDirectory("bpe_ckpt").toString
    val a = merges(Bpe.learnMerges(docs, "text", 3,
      localVocabThreshold = 0L))
    val b = withCheckpointDir(dir)(merges(Bpe.learnMerges(docs, "text", 3,
      localVocabThreshold = 0L)))
    assert(a === b)
    assert(filesUnder(dir).nonEmpty) // the loop's pins were reliable
  }

  test("encode applies merges in rank order, greedy within runs") {
    val m = Seq(("a", "a"), ("aa", "b"))
    val got = Seq("aaa aaaa aab baaab")
      .toDF("text")
      .select(Bpe.encode(col("text"), m).as("t"))
      .as[Seq[String]].head()
    // aaa → [aa, a]; aaaa → [aa, aa]; aab → [aab]; baaab → [b, aa, a, b]
    // (the (a,a) pass leaves b·aa·a·b, which has no adjacent (aa, b) —
    // canonical rank-order encode, same as Sennrich's reference code)
    assert(got === Seq("aa", "a", "aa", "aa", "aab", "b", "aa", "a", "b"))
  }

  test("merges never cross word boundaries") {
    val m = Seq(("a", "b"))
    val got = Seq("a b ab").toDF("text")
      .select(Bpe.encode(col("text"), m).as("t"))
      .as[Seq[String]].head()
    // "a b" stays two tokens; "ab" merges
    assert(got === Seq("a", "b", "ab"))
  }

  test("tokenCount and symbolCount agree with encode") {
    val m = Seq(("h", "a"), ("ha", "s"), ("has", "h"))
    val df = spark.read.parquet(s"$sf001/documents.parquet").limit(50)
      .select(col("doc_id"),
        Bpe.encode(col("text"), m).as("toks"),
        Bpe.tokenCount(col("text"), m).as("n"),
        Bpe.symbolCount(col("text"), m, "hash").as("nh"))
    df.collect().foreach { r =>
      val toks = r.getSeq[String](1)
      assert(r.getLong(2) === toks.length.toLong, s"doc ${r.getLong(0)}")
      assert(r.getLong(3) === toks.count(_ == "hash").toLong)
    }
    // the merge chain actually fires on this corpus
    assert(df.agg(sum("nh")).head().getLong(0) > 0)
  }

  test("structural pipe is stripped before encode, excluded from learn") {
    val m = Seq(("a", "b"))
    val got = Seq("a|b ab").toDF("text")
      .select(Bpe.encode(col("text"), m).as("t"))
      .as[Seq[String]].head()
    // '|' stripped → "ab ab" → both merge
    assert(got === Seq("ab", "ab"))
    val learned = merges(Bpe.learnMerges(
      Seq("x|y x|y zq").toDF("text"), "text", 1))
    // words containing '|' are excluded → only "zq" remains
    assert(learned === Seq((1, "z", "q", 1L)))
  }

  test("encodeViaVocab token stream equals the codegen replace chain") {
    val m = Seq(("h", "a"), ("ha", "s"), ("has", "h"),
      ("j", "o"), ("jo", "i"), ("joi", "n"), ("a", "a"))
    val docs = spark.read.parquet(s"$sf001/documents.parquet").limit(80)
    val chain = docs.select(col("doc_id"),
        Bpe.encode(col("text"), m).as("t"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    val vocabArm = Bpe.encodeViaVocab(docs, "doc_id", "text", m)
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(vocabArm.keySet === chain.keySet)
    chain.foreach { case (id, toks) =>
      assert(vocabArm(id) === toks, s"doc $id")
    }
  }

  test("multi-line text: \\n and \\t are word barriers, never tokens") {
    // Regression: symbolsOf split only on '[| ]+', so raw \n/\t left in
    // the rendered string by applyMerges ('(\S)' wraps non-space only)
    // surfaced as spurious tokens, breaking encode == encodeViaVocab.
    val m = Seq(("l", "o"), ("lo", "w"))
    val docs = Seq(
      (1L, "low\nlower\tlow"),
      (2L, "low \n\t lower"),
      (3L, "\nlow\t")).toDF("doc_id", "text")
    val chain = docs.select(col("doc_id"),
        Bpe.encode(col("text"), m).as("t"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    // no token contains whitespace, and none IS whitespace
    chain.values.flatten.foreach { t =>
      assert(t.nonEmpty && !t.exists(_.isWhitespace), s"bad token '$t'")
    }
    assert(chain(1L) === Seq("low", "low", "e", "r", "low"))
    assert(chain(3L) === Seq("low"))
    // and the vocab-join arm agrees (the documented equivalence)
    val vocabArm = Bpe.encodeViaVocab(docs, "doc_id", "text", m)
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    chain.foreach { case (id, toks) =>
      assert(vocabArm(id) === toks, s"doc $id")
    }
    // newline must also be a cross-word merge barrier: "w l" never
    // merges across "low\nlower" even if such a merge exists
    val m2 = Seq(("w", "l"))
    val toks2 = Seq((1L, "low\nlower")).toDF("doc_id", "text")
      .select(Bpe.encode(col("text"), m2).as("t"))
      .head().getSeq[String](0)
    assert(toks2 === Seq("l", "o", "w", "l", "o", "w", "e", "r"))
  }

  test("encodeWord: greedy priority loop matches known encodes") {
    val ranks = Seq(("a", "a"), ("aa", "b")).zipWithIndex.toMap
    assert(Bpe.encodeWord("aaaa", ranks).toSeq === Seq("aa", "aa"))
    assert(Bpe.encodeWord("aaa", ranks).toSeq === Seq("aa", "a"))
    assert(Bpe.encodeWord("aab", ranks).toSeq === Seq("aab"))
    assert(Bpe.encodeWord("baaab", ranks).toSeq ===
      Seq("b", "aa", "a", "b"))
    assert(Bpe.encodeWord("x", ranks).toSeq === Seq("x"))
  }

  test("bpe_apply is SQL-callable and equals the Column arm") {
    val m = Seq(("h", "a"), ("ha", "s"), ("has", "h"))
    val sql = spark.sql(
      "SELECT bpe_apply('Hash hashes', 'h a;ha s;has h') AS s")
      .head().getString(0)
    val colArm = Seq("Hash hashes").toDF("t")
      .select(Bpe.applyMerges(col("t"), m).as("s")).head().getString(0)
    assert(sql === colArm)
    // note the DOUBLE space: the original inter-word space is preserved
    // — it IS the cross-word merge barrier
    assert(sql === "|hash  |hash |e |s ")
  }

  test("whole encode chain stays in whole-stage codegen (no UDF)") {
    val m = Seq(("t", "h"), ("th", "e"))
    val df = spark.read.parquet(s"$sf001/documents.parquet")
      .select(Bpe.tokenCount(col("text"), m).as("n"))
    val plan = df.queryExecution.executedPlan.toString
    // whole-stage codegen renders as the "*(n)" stage prefix
    assert(plan.contains("*(1)"), plan)
    assert(!plan.contains("BatchEvalPython"), plan)
  }
}
