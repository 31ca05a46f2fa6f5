package graft.operators

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, IntegerType, StringType,
  StructField, StructType}

import graft.functions.{TextFunctions => TF}

/** Byte-pair-encoding merge learning and encoding — the tokenizer-
  * training leg of an LLM data pipeline (Sennrich, Haddow & Birch 2016,
  * "Neural Machine Translation of Rare Words with Subword Units";
  * GPT-2-style char-level variant without end-of-word markers).
  *
  * Scale design (the reason this shape survives 100 TB):
  *   - The corpus is folded ONCE into a distinct-word count table
  *     (`wordCounts` — the only corpus-sized shuffle). Every learning
  *     iteration then runs over the vocabulary, whose size is bounded by
  *     distinct words, not corpus tokens — the classic BPE trick.
  *   - Word symbol state is a single rendered string per word: symbol
  *     `s` → unit `"|s "` (pipe before, space after). Applying a merge
  *     (l, r) → lr is then ONE codegen'd `replace(s, "|l |r ", "|lr ")`
  *     — string replace's left-to-right non-overlapping scan IS the
  *     greedy BPE merge order, and no per-row imperative code exists
  *     anywhere in the loop.
  *   - Pair counting is map-side (slice + zip_with over the symbol
  *     array), so each iteration costs one vocab-sized partial-agg
  *     shuffle of (left, right, Σn) plus a 1-row collect of the winner.
  *   - Lineage is truncated per iteration by a [[Pin]] (see its
  *     contract — the Graph.pagerank pattern).
  *   - A driver-local arm (`localVocabThreshold`) runs the identical
  *     algorithm over a collected vocab when it is small — the
  *     Dedup.connectedComponents hybrid gate. Both arms are
  *     tie-broken identically (max count, then lexicographic (l, r))
  *     and are asserted equal in BpeSpec.
  *
  * Words containing the structural `'|'` glyph are excluded from
  * learning (and stripped before encoding): `'|'` delimits symbol
  * units. Original inter-word whitespace is the cross-word barrier —
  * rendered units are separated by exactly one space inside a word and
  * two or more across words, so a merge pattern `"|l |r "` can never
  * span a word boundary.
  *
  * Reference behavior reproduced: the reference pipeline counts
  * whitespace tokens only (`dags/utils.py:214` token statistics); BPE
  * learning is the standard strengthening of that surface for a
  * tokenizer-training corpus pass.
  */
object Bpe {

  /** Render a word as symbol units: "abc" → "|a |b |c ". */
  def renderWord(word: Column): Column =
    regexp_replace(word, "(.)", "|$1 ")

  /** Symbols of a rendered string (symbols never contain '|' or
    * whitespace). Splits on ALL whitespace, not just ' ': the render in
    * [[applyMerges]] wraps only non-space chars (`(\S)`), so a source
    * text's raw `\n`/`\t` survive into the rendered string and must be
    * barrier chars here too — otherwise they'd surface as spurious
    * tokens and break the encode == encodeViaVocab equivalence. */
  def symbolsOf(s: Column): Column =
    filter(split(s, "[|\\s]+"), x => x =!= "")

  /** Distinct-word counts — the single corpus-sized shuffle. */
  def wordCounts(docs: DataFrame, textCol: String): DataFrame =
    docs.select(explode(TF.tokens(col(textCol))).as("word"))
      .filter(!col("word").contains("|"))
      .groupBy("word").agg(count(lit(1)).as("n"))

  /** Learn `numMerges` BPE merges from the corpus. Returns
    * (rank int starting at 1, left, right, pair_count long), rank-ordered.
    *
    * Pair counts follow the standard adjacency convention: every
    * adjacent index pair counts, so a run "aaa" contributes (a,a) twice.
    */
  def learnMerges(
      docs: DataFrame,
      textCol: String,
      numMerges: Int,
      localVocabThreshold: Long = 2000000L): DataFrame = {
    val spark = docs.sparkSession
    val vocab0 = wordCounts(docs, textCol)
      .select(renderWord(col("word")).as("s"), col("n"))

    val vocabSize = vocab0.count()
    val merges =
      if (vocabSize <= localVocabThreshold)
        learnLocal(vocab0.collect().map(r =>
          (r.getString(0), r.getLong(1))), numMerges)
      else
        learnDistributed(vocab0, numMerges)

    val schema = StructType(Seq(
      StructField("rank", IntegerType, nullable = false),
      StructField("left", StringType, nullable = false),
      StructField("right", StringType, nullable = false),
      StructField("pair_count", LongType, nullable = false)))
    spark.createDataFrame(
      spark.sparkContext.parallelize(merges.zipWithIndex.map {
        case ((l, r, c), i) => Row(i + 1, l, r, c)
      }, numSlices = 1), schema)
  }

  /** Driver arm: identical algorithm over the collected vocab. */
  private def learnLocal(
      vocab: Array[(String, Long)],
      numMerges: Int): Seq[(String, String, Long)] = {
    // mutable symbol vectors, scanned with the same greedy left-to-right
    // non-overlapping merge the string-replace arm performs
    val words = vocab.map { case (s, n) =>
      (mutable.ArrayBuffer.from(
        s.split("[|\\s]+").iterator.filter(_.nonEmpty)), n)
    }
    val out = mutable.ArrayBuffer.empty[(String, String, Long)]
    var k = 0
    while (k < numMerges) {
      val counts = mutable.HashMap.empty[(String, String), Long]
      words.foreach { case (sym, n) =>
        var i = 0
        while (i < sym.length - 1) {
          val p = (sym(i), sym(i + 1))
          counts.update(p, counts.getOrElse(p, 0L) + n)
          i += 1
        }
      }
      if (counts.isEmpty) return out.toSeq
      val ((l, r), c) = counts.minBy { case ((l, r), c) => (-c, l, r) }
      out += ((l, r, c))
      words.foreach { case (sym, _) =>
        var i = 0
        while (i < sym.length - 1) {
          if (sym(i) == l && sym(i + 1) == r) {
            sym(i) = l + r
            sym.remove(i + 1)
          } // merged symbol is never re-examined: greedy non-overlap
          i += 1
        }
      }
      k += 1
    }
    out.toSeq
  }

  /** Distributed arm: vocab-sized pair-count shuffle + 1-row collect per
    * iteration; lineage truncated each round.
    *
    * Regime note: this arm is iterative-SYNCHRONOUS — one full vocab
    * shuffle and a driver barrier PER MERGE, so a production merge count
    * (~32k) means ~32k barriers. It is the right arm only when the
    * DISTINCT-WORD vocabulary itself exceeds driver memory (>
    * `localVocabThreshold`, i.e. multi-billion distinct words — unusual
    * even at 100 TB, since vocabulary grows sub-linearly in corpus
    * size). For every realistic corpus the local arm is preferred: the
    * corpus-sized work (wordCounts) is already distributed, and the
    * merge loop is vocabulary-bounded, measured flat at 10× corpus. */
  private def learnDistributed(
      vocab0: DataFrame,
      numMerges: Int): Seq[(String, String, Long)] = {
    var vocab = Pin(vocab0)
    val out = mutable.ArrayBuffer.empty[(String, String, Long)]
    var k = 0
    while (k < numMerges) {
      val sym = symbolsOf(col("s"))
      // map-side pair generation; vocab-sized shuffle of (l, r, Σn)
      val winners = vocab
        .select(col("n"), explode(zip_with(
          slice(sym, lit(1), size(sym) - 1),
          slice(sym, lit(2), size(sym) - 1),
          (a, b) => struct(a.as("l"), b.as("r")))).as("pr"))
        .groupBy(col("pr.l").as("l"), col("pr.r").as("r"))
        .agg(sum(col("n")).as("cnt"))
        .orderBy(col("cnt").desc, col("l"), col("r"))
        .limit(1).collect()
      if (winners.isEmpty) return out.toSeq
      val w = winners.head
      val (l, r, c) = (w.getString(0), w.getString(1), w.getLong(2))
      out += ((l, r, c))
      vocab = Pin(vocab.withColumn("s",
        replace(col("s"), lit(s"|$l |$r "), lit(s"|$l$r "))))
      k += 1
    }
    out.toSeq
  }

  /** Rendered BPE encoding of a whole text column under a fixed merge
    * list, applied in rank order (the canonical encode). One
    * regexp_replace renders every non-space char as a unit; original
    * whitespace (2+ spaces between units across words) is the word
    * barrier; each merge is one codegen'd `replace`. The entire encode
    * is a whole-stage-codegen expression chain — suitable for merge
    * lists up to the low hundreds; beyond that, batch the chain or
    * pre-encode the vocab and join (vocab-join encode).
    */
  def applyMerges(text: Column, merges: Seq[(String, String)]): Column = {
    val rendered = regexp_replace(
      translate(lower(text), "|", ""), "(\\S)", "|$1 ")
    merges.foldLeft(rendered) { case (c, (l, r)) =>
      replace(c, lit(s"|$l |$r "), lit(s"|$l$r "))
    }
  }

  /** [[applyMerges]] as a raw Catalyst expression tree — the SQL
    * registration path (`bpe_apply(text, 'l r;l2 r2')`); built from the
    * same Lower→translate→render→replace-chain nodes the Column arm
    * resolves to, so SQL and Column results are identical. */
  private[graft] def applyMergesExpr(
      text: org.apache.spark.sql.catalyst.expressions.Expression,
      merges: Seq[(String, String)])
      : org.apache.spark.sql.catalyst.expressions.Expression = {
    import org.apache.spark.sql.catalyst.expressions.{Literal, Lower,
      RegExpReplace, StringReplace, StringTranslate}
    val rendered = RegExpReplace(
      StringTranslate(Lower(text), Literal("|"), Literal("")),
      Literal("(\\S)"), Literal("|$1 "))
    merges.foldLeft(
      rendered: org.apache.spark.sql.catalyst.expressions.Expression) {
      case (c, (l, r)) =>
        StringReplace(c, Literal(s"|$l |$r "), Literal(s"|$l$r "))
    }
  }

  /** Parse a `'l r;l2 r2'` rank-ordered merge-list literal. */
  private[graft] def parseMerges(s: String): Seq[(String, String)] =
    s.split(";").toSeq.filter(_.nonEmpty).map { m =>
      val i = m.indexOf(' ')
      require(i > 0 && i < m.length - 1, s"bad merge entry '$m'")
      (m.substring(0, i), m.substring(i + 1))
    }

  /** BPE tokens of `text` under `merges` (word-boundary-safe). */
  def encode(text: Column, merges: Seq[(String, String)]): Column =
    symbolsOf(applyMerges(text, merges))

  /** BPE token count: one '|' per unit — length difference, no split. */
  def tokenCount(text: Column, merges: Seq[(String, String)]): Column = {
    val s = applyMerges(text, merges)
    (length(s) - length(replace(s, lit("|"), lit("")))).cast("long")
  }

  /** Imperative single-word encode under a rank map — the per-word
    * greedy loop every production BPE tokenizer runs. Repeatedly merges
    * the PRESENT pair with the lowest rank (left-to-right,
    * non-overlapping); equivalent to rank-order application because a
    * merge never creates an adjacency of two pre-existing symbols, so
    * it can never introduce a lower-rank pair. */
  private[graft] def encodeWord(
      word: String, ranks: Map[(String, String), Int]): Array[String] = {
    // code-point split, matching the '(.)' regex of the render arm
    val sym = mutable.ArrayBuffer.empty[String]
    var ci = 0
    while (ci < word.length) {
      val cp = word.codePointAt(ci)
      sym += new String(Character.toChars(cp))
      ci += Character.charCount(cp)
    }
    var done = sym.length < 2
    while (!done) {
      var best = Int.MaxValue
      var bl = ""; var br = ""
      var i = 0
      while (i < sym.length - 1) {
        val r = ranks.getOrElse((sym(i), sym(i + 1)), Int.MaxValue)
        if (r < best) { best = r; bl = sym(i); br = sym(i + 1) }
        i += 1
      }
      if (best == Int.MaxValue) done = true
      else {
        var j = 0
        while (j < sym.length - 1) {
          if (sym(j) == bl && sym(j + 1) == br) {
            sym(j) = bl + br
            sym.remove(j + 1)
          }
          j += 1
        }
        done = sym.length < 2
      }
    }
    sym.toArray
  }

  /** Production-size encode: the DISTINCT words are encoded once with
    * the imperative loop (merge-rank map broadcast to executors), then
    * joined back positionally. Encode cost is ∝ vocabulary — the corpus
    * pays one word explode, one (word) join, and one order-restoring
    * rebuild — and the merge list can be full production size (50k+),
    * where the [[applyMerges]] codegen chain would blow past JVM method
    * limits. Returns (idCol, tokens array<string>), token stream equal
    * to [[encode]] (BpeSpec property). */
  def encodeViaVocab(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      merges: Seq[(String, String)]): DataFrame = {
    val spark = docs.sparkSession
    val ranks = merges.zipWithIndex.toMap
    val bc = spark.sparkContext.broadcast(ranks)

    val words = docs.select(col(idCol),
      posexplode(TF.tokens(translate(col(textCol), "|", "")))
        .as(Seq("pos", "word")))

    import spark.implicits._
    val vocabToks = words.select(col("word")).distinct()
      .as[String]
      .mapPartitions { it =>
        val r = bc.value // resolved once per partition
        it.map(w => (w, encodeWord(w, r)))
      }
      .toDF("word", "toks")

    words.join(vocabToks, "word")
      .groupBy(col(idCol))
      .agg(sort_array(collect_list(struct(col("pos"), col("toks"))))
        .as("ordered"))
      .select(col(idCol),
        flatten(transform(col("ordered"), _.getField("toks")))
          .as("tokens"))
  }

  /** Occurrences of a fully-merged symbol in the encoded text. */
  def symbolCount(
      text: Column,
      merges: Seq[(String, String)],
      symbol: String): Column = {
    val s = applyMerges(text, merges)
    val unit = s"|$symbol "
    ((length(s) - length(replace(s, lit(unit), lit("")))) /
      unit.length).cast("long")
  }
}
