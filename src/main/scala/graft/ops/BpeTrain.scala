package graft.ops

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Distributed BPE merge-pair learning (Sennrich et al., ACL 2016) — the
  * tokenizer-training step of an LLM data pipeline, in the shape real
  * distributed BPE trainers use: the CORPUS is touched exactly once (one
  * explode + word-count aggregate); the merge loop then operates on the
  * word-count table only, whose size is the corpus VOCABULARY (millions of
  * rows at 100 TB, never the corpus). Each iteration is one distributed
  * pair-count aggregate — the driver receives a single argmax row — and one
  * vocabulary-local merge projection, checkpointed per round so lineage
  * never compounds (the [[GraphAnn]] superstep pattern).
  *
  * Semantics pinned to the published algorithm:
  *  - words = lowercase whitespace tokens + a terminal `</w>` symbol, so
  *    word-final merges are distinct from word-internal ones;
  *  - pair statistics count OVERLAPPING adjacencies ("a a a" contributes
  *    (a,a) twice), merge application is greedy LEFT-TO-RIGHT
  *    NON-OVERLAPPING ("a a a" → "aa a") — both exactly as in the
  *    reference implementation;
  *  - ties break (count desc, left asc, right asc), making the whole fit
  *    deterministic and engine-independent.
  *
  * The DuckDB oracle is a GENERATED but literal-free re-derivation: one
  * materialized CTE stage per merge recomputes the pair counts, takes the
  * same argmax, and applies the merge via a bracket-encoded
  * non-overlapping string replace (each symbol wrapped in … so
  * replacements can never straddle or share boundary characters) — the
  * oracle learns the merges itself rather than being handed them.
  */
object BpeTrain {

  val DefaultMerges = 20
  val EndOfWord = "</w>"

  /** Word counts — the only corpus-scale job in BPE training. */
  def wordCounts(docs: DataFrame): DataFrame =
    docs.select(explode(Dedup.tokens(col("text"))).as("word"))
      .filter(col("word") =!= "")
      .groupBy("word").agg(count(lit(1)).as("n"))

  /** Greedy left-to-right non-overlapping merge of adjacent (a, b) into
    * ab — a fold over the symbol array: merge when the accumulated tail is
    * `a` and the next symbol is `b`, else append.
    */
  private[ops] def mergePair(l: Column, a: String, b: String): Column =
    aggregate(l, array().cast("array<string>"),
      (acc, x) => when(
        size(acc) > 0 && element_at(acc, -1) === lit(a) && x === lit(b),
        concat(slice(acc, lit(1), size(acc) - 1), array(lit(a + b))))
        .otherwise(concat(acc, array(x))))

  /** Learn `nMerges` merge pairs from any `(doc_id, text)` frame. Returns
    * the merge table (rank, left_sym, right_sym, pair_n) — the artifact a
    * tokenizer ships.
    *
    * Two regimes, gated on the VOCABULARY size (the
    * [[Dedup.nearDupClusters]] union-find convention — the corpus-scale
    * work, the word-count aggregate, is distributed in both): a vocabulary
    * within `driverVocabGate` (default 100k rows — a few MB of
    * `(word, n)`) runs the merge loop driver-local, where 20 merges cost
    * zero job rounds instead of 40; a larger vocabulary (a real crawl has
    * ~10M+ distinct words) runs the loop distributed — per round one
    * pair-count argmax job (driver receives a single row) and a fold
    * projection, checkpointed so lineage never compounds. Both paths are
    * the SAME algorithm with the same tie-break; parity is spec-pinned by
    * forcing the distributed regime.
    */
  def learnMergesOf(spark: SparkSession, docs: DataFrame,
      nMerges: Int = DefaultMerges,
      driverVocabGate: Int = 100000): DataFrame =
    learnMergesFrom(spark, wordCounts(docs), nMerges, driverVocabGate,
      CharSymsOf, CharInitCol)

  /** Char-level initial symbolization: one symbol per char + `</w>`. */
  private val CharSymsOf: String => Vector[String] =
    w => w.map(_.toString).toVector :+ EndOfWord
  private val CharInitCol: Column =
    concat(array_remove(split(col("word"), ""), ""), array(lit(EndOfWord)))

  /** Merge-selection objective, the ONE thing that separates the trainers
    * sharing this machinery: BPE takes the most frequent pair; WordPiece
    * the highest likelihood ratio cnt/(c(a)·c(b)) — one correctly-rounded
    * division of exact integer counts, bit-identical cross-engine. Ties
    * break (left, right) in UTF-8 order under both. */
  private[ops] sealed trait MergeObjective
  private[ops] case object CountObjective extends MergeObjective
  private[ops] case object RatioObjective extends MergeObjective

  /** The regime-gated merge loop over any word-count table, generic over
    * the initial symbolization (char-level above, byte-level hex in
    * [[learnByteMergesOf]]) AND the selection objective. */
  private def learnMergesFrom(spark: SparkSession, wc: DataFrame,
      nMerges: Int, driverVocabGate: Int,
      symsOf: String => Vector[String], initCol: Column,
      objective: MergeObjective = CountObjective): DataFrame = {
    import spark.implicits._
    val merges =
      if (wc.limit(driverVocabGate + 1).count() <= driverVocabGate)
        learnDriverLocal(
          wc.collect().map(r => (r.getString(0), r.getLong(1))), nMerges, symsOf,
          objective)
      else learnDistributed(spark, wc, nMerges, initCol, objective)
    merges.toDF("rank", "left_sym", "right_sym", "pair_n").orderBy("rank")
  }

  /** The small-vocabulary regime: identical algorithm, plain collections. */
  private def learnDriverLocal(words: Array[(String, Long)],
      nMerges: Int, symsOf: String => Vector[String],
      objective: MergeObjective = CountObjective): Seq[(Int, String, String, Long)] = {
    var vocab: Map[Vector[String], Long] = words.groupBy {
      case (w, _) => symsOf(w)
    }.map { case (k, vs) => k -> vs.map(_._2).sum }
    val out = ArrayBuffer.empty[(Int, String, String, Long)]
    var rank = 1
    var exhausted = false
    while (rank <= nMerges && !exhausted) {
      val pairs = scala.collection.mutable.Map.empty[(String, String), Long]
      for ((syms, n) <- vocab; i <- 0 until syms.length - 1) {
        val key = (syms(i), syms(i + 1))
        pairs(key) = pairs.getOrElse(key, 0L) + n
      }
      if (pairs.isEmpty) exhausted = true
      else {
        // tie-break collation = UTF-8 byte order (the distributed
        // regime's UTF8String sort and the DuckDB oracle's VARCHAR min),
        // NOT Java's UTF-16 compareTo — see [[UnigramLm.utf8Lt]]
        val ((a, b), cnt) = objective match {
          case CountObjective =>
            pairs.minBy { case ((x, y), c) => (-c, x, y) }(
              Ordering.Tuple3(Ordering.Long, UnigramLm.utf8Ordering,
                UnigramLm.utf8Ordering))
          case RatioObjective =>
            val symCounts = scala.collection.mutable.Map.empty[String, Long]
            for ((ss, n) <- vocab; s <- ss)
              symCounts(s) = symCounts.getOrElse(s, 0L) + n
            pairs.minBy { case ((x, y), c) =>
              (-(c.toDouble / (symCounts(x) * symCounts(y))), x, y)
            }(Ordering.Tuple3(Ordering.Double.TotalOrdering,
              UnigramLm.utf8Ordering, UnigramLm.utf8Ordering))
        }
        out += ((rank, a, b, cnt))
        vocab = vocab.groupBy { case (syms, _) =>
          syms.foldLeft(Vector.empty[String]) { (acc, x) =>
            if (acc.nonEmpty && acc.last == a && x == b) acc.init :+ (a + b)
            else acc :+ x
          }
        }.map { case (k, vs) => k -> vs.values.sum }
        rank += 1
      }
    }
    out.toSeq
  }

  /** The large-vocabulary regime: the merge loop as distributed jobs —
    * per round one pair aggregate + argmax job ([[CountObjective]]), plus
    * one symbol-count aggregate when the [[RatioObjective]] scores. */
  private[ops] def learnDistributed(spark: SparkSession, wc: DataFrame,
      nMerges: Int,
      initCol: Column = CharInitCol,
      objective: MergeObjective = CountObjective): Seq[(Int, String, String, Long)] = {
    var vocab = wc
      .select(initCol.as("l"), col("n"))
      .localCheckpoint()
    val merges = ArrayBuffer.empty[(Int, String, String, Long)]
    var exhausted = false
    for (rank <- 1 to nMerges if !exhausted) {
      val zipped = arrays_zip(
        slice(col("l"), lit(1), size(col("l")) - 1),
        slice(col("l"), lit(2), size(col("l")) - 1))
      val pairCounts = vocab
        .select(explode(zipped).as("pr"), col("n"))
        .select(col("pr.0").as("a"), col("pr.1").as("b"), col("n"))
        .groupBy("a", "b").agg(sum("n").as("cnt"))
      val best = (objective match {
        case CountObjective =>
          pairCounts.orderBy(col("cnt").desc, col("a"), col("b"))
        case RatioObjective =>
          val syms = vocab.select(explode(col("l")).as("sym"), col("n"))
            .groupBy("sym").agg(sum("n").as("c"))
          pairCounts
            .join(syms.select(col("sym").as("a"), col("c").as("ca")), Seq("a"))
            .join(syms.select(col("sym").as("b"), col("c").as("cb")), Seq("b"))
            .withColumn("score", col("cnt") / (col("ca") * col("cb")))
            .select(col("a"), col("b"), col("cnt"), col("score"))
            .orderBy(col("score").desc, col("a"), col("b"))
      }).limit(1).collect()
      if (best.isEmpty) exhausted = true
      else {
        val (a, b, cnt) = (best(0).getString(0), best(0).getString(1), best(0).getLong(2))
        merges += ((rank, a, b, cnt))
        vocab = vocab
          .select(mergePair(col("l"), a, b).as("l"), col("n"))
          .localCheckpoint()
      }
    }
    merges.toSeq
  }

  /** [[learnMergesOf]] on the documents table. */
  def bpeMerges(spark: SparkSession, dir: String): DataFrame =
    learnMergesOf(spark, Tables(spark, dir, "documents"))

  /** WordPiece merge training (Schuster & Nakajima '12; the BERT
    * tokenizer's objective) — completes the trainer set next to char-BPE,
    * byte-BPE, and the unigram LM: same merge MECHANISM as BPE, different
    * SELECTION — the pair maximizing the likelihood ratio
    * `count(ab) / (count(a)·count(b))` (mutual-information-like: prefer
    * pairs that co-occur more than their parts predict) instead of the
    * raw pair count. Same two-regime gate as [[learnMergesOf]].
    *
    * Cross-engine exactness of the score: counts are exact integers, the
    * product count(a)·count(b) stays well under 2⁵³ (symbol counts are
    * bounded by corpus tokens — document the bound at larger corpora the
    * way [[PageRank]] documents its unit scale), so the score is ONE
    * correctly-rounded IEEE division of exact integers — bit-identical on
    * both engines (the distinctiveTerms raw-ratio argument); ties break
    * (left, right) in UTF-8 order. The released merge table carries the
    * integer pair count; the ratio only ranks.
    */
  def wordpieceMerges(spark: SparkSession, dir: String,
      nMerges: Int = DefaultMerges, driverVocabGate: Int = 100000): DataFrame =
    learnMergesFrom(spark, wordCounts(Tables(spark, dir, "documents")),
      nMerges, driverVocabGate, CharSymsOf, CharInitCol, RatioObjective)

  /** Literal-free generated oracle for [[wordpieceMerges]]: the BPE chain
    * with a per-round symbol-count CTE and the likelihood-ratio argmax —
    * the score is the identical one-division double, so the selected
    * chain re-derives exactly. */
  val wordpieceMergesSql: String = {
    val v0 =
      """v0 AS MATERIALIZED (
        |  SELECT word, list_append(string_split(word, ''), '</w>') AS l, n FROM (
        |    SELECT tok AS word, count(*) AS n FROM (
        |      SELECT unnest(regexp_split_to_array(lower(text), '\s+')) AS tok
        |      FROM documents) WHERE tok <> '' GROUP BY tok)
        |)""".stripMargin
    val stages = (0 until DefaultMerges).map { k =>
      s"""s$k AS MATERIALIZED (
         |  SELECT sym, sum(n) AS c FROM (SELECT unnest(l) AS sym, n FROM v$k)
         |  GROUP BY sym
         |), b$k AS MATERIALIZED (
         |  SELECT a, b, cnt FROM (
         |    SELECT p.a, p.b, p.cnt, p.cnt / (ca.c * cb.c) AS score
         |    FROM (
         |      SELECT pr[1] AS a, pr[2] AS b, sum(n) AS cnt FROM (
         |        SELECT unnest(list_zip(l, l[2:])) AS pr, n FROM v$k) WHERE pr[2] IS NOT NULL
         |      GROUP BY pr[1], pr[2]) p
         |    JOIN s$k ca ON ca.sym = p.a
         |    JOIN s$k cb ON cb.sym = p.b)
         |  ORDER BY score DESC, a, b LIMIT 1
         |), v${k + 1} AS MATERIALIZED (
         |  SELECT word, string_split(trim(
         |      replace(chr(30) || array_to_string(l, chr(31) || chr(30)) || chr(31),
         |              chr(30) || a || chr(31) || chr(30) || b || chr(31),
         |              chr(30) || a || b || chr(31)),
         |      chr(30) || chr(31)), chr(31) || chr(30)) AS l, n
         |  FROM v$k, b$k
         |)""".stripMargin
    }
    val union = (0 until DefaultMerges).map { k =>
      s"SELECT ${k + 1} AS rank, a AS left_sym, b AS right_sym, cnt::BIGINT AS pair_n FROM b$k"
    }.mkString("\nUNION ALL\n")
    s"WITH ${(v0 +: stages).mkString(",\n")}\nSELECT * FROM (\n$union\n) ORDER BY rank"
  }

  /** The shared CTE chain: v0 = char-split word counts, then per merge k a
    * pair-count argmax (b_k) and the merged vocabulary (v_{k+1}). The
    * final v_N is the learned SEGMENTATION of every distinct word — which
    * is why `word` is carried through the chain: [[bpeSegmentStatsSql]]
    * joins the corpus back onto it.
    */
  private def chainCtes(n: Int): String = chainCtesFrom(n,
    """v0 AS MATERIALIZED (
      |  SELECT word, list_append(string_split(word, ''), '</w>') AS l, n FROM (
      |    SELECT tok AS word, count(*) AS n FROM (
      |      SELECT unnest(regexp_split_to_array(lower(text), '\s+')) AS tok
      |      FROM documents) WHERE tok <> '' GROUP BY tok)
      |)""".stripMargin)

  /** The merge-stage CTEs are symbolization-agnostic — parameterize the
    * v0 seed so the byte-level chain reuses them verbatim. */
  private def chainCtesFrom(n: Int, v0: String): String = {
    val stages = (0 until n).map { k =>
      s"""b$k AS MATERIALIZED (
         |  SELECT pr[1] AS a, pr[2] AS b, sum(n) AS cnt FROM (
         |    SELECT unnest(list_zip(l, l[2:])) AS pr, n FROM v$k) WHERE pr[2] IS NOT NULL
         |  GROUP BY pr[1], pr[2]
         |  ORDER BY cnt DESC, a, b LIMIT 1
         |), v${k + 1} AS MATERIALIZED (
         |  SELECT word, string_split(trim(
         |      replace(chr(30) || array_to_string(l, chr(31) || chr(30)) || chr(31),
         |              chr(30) || a || chr(31) || chr(30) || b || chr(31),
         |              chr(30) || a || b || chr(31)),
         |      chr(30) || chr(31)), chr(31) || chr(30)) AS l, n
         |  FROM v$k, b$k
         |)""".stripMargin
    }
    (v0 +: stages).mkString(",\n")
  }

  /** Literal-free generated oracle: stage k recomputes pair counts from
    * the stage-k vocabulary, takes the identical (count desc, left, right)
    * argmax, and applies the merge with the bracket-encoded replace.
    * `chr(30)`/`chr(31)` are the open/close wrappers; replacing
    * `⟨a⟩⟨b⟩` → `⟨ab⟩` can never match inside a symbol or consume a
    * neighbour's bracket, so DuckDB's left-to-right `replace` is exactly
    * the fold in `mergePair`. CTEs are MATERIALIZED — inlined CTEs would
    * expand the v-chain exponentially.
    */
  val bpeMergesSql: String = {
    val union = (0 until DefaultMerges).map { k =>
      s"SELECT ${k + 1} AS rank, a AS left_sym, b AS right_sym, cnt::BIGINT AS pair_n FROM b$k"
    }.mkString("\nUNION ALL\n")
    s"WITH ${chainCtes(DefaultMerges)}\nSELECT * FROM (\n$union\n) ORDER BY rank"
  }

  /** Segment every distinct word with the learned merges, applied in rank
    * order — the trained tokenizer. Segmentation is computed once per
    * DISTINCT word and joined back to the corpus (the 100-TB serving
    * shape: the vocabulary table is tiny next to the corpus, so the
    * per-word fold never runs per occurrence and the join broadcasts).
    */
  def segmentationOf(spark: SparkSession, docs: DataFrame,
      nMerges: Int = DefaultMerges): DataFrame = {
    val merges = learnMergesOf(spark, docs, nMerges).collect()
      .map(r => (r.getString(1), r.getString(2)))
    val init = concat(array_remove(split(col("word"), ""), ""),
      array(lit(EndOfWord)))
    val syms = merges.foldLeft(init) { case (c, (a, b)) => mergePair(c, a, b) }
    wordCounts(docs).select(col("word"), syms.as("syms"))
  }

  /** Count any `(doc_id, text)` frame against a trained segmentation
    * table (`word, syms`) — the serving core of [[bpeSegmentStats]].
    * Words the vocabulary has never seen would drop out of the inner
    * join; the production convention is
    * char-fallback, so unseen words count `len(word)+1` subwords (the
    * untrained segmentation) via the left join + coalesce.
    *
    * The segmentation table is vocabulary-sized: it usually broadcasts,
    * but a 100-TB crawl's distinct-word table can exceed broadcast limits
    * — the hint applies only within `broadcastGate` rows, past which the
    * join falls back to a plain shuffle join (the
    * [[UnigramLm.segmentStatsOf]] discipline).
    */
  def segmentStatsAgainst(seg: DataFrame, docs: DataFrame,
      broadcastGate: Int = 1000000): DataFrame = {
    val slim = seg.select(col("word"),
      size(col("syms")).cast("long").as("n_sub"))
    val vocabSide =
      if (slim.limit(broadcastGate + 1).count() <= broadcastGate)
        broadcast(slim)
      else slim
    docs.select(col("doc_id"), explode(Dedup.tokens(col("text"))).as("word"))
      .filter(col("word") =!= "")
      .join(vocabSide, Seq("word"), "left")
      .withColumn("n_sub",
        coalesce(col("n_sub"), length(col("word")).cast("long") + 1))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"), sum("n_sub").as("n_bpe_tokens"))
      .withColumn("fertility",
        round(col("n_bpe_tokens").cast("double") / col("n_words"), 4))
      .orderBy("doc_id")
  }

  /** Per-document subword counts under the trained tokenizer — real-BPE
    * token counting (the whitespace and regex counters in
    * [[TextAnalysis]] approximate this; training budgets are set in BPE
    * tokens, not words). `fertility` is subwords per word.
    */
  def bpeSegmentStats(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir, "documents")
    segmentStatsAgainst(segmentationOf(spark, docs), docs)
  }

  /** Oracle: the same literal-free chain; v_N IS the segmentation, so the
    * corpus joins back on `word` and counts subwords. */
  val bpeSegmentStatsSql: String =
    s"""WITH ${chainCtes(DefaultMerges)},
       |seg AS (
       |  SELECT word, len(l)::BIGINT AS n_sub FROM v$DefaultMerges
       |), toks AS (
       |  SELECT doc_id, tok AS word FROM (
       |    SELECT doc_id, unnest(regexp_split_to_array(lower(text), '\\s+')) AS tok
       |    FROM documents) WHERE tok <> ''
       |)
       |SELECT doc_id, count(*) AS n_words, sum(n_sub)::BIGINT AS n_bpe_tokens,
       |  round(sum(n_sub)::DOUBLE / count(*), 4) AS fertility
       |FROM toks JOIN seg USING (word)
       |GROUP BY doc_id
       |ORDER BY doc_id""".stripMargin

  // ------------------------------------------------------------------
  // Byte-level BPE (GPT-2 class; Radford et al. '19) — the production
  // pretokenizer variant next to the char-level trainer above:
  //  - pretokens come from [[TextAnalysis.BpePattern]] (the contraction/
  //    letter-run/digit-run/punct-run classes, leading-space convention),
  //    CASE-PRESERVING — byte-level BPE never lowercases;
  //  - the initial symbols are the pretoken's UTF-8 BYTES (no `</w>`, no
  //    out-of-vocabulary state: all 256 bytes are base symbols, so any
  //    string — any language, any emoji, any binary-ish junk — segments
  //    without a fallback, and concatenating a segmentation's symbols
  //    reproduces the input losslessly, multi-byte UTF-8 included);
  //  - merges run the identical (count desc, left, right) loop.
  // Cross-engine representation: a symbol is the UPPERCASE HEX of its
  // byte run ("68", "65", merged "6865"…) — Spark `hex(encode(word,
  // 'UTF-8'))` and DuckDB `hex(word::BLOB)` emit the identical text, hex
  // is pure ASCII so the tie-break collations trivially agree, and
  // `unhex` inverts it exactly (the lossless-reassembly spec's claim).
  // ------------------------------------------------------------------

  /** Pretoken counts under the GPT-2-class pattern — the byte-level
    * trainer's only corpus-scale job (one explode + count, the
    * [[wordCounts]] shape; the merge loop then sees only the vocabulary). */
  def bytePretokenCounts(docs: DataFrame): DataFrame =
    docs.select(explode(regexp_extract_all(col("text"),
        lit(TextAnalysis.BpePattern), lit(0))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("n"))

  private val ByteInitCol: Column =
    regexp_extract_all(hex(encode(col("word"), "UTF-8")), lit(".."), lit(0))

  private val ByteSymsOf: String => Vector[String] =
    w => w.getBytes("UTF-8").map(b => f"${b & 0xff}%02X").toVector

  /** Learn byte-level merges from any `(doc_id, text)` frame — the same
    * regime-gated loop as [[learnMergesOf]] over hex byte symbols. */
  def learnByteMergesOf(spark: SparkSession, docs: DataFrame,
      nMerges: Int = DefaultMerges,
      driverVocabGate: Int = 100000): DataFrame =
    learnMergesFrom(spark, bytePretokenCounts(docs), nMerges, driverVocabGate,
      ByteSymsOf, ByteInitCol)

  /** Registered query: the byte-level merge table on the documents table. */
  def bpeByteMerges(spark: SparkSession, dir: String): DataFrame =
    learnByteMergesOf(spark, Tables(spark, dir, "documents"))

  /** Segment every distinct pretoken with the learned byte merges in rank
    * order (the [[segmentationOf]] serving shape: fold once per DISTINCT
    * pretoken, join back to the corpus). Lossless by construction:
    * `unhex(concat(syms))` is the pretoken's exact byte sequence — the
    * spec reassembles multi-byte UTF-8 through it. */
  def byteSegmentationOf(spark: SparkSession, docs: DataFrame,
      nMerges: Int = DefaultMerges): DataFrame = {
    val merges = learnByteMergesOf(spark, docs, nMerges).collect()
      .map(r => (r.getString(1), r.getString(2)))
    val syms = merges.foldLeft(ByteInitCol) { case (c, (a, b)) => mergePair(c, a, b) }
    bytePretokenCounts(docs).select(col("word"), syms.as("syms"))
  }

  /** Per-document subword counts under the trained BYTE-LEVEL tokenizer —
    * [[bpeSegmentStats]]'s production twin: GPT-2-class pretokens
    * (case-preserving), byte-hex segmentation, and NO fallback leg at all
    * (byte-level vocabularies are total, so the join is inner by
    * construction — every pretoken the corpus produces has a
    * segmentation). `fertility` = subwords per pretoken.
    *
    * Scale shape: segmentation folds once per DISTINCT pretoken
    * ([[byteSegmentationOf]]); the corpus re-joins on the pretoken string
    * (vocabulary-sized side, broadcast under the same gate discipline as
    * [[segmentStatsAgainst]]); one doc_id-keyed aggregate.
    */
  def bpeByteSegmentStats(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir, "documents")
    val slim = byteSegmentationOf(spark, docs).select(col("word"),
      size(col("syms")).cast("long").as("n_sub"))
    val vocabSide =
      if (slim.limit(1000001).count() <= 1000000) broadcast(slim) else slim
    docs.select(col("doc_id"), explode(regexp_extract_all(col("text"),
        lit(TextAnalysis.BpePattern), lit(0))).as("word"))
      .join(vocabSide, Seq("word"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_pretokens"), sum("n_sub").as("n_bpe_tokens"))
      .withColumn("fertility",
        round(col("n_bpe_tokens").cast("double") / col("n_pretokens"), 4))
      .orderBy("doc_id")
  }

  /** Oracle: the byte chain's final stage IS the segmentation; the corpus
    * joins back on the pretoken (inner — the vocabulary is total). */
  val bpeByteSegmentStatsSql: String =
    s"""WITH ${chainCtesFrom(DefaultMerges, ByteV0Sql)},
       |seg AS (
       |  SELECT word, len(l)::BIGINT AS n_sub FROM v$DefaultMerges
       |), toks AS (
       |  SELECT doc_id, unnest(regexp_extract_all(text,
       |    '''(?:[sdmt]|ll|ve|re)| ?\\p{L}+| ?\\p{N}+| ?[^\\s\\p{L}\\p{N}]+|\\s+')) AS word
       |  FROM documents
       |)
       |SELECT doc_id, count(*) AS n_pretokens, sum(n_sub)::BIGINT AS n_bpe_tokens,
       |  round(sum(n_sub)::DOUBLE / count(*), 4) AS fertility
       |FROM toks JOIN seg USING (word)
       |GROUP BY doc_id
       |ORDER BY doc_id""".stripMargin

  /** The byte chain's v0 seed CTE, shared by the merge-table and
    * segment-stats oracles (a def: the stats oracle val initializes
    * before this point in declaration order). */
  private def ByteV0Sql: String =
    """v0 AS MATERIALIZED (
      |  SELECT word, regexp_extract_all(hex(word::BLOB), '..') AS l, n FROM (
      |    SELECT tok AS word, count(*) AS n FROM (
      |      SELECT unnest(regexp_extract_all(text,
      |        '''(?:[sdmt]|ll|ve|re)| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+')) AS tok
      |      FROM documents) GROUP BY tok)
      |)""".stripMargin

  /** Literal-free generated oracle for [[bpeByteMerges]]: the SAME merge
    * stages as the char-level chain (`chainCtesFrom`) seeded with the
    * hex-byte symbolization — `hex(word::BLOB)` emits the identical
    * uppercase hex text as Spark's `hex(encode(word, 'UTF-8'))`, split
    * into byte pairs by the same `..` regex. */
  val bpeByteMergesSql: String = {
    val union = (0 until DefaultMerges).map { k =>
      s"SELECT ${k + 1} AS rank, a AS left_sym, b AS right_sym, cnt::BIGINT AS pair_n FROM b$k"
    }.mkString("\nUNION ALL\n")
    s"WITH ${chainCtesFrom(DefaultMerges, ByteV0Sql)}\nSELECT * FROM (\n$union\n) ORDER BY rank"
  }
}
