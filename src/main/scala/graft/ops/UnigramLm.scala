package graft.ops

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Distributed unigram-LM tokenizer training (Kudo, ACL 2018 — the
  * SentencePiece unigram model), the sibling of [[BpeTrain]]: seed a piece
  * vocabulary from substring statistics, then run Viterbi-EM — each E-step
  * segments every DISTINCT word with the current model (hard-EM: the
  * 1-best segmentation stands in for the posterior), each M-step re-counts
  * pieces from those segmentations — and ship the surviving pieces with
  * their final probabilities. Like BPE training, the CORPUS is touched
  * exactly once (the word-count aggregate); everything after runs on the
  * vocabulary table (millions of rows at 100 TB, never the corpus).
  *
  * Engine-exact determinism — the part a naive port gets wrong — rests on
  * three choices:
  *  - piece scores are INTEGER-QUANTIZED negative log-probs,
  *    `cost(p) = round(ln(C/c_p)·10⁶)`, so Viterbi compares integers, not
  *    floats; `quantCost`'s margin guard asserts every quantization sits ≥ 10⁻⁷
  *    from a rounding boundary (libm vs JVM `ln` disagree by ≤ ~4·10⁻⁹ at
  *    this scale, 25× inside the margin), turning the one cross-engine
  *    float into a CHECKED invariant instead of a hope;
  *  - Viterbi ties break on the total order (cost, piece-count,
  *    separator-joined path string) — prefix-composable (a better prefix
  *    under this order is better after any common extension), so the DP,
  *    the distributed Bellman-Ford rounds, and the oracle's brute
  *    enumeration all pick the identical segmentation;
  *  - M-step counts are integer sums of word counts; single-character
  *    pieces are floored at count 1 (the Kudo "characters are never
  *    pruned" coverage rule), multi-character pieces with zero Viterbi
  *    count are pruned.
  *
  * Two regimes gated on vocabulary size (the [[BpeTrain.learnMergesOf]]
  * convention): within `driverVocabGate` the EM loop runs driver-local;
  * above it, distributed — the E-step is `maxWordLen` Bellman-Ford rounds
  * (extend every (word, pos) state by the piece edges, keep the per-state
  * min) of vocabulary-sized joins, checkpointed per round so lineage never
  * compounds, and the M-step is one explode + aggregate. Both paths are
  * the same algorithm; parity is spec-pinned by forcing the distributed
  * regime.
  *
  * The DuckDB oracle is a GENERATED but literal-free re-derivation
  * ([[BpeTrain.bpeMergesSql]]'s convention): one materialized CTE block
  * per EM iteration re-quantizes costs, enumerates every segmentation of
  * every word with a recursive CTE (finite: pos strictly increases), takes
  * the identical struct-min, and re-counts — the oracle LEARNS the model
  * itself rather than being handed literals.
  */
object UnigramLm {

  /** Longest candidate piece. Bounds the seed explosion at |word|·4 and
    * the Viterbi branching at 4. */
  val MaxPieceLen = 4

  /** Multi-character seed pieces kept (by frequency desc, piece asc);
    * single characters are always kept. */
  val SeedMultiTop = 200

  /** Hard-EM rounds. */
  val EmIters = 3

  /** Fixed-point scale for quantized costs. */
  val CostScale: Double = 1e6

  /** Path separator for the tie-break string (never appears in tokens). */
  val Sep = "\u001f"

  /** Integer-quantized cost with the cross-engine margin guard: the JVM
    * and libm `ln` agree to well under 10⁻⁷ after scaling, so a
    * quantization at least 10⁻⁷ from the x.5 rounding boundary is
    * provably identical in both engines; one closer FAILS LOUDLY here
    * instead of silently flipping an argmin only in one engine.
    */
  private[ops] def quantCost(c: Long, total: Long): Long = {
    val x = math.log(total.toDouble / c.toDouble) * CostScale
    val frac = x - math.floor(x)
    require(math.abs(frac - 0.5) > 1e-7,
      f"unigram cost quantization within 1e-7 of a rounding boundary (c=$c, C=$total, x=$x%.9f): " +
        "cross-engine determinism not guaranteed; adjust CostScale")
    math.round(x)
  }

  /** UTF-8 binary string order — the collation BOTH twins of this
    * algorithm compare under: Spark's `min(struct(...))` orders
    * UTF8String by unsigned byte, and DuckDB's VARCHAR min is UTF-8
    * binary. Java's `String#compareTo` orders by UTF-16 CODE UNIT, which
    * disagrees on ties mixing U+E000–U+FFFF chars (1 UTF-16 unit, bytes
    * 0xEE–0xEF) with supplementary-plane chars (2 units starting 0xD800,
    * bytes 0xF0+): UTF-16 sorts the surrogate first, UTF-8 the BMP char.
    * Driver-regime tie-breaks must use THIS order or regime parity breaks
    * on exactly those corpora. */
  private[ops] def utf8Lt(a: String, b: String): Boolean = {
    val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val n = math.min(x.length, y.length)
    var i = 0
    while (i < n) {
      val c = (x(i) & 0xff) - (y(i) & 0xff)
      if (c != 0) return c < 0
      i += 1
    }
    x.length < y.length
  }

  /** [[utf8Lt]] as an `Ordering`, for driver-regime sorts that the
    * distributed regime performs on UTF8String columns. */
  private[ops] val utf8Ordering: Ordering[String] =
    (a: String, b: String) =>
      if (a == b) 0 else if (utf8Lt(a, b)) -1 else 1

  /** Viterbi segmentation of one word under integer piece costs: minimize
    * (total cost, piece count, Sep-joined path) — a total order, so the
    * result is unique. Every single character is in the model by
    * construction, so a segmentation always exists. */
  private[ops] def viterbi(word: String, cost: collection.Map[String, Long]): Seq[String] = {
    val L = word.length
    // dp(pos) = best (cost, k, path) covering word[0, pos)
    val dp = new Array[(Long, Int, String)](L + 1)
    dp(0) = (0L, 0, "")
    var e = 1
    while (e <= L) {
      var best: (Long, Int, String) = null
      var s = math.max(0, e - MaxPieceLen)
      while (s < e) {
        if (dp(s) != null) {
          cost.get(word.substring(s, e)) match {
            case Some(pc) =>
              val cand = (dp(s)._1 + pc, dp(s)._2 + 1,
                dp(s)._3 + Sep + word.substring(s, e))
              if (best == null ||
                  cand._1 < best._1 ||
                  (cand._1 == best._1 && (cand._2 < best._2 ||
                    (cand._2 == best._2 && utf8Lt(cand._3, best._3))))) best = cand
            case None =>
          }
        }
        s += 1
      }
      dp(e) = best
      e += 1
    }
    dp(L)._3.split(Sep).filter(_.nonEmpty).toSeq
  }

  /** Seed piece counts: every substring of length 1..[[MaxPieceLen]] of
    * every distinct word, OVERLAPPING occurrences weighted by word count;
    * all singles + the top [[SeedMultiTop]] multis. */
  private def seedDriverLocal(words: Array[(String, Long)]): Map[String, Long] = {
    val cnt = mutable.Map.empty[String, Long]
    for ((w, n) <- words; s <- 0 until w.length;
         l <- 1 to math.min(MaxPieceLen, w.length - s)) {
      val p = w.substring(s, s + l)
      cnt(p) = cnt.getOrElse(p, 0L) + n
    }
    val multis = cnt.iterator.filter(_._1.length >= 2).toSeq
      .sortBy { case (p, c) => (-c, p) }(
        Ordering.Tuple2(Ordering.Long, utf8Ordering))
      .take(SeedMultiTop).map(_._1).toSet
    cnt.iterator.filter { case (p, _) => p.length == 1 || multis(p) }.toMap
  }

  /** The small-vocabulary regime: identical algorithm, plain collections.
    * Returns the final (piece, count) model. */
  private[ops] def trainDriverLocal(words: Array[(String, Long)],
      emIters: Int): Map[String, Long] = {
    var counts = seedDriverLocal(words)
    for (_ <- 1 to emIters) {
      val total = counts.valuesIterator.sum
      val cost = counts.map { case (p, c) => p -> quantCost(c, total) }
      val fresh = mutable.Map.empty[String, Long]
      for ((w, n) <- words; p <- viterbi(w, cost))
        fresh(p) = fresh.getOrElse(p, 0L) + n
      counts = counts.keysIterator.flatMap { p =>
        val c = fresh.getOrElse(p, 0L)
        if (p.length == 1) Some(p -> math.max(c, 1L))
        else if (c > 0) Some(p -> c) else None
      }.toMap
    }
    counts
  }

  /** The large-vocabulary regime: the same EM as distributed jobs over the
    * word-count table. Per E-step, `maxWordLen` Bellman-Ford rounds: after
    * round r, dp(word, pos) holds the best path of ≤ r pieces reaching
    * pos, so after maxWordLen rounds it is the exact Viterbi DP (no path
    * has more pieces than characters). Each round is one vocabulary-sized
    * join + struct-min aggregate, checkpointed (the [[GraphAnn]] superstep
    * pattern). Returns the final (piece, count) model as a DataFrame.
    */
  private[ops] def trainDistributed(spark: SparkSession, wc: DataFrame,
      emIters: Int): DataFrame = {
    val words = wc.select(col("word"), col("n")).localCheckpoint()
    // empty vocabulary → empty model (max(length) aggregates to NULL; the
    // driver gate normally routes empty corpora away from this regime, but
    // a gate change must not turn that routing into an NPE here)
    val maxLenRow = words.agg(max(length(col("word")))).head()
    if (maxLenRow.isNullAt(0))
      return words.select(col("word").as("piece"), col("n").as("c")).limit(0)
    val maxLen = maxLenRow.getInt(0)
    // candidate edges (word, s, e, piece): every in-model substring slot
    val slots = words
      .select(col("word"), explode(sequence(lit(1), length(col("word")))).as("s"))
      .select(col("word"), col("s"),
        explode(sequence(lit(1), lit(MaxPieceLen))).as("l"))
      .filter(col("s") + col("l") - 1 <= length(col("word")))
      .select(col("word"), col("s"), (col("s") + col("l")).as("e"),
        expr("substring(word, s, l)").as("piece"))
      .localCheckpoint()
    val seed = slots.join(words.select(col("word"), col("n")), "word")
      .groupBy("piece").agg(sum(col("n")).as("c"))
    val multis = seed.filter(length(col("piece")) >= 2)
      .orderBy(col("c").desc, col("piece")).limit(SeedMultiTop)
    var counts = seed.filter(length(col("piece")) === 1)
      .unionAll(multis).localCheckpoint()
    for (_ <- 1 to emIters) {
      val total = counts.agg(sum(col("c"))).head().getLong(0)
      // quantize + enforce the margin guard distributively: one pass over
      // the piece table, zero rows may sit inside the boundary margin
      val costed = counts.withColumn("x",
          log(lit(total.toDouble) / col("c").cast("double")) * CostScale)
        .withColumn("cost", round(col("x")).cast("long"))
      val nearBoundary = costed
        .filter(abs(col("x") - floor(col("x")) - 0.5) <= 1e-7).count()
      require(nearBoundary == 0,
        s"unigram cost quantization: $nearBoundary piece(s) within 1e-7 of a rounding boundary")
      val edges = slots.join(costed.select(col("piece"), col("cost")), "piece")
        .select(col("word"), col("s"), col("e"), col("piece"), col("cost"))
      var dp = words.select(col("word"), lit(1).as("pos"),
        lit(0L).as("cost"), lit(0).as("k"), lit("").as("path"))
      for (_ <- 1 to maxLen) {
        // dp and edges share word-count lineage — alias both sides so the
        // equi-join resolves to the intended attributes
        val extended = dp.as("d").join(edges.as("g"),
            col("d.word") === col("g.word") && col("d.pos") === col("g.s"))
          .select(col("d.word").as("word"), col("g.e").as("pos"),
            (col("d.cost") + col("g.cost")).as("cost"),
            (col("d.k") + 1).as("k"),
            concat(col("d.path"), lit(Sep), col("g.piece")).as("path"))
        dp = dp.unionAll(extended)
          .groupBy("word", "pos")
          .agg(min(struct(col("cost"), col("k"), col("path"))).as("b"))
          .select(col("word"), col("pos"), col("b.cost").as("cost"),
            col("b.k").as("k"), col("b.path").as("path"))
          .localCheckpoint()
      }
      val best = dp.filter(col("pos") === length(col("word")) + 1)
      val fresh = best.join(words, "word")
        .select(explode(split(col("path"), Sep)).as("piece"), col("n"))
        .filter(col("piece") =!= "")
        .groupBy("piece").agg(sum(col("n")).as("c"))
      counts = counts.select(col("piece")).join(fresh, Seq("piece"), "left")
        .select(col("piece"),
          when(length(col("piece")) === 1, greatest(coalesce(col("c"), lit(0L)), lit(1L)))
            .otherwise(coalesce(col("c"), lit(0L))).as("c"))
        .filter(col("c") > 0)
        .localCheckpoint()
    }
    counts
  }

  /** Train on any `(doc_id, text)` frame; returns the shipped artifact:
    * (piece, n_piece, cost, prob) ordered by (n desc, piece). */
  def unigramVocabOf(spark: SparkSession, docs: DataFrame,
      emIters: Int = EmIters, driverVocabGate: Int = 100000): DataFrame = {
    import spark.implicits._
    val wc = BpeTrain.wordCounts(docs)
    val model: DataFrame =
      if (wc.limit(driverVocabGate + 1).count() <= driverVocabGate) {
        val m = trainDriverLocal(
          wc.collect().map(r => (r.getString(0), r.getLong(1))), emIters)
        m.toSeq.toDF("piece", "c")
      } else trainDistributed(spark, wc, emIters)
    val withTotal = model.crossJoin(
        broadcast(model.agg(sum(col("c")).as("total"))))
      .withColumn("x",
        log(col("total").cast("double") / col("c").cast("double")) * CostScale)
    // the shipped costs get the same boundary guard as the EM-internal ones
    val nearBoundary = withTotal
      .filter(abs(col("x") - floor(col("x")) - 0.5) <= 1e-7).count()
    require(nearBoundary == 0,
      s"unigram final cost quantization: $nearBoundary piece(s) within 1e-7 of a rounding boundary")
    withTotal.select(col("piece"), col("c").as("n_piece"),
        round(col("x")).cast("long").as("cost"),
        round(col("c").cast("double") / col("total").cast("double"), 6).as("prob"))
      .orderBy(col("n_piece").desc, col("piece"))
  }

  /** The registered trainer over the documents table. */
  def unigramLmVocab(spark: SparkSession, dir: String): DataFrame =
    unigramVocabOf(spark, Tables(spark, dir, "documents"))

  /** Per-document piece counts under the trained model — the serving
    * twin ([[BpeTrain.bpeSegmentStats]]'s convention): the Viterbi
    * segmentation is computed once per DISTINCT word and joined back;
    * `fertility` is pieces per word. Re-trains the model first, so
    * benching it would double-count the trainer.
    *
    * Two driver-materialization boundaries, both gated, neither ever the
    * raw vocabulary: the retrain step runs under the SAME
    * `driverVocabGate` regime switch as [[unigramVocabOf]] (at 100 TB the
    * distinct-word table is far beyond driver memory; only the MODEL —
    * all singles + ≤ [[SeedMultiTop]] multis, bounded by construction —
    * is ever collected, from either regime: it is what a tokenizer
    * SHIPS), and serving segmentation runs IN EXECUTORS — the bounded
    * piece-cost map broadcasts and Viterbi maps over the distinct-word
    * frame partition-locally (the [[BpeTrain.segmentationOf]] precedent:
    * segmentation stays on the cluster, once per DISTINCT word, never
    * per occurrence). The vocabulary-sized `(word, k)` join back to the
    * corpus broadcasts only within the same gate; past it the join falls
    * back to shuffle — a 100-TB distinct-word table exceeds broadcast
    * limits.
    */
  def segmentStatsOf(spark: SparkSession, docs: DataFrame,
      emIters: Int = EmIters, driverVocabGate: Int = 100000): DataFrame = {
    import spark.implicits._
    // feeds the regime gate, the retrain, and the serving segmentation —
    // compute the corpus-scale aggregate once
    val wc = BpeTrain.wordCounts(docs).localCheckpoint()
    val smallVocab = wc.limit(driverVocabGate + 1).count() <= driverVocabGate
    val model: Map[String, Long] =
      if (smallVocab)
        trainDriverLocal(
          wc.collect().map(r => (r.getString(0), r.getLong(1))), emIters)
      else
        trainDistributed(spark, wc, emIters).collect()
          .map(r => r.getString(0) -> r.getLong(1)).toMap
    val total = model.valuesIterator.sum
    val cost: Map[String, Long] =
      model.map { case (p, c) => p -> quantCost(c, total) }
    val bcCost = spark.sparkContext.broadcast(cost)
    val seg = wc.select(col("word")).as[String]
      .mapPartitions { it =>
        val c = bcCost.value
        it.map(w => (w, viterbi(w, c).length.toLong))
      }.toDF("word", "k")
    val segSide = if (smallVocab) broadcast(seg) else seg
    docs.select(col("doc_id"), explode(Dedup.tokens(col("text"))).as("word"))
      .filter(col("word") =!= "")
      .join(segSide, Seq("word"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"), sum(col("k")).as("n_pieces"))
      .withColumn("fertility",
        round(col("n_pieces").cast("double") / col("n_words"), 4))
      .orderBy("doc_id")
  }

  /** The registered serving query. */
  def unigramSegmentStats(spark: SparkSession, dir: String): DataFrame =
    segmentStatsOf(spark, Tables(spark, dir, "documents"))

  /** The shared literal-free CTE chain: w0 = word counts, seed + p0 the
    * seeded model, then per EM iteration k: quantized costs (c_k), the
    * recursive-CTE segmentation enumeration (paths_k, finite because pos
    * strictly increases), the struct-min best segmentation (best_k), the
    * re-count (m_{k+1}), and the pruned model (p_{k+1}).
    */
  private def chainCtes(iters: Int): String = {
    val base =
      s"""w0 AS MATERIALIZED (
         |  SELECT tok AS word, count(*) AS n FROM (
         |    SELECT unnest(regexp_split_to_array(lower(text), '\\s+')) AS tok
         |    FROM documents) WHERE tok <> '' GROUP BY tok
         |),
         |sub1 AS (SELECT word, n, unnest(range(1, len(word)+1)) AS s FROM w0),
         |sub2 AS (SELECT word, n, s, unnest([1,2,3,4]) AS l FROM sub1),
         |seed AS MATERIALIZED (
         |  SELECT substr(word, s, l) AS piece, sum(n)::BIGINT AS c
         |  FROM sub2 WHERE s + l - 1 <= len(word) GROUP BY piece
         |),
         |p0 AS MATERIALIZED (
         |  SELECT piece, c FROM seed WHERE len(piece) = 1
         |  UNION ALL
         |  SELECT piece, c FROM (
         |    SELECT piece, c FROM seed WHERE len(piece) >= 2
         |    ORDER BY c DESC, piece LIMIT $SeedMultiTop)
         |)""".stripMargin
    val stages = (0 until iters).map { k =>
      s"""c$k AS MATERIALIZED (
         |  SELECT piece, round(ln((SELECT sum(c) FROM p$k)::DOUBLE / c::DOUBLE) * 1000000)::BIGINT AS cost
         |  FROM p$k
         |),
         |paths$k AS (
         |  SELECT word, 1 AS pos, 0::BIGINT AS cost, 0 AS k, '' AS path FROM w0
         |  UNION ALL
         |  SELECT p.word, p.pos + len(c.piece), p.cost + c.cost, p.k + 1,
         |         p.path || chr(31) || c.piece
         |  FROM paths$k p JOIN c$k c ON substr(p.word, p.pos, len(c.piece)) = c.piece
         |  WHERE p.pos <= len(p.word)
         |),
         |best$k AS MATERIALIZED (
         |  SELECT word, min(struct_pack(cost := cost, k := k, path := path)) AS b
         |  FROM paths$k WHERE pos = len(word) + 1 GROUP BY word
         |),
         |m${k + 1} AS MATERIALIZED (
         |  SELECT piece, sum(n)::BIGINT AS c FROM (
         |    SELECT unnest(string_split(struct_extract(b, 'path'), chr(31))) AS piece, w.n
         |    FROM best$k JOIN w0 w USING (word))
         |  WHERE piece <> '' GROUP BY piece
         |),
         |p${k + 1} AS MATERIALIZED (
         |  SELECT s.piece,
         |    CASE WHEN len(s.piece) = 1 THEN greatest(coalesce(m.c, 0), 1)
         |         ELSE coalesce(m.c, 0) END AS c
         |  FROM p$k s LEFT JOIN m${k + 1} m USING (piece)
         |  WHERE len(s.piece) = 1 OR coalesce(m.c, 0) > 0
         |)""".stripMargin
    }
    (base +: stages).mkString(",\n")
  }

  val unigramLmVocabSql: String =
    s"""WITH RECURSIVE ${chainCtes(EmIters)}
       |SELECT piece, c AS n_piece,
       |  round(ln((SELECT sum(c) FROM p$EmIters)::DOUBLE / c::DOUBLE) * 1000000)::BIGINT AS cost,
       |  round(c::DOUBLE / (SELECT sum(c) FROM p$EmIters)::DOUBLE, 6) AS prob
       |FROM p$EmIters
       |ORDER BY n_piece DESC, piece""".stripMargin

  /** The stats oracle runs one more Viterbi pass (the `best<EmIters>` CTE)
    * under the FINAL model — exactly what serving does — then joins the
    * corpus tokens back on the distinct word. */
  val unigramSegmentStatsSql: String =
    s"""WITH RECURSIVE ${chainCtes(EmIters + 1)},
       |toks AS (
       |  SELECT doc_id, tok AS word FROM (
       |    SELECT doc_id, unnest(regexp_split_to_array(lower(text), '\\s+')) AS tok
       |    FROM documents) WHERE tok <> ''
       |)
       |SELECT doc_id, count(*) AS n_words,
       |  sum(struct_extract(b, 'k'))::BIGINT AS n_pieces,
       |  round(sum(struct_extract(b, 'k'))::DOUBLE / count(*), 4) AS fertility
       |FROM toks JOIN best$EmIters USING (word)
       |GROUP BY doc_id
       |ORDER BY doc_id""".stripMargin
}
