package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Late-interaction multi-vector retrieval (the ColBERT scoring shape):
  * a "document" is a BAG of chunk vectors, and relevance of doc d to
  * query q is MaxSim — for each query chunk, the best-matching doc chunk,
  * summed:
  *
  *   score(q, d) = Σ_{i ∈ chunks(q)} max_{j ∈ chunks(d)} cos(qᵢ, dⱼ)
  *
  * This is the retrieval form RAG serving stacks run between single-vector
  * ANN (too lossy) and full cross-encoders (too slow): fine-grained
  * token/chunk interaction at index-friendly cost.
  *
  * Multi-vector corpus: the embeddings table grouped [[MaxSimFan]] chunk
  * vectors per document (`doc = vec_id div 4` — contiguous ids, so the
  * grouping is a pure integer function both engines derive identically;
  * with a real chunker the (doc, chunk) keys would come from
  * `chunk_documents` and the chunk embedder). The query side is the
  * served batch convention: docs holding vec_ids ≤
  * [[TextAnalysis.ServeBatchMaxId]], ≤ 26 query docs at any SF.
  *
  * CANDIDATES COME FROM THE BANDED LSH INDEX, never corpus × corpus: a
  * doc pair is scored iff ANY query chunk shares an (table, bucket) LSH
  * cell with ANY of the candidate's chunks — the same seeded-hyperplane
  * index [[Similarity.annLshTopK]] serves from, aggregated chunk → doc.
  * At 100 TB the chunk-level index is the stored artifact; candidate
  * generation is the same equi-join, and only |cand| × fan² cosines are
  * ever computed.
  *
  * Exactness: the candidate set is bit-derivable (seeded plane literals —
  * the [[Similarity.annLshTopKSql]] argument), each cosine is the shared
  * left-to-right kernel, per-query-chunk maxima are ORDER-FREE, and the
  * chunk-sum is ONE written fixed-order expression (m0 + m1 + m2 + m3)
  * rather than a float aggregate — so the raw score is bit-identical
  * cross-engine; ranking uses the rounded release with the −0.0 armor
  * (the ADC convention). Generated-free static oracle.
  */
object MaxSim {

  /** Chunk vectors per multi-vector document. */
  val MaxSimFan = 4

  /** Query-doc bound: docs fully inside the served vec_id batch. */
  def queryMaxDoc: Long = TextAnalysis.ServeBatchMaxId / MaxSimFan

  /** Registered query: MaxSim top-k over LSH-shortlisted candidates for
    * the served query-doc batch. Output (q_doc, d_doc, rank, maxsim). */
  def maxSimTopK(spark: SparkSession, dir: String, k: Int = 10): DataFrame = {
    val e = Tables(spark, dir, "embeddings")
      .select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("v"))
    val qChunks = e.filter(expr(s"vec_id div $MaxSimFan") <= queryMaxDoc)
      .select(expr(s"vec_id div $MaxSimFan").as("q_doc"),
        (col("vec_id") % MaxSimFan).as("qi"), col("v").as("q_v"))
    val ix = buildMaxSimIndex(spark, dir)
    exactTail(candidatesOf(ix, qChunks), qChunks,
      ix.chunks.select(col("doc").as("d_doc"), col("v").as("d_v")), k)
  }

  /** The MaxSim serve's STATIC index state: the chunk table and the
    * chunk-level LSH index with the doc key attached (bare ids, the
    * annLshTopK discipline; persisted — it feeds the candidate join).
    * [[maxSimAdcTopK]] reuses its chunk table for the exact re-rank. */
  private final case class MaxSimIndex(chunks: DataFrame, banded: DataFrame)

  private def bucketsOf(v: Column): Seq[Column] =
    (0 until Similarity.LshTables)
      .map(t => Similarity.lshBucket(v, Similarity.LshBits, Similarity.LshDims, t))

  private def buildMaxSimIndex(spark: SparkSession, dir: String): MaxSimIndex = {
    val e = Tables(spark, dir, "embeddings")
      .select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("v"))
    val chunks = e.select(expr(s"vec_id div $MaxSimFan").as("doc"), col("vec_id"), col("v"))
    val banded = chunks.select(col("doc"),
      posexplode(array(bucketsOf(col("v")): _*)).as(Seq("table", "bucket")))
      .persist()
    MaxSimIndex(chunks, banded)
  }

  /** Candidate DOC pairs for a query-chunk frame: any query chunk
    * colliding with any corpus chunk in the banded index, aggregated to
    * the doc key. */
  private def candidatesOf(ix: MaxSimIndex, qChunks: DataFrame): DataFrame = {
    val qBand = qChunks.select(col("q_doc"),
      posexplode(array(bucketsOf(col("q_v")): _*)).as(Seq("table", "bucket")))
      .select(col("table"), col("bucket"), col("q_doc"))
    ix.banded.select(col("table"), col("bucket"), col("doc").as("d_doc"))
      .join(broadcast(qBand), Seq("table", "bucket"))
      .filter(col("d_doc") =!= col("q_doc"))
      .select("q_doc", "d_doc")
      .dropDuplicates("q_doc", "d_doc")
  }

  /** The EXACT late-interaction scoring tail over a given candidate pair
    * set — shared verbatim by the one-pass serve ([[maxSimTopK]],
    * LSH candidates) and the quantized cascade ([[maxSimAdcTopK]], ADC
    * shortlist), so the re-rank arithmetic can never drift between them:
    * per (pair, query-chunk) the ORDER-FREE max over the candidate's
    * chunks, folded in ONE aggregate via conditional maxima; the
    * chunk-sum is ONE written expression — fixed order, no float agg;
    * rounded release ranks (the ADC armor, incl. −0.0 normalization). */
  private def exactTail(cand: DataFrame, qChunks: DataFrame,
      dChunks: DataFrame, k: Int): DataFrame = {
    val qc = qChunks.select(col("q_doc"), col("qi"), col("q_v"))
    val maxes = (0 until MaxSimFan).map(i =>
      max(when(col("qi") === i, col("c"))).as(s"m$i"))
    val perPair = cand
      .join(broadcast(qc), Seq("q_doc"))
      .join(dChunks, Seq("d_doc"))
      .select(col("q_doc"), col("d_doc"), col("qi"),
        Similarity.cosine(col("q_v"), col("d_v")).as("c"))
      .groupBy("q_doc", "d_doc")
      .agg(maxes.head, maxes.tail: _*)
    val sumExpr = (0 until MaxSimFan)
      .map(i => coalesce(col(s"m$i"), lit(0.0)))
      .reduce[org.apache.spark.sql.Column](_ + _)
    val scored = perPair.select(col("q_doc"), col("d_doc"),
      (round(sumExpr, 4) + lit(0.0)).as("maxsim"))
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("q_doc")).orderBy(col("maxsim").desc, col("d_doc"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_doc"), col("d_doc"), col("rank"), col("maxsim"))
      .orderBy("q_doc", "rank")
  }

  /** Shortlist size of the quantized cascade's ADC tier (PLAID re-ranks
    * generously — the exact tail costs |batch|·shortlist·fan² cosines, so
    * a deep shortlist is cheap insurance against quantization error). */
  val AdcShortlist = 100

  /** QUANTIZED late-interaction serving — the PLAID/ColBERTv2 cascade
    * shape applied to the chunk index: the LSH candidate set is scored
    * first from the chunks' PQ CODES (every query-chunk × candidate-chunk
    * similarity is an ADC lookup-table sum, never a raw-vector cosine),
    * the per-pair quantized MaxSim takes a [[AdcShortlist]]-deep
    * shortlist, and only the survivors re-attach raw vectors for the
    * exact re-rank (`exactTail`, shared with the one-pass serve). At
    * 100 TB the candidate scoring pass reads 8 bytes per chunk instead of
    * 512 — the decompression-free first tier PLAID exists for — and the
    * raw corpus is touched only for |batch| × shortlist docs.
    *
    * Oracle is EXACT and compositional (fitted codebook literals + the
    * banded prefix + the committed ADC/exact templates); recall vs the
    * brute anchor is measured by [[maxSimAdcEval]] and floor-pinned in
    * MaxSimSpec.
    */
  def maxSimAdcTopK(spark: SparkSession, dir: String, k: Int = 10,
      shortlist: Int = AdcShortlist,
      m: Int = Similarity.PqM, ks: Int = Similarity.PqKs): DataFrame = {
    val ix = buildMaxSimIndex(spark, dir)
    val books = Similarity.fitPq(spark, dir, m, ks)
    val qChunks = ix.chunks.filter(col("doc") <= queryMaxDoc)
      .select(col("doc").as("q_doc"), (col("vec_id") % MaxSimFan).as("qi"),
        col("v").as("q_v"))
    val cand = candidatesOf(ix, qChunks)
    // chunk codes (the stored 8-byte artifact) + per-query-chunk LUTs
    val codes = Similarity.assignCodes(
      ix.chunks.select(col("doc").as("d_doc"), col("v")), books, Seq("d_doc"))
    val qlut = qChunks.select(col("q_doc"), col("qi"),
      Similarity.adcLut(books).as("lut"))
    // tier 1: quantized MaxSim — per (pair, qi) the max ADC over the
    // candidate's coded chunks, in the same ONE conditional aggregate as
    // the exact tail; fixed-order chunk-sum, rounded shortlist rank
    val maxes = (0 until MaxSimFan).map(i =>
      max(when(col("qi") === i, col("adc"))).as(s"m$i"))
    val perPair = cand
      .join(broadcast(qlut), Seq("q_doc"))
      .join(codes, Seq("d_doc"))
      .select(col("q_doc"), col("d_doc"), col("qi"),
        Similarity.adcScore(ks, m).as("adc"))
      .groupBy("q_doc", "d_doc")
      .agg(maxes.head, maxes.tail: _*)
    val sumExpr = (0 until MaxSimFan)
      .map(i => coalesce(col(s"m$i"), lit(0.0)))
      .reduce[org.apache.spark.sql.Column](_ + _)
    import org.apache.spark.sql.expressions.Window
    val wShort = Window.partitionBy(col("q_doc")).orderBy(col("qs").desc, col("d_doc"))
    val short = perPair
      .select(col("q_doc"), col("d_doc"), (round(sumExpr, 4) + lit(0.0)).as("qs"))
      .withColumn("sr", row_number().over(wShort))
      .filter(col("sr") <= shortlist)
      .select("q_doc", "d_doc")
    // tier 2: exact re-rank of the survivors only
    exactTail(short, qChunks,
      ix.chunks.select(col("doc").as("d_doc"), col("v").as("d_v")), k)
  }

  /** EXACT generated oracle for [[maxSimAdcTopK]]: the banded prefix, the
    * fitted-codebook code/LUT CTEs (chunk-level query predicate), the
    * quantized conditional-maxima shortlist, and the exact tail — each a
    * committed template restated. */
  def maxSimAdcTopKSql(books: Array[Array[Array[Double]]], k: Int = 10,
      shortlist: Int = AdcShortlist): String = {
    val f = MaxSimFan
    val ks = Similarity.PqKs
    val qMaxCols = (0 until f).map(i =>
      s"max(CASE WHEN ac.qi = $i THEN ac.adc END) AS m$i").mkString(",\n    ")
    val rMaxCols = (0 until f).map(i =>
      s"max(CASE WHEN qe.vec_id % $f = $i THEN list_cosine_similarity(qe.v, de.v) END) AS m$i")
      .mkString(",\n    ")
    val sum = (0 until f).map(i => s"coalesce(m$i, 0.0)").mkString(" + ")
    s"""${Similarity.bandedSqlCtes}${Similarity.pqSqlCtes(books,
        s"q.vec_id // $f <= $queryMaxDoc")}, cand AS (
       |  SELECT DISTINCT q.vec_id // $f AS q_doc, b.vec_id // $f AS d_doc
       |  FROM banded q JOIN banded b ON b.tbl = q.tbl AND b.bucket = q.bucket
       |  WHERE q.vec_id // $f <= $queryMaxDoc AND b.vec_id // $f <> q.vec_id // $f
       |), adcchunk AS (
       |  SELECT l.q_id // $f AS q_doc, l.q_id % $f AS qi, cs.vec_id AS d_vid,
       |    list_reduce(list(l.pd ORDER BY l.j), (a, b) -> a + b) AS adc
       |  FROM cand c
       |  JOIN lut l ON l.q_id // $f = c.q_doc
       |  JOIN codesub cs ON cs.vec_id // $f = c.d_doc AND cs.j = l.j AND cs.code = l.code
       |  GROUP BY l.q_id, cs.vec_id
       |), qmx AS (
       |  SELECT ac.q_doc, ac.d_vid // $f AS d_doc,
       |    $qMaxCols
       |  FROM adcchunk ac GROUP BY ac.q_doc, ac.d_vid // $f
       |), shortl AS (
       |  SELECT q_doc, d_doc FROM (
       |    SELECT q_doc, d_doc,
       |      row_number() OVER (PARTITION BY q_doc
       |        ORDER BY round($sum, 4) + 0.0 DESC, d_doc) AS sr
       |    FROM qmx)
       |  WHERE sr <= $shortlist
       |), rmx AS (
       |  SELECT s.q_doc, s.d_doc,
       |    $rMaxCols
       |  FROM shortl s
       |  JOIN ev qe ON qe.vec_id // $f = s.q_doc
       |  JOIN ev de ON de.vec_id // $f = s.d_doc
       |  GROUP BY s.q_doc, s.d_doc
       |), rsc AS (
       |  SELECT q_doc, d_doc, round($sum, 4) + 0.0 AS maxsim FROM rmx
       |)
       |SELECT q_doc, d_doc, rank, maxsim FROM (
       |  SELECT q_doc, d_doc,
       |    row_number() OVER (PARTITION BY q_doc ORDER BY maxsim DESC, d_doc) AS rank,
       |    maxsim
       |  FROM rsc)
       |WHERE rank <= $k
       |ORDER BY q_doc, rank""".stripMargin
  }

  /** Retrieval-quality metrics of the QUANTIZED cascade against the brute
    * late-interaction truth — the quantized leg of the eval harness the
    * raw serve already has. Bench-excluded (truth leg is the anchor). */
  def maxSimAdcEval(spark: SparkSession, dir: String, k: Int = 10): DataFrame =
    Similarity.evalTailOf(
      maxSimAdcTopK(spark, dir, k)
        .select(col("q_doc").as("q_id"), col("d_doc").as("n_id"), col("rank")),
      maxSimBrute(spark, dir, k)
        .select(col("q_doc").as("q_id"), col("d_doc").as("n_id")), k)

  /** Oracle: the shared eval template over the quantized and brute legs. */
  def maxSimAdcEvalSql(books: Array[Array[Array[Double]]], k: Int = 10): String =
    Similarity.retrievalEvalSqlWith(
      s"SELECT q_doc AS q_id, d_doc AS n_id, rank, maxsim FROM (\n${maxSimAdcTopKSql(books, k)})",
      s"SELECT q_doc AS q_id, d_doc AS n_id, rank, maxsim FROM (\n${maxSimBruteSql(k)})", k)

  /** The exactness anchor of the MaxSim stack: brute late-interaction
    * top-k over ALL doc pairs for the served query docs — O(|batch|·n)
    * by design, bench-excluded (the ann_topk_brute anchor convention).
    * Static oracle; every LSH-shortlisted serve is audited against THIS
    * by [[maxSimRetrievalEval]]. */
  def maxSimBrute(spark: SparkSession, dir: String, k: Int = 10): DataFrame = {
    val e = Tables(spark, dir, "embeddings")
      .select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("v"))
    val chunks = e.select(expr(s"vec_id div $MaxSimFan").as("doc"), col("vec_id"), col("v"))
    val qc = chunks.filter(col("doc") <= queryMaxDoc)
      .select(col("doc").as("q_doc"), (col("vec_id") % MaxSimFan).as("qi"),
        col("v").as("q_v"))
    val dc = chunks.select(col("doc").as("d_doc"), col("v").as("d_v"))
    val maxes = (0 until MaxSimFan).map(i =>
      max(when(col("qi") === i, col("c"))).as(s"m$i"))
    // all pairs: the small query-chunk side broadcasts onto one corpus pass
    val perPair = dc.join(broadcast(qc), col("d_doc") =!= col("q_doc"))
      .select(col("q_doc"), col("d_doc"), col("qi"),
        Similarity.cosine(col("q_v"), col("d_v")).as("c"))
      .groupBy("q_doc", "d_doc")
      .agg(maxes.head, maxes.tail: _*)
    val sumExpr = (0 until MaxSimFan)
      .map(i => coalesce(col(s"m$i"), lit(0.0)))
      .reduce[Column](_ + _)
    val scored = perPair.select(col("q_doc"), col("d_doc"),
      (round(sumExpr, 4) + lit(0.0)).as("maxsim"))
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("q_doc")).orderBy(col("maxsim").desc, col("d_doc"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_doc"), col("d_doc"), col("rank"), col("maxsim"))
      .orderBy("q_doc", "rank")
  }

  /** Static EXACT oracle for [[maxSimBrute]] — the shortlisted oracle's
    * scoring tail with the all-pairs candidate set. */
  def maxSimBruteSql(k: Int = 10): String = {
    val f = MaxSimFan
    val maxCols = (0 until f).map(i =>
      s"max(CASE WHEN qe.vec_id % $f = $i THEN list_cosine_similarity(qe.v, de.v) END) AS m$i")
      .mkString(",\n    ")
    val sum = (0 until f).map(i => s"coalesce(m$i, 0.0)").mkString(" + ")
    s"""WITH ev AS (
       |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
       |), mx AS (
       |  SELECT qe.vec_id // $f AS q_doc, de.vec_id // $f AS d_doc,
       |    $maxCols
       |  FROM ev qe JOIN ev de ON de.vec_id // $f <> qe.vec_id // $f
       |  WHERE qe.vec_id // $f <= $queryMaxDoc
       |  GROUP BY 1, 2
       |), sc AS (
       |  SELECT q_doc, d_doc, round($sum, 4) + 0.0 AS maxsim FROM mx
       |)
       |SELECT q_doc, d_doc, rank, maxsim FROM (
       |  SELECT q_doc, d_doc,
       |    row_number() OVER (PARTITION BY q_doc ORDER BY maxsim DESC, d_doc) AS rank,
       |    maxsim
       |  FROM sc)
       |WHERE rank <= $k
       |ORDER BY q_doc, rank""".stripMargin
  }

  /** Retrieval-quality metrics of the LSH-shortlisted MaxSim serve
    * against the brute late-interaction truth — closes the multi-vector
    * stack (index → serve → eval) the way `filtered_retrieval_eval`
    * closes the filtered stack. Shares `Similarity.evalTailOf`'s exact
    * bitmask/DECIMAL discipline. Bench-excluded: the truth leg IS the
    * brute anchor. Reads 1.0/1.0/1.0 at both test SFs — the chunk-level
    * banding admits a pair on ANY of fan×tables collisions; the row
    * exists to catch a future index weakening, not to flatter it. */
  def maxSimRetrievalEval(spark: SparkSession, dir: String, k: Int = 10): DataFrame =
    Similarity.evalTailOf(
      maxSimTopK(spark, dir, k)
        .select(col("q_doc").as("q_id"), col("d_doc").as("n_id"), col("rank")),
      maxSimBrute(spark, dir, k)
        .select(col("q_doc").as("q_id"), col("d_doc").as("n_id")), k)

  /** Oracle: the shared eval template over the two MaxSim legs (aliased
    * to the template's q_id/n_id contract). */
  def maxSimRetrievalEvalSql(k: Int = 10): String =
    Similarity.retrievalEvalSqlWith(
      s"SELECT q_doc AS q_id, d_doc AS n_id, rank, maxsim FROM (\n${maxSimTopKSql(k)})",
      s"SELECT q_doc AS q_id, d_doc AS n_id, rank, maxsim FROM (\n${maxSimBruteSql(k)})", k)

  /** Static EXACT oracle: the banded-LSH CTE prefix (embedded plane
    * literals), the same doc-level candidate join, conditional maxima,
    * and the identical written four-term sum. */
  def maxSimTopKSql(k: Int = 10): String = {
    val f = MaxSimFan
    val maxCols = (0 until f).map(i =>
      s"max(CASE WHEN qe.vec_id % $f = $i THEN list_cosine_similarity(qe.v, de.v) END) AS m$i")
      .mkString(",\n    ")
    val sum = (0 until f).map(i => s"coalesce(m$i, 0.0)").mkString(" + ")
    s"""${Similarity.bandedSqlCtes}, cand AS (
       |  SELECT DISTINCT q.vec_id // $f AS q_doc, b.vec_id // $f AS d_doc
       |  FROM banded q JOIN banded b ON b.tbl = q.tbl AND b.bucket = q.bucket
       |  WHERE q.vec_id // $f <= $queryMaxDoc AND b.vec_id // $f <> q.vec_id // $f
       |), mx AS (
       |  SELECT c.q_doc, c.d_doc,
       |    $maxCols
       |  FROM cand c
       |  JOIN ev qe ON qe.vec_id // $f = c.q_doc
       |  JOIN ev de ON de.vec_id // $f = c.d_doc
       |  GROUP BY c.q_doc, c.d_doc
       |), sc AS (
       |  SELECT q_doc, d_doc, round($sum, 4) + 0.0 AS maxsim FROM mx
       |)
       |SELECT q_doc, d_doc, rank, maxsim FROM (
       |  SELECT q_doc, d_doc,
       |    row_number() OVER (PARTITION BY q_doc ORDER BY maxsim DESC, d_doc) AS rank,
       |    maxsim
       |  FROM sc)
       |WHERE rank <= $k
       |ORDER BY q_doc, rank""".stripMargin
  }
}
