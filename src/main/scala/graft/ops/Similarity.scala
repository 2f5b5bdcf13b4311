package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Overlap.overlap

/** Similarity search over an embedding column (`embeddings.embedding`,
  * array<float>[64]).
  *
  *  - [[annTopKBrute]]: exact top-k by cosine — the correctness baseline.
  *    The *query* side is small (sampled ids) and broadcast, so the scan of
  *    the big side stays shuffle-free: plan = Scan ⋈(BNL,broadcast) →
  *    per-query top-k window. At 1000 executors this is one pass over the
  *    corpus per query batch — the right brute-force shape.
  *  - [[annLshTopK]]: multi-table random-hyperplane (sign) LSH —
  *    [[LshTables]] tables of [[LshBits]]-bit buckets; a query's candidate
  *    set is the union of its buckets across tables. Plane matrices are
  *    seeded plan-time literals, so the index needs no stored model and
  *    recomputes identically on any cluster. The bucket join is an
  *    equi-join on (table, bucket).
  *
  * Vector math: the codegen'd one-pass [[graft.functions.CosineSimilarity]]
  * on the hot paths; the HOF formulation ([[dot]]/[[norm]]) kept as the
  * reference implementation it is verified against.
  */
object Similarity {

  /** Dot product of two array<double> columns (left-to-right accumulation).
    * HOF formulation — kept as the reference implementation; the hot paths
    * use the codegen'd [[graft.functions.CosineSimilarity]] instead.
    */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity in double precision: a native Catalyst expression
    * that accumulates dot + both norms in ONE generated loop (the HOF
    * equivalent is interpreted and walks the arrays three times). Bit-equal
    * to `dot(a,b)/(norm(a)*norm(b))` — same left-to-right accumulation.
    */
  def cosine(a: Column, b: Column): Column = graft.functions.CosineSimilarity(a, b)

  private def asDouble(c: Column): Column = transform(c, _.cast("double"))

  /** Test helper: self-paired double vectors from the embeddings table. */
  private[ops] def asDoubleForTest(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables(spark, dir, "embeddings")
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
    e.select(col("vec_id"), col("v").as("a"))
      .join(e.select((col("vec_id") + 1).as("vec_id"), col("v").as("b")), "vec_id")
  }

  /** Exact cosine top-k for the sampled query set (vec_id ≡ 0 mod 50). */
  def annTopKBrute(spark: SparkSession, dir: String, k: Int = 10): DataFrame = {
    val e = Tables(spark, dir, "embeddings")
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
    val queries = e.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("q_id"), col("v").as("q_v"))
    val scored = e.join(broadcast(queries), col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("n_id"),
        cosine(col("q_v"), col("v")).as("c"))
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("q_id")).orderBy(col("c").desc, col("n_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("n_id"), col("rank"), (round(col("c"), 4) + lit(0.0)).as("cos"))
      .orderBy("q_id", "rank")
  }

  val annTopKSql: String =
    """SELECT q_id, n_id, rank, cos FROM (
      |  SELECT q.vec_id AS q_id, e.vec_id AS n_id,
      |    row_number() OVER (PARTITION BY q.vec_id
      |      ORDER BY list_cosine_similarity(q.embedding::DOUBLE[], e.embedding::DOUBLE[]) DESC,
      |               e.vec_id) AS rank,
      |    round(list_cosine_similarity(q.embedding::DOUBLE[], e.embedding::DOUBLE[]), 4) + 0.0 AS cos
      |  FROM embeddings q JOIN embeddings e ON e.vec_id <> q.vec_id
      |  WHERE q.vec_id % 50 = 0)
      |WHERE rank <= 10
      |ORDER BY q_id, rank""".stripMargin

  /** The shared coarse-quantizer fit of [[annIvfTopK]] and [[semDedupFrom]]:
    * Lloyd's KMeans over a BOUNDED, deterministic sample — at 100 TB fitting
    * over the full corpus is a scale-killer (and even at sf0.1 the
    * per-iteration job overhead of a full-corpus fit dominated the query).
    * The sample is a pure function of the DATA, not of its layout: hash-mod
    * thinning (stable under any partitioning), then a hash-ordered cap —
    * `orderBy(h, vec_id).limit(50000)` compiles to TakeOrderedAndProject, so
    * unlike a bare `limit()` the cap keeps the SAME rows whichever
    * partitions arrive first. The fit itself runs driver-side over ≤50k
    * vectors (≤25 MB at 64 dims) — the same documented bounded-`collect`
    * trade as the union-find gate in [[Dedup]]: at production scale the
    * fitted centroid table is a persisted model artifact and the cap is the
    * training budget, not a correctness knob. Iteration order is the
    * hash-sorted sample order, so the centroid doubles are bit-reproducible
    * run-to-run AND re-derivable at oracle-generation time — which is what
    * lets [[annIvfTopKSql]]/[[semDedupSql]] embed them as literals the way
    * [[annLshTopKSql]] embeds its hyperplanes.
    */
  private[ops] def fitCentroidsFrom(e: DataFrame, nCentroids: Int): Array[Array[Double]] = {
    val sample = fitSample(e)
    require(sample.length >= nCentroids,
      s"coarse-quantizer fit sample (${sample.length}) smaller than k=$nCentroids")
    lloyd(sample, nCentroids)
  }

  /** The bounded, layout-independent fit sample shared by the coarse
    * quantizer and the PQ codebook fit ([[fitPqFrom]]). */
  private def fitSample(e: DataFrame): Array[Array[Double]] = e
    .filter(pmod(xxhash64(col("vec_id")), lit(2)) === 0)
    .select(col("v"), xxhash64(col("vec_id")).as("h"), col("vec_id"))
    .orderBy(col("h"), col("vec_id"))
    .limit(50000)
    .collect()
    .map(_.getSeq[Double](0).toArray)

  /** Ten Lloyd iterations over an in-memory sample (driver-side, bounded —
    * see [[fitCentroidsFrom]]). Deterministic: init = the first k sample
    * vectors in their hash order, assignment ties to the highest cell. */
  private def lloyd(sample: Array[Array[Double]], nCentroids: Int): Array[Array[Double]] = {
    val dims = sample.head.length
    // init: the first k hash-ordered sample vectors — a seeded pseudo-random
    // spread with no RNG state to drift
    var cent = sample.take(nCentroids).map(_.clone())
    for (_ <- 0 until 10) {
      val sums = Array.fill(nCentroids)(new Array[Double](dims))
      val counts = new Array[Long](nCentroids)
      val halfNorms = cent.map(c => c.map(x => x * x).sum / 2.0)
      for (v <- sample) {
        val cell = bestCellIdx(v, cent, halfNorms)
        val s = sums(cell)
        var i = 0
        while (i < dims) { s(i) += v(i); i += 1 }
        counts(cell) += 1
      }
      cent = cent.indices.map { j =>
        if (counts(j) == 0) cent(j) // empty cell keeps its centroid
        else sums(j).map(_ / counts(j))
      }.toArray
    }
    cent
  }

  /** argmax over cells of ⟨v,c⟩ − |c|²/2 (the L2-Voronoi rule with the
    * per-vector |v|² constant dropped); ties go to the HIGHEST cell id —
    * the same tiebreak [[assignCells]]'s `element_at(array_sort(…), -1)`
    * and the generated oracles' `ORDER BY score DESC, cell DESC` use.
    */
  private def bestCellIdx(
      v: Array[Double], cent: Array[Array[Double]], halfNorms: Array[Double]): Int = {
    var best = 0; var bestScore = Double.NegativeInfinity
    var j = 0
    while (j < cent.length) {
      val c = cent(j)
      var d = 0.0; var i = 0
      while (i < v.length) { d += v(i) * c(i); i += 1 }
      val score = d - halfNorms(j)
      if (score >= bestScore) { best = j; bestScore = score }
      j += 1
    }
    best
  }

  /** Fitted centroids for the embeddings table of `dir`, cached so the
    * query builder and the oracle generator share ONE fit per session.
    * Keyed by (dir, k) only — like [[pqCache]], this assumes the table
    * under a dir is immutable for the session's lifetime (true for the
    * driver's generated testdata; a production deployment would version
    * the model artifact with the data snapshot it was fitted on). */
  private val centroidCache =
    scala.collection.concurrent.TrieMap.empty[(String, Int), Array[Array[Double]]]

  private[ops] def fitCentroids(spark: SparkSession, dir: String, nCentroids: Int)
      : Array[Array[Double]] =
    centroidCache.getOrElseUpdate((dir, nCentroids), {
      val e = Tables(spark, dir, "embeddings")
        .select(col("vec_id"), asDouble(col("embedding")).as("v"))
      fitCentroidsFrom(e, nCentroids)
    })

  /** Cell assignment as pure codegen'd column arithmetic (one
    * [[graft.functions.DotProduct]] per centroid against a plan-time
    * literal — the MLlib `model.transform` this replaces ran an
    * interpreted UDF): cell = argmax ⟨v,c⟩ − |c|²/2, ties to the highest
    * cell. `array_sort` orders the (score, cell) structs lexicographically
    * ascending, so the LAST element is the winner — the exact rule the
    * generated oracles re-state as `ORDER BY score DESC, cell DESC`.
    */
  private[ops] def assignCells(e: DataFrame, cent: Array[Array[Double]]): DataFrame =
    e.withColumn("cell",
      element_at(array_sort(array(cellStructs(cent, col("v")): _*)), -1)
        .getField("cell"))

  /** The (score, cell) struct per centroid literal — the shared building
    * block of [[assignCells]]'s argmax and the probe ranking in
    * [[annIvfTopK]]/[[ivfPqTopK]] (score = ⟨v,c⟩ − |c|²/2, the L2-Voronoi
    * rule with the per-vector |v|² constant dropped). One definition so the
    * tie rule and half-norm precomputation can never diverge between the
    * assignment and the probe side — or from the generated oracles'
    * `ORDER BY score DESC, cell DESC`.
    */
  private[ops] def cellStructs(cent: Array[Array[Double]], v: Column): Seq[Column] =
    cent.zipWithIndex.toSeq.map { case (c, i) =>
      val halfNormSq = c.map(x => x * x).sum / 2.0
      struct((graft.functions.DotProduct(v, lit(c)) - halfNormSq).as("score"),
        lit(i).as("cell"))
    }

  /** The `ev` + `cent` + `scored` + `cells` CTE prefix shared by the two
    * generated quantizer oracles: every vector's cell under the FITTED
    * centroids, embedded as DOUBLE[] literals (Java shortest-repr
    * `toString` round-trips bit-exactly through DuckDB's parser), with
    * |c|²/2 precomputed in Scala and embedded too so both engines subtract
    * the identical literal. `list_dot_product` accumulates left-to-right
    * exactly like the codegen'd [[graft.functions.DotProduct]] loop.
    */
  /** Default `ev` CTE body: the raw embeddings. The rotated-space chain
    * ([[opqIvfPqTopKSql]]) substitutes a rotated projection with the same
    * (vec_id, v) shape. */
  private val RawEvSql = "  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings"

  private[ops] def cellsSqlCtes(cent: Array[Array[Double]], evSql: String = RawEvSql): String = {
    val rows = cent.zipWithIndex.map { case (c, i) =>
      val halfNormSq = c.map(x => x * x).sum / 2.0
      s"(${i}, ${c.mkString("[", ", ", "]")}::DOUBLE[], ${halfNormSq}::DOUBLE)"
    }.mkString(",\n    ")
    s"""WITH ev AS (
       |$evSql
       |), cent AS (
       |  SELECT * FROM (VALUES
       |    $rows) AS t(cell, c, hn)
       |), scored AS (
       |  SELECT vec_id, cell, list_dot_product(v, c) - hn AS score
       |  FROM ev CROSS JOIN cent
       |), cells AS (
       |  SELECT vec_id, cell FROM (
       |    SELECT vec_id, cell,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY score DESC, cell DESC) AS rn
       |    FROM scored) WHERE rn = 1
       |)""".stripMargin
  }

  /** EXACT DuckDB oracle for [[annIvfTopK]], generated from the FITTED
    * centroids the query plans with (the [[fitCentroids]] session cache
    * guarantees query and oracle quantize with identical literals — see
    * [[cellsSqlCtes]] for the bit-exactness argument). Re-states the plan
    * 1:1: probe ranking `score DESC, cell DESC` mirrors
    * `slice(reverse(array_sort(…)), 1, nProbe)`, the candidate join is the
    * same cell equi-join (each vector lives in exactly ONE cell, so no
    * dedup is needed on either engine), and the final ranking is the same
    * exact-cosine window [[annTopKSql]] uses.
    */
  private[ops] def annIvfTopKSql(
      cent: Array[Array[Double]], k: Int = 10, nProbe: Int = NProbe): String =
    s"""${cellsSqlCtes(cent)}, probes AS (
       |  SELECT vec_id AS q_id, cell FROM (
       |    SELECT vec_id, cell,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY score DESC, cell DESC) AS pr
       |    FROM scored WHERE vec_id % 50 = 0)
       |  WHERE pr <= $nProbe
       |), cand AS (
       |  SELECT p.q_id, c.vec_id AS n_id
       |  FROM probes p JOIN cells c ON c.cell = p.cell
       |  WHERE c.vec_id <> p.q_id
       |)
       |SELECT q_id, n_id, rank, cos FROM (
       |  SELECT cd.q_id, cd.n_id,
       |    row_number() OVER (PARTITION BY cd.q_id
       |      ORDER BY list_cosine_similarity(qe.v, ne.v) DESC, cd.n_id) AS rank,
       |    round(list_cosine_similarity(qe.v, ne.v), 4) + 0.0 AS cos
       |  FROM cand cd
       |  JOIN ev qe ON qe.vec_id = cd.q_id
       |  JOIN ev ne ON ne.vec_id = cd.n_id)
       |WHERE rank <= $k
       |ORDER BY q_id, rank""".stripMargin

  /** EXACT DuckDB oracle for [[annFilteredTopK]] — [[annIvfTopKSql]] with
    * the served ≤100 query batch, the label-aware ADAPTIVE probe budget
    * ([[adaptiveProbesSql]] — same integer cumulative-count rule as the
    * Spark plan), and the per-query label predicate joined into the
    * candidate step (`ne.label = p.q_label`), exactly where the Spark plan
    * carries it as an equi-join key.
    */
  private[ops] def annFilteredTopKSql(
      cent: Array[Array[Double]], k: Int = 10,
      minProbe: Int = NProbe, alpha: Int = FilteredAlpha): String =
    s"""${cellsSqlCtes(cent, "  SELECT vec_id, embedding::DOUBLE[] AS v, label FROM embeddings")}${
        adaptiveProbesSql(minProbe, k.toLong * alpha)}, cand AS (
       |  SELECT p.q_id, c.vec_id AS n_id
       |  FROM probes p
       |  JOIN cells c ON c.cell = p.cell
       |  JOIN ev ne ON ne.vec_id = c.vec_id AND ne.label = p.q_label
       |  WHERE c.vec_id <> p.q_id
       |)
       |SELECT q_id, n_id, rank, cos FROM (
       |  SELECT cd.q_id, cd.n_id,
       |    row_number() OVER (PARTITION BY cd.q_id
       |      ORDER BY list_cosine_similarity(qe.v, ne.v) DESC, cd.n_id) AS rank,
       |    round(list_cosine_similarity(qe.v, ne.v), 4) + 0.0 AS cos
       |  FROM cand cd
       |  JOIN ev qe ON qe.vec_id = cd.q_id
       |  JOIN ev ne ON ne.vec_id = cd.n_id)
       |WHERE rank <= $k
       |ORDER BY q_id, rank""".stripMargin

  /** EXACT DuckDB oracle for [[semDedup]] under the same fitted-centroid
    * literals: a vector is dropped iff some lower-id vector in its cell has
    * cosine ≥ τ — the `a_id < b_id` equi-join restated, with the keep flag
    * as a left-anti null test.
    */
  private[ops] def semDedupSql(cent: Array[Array[Double]], tau: Double = SemDedupTau): String =
    s"""${cellsSqlCtes(cent)}, dropped AS (
       |  SELECT DISTINCT b.vec_id
       |  FROM cells a JOIN cells b ON a.cell = b.cell AND a.vec_id < b.vec_id
       |  JOIN ev av ON av.vec_id = a.vec_id
       |  JOIN ev bv ON bv.vec_id = b.vec_id
       |  WHERE list_cosine_similarity(av.v, bv.v) >= $tau
       |)
       |SELECT c.vec_id, c.cell, (d.vec_id IS NULL) AS is_kept
       |FROM cells c LEFT JOIN dropped d ON d.vec_id = c.vec_id
       |ORDER BY c.vec_id""".stripMargin

  /** The two quantizer oracles are DATA-dependent (fitted centroids), unlike
    * every other generated oracle (seeded hyperplanes) — so they can only be
    * emitted once the sweep's (session, data dir) is known. [[graft.Verify]]
    * (and the registry spec) set this before reading
    * [[SparkEntry.oracleSql]]; unset, the two queries simply publish no
    * oracle (the pre-round-8 rows-only behavior).
    */
  @volatile private var oracleCtx: Option[(SparkSession, String)] = None

  def setOracleContext(spark: SparkSession, dir: String): Unit =
    oracleCtx = Some((spark, dir))

  /** `ann_ivf_topk` + `semdedup_clusters` oracle entries for the context
    * dir, or empty when no context is set. The [[fitCentroids]] cache makes
    * this at most one fit per (dir, k) per session, shared with the queries
    * themselves.
    */
  def quantizerOracles: Map[String, String] = oracleCtx match {
    case Some((spark, dir)) =>
      val cent = fitCentroids(spark, dir, NCentroids)
      val books = fitPq(spark, dir, PqM, PqKs)
      val residBooks = fitPqResidual(spark, dir, NCentroids, PqM, PqKs)
      val (rot, opqBooks) = fitOpq(spark, dir, PqM, PqKs)
      val (rotC, chainCent, chainBooks) = fitOpqIvf(spark, dir, NCentroids, PqM, PqKs)
      Map(
        "ann_ivf_topk"      -> annIvfTopKSql(cent),
        "ann_filtered_topk" -> annFilteredTopKSql(cent),
        "ivf_pq_filtered_topk" -> ivfPqFilteredTopKSql(cent, books),
        "filtered_retrieval_eval" -> filteredRetrievalEvalSql(cent),
        "ivf_retrieval_eval" -> ivfRetrievalEvalSql(cent),
        "semdedup_clusters" -> semDedupSql(cent),
        "pq_adc_topk"       -> pqAdcTopKSql(books),
        "bq_adc_rerank_topk" -> bqAdcRerankTopKSql(books),
        "pq_rerank_topk"    -> pqRerankTopKSql(books),
        "ivf_pq_topk"       -> ivfPqTopKSql(cent, books),
        "ivf_pq_residual_topk" -> ivfPqResidualTopKSql(cent, residBooks),
        "ivf_pq_residual_rerank_topk" -> ivfPqResidualRerankTopKSql(cent, residBooks),
        "opq_topk"          -> opqTopKSql(rot, opqBooks),
        "maxsim_adc_topk"   -> MaxSim.maxSimAdcTopKSql(books),
        "maxsim_adc_eval"   -> MaxSim.maxSimAdcEvalSql(books),
        "opq_ivf_pq_topk"   -> opqIvfPqTopKSql(rotC, chainCent, chainBooks),
        "knn_graph_topk"    -> GraphAnn.knnGraphTopKSql(cent))
    case None => Map.empty
  }

  val LshDims = 64 // embedding dimensionality in the testdata

  /** Deterministic hyperplane matrix, materialized ONCE at plan time as
    * literal arrays (plan-time constants — the previous design recomputed
    * 8×64 hash expressions per row). Seeded per plane, so the "index" needs
    * no stored model and rebuilds identically on any cluster.
    */
  private def planeRow(j: Int, dims: Int): Array[Double] = {
    val rng = new java.util.Random(0x5eed0000L + j)
    Array.fill(dims)(rng.nextDouble() * 2 - 1)
  }

  /** Sign-LSH bucket id of a vector column: bit j = sign of ⟨v, plane_j⟩
    * for this table's plane set. Each projection is one codegen'd
    * [[graft.functions.DotProduct]] against a literal plane array — the HOF
    * formulation ran interpreted and was the dominant (and GC-sensitive)
    * cost of the whole bucket computation at bits×tables projections/row.
    */
  def lshBucket(v: Column, bits: Int = 16, dims: Int = LshDims, table: Int = 0): Column =
    (0 until bits).map { j =>
      val proj = graft.functions.DotProduct(v, lit(planeRow(table * 1000 + j, dims)))
      when(proj >= 0, shiftleft(lit(1L), j)).otherwise(lit(0L))
    }.reduce[Column](_.bitwiseOR(_))

  // Tuned for THIS corpus: synthetic 64-dim vectors whose true neighbors sit
  // at cos ≈ 0.3–0.5 (nearly orthogonal), the hardest regime for sign-LSH —
  // 5 bits × 12 tables ≈ 0.37·n candidates per query, measured recall@10
  // ≈ 0.6 at sf0.01. A production embedding corpus (neighbors at cos ≥ 0.7)
  // would run 8–10 bits × 8 tables for ≪ 1% scan fraction at high recall.
  val LshBits = 5     // 32 buckets per table
  val LshTables = 12  // candidate union over 12 independent tables

  /** IVF (inverted-file) approximate top-k — the other standard ANN
    * architecture beside LSH: a KMeans coarse quantizer (seeded,
    * deterministic) partitions the corpus into `nCentroids` cells; a query
    * scans only its `nProbe` nearest cells. At scale the cell id is a
    * partitioning/bucketing column, so a probe is a partition-pruned scan —
    * candidates ≈ nProbe/nCentroids of the corpus instead of all of it.
    * Training cost is one KMeans fit over a sample (here: the corpus).
    *
    * Recall < 1 by construction (Voronoi boundaries) → rows-only oracle;
    * spec pins a floor against [[annTopKBrute]].
    */
  def annIvfTopK(
      spark: SparkSession,
      dir: String,
      k: Int = 10,
      nCentroids: Int = NCentroids,
      nProbe: Int = NProbe): DataFrame = {
    val e = Tables(spark, dir, "embeddings")
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
    val cent = fitCentroids(spark, dir, nCentroids)
    // Persisted: the cell-assigned corpus feeds BOTH the query leg and the
    // candidate leg of the probe join, and Spark plans them as independent
    // subtrees — without the persist the nCentroids-DotProduct assignment
    // (and the scan under it) recomputes once per leg.
    val assigned = assignCells(e, cent).persist()

    // probe ranking against the literal centroid list: KMeans cells are
    // L2-Voronoi, so rank by (negative) squared distance —
    // |q−c|² = |q|² − 2⟨q,c⟩ + |c|², and |q|² is constant per query, so
    // rank by ⟨q,c⟩ − |c|²/2.
    val queries = assigned.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("q_id"), col("v").as("q_v"))
      .withColumn("probes",
        slice(reverse(array_sort(array(cellStructs(cent, col("q_v")): _*))), 1, nProbe))
      .select(col("q_id"), col("q_v"), explode(col("probes.cell")).as("cell"))

    val scored = assigned.join(broadcast(queries), Seq("cell"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("n_id"),
        cosine(col("q_v"), col("v")).as("c"))
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("q_id")).orderBy(col("c").desc, col("n_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("n_id"), col("rank"), (round(col("c"), 4) + lit(0.0)).as("cos"))
      .orderBy("q_id", "rank")
  }

  /** Metadata-filtered ANN serving — the single most common production
    * vector-search request shape: "top-k nearest WHERE <metadata predicate>"
    * for a fixed query batch (the `bm25_topk_served` contract: `vec_id ≤
    * ServeBatchMaxId`, ≤100 queries at any SF, cost ∝ batch). The filter
    * here is per-query label equality (`n.label = q.label` — same-class
    * retrieval; a lang/date filter is the same shape with a different
    * column).
    *
    * PRE-filter, not post-filter: the predicate joins INTO the IVF
    * cell-pruned candidate scan as part of the equi-key — candidates are
    * `(cell, label)` matches, so the filter prunes BEFORE any distance
    * arithmetic. At 100 TB the IVF codes table is laid out partitioned by
    * `(label, cell)` (or the filter column is a partition/Z-order column),
    * so a filtered probe stays a partition-pruned scan; the alternative —
    * filtering AFTER an unfiltered top-k — silently returns < k results
    * whenever fewer than k of the unfiltered top-k share the query's label
    * (the recall contrast [[graft.ops.SimilaritySpec]] documents).
    *
    * Probe budgeting is LABEL-AWARE and adaptive ([[adaptiveProbes]]): a
    * fixed nProbe is calibrated for the UNfiltered corpus, but the label
    * cut shrinks each probed cell by ~1/|labels|, so fixed probing starved
    * the candidate pool (measured recall@10 0.41/0.46 at 4/16 probes in
    * r15's own eval). Instead each query probes its score-ranked cells
    * until the cumulative same-label candidate count reaches k·α — rare
    * labels automatically probe deeper (degrading gracefully to the full
    * label partition when the label has < k·α members, which is exactly
    * when a full same-label scan is the right plan), dense labels stop
    * early. Measured by [[filteredRetrievalEval]] at α = 15: recall@10
    * 1.0 / 0.9149 / 0.9604, MRR 1.0 everywhere, at sf0.01 / sf0.1 / sf1.
    *
    * Exactness: same fitted-centroid-literal argument as [[annIvfTopK]]
    * (one deterministic cell per vector, candidate set = set-equal
    * equi-join on (cell, label) under an integer-arithmetic probe budget,
    * exact-cosine ranking with n_id tiebreak) → generated DuckDB oracle,
    * exact at sf0.01 and sf1.
    */
  def annFilteredTopK(
      spark: SparkSession,
      dir: String,
      k: Int = 10,
      nCentroids: Int = NCentroids,
      minProbe: Int = NProbe,
      alpha: Int = FilteredAlpha): DataFrame = {
    val e = Tables(spark, dir, "embeddings")
      .select(col("vec_id"), asDouble(col("embedding")).as("v"), col("label"))
    val cent = fitCentroids(spark, dir, nCentroids)
    // Persisted for the annIvfTopK reason: the assignment feeds the count
    // directory, the query leg, and the candidate leg as independent
    // subtrees.
    val assigned = assignCells(e, cent).persist()

    val queries = adaptiveProbes(assigned, cent, k, minProbe, alpha)

    // the metadata filter IS a join key: candidates must match the probe
    // cell AND the query's label — never scored, never shuffled otherwise
    val scored = assigned.join(broadcast(queries), Seq("cell", "label"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("n_id"),
        cosine(col("q_v"), col("v")).as("c"))
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("q_id")).orderBy(col("c").desc, col("n_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("n_id"), col("rank"), (round(col("c"), 4) + lit(0.0)).as("cos"))
      .orderBy("q_id", "rank")
  }

  /** Candidate-budget multiplier for the filtered serves: probe until
    * k·α same-label candidates are in reach. α = 15 is the measured knee
    * for this corpus (near-orthogonal synthetic vectors — the hardest
    * IVF regime): recall@10 1.0/0.9149/0.9604 at sf0.01/sf0.1/sf1 vs
    * 0.41/0.46 under the fixed 4-probe rule (a 150-candidate budget probes ~12 of
    * 16 cells at sf0.1's ~12.5 same-label rows per cell; at sf0.01 the
    * ~50-member labels fall below the budget entirely, so the serve
    * degrades to the full label partition — the correct plan there). The
    * budget is a SERVING knob, not a correctness one — the oracle
    * re-derives the identical probe set for any value.
    */
  val FilteredAlpha = 15

  /** Label-aware adaptive probe selection shared by [[annFilteredTopK]]
    * and [[ivfPqFilteredTopK]]: for each served query, walk its
    * score-ranked cells and keep probing until the cumulative count of
    * SAME-LABEL candidates in the probed prefix reaches the k·α budget
    * (always probing at least `minProbe` cells). Returns one
    * `(cell, q_id, q_v, label)` row per probed cell.
    *
    * The per-(cell, label) count directory is ≤ nCentroids × |labels|
    * rows — at 100 TB it is the partition-level row-count metadata the
    * (label, cell)-partitioned codes table already maintains, so the
    * budget decision costs one broadcast of a tiny table and ZERO extra
    * corpus scans; the cumulative walk is a per-query window over
    * nCentroids rows. All integer arithmetic over exactly-ranked cells
    * (score DESC, cell DESC — the [[assignCells]] tie rule), so the
    * probed set is deterministic and re-derivable cross-engine.
    */
  private[ops] def adaptiveProbes(
      assigned: DataFrame, cent: Array[Array[Double]],
      k: Int, minProbe: Int, alpha: Int): DataFrame =
    adaptiveProbesFor(assigned,
      assigned.filter(col("vec_id") <= TextAnalysis.ServeBatchMaxId)
        .select(col("vec_id").as("q_id"), col("v").as("q_v"), col("label")),
      cent, k, minProbe, alpha)

  /** [[adaptiveProbes]] for an ARBITRARY `(q_id, q_v, label)` query frame —
    * the form the streaming filtered serve
    * ([[graft.streaming.VectorStreams.filteredAdcServe]]) feeds each
    * micro-batch through, so stream/batch parity is structural. */
  private[graft] def adaptiveProbesFor(
      assigned: DataFrame, queries: DataFrame, cent: Array[Array[Double]],
      k: Int, minProbe: Int, alpha: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val budget = k.toLong * alpha
    val counts = assigned.groupBy("cell", "label").agg(count(lit(1)).as("cnt"))
    val ranked = queries
      .select(col("q_id"), col("q_v"), col("label"),
        posexplode(reverse(array_sort(array(cellStructs(cent, col("q_v")): _*))))
          .as(Seq("pos", "pc")))
      .select(col("q_id"), col("q_v"), col("label"),
        (col("pos") + 1).as("pr"), col("pc.cell").as("cell"))
    // keep a cell iff the same-label candidate mass STRICTLY BEFORE it is
    // still under budget — the minimal score-ranked prefix reaching k·α
    val wCum = Window.partitionBy("q_id").orderBy("pr")
    ranked.join(broadcast(counts), Seq("cell", "label"), "left")
      .withColumn("cnt", coalesce(col("cnt"), lit(0L)))
      .withColumn("prev", sum(col("cnt")).over(wCum) - col("cnt"))
      .filter(col("pr") <= minProbe || col("prev") < budget)
      .select("q_id", "q_v", "label", "cell")
  }

  /** The `counts` + `rankedq` + `budgeted` + `probes` CTE suffix restating
    * [[adaptiveProbes]] 1:1 on DuckDB (appends to [[cellsSqlCtes]]'s
    * prefix; integer window arithmetic, so exact by construction).
    * `probes` exposes (q_id, q_label, cell).
    */
  private def adaptiveProbesSql(minProbe: Int, budget: Long): String =
    s""", counts AS (
       |  SELECT c.cell, e.label, count(*) AS cnt
       |  FROM cells c JOIN ev e USING (vec_id) GROUP BY 1, 2
       |), rankedq AS (
       |  SELECT s.vec_id AS q_id, e.label AS q_label, s.cell,
       |    row_number() OVER (PARTITION BY s.vec_id ORDER BY s.score DESC, s.cell DESC) AS pr
       |  FROM scored s JOIN ev e ON e.vec_id = s.vec_id
       |  WHERE s.vec_id <= ${TextAnalysis.ServeBatchMaxId}
       |), budgeted AS (
       |  SELECT r.q_id, r.q_label, r.cell, r.pr, coalesce(c.cnt, 0) AS cnt,
       |    sum(coalesce(c.cnt, 0)) OVER (PARTITION BY r.q_id ORDER BY r.pr) AS run
       |  FROM rankedq r LEFT JOIN counts c ON c.cell = r.cell AND c.label = r.q_label
       |), probes AS (
       |  SELECT q_id, q_label, cell FROM budgeted
       |  WHERE pr <= $minProbe OR run - cnt < $budget
       |)""".stripMargin

  /** Multi-table LSH approximate top-k: a vector lands in one bucket PER
    * TABLE; a query's candidate set is the union of its buckets across all
    * tables. For vectors at angle θ the per-table collision probability is
    * (1 − θ/π)^bits, so L tables lift recall to 1 − (1 − p)^L while the
    * scan stays at ~L·n/2^bits candidates per query instead of n.
    *
    * The scale path: the bucket join is an equi-join on (table, bucket) —
    * shuffle-partitioned by bucket id, skew-safe under AQE. Recall < 1 by
    * construction (this corpus's neighbors sit at cos ≈ 0.4–0.5, where
    * sign-LSH is genuinely probabilistic) → rows-only oracle;
    * [[annTopKBrute]] is the exact anchor.
    */
  def annLshTopK(spark: SparkSession, dir: String, k: Int = 10,
      queryPred: Column = col("vec_id") % 50 === 0): DataFrame = {
    val e = Tables(spark, dir, "embeddings")
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
    val buckets = (0 until LshTables).map(l => lshBucket(col("v"), LshBits, LshDims, l))
    // Persisted for the same reason as the minhash banded table: the
    // 60-projection bucket computation feeds both join legs, and Spark
    // plans them as independent subtrees. This is the ANN index artifact —
    // BARE IDS only: carrying the 64-dim vector into every (table, bucket)
    // row would duplicate it 12× through the exchange and drag ~1 KB per
    // candidate through dropDuplicates (the exact pattern that cost 5× in
    // embeddingNearDupLsh before the same fix). Vectors re-attach after
    // the cross-table dedup via two slim joins.
    val banded = e.select(col("vec_id"),
      posexplode(array(buckets: _*)).as(Seq("table", "bucket")))
      .persist()
    // one-shot form: the band table is a cached plan, not an on-disk
    // artifact — no snapshot path to manage
    annLshAgainst(LshIndex(e, banded, bandPath = ""), queryPred, k)
  }

  /** The LSH bucket artifact for a corpus: the slim (vec_id, table,
    * bucket) band table — written, it IS the dense serving index — and
    * the vector frame candidates re-attach to for exact cosine.
    * `bandPath` is the on-disk snapshot, kept for superseded-entry
    * cleanup. */
  private[graft] final case class LshIndex(
      e: DataFrame, banded: DataFrame, bandPath: String)

  private val lshIndexCache =
    scala.collection.concurrent.TrieMap.empty[String, LshIndex]
  private val lshIndexLock = new Object

  /** The session-held LSH index for a corpus directory (the
    * [[graft.ops.TextAnalysis.servedBm25Model]] discipline on the dense
    * side): bucket table and vectors built+persisted once, so an indexed
    * dense serve pays only its query's bucket probes and candidate
    * cosines. The band table is a WRITTEN parquet artifact (not a cached
    * plan), so a serve re-reads a slim stored table — at 100 TB this is
    * the persisted band artifact bucketed by (table, bucket) next to the
    * embeddings table. Unlike the fit caches (plain driver arrays), this
    * holds DataFrames BOUND to a session — entries from another session
    * are rebuilt, never returned, and a superseded snapshot is deleted
    * only once its session has stopped (the [[TextIndex.servingIndex]]
    * lifecycle); the build-or-get is serialized against double-builds. */
  private[graft] def servedLshIndex(spark: SparkSession, dir: String): LshIndex =
    lshIndexLock.synchronized {
      lshIndexCache.get(dir).filter(_.e.sparkSession eq spark).getOrElse {
        lshIndexCache.get(dir)
          .filter(_.e.sparkSession.sparkContext.isStopped)
          .foreach(old => IncrementalIndex.deleteDir(old.bandPath))
        val e = Tables(spark, dir, "embeddings")
          .select(col("vec_id"), asDouble(col("embedding")).as("v"))
        val buckets = (0 until LshTables).map(l => lshBucket(col("v"), LshBits, LshDims, l))
        // scan-parallelism floor on the band artifact: the bucket-probe
        // join fans the band rows against the query batch, so a
        // one-row-group snapshot would serialize every dense serve
        // (IncrementalIndex.writeServing doc)
        // NOT clusterBy("vec_id") (r18 adjudication): the posexplode write
        // already lands each vector's 12 band rows adjacent inside scan-
        // ordered files, so the (q_id, n_id) dedup collapses map-side as
        // is — an explicit hash repartition only added a write-time
        // exchange and measured neutral-to-negative back-to-back
        val (banded, path) = IncrementalIndex.writeServing(
          e.select(col("vec_id"),
            posexplode(array(buckets: _*)).as(Seq("table", "bucket"))),
          "graft_lsh_bands")
        val built = LshIndex(e, banded, path)
        lshIndexCache.put(dir, built)
        built
      }
    }

  /** The LSH scoring tail over a prebuilt [[LshIndex]] — shared verbatim
    * by the one-shot [[annLshTopK]] and the indexed hybrid leg, so parity
    * is structural: bucket-probe candidates, cross-table dedup, exact
    * cosine re-attach, per-query windowed top-k. */
  private[graft] def annLshAgainst(ix: LshIndex, queryPred: Column,
      k: Int = 10): DataFrame = {
    val queries = ix.banded.filter(queryPred)
      .select(col("table"), col("bucket"), col("vec_id").as("q_id"))
    val cand = ix.banded.join(broadcast(queries), Seq("table", "bucket"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("n_id"))
      .dropDuplicates("q_id", "n_id") // union across tables
    val qVecs = ix.e.filter(queryPred)
      .select(col("vec_id").as("q_id"), col("v").as("q_v"))
    val scored = cand
      .join(ix.e.select(col("vec_id").as("n_id"), col("v")), Seq("n_id"))
      .join(broadcast(qVecs), Seq("q_id"))
      .select(col("q_id"), col("n_id"), cosine(col("q_v"), col("v")).as("c"))
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("q_id")).orderBy(col("c").desc, col("n_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("n_id"), col("rank"), (round(col("c"), 4) + lit(0.0)).as("cos"))
      .orderBy("q_id", "rank")
  }

  /** EXACT DuckDB oracle for [[annLshTopK]], generated from the SAME seeded
    * plane generator the query plans with: the 12×5 hyperplanes are emitted
    * as DOUBLE[] literals (Java shortest-repr `toString` round-trips to the
    * identical bits through DuckDB's correctly-rounded parser), each sign
    * bit is `list_dot_product(v, plane) >= 0`, and DuckDB's
    * `list_dot_product` accumulates left-to-right exactly like the
    * codegen'd [[graft.functions.DotProduct]] loop (verified with a
    * catastrophic-cancellation probe: `[1e16, 1, -1e16]·[1,1,1]` returns 0,
    * the left-to-right result), so every bucket id — and therefore the
    * candidate set, the exact-cosine ranking, and the top-k — is
    * reproduced bit-exactly. This retires the recall-floor-only check:
    * LSH internals ARE cross-engine derivable when the projection
    * arithmetic is pinned.
    */
  /** The `ev` + `banded` CTE prefix shared by the generated LSH oracles:
    * every vector's 12 bucket ids, computed from the embedded plane
    * literals. */
  private[ops] def bandedSqlCtes: String = {
    def lit64(a: Array[Double]): String =
      a.mkString("[", ", ", "]::DOUBLE[]")
    val tableSelects = (0 until LshTables).map { t =>
      val bits = (0 until LshBits).map { j =>
        val plane = planeRow(t * 1000 + j, LshDims)
        s"(CASE WHEN list_dot_product(v, ${lit64(plane)}) >= 0 THEN ${1L << j} ELSE 0 END)"
      }.mkString("\n      + ")
      s"  SELECT vec_id, $t AS tbl,\n      $bits AS bucket FROM ev"
    }.mkString("\n  UNION ALL\n")
    s"""WITH ev AS (
       |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
       |), banded AS (
       |$tableSelects
       |)""".stripMargin
  }

  /** SemDeDup-style semantic deduplication (the embedding-space member of
    * the dedup family, alongside token-set MinHash, bit-space SimHash, and
    * substring winnowing): a seeded KMeans coarse quantizer partitions the
    * corpus into cells — the SAME bounded-sample fit discipline as
    * [[annIvfTopK]] — then near-duplicate pruning runs only WITHIN each
    * cell: a vector is dropped iff some lower-id vector in its cell has
    * cosine ≥ τ (deterministic min-id representative, no RNG in the keep
    * rule). Output: every vector with its cell and keep flag.
    *
    * Scale shape: the pairwise stage is an equi-join on the cell id, so
    * its cost is Σ|cell|², bounded by the quantizer granularity (SemDeDup
    * runs ~100k cells at web scale so cells stay small); nothing is ever
    * all-pairs over the corpus. Rows-only oracle — the quantizer is
    * data-fitted, like `ann_ivf_topk` — with determinism, planted-dup
    * recall, and keep-rule semantics spec-pinned instead.
    */
  def semDedupFrom(e: DataFrame, nCentroids: Int = NCentroids, tau: Double = SemDedupTau): DataFrame =
    semDedupWith(e, fitCentroidsFrom(e, nCentroids), tau)

  /** [[semDedupFrom]] under ALREADY-FITTED centroids — the registered query
    * goes through here with the session-cached [[fitCentroids]] result so
    * the query and its generated oracle ([[semDedupSql]]) quantize with the
    * identical literals.
    */
  private[ops] def semDedupWith(
      e: DataFrame, cent: Array[Array[Double]], tau: Double): DataFrame = {
    // Persisted: `assigned` feeds three plan legs (both sides of the
    // within-cell pair join plus the final keep-flag projection).
    val assigned = assignCells(e, cent).persist()
    val a = assigned.select(col("cell"), col("vec_id").as("a_id"), col("v").as("a_v"))
    val b = assigned.select(col("cell"), col("vec_id").as("b_id"), col("v").as("b_v"))
    val dropped = a.join(b, Seq("cell"))
      .filter(col("a_id") < col("b_id") && cosine(col("a_v"), col("b_v")) >= tau)
      .select(col("b_id").as("vec_id"))
      .distinct()
      .withColumn("dropped", lit(true))
    assigned.select("vec_id", "cell")
      .join(dropped, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"),
        coalesce(!col("dropped"), lit(true)).as("is_kept"))
      .orderBy("vec_id")
  }

  /** Registered query: SemDeDup over the embeddings table (session-cached
    * fit — shared with the oracle generator). */
  def semDedup(spark: SparkSession, dir: String): DataFrame =
    semDedupWith(
      Tables(spark, dir, "embeddings")
        .select(col("vec_id"), asDouble(col("embedding")).as("v")),
      fitCentroids(spark, dir, NCentroids), SemDedupTau)

  /** Scalar int8 quantization top-k — the first rung of the quantization
    * ladder (fp64 → int8 here; PQ below is the 64× rung): per vector,
    * symmetric quantization q[i] = floor(v[i]·s + ½) with s = 127/max|v|,
    * scored as ⟨q_a,q_b⟩ / (s_a·s_b) — 8× less scanned than raw doubles at
    * a fraction of PQ's quantization error.
    *
    * Cross-engine exactness WITHOUT rounding armor: the quantized values
    * and their products are integers (exact in doubles), so the dot is
    * reassociation-free; scale and the final division are single IEEE ops.
    * Ranking therefore uses the RAW score — a static oracle, no fitted
    * model anywhere.
    */
  def sq8TopK(spark: SparkSession, dir: String, k: Int = 10): DataFrame = {
    val e = Tables(spark, dir, "embeddings")
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
    val q = e
      .select(col("vec_id"),
        (lit(127.0) / greatest(array_max(transform(col("v"), x => abs(x))), lit(1e-30)))
          .as("sc"),
        col("v"))
      .select(col("vec_id"), col("sc"),
        transform(col("v"), x => floor(x * col("sc") + 0.5).cast("double")).as("q"))
    val queries = q.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("q_id"), col("sc").as("q_sc"), col("q").as("q_q"))
    val scored = q.join(broadcast(queries), col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("n_id"),
        (graft.functions.DotProduct(col("q_q"), col("q")) / (col("q_sc") * col("sc")))
          .as("s"))
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("q_id")).orderBy(col("s").desc, col("n_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("n_id"), col("rank"), (round(col("s"), 4) + lit(0.0)).as("score"))
      .orderBy("q_id", "rank")
  }

  /** Static EXACT oracle for [[sq8TopK]] (see its exactness argument). */
  val sq8TopKSql: String =
    """WITH ev AS (
      |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
      |), sv AS (
      |  SELECT vec_id,
      |    127.0 / greatest(list_max(list_transform(v, x -> abs(x))), 1e-30) AS sc, v
      |  FROM ev
      |), qq AS (
      |  SELECT vec_id, sc, list_transform(v, x -> floor(x * sc + 0.5)) AS q FROM sv
      |)
      |SELECT q_id, n_id, rank, score FROM (
      |  SELECT a.vec_id AS q_id, b.vec_id AS n_id,
      |    row_number() OVER (PARTITION BY a.vec_id
      |      ORDER BY list_dot_product(a.q, b.q) / (a.sc * b.sc) DESC, b.vec_id) AS rank,
      |    round(list_dot_product(a.q, b.q) / (a.sc * b.sc), 4) + 0.0 AS score
      |  FROM qq a JOIN qq b ON b.vec_id <> a.vec_id
      |  WHERE a.vec_id % 50 = 0)
      |WHERE rank <= 10
      |ORDER BY q_id, rank""".stripMargin

  // -------------------------------------------------- binary (sign) BQ ---

  /** One packed sign word: bit j = [v[off+j] ≥ 0]. Words are 32 bits wide
    * carried in BIGINTs so every packed value, XOR, and popcount stays
    * positive — no cross-engine disagreement at the 64-bit sign bit. */
  private def signWord(v: Column, off: Int, bits: Int): Column =
    (0 until bits).map { j =>
      when(element_at(v, off + j + 1) >= 0, shiftleft(lit(1L), j)).otherwise(lit(0L))
    }.reduce[Column](_.bitwiseOR(_))

  /** The packed binary code table: `(vec_id, w0, w1)` — 64 dims → two
    * 32-bit sign words, 16 bytes of scanned payload per vector vs 512 for
    * raw doubles (FAISS `IndexBinaryFlat`'s storage shape). */
  /** Pinned code-table partitioning (r18; the lexical
    * [[TextAnalysis]].postingsParallelism rationale): quantized code
    * columns are EXPENSIVE projections (per-subspace argmins / packed
    * sign words), and left lazy they re-evaluate per JOINED PAIR once the
    * candidate join multiplies the rows (measured: the 80k-pair Hamming
    * expansion cost 1.4 s against lazy codes, 0.25 s against
    * exchange-materialized ones — the kmeans argmin-under-Generate bug in
    * join form). The pinned repartition materializes each row's codes
    * exactly once AND keeps the downstream fan-out scan-parallel when AQE
    * would coalesce the tiny code bytes to one task. At scale the code
    * table is 8–16 B/row — this exchange is ~1% of the raw-vector scan
    * that produced it, and it is the clustering the serving snapshots
    * store anyway. */
  private def codesParallelism(df: DataFrame): Int =
    math.max(df.sparkSession.sparkContext.defaultParallelism,
      df.sparkSession.sessionState.conf.numShufflePartitions)

  private def bqCodes(e: DataFrame, dims: Int = LshDims): DataFrame =
    e.select(col("vec_id"),
      signWord(col("v"), 0, dims / 2).as("w0"),
      signWord(col("v"), dims / 2, dims / 2).as("w1"))
      .repartition(codesParallelism(e), col("vec_id"))

  /** Binary (sign) quantization top-k — the cheapest rung of the
    * quantization ladder, below [[sq8TopK]]: distance = integer Hamming =
    * popcount(XOR) over the packed sign words, ranked ASCENDING with the
    * n_id tiebreak. 32× less scanned than raw doubles and the arithmetic
    * is pure integer end to end — trivially exact cross-engine, static
    * oracle, no fitted model. Production role: the coarse pass in a
    * binary → ADC/exact re-rank serve ([[bqRerankTopK]]); at 100 TB the
    * 16-byte code table is the only thing the first tier ever scans.
    */
  def bqHammingTopK(spark: SparkSession, dir: String, k: Int = 10): DataFrame = {
    val e = Tables(spark, dir, "embeddings")
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
    val codes = bqCodes(e)
    val queries = codes.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("q_id"), col("w0").as("q0"), col("w1").as("q1"))
    val scored = codes.join(broadcast(queries), col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("n_id"),
        expr("bit_count(w0 ^ q0) + bit_count(w1 ^ q1)").cast("int").as("hamming"))
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("q_id")).orderBy(col("hamming").asc, col("n_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("n_id"), col("rank"), col("hamming"))
      .orderBy("q_id", "rank")
  }

  /** The packed-sign-word CTE shared by the three BQ oracles (list sum of
    * disjoint powers of two ≡ the OR chain). Appends after `ev`. */
  private val bqWordsSqlCte: String =
    """, bq AS (
      |  SELECT vec_id,
      |    list_sum([CASE WHEN v[j+1] >= 0 THEN (1::BIGINT << j) ELSE 0 END
      |              FOR j IN range(0, 32)])::BIGINT AS w0,
      |    list_sum([CASE WHEN v[j+33] >= 0 THEN (1::BIGINT << j) ELSE 0 END
      |              FOR j IN range(0, 32)])::BIGINT AS w1
      |  FROM ev
      |)""".stripMargin

  /** The Hamming-ranked shortlist CTE shared by the re-rank oracles:
    * `(q_id, n_id)` pairs with shortlist rank ≤ `shortlist`. */
  private def bqShortSqlCte(name: String, shortlist: Int): String =
    s""", $name AS (
       |  SELECT q_id, n_id FROM (
       |    SELECT q.vec_id AS q_id, e.vec_id AS n_id,
       |      row_number() OVER (PARTITION BY q.vec_id
       |        ORDER BY bit_count(xor(q.w0, e.w0)) + bit_count(xor(q.w1, e.w1)),
       |                 e.vec_id) AS sr
       |    FROM bq q JOIN bq e ON e.vec_id <> q.vec_id
       |    WHERE q.vec_id % 50 = 0)
       |  WHERE sr <= $shortlist
       |)""".stripMargin

  /** Static EXACT oracle for [[bqHammingTopK]] — the same packing, XOR,
    * and popcount in DuckDB's integer functions. */
  val bqHammingTopKSql: String =
    s"""WITH ev AS (
       |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
       |)$bqWordsSqlCte
       |SELECT q_id, n_id, rank, hamming FROM (
       |  SELECT q.vec_id AS q_id, e.vec_id AS n_id,
       |    row_number() OVER (PARTITION BY q.vec_id
       |      ORDER BY bit_count(xor(q.w0, e.w0)) + bit_count(xor(q.w1, e.w1)),
       |               e.vec_id) AS rank,
       |    (bit_count(xor(q.w0, e.w0)) + bit_count(xor(q.w1, e.w1)))::INTEGER AS hamming
       |  FROM bq q JOIN bq e ON e.vec_id <> q.vec_id
       |  WHERE q.vec_id % 50 = 0)
       |WHERE rank <= 10
       |ORDER BY q_id, rank""".stripMargin

  /** Binary shortlist + exact re-rank — the two-tier serve the binary
    * code earns its place in (the [[pqRerankTopK]] pattern with a 32×
    * cheaper first pass): top `shortlist` per query by integer Hamming
    * over the 16-byte codes, then ONLY those re-attach raw vectors for
    * the exact-cosine final top-k. The shortlist rank is integer-exact,
    * the re-rank is the standard rounded-cosine release — so the whole
    * composition carries a static EXACT oracle. (The three-tier
    * binary → ADC → exact form composes the same shortlist with
    * [[adcTopKAgainst]]; the recall bottleneck is the binary tier pinned
    * here, so the two-tier form is what the registry prices.)
    */
  def bqRerankTopK(
      spark: SparkSession, dir: String, k: Int = 10, shortlist: Int = 50): DataFrame = {
    val e = Tables(spark, dir, "embeddings")
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
    val short = bqHammingTopK(spark, dir, shortlist)
      .select(col("q_id"), col("n_id"))
    val queries = e.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("q_id"), col("v").as("q_v"))
    val rer = short
      .join(e.select(col("vec_id").as("n_id"), col("v")), Seq("n_id"))
      .join(broadcast(queries), Seq("q_id"))
      .select(col("q_id"), col("n_id"), cosine(col("q_v"), col("v")).as("c"))
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("q_id")).orderBy(col("c").desc, col("n_id"))
    rer.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("n_id"), col("rank"), (round(col("c"), 4) + lit(0.0)).as("cos"))
      .orderBy("q_id", "rank")
  }

  /** Static EXACT oracle for [[bqRerankTopK]]: the Hamming shortlist CTE
    * (integer window) + the exact-cosine re-rank tail of
    * [[pqRerankTopKSql]]. */
  def bqRerankTopKSql(k: Int = 10, shortlist: Int = 50): String =
    s"""WITH ev AS (
       |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
       |)$bqWordsSqlCte${bqShortSqlCte("short", shortlist)}
       |SELECT q_id, n_id, rank, cos FROM (
       |  SELECT s.q_id, s.n_id,
       |    row_number() OVER (PARTITION BY s.q_id
       |      ORDER BY list_cosine_similarity(qe.v, ne.v) DESC, s.n_id) AS rank,
       |    round(list_cosine_similarity(qe.v, ne.v), 4) + 0.0 AS cos
       |  FROM short s
       |  JOIN ev qe ON qe.vec_id = s.q_id
       |  JOIN ev ne ON ne.vec_id = s.n_id)
       |WHERE rank <= $k
       |ORDER BY q_id, rank""".stripMargin

  /** The FULL three-tier serve the binary code exists for
    * (binary → ADC → exact): integer-Hamming coarse pass over the 16-byte
    * sign codes takes `short1` per query, the survivors' 8-byte PQ codes
    * refine by ADC to `short2`, and only those re-attach raw vectors for
    * the exact-cosine final top-k. Each tier scans an order of magnitude
    * fewer, richer candidates — at 100 TB tier 1 is the only corpus-wide
    * scan and it reads 16 bytes/vector. Oracle is EXACT and compositional:
    * the integer Hamming shortlist, the fitted-codebook LUT/codes CTEs,
    * and the rounded cosine tail each reuse their committed templates.
    */
  def bqAdcRerankTopK(
      spark: SparkSession, dir: String, k: Int = 10,
      short1: Int = 200, short2: Int = 50,
      m: Int = PqM, ks: Int = PqKs): DataFrame = {
    val e = Tables(spark, dir, "embeddings")
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
    val books = fitPq(spark, dir, m, ks)
    val codes = assignCodes(e, books, Seq("vec_id"))
    val s1 = bqHammingTopK(spark, dir, short1).select(col("q_id"), col("n_id"))
    val queries = e.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("q_id"), col("v").as("q_v"))
    val qlut = queries.select(col("q_id"), adcLut(books).as("lut"))
    import org.apache.spark.sql.expressions.Window
    val wAdc = Window.partitionBy(col("q_id")).orderBy(col("adc").desc, col("n_id"))
    val s2 = s1.join(codes.withColumnRenamed("vec_id", "n_id"), Seq("n_id"))
      .join(broadcast(qlut), Seq("q_id"))
      .select(col("q_id"), col("n_id"), (round(adcScore(ks, m), 4) + lit(0.0)).as("adc"))
      .withColumn("sr", row_number().over(wAdc))
      .filter(col("sr") <= short2)
      .select("q_id", "n_id")
    val rer = s2
      .join(e.select(col("vec_id").as("n_id"), col("v")), Seq("n_id"))
      .join(broadcast(queries), Seq("q_id"))
      .select(col("q_id"), col("n_id"), cosine(col("q_v"), col("v")).as("c"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("c").desc, col("n_id"))
    rer.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("n_id"), col("rank"), (round(col("c"), 4) + lit(0.0)).as("cos"))
      .orderBy("q_id", "rank")
  }

  /** EXACT generated oracle for [[bqAdcRerankTopK]] — the three committed
    * tier templates chained: Hamming shortlist, ADC refine over shortlist
    * candidates only, exact-cosine tail. */
  private[ops] def bqAdcRerankTopKSql(
      books: Array[Array[Array[Double]]], k: Int = 10,
      short1: Int = 200, short2: Int = 50): String =
    s"""WITH ev AS (
       |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
       |)${pqSqlCtes(books)}$bqWordsSqlCte${bqShortSqlCte("short1", short1)}, adc AS (
       |  SELECT s.q_id, s.n_id,
       |    round(list_reduce(list(l.pd ORDER BY l.j), (a, b) -> a + b), 4) + 0.0 AS adc
       |  FROM short1 s
       |  JOIN codesub cs ON cs.vec_id = s.n_id
       |  JOIN lut l ON l.q_id = s.q_id AND l.j = cs.j AND l.code = cs.code
       |  GROUP BY s.q_id, s.n_id
       |), short2 AS (
       |  SELECT q_id, n_id FROM (
       |    SELECT q_id, n_id,
       |      row_number() OVER (PARTITION BY q_id ORDER BY adc DESC, n_id) AS sr
       |    FROM adc)
       |  WHERE sr <= $short2
       |)
       |SELECT q_id, n_id, rank, cos FROM (
       |  SELECT s.q_id, s.n_id,
       |    row_number() OVER (PARTITION BY s.q_id
       |      ORDER BY list_cosine_similarity(qe.v, ne.v) DESC, s.n_id) AS rank,
       |    round(list_cosine_similarity(qe.v, ne.v), 4) + 0.0 AS cos
       |  FROM short2 s
       |  JOIN ev qe ON qe.vec_id = s.q_id
       |  JOIN ev ne ON ne.vec_id = s.n_id)
       |WHERE rank <= $k
       |ORDER BY q_id, rank""".stripMargin

  // ---------------------------------------------------------------- PQ ---

  // The coarse-quantizer family's shared parameters: the registered queries,
  // the session fit cache, AND the generated oracles all read these — a
  // drift between any two silently de-pairs a query from its oracle.
  val NCentroids = 16
  val NProbe = 4
  val SemDedupTau = 0.45

  val PqM = 8   // subspaces (64 dims / 8 = 8-dim subvectors)
  val PqKs = 16 // codes per subspace → a 4-bit code, 8 codes per vector

  /** Product-quantization codebooks: an independent [[lloyd]] fit per
    * 8-dim subspace over the shared [[fitSample]]. PQ is the standard
    * memory-side ANN compression (Jégou et al., FAISS's `IndexPQ`): a
    * vector is stored as `m` small codes — here 8×4 bits vs 64×8-byte
    * doubles, a 128× compression — and query-time scoring reads ONLY the
    * code table. At 100 TB that is the difference between scanning the
    * corpus and scanning 1/128th of it; the fit is the same bounded
    * driver-side model artifact as [[fitCentroids]].
    */
  private[graft] def fitPqFrom(e: DataFrame, m: Int, ks: Int): Array[Array[Array[Double]]] = {
    val sample = fitSample(e)
    require(sample.length >= ks, s"PQ fit sample (${sample.length}) smaller than ks=$ks")
    val dims = sample.head.length
    require(dims % m == 0, s"dims $dims not divisible by m=$m subspaces")
    val dsub = dims / m
    Array.tabulate(m)(j => lloyd(sample.map(_.slice(j * dsub, (j + 1) * dsub)), ks))
  }

  private val pqCache =
    scala.collection.concurrent.TrieMap.empty[(String, Int, Int), Array[Array[Array[Double]]]]

  private[graft] def fitPq(spark: SparkSession, dir: String, m: Int, ks: Int)
      : Array[Array[Array[Double]]] =
    pqCache.getOrElseUpdate((dir, m, ks), {
      val e = Tables(spark, dir, "embeddings")
        .select(col("vec_id"), asDouble(col("embedding")).as("v"))
      fitPqFrom(e, m, ks)
    })

  /** RESIDUAL PQ codebooks — fitted on `v − centroid(cell(v))` instead of
    * the raw vectors. This is where IndexIVFPQ's recall at equal code size
    * comes from (Jégou, Douze, Schmid, "Product Quantization for Nearest
    * Neighbor Search", §IV-A): after coarse quantization the residual
    * carries only the within-cell variance, so the same `m × ks` budget
    * spends its codewords on a much smaller signal. The fit pipeline is the
    * shared bounded [[fitSample]] + the SAME [[bestCellIdx]] assignment rule
    * the distributed [[assignCells]] uses, so driver-fit residuals and the
    * plan's residual column quantize identically.
    */
  private[ops] def fitPqResidualFrom(
      e: DataFrame, cent: Array[Array[Double]], m: Int, ks: Int)
      : Array[Array[Array[Double]]] = {
    val sample = fitSample(e)
    require(sample.length >= ks, s"PQ fit sample (${sample.length}) smaller than ks=$ks")
    val halfNorms = cent.map(c => c.map(x => x * x).sum / 2.0)
    val residuals = sample.map { v =>
      val c = cent(bestCellIdx(v, cent, halfNorms))
      Array.tabulate(v.length)(i => v(i) - c(i))
    }
    val dims = residuals.head.length
    require(dims % m == 0, s"dims $dims not divisible by m=$m subspaces")
    val dsub = dims / m
    Array.tabulate(m)(j => lloyd(residuals.map(_.slice(j * dsub, (j + 1) * dsub)), ks))
  }

  private val pqResidualCache =
    scala.collection.concurrent.TrieMap.empty[(String, Int, Int, Int), Array[Array[Array[Double]]]]

  private[graft] def fitPqResidual(
      spark: SparkSession, dir: String, nCentroids: Int, m: Int, ks: Int)
      : Array[Array[Array[Double]]] =
    pqResidualCache.getOrElseUpdate((dir, nCentroids, m, ks), {
      val e = Tables(spark, dir, "embeddings")
        .select(col("vec_id"), asDouble(col("embedding")).as("v"))
      fitPqResidualFrom(e, fitCentroids(spark, dir, nCentroids), m, ks)
    })

  /** `v − centroid(cell)` as pure column arithmetic: the centroid table is a
    * plan-time nested-array literal indexed by the row's cell id, and the
    * subtraction is one IEEE op per dimension — bit-identical to the
    * driver-side residuals [[fitPqResidualFrom]] fits on and to the oracle's
    * `list_transform(v, (x, i) -> x - c[i])`.
    */
  private def residualCol(cent: Array[Array[Double]], v: Column, cell: Column): Column =
    zip_with(v, element_at(typedLit(cent.map(_.toSeq).toSeq), cell + 1), (x, c) => x - c)

  /** PQ encoding as pure codegen'd column arithmetic — per subspace j,
    * `code_j` = the L2-nearest codeword of `v[j·dsub … )`, via the same
    * argmax ⟨v,c⟩ − |c|²/2 / ties-to-highest-code rule as [[assignCells]]
    * (KMeans codewords are L2-Voronoi). Returns `keep` columns + the `m`
    * code columns — the compact index artifact; the 64-dim vector is
    * deliberately NOT carried.
    */
  private[graft] def assignCodes(
      e: DataFrame, books: Array[Array[Array[Double]]], keep: Seq[String]): DataFrame = {
    val dsub = books(0)(0).length
    val codeCols = books.zipWithIndex.map { case (book, j) =>
      val sub = slice(col("v"), j * dsub + 1, dsub)
      val scored = book.zipWithIndex.map { case (c, i) =>
        val halfNormSq = c.map(x => x * x).sum / 2.0
        struct((graft.functions.DotProduct(sub, lit(c)) - halfNormSq).as("score"),
          lit(i).as("code"))
      }
      element_at(array_sort(array(scored: _*)), -1).getField("code").as(s"code$j")
    }
    // NOT materialized through a pinned exchange like [[bqCodes]] (r18
    // adjudication): every consumer already touches the code columns
    // through EQUI joins / writes / caches that evaluate them once per
    // vector — the family A/B'd flat with the exchange added, so the
    // extra code-table shuffle is pure cost. bqCodes differs because its
    // Hamming tier is a non-equi pair expansion that re-evaluated the
    // projection per pair.
    e.select(keep.map(col) ++ codeCols: _*)
  }

  /** The per-QUERY ADC lookup table: all m×ks subvector·codeword dots as
    * one flat array column, computed in the query-side projection — ONCE
    * per query row, BELOW the broadcast exchange — so the per-pair work in
    * the scan is array reads, not dot products (the first cut evaluated
    * this array per joined pair, which made ADC 16× the arithmetic of the
    * brute cosine it exists to avoid).
    */
  private[ops] def adcLut(books: Array[Array[Array[Double]]]): Column = {
    val dsub = books(0)(0).length
    array(books.zipWithIndex.flatMap { case (book, j) =>
      val qsub = slice(col("q_v"), j * dsub + 1, dsub)
      book.map(c => graft.functions.DotProduct(qsub, lit(c)))
    }: _*)
  }

  /** The ADC (asymmetric distance computation) score of a coded candidate:
    * per subspace, one read of the query's [[adcLut]] at `j·ks + code_j`,
    * summed in fixed subspace order j = 0…m−1 (the oracle re-states the
    * same left-to-right order; ranking uses the ROUNDED score, the same
    * reassociation armor as `bm25_topk`). Bit-identical to computing the
    * dots in place — the LUT holds the very same doubles.
    */
  private[ops] def adcScore(ks: Int, m: Int): Column =
    (0 until m).map { j =>
      element_at(col("lut"), lit(j * ks) + col(s"code$j") + 1)
    }.reduce[Column](_ + _)

  /** PQ-ADC top-k: the full-corpus scan of [[annTopKBrute]], but over the
    * 8-byte code table instead of the 512-byte vectors — scoring is m
    * LUT reads per candidate instead of a 64-dim cosine. Approximate by
    * construction (quantization error), so the spec pins a recall floor
    * against the brute anchor; the oracle ([[pqAdcTopKSql]]) is
    * nonetheless EXACT, because both engines quantize and score from the
    * identical codebook literals.
    *
    * Scale shape: scan of a codes table joined to a broadcast query batch —
    * shuffle-free, and the scanned bytes are 1/64th of the raw corpus.
    */
  def pqAdcTopK(
      spark: SparkSession, dir: String, k: Int = 10,
      m: Int = PqM, ks: Int = PqKs): DataFrame = {
    val e = Tables(spark, dir, "embeddings")
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
    val books = fitPq(spark, dir, m, ks)
    val codes = assignCodes(e, books, Seq("vec_id"))
    adcTopKAgainst(codes,
      e.filter(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("q_id"), col("v").as("q_v")),
      books, k)
  }

  /** The ADC scan+rank tail shared by [[pqAdcTopK]] and the stream-static
    * serving twin ([[graft.streaming.VectorStreams]]): score an arbitrary
    * query batch (`q_id`, `q_v`) against an already-CODED corpus. The
    * query side collapses to (id, LUT) before the broadcast — the full
    * vector never crosses the exchange.
    */
  private[graft] def adcTopKAgainst(
      codes: DataFrame, queries: DataFrame,
      books: Array[Array[Array[Double]]], k: Int): DataFrame = {
    val m = books.length
    val ks = books(0).length
    val qlut = queries.select(col("q_id"), adcLut(books).as("lut"))
    val scored = codes.join(broadcast(qlut), col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("n_id"),
        (round(adcScore(ks, m), 4) + lit(0.0)).as("adc"))
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("q_id")).orderBy(col("adc").desc, col("n_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("n_id"), col("rank"), col("adc"))
      .orderBy("q_id", "rank")
  }

  /** PQ shortlist + exact re-rank — the production retrieval pattern
    * (ADC is a SHORTLIST device, not a final ranking): the coded scan
    * takes the top `shortlist` candidates per query by ADC, then ONLY
    * those re-attach their full vectors for an exact-cosine final top-k.
    * Cost at scale: one pass over the 8-byte codes + `shortlist` (not
    * corpus-sized) exact cosines per query; recall inherits the ADC
    * shortlist's, while the final ordering is exact — the spec pins that
    * re-ranking beats raw ADC against the brute anchor.
    *
    * Scale shape: the re-attach is a slim equi-join of the shortlist ids
    * against the vector table — candidates × 1, never corpus × corpus.
    */
  def pqRerankTopK(
      spark: SparkSession, dir: String, k: Int = 10, shortlist: Int = 50,
      m: Int = PqM, ks: Int = PqKs): DataFrame = {
    val e = Tables(spark, dir, "embeddings")
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
    val books = fitPq(spark, dir, m, ks)
    val codes = assignCodes(e, books, Seq("vec_id"))
    val queries = e.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("q_id"), col("v").as("q_v"))
    val qlut = queries.select(col("q_id"), adcLut(books).as("lut"))
    import org.apache.spark.sql.expressions.Window
    val wAdc = Window.partitionBy(col("q_id")).orderBy(col("adc").desc, col("n_id"))
    val short = codes.join(broadcast(qlut), col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("n_id"), (round(adcScore(ks, m), 4) + lit(0.0)).as("adc"))
      .withColumn("sr", row_number().over(wAdc))
      .filter(col("sr") <= shortlist)
      .select(col("q_id"), col("n_id"))
    val rer = short
      .join(e.select(col("vec_id").as("n_id"), col("v")), Seq("n_id"))
      .join(broadcast(queries), Seq("q_id"))
      .select(col("q_id"), col("n_id"), cosine(col("q_v"), col("v")).as("c"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("c").desc, col("n_id"))
    rer.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("n_id"), col("rank"), (round(col("c"), 4) + lit(0.0)).as("cos"))
      .orderBy("q_id", "rank")
  }

  /** EXACT generated oracle for [[pqRerankTopK]]: the [[pqAdcTopKSql]]
    * shortlist ranking (same rounded-ADC window) capped at `shortlist`,
    * then the exact-cosine re-rank [[annIvfTopKSql]]-style.
    */
  private[ops] def pqRerankTopKSql(
      books: Array[Array[Array[Double]]], k: Int = 10, shortlist: Int = 50): String =
    s"""WITH ev AS (
       |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
       |)${pqSqlCtes(books)}, adc AS (
       |  SELECT l.q_id, cs.vec_id AS n_id, round(list_reduce(list(l.pd ORDER BY l.j), (a, b) -> a + b), 4) + 0.0 AS adc
       |  FROM codesub cs JOIN lut l ON l.j = cs.j AND l.code = cs.code
       |  WHERE cs.vec_id <> l.q_id
       |  GROUP BY l.q_id, cs.vec_id
       |), short AS (
       |  SELECT q_id, n_id FROM (
       |    SELECT q_id, n_id,
       |      row_number() OVER (PARTITION BY q_id ORDER BY adc DESC, n_id) AS sr
       |    FROM adc)
       |  WHERE sr <= $shortlist
       |)
       |SELECT q_id, n_id, rank, cos FROM (
       |  SELECT s.q_id, s.n_id,
       |    row_number() OVER (PARTITION BY s.q_id
       |      ORDER BY list_cosine_similarity(qe.v, ne.v) DESC, s.n_id) AS rank,
       |    round(list_cosine_similarity(qe.v, ne.v), 4) + 0.0 AS cos
       |  FROM short s
       |  JOIN ev qe ON qe.vec_id = s.q_id
       |  JOIN ev ne ON ne.vec_id = s.n_id)
       |WHERE rank <= $k
       |ORDER BY q_id, rank""".stripMargin

  /** IVF+PQ top-k — the composition FAISS ships as `IndexIVFPQ` and the
    * shape a 100 TB ANN service actually runs: the coarse quantizer prunes
    * the scan to `nProbe`/`nCentroids` of the corpus (cell equi-join on a
    * partitioning column), and PQ compresses what remains 64×. Shares both
    * fitted models (and their session caches) with [[annIvfTopK]] /
    * [[pqAdcTopK]], so the generated oracle composes their literal CTEs.
    */
  def ivfPqTopK(
      spark: SparkSession, dir: String, k: Int = 10,
      nCentroids: Int = NCentroids, nProbe: Int = NProbe,
      m: Int = PqM, ks: Int = PqKs): DataFrame = {
    val e = Tables(spark, dir, "embeddings")
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
    val cent = fitCentroids(spark, dir, nCentroids)
    val books = fitPq(spark, dir, m, ks)
    // Persisted: the assigned+coded corpus feeds the query leg and the
    // candidate leg (same two-subtree plan as annIvfTopK).
    val assigned = assignCells(e, cent).persist()
    val codes = assignCodes(assigned, books, Seq("vec_id", "cell"))
    val queries = assigned.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("q_id"), col("v").as("q_v"))
      .withColumn("probes",
        slice(reverse(array_sort(array(cellStructs(cent, col("q_v")): _*))), 1, nProbe))
      .select(col("q_id"), adcLut(books).as("lut"),
        explode(col("probes.cell")).as("cell"))
    val scored = codes.join(broadcast(queries), Seq("cell"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("n_id"),
        (round(adcScore(ks, m), 4) + lit(0.0)).as("adc"))
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("q_id")).orderBy(col("adc").desc, col("n_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("n_id"), col("rank"), col("adc"))
      .orderBy("q_id", "rank")
  }

  /** The `books` CTE: codebooks + |c|²/2 as DOUBLE[] literals (same
    * round-trip argument as [[cellsSqlCtes]]). */
  private def booksSqlCte(books: Array[Array[Array[Double]]]): String = {
    val rows = books.zipWithIndex.flatMap { case (book, j) =>
      book.zipWithIndex.map { case (c, i) =>
        val halfNormSq = c.map(x => x * x).sum / 2.0
        s"($j, $i, ${c.mkString("[", ", ", "]")}::DOUBLE[], ${halfNormSq}::DOUBLE)"
      }
    }.mkString(",\n    ")
    s""", books AS (
       |  SELECT * FROM (VALUES
       |    $rows) AS t(j, code, c, hn)
       |)""".stripMargin
  }

  /** The `subs` + `codesub` CTEs: each `src` vector's per-subspace code
    * under the same argmax/ties-to-highest rule as [[assignCodes]]. DuckDB
    * list slices are 1-based inclusive, matching Spark's
    * `slice(v, j·dsub+1, dsub)`. Parameterized by the source CTE so the
    * residual oracle codes `rev` (residuals) with the identical text.
    */
  private def codesubSqlCtes(src: String, dsub: Int, m: Int): String =
    s""", subs AS (
       |  SELECT vec_id, j, v[j*$dsub+1 : j*$dsub+$dsub] AS sv
       |  FROM $src CROSS JOIN (SELECT unnest(range($m))::INT AS j)
       |), codesub AS (
       |  SELECT vec_id, j, code FROM (
       |    SELECT s.vec_id, s.j, b.code,
       |      row_number() OVER (PARTITION BY s.vec_id, s.j
       |        ORDER BY list_dot_product(s.sv, b.c) - b.hn DESC, b.code DESC) AS rn
       |    FROM subs s JOIN books b ON b.j = s.j) WHERE rn = 1
       |)""".stripMargin

  /** The `books` + `codesub` + `lut` CTE suffix shared by the two raw-vector
    * PQ oracles (appended after an `ev` CTE): codebooks, codes, and the
    * per-query LUT of subvector·codeword dots.
    */
  private[ops] def pqSqlCtes(books: Array[Array[Array[Double]]],
      qPred: String = "q.vec_id % 50 = 0"): String = {
    val dsub = books(0)(0).length
    s"""${booksSqlCte(books)}${codesubSqlCtes("ev", dsub, books.length)}, lut AS (
       |  SELECT q.vec_id AS q_id, b.j, b.code,
       |    list_dot_product(q.v[b.j*$dsub+1 : b.j*$dsub+$dsub], b.c) AS pd
       |  FROM ev q CROSS JOIN books b WHERE $qPred
       |)""".stripMargin
  }

  /** EXACT generated oracle for [[pqAdcTopK]]: codes and LUT from the
    * fitted codebook literals, ADC = SUM of the 8 LUT reads (rounded before
    * ranking — see [[adcScore]]), brute scan over the coded corpus.
    */
  private[ops] def pqAdcTopKSql(books: Array[Array[Array[Double]]], k: Int = 10): String =
    s"""WITH ev AS (
       |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
       |)${pqSqlCtes(books)}, adc AS (
       |  SELECT l.q_id, cs.vec_id AS n_id, round(list_reduce(list(l.pd ORDER BY l.j), (a, b) -> a + b), 4) + 0.0 AS adc
       |  FROM codesub cs JOIN lut l ON l.j = cs.j AND l.code = cs.code
       |  WHERE cs.vec_id <> l.q_id
       |  GROUP BY l.q_id, cs.vec_id
       |)
       |SELECT q_id, n_id, rank, adc FROM (
       |  SELECT q_id, n_id,
       |    row_number() OVER (PARTITION BY q_id ORDER BY adc DESC, n_id) AS rank, adc
       |  FROM adc)
       |WHERE rank <= $k
       |ORDER BY q_id, rank""".stripMargin

  /** EXACT generated oracle for [[ivfPqTopK]]: [[cellsSqlCtes]]'s coarse
    * cells + [[pqSqlCtes]]'s codes/LUT (they share the `ev` CTE), probe
    * selection and cell-equi-join candidates as in [[annIvfTopKSql]], ADC
    * ranking as in [[pqAdcTopKSql]].
    */
  private[ops] def ivfPqTopKSql(
      cent: Array[Array[Double]], books: Array[Array[Array[Double]]],
      k: Int = 10, nProbe: Int = NProbe): String =
    s"""${cellsSqlCtes(cent)}${pqSqlCtes(books)}, probes AS (
       |  SELECT vec_id AS q_id, cell FROM (
       |    SELECT vec_id, cell,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY score DESC, cell DESC) AS pr
       |    FROM scored WHERE vec_id % 50 = 0)
       |  WHERE pr <= $nProbe
       |), cand AS (
       |  SELECT p.q_id, c.vec_id AS n_id
       |  FROM probes p JOIN cells c ON c.cell = p.cell
       |  WHERE c.vec_id <> p.q_id
       |), adc AS (
       |  SELECT cd.q_id, cd.n_id, round(list_reduce(list(l.pd ORDER BY l.j), (a, b) -> a + b), 4) + 0.0 AS adc
       |  FROM cand cd
       |  JOIN codesub cs ON cs.vec_id = cd.n_id
       |  JOIN lut l ON l.q_id = cd.q_id AND l.j = cs.j AND l.code = cs.code
       |  GROUP BY cd.q_id, cd.n_id
       |)
       |SELECT q_id, n_id, rank, adc FROM (
       |  SELECT q_id, n_id,
       |    row_number() OVER (PARTITION BY q_id ORDER BY adc DESC, n_id) AS rank, adc
       |  FROM adc)
       |WHERE rank <= $k
       |ORDER BY q_id, rank""".stripMargin

  /** [[annFilteredTopK]]'s ADC tier — metadata-filtered serving over the
    * CODES table: the same fixed ≤100-query batch, the same label-aware
    * ADAPTIVE probe budget ([[adaptiveProbes]] — probe score-ranked cells
    * until k·α same-label candidates are in reach), and the per-query
    * label predicate pruned through the (cell, label) candidate equi-join
    * BEFORE any ADC arithmetic, then scored by LUT reads exactly as
    * [[ivfPqTopK]]. This is the full production filtered-vector-search
    * stack: at 100 TB the 8-byte code table partitions by (label, cell),
    * so a filtered probe is a partition-pruned scan of codes — the raw
    * vectors never enter the query at all — and the budget reads the
    * partition row-count directory, not the data. Oracle is EXACT (shared
    * fitted centroid + codebook literals, the quantizer-oracle family;
    * the probe budget is integer arithmetic).
    */
  def ivfPqFilteredTopK(
      spark: SparkSession, dir: String, k: Int = 10,
      nCentroids: Int = NCentroids, minProbe: Int = NProbe,
      m: Int = PqM, ks: Int = PqKs, alpha: Int = FilteredAlpha): DataFrame = {
    val e = Tables(spark, dir, "embeddings")
      .select(col("vec_id"), asDouble(col("embedding")).as("v"), col("label"))
    ivfPqFilteredTopKFor(spark, dir,
      e.filter(col("vec_id") <= TextAnalysis.ServeBatchMaxId)
        .select(col("vec_id").as("q_id"), col("v").as("q_v"), col("label")),
      k, nCentroids, minProbe, m, ks, alpha)
  }

  /** The filtered serve's STATIC index state — fitted models, the
    * persisted cell assignment (which the probe budget's count directory
    * and the candidate scan both read), and the coded corpus. Built ONCE
    * per serving query (the [[graft.streaming.VectorStreams.adcServe]]
    * index-outside-the-loop discipline): a per-micro-batch rebuild would
    * re-fit and re-assign the whole corpus every batch and leak one
    * persisted frame per batch. */
  private[graft] final case class FilteredIndex(
      cent: Array[Array[Double]], books: Array[Array[Array[Double]]],
      assigned: DataFrame, codes: DataFrame)

  private[graft] def buildFilteredIndex(
      spark: SparkSession, dir: String, nCentroids: Int = NCentroids,
      m: Int = PqM, ks: Int = PqKs): FilteredIndex = {
    val e = Tables(spark, dir, "embeddings")
      .select(col("vec_id"), asDouble(col("embedding")).as("v"), col("label"))
    val cent = fitCentroids(spark, dir, nCentroids)
    val books = fitPq(spark, dir, m, ks)
    val assigned = assignCells(e, cent).persist()
    FilteredIndex(cent, books, assigned,
      assignCodes(assigned, books, Seq("vec_id", "cell", "label")))
  }

  /** Release the filtered-serve index's cached state (stream teardown). */
  private[graft] def releaseFilteredIndex(ix: FilteredIndex): Unit = {
    ix.assigned.unpersist(); ()
  }

  /** [[ivfPqFilteredTopK]] for an ARBITRARY `(q_id, q_v, label)` query
    * frame — one-shot form: builds the index state and scores (the
    * registered batch query is exactly this under the served-batch
    * filter). A serving LOOP holds a [[buildFilteredIndex]] result and
    * calls [[ivfPqFilteredTopKAgainst]] per batch instead. */
  private[graft] def ivfPqFilteredTopKFor(
      spark: SparkSession, dir: String, qFrame: DataFrame, k: Int = 10,
      nCentroids: Int = NCentroids, minProbe: Int = NProbe,
      m: Int = PqM, ks: Int = PqKs, alpha: Int = FilteredAlpha): DataFrame =
    ivfPqFilteredTopKAgainst(
      buildFilteredIndex(spark, dir, nCentroids, m, ks), qFrame, k, minProbe, alpha)

  /** The scoring core over an already-built [[FilteredIndex]]. */
  private[graft] def ivfPqFilteredTopKAgainst(
      ix: FilteredIndex, qFrame: DataFrame, k: Int = 10,
      minProbe: Int = NProbe, alpha: Int = FilteredAlpha): DataFrame = {
    val m = ix.books.length
    val ks = ix.books(0).length
    val codes = ix.codes
    val queries = adaptiveProbesFor(ix.assigned, qFrame, ix.cent, k, minProbe, alpha)
      .select(col("q_id"), col("label"), adcLut(ix.books).as("lut"), col("cell"))
    // + 0.0 normalizes IEEE −0.0: a tiny negative ADC sum rounding to
    // zero keeps its sign bit on some engines (the community_modularity
    // lesson — observed live at sf0.01 on this query's batch)
    val scored = codes.join(broadcast(queries), Seq("cell", "label"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("n_id"),
        (round(adcScore(ks, m), 4) + lit(0.0)).as("adc"))
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("q_id")).orderBy(col("adc").desc, col("n_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("n_id"), col("rank"), col("adc"))
      .orderBy("q_id", "rank")
  }

  /** EXACT generated oracle for [[ivfPqFilteredTopK]]: [[ivfPqTopKSql]]
    * under the served batch with the adaptive probe budget
    * ([[adaptiveProbesSql]]) and the label predicate joined into the
    * candidate step — where the Spark plan carries it as an equi-key. */
  private[ops] def ivfPqFilteredTopKSql(
      cent: Array[Array[Double]], books: Array[Array[Array[Double]]],
      k: Int = 10, minProbe: Int = NProbe, alpha: Int = FilteredAlpha): String =
    s"""${cellsSqlCtes(cent, "  SELECT vec_id, embedding::DOUBLE[] AS v, label FROM embeddings")}${
        pqSqlCtes(books, s"q.vec_id <= ${TextAnalysis.ServeBatchMaxId}")}${
        adaptiveProbesSql(minProbe, k.toLong * alpha)}, cand AS (
       |  SELECT p.q_id, c.vec_id AS n_id
       |  FROM probes p
       |  JOIN cells c ON c.cell = p.cell
       |  JOIN ev ne ON ne.vec_id = c.vec_id AND ne.label = p.q_label
       |  WHERE c.vec_id <> p.q_id
       |), adc AS (
       |  SELECT cd.q_id, cd.n_id,
       |    round(list_reduce(list(l.pd ORDER BY l.j), (a, b) -> a + b), 4) + 0.0 AS adc
       |  FROM cand cd
       |  JOIN codesub cs ON cs.vec_id = cd.n_id
       |  JOIN lut l ON l.q_id = cd.q_id AND l.j = cs.j AND l.code = cs.code
       |  GROUP BY cd.q_id, cd.n_id
       |)
       |SELECT q_id, n_id, rank, adc FROM (
       |  SELECT q_id, n_id,
       |    row_number() OVER (PARTITION BY q_id ORDER BY adc DESC, n_id) AS rank, adc
       |  FROM adc)
       |WHERE rank <= $k
       |ORDER BY q_id, rank""".stripMargin

  /** IVF+PQ with RESIDUAL encoding — the production IndexIVFPQ layout:
    * [[ivfPqTopK]] PQ-encodes raw vectors, this encodes
    * `r = v − centroid(cell(v))` (codebooks from [[fitPqResidual]]), and the
    * reconstruction is `v̂ = c + r̂`, so the ADC score is
    * `⟨q, c(cell)⟩ + ⟨q, r̂⟩ ≈ ⟨q, v⟩` — the per-probed-cell constant plus
    * the standard LUT of RAW-query·residual-codeword dots. (This is the
    * inner-product-metric residual formulation; ranking by
    * `⟨q−c, v̂−c⟩` instead would drop a per-candidate `⟨c, v⟩` cross-term
    * and measurably LOSES recall — tried and measured 0.22 vs raw 0.26 on
    * sf0.01 before switching to the `⟨q, v̂⟩` estimator.) Same scale shape
    * as [[ivfPqTopK]]: cell-pruned scan over 8-byte codes, LUT + cell
    * constant computed below the broadcast. Oracle is EXACT: it re-states
    * this same `⟨q, c⟩ + ⟨q, r̂⟩` estimator (raw-query LUT + per-cell
    * constant, identical add order) with the residual column and both
    * fitted models re-derived from embedded literals
    * ([[ivfPqResidualTopKSql]]).
    */
  def ivfPqResidualTopK(
      spark: SparkSession, dir: String, k: Int = 10,
      nCentroids: Int = NCentroids, nProbe: Int = NProbe,
      m: Int = PqM, ks: Int = PqKs): DataFrame = {
    val e = Tables(spark, dir, "embeddings")
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
    val cent = fitCentroids(spark, dir, nCentroids)
    val books = fitPqResidual(spark, dir, nCentroids, m, ks)
    ivfPqResidualTopKFrom(e, cent, books, k, nProbe)
  }

  /** [[ivfPqResidualTopK]]'s plan over any `(vec_id, v)` frame under
    * already-fitted models — shared with the rotated-space chain
    * ([[opqIvfPqTopK]]), whose corpus is the same shape after its
    * rotation projection. */
  private def ivfPqResidualTopKFrom(
      e: DataFrame, cent: Array[Array[Double]],
      books: Array[Array[Array[Double]]], k: Int, nProbe: Int): DataFrame = {
    val scored = residualAdcScored(e, cent, books, nProbe)
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("q_id")).orderBy(col("adc").desc, col("n_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("n_id"), col("rank"), col("adc"))
      .orderBy("q_id", "rank")
  }

  /** The residual-index ADC scan shared by the index top-k
    * ([[ivfPqResidualTopKFrom]]) and the refine stack's shortlist
    * ([[ivfPqResidualRerankTopK]]): every (query, candidate) in the probed
    * cells with its rounded `⟨q,c⟩ + ⟨q,r̂⟩` score — one implementation so
    * an estimator fix can never land in one consumer and not the other.
    */
  private def residualAdcScored(
      e: DataFrame, cent: Array[Array[Double]],
      books: Array[Array[Array[Double]]], nProbe: Int): DataFrame = {
    val m = books.length
    val ks = books(0).length
    // Persisted: the cell-assigned corpus feeds the query leg and the
    // candidate leg (same two-subtree plan as ivfPqTopK).
    val assigned = assignCells(e, cent).persist()
    val codes = assignCodes(
      assigned.withColumn("v", residualCol(cent, col("v"), col("cell"))),
      books, Seq("vec_id", "cell"))
    val queries = assigned.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("q_id"), col("v").as("q_v"))
      .withColumn("probes",
        slice(reverse(array_sort(array(cellStructs(cent, col("q_v")): _*))), 1, nProbe))
      .select(col("q_id"), col("q_v"), explode(col("probes.cell")).as("cell"))
      // the reconstruction constant ⟨q, c(cell)⟩, one per probed cell; the
      // LUT is the raw query against the residual codewords
      .withColumn("qc", graft.functions.DotProduct(col("q_v"),
        element_at(typedLit(cent.map(_.toSeq).toSeq), col("cell") + 1)))
      .select(col("q_id"), col("cell"), col("qc"), adcLut(books).as("lut"))
    codes.join(broadcast(queries), Seq("cell"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("n_id"),
        (round(col("qc") + adcScore(ks, m), 4) + lit(0.0)).as("adc"))
  }

  /** The full production retrieval stack in one declarative plan — FAISS's
    * `IndexIVFPQ` + refine stage: residual-encoded IVF-PQ prunes the scan
    * (cells) and compresses it (8-byte codes), its ADC top-`shortlist`
    * re-attaches full vectors by slim id-join, and an exact cosine
    * re-ranks the final `k`. Cost at scale = the [[ivfPqResidualTopK]]
    * scan + `shortlist` (not corpus-sized) exact cosines per query; the
    * final ordering is exact over whatever the index recalled — the spec
    * pins that re-ranking dominates the raw residual ADC against the
    * brute anchor. Oracle is EXACT: the [[ivfPqResidualTopKSql]] CTEs
    * produce the identical rounded-ADC shortlist, and the re-rank is the
    * same `list_cosine_similarity` tail as [[pqRerankTopKSql]].
    */
  def ivfPqResidualRerankTopK(
      spark: SparkSession, dir: String, k: Int = 10, shortlist: Int = 50,
      nCentroids: Int = NCentroids, nProbe: Int = NProbe,
      m: Int = PqM, ks: Int = PqKs): DataFrame = {
    val e = Tables(spark, dir, "embeddings")
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
    val cent = fitCentroids(spark, dir, nCentroids)
    val books = fitPqResidual(spark, dir, nCentroids, m, ks)
    val scored = residualAdcScored(e, cent, books, nProbe)
    val queriesRaw = e.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("q_id"), col("v").as("q_v"))
    import org.apache.spark.sql.expressions.Window
    val wAdc = Window.partitionBy(col("q_id")).orderBy(col("adc").desc, col("n_id"))
    val short = scored.withColumn("sr", row_number().over(wAdc))
      .filter(col("sr") <= shortlist)
      .select(col("q_id"), col("n_id"))
    val rer = short
      .join(e.select(col("vec_id").as("n_id"), col("v")), Seq("n_id"))
      .join(broadcast(queriesRaw), Seq("q_id"))
      .select(col("q_id"), col("n_id"), cosine(col("q_v"), col("v")).as("c"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("c").desc, col("n_id"))
    rer.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("n_id"), col("rank"), (round(col("c"), 4) + lit(0.0)).as("cos"))
      .orderBy("q_id", "rank")
  }

  /** EXACT generated oracle for [[ivfPqResidualRerankTopK]]: the
    * [[ivfPqResidualTopKSql]] CTE chain up to its rounded `adc`, capped at
    * `shortlist` by the same (adc DESC, n_id) window, then the exact
    * `list_cosine_similarity` re-rank of [[pqRerankTopKSql]].
    */
  private[ops] def ivfPqResidualRerankTopKSql(
      cent: Array[Array[Double]], books: Array[Array[Array[Double]]],
      k: Int = 10, shortlist: Int = 50, nProbe: Int = NProbe): String = {
    val base = ivfPqResidualTopKSql(cent, books, k, nProbe)
    val upToAdc = base.substring(0, base.lastIndexOf("\nSELECT q_id, n_id, rank, adc"))
    s"""$upToAdc, short AS (
       |  SELECT q_id, n_id FROM (
       |    SELECT q_id, n_id,
       |      row_number() OVER (PARTITION BY q_id ORDER BY adc DESC, n_id) AS sr
       |    FROM adc)
       |  WHERE sr <= $shortlist
       |)
       |SELECT q_id, n_id, rank, cos FROM (
       |  SELECT s.q_id, s.n_id,
       |    row_number() OVER (PARTITION BY s.q_id
       |      ORDER BY list_cosine_similarity(qe.v, ne.v) DESC, s.n_id) AS rank,
       |    round(list_cosine_similarity(qe.v, ne.v), 4) + 0.0 AS cos
       |  FROM short s
       |  JOIN ev qe ON qe.vec_id = s.q_id
       |  JOIN ev ne ON ne.vec_id = s.n_id)
       |WHERE rank <= $k
       |ORDER BY q_id, rank""".stripMargin
  }

  /** EXACT generated oracle for [[ivfPqResidualTopK]], re-stating the
    * plan's `⟨q, c(cell)⟩ + ⟨q, r̂⟩` estimator: [[cellsSqlCtes]]'s coarse
    * cells, a `rev` CTE of corpus residuals (`list_transform`'s 1-based
    * index i matches `c[i]`; each element one IEEE subtraction, bit-equal
    * to the plan's residual column), [[codesubSqlCtes]] over `rev`, the
    * RAW-query LUT of [[pqSqlCtes]] (the plan's [[adcLut]] slices the raw
    * `q_v`, NOT the residual query), and a per-(query, probed-cell)
    * reconstruction constant `qc = ⟨q, c⟩` added before the shared round —
    * the same add order as the plan (`qc + fold(pd)`).
    */
  private[ops] def ivfPqResidualTopKSql(
      cent: Array[Array[Double]], books: Array[Array[Array[Double]]],
      k: Int = 10, nProbe: Int = NProbe, evSql: String = RawEvSql): String = {
    val dsub = books(0)(0).length
    s"""${cellsSqlCtes(cent, evSql)}, rev AS (
       |  SELECT e.vec_id, list_transform(e.v, (x, i) -> x - ct.c[i]) AS v
       |  FROM ev e JOIN cells cl ON cl.vec_id = e.vec_id JOIN cent ct ON ct.cell = cl.cell
       |)${booksSqlCte(books)}${codesubSqlCtes("rev", dsub, books.length)}, probes AS (
       |  SELECT vec_id AS q_id, cell FROM (
       |    SELECT vec_id, cell,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY score DESC, cell DESC) AS pr
       |    FROM scored WHERE vec_id % 50 = 0)
       |  WHERE pr <= $nProbe
       |), lut AS (
       |  SELECT q.vec_id AS q_id, b.j, b.code,
       |    list_dot_product(q.v[b.j*$dsub+1 : b.j*$dsub+$dsub], b.c) AS pd
       |  FROM ev q CROSS JOIN books b WHERE q.vec_id % 50 = 0
       |), qconst AS (
       |  SELECT p.q_id, p.cell, list_dot_product(e.v, ct.c) AS qc
       |  FROM probes p JOIN ev e ON e.vec_id = p.q_id JOIN cent ct ON ct.cell = p.cell
       |), cand AS (
       |  SELECT p.q_id, p.cell, c.vec_id AS n_id
       |  FROM probes p JOIN cells c ON c.cell = p.cell
       |  WHERE c.vec_id <> p.q_id
       |), adc AS (
       |  SELECT cd.q_id, cd.n_id,
       |    round(qn.qc + list_reduce(list(l.pd ORDER BY l.j), (a, b) -> a + b), 4) + 0.0 AS adc
       |  FROM cand cd
       |  JOIN qconst qn ON qn.q_id = cd.q_id AND qn.cell = cd.cell
       |  JOIN codesub cs ON cs.vec_id = cd.n_id
       |  JOIN lut l ON l.q_id = cd.q_id AND l.j = cs.j AND l.code = cs.code
       |  GROUP BY cd.q_id, cd.n_id, qn.qc
       |)
       |SELECT q_id, n_id, rank, adc FROM (
       |  SELECT q_id, n_id,
       |    row_number() OVER (PARTITION BY q_id ORDER BY adc DESC, n_id) AS rank, adc
       |  FROM adc)
       |WHERE rank <= $k
       |ORDER BY q_id, rank""".stripMargin
  }

  // --------------------------------------------------------------- OPQ ---

  /** Optimized Product Quantization fit (Ge et al., "Optimized Product
    * Quantization", CVPR 2013 — the `OPQMatrix` pre-transform in FAISS):
    * learn an ORTHOGONAL rotation `R` and PQ codebooks jointly so the
    * codebooks quantize `R·v` with lower reconstruction error than the
    * fixed axis-aligned subspace split of plain PQ. Orthogonality keeps
    * the ADC estimator unchanged — `⟨Rq, Rv⟩ = ⟨q, v⟩` — so rotated
    * scores ARE inner-product scores; the rotation only re-mixes which
    * dimensions share a codebook.
    *
    * Alternating minimization on the shared bounded [[fitSample]], init
    * `R = I` (iteration 1's codebook step is therefore EXACTLY the plain
    * PQ fit, and the final fit can only move from there by reducing
    * sample reconstruction error — the spec pins the ≤ relation):
    *   1. `books ←` per-subspace [[lloyd]] over `{R v}`
    *   2. `v̂ ←` PQ reconstruction (nearest codeword per subspace) of `R v`
    *   3. `R ← argmin_{R orthogonal} Σ‖R v − v̂‖²` — the orthogonal-
    *      Procrustes closed form `R = V Uᵀ` from `SVD(Σ v v̂ᵀ) = U Σ Vᵀ`
    *      (breeze's LAPACK `svd`, a 64×64 problem).
    * Driver-side and bounded like every fit here (the model artifact is
    * `64×64 + m·ks·dsub` doubles); `R` and the codebooks embed as
    * literals in both the plan and the generated oracle, so the query
    * and [[opqTopKSql]] rotate, encode, and score identically.
    */
  private[ops] def fitOpqFrom(e: DataFrame, m: Int, ks: Int, iters: Int = 8)
      : (Array[Array[Double]], Array[Array[Array[Double]]]) = {
    val sample = fitSample(e)
    require(sample.length >= ks, s"OPQ fit sample (${sample.length}) smaller than ks=$ks")
    val dims = sample.head.length
    require(dims % m == 0, s"dims $dims not divisible by m=$m subspaces")
    val dsub = dims / m
    def matVec(r: Array[Array[Double]], v: Array[Double]): Array[Double] =
      Array.tabulate(dims) { i =>
        val row = r(i); var s = 0.0; var j = 0
        while (j < dims) { s += row(j) * v(j); j += 1 }
        s
      }
    def fitBooks(rotated: Array[Array[Double]]): Array[Array[Array[Double]]] =
      Array.tabulate(m)(j => lloyd(rotated.map(_.slice(j * dsub, (j + 1) * dsub)), ks))
    def reconstruct(rv: Array[Double], books: Array[Array[Array[Double]]],
        halfNorms: Array[Array[Double]]): Array[Double] = {
      val out = new Array[Double](dims)
      var j = 0
      while (j < m) {
        val sub = rv.slice(j * dsub, (j + 1) * dsub)
        val code = bestCellIdx(sub, books(j), halfNorms(j))
        System.arraycopy(books(j)(code), 0, out, j * dsub, dsub)
        j += 1
      }
      out
    }
    var rot = Array.tabulate(dims, dims)((i, j) => if (i == j) 1.0 else 0.0)
    for (_ <- 0 until iters) {
      val rotated = sample.map(matVec(rot, _))
      val books = fitBooks(rotated)
      // codeword half-norms hoisted out of the sample loop — fixed within
      // an iteration, and recomputing them per vector is O(m·ks·dsub)×50k
      // of pure waste
      val halfNorms = books.map(_.map(c => c.map(x => x * x).sum / 2.0))
      // H = Σ v v̂ᵀ over the sample (v in ORIGINAL space, v̂ the rotated-
      // space reconstruction); Procrustes optimum R = V Uᵀ
      val h = breeze.linalg.DenseMatrix.zeros[Double](dims, dims)
      for ((v, rv) <- sample.zip(rotated)) {
        val recon = reconstruct(rv, books, halfNorms)
        var i = 0
        while (i < dims) {
          var j = 0
          while (j < dims) { h(i, j) += v(i) * recon(j); j += 1 }
          i += 1
        }
      }
      val breeze.linalg.svd.SVD(u, _, vt) = breeze.linalg.svd(h)
      val r = (vt.t * u.t).t // R = V Uᵀ; breeze is column-major — build then read rows
      rot = Array.tabulate(dims, dims)((i, j) => r(j, i))
    }
    val rotated = sample.map(matVec(rot, _))
    (rot, fitBooks(rotated))
  }

  private val opqCache = scala.collection.concurrent.TrieMap
    .empty[(String, Int, Int), (Array[Array[Double]], Array[Array[Array[Double]]])]

  private[graft] def fitOpq(spark: SparkSession, dir: String, m: Int, ks: Int)
      : (Array[Array[Double]], Array[Array[Array[Double]]]) =
    opqCache.getOrElseUpdate((dir, m, ks), {
      val e = Tables(spark, dir, "embeddings")
        .select(col("vec_id"), asDouble(col("embedding")).as("v"))
      fitOpqFrom(e, m, ks)
    })

  /** `R·v` as pure column arithmetic: one codegen [[graft.functions.DotProduct]]
    * against each literal rotation row — a projection, no exchange, and
    * element i accumulates left-to-right exactly like the oracle's
    * `list_dot_product(v, R[i])`.
    */
  private def rotateCol(rot: Array[Array[Double]], v: Column): Column =
    array(rot.map(row => graft.functions.DotProduct(v, lit(row))): _*)

  /** OPQ-ADC top-k: [[pqAdcTopK]] with the learned rotation applied to
    * corpus and queries before encoding/LUT — same 8-byte-code scan, same
    * ADC tail ([[adcTopKAgainst]] is shared), strictly better-or-equal
    * codebook fit. Scale shape identical to [[pqAdcTopK]]: the rotation
    * is a per-row projection (64 codegen dot products) folded into the
    * encode pass, not a separate job.
    */
  def opqTopK(
      spark: SparkSession, dir: String, k: Int = 10,
      m: Int = PqM, ks: Int = PqKs): DataFrame = {
    val (rot, books) = fitOpq(spark, dir, m, ks)
    val er = Tables(spark, dir, "embeddings")
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .withColumn("v", rotateCol(rot, col("v")))
    val codes = assignCodes(er, books, Seq("vec_id"))
    adcTopKAgainst(codes,
      er.filter(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("q_id"), col("v").as("q_v")),
      books, k)
  }

  /** The full FAISS index recipe `OPQ,IVF,PQ` — rotation, then coarse
    * cells, then residual codebooks, ALL in rotated space: the rotation
    * re-mixes dimensions so the residual codebooks quantize evenly, the
    * cells prune the scan, and the residual encoding spends the code
    * budget on within-cell signal. Orthogonality makes the rotated-space
    * estimator `⟨Rq, c⟩ + ⟨Rq, r̂⟩` an estimator of `⟨q, v⟩` directly.
    * The models fit jointly on the rotated bounded sample (rotation from
    * [[fitOpqFrom]], whose plain-PQ objective is the standard OPQ
    * pre-transform training; cells + residual books then fit downstream
    * of it), cached per (dir, geometry) so query and oracle share one
    * fit. Plan and scale shape are [[ivfPqResidualTopK]]'s verbatim —
    * the rotation is a projection on the scan, everything downstream
    * identical ([[ivfPqResidualTopKFrom]] is literally shared).
    *
    * Measured honestly (sf0.01, recall@10 vs brute): chain 0.23 vs
    * residual-without-rotation 0.26 vs flat OPQ 0.36 — on THIS corpus
    * (synthetic, near-isotropic) the rotation's codebook gains do not
    * survive the coarse pruning's probe misses, so the chain exists as
    * the complete, correctly-wired FAISS recipe, not as a recall win
    * here; on anisotropic real embeddings (where OPQ's +0.07 flat gain
    * came from) the same wiring is the recommended index. Spec pins
    * oracle exactness, determinism, and an absolute recall floor rather
    * than a relation the corpus's isotropy would make flaky.
    */
  def opqIvfPqTopK(
      spark: SparkSession, dir: String, k: Int = 10,
      nCentroids: Int = NCentroids, nProbe: Int = NProbe,
      m: Int = PqM, ks: Int = PqKs): DataFrame = {
    val (rot, cent, books) = fitOpqIvf(spark, dir, nCentroids, m, ks)
    val er = Tables(spark, dir, "embeddings")
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .withColumn("v", rotateCol(rot, col("v")))
    ivfPqResidualTopKFrom(er, cent, books, k, nProbe)
  }

  private val opqIvfCache = scala.collection.concurrent.TrieMap
    .empty[(String, Int, Int, Int),
      (Array[Array[Double]], Array[Array[Double]], Array[Array[Array[Double]]])]

  private[graft] def fitOpqIvf(spark: SparkSession, dir: String,
      nCentroids: Int, m: Int, ks: Int)
      : (Array[Array[Double]], Array[Array[Double]], Array[Array[Array[Double]]]) =
    opqIvfCache.getOrElseUpdate((dir, nCentroids, m, ks), {
      val e = Tables(spark, dir, "embeddings")
        .select(col("vec_id"), asDouble(col("embedding")).as("v"))
      val (rot, _) = fitOpq(spark, dir, m, ks) // the OPQ pre-transform
      val er = e.withColumn("v", rotateCol(rot, col("v")))
      val cent = fitCentroidsFrom(er, nCentroids)
      (rot, cent, fitPqResidualFrom(er, cent, m, ks))
    })

  /** EXACT generated oracle for [[opqIvfPqTopK]]: [[opqTopKSql]]'s rotated
    * `ev` body substituted into the [[ivfPqResidualTopKSql]] chain — every
    * downstream CTE (cells, residuals, codes, LUT, cell constant, ADC
    * rank) is the residual oracle verbatim over the rotated vectors.
    */
  private[ops] def opqIvfPqTopKSql(
      rot: Array[Array[Double]], cent: Array[Array[Double]],
      books: Array[Array[Array[Double]]], k: Int = 10, nProbe: Int = NProbe): String =
    ivfPqResidualTopKSql(cent, books, k, nProbe, evSql = rotatedEvSql(rot))

  /** The rotated `ev` body shared by the OPQ oracles: element i =
    * `list_dot_product(v, R[i])`, matching [[rotateCol]]. */
  private def rotatedEvSql(rot: Array[Array[Double]]): String = {
    val rotRows = rot.map(row =>
      s"list_dot_product(v, ${row.mkString("[", ", ", "]")}::DOUBLE[])")
      .mkString(",\n    ")
    s"""  SELECT vec_id, [
       |    $rotRows] AS v
       |  FROM (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)""".stripMargin
  }

  /** EXACT generated oracle for [[opqTopK]]: a rotated `ev` CTE (one
    * `list_dot_product` per literal rotation row, matching [[rotateCol]]
    * element-for-element), then the [[pqAdcTopKSql]] body verbatim —
    * [[pqSqlCtes]]'s codes/LUT and the fixed-order ADC rank over it.
    */
  private[ops] def opqTopKSql(
      rot: Array[Array[Double]], books: Array[Array[Array[Double]]], k: Int = 10): String =
    s"""WITH ev AS (
       |${rotatedEvSql(rot)}
       |)${pqSqlCtes(books)}, adc AS (
       |  SELECT l.q_id, cs.vec_id AS n_id, round(list_reduce(list(l.pd ORDER BY l.j), (a, b) -> a + b), 4) + 0.0 AS adc
       |  FROM codesub cs JOIN lut l ON l.j = cs.j AND l.code = cs.code
       |  WHERE cs.vec_id <> l.q_id
       |  GROUP BY l.q_id, cs.vec_id
       |)
       |SELECT q_id, n_id, rank, adc FROM (
       |  SELECT q_id, n_id,
       |    row_number() OVER (PARTITION BY q_id ORDER BY adc DESC, n_id) AS rank, adc
       |  FROM adc)
       |WHERE rank <= $k
       |ORDER BY q_id, rank""".stripMargin

  /** Hybrid sparse+dense retrieval via reciprocal-rank fusion: the BM25
    * top-k ([[TextAnalysis.bm25TopK]], lexical) and the exact cosine top-k
    * ([[annTopKBrute]], dense — `vec_id` is the document's embedding id,
    * the testdata's parallel id space) fuse as
    * `rrf = Σ 1/(c + rank)` over the lists that retrieved the candidate —
    * the standard fusion that needs no score calibration between the two
    * retrievers (Cormack & Clarke's RRF, c = 60). This is the recall stage
    * of a hybrid RAG pipeline as one declarative plan: both retrievers'
    * plans compose, and the fusion is a full outer join on (query, doc) +
    * one windowed top-k.
    *
    * Cross-engine exactness: each side's rank is already oracle-exact; the
    * rrf value is a fixed-order sum of at most two correctly-rounded
    * divisions, so it is bit-equal across engines — ranking uses the raw
    * rrf with doc_id tiebreak.
    */
  def hybridRrfTopK(spark: SparkSession, dir: String, k: Int = 10, c: Int = 60): DataFrame = {
    val sparse = TextAnalysis.bm25TopK(spark, dir, k)
      .select(col("q_id"), col("doc_id"), col("rank").as("r_sparse"))
    val dense = annTopKBrute(spark, dir, k)
      .select(col("q_id"), col("n_id").as("doc_id"), col("rank").as("r_dense"))
    fuseRrf(sparse, dense, k, c)
  }

  /** The BENCHED hybrid retrieval: the same RRF fusion with the sublinear
    * [[annLshTopK]] dense leg instead of the full-corpus brute scan — at
    * 100 TB the brute leg IS the query cost, so the production composite
    * must ride the index. [[hybridRrfTopK]] stays registered as the
    * unbenched exactness anchor. Both legs are oracle-exact (seeded
    * hyperplanes), so the fusion is too.
    */
  def hybridRrfLshTopK(spark: SparkSession, dir: String, k: Int = 10, c: Int = 60): DataFrame = {
    val sparse = TextAnalysis.bm25TopK(spark, dir, k)
      .select(col("q_id"), col("doc_id"), col("rank").as("r_sparse"))
    val dense = annLshTopK(spark, dir, k)
      .select(col("q_id"), col("n_id").as("doc_id"), col("rank").as("r_dense"))
    fuseRrf(sparse, dense, k, c)
  }

  /** Fixed-query-batch hybrid serving — [[hybridRrfLshTopK]] with BOTH
    * retriever legs on the pinned ≤100-query batch
    * ([[TextAnalysis.bm25TopKServed]]'s contract; `vec_id` is the
    * parallel embedding id space): lexical queries `doc_id ≤ 100`, dense
    * queries `vec_id ≤ 100`, fused per query with the same RRF combiner.
    * The registered, benched production serving shape: cost ∝ batch —
    * the corpus-scale legs (BM25 tf/df build, LSH bucket index) are the
    * index builds a serving deployment pays once.
    */
  def hybridRrfServed(spark: SparkSession, dir: String, k: Int = 10, c: Int = 60): DataFrame = {
    // The two retriever legs are INDEPENDENT corpus passes (documents
    // tokenize vs embeddings bucket projection), but the sparse leg
    // materializes eagerly (bm25TopKFor's per-call cache-release
    // contract), which serialized the whole dense leg behind it. Submit
    // both legs side by side (guide §2.6 — actions are only sequential
    // because the driver calls them sequentially): each leg realizes its
    // bounded |batch|·k result concurrently, and the fuse composes the two
    // checkpointed frames. Leg plans and released rows are unchanged.
    val (sparse, dense) = overlap(spark)(
      TextAnalysis.bm25TopKServed(spark, dir, k)
        .select(col("q_id"), col("doc_id"), col("rank").as("r_sparse")),
      annLshTopK(spark, dir, k,
          queryPred = col("vec_id") <= TextAnalysis.ServeBatchMaxId)
        .select(col("q_id"), col("n_id").as("doc_id"), col("rank").as("r_dense"))
        .localCheckpoint(true))
    fuseRrf(sparse, dense, k, c)
  }

  /** INDEXED hybrid serving — [[hybridRrfServed]]'s exact twin with BOTH
    * retriever legs riding session-held index artifacts: the lexical leg
    * scores the pinned query batch against the BM25 model derived from the
    * WRITTEN postings snapshot ([[TextAnalysis.servedBm25Model]] /
    * [[TextIndex.servingIndex]]), the dense leg probes the persisted LSH
    * band table ([[servedLshIndex]]). Per-query cost is the two serving
    * tails + the RRF fuse — the corpus-scale model builds (tokenize,
    * bucket projection) happen at index build, never at query time, which
    * is the only shape that survives 100 TB. Fusion arithmetic is
    * unchanged, so the oracle is [[hybridRrfServedSql]] verbatim.
    */
  def hybridRrfIndexed(spark: SparkSession, dir: String, k: Int = 10,
      c: Int = 60): DataFrame = {
    val queries = graft.ops.Tables(spark, dir, "documents")
      .filter(col("doc_id") <= TextAnalysis.ServeBatchMaxId)
      .select(col("doc_id").as("q_id"), col("text"))
    val sparse = TextAnalysis.bm25Score(
        TextAnalysis.servedBm25Model(spark, dir), queries, k)
      .select(col("q_id"), col("doc_id"), col("rank").as("r_sparse"))
    val dense = annLshAgainst(servedLshIndex(spark, dir),
        col("vec_id") <= TextAnalysis.ServeBatchMaxId, k)
      .select(col("q_id"), col("n_id").as("doc_id"), col("rank").as("r_dense"))
    fuseRrf(sparse, dense, k, c)
  }

  /** Shared RRF fusion tail: full outer join on (query, doc) + one windowed
    * top-k; `rrf = Σ 1/(c + rank)` over the lists that retrieved the doc.
    */
  private[graft] def fuseRrf(sparse: DataFrame, dense: DataFrame, k: Int, c: Int): DataFrame = {
    val fused = sparse.join(dense, Seq("q_id", "doc_id"), "full_outer")
      .withColumn("rrf",
        coalesce(lit(1.0) / (lit(c) + col("r_sparse")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(c) + col("r_dense")), lit(0.0)))
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("q_id").orderBy(col("rrf").desc, col("doc_id"))
    fused.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("doc_id"), col("rank"), round(col("rrf"), 6).as("rrf"))
      .orderBy("q_id", "rank")
  }

  def hybridRrfTopKSql: String = hybridSqlWith(annTopKSql)

  /** Generated oracle for [[hybridRrfLshTopK]] — the LSH leg's hyperplane
    * literals nest as a `WITH` inside the `dense` CTE. */
  def hybridRrfLshTopKSql: String = hybridSqlWith(annLshTopKSql)

  /** Generated oracle for [[hybridRrfServed]]: both legs' templates with
    * the pinned ≤100 batch predicates. */
  def hybridRrfServedSql: String = hybridSqlWith(
    annLshTopKSqlFor(s"q.vec_id <= ${TextAnalysis.ServeBatchMaxId}"),
    TextAnalysis.bm25TopKServedSql)

  /** The hybrid fusion SQL, parameterized by the dense leg (both legs emit
    * (q_id, n_id, rank, cos)) and the sparse leg. */
  private def hybridSqlWith(denseSql: String,
      sparseSql: String = TextAnalysis.bm25TopKSql): String =
    s"""WITH sparse AS (
       |$sparseSql
       |), dense AS (
       |$denseSql
       |), fused AS (
       |  SELECT coalesce(s.q_id, d.q_id) AS q_id,
       |    coalesce(s.doc_id, d.n_id) AS doc_id,
       |    coalesce(1.0::DOUBLE / (60 + s.rank), 0) + coalesce(1.0::DOUBLE / (60 + d.rank), 0) AS rrf
       |  FROM sparse s FULL JOIN dense d ON s.q_id = d.q_id AND s.doc_id = d.n_id
       |)
       |SELECT q_id, doc_id, rank, rrf FROM (
       |  SELECT q_id, doc_id,
       |    row_number() OVER (PARTITION BY q_id ORDER BY rrf DESC, doc_id) AS rank,
       |    round(rrf, 6) AS rrf
       |  FROM fused)
       |WHERE rank <= 10
       |ORDER BY q_id, rank""".stripMargin

  def annLshTopKSql: String = annLshTopKSqlFor("q.vec_id % 50 = 0")

  /** [[annLshTopKSql]] with the query-set predicate parameterized (the
    * fixed-batch serving oracle uses `q.vec_id <= 100`). */
  def annLshTopKSqlFor(qPred: String): String = {
    s"""$bandedSqlCtes, cand AS (
       |  SELECT DISTINCT q.vec_id AS q_id, e.vec_id AS n_id
       |  FROM banded e JOIN banded q ON e.tbl = q.tbl AND e.bucket = q.bucket
       |  WHERE $qPred AND e.vec_id <> q.vec_id
       |)
       |SELECT q_id, n_id, rank, cos FROM (
       |  SELECT c.q_id, c.n_id,
       |    row_number() OVER (PARTITION BY c.q_id
       |      ORDER BY list_cosine_similarity(qe.embedding::DOUBLE[], ne.embedding::DOUBLE[]) DESC,
       |               c.n_id) AS rank,
       |    round(list_cosine_similarity(qe.embedding::DOUBLE[], ne.embedding::DOUBLE[]), 4) + 0.0 AS cos
       |  FROM cand c
       |  JOIN embeddings qe ON qe.vec_id = c.q_id
       |  JOIN embeddings ne ON ne.vec_id = c.n_id)
       |WHERE rank <= 10
       |ORDER BY q_id, rank""".stripMargin
  }

  /** NDCG discount weights 1/log₂(r+1) for ranks 1..k, as shortest-repr
    * double literals — embedded VERBATIM in both the Spark expression and
    * the DuckDB oracle, so both engines evaluate the identical written
    * left-to-right sum on the identical parsed doubles.
    */
  private def ndcgWeights(k: Int): Seq[String] =
    (1 to k).map(r => (1.0 / (math.log(r + 1.0) / math.log(2.0))).toString)

  /** The per-query DCG as a FIXED-ORDER expression over the integer hit
    * bitmask (bit r−1 set ⇔ the index's rank-r result is in the exact
    * top-k). The bitmask is built by an integer SUM — order-free and
    * exact where a floating sum of the discount weights would be
    * partition-order-dependent; the mask→DCG mapping is then one written
    * expression, identical text on both engines.
    */
  private def dcgExprOf(k: Int): String =
    ndcgWeights(k).zipWithIndex.map { case (w, i) =>
      s"(CASE WHEN (hitmask & ${1L << i}) > 0 THEN $w ELSE 0.0 END)"
    }.mkString(" + ")

  /** Retrieval-quality evaluation — the metric harness every serving
    * deployment runs next to its index: recall@k, MRR, and NDCG@k of the
    * production LSH index ([[annLshTopK]]) against the EXACT brute-force
    * truth ([[annTopKBrute]]), averaged over the standard query set.
    *
    * Determinism across engines (the forecast_backtest DECIMAL
    * discipline): per-query hits fold to an integer bitmask (order-free),
    * every per-query metric is one fixed-order expression over it cast to
    * DECIMAL(24,12), the corpus average sums those decimals EXACTLY and
    * divides once — so the oracle is value-exact, not a tolerance check.
    *
    * Bench-excluded by the anchor convention: the truth leg IS the brute
    * O(|q|·n) anchor. At 100 TB the truth comes from a sampled query
    * panel (|q| bounded), which this formulation already is.
    */
  def retrievalEval(spark: SparkSession, dir: String, k: Int = 10): DataFrame =
    evalTailOf(
      annLshTopK(spark, dir, k).select("q_id", "n_id", "rank"),
      annTopKBrute(spark, dir, k).select("q_id", "n_id"), k)

  /** The bitmask/DECIMAL metric tail shared by [[retrievalEval]] and
    * [[filteredRetrievalEval]] — got = (q_id, n_id, rank) from the index
    * under audit, truth = (q_id, n_id) from the exact anchor. */
  private[ops] def evalTailOf(got: DataFrame, truth: DataFrame, k: Int): DataFrame = {
    val idcg = ndcgWeights(k).map(_.toDouble).sum.toString
    val hits = got.join(truth, Seq("q_id", "n_id"))
    val hAgg = hits.groupBy("q_id").agg(
      count(lit(1)).as("n_hits"),
      sum(expr("CAST(pow(2, rank - 1) AS BIGINT)")).as("hitmask"),
      min("rank").as("first_hit"))
    val perq = truth.select("q_id").distinct()
      .join(hAgg, Seq("q_id"), "left")
      .select(
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        coalesce(col("hitmask"), lit(0L)).as("hitmask"),
        col("first_hit"))
    val scored = perq.select(
      expr(s"CAST(CAST(n_hits AS DOUBLE) / $k AS DECIMAL(24,12))").as("recall"),
      expr("CAST(CASE WHEN first_hit IS NULL THEN CAST(0.0 AS DOUBLE) " +
        "ELSE CAST(1.0 AS DOUBLE) / first_hit END AS DECIMAL(24,12))").as("rr"),
      expr(s"CAST((${dcgExprOf(k)}) / $idcg AS DECIMAL(24,12))").as("ndcg"))
    scored.agg(
      count(lit(1)).as("n_queries"),
      expr("round(CAST(sum(recall) AS DOUBLE) / count(*), 6)").as("recall_at_k"),
      expr("round(CAST(sum(rr) AS DOUBLE) / count(*), 6)").as("mrr"),
      expr("round(CAST(sum(ndcg) AS DOUBLE) / count(*), 6)").as("ndcg_at_k"))
  }

  /** The filtered stack's exactness anchor: brute same-label top-k over
    * the served batch — every (cell, label)-pruned serve is audited
    * against THIS. O(|batch|·n) by design; bench-excluded (the
    * `ann_topk_brute` anchor convention). Static oracle — no fitted
    * literals anywhere. */
  def annFilteredBrute(spark: SparkSession, dir: String, k: Int = 10): DataFrame = {
    val e = Tables(spark, dir, "embeddings")
      .select(col("vec_id"), asDouble(col("embedding")).as("v"), col("label"))
    val q = e.filter(col("vec_id") <= TextAnalysis.ServeBatchMaxId)
      .select(col("vec_id").as("q_id"), col("v").as("q_v"),
        col("label").as("q_label"))
    val scored = e.join(broadcast(q),
        col("label") === col("q_label") && col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("n_id"),
        cosine(col("q_v"), col("v")).as("c"))
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("q_id")).orderBy(col("c").desc, col("n_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("n_id"), col("rank"),
        (round(col("c"), 4) + lit(0.0)).as("cos"))
      .orderBy("q_id", "rank")
  }

  val annFilteredBruteSql: String =
    s"""SELECT q_id, n_id, rank, cos FROM (
       |  SELECT q.vec_id AS q_id, e.vec_id AS n_id,
       |    row_number() OVER (PARTITION BY q.vec_id
       |      ORDER BY list_cosine_similarity(q.embedding::DOUBLE[], e.embedding::DOUBLE[]) DESC,
       |               e.vec_id) AS rank,
       |    round(list_cosine_similarity(q.embedding::DOUBLE[], e.embedding::DOUBLE[]), 4) + 0.0 AS cos
       |  FROM embeddings q JOIN embeddings e
       |    ON e.label = q.label AND e.vec_id <> q.vec_id
       |  WHERE q.vec_id <= ${TextAnalysis.ServeBatchMaxId})
       |WHERE rank <= 10
       |ORDER BY q_id, rank""".stripMargin

  /** Retrieval-quality metrics of the IVF index ([[annIvfTopK]]) against
    * the exact brute truth — completes the per-tier eval coverage (LSH =
    * [[retrievalEval]], filtered = [[filteredRetrievalEval]], MaxSim =
    * [[graft.ops.MaxSim.maxSimRetrievalEval]]): what the fixed 4/16-probe
    * trade actually costs on this corpus, measured instead of asserted
    * (the spec's 0.3 floor was the only quantification before this).
    * Bench-excluded: the truth leg IS the brute anchor. */
  def ivfRetrievalEval(spark: SparkSession, dir: String, k: Int = 10): DataFrame =
    evalTailOf(
      annIvfTopK(spark, dir, k).select("q_id", "n_id", "rank"),
      annTopKBrute(spark, dir, k).select("q_id", "n_id"), k)

  /** Generated oracle for [[ivfRetrievalEval]] — the shared eval template
    * over the fitted IVF oracle and the static brute truth. */
  private[ops] def ivfRetrievalEvalSql(cent: Array[Array[Double]], k: Int = 10): String =
    retrievalEvalSqlWith(annIvfTopKSql(cent), annTopKSql, k)

  /** Retrieval-quality metrics of the FILTERED serve ([[annFilteredTopK]])
    * against the brute filtered truth ([[annFilteredBrute]]) — the audit
    * that closes the filtered-vector-search stack (index → serve → eval):
    * how much recall the (cell, label) pruning actually costs, measured
    * with [[retrievalEval]]'s exact bitmask/DECIMAL discipline. Bench-
    * excluded: the truth leg IS the filtered brute anchor. */
  def filteredRetrievalEval(spark: SparkSession, dir: String, k: Int = 10): DataFrame =
    evalTailOf(
      annFilteredTopK(spark, dir, k).select("q_id", "n_id", "rank"),
      annFilteredBrute(spark, dir, k).select("q_id", "n_id"), k)

  /** Generated oracle for [[filteredRetrievalEval]] — the shared eval
    * template over the fitted filtered-serve oracle and the static
    * filtered brute truth. */
  private[ops] def filteredRetrievalEvalSql(cent: Array[Array[Double]], k: Int = 10): String =
    retrievalEvalSqlWith(annFilteredTopKSql(cent), annFilteredBruteSql, k)

  /** Generated oracle for [[retrievalEval]]: the two committed leg
    * templates nested as CTEs, then the identical bitmask/decimal
    * arithmetic (the expression strings are shared with the Spark side,
    * not re-written).
    */
  def retrievalEvalSql(k: Int = 10): String =
    retrievalEvalSqlWith(annLshTopKSql, annTopKSql, k)

  /** The eval-oracle template, parameterized by the got/truth legs. */
  private[ops] def retrievalEvalSqlWith(gotSql: String, truthSql: String, k: Int): String = {
    val idcg = ndcgWeights(k).map(_.toDouble).sum.toString
    s"""WITH got AS (
       |$gotSql
       |), truth AS (
       |$truthSql
       |), hits AS (
       |  SELECT g.q_id, g.rank FROM got g
       |  JOIN truth t ON t.q_id = g.q_id AND t.n_id = g.n_id
       |), perq AS (
       |  SELECT coalesce(h.n_hits, 0) AS n_hits,
       |         coalesce(h.hitmask, 0) AS hitmask,
       |         h.first_hit
       |  FROM (SELECT DISTINCT q_id FROM truth) t
       |  LEFT JOIN (SELECT q_id, count(*) AS n_hits,
       |               sum(CAST(pow(2, rank - 1) AS BIGINT)) AS hitmask,
       |               min(rank) AS first_hit
       |             FROM hits GROUP BY q_id) h USING (q_id)
       |), scored AS (
       |  SELECT
       |    CAST(CAST(n_hits AS DOUBLE) / $k AS DECIMAL(24,12)) AS recall,
       |    CAST(CASE WHEN first_hit IS NULL THEN CAST(0.0 AS DOUBLE)
       |         ELSE CAST(1.0 AS DOUBLE) / first_hit END AS DECIMAL(24,12)) AS rr,
       |    CAST((${dcgExprOf(k)}) / $idcg AS DECIMAL(24,12)) AS ndcg
       |  FROM perq)
       |SELECT count(*) AS n_queries,
       |  round(CAST(sum(recall) AS DOUBLE) / count(*), 6) AS recall_at_k,
       |  round(CAST(sum(rr) AS DOUBLE) / count(*), 6) AS mrr,
       |  round(CAST(sum(ndcg) AS DOUBLE) / count(*), 6) AS ndcg_at_k
       |FROM scored""".stripMargin
  }

  /** Matryoshka-style width-truncation evaluation: retrieval quality
    * (recall@k / MRR / NDCG@k vs the full-width exact truth) when the
    * index stores only the first `d` dimensions of each embedding — the
    * audit a deployment runs before shipping a narrower (cheaper) index.
    * One row per width; the full-width row is the 1.0/1.0/1.0 anchor by
    * construction.
    *
    * Scale shape: ONE corpus×panel pass — the per-width cosines are extra
    * projections on the SAME joined row (an `explode` of the width list),
    * so adding widths costs projection work, not passes; ranking is one
    * window over (width, query). Cross-engine exactness: truncated
    * cosines are the same left-to-right doubles on the sliced arrays
    * (`slice(v,1,d)` ≡ DuckDB `v[1:d]`, both 1-based inclusive), and the
    * metric arithmetic is [[retrievalEval]]'s integer-bitmask / DECIMAL
    * discipline verbatim. Bench-excluded by the anchor convention: every
    * leg is the brute O(|panel|·n) scan (at 100 TB the panel is the
    * bounded sample this formulation already is).
    */
  def dimTruncationEval(spark: SparkSession, dir: String, k: Int = 10,
      dims: Seq[Int] = Seq(16, 32, 64)): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val full = dims.max
    val idcg = ndcgWeights(k).map(_.toDouble).sum.toString
    val e = Tables(spark, dir, "embeddings")
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
    val queries = e.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("q_id"), col("v").as("q_v"))
    val rels = e.join(broadcast(queries), col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("n_id"),
        explode(array(dims.map(d => struct(lit(d).as("dim"),
          cosine(slice(col("q_v"), 1, d), slice(col("v"), 1, d)).as("rel"))): _*))
          .as("dr"))
      .select(col("q_id"), col("n_id"), col("dr.dim").as("dim"), col("dr.rel").as("rel"))
    val w = Window.partitionBy("dim", "q_id").orderBy(col("rel").desc, col("n_id"))
    val got = rels.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("dim", "q_id", "n_id", "rank")
    val truth = got.filter(col("dim") === full).select("q_id", "n_id")
    val hits = got.join(truth, Seq("q_id", "n_id"))
    val hAgg = hits.groupBy("dim", "q_id").agg(
      count(lit(1)).as("n_hits"),
      sum(expr("CAST(pow(2, rank - 1) AS BIGINT)")).as("hitmask"),
      min("rank").as("first_hit"))
    val base = got.select("dim", "q_id").distinct()
    val perq = base.join(hAgg, Seq("dim", "q_id"), "left")
      .select(col("dim"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        coalesce(col("hitmask"), lit(0L)).as("hitmask"),
        col("first_hit"))
    val scored = perq.select(col("dim"),
      expr(s"CAST(CAST(n_hits AS DOUBLE) / $k AS DECIMAL(24,12))").as("recall"),
      expr("CAST(CASE WHEN first_hit IS NULL THEN CAST(0.0 AS DOUBLE) " +
        "ELSE CAST(1.0 AS DOUBLE) / first_hit END AS DECIMAL(24,12))").as("rr"),
      expr(s"CAST((${dcgExprOf(k)}) / $idcg AS DECIMAL(24,12))").as("ndcg"))
    scored.groupBy("dim").agg(
      count(lit(1)).as("n_queries"),
      expr("round(CAST(sum(recall) AS DOUBLE) / count(*), 6)").as("recall_at_k"),
      expr("round(CAST(sum(rr) AS DOUBLE) / count(*), 6)").as("mrr"),
      expr("round(CAST(sum(ndcg) AS DOUBLE) / count(*), 6)").as("ndcg_at_k"))
      .orderBy("dim")
  }

  /** Generated oracle for [[dimTruncationEval]]: one brute leg per width
    * UNION'd under a shared window/bitmask/DECIMAL tail (every CTE
    * materialized — the mmr/knn lesson). */
  def dimTruncationEvalSql(k: Int = 10, dims: Seq[Int] = Seq(16, 32, 64)): String = {
    val full = dims.max
    val idcg = ndcgWeights(k).map(_.toDouble).sum.toString
    val legs = dims.map(d =>
      s"""    SELECT q_id, e.vec_id AS n_id, $d AS dim,
         |      list_cosine_similarity(q_v[1:$d], e.v[1:$d]) AS rel
         |    FROM q JOIN e ON e.vec_id <> q.q_id""".stripMargin)
      .mkString("\n    UNION ALL\n")
    s"""WITH e AS MATERIALIZED (
       |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
       |), q AS MATERIALIZED (
       |  SELECT vec_id AS q_id, v AS q_v FROM e WHERE vec_id % 50 = 0
       |), rels AS MATERIALIZED (
       |$legs
       |), got AS MATERIALIZED (
       |  SELECT dim, q_id, n_id, rank FROM (
       |    SELECT *, row_number() OVER (PARTITION BY dim, q_id
       |      ORDER BY rel DESC, n_id) AS rank
       |    FROM rels) WHERE rank <= $k
       |), truth AS MATERIALIZED (
       |  SELECT q_id, n_id FROM got WHERE dim = $full
       |), hits AS MATERIALIZED (
       |  SELECT g.dim, g.q_id, g.rank FROM got g
       |  JOIN truth t ON t.q_id = g.q_id AND t.n_id = g.n_id
       |), base AS MATERIALIZED (
       |  SELECT DISTINCT dim, q_id FROM got
       |), perq AS MATERIALIZED (
       |  SELECT b.dim, coalesce(h.n_hits, 0) AS n_hits,
       |         coalesce(h.hitmask, 0) AS hitmask, h.first_hit
       |  FROM base b
       |  LEFT JOIN (SELECT dim, q_id, count(*) AS n_hits,
       |               sum(CAST(pow(2, rank - 1) AS BIGINT)) AS hitmask,
       |               min(rank) AS first_hit
       |             FROM hits GROUP BY dim, q_id) h USING (dim, q_id)
       |), scored AS MATERIALIZED (
       |  SELECT dim,
       |    CAST(CAST(n_hits AS DOUBLE) / $k AS DECIMAL(24,12)) AS recall,
       |    CAST(CASE WHEN first_hit IS NULL THEN CAST(0.0 AS DOUBLE)
       |         ELSE CAST(1.0 AS DOUBLE) / first_hit END AS DECIMAL(24,12)) AS rr,
       |    CAST((${dcgExprOf(k)}) / $idcg AS DECIMAL(24,12)) AS ndcg
       |  FROM perq)
       |SELECT dim, count(*) AS n_queries,
       |  round(CAST(sum(recall) AS DOUBLE) / count(*), 6) AS recall_at_k,
       |  round(CAST(sum(rr) AS DOUBLE) / count(*), 6) AS mrr,
       |  round(CAST(sum(ndcg) AS DOUBLE) / count(*), 6) AS ndcg_at_k
       |FROM scored GROUP BY dim ORDER BY dim""".stripMargin
  }

  /** MMR re-rank weights, written as LITERALS on both engines: deriving
    * μ = 1 − λ in Scala would yield 0.30000000000000004 while the oracle
    * parses the decimal text 0.3 — a one-ulp mismatch that flips greedy
    * argmax decisions on near-ties. */
  val MmrLambda = "0.7"
  val MmrMu = "0.3"

  /** Maximal-Marginal-Relevance diversified top-k (Carbonell & Goldstein
    * '98) over the pinned serving batch — the re-rank stage every RAG
    * retrieval runs when its top-k collapses onto near-duplicates: pick
    * greedily by `λ·rel(c) − (1−λ)·max_{s∈selected} sim(c, s)`, so each
    * pick is relevant AND far from what is already selected.
    *
    * Plan shape (the serving discipline of `bm25_topk_served`): queries
    * are the FIXED `vec_id ≤ ServeBatchMaxId` batch; stage 1 is one
    * corpus pass per batch (broadcast queries, per-query top-`nCand`
    * window); stage 2 confines ALL pairwise similarity to the candidate
    * set (`nCand`² per query, never corpus×corpus) and folds the greedy
    * selection as ONE `aggregate` HOF over the per-query candidate array
    * — k·nCand work per query inside a single projection, no iteration
    * joins, no driver loop. At 100 TB stage 1 rides [[annLshTopK]]'s
    * banded index instead of the brute pass (drop-in: same (q_id, n_id)
    * candidate contract); stage 2 is batch-bounded either way.
    *
    * Cross-engine exactness: rel and sim are the same
    * [[graft.functions.CosineSimilarity]] doubles the brute oracle
    * computes (`list_cosine_similarity` — bit-equal, proven by the
    * ann family), the MMR score is the same fixed expression over them,
    * and the greedy argmax breaks ties on the smaller id in both
    * engines, so the SELECTION SEQUENCE matches decision-for-decision —
    * the oracle unrolls the k greedy steps as chained CTEs (the
    * knn-construction convention).
    */
  def mmrRerankTopK(spark: SparkSession, dir: String, k: Int = 8,
      nCand: Int = 20): DataFrame = {
    val e = Tables(spark, dir, "embeddings")
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
    val queries = e.filter(col("vec_id") <= TextAnalysis.ServeBatchMaxId)
      .select(col("vec_id").as("q_id"), col("v").as("q_v"))
    mmrRerankFor(spark, dir, queries, k, nCand)
  }

  /** [[mmrRerankTopK]]'s core over ANY `(q_id, q_v)` query frame — the
    * serving surface ([[graft.streaming.VectorStreams.mmrServe]] feeds
    * micro-batches of query vectors through it against the static
    * corpus; per-query independence makes stream ≡ batch exact). */
  def mmrRerankFor(spark: SparkSession, dir: String, queries: DataFrame,
      k: Int = 8, nCand: Int = 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = Tables(spark, dir, "embeddings")
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
    val scored = e.join(broadcast(queries), col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("n_id"),
        cosine(col("q_v"), col("v")).as("rel"), col("v"))
    val w = Window.partitionBy("q_id").orderBy(col("rel").desc, col("n_id"))
    // realized once: the candidate table is batch-bounded (|q|·nCand rows)
    // but its SUBTREE is the corpus pass — without the checkpoint the
    // self-join and the regroup would re-run that pass three times
    val cand = scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= nCand)
      .select(col("q_id"), col("n_id"), col("rel"), col("v"))
      .localCheckpoint(true)
    val pairSims = cand.as("x")
      .join(cand.as("y"),
        col("x.q_id") === col("y.q_id") && col("x.n_id") =!= col("y.n_id"))
      .select(col("x.q_id").as("q_id"), col("x.n_id").as("n_id"),
        col("y.n_id").as("o_id"), cosine(col("x.v"), col("y.v")).as("sim"))
      .groupBy("q_id", "n_id")
      .agg(map_from_entries(
        sort_array(collect_list(struct(col("o_id"), col("sim"))))).as("sims"))
    val grouped = cand.join(pairSims, Seq("q_id", "n_id"))
      .groupBy("q_id")
      // collection order is partition-dependent but irrelevant: the fold's
      // argmax is order-free (strict struct max with the id tiebreak)
      .agg(collect_list(struct(col("n_id"), col("rel"), col("sims"))).as("cands"))
    // greedy fold: the accumulator rides the (score, negid, n_id) struct
    // whose lexicographic max IS the argmax with the smaller-id tiebreak.
    // Exhaustion guard: when a query has fewer than k candidates (tiny
    // corpus, filtered candidate set, nCand < k) the remaining steps keep
    // `sel` unchanged — a clean truncated list, never a null struct from
    // array_max over an empty set. (The unrolled oracle instead DROPS a
    // query that exhausts mid-chain — its step CTE loses the row — so the
    // registered query pins the regime where every query fills k, which
    // the ≥nCand-per-query corpus guarantees; MmrSpec pins the truncation
    // behavior of this serving surface directly.)
    val selected = expr(
      s"""aggregate(
         |  sequence(1, $k),
         |  CAST(array() AS array<struct<score: double, negid: bigint, n_id: bigint>>),
         |  (sel, step) -> IF(
         |    size(filter(cands, c -> NOT exists(sel, s -> s.n_id = c.n_id))) = 0,
         |    sel,
         |    concat(sel, array(
         |      array_max(transform(
         |        filter(cands, c -> NOT exists(sel, s -> s.n_id = c.n_id)),
         |        c -> named_struct(
         |          'score', CAST($MmrLambda AS DOUBLE) * c.rel
         |            - CAST($MmrMu AS DOUBLE) * coalesce(
         |                array_max(transform(sel, s -> element_at(c.sims, s.n_id))),
         |                CAST(0.0 AS DOUBLE)),
         |          'negid', -c.n_id,
         |          'n_id', c.n_id)))))))""".stripMargin)
    grouped
      .select(col("q_id"), posexplode(selected).as(Seq("pos", "s")))
      .select(col("q_id"), (col("pos") + 1).as("rank"),
        col("s.n_id").as("n_id"), (round(col("s.score"), 4) + lit(0.0)).as("mmr"))
      .orderBy("q_id", "rank")
  }

  /** Generated oracle for [[mmrRerankTopK]]: the k greedy steps unrolled
    * as chained CTEs — step t joins the step-(t−1) state, excludes its
    * picks, and takes the per-query argmax of the SAME score expression
    * (GREATEST over the picked sims ≡ the Spark fold's array_max).
    * Every CTE is `AS MATERIALIZED` (the knn-oracle lesson): each step
    * references `cand`/`pair` and the final UNION references s_k k times
    * — DuckDB re-inlines multiply-referenced CTEs by default, turning
    * the chain superlinear in the unroll depth at scaled SFs. */
  def mmrRerankTopKSql(k: Int = 8, nCand: Int = 20): String = {
    val head =
      s"""WITH e AS MATERIALIZED (
         |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
         |), q AS MATERIALIZED (
         |  SELECT vec_id AS q_id, v AS q_v FROM e
         |  WHERE vec_id <= ${TextAnalysis.ServeBatchMaxId}
         |), scored AS MATERIALIZED (
         |  SELECT q_id, e.vec_id AS n_id,
         |    list_cosine_similarity(q_v, e.v) AS rel, e.v AS v
         |  FROM q JOIN e ON e.vec_id <> q.q_id
         |), cand AS MATERIALIZED (
         |  SELECT q_id, n_id, rel, v FROM (
         |    SELECT *, row_number() OVER (PARTITION BY q_id
         |      ORDER BY rel DESC, n_id) AS rn
         |    FROM scored) WHERE rn <= $nCand
         |), pair AS MATERIALIZED (
         |  SELECT x.q_id AS q_id, x.n_id AS aid, y.n_id AS bid,
         |    list_cosine_similarity(x.v, y.v) AS sim
         |  FROM cand x JOIN cand y ON x.q_id = y.q_id AND x.n_id <> y.n_id
         |), s1 AS MATERIALIZED (
         |  SELECT q_id, n_id AS id1, sc AS sc1 FROM (
         |    SELECT q_id, n_id,
         |      $MmrLambda::DOUBLE * rel - $MmrMu::DOUBLE * 0.0::DOUBLE AS sc,
         |      row_number() OVER (PARTITION BY q_id ORDER BY
         |        $MmrLambda::DOUBLE * rel - $MmrMu::DOUBLE * 0.0::DOUBLE DESC,
         |        n_id) AS rn
         |    FROM cand) WHERE rn = 1
         |)""".stripMargin
    val steps = (2 to k).map { t =>
      val prev = (1 until t)
      val prevCols = prev.flatMap(i => Seq(s"p.id$i", s"p.sc$i")).mkString(", ")
      val prevOut = prev.flatMap(i => Seq(s"id$i", s"sc$i")).mkString(", ")
      val notPicked = prev.map(i => s"c.n_id <> p.id$i").mkString(" AND ")
      val simJoins = prev.map(i =>
        s"  JOIN pair j$i ON j$i.q_id = c.q_id AND j$i.aid = c.n_id AND j$i.bid = p.id$i")
        .mkString("\n")
      val maxSim =
        if (t == 2) "j1.sim"
        else s"GREATEST(${prev.map(i => s"j$i.sim").mkString(", ")})"
      val sc = s"$MmrLambda::DOUBLE * c.rel - $MmrMu::DOUBLE * $maxSim"
      s""", s$t AS MATERIALIZED (
         |  SELECT q_id, $prevOut, n_id AS id$t, sc AS sc$t FROM (
         |    SELECT c.q_id AS q_id, $prevCols, c.n_id AS n_id,
         |      $sc AS sc,
         |      row_number() OVER (PARTITION BY c.q_id ORDER BY $sc DESC, c.n_id) AS rn
         |    FROM cand c
         |    JOIN s${t - 1} p ON p.q_id = c.q_id AND $notPicked
         |$simJoins
         |  ) WHERE rn = 1
         |)""".stripMargin
    }.mkString
    val finals = (1 to k).map(t =>
      s"SELECT q_id, $t AS rank, id$t AS n_id, round(sc$t, 4) + 0.0 AS mmr FROM s$k")
      .mkString("\nUNION ALL\n")
    s"$head$steps\n$finals\nORDER BY q_id, rank"
  }
}
