package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed graph-based ANN: a k-NN graph built NN-Descent-style
  * (Dong, Moses & Li, "Efficient k-nearest neighbor graph construction
  * for generic similarity measures", WWW 2011) and searched by iterative
  * beam expansion from per-cell entry points.
  *
  * This is the distributed re-design of the HNSW family: HNSW itself is a
  * SEQUENTIAL stateful insert loop (each insert mutates the layered graph
  * the next insert navigates) and cannot be expressed as a dataflow
  * without serializing the corpus through one node. NN-Descent is the
  * published alternative that converges to the same navigable-graph idea
  * through pure bulk iteration, which is exactly what a Spark cluster can
  * do:
  *
  *  - '''Init''': within-cell top-G neighbors under the fitted coarse
  *    quantizer (`Similarity.fitCentroids` — the same KMeans the IVF
  *    family plans with). A bucketed equi-join on the cell id, never an
  *    all-pairs product: cost is Σ|cell|². NOTE the scaling CONTRACT:
  *    at a FIXED cell count that sum is O(N²/cells) — the cell count is
  *    the deployment's `nlist` knob (exactly like IVF sizing: grow it
  *    ∝ corpus so |cell| stays ~constant, and init stays a bounded
  *    bucketed join, the [[Similarity.semDedupFrom]] argument). The
  *    registered query uses the family-standard 16 cells, which is the
  *    right granularity at bench SF; [[knnGraphTopK]] takes `nCentroids`
  *    so a larger corpus sizes it up.
  *  - '''NN-Descent rounds''': each round forms candidate pairs as
  *    neighbor-of-neighbor — the undirected edge list self-joined on the
  *    shared endpoint (an equi-join producing ≤ N·(2G)² rows, G the graph
  *    degree), unions the current edges, re-scores with the codegen'd
  *    [[graft.functions.CosineSimilarity]], and keeps top-G per source
  *    via a rank-limited window (WindowGroupLimit caps it map-side).
  *    Every step is a key-partitioned shuffle on vector ids; nothing is
  *    driver-side and no step depends on insertion order.
  *  - '''Search''': beam expansion, the bulk form of best-first descent.
  *    Entry points are the per-cell medoids (the member with the highest
  *    quantizer assignment score — a plan-time-deterministic choice that
  *    needs no stored model beyond the centroids). Each hop joins the
  *    current per-query beam against the edge list (equi-join on the
  *    graph node), scores the new candidates against the query vector,
  *    and re-beams. Query cost scales with |queries|·beam·G per hop,
  *    never with the corpus.
  *
  * Determinism: init order never matters (all steps are set-shaped with
  * explicit (score DESC, id) tie-breaks), the quantizer fit is the
  * bit-reproducible `Similarity.fitCentroidsFrom`, and every cosine is
  * the same left-to-right accumulation DuckDB's `list_cosine_similarity`
  * performs — which is what lets `knnGraphTopKSql` restate the whole
  * construction + search as an EXACT unrolled oracle under the fitted
  * centroid literals (the `Similarity.annIvfTopKSql` pattern).
  *
  * Unlike the PQ/OPQ family, candidates are scored with EXACT cosine
  * (the graph bounds exploration instead of quantizing the metric), so
  * recall is limited only by graph connectivity — the recall spec pins it
  * at/above the best quantized family member on the same corpus.
  */
object GraphAnn {

  /** Graph degree G: top-G out-edges kept per vector. */
  val KnnDegree = 10
  /** NN-Descent refinement rounds after the bucketed init. */
  val KnnRounds = 2
  /** Id-chunk size for the diversification links in the init (see
    * `knnGraphEdges`): vectors sharing `vec_id div KnnChunk` are initial
    * candidates regardless of their cell. */
  val KnnChunk = 12
  /** Per-query beam width during search. */
  val KnnBeam = 20
  /** Search hops (graph expansions) after seeding from the entry points. */
  val KnnHops = 3

  private def asDouble(c: Column): Column = transform(c, _.cast("double"))

  private def embeddings(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "embeddings")
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))

  /** Top-`g` edges per source by exact cosine, ties to the lower dst id.
    * (An r18 experiment replaced this window + the upstream distincts with
    * collect_list aggregates and in-list pair generation — fewer
    * exchanges on paper, but the object-based aggregate/Generate path
    * lost to the codegen hash joins by 2–4× measured at sf0.1; reverted.
    * The rank-limited window keeps WindowGroupLimit's map-side cap.) */
  private[ops] def topPerSrc(scored: DataFrame, g: Int): DataFrame = {
    val w = Window.partitionBy(col("src")).orderBy(col("c").desc, col("dst"))
    scored.withColumn("r", row_number().over(w)).filter(col("r") <= g)
      .select("src", "dst")
  }

  /** Scored init candidates: the union of the two bucketed pair sets,
    * joined back to the vectors. Lazy — [[knnGraphEdges]] checkpoints.
    *
    * The init takes candidates from TWO bucketings, both equi-joins:
    * within-cell (quality — most true neighbors share a cell) and
    * within-id-chunk (`vec_id div KnnChunk` — diversification). The
    * second is essential, not an optimization: a purely within-cell init
    * makes the graph a disjoint union of cell cliques, and
    * neighbor-of-neighbor expansion can never cross a cell boundary —
    * descent would be structurally a no-op. The chunk links are the
    * deterministic stand-in for NN-Descent's published random init:
    * id-adjacency is arbitrary with respect to the embedding space, so
    * each chunk contributes long-range edges that the refinement rounds
    * then improve into true cross-cell neighbors. Constant chunk size ⇒
    * the join stays bounded at any corpus scale, with no global sort,
    * count, or RNG state.
    */
  private[ops] def initStage(e: DataFrame, cent: Array[Array[Double]]): DataFrame = {
    val cells = Similarity.assignCells(e, cent).select("vec_id", "cell")
    val cellPairs = cells.select(col("cell"), col("vec_id").as("src"))
      .join(cells.select(col("cell"), col("vec_id").as("dst")), "cell")
      .filter(col("src") =!= col("dst")).select("src", "dst")
    val chunks = e.select(expr(s"vec_id div $KnnChunk").as("chunk"), col("vec_id"))
    val chunkPairs = chunks.select(col("chunk"), col("vec_id").as("src"))
      .join(chunks.select(col("chunk"), col("vec_id").as("dst")), "chunk")
      .filter(col("src") =!= col("dst")).select("src", "dst")
    cellPairs.union(chunkPairs).distinct()
      .join(e.select(col("vec_id").as("src"), col("v").as("sv")), "src")
      .join(e.select(col("vec_id").as("dst"), col("v").as("dv")), "dst")
      .select(col("src"), col("dst"), Similarity.cosine(col("sv"), col("dv")).as("c"))
  }

  /** One NN-Descent round over the current edge list: neighbor-of-neighbor
    * candidates through the undirected view, re-scored. Lazy —
    * [[knnGraphEdges]] checkpoints. */
  private[ops] def descentRound(e: DataFrame, edges: DataFrame): DataFrame = {
    // undirected view: a good neighbor of my neighbor is a candidate
    // whichever direction the kept edge points. (r18: dropping this
    // distinct — the post-union distinct already dedups the candidate
    // set — was A/B'd and measured slightly SLOWER: the reciprocal-edge
    // duplicates inflate the self-join more than one exchange costs.)
    val und = edges.union(edges.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
    val nn = und.as("e1").join(und.as("e2"), col("e1.dst") === col("e2.src"))
      .select(col("e1.src").as("src"), col("e2.dst").as("dst"))
      .filter(col("src") =!= col("dst"))
    nn.union(edges).distinct()
      .join(e.select(col("vec_id").as("src"), col("v").as("sv")), "src")
      .join(e.select(col("vec_id").as("dst"), col("v").as("dv")), "dst")
      .select(col("src"), col("dst"), Similarity.cosine(col("sv"), col("dv")).as("c"))
  }

  /** The k-NN graph edge list `(src, dst)`: bucketed init ([[initStage]] —
    * see its doc for the two-bucketing rationale), then `rounds` NN-Descent
    * refinements ([[descentRound]]). Pure dataflow; each superstep is
    * materialized and lineage-truncated below. */
  private[ops] def knnGraphEdges(e: DataFrame, cent: Array[Array[Double]],
      g: Int = KnnDegree, rounds: Int = KnnRounds): DataFrame = {
    // Iterative dataflow: each round references the previous edge list
    // several times (undirected view ×2, candidate union ×1), and each
    // hop of the search references the round output again — left lazy,
    // the lineage multiplies per iteration (exponential re-execution and
    // plan size). Materializing each superstep's state and truncating
    // lineage (localCheckpoint) is the Pregel shape: the iterate state is
    // N·G id pairs per round, the standard footprint at any corpus size.
    // (On a real cluster a reliable checkpoint dir would back this; in
    // local mode executor-memory blocks are equivalent.) The supersteps'
    // own plan shapes are pinned by GraphAnnSpec, since the registered
    // query's digest only sees past the last checkpoint.
    var edges = topPerSrc(initStage(e, cent), g).localCheckpoint(true)
    for (_ <- 1 to rounds) {
      edges = topPerSrc(descentRound(e, edges), g).localCheckpoint(true)
    }
    edges
  }

  /** Per-cell entry points: the member with the highest quantizer
    * assignment score (⟨v,c⟩ − |c|²/2 against its OWN cell — the argmax
    * struct [[Similarity.assignCells]] already computes), ties to the
    * lower vec_id. One navigable seed per cell, derived from the data +
    * centroids alone.
    */
  private def entryPoints(e: DataFrame, cent: Array[Array[Double]]): DataFrame = {
    val best = element_at(
      array_sort(array(Similarity.cellStructs(cent, col("v")): _*)), -1)
    val assigned = e.select(col("vec_id"), col("v"),
      best.getField("cell").as("cell"), best.getField("score").as("score"))
    val w = Window.partitionBy(col("cell")).orderBy(col("score").desc, col("vec_id"))
    assigned.withColumn("r", row_number().over(w)).filter(col("r") === 1)
      .select(col("vec_id").as("n_id"), col("v").as("nv"))
  }

  /** Duplicate-collapsed vector index: one representative per distinct
    * vector VALUE (the min vec_id of each value group) plus the membership
    * map back — `(reps(vec_id, v), members(vec_id, rep_id))`.
    *
    * Why the registered query builds its graph over THIS and not the raw
    * table: a k-NN graph on a duplicate-heavy corpus degenerates. Every
    * vector with d ≥ G byte-identical twins fills its whole neighbor list
    * with them (cos = 1 beats every true neighbor), so the graph collapses
    * into disconnected twin-cliques and beam search cannot navigate —
    * MEASURED at the ×10 replicated sf1 probe: recall@10 fell from 0.89
    * (sf0.01) to 0.05, with median rank-1 cosine 0.23 against an exact
    * best of 1.0 (BASELINE.md round 14). Real web-scale embedding corpora
    * are exactly this shape (that is why SemDeDup exists), so
    * dedup-then-index is the production construction: graph + entry
    * points over distinct values, search over representatives, then
    * expand each retrieved representative to its duplicate group at
    * re-rank (cos against a member IS cos against its representative —
    * same value — so the expansion carries the score). Costs one
    * value-grouping shuffle and shrinks construction on any corpus with
    * duplicates; on an all-distinct corpus reps ≡ the table and members
    * is the identity map.
    */
  private[ops] def repsOf(e: DataFrame): (DataFrame, DataFrame) = {
    val reps = e.groupBy("v").agg(min("vec_id").as("vec_id"))
      .select("vec_id", "v")
    val members = e
      .join(reps.select(col("vec_id").as("rep_id"), col("v")), "v")
      .select(col("vec_id"), col("rep_id"))
    (reps, members)
  }

  /** Graph-ANN top-k for the standard sampled query set (vec_id ≡ 0 mod
    * 50): NN-Descent graph + beam search over the duplicate-collapsed
    * representatives (`repsOf` — the measured sf1 degeneration is the
    * rationale), output shape identical to the rest of the ANN family
    * `(q_id, n_id, rank, cos)`.
    */
  def knnGraphTopK(spark: SparkSession, dir: String, k: Int = 10,
      nCentroids: Int = Similarity.NCentroids): DataFrame = {
    val e = embeddings(spark, dir)
    val cent = Similarity.fitCentroids(spark, dir, nCentroids)
    knnGraphTopKFrom(e, cent, k)
  }

  /** [[knnGraphTopK]] over any `(vec_id, v)` frame under given centroids
    * (library surface — the planted-duplicate regression spec builds a
    * replicated frame and asserts recall survives, the failure mode the
    * sf1 probe measured).
    */
  private[ops] def knnGraphTopKFrom(e: DataFrame, cent: Array[Array[Double]],
      k: Int = 10): DataFrame = {
    val (reps, members) = repsOf(e)
    // both feed several supersteps / the final expansion — materialize once
    val re = reps.persist()
    val mem = members.persist()
    val edges = knnGraphEdges(re, cent)
    searchTail(e, re, mem, edges, cent, k)
  }

  /** The beam-search + duplicate-expansion tail over a built edge list —
    * split out of [[knnGraphTopKFrom]] so the probe can time construction
    * and search separately; the composed plan is unchanged. */
  private[ops] def searchTail(e: DataFrame, re: DataFrame, mem: DataFrame,
      edges: DataFrame, cent: Array[Array[Double]], k: Int = 10): DataFrame = {
    val entries = entryPoints(re, cent)
    val q = e.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("q_id"), col("v").as("q_v"))
    // seed: every query scores every entry point (one tiny broadcast —
    // |entries| = cell count, the documented scalar-broadcast combine)
    // PLUS its own representative — self-kNN knows its duplicate group at
    // index time, and starting the descent at the query's own node is the
    // standard navigable-graph warm start. distinct(): the own-rep seed
    // may coincide with a medoid (identical inputs ⇒ identical double).
    // per-hop superstep state: `visited` feeds both the beam window and
    // the next union — left lazy, the lineage doubles per hop (2^hops
    // re-execution). |visited| ≤ |q|·(cells + 1 + hops·beam·G) —
    // query-batch-sized, never corpus-sized.
    var visited = q.crossJoin(broadcast(entries))
      .select(col("q_id"), col("n_id"),
        Similarity.cosine(col("q_v"), col("nv")).as("c"))
      .union(q
        .join(mem.withColumnRenamed("vec_id", "q_id"), "q_id")
        .join(re.select(col("vec_id").as("n_id"), col("v").as("nv")),
          col("rep_id") === col("n_id"))
        .select(col("q_id"), col("n_id"),
          Similarity.cosine(col("q_v"), col("nv")).as("c")))
      .distinct()
      .localCheckpoint(true)
    for (_ <- 1 to KnnHops) {
      val w = Window.partitionBy(col("q_id")).orderBy(col("c").desc, col("n_id"))
      val frontier = visited.withColumn("r", row_number().over(w))
        .filter(col("r") <= KnnBeam).select("q_id", "n_id")
      // dedup candidates and drop already-visited nodes BEFORE the vector
      // joins + cosine: several frontier nodes share out-neighbors and
      // every hop re-reaches the beam itself, so without this the scoring
      // work repeats per duplicate only for union().distinct() to discard
      // it. Scores are a deterministic function of the pair, so the
      // pruned plan produces the identical (q_id, n_id, c) set — the
      // unrolled oracle's SELECT DISTINCT sees no difference.
      val exp = frontier
        .join(edges.withColumnRenamed("src", "n_id"), "n_id")
        .select(col("q_id"), col("dst").as("n_id"))
        .distinct()
        .join(visited.select("q_id", "n_id"), Seq("q_id", "n_id"), "left_anti")
        .join(q, "q_id")
        .join(re.select(col("vec_id").as("n_id"), col("v").as("nv")), "n_id")
        .select(col("q_id"), col("n_id"),
          Similarity.cosine(col("q_v"), col("nv")).as("c"))
      // exp is internally distinct and disjoint from visited ⇒ the union
      // is already a set; no post-union distinct (one exchange saved)
      visited = visited.union(exp).localCheckpoint(true)
    }
    // expand representatives to their duplicate groups (score carries —
    // identical value), then the exact (c DESC, member id) top-k
    val w = Window.partitionBy(col("q_id")).orderBy(col("c").desc, col("n_id"))
    visited
      .join(mem.select(col("rep_id").as("n_id"), col("vec_id").as("m_id")), "n_id")
      .select(col("q_id"), col("m_id").as("n_id"), col("c"))
      .filter(col("n_id") =!= col("q_id"))
      .withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select(col("q_id"), col("n_id"), col("rank"), (round(col("c"), 4) + lit(0.0)).as("cos"))
      .orderBy("q_id", "rank")
  }

  /** EXACT DuckDB oracle: the construction AND search unrolled as CTEs
    * under the fitted-centroid literals. `reps`/`members` restate the
    * duplicate collapse ([[repsOf]]), `rcells` restricts the quantizer
    * assignment to representatives, `g0` is the bucketed init, each
    * `u_i`/`g_i` pair one NN-Descent round, `entries` the per-cell
    * medoids among representatives, `v_i`/`f_i` one beam hop each (v0
    * additionally seeds each query's own representative), and the final
    * ranking expands representatives through `members`. Every ranking
    * re-states the Spark window's `(score DESC, id)` tie-break; every
    * cosine is the same left-to-right accumulation on both engines.
    */
  private[graft] def knnGraphTopKSql(cent: Array[Array[Double]], k: Int = 10,
      g: Int = KnnDegree, rounds: Int = KnnRounds,
      beam: Int = KnnBeam, hops: Int = KnnHops): String = {
    val sb = new StringBuilder
    sb ++= Similarity.cellsSqlCtes(cent)
    sb ++=
      s""", reps AS (
         |  SELECT min(vec_id) AS vec_id, v FROM ev GROUP BY v
         |), members AS (
         |  SELECT e.vec_id, r.vec_id AS rep_id FROM ev e JOIN reps r ON e.v = r.v
         |), rcells AS (
         |  SELECT c.vec_id, c.cell FROM cells c JOIN reps r ON r.vec_id = c.vec_id
         |), c0 AS (
         |  SELECT DISTINCT src, dst FROM (
         |    SELECT a.vec_id AS src, b.vec_id AS dst
         |    FROM rcells a JOIN rcells b ON b.cell = a.cell AND b.vec_id <> a.vec_id
         |    UNION ALL
         |    SELECT a.vec_id AS src, b.vec_id AS dst
         |    FROM reps a JOIN reps b
         |      ON b.vec_id // $KnnChunk = a.vec_id // $KnnChunk
         |     AND b.vec_id <> a.vec_id)
         |), g0 AS (
         |  SELECT src, dst FROM (
         |    SELECT c.src, c.dst,
         |      row_number() OVER (PARTITION BY c.src
         |        ORDER BY list_cosine_similarity(sv.v, dv.v) DESC, c.dst) AS r
         |    FROM c0 c
         |    JOIN ev sv ON sv.vec_id = c.src
         |    JOIN ev dv ON dv.vec_id = c.dst)
         |  WHERE r <= $g
         |)""".stripMargin
    for (i <- 1 to rounds) {
      val prev = s"g${i - 1}"
      sb ++=
        s""", u$i AS (
           |  SELECT DISTINCT src, dst FROM (
           |    SELECT src, dst FROM $prev UNION ALL SELECT dst, src FROM $prev)
           |), g$i AS (
           |  SELECT src, dst FROM (
           |    SELECT c.src, c.dst,
           |      row_number() OVER (PARTITION BY c.src
           |        ORDER BY list_cosine_similarity(sv.v, dv.v) DESC, c.dst) AS r
           |    FROM (
           |      SELECT DISTINCT src, dst FROM (
           |        SELECT e1.src AS src, e2.dst AS dst
           |        FROM u$i e1 JOIN u$i e2 ON e2.src = e1.dst
           |        WHERE e2.dst <> e1.src
           |        UNION ALL SELECT src, dst FROM $prev)) c
           |    JOIN ev sv ON sv.vec_id = c.src
           |    JOIN ev dv ON dv.vec_id = c.dst)
           |  WHERE r <= $g
           |)""".stripMargin
    }
    val gf = s"g$rounds"
    sb ++=
      s""", entries AS (
         |  SELECT vec_id FROM (
         |    SELECT s.vec_id, row_number() OVER (PARTITION BY s.cell
         |      ORDER BY s.score DESC, s.vec_id) AS r
         |    FROM scored s JOIN rcells cl ON cl.vec_id = s.vec_id AND cl.cell = s.cell)
         |  WHERE r = 1
         |), q AS (
         |  SELECT vec_id AS q_id, v AS q_v FROM ev WHERE vec_id % 50 = 0
         |), v0 AS (
         |  SELECT DISTINCT q_id, n_id, c FROM (
         |    SELECT q.q_id, en.vec_id AS n_id, list_cosine_similarity(q.q_v, nv.v) AS c
         |    FROM q CROSS JOIN entries en JOIN ev nv ON nv.vec_id = en.vec_id
         |    UNION ALL
         |    SELECT q.q_id, m.rep_id AS n_id, list_cosine_similarity(q.q_v, nv.v) AS c
         |    FROM q JOIN members m ON m.vec_id = q.q_id
         |    JOIN ev nv ON nv.vec_id = m.rep_id)
         |)""".stripMargin
    for (i <- 1 to hops) {
      val pv = s"v${i - 1}"
      sb ++=
        s""", f$i AS (
           |  SELECT q_id, n_id FROM (
           |    SELECT q_id, n_id,
           |      row_number() OVER (PARTITION BY q_id ORDER BY c DESC, n_id) AS r
           |    FROM $pv)
           |  WHERE r <= $beam
           |), v$i AS (
           |  SELECT DISTINCT q_id, n_id, c FROM (
           |    SELECT q_id, n_id, c FROM $pv
           |    UNION ALL
           |    SELECT f.q_id, e.dst AS n_id, list_cosine_similarity(qq.q_v, dv.v) AS c
           |    FROM f$i f JOIN $gf e ON e.src = f.n_id
           |    JOIN q qq ON qq.q_id = f.q_id
           |    JOIN ev dv ON dv.vec_id = e.dst)
           |)""".stripMargin
    }
    sb ++=
      s"""
         |SELECT q_id, n_id, rank, cos FROM (
         |  SELECT q_id, n_id,
         |    row_number() OVER (PARTITION BY q_id ORDER BY c DESC, n_id) AS rank,
         |    round(c, 4) + 0.0 AS cos
         |  FROM (
         |    SELECT v.q_id, m.vec_id AS n_id, v.c
         |    FROM v$hops v JOIN members m ON m.rep_id = v.n_id
         |    WHERE m.vec_id <> v.q_id))
         |WHERE rank <= $k
         |ORDER BY q_id, rank""".stripMargin
    // Force every CTE MATERIALIZED: the unrolled construction references
    // each superstep CTE several times (u_i twice per round, g_rounds once
    // per hop, ev/members throughout), and DuckDB's default inlining
    // re-expands per reference — exponential in depth. That is what made
    // this oracle spill 26 GB at sf1; materialized, it runs there in
    // seconds. (The pattern only ever matches CTE definitions: window
    // clauses are `OVER (`, the VALUES alias is `AS t(...)`.)
    sb.toString.replaceAll("([A-Za-z_][A-Za-z0-9_]*) AS \\(", "$1 AS MATERIALIZED (")
  }
}
