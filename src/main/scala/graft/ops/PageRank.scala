package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Distributed PageRank over a link graph DERIVED from the corpus — the
  * iterative-dataflow capability (Pregel / GraphX shape) expressed as
  * plain DataFrame joins: rank authority flows along edges, so crawl
  * prioritization and quality weighting can use link signal the per-doc
  * heuristics ([[QualityModel]]) cannot see.
  *
  * Graph: doc → doc edges via SHARED RARE SHINGLES (df ∈ [2,4]) — the
  * same pruned-universe criterion as [[Dedup.containmentPairs]]: a rare
  * shingle shared by two documents is citation-like evidence (quotation,
  * syndication, common source). Edges are symmetric by construction (the
  * shingle join produces both directions), never formed all-pairs —
  * the df cap bounds the per-shingle fan-out exactly as in containment.
  *
  * Arithmetic: FIXED-POINT integers, not floats. Float PageRank sums
  * contributions in nondeterministic order, so no two engines (or two
  * runs at different parallelism) agree bit-for-bit. Here every node
  * starts at 1 000 000 micro-units and iterates
  *
  *   pr'(v) = 150 000 + (850 × Σ_{u→v} (pr(u) div outdeg(u))) div 1000
  *
  * — damping 0.85 with all divisions integral. Integer addition is
  * associative, so the per-dst aggregation is order-independent and the
  * DuckDB oracle re-derives the identical micro-unit scores through five
  * unrolled CTE iterations. Dangling mass (nodes with no out-edges)
  * evaporates rather than redistributing — the standard simplification,
  * documented; ranking order is unaffected for connected components.
  * At larger corpora the unit scale is the knob (mass × damping products
  * must fit a BIGINT; 10¹² docs × 10⁶ units × 850 still fits with room).
  *
  * Scale shape: the edge table (with out-degree attached once) is
  * persisted and re-joined each iteration — partitioned by src, so every
  * superstep is one shuffle on dst for the contribution aggregate plus a
  * broadcast-free left join back to the node set. Each iteration ends in
  * `localCheckpoint` (the [[GraphAnn]] Pregel convention): lineage stays
  * O(1) across supersteps instead of multiplying the join tree.
  */
object PageRank {

  val RareMinDf = 2
  val RareMaxDf = 4
  val Iterations = 5
  val ScaleUnit = 1000000L

  /** Symmetric doc→doc edges via shared rare shingles. */
  def linkGraph(docs: DataFrame): DataFrame = {
    val ex = docs.select(col("doc_id"), explode(Dedup.shingles(col("text"))).as("s"))
    val rareKeys = ex.groupBy("s").agg(count(lit(1)).as("df"))
      .filter(col("df") >= RareMinDf && col("df") <= RareMaxDf)
      .select("s")
    val rare = ex.join(rareKeys, Seq("s"))
    rare.select(col("s"), col("doc_id").as("src"))
      .join(rare.select(col("s"), col("doc_id").as("dst")), Seq("s"))
      .filter(col("src") =!= col("dst"))
      .select("src", "dst").distinct()
  }

  /** Core iteration on an explicit (nodes, edges) graph. `nodes` must have
    * one `node` column; `edges` columns `src`/`dst`. */
  def pageRankOn(nodes: DataFrame, edges: DataFrame,
      iterations: Int = Iterations): DataFrame = {
    val outdeg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
    // edge list with out-degree attached once — the loop-invariant operand
    val ed = edges.join(outdeg, Seq("src")).persist()
    val ns = nodes.persist()
    var ranks = ns.withColumn("pr", lit(ScaleUnit))
    for (_ <- 1 to iterations) {
      val contribs = ed.join(ranks, col("src") === col("node"))
        .select(col("dst"), expr("pr div deg").as("c"))
        .groupBy("dst").agg(sum(col("c")).as("in_sum"))
      ranks = ns.join(contribs, col("node") === col("dst"), "left")
        .select(col("node"),
          expr("150000 + (850 * coalesce(in_sum, 0)) div 1000").as("pr"))
        .localCheckpoint()
    }
    ed.unpersist(); ns.unpersist()
    ranks
  }

  /** Registered query: five fixed-point iterations over the shingle-derived
    * doc graph; full node set served (no-in-link nodes sit at the 150 000
    * damping base). */
  def docPageRank(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir, "documents")
    pageRankOn(docs.select(col("doc_id").as("node")), linkGraph(docs))
      .select(col("node").as("doc_id"), col("pr"))
      .orderBy("doc_id")
  }

  /** Restart-seed source for [[docPersonalizedPageRank]] — the "trusted
    * slice" proximity is measured to (the counterpoint of
    * [[BfsSeedSource]]'s untrusted spread audit). */
  val PprSeedSource = "src1"

  /** Personalized (seed-restart) PageRank — the curation form of
    * [[pageRankOn]]: the restart mass teleports to a TRUSTED SEED SET
    * instead of uniformly, so scores measure link-proximity to the seeds
    * (rank corpus docs by how strongly the syndication graph ties them to
    * vetted sources — the standard seed-expansion signal for corpus
    * curation). Same integer fixed-point recurrence, seed-restarted:
    *
    *   pr₀(v)  = seed(v) · 1 000 000
    *   pr'(v) = seed(v) · 150 000
    *            + (850 × Σ_{u→v} (pr(u) div outdeg(u))) div 1000
    *
    * (per-seed restart mass rather than /|S|-normalized — a positive
    * integer scale factor that leaves the ranking untouched and keeps
    * every division integral). Unreachable nodes sit at exactly 0 — the
    * property the global recurrence cannot express. Same superstep shape
    * as [[pageRankOn]]: loop-invariant edge table persisted once, one dst
    * shuffle per round, `localCheckpoint` lineage truncation. `nodes`
    * needs (node, is_seed).
    */
  def personalizedPageRankOn(nodes: DataFrame, edges: DataFrame,
      iterations: Int = Iterations): DataFrame = {
    val outdeg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
    val ed = edges.join(outdeg, Seq("src")).persist()
    val ns = nodes.persist()
    val restart = when(col("is_seed"), lit(150000L)).otherwise(lit(0L))
    var ranks = ns.select(col("node"),
      when(col("is_seed"), lit(ScaleUnit)).otherwise(lit(0L)).as("pr"))
    for (_ <- 1 to iterations) {
      val contribs = ed.join(ranks, col("src") === col("node"))
        .select(col("dst"), expr("pr div deg").as("c"))
        .groupBy("dst").agg(sum(col("c")).as("in_sum"))
      ranks = ns.join(contribs, col("node") === col("dst"), "left")
        .select(col("node"),
          (restart + expr("(850 * coalesce(in_sum, 0)) div 1000")).as("pr"))
        .localCheckpoint()
    }
    ed.unpersist(); ns.unpersist()
    ranks
  }

  /** Registered query: five seed-restart iterations over the same
    * shingle-derived doc graph as [[docPageRank]]; seeds = the
    * [[PprSeedSource]] docs. */
  def docPersonalizedPageRank(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir, "documents")
    personalizedPageRankOn(
      docs.select(col("doc_id").as("node"),
        (col("source") === PprSeedSource).as("is_seed")),
      linkGraph(docs))
      .select(col("node").as("doc_id"), col("pr").as("ppr"))
      .orderBy("doc_id")
  }

  /** HITS hubs & authorities (Kleinberg '99) on a DIRECTED view of the
    * link graph — the two-sided signal PageRank's single score cannot
    * express: an AUTHORITY is a doc many good hubs point at (the original
    * a syndication cluster copies); a HUB points at many good authorities
    * (the aggregator that republishes originals). Direction: each
    * undirected shingle edge orients newer → older (`src > dst` on
    * doc_id) — the crawl-order heuristic that later copies cite earlier
    * originals; on the raw SYMMETRIC graph the two scores provably
    * coincide, which is why HITS needs the directed view.
    *
    * Mutual recursion with per-round integer renormalization:
    *
    *   a'(v) = (Σ_{u→v} h(u)) · 10⁶ div max_raw_a
    *   h'(v) = (Σ_{v→w} a'(w)) · 10⁶ div max_raw_h
    *
    * — the max-normalized power iteration, all divisions integral, so
    * both engines derive identical micro-unit scores and the oracle
    * unrolls the rounds as CTEs with a scalar-subquery max per round (the
    * [[docPageRank]] convention, doubled). Normalization bounds every
    * score at 10⁶, so raw sums stay ≤ degree·10⁶ — BIGINT-safe at any
    * corpus (degree is bounded by the rare-shingle fan-out cap).
    *
    * Scale shape per round (r17 optimization round — SPARSE iterate):
    * one dst-keyed shuffle (authority pull), one src-keyed shuffle (hub
    * pull), two 1-row max scalar-combines, and a `localCheckpoint` per
    * half-step (each raw-sum table is referenced TWICE — its scalar max
    * and the normalization projection — so a lazy half-step re-executes
    * its subtree per reference and compounds across the chain; measured
    * 6.5 s vs 5.0 s when tried lazily). The iterate frames hold only
    * nodes with a nonzero raw pull — an absent node's score is 0 by
    * definition, zeros contribute nothing to either pull, and each max
    * over the sparse frame equals the max over the full node set
    * (non-negative sums; empty-frame null guarded to the same 1 the
    * dense form used) — so the per-half-step corpus-node left joins of
    * the earlier formulation are gone (guide §2.4: remove shuffles
    * outright), restored ONCE at the end.
    */
  def hitsOn(nodes: DataFrame, directed: DataFrame,
      iterations: Int = Iterations): DataFrame = {
    val ed = directed.persist()
    val ns = nodes.persist()
    var hubs = ns.withColumn("h", lit(ScaleUnit)).select(col("node"), col("h"))
    var auths = ns.limit(0).withColumn("a", lit(0L)).select(col("node"), col("a"))
    for (_ <- 1 to iterations) {
      val aRaw = ed.join(hubs, col("src") === col("node"))
        .groupBy("dst").agg(sum(col("h")).as("ar"))
      val aMax = aRaw.agg(greatest(max(col("ar")), lit(1L)).as("am"))
      auths = aRaw.crossJoin(broadcast(aMax))
        .select(col("dst").as("node"), expr(s"(ar * $ScaleUnit) div am").as("a"))
        .localCheckpoint()
      val hRaw = ed.join(auths, col("dst") === col("node"))
        .groupBy("src").agg(sum(col("a")).as("hr"))
      val hMax = hRaw.agg(greatest(max(col("hr")), lit(1L)).as("hm"))
      hubs = hRaw.crossJoin(broadcast(hMax))
        .select(col("src").as("node"), expr(s"(hr * $ScaleUnit) div hm").as("h"))
        .localCheckpoint()
    }
    val out = ns.join(hubs, Seq("node"), "left").join(auths, Seq("node"), "left")
      .select(col("node"), coalesce(col("h"), lit(0L)).as("h"),
        coalesce(col("a"), lit(0L)).as("a"))
    ed.unpersist(); ns.unpersist()
    out
  }

  /** Registered query: five HITS rounds on the newer→older orientation of
    * the shingle link graph. */
  def docHits(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir, "documents")
    hitsOn(
      docs.select(col("doc_id").as("node")),
      linkGraph(docs).filter(col("src") > col("dst")))
      .select(col("node").as("doc_id"), col("h").as("hub"), col("a").as("auth"))
      .orderBy("doc_id")
  }

  /** Oracle for [[docHits]]: the shared graph prefix, the directed-edge
    * cut, and per round an authority CTE pair + a hub CTE pair, each with
    * its scalar-subquery max — exact integer arithmetic throughout.
    * Every round CTE is `AS MATERIALIZED` (the knn_graph/mmr lesson):
    * each raw table is referenced TWICE (projection + scalar max), so
    * DuckDB's default re-inlining would go exponential across the
    * unrolled rounds — observed as thousands of concurrent parquet opens.
    */
  val docHitsSql: String = {
    val rounds = (1 to Iterations).map { i =>
      s"""a${i}r AS MATERIALIZED (
         |  SELECT n.doc_id AS node, coalesce(s.ar, 0)::BIGINT AS ar
         |  FROM documents n LEFT JOIN (
         |    SELECT de.dst, sum(h.h) AS ar FROM de JOIN h${i - 1} h ON de.src = h.node
         |    GROUP BY de.dst) s ON s.dst = n.doc_id
         |), a$i AS MATERIALIZED (
         |  SELECT node,
         |    ((ar * $ScaleUnit) // greatest((SELECT max(ar) FROM a${i}r), 1))::BIGINT AS a
         |  FROM a${i}r
         |), h${i}r AS MATERIALIZED (
         |  SELECT n.doc_id AS node, coalesce(s.hr, 0)::BIGINT AS hr
         |  FROM documents n LEFT JOIN (
         |    SELECT de.src, sum(a.a) AS hr FROM de JOIN a$i a ON de.dst = a.node
         |    GROUP BY de.src) s ON s.src = n.doc_id
         |), h$i AS MATERIALIZED (
         |  SELECT node,
         |    ((hr * $ScaleUnit) // greatest((SELECT max(hr) FROM h${i}r), 1))::BIGINT AS h
         |  FROM h${i}r
         |)""".stripMargin
    }.mkString(",\n")
    s"""WITH $linkEdSqlCtes, de AS MATERIALIZED (
       |  SELECT src, dst FROM edges WHERE src > dst
       |), h0 AS (
       |  SELECT doc_id AS node, ${ScaleUnit}::BIGINT AS h FROM documents
       |),
       |$rounds
       |SELECT h.node AS doc_id, h.h AS hub, a.a AS auth
       |FROM h$Iterations h JOIN a$Iterations a USING (node)
       |ORDER BY doc_id""".stripMargin
  }

  /** Per-node triangle counts over the same link graph — the clustering
    * signal next to [[docPageRank]]'s authority signal (a doc whose
    * neighbors also link each other sits in a dense duplication/
    * syndication cluster; a high-rank doc with zero triangles is a hub).
    *
    * Enumeration uses DEGREE-ORDERED ORIENTATION, the standard
    * wedge-explosion armor (Schank & Wagner, WEA'05): orient every
    * undirected edge from its (degree, id)-smaller endpoint, so each
    * node's oriented out-degree is O(√m) and the wedge join never
    * explodes on a hub the way id-ordering would. Every triangle has
    * exactly one orientation under the total order, so counts are
    * identical to the oracle's canonical id-ordered enumeration — the
    * orientation changes the PLAN, not the answer (the
    * [[TextAnalysis.phraseSearchOf]] two-shapes-one-answer convention).
    *
    * Scale shape: two equi-joins on node keys (wedge close + edge
    * verify), one explode×3 + hash agg for the per-corner counts. All
    * integer — exact everywhere.
    */
  def triangleCounts(edges: DataFrame): DataFrame = {
    // EAGER materialization (the GraphAnn localCheckpoint convention):
    // the edge subtree feeds four plan branches (degree + both wedge legs
    // + the closing join) — a lazy persist would either never be hit or
    // leak; checkpointed tables are lineage-free and shared by all four
    val e = edges.localCheckpoint()
    // undirected degree from the symmetric edge set
    val deg = e.groupBy("src").agg(count(lit(1)).as("deg"))
      .select(col("src").as("n"), col("deg"))
    // orient: keep (src,dst) iff (deg,id) of src < (deg,id) of dst
    val oriented = e
      .join(deg.select(col("n").as("src"), col("deg").as("ds")), Seq("src"))
      .join(deg.select(col("n").as("dst"), col("deg").as("dd")), Seq("dst"))
      .filter(col("ds") < col("dd") ||
        (col("ds") === col("dd") && col("src") < col("dst")))
      .select("src", "dst").localCheckpoint()
    val wedges = oriented.select(col("src").as("a"), col("dst").as("b"))
      .join(oriented.select(col("src").as("b"), col("dst").as("c")), Seq("b"))
    // close the wedge: a precedes c in the total order (transitivity), so
    // the third edge — if present — is oriented a→c: one plain equi-join
    val tri = wedges.join(
      oriented.select(col("src").as("a"), col("dst").as("c")), Seq("a", "c"))
      .select("a", "b", "c")
    val corners = tri.select(explode(array(col("a"), col("b"), col("c"))).as("doc_id"))
    corners.groupBy("doc_id").agg(count(lit(1)).as("n_tri"))
      .orderBy("doc_id")
  }

  /** Registered query: triangle counts on the shingle-derived doc graph. */
  def docTriangles(spark: SparkSession, dir: String): DataFrame =
    triangleCounts(linkGraph(Tables(spark, dir, "documents")))

  /** Weakly-connected components of the link graph — the third member of
    * the graph-analytics family (authority = [[docPageRank]], clustering =
    * [[docTriangles]], components = here): a component is a
    * syndication/duplication NEIGHBORHOOD, the unit a curation pass
    * samples from so one viral cluster can't dominate a training mix.
    * Closure via the shared [[Dedup.clusterPairs]] machinery (gated
    * driver union-find below 2M edges, distributed min-label above);
    * isolated docs are their own singleton component. Output one row per
    * doc with its component id (= component min doc_id) and size.
    */
  def docComponents(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir, "documents")
    val pairs = linkGraph(docs).filter(col("src") < col("dst"))
      .select(col("src").as("a_id"), col("dst").as("b_id"))
    val comp = Dedup.clusterPairs(pairs)
      .select(col("doc_id"), col("cluster_id"))
    val all = docs.select(col("doc_id"))
      .join(comp, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster_id"), col("doc_id")).as("component_id"))
    val sizes = all.groupBy("component_id").agg(count(lit(1)).as("component_size"))
    all.join(sizes, Seq("component_id"))
      .select("doc_id", "component_id", "component_size")
      .orderBy("doc_id")
  }

  val docComponentsSql: String =
    s"""WITH RECURSIVE toks AS (
       |  SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS t FROM documents
       |), sh AS (
       |  SELECT doc_id,
       |    list_distinct(CASE WHEN len(t) >= 3
       |      THEN [t[i] || ' ' || t[i+1] || ' ' || t[i+2] FOR i IN range(1, len(t) - 1)]
       |      ELSE [lower(text)] END) AS sh
       |  FROM toks JOIN documents USING (doc_id)
       |), ex AS (
       |  SELECT doc_id, unnest(sh) AS s FROM sh
       |), rare AS (
       |  SELECT doc_id, s FROM ex
       |  WHERE s IN (SELECT s FROM ex GROUP BY s
       |              HAVING count(*) BETWEEN $RareMinDf AND $RareMaxDf)
       |), pairs AS (
       |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
       |  FROM rare a JOIN rare b ON a.s = b.s AND a.doc_id < b.doc_id
       |), edges AS (
       |  SELECT a_id, b_id FROM pairs UNION ALL SELECT b_id, a_id FROM pairs
       |), reach(id, r) AS (
       |  SELECT DISTINCT a_id, a_id FROM edges
       |  UNION
       |  SELECT e.a_id, reach.r FROM edges e JOIN reach ON reach.id = e.b_id
       |), cl AS (
       |  SELECT id, min(r) AS component_id FROM reach GROUP BY id
       |), all_docs AS (
       |  SELECT d.doc_id, coalesce(cl.component_id, d.doc_id) AS component_id
       |  FROM documents d LEFT JOIN cl ON cl.id = d.doc_id
       |), sizes AS (
       |  SELECT component_id, count(*) AS component_size
       |  FROM all_docs GROUP BY component_id
       |)
       |SELECT a.doc_id, a.component_id, s.component_size
       |FROM all_docs a JOIN sizes s USING (component_id)
       |ORDER BY a.doc_id""".stripMargin

  val docTrianglesSql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS t FROM documents
       |), sh AS (
       |  SELECT doc_id,
       |    list_distinct(CASE WHEN len(t) >= 3
       |      THEN [t[i] || ' ' || t[i+1] || ' ' || t[i+2] FOR i IN range(1, len(t) - 1)]
       |      ELSE [lower(text)] END) AS sh
       |  FROM toks JOIN documents USING (doc_id)
       |), ex AS (
       |  SELECT doc_id, unnest(sh) AS s FROM sh
       |), rare AS (
       |  SELECT doc_id, s FROM ex
       |  WHERE s IN (SELECT s FROM ex GROUP BY s
       |              HAVING count(*) BETWEEN $RareMinDf AND $RareMaxDf)
       |), edges AS (
       |  SELECT DISTINCT a.doc_id AS src, b.doc_id AS dst
       |  FROM rare a JOIN rare b ON a.s = b.s AND a.doc_id != b.doc_id
       |), ce AS (
       |  SELECT src, dst FROM edges WHERE src < dst
       |), tri AS (
       |  SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
       |  FROM ce e1 JOIN ce e2 ON e2.src = e1.dst
       |  JOIN ce e3 ON e3.src = e1.src AND e3.dst = e2.dst
       |)
       |SELECT node AS doc_id, count(*) AS n_tri FROM (
       |  SELECT a AS node FROM tri
       |  UNION ALL SELECT b FROM tri
       |  UNION ALL SELECT c FROM tri
       |) GROUP BY node ORDER BY node""".stripMargin

  /** The shingle-graph + out-degree-attached edge-table CTE prefix shared
    * by the two PageRank oracles (`toks` … `ed`). */
  private def linkEdSqlCtes: String =
    s"""toks AS (
       |  SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS t FROM documents
       |), sh AS (
       |  SELECT doc_id,
       |    list_distinct(CASE WHEN len(t) >= 3
       |      THEN [t[i] || ' ' || t[i+1] || ' ' || t[i+2] FOR i IN range(1, len(t) - 1)]
       |      ELSE [lower(text)] END) AS sh
       |  FROM toks JOIN documents USING (doc_id)
       |), ex AS (
       |  SELECT doc_id, unnest(sh) AS s FROM sh
       |), rare AS (
       |  SELECT doc_id, s FROM ex
       |  WHERE s IN (SELECT s FROM ex GROUP BY s
       |              HAVING count(*) BETWEEN $RareMinDf AND $RareMaxDf)
       |), edges AS (
       |  SELECT DISTINCT a.doc_id AS src, b.doc_id AS dst
       |  FROM rare a JOIN rare b ON a.s = b.s AND a.doc_id != b.doc_id
       |), deg AS (
       |  SELECT src, count(*) AS deg FROM edges GROUP BY src
       |), ed AS (
       |  SELECT e.src, e.dst, d.deg FROM edges e JOIN deg d USING (src)
       |)""".stripMargin

  /** The five unrolled superstep CTEs shared by the two PageRank oracles,
    * parameterized by the restart term (a SQL expression over alias `n`). */
  private def prIterCtes(restartSql: String): String =
    (1 to Iterations).map { i =>
      s"""r$i AS (
         |  SELECT n.doc_id AS node,
         |    ($restartSql + (850 * coalesce(s.in_sum, 0)) // 1000)::BIGINT AS pr
         |  FROM documents n LEFT JOIN (
         |    SELECT ed.dst, sum(r.pr // ed.deg) AS in_sum
         |    FROM ed JOIN r${i - 1} r ON ed.src = r.node GROUP BY ed.dst
         |  ) s ON s.dst = n.doc_id)""".stripMargin
    }.mkString(",\n")

  val docPageRankSql: String =
    s"""WITH $linkEdSqlCtes, r0 AS (
       |  SELECT doc_id AS node, ${ScaleUnit}::BIGINT AS pr FROM documents
       |),
       |${prIterCtes("150000")}
       |SELECT node AS doc_id, pr FROM r$Iterations ORDER BY doc_id""".stripMargin

  /** Oracle for [[docPersonalizedPageRank]]: the same unrolled supersteps
    * with the restart term gated on seed membership and the seed-massed
    * r0 — all integer, exact. */
  val docPersonalizedPageRankSql: String = {
    val seed = s"(CASE WHEN n.source = '$PprSeedSource' THEN 150000 ELSE 0 END)"
    s"""WITH $linkEdSqlCtes, r0 AS (
       |  SELECT doc_id AS node,
       |    (CASE WHEN source = '$PprSeedSource' THEN $ScaleUnit ELSE 0 END)::BIGINT AS pr
       |  FROM documents
       |),
       |${prIterCtes(seed)}
       |SELECT node AS doc_id, pr AS ppr FROM r$Iterations ORDER BY doc_id""".stripMargin
  }

  /** BFS hop budget for [[docBfsLevels]]. */
  val BfsMaxHops = 4

  /** Seed source for [[docBfsLevels]] — the "untrusted slice" whose
    * spread the audit traces. */
  val BfsSeedSource = "src0"

  /** Multi-source BFS levels over the link graph — the contamination-
    * spread audit: "every document within k duplication/syndication hops
    * of an untrusted source". Level-synchronous frontier expansion, the
    * Pregel shape: each round joins the CURRENT frontier (not the visited
    * set) to the edge table, anti-joins the accumulated visited set, and
    * `localCheckpoint`s both frames — O(hops) rounds, each one equi-join
    * shuffle proportional to the FRONTIER, never |visited|×|edges|.
    * Integer hop distances; min-hop semantics fall out of first-visit.
    *
    * Scale shape: the edge table persists once (partitioned on src); the
    * per-round anti-join is frontier-sized. The textbook alternative —
    * iterate a min-aggregate over the full node set per round — touches
    * every node every round; frontier BFS touches each node once.
    */
  def docBfsLevels(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir, "documents")
    val edges = linkGraph(docs).persist()
    var visited = docs.filter(col("source") === BfsSeedSource)
      .select(col("doc_id").as("id"), lit(0).as("dist"))
      .localCheckpoint()
    var frontier = visited
    for (k <- 1 to BfsMaxHops) {
      frontier = edges.join(frontier, col("src") === col("id"))
        .select(col("dst").as("id")).distinct()
        .join(visited.select("id"), Seq("id"), "left_anti")
        .select(col("id"), lit(k).as("dist"))
        .localCheckpoint()
      visited = visited.union(frontier).localCheckpoint()
    }
    edges.unpersist()
    visited.select(col("id").as("doc_id"), col("dist")).orderBy("doc_id")
  }

  /** Oracle: unrolled per-level CTEs (the [[docPageRankSql]] convention) —
    * level k = neighbors of level k−1 minus everything already reached. */
  val docBfsLevelsSql: String = {
    val levels = (1 to BfsMaxHops).map { k =>
      s"""v$k AS (
         |  SELECT DISTINCT e.dst AS id FROM edges e
         |  JOIN v${k - 1} ON e.src = v${k - 1}.id
         |  WHERE e.dst NOT IN (SELECT id FROM seen${k - 1})
         |), seen$k AS (SELECT id FROM seen${k - 1} UNION SELECT id FROM v$k)"""
        .stripMargin
    }.mkString(",\n")
    val dists = (0 to BfsMaxHops)
      .map(k => s"SELECT id AS doc_id, $k AS dist FROM v$k")
      .mkString("\nUNION ALL\n")
    s"""WITH toks AS (
       |  SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS t FROM documents
       |), sh AS (
       |  SELECT doc_id,
       |    list_distinct(CASE WHEN len(t) >= 3
       |      THEN [t[i] || ' ' || t[i+1] || ' ' || t[i+2] FOR i IN range(1, len(t) - 1)]
       |      ELSE [lower(text)] END) AS sh
       |  FROM toks JOIN documents USING (doc_id)
       |), ex AS (
       |  SELECT doc_id, unnest(sh) AS s FROM sh
       |), rare AS (
       |  SELECT doc_id, s FROM ex
       |  WHERE s IN (SELECT s FROM ex GROUP BY s
       |              HAVING count(*) BETWEEN $RareMinDf AND $RareMaxDf)
       |), edges AS (
       |  SELECT DISTINCT a.doc_id AS src, b.doc_id AS dst
       |  FROM rare a JOIN rare b ON a.s = b.s AND a.doc_id != b.doc_id
       |), v0 AS (
       |  SELECT doc_id AS id FROM documents WHERE source = '$BfsSeedSource'
       |), seen0 AS (SELECT id FROM v0),
       |$levels
       |$dists
       |ORDER BY doc_id""".stripMargin
  }

  /** Synchronous label-propagation rounds for [[docCommunities]] — fixed
    * (the [[Iterations]] convention): bounded rounds make the release a
    * deterministic function of the graph on BOTH engines, where
    * run-to-convergence would hand the tie-heavy synchronous dynamics an
    * unbounded, oscillation-prone loop. */
  val LpaRounds = 5

  /** Label-propagation communities over the link graph — the fourth
    * member of the graph family (authority = [[docPageRank]], clustering =
    * [[docTriangles]], reachability = [[docComponents]], communities =
    * here). Components answer "what is CONNECTED"; communities answer
    * "what is DENSE" — the curation unit for mixing caps when one
    * syndication network spans an entire component but contains several
    * distinct duplication cliques (Raghavan et al. '07, LPA).
    *
    * Dynamics, pinned for cross-engine determinism: every node starts
    * labeled with its own id; each SYNCHRONOUS round relabels every node
    * with the most frequent label among its NEIGHBORS (tie → smallest
    * label; isolated nodes keep their own id); [[LpaRounds]] rounds, then
    * release (label = community id, plus community size). Every step is
    * integer counting with a total-order tiebreak, so the unrolled oracle
    * re-derives the identical labeling round for round.
    *
    * Scale shape (the Pregel convention of this file): the symmetric edge
    * table persists once, partitioned on src; each round is ONE shuffle —
    * the (src, label) count aggregate — plus a per-node argmax window
    * whose partitions are bounded by a node's distinct neighbor labels
    * (≤ degree, never corpus-sized), ending in `localCheckpoint` so
    * lineage stays O(1) across rounds.
    */
  def docCommunities(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir, "documents")
    lpaOn(docs.select(col("doc_id").as("node")), linkGraph(docs))
      .select(col("node").as("doc_id"), col("lbl").as("community_id"),
        col("community_size"))
      .orderBy("doc_id")
  }

  /** Core LPA rounds on an explicit (nodes, edges) graph — `nodes` one
    * `node` column, `edges` symmetric `src`/`dst` (the [[pageRankOn]]
    * contract). Returns (node, lbl, community_size). */
  def lpaOn(nodes: DataFrame, edges: DataFrame,
      rounds: Int = LpaRounds): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ed = edges.persist()
    val ns = nodes.persist()
    var labels = ns.withColumn("lbl", col("node")).localCheckpoint()
    for (_ <- 1 to rounds) {
      val votes = ed
        .join(labels, col("dst") === col("node"))
        .groupBy(col("src"), col("lbl")).agg(count(lit(1)).as("c"))
      val w = Window.partitionBy("src").orderBy(col("c").desc, col("lbl"))
      val best = votes.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("src").as("node"), col("lbl").as("new_lbl"))
      labels = ns.join(best, Seq("node"), "left")
        .select(col("node"), coalesce(col("new_lbl"), col("node")).as("lbl"))
        .localCheckpoint()
    }
    ed.unpersist(); ns.unpersist()
    val sizes = labels.groupBy("lbl").agg(count(lit(1)).as("community_size"))
    labels.join(sizes, Seq("lbl"))
  }

  /** The shared LPA CTE chain (edges + unrolled rounds — the
    * [[docPageRankSql]] convention); round k's per-node argmax restates
    * the Spark window's (count DESC, label ASC) rule. Ends at
    * `l$LpaRounds`, the final labeling. */
  private def lpaSqlCtes: String = {
    val rounds = (1 to LpaRounds).map { k =>
      s"""l$k AS (
         |  SELECT n.doc_id AS node, coalesce(b.lbl, n.doc_id) AS lbl
         |  FROM documents n LEFT JOIN (
         |    SELECT src, lbl FROM (
         |      SELECT e.src AS src, l.lbl AS lbl,
         |        row_number() OVER (PARTITION BY e.src
         |          ORDER BY count(*) DESC, l.lbl) AS rn
         |      FROM edges e JOIN l${k - 1} l ON l.node = e.dst
         |      GROUP BY e.src, l.lbl) WHERE rn = 1
         |  ) b ON b.src = n.doc_id)""".stripMargin
    }.mkString(",\n")
    s"""WITH toks AS (
       |  SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS t FROM documents
       |), sh AS (
       |  SELECT doc_id,
       |    list_distinct(CASE WHEN len(t) >= 3
       |      THEN [t[i] || ' ' || t[i+1] || ' ' || t[i+2] FOR i IN range(1, len(t) - 1)]
       |      ELSE [lower(text)] END) AS sh
       |  FROM toks JOIN documents USING (doc_id)
       |), ex AS (
       |  SELECT doc_id, unnest(sh) AS s FROM sh
       |), rare AS (
       |  SELECT doc_id, s FROM ex
       |  WHERE s IN (SELECT s FROM ex GROUP BY s
       |              HAVING count(*) BETWEEN $RareMinDf AND $RareMaxDf)
       |), edges AS (
       |  SELECT DISTINCT a.doc_id AS src, b.doc_id AS dst
       |  FROM rare a JOIN rare b ON a.s = b.s AND a.doc_id != b.doc_id
       |), l0 AS (
       |  SELECT doc_id AS node, doc_id AS lbl FROM documents
       |),
       |$rounds""".stripMargin
  }

  /** Oracle for [[docCommunities]]: the shared chain + sizes. */
  val docCommunitiesSql: String =
    s"""$lpaSqlCtes
       |SELECT a.node AS doc_id, a.lbl AS community_id, s.community_size
       |FROM l$LpaRounds a JOIN (
       |  SELECT lbl, count(*) AS community_size FROM l$LpaRounds GROUP BY lbl
       |) s ON s.lbl = a.lbl
       |ORDER BY doc_id""".stripMargin

  /** Newman modularity readout of the LPA partition — the quality metric
    * that tells an operator whether [[docCommunities]]' labels found real
    * structure or noise: per community c,
    *
    *   contribution(c) = in_c/M − (d_c/M)²      Q = Σ_c contribution(c)
    *
    * where M = |directed edges| (= 2m on the symmetric edge list), in_c =
    * directed edges with BOTH ends in c, d_c = Σ (out-)degrees in c. All
    * inputs are INTEGER counts; the contribution is one fixed expression
    * over two divisions of identical integers, rounded 6 dp — exact
    * cross-engine (the rank_family integer-ratio discipline). Released
    * per community next to node/edge/degree counts, so the spec can both
    * recompute each row and pin Σ = Q against a hand-derived partition.
    *
    * Scale shape: the label table joins the edge list twice (src, dst
    * label attach — node-keyed equi-joins), then everything is
    * |communities|-bounded aggregates; M rides in as a 1-row scalar
    * combine (the skew_report convention).
    */
  def communityModularity(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir, "documents")
    val edges = linkGraph(docs)
    val labels = lpaOn(docs.select(col("doc_id").as("node")), edges)
      .select(col("node"), col("lbl"))
    modularityOf(labels, edges)
  }

  /** The modularity readout on any (node, lbl) labeling over symmetric
    * `src`/`dst` edges (library surface — the spec drives it with a
    * planted partition; on the REGISTERED dense rare-shingle corpus the
    * LPA labeling honestly collapses to one giant community with
    * Q ≈ 0.001, which is exactly the "no modular structure here" verdict
    * this metric exists to deliver). */
  def modularityOf(labelsIn: DataFrame, edges: DataFrame): DataFrame = {
    val labels = labelsIn
      .localCheckpoint() // feeds three plan branches (src/dst attach, sizes)
    val el = edges
      .join(labels.select(col("node").as("src"), col("lbl").as("sl")), Seq("src"))
      .join(labels.select(col("node").as("dst"), col("lbl").as("dl")), Seq("dst"))
      .localCheckpoint() // feeds M, per-community degree, and in-edge counts
    val m = el.agg(count(lit(1)).as("m"))
    val deg = el.groupBy(col("sl").as("lbl")).agg(count(lit(1)).as("degree_sum"))
    val inc = el.filter(col("sl") === col("dl"))
      .groupBy(col("sl").as("lbl")).agg(count(lit(1)).as("in_edges"))
    labels.groupBy("lbl").agg(count(lit(1)).as("n_nodes"))
      .join(deg, Seq("lbl"), "left")
      .join(inc, Seq("lbl"), "left")
      .crossJoin(broadcast(m))
      .select(col("lbl").as("community_id"), col("n_nodes"),
        coalesce(col("in_edges"), lit(0L)).as("in_edges"),
        coalesce(col("degree_sum"), lit(0L)).as("degree_sum"),
        // + 0.0 normalizes IEEE −0.0 (a tiny negative expectation term
        // rounding to zero keeps its sign bit on some engines)
        (round(
          coalesce(col("in_edges"), lit(0L)).cast("double")
            / greatest(col("m"), lit(1L))
            - (coalesce(col("degree_sum"), lit(0L)).cast("double")
                / greatest(col("m"), lit(1L)))
              * (coalesce(col("degree_sum"), lit(0L)).cast("double")
                / greatest(col("m"), lit(1L))), 6) + lit(0.0)).as("contribution"))
      .orderBy("community_id")
  }

  /** Oracle: the shared LPA chain + the same integer-count modularity
    * algebra. */
  val communityModularitySql: String =
    s"""$lpaSqlCtes, el AS (
       |  SELECT e.src, e.dst, a.lbl AS sl, b.lbl AS dl
       |  FROM edges e
       |  JOIN l$LpaRounds a ON a.node = e.src
       |  JOIN l$LpaRounds b ON b.node = e.dst
       |), m AS (
       |  SELECT count(*) AS m FROM el
       |)
       |SELECT lbl AS community_id, n_nodes, in_edges, degree_sum,
       |  round(in_edges::DOUBLE / greatest(m, 1)
       |    - (degree_sum::DOUBLE / greatest(m, 1))
       |      * (degree_sum::DOUBLE / greatest(m, 1)), 6) + 0.0 AS contribution
       |FROM (
       |  SELECT n.lbl, n.n_nodes,
       |    coalesce(d.degree_sum, 0)::BIGINT AS degree_sum,
       |    coalesce(i.in_edges, 0)::BIGINT AS in_edges
       |  FROM (SELECT lbl, count(*) AS n_nodes FROM l$LpaRounds GROUP BY lbl) n
       |  LEFT JOIN (SELECT sl AS lbl, count(*) AS degree_sum FROM el GROUP BY sl) d
       |    ON d.lbl = n.lbl
       |  LEFT JOIN (SELECT sl AS lbl, count(*) AS in_edges FROM el
       |             WHERE sl = dl GROUP BY sl) i ON i.lbl = n.lbl
       |) CROSS JOIN m
       |ORDER BY community_id""".stripMargin

  /** Fan-out of the planted hierarchy: parent(d) = d div HierarchyFanout,
    * ids below the fanout are roots. Derived from doc_id alone so both
    * engines walk the identical forest (the [[Sampling.urlCanonicalDedup]]
    * planting discipline). */
  val HierarchyFanout = 7L

  /** Pointer-jumping rounds: ancestor distance doubles per round, so
    * 5 rounds resolve any chain ≤ 32 deep — the div-7 forest reaches
    * depth 12 only past 10^10 nodes. */
  val HierarchyRounds = 5

  /** Hierarchy flattening — root, depth, and the materialized root→node
    * path for every node of a forest given as parent pointers (the
    * org-chart / category-tree / reply-thread query). Spark has no
    * recursive CTE; the naive translation walks one parent level per
    * join — O(depth) corpus-sized joins. This uses POINTER JUMPING
    * (path doubling): each round joins the frontier to itself, so the
    * known-ancestor distance DOUBLES — O(log depth) rounds total, each
    * one equi-join shuffle on the ancestor key, each ending in
    * `localCheckpoint` (the Pregel lineage convention above).
    *
    * Invariant carried per node: (anc, depth, seg) where `seg` is the
    * "/"-joined ids from anc EXCLUSIVE down to the node INCLUSIVE and
    * `depth` the hop count to anc. Combining a node with its ancestor's
    * state concatenates segments and adds depths; a node whose ancestor
    * is a root stops combining (its state is final). All arithmetic is
    * integer and all strings deterministic, so the DuckDB recursive-CTE
    * oracle re-derives every path bit-for-bit.
    *
    * Contract: parent pointers reference rows OF THIS TABLE (the normal
    * org-chart/thread-table shape; the planted div-7 forest satisfies it
    * on the contiguous-id test corpora). A DANGLING parent — no row for
    * the id — finalizes the walk there: the node adopts the dangling id
    * as its root and the walk never follows ids that exist only
    * arithmetically. The oracle's recursive walk joins `documents` on
    * each step for the same reason, so both engines agree on ANY id
    * distribution — including ScaleData's key-shifted sf1 corpus, where
    * every replica node's div-7 parent is dangling (depth-1 forest).
    */
  def hierarchyPaths(spark: SparkSession, dir: String): DataFrame = {
    val f = HierarchyFanout
    var state = Tables(spark, dir, "documents")
      .select(col("doc_id").as("id"),
        when(col("doc_id") >= f, expr(s"doc_id div $f")).as("anc"),
        when(col("doc_id") >= f, lit(1L)).otherwise(lit(0L)).as("depth"),
        col("doc_id").cast("string").as("seg"))
      .localCheckpoint()
    for (_ <- 1 to HierarchyRounds) {
      val a = state.select(col("id").as("a_id"), col("anc").as("a_anc"),
        col("depth").as("a_depth"), col("seg").as("a_seg"))
      state = state.join(a, col("anc") === col("a_id"), "left")
        .select(col("id"),
          // combine only while the ancestor is itself below a root:
          // anc null = I am a root; a_anc null = anc IS my root — final
          when(col("anc").isNull || col("a_anc").isNull, col("anc"))
            .otherwise(col("a_anc")).as("anc"),
          when(col("anc").isNull || col("a_anc").isNull, col("depth"))
            .otherwise(col("depth") + col("a_depth")).as("depth"),
          when(col("anc").isNull || col("a_anc").isNull, col("seg"))
            .otherwise(concat(col("a_seg"), lit("/"), col("seg"))).as("seg"))
        .localCheckpoint()
    }
    state.select(col("id").as("doc_id"),
        coalesce(col("anc"), col("id")).as("root_id"),
        col("depth"),
        when(col("anc").isNull, col("seg"))
          .otherwise(concat(col("anc").cast("string"), lit("/"), col("seg")))
          .as("path"))
      .orderBy("doc_id")
  }

  /** Oracle: the textbook recursive CTE walking one parent per step —
    * equality is the path-doubling claim. The walk JOINs `documents` on
    * every step (pointer semantics: only a parent that exists can be
    * followed), matching the engine's dangling-parent-is-root contract;
    * a terminal row either reached a true root (anc NULL — the step into
    * an id below the fanout) or a dangling ancestor (anc has no row).
    */
  val hierarchyPathsSql: String =
    s"""WITH RECURSIVE walk(id, anc, depth, path) AS (
       |  SELECT doc_id, CASE WHEN doc_id >= $HierarchyFanout
       |           THEN doc_id // $HierarchyFanout END,
       |         CASE WHEN doc_id >= $HierarchyFanout
       |           THEN 1 ELSE 0 END::BIGINT,
       |         doc_id::VARCHAR
       |  FROM documents
       |  UNION ALL
       |  SELECT w.id, CASE WHEN w.anc >= $HierarchyFanout
       |           THEN w.anc // $HierarchyFanout END,
       |         w.depth + CASE WHEN w.anc >= $HierarchyFanout
       |           THEN 1 ELSE 0 END,
       |         w.anc::VARCHAR || '/' || w.path
       |  FROM walk w JOIN documents d ON d.doc_id = w.anc
       |)
       |SELECT id AS doc_id,
       |  CASE WHEN anc IS NULL
       |       THEN CAST(string_split(path, '/')[1] AS BIGINT)
       |       ELSE anc END AS root_id,
       |  depth,
       |  CASE WHEN anc IS NULL THEN path
       |       ELSE anc::VARCHAR || '/' || path END AS path
       |FROM walk
       |WHERE anc IS NULL
       |   OR NOT EXISTS (SELECT 1 FROM documents d WHERE d.doc_id = anc)
       |ORDER BY doc_id""".stripMargin

  /** Coreness cap: the k-core peel runs for k = 2..[[KcoreMaxK]] (the
    * 1-core of an edge-induced node set is the set itself, so k=1 needs
    * no peel). Docs at the cap sit in a ≥[[KcoreMaxK]]-core — the signal
    * saturates there by design. */
  val KcoreMaxK = 5

  /** Fixed peel-round budget per k for the unrolled oracle. Spark peels
    * to the FIXED POINT (monotone: a peel only removes nodes, so a stable
    * count is a stable set) and fails fast if the cap doesn't cover it;
    * the oracle always unrolls the full budget — extra rounds past the
    * fixed point are idempotent, so both engines release the same set
    * (the two-shapes-one-answer convention). Measured depth: the deepest
    * cascade across sf0.001/0.01/0.1 is 8 rounds (sf0.1, k=4 from the
    * full graph; nested starts are shallower). */
  val KcorePeelRounds = 12

  /** Round budget for the [[corenessOn]] h-index fixed point — rounds
    * needed equal the graph's longest peel cascade, which the old
    * per-level peel measured at ≤8 on this data; 30 leaves generous
    * headroom before the fail-fast trips. */
  val HIndexRounds = 30

  /** Per-node CORENESS (max k ≤ [[KcoreMaxK]] with the node inside the
    * k-core) over an undirected edge set (symmetric rows, no self-loops —
    * [[linkGraph]]'s contract). The density-based curation signal next to
    * [[lpaOn]]'s communities: a doc's coreness says how deep it sits in a
    * mutually-reinforcing near-duplication/syndication cluster, where
    * component size or degree alone overcounts stars and chains.
    *
    * Algorithm (r17 optimization round): the H-INDEX fixed point of
    * Lü–Chen–Ren–Zhang–Zhang–Zhou, "The H-index of a network node and its
    * relation to degree and coreness" (Nature Communications 2016) —
    * c₀(v) = deg(v), c_{t+1}(v) = H({c_t(u) : u~v}), which decreases
    * monotonically to exactly coreness(v). One superstep per CASCADE WAVE
    * across ALL core levels at once, where the previous formulation
    * (nested per-level peel, k = 2..[[KcoreMaxK]], each peeled to its own
    * fixed point) paid one superstep per (level, wave) — measured ~20+
    * eagerly-checkpointed rounds at sf0.1 vs ≤8 here (guide §1.2: fix the
    * distributed algorithm first; §2.4: remove whole shuffle rounds). The
    * released value `min(c∞, KcoreMaxK)` is IDENTICAL to the peel's
    * capped coreness — the unchanged unrolled-peel oracle
    * ([[docCorenessSql]]) is the cross-algorithm equality witness.
    *
    * Superstep shape: one join attaching each node's current value to its
    * incident edges (dst side), one per-src aggregate over the
    * degree-bounded neighbor multiset (h-index = prefix length of the
    * descending-sorted values with value ≥ position — pure integers),
    * `localCheckpoint` lineage truncation, and a domain-bounded
    * changed-row count as the convergence gate (values only decrease, so
    * zero changes is the fixed point). The collect_list rows are bounded
    * by node degree — the rare-shingle fan-out cap, the same bound the
    * peel's per-level degree aggregate relied on.
    */
  def corenessOn(edges: DataFrame): DataFrame = {
    val ed = edges.persist()
    try {
      var c = ed.groupBy("src").agg(count(lit(1)).as("c"))
        .select(col("src").as("node"), col("c"))
        .localCheckpoint()
      var converged = false
      var r = 0
      while (!converged && r < HIndexRounds) {
        r += 1
        val next = ed
          .join(c.select(col("node").as("dst"), col("c").as("nc")), Seq("dst"))
          .groupBy("src")
          .agg(sort_array(collect_list(col("nc")), asc = false).as("ns"))
          .select(col("src").as("node"),
            size(filter(
              zip_with(col("ns"), sequence(lit(1), size(col("ns"))),
                (v, i) => v >= i.cast("long")),
              x => x)).cast("long").as("c"))
          .localCheckpoint()
        converged = next.join(c.withColumnRenamed("c", "pc"), Seq("node"))
          .filter(col("c") =!= col("pc")).isEmpty
        c = next
      }
      // a silent non-converged release would diverge from the oracle's
      // full unroll — fail fast instead (the requireBandScheme posture)
      require(converged,
        s"h-index coreness did not converge within $HIndexRounds rounds")
      c.select(col("node"), least(col("c"), lit(KcoreMaxK.toLong)).as("coreness"))
    } finally ed.unpersist() // incl. the fail-fast path
  }

  /** Registered query: per-doc coreness on the shingle link graph. */
  def docCoreness(spark: SparkSession, dir: String): DataFrame =
    corenessOn(linkGraph(Tables(spark, dir, "documents")))
      .select(col("node").as("doc_id"), col("coreness"))
      .orderBy("doc_id")

  /** Oracle for [[docCoreness]]: the shared graph prefix + the peel
    * unrolled to the full [[KcorePeelRounds]] budget per k, nested across
    * levels. Every round CTE is `AS MATERIALIZED` (the docHits lesson:
    * each survivor set feeds two join legs of the next round, and
    * re-inlining would go exponential across the unroll). */
  val docCorenessSql: String = {
    val rounds = for (k <- 2 to KcoreMaxK; r <- 1 to KcorePeelRounds) yield {
      val prev =
        if (r == 1 && k == 2) "a0"
        else if (r == 1) s"a${k - 1}_$KcorePeelRounds"
        else s"a${k}_${r - 1}"
      s"""a${k}_$r AS MATERIALIZED (
         |  SELECT e.src AS node FROM edges e
         |  JOIN $prev x ON e.src = x.node JOIN $prev y ON e.dst = y.node
         |  GROUP BY e.src HAVING count(*) >= $k
         |)""".stripMargin
    }
    val unions = (2 to KcoreMaxK)
      .map(k => s"UNION ALL SELECT node, $k AS k FROM a${k}_$KcorePeelRounds")
      .mkString("\n  ")
    s"""WITH $linkEdSqlCtes,
       |a0 AS MATERIALIZED (SELECT DISTINCT src AS node FROM edges),
       |${rounds.mkString(",\n")},
       |lv AS (
       |  SELECT node, 1 AS k FROM a0
       |  $unions
       |)
       |SELECT node AS doc_id, max(k)::BIGINT AS coreness
       |FROM lv GROUP BY node ORDER BY doc_id""".stripMargin
  }

  /** Session gap for the navigation graph: consecutive events of a user
    * more than 30 minutes apart are different visits, not a transition. */
  val NavSessionGapMicros = 30L * 60L * 1000000L

  /** Rank cut for the dominant-flow edge set: the top ⌊10%⌋ most frequent
    * transition pairs (ties broken by (src, dst) — a total order, so the
    * cut is deterministic on both engines). A fixed count threshold can't
    * survive scale-up — event volume grows with the corpus while the page
    * domain stays fixed — so the cut is relative by construction. */
  val NavTopPairPct = 10L

  /** Directed page-navigation edges from the events stream: per user,
    * consecutive in-session events (ordered by ts, event_id — the
    * [[Events.debounceEvents]] convention) yield a `page → next page`
    * transition on the JSON `props.k` page id; pair counts aggregate
    * corpus-scale events down to the BOUNDED page×page domain, and the
    * [[NavTopPairPct]] rank cut keeps the dominant flows. At 100 TB the
    * only corpus-scale legs are the per-user window and one (src, dst)
    * aggregate; the rank window runs on the domain-bounded pair table
    * (the two-phase bounded-window discipline). */
  def pageNavEdges(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField(
        "k", org.apache.spark.sql.types.IntegerType)))
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val ev = events.select(col("user_id"), col("ts"), col("event_id"),
      from_json(col("props"), schema).getField("k").cast("long").as("page"))
    val trans = ev
      .withColumn("nxt", lead(col("page"), 1).over(w))
      .withColumn("gap_us",
        lead(unix_micros(col("ts")), 1).over(w) - unix_micros(col("ts")))
      .filter(col("nxt").isNotNull && col("nxt") =!= col("page") &&
        col("gap_us") <= NavSessionGapMicros)
      .groupBy(col("page").as("src"), col("nxt").as("dst"))
      .agg(count(lit(1)).as("n"))
    val tot = trans.agg(count(lit(1)).as("tot"))
    val wRank = Window.orderBy(col("n").desc, col("src"), col("dst"))
    trans.withColumn("rk", row_number().over(wRank))
      .crossJoin(broadcast(tot))
      .filter(col("rk") <= expr(s"tot * $NavTopPairPct div 100"))
      .select("src", "dst")
  }

  /** Strongly connected components on a DIRECTED edge set over a BOUNDED
    * node domain, via mutual-reachability: scc_id(v) = min over
    * {v} ∪ {u : u →* v and v →* u} — the forward∩backward reachability
    * characterization. Reachability closes by PATH DOUBLING
    * (reach ⋈ reach per round → log₂(diameter) supersteps, not
    * diameter), localCheckpointed per round with the driver-side
    * count-stability check (closure only grows — monotone, so a stable
    * count is the fixed point; non-convergence inside the round cap
    * fails fast).
    *
    * The closure is |domain|²-bounded by construction — the corpus-scale
    * input (events) reduces to the bounded domain BEFORE any quadratic
    * step (the lang×source grid convention). A doc-scale SCC (unbounded
    * node ids) would use FW-BW decomposition instead; on the id-ordered
    * doc link graph every orientation is a DAG and SCCs are all
    * singletons, which is why the registered query runs on the
    * navigation graph, where cycles are real (users circulate).
    */
  def sccOn(edges: DataFrame): DataFrame = {
    // eager-materialize the bounded edge set ONCE: it feeds the closure
    // seed, the node-domain union, and (transitively) every later stage —
    // lazily it would re-run the corpus-scale edge derivation per branch
    val ed = edges.select("src", "dst").distinct().localCheckpoint()
    var reach = ed
    var n = reach.count()
    var converged = false
    var r = 0
    while (!converged && r < 12) {
      r += 1
      val ext = reach.select(col("src"), col("dst").as("mid"))
        .join(reach.select(col("src").as("mid"), col("dst").as("dst2")), Seq("mid"))
        .select(col("src"), col("dst2").as("dst"))
      val next = reach.unionByName(ext).distinct().localCheckpoint()
      val m = next.count()
      converged = m == n
      n = m
      reach = next
    }
    require(converged, s"reachability closure did not converge within 12 doubling rounds")
    val rev = reach.select(col("dst").as("r_src"), col("src").as("r_dst"))
    val mutual = reach
      .join(rev, col("src") === col("r_src") && col("dst") === col("r_dst"))
      .select(col("src").as("node"), col("dst").as("other"))
    val nodes = ed.select(col("src").as("node"))
      .unionByName(ed.select(col("dst").as("node"))).distinct()
    // domain-bounded; materialized because the size rollup re-reads it
    val scc = nodes.join(mutual, Seq("node"), "left")
      .groupBy("node")
      .agg(least(col("node"), coalesce(min(col("other")), col("node"))).as("scc_id"))
      .localCheckpoint()
    val sizes = scc.groupBy("scc_id").agg(count(lit(1)).as("scc_size"))
    scc.join(sizes, Seq("scc_id")).select("node", "scc_id", "scc_size")
  }

  /** Registered query: SCCs of the dominant-flow navigation graph —
    * page clusters users genuinely circulate among (mutually reachable)
    * vs one-way funnel pages (singletons). */
  def pageScc(spark: SparkSession, dir: String): DataFrame =
    sccOn(pageNavEdges(Tables(spark, dir, "events")))
      .select(col("node").as("page"), col("scc_id"), col("scc_size"))
      .orderBy("page")

  /** Oracle for [[pageScc]]: the same window/aggregate/rank-cut prefix,
    * reachability as the textbook single-edge-extension recursive CTE
    * (same fixed point as the engine's path doubling — the
    * two-shapes-one-answer convention), mutual intersection, min-label. */
  val pageSccSql: String =
    s"""WITH RECURSIVE ev AS (
       |  SELECT user_id, ts, event_id, json_extract(props, '$$.k')::BIGINT AS page
       |  FROM events
       |), seq AS (
       |  SELECT page, lead(page) OVER w AS nxt,
       |         lead(epoch_us(ts)) OVER w - epoch_us(ts) AS gap_us
       |  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
       |), trans AS (
       |  SELECT page AS src, nxt AS dst, count(*) AS n FROM seq
       |  WHERE nxt IS NOT NULL AND nxt <> page AND gap_us <= $NavSessionGapMicros
       |  GROUP BY page, nxt
       |), ranked AS (
       |  SELECT src, dst, row_number() OVER (ORDER BY n DESC, src, dst) AS rk
       |  FROM trans
       |), edges AS (
       |  SELECT src, dst FROM ranked
       |  WHERE rk <= (SELECT count(*) FROM trans) * $NavTopPairPct // 100
       |), reach(src, dst) AS (
       |  SELECT src, dst FROM edges
       |  UNION
       |  SELECT r.src, e.dst FROM reach r JOIN edges e ON e.src = r.dst
       |), mutual AS (
       |  SELECT a.src AS node, a.dst AS other
       |  FROM reach a JOIN reach b ON a.src = b.dst AND a.dst = b.src
       |), nodes AS (
       |  SELECT DISTINCT src AS node FROM edges
       |  UNION SELECT DISTINCT dst FROM edges
       |), scc AS (
       |  SELECT n.node, least(n.node, coalesce(min(m.other), n.node)) AS scc_id
       |  FROM nodes n LEFT JOIN mutual m ON m.node = n.node GROUP BY n.node
       |), sizes AS (
       |  SELECT scc_id, count(*) AS scc_size FROM scc GROUP BY scc_id
       |)
       |SELECT s.node AS page, s.scc_id, z.scc_size
       |FROM scc s JOIN sizes z USING (scc_id) ORDER BY page""".stripMargin
}
