package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Distributed k-means over the embeddings table — the CORPUS-SCALE
  * clustering primitive next to the bounded driver-side fit the ANN stack
  * uses (`Similarity.fitCentroidsFrom` caps its Lloyd at a 50k hash-ordered
  * sample because it only needs a coarse quantizer). Training-data curation
  * wants the full-corpus partition itself: cluster-balanced mixtures,
  * SemDeDup-style per-cluster pruning, per-cluster quality audits, and
  * topic-coverage reports all consume `(doc → cluster)` for EVERY row, so
  * the assignment and the center updates must both be distributed.
  *
  * Arithmetic: FIXED-POINT integers carried in doubles — the [[PageRank]]
  * discipline applied to geometry. Float k-means sums coordinates in
  * nondeterministic order, so no two engines agree bit-for-bit; here every
  * coordinate is quantized ONCE to the 2⁻¹⁴ grid (`floor((x + 1) · 16384)`
  * — the `+1` shift makes the grid values positive, the power-of-two scale
  * makes the multiply exact) and every subsequent quantity is an exact
  * integer below 2⁵³: squared distances (≤ 2³⁶ at 64 dims), per-cluster
  * coordinate sums (≤ 2⁵⁰ at 10⁹ rows — the BIGINT headroom documented for
  * PageRank applies), and the floored-mean center update
  * `floor(Σx / n)` (exact because Σx, n are exact and `Σx·ulp < 1`, so the
  * correctly-rounded double quotient cannot cross an integer boundary).
  * Integer addition is associative → every aggregate is order-independent
  * and the DuckDB oracle re-derives identical centers, assignments, and
  * distances through unrolled CTE iterations, literal-free.
  *
  * Seeding: the Gonzalez farthest-point chain ([[Sampling.kcenterCoreset]]'s
  * greedy, run in the quantized grid) — the deterministic maxmin variant of
  * k-means++ (Celebi et al. '13 rank it the strongest RNG-free init):
  * k − 1 bounded distributed argmax scans, ties by `vec_id`.
  *
  * Scale shape: the driver ever holds k centers (k·d longs — the
  * [[Similarity.mmrRerankTopK]] bounded-driver convention). Each Lloyd
  * iteration is ONE assignment scan (k plan-time-literal distance
  * expressions over the shared [[graft.functions.DotProduct]] kernel — a
  * pure projection, no shuffle) plus ONE `(cluster, dim)` aggregate whose
  * map-side partial combine reduces the shuffle to `partitions · k · d`
  * rows regardless of corpus size. At 100 TB: `k + iters + 1` scans total,
  * no corpus-scale shuffle anywhere. Empty clusters keep their centroid
  * (the [[Similarity]] Lloyd's convention); assignment ties break to the
  * lowest center rank.
  */
object Clustering {

  /** Cluster count, iteration count, and the fixed-point grid scale
    * (2¹⁴ — a power of two so the quantizing multiply is exact). */
  val KmK = 8
  val KmIters = 4
  val KmScale = 16384.0

  /** `floor((x + 1) · 16384)` as exact-integer doubles — the one lossy step,
    * applied identically in both engines before any arithmetic. */
  private def quantized(e: Column): Column =
    transform(e, x => floor((x.cast("double") + lit(1.0)) * lit(KmScale)).cast("double"))

  /** Registered query: full-corpus Lloyd over `embeddings`, releasing each
    * vector's final cluster (1-based seed rank) and exact integer squared
    * grid distance to its center. */
  def kmeansClusters(spark: SparkSession, dir: String,
      k: Int = KmK, iters: Int = KmIters): DataFrame = {
    val e = Tables(spark, dir, "embeddings")
      .select(col("vec_id"), quantized(col("embedding")).as("q"))
      .persist() // k seed argmax scans + iters assignment/update scans + release
    def dist2To(c: Array[Double]): Column = {
      val cc = c.map(x => x * x).sum
      graft.functions.DotProduct(col("q"), col("q")) -
        lit(2.0) * graft.functions.DotProduct(col("q"), lit(c)) + lit(cc)
    }
    // Gonzalez maxmin seeding — the kcenterCoreset chain in the quantized grid
    val first = e.orderBy("vec_id").limit(1).collect()(0)
    var centers = Vector(first.getSeq[Double](1).toArray)
    for (_ <- 2 to k) {
      val d =
        if (centers.size == 1) dist2To(centers.head)
        else least(centers.map(dist2To): _*)
      val next = e.select(col("vec_id"), col("q"), d.as("d"))
        .orderBy(col("d").desc, col("vec_id")).limit(1).collect()(0)
      centers = centers :+ next.getSeq[Double](1).toArray
    }
    val dims = centers.head.length
    def argminStruct(cs: Vector[Array[Double]]): Column =
      element_at(array_sort(array(cs.zipWithIndex.map { case (cv, i) =>
        struct(dist2To(cv).as("d"), lit(i + 1).as("r"))
      }: _*)), 1)
    // Lloyd: assignment projection + (cluster, dim) partial-agg combine;
    // the k·d grouped sums come back to the driver (the bounded model, like
    // the seed chain), never the rows
    for (_ <- 1 to iters) {
      // assignment in its OWN projection below the explode: fused into one
      // select, the optimizer placed the argmin in the Project ABOVE the
      // Generate, re-evaluating the k-center distance argmin once per
      // exploded (row, dim) pair — d× the assignment work (measured: the
      // iteration stage was ~0.8–1.0 s/iter CPU-bound at sf0.1, ~4× this
      // form). Same expression, same values — only where it evaluates.
      val assigned = e.select(argminStruct(centers).getField("r").as("r"), col("q"))
      val sums = assigned
        .select(col("r"), posexplode(col("q")).as(Seq("i", "x")))
        .groupBy("r", "i")
        .agg(sum(col("x")).as("s"), count(lit(1)).as("n"))
        .collect()
      val byR = sums.groupBy(_.getInt(0))
      centers = centers.zipWithIndex.map { case (old, ix) =>
        byR.get(ix + 1).fold(old) { rows => // empty cluster keeps its centroid
          val c = new Array[Double](dims)
          rows.foreach { row =>
            c(row.getInt(1)) = math.floor(row.getDouble(2) / row.getLong(3))
          }
          c
        }
      }.toVector
    }
    val out = e.select(col("vec_id"), argminStruct(centers).as("a"))
      .select(col("vec_id"), col("a.r").as("cluster"),
        col("a.d").cast("long").as("d2"))
      .orderBy("vec_id")
      .localCheckpoint(true) // realize, then release the corpus cache
    e.unpersist()
    out
  }

  /** Literal-free EXACT oracle for [[kmeansClusters]]: the seed chain and
    * every Lloyd iteration unrolled as MATERIALIZED CTEs — assignment via
    * the per-vector nearest-center window (same `(d, rank)` tie rule),
    * center update via `floor(sum/count)` over `unnest`-with-subscripts
    * (exact-integer doubles, so DuckDB's aggregation order is immaterial,
    * exactly as Spark's). */
  def kmeansClustersSql(k: Int = KmK, iters: Int = KmIters): String = {
    def dist(a: String, b: String) =
      s"list_dot_product($a, $a) - 2.0 * list_dot_product($a, $b) + list_dot_product($b, $b)"
    val seedSteps = (2 to k).map { i =>
      s"""g$i AS MATERIALIZED (
         |  SELECT $i AS r, q FROM (
         |    SELECT vec_id, q, row_number() OVER (ORDER BY d DESC, vec_id) AS rn
         |    FROM sd${i - 1}) WHERE rn = 1
         |), sd$i AS MATERIALIZED (
         |  SELECT e.vec_id, e.q, least(e.d, ${dist("e.q", "c.q")}) AS d
         |  FROM sd${i - 1} e CROSS JOIN g$i c
         |)""".stripMargin
    }.mkString(",\n")
    val cent0 = (1 to k).map(i => s"SELECT r, q FROM g$i").mkString("\nUNION ALL\n")
    val iterSteps = (1 to iters).map { t =>
      s"""a$t AS MATERIALIZED (
         |  SELECT vec_id, q, r FROM (
         |    SELECT e.vec_id, e.q, c.r,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY ${dist("e.q", "c.q")}, c.r) AS rn
         |    FROM ev e CROSS JOIN cent${t - 1} c) WHERE rn = 1
         |), s$t AS MATERIALIZED (
         |  SELECT r, i, floor(sum(x) / count(*))::DOUBLE AS m
         |  FROM (SELECT r, generate_subscripts(q, 1) AS i, unnest(q) AS x FROM a$t)
         |  GROUP BY r, i
         |), cent$t AS MATERIALIZED (
         |  SELECT c0.r, coalesce(lm.m, c0.q) AS q
         |  FROM cent${t - 1} c0
         |  LEFT JOIN (SELECT r, list(m ORDER BY i) AS m FROM s$t GROUP BY r) lm
         |    USING (r)
         |)""".stripMargin
    }.mkString(",\n")
    s"""WITH ev AS MATERIALIZED (
       |  SELECT vec_id,
       |    list_transform(embedding::DOUBLE[], x -> floor((x + 1.0) * 16384.0)) AS q
       |  FROM embeddings
       |), g1 AS MATERIALIZED (
       |  SELECT 1 AS r, q FROM ev ORDER BY vec_id LIMIT 1
       |), sd1 AS MATERIALIZED (
       |  SELECT e.vec_id, e.q, ${dist("e.q", "c.q")} AS d FROM ev e CROSS JOIN g1 c
       |),
       |$seedSteps,
       |cent0 AS MATERIALIZED (
       |$cent0
       |),
       |$iterSteps
       |SELECT vec_id, cluster, d2 FROM (
       |  SELECT e.vec_id, c.r AS cluster, CAST(${dist("e.q", "c.q")} AS BIGINT) AS d2,
       |    row_number() OVER (PARTITION BY e.vec_id
       |      ORDER BY ${dist("e.q", "c.q")}, c.r) AS rn
       |  FROM ev e CROSS JOIN cent$iters c) WHERE rn = 1
       |ORDER BY vec_id""".stripMargin
  }
}
