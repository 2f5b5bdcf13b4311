package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Negative-mining operators for contrastive training data — the pair
  * construction step of CLIP/SimCLR/DPR-style pipelines: every anchor
  * needs negatives, and WHICH negatives (random in-batch vs
  * semantically-hard) is the dataset-quality lever the training recipe
  * turns. Both operators are deterministic end to end (hash-derived
  * batches, seeded tie-breaks, data-fitted nothing), so the emitted pair
  * set is reproducible across runs, engines, and backfills — the
  * [[Sampling]] order-key discipline applied to pair construction.
  *
  * The `embeddings.label` column stands in for the positive-equivalence
  * class (caption group / duplicate cluster / query-relevant set): a
  * valid negative is any vector with a DIFFERENT label.
  */
object Contrastive {

  /** Negatives kept per anchor. */
  val NegsPerAnchor = 4

  /** In-batch negative sampling — the standard contrastive recipe:
    * vectors are grouped into pseudo-random BATCHES (a pure function of
    * vec_id, like a shuffled data-loader with a pinned seed), and each
    * anchor draws its negatives from its own batch's different-label
    * members, ranked by a seeded pair hash. No similarity computation at
    * all — these are the "easy", unbiased negatives.
    *
    * Scale shape: batch assignment is a narrow projection; pairing is a
    * batch-keyed equi self-join (|batch|² work per batch, batch size is a
    * constant of the recipe, so total work is linear in corpus); the
    * per-anchor keep is a window over ≤|batch| rows. One shuffle per
    * side, no corpus-wide window.
    */
  def batchNegatives(spark: SparkSession, dir: String,
      negs: Int = NegsPerAnchor): DataFrame = {
    val e = Tables(spark, dir, "embeddings")
      .select(col("vec_id"), col("label"),
        // hex nibble of the batch hash: a pinned-seed loader shuffle
        // (the [[Sampling.shuffleShards]] locate idiom — hex char → 0..15)
        expr("cast(locate(substring(md5(concat('b7:', cast(vec_id as string))), 1, 1), '0123456789abcdef') - 1 as int)")
          .as("batch"))
    val anchors = e.select(col("batch"), col("vec_id").as("anchor_id"),
      col("label").as("anchor_label"))
    val cands = e.select(col("batch"), col("vec_id").as("neg_id"),
      col("label").as("neg_label"))
    val paired = anchors.join(cands, Seq("batch"))
      .filter(col("anchor_label") =!= col("neg_label"))
      .withColumn("okey", md5(concat(lit("n11:"),
        col("anchor_id").cast("string"), lit(":"), col("neg_id").cast("string"))))
    val w = Window.partitionBy("anchor_id").orderBy(col("okey"), col("neg_id"))
    paired.withColumn("neg_rank", row_number().over(w))
      .filter(col("neg_rank") <= negs)
      .select("anchor_id", "anchor_label", "neg_id", "neg_label", "neg_rank")
      .orderBy("anchor_id", "neg_rank")
  }

  val batchNegativesSql: String =
    s"""WITH e AS (
       |  SELECT vec_id, label,
       |    (strpos('0123456789abcdef',
       |       substr(md5('b7:' || vec_id::VARCHAR), 1, 1)) - 1)::INT AS batch
       |  FROM embeddings
       |)
       |SELECT anchor_id, anchor_label, neg_id, neg_label, neg_rank FROM (
       |  SELECT a.vec_id AS anchor_id, a.label AS anchor_label,
       |    c.vec_id AS neg_id, c.label AS neg_label,
       |    row_number() OVER (PARTITION BY a.vec_id
       |      ORDER BY md5('n11:' || a.vec_id::VARCHAR || ':' || c.vec_id::VARCHAR),
       |               c.vec_id) AS neg_rank
       |  FROM e a JOIN e c ON a.batch = c.batch AND a.label <> c.label)
       |WHERE neg_rank <= $NegsPerAnchor
       |ORDER BY anchor_id, neg_rank""".stripMargin

  /** Hard-negative mining — the quality upgrade over [[batchNegatives]]:
    * for each anchor, the most SIMILAR vectors with a different label
    * (the decision-boundary examples DPR/ANCE mine between training
    * rounds). Candidates come from the shared LSH index
    * ([[Similarity.lshBucket]] — same planes, same banded shape as
    * `ann_lsh_topk`), so no corpus-wide cosine scan: only bucket-mates
    * are scored, then exact cosine ranks the different-label survivors.
    *
    * Scale shape: identical to `ann_lsh_topk` (banded index persisted,
    * bucket equi-join, candidate-only exact scoring, per-anchor window)
    * plus one label inequation in the candidate filter — hard-negative
    * mining IS an ANN query with a class-exclusion predicate.
    */
  def hardNegativesLsh(spark: SparkSession, dir: String,
      k: Int = NegsPerAnchor): DataFrame = {
    val e = Tables(spark, dir, "embeddings")
      .select(col("vec_id"), col("label"),
        transform(col("embedding"), _.cast("double")).as("v"))
    val buckets = (0 until Similarity.LshTables)
      .map(l => Similarity.lshBucket(col("v"), Similarity.LshBits, Similarity.LshDims, l))
    val banded = e.select(col("vec_id"), col("label"),
        posexplode(array(buckets: _*)).as(Seq("table", "bucket")))
      .persist()
    val anchors = banded.filter(col("vec_id") % 50 === 0)
      .select(col("table"), col("bucket"),
        col("vec_id").as("anchor_id"), col("label").as("anchor_label"))
    val cand = banded.join(broadcast(anchors), Seq("table", "bucket"))
      .filter(col("label") =!= col("anchor_label"))
      .select(col("anchor_id"), col("anchor_label"),
        col("vec_id").as("neg_id"), col("label").as("neg_label"))
      .dropDuplicates("anchor_id", "neg_id")
    val vecs = e.select(col("vec_id"), col("v"))
    val aVecs = vecs.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("anchor_id"), col("v").as("a_v"))
    val scored = cand
      .join(vecs.select(col("vec_id").as("neg_id"), col("v")), Seq("neg_id"))
      .join(broadcast(aVecs), Seq("anchor_id"))
      .select(col("anchor_id"), col("anchor_label"), col("neg_id"),
        col("neg_label"), Similarity.cosine(col("a_v"), col("v")).as("c"))
    val out = {
      val w = Window.partitionBy("anchor_id").orderBy(col("c").desc, col("neg_id"))
      scored.withColumn("neg_rank", row_number().over(w))
        .filter(col("neg_rank") <= k)
        .select(col("anchor_id"), col("anchor_label"), col("neg_id"),
          col("neg_label"), col("neg_rank"), round(col("c"), 4).as("cos"))
        .orderBy("anchor_id", "neg_rank")
    }
    banded.unpersist()
    out
  }

  /** Generated exact oracle: the shared banded CTE (embedded plane
    * literals — `Similarity.bandedSqlCtes`) with the label-exclusion
    * predicate in the candidate join. */
  def hardNegativesLshSql: String =
    s"""${Similarity.bandedSqlCtes}, lab AS (
       |  SELECT vec_id, label FROM embeddings
       |), cand AS (
       |  SELECT DISTINCT q.vec_id AS anchor_id, ql.label AS anchor_label,
       |    e.vec_id AS neg_id, el.label AS neg_label
       |  FROM banded e JOIN banded q ON e.tbl = q.tbl AND e.bucket = q.bucket
       |  JOIN lab ql ON ql.vec_id = q.vec_id
       |  JOIN lab el ON el.vec_id = e.vec_id
       |  WHERE q.vec_id % 50 = 0 AND el.label <> ql.label
       |)
       |SELECT anchor_id, anchor_label, neg_id, neg_label, neg_rank, cos FROM (
       |  SELECT c.anchor_id, c.anchor_label, c.neg_id, c.neg_label,
       |    row_number() OVER (PARTITION BY c.anchor_id
       |      ORDER BY list_cosine_similarity(qe.embedding::DOUBLE[], ne.embedding::DOUBLE[]) DESC,
       |               c.neg_id) AS neg_rank,
       |    round(list_cosine_similarity(qe.embedding::DOUBLE[], ne.embedding::DOUBLE[]), 4) AS cos
       |  FROM cand c
       |  JOIN embeddings qe ON qe.vec_id = c.anchor_id
       |  JOIN embeddings ne ON ne.vec_id = c.neg_id)
       |WHERE neg_rank <= $NegsPerAnchor
       |ORDER BY anchor_id, neg_rank""".stripMargin

  /** Triplet margin, as decimal TEXT shared by both engines (the
    * [[Similarity.MmrLambda]] rationale). */
  val TripletMargin = "0.05"

  /** Semi-hard triplet mining (Schroff et al. '15, FaceNet) — the third
    * member of the contrastive family: [[batchNegatives]] draws easy
    * negatives, [[hardNegativesLsh]] the hardest; the triplet recipe
    * wants the SEMI-HARD band — negatives farther than the positive but
    * within the margin, `cos(a,p) − m < cos(a,n) < cos(a,p)` — because
    * hardest-only collapses training and easy-only stalls it. Per panel
    * anchor: the HARDEST positive (same label, minimum cosine — the
    * pair the margin must hold against), the best semi-hard negative
    * (max cosine inside the band; falls back to the hardest negative
    * overall when the band is empty, flagged), and the margin-violation
    * bit `cos(a,n) ≥ cos(a,p)` the training loss would fire on.
    *
    * Scale shape: TWO passes of the corpus×panel brute join (the pos
    * pass reduces to one row per anchor and broadcasts back into the
    * neg pass — the semi-hard band needs cos_ap before negatives can
    * rank). Everything per-anchor is a plain aggregate: argmin/argmax
    * via min/max over (cos, ±id) structs — no row_number windows at
    * all. At 100 TB the candidate stream comes from the banded LSH
    * index ([[hardNegativesLsh]]'s shape) instead of the brute join;
    * the mining tail is unchanged.
    *
    * Cross-engine exactness: cosines are the proven bit-equal doubles,
    * band edges compare against `cos_ap − 0.05` with the margin as
    * decimal text on both sides, and every argmin/argmax tie breaks on
    * the id inside the struct ordering.
    */
  def tripletMining(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables(spark, dir, "embeddings")
      .select(col("vec_id"), col("label"),
        transform(col("embedding"), _.cast("double")).as("v"))
    val anchors = e.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("a_id"), col("label").as("a_label"),
        col("v").as("a_v"))
    val scored = e.join(broadcast(anchors), col("vec_id") =!= col("a_id"))
      .select(col("a_id"), col("a_label"), col("vec_id").as("n_id"),
        col("label"), Similarity.cosine(col("a_v"), col("v")).as("c"))
    val pos = scored.filter(col("label") === col("a_label"))
      .groupBy("a_id")
      .agg(min(struct(col("c"), col("n_id"))).as("p"))
      .select(col("a_id"), col("p.n_id").as("pos_id"), col("p.c").as("cos_ap"))
    val m = expr(s"CAST($TripletMargin AS DOUBLE)")
    scored.filter(col("label") =!= col("a_label"))
      .join(broadcast(pos), Seq("a_id"))
      .withColumn("semi",
        col("c") < col("cos_ap") && col("c") > col("cos_ap") - m)
      .groupBy("a_id")
      .agg(
        first("a_label").as("a_label"),
        first("pos_id").as("pos_id"),
        first("cos_ap").as("cos_ap_raw"),
        max(when(col("semi"), struct(col("c"), (-col("n_id")).as("negid"))))
          .as("sh"),
        max(struct(col("c"), (-col("n_id")).as("negid"))).as("hard"))
      .select(col("a_id"), col("a_label"), col("pos_id"),
        round(col("cos_ap_raw"), 4).as("cos_ap"),
        col("sh").isNotNull.as("semi_hard"),
        (-coalesce(col("sh.negid"), col("hard.negid"))).as("neg_id"),
        round(coalesce(col("sh.c"), col("hard.c")), 4).as("cos_an"),
        (coalesce(col("sh.c"), col("hard.c")) >= col("cos_ap_raw"))
          .as("margin_violation"))
      .orderBy("a_id")
  }

  val tripletMiningSql: String =
    s"""WITH e AS (
       |  SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
       |), a AS (
       |  SELECT vec_id AS a_id, label AS a_label, v AS a_v FROM e
       |  WHERE vec_id % 50 = 0
       |), scored AS (
       |  SELECT a_id, a_label, e.vec_id AS n_id, e.label,
       |    list_cosine_similarity(a_v, e.v) AS c
       |  FROM a JOIN e ON e.vec_id <> a.a_id
       |), pos AS (
       |  SELECT a_id,
       |    min(struct_pack(c := c, n_id := n_id)) AS p
       |  FROM scored WHERE label = a_label GROUP BY a_id
       |), neg AS (
       |  SELECT s.a_id, s.a_label, p.p.n_id AS pos_id, p.p.c AS cos_ap,
       |    s.n_id, s.c,
       |    (s.c < p.p.c AND s.c > p.p.c - $TripletMargin::DOUBLE) AS is_semi
       |  FROM scored s JOIN pos p ON p.a_id = s.a_id
       |  WHERE s.label <> s.a_label
       |)
       |SELECT a_id, min(a_label)::BIGINT AS a_label, min(pos_id)::BIGINT AS pos_id,
       |  round(min(cos_ap), 4) AS cos_ap,
       |  (max(CASE WHEN is_semi THEN struct_pack(c := c, negid := -n_id) END)
       |    IS NOT NULL) AS semi_hard,
       |  -coalesce(
       |    max(CASE WHEN is_semi THEN struct_pack(c := c, negid := -n_id) END).negid,
       |    max(struct_pack(c := c, negid := -n_id)).negid)::BIGINT AS neg_id,
       |  round(coalesce(
       |    max(CASE WHEN is_semi THEN struct_pack(c := c, negid := -n_id) END).c,
       |    max(struct_pack(c := c, negid := -n_id)).c), 4) AS cos_an,
       |  (coalesce(
       |    max(CASE WHEN is_semi THEN struct_pack(c := c, negid := -n_id) END).c,
       |    max(struct_pack(c := c, negid := -n_id)).c) >= min(cos_ap))
       |    AS margin_violation
       |FROM neg
       |GROUP BY a_id
       |ORDER BY a_id""".stripMargin
}
