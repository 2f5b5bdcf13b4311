package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Artifacts

/** Model-based quality filtering — the classifier step of a production
  * LLM-data pipeline (the GPT-3/LLaMA recipe: hand rules label a seed
  * set, a cheap linear classifier generalizes them, and the MODEL — not
  * the rules — runs over the corpus at scan speed).
  *
  * Here the teacher is the engine's own heuristic
  * ([[TextAnalysis.qualityScore]]: ≥3 of the 4 rules ⇒ positive), the
  * student is a logistic regression over the same four features, fitted
  * driver-side by deterministic IRLS on the bounded hash-ordered sample
  * (the [[Similarity]] fit discipline), and SERVED as pure column
  * arithmetic: four scaled features and a five-term literal dot product
  * per row — no model runtime, no UDF, fully inside whole-stage codegen.
  *
  * Exactness contract: every feature is exact integer counts + IEEE
  * divisions by constants (re-derivable in DuckDB bit-for-bit — the
  * `quality_score` oracle already proves the feature family), and the
  * logit is a fixed left-associative chain over the FITTED weights
  * embedded as double literals, so `quality_lr_score` carries a full
  * value oracle even though a "model" produced it. The fit itself uses
  * libm sigmoid — driver-side only; serving emits the LOGIT (sign ≙
  * probability > 0.5), never a cross-engine-unsafe exp.
  */
object QualityModel {

  /** Feature scaling divisors — constants, so each feature is one exact
    * IEEE division; chosen to put all four features in O(1) range (IRLS
    * conditioning, not semantics). */
  val TokScale = 100.0
  val LenScale = 10.0
  val StopScale = 5.0

  /** The four features over a `text` column, in model order:
    * x0 = n_tokens/100, x1 = type-token ratio, x2 = mean token length/10,
    * x3 = stopword hits/5 — built on the SHARED
    * [[TextAnalysis.qualityFeatures]] bundle, so the student's inputs and
    * the teacher's rules derive from one definition. */
  private def featureCols: Seq[Column] = {
    val f = TextAnalysis.qualityFeatures
    Seq(f.nTokens.cast("double") / TokScale, f.ttr,
      f.meanLen / LenScale, f.stopHits.cast("double") / StopScale)
  }

  /** Teacher label: the heuristic's ≥3-of-4 rule (quality ≥ 0.75) —
    * literally [[TextAnalysis.QualityFeatures.ruleHits]], the same column
    * the heuristic scores with. */
  private def teacherCol: Column =
    (TextAnalysis.qualityFeatures.ruleHits >= 3).cast("double")

  /** Deterministic IRLS (Newton) fit of ridge-regularized logistic
    * regression: w ← w + (XᵀRX + λI)⁻¹ Xᵀ(y − p), R = diag(p(1−p)),
    * fixed 25 iterations from w = 0, 5×5 solve by Gaussian elimination
    * with partial pivoting (index-tiebreak) — no RNG, no convergence
    * branch, bit-reproducible. `xs` rows are the four features; the
    * intercept is appended internally. Returns `[w0..w3, b]`. */
  private[ops] def fitLr(xs: Array[Array[Double]], ys: Array[Double],
      iters: Int = 25, ridge: Double = 1e-6): Array[Double] = {
    val d = 5
    val n = xs.length
    require(n > 0 && n == ys.length, s"bad fit sample ($n)")
    val w = new Array[Double](d)
    val aug = xs.map(x => x :+ 1.0)
    for (_ <- 0 until iters) {
      val h = Array.ofDim[Double](d, d)
      val g = new Array[Double](d)
      var i = 0
      while (i < n) {
        val x = aug(i)
        var z = 0.0
        var j = 0
        while (j < d) { z += w(j) * x(j); j += 1 }
        val p = 1.0 / (1.0 + math.exp(-z))
        val r = p * (1.0 - p)
        val e = ys(i) - p
        j = 0
        while (j < d) {
          g(j) += e * x(j)
          val hj = h(j); val rxj = r * x(j)
          var k = 0
          while (k < d) { hj(k) += rxj * x(k); k += 1 }
          j += 1
        }
        i += 1
      }
      var j = 0
      while (j < d) { h(j)(j) += ridge; g(j) -= ridge * w(j); j += 1 }
      // solve h · delta = g in place
      val m = h.map(_.clone()); val b = g.clone()
      for (cp <- 0 until d) {
        var piv = cp
        for (r <- cp + 1 until d) if (math.abs(m(r)(cp)) > math.abs(m(piv)(cp))) piv = r
        val (tr, tb) = (m(piv), b(piv)); m(piv) = m(cp); b(piv) = b(cp); m(cp) = tr; b(cp) = tb
        for (r <- cp + 1 until d) {
          val f = m(r)(cp) / m(cp)(cp)
          for (c <- cp until d) m(r)(c) -= f * m(cp)(c)
          b(r) -= f * b(cp)
        }
      }
      val delta = new Array[Double](d)
      for (r <- d - 1 to 0 by -1) {
        var s = b(r)
        for (c <- r + 1 until d) s -= m(r)(c) * delta(c)
        delta(r) = s / m(r)(r)
      }
      j = 0
      while (j < d) { w(j) += delta(j); j += 1 }
    }
    w
  }

  /** Bounded deterministic fit sample: features + teacher labels computed
    * IN THE EXECUTORS by the same column expressions the serving path
    * uses; the driver collects only five doubles per sampled doc. */
  private[ops] def fitFrom(docs: DataFrame): Array[Double] = {
    val fc = featureCols
    val rows = docs
      .filter(pmod(xxhash64(col("doc_id")), lit(2)) === 0)
      .select(Seq(xxhash64(col("doc_id")).as("h"), col("doc_id"),
        teacherCol.as("y")) ++ fc.zipWithIndex.map { case (c, i) => c.as(s"x$i") }: _*)
      .orderBy(col("h"), col("doc_id"))
      .limit(50000)
      .collect()
    val xs = rows.map(r => Array(r.getDouble(3), r.getDouble(4), r.getDouble(5), r.getDouble(6)))
    val ys = rows.map(_.getDouble(2))
    fitLr(xs, ys)
  }

  /** The LR fit for `dir`, one per process in the [[graft.Artifacts]] store. */
  private[graft] def fitCached(spark: SparkSession, dir: String): Array[Double] =
    Artifacts.fit("lr", dir)(fitFrom(Tables(spark, dir, "documents")))

  /** The fitted logit over a `text` column — the projection every
    * quality-model query shares: per-row literal arithmetic, so the
    * score, sample, eval and calibration queries cannot drift apart. */
  private[graft] def logitCol(w: Array[Double]): Column =
    featureCols.zipWithIndex
      .map { case (c, i) => lit(w(i)) * c }
      .reduce[Column](_ + _) + lit(w(4))

  /** The served classifier: per doc, the fitted logit (rounded for the
    * registered output) and the keep decision on the RAW logit sign.
    * One narrow scan + projection — the model is five plan-time literals.
    */
  def qualityLrScore(spark: SparkSession, dir: String): DataFrame = {
    val w = fitCached(spark, dir)
    val logit = logitCol(w)
    Tables(spark, dir, "documents").select(
      col("doc_id"),
      round(logit, 6).as("lr_logit"),
      (logit > 0.0).as("keep"))
      .orderBy("doc_id")
  }

  /** The fitted logit as DuckDB SQL over the tokenized column `t` — ONE
    * definition feeding BOTH generated oracles; the exactness contract
    * requires them to state the identical left-associative chain, so the
    * chain must never exist twice. */
  private def logitSql(w: Array[Double]): String = {
    val terms = Seq(
      s"${w(0)} * (len(t)::DOUBLE / $TokScale)",
      s"${w(1)} * (len(list_distinct(t))::DOUBLE / len(t)::DOUBLE)",
      s"${w(2)} * (list_sum(list_transform(t, x -> length(x)))::DOUBLE / len(t)::DOUBLE / $LenScale)",
      s"${w(3)} * (len(list_intersect(t, ['the', 'a', 'of', 'and', 'to']))::DOUBLE / $StopScale)")
    terms.mkString(" + ") + s" + ${w(4)}"
  }

  /** Generated-literal oracle: features re-derived exactly (the
    * `quality_score` oracle's token arithmetic), logit re-stated as the
    * same left-associative chain over the fitted literals. */
  private[graft] def qualityLrScoreSql(w: Array[Double]): String = {
    val logit = logitSql(w)
    s"""SELECT doc_id, round(logit, 6) AS lr_logit, logit > 0 AS keep
       |FROM (
       |  SELECT doc_id, $logit AS logit
       |  FROM (SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS t
       |        FROM documents))
       |ORDER BY doc_id""".stripMargin
  }

  /** Quality-WEIGHTED resampling — soft filtering, the production
    * alternative to the hard `keep` cut: each doc survives with
    * probability `p = clamp(0.5 + logit/4, 0.1, 1.0)` — confidently good
    * docs always kept, confidently bad ones kept at a 10% floor (so the
    * training mix retains a calibrated slice of low-quality text instead
    * of a cliff at the decision boundary). Membership is the engine's
    * standard deterministic draw (md5 of seed:doc_id — a pure function of
    * the key, never an RNG stream), and the ramp is exact IEEE arithmetic
    * on the fitted logit, so the kept SET is oracle-checkable exactly.
    * Scale shape: one scan-and-filter, no shuffle before the final
    * presentation sort.
    */
  def qualityWeightedSample(spark: SparkSession, dir: String,
      seed: String = "qw42"): DataFrame = {
    val w = fitCached(spark, dir)
    val p = greatest(least(lit(0.5) + logitCol(w) / 4.0, lit(1.0)), lit(0.1))
    // the engine's ONE deterministic draw ([[Sampling.seededKey]]), as a
    // 16-bit integer — the same md5 bytes every sampling operator uses
    val draw = conv(substring(
      Sampling.seededKey(seed, col("doc_id")), 1, 4), 16, 10).cast("long")
    Tables(spark, dir, "documents")
      .withColumn("keep_p", p)
      .filter(draw < floor(col("keep_p") * 65536.0))
      .select(col("doc_id"), round(col("keep_p"), 6).as("keep_p"))
      .orderBy("doc_id")
  }

  /** Generated oracle: the logit chain of [[qualityLrScoreSql]], the ramp,
    * and the identical hex-draw threshold compare. */
  private[graft] def qualityWeightedSampleSql(w: Array[Double],
      seed: String = "qw42"): String = {
    val logit = logitSql(w)
    s"""SELECT doc_id, round(keep_p, 6) AS keep_p
       |FROM (
       |  SELECT doc_id,
       |    greatest(least(0.5 + ($logit) / 4.0, 1.0), 0.1) AS keep_p,
       |    CAST('0x' || substr(md5('$seed:' || doc_id::VARCHAR), 1, 4) AS INTEGER) AS draw
       |  FROM (SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS t
       |        FROM documents))
       |WHERE draw < floor(keep_p * 65536)
       |ORDER BY doc_id""".stripMargin
  }

  /** Classifier evaluation against the distillation teacher — the
    * confusion matrix and derived metrics every model-based filter ships
    * next to its scores (how faithfully does the LR student reproduce the
    * ≥3-of-4 heuristic it was distilled from?). `prec`/`recall` are single
    * divisions of exact integer cells; `f1 = 2tp/(2tp+fp+fn)` is the
    * harmonic mean algebraically reduced to ONE division, so every metric
    * is cross-engine exact without rounding.
    *
    * Scale shape: one corpus scan projecting two booleans (teacher rule
    * hits and the literal-weight logit sign — no model runtime), one
    * 4-cell aggregate with map-side partials. Output is a single row.
    */
  def lrEvalMetrics(spark: SparkSession, dir: String): DataFrame = {
    val w = fitCached(spark, dir)
    val y = TextAnalysis.qualityFeatures.ruleHits >= 3
    val p = logitCol(w) > 0.0
    Tables(spark, dir, "documents")
      .select(y.as("y"), p.as("p"))
      .agg(
        sum(when(col("y") && col("p"), 1L).otherwise(0L)).as("tp"),
        sum(when(!col("y") && col("p"), 1L).otherwise(0L)).as("fp"),
        sum(when(!col("y") && !col("p"), 1L).otherwise(0L)).as("tn"),
        sum(when(col("y") && !col("p"), 1L).otherwise(0L)).as("fn"))
      .select(col("tp"), col("fp"), col("tn"), col("fn"),
        ((col("tp") + col("tn")).cast("double") /
          (col("tp") + col("fp") + col("tn") + col("fn"))).as("accuracy"),
        (col("tp").cast("double") / (col("tp") + col("fp"))).as("prec"),
        (col("tp").cast("double") / (col("tp") + col("fn"))).as("recall"),
        ((col("tp") * 2L).cast("double") /
          (col("tp") * 2L + col("fp") + col("fn"))).as("f1"))
  }

  /** The ≥3-of-4 teacher rule battery as DuckDB SQL over the tokenized
    * column `t` — one definition for every oracle that re-states the
    * teacher label (the [[logitSql]] single-source discipline). */
  private def teacherSql: String =
    s"""(CASE WHEN len(t) >= ${TextAnalysis.QualityMinTokens} THEN 1 ELSE 0 END
       |     + CASE WHEN len(list_distinct(t))::DOUBLE / len(t)::DOUBLE >= ${TextAnalysis.QualityMinTtr} THEN 1 ELSE 0 END
       |     + CASE WHEN list_sum(list_transform(t, x -> length(x)))::DOUBLE / len(t)::DOUBLE >= ${TextAnalysis.QualityLenLo}
       |            AND list_sum(list_transform(t, x -> length(x)))::DOUBLE / len(t)::DOUBLE <= ${TextAnalysis.QualityLenHi} THEN 1 ELSE 0 END
       |     + CASE WHEN len(list_intersect(t, ['the', 'a', 'of', 'and', 'to'])) >= ${TextAnalysis.QualityMinStops} THEN 1 ELSE 0 END) >= 3""".stripMargin

  /** Calibration audit of the served soft-filter probability (the
    * [[qualityWeightedSample]] ramp `clamp(0.5 + logit/4, 0.1, 1)`)
    * against the distillation teacher, in probability deciles — the
    * reliability diagram every probabilistic filter ships with: per bin,
    * predicted confidence vs empirical teacher rate and their gap (the
    * per-bin term of expected calibration error). Deliberately NO
    * sigmoid: like the rest of this family the served score is a linear
    * ramp of the logit, so no `exp`/libm call whose last ulp differs
    * across engines ever enters the comparison.
    *
    * Determinism: bin ids and counts are exact; per-bin confidence sums
    * row probabilities on the DECIMAL(24,12) grid (exact, reorder-safe)
    * with ONE final division; acc is one division of exact integers; gap
    * is |difference| of those two doubles — all identical cross-engine.
    *
    * Scale shape: one corpus scan projecting (p, y), one 10-key hash
    * aggregate with map-side partials. Output ≤ 10 rows.
    */
  def lrCalibrationBins(spark: SparkSession, dir: String): DataFrame = {
    val w = fitCached(spark, dir)
    val p = greatest(least(lit(0.5) + logitCol(w) / 4.0, lit(1.0)), lit(0.1))
    val y = TextAnalysis.qualityFeatures.ruleHits >= 3
    Tables(spark, dir, "documents")
      .select(p.as("keep_p"), y.as("y"))
      .withColumn("bin", least(floor(col("keep_p") * 10.0), lit(9.0)).cast("int"))
      .groupBy("bin")
      .agg(
        count(lit(1)).as("n"),
        sum(when(col("y"), 1L).otherwise(0L)).as("n_pos"),
        expr("CAST(sum(CAST(keep_p AS DECIMAL(24,12))) AS DOUBLE)").as("conf_sum"))
      .select(col("bin"), col("n"), col("n_pos"),
        round(col("conf_sum") / col("n"), 6).as("conf"),
        round(col("n_pos").cast("double") / col("n"), 6).as("acc"),
        round(abs(col("conf_sum") / col("n")
          - col("n_pos").cast("double") / col("n")), 6).as("gap"))
      .orderBy("bin")
  }

  /** Generated-literal oracle: the served ramp over the [[logitSql]]
    * chain, the [[teacherSql]] label, and the identical decimal-grid
    * confidence sum. */
  private[graft] def lrCalibrationBinsSql(w: Array[Double]): String = {
    val logit = logitSql(w)
    s"""SELECT bin, n, n_pos,
       |  round(conf_sum / n, 6) AS conf,
       |  round(n_pos::DOUBLE / n, 6) AS acc,
       |  round(abs(conf_sum / n - n_pos::DOUBLE / n), 6) AS gap
       |FROM (
       |  SELECT bin, count(*)::BIGINT AS n,
       |    sum(CASE WHEN y THEN 1 ELSE 0 END)::BIGINT AS n_pos,
       |    CAST(sum(CAST(keep_p AS DECIMAL(24,12))) AS DOUBLE) AS conf_sum
       |  FROM (
       |    SELECT CAST(least(floor(keep_p * 10.0), 9.0) AS INTEGER) AS bin, keep_p, y
       |    FROM (
       |      SELECT greatest(least(0.5 + ($logit) / 4.0, 1.0), 0.1) AS keep_p,
       |        $teacherSql AS y
       |      FROM (SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS t
       |            FROM documents)))
       |  GROUP BY bin)
       |ORDER BY bin""".stripMargin
  }

  private[graft] def lrEvalMetricsSql(w: Array[Double]): String = {
    val logit = logitSql(w)
    s"""SELECT tp, fp, tn, fn,
       |  (tp + tn)::DOUBLE / (tp + fp + tn + fn) AS accuracy,
       |  tp::DOUBLE / (tp + fp) AS prec,
       |  tp::DOUBLE / (tp + fn) AS recall,
       |  (tp * 2)::DOUBLE / (tp * 2 + fp + fn) AS f1
       |FROM (
       |  SELECT
       |    sum(CASE WHEN y AND p THEN 1 ELSE 0 END)::BIGINT AS tp,
       |    sum(CASE WHEN NOT y AND p THEN 1 ELSE 0 END)::BIGINT AS fp,
       |    sum(CASE WHEN NOT y AND NOT p THEN 1 ELSE 0 END)::BIGINT AS tn,
       |    sum(CASE WHEN y AND NOT p THEN 1 ELSE 0 END)::BIGINT AS fn
       |  FROM (
       |    SELECT
       |      (CASE WHEN len(t) >= ${TextAnalysis.QualityMinTokens} THEN 1 ELSE 0 END
       |     + CASE WHEN len(list_distinct(t))::DOUBLE / len(t)::DOUBLE >= ${TextAnalysis.QualityMinTtr} THEN 1 ELSE 0 END
       |     + CASE WHEN list_sum(list_transform(t, x -> length(x)))::DOUBLE / len(t)::DOUBLE >= ${TextAnalysis.QualityLenLo}
       |            AND list_sum(list_transform(t, x -> length(x)))::DOUBLE / len(t)::DOUBLE <= ${TextAnalysis.QualityLenHi} THEN 1 ELSE 0 END
       |     + CASE WHEN len(list_intersect(t, ['the', 'a', 'of', 'and', 'to'])) >= ${TextAnalysis.QualityMinStops} THEN 1 ELSE 0 END) >= 3 AS y,
       |      ($logit) > 0 AS p
       |    FROM (SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS t
       |          FROM documents)))""".stripMargin
  }


  /** Hashed-feature buckets for [[dsirWeights]]. */
  val DsirBuckets = 64

  /** Additive smoothing for the bucket distributions. */
  val DsirAlpha = 0.5

  /** The curated slice the raw corpus is re-weighted toward. */
  val DsirTargetSource = "src0"

  /** Miscoverage level for [[conformalCalibration]] — the released
    * interval targets ≥ 90% coverage. */
  val ConformalAlpha = 0.1

  /** Split-conformal calibration (Vovk et al.; Angelopoulos & Bates '21 —
    * public knowledge) — the DISTRIBUTION-FREE error bar for any point
    * predictor, here the per-language train-mean of the TTR feature:
    * train fits the predictor, a disjoint calibration split takes the
    * ⌈(n+1)(1−α)⌉-th smallest nonconformity |y − ŷ| as q̂, and the held-out
    * eval split audits that ŷ ± q̂ actually covers ≥ 1−α. Roles derive
    * from the SAME md5 nibble as the engine's split rule, refined
    * three ways ('0'-'9' train, 'a'-'d' calibration, 'e'-'f' eval) so
    * assignment stays a pure function of doc_id.
    *
    * Exactness: y is the 4-dp TTR grid; ŷ is ONE double division of a
    * DECIMAL(24,12) sum, so every nonconformity is bit-identical
    * cross-engine; q̂ is an exact order statistic — selected as the
    * smallest DISTINCT nonconformity whose cumulative count reaches k
    * (the winsorized value-histogram discipline: the rank window runs
    * over the distinct-value table, never a corpus-sized sort).
    *
    * Scale shape: one tokenize scan → per-doc (y, nib); the model is a
    * |langs|-row broadcast; the q̂ window is histogram-bounded; every
    * tail aggregate is a 1-row scalar combine.
    */
  def conformalCalibration(spark: SparkSession, dir: String,
      alpha: Double = ConformalAlpha): DataFrame = {
    val f = TextAnalysis.qualityFeatures
    val base = Tables(spark, dir, "documents").select(
      col("doc_id"), col("lang"), round(f.ttr, 4).as("y"),
      substring(md5(col("doc_id").cast("string").cast("binary")), 1, 1)
        .as("nib"))
    val model = base.filter(col("nib").between("0", "9"))
      .groupBy("lang")
      .agg((sum(col("y").cast("decimal(24,12)")).cast("double") /
        count(lit(1))).as("yhat"))
    val scored = base.join(broadcast(model), Seq("lang"))
      .withColumn("s", abs(col("y") - col("yhat")))
    val cal = scored.filter(col("nib").between("a", "d"))
    val k = cal.agg(count(lit(1)).as("n_cal"))
      .select(col("n_cal"),
        ceil((col("n_cal") + 1) * lit(1.0 - alpha)).cast("long").as("k"))
    val w = org.apache.spark.sql.expressions.Window.orderBy("s")
    // 1-row result feeding BOTH the output projection and the coverage
    // semi-join — materialized once (localCheckpoint, bounded) so the
    // histogram window isn't planned twice
    val qhat = cal.groupBy("s").agg(count(lit(1)).as("c"))
      .withColumn("cum", sum("c").over(w))
      .crossJoin(broadcast(k))
      .filter(col("cum") >= col("k"))
      .agg(min("s").as("q_hat"), first("n_cal").as("n_cal"))
      .localCheckpoint(true)
    val ev = scored.filter(col("nib") >= "e")
    ev.agg(count(lit(1)).as("n_eval")).crossJoin(broadcast(qhat))
      .crossJoin(broadcast(
        ev.join(broadcast(qhat.select("q_hat")),
            ev("s") <= col("q_hat"), "left_semi")
          .agg(count(lit(1)).as("n_covered"))))
      .select(col("n_cal"), round(col("q_hat"), 6).as("q_hat"),
        col("n_eval"), col("n_covered"),
        round(col("n_covered").cast("double") / col("n_eval"), 6)
          .as("coverage"))
  }

  val conformalCalibrationSql: String =
    s"""WITH base AS (
       |  SELECT doc_id, lang,
       |    round(len(list_distinct(t))::DOUBLE / len(t), 4) AS y,
       |    substr(md5(doc_id::VARCHAR), 1, 1) AS nib
       |  FROM (SELECT doc_id, lang,
       |          regexp_split_to_array(lower(text), '\\s+') AS t
       |        FROM documents)
       |), model AS (
       |  SELECT lang,
       |    CAST(sum(y::DECIMAL(24,12)) AS DOUBLE) / count(*) AS yhat
       |  FROM base WHERE nib BETWEEN '0' AND '9' GROUP BY lang
       |), scored AS (
       |  SELECT b.doc_id, b.nib, abs(b.y - m.yhat) AS s
       |  FROM base b JOIN model m USING (lang)
       |), cal AS (
       |  SELECT s FROM scored WHERE nib BETWEEN 'a' AND 'd'
       |), kk AS (
       |  SELECT count(*) AS n_cal,
       |    CAST(ceil((count(*) + 1) * ${1.0 - ConformalAlpha}) AS BIGINT) AS k
       |  FROM cal
       |), qh AS (
       |  SELECT min(s) AS q_hat, any_value(n_cal) AS n_cal FROM (
       |    SELECT s, sum(c) OVER (ORDER BY s) AS cum FROM (
       |      SELECT s, count(*) AS c FROM cal GROUP BY s)) h, kk
       |  WHERE h.cum >= kk.k
       |), ev AS (
       |  SELECT s FROM scored WHERE nib >= 'e'
       |)
       |SELECT qh.n_cal::BIGINT AS n_cal, round(qh.q_hat, 6) AS q_hat,
       |  (SELECT count(*) FROM ev) AS n_eval,
       |  (SELECT count(*) FROM ev, qh WHERE ev.s <= qh.q_hat) AS n_covered,
       |  round((SELECT count(*) FROM ev, qh WHERE ev.s <= qh.q_hat)::DOUBLE
       |    / (SELECT count(*) FROM ev), 6) AS coverage
       |FROM qh""".stripMargin

  /** DSIR importance weights — Data Selection via Importance Resampling
    * (Xie et al., NeurIPS'23): re-weight a raw corpus toward a small
    * curated target WITHOUT a trained model. Both distributions are
    * estimated over HASHED token features (md5-bucketed unigrams here;
    * the hashing is what makes the estimator O(buckets), not O(vocab),
    * at 100 TB), and each document scores the mean log-likelihood ratio
    * of its tokens' buckets:
    *
    *   w(doc) = avg_tok [ ln p̂_target(b(tok)) − ln p̂_raw(b(tok)) ]
    *
    * with add-α smoothing on both sides. Positive ⇒ the document looks
    * more like the target slice than the raw average; downstream,
    * sampling ∝ exp(w) is the DSIR selection step
    * ([[qualityWeightedSample]] is the machinery that consumes such
    * weights).
    *
    * Scale shape: one token explode feeding (a) the bucket model — at
    * most [[DsirBuckets]] rows after two hash aggregates, broadcast back
    * — and (b) the scoring join, a broadcast equi-join on the bucket id
    * followed by one per-doc aggregate. No shuffle carries anything
    * wider than (doc_id, bucket). The bucket id is the same 4-hex-digit
    * md5 prefix both engines derive, so the oracle is exact; the per-doc
    * mean is rounded to 4 (the [[Corpus.bigramLogProbScoreFrom]]
    * convention absorbing summation-order ulp drift).
    */
  def dsirWeights(spark: SparkSession, dir: String): DataFrame =
    dsirWeightsOf(Tables(spark, dir, "documents"), DsirTargetSource)

  /** [[dsirWeights]] over any `(doc_id, source, text)` frame. */
  def dsirWeightsOf(docs: DataFrame, targetSource: String): DataFrame = {
    val aB = DsirAlpha * DsirBuckets
    val bt = docs
      .select(col("doc_id"), col("source"),
        explode(Dedup.tokens(col("text"))).as("tok"))
      .select(col("doc_id"), col("source"),
        (conv(substring(md5(col("tok").cast("binary")), 1, 4), 16, 10)
          .cast("long") % DsirBuckets).as("b"))
      .persist() // feeds the bucket model and the scoring join
    val raw = bt.groupBy("b").agg(count(lit(1)).as("rc"))
    val tgt = bt.filter(col("source") === targetSource)
      .groupBy("b").agg(count(lit(1)).as("tc"))
    val tot = raw.agg(sum("rc").as("raw_tot"))
      .crossJoin(tgt.agg(sum("tc").as("tgt_tot")))
    val model = raw.join(tgt, Seq("b"), "left").na.fill(0L, Seq("tc"))
      .crossJoin(broadcast(tot))
      .select(col("b"),
        (log((col("tc") + lit(DsirAlpha)) / (col("tgt_tot") + lit(aB)))
          - log((col("rc") + lit(DsirAlpha)) / (col("raw_tot") + lit(aB))))
          .as("lw"))
    val out = bt.join(broadcast(model), Seq("b"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        (round(avg(col("lw")), 4) + lit(0.0)).as("dsir_weight")) // +0.0: -0.0 -> 0.0, both engines
      .orderBy("doc_id")
    val materialized = out.cache()
    materialized.count()
    bt.unpersist()
    materialized
  }

  val dsirWeightsSql: String = {
    val aB = DsirAlpha * DsirBuckets
    s"""WITH bt AS (
       |  SELECT doc_id, source,
       |    ('0x' || substr(md5(tok), 1, 4))::INT % $DsirBuckets AS b
       |  FROM (SELECT doc_id, source,
       |          unnest(regexp_split_to_array(lower(text), '\\s+')) AS tok
       |        FROM documents)
       |), raw AS (SELECT b, count(*) AS rc FROM bt GROUP BY 1
       |), tgt AS (SELECT b, count(*) AS tc FROM bt
       |           WHERE source = '$DsirTargetSource' GROUP BY 1
       |), tot AS (SELECT (SELECT sum(rc) FROM raw)::BIGINT AS raw_tot,
       |                  (SELECT sum(tc) FROM tgt)::BIGINT AS tgt_tot
       |), model AS (
       |  SELECT raw.b,
       |    ln((coalesce(tc, 0) + $DsirAlpha) / (tgt_tot + $aB))
       |      - ln((rc + $DsirAlpha) / (raw_tot + $aB)) AS lw
       |  FROM raw LEFT JOIN tgt USING (b) CROSS JOIN tot
       |)
       |SELECT doc_id, count(*) AS n_tokens, round(avg(lw), 4) + 0.0 AS dsir_weight
       |FROM bt JOIN model USING (b)
       |GROUP BY doc_id
       |ORDER BY doc_id""".stripMargin
  }
}
