package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Online-experimentation analysis over the events stream — the A/B
  * readout a growth team runs nightly: deterministic hash assignment of
  * users to arms, per-arm metric means, and CUPED variance reduction
  * (Deng, Xu, Kohavi & Walker, WSDM'13: regression-adjust the experiment
  * metric with a PRE-EXPERIMENT covariate; same mean, strictly smaller
  * variance, so the same data decides faster).
  *
  * Everything upstream of the final scalar arithmetic is EXACT: the arm
  * is a pure function of (seed, user_id) (the `Sampling.seededKey`
  * md5 discipline — re-runs and other engines assign identically), the
  * per-user pre/post purchase sums ride DECIMAL(15,2) (`value` carries
  * two decimals, so sums are exact integers in cents), and the pooled
  * moment sums (Σx, Σy, Σx², Σxy) are DECIMAL aggregates of exact
  * products. θ = cov(x,y)/var(x) and the per-arm adjusted means are then
  * one fixed-shape IEEE double tree over those exact moments (the
  * [[Events.hourValueRegression]] convention), rounded to 6.
  *
  * Scale shape: one scan of events → per-user conditional sums (hash
  * aggregate on user_id); the pooled moments are ONE single-row aggregate
  * over the per-user frame, broadcast back via the scalar-combine
  * crossJoin; the per-arm rollup is a 2-row hash aggregate. No window,
  * no self-join, nothing corpus-sized on the driver.
  */
object Experiment {

  /** Assignment seed — bumping it re-randomizes every arm membership. */
  val AbSeed = "ab1"

  /** Experiment start: events before this are the CUPED pre-period. */
  val SplitDate = "2024-01-16"

  /** Per-user frame: arm, pre-period covariate x, experiment metric y —
    * shared by [[abCupedLift]], [[abDiffInDiff]] and [[abSrmCheck]]. */
  private[graft] def perUser(ev: DataFrame): DataFrame = {
    val dec = "cast(0.00 as decimal(15,2))"
    val isPurchase = col("event_type") === "purchase"
    val pre = col("ts") < lit(SplitDate).cast("timestamp")
    ev.groupBy(col("user_id"))
      .agg(
        sum(when(isPurchase && pre, col("value").cast("decimal(15,2)"))
          .otherwise(expr(dec))).as("x"),
        sum(when(isPurchase && !pre, col("value").cast("decimal(15,2)"))
          .otherwise(expr(dec))).as("y"))
      .withColumn("arm",
        when(substring(md5(concat(lit(AbSeed), lit(":"),
          col("user_id").cast("string")).cast("binary")), 1, 1)
          .between("0", "7"), "control").otherwise("treatment"))
  }

  /** The 2-row CUPED readout from the per-user (arm, x, y) frame. */
  def abCupedLift(spark: SparkSession, dir: String): DataFrame = {
    val pu = perUser(Tables(spark, dir, "events"))
    val pooled = pu.agg(
      count(lit(1)).as("n_all"),
      sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum(col("x") * col("x")).as("sxx"),
      sum(col("x") * col("y")).as("sxy"))
    val d = (c: String) => col(c).cast("double")
    val arms = pu.groupBy("arm").agg(
      count(lit(1)).as("n_users"),
      sum(col("x")).as("sxa"), sum(col("y")).as("sya"))
    arms.crossJoin(broadcast(pooled))
      .select(col("arm"), col("n_users"),
        round(d("sxa") / d("n_users"), 6).as("mean_x"),
        round(d("sya") / d("n_users"), 6).as("mean_y"),
        round((d("n_all") * d("sxy") - d("sx") * d("sy"))
          / (d("n_all") * d("sxx") - d("sx") * d("sx")), 6).as("theta"),
        round(d("sya") / d("n_users")
          - (d("n_all") * d("sxy") - d("sx") * d("sy"))
            / (d("n_all") * d("sxx") - d("sx") * d("sx"))
            * (d("sxa") / d("n_users") - d("sx") / d("n_all")), 6)
          .as("cuped_mean"))
      .orderBy("arm")
  }

  val abCupedLiftSql: String =
    s"""WITH pu AS (
       |  SELECT user_id,
       |    coalesce(sum(CASE WHEN event_type = 'purchase'
       |      AND ts < TIMESTAMP '$SplitDate 00:00:00'
       |      THEN value::DECIMAL(15,2) END), 0.00::DECIMAL(15,2)) AS x,
       |    coalesce(sum(CASE WHEN event_type = 'purchase'
       |      AND ts >= TIMESTAMP '$SplitDate 00:00:00'
       |      THEN value::DECIMAL(15,2) END), 0.00::DECIMAL(15,2)) AS y,
       |    CASE WHEN substr(md5('$AbSeed:' || user_id::VARCHAR), 1, 1)
       |      BETWEEN '0' AND '7' THEN 'control' ELSE 'treatment' END AS arm
       |  FROM events GROUP BY user_id
       |), pooled AS (
       |  SELECT count(*) AS n_all, sum(x) AS sx, sum(y) AS sy,
       |    sum(x * x) AS sxx, sum(x * y) AS sxy
       |  FROM pu
       |), arms AS (
       |  SELECT arm, count(*) AS n_users, sum(x) AS sxa, sum(y) AS sya
       |  FROM pu GROUP BY arm
       |)
       |SELECT arm, n_users,
       |  round(sxa::DOUBLE / n_users::DOUBLE, 6) AS mean_x,
       |  round(sya::DOUBLE / n_users::DOUBLE, 6) AS mean_y,
       |  round((n_all::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE)
       |    / (n_all::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE), 6) AS theta,
       |  round(sya::DOUBLE / n_users::DOUBLE
       |    - (n_all::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE)
       |      / (n_all::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE)
       |      * (sxa::DOUBLE / n_users::DOUBLE - sx::DOUBLE / n_all::DOUBLE),
       |    6) AS cuped_mean
       |FROM arms CROSS JOIN pooled
       |ORDER BY arm""".stripMargin

  /** Conversion bar: a user converts iff their experiment-period purchase
    * value exceeds this (≈ the per-user median at every SF, so both arms'
    * rates stay interior — a constant-rate definition like "any purchase"
    * saturates at 100% on this activity level and degenerates the test). */
  val ConversionValue = "300.00"

  /** Two-proportion z-test on conversion — the classical A/B
    * significance readout next to [[abCupedLift]]'s continuous metric:
    * a user CONVERTS if their experiment-period purchase value clears
    * [[ConversionValue]]; the pooled-variance z statistic decides whether
    * the arms' conversion rates differ. Everything upstream of z is exact
    * (DECIMAL cent sums → integer converter counts); z itself is one
    * fixed-shape IEEE tree, rounded 6.
    *
    * Scale shape: one events scan → per-user flags (hash aggregate), a
    * 2-row arm rollup, and a scalar-combine — the [[abCupedLift]] plan
    * with a threshold flag instead of decimal sums.
    */
  def abConversionZtest(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir, "events")
    val dec = "cast(0.00 as decimal(15,2))"
    val pu = ev.groupBy(col("user_id"))
      .agg(when(sum(when(col("event_type") === "purchase" &&
        col("ts") >= lit(SplitDate).cast("timestamp"),
        col("value").cast("decimal(15,2)")).otherwise(expr(dec)))
        > expr(s"cast($ConversionValue as decimal(15,2))"), 1L).otherwise(0L)
        .as("converted"))
      .withColumn("arm",
        when(substring(md5(concat(lit(AbSeed), lit(":"),
          col("user_id").cast("string")).cast("binary")), 1, 1)
          .between("0", "7"), "control").otherwise("treatment"))
    val arms = pu.groupBy("arm").agg(
      count(lit(1)).as("n"), sum(col("converted")).as("conv"))
    val wide = arms.groupBy().pivot("arm", Seq("control", "treatment"))
      .agg(first(col("n")).as("n"), first(col("conv")).as("conv"))
    wide.select(
      col("control_n").as("n_control"), col("control_conv").as("conv_control"),
      col("treatment_n").as("n_treatment"), col("treatment_conv").as("conv_treatment"),
      round(expr(
        """(cast(treatment_conv as double) / cast(treatment_n as double)
          | - cast(control_conv as double) / cast(control_n as double))
          |/ sqrt(
          |  (cast(control_conv + treatment_conv as double)
          |    / cast(control_n + treatment_n as double))
          |  * (1.0 - cast(control_conv + treatment_conv as double)
          |      / cast(control_n + treatment_n as double))
          |  * (1.0 / cast(control_n as double)
          |     + 1.0 / cast(treatment_n as double)))""".stripMargin), 6).as("z"))
  }

  val abConversionZtestSql: String =
    s"""WITH pu AS (
       |  SELECT user_id,
       |    CASE WHEN coalesce(sum(CASE WHEN event_type = 'purchase'
       |        AND ts >= TIMESTAMP '$SplitDate 00:00:00'
       |        THEN value::DECIMAL(15,2) END), 0.00::DECIMAL(15,2))
       |      > $ConversionValue::DECIMAL(15,2) THEN 1 ELSE 0 END AS converted,
       |    CASE WHEN substr(md5('$AbSeed:' || user_id::VARCHAR), 1, 1)
       |      BETWEEN '0' AND '7' THEN 'control' ELSE 'treatment' END AS arm
       |  FROM events GROUP BY user_id
       |), arms AS (
       |  SELECT
       |    count(*) FILTER (arm = 'control') AS n_control,
       |    sum(converted) FILTER (arm = 'control')::BIGINT AS conv_control,
       |    count(*) FILTER (arm = 'treatment') AS n_treatment,
       |    sum(converted) FILTER (arm = 'treatment')::BIGINT AS conv_treatment
       |  FROM pu
       |)
       |SELECT n_control, conv_control, n_treatment, conv_treatment,
       |  round(
       |    (conv_treatment::DOUBLE / n_treatment::DOUBLE
       |     - conv_control::DOUBLE / n_control::DOUBLE)
       |    / sqrt(
       |      ((conv_control + conv_treatment)::DOUBLE
       |        / (n_control + n_treatment)::DOUBLE)
       |      * (1.0 - (conv_control + conv_treatment)::DOUBLE
       |          / (n_control + n_treatment)::DOUBLE)
       |      * (1.0 / n_control::DOUBLE + 1.0 / n_treatment::DOUBLE)), 6) AS z
       |FROM arms""".stripMargin

  /** Difference-in-differences readout — the 2×2 (arm × period) table and
    * the DiD estimate `(ȳ_T − x̄_T) − (ȳ_C − x̄_C)`: the causal-inference
    * workhorse when assignment isn't randomized (here it doubles as a
    * placebo check on the hash assignment — pre-period means should NOT
    * differ). Per-cell sums are exact DECIMAL cents; the estimate is one
    * fixed-shape IEEE tree, rounded 6.
    *
    * Scale shape: the [[abCupedLift]] per-user aggregate, a 2-row arm
    * rollup, one scalar-combine.
    */
  def abDiffInDiff(spark: SparkSession, dir: String): DataFrame = {
    val pu = perUser(Tables(spark, dir, "events"))
    val arms = pu.groupBy("arm").agg(
      count(lit(1)).as("n_users"),
      sum(col("x")).as("sx"), sum(col("y")).as("sy"))
    val wide = arms.groupBy().pivot("arm", Seq("control", "treatment"))
      .agg(first(col("n_users")).as("n"), first(col("sx")).as("sx"),
        first(col("sy")).as("sy"))
    wide.select(
      col("control_n").as("n_control"), col("treatment_n").as("n_treatment"),
      round(expr("cast(control_sx as double) / cast(control_n as double)"), 6)
        .as("pre_control"),
      round(expr("cast(control_sy as double) / cast(control_n as double)"), 6)
        .as("post_control"),
      round(expr("cast(treatment_sx as double) / cast(treatment_n as double)"), 6)
        .as("pre_treatment"),
      round(expr("cast(treatment_sy as double) / cast(treatment_n as double)"), 6)
        .as("post_treatment"),
      round(expr(
        """(cast(treatment_sy as double) / cast(treatment_n as double)
          | - cast(treatment_sx as double) / cast(treatment_n as double))
          |- (cast(control_sy as double) / cast(control_n as double)
          |   - cast(control_sx as double) / cast(control_n as double))"""
          .stripMargin), 6).as("did_estimate"))
  }

  val abDiffInDiffSql: String =
    s"""WITH pu AS (
       |  SELECT user_id,
       |    coalesce(sum(CASE WHEN event_type = 'purchase'
       |      AND ts < TIMESTAMP '$SplitDate 00:00:00'
       |      THEN value::DECIMAL(15,2) END), 0.00::DECIMAL(15,2)) AS x,
       |    coalesce(sum(CASE WHEN event_type = 'purchase'
       |      AND ts >= TIMESTAMP '$SplitDate 00:00:00'
       |      THEN value::DECIMAL(15,2) END), 0.00::DECIMAL(15,2)) AS y,
       |    CASE WHEN substr(md5('$AbSeed:' || user_id::VARCHAR), 1, 1)
       |      BETWEEN '0' AND '7' THEN 'control' ELSE 'treatment' END AS arm
       |  FROM events GROUP BY user_id
       |), arms AS (
       |  SELECT
       |    count(*) FILTER (arm = 'control') AS control_n,
       |    sum(x) FILTER (arm = 'control') AS control_sx,
       |    sum(y) FILTER (arm = 'control') AS control_sy,
       |    count(*) FILTER (arm = 'treatment') AS treatment_n,
       |    sum(x) FILTER (arm = 'treatment') AS treatment_sx,
       |    sum(y) FILTER (arm = 'treatment') AS treatment_sy
       |  FROM pu
       |)
       |SELECT control_n AS n_control, treatment_n AS n_treatment,
       |  round(control_sx::DOUBLE / control_n::DOUBLE, 6) AS pre_control,
       |  round(control_sy::DOUBLE / control_n::DOUBLE, 6) AS post_control,
       |  round(treatment_sx::DOUBLE / treatment_n::DOUBLE, 6) AS pre_treatment,
       |  round(treatment_sy::DOUBLE / treatment_n::DOUBLE, 6) AS post_treatment,
       |  round(
       |    (treatment_sy::DOUBLE / treatment_n::DOUBLE
       |     - treatment_sx::DOUBLE / treatment_n::DOUBLE)
       |    - (control_sy::DOUBLE / control_n::DOUBLE
       |       - control_sx::DOUBLE / control_n::DOUBLE), 6) AS did_estimate
       |FROM arms""".stripMargin

  /** Sample-ratio-mismatch guardrail — the FIRST thing a trustworthy
    * experimentation platform checks (Fabijan et al., KDD'19 diagnosis
    * practice): under a healthy 50/50 hash split, the arm counts follow a
    * binomial; a 1-df chi-square `(n_C − n_T)²/(n_C + n_T)` far above ~10
    * means the assignment or logging pipeline is broken and every other
    * readout is garbage. Counts are exact integers; chi² is one division;
    * the pass flag applies the standard p≈0.001 bar (chi² < 10.828).
    */
  val SrmChi2Bar = "10.828"

  def abSrmCheck(spark: SparkSession, dir: String): DataFrame = {
    val pu = perUser(Tables(spark, dir, "events"))
    val arms = pu.groupBy("arm").agg(count(lit(1)).as("n"))
    // single-agg pivot names columns by pivot value alone
    arms.groupBy().pivot("arm", Seq("control", "treatment"))
      .agg(first(col("n")))
      .select(col("control").as("n_control"),
        col("treatment").as("n_treatment"),
        round(expr(
          """cast((control - treatment) * (control - treatment) as double)
            |/ cast(control + treatment as double)""".stripMargin), 6)
          .as("chi2"),
        expr(s"""cast((control - treatment) * (control - treatment) as double)
                |/ cast(control + treatment as double) < $SrmChi2Bar"""
          .stripMargin).as("pass"))
  }

  val abSrmCheckSql: String =
    s"""WITH pu AS (
       |  SELECT user_id,
       |    CASE WHEN substr(md5('$AbSeed:' || user_id::VARCHAR), 1, 1)
       |      BETWEEN '0' AND '7' THEN 'control' ELSE 'treatment' END AS arm
       |  FROM events GROUP BY user_id
       |), arms AS (
       |  SELECT
       |    count(*) FILTER (arm = 'control') AS n_control,
       |    count(*) FILTER (arm = 'treatment') AS n_treatment
       |  FROM pu
       |)
       |SELECT n_control, n_treatment,
       |  round(((n_control - n_treatment) * (n_control - n_treatment))::DOUBLE
       |    / (n_control + n_treatment)::DOUBLE, 6) AS chi2,
       |  ((n_control - n_treatment) * (n_control - n_treatment))::DOUBLE
       |    / (n_control + n_treatment)::DOUBLE < $SrmChi2Bar AS pass
       |FROM arms""".stripMargin

  /** Mann–Whitney U rank test on the experiment metric — the
    * distribution-free complement to [[abCupedLift]]: compares the ARMS'
    * whole per-user metric distributions (robust to the heavy-tailed
    * revenue that breaks t-tests). Average-rank tie handling is kept
    * EXACT by working in doubled ranks: for metric value v,
    * `2·rank(v) = 2·|{y < v}| + |{y = v}| + 1` — an integer — so the
    * doubled rank-sum 2R₁, the doubled statistic 2U₁ = 2R₁ − n₁(n₁+1),
    * and the tie term Σ(t³−t) are all exact integers; the tie-corrected
    * normal z is one fixed-shape IEEE tree at the end, rounded 6.
    *
    * Scale shape: ranks come from the VALUE-DOMAIN aggregate (groupBy y:
    * tie counts + one cumulative window over distinct values), broadcast
    * back; everything else is per-user hash aggregates and a
    * scalar-combine. The distinct-value table CAN approach the user count
    * for a continuous metric — if it does, the two-phase bucketed prefix
    * sum ([[Sampling.sizeBalancedShards]]) replaces the single cumulative
    * window verbatim; kept single-window here as the exactness anchor.
    */
  def abRankTest(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pu = abPerUserMetric(spark, dir)
    val ties = pu.groupBy(col("y")).agg(count(lit(1)).as("t"))
    val wCum = Window.orderBy("y")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ranks = ties
      .withColumn("below", sum(col("t")).over(wCum) - col("t"))
      .select(col("y"), (lit(2L) * col("below") + col("t") + 1L).as("rank2"),
        (col("t") * col("t") * col("t") - col("t")).as("tie3"))
    mannWhitneyZ(pu, ranks, broadcastRanks = true)
  }

  /** Per-user experiment frame shared by the rank-test formulations:
    * post-split purchase revenue (decimal, exact) + the deterministic
    * md5 arm split. */
  private def abPerUserMetric(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir, "events")
    val dec = "cast(0.00 as decimal(15,2))"
    ev.groupBy(col("user_id"))
      .agg(sum(when(col("event_type") === "purchase" &&
        col("ts") >= lit(SplitDate).cast("timestamp"),
        col("value").cast("decimal(15,2)")).otherwise(expr(dec))).as("y"))
      .withColumn("arm",
        when(substring(md5(concat(lit(AbSeed), lit(":"),
          col("user_id").cast("string")).cast("binary")), 1, 1)
          .between("0", "7"), "control").otherwise("treatment"))
  }

  /** Tie-corrected Mann–Whitney z from a per-user frame and a per-value
    * `(y, rank2, tie3)` rank table — the arm rollup + one-row IEEE tree
    * shared by the anchor and the bucketed twin. `broadcastRanks` is the
    * anchor's small-distinct-domain assumption; the scale twin shuffles
    * the join instead (its premise is |ranks| ≈ |users|). */
  private def mannWhitneyZ(pu: DataFrame, ranks: DataFrame,
      broadcastRanks: Boolean): DataFrame = {
    val rankSide = ranks.select("y", "rank2")
    val r1 = pu.join(if (broadcastRanks) broadcast(rankSide) else rankSide, Seq("y"))
      .groupBy("arm").agg(count(lit(1)).as("n"), sum(col("rank2")).as("r2sum"))
    val tieSum = ranks.agg(sum(col("tie3")).as("tie3sum"))
    val wide = r1.groupBy().pivot("arm", Seq("control", "treatment"))
      .agg(first(col("n")).as("n"), first(col("r2sum")).as("r2"))
      .crossJoin(broadcast(tieSum))
    wide.select(
      col("control_n").as("n_control"), col("treatment_n").as("n_treatment"),
      (col("control_r2") - col("control_n") * (col("control_n") + 1L)).as("u2_control"),
      round(expr(
        """(cast(control_r2 - control_n * (control_n + 1L) as double) / 2.0
          | - cast(control_n as double) * cast(treatment_n as double) / 2.0)
          |/ sqrt(
          |  cast(control_n as double) * cast(treatment_n as double) / 12.0
          |  * (cast(control_n + treatment_n as double) + 1.0
          |     - cast(tie3sum as double)
          |       / (cast(control_n + treatment_n as double)
          |          * (cast(control_n + treatment_n as double) - 1.0))))"""
          .stripMargin), 6).as("z"))
  }

  /** FLOOR-division bucket key over the `cents` column. SQL `div`
    * truncates toward zero, so with any NEGATIVE metric value (refunds)
    * two adjacent value ranges around zero would collapse into bucket 0
    * and bucket order would no longer agree with value order — silently
    * breaking the two-phase rank reconstruction. Floor division is
    * monotone over the whole domain, so the non-negativity of revenue is
    * no longer a load-bearing assumption. */
  private[ops] def floorDivBucket(width: Long): org.apache.spark.sql.Column =
    expr(s"(cents div $width) - (CASE WHEN cents < 0 AND cents % $width != 0 " +
      "THEN 1 ELSE 0 END)")

  /** Scale twin of [[abRankTest]] — the documented two-phase bucketed
    * prefix sum replacing the anchor's single unpartitioned cumulative
    * window over distinct metric values (the [[Sampling.sizeBalancedShards]]
    * convention, where the construction and its provable equality to the
    * global cumsum are spelled out). For a continuous metric the
    * distinct-value table approaches the user count, so here:
    *  1. the value domain buckets by `cents div B` (decimal(…,2) cents are
    *     exact integers; truncating div is monotonic for the non-negative
    *     revenue metric), B sized from the value SPAN so the bucket count
    *     is bounded by cluster parallelism (`Sampling.shardBucketWidth`);
    *  2. per-bucket tie totals → cumulative offsets over O(parallelism)
    *     rows — the ONLY unpartitioned window — broadcast back;
    *  3. within-bucket running sums (window PARTITIONED by bucket) + the
    *     bucket offset give each distinct value its exact doubled rank;
    *  4. the rank join back to users is a plain shuffle hash join — the
    *     anchor's rank broadcast would not hold when |ranks| ≈ |users|.
    * The distinct-value table persists because the span aggregate and the
    * rank pipeline both consume it. Oracle: [[abRankTestSql]] verbatim —
    * the twin is exact, not approximate.
    */
  def abRankTestBucketed(spark: SparkSession, dir: String,
      bucket: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pu = abPerUserMetric(spark, dir)
    val ties = pu.groupBy(col("y")).agg(count(lit(1)).as("t"))
      .withColumn("cents", (col("y") * 100).cast("long"))
      .persist()
    val width = bucket.getOrElse {
      val span = ties.agg(min("cents"), max("cents")).head()
      if (span.isNullAt(0)) 1L
      else Sampling.shardBucketWidth(span.getLong(1) - span.getLong(0) + 1,
        spark.sessionState.conf.numShufflePartitions)
    }
    val bucketed = ties.withColumn("bucket", floorDivBucket(width))
    val bucketTotals = bucketed.groupBy("bucket").agg(sum("t").as("btotal"))
    val wOff = Window.orderBy("bucket")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val offsets = bucketTotals
      .withColumn("boff", sum(col("btotal")).over(wOff) - col("btotal"))
      .select("bucket", "boff")
    val wIn = Window.partitionBy("bucket").orderBy("y")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ranks = bucketed.join(broadcast(offsets), "bucket")
      .withColumn("below", col("boff") + sum(col("t")).over(wIn) - col("t"))
      .select(col("y"), (lit(2L) * col("below") + col("t") + 1L).as("rank2"),
        (col("t") * col("t") * col("t") - col("t")).as("tie3"))
    mannWhitneyZ(pu, ranks, broadcastRanks = false)
  }

  val abRankTestSql: String =
    s"""WITH pu AS (
       |  SELECT user_id,
       |    coalesce(sum(CASE WHEN event_type = 'purchase'
       |      AND ts >= TIMESTAMP '$SplitDate 00:00:00'
       |      THEN value::DECIMAL(15,2) END), 0.00::DECIMAL(15,2)) AS y,
       |    CASE WHEN substr(md5('$AbSeed:' || user_id::VARCHAR), 1, 1)
       |      BETWEEN '0' AND '7' THEN 'control' ELSE 'treatment' END AS arm
       |  FROM events GROUP BY user_id
       |), ties AS (
       |  SELECT y, count(*) AS t FROM pu GROUP BY y
       |), ranks AS (
       |  SELECT y,
       |    2 * (sum(t) OVER (ORDER BY y
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - t) + t + 1 AS rank2,
       |    t * t * t - t AS tie3
       |  FROM ties
       |), arms AS (
       |  SELECT
       |    count(*) FILTER (arm = 'control') AS n_control,
       |    sum(rank2) FILTER (arm = 'control')::BIGINT AS r2_control,
       |    count(*) FILTER (arm = 'treatment') AS n_treatment
       |  FROM pu JOIN ranks USING (y)
       |), tiesum AS (
       |  SELECT sum(tie3)::BIGINT AS tie3sum FROM ranks
       |)
       |SELECT n_control, n_treatment,
       |  (r2_control - n_control * (n_control + 1))::BIGINT AS u2_control,
       |  round(
       |    ((r2_control - n_control * (n_control + 1))::DOUBLE / 2.0
       |     - n_control::DOUBLE * n_treatment::DOUBLE / 2.0)
       |    / sqrt(
       |      n_control::DOUBLE * n_treatment::DOUBLE / 12.0
       |      * ((n_control + n_treatment)::DOUBLE + 1.0
       |         - tie3sum::DOUBLE
       |           / ((n_control + n_treatment)::DOUBLE
       |              * ((n_control + n_treatment)::DOUBLE - 1.0)))), 6) AS z
       |FROM arms CROSS JOIN tiesum""".stripMargin

  /** mSPRT mixture scale τ, in CENTS (τ² enters the likelihood ratio);
    * decimal text shared by both engines. */
  val MsprtTauCents = "100.0"

  /** Sequential A/B monitoring — the mSPRT always-valid p-value (Johari
    * et al. '17, "Peeking at A/B tests"): the fixed-n z-test
    * ([[abConversionZtest]]) is only valid at ONE pre-committed look,
    * but every real dashboard is peeked daily; the mixture sequential
    * probability ratio test gives a p-value that is valid at EVERY look
    * simultaneously, so stopping the moment it crosses α never inflates
    * the false-positive rate. Per day n (cumulative purchase values per
    * arm, cents grid):
    *
    *   V_n      = σ̂²·(1/n_c + 1/n_t)          (σ̂² pooled within-arm)
    *   log Λ_n  = ½·ln(V_n/(V_n+τ²)) + Δ̂²·τ²/(2·V_n·(V_n+τ²))
    *   p_n      = min(1, exp(−max_{k≤n} log Λ_k))   (monotone ↓)
    *
    * Days where either arm has < 2 cumulative observations are not
    * released (σ̂² undefined), and neither are days where σ̂² = 0 (both
    * arms' values constant so far — possible right at the n ≥ 2 gate,
    * e.g. two equal-priced purchases per arm: V_n = 0 would make
    * log Λ = ½·ln 0 + 0/0 = NaN and poison the running max for every
    * later day). The plug-in σ̂² is the standard practical variant of
    * the known-variance mSPRT.
    *
    * Determinism: all cumulants (n, Σx, Σx²) are EXACT (cents and cents²
    * on the DECIMAL(38,0) grid through the window cumsum — reorder-safe,
    * overflow-safe at 100 TB); every per-day statistic is one fixed
    * double expression over them, `ln`/`exp` last-ulp differences are
    * absorbed by the 6-dp release rounding (the DP-family convention),
    * and the running max compares identical doubles.
    *
    * Scale shape: one events scan → (day, arm) aggregate; everything
    * after runs on the calendar-bounded daily grid (cumsums are windows
    * over ≤ |days| rows per arm; the arm join is day-keyed). Output ∝
    * days.
    */
  def abSequentialMsprt(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val arm = when(substring(md5(concat(lit(AbSeed), lit(":"),
      col("user_id").cast("string")).cast("binary")), 1, 1)
      .between("0", "7"), "control").otherwise("treatment")
    val obs = Tables(spark, dir, "events")
      .filter(col("event_type") === "purchase")
      .select(to_date(col("ts")).as("day"), arm.as("arm"),
        (col("value").cast("decimal(12,2)") * 100).cast("bigint").as("cents"))
    val daily = obs.groupBy("day", "arm").agg(
      count(lit(1)).as("n"),
      sum(col("cents").cast("decimal(38,0)")).as("s"),
      sum((col("cents") * col("cents")).cast("decimal(38,0)")).as("ss"))
    val spine = daily.select("day").distinct()
    def cum(a: String, p: String) = {
      val w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
      spine.join(
          daily.filter(col("arm") === a).drop("arm"), Seq("day"), "left")
        .select(col("day"),
          sum(coalesce(col("n"), lit(0L))).over(w).as(s"n_$p"),
          sum(coalesce(col("s"), expr("CAST(0 AS DECIMAL(38,0))"))).over(w)
            .as(s"s_$p"),
          sum(coalesce(col("ss"), expr("CAST(0 AS DECIMAL(38,0))"))).over(w)
            .as(s"ss_$p"))
    }
    val tau2 = s"(CAST($MsprtTauCents AS DOUBLE) * CAST($MsprtTauCents AS DOUBLE))"
    val joined = cum("control", "c").join(cum("treatment", "t"), Seq("day"))
      .filter(col("n_c") >= 2 && col("n_t") >= 2)
      .withColumn("sig2", expr(
        """((CAST(ss_c AS DOUBLE) - CAST(s_c AS DOUBLE) * CAST(s_c AS DOUBLE) / n_c)
          | + (CAST(ss_t AS DOUBLE) - CAST(s_t AS DOUBLE) * CAST(s_t AS DOUBLE) / n_t))
          | / (n_c + n_t - 2)""".stripMargin))
      .filter(col("sig2") > 0) // release gate — see the σ̂² = 0 note above
      .withColumn("v", expr("sig2 * (CAST(1.0 AS DOUBLE) / n_c + CAST(1.0 AS DOUBLE) / n_t)"))
      .withColumn("delta", expr(
        "CAST(s_t AS DOUBLE) / n_t - CAST(s_c AS DOUBLE) / n_c"))
      .withColumn("log_lambda", expr(
        s"""CAST(0.5 AS DOUBLE) * ln(v / (v + $tau2))
           | + delta * delta * $tau2 / (CAST(2.0 AS DOUBLE) * v * (v + $tau2))"""
          .stripMargin))
    val wMax = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    joined
      .withColumn("run_max", max(col("log_lambda")).over(wMax))
      .select(
        date_format(col("day"), "yyyy-MM-dd").as("day"),
        col("n_c"), col("n_t"),
        round(col("delta"), 4).as("delta_cents"),
        round(col("log_lambda"), 6).as("log_lambda"),
        round(least(lit(1.0), exp(-col("run_max"))), 6).as("p_seq"))
      .orderBy("day")
  }

  val abSequentialMsprtSql: String = {
    val tau2 = s"(CAST($MsprtTauCents AS DOUBLE) * CAST($MsprtTauCents AS DOUBLE))"
    s"""WITH obs AS (
       |  SELECT ts::DATE AS day,
       |    CASE WHEN substr(md5('$AbSeed:' || user_id::VARCHAR), 1, 1)
       |      BETWEEN '0' AND '7' THEN 'control' ELSE 'treatment' END AS arm,
       |    (value::DECIMAL(12,2) * 100)::BIGINT AS cents
       |  FROM events WHERE event_type = 'purchase'
       |), daily AS (
       |  SELECT day, arm, count(*) AS n, sum(cents) AS s,
       |    sum(cents * cents) AS ss
       |  FROM obs GROUP BY 1, 2
       |), spine AS (
       |  SELECT DISTINCT day FROM daily
       |), cc AS (
       |  SELECT sp.day,
       |    sum(coalesce(d.n, 0)) OVER (ORDER BY sp.day
       |      ROWS UNBOUNDED PRECEDING)::BIGINT AS n_c,
       |    sum(coalesce(d.s, 0)) OVER (ORDER BY sp.day
       |      ROWS UNBOUNDED PRECEDING) AS s_c,
       |    sum(coalesce(d.ss, 0)) OVER (ORDER BY sp.day
       |      ROWS UNBOUNDED PRECEDING) AS ss_c
       |  FROM spine sp LEFT JOIN daily d ON d.day = sp.day AND d.arm = 'control'
       |), ct AS (
       |  SELECT sp.day,
       |    sum(coalesce(d.n, 0)) OVER (ORDER BY sp.day
       |      ROWS UNBOUNDED PRECEDING)::BIGINT AS n_t,
       |    sum(coalesce(d.s, 0)) OVER (ORDER BY sp.day
       |      ROWS UNBOUNDED PRECEDING) AS s_t,
       |    sum(coalesce(d.ss, 0)) OVER (ORDER BY sp.day
       |      ROWS UNBOUNDED PRECEDING) AS ss_t
       |  FROM spine sp LEFT JOIN daily d ON d.day = sp.day AND d.arm = 'treatment'
       |), stat AS (
       |  SELECT cc.day, n_c, n_t,
       |    ((ss_c::DOUBLE - s_c::DOUBLE * s_c::DOUBLE / n_c)
       |     + (ss_t::DOUBLE - s_t::DOUBLE * s_t::DOUBLE / n_t))
       |     / (n_c + n_t - 2) AS sig2,
       |    s_t::DOUBLE / n_t - s_c::DOUBLE / n_c AS delta
       |  FROM cc JOIN ct ON ct.day = cc.day
       |  WHERE n_c >= 2 AND n_t >= 2
       |), lam AS (
       |  SELECT day, n_c, n_t, delta,
       |    CAST(0.5 AS DOUBLE) * ln(
       |      (sig2 * (CAST(1.0 AS DOUBLE) / n_c + CAST(1.0 AS DOUBLE) / n_t))
       |      / ((sig2 * (CAST(1.0 AS DOUBLE) / n_c + CAST(1.0 AS DOUBLE) / n_t)) + $tau2))
       |    + delta * delta * $tau2
       |      / (CAST(2.0 AS DOUBLE)
       |         * (sig2 * (CAST(1.0 AS DOUBLE) / n_c + CAST(1.0 AS DOUBLE) / n_t))
       |         * ((sig2 * (CAST(1.0 AS DOUBLE) / n_c + CAST(1.0 AS DOUBLE) / n_t)) + $tau2))
       |      AS log_lambda
       |  FROM stat WHERE sig2 > 0
       |)
       |SELECT strftime(day, '%Y-%m-%d') AS day, n_c, n_t,
       |  round(delta, 4) AS delta_cents,
       |  round(log_lambda, 6) AS log_lambda,
       |  round(least(1.0::DOUBLE, exp(-max(log_lambda) OVER (ORDER BY day
       |    ROWS UNBOUNDED PRECEDING))), 6) AS p_seq
       |FROM lam ORDER BY day""".stripMargin
  }

  /** Probability the ε-greedy target policy puts on the segment's best
    * (highest-mean-reward) action; the remainder spreads uniformly over
    * the segment's other observed actions. */
  val IpsPiBest = "0.9"

  /** Off-policy evaluation (inverse-propensity scoring) of an ε-greedy
    * target policy on the logged event stream — the counterfactual
    * question every recommender change asks of its logs BEFORE an A/B
    * slot opens: "what value would policy π have collected?", answered
    * from data logged under policy μ. Context = user segment
    * (`user_id % 10`), action = event_type, reward = the event's value
    * (money grid: DECIMAL(12,2) → integer cents). The logging propensity
    * is the empirical μ̂(a|seg) = n(seg,a)/n(seg); the target policy
    * plays the segment's best observed action with probability
    * [[IpsPiBest]] and spreads the rest uniformly.
    *
    * With exact empirical propensities the per-segment IPS estimate
    * collapses to the closed form Σ_a π(a|seg)·mean(r | seg, a) — the
    * identity the spec re-derives — and the effective sample size is
    * ESS = 1 / Σ_a π(a|seg)²/n(seg,a), the overlap diagnostic that warns
    * when π leans on thinly-logged actions.
    *
    * Determinism: cell sums are exact integer cents; each per-action
    * term is ONE fixed double expression over exact integers, cast to
    * DECIMAL(24,12) (identical rounding of identical doubles), and the
    * per-segment combine is an exact DECIMAL sum — reorder-safe where a
    * double sum over the action cells would be partition-order-dependent
    * (the retrieval_eval discipline). Best-action ties break on the
    * action name in both engines.
    *
    * Scale shape: one (segment, action)-keyed aggregate over the event
    * scan, one |segments|×|actions|-bounded window for the argmax, one
    * segment-keyed combine — no joins against the corpus, no windows
    * over it; output = |segments| rows.
    */
  def ipsPolicyValue(spark: SparkSession, dir: String,
      piBest: String = IpsPiBest): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cells = Tables(spark, dir, "events")
      .select((col("user_id") % 10).as("segment"), col("event_type"),
        (col("value").cast("decimal(12,2)") * 100).cast("bigint").as("cents"))
      .groupBy("segment", "event_type")
      .agg(count(lit(1)).as("n_a"), sum(col("cents")).as("cents_a"))
    val w = Window.partitionBy("segment")
    val ranked = cells
      .withColumn("mean_a", col("cents_a").cast("double") / (lit(100.0) * col("n_a")))
      .withColumn("k_actions", count(lit(1)).over(w))
      .withColumn("n_seg", sum(col("n_a")).over(w))
      .withColumn("cents_seg", sum(col("cents_a")).over(w))
      .withColumn("rk", row_number().over(
        w.orderBy(col("mean_a").desc, col("event_type"))))
    val terms = ranked
      .withColumn("pi_a",
        when(col("rk") === 1, expr(s"CAST($piBest AS DOUBLE)"))
          .otherwise(expr(s"(CAST(1.0 AS DOUBLE) - CAST($piBest AS DOUBLE))") /
            (col("k_actions") - 1)))
      .withColumn("term_ips",
        expr("CAST(pi_a * mean_a AS DECIMAL(24,12))"))
      .withColumn("term_ess_inv",
        expr("CAST(pi_a * pi_a / n_a AS DECIMAL(24,12))"))
    terms.groupBy("segment")
      .agg(
        first("n_seg").as("n"),
        first("k_actions").as("k_actions"),
        max(when(col("rk") === 1, col("event_type"))).as("best_action"),
        round(expr("first(cents_seg)").cast("double")
          / (lit(100.0) * first("n_seg")), 6).as("v_log"),
        round(expr("CAST(sum(term_ips) AS DOUBLE)"), 6).as("v_ips"),
        round(lit(1.0) / expr("CAST(sum(term_ess_inv) AS DOUBLE)"), 6).as("ess"))
      .orderBy("segment")
  }

  val ipsPolicyValueSql: String = ipsPolicyValueSqlFor(IpsPiBest)

  /** [[ipsPolicyValue]]'s oracle, parameterized by the target policy's
    * greedy mass (the spec runs the uniform-policy identity at 0.2). */
  def ipsPolicyValueSqlFor(piBest: String): String =
    s"""WITH cells AS (
       |  SELECT user_id % 10 AS segment, event_type,
       |    count(*) AS n_a,
       |    sum((value::DECIMAL(12,2) * 100)::BIGINT)::BIGINT AS cents_a
       |  FROM events GROUP BY 1, 2
       |), ranked AS (
       |  SELECT segment, event_type, n_a, cents_a,
       |    cents_a::DOUBLE / (100.0 * n_a) AS mean_a,
       |    count(*) OVER (PARTITION BY segment) AS k_actions,
       |    sum(n_a) OVER (PARTITION BY segment) AS n_seg,
       |    sum(cents_a) OVER (PARTITION BY segment) AS cents_seg,
       |    row_number() OVER (PARTITION BY segment
       |      ORDER BY cents_a::DOUBLE / (100.0 * n_a) DESC, event_type) AS rk
       |  FROM cells
       |), terms AS (
       |  SELECT *,
       |    CASE WHEN rk = 1 THEN CAST($piBest AS DOUBLE)
       |         ELSE (CAST(1.0 AS DOUBLE) - CAST($piBest AS DOUBLE))
       |              / (k_actions - 1) END AS pi_a
       |  FROM ranked
       |)
       |SELECT segment, min(n_seg)::BIGINT AS n, min(k_actions)::BIGINT AS k_actions,
       |  min(CASE WHEN rk = 1 THEN event_type END) AS best_action,
       |  round(min(cents_seg)::DOUBLE / (100.0 * min(n_seg)), 6) AS v_log,
       |  round(CAST(sum(CAST(pi_a * mean_a AS DECIMAL(24,12))) AS DOUBLE), 6) AS v_ips,
       |  round(1.0 / CAST(sum(CAST(pi_a * pi_a / n_a AS DECIMAL(24,12))) AS DOUBLE), 6) AS ess
       |FROM terms
       |GROUP BY segment
       |ORDER BY segment""".stripMargin
}
