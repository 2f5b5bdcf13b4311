package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Event-time windowing over the `events` table — tumbling, sliding, and
  * session windows.
  *
  * Scale notes:
  *  - tumbling/sliding use the built-in `window()` generator → a single
  *    hash aggregate on (window, key), partial-agg'd map-side;
  *  - sessionization is gaps-and-islands with a window partitioned BY USER
  *    (never global): lag → gap flag → running sum → session id. At 100 TB
  *    the shuffle is one exchange on user_id, and AQE handles skewed users.
  *    The same algorithm is the DuckDB oracle, line for line.
  */
object Events {

  val SessionGapSeconds = 1800L // 30 min

  /** Tumbling 1-hour windows per event type: count + value sum. */
  def tumbling(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "events")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("value_sum"))
      .select(date_format(col("w.start"), "yyyy-MM-dd'T'HH:mm:ss").as("window_start"),
        col("event_type"), col("n"), col("value_sum"))
      .orderBy("window_start", "event_type")

  val tumblingSql: String =
    """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%dT%H:%M:%S') AS window_start,
      |  event_type, count(*) AS n, round(sum(value), 2) AS value_sum
      |FROM events
      |GROUP BY 1, 2
      |ORDER BY window_start, event_type""".stripMargin

  /** Sliding windows: 1 hour long, every 15 minutes, per event type. Each
    * event lands in 4 windows; `window()` generates them without a join.
    */
  def sliding(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "events")
      .groupBy(window(col("ts"), "1 hour", "15 minutes").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(date_format(col("w.start"), "yyyy-MM-dd'T'HH:mm:ss").as("window_start"),
        col("event_type"), col("n"))
      .orderBy("window_start", "event_type")

  // Oracle: expand each event into its 4 enclosing sliding windows
  // (time_bucket to the 15-min grid, then offsets 0/15/30/45 back).
  val slidingSql: String =
    """SELECT strftime(ws, '%Y-%m-%dT%H:%M:%S') AS window_start, event_type, count(*) AS n
      |FROM (
      |  SELECT time_bucket(INTERVAL '15 minutes', ts) - k * INTERVAL '15 minutes' AS ws,
      |    event_type
      |  FROM events, (SELECT unnest([0, 1, 2, 3]) AS k))
      |GROUP BY 1, 2
      |ORDER BY window_start, event_type""".stripMargin

  /** Conversion funnel view → click → purchase: per-user first-view time,
    * first click AFTER that view, first purchase AFTER that click — three
    * aggregations on the same user_id key (one partitioning, reused) plus
    * a final scalar combine. The standard sequential-funnel shape without
    * MATCH_RECOGNIZE.
    */
  def conversionFunnel(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir, "events")
    val v = ev.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min(col("ts")).as("tv"))
    val c = ev.filter(col("event_type") === "click")
      .join(v, Seq("user_id")).filter(col("ts") > col("tv"))
      .groupBy("user_id").agg(min(col("ts")).as("tc"))
    val p = ev.filter(col("event_type") === "purchase")
      .join(c, Seq("user_id")).filter(col("ts") > col("tc"))
      .groupBy("user_id").agg(min(col("ts")).as("tp"))
    v.agg(count(lit(1)).as("n_view"))
      .crossJoin(c.agg(count(lit(1)).as("n_view_click")))
      .crossJoin(p.agg(count(lit(1)).as("n_view_click_purchase")))
  }

  val conversionFunnelSql: String =
    """WITH v AS (
      |  SELECT user_id, min(ts) AS tv FROM events
      |  WHERE event_type = 'view' GROUP BY user_id),
      |c AS (
      |  SELECT e.user_id, min(e.ts) AS tc FROM events e JOIN v USING (user_id)
      |  WHERE e.event_type = 'click' AND e.ts > v.tv GROUP BY e.user_id),
      |p AS (
      |  SELECT e.user_id, min(e.ts) AS tp FROM events e JOIN c USING (user_id)
      |  WHERE e.event_type = 'purchase' AND e.ts > c.tc GROUP BY e.user_id)
      |SELECT
      |  (SELECT count(*) FROM v) AS n_view,
      |  (SELECT count(*) FROM c) AS n_view_click,
      |  (SELECT count(*) FROM p) AS n_view_click_purchase""".stripMargin

  /** Exact percentiles of event value per type — `percentile()` (exact,
    * linear interpolation), NOT percentile_approx: the exact form matches
    * DuckDB's quantile_cont definition so the oracle can compare values.
    * At 100 TB the approx sketch is the right default; the exact variant
    * documents the semantics it approximates.
    */
  def valuePercentiles(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "events")
      .groupBy("event_type")
      .agg(
        round(expr("percentile(value, 0.5)"), 4).as("p50"),
        round(expr("percentile(value, 0.95)"), 4).as("p95"),
        count(lit(1)).as("n"))
      .orderBy("event_type")

  val valuePercentilesSql: String =
    """SELECT event_type,
      |  round(quantile_cont(value, 0.5), 4) AS p50,
      |  round(quantile_cont(value, 0.95), 4) AS p95,
      |  count(*) AS n
      |FROM events
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  /** Approximate percentiles — the 100-TB default [[valuePercentiles]]
    * documents: `percentile_approx` (Greenwald–Khanna sketch) is one pass,
    * fixed memory per group, and mergeable across partitions, where the
    * exact form must materialize every group's values. Accuracy 10000 ⇒
    * rank error ≤ 1/10000. Rows-only oracle (sketch internals are
    * engine-specific); the error bound vs the exact form is spec-pinned.
    */
  def valuePercentilesApprox(spark: SparkSession, dir: String,
      accuracy: Int = 10000): DataFrame =
    Tables(spark, dir, "events")
      .groupBy("event_type")
      .agg(
        round(expr(s"percentile_approx(value, 0.5, $accuracy)"), 4).as("p50"),
        round(expr(s"percentile_approx(value, 0.95, $accuracy)"), 4).as("p95"),
        count(lit(1)).as("n"))
      .orderBy("event_type")

  /** Rollup aggregation: event counts and value sums per (event_type, day)
    * with ROLLUP subtotals — per-type totals and the grand total in the
    * same pass (Expand + one hash aggregate; no second scan per level).
    */
  def rollupByTypeDay(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "events")
      .select(col("event_type"), date_format(col("ts"), "yyyy-MM-dd").as("day"), col("value"))
      .rollup("event_type", "day")
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("value_sum"))
      .orderBy(asc_nulls_first("event_type"), asc_nulls_first("day"))

  val rollupSql: String =
    """SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
      |  count(*) AS n, round(sum(value), 2) AS value_sum
      |FROM events
      |GROUP BY ROLLUP(event_type, day)
      |ORDER BY event_type ASC NULLS FIRST, day ASC NULLS FIRST""".stripMargin

  /** Per-day event counts pivoted to one column per event type. The value
    * list is EXPLICIT — `pivot(col)` without it runs an extra
    * distinct-collect job to discover columns and makes the output schema
    * data-dependent, both wrong at 100 TB. With the list it is a single
    * hash aggregate producing N counter columns.
    */
  def eventsPivot(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "events")
      .select(date_format(col("ts"), "yyyy-MM-dd").as("day"), col("event_type"))
      .groupBy("day")
      .pivot("event_type", Seq("view", "click", "purchase", "signup", "error"))
      .agg(count(lit(1)))
      .na.fill(0L)
      .orderBy("day")

  val eventsPivotSql: String =
    """SELECT strftime(ts, '%Y-%m-%d') AS day,
      |  count(CASE WHEN event_type = 'view' THEN 1 END) AS "view",
      |  count(CASE WHEN event_type = 'click' THEN 1 END) AS "click",
      |  count(CASE WHEN event_type = 'purchase' THEN 1 END) AS "purchase",
      |  count(CASE WHEN event_type = 'signup' THEN 1 END) AS "signup",
      |  count(CASE WHEN event_type = 'error' THEN 1 END) AS "error"
      |FROM events
      |GROUP BY 1
      |ORDER BY day""".stripMargin

  /** CUBE aggregation: counts and value sums for every subset of
    * (event_type, day) — per-type, per-day, per-pair, and grand total in
    * ONE pass (Expand ×4 + a single hash aggregate), completing the
    * grouping-sets family next to [[rollupByTypeDay]].
    */
  def cubeByTypeDay(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "events")
      .select(col("event_type"), date_format(col("ts"), "yyyy-MM-dd").as("day"), col("value"))
      .cube("event_type", "day")
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("value_sum"))
      .orderBy(asc_nulls_first("event_type"), asc_nulls_first("day"))

  val cubeSql: String =
    """SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
      |  count(*) AS n, round(sum(value), 2) AS value_sum
      |FROM events
      |GROUP BY CUBE(event_type, day)
      |ORDER BY event_type ASC NULLS FIRST, day ASC NULLS FIRST""".stripMargin

  /** Explicit GROUPING SETS: the per-type and per-day slices ONLY — no
    * pair cell, no grand total — which neither `rollup` (hierarchy) nor
    * `cube` (powerset) expresses. Same Expand-then-one-hash-agg physical
    * shape as the other two, with exactly 2 replicas per row.
    */
  def groupingSetsByTypeDay(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "events")
      .select(col("event_type"), date_format(col("ts"), "yyyy-MM-dd").as("day"), col("value"))
      .groupingSets(Seq(Seq(col("event_type")), Seq(col("day"))),
        col("event_type"), col("day"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("value_sum"))
      .orderBy(asc_nulls_first("event_type"), asc_nulls_first("day"))

  val groupingSetsSql: String =
    """SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
      |  count(*) AS n, round(sum(value), 2) AS value_sum
      |FROM events
      |GROUP BY GROUPING SETS ((event_type), (day))
      |ORDER BY event_type ASC NULLS FIRST, day ASC NULLS FIRST""".stripMargin

  /** Sessionization: per-user sessions split at >30-minute gaps.
    * Gaps-and-islands — lag over (user_id ORDER BY ts), gap flag, running
    * sum as session index — then one aggregate per session.
    */
  def sessions(spark: SparkSession, dir: String): DataFrame = {
    // Exact integer microsecond arithmetic (unix_micros / epoch_us) — a
    // seconds-granularity cast truncates differently across engines at
    // gap boundaries.
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"))
    val prev = lag(col("ts"), 1).over(byUser)
    val isNew = when(prev.isNull ||
      unix_micros(col("ts")) - unix_micros(prev) > SessionGapSeconds * 1000000L, 1)
      .otherwise(0)
    Tables(spark, dir, "events")
      .withColumn("is_new", isNew)
      .withColumn("session_idx", sum(col("is_new")).over(
        Window.partitionBy(col("user_id")).orderBy(col("ts"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "session_idx")
      .agg(
        date_format(min(col("ts")), "yyyy-MM-dd'T'HH:mm:ss").as("session_start"),
        count(lit(1)).as("n_events"),
        round((unix_micros(max(col("ts"))) - unix_micros(min(col("ts")))).cast("double")
          / 1000000.0, 3).as("duration_sec"),
        round(sum(col("value")), 2).as("value_sum"))
      .orderBy("user_id", "session_idx")
  }

  /** Sessionization via Spark's own `session_window()` generator. One
    * hash aggregate with session-merge, no window functions.
    *
    * Boundary semantics differ from [[sessions]] BY CONSTRUCTION: a
    * session_window spans [first, last + gap), so an event exactly `gap`
    * after the previous one starts a NEW session (`>=` split), while the
    * gaps-and-islands formulation splits strictly at `>` — the oracle twin
    * below uses `>=` accordingly. On data without exact-boundary gaps
    * (nanosecond timestamps make one vanishingly unlikely) the two produce
    * identical output, which the spec asserts.
    */
  def sessionsViaSessionWindow(spark: SparkSession, dir: String): DataFrame = {
    val agg = Tables(spark, dir, "events")
      .groupBy(col("user_id"), session_window(col("ts"), s"$SessionGapSeconds seconds").as("w"))
      .agg(
        min(col("ts")).as("t0"), max(col("ts")).as("t1"),
        count(lit(1)).as("n_events"),
        round(sum(col("value")), 2).as("value_sum"))
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("t0"))
    agg.select(col("user_id"),
        row_number().over(byUser).cast("long").as("session_idx"),
        date_format(col("t0"), "yyyy-MM-dd'T'HH:mm:ss").as("session_start"),
        col("n_events"),
        round((unix_micros(col("t1")) - unix_micros(col("t0"))).cast("double")
          / 1000000.0, 3).as("duration_sec"),
        col("value_sum"))
      .orderBy("user_id", "session_idx")
  }

  /** Same gaps-and-islands oracle as [[sessionsSql]], with the `>=` session
    * split matching session_window's [first, last + gap) span.
    */
  val sessionsWindowSql: String =
    """SELECT user_id, session_idx,
      |  strftime(min(ts), '%Y-%m-%dT%H:%M:%S') AS session_start,
      |  count(*) AS n_events,
      |  round((epoch_us(max(ts)) - epoch_us(min(ts)))::double / 1000000.0, 3) AS duration_sec,
      |  round(sum(value), 2) AS value_sum
      |FROM (
      |  SELECT user_id, ts, value,
      |    (sum(is_new) OVER (PARTITION BY user_id ORDER BY ts
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT AS session_idx
      |  FROM (
      |    SELECT user_id, ts, value,
      |      CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
      |        OR epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts)) >= 1800000000
      |        THEN 1 ELSE 0 END AS is_new
      |    FROM events))
      |GROUP BY user_id, session_idx
      |ORDER BY user_id, session_idx""".stripMargin

  val sessionsSql: String =
    """SELECT user_id, session_idx,
      |  strftime(min(ts), '%Y-%m-%dT%H:%M:%S') AS session_start,
      |  count(*) AS n_events,
      |  round((epoch_us(max(ts)) - epoch_us(min(ts)))::double / 1000000.0, 3) AS duration_sec,
      |  round(sum(value), 2) AS value_sum
      |FROM (
      |  SELECT user_id, ts, value,
      |    -- ::BIGINT: DuckDB's sum(int) is HUGEINT, which lands in pandas as
      |    -- float64 and hash-mismatches Spark's int64 even with equal values
      |    (sum(is_new) OVER (PARTITION BY user_id ORDER BY ts
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT AS session_idx
      |  FROM (
      |    SELECT user_id, ts, value,
      |      CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
      |        OR epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts)) > 1800000000
      |        THEN 1 ELSE 0 END AS is_new
      |    FROM events))
      |GROUP BY user_id, session_idx
      |ORDER BY user_id, session_idx""".stripMargin

  /** View-vs-purchase reconciliation per (user, day) — the FULL OUTER join:
    * both sides must survive (users who viewed but never bought AND
    * purchases with no recorded view), which no other join type expresses.
    * Keys are `coalesce`d across sides and missing counts default to 0 —
    * the standard reconciliation projection. Both inputs are aggregates of
    * the same co-partitioned scan; at 100 TB the join shuffles once on the
    * (user_id, day) key both sides already hash on.
    */
  def viewPurchaseRecon(spark: SparkSession, dir: String): DataFrame = {
    def daily(eventType: String, as: String) = Tables(spark, dir, "events")
      .filter(col("event_type") === eventType)
      .groupBy(col("user_id"), date_format(col("ts"), "yyyy-MM-dd").as("day"))
      .agg(count(lit(1)).as(as))
    val v = daily("view", "n_views")
    val p = daily("purchase", "n_purchases")
      .withColumnsRenamed(Map("user_id" -> "p_user_id", "day" -> "p_day"))
    v.join(p, col("user_id") === col("p_user_id") && col("day") === col("p_day"),
        "full_outer")
      .select(
        coalesce(col("user_id"), col("p_user_id")).as("user_id"),
        coalesce(col("day"), col("p_day")).as("day"),
        coalesce(col("n_views"), lit(0L)).as("n_views"),
        coalesce(col("n_purchases"), lit(0L)).as("n_purchases"))
      .orderBy("user_id", "day")
  }

  val viewPurchaseReconSql: String =
    """SELECT coalesce(v.user_id, p.user_id) AS user_id,
      |  coalesce(v.day, p.day) AS day,
      |  coalesce(n_views, 0) AS n_views,
      |  coalesce(n_purchases, 0) AS n_purchases
      |FROM (
      |  SELECT user_id, strftime(ts, '%Y-%m-%d') AS day, count(*) AS n_views
      |  FROM events WHERE event_type = 'view' GROUP BY 1, 2) v
      |FULL OUTER JOIN (
      |  SELECT user_id, strftime(ts, '%Y-%m-%d') AS day, count(*) AS n_purchases
      |  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2) p
      |ON v.user_id = p.user_id AND v.day = p.day
      |ORDER BY user_id, day""".stripMargin

  /** Semi-structured extraction: the `props` column is a JSON string (the
    * universal event-payload escape hatch), and this is the JSON-path
    * scalar-function family the reference lacks entirely (SURVEY §2.1
    * "no array/map/JSON-path functions"). `from_json` with a DECLARED
    * schema — the typed, codegen'd path — not `get_json_object` string
    * probing per field: one parse serves every extracted column, and a
    * malformed payload yields typed nulls instead of a scan failure (the
    * PERMISSIVE contract, same philosophy as the CSV leg's
    * `_corrupt_record`).
    *
    * Scale shape: parse is a pure projection (no shuffle); the aggregate
    * is one hash agg on the event type. At 100 TB the win of the declared
    * schema is that the parser prunes to the requested fields instead of
    * materializing every key of every payload.
    */
  def propsJsonStats(spark: SparkSession, dir: String): DataFrame = {
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField(
        "k", org.apache.spark.sql.types.IntegerType)))
    Tables(spark, dir, "events")
      .select(col("event_type"),
        from_json(col("props"), schema).getField("k").as("k"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        min(col("k")).as("min_k"),
        max(col("k")).as("max_k"),
        sum(col("k")).as("sum_k"))
      .orderBy("event_type")
  }

  /** Strictly-ORDERED conversion funnel — [[conversionFunnel]] counts
    * users who did each action at all; this one requires the sequence:
    * first view strictly before first click strictly before first
    * purchase (the "did the journey actually flow" question; contract is
    * first-occurrence order, not per-session adjacency — documented).
    *
    * One hash aggregate computes all three first-touch times as
    * conditional mins, and one more folds the stage counts: no joins, no
    * windows, no second scan. The whole funnel is two exchanges at any
    * corpus size.
    */
  def orderedFunnel(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir, "events")
    val firsts = ev.groupBy("user_id").agg(
      min(when(col("event_type") === "view", col("ts"))).as("v"),
      min(when(col("event_type") === "click", col("ts"))).as("c"),
      min(when(col("event_type") === "purchase", col("ts"))).as("p"))
    firsts.agg(
      sum(col("v").isNotNull.cast("long")).as("viewed"),
      sum((col("v") < col("c")).cast("long")).as("view_then_click"),
      sum((col("v") < col("c") && col("c") < col("p")).cast("long"))
        .as("full_funnel"))
  }

  val orderedFunnelSql: String =
    """WITH firsts AS (
      |  SELECT user_id,
      |    min(CASE WHEN event_type = 'view' THEN ts END) AS v,
      |    min(CASE WHEN event_type = 'click' THEN ts END) AS c,
      |    min(CASE WHEN event_type = 'purchase' THEN ts END) AS p
      |  FROM events GROUP BY user_id
      |)
      |SELECT count(v)::BIGINT AS viewed,
      |  sum(CASE WHEN v < c THEN 1 ELSE 0 END)::BIGINT AS view_then_click,
      |  sum(CASE WHEN v < c AND c < p THEN 1 ELSE 0 END)::BIGINT AS full_funnel
      |FROM firsts""".stripMargin

  /** Bootstrap replicate count (two md5 digests × eight 4-char windows). */
  val BootReps = 16

  /** One-pass Poisson-bootstrap confidence interval for the per-type mean
    * value — the error bar every metrics dashboard should show and almost
    * none can afford: a classical bootstrap re-samples the corpus B
    * times (B extra scans); the POISSON bootstrap (Chamandy et al.,
    * "Estimating Uncertainty for Massive Data Streams", Google 2012)
    * observes that resampling-with-replacement weights are ≈ iid
    * Poisson(1) per row, so every replicate becomes a WEIGHTED aggregate
    * and all B of them ride ONE scan as extra accumulators. Weights here
    * are the standard Binomial(4, 1/4) Poisson approximation (mean 1),
    * derived from md5(seed:event_id) hex windows — a pure function of the
    * row key, so replicates are deterministic, engine-independent, and
    * backfill-stable (the [[Sampling.shuffleShards]] discipline).
    *
    * Exactness: weighted sums run in DECIMAL(15,2) (the
    * [[hourValueRegression]] moment discipline — no double-sum order
    * drift); the interval is the PERCENTILE bootstrap — order statistics
    * of the 16 replicate means (2nd and 15th ⇒ a ~87.5% central
    * interval), so no variance arithmetic touches unordered doubles:
    * replicate means sort in an array and the bounds are element picks.
    *
    * Scale shape: ONE hash aggregate over one scan with 2 + 2·B
    * accumulators; everything after is a 5-row projection. B scales the
    * accumulator count, never the scan count.
    */
  def bootstrapMeanCi(spark: SparkSession, dir: String): DataFrame = {
    val reps = (0 until BootReps).map { b =>
      val digest = if (b < 8) "md5(concat('bsA:', cast(event_id as string)))"
                   else "md5(concat('bsB:', cast(event_id as string)))"
      val off = (b % 8) * 4 + 1
      val w = (0 until 4).map(i =>
        s"(CASE WHEN substring($digest, ${off + i}, 1) < '4' THEN 1 ELSE 0 END)")
        .mkString(" + ")
      expr(w).as(s"w$b")
    }
    val ev = Tables(spark, dir, "events")
      .select(Seq(col("event_type"), col("value").cast("decimal(15,2)").as("y")) ++ reps: _*)
    val aggs =
      Seq(count(lit(1)).as("n"), sum(col("y")).as("sy")) ++
        (0 until BootReps).flatMap(b => Seq(
          sum(col(s"w$b") * col("y")).as(s"sw$b"),
          sum(col(s"w$b")).cast("long").as(s"nw$b")))
    val means = (0 until BootReps)
      .map(b => s"CAST(sw$b AS DOUBLE) / nw$b").mkString(", ")
    ev.groupBy("event_type").agg(aggs.head, aggs.tail: _*)
      .withColumn("boot", expr(s"array_sort(array($means))"))
      .select(col("event_type"), col("n"),
        (col("sy").cast("double") / col("n")).as("mean"),
        expr("boot[1]").as("boot_lo"),   // 2nd order statistic
        expr("boot[14]").as("boot_hi"))  // 15th
      .orderBy("event_type")
  }

  val bootstrapMeanCiSql: String = {
    val repSums = (0 until BootReps).map { b =>
      val digest = if (b < 8) "md5('bsA:' || event_id::VARCHAR)"
                   else "md5('bsB:' || event_id::VARCHAR)"
      val off = (b % 8) * 4 + 1
      val w = (0 until 4).map(i =>
        s"(CASE WHEN substring($digest, ${off + i}, 1) < '4' THEN 1 ELSE 0 END)")
        .mkString(" + ")
      s"sum(($w) * value::DECIMAL(15,2)) AS sw$b,\n    sum($w)::BIGINT AS nw$b"
    }.mkString(",\n    ")
    val means = (0 until BootReps).map(b => s"sw$b::DOUBLE / nw$b").mkString(", ")
    s"""WITH m AS (
       |  SELECT event_type, count(*) AS n, sum(value::DECIMAL(15,2)) AS sy,
       |    $repSums
       |  FROM events GROUP BY event_type
       |), s AS (
       |  SELECT event_type, n, sy::DOUBLE / n AS mean,
       |    list_sort([$means]) AS boot
       |  FROM m
       |)
       |SELECT event_type, n, mean, boot[2] AS boot_lo, boot[15] AS boot_hi
       |FROM s ORDER BY event_type""".stripMargin
  }

  /** Regex pattern over a user's ordered event-type sequence: a 'v'iew,
    * then a 'c'lick, then a 'p'urchase, with no 'e'rror anywhere between
    * the view and the purchase. */
  val ConversionPattern = "v[^e]*c[^e]*p"

  /** Sequence-pattern matching over per-user event histories — the CEP
    * capability (Flink's MATCH_RECOGNIZE / CEP library, the one event
    * shape [[orderedFunnel]]'s first-timestamp algebra cannot express):
    * ORDER and EXCLUSION constraints together, here "converted without an
    * intervening error". Each user's history becomes a character string
    * (event type → its distinct initial, ordered by (ts, event_id)), and
    * the pattern is a plain regex over that string — declarative,
    * engine-portable, and far more general than hand-rolled min/max
    * timestamp comparisons (any NFA-expressible funnel drops in).
    *
    * Scale shape: one shuffle to group by user; each user's sequence is
    * bounded by their own activity (the per-key bound every
    * sessionization op in this engine already carries), and the regex
    * runs once per user, not per event. The Java and RE2 regex dialects
    * agree on this pattern class (character classes + star — no
    * backtracking pathology).
    */
  def sequenceMatchConversions(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "events")
      .select(col("user_id"), col("ts"), col("event_id"),
        substring(col("event_type"), 1, 1).as("ch"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"),
        array_join(expr(
          "transform(array_sort(collect_list(struct(ts, event_id, ch))), x -> x.ch)"),
          "").as("seq"))
      .select(col("user_id"), col("n_events"),
        col("seq").rlike(ConversionPattern).as("converted"))
      .orderBy("user_id")

  val sequenceMatchConversionsSql: String =
    s"""SELECT user_id, count(*) AS n_events,
       |  regexp_matches(string_agg(substr(event_type, 1, 1), ''
       |    ORDER BY ts, event_id), '$ConversionPattern') AS converted
       |FROM events
       |GROUP BY user_id
       |ORDER BY user_id""".stripMargin

  /** Cohort retention — the day-0 acquisition cohort × days-since
    * retention matrix every growth dashboard is built on: users cohort by
    * their FIRST purchase day, and each later purchase day marks them
    * retained at that offset. n_users(cohort, 0) is the cohort size; the
    * decay across offsets is the retention curve.
    *
    * Scale shape: the first-touch is a plain min aggregate (no window),
    * the activity join shuffles on the same user_id key the aggregate
    * already hashed on, and the matrix is two more hash aggregates —
    * bounded by cohorts × horizon, not by events. All integer counts and
    * day arithmetic in UTC: exact.
    */
  def cohortRetention(spark: SparkSession, dir: String): DataFrame = {
    val purchases = Tables(spark, dir, "events")
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), date_trunc("day", col("ts")).as("day"))
    val firsts = purchases.groupBy("user_id").agg(min(col("day")).as("cohort"))
    purchases.join(firsts, Seq("user_id"))
      .select(col("user_id"), col("cohort"),
        datediff(col("day"), col("cohort")).cast("long").as("days_since"))
      .distinct()
      .groupBy("cohort", "days_since")
      .agg(count(lit(1)).as("n_users"))
      .orderBy("cohort", "days_since")
  }

  val cohortRetentionSql: String =
    """WITH firsts AS (
      |  SELECT user_id, min(date_trunc('day', ts)) AS cohort
      |  FROM events WHERE event_type = 'purchase' GROUP BY user_id
      |), activity AS (
      |  SELECT DISTINCT e.user_id, f.cohort,
      |    date_diff('day', f.cohort, date_trunc('day', e.ts)) AS days_since
      |  FROM events e JOIN firsts f USING (user_id)
      |  WHERE e.event_type = 'purchase'
      |)
      |SELECT cohort, days_since::BIGINT AS days_since, count(*) AS n_users
      |FROM activity GROUP BY cohort, days_since
      |ORDER BY cohort, days_since""".stripMargin

  /** Winsorized (5%-clipped) robust statistics per event type — the
    * outlier-armor aggregation a metrics pipeline runs so one fat-finger
    * value can't drag a mean: values below the 5th / above the 95th
    * ORDER STATISTIC clip to it, then ordinary aggregates run on the
    * clipped column.
    *
    * Boundaries are observed data values (discrete order statistics),
    * not interpolated quantiles — interpolation produces engine-rounded
    * doubles; an order statistic is a value that exists in the data, so
    * the whole query stays exact. And they are found WITHOUT a per-type
    * row sort (the `quality_prune` scale lesson): the per-(type, value)
    * HISTOGRAM aggregates first — the distinct-value universe is bounded
    * by the price grid, not the corpus — and the cumulative window runs
    * over that small histogram; rank k = max(1, n div 20).
    *
    * Scale shape: two hash aggregates + a histogram-sized window +
    * broadcast of 5 boundary rows back over the scan. Clipped money sums
    * in exact DECIMAL; the served mean is a single IEEE division.
    */
  def winsorizedStats(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = Tables(spark, dir, "events").select(col("event_type"), col("value"))
    // eager-materialized: the histogram (small — distinct values, not rows)
    // feeds THREE branches (cumsum→lo, cumsum→hi, totals); without the
    // checkpoint each branch re-scans and re-aggregates the corpus
    val hist = ev.groupBy("event_type", "value").agg(count(lit(1)).as("c"))
      .localCheckpoint()
    val cum = hist.withColumn("cum",
      sum(col("c")).over(Window.partitionBy("event_type").orderBy("value")))
    val tot = hist.groupBy("event_type").agg(sum(col("c")).as("n"))
      .withColumn("k", greatest(lit(1L), expr("n div 20")))
    val withK = cum.join(tot, Seq("event_type"))
    val lo = withK.filter(col("cum") >= col("k"))
      .groupBy("event_type").agg(min(col("value")).as("lo"))
    val hi = withK.filter(col("cum") >= col("n") - col("k") + 1)
      .groupBy("event_type").agg(min(col("value")).as("hi"))
    val bounds = lo.join(hi, Seq("event_type"))
    val clipped = ev.join(broadcast(bounds), Seq("event_type"))
      .withColumn("cv", greatest(col("lo"), least(col("hi"), col("value"))))
    clipped.groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum((col("value") < col("lo")).cast("long")).as("n_clipped_lo"),
        sum((col("value") > col("hi")).cast("long")).as("n_clipped_hi"),
        min(col("lo")).as("p05"),
        min(col("hi")).as("p95"),
        (sum(col("cv").cast("decimal(15,2)")).cast("double") / count(lit(1)))
          .as("winsorized_mean"))
      .orderBy("event_type")
  }

  val winsorizedStatsSql: String =
    """WITH hist AS (
      |  SELECT event_type, value, count(*) AS c
      |  FROM events GROUP BY event_type, value
      |), cum AS (
      |  SELECT event_type, value, c,
      |    sum(c) OVER (PARTITION BY event_type ORDER BY value
      |      ROWS UNBOUNDED PRECEDING) AS cum
      |  FROM hist
      |), tot AS (
      |  SELECT event_type, sum(c) AS n, greatest(1, sum(c) // 20) AS k
      |  FROM hist GROUP BY event_type
      |), lo AS (
      |  SELECT cum.event_type, min(value) AS lo
      |  FROM cum JOIN tot USING (event_type)
      |  WHERE cum >= k GROUP BY cum.event_type
      |), hi AS (
      |  SELECT cum.event_type, min(value) AS hi
      |  FROM cum JOIN tot USING (event_type)
      |  WHERE cum >= n - k + 1 GROUP BY cum.event_type
      |)
      |SELECT e.event_type, count(*) AS n,
      |  sum(CASE WHEN e.value < lo THEN 1 ELSE 0 END)::BIGINT AS n_clipped_lo,
      |  sum(CASE WHEN e.value > hi THEN 1 ELSE 0 END)::BIGINT AS n_clipped_hi,
      |  min(lo) AS p05, min(hi) AS p95,
      |  CAST(sum(greatest(lo, least(hi, e.value))::DECIMAL(15,2)) AS DOUBLE)
      |    / count(*) AS winsorized_mean
      |FROM events e JOIN lo USING (event_type) JOIN hi USING (event_type)
      |GROUP BY e.event_type
      |ORDER BY e.event_type""".stripMargin

  /** Median-absolute-deviation robust outliers per event type — the
    * scale-free cousin of [[graft.ops.TimeSeries.dailyCountAnomalies]]'
    * 2σ rule: med = lower median, MAD = lower median of |x − med|, a row
    * is an outlier when |x − med| > 3·MAD. Medians are OBSERVED order
    * statistics off a value histogram (no interpolation, no engine
    * quantile rounding — the [[winsorizedStats]] discipline), and every
    * comparison is plain IEEE arithmetic on observed doubles, so the
    * counts are cross-engine exact.
    *
    * Scale shape: ONE corpus scan builds the per-(type, value) histogram;
    * the median cumsum, the DEVIATION histogram (re-keying the value
    * histogram by |v − med| — no second scan), its cumsum, and the
    * outlier count all run on distinct VALUES, not rows. The histogram is
    * localCheckpointed: four consumers, one materialization.
    */
  def valueMadOutliers(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hist = Tables(spark, dir, "events")
      .groupBy(col("event_type"), col("value")).agg(count(lit(1)).as("c"))
      .localCheckpoint()
    val tot = hist.groupBy("event_type").agg(sum(col("c")).as("n"))
    def lowerMedian(h: DataFrame, keyCol: String): DataFrame = {
      // smallest observed value whose cumulative count reaches ceil(n/2)
      val cum = h.withColumn("cum", sum(col("c")).over(
        Window.partitionBy("event_type").orderBy(keyCol)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      cum.join(tot, Seq("event_type"))
        .filter(col("cum") * 2 >= col("n"))
        .groupBy("event_type").agg(min(col(keyCol)).as("m"))
    }
    val med = lowerMedian(hist, "value").withColumnRenamed("m", "med")
    val devHist = hist.join(broadcast(med), Seq("event_type"))
      .groupBy(col("event_type"), abs(col("value") - col("med")).as("value"))
      .agg(sum(col("c")).as("c"))
    val mad = lowerMedian(devHist, "value").withColumnRenamed("m", "mad")
    hist.join(broadcast(med), Seq("event_type"))
      .join(broadcast(mad), Seq("event_type"))
      .groupBy("event_type")
      .agg(sum(col("c")).as("n"),
        min(col("med")).as("med"), min(col("mad")).as("mad"),
        sum(when(abs(col("value") - col("med")) > col("mad") * 3.0, col("c"))
          .otherwise(lit(0L))).as("n_outliers"))
      .orderBy("event_type")
  }

  val valueMadOutliersSql: String =
    """WITH hist AS (
      |  SELECT event_type, value, count(*) AS c FROM events GROUP BY 1, 2
      |), tot AS (
      |  SELECT event_type, sum(c) AS n FROM hist GROUP BY 1
      |), vcum AS (
      |  SELECT event_type, value, c,
      |    sum(c) OVER (PARTITION BY event_type ORDER BY value
      |      ROWS UNBOUNDED PRECEDING) AS cum
      |  FROM hist
      |), med AS (
      |  SELECT v.event_type, min(value) AS med
      |  FROM vcum v JOIN tot USING (event_type)
      |  WHERE cum * 2 >= n GROUP BY v.event_type
      |), dev AS (
      |  SELECT h.event_type, abs(h.value - med) AS value, sum(c) AS c
      |  FROM hist h JOIN med USING (event_type) GROUP BY 1, 2
      |), dcum AS (
      |  SELECT event_type, value, c,
      |    sum(c) OVER (PARTITION BY event_type ORDER BY value
      |      ROWS UNBOUNDED PRECEDING) AS cum
      |  FROM dev
      |), mad AS (
      |  SELECT d.event_type, min(value) AS mad
      |  FROM dcum d JOIN tot USING (event_type)
      |  WHERE cum * 2 >= n GROUP BY d.event_type
      |)
      |SELECT h.event_type, sum(c)::BIGINT AS n, min(med) AS med, min(mad) AS mad,
      |  sum(CASE WHEN abs(h.value - med) > mad * 3.0 THEN c ELSE 0 END)::BIGINT
      |    AS n_outliers
      |FROM hist h JOIN med USING (event_type) JOIN mad USING (event_type)
      |GROUP BY h.event_type
      |ORDER BY h.event_type""".stripMargin

  /** Conversion-latency histogram — how long from first view to first
    * purchase, in half-hour buckets: the time-to-convert distribution a
    * growth team reads next to [[orderedFunnel]]'s stage counts. Latency
    * in whole seconds (epoch-floor difference — identical truncation in
    * both engines), bucketed by integer division; converting users only
    * (first view strictly before first purchase).
    *
    * Scale shape: one conditional-min hash agg per user, one projection,
    * one bucket agg — the [[orderedFunnel]] plan with a histogram tail.
    */
  def conversionLatency(spark: SparkSession, dir: String): DataFrame = {
    val firsts = Tables(spark, dir, "events").groupBy("user_id").agg(
      min(when(col("event_type") === "view", col("ts"))).as("v"),
      min(when(col("event_type") === "purchase", col("ts"))).as("p"))
    firsts.filter(col("v") < col("p"))
      .select((col("p").cast("long") - col("v").cast("long")).as("sec"))
      .groupBy(expr("sec div 1800").as("bucket"))
      .agg(count(lit(1)).as("n_users"),
        min(col("sec")).as("min_sec"), max(col("sec")).as("max_sec"))
      .orderBy("bucket")
  }

  val conversionLatencySql: String =
    """WITH firsts AS (
      |  SELECT user_id,
      |    min(CASE WHEN event_type = 'view' THEN ts END) AS v,
      |    min(CASE WHEN event_type = 'purchase' THEN ts END) AS p
      |  FROM events GROUP BY user_id
      |), lat AS (
      |  SELECT date_diff('second', v, p) AS sec FROM firsts WHERE v < p
      |)
      |SELECT sec // 1800 AS bucket, count(*) AS n_users,
      |  min(sec)::BIGINT AS min_sec, max(sec)::BIGINT AS max_sec
      |FROM lat GROUP BY bucket ORDER BY bucket""".stripMargin

  /** First-order behavioral transition matrix — how users MOVE between
    * event types (the Markov-chain view of the clickstream; "error" rows
    * with a high self-transition share are retry loops, "view→purchase"
    * share is the direct-conversion rate). Per user, each event pairs
    * with its successor via one lag window; counts aggregate per
    * (prev, next) and the per-prev share is a single division of exact
    * integers.
    *
    * Scale shape: one per-user window (high-cardinality key, bounded
    * per-user history — the [[sessions]] exchange), one hash agg bounded
    * by |event types|², a broadcast-sized totals join.
    */
  def eventTransitions(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val trans = Tables(spark, dir, "events")
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("next_type", lead(col("event_type"), 1).over(w))
      .filter(col("next_type").isNotNull)
      .groupBy(col("event_type").as("prev"), col("next_type").as("next"))
      .agg(count(lit(1)).as("n"))
      // eager: the |types|²-row matrix feeds the totals branch AND the
      // join probe — without this both re-run the corpus-wide lag window
      .localCheckpoint()
    val totals = trans.groupBy("prev").agg(sum(col("n")).as("n_prev"))
    trans.join(broadcast(totals), Seq("prev"))
      .select(col("prev"), col("next"), col("n"),
        (col("n").cast("double") / col("n_prev")).as("share"))
      .orderBy("prev", "next")
  }

  val eventTransitionsSql: String =
    """WITH seq AS (
      |  SELECT event_type AS prev,
      |    lead(event_type, 1) OVER (PARTITION BY user_id
      |      ORDER BY ts, event_id) AS next
      |  FROM events
      |), trans AS (
      |  SELECT prev, next, count(*) AS n FROM seq
      |  WHERE next IS NOT NULL GROUP BY prev, next
      |), totals AS (
      |  SELECT prev, sum(n)::BIGINT AS n_prev FROM trans GROUP BY prev
      |)
      |SELECT t.prev, t.next, t.n, t.n::DOUBLE / tt.n_prev AS share
      |FROM trans t JOIN totals tt USING (prev)
      |ORDER BY prev, next""".stripMargin


  /** Behavioral trigrams with a Markov-1 lift — the order test on top of
    * [[eventTransitions]]: for each (a→b→c) path, observed count against
    * the first-order prediction E[abc] = n(ab)·n(bc)/n(b→·). Lift ≈ 1
    * everywhere says user behavior is memoryless (the transition matrix
    * suffices); systematic lift exposes genuine 3-step patterns worth a
    * sequence model. Top paths by observed count, ties by path.
    *
    * Scale shape: ONE per-user lag window produces both lookaheads; the
    * trigram, bigram, and context tables are all |types|ᵏ-bounded
    * aggregates of it (localCheckpoint — the [[eventTransitions]]
    * convention — so the corpus window runs once); lift is one division
    * over exact integers.
    */
  def eventTrigrams(spark: SparkSession, dir: String, k: Int = 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val seq = Tables(spark, dir, "events")
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type").as("a"))
      .withColumn("b", lead(col("a"), 1).over(w))
      .withColumn("c", lead(col("a"), 2).over(w))
      .filter(col("b").isNotNull)
      .localCheckpoint()
    val tri = seq.filter(col("c").isNotNull)
      .groupBy("a", "b", "c").agg(count(lit(1)).as("n3"))
    val bi = seq.groupBy("a", "b").agg(count(lit(1)).as("n2"))
    val ctx = bi.groupBy(col("a").as("b_ctx")).agg(sum("n2").as("nb"))
    tri
      .join(broadcast(bi.select(col("a"), col("b"), col("n2").as("n_ab"))), Seq("a", "b"))
      .join(broadcast(bi.select(col("a").as("b"), col("b").as("c"),
        col("n2").as("n_bc"))), Seq("b", "c"))
      .join(broadcast(ctx), col("b") === col("b_ctx"))
      .select(col("a"), col("b"), col("c"), col("n3"),
        round(col("n_ab").cast("double") * col("n_bc").cast("double")
          / col("nb").cast("double"), 6).as("markov1_expected"),
        round(col("n3").cast("double") * col("nb").cast("double")
          / (col("n_ab").cast("double") * col("n_bc").cast("double")), 6).as("lift"))
      .orderBy(desc("n3"), col("a"), col("b"), col("c"))
      .limit(k)
  }

  val eventTrigramsSql: String =
    """WITH seq AS (
      |  SELECT event_type AS a,
      |    lead(event_type, 1) OVER w AS b,
      |    lead(event_type, 2) OVER w AS c
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      |), tri AS (
      |  SELECT a, b, c, count(*) AS n3 FROM seq
      |  WHERE b IS NOT NULL AND c IS NOT NULL GROUP BY 1, 2, 3
      |), bi AS (
      |  SELECT a, b, count(*) AS n2 FROM seq WHERE b IS NOT NULL GROUP BY 1, 2
      |), ctx AS (
      |  SELECT a AS b_ctx, sum(n2)::BIGINT AS nb FROM bi GROUP BY 1
      |)
      |SELECT t.a, t.b, t.c, n3,
      |  round(ab.n2::DOUBLE * bc.n2::DOUBLE / ctx.nb::DOUBLE, 6) AS markov1_expected,
      |  round(n3::DOUBLE * ctx.nb::DOUBLE / (ab.n2::DOUBLE * bc.n2::DOUBLE), 6) AS lift
      |FROM tri t
      |JOIN bi ab ON ab.a = t.a AND ab.b = t.b
      |JOIN bi bc ON bc.a = t.b AND bc.b = t.c
      |JOIN ctx ON ctx.b_ctx = t.b
      |ORDER BY n3 DESC, t.a, t.b, t.c
      |LIMIT 20""".stripMargin

  /** Debounce window: events of the same (user, type) closer than this
    * are one burst; only the burst's first event survives. */
  val DebounceMicros = 60L * 1000000L

  /** Telemetry debounce — collapse rapid-fire duplicate signals: within
    * each (user, type) stream, an event starts a new BURST iff it arrives
    * more than [[DebounceMicros]] after its predecessor; only burst
    * leaders survive (the client-retry / double-click / at-least-once
    * scrub every ingest pipeline runs before counting anything). Exact
    * integer gap arithmetic; the per-key report carries total, kept, and
    * the largest burst.
    *
    * Scale shape: one lag window per (user, type) — partitions bounded by
    * a key's own activity (the [[graft.ops.Analytics.userEventGaps]]
    * discipline), then a hash aggregate; no corpus-wide sort.
    */
  def debounceEvents(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id", "event_type")
      .orderBy(col("ts"), col("event_id"))
    val marked = Tables(spark, dir, "events")
      .withColumn("gap_us",
        unix_micros(col("ts")) - lag(unix_micros(col("ts")), 1).over(w))
      .withColumn("leader",
        col("gap_us").isNull || col("gap_us") > DebounceMicros)
    // burst id = running count of leaders; burst size = rows per burst
    val withBurst = marked
      .withColumn("burst",
        sum(when(col("leader"), 1L).otherwise(0L)).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    withBurst
      .groupBy("user_id", "event_type", "burst")
      .agg(count(lit(1)).as("burst_n"))
      .groupBy("user_id", "event_type")
      .agg(sum(col("burst_n")).as("n_total"),
        count(lit(1)).as("n_kept"),
        max(col("burst_n")).as("max_burst"))
      .filter(col("n_total") > col("n_kept")) // report only keys that deduped
      .orderBy("user_id", "event_type")
  }

  val debounceEventsSql: String =
    s"""WITH g AS (
      |  SELECT user_id, event_type, ts, event_id,
      |    CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
      |           OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > $DebounceMicros
      |         THEN 1 ELSE 0 END AS leader
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id, event_type ORDER BY ts, event_id)
      |), b AS (
      |  SELECT user_id, event_type,
      |    sum(leader) OVER (PARTITION BY user_id, event_type
      |      ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS burst
      |  FROM g
      |), per_burst AS (
      |  SELECT user_id, event_type, burst, count(*) AS burst_n
      |  FROM b GROUP BY 1, 2, 3
      |)
      |SELECT user_id, event_type, sum(burst_n)::BIGINT AS n_total,
      |  count(*) AS n_kept, max(burst_n) AS max_burst
      |FROM per_burst GROUP BY 1, 2
      |HAVING sum(burst_n) > count(*)
      |ORDER BY user_id, event_type""".stripMargin

  /** Per-user feature assembly — the feature-store materialization job:
    * every behavioral feature a downstream model consumes (activity
    * volume, breadth, recency span, intensity, monetary aggregates)
    * computed in ONE keyed aggregate pass, not one job per feature. The
    * two exact distinct-counts ride the same aggregate via Expand (the
    * [[graft.ops.TableChecks]] profile discipline). Intensity is
    * integer-exact (×1000 fixed point); money stays DECIMAL until the
    * final rounded cast.
    *
    * Scale shape: one shuffle on user_id (the key the corpus already
    * groups well on), map-side partials for everything non-distinct. A
    * 100-TB feature refresh is one job.
    */
  def userFeatureStore(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "events")
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("event_type")).as("n_types"),
        countDistinct(to_date(col("ts"))).as("active_days"),
        (datediff(max(to_date(col("ts"))), min(to_date(col("ts")))) + 1)
          .cast("long").as("span_days"),
        round(sum(col("value").cast("decimal(15,2)")), 2)
          .cast("double").as("total_value"),
        round(max(col("value")), 2).as("max_value"))
      .withColumn("intensity_x1000",
        expr("(1000 * n_events) div active_days"))
      .orderBy("user_id")

  val userFeatureStoreSql: String =
    """SELECT user_id, count(*) AS n_events,
      |  count(DISTINCT event_type) AS n_types,
      |  count(DISTINCT ts::DATE) AS active_days,
      |  date_diff('day', min(ts::DATE), max(ts::DATE)) + 1 AS span_days,
      |  round(sum(value::DECIMAL(15,2)), 2)::DOUBLE AS total_value,
      |  round(max(value), 2) AS max_value,
      |  (1000 * count(*)) // count(DISTINCT ts::DATE) AS intensity_x1000
      |FROM events GROUP BY user_id
      |ORDER BY user_id""".stripMargin

  /** Grouped least-squares regression — value against hour-of-day per
    * event type (the "is there a time-of-day effect" screen): slope and
    * intercept from the closed-form normal equations, computed EXACTLY.
    * The built-in `regr_slope` accumulates floating moments in
    * partition order (not reproducible across engines, or across two
    * runs at different parallelism); here every aggregate moment is an
    * integer or exact DECIMAL (Sx, Sxx integer; Sy, Sxy decimal), and
    * the slope/intercept are fixed scalar expression trees over those
    * exact moments — IEEE ops on identical inputs in identical order are
    * bit-identical everywhere, because reassociation only ever enters
    * through SUM ordering, which the exact moments eliminate.
    *
    * Scale shape: one hash aggregate (map-side partials), output one row
    * per group. The regression itself costs nothing beyond the sums.
    */
  def hourValueRegression(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir, "events")
      .select(col("event_type"), hour(col("ts")).cast("long").as("x"),
        col("value").cast("decimal(15,2)").as("y"))
    ev.groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(col("x")).as("sx"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y")).as("sy"),
        sum(col("y") * col("x")).as("sxy"))
      .withColumn("slope",
        (col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
          (col("n") * col("sxx") - col("sx") * col("sx")).cast("double"))
      .select(col("event_type"), col("n"), col("slope"),
        ((col("sy").cast("double") - col("slope") * col("sx").cast("double"))
          / col("n")).as("intercept"))
      .orderBy("event_type")
  }

  val hourValueRegressionSql: String =
    """WITH m AS (
      |  SELECT event_type, count(*) AS n,
      |    sum(date_part('hour', ts))::BIGINT AS sx,
      |    sum(date_part('hour', ts) * date_part('hour', ts))::BIGINT AS sxx,
      |    sum(value::DECIMAL(15,2)) AS sy,
      |    sum(value::DECIMAL(15,2) * date_part('hour', ts)) AS sxy
      |  FROM events GROUP BY event_type
      |)
      |SELECT event_type, n, slope,
      |  (sy::DOUBLE - slope * sx::DOUBLE) / n AS intercept
      |FROM (
      |  SELECT *,
      |    (n * sxy - sx * sy)::DOUBLE / (n * sxx - sx * sx)::DOUBLE AS slope
      |  FROM m)
      |ORDER BY event_type""".stripMargin

  val propsJsonStatsSql: String =
    """SELECT event_type, count(*) AS n, min(k) AS min_k, max(k) AS max_k,
      |  sum(k)::BIGINT AS sum_k
      |FROM (SELECT event_type, json_extract(props, '$.k')::INT AS k
      |      FROM events)
      |GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Attribution lookback: touches within 24 h before the conversion. */
  val AttributionLookbackSeconds = 86400L

  /** Multi-touch attribution — the marketing-analytics credit split: every
    * `purchase` distributes one unit of credit across the SAME USER's
    * preceding non-purchase touches inside a 24 h lookback, under three
    * standard models at once: LINEAR (1/n each), RANK-DECAY (most recent
    * touch weight n down to 1 — the discrete time-decay), and U-SHAPED
    * (40% first touch, 40% last, 20% split over the middle — the
    * "position-based" model). Per-channel totals let a budget owner
    * compare first-vs-last-touch bias in one table.
    *
    * Credits are integer PARTS-PER-MILLION (`1000000 div n` etc. — the
    * `skew_report` permille discipline, scaled), so every per-touch credit
    * and every per-channel sum is exact integer arithmetic — no
    * float-summation order to disagree across engines. The model identity
    * Σ_pos weights = n(n+1)/2 makes rank-decay's `2·w·10⁶ div (n(n+1))`
    * sum to ≤ 10⁶ per conversion with only truncation loss.
    *
    * Scale shape: conversions⋈touches is ONE equi-join on user_id with the
    * lookback as a post-filter (per-user fanout is bounded by per-user
    * activity — the [[orderedFunnel]] exchange, AQE-skew-safe); `pos`/`n`
    * ride ONE window partitioned by conversion (a per-conversion frame,
    * never global); the channel rollup is a domain-bounded hash aggregate.
    */
  def multiTouchAttribution(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir, "events")
    val conv = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("conv_id"), col("user_id"),
        unix_micros(col("ts")).as("conv_us"))
    val touch = ev.filter(col("event_type") =!= "purchase")
      .select(col("user_id"), col("event_id").as("touch_id"),
        col("event_type").as("channel"), unix_micros(col("ts")).as("touch_us"))
    val pairs = conv.join(touch, Seq("user_id"))
      .filter(col("touch_us") < col("conv_us") &&
        col("conv_us") - col("touch_us") <= AttributionLookbackSeconds * 1000000L)
    val wPos = Window.partitionBy("conv_id")
      .orderBy(desc("touch_us"), desc("touch_id"))
    val scored = pairs
      .withColumn("pos", row_number().over(wPos).cast("long"))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("conv_id")))
    scored
      .select(col("channel"), col("conv_id"),
        expr("1000000L div n").as("lin"),
        expr("((n - pos + 1L) * 2000000L) div (n * (n + 1L))").as("rnk"),
        expr("""CASE WHEN n = 1 THEN 1000000L WHEN n = 2 THEN 500000L
                WHEN pos = 1 OR pos = n THEN 400000L
                ELSE 200000L div (n - 2L) END""").as("ush"))
      .groupBy("channel")
      .agg(
        count(lit(1)).as("n_touches"),
        countDistinct(col("conv_id")).as("n_convs"),
        sum(col("lin")).as("linear_ppm"),
        sum(col("rnk")).as("rank_decay_ppm"),
        sum(col("ush")).as("u_shape_ppm"))
      .orderBy("channel")
  }

  val multiTouchAttributionSql: String =
    s"""WITH conv AS (
       |  SELECT event_id AS conv_id, user_id, epoch_us(ts) AS conv_us
       |  FROM events WHERE event_type = 'purchase'
       |), touch AS (
       |  SELECT user_id, event_id AS touch_id, event_type AS channel,
       |    epoch_us(ts) AS touch_us
       |  FROM events WHERE event_type <> 'purchase'
       |), pairs AS (
       |  SELECT conv_id, channel,
       |    row_number() OVER (PARTITION BY conv_id
       |                       ORDER BY touch_us DESC, touch_id DESC) AS pos,
       |    count(*) OVER (PARTITION BY conv_id) AS n
       |  FROM conv JOIN touch USING (user_id)
       |  WHERE touch_us < conv_us
       |    AND conv_us - touch_us <= ${AttributionLookbackSeconds}000000
       |)
       |SELECT channel, count(*) AS n_touches, count(DISTINCT conv_id) AS n_convs,
       |  sum(1000000 // n)::BIGINT AS linear_ppm,
       |  sum(((n - pos + 1) * 2000000) // (n * (n + 1)))::BIGINT AS rank_decay_ppm,
       |  sum(CASE WHEN n = 1 THEN 1000000 WHEN n = 2 THEN 500000
       |           WHEN pos = 1 OR pos = n THEN 400000
       |           ELSE 200000 // (n - 2) END)::BIGINT AS u_shape_ppm
       |FROM pairs GROUP BY channel ORDER BY channel""".stripMargin

  /** Channel → bitmask bit for the Shapley exposure game, alphabetical
    * (the non-purchase event types). Shared by the Spark literal table
    * and the generated oracle VALUES. */
  private[graft] val ShapleyChannels: Seq[(String, Int)] =
    Seq("click" -> 1, "error" -> 2, "signup" -> 4, "view" -> 8)

  /** (channel, bit, subset-without-bit, |S|!·(n−|S|−1)! numerator) rows —
    * Shapley weights for n = 4 as EXACT integers over the common
    * denominator 4! = 24, so the only float ops are the v(S) rate
    * divisions. */
  private def shapleyGrid: Seq[(String, Int, Int, Int)] = {
    val numByCard = Map(0 -> 6, 1 -> 2, 2 -> 2, 3 -> 6) // |S|!·(3−|S|)!
    for {
      (ch, bit) <- ShapleyChannels
      s <- 0 until 16 if (s & bit) == 0
    } yield (ch, bit, s, numByCard(Integer.bitCount(s)))
  }

  /** Shapley-value channel attribution — the principled upgrade over
    * [[multiTouchAttribution]]'s positional rules (linear / rank-decay /
    * U-shape are conventions; the Shapley value is the unique allocation
    * satisfying efficiency + symmetry + dummy + additivity): the game's
    * players are channels, a user's coalition is the SET of channels
    * they touched before first purchase, v(S) = conversion rate of users
    * with exposure set exactly S (0 for unobserved sets — documented),
    * and φ_i = Σ_{S∌i} |S|!(n−|S|−1)!/n! · (v(S∪i) − v(S)).
    *
    * Exactness: exposure sets fold to integer bitmasks, (n_S, c_S) are
    * exact counts, the Shapley weights are exact integers over the
    * common denominator 4! (so each term is ONE double expression
    * num·(c₁/n₁ − c₀/n₀)), terms cross the per-channel sum on the
    * DECIMAL(24,12) grid (reorder-safe), and the final /24 + 6-dp round
    * is one division. The efficiency identity Σφ = v(full) − v(∅) is
    * spec-pinned.
    *
    * Scale shape: everything corpus-sized is keyed on user_id — the
    * first-purchase aggregate, the pre-conversion touch filter (a
    * user-keyed join), the distinct (user, bit) reduction, and the mask
    * aggregate + converter outer join; after that the problem is a
    * 16-row set table and a 32-row literal weight grid (mechanism
    * constants, corpus-independent). Output = |channels| rows.
    */
  def shapleyAttribution(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables(spark, dir, "events")
    val firstConv = ev.filter(col("event_type") === "purchase")
      .groupBy("user_id").agg(min(unix_micros(col("ts"))).as("cus"))
    val bit = ShapleyChannels.tail.foldLeft(
      when(col("event_type") === ShapleyChannels.head._1,
        lit(ShapleyChannels.head._2))) {
      case (acc, (ch, b)) => acc.when(col("event_type") === ch, lit(b))
    }
    val touches = ev.filter(col("event_type") =!= "purchase")
      .select(col("user_id"), bit.as("bit"), unix_micros(col("ts")).as("us"))
      .join(firstConv, Seq("user_id"), "left")
      .filter(col("cus").isNull || col("us") < col("cus"))
      .select("user_id", "bit").distinct()
    val masks = touches.groupBy("user_id").agg(sum(col("bit")).as("mask"))
      .join(firstConv.select(col("user_id"), lit(true).as("conv")),
        Seq("user_id"), "full_outer")
      .select(coalesce(col("mask"), lit(0L)).as("mask"),
        coalesce(col("conv"), lit(false)).as("conv"))
    val sets = masks.groupBy("mask").agg(
      count(lit(1)).as("n"),
      sum(when(col("conv"), 1L).otherwise(0L)).as("c"))
    val grid = shapleyGrid.toDF("channel", "bit", "smask", "num")
    grid
      .join(broadcast(sets.select(col("mask").as("smask"),
        col("n").as("n0"), col("c").as("c0"))), Seq("smask"), "left")
      .join(broadcast(sets.select(col("mask").as("m1"),
        col("n").as("n1"), col("c").as("c1"))),
        col("m1") === col("smask") + col("bit"), "left")
      .withColumn("term", expr(
        """CAST(num * (coalesce(CAST(c1 AS DOUBLE) / n1, CAST(0.0 AS DOUBLE))
          |  - coalesce(CAST(c0 AS DOUBLE) / n0, CAST(0.0 AS DOUBLE)))
          |  AS DECIMAL(24,12))""".stripMargin))
      .groupBy("channel")
      .agg(expr("round(CAST(sum(term) AS DOUBLE) / 24.0, 6)").as("shapley"))
      .orderBy("channel")
  }

  val shapleyAttributionSql: String = {
    val values = (for {
      (ch, bit) <- ShapleyChannels
      s <- 0 until 16 if (s & bit) == 0
    } yield s"('$ch', $bit, $s, ${Map(0 -> 6, 1 -> 2, 2 -> 2, 3 -> 6)(Integer.bitCount(s))})")
      .mkString(",\n       |    ")
    s"""WITH fc AS (
       |  SELECT user_id, min(epoch_us(ts)) AS cus FROM events
       |  WHERE event_type = 'purchase' GROUP BY 1
       |), tb AS (
       |  SELECT DISTINCT e.user_id,
       |    CASE e.event_type WHEN 'click' THEN 1 WHEN 'error' THEN 2
       |         WHEN 'signup' THEN 4 WHEN 'view' THEN 8 END AS bit
       |  FROM events e LEFT JOIN fc ON fc.user_id = e.user_id
       |  WHERE e.event_type <> 'purchase'
       |    AND (fc.cus IS NULL OR epoch_us(e.ts) < fc.cus)
       |), um AS (
       |  SELECT user_id, sum(bit)::BIGINT AS mask FROM tb GROUP BY 1
       |), allu AS (
       |  SELECT coalesce(um.mask, 0) AS mask,
       |    (fc.user_id IS NOT NULL) AS conv
       |  FROM um FULL JOIN fc ON fc.user_id = um.user_id
       |), sets AS (
       |  SELECT mask, count(*)::BIGINT AS n,
       |    sum(CASE WHEN conv THEN 1 ELSE 0 END)::BIGINT AS c
       |  FROM allu GROUP BY mask
       |), w(channel, bit, smask, num) AS (
       |  VALUES $values
       |), terms AS (
       |  SELECT channel,
       |    CAST(num * (coalesce(CAST(c1.c AS DOUBLE) / c1.n, CAST(0.0 AS DOUBLE))
       |      - coalesce(CAST(c0.c AS DOUBLE) / c0.n, CAST(0.0 AS DOUBLE)))
       |      AS DECIMAL(24,12)) AS term
       |  FROM w
       |  LEFT JOIN sets c0 ON c0.mask = w.smask
       |  LEFT JOIN sets c1 ON c1.mask = w.smask + w.bit
       |)
       |SELECT channel, round(CAST(sum(term) AS DOUBLE) / 24.0, 6) AS shapley
       |FROM terms GROUP BY channel ORDER BY channel""".stripMargin
  }

  /** Fixed-point iterations for the Markov absorption probability. The
    * released statistic is DEFINED as the K-step value (identical on
    * both engines whatever the convergence state); at K = 200 the
    * residual of a substochastic channel chain is ≪ the 6-dp release
    * grid anyway. */
  val MarkovAbsorbSteps = 200

  /** State indices for the removal-effect chain: 1 = start, 2..5 = the
    * [[ShapleyChannels]] in order, 6 = the conv absorber (null absorbs
    * implicitly as the substochastic remainder). */
  private val MarkovStates = 5

  /** The p_i ← Σ_j t_ij·p_j + t_i6 recurrence, generated ONCE and shared
    * by the Spark fold and the oracle's recursive CTE (`ref` is how the
    * previous state is spelled: `acc.` / `r.`); removing channel `pin`
    * pins its probability to zero — "any visit to the removed channel
    * fails", which is exactly the removal-effect semantics. */
  private def markovStep(ref: String, pin: Int): Seq[String] =
    (1 to MarkovStates).map { i =>
      if (i == pin) "CAST(0.0 AS DOUBLE)"
      else (1 to MarkovStates).map(j => s"t$i$j * $ref" + s"p$j")
        .mkString("", " + ", s" + t${i}6")
    }

  /** Markov removal-effect attribution (the absorbing-chain model that,
    * with [[shapleyAttribution]], completes the principled attribution
    * pair): journeys are first-order chains start → channel → … →
    * conv/null; a channel's credit is its REMOVAL EFFECT — the relative
    * drop in the chain's conversion probability when every visit to it
    * is sent to the null absorber, 1 − P₋ᵢ(conv)/P(conv) — normalized to
    * shares. P(conv) is the absorption probability from `start`,
    * computed as [[MarkovAbsorbSteps]] fixed-point iterations of
    * p = T·p + t_conv (a fold — no matrix inverse, no driver math).
    *
    * Cross-engine exactness: transition probabilities are single
    * divisions of exact counts; the K-step recurrence is ONE generated
    * formula text shared by the Spark fold and the oracle's recursive
    * CTE (per removal), so every intermediate double is bit-identical;
    * effects and shares are fixed arithmetic over the six absorption
    * values, rounded 6 dp.
    *
    * Scale shape: the corpus-sized work is one user-keyed journey
    * window (lag over pre-conversion touches) and a 7×7-bounded
    * transition count aggregate; the chain algebra runs in one
    * projection over a single row. Output = |channels| rows.
    */
  def markovRemovalAttribution(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir, "events")
    val firstConv = ev.filter(col("event_type") === "purchase")
      .groupBy("user_id").agg(min(unix_micros(col("ts"))).as("cus"))
    val stateOf = ShapleyChannels.zipWithIndex.foldLeft(lit(-1)) {
      case (acc, ((ch, _), i)) =>
        when(col("event_type") === ch, lit(i + 2)).otherwise(acc)
    }
    val touches = ev.filter(col("event_type") =!= "purchase")
      .select(col("user_id"), stateOf.as("st"), unix_micros(col("ts")).as("us"),
        col("event_id"))
      .join(firstConv, Seq("user_id"), "left")
      .filter(col("cus").isNull || col("us") < col("cus"))
    val w = Window.partitionBy("user_id").orderBy("us", "event_id")
    val within = touches
      .withColumn("prev", lag("st", 1).over(w))
      .withColumn("nxt", lead("st", 1).over(w))
    // edges: prev→st for every touch (start when first), plus the
    // terminal edge last-touch→conv(6)/null(7); users with a purchase
    // but no prior touch contribute start→conv directly
    val bodyEdges = within.select(
      coalesce(col("prev"), lit(1)).as("from"), col("st").as("to"))
    val termEdges = within.filter(col("nxt").isNull)
      .select(col("st").as("from"),
        when(col("cus").isNotNull, lit(6)).otherwise(lit(7)).as("to"))
    val directConv = firstConv.join(
        touches.select("user_id").distinct(), Seq("user_id"), "left_anti")
      .select(lit(1).as("from"), lit(6).as("to"))
    val counts = bodyEdges.unionAll(termEdges).unionAll(directConv)
      .groupBy("from", "to").agg(count(lit(1)).as("c"))
    // pivot the ≤ 7×7 count table into one row of t_ij probabilities
    val cCols = for (i <- 1 to MarkovStates; j <- 1 to 6) yield
      sum(when(col("from") === i && col("to") === j, col("c"))
        .otherwise(lit(0L))).as(s"c$i$j")
    val rCols = (1 to MarkovStates).map(i =>
      sum(when(col("from") === i, col("c")).otherwise(lit(0L))).as(s"r$i"))
    var row = counts.agg((cCols ++ rCols).head, (cCols ++ rCols).tail: _*)
    for (i <- 1 to MarkovStates; j <- 1 to 6)
      row = row.withColumn(s"t$i$j", expr(
        s"IF(r$i > 0, CAST(c$i$j AS DOUBLE) / CAST(r$i AS DOUBLE), CAST(0.0 AS DOUBLE))"))
    def absorb(pin: Int): String = {
      val step = markovStep("acc.", pin)
      val fields = (1 to MarkovStates)
        .map(i => s"'p$i', ${step(i - 1)}").mkString(", ")
      s"""aggregate(sequence(1, $MarkovAbsorbSteps),
         |  named_struct(${(1 to MarkovStates)
            .map(i => s"'p$i', CAST(0.0 AS DOUBLE)").mkString(", ")}),
         |  (acc, stp) -> named_struct($fields),
         |  acc -> acc.p1)""".stripMargin
    }
    var solved = row.withColumn("conv_base", expr(absorb(0)))
    for (r <- 2 to MarkovStates)
      solved = solved.withColumn(s"conv_rm$r", expr(absorb(r)))
    // conv_base = 0 guard (a corpus slice with no conversions from start):
    // 1 − x/0 would release NaN effects/shares silently — emit NULL
    // instead, the honest "attribution undefined without conversions"
    val effects = (2 to MarkovStates).map(r =>
      s"IF(conv_base > CAST(0.0 AS DOUBLE), " +
        s"CAST(1.0 AS DOUBLE) - conv_rm$r / conv_base, CAST(NULL AS DOUBLE))")
    val effSum = s"((${effects(0)} + ${effects(1)}) + (${effects(2)} + ${effects(3)}))"
    val outRows = ShapleyChannels.zipWithIndex.map { case ((ch, _), i) =>
      s"named_struct('channel', '$ch', 'removal_effect', round(${effects(i)}, 6), " +
        s"'share', round(${effects(i)} / $effSum, 6))"
    }.mkString(", ")
    solved.select(explode(expr(s"array($outRows)")).as("o"))
      .select(col("o.channel").as("channel"),
        col("o.removal_effect").as("removal_effect"),
        col("o.share").as("share"))
      .orderBy("channel")
  }

  val markovRemovalAttributionSql: String = {
    val cSelects = (for (i <- 1 to MarkovStates; j <- 1 to 6) yield
      s"sum(CASE WHEN f = $i AND t = $j THEN c ELSE 0 END)::BIGINT AS c$i$j")
      .mkString(",\n       |    ")
    val rSelects = (1 to MarkovStates).map(i =>
      s"sum(CASE WHEN f = $i THEN c ELSE 0 END)::BIGINT AS r$i")
      .mkString(",\n       |    ")
    val tSelects = (for (i <- 1 to MarkovStates; j <- 1 to 6) yield
      s"CASE WHEN r$i > 0 THEN CAST(c$i$j AS DOUBLE) / CAST(r$i AS DOUBLE) " +
        s"ELSE CAST(0.0 AS DOUBLE) END AS t$i$j")
      .mkString(",\n       |    ")
    def recCte(pin: Int): String = {
      val name = if (pin == 0) "base" else s"rm$pin"
      val step = markovStep("r.", pin)
      s""", $name AS MATERIALIZED (
         |  SELECT 0 AS k, ${(1 to MarkovStates)
            .map(i => s"CAST(0.0 AS DOUBLE) AS p$i").mkString(", ")}
         |  UNION ALL
         |  SELECT r.k + 1, ${(1 to MarkovStates)
            .map(i => s"${step(i - 1)} AS p$i").mkString(", ")}
         |  FROM $name r CROSS JOIN tmat
         |  WHERE r.k < $MarkovAbsorbSteps
         |)""".stripMargin
    }
    // the same conv_base = 0 → NULL guard as the Spark projection
    val effects = (2 to MarkovStates).map(r =>
      s"(CASE WHEN (SELECT p1 FROM base WHERE k = $MarkovAbsorbSteps) > CAST(0.0 AS DOUBLE)" +
        s" THEN CAST(1.0 AS DOUBLE) - (SELECT p1 FROM rm$r WHERE k = $MarkovAbsorbSteps)" +
        s" / (SELECT p1 FROM base WHERE k = $MarkovAbsorbSteps)" +
        s" ELSE CAST(NULL AS DOUBLE) END)")
    val effSum = s"((${effects(0)} + ${effects(1)}) + (${effects(2)} + ${effects(3)}))"
    val outRows = ShapleyChannels.zipWithIndex.map { case ((ch, _), i) =>
      s"SELECT '$ch' AS channel, round(${effects(i)}, 6) AS removal_effect, " +
        s"round(${effects(i)} / $effSum, 6) AS share"
    }.mkString("\nUNION ALL\n")
    // Every CTE is MATERIALIZED: DuckDB otherwise inlines CTEs, so each of
    // the scalar subqueries over base/rmN re-runs its 200-step recursion,
    // and each step re-derives tmat from the events. Same result; the
    // oracle went from no result after 90 s at sf0.001 to 0.44 s at sf0.01.
    s"""WITH RECURSIVE fc AS MATERIALIZED (
       |  SELECT user_id, min(epoch_us(ts)) AS cus FROM events
       |  WHERE event_type = 'purchase' GROUP BY 1
       |), touches AS MATERIALIZED (
       |  SELECT e.user_id, fc.cus,
       |    CASE e.event_type WHEN 'click' THEN 2 WHEN 'error' THEN 3
       |         WHEN 'signup' THEN 4 WHEN 'view' THEN 5 END AS st,
       |    epoch_us(e.ts) AS us, e.event_id
       |  FROM events e LEFT JOIN fc ON fc.user_id = e.user_id
       |  WHERE e.event_type <> 'purchase'
       |    AND (fc.cus IS NULL OR epoch_us(e.ts) < fc.cus)
       |), within AS MATERIALIZED (
       |  SELECT user_id, cus, st,
       |    lag(st) OVER (PARTITION BY user_id ORDER BY us, event_id) AS prev,
       |    lead(st) OVER (PARTITION BY user_id ORDER BY us, event_id) AS nxt
       |  FROM touches
       |), edges AS MATERIALIZED (
       |  SELECT coalesce(prev, 1) AS f, st AS t FROM within
       |  UNION ALL
       |  SELECT st AS f, CASE WHEN cus IS NOT NULL THEN 6 ELSE 7 END AS t
       |  FROM within WHERE nxt IS NULL
       |  UNION ALL
       |  SELECT 1 AS f, 6 AS t FROM fc
       |  WHERE user_id NOT IN (SELECT DISTINCT user_id FROM touches)
       |), counts AS MATERIALIZED (
       |  SELECT f, t, count(*) AS c FROM edges GROUP BY 1, 2
       |), pivoted AS MATERIALIZED (
       |  SELECT
       |    $cSelects,
       |    $rSelects
       |  FROM counts
       |), tmat AS MATERIALIZED (
       |  SELECT
       |    $tSelects
       |  FROM pivoted
       |)${recCte(0)}${(2 to MarkovStates).map(recCte).mkString}
       |SELECT * FROM (
       |$outRows
       |) ORDER BY channel""".stripMargin
  }

  /** Kaplan–Meier survival of inter-purchase gaps with right-censoring —
    * the statistically-correct upgrade of [[cohortRetention]]'s raw
    * rates: the question is "what fraction of purchase gaps exceed t
    * hours", and every user's FINAL gap (last purchase → end of
    * observation) is open — dropping it biases the curve optimistic,
    * counting it as a churn biases it pessimistic; KM credits it to the
    * risk set exactly up to its censoring time. Deaths are observed
    * gaps (the next purchase happened); the censoring time is the
    * corpus's last purchase instant.
    *
    * Exactness: gap durations are integer hours (one microsecond
    * subtraction + one floor division — `div` vs `//` agree on
    * non-negatives), the (death, censor) counts per duration are
    * integers, and the survival recurrence S_i = S_{i−1}·(1 − d_i/n_i)
    * plus Greenwood's Σ d/(n(n−d)) fold in DURATION ORDER on both
    * engines (Spark: one `aggregate` over the sorted duration array —
    * the [[graft.ops.TimeSeries.holtDaily]] fold license, the domain is
    * calendar-bounded; oracle: a recursive CTE) — bit-identical doubles,
    * rounded 6 dp for display. n(n−d) products stay under 2⁶³ to
    * n ≈ 3·10⁹ gaps.
    *
    * Scale shape: one events scan → per-user lead window (purchase rows
    * only) → duration-keyed count aggregate (≤ calendar-hours keys) →
    * the fold runs in ONE projection over the bounded array. The 1-row
    * observation-end maximum rides in as a broadcast cross join.
    */
  def kmPurchaseGaps(spark: SparkSession, dir: String): DataFrame = {
    val p = Tables(spark, dir, "events")
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), unix_micros(col("ts")).as("us"))
    val w = Window.partitionBy("user_id").orderBy("us")
    val mx = p.agg(max("us").as("mx"))
    val gaps = p.withColumn("nxt", lead("us", 1).over(w))
      .crossJoin(broadcast(mx))
      .select(expr("(coalesce(nxt, mx) - us) div 3600000000").as("t"),
        col("nxt").isNotNull.as("death"))
    val byT = gaps.groupBy("t").agg(
      sum(when(col("death"), 1L).otherwise(0L)).as("d"),
      sum(when(!col("death"), 1L).otherwise(0L)).as("c"))
    byT.agg(
      sort_array(collect_list(struct(col("t"), col("d"), col("c")))).as("rows"),
      sum(col("d") + col("c")).as("total"))
      .select(explode(expr(
        """aggregate(rows,
          |  named_struct('rem', total,
          |    'surv', CAST(1.0 AS DOUBLE), 'gsum', CAST(0.0 AS DOUBLE),
          |    'out', CAST(array() AS array<struct<
          |      t: bigint, n_risk: bigint, d: bigint, censored: bigint,
          |      surv: double, se: double>>)),
          |  (acc, r) -> named_struct(
          |    'rem', acc.rem - r.d - r.c,
          |    'surv', acc.surv * (CAST(1.0 AS DOUBLE)
          |      - CAST(r.d AS DOUBLE) / CAST(acc.rem AS DOUBLE)),
          |    'gsum', acc.gsum + IF(r.d > 0 AND acc.rem > r.d,
          |      CAST(r.d AS DOUBLE) / CAST(acc.rem * (acc.rem - r.d) AS DOUBLE),
          |      CAST(0.0 AS DOUBLE)),
          |    'out', concat(acc.out, array(named_struct(
          |      't', r.t, 'n_risk', acc.rem, 'd', r.d, 'censored', r.c,
          |      'surv', acc.surv * (CAST(1.0 AS DOUBLE)
          |        - CAST(r.d AS DOUBLE) / CAST(acc.rem AS DOUBLE)),
          |      'se', (acc.surv * (CAST(1.0 AS DOUBLE)
          |          - CAST(r.d AS DOUBLE) / CAST(acc.rem AS DOUBLE)))
          |        * sqrt(acc.gsum + IF(r.d > 0 AND acc.rem > r.d,
          |            CAST(r.d AS DOUBLE) / CAST(acc.rem * (acc.rem - r.d) AS DOUBLE),
          |            CAST(0.0 AS DOUBLE))))))),
          |  acc -> acc.out)""".stripMargin)).as("o"))
      .select(col("o.t").as("t_hours"), col("o.n_risk"), col("o.d"),
        col("o.censored"),
        round(col("o.surv"), 6).as("survival"),
        round(col("o.se"), 6).as("se"))
      .orderBy("t_hours")
  }

  /** Oracle: the KM recurrence as a recursive CTE (the holtDaily
    * rationale — row-per-step reads the WHOLE previous state; the step
    * expressions are inlined, never lateral aliases). */
  val kmPurchaseGapsSql: String =
    """WITH RECURSIVE p AS (
      |  SELECT user_id, epoch_us(ts) AS us FROM events
      |  WHERE event_type = 'purchase'
      |), mx AS (
      |  SELECT max(us) AS mx FROM p
      |), g AS (
      |  SELECT (coalesce(lead(us) OVER (PARTITION BY user_id ORDER BY us), mx)
      |          - us) // 3600000000 AS t,
      |    lead(us) OVER (PARTITION BY user_id ORDER BY us) IS NOT NULL AS death
      |  FROM p CROSS JOIN mx
      |), byt AS (
      |  SELECT t, sum(CASE WHEN death THEN 1 ELSE 0 END)::BIGINT AS d,
      |    sum(CASE WHEN NOT death THEN 1 ELSE 0 END)::BIGINT AS c
      |  FROM g GROUP BY t
      |), idx AS (
      |  SELECT t, d, c, row_number() OVER (ORDER BY t) AS i,
      |    sum(d + c) OVER ()::BIGINT AS tot
      |  FROM byt
      |), rec AS (
      |  SELECT i, t, d, c, tot AS n,
      |    1.0::DOUBLE * (1.0::DOUBLE - d::DOUBLE / tot::DOUBLE) AS surv,
      |    0.0::DOUBLE + (CASE WHEN d > 0 AND tot > d
      |      THEN d::DOUBLE / (tot * (tot - d))::DOUBLE ELSE 0.0::DOUBLE END) AS gsum
      |  FROM idx WHERE i = 1
      |  UNION ALL
      |  SELECT x.i, x.t, x.d, x.c, r.n - r.d - r.c AS n,
      |    r.surv * (1.0::DOUBLE
      |      - x.d::DOUBLE / (r.n - r.d - r.c)::DOUBLE) AS surv,
      |    r.gsum + (CASE WHEN x.d > 0 AND (r.n - r.d - r.c) > x.d
      |      THEN x.d::DOUBLE
      |        / ((r.n - r.d - r.c) * (r.n - r.d - r.c - x.d))::DOUBLE
      |      ELSE 0.0::DOUBLE END) AS gsum
      |  FROM rec r JOIN idx x ON x.i = r.i + 1
      |)
      |SELECT t AS t_hours, n AS n_risk, d, c AS censored,
      |  round(surv, 6) AS survival, round(surv * sqrt(gsum), 6) AS se
      |FROM rec ORDER BY t_hours""".stripMargin
}
