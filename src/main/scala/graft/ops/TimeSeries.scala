package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Calendar-spine time-series operators over the `events` table: gap-filled
  * daily series with last-observation staleness, trailing-window distinct
  * counts (exact and sketch-merged), and exact-integer anomaly flagging.
  *
  * The common scale discipline: the corpus is touched ONCE by a keyed
  * aggregate whose output is calendar-bounded (|keys| × |days| rows —
  * thousands, not billions); every window/spine/self-join in the family
  * runs on that bounded aggregate, never on raw events. Reference scope:
  * the reference pipeline has no time-series surface (SURVEY.md §2.1 "no
  * window functions") — this family is part of the 100-TB extension suite.
  */
object TimeSeries {

  /** High-value slice threshold for the gap-filled series: `value` is
    * heavy-tailed (p99 ≈ 224 at sf0.01), so ≥200 keeps ~1% of events and
    * produces REAL calendar gaps for the spine to fill — on the full
    * corpus every (type, day) cell is occupied and LOCF is vacuous.
    */
  val HighValue = 200.0

  /** Gap-filled daily series with staleness — the ops-dashboard query
    * "big-ticket activity per type and day, including the days nothing
    * happened, and how stale each cell is". A calendar spine
    * (types × sequence(min_day, max_day)) left-joins the daily aggregate;
    * missing days fill with n=0; `days_stale` carries the
    * last-observation date forward (LOCF) as days-since — NULL before a
    * type's first activity.
    *
    * Scale shape: one corpus scan into a (type, day) hash aggregate;
    * the spine explode, left join, and LOCF window all run on
    * |types| × |days| rows. The LOCF window partitions by type over
    * calendar-bounded partitions — O(days), never O(corpus).
    */
  def dailyGapFilled(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir, "events")
    val daily = ev.filter(col("value") >= HighValue)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n"))
    // bounds from the FULL table: the spine covers the corpus calendar,
    // not just the slice's active range (that is the point of the fill)
    val bounds = ev.agg(min(to_date(col("ts"))).as("d0"),
      max(to_date(col("ts"))).as("d1"))
    val spine = ev.select("event_type").distinct()
      .crossJoin(broadcast(bounds))
      .select(col("event_type"), explode(expr("sequence(d0, d1)")).as("day"))
    val w = Window.partitionBy("event_type").orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    spine.join(daily, Seq("event_type", "day"), "left")
      .withColumn("n", coalesce(col("n"), lit(0L)))
      .withColumn("last_active", max(when(col("n") > 0, col("day"))).over(w))
      .select(col("event_type"),
        date_format(col("day"), "yyyy-MM-dd").as("day"), col("n"),
        datediff(col("day"), col("last_active")).cast("long").as("days_stale"))
      .orderBy("event_type", "day")
  }

  val dailyGapFilledSql: String =
    s"""WITH daily AS (
      |  SELECT event_type, ts::DATE AS day, count(*) AS n
      |  FROM events WHERE value >= $HighValue GROUP BY 1, 2
      |), b AS (
      |  SELECT min(ts::DATE) AS d0, max(ts::DATE) AS d1 FROM events
      |), spine AS (
      |  SELECT t.event_type,
      |    unnest(generate_series(b.d0::TIMESTAMP, b.d1::TIMESTAMP,
      |      INTERVAL 1 DAY))::DATE AS day
      |  FROM (SELECT DISTINCT event_type FROM events) t, b
      |), filled AS (
      |  SELECT s.event_type, s.day, coalesce(d.n, 0)::BIGINT AS n
      |  FROM spine s LEFT JOIN daily d
      |    ON s.event_type = d.event_type AND s.day = d.day
      |)
      |SELECT event_type, strftime(day, '%Y-%m-%d') AS day, n,
      |  date_diff('day',
      |    max(CASE WHEN n > 0 THEN day END) OVER (
      |      PARTITION BY event_type ORDER BY day ROWS UNBOUNDED PRECEDING),
      |    day) AS days_stale
      |FROM filled ORDER BY event_type, day""".stripMargin

  /** Exact trailing 7-day distinct users per (type, day) — rolling DAU/WAU,
    * the canonical engagement metric. Distinct (type, user, day) activity
    * explodes into the ≤7 trailing windows it participates in
    * (`sequence(day, day+6)`), then one distinct-count aggregate per
    * covered day. The explode-cover form needs no self-join and no range
    * join: cover days beyond the corpus max are clipped.
    *
    * Scale shape: distinct-activity aggregate (one shuffle on a key the
    * corpus already groups well on), a ×7 narrow explode, one
    * distinct-count aggregate. The ×7 blow-up is the window length — for
    * long windows or high cardinality use [[rollingDau7dHll]], which
    * merges per-day sketches instead of re-shipping per-user rows.
    */
  def rollingDau7d(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir, "events")
    val ud = ev.select(col("event_type"), col("user_id"),
      to_date(col("ts")).as("aday")).distinct()
    val bounds = ev.agg(max(to_date(col("ts"))).as("d1"))
    ud.select(col("event_type"), col("user_id"),
        explode(expr("sequence(aday, date_add(aday, 6))")).as("day"))
      .crossJoin(broadcast(bounds))
      .filter(col("day") <= col("d1"))
      .groupBy(col("event_type"), date_format(col("day"), "yyyy-MM-dd").as("day"))
      .agg(countDistinct(col("user_id")).as("dau_7d"))
      .orderBy("event_type", "day")
  }

  /** Oracle: the textbook formulation — a calendar spine range-joined to
    * distinct activity (`day BETWEEN s.day-6 AND s.day`). Independent of
    * the engine's explode-cover plan; equality is the correctness claim.
    */
  val rollingDau7dSql: String =
    """WITH ud AS (
      |  SELECT DISTINCT event_type, user_id, ts::DATE AS aday FROM events
      |), b AS (
      |  SELECT min(ts::DATE) AS d0, max(ts::DATE) AS d1 FROM events
      |), spine AS (
      |  SELECT t.event_type,
      |    unnest(generate_series(b.d0::TIMESTAMP, b.d1::TIMESTAMP,
      |      INTERVAL 1 DAY))::DATE AS day
      |  FROM (SELECT DISTINCT event_type FROM events) t, b
      |)
      |SELECT s.event_type, strftime(s.day, '%Y-%m-%d') AS day,
      |  count(DISTINCT u.user_id) AS dau_7d
      |FROM spine s JOIN ud u
      |  ON u.event_type = s.event_type
      | AND u.aday BETWEEN s.day - 6 AND s.day
      |GROUP BY s.event_type, s.day
      |ORDER BY s.event_type, s.day""".stripMargin

  /** Per-(type, day) HLL user sketches from a raw event frame — the ONE
    * corpus-touching aggregate; the rolling windows merge these with
    * `hll_union_agg` (register-wise max). */
  private[graft] def dailySketches(ev: DataFrame): DataFrame =
    ev.groupBy(col("event_type"), to_date(col("ts")).as("aday"))
      .agg(hll_sketch_agg(col("user_id")).as("sk"))

  /** The rolling-union serving tail over a (event_type, aday, sk)
    * daily-sketch table — calendar-sized input, never raw events. */
  private[graft] def rollingFromDailySketches(daily: DataFrame): DataFrame = {
    val bounds = daily.groupBy().agg(max(col("aday")).as("d1"))
    daily.select(col("event_type"), col("sk"),
        explode(expr("sequence(aday, date_add(aday, 6))")).as("day"))
      .crossJoin(broadcast(bounds))
      .filter(col("day") <= col("d1"))
      .groupBy(col("event_type"), date_format(col("day"), "yyyy-MM-dd").as("day"))
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("dau_7d_est"))
      .orderBy("event_type", "day")
  }

  /** Sketch-merged trailing 7-day distinct — the 100-TB form of
    * [[rollingDau7d]]. The corpus is scanned ONCE into per-(type, day)
    * HLL sketches (|types| × |days| rows, ~KB each); the rolling union
    * merges 7 sketches per output row and never re-touches events. The
    * exact form re-ships each (user, day) row ×7 through a distinct
    * aggregate — corpus-sized work per window length; the sketch form's
    * rolling cost is calendar-sized. Rows-only by necessity (DataSketches
    * HLL binary layout is engine-specific); the error envelope vs the
    * exact twin is spec-pinned in TimeSeriesSpec.
    */
  def rollingDau7dHll(spark: SparkSession, dir: String): DataFrame =
    rollingFromDailySketches(dailySketches(Tables(spark, dir, "events")))

  /** EWMA-smoothed daily counts per type — exponential smoothing
    * `s_t = (1−α)·s_{t−1} + α·x_t`, the trend line an ops dashboard draws
    * over [[dailyCountAnomalies]]'s raw series (α = 1/4, s_0 = x_0).
    *
    * Exactness across engines: the recurrence is order-sensitive IEEE
    * arithmetic, so the oracle does not restate it in closed form (the
    * geometric-sum association order differs and drifts ULPs) — both
    * engines run the IDENTICAL left fold `0.75·acc + 0.25·v` over the
    * day-ordered series (Spark `aggregate` HOF / DuckDB `list_reduce`),
    * so every intermediate rounds identically and the doubles are
    * bit-equal, the [[Events.hourValueRegression]] determinism discipline
    * applied to a recurrence.
    *
    * Scale shape: one corpus scan into the (type, day) hash aggregate;
    * the series collect and per-prefix folds run on calendar-bounded
    * frames (|days| per type — hundreds), so the O(d²) prefix re-fold is
    * bounded work, not corpus work. An unbounded-key variant would carry
    * the recurrence as a segmented scan over the linear representation
    * (s_t = a·s_{t−1} + b associativity) — not needed at calendar scale.
    */
  def ewmaDaily(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables(spark, dir, "events")
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n"))
    daily.groupBy("event_type")
      .agg(array_sort(collect_list(struct(col("day"), col("n")))).as("series"))
      .select(col("event_type"), explode(expr(
        """transform(series, (s, i) -> named_struct(
          |  'day', s.day, 'n', s.n,
          |  'ewma', aggregate(slice(series, 2, i),
          |            CAST(element_at(series, 1).n AS DOUBLE),
          |            (acc, v) -> CAST(0.75 AS DOUBLE) * acc
          |                      + CAST(0.25 AS DOUBLE) * CAST(v.n AS DOUBLE))))
          |""".stripMargin)).as("o"))
      .select(col("event_type"),
        date_format(col("o.day"), "yyyy-MM-dd").as("day"),
        col("o.n").as("n"), col("o.ewma").as("ewma"))
      .orderBy("event_type", "day")
  }

  /** Oracle: the same left fold, element-for-element — DuckDB
    * `list_reduce` seeds with the list head and folds left, exactly
    * Spark's `aggregate(slice(arr, 2, i), arr[1], …)`. */
  val ewmaDailySql: String =
    """WITH daily AS (
      |  SELECT event_type, ts::DATE AS day, count(*) AS n
      |  FROM events GROUP BY 1, 2
      |), ser AS (
      |  SELECT event_type,
      |    list(n::DOUBLE ORDER BY day) AS arr,
      |    list(day ORDER BY day) AS days
      |  FROM daily GROUP BY 1
      |), idx AS (
      |  SELECT event_type, arr, days, i
      |  FROM ser, LATERAL (SELECT unnest(generate_series(1, len(arr))) AS i)
      |)
      |SELECT event_type, strftime(days[i], '%Y-%m-%d') AS day,
      |  arr[i]::BIGINT AS n,
      |  list_reduce(arr[1:i],
      |    (acc, v) -> 0.75::DOUBLE * acc + 0.25::DOUBLE * v) AS ewma
      |FROM idx ORDER BY event_type, day""".stripMargin

  /** Holt linear-trend smoothing (double exponential) — the forecasting
    * step past [[ewmaDaily]]: per (type, day), level `l_t = α·x_t +
    * (1−α)(l_{t−1}+b_{t−1})` and trend `b_t = β(l_t−l_{t−1}) +
    * (1−β)b_{t−1}` (α = β = 1/4, init l₁ = x₁, b₁ = 0), plus the
    * one-step-ahead forecast `l_t + b_t` a capacity planner reads off.
    *
    * Exactness: the recurrence is order-sensitive IEEE, so the oracle is
    * the IDENTICAL left fold — the [[ewmaDaily]] discipline — with a
    * two-field STRUCT accumulator (the series elements are pre-lifted to
    * `{l: x, b: 0}` structs so DuckDB's element-typed `list_reduce`
    * matches Spark's `aggregate` seed); `l_t` is inlined twice in the
    * `b_t` expression in BOTH engines so every intermediate rounds
    * identically and the doubles are bit-equal.
    *
    * Scale shape: identical to [[ewmaDaily]] — one corpus scan into the
    * (type, day) aggregate; folds run on calendar-bounded frames.
    */
  def holtDaily(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables(spark, dir, "events")
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n"))
    daily.groupBy("event_type")
      .agg(array_sort(collect_list(struct(col("day"), col("n")))).as("series"))
      .withColumn("arr", expr(
        """transform(series, s -> named_struct(
          |  'l', CAST(s.n AS DOUBLE), 'b', CAST(0.0 AS DOUBLE)))""".stripMargin))
      .select(col("event_type"), explode(expr(
        """transform(series, (s, i) -> named_struct(
          |  'day', s.day, 'n', s.n,
          |  'st', aggregate(slice(arr, 2, i), element_at(arr, 1),
          |    (acc, v) -> named_struct(
          |      'l', CAST(0.25 AS DOUBLE) * v.l
          |         + CAST(0.75 AS DOUBLE) * (acc.l + acc.b),
          |      'b', CAST(0.25 AS DOUBLE)
          |           * ((CAST(0.25 AS DOUBLE) * v.l
          |               + CAST(0.75 AS DOUBLE) * (acc.l + acc.b)) - acc.l)
          |         + CAST(0.75 AS DOUBLE) * acc.b))))
          |""".stripMargin)).as("o"))
      .select(col("event_type"),
        date_format(col("o.day"), "yyyy-MM-dd").as("day"),
        col("o.n").as("n"), col("o.st.l").as("level"), col("o.st.b").as("trend"),
        (col("o.st.l") + col("o.st.b")).as("forecast_next"))
      .orderBy("event_type", "day")
  }

  /** Oracle: the recurrence as a RECURSIVE CTE, one step per day — NOT
    * `list_reduce`, whose struct accumulator in DuckDB 1.0 is mutated
    * field-by-field between steps (the `b` expression would see the
    * already-overwritten `l`); the CTE's row-per-step semantics evaluate
    * both fields against the same predecessor row, matching Spark's pure
    * `aggregate` fold expression-for-expression. */
  val holtDailySql: String =
    """WITH RECURSIVE daily AS (
      |  SELECT event_type, ts::DATE AS day, count(*) AS n FROM events GROUP BY 1, 2
      |), idx AS (
      |  SELECT event_type, day, n,
      |    row_number() OVER (PARTITION BY event_type ORDER BY day) AS i
      |  FROM daily
      |), rec AS (
      |  SELECT event_type, day, n, i, n::DOUBLE AS l, 0.0::DOUBLE AS b
      |  FROM idx WHERE i = 1
      |  UNION ALL
      |  SELECT x.event_type, x.day, x.n, x.i,
      |    0.25::DOUBLE * x.n::DOUBLE + 0.75::DOUBLE * (r.l + r.b) AS l,
      |    0.25::DOUBLE * ((0.25::DOUBLE * x.n::DOUBLE
      |        + 0.75::DOUBLE * (r.l + r.b)) - r.l)
      |      + 0.75::DOUBLE * r.b AS b
      |  FROM rec r JOIN idx x ON x.event_type = r.event_type AND x.i = r.i + 1
      |)
      |SELECT event_type, strftime(day, '%Y-%m-%d') AS day, n,
      |  l AS level, b AS trend, l + b AS forecast_next
      |FROM rec ORDER BY event_type, day""".stripMargin

  /** Holt–Winters additive TRIPLE smoothing (level + trend + weekly
    * seasonality) — the rung above [[holtDaily]] that completes the
    * forecasting ladder (seasonal-naive → EWMA → Holt → Holt–Winters):
    * the recurrence keeps a 7-slot seasonal state next to level/trend,
    *
    *   l' = α·(n − s[m]) + (1−α)·(l + b)
    *   b' = β·(l' − l) + (1−β)·b
    *   s'[m] = γ·(n − l') + (1−γ)·s[m]      (m = weekday(day), Mon = 0)
    *
    * The slot keys on the CALENDAR weekday, not the row's position in
    * the series: a zero-event day produces no row, and a positional
    * `i mod 7` would permanently shift slot-to-weekday alignment past
    * every gap — silently degrading the "weekly seasonality" semantics
    * even with both engines agreeing. `forecast_next` reads tomorrow's
    * slot, (m+1) mod 7.
    *
    * α = β = 0.25 (the [[holtDaily]] constants), γ = 0.3; init l = n₁,
    * b = 0, s = 0⃗ (slots warm up over the first week — pinned, not a
    * fitted init). `forecast_next = l' + b' + s'[(weekday + 1) mod 7]` —
    * tomorrow's CALENDAR-weekday slot, per the rule above.
    *
    * Same execution shape as [[holtDaily]]: one corpus scan into the
    * (type, day) aggregate, then the fold runs inside ONE projection per
    * type over the calendar-bounded day array (`aggregate` over a
    * prefix slice per output row — O(T²) in days, T ≤ the calendar).
    * The seasonal array rides the fold accumulator as a struct field;
    * every step is pure +/−/× double arithmetic, so both engines derive
    * bit-identical states and no rounding is needed anywhere.
    */
  def holtWintersDaily(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables(spark, dir, "events")
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n"))
    // l' appears inside b' and s' — inlined (the holtDaily discipline:
    // both engines must read the PREVIOUS state everywhere, never a
    // half-updated alias)
    val lNew = """CAST(0.25 AS DOUBLE) * (v.n - element_at(acc.s, v.m + 1))
                 |         + CAST(0.75 AS DOUBLE) * (acc.l + acc.b)""".stripMargin
    daily.groupBy("event_type")
      .agg(array_sort(collect_list(struct(col("day"), col("n")))).as("series"))
      .withColumn("arr", expr(
        """transform(series, (s, i) -> named_struct(
          |  'day', s.day, 'n', CAST(s.n AS DOUBLE), 'i', i, 'm', weekday(s.day)))"""
          .stripMargin))
      .select(col("event_type"), explode(expr(
        s"""transform(arr, (x, p) -> named_struct(
           |  'day', x.day, 'n', x.n, 'm', x.m, 'i', x.i,
           |  'st', aggregate(slice(arr, 2, p),
           |    named_struct(
           |      'l', element_at(arr, 1).n,
           |      'b', CAST(0.0 AS DOUBLE),
           |      's', array_repeat(CAST(0.0 AS DOUBLE), 7)),
           |    (acc, v) -> named_struct(
           |      'l', $lNew,
           |      'b', CAST(0.25 AS DOUBLE) * (($lNew) - acc.l)
           |         + CAST(0.75 AS DOUBLE) * acc.b,
           |      's', transform(acc.s, (sv, j) ->
           |        IF(j = v.m,
           |           CAST(0.3 AS DOUBLE) * (v.n - ($lNew))
           |             + CAST(0.7 AS DOUBLE) * sv,
           |           sv))))))""".stripMargin)).as("o"))
      .select(col("event_type"),
        date_format(col("o.day"), "yyyy-MM-dd").as("day"),
        col("o.n").cast("bigint").as("n"),
        col("o.st.l").as("level"), col("o.st.b").as("trend"),
        element_at(col("o.st.s"), col("o.m") + 1).as("season"),
        (col("o.st.l") + col("o.st.b")
          + element_at(col("o.st.s"), ((col("o.m") + 1) % 7) + 1))
          .as("forecast_next"))
      .orderBy("event_type", "day")
  }

  /** Oracle: the triple recurrence as a RECURSIVE CTE carrying the
    * 7-slot seasonal LIST, one row per day (the [[holtDailySql]]
    * rationale: row-per-step semantics read the whole previous state;
    * l' is inlined everywhere, never a lateral alias). */
  val holtWintersDailySql: String = {
    val lNew = "0.25::DOUBLE * (x.n::DOUBLE - r.s[x.m + 1]) " +
      "+ 0.75::DOUBLE * (r.l + r.b)"
    s"""WITH RECURSIVE daily AS (
       |  SELECT event_type, ts::DATE AS day, count(*) AS n FROM events GROUP BY 1, 2
       |), idx AS (
       |  SELECT event_type, day, n,
       |    row_number() OVER (PARTITION BY event_type ORDER BY day) AS i,
       |    isodow(day) - 1 AS m
       |  FROM daily
       |), rec AS (
       |  SELECT event_type, day, n, i, m, n::DOUBLE AS l, 0.0::DOUBLE AS b,
       |    [0.0::DOUBLE, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0] AS s
       |  FROM idx WHERE i = 1
       |  UNION ALL
       |  SELECT x.event_type, x.day, x.n, x.i, x.m,
       |    $lNew AS l,
       |    0.25::DOUBLE * (($lNew) - r.l) + 0.75::DOUBLE * r.b AS b,
       |    list_transform(r.s, (sv, j) ->
       |      CASE WHEN j = x.m + 1
       |           THEN 0.3::DOUBLE * (x.n::DOUBLE - ($lNew)) + 0.7::DOUBLE * sv
       |           ELSE sv END) AS s
       |  FROM rec r JOIN idx x ON x.event_type = r.event_type AND x.i = r.i + 1
       |)
       |SELECT event_type, strftime(day, '%Y-%m-%d') AS day, n,
       |  l AS level, b AS trend, s[m + 1] AS season,
       |  l + b + s[((m + 1) % 7) + 1] AS forecast_next
       |FROM rec ORDER BY event_type, day""".stripMargin
  }

  /** Weekday seasonality index — the ratio-to-overall profile a capacity
    * planner and an anomaly detector both condition on: per (type,
    * weekday), mean daily count divided by the type's all-days mean
    * (index > 1 ⇒ that weekday runs hot). Kept exact: the index is
    * `sum_dow·cnt_all / (cnt_dow·sum_all)` — one division of exact
    * integer products — so no mean-of-means float drift, rounded 6.
    * Weekday is Monday=0 in both engines (Spark `weekday`, DuckDB
    * `isodow − 1`).
    *
    * Scale shape: corpus scanned once into the (type, day) aggregate;
    * everything after is calendar-bounded (≤ 7 rows per type).
    */
  def weekdaySeasonality(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables(spark, dir, "events")
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n"))
    val byDow = daily.groupBy(col("event_type"), weekday(col("day")).as("dow"))
      .agg(count(lit(1)).as("n_days"), sum(col("n")).as("total"))
    val overall = daily.groupBy(col("event_type"))
      .agg(count(lit(1)).as("cnt_all"), sum(col("n")).as("sum_all"))
    byDow.join(broadcast(overall), Seq("event_type"))
      .select(col("event_type"), col("dow"), col("n_days"), col("total"),
        round((col("total") * col("cnt_all")).cast("double")
          / (col("n_days") * col("sum_all")).cast("double"), 6).as("season_idx"))
      .orderBy("event_type", "dow")
  }

  val weekdaySeasonalitySql: String =
    """WITH daily AS (
      |  SELECT event_type, ts::DATE AS day, count(*) AS n FROM events GROUP BY 1, 2
      |), by_dow AS (
      |  SELECT event_type, isodow(day) - 1 AS dow,
      |    count(*) AS n_days, sum(n)::BIGINT AS total
      |  FROM daily GROUP BY 1, 2
      |), overall AS (
      |  SELECT event_type, count(*) AS cnt_all, sum(n)::BIGINT AS sum_all
      |  FROM daily GROUP BY 1
      |)
      |SELECT event_type, dow, n_days, total,
      |  round((total * cnt_all)::DOUBLE / (n_days * sum_all)::DOUBLE, 6) AS season_idx
      |FROM by_dow JOIN overall USING (event_type)
      |ORDER BY event_type, dow""".stripMargin

  /** Per-(type, day, segment) bitmap words from a raw event frame — the
    * ONE corpus-touching aggregate; the rolling union ORs these. */
  private[graft] def dailyBitmapWords(ev: DataFrame): DataFrame =
    ev.select(col("event_type"), to_date(col("ts")).as("aday"),
        expr("user_id DIV 32").as("seg"),
        expr("shiftleft(1L, CAST(pmod(user_id, 32) AS INT))").as("bit"))
      .groupBy("event_type", "aday", "seg")
      .agg(expr("bit_or(bit)").as("w"))

  /** The rolling-union serving tail over a (event_type, aday, seg, w)
    * daily-word table — calendar × segment input, never raw events. */
  private[graft] def rollingFromDailyWords(words: DataFrame): DataFrame = {
    val bounds = words.groupBy().agg(max(col("aday")).as("d1"))
    words.select(col("event_type"), col("seg"), col("w"),
        explode(expr("sequence(aday, date_add(aday, 6))")).as("day"))
      .crossJoin(broadcast(bounds))
      .filter(col("day") <= col("d1"))
      .groupBy("event_type", "day", "seg")
      .agg(expr("bit_or(w)").as("w7"))
      .groupBy(col("event_type"), date_format(col("day"), "yyyy-MM-dd").as("day"))
      .agg(sum(expr("bit_count(w7)")).cast("long").as("dau_7d"))
      .orderBy("event_type", "day")
  }

  /** Trailing 7-day distinct users via SEGMENT BITMAPS — the exact
    * mergeable twin of [[rollingDau7dHll]], completing the rolling-distinct
    * triad: exact re-ship ([[rollingDau7d]], per-user rows ×7 through a
    * distinct agg), approximate mergeable (HLL, KB per cell, ±2%), exact
    * mergeable (this — user IDs packed as bits, 32 users per int64 word).
    *
    * The corpus is touched ONCE by the (type, day, segment) `bit_or`
    * aggregate (map-side combinable: OR is associative/commutative/
    * idempotent, the same algebra that makes the HLL twin merge). The
    * rolling union then ORs 7 words per segment and popcounts —
    * calendar × ⌈|users|/32⌉ work, never raw events. The dense-ID
    * assumption is the honest bound (segment count ∝ max(user_id)/32,
    * the roaring-bitmap regime); for sparse 64-bit key spaces the HLL twin
    * is the right leg.
    *
    * Oracle: [[rollingDau7dSql]] verbatim — the textbook spine range-join;
    * bit-exact equality to an independent formulation IS the claim.
    */
  def rollingDau7dBitmap(spark: SparkSession, dir: String): DataFrame =
    rollingFromDailyWords(dailyBitmapWords(Tables(spark, dir, "events")))

  /** Theil–Sen robust trend per type — the slope estimator that shrugs
    * off the outlier days [[dailyCountAnomalies]] flags (OLS's weakness:
    * one anomalous day drags the fit; the MEDIAN of pairwise slopes has a
    * 29% breakdown point). Runs on the calendar-bounded daily aggregate,
    * so the O(d²) pair set is thousands of rows, not corpus-scale — the
    * same bounded-frame license as [[ewmaDaily]]'s prefix folds.
    *
    * Exactness: each pairwise slope is one integer-subtraction pair and
    * one IEEE division (identical in both engines); the estimate is the
    * LOWER MEDIAN — an order-statistic pick with a total (slope, i, j)
    * tie order, no averaging, no summation order anywhere.
    */
  def theilSenDailyTrend(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = Tables(spark, dir, "events")
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n"))
    val bounds = daily.groupBy("event_type").agg(min(col("day")).as("d0"))
    val idx = daily.join(bounds, Seq("event_type"))
      .select(col("event_type"),
        datediff(col("day"), col("d0")).cast("long").as("i"), col("n"))
    val a = idx.select(col("event_type"), col("i"), col("n"))
    val b = idx.select(col("event_type"), col("i").as("j"), col("n").as("m"))
    val slopes = a.join(b, Seq("event_type"))
      .filter(col("i") < col("j"))
      .select(col("event_type"), col("i"), col("j"),
        ((col("m") - col("n")).cast("double") / (col("j") - col("i"))).as("slope"))
    val w = Window.partitionBy("event_type")
      .orderBy(col("slope"), col("i"), col("j"))
    slopes
      .withColumn("r", row_number().over(w))
      .withColumn("np", count(lit(1)).over(Window.partitionBy("event_type")))
      .filter(col("r") === expr("(np + 1) DIV 2"))
      .select(col("event_type"),
        expr("(np + 1) DIV 2").as("median_rank"),
        col("np").as("n_pairs"), col("slope").as("sen_slope"))
      .orderBy("event_type")
  }

  val theilSenDailyTrendSql: String =
    """WITH daily AS (
      |  SELECT event_type, ts::DATE AS day, count(*) AS n
      |  FROM events GROUP BY 1, 2
      |), idx AS (
      |  SELECT event_type,
      |    date_diff('day', min(day) OVER (PARTITION BY event_type), day)::BIGINT AS i,
      |    n
      |  FROM daily
      |), slopes AS (
      |  SELECT a.event_type, a.i, b.i AS j,
      |    (b.n - a.n)::DOUBLE / (b.i - a.i) AS slope
      |  FROM idx a JOIN idx b
      |    ON a.event_type = b.event_type AND a.i < b.i
      |), ranked AS (
      |  SELECT event_type, slope,
      |    row_number() OVER (PARTITION BY event_type ORDER BY slope, i, j) AS r,
      |    count(*) OVER (PARTITION BY event_type) AS np
      |  FROM slopes
      |)
      |SELECT event_type, (np + 1) // 2 AS median_rank, np AS n_pairs,
      |  slope AS sen_slope
      |FROM ranked WHERE r = (np + 1) // 2
      |ORDER BY event_type""".stripMargin

  /** Benford first-digit permille constants: round(log10(1+1/d)·1000). */
  val BenfordPermille: Seq[Long] = Seq(301L, 176L, 125L, 97L, 79L, 67L, 58L, 51L, 46L)

  /** Benford's-law audit of the value column — the forensic-accounting
    * screen (Nigrini's digit analysis): naturally-occurring multi-scale
    * amounts follow log10(1+1/d) first-digit frequencies; fabricated or
    * capped data doesn't. Reports observed vs expected permille per
    * leading digit — the audit gate reads the deviation, the engine only
    * promises exact counts (integer permille — no double division).
    *
    * One hash aggregate over one scan; 9 output rows.
    */
  def benfordAudit(spark: SparkSession, dir: String): DataFrame = {
    val expected = array(BenfordPermille.map(lit): _*)
    Tables(spark, dir, "events")
      .filter(col("value") >= 1.0)
      .select(substring(floor(col("value")).cast("string"), 1, 1)
        .cast("long").as("digit"))
      .groupBy("digit").agg(count(lit(1)).as("n"))
      .crossJoin(broadcast(
        Tables(spark, dir, "events").filter(col("value") >= 1.0)
          .agg(count(lit(1)).as("total"))))
      .select(col("digit"), col("n"),
        expr("(1000 * n) DIV total").as("observed_permille"),
        element_at(expected, col("digit").cast("int")).as("benford_permille"))
      .orderBy("digit")
  }

  val benfordAuditSql: String = {
    val cases = BenfordPermille.zipWithIndex
      .map { case (p, i) => s"WHEN ${i + 1} THEN $p" }.mkString(" ")
    s"""WITH digits AS (
       |  SELECT substr(floor(value)::BIGINT::VARCHAR, 1, 1)::BIGINT AS digit
       |  FROM events WHERE value >= 1.0
       |), counts AS (
       |  SELECT digit, count(*) AS n FROM digits GROUP BY digit
       |), tot AS (SELECT sum(n)::BIGINT AS total FROM counts)
       |SELECT digit, n, (1000 * n) // total AS observed_permille,
       |  CASE digit $cases END AS benford_permille
       |FROM counts, tot
       |ORDER BY digit""".stripMargin
  }

  /** Exact-integer daily anomaly flags — days whose count deviates from
    * the per-type mean by more than 2σ. The flag predicate is evaluated
    * in INTEGER arithmetic: |x − μ| > 2σ  ⇔  (k·x − S)² > 4·(k·S₂ − S²)
    * where k = #days, S = Σx, S₂ = Σx² — multiplying through by k²
    * removes every division and square root, so the flag set is exact and
    * engine-independent (the [[Events.hourValueRegression]] moment
    * discipline applied to outlier detection). Products are carried as
    * DECIMAL(38,0): at 1e9 events/day × 400 days the squared deviation
    * reaches ~1e23 — past int64, 24 digits into decimal's 38.
    *
    * μ is reported as one exact division; `side` marks the direction.
    *
    * Scale shape: two hash aggregates (daily counts; per-type moments —
    * the second over a calendar-bounded frame) + a broadcast join back.
    * No window, no sort beyond the bounded output's presentation order.
    */
  def dailyCountAnomalies(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables(spark, dir, "events")
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n"))
    val stats = daily.groupBy("event_type").agg(
      count(lit(1)).as("k"), sum(col("n")).as("s"),
      sum(expr("CAST(n AS DECIMAL(38,0)) * n")).as("s2"))
    daily.join(broadcast(stats), Seq("event_type"))
      .withColumn("dev", expr("CAST(k AS DECIMAL(38,0)) * n - s"))
      .filter(expr("dev * dev > 4 * (CAST(k AS DECIMAL(38,0)) * s2 - CAST(s AS DECIMAL(38,0)) * s)"))
      .select(col("event_type"),
        date_format(col("day"), "yyyy-MM-dd").as("day"), col("n"),
        when(col("dev") > 0, lit("high")).otherwise(lit("low")).as("side"),
        col("k").as("n_days"),
        (col("s").cast("double") / col("k")).as("mu"))
      .orderBy("event_type", "day")
  }

  /** CUSUM drift allowance, expressed as a fraction of the baseline mean:
    * κ = μ_b / CusumSlackDen per observation. A mean-fraction (rather than
    * the textbook σ/2) keeps every quantity RATIONAL, so the whole decision
    * rule evaluates in exact integer arithmetic. */
  val CusumSlackDen = 20L

  /** CUSUM decision interval h, in baseline standard deviations. */
  val CusumH = 5L

  /** Baseline window length in days: the per-type mean/variance are FROZEN
    * on the first `CusumBaselineDays` of the calendar and never updated —
    * the [[graft.ops.Experiment]] PSI discipline (a drifting monitor must
    * not contaminate its own reference). One FULL week, so the
    * [[weekdaySeasonality]] cycle averages out of the baseline mean
    * instead of biasing it (the test calendar spans 30 days; production
    * deployments would use 4+ whole weeks — any multiple of 7 keeps the
    * seasonality-cancellation property). */
  val CusumBaselineDays = 7

  /** The (type, day) count aggregate [[forecastBacktest]] and
    * [[cusumChangepoints]] read. */
  private[graft] def dailyTypeCounts(ev: DataFrame): DataFrame =
    ev.groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n"))

  /** Forecast backtest — the EVALUATION counterpart of the fitted
    * forecasters ([[ewmaDaily]], [[holtDaily]], [[weekdaySeasonality]]):
    * score the standard seasonal-naive baseline ŷ(t) = y(t − 7 days) one
    * step ahead over the whole calendar and report, per event type, the
    * metrics a forecasting change must beat — sMAPE, MAE, and mean bias.
    * A fitted model that cannot beat seasonal-naive on this readout is
    * noise; that comparison is the point of shipping the backtest next
    * to the forecasters.
    *
    * Exactness: MAE/bias numerators are INTEGER sums; each sMAPE term
    * 2|y−ŷ|/(y+ŷ) is one per-row IEEE division cast to DECIMAL(24,12)
    * before summation (the zipfFit order-free-moment discipline), so
    * every aggregate is reorder-invariant and each metric is one double
    * division, bit-identical cross-engine.
    *
    * Scale shape: one corpus scan → the (type, day) aggregate; the
    * lag-7 join and the metric rollup run on the calendar-bounded daily
    * table only.
    */
  def forecastBacktest(spark: SparkSession, dir: String): DataFrame = {
    val daily = dailyTypeCounts(Tables(spark, dir, "events"))
    val prev = daily.select(col("event_type"),
      date_add(col("day"), 7).as("day"), col("n").as("yhat"))
    val err = col("n") - col("yhat")
    daily.join(prev, Seq("event_type", "day"))
      .select(col("event_type"), col("n"), col("yhat"),
        err.as("err"), abs(err).as("aerr"),
        (lit(2.0) * abs(err).cast("double") / (col("n") + col("yhat")))
          .cast("decimal(24,12)").as("sterm"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_days"),
        round(sum("sterm").cast("double") / count(lit(1)), 6).as("smape"),
        round(sum("aerr").cast("double") / count(lit(1)), 6).as("mae"),
        round(sum("err").cast("double") / count(lit(1)), 6).as("bias"))
      .orderBy("event_type")
  }

  val forecastBacktestSql: String =
    """WITH daily AS (
      |  SELECT event_type, ts::DATE AS day, count(*) AS n
      |  FROM events GROUP BY 1, 2
      |), joined AS (
      |  SELECT c.event_type, c.n, p.n AS yhat, c.n - p.n AS err,
      |    abs(c.n - p.n) AS aerr,
      |    (2.0 * abs(c.n - p.n)::DOUBLE / (c.n + p.n))::DECIMAL(24,12) AS sterm
      |  FROM daily c
      |  JOIN daily p ON p.event_type = c.event_type
      |              AND p.day + INTERVAL 7 DAY = c.day
      |)
      |SELECT event_type, count(*) AS n_days,
      |  round(sum(sterm)::DOUBLE / count(*), 6) AS smape,
      |  round(sum(aerr)::DOUBLE / count(*), 6) AS mae,
      |  round(sum(err)::DOUBLE / count(*), 6) AS bias
      |FROM joined
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  /** Tabular CUSUM changepoint detection over per-type daily counts — the
    * pipeline-health monitor "did this event type's volume shift after the
    * baseline month?". Classic two-sided CUSUM: S⁺_t = max(0, S⁺_{t−1} +
    * (x_t − μ_b − κ)), S⁻ mirrored, alarm when either exceeds h·σ_b. The
    * max(0,·) recursion is NOT a plain running sum, but it has the exact
    * prefix form S⁺_t = C_t − min(0, min_{j≤t} C_j) with C the cumulative
    * sum of the centered series — two windows, no recursion.
    *
    * Exactness: with κ = μ_b/D (D = [[CusumSlackDen]]) every term scales to
    * integers by D·k_b: y⁺_t = D·k_b·x_t − (D+1)·S_b, and the alarm
    * S⁺ > h·σ_b·D·k_b squares to S⁺² > h²·D²·(k_b·S₂_b − S_b²) — divisions
    * and square roots multiplied away (the [[dailyCountAnomalies]] moment
    * discipline), so the flag set is exact and engine-independent. Products
    * are carried as DECIMAL(38,0): at 1e9 events/day the cumulative term
    * reaches ~1e16 and its square ~1e32 — inside decimal's 38 digits.
    *
    * Scale shape: one corpus scan into the (type, day) hash aggregate;
    * the baseline moments aggregate over ≤ `CusumBaselineDays` rows per
    * type and broadcast back; both cumsum windows partition by type over
    * calendar-bounded frames (O(days), never O(corpus)).
    */
  def cusumChangepoints(spark: SparkSession, dir: String): DataFrame = {
    val daily = dailyTypeCounts(Tables(spark, dir, "events"))
    // frozen baseline: per-type integer moments over the first
    // CusumBaselineDays of the calendar, carrying `cut` (the first
    // monitoring day)
    val b0 = daily.agg(min(col("day")).as("d0"))
    val base = daily.crossJoin(broadcast(b0))
      .filter(datediff(col("day"), col("d0")) < CusumBaselineDays)
      .groupBy("event_type").agg(
        count(lit(1)).as("kb"), sum(col("n")).as("sb"),
        sum(expr("CAST(n AS DECIMAL(38,0)) * n")).as("s2b"),
        date_add(min(col("d0")), CusumBaselineDays).as("cut"))
    val d = CusumSlackDen
    val w = Window.partitionBy("event_type").orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val scored = daily
      .join(broadcast(base), Seq("event_type"))
      .filter(col("day") >= col("cut"))
      .withColumn("yhi", expr(
        s"CAST($d AS DECIMAL(38,0)) * kb * n - ${d + 1} * sb"))
      .withColumn("ylo", expr(
        s"CAST(${d - 1} AS DECIMAL(38,0)) * sb - $d * kb * n"))
      .withColumn("chi", sum(col("yhi")).over(w))
      .withColumn("clo", sum(col("ylo")).over(w))
      .withColumn("spos", col("chi") - least(min(col("chi")).over(w), lit(0)))
      .withColumn("sneg", col("clo") - least(min(col("clo")).over(w), lit(0)))
      .withColumn("thr", expr(
        s"CAST(${CusumH * CusumH} AS DECIMAL(38,0)) * ${d * d} " +
          "* (kb * s2b - CAST(sb AS DECIMAL(38,0)) * sb)"))
    scored
      .filter(col("spos") * col("spos") > col("thr") ||
        col("sneg") * col("sneg") > col("thr"))
      .select(col("event_type"),
        date_format(col("day"), "yyyy-MM-dd").as("day"), col("n"),
        when(col("spos") * col("spos") > col("thr"),
          when(col("sneg") * col("sneg") > col("thr"), lit("both"))
            .otherwise(lit("high")))
          .otherwise(lit("low")).as("side"))
      .orderBy("event_type", "day")
  }

  val cusumChangepointsSql: String = {
    val d = CusumSlackDen
    s"""WITH daily AS (
      |  SELECT event_type, ts::DATE AS day, count(*) AS n
      |  FROM events GROUP BY 1, 2
      |), b0 AS (SELECT min(day) AS d0 FROM daily
      |), base AS (
      |  SELECT event_type, count(*) AS kb, sum(n) AS sb,
      |    sum(n::HUGEINT * n) AS s2b
      |  FROM daily, b0 WHERE date_diff('day', d0, day) < $CusumBaselineDays
      |  GROUP BY 1
      |), c AS (
      |  SELECT d.event_type, d.day, d.n, kb, sb, s2b,
      |    sum($d::HUGEINT * kb * n - ${d + 1} * sb) OVER w AS chi,
      |    sum(${d - 1}::HUGEINT * sb - $d * kb * n) OVER w AS clo
      |  FROM daily d JOIN base USING (event_type), b0
      |  WHERE date_diff('day', d0, d.day) >= $CusumBaselineDays
      |  WINDOW w AS (PARTITION BY d.event_type ORDER BY d.day
      |               ROWS UNBOUNDED PRECEDING)
      |), s AS (
      |  SELECT event_type, day, n,
      |    chi - least(min(chi) OVER w, 0) AS spos,
      |    clo - least(min(clo) OVER w, 0) AS sneg,
      |    ${CusumH * CusumH}::HUGEINT * ${d * d}
      |      * (kb::HUGEINT * s2b - sb::HUGEINT * sb) AS thr
      |  FROM c
      |  WINDOW w AS (PARTITION BY event_type ORDER BY day
      |               ROWS UNBOUNDED PRECEDING)
      |)
      |SELECT event_type, strftime(day, '%Y-%m-%d') AS day, n,
      |  CASE WHEN spos * spos > thr AND sneg * sneg > thr THEN 'both'
      |       WHEN spos * spos > thr THEN 'high' ELSE 'low' END AS side
      |FROM s WHERE spos * spos > thr OR sneg * sneg > thr
      |ORDER BY event_type, day""".stripMargin
  }

  val dailyCountAnomaliesSql: String =
    """WITH daily AS (
      |  SELECT event_type, ts::DATE AS day, count(*) AS n
      |  FROM events GROUP BY 1, 2
      |), stats AS (
      |  SELECT event_type, count(*) AS k, sum(n) AS s,
      |    sum(n::HUGEINT * n) AS s2
      |  FROM daily GROUP BY 1
      |)
      |SELECT d.event_type, strftime(d.day, '%Y-%m-%d') AS day, d.n,
      |  CASE WHEN k::HUGEINT * n - s > 0 THEN 'high' ELSE 'low' END AS side,
      |  k AS n_days, s::DOUBLE / k AS mu
      |FROM daily d JOIN stats USING (event_type)
      |WHERE (k::HUGEINT * n - s) * (k::HUGEINT * n - s)
      |      > 4 * (k::HUGEINT * s2 - s::HUGEINT * s)
      |ORDER BY d.event_type, d.day""".stripMargin
}
