package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The analytic-window family: running totals, top-n per group, lag
  * deltas, and ntile bucketing — the `WindowExec` surface that the
  * aggregate/join suites never exercise.
  *
  * Every window here PARTITIONS BY a real key, so at 100 TB each state
  * fits one task and the only movement is the hash shuffle to co-locate
  * partitions; none of these is a global ordered window (the
  * one-task-sorts-everything anti-pattern — see `q15TopSupplier`'s note
  * for how a global extreme is taken without one). Determinism: every
  * `orderBy` carries a unique tie-break column (`event_id`,
  * `o_orderkey`), so lag/ntile/row_number agree across engines even on
  * duplicate sort keys — the same rule that fixed the round-2
  * `events_sessions` hash mismatch.
  */
object Analytics {

  /** Running (cumulative) revenue per nation by order month. The monthly
    * aggregate is rounded BEFORE the running sum, so both engines
    * accumulate identical doubles in the window's defined order and the
    * cumulative values can't drift apart.
    */
  def runningRevenue(spark: SparkSession, dir: String): DataFrame = {
    val monthly = Tables(spark, dir, "orders")
      .join(broadcast(Tables(spark, dir, "customer")), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables(spark, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"), date_format(col("o_orderdate"), "yyyy-MM").as("month"))
      .agg(round(sum(col("o_totalprice")), 2).as("revenue"))
    val w = Window.partitionBy("n_name").orderBy("month")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    monthly
      .withColumn("cum_revenue", round(sum(col("revenue")).over(w), 2))
      .orderBy("n_name", "month")
  }

  val runningRevenueSql: String =
    """SELECT n_name, month, revenue,
      |  round(sum(revenue) OVER (PARTITION BY n_name ORDER BY month
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS cum_revenue
      |FROM (
      |  SELECT n_name, strftime(o_orderdate, '%Y-%m') AS month,
      |    round(sum(o_totalprice), 2) AS revenue
      |  FROM orders
      |  JOIN customer ON o_custkey = c_custkey
      |  JOIN nation ON c_nationkey = n_nationkey
      |  GROUP BY n_name, month)
      |ORDER BY n_name, month""".stripMargin

  /** Top-3 orders by value per customer — the canonical top-n-per-group:
    * `row_number` over a per-customer window, filtered to n. Unlike a
    * global `orderBy().limit()`, this keeps all customers; the window
    * shuffles once on the partition key and each task ranks its own
    * customers.
    */
  def topOrdersPerCustomer(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    Tables(spark, dir, "orders")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select(col("o_custkey"), col("rn"), col("o_orderkey"), col("o_totalprice"))
      .orderBy("o_custkey", "rn")
  }

  val topOrdersPerCustomerSql: String =
    """SELECT o_custkey, rn, o_orderkey, o_totalprice
      |FROM (
      |  SELECT o_custkey, o_orderkey, o_totalprice,
      |    CAST(row_number() OVER (PARTITION BY o_custkey
      |      ORDER BY o_totalprice DESC, o_orderkey) AS INT) AS rn
      |  FROM orders)
      |WHERE rn <= 3
      |ORDER BY o_custkey, rn""".stripMargin

  /** Inter-event gap statistics per user — `lag` over the per-user event
    * stream, then an aggregate of the deltas. Gaps are computed in integer
    * microseconds (`unix_micros` ≙ DuckDB `epoch_us`) so the lag delta is
    * exact; only the final average becomes a rounded double.
    */
  def userEventGaps(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    Tables(spark, dir, "events")
      .withColumn("gap_us", unix_micros(col("ts")) - lag(unix_micros(col("ts")), 1).over(w))
      .filter(col("gap_us").isNotNull)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_gaps"),
        round(avg(col("gap_us")) / 1e6, 2).as("avg_gap_sec"),
        max(col("gap_us")).as("max_gap_us"))
      // integer division (`div` ≙ DuckDB `//`): Column./ on longs is
      // double division and would change both value and dtype
      .withColumn("max_gap_sec", expr("max_gap_us div 1000000"))
      .drop("max_gap_us")
      .orderBy("user_id")
  }

  val userEventGapsSql: String =
    """SELECT user_id, count(*) AS n_gaps,
      |  round(avg(gap_us) / 1e6, 2) AS avg_gap_sec,
      |  max(gap_us) // 1000000 AS max_gap_sec
      |FROM (
      |  SELECT user_id,
      |    epoch_us(ts) - lag(epoch_us(ts), 1) OVER (PARTITION BY user_id
      |      ORDER BY ts, event_id) AS gap_us
      |  FROM events)
      |WHERE gap_us IS NOT NULL
      |GROUP BY user_id
      |ORDER BY user_id""".stripMargin

  /** Value quartiles per event type — `ntile(4)` bucket assignment, then
    * the per-bucket profile (count, min, max). The tie-break on
    * `event_id` makes bucket boundaries engine-independent.
    *
    * Scale note: event_type is LOW-cardinality, so each window partition
    * is ~1/|types| of the table — the one window in this family whose
    * per-partition sort is large. At 100 TB, assign quantile buckets from
    * an `approx_percentile` histogram join instead of an exact ntile (the
    * [[Events.valuePercentilesApprox]] pattern); the exact form is kept
    * here as the correctness anchor.
    */
  def valueQuartiles(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("event_type").orderBy(col("value"), col("event_id"))
    Tables(spark, dir, "events")
      .withColumn("quartile", ntile(4).over(w))
      .groupBy("event_type", "quartile")
      .agg(count(lit(1)).as("n"),
        round(min(col("value")), 2).as("lo"),
        round(max(col("value")), 2).as("hi"))
      .orderBy("event_type", "quartile")
  }

  val valueQuartilesSql: String =
    """SELECT event_type, quartile, count(*) AS n,
      |  round(min(value), 2) AS lo, round(max(value), 2) AS hi
      |FROM (
      |  SELECT event_type, value,
      |    CAST(ntile(4) OVER (PARTITION BY event_type
      |      ORDER BY value, event_id) AS INT) AS quartile
      |  FROM events)
      |GROUP BY event_type, quartile
      |ORDER BY event_type, quartile""".stripMargin

  /** The ranking-function family with REAL ties: rank, dense_rank,
    * percent_rank, cume_dist over the integer value bucket within
    * (event_type, day). Ordering by the (tied) bucket rather than a
    * unique key is the point — rank vs dense_rank only differ under ties,
    * and tie groups make every rank column a pure function of the ORDER
    * KEY VALUE, hence deterministic per row even though the physical row
    * order within a tie is not. percent_rank = (rank−1)/(n−1) and
    * cume_dist = peers≤/n are single exact integer divisions — bit-equal
    * cross-engine, no rounding needed.
    *
    * Scale: the window partitions on (event_type, day) — O(days×types)
    * partitions each bounded by a day's traffic per type, never the
    * one-partition-per-type sort the exact `value_quartiles` anchor
    * accepts (and its approx twin avoids).
    */
  def rankFamily(spark: SparkSession, dir: String): DataFrame = {
    val day = date_format(col("ts"), "yyyy-MM-dd")
    val vb = floor(col("value")).cast("long")
    val w = Window.partitionBy("event_type", "day").orderBy("vbucket")
    Tables(spark, dir, "events")
      .select(col("event_id"), col("event_type"), day.as("day"), vb.as("vbucket"))
      .select(col("event_id"), col("event_type"), col("day"), col("vbucket"),
        rank().over(w).as("rnk"),
        dense_rank().over(w).as("drnk"),
        percent_rank().over(w).as("prnk"),
        cume_dist().over(w).as("cdist"))
      .orderBy("event_id")
  }

  val rankFamilySql: String =
    """SELECT event_id, event_type, day, vbucket,
      |  rank() OVER w AS rnk,
      |  dense_rank() OVER w AS drnk,
      |  percent_rank() OVER w AS prnk,
      |  cume_dist() OVER w AS cdist
      |FROM (
      |  SELECT event_id, event_type, strftime(ts, '%Y-%m-%d') AS day,
      |    floor(value)::BIGINT AS vbucket
      |  FROM events)
      |WINDOW w AS (PARTITION BY event_type, day ORDER BY vbucket)
      |ORDER BY event_id""".stripMargin

  /** Value-tier thresholds for [[scd2ValueTiers]] — chosen at the
    * corpus's empirical terciles so every tier is populated. */
  val TierMid = 20.0
  val TierHigh = 55.0

  /** SCD2 dimension versioning — the warehouse pattern for "what tier was
    * this user in WHEN": each user's event stream collapses to
    * validity-interval rows (tier, valid_from, valid_to), a new row
    * opening whenever the tier CHANGES (gaps-and-islands via a running
    * sum of change flags). valid_to is the next segment's start, NULL on
    * the open current segment — the half-open convention a temporal join
    * (`ts >= valid_from AND (ts < valid_to OR valid_to IS NULL)`)
    * consumes directly.
    *
    * Scale: both windows partition by user_id (high-cardinality,
    * per-user row counts bounded), then one per-(user, segment) hash
    * aggregate — the [[graft.ops.Events.sessions]] exchange shape.
    */
  def scd2ValueTiers(spark: SparkSession, dir: String): DataFrame = {
    val tier = when(col("value") < TierMid, "low")
      .when(col("value") < TierHigh, "mid").otherwise("high")
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val seg = Tables(spark, dir, "events")
      .select(col("user_id"), col("ts"), col("event_id"), tier.as("tier"))
      .withColumn("chg",
        when(lag(col("tier"), 1).over(w).isNull ||
          col("tier") =!= lag(col("tier"), 1).over(w), 1L).otherwise(0L))
      .withColumn("seg_no", sum(col("chg")).over(w))
      .groupBy("user_id", "seg_no")
      .agg(min(col("tier")).as("tier"), min(col("ts")).as("valid_from"),
        count(lit(1)).as("n_events"))
    val ws = Window.partitionBy("user_id").orderBy("seg_no")
    seg.withColumn("valid_to", lead(col("valid_from"), 1).over(ws))
      .select("user_id", "seg_no", "tier", "valid_from", "valid_to", "n_events")
      .orderBy("user_id", "seg_no")
  }

  val scd2ValueTiersSql: String =
    s"""WITH tiered AS (
       |  SELECT user_id, ts, event_id,
       |    CASE WHEN value < $TierMid THEN 'low'
       |         WHEN value < $TierHigh THEN 'mid' ELSE 'high' END AS tier
       |  FROM events
       |), flagged AS (
       |  SELECT user_id, ts, event_id, tier,
       |    CASE WHEN lag(tier, 1) OVER w IS NULL
       |           OR tier <> lag(tier, 1) OVER w THEN 1 ELSE 0 END AS chg
       |  FROM tiered
       |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
       |), numbered AS (
       |  SELECT user_id, ts, tier,
       |    sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
       |      ROWS UNBOUNDED PRECEDING) AS seg_no
       |  FROM flagged
       |), seg AS (
       |  SELECT user_id, seg_no, min(tier) AS tier, min(ts) AS valid_from,
       |    count(*) AS n_events
       |  FROM numbered GROUP BY user_id, seg_no
       |)
       |SELECT user_id, seg_no::BIGINT AS seg_no, tier, valid_from,
       |  lead(valid_from, 1) OVER (PARTITION BY user_id ORDER BY seg_no)
       |    AS valid_to,
       |  n_events
       |FROM seg
       |ORDER BY user_id, seg_no""".stripMargin

  /** The 100-TB quartile path [[valueQuartiles]]'s scale note promises:
    * bucket boundaries from a one-pass `percentile_approx` sketch (fixed
    * memory per group, mergeable across partitions), broadcast back, and
    * bucket membership decided by three comparisons — two hash aggregates
    * and zero sorts, where the exact `ntile` sorts ~1/|types| of the table
    * on a single task per event type.
    *
    * Semantics delta vs the exact form, by construction: boundaries carry
    * the sketch's ≤ n/accuracy rank error, and ties AT a boundary all land
    * in the lower bucket (ntile splits equal values to keep buckets
    * exactly even). Both effects are bounded and spec-pinned
    * (AnalyticsSpec); sketch internals are engine-specific → rows-only
    * oracle.
    */
  def valueQuartilesApprox(spark: SparkSession, dir: String,
      accuracy: Int = 10000): DataFrame = {
    val ev = Tables(spark, dir, "events")
    val bounds = ev.groupBy("event_type")
      .agg(expr(s"percentile_approx(value, array(0.25D, 0.5D, 0.75D), $accuracy)").as("q"))
    ev.join(broadcast(bounds), Seq("event_type"))
      .withColumn("quartile",
        lit(1) + (col("value") > col("q").getItem(0)).cast("int")
               + (col("value") > col("q").getItem(1)).cast("int")
               + (col("value") > col("q").getItem(2)).cast("int"))
      .groupBy("event_type", "quartile")
      .agg(count(lit(1)).as("n"),
        round(min(col("value")), 2).as("lo"),
        round(max(col("value")), 2).as("hi"))
      .orderBy("event_type", "quartile")
  }

  /** Trailing 7-day revenue per customer — the RANGE-frame window the
    * family's other members never exercise: the frame is bounded by the
    * ORDER-KEY VALUE (orders within the past 6 days), not by row
    * position, so same-day peer rows always share one frame and no
    * tie-break is needed (ROWS frames would double-count or split ties
    * nondeterministically). Spark's rangeBetween takes a numeric order
    * key: epoch seconds, with −6 days = −518400 s — identical to the
    * oracle's `RANGE BETWEEN INTERVAL 6 DAYS PRECEDING` on the timestamp
    * in UTC. The moving money sum runs in exact DECIMAL (frame sums are
    * recomputed or slid engine-internally; with decimal both give the
    * same exact value — a double moving sum would accumulate slide-order
    * error). Partitioned per customer: at 100 TB each frame state is one
    * customer's order history, co-located by the hash exchange.
    */
  def rollingRevenue7d(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_orderdate").cast("timestamp").cast("long"))
      .rangeBetween(-6L * 86400L, 0L)
    Tables(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"),
        col("o_totalprice").cast("decimal(15,2)").as("price"))
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"),
        round(sum(col("price")).over(w), 2).cast("double").as("rev_7d"),
        count(lit(1)).over(w).as("n_7d"))
      .orderBy("o_orderkey")
  }

  /** Temporal join against the SCD2 dimension — "revenue BY THE TIER THE
    * USER WAS IN at purchase time", the query the validity intervals
    * exist to serve. The textbook formulation is a range join
    * (`user_id = user_id AND ts >= valid_from AND (ts < valid_to OR
    * valid_to IS NULL)` — the oracle keeps it); the engine runs the
    * merge-streams as-of shape instead: union the dimension's
    * version-open events with the facts, one per-user window carries the
    * last opened tier forward, facts read it — one shuffle on user_id,
    * no range join, no per-row subquery ([[graft.ops.AsofJoin]]'s plan
    * with INCLUSIVE semantics: a version opening exactly at the fact's
    * ts applies to it, so the dimension row sorts BEFORE the fact at
    * equal time — the opposite tie rule from asof_last_click's strict
    * prior-match, which is why this is not a call to that helper).
    *
    * Every purchase matches exactly one interval by construction (the
    * first segment opens at the user's first event). Money sums in exact
    * DECIMAL per the repo convention.
    */
  def scd2TemporalJoin(spark: SparkSession, dir: String): DataFrame = {
    val dim = scd2ValueTiers(spark, dir)
      .select(col("user_id"), col("valid_from").as("t"), col("tier"))
      .withColumn("pri", lit(0))
      .withColumn("value", lit(null).cast("double"))
    val facts = Tables(spark, dir, "events")
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("t"), lit(null).cast("string").as("tier"),
        lit(1).as("pri"), col("value"))
    val w = Window.partitionBy("user_id").orderBy(col("t"), col("pri"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    dim.unionByName(facts)
      .withColumn("cur_tier", last(col("tier"), ignoreNulls = true).over(w))
      .filter(col("pri") === 1)
      .groupBy(col("cur_tier").as("tier"))
      .agg(count(lit(1)).as("n_purchases"),
        round(sum(col("value").cast("decimal(15,2)")), 2).cast("double").as("revenue"))
      .orderBy("tier")
  }

  val scd2TemporalJoinSql: String =
    s"""WITH tiered AS (
       |  SELECT user_id, ts, event_id,
       |    CASE WHEN value < $TierMid THEN 'low'
       |         WHEN value < $TierHigh THEN 'mid' ELSE 'high' END AS tier
       |  FROM events
       |), flagged AS (
       |  SELECT user_id, ts, event_id, tier,
       |    CASE WHEN lag(tier, 1) OVER w IS NULL
       |           OR tier <> lag(tier, 1) OVER w THEN 1 ELSE 0 END AS chg
       |  FROM tiered
       |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
       |), numbered AS (
       |  SELECT user_id, ts, tier,
       |    sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
       |      ROWS UNBOUNDED PRECEDING) AS seg_no
       |  FROM flagged
       |), seg AS (
       |  SELECT user_id, seg_no, min(tier) AS tier, min(ts) AS valid_from
       |  FROM numbered GROUP BY user_id, seg_no
       |), dim AS (
       |  SELECT user_id, tier, valid_from,
       |    lead(valid_from, 1) OVER (PARTITION BY user_id ORDER BY seg_no)
       |      AS valid_to
       |  FROM seg
       |)
       |SELECT d.tier, count(*) AS n_purchases,
       |  CAST(round(sum(f.value::DECIMAL(15,2)), 2) AS DOUBLE) AS revenue
       |FROM (SELECT user_id, ts, value FROM events
       |      WHERE event_type = 'purchase') f
       |JOIN dim d ON d.user_id = f.user_id
       |  AND f.ts >= d.valid_from
       |  AND (d.valid_to IS NULL OR f.ts < d.valid_to)
       |GROUP BY d.tier
       |ORDER BY d.tier""".stripMargin

  val rollingRevenue7dSql: String =
    """SELECT o_orderkey, o_custkey, o_orderdate,
      |  CAST(round(sum(o_totalprice::DECIMAL(15,2)) OVER w, 2) AS DOUBLE) AS rev_7d,
      |  count(*) OVER w AS n_7d
      |FROM orders
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate
      |  RANGE BETWEEN INTERVAL 6 DAYS PRECEDING AND CURRENT ROW)
      |ORDER BY o_orderkey""".stripMargin

  /** Revenue bucket width (in cents) for the Pareto boundary search —
    * bounds the bucket table at max_customer_revenue / width rows. */
  val ParetoBucketCents = 500000L // $5,000

  /** Pareto top-mass selection — "how many top customers carry HALF the
    * revenue?", the 80/20 question every revenue dashboard asks. The
    * textbook answer is a GLOBAL customer sort + running share — a
    * single-task window over the customer dimension. This is the
    * two-phase form instead (the [[graft.ops.Sampling.sizeBalancedShards]]
    * discipline pointed downhill): bucket customers by revenue band,
    * cumulate the BOUNDED bucket table top-down to find the boundary
    * band, and rank ONLY the boundary band's customers. Exact-DECIMAL
    * arithmetic end to end; the target test `2·cum ≥ T` is
    * division-free; the output share is one exact division.
    *
    * Scale shape: one orders scan (customer-revenue hash agg), a window
    * over O(max_rev / band) bucket rows, a rank window over ONE band's
    * customers — never an all-customer sort. Provably equal to the global
    * cumsum (the oracle states exactly that).
    */
  def revenuePareto(spark: SparkSession, dir: String): DataFrame = {
    val rev = Tables(spark, dir, "orders")
      .groupBy(col("o_custkey"))
      .agg(sum(col("o_totalprice").cast("decimal(15,2)")).as("rev"))
      .withColumn("cents", expr("CAST(rev * 100 AS BIGINT)"))
      .withColumn("bkt", expr(s"cents div $ParetoBucketCents"))
    val total = rev.agg(sum(col("rev")).as("t"), count(lit(1)).as("n_cust"))
    val bAgg = rev.groupBy("bkt")
      .agg(count(lit(1)).as("bc"), sum(col("rev")).as("bs"))
    // top-down cumulative over the BOUNDED bucket table only
    val wDesc = Window.orderBy(col("bkt").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val bCum = bAgg
      .withColumn("p", sum(col("bs")).over(wDesc))
      .withColumn("pc", sum(col("bc")).over(wDesc))
      .crossJoin(broadcast(total))
      // the unique boundary band: prefix through it reaches the target,
      // prefix strictly above it does not
      .filter(col("p") * 2 >= col("t") && (col("p") - col("bs")) * 2 < col("t"))
      .select(col("bkt").as("b_star"), (col("p") - col("bs")).as("above_rev"),
        (col("pc") - col("bc")).as("above_cnt"), col("t"), col("n_cust"))
    val wInBand = Window.partitionBy("b_star")
      .orderBy(col("rev").desc, col("o_custkey"))
    val ranked = rev.join(broadcast(bCum), col("bkt") === col("b_star"))
      .withColumn("run", sum(col("rev")).over(
        wInBand.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("rk", row_number().over(wInBand))
    ranked.filter((col("above_rev") + col("run")) * 2 >= col("t"))
      .orderBy("rk").limit(1)
      .select(
        (col("above_cnt") + col("rk")).as("n_customers"),
        col("n_cust"),
        (col("above_rev") + col("run")).cast("double").as("covered_rev"),
        col("t").cast("double").as("total_rev"),
        ((col("above_rev") + col("run")).cast("double") /
          col("t").cast("double")).as("share"))
  }

  /** Oracle: the textbook global ranking — running revenue over ALL
    * customers ordered (rev DESC, custkey), first rank reaching half.
    * Equality is the two-phase boundary-band claim. */
  val revenueParetoSql: String =
    """WITH rev AS (
      |  SELECT o_custkey, sum(o_totalprice::DECIMAL(15,2)) AS rev
      |  FROM orders GROUP BY 1
      |), t AS (
      |  SELECT sum(rev) AS t, count(*) AS n_cust FROM rev
      |), r AS (
      |  SELECT o_custkey, rev,
      |    sum(rev) OVER (ORDER BY rev DESC, o_custkey
      |      ROWS UNBOUNDED PRECEDING) AS cum,
      |    row_number() OVER (ORDER BY rev DESC, o_custkey) AS rk
      |  FROM rev
      |)
      |SELECT rk AS n_customers, n_cust,
      |  cum::DOUBLE AS covered_rev, t::DOUBLE AS total_rev,
      |  cum::DOUBLE / t::DOUBLE AS share
      |FROM r, t
      |WHERE cum * 2 >= t
      |ORDER BY rk LIMIT 1""".stripMargin

  /** SLA breach threshold for [[fulfillmentSla]], in days. */
  val SlaDays = 30

  /** Order-fulfillment SLA readout — latency from order date to the FIRST
    * line shipment, profiled per priority class: the operations query
    * behind "are URGENT orders actually shipping faster, and how many
    * breach the 30-day SLA?". Exact integer day latencies; the median is
    * the exact interpolating percentile (the [[Events.valuePercentiles]]
    * oracle-parity convention).
    *
    * Scale shape: ONE fact-fact equi-join on the order key (at 100 TB the
    * [[StorageLayout]] bucketed layout makes it shuffle-free), a per-order
    * min aggregate riding the same key, then a |priorities|-bounded
    * rollup. The per-priority percentile is the one frame that sees more
    * than |priorities| rows — at production scale swap in
    * percentile_approx (the [[Analytics.valueQuartilesApprox]] twin
    * convention); the exact form is the correctness anchor at test SF.
    */
  def fulfillmentSla(spark: SparkSession, dir: String): DataFrame = {
    val perOrder = Tables(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_shipdate"))
      .join(Tables(spark, dir, "orders").select(col("o_orderkey"),
        col("o_orderpriority"), col("o_orderdate")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderkey", "o_orderpriority", "o_orderdate")
      .agg(min(col("l_shipdate")).as("first_ship"))
      .withColumn("lat_days",
        datediff(col("first_ship"), col("o_orderdate")).cast("long"))
    perOrder.groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_orders"),
        round(expr("percentile(lat_days, 0.5)"), 2).as("p50_days"),
        max(col("lat_days")).as("max_days"),
        sum((col("lat_days") > SlaDays).cast("long")).as("n_breached"))
      .orderBy("o_orderpriority")
  }

  val fulfillmentSlaSql: String =
    s"""WITH per_order AS (
       |  SELECT o.o_orderkey, o.o_orderpriority,
       |    date_diff('day', o.o_orderdate::DATE, min(l.l_shipdate)::DATE)
       |      AS lat_days
       |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
       |  GROUP BY o.o_orderkey, o.o_orderpriority, o.o_orderdate
       |)
       |SELECT o_orderpriority, count(*) AS n_orders,
       |  round(quantile_cont(lat_days, 0.5), 2) AS p50_days,
       |  max(lat_days) AS max_days,
       |  count(*) FILTER (lat_days > $SlaDays) AS n_breached
       |FROM per_order GROUP BY 1
       |ORDER BY o_orderpriority""".stripMargin

  /** Skyline (Pareto frontier) of orders under "cheaper is better, newer
    * is better": the non-dominated set — no other order is both
    * cheaper-or-equal AND newer-or-equal with one strict. The classic
    * multi-criteria operator (Börzsönyi et al., ICDE'01) vanilla SQL can
    * only state as a quadratic NOT EXISTS.
    *
    * Dominance collapse: within one day only the day's cheapest order can
    * survive (any same-day cheaper row dominates on the strict price), so
    * phase 1 reduces the corpus to one (day, min_price) point per calendar
    * day — a hash aggregate, after which the frontier test runs on a
    * CALENDAR-BOUNDED frame (the [[TimeSeries]] discipline): point r
    * survives iff its price undercuts every strictly-newer day's minimum,
    * i.e. `price < min(price) OVER (ORDER BY day DESC … 1 PRECEDING)`.
    * The skyline days then re-attach to the corpus by (day, price)
    * equi-join (broadcast: |skyline| ≤ |days|) to report multiplicity.
    *
    * General-dimension note (in-code contract): when NEITHER dimension has
    * a bounded domain, phase 1 becomes grid-cell local skylines (bucket by
    * one dim, window within cell, prefix-min across the O(cells) summary —
    * the [[Sampling.sizeBalancedShards]] two-phase shape). The calendar
    * dimension here makes that machinery unnecessary: the post-aggregate
    * frame IS the bounded summary.
    */
  def skylineOrders(spark: SparkSession, dir: String): DataFrame = {
    val orders = Tables(spark, dir, "orders")
    // the frontier filter over the (day, min price) collapse
    val wNewer = Window.orderBy(col("day").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val sky = orders.groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(min(col("o_totalprice")).as("price"))
      .withColumn("best_newer", min(col("price")).over(wNewer))
      .filter(col("best_newer").isNull || col("price") < col("best_newer"))
      .select("day", "price")
    orders
      .join(broadcast(sky),
        to_date(col("o_orderdate")) === col("day") &&
          col("o_totalprice") === col("price"))
      .groupBy(date_format(col("day"), "yyyy-MM-dd").as("day"), col("price"))
      .agg(count(lit(1)).as("n_orders"),
        min(col("o_orderkey")).as("first_orderkey"))
      .orderBy("day")
  }

  /** Oracle: the quadratic textbook statement — NOT EXISTS a dominating
    * order. Equality is the dominance-collapse + prefix-min claim. */
  val skylineOrdersSql: String =
    """WITH o AS (
      |  SELECT o_orderkey, o_totalprice AS price, o_orderdate::DATE AS day
      |  FROM orders
      |), sky AS (
      |  SELECT day, price FROM o r
      |  WHERE NOT EXISTS (
      |    SELECT 1 FROM o s
      |    WHERE s.price <= r.price AND s.day >= r.day
      |      AND (s.price < r.price OR s.day > r.day))
      |  GROUP BY day, price
      |)
      |SELECT strftime(s.day, '%Y-%m-%d') AS day, s.price,
      |  count(*) AS n_orders, min(o.o_orderkey) AS first_orderkey
      |FROM sky s JOIN o ON o.day = s.day AND o.price = s.price
      |GROUP BY 1, 2 ORDER BY 1""".stripMargin
}
