package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Skew-mitigation patterns, written as exact-result operators so the
  * DuckDB oracle can verify them: salting changes the SHUFFLE LAYOUT, never
  * the answer.
  */
object Skew {

  val Salts = 16

  /** Salted fact⋈dim join: enrich each event with its user's first-seen
    * timestamp, then aggregate event age per type.
    *
    * The pattern under test: when the dim side is too large to broadcast
    * and fact keys are skewed (one hot user floods a reducer), replicate
    * each dim row `Salts` times and give each fact row a deterministic salt
    * — the join key becomes (user_id, salt), spreading a hot key over
    * `Salts` partitions. AQE's skew-join split handles moderate skew
    * automatically; explicit salting is the portable form that also works
    * for the stateful/streaming joins AQE can't rewrite. Results are
    * byte-identical to the unsalted join.
    */
  def saltedUserAge(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir, "events")
    val userFirst = ev.groupBy("user_id").agg(min(col("ts")).as("first_ts"))
    // dim side: replicate per salt value
    val saltedDim = userFirst.select(col("user_id"), col("first_ts"),
      explode(sequence(lit(0), lit(Salts - 1))).as("_salt"))
    // fact side: deterministic salt (hash of a high-cardinality column)
    val saltedFact = ev.withColumn("_salt",
      pmod(xxhash64(col("event_id")), lit(Salts)).cast("int"))
    saltedFact.join(saltedDim, Seq("user_id", "_salt"))
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n"),
        round(avg((unix_micros(col("ts")) - unix_micros(col("first_ts")))
          .cast("double") / 1e6), 2).as("avg_age_sec"))
      .orderBy("event_type")
  }

  val saltedUserAgeSql: String =
    """SELECT event_type, count(*) AS n,
      |  round(avg((epoch_us(ts) - epoch_us(first_ts))::double / 1e6), 2) AS avg_age_sec
      |FROM events e JOIN
      |  (SELECT user_id, min(ts) AS first_ts FROM events GROUP BY user_id) u
      |  USING (user_id)
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  /** A deterministic zipf-style host key over the events table: half the
    * rows collapse onto one mega-host, the rest spread over 50 tail hosts —
    * the crawl-corpus hot-key profile (one CDN/host dominating a shard)
    * that uniform testdata keys otherwise never exercise. A pure function
    * of `event_id`, so DuckDB derives the identical key.
    */
  private[ops] def zipfHost: org.apache.spark.sql.Column =
    when(pmod(col("event_id"), lit(100)) < 50, lit("h_mega"))
      .otherwise(concat(lit("h"), pmod(col("event_id"), lit(100)).cast("string")))

  /** The BENCHED skew-armor query (round 11): enrich a zipf-hot fact with
    * its host's first-seen timestamp through a SALTED shuffle join, then
    * aggregate age per host.
    *
    * Why each piece is shaped this way at 100 TB:
    *  - the join runs in the NON-broadcast regime (`shuffle_merge` hint —
    *    at production scale the host dim is crawl metadata in the millions
    *    of rows, far past any broadcast threshold; at bench SF the hint is
    *    what keeps the plan in that regime instead of silently
    *    broadcasting a 51-row dim and benching nothing);
    *  - without armor the mega-host's ~50% of fact rows land on ONE
    *    reducer of the shuffle join — the (host, salt) composite key
    *    spreads them across [[Salts]] partitions deterministically,
    *    which works at ANY scale and for the stateful/streaming joins
    *    AQE's runtime split cannot rewrite (the AQE path itself is
    *    spec-pinned in SkewSpec);
    *  - the final per-host aggregate is skew-safe for free: partial
    *    (map-side) aggregation collapses each partition's mega-host rows
    *    to one record before the exchange.
    * Results are byte-identical to the unsalted, unhinted join
    * (spec-pinned) — salting changes the layout, never the answer.
    */
  def skewedHostAge(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir, "events").withColumn("host", zipfHost)
    val dim = ev.groupBy("host").agg(min(col("ts")).as("first_ts"))
    val saltedDim = dim.select(col("host"), col("first_ts"),
      explode(sequence(lit(0), lit(Salts - 1))).as("_salt"))
    val saltedFact = ev.withColumn("_salt",
      pmod(xxhash64(col("event_id")), lit(Salts)).cast("int"))
    saltedFact.join(saltedDim.hint("shuffle_merge"), Seq("host", "_salt"))
      .groupBy("host")
      .agg(
        count(lit(1)).as("n"),
        round(avg((unix_micros(col("ts")) - unix_micros(col("first_ts")))
          .cast("double") / 1e6), 2).as("avg_age_sec"))
      .orderBy("host")
  }

  val skewedHostAgeSql: String =
    """WITH ev AS (
      |  SELECT *, CASE WHEN event_id % 100 < 50 THEN 'h_mega'
      |    ELSE 'h' || (event_id % 100) END AS host
      |  FROM events
      |), dim AS (SELECT host, min(ts) AS first_ts FROM ev GROUP BY host)
      |SELECT host, count(*) AS n,
      |  round(avg((epoch_us(ts) - epoch_us(first_ts))::double / 1e6), 2) AS avg_age_sec
      |FROM ev JOIN dim USING (host)
      |GROUP BY host
      |ORDER BY host""".stripMargin

  /** Keys reported by the skew diagnostic. */
  val SkewTopK = 10

  /** Join-key skew diagnostics — the report an engineer runs BEFORE
    * choosing armor ([[saltedUserAge]] salting vs AQE splits vs broadcast):
    * for the zipf-hot host key, the top keys by row count with their
    * corpus share (permille, integer-exact) and the share a uniform
    * distribution would predict. A key whose share multiple is ≫1 is the
    * reducer that will stall the shuffle join; the report is bounded by
    * k, never by the key domain.
    *
    * Scale shape: one hash aggregate (map-side partials collapse the hot
    * key per partition — counting skew does not itself skew), a scalar
    * total broadcast back, and a top-k rank over the BOUNDED per-key
    * count table. Permille arithmetic is integer (1000·n)/total — exact
    * cross-engine, no double division.
    */
  def skewReport(spark: SparkSession, dir: String, k: Int = SkewTopK): DataFrame = {
    val ev = Tables(spark, dir, "events").select(zipfHost.as("host"))
    val counts = ev.groupBy("host").agg(count(lit(1)).as("n"))
    val tot = counts.agg(sum(col("n")).as("total"), count(lit(1)).as("n_keys"))
    import org.apache.spark.sql.expressions.Window
    counts.crossJoin(broadcast(tot))
      .withColumn("rank", row_number().over(
        Window.orderBy(col("n").desc, col("host"))))
      .filter(col("rank") <= k)
      .select(col("rank"), col("host"), col("n"),
        expr("(1000 * n) DIV total").as("share_permille"),
        expr("(1000 * n * n_keys) DIV total").as("x_uniform"))
      .orderBy("rank")
  }

  val skewReportSql: String =
    s"""WITH hosts AS (
       |  SELECT CASE WHEN event_id % 100 < 50 THEN 'h_mega'
       |              ELSE 'h' || (event_id % 100)::VARCHAR END AS host
       |  FROM events
       |), counts AS (
       |  SELECT host, count(*) AS n FROM hosts GROUP BY host
       |), tot AS (
       |  SELECT sum(n)::BIGINT AS total, count(*) AS n_keys FROM counts
       |)
       |SELECT rank, host, n, (1000 * n) // total AS share_permille,
       |  (1000 * n * n_keys) // total AS x_uniform
       |FROM (
       |  SELECT row_number() OVER (ORDER BY n DESC, host) AS rank, host, n
       |  FROM counts), tot
       |WHERE rank <= $SkewTopK
       |ORDER BY rank""".stripMargin

  /** HLL-sketch distinct counts — the 100-TB substitute for exact
    * count(DISTINCT): one pass, fixed memory per group, no Expand blow-up.
    * Approximate by construction → no value oracle; a spec pins relative
    * error vs the exact variant.
    */
  def distinctPartsApprox(spark: SparkSession, dir: String, rsd: Double = 0.02): DataFrame =
    Tables(spark, dir, "lineitem")
      .groupBy("l_returnflag")
      .agg(
        approx_count_distinct(col("l_partkey"), rsd).as("n_parts_approx"),
        approx_count_distinct(col("l_suppkey"), rsd).as("n_supps_approx"),
        count(lit(1)).as("n_rows"))
      .orderBy("l_returnflag")

  /** Join-size prediction from key histograms — the optimizer statistic
    * (System R's join cardinality formula, made exact): for an equi-join,
    * |A ⋈ B| = Σ_k cA(k)·cB(k) over the shared keys. Computing that sum
    * from the two per-key count aggregates PREDICTS the join's output
    * size — and its per-key max is the skew ceiling — without shuffling
    * a single payload row. The query reports the prediction next to the
    * executed join's actual count and pins their equality: this is what
    * a 100-TB pipeline runs BEFORE a fact-fact join to size shuffle
    * partitions and pick salting.
    *
    * Scale shape: two key-count aggregates (map-side partials), a
    * key-domain-sized equi-join between them, one scalar combine; the
    * validation leg executes the real join once (bench excluded — the
    * prediction is the operator; the actual is its oracle witness).
    */
  def joinSizeEstimate(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir, "events")
    def side(t: String, c: String) =
      ev.filter(col("event_type") === t).groupBy("user_id")
        .agg(count(lit(1)).as(c))
    val hist = side("view", "cv").join(side("purchase", "cp"), "user_id")
    val est = hist.agg(
      count(lit(1)).as("n_shared_keys"),
      sum(col("cv") * col("cp")).as("predicted_pairs"),
      max(col("cv") * col("cp")).as("max_key_pairs"))
    val actual = ev.filter(col("event_type") === "view").select("user_id")
      .join(ev.filter(col("event_type") === "purchase").select("user_id"), "user_id")
      .agg(count(lit(1)).as("actual_pairs"))
    est.crossJoin(actual)
      .select(col("n_shared_keys"), col("predicted_pairs"), col("max_key_pairs"),
        col("actual_pairs"),
        (col("predicted_pairs") === col("actual_pairs")).as("exact_match"))
  }

  val joinSizeEstimateSql: String =
    """WITH v AS (
      |  SELECT user_id, count(*) AS cv FROM events
      |  WHERE event_type = 'view' GROUP BY 1
      |), p AS (
      |  SELECT user_id, count(*) AS cp FROM events
      |  WHERE event_type = 'purchase' GROUP BY 1
      |), h AS (SELECT cv, cp FROM v JOIN p USING (user_id)
      |), est AS (
      |  SELECT count(*) AS n_shared_keys, sum(cv * cp)::BIGINT AS predicted_pairs,
      |    max(cv * cp)::BIGINT AS max_key_pairs FROM h
      |), act AS (
      |  SELECT count(*) AS actual_pairs
      |  FROM (SELECT user_id FROM events WHERE event_type = 'view') a
      |  JOIN (SELECT user_id FROM events WHERE event_type = 'purchase') b
      |    USING (user_id)
      |)
      |SELECT n_shared_keys, predicted_pairs, max_key_pairs, actual_pairs,
      |  predicted_pairs = actual_pairs AS exact_match
      |FROM est CROSS JOIN act""".stripMargin
}
