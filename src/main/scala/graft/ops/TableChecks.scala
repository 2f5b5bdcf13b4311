package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Declarative data-quality constraint suite (the Deequ/Great-Expectations
  * capability): a battery of table constraints — key uniqueness, column
  * completeness, value ranges, accepted domains, referential integrity —
  * evaluated as a CONSTRAINT REPORT, not as N table scans.
  *
  * Scale shape: every single-table constraint folds into ONE aggregate
  * over one scan of `orders` (conditional counts side by side; the
  * uniqueness check is the only one that must see the key's distinct set,
  * and it rides the same aggregate as a count-distinct). The one
  * cross-table constraint (FK orphans) is a single broadcast/SMJ anti-join
  * aggregate. A 100-TB nightly QA pass is therefore two jobs, not one per
  * constraint.
  *
  * Output contract: one row per constraint, `violations = 0 ⇔ pass` —
  * the gate a pipeline wires into its promotion step.
  */
object TableChecks {

  /** Accepted order-status domain. */
  val AcceptedStatuses: Seq[String] = Seq("F", "O", "P")

  /** Constraint report over any (orders-shaped, lineitem-shaped) pair —
    * the library surface the spec feeds planted violations through.
    */
  def checksOf(orders: DataFrame, lineitem: DataFrame): DataFrame = {
    val spark = orders.sparkSession
    import spark.implicits._
    val single = orders.agg(
      (count(lit(1)) - countDistinct(col("o_orderkey"))).as("dup_keys"),
      sum(when(col("o_orderdate").isNull, 1L).otherwise(0L)).as("null_dates"),
      sum(when(col("o_totalprice") <= 0.0, 1L).otherwise(0L)).as("bad_prices"),
      sum(when(!col("o_orderstatus").isin(AcceptedStatuses: _*), 1L)
        .otherwise(0L)).as("bad_status"))
      .select(explode(array(
        struct(lit("orderkey_unique").as("check_name"), col("dup_keys").as("violations")),
        struct(lit("orderdate_complete").as("check_name"), col("null_dates").as("violations")),
        struct(lit("totalprice_positive").as("check_name"), col("bad_prices").as("violations")),
        struct(lit("status_in_domain").as("check_name"), col("bad_status").as("violations"))))
        .as("c"))
      .select(col("c.check_name"), col("c.violations"))
    val fk = lineitem
      .join(orders.select(col("o_orderkey")),
        col("l_orderkey") === col("o_orderkey"), "left_anti")
      .agg(count(lit(1)).as("violations"))
      .select(lit("lineitem_fk_orders").as("check_name"), col("violations"))
    single.union(fk)
      .withColumn("pass", col("violations") === 0L)
      .orderBy("check_name")
  }

  /** The constraint report on the testdata star schema. */
  def dataQualityChecks(spark: SparkSession, dir: String): DataFrame =
    checksOf(Tables(spark, dir, "orders"), Tables(spark, dir, "lineitem"))

  val dataQualityChecksSql: String = {
    val domain = AcceptedStatuses.map(s => s"'$s'").mkString(", ")
    s"""SELECT check_name, violations, violations = 0 AS pass FROM (
       |  SELECT 'orderkey_unique' AS check_name,
       |    count(*) - count(DISTINCT o_orderkey) AS violations FROM orders
       |  UNION ALL
       |  SELECT 'orderdate_complete',
       |    count(*) FILTER (o_orderdate IS NULL) FROM orders
       |  UNION ALL
       |  SELECT 'totalprice_positive',
       |    count(*) FILTER (o_totalprice <= 0) FROM orders
       |  UNION ALL
       |  SELECT 'status_in_domain',
       |    count(*) FILTER (o_orderstatus NOT IN ($domain)) FROM orders
       |  UNION ALL
       |  SELECT 'lineitem_fk_orders',
       |    (SELECT count(*) FROM lineitem l
       |     WHERE NOT EXISTS (SELECT 1 FROM orders o
       |                       WHERE o.o_orderkey = l.l_orderkey))
       |)
       |ORDER BY check_name""".stripMargin
  }

  /** Snapshot diff / CDC reconciliation: given two versions of a keyed
    * table, classify every key as insert / delete / update / unchanged —
    * the change-data-capture primitive behind incremental materialization
    * and backfill audits. One FULL OUTER join on the key; row equality by
    * content digest so wide rows never ship twice.
    *
    * The "new" snapshot is derived deterministically from the documents
    * table in BOTH engines (delete every 31st key, rewrite every 7th,
    * insert a shifted key for every 53rd), so the classifier itself is
    * what the oracle checks. Output pins each class's count AND the sum
    * of its keys — a cheap exact witness of WHICH rows were classified,
    * not just how many.
    */
  def snapshotDiff(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir, "documents").select(col("doc_id"), col("text"))
    val newSnap = docs
      .filter(col("doc_id") % 31 =!= 0)
      .withColumn("text",
        when(col("doc_id") % 7 === 0, concat(col("text"), lit(" rev2")))
          .otherwise(col("text")))
      .unionAll(docs.filter(col("doc_id") % 53 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          concat(lit("new doc "), col("doc_id").cast("string")).as("text")))
    val o = docs.select(col("doc_id"), md5(col("text").cast("binary")).as("o_md5"))
    val n = newSnap.select(col("doc_id"), md5(col("text").cast("binary")).as("n_md5"))
    o.join(n, Seq("doc_id"), "full_outer")
      .withColumn("change",
        when(col("o_md5").isNull, "insert")
          .when(col("n_md5").isNull, "delete")
          .when(col("o_md5") =!= col("n_md5"), "update")
          .otherwise("unchanged"))
      .groupBy("change")
      .agg(count(lit(1)).as("n"), sum(col("doc_id")).as("id_sum"))
      .orderBy("change")
  }

  val snapshotDiffSql: String =
    """WITH old_snap AS (
      |  SELECT doc_id, text FROM documents
      |), new_snap AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 7 = 0 THEN text || ' rev2' ELSE text END AS text
      |  FROM documents WHERE doc_id % 31 <> 0
      |  UNION ALL
      |  SELECT doc_id + 1000000, 'new doc ' || doc_id::VARCHAR
      |  FROM documents WHERE doc_id % 53 = 0
      |), o AS (SELECT doc_id, md5(text) AS o_md5 FROM old_snap),
      |n AS (SELECT doc_id, md5(text) AS n_md5 FROM new_snap)
      |SELECT change, count(*) AS n, sum(doc_id)::BIGINT AS id_sum FROM (
      |  SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
      |    CASE WHEN o_md5 IS NULL THEN 'insert'
      |         WHEN n_md5 IS NULL THEN 'delete'
      |         WHEN o_md5 <> n_md5 THEN 'update'
      |         ELSE 'unchanged' END AS change
      |  FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id)
      |GROUP BY change
      |ORDER BY change""".stripMargin

  /** MERGE INTO (upsert + delete) applied to the customer dimension — the
    * warehouse write primitive [[snapshotDiff]] is the read twin of: a
    * CDC batch of typed operations (U pdate, I nsert, D elete) folds into
    * the dimension in ONE pass. The batch derives deterministically from
    * the table (updates for custkey % 7 = 0 re-segment to AUTOMOBILE and
    * add 10 to the balance; inserts clone custkey % 53 = 0 shifted by
    * 10⁶; deletes remove custkey % 31 = 0), so both engines construct
    * the identical batch and the oracle is exact.
    *
    * Plan: the merge is ONE left-anti join (untouched = dim ∖ batch
    * keys) unioned with the batch's surviving rows — never a row-at-a-
    * time loop, never a second scan of the dimension; this is exactly
    * what Delta/Iceberg MERGE compiles to on the matched/not-matched
    * fast path. Money kept exact via DECIMAL arithmetic on the updated
    * balance.
    */
  def mergeUpsert(spark: SparkSession, dir: String): DataFrame = {
    val dim = Tables(spark, dir, "customer")
    val updates = dim.filter(col("c_custkey") % 7 === 0)
      .select(col("c_custkey"), col("c_name"), col("c_nationkey"),
        (col("c_acctbal").cast("decimal(15,2)") + lit(10)).cast("double").as("c_acctbal"),
        lit("AUTOMOBILE").as("c_mktsegment"), lit("U").as("op"))
    val inserts = dim.filter(col("c_custkey") % 53 === 0)
      .select((col("c_custkey") + 1000000L).as("c_custkey"),
        concat(lit("new "), col("c_name")).as("c_name"), col("c_nationkey"),
        col("c_acctbal"), col("c_mktsegment"), lit("I").as("op"))
    val deletes = dim.filter(col("c_custkey") % 31 === 0)
      .select(col("c_custkey"), col("c_name"), col("c_nationkey"),
        col("c_acctbal"), col("c_mktsegment"), lit("D").as("op"))
    val batch = updates.unionByName(inserts).unionByName(deletes)
    val untouched = dim.join(batch.select("c_custkey"), Seq("c_custkey"), "left_anti")
    untouched
      .unionByName(batch.filter(col("op") =!= "D").drop("op"))
      .orderBy("c_custkey")
  }

  val mergeUpsertSql: String =
    """WITH dim AS (SELECT * FROM customer),
      |batch AS (
      |  SELECT c_custkey, c_name, c_nationkey,
      |    CAST(c_acctbal::DECIMAL(15,2) + 10 AS DOUBLE) AS c_acctbal,
      |    'AUTOMOBILE' AS c_mktsegment, 'U' AS op
      |  FROM dim WHERE c_custkey % 7 = 0
      |  UNION ALL
      |  SELECT c_custkey + 1000000, 'new ' || c_name, c_nationkey,
      |    c_acctbal, c_mktsegment, 'I'
      |  FROM dim WHERE c_custkey % 53 = 0
      |  UNION ALL
      |  SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment, 'D'
      |  FROM dim WHERE c_custkey % 31 = 0
      |)
      |SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment FROM (
      |  SELECT d.* FROM dim d ANTI JOIN batch b USING (c_custkey)
      |  UNION ALL
      |  SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
      |  FROM batch WHERE op <> 'D')
      |ORDER BY c_custkey""".stripMargin

  /** Change-data-feed of [[mergeUpsert]] — the Delta/Iceberg
    * `_change_type` contract: the same planted batch, emitted as the
    * row-level feed a downstream incremental consumer subscribes to
    * (updates as a preimage/postimage PAIR, inserts and deletes as single
    * rows). Conflict precedence mirrors the merge exactly: a key matched
    * by both the update and delete rules survives updated, so it emits
    * update images and NO delete row — the feed replays to the same
    * table state the merge produced (spec-pinned).
    *
    * Plan: narrow filters + projections over one dimension scan, union —
    * the feed costs what the merge already paid.
    */
  def mergeChangeFeed(spark: SparkSession, dir: String): DataFrame = {
    val dim = Tables(spark, dir, "customer")
    val upd = dim.filter(col("c_custkey") % 7 === 0)
    val pre = upd.select(lit("update_preimage").as("_change_type"),
      col("c_custkey"), col("c_acctbal"), col("c_mktsegment"))
    val post = upd.select(lit("update_postimage").as("_change_type"),
      col("c_custkey"),
      (col("c_acctbal").cast("decimal(15,2)") + lit(10)).cast("double").as("c_acctbal"),
      lit("AUTOMOBILE").as("c_mktsegment"))
    val ins = dim.filter(col("c_custkey") % 53 === 0)
      .select(lit("insert").as("_change_type"),
        (col("c_custkey") + 1000000L).as("c_custkey"),
        col("c_acctbal"), col("c_mktsegment"))
    val del = dim.filter(col("c_custkey") % 31 === 0 && col("c_custkey") % 7 =!= 0)
      .select(lit("delete").as("_change_type"),
        col("c_custkey"), col("c_acctbal"), col("c_mktsegment"))
    pre.unionByName(post).unionByName(ins).unionByName(del)
      .orderBy("c_custkey", "_change_type")
  }

  val mergeChangeFeedSql: String =
    """SELECT * FROM (
      |  SELECT 'update_preimage' AS _change_type, c_custkey, c_acctbal, c_mktsegment
      |  FROM customer WHERE c_custkey % 7 = 0
      |  UNION ALL
      |  SELECT 'update_postimage', c_custkey,
      |    CAST(c_acctbal::DECIMAL(15,2) + 10 AS DOUBLE), 'AUTOMOBILE'
      |  FROM customer WHERE c_custkey % 7 = 0
      |  UNION ALL
      |  SELECT 'insert', c_custkey + 1000000, c_acctbal, c_mktsegment
      |  FROM customer WHERE c_custkey % 53 = 0
      |  UNION ALL
      |  SELECT 'delete', c_custkey, c_acctbal, c_mktsegment
      |  FROM customer WHERE c_custkey % 31 = 0 AND c_custkey % 7 <> 0)
      |ORDER BY c_custkey, _change_type""".stripMargin

  /** Default k for the anonymity audit. */
  val AnonymityK = 5

  /** k-anonymity audit — the governance check run before a corpus (or its
    * metadata) is released: every row must be indistinguishable from at
    * least k−1 others on its QUASI-IDENTIFIER tuple (Sweeney, IJUFKS'02);
    * a (lang, source) cell with fewer than k documents re-identifies its
    * members by simple cross-referencing. The audit reports the violating
    * cells with their sizes — the input to a suppression/generalization
    * step (which cells to coarsen to `source='*'`).
    *
    * Runs next to [[dataQualityChecks]] in the release gate: one hash
    * aggregate over one scan, the violating-cell set bounded by the
    * quasi-identifier domain, never by the corpus.
    */
  def kAnonymityAudit(spark: SparkSession, dir: String,
      k: Int = AnonymityK): DataFrame =
    Tables(spark, dir, "documents")
      .groupBy("lang", "source").agg(count(lit(1)).as("n"))
      .filter(col("n") < k)
      .orderBy("lang", "source")

  val kAnonymityAuditSql: String =
    s"""SELECT lang, source, count(*) AS n
       |FROM documents GROUP BY lang, source
       |HAVING count(*) < $AnonymityK
       |ORDER BY lang, source""".stripMargin

  /** Default l for the diversity audit. */
  val DiversityL = 3

  /** l-diversity audit — the homogeneity-attack complement of
    * [[kAnonymityAudit]] (Machanavajjhala et al., TKDD'07): a cell can be
    * k-anonymous yet still leak if its SENSITIVE attribute is (near-)
    * constant — an attacker who locates a target's cell learns the
    * sensitive value without identifying the row. Quasi-identifiers here
    * are (source, n_chars length decile); the sensitive attribute is
    * `lang`; cells with fewer than l distinct sensitive values are
    * reported with their size and diversity — the input to the same
    * suppression/generalization step the k-audit feeds.
    *
    * Scale shape: one hash aggregate over one scan (count + exact
    * count-distinct per cell); output bounded by the QI domain.
    */
  def lDiversityAudit(spark: SparkSession, dir: String,
      l: Int = DiversityL): DataFrame =
    Tables(spark, dir, "documents")
      .groupBy(col("source"), expr("n_chars DIV 100").as("len_bucket"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("lang")).as("n_langs"))
      .filter(col("n_langs") < l)
      .orderBy("source", "len_bucket")

  val lDiversityAuditSql: String =
    s"""SELECT source, n_chars // 100 AS len_bucket,
       |  count(*) AS n_docs, count(DISTINCT lang) AS n_langs
       |FROM documents GROUP BY 1, 2
       |HAVING count(DISTINCT lang) < $DiversityL
       |ORDER BY source, len_bucket""".stripMargin

  /** Default t for the closeness audit. */
  val ClosenessT = 0.15

  /** t-closeness audit — the distribution-skew completion of the privacy
    * triad ([[kAnonymityAudit]], [[lDiversityAudit]]; Li, Li &
    * Venkatasubramanian, ICDE'07): a cell can be k-anonymous AND
    * l-diverse yet still leak if its sensitive-attribute DISTRIBUTION
    * differs sharply from the global one — an attacker who locates a
    * target's cell gains that skew as information. For the ordered
    * sensitive attribute (n_chars length decile) the prescribed distance
    * is the Earth Mover's Distance under the ordered metric:
    * EMD = Σⱼ |P_cell(≤j) − P_glob(≤j)| / (m−1) over the m ordered
    * buckets. Cells with EMD > t are flagged (`close = false`).
    *
    * Exactness: the cumulative difference is computed as the INTEGER
    * |N·C_j − n·G_j| (C, G = cumulative cell/global counts), summed
    * exactly, with ONE final division — no per-term float summation, so
    * the value is order-independent and matches the oracle bit-for-bit
    * before the display rounding.
    *
    * Scale shape: two hash aggregates over one scan (cell×bucket and
    * global-bucket counts), a broadcast cross of the (QI-domain × bucket-
    * domain) grid — both bounded by attribute domains, never by the
    * corpus — and a window whose partitions are single cells of ≤ m rows.
    */
  def tClosenessAudit(spark: SparkSession, dir: String,
      t: Double = ClosenessT): DataFrame = {
    val counts = Tables(spark, dir, "documents")
      .groupBy(col("lang"), col("source"), expr("n_chars DIV 100").as("bucket"))
      .agg(count(lit(1)).as("c"))
    val cells = counts.groupBy("lang", "source").agg(sum("c").as("n"))
    val glob = counts.groupBy("bucket").agg(sum("c").as("g"))
    val tot = glob.agg(sum("g").as("big_n"), count(lit(1)).as("m"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("lang", "source").orderBy("bucket")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    cells.crossJoin(broadcast(glob))
      .join(counts, Seq("lang", "source", "bucket"), "left")
      .na.fill(0, Seq("c"))
      .withColumn("cc", sum("c").over(w))
      .withColumn("cg", sum("g").over(w))
      .crossJoin(broadcast(tot))
      .groupBy("lang", "source")
      .agg(first("n").as("n_docs"),
        round(sum(abs(col("big_n") * col("cc") - col("n") * col("cg")))
            .cast("double")
          / (first("n") * first("big_n") * (first("m") - 1)).cast("double"),
          6).as("emd"))
      .withColumn("close", col("emd") <= t)
      .orderBy("lang", "source")
  }

  val tClosenessAuditSql: String =
    s"""SELECT *, (emd <= $ClosenessT) AS close FROM (
       |  SELECT lang, source, any_value(n)::BIGINT AS n_docs,
       |    round(sum(abs(big_n * cc - n * cg))::BIGINT
       |      / (any_value(n) * any_value(big_n) * (any_value(m) - 1)), 6) AS emd
       |  FROM (
       |    SELECT g.lang, g.source, g.n, t.big_n, t.m,
       |      (sum(g.c) OVER w)::BIGINT AS cc,
       |      (sum(g.g) OVER w)::BIGINT AS cg
       |    FROM (
       |      SELECT cells.lang, cells.source, cells.n, gd.bucket, gd.g,
       |        coalesce(counts.c, 0)::BIGINT AS c
       |      FROM (SELECT lang, source, sum(c)::BIGINT AS n FROM (
       |              SELECT lang, source, n_chars // 100 AS bucket, count(*) AS c
       |              FROM documents GROUP BY 1, 2, 3) GROUP BY 1, 2) cells
       |      CROSS JOIN (SELECT bucket, sum(c)::BIGINT AS g FROM (
       |              SELECT lang, source, n_chars // 100 AS bucket, count(*) AS c
       |              FROM documents GROUP BY 1, 2, 3) GROUP BY 1) gd
       |      LEFT JOIN (SELECT lang, source, n_chars // 100 AS bucket, count(*) AS c
       |              FROM documents GROUP BY 1, 2, 3) counts
       |        ON counts.lang = cells.lang AND counts.source = cells.source
       |        AND counts.bucket = gd.bucket) g
       |    CROSS JOIN (SELECT sum(g)::BIGINT AS big_n, count(*)::BIGINT AS m
       |      FROM (SELECT bucket, sum(c)::BIGINT AS g FROM (
       |              SELECT lang, source, n_chars // 100 AS bucket, count(*) AS c
       |              FROM documents GROUP BY 1, 2, 3) GROUP BY 1)) t
       |    WINDOW w AS (PARTITION BY g.lang, g.source ORDER BY g.bucket
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
       |  GROUP BY lang, source)
       |ORDER BY lang, source""".stripMargin


  /** Source-concentration audit — the "is the corpus dominated by a few
    * feeds" screen (HHI, the antitrust concentration index, plus the
    * Gini coefficient and the top source's share). A training mix with
    * HHI near 1/n_sources is balanced; spikes say one crawl dominates
    * and the mixing step must cap it.
    *
    * Exactness: with counts c_i sorted ascending and ranked i = 1..n,
    *   Gini = Σ(2i − n − 1)c_i / (n·Σc)   and   HHI = Σc_i² / (Σc)²
    * — both numerators are exact INTEGER sums, so each statistic is one
    * IEEE division. No float ever enters a SUM.
    *
    * Scale shape: one hash aggregate to per-source counts (bounded by
    * the source domain); the rank window sees only those rows.
    */
  def sourceConcentration(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.orderBy("c", "source")
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy()
    Tables(spark, dir, "documents")
      .groupBy("source").agg(count(lit(1)).as("c"))
      .withColumn("i", row_number().over(w))
      .withColumn("nw", count(lit(1)).over(wAll))
      .agg(count(lit(1)).as("n_sources"), sum("c").as("nn"),
        sum(col("c") * col("c")).as("c2"),
        sum((lit(2) * col("i") - col("nw") - 1) * col("c")).as("gnum"),
        max("c").as("cmax"))
      .select(col("n_sources"),
        round(col("c2").cast("double") / (col("nn") * col("nn")).cast("double"), 6)
          .as("hhi"),
        round(col("gnum").cast("double") / (col("n_sources") * col("nn")).cast("double"), 6)
          .as("gini"),
        round(col("cmax").cast("double") / col("nn").cast("double"), 6)
          .as("top_share"))
  }

  val sourceConcentrationSql: String =
    """WITH sc AS (
      |  SELECT source, count(*) AS c FROM documents GROUP BY 1
      |), ranked AS (
      |  SELECT c, row_number() OVER (ORDER BY c, source) AS i,
      |    count(*) OVER () AS n FROM sc
      |), m AS (
      |  SELECT count(*)::BIGINT AS n_sources, sum(c)::BIGINT AS nn,
      |    sum(c * c)::BIGINT AS c2,
      |    sum((2 * i - n - 1) * c)::BIGINT AS gnum, max(c) AS cmax
      |  FROM ranked
      |)
      |SELECT n_sources,
      |  round(c2::DOUBLE / (nn * nn)::DOUBLE, 6) AS hhi,
      |  round(gnum::DOUBLE / (n_sources * nn)::DOUBLE, 6) AS gini,
      |  round(cmax::DOUBLE / nn::DOUBLE, 6) AS top_share
      |FROM m""".stripMargin

  /** DP noise scale: ε = 1 per cell, count sensitivity 1 → Laplace b = 1.
    * Cells of a groupBy partition the table, so parallel composition
    * keeps the whole release at ε (Dwork et al., TCC'06 / the standard
    * Laplace-mechanism calculus — public knowledge). */
  val DpEpsilon = 1.0

  /** Differentially-private count release — the Laplace mechanism over
    * the (lang, source) contingency table, completing the governance
    * suite's disclosure-control ladder (k-anonymity → l-diversity →
    * t-closeness → DP): the earlier audits SCORE a release, this one
    * PERTURBS it with calibrated noise so the scores cannot be gamed by
    * a single row's presence.
    *
    * Determinism convention: production DP draws from a secret RNG; here
    * the draw is the engine's standard seeded md5 surrogate
    * (`graft.ops.Sampling.seededKey` argument — re-runs and other
    * engines must agree on the released table, which is also what makes
    * the mechanism oracle-checkable). u = (k + ½)/2¹⁶ from the first 4
    * hex nibbles of md5("dp1:" ‖ cell key) is a dyadic rational, so
    * u − ½, |·|, 1 − 2|·| are all IEEE-exact and both engines feed ln
    * the identical double; inverse-CDF gives Laplace(b):
    * noise = −b · sign(u − ½) · ln(1 − 2|u − ½|).
    *
    * Scale shape: one hash aggregate; the noise is a pure codegen
    * projection of the group key — no join, no RNG state, no driver
    * randomness. At 100 TB this is exactly the cost of the count.
    */
  def dpNoisyCounts(spark: SparkSession, dir: String): DataFrame = {
    val cellKey = concat(lit("dp1:"), col("lang"), lit("|"), col("source"))
    val u16 = conv(substring(md5(cellKey.cast("binary")), 1, 4), 16, 10)
      .cast("double")
    val u = (u16 + lit(0.5)) / lit(65536.0)
    val b = 1.0 / DpEpsilon
    val noise = -lit(b) * signum(u - lit(0.5)) *
      log(lit(1.0) - lit(2.0) * abs(u - lit(0.5)))
    Tables(spark, dir, "documents")
      .groupBy("lang", "source").agg(count(lit(1)).as("n"))
      .select(col("lang"), col("source"),
        round(col("n") + noise, 6).as("noisy_n"))
      .orderBy("lang", "source")
  }

  val dpNoisyCountsSql: String =
    s"""SELECT lang, source,
       |  round(n + (-(1.0 / $DpEpsilon) * sign(u - 0.5)
       |    * ln(1.0 - 2.0 * abs(u - 0.5))), 6) AS noisy_n
       |FROM (
       |  SELECT lang, source, count(*) AS n,
       |    (('0x' || substr(md5('dp1:' || lang || '|' || source), 1, 4))::INT
       |      + 0.5) / 65536.0 AS u
       |  FROM documents GROUP BY 1, 2)
       |ORDER BY lang, source""".stripMargin

  /** Per-record contribution cap for the DP sum release: document text
    * length clamps to [0, DpClampChars] BEFORE aggregation, making the
    * sum's sensitivity exactly DpClampChars regardless of outliers — the
    * unclamped sum has unbounded sensitivity and NO noise scale makes it
    * DP. Sized to engage on real rows (the sf0.01 corpus has text above
    * it), which the clamping spec pins. */
  val DpClampChars = 400

  /** Differentially-private SUM and MEAN release — the next rung of the
    * disclosure-control ladder after [[dpNoisyCounts]] (any DP consumer
    * asks for means right after counts): per (lang, source) cell, the
    * clamped-sensitivity Laplace sum (b = DpClampChars/ε, Dwork et al.'s
    * calculus for bounded contributions) and the standard ratio-release
    * mean = noisy_sum / max(noisy_n, 1) — a post-processing of two DP
    * quantities, so it costs no extra budget beyond the ε_sum + ε_count
    * composition (seeds `dps:`/`dpn:` keep the two draws independent).
    *
    * Determinism convention as [[dpNoisyCounts]]: the draw is the seeded
    * md5 inverse-CDF surrogate — u is a dyadic rational, every step to
    * the ln argument is IEEE-exact, so both engines release the identical
    * table and the oracle stays value-exact. The mean divides the
    * UNROUNDED noisy sum by the UNROUNDED noisy count (one double
    * division, identically associated in both engines); only the
    * released columns round.
    *
    * Scale shape: one hash aggregate over a clamp projection; noise is a
    * codegen function of the group key. Cost of the count, at any SF.
    */
  def dpNoisySumMean(spark: SparkSession, dir: String): DataFrame = {
    def lap(seedTag: String, b: Double) = {
      val cellKey = concat(lit(seedTag), col("lang"), lit("|"), col("source"))
      val u16 = conv(substring(md5(cellKey.cast("binary")), 1, 4), 16, 10)
        .cast("double")
      val u = (u16 + lit(0.5)) / lit(65536.0)
      -lit(b) * signum(u - lit(0.5)) *
        log(lit(1.0) - lit(2.0) * abs(u - lit(0.5)))
    }
    val nNoise = lap("dpn:", 1.0 / DpEpsilon)
    val sNoise = lap("dps:", DpClampChars / DpEpsilon)
    Tables(spark, dir, "documents")
      .select(col("lang"), col("source"),
        least(length(col("text")).cast("long"), lit(DpClampChars.toLong)).as("x"))
      .groupBy("lang", "source")
      .agg(count(lit(1)).as("n"), sum(col("x")).as("s"))
      .select(col("lang"), col("source"),
        round(col("n") + nNoise, 6).as("noisy_n"),
        round(col("s") + sNoise, 6).as("noisy_sum"),
        round((col("s") + sNoise) / greatest(col("n") + nNoise, lit(1.0)), 6)
          .as("noisy_mean"))
      .orderBy("lang", "source")
  }

  val dpNoisySumMeanSql: String = {
    def lap(tag: String, b: String) =
      s"""(-($b) * sign(u$tag - 0.5) * ln(1.0 - 2.0 * abs(u$tag - 0.5)))"""
    s"""WITH cells AS (
       |  SELECT lang, source, count(*) AS n,
       |    sum(least(length(text), $DpClampChars))::BIGINT AS s
       |  FROM documents GROUP BY 1, 2
       |), noisy AS (
       |  SELECT lang, source, n, s,
       |    (('0x' || substr(md5('dpn:' || lang || '|' || source), 1, 4))::INT
       |      + 0.5) / 65536.0 AS un,
       |    (('0x' || substr(md5('dps:' || lang || '|' || source), 1, 4))::INT
       |      + 0.5) / 65536.0 AS us
       |  FROM cells
       |)
       |SELECT lang, source,
       |  round(n + ${lap("n", s"1.0 / $DpEpsilon")}, 6) AS noisy_n,
       |  round(s + ${lap("s", s"$DpClampChars / $DpEpsilon")}, 6) AS noisy_sum,
       |  round((s + ${lap("s", s"$DpClampChars / $DpEpsilon")})
       |    / greatest(n + ${lap("n", s"1.0 / $DpEpsilon")}, 1.0), 6) AS noisy_mean
       |FROM noisy
       |ORDER BY lang, source""".stripMargin
  }

  /** Per-document contribution cap for the private vocabulary release:
    * each document contributes only its [[DpVocabCap]] lexicographically
    * first DISTINCT tokens — a deterministic bound that makes the
    * histogram's per-record L1 sensitivity exactly DpVocabCap (an
    * unbounded per-doc vocabulary has unbounded sensitivity and no noise
    * scale is DP). */
  val DpVocabCap = 10

  /** δ of the (ε, δ) release — the probability mass allowed to the
    * threshold's failure mode (a unique key leaking through). */
  val DpVocabDelta = 1e-6

  /** Stability-thresholded DP vocabulary histogram — the private release
    * for UNKNOWN key domains ([[dpNoisyCounts]] needs the cell domain
    * public; a token vocabulary is itself data, so publishing which keys
    * exist leaks membership). The standard mechanism (Korolova et al.
    * '09's search-log release shape): bound each record's contribution
    * (cap C distinct tokens per doc), add Laplace(C/ε) noise to every
    * token's doc-count, and publish ONLY tokens whose noisy count clears
    * τ = C + (C/ε)·ln(1/(2δ)) — the threshold soaks the δ-probability
    * that a token contributed by a single document survives.
    *
    * Determinism convention as the rest of the DP family: the draw is the
    * seeded md5 inverse-CDF surrogate per token (`dpv:` + token), u is a
    * dyadic rational, and the 6-dp rounding absorbs the last-ulp libm
    * `ln` difference; τ is a Scala-computed literal embedded identically
    * in both engines.
    *
    * Scale shape: per-doc cap → explode → ONE token-keyed count (map-side
    * partials carry the heavy head), noise + threshold as a projection —
    * no joins, no windows; output ∝ the surviving vocabulary, and the cap
    * bounds the explode at C rows per document no matter how degenerate
    * the text.
    */
  def dpThresholdedVocab(spark: SparkSession, dir: String): DataFrame = {
    val b = DpVocabCap / DpEpsilon
    val tau = DpVocabCap + b * math.log(1.0 / (2 * DpVocabDelta))
    val capped = slice(
      sort_array(array_distinct(Dedup.tokens(col("text")))), 1, DpVocabCap)
    val u16 = conv(substring(
      md5(concat(lit("dpv:"), col("token")).cast("binary")), 1, 4), 16, 10)
      .cast("double")
    val u = (u16 + lit(0.5)) / lit(65536.0)
    val noise = -lit(b) * signum(u - lit(0.5)) *
      log(lit(1.0) - lit(2.0) * abs(u - lit(0.5)))
    Tables(spark, dir, "documents")
      .select(explode(capped).as("token"))
      .groupBy("token").agg(count(lit(1)).as("n"))
      .withColumn("noisy_n", col("n") + noise)
      .filter(col("noisy_n") >= tau)
      .select(col("token"), round(col("noisy_n"), 6).as("noisy_n"))
      .orderBy("token")
  }

  val dpThresholdedVocabSql: String = {
    val b = DpVocabCap / DpEpsilon
    val tau = DpVocabCap + b * math.log(1.0 / (2 * DpVocabDelta))
    s"""SELECT token, round(noisy_n, 6) AS noisy_n
       |FROM (
       |  SELECT token,
       |    n + (-$b * sign(u - 0.5) * ln(1.0 - 2.0 * abs(u - 0.5))) AS noisy_n
       |  FROM (
       |    SELECT token, count(*) AS n,
       |      (('0x' || substr(md5('dpv:' || token), 1, 4))::INT + 0.5)
       |        / 65536.0 AS u
       |    FROM (
       |      SELECT unnest(list_slice(
       |        list_sort(list_distinct(regexp_split_to_array(lower(text), '\\s+'))),
       |        1, $DpVocabCap)) AS token
       |      FROM documents)
       |    GROUP BY token))
       |WHERE noisy_n >= $tau
       |ORDER BY token""".stripMargin
  }

  /** Public candidate grid for the DP quantile release: 0..1000 step 5 —
    * data-INDEPENDENT by construction (a data-derived domain would leak
    * through the mechanism's support). Covers the documents.n_chars
    * range with slack. */
  val DpQuantGridMax = 1000
  val DpQuantGridStep = 5

  /** Differentially-private QUANTILES via the exponential mechanism —
    * the DP ladder's next rung after counts, sums/means, and the
    * thresholded histogram: order statistics have unbounded sensitivity
    * under Laplace, so the standard release (McSherry & Talwar's
    * mechanism with the Smith '11 quantile utility) scores every
    * candidate x on the PUBLIC grid by u(x) = −|#{v ≤ x} − q·n|
    * (sensitivity 1) and samples ∝ exp(ε·u/2) — realized here as the
    * Gumbel-max trick with the engine's seeded inverse-CDF draw per
    * (lang, q, candidate), so both engines release the identical value.
    *
    * Scale shape: one scan → per-(lang, value) histogram (domain-
    * bounded), then a grid×histogram theta-join that is |grid|·|domain|
    * per language — both mechanism constants, independent of corpus
    * size — and one argmax aggregate per (lang, q). The released value
    * is a grid point, but the score under the argmax contains an
    * engine-native `ln` (the Gumbel draw), so the score is rounded to a
    * fixed 12-dp grid BEFORE the argmax on both engines — the DP-count
    * family's 6-dp discipline applied one stage earlier. Without it a
    * near-tie between two grid candidates within the last libm ulp could
    * release different grid points across engines; 12 dp absorbs ulp
    * noise (~1e-16 relative) while leaving real utility gaps (≥ ε/2 per
    * unit of u) untouched.
    */
  def dpQuantiles(spark: SparkSession, dir: String): DataFrame = {
    val qs = Seq("0.25", "0.5", "0.75")
    val hist = Tables(spark, dir, "documents")
      .groupBy(col("lang"), col("n_chars").as("v"))
      .agg(count(lit(1)).as("c"))
    val totals = hist.groupBy("lang").agg(sum(col("c")).as("n"))
    val grid = totals.select(col("lang"), col("n"),
      explode(expr(s"sequence(0, $DpQuantGridMax, $DpQuantGridStep)")).as("x"))
    val cntLe = grid.join(hist, Seq("lang"), "left")
      .withColumn("le", when(col("v") <= col("x"), col("c")).otherwise(lit(0L)))
      .groupBy("lang", "n", "x").agg(sum(col("le")).as("cnt_le"))
    val scored = cntLe.select(col("lang"), col("n"), col("x"),
      explode(array(qs.map(q => struct(lit(q).as("q"),
        (-abs(col("cnt_le").cast("double")
          - expr(s"CAST($q AS DOUBLE)") * col("n"))).as("u"))): _*)).as("qq"))
      .select(col("lang"), col("x"), col("qq.q").as("q"), col("qq.u").as("u"))
    val u16 = conv(substring(md5(concat(lit("dpq:"), col("lang"), lit("|"),
      col("q"), lit("|"), col("x").cast("string")).cast("binary")), 1, 4), 16, 10)
      .cast("double")
    val u01 = (u16 + lit(0.5)) / lit(65536.0)
    val gumbel = -log(-log(u01))
    val score = expr(s"CAST($DpEpsilon AS DOUBLE) / CAST(2.0 AS DOUBLE)") *
      col("u") + gumbel
    scored.withColumn("score", round(score, 12))
      .groupBy("lang", "q")
      .agg(max(struct(col("score"), (-col("x")).as("negx"))).as("best"))
      .select(col("lang"), col("q"), (-col("best.negx")).as("released"))
      .orderBy("lang", "q")
  }

  val dpQuantilesSql: String =
    s"""WITH hist AS (
       |  SELECT lang, n_chars AS v, count(*) AS c FROM documents GROUP BY 1, 2
       |), totals AS (
       |  SELECT lang, sum(c)::BIGINT AS n FROM hist GROUP BY lang
       |), grid AS (
       |  SELECT lang, n, unnest(generate_series(0, $DpQuantGridMax, $DpQuantGridStep)) AS x
       |  FROM totals
       |), cntle AS (
       |  SELECT g.lang, g.n, g.x,
       |    sum(CASE WHEN h.v <= g.x THEN h.c ELSE 0 END)::BIGINT AS cnt_le
       |  FROM grid g LEFT JOIN hist h ON h.lang = g.lang
       |  GROUP BY 1, 2, 3
       |), scored AS (
       |  SELECT lang, x, q,
       |    -abs(cnt_le::DOUBLE - CAST(q AS DOUBLE) * n) AS u
       |  FROM cntle, unnest(['0.25', '0.5', '0.75']) AS t(q)
       |), drawn AS (
       |  SELECT lang, q, x,
       |    round(CAST($DpEpsilon AS DOUBLE) / CAST(2.0 AS DOUBLE) * u
       |      + (-ln(-ln((('0x' || substr(md5('dpq:' || lang || '|' || q || '|'
       |          || x::VARCHAR), 1, 4))::INT + 0.5) / 65536.0))), 12) AS score
       |  FROM scored
       |)
       |SELECT lang, q,
       |  -(max(struct_pack(score := score, negx := -x)).negx)::BIGINT AS released
       |FROM drawn GROUP BY lang, q
       |ORDER BY lang, q""".stripMargin

  /** Pseudonymization salt — in production a vaulted secret; pinned here
    * so both engines derive identical tokens. */
  val TokenSalt = "s9"

  /** Salted-hash pseudonymization with referential integrity — the GDPR
    * Art. 4(5) release shape: replace the direct identifier with
    * sha256(salt ‖ key) IN EVERY TABLE, and analytics still join — the
    * token is a pure function of (salt, key), so equality survives
    * tokenization while the raw key never leaves the trust boundary.
    * This query runs the revenue-per-segment join ENTIRELY ON TOKENS
    * (the raw custkey is dropped before the join) and reports per-segment
    * distinct-token cardinality next to order counts and exact-decimal
    * revenue; the spec pins token-join ≡ raw-join and zero collisions.
    *
    * Scale shape: tokenization is a narrow codegen projection (sha2);
    * the join/agg plan is unchanged from the raw-key version — the
    * governance transform is plan-invisible, which is the point.
    */
  def pseudonymizedRevenue(spark: SparkSession, dir: String): DataFrame = {
    def token(c: org.apache.spark.sql.Column) =
      sha2(concat(lit(TokenSalt), lit(":"), c.cast("string")), 256)
    val cust = Tables(spark, dir, "customer")
      .select(token(col("c_custkey")).as("tok"), col("c_mktsegment"))
    val orders = Tables(spark, dir, "orders")
      .select(token(col("o_custkey")).as("tok"), col("o_totalprice"))
    orders.join(cust, Seq("tok"))
      .groupBy("c_mktsegment")
      .agg(countDistinct(col("tok")).as("n_customers"),
        count(lit(1)).as("n_orders"),
        round(sum(col("o_totalprice").cast("decimal(15,2)")), 2)
          .cast("double").as("revenue"))
      .orderBy("c_mktsegment")
  }

  val pseudonymizedRevenueSql: String =
    s"""WITH cust AS (
       |  SELECT sha256('$TokenSalt:' || c_custkey::VARCHAR) AS tok, c_mktsegment
       |  FROM customer
       |), ord AS (
       |  SELECT sha256('$TokenSalt:' || o_custkey::VARCHAR) AS tok, o_totalprice
       |  FROM orders
       |)
       |SELECT c_mktsegment, count(DISTINCT tok) AS n_customers,
       |  count(*) AS n_orders,
       |  CAST(round(sum(o_totalprice::DECIMAL(15,2)), 2) AS DOUBLE) AS revenue
       |FROM ord JOIN cust USING (tok)
       |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin

  /** Numeric, string, and timestamp columns of `orders`, in profile
    * order. One definition feeds the query, the oracle, and the spec. */
  val ProfileNumCols: Seq[String] = Seq("o_orderkey", "o_custkey", "o_totalprice")
  val ProfileStrCols: Seq[String] = Seq("o_orderstatus", "o_orderpriority")
  val ProfileTsCols: Seq[String] = Seq("o_orderdate")

  /** Column-profiling report (the Deequ `ColumnProfiler` capability): one
    * row per column — non-null/null counts, EXACT distinct cardinality,
    * and typed min/max (numerics as doubles, strings as-is, timestamps
    * formatted) — the table stats a catalog publishes and a constraint
    * author reads before writing [[dataQualityChecks]] rules.
    *
    * Scale shape: ONE aggregate over one scan computes every column's
    * stats side by side; the row-per-column shape is a `stack` (unpivot)
    * of the 1-row result — 6 rows, no second scan. The multi-column
    * exact COUNT(DISTINCT) is the one Expand in the plan — the honest
    * price of exact cardinalities; [[profileColumnsApprox]] is the
    * fixed-memory HLL form for the 100-TB profile run.
    */
  def profileColumns(spark: SparkSession, dir: String): DataFrame = {
    val orders = Tables(spark, dir, "orders")
    val allCols = ProfileNumCols ++ ProfileStrCols ++ ProfileTsCols
    val aggs = allCols.flatMap { c =>
      val base = Seq(
        count(col(c)).as(s"${c}__nn"),
        sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"${c}__nul"),
        countDistinct(col(c)).as(s"${c}__nd"))
      val mm =
        if (ProfileNumCols.contains(c)) Seq(
          min(col(c)).cast("double").as(s"${c}__mn"),
          max(col(c)).cast("double").as(s"${c}__mx"),
          lit(null).cast("string").as(s"${c}__smn"),
          lit(null).cast("string").as(s"${c}__smx"))
        else if (ProfileStrCols.contains(c)) Seq(
          lit(null).cast("double").as(s"${c}__mn"),
          lit(null).cast("double").as(s"${c}__mx"),
          min(col(c)).as(s"${c}__smn"),
          max(col(c)).as(s"${c}__smx"))
        else Seq(
          lit(null).cast("double").as(s"${c}__mn"),
          lit(null).cast("double").as(s"${c}__mx"),
          date_format(min(col(c)), "yyyy-MM-dd HH:mm:ss").as(s"${c}__smn"),
          date_format(max(col(c)), "yyyy-MM-dd HH:mm:ss").as(s"${c}__smx"))
      base ++ mm
    }
    val one = orders.agg(aggs.head, aggs.tail: _*)
    val stackArgs = allCols.map(c =>
      s"'$c', ${c}__nn, ${c}__nul, ${c}__nd, ${c}__mn, ${c}__mx, ${c}__smn, ${c}__smx")
      .mkString(", ")
    one.select(expr(s"stack(${allCols.size}, $stackArgs) AS " +
        "(column_name, n_nonnull, n_null, n_distinct, min_num, max_num, min_str, max_str)"))
      .orderBy("column_name")
  }

  /** The 100-TB profile: identical report shape with `n_distinct` from
    * the HLL++ sketch (`approx_count_distinct`), so the sweep times the
    * plan a production profile run ships: ONE hash-friendly pass, no
    * Expand, fixed-size sketch partials.
    * Rows-only (sketch internals are engine-specific); the envelope vs
    * the exact anchor is spec-pinned. Everything except `n_distinct`
    * stays exact.
    */
  def profileColumnsApprox(spark: SparkSession, dir: String): DataFrame = {
    val orders = Tables(spark, dir, "orders")
    val allCols = ProfileNumCols ++ ProfileStrCols ++ ProfileTsCols
    val aggs = allCols.flatMap { c =>
      val base = Seq(
        count(col(c)).as(s"${c}__nn"),
        sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"${c}__nul"),
        approx_count_distinct(col(c)).as(s"${c}__nd"))
      val mm =
        if (ProfileNumCols.contains(c)) Seq(
          min(col(c)).cast("double").as(s"${c}__mn"),
          max(col(c)).cast("double").as(s"${c}__mx"),
          lit(null).cast("string").as(s"${c}__smn"),
          lit(null).cast("string").as(s"${c}__smx"))
        else if (ProfileStrCols.contains(c)) Seq(
          lit(null).cast("double").as(s"${c}__mn"),
          lit(null).cast("double").as(s"${c}__mx"),
          min(col(c)).as(s"${c}__smn"),
          max(col(c)).as(s"${c}__smx"))
        else Seq(
          lit(null).cast("double").as(s"${c}__mn"),
          lit(null).cast("double").as(s"${c}__mx"),
          date_format(min(col(c)), "yyyy-MM-dd HH:mm:ss").as(s"${c}__smn"),
          date_format(max(col(c)), "yyyy-MM-dd HH:mm:ss").as(s"${c}__smx"))
      base ++ mm
    }
    val one = orders.agg(aggs.head, aggs.tail: _*)
    val stackArgs = allCols.map(c =>
      s"'$c', ${c}__nn, ${c}__nul, ${c}__nd, ${c}__mn, ${c}__mx, ${c}__smn, ${c}__smx")
      .mkString(", ")
    one.select(expr(s"stack(${allCols.size}, $stackArgs) AS " +
        "(column_name, n_nonnull, n_null, n_distinct, min_num, max_num, min_str, max_str)"))
      .orderBy("column_name")
  }

  val profileColumnsSql: String = {
    def row(c: String, kind: String): String = {
      val (mn, mx, smn, smx) = kind match {
        case "num" => (s"min($c)::DOUBLE", s"max($c)::DOUBLE",
          "NULL::VARCHAR", "NULL::VARCHAR")
        case "str" => ("NULL::DOUBLE", "NULL::DOUBLE", s"min($c)", s"max($c)")
        case _ => ("NULL::DOUBLE", "NULL::DOUBLE",
          s"strftime(min($c), '%Y-%m-%d %H:%M:%S')",
          s"strftime(max($c), '%Y-%m-%d %H:%M:%S')")
      }
      s"""SELECT '$c' AS column_name, count($c) AS n_nonnull,
         |  sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_null,
         |  count(DISTINCT $c) AS n_distinct,
         |  $mn AS min_num, $mx AS max_num, $smn AS min_str, $smx AS max_str
         |FROM orders""".stripMargin
    }
    (ProfileNumCols.map(row(_, "num")) ++ ProfileStrCols.map(row(_, "str")) ++
      ProfileTsCols.map(row(_, "ts"))).mkString("", "\nUNION ALL\n", "\nORDER BY column_name")
  }

  /** Erasure-request selector: every 97th customer key — the deterministic
    * stand-in for a right-to-be-forgotten tombstone table. */
  val ErasureModulus = 97L

  /** GDPR erasure-cascade impact audit — the dry-run a data-platform team
    * runs before executing a right-to-be-forgotten batch: given a
    * tombstone TABLE of customer keys, how many rows does the delete
    * cascade touch in every downstream table (customer → orders →
    * lineitem), and what fraction of each table goes? The output is the
    * per-table blast radius (`n_rows`, `n_erased`, integer permille) a
    * DPO signs off on and a capacity planner sizes the rewrite from.
    *
    * The tombstone set is deliberately consumed as a FRAME, not folded
    * into a predicate: real erasure requests arrive as a table of ids, so
    * the cascade must be join-shaped. Scale shape: two keyed semi-joins —
    * orders⋉tombstones on custkey, lineitem⋉(erased orders) on orderkey —
    * each one exchange, AQE-skew-safe; the per-table tallies are three
    * single-row aggregates unioned into the report (no table scanned
    * twice: the erased-orders key set feeds both its own count and the
    * lineitem semi-join).
    */
  def erasureCascade(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables(spark, dir, "customer")
    val orders = Tables(spark, dir, "orders")
    val lineitem = Tables(spark, dir, "lineitem")
    val tomb = cust.filter(col("c_custkey") % ErasureModulus === 0L)
      .select(col("c_custkey"))
    val erasedOrders = orders
      .join(tomb, orders("o_custkey") === tomb("c_custkey"), "left_semi")
      .select(col("o_orderkey"))
      .localCheckpoint() // feeds its own count AND the lineitem semi-join
    val erasedLineitem = lineitem
      .join(erasedOrders,
        lineitem("l_orderkey") === erasedOrders("o_orderkey"), "left_semi")
    def tally(name: String, total: DataFrame, erased: DataFrame): DataFrame =
      total.agg(count(lit(1)).as("n_rows")).crossJoin(
        erased.agg(count(lit(1)).as("n_erased")))
        .select(lit(name).as("table_name"), col("n_rows"), col("n_erased"),
          expr("(n_erased * 1000L) div n_rows").as("erased_permille"))
    tally("customer", cust, tomb)
      .union(tally("lineitem", lineitem, erasedLineitem))
      .union(tally("orders", orders, erasedOrders))
      .orderBy("table_name")
  }

  /** Subjects filing an access request: every ([[AccessModulus]])-th
    * custkey — deterministic so both engines export the same batch. */
  val AccessModulus = 50L

  /** Subject-access export — the GDPR Art. 15 counterpart of
    * [[erasureCascade]] (Art. 17): for each requesting subject, an
    * inventory of every row the engine holds about them, per table, with
    * the money totals the subject would see. The erasure op measures the
    * blast radius of deletion; this one materializes the disclosure —
    * together they close the data-subject-rights pair.
    *
    * Scale shape: the request batch is tiny relative to the corpus, so
    * every probe is a broadcast semi/inner join keyed by the subject (or
    * their order keys) — the fact tables are scanned once each, no
    * shuffle on the fact side. Subjects with no rows in a table still
    * export an n_rows = 0 line (the Art. 15 answer "we hold nothing in
    * X" is part of the disclosure), via the left join from the subject
    * batch.
    *
    * Degenerate-regime guard: every broadcast here is sized by the
    * REQUEST BATCH (or an aggregate bounded by it). A bulk-export run —
    * regulator audit, migration — can make that batch arbitrarily large,
    * so the hints apply only within `broadcastGate` subjects; past it
    * every probe falls back to plain shuffle joins (results identical —
    * the gate changes layout, never the answer; spec-pinned).
    */
  def subjectAccessExport(spark: SparkSession, dir: String,
      broadcastGate: Long = 1000000L): DataFrame = {
    val subs = Tables(spark, dir, "customer")
      .filter(col("c_custkey") % AccessModulus === 0L)
      .select(col("c_custkey").as("subject"), col("c_acctbal"))
      .localCheckpoint() // feeds all three per-table probes AND the gate
    val nSubs = subs.count()
    def gated(df: DataFrame): DataFrame =
      if (nSubs <= broadcastGate) broadcast(df) else df
    val orders = Tables(spark, dir, "orders")
      .join(gated(subs.select("subject")),
        col("o_custkey") === col("subject"))
      .localCheckpoint() // feeds its own tally AND the lineitem probe
    val custRows = subs.select(col("subject"), lit("customer").as("table_name"),
      lit(1L).as("n_rows"), round(col("c_acctbal"), 2).as("amount"))
    val orderRows = subs.select("subject").join(
      gated(orders.groupBy("subject")
        .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("amt"))),
      Seq("subject"), "left")
      .select(col("subject"), lit("orders").as("table_name"),
        coalesce(col("n"), lit(0L)).as("n_rows"),
        coalesce(col("amt"), lit(0.0)).as("amount"))
    val lineRows = subs.select("subject").join(
      gated(Tables(spark, dir, "lineitem")
        .join(gated(orders.select("subject", "o_orderkey")),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy("subject")
        .agg(count(lit(1)).as("n"), round(sum("l_extendedprice"), 2).as("amt"))),
      Seq("subject"), "left")
      .select(col("subject"), lit("lineitem").as("table_name"),
        coalesce(col("n"), lit(0L)).as("n_rows"),
        coalesce(col("amt"), lit(0.0)).as("amount"))
    custRows.union(orderRows).union(lineRows)
      .orderBy("subject", "table_name")
  }

  val subjectAccessExportSql: String =
    s"""WITH subs AS (
       |  SELECT c_custkey AS subject, c_acctbal FROM customer
       |  WHERE c_custkey % $AccessModulus = 0
       |), so AS (
       |  SELECT o.* , s.subject FROM orders o
       |  JOIN subs s ON o.o_custkey = s.subject
       |)
       |SELECT * FROM (
       |  SELECT subject, 'customer' AS table_name, 1::BIGINT AS n_rows,
       |    round(c_acctbal, 2) AS amount
       |  FROM subs
       |  UNION ALL
       |  SELECT s.subject, 'orders',
       |    coalesce(t.n, 0), coalesce(t.amt, 0.0)
       |  FROM subs s LEFT JOIN (
       |    SELECT subject, count(*) AS n, round(sum(o_totalprice), 2) AS amt
       |    FROM so GROUP BY 1) t USING (subject)
       |  UNION ALL
       |  SELECT s.subject, 'lineitem',
       |    coalesce(t.n, 0), coalesce(t.amt, 0.0)
       |  FROM subs s LEFT JOIN (
       |    SELECT so.subject, count(*) AS n,
       |      round(sum(l.l_extendedprice), 2) AS amt
       |    FROM lineitem l JOIN so ON l.l_orderkey = so.o_orderkey
       |    GROUP BY 1) t USING (subject)
       |)
       |ORDER BY subject, table_name""".stripMargin

  /** Retention policy, pinned as constants (a production policy table —
    * deterministic; never `now()`, which would break re-runs and
    * cross-engine parity): orders kept from 1999-01-01, events kept from
    * 2024-01-15; lineitem expires WITH its order (referential cascade —
    * the fact rows of a purged order must not outlive it). */
  val OrdersRetainFrom = "1999-01-01"
  val EventsRetainFrom = "2024-01-15"

  /** TTL purge plan — the storage-limitation leg (GDPR Art. 5(1)(e)) next
    * to erasure (Art. 17, [[erasureCascade]]) and access (Art. 15,
    * [[subjectAccessExport]]): per table, how many rows the retention
    * policy expires, how many remain, and the oldest surviving timestamp
    * (the auditor's "nothing older than policy" witness). Lineitem
    * cascades through its parent order, not its own shipdate — the same
    * referential discipline as the erasure walk.
    *
    * Scale shape: pure scan-and-count per table (the expiry predicate is
    * a pushed-down date filter; on a date-partitioned production layout
    * the expired set is PARTITION-PRUNED, which is what makes the actual
    * purge a metadata drop); the cascade is one left-semi join on the
    * order key.
    */
  def ttlPurgePlan(spark: SparkSession, dir: String): DataFrame = {
    val oCut = lit(OrdersRetainFrom).cast("timestamp")
    val eCut = lit(EventsRetainFrom).cast("timestamp")
    val orders = Tables(spark, dir, "orders")
    val events = Tables(spark, dir, "events")
    val lineitem = Tables(spark, dir, "lineitem")
    val expiredOrders = orders.filter(col("o_orderdate") < oCut)
      .select(col("o_orderkey")).localCheckpoint() // feeds count + cascade
    val expiredLine = lineitem.join(expiredOrders,
      lineitem("l_orderkey") === expiredOrders("o_orderkey"), "left_semi")
    def tally(name: String, total: DataFrame, expired: DataFrame,
        retainedTs: DataFrame): DataFrame =
      total.agg(count(lit(1)).as("n_rows"))
        .crossJoin(expired.agg(count(lit(1)).as("n_expired")))
        .crossJoin(retainedTs.agg(
          // formatted, not raw (the date_range convention): a string
          // survives NTZ/LTZ union coercion and compares cross-engine
          date_format(min("ts"), "yyyy-MM-dd'T'HH:mm:ss").as("oldest_retained")))
        .select(lit(name).as("table_name"), col("n_rows"), col("n_expired"),
          expr("(n_expired * 1000L) div n_rows").as("expired_permille"),
          col("oldest_retained"))
    tally("events", events,
        events.filter(col("ts") < eCut),
        events.filter(col("ts") >= eCut).select("ts"))
      .union(tally("lineitem", lineitem, expiredLine,
        lineitem.join(expiredOrders,
            lineitem("l_orderkey") === expiredOrders("o_orderkey"), "left_anti")
          .select(col("l_shipdate").as("ts"))))
      .union(tally("orders", orders,
        orders.filter(col("o_orderdate") < oCut),
        orders.filter(col("o_orderdate") >= oCut)
          .select(col("o_orderdate").as("ts"))))
      .orderBy("table_name")
  }

  val ttlPurgePlanSql: String =
    s"""WITH eo AS (
       |  SELECT o_orderkey FROM orders
       |  WHERE o_orderdate < TIMESTAMP '$OrdersRetainFrom'
       |)
       |SELECT table_name, n_rows, n_expired,
       |  (n_expired * 1000) // n_rows AS expired_permille, oldest_retained
       |FROM (
       |  SELECT 'events' AS table_name,
       |    (SELECT count(*) FROM events) AS n_rows,
       |    (SELECT count(*) FROM events
       |     WHERE ts < TIMESTAMP '$EventsRetainFrom') AS n_expired,
       |    (SELECT strftime(min(ts), '%Y-%m-%dT%H:%M:%S') FROM events
       |     WHERE ts >= TIMESTAMP '$EventsRetainFrom') AS oldest_retained
       |  UNION ALL
       |  SELECT 'lineitem', (SELECT count(*) FROM lineitem),
       |    (SELECT count(*) FROM lineitem
       |     WHERE l_orderkey IN (SELECT o_orderkey FROM eo)),
       |    (SELECT strftime(min(l_shipdate), '%Y-%m-%dT%H:%M:%S') FROM lineitem
       |     WHERE l_orderkey NOT IN (SELECT o_orderkey FROM eo))
       |  UNION ALL
       |  SELECT 'orders', (SELECT count(*) FROM orders),
       |    (SELECT count(*) FROM orders
       |     WHERE o_orderdate < TIMESTAMP '$OrdersRetainFrom'),
       |    (SELECT strftime(min(o_orderdate), '%Y-%m-%dT%H:%M:%S') FROM orders
       |     WHERE o_orderdate >= TIMESTAMP '$OrdersRetainFrom')
       |)
       |ORDER BY table_name""".stripMargin

  val erasureCascadeSql: String =
    s"""WITH tomb AS (
       |  SELECT c_custkey FROM customer WHERE c_custkey % $ErasureModulus = 0
       |), eo AS (
       |  SELECT o_orderkey FROM orders
       |  WHERE o_custkey IN (SELECT c_custkey FROM tomb)
       |)
       |SELECT table_name, n_rows, n_erased,
       |  (n_erased * 1000) // n_rows AS erased_permille
       |FROM (
       |  SELECT 'customer' AS table_name,
       |    (SELECT count(*) FROM customer) AS n_rows,
       |    (SELECT count(*) FROM tomb) AS n_erased
       |  UNION ALL
       |  SELECT 'lineitem', (SELECT count(*) FROM lineitem),
       |    (SELECT count(*) FROM lineitem
       |     WHERE l_orderkey IN (SELECT o_orderkey FROM eo))
       |  UNION ALL
       |  SELECT 'orders', (SELECT count(*) FROM orders),
       |    (SELECT count(*) FROM eo)
       |)
       |ORDER BY table_name""".stripMargin

  /** PSI drift split date (reuses the experiment period boundary) and
    * the standard alert bar (>0.2 = significant shift). */
  val PsiSplitDate = "2024-01-16"
  val PsiBar = "0.2"

  /** The monitored-column bucket projections [[psiDrift]] counts over. */
  private[graft] val PsiColumns: Seq[(String, String)] = Seq(
    "value" -> "cast(cast(least(floor(value / 20.0), 9.0) as int) as string)",
    "event_type" -> "event_type")

  /** The PSI rollup over a (col_name, bucket, ce, ca) cell frame. */
  private[graft] def psiOfCells(cells: DataFrame): DataFrame = {
    val totals = cells.groupBy("col_name")
      .agg(count(lit(1)).as("b"), sum("ce").as("ne"), sum("ca").as("na"))
    cells.join(broadcast(totals), Seq("col_name"))
      .select(col("col_name"), col("b"),
        expr(
          """cast(
            |  (cast(ca + 1L as double) / cast(na + b as double)
            |   - cast(ce + 1L as double) / cast(ne + b as double))
            |  * ln((cast(ca + 1L as double) / cast(na + b as double))
            |       / (cast(ce + 1L as double) / cast(ne + b as double)))
            |as decimal(24,12))""".stripMargin).as("t"))
      .groupBy("col_name")
      .agg(first(col("b")).as("n_buckets"),
        round(sum(col("t")).cast("double"), 6).as("psi"),
        (sum(col("t")).cast("double") > expr(PsiBar)).as("drifted"))
      .orderBy("col_name")
  }

  /** Population-stability-index drift audit — the monitoring metric a
    * production scoring pipeline computes nightly over every model input:
    * PSI = Σ_buckets (p_actual − p_expected)·ln(p_actual/p_expected)
    * between a baseline period and the current one (here: events before /
    * after [[PsiSplitDate]]). Monitored columns: `value` (10 fixed-width
    * buckets — fixed, not quantile, so bucketing is a pure projection)
    * and `event_type` (categorical). Laplace +1 on every bucket keeps PSI
    * total when a bucket empties on one side.
    *
    * Exactness: counts are integers; each bucket term is one fixed-shape
    * IEEE tree cast to DECIMAL(24,12) before the ORDER-FREE decimal sum
    * (the [[graft.ops.TextAnalysis.langSourceMiOf]] discipline), rounded
    * 6. Scale shape: corpus scanned once per column into bucket-domain
    * aggregates (≤ 10 rows each); everything after is bounded.
    */
  def psiDrift(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir, "events")
    val pre = col("ts") < lit(PsiSplitDate).cast("timestamp")
    val cells = PsiColumns.map { case (name, bucket) =>
      ev.groupBy(expr(bucket).as("bucket"))
        .agg(sum(when(pre, 1L).otherwise(0L)).as("ce"),
          sum(when(!pre, 1L).otherwise(0L)).as("ca"))
        .withColumn("col_name", lit(name))
    }.reduce(_ unionByName _)
    psiOfCells(cells)
  }

  val psiDriftSql: String =
    s"""WITH ev AS (
       |  SELECT CASE WHEN ts < TIMESTAMP '$PsiSplitDate 00:00:00'
       |    THEN 1 ELSE 0 END AS is_pre, value, event_type
       |  FROM events
       |), cells AS (
       |  SELECT 'value' AS col_name,
       |    least(floor(value / 20.0), 9.0)::INT::VARCHAR AS bucket,
       |    sum(is_pre)::BIGINT AS ce, sum(1 - is_pre)::BIGINT AS ca
       |  FROM ev GROUP BY 2
       |  UNION ALL
       |  SELECT 'event_type', event_type,
       |    sum(is_pre)::BIGINT, sum(1 - is_pre)::BIGINT
       |  FROM ev GROUP BY 2
       |), totals AS (
       |  SELECT col_name, count(*) AS b,
       |    sum(ce)::BIGINT AS ne, sum(ca)::BIGINT AS na
       |  FROM cells GROUP BY 1
       |), terms AS (
       |  SELECT col_name, b,
       |    (((ca + 1)::DOUBLE / (na + b)::DOUBLE
       |      - (ce + 1)::DOUBLE / (ne + b)::DOUBLE)
       |     * ln(((ca + 1)::DOUBLE / (na + b)::DOUBLE)
       |          / ((ce + 1)::DOUBLE / (ne + b)::DOUBLE)))::DECIMAL(24,12) AS t
       |  FROM cells JOIN totals USING (col_name)
       |)
       |SELECT col_name, any_value(b) AS n_buckets,
       |  round(sum(t)::DOUBLE, 6) AS psi,
       |  sum(t)::DOUBLE > $PsiBar AS drifted
       |FROM terms GROUP BY col_name
       |ORDER BY col_name""".stripMargin

  /** Key-range width of one checksum bucket in [[replicaBucketDiff]]. */
  val ReplicaBucketKeys = 500L

  /** Canonicalized per-bucket (count, checksum) sums of an orders-shaped
    * frame. Counts AND checksums are both additive, so bucket states of
    * disjoint row sets merge by addition. */
  private[graft] def bucketSums(df: DataFrame, n: String, s: String): DataFrame =
    df.select(expr(s"o_orderkey div $ReplicaBucketKeys").as("bucket"),
        concat_ws(":", col("o_orderkey"), col("o_custkey"),
          col("o_orderstatus"),
          floor(col("o_totalprice") * 100.0 + 0.5).cast("long"),
          date_format(col("o_orderdate"), "yyyy-MM-dd"),
          col("o_orderpriority")).as("r"))
      .withColumn("h", expr("CAST(conv(substring(md5(CAST(r AS BINARY)), 1, 15), 16, 10) AS DECIMAL(38,0))"))
      .groupBy("bucket")
      .agg(count(lit(1)).as(n), sum(col("h")).as(s))

  /** The divergent-buckets readout over two bucket-sum frames. */
  private[graft] def bucketDiffOf(a: DataFrame, b: DataFrame): DataFrame =
    a.join(b, Seq("bucket"), "full_outer")
      .filter(coalesce(col("n_a"), lit(0L)) =!= coalesce(col("n_b"), lit(0L)) ||
        col("c_a") =!= col("c_b"))
      .select(col("bucket"),
        coalesce(col("n_a"), lit(0L)).as("n_a"),
        coalesce(col("n_b"), lit(0L)).as("n_b"))
      .orderBy("bucket")

  /** Replica anti-entropy via bucket checksums — the Merkle-tree-style
    * repair discipline (Cassandra/Dynamo): two replicas of a table are
    * compared by ONE (count, checksum) row per key-range bucket, and only
    * buckets that disagree ever need a row-level diff ([[snapshotDiff]]).
    * At 10¹² rows that is N/[[ReplicaBucketKeys]] comparison rows instead
    * of N — the difference between a nightly audit and an impossible one.
    *
    * Row fingerprint: a 60-bit integer from md5 over a CANONICALIZED
    * column rendering (integer cents for the price, fixed date format —
    * never raw double→string, whose formatting is engine-specific).
    * Bucket checksum = SUM of fingerprints carried as DECIMAL(38,0):
    * integer addition is order-free, so the checksum is partition- and
    * engine-independent, and any single-row change moves it (adversarial
    * collisions are not the threat model — bit rot and missed writes are).
    *
    * The "replica" here is planted from the same table so both engines
    * derive it identically: one corrupted price per ~997 keys, one
    * dropped row per ~1499 — the audit must flag exactly those buckets.
    */
  def replicaBucketDiff(spark: SparkSession, dir: String): DataFrame = {
    val orders = Tables(spark, dir, "orders")
    val replica = orders
      .filter(col("o_orderkey") % 1499 =!= 1) // planted missed write
      .withColumn("o_totalprice",
        when(col("o_orderkey") % 997 === 0, col("o_totalprice") + 1.0)
          .otherwise(col("o_totalprice"))) // planted bit rot
    bucketDiffOf(bucketSums(orders, "n_a", "c_a"),
      bucketSums(replica, "n_b", "c_b"))
  }

  val replicaBucketDiffSql: String =
    s"""WITH canon AS (
       |  SELECT o_orderkey, o_orderkey // $ReplicaBucketKeys AS bucket,
       |    o_orderkey::VARCHAR || ':' || o_custkey::VARCHAR || ':'
       |      || o_orderstatus || ':'
       |      || CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)::VARCHAR
       |      || ':' || strftime(o_orderdate, '%Y-%m-%d') || ':'
       |      || o_orderpriority AS r,
       |    o_totalprice
       |  FROM orders
       |), a AS (
       |  SELECT bucket, count(*) AS n_a,
       |    sum(('0x' || substr(md5(r), 1, 15))::BIGINT) AS c_a
       |  FROM canon GROUP BY 1
       |), rb AS (
       |  SELECT o_orderkey, o_orderkey // $ReplicaBucketKeys AS bucket,
       |    o_orderkey::VARCHAR || ':' || o_custkey::VARCHAR || ':'
       |      || o_orderstatus || ':'
       |      || CAST(floor((CASE WHEN o_orderkey % 997 = 0
       |                     THEN o_totalprice + 1.0 ELSE o_totalprice END)
       |              * 100.0 + 0.5) AS BIGINT)::VARCHAR
       |      || ':' || strftime(o_orderdate, '%Y-%m-%d') || ':'
       |      || o_orderpriority AS r
       |  FROM orders WHERE o_orderkey % 1499 != 1
       |), b AS (
       |  SELECT bucket, count(*) AS n_b,
       |    sum(('0x' || substr(md5(r), 1, 15))::BIGINT) AS c_b
       |  FROM rb GROUP BY 1
       |)
       |SELECT bucket, coalesce(n_a, 0) AS n_a, coalesce(n_b, 0) AS n_b
       |FROM a FULL OUTER JOIN b USING (bucket)
       |WHERE coalesce(n_a, 0) != coalesce(n_b, 0)
       |   OR c_a != c_b
       |ORDER BY bucket""".stripMargin

  /** The numeric lineitem columns [[correlationMatrix]] profiles. */
  private val CorrCols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")

  /** Pearson correlation matrix over the numeric lineitem columns — the
    * table-stats diagnostic behind join reordering, feature pruning, and
    * "is discount actually coupled to price?" questions. ALL pairwise
    * moments accumulate in ONE hash-aggregate pass (14 accumulators for
    * 4 columns), so the corpus is scanned once however many pairs are
    * reported — the [[graft.ops.Events.hourValueRegression]] moment
    * discipline widened to a matrix.
    *
    * Exactness: values quantize to integer cents (`floor(x·100 + 0.5)`,
    * exact for TPC-H's 2-decimal domains), squares and cross-products
    * carry DECIMAL(38,0), and r's numerator/denominator are formed in
    * exact integer arithmetic before ONE cast to double each — identical
    * in both engines bit-for-bit. At 10¹² rows the second moments reach
    * ~1e33 — still inside decimal's 38 digits (the cents scale is the
    * knob past that).
    *
    * Scale shape: one scan, one 1-row aggregate, a |pairs|-bounded
    * literal explode for presentation. Nothing else.
    */
  def correlationMatrix(spark: SparkSession, dir: String): DataFrame = {
    val cents = CorrCols.map(c => (c, s"c_$c"))
    var li = Tables(spark, dir, "lineitem")
    for ((c, cc) <- cents)
      li = li.withColumn(cc, floor(col(c) * 100.0 + 0.5).cast("long"))
    val firstMoments = cents.flatMap { case (_, cc) =>
      Seq(sum(col(cc)).as(s"s_$cc"),
        sum(expr(s"CAST($cc AS DECIMAL(38,0)) * $cc")).as(s"ss_$cc"))
    }
    val crossMoments = cents.combinations(2).toSeq.map { pair =>
      val (a, b) = (pair(0)._2, pair(1)._2)
      sum(expr(s"CAST($a AS DECIMAL(38,0)) * $b")).as(s"sx_${a}_$b")
    }
    val m = li.agg(count(lit(1)).as("n"),
      (firstMoments ++ crossMoments): _*)
    val pairRows = cents.combinations(2).toSeq.map { pair =>
      val ((ca, a), (cb, b)) = (pair(0), pair(1))
      struct(lit(ca).as("col_a"), lit(cb).as("col_b"),
        (expr(s"CAST(n AS DECIMAL(38,0)) * sx_${a}_$b - CAST(s_$a AS DECIMAL(38,0)) * s_$b")
          .cast("double") /
          sqrt(expr(s"CAST(n AS DECIMAL(38,0)) * ss_$a - CAST(s_$a AS DECIMAL(38,0)) * s_$a")
            .cast("double") *
            expr(s"CAST(n AS DECIMAL(38,0)) * ss_$b - CAST(s_$b AS DECIMAL(38,0)) * s_$b")
              .cast("double"))).as("r"))
    }
    m.select(col("n"), explode(array(pairRows: _*)).as("p"))
      .select(col("p.col_a"), col("p.col_b"), col("n"),
        round(col("p.r"), 6).as("r"))
      .orderBy("col_a", "col_b")
  }

  val correlationMatrixSql: String = {
    val moments = CorrCols.flatMap { c =>
      Seq(s"sum(c_$c)::HUGEINT AS s_c_$c",
        s"sum(c_$c::HUGEINT * c_$c) AS ss_c_$c")
    } ++ CorrCols.combinations(2).map { p =>
      s"sum(c_${p(0)}::HUGEINT * c_${p(1)}) AS sx_c_${p(0)}_c_${p(1)}"
    }
    val pairSelects = CorrCols.combinations(2).map { p =>
      val (a, b) = (s"c_${p(0)}", s"c_${p(1)}")
      s"""  SELECT '${p(0)}' AS col_a, '${p(1)}' AS col_b, n,
         |    round((n::HUGEINT * sx_${a}_$b - s_$a::HUGEINT * s_$b)::DOUBLE
         |      / sqrt((n::HUGEINT * ss_$a - s_$a::HUGEINT * s_$a)::DOUBLE
         |           * (n::HUGEINT * ss_$b - s_$b::HUGEINT * s_$b)::DOUBLE),
         |      6) AS r
         |  FROM m""".stripMargin
    }.mkString("\nUNION ALL\n")
    val centCols = CorrCols
      .map(c => s"CAST(floor($c * 100.0 + 0.5) AS BIGINT) AS c_$c")
      .mkString(", ")
    s"""WITH cents AS (
       |  SELECT $centCols FROM lineitem
       |), m AS (
       |  SELECT count(*) AS n, ${moments.mkString(", ")} FROM cents
       |)
       |$pairSelects
       |ORDER BY col_a, col_b""".stripMargin
  }
}
