package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Corpus sampling / splitting operators for training-data pipelines.
  *
  * The load-bearing one is [[splitCounts]]'s hash-split: split membership
  * must be a PURE FUNCTION of a stable key — not of partitioning, row
  * order, or an RNG stream — so that re-runs, backfills, and other engines
  * agree on which rows are held out. md5 of the key gives that: the same
  * row lands in the same split on any cluster, any engine (the DuckDB
  * oracle computes the identical assignment).
  */
object Sampling {

  /** md5("seed:key") — the deterministic draw/order key every sampling
    * operator shares: a pure function of (seed, key), never of an RNG
    * stream, row order, or partitioning.
    */
  private[ops] def seededKey(seed: String, key: org.apache.spark.sql.Column) =
    md5(concat(lit(seed), lit(":"), key.cast("string")).cast("binary"))

  /** Deterministic train/test assignment: first hex nibble of
    * md5(doc_id) — 'c'..'f' (4/16 = 25%) → test, else train. A PURE
    * function of the key, so any operator holding a doc_id can derive
    * the split in-row — no join against an assignment table.
    */
  def splitOf(key: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    when(substring(md5(key.cast("string").cast("binary")), 1, 1)
      .between("c", "f"), "test").otherwise("train")

  def withSplit(df: DataFrame, key: String): DataFrame =
    df.withColumn("split", splitOf(col(key)))

  /** Per-(lang, split) counts of the hash-split documents table. */
  def splitCounts(spark: SparkSession, dir: String): DataFrame =
    withSplit(Tables(spark, dir, "documents"), "doc_id")
      .groupBy("lang", "split")
      .agg(count(lit(1)).as("n"))
      .orderBy("lang", "split")

  val splitCountsSql: String =
    """SELECT lang,
      |  CASE WHEN substr(md5(doc_id::VARCHAR), 1, 1) BETWEEN 'c' AND 'f'
      |       THEN 'test' ELSE 'train' END AS split,
      |  count(*) AS n
      |FROM documents
      |GROUP BY 1, 2
      |ORDER BY lang, split""".stripMargin

  private val HashFractions: Seq[(String, Double)] = Seq(
    "en" -> 0.5, "de" -> 0.5, "es" -> 0.25, "fr" -> 0.25, "zh" -> 0.75)

  private val HashSeed = 42L

  /** Hash-Bernoulli stratified sample: a row is kept iff the first 4 hex
    * digits of md5(seed:key) — a uniform 16-bit draw that is a pure
    * function of (seed, key) — fall below its stratum's threshold
    * `floor(fraction · 16⁴)` (compared as hex strings; '0'–'9' < 'a'–'f'
    * lexicographically, so string order IS numeric order). Same rows on
    * any engine, any partitioning, any run — and per-stratum rates land
    * within binomial noise of the requested fractions.
    */
  def stratifiedSampleHash(
      spark: SparkSession,
      dir: String,
      fractions: Seq[(String, Double)] = HashFractions,
      seed: Long = HashSeed): DataFrame = {
    val draw = substring(seededKey(seed.toString, col("doc_id")), 1, 4)
    val keep = fractions.map { case (lang, f) =>
      // f ≥ 1 must short-circuit: its threshold would render as the 5-char
      // "10000", which sorts BELOW any draw starting 'a'–'f' and would
      // silently drop ~37% of a keep-everything stratum; f ≤ 0 likewise
      val pass =
        if (f >= 1.0) lit(true)
        else if (f <= 0.0) lit(false)
        else draw < lit(f"${(f * 65536).toInt}%04x")
      (col("lang") === lang) && pass
    }.reduce(_ || _)
    Tables(spark, dir, "documents")
      .filter(keep)
      .select("doc_id", "lang")
      .orderBy("doc_id")
  }

  /** Target mixture shares for [[mixtureSample]] — deliberately different
    * from the corpus's natural lang distribution so resampling does real
    * work.
    */
  private val MixtureTargets: Seq[(String, Double)] = Seq(
    "en" -> 0.4, "de" -> 0.3, "es" -> 0.15, "fr" -> 0.1, "zh" -> 0.05)

  /** Corpus mixture resampling: downsample each language stratum toward a
    * target mixture — the data-mixing step before training. The limiting
    * stratum (largest target/available ratio) is kept whole; every other
    * stratum's acceptance fraction scales so achieved shares track the
    * targets. Membership uses the same md5 draw as
    * [[stratifiedSampleHash]], so the kept set is a pure function of
    * (seed, key) and the whole operator is oracle-checkable.
    *
    * Scale shape: one tiny per-lang count aggregate (broadcast back as the
    * fraction table), then a scan-and-filter — no window, no sort, no
    * per-stratum top-N (which would sort 1/|langs| of the corpus on one
    * task). Exact-N selection is deliberately traded for binomial-noise-N:
    * at training-corpus scale nobody needs exact counts, and the
    * threshold form keeps the plan embarrassingly parallel.
    *
    * Output: per-lang kept counts + achieved share, rounded — the report
    * a mixing job logs.
    */
  def mixtureSample(
      spark: SparkSession,
      dir: String,
      targets: Seq[(String, Double)] = MixtureTargets,
      seed: Long = HashSeed): DataFrame = {
    import spark.implicits._
    val docs = Tables(spark, dir, "documents")
    val langCounts = docs.groupBy("lang").agg(count(lit(1)).as("lang_n"))
    val targetDf = targets.toDF("lang", "target_share")
    // scale s.t. the tightest stratum is kept whole: s = min(n_l / t_l);
    // fraction_l = s * t_l / n_l ≤ 1
    val scaled = langCounts.join(broadcast(targetDf), Seq("lang"))
      .withColumn("ratio", col("lang_n").cast("double") / col("target_share"))
    val sFactor = scaled.agg(min(col("ratio")).as("s"))
    val fractions = scaled.crossJoin(broadcast(sFactor))
      .withColumn("keep_frac",
        least(lit(1.0), col("s") * col("target_share") / col("lang_n")))
      .select("lang", "target_share", "keep_frac")
    val draw = substring(seededKey(seed.toString, col("doc_id")), 1, 4)
    // draw/65536 < keep_frac — compared NUMERICALLY (conv hex → int), since
    // a fractional threshold can't be a 4-hex-digit string boundary
    val drawInt = conv(draw, 16, 10).cast("double")
    val kept = docs.join(broadcast(fractions), Seq("lang"))
      .filter(drawInt / 65536.0 < col("keep_frac"))
    kept.groupBy("lang").agg(count(lit(1)).as("kept_n"))
      .join(broadcast(fractions), Seq("lang"))
      .crossJoin(broadcast(kept.agg(count(lit(1)).as("total_kept"))))
      .select(col("lang"), col("kept_n"), col("target_share"),
        round(col("kept_n").cast("double") / col("total_kept"), 3).as("achieved_share"))
      .orderBy("lang")
  }

  val mixtureSampleSql: String = {
    val targetRows = MixtureTargets
      .map { case (l, t) => s"('$l', $t)" }.mkString(", ")
    s"""WITH targets(lang, target_share) AS (VALUES $targetRows),
       |lang_counts AS (
       |  SELECT lang, count(*) AS lang_n FROM documents GROUP BY lang
       |), scaled AS (
       |  SELECT c.lang AS lang, lang_n, target_share,
       |    lang_n::double / target_share AS ratio
       |  FROM lang_counts c JOIN targets USING (lang)
       |), fractions AS (
       |  SELECT lang, target_share,
       |    least(1.0, (SELECT min(ratio) FROM scaled) * target_share / lang_n) AS keep_frac
       |  FROM scaled
       |), kept AS (
       |  SELECT d.lang AS lang
       |  FROM documents d JOIN fractions f ON d.lang = f.lang
       |  WHERE ('0x' || substr(md5('$HashSeed:' || doc_id::VARCHAR), 1, 4))::INT / 65536.0
       |    < keep_frac
       |)
       |SELECT k.lang AS lang, kept_n, target_share,
       |  round(kept_n::double / (SELECT count(*) FROM kept), 3) AS achieved_share
       |FROM (SELECT lang, count(*) AS kept_n FROM kept GROUP BY lang) k
       |JOIN fractions USING (lang)
       |ORDER BY lang""".stripMargin
  }

  /** Temperature-based language resampling — the multilingual pre-training
    * mix (mBERT/XLM-R recipe): sample languages with probability
    * p_l ∝ (n_l/N)^α, α < 1, so low-resource languages are UP-weighted
    * relative to their natural share without ever repeating a document.
    * Downsample-only form: with the smallest stratum kept whole, the
    * per-language keep fraction collapses to
    *
    *   keep_frac_l = (n_min / n_l)^(1−α)
    *
    * (the normalizing Σ(n^α) cancels — derivation: scale s = min_l n_l/t_l
    * with t_l ∝ n_l^α is attained at the smallest stratum, and
    * s·t_l/n_l = (n_min/n_l)^(1−α)). α = 1 keeps the natural mix,
    * α → 0 flattens toward uniform; the default α = 0.5 makes the
    * fraction `sqrt(n_min/n_l)` — sqrt and division are IEEE
    * correctly-rounded in every engine, so the fraction (and therefore
    * each row's threshold compare) is BIT-exact cross-engine, unlike a
    * libm `pow` whose last ulp may differ. Membership reuses the shared
    * md5 draw: a pure function of (seed, doc_id).
    *
    * Scale shape: one tiny per-lang count aggregate broadcast back as the
    * fraction table, then a single scan-and-filter — no window, no sort,
    * no shuffle of the corpus itself (identical plan to [[mixtureSample]],
    * with the target shares now derived from the corpus instead of given).
    */
  def temperatureSample(
      spark: SparkSession,
      dir: String,
      seed: Long = HashSeed): DataFrame = {
    val docs = Tables(spark, dir, "documents")
    val langCounts = docs.groupBy("lang").agg(count(lit(1)).as("lang_n"))
    val minN = langCounts.agg(min(col("lang_n")).as("min_n"))
    val fractions = langCounts.crossJoin(broadcast(minN))
      .withColumn("keep_frac",
        sqrt(col("min_n").cast("double") / col("lang_n")))
      .select("lang", "lang_n", "keep_frac")
    val draw = substring(seededKey(seed.toString, col("doc_id")), 1, 4)
    val drawInt = conv(draw, 16, 10).cast("double")
    val kept = docs.join(broadcast(fractions), Seq("lang"))
      .filter(drawInt / 65536.0 < col("keep_frac"))
    kept.groupBy("lang").agg(count(lit(1)).as("kept_n"))
      .join(broadcast(fractions), Seq("lang"))
      .select(col("lang"), col("lang_n"), col("kept_n"),
        round(col("keep_frac"), 6).as("keep_frac"))
      .orderBy("lang")
  }

  val temperatureSampleSql: String =
    s"""WITH lang_counts AS (
       |  SELECT lang, count(*) AS lang_n FROM documents GROUP BY lang
       |), fractions AS (
       |  SELECT lang, lang_n,
       |    sqrt((SELECT min(lang_n) FROM lang_counts)::DOUBLE / lang_n) AS keep_frac
       |  FROM lang_counts
       |), kept AS (
       |  SELECT d.lang AS lang
       |  FROM documents d JOIN fractions f ON d.lang = f.lang
       |  WHERE ('0x' || substr(md5('$HashSeed:' || doc_id::VARCHAR), 1, 4))::INT / 65536.0
       |    < keep_frac
       |)
       |SELECT lang, lang_n, kept_n, round(keep_frac, 6) AS keep_frac
       |FROM (SELECT lang, count(*) AS kept_n FROM kept GROUP BY lang) k
       |JOIN fractions USING (lang)
       |ORDER BY lang""".stripMargin

  val stratifiedSampleHashSql: String = {
    // mirror the Scala side's degenerate-fraction guard: f ≥ 1 would render
    // the 5-char '10000', which sorts below draws starting 'a'–'f' and would
    // silently drop ~37% of a keep-everything stratum; f ≤ 0 likewise
    val arms = HashFractions.map { case (lang, f) =>
      val pass =
        if (f >= 1.0) "TRUE"
        else if (f <= 0.0) "FALSE"
        else f"substr(md5('$HashSeed:' || doc_id::VARCHAR), 1, 4) < '${(f * 65536).toInt}%04x'"
      s"(lang = '$lang' AND $pass)"
    }.mkString("\n   OR ")
    s"""SELECT doc_id, lang
       |FROM documents
       |WHERE $arms
       |ORDER BY doc_id""".stripMargin
  }

  /** Deterministic corpus shuffle + shard assignment: the "global shuffle"
    * every training run needs so that no shard is dominated by one source,
    * language, or crawl batch — but REPRODUCIBLE, because the order key is
    * md5(seed:doc_id), a pure function of the key and seed, not of an RNG
    * stream or partitioning (same discipline as [[withSplit]]; a re-run,
    * a backfill, or another engine derives the identical order).
    *
    * Shard = first hex nibble of the order key (16 shards here); position
    * within shard = rank by (order key, doc_id). Scale shape: shard
    * assignment is a pure projection; the per-shard ordering is what a
    * production writer gets for free from `repartitionByRange(order_key)`
    * + sorted write — the window below materializes the same positions at
    * test scale, partitioned on the shard key so state is per-shard. In
    * production shard counts are sized in the thousands (bounded shard
    * bytes), not 16, which also bounds the per-partition sort.
    */
  def shuffleShards(spark: SparkSession, dir: String, seed: String = "s42"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val okey = seededKey(seed, col("doc_id"))
    val nibble = substring(col("okey"), 1, 1)
    Tables(spark, dir, "documents")
      .select(col("doc_id"), col("lang"), okey.as("okey"))
      // SQL-form locate: the needle is a COLUMN (the Scala `locate` helper
      // only takes a literal needle); hex nibble → 0..15
      .withColumn("shard",
        expr("cast(locate(substring(okey, 1, 1), '0123456789abcdef') - 1 as int)"))
      .withColumn("pos", row_number().over(
        Window.partitionBy(nibble).orderBy(col("okey"), col("doc_id"))))
      .select("doc_id", "lang", "shard", "pos", "okey")
      .orderBy("shard", "pos")
  }

  val shuffleShardsSql: String =
    """SELECT doc_id, lang, shard, pos, okey FROM (
      |  SELECT doc_id, lang, okey,
      |    (strpos('0123456789abcdef', substr(okey, 1, 1)) - 1)::INT AS shard,
      |    row_number() OVER (PARTITION BY substr(okey, 1, 1)
      |                       ORDER BY okey, doc_id) AS pos
      |  FROM (SELECT doc_id, lang, md5('s42:' || doc_id::VARCHAR) AS okey
      |        FROM documents))
      |ORDER BY shard, pos""".stripMargin

  /** Domain/URL frequency capping — the standard web-corpus curation rule
    * "keep at most `cap` documents per host" (a handful of mega-hosts
    * otherwise dominate a crawl). WHICH docs survive is deterministic:
    * rank per host by md5(seed:doc_id) (the [[shuffleShards]] order-key
    * discipline — a pure function of key and seed, so re-runs, backfills,
    * and other engines retain the identical subset), keep ranks ≤ cap.
    *
    * Skew is the design point at 100 TB: a single host can hold 10⁸ docs.
    * The declarative rank-then-filter is deliberately left to Catalyst,
    * which plans it as a two-phase WindowGroupLimit (plan-pinned by spec):
    * a PARTIAL top-`cap` per host runs map-side before the exchange, so
    * at most `cap` rows per host per input slice ever shuffle, and the
    * final per-host rank sorts a capped, not corpus-sized, partition —
    * the hand-rolled salted two-phase rank, for free.
    */
  def urlHostCapsFrom(docs: DataFrame, cap: Int = 10, seed: String = "s42"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val okey = seededKey(seed, col("doc_id"))
    val exact = Window.partitionBy("host").orderBy(col("okey"), col("doc_id"))
    docs.select(col("doc_id"), col("host"), okey.as("okey"))
      .withColumn("host_rank", row_number().over(exact))
      .filter(col("host_rank") <= cap)
      .select("doc_id", "host", "host_rank")
      .orderBy("host", "host_rank")
  }

  /** Registered query: cap the documents table at 10 docs per `source`
    * (standing in for the URL host). */
  def urlHostCaps(spark: SparkSession, dir: String, cap: Int = 10): DataFrame =
    urlHostCapsFrom(
      Tables(spark, dir, "documents").select(col("doc_id"), col("source").as("host")),
      cap)

  /** URL canonicalization + keep-first dedup — the crawl-pipeline step
    * before any content dedup (CCNet/RefinedWeb run it first: the same
    * page arrives under tracking-parameter, trailing-slash, case and
    * default-port variants, and content dedup should never pay for what
    * string normalization resolves). Canonical form: lowercase scheme and
    * host, strip the https default port, strip tracking parameters
    * (`utm_*`, `ref`) with the query separators they leave behind, strip
    * one trailing slash. Keeper = min doc_id per canonical URL.
    *
    * The documents table carries no URL column, so the query PLANTS the
    * variant mess deterministically from (source, doc_id) — both engines
    * derive the identical raw URLs; the canonicalizer is what the oracle
    * checks. All regexes are in the Java∩RE2 subset.
    *
    * Scale shape: pure per-row string projection, then one hash aggregate
    * on the canonical key — the [[graft.ops.Dedup.exactDedup]] exchange.
    */
  def urlCanonicalDedup(spark: SparkSession, dir: String): DataFrame = {
    Tables(spark, dir, "documents")
      .select(col("doc_id"), canonicalUrl(plantedUrl).as("canon_url"))
      .groupBy("canon_url")
      .agg(min(col("doc_id")).as("keeper_id"), count(lit(1)).as("n_urls"))
      .orderBy("canon_url")
  }

  /** The deterministic planted URL-variant mess over (source, doc_id) —
    * shared by [[urlCanonicalDedup]] and the refresh composite so both
    * derive the identical raw URLs the canonicalizer resolves. */
  def plantedUrl: org.apache.spark.sql.Column = {
    val host = concat(col("source"), lit(".example.com"))
    val path = concat(lit("/articles/"), (col("doc_id") % 13).cast("string"))
    when(col("doc_id") % 4 === 0,
        concat(lit("https://"), host, path))
      .when(col("doc_id") % 4 === 1,
        concat(lit("https://"), host, path,
          lit("?utm_source=feed&ref="), col("doc_id").cast("string")))
      .when(col("doc_id") % 4 === 2,
        concat(lit("https://"), host, path, lit("/")))
      .otherwise(concat(lit("HTTPS://"), upper(host), lit(":443"), path))
  }

  /** The canonicalizer (library surface): scheme/host lowercase, default
    * port stripped, tracking params stripped with their separators,
    * trailing slash stripped. */
  def canonicalUrl(url: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    // lowercase scheme://host[:port] (everything before the first '/')
    val schemeHost = lower(regexp_extract(url, "^[^/]*//[^/]*", 0))
    val rest = regexp_replace(url, "^[^/]*//[^/]*", "")
    val noPort = regexp_replace(schemeHost, ":443$", "")
    val noTracking = regexp_replace(rest, "(utm_[a-z]+|ref)=[^&]*&?", "")
    val noDanglingSep = regexp_replace(noTracking, "[?&]$", "")
    val noSlash = regexp_replace(noDanglingSep, "/$", "")
    concat(noPort, noSlash)
  }

  val urlCanonicalDedupSql: String =
    """WITH raw AS (
      |  SELECT doc_id,
      |    CASE
      |      WHEN doc_id % 4 = 0 THEN 'https://' || host || path
      |      WHEN doc_id % 4 = 1 THEN 'https://' || host || path
      |        || '?utm_source=feed&ref=' || doc_id::VARCHAR
      |      WHEN doc_id % 4 = 2 THEN 'https://' || host || path || '/'
      |      ELSE 'HTTPS://' || upper(host) || ':443' || path
      |    END AS url
      |  FROM (
      |    SELECT doc_id, source || '.example.com' AS host,
      |      '/articles/' || (doc_id % 13)::VARCHAR AS path
      |    FROM documents)
      |), canon AS (
      |  SELECT doc_id,
      |    regexp_replace(lower(regexp_extract(url, '^[^/]*//[^/]*')), ':443$', '')
      |    || regexp_replace(regexp_replace(regexp_replace(
      |         regexp_replace(url, '^[^/]*//[^/]*', ''),
      |         '(utm_[a-z]+|ref)=[^&]*&?', '', 'g'),
      |         '[?&]$', ''), '/$', '') AS canon_url
      |  FROM raw
      |)
      |SELECT canon_url, min(doc_id) AS keeper_id, count(*) AS n_urls
      |FROM canon GROUP BY canon_url
      |ORDER BY canon_url""".stripMargin

  /** Per-host language-mix entropy: Shannon entropy (nats) of each host's
    * language distribution, with doc counts — the crawl-health diagnostic
    * read next to [[urlHostCaps]]: a mega-host with near-zero entropy is a
    * template farm; unusually high entropy flags mislabeled or mixed-crawl
    * sources. Two tiny hash aggregates (host×lang, then host) — no window,
    * no sort except the final presentation ordering.
    *
    * Parity: the entropy sum is an unordered float reduction over ≤ |langs|
    * terms, so the OUTPUT is rounded (6 dp) like every float-sum score
    * here; p·ln p terms themselves are correctly-rounded IEEE ops on
    * integer-derived ratios.
    */
  def hostLangEntropy(spark: SparkSession, dir: String): DataFrame = {
    val byHostLang = Tables(spark, dir, "documents")
      .groupBy(col("source").as("host"), col("lang"))
      .agg(count(lit(1)).as("n"))
    val byHost = byHostLang.groupBy("host").agg(sum("n").as("n_docs"))
    byHostLang.join(byHost, Seq("host"))
      .withColumn("p", col("n").cast("double") / col("n_docs"))
      .groupBy("host")
      .agg(
        first(col("n_docs")).as("n_docs"),
        count(lit(1)).as("n_langs"),
        round(-sum(col("p") * log(col("p"))), 6).as("lang_entropy"))
      .orderBy("host")
  }

  val hostLangEntropySql: String =
    """WITH by_host_lang AS (
      |  SELECT source AS host, lang, count(*) AS n FROM documents GROUP BY 1, 2
      |), by_host AS (
      |  SELECT host, sum(n) AS n_docs FROM by_host_lang GROUP BY 1
      |)
      |SELECT host, any_value(n_docs)::BIGINT AS n_docs, count(*) AS n_langs,
      |  round(-sum(p * ln(p)), 6) AS lang_entropy
      |FROM (
      |  SELECT hl.host, n_docs, n::double / n_docs AS p
      |  FROM by_host_lang hl JOIN by_host USING (host))
      |GROUP BY host
      |ORDER BY host""".stripMargin

  val urlHostCapsSql: String =
    """SELECT doc_id, host, host_rank FROM (
      |  SELECT doc_id, source AS host,
      |    row_number() OVER (PARTITION BY source
      |                       ORDER BY md5('s42:' || doc_id::VARCHAR), doc_id) AS host_rank
      |  FROM documents)
      |WHERE host_rank <= 10
      |ORDER BY host, host_rank""".stripMargin

  val ShardTargetChars = 20000L

  /** Buckets per shuffle partition in the two-phase prefix sum. The
    * bucket COUNT — not the bucket width — is what must stay bounded:
    * the unpartitioned offset window runs over one row per bucket, so
    * with `count ≤ partitions × this` it is O(cluster parallelism)
    * regardless of corpus size, while each within-bucket window holds
    * `N / count` rows — the same per-task share every other scan in the
    * engine already handles. (A constant bucket WIDTH gets this exactly
    * backwards: N/width buckets make the offset window linear in the
    * corpus — at bench SF that is 8 rows and invisible; at 100 TB it is
    * the single-task global sort the two-phase form exists to avoid.) */
  val ShardBucketsPerPartition = 32L

  /** Bucket width for an id span of `idRange` under `parallelism`-way
    * execution: the smallest width that keeps the bucket count at or
    * under `parallelism × ShardBucketsPerPartition`. */
  private[graft] def shardBucketWidth(idRange: Long, parallelism: Int): Long = {
    val targetBuckets = math.max(1L, parallelism.toLong * ShardBucketsPerPartition)
    math.max(1L, (idRange + targetBuckets - 1) / targetBuckets)
  }

  /** Size-balanced output sharding — the writer-side fix for the
    * small-files / fat-files problem: assign each doc a shard id so every
    * shard carries ≈ `targetChars` of payload in stable `doc_id` order
    * (shard = global running byte offset ÷ target).
    *
    * The naive formulation is a GLOBAL running sum — `Window.orderBy`
    * with no partition key, one task scanning the corpus: the canonical
    * scale-killer. This is the standard TWO-PHASE DISTRIBUTED PREFIX SUM
    * instead:
    *  1. bucket docs by `doc_id div B`, where B is sized from the id SPAN
    *    so the bucket count is bounded by cluster parallelism
    *    (`shardBucketWidth`; the span comes from one min/max aggregate —
    *    a parquet-stats-assisted narrow pass) and the manifest is
    *    provably independent of the choice of B;
    *  2. per-bucket totals via one hash aggregate (≤ bucket-count rows);
    *  3. cumulative offsets over THAT aggregate — the only unpartitioned
    *    window in the plan runs over O(parallelism) rows, not the corpus
    *    (the same bounded-small-frame discipline as the scalar-combine
    *    crossJoins), and broadcasts back;
    *  4. within-bucket running sums — a window PARTITIONED by bucket,
    *    each partition ≈ N/bucket-count rows (a per-task share) — plus
    *    the bucket offset give every doc its exact global offset with no
    *    corpus-sized sort anywhere.
    * Registered output is the per-shard manifest (what a writer consumes);
    * the two-phase offsets are provably equal to the global cumsum, which
    * is exactly what the oracle computes.
    */
  def sizeBalancedShards(spark: SparkSession, dir: String,
      targetChars: Long = ShardTargetChars, bucket: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = Tables(spark, dir, "documents")
      .select(col("doc_id"), col("n_chars"))
    val width = bucket.getOrElse {
      val span = base.agg(min("doc_id"), max("doc_id")).head()
      if (span.isNullAt(0)) 1L
      else shardBucketWidth(span.getLong(1) - span.getLong(0) + 1,
        spark.sessionState.conf.numShufflePartitions)
    }
    val docs = base.withColumn("bucket", expr(s"doc_id div $width"))
    val bucketTotals = docs.groupBy("bucket").agg(sum("n_chars").as("btotal"))
    val wOff = Window.orderBy("bucket")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val offsets = bucketTotals
      .withColumn("boff", sum(col("btotal")).over(wOff) - col("btotal"))
      .select("bucket", "boff")
    val wIn = Window.partitionBy("bucket").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs.join(broadcast(offsets), "bucket")
      .withColumn("start_off",
        col("boff") + sum(col("n_chars")).over(wIn) - col("n_chars"))
      .withColumn("shard", expr(s"start_off div $targetChars"))
      .groupBy("shard")
      .agg(
        count(lit(1)).as("n_docs"),
        sum("n_chars").cast("long").as("total_chars"),
        min("doc_id").as("first_doc"),
        max("doc_id").as("last_doc"))
      .orderBy("shard")
  }

  /** The oracle states the SPEC (global running sum); the plan implements
    * the provably-equal two-phase form. Integer arithmetic throughout.
    * `shard` is cast `::BIGINT` because DuckDB's window `sum` yields
    * HUGEINT (and `//` keeps it), which pandas fetches as float64 — the
    * driver's strict stringify-hash would then see `"0.0"` vs Spark's
    * `"0"` on value-identical rows (the `pack_sequences` bucket cast,
    * [[graft.ops.Corpus.packSequencesSql]], is the same pattern). */
  val sizeBalancedShardsSql: String =
    s"""SELECT shard, count(*) AS n_docs, sum(n_chars)::BIGINT AS total_chars,
       |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
       |FROM (
       |  SELECT doc_id, n_chars,
       |    ((sum(n_chars) OVER (ORDER BY doc_id
       |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_chars)
       |      // $ShardTargetChars)::BIGINT AS shard
       |  FROM documents)
       |GROUP BY shard
       |ORDER BY shard""".stripMargin

  /** Seed and sample size for [[weightedSampleEs]]. */
  val EsSeed = "42"
  val EsK = 50

  /** Weighted sampling WITHOUT replacement via exponential keys — the
    * Efraimidis–Spirakis A-ES scheme (IPL 2006): each row draws the
    * deterministic uniform u = (md5-16-bit-draw + 1)/65537 and scores
    * key = ln(u)/w; the k LARGEST keys are exactly a weighted
    * without-replacement sample (P(row first) = w/Σw, recursively). Here
    * w = n_chars, the "sample long documents proportionally more" shape
    * a corpus auditor wants.
    *
    * Why this is THE distributed form: no sequential pass, no rejection
    * loop, no replacement bookkeeping — selection is a global top-k by a
    * per-row pure function, which Spark executes as per-partition top-k
    * + driver merge of k-row heaps (TakeOrderedAndProject): one scan, no
    * shuffle of anything but k rows per partition. Ties (same 16-bit
    * draw AND same weight) break by doc_id in both engines, so the
    * selected SET is deterministic; the published key rounds to 8 for
    * display after selection.
    */
  def weightedSampleEs(spark: SparkSession, dir: String): DataFrame = {
    val draw = conv(substring(seededKey(EsSeed, col("doc_id")), 1, 4), 16, 10)
      .cast("double")
    val key = log((draw + 1.0) / 65537.0) / col("n_chars")
    Tables(spark, dir, "documents")
      .select(col("doc_id"), col("lang"), col("n_chars"), key.as("k"))
      .orderBy(desc("k"), col("doc_id")).limit(EsK)
      .select(col("doc_id"), col("lang"), col("n_chars"),
        round(col("k"), 8).as("es_key"))
      .orderBy("doc_id")
  }

  val weightedSampleEsSql: String =
    s"""SELECT doc_id, lang, n_chars, round(k, 8) AS es_key FROM (
       |  SELECT doc_id, lang, n_chars,
       |    ln((('0x' || substr(md5('$EsSeed:' || doc_id::VARCHAR), 1, 4))::INT
       |        + 1.0) / 65537.0) / n_chars AS k
       |  FROM documents
       |  ORDER BY k DESC, doc_id LIMIT $EsK)
       |ORDER BY doc_id""".stripMargin

  /** Per-stratum sample size for [[stratifiedTopkSample]]. */
  val StratumK = 10

  /** Per-stratum EXACT-k weighted sampling — the member of the sampling
    * family [[mixtureSample]] deliberately trades away ("exact-N selection
    * … would sort 1/|langs| of the corpus on one task"): when a fixed
    * per-stratum count IS required (eval sets, human-review batches),
    * take each language's top-k by the Efraimidis–Spirakis key
    * ln(u)/w — [[weightedSampleEs]]'s draw, per stratum — so membership
    * stays a pure function of (seed, key) and each stratum's sample is a
    * true weight-proportional draw without replacement.
    *
    * Scale shape: the naive per-stratum rank IS the single-task sort
    * mixtureSample warns about — but a rank-filter ≤ k plans as
    * WindowGroupLimit (the [[urlHostCaps]] skew armor): a map-side
    * PARTIAL top-k per stratum runs before the exchange, so at most k
    * rows per stratum per input slice ever shuffle, and the final
    * per-stratum sort ranks a capped, not corpus-sized, partition.
    */
  def stratifiedTopkSample(spark: SparkSession, dir: String,
      k: Int = StratumK): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val draw = conv(substring(seededKey(EsSeed, col("doc_id")), 1, 4), 16, 10)
      .cast("double")
    val key = log((draw + 1.0) / 65537.0) / col("n_chars")
    val w = Window.partitionBy("lang").orderBy(desc("es_key"), col("doc_id"))
    Tables(spark, dir, "documents")
      .select(col("doc_id"), col("lang"), col("n_chars"), key.as("es_key"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("lang"), col("rk"), col("doc_id"), col("n_chars"))
      .orderBy("lang", "rk")
  }

  val stratifiedTopkSampleSql: String =
    s"""SELECT lang, rk, doc_id, n_chars FROM (
       |  SELECT lang, doc_id, n_chars,
       |    row_number() OVER (PARTITION BY lang ORDER BY k DESC, doc_id) AS rk
       |  FROM (
       |    SELECT doc_id, lang, n_chars,
       |      ln((('0x' || substr(md5('$EsSeed:' || doc_id::VARCHAR), 1, 4))::INT
       |          + 1.0) / 65537.0) / n_chars AS k
       |    FROM documents))
       |WHERE rk <= $StratumK
       |ORDER BY lang, rk""".stripMargin

  /** Length-bucket width for [[distributionMatchSample]]. */
  val DmBucketChars = 100L

  /** Draw seed for [[distributionMatchSample]]. */
  val DmSeed = "dm42"

  /** Distribution-matching rejection sampler — resample every source so
    * its LENGTH-BUCKET distribution matches the corpus-wide target (the
    * curation step behind "make every crawl slice look like the reference
    * mix"; [[mixtureSample]] reweights source TOTALS, this matches the
    * conditional feature distribution WITHIN each source). Classic
    * rejection sampling: accept a doc of source s in bucket b with
    * probability p_b/(M_s·q_{s,b}) where p is the target share, q the
    * source's own share, and M_s = max_b p_b/q_{s,b} — the tightest
    * constant that keeps every acceptance ≤ 1, so the kept subset of
    * each source is distributed exactly like the target.
    *
    * Exactness: shares reduce to count ratios, so the acceptance test is
    * `draw · C_b·T_{b*} < T_b·C_{b*} · 65536` — pure integer cross-
    * multiplication against the engine's standard 16-bit `seededKey`
    * draw; products carried as DECIMAL(38,0) (≤ ~1e27 at 10¹¹ docs).
    * The argmax bucket b* orders by the IEEE-double quotient tb/cb —
    * both inputs are exact integers < 2⁵³, so the rounded quotient is
    * bit-identical in every engine; double-collision ties break to the
    * smaller bucket in BOTH engines, so the choice stays engine-identical
    * even if a collision hides the true max (a too-small M only clips
    * that bucket's acceptance at 1).
    *
    * Scale shape: one corpus scan into the (source, bucket) hash
    * aggregate; target and per-source argmax run on that bounded grid
    * (|sources|×|buckets|) and broadcast back; the accept test is a pure
    * per-row projection on the second scan. No window ever sees the
    * corpus.
    */
  def distributionMatchSample(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables(spark, dir, "documents")
      .withColumn("bucket", expr(s"n_chars div $DmBucketChars"))
    val cells = docs.groupBy("source", "bucket").agg(count(lit(1)).as("cb"))
    val target = cells.groupBy("bucket").agg(sum(col("cb")).as("tb"))
    val grid = cells.join(broadcast(target), Seq("bucket"))
      .withColumn("qd", col("tb").cast("double") / col("cb"))
    val star = grid.withColumn("rk", row_number().over(
        Window.partitionBy("source").orderBy(col("qd").desc, col("bucket"))))
      .filter(col("rk") === 1)
      .select(col("source"), col("tb").as("tb_star"), col("cb").as("cb_star"))
    // the bounded (|sources| x |buckets|) rate table MATERIALIZES once
    // (localCheckpoint): without it every downstream reference re-plans —
    // and re-scans — the corpus-backed cells aggregate
    val rates = grid.join(broadcast(star), Seq("source"))
      .select(col("source"), col("bucket"), col("cb"), col("tb"),
        col("tb_star"), col("cb_star"))
      .localCheckpoint()
    val draw = conv(substring(seededKey(DmSeed, col("doc_id")), 1, 4), 16, 10)
      .cast("long")
    val kept = docs.join(broadcast(rates), Seq("source", "bucket"))
      .filter(draw.cast("decimal(38,0)") * col("cb") * col("tb_star") <
        col("tb").cast("decimal(38,0)") * col("cb_star") * lit(65536L))
      .groupBy("source", "bucket").agg(count(lit(1)).as("n_kept"))
    rates.join(kept, Seq("source", "bucket"), "left")
      .select(col("source"), col("bucket"), col("cb").as("n_before"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        expr("(1000 * CAST(tb AS DECIMAL(38,0)) * cb_star) div (CAST(cb AS DECIMAL(38,0)) * tb_star)")
          .cast("long").as("accept_pm"))
      .orderBy("source", "bucket")
  }

  val distributionMatchSampleSql: String =
    s"""WITH docs AS (
       |  SELECT doc_id, source, n_chars // $DmBucketChars AS bucket
       |  FROM documents
       |), cells AS (
       |  SELECT source, bucket, count(*) AS cb FROM docs GROUP BY 1, 2
       |), target AS (
       |  SELECT bucket, sum(cb)::BIGINT AS tb FROM cells GROUP BY 1
       |), grid AS (
       |  SELECT c.source, c.bucket, c.cb, t.tb,
       |    t.tb::DOUBLE / c.cb AS qd
       |  FROM cells c JOIN target t USING (bucket)
       |), star AS (
       |  SELECT source, tb AS tb_star, cb AS cb_star FROM (
       |    SELECT source, tb, cb,
       |      row_number() OVER (PARTITION BY source
       |        ORDER BY qd DESC, bucket) AS rk
       |    FROM grid) WHERE rk = 1
       |), kept AS (
       |  SELECT d.source, d.bucket, count(*) AS n_kept
       |  FROM docs d JOIN grid g ON d.source = g.source AND d.bucket = g.bucket
       |  JOIN star s ON s.source = d.source
       |  WHERE ('0x' || substr(md5('$DmSeed:' || d.doc_id::VARCHAR), 1, 4))::INT
       |        ::HUGEINT * g.cb * s.tb_star
       |      < g.tb::HUGEINT * s.cb_star * 65536
       |  GROUP BY 1, 2
       |)
       |SELECT g.source, g.bucket, g.cb AS n_before,
       |  coalesce(k.n_kept, 0) AS n_kept,
       |  ((1000 * g.tb::HUGEINT * s.cb_star)
       |    // (g.cb::HUGEINT * s.tb_star))::BIGINT AS accept_pm
       |FROM grid g JOIN star s USING (source)
       |LEFT JOIN kept k ON k.source = g.source AND k.bucket = g.bucket
       |ORDER BY g.source, g.bucket""".stripMargin


  /** Number of k-center coreset representatives ([[kcenterCoreset]]). */
  val KcK = 8

  /** Greedy k-center coreset selection (Gonzalez '85 farthest-point
    * traversal, the classic 2-approximation) over the embeddings — the
    * DIVERSITY-side curation primitive next to the density-side samplers
    * above: pick the corpus point farthest (squared L2) from everything
    * chosen so far, k times, then assign every vector to its nearest
    * representative. Training-data pipelines use the representatives as a
    * coverage-preserving subset and the assignment radii as a coverage
    * audit.
    *
    * Execution shape: the selection is a DRIVER LOOP of k bounded steps
    * (the [[Similarity.mmrRerankTopK]] greedy-bounded-driver convention) —
    * each step is ONE distributed argmax (TakeOrderedAndProject over the
    * persisted corpus; the driver ever holds only the k chosen vectors),
    * and the assignment is one more scan against k plan-time literals.
    * At 100 TB: k + 1 scans total, no shuffle beyond the top-1 combine.
    *
    * Exactness: dist² = ⟨v,v⟩ − 2⟨v,c⟩ + ⟨c,c⟩ as ONE written expression
    * over the shared left-to-right dot kernel, so every distance is
    * bit-identical cross-engine; argmax ties break by vec_id, assignment
    * ties by center rank — the oracle re-derives the identical greedy
    * chain LITERAL-FREE as chained MATERIALIZED CTEs ([[kcenterCoresetSql]]).
    */
  def kcenterCoreset(spark: SparkSession, dir: String, k: Int = KcK): DataFrame = {
    val e = Tables(spark, dir, "embeddings")
      .select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("v"))
      .persist() // k argmax scans + the assignment pass
    def dist2To(c: Array[Double]) = {
      val dbb = c.map(x => x * x).sum
      graft.functions.DotProduct(col("v"), col("v")) -
        lit(2.0) * graft.functions.DotProduct(col("v"), lit(c)) + lit(dbb)
    }
    val first = e.orderBy("vec_id").limit(1).collect()(0)
    var centers = Vector((first.getLong(0), first.getSeq[Double](1).toArray))
    for (_ <- 2 to k) {
      val d =
        if (centers.size == 1) dist2To(centers.head._2)
        else least(centers.map(c => dist2To(c._2)): _*)
      val next = e.select(col("vec_id"), col("v"), d.as("d"))
        .orderBy(col("d").desc, col("vec_id")).limit(1).collect()(0)
      centers = centers :+ ((next.getLong(0), next.getSeq[Double](1).toArray))
    }
    val structs = centers.zipWithIndex.map { case ((cid, cv), i) =>
      struct(dist2To(cv).as("d"), lit(i + 1).as("center_rank"),
        lit(cid).as("center_id"))
    }
    val out = e.select(col("vec_id"),
      element_at(array_sort(array(structs: _*)), 1).as("a"))
      .select(col("vec_id"), col("a.center_rank").as("center_rank"),
        col("a.center_id").as("center_id"),
        // + 0.0: dist² of a near-twin of a center can evaluate to a tiny
        // NEGATIVE double (catastrophic cancellation) whose rounded zero
        // keeps its sign bit on some engines — the community_modularity
        // −0.0 lesson, applied before it bites here
        (round(col("a.d"), 4) + lit(0.0)).as("d2"))
      .orderBy("vec_id")
      .localCheckpoint(true) // realize, then release the corpus cache
    e.unpersist()
    out
  }

  /** Literal-free EXACT oracle for [[kcenterCoreset]]: the greedy chain
    * unrolled as MATERIALIZED CTE pairs (cᵢ = argmax of the running min
    * distance dᵢ₋₁; dᵢ = least(dᵢ₋₁, dist² to cᵢ)), then the per-vector
    * nearest-center window with the same (d, rank) tie rule. */
  def kcenterCoresetSql(k: Int = KcK): String = {
    def dist(ev: String, cv: String) =
      s"list_dot_product($ev, $ev) - 2.0 * list_dot_product($ev, $cv) + list_dot_product($cv, $cv)"
    val steps = (2 to k).map { i =>
      s"""c$i AS MATERIALIZED (
         |  SELECT $i AS r, vec_id, v FROM (
         |    SELECT vec_id, v, row_number() OVER (ORDER BY d DESC, vec_id) AS rn
         |    FROM d${i - 1}) WHERE rn = 1
         |), d$i AS MATERIALIZED (
         |  SELECT e.vec_id, e.v, least(e.d, ${dist("e.v", "c.v")}) AS d
         |  FROM d${i - 1} e CROSS JOIN c$i c
         |)""".stripMargin
    }.mkString(",\n")
    val union = (1 to k).map(i => s"SELECT r, vec_id, v FROM c$i").mkString("\nUNION ALL\n")
    s"""WITH ev AS MATERIALIZED (
       |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
       |), c1 AS MATERIALIZED (
       |  SELECT 1 AS r, vec_id, v FROM ev ORDER BY vec_id LIMIT 1
       |), d1 AS MATERIALIZED (
       |  SELECT e.vec_id, e.v, ${dist("e.v", "c.v")} AS d
       |  FROM ev e CROSS JOIN c1 c
       |),
       |$steps, centers AS MATERIALIZED (
       |$union
       |)
       |SELECT vec_id, center_rank, center_id, d2 FROM (
       |  SELECT e.vec_id, c.r AS center_rank, c.vec_id AS center_id,
       |    round(${dist("e.v", "c.v")}, 4) + 0.0 AS d2,
       |    row_number() OVER (PARTITION BY e.vec_id
       |      ORDER BY ${dist("e.v", "c.v")}, c.r) AS rn
       |  FROM ev e CROSS JOIN centers c)
       |WHERE rn = 1
       |ORDER BY vec_id""".stripMargin
  }
}
