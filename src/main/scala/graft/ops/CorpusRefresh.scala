package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The end-to-end incremental corpus-refresh composite — the DAG an
  * operator of a production training-data pipeline runs per ingest batch,
  * BEFORE any individual query: daily crawl batch → PII scrub →
  * URL-canonical dedup (vs history and within the batch) → near-dup vs
  * the history index → quality filter → sharded landing. Each stage is
  * the registered operator it names ([[Corpus.scrubbed]],
  * [[Sampling.canonicalUrl]], the [[Dedup.incrementalNearDup]] banded
  * index + verify, [[Corpus.qualityFilterOf]], the [[Sampling]] seeded
  * shard key); the composite wires them into one funnel and releases one
  * FATE row per batch document.
  *
  * Production contract (the [[graft.ops.IncrementalIndex]] discipline):
  * HISTORY IS ALREADY CURATED — it is the previous full run's landed
  * output, so it is internally URL-distinct, quality-passing, and
  * near-dup-free, and it enters this job only through its stored INDEX
  * artifacts: the canonical-URL key set, the banded minhash signature
  * table, and the id-probed shingle-set table. [[refreshAgainstIndex]]
  * is the core that consumes exactly those three artifacts (the spec
  * pins that it runs against parquet artifacts with the history TEXT
  * never read); [[refreshOf]] derives them from a raw history frame (the
  * registered-query convenience, the [[Dedup.incrementalNearDup]]
  * precedent — the artifact-table reuse story lives in README
  * §Deploying).
  *
  * Refresh ≡ full rebuild: when history is curated and precedes the
  * batch in keeper order, refreshing the batch against history produces
  * EXACTLY the fates a full rebuild over history ∪ batch assigns to the
  * batch docs — the keep-first rules ("canonical URL already claimed",
  * "near-dup partner with precedence") make the incremental run and the
  * rebuild the same function. CorpusRefreshSpec pins the equivalence on
  * a planted corpus; the DuckDB oracle re-derives the same funnel from
  * scratch (brute Jaccard for the near-dup leg — the
  * incremental_near_dup oracle convention; planted dups sit at j ≈ 0.99
  * where the 16-band/4-row miss probability is ≈ 4e-8).
  *
  * Scale shape, stage by stage (batch-∝ everywhere history allows):
  * scrub is a batch-only projection; URL dedup is one equi-join of the
  * batch against the stored canon key table plus a batch-bounded
  * keep-first window; the near-dup candidate join is (band, band_hash)
  * equi — batch signatures against the stored index, history×history
  * pairs NEVER form; exact verification touches shingle rows for
  * COLLIDING ids only (broadcast semi-join of the candidate id list);
  * quality is the one-pass explode + two doc_id-keyed aggregates over
  * batch survivors; landing is a pure projection. The only
  * history-sized operations are index lookups — exactly what a stored,
  * bucketed artifact table serves without a scan.
  */
object CorpusRefresh {

  /** The batch boundary: `doc_id % 10 >= 8` — the
    * [[Dedup.incrementalNearDup]] stand-in for ingest partitioning,
    * mirrored verbatim in the oracle. */
  private def isBatch = col("doc_id") % 10 >= 8

  /** Registered query: the refresh funnel on the documents table. */
  def corpusRefreshIncremental(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir, "documents").select("doc_id", "source", "text")
    refreshOf(docs.filter(!isBatch), docs.filter(isBatch))
  }

  private[ops] def plantedRefreshUrlForTest = plantedRefreshUrl
  private[ops] def bandsForTest(d: DataFrame): DataFrame = bandsOf(d)

  private def bandsOf(d: DataFrame): DataFrame = d.select(col("doc_id"),
    posexplode(graft.functions.MinHashBands(
      Dedup.shingles(col("text")), Dedup.MinhashK, Dedup.Bands))
      .as(Seq("band", "band_hash")))

  /** The composite's planted URL-variant mess — PROPORTIONAL collisions,
    * unlike [[Sampling.plantedUrl]]'s fixed |sources|×13 URL space (which
    * saturates as the corpus grows: at sf1 nearly every batch URL is
    * already claimed, starving the downstream stages). A real crawl's URL
    * space grows with the crawl, so here the path key is the doc_id
    * itself except for planted collisions: batch docs with
    * `doc_id % 40 = 8` share their key with history doc `doc_id − 1`
    * (%10 = 7), and `doc_id % 40 = 19` with batch doc `doc_id − 1`
    * (%10 = 8, smaller id) — exactly 2 of every 8 batch docs per 40-id
    * block, scale-invariant, split across the vs-history and
    * within-batch legs. The four variant STYLES still cycle on
    * `doc_id % 4`, so every canonicalizer rule keeps being exercised. */
  private def plantedRefreshUrl: org.apache.spark.sql.Column = {
    val key = when(col("doc_id") % 40 === 8 || col("doc_id") % 40 === 19,
      col("doc_id") - 1).otherwise(col("doc_id"))
    val host = lit("www.example.com")
    val path = concat(lit("/articles/"), key.cast("string"))
    when(col("doc_id") % 4 === 0,
        concat(lit("https://"), host, path))
      .when(col("doc_id") % 4 === 1,
        concat(lit("https://"), host, path,
          lit("?utm_source=feed&ref="), col("doc_id").cast("string")))
      .when(col("doc_id") % 4 === 2,
        concat(lit("https://"), host, path, lit("/")))
      .otherwise(concat(lit("HTTPS://"), upper(host), lit(":443"), path))
  }

  /** Derive the three history index artifacts from a raw history frame
    * and run the core — the registered-query path. A deployment calls
    * [[refreshAgainstIndex]] on the STORED artifacts instead. */
  def refreshOf(history: DataFrame, batch: DataFrame): DataFrame = {
    val (canon, bands, shingles) = indexArtifactsOf(history)
    refreshAgainstIndex(canon, bands, shingles, batch)
  }

  /** The three index artifacts of a CURATED `(doc_id, source, text)`
    * frame — what a full run LANDS next to its output so the next refresh
    * never re-scans history ((canon), (band, band_hash, hist_id),
    * (doc_id, sh)). */
  def indexArtifactsOf(curated: DataFrame): (DataFrame, DataFrame, DataFrame) =
    (curated.select(
       Sampling.canonicalUrl(plantedRefreshUrl).as("canon")).distinct(),
     bandsOf(curated).select(
       col("band"), col("band_hash"), col("doc_id").as("hist_id"),
       // hash-scheme stamp — see Dedup.requireBandScheme (a stale-version
       // index never collides with fresh band hashes, so readers fail fast
       // instead of silently missing every near-dup)
       lit(graft.functions.MinHashBands.SchemeVersion).as("mh_scheme")),
     curated.select(col("doc_id"), Dedup.shingles(col("text")).as("sh")))

  /** The core: refresh a `(doc_id, source, text)` batch against the
    * history INDEX artifacts only — `histCanon` (canon), `histBands`
    * (band, band_hash, hist_id), `histShingles` (doc_id, sh; probed by
    * candidate ids only). Returns one row per batch doc:
    * (doc_id, fate, shard) with fate ∈ url_dup | near_dup |
    * quality_<reason> | landed and shard set on landed rows. */
  def refreshAgainstIndex(
      histCanon: DataFrame,
      histBands: DataFrame,
      histShingles: DataFrame,
      batch: DataFrame): DataFrame = {
    // Persisted-artifact entry point: fail fast on a stale-scheme band
    // store (a pre-v2 index would silently report ZERO near-dups — its
    // hashes never collide with fresh ones). The guard lives HERE so
    // every caller of the documented stored-artifact API hits the same
    // check. `histBands` must therefore carry the `mh_scheme` stamp as
    // written by [[indexArtifactsOf]]; the guard strips it before the
    // band join.
    val hb = Dedup.requireBandScheme(histBands)
    // Stage 1 — PII scrub: per-row projection, drops nothing.
    val b = batch.select(col("doc_id"), col("source"),
      Corpus.scrubbed(col("text")).as("text"))

    // Stage 2 — URL-canonical dedup: claimed-by-history via one equi-join
    // on the stored canon key table; keep-first within the batch via a
    // canon-partitioned window (partitions bounded by per-URL batch
    // fan-in, never corpus-sized).
    val bCanon = b.select(col("doc_id"),
      Sampling.canonicalUrl(plantedRefreshUrl).as("canon"))
    val wUrl = Window.partitionBy("canon").orderBy("doc_id")
    val urlFlag = bCanon
      .join(histCanon.withColumn("in_hist", lit(true)), Seq("canon"), "left")
      .withColumn("rk", row_number().over(wUrl))
      .select(col("doc_id"),
        (col("in_hist").isNotNull || col("rk") > 1).as("url_dup"))
    val s1 = b.join(
      urlFlag.filter(!col("url_dup")).select("doc_id"), Seq("doc_id"))

    // Stage 3 — near-dup vs the history index + keep-first within the
    // batch: candidates form ONLY through (band, band_hash) collisions
    // (batch×index and batch×smaller-id-batch; history×history never),
    // then exact-Jaccard verification over shingles of colliding ids only.
    val s1b = bandsOf(s1).persist()
    val candHist = s1b.join(hb, Seq("band", "band_hash"))
      .select(col("doc_id"), col("hist_id").as("partner"))
    val candBatch = s1b
      .join(s1b.select(col("band"), col("band_hash"),
        col("doc_id").as("partner")), Seq("band", "band_hash"))
      .filter(col("partner") < col("doc_id"))
      .select("doc_id", "partner")
    val cand = candHist.unionAll(candBatch).dropDuplicates("doc_id", "partner")
    val s1sh = s1.select(col("doc_id"), Dedup.shingles(col("text")).as("sh"))
    val candIds = cand.select(col("partner").as("doc_id")).distinct()
    val pSh = histShingles.unionAll(s1sh)
      .join(broadcast(candIds), Seq("doc_id"))
    val ndDrop = cand
      .join(s1sh.select(col("doc_id"), col("sh").as("x_sh")), Seq("doc_id"))
      .join(pSh.select(col("doc_id").as("partner"), col("sh").as("y_sh")),
        Seq("partner"))
      .filter(round(Dedup.jaccard(col("x_sh"), col("y_sh")), 4)
        >= Dedup.JaccardThreshold)
      .select("doc_id").distinct()
    val s2 = s1.join(ndDrop, Seq("doc_id"), "left_anti")

    // Stage 4 — quality battery over the survivors (scrubbed text).
    val qual = Corpus.qualityFilterOf(s2).select(col("doc_id"), col("reason"))

    // Stage 5 — sharded landing (seeded md5 nibble, the shuffle_shards
    // key — a pure function of doc_id, so a re-run or a second engine
    // lands every doc in the identical shard) + FFD whole-document bin
    // packing WITHIN each landing shard (the ffd_pack_bins fold — packing
    // is sequential, so parallelism is exactly the shard fan-out).
    val shardExpr = expr(
      """cast(locate(substring(md5(cast(concat('s42:', cast(doc_id as string))
        |  as binary)), 1, 1), '0123456789abcdef') - 1 as int)""".stripMargin)
    val landed = s2
      .join(qual.filter(col("reason") === "ok").select("doc_id"), Seq("doc_id"))
      .select(col("doc_id"),
        size(Dedup.tokens(col("text"))).cast("int").as("n_tok"))
      .withColumn("shard", shardExpr)
    val packed = landed.groupBy("shard")
      .agg(sort_array(collect_list(
        struct((-col("n_tok")).as("neg_len"), col("doc_id"), col("n_tok"))))
        .as("docs"))
      .select(explode(expr(Corpus.ffdFoldExpr(Corpus.FfdCapacity))).as("o"))
      .select(col("o.doc_id").as("doc_id"), col("o.bin").as("bin"))

    bCanon.select("doc_id")
      .join(urlFlag, Seq("doc_id"))
      .join(ndDrop.withColumn("nd", lit(true)), Seq("doc_id"), "left")
      .join(qual, Seq("doc_id"), "left")
      .join(packed, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("url_dup"), lit("url_dup"))
          .when(col("nd").isNotNull, lit("near_dup"))
          .when(col("reason") =!= "ok", concat(lit("quality_"), col("reason")))
          .otherwise(lit("landed")).as("fate"),
        col("bin"))
      .withColumn("shard",
        when(col("fate") === "landed", shardExpr).otherwise(lit(null).cast("int")))
      .select("doc_id", "fate", "shard", "bin")
      .orderBy("doc_id")
  }

  /** Oracle: the funnel re-derived from scratch — scrub, planted-URL
    * canonicalization with the claimed-or-smaller-id rule, BRUTE Jaccard
    * for the near-dup leg (batch×history plus batch×smaller-id-batch,
    * the incremental_near_dup oracle convention), the quality battery
    * over survivors, and the seeded shard nibble. */
  val corpusRefreshIncrementalSql: String = {
    val email = Corpus.EmailRe
    val phone = Corpus.PhoneRe
    // single-line: interpolated into a stripMargin template, where an
    // embedded newline would let the outer stripMargin eat one '|' of '||'
    val canon =
      "regexp_replace(lower(regexp_extract(url, '^[^/]*//[^/]*')), ':443$', '') " +
        "|| regexp_replace(regexp_replace(regexp_replace(" +
        "regexp_replace(url, '^[^/]*//[^/]*', ''), " +
        "'(utm_[a-z]+|ref)=[^&]*&?', '', 'g'), " +
        "'[?&]$', ''), '/$', '')"
    def shCte(src: String): String =
      s"""SELECT doc_id, list_distinct(CASE WHEN len(t) >= 3
         |      THEN [t[i] || ' ' || t[i+1] || ' ' || t[i+2] FOR i IN range(1, len(t) - 1)]
         |      ELSE [lower(text)] END) AS sh
         |  FROM (SELECT doc_id, text,
         |          regexp_split_to_array(lower(text), '\\s+') AS t FROM $src)""".stripMargin
    s"""WITH RECURSIVE b AS MATERIALIZED (
       |  SELECT doc_id, source,
       |    regexp_replace(regexp_replace(text, '$email', '[EMAIL]', 'g'),
       |                   '$phone', '[PHONE]', 'g') AS text
       |  FROM documents WHERE doc_id % 10 >= 8
       |), h AS MATERIALIZED (
       |  SELECT doc_id, source, text FROM documents WHERE doc_id % 10 < 8
       |), burl AS MATERIALIZED (
       |  SELECT doc_id, $canon AS canon FROM (
       |    SELECT doc_id,
       |      CASE
       |        WHEN doc_id % 4 = 0 THEN 'https://' || host || path
       |        WHEN doc_id % 4 = 1 THEN 'https://' || host || path
       |          || '?utm_source=feed&ref=' || doc_id::VARCHAR
       |        WHEN doc_id % 4 = 2 THEN 'https://' || host || path || '/'
       |        ELSE 'HTTPS://' || upper(host) || ':443' || path
       |      END AS url
       |    FROM (SELECT doc_id, 'www.example.com' AS host,
       |            '/articles/' || (CASE WHEN doc_id % 40 IN (8, 19)
       |              THEN doc_id - 1 ELSE doc_id END)::VARCHAR AS path FROM b))
       |), hurl AS MATERIALIZED (
       |  SELECT DISTINCT $canon AS canon FROM (
       |    SELECT doc_id,
       |      CASE
       |        WHEN doc_id % 4 = 0 THEN 'https://' || host || path
       |        WHEN doc_id % 4 = 1 THEN 'https://' || host || path
       |          || '?utm_source=feed&ref=' || doc_id::VARCHAR
       |        WHEN doc_id % 4 = 2 THEN 'https://' || host || path || '/'
       |        ELSE 'HTTPS://' || upper(host) || ':443' || path
       |      END AS url
       |    FROM (SELECT doc_id, 'www.example.com' AS host,
       |            '/articles/' || (CASE WHEN doc_id % 40 IN (8, 19)
       |              THEN doc_id - 1 ELSE doc_id END)::VARCHAR AS path FROM h))
       |), url_flag AS MATERIALIZED (
       |  SELECT x.doc_id,
       |    (EXISTS (SELECT 1 FROM hurl WHERE hurl.canon = x.canon)
       |     OR EXISTS (SELECT 1 FROM burl y
       |                WHERE y.canon = x.canon AND y.doc_id < x.doc_id)) AS url_dup
       |  FROM burl x
       |), s1 AS MATERIALIZED (
       |  SELECT b.doc_id, b.source, b.text FROM b
       |  JOIN url_flag u ON u.doc_id = b.doc_id WHERE NOT u.url_dup
       |), bsh AS MATERIALIZED (
       |  ${shCte("s1")}
       |), hsh AS MATERIALIZED (
       |  ${shCte("h")}
       |), nd AS MATERIALIZED (
       |  SELECT DISTINCT doc_id FROM (
       |    SELECT x.doc_id FROM bsh x JOIN hsh y ON
       |      round(len(list_intersect(x.sh, y.sh))::DOUBLE
       |        / (len(x.sh) + len(y.sh) - len(list_intersect(x.sh, y.sh))), 4)
       |        >= ${Dedup.JaccardThreshold}
       |    UNION ALL
       |    SELECT x.doc_id FROM bsh x JOIN bsh y ON y.doc_id < x.doc_id AND
       |      round(len(list_intersect(x.sh, y.sh))::DOUBLE
       |        / (len(x.sh) + len(y.sh) - len(list_intersect(x.sh, y.sh))), 4)
       |        >= ${Dedup.JaccardThreshold})
       |), s2 AS MATERIALIZED (
       |  SELECT * FROM s1 WHERE doc_id NOT IN (SELECT doc_id FROM nd)
       |), qtoks AS MATERIALIZED (
       |  SELECT doc_id, text, regexp_split_to_array(lower(text), '\\s+') AS t FROM s2
       |), metrics AS (
       |  SELECT doc_id, len(t) AS n_tokens,
       |    list_sum(list_transform(t, x -> len(x)))::double / len(t) AS mean_len_raw,
       |    len(list_filter(t, x -> x IN ('the', 'a', 'of', 'and', 'to')))::double
       |      / len(t) AS stop_frac_raw
       |  FROM qtoks
       |), gc AS MATERIALIZED (
       |  SELECT doc_id, g, count(*) AS c FROM (
       |    SELECT doc_id, unnest(CASE WHEN len(t) >= 3
       |      THEN [t[i] || ' ' || t[i+1] || ' ' || t[i+2] FOR i IN range(1, len(t) - 1)]
       |      ELSE [lower(text)] END) AS g
       |    FROM qtoks)
       |  GROUP BY doc_id, g
       |), rep AS (
       |  SELECT doc_id,
       |    sum(CASE WHEN c > 1 THEN c ELSE 0 END)::double / sum(c) AS dup_frac_raw
       |  FROM gc GROUP BY doc_id
       |), qual AS (
       |  SELECT m.doc_id,
       |    CASE WHEN m.n_tokens < 15 THEN 'too_short'
       |         WHEN m.n_tokens > 2000 THEN 'too_long'
       |         WHEN m.mean_len_raw < 2.0 OR m.mean_len_raw > 8.0 THEN 'bad_word_length'
       |         WHEN m.stop_frac_raw < 0.01 THEN 'low_stopword'
       |         WHEN r.dup_frac_raw > 0.2 THEN 'repetitive'
       |         ELSE 'ok' END AS reason
       |  FROM metrics m JOIN rep r USING (doc_id)
       |), landed AS MATERIALIZED (
       |  SELECT s2.doc_id,
       |    len(regexp_split_to_array(lower(s2.text), '\\s+')) AS n_tok,
       |    (strpos('0123456789abcdef',
       |       substr(md5('s42:' || s2.doc_id::VARCHAR), 1, 1)) - 1)::INT AS shard
       |  FROM s2 JOIN qual q ON q.doc_id = s2.doc_id WHERE q.reason = 'ok'
       |), ranked AS MATERIALIZED (
       |  SELECT shard, doc_id, n_tok,
       |    row_number() OVER (PARTITION BY shard
       |      ORDER BY n_tok DESC, doc_id) AS rk
       |  FROM landed
       |), rec AS (
       |  SELECT shard, rk, doc_id, n_tok, 1 AS bin,
       |    [n_tok::BIGINT] AS loads
       |  FROM ranked WHERE rk = 1
       |  UNION ALL
       |  SELECT x.shard, x.rk, x.doc_id, x.n_tok,
       |    coalesce(
       |      list_filter(generate_series(1, len(r.loads)),
       |        i -> r.loads[i] + x.n_tok <= ${Corpus.FfdCapacity})[1],
       |      len(r.loads) + 1)::INT AS bin,
       |    CASE WHEN list_filter(generate_series(1, len(r.loads)),
       |           i -> r.loads[i] + x.n_tok <= ${Corpus.FfdCapacity})[1] IS NULL
       |         THEN list_append(r.loads, x.n_tok::BIGINT)
       |         ELSE list_transform(r.loads, (v, i) ->
       |           CASE WHEN i = list_filter(generate_series(1, len(r.loads)),
       |                  i2 -> r.loads[i2] + x.n_tok <= ${Corpus.FfdCapacity})[1]
       |                THEN v + x.n_tok ELSE v END)
       |    END AS loads
       |  FROM rec r JOIN ranked x ON x.shard = r.shard AND x.rk = r.rk + 1
       |)
       |SELECT f.doc_id,
       |  CASE WHEN u.url_dup THEN 'url_dup'
       |       WHEN n.doc_id IS NOT NULL THEN 'near_dup'
       |       WHEN q.reason <> 'ok' THEN 'quality_' || q.reason
       |       ELSE 'landed' END AS fate,
       |  CASE WHEN NOT u.url_dup AND n.doc_id IS NULL AND q.reason = 'ok'
       |       THEN (strpos('0123456789abcdef',
       |              substr(md5('s42:' || f.doc_id::VARCHAR), 1, 1)) - 1)::INT
       |  END AS shard,
       |  p.bin AS bin
       |FROM burl f
       |JOIN url_flag u ON u.doc_id = f.doc_id
       |LEFT JOIN nd n ON n.doc_id = f.doc_id
       |LEFT JOIN qual q ON q.doc_id = f.doc_id
       |LEFT JOIN rec p ON p.doc_id = f.doc_id
       |ORDER BY f.doc_id""".stripMargin
  }
}
