package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-preparation operators a large-scale LLM training-data pipeline
  * runs between raw text and the tokenizer: repetition-based quality
  * filtering (the Gopher/C4 family), PII scrubbing, train/test
  * decontamination, and sequence packing.
  *
  * Scale shapes:
  *  - repetition stats: explode n-gram multiset → two-level aggregate,
  *    both keyed by doc_id (the second shuffle carries only distinct-gram
  *    counts, a fraction of the first);
  *  - PII scrub: pure per-row regex projection, no shuffle;
  *  - decontamination: the held-out set is SMALL by construction, so its
  *    shingle index broadcasts — the corpus-side scan stays shuffle-free
  *    until the final per-doc aggregate;
  *  - packing: per-group running sum (one window partitioned by the pack
  *    group), then one aggregate — packing parallelism = number of groups,
  *    which is why a production packer keys by (shard, language), never a
  *    single global order.
  */
object Corpus {

  /** Repetition statistics per document (the Gopher repetition-filter
    * family): n-gram multiset size, the top gram's occurrence count, and
    * the fraction of gram occurrences that are duplicates; `keep` applies
    * the duplicate-fraction threshold.
    *
    * Uses the n-gram MULTISET ([[graft.functions.WordNGrams.all]]) — the
    * dedup-side shingle operator is distinct-only, which cannot see
    * repetition.
    */
  def repetitionStats(spark: SparkSession, dir: String, n: Int = 3,
      maxDupFrac: Double = 0.2): DataFrame =
    repetitionStatsOf(Tables(spark, dir, "documents"), n, maxDupFrac)

  /** [[repetitionStats]] over any `(doc_id, text)` frame (library surface). */
  def repetitionStatsOf(docs: DataFrame, n: Int = 3,
      maxDupFrac: Double = 0.2): DataFrame = {
    val grams = docs
      .select(col("doc_id"), explode(graft.functions.WordNGrams.all(col("text"), n)).as("g"))
    val counts = grams.groupBy("doc_id", "g").agg(count(lit(1)).as("c"))
    counts.groupBy("doc_id")
      .agg(
        sum(col("c")).as("n_grams"),
        max(col("c")).as("top_gram_count"),
        round(sum(when(col("c") > 1, col("c")).otherwise(lit(0))).cast("double")
          / sum(col("c")), 4).as("dup_gram_frac"))
      .withColumn("keep", col("dup_gram_frac") <= maxDupFrac)
      .orderBy("doc_id")
  }

  val repetitionStatsSql: String =
    """SELECT *, (dup_gram_frac <= 0.2) AS keep FROM (
      |  SELECT doc_id, sum(c)::BIGINT AS n_grams, max(c) AS top_gram_count,
      |    round(sum(CASE WHEN c > 1 THEN c ELSE 0 END)::double / sum(c), 4) AS dup_gram_frac
      |  FROM (
      |    SELECT doc_id, g, count(*) AS c FROM (
      |      SELECT doc_id, unnest(CASE WHEN len(t) >= 3
      |        THEN [t[i] || ' ' || t[i+1] || ' ' || t[i+2] FOR i IN range(1, len(t) - 1)]
      |        ELSE [lower(text)] END) AS g
      |      FROM (SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS t FROM documents)
      |        JOIN documents USING (doc_id))
      |    GROUP BY doc_id, g)
      |  GROUP BY doc_id)
      |ORDER BY doc_id""".stripMargin

  /** Gopher-style composite quality filter: the rule battery a corpus
    * pipeline runs before the tokenizer — token-count bounds, mean word
    * length, stopword density, n-gram repetition — with the FIRST failing
    * rule as the drop reason (the reference validator's reason-code
    * pattern, applied to corpus prep: a fixed precedence makes the drop
    * histogram stable and auditable).
    *
    * Scale shape: the per-row metrics (token count, mean length, stopword
    * fraction) project once per document BEFORE the n-gram explode —
    * Catalyst plans the projection under the Generate, so they ride the
    * two-level repetition aggregate as carried `first()` columns and the
    * whole filter costs exactly what [[repetitionStats]] costs: explode +
    * two doc_id-keyed aggregates, no extra join against a second scan of
    * the corpus. Thresholds compare on the RAW IEEE ratios (deterministic
    * per doc — no summation-order dependence), and the published columns
    * round for display; both choices are mirrored in the oracle.
    */
  def qualityFilter(spark: SparkSession, dir: String): DataFrame =
    qualityFilterOf(Tables(spark, dir, "documents"))

  def qualityFilterOf(docs: DataFrame, n: Int = 3): DataFrame = {
    val t = Dedup.tokens(col("text"))
    val stoplist = array(TextAnalysis.Stopwords.head._2.map(lit): _*)
    val exploded = docs.select(
      col("doc_id"),
      size(t).as("n_tokens"),
      (aggregate(t, lit(0L), (acc, x) => acc + length(x)).cast("double") / size(t))
        .as("mean_len_raw"),
      (size(filter(t, x => array_contains(stoplist, x))).cast("double") / size(t))
        .as("stop_frac_raw"),
      explode(graft.functions.WordNGrams.all(col("text"), n)).as("g"))
    val gramCounts = exploded.groupBy("doc_id", "g")
      .agg(count(lit(1)).as("c"),
        first("n_tokens").as("n_tokens"),
        first("mean_len_raw").as("mean_len_raw"),
        first("stop_frac_raw").as("stop_frac_raw"))
    val perDoc = gramCounts.groupBy("doc_id")
      .agg(
        first("n_tokens").as("n_tokens"),
        first("mean_len_raw").as("mean_len_raw"),
        first("stop_frac_raw").as("stop_frac_raw"),
        (sum(when(col("c") > 1, col("c")).otherwise(lit(0))).cast("double")
          / sum(col("c"))).as("dup_frac_raw"))
    val reason =
      when(col("n_tokens") < 15, "too_short")
        .when(col("n_tokens") > 2000, "too_long")
        .when(col("mean_len_raw") < 2.0 || col("mean_len_raw") > 8.0, "bad_word_length")
        .when(col("stop_frac_raw") < 0.01, "low_stopword")
        .when(col("dup_frac_raw") > 0.2, "repetitive")
        .otherwise("ok")
    perDoc.select(
      col("doc_id"),
      col("n_tokens"),
      round(col("mean_len_raw"), 4).as("mean_len"),
      round(col("stop_frac_raw"), 4).as("stop_frac"),
      round(col("dup_frac_raw"), 4).as("dup_gram_frac"),
      reason.as("reason"),
      (reason === "ok").as("keep"))
      .orderBy("doc_id")
  }

  val qualityFilterSql: String =
    """WITH toks AS (
      |  SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS t FROM documents
      |), metrics AS (
      |  SELECT doc_id, len(t) AS n_tokens,
      |    list_sum(list_transform(t, x -> len(x)))::double / len(t) AS mean_len_raw,
      |    len(list_filter(t, x -> x IN ('the', 'a', 'of', 'and', 'to')))::double
      |      / len(t) AS stop_frac_raw
      |  FROM toks
      |), gc AS (
      |  SELECT doc_id, g, count(*) AS c FROM (
      |    SELECT doc_id, unnest(CASE WHEN len(t) >= 3
      |      THEN [t[i] || ' ' || t[i+1] || ' ' || t[i+2] FOR i IN range(1, len(t) - 1)]
      |      ELSE [lower(text)] END) AS g
      |    FROM toks JOIN documents USING (doc_id))
      |  GROUP BY doc_id, g
      |), rep AS (
      |  SELECT doc_id,
      |    sum(CASE WHEN c > 1 THEN c ELSE 0 END)::double / sum(c) AS dup_frac_raw
      |  FROM gc GROUP BY doc_id
      |)
      |SELECT doc_id, n_tokens, round(mean_len_raw, 4) AS mean_len,
      |  round(stop_frac_raw, 4) AS stop_frac, round(dup_frac_raw, 4) AS dup_gram_frac,
      |  reason, (reason = 'ok') AS keep
      |FROM (
      |  SELECT m.doc_id, m.n_tokens, m.mean_len_raw, m.stop_frac_raw, r.dup_frac_raw,
      |    CASE WHEN m.n_tokens < 15 THEN 'too_short'
      |         WHEN m.n_tokens > 2000 THEN 'too_long'
      |         WHEN m.mean_len_raw < 2.0 OR m.mean_len_raw > 8.0 THEN 'bad_word_length'
      |         WHEN m.stop_frac_raw < 0.01 THEN 'low_stopword'
      |         WHEN r.dup_frac_raw > 0.2 THEN 'repetitive'
      |         ELSE 'ok' END AS reason
      |  FROM metrics m JOIN rep r USING (doc_id))
      |ORDER BY doc_id""".stripMargin

  /** Regex patterns in the Java∩RE2 subset (no lookaround), so the DuckDB
    * oracle runs the identical scrub.
    */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhoneRe = "\\+\\d{1,2}-\\d{3}-\\d{4}"

  /** PII scrubbing: find + redact emails and phone numbers, reporting match
    * counts and the digest of the scrubbed text. Pure per-row projection —
    * the shape of every regex-scrub pass (secrets, URLs, boilerplate) a
    * corpus pipeline runs at 100 TB.
    *
    * The synthetic corpus contains no PII, so the query plants
    * deterministic contact strings on every 5th document first (both
    * engines derive the identical planted text — the scrub itself is what
    * is being verified).
    */
  def piiScrub(spark: SparkSession, dir: String): DataFrame = {
    val planted = when(col("doc_id") % 5 === 0,
      concat(col("text"), lit(" contact user"), col("doc_id").cast("string"),
        lit("@example.com or +1-555-"),
        lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
      .otherwise(col("text"))
    piiScrubOf(Tables(spark, dir, "documents")
      .select(col("doc_id"), planted.as("text")))
  }

  /** The redacted text itself (library surface). */
  def scrubbed(text: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    regexp_replace(
      regexp_replace(text, lit(EmailRe), lit("[EMAIL]")),
      lit(PhoneRe), lit("[PHONE]"))

  /** [[piiScrub]] over any `(doc_id, text)` frame (library surface). */
  def piiScrubOf(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      size(regexp_extract_all(col("text"), lit(EmailRe), lit(0))).as("n_emails"),
      size(regexp_extract_all(col("text"), lit(PhoneRe), lit(0))).as("n_phones"),
      md5(scrubbed(col("text")).cast("binary")).as("scrubbed_md5"))
      .orderBy("doc_id")

  val piiScrubSql: String =
    s"""SELECT doc_id,
       |  len(regexp_extract_all(planted, '$EmailRe')) AS n_emails,
       |  len(regexp_extract_all(planted, '$PhoneRe')) AS n_phones,
       |  md5(regexp_replace(regexp_replace(planted, '$EmailRe', '[EMAIL]', 'g'),
       |      '$PhoneRe', '[PHONE]', 'g')) AS scrubbed_md5
       |FROM (
       |  SELECT doc_id,
       |    CASE WHEN doc_id % 5 = 0
       |      THEN text || ' contact user' || doc_id::VARCHAR || '@example.com or +1-555-'
       |        || lpad((doc_id % 10000)::VARCHAR, 4, '0')
       |      ELSE text END AS planted
       |  FROM documents)
       |ORDER BY doc_id""".stripMargin

  /** Card-number candidate pattern (Java∩RE2): four 4-digit groups with
    * optional space/hyphen separators. */
  val CardRe = "\\d{4}[ -]?\\d{4}[ -]?\\d{4}[ -]?\\d{4}"

  /** Checksum-gated card-number scrubbing — the precision upgrade over
    * [[piiScrub]]'s pattern-only redaction: a bare 16-digit regex also
    * matches order numbers, tracking ids, and hashes, and at corpus scale
    * a false positive DESTROYS data (the scrub is irreversible). The
    * standard discipline is validate-then-mask: extract candidates by
    * regex, verify each with the Luhn checksum (the check digit every
    * real card number carries), and mask only verified spans. Spark-side
    * the verifier is the built-in codegen `luhn_check`; masking is a
    * fold over the VALID spans only (`aggregate(valid, text, replace)`),
    * so invalid candidates survive untouched — the spec and oracle both
    * pin a planted near-miss (checksum-off-by-one) surviving.
    *
    * The oracle restates Luhn from first principles (reversed-digit
    * indexed fold, doubling every second digit) and runs the identical
    * replace fold — engine and oracle agree on candidates, verdicts, and
    * scrubbed bytes. Planting follows the [[piiScrub]] convention (the
    * corpus carries no card numbers; both engines derive identical
    * planted text). Pure per-row projection — the 100-TB scrub shape.
    */
  def ccScrub(spark: SparkSession, dir: String): DataFrame = {
    val planted = when(col("doc_id") % 7 === 0,
        concat(col("text"), lit(" card 4111111111111111 on file")))
      .when(col("doc_id") % 7 === 3,
        concat(col("text"), lit(" order 4111111111111112 ref")))
      .when(col("doc_id") % 7 === 5,
        concat(col("text"), lit(" pay 5500-0000-0000-0004 now")))
      .otherwise(col("text"))
    val candsSql = s"regexp_extract_all(text, '${CardRe.replace("\\", "\\\\")}', 0)"
    val validSql =
      s"filter($candsSql, c -> luhn_check(regexp_replace(c, '[ -]', '')))"
    Tables(spark, dir, "documents")
      .select(col("doc_id"), planted.as("text"))
      .select(col("doc_id"),
        expr(s"size($candsSql)").as("n_candidates"),
        expr(s"size($validSql)").as("n_valid"),
        md5(expr(s"aggregate($validSql, text, (acc, c) -> replace(acc, c, '[CARD]'))")
          .cast("binary")).as("scrubbed_md5"))
      .orderBy("doc_id")
  }

  val ccScrubSql: String = {
    val luhn = """list_sum(list_transform(
      string_split(reverse(regexp_replace(c, '[ -]', '', 'g')), ''),
      (d, i) -> CASE WHEN i % 2 = 1 THEN d::INT
                     ELSE CASE WHEN 2 * d::INT > 9 THEN 2 * d::INT - 9
                          ELSE 2 * d::INT END END)) % 10 = 0"""
    s"""WITH planted AS (
       |  SELECT doc_id,
       |    CASE WHEN doc_id % 7 = 0 THEN text || ' card 4111111111111111 on file'
       |         WHEN doc_id % 7 = 3 THEN text || ' order 4111111111111112 ref'
       |         WHEN doc_id % 7 = 5 THEN text || ' pay 5500-0000-0000-0004 now'
       |         ELSE text END AS text
       |  FROM documents
       |), spans AS (
       |  SELECT doc_id, text,
       |    regexp_extract_all(text, '$CardRe') AS cands,
       |    list_filter(regexp_extract_all(text, '$CardRe'), c -> $luhn) AS valid
       |  FROM planted
       |)
       |SELECT doc_id, len(cands) AS n_candidates, len(valid) AS n_valid,
       |  md5(list_reduce(list_prepend(text, valid),
       |      (acc, c) -> replace(acc, c, '[CARD]'))) AS scrubbed_md5
       |FROM spans ORDER BY doc_id""".stripMargin
  }

  /** Tokens per boilerplate segment and the doc-frequency threshold above
    * which a segment counts as boilerplate. */
  val BoilerplateChunkTokens = 4
  val BoilerplateMinDocs = 3

  /** Boilerplate removal — the CCNet/RefinedWeb frequent-line filter:
    * segments that recur across ≥ `minDocs` DISTINCT documents (nav bars,
    * cookie banners, footers — here, fixed 4-token windows standing in for
    * newline-delimited lines, which this corpus lacks) are cut from every
    * document, and the survivors are reassembled in order. Unlike
    * [[graft.ops.Dedup.cutSpans]] (maximal repeated n-gram RUNS between
    * document PAIRS), this is a corpus-frequency criterion: a segment's
    * doc-frequency decides, no pair ever forms.
    *
    * Scale shape: segment explode (narrow) → distinct (segment, doc) →
    * per-segment doc-frequency aggregate → equi-join back on the segment
    * string → one per-doc regroup for reassembly. Two shuffles keyed on
    * segment and doc_id — never a pair join, never a window over the
    * corpus. At 100 TB the join key becomes the segment's 128-bit hash so
    * the exchange carries 16 bytes, not the text (the md5 the output
    * already computes).
    *
    * Output: affected documents only, with the segment funnel and the
    * digest of the reassembled text (the [[piiScrubOf]] convention —
    * pinning the reassembly byte-exactly without shipping the corpus).
    */
  def boilerplateScrubOf(docs: DataFrame,
      minDocs: Int = BoilerplateMinDocs): DataFrame = {
    val k = BoilerplateChunkTokens
    val toks = docs.select(col("doc_id"), split(col("text"), " ").as("t"))
    val chunks = toks
      .select(col("doc_id"), col("t"),
        explode(sequence(lit(0),
          floor((size(col("t")) + k - 1).cast("double") / k).cast("int") - 1)).as("cid"))
      .select(col("doc_id"), col("cid"),
        array_join(slice(col("t"), col("cid") * k + 1, lit(k)), " ").as("chunk"),
        ((col("cid") + 1) * k <= size(col("t"))).as("isfull"))
    // doc-frequency of full segments; the tail (< k tokens) can never match
    // a full segment string (different space count) but is excluded anyway
    val freq = chunks.filter(col("isfull"))
      .select("chunk", "doc_id").distinct()
      .groupBy("chunk").agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDocs)
      .select(col("chunk"), lit(true).as("hit"))
    chunks.join(freq, Seq("chunk"), "left")
      .withColumn("boiler", coalesce(col("hit"), lit(false)) && col("isfull"))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_chunks"),
        sum(when(col("boiler"), 1L).otherwise(0L)).as("n_removed"),
        md5(array_join(
          transform(
            array_sort(collect_list(when(!col("boiler"),
              struct(col("cid"), col("chunk"))))),
            x => x.getField("chunk")),
          " ").cast("binary")).as("clean_md5"))
      .filter(col("n_removed") > 0)
      .orderBy("doc_id")
  }

  /** [[boilerplateScrubOf]] on the documents table. */
  def boilerplateScrub(spark: SparkSession, dir: String): DataFrame =
    boilerplateScrubOf(Tables(spark, dir, "documents"))

  val boilerplateScrubSql: String = {
    val k = BoilerplateChunkTokens
    s"""WITH toks AS (
       |  SELECT doc_id, string_split(text, ' ') AS t FROM documents
       |), expl AS (
       |  SELECT doc_id, t, unnest(generate_series(0, (len(t)+${k - 1})//$k - 1)) AS cid
       |  FROM toks
       |), chunks AS (
       |  SELECT doc_id, cid,
       |    array_to_string(list_slice(t, cid*$k + 1, cid*$k + $k), ' ') AS chunk,
       |    (cid+1)*$k <= len(t) AS isfull
       |  FROM expl
       |), freq AS (
       |  SELECT chunk FROM (SELECT DISTINCT chunk, doc_id FROM chunks WHERE isfull)
       |  GROUP BY chunk HAVING count(*) >= $BoilerplateMinDocs
       |), marked AS (
       |  SELECT c.doc_id, c.cid, c.chunk,
       |    (f.chunk IS NOT NULL AND c.isfull) AS boiler
       |  FROM chunks c LEFT JOIN freq f ON c.chunk = f.chunk
       |)
       |SELECT doc_id, count(*) AS n_chunks,
       |  count(*) FILTER (boiler) AS n_removed,
       |  md5(coalesce(string_agg(chunk, ' ' ORDER BY cid) FILTER (NOT boiler), ''))
       |    AS clean_md5
       |FROM marked GROUP BY doc_id
       |HAVING count(*) FILTER (boiler) > 0
       |ORDER BY doc_id""".stripMargin
  }

  /** Train/test decontamination: flag training documents sharing ≥
    * `minShared` distinct word n-grams with any held-out document — the
    * benchmark-leakage scan every LLM data pipeline runs before training.
    * Held-out set = doc_id ≡ 0 (mod 50), matching the ANN query set.
    *
    * Scale shape: the held-out side is small by construction → its
    * exploded shingle index BROADCASTS; the training corpus is scanned
    * once, candidate grams hash-join map-side, and the only shuffle is the
    * final per-train-doc aggregate.
    */
  def decontaminate(spark: SparkSession, dir: String,
      n: Int = 5, minShared: Int = 2): DataFrame = {
    val docs = Tables(spark, dir, "documents").select("doc_id", "text")
    def gramRows(df: DataFrame, idName: String) = df.select(
      col("doc_id").as(idName), explode(Dedup.shingles(col("text"), n)).as("g"))
    val testG = gramRows(docs.filter(col("doc_id") % 50 === 0), "test_id")
    val trainG = gramRows(docs.filter(col("doc_id") % 50 =!= 0), "train_id")
    trainG.join(broadcast(testG), Seq("g"))
      .groupBy("train_id")
      .agg(
        countDistinct(col("g")).as("n_shared_grams"),
        countDistinct(col("test_id")).as("n_test_docs"))
      .filter(col("n_shared_grams") >= minShared)
      .orderBy("train_id")
  }

  /** [[decontaminate]]'s deployable 100-TB shape: the exact variant
    * broadcasts the ENTIRE held-out shingle index — fine while the
    * held-out set is benchmark-sized, a multi-GB ship once it grows. A
    * Bloom filter side is FIXED-SIZE (~9.6 bits per gram at 1% fpp — a
    * 10⁹-gram held-out index rides in ~1.2 GB regardless of gram length),
    * probes map-side on the broadcast bits with no join at all, and errs
    * only toward over-flagging: `mightContain` has NO false negatives, so
    * every document the exact scan flags is flagged here too (spec-pinned),
    * plus a bounded-fpp tail of extras — the safe direction for leakage
    * screening (over-remove, never under-remove). fpp sizing matters at
    * the DOC level: a doc probing G grams false-flags at ~P(Poisson(G·fpp)
    * ≥ minShared), so the default is 10⁻³ (≈0.1% of 50-gram docs), not the
    * sketch-conventional 1% (which would false-flag ~9% of them).
    *
    * Build and probe ride Spark's OWN bloom expressions — the same pair
    * its runtime-filter injection plants (`BloomFilterAggregate` /
    * `BloomFilterMightContain`): the filter is built DISTRIBUTED (partial
    * sketches merged by the aggregate, only the final ~fixed-size bits
    * reach the driver), and the probe is a codegen predicate over the
    * embedded bits — no interpreted UDF, no broadcast-variable
    * round-trip, no per-row Scala call. Both sides key on `xxhash64(g)`
    * (the aggregate's long-input form), so membership is exact for every
    * gram in the held-out set — the no-false-negative guarantee is
    * hash-function-independent. The only exchange in the plan is the
    * final per-train-doc aggregate.
    */
  def decontaminateBloom(spark: SparkSession, dir: String,
      n: Int = 5, minShared: Int = 2, fpp: Double = 0.001): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.graft.ColumnShim
    val docs = Tables(spark, dir, "documents").select("doc_id", "text")
    // Persisted: the count() capacity probe and the filter build are two
    // jobs over the same explode+distinct — without this the held-out
    // side is scanned twice.
    val testGrams = docs.filter(col("doc_id") % 50 === 0)
      .select(explode(Dedup.shingles(col("text"), n)).as("g"))
      .select(xxhash64(col("g")).as("h")).distinct()
      .persist()
    // capacity = the actual distinct-gram count here; at production scale
    // this is a capacity BUDGET chosen up front (the sketch degrades to a
    // higher fpp past it, never to false negatives)
    val nItems = math.max(testGrams.count(), 1L)
    val nBits = org.apache.spark.util.sketch.BloomFilter.optimalNumOfBits(nItems, fpp)
    // BloomFilterAggregate SILENTLY clamps to the runtime-filter conf caps
    // (default 4M items / 64M bits) — past them the built filter's real
    // fpp blows out and decontamination quietly over-removes clean docs.
    // Refuse loudly instead; a deployment with a bigger held-out set
    // raises the confs (the bits budget is the documented ~1.2 GB/10⁹
    // grams either way).
    val maxItems = spark.conf.get(
      "spark.sql.optimizer.runtime.bloomFilter.maxNumItems", "4000000").toLong
    val maxBits = spark.conf.get(
      "spark.sql.optimizer.runtime.bloomFilter.maxNumBits", "67108864").toLong
    require(nItems <= maxItems && nBits <= maxBits,
      s"held-out gram set needs $nItems items / $nBits bits but " +
        s"bloom_filter_agg clamps at $maxItems/$maxBits — raise " +
        "spark.sql.optimizer.runtime.bloomFilter.maxNumItems/maxNumBits " +
        "so the configured fpp is actually honored")
    val bfAgg = ColumnShim.column(new BloomFilterAggregate(
        ColumnShim.expression(col("h")), Literal(nItems), Literal(nBits))
      .toAggregateExpression())
    val bfBits = testGrams.agg(bfAgg.as("bf")).head().getAs[Array[Byte]]("bf")
    val probe = ColumnShim.column(BloomFilterMightContain(
      Literal.create(bfBits), ColumnShim.expression(xxhash64(col("g")))))
    docs.filter(col("doc_id") % 50 =!= 0)
      .select(col("doc_id").as("train_id"), explode(Dedup.shingles(col("text"), n)).as("g"))
      .filter(probe)
      .groupBy("train_id")
      .agg(countDistinct(col("g")).as("n_hit_grams"))
      .filter(col("n_hit_grams") >= minShared)
      .orderBy("train_id")
  }

  val decontaminateSql: String =
    """WITH sh AS (
      |  SELECT doc_id, list_distinct(CASE WHEN len(t) >= 5
      |    THEN [t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' ' || t[i+4]
      |          FOR i IN range(1, len(t) - 3)]
      |    ELSE [lower(text)] END) AS sh
      |  FROM (SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS t FROM documents)
      |    JOIN documents USING (doc_id)
      |), tr AS (SELECT doc_id AS train_id, unnest(sh) AS g FROM sh WHERE doc_id % 50 <> 0
      |), te AS (SELECT doc_id AS test_id, unnest(sh) AS g FROM sh WHERE doc_id % 50 = 0)
      |SELECT train_id,
      |  count(DISTINCT g) AS n_shared_grams,
      |  count(DISTINCT test_id) AS n_test_docs
      |FROM tr JOIN te USING (g)
      |GROUP BY train_id
      |HAVING count(DISTINCT g) >= 2
      |ORDER BY train_id""".stripMargin

  /** Unigram log-probability quality score — the CCNet/KenLM-style
    * "perplexity filter" shape in miniature: TRAIN a token-frequency model
    * over the corpus (one aggregate), BROADCAST it, and score every
    * document as its mean token log-probability (add-one smoothed). Low
    * scorers are gibberish / out-of-domain; this two-stage
    * aggregate-then-broadcast-score is exactly how a real LM-based quality
    * filter deploys at 100 TB (the model is a stored top-K vocab table
    * with an OOV floor; here the synthetic corpus' whole vocabulary is 31
    * tokens, so the full table broadcasts).
    */
  def unigramLogProbScore(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables(spark, dir, "documents")
      .select(col("doc_id"), explode(Dedup.tokens(col("text"))).as("tok"))
    val counts = toks.groupBy("tok").agg(count(lit(1)).as("c"))
    val totals = counts.agg(sum(col("c")).as("n"), count(lit(1)).as("v"))
    val model = counts.crossJoin(broadcast(totals))
      .select(col("tok"),
        log((col("c") + 1).cast("double") / (col("n") + col("v"))).as("logp"))
    toks.join(broadcast(model), Seq("tok"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"), round(avg(col("logp")), 4).as("logp_avg"))
      .orderBy("doc_id")
  }

  /** Bigram LM fluency score with add-k smoothing — the CCNet-style step up
    * from [[unigramLogProbScore]]: per document, the mean of
    * `ln((c(prev,cur)+k) / (c(prev)+k·V))` over its adjacent token pairs,
    * where counts come from the corpus itself and V is the unigram
    * vocabulary. Unigram scoring ranks rare-WORD documents low; the bigram
    * conditional additionally penalizes improbable SEQUENCES (shuffled or
    * machine-mangled text scores low even when its word inventory is
    * normal) — the actual signal an LM-based quality filter wants.
    *
    * Scale shape: bigrams ride the codegen'd [[graft.functions.WordNGrams]]
    * multiset (one pass, no token self-join); the model is two hash
    * aggregates (pair and context counts) plus a 1-row vocabulary scalar;
    * scoring re-joins the bigram stream on the pair. Docs with fewer than
    * two tokens have no bigrams and drop out (mirrored by the oracle).
    */
  def bigramLogProbScore(spark: SparkSession, dir: String, k: Double = 0.5): DataFrame =
    bigramLogProbScoreFrom(Tables(spark, dir, "documents"), k)

  /** [[bigramLogProbScore]] over any `(doc_id, text)` frame. */
  def bigramLogProbScoreFrom(docs: DataFrame, k: Double = 0.5): DataFrame = {
    val toks = docs.select(col("doc_id"), explode(Dedup.tokens(col("text"))).as("tok"))
    val vocab = toks.select("tok").distinct().agg(count(lit(1)).as("v"))
    // adjacent pairs: the n=2 gram multiset; prev/cur split at the single
    // space (tokens are \s+-split, so they contain none themselves)
    val bi = docs.filter(size(Dedup.tokens(col("text"))) >= 2)
      .select(col("doc_id"),
        explode(graft.functions.WordNGrams.all(col("text"), 2)).as("g"))
      .select(col("doc_id"),
        substring_index(col("g"), " ", 1).as("prev"),
        substring_index(col("g"), " ", -1).as("cur"))
      .persist() // feeds the two model aggregates and the scoring join
    val pairCounts = bi.groupBy("prev", "cur").agg(count(lit(1)).as("cpc"))
    val ctxCounts = bi.groupBy("prev").agg(count(lit(1)).as("cp"))
    val model = pairCounts.join(ctxCounts, Seq("prev"))
      .crossJoin(broadcast(vocab))
      .select(col("prev"), col("cur"),
        log((col("cpc") + lit(k)) / (col("cp") + lit(k) * col("v"))).as("logp"))
    bi.join(model, Seq("prev", "cur"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), round(avg(col("logp")), 4).as("logp_avg"))
      .orderBy("doc_id")
  }

  val bigramLogProbScoreSql: String =
    """WITH toks AS (
      |  SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS t FROM documents
      |), alltoks AS (
      |  SELECT doc_id, unnest(t) AS tok FROM toks
      |), vocab AS (
      |  SELECT count(*) AS v FROM (SELECT DISTINCT tok FROM alltoks)
      |), bi AS (
      |  SELECT doc_id, unnest(t[1:len(t)-1]) AS prev, unnest(t[2:len(t)]) AS cur
      |  FROM toks WHERE len(t) >= 2
      |), pair_counts AS (
      |  SELECT prev, cur, count(*) AS cpc FROM bi GROUP BY 1, 2
      |), ctx_counts AS (
      |  SELECT prev, count(*) AS cp FROM bi GROUP BY 1
      |), model AS (
      |  SELECT prev, cur, ln((cpc + 0.5) / (cp + 0.5 * v)) AS logp
      |  FROM pair_counts JOIN ctx_counts USING (prev) CROSS JOIN vocab
      |)
      |SELECT doc_id, count(*) AS n_bigrams, round(avg(logp), 4) AS logp_avg
      |FROM bi JOIN model USING (prev, cur)
      |GROUP BY doc_id
      |ORDER BY doc_id""".stripMargin

  /** Interpolated Kneser–Ney bigram scoring — THE production n-gram
    * smoothing (Kneser & Ney ICASSP'95; Chen & Goodman '99 interpolated
    * form), next to [[bigramLogProbScoreFrom]]'s add-k baseline:
    *
    *   P(cur|prev) = max(c(prev,cur) − D, 0)/c(prev)
    *               + D·N₁₊(prev,•)/c(prev) · N₁₊(•,cur)/T
    *
    * with discount D = 0.75, N₁₊(prev,•) = distinct continuations of
    * prev, N₁₊(•,cur) = distinct contexts of cur (the continuation
    * probability — how many DIFFERENT words cur follows, not how often it
    * occurs: the "San Francisco" insight that add-k lacks), T = distinct
    * bigram types. Every factor is an exact integer count; the per-bigram
    * probability is a fixed-shape IEEE tree, and the per-doc mean is
    * rounded to 4 (the [[bigramLogProbScoreFrom]] convention absorbing
    * ln/avg ulp drift).
    *
    * Scale shape: identical to the add-k bigram — one bigram multiset
    * pass (persisted: feeds the model aggregates and the scoring join),
    * model aggregates ON THE PAIR TABLE (vocabulary-sized, not
    * corpus-sized: c(prev) = Σ cpc and both N₁₊ are GROUP BYs over it),
    * a 1-row type-count scalar-combine, one scoring equi-join.
    */
  val KnDiscount = 0.75

  def kneserNeyLogProbScore(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir, "documents")
    val bi = docs.filter(size(Dedup.tokens(col("text"))) >= 2)
      .select(col("doc_id"),
        explode(graft.functions.WordNGrams.all(col("text"), 2)).as("g"))
      .select(col("doc_id"),
        substring_index(col("g"), " ", 1).as("prev"),
        substring_index(col("g"), " ", -1).as("cur"))
      .persist()
    val pairCounts = bi.groupBy("prev", "cur").agg(count(lit(1)).as("cpc"))
      .persist() // feeds ctx/cont/type aggregates AND the model join
    val ctxCounts = pairCounts.groupBy("prev")
      .agg(sum(col("cpc")).as("cp"), count(lit(1)).as("n1prev"))
    val contCounts = pairCounts.groupBy("cur").agg(count(lit(1)).as("n1cur"))
    val totTypes = pairCounts.agg(count(lit(1)).as("tt"))
    val model = pairCounts.join(ctxCounts, Seq("prev"))
      .join(contCounts, Seq("cur"))
      .crossJoin(broadcast(totTypes))
      .select(col("prev"), col("cur"),
        log(greatest(col("cpc") - lit(KnDiscount), lit(0.0)) / col("cp")
          + (lit(KnDiscount) * col("n1prev") / col("cp"))
            * (col("n1cur").cast("double") / col("tt"))).as("logp"))
    bi.join(model, Seq("prev", "cur"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), round(avg(col("logp")), 4).as("kn_logp_avg"))
      .orderBy("doc_id")
  }

  val kneserNeyLogProbScoreSql: String =
    s"""WITH toks AS (
      |  SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS t FROM documents
      |), bi AS (
      |  SELECT doc_id, unnest(t[1:len(t)-1]) AS prev, unnest(t[2:len(t)]) AS cur
      |  FROM toks WHERE len(t) >= 2
      |), pair_counts AS (
      |  SELECT prev, cur, count(*) AS cpc FROM bi GROUP BY 1, 2
      |), ctx_counts AS (
      |  SELECT prev, sum(cpc)::BIGINT AS cp, count(*) AS n1prev
      |  FROM pair_counts GROUP BY 1
      |), cont_counts AS (
      |  SELECT cur, count(*) AS n1cur FROM pair_counts GROUP BY 1
      |), tot AS (
      |  SELECT count(*) AS tt FROM pair_counts
      |), model AS (
      |  SELECT prev, cur,
      |    ln(greatest(cpc - $KnDiscount::DOUBLE, 0.0) / cp
      |       + ($KnDiscount::DOUBLE * n1prev / cp) * (n1cur::DOUBLE / tt)) AS logp
      |  FROM pair_counts JOIN ctx_counts USING (prev)
      |    JOIN cont_counts USING (cur) CROSS JOIN tot
      |)
      |SELECT doc_id, count(*) AS n_bigrams, round(avg(logp), 4) AS kn_logp_avg
      |FROM bi JOIN model USING (prev, cur)
      |GROUP BY doc_id
      |ORDER BY doc_id""".stripMargin

  val unigramLogProbScoreSql: String =
    """WITH toks AS (
      |  SELECT doc_id, unnest(regexp_split_to_array(lower(text), '\s+')) AS tok
      |  FROM documents),
      |counts AS (SELECT tok, count(*) AS c FROM toks GROUP BY tok),
      |totals AS (SELECT sum(c) AS n, count(*) AS v FROM counts),
      |model AS (SELECT tok, ln((c + 1)::double / (n + v)) AS logp FROM counts, totals)
      |SELECT doc_id, count(*) AS n_tokens, round(avg(logp), 4) AS logp_avg
      |FROM toks JOIN model USING (tok)
      |GROUP BY doc_id
      |ORDER BY doc_id""".stripMargin

  /** Sliding-window document chunking — the split-long complement of
    * [[packSequences]]' concat-short: each document becomes
    * `1 + ceil(max(0, n_tok − width) / stride)` overlapping token windows
    * (the RAG / long-context training chunking everyone runs). Pure
    * generate + slice — the token array rides the generator output a
    * handful of rows, no shuffle until the final sort.
    */
  // Registered defaults sized to THIS corpus (docs average ~54 tokens, max
  // 99), so the driver's oracle compare exercises real multi-chunk slicing;
  // a production pipeline passes its context width (e.g. 2048/1536).
  def chunkDocuments(spark: SparkSession, dir: String,
      width: Int = 32, stride: Int = 24): DataFrame =
    chunkDocumentsOf(Tables(spark, dir, "documents"), width, stride)

  /** [[chunkDocuments]] over any `(doc_id, text)` frame (library surface). */
  def chunkDocumentsOf(docs: DataFrame,
      width: Int = 128, stride: Int = 96): DataFrame = {
    val toks = docs.select(col("doc_id"), Dedup.tokens(col("text")).as("t"))
    // integer chunk count: 1 + ceil(max(0, n - width) / stride), as exact
    // floor arithmetic (values ≪ 2⁵³, so the double division is exact)
    val extra = greatest(lit(0), size(col("t")) - width)
    toks
      .withColumn("n_chunks",
        (lit(1) + floor((extra + (stride - 1)) / lit(stride))).cast("int"))
      .select(col("doc_id"), col("t"),
        explode(sequence(lit(0), col("n_chunks") - 1)).as("chunk_idx"))
      .select(col("doc_id"), col("chunk_idx"),
        slice(col("t"), col("chunk_idx") * stride + lit(1), lit(width)).as("chunk"))
      .select(col("doc_id"), col("chunk_idx"),
        size(col("chunk")).as("n_tokens"),
        md5(concat_ws(" ", col("chunk")).cast("binary")).as("chunk_md5"))
      .orderBy("doc_id", "chunk_idx")
  }

  /** [[chunkDocumentsOf]] through the custom
    * [[graft.functions.SlidingChunks]] GENERATOR (the UDTF surface):
    * chunk rows are emitted straight off the token array in one
    * Generate — no index-array materialization, no per-row slice
    * re-evaluation. Output contract is IDENTICAL to the declarative form
    * (same oracle SQL; parity + plan specs in CorpusSpec).
    */
  def chunkDocumentsGen(spark: SparkSession, dir: String,
      width: Int = 32, stride: Int = 24): DataFrame =
    chunkDocumentsGenOf(Tables(spark, dir, "documents"), width, stride)

  def chunkDocumentsGenOf(docs: DataFrame,
      width: Int = 128, stride: Int = 96): DataFrame =
    docs
      .select(col("doc_id"),
        graft.functions.SlidingChunks(Dedup.tokens(col("text")), width, stride))
      .select(col("doc_id"), col("chunk_idx"),
        size(col("chunk")).as("n_tokens"),
        md5(concat_ws(" ", col("chunk")).cast("binary")).as("chunk_md5"))
      .orderBy("doc_id", "chunk_idx")

  /** Length-bucketed batching — the dynamic-batching step of LLM
    * inference/training: grouping similar-length documents into
    * fixed-size batches bounds padding waste (a batch pads every member
    * to its max; mixing a 20-token doc into a 500-token batch wastes 96%
    * of its rows). Docs bucket by `len div bucketWidth`, batches of
    * `batchSize` form inside each (bucket, shard) by deterministic rank,
    * and the report prices each batch's padding.
    *
    * Scale shape: the rank window partitions on (bucket, shard) where
    * shard = a hash nibble of doc_id — a length CLASS holds corpus/‖len
    * spread‖ docs at 100 TB, so ranking inside the bare bucket would be
    * the single-task sort this engine bans; the shard splits it
    * embarrassingly while leaving the padding bound untouched (waste per
    * doc stays < bucketWidth regardless of which shard it lands in).
    */
  def lengthBatching(spark: SparkSession, dir: String,
      bucketWidth: Int = 16, batchSize: Int = 8): DataFrame = {
    val docs = Tables(spark, dir, "documents")
      .select(col("doc_id"), size(Dedup.tokens(col("text"))).as("n_tok"))
      .withColumn("bucket", expr(s"n_tok div $bucketWidth"))
      .withColumn("shard",
        conv(substring(md5(col("doc_id").cast("string").cast("binary")), 1, 1),
          16, 10).cast("int"))
    val w = Window.partitionBy("bucket", "shard")
      .orderBy(col("n_tok"), col("doc_id"))
    docs
      .withColumn("rk", row_number().over(w))
      .withColumn("batch_no", expr(s"(rk - 1) div $batchSize"))
      .groupBy("bucket", "shard", "batch_no")
      .agg(count(lit(1)).as("n_docs"),
        max(col("n_tok")).as("max_len"),
        (max(col("n_tok")) * count(lit(1)) - sum(col("n_tok"))).as("padding"))
      .orderBy("bucket", "shard", "batch_no")
  }

  val lengthBatchingSql: String =
    """WITH docs AS (
      |  SELECT doc_id, len(regexp_split_to_array(lower(text), '\s+')) AS n_tok
      |  FROM documents
      |), sharded AS (
      |  SELECT doc_id, n_tok, n_tok // 16 AS bucket,
      |    ('0x' || substr(md5(doc_id::VARCHAR), 1, 1))::INT AS shard
      |  FROM docs
      |), ranked AS (
      |  SELECT bucket, shard, n_tok,
      |    (row_number() OVER (PARTITION BY bucket, shard
      |       ORDER BY n_tok, doc_id) - 1) // 8 AS batch_no
      |  FROM sharded
      |)
      |SELECT bucket, shard, batch_no, count(*) AS n_docs,
      |  max(n_tok) AS max_len,
      |  (max(n_tok) * count(*) - sum(n_tok))::BIGINT AS padding
      |FROM ranked GROUP BY bucket, shard, batch_no
      |ORDER BY bucket, shard, batch_no""".stripMargin

  /** Sequence packing: concatenate documents per language in doc_id order
    * and chunk the token stream into fixed `budget`-token context windows —
    * a document belongs to the bin where it STARTS. This is the standard
    * concat-then-chunk packing of LM pre-training. Output: per-(lang, bin)
    * document and token totals.
    *
    * The running sum is one window per pack group; parallelism = number of
    * groups (language here; a production packer keys by (shard, lang) so
    * no single group serializes the job).
    */
  def packSequences(spark: SparkSession, dir: String, budget: Int = 512): DataFrame = {
    val docs = Tables(spark, dir, "documents")
      .select(col("doc_id"), col("lang"),
        size(Dedup.tokens(col("text"))).as("n_tok"))
    val w = Window.partitionBy(col("lang")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs
      .withColumn("start_off", sum(col("n_tok")).over(w) - col("n_tok"))
      .withColumn("bin", expr(s"start_off div $budget"))
      .groupBy("lang", "bin")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"))
      .orderBy("lang", "bin")
  }

  val chunkDocumentsSql: String =
    """SELECT doc_id, chunk_idx,
      |  len(chunk) AS n_tokens,
      |  md5(array_to_string(chunk, ' ')) AS chunk_md5
      |FROM (
      |  SELECT doc_id, chunk_idx,
      |    t[chunk_idx * 24 + 1 : chunk_idx * 24 + 32] AS chunk
      |  FROM (
      |    SELECT doc_id, t,
      |      unnest(range(0, 1 + ((greatest(0, len(t) - 32) + 23) // 24))) AS chunk_idx
      |    FROM (SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS t
      |          FROM documents)))
      |ORDER BY doc_id, chunk_idx""".stripMargin

  val packSequencesSql: String =
    """SELECT lang, bin, count(*) AS n_docs, sum(n_tok)::BIGINT AS n_tokens
      |FROM (
      |  SELECT lang, n_tok,
      |    ((sum(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tok) // 512)::BIGINT AS bin
      |  FROM (
      |    SELECT doc_id, lang,
      |      len(regexp_split_to_array(lower(text), '\s+'))::BIGINT AS n_tok
      |    FROM documents))
      |GROUP BY lang, bin
      |ORDER BY lang, bin""".stripMargin

  /** Quantile normalization map — batch-effect correction across sources:
    * map every source's length distribution onto the POOLED distribution
    * (the bioinformatics quantile-normalize recipe applied to corpus
    * curation: after mapping, every source's length profile is the same,
    * so length-correlated quality filters can't encode source identity).
    *
    * Exact rank matching, no interpolation: value v of source s (source
    * cumulative rank r of n_s) maps to the SMALLEST pooled value u with
    * cumPool(u)·n_s ≥ r·n_pool — the right-continuous inverse-CDF compose,
    * stated as one integer cross-multiplication, engine-exact.
    *
    * Scale shape: everything runs on DISTINCT-VALUE histograms (the
    * [[graft.ops.Events.winsorizedStats]] discipline) — the corpus is
    * touched once by the (source, value) count aggregate; cumsums window
    * over histogram rows, never docs. The rank-match itself is an AS-OF
    * join, not a theta join: "smallest u with cumPool(u)·n_src ≥ r·n_pool"
    * is a forward as-of lookup of each source rank into the pooled CDF.
    * With both sides cross-multiplied onto the shared integer axis
    * `a = cum_pool·n_src` vs `r·n_pool` (per source, strictly increasing
    * in u since every histogram row has cp ≥ 1) and NEGATED — the
    * [[graft.ops.AsofJoin]] forward-as-of reversal, with a +1 shift to
    * turn the operator's strict `<` into the spec's `≥` — the native
    * [[graft.plans.AsofMergeJoin]] merge evaluates it in one sorted pass
    * per source: O(|sources|·|values|) work where the theta-join
    * formulation enumerated O(|sources|·|values|²) candidate pairs before
    * its min aggregate. Every left row matches (r ≤ n_src forces
    * r·n_pool ≤ n_pool·n_src, the pooled axis maximum), so the as-of
    * result is total. The output is the MAP (one row per (source, value)),
    * which a curation pass then applies as a broadcast projection.
    */
  def quantileNormalizeMap(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables(spark, dir, "documents").select(col("source"),
      col("n_chars").as("v"))
    val srcHist = docs.groupBy("source", "v").agg(count(lit(1)).as("c"))
      .localCheckpoint() // feeds cumsum + per-source totals + pooled hist
    val srcTotals = srcHist.groupBy("source").agg(sum(col("c")).as("n_src"))
    val poolHist = srcHist.groupBy("v").agg(sum(col("c")).as("cp"))
    val nPool = poolHist.agg(sum(col("cp")).as("n_pool"))
    val poolCum = poolHist
      .withColumn("cum_pool", sum(col("cp")).over(Window.orderBy("v")))
      .select(col("v").as("u"), col("cum_pool"))
    // left: each source cell's rank on the negated shared axis, +1 so the
    // operator's strict last-prior (rt < lt) is exactly axis_r >= axis_l
    val srcSide = srcHist
      .withColumn("r", sum(col("c")).over(
        Window.partitionBy("source").orderBy("v")))
      .crossJoin(broadcast(nPool))
      .select(col("source"), col("v"), col("c"),
        (-(col("r") * col("n_pool")) + 1L).as("t"))
    // right: the pooled CDF replicated per source on the same axis
    // (srcTotals is |sources| rows — the broadcast side of the replication)
    val poolSide = poolCum.crossJoin(broadcast(srcTotals))
      .select(col("source"), (-(col("cum_pool") * col("n_src"))).as("t"),
        col("u"))
    graft.plans.AsofMergeJoin
      .asofLastPrior(srcSide, poolSide, key = "source", time = "t", prefix = "qn_")
      .select(col("source"), col("v").as("n_chars"), col("c").as("n_docs"),
        col("qn_u").as("mapped_chars"))
      .orderBy("source", "n_chars")
  }

  val quantileNormalizeMapSql: String =
    """WITH sh AS (
      |  SELECT source, n_chars AS v, count(*) AS c
      |  FROM documents GROUP BY 1, 2
      |), sc AS (
      |  SELECT source, v, c,
      |    sum(c) OVER (PARTITION BY source ORDER BY v
      |                 ROWS UNBOUNDED PRECEDING) AS r,
      |    sum(c) OVER (PARTITION BY source) AS n_src
      |  FROM sh
      |), ph AS (
      |  SELECT v, sum(c) AS cp FROM sh GROUP BY 1
      |), pc AS (
      |  SELECT v AS u,
      |    sum(cp) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum_pool,
      |    sum(cp) OVER () AS n_pool
      |  FROM ph
      |)
      |SELECT sc.source, sc.v AS n_chars, sc.c AS n_docs,
      |  min(pc.u) AS mapped_chars
      |FROM sc JOIN pc ON pc.cum_pool * sc.n_src >= sc.r * pc.n_pool
      |GROUP BY 1, 2, 3
      |ORDER BY source, n_chars""".stripMargin

  /** Sequence capacity for [[ffdPackBins]] (tokens per training bin) and
    * the TARGET SHARD SIZE in documents. Shard size is the recipe
    * constant and shard COUNT grows with the corpus — the other way
    * round (fixed shard count) makes the per-shard sequential fold
    * O(corpus²/shards): measured at the ×10 probe, a fixed 16-way
    * sharding blew the fold past a 10-minute budget, while ~512-doc
    * shards keep every fold at a few-hundred-bin state regardless of
    * scale. */
  val FfdCapacity = 128
  val FfdShardDocs = 256

  /** First-fit-decreasing bin packing of WHOLE documents into
    * fixed-capacity training sequences — the no-splitting counterpart of
    * [[packSequences]] (concat-then-chunk slices documents across bin
    * boundaries; attention-boundary-respecting recipes must not, so they
    * pack whole docs and eat the padding — FFD is the classic
    * 11/9·OPT+1 heuristic that minimizes it). Documents longer than the
    * capacity get a bin of their own, flagged oversize.
    *
    * Exactness: INTEGER-ONLY — token counts, bin ids, and loads; the
    * greedy is deterministic (sort by length desc then doc_id; first
    * fitting bin by ascending bin id), so both engines derive the
    * identical assignment with zero float ops.
    *
    * Scale shape: packing is inherently sequential, so parallelism comes
    * from SHARDING — ⌈corpus / [[FfdShardDocs]]⌉ independent packers
    * keyed by a seeded md5 hash (the shuffleShards convention,
    * identical in both engines; the shard count rides in as a broadcast
    * 1-row scalar combine, so the plan stays fully distributed): one
    * scan → per-shard sorted array (shard size ≈ the recipe constant) →
    * ONE fold per shard whose state is the bin-load array. The fold is
    * O(docs·bins) per shard — both bounded by the shard-size constant,
    * so total work is LINEAR in the corpus. Oracle = per-shard
    * recursive CTE walking the same rank order.
    */
  def ffdPackBins(spark: SparkSession, dir: String,
      cap: Int = FfdCapacity): DataFrame = {
    val base = Tables(spark, dir, "documents")
      .select(col("doc_id"), size(Dedup.tokens(col("text"))).as("n_tok"))
    val nRow = base.agg(count(lit(1)).as("n_docs"))
    val docs = base.crossJoin(broadcast(nRow))
      .withColumn("shard", expr(
        s"""CAST(conv(substring(md5(CAST(concat('ffd:', CAST(doc_id AS STRING))
           |  AS BINARY)), 1, 8), 16, 10) AS BIGINT)
           |  % greatest(CAST(ceil(CAST(n_docs AS DOUBLE) / $FfdShardDocs.0)
           |             AS BIGINT), 1L)""".stripMargin))
    docs.groupBy("shard")
      .agg(sort_array(collect_list(
        struct((-col("n_tok")).as("neg_len"), col("doc_id"), col("n_tok"))))
        .as("docs"))
      .select(col("shard"), explode(expr(ffdFoldExpr(cap))).as("o"))
      .select(col("o.doc_id").as("doc_id"), col("shard"),
        col("o.n_tokens").as("n_tokens"), col("o.bin").as("bin"),
        (col("o.n_tokens") > cap).as("oversize"))
      .orderBy("doc_id")
  }

  /** The FFD greedy as one `aggregate` HOF over a shard's sorted
    * `docs` array of (neg_len, doc_id, n_tok) structs — state = the
    * bin-load array; shared by [[ffdPackBins]] and the refresh
    * composite's packing stage. */
  private[ops] def ffdFoldExpr(cap: Int): String =
    s"""aggregate(docs,
       |  named_struct(
       |    'loads', CAST(array() AS array<bigint>),
       |    'out', CAST(array() AS array<struct<
       |      doc_id: bigint, n_tokens: int, bin: int>>)),
       |  (acc, d) -> element_at(transform(
       |    array(coalesce(
       |      try_element_at(filter(transform(acc.loads, (vv, kk) -> kk + 1),
       |        i -> element_at(acc.loads, i) + d.n_tok <= $cap), 1),
       |      -1)),
       |    pk -> named_struct(
       |      'loads',
       |        IF(pk = -1,
       |           concat(acc.loads, array(CAST(d.n_tok AS BIGINT))),
       |           transform(acc.loads, (v, i) ->
       |             IF(i + 1 = pk, v + d.n_tok, v))),
       |      'out', concat(acc.out, array(named_struct(
       |        'doc_id', d.doc_id, 'n_tokens', d.n_tok,
       |        'bin', CAST(IF(pk = -1, size(acc.loads) + 1, pk) AS INT)))))),
       |    1),
       |  acc -> acc.out)""".stripMargin

  def ffdPackBinsSql(cap: Int = FfdCapacity): String =
    s"""WITH RECURSIVE docs AS (
       |  SELECT doc_id, len(regexp_split_to_array(lower(text), '\\s+')) AS n_tok
       |  FROM documents
       |), sharded AS (
       |  SELECT doc_id, n_tok,
       |    ('0x' || substr(md5('ffd:' || doc_id::VARCHAR), 1, 8))::BIGINT
       |      % greatest(ceil((SELECT count(*) FROM docs)::DOUBLE
       |                      / $FfdShardDocs.0)::BIGINT, 1) AS shard
       |  FROM docs
       |), ranked AS (
       |  SELECT shard, doc_id, n_tok,
       |    row_number() OVER (PARTITION BY shard
       |      ORDER BY n_tok DESC, doc_id) AS rk
       |  FROM sharded
       |), rec AS (
       |  SELECT shard, rk, doc_id, n_tok, 1 AS bin,
       |    [n_tok::BIGINT] AS loads
       |  FROM ranked WHERE rk = 1
       |  UNION ALL
       |  SELECT x.shard, x.rk, x.doc_id, x.n_tok,
       |    coalesce(
       |      list_filter(generate_series(1, len(r.loads)),
       |        i -> r.loads[i] + x.n_tok <= $cap)[1],
       |      len(r.loads) + 1)::INT AS bin,
       |    CASE WHEN list_filter(generate_series(1, len(r.loads)),
       |           i -> r.loads[i] + x.n_tok <= $cap)[1] IS NULL
       |         THEN list_append(r.loads, x.n_tok::BIGINT)
       |         ELSE list_transform(r.loads, (v, i) ->
       |           CASE WHEN i = list_filter(generate_series(1, len(r.loads)),
       |                  i2 -> r.loads[i2] + x.n_tok <= $cap)[1]
       |                THEN v + x.n_tok ELSE v END)
       |    END AS loads
       |  FROM rec r JOIN ranked x ON x.shard = r.shard AND x.rk = r.rk + 1
       |)
       |SELECT doc_id, shard, n_tok AS n_tokens, bin, n_tok > $cap AS oversize
       |FROM rec ORDER BY doc_id""".stripMargin

  /** Filter-revision agreement audit: Cohen's kappa between the CURRENT
    * quality battery ([[qualityFilterOf]]'s thresholds) and a TIGHTENED
    * candidate revision, per language. This is the audit every filter
    * change at corpus scale runs before shipping: raw percent agreement
    * overstates consensus when both filters keep almost everything, and
    * kappa corrects for that chance agreement — a kappa near 0 on some
    * language says the revision redraws that language's boundary, not
    * just trims it.
    *
    * Exactness: the confusion counts are integers, and kappa's
    * chance-corrected form is a ratio of two integer polynomials —
    *   num = n·(n11+n00) − (a1·b1 + a0·b0),  den = n² − (a1·b1 + a0·b0)
    * (a1/a0 = filter-1 keep/drop margins, b1/b0 = filter-2's) — so both
    * engines build NUM and DEN exactly and the only float op is ONE
    * division of identical integers, rounded at 6 dp. Products stay
    * under 2⁶³ up to n ≈ 3·10⁹ rows per language; past that promote to
    * DECIMAL(38,0) on the same grid (the [[MarketBasket]] convention).
    *
    * Scale shape: the per-doc raw metrics are [[qualityFilterOf]]'s,
    * computed ONCE per document in the same explode + two doc_id-keyed
    * aggregates (both keep flags derive from the same metric row — the
    * second battery costs zero extra scans), then ONE language-keyed
    * aggregate of size |languages|. No windows, no joins.
    */
  def filterAgreementKappa(spark: SparkSession, dir: String): DataFrame =
    filterAgreementKappaOf(Tables(spark, dir, "documents"))

  def filterAgreementKappaOf(docs: DataFrame, n: Int = 3): DataFrame = {
    val t = Dedup.tokens(col("text"))
    val stoplist = array(TextAnalysis.Stopwords.head._2.map(lit): _*)
    // same raw metrics as qualityFilterOf, carried through the gram
    // explode identically (kept inline for the same one-scan plan shape)
    val exploded = docs.select(
      col("doc_id"), col("lang"),
      size(t).as("n_tokens"),
      (aggregate(t, lit(0L), (acc, x) => acc + length(x)).cast("double") / size(t))
        .as("mean_len_raw"),
      (size(filter(t, x => array_contains(stoplist, x))).cast("double") / size(t))
        .as("stop_frac_raw"),
      explode(graft.functions.WordNGrams.all(col("text"), n)).as("g"))
    val gramCounts = exploded.groupBy("doc_id", "g")
      .agg(count(lit(1)).as("c"),
        first("lang").as("lang"),
        first("n_tokens").as("n_tokens"),
        first("mean_len_raw").as("mean_len_raw"),
        first("stop_frac_raw").as("stop_frac_raw"))
    val perDoc = gramCounts.groupBy("doc_id")
      .agg(
        first("lang").as("lang"),
        first("n_tokens").as("n_tokens"),
        first("mean_len_raw").as("mean_len_raw"),
        first("stop_frac_raw").as("stop_frac_raw"),
        (sum(when(col("c") > 1, col("c")).otherwise(lit(0))).cast("double")
          / sum(col("c"))).as("dup_frac_raw"))
    // filter 1: the shipped battery; filter 2: the tightened candidate
    val keep1 = col("n_tokens") >= 15 && col("n_tokens") <= 2000 &&
      col("mean_len_raw") >= 2.0 && col("mean_len_raw") <= 8.0 &&
      col("stop_frac_raw") >= 0.01 && col("dup_frac_raw") <= 0.2
    val keep2 = col("n_tokens") >= 25 && col("n_tokens") <= 1500 &&
      col("mean_len_raw") >= 2.5 && col("mean_len_raw") <= 7.5 &&
      col("stop_frac_raw") >= 0.02 && col("dup_frac_raw") <= 0.15
    val conf = perDoc
      .select(col("lang"), keep1.as("k1"), keep2.as("k2"))
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n"),
        sum(when(col("k1") && col("k2"), 1L).otherwise(0L)).as("n11"),
        sum(when(col("k1") && !col("k2"), 1L).otherwise(0L)).as("n10"),
        sum(when(!col("k1") && col("k2"), 1L).otherwise(0L)).as("n01"),
        sum(when(!col("k1") && !col("k2"), 1L).otherwise(0L)).as("n00"))
    conf.select(
      col("lang"), col("n"), col("n11"), col("n10"), col("n01"), col("n00"),
      round(
        ((col("n") * (col("n11") + col("n00"))
          - ((col("n11") + col("n10")) * (col("n11") + col("n01"))
            + (col("n01") + col("n00")) * (col("n10") + col("n00"))))
          .cast("double"))
          / nullif(
            col("n") * col("n")
              - ((col("n11") + col("n10")) * (col("n11") + col("n01"))
                + (col("n01") + col("n00")) * (col("n10") + col("n00"))),
            lit(0)).cast("double"),
        6).as("kappa"),
      round((col("n11") + col("n00")).cast("double") / col("n"), 6).as("po"))
      .orderBy("lang")
  }

  val filterAgreementKappaSql: String =
    """WITH toks AS (
      |  SELECT doc_id, lang, text, regexp_split_to_array(lower(text), '\s+') AS t
      |  FROM documents
      |), metrics AS (
      |  SELECT doc_id, lang, len(t) AS n_tokens,
      |    list_sum(list_transform(t, x -> len(x)))::double / len(t) AS mean_len_raw,
      |    len(list_filter(t, x -> x IN ('the', 'a', 'of', 'and', 'to')))::double
      |      / len(t) AS stop_frac_raw
      |  FROM toks
      |), gc AS (
      |  SELECT doc_id, g, count(*) AS c FROM (
      |    SELECT doc_id, unnest(CASE WHEN len(t) >= 3
      |      THEN [t[i] || ' ' || t[i+1] || ' ' || t[i+2] FOR i IN range(1, len(t) - 1)]
      |      ELSE [lower(text)] END) AS g
      |    FROM toks)
      |  GROUP BY doc_id, g
      |), rep AS (
      |  SELECT doc_id,
      |    sum(CASE WHEN c > 1 THEN c ELSE 0 END)::double / sum(c) AS dup_frac_raw
      |  FROM gc GROUP BY doc_id
      |), flags AS (
      |  SELECT m.lang,
      |    (m.n_tokens >= 15 AND m.n_tokens <= 2000
      |      AND m.mean_len_raw >= 2.0 AND m.mean_len_raw <= 8.0
      |      AND m.stop_frac_raw >= 0.01 AND r.dup_frac_raw <= 0.2) AS k1,
      |    (m.n_tokens >= 25 AND m.n_tokens <= 1500
      |      AND m.mean_len_raw >= 2.5 AND m.mean_len_raw <= 7.5
      |      AND m.stop_frac_raw >= 0.02 AND r.dup_frac_raw <= 0.15) AS k2
      |  FROM metrics m JOIN rep r USING (doc_id)
      |), conf AS (
      |  SELECT lang, count(*) AS n,
      |    sum(CASE WHEN k1 AND k2 THEN 1 ELSE 0 END)::BIGINT AS n11,
      |    sum(CASE WHEN k1 AND NOT k2 THEN 1 ELSE 0 END)::BIGINT AS n10,
      |    sum(CASE WHEN NOT k1 AND k2 THEN 1 ELSE 0 END)::BIGINT AS n01,
      |    sum(CASE WHEN NOT k1 AND NOT k2 THEN 1 ELSE 0 END)::BIGINT AS n00
      |  FROM flags GROUP BY lang
      |)
      |SELECT lang, n, n11, n10, n01, n00,
      |  round(
      |    (n * (n11 + n00) - ((n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00)))::double
      |    / nullif(n * n - ((n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00)), 0)::double,
      |  6) AS kappa,
      |  round((n11 + n00)::double / n, 6) AS po
      |FROM conf
      |ORDER BY lang""".stripMargin
}
