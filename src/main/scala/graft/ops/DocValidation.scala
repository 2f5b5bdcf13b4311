package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{CollapseWhitespace, IsBlank}

/** The reference's cleaning/validation operator family (SURVEY.md §2: O4/O5,
  * O6, O8/O9, O11–O15) re-targeted at the `documents` testdata table so every
  * operator has a DuckDB-checkable oracle at driver-verification time.
  *
  * Rules mirror the article validator's shape (reference validator.py:48-96):
  * presence checks, length bounds, a format regex — evaluated in a fixed
  * order, all-errors collected, reason = first failure. Thresholds follow
  * ValidationConfig (validator.py:14-17): min length 120, max 1,000,000.
  *
  * Scale notes: every query here is a single narrow projection + one hash
  * aggregate (no windows except keep-first dedup, which partitions by the
  * dedup key — never a global window). All are whole-stage-codegen friendly.
  */
object DocValidation {

  val MinTextLength  = 120
  val MaxTextLength  = 1000000
  val KnownLangs     = Seq("en", "de", "es", "fr", "zh")

  /** O4/O5: required-field filter — keep rows where text and lang present. */
  def filterIncomplete(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "documents")
      .filter(!IsBlank(col("text")) && !IsBlank(col("lang")))
      .select("doc_id", "lang", "source", "n_chars")
      .orderBy("doc_id")

  val filterIncompleteSql: String =
    """SELECT doc_id, lang, source, n_chars
      |FROM documents
      |WHERE NOT (text IS NULL OR trim(text) = '')
      |  AND NOT (lang IS NULL OR trim(lang) = '')
      |ORDER BY doc_id""".stripMargin

  /** O8/O9: validation flags + first-failure reason code, as pure column
    * expressions (reference does a Python row loop, validator.py:151).
    * Sorted for the oracle compare; aggregation consumers use `flags`.
    */
  def validateFlags(spark: SparkSession, dir: String): DataFrame =
    flags(spark, dir).orderBy("doc_id") // the oracle ends ORDER BY doc_id

  /** Unsorted flag derivation — the input to histogram/top-1 aggregates,
    * which must not inherit a useless total sort below an aggregation.
    */
  private def flags(spark: SparkSession, dir: String): DataFrame = {
    val df = Tables(spark, dir, "documents")
    val textBlank = IsBlank(col("text"))
    val tooShort  = length(col("text")) < MinTextLength
    val tooLong   = length(col("text")) > MaxTextLength
    val langBad   = IsBlank(col("lang")) || !col("lang").isin(KnownLangs: _*)
    val srcBad    = IsBlank(col("source")) || !col("source").rlike("^src[0-9]+$")
    // Check order fixed (reference validator.py:55-89 pattern): presence →
    // length → auxiliary fields. Reason = FIRST failing check; errors = ALL.
    val reason = when(textBlank, "missing_text")
      .when(tooShort, "short_text")
      .when(tooLong, "long_text")
      .when(langBad, "bad_lang")
      .when(srcBad, "bad_source")
      .otherwise("ok")
    val nErrors = (Seq(textBlank, tooShort, tooLong, langBad, srcBad)
      .map(c => when(c, 1).otherwise(0)): Seq[Column]).reduce(_ + _)
    df.select(
      col("doc_id"),
      (nErrors === 0).as("passed"),
      reason.as("reason"),
      nErrors.cast("int").as("n_errors"))
  }

  /** Shared DuckDB flags subquery — `doc_id, passed, reason, n_errors` —
    * reused by the validate/histogram/top-1 oracles so the rule text exists
    * exactly once.
    */
  private val flagsSubquery: String =
    s"""SELECT doc_id,
       |  (n_errors = 0) AS passed,
       |  CASE WHEN text_blank THEN 'missing_text'
       |       WHEN too_short THEN 'short_text'
       |       WHEN too_long THEN 'long_text'
       |       WHEN lang_bad THEN 'bad_lang'
       |       WHEN src_bad THEN 'bad_source'
       |       ELSE 'ok' END AS reason,
       |  n_errors
       |FROM (
       |  SELECT doc_id, text_blank, too_short, too_long, lang_bad, src_bad,
       |    (text_blank::int + too_short::int + too_long::int + lang_bad::int + src_bad::int) AS n_errors
       |  FROM (
       |    SELECT doc_id,
       |      (text IS NULL OR trim(text) = '') AS text_blank,
       |      (length(text) < $MinTextLength) AS too_short,
       |      (length(text) > $MaxTextLength) AS too_long,
       |      (lang IS NULL OR trim(lang) = '' OR lang NOT IN ('en','de','es','fr','zh')) AS lang_bad,
       |      (source IS NULL OR trim(source) = '' OR NOT regexp_matches(source, '^src[0-9]+$$')) AS src_bad
       |    FROM documents))""".stripMargin

  val validateFlagsSql: String =
    s"""$flagsSubquery
       |ORDER BY doc_id""".stripMargin

  val reasonHistogramSql: String =
    s"""SELECT reason, count(*) AS n
       |FROM ($flagsSubquery)
       |WHERE NOT passed
       |GROUP BY reason
       |ORDER BY n DESC, reason""".stripMargin

  val top1ReasonSql: String =
    s"""SELECT reason, count(*) AS n
       |FROM ($flagsSubquery)
       |WHERE NOT passed
       |GROUP BY reason
       |ORDER BY n DESC, reason
       |LIMIT 1""".stripMargin

  /** O11: failure-reason histogram, descending (Counter.most_common). */
  def reasonHistogram(spark: SparkSession, dir: String): DataFrame =
    flags(spark, dir)
      .filter(!col("passed"))
      .groupBy("reason").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("reason"))

  /** O12: top-1 failure reason (TakeOrderedAndProject, no full sort). */
  def top1Reason(spark: SparkSession, dir: String): DataFrame =
    reasonHistogram(spark, dir).limit(1)

  /** O13: one-pass field-completeness aggregate (the reference does one
    * pandas pass per column, cleaner.py:193-202 — here a single scan).
    */
  def completeness(spark: SparkSession, dir: String): DataFrame = {
    val df = Tables(spark, dir, "documents")
    val cols = Seq("text", "lang", "source")
    // count(when(...)) not sum(when(...)) — keeps the type BIGINT in both
    // engines (DuckDB widens integer sums to HUGEINT).
    val aggs = cols.flatMap { c =>
      val ok = count(when(!IsBlank(col(c)), 1))
      Seq(ok.as(s"${c}_ok"),
          round(ok.cast("double") / count(lit(1)), 4).as(s"${c}_ratio"))
    } :+ count(lit(1)).as("n_rows")
    df.agg(aggs.head, aggs.tail: _*)
  }

  val completenessSql: String = {
    val cols = Seq("text", "lang", "source")
    val exprs = cols.flatMap { c =>
      Seq(
        s"count(CASE WHEN NOT ($c IS NULL OR trim($c) = '') THEN 1 END) AS ${c}_ok",
        s"round(count(CASE WHEN NOT ($c IS NULL OR trim($c) = '') THEN 1 END)::double / count(*), 4) AS ${c}_ratio")
    } :+ "count(*) AS n_rows"
    s"SELECT\n  ${exprs.mkString(",\n  ")}\nFROM documents"
  }

  /** O14: date-range aggregate over the events table (min/max/count). ISO
    * strings on output so the oracle compare is type-stable.
    */
  def dateRange(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "events").agg(
      date_format(min(col("ts")), "yyyy-MM-dd'T'HH:mm:ss").as("ts_min"),
      date_format(max(col("ts")), "yyyy-MM-dd'T'HH:mm:ss").as("ts_max"),
      count(col("ts")).as("n_ts"))

  val dateRangeSql: String =
    """SELECT
      |  strftime(min(ts), '%Y-%m-%dT%H:%M:%S') AS ts_min,
      |  strftime(max(ts), '%Y-%m-%dT%H:%M:%S') AS ts_max,
      |  count(ts) AS n_ts
      |FROM events""".stripMargin

  /** O6: keep-first dedup at scale — `min_by`-style two-phase aggregate on
    * the dedup key, NOT a global window (SURVEY.md §7 H1). Input is the
    * documents table unioned with a shifted copy of itself so duplicates
    * actually exist; "first" = lowest doc_id, the ingest order stand-in.
    */
  def dedupKeepFirst(spark: SparkSession, dir: String): DataFrame =
    Dedup.exactDedup(spark, dir)

  /** O2: whitespace-collapse normalization, demonstrated on a deliberately
    * messed-up projection of `text` (tabs + padding) so the clean is
    * observable. Entity decoding is covered by scalatest (not
    * SQL-expressible in the oracle).
    */
  def cleanText(spark: SparkSession, dir: String): DataFrame = {
    val messy = concat(lit("  "), regexp_replace(col("text"), " ", "\t \t"), lit(" \t"))
    Tables(spark, dir, "documents")
      .select(col("doc_id"), CollapseWhitespace(messy).as("cleaned"))
      .orderBy("doc_id")
  }

  val cleanTextSql: String =
    """SELECT doc_id,
      |  trim(regexp_replace(
      |    '  ' || regexp_replace(text, ' ', chr(9) || ' ' || chr(9), 'g') || ' ' || chr(9),
      |    '\s+', ' ', 'g')) AS cleaned
      |FROM documents
      |ORDER BY doc_id""".stripMargin

  /** O19 as ONE registered query: the reference's end-to-end funnel
    * (cleaner.py:284-393 — load → drop incomplete → keep-first dedup →
    * validate → save valid) over the documents table, reduced to the funnel
    * arithmetic the reference reports (counts per stage, pass rate,
    * retention). Input doubled with shifted ids like [[dedupKeepFirst]] so
    * the dedup stage actually removes rows.
    *
    * Scale shape: one scan for the load/incomplete counts, and one
    * shuffle (on the 128-bit dedup key) whose `min_by` keeps the full
    * first row per group — validation flags are then pure column math over
    * the keepers and fold into the same aggregate. The two 1-row frames
    * meet in a crossJoin (scalar broadcast, the Events.scala pattern).
    */
  def articleFunnel(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir, "documents").select("doc_id", "text", "lang", "source")
    val doubled = Dedup.doubledWithShift(docs)
    val loadStats = doubled.agg(
      count(lit(1)).as("n_loaded"),
      count(when(IsBlank(col("text")) || IsBlank(col("lang")), 1)).as("n_incomplete"))
    val kept = doubled
      .filter(!IsBlank(col("text")) && !IsBlank(col("lang")))
      .groupBy(md5(col("text")).as("k"))
      .agg(min_by(struct(col("doc_id"), col("text"), col("lang"), col("source")),
        col("doc_id")).as("r"))
      .select("r.*")
    val passed = (!IsBlank(col("text"))) &&
      length(col("text")) >= MinTextLength && length(col("text")) <= MaxTextLength &&
      !IsBlank(col("lang")) && col("lang").isin(KnownLangs: _*) &&
      !IsBlank(col("source")) && col("source").rlike("^src[0-9]+$")
    val keptStats = kept.agg(
      count(lit(1)).as("n_after_cleaning"),
      count(when(passed, 1)).as("n_valid"))
    loadStats.crossJoin(keptStats).select(
      col("n_loaded"),
      col("n_incomplete"),
      (col("n_loaded") - col("n_incomplete") - col("n_after_cleaning")).as("n_duplicates"),
      col("n_after_cleaning"),
      col("n_valid"),
      (col("n_after_cleaning") - col("n_valid")).as("n_invalid"),
      round(col("n_valid") * lit(100.0) / col("n_after_cleaning"), 1).as("pass_rate_pct"),
      round(col("n_valid") * lit(100.0) / col("n_loaded"), 1).as("retention_pct"))
  }

  val articleFunnelSql: String =
    s"""WITH doubled AS (
       |  SELECT doc_id, text, lang, source FROM documents
       |  UNION ALL
       |  SELECT doc_id + (SELECT max(doc_id) + 1 FROM documents) AS doc_id,
       |         text, lang, source FROM documents
       |), load_stats AS (
       |  SELECT count(*) AS n_loaded,
       |    count(CASE WHEN (text IS NULL OR trim(text) = '')
       |                 OR (lang IS NULL OR trim(lang) = '') THEN 1 END) AS n_incomplete
       |  FROM doubled
       |), kept AS (
       |  SELECT min(doc_id) AS doc_id,
       |    arg_min(text, doc_id) AS text,
       |    arg_min(lang, doc_id) AS lang,
       |    arg_min(source, doc_id) AS source
       |  FROM doubled
       |  WHERE NOT (text IS NULL OR trim(text) = '')
       |    AND NOT (lang IS NULL OR trim(lang) = '')
       |  GROUP BY md5(text)
       |), kept_stats AS (
       |  SELECT count(*) AS n_after_cleaning,
       |    count(CASE WHEN NOT (text IS NULL OR trim(text) = '')
       |      AND length(text) >= $MinTextLength AND length(text) <= $MaxTextLength
       |      AND NOT (lang IS NULL OR trim(lang) = '') AND lang IN ('en','de','es','fr','zh')
       |      AND NOT (source IS NULL OR trim(source) = '')
       |      AND regexp_matches(source, '^src[0-9]+$$') THEN 1 END) AS n_valid
       |  FROM kept
       |)
       |SELECT n_loaded, n_incomplete,
       |  n_loaded - n_incomplete - n_after_cleaning AS n_duplicates,
       |  n_after_cleaning, n_valid,
       |  n_after_cleaning - n_valid AS n_invalid,
       |  round(n_valid * 100.0 / n_after_cleaning, 1) AS pass_rate_pct,
       |  round(n_valid * 100.0 / n_loaded, 1) AS retention_pct
       |FROM load_stats, kept_stats""".stripMargin

  /** O3: multi-format date parsing — round-trips orders.o_orderdate through
    * a "MMM dd, yyyy" string and the full parse chain back to ISO.
    */
  def parseDates(spark: SparkSession, dir: String): DataFrame = {
    val str = date_format(col("o_orderdate"), "MMM dd, yyyy")
    Tables(spark, dir, "orders")
      .select(col("o_orderkey"), str.as("date_str"),
        graft.pipeline.Dates.parseIsoDate(str).as("iso"))
      .orderBy("o_orderkey")
  }

  // o_orderdate is midnight-only in the testdata, so the round-trip through
  // "MMM dd, yyyy" is lossless and the oracle can format the source directly.
  val parseDatesSql: String =
    """SELECT o_orderkey,
      |  strftime(o_orderdate, '%b %d, %Y') AS date_str,
      |  strftime(o_orderdate, '%Y-%m-%dT%H:%M:%SZ') AS iso
      |FROM orders
      |ORDER BY o_orderkey""".stripMargin
}
