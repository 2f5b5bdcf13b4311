package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import TextClean.isBlank

/** Required-field filter (reference O5) and keep-first dedup (reference O6). */
object CleanSteps {

  val requiredCols: Seq[String] = Seq("title", "content", "url")

  /** [[dropIncomplete]]'s keep predicate: every present required column is
    * non-blank. `None` when no required column is present.
    */
  def completePredicate(df: DataFrame, required: Seq[String] = requiredCols): Option[Column] =
    required.filter(df.columns.contains).map(c => !isBlank(col(c))).reduceOption(_ && _)

  /** Drop rows where any present required column is blank
    * (cleaner.py:85-103). Absent columns are skipped silently, matching the
    * reference. A pure `Filter` — Catalyst pushes it toward the scan.
    */
  def dropIncomplete(df: DataFrame, required: Seq[String] = requiredCols): DataFrame =
    completePredicate(df, required).fold(df)(p => df.filter(p))

  /** Keep-FIRST deduplication by key columns (cleaner.py:106-121).
    *
    * Pandas `duplicated(keep="first")` keeps the first occurrence in file
    * order; "first" is defined here by `orderCol` (the load-time `row_id`).
    * Implemented as `groupBy(keys).agg(min_by(struct(*), orderCol))` rather
    * than a `row_number` window: the aggregate gets map-side partial
    * combining (each duplicate group collapses before the shuffle) and has
    * no per-partition sort, so at 100 TB it shuffles one row per (partition,
    * key) instead of every row, and AQE can split skewed key groups.
    * Equivalent result, strictly better plan than the window formulation.
    */
  def dedupKeepFirst(df: DataFrame, keys: Seq[Column], orderCol: Column): DataFrame = {
    val all = struct(df.columns.map(col): _*)
    df.groupBy(keys: _*)
      .agg(min_by(all, orderCol).as("_first"))
      .select(col("_first.*"))
  }

  /** Reference O6 exactly: dedup key = normalized (title, url); no-op when
    * either column is missing. `title`/`url` are expected to be already
    * cleaned, and the keys are cleaned again as the reference does
    * (cleaner.py:116-117). The re-clean is NOT idempotent — `&amp;amp;`
    * cleans to `&amp;` and then to `&` — so it changes which rows match.
    */
  def deduplicateArticles(df: DataFrame): DataFrame =
    if (!df.columns.contains("title") || !df.columns.contains("url")) df
    else dedupKeepFirst(df, Seq(TextClean.cleanText(col("title")), TextClean.cleanText(col("url"))), col("row_id"))
}
