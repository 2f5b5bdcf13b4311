package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.{CollapseWhitespace, HtmlUnescape}

/** Text normalization (reference O2, cleaner.py:23-48).
  *
  * Per value: null → "", decode HTML entities, collapse any Unicode
  * whitespace run to a single ASCII space, strip. Pure column expressions —
  * the whole clean is one projection fused by whole-stage codegen.
  *
  * Whitespace is Unicode whitespace, as Python's `\s` is (SURVEY.md §2.2
  * item 5): `&nbsp;` decodes to U+00A0, which Java's ASCII-only `\s` would
  * keep. The whitespace kernels (`CollapseWhitespace` here, and the blank
  * test `IsBlank` and strip `StripWhitespace` the other steps use) are
  * each one generated call that applies Java's `(?U)\s` predicate and
  * returns what the `(?U)` regex form did, without running a regex per
  * row.
  */
object TextClean {

  /** Full clean: null-safe, entity-decode, collapse, trim. Never null. */
  def cleanText(c: Column): Column =
    CollapseWhitespace(HtmlUnescape(coalesce(c.cast("string"), lit(""))))

  /** Columns the reference cleans when present (cleaner.py:317). */
  val defaultTextCols: Seq[String] = Seq("title", "content", "author", "source", "url")

  /** Apply [[cleanText]] to each listed column that exists in `df`. */
  def cleanColumns(df: DataFrame, cols: Seq[String] = defaultTextCols): DataFrame = {
    val present = cols.filter(df.columns.contains)
    if (present.isEmpty) df
    else df.withColumns(present.map(c => c -> cleanText(col(c))).toMap)
  }
}
