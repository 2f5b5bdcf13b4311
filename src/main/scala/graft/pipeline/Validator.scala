package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.{IsBlank, StripWhitespace}

/** Validation thresholds (reference O21, validator.py:14-17).
  * README flags these as the customization surface.
  */
case class ValidationConfig(
    minContentLength: Int = 120,
    maxTitleLength: Int = 500,
    maxContentLength: Int = 1000000)

/** Row validation (reference O8/V1–V9 + O9, validator.py:48-117).
  *
  * The reference runs nine predicates per row in a Python loop, collecting
  * ALL failure messages (joined by " ") and deriving the reason code from
  * the FIRST failure in check order title → content → url → published
  * (validator.py:94-95). Here the whole thing is column expressions — the
  * checks projected once as booleans, then the derived columns, all
  * codegen'd with no per-row closures — that append
  * `errors: array<string>`, `passed: boolean`, `reason: string`,
  * `message: string` columns. Kept as a pure DataFrame → DataFrame function
  * to preserve the reference's standalone-validator composability (E3).
  */
object Validator {

  /** Human-readable labels for reason codes (reference O20, validator.py:131-141). */
  def reasonLabels(cfg: ValidationConfig = ValidationConfig()): Map[String, String] = Map(
    "missing_title" -> "Title is missing or empty.",
    "title_too_long" -> s"Title exceeds maximum length (${cfg.maxTitleLength} characters).",
    "missing_content" -> "Content is missing or empty.",
    "short_content" -> s"Content is too short (minimum ${cfg.minContentLength} characters).",
    "content_too_long" -> s"Content exceeds maximum length (${cfg.maxContentLength} characters).",
    "missing_url" -> "URL is missing or empty.",
    "invalid_url" -> "URL must start with http:// or https:// and have valid format.",
    "missing_published" -> "Published date is missing or empty.",
    "validation_failed" -> "Validation failed."
  )

  /** The ordered check list: (predicate, reason code, message column).
    * Predicates encode the reference's per-field if/elif chains; lengths are
    * measured on the stripped value exactly as `_safe_str` does
    * (validator.py:43).
    */
  def checks(df: DataFrame, cfg: ValidationConfig): Seq[(Column, String, Column)] = {
    def colOr(name: String): Column =
      if (df.columns.contains(name)) col(name).cast("string") else lit(null).cast("string")

    val title = StripWhitespace(colOr("title"))
    val content = StripWhitespace(colOr("content"))
    val url = StripWhitespace(colOr("url"))

    val titleMissing = IsBlank(title)
    val titleTooLong = !titleMissing && length(title) > cfg.maxTitleLength

    val contentMissing = IsBlank(content)
    val contentShort = !contentMissing && length(content) < cfg.minContentLength
    val contentLong = !contentMissing && !contentShort && length(content) > cfg.maxContentLength

    val urlMissing = IsBlank(url)
    val urlBadScheme = !urlMissing &&
      !(url.startsWith("http://") || url.startsWith("https://"))
    val urlBadFormat = !urlMissing && !urlBadScheme && !url.rlike("(?i)^https?://.+")

    // `published_date or published`: Python `or` falls through on None/NaN/""
    // only — a whitespace-only published_date is selected and then fails
    // `_is_empty` (validator.py:87-89).
    val pd = colOr("published_date")
    val pub = colOr("published")
    val chosen = when(pd.isNull || pd === lit(""), pub).otherwise(pd)
    val publishedMissing = IsBlank(chosen)

    Seq(
      (titleMissing, "missing_title", lit("Title is missing or empty.")),
      (titleTooLong, "title_too_long",
        format_string(s"Title is too long: %d characters (maximum ${cfg.maxTitleLength}).",
          length(title))),
      (contentMissing, "missing_content", lit("Content is missing or empty.")),
      (contentShort, "short_content",
        format_string(s"Content is too short: %d characters (minimum ${cfg.minContentLength} required).",
          length(content))),
      (contentLong, "content_too_long",
        format_string(s"Content is too long: %d characters (maximum ${cfg.maxContentLength}).",
          length(content))),
      (urlMissing, "missing_url", lit("URL is missing or empty.")),
      (urlBadScheme, "invalid_url",
        format_string("URL must start with http:// or https:// (got: %s%s).",
          substring(url, 1, 50),
          when(length(url) > 50, lit("...")).otherwise(lit("")))),
      (urlBadFormat, "invalid_url",
        lit("URL has invalid format after scheme (expected a host/path).")),
      (publishedMissing, "missing_published", lit("Published date is missing or empty."))
    )
  }

  /** Append `errors`, `passed`, `reason`, `message` columns (reference E3 API). */
  def withFlags(df: DataFrame, cfg: ValidationConfig = ValidationConfig()): DataFrame =
    withChecks(df, checks(df, cfg))

  /** [[withFlags]] over an explicit check list — the composable E3 surface:
    * callers append custom `(predicate, code, message)` checks to
    * [[checks]]. A custom check with a `null` code falls through to the
    * `validation_failed` reason, like the reference's unrecognized-message
    * fallback (validator.py:99-117).
    */
  def withChecks(df: DataFrame, cs: Seq[(Column, String, Column)]): DataFrame = {
    // Each predicate is projected ONCE as a boolean column, so the
    // predicates share their stripped values through whole-stage codegen's
    // subexpression elimination, and `errors` and `reason` read the flags
    // instead of re-evaluating the checks. Keep `errors` free of
    // `array_compact`/`filter`: they lower to the interpreted `ArrayFilter`,
    // which takes the whole projection out of generated code.
    val flags = cs.indices.map(i => s"_check_$i")
    val checked = df.select(col("*") +: cs.zip(flags).map { case ((p, _, _), f) => p.as(f) }: _*)
    // A true check whose message is null adds no error.
    val errors = flatten(array(cs.zip(flags).map { case ((_, _, msg), f) =>
      when(col(f) && msg.isNotNull, array(msg)).otherwise(array().cast("array<string>"))
    }: _*))
    // Reason code of the FIRST failing check, in list order. A check
    // without a code classifies as `validation_failed` IN ITS PLACE —
    // mirroring validator.py:99-117's unrecognized-message fallback —
    // rather than falling through to a later coded check (which would make
    // `reason` and `errors[0]` describe different checks).
    val reason = coalesce(cs.zip(flags).map { case ((_, code, _), f) =>
      when(col(f), lit(if (code == null) "validation_failed" else code))
    }: _*)
    checked.withColumn("errors", errors)
      .withColumn("passed", size(col("errors")) === 0)
      .withColumn("reason", when(!col("passed"), reason))
      .withColumn("message", when(!col("passed"), concat_ws(" ", col("errors"))))
      .drop(flags: _*)
  }
}
