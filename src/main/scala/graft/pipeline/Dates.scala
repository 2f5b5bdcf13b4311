package graft.pipeline

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampType

/** Date standardization (reference O3, cleaner.py:51-70).
  *
  * The reference uses dateutil's fuzzy parser; we reproduce its observed
  * behavior on the full input corpus (SURVEY.md §2.3, verified against
  * dateutil) with two regex pre-normalizations and a `coalesce` of strict
  * `try_to_timestamp` patterns. `try_to_timestamp` (not `to_timestamp`)
  * keeps the null-on-failure semantics under Spark 4's default ANSI mode.
  *
  * Pattern order encodes dateutil's resolution rules:
  *  - ISO first (fast path for already-clean data);
  *  - month-name formats;
  *  - `M/d/yyyy` before `d/M/yyyy` — dateutil is month-first and only falls
  *    back to day-first when the first field can't be a month (e.g. 15/03).
  */
object Dates {

  val IsoFormat = "yyyy-MM-dd'T'HH:mm:ss'Z'"

  private[pipeline] val patterns = Seq(
    IsoFormat,                    // 2025-02-20T14:30:00Z
    "yyyy-MM-dd'T'HH:mm:ssXXX",   // explicit offset
    "yyyy-MM-dd HH:mm:ss",
    "yyyy-MM-dd",
    "MMMM d, yyyy",               // March 1, 2025
    "MMM d, yyyy",                // Jan 15, 2025
    "M/d/yyyy",                   // 05/03/2025 → May 3 (month-first)
    "d/M/yyyy"                    // 15/03/2025 → Mar 15 (day-first fallback)
  )

  /** The literal text of a datetime pattern: quoted runs and the runs of
    * non-letters between pattern letters (`-`, `:`, `", "`, `/`, ...).
    */
  private def literals(pattern: String): Seq[String] =
    "'([^']*)'|([^A-Za-z']+)".r.findAllMatchIn(pattern)
      .map(m => Option(m.group(1)).getOrElse(m.group(2)))
      .filter(_.nonEmpty).toSeq.distinct

  /** Parse a messy date string column to TimestampType; null when invalid.
    * Reproduces `parse_iso_date`'s sentinel rejection of "none"/"null"/"nan"
    * (cleaner.py:64) and null-on-unparseable (cleaner.py:69).
    */
  def parseTimestamp(c: Column): Column = {
    val s = trim(c.cast("string"))
    // dateutil quirks the corpus exercises: ordinal suffixes ("July 1st") and
    // the "Sept" abbreviation Java doesn't accept (SURVEY.md §2.3).
    val noOrdinal = regexp_replace(s, "(?<=\\d)(st|nd|rd|th)\\b", "")
    val pre = regexp_replace(noOrdinal, "^Sept(?=[ .])", "Sep")
    // A pattern only runs where its literal separators occur: a failed
    // parse raises and catches an exception per row, and a formatter cannot
    // match input that lacks its literals, so the guards change no result.
    // Spark's formatters parse case-insensitively, hence `upper` for the
    // letter literals (`T`, `Z`).
    val upperPre = upper(pre)
    val parsed = coalesce(patterns.map { p =>
      val guard = literals(p).map { l =>
        if (l.exists(_.isLetter)) upperPre.contains(l.toUpperCase) else pre.contains(l)
      }.foldLeft(lit(true))(_ && _)
      when(guard, try_to_timestamp(pre, lit(p)))
    }: _*)
    when(c.isNull || lower(s).isin("", "none", "null", "nan"),
      lit(null).cast(TimestampType)
    ).otherwise(parsed)
  }

  /** Full O3: messy string → ISO-8601 string (`yyyy-MM-ddTHH:mm:ssZ`) or null. */
  def parseIsoDate(c: Column): Column =
    date_format(parseTimestamp(c), IsoFormat)

  /** Re-parse an already-ISO string column (report date-range aggregate, O14). */
  def isoToTimestamp(c: Column): Column = try_to_timestamp(c, lit(IsoFormat))
}
