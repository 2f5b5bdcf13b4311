package graft.pipeline

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.date_format

import graft.functions.ParseTimestamp

/** Date standardization (reference O3, cleaner.py:51-70).
  *
  * The reference uses dateutil's fuzzy parser; we reproduce its observed
  * behavior on the full input corpus (SURVEY.md §2.3, verified against
  * dateutil) with two regex pre-normalizations and strict patterns tried in
  * order, each parsed as `try_to_timestamp` parses it (null on failure,
  * also under Spark 4's default ANSI mode).
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

  /** Parse a messy date string column to TimestampType; null when invalid.
    * Reproduces `parse_iso_date`'s sentinel rejection of "none"/"null"/"nan"
    * (cleaner.py:64) and null-on-unparseable (cleaner.py:69).
    *
    * One generated call ([[graft.functions.ParseTimestamp]]), not a column
    * chain: as a `coalesce` of guarded `try_to_timestamp`s it pushed the
    * clean stage's generated method to 21,811 bytes and the report's
    * date-range aggregate to 19,762, past HotSpot's 8,000-byte JIT limit,
    * so both ran interpreted. Keep a kernel one call; `CodegenSizeSpec`
    * pins every stage that parses dates under that limit.
    */
  def parseTimestamp(c: Column): Column = ParseTimestamp(c, patterns)

  /** Full O3: messy string → ISO-8601 string (`yyyy-MM-ddTHH:mm:ssZ`) or null. */
  def parseIsoDate(c: Column): Column =
    date_format(parseTimestamp(c), IsoFormat)
}
