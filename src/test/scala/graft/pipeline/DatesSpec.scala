package graft.pipeline

import org.apache.spark.sql.functions._

import graft.SparkSuite

/** Date-format corpus from FIXTURES.md §3 — every shape the reference's
  * dateutil-based parser sees, verified against dateutil behavior.
  */
class DatesSpec extends SparkSuite {
  import spark.implicits._

  private def parse(values: Seq[String]): Seq[Option[String]] =
    values.toDF("s").select(Dates.parseIsoDate($"s").as("d"))
      .as[Option[String]].collect().toSeq

  test("ISO timestamps pass through") {
    assert(parse(Seq("2025-02-20T14:30:00Z")) == Seq(Some("2025-02-20T14:30:00Z")))
  }

  test("month-name formats") {
    assert(parse(Seq("Jan 15, 2025", "March 1, 2025", "May 5, 2025", "Aug 1, 2025", "August 10, 2025")) ==
      Seq(Some("2025-01-15T00:00:00Z"), Some("2025-03-01T00:00:00Z"),
        Some("2025-05-05T00:00:00Z"), Some("2025-08-01T00:00:00Z"),
        Some("2025-08-10T00:00:00Z")))
  }

  test("slash dates: month-first, day-first fallback (dateutil rules)") {
    assert(parse(Seq("15/03/2025", "05/03/2025")) ==
      Seq(Some("2025-03-15T00:00:00Z"), Some("2025-05-03T00:00:00Z")))
  }

  test("ordinal suffix and Sept abbreviation") {
    assert(parse(Seq("July 1st, 2025", "Sept 15, 2025", "June 22nd, 2025")) ==
      Seq(Some("2025-07-01T00:00:00Z"), Some("2025-09-15T00:00:00Z"),
        Some("2025-06-22T00:00:00Z")))
  }

  test("invalid dates → null") {
    assert(parse(Seq("2025-13-99", "13/14/2025", "2025-02-29", "not a date")) ==
      Seq(None, None, None, None))
  }

  test("blank and sentinel strings → null (cleaner.py:64 semantics)") {
    assert(parse(Seq(null, "", "  ", "none", "NULL", "NaN")) ==
      Seq(None, None, None, None, None, None))
  }

  test("separator guards change no result: guarded chain equals the unguarded coalesce") {
    // The parser before the guards: the same pre-normalization, then every
    // pattern tried in order.
    def unguarded(c: org.apache.spark.sql.Column) = {
      val s = trim(c.cast("string"))
      val pre = regexp_replace(regexp_replace(s, "(?<=\\d)(st|nd|rd|th)\\b", ""), "^Sept(?=[ .])", "Sep")
      val parsed = coalesce(Dates.patterns.map(p => try_to_timestamp(pre, lit(p))): _*)
      date_format(when(c.isNull || lower(s).isin("", "none", "null", "nan"), lit(null))
        .otherwise(parsed), Dates.IsoFormat)
    }
    val corpus = Seq(
      // FIXTURES.md §3
      "2025-02-20T14:30:00Z", "Jan 15, 2025", "Aug 1, 2025", "May 5, 2025", "March 1, 2025",
      "August 10, 2025", "June 15, 2025", "15/03/2025", "July 1st, 2025", "Sept 15, 2025",
      "2025-13-99", "13/14/2025", "2025-02-29", "", "none", "null", "nan",
      // other shapes the patterns and guards meet
      "2025-02-20T16:30:00+02:00", "2025-02-20 14:30:00", "+12025-01-01", "Sept. 3, 2025",
      "2025/02/20", "March 1 2025", "2025-02-20T14:30:00", "  Jan 15, 2025  ", "\t2025-02-20\n",
      "2025-02-20t14:30:00z", "2025-02-20T14:30:00z", "05/03/2025", "2025-02-20", null)
    val out = corpus.toDF("s")
      .select(Dates.parseIsoDate($"s").as("guarded"), unguarded($"s").as("reference"))
      .as[(Option[String], Option[String])].collect().toSeq
    assert(out.map(_._1) == out.map(_._2))
    assert(out.count(_._1.nonEmpty) >= 15) // the corpus exercises the parsing patterns
  }
}
