package graft.pipeline

import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType, TimestampType}

import graft.SparkSuite

/** Date-format corpus from FIXTURES.md §3 — every shape the reference's
  * dateutil-based parser sees, verified against dateutil behavior.
  */
class DatesSpec extends SparkSuite {
  import spark.implicits._

  private val corpus = Seq(
    // FIXTURES.md §3
    "2025-02-20T14:30:00Z", "Jan 15, 2025", "Aug 1, 2025", "May 5, 2025", "March 1, 2025",
    "August 10, 2025", "June 15, 2025", "15/03/2025", "July 1st, 2025", "Sept 15, 2025",
    "2025-13-99", "13/14/2025", "2025-02-29", "", "none", "null", "nan",
    // other shapes the patterns and guards meet
    "2025-02-20T16:30:00+02:00", "2025-02-20 14:30:00", "+12025-01-01", "Sept. 3, 2025",
    "2025/02/20", "March 1 2025", "2025-02-20T14:30:00", "  Jan 15, 2025  ", "\t2025-02-20\n",
    "2025-02-20t14:30:00z", "2025-02-20T14:30:00z", "05/03/2025", "2025-02-20", null)

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
    val out = corpus.toDF("s")
      .select(Dates.parseIsoDate($"s").as("guarded"), unguarded($"s").as("reference"))
      .as[(Option[String], Option[String])].collect().toSeq
    assert(out.map(_._1) == out.map(_._2))
    assert(out.count(_._1.nonEmpty) >= 15) // the corpus exercises the parsing patterns
  }

  /** The guarded column chain `Dates.parseTimestamp` was before it became
    * one generated call: trim and sentinels, the two pre-normalizations,
    * then each pattern's `try_to_timestamp` where its literal text occurs.
    */
  private def columnChain(c: Column): Column = {
    def literals(pattern: String): Seq[String] =
      "'([^']*)'|([^A-Za-z']+)".r.findAllMatchIn(pattern)
        .map(m => Option(m.group(1)).getOrElse(m.group(2)))
        .filter(_.nonEmpty).toSeq.distinct
    val s = trim(c.cast("string"))
    val noOrdinal = regexp_replace(s, "(?<=\\d)(st|nd|rd|th)\\b", "")
    val pre = regexp_replace(noOrdinal, "^Sept(?=[ .])", "Sep")
    val upperPre = upper(pre)
    val parsed = coalesce(Dates.patterns.map { p =>
      val guard = literals(p).map { l =>
        if (l.exists(_.isLetter)) upperPre.contains(l.toUpperCase) else pre.contains(l)
      }.foldLeft(lit(true))(_ && _)
      when(guard, try_to_timestamp(pre, lit(p)))
    }: _*)
    when(c.isNull || lower(s).isin("", "none", "null", "nan"),
      lit(null).cast(TimestampType)
    ).otherwise(parsed)
  }

  test("one generated call equals the guarded column chain: generated and interpreted, non-UTC zone") {
    // an RDD source, so the optimizer cannot fold the projection into a
    // local relation and the session's evaluation mode decides the path
    val rows = spark.sparkContext.parallelize(corpus.map(Row(_)), 3)
    for (interpreted <- Seq(false, true)) {
      val s = spark.newSession()
      s.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
      if (interpreted) {
        s.conf.set("spark.sql.codegen.wholeStage", "false")
        s.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
      }
      val df = s.createDataFrame(rows, StructType(Seq(StructField("s", StringType))))
        .select(Dates.parseTimestamp(col("s")).as("t"), columnChain(col("s")).as("ref"),
          Dates.parseIsoDate(col("s")).as("iso"), date_format(columnChain(col("s")), Dates.IsoFormat).as("ref_iso"))
      val plan = df.queryExecution.executedPlan
      assert(plan.exists(_.isInstanceOf[WholeStageCodegenExec]) != interpreted, plan.treeString)
      val out = df.collect().toSeq
      assert(out.map(_.get(0)) == out.map(_.get(1)), s"interpreted=$interpreted")
      assert(out.map(_.get(2)) == out.map(_.get(3)), s"interpreted=$interpreted")
      assert(out.count(_.get(0) != null) >= 15)
      // the zone reaches the parse: a wall-clock ISO string reads as Pacific time
      assert(out(corpus.indexOf("2025-02-20T14:30:00Z")).getString(2) == "2025-02-20T14:30:00Z")
      assert(out(corpus.indexOf("2025-02-20T14:30:00Z")).getTimestamp(0).toInstant.toString ==
        "2025-02-20T22:30:00Z")
    }
  }
}
