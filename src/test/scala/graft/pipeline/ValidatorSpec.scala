package graft.pipeline

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.expressions.ArrayFilter
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSuite

class ValidatorSpec extends SparkSuite {

  private val schema = StructType(Seq(
    StructField("title", StringType),
    StructField("content", StringType),
    StructField("url", StringType),
    StructField("published", StringType),
    StructField("published_date", StringType)
  ))

  private val okContent = "x" * 200
  private val okRow = ("T", okContent, "https://e.com/a", "2025-01-01T00:00:00Z", "2025-01-01T00:00:00Z")

  private def validate(rows: (String, String, String, String, String)*): Seq[Row] = {
    val data = rows.map(r => Row(r._1, r._2, r._3, r._4, r._5))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(data.toSeq, 1), schema)
    Validator.withFlags(df).select("passed", "reason", "message").collect().toSeq
  }

  test("clean row passes with null reason/message") {
    val Seq(r) = validate(okRow)
    assert(r.getBoolean(0) && r.isNullAt(1) && r.isNullAt(2))
  }

  test("V1/V2 title: missing, too long") {
    val Seq(a, b, c) = validate(
      okRow.copy(_1 = "  "),
      okRow.copy(_1 = null),
      okRow.copy(_1 = "t" * 501))
    assert(!a.getBoolean(0) && a.getString(1) == "missing_title")
    assert(a.getString(2) == "Title is missing or empty.")
    assert(b.getString(1) == "missing_title")
    assert(c.getString(1) == "title_too_long")
    assert(c.getString(2) == "Title is too long: 501 characters (maximum 500).")
  }

  test("V3-V5 content: missing, short, long") {
    val Seq(a, b, c) = validate(
      okRow.copy(_2 = ""),
      okRow.copy(_2 = "Brief."),
      okRow.copy(_2 = "y" * 1000001))
    assert(a.getString(1) == "missing_content")
    assert(b.getString(1) == "short_content")
    assert(b.getString(2) == "Content is too short: 6 characters (minimum 120 required).")
    assert(c.getString(1) == "content_too_long")
  }

  test("V6-V8 url: missing, bad scheme (with truncation), bad format") {
    val longUrl = "ftp://" + "a" * 60
    val Seq(a, b, c, d, e) = validate(
      okRow.copy(_3 = null),
      okRow.copy(_3 = "invalid-url"),
      okRow.copy(_3 = longUrl),
      okRow.copy(_3 = "http://"),
      okRow.copy(_3 = "HTTPS://UPPER.example/x"))
    assert(a.getString(1) == "missing_url")
    assert(b.getString(1) == "invalid_url")
    assert(b.getString(2) == "URL must start with http:// or https:// (got: invalid-url).")
    assert(c.getString(2) == s"URL must start with http:// or https:// (got: ${longUrl.take(50)}...).")
    // "http://" passes the prefix check but has nothing after the scheme
    assert(d.getString(1) == "invalid_url")
    assert(d.getString(2) == "URL has invalid format after scheme (expected a host/path).")
    // uppercase scheme: startswith check is case-sensitive in the reference
    assert(e.getString(1) == "invalid_url")
  }

  test("V9 published: blank-skipping or-fallback semantics") {
    // published_date empty string falls through to published
    val Seq(a, b, c, d) = validate(
      okRow.copy(_4 = "May 5, 2025", _5 = ""),      // falls back to published → ok
      okRow.copy(_4 = null, _5 = null),             // both missing → fail
      okRow.copy(_4 = "", _5 = "  "),               // whitespace-only pd selected → fail
      okRow.copy(_4 = null, _5 = "2025-01-01T00:00:00Z")) // pd present → ok
    assert(a.getBoolean(0))
    assert(b.getString(1) == "missing_published")
    assert(c.getString(1) == "missing_published")
    assert(d.getBoolean(0))
  }

  test("all failures collected in message, reason from first in check order") {
    val Seq(r) = validate(("", "Brief.", "invalid-url", null, null))
    assert(r.getString(1) == "missing_title")
    assert(r.getString(2) ==
      "Title is missing or empty. " +
      "Content is too short: 6 characters (minimum 120 required). " +
      "URL must start with http:// or https:// (got: invalid-url). " +
      "Published date is missing or empty.")
  }

  test("custom config thresholds") {
    val cfg = ValidationConfig(minContentLength = 5, maxTitleLength = 10)
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row("12345678901", "hello world!", "https://e.com", "x", "x")), 1), schema)
    val Seq(r) = Validator.withFlags(df, cfg).select("passed", "reason").collect().toSeq
    assert(!r.getBoolean(0) && r.getString(1) == "title_too_long")
  }

  test("custom check without a code falls back to validation_failed reason") {
    // mirrors validator.py:99-117: an error whose message maps to no known
    // code classifies as validation_failed
    import org.apache.spark.sql.functions.{col, length, lit}
    val long = "c" * 150
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        Row("Fine title", long, "https://e.com/a", "2025-01-01", null),
        Row("x" * 30, long, "https://e.com/b", "2025-01-01", null)), 1), schema)
    val custom = Validator.checks(df, ValidationConfig()) :+
      ((length(col("title")) > 20, null: String, lit("Custom house rule failed.")))
    val out = Validator.withChecks(df, custom)
      .select("title", "passed", "reason", "message").collect()
      .map(r => r.getString(0) -> r).toMap
    assert(out("Fine title").getBoolean(1)) // unaffected row still passes
    val failed = out("x" * 30)
    assert(!failed.getBoolean(1))
    assert(failed.getString(2) == "validation_failed")
    assert(failed.getString(3) == "Custom house rule failed.")
  }

  test("a true custom check with a null message adds no error and does not flip passed") {
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row.fromTuple(okRow), Row.fromTuple(okRow.copy(_2 = "Brief."))), 1),
      schema)
    val custom = Validator.checks(df, ValidationConfig()) :+
      ((lit(true), "house_rule", lit(null).cast("string")))
    val Seq(ok, short) = Validator.withChecks(df, custom)
      .select("passed", "reason", "message", "errors").collect().toSeq
    assert(ok.getBoolean(0) && ok.isNullAt(1) && ok.isNullAt(2))
    assert(ok.getSeq[String](3).isEmpty)
    assert(!short.getBoolean(0) && short.getString(1) == "short_content")
    assert(short.getSeq[String](3) == Seq("Content is too short: 6 characters (minimum 120 required)."))
  }

  test("a check with a null code classifies as validation_failed in its place, not a later code") {
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row.fromTuple(okRow.copy(_2 = "Brief."))), 1), schema)
    val custom = (lit(true), null: String, lit("Custom house rule failed.")) +:
      Validator.checks(df, ValidationConfig())
    val Seq(r) = Validator.withChecks(df, custom).select("passed", "reason", "message").collect().toSeq
    assert(!r.getBoolean(0) && r.getString(1) == "validation_failed")
    assert(r.getString(2) ==
      "Custom house rule failed. Content is too short: 6 characters (minimum 120 required).")
  }

  test("withFlags runs as generated code: no interpreted ArrayFilter, every Project in a codegen stage") {
    // array_compact/filter lower to ArrayFilter, a CodegenFallback that drops
    // the whole projection out of whole-stage codegen (and its subexpression
    // elimination), so every row would re-run the checks' regexes interpreted.
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row.fromTuple(okRow)), 1), schema)
    val plan = Validator.withFlags(df).queryExecution.executedPlan
    val text = plan.treeString
    assert(!plan.exists(_.expressions.exists(_.exists(_.isInstanceOf[ArrayFilter]))), text)
    val projects = text.split("\n").filter(_.contains("Project ["))
    assert(projects.nonEmpty && projects.forall(_.matches("""^[\s:+-]*\*\(\d+\) Project \[.*""")), text)
  }
}
