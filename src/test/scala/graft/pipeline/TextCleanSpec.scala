package graft.pipeline

import org.apache.spark.sql.functions._
import org.scalacheck.{Arbitrary, Gen}

import graft.SparkSuite
import graft.functions.IsBlank

class TextCleanSpec extends SparkSuite {
  import spark.implicits._

  private def clean(values: Seq[String]): Seq[String] =
    values.toDF("s").select(TextClean.cleanText($"s").as("c")).as[String].collect().toSeq

  test("decodes named + numeric HTML entities") {
    assert(clean(Seq(
      "AI &amp; Machine Learning",
      "&lt;Tech&gt; Trends",
      "&#65;&#x42;C",
      "Python &gt; Other Languages?"
    )) == Seq(
      "AI & Machine Learning",
      "<Tech> Trends",
      "ABC",
      "Python > Other Languages?"
    ))
  }

  test("decodes HTML5 additions: &apos; and semicolon-less legacy forms") {
    // Python html.unescape implements the HTML5 table: &apos; (absent from
    // HTML4) and bare legacy names like &amp decode there — so they must
    // decode here too. The ; form must win over the bare prefix.
    assert(clean(Seq(
      "It&apos;s here",
      "A &amp B",
      "x&ampz",
      "1 &lt 2 &GT 0",
      "&quot.&QUOT;"
    )) == Seq(
      "It's here",
      "A & B",
      "x&z",
      "1 < 2 > 0",
      "\".\""
    ))
  }

  test("collapses unicode whitespace including &nbsp; (U+00A0)") {
    // &nbsp; decodes to U+00A0; Java \\s is ASCII-only so the (?U) flag is load-bearing
    assert(clean(Seq("Climate&nbsp;Change &amp; Sustainability")) ==
      Seq("Climate Change & Sustainability"))
    assert(clean(Seq("a\t\tb\n\nc  d")) == Seq("a b c d"))
    assert(clean(Seq("  x ")) == Seq("x"))
  }

  test("null and blank handling: never null, blank in ⇒ blank out") {
    assert(clean(Seq(null, "", "   ", "\t\n")) == Seq("", "", "", ""))
  }

  test("strips leading/trailing whitespace") {
    assert(clean(Seq("  AI &amp; Machine Learning  ")) == Seq("AI & Machine Learning"))
  }

  test("property: cleaning is idempotent and output has no doubled spaces") {
    // scalacheck-generated corpus evaluated in one Spark pass per assertion
    // lone surrogates don't survive the UTF-8 roundtrip into UTF8String — an
    // encoding artifact of the test path, not the operator — so drop them
    val gen = Gen.listOfN(300,
      Arbitrary.arbitrary[String].map(_.filterNot(_.isSurrogate)))
    val samples = gen.sample.get ++
      Seq("&amp;&amp;", "a  b", " &nbsp; ", "&#x42;\t&#65;", " x ")
    val once = clean(samples)
    val twice = clean(once)
    assert(twice == once)
    val ws = "(?U)^\\s|(?U)\\s$".r
    once.foreach { s =>
      assert(!s.contains("  "))
      // no leading/trailing *whitespace* (Python strip semantics — control
      // chars below 0x20 are intentionally kept, unlike Java's String.trim)
      assert(ws.findFirstIn(s).isEmpty)
    }
  }

  test("isBlank predicate: Python strip semantics (tabs/newlines/U+00A0 count as blank)") {
    val df = Seq(("x", false), (" ", true), ("", true), (null, true),
      ("\t\n", true), (" ", true), (" .", false))
      .toDF("s", "expected")
    val bad = df.filter(IsBlank($"s") =!= $"expected").count()
    assert(bad == 0)
  }
}
