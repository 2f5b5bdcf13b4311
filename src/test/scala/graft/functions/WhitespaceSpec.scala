package graft.functions

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

import graft.SparkSuite
import graft.pipeline.HermeticPipelineSpec

/** The whitespace kernels equal the `(?U)` regex forms they replaced, byte
  * for byte, on the generated and the interpreted path.
  */
class WhitespaceSpec extends SparkSuite {

  // the regex forms, kept here as the reference
  private def blankRegex(c: Column): Column = c.isNull || c.rlike("(?U)^\\s*$")
  private def stripRegex(c: Column): Column = regexp_replace(c, "(?U)^\\s+|(?U)\\s+$", "")
  private def collapseRegex(c: Column): Column = trim(regexp_replace(c, "(?U)\\s+", " "))

  private val regexSpace = java.util.regex.Pattern.compile("(?U)\\s")

  /** Every code point `(?U)\s` matches, found by the regex itself. */
  private lazy val whiteSpace: Seq[Int] =
    (0 to Character.MAX_CODE_POINT).filter(cp => regexSpace.matcher(new String(Character.toChars(cp))).matches())

  private def str(cp: Int): String = new String(Character.toChars(cp))
  private def hex(s: String): String = s.getBytes(UTF_8).map(b => f"$b%02X").mkString

  test("the predicate is (?U)\\s on every code point") {
    assert(whiteSpace == Seq(0x9, 0xa, 0xb, 0xc, 0xd, 0x20, 0x85, 0xa0, 0x1680) ++ (0x2000 to 0x200a) ++
      Seq(0x2028, 0x2029, 0x202f, 0x205f, 0x3000))
    assert((0 to Character.MAX_CODE_POINT).filter(Whitespace.isWhitespace) == whiteSpace)
  }

  test("each kernel equals its regex form, byte for byte: generated and interpreted") {
    val lookalikes = Seq(0x200b, 0x180e, 0xfeff, 0x1c, 0x1d, 0x1e, 0x1f).map(str)
    val supplementary = str(0x1f600)
    val e = str(0xe9)
    val shapes = (whiteSpace.map(str) ++ lookalikes).flatMap(w =>
      Seq(w, s"$w$w", s"a${w}b", s"$w a $w", s"a$w${w}b$w", s"${w}x", s"x$w", s"$supplementary$w$supplementary"))
    val plain = Seq("", " ", "a", "a b", "  a  b  ", "a b", s" $supplementary ", supplementary,
      s"caf$e ${e}t$e ", e, " \t\n ")
    val fixture = spark.read.option("multiLine", true).json(HermeticPipelineSpec.fixture)
    val fixtureStrings = fixture.columns.toSeq.flatMap(c =>
      fixture.select(col(c).cast("string")).collect().toSeq.flatMap(r => Option(r.getString(0))))
    val decoded = fixtureStrings.map(s => HtmlUnescape.unescape(UTF8String.fromString(s)).toString)
    // invalid UTF-8: a lone lead byte, a truncated U+2000, an overlong space
    // and an encoded surrogate, alone and next to whitespace
    val invalid = Seq("C3", "C320", "20C3", "20C320", "FF", "E280", "E28020", "2009E280", "C0A0", "EDA080",
      "C2A0C3C2A0", "0961C3")
    assert(fixtureStrings.size > 150)
    val hexes = (shapes ++ plain ++ fixtureStrings ++ decoded).map(hex) ++ invalid :+ null

    // an RDD source, so the optimizer cannot fold the projection into a
    // local relation and the session's evaluation mode decides the path
    val rows = spark.sparkContext.parallelize(hexes.map(Row(_)), 3)
    for (interpreted <- Seq(false, true)) {
      val s = spark.newSession()
      if (interpreted) {
        s.conf.set("spark.sql.codegen.wholeStage", "false")
        s.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
      }
      val in = unhex(col("h")).cast("string")
      val df = s.createDataFrame(rows, StructType(Seq(StructField("h", StringType))))
        .select(col("h"),
          IsBlank(in).as("blank"), blankRegex(in).as("blank_ref"),
          StripWhitespace(in).cast("binary").as("strip"), stripRegex(in).cast("binary").as("strip_ref"),
          CollapseWhitespace(in).cast("binary").as("collapse"), collapseRegex(in).cast("binary").as("collapse_ref"))
      val plan = df.queryExecution.executedPlan
      assert(plan.exists(_.isInstanceOf[WholeStageCodegenExec]) != interpreted, plan.treeString)
      val out = df.collect().toSeq
      assert(out.size == hexes.size)
      for (Seq(k, r) <- Seq(Seq(1, 2), Seq(3, 4), Seq(5, 6))) {
        val differ = out.filterNot(row => java.util.Objects.deepEquals(row.get(k), row.get(r)))
        assert(differ.isEmpty, s"interpreted=$interpreted ${df.columns(k)}: ${differ.take(5).mkString(", ")}")
      }
      // the corpus reaches both answers and both paths of every kernel
      val blank = out.count(_.getBoolean(1))
      assert(blank > whiteSpace.size && blank < out.size / 2)
      assert(out.last.getBoolean(1) && out.last.get(3) == null && out.last.get(5) == null)
      assert(out.exists(r => r.getString(0) == "C3" && (r.getAs[Array[Byte]](3).toSeq == "\uFFFD".getBytes(UTF_8).toSeq)))
    }
  }
}
