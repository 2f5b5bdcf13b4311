package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.debug.codegenStringSeq

import graft.SparkSuite
import graft.ops.DocValidation

/** Every whole-stage codegen stage that parses dates stays JIT-compilable.
  *
  * HotSpot never compiles a method over 8,000 bytes of bytecode
  * (`HugeMethodLimit`), so a stage whose generated method passes it runs in
  * the bytecode interpreter for the JVM's whole life. The date chain as a
  * column expression put `cleanAndFlag`'s clean and date stage at 21,811
  * bytes, the report's date-range aggregate at 19,762 and `parseDates` at
  * 19,585. Code size depends
  * on neither the data nor a size estimate, so the pin is deterministic. AQE
  * is off so the stages exist before execution.
  */
class CodegenSizeSpec extends SparkSuite {

  private val HugeMethodLimit = 8000

  private lazy val session: SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.enabled", "false")
    s
  }

  /** Fails on any stage whose largest generated method reaches the limit. */
  private def assertJitCompilable(df: DataFrame): Unit = {
    val stages = codegenStringSeq(df.queryExecution.executedPlan)
      .map { case (subtree, _, stats) => (subtree.linesIterator.next(), stats.maxMethodCodeSize) }
    assert(stages.nonEmpty, df.queryExecution.executedPlan.treeString)
    stages.foreach { case (stage, size) =>
      assert(size > 0 && size < HugeMethodLimit, s"$stage: largest method $size bytes")
    }
  }

  private def flagged = ArticlePipeline.cleanAndFlag(ArticleSchema.load(session, HermeticPipelineSpec.fixture))

  test("cleanAndFlag: every stage's largest method is under the JIT limit") {
    assertJitCompilable(flagged)
  }

  test("Stats.collect's grouped aggregate: every stage's largest method is under the JIT limit") {
    assertJitCompilable(Stats.grouped(flagged))
  }

  test("DocValidation.parseDates: every stage's largest method is under the JIT limit") {
    assertJitCompilable(DocValidation.parseDates(session, "/root/testdata/sf0.001"))
  }
}
