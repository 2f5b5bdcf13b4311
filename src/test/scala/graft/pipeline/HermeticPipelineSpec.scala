package graft.pipeline

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.TestListenerBus
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.SparkSuite

/** End-to-end golden over an in-repo fixture, so the article pipeline is
  * checked where the reference's own files are absent.
  *
  * `hermetic/articles.json` holds one record per FIXTURES.md §2 adversarial
  * case and every §3 date shape, plus a double-escaped duplicate-key pair
  * (`&amp;amp;` cleans to `&amp;`, whose re-cleaned dedup key matches the
  * plain `&amp;` title), an over-500-character title, a bare `https://` URL
  * and a lower-case ISO timestamp. Every file under `hermetic/expected/` was
  * rendered by [[HermeticPipelineSpec.render]] before the validation, date and
  * statistics kernels were rewritten; the spec pins those kernels to
  * byte-identical output.
  */
class HermeticPipelineSpec extends SparkSuite {

  private val expectedDir = Paths.get(getClass.getResource("/hermetic/expected").toURI)

  private def expected(name: String): String =
    new String(Files.readAllBytes(expectedDir.resolve(name)), UTF_8)

  test("hermetic fixture: every rendered output is byte-identical to the recorded one") {
    val out = HermeticPipelineSpec.render(spark)
    val recorded = Files.list(expectedDir).iterator().asScala.map(_.getFileName.toString).toSet
    assert(out.keySet == recorded)
    out.foreach { case (name, text) =>
      assert(text == expected(name), s"$name deviates from the recorded output")
    }
  }

  /** The funnel aggregate, the sink write, the statistics aggregate, the
    * failure listing and its position job's `.rdd` — the file is parsed and
    * each count taken once. */
  test("a JSONL-mode run takes 5 SQL executions") {
    val dir = Files.createTempDirectory("graft-executions")
    val executions = new AtomicInteger
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        executions.incrementAndGet()
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
        executions.incrementAndGet()
    }
    TestListenerBus.drain(spark.sparkContext)
    spark.listenerManager.register(listener)
    try {
      ArticlePipeline.run(spark, HermeticPipelineSpec.fixture, s"$dir/sink_jsonl", s"$dir/report.txt")
        .cleaned.unpersist()
      TestListenerBus.drain(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)
    assert(executions.get == 5)
  }
}

object HermeticPipelineSpec {

  val fixture: String = Paths.get(getClass.getResource("/hermetic/articles.json").toURI).toString

  private def read(p: Path): String = new String(Files.readAllBytes(p), UTF_8)

  /** Every output of the pipeline over the fixture, keyed by file name:
    * both reports, the cleaned + flagged rows in `row_id` order, both sinks
    * (the JSONL sink's lines sorted, as its part files carry no order), and
    * the standalone validator's report over the raw records.
    */
  def render(spark: SparkSession): Map[String, String] = {
    val dir = Files.createTempDirectory("graft-hermetic")
    val pretty = ArticlePipeline.run(spark, fixture, s"$dir/sink.json", s"$dir/pretty_report.txt",
      prettyArray = true)
    val cleanedRows = pretty.cleaned.orderBy("row_id")
      .select(to_json(struct(pretty.cleaned.columns.map(col): _*),
        Map("ignoreNullFields" -> "false")))
      .collect().map(_.getString(0) + "\n").mkString
    pretty.cleaned.unpersist()

    val lines = ArticlePipeline.run(spark, fixture, s"$dir/sink_jsonl", s"$dir/report.txt")
    lines.cleaned.unpersist()
    val sinkLines = Files.list(Paths.get(s"$dir/sink_jsonl")).iterator().asScala.toSeq
      .filter(_.getFileName.toString.endsWith(".json"))
      .flatMap(p => Files.readAllLines(p, UTF_8).asScala)
      .sorted.map(_ + "\n").mkString

    val flagged = Validator.withFlags(ArticleSchema.aliasPublished(ArticleSchema.load(spark, fixture))).cache()
    val validatorStats = Stats.collect(flagged, originalCount = flagged.count(),
      deletedIncomplete = 0, deletedDuplicates = 0)
    flagged.unpersist()

    Map(
      "quality_report.txt" -> read(Paths.get(s"$dir/pretty_report.txt")),
      "quality_report_jsonl_run.txt" -> read(Paths.get(s"$dir/report.txt")),
      "validation_report.txt" -> Reports.validationReport(pretty.stats),
      "cleaned_rows.jsonl" -> cleanedRows,
      "sink.json" -> read(Paths.get(s"$dir/sink.json")),
      "sink.jsonl" -> sinkLines,
      "validator_report.txt" -> Reports.validationReport(validatorStats))
  }
}
