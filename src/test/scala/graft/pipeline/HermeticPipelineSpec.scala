package graft.pipeline

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.TestListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, RLike, RegExpReplace}
import org.apache.spark.sql.execution.{LogicalRDD, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.{InMemoryRelation, InMemoryTableScanExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.unsafe.types.UTF8String

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

  /** One JSONL-mode run over the fixture, with what it executed: every
    * query execution, and the RDD names of every stage that ran. */
  private lazy val traced = {
    val dir = Files.createTempDirectory("graft-executions")
    val executions = new ConcurrentLinkedQueue[QueryExecution]
    val stages = new ConcurrentLinkedQueue[Seq[String]]
    val queries = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        executions.add(qe)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
        executions.add(qe)
    }
    val jobs = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        stages.add(e.stageInfo.rddInfos.map(_.name))
    }
    TestListenerBus.drain(spark.sparkContext)
    spark.listenerManager.register(queries)
    spark.sparkContext.addSparkListener(jobs)
    val persistedBefore = spark.sparkContext.getPersistentRDDs.keySet
    try {
      val result = ArticlePipeline.run(spark, HermeticPipelineSpec.fixture, s"$dir/sink_jsonl", s"$dir/report.txt")
      TestListenerBus.drain(spark.sparkContext)
      (result, executions.asScala.toSeq, stages.asScala.toSeq, persistedBefore)
    } finally {
      spark.listenerManager.unregister(queries)
      spark.sparkContext.removeSparkListener(jobs)
    }
  }

  /** The checkpoint of the validated frame, the funnel aggregate, the sink
    * write, the statistics aggregate, the failure listing and its position
    * job's `.rdd` — the file is parsed and each count taken once. */
  test("a JSONL-mode run takes 6 SQL executions and one file scan") {
    val (_, executions, stages, _) = traced
    assert(executions.size == 6, executions.map(_.executedPlan.nodeName))
    // schema inference reads the multiLine file whole, as a binary-file RDD
    val scans = stages.count(_.contains("FileScanRDD"))
    val inference = stages.count(_.exists(_.startsWith("JsonFile")))
    assert((scans, inference) == (1, 1), stages)
  }

  test("no executed plan runs a (?U) regex, and the returned frame is not an in-memory cache") {
    val (result, executions, _, _) = traced
    val flagged = ArticlePipeline.cleanAndFlag(ArticleSchema.load(spark, HermeticPipelineSpec.fixture))
    flagged.collect()
    val plans = (executions :+ flagged.queryExecution).map(_.executedPlan)
    val regexes = plans.flatMap(PlanScan.expressions).collect {
      case RLike(_, Literal(p: UTF8String, _)) if p.toString.startsWith("(?U)") => p
      case RegExpReplace(_, Literal(p: UTF8String, _), _, _) if p.toString.startsWith("(?U)") => p
    }
    assert(regexes.isEmpty)
    // the scan reaches the kernels: the run's plans hold all three
    val kernels = plans.flatMap(PlanScan.expressions).map(_.getClass.getSimpleName).toSet
    assert(Set("IsBlank", "StripWhitespace", "CollapseWhitespace").subsetOf(kernels))
    assert(result.cleaned.queryExecution.logical.collect { case r: InMemoryRelation => r }.isEmpty)
    assert(result.cleaned.queryExecution.logical.isInstanceOf[LogicalRDD])
  }

  test("release() leaves no persisted RDD or cached plan of the run behind") {
    val (result, executions, _, persistedBefore) = traced
    result.release()
    assert(spark.sparkContext.getPersistentRDDs.keySet == persistedBefore)
    val caches = executions.flatMap(qe => PlanScan.nodes(qe.executedPlan))
      .collect { case s: InMemoryTableScanExec => s.relation.cacheBuilder }
    assert(caches.nonEmpty)
    assert(!caches.exists(_.isCachedColumnBuffersLoaded))
  }
}

/** Every node of an executed plan: through adaptive query stages,
  * subqueries and the plans behind in-memory caches. */
private object PlanScan extends AdaptiveSparkPlanHelper {
  def nodes(plan: SparkPlan): Seq[SparkPlan] =
    collectWithSubqueries(plan) { case p => p }.flatMap {
      case s: InMemoryTableScanExec => s +: nodes(s.relation.cacheBuilder.cachedPlan)
      case p => Seq(p)
    }

  def expressions(plan: SparkPlan): Seq[Expression] =
    nodes(plan).flatMap(_.expressions.flatMap(_.collect { case e => e }))
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
    pretty.release()

    val lines = ArticlePipeline.run(spark, fixture, s"$dir/sink_jsonl", s"$dir/report.txt")
    lines.release()
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
