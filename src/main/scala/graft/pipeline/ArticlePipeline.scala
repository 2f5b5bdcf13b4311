package graft.pipeline

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Overlap.overlap

/** Pipeline orchestration (reference O19, cleaner.py:284-393):
  * load → alias → clean text → standardize dates → drop incomplete →
  * dedup keep-first → validate → {save valid subset, quality report}.
  *
  * The reference materializes a new frame after every step; here the whole
  * chain is ONE lazy logical plan, built in one place for both entry points
  * — the clean/date kernels run in one codegen'd stage after the scan's
  * repartition, the validation kernels in one after dedup. `run` caches it
  * twice: the cleaned and dated rows before the incomplete-row filter (the
  * file is parsed once, and one aggregate over this cache gives the loaded
  * and complete counts), and the validated frame, whose three readers — the
  * statistics aggregate, the failed-row listing and the sink — run side by
  * side on [[graft.Overlap]].
  */
object ArticlePipeline {

  private val flagCols = Seq("errors", "passed", "reason", "message", "row_id")

  /** Result bundle: the cleaned+flagged frame, its stats, and the report. */
  case class Result(cleaned: DataFrame, stats: QualityStats, report: String)

  /** Build the cleaned + validation-flagged frame without any actions. */
  def cleanAndFlag(raw: DataFrame, cfg: ValidationConfig = ValidationConfig()): DataFrame =
    flag(CleanSteps.dropIncomplete(datedRows(raw)), cfg)

  /** Repartition → alias → clean text → standardize dates.
    *
    * A multiLine JSON file is one partition, so the loaded frame is
    * hash-repartitioned on `row_id` first and the text and date kernels run
    * on every core. `row_id` is assigned at the scan, before the exchange,
    * so keep-first dedup and the positional indices do not change. The
    * partition count is explicit because AQE would coalesce a small input
    * back into one partition.
    */
  private def datedRows(raw: DataFrame): DataFrame = {
    val partitions = raw.sparkSession.sessionState.conf.numShufflePartitions
    val aliased = ArticleSchema.aliasPublished(raw.repartition(partitions, col("row_id")))
    val cleaned = TextClean.cleanColumns(aliased)
    if (cleaned.columns.contains("published_date"))
      cleaned.withColumn("published_date", Dates.parseIsoDate(col("published_date")))
    else cleaned
  }

  /** Dedup keep-first → validate. */
  private def flag(complete: DataFrame, cfg: ValidationConfig): DataFrame =
    Validator.withFlags(CleanSteps.deduplicateArticles(complete), cfg)

  /** E1/E2 entry point: full pipeline with file outputs.
    * `outputPath` gets the valid subset as JSON lines (scalable sink); pass
    * `prettyArray = true` to also write a single pandas-style JSON array
    * (golden-parity helper — driver-side, test scale only).
    */
  def run(
      spark: SparkSession,
      inputPath: String,
      outputPath: String,
      reportPath: String,
      cfg: ValidationConfig = ValidationConfig(),
      prettyArray: Boolean = false): Result = {

    val dated = datedRows(ArticleSchema.load(spark, inputPath)).cache()
    val kept = CleanSteps.completePredicate(dated).getOrElse(lit(true))
    // the validated frame's plan is built and cached while the funnel runs
    val (funnel, flagged) = overlap(spark)(
      dated.agg(count(lit(1)), count(when(kept, 1))).head(),
      flag(CleanSteps.dropIncomplete(dated), cfg).cache())
    val (originalCount, afterDrop) = (funnel.getLong(0), funnel.getLong(1))

    // Global sort only on the pretty-array (golden-parity, test-scale) path —
    // the scalable JSONL sink has no ordering contract, so forcing a total
    // sort there would be a wasted exchange at scale.
    val valid = flagged.filter(col("passed"))
    val (collected, _) = overlap(spark)(
      Stats.collect(
        flagged,
        originalCount = originalCount,
        deletedIncomplete = originalCount - afterDrop,
        deletedDuplicates = 0),
      if (prettyArray)
        writePrettyJsonArray(valid.orderBy("row_id").drop(flagCols: _*), outputPath)
      else valid.drop(flagCols: _*).write.mode("overwrite").json(outputPath))
    // dedup's count is the aggregate's total over the same frame
    val stats = collected.copy(deletedDuplicates = afterDrop - collected.cleanedCount)

    val report = Reports.qualityReport(stats, cfg)
    Option(Paths.get(reportPath).getParent).foreach(Files.createDirectories(_))
    Files.writeString(Paths.get(reportPath), report)

    dated.unpersist()
    Result(flagged, stats, report)
  }

  /** O16 golden-parity writer: one pretty-printed JSON array, null fields
    * included (pandas `to_json(orient="records", indent=2)` equivalent).
    * Driver-side by construction — test/report scale only; the scalable sink
    * is `df.write.json` above (SURVEY.md H5).
    */
  def writePrettyJsonArray(df: DataFrame, path: String): Unit = {
    val jsonRows = df
      .select(to_json(struct(df.columns.map(col): _*),
        Map("ignoreNullFields" -> "false")).as("j"))
      .collect()
      .map(_.getString(0))
    val body = jsonRows.mkString("[\n  ", ",\n  ", "\n]")
    Option(Paths.get(path).getParent).foreach(Files.createDirectories(_))
    Files.writeString(Paths.get(path), body)
  }
}
