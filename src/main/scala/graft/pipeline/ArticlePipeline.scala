package graft.pipeline

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Pipeline orchestration (reference O19, cleaner.py:284-393):
  * load → alias → clean text → standardize dates → drop incomplete →
  * dedup keep-first → validate → {save valid subset, quality report}.
  *
  * The reference materializes a new frame after every step; here the whole
  * chain is ONE lazy logical plan, built in one place for both entry points
  * — the clean/date kernels run in one codegen'd stage after the scan's
  * repartition, the validation kernels in one after dedup — cached at the
  * drop count and at the post-validation fan-out point (counts + report
  * aggregates + sink all reuse it).
  */
object ArticlePipeline {

  private val flagCols = Seq("errors", "passed", "reason", "message", "row_id")

  /** Result bundle: the cleaned+flagged frame, its stats, and the report. */
  case class Result(cleaned: DataFrame, stats: QualityStats, report: String)

  /** Build the cleaned + validation-flagged frame without any actions. */
  def cleanAndFlag(raw: DataFrame, cfg: ValidationConfig = ValidationConfig()): DataFrame =
    flag(completeRows(raw), cfg)

  /** Repartition → alias → clean text → standardize dates → drop incomplete.
    *
    * A multiLine JSON file is one partition, so the loaded frame is
    * hash-repartitioned on `row_id` first and the text and date kernels run
    * on every core. `row_id` is assigned at the scan, before the exchange,
    * so keep-first dedup and the positional indices do not change. The
    * partition count is explicit because AQE would coalesce a small input
    * back into one partition.
    */
  private def completeRows(raw: DataFrame): DataFrame = {
    val partitions = raw.sparkSession.sessionState.conf.numShufflePartitions
    val aliased = ArticleSchema.aliasPublished(raw.repartition(partitions, col("row_id")))
    val cleaned = TextClean.cleanColumns(aliased)
    val dated =
      if (cleaned.columns.contains("published_date"))
        cleaned.withColumn("published_date", Dates.parseIsoDate(col("published_date")))
      else cleaned
    CleanSteps.dropIncomplete(dated)
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

    val raw = ArticleSchema.load(spark, inputPath)
    val originalCount = raw.count()

    // Two cheap intermediate actions give the funnel counts the report needs;
    // the pre-dedup frame is tiny relative to the scan so we count it directly.
    val complete = completeRows(raw).cache()
    val afterDrop = complete.count()
    val flagged = flag(complete, cfg).cache()
    val afterDedup = flagged.count()

    val stats = Stats.collect(
      flagged,
      originalCount = originalCount,
      deletedIncomplete = originalCount - afterDrop,
      deletedDuplicates = afterDrop - afterDedup)

    // Global sort only on the pretty-array (golden-parity, test-scale) path —
    // the scalable JSONL sink has no ordering contract, so forcing a total
    // sort there would be a wasted exchange at scale.
    val valid = flagged.filter(col("passed"))
    if (prettyArray)
      writePrettyJsonArray(valid.orderBy("row_id").drop(flagCols: _*), outputPath)
    else valid.drop(flagCols: _*).write.mode("overwrite").json(outputPath)

    val report = Reports.qualityReport(stats, cfg)
    Option(Paths.get(reportPath).getParent).foreach(Files.createDirectories(_))
    Files.writeString(Paths.get(reportPath), report)

    complete.unpersist()
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
