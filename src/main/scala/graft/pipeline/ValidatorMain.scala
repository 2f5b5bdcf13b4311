package graft.pipeline

import java.nio.file.{Files, Paths}

/** Standalone validator CLI (reference E3: the `validator.py` library run on
  * its own, validator.py:144-199) — validates a raw article JSON file
  * WITHOUT the cleaning pipeline, exactly as `batch_validate` +
  * `generate_validation_report` compose, and prints the validation report.
  *
  * Usage: runMain graft.pipeline.ValidatorMain input.json [report.txt]
  */
object ValidatorMain {
  def main(args: Array[String]): Unit = {
    val input = args.lift(0).getOrElse("sample_data.json")
    val reportPath = args.lift(1)

    val spark = graft.GraftSession()

    val raw = ArticleSchema.load(spark, input)
    val flagged = Validator.withFlags(ArticleSchema.aliasPublished(raw)).cache()
    val counted = Stats.collect(flagged, originalCount = 0, deletedIncomplete = 0, deletedDuplicates = 0)
    val stats = counted.copy(originalCount = counted.total)
    val report = Reports.validationReport(stats)
    println(report)
    reportPath.foreach { p =>
      Option(Paths.get(p).getParent).foreach(Files.createDirectories(_))
      Files.writeString(Paths.get(p), report)
    }
    spark.stop()
  }
}
