package graft.pipeline

/** CLI entry point (reference E1: `python cleaner.py`, cleaner.py:396-397).
  *
  * Usage: runMain graft.pipeline.Main [input.json [output.json [report.txt]]]
  * Defaults mirror the reference: sample_data.json → cleaned_output.json +
  * quality_report.txt in the working directory.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val input = args.lift(0).getOrElse("sample_data.json")
    val output = args.lift(1).getOrElse("cleaned_output.json")
    val report = args.lift(2).getOrElse("quality_report.txt")

    val spark = graft.GraftSession()

    println("=" * 60)
    println("DATA PROCESSING PIPELINE")
    println("=" * 60)
    val result = ArticlePipeline.run(spark, input, output, report, prettyArray = true)
    val s = result.stats
    println(s"  Loaded:          ${s.originalCount}")
    println(s"  Incomplete drop: ${s.deletedIncomplete}")
    println(s"  Duplicates drop: ${s.deletedDuplicates}")
    println(s"  Cleaned:         ${s.cleanedCount}")
    println(s"  Passed/Failed:   ${s.passed}/${s.failed}")
    println(s"  Cleaned data:    $output (${s.passed} records)")
    println(s"  Quality report:  $report")
    println(s"  Summary: ${s.originalCount} loaded -> ${s.cleanedCount} after cleaning -> ${s.passed} valid (saved)")
    result.release()
    spark.stop()
  }
}
