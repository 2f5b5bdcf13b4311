package graft

import java.nio.file.{Files, Paths}

/** Writes `.explain("formatted")` for named queries to files — the
  * optimization rounds' plan-evidence artifact (`plans/rNN/<q>_before.txt`
  * / `_after.txt`). Usage:
  * `runMain graft.PlanDump <outDir> <suffix> <q1,q2,...> [sfDir]`.
  * Runs on [[GraftSession]], as `graft.Bench` does, so the dumped plan is
  * the benched plan.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val suffix = args(1)
    val names = args(2).split(",").toSeq
    val dir = args.lift(3).getOrElse("/root/testdata/sf0.1")
    val spark = GraftSession()
    Files.createDirectories(Paths.get(outDir))
    for (name <- names) {
      val df = SparkEntry.queries(name)(spark, dir)
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      Files.write(Paths.get(outDir, s"${name}_$suffix.txt"),
        txt.getBytes("UTF-8"))
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = true))
      println(s"[plandump] wrote $name ($suffix)")
    }
    spark.stop()
  }
}
