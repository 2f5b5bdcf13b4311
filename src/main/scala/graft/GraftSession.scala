package graft

import org.apache.spark.sql.SparkSession

/** The session every command-line main runs on (`Bench`, `Verify`,
  * `PlanDump`, `Probe`, `ScaleData` and the two pipeline CLIs), so a dumped
  * plan or a verified result is the benched one:
  *  - `local[cpus]` with `cpus` shuffle partitions, where `cpus` is
  *    `SPARK_GRAFT_CPUS`, else every available core; `SPARK_MASTER`
  *    overrides the master;
  *  - parquet nanosecond timestamps read as longs (the nanos-era
  *    `events.ts`), session time zone UTC, UI off, log level WARN.
  *
  * The test suites (`SparkSuite`, pinned at `local[4]`) and `perfbench`
  * build their own sessions.
  */
object GraftSession {
  def apply(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", s"local[$cpus]"))
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
