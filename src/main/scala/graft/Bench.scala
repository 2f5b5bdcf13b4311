package graft
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession()
    // Untimed warm-up: JVM/codegen/parquet-footer cold-start otherwise lands
    // entirely on whichever query happens to run first.
    spark.read.parquet(s"$sfDir/nation.parquet").count()
    // Min of two runs per query: this environment shows 2-4× multi-thread
    // scheduling noise run-to-run (single-thread perf is stable), so a
    // single sample measures the scheduler, not the plan. The first run also
    // absorbs that plan's codegen compile. clearCache between runs keeps the
    // second run honest for queries that persist an index table internally
    // (otherwise run 2 would time a CacheManager hit, not the plan).
    // A throwing query is reported as -1, never as its time-to-throw.
    // Local-iteration aid: SPARK_GRAFT_BENCH_ONLY=q1,q2 times a subset.
    // The driver sets only SPARK_GRAFT_SF_DIR/CPUS → full sweep.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(",").toSet)
    only.foreach(_.diff(SparkEntry.benchQueries.toSet).foreach(n =>
      System.err.println(s"[bench] WARNING: '$n' matches no bench query — typo?")))
    // Three samples per query, reporting min (headline), median, AND the raw
    // run-order samples — so spread is self-describing and outlier
    // adjudication never needs a re-run. NOTE (cross-round comparability):
    // rounds ≤3 used min-of-2; min-of-3 is stochastically slightly lower, so
    // cross-round deltas within that bias band are noise, not plan changes —
    // recorded in BASELINE.md's protocol section.
    val samples = SparkEntry.benchQueries
      .filter(name => only.forall(_.contains(name)))
      .map { name =>
      val fn = SparkEntry.queries(name)
      // Inter-query isolation: clearCache drops catalog-cached plans, but
      // localCheckpoint blocks (the Pregel-shape queries) are only released
      // by the ContextCleaner AFTER their RDD objects are GC'd — without
      // the explicit unpersist+gc the sweep accumulates dead storage blocks
      // that squeeze execution memory and spill the heavy span queries
      // (observed: cross_doc_spans 1.7 s isolated vs 27 s late in a sweep).
      // Runs OUTSIDE the timed section.
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = true))
      System.gc()
      val times = (1 to 3).map { _ =>
        spark.catalog.clearCache()
        val t0 = System.nanoTime()
        try { fn(spark, sfDir).count(); (System.nanoTime() - t0) / 1e9 }
        catch { case _: Throwable => -1.0 }
      }
      name -> (if (times.contains(-1.0)) Seq(-1.0, -1.0, -1.0) else times)
    }
    def obj(sel: Seq[Double] => Double): String = samples
      .map { case (k, v) => "\"" + k + "\":" + f"${sel(v)}%.4f" }
      .mkString("{", ",", "}")
    def minOf(v: Seq[Double]): Double = v.min
    def medOf(v: Seq[Double]): Double = v.sorted.apply(v.size / 2)
    val sampleObj = samples
      .map { case (k, v) =>
        "\"" + k + "\":" + v.map(t => f"$t%.4f").mkString("[", ",", "]") }
      .mkString("{", ",", "}")
    val total = f"${samples.map(s => minOf(s._2)).sum}%.4f"
    val totalMedian = f"${samples.map(s => medOf(s._2)).sum}%.4f"
    val json =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":${obj(minOf)},"queries_median":${obj(medOf)},"queries_samples":$sampleObj,"value_median":$totalMedian,"sf":"$sfDir"}"""
    println(json)
    // The driver greps this line out of sbt's log; BENCH_r03.json came back
    // "parsed": null when the log interleaved — a file is deterministic.
    // Subset runs (SPARK_GRAFT_BENCH_ONLY) write a separate .partial file so
    // an isolated adjudication can never clobber the full sweep of record.
    val outFile =
      if (only.isDefined) "BENCH_RESULT.partial.json" else "BENCH_RESULT.json"
    java.nio.file.Files.write(java.nio.file.Paths.get(outFile),
      (json + "\n").getBytes("UTF-8"))
    spark.stop()
  }
}
