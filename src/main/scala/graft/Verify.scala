package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: either `i/n` (shard i of n, round-robin over the
    // sorted registry — the scaled-SF sweep runs a few bounded JVMs
    // instead of one 290-query process accumulating state) or
    // comma-separated query names (local iteration aid; the driver always
    // passes exactly two args → full sweep)
    val shard = "^(\\d{1,4})/(\\d{1,4})$".r
    val only: Option[Set[String]] = args.lift(2).map {
      case shard(i, n) =>
        require(n.toInt > 0, s"shard count must be positive: $i/$n")
        SparkEntry.queries.keys.toSeq.sorted.zipWithIndex
          .collect { case (q, ix) if ix % n.toInt == i.toInt % n.toInt => q }
          .toSet
      case names => names.split(",").toSet
    }
    only.foreach(_.diff(SparkEntry.queries.keySet).foreach(n =>
      System.err.println(s"[verify] WARNING: '$n' matches no registered query — typo?")))
    val spark = GraftSession()
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      } finally {
        // a few queries persist an internal index table; release it so
        // caches don't accumulate across the 290-query sweep. The
        // localCheckpoint blocks of the Pregel-shape queries are only
        // freed after their RDD objects are GC'd (the graft.Bench
        // lesson) — without the explicit unpersist+gc a scaled-SF sweep
        // accumulates dead storage blocks until the JVM dies mid-registry
        spark.catalog.clearCache()
        spark.sparkContext.getPersistentRDDs.values
          .foreach(_.unpersist(blocking = true))
        System.gc()
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql(spark, sfDir)
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
