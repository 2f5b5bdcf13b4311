package graft.plans

import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.ops.Tables

/** Pins Spark's RUNTIME FILTER (InjectRuntimeFilter): a selective dim-side
  * predicate materializes as a bloom filter that pre-filters the fact side
  * BEFORE its shuffle — the engine-native form of semi-join reduction, and
  * the mechanism that makes selective shuffle joins survive 100 TB (the
  * fact side ships `bloom_hit` rows, not the whole table, into the
  * exchange). Complements the DPP leg (partition-level pruning): this is
  * ROW-level runtime pruning on a non-partition key.
  *
  * At bench scale the application-side threshold (10 GB default) would
  * never trigger, so the spec pins the MECHANISM with thresholds floored —
  * and pins result equality against the unfiltered join, which is the
  * actual correctness contract.
  */
class RuntimeFilterSpec extends SparkSuite {

  private val dir = "/root/testdata/sf0.001"

  private def urgentRevenue = {
    val li = Tables(spark, dir, "lineitem")
    val urgent = Tables(spark, dir, "orders")
      .filter(col("o_orderpriority") === "1-URGENT")
    li.join(urgent, col("l_orderkey") === col("o_orderkey"))
      .agg(sum(col("l_extendedprice").cast("decimal(15,2)")).as("rev"),
        count(lit(1)).as("n"))
  }

  test("selective shuffle join grows a bloom runtime filter; results unchanged") {
    val baseline = urgentRevenue.collect()(0)
    val prevBroadcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force shuffle join
    spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    // the 10 GB application-side floor exists to avoid filter overhead on
    // small scans — floor it so the bench-SF plan shows the 100-TB shape
    spark.conf.set(
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
    try {
      val df = urgentRevenue
      df.collect()
      val phys = df.queryExecution.executedPlan.toString
      assert(phys.contains("might_contain"),
        s"no runtime bloom filter on the fact side:\n$phys")
      assert(phys.contains("SortMergeJoin") || phys.contains("ShuffledHashJoin"),
        "spec must exercise the shuffle-join regime")
      val got = df.collect()(0)
      assert(got.getDecimal(0) == baseline.getDecimal(0) &&
        got.getLong(1) == baseline.getLong(1),
        "runtime filter changed the join result")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBroadcast)
      spark.conf.unset("spark.sql.optimizer.runtime.bloomFilter.enabled")
      spark.conf.unset(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold")
    }
  }
}
