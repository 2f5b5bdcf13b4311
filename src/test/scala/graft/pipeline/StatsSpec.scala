package graft.pipeline

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

import graft.SparkSuite

/** `Stats.collect`'s failure listing: each failed row's index is its
  * position in `row_id` order, checked against a local positional
  * reference over non-contiguous ids spread across partitions.
  */
class StatsSpec extends SparkSuite {

  private val schema = StructType(Seq(
    StructField("title", StringType),
    StructField("row_id", LongType),
    StructField("passed", BooleanType),
    StructField("reason", StringType),
    StructField("message", StringType)))

  /** Row k has id 7k + 3 (gaps between ids), failing when `fails(k)`;
    * rows are dealt out of order over 3 partitions.
    */
  private def flagged(n: Int)(fails: Int => Boolean) = {
    val rows = (0 until n).map { k =>
      if (fails(k)) Row(s"t$k", 7L * k + 3, false, "short_content", s"failed $k")
      else Row(s"t$k", 7L * k + 3, true, null, null)
    }
    val dealt = rows.zipWithIndex.sortBy { case (_, k) => (k % 3, -k) }.map(_._1)
    spark.createDataFrame(spark.sparkContext.parallelize(dealt, 3), schema)
  }

  private def details(n: Int, max: Long = 10000)(fails: Int => Boolean): Seq[FailedDetail] =
    Stats.collect(flagged(n)(fails), originalCount = n, deletedIncomplete = 0,
      deletedDuplicates = 0, maxFailedDetails = max).failedDetails

  /** The reference: sort every row by row_id; a failure's index is its rank. */
  private def reference(n: Int)(fails: Int => Boolean): Seq[FailedDetail] =
    (0 until n).filter(fails).map(k => FailedDetail(k.toLong, "short_content", s"failed $k"))

  test("failure indices: first, last and consecutive failures") {
    val fails = Set(0, 5, 6, 7, 20, 39)
    assert(details(40)(fails) == reference(40)(fails))
  }

  test("failure indices: zero failures and all rows failed") {
    assert(details(25)(_ => false).isEmpty)
    assert(details(25)(_ => true) == reference(25)(_ => true))
  }

  test("failure listing is gated on maxFailedDetails") {
    val fails = (k: Int) => k % 4 == 1 // 5 failures in 20 rows
    assert(details(20, max = 5)(fails) == reference(20)(fails))
    assert(details(20, max = 4)(fails).isEmpty)
  }
}
