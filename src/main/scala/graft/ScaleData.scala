package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic ×N scale-up of a driver-generated testdata directory, for
  * scale cross-checks beyond the largest provided SF (BASELINE.md records an
  * sf0.1 check; this produces the sf1 input for the next decade).
  *
  * Usage: `runMain graft.ScaleData <srcDir> <dstDir> <copies>`
  *
  * Method: union `copies` shifted replicas of every fact table, offsetting
  * every entity key (`*_orderkey/custkey/partkey/suppkey`, `event_id/user_id`,
  * `doc_id`, `vec_id`) by `i * KeyStride` in copy `i`, so referential
  * integrity, key distributions, and join selectivities are preserved while
  * row counts scale linearly. Dimension tables (`region`, `nation`) and all
  * non-key attributes are left untouched — the scaled corpus is exactly the
  * original workload repeated in `copies` disjoint key ranges, which is the
  * property a Spark-vs-DuckDB value cross-check needs (both engines read the
  * same files; the data only has to be big, not novel).
  *
  * Replica text/embeddings are byte-identical across copies, so pairwise
  * near-duplicate queries become degenerate at the scaled SF (every doc gains
  * `copies-1` exact twins) — the scale cross-check excludes those and says so.
  */
object ScaleData {
  /** Larger than any key in the provided SFs (max is l_orderkey ≈ 1.5e6 at
    * sf0.1) and small enough that 10 copies stay far from Long overflow. */
  val KeyStride: Long = 100000000L

  /** Key columns to shift per table; everything else is copied through. */
  val keyCols: Map[String, Seq[String]] = Map(
    "customer"   -> Seq("c_custkey"),
    "orders"     -> Seq("o_orderkey", "o_custkey"),
    "lineitem"   -> Seq("l_orderkey", "l_partkey", "l_suppkey"),
    "part"       -> Seq("p_partkey"),
    "supplier"   -> Seq("s_suppkey"),
    "events"     -> Seq("event_id", "user_id"),
    "documents"  -> Seq("doc_id"),
    "embeddings" -> Seq("vec_id"),
    // dimension tables: single copy, no shift
    "region"     -> Seq.empty,
    "nation"     -> Seq.empty
  )

  def scaled(spark: SparkSession, srcDir: String, table: String, copies: Int): DataFrame = {
    val base = spark.read.parquet(s"$srcDir/$table.parquet")
    val keys = keyCols(table)
    if (keys.isEmpty || copies <= 1) base
    else {
      // Overflow guard: the shifted key must fit the SOURCE column type —
      // a narrower key column (int32) would silently wrap past copy ~21
      // (offset > 2³¹) and collide across replicas, corrupting referential
      // integrity of the scaled corpus. Refuse loudly instead. One combined
      // aggregate scans all key maxima in a single pass; an empty table (or
      // all-null key) has nothing to shift and passes trivially.
      import org.apache.spark.sql.types.{IntegerType, LongType}
      val maxShift = (copies - 1).toLong * KeyStride
      val maxRow = base.agg(
        max(col(keys.head)).cast("long").as(keys.head),
        keys.tail.map(k => max(col(k)).cast("long").as(k)): _*).head
      keys.foreach { k =>
        val headroom = base.schema(k).dataType match {
          case LongType    => Long.MaxValue - maxShift
          case IntegerType => Int.MaxValue.toLong - maxShift
          case other => sys.error(
            s"$table.$k: unsupported key type ${other.catalogString} for scaling")
        }
        Option(maxRow.getAs[java.lang.Long](k)).foreach { maxKey =>
          require(maxKey <= headroom,
            s"$table.$k: max key $maxKey + shift $maxShift overflows ${base.schema(k).dataType.catalogString}")
        }
      }
      (0 until copies).map { i =>
        keys.foldLeft(base) { (df, k) =>
          // preserve the exact source column type (int64 keys stay int64)
          df.withColumn(k, (col(k) + lit(i * KeyStride)).cast(base.schema(k).dataType))
        }
      }.reduce(_ unionAll _)
    }
  }

  def main(args: Array[String]): Unit = {
    val Array(srcDir, dstDir, copiesStr) = args.take(3)
    val copies = copiesStr.toInt
    val spark = GraftSession()
    keyCols.keys.toSeq.sorted.foreach { t =>
      scaled(spark, srcDir, t, copies)
        .write.mode("overwrite").parquet(s"$dstDir/$t.parquet")
      println(s"[scale] $t done")
    }
    spark.stop()
  }
}
