package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.ops.TextAnalysis

class TopKByScoreSpec extends SparkSuite {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  test("aggregate top-k is row-identical to the window form; plan has no Window") {
    val win = TextAnalysis.distinctiveTerms(spark, dir).collect().toSeq
    val agg = TextAnalysis.distinctiveTermsAgg(spark, dir).collect().toSeq
    assert(win == agg, s"first diff: ${win.zip(agg).find { case (a, b) => a != b }}")
    val df = TextAnalysis.distinctiveTermsAgg(spark, dir)
    df.collect()
    val phys = df.queryExecution.executedPlan.toString
    assert(!phys.contains("Window"), s"Window survived the aggregate rewrite:\n$phys")
    assert(phys.contains("top_k_by_score"), s"custom aggregate missing:\n$phys")
    // partial aggregation must be planned (map-side k-item buffers — the
    // reason this form exists); partial_ prefix marks the map-side phase
    assert(phys.contains("partial_top_k_by_score"),
      s"no map-side partial aggregation:\n$phys")
  }

  test("partial buffers merge correctly across many input partitions") {
    // 1000 rows scattered over 64 partitions: every partition contributes a
    // partial buffer, serialize/deserialize and merge all exercise
    val rows = (1 to 1000).map(i => (i % 7L, f"tok$i%04d", i.toLong, 1L))
    val df = rows.toDF("g", "token", "tf", "df")
      .repartition(64)
      .withColumn("raw_score", col("tf").cast("double") / col("df"))
      .groupBy("g")
      .agg(TopKByScore(col("raw_score"), col("token"), col("tf"), col("df"), 5).as("top"))
      .select(col("g"), explode(col("top")).as("t"))
      .select(col("g"), col("t.token"), col("t.raw_score"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    val want = rows.groupBy(_._1).flatMap { case (g, items) =>
      items.map(t => (g, t._2, t._3.toDouble / t._4))
        .sortBy { case (_, tok, s) => (-s, tok) }.take(5)
    }.toSet
    assert(rows.length == 1000)
    assert(df.toSet == want, s"merged top-k diverged: ${(df.toSet diff want).take(3)}")
    // per group exactly 5 items, scores non-increasing in emitted order
    df.groupBy(_._1).foreach { case (_, items) => assert(items.length == 5) }
  }

  test("nulls are skipped; groups smaller than k return all their items") {
    val df = Seq(
      (1L, Some("a"), 1L), (1L, None, 9L), (2L, Some("b"), 2L)
    ).toDF("g", "token", "tf")
      .withColumn("raw_score", col("tf").cast("double"))
      .groupBy("g")
      .agg(TopKByScore(col("raw_score"), col("token"), col("tf"), lit(1L), 3).as("top"))
      .select(col("g"), size(col("top")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(df == Map(1L -> 1, 2L -> 1), s"got $df")
  }

  test("wrong argument types fail at analysis, not execution") {
    // an int tf (not long) via the SQL surface must raise an analysis error
    // naming the offending argument — not a ClassCastException mid-task
    Seq((1, "a", 2, 3)).toDF("g", "token", "tf", "df")
      .createOrReplaceTempView("topk_badtypes")
    val e = intercept[Exception] {
      spark.sql(
        """SELECT g, top_k_by_score(CAST(tf AS DOUBLE), token, tf, df, 2)
          |FROM topk_badtypes GROUP BY g""".stripMargin).collect()
    }
    assert(e.getMessage.contains("tf") || e.getMessage.contains("DATATYPE"),
      s"expected an analysis-time type error, got: ${e.getMessage.take(200)}")
  }

  test("null tf/df rows are skipped, not coerced to zero") {
    val out = Seq(
      (1L, "a", Some(5L)), (1L, "b", None)
    ).toDF("g", "token", "tf")
      .withColumn("raw_score", coalesce(col("tf"), lit(99L)).cast("double"))
      .groupBy("g")
      .agg(TopKByScore(col("raw_score"), col("token"), col("tf"), lit(1L), 3).as("top"))
      .select(explode(col("top")).as("t")).select("t.token").as[String].collect()
    assert(out.toSeq == Seq("a"),
      s"null-tf row must be skipped entirely, got ${out.toSeq}")
  }
}
