package graft

/** Plan-shape regression guards: join strategy, exchanges and pushdown of
  * the headline queries, asserted per family ([[PlanShapeSpec]] is the
  * blanket digest over every benched query).
  * A change that silently drops a broadcast, un-pushes a filter, or turns
  * an equi-join into a nested loop should fail here, not surface as a
  * mystery slowdown in a later round's bench.
  */
class PlanSpec extends SparkSuite {

  private val dir = "/root/testdata/sf0.001"

  private def planOf(name: String): String =
    SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan.toString

  private def count(plan: String, p: String): Int = p.r.findAllIn(plan).length

  test("star joins broadcast their dimensions and never fall back to sort-merge") {
    for (q <- Seq("tpch_q3", "tpch_q5", "tpch_q10", "top_customers")) {
      val plan = planOf(q)
      assert(count(plan, "BroadcastHashJoin") >= 2, s"$q lost its broadcasts")
      assert(count(plan, "SortMergeJoin") == 0, s"$q fell back to sort-merge at test SF")
    }
  }

  test("filters reach the parquet scans") {
    for (q <- Seq("tpch_q1", "tpch_q6", "filter_incomplete")) {
      val plan = planOf(q)
      assert(plan.contains("PushedFilters: ["), s"$q scan has no pushed filters")
    }
  }

  test("q6 reads only the four referenced lineitem columns") {
    val plan = planOf("tpch_q6")
    val readSchema = "ReadSchema: [^\\n]*".r.findFirstIn(plan).getOrElse("")
    assert(readSchema.contains("l_extendedprice") && readSchema.contains("l_discount"))
    assert(!readSchema.contains("l_partkey") && !readSchema.contains("l_returnflag"),
      s"q6 scan reads unreferenced columns: $readSchema")
  }

  test("LSH pipelines join on equi-keys, never via nested-loop products") {
    for (q <- Seq("minhash_lsh_pairs", "simhash_near_dup", "embedding_near_dup_lsh")) {
      val plan = planOf(q)
      assert(count(plan, "CartesianProduct") == 0, s"$q plans a cartesian product")
    }
  }

  test("minhash LSH index is built map-side: no aggregate, no exchange") {
    // the banded index subtree must be scan → project(MinHashBands) →
    // posexplode; a HashAggregate or Exchange here means the signature
    // regressed to the shuffling explode→64-buffer formulation that fell
    // off the JIT fast path (45–56 s isolated at sf0.1)
    import org.apache.spark.sql.functions.{col, posexplode}
    val docs = graft.ops.Tables(spark, dir, "documents").select("doc_id", "text")
    val banded = docs.select(col("doc_id"),
      posexplode(graft.functions.MinHashBands(
        graft.ops.Dedup.shingles(col("text")), graft.ops.Dedup.MinhashK, graft.ops.Dedup.Bands))
        .as(Seq("band", "band_hash")))
    val plan = banded.queryExecution.executedPlan.toString
    assert(count(plan, "HashAggregate") == 0, "minhash index subtree aggregates")
    assert(count(plan, "Exchange") == 0, "minhash index subtree shuffles")
  }

  test("decontamination broadcasts the held-out index; corpus side never sort-merges") {
    val plan = planOf("decontaminate")
    assert(count(plan, "BroadcastHashJoin") >= 1, "held-out gram index is not broadcast")
    assert(count(plan, "SortMergeJoin") == 0, "corpus side fell back to sort-merge")
    assert(count(plan, "CartesianProduct") == 0)
  }

  test("sequence packing runs one window per pack group, no products") {
    val plan = planOf("pack_sequences")
    assert(count(plan, "Window") >= 1, "running-sum window missing")
    assert(count(plan, "CartesianProduct") == 0)
  }

  test("interval join runs as an equi-join on buckets, never a nested loop") {
    val plan = planOf("events_in_windows")
    assert(count(plan, "BroadcastNestedLoopJoin") == 0,
      "range join regressed to a nested loop")
    assert(count(plan, "CartesianProduct") == 0)
    assert(count(plan, "BroadcastHashJoin") + count(plan, "SortMergeJoin") +
      count(plan, "ShuffledHashJoin") >= 1, "no equi-join found")
  }

  test("the scalable dedup path aggregates instead of windowing globally") {
    val plan = planOf("dedup_exact_keep_first")
    assert(!plan.contains("Window"), "keep-first dedup regressed to a window")
    assert(count(plan, "HashAggregate") >= 2, "expected partial+final aggregation")
  }

  test("decision-support tail: decorrelated subqueries broadcast, top-k never sorts globally") {
    for (q <- Seq("tpch_q7", "tpch_q8", "tpch_q15", "tpch_q17", "tpch_q19")) {
      val plan = planOf(q)
      assert(count(plan, "BroadcastHashJoin") >= 1, s"$q lost its broadcasts")
      assert(count(plan, "SortMergeJoin") == 0, s"$q fell back to sort-merge at test SF")
      assert(count(plan, "CartesianProduct") == 0, s"$q plans a cartesian product")
    }
    assert(planOf("tpch_q18").contains("TakeOrderedAndProject"),
      "q18 top-100 materializes a global sort instead of TakeOrderedAndProject")
    // q17's magic-set decorrelation: the per-part average must aggregate the
    // BRAND-FILTERED lineitem (2 aggs incl. the final scalar, both after the
    // semi-reduction join), never a second full-table pass
    val q17 = planOf("tpch_q17")
    assert(count(q17, "BroadcastHashJoin") >= 2, "q17 lost a broadcast side")
  }

  test("round-4 additions keep their scale shapes") {
    // vocab: two-level aggregation (≥2 HashAggregate pairs), bounded top-k
    val vocab = planOf("vocab_top_terms")
    assert(vocab.contains("TakeOrderedAndProject"),
      "vocab top-k materializes a global sort")
    assert(count(vocab, "HashAggregate") >= 4, "vocab lost its two-level aggregation")
    assert(!vocab.contains("Expand"), "df regressed to a count-distinct Expand")
    // article funnel: keep-first dedup aggregates (no window), scalar combine
    // broadcasts — never a real cartesian over data
    val funnel = planOf("article_funnel")
    assert(!funnel.contains("Window"), "funnel keep-first regressed to a window")
    assert(count(funnel, "HashAggregate") >= 4, "funnel lost its aggregates")
    // approx quartiles: boundaries broadcast back, no per-type sort
    val quart = planOf("value_quartiles_approx")
    assert(count(quart, "BroadcastHashJoin") >= 1, "quartile boundaries not broadcast")
    assert(!quart.contains("Window"), "approx quartiles regressed to a window")
    // length histogram: lang totals broadcast back, never a window share
    val hist = planOf("length_histogram")
    assert(count(hist, "BroadcastHashJoin") >= 1, "lang totals not broadcast")
    assert(!hist.contains("Window"), "histogram shares regressed to a window")
    // distinctive terms: df broadcast, ranking windowed per doc, no product
    val terms = planOf("distinctive_terms")
    assert(count(terms, "BroadcastHashJoin") >= 1, "df side not broadcast")
    assert(count(terms, "Window") >= 1, "per-doc ranking window missing")
    assert(count(terms, "CartesianProduct") == 0)
  }

  test("schema-adapted remainder: broadcasts hold, no cartesian, top-k stays bounded") {
    for (q <- Seq("tpch_q2", "tpch_q9", "tpch_q11", "tpch_q16", "tpch_q20")) {
      val plan = planOf(q)
      assert(count(plan, "BroadcastHashJoin") >= 1, s"$q lost its broadcasts")
      assert(count(plan, "SortMergeJoin") == 0, s"$q fell back to sort-merge at test SF")
      assert(count(plan, "CartesianProduct") == 0, s"$q plans a cartesian product")
    }
    // q12/q21 join two fact derivations — shuffle joins are expected there,
    // but never a nested-loop product
    for (q <- Seq("tpch_q12", "tpch_q21"))
      assert(count(planOf(q), "CartesianProduct") == 0, s"$q plans a cartesian product")
    assert(planOf("tpch_q21").contains("TakeOrderedAndProject"),
      "q21 top-100 materializes a global sort instead of TakeOrderedAndProject")
  }
}
