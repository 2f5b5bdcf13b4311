package graft

import graft.QuerySpec.{Fitted, RowsOnly}

/** Registry tripwire. Every query is one `SparkEntry.specs` entry whose
  * check is an oracle, a fitted oracle or a rows-only reason, so coverage
  * cannot drift by construction; this spec pins what the types cannot:
  * unique names, the fitted oracles' wiring, the tally, and that every
  * query resolves.
  */
class RegistrySpec extends SparkSuite {

  // the fitted oracles exist only once their contexts are bound (exactly
  // what Verify does before its dump)
  graft.ops.Similarity.setOracleContext(spark, "/root/testdata/sf0.001")
  graft.ops.Multimodal.setOracleContext(spark, "/root/testdata/sf0.001")
  graft.ops.QualityModel.setOracleContext(spark, "/root/testdata/sf0.001")

  test("query names are unique") {
    // `queries` and `oracleSql` are maps: a duplicate would silently
    // shadow its first declaration
    val dups = SparkEntry.specs.groupBy(_.name).collect { case (n, qs) if qs.size > 1 => n }
    assert(dups.isEmpty, s"declared more than once: ${dups.mkString(", ")}")
  }

  test("the Fitted-marked queries are exactly the fitted oracles' keys") {
    val marked = SparkEntry.specs.filter(_.check == Fitted).map(_.name).toSet
    val generated = graft.ops.Similarity.quantizerOracles.keySet ++
      graft.ops.Multimodal.codecOracles.keySet ++ graft.ops.QualityModel.modelOracles.keySet
    assert(marked == generated,
      s"marked but not generated: ${(marked -- generated).mkString(", ")}; " +
        s"generated but not marked: ${(generated -- marked).mkString(", ")}")
  }

  test("the ledger tally is pinned: registered = exact + rows-only") {
    // THE single source of truth for the registered/exact/rows-only split
    // (BASELINE.md's gate paragraph cites these numbers; the driver's
    // correctness report derives from the same structures). The pin makes
    // the TALLY a deliberate, reviewed change instead of prose that can
    // drift. "Exact" counts every query whose oracle Verify can emit,
    // the fitted ones included once the contexts above are bound.
    val rowsOnly = SparkEntry.specs.count(_.check.isInstanceOf[RowsOnly])
    val tally = (SparkEntry.queries.size, SparkEntry.oracleSql.size, rowsOnly)
    assert(tally == ((295, 287, 8)),
      s"ledger tally changed to $tally — update this pin AND BASELINE.md's gate paragraph together")
  }

  test("every query runs against the smoke SF and returns a non-empty schema") {
    // Builder instantiation: catches a query whose builder throws on
    // construction or resolves to zero columns. NOT side-effect-free — the
    // StorageLayout builders write their bucketed/partitioned tables to the
    // JVM temp dir on first touch and ann_ivf_topk fits its KMeans
    // quantizer — but none of the final DataFrames are executed.
    for ((name, fn) <- SparkEntry.queries) {
      val df = fn(spark, "/root/testdata/sf0.001")
      assert(df.schema.fields.nonEmpty, s"$name resolves to an empty schema")
      spark.catalog.clearCache()
    }
  }
}
