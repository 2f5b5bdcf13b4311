package graft.ops

import graft.SparkSuite
import org.apache.spark.sql.functions._

/** The indexed retrieval serves — [[TextAnalysis.bm25PrfTopKIndexed]],
  * [[TextAnalysis.qldTopKIndexed]], [[Similarity.hybridRrfIndexed]] — are
  * the production shape of the round-16 composites: corpus-scale model
  * work happens at index build (the written postings snapshot / the
  * persisted band table), and a query pays only its serving tail. The
  * DuckDB oracles pin cross-engine exactness; this spec pins the two
  * properties the oracle can't see: (1) row-for-row parity with the
  * one-shot forms (the serve-from-index exactness claim, checked
  * in-engine), and (2) that the indexed plans genuinely ride the stored
  * artifact — the PRF/QLD serving plans never scan the documents table.
  */
class IndexedServeSpec extends SparkSuite {

  private val dir = "/root/testdata/sf0.001"

  test("indexed serves are row-for-row identical to their one-shot twins") {
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).toSeq
    assert(rows(TextAnalysis.bm25PrfTopKIndexed(spark, dir)) ==
      rows(TextAnalysis.bm25PrfTopK(spark, dir)),
      "bm25_prf_indexed diverged from the one-shot PRF serve")
    assert(rows(TextAnalysis.qldTopKIndexed(spark, dir)) ==
      rows(TextAnalysis.qldTopK(spark, dir)),
      "qld_indexed diverged from the one-shot QLD serve")
    assert(rows(Similarity.hybridRrfIndexed(spark, dir)) ==
      rows(Similarity.hybridRrfServed(spark, dir)),
      "hybrid_rrf_indexed diverged from the one-shot hybrid serve")
  }

  test("PRF/QLD serving plans ride the postings snapshot, never the corpus text") {
    // the whole point of the indexed form: at 100 TB the documents table is
    // the thing you cannot afford to scan per query. Queries, candidates,
    // model statistics all derive from the written postings parquet — the
    // optimized plan must contain NO scan of documents.parquet.
    for ((name, plan) <- Seq(
        "bm25_prf_indexed" -> TextAnalysis.bm25PrfTopKIndexed(spark, dir),
        "qld_indexed" -> TextAnalysis.qldTopKIndexed(spark, dir))) {
      assert(!plan.queryExecution.optimizedPlan.toString.contains("documents.parquet"),
        s"$name scans the corpus text at serve time")
    }
  }

  test("servingIndex: the same session gets the same index, built once") {
    val a = TextIndex.servingIndex(spark, dir)
    val b = TextIndex.servingIndex(spark, dir)
    assert(a eq b, "second call rebuilt the session-held serving index")
    assert(new java.io.File(a.tfPath).exists(), "postings snapshot missing on disk")
    // the BM25 view at the registered b shares the lexical model's stored
    // norms-in-postings frame VERBATIM (no per-serve refold), and every
    // model leg is a WRITTEN table on disk
    val m = TextAnalysis.servedLexModel(spark, dir)
    assert(m.tfb.queryExecution.logical eq
      TextAnalysis.servedBm25Model(spark, dir).tfb.queryExecution.logical,
      "BM25 view does not share the lexical model's stored postings frame")
    for (t <- Seq(m.tfb, m.dfi, m.stats))
      assert(t.queryExecution.optimizedPlan.toString.contains("parquet"),
        "a model leg is a live plan, not a written table")
  }

  test("indexed hybrid: dense leg equals the one-shot LSH serve over the same batch") {
    // leg-level parity (the fused comparison above could mask a dense-leg
    // regression behind RRF ties): the session-held band table must
    // reproduce annLshTopK's candidates and ranks exactly
    val pred = col("vec_id") <= TextAnalysis.ServeBatchMaxId
    val viaIndex = Similarity.annLshAgainst(
        Similarity.servedLshIndex(spark, dir), pred)
      .collect().map(_.toString).toSeq
    val oneShot = Similarity.annLshTopK(spark, dir, queryPred = pred)
      .collect().map(_.toString).toSeq
    assert(viaIndex == oneShot, "indexed dense leg diverged from annLshTopK")
  }
}
