package graft

class GraftExtensionsSpec extends SparkSuite {

  test("custom expressions are callable from SQL after registration") {
    val row = spark.sql(
      """SELECT
        |  html_unescape('AI &amp; ML &apos;26') AS s,
        |  cosine_similarity(array(1.0d, 0.0d), array(1.0d, 0.0d)) AS c_same,
        |  cosine_similarity(array(1.0d, 0.0d), array(0.0d, 1.0d)) AS c_orth
        |""".stripMargin).head()
    assert(row.getString(0) == "AI & ML '26")
    assert(row.getDouble(1) == 1.0)
    assert(row.getDouble(2) == 0.0)
    val grams = spark.sql("SELECT word_ngrams('a b c d'), word_ngrams('a b c d', 2)").head()
    assert(grams.getSeq[String](0) == Seq("a b c", "b c d"))
    assert(grams.getSeq[String](1) == Seq("a b", "b c", "c d"))
    val hashes = spark.sql(
      """SELECT minhash_bands(word_ngrams('a b c d e')) AS mb,
        |  simhash64(split('a b c', ' ')) AS sh,
        |  winnow('the quick brown fox jumps over the lazy dog') AS wf
        |""".stripMargin).head()
    assert(hashes.getSeq[Long](0).length == 16)
    // fingerprints are deterministic — same input, same value
    assert(hashes.getLong(1) ==
      spark.sql("SELECT simhash64(split('a b c', ' '))").head().getLong(0))
    assert(hashes.getSeq[Long](2).nonEmpty)
    // hilbert_index: the SQL surface of the curve expression — corner
    // anchors of the 1024-grid walk plus inverse consistency with compute()
    val hil = spark.sql(
      "SELECT hilbert_index(0L, 0L), hilbert_index(1023L, 0L), hilbert_index(3L, 5L)").head()
    assert(hil.getLong(0) == 0L)
    assert(hil.getLong(1) == 1024L * 1024L - 1)
    assert(hil.getLong(2) == graft.functions.HilbertIndex.compute(3L, 5L))
  }

  test("generator and aggregate surfaces work from SQL") {
    // generator in the SELECT list: one row per chunk
    val chunks = spark.sql(
      """SELECT sliding_chunks(split('a b c d e', ' '), 3, 2)
        |FROM (SELECT 1)""".stripMargin).collect()
      .map(r => (r.getInt(0), r.getSeq[String](1)))
    assert(chunks.toSeq == Seq(
      (0, Seq("a", "b", "c")), (1, Seq("c", "d", "e"))), s"got ${chunks.toSeq}")
    // aggregate with GROUP BY: top-2 by score desc, token asc on ties
    val top = spark.sql(
      """SELECT g, top_k_by_score(s, tok, tf, df, 2) AS top FROM VALUES
        |  (1, 3.0d, 'x', 1L, 1L), (1, 9.0d, 'y', 2L, 1L),
        |  (1, 9.0d, 'a', 3L, 1L), (2, 1.0d, 'z', 4L, 1L)
        |  AS t(g, s, tok, tf, df)
        |GROUP BY g ORDER BY g""".stripMargin).collect()
      .map(r => r.getInt(0) -> r.getSeq[org.apache.spark.sql.Row](1).map(x =>
        (x.getString(0), x.getDouble(3))))
    assert(top.toSeq == Seq(
      1 -> Seq(("a", 9.0), ("y", 9.0)),
      2 -> Seq(("z", 1.0))), s"got ${top.toSeq}")
  }

  test("the plugin injects the SQL functions and the as-of strategy, and no optimizer rule") {
    val rules = spark.sessionState.optimizer.batches.flatMap(_.rules).map(_.getClass.getName)
    assert(!rules.exists(_.startsWith("graft.")), s"graft optimizer rules: ${rules.filter(_.startsWith("graft."))}")
    assert(spark.sessionState.planner.strategies.contains(graft.plans.AsofJoinStrategy))
    val registry = spark.sessionState.functionRegistry
    for ((ident, _, _) <- GraftFunctions.all)
      assert(registry.functionExists(ident), s"${ident.funcName} is not registered")
  }
}
