package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import org.apache.spark.sql.catalyst.expressions.{Literal, Lower}
import org.apache.spark.sql.types.IntegerType

import graft.functions.{CosineSimilarity, DotProduct, HilbertIndex, HtmlUnescape, MinHashBands, SimHash64, SlidingChunks, TopKByScore, Winnow, WordNGrams}

/** SQL surface for the engine's custom Catalyst expressions, so
  * `spark.sql("SELECT html_unescape(title) ...")` works alongside the
  * Column API. Installed as the standard SparkSessionExtensions plugin:
  * `spark.sql.extensions=graft.GraftExtensions` (or
  * `builder.withExtensions(new GraftExtensions)`), applied at session
  * build.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.all.foreach { case (ident, info, builder) =>
      ext.injectFunction((ident, info, builder))
    }
    // whole-operator extension: the native as-of merge join (custom
    // LogicalPlan + SparkStrategy + SparkPlan). For a live session use
    // `GraftPlanBridge.addStrategy` (the Column API does it implicitly).
    ext.injectPlannerStrategy(_ => graft.plans.AsofJoinStrategy)
  }
}

object GraftFunctions {

  type Builder = Seq[Expression] => Expression

  /** (identifier, catalog info, builder) per custom function. */
  val all: Seq[(FunctionIdentifier, ExpressionInfo, Builder)] = Seq(
    (FunctionIdentifier("html_unescape"),
      new ExpressionInfo(classOf[HtmlUnescape].getName, "html_unescape"),
      (children: Seq[Expression]) => HtmlUnescape(children.head)),
    (FunctionIdentifier("cosine_similarity"),
      new ExpressionInfo(classOf[CosineSimilarity].getName, "cosine_similarity"),
      (children: Seq[Expression]) => CosineSimilarity(children(0), children(1))),
    (FunctionIdentifier("dot_product"),
      new ExpressionInfo(classOf[DotProduct].getName, "dot_product"),
      (children: Seq[Expression]) => DotProduct(children(0), children(1))),
    (FunctionIdentifier("word_ngrams"),
      new ExpressionInfo(classOf[WordNGrams].getName, "word_ngrams"),
      (children: Seq[Expression]) => children match {
        // Lower composed here (not inside the expression) so case folding
        // always comes from Spark's own ICU-backed Lower.
        case Seq(text) => WordNGrams(Lower(text), 3)
        case Seq(text, Literal(n: Int, IntegerType)) => WordNGrams(Lower(text), n)
        case _ => throw new IllegalArgumentException(
          "word_ngrams(text[, n]) requires a string and an optional integer literal")
      }),
    (FunctionIdentifier("minhash_bands"),
      new ExpressionInfo(classOf[MinHashBands].getName, "minhash_bands"),
      (children: Seq[Expression]) => children match {
        // defaults = the canonical LSH parameters the DataFrame path uses
        case Seq(arr) => MinHashBands(arr, graft.ops.Dedup.MinhashK, graft.ops.Dedup.Bands)
        case Seq(arr, Literal(k: Int, IntegerType), Literal(b: Int, IntegerType)) =>
          MinHashBands(arr, k, b)
        case _ => throw new IllegalArgumentException(
          "minhash_bands(shingles[, k, bands]) requires an array and optional integer literals")
      }),
    (FunctionIdentifier("hilbert_index"),
      new ExpressionInfo(classOf[HilbertIndex].getName, "hilbert_index"),
      (children: Seq[Expression]) => HilbertIndex(children(0), children(1))),
    (FunctionIdentifier("simhash64"),
      new ExpressionInfo(classOf[SimHash64].getName, "simhash64"),
      (children: Seq[Expression]) => children match {
        case Seq(arr) => SimHash64(arr)
        case _ => throw new IllegalArgumentException(
          "simhash64(tokens) requires exactly one array argument")
      }),
    (FunctionIdentifier("winnow"),
      new ExpressionInfo(classOf[Winnow].getName, "winnow"),
      (children: Seq[Expression]) => children match {
        case Seq(text) => Winnow(text, 8, 16)
        case Seq(text, Literal(k: Int, IntegerType), Literal(w: Int, IntegerType)) =>
          Winnow(text, k, w)
        case _ => throw new IllegalArgumentException(
          "winnow(text[, k, w]) requires a string and optional integer literals")
      }),
    // generator (table-valued): SELECT doc_id, sc.* FROM t LATERAL VIEW
    // sliding_chunks(tokens, 32, 24) sc — or directly in the SELECT list
    (FunctionIdentifier("sliding_chunks"),
      new ExpressionInfo(classOf[SlidingChunks].getName, "sliding_chunks"),
      (children: Seq[Expression]) => children match {
        case Seq(arr, Literal(w: Int, IntegerType), Literal(s: Int, IntegerType)) =>
          SlidingChunks(arr, w, s)
        case _ => throw new IllegalArgumentException(
          "sliding_chunks(tokens, width, stride) requires an array and two integer literals")
      }),
    // aggregate: SELECT g, top_k_by_score(score, tok, tf, df, 3) ... GROUP BY g
    (FunctionIdentifier("top_k_by_score"),
      new ExpressionInfo(classOf[TopKByScore].getName, "top_k_by_score"),
      (children: Seq[Expression]) => children match {
        case Seq(score, tok, tf, df, Literal(k: Int, IntegerType)) =>
          TopKByScore(score, tok, tf, df, k)
        case _ => throw new IllegalArgumentException(
          "top_k_by_score(score, token, tf, df, k) requires four columns and an integer literal")
      }))
}
