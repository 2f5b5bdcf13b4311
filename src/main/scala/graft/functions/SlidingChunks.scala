package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Generator, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.ColumnShim
import org.apache.spark.sql.types.{ArrayType, IntegerType, StringType, StructField, StructType}

/** Table-generating expression (the UDTF surface): overlapping sliding
  * windows over a token array, one OUTPUT ROW per chunk —
  * `(chunk_idx, chunk)` with `chunk = tokens[idx·stride, idx·stride+width)`
  * and `1 + ceil(max(0, n − width) / stride)` chunks, the
  * [[graft.ops.Corpus.chunkDocumentsOf]] contract.
  *
  * Why a custom `Generator` and not `explode(sequence(...))` + `slice`:
  * the declarative form materializes an index ARRAY per document, explodes
  * it through a Generate of `sequence`, and then re-evaluates a `slice`
  * projection per emitted row — three expression trees and an intermediate
  * allocation per doc. The generator emits chunk rows straight off the
  * token array in one pass, the same Generate operator the built-in
  * explode plans into (ExtractGenerator handles it identically), with no
  * index array and no per-row re-slicing expression. `CodegenFallback` is
  * fine here: Generate's consume path is iterator-based either way, and
  * the surrounding stages still fuse.
  *
  * Null/empty contract (matches the declarative form): null token array →
  * zero rows (explode-of-null semantics); empty array → one row with an
  * empty chunk (chunk count formula floors at 1).
  */
case class SlidingChunks(child: Expression, width: Int, stride: Int)
  extends UnaryExpression with Generator with CodegenFallback {

  require(width > 0 && stride > 0, "width and stride must be positive")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"sliding_chunks requires array<string>, got ${other.catalogString}")
  }

  override def elementSchema: StructType = StructType(Seq(
    StructField("chunk_idx", IntegerType, nullable = false),
    StructField("chunk", ArrayType(StringType, containsNull = true), nullable = false)))

  override def prettyName: String = "sliding_chunks"

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val value = child.eval(input)
    if (value == null) Nil
    else {
      val data = value.asInstanceOf[ArrayData]
      val n = data.numElements()
      val extra = math.max(0, n - width)
      val nChunks = 1 + (extra + stride - 1) / stride
      (0 until nChunks).iterator.map { i =>
        val start = i * stride
        val len = math.max(0, math.min(width, n - start))
        val out = new Array[Any](len)
        var j = 0
        while (j < len) { out(j) = data.getUTF8String(start + j); j += 1 }
        new GenericInternalRow(Array[Any](i, new GenericArrayData(out)))
      }
    }
  }

  override protected def withNewChildInternal(newChild: Expression): SlidingChunks =
    copy(child = newChild)
}

object SlidingChunks {
  def apply(tokens: Column, width: Int, stride: Int): Column =
    ColumnShim.column(SlidingChunks(ColumnShim.expression(tokens), width, stride))
}
