package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.graft.ColumnShim
import org.apache.spark.sql.types.{DataType, LongType}

/** Hilbert-curve index of a 2-D grid cell — the locality-tightest
  * space-filling curve, as a codegen'd Catalyst expression next to the
  * Morton interleave (`graft.ops.StorageLayout.mortonKey`).
  *
  * Z-order's weakness is its seams: consecutive Morton codes jump across
  * half the grid every time a high bit flips, so a chunk of contiguous
  * z-values can own two DISJOINT spatial boxes and its parquet footer
  * min/max spans dead space. The Hilbert curve visits every cell of the
  * 2ⁿ×2ⁿ grid with each step moving ONE cell (curve distance ≥ grid
  * distance — no seams at any scale), so equal-width index ranges form
  * tighter bounding boxes and data skipping discards more files for the
  * same box predicate ([[graft.ops.StorageLayout.hilbertChunks]]'s
  * locality-contrast spec measures exactly this against Morton).
  *
  * Algorithm: the classic xy2d bit-level walk (Hamilton's compact form;
  * public-domain formulation from Warren, "Hacker's Delight" §16 /
  * Wikipedia "Hilbert curve"): per level s = 2ⁿ⁻¹ … 1, accumulate the
  * quadrant's contribution s²·((3·rx) XOR ry) and rotate/reflect the
  * remaining coordinates into the quadrant's frame. Pure integer
  * arithmetic — exactly re-derivable as an unrolled per-level CTE chain
  * in DuckDB for the oracle.
  *
  * Inputs must already be clamped to [0, 2ⁿ): like mortonKey, the caller
  * owns bucketing (pmod/clamp), the expression owns only the curve.
  */
case class HilbertIndex(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (LongType, LongType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"hilbert_index requires two bigint arguments, got " +
          s"${l.catalogString} and ${r.catalogString}")
    }

  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "hilbert_index"

  override def nullSafeEval(a: Any, b: Any): Any =
    HilbertIndex.compute(a.asInstanceOf[Long], b.asInstanceOf[Long])

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    defineCodeGen(ctx, ev, (x, y) => s"graft.functions.HilbertIndex.compute($x, $y)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): HilbertIndex =
    copy(left = newLeft, right = newRight)
}

object HilbertIndex {

  /** Bits per dimension — matches [[graft.ops.StorageLayout.ZBits]] so the
    * Hilbert and Morton chunk manifests are directly comparable. */
  val Bits = 10

  /** Static hook shared by interpreted eval and generated code.
    * Reflection uses the FULL grid width N (the canonical xy2d form):
    * N−1−x keeps coordinates in [0, N) at every level, and bits below
    * the current level — the only ones later iterations read — equal the
    * sub-quadrant reflection's. */
  def compute(ux: Long, vy: Long): Long = {
    val n = 1L << Bits
    var x = ux
    var y = vy
    var d = 0L
    var s = n >> 1
    while (s > 0) {
      val rx = if ((x & s) > 0) 1L else 0L
      val ry = if ((y & s) > 0) 1L else 0L
      d += s * s * ((3 * rx) ^ ry)
      // rotate the sub-quadrant so the walk continues seamlessly
      if (ry == 0) {
        if (rx == 1) {
          x = n - 1 - x
          y = n - 1 - y
        }
        val t = x; x = y; y = t
      }
      s >>= 1
    }
    d
  }

  def apply(x: Column, y: Column): Column =
    ColumnShim.column(HilbertIndex(ColumnShim.expression(x), ColumnShim.expression(y)))
}
