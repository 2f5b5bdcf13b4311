package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.graft.ColumnShim
import org.apache.spark.sql.types.{BooleanType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** A one-argument expression over a string. */
sealed abstract class StringKernel extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string argument, got ${child.dataType.catalogString}")
}

/** Blank test: null, empty, or only whitespace. Never null. The
  * reference's missing-value predicate (O4, cleaner.py:73-82 and
  * validator.py:26-35): Python-`strip` whitespace, so a tab-only field is
  * blank, where Spark's `trim` strips only U+0020.
  *
  * Equal to `c.isNull || c.rlike("(?U)^\\s*$")`, as one generated call: the
  * regex form runs `Matcher.find` from every offset of a non-blank string.
  */
case class IsBlank(child: Expression) extends StringKernel {
  override def dataType: DataType = BooleanType
  override def nullable: Boolean = false
  override def prettyName: String = "is_blank"

  override def eval(input: InternalRow): Any = {
    val s = child.eval(input)
    s == null || Whitespace.isBlank(s.asInstanceOf[UTF8String])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(code = code"""${c.code}
      |boolean ${ev.value} = ${c.isNull} || graft.functions.Whitespace.isBlank(${c.value});""".stripMargin,
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): IsBlank = copy(child = newChild)
}

object IsBlank {
  /** Column-level entry point, over the string form of `c`. */
  def apply(c: Column): Column = ColumnShim.column(IsBlank(ColumnShim.expression(c.cast("string"))))
}

/** Python `str.strip()`: whitespace removed from both ends, where Spark's
  * `trim` removes only U+0020.
  *
  * Equal to `regexp_replace(c, "(?U)^\\s+|(?U)\\s+$", "")`, as one
  * generated call.
  */
case class StripWhitespace(child: Expression) extends StringKernel {
  override def dataType: DataType = StringType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "strip_whitespace"

  override def nullSafeEval(input: Any): Any = Whitespace.strip(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Whitespace.strip($c)")

  override protected def withNewChildInternal(newChild: Expression): StripWhitespace =
    copy(child = newChild)
}

object StripWhitespace {
  /** Column-level entry point, over the string form of `c`. */
  def apply(c: Column): Column = ColumnShim.column(StripWhitespace(ColumnShim.expression(c.cast("string"))))
}

/** Python `" ".join(s.split())`: every whitespace run becomes one ASCII
  * space, and none is left at either end.
  *
  * Equal to `trim(regexp_replace(c, "(?U)\\s+", " "))`, as one generated
  * call.
  */
case class CollapseWhitespace(child: Expression) extends StringKernel {
  override def dataType: DataType = StringType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "collapse_whitespace"

  override def nullSafeEval(input: Any): Any = Whitespace.collapse(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Whitespace.collapse($c)")

  override protected def withNewChildInternal(newChild: Expression): CollapseWhitespace =
    copy(child = newChild)
}

object CollapseWhitespace {
  /** Column-level entry point, over the string form of `c`. */
  def apply(c: Column): Column = ColumnShim.column(CollapseWhitespace(ColumnShim.expression(c.cast("string"))))
}

/** The kernels behind [[IsBlank]], [[StripWhitespace]] and
  * [[CollapseWhitespace]], called from interpreted and generated code alike.
  *
  * Whitespace is Java's `(?U)\s`, the `White_Space` property as
  * `java.util.regex` defines it: U+0009–U+000D, U+0085, and the space, line
  * and paragraph separators (Zs, Zl, Zp). Python's `str.split()` and
  * `str.strip()` agree on every code point except U+001C–U+001F, which
  * Python counts and `(?U)\s` does not.
  *
  * An all-ASCII string is scanned as bytes, and a string that needs no
  * change is returned as it is. Any other string is decoded to a Java
  * string first, as the regex forms decode it, so an invalid UTF-8 byte
  * comes out as U+FFFD exactly as it did there.
  */
object Whitespace {

  private val Separators =
    (1 << Character.SPACE_SEPARATOR) | (1 << Character.LINE_SEPARATOR) | (1 << Character.PARAGRAPH_SEPARATOR)

  /** Java's `(?U)\s` predicate. */
  def isWhitespace(cp: Int): Boolean =
    (cp >= 0x9 && cp <= 0xd) || cp == 0x85 || ((Separators >> Character.getType(cp)) & 1) != 0

  /** The predicate on an ASCII byte: tab to carriage return, and space. */
  private def asciiSpace(b: Byte): Boolean = b == ' ' || (b >= 0x9 && b <= 0xd)

  def isBlank(s: UTF8String): Boolean = {
    val n = s.numBytes
    var i = 0
    while (i < n) {
      val b = s.getByte(i)
      if (b < 0) return isBlank(s.toString)
      if (!asciiSpace(b)) return false
      i += 1
    }
    true
  }

  private def isBlank(s: String): Boolean = {
    var i = 0
    while (i < s.length) {
      if (!isWhitespace(s.charAt(i))) return false
      i += 1
    }
    true
  }

  def strip(s: UTF8String): UTF8String = {
    val n = s.numBytes
    var first = -1
    var last = -1
    var i = 0
    while (i < n) {
      val b = s.getByte(i)
      if (b < 0) return UTF8String.fromString(strip(s.toString))
      if (!asciiSpace(b)) {
        if (first < 0) first = i
        last = i
      }
      i += 1
    }
    if (first < 0) UTF8String.EMPTY_UTF8
    else if (first == 0 && last == n - 1) s
    else s.substring(first, last + 1)
  }

  private def strip(s: String): String = {
    var from = 0
    var until = s.length
    while (from < until && isWhitespace(s.charAt(from))) from += 1
    while (until > from && isWhitespace(s.charAt(until - 1))) until -= 1
    s.substring(from, until)
  }

  def collapse(s: UTF8String): UTF8String = {
    val n = s.numBytes
    // canonical: every whitespace byte is a lone space between non-whitespace bytes
    var canonical = true
    var afterSpace = true
    var i = 0
    while (i < n) {
      val b = s.getByte(i)
      if (b < 0) return UTF8String.fromString(collapse(s.toString))
      if (asciiSpace(b)) {
        if (afterSpace || b != ' ') canonical = false
        afterSpace = true
      } else afterSpace = false
      i += 1
    }
    if (canonical && !(afterSpace && n > 0)) return s
    val out = new Array[Byte](n)
    var k = 0
    var pending = false
    i = 0
    while (i < n) {
      val b = s.getByte(i)
      if (asciiSpace(b)) pending = k > 0
      else {
        if (pending) { out(k) = ' '; k += 1; pending = false }
        out(k) = b
        k += 1
      }
      i += 1
    }
    UTF8String.fromBytes(out, 0, k)
  }

  private def collapse(s: String): String = {
    val out = new java.lang.StringBuilder(s.length)
    var pending = false
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (isWhitespace(c)) pending = out.length > 0
      else {
        if (pending) { out.append(' '); pending = false }
        out.append(c)
      }
      i += 1
    }
    out.toString
  }
}
