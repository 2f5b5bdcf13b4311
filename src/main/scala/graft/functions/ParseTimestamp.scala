package graft.functions

import java.text.ParseException
import java.time.{DateTimeException, ZoneId}
import java.util.Locale
import java.util.regex.Pattern

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, TimeZoneAwareExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{CollationSupport, LegacyDateFormats, TimestampFormatter}
import org.apache.spark.sql.graft.ColumnShim
import org.apache.spark.sql.types.{DataType, StringType, TimestampType}
import org.apache.spark.unsafe.types.UTF8String

/** Messy date string → `TimestampType` (null when unparseable), as ONE
  * generated call into a [[TimestampParser]].
  *
  * The same steps as a column chain of `trim`, `lower(..).isin`, two
  * `regexp_replace`s and a `coalesce` of literal-guarded `try_to_timestamp`
  * patterns, with the same result. Why one call: whole-stage codegen
  * inlines such a chain into its stage's one method, and with 8 patterns
  * that method reached 21,811 bytes of bytecode in the article pipeline's
  * clean and date stage, 19,762 in the report's date-range aggregate and
  * 19,585 in `parse_dates`' projection. HotSpot never JIT-compiles a method
  * over 8,000 bytes (`HugeMethodLimit`), so those stages ran in the
  * bytecode interpreter for the JVM's whole life. As one call, the three
  * stages' largest methods are 2,673, 4,878 and 466 bytes, and the parser
  * itself is ordinary compiled code.
  *
  * Time-zone aware like `try_to_timestamp`: the analyzer binds the session
  * zone, and each pattern's formatter is built for it.
  */
case class ParseTimestamp(child: Expression, patterns: Seq[String], timeZoneId: Option[String] = None)
  extends UnaryExpression with TimeZoneAwareExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"parse_timestamp requires a string argument, got ${child.dataType.catalogString}")

  override def dataType: DataType = TimestampType
  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "parse_timestamp"

  override def withTimeZone(timeZoneId: String): TimeZoneAwareExpression =
    copy(timeZoneId = Option(timeZoneId))

  @transient private lazy val parser = new TimestampParser(patterns, zoneId)

  override def nullSafeEval(input: Any): Any = parser.parse(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val p = ctx.addReferenceObj("timestampParser", parser)
    val micros = ctx.freshName("micros")
    nullSafeCodeGen(ctx, ev, c =>
      s"""java.lang.Long $micros = $p.parse($c);
         |if ($micros == null) { ${ev.isNull} = true; } else { ${ev.value} = $micros; }""".stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): ParseTimestamp =
    copy(child = newChild)
}

object ParseTimestamp {

  /** Column-level entry point: the string form of `c`, parsed by `patterns`. */
  def apply(c: Column, patterns: Seq[String]): Column =
    ColumnShim.column(ParseTimestamp(ColumnShim.expression(c.cast("string")), patterns))
}

/** The parse behind [[ParseTimestamp]], for interpreted and generated code
  * alike. Serializable: generated code reaches it through the plan's
  * reference array. In order:
  *  1. Spark's `trim` (ASCII space only); a blank or `none`/`null`/`nan`
  *     string (any case) is null;
  *  2. dateutil quirks the reference corpus exercises (SURVEY.md §2.3):
  *     ordinal suffixes ("July 1st") are dropped and "Sept" becomes "Sep";
  *  3. each pattern in order, where its literal text occurs in the input:
  *     a failed parse raises and catches an exception, and a formatter
  *     cannot match input that lacks its literals, so the guard changes no
  *     result. Letter literals (`'T'`, `'Z'`) are looked up in the
  *     upper-cased input, since Spark's formatters parse case-insensitively.
  *
  * Each pattern's formatter is built the way `try_to_timestamp` builds it,
  * and a failure is exactly what `ToTimestamp` turns into null:
  * `DateTimeException` (with its subclass `DateTimeParseException`) or
  * `ParseException`.
  */
final class TimestampParser(patterns: Seq[String], zoneId: ZoneId) extends Serializable {
  import TimestampParser._

  private val formatters: Array[TimestampFormatter] = patterns.map(p =>
    TimestampFormatter(p, zoneId, LegacyDateFormats.SIMPLE_DATE_FORMAT, isParsing = true,
      forTimestampNTZ = false)).toArray
  private val (symbols, letters) = patterns.map { p =>
    val (l, s) = literals(p).partition(_.exists(_.isLetter))
    (s.toArray, l.map(_.toUpperCase(Locale.ROOT)).toArray)
  }.toArray.unzip

  /** Epoch microseconds, or null. */
  def parse(s: UTF8String): java.lang.Long = {
    val trimmed = CollationSupport.StringTrim.execBinary(s)
    if (Sentinels.contains(CollationSupport.Lower.execBinaryICU(trimmed).toString)) return null
    val pre = SeptAbbrev.matcher(Ordinal.matcher(trimmed.toString).replaceAll("")).replaceAll("Sep")
    lazy val upper = CollationSupport.Upper.execBinaryICU(UTF8String.fromString(pre)).toString
    var i = 0
    while (i < formatters.length) {
      if (symbols(i).forall(pre.contains) && letters(i).forall(upper.contains)) {
        try return Long.box(formatters(i).parse(pre))
        catch { case _: DateTimeException | _: ParseException => }
      }
      i += 1
    }
    null
  }
}

object TimestampParser {

  private val Sentinels = Set("", "none", "null", "nan")
  private val Ordinal = Pattern.compile("(?<=\\d)(st|nd|rd|th)\\b")
  private val SeptAbbrev = Pattern.compile("^Sept(?=[ .])")

  /** The literal text of a datetime pattern: quoted runs and the runs of
    * non-letters between pattern letters (`-`, `:`, `", "`, `/`, ...).
    */
  private def literals(pattern: String): Seq[String] =
    "'([^']*)'|([^A-Za-z']+)".r.findAllMatchIn(pattern)
      .map(m => Option(m.group(1)).getOrElse(m.group(2)))
      .filter(_.nonEmpty).toSeq.distinct
}
