package graft.functions

import java.time.{Instant, LocalDate, ZoneId}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Cast, EvalMode, Expression, TimeZoneAwareExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{Iso8601TimestampFormatter, LegacyDateFormats, TimestampFormatter}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** One whole dump line from all of a row's columns, in the
  * reference's `_supaFilta` dialect (PsqlParser.py:375-384): cells joined by
  * commas, `NULL` for nulls, `true`/`false` booleans, strings always
  * single-quoted with `'` doubled, timestamps as
  * `yyyy-MM-dd HH:mm:ss` in the session zone, floats widened to
  * double and rendered as Python `str(float)` ([[PyFloat]]), and every
  * other scalar as Spark's own cast to string.
  *
  * The per-cell Column form of the same rendering (a `when` /
  * `regexp_replace` / `date_format` / `cast` tree per cell, joined by
  * `concat_ws`) spends more time building strings than the text sink
  * spends writing them. Here each cell is appended into one reused
  * byte buffer ([[PgLineBuffer]], codegen mutable state): strings are
  * quoted by a byte scan (a `'` byte never occurs inside a multi-byte
  * UTF-8 sequence), timestamps in years 1000-9999 are formatted from
  * their fields, and compact decimals from their unscaled long. The
  * line is copied out once per row.
  *
  * `rendered(i)` marks a child that is already its cell text — a
  * `Cast(_, StringType)` built by [[PgCopyLine.of]] — appended as is;
  * every other string child is quoted. The flag is explicit because
  * the optimizer may fold such a cast into a string literal.
  */
case class PgCopyLine(children: Seq[Expression], rendered: Seq[Boolean],
    timeZoneId: Option[String] = None)
    extends Expression with TimeZoneAwareExpression {

  import PgCopyLine._

  override def nullable: Boolean = false

  override def dataType: DataType = StringType

  override def prettyName: String = "graft_pg_copy_line"

  @transient private lazy val kinds: Array[Int] =
    children.zip(rendered).map { case (c, r) => kindOf(c.dataType, r) }.toArray

  override def checkInputDataTypes(): TypeCheckResult =
    children.zip(rendered).collectFirst {
      case (c, r) if kindOf(c.dataType, r) < 0 =>
        TypeCheckResult.TypeCheckFailure(
          s"graft_pg_copy_line has no cell rendering for ${c.dataType.simpleString}")
    }.getOrElse(TypeCheckResult.TypeCheckSuccess)

  override def withTimeZone(timeZoneId: String): PgCopyLine =
    copy(timeZoneId = Option(timeZoneId))

  @transient private lazy val childArray: Array[Expression] = children.toArray

  // the interpreted path runs on whichever thread evaluates it
  @transient private lazy val evalBuffers: ThreadLocal[PgLineBuffer] =
    ThreadLocal.withInitial(() => new PgLineBuffer(zoneId))

  override def eval(input: InternalRow): Any = {
    val buf = evalBuffers.get
    buf.reset()
    var i = 0
    while (i < childArray.length) {
      if (i > 0) buf.appendComma()
      val v = childArray(i).eval(input)
      if (v == null) buf.appendNull()
      else kinds(i) match {
        case Text => buf.appendText(v.asInstanceOf[UTF8String])
        case Quoted => buf.appendQuoted(v.asInstanceOf[UTF8String])
        case Bool => buf.appendBoolean(v.asInstanceOf[Boolean])
        case Timestamp => buf.appendTimestamp(v.asInstanceOf[Long])
        case Float4 => buf.appendDouble(v.asInstanceOf[Float].toDouble)
        case Float8 => buf.appendDouble(v.asInstanceOf[Double])
        case CompactDecimal => buf.appendDecimal(v.asInstanceOf[Decimal])
      }
      i += 1
    }
    buf.result()
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val zone = ctx.addReferenceObj("zoneId", zoneId, classOf[ZoneId].getName)
    val bufClass = classOf[PgLineBuffer].getName
    val buf = ctx.addMutableState(bufClass, "pgLine",
      v => s"$v = new $bufClass($zone);", forceInline = true)
    val appends = childArray.indices.map { i =>
      val c = childArray(i).genCode(ctx)
      val v = c.value
      val append = kinds(i) match {
        case Text => s"appendText($v)"
        case Quoted => s"appendQuoted($v)"
        case Bool => s"appendBoolean($v)"
        case Timestamp => s"appendTimestamp($v)"
        case Float4 => s"appendDouble((double) $v)"
        case Float8 => s"appendDouble($v)"
        case CompactDecimal => s"appendDecimal($v)"
      }
      s"""${c.code}
         |${if (i > 0) s"$buf.appendComma();" else ""}
         |if (${c.isNull}) { $buf.appendNull(); } else { $buf.$append; }
         |""".stripMargin
    }
    // wide tables: one method per group of cells, under the JVM's
    // 64 KB method limit (inline under whole-stage codegen, which
    // falls back to this split projection past its own limit)
    val body = ctx.splitExpressionsWithCurrentInputs(appends, funcName = "pgCopyLine")
    ev.copy(code = code"""
      |$buf.reset();
      |$body
      |${CodeGenerator.javaType(dataType)} ${ev.value} = $buf.result();
      |""".stripMargin, isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): PgCopyLine = copy(children = newChildren)
}

object PgCopyLine {
  // how a child's value is appended
  private final val Text = 0
  private final val Quoted = 1
  private final val Bool = 2
  private final val Timestamp = 3
  private final val Float4 = 4
  private final val Float8 = 5
  private final val CompactDecimal = 6

  private def kindOf(dt: DataType, rendered: Boolean): Int = dt match {
    case _: StringType => if (rendered) Text else Quoted
    case BooleanType => Bool
    case TimestampType => Timestamp
    case FloatType => Float4
    case DoubleType => Float8
    case d: DecimalType if compact(d) => CompactDecimal
    case _ => -1
  }

  private def compact(d: DecimalType): Boolean =
    d.precision <= Decimal.MAX_LONG_DIGITS && d.scale >= 0

  /** The line of `columns`, each a scalar. A type with no rendering of
    * its own becomes a `Cast(_, StringType)` child, so its text is
    * exactly Spark's cast; a compact decimal keeps its own rendering
    * only where that cast writes plain (non-scientific) notation,
    * which the fast path reproduces. Array, map, struct and binary
    * columns have no dump shape and fail analysis. */
  def of(columns: Seq[Expression], timeZoneId: Option[String] = None): PgCopyLine = {
    val (children, rendered) = columns.map { c =>
      val own = c.dataType match {
        // an ANSI cast writes decimals with toPlainString, a legacy
        // one with toString (scientific below 1e-6)
        case d: DecimalType =>
          compact(d) && Cast(c, StringType, timeZoneId).evalMode == EvalMode.ANSI
        case _: ArrayType | _: MapType | _: StructType | BinaryType => true
        case dt => kindOf(dt, rendered = false) >= 0
      }
      if (own) c -> false else Cast(c, StringType, timeZoneId) -> true
    }.unzip
    PgCopyLine(children, rendered, timeZoneId)
  }
}

/** The per-task line buffer behind [[PgCopyLine]]: `reset`, one
  * append per cell, then `result` copies the line out. */
final class PgLineBuffer(zoneId: ZoneId) {
  private[this] var buf = new Array[Byte](256)
  private[this] var len = 0

  private[this] val rules = zoneId.getRules
  private[this] val fixed = rules.isFixedOffset
  private[this] val fixedOffset =
    if (fixed) rules.getOffset(Instant.EPOCH).getTotalSeconds else 0

  // the formatter date_format(ts, pattern) builds; its output is the
  // contract, and it renders every year the fast path does not cover
  private[this] val formatter = TimestampFormatter(PgLineBuffer.tsPattern, zoneId,
    LegacyDateFormats.SIMPLE_DATE_FORMAT, isParsing = false, forTimestampNTZ = false)
  // a legacy (SimpleDateFormat, Julian before 1582) formatter keeps
  // every timestamp
  private[this] val fastTimestamps = formatter.isInstanceOf[Iso8601TimestampFormatter]

  private[this] def reserve(n: Int): Unit =
    if (len + n > buf.length)
      buf = java.util.Arrays.copyOf(buf, math.max(buf.length * 2, len + n))

  private[this] def put(b: Int): Unit = { buf(len) = b.toByte; len += 1 }

  private[this] def appendChar(c: Char): Unit = { reserve(1); put(c) }

  private[this] def appendAscii(s: String): Unit = {
    reserve(s.length)
    var i = 0
    while (i < s.length) { put(s.charAt(i)); i += 1 }
  }

  /** `v` in decimal, zero-padded to `width` digits. */
  private[this] def appendDigits(v: Long, width: Int): Unit = {
    var n = 1
    var t = v / 10
    while (t != 0) { n += 1; t /= 10 }
    val w = math.max(n, width)
    reserve(w)
    var i = len + w - 1
    var r = v
    while (i >= len) { buf(i) = ('0' + r % 10).toByte; r /= 10; i -= 1 }
    len += w
  }

  def reset(): Unit = len = 0

  def appendComma(): Unit = appendChar(',')

  def appendNull(): Unit = appendAscii("NULL")

  def appendBoolean(v: Boolean): Unit = appendAscii(if (v) "true" else "false")

  def appendText(s: UTF8String): Unit = {
    reserve(s.numBytes)
    s.writeToMemory(buf, Platform.BYTE_ARRAY_OFFSET + len)
    len += s.numBytes
  }

  def appendQuoted(s: UTF8String): Unit = {
    val base = s.getBaseObject
    val off = s.getBaseOffset
    val n = s.numBytes
    reserve(2 * n + 2)
    put('\'')
    var i = 0
    while (i < n) {
      val b = Platform.getByte(base, off + i)
      if (b == '\'') put('\'')
      put(b)
      i += 1
    }
    put('\'')
  }

  def appendTimestamp(micros: Long): Unit = {
    val sec = Math.floorDiv(micros, 1000000L)
    val offset =
      if (fixed) fixedOffset
      else rules.getOffset(Instant.ofEpochSecond(sec)).getTotalSeconds
    val local = sec + offset
    val date = LocalDate.ofEpochDay(Math.floorDiv(local, 86400L))
    val year = date.getYear
    if (!fastTimestamps || year < 1000 || year > 9999)
      appendAscii(formatter.format(micros))
    else {
      val sod = Math.floorMod(local, 86400L)
      appendDigits(year, 4); appendChar('-')
      appendDigits(date.getMonthValue, 2); appendChar('-')
      appendDigits(date.getDayOfMonth, 2); appendChar(' ')
      appendDigits(sod / 3600, 2); appendChar(':')
      appendDigits(sod / 60 % 60, 2); appendChar(':')
      appendDigits(sod % 60, 2)
    }
  }

  def appendDouble(d: Double): Unit = appendAscii(PyFloat.repr(d))

  /** `Decimal.toPlainString` of a compact decimal (precision at most
    * 18, scale at least 0), from its unscaled long: `-0.05`, `0.00`,
    * `12`. */
  def appendDecimal(d: Decimal): Unit = {
    val scale = d.scale
    val u = d.toUnscaledLong
    if (u < 0) appendChar('-')
    val a = math.abs(u)
    if (scale == 0) appendDigits(a, 1)
    else {
      val pow = PgLineBuffer.pow10(scale)
      appendDigits(a / pow, 1)
      appendChar('.')
      appendDigits(a % pow, scale)
    }
  }

  def result(): UTF8String = UTF8String.fromBytes(java.util.Arrays.copyOf(buf, len))
}

object PgLineBuffer {
  private val tsPattern = "yyyy-MM-dd HH:mm:ss"

  private val pow10: Array[Long] = Array.iterate(1L, Decimal.MAX_LONG_DIGITS + 1)(_ * 10)
}
