package graft

import java.math.{BigDecimal => JBigDecimal}
import java.time.{Instant, LocalDate}

import org.apache.spark.sql.{Column, DataFrame, GraftSqlBridge, Row}
import org.apache.spark.sql.catalyst.expressions.{AttributeSeq, BindReferences, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{PgCopyLine, PyFloat}
import graft.rules.ValueRules
import graft.sources.PgCopyWriter

/** `PgCopyLine` against the per-cell Column renderer it replaced, byte
  * for byte, on the whole-stage codegen path, the split (non-whole-
  * stage) codegen projection and the interpreted path. */
class PgCopyLineSpec extends AnyFunSuite {
  import TestSpark._

  /** The per-cell reference: one Column per cell, joined by commas. */
  def referenceCell(name: String, dt: DataType): Column = dt match {
    case BooleanType => ValueRules.pgEscapeBoolean(col(name))
    case StringType => ValueRules.pgEscapeString(col(name))
    case TimestampType =>
      when(col(name).isNull, lit("NULL"))
        .otherwise(date_format(col(name), "yyyy-MM-dd HH:mm:ss"))
    case FloatType | DoubleType =>
      when(col(name).isNull, lit("NULL"))
        .otherwise(GraftSqlBridge.column(PyFloatRepr(
          GraftSqlBridge.expression(col(name).cast(DoubleType)))))
    case _ =>
      when(col(name).isNull, lit("NULL")).otherwise(col(name).cast(StringType))
  }

  def reference(df: DataFrame): Column =
    concat_ws(",", df.schema.fields.map(f => referenceCell(f.name, f.dataType)).toSeq: _*)

  def line(df: DataFrame): Column =
    GraftSqlBridge.column(PgCopyLine.of(df.queryExecution.analyzed.output))

  def withConf[T](kv: (String, String)*)(body: => T): T = {
    val before = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally before.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  val modes: Seq[(String, Seq[(String, String)])] = Seq(
    "whole-stage codegen" -> Seq("spark.sql.codegen.wholeStage" -> "true",
      "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY",
      "spark.sql.codegen.fallback" -> "false"),
    "split codegen projection" -> Seq("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY"),
    "interpreted" -> Seq("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN"))

  /** (reference, line) per row, both rendered by one projection. */
  def pairs(df: DataFrame): Seq[(String, String)] =
    df.select(reference(df).as("ref"), line(df).as("got")).collect().toSeq
      .map(r => r.getString(0) -> r.getString(1))

  def assertSameInEveryMode(df: DataFrame): Unit = modes.foreach { case (mode, conf) =>
    val got = withConf(conf: _*)(pairs(df))
    assert(got.size == df.count(), mode)
    got.foreach { case (ref, line) =>
      assert(java.util.Arrays.equals(line.getBytes("UTF-8"), ref.getBytes("UTF-8")),
        s"$mode:\n  got $line\n  ref $ref")
    }
  }

  /** Rows through an RDD, not a local relation: the optimizer folds a
    * projection over a local relation into its rows while planning,
    * interpreted, whatever the codegen settings. */
  def frame(schema: StructType, rows: Seq[Row]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)

  val scalars = StructType(Seq(
    StructField("b", BooleanType), StructField("s", StringType),
    StructField("ts", TimestampType), StructField("d", DoubleType),
    StructField("f", FloatType), StructField("i8", ByteType),
    StructField("i16", ShortType), StructField("i32", IntegerType),
    StructField("i64", LongType), StructField("dt", DateType),
    StructField("dec0", DecimalType(10, 0)), StructField("dec2", DecimalType(12, 2)),
    StructField("dec18", DecimalType(18, 18)), StructField("dec38", DecimalType(38, 10)),
    StructField("ntz", TimestampNTZType)))

  def ts(s: String): Instant = Instant.parse(s)
  def dec(s: String): JBigDecimal = new JBigDecimal(s)

  val scalarRows: Seq[Row] = Seq(
    Row(true, "o'brien", ts("2021-03-14T09:59:59Z"), 1e-7, 0.1f, 1.toByte,
      1.toShort, 1, 1L, LocalDate.of(1970, 1, 1), dec("0"), dec("-0.05"),
      dec("0.000000000000000001"), dec("1234567890123456789012345678.0123456789"),
      java.time.LocalDateTime.of(2020, 1, 2, 3, 4, 5, 6000)),
    Row(false, "''", ts("2021-03-14T10:00:00Z"), 1e16, -0.0f, Byte.MinValue,
      Short.MinValue, Int.MinValue, Long.MinValue, LocalDate.of(1, 1, 1),
      dec("-9999999999"), dec("-0.01"), dec("-0.999999999999999999"),
      dec("-0.0000000001"), java.time.LocalDateTime.of(1, 1, 1, 0, 0)),
    Row(null, null, null, null, null, null, null, null, null, null, null,
      null, null, null, null),
    Row(true, "NULL", ts("2021-11-07T08:59:59Z"), Double.NaN, Float.NaN,
      Byte.MaxValue, Short.MaxValue, Int.MaxValue, Long.MaxValue,
      LocalDate.of(9999, 12, 31), dec("9999999999"), dec("9999999999.99"),
      dec("0.5"), dec("-12345678901234567890123456.5"), null),
    Row(false, "héllo, wörld ✓ 日本 'q'", ts("2021-11-07T09:00:00Z"),
      Double.PositiveInfinity, Float.PositiveInfinity, 0.toByte, 0.toShort, 0,
      0L, LocalDate.of(2024, 2, 29), dec("12"), dec("0.00"), dec("0"), dec("0"), null),
    Row(true, "line1\nline2,with,commas", ts("0999-06-15T12:34:56.789Z"),
      Double.NegativeInfinity, Float.NegativeInfinity, (-1).toByte, (-1).toShort,
      -1, -1L, LocalDate.of(1582, 10, 15), dec("-1"), dec("-1234567890.12"),
      dec("0.000001"), dec("0.0000000001"), null),
    Row(false, "", ts("+10000-01-01T00:00:00Z"), -0.0, 1e10f, null, null,
      null, null, null, null, dec("100"), null, null, null),
    Row(true, "'", ts("1969-12-31T23:59:59.500001Z"), Double.MinPositiveValue,
      Float.MinPositiveValue, null, null, null, null, null, null, null, null,
      null, null),
    Row(true, "x", ts("0001-01-01T00:00:00Z"), java.lang.Double.MIN_NORMAL / 3,
      3.4e38f, null, null, null, null, null, null, null, null, null, null),
    Row(true, "x", ts("1000-01-01T00:00:00Z"), 123.456, 2.5f, null, null,
      null, null, null, null, null, null, null, null),
    Row(true, "x", ts("9999-12-31T23:59:59.999999Z"), -2.5e-10, -1.5f, null,
      null, null, null, null, null, null, null, null, null))

  test("PgCopyLine renders every scalar type as the per-cell reference, in every mode") {
    val df = frame(scalars, scalarRows)
    assertSameInEveryMode(df)
    // and a few cells spelled out, so the reference itself is pinned
    val got = df.select(line(df)).collect().map(_.getString(0))
    assert(got(0).startsWith("true,'o''brien',2021-03-14 09:59:59,1e-07,0.10000000149011612,"))
    assert(got(1).startsWith("false,'''''',"))
    assert(got(2) == Seq.fill(15)("NULL").mkString(","))
    assert(got(3).startsWith("true,'NULL',"))
    assert(got(1).contains(",-0.01,"))
    assert(got(5).contains(",0999-06-15 12:34:56,"))
    assert(got(6).contains(",+10000-01-01 00:00:00,"))
  }

  test("PgCopyLine follows a non-UTC session zone across both DST switches") {
    withConf("spark.sql.session.timeZone" -> "America/Los_Angeles") {
      val df = frame(scalars, scalarRows)
      assertSameInEveryMode(df)
      val stamps = df.select("ts")
      val got = stamps.select(line(stamps)).collect().map(_.getString(0))
      // spring forward skips 02:00-03:00 local, fall back repeats 01:00
      assert(got.take(5).toSeq == Seq("2021-03-14 01:59:59", "2021-03-14 03:00:00",
        "NULL", "2021-11-07 01:59:59", "2021-11-07 01:00:00"))
    }
  }

  test("PgCopyLine keeps the legacy formatter's calendar under the LEGACY parser policy") {
    // SimpleDateFormat renders years before 1582 in the Julian calendar
    withConf("spark.sql.legacy.timeParserPolicy" -> "LEGACY") {
      assertSameInEveryMode(frame(scalars, scalarRows))
    }
  }

  test("PgCopyLine writes decimals as Spark's non-ANSI cast does (toString)") {
    // 1E-18 and 1E-10 in scientific notation, where ANSI writes plain
    withConf("spark.sql.ansi.enabled" -> "false") {
      assertSameInEveryMode(frame(scalars, scalarRows))
    }
  }

  test("PgCopyLine splits a 300-column line into methods and matches the reference") {
    val cols = (0 until 300).map { i =>
      val v = col("id") * (i + 1)
      val typed = i % 5 match {
        case 0 => v
        case 1 => concat(lit(s"c$i'"), v.cast(StringType))
        case 2 => v.cast(DoubleType) / 7
        case 3 => (v.cast(DecimalType(12, 2)) / 3).cast(DecimalType(12, 2))
        case _ => timestamp_seconds(v * 86400)
      }
      when(col("id") % 7 === i % 7, lit(null)).otherwise(typed).as(s"c$i")
    }
    val df = spark.range(0, 40, 1, 2).select(cols: _*)
    assertSameInEveryMode(df)
    // the projection's own code puts the cells into split methods
    val attrs = df.queryExecution.analyzed.output
    val bound = BindReferences.bindReference(PgCopyLine.of(attrs, Some("UTC")),
      AttributeSeq(attrs))
    val ctx = new CodegenContext
    bound.genCode(ctx)
    assert(ctx.declareAddedFunctions().contains("pgCopyLine_"))
  }

  test("PgCopyWriter writes the reference's bytes") {
    val df = frame(scalars, scalarRows)
    val refDir = tempDir("pgline_ref").toString
    val gotDir = tempDir("pgline_got").toString
    df.select(reference(df)).write.mode("overwrite").text(refDir)
    PgCopyWriter.write(df, gotDir)
    def bytes(dir: String): Seq[Byte] =
      new java.io.File(dir).listFiles().filter(_.getName.startsWith("part-"))
        .sortBy(_.getName).toSeq
        .flatMap(f => java.nio.file.Files.readAllBytes(f.toPath).toSeq)
    assert(bytes(gotDir).nonEmpty && bytes(gotDir) == bytes(refDir))
  }
}

/** The reference's float cell: [[PyFloat.repr]] of a double child. */
case class PyFloatRepr(child: Expression) extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = StringType

  override def nullSafeEval(v: Any): Any =
    UTF8String.fromString(PyFloat.repr(v.asInstanceOf[Double]))

  override protected def withNewChildInternal(newChild: Expression): PyFloatRepr =
    copy(child = newChild)
}
