package graft.schema

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types._

/** Schema model mirroring the reference's introspected JSON schema
  * (/root/reference/libs/MysqlParser.py:139-258: tables from
  * information_schema.tables, columns from information_schema.columns,
  * secondary indexes from information_schema.statistics).
  *
  * `dataType` holds the engine-neutral type name ("int", "bigint",
  * "varchar", "datetime", ...); `fullType` the full declaration
  * ("tinyint(1)") used by conditional type rules.
  */
case class ColumnDef(
    name: String,
    dataType: String,
    nullable: Boolean = true,
    size: Option[String] = None,
    default: Option[String] = None,
    extra: String = "",
    isPk: Boolean = false,
    fullType: String = "",
    reference: Option[Reference] = None,
    skip: Boolean = false,
    // per-column FK ON DELETE override (the reference honors
    // col_attrs['on_delete'] over the RESTRICT default,
    // PsqlParser.py:391-400)
    onDelete: Option[String] = None)

/** FK target, the reference's `reference_table_name(referenced_column)`
  * string (MysqlParser.py:186-188) parsed into parts. */
case class Reference(table: String, column: String) {
  def render: String = s"$table ($column)"
}

case class IndexDef(name: String, columns: Seq[String])

case class TableDef(
    name: String,
    columns: Seq[ColumnDef],
    indexes: Seq[IndexDef] = Nil,
    engine: String = "INNODB",
    collation: String = "utf8_general_ci",
    autoIncrement: Option[Long] = None) {
  def column(n: String): ColumnDef =
    columns.find(_.name == n).getOrElse(
      throw new NoSuchElementException(s"$name has no column $n"))
  def liveColumns: Seq[ColumnDef] = columns.filterNot(_.skip)
  def pkColumns: Seq[ColumnDef] = columns.filter(_.isPk)
}

/** Spark StructType <-> TableDef bridge: the Spark-native analogue of
  * information_schema introspection. A parquet/JDBC DataFrame's schema
  * becomes a TableDef the rule engine and SQL generator can consume.
  */
object Introspect {

  /** Spark type -> neutral (mysql-flavoured) type name, the vocabulary
    * the reference's rule files speak (rules/mysql_to_psql.json). */
  def neutralType(dt: DataType): String = dt match {
    case ByteType => "tinyint"
    case ShortType => "smallint"
    case IntegerType => "int"
    case LongType => "bigint"
    case FloatType => "float"
    case DoubleType => "double"
    case _: DecimalType => "decimal"
    case StringType => "varchar"
    case BinaryType => "blob"
    case BooleanType => "boolean"
    case DateType => "date"
    case TimestampType => "datetime"
    case TimestampNTZType => "datetime"
    case ArrayType(e, _) => s"array<${neutralType(e)}>"
    case other => other.simpleString
  }

  /** Neutral/PG type name -> Spark type, for rule-driven casts.
    * Sized declarations ("varchar(64)", "int(11)") resolve by base
    * name; decimal keeps its (precision,scale). */
  def sparkType(t: String): DataType = t.toLowerCase match {
    case s if s.contains("(") && !s.startsWith("decimal(") =>
      sparkType(s.takeWhile(_ != '('))
    case "tinyint" => ByteType
    case "smallint" => ShortType
    case "int" | "mediumint" | "integer" => IntegerType
    case "bigint" => LongType
    case "float" => FloatType
    case "double" => DoubleType
    case "decimal" => DecimalType(18, 2)
    case s if s.startsWith("decimal(") =>
      val Array(p, sc) = s.stripPrefix("decimal(").stripSuffix(")").split(",")
      DecimalType(p.trim.toInt, sc.trim.toInt)
    case "varchar" | "char" | "text" | "mediumtext" | "longtext" | "set" | "enum" => StringType
    case "blob" | "longblob" | "bytea" => BinaryType
    case "boolean" => BooleanType
    case "date" => DateType
    case "datetime" | "timestamp" => TimestampType
    case other => throw new IllegalArgumentException(s"unmapped type: $other")
  }

  /** `indexes` carries the secondary-index metadata the reference
    * reads from information_schema.statistics (incl. composite
    * indexes, MysqlParser.py:225-258) — parquet has no native index
    * catalog, so the caller supplies them the same way it supplies
    * `pk`. A `pk` column is NOT NULL whatever the parquet field says,
    * as information_schema reports a primary key's columns. */
  def fromStruct(name: String, st: StructType,
      pk: Seq[String] = Nil, autoIncrement: Option[Long] = None,
      indexes: Seq[IndexDef] = Nil): TableDef =
    TableDef(
      name = name,
      columns = st.fields.toSeq.map { f =>
        val t = neutralType(f.dataType)
        ColumnDef(
          name = f.name, dataType = t, nullable = f.nullable && !pk.contains(f.name),
          size = f.dataType match {
            case d: DecimalType => Some(s"${d.precision},${d.scale}")
            case _ => None
          },
          isPk = pk.contains(f.name),
          fullType = t)
      },
      indexes = indexes,
      autoIncrement = autoIncrement)

  def fromSpark(df: DataFrame, name: String, pk: Seq[String] = Nil,
      indexes: Seq[IndexDef] = Nil): TableDef =
    fromStruct(name, df.schema, pk, indexes = indexes)

  def toStructType(td: TableDef): StructType =
    StructType(td.liveColumns.map(c =>
      StructField(c.name, sparkType(c.dataType), c.nullable)))
}
