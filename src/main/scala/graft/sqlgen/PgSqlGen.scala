package graft.sqlgen

import graft.schema._

/** PostgreSQL artifact generation — the reference's PsqlParser
  * re-expressed as pure string functions over TableDef
  * (/root/reference/libs/PsqlParser.py). Pure and driver-side by
  * design: DDL is O(tables), never data-sized, so it stays out of the
  * distributed plan entirely.
  */
object PgSqlGen {

  /** Types that never take a (size) suffix (PsqlParser.py:489-490). */
  private val unsized = Set("text", "bytea", "smallint", "decimal", "set")

  /** PsqlParser._get_sql_drop_table */
  def dropTable(t: TableDef): String =
    s"""DROP TABLE IF EXISTS "${t.name}" CASCADE;"""

  /** PsqlParser._get_sql_create_table / _get_sql_column: SERIAL for
    * auto_increment, PK inline or composite tail, NOT NULL, defaults
    * (numeric / boolean / current_timestamp / unicode literal). */
  def createTable(t: TableDef): String = {
    val live = t.liveColumns
    val pks = live.filter(_.isPk)
    val cols = live.map(columnSql(_, inlinePk = pks.length == 1))
    val tail = if (pks.length > 1)
      Seq(s"PRIMARY KEY (${pks.map(_.name).mkString(",")})") else Nil
    s"""CREATE TABLE IF NOT EXISTS "${t.name}" (\n ${(cols ++ tail).mkString(", \n ")} );"""
  }

  def columnSql(c: ColumnDef, inlinePk: Boolean): String = {
    val sb = new StringBuilder(s""" "${c.name}"""")
    if (c.extra == "auto_increment") sb.append(" SERIAL")
    else sb.append(s" ${c.dataType.toUpperCase}")
    c.size.filter(_ => !unsized.contains(c.dataType))
      .foreach(s => sb.append(s"($s)"))
    if (!c.nullable) sb.append(" NOT NULL")
    if (c.isPk && inlinePk) sb.append(" PRIMARY KEY")
    c.default.foreach { d =>
      val rendered =
        if (d.replaceFirst("\\.", "").forall(_.isDigit) && d.nonEmpty)
          if (c.dataType == "boolean") { if (d != "0") "true" else "false" }
          else d
        else if (d == "current_timestamp") d
        else if (d.equalsIgnoreCase("true") || d.equalsIgnoreCase("false"))
          d.toUpperCase
        else s"U&'$d'"
      sb.append(s" DEFAULT $rendered")
    }
    sb.toString
  }

  /** PsqlParser._get_sql_sequence: seed each SERIAL sequence at the
    * source's auto_increment watermark. */
  def setval(t: TableDef): String =
    t.autoIncrement match {
      case Some(ai) =>
        t.liveColumns.filter(_.isPk).map(c =>
          s"SELECT setval('${t.name}_${c.name}_seq', $ai, false);\n").mkString("\n")
      case None => ""
    }

  /** PsqlParser._get_sql_fkeys: deferred RESTRICT FKs so the \copy
    * load order doesn't matter within a transaction. A column's own
    * `on_delete` wins over the table-level default
    * (PsqlParser.py:391-400). */
  def foreignKeys(t: TableDef,
      onDelete: String = "RESTRICT DEFERRABLE INITIALLY IMMEDIATE"): String =
    t.liveColumns.flatMap { c =>
      c.reference.map(r =>
        s"""ALTER TABLE "${t.name}" ADD CONSTRAINT ${t.name}_${c.name}_fkey""" +
          s""" FOREIGN KEY (${c.name}) REFERENCES ${r.render}""" +
          s""" ON DELETE ${c.onDelete.getOrElse(onDelete)};""")
    }.mkString("\n")

  /** PsqlParser._get_sql_indexes (secondary indexes only; PRIMARY is
    * excluded at introspection, MysqlParser.py:243). */
  def indexes(t: TableDef): String =
    t.indexes.map { ix =>
      val cols = ix.columns.map(t.column(_).name)
      s"""CREATE INDEX ${t.name}_${ix.name}_x ON ${t.name} ("${cols.mkString("\" ,\"")}");\n"""
    }.mkString("\n")

  /** PsqlParser.generate_dump_from_raw:135-137 — the \copy line the
    * psql loader executes against a table's dump. `csvDir` is the
    * directory Spark wrote, which psql cannot open: the line has the
    * client's shell `cat` its `part-*` files, a glob that never matches
    * `_SUCCESS` or the hidden `.crc` files. The line names no part
    * file, whose names change on every write, so a bundle's text
    * stays the same from write to write. A dir that the single- and
    * double-quoted command cannot carry verbatim throws. */
  def copyStatement(t: TableDef, csvDir: String): String = {
    require(!csvDir.exists(c => "'\"\\$`".contains(c) || c.isControl),
      s"cannot quote the dump directory for psql's FROM PROGRAM: $csvDir")
    val cols = t.liveColumns.map(_.name).mkString("\", \"")
    s"""\\copy "${t.name}" ("$cols") FROM PROGRAM 'cat "$csvDir"/part-*' WITH (FORMAT CSV, QUOTE '''', DELIMITER ',', NULL 'NULL');"""
  }

  /** PsqlParser.generate_psql_views: v1-compat views exposing the old
    * table/column names over the new schema; skipped columns become
    * NULL so legacy readers keep their column count. `original` and
    * `changed` align positionally (SchemaRules preserves column order
    * and flags skips instead of deleting). */
  def compatView(original: TableDef, changed: TableDef,
      v1Schema: String, v2Schema: String): String = {
    val pairs = original.columns.zip(changed.columns).map {
      case (oc, nc) if nc.skip => (s""""${oc.name}"""", "NULL")
      case (oc, nc) => (s""""${oc.name}"""", s""""${nc.name}"""")
    }
    // live columns first, skipped->NULL last (PsqlParser.py:183-192)
    val (skipped, live) = pairs.partition(_._2 == "NULL")
    val ordered = live ++ skipped
    val v1Cols = ordered.map(_._1).mkString(", ")
    val v2Cols = ordered.map(_._2).mkString(", ")
    s"CREATE VIEW $v1Schema.${original.name} ($v1Cols) AS \n " +
      s"SELECT $v2Cols FROM $v2Schema.${changed.name} WITH CASCADED CHECK OPTION;\n"
  }

  /** PsqlParser._supaFilta (driver-side twin of
    * ValueRules.pgEscapeString, for schema-level literals). */
  def escapeCell(v: Any): String = v match {
    case null | None => "NULL"
    case true => "true"
    case false => "false"
    case s: String => "'" + s.replace("'", "''") + "'"
    case other => other.toString
  }

  /** PsqlParser._convert_mysql_insert_to_psql's value fixes: protect
    * escaped backslashes, \'-> '', zero-dates -> 2000-01-01. */
  def fixInsertLine(line: String): String =
    line.trim
      .replace("\\\\", "WUBWUBREALSLASHWUB")
      .replace("\\'", "''")
      .replace("WUBWUBREALSLASHWUB", "\\\\")
      .replace("0000-00-00 00:00:00", "2000-01-01 00:00:00")
      .replace("0000-00-00", "2000-01-01")

  /** Whole-schema preamble (PsqlParser.generate_sql_schema). */
  def schemaPreamble(schemaName: String): String =
    s"""SET client_min_messages TO WARNING;
       |DROP SCHEMA IF EXISTS $schemaName CASCADE;
       |CREATE SCHEMA IF NOT EXISTS $schemaName;
       |SET SCHEMA '$schemaName';
       |""".stripMargin

  /** Data-dump wrapper statements (PsqlParser
    * ._get_dump_initial_statements/_get_dump_final_statements). */
  val dumpInitial: String =
    """SET standard_conforming_strings=on;
      |SET escape_string_warning=on;
      |SET client_min_messages TO ERROR;
      |SET client_encoding = 'UTF8';
      |SET CONSTRAINTS ALL DEFERRED;
      |""".stripMargin
  val dumpFinal: String = "SET CONSTRAINTS ALL IMMEDIATE;\n"

  private val insertRe =
    """^INSERT INTO "([\w\d]+)"([\w\W]+)VALUES([\w\W]+);$""".r
  private val quotedIdentRe = "\"([^\"]*)\"".r

  /** The full mysqldump INSERT rewrite
    * (PsqlParser._convert_mysql_insert_to_psql): value fixes
    * (fixInsertLine), skip-table filtering, table and column renames
    * from the change-set. Returns None for skipped tables or
    * non-INSERT lines. */
  def convertInsert(changes: graft.rules.SchemaChanges,
      line: String): Option[String] = {
    val fixed = fixInsertLine(line)
    fixed match {
      case insertRe(table, colsPart, values) =>
        val ch = changes.forTable(table)
        if (ch.skip) None
        else {
          val outTable = ch.rename.getOrElse(table)
          val cols = quotedIdentRe.findAllMatchIn(colsPart)
            .map(_.group(1)).toSeq
            .map(c => ch.columns.get(c).flatMap(_.rename).getOrElse(c))
          val colStr = cols.mkString("(\"", "\", \"", "\")")
          Some(s"""INSERT INTO "$outTable" $colStr VALUES$values;""")
        }
      case _ => None
    }
  }

  // --- schema JSON (the reference's output/*.json artifacts) ---

  /** PG user provisioning + GRANT bundle — the last reference
    * function without a graft counterpart (cf
    * /root/reference/libs/PsqlParser.py:288-330 `_get_sql_user` and
    * libs/MysqlParser.py:262-276 `get_user_user_pass`): an
    * idempotent create-or-alter of the migrated database's
    * application user, database ownership + CONNECT, a group grant,
    * per-schema USAGE / sequence / table grants, search_path
    * pinning, and default privileges for tables created later.
    * Reference semantics preserved: the empty/None/'root' user guard
    * returns "", and `$` in passwords is carried as the `\0024`
    * unicode escape inside U&'' strings (the reference's dodge for
    * `$` inside a DO $$ body); additionally single quotes are
    * doubled — the reference would break on them, so this is
    * strictly safer with identical output on its input domain.
    * Pure text generation, spec-verified like the rest of the
    * sqlgen surface. */
  def generateSqlUser(user: Option[String], pass: Option[String],
      dbName: String, schemas: Seq[String] = Seq("public", "v1"),
      group: String = "b7group_user"): String =
    (user, pass) match {
      case (Some(u), Some(p)) if u.nonEmpty && u != "root" =>
        val pw = p.replace("'", "''").replace("$", "\\0024")
        val perSchema = schemas.map { sch =>
          s"""GRANT USAGE ON SCHEMA $sch TO $u;
             |GRANT ALL ON ALL SEQUENCES IN SCHEMA $sch TO $u;
             |GRANT ALL PRIVILEGES ON ALL TABLES IN SCHEMA $sch TO $u;""".stripMargin
        }.mkString("\n")
        val defaults = schemas.map { sch =>
          s"""ALTER DEFAULT PRIVILEGES IN SCHEMA $sch GRANT ALL ON TABLES TO $u;
             |ALTER DEFAULT PRIVILEGES IN SCHEMA $sch GRANT ALL ON SEQUENCES TO $u;""".stripMargin
        }.mkString("\n")
        s"""-- Adding PG User
           |DO $$$$DECLARE r record;
           |BEGIN
           |   IF NOT EXISTS (
           |      SELECT *
           |      FROM   pg_catalog.pg_user
           |      WHERE  usename = '$u') THEN
           |      CREATE USER $u WITH PASSWORD U&'$pw';
           |   ELSE
           |      ALTER USER $u WITH PASSWORD U&'$pw';
           |   END IF;
           |END$$$$;
           |ALTER DATABASE $dbName OWNER TO $u;
           |GRANT CONNECT ON DATABASE $dbName TO $u;
           |GRANT $group TO $u;
           |$perSchema
           |ALTER DATABASE $dbName SET search_path TO ${schemas.mkString(", ")};
           |ALTER USER $u SET search_path TO ${schemas.mkString(", ")};
           |$defaults
           |""".stripMargin
      case _ => ""
    }

  private def js(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  private def columnJson(c: ColumnDef): String = {
    val fields = Seq(
      "name" -> js(c.name),
      "type" -> js(c.dataType),
      "nullable" -> c.nullable.toString,
      "size" -> c.size.map(js).getOrElse("null"),
      "default" -> c.default.map(js).getOrElse("null"),
      "extra" -> js(c.extra),
      "isPk" -> c.isPk.toString,
      "fullType" -> js(c.fullType),
      "reference" -> c.reference.map(r => js(r.render)).getOrElse("null"),
      "on_delete" -> c.onDelete.map(js).getOrElse("null"),
      "_SKIP_" -> c.skip.toString)
    fields.map { case (k, v) => s"${js(k)}: $v" }.mkString("{", ", ", "}")
  }

  /** Render a schema as the reference's introspection JSON shape
    * (MysqlParser.get_schema / output/mysql_schema.json). */
  def schemaJson(tables: Seq[TableDef]): String = {
    val body = tables.map { t =>
      val cols = t.columns.map(c => s"${js(c.name)}: ${columnJson(c)}")
        .mkString("{", ", ", "}")
      val idx = t.indexes.map(i =>
        s"""${js(i.name)}: {"name": ${js(i.name)}, "columns": [${i.columns.map(js).mkString(", ")}]}""")
        .mkString("{", ", ", "}")
      s"""${js(t.name)}: {"name": ${js(t.name)}, "engine": ${js(t.engine)}, "collation": ${js(t.collation)}, "autoIncrement": ${t.autoIncrement.map(_.toString).getOrElse("null")}, "columns": $cols, "indexes": $idx}"""
    }.mkString("{", ", ", "}")
    s"""{"tables": $body}"""
  }
}
