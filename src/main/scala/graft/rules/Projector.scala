package graft.rules

import org.apache.spark.sql.{DataFrame, GraftSqlBridge}
import org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
import org.apache.spark.sql.catalyst.plans.logical.SubqueryAlias
import org.apache.spark.sql.functions._

import graft.schema._

/** The Spark-side "extract" step: turns a source DataFrame plus its
  * TableChange into the projected/filtered/joined frame the reference
  * builds as a SELECT per table
  * (/root/reference/libs/MysqlParser.py:104-137: SELECT live columns,
  * optional INNER `_JOIN_`s, optional `_WHERE_`).
  *
  * Declarative on purpose: renames are aliases, `_WHERE_` is a SQL
  * string handed to Catalyst (so filters reach the parquet scan as
  * PushedFilters), `_JOIN_`s are inner joins that only keep the base
  * table's columns (join-as-filter, exactly the reference semantics).
  */
object Projector {

  /** Project a table per its change-set: each live column of the
    * table def `SchemaRules.applyTable` (then `applyNode`, given a
    * `node`) makes of `original`, under its output name, cast to the
    * Spark type of its rule-mapped type when the rules changed the
    * type — so the dump holds the type the DDL declares. */
  def project(df: DataFrame, original: TableDef, ch: TableChange,
      node: Option[NodeRules] = None): DataFrame = {
    val changed = SchemaRules.applyTable(original,
      SchemaChanges(Map(original.name -> ch.copy(skip = false)))).get
    val td = node.fold(changed)(SchemaRules.applyNode(changed, _))
    val projected = original.columns.zip(td.columns).collect {
      case (o, c) if !c.skip =>
        val src = col(o.name)
        (if (c.dataType == o.dataType) src
         else src.cast(Introspect.sparkType(c.dataType))).as(c.name)
    }
    df.select(projected: _*)
  }

  /** Full extract: pre-SQL ops (orphan drops, UTC shift) + joins (as
    * filters) + where + projection. `loadTable` resolves a `_JOIN_`/
    * orphan rule's target table to a DataFrame. */
  def extract(df: DataFrame, original: TableDef, ch: TableChange,
      loadTable: String => DataFrame,
      node: Option[NodeRules] = None,
      skipPreSql: Boolean = false): DataFrame = {
    val preApplied =
      if (skipPreSql) df
      else {
        // user `_PRE_SQL_` first, then the structured ops — the
        // reference appends its generated UTC statements after the
        // user's list and runs them in order (MysqlParser.py:95-102)
        val userPre = runPreSql(df, original.name, ch.preSql, loadTable)
        val orphansDropped = ch.dropOrphans.foldLeft(userPre) { (acc, o) =>
          dropFkOrphans(acc, o.fkCol, loadTable(o.parentTable), o.parentKey)
        }
        ch.utcShiftHours.fold(orphansDropped)(h =>
          utcShift(orphansDropped, original, h))
      }
    val joined = ch.joins.foldLeft(preApplied) { (acc, j) =>
      // INNER JOIN <table> ON (base.col = joined.col_ref); only base
      // columns survive (MysqlParser.py:113-124 selects t.* only).
      val right = loadTable(j.table).select(col(j.colRef).as(s"__ref_${j.colRef}"))
      acc.join(right, acc(j.col) === col(s"__ref_${j.colRef}"), "inner")
        .drop(s"__ref_${j.colRef}")
    }
    val filtered = ch.where.map(w => joined.filter(expr(w))).getOrElse(joined)
    project(filtered, original, ch, node)
  }

  /** Pre-SQL orphan delete re-expressed: the reference issues
    * `DELETE FROM child WHERE fk NOT IN (SELECT pk FROM parent)`
    * (rules/schema_changes.json `_PRE_SQL_`). SQL NOT IN over a NULL
    * fk evaluates to NULL, not true, so the reference KEEPS NULL-fk
    * rows — the survivors are therefore the left_semi matches UNION
    * the NULL-fk rows, not the bare left_semi (which would silently
    * drop every row of a nullable FK column). */
  def dropFkOrphans(child: DataFrame, fk: String,
      parent: DataFrame, pk: String): DataFrame =
    joinParent(child, fk, parent, pk, "left_semi")
      .unionAll(child.filter(child(fk).isNull))

  /** The deleted side: non-NULL fks with no parent. NULL-fk rows are
    * never orphans (the reference's DELETE does not touch them). */
  def fkOrphans(child: DataFrame, fk: String,
      parent: DataFrame, pk: String): DataFrame =
    joinParent(child, fk, parent, pk, "left_anti")

  /** Non-NULL-fk child rows joined to the parent's key, aliased like a
    * `_JOIN_`'s `__ref_` column: a self-FK (`manager_id -> id`) makes
    * the child carry a column named `pk` too, and a bare `col(pk)`
    * would then be ambiguous. */
  private def joinParent(child: DataFrame, fk: String,
      parent: DataFrame, pk: String, how: String): DataFrame =
    child.filter(child(fk).isNotNull)
      .join(parent.select(col(pk).as(s"__ref_$pk")),
        child(fk) === col(s"__ref_$pk"), how)

  private val DeleteRe =
    """(?is)^\s*DELETE\s+(?:IGNORE\s+)?FROM\s+[`"]?(\w+)[`"]?\s+WHERE\s+(.+?)\s*;?\s*$""".r
  private val UpdateRe =
    """(?is)^\s*UPDATE\s+(?:IGNORE\s+)?[`"]?(\w+)[`"]?\s+SET\s+(.+?)(?:\s+WHERE\s+(.+?))?\s*;?\s*$""".r
  private val AssignRe = """(?s)^\s*[`"]?(\w+)[`"]?\s*=\s*(.+)$""".r

  /** SET-clause assignments split on top-level commas only (an
    * expression like `coalesce(a, b)` keeps its internal comma). */
  private def splitAssignments(s: String): Seq[(String, String)] = {
    val parts = scala.collection.mutable.Buffer[String]()
    var depth = 0
    val sb = new StringBuilder
    s.foreach {
      case ',' if depth == 0 => parts += sb.toString; sb.clear()
      case c =>
        if (c == '(') depth += 1 else if (c == ')') depth -= 1
        sb.append(c)
    }
    parts += sb.toString
    parts.toSeq.map {
      case AssignRe(c, e) => c -> e.trim
      case other => throw new IllegalArgumentException(
        s"unparseable SET assignment: '$other'")
    }
  }

  /** Executes a table's arbitrary `_PRE_SQL_` statements against the
    * frame (the reference runs them on the live MySQL connection
    * before dumping — MysqlParser.run_pre_sql:70-102). The two
    * mutation shapes MySQL pre-SQL takes are re-expressed as
    * transformations with exact SQL semantics:
    *
    *  - `DELETE [IGNORE] FROM t WHERE cond` → `t EXCEPT ALL (SELECT *
    *    FROM t WHERE cond)`. The WHERE selects exactly the rows whose
    *    cond is TRUE, so rows where cond is NULL (e.g. a NULL fk under
    *    NOT IN) survive — identical to DELETE.
    *  - `UPDATE [IGNORE] t SET c = e, ... [WHERE cond]` → a projection
    *    with `CASE WHEN cond THEN e ELSE c END` per assigned column
    *    (cond NULL/false leaves the row untouched, like UPDATE).
    *
    * Every table the parsed statement names, subqueries included, is
    * bound straight to a plan: its own name to the current frame, any
    * other to `loadTable`. No temp view is involved, so a caller's
    * views are neither read nor dropped and concurrent calls stay
    * apart. A statement targeting a different table, or any other
    * shape, throws — a pre-SQL the engine can't honor must never
    * silently no-op. */
  def runPreSql(df: DataFrame, table: String, stmts: Seq[String],
      loadTable: String => DataFrame): DataFrame = {
    if (stmts.isEmpty) df
    else {
      val s = df.sparkSession
      stmts.foldLeft(df) { (acc, stmt) =>
        def requireTarget(t: String): Unit =
          if (t.toLowerCase != table.toLowerCase)
            throw new IllegalArgumentException(
              s"pre-SQL for table '$table' targets '$t': $stmt")
        // tables come from the parsed plan, not a regex: JOIN / comma
        // lists resolve, and a literal containing "FROM x" binds nothing
        def run(sqlText: String): DataFrame = {
          val plan = s.sessionState.sqlParser.parsePlan(sqlText)
            .transformUpWithSubqueries {
              case r: UnresolvedRelation =>
                val name = r.multipartIdentifier.last
                SubqueryAlias(name, (if (name.equalsIgnoreCase(table)) acc
                  else loadTable(name.toLowerCase)).queryExecution.analyzed)
            }
          GraftSqlBridge.ofRows(s, plan)
        }
        stmt match {
          case DeleteRe(target, cond) =>
            requireTarget(target)
            run(s"SELECT * FROM `$table` EXCEPT ALL SELECT * FROM `$table` WHERE $cond")
          case UpdateRe(target, setClause, cond) =>
            requireTarget(target)
            val sets = splitAssignments(setClause).toMap
            val unknown = sets.keySet.diff(acc.columns.toSet)
            if (unknown.nonEmpty) throw new IllegalArgumentException(
              s"pre-SQL UPDATE sets unknown column(s) ${unknown.mkString(", ")}: $stmt")
            val proj = acc.columns.map { c =>
              sets.get(c) match {
                case Some(e) => Option(cond) match {
                  case Some(w) => s"CASE WHEN ($w) THEN ($e) ELSE `$c` END AS `$c`"
                  case None => s"($e) AS `$c`"
                }
                case None => s"`$c`"
              }
            }
            run(s"SELECT ${proj.mkString(", ")} FROM `$table`")
          case other =>
            throw new UnsupportedOperationException(
              s"unsupported pre-SQL shape (DELETE/UPDATE only): $other")
        }
      }
    }
  }

  /** UTC shift pre-SQL: `SET ts = ts - INTERVAL 2 HOUR WHERE ts IS NOT
    * NULL` over every datetime/timestamp column
    * (MysqlParser.py:88-92). NULLs pass through untouched (the
    * arithmetic is NULL-safe, matching the WHERE guard). */
  def utcShift(df: DataFrame, original: TableDef, hours: Int = 2): DataFrame =
    original.columns.filter(c =>
      c.dataType == "datetime" || c.dataType == "timestamp")
      .foldLeft(df) { (acc, c) =>
        acc.withColumn(c.name, col(c.name) - expr(s"INTERVAL $hours HOURS"))
      }
}
