package graft.sources

import org.apache.spark.sql.{DataFrame, GraftSqlBridge}
import org.apache.spark.sql.types._

import graft.functions.PgCopyLine

/** PG `\copy`-compatible CSV dump of a DataFrame — the distributed
  * twin of the reference's per-row CSV writer
  * (PsqlParser.py:135-146 plus _supaFilta:375-384):
  * NULL literal for nulls, true/false booleans, strings ALWAYS
  * single-quoted with '' doubling, numbers raw.
  *
  * Each line is one codegen'd expression, [[PgCopyLine]], over all of
  * the row's columns, written via the text sink — the engine renders
  * exactly the reference's bytes with no CSV-writer quoting policy in
  * between, and no per-cell expression tree or regex. That
  * unconditional string quoting matters: a writer that only quotes
  * "when needed" (Spark's csv default) emits a cell whose value is the
  * literal string "NULL" unquoted, and `\copy ... NULL 'NULL'` then
  * corrupts it into SQL NULL on load; _supaFilta always quotes, so the
  * literal text survives. Embedded delimiters and newlines are likewise
  * safe inside the quotes.
  *
  * Spark's text sink renders each partition in parallel — the
  * reference's single cursor loop becomes N writers. psql's \copy
  * cannot read a directory, so the \copy statement
  * (PgSqlGen.copyStatement) reads the part files through
  * `FROM PROGRAM 'cat "<dir>"/part-*'`.
  */
object PgCopyWriter {

  /** Non-scalar columns throw loudly: the reference dumps only scalar
    * MySQL types (blob/bytea is emptied by ValueRules.applyRawDump
    * BEFORE rendering), and Spark's toString for array/map/struct/
    * binary is engine-specific text that would silently corrupt a
    * dump. */
  def write(df: DataFrame, path: String): Unit = {
    val columns = df.queryExecution.analyzed.output
    columns.foreach { a =>
      a.dataType match {
        case _: ArrayType | _: MapType | _: StructType | BinaryType =>
          throw new UnsupportedOperationException(
            s"PgCopyWriter: no dump rendering for non-scalar column " +
              s"'${a.name}' (${a.dataType.simpleString}) — convert upstream " +
              "(ValueRules.applyRawDump empties bytea; others have no " +
              "reference dump shape)")
        case _ =>
      }
    }
    df.select(GraftSqlBridge.column(PgCopyLine.of(columns)).as("line"))
      .write
      .mode("overwrite")
      .text(path)
  }
}
