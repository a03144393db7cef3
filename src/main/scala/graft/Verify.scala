package graft
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.RowOrdering
import org.apache.spark.sql.functions.col
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * The driver's row hash is ORDER-SENSITIVE, and r10's one red row
  * (q_match_recognize) proved that any key lacking a deterministic
  * total output order is one engine-plan change away from a spurious
  * mismatch. Rather than hand-pinning a trailing sort into ~80 query
  * keys AND ~80 oracle strings (and paying a sort exchange in every
  * production plan), determinism is pinned HERE, symmetrically, at the
  * verification boundary: the Spark dump is canonically sorted by
  * every orderable output column (nulls first), and the dumped oracle
  * SQL is wrapped with the IDENTICAL `ORDER BY "c" ASC NULLS FIRST,
  * ...` list. Ties left by unorderable columns (none today — MapType
  * outputs carry an orderable key prefix) would surface as a hash
  * mismatch, not silent corruption. Engine operators keep their
  * natural, scale-shaped plans; a result-sized presentation sort at
  * the dump boundary is the only cost. */
object Verify {
  /** Orderable output columns, in schema order — the canonical sort
    * key shared verbatim by both engines. */
  private[graft] def pinCols(df: DataFrame): Seq[String] =
    df.schema.fields.toSeq
      .filter(f => RowOrdering.isOrderable(f.dataType))
      .map(_.name)

  /** The two halves of the canonical pin, factored for the spec:
    * apply the sort to the dump side, wrap the oracle side with the
    * identical column list. */
  private[graft] def pinFrame(df: DataFrame, ord: Seq[String]): DataFrame =
    if (ord.isEmpty) df
    else df.orderBy(ord.map(c => col(c).asc_nulls_first): _*)

  private[graft] def pinSqlFor(sql: String, ord: Seq[String]): String =
    if (ord.isEmpty) sql
    else s"SELECT * FROM (\n$sql\n) graft_pin ORDER BY " +
      ord.map(c => "\"" + c + "\" ASC NULLS FIRST").mkString(", ")

  /** A JSON string literal: backslash, quote and ALL control chars
    * (<0x20) escaped — a tab or CR in an oracle SQL string would
    * otherwise make the reader's json.load fail and silently drop
    * every correctness result. */
  private[graft] def jstr(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def main(args: Array[String]): Unit = Tables.withSession { spark =>
    val Array(sfDir, outDir) = args
    new java.io.File(outDir).mkdirs()
    // optional comma-separated subset, for iterating on one key
    // locally (the driver runs the full map)
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    // per-key canonical sort columns, recorded as each key runs so the
    // oracle wrap below uses the exact same list
    val pinned = scala.collection.mutable.Map[String, Seq[String]]()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        val ord = pinCols(df)
        pinned(name) = ord
        pinFrame(df, ord).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // mirror the canonical sort onto the oracle side: wrap each
    // single-statement oracle as a subquery with the same column list
    // (all oracle strings are single statements; semicolons appear
    // only inside string literals)
    def pinSql(name: String, sql: String): String =
      pinSqlFor(sql, pinned.getOrElse(name, Nil))
    // under SPARK_GRAFT_ONLY, emit oracle entries ONLY for keys that
    // ran: an entry for a key outside the subset would lack its
    // canonical ORDER BY wrap (pinned has no row for it), and running
    // check.py over previously-dumped parquet against it would report
    // spurious ORDER-ONLY failures under the strict in-order compare
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.forall(_.contains(k)) }
      .map { case (k, v) =>
        // a static oracle names published artifacts by
        // Artifacts.oracleRoot; this run's corpus fills in their roots
        s"${jstr(k)}: ${jstr(pinSql(k, Artifacts.oracleSqlFor(v, sfDir)))}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
  }
}
