package graft

import org.apache.spark.sql.{DataFrame, Dataset, Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}

import graft.rules._
import graft.schema._
import graft.sources.PgCopyWriter
import graft.sqlgen.PgSqlGen

/** End-to-end migration orchestration — the reference's main.py flow
  * (introspect → rules → pre-SQL → extract → convert → artifacts)
  * over Spark. Where the reference forks a multiprocessing pool per
  * database (main.py:124-189), here migrate makes one pool pass with
  * one task per table — load, introspect, rules, convert, write — and
  * Spark schedules every table's partitions across the cluster. Like
  * the reference, which derives every schema stage and the DDL from
  * one introspected JSON, a migration introspects each table once:
  * writeArtifacts only serializes the MigrationResult.
  */
object Pipeline {

  /** Output sink for extracted tables: the reference's PG \copy CSV
    * dialect, or a partitioned parquet lake (the modern migration
    * target — partition columns become directory pruning keys for
    * every downstream scan). */
  sealed trait Sink
  case object PgCsv extends Sink
  case class ParquetLake(partitionBy: Map[String, Seq[String]] = Map.empty)
      extends Sink

  case class TableResult(originalName: String, outputName: String,
      rows: Long, ddl: String, copySql: String)

  /** `originals` is the raw introspection of every requested table,
    * skipped ones included, in the caller's order: the bundle's
    * `mysql_schema.json` stage, which writeArtifacts serializes. */
  case class MigrationResult(tables: Seq[TableResult],
      schemaSql: String, constraintsSql: String, viewsSql: String,
      originals: Seq[TableDef])

  /** The per-table extract+convert plan migrate dumps: rules-driven
    * extraction (where/joins/renames/casts) followed by the raw-dump
    * value conversions (boolean/bytea/time/zero-date/FK-zero). The
    * etl_pipeline_dump oracle key compares the dump bytes against
    * EXACTLY this frame, so migrate builds its plan with the same
    * `convert` — any drift between the two would be a correctness bug. */
  def convertedFrame(spark: SparkSession, sfDir: String, table: String,
      changes: SchemaChanges,
      node: NodeRules = NodeRules.mysqlToPg,
      skipPreSql: Boolean = false): DataFrame = {
    val src = Tables.load(spark, sfDir, table)
    val orig = Introspect.fromSpark(src, table)
    val td = SchemaRules(Seq(orig), changes, node).headOption.getOrElse(
      throw new IllegalArgumentException(
        s"table $table is skipped by the change-set"))
    convert(src, orig, td, changes, node, skipPreSql,
      t => Tables.load(spark, sfDir, t))
  }

  private def convert(src: DataFrame, orig: TableDef, td: TableDef,
      changes: SchemaChanges, node: NodeRules, skipPreSql: Boolean,
      loadTable: String => DataFrame): DataFrame =
    ValueRules.applyRawDump(
      Projector.extract(src, orig, changes.forTable(orig.name), loadTable,
        Some(node), skipPreSql),
      td)

  /** Migrate a set of parquet-backed tables: apply schema rules,
    * extract per rules (where/joins/renames/casts), write PG-dialect
    * CSV dumps, and emit the full DDL bundle (create tables + FKs +
    * indexes + setvals + v1-compat views). One pool pass runs each
    * table start to end: load, introspect, schema rules and, unless
    * the change-set skips it, convert and write. Each table is loaded
    * once per call; its frame also serves every `_JOIN_`/orphan/
    * pre-SQL lookup of it, including tables outside `tables`. */
  def migrate(spark: SparkSession, sfDir: String, outDir: String,
      tables: Seq[String], changes: SchemaChanges,
      node: NodeRules = NodeRules.mysqlToPg,
      pks: Map[String, Seq[String]] = Map.empty,
      skipPreSql: Boolean = false,
      sink: Sink = PgCsv,
      indexes: Map[String, Seq[IndexDef]] = Map.empty): MigrationResult = {

    // one lazy cell per table: concurrent loads of different tables
    // run in parallel, and a second lookup of a table waits only for
    // that table's load
    final class Frame(t: String) { lazy val df = Tables.load(spark, sfDir, t) }
    val frames = new java.util.concurrent.ConcurrentHashMap[String, Frame]
    def load(t: String): DataFrame = frames.computeIfAbsent(t, new Frame(_)).df

    // the reference forks a multiprocessing pool per table
    // (main.py:124-189); here each table's schema read and write are
    // independent Spark jobs submitted concurrently — partitions of
    // all tables interleave across the cluster, so small tables don't
    // serialize behind big ones
    val perTable = onPool(tables, 8) { t =>
      val src = load(t)
      val orig = Introspect.fromSpark(src, t,
        pk = pks.getOrElse(t, Nil), indexes = indexes.getOrElse(t, Nil))
      orig -> SchemaRules(Seq(orig), changes, node).headOption.map { td =>
        val converted = convert(src, orig, td, changes, node, skipPreSql, load)
        val outPath = s"$outDir/${td.name}"
        val rows = countWritten(converted)(df => sink match {
          case PgCsv => PgCopyWriter.write(df, outPath)
          case ParquetLake(partitionBy) =>
            val w = df.write.mode("overwrite")
            partitionBy.get(t).filter(_.nonEmpty)
              .fold(w)(cols => w.partitionBy(cols: _*))
              .parquet(outPath)
        })
        td -> TableResult(t, td.name,
          rows = rows,
          ddl = PgSqlGen.dropTable(td) + "\n" + PgSqlGen.createTable(td),
          copySql = PgSqlGen.copyStatement(td, outPath))
      }
    }
    val changed = perTable.collect { case (orig, Some((td, _))) => orig -> td }
    val results = perTable.flatMap(_._2).map(_._2)

    val constraints = changed.map { case (_, td) =>
      PgSqlGen.setval(td) + PgSqlGen.foreignKeys(td) + PgSqlGen.indexes(td)
    }.mkString("\n")
    val views = changed.map { case (orig, td) =>
      PgSqlGen.compatView(orig, td, "v1", "public")
    }.mkString("\n")

    MigrationResult(results,
      schemaSql = PgSqlGen.schemaPreamble("public") +
        results.map(_.ddl).mkString("\n\n"),
      constraintsSql = constraints,
      viewsSql = views,
      originals = perTable.map(_._1))
  }

  /** The `all-databases` analog (main.py:168-189): migrate several
    * source directories ("databases") concurrently, optionally
    * filtered by a name prefix, each into its own output dir. */
  def migrateAll(spark: SparkSession, dbDirs: Map[String, String],
      outRoot: String, tables: Seq[String], changes: SchemaChanges,
      prefix: String = "",
      pks: Map[String, Seq[String]] = Map.empty): Map[String, MigrationResult] = {
    val selected = dbDirs.filter { case (db, _) => db.startsWith(prefix) }
    onPool(selected.toSeq, 4) { case (db, dir) =>
      db -> migrate(spark, dir, s"$outRoot/$db", tables, changes, pks = pks)
    }.toMap
  }

  /** `f` over `items` on at most `threads` threads, in input order. The
    * pool is always shut down: its threads are non-daemon, and a leaked
    * pool keeps the JVM alive after main() returns (a hung Verify). */
  private def onPool[A, B](items: Seq[A], threads: Int)(f: A => B): Seq[B] = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(threads, math.max(1, items.size)))
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try Await.result(Future.traverse(items)(a => Future(f(a))), Duration.Inf)
    finally pool.shutdown()
  }

  /** Runs `write` over `ds` and returns the rows it wrote, observed in
    * the write job itself so the plan runs once. Rows, not file lines:
    * a PG dump string cell with an embedded newline is one row but two
    * file lines. */
  private def countWritten[T](ds: Dataset[T])(write: Dataset[T] => Unit): Long = {
    val written = Observation()
    write(ds.observe(written, count(lit(1)).as("rows")))
    written.get("rows").asInstanceOf[Long]
  }

  /** Write the reference's per-database artifact bundle
    * (main.py:52-112: mysql_schema.json, mysql_schema_v2.json,
    * psql_schema.json, psql_tables.sql, psql_data.sql,
    * psql_index_fk.sql, psql_views.sql) alongside the per-table CSV
    * dumps migrate() already produced under `outDir`. The bundle is a
    * serialization of `result`: it reads no source and runs no job.
    * The three schema JSONs are distinct stages, as in main.py:54-69:
    * raw introspection (`result.originals`) → user changes applied
    * (still mysql types) → node type-map applied (PG types).
    *
    * `tables`, `pks` and `indexes` must be the ones `result` was
    * migrated with, or the schema JSONs would describe other tables
    * than the SQL files; a mismatch throws IllegalArgumentException.
    * `spark` and `sfDir` are unused, kept only for the benchmark's
    * call site. */
  def writeArtifacts(spark: SparkSession, sfDir: String, outDir: String,
      tables: Seq[String], changes: SchemaChanges,
      result: MigrationResult,
      node: NodeRules = NodeRules.mysqlToPg,
      pks: Map[String, Seq[String]] = Map.empty,
      indexes: Map[String, Seq[IndexDef]] = Map.empty): Unit = {
    import java.nio.file.{Files, Paths}
    val introspected = result.originals.map(o => o.name -> o).toMap
    val originals = tables.map { t =>
      val orig = introspected.getOrElse(t, throw new IllegalArgumentException(
        s"table $t was not migrated in this result"))
      val pk = pks.getOrElse(t, Nil)
      if (orig.columns.exists(c => c.isPk != pk.contains(c.name)))
        throw new IllegalArgumentException(
          s"table $t was migrated with pk ${orig.pkColumns.map(_.name)}, not $pk")
      if (orig.indexes != indexes.getOrElse(t, Nil))
        throw new IllegalArgumentException(
          s"table $t was migrated with indexes ${orig.indexes}, not ${indexes.getOrElse(t, Nil)}")
      orig
    }
    val dir = Paths.get(outDir)
    Files.createDirectories(dir)
    def write(name: String, content: String): Unit =
      Files.writeString(dir.resolve(name), content)
    // v2 = user changes only (mysql-flavoured types, RuleHandler
    // .obtain_modified_schema); psql = v2 + the mysql_to_psql node map
    // (PsqlParser.get_schema_from_mysql:38-41)
    val v2 = originals.flatMap(SchemaRules.applyTable(_, changes))
    val psql = v2.map(SchemaRules.applyNode(_, node))
    write("mysql_schema.json", PgSqlGen.schemaJson(originals))
    write("mysql_schema_v2.json", PgSqlGen.schemaJson(v2))
    write("psql_schema.json", PgSqlGen.schemaJson(psql))
    write("psql_tables.sql", result.schemaSql)
    write("psql_data.sql",
      PgSqlGen.dumpInitial +
        result.tables.map(_.copySql).mkString("\n") + "\n" +
        PgSqlGen.dumpFinal)
    write("psql_index_fk.sql",
      "SET client_min_messages TO ERROR;\nSET SCHEMA 'public';\n\n" +
        result.constraintsSql)
    write("psql_views.sql",
      "SET client_min_messages TO ERROR;\n" +
        "DROP SCHEMA IF EXISTS v1 CASCADE;\nCREATE SCHEMA IF NOT EXISTS v1;\n\n" +
        result.viewsSql)
  }

  /** Distributed twin of the reference's file-level mysqldump INSERT
    * conversion (PsqlParser.generate_dump_from_mysql_dump:73-100):
    * read a dump, rewrite each INSERT line per the change-set (value
    * fixes, table/column renames, skip-table filtering), write the PG
    * dump. One narrow map over a text scan — at 100 TB of dump files
    * every partition converts independently. */
  def convertMysqlDump(spark: SparkSession, changes: SchemaChanges,
      dumpPath: String, outPath: String): Long = {
    import spark.implicits._
    val converted = spark.read.textFile(dumpPath)
      .flatMap(line => PgSqlGen.convertInsert(changes, line))
    countWritten(converted)(_.write.mode("overwrite").text(outPath))
  }
}
