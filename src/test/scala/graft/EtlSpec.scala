package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.Etl
import graft.rules._
import graft.schema._
import graft.sqlgen.PgSqlGen

class EtlSpec extends AnyFunSuite {

  test("etl_freshness reports exact lags against the feed's newest event") {
    import TestSpark._
    val got = Etl.etlFreshness(spark, sf).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    val ev = Tables.load(spark, sf, "events")
      .select(col("event_type"), expr("unix_micros(ts)").as("us"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val gUs = ev.map(_._2).max
    val exp = ev.groupBy(_._1).map { case (t, rs) =>
      val last = rs.map(_._2).max
      val lagS = (gUs - last) / 1000000L
      t -> (rs.size.toLong, last, lagS,
        if (lagS > Etl.staleAfterS) 1L else 0L)
    }
    assert(got == exp)
    // the SLA threshold genuinely separates the fixture's types
    assert(got.values.exists(_._4 == 1L) && got.values.exists(_._4 == 0L))
  }

  test("etl_backfill_plan ranges cover exactly the missing hour slots") {
    import TestSpark._
    val got = Etl.etlBackfillPlan(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val obs = Tables.load(spark, sf, "events")
      .select(col("event_type"),
        expr("unix_micros(ts) div 3600000000").as("hr"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val hrs = obs.map(_._2)
    val types = obs.map(_._1)
    val missing = for {
      t <- types; h <- hrs.min to hrs.max if !obs.contains((t, h))
    } yield (t, h)
    // every range is maximal-contiguous and counts its slots
    got.foreach { case (t, s0, s1, n) =>
      assert(n == s1 - s0 + 1)
      (s0 to s1).foreach(h => assert(missing.contains((t, h)), s"$t $h"))
      assert(!missing.contains((t, s0 - 1)), s"$t range not maximal left")
      assert(!missing.contains((t, s1 + 1)), s"$t range not maximal right")
    }
    // and the ranges cover every missing slot exactly once
    val covered = got.flatMap { case (t, s0, s1, _) =>
      (s0 to s1).map(h => (t, h)) }
    assert(covered.toSet == missing && covered.length == missing.size)
    assert(got.nonEmpty, "fixture must have gaps at hour grain")
  }

  test("etl_pk_discovery measures uniqueness, not assumptions") {
    import TestSpark._
    val got = Etl.etlPkDiscovery(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(got.size == 7)
    Etl.pkCandidates.foreach { case (table, cols) =>
      val rows = Tables.load(spark, sf, table)
        .select(cols.map(col): _*).collect()
        .map(_.toSeq.toList)
      val (n, d) = (rows.length.toLong, rows.distinct.length.toLong)
      val g = got((table, cols.mkString(",")))
      assert(g == ((n, d, if (n == d) 1L else 0L)),
        s"$table(${cols.mkString(",")})")
    }
    // the verdicts genuinely mix on the fixture — including the trap:
    // the TPC-H-familiar (l_orderkey, l_linenumber) is NOT a key here
    assert(got(("orders", "o_orderkey"))._3 == 1L)
    assert(got(("lineitem", "l_orderkey,l_linenumber"))._3 == 0L)
    assert(got.values.exists(_._3 == 1L) && got.values.exists(_._3 == 0L))
  }
  import TestSpark._

  // --- schema introspection (MysqlParser.get_schema analogue) ---

  test("Introspect round-trips a parquet schema through TableDef") {
    val cust = Tables.load(spark, sf, "customer")
    val td = Introspect.fromSpark(cust, "customer", pk = Seq("c_custkey"))
    assert(td.name == "customer")
    assert(td.column("c_custkey").isPk)
    assert(td.column("c_name").dataType == "varchar")
    assert(td.column("c_acctbal").dataType == "double")
    val st = Introspect.toStructType(td)
    assert(st.fieldNames.toSeq == cust.schema.fieldNames.toSeq)
  }

  test("Introspect maps neutral types to Spark types both ways") {
    assert(Introspect.sparkType("decimal(10,3)") == DecimalType(10, 3))
    assert(Introspect.sparkType("mediumint") == IntegerType)
    assert(Introspect.neutralType(TimestampType) == "datetime")
    assert(Introspect.neutralType(BinaryType) == "blob")
  }

  // --- rule engine (RuleHandler analogue) ---

  test("SchemaRules applies rename/skip/override then node type maps") {
    val td = TableDef("t", Seq(
      ColumnDef("id", "int", nullable = false, isPk = true, extra = "auto_increment"),
      ColumnDef("flag", "tinyint", fullType = "tinyint(1)"),
      ColumnDef("body", "longtext"),
      ColumnDef("created", "datetime", default = Some("CURRENT_TIMESTAMP")),
      ColumnDef("legacy", "varchar")), engine = "MyISAM")
    val changes = SchemaChanges(Map("t" -> TableChange(
      rename = Some("t2"),
      columns = Map(
        "legacy" -> ColumnChange(skip = true),
        "body" -> ColumnChange(rename = Some("content"))))))
    val out = SchemaRules(Seq(td), changes)
    assert(out.length == 1)
    val t2 = out.head
    assert(t2.name == "t2")
    assert(t2.engine == "INNODB")
    assert(t2.column("flag").dataType == "boolean") // tinyint(1) _IF_ rule
    assert(t2.column("content").dataType == "text") // longtext -> text + rename
    assert(t2.column("created").dataType == "timestamp")
    assert(t2.column("created").default.contains("current_timestamp"))
    assert(t2.column("legacy").skip)
    assert(t2.liveColumns.map(_.name) == Seq("id", "flag", "content", "created"))
  }

  test("SchemaRules drops _SKIP_ tables entirely") {
    val tds = Seq(TableDef("keep", Nil), TableDef("drop_me", Nil))
    val out = SchemaRules(tds, SchemaChanges(Map("drop_me" -> TableChange(skip = true))))
    assert(out.map(_.name) == Seq("keep"))
  }

  // --- DDL generation (PsqlParser analogue) ---

  test("PgSqlGen.createTable: SERIAL pk, NOT NULL, sizes, defaults") {
    val td = TableDef("users", Seq(
      ColumnDef("id", "int", nullable = false, isPk = true, extra = "auto_increment"),
      ColumnDef("name", "varchar", nullable = false, size = Some("64")),
      ColumnDef("bio", "text", size = Some("1000")), // text never sized
      ColumnDef("active", "boolean", default = Some("1")),
      ColumnDef("note", "varchar", default = Some("hi"))))
    val sql = PgSqlGen.createTable(td)
    assert(sql.contains("\"id\" SERIAL NOT NULL PRIMARY KEY"))
    assert(sql.contains("\"name\" VARCHAR(64) NOT NULL"))
    assert(sql.contains("\"bio\" TEXT"))
    assert(!sql.contains("TEXT(1000)"))
    assert(sql.contains("\"active\" BOOLEAN DEFAULT true"))
    assert(sql.contains("\"note\" VARCHAR DEFAULT U&'hi'"))
  }

  test("PgSqlGen.createTable: composite PK becomes a PRIMARY KEY tail") {
    val td = TableDef("m2m", Seq(
      ColumnDef("a_id", "int", nullable = false, isPk = true),
      ColumnDef("b_id", "int", nullable = false, isPk = true)))
    val sql = PgSqlGen.createTable(td)
    assert(sql.contains("PRIMARY KEY (a_id,b_id)"))
    assert(!sql.contains("\"a_id\" INT NOT NULL PRIMARY KEY"))
  }

  test("PgSqlGen FK / index / setval / copy statements") {
    val td = TableDef("child", Seq(
      ColumnDef("id", "int", nullable = false, isPk = true, extra = "auto_increment"),
      ColumnDef("parent_id", "int", reference = Some(Reference("parent", "id")))),
      indexes = Seq(IndexDef("by_parent", Seq("parent_id"))),
      autoIncrement = Some(42))
    assert(PgSqlGen.foreignKeys(td).contains(
      "ALTER TABLE \"child\" ADD CONSTRAINT child_parent_id_fkey FOREIGN KEY " +
        "(parent_id) REFERENCES parent (id) ON DELETE RESTRICT DEFERRABLE INITIALLY IMMEDIATE;"))
    // per-column on_delete override beats the table-level default
    // (reference: col_attrs['on_delete'], PsqlParser.py:400)
    val cascade = td.copy(columns = td.columns.map {
      case c if c.name == "parent_id" => c.copy(onDelete = Some("CASCADE"))
      case c => c
    })
    assert(PgSqlGen.foreignKeys(cascade).contains(
      "REFERENCES parent (id) ON DELETE CASCADE;"))
    val viaRules = SchemaRules.applyTable(
      TableDef("child", td.columns),
      SchemaChanges(Map("child" -> TableChange(columns = Map(
        "parent_id" -> ColumnChange(onDelete = Some("SET NULL"))))))).get
    assert(viaRules.column("parent_id").onDelete.contains("SET NULL"))
    assert(PgSqlGen.indexes(td).contains(
      "CREATE INDEX child_by_parent_x ON child (\"parent_id\");"))
    assert(PgSqlGen.setval(td).contains("SELECT setval('child_id_seq', 42, false);"))
    assert(PgSqlGen.copyStatement(td, "/tmp/out dir/child") ==
      "\\copy \"child\" (\"id\", \"parent_id\") FROM PROGRAM " +
        "'cat \"/tmp/out dir/child\"/part-*' " +
        "WITH (FORMAT CSV, QUOTE '''', DELIMITER ',', NULL 'NULL');")
    // a dir the quoted command cannot carry verbatim throws
    Seq("/tmp/o'dir", "/tmp/o\"dir", "/tmp/$HOME", "/tmp/`id`", "/tmp/a\\b",
      "/tmp/a\nb").foreach { dir =>
      intercept[IllegalArgumentException](PgSqlGen.copyStatement(td, dir))
    }
  }

  test("PgSqlGen.compatView: renamed cols mapped, skipped cols NULL") {
    val orig = TableDef("res", Seq(
      ColumnDef("id", "int", isPk = true),
      ColumnDef("resa_id", "int"),
      ColumnDef("tmp", "varchar")))
    val changed = TableDef("reminder", Seq(
      ColumnDef("id", "int", isPk = true),
      ColumnDef("reservation_id", "int"),
      ColumnDef("tmp", "varchar", skip = true)))
    val v = PgSqlGen.compatView(orig, changed, "v1", "public")
    assert(v.contains("CREATE VIEW v1.res (\"id\", \"resa_id\", \"tmp\")"))
    assert(v.contains("SELECT \"id\", \"reservation_id\", NULL FROM public.reminder"))
  }

  test("PgSqlGen insert-line fixes: zero dates and escaped quotes") {
    assert(PgSqlGen.fixInsertLine("""VALUES ('0000-00-00 00:00:00')""")
      == """VALUES ('2000-01-01 00:00:00')""")
    assert(PgSqlGen.fixInsertLine("""VALUES ('it\'s')""") == """VALUES ('it''s')""")
    assert(PgSqlGen.fixInsertLine("""VALUES ('a\\')""") == """VALUES ('a\\')""")
    assert(PgSqlGen.escapeCell(null) == "NULL")
    assert(PgSqlGen.escapeCell("o'brien") == "'o''brien'")
    assert(PgSqlGen.escapeCell(true) == "true")
  }

  // --- Projector / ValueRules on real data ---

  test("Projector.extract pushes the _WHERE_ filter into the scan") {
    val df = Etl.etlWhereExtract(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") &&
      plan.contains("GreaterThan(o_totalprice"), s"no pushdown in:\n$plan")
  }

  test("etl_fk_orphans: kept + orphan = total orders") {
    val m = Etl.etlFkOrphans(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val total = Tables.load(spark, sf, "orders").count()
    assert(m("kept") + m("orphan") == total)
    assert(m("orphan") > 0, "orphan synthesis produced no rows")
  }

  test("dropFkOrphans keeps NULL-fk rows like the reference's NOT IN") {
    import spark.implicits._
    val child = Seq((1, Some(10)), (2, Some(99)), (3, None), (4, Some(10)))
      .toDF("id", "fk")
    val parent = Seq(10, 20).toDF("pk")
    val kept = Projector.dropFkOrphans(child, "fk", parent, "pk")
      .select("id").collect().map(_.getInt(0)).sorted
    // NOT IN over a NULL fk is not-true → row 3 survives; 99 is the orphan
    assert(kept.toSeq == Seq(1, 3, 4))
    val orphans = Projector.fkOrphans(child, "fk", parent, "pk")
      .select("id").collect().map(_.getInt(0)).toSeq
    assert(orphans == Seq(2))
  }

  test("dropFkOrphans and fkOrphans handle a self-referencing FK") {
    import spark.implicits._
    def staff = Seq[(Int, Option[Int])]((1, None), (2, Some(1)), (3, Some(99)))
      .toDF("id", "manager_id")
    val child = staff
    // the child itself as parent (migrate's shared loads) and a fresh
    // frame of the same rows: both carry the child's own `id` column
    Seq(child, staff).foreach { parent =>
      val kept = Projector.dropFkOrphans(child, "manager_id", parent, "id")
        .select("id").collect().map(_.getInt(0)).sorted
      assert(kept.toSeq == Seq(1, 2)) // NULL manager kept, 99 dropped
      val orphans = Projector.fkOrphans(child, "manager_id", parent, "id")
        .select("id").collect().map(_.getInt(0)).toSeq
      assert(orphans == Seq(3))
    }
  }

  test("runPreSql executes DELETE with NOT IN subquery, keeping NULL fks") {
    import spark.implicits._
    val reminders = Seq((1, Some(10)), (2, Some(99)), (3, None))
      .toDF("id", "resa_id")
    val reservations = Seq(10, 20).toDF("rid")
    // the reference's reminder example (rules/schema_changes.json:4-6)
    val out = Projector.runPreSql(reminders, "reservation_reminder",
      Seq("DELETE IGNORE FROM reservation_reminder WHERE resa_id NOT IN " +
        "(SELECT rid FROM reservations)"),
      Map("reservations" -> reservations))
      .select("id").collect().map(_.getInt(0)).sorted
    assert(out.toSeq == Seq(1, 3))
  }

  test("runPreSql executes UPDATE with multi-assign SET and WHERE guard") {
    import spark.implicits._
    val t = Seq((1, 5, 100), (2, 50, 200)).toDF("id", "a", "b")
    val out = Projector.runPreSql(t, "t",
      Seq("UPDATE IGNORE `t` SET `a` = coalesce(a, 0) + 1, b = b * 2 WHERE a < 10"),
      _ => sys.error("no refs expected"))
      .orderBy("id").collect()
    assert(out.map(r => (r.getInt(0), r.getInt(1), r.getInt(2))).toSeq ==
      Seq((1, 6, 200), (2, 50, 200)))
  }

  test("runPreSql leaves a caller's temp view of the table's name alone") {
    import spark.implicits._
    Seq(7).toDF("id").createOrReplaceTempView("presql_own")
    try {
      val out = Projector.runPreSql(Seq(1, 2).toDF("id"), "presql_own",
        Seq("DELETE FROM presql_own WHERE id = 2"),
        _ => sys.error("no refs expected"))
      assert(out.collect().map(_.getInt(0)).toSeq == Seq(1))
      assert(spark.catalog.tableExists("presql_own"), "caller's view was dropped")
      assert(spark.table("presql_own").collect().map(_.getInt(0)).toSeq == Seq(7))
    } finally spark.catalog.dropTempView("presql_own")
  }

  test("runPreSql resolves a referenced table through loadTable, not a view") {
    import spark.implicits._
    Seq(10, 20, 30).toDF("rid").createOrReplaceTempView("presql_parents")
    try {
      val out = Projector.runPreSql(Seq((1, 10), (2, 30)).toDF("id", "fk"), "c",
        Seq("DELETE FROM c WHERE fk NOT IN (SELECT rid FROM presql_parents)"),
        Map("presql_parents" -> Seq(10).toDF("rid")))
        .select("id").collect().map(_.getInt(0)).toSeq
      assert(out == Seq(1))
    } finally spark.catalog.dropTempView("presql_parents")
  }

  test("runPreSql throws on wrong-target and unsupported statements") {
    import spark.implicits._
    val t = Seq(1).toDF("id")
    intercept[IllegalArgumentException] {
      Projector.runPreSql(t, "t", Seq("DELETE FROM other WHERE id = 1"),
        _ => t)
    }
    intercept[UnsupportedOperationException] {
      Projector.runPreSql(t, "t", Seq("TRUNCATE TABLE t"), _ => t)
    }
  }

  // --- end-to-end pipeline dump (etl_pipeline_dump key) ---

  test("etl_pipeline_dump byte-round-trips through an independent CSV parser") {
    val outDir = Artifacts.root("pipeline_dump", sf)
    val expected = Etl.etlPipelineDump(spark, sf)
    // parse the dump bytes back with Spark's univocity CSV reader set
    // to the PG single-quote dialect — a parser sharing no code with
    // PgCopyWriter's hand-rendered cells
    val parsed = spark.read
      .schema("c_custkey BIGINT, full_name STRING, c_nationkey INT, c_acctbal DOUBLE")
      .option("header", "false").option("quote", "'").option("escape", "'")
      .option("nullValue", "NULL")
      .csv(s"$outDir/clients")
    assert(parsed.count() == expected.count())
    assert(parsed.exceptAll(expected).isEmpty && expected.exceptAll(parsed).isEmpty,
      "dump bytes parse back to a different table than the converted frame")
    // the 0->NULL FK raw-dump rule planted real NULL cells in the bytes
    assert(parsed.filter(col("c_nationkey").isNull).count() > 0)
    // the _WHERE_ rule filtered extraction
    assert(expected.count() <
      Tables.load(spark, sf, "customer").count())
    // nation rode along: its dump exists too
    assert(new java.io.File(s"$outDir/nation").listFiles()
      .exists(_.getName.endsWith(".txt")))
  }

  test("etl_pipeline_dump migration is write-once until the corpus changes") {
    import java.nio.file.{Files, Paths}
    val outDir = Artifacts.root("pipeline_dump", sf)
    Etl.etlPipelineDump(spark, sf).count()
    def dumpMtimes: Map[String, Long] =
      new java.io.File(s"$outDir/clients").listFiles()
        .filter(_.getName.endsWith(".txt"))
        .map(f => f.getName -> f.lastModified).toMap
    val before = dumpMtimes
    Etl.etlPipelineDump(spark, sf).count()
    assert(dumpMtimes == before, "repeat invocation rewrote the dump")
    // a corpus-fingerprint mismatch (regenerated fixture) forces a rebuild
    val tagPath = Paths.get(outDir, "_GRAFT_TAG")
    val goodTag = Files.readString(tagPath)
    Files.writeString(tagPath, "stale")
    Etl.etlPipelineDump(spark, sf).count()
    assert(Files.readString(tagPath) == goodTag,
      "stale layout was not rebuilt")
  }

  test("etl_cdc_upsert applies update/delete/insert images exactly once") {
    val base = Tables.load(spark, sf, "customer")
    val out = Etl.etlCdcUpsert(spark, sf)
    val nBase = base.count()
    val nDel = base.filter(col("c_custkey") % 10 === 3).count()
    val nIns = base.filter(col("c_custkey") % 10 === 7).count()
    assert(out.count() == nBase - nDel + nIns)
    // deletes gone, inserts present above the data-derived shift
    // (= max base key, so cloned keys are provably > every base key),
    // keys unique
    val maxKey = base.agg(max(col("c_custkey"))).head().getLong(0)
    assert(out.filter(col("c_custkey") % 10 === 3 &&
      col("c_custkey") <= maxKey).count() == 0)
    assert(out.filter(col("c_custkey") > maxKey).count() == nIns)
    assert(out.select("c_custkey").distinct().count() == out.count())
    // an updated row carries the new balance image
    val k = base.filter(col("c_custkey") % 10 === 1)
      .select("c_custkey", "c_acctbal").head()
    val updated = out.filter(col("c_custkey") === k.getLong(0))
      .select("c_acctbal").head().getDouble(0)
    assert(updated == k.getDouble(1) + 100.0)
  }

  test("etl_incremental_agg equals a full recompute and never rescans") {
    import java.nio.file.{Files, Paths}
    val got = Etl.etlIncrementalAgg(spark, sf).collect()
    // the maintained view is indistinguishable from aggregating the
    // upserted corpus from scratch — the defining property of
    // incremental view maintenance
    val want = Etl.etlCdcUpsert(spark, sf)
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_customers"),
        sum(col("c_acctbal").cast("decimal(18,2)")).cast("double").as("sum_bal"))
      .orderBy("c_mktsegment")
      .collect()
    assert(got.nonEmpty && got.length == want.length)
    got.zip(want).foreach { case (g, w) => assert(g == w,
      s"incremental view diverges from recompute at ${g.getString(0)}") }
    // the stored base aggregate is REUSED, not rebuilt: same files,
    // same mtimes on a second maintenance run
    val layout = Paths.get(Artifacts.root("baseagg", sf))
    def stamp() = Files.list(layout).toArray.map(_.toString).sorted
      .map(p => p -> Files.getLastModifiedTime(Paths.get(p)).toMillis).toSeq
    val before = stamp()
    Etl.etlIncrementalAgg(spark, sf).collect()
    assert(stamp() == before, "second run rebuilt the stored aggregate")
    // and the maintenance plan actually READS the stored view
    val plan = Etl.etlIncrementalAgg(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("graft_baseagg"),
      s"maintenance plan does not scan the stored aggregate:\n$plan")
  }

  test("etl_shard_export writes a globally-ordered sharded layout") {
    val out = Etl.etlShardExport(spark, sf)
    val src = Tables.load(spark, sf, "orders")
    assert(out.count() == src.count())
    // the write plan is the scale shape: a range-partitioning
    // exchange and NO single-partition funnel
    val plan = Etl.shardExportFrame(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("rangepartitioning"),
      "export plan lacks a RangePartitioning exchange")
    assert(!plan.contains("Coalesce"), "export plan funnels through coalesce")
    // per-file: internally sorted; across files: disjoint ascending
    // key ranges = a global total order over (o_orderdate, o_orderkey)
    val files = new java.io.File(Artifacts.root("shard_export", sf))
      .listFiles().filter(_.getName.endsWith(".parquet")).map(_.toString)
    assert(files.length > 1, "expected multiple shard files")
    val ranges = files.map { f =>
      val rows = spark.read.parquet(f)
        .select(col("o_orderdate").cast("string"), col("o_orderkey"))
        .collect()
        .map(r => (r.getString(0), r.getLong(1)))
      assert(rows.sameElements(rows.sortBy(identity)),
        s"shard $f is not internally sorted")
      (rows.head, rows.last)
    }.sortBy(_._1)
    ranges.sliding(2).foreach {
      case Array((_, prevMax), (nextMin, _)) =>
        assert(implicitly[Ordering[(String, Long)]].lt(prevMax, nextMin),
          s"shard ranges overlap: $prevMax >= $nextMin")
      case _ =>
    }
    // one-time layout: a second invocation must reuse, not rewrite
    val stamps = files.map(f => new java.io.File(f).lastModified()).toSeq
    Etl.etlShardExport(spark, sf).count()
    val after = files.map(f => new java.io.File(f).lastModified()).toSeq
    assert(stamps == after, "second run rewrote the export")
  }

  test("etl_snapshot_diff: change census matches the derivation; text never shuffles") {
    val rows = Etl.etlSnapshotDiff(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val ids = Tables.load(spark, sf, "documents")
      .select("doc_id").collect().map(_.getLong(0))
    // census straight from the derivation formulas
    val removed = ids.count(_ % 29 == 0)
    val changed = ids.count(i => i % 29 != 0 && i % 17 == 0)
    val added = ids.count(_ % 41 == 0)
    val census = rows.groupBy(_._2).view.mapValues(_.length).toMap
    assert(census.getOrElse("removed", 0) == removed, s"census $census")
    assert(census.getOrElse("changed", 0) == changed, s"census $census")
    assert(census.getOrElse("added", 0) == added, s"census $census")
    assert(rows.length == removed + changed + added, "unchanged rows leaked")
    rows.foreach {
      case (id, "removed") => assert(id % 29 == 0)
      case (id, "changed") => assert(id % 29 != 0 && id % 17 == 0)
      case (id, "added") => assert(id >= 1000000L && (id - 1000000L) % 41 == 0)
      case (id, c) => fail(s"unexpected change '$c' for $id")
    }
    // scale shape: both snapshot sides reduce to (doc_id, hash)
    // BEFORE the pinned shuffle join — no Exchange anywhere carries
    // the text column, however wide the documents are
    val df = Etl.etlSnapshotDiff(spark, sf)
    df.collect()
    val nodes = TestSpark.allNodes(df.queryExecution.executedPlan)
    val shuffledText = nodes.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
          if e.output.exists(_.name == "text") => e
    }
    assert(shuffledText.isEmpty, "document text crossed a shuffle")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("ShuffledHashJoin") && plan.contains("FullOuter"),
      s"expected a pinned shuffled full-outer join:\n$plan")
  }

  test("etl_scd2 builds a gapless single-current version history") {
    val rows = Etl.etlScd2(TestSpark.spark, TestSpark.sf).collect()
      .map(r => (r.getLong(0), r.getInt(1),
        Option(r.get(2)).map(_.asInstanceOf[Int]), r.getInt(3)))
    val byKey = rows.groupBy(_._1)
    val base = Tables.load(TestSpark.spark, TestSpark.sf, "customer")
    byKey.foreach { case (k, vs) =>
      // exactly one open (current) interval per key, and it is the
      // highest version
      val current = vs.filter(_._4 == 1)
      assert(current.length == 1, s"key $k has ${current.length} current rows")
      assert(current.head._2 == vs.map(_._2).max)
      assert(current.head._3.isEmpty, s"key $k current row has an end version")
      // intervals chain with no gaps: each closed row's end version is
      // the next row's start version
      val sorted = vs.sortBy(_._2)
      sorted.sliding(2).foreach {
        case Array(a, b) => assert(a._3.contains(b._2),
          s"key $k interval chain broken at version ${a._2}")
        case _ =>
      }
      // history depth follows the change waves
      val expect = if (k % 10 == 1) 3 else if (k % 5 == 1) 2 else 1
      assert(vs.length == expect, s"key $k has ${vs.length} versions")
    }
    assert(byKey.size.toLong == base.count(), "a key lost its history")
  }

  test("ValueRules.makeItTime keeps valid dd:dd and defaults the rest") {
    import spark.implicits._
    val df = Seq("12:34", "9:99x", null).toDF("t")
    val out = df.select(
      ValueRules.makeItTime(col("t"), nullable = false).as("nn"),
      ValueRules.makeItTime(col("t"), nullable = true).as("n")).collect()
    assert(out.map(_.getString(0)).toSeq == Seq("12:34", "00:00", "00:00"))
    assert(out.map(r => Option(r.getString(1))).toSeq ==
      Seq(Some("12:34"), None, None))
  }

  test("etl_cdc_deletes: tombstone visibility across all three transitions") {
    val alive = Etl.etlCdcDeletes(spark, sf).collect()
      .map(r => r.getAs[Long]("c_custkey") -> r.getAs[Int]("v")).toMap
    val baseKeys = Tables.load(spark, sf, "customer")
      .select("c_custkey").collect().map(_.getLong(0))
    assert(baseKeys.nonEmpty)
    baseKeys.foreach { k =>
      val expected: Option[Int] =
        if (k % 30 == 3) { // deleted at v1, re-inserted at v2...
          if (k % 60 == 33) None // ...then killed by the v3 tombstone
          else Some(2)           // ...and still alive at v2
        } else if (k % 10 == 3) None   // plain v1 delete
        else if (k % 20 == 9) None     // plain v3 delete
        else Some(0)                   // untouched base image
      assert(alive.get(k) == expected,
        s"key $k: expected $expected, got ${alive.get(k)}")
    }
    // exactly one image version survives per key — never both v0 and v2
    assert(alive.size == alive.keySet.size)
  }

  test("etl_time_travel snapshots equal direct per-version replays") {
    val got = Etl.etlTimeTravel(spark, sf).collect()
      .groupBy(_.getAs[Int]("as_of"))
      .map { case (v, rs) =>
        v -> rs.map(r => (r.getAs[Long]("c_custkey"), r.getAs[Int]("v"))).toSet }
    val baseKeys = Tables.load(spark, sf, "customer")
      .select("c_custkey").collect().map(_.getLong(0)).toSet
    // replay each snapshot from first principles
    def alive(asOf: Int): Set[(Long, Int)] = baseKeys.flatMap { k =>
      val images = Seq(0 -> k).filter(_ => true) ++
        (if (k % 30 == 3) Seq(2 -> k) else Nil)
      val tombs = (if (k % 10 == 3) Seq(1) else Nil) ++
        (if (k % 20 == 9 || k % 60 == 33) Seq(3) else Nil)
      images.collect { case (v, key)
        if v <= asOf && !tombs.exists(t => t > v && t <= asOf) => (key, v) }
    }
    (0 to 3).foreach { v =>
      assert(got.getOrElse(v, Set.empty) == alive(v), s"snapshot $v differs")
    }
    // snapshot 3 must equal the merge-on-read current state
    val current = Etl.etlCdcDeletes(spark, sf).collect()
      .map(r => (r.getAs[Long]("c_custkey"), r.getAs[Int]("v"))).toSet
    assert(got(3) == current)
  }

  test("etl_cdc_deletes never rewrites or shuffles the corpus side") {
    val plan = Etl.etlCdcDeletes(spark, sf).queryExecution.executedPlan
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val shuffles = TestSpark.allNodes(plan).collect {
      case s: ShuffleExchangeExec => s
    }
    // tombstone max-version agg + ordered output only; the corpus-side
    // visibility join must stay broadcast (merge-on-read contract)
    assert(shuffles.length <= 2,
      s"deletion-vector read should shuffle only tombstones, saw ${shuffles.length}")
  }

  test("etl_vacuum preserves every retained snapshot and reclaims rows") {
    val vac = Etl.etlVacuum(spark, sf).collect()
    val imgs = vac.filter(_.getString(0) == "image")
      .map(r => (r.getLong(1), r.getInt(2), r.getDouble(5))).toSeq
    val tombs = vac.filter(_.getString(0) == "tombstone")
      .map(r => (r.getLong(1), r.getInt(2))).toSeq
    // full-log reference, straight from the derivation
    val base = Tables.load(spark, sf, "customer").collect()
      .map(r => (r.getLong(0), r.getDouble(3))).toSeq
    val fullImages = base.map { case (k, b) => (k, 0, b) } ++
      base.filter(_._1 % 30 == 3).map { case (k, b) => (k, 2, b + 500.0) }
    val fullTombs = base.filter(_._1 % 10 == 3).map(x => (x._1, 1)) ++
      base.filter(x => x._1 % 20 == 9 || x._1 % 60 == 33).map(x => (x._1, 3))
    def visible(im: Seq[(Long, Int, Double)], tb: Seq[(Long, Int)],
        asOf: Int): Set[(Long, Int, Double)] =
      im.filter { case (k, v, _) => v <= asOf &&
        !tb.exists(t => t._1 == k && t._2 > v && t._2 <= asOf) }.toSet
    // every snapshot at or after the retention horizon reads the same
    (2 to 3).foreach { s =>
      assert(visible(imgs, tombs, s) == visible(fullImages, fullTombs, s),
        s"snapshot $s diverged after vacuum")
    }
    // and the vacuum actually reclaimed images AND folded tombstones
    assert(imgs.length < fullImages.length, "no image reclaimed")
    assert(tombs.length < fullTombs.length, "no tombstone folded")
  }

  test("etl_dq_report counts violations exactly; mixed pass/fail is real") {
    val got = Etl.etlDqReport(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getBoolean(3)))
      .toMap
    val cust = Tables.load(spark, sf, "customer").collect()
    val ord = Tables.load(spark, sf, "orders").collect()
    val negBal = cust.count(_.getDouble(3) < 0).toLong
    assert(got("customer_acctbal_nonneg") == ((cust.length.toLong, negBal, negBal == 0)))
    assert(negBal > 0, "fixture should have firing rules")
    val dupCust = ord.map(_.getLong(1)).groupBy(identity).count(_._2.length > 1).toLong
    assert(got("orders_custkey_unique")._2 == dupCust && dupCust > 0)
    // the clean rules really pass
    Seq("orders_custkey_fk", "lineitem_qty_range", "orders_status_domain",
      "orders_orderkey_unique").foreach { r =>
      assert(got(r)._2 == 0L && got(r)._3, s"rule $r should pass clean")
    }
  }

  test("PgSqlGen.generateSqlUser provisions idempotently, reference semantics") {
    val sql = PgSqlGen.generateSqlUser(Some("app_user"), Some("p$ss'wd"),
      "client_42")
    // idempotent create-or-alter with the reference's $ -> \0024
    // escape inside U&'' (plus quote doubling, which the reference
    // lacked and would break on)
    assert(sql.contains("CREATE USER app_user WITH PASSWORD U&'p\\0024ss''wd'"))
    assert(sql.contains("ALTER USER app_user WITH PASSWORD U&'p\\0024ss''wd'"))
    assert(sql.contains("DO $$DECLARE") && sql.contains("END$$;"))
    assert(sql.contains("ALTER DATABASE client_42 OWNER TO app_user"))
    assert(sql.contains("GRANT CONNECT ON DATABASE client_42 TO app_user"))
    assert(sql.contains("GRANT b7group_user TO app_user"))
    Seq("public", "v1").foreach { sch =>
      assert(sql.contains(s"GRANT USAGE ON SCHEMA $sch TO app_user"))
      assert(sql.contains(
        s"GRANT ALL PRIVILEGES ON ALL TABLES IN SCHEMA $sch TO app_user"))
      assert(sql.contains(
        s"ALTER DEFAULT PRIVILEGES IN SCHEMA $sch GRANT ALL ON TABLES TO app_user"))
    }
    assert(sql.contains("search_path TO public, v1"))
    // the reference's guards: root/empty/absent credentials emit nothing
    assert(PgSqlGen.generateSqlUser(Some("root"), Some("x"), "db").isEmpty)
    assert(PgSqlGen.generateSqlUser(Some(""), Some("x"), "db").isEmpty)
    assert(PgSqlGen.generateSqlUser(None, Some("x"), "db").isEmpty)
    assert(PgSqlGen.generateSqlUser(Some("u"), None, "db").isEmpty)
  }

  test("etl_partition_evolution: each era prunes at its own granularity") {
    val df = Etl.etlPartitionEvolution(spark, sf)
    df.collect() // build the two-era layout
    val root = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    val scans = TestSpark.allNodes(root).collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scans.length == 2, s"expected two era scans, got ${scans.length}")
    val byEra = scans.map(sc =>
      (sc.relation.location.rootPaths.head.toString, sc.selectedPartitions))
    val oldEra = byEra.find(_._1.contains("era_year")).get._2
    val newEra = byEra.find(_._1.contains("era_month")).get._2
    // old spec prunes to ONE year directory (months filter row-level —
    // the coarseness that motivates evolving the spec)...
    assert(oldEra.partitionCount == 1,
      s"old era scanned ${oldEra.partitionCount} partitions")
    // ...the new spec prunes straight to ONE (year, month) directory
    assert(newEra.partitionCount == 1,
      s"new era scanned ${newEra.partitionCount} partitions")
    val evoRoot = Artifacts.root("partevo", sf)
    val newAll = spark.read.parquet(s"$evoRoot/era_month")
      .select("o_year", "o_month").distinct().count()
    assert(newAll > 12, s"new era has only $newAll month partitions")
    assert(newEra.totalNumberOfFiles <
      spark.read.parquet(s"$evoRoot/era_month").inputFiles.length)
  }

  test("etl_bad_records routes corrupt lines to quarantine, loses nothing") {
    val got = Etl.etlBadRecords(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1),
        Option(r.get(2)).map(_.asInstanceOf[Double])))
    val base = Tables.load(spark, sf, "orders")
      .select("o_orderkey", "o_orderstatus").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val wantQuarantine = base.count(_._1 % 13 == 0).toLong
    val q = got.find(_._1 == "_QUARANTINED_").get
    assert(q._2 == wantQuarantine && q._3.isEmpty)
    // per-status good counts match the corruption formula, and the
    // total reconciles: nothing dropped, nothing double-counted
    val wantGood = base.filter(_._1 % 13 != 0).groupBy(_._2)
      .view.mapValues(_.length.toLong).toMap
    got.filterNot(_._1 == "_QUARANTINED_").foreach { case (s, n, p) =>
      assert(n == wantGood(s), s"status $s: $n != ${wantGood(s)}")
      assert(p.nonEmpty)
    }
    assert(got.map(_._2).sum == base.length)
  }

  test("etl_manifest_prune consults file stats and actually prunes") {
    Etl.etlManifestPrune(spark, sf).collect() // build layout + manifest
    val root = Artifacts.root("manifest", sf)
    val allFiles = spark.read.parquet(s"$root/manifest").count()
    val sel = Etl.manifestSelectedFiles(spark, root)
    assert(sel.nonEmpty && sel.size < allFiles,
      s"manifest did not prune: ${sel.size} of $allFiles files selected")
    // file-level triage loses no rows: the selected files hold every
    // predicate row the full table holds
    val pred = col("o_orderkey").between(Etl.manifestLo, Etl.manifestHi)
    val full = Tables.load(spark, sf, "orders").filter(pred).count()
    val pruned = spark.read.parquet(sel: _*).filter(pred).count()
    assert(pruned == full, s"pruned scan lost rows: $pruned != $full")
  }

  test("etl_anonymize pseudonyms are stable, joinable, and PII-free") {
    import graft.operators.Etl
    val rows = Etl.etlAnonymize(spark, sf).collect()
    val cust = Tables.load(spark, sf, "customer").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(3)))
    assert(rows.length == cust.length)
    // pseudonym is the documented keyed hash — any consumer (another
    // table's FK column run through the same rule) joins on it
    val md = java.security.MessageDigest.getInstance("SHA-256")
    def pseudo(k: Long): String =
      md.digest(s"graft:$k".getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString
    val expected = cust.map(c => pseudo(c._1)).toSet
    assert(rows.map(_.getAs[String]("c_pseudonym")).toSet == expected)
    // no raw name survives; the mask keeps exactly the last 3 chars
    val names = cust.map(c => c._1 -> c._2).toMap
    rows.foreach { r =>
      val masked = r.getAs[String]("c_name_masked")
      assert(masked.startsWith("***-") && masked.length == 7)
    }
    assert(!rows.exists(r => names.values.toSet.contains(
      r.getAs[String]("c_name_masked"))), "raw names must not survive")
    // generalization: bands are coarser than balances
    val bands = rows.map(_.getAs[Long]("c_acctbal_band")).distinct
    assert(bands.length < cust.map(_._3).distinct.length)
  }

  test("etl_table_checksum is row-order and partitioning independent") {
    import graft.operators.Etl
    val a = Etl.etlTableChecksum(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(a.length == 3 && a.forall(_._3 > 0))
    // identity must be content-derived: a re-read under a different
    // partitioning yields the identical checksums
    val before = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try {
      spark.conf.set("spark.sql.files.maxPartitionBytes", "65536")
      val b = Etl.etlTableChecksum(spark, sf).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
      assert(a.toSeq == b.toSeq)
    } finally spark.conf.set("spark.sql.files.maxPartitionBytes", before)
    // and content-sensitive: one flipped cell changes the table's sum
    val cust = Tables.load(spark, sf, "customer")
    val tweaked = cust.withColumn("c_name",
      when(col("c_custkey") === 1L, lit("Tampered")).otherwise(col("c_name")))
    val render = "concat_ws('|', coalesce(CAST(c_custkey AS STRING), '~null~'), " +
      "coalesce(c_name, '~null~'), coalesce(CAST(c_nationkey AS STRING), '~null~'), " +
      "coalesce(CAST(CAST(c_acctbal AS DECIMAL(12,2)) AS STRING), '~null~'), " +
      "coalesce(c_mktsegment, '~null~'))"
    def sumOf(df: org.apache.spark.sql.DataFrame): Long = df
      .select(expr(s"aggregate(transform(filter(split($render, ''), ch -> ch != ''), ch -> cast(ascii(ch) as bigint)), 0L, (acc, x) -> (acc * 31 + x) % 1000000007L)").as("h"))
      .agg(sum(col("h"))).collect()(0).getLong(0)
    assert(sumOf(tweaked) != a.find(_._1 == "customer").get._3)
    assert(sumOf(cust) == a.find(_._1 == "customer").get._3)
  }

  test("etl_fk_inference finds the star edges and rejects the decoy") {
    import graft.operators.Etl
    val rows = Etl.etlFkInference(spark, sf).collect()
      .map(r => ((r.getString(0), r.getString(1), r.getString(2)),
        (r.getLong(4), r.getLong(5), r.getBoolean(6)))).toMap
    assert(rows(("orders", "o_custkey", "customer"))._3,
      "o_custkey -> c_custkey must infer")
    assert(rows(("customer", "c_nationkey", "nation"))._3)
    assert(rows(("nation", "n_regionkey", "region"))._3)
    val decoy = rows(("orders", "o_orderkey", "customer"))
    assert(!decoy._3 && decoy._2 > 0,
      "the order-key decoy must be rejected with real orphans")
  }

  test("etl_id_gaps finds every hole, including bucket-spanning ones") {
    import graft.operators.Etl
    // fixture path: replay driver-side against a sorted walk
    val got = Etl.etlIdGaps(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    val keys = Tables.load(spark, sf, "customer").collect()
      .map(_.getLong(0)).filter(_ % 97 != 0).sorted
    val want = keys.zip(keys.tail).filter(p => p._2 - p._1 > 1)
      .map(p => (p._1 + 1, p._2 - 1, p._2 - p._1 - 1))
    assert(got.toSeq == want.toSeq && got.nonEmpty)
    // planted boundary case: a hole SPANNING bucket edges (the branch
    // the prime-modulus fixture holes never reach) plus whole missing
    // buckets inside it
    import spark.implicits._
    val planted = (Seq(1L, 2L, 999L) ++ Seq(3501L, 3502L, 7000L)).toDF("k")
    val g2 = Etl.gapsOf(planted).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(g2.toSeq == Seq((3L, 998L, 996L), (1000L, 3500L, 2501L),
      (3503L, 6999L, 3497L)))
  }

  test("etl_wap publishes only audited batches; rejection leaves state clean") {
    import graft.operators.Etl
    val rows = Etl.etlWap(spark, sf).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(4), r.getLong(5)))
      .sortBy(_._1)
    assert(rows.map(_._1).toSeq == Seq(0, 1, 2))
    val base = Tables.load(spark, sf, "customer")
      .select("c_custkey").collect().map(_.getLong(0))
    def slice(b: Int) = base.filter(_ % 3 == b)
    // batches 0 and 2 are clean and publish
    Seq(0, 2).foreach { b =>
      val r = rows(b)
      assert(r._2 == slice(b).length && r._3 == 0 && r._4 == 0 &&
        r._5 == "published")
    }
    // batch 1 carries both defects and is rejected
    val r1 = rows(1)
    val nulled = slice(1).count(_ % 5 == 1).toLong
    val dups = slice(1).count(k => k % 7 == 1 && k % 5 != 1).toLong
    assert(r1._2 == slice(1).length + slice(1).count(_ % 7 == 1))
    assert(r1._3 == nulled && r1._4 == dups && r1._5 == "rejected")
    // the published table holds EXACTLY the clean batches — the
    // rejected batch left no partial rows behind
    val expectTotal = (slice(0).length + slice(2).length).toLong
    assert(rows.forall(_._6 == expectTotal))
  }

  test("etl_scd2_lookup picks the version valid at observation time") {
    import graft.operators.Etl
    val dim = Etl.etlScd2(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getDouble(4), r.getString(5)))
      .groupBy(_._1)
    val got = Etl.etlScd2Lookup(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getInt(3),
        r.getDouble(4), r.getString(5)))
    val nOrders = Tables.load(spark, sf, "orders").count()
    assert(got.length == nOrders, "every fact must resolve a version")
    got.foreach { case (ok, (ck, obs, used, bal, seg)) =>
      val versions = dim(ck).filter(_._2 <= obs)
      val expect = versions.maxBy(_._2)
      assert(used == expect._2 && bal == expect._3 && seg == expect._4,
        s"order $ok: used $used, expected ${expect._2}")
      // naive current-version join would restate history: when the key
      // has later versions than obs, the picked one must differ
      assert(used <= obs)
    }
    // the fixture exercises real versioning: some lookups must NOT be
    // the key's current version
    val current = dim.view.mapValues(_.maxBy(_._2)._2).toMap
    assert(got.exists { case (_, (ck, _, used, _, _)) => used < current(ck) },
      "no lookup ever differed from current — fixture degenerate")
  }

  test("etl_survivorship golden records match a union-find replay") {
    import graft.operators.{Etl, StatsOps}
    val got = Etl.etlSurvivorship(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3),
        r.getDouble(4), r.getInt(5), r.getString(6))).toMap
    // union-find over the fuzzy pairs
    val parts = Tables.load(spark, sf, "part")
      .select("p_partkey", "p_name", "p_brand", "p_size", "p_retailprice")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getInt(3), r.getDouble(4)))
    val parent = scala.collection.mutable.Map(
      parts.map(p => p._1 -> p._1).toSeq: _*)
    def find(x: Long): Long =
      if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
    StatsOps.qFuzzyJoin(spark, sf).select("a_key", "b_key").collect()
      .foreach { r =>
        val (a, b) = (find(r.getLong(0)), find(r.getLong(1)))
        if (a != b) parent(math.max(a, b)) = math.min(a, b)
      }
    val clusters = parts.groupBy(p => find(p._1))
    assert(got.size == clusters.size)
    // every cluster's golden record follows the field rules exactly
    clusters.foreach { case (_, ms) =>
      val cid = ms.map(_._1).min
      val canonical = ms.minBy(_._1)
      val topBrand = ms.groupBy(_._3).view.mapValues(_.size).toSeq
        .sortBy { case (b, c) => (-c, b) }.head._1
      assert(got(cid) == ((ms.size.toLong, canonical._1, canonical._2,
        ms.map(_._5).max, ms.map(_._4).min, topBrand)), s"cluster $cid")
    }
    // the fixture must contain a real multi-member cluster with
    // competing field values, or survivorship is vacuous
    assert(got.values.exists(_._1 >= 2), "no multi-member cluster")
  }

  test("etl_late_dim conserves facts and walks all three lifecycles") {
    import org.apache.spark.sql.functions.col
    val got = graft.operators.Etl.etlLateArrivingDim(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getString(3), r.getBoolean(4)))
    val nOrders = Tables.load(spark, sf, "orders").count()
    assert(got.length.toLong == nOrders, "left joins must conserve facts")
    val names = Tables.load(spark, sf, "customer")
      .select(col("c_custkey"), col("c_name")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    got.foreach { case (_, ck, name, status, inferred) =>
      val expStatus =
        if (ck % 7 != 0) "initial"
        else if (ck % 21 != 0) "backfilled"
        else "unknown"
      assert(status == expStatus, s"cust $ck")
      assert(inferred == (expStatus != "initial"))
      val expName =
        if (expStatus == "unknown") "UNKNOWN" else names(ck)
      assert(name == expName, s"cust $ck name")
    }
    // all three lifecycle paths must be exercised by the fixture
    assert(got.map(_._4).distinct.toSet ==
      Set("initial", "backfilled", "unknown"))
  }

  test("etl_gdpr_erase cascades completely and balances its ledger") {
    import org.apache.spark.sql.functions.col
    val got = graft.operators.Etl.etlGdprErase(spark, sf).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(got.keySet == Set("customer", "orders", "lineitem"))
    // ledger: before - erased = after; nothing residual anywhere
    got.foreach { case (t, (b, e, a, res)) =>
      assert(b - e == a, s"$t ledger")
      assert(res == 0L, s"$t left residual references after erasure")
      assert(e > 0L, s"$t erased nothing — vacuous request set")
    }
    // replay the cascade driver-side
    val cust = Tables.load(spark, sf, "customer")
      .select(col("c_custkey")).collect().map(_.getLong(0))
    val ords = Tables.load(spark, sf, "orders")
      .select(col("o_orderkey"), col("o_custkey")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val li = Tables.load(spark, sf, "lineitem")
      .select(col("l_orderkey")).collect().map(_.getLong(0))
    val eo = ords.filter(_._2 % 97 == 0).map(_._1).toSet
    assert(got("customer")._2 == cust.count(_ % 97 == 0).toLong)
    assert(got("orders")._2 == ords.count(_._2 % 97 == 0).toLong)
    assert(got("lineitem")._2 == li.count(eo).toLong)
  }

  test("etl_reconcile flags exactly the diverged key ranges") {
    import org.apache.spark.sql.functions.col
    val got = graft.operators.Etl.etlReconcile(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getString(5)).toMap
    val keys = Tables.load(spark, sf, "orders")
      .select(col("o_orderkey")).collect().map(_.getLong(0))
    val expCount = keys.filter(_ % 1999 == 0).map(_ / 512L).toSet
    val expContent = keys.filter(_ % 1201 == 0).map(_ / 512L).toSet
    // every bucket with a dropped key is count_drift; buckets with
    // only corruption are content_drift; clean buckets are absent
    assert(got.keySet == (expCount ++ expContent))
    got.foreach { case (b, status) =>
      assert(status == (if (expCount(b)) "count_drift"
        else "content_drift"), s"bucket $b")
    }
    // both drift classes must appear, and some buckets must be clean
    assert(got.values.toSet == Set("count_drift", "content_drift"))
    assert(got.size < keys.map(_ / 512L).distinct.length,
      "every bucket diverged — bisection is vacuous")
  }

  test("etl_type_infer lands every column on its narrowest type") {
    val got = graft.operators.Etl.etlTypeInfer(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2),
        r.getString(7))).toMap
    val n = Tables.load(spark, sf, "orders").count()
    assert(got.keySet == Set("c_int", "c_dec", "c_date", "c_mixed",
      "c_nullable_int", "c_bool"))
    assert(got("c_int")._3 == "bigint")
    assert(got("c_dec")._3 == "decimal")
    assert(got("c_date")._3 == "date")
    // the poisoned column must NOT infer as int despite being mostly int
    assert(got("c_mixed")._3 == "varchar")
    assert(got("c_nullable_int")._3 == "bigint")
    assert(got("c_nullable_int")._2 > 0, "nullable column lost its nulls")
    assert(got("c_bool")._3 == "boolean")
    // value + null counts account for every row in every column
    got.values.foreach { case (nv, nn, _) => assert(nv + nn == n) }
  }

  test("etl_csv_sniff survives the poisoned-comma trap") {
    val got = graft.operators.Etl.etlCsvSniff(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getString(2),
        r.getLong(3))).toMap
    val expDelim = Map(0 -> "comma", 1 -> "semicolon", 2 -> "pipe",
      3 -> "tab")
    got.foreach { case (src, (nLines, verdict, fields)) =>
      val idx = src.stripPrefix("src").toInt % 4
      assert(verdict == expDelim(idx), s"$src verdict $verdict")
      // four fields -> true delimiter appears exactly 3 times per line
      assert(fields == 4L, s"$src fields $fields")
      assert(nLines > 0)
    }
    // the poison must actually exist: non-comma files contain commas
    // (a naive frequency sniffer would see them), yet none infer comma
    assert(got.keys.exists(_.stripPrefix("src").toInt % 4 != 0))
    assert(!got.exists { case (src, v) =>
      src.stripPrefix("src").toInt % 4 != 0 && v._2 == "comma"
    })
  }

  test("etl_partition_skew replays the layout audit exactly") {
    import org.apache.spark.sql.functions.{col, to_date, length}
    val got = graft.operators.Etl.etlPartitionSkew(spark, sf).collect()
      .map(r => r.getDate(0).toString -> (r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getBoolean(5))).toMap
    val rows = Tables.load(spark, sf, "events")
      .select(to_date(col("ts")), length(col("props"))).collect()
      .map(r => (r.getDate(0).toString, r.getInt(1).toLong))
    val byDay = rows.groupBy(_._1).view
      .mapValues(rs => (rs.length.toLong, rs.map(_._2).sum)).toMap
    val total = rows.length.toLong
    val sizes = byDay.values.map(_._1).toSeq.sorted
    val med = sizes((sizes.length + 1) / 2 - 1)
    assert(got.keySet == byDay.keySet)
    byDay.foreach { case (d, (n, b)) =>
      val ratio = n * 1000L / med
      assert(got(d) == ((n, b, n * 1000000L / total, ratio,
        ratio >= 2000L)), s"day $d")
    }
    // counts are conserved and the median day sits at ratio ~1000
    assert(got.values.map(_._1).sum == total)
    assert(got.values.exists(v => v._4 >= 900 && v._4 <= 1100))
  }

  test("etl_merge_all replays three-clause conditional MERGE semantics") {
    val got = Etl.etlMergeAll(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getInt(2),
        r.getDouble(3), r.getString(4), r.getString(5))).toMap
    val base = Tables.load(spark, sf, "customer").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2),
        r.getDouble(3), r.getString(4)))
    val shift = base.map(_._1).max + 1
    val exp = scala.collection.mutable.Map[Long,
      (String, Int, Double, String, String)]()
    base.foreach { case (k, name, nat, bal, seg) =>
      val isD = k % 11 == 2
      val isU = k % 7 == 1 && !isD
      if (isD && bal < 2000) () // deleted
      else if (isU && bal < 5000)
        exp(k) = (name, nat, bal + 1000.0, "UPGRADED", "updated")
      else exp(k) = (name, nat, bal, seg, "kept")
      if (k % 13 == 5 && bal > 0)
        exp(k + shift) =
          (s"NEW_${k + shift}", ((k + shift) % 25).toInt, bal,
            "FRESH", "inserted")
    }
    assert(got == exp.toMap)
    // every clause fired: conditional update, conditional delete
    // (rows missing), conditional insert, and untouched rows
    val actions = got.values.map(_._5).toSet
    assert(actions == Set("kept", "updated", "inserted"))
    assert(base.exists { case (k, _, _, bal, _) => k % 11 == 2 && bal < 2000 })
    // a matched row whose condition failed stayed (not deleted)
    assert(base.exists { case (k, _, _, bal, _) =>
      k % 11 == 2 && bal >= 2000 && got(k)._5 == "kept" })
  }

  test("etl_bitemporal resolves belief x effectivity incl. retroactivity") {
    val got = Etl.etlBitemporal(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)) ->
        (r.getLong(3), r.getLong(4))).toMap
    val base = Tables.load(spark, sf, "customer")
      .select(col("c_custkey"), col("c_mktsegment"),
        expr("cast(cast(c_acctbal as decimal(12,2)) * 100 as bigint)"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val exp = scala.collection.mutable.Map[(Long, Long, String),
      (Long, Long)]().withDefaultValue((0L, 0L))
    for {
      (k, seg, cents) <- base
      t <- Seq(1L, 3L)
      v <- Seq(1L, 2L)
    } {
      // ledger records for k, filtered by (tx <= t, valid <= v),
      // resolved by max (valid, tx)
      val recs = Seq((0L, 0L, cents)) ++
        (if (k % 5 == 1) Seq((1L, 1L, cents + 10000L)) else Nil) ++
        (if (k % 7 == 2) Seq((0L, 2L, cents + 700L)) else Nil) ++
        (if (k % 9 == 4) Seq((2L, 3L, cents + 20000L)) else Nil)
      val win = recs.filter(r => r._2 <= t && r._1 <= v).maxBy(r => (r._1, r._2))
      val cur = exp((t, v, seg))
      exp((t, v, seg)) = (cur._1 + 1, cur._2 + win._3)
    }
    assert(got == exp.toMap)
    // retroactivity: the tx-2 correction changes the V=1 totals
    // between belief times T=1 and T=3
    val segs = base.map(_._2).distinct
    assert(segs.exists(s => got((1L, 1L, s))._2 != got((3L, 1L, s))._2))
    // and a correction shadowed by a later business version never
    // leaks: keys with both k%5==1 and k%7==2 resolve to the valid-1
    // record at V>=1 regardless of T
    assert(base.exists { case (k, _, _) => k % 5 == 1 && k % 7 == 2 })
  }

  test("etl_currency_normalize converts through the rate dim with fallback") {
    val rows = Etl.etlCurrencyNormalize(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(rows.nonEmpty)
    rows.foreach { case (_, ym, rate, _, local, usd) =>
      if (ym <= 200012L) {
        // published months: the rate formula replays exactly
        assert(rate >= 500000L && rate < 1500000L)
      } else {
        // unpublished months fall back to parity, never NULL/drop
        assert(rate == 1000000L, s"month $ym must fall back")
      }
      // conversion direction follows the rate
      if (rate < 1000000L) assert(usd <= local)
      if (rate > 1000000L) assert(usd >= local)
    }
    // fixture orders reach into 2001: the fallback path is exercised
    assert(rows.exists(_._2 > 200100L))
    // replay one nation-month group end-to-end in BigInt
    val nations = Tables.load(spark, sf, "nation")
      .select("n_nationkey", "n_name").collect()
      .map(r => r.getInt(0).toLong -> r.getString(1)).toMap
    val custNation = Tables.load(spark, sf, "customer")
      .select("c_custkey", "c_nationkey").collect()
      .map(r => r.getLong(0) -> r.getInt(1).toLong).toMap
    val orders = Tables.load(spark, sf, "orders")
      .select(col("o_custkey"),
        expr("cast(cast(o_totalprice as decimal(14,2)) * 100 as bigint)"),
        expr("cast(year(o_orderdate) * 100 + month(o_orderdate) as bigint)"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val exp = orders.groupBy(o => (custNation(o._1), o._3)).map {
      case ((nk, ym), g) =>
        val rate = if (ym <= 200012L)
          500000L + (nk * 7919L + ym * 31L) % 1000000L else 1000000L
        (nations(nk), ym) -> ((rate, g.size.toLong,
          g.map(o => BigInt(o._2)).sum,
          g.map(o => BigInt(o._2 * rate / 1000000L)).sum))
    }
    assert(rows.length == exp.size)
    rows.foreach { case (name, ym, rate, n, local, usd) =>
      val (eRate, eN, eLocal, eUsd) = exp((name, ym))
      assert(rate == eRate && n == eN, s"($name,$ym) rate/count")
      assert(BigInt(local) == eLocal && BigInt(usd) == eUsd,
        s"($name,$ym) conversion")
    }
  }

  test("etl_orc_roundtrip and pipeline_jsonl_roundtrip are byte-faithful") {
    import graft.operators.Etl
    val cust = Tables.load(spark, sf, "customer")
    val orc = Etl.etlOrcRoundtrip(spark, sf)
    assert(orc.schema == cust.select(cust.columns.map(col): _*).schema,
      "ORC must round-trip the exact schema")
    val key = (r: org.apache.spark.sql.Row) => r.getLong(0)
    assert(orc.collect().sortBy(key).toSeq ==
      cust.collect().sortBy(key).toSeq,
      "ORC must round-trip every cell exactly (incl. doubles)")

    val docs = Tables.load(spark, sf, "documents")
      .select("doc_id", "lang", "source", "text")
    val jl = Etl.pipelineJsonlRoundtrip(spark, sf)
    assert(jl.schema == docs.schema)
    assert(jl.collect().sortBy(key).toSeq ==
      docs.collect().sortBy(key).toSeq,
      "JSONL must round-trip ids and UTF-8 text exactly")
    // the export is genuinely newline-delimited JSON, one object per
    // line — what an external loader expects (the corpus's own root,
    // not a /tmp scan that could hit another corpus)
    val dir = new java.io.File(Artifacts.root("jsonl", sf))
    val part = dir.listFiles().filter(_.getName.endsWith(".json")).head
    val line = scala.io.Source.fromFile(part, "UTF-8")
      .getLines().next()
    assert(line.startsWith("{") && line.endsWith("}") &&
      line.contains("\"doc_id\""))
  }

  test("etl_pg_users equals the driver-side PgSqlGen generator per row") {
    import graft.operators.Etl
    val rows = Etl.etlPgUsers(spark, sf).collect()
    val nations = Tables.load(spark, sf, "nation")
      .select("n_nationkey", "n_name").collect()
      .map(r => (r.getInt(0), r.getString(1)))
    // root (nationkey 0) is skipped, everyone else gets a script
    assert(rows.length == nations.length - 1)
    assert(!rows.exists(_.getAs[String]("usename") == "root"))
    // the distributed key and the driver-side generator can never
    // drift: byte equality per database
    val byDb = rows.map(r => r.getAs[String]("db_name") ->
      (r.getAs[String]("usename"), r.getAs[String]("user_sql"))).toMap
    nations.filter(_._1 != 0).foreach { case (k, name) =>
      val opcode = name.toLowerCase.replace(' ', '_')
      val exp = graft.sqlgen.PgSqlGen.generateSqlUser(
        Some(s"u_$opcode"), Some(s"$opcode$$$k"), s"client_$opcode")
      val (u, sql) = byDb(s"client_$opcode")
      assert(u == s"u_$opcode")
      assert(sql == exp, s"script for $opcode must equal PgSqlGen")
    }
    // the reference's $-escape quirk survived the distributed path
    rows.foreach { r =>
      val sql = r.getAs[String]("user_sql")
      assert(sql.contains("\\0024"))
      assert(sql.contains("CREATE USER ") && sql.contains("ALTER USER "))
    }
  }

  test("etl_reshard_plan: movers land ONLY on the new shard, at ~1/(k+1) volume") {
    import graft.operators.Etl
    val m = Etl.etlReshardPlan(spark, sf).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2)))
    val total = m.map(_._3).sum
    assert(total == Tables.load(spark, sf, "documents").count(),
      "every document must be placed exactly once")
    // the rendezvous guarantee, structurally: adding shard 8 moves a
    // doc ONLY if the new shard wins — no reshuffling among old shards
    val movers = m.filter { case (a, b, _) => a != b }
    assert(movers.nonEmpty, "a no-move plan means the hash degenerated")
    movers.foreach { case (a, b, n) =>
      assert(b == 8, s"doc moved between OLD shards ($a -> $b, $n docs)")
    }
    // moved volume ~ 1/9 of the corpus (wide tolerance — the fixture
    // is small; a modulo-hash layout would move ~7/8 instead)
    val moved = movers.map(_._3).sum
    assert(moved * 100 >= total * 3 && moved * 100 <= total * 25,
      s"moved $moved of $total — outside the rendezvous band")
    // placement actually spreads: every old shard holds stayers
    val stayShards = m.filter { case (a, b, _) => a == b }.map(_._1).toSet
    assert(stayShards == (0 to 7).toSet,
      s"old shards with stayers: $stayShards — placement collapsed")
  }
}
