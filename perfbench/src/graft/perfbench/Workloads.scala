package graft.perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{MapType, StringType}

import graft.{Pipeline, SparkEntry, Tables}
import graft.operators._
import graft.rules._
import graft.schema._
import graft.sources.PgCopyWriter
import graft.streaming.StreamOps

/** What one traced operation saw: the jobs and tasks in its window and
  * the streaming micro-batches that started in it. */
final case class OpTrace(op: String, stats: WindowStats,
    batches: (Int, Seq[Double]))

/** One benchmark workload: the operations of a pass and the untimed
  * checks around them. `run` is the only timed call. */
trait Workload {
  /** Operation names of one pass, in run order (seeded permutation). */
  def ops: Seq[String]
  /** Span name of an operation in a traced pass. */
  def spanName(op: String): String
  /** Untimed, once before the first warm-up pass. */
  def prepare(dir: String): Unit = ()
  /** Untimed, before each pass. */
  def beforePass(): Unit = ()
  /** One operation; `warm` marks a set-up (warm-up) pass. */
  def run(op: String, dir: String, warm: Boolean): Unit
  /** Untimed, after every pass: one line per operation whose output
    * failed its check. */
  def checkPass(dir: String): Seq[String]
  /** Untimed, after a traced pass: extra stage-by-stage spans. */
  def staged(dir: String): Unit = ()
  /** Per-layer metrics of one traced pass. */
  def layers(pass: Int, ops: Seq[OpTrace]): Map[String, Double]
  /** Untimed, at the end: delete what the workload wrote. */
  def cleanup(): Unit = ()
}

object Workloads {
  /** Board keys that run a hand-written fixpoint loop, each round a
    * fresh job (neither memoises its result inside the JVM) ... */
  val loopKeys: Seq[String] = Seq("q_shortest_path", "q_hierarchy")
  /** ... batch keys that run none ... */
  val plainKeys: Seq[String] = Seq("q1_agg", "q_match_recognize")
  /** ... and a micro-batch key: a windowed aggregation whose WAL,
    * offsets and state no batch key writes. */
  val streamKeys: Seq[String] = Seq("stream_events")
  val boardKeys: Seq[String] = loopKeys ++ plainKeys ++ streamKeys
  /** Keys whose driver gaps between jobs are reported. */
  val gapKeys: Seq[String] = loopKeys ++ streamKeys

  private lazy val modules: Seq[(String, Set[String])] = Seq(
    "Relational" -> Relational.queries.keySet,
    "StatsOps" -> StatsOps.queries.keySet,
    "MatchRecognize" -> MatchRecognize.queries.keySet,
    "StreamOps" -> StreamOps.queries.keySet)

  /** The graft module whose `queries` map defines `key`. */
  def moduleOf(key: String): String =
    modules.collectFirst { case (m, ks) if ks.contains(key) => m }
      .getOrElse(sys.error(s"no module defines $key"))

  /** Every per-layer metric name, whichever workload emits it. */
  lazy val layerNames: Seq[String] =
    Migrate.layerNames ++ Board.layerNames ++ Seq("trace.overhead_s")

  def apply(name: String, spark: SparkSession, tracer: Tracer, work: Path,
      seed: Long): Workload = {
    val rnd = new scala.util.Random(seed)
    name match {
      case "migrate_csv" =>
        new Migrate(spark, tracer, work, rnd.shuffle(Tables.all))
      case "board" => new Board(spark, tracer, rnd.shuffle(boardKeys))
      case other => sys.error(s"unknown workload $other")
    }
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p, java.nio.file.LinkOption.NOFOLLOW_LINKS)) {
      if (Files.isDirectory(p, java.nio.file.LinkOption.NOFOLLOW_LINKS)) {
        val s = Files.list(p)
        try s.iterator.asScala.toList.foreach(deleteTree) finally s.close()
      }
      Files.delete(p)
    }

  def treeBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator.asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }
}

/** A whole migration pass: `Pipeline.migrate` then
  * `Pipeline.writeArtifacts`, each one operation. */
class Migrate(spark: SparkSession, tracer: Tracer, work: Path,
    tables: Seq[String]) extends Workload {
  import Migrate._
  private val out = work.resolve("out")
  private val stagedOut = work.resolve("staged_out")
  private var result: Pipeline.MigrationResult = _
  private var expected = Map.empty[String, Long]
  private var sourceRows = 0L
  private var sourceBytes = 0L
  private var sqlDigest: Option[String] = None
  private val outRatio = scala.collection.mutable.Map[Int, Double]()

  val ops: Seq[String] = Seq("migrate", "bundle")
  def spanName(op: String): String =
    if (op == "migrate") "Pipeline.migrate" else "sqlgen.bundle_s"

  override def beforePass(): Unit = Workloads.deleteTree(out)

  def run(op: String, dir: String, warm: Boolean): Unit = op match {
    case "migrate" =>
      result = Pipeline.migrate(spark, dir, out.toString, tables, changes,
        pks = pks, indexes = indexes)
    case "bundle" =>
      Pipeline.writeArtifacts(spark, dir, out.toString, tables, changes,
        result, pks = pks, indexes = indexes)
  }

  /** Expected output rows per source table, computed from the source
    * with plain DataFrame operations: the change-set's `where`, pre-SQL
    * delete, join and orphan filters replayed independently of graft's
    * rule engine. */
  override def prepare(dir: String): Unit = {
    def load(t: String) = spark.read.parquet(s"$dir/$t.parquet")
    val migrated = tables.filterNot(t => changes.forTable(t).skip)
    expected = migrated.map { t =>
      val df = load(t)
      t -> (t match {
        case "part" => df.filter(!(col("p_size") > 45)).count()
        case "lineitem" =>
          df.join(load("part").select(col("p_partkey")),
            col("l_partkey") === col("p_partkey"), "left_semi").count()
        case "orders" =>
          df.join(load("customer").select(col("c_custkey")),
            col("o_custkey") === col("c_custkey"), "left_semi").count()
        case "events" => df.filter(col("value") > 1.0).count()
        case _ => df.count()
      })
    }.toMap
    val sources = migrated.map(t => t -> load(t).count()).toMap
    // a filter that drops nothing would let its rule turn into a no-op
    // unnoticed, so the corpus must give every replayed filter work
    Seq("part", "lineitem", "orders", "events").filter(expected.contains)
      .foreach(t => require(expected(t) < sources(t),
        s"corpus gives the $t filter nothing to drop (${sources(t)} rows)"))
    sourceRows = sources.values.sum
    sourceBytes = migrated.map(t =>
      Workloads.treeBytes(java.nio.file.Paths.get(s"$dir/$t.parquet").toRealPath())).sum
  }

  def checkPass(dir: String): Seq[String] = {
    val bad = Seq.newBuilder[String]
    result.tables.foreach { t =>
      val want = expected.getOrElse(t.originalName, -1L)
      val path = out.resolve(t.outputName)
      val written = csvLines(path)
      if (t.rows != want || written != want)
        bad += s"${t.originalName}: reported ${t.rows}, wrote $written, expected $want"
    }
    if (result.tables.map(_.originalName).toSet != expected.keySet)
      bad += s"migrated ${result.tables.map(_.originalName).sorted} != ${expected.keySet.toSeq.sorted}"
    val files = Files.list(out).iterator.asScala.map(_.getFileName.toString).toSet
    val want = bundleFiles ++ result.tables.map(_.outputName)
    if (files != want) bad += s"bundle holds ${files.toSeq.sorted}, expected ${want.toSeq.sorted}"
    val digest = sqlFilesDigest()
    if (sqlDigest.exists(_ != digest)) bad += s"bundle SQL digest $digest != ${sqlDigest.get}"
    if (sqlDigest.isEmpty) sqlDigest = Some(digest)
    outRatio(tracer.pass) = Workloads.treeBytes(out).toDouble / sourceBytes
    bad.result()
  }

  private def csvLines(p: Path): Long = {
    val s = Files.list(p)
    try s.iterator.asScala.filter(_.getFileName.toString.startsWith("part-"))
      .map { f =>
        val in = Files.newInputStream(f)
        try {
          val buf = new Array[Byte](1 << 16)
          var n = 0L
          var r = in.read(buf)
          while (r > 0) {
            var i = 0
            while (i < r) { if (buf(i) == '\n') n += 1; i += 1 }
            r = in.read(buf)
          }
          n
        } finally in.close()
      }.sum
    finally s.close()
  }

  private def sqlFilesDigest(): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    bundleFiles.toSeq.sorted.filter(_.endsWith(".sql")).foreach { f =>
      md.update(f.getBytes("UTF-8"))
      md.update(Files.readAllBytes(out.resolve(f)))
    }
    md.digest().take(8).map("%02x".format(_)).mkString
  }

  /** Pipeline.migrate's stages called one by one through each module's
    * public entry point, in the order migrate calls them, so every
    * stage gets its own span. One table at a time: the span boundaries
    * then hold exactly one stage's work. */
  override def staged(dir: String): Unit = tracer.span("staged") {
    Workloads.deleteTree(stagedOut)
    def load(t: String) = Tables.load(spark, dir, t)
    val originals = tables.map(t => tracer.span("schema.introspect_s")(
      Introspect.fromSpark(load(t), t, pks.getOrElse(t, Nil), indexes.getOrElse(t, Nil))))
    val kept = tracer.span("rules.schema_s") {
      SchemaRules(originals, changes)
      originals.filter(o => SchemaRules.applyTable(o, changes).isDefined)
    }
    kept.foreach { o =>
      tracer.span("table." + o.name) {
        val (src, orig) = tracer.span("schema.introspect_s") {
          val s = load(o.name)
          (s, Introspect.fromSpark(s, o.name))
        }
        val td = tracer.span("rules.schema_s")(
          SchemaRules.applyNode(SchemaRules.applyTable(orig, changes).get,
            NodeRules.mysqlToPg))
        val extracted = tracer.span("rules.extract_plan_s")(
          Projector.extract(src, orig, changes.forTable(o.name), load,
            Some(NodeRules.mysqlToPg)))
        val converted = tracer.span("rules.convert_plan_s")(
          ValueRules.applyRawDump(extracted, td))
        tracer.span("sources.pgcopy_write_s." + o.name)(
          PgCopyWriter.write(converted, stagedOut.resolve(td.name).toString))
        tracer.span("sources.recount_s")(converted.count())
      }
    }
    Workloads.deleteTree(stagedOut)
  }

  def layers(pass: Int, ops: Seq[OpTrace]): Map[String, Double] = {
    val self = (p: String => Boolean) => tracer.selfByPass(p).getOrElse(pass, 0.0)
    val m = ops.find(_.op == "migrate").get.stats
    Map(
      "Pipeline.jobs" -> m.jobs.toDouble,
      "Pipeline.tasks" -> m.tasks.toDouble,
      "Pipeline.read_amplification" -> m.recordsRead.toDouble / sourceRows,
      "Pipeline.rows_written" -> m.recordsWritten.toDouble,
      "Pipeline.bytes_written" -> m.bytesWritten.toDouble,
      "Pipeline.executor_cpu_s" -> m.executorCpuNs / 1e9,
      "Pipeline.gc_s" -> m.gcMs / 1e3,
      "Pipeline.shuffle_mb" -> m.shuffleBytes / 1e6,
      "Pipeline.spill_mb" -> m.spillBytes / 1e6,
      "Pipeline.driver_gap_s" -> m.gapMs / 1e3,
      "Pipeline.out_bytes_ratio" -> outRatio.getOrElse(pass, 0.0),
      "sources.pgcopy_write_s" -> self(_.startsWith("sources.pgcopy_write_s.")),
      "sqlgen.bundle_s" -> self(_ == "sqlgen.bundle_s")) ++
      spanLayers.map(n => n -> self(_ == n)) ++
      pgcopyTables.map(t => s"sources.pgcopy_write_s.$t" ->
        self(_ == s"sources.pgcopy_write_s.$t"))
  }

  override def cleanup(): Unit = {
    Workloads.deleteTree(out)
    Workloads.deleteTree(stagedOut)
  }
}

object Migrate {
  val pks: Map[String, Seq[String]] = Map(
    "region" -> Seq("r_regionkey"), "nation" -> Seq("n_nationkey"),
    "customer" -> Seq("c_custkey"), "supplier" -> Seq("s_suppkey"),
    "part" -> Seq("p_partkey"), "orders" -> Seq("o_orderkey"),
    "lineitem" -> Seq("l_orderkey", "l_linenumber"),
    "events" -> Seq("event_id"), "documents" -> Seq("doc_id"),
    "embeddings" -> Seq("vec_id"))

  val indexes: Map[String, Seq[IndexDef]] = Map(
    "orders" -> Seq(IndexDef("orders_custkey", Seq("o_custkey"))),
    "lineitem" -> Seq(IndexDef("lineitem_part_supp", Seq("l_partkey", "l_suppkey"))))

  /** One change-set exercising every rule kind at least once. It skips
    * `embeddings`: PgCopyWriter rejects its FLOAT[] column by design. */
  val changes: SchemaChanges = SchemaChanges(Map(
    "customer" -> TableChange(rename = Some("clients"),
      columns = Map(
        "c_name" -> ColumnChange(rename = Some("name")),
        "c_acctbal" -> ColumnChange(skip = true)),
      preSql = Seq("UPDATE customer SET c_mktsegment = lower(c_mktsegment) " +
        "WHERE c_acctbal < 0")),
    "part" -> TableChange(preSql = Seq("DELETE FROM part WHERE p_size > 45")),
    "orders" -> TableChange(
      columns = Map("o_custkey" -> ColumnChange(nullable = Some(false),
        reference = Some(Reference("clients", "c_custkey")))),
      utcShiftHours = Some(2),
      dropOrphans = Seq(OrphanRule("o_custkey", "customer", "c_custkey"))),
    "lineitem" -> TableChange(
      columns = Map("l_orderkey" -> ColumnChange(
        reference = Some(Reference("orders", "o_orderkey")), onDelete = Some("CASCADE"))),
      joins = Seq(JoinRule("part", "l_partkey", "p_partkey"))),
    "events" -> TableChange(where = Some("value > 1.0"), utcShiftHours = Some(-5)),
    "embeddings" -> TableChange(skip = true)))

  val bundleFiles: Set[String] = Set("mysql_schema.json", "mysql_schema_v2.json",
    "psql_schema.json", "psql_tables.sql", "psql_data.sql",
    "psql_index_fk.sql", "psql_views.sql")

  val spanLayers: Seq[String] = Seq("schema.introspect_s", "rules.schema_s",
    "rules.extract_plan_s", "rules.convert_plan_s", "sources.recount_s")
  val pgcopyTables: Seq[String] = Seq("lineitem", "orders", "events", "customer")

  val layerNames: Seq[String] = spanLayers ++ Seq("sources.pgcopy_write_s") ++
    pgcopyTables.map(t => s"sources.pgcopy_write_s.$t") ++ Seq("sqlgen.bundle_s",
      "Pipeline.jobs", "Pipeline.tasks", "Pipeline.read_amplification",
      "Pipeline.rows_written", "Pipeline.bytes_written",
      "Pipeline.executor_cpu_s", "Pipeline.gc_s", "Pipeline.shuffle_mb",
      "Pipeline.spill_mb", "Pipeline.driver_gap_s", "Pipeline.out_bytes_ratio")
}

/** A board pass: every key once. Timed passes write into the `noop`
  * sink; set-up passes instead compute each key's row count and result
  * digest, the first set-up pass's serving as the reference the later
  * ones must reproduce. */
class Board(spark: SparkSession, tracer: Tracer, keys: Seq[String])
    extends Workload {
  private val fns = SparkEntry.queries
  private val refs = scala.collection.mutable.Map[String, (Long, Long)]()
  private val bad = scala.collection.mutable.ArrayBuffer[String]()

  val ops: Seq[String] = keys
  def spanName(op: String): String = s"${Workloads.moduleOf(op)}.$op"

  def run(op: String, dir: String, warm: Boolean): Unit =
    if (!warm) fns(op)(spark, dir).write.format("noop").mode("overwrite").save()
    else {
      val got = digest(fns(op)(spark, dir))
      refs.get(op) match {
        case None => refs(op) = got
        case Some(ref) if got._1 != ref._1 =>
          bad += s"$op: ${got._1} rows, first warm-up had ${ref._1}"
        case Some(ref) if got._2 != ref._2 =>
          bad += s"$op: digest ${got._2}, first warm-up had ${ref._2}"
        case _ =>
      }
    }

  /** Drop blocks earlier keys pinned, as graft.Bench does before a
    * sample: nothing persisted is reused across calls. */
  override def beforePass(): Unit =
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))

  def checkPass(dir: String): Seq[String] = {
    val r = bad.toList
    bad.clear()
    r
  }

  /** Row count and an order-insensitive digest (the wrapping sum of
    * per-row xxhash64) of one key's result, in one job with no shuffle
    * so that the check costs about what the `noop` write does. */
  private def digest(raw: DataFrame): (Long, Long) = {
    val df = raw.toDF(raw.columns.indices.map(i => s"c$i"): _*)
    val cols = df.schema.fields.toSeq.map(f => f.dataType match {
      case _: MapType => col(f.name).cast(StringType)
      case _ => col(f.name)
    })
    val rows = spark.sparkContext.longAccumulator
    val hash = spark.sparkContext.longAccumulator
    df.select(xxhash64(cols: _*)).queryExecution.toRdd.foreachPartition { it =>
      var n = 0L
      var h = 0L
      it.foreach { r => n += 1; h += r.getLong(0) }
      rows.add(n)
      hash.add(h)
    }
    (rows.value.longValue, hash.value.longValue)
  }

  def layers(pass: Int, ops: Seq[OpTrace]): Map[String, Double] =
    ops.flatMap { o =>
      val p = spanName(o.op)
      Board.suffixes(o.op).map(x => s"$p.$x" -> (x match {
        case "s" => tracer.selfByPass(_ == p).getOrElse(pass, 0.0)
        case "jobs" => o.stats.jobs.toDouble
        case "shuffle_mb" => o.stats.shuffleBytes / 1e6
        case "gap_s" => o.stats.gapMs / 1e3
      }))
    }.toMap ++ Map("StreamOps.batches" -> ops.map(_.batches._1).sum.toDouble) ++
      StreamProbe.phases.indices.map(i =>
        s"StreamOps.${StreamProbe.phases(i)._1}" -> ops.map(_.batches._2(i)).sum)
}

object Board {
  /** The per-layer metrics reported for one key: its self time and job
    * count; shuffle volume for batch keys; driver gaps for loop and
    * micro-batch keys. */
  def suffixes(key: String): Seq[String] =
    Seq("s", "jobs") ++
      (if (Workloads.streamKeys.contains(key)) Nil else Seq("shuffle_mb")) ++
      (if (Workloads.gapKeys.contains(key)) Seq("gap_s") else Nil)

  def layerNames: Seq[String] =
    Workloads.boardKeys.flatMap(k =>
      suffixes(k).map(x => s"${Workloads.moduleOf(k)}.$k.$x")) ++
      ("StreamOps.batches" +: StreamProbe.phases.map(p => s"StreamOps.${p._1}"))
}
