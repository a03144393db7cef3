package graft

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Loaders for the driver-generated TPC-H-ish parquet tables
  * (see TESTDATA.md). All queries take the sf directory as a
  * parameter so the same plan runs at any scale factor.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Session settings every graft entrypoint (Verify/Bench/tests) applies
    * at construction. events.ts is parquet TIMESTAMP(NANOS), which Spark
    * rejects unless nanos are read as long (truncated to micros below —
    * the same floor semantics DuckDB applies loading nanos into its
    * microsecond timestamps, so oracle parity is preserved). Set once
    * here instead of mutating conf inside the loader (order-dependence).
    */
  def configure(b: SparkSession.Builder): SparkSession.Builder = b
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.sql.session.timeZone", "UTC")
    // Driver fixtures write ts as TIMESTAMP(MICROS) isAdjustedToUTC=false,
    // which Spark >=3.4 would otherwise infer as TIMESTAMP_NTZ. Under the
    // UTC session timezone above, reading it as TIMESTAMP_LTZ is
    // semantics-preserving and keeps unix_micros()/window() usable.
    .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    // AQE partition coalescing sizes reduce stages by BYTES alone
    // (parallelismFirst still floors at minPartitionSize), which
    // serializes CPU-dense stages whose bytes are small: the
    // levenshtein verify of q_fuzzy_join ran as ONE task (jobstats:
    // 3 jobs / 3 tasks) because its post-shuffle input is <1 MB while
    // its compute is ~10⁹ DP cells. 64 KB keeps such stages parallel
    // on the fixture; a 100 TB deployment overrides via this same
    // conf (bytes dominate there and the 1 MB default is fine) —
    // see OPTIMIZATION_r14.md. Overridable through the env knob.
    .config("spark.sql.adaptive.coalescePartitions.minPartitionSize",
      sys.env.getOrElse("SPARK_GRAFT_MIN_PARTITION_SIZE", "64k"))
    .config("spark.sql.extensions", "graft.plans.GraftExtensions")

  /** The one local session every graft main runs in, then the JVM's
    * exit: runs `body`, stops the session and exits 0, or, if `body`
    * throws, prints the exception to stderr, stops the session and
    * exits 1. The exit is unconditional because a leaked non-daemon
    * thread anywhere (a library pool, an embedded DB engine) would
    * otherwise keep the JVM alive after `main` returns and hang the
    * harness waiting on it (seen once with migrate's executor pool).
    * Prints nothing to stdout, so a main's own last line stays last.
    *
    * `local[n]` with n shuffle partitions, n = `SPARK_GRAFT_CPUS` (a
    * deployment setting) or else the host's processor count. */
  def withSession(body: SparkSession => Unit): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = configure(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      // long-JVM hygiene: a 109-key × 3-sample Bench run accumulates
      // shuffle/broadcast state that ContextCleaner only drains after
      // a GC, and the default periodic GC is 30 MIN — longer than the
      // whole bench. Keys measured 5-10× slower at the END of the run
      // than solo (etl_join_extract 0.5 s solo vs 6.5 s as key ~30 of
      // 109) until the cleaner interval was dropped and the status
      // stores bounded.
      .config("spark.cleaner.periodicGC.interval", "30s")
      .config("spark.sql.ui.retainedExecutions", "10")
      .config("spark.ui.retainedJobs", "100")
      .config("spark.ui.retainedStages", "100"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val code =
      try { body(spark); 0 }
      catch { case e: Throwable => e.printStackTrace(); 1 }
      finally spark.stop()
    sys.exit(code)
  }

  /** One table of a corpus dir. The schema is read in this JVM from
    * the parquet footer Spark's own inference would read
    * ([[footerSchema]]) and handed to the reader, so a load runs no
    * Spark job: inference alone is a one-task job per call that
    * deserializes a broadcast Hadoop conf to read one footer. Nothing
    * is cached across calls: every load reads the footer again, so a
    * rewritten table never gets a stale schema and a timed load times
    * the read, not a lookup. */
  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    val df = footerSchema(spark, path)
      .fold(spark.read.parquet(path))(spark.read.schema(_).parquet(path))
    // driver fixtures store ts as TIMESTAMP(NANOS) (read as int64 under
    // nanosAsLong → truncate to micros here); GenScale'd corpora write
    // ts as a real TIMESTAMP(MICROS) already — branch on the type
    if (name == "events" &&
        df.schema("ts").dataType == org.apache.spark.sql.types.LongType)
      df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
    else df
  }

  /** The schema `spark.read.parquet(path)` infers, read from the file
    * that inference touches: the path itself if it is a file, else,
    * among the directory's entries not named `_*` or `.*`,
    * `_common_metadata`, then `_metadata`, then the first data file by
    * path. Its footer goes through Spark's own footer-to-schema
    * conversion under the session conf, so Spark's row metadata and
    * the nanos/NTZ settings apply exactly as in inference. None for a
    * layout this does not cover (subdirectories, which inference reads
    * as partitions, or no data file): the caller infers. A missing
    * path throws `FileNotFoundException`. */
  def footerSchema(spark: SparkSession, path: String): Option[StructType] = {
    val conf = spark.sessionState.newHadoopConf()
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    val top = fs.getFileStatus(root)
    val entries =
      if (top.isFile) Seq(top)
      else fs.listStatus(root).toSeq.sortBy(_.getPath.toString)
    def named(n: String) = entries.find(_.getPath.getName == n)
    val visible = entries.filterNot { s =>
      val n = s.getPath.getName
      n.startsWith("_") || n.startsWith(".")
    }
    if (visible.exists(_.isDirectory)) None
    else named("_common_metadata").orElse(named("_metadata"))
      .orElse(visible.headOption)
      .map { file =>
        val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(file, conf))
        val footer =
          try new Footer(file.getPath, reader.getFooter) finally reader.close()
        ParquetFileFormat.readSchemaFromFooter(footer,
          new ParquetToSparkSchemaConverter(spark.sessionState.conf))
      }
  }

  /** Corpus-dir tag that names every published artifact's root, on
    * the Spark side and in the oracle SQL Verify dumps
    * (`Artifacts.root`) — the two must agree byte-for-byte, so this
    * is the ONLY derivation. Truncated SHA-256
    * of the dir string, not 32-bit String.hashCode: two colliding dir
    * strings would share one artifact directory, and a concurrent
    * Verify on corpus A could clobber published payloads between
    * corpus B's publish and its oracle's read_parquet — the same
    * collision/stale-artifact hazard the mv_auto defTag already moved
    * off hashCode for (ScaleJoins.scala). 64 digest bits put an
    * accidental cross-corpus collision past any realistic dir count. */
  def sfTag(dir: String): String = digest64(dir)

  /** Truncated-SHA-256 tag shared by every artifact identity in the
    * engine (corpus dirs here, content/freshness signatures in
    * ScaleJoins.corpusTag): 64 digest bits, never 32-bit
    * String.hashCode — a hashCode collision on a freshness token
    * would read as a false "fresh" and silently serve a stale
    * artifact to both engines, invisible to the parity gate. */
  def digest64(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes("UTF-8")).take(8).map("%02x".format(_)).mkString

  /** Redistribute a LOW-SPLIT source before per-row CPU-heavy work
    * (JSON parsing, media decode): parquet cannot split inside a row
    * group, so a single-row-group file scans as ONE task and
    * serializes everything computed above it no matter how many cores
    * exist — the driver fixtures ship exactly that shape (events and
    * documents are single-file, single-row-group at EVERY sf, which
    * made q_json_table's parse single-threaded: 8.5 s at sf1 where
    * the plan itself is embarrassingly parallel). When the scan's
    * split count is well under the session's parallelism, one
    * round-robin shuffle of the raw rows buys full-width execution;
    * when the source is already wide — the 100 TB case, thousands of
    * files and row groups — the guard makes this a NO-OP and no
    * shuffle is added. */
  def spread(spark: SparkSession, df: DataFrame): DataFrame = {
    val target = spark.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions * 2 < target) df.repartition(target) else df
  }
}
