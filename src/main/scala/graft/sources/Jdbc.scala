package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** JDBC source/sink — the reference's pymysql full-table cursor scan
  * (/root/reference/libs/MysqlParser.py:104-137) becomes a
  * range-partitioned parallel read; psycopg2 \copy becomes
  * DataFrameWriter.jdbc with batched inserts.
  *
  * The option layer is unit-tested; the runtime path (ranged parallel
  * read from PK stats, batched write, exact round-trip) is exercised
  * end-to-end against embedded Derby in JdbcSpec and by the
  * etl_jdbc_roundtrip query key — no external DB needed.
  */
object Jdbc {

  case class ConnInfo(url: String, user: String, password: String,
      driver: String = "org.postgresql.Driver")

  /** Partitioned-scan options: `numPartitions` concurrent range reads
    * over the PK, derived from its min/max stats — each executor
    * fetches an even PK slice instead of one cursor streaming the
    * whole table through the driver. */
  def partitionedReadOptions(conn: ConnInfo, table: String,
      pkColumn: String, pkMin: Long, pkMax: Long,
      numPartitions: Int): Map[String, String] = Map(
    "url" -> conn.url,
    "user" -> conn.user,
    "password" -> conn.password,
    "driver" -> conn.driver,
    "dbtable" -> table,
    "partitionColumn" -> pkColumn,
    "lowerBound" -> pkMin.toString,
    "upperBound" -> (pkMax + 1).toString,
    "numPartitions" -> numPartitions.toString,
    "fetchsize" -> "10000")

  /** Where Spark's stride-based ranges don't fit (string/composite
    * PKs), explicit per-partition predicates: mod-ranges over a hash
    * so every row lands in exactly one partition (crc32 is the
    * MySQL-side hash, matching the reference's source dialect). */
  def hashPredicates(pkColumn: String, numPartitions: Int): Array[String] =
    (0 until numPartitions).map(i =>
      s"mod(abs(crc32($pkColumn)), $numPartitions) = $i").toArray

  /** ANSI variant of [[hashPredicates]] for integer PKs (runs on any
    * engine with MOD, Derby included): disjoint, exhaustive. */
  def modPredicates(pkColumn: String, numPartitions: Int): Array[String] =
    (0 until numPartitions).map(i =>
      s"MOD($pkColumn, $numPartitions) = $i").toArray

  /** PK min/max off the live table — one single-row driver-side query,
    * exactly how the reference sizes its id window before the cursor
    * loop (MysqlParser.py:28-68). The bounds only steer partition
    * ranges; correctness never depends on them. */
  def pkStats(conn: ConnInfo, table: String, pkColumn: String): (Long, Long) = {
    Class.forName(conn.driver)
    val c = java.sql.DriverManager.getConnection(conn.url, conn.user,
      conn.password)
    try {
      // ANSI-quote: Spark's JDBC writer creates case-preserving quoted
      // columns, so the stat query must match them exactly
      val q = "\"" + pkColumn + "\""
      val rs = c.createStatement().executeQuery(
        s"SELECT MIN($q), MAX($q) FROM $table")
      rs.next()
      (rs.getLong(1), rs.getLong(2))
    } finally c.close()
  }

  def read(spark: SparkSession, conn: ConnInfo, table: String,
      pkColumn: String, pkMin: Long, pkMax: Long,
      numPartitions: Int): DataFrame =
    spark.read.format("jdbc")
      .options(partitionedReadOptions(conn, table, pkColumn, pkMin, pkMax,
        numPartitions))
      .load()

  /** Ranged parallel read with bounds taken from live PK stats. */
  def partitionedRead(spark: SparkSession, conn: ConnInfo, table: String,
      pkColumn: String, numPartitions: Int): DataFrame = {
    val (lo, hi) = pkStats(conn, table, pkColumn)
    read(spark, conn, table, pkColumn, lo, hi, numPartitions)
  }

  /** Predicate-partitioned read: one partition per WHERE clause. */
  def predicateRead(spark: SparkSession, conn: ConnInfo, table: String,
      predicates: Array[String]): DataFrame = {
    val props = new java.util.Properties()
    props.setProperty("user", conn.user)
    props.setProperty("password", conn.password)
    props.setProperty("driver", conn.driver)
    spark.read.jdbc(conn.url, table, predicates, props)
  }

  /** Batched parallel insert: each partition opens one connection and
    * writes `batchsize` rows per round trip. */
  def writeOptions(conn: ConnInfo, table: String): Map[String, String] = Map(
    "url" -> conn.url,
    "user" -> conn.user,
    "password" -> conn.password,
    "driver" -> conn.driver,
    "dbtable" -> table,
    "batchsize" -> "10000",
    "isolationLevel" -> "READ_COMMITTED")

  def write(df: DataFrame, conn: ConnInfo, table: String): Unit =
    df.write.format("jdbc").options(writeOptions(conn, table))
      .mode(SaveMode.Append).save()

  // ---- embedded Derby (in /opt/spark/jars) -----------------------

  val derbyDriver = "org.apache.derby.jdbc.EmbeddedDriver"

  /** A fresh embedded Derby database under a temp dir, deleted at JVM
    * exit (it lives as long as the caller's memoized connection).
    * Derby writes its derby.log relative to derby.system.home — pin it
    * to the temp tree so runs never litter the working directory. */
  def tempDerby(prefix: String): ConnInfo = {
    val dir = java.nio.file.Files.createTempDirectory(prefix)
    graft.Artifacts.deleteAtExit(dir)
    if (System.getProperty("derby.system.home") == null)
      System.setProperty("derby.system.home", dir.toString)
    ConnInfo(s"jdbc:derby:$dir/db;create=true", "app", "app", derbyDriver)
  }
}
