package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Key, Oracle, Tables}

/** Range (interval) join: points joined to the ranges containing
  * them. A naive inequality join plans as BroadcastNestedLoopJoin —
  * O(|P|·|R|) — because Spark has no equi-key to hash on. The scale
  * path bins the time axis: each range explodes to the fixed-width
  * bins it overlaps, each point maps to its single bin, and the join
  * becomes an equi-join on bin id followed by the exact containment
  * filter. Work drops to O(|P| + |R|·spread + candidates), shuffle is
  * keyed on bins, and skew follows bin width, which is tunable per
  * data density.
  */
object RangeJoin {

  /** Equi-binned containment join: rows of `points` paired with every
    * row of `ranges` whose [loCol, hiCol] contains ptCol (inclusive).
    * All three columns must be numeric (epoch micros for time).
    * @param binWidth bin size in the column's units; choose ~median
    *                 range length so a range spans O(1) bins. */
  def pointInRange(points: DataFrame, ranges: DataFrame,
      ptCol: String, loCol: String, hiCol: String,
      binWidth: Long): DataFrame = {
    val binned = ranges.withColumn("__bin",
      explode(sequence(floor(col(loCol) / binWidth),
        floor(col(hiCol) / binWidth))))
    // both sides are corpus-sized at deploy (points = the fact
    // stream, ranges = the validity windows): pin the bin-keyed
    // shuffle join — without the hint Spark broadcast the POINTS
    // side at fixture scale (a driver-side hashed-relation build of
    // the bigger table: the r8→r9 0.32→0.79 s drift, and a plan that
    // dies outright at 100 TB)
    binned.hint("shuffle_hash")
      .join(points.withColumn("__bin", floor(col(ptCol) / binWidth)),
        Seq("__bin"))
      .filter(col(ptCol) >= col(loCol) && col(ptCol) <= col(hiCol))
      .drop("__bin")
  }

  /** q_range_join: events joined to the 7-day order-validity windows
    * (shifted into the event epoch as in q_asof_join) that contain
    * them; per event, the number of active orders and the latest
    * order key. Oracle is the naive inequality join — identical
    * result, the binning is purely an execution strategy. */
  def qRangeJoin(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(s, dir, "events")
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("pt"))
    val week = 7L * 24 * 3600 * 1000000
    val ord = Tables.load(s, dir, "orders")
      .select((col("o_custkey") % 150).as("user_id"), col("o_orderkey"),
        unix_micros((col("o_orderdate") + expr("INTERVAL 29 YEARS"))
          .cast("timestamp")).as("lo"))
      .withColumn("hi", col("lo") + week)
    pointInRange(ev, ord.withColumnRenamed("user_id", "r_user"),
        "pt", "lo", "hi", binWidth = week)
      .filter(col("user_id") === col("r_user"))
      .groupBy(col("event_id"))
      .agg(count(lit(1)).as("n_active"),
        max(col("o_orderkey")).as("latest_order"))
      .orderBy(col("event_id"))
  }

  val qRangeJoinSql: String =
    """WITH r AS (
      |  SELECT o_custkey % 150 AS r_user, o_orderkey,
      |    epoch_us(CAST(o_orderdate + INTERVAL 29 YEAR AS TIMESTAMP)) AS lo
      |  FROM orders),
      |e AS (SELECT event_id, user_id, epoch_us(ts) AS pt FROM events)
      |SELECT event_id, COUNT(*) AS n_active, max(o_orderkey) AS latest_order
      |FROM e JOIN r ON e.user_id = r.r_user
      |  AND e.pt >= r.lo AND e.pt <= r.lo + 604800000000
      |GROUP BY event_id
      |ORDER BY event_id""".stripMargin

  val keys: Seq[Key] = Seq(
    Key("q_range_join", qRangeJoin, Oracle(qRangeJoinSql)))

  val queries: Map[String, Key.Run] = Key.queries(keys)
}
