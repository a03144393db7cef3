package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Key, Oracle, Tables}

/** As-of (point-in-time) join: for every left row, the right row with
  * the greatest timestamp ≤ the left timestamp within the same key —
  * the canonical enrichment join for event streams against
  * slowly-changing facts.
  *
  * Spark has no native ASOF join; per the extension preference order
  * this composes built-ins (option a): union both sides tagged,
  * sort-once per key by (ts, right-first), and carry the latest right
  * payload forward with last(_, ignoreNulls) over a running frame.
  * One shuffle + one sort over |L|+|R| — the same cost profile as a
  * sort-merge join, no per-row probing, no custom exec needed.
  * Right rows at exactly the left ts order first, giving the ≤
  * (inclusive) semantics DuckDB's ASOF JOIN uses.
  */
object AsOfJoin {

  /** Generic as-of left join.
    * @param left      left frame
    * @param right     right frame; duplicate (key, ts) rows resolve
    *                  deterministically to the greatest payload
    *                  struct — the tie-break both variants share
    * @param key       join key column name present in both
    * @param leftTs    left timestamp column
    * @param rightTs   right timestamp column
    * @param payload   right columns to carry (become nullable)
    */
  def asOf(left: DataFrame, right: DataFrame, key: String,
      leftTs: String, rightTs: String, payload: Seq[String]): DataFrame = {
    val leftCols = left.columns.toSeq
    // the payload travels as ONE struct carried by ONE last(ignoreNulls)
    // window: enrichment is all-or-nothing per right row. Independent
    // per-column windows would back-fill a NULL payload column from an
    // OLDER right row, silently mixing columns of different right rows
    // (and cost |payload| window passes instead of one).
    val pType = org.apache.spark.sql.types.StructType(
      payload.map(c => right.schema(c)))
    val unioned = left
      .withColumn("__ts", col(leftTs))
      .withColumn("__is_right", lit(0))
      .select(Seq(col(key), col("__ts"), col("__is_right")) ++
        leftCols.filter(_ != key).map(col) :+
        lit(null).cast(pType).as("__p"): _*)
      .unionByName(right
        // a NULL-ts right row can never be the as-of match (ts >= NULL
        // is not true in SQL ASOF); unfiltered it would sort first and
        // back-fill pre-history left rows
        .filter(col(rightTs).isNotNull)
        .withColumn("__ts", col(rightTs))
        .withColumn("__is_right", lit(1))
        .select(Seq(col(key), col("__ts"), col("__is_right")) ++
          leftCols.filter(_ != key).map(c =>
            lit(null).cast(left.schema(c).dataType).as(c)) :+
          struct(payload.map(col): _*).as("__p"): _*))
    // trailing __p sort key: right rows sharing a timestamp order by
    // payload struct, so last() deterministically keeps the GREATEST
    // payload among ts-ties — the same rule the broadcast variant gets
    // from sort_array + greatest-index binary search (AsOfPick). Left
    // rows have NULL __p and are unaffected. Without this, ties
    // resolved by arrival order and the two variants could disagree.
    val scan = Window.partitionBy(col(key))
      .orderBy(col("__ts"), col("__is_right").desc, col("__p"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    unioned
      .withColumn("__p", last(col("__p"), ignoreNulls = true).over(scan))
      .filter(col("__is_right") === 0)
      .select(leftCols.map(col) ++
        payload.map(c => col("__p").getField(c).as(c)): _*)
  }

  /** Sort-free broadcast as-of variant — the skewed-left-key shape.
    * The right side packs into ONE sorted struct array per key
    * (sort_array orders by the leading ts field), broadcasts, and
    * each left row binary-searches its match in generated code
    * (functions.AsOfPick). The left fact is never shuffled or sorted
    * — with a hot key, the union+window form must sort that key's
    * entire |L|+|R| partition, while this stays O(|L| log |R_key|)
    * map-side. Use when the packed right fits a broadcast (the
    * dims-like enrichment case); asOf() remains the both-sides-large
    * path. Duplicate (key, ts) right rows resolve to the greatest
    * payload struct (sort_array orders ties by payload; the binary
    * search returns the greatest index) — the same tie-break asOf()
    * defines via its trailing __p sort key. */
  def asOfBroadcast(left: DataFrame, right: DataFrame, key: String,
      leftTs: String, rightTs: String, payload: Seq[String]): DataFrame = {
    val packed = right
      .filter(col(rightTs).isNotNull) // NULL ts never matches (as above)
      .groupBy(col(key))
      .agg(sort_array(collect_list(
        struct(col(rightTs).as("__ts") +: payload.map(col): _*))).as("__arr"))
    val pick = org.apache.spark.sql.GraftSqlBridge.column(
      graft.functions.AsOfPick(
        org.apache.spark.sql.GraftSqlBridge.expression(col("__arr")),
        org.apache.spark.sql.GraftSqlBridge.expression(col(leftTs))))
    left.join(broadcast(packed), Seq(key), "left")
      .withColumn("__p", pick)
      .select(left.columns.map(col) ++
        payload.map(c => col("__p").getField(c).as(c)): _*)
  }

  /** q_asof_join: each event enriched with the user's most recent
    * order as of the event time. Orders are re-keyed to the event
    * user domain (custkey mod 150) and shifted +29 years so cutoffs
    * fall mid-stream; (key, ts) deduped by max orderkey. */
  def qAsofJoin(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(s, dir, "events")
      .select("event_id", "user_id", "ts")
    val ord = ordDim(s, dir)
    asOf(ev, ord, key = "user_id", leftTs = "ts", rightTs = "o_ts",
        payload = Seq("o_orderkey", "o_ts"))
      .orderBy("event_id")
  }

  val qAsofJoinSql: String =
    """WITH r AS (
      |  SELECT o_custkey % 150 AS user_id,
      |    o_orderdate + INTERVAL 29 YEAR AS o_ts,
      |    max(o_orderkey) AS o_orderkey
      |  FROM orders GROUP BY 1, 2)
      |SELECT e.event_id, e.user_id, e.ts, r.o_orderkey, r.o_ts
      |FROM events e ASOF LEFT JOIN r
      |  ON e.user_id = r.user_id AND e.ts >= r.o_ts
      |ORDER BY e.event_id""".stripMargin

  /** The same enrichment through the broadcast binary-search variant;
    * shares the DuckDB ASOF oracle since the semantics are identical. */
  def qAsofBcast(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(s, dir, "events")
      .select("event_id", "user_id", "ts")
    val ord = ordDim(s, dir)
    asOfBroadcast(ev, ord, key = "user_id", leftTs = "ts", rightTs = "o_ts",
        payload = Seq("o_orderkey", "o_ts"))
      .orderBy("event_id")
  }

  /** The shared (user, ts)-deduped order dim both nearest passes
    * enrich from. */
  private def ordDim(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "orders")
      .select((col("o_custkey") % 150).as("user_id"),
        (col("o_orderdate") + expr("INTERVAL 29 YEARS")).as("o_ts"),
        col("o_orderkey"))
      .groupBy("user_id", "o_ts")
      .agg(max(col("o_orderkey")).as("o_orderkey"))

  /** Nearest-in-time join — the third as-of mode beside backward
    * (q_asof_join: last value BEFORE) and interpolation
    * (q_asof_interpolate: blend around): match each event to the
    * order CLOSEST in time in either direction, the sensor-fusion /
    * record-linkage alignment where an observation may be logged
    * just before or just after the fact it describes. Ties (equal
    * distance, including an exact-timestamp hit) resolve backward —
    * the same inclusive rule the other modes share.
    *
    * Built as TWO passes of the same asOf machinery: the backward
    * pass as-is, the forward pass by negating both time axes to
    * micros (forward-as-of(ts) ≡ backward-as-of(−ts) — no new
    * operator, no new shuffle shape), then one row-local arbitration
    * on the absolute micro lags. Cost = two sort-merge-shaped scans,
    * each the audited asOf plan. */
  def qAsofNearest(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(s, dir, "events")
      .select("event_id", "user_id", "ts")
    val ord = ordDim(s, dir)
    val bk = ord.select(col("user_id"), col("o_ts").as("bk_ts"),
      col("o_orderkey").as("bk_key"))
    val fw = ord.select(col("user_id"),
      (-unix_micros(col("o_ts"))).as("o_neg"),
      col("o_ts").as("fw_ts"), col("o_orderkey").as("fw_key"))
    val pass1 = asOf(ev, bk, key = "user_id", leftTs = "ts",
      rightTs = "bk_ts", payload = Seq("bk_key", "bk_ts"))
    val pass2 = asOf(pass1.withColumn("ts_neg", -unix_micros(col("ts"))),
      fw, key = "user_id", leftTs = "ts_neg", rightTs = "o_neg",
      payload = Seq("fw_key", "fw_ts"))
    val db = unix_micros(col("ts")) - unix_micros(col("bk_ts"))
    val df = unix_micros(col("fw_ts")) - unix_micros(col("ts"))
    val back = col("fw_ts").isNull || (col("bk_ts").isNotNull && db <= df)
    pass2.select(col("event_id"), col("user_id"), col("ts"),
        when(back, col("bk_key")).otherwise(col("fw_key")).as("o_orderkey"),
        when(back, col("bk_ts")).otherwise(col("fw_ts")).as("o_ts"),
        when(col("bk_ts").isNull && col("fw_ts").isNull, lit(null))
          .when(back, "back").otherwise("fwd").as("direction"),
        when(back, db).otherwise(df).as("lag_us"))
      .orderBy("event_id")
  }

  val qAsofNearestSql: String =
    """WITH r AS (
      |  SELECT o_custkey % 150 AS user_id,
      |    o_orderdate + INTERVAL 29 YEAR AS o_ts,
      |    max(o_orderkey) AS o_orderkey
      |  FROM orders GROUP BY 1, 2),
      |b AS (
      |  SELECT e.event_id, r.o_orderkey AS bk_key, r.o_ts AS bk_ts
      |  FROM events e ASOF LEFT JOIN r
      |    ON e.user_id = r.user_id AND e.ts >= r.o_ts),
      |f AS (
      |  SELECT e.event_id, r.o_orderkey AS fw_key, r.o_ts AS fw_ts
      |  FROM events e ASOF LEFT JOIN r
      |    ON e.user_id = r.user_id AND e.ts <= r.o_ts),
      |j AS (
      |  SELECT e.event_id, e.user_id, e.ts,
      |    b.bk_key, b.bk_ts, f.fw_key, f.fw_ts,
      |    epoch_us(e.ts) - epoch_us(b.bk_ts) AS db,
      |    epoch_us(f.fw_ts) - epoch_us(e.ts) AS df,
      |    (f.fw_ts IS NULL OR (b.bk_ts IS NOT NULL
      |      AND epoch_us(e.ts) - epoch_us(b.bk_ts)
      |        <= epoch_us(f.fw_ts) - epoch_us(e.ts))) AS back
      |  FROM events e
      |  JOIN b ON b.event_id = e.event_id
      |  JOIN f ON f.event_id = e.event_id)
      |SELECT event_id, user_id, ts,
      |  CASE WHEN back THEN bk_key ELSE fw_key END AS o_orderkey,
      |  CASE WHEN back THEN bk_ts ELSE fw_ts END AS o_ts,
      |  CASE WHEN bk_ts IS NULL AND fw_ts IS NULL THEN NULL
      |       WHEN back THEN 'back' ELSE 'fwd' END AS direction,
      |  CAST(CASE WHEN back THEN db ELSE df END AS BIGINT) AS lag_us
      |FROM j ORDER BY event_id""".stripMargin

  val keys: Seq[Key] = Seq(
    Key("q_asof_join", qAsofJoin, Oracle(qAsofJoinSql)),
    Key("q_asof_bcast", qAsofBcast, Oracle(qAsofJoinSql)),
    Key("q_asof_nearest", qAsofNearest, Oracle(qAsofNearestSql)))

  val queries: Map[String, Key.Run] = Key.queries(keys)
}
