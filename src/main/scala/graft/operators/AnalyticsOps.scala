package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{Key, Oracle, Tables}
import graft.plans.GlobalRank

/** Second-wave analytic keys: exact re-aggregatable distinct
  * counting, sequential pattern matching (batch CEP), Pareto
  * frontiers, and deterministic weighted sampling.
  *
  * Reference analog: the migration tool's per-table introspection
  * before transfer (/root/reference/libs/MysqlParser.py:41-258) is
  * "understand the table before acting"; these keys extend that to
  * the distributed-analytics questions a 100 TB store gets asked —
  * how many distinct entities per segment (and can segment partials
  * be merged without re-scanning?), which event sequences convert,
  * which rows are Pareto-optimal, which sample respects weights
  * reproducibly.
  */
object AnalyticsOps {

  /** Bitmap bucket width: 60 id-slots per 64-bit word. 60 (not 64)
    * keeps the shift strictly below the sign bit so the SAME mask
    * expression is legal in every engine (DuckDB raises on
    * `1::BIGINT << 63`); the 6% density loss is irrelevant — the
    * point of the layout is the merge algebra, not packing ratio. */
  private val bmSlot = 60L

  /** Exact distinct users per (event_type, day) via re-aggregatable
    * bitmap partials — the exact-COUNT(DISTINCT) shape that survives
    * re-aggregation. COUNT(DISTINCT) at corpus scale forces either a
    * full shuffle of raw (group, user) pairs per query, or an
    * APPROXIMATE sketch (q_approx_distinct's HLL). A bitmap partial
    * is the third option: user ids pack into per-bucket 64-bit words
    * (`bit_or` of single-bit masks), and those words merge with
    * `bit_or` across ANY further grouping — so hourly segment
    * partials roll up to days, days to months, shards to global,
    * without touching raw rows again, and the count stays EXACT.
    * This query materializes the algebra in its own plan: hour-grain
    * partials → `bit_or`-merged day grain → popcount sum.
    *
    * Scale shape: every level is a hash aggregate with map-side
    * partial combine; the per-group state is O(id-range/64) words —
    * for a 10M-entity dimension that is ~160 KB per group worst case,
    * and sparse groups only materialize buckets they saw (roaring-
    * style containers are the production refinement of exactly this
    * layout). Raw events collapse to bitmap words at the FIRST
    * aggregate — the wide table crosses the wire once, as bits. */
  def qBitmapDistinct(s: SparkSession, dir: String): DataFrame = {
    val seg = Tables.load(s, dir, "events")
      .select(col("event_type"), to_date(col("ts")).as("day"),
        hour(col("ts")).as("hr"),
        expr(s"user_id div $bmSlot").as("bucket"),
        expr(s"shiftleft(1L, cast(user_id % $bmSlot as int))").as("mask"))
      .groupBy("event_type", "day", "hr", "bucket")
      .agg(expr("bit_or(mask)").as("bm"), count(lit(1)).as("n"))
    val merged = seg.groupBy("event_type", "day", "bucket")
      .agg(expr("bit_or(bm)").as("bm"), sum(col("n")).as("n"))
    merged.groupBy("event_type", "day")
      .agg(expr("cast(sum(bit_count(bm)) as bigint)").as("n_users"),
        sum(col("n")).as("n_events"))
  }

  val qBitmapDistinctSql: String =
    s"""WITH seg AS (
       |  SELECT event_type, CAST(ts AS DATE) AS day,
       |    EXTRACT(hour FROM ts) AS hr, user_id // $bmSlot AS bucket,
       |    bit_or(1::BIGINT << CAST(user_id % $bmSlot AS INT)) AS bm,
       |    COUNT(*) AS n
       |  FROM events GROUP BY 1, 2, 3, 4),
       |mrg AS (
       |  SELECT event_type, day, bucket, bit_or(bm) AS bm, SUM(n) AS n
       |  FROM seg GROUP BY 1, 2, 3)
       |SELECT event_type, day,
       |  CAST(SUM(bit_count(bm)) AS BIGINT) AS n_users,
       |  CAST(SUM(n) AS BIGINT) AS n_events
       |FROM mrg GROUP BY 1, 2""".stripMargin

  /** Conversion episode: a view, any run of clicks, then a purchase —
    * matched non-overlapping left-to-right (identical find semantics
    * in java.util.regex and RE2, so the count is engine-portable). */
  private[graft] val convPattern = "vc*p"

  /** Sequential pattern matching over per-user event paths — the
    * batch form of CEP (Flink's MATCH_RECOGNIZE / pattern API), which
    * Spark has no operator for: how many times did each user run the
    * view→clicks→purchase episode, and how many purchases followed a
    * view directly? The per-user event sequence collapses to a
    * character path (one initial per event type — the fixture's five
    * types have distinct initials) ordered by (ts, event_id), and
    * episodes become regex matches over the path — the classic
    * strings-as-sequences encoding that turns any regular-language
    * episode query into one aggregate plus one codegen'd regexp.
    *
    * Scale shape: ONE user-grain shuffle; collect_list partials
    * combine map-side, and per-user state is that user's event count
    * — the same bounded-key-state contract every CEP engine imposes
    * (production refinement: window the path by time to cap state for
    * immortal keys). The regex runs over O(users) strings, not the
    * event table. */
  def qEventPattern(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(s, dir, "events")
      .select(col("user_id"),
        struct(unix_micros(col("ts")).as("t"), col("event_id").as("id"),
          substring(col("event_type"), 1, 1).as("c")).as("e"))
    ev.groupBy("user_id")
      .agg(array_sort(collect_list(col("e"))).as("es"))
      .select(col("user_id"),
        expr("array_join(transform(es, x -> x.c), '')").as("path"))
      .select(col("user_id"),
        length(col("path")).cast(LongType).as("n_events"),
        expr(s"cast(regexp_count(path, '$convPattern') as bigint)")
          .as("n_conversions"),
        expr("cast(regexp_count(path, 'vp') as bigint)").as("n_direct"))
  }

  val qEventPatternSql: String =
    s"""WITH p AS (
       |  SELECT user_id,
       |    string_agg(substr(event_type, 1, 1), '' ORDER BY ts, event_id)
       |      AS path
       |  FROM events GROUP BY user_id)
       |SELECT user_id, CAST(length(path) AS BIGINT) AS n_events,
       |  CAST(len(regexp_extract_all(path, '$convPattern')) AS BIGINT)
       |    AS n_conversions,
       |  CAST(len(regexp_extract_all(path, 'vp')) AS BIGINT) AS n_direct
       |FROM p""".stripMargin

  /** Size-range bucket width for the skyline scan (TPC-H part sizes
    * span 1..50 → a handful of buckets at fixture scale; at corpus
    * scale width tracks the dimension's range / desired parallelism). */
  private val skyBucket = 10

  /** 2-D skyline (Pareto frontier) of parts: minimize p_size,
    * maximize p_retailprice — "no other part is at least as small AND
    * at least as expensive, strictly better in one". The selection
    * shape behind best-tradeoff queries (cost/latency, quality/size)
    * that plain ORDER BY cannot express.
    *
    * The naive formulation is an O(n²) dominance self-join; the sorted
    * formulation needs a GLOBAL running max over the size order — one
    * reducer for the whole table. This scan bucket-decomposes it the
    * way etl_id_gaps decomposes its sequence scan: size-range buckets
    * run the strictly-smaller-size running max bucket-locally
    * (parallelism = buckets), cross-bucket state reduces to ONE max
    * per bucket whose prefix-max frame is O(buckets) — model-sized at
    * any data size — and a per-size partition handles equal-size
    * domination. Dominance tests compare raw stored doubles
    * (selections, never arithmetic), so the frontier is hash-exact. */
  def qSkyline(s: SparkSession, dir: String): DataFrame = {
    val p = Tables.load(s, dir, "part")
      .select(col("p_partkey"), col("p_size"), col("p_retailprice"))
      .withColumn("b", expr(s"p_size div $skyBucket"))
    val bounds = p.groupBy("b").agg(max(col("p_retailprice")).as("bmax"))
    // the bounds frame is O(buckets): its global window is model-sized
    val prefix = bounds.withColumn("prev_max",
      max(col("bmax")).over(Window.orderBy(col("b"))
        .rowsBetween(Window.unboundedPreceding, -1)))
    val local = Window.partitionBy(col("b")).orderBy(col("p_size"))
      .rangeBetween(Window.unboundedPreceding, -1)
    val perSize = Window.partitionBy(col("p_size"))
    p.join(broadcast(prefix.select(col("b"), col("prev_max"))), Seq("b"))
      .withColumn("m1", greatest(
        coalesce(max(col("p_retailprice")).over(local),
          lit(Double.NegativeInfinity)),
        coalesce(col("prev_max"), lit(Double.NegativeInfinity))))
      .withColumn("m2", max(col("p_retailprice")).over(perSize))
      .filter(col("m1") < col("p_retailprice") &&
        !(col("m2") > col("p_retailprice")))
      .select(col("p_partkey"), col("p_size"), col("p_retailprice"))
  }

  val qSkylineSql: String =
    """SELECT a.p_partkey, a.p_size, a.p_retailprice FROM part a
      |WHERE NOT EXISTS (SELECT 1 FROM part b
      |  WHERE b.p_size <= a.p_size
      |    AND b.p_retailprice >= a.p_retailprice
      |    AND (b.p_size < a.p_size OR b.p_retailprice > a.p_retailprice))
      |""".stripMargin

  /** Scanline bucket width: one day of microseconds. Buckets multiply
    * with the corpus's time span, so scanline parallelism grows with
    * the data instead of being pinned to one reducer. */
  private val scanBucketUs = 86400L * 1000000L

  /** Interval duration for the concurrency scan: minutes derived from
    * event_id, so the oracle rebuilds identical intervals (the same
    * derivation discipline as q_interval_merge's fixture intervals). */
  private val concDurExpr = "(event_id % 7 + 1) * 60000000"

  /** Peak concurrency per event type — "how many sessions / GPUs /
    * connections were in flight at the worst moment, and when was it
    * first reached": each event occupies a half-open interval
    * [ts, ts + minutes(event_id)); the answer is the max of the
    * +1/−1 scanline's running sum. q_interval_merge unions intervals;
    * this key counts their OVERLAP DEPTH — the occupancy question
    * union-merging destroys.
    *
    * Scale shape: a global time-ordered running sum is one reducer,
    * so the scanline bucket-decomposes (the etl_id_gaps pattern on the
    * TIME axis): day buckets run local cumsums (parallelism = types ×
    * days, growing with the corpus), per-bucket delta sums reduce to
    * an O(types × days) frame whose prefix-sum window is model-sized,
    * and offsets broadcast back. Half-open semantics ride the sort
    * key (at equal t, −1 sorts before +1, so an interval ending as
    * another starts never double-counts); equal-(t,d) permutations
    * leave the prefix-value SET unchanged, so peak and its first time
    * are deterministic. Exact integer microseconds end to end. */
  def qConcurrency(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(s, dir, "events")
      .select(col("event_type"), unix_micros(col("ts")).as("t0"),
        col("event_id"))
    val pts = ev.select(col("event_type"), col("t0").as("t"),
        lit(1L).as("d"))
      .union(ev.select(col("event_type"),
        (col("t0") + expr(concDurExpr)).as("t"), lit(-1L).as("d")))
      .withColumn("b", expr(s"t div $scanBucketUs"))
    val local = Window.partitionBy(col("event_type"), col("b"))
      .orderBy(col("t"), col("d"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val withLocal = pts.withColumn("lc", sum(col("d")).over(local))
    // bucket totals are the LAST local cumsum of each bucket, read off
    // the window result with max_by — the aggregate reuses the window's
    // (type, bucket) partitioning, so it adds no exchange; the O(types
    // × days) totals frame's prefix window is model-sized at any size
    val off = withLocal.groupBy(col("event_type"), col("b"))
      .agg(max_by(col("lc"), struct(col("t"), col("d"))).as("bs"))
      .withColumn("off", coalesce(
        sum(col("bs")).over(Window.partitionBy(col("event_type"))
          .orderBy(col("b"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("event_type"), col("b"), col("off"))
    // peak + first attainment in ONE aggregate: max(struct(cum, -t))
    // picks the max cum, then the min t among its ties
    withLocal.join(broadcast(off), Seq("event_type", "b"))
      .withColumn("cum", col("lc") + col("off"))
      .groupBy(col("event_type"))
      .agg(max(struct(col("cum").as("c"), (-col("t")).as("nt"))).as("s"))
      .select(col("event_type"), col("s.c").as("peak"),
        (-col("s.nt")).as("peak_at"))
  }

  val qConcurrencySql: String =
    s"""WITH pts AS (
       |  SELECT event_type, epoch_us(ts) AS t, 1 AS d FROM events
       |  UNION ALL
       |  SELECT event_type, epoch_us(ts) + $concDurExpr, -1 FROM events),
       |c AS (
       |  SELECT event_type, t,
       |    SUM(d) OVER (PARTITION BY event_type ORDER BY t, d
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |  FROM pts),
       |p AS (SELECT event_type, MAX(cum) AS peak FROM c GROUP BY 1)
       |SELECT c.event_type, CAST(p.peak AS BIGINT) AS peak,
       |  MIN(c.t) AS peak_at
       |FROM c JOIN p ON c.event_type = p.event_type AND c.cum = p.peak
       |GROUP BY 1, 2""".stripMargin

  /** Coordinate space and join radius for the spatial join. The
    * plane is [0, 1000)²; points derive from keys by multiplicative
    * hashing (documented synthetic projection — the fixture has no
    * native geography), and the radius doubles as the grid cell
    * size, which is what makes the 3×3 neighborhood sufficient. */
  private val geoSpace = 1000L
  private val geoR = 50L

  /** Spatial join via grid blocking: every (customer, supplier) pair
    * within Chebyshev distance [[geoR]] on the synthetic plane — the
    * 2-D version of q_fuzzy_join's candidate-blocking-then-verify
    * shape (geofencing, store-coverage, pickup-matching queries).
    * Points snap to r-sized grid cells; the index side keys by ITS
    * cell only, the probe side explodes to its 3×3 cell neighborhood,
    * and the exact distance filter verifies inside the cell-keyed
    * join. Cell size = radius makes the neighborhood sufficient, and
    * since the index point lives in exactly one cell, each matching
    * pair surfaces exactly once — no post-join dedup.
    *
    * Scale shape: pair volume is Σ(cell density²), bounded by the
    * grid resolution, never |A|·|B|; the cell join is pinned to
    * shuffle (both sides are corpus-sized at production scale); the
    * 9× probe replication is the textbook spatial-join cost knob
    * (finer cells → more replicas, smaller cells — the r = cell
    * choice keeps it constant). All-integer coordinates end to end. */
  def qGeoJoin(s: SparkSession, dir: String): DataFrame = {
    val cust = Tables.load(s, dir, "customer")
      .select(col("c_custkey").as("cid"),
        expr(s"(c_custkey * 48271) % $geoSpace").as("cx"),
        expr(s"(c_custkey * 69621) % $geoSpace").as("cy"))
      .withColumn("gx", explode(expr(
        s"sequence(cx div $geoR - 1, cx div $geoR + 1)")))
      .withColumn("gy", explode(expr(
        s"sequence(cy div $geoR - 1, cy div $geoR + 1)")))
    val supp = Tables.load(s, dir, "supplier")
      .select(col("s_suppkey").as("sid"),
        expr(s"(s_suppkey * 48271 + 7) % $geoSpace").as("sx"),
        expr(s"(s_suppkey * 69621 + 13) % $geoSpace").as("sy"))
      .withColumn("gx", expr(s"sx div $geoR"))
      .withColumn("gy", expr(s"sy div $geoR"))
    cust.join(supp.hint("shuffle_hash"), Seq("gx", "gy"))
      .filter(abs(col("cx") - col("sx")) <= geoR &&
        abs(col("cy") - col("sy")) <= geoR)
      .select(col("cid"), col("sid"),
        greatest(abs(col("cx") - col("sx")),
          abs(col("cy") - col("sy"))).as("dist"))
  }

  val qGeoJoinSql: String =
    s"""WITH c AS (
       |  SELECT c_custkey AS cid, (c_custkey * 48271) % $geoSpace AS cx,
       |    (c_custkey * 69621) % $geoSpace AS cy
       |  FROM customer),
       |s AS (
       |  SELECT s_suppkey AS sid, (s_suppkey * 48271 + 7) % $geoSpace AS sx,
       |    (s_suppkey * 69621 + 13) % $geoSpace AS sy
       |  FROM supplier)
       |SELECT cid, sid, GREATEST(ABS(cx - sx), ABS(cy - sy)) AS dist
       |FROM c, s
       |WHERE ABS(cx - sx) <= $geoR AND ABS(cy - sy) <= $geoR""".stripMargin

  /** Cumulative distinct users per (event_type, day) — the DAU→CAU
    * growth curve. Spark (and standard SQL) cannot express
    * COUNT(DISTINCT) OVER (ORDER BY day): distinct is not a window
    * aggregate. The identity that unlocks it at scale: a user counts
    * toward day d iff their FIRST event day ≤ d, so cumulative
    * distinct = running sum of first-appearance counts. One
    * (type, user)-grain min aggregate collapses the corpus, the
    * per-day news frame is O(types × days), and ITS running-sum
    * window is model-sized at any data size. Output grain = days
    * where at least one new user appeared (n_new > 0 by
    * construction). */
  def qCumDistinct(s: SparkSession, dir: String): DataFrame = {
    val firsts = Tables.load(s, dir, "events")
      .groupBy(col("event_type"), col("user_id"))
      .agg(min(to_date(col("ts"))).as("day"))
    firsts.groupBy(col("event_type"), col("day"))
      .agg(count(lit(1)).as("n_new"))
      .withColumn("cum_users",
        sum(col("n_new")).over(Window.partitionBy(col("event_type"))
          .orderBy(col("day"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
  }

  val qCumDistinctSql: String =
    """WITH f AS (
      |  SELECT event_type, user_id, MIN(CAST(ts AS DATE)) AS day
      |  FROM events GROUP BY 1, 2),
      |d AS (
      |  SELECT event_type, day, COUNT(*) AS n_new FROM f GROUP BY 1, 2)
      |SELECT event_type, day, CAST(n_new AS BIGINT) AS n_new,
      |  CAST(SUM(n_new) OVER (PARTITION BY event_type ORDER BY day
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |    AS cum_users
      |FROM d""".stripMargin

  /** Decay horizon: events older than this many days contribute 0;
    * one doubling per day keeps every weight a dyadic integer. */
  private val decayHorizon = 30

  /** Recency-weighted engagement score per user — the feature-store
    * staple (recommendation / churn features) usually written as
    * Σ exp(−λ·age) and therefore float-unreproducible across engines
    * and partitionings. With a 1-day half-life the weights are exact
    * powers of two, so the score becomes INTEGER fixed-point:
    * weight = 2^(horizon − age_days), summed as plain longs —
    * associative, order-independent, bitwise-reproducible anywhere
    * (the q_pagerank discipline applied to time decay). The as-of day
    * is the corpus max — a 1-row aggregate (model-sized collect, the
    * SimOps centroid rule), never a per-row subquery.
    *
    * Scale shape: q1_agg's — one map-side-combined user-grain sum
    * over a codegen'd projection. Partial scores merge associatively
    * across shards/streams exactly like any counter. */
  def qDecayScore(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(s, dir, "events")
    val asof = ev.agg(max(to_date(col("ts")))).head().getDate(0)
    ev.select(col("user_id"),
        datediff(lit(asof), to_date(col("ts"))).as("age"))
      .select(col("user_id"),
        when(col("age") <= decayHorizon,
          expr(s"shiftleft(1L, $decayHorizon - age)"))
          .otherwise(lit(0L)).as("w"))
      .groupBy(col("user_id"))
      .agg(sum(col("w")).as("score"), count(lit(1)).as("n_events"))
  }

  val qDecayScoreSql: String =
    // "asof" itself is a DuckDB keyword (ASOF JOIN) — alias avoids it
    s"""WITH a AS (SELECT MAX(CAST(ts AS DATE)) AS asof_day FROM events)
       |SELECT user_id,
       |  CAST(SUM(CASE
       |    WHEN date_diff('day', CAST(ts AS DATE), asof_day) <= $decayHorizon
       |    THEN 1::BIGINT << CAST($decayHorizon
       |      - date_diff('day', CAST(ts AS DATE), asof_day) AS INT)
       |    ELSE 0 END) AS BIGINT) AS score,
       |  CAST(COUNT(*) AS BIGINT) AS n_events
       |FROM events, a GROUP BY user_id""".stripMargin

  /** Pareto / contribution analysis: the minimal prefix of parts —
    * ranked by revenue — that covers 80% of total revenue (the 80/20
    * cut behind "which SKUs matter", top-spender programs, capacity
    * planning). Needs a GLOBAL revenue-desc cumulative sum: the
    * classic one-reducer trap, delegated to
    * [[graft.plans.GlobalRank.withExclusiveSum]] (range partition on
    * the rank key, bucket-local cumsum, O(partitions) driver offsets)
    * whose returned grand total also replaces the separate total
    * aggregate this key used to pay. Everything is exact integer
    * cents; the 80% test is 5·cum_before < 4·total in pure longs —
    * no percentage float ever exists. Membership ties break by
    * (revenue desc, partkey), so the covering set is deterministic. */
  def qParetoShare(s: SparkSession, dir: String): DataFrame = {
    val rev = Tables.load(s, dir, "lineitem")
      .select(col("l_partkey").as("p"),
        expr("cast(cast(l_extendedprice as decimal(14,2)) * 100 as bigint)")
          .as("cents"))
      .groupBy(col("p")).agg(sum(col("cents")).as("rev"))
    val (scanned, total) = graft.plans.GlobalRank.withExclusiveSum(
      s, rev, Seq(col("rev").desc, col("p")), col("rev"), "cum_before")
    scanned
      .filter(lit(5L) * col("cum_before") < lit(4L) * lit(total))
      .select(col("p").as("p_partkey"), col("rev").as("rev_cents"),
        (col("cum_before") + col("rev")).as("cum_cents"))
  }

  val qParetoShareSql: String =
    """WITH r AS (
      |  SELECT l_partkey AS p,
      |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(14,2)) * 100)
      |      AS BIGINT) AS rev
      |  FROM lineitem GROUP BY 1),
      |t AS (SELECT SUM(rev) AS total FROM r),
      |c AS (
      |  SELECT p, rev,
      |    SUM(rev) OVER (ORDER BY rev DESC, p ROWS UNBOUNDED PRECEDING)
      |      AS cum
      |  FROM r)
      |SELECT p AS p_partkey, rev AS rev_cents, CAST(cum AS BIGINT)
      |    AS cum_cents
      |FROM c, t WHERE 5 * (cum - rev) < 4 * total""".stripMargin

  /** Rolling-median window length (trailing rows, current included). */
  private val medWin = 5

  /** Exact rolling median of event value per user — robust rolling
    * statistics (spike-resistant smoothing for monitoring and
    * feature pipelines), which Spark has no window function for:
    * percentile_approx is approximate and median() is not a window
    * aggregate. The trailing 5-row frame's values collect into a
    * bounded array, sort, and pick the LOWER median — a selection of
    * an existing exact-cents integer, never arithmetic, so the result
    * is engine-exact (DuckDB's quantile_disc(0.5) picks the same
    * element by definition).
    *
    * Scale shape: one user-grain window shuffle (partition key
    * cardinality grows with data); per-row state is the O(k) frame
    * array — constant — and the sort is k·log k per row, the honest
    * cost of an exact rolling median at small fixed k. */
  def qRollingMedian(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(-(medWin - 1), Window.currentRow)
    Tables.load(s, dir, "events")
      .select(col("event_id"), col("user_id"), col("ts"),
        expr("cast(round(value * 100) as bigint)").as("cents"))
      .withColumn("arr", sort_array(collect_list(col("cents")).over(w)))
      .select(col("event_id"), col("user_id"), col("cents"),
        expr("element_at(arr, cast((size(arr) + 1) div 2 as int))")
          .as("med5"))
  }

  val qRollingMedianSql: String =
    s"""SELECT event_id, user_id, cents,
       |  CAST(quantile_disc(cents, 0.5) OVER (PARTITION BY user_id
       |    ORDER BY ts, event_id
       |    ROWS BETWEEN ${medWin - 1} PRECEDING AND CURRENT ROW)
       |    AS BIGINT) AS med5
       |FROM (SELECT event_id, user_id, ts,
       |        CAST(round(value * 100) AS BIGINT) AS cents FROM events)
       |""".stripMargin

  /** Hopping (sliding) window aggregation: hourly totals re-computed
    * every 15 minutes — the smoothed-trend / alerting view where
    * tumbling windows (q_events_window) jump and miss cross-boundary
    * bursts. Each event belongs to len/slide = 4 overlapping windows;
    * Spark's window(ts, len, slide) does the replication natively and
    * the oracle mirrors it with the same epoch-aligned expansion
    * (ws = slide·⌊us/slide⌋ − j·slide, keep us < ws + len).
    *
    * Scale shape: one agg-grain shuffle; the 4× row replication is
    * the inherent hopping-window cost (windows/slide ratio is the
    * smoothness dial) and replicates BEFORE the map-side combine, so
    * the shuffle carries only (window, type) partials. Exact integer
    * cents; window starts emitted as epoch µs. */
  def qHoppingWindow(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "events")
      .groupBy(window(col("ts"), "1 hour", "15 minutes").as("w"),
        col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(expr("cast(round(value * 100) as bigint)")).as("sum_cents"))
      .select(unix_micros(col("w.start")).as("window_start_us"),
        col("event_type"), col("n_events"), col("sum_cents"))

  val qHoppingWindowSql: String =
    """WITH e AS (
      |  SELECT event_type, epoch_us(ts) AS us,
      |    CAST(round(value * 100) AS BIGINT) AS cents
      |  FROM events),
      |x AS (
      |  SELECT event_type, us, cents,
      |    (us // 900000000) * 900000000 - j * 900000000::BIGINT AS ws
      |  FROM e, unnest([0, 1, 2, 3]) AS t(j))
      |SELECT ws AS window_start_us, event_type,
      |  CAST(COUNT(*) AS BIGINT) AS n_events,
      |  CAST(SUM(cents) AS BIGINT) AS sum_cents
      |FROM x WHERE us < ws + 3600000000 GROUP BY 1, 2""".stripMargin

  /** Attribution lookback window. */
  private val attrWindowUs = 7L * 86400L * 1000000L

  /** Linear multi-touch attribution — marketing analytics' standard
    * credit split: each purchase distributes its credit equally over
    * the user's preceding non-purchase touches within 7 days, with
    * untouched purchases credited to 'direct'. Equal split means
    * FRACTIONS — the float trap q_penny_allocation documented — so
    * credit is exact integer BASIS POINTS by largest remainder:
    * 10000 div n per touch, the 10000 mod n leftover points to the
    * most recent touches (recency is the natural tie-break, ordered
    * by (ts, event_id) desc). The invariant that makes books balance:
    * Σ all credit = 10000 · purchases, EXACTLY.
    *
    * Scale shape (r14): ONE left touch join — the old shape computed
    * the inner join TWICE (once for the windowed credit, once inside
    * the NOT-EXISTS probe for direct credit) and union'd the arms;
    * an untouched purchase now survives the LEFT join as its single
    * null-touch row and classifies as 'direct' inside the same
    * window pass (n = count of matched touches, 0 → direct), so the
    * direct arm's second corpus-pair join, the p_id distinct and the
    * anti-join all disappear. The join shuffles on user_id with the
    * time range in the join condition (pair volume bounded per user,
    * the funnel contract); rank and touch-count ride ONE
    * purchase-grain window partition (cardinality grows with data);
    * the credit aggregate is map-side combined. */
  def qAttribution(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(s, dir, "events")
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_uid"), col("event_id").as("p_id"),
        col("us").as("p_us"))
    val t = ev.filter(col("event_type") =!= "purchase")
      .select(col("user_id").as("t_uid"), col("event_id").as("t_id"),
        col("event_type"), col("us"))
    val j = p.join(t.hint("shuffle_hash"),
      col("p_uid") === col("t_uid") &&
        col("us") < col("p_us") &&
        col("us") >= col("p_us") - attrWindowUs, "left")
    val byP = Window.partitionBy(col("p_id"))
    j
      // count() skips nulls: an untouched purchase's single null-touch
      // row yields n = 0 — exactly the old anti-join's 'direct' set
      .withColumn("n", count(col("t_id")).over(byP))
      .withColumn("rnk", row_number().over(
        byP.orderBy(col("us").desc_nulls_last, col("t_id").desc_nulls_last)))
      .select(
        when(col("n") === 0, lit("direct")).otherwise(col("event_type"))
          .as("event_type"),
        when(col("n") === 0, lit(10000L)).otherwise(
          expr("cast(10000 div n + (case when rnk <= 10000 % n then 1 else 0 end) as bigint)"))
          .as("bp"))
      .groupBy(col("event_type"))
      .agg(sum(col("bp")).as("total_bp"), count(lit(1)).as("n_touches"))
  }

  val qAttributionSql: String =
    s"""WITH e AS (
       |  SELECT user_id, event_id, event_type, epoch_us(ts) AS us
       |  FROM events),
       |p AS (SELECT user_id, event_id AS p_id, us AS p_us FROM e
       |      WHERE event_type = 'purchase'),
       |t AS (SELECT user_id, event_id AS t_id, event_type, us FROM e
       |      WHERE event_type <> 'purchase'),
       |j AS (
       |  SELECT p.p_id, t.event_type, t.us, t.t_id
       |  FROM p JOIN t ON p.user_id = t.user_id
       |    AND t.us < p.p_us AND t.us >= p.p_us - $attrWindowUs),
       |r AS (
       |  SELECT p_id, event_type,
       |    ROW_NUMBER() OVER (PARTITION BY p_id
       |      ORDER BY us DESC, t_id DESC) AS rnk,
       |    COUNT(*) OVER (PARTITION BY p_id) AS n
       |  FROM j),
       |a AS (
       |  SELECT event_type,
       |    10000 // n + CASE WHEN rnk <= 10000 % n THEN 1 ELSE 0 END AS bp
       |  FROM r),
       |direct AS (
       |  SELECT 'direct' AS event_type, 10000 AS bp FROM p
       |  WHERE NOT EXISTS (SELECT 1 FROM j WHERE j.p_id = p.p_id))
       |SELECT event_type, CAST(SUM(bp) AS BIGINT) AS total_bp,
       |  CAST(COUNT(*) AS BIGINT) AS n_touches
       |FROM (SELECT * FROM a UNION ALL SELECT * FROM direct)
       |GROUP BY 1""".stripMargin

  /** Event-type transition matrix — the user-flow / Markov-chain
    * view behind Sankey diagrams and next-step prediction features:
    * how often does type A immediately precede type B in a user's
    * timeline. One lag over the user order, one count per (prev,
    * cur) cell; counts stay integers (consumers derive probabilities
    * by dividing row counts themselves — emitting the float here
    * would only launder exactness away).
    *
    * Scale shape: one user-grain window shuffle + one cell-grain
    * map-side-combined count over an O(types²) result. */
  def qTransitionMatrix(s: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    Tables.load(s, dir, "events")
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type"))
      .withColumn("prev_type", lag(col("event_type"), 1).over(byUser))
      .filter(col("prev_type").isNotNull)
      .groupBy(col("prev_type"), col("event_type").as("cur_type"))
      .agg(count(lit(1)).as("n"))
  }

  val qTransitionMatrixSql: String =
    """WITH t AS (
      |  SELECT user_id, event_type,
      |    LAG(event_type) OVER (PARTITION BY user_id
      |      ORDER BY ts, event_id) AS prev_type
      |  FROM events)
      |SELECT prev_type, event_type AS cur_type,
      |  CAST(COUNT(*) AS BIGINT) AS n
      |FROM t WHERE prev_type IS NOT NULL GROUP BY 1, 2""".stripMargin

  /** Minimum pair support for the basket scan (fixture-scaled; at
    * production this is the frequent-itemset support threshold). */
  val basketMinSupport = 3L

  /** Market-basket pair mining: part pairs co-purchased in the same
    * order with support ≥ threshold, plus each part's own order
    * frequency — the support/confidence inputs of association-rule
    * mining (lift = n_ab·N/(n_a·n_b) left to the consumer as exact
    * integers). q_triangle_count walks this co-purchase graph's
    * structure; this key mines its weighted EDGES.
    *
    * Scale shape: the pair join is order-keyed (volume Σorder², the
    * basket bound — never catalog²) and shuffle-pinned; the support
    * filter prunes BEFORE the per-part frequency joins, which are
    * keyed thin frames. */
  def qBasketPairs(s: SparkSession, dir: String): DataFrame = {
    // materialize the distinct basket frame ONCE: three consumers
    // (both pair-join sides + the frequency count) would otherwise
    // each re-scan and re-distinct the fact table. LAZY (r15 A/B:
    // eager 1.60 s vs lazy 1.47 s best-of-4 interleaved, tasks
    // 228→196) — the pair join's first stage computes every
    // partition, so the blocks land inside that job with no
    // double-compute.
    val li = Tables.load(s, dir, "lineitem")
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
      .distinct()
      .localCheckpoint(eager = false)
    val pairs = li.as("x")
      .join(li.as("y").hint("shuffle_hash"), col("x.o") === col("y.o"))
      .filter(col("x.p") < col("y.p"))
      .groupBy(col("x.p").as("a"), col("y.p").as("b"))
      .agg(count(lit(1)).as("n_ab"))
      .filter(col("n_ab") >= basketMinSupport)
    val freq = li.groupBy(col("p")).agg(count(lit(1)).as("n"))
    pairs
      .join(freq.select(col("p").as("a"), col("n").as("n_a"))
        .hint("shuffle_hash"), Seq("a"))
      .join(freq.select(col("p").as("b"), col("n").as("n_b"))
        .hint("shuffle_hash"), Seq("b"))
      .select(col("a"), col("b"), col("n_ab"), col("n_a"), col("n_b"))
  }

  val qBasketPairsSql: String =
    s"""WITH li AS (
       |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
       |pairs AS (
       |  SELECT x.p AS a, y.p AS b, COUNT(*) AS n_ab
       |  FROM li x JOIN li y ON x.o = y.o AND x.p < y.p
       |  GROUP BY 1, 2
       |  HAVING COUNT(*) >= $basketMinSupport),
       |freq AS (SELECT p, COUNT(*) AS n FROM li GROUP BY 1)
       |SELECT pairs.a, pairs.b, CAST(n_ab AS BIGINT) AS n_ab,
       |  CAST(fa.n AS BIGINT) AS n_a, CAST(fb.n AS BIGINT) AS n_b
       |FROM pairs JOIN freq fa ON fa.p = pairs.a
       |JOIN freq fb ON fb.p = pairs.b""".stripMargin

  /** NTILE(k) bucket from an exact 1-based rank over n rows — the SQL
    * standard's sizing (the first n mod k buckets take ceil(n/k) rows,
    * the rest floor(n/k)), restated as pure integer arithmetic so the
    * bucket can be computed from a DISTRIBUTED rank instead of a
    * one-reducer NTILE window. Integer `div` throughout — no double
    * division anywhere (exact at any corpus size). */
  private def ntileOfRank(rankCol: String, n: Long, k: Long): Column = {
    val q = n / k
    val rem = n % k
    if (q == 0) expr(s"cast($rankCol as int)")
    else expr(
      s"cast(case when $rankCol - 1 < ${rem * (q + 1)}" +
        s" then ($rankCol - 1) div ${q + 1}" +
        s" else $rem + ($rankCol - 1 - ${rem * (q + 1)}) div $q end" +
        " + 1 as int)")
  }

  /** RFM segmentation — the classic customer-value scoring every
    * CRM/marketing warehouse runs: per customer, Recency (latest
    * order date), Frequency (order count), Monetary (lifetime spend,
    * exact cents), each scored into quintiles (1 = best) and fused
    * into the 3-digit RFM segment code.
    *
    * Scale shape: quintiles need an exact GLOBAL rank per dimension —
    * the one-reducer NTILE trap — so each dimension runs the factored
    * [[GlobalRank]] range-rank scan (parallel range buckets +
    * O(partitions) driver offsets) and converts rank → bucket with
    * [[ntileOfRank]]'s integer arithmetic. The customer-metric frame
    * is localCheckpoint-pinned so the three rank passes and the final
    * join read ONE materialization of the orders aggregate, and every
    * join is shuffle-pinned (the frame is O(customers) — broadcasting
    * it at 100 TB would die). Ties break by custkey, so scores are
    * deterministic under any partitioning. */
  def qRfm(s: SparkSession, dir: String): DataFrame = {
    val m = Tables.load(s, dir, "orders")
      .groupBy(col("o_custkey").as("c"))
      .agg(max(col("o_orderdate")).as("last_d"),
        count(lit(1)).as("freq"),
        expr("cast(sum(cast(o_totalprice as decimal(14,2)) * 100) as bigint)")
          .as("cents"))
      // LAZY checkpoint fused with the count() below (r14): the count
      // computes every partition, so the checkpoint materializes
      // inside that job — one materialization still feeds 3 ranks +
      // the join, one fewer job.
      .localCheckpoint(eager = false)
    val n = m.count()
    def dim(keys: Seq[Column], out: String): DataFrame =
      GlobalRank.withRank(s, m, keys, "rnk")
        .select(col("c"), ntileOfRank("rnk", n, 5).as(out))
    val r = dim(Seq(col("last_d").desc, col("c")), "r_score")
    val f = dim(Seq(col("freq").desc, col("c")), "f_score")
    val mo = dim(Seq(col("cents").desc, col("c")), "m_score")
    m.join(r.hint("shuffle_hash"), Seq("c"))
      .join(f.hint("shuffle_hash"), Seq("c"))
      .join(mo.hint("shuffle_hash"), Seq("c"))
      .select(col("c").as("custkey"), col("last_d"), col("freq"),
        col("cents"), col("r_score"), col("f_score"), col("m_score"),
        (col("r_score") * 100 + col("f_score") * 10 + col("m_score"))
          .cast(IntegerType).as("rfm"))
      .orderBy("custkey")
  }

  val qRfmSql: String =
    """WITH m AS (
      |  SELECT o_custkey AS c, MAX(o_orderdate) AS last_d,
      |    COUNT(*) AS freq,
      |    CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2)) * 100) AS BIGINT)
      |      AS cents
      |  FROM orders GROUP BY 1),
      |sc AS (
      |  SELECT c, last_d, CAST(freq AS BIGINT) AS freq, cents,
      |    CAST(NTILE(5) OVER (ORDER BY last_d DESC, c) AS INT) AS r_score,
      |    CAST(NTILE(5) OVER (ORDER BY freq DESC, c) AS INT) AS f_score,
      |    CAST(NTILE(5) OVER (ORDER BY cents DESC, c) AS INT) AS m_score
      |  FROM m)
      |SELECT c AS custkey, last_d, freq, cents, r_score, f_score, m_score,
      |  CAST(r_score * 100 + f_score * 10 + m_score AS INT) AS rfm
      |FROM sc ORDER BY custkey""".stripMargin

  /** Year-over-year growth — the periodic-comparison report every
    * finance/BI surface runs (same-period-last-year revenue, delta,
    * growth rate): per order priority and year, revenue in exact
    * cents, the prior YEAR's revenue (not merely the prior row — a
    * gap year yields NULL, it never silently compares across the
    * gap), the delta, and growth in integer basis points.
    *
    * Scale shape: one map-side-combined agg collapses the fact table
    * to the (priority, year) grain; the lag window runs over that
    * model-sized frame partitioned by priority — the corpus is never
    * windowed. Growth is (delta·10⁴) div prev in pure longs (Spark
    * `div` and DuckDB `//` both truncate toward zero, verified on
    * negatives) — no percentage float anywhere. */
  def qYoy(s: SparkSession, dir: String): DataFrame = {
    val yearly = Tables.load(s, dir, "orders")
      .groupBy(col("o_orderpriority").as("priority"),
        year(col("o_orderdate")).as("yr"))
      .agg(
        expr("cast(sum(cast(o_totalprice as decimal(14,2)) * 100) as bigint)")
          .as("rev_cents"),
        count(lit(1)).as("n_orders"))
    val w = Window.partitionBy(col("priority")).orderBy(col("yr"))
    yearly
      .withColumn("prev_cents",
        when(lag(col("yr"), 1).over(w) === col("yr") - 1,
          lag(col("rev_cents"), 1).over(w)))
      .withColumn("delta_cents", col("rev_cents") - col("prev_cents"))
      .withColumn("growth_bp",
        expr("cast((delta_cents * 10000) div prev_cents as bigint)"))
      .orderBy("priority", "yr")
  }

  val qYoySql: String =
    """WITH y AS (
      |  SELECT o_orderpriority AS priority,
      |    CAST(year(o_orderdate) AS INT) AS yr,
      |    CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2)) * 100) AS BIGINT)
      |      AS rev_cents,
      |    COUNT(*) AS n_orders
      |  FROM orders GROUP BY 1, 2),
      |l AS (
      |  SELECT priority, yr, rev_cents, CAST(n_orders AS BIGINT)
      |      AS n_orders,
      |    CASE WHEN LAG(yr) OVER (PARTITION BY priority ORDER BY yr)
      |           = yr - 1
      |      THEN LAG(rev_cents) OVER (PARTITION BY priority ORDER BY yr)
      |      END AS prev_cents
      |  FROM y)
      |SELECT priority, yr, rev_cents, n_orders, prev_cents,
      |  rev_cents - prev_cents AS delta_cents,
      |  CAST((rev_cents - prev_cents) * 10000 // prev_cents AS BIGINT)
      |    AS growth_bp
      |FROM l ORDER BY priority, yr""".stripMargin

  /** Benford expected first-digit shares, parts-per-million: round
    * (log10(1+1/d)·10⁶) for d=1..9, shipped as INTEGER CONSTANTS so
    * neither engine evaluates a transcendental at query time (two
    * libm log10s could differ in the last ulp; two copies of the same
    * literal cannot). */
  private val benfordPpm =
    Seq(301030L, 176091L, 124939L, 96910L, 79181L, 66947L, 57992L,
      51153L, 45757L)

  /** Benford first-digit audit — the classic fabricated-data /
    * fraud / unit-mixing screen: the distribution of FIRST
    * significant digits of order amounts against Benford's law, with
    * deviation in exact ppm. Amounts spanning several orders of
    * magnitude follow log10(1+1/d); human-invented or truncated data
    * does not.
    *
    * Scale shape: the digit is `substring(cast(exact cents to
    * string), 1, 1)` — pure codegen'd string projection, no log10 on
    * data (and exact at any magnitude, where a double log10 would
    * wobble near power-of-ten boundaries); one map-side-combined
    * count per digit collapses the corpus to ≤9 rows; the share
    * window runs over that 9-row frame only. Shares and deviations
    * are integer ppm via `div`; expected values are shared integer
    * literals — the whole result is engine-exact. */
  def qBenford(s: SparkSession, dir: String): DataFrame = {
    val counts = Tables.load(s, dir, "orders")
      .select(expr(
        "cast(substring(cast(cast(cast(o_totalprice as decimal(14,2))" +
          " * 100 as bigint) as string), 1, 1) as int)").as("d"))
      .groupBy("d").agg(count(lit(1)).as("n"))
    val w = Window.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    counts
      .withColumn("total", sum(col("n")).over(w))
      .withColumn("share_ppm", expr("cast((n * 1000000) div total as bigint)"))
      .withColumn("expected_ppm",
        element_at(typedlit(benfordPpm), col("d")))
      .withColumn("dev_ppm", col("share_ppm") - col("expected_ppm"))
      .select(col("d"), col("n"), col("share_ppm"), col("expected_ppm"),
        col("dev_ppm"))
      .orderBy("d")
  }

  val qBenfordSql: String = {
    val cases = benfordPpm.zipWithIndex
      .map { case (v, i) => s"WHEN ${i + 1} THEN $v" }.mkString(" ")
    s"""WITH c AS (
       |  SELECT CAST(substring(CAST(CAST(CAST(o_totalprice
       |      AS DECIMAL(14,2)) * 100 AS BIGINT) AS VARCHAR), 1, 1)
       |      AS INT) AS d,
       |    COUNT(*) AS n
       |  FROM orders GROUP BY 1),
       |t AS (SELECT SUM(n) AS total FROM c)
       |SELECT d, CAST(n AS BIGINT) AS n,
       |  CAST(n * 1000000 // total AS BIGINT) AS share_ppm,
       |  CAST(CASE d $cases END AS BIGINT) AS expected_ppm,
       |  CAST(n * 1000000 // total - CASE d $cases END AS BIGINT)
       |    AS dev_ppm
       |FROM c, t ORDER BY d""".stripMargin
  }

  /** Debounce gap: bursts are events of the same (user, type) less
    * than a day apart — the daily-digest collapse rule (the fixture's
    * event cadence is hours-to-days; a production click stream plugs
    * in seconds unchanged). */
  private val debounceGapUs = 86400L * 1000000L

  /** Event debouncing — the telemetry/alerting collapse rule (send
    * one notification per burst, not one per event; count a click
    * flurry once): within each (user, event_type), events closer
    * than the debounce gap to their predecessor collapse into the burst of
    * that predecessor; output one row per burst with its first
    * event, start time, span and collapsed count.
    *
    * Scale shape: ONE (user, type)-grain sort exchange feeds both
    * window passes (the burst-opening lag flag and the running
    * burst-id sum share the same window spec, so Catalyst plans one
    * shuffle + one sort); the burst aggregation then reuses that
    * partitioning (grouping keys are a superset of the partition
    * keys — no further exchange). Total order (ts, event_id) makes
    * burst membership deterministic under timestamp ties. */
  def qDebounce(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("us"), col("event_id"))
    val flagged = Tables.load(s, dir, "events")
      .select(col("event_id"), col("user_id"), col("event_type"),
        expr("unix_micros(ts)").as("us"))
      .withColumn("opens", lag(col("us"), 1).over(w).isNull ||
        (col("us") - lag(col("us"), 1).over(w)) > debounceGapUs)
      .withColumn("burst_id",
        sum(when(col("opens"), 1L).otherwise(0L)).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    flagged.groupBy(col("user_id"), col("event_type"), col("burst_id"))
      .agg(min_by(col("event_id"), struct(col("us"), col("event_id")))
          .as("first_event_id"),
        min(col("us")).as("burst_start_us"),
        (max(col("us")) - min(col("us"))).as("span_us"),
        count(lit(1)).as("n_collapsed"))
      .orderBy("user_id", "event_type", "burst_id")
  }

  val qDebounceSql: String =
    s"""WITH e AS (
       |  SELECT event_id, user_id, event_type, epoch_us(ts) AS us
       |  FROM events),
       |f AS (
       |  SELECT *,
       |    CASE WHEN LAG(us) OVER w IS NULL
       |      OR us - LAG(us) OVER w > $debounceGapUs
       |      THEN 1 ELSE 0 END AS opens
       |  FROM e
       |  WINDOW w AS (PARTITION BY user_id, event_type
       |    ORDER BY us, event_id)),
       |b AS (
       |  SELECT *,
       |    SUM(opens) OVER (PARTITION BY user_id, event_type
       |      ORDER BY us, event_id ROWS UNBOUNDED PRECEDING) AS burst_id
       |  FROM f)
       |SELECT user_id, event_type, CAST(burst_id AS BIGINT) AS burst_id,
       |  arg_min(event_id, lpad(CAST(us AS VARCHAR), 20, '0')
       |    || lpad(CAST(event_id AS VARCHAR), 12, '0')) AS first_event_id,
       |  MIN(us) AS burst_start_us,
       |  CAST(MAX(us) - MIN(us) AS BIGINT) AS span_us,
       |  COUNT(*) AS n_collapsed
       |FROM b GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin

  /** Activity streaks — the engagement metric product analytics ships
    * on every dashboard (longest run of consecutive active days per
    * user), the canonical gaps-and-islands problem: consecutive
    * calendar days collapse to one island via the classic
    * day_number − row_number key (consecutive days share it; any gap
    * breaks it).
    *
    * Scale shape: distinct (user, day) first — the event table
    * collapses to at most users×days thin rows before any window;
    * ONE user-grain sort exchange for the island key; streak and
    * user aggregates are map-side-combined. The longest streak picks
    * its start by an ARITHMETIC tie-break key (len·10¹⁰ − start_day
    * — unique because streak starts are distinct per user), so
    * max_by is deterministic in both engines without relying on
    * unspecified tie rules. Everything is integer day arithmetic. */
  def qStreaks(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.load(s, dir, "events")
      .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
      .withColumn("dn", datediff(col("day"), lit("1970-01-01")))
    val w = Window.partitionBy(col("user_id")).orderBy(col("dn"))
    val streaks = d
      .withColumn("isl", col("dn") - row_number().over(w))
      .groupBy(col("user_id"), col("isl"))
      .agg(count(lit(1)).as("len"), min(col("dn")).as("sdn"))
    streaks.groupBy("user_id")
      .agg(sum(col("len")).as("n_active_days"),
        count(lit(1)).as("n_streaks"),
        max(col("len")).as("longest_streak"),
        max_by(col("sdn"),
          col("len") * lit(10000000000L) - col("sdn")).as("ldn"))
      .select(col("user_id"), col("n_active_days"), col("n_streaks"),
        col("longest_streak"),
        date_add(lit("1970-01-01").cast("date"), col("ldn"))
          .as("longest_start"))
      .orderBy("user_id")
  }

  val qStreaksSql: String =
    """WITH d AS (
      |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
      |n AS (
      |  SELECT user_id,
      |    date_diff('day', DATE '1970-01-01', day) AS dn
      |  FROM d),
      |r AS (
      |  SELECT user_id, dn,
      |    dn - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY dn)
      |      AS isl
      |  FROM n),
      |g AS (
      |  SELECT user_id, isl, COUNT(*) AS len, MIN(dn) AS sdn
      |  FROM r GROUP BY 1, 2)
      |SELECT user_id, CAST(SUM(len) AS BIGINT) AS n_active_days,
      |  COUNT(*) AS n_streaks, CAST(MAX(len) AS BIGINT) AS longest_streak,
      |  DATE '1970-01-01'
      |    + CAST(arg_max(sdn, len * 10000000000 - sdn) AS INT)
      |    AS longest_start
      |FROM g GROUP BY user_id ORDER BY user_id""".stripMargin

  /** Median absolute deviation — the robust dispersion statistic
    * monitoring pipelines use where stddev is ruined by the very
    * outliers being hunted: per event type, the exact median of
    * |x − median(x)| over exact cents, plus the robust outlier count
    * (deviation > 3·MAD). The float discipline is SURVEY §4's:
    * medians are selections/midpoints of exact integer cents (never
    * running float sums), deviations are exact-integer-minus-midpoint
    * doubles, and both engines interpolate identically (the
    * q_percentile precedent) — bitwise-equal results.
    *
    * Scale shape: two corpus passes (median, then deviation median +
    * outlier count), each a sort-based percentile aggregate at the
    * TYPE grain with the model-sized median frame broadcast back —
    * the corpus itself never joins or re-shuffles beyond its
    * aggregates. */
  def qMad(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(s, dir, "events")
      .select(col("event_type"),
        expr("cast(round(value * 100) as bigint)").as("cents"))
    val med = ev.groupBy("event_type")
      .agg(expr("percentile(cents, 0.5)").as("med_cents"),
        count(lit(1)).as("n"))
    val dev = ev.join(broadcast(med), "event_type")
      .select(col("event_type"), col("med_cents"), col("n"),
        abs(col("cents") - col("med_cents")).as("dev"))
    val mad = dev.groupBy("event_type")
      .agg(expr("percentile(dev, 0.5)").as("mad_cents"))
    dev.join(broadcast(mad), "event_type")
      .groupBy(col("event_type"))
      .agg(max(col("n")).as("n"), max(col("med_cents")).as("med_cents"),
        max(col("mad_cents")).as("mad_cents"),
        sum(when(col("dev") > lit(3d) * col("mad_cents"), 1L)
          .otherwise(0L)).as("n_outliers"))
      .orderBy("event_type")
  }

  val qMadSql: String =
    """WITH e AS (
      |  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS cents
      |  FROM events),
      |m AS (
      |  SELECT event_type, quantile_cont(cents, 0.5) AS med_cents,
      |    COUNT(*) AS n
      |  FROM e GROUP BY 1),
      |d AS (
      |  SELECT e.event_type, m.n, m.med_cents,
      |    abs(e.cents - m.med_cents) AS dev
      |  FROM e JOIN m USING (event_type)),
      |a AS (SELECT event_type, quantile_cont(dev, 0.5) AS mad_cents
      |      FROM d GROUP BY 1)
      |SELECT d.event_type, CAST(MAX(d.n) AS BIGINT) AS n,
      |  MAX(d.med_cents) AS med_cents, MAX(a.mad_cents) AS mad_cents,
      |  CAST(SUM(CASE WHEN d.dev > 3 * a.mad_cents THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_outliers
      |FROM d JOIN a USING (event_type)
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Audience overlap — the segment-intersection question every
    * growth/ads surface asks (how many users do segments share? how
    * similar are they?): exact pairwise user-set intersection and
    * Jaccard between event types, computed on q_bitmap_distinct's
    * mergeable bitmap layout rather than raw rows.
    *
    * Scale shape: the event table collapses ONCE to per-(type,
    * bucket) bitmap words (map-side bit_or); the pair join runs over
    * that word frame — O(types × id-range/60) thin rows, joined
    * bucket-local and shuffle-pinned (the word frame grows with the
    * id space — broadcasting it dies at a 10⁹-user dimension);
    * intersections are popcount(a AND b), so RAW (type, user) pairs
    * never cross the wire a second time. Jaccard in integer ppm via
    * inclusion-exclusion. */
  def qAudienceOverlap(s: SparkSession, dir: String): DataFrame = {
    val words = Tables.load(s, dir, "events")
      .select(col("event_type").as("t"),
        expr(s"user_id div $bmSlot").as("bucket"),
        expr(s"shiftleft(1L, cast(user_id % $bmSlot as int))").as("mask"))
      .groupBy("t", "bucket")
      .agg(expr("bit_or(mask)").as("bm"))
      .hint("shuffle_hash")
    val sizes = words.groupBy("t")
      .agg(expr("cast(sum(bit_count(bm)) as bigint)").as("n"))
    val inter = words.as("a")
      .join(words.as("b"),
        col("a.bucket") === col("b.bucket") && col("a.t") < col("b.t"))
      .groupBy(col("a.t").as("type_a"), col("b.t").as("type_b"))
      .agg(expr("cast(sum(bit_count(a.bm & b.bm)) as bigint)")
        .as("n_both"))
      // pairs sharing buckets but no users: the oracle's pair join
      // never materializes them — neither do we
      .filter(col("n_both") > 0)
    inter
      .join(sizes.withColumnRenamed("t", "type_a")
        .withColumnRenamed("n", "n_a").hint("shuffle_hash"), "type_a")
      .join(sizes.withColumnRenamed("t", "type_b")
        .withColumnRenamed("n", "n_b").hint("shuffle_hash"), "type_b")
      .select(col("type_a"), col("type_b"), col("n_a"), col("n_b"),
        col("n_both"),
        expr("cast((n_both * 1000000) div (n_a + n_b - n_both)" +
          " as bigint)").as("jaccard_ppm"))
      .orderBy("type_a", "type_b")
  }

  val qAudienceOverlapSql: String =
    """WITH d AS (
      |  SELECT DISTINCT event_type AS t, user_id AS u FROM events),
      |c AS (SELECT t, COUNT(*) AS n FROM d GROUP BY 1),
      |p AS (
      |  SELECT a.t AS type_a, b.t AS type_b, COUNT(*) AS n_both
      |  FROM d a JOIN d b ON a.u = b.u AND a.t < b.t
      |  GROUP BY 1, 2)
      |SELECT p.type_a, p.type_b,
      |  CAST(ca.n AS BIGINT) AS n_a, CAST(cb.n AS BIGINT) AS n_b,
      |  CAST(p.n_both AS BIGINT) AS n_both,
      |  CAST(p.n_both * 1000000 // (ca.n + cb.n - p.n_both) AS BIGINT)
      |    AS jaccard_ppm
      |FROM p JOIN c ca ON p.type_a = ca.t
      |       JOIN c cb ON p.type_b = cb.t
      |ORDER BY type_a, type_b""".stripMargin

  /** Equi-depth histogram bucket count. */
  private val edhK = 8

  /** Equi-depth histogram — the optimizer-statistics builder
    * (ANALYZE's height-balanced histogram, the basis of selectivity
    * estimation): k buckets of (near-)equal row count over order
    * amounts, each reported with its exact boundary VALUES and exact
    * row count. Equal-width histograms (q_histogram) mislead on
    * skewed data; equi-depth is what planners actually keep.
    *
    * Scale shape: boundaries are order statistics — the one-reducer
    * sort trap — so the exact global rank comes from the factored
    * [[GlobalRank]] range-rank scan; bucket edges are the rows at
    * ranks (n·(i−1) div k)+1 and n·i div k, selected by joining the
    * ranked corpus against the BROADCAST 8-row boundary-rank frame
    * (the one join here where broadcast is right: the small side is
    * O(k), not data-sized). Boundary values are SELECTIONS of exact
    * cents; counts are pure integer rank arithmetic. */
  /** Decile lift table — the standard ranked-model evaluation read
    * (every churn/propensity/fraud dashboard ships one): rank the
    * population by a score (here: line discount as the "propensity"
    * signal, returns as the outcome), cut into 10 equal-depth
    * deciles, and report per decile the outcome rate, the cumulative
    * rate walking down the ranking, and lift vs the base rate. A
    * score with no signal shows lift ≈ 1.000 everywhere — which is
    * itself the finding.
    *
    * Exactness: the decile cut is pure integer rank arithmetic over
    * [[GlobalRank]]'s exact distributed rank (total order: score
    * DESC then the 4-column physical key — (orderkey, linenumber) is
    * NOT unique on the fixture); rates are integer ppm, lift is
    * milli computed from the ALREADY-truncated ppm rates (defined,
    * mirrored truncation — and every value stays < 10⁹ at any SF,
    * no overflow anywhere).
    *
    * Scale shape: the rank is the audited range-partition scan —
    * never a single-partition window over the corpus; everything
    * after the per-decile aggregate is a 10-row frame. */
  def qDecileLift(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.load(s, dir, "lineitem").select(
      expr("cast(cast(l_discount as decimal(12,3)) * 1000 as bigint)")
        .as("score"),
      when(col("l_returnflag") === "R", 1L).otherwise(0L).as("label"),
      col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
      col("l_suppkey"))
    val (ranked, n) = GlobalRank.withRankAndTotal(s, e,
      Seq(col("score").desc, col("l_orderkey"), col("l_linenumber"),
        col("l_partkey"), col("l_suppkey")), "rnk")
    val dec = ranked
      .withColumn("decile", expr(s"((rnk - 1) * 10) div $n + 1"))
      .groupBy("decile")
      .agg(count(lit(1)).as("n_rows"), sum(col("label")).as("positives"))
    val w = Window.orderBy("decile")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    dec
      .withColumn("cum_pos", sum(col("positives")).over(w))
      .withColumn("cum_rows", sum(col("n_rows")).over(w))
      .withColumn("base_ppm", expr(
        "(sum(positives) over (rows between unbounded preceding and " +
          "unbounded following) * 1000000) div sum(n_rows) over " +
          "(rows between unbounded preceding and unbounded following)"))
      .withColumn("rate_ppm", expr("(positives * 1000000) div n_rows"))
      .select(col("decile"), col("n_rows"), col("positives"),
        col("rate_ppm"),
        expr("(cum_pos * 1000000) div cum_rows").as("cum_rate_ppm"),
        expr("(rate_ppm * 1000) div base_ppm").as("lift_milli"))
      .orderBy("decile")
  }

  val qDecileLiftSql: String =
    """WITH e AS (
      |  SELECT CAST(CAST(l_discount AS DECIMAL(12,3)) * 1000 AS BIGINT)
      |      AS score,
      |    CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS label,
      |    l_orderkey, l_linenumber, l_partkey, l_suppkey
      |  FROM lineitem),
      |r AS (
      |  SELECT score, label,
      |    ROW_NUMBER() OVER (ORDER BY score DESC, l_orderkey,
      |      l_linenumber, l_partkey, l_suppkey) AS rnk
      |  FROM e),
      |c AS (SELECT COUNT(*) AS n FROM e),
      |d AS (
      |  SELECT ((rnk - 1) * 10) // n + 1 AS decile,
      |    CAST(COUNT(*) AS BIGINT) AS n_rows,
      |    CAST(SUM(label) AS BIGINT) AS positives
      |  FROM r CROSS JOIN c GROUP BY 1),
      |x AS (
      |  SELECT *,
      |    CAST(SUM(positives) OVER (ORDER BY decile
      |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_pos,
      |    CAST(SUM(n_rows) OVER (ORDER BY decile
      |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_rows,
      |    CAST((SUM(positives) OVER () * 1000000)
      |      // SUM(n_rows) OVER () AS BIGINT) AS base_ppm,
      |    (positives * 1000000) // n_rows AS rate_ppm
      |  FROM d)
      |SELECT CAST(decile AS BIGINT) AS decile, n_rows, positives,
      |  CAST(rate_ppm AS BIGINT) AS rate_ppm,
      |  CAST((cum_pos * 1000000) // cum_rows AS BIGINT) AS cum_rate_ppm,
      |  CAST((rate_ppm * 1000) // base_ppm AS BIGINT) AS lift_milli
      |FROM x ORDER BY 1""".stripMargin

  def qEquidepthHist(s: SparkSession, dir: String): DataFrame = {
    val spark = s
    import spark.implicits._
    val e = Tables.load(s, dir, "orders")
      .select(
        expr("cast(cast(o_totalprice as decimal(14,2)) * 100 as bigint)")
          .as("cents"),
        col("o_orderkey"))
    val (ranked, n) = GlobalRank.withRankAndTotal(s, e,
      Seq(col("cents"), col("o_orderkey")), "rnk")
    val bdf = (1 to edhK)
      .map(i => (i, n * (i - 1) / edhK + 1, n * i / edhK))
      .toDF("bucket", "lo_rank", "hi_rank")
    val lo = ranked.join(broadcast(bdf), col("rnk") === col("lo_rank"))
      .select(col("bucket"), col("cents").as("lo_cents"),
        col("lo_rank"), col("hi_rank"))
    ranked.join(broadcast(lo), col("rnk") === col("hi_rank"))
      .select(col("bucket"), col("lo_cents"), col("cents").as("hi_cents"),
        (col("hi_rank") - col("lo_rank") + 1L).as("n_rows"))
      .orderBy("bucket")
  }

  val qEquidepthHistSql: String =
    s"""WITH e AS (
       |  SELECT CAST(CAST(o_totalprice AS DECIMAL(14,2)) * 100 AS BIGINT)
       |      AS cents,
       |    o_orderkey
       |  FROM orders),
       |r AS (
       |  SELECT cents,
       |    ROW_NUMBER() OVER (ORDER BY cents, o_orderkey) AS rnk
       |  FROM e),
       |c AS (SELECT COUNT(*) AS n FROM e),
       |b AS (
       |  SELECT CAST(i AS INT) AS bucket,
       |    n * (i - 1) // $edhK + 1 AS lo_rank,
       |    n * i // $edhK AS hi_rank
       |  FROM unnest(range(1, ${edhK + 1})) AS t(i), c)
       |SELECT b.bucket, rlo.cents AS lo_cents, rhi.cents AS hi_cents,
       |  CAST(b.hi_rank - b.lo_rank + 1 AS BIGINT) AS n_rows
       |FROM b JOIN r rlo ON rlo.rnk = b.lo_rank
       |       JOIN r rhi ON rhi.rnk = b.hi_rank
       |ORDER BY bucket""".stripMargin

  /** Cohort lifetime value — the revenue sibling of
    * q_retention_cohort (that key counts surviving USERS; growth
    * teams price cohorts in MONEY): customers grouped by first-order
    * month, revenue accumulated per month-offset since acquisition —
    * the LTV curve that sets acquisition budgets.
    *
    * Scale shape: first-order month is one map-side-combined min per
    * customer; the cohort join is shuffle-pinned (the customer frame
    * is corpus-sized); revenue collapses to (cohort, offset) grain
    * BEFORE the cumulative window, which therefore runs over the
    * model-sized cohort×offset frame only. Exact cents throughout;
    * month offset is pure integer calendar arithmetic. */
  def qCohortLtv(s: SparkSession, dir: String): DataFrame = {
    val ords = Tables.load(s, dir, "orders")
      .select(col("o_custkey").as("c"),
        expr("year(o_orderdate) * 12 + month(o_orderdate) - 1").as("m"),
        expr("cast(cast(o_totalprice as decimal(14,2)) * 100 as bigint)")
          .as("cents"))
    val first = ords.groupBy("c").agg(min(col("m")).as("m0"))
      .hint("shuffle_hash")
    val grain = ords.join(first, "c")
      .groupBy(col("m0").as("cohort_month"),
        (col("m") - col("m0")).as("month_offset"))
      .agg(sum(col("cents")).as("rev_cents"),
        countDistinct(col("c")).as("n_active"))
    val w = Window.partitionBy(col("cohort_month"))
      .orderBy(col("month_offset"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grain
      .withColumn("cum_rev_cents", sum(col("rev_cents")).over(w))
      .select(
        expr("cast(cohort_month div 12 as int)").as("cohort_year"),
        expr("cast(cohort_month % 12 + 1 as int)").as("cohort_mon"),
        col("month_offset").cast(IntegerType).as("month_offset"),
        col("rev_cents"), col("cum_rev_cents"), col("n_active"))
      .orderBy("cohort_year", "cohort_mon", "month_offset")
  }

  val qCohortLtvSql: String =
    """WITH o AS (
      |  SELECT o_custkey AS c,
      |    year(o_orderdate) * 12 + month(o_orderdate) - 1 AS m,
      |    CAST(CAST(o_totalprice AS DECIMAL(14,2)) * 100 AS BIGINT)
      |      AS cents
      |  FROM orders),
      |f AS (SELECT c, MIN(m) AS m0 FROM o GROUP BY 1),
      |g AS (
      |  SELECT f.m0 AS cohort_month, o.m - f.m0 AS month_offset,
      |    CAST(SUM(o.cents) AS BIGINT) AS rev_cents,
      |    COUNT(DISTINCT o.c) AS n_active
      |  FROM o JOIN f USING (c)
      |  GROUP BY 1, 2)
      |SELECT CAST(cohort_month // 12 AS INT) AS cohort_year,
      |  CAST(cohort_month % 12 + 1 AS INT) AS cohort_mon,
      |  CAST(month_offset AS INT) AS month_offset,
      |  rev_cents,
      |  CAST(SUM(rev_cents) OVER (PARTITION BY cohort_month
      |    ORDER BY month_offset ROWS UNBOUNDED PRECEDING) AS BIGINT)
      |    AS cum_rev_cents,
      |  CAST(n_active AS BIGINT) AS n_active
      |FROM g ORDER BY cohort_year, cohort_mon, month_offset""".stripMargin

  /** DAU/MAU stickiness — the engagement ratio every consumer product
    * reports (daily actives over trailing-30-day actives, per day).
    * The naive form needs COUNT(DISTINCT) over a SLIDING window —
    * re-scanning 30 days of raw events per report day. On
    * q_bitmap_distinct's mergeable words it collapses to bitmap
    * algebra: daily per-bucket words, each word EXPLODED to the 30
    * report days it contributes to (the sliding-union expansion —
    * 30× the word frame, not 30× the events; a bucket-local window
    * would silently MISS buckets inactive on the report day), then
    * bit_or per (report day, bucket) and popcount-summed. Raw events
    * cross the wire once, as bits.
    *
    * Stickiness is integer ppm; report days are days WITH activity
    * (inner join of the DAU frame), and early days see a partial
    * window by convention. */
  def qDauMau(s: SparkSession, dir: String): DataFrame = {
    val words = Tables.load(s, dir, "events")
      .select(to_date(col("ts")).as("day"),
        expr(s"user_id div $bmSlot").as("bucket"),
        expr(s"shiftleft(1L, cast(user_id % $bmSlot as int))").as("mask"))
      .groupBy("day", "bucket")
      .agg(expr("bit_or(mask)").as("bm"))
      .withColumn("dn", datediff(col("day"), lit("1970-01-01")))
    val mau = words
      .select(explode(sequence(col("dn"), col("dn") + 29)).as("tdn"),
        col("bucket"), col("bm"))
      .groupBy("tdn", "bucket")
      .agg(expr("bit_or(bm)").as("mbm"))
      .groupBy("tdn")
      .agg(expr("cast(sum(bit_count(mbm)) as bigint)").as("mau"))
      .hint("shuffle_hash")
    val dau = words.groupBy(col("day"), col("dn"))
      .agg(expr("cast(sum(bit_count(bm)) as bigint)").as("dau"))
    dau.join(mau, dau("dn") === mau("tdn"))
      .select(col("day"), col("dau"), col("mau"),
        expr("cast((dau * 1000000) div mau as bigint)")
          .as("stickiness_ppm"))
      .orderBy("day")
  }

  val qDauMauSql: String =
    s"""WITH w AS (
       |  SELECT CAST(ts AS DATE) AS day, user_id // $bmSlot AS bucket,
       |    bit_or(1::BIGINT << CAST(user_id % $bmSlot AS INT)) AS bm
       |  FROM events GROUP BY 1, 2),
       |i AS (
       |  SELECT day, bucket, bm,
       |    date_diff('day', DATE '1970-01-01', day) AS dn
       |  FROM w),
       |x AS (
       |  SELECT i.dn + z.d AS tdn, bucket, bm
       |  FROM i, unnest(range(0, 30)) AS z(d)),
       |mb AS (SELECT tdn, bucket, bit_or(bm) AS mbm FROM x GROUP BY 1, 2),
       |ma AS (SELECT tdn, CAST(SUM(bit_count(mbm)) AS BIGINT) AS mau
       |       FROM mb GROUP BY 1),
       |da AS (SELECT day, dn, CAST(SUM(bit_count(bm)) AS BIGINT) AS dau
       |       FROM i GROUP BY 1, 2)
       |SELECT day, dau, mau,
       |  CAST(dau * 1000000 // mau AS BIGINT) AS stickiness_ppm
       |FROM da JOIN ma ON da.dn = ma.tdn ORDER BY day""".stripMargin

  /** Seasonal-naive forecast backtest — the baseline every demand /
    * capacity forecasting effort must beat (predict month m with
    * month m−12) and the backtest ledger that scores it: per order
    * priority and month, actual vs forecast revenue, signed and
    * absolute error in exact cents, and the relative error in
    * integer basis points. The m−12 match is a JOIN on the month
    * index, never a LAG-12 over rows — a gap month would silently
    * misalign a positional lag.
    *
    * Scale shape: the fact table collapses once to (priority, month)
    * grain (map-side combine); the forecast join runs over that
    * model-sized frame. All error arithmetic is integer cents /
    * truncating div — no float. */
  def qForecastBacktest(s: SparkSession, dir: String): DataFrame = {
    val g = Tables.load(s, dir, "orders")
      .groupBy(col("o_orderpriority").as("priority"),
        expr("year(o_orderdate) * 12 + month(o_orderdate) - 1").as("m"))
      .agg(expr(
        "cast(sum(cast(o_totalprice as decimal(14,2)) * 100) as bigint)")
        .as("cents"))
    val prev = g.select(col("priority"), (col("m") + 12).as("m"),
      col("cents").as("forecast_cents"))
    g.join(prev, Seq("priority", "m"))
      .select(col("priority"),
        expr("cast(m div 12 as int)").as("yr"),
        expr("cast(m % 12 + 1 as int)").as("mon"),
        col("cents").as("actual_cents"), col("forecast_cents"),
        (col("cents") - col("forecast_cents")).as("err_cents"),
        abs(col("cents") - col("forecast_cents")).as("abs_err_cents"),
        expr("cast(((cents - forecast_cents) * 10000)" +
          " div forecast_cents as bigint)").as("err_bp"))
      .orderBy("priority", "yr", "mon")
  }

  val qForecastBacktestSql: String =
    """WITH g AS (
      |  SELECT o_orderpriority AS priority,
      |    year(o_orderdate) * 12 + month(o_orderdate) - 1 AS m,
      |    CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2)) * 100) AS BIGINT)
      |      AS cents
      |  FROM orders GROUP BY 1, 2)
      |SELECT c.priority AS priority, CAST(c.m // 12 AS INT) AS yr,
      |  CAST(c.m % 12 + 1 AS INT) AS mon,
      |  c.cents AS actual_cents, p.cents AS forecast_cents,
      |  c.cents - p.cents AS err_cents,
      |  abs(c.cents - p.cents) AS abs_err_cents,
      |  CAST((c.cents - p.cents) * 10000 // p.cents AS BIGINT) AS err_bp
      |FROM g c JOIN g p
      |  ON c.priority = p.priority AND c.m = p.m + 12
      |ORDER BY 1, 2, 3""".stripMargin

  /** Growth accounting — the user-state ledger (new / retained /
    * resurrected / churned per week) that growth teams close every
    * period: each active user-week classifies by the user's PREVIOUS
    * active week (none → new, last week → retained, older →
    * resurrected), and churn falls out of the accounting identity
    * churned(w) = active(w−1) − retained(w) — derived arithmetically
    * from the weekly aggregates, never via an extra anti-join pass
    * over the corpus.
    *
    * Scale shape: distinct (user, week) first (the corpus collapses
    * to thin rows); ONE user-grain sort exchange for the
    * previous-week lag; the weekly roll-up is map-side combined and
    * the churn lag runs over the model-sized week frame. */
  def qGrowthAccounting(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.load(s, dir, "events")
      .select(col("user_id"),
        expr("datediff(cast(ts as date), date'1970-01-01') div 7")
          .as("wk"))
      .distinct()
    val wu = Window.partitionBy(col("user_id")).orderBy(col("wk"))
    val classified = d
      .withColumn("prev", lag(col("wk"), 1).over(wu))
      .select(col("wk"),
        when(col("prev").isNull, "new")
          .when(col("prev") === col("wk") - 1, "retained")
          .otherwise("resurrected").as("state"))
    val weekly = classified.groupBy("wk")
      .agg(count(lit(1)).as("n_active"),
        sum(when(col("state") === "new", 1L).otherwise(0L)).as("n_new"),
        sum(when(col("state") === "retained", 1L).otherwise(0L))
          .as("n_retained"),
        sum(when(col("state") === "resurrected", 1L).otherwise(0L))
          .as("n_resurrected"))
    val ww = Window.orderBy(col("wk"))
    weekly
      .withColumn("churned", when(lag(col("wk"), 1).over(ww) ===
          col("wk") - 1,
        lag(col("n_active"), 1).over(ww) - col("n_retained"))
        .otherwise(coalesce(lag(col("n_active"), 1).over(ww), lit(0L))))
      .select(col("wk").cast(IntegerType).as("wk"), col("n_active"),
        col("n_new"), col("n_retained"), col("n_resurrected"),
        col("churned").as("n_churned"))
      .orderBy("wk")
  }

  val qGrowthAccountingSql: String =
    """WITH d AS (
      |  SELECT DISTINCT user_id,
      |    date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) // 7
      |      AS wk
      |  FROM events),
      |c AS (
      |  SELECT wk,
      |    CASE WHEN LAG(wk) OVER (PARTITION BY user_id ORDER BY wk)
      |           IS NULL THEN 'new'
      |      WHEN LAG(wk) OVER (PARTITION BY user_id ORDER BY wk)
      |           = wk - 1 THEN 'retained'
      |      ELSE 'resurrected' END AS state
      |  FROM d),
      |w AS (
      |  SELECT wk, COUNT(*) AS n_active,
      |    SUM(CASE WHEN state = 'new' THEN 1 ELSE 0 END) AS n_new,
      |    SUM(CASE WHEN state = 'retained' THEN 1 ELSE 0 END)
      |      AS n_retained,
      |    SUM(CASE WHEN state = 'resurrected' THEN 1 ELSE 0 END)
      |      AS n_resurrected
      |  FROM c GROUP BY 1)
      |SELECT CAST(wk AS INT) AS wk, CAST(n_active AS BIGINT) AS n_active,
      |  CAST(n_new AS BIGINT) AS n_new,
      |  CAST(n_retained AS BIGINT) AS n_retained,
      |  CAST(n_resurrected AS BIGINT) AS n_resurrected,
      |  CAST(CASE WHEN LAG(wk) OVER (ORDER BY wk) = wk - 1
      |    THEN LAG(n_active) OVER (ORDER BY wk) - n_retained
      |    ELSE COALESCE(LAG(n_active) OVER (ORDER BY wk), 0) END
      |    AS BIGINT) AS n_churned
      |FROM w ORDER BY wk""".stripMargin

  /** Revenue bridge years: decompose the 1999→2000 change. */
  private val bridgeY1 = 1999
  private val bridgeY2 = 2000

  /** Revenue bridge — the period-over-period waterfall every revenue
    * review opens with: the year-over-year revenue DELTA decomposed
    * by customer into new / churned / expansion / contraction
    * components that provably sum back to the total change (q_yoy
    * reports THAT revenue moved; the bridge answers WHY). Exact
    * cents throughout, so the reconciliation row is an identity, not
    * an approximation.
    *
    * Scale shape: one filtered scan collapses the fact table to
    * customer grain with both years' revenue as conditional sums
    * (map-side combine — no self-join of the two years); component
    * classification is a pure projection; the 4-component roll-up +
    * 1-row reconciliation are model-sized. */
  def qRevenueBridge(s: SparkSession, dir: String): DataFrame = {
    val perCust = Tables.load(s, dir, "orders")
      .filter(year(col("o_orderdate")).isin(bridgeY1, bridgeY2))
      .groupBy(col("o_custkey"))
      .agg(
        expr(s"cast(sum(case when year(o_orderdate) = $bridgeY1 then " +
          "cast(o_totalprice as decimal(14,2)) * 100 else 0 end) " +
          "as bigint)").as("r1"),
        expr(s"cast(sum(case when year(o_orderdate) = $bridgeY2 then " +
          "cast(o_totalprice as decimal(14,2)) * 100 else 0 end) " +
          "as bigint)").as("r2"))
    val classified = perCust.select(
      when(col("r1") === 0, "new")
        .when(col("r2") === 0, "churned")
        .when(col("r2") > col("r1"), "expansion")
        .otherwise("contraction").as("component"),
      (col("r2") - col("r1")).as("delta"),
      col("o_custkey"))
    classified.groupBy("component")
      .agg(count(lit(1)).as("n_customers"),
        sum(col("delta")).as("delta_cents"))
      .unionAll(classified.agg(count(lit(1)).as("n_customers"),
          sum(col("delta")).as("delta_cents"))
        .select(lit("total_change").as("component"), col("n_customers"),
          col("delta_cents")))
      .orderBy("component")
  }

  val qRevenueBridgeSql: String =
    s"""WITH p AS (
       |  SELECT o_custkey,
       |    CAST(SUM(CASE WHEN year(o_orderdate) = $bridgeY1
       |      THEN CAST(o_totalprice AS DECIMAL(14,2)) * 100
       |      ELSE 0 END) AS BIGINT) AS r1,
       |    CAST(SUM(CASE WHEN year(o_orderdate) = $bridgeY2
       |      THEN CAST(o_totalprice AS DECIMAL(14,2)) * 100
       |      ELSE 0 END) AS BIGINT) AS r2
       |  FROM orders
       |  WHERE year(o_orderdate) IN ($bridgeY1, $bridgeY2)
       |  GROUP BY 1),
       |c AS (
       |  SELECT CASE WHEN r1 = 0 THEN 'new'
       |      WHEN r2 = 0 THEN 'churned'
       |      WHEN r2 > r1 THEN 'expansion'
       |      ELSE 'contraction' END AS component,
       |    r2 - r1 AS delta
       |  FROM p)
       |SELECT component, COUNT(*) AS n_customers,
       |  CAST(SUM(delta) AS BIGINT) AS delta_cents
       |FROM c GROUP BY 1
       |UNION ALL
       |SELECT 'total_change', COUNT(*), CAST(SUM(delta) AS BIGINT)
       |FROM c
       |ORDER BY component""".stripMargin

  /** Association rules — the market-basket layer ABOVE q_basket_pairs
    * (that key counts co-occurrence; recommenders act on directed
    * RULES): each qualifying pair becomes two directed rules a→b and
    * b→a scored by support, confidence and lift — all in scaled
    * integers (ppm / milli) so "lift > 1" is the exact test
    * lift_milli > 1000, no float anywhere.
    *
    * Scale shape: reuses q_basket_pairs' checkpointed pair frame
    * (basket self-join stays bucket-local and shuffle-pinned there);
    * the rule expansion is a projection union; the basket total is
    * one driver-side scalar (model-sized, the q_pareto_share
    * pattern). */
  def qAssocRules(s: SparkSession, dir: String): DataFrame = {
    val base = qBasketPairs(s, dir)
    // basket count rides the plan as a 1-row broadcast scalar attach
    // (the engine's standard discipline, see qPriceIndex/qTfidf) —
    // previously a BLOCKING driver-side distinct().count() job over
    // lineitem ran before the plan was even built (r14, guide §5:
    // no driver loops in query paths); same bigint div arithmetic,
    // bit-identical output
    val nB = Tables.load(s, dir, "lineitem")
      .select(col("l_orderkey")).distinct()
      .agg(count(lit(1)).as("n_baskets"))
    val d1 = base.select(col("a").as("antecedent"),
      col("b").as("consequent"), col("n_ab"),
      col("n_a").as("n_ant"), col("n_b").as("n_con"))
    val d2 = base.select(col("b").as("antecedent"),
      col("a").as("consequent"), col("n_ab"),
      col("n_b").as("n_ant"), col("n_a").as("n_con"))
    d1.unionAll(d2)
      .crossJoin(broadcast(nB))
      .select(col("antecedent"), col("consequent"), col("n_ab"),
        expr("cast((n_ab * 1000000) div n_baskets as bigint)")
          .as("support_ppm"),
        expr("cast((n_ab * 1000000) div n_ant as bigint)")
          .as("confidence_ppm"),
        expr("cast((n_ab * n_baskets * 1000) div (n_ant * n_con) as bigint)")
          .as("lift_milli"))
      .orderBy("antecedent", "consequent")
  }

  val qAssocRulesSql: String = {
    val baseSql = qBasketPairsSql
    s"""WITH base AS ($baseSql),
       |nb AS (
       |  SELECT COUNT(DISTINCT l_orderkey) AS n FROM lineitem),
       |rules AS (
       |  SELECT a AS antecedent, b AS consequent, n_ab,
       |    n_a AS n_ant, n_b AS n_con
       |  FROM base
       |  UNION ALL
       |  SELECT b, a, n_ab, n_b, n_a FROM base)
       |SELECT antecedent, consequent, n_ab,
       |  CAST(n_ab * 1000000 // nb.n AS BIGINT) AS support_ppm,
       |  CAST(n_ab * 1000000 // n_ant AS BIGINT) AS confidence_ppm,
       |  CAST(n_ab * nb.n * 1000 // (n_ant * n_con) AS BIGINT)
       |    AS lift_milli
       |FROM rules, nb
       |ORDER BY antecedent, consequent""".stripMargin
  }

  /** Purchase-cadence intervals — the replenishment-cycle statistic
    * behind reorder reminders, churn-risk windows and inventory
    * planning: per market segment, the distribution of DAYS BETWEEN
    * consecutive orders of the same customer (median, p90, extremes).
    *
    * Scale shape: ONE customer-grain sort exchange produces the lag
    * gaps; the segment lookup joins shuffle-pinned (the customer
    * dimension is corpus-sized at 100 TB); the percentile aggregate
    * is sort-based at SEGMENT grain. Gaps are exact integer days;
    * medians interpolate identically in both engines (q_percentile
    * precedent). */
  def qOrderIntervals(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("c")).orderBy(col("d"), col("k"))
    val gaps = Tables.load(s, dir, "orders")
      .select(col("o_custkey").as("c"),
        to_date(col("o_orderdate")).as("d"), col("o_orderkey").as("k"))
      .withColumn("gap",
        datediff(col("d"), lag(col("d"), 1).over(w)).cast("long"))
      .filter(col("gap").isNotNull)
    val seg = Tables.load(s, dir, "customer")
      .select(col("c_custkey").as("c"), col("c_mktsegment").as("seg"))
      .hint("shuffle_hash")
    gaps.join(seg, "c")
      .groupBy("seg")
      .agg(count(lit(1)).as("n_gaps"),
        countDistinct(col("c")).as("n_customers"),
        expr("percentile(gap, 0.5)").as("med_gap_days"),
        expr("percentile(gap, 0.9)").as("p90_gap_days"),
        min(col("gap")).as("min_gap"), max(col("gap")).as("max_gap"))
      .orderBy("seg")
  }

  val qOrderIntervalsSql: String =
    """WITH g AS (
      |  SELECT o_custkey AS c,
      |    date_diff('day',
      |      LAG(CAST(o_orderdate AS DATE)) OVER (PARTITION BY o_custkey
      |        ORDER BY CAST(o_orderdate AS DATE), o_orderkey),
      |      CAST(o_orderdate AS DATE)) AS gap
      |  FROM orders),
      |f AS (SELECT c, CAST(gap AS BIGINT) AS gap FROM g
      |      WHERE gap IS NOT NULL)
      |SELECT c_mktsegment AS seg, COUNT(*) AS n_gaps,
      |  COUNT(DISTINCT f.c) AS n_customers,
      |  quantile_cont(gap, 0.5) AS med_gap_days,
      |  quantile_cont(gap, 0.9) AS p90_gap_days,
      |  CAST(MIN(gap) AS BIGINT) AS min_gap,
      |  CAST(MAX(gap) AS BIGINT) AS max_gap
      |FROM f JOIN customer ON c_custkey = f.c
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Revenue concentration — the Herfindahl-Hirschman index per year
    * over order-priority revenue shares (the antitrust/portfolio
    * diversification metric: 10000-scale HHI > 2500 is
    * "highly concentrated"; here ppm-scaled): how evenly does
    * revenue spread across categories, and who holds the top share?
    *
    * Float discipline: shares are TRUNCATED integer ppm first
    * (r_i·10⁶ div R — identical truncation in both engines), then
    * HHI = Σ share² div 10⁶ in pure longs — the classic Σ(p_i²)
    * without a single float, exact under the documented ppm
    * quantization. Top category resolves ties by priority name via
    * a total struct order.
    *
    * Scale shape: facts collapse once to (year, priority) grain; the
    * share window and final roll-up run over that model-sized frame. */
  def qConcentration(s: SparkSession, dir: String): DataFrame = {
    val g = Tables.load(s, dir, "orders")
      .groupBy(year(col("o_orderdate")).as("yr"),
        col("o_orderpriority").as("prio"))
      .agg(expr(
        "cast(sum(cast(o_totalprice as decimal(14,2)) * 100) as bigint)")
        .as("rev"))
    g.withColumn("share_ppm",
        expr("cast((rev * 1000000) div sum(rev) over" +
          " (partition by yr) as bigint)"))
      .groupBy("yr")
      .agg(count(lit(1)).as("n_categories"),
        expr("cast(sum(share_ppm * share_ppm) div 1000000 as bigint)")
          .as("hhi_ppm"),
        max(struct(col("share_ppm"), col("prio"))).as("top"))
      .select(col("yr").cast(IntegerType).as("yr"), col("n_categories"),
        col("hhi_ppm"), col("top.share_ppm").as("top_share_ppm"),
        col("top.prio").as("top_priority"))
      .orderBy("yr")
  }

  val qConcentrationSql: String =
    """WITH g AS (
      |  SELECT year(o_orderdate) AS yr, o_orderpriority AS prio,
      |    CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2)) * 100) AS BIGINT)
      |      AS rev
      |  FROM orders GROUP BY 1, 2),
      |sh AS (
      |  SELECT yr, prio,
      |    CAST(rev * 1000000 // SUM(rev) OVER (PARTITION BY yr)
      |      AS BIGINT) AS share_ppm
      |  FROM g),
      |r AS (
      |  SELECT yr, prio, share_ppm,
      |    ROW_NUMBER() OVER (PARTITION BY yr
      |      ORDER BY share_ppm DESC, prio DESC) AS rk
      |  FROM sh)
      |SELECT CAST(sh.yr AS INT) AS yr, COUNT(*) AS n_categories,
      |  CAST(SUM(sh.share_ppm * sh.share_ppm) // 1000000 AS BIGINT)
      |    AS hhi_ppm,
      |  MAX(CASE WHEN r.rk = 1 THEN r.share_ppm END) AS top_share_ppm,
      |  MAX(CASE WHEN r.rk = 1 THEN r.prio END) AS top_priority
      |FROM sh JOIN r ON sh.yr = r.yr AND sh.prio = r.prio
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Fulfillment lag — the order-to-ship SLA report every operations
    * dashboard runs: per order priority, the distribution of days
    * between order placement and each line item's ship date (count,
    * exact median, share shipped within 30 days in ppm, worst case).
    *
    * Scale shape: the canonical FACT-to-FACT join (lineitem ⋈ orders
    * on the order key) — shuffle-pinned on both sides (at 100 TB
    * neither side broadcasts; with both tables bucketed by order key
    * this join is co-located and exchange-free, the layout
    * q_bucket_join ships); lags are exact integer days; the
    * percentile aggregate is sort-based at PRIORITY grain; the SLA
    * share is a conditional count, integer ppm. */
  def qFulfillmentLag(s: SparkSession, dir: String): DataFrame = {
    val ords = Tables.load(s, dir, "orders")
      .select(col("o_orderkey"), col("o_orderpriority").as("priority"),
        to_date(col("o_orderdate")).as("od"))
      .hint("shuffle_hash")
    Tables.load(s, dir, "lineitem")
      .select(col("l_orderkey"), to_date(col("l_shipdate")).as("sd"))
      .join(ords, col("l_orderkey") === col("o_orderkey"))
      .withColumn("lag_days", datediff(col("sd"), col("od")).cast("long"))
      .groupBy("priority")
      .agg(count(lit(1)).as("n_lines"),
        expr("percentile(lag_days, 0.5)").as("med_lag_days"),
        expr("cast(sum(case when lag_days <= 30 then 1 else 0 end)" +
          " * 1000000 div count(1) as bigint)").as("within_30d_ppm"),
        min(col("lag_days")).as("min_lag"),
        max(col("lag_days")).as("max_lag"))
      .orderBy("priority")
  }

  val qFulfillmentLagSql: String =
    """WITH j AS (
      |  SELECT o.o_orderpriority AS priority,
      |    date_diff('day', CAST(o.o_orderdate AS DATE),
      |      CAST(l.l_shipdate AS DATE)) AS lag_days
      |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey)
      |SELECT priority, COUNT(*) AS n_lines,
      |  quantile_cont(CAST(lag_days AS BIGINT), 0.5) AS med_lag_days,
      |  CAST(SUM(CASE WHEN lag_days <= 30 THEN 1 ELSE 0 END)
      |    * 1000000 // COUNT(*) AS BIGINT) AS within_30d_ppm,
      |  CAST(MIN(lag_days) AS BIGINT) AS min_lag,
      |  CAST(MAX(lag_days) AS BIGINT) AS max_lag
      |FROM j GROUP BY 1 ORDER BY 1""".stripMargin

  /** Top movers — the trending-items report (monthly top-3 parts by
    * revenue, each with its previous-month rank and the rank delta):
    * leaderboards alone say WHO leads; dashboards want WHO MOVED,
    * which needs the FULL previous-month ranking (a climber may come
    * from rank 40 — a top-k-only history cannot price the move).
    *
    * Scale shape: facts collapse to (month, part) grain map-side;
    * the rank window partitions by month (parallelism = months,
    * state per partition = that month's parts); the prev-month
    * lookup joins the full ranked frame shuffle-pinned (it is
    * corpus-sized — parts × months); ties rank deterministically by
    * part key. */
  def qTopMovers(s: SparkSession, dir: String): DataFrame = {
    val g = Tables.load(s, dir, "lineitem")
      .groupBy(
        expr("year(l_shipdate) * 12 + month(l_shipdate) - 1").as("m"),
        col("l_partkey").as("p"))
      .agg(expr(
        "cast(sum(cast(l_extendedprice as decimal(14,2)) * 100) as bigint)")
        .as("rev"))
    val w = Window.partitionBy(col("m"))
      .orderBy(col("rev").desc, col("p"))
    val ranked = g.withColumn("rk", row_number().over(w).cast("long"))
      // one ranking feeds both the top-3 and lookup arms; LAZY (r15
      // A/B: eager 1.81 s vs lazy 1.52 s best-of-4 interleaved) — the
      // join job materializes the window output once
      .localCheckpoint(eager = false)
    val prev = ranked.select((col("m") + 1).as("m"), col("p"),
      col("rk").as("prev_rk")).hint("shuffle_hash")
    ranked.filter(col("rk") <= 3)
      .join(prev, Seq("m", "p"), "left")
      .select(expr("cast(m div 12 as int)").as("yr"),
        expr("cast(m % 12 + 1 as int)").as("mon"),
        col("p").as("partkey"), col("rev").as("rev_cents"), col("rk"),
        col("prev_rk"), (col("prev_rk") - col("rk")).as("rank_gain"))
      .orderBy("yr", "mon", "rk")
  }

  val qTopMoversSql: String =
    """WITH g AS (
      |  SELECT year(l_shipdate) * 12 + month(l_shipdate) - 1 AS m,
      |    l_partkey AS p,
      |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(14,2)) * 100)
      |      AS BIGINT) AS rev
      |  FROM lineitem GROUP BY 1, 2),
      |r AS (
      |  SELECT m, p, rev,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY m
      |      ORDER BY rev DESC, p) AS BIGINT) AS rk
      |  FROM g)
      |SELECT CAST(c.m // 12 AS INT) AS yr,
      |  CAST(c.m % 12 + 1 AS INT) AS mon,
      |  c.p AS partkey, c.rev AS rev_cents, c.rk,
      |  pv.rk AS prev_rk, pv.rk - c.rk AS rank_gain
      |FROM r c LEFT JOIN r pv ON pv.m = c.m - 1 AND pv.p = c.p
      |WHERE c.rk <= 3
      |ORDER BY 1, 2, c.rk""".stripMargin

  /** Promotion effectiveness — the discount-band analysis behind
    * TPC-H Q6's revenue-impact question, taken to the report pricing
    * teams actually read: per discount band (percentage points),
    * line volume, quantity, revenue, the discount given back (the
    * promo's exact cost — Q6's `extendedprice·discount` as exact
    * cents), and quantity lift per line vs the zero-discount
    * baseline in ppm (per-line averages truncated to centi-units
    * first — identical quantization both engines, and the arithmetic
    * stays inside long at any corpus size).
    *
    * Scale shape: ONE map-side-combined pass collapses lineitem to
    * ≤11 discount bands; the baseline is the band-0 row, joined back
    * by a 1-row broadcast (intended); every ratio is integer div on
    * exact decimal-derived cents — the discount product is decimal
    * BEFORE the cast, so no double rounding anywhere. */
  def qPromoLift(s: SparkSession, dir: String): DataFrame = {
    val bands = Tables.load(s, dir, "lineitem")
      .groupBy(expr("cast(round(l_discount * 100) as int)").as("disc_pct"))
      .agg(count(lit(1)).as("n_lines"),
        expr("cast(sum(cast(l_quantity as decimal(12,2)) * 100)" +
          " as bigint)").as("qty_centi"),
        expr("cast(sum(cast(l_extendedprice as decimal(14,2)) * 100)" +
          " as bigint)").as("rev_cents"),
        // the discount product carries fractional cents — FLOOR
        // explicitly (Spark's decimal→long cast truncates, DuckDB's
        // rounds; floor is the same function in both)
        expr("cast(floor(sum(cast(l_extendedprice as decimal(14,2))" +
          " * cast(l_discount as decimal(4,2)) * 100)) as bigint)")
          .as("promo_cost_cents"))
    val base = bands.filter(col("disc_pct") === 0)
      .select(col("n_lines").as("b_lines"), col("qty_centi").as("b_qty"))
    bands.join(broadcast(base))
      .select(col("disc_pct"), col("n_lines"), col("qty_centi"),
        col("rev_cents"), col("promo_cost_cents"),
        // per-line averages FIRST (truncated centi-units, identical
        // both engines) — the direct cross-product form overflows
        // long at sf1 (qty_centi·b_lines·10⁶ ≈ 9e21)
        expr("cast(((qty_centi div n_lines) * 1000000)" +
          " div (b_qty div b_lines) - 1000000 as bigint)")
          .as("qty_lift_ppm"))
      .orderBy("disc_pct")
  }

  val qPromoLiftSql: String =
    """WITH b AS (
      |  SELECT CAST(round(l_discount * 100) AS INT) AS disc_pct,
      |    COUNT(*) AS n_lines,
      |    CAST(SUM(CAST(l_quantity AS DECIMAL(12,2)) * 100) AS BIGINT)
      |      AS qty_centi,
      |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(14,2)) * 100)
      |      AS BIGINT) AS rev_cents,
      |    CAST(floor(SUM(CAST(l_extendedprice AS DECIMAL(14,2))
      |      * CAST(l_discount AS DECIMAL(4,2)) * 100)) AS BIGINT)
      |      AS promo_cost_cents
      |  FROM lineitem GROUP BY 1),
      |z AS (SELECT n_lines AS b_lines, qty_centi AS b_qty FROM b
      |      WHERE disc_pct = 0)
      |SELECT disc_pct, b.n_lines, qty_centi, rev_cents, promo_cost_cents,
      |  CAST((qty_centi // b.n_lines) * 1000000 // (b_qty // b_lines)
      |    - 1000000 AS BIGINT) AS qty_lift_ppm
      |FROM b, z ORDER BY disc_pct""".stripMargin

  /** A/B bucket count (a 90/10 holdout-style split: variant =
    * bucket 0 is control-heavy on purpose so expected counts
    * differ per variant). */
  private val abBuckets = Seq(("control", 9L), ("treatment", 1L))

  /** Experiment bucketing + sample-ratio-mismatch audit — the two
    * experimentation-platform invariants: assignment must be a PURE
    * FUNCTION of the unit id (sticky across sessions, replayable —
    * no RNG state; the same Knuth multiplicative hash discipline as
    * pipeline_weighted_sample), and realized allocation must match
    * the declared 90/10 split (SRM — the first thing a trustworthy
    * experiment dashboard checks, because a mismatch invalidates
    * every downstream metric). Deviation is reported as exact ppm
    * and as the χ² numerator term over expected (scaled integer —
    * q_chi2's discipline), never a float p-value.
    *
    * Scale shape: assignment is a codegen'd hash projection; ONE
    * map-side-combined count per variant; the 2-row audit is pure
    * integer arithmetic on declared weights. */
  def qAbBucketing(s: SparkSession, dir: String): DataFrame = {
    val totalW = abBuckets.map(_._2).sum
    // hash mod 2^32 sliced into 10 equal bands; bands 0-8 = control
    val hashedBucket =
      s"case when (user_id * 2654435761 + 12345) % 4294967296" +
        s" div 429496730 < ${abBuckets.head._2}" +
        s" then '${abBuckets.head._1}' else '${abBuckets(1)._1}' end"
    val counts = Tables.load(s, dir, "events")
      .select(col("user_id")).distinct()
      .select(expr(hashedBucket).as("variant"))
      .groupBy("variant").agg(count(lit(1)).as("n_units"))
    val w = Window.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    val weights = typedlit(abBuckets.toMap)
    counts
      .withColumn("total", sum(col("n_units")).over(w))
      .withColumn("expected_units",
        expr(s"(total * element_at(map(" +
          abBuckets.map(b => s"'${b._1}', ${b._2}L").mkString(", ") +
          s"), variant)) div $totalW"))
      .select(col("variant"), col("n_units"), col("expected_units"),
        expr("cast(((n_units - expected_units) * 1000000)" +
          " div expected_units as bigint)").as("srm_dev_ppm"),
        expr("cast(((n_units - expected_units)" +
          " * (n_units - expected_units) * 1000000)" +
          " div expected_units as bigint)").as("chi2_term_micro"))
      .orderBy("variant")
  }

  val qAbBucketingSql: String =
    """WITH u AS (SELECT DISTINCT user_id FROM events),
      |a AS (
      |  SELECT CASE WHEN (user_id * 2654435761 + 12345) % 4294967296
      |      // 429496730 < 9
      |    THEN 'control' ELSE 'treatment' END AS variant
      |  FROM u),
      |c AS (SELECT variant, COUNT(*) AS n_units FROM a GROUP BY 1),
      |t AS (SELECT SUM(n_units) AS total FROM c)
      |SELECT variant, CAST(n_units AS BIGINT) AS n_units,
      |  CAST(total * (CASE variant WHEN 'control' THEN 9 ELSE 1 END)
      |    // 10 AS BIGINT) AS expected_units,
      |  CAST((n_units - total * (CASE variant WHEN 'control' THEN 9
      |      ELSE 1 END) // 10) * 1000000
      |    // (total * (CASE variant WHEN 'control' THEN 9 ELSE 1 END)
      |      // 10) AS BIGINT) AS srm_dev_ppm,
      |  CAST((n_units - total * (CASE variant WHEN 'control' THEN 9
      |      ELSE 1 END) // 10)
      |    * (n_units - total * (CASE variant WHEN 'control' THEN 9
      |      ELSE 1 END) // 10) * 1000000
      |    // (total * (CASE variant WHEN 'control' THEN 9 ELSE 1 END)
      |      // 10) AS BIGINT) AS chi2_term_micro
      |FROM c, t ORDER BY variant""".stripMargin

  /** Winsorization — the outlier-clipping prep step (clamp to the
    * p05/p95 band) feature pipelines and robust KPIs run before any
    * mean is trusted, with the audit a reviewer needs: how many
    * values were clipped at each tail and how much mass moved.
    * Bounds are SELECTIONS at integer ranks (row_number against
    * deterministic rank cutoffs), not interpolated percentiles — so
    * the clipped values stay exact integer cents and every sum is a
    * long (an interpolated bound would drag the whole report into
    * float summation, which SURVEY §4 bans).
    *
    * Scale shape: ONE type-grain sort exchange produces ranks and
    * group sizes together (same window spec — one shuffle); the two
    * bound rows per type join back by broadcast (model-sized: 2×
    * types); clip + conditional sums are map-side combined. */
  def qWinsorize(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(s, dir, "events")
      .select(col("event_type").as("t"), col("event_id"),
        expr("cast(round(value * 100) as bigint)").as("c"))
    val w = Window.partitionBy(col("t")).orderBy(col("c"), col("event_id"))
    val ranked = ev
      .withColumn("rk", row_number().over(w).cast("long"))
      .withColumn("n", count(lit(1)).over(
        Window.partitionBy(col("t"))))
    val lo = ranked
      .filter(col("rk") === expr("greatest(1L, (5 * n) div 100)"))
      .select(col("t"), col("c").as("lo"))
    val hi = ranked
      .filter(col("rk") === expr("least(n, (95 * n + 99) div 100)"))
      .select(col("t"), col("c").as("hi"))
    ev.join(broadcast(lo), "t").join(broadcast(hi), "t")
      .groupBy(col("t").as("event_type"))
      .agg(count(lit(1)).as("n"),
        max(col("lo")).as("lo_cents"), max(col("hi")).as("hi_cents"),
        sum(when(col("c") < col("lo"), 1L).otherwise(0L))
          .as("n_clipped_low"),
        sum(when(col("c") > col("hi"), 1L).otherwise(0L))
          .as("n_clipped_high"),
        sum(col("c")).as("sum_before_cents"),
        sum(greatest(col("lo"), least(col("hi"), col("c"))))
          .as("sum_after_cents"))
      .orderBy("event_type")
  }

  val qWinsorizeSql: String =
    """WITH e AS (
      |  SELECT event_type AS t, event_id,
      |    CAST(round(value * 100) AS BIGINT) AS c
      |  FROM events),
      |r AS (
      |  SELECT t, c,
      |    ROW_NUMBER() OVER (PARTITION BY t ORDER BY c, event_id) AS rk,
      |    COUNT(*) OVER (PARTITION BY t) AS n
      |  FROM e),
      |lo AS (SELECT t, c AS lo FROM r
      |       WHERE rk = GREATEST(1, (5 * n) // 100)),
      |hi AS (SELECT t, c AS hi FROM r
      |       WHERE rk = LEAST(n, (95 * n + 99) // 100))
      |SELECT e.t AS event_type, COUNT(*) AS n,
      |  CAST(MAX(lo.lo) AS BIGINT) AS lo_cents,
      |  CAST(MAX(hi.hi) AS BIGINT) AS hi_cents,
      |  CAST(SUM(CASE WHEN e.c < lo.lo THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_clipped_low,
      |  CAST(SUM(CASE WHEN e.c > hi.hi THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_clipped_high,
      |  CAST(SUM(e.c) AS BIGINT) AS sum_before_cents,
      |  CAST(SUM(GREATEST(lo.lo, LEAST(hi.hi, e.c))) AS BIGINT)
      |    AS sum_after_cents
      |FROM e JOIN lo ON e.t = lo.t JOIN hi ON e.t = hi.t
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Revenue inequality per market segment — the exact Lorenz-curve
    * pair every fairness/concentration dashboard wants next to
    * q_concentration's HHI: the Gini coefficient over per-customer
    * lifetime revenue, plus the top-decile revenue share. Gini uses
    * the rank formulation G = (2·Σi·x_i − (n+1)·Σx_i) / (n·Σx_i)
    * over ascending-sorted x — one sort, no O(n²) pairwise |x_i−x_j|.
    *
    * Float discipline: revenues are integer cents; the rank-weighted
    * sum Σi·x_i runs in DECIMAL(38,0) (at 10⁹ customers × 10⁹ cents
    * the product tops 2⁶³ — the packFrame lesson from r7 applied
    * BEFORE the overflow ships), and both ratios are integral `div`
    * (Spark's IntegralDivide accepts decimals and returns an exact
    * long; DuckDB computes the same quotient in HUGEINT) — ppm
    * outputs, zero floats. Ranks tie-break by customer key, which
    * cannot change either statistic (equal x values commute in Σi·x
    * and in any decile cut).
    *
    * Scale shape: facts collapse once to customer grain (map-side
    * partial), the rank window sorts CUSTOMER-grain rows within each
    * segment — the honest cost of an exact Gini, the same
    * distributed-sort regime as q_equidepth_hist — and the segment
    * roll-up reuses the window's partitioning (no extra exchange).
    * Customers who never ordered are out of scope (revenue
    * population, not account population). */
  def qGini(s: SparkSession, dir: String): DataFrame = {
    val cust = Tables.load(s, dir, "customer")
      .select(col("c_custkey"), col("c_mktsegment").as("seg"))
    val rev = Tables.load(s, dir, "orders")
      .groupBy(col("o_custkey"))
      .agg(expr(
        "cast(sum(cast(o_totalprice as decimal(14,2)) * 100) as bigint)")
        .as("rev"))
    val ranked = rev
      .join(cust.hint("shuffle_hash"), col("o_custkey") === col("c_custkey"))
      .select(col("seg"), col("c_custkey").as("ck"), col("rev"))
      .withColumn("i", row_number().over(
        Window.partitionBy(col("seg")).orderBy(col("rev"), col("ck"))))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("seg"))))
    ranked.groupBy("seg")
      .agg(count(lit(1)).as("n_customers"),
        sum(col("rev")).as("tot"),
        expr("sum(cast(i as decimal(38,0)) * rev)").as("iwx"),
        expr("sum(case when i > n - n div 10 then rev else 0L end)")
          .as("toprev"))
      .select(col("seg"), col("n_customers"),
        col("tot").as("total_rev_cents"),
        expr("((2 * iwx - (cast(n_customers as decimal(38,0)) + 1) * tot)" +
          " * 1000000) div (cast(n_customers as decimal(38,0)) * tot)")
          .as("gini_ppm"),
        expr("(cast(toprev as decimal(38,0)) * 1000000) div tot")
          .as("top_decile_ppm"))
      .orderBy("seg")
  }

  val qGiniSql: String =
    """WITH r AS (
      |  SELECT o_custkey AS ck,
      |    CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2)) * 100) AS BIGINT)
      |      AS rev
      |  FROM orders GROUP BY 1),
      |j AS (
      |  SELECT c_mktsegment AS seg, ck, rev,
      |    ROW_NUMBER() OVER (PARTITION BY c_mktsegment
      |      ORDER BY rev, ck) AS i,
      |    COUNT(*) OVER (PARTITION BY c_mktsegment) AS n
      |  FROM r JOIN customer ON c_custkey = ck)
      |SELECT seg, COUNT(*) AS n_customers,
      |  CAST(SUM(rev) AS BIGINT) AS total_rev_cents,
      |  CAST(((2 * SUM(CAST(i AS HUGEINT) * rev)
      |         - (COUNT(*) + 1) * SUM(rev)) * 1000000)
      |    // (COUNT(*) * SUM(rev)) AS BIGINT) AS gini_ppm,
      |  CAST((SUM(CASE WHEN i > n - n // 10 THEN rev ELSE 0 END)
      |    * 1000000) // SUM(rev) AS BIGINT) AS top_decile_ppm
      |FROM j GROUP BY 1 ORDER BY 1""".stripMargin

  /** Mean-shift changepoint detection per nation — the time-series
    * QC primitive behind "did this metric jump, and when": over each
    * nation's daily-revenue series, the CUSUM statistic
    * D_i = |n·S_i − i·S_n| (S = prefix sum; the running total's
    * deviation from the straight line it would draw if the mean never
    * changed, scaled by n to stay integral) maximized over interior
    * days. The argmax day IS the estimated changepoint; the report
    * adds the exact before/after mean levels the shift separates.
    *
    * Float discipline: daily revenue is integer cents; n·S and i·S_n
    * run in DECIMAL(38,0) (a 10-year series over 2⁶³-cent totals
    * overflows long products), the reported deviation is normalized
    * back to cents by integral `div n`, means are integral cents.
    * Ties on the max resolve to the EARLIEST day in both engines.
    *
    * Scale shape: the fact→customer join is shuffle-pinned (both
    * sides corpus-sized at 100 TB), the 25-row nation dim broadcasts,
    * facts collapse to (nation, day) grain map-side; every window —
    * prefix scan, series totals, argmax rank — partitions by nation
    * over that model-sized frame, sharing ONE exchange. */
  def qChangepoint(s: SparkSession, dir: String): DataFrame = {
    val cust = Tables.load(s, dir, "customer")
      .select(col("c_custkey"), col("c_nationkey"))
    val nat = Tables.load(s, dir, "nation")
      .select(col("n_nationkey"), col("n_name"))
    val daily = Tables.load(s, dir, "orders")
      .select(col("o_custkey"), to_date(col("o_orderdate")).as("day"),
        expr("cast(cast(o_totalprice as decimal(14,2)) * 100 as bigint)")
          .as("c"))
      .join(cust.hint("shuffle_hash"), col("o_custkey") === col("c_custkey"))
      .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name").as("nation"), col("day"))
      .agg(sum(col("c")).as("x"))
    val w = Window.partitionBy("nation").orderBy("day")
    val wAll = Window.partitionBy("nation")
    val best = daily
      .withColumn("i", row_number().over(w))
      .withColumn("s", sum(col("x")).over(w))
      .withColumn("n", count(lit(1)).over(wAll))
      .withColumn("tot", sum(col("x")).over(wAll))
      .filter(col("i") < col("n"))
      .withColumn("dev", expr(
        "abs(cast(n as decimal(38,0)) * s - cast(i as decimal(38,0)) * tot)"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("nation").orderBy(col("dev").desc, col("day"))))
      .filter(col("rk") === 1)
    best.select(col("nation"), col("n").as("n_days"),
        col("tot").as("total_cents"), col("day").as("cp_day"),
        expr("cast(dev div cast(n as decimal(38,0)) as bigint)")
          .as("dev_cents"),
        expr("s div i").as("mean_before_cents"),
        expr("(tot - s) div (n - i)").as("mean_after_cents"))
      .orderBy("nation")
  }

  val qChangepointSql: String =
    """WITH d AS (
      |  SELECT n_name AS nation, CAST(o_orderdate AS DATE) AS day,
      |    CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2)) * 100) AS BIGINT)
      |      AS x
      |  FROM orders JOIN customer ON o_custkey = c_custkey
      |  JOIN nation ON c_nationkey = n_nationkey
      |  GROUP BY 1, 2),
      |sc AS (
      |  SELECT nation, day,
      |    ROW_NUMBER() OVER (PARTITION BY nation ORDER BY day) AS i,
      |    SUM(x) OVER (PARTITION BY nation ORDER BY day
      |      ROWS UNBOUNDED PRECEDING) AS s,
      |    COUNT(*) OVER (PARTITION BY nation) AS n,
      |    SUM(x) OVER (PARTITION BY nation) AS tot
      |  FROM d),
      |dv AS (
      |  SELECT nation, day, i, s, n, tot,
      |    ABS(CAST(n AS HUGEINT) * s - CAST(i AS HUGEINT) * tot) AS dev
      |  FROM sc WHERE i < n),
      |r AS (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY nation
      |    ORDER BY dev DESC, day) AS rk FROM dv)
      |SELECT nation, CAST(n AS BIGINT) AS n_days,
      |  CAST(tot AS BIGINT) AS total_cents, day AS cp_day,
      |  CAST(dev // n AS BIGINT) AS dev_cents,
      |  CAST(s // i AS BIGINT) AS mean_before_cents,
      |  CAST((tot - s) // (n - i) AS BIGINT) AS mean_after_cents
      |FROM r WHERE rk = 1 ORDER BY nation""".stripMargin

  /** Censoring horizon for q_survival: a customer whose last order is
    * more than this many days before the observation edge counts as
    * CHURNED (event); anyone active within it is CENSORED — still
    * alive as far as the data can say. */
  private val survivalChurnDays = 90

  /** Churn life table per market segment — the Kaplan-Meier risk-set
    * report behind every retention curve: customer lifetime = first
    * order → last order, an EVENT if the customer went quiet more
    * than 90 days before the dataset's edge, CENSORED otherwise
    * (right-censoring is the whole point of survival analysis — a
    * naive churn rate over all customers calls every recent signup a
    * churner). Per (segment, lifetime-month) bucket: n still at
    * risk, events, censored — the exact integer triple the KM
    * product Π(1 − d_i/n_i) is computed from; the engine ships the
    * counts, not the float product, so the gate stays bitwise.
    *
    * Scale shape: facts collapse to customer grain map-side (min/max
    * dates), the observation edge is a 1-row broadcast (a scalar at
    * any corpus size), the segment join is shuffle-pinned, and the
    * life table itself is model-sized (segments × months) — the
    * reverse-cumulative at-risk window runs over that frame. */
  def qSurvival(s: SparkSession, dir: String): DataFrame = {
    val cust = Tables.load(s, dir, "customer")
      .select(col("c_custkey"), col("c_mktsegment").as("seg"))
    val o = Tables.load(s, dir, "orders")
      .groupBy(col("o_custkey"))
      .agg(min(to_date(col("o_orderdate"))).as("f"),
        max(to_date(col("o_orderdate"))).as("l"))
    val edge = o.agg(max(col("l")).as("m"))
    val lives = o
      .join(cust.hint("shuffle_hash"), col("o_custkey") === col("c_custkey"))
      .join(broadcast(edge))
      .select(col("seg"),
        when(datediff(col("m"), col("l")) > survivalChurnDays, 1L)
          .otherwise(0L).as("ev"),
        expr(s"""(case when datediff(m, l) > $survivalChurnDays
                 | then datediff(l, f) else datediff(m, f) end) div 30"""
          .stripMargin).as("t_months"))
    val table = lives.groupBy("seg", "t_months")
      .agg(sum(col("ev")).as("n_events"),
        sum(lit(1L) - col("ev")).as("n_censored"))
    table
      .withColumn("at_risk",
        sum(col("n_events") + col("n_censored")).over(
          Window.partitionBy("seg").orderBy(col("t_months").desc)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col("seg"), col("t_months"), col("at_risk"),
        col("n_events"), col("n_censored"))
      .orderBy("seg", "t_months")
  }

  val qSurvivalSql: String =
    s"""WITH o AS (
       |  SELECT o_custkey AS ck, MIN(CAST(o_orderdate AS DATE)) AS f,
       |    MAX(CAST(o_orderdate AS DATE)) AS l
       |  FROM orders GROUP BY 1),
       |m AS (SELECT MAX(l) AS m FROM o),
       |lv AS (
       |  SELECT c_mktsegment AS seg,
       |    CASE WHEN date_diff('day', l, m.m) > $survivalChurnDays
       |      THEN 1 ELSE 0 END AS ev,
       |    (CASE WHEN date_diff('day', l, m.m) > $survivalChurnDays
       |      THEN date_diff('day', f, l)
       |      ELSE date_diff('day', f, m.m) END) // 30 AS t_months
       |  FROM o CROSS JOIN m JOIN customer ON c_custkey = ck),
       |c AS (
       |  SELECT seg, t_months, CAST(SUM(ev) AS BIGINT) AS n_events,
       |    CAST(SUM(1 - ev) AS BIGINT) AS n_censored
       |  FROM lv GROUP BY 1, 2)
       |SELECT seg, CAST(t_months AS BIGINT) AS t_months,
       |  CAST(SUM(n_events + n_censored) OVER (PARTITION BY seg
       |    ORDER BY t_months DESC ROWS UNBOUNDED PRECEDING) AS BIGINT)
       |    AS at_risk,
       |  n_events, n_censored
       |FROM c ORDER BY seg, t_months""".stripMargin

  /** Inventory ledger with stockout clamping — the running-balance
    * recurrence S_i = max(0, S_{i−1} + x_i) that looks inherently
    * sequential (each day depends on the last) and therefore
    * impossible to window — solved EXACTLY by the prefix-min
    * identity S_i = P_i − min(0, min_{j≤i} P_j) (P = plain prefix
    * sum): clamping at zero repeatedly is the same as subtracting
    * the running minimum wherever it dips below zero. Two ordinary
    * windows replace the sequential scan, so the operator
    * distributes like any other prefix aggregation. Per part:
    * final/max balance, stockout count (strict new prefix minima
    * below zero = days demand was lost), total lost units.
    *
    * All arithmetic is integer units. Quantities floor to longs —
    * the one form both engines agree on for positive values: Spark's
    * decimal→long cast truncates while DuckDB's decimal and double
    * casts ROUND (half-away and half-even respectively), so the
    * oracle says FLOOR explicitly. Receipts are returned lines
    * (+qty), shipments everything else (−qty).
    *
    * Scale shape: facts collapse to (part, day) grain map-side; the
    * prefix-sum, running-min and lagged-min windows all partition by
    * part and share ONE exchange; the final rollup reuses it.
    * Latest-day selection is a total struct order (day unique per
    * part), not a second ranking pass. */
  /** Shared clamped-ledger scan for q_stock_ledger / q_twab: daily
    * net movements at (part, day) grain with the prefix-sum (`p`),
    * capped running-min (`pm` — so clamped balance = p − pm) and
    * lagged min (`prevmin`, stockout detection) windows, all sharing
    * one part-partitioned exchange. */
  private def stockScan(s: SparkSession, dir: String): DataFrame = {
    val mv = Tables.load(s, dir, "lineitem")
      .select(col("l_partkey").as("part"),
        to_date(col("l_shipdate")).as("day"),
        expr("""case when l_returnflag = 'R'
                | then cast(cast(l_quantity as decimal(12,2)) as bigint)
                | else -cast(cast(l_quantity as decimal(12,2)) as bigint)
                | end""".stripMargin).as("m"))
      .groupBy("part", "day").agg(sum(col("m")).as("x"))
    val w = Window.partitionBy("part").orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wPrev = Window.partitionBy("part").orderBy("day")
      .rowsBetween(Window.unboundedPreceding, -1)
    mv.withColumn("p", sum(col("x")).over(w))
      .withColumn("pm", least(lit(0L), min(col("p")).over(w)))
      .withColumn("prevmin",
        coalesce(least(lit(0L), min(col("p")).over(wPrev)), lit(0L)))
  }

  def qStockLedger(s: SparkSession, dir: String): DataFrame = {
    stockScan(s, dir).groupBy("part")
      .agg(count(lit(1)).as("n_days"),
        max(struct(col("day"), col("p"), col("pm"))).as("last"),
        max(col("p") - col("pm")).as("max_balance"),
        sum(when(col("p") < col("prevmin"), 1L).otherwise(0L))
          .as("n_stockouts"))
      .select(col("part"), col("n_days"),
        (col("last.p") - col("last.pm")).as("final_balance"),
        col("max_balance"), col("n_stockouts"),
        (-col("last.pm")).as("lost_units"))
      .orderBy("part")
  }

  val qStockLedgerSql: String =
    """WITH mv AS (
      |  SELECT l_partkey AS part, CAST(l_shipdate AS DATE) AS day,
      |    CAST(SUM(CASE WHEN l_returnflag = 'R'
      |      THEN CAST(FLOOR(l_quantity) AS BIGINT)
      |      ELSE -CAST(FLOOR(l_quantity) AS BIGINT) END) AS BIGINT) AS x
      |  FROM lineitem GROUP BY 1, 2),
      |p1 AS (
      |  SELECT part, day, SUM(x) OVER (PARTITION BY part ORDER BY day
      |    ROWS UNBOUNDED PRECEDING) AS p
      |  FROM mv),
      |p2 AS (
      |  SELECT part, day, p,
      |    LEAST(0, MIN(p) OVER (PARTITION BY part ORDER BY day
      |      ROWS UNBOUNDED PRECEDING)) AS pm,
      |    COALESCE(LEAST(0, MIN(p) OVER (PARTITION BY part ORDER BY day
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)), 0)
      |      AS prevmin
      |  FROM p1),
      |r AS (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY part
      |    ORDER BY day DESC) AS rk
      |  FROM p2)
      |SELECT part, CAST(COUNT(*) AS BIGINT) AS n_days,
      |  CAST(MAX(CASE WHEN rk = 1 THEN p - pm END) AS BIGINT)
      |    AS final_balance,
      |  CAST(MAX(p - pm) AS BIGINT) AS max_balance,
      |  CAST(SUM(CASE WHEN p < prevmin THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_stockouts,
      |  CAST(MAX(CASE WHEN rk = 1 THEN -pm END) AS BIGINT) AS lost_units
      |FROM r GROUP BY 1 ORDER BY 1""".stripMargin

  /** Report size for q_top_paths. */
  private val pathTopK = 20

  /** Top user paths — the Sankey/flow-report primitive one level
    * above q_transition_matrix's single-step counts: the most common
    * 3-step event-type SEQUENCES users actually walk (a transition
    * matrix can't distinguish a→b→a loops from a→b→c funnels — path
    * mining can, and product analytics reads the difference as
    * "stuck in a loop" vs "converting"). Top 20 paths by exact
    * count, ties broken lexicographically.
    *
    * Scale shape: ONE user-partitioned window exchange produces both
    * lookahead steps (lead 1 and lead 2 share the sort); paths
    * collapse to path-grain counts map-side; the top-k is a
    * model-sized total order (distinct paths ≤ |event types|³ — a
    * GLOBAL rank over a frame that small is not the q_top_movers
    * corpus-ranking regime, so a plain window rank is the honest
    * plan). Windows within a user never cross partitions: the
    * sequence recurrence the engine cannot distribute row-by-row is
    * exactly what Spark's window SORT already solves. */
  def qTopPaths(s: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val paths = Tables.load(s, dir, "events")
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type"))
      .withColumn("s2", lead(col("event_type"), 1).over(byUser))
      .withColumn("s3", lead(col("event_type"), 2).over(byUser))
      .filter(col("s2").isNotNull && col("s3").isNotNull)
      .select(concat_ws(" > ", col("event_type"), col("s2"), col("s3"))
        .as("path"))
      .groupBy("path").agg(count(lit(1)).as("n"))
    paths
      .withColumn("rk", row_number().over(
        Window.orderBy(col("n").desc, col("path"))))
      .filter(col("rk") <= pathTopK)
      .select(col("rk").cast(LongType).as("rk"), col("path"), col("n"))
      .orderBy("rk")
  }

  val qTopPathsSql: String =
    s"""WITH t AS (
       |  SELECT event_type,
       |    LEAD(event_type, 1) OVER w AS s2,
       |    LEAD(event_type, 2) OVER w AS s3
       |  FROM events
       |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
       |p AS (
       |  SELECT event_type || ' > ' || s2 || ' > ' || s3 AS path,
       |    COUNT(*) AS n
       |  FROM t WHERE s2 IS NOT NULL AND s3 IS NOT NULL GROUP BY 1),
       |r AS (
       |  SELECT path, CAST(n AS BIGINT) AS n,
       |    ROW_NUMBER() OVER (ORDER BY n DESC, path) AS rk
       |  FROM p)
       |SELECT CAST(rk AS BIGINT) AS rk, path, n FROM r
       |WHERE rk <= $pathTopK ORDER BY rk""".stripMargin

  /** Periodic-FIFO cost of goods shipped — the inventory-accounting
    * allocation that looks like a sequential matching loop (each
    * shipment consumes the oldest remaining receipt layers) and is
    * actually an INTERVAL-OVERLAP JOIN in cumulative-quantity space:
    * number receipt units 0..R and shipment units 0..S per part in
    * FIFO order; receipt r owns units [rlo, rhi), shipment s consumes
    * units [slo, shi), and FIFO matches exactly their overlap —
    * match(r, s) = max(0, min(rhi, shi) − max(rlo, slo)). The
    * q_stock_ledger trick's sibling: a "can't-distribute" recurrence
    * turned into two prefix sums and a band join. Per part: receipt/
    * shipped/matched quantities, exact COGS at truncated integer
    * unit cost, unfilled demand.
    *
    * Periodic (cost-layer) FIFO: layers match in receipt order over
    * the full horizon, the standard end-of-period costing method —
    * date-aware perpetual FIFO would add a day predicate to the same
    * join. Unit cost = line cents div qty, truncated identically in
    * both engines.
    *
    * Scale shape: the two FIFO numberings are part-partitioned
    * prefix-sum windows; the overlap join is EQUI on part first
    * (volume Σ_p receipts_p·shipments_p — the q_basket_pairs
    * per-key bound, never corpus²) with the band predicate as a
    * post-filter, shuffle-pinned both sides; all rollups are
    * part-grain thin frames. */
  def qFifoCogs(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(s, dir, "lineitem")
      .select(col("l_partkey").as("part"),
        to_date(col("l_shipdate")).as("day"),
        col("l_orderkey").as("ok"), col("l_linenumber").as("ln"),
        expr("cast(cast(l_quantity as decimal(12,2)) as bigint)")
          .as("qty"),
        expr("cast(cast(l_extendedprice as decimal(14,2)) * 100 as bigint)")
          .as("cents"),
        col("l_returnflag").as("rf"))
    val w = Window.partitionBy("part")
      .orderBy("day", "ok", "ln")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val rec = li.filter(col("rf") === "R")
      .withColumn("rhi", sum(col("qty")).over(w))
      .select(col("part"), (col("rhi") - col("qty")).as("rlo"), col("rhi"),
        expr("cents div qty").as("unit"))
    val shp = li.filter(col("rf") =!= "R")
      .withColumn("shi", sum(col("qty")).over(w))
      .select(col("part").as("spart"), (col("shi") - col("qty")).as("slo"),
        col("shi"))
    val matched = rec
      .join(shp.hint("shuffle_hash"),
        col("part") === col("spart") &&
          col("slo") < col("rhi") && col("rlo") < col("shi"))
      .groupBy("part")
      .agg(sum(least(col("rhi"), col("shi")) -
          greatest(col("rlo"), col("slo"))).as("matched_qty"),
        sum((least(col("rhi"), col("shi")) -
          greatest(col("rlo"), col("slo"))) * col("unit"))
          .as("cogs_cents"))
    val recTot = rec.groupBy("part")
      .agg(sum(col("rhi") - col("rlo")).as("receipt_qty"))
    val shpTot = shp.groupBy(col("spart").as("part"))
      .agg(sum(col("shi") - col("slo")).as("shipped_qty"))
    recTot.join(shpTot, Seq("part"), "full_outer")
      .join(matched, Seq("part"), "left")
      .select(col("part"),
        coalesce(col("receipt_qty"), lit(0L)).as("receipt_qty"),
        coalesce(col("shipped_qty"), lit(0L)).as("shipped_qty"),
        coalesce(col("matched_qty"), lit(0L)).as("matched_qty"),
        coalesce(col("cogs_cents"), lit(0L)).as("cogs_cents"),
        (coalesce(col("shipped_qty"), lit(0L)) -
          coalesce(col("matched_qty"), lit(0L))).as("unfilled_qty"))
      .orderBy("part")
  }

  val qFifoCogsSql: String =
    """WITH li AS (
      |  SELECT l_partkey AS part, CAST(l_shipdate AS DATE) AS day,
      |    l_orderkey AS ok, l_linenumber AS ln,
      |    CAST(FLOOR(l_quantity) AS BIGINT) AS qty,
      |    CAST(CAST(l_extendedprice AS DECIMAL(14,2)) * 100 AS BIGINT)
      |      AS cents,
      |    l_returnflag AS rf
      |  FROM lineitem),
      |rec AS (
      |  SELECT part, SUM(qty) OVER w - qty AS rlo, SUM(qty) OVER w AS rhi,
      |    cents // qty AS unit
      |  FROM li WHERE rf = 'R'
      |  WINDOW w AS (PARTITION BY part ORDER BY day, ok, ln
      |    ROWS UNBOUNDED PRECEDING)),
      |shp AS (
      |  SELECT part, SUM(qty) OVER w - qty AS slo, SUM(qty) OVER w AS shi
      |  FROM li WHERE rf <> 'R'
      |  WINDOW w AS (PARTITION BY part ORDER BY day, ok, ln
      |    ROWS UNBOUNDED PRECEDING)),
      |m AS (
      |  SELECT r.part,
      |    SUM(LEAST(r.rhi, s.shi) - GREATEST(r.rlo, s.slo)) AS mq,
      |    SUM((LEAST(r.rhi, s.shi) - GREATEST(r.rlo, s.slo)) * r.unit)
      |      AS cogs
      |  FROM rec r JOIN shp s ON r.part = s.part
      |    AND s.slo < r.rhi AND r.rlo < s.shi
      |  GROUP BY 1),
      |tr AS (SELECT part, SUM(rhi - rlo) AS rq FROM rec GROUP BY 1),
      |tsh AS (SELECT part, SUM(shi - slo) AS sq FROM shp GROUP BY 1)
      |SELECT COALESCE(tr.part, tsh.part) AS part,
      |  CAST(COALESCE(rq, 0) AS BIGINT) AS receipt_qty,
      |  CAST(COALESCE(sq, 0) AS BIGINT) AS shipped_qty,
      |  CAST(COALESCE(mq, 0) AS BIGINT) AS matched_qty,
      |  CAST(COALESCE(cogs, 0) AS BIGINT) AS cogs_cents,
      |  CAST(COALESCE(sq, 0) - COALESCE(mq, 0) AS BIGINT) AS unfilled_qty
      |FROM tr FULL OUTER JOIN tsh ON tr.part = tsh.part
      |LEFT JOIN m ON m.part = COALESCE(tr.part, tsh.part)
      |ORDER BY 1""".stripMargin

  /** Time-weighted average balance per part — the metering/billing
    * primitive (interest accrual, storage billing, avg-inventory
    * turns all weight a level by HOW LONG it held, not how often it
    * changed): each clamped ledger balance S_i (q_stock_ledger's
    * prefix-min identity) is held from its movement day until the
    * next movement (the final level counts 1 day), and
    * twab_milli = (Σ S_i·w_i · 1000) div (Σ w_i). Also reports days
    * at zero stock — the availability SLA the average alone hides.
    *
    * Weighted sums run in DECIMAL(38,0) (balance × days × corpus
    * horizon outgrows long), quotient integral `div` — milli-units,
    * zero floats. Scale shape: q_stock_ledger's scan plus a lead()
    * on the SAME part window (no new exchange); the rollup reuses
    * the partitioning. */
  def qTwab(s: SparkSession, dir: String): DataFrame = {
    val lw = Window.partitionBy("part").orderBy("day")
    stockScan(s, dir)
      .withColumn("w",
        coalesce(datediff(lead(col("day"), 1).over(lw), col("day"))
          .cast(LongType), lit(1L)))
      .withColumn("bal", col("p") - col("pm"))
      .groupBy("part")
      .agg(count(lit(1)).as("n_days"),
        sum(col("w")).as("horizon_days"),
        expr("(sum(cast(bal as decimal(38,0)) * w) * 1000)" +
          " div cast(sum(w) as decimal(38,0))").as("twab_milli"),
        sum(when(col("bal") === 0L, col("w")).otherwise(0L))
          .as("days_at_zero"))
      .orderBy("part")
  }

  val qTwabSql: String =
    """WITH mv AS (
      |  SELECT l_partkey AS part, CAST(l_shipdate AS DATE) AS day,
      |    CAST(SUM(CASE WHEN l_returnflag = 'R'
      |      THEN CAST(FLOOR(l_quantity) AS BIGINT)
      |      ELSE -CAST(FLOOR(l_quantity) AS BIGINT) END) AS BIGINT) AS x
      |  FROM lineitem GROUP BY 1, 2),
      |p1 AS (
      |  SELECT part, day, SUM(x) OVER (PARTITION BY part ORDER BY day
      |    ROWS UNBOUNDED PRECEDING) AS p
      |  FROM mv),
      |p2 AS (
      |  SELECT part, day, p,
      |    LEAST(0, MIN(p) OVER (PARTITION BY part ORDER BY day
      |      ROWS UNBOUNDED PRECEDING)) AS pm,
      |    COALESCE(date_diff('day', day,
      |      LEAD(day) OVER (PARTITION BY part ORDER BY day)), 1) AS w
      |  FROM p1)
      |SELECT part, CAST(COUNT(*) AS BIGINT) AS n_days,
      |  CAST(SUM(w) AS BIGINT) AS horizon_days,
      |  CAST((SUM(CAST(p - pm AS HUGEINT) * w) * 1000) // SUM(w)
      |    AS BIGINT) AS twab_milli,
      |  CAST(SUM(CASE WHEN p - pm = 0 THEN w ELSE 0 END) AS BIGINT)
      |    AS days_at_zero
      |FROM p2 GROUP BY 1 ORDER BY 1""".stripMargin

  /** Weighted quantiles — the pricing/actuarial statistic
    * q_percentile's unweighted rank cannot express: each line's
    * price counts with its QUANTITY's weight (a 50-unit line moves
    * the median 50× more than a single unit — "the median sold
    * unit's price", not "the median line's price"). Per return
    * flag: exact lower weighted median and weighted p90 over unit
    * weights, defined as the smallest value whose cumulative weight
    * crosses the quantile of total weight — crossings tested in
    * CROSS-MULTIPLIED integers (2·cumw ≥ W, 10·cumw ≥ 9·W), no
    * division anywhere.
    *
    * Scale shape (r14): the cumulative weights come from the
    * factored [[graft.plans.GlobalRank.withExclusiveSums]] scan over
    * the TOTAL order (flag, price, ok, ln) — the flag-partitioned
    * window it replaces funneled the whole fact table through THREE
    * reducers (one per return flag), the handful-of-reducers trap
    * every other rank consumer here already avoids. Per-flag bases
    * and totals ride a 3-row broadcast; ties break by
    * orderkey/linenumber exactly as before (any tie order yields the
    * same crossing value since equal values share a crossing); the
    * crossing pick is a conditional min in the SAME grouping pass;
    * output is flag grain. */
  def qWeightedPercentile(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(s, dir, "lineitem")
      .select(col("l_returnflag").as("flag"),
        expr("cast(cast(l_extendedprice as decimal(14,2)) * 100 as bigint)")
          .as("price"),
        expr("cast(cast(l_quantity as decimal(12,2)) as bigint)").as("w"),
        col("l_orderkey").as("ok"), col("l_linenumber").as("ln"))
    // flag-major global exclusive prefix sum of w — parallel range
    // sort, never a per-flag reducer; the scan's checkpoint also
    // feeds the 3-row per-flag totals so lineitem reads ONCE
    val (scanned, _) = graft.plans.GlobalRank.withExclusiveSums(
      s, li, Seq(col("flag"), col("price"), col("ok"), col("ln")),
      Seq(col("w")), Seq("exw"))
    val fw = Window.orderBy("flag")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ft = scanned.groupBy("flag").agg(sum(col("w")).as("tot"))
      .withColumn("base", sum(col("tot")).over(fw) - col("tot"))
    scanned.join(broadcast(ft), "flag")
      // per-flag inclusive cumw = global exclusive sum + own weight
      // − the flag's base (total weight of flag-earlier rows)
      .withColumn("cumw", col("exw") + col("w") - col("base"))
      .groupBy("flag")
      .agg(count(lit(1)).as("n_lines"),
        max(col("tot")).as("total_units"),
        min(when(col("cumw") * 2 >= col("tot"), col("price")))
          .as("wmedian_cents"),
        min(when(col("cumw") * 10 >= col("tot") * 9, col("price")))
          .as("wp90_cents"))
      .orderBy("flag")
  }

  val qWeightedPercentileSql: String =
    """WITH li AS (
      |  SELECT l_returnflag AS flag,
      |    CAST(CAST(l_extendedprice AS DECIMAL(14,2)) * 100 AS BIGINT)
      |      AS price,
      |    CAST(FLOOR(l_quantity) AS BIGINT) AS w,
      |    l_orderkey AS ok, l_linenumber AS ln
      |  FROM lineitem),
      |c AS (
      |  SELECT flag, price,
      |    SUM(w) OVER (PARTITION BY flag ORDER BY price, ok, ln
      |      ROWS UNBOUNDED PRECEDING) AS cumw,
      |    SUM(w) OVER (PARTITION BY flag) AS tot
      |  FROM li)
      |SELECT flag, CAST(COUNT(*) AS BIGINT) AS n_lines,
      |  CAST(MAX(tot) AS BIGINT) AS total_units,
      |  CAST(MIN(CASE WHEN cumw * 2 >= tot THEN price END) AS BIGINT)
      |    AS wmedian_cents,
      |  CAST(MIN(CASE WHEN cumw * 10 >= tot * 9 THEN price END) AS BIGINT)
      |    AS wp90_cents
      |FROM c GROUP BY 1 ORDER BY 1""".stripMargin

  /** Rolling-window size and band width for q_anomaly_bands. */
  private val bandN = 5
  private val bandK = 3L

  /** Volatility-band anomaly detection — the Bollinger/3σ day-over-
    * day monitor, the VOLATILITY complement to q_changepoint's mean
    * shift (a changepoint is a new level; a band breakout is one day
    * outside the recent spread): per nation, a day is a breakout
    * when its revenue leaves the ±3σ band of the 5 PRECEDING days
    * (the trailing baseline — the current day never contaminates its
    * own band).
    *
    * σ never exists as a float: |x − μ| > kσ cross-multiplies to
    * (n·x − S)² > k²·(n·Q − S²) with S = Σx, Q = Σx² over the
    * window — an exact integer comparison in DECIMAL(38,0) (Q alone
    * tops 2⁶³ in cents²; the squared sides reach ~10²³). Days with
    * an incomplete 5-day history are not evaluated.
    *
    * Scale shape: q_changepoint's frame — pinned fact→customer join,
    * broadcast nation dim, (nation, day) grain map-side; both
    * rolling windows and the report rollup share ONE
    * nation-partitioned exchange. */
  def qAnomalyBands(s: SparkSession, dir: String): DataFrame = {
    val cust = Tables.load(s, dir, "customer")
      .select(col("c_custkey"), col("c_nationkey"))
    val nat = Tables.load(s, dir, "nation")
      .select(col("n_nationkey"), col("n_name"))
    val daily = Tables.load(s, dir, "orders")
      .select(col("o_custkey"), to_date(col("o_orderdate")).as("day"),
        expr("cast(cast(o_totalprice as decimal(14,2)) * 100 as bigint)")
          .as("c"))
      .join(cust.hint("shuffle_hash"), col("o_custkey") === col("c_custkey"))
      .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name").as("nation"), col("day"))
      .agg(sum(col("c")).as("x"))
    val w = Window.partitionBy("nation").orderBy("day")
      .rowsBetween(-bandN, -1)
    daily
      .withColumn("s", sum(col("x")).over(w))
      .withColumn("q", sum(expr("cast(x as decimal(38,0)) * x")).over(w))
      .withColumn("m", count(lit(1)).over(w))
      .filter(col("m") === bandN)
      .withColumn("breakout", expr(
        s"($bandN * cast(x as decimal(38,0)) - s)" +
          s" * ($bandN * cast(x as decimal(38,0)) - s)" +
          s" > ${bandK * bandK} * ($bandN * q" +
          s" - cast(s as decimal(38,0)) * s)"))
      .groupBy("nation")
      .agg(count(lit(1)).as("n_eval"),
        sum(when(col("breakout"), 1L).otherwise(0L)).as("n_breakouts"),
        min(when(col("breakout"), col("day"))).as("first_breakout"),
        max(when(col("breakout"), col("day"))).as("last_breakout"))
      .orderBy("nation")
  }

  val qAnomalyBandsSql: String =
    s"""WITH d AS (
       |  SELECT n_name AS nation, CAST(o_orderdate AS DATE) AS day,
       |    CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2)) * 100) AS BIGINT)
       |      AS x
       |  FROM orders JOIN customer ON o_custkey = c_custkey
       |  JOIN nation ON c_nationkey = n_nationkey
       |  GROUP BY 1, 2),
       |r AS (
       |  SELECT nation, day, x,
       |    SUM(x) OVER w AS s,
       |    SUM(CAST(x AS HUGEINT) * x) OVER w AS q,
       |    COUNT(*) OVER w AS m
       |  FROM d
       |  WINDOW w AS (PARTITION BY nation ORDER BY day
       |    ROWS BETWEEN $bandN PRECEDING AND 1 PRECEDING)),
       |e AS (
       |  SELECT nation, day,
       |    ($bandN * CAST(x AS HUGEINT) - s)
       |      * ($bandN * CAST(x AS HUGEINT) - s)
       |      > ${bandK * bandK} * ($bandN * q - CAST(s AS HUGEINT) * s)
       |      AS breakout
       |  FROM r WHERE m = $bandN)
       |SELECT nation, CAST(COUNT(*) AS BIGINT) AS n_eval,
       |  CAST(SUM(CASE WHEN breakout THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_breakouts,
       |  MIN(CASE WHEN breakout THEN day END) AS first_breakout,
       |  MAX(CASE WHEN breakout THEN day END) AS last_breakout
       |FROM e GROUP BY 1 ORDER BY 1""".stripMargin

  /** Brand adoption curve — the product-growth S-curve report (new
    * adopters per month + cumulative installed base per brand): the
    * PRODUCT-side complement of q_retention_cohort/q_cohort_ltv's
    * customer-side cohorts. A customer "adopts" a brand in the month
    * of their FIRST order containing it.
    *
    * Scale shape: lineitem⨝part and lineitem⨝orders are both
    * corpus-sized at 100 TB — shuffle-pinned (the part dimension is
    * only broadcastable at fixture scale; pinning keeps the plan the
    * one that survives); first-adoption collapses to (brand,
    * customer) grain with a map-side min; the monthly rollup and
    * cumulative window run over the model-sized brand×month frame.
    * Pure integer counts and calendar months. */
  def qAdoption(s: SparkSession, dir: String): DataFrame = {
    val part = Tables.load(s, dir, "part")
      .select(col("p_partkey"), col("p_brand"))
    val ord = Tables.load(s, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"),
        trunc(to_date(col("o_orderdate")), "month").as("month"))
    val li = Tables.load(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_partkey"))
    val firsts = li
      .join(part.hint("shuffle_hash"), col("l_partkey") === col("p_partkey"))
      .join(ord.hint("shuffle_hash"), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("p_brand").as("brand"), col("o_custkey").as("cust"))
      .agg(min(col("month")).as("month"))
    val monthly = firsts.groupBy("brand", "month")
      .agg(count(lit(1)).as("n_new"))
    val w = Window.partitionBy("brand").orderBy("month")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    monthly.withColumn("cum_adopters", sum(col("n_new")).over(w))
      .orderBy("brand", "month")
  }

  val qAdoptionSql: String =
    """WITH f AS (
      |  SELECT p_brand AS brand, o_custkey AS cust,
      |    MIN(date_trunc('month', CAST(o_orderdate AS DATE))) AS month
      |  FROM lineitem
      |  JOIN part ON l_partkey = p_partkey
      |  JOIN orders ON l_orderkey = o_orderkey
      |  GROUP BY 1, 2),
      |m AS (SELECT brand, month, COUNT(*) AS n_new FROM f GROUP BY 1, 2)
      |SELECT brand, month, CAST(n_new AS BIGINT) AS n_new,
      |  CAST(SUM(n_new) OVER (PARTITION BY brand ORDER BY month
      |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_adopters
      |FROM m ORDER BY brand, month""".stripMargin

  /** Matched-sample fixed-base (Laspeyres) price index — the
    * inflation/price-drift monitor every commerce and procurement
    * dashboard carries: each month's basket priced at current vs
    * base-month unit prices, weighted by base-month quantities,
    * restricted per month to parts OBSERVED that month (the matched-
    * sample convention — an unmatched fixed basket silently divides
    * by a stale denominator when parts churn). Unit price is
    * integral cents-per-unit (cents div qty, truncation mirrored).
    *
    * Exactness: the basket sums Σp_t·w and Σp₀·w run in
    * DECIMAL(38,0) (price × weight × 10⁹ parts outgrows long); the
    * index lands as integral ppm via div.
    *
    * Scale shape: the corpus collapses to (part, month) grain at the
    * FIRST aggregate; the base extraction is the q_latest_per_key
    * min-struct (one map-side-combined agg, never a window over the
    * corpus); the base⨝monthly join is part-grain and shuffle-pinned
    * (both sides O(parts) — corpus-key-sized at 100 TB); the month
    * rollup is model-sized. */
  def qPriceIndex(s: SparkSession, dir: String): DataFrame = {
    val pm = Tables.load(s, dir, "lineitem")
      .select(col("l_partkey").as("part"),
        trunc(to_date(col("l_shipdate")), "month").as("month"),
        expr("cast(cast(l_quantity as decimal(12,2)) as bigint)")
          .as("qty"),
        expr("cast(cast(l_extendedprice as decimal(14,2)) * 100 as bigint)")
          .as("cents"))
      .groupBy("part", "month")
      .agg(sum(col("qty")).as("q"), sum(col("cents")).as("c"))
      .withColumn("p", expr("c div q"))
    val base = pm.groupBy("part")
      .agg(min(struct(col("month"), col("p"), col("q"))).as("b"))
      .select(col("part"), col("b.p").as("p0"), col("b.q").as("w"))
    pm.join(base.hint("shuffle_hash"), "part")
      .groupBy("month")
      .agg(count(lit(1)).as("n_parts"),
        sum(expr("cast(p as decimal(38,0)) * w")).as("num"),
        sum(expr("cast(p0 as decimal(38,0)) * w")).as("den"))
      .withColumn("index_ppm",
        expr("cast((num * 1000000) div den as bigint)"))
      .select(col("month"), col("n_parts"), col("index_ppm"))
      .orderBy("month")
  }

  val qPriceIndexSql: String =
    """WITH pm AS (
      |  SELECT l_partkey AS part,
      |    date_trunc('month', CAST(l_shipdate AS DATE)) AS month,
      |    CAST(SUM(CAST(FLOOR(l_quantity) AS BIGINT)) AS BIGINT) AS q,
      |    CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(14,2)) * 100
      |      AS BIGINT)) AS BIGINT) AS c
      |  FROM lineitem GROUP BY 1, 2),
      |p1 AS (SELECT part, month, q, c // q AS p FROM pm),
      |b AS (
      |  SELECT p1.part, p1.p AS p0, p1.q AS w
      |  FROM p1 JOIN (SELECT part, MIN(month) AS m0 FROM p1 GROUP BY 1) mm
      |    ON p1.part = mm.part AND p1.month = mm.m0)
      |SELECT t.month, CAST(COUNT(*) AS BIGINT) AS n_parts,
      |  CAST((SUM(CAST(t.p AS HUGEINT) * b.w) * 1000000)
      |    // SUM(CAST(b.p0 AS HUGEINT) * b.w) AS BIGINT) AS index_ppm
      |FROM p1 t JOIN b ON t.part = b.part
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Degree distribution of the supplier→part supply graph — the
    * graph-profiling scan run before any graph algorithm is chosen
    * (q_pagerank/q_triangle_count assume a shape; the degree
    * histogram is how you find out: a power-law tail means hub
    * suppliers that will skew any per-vertex partitioning — the
    * q_skew_join signal, read from the graph side).
    *
    * Scale shape: two map-side-combined aggregates — edges collapse
    * to (supplier, degree) at the first (distinct parts per
    * supplier), degrees to the model-sized histogram at the second.
    * The edge list crosses the wire once. */
  def qDegreeDist(s: SparkSession, dir: String): DataFrame = {
    Tables.load(s, dir, "lineitem")
      .select(col("l_suppkey"), col("l_partkey"))
      .groupBy("l_suppkey")
      .agg(count_distinct(col("l_partkey")).as("degree"))
      .groupBy("degree")
      .agg(count(lit(1)).as("n_suppliers"))
      .orderBy("degree")
  }

  val qDegreeDistSql: String =
    """WITH d AS (
      |  SELECT l_suppkey, COUNT(DISTINCT l_partkey) AS degree
      |  FROM lineitem GROUP BY 1)
      |SELECT CAST(degree AS BIGINT) AS degree,
      |  CAST(COUNT(*) AS BIGINT) AS n_suppliers
      |FROM d GROUP BY 1 ORDER BY 1""".stripMargin

  /** Same-day multi-order audit — the velocity / split-billing
    * screen every payments audit runs: customers placing MORE THAN
    * ONE order on the same day (the signature of double-submission,
    * split-to-dodge-approval-limit, or a retrying integration). One
    * row per suspect (customer, day) with order count, exposure, and
    * the amount spread (identical amounts smell like double-submits;
    * wide spreads like limit-splitting).
    *
    * Scale shape: ONE map-side-combined aggregate at the natural
    * suspect-key grain (customer, day); the n ≥ 2 filter rides the
    * aggregate (HAVING), pruning before the ordered output. Exact
    * integer cents throughout. */
  def qDoubleBilling(s: SparkSession, dir: String): DataFrame = {
    Tables.load(s, dir, "orders")
      .select(col("o_custkey"), to_date(col("o_orderdate")).as("day"),
        expr("cast(cast(o_totalprice as decimal(14,2)) * 100 as bigint)")
          .as("cents"))
      .groupBy("o_custkey", "day")
      .agg(count(lit(1)).as("n_orders"),
        sum(col("cents")).as("total_cents"),
        min(col("cents")).as("min_cents"),
        max(col("cents")).as("max_cents"))
      .filter(col("n_orders") >= 2L)
      .withColumn("spread_cents", col("max_cents") - col("min_cents"))
      .orderBy("o_custkey", "day")
  }

  val qDoubleBillingSql: String =
    """WITH o AS (
      |  SELECT o_custkey, CAST(o_orderdate AS DATE) AS day,
      |    CAST(CAST(o_totalprice AS DECIMAL(14,2)) * 100 AS BIGINT)
      |      AS cents
      |  FROM orders)
      |SELECT o_custkey, day,
      |  CAST(COUNT(*) AS BIGINT) AS n_orders,
      |  CAST(SUM(cents) AS BIGINT) AS total_cents,
      |  CAST(MIN(cents) AS BIGINT) AS min_cents,
      |  CAST(MAX(cents) AS BIGINT) AS max_cents,
      |  CAST(MAX(cents) - MIN(cents) AS BIGINT) AS spread_cents
      |FROM o GROUP BY 1, 2 HAVING COUNT(*) >= 2
      |ORDER BY 1, 2""".stripMargin

  /** Substring search pattern for q_trigram_search. */
  val trigramPattern = "ring"

  /** Trigram-index substring search — how `LIKE '%pat%'` survives
    * 100 TB (a leading-wildcard LIKE defeats every B-tree and sorts/
    * scans the corpus per query; pg_trgm's answer is an inverted
    * trigram index): names explode into distinct trigrams, the
    * query's trigrams select posting lists, a candidate must match
    * ALL of them (count == |query trigrams|), and a final contains()
    * verify on the candidates alone removes trigram false positives
    * (shared trigrams in the wrong order). Results are EXACTLY the
    * LIKE results — the oracle states the naive scan, parity proves
    * the index path equivalent.
    *
    * Scale shape: the posting explode is scan-side; candidates
    * collapse at (part) grain with map-side combine; the verify join
    * back to names is keyed and shuffle-pinned (both sides
    * corpus-sized at scale); per-query work is posting-list-sized,
    * not corpus-sized — at 100 TB the posting lists are the
    * persisted index this key builds inline. */
  def qTrigramSearch(s: SparkSession, dir: String): DataFrame = {
    val qgrams = trigramPattern.sliding(3).toSeq
    val parts = Tables.load(s, dir, "part")
      .select(col("p_partkey"), col("p_name"))
    val grams = parts
      // names under 3 chars have no trigrams: without the guard,
      // sequence(1, len-2) runs DESCENDING and substring emits
      // sub-3-char fragments — harmless here (they can never equal a
      // trigram) but not total; the guard matches the oracle's LIKE
      // semantics exactly (a <3-char name cannot contain the pattern)
      .filter(length(col("p_name")) >= 3)
      .select(col("p_partkey"),
        explode(expr(
          """array_distinct(transform(
            |  sequence(1, length(p_name) - 2),
            |  i -> substring(p_name, i, 3)))""".stripMargin)).as("g"))
    val cand = grams.filter(col("g").isin(qgrams: _*))
      .groupBy("p_partkey")
      .agg(count(lit(1)).as("n_hit"))
      .filter(col("n_hit") === qgrams.size.toLong)
    parts.join(cand.hint("shuffle_hash"), Seq("p_partkey"), "left_semi")
      .filter(col("p_name").contains(trigramPattern))
      .orderBy("p_partkey")
  }

  val qTrigramSearchSql: String =
    s"""SELECT p_partkey, p_name FROM part
       |WHERE p_name LIKE '%$trigramPattern%'
       |ORDER BY p_partkey""".stripMargin

  /** Repricing scenario deltas, in discount basis points. */
  val scenarioDeltasBp: Seq[Long] = Seq(-500L, 0L, 500L)

  /** Discount what-if scenarios — the repricing projection every
    * margin review runs ("what does ±5pp discount do to revenue, all
    * else equal"): each scenario shifts every line's discount by a
    * delta (clamped to [0, 100%]) and reprices the book in exact
    * cents. One row per scenario with total revenue and the delta
    * against the base book.
    *
    * Exactness: per-line repricing is price_cents·(10⁴ − d')
    * div 10⁴ — the truncation mirrored in both engines; sums exact.
    *
    * Scale shape: scenarios become PARALLEL AGGREGATE COLUMNS of one
    * pass — never a grid × scan row expansion (a 3-scenario grid
    * cross-join reads the corpus once but SHUFFLE-WEIGHS it 3×; a
    * 50-scenario sweep, 50×). One single-row aggregate of
    * |scenarios| conditional sums, stacked to rows at the end —
    * corpus cost is independent of the scenario count. */
  def qDiscountScenarios(s: SparkSession, dir: String): DataFrame = {
    val lines = Tables.load(s, dir, "lineitem")
      .select(
        expr("cast(cast(l_extendedprice as decimal(14,2)) * 100 as bigint)")
          .as("cents"),
        expr("cast(cast(l_discount as decimal(6,4)) * 10000 as bigint)")
          .as("d_bp"))
    // per-row repricing stays in LONG (price_cents × 10⁴ < 2⁶³ by
    // domain — decimal per-row multiplication would triple the scan
    // cost); only the corpus SUM runs in DECIMAL(38,0)
    def rev(delta: Long) = sum(expr(
      s"""cast(cents * (10000 - greatest(0L, least(10000L, d_bp + $delta)))
         |  div 10000 as decimal(38,0))""".stripMargin))
      .cast(LongType).as(s"rev_$delta")
    val one = lines.agg(rev(scenarioDeltasBp.head),
      scenarioDeltasBp.tail.map(rev): _*)
    val stackArgs = scenarioDeltasBp
      .map(d => s"${d}L, `rev_$d`").mkString(", ")
    one.select(expr(
        s"stack(${scenarioDeltasBp.size}, $stackArgs) as (delta_bp, revenue_cents)"),
        col(s"rev_0").as("base_cents"))
      .withColumn("delta_cents", col("revenue_cents") - col("base_cents"))
      .select(col("delta_bp"), col("revenue_cents"), col("delta_cents"))
      .orderBy("delta_bp")
  }

  val qDiscountScenariosSql: String = {
    val deltas = scenarioDeltasBp.mkString("), (")
    s"""WITH grid AS (SELECT * FROM (VALUES ($deltas)) g(delta_bp)),
       |l AS (
       |  SELECT CAST(CAST(l_extendedprice AS DECIMAL(14,2)) * 100
       |      AS BIGINT) AS cents,
       |    CAST(CAST(l_discount AS DECIMAL(6,4)) * 10000 AS BIGINT)
       |      AS d_bp
       |  FROM lineitem),
       |p AS (
       |  SELECT delta_bp,
       |    CAST(SUM(CAST(cents AS HUGEINT) *
       |      (10000 - GREATEST(0, LEAST(10000, d_bp + delta_bp)))
       |      // 10000) AS BIGINT) AS revenue_cents
       |  FROM l CROSS JOIN grid GROUP BY 1),
       |b AS (SELECT revenue_cents AS base_cents FROM p WHERE delta_bp = 0)
       |SELECT CAST(delta_bp AS BIGINT) AS delta_bp, revenue_cents,
       |  CAST(revenue_cents - base_cents AS BIGINT) AS delta_cents
       |FROM p CROSS JOIN b ORDER BY delta_bp""".stripMargin
  }

  /** Dataset drift monitor — the distribution-shift screen every
    * ML-ops pipeline runs between a reference window and production
    * batches: per year, the total-variation distance of the order-
    * priority mix against the BASE (first) year, plus the category
    * driving the drift. TVD (½Σ|p−q|) instead of PSI/KL on purpose:
    * the information-theoretic scores need ln() on data-dependent
    * ratios (engine-varying last-ulp transcendentals — the q_benford
    * lesson), while TVD is exact integer arithmetic in ppm and
    * bounds any event's probability change directly.
    *
    * Exactness: shares are integral ppm via div (truncation
    * mirrored); TVD = Σ|p−q| div 2 in pure longs; the driving
    * category breaks ties lexicographically via max-struct.
    *
    * Scale shape: ONE map-side-combined aggregate to (year,
    * priority) grain — everything downstream (base-year join, TVD
    * rollup) runs on that model-sized frame; the base frame
    * broadcast is dimension-sized by construction. */
  def qDatasetDrift(s: SparkSession, dir: String): DataFrame = {
    val yp = Tables.load(s, dir, "orders")
      .groupBy(year(col("o_orderdate")).as("yr"),
        col("o_orderpriority").as("prio"))
      .agg(count(lit(1)).as("n"))
    val wYr = Window.partitionBy("yr")
    val shares = yp
      .withColumn("n_year", sum(col("n")).over(wYr))
      .withColumn("p_ppm", expr("(n * 1000000) div n_year"))
    val base = shares.crossJoin(broadcast(
        shares.agg(min(col("yr")).as("base_yr"))))
      .filter(col("yr") === col("base_yr"))
      .select(col("prio"), col("p_ppm").as("q_ppm"))
    shares.join(broadcast(base), Seq("prio"))
      .withColumn("adev", abs(col("p_ppm") - col("q_ppm")))
      .groupBy("yr")
      .agg(sum(col("n")).as("n_orders"),
        expr("sum(adev) div 2").as("tvd_ppm"),
        max(struct(col("adev"), col("prio"))).as("top"))
      .select(col("yr"), col("n_orders"), col("tvd_ppm"),
        col("top.prio").as("top_drift_prio"))
      .orderBy("yr")
  }

  val qDatasetDriftSql: String =
    """WITH yp AS (
      |  SELECT EXTRACT(YEAR FROM o_orderdate) AS yr,
      |    o_orderpriority AS prio, COUNT(*) AS n
      |  FROM orders GROUP BY 1, 2),
      |sh AS (
      |  SELECT yr, prio, n,
      |    (n * 1000000) // SUM(n) OVER (PARTITION BY yr) AS p_ppm
      |  FROM yp),
      |b AS (
      |  SELECT prio, p_ppm AS q_ppm FROM sh
      |  WHERE yr = (SELECT MIN(yr) FROM sh)),
      |j AS (
      |  SELECT sh.yr, sh.prio, sh.n,
      |    ABS(sh.p_ppm - b.q_ppm) AS adev
      |  FROM sh JOIN b ON sh.prio = b.prio)
      |SELECT CAST(yr AS INT) AS yr, CAST(SUM(n) AS BIGINT) AS n_orders,
      |  CAST(SUM(adev) // 2 AS BIGINT) AS tvd_ppm,
      |  (MAX({'adev': adev, 'prio': prio})).prio AS top_drift_prio
      |FROM j GROUP BY 1 ORDER BY 1""".stripMargin

  /** Progressive brackets over order totals in exact cents: id, lower
    * and upper bound (cents), marginal rate in basis points. The top
    * bracket's bound is a shared literal far above any order total so
    * LEAST never meets an open end. */
  private val taxBrackets: Seq[(String, Long, Long, Long)] = Seq(
    ("b1_to_100k", 0L, 10000000L, 200L),
    ("b2_to_200k", 10000000L, 20000000L, 350L),
    ("b3_to_300k", 20000000L, 30000000L, 500L),
    ("b4_above_300k", 30000000L, 10000000000L, 800L))

  /** The per-order taxable slice of one bracket — ONE string parsed
    * by both engines (the q_cov_matrix shared-text discipline). */
  private def bracketSlice(lo: Long, hi: Long): String =
    s"greatest(least(v, $hi) - $lo, 0)"

  /** Progressive bracket allocation — the marginal-rate computation
    * behind tiered pricing, commissions, duties, and progressive tax:
    * each order's total is sliced across brackets and each slice pays
    * its bracket's marginal rate. Per bracket: orders reaching it,
    * taxable cents, tax cents, and the realized effective rate.
    *
    * Exactness: pure integer cents/bp arithmetic — the slice is
    * greatest/least clamping, per-order tax is slice·rate div 10⁴
    * (the div grain is PER ORDER, matching how an invoice line would
    * round), and both engines parse the same slice text.
    *
    * Scale shape: the q_discount_scenarios lesson applied — brackets
    * are PARALLEL CONDITIONAL AGGREGATE COLUMNS of one corpus pass,
    * never an orders × brackets grid join (which would shuffle-weigh
    * the corpus |brackets|×); the stack to rows happens on the 1-row
    * aggregate. Per-row slice·rate ≤ 10¹⁰·800 < 2⁶³ by the money
    * domain; corpus SUMs run in DECIMAL(38,0). */
  def qTaxBrackets(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.load(s, dir, "orders").select(
      expr("cast(cast(o_totalprice as decimal(14,2)) * 100 as bigint)")
        .as("v"))
    val aggs = taxBrackets.flatMap { case (id, lo, hi, bp) =>
      val slice = bracketSlice(lo, hi)
      Seq(
        sum(expr(s"case when v > $lo then 1 else 0 end")).as(s"n_$id"),
        sum(expr(s"cast($slice as decimal(38,0))")).cast(LongType)
          .as(s"taxable_$id"),
        sum(expr(s"cast(($slice * $bp) div 10000 as decimal(38,0))"))
          .cast(LongType).as(s"tax_$id"))
    }
    val one = o.agg(aggs.head, aggs.tail: _*)
    val stackArgs = taxBrackets.map { case (id, _, _, _) =>
      s"'$id', n_$id, taxable_$id, tax_$id"
    }.mkString(", ")
    one.select(expr(s"stack(${taxBrackets.size}, $stackArgs)" +
        " as (bracket, n_orders, taxable_cents, tax_cents)"))
      .withColumn("effective_bp",
        expr("(tax_cents * 10000) div taxable_cents"))
      .orderBy("bracket")
  }

  val qTaxBracketsSql: String = {
    val arms = taxBrackets.map { case (id, lo, hi, bp) =>
      val slice = bracketSlice(lo, hi)
      s"""SELECT '$id' AS bracket,
         |  CAST(SUM(CASE WHEN v > $lo THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_orders,
         |  CAST(SUM($slice) AS BIGINT) AS taxable_cents,
         |  CAST(SUM(($slice * $bp) // 10000) AS BIGINT) AS tax_cents
         |FROM o""".stripMargin
    }.mkString("\nUNION ALL ")
    s"""WITH o AS (
       |  SELECT CAST(CAST(o_totalprice AS DECIMAL(14,2)) * 100 AS BIGINT)
       |      AS v
       |  FROM orders),
       |b AS (
       |$arms
       |)
       |SELECT bracket, n_orders, taxable_cents, tax_cents,
       |  (tax_cents * 10000) // taxable_cents AS effective_bp
       |FROM b ORDER BY bracket""".stripMargin
  }

  val keys: Seq[Key] = Seq(
    Key("q_tax_brackets", qTaxBrackets, Oracle(qTaxBracketsSql)),
    Key("q_dataset_drift", qDatasetDrift, Oracle(qDatasetDriftSql)),
    Key("q_trigram_search", qTrigramSearch, Oracle(qTrigramSearchSql)),
    Key("q_discount_scenarios", qDiscountScenarios, Oracle(qDiscountScenariosSql)),
    Key("q_double_billing", qDoubleBilling, Oracle(qDoubleBillingSql)),
    Key("q_degree_dist", qDegreeDist, Oracle(qDegreeDistSql)),
    Key("q_adoption", qAdoption, Oracle(qAdoptionSql)),
    Key("q_price_index", qPriceIndex, Oracle(qPriceIndexSql)),
    Key("q_winsorize", qWinsorize, Oracle(qWinsorizeSql)),
    Key("q_ab_bucketing", qAbBucketing, Oracle(qAbBucketingSql)),
    Key("q_promo_lift", qPromoLift, Oracle(qPromoLiftSql)),
    Key("q_top_movers", qTopMovers, Oracle(qTopMoversSql)),
    Key("q_fulfillment_lag", qFulfillmentLag, Oracle(qFulfillmentLagSql)),
    Key("q_concentration", qConcentration, Oracle(qConcentrationSql)),
    Key("q_order_intervals", qOrderIntervals, Oracle(qOrderIntervalsSql)),
    Key("q_assoc_rules", qAssocRules, Oracle(qAssocRulesSql)),
    Key("q_revenue_bridge", qRevenueBridge, Oracle(qRevenueBridgeSql)),
    Key("q_growth_accounting", qGrowthAccounting, Oracle(qGrowthAccountingSql)),
    Key("q_forecast_backtest", qForecastBacktest, Oracle(qForecastBacktestSql)),
    Key("q_dau_mau", qDauMau, Oracle(qDauMauSql)),
    Key("q_cohort_ltv", qCohortLtv, Oracle(qCohortLtvSql)),
    Key("q_equidepth_hist", qEquidepthHist, Oracle(qEquidepthHistSql)),
    Key("q_decile_lift", qDecileLift, Oracle(qDecileLiftSql)),
    Key("q_audience_overlap", qAudienceOverlap, Oracle(qAudienceOverlapSql)),
    Key("q_mad", qMad, Oracle(qMadSql)),
    Key("q_streaks", qStreaks, Oracle(qStreaksSql)),
    Key("q_debounce", qDebounce, Oracle(qDebounceSql)),
    Key("q_benford", qBenford, Oracle(qBenfordSql)),
    Key("q_yoy", qYoy, Oracle(qYoySql)),
    Key("q_rfm", qRfm, Oracle(qRfmSql)),
    Key("q_transition_matrix", qTransitionMatrix, Oracle(qTransitionMatrixSql)),
    Key("q_basket_pairs", qBasketPairs, Oracle(qBasketPairsSql)),
    Key("q_attribution", qAttribution, Oracle(qAttributionSql)),
    Key("q_hopping_window", qHoppingWindow, Oracle(qHoppingWindowSql)),
    Key("q_rolling_median", qRollingMedian, Oracle(qRollingMedianSql)),
    Key("q_pareto_share", qParetoShare, Oracle(qParetoShareSql)),
    Key("q_bitmap_distinct", qBitmapDistinct, Oracle(qBitmapDistinctSql)),
    Key("q_event_pattern", qEventPattern, Oracle(qEventPatternSql)),
    Key("q_skyline", qSkyline, Oracle(qSkylineSql)),
    Key("q_concurrency", qConcurrency, Oracle(qConcurrencySql)),
    Key("q_geo_join", qGeoJoin, Oracle(qGeoJoinSql)),
    Key("q_cum_distinct", qCumDistinct, Oracle(qCumDistinctSql)),
    Key("q_decay_score", qDecayScore, Oracle(qDecayScoreSql)),
    Key("q_gini", qGini, Oracle(qGiniSql)),
    Key("q_changepoint", qChangepoint, Oracle(qChangepointSql)),
    Key("q_survival", qSurvival, Oracle(qSurvivalSql)),
    Key("q_stock_ledger", qStockLedger, Oracle(qStockLedgerSql)),
    Key("q_top_paths", qTopPaths, Oracle(qTopPathsSql)),
    Key("q_fifo_cogs", qFifoCogs, Oracle(qFifoCogsSql)),
    Key("q_twab", qTwab, Oracle(qTwabSql)),
    Key("q_weighted_percentile", qWeightedPercentile, Oracle(qWeightedPercentileSql)),
    Key("q_anomaly_bands", qAnomalyBands, Oracle(qAnomalyBandsSql)))

  val queries: Map[String, Key.Run] = Key.queries(keys)
}
