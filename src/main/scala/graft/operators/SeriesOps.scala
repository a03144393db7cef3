package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{Key, Oracle, Tables}

/** Calendar-arithmetic and time-series keys: business-day lags,
  * day-of-week seasonality, FIFO inventory aging, and series
  * autocorrelation.
  *
  * Reference analog: the migration tool's datetime surface is value
  * conversion (zero-date guards, UTC shifts —
  * /root/reference/libs/dumperAuxFuncs.py:1-41); these keys extend
  * "dates are data" to the calendar questions a warehouse actually
  * gets asked — SLA lags in working days, weekly cycle strength,
  * how old the stock on the shelf is, and whether yesterday predicts
  * today.
  *
  * Float discipline (SURVEY §4): every statistic is exact-integer
  * (cents, ppm, milli-days via `div`) or a double produced ONCE from
  * exact decimal sufficient statistics with the identical IEEE
  * expression tree in both engines.
  */
object SeriesOps {

  /** Days from the Monday epoch 1970-01-05 to `d` — the anchor that
    * makes weekday counting a pure mod-7 formula. */
  private def mondayN(d: String): String =
    s"datediff($d, date'1970-01-05')"

  /** Weekdays (Mon-Fri) strictly before `d`, counted from the Monday
    * epoch: 5 per full week plus the clamped partial week. */
  private def wb(n: String): String =
    s"(5 * ($n div 7) + least($n % 7, 5))"

  /** Order→ship lag in BUSINESS days per order priority — the SLA
    * report every fulfillment dashboard runs, computed closed-form:
    * weekdays-before(ship) − weekdays-before(order) via the mod-7
    * identity, never a calendar explode (the naive per-day generate_
    * series join multiplies the fact table by the lag length — at a
    * 30-day average lag that is 30× the corpus for a formula the
    * engine can evaluate per row).
    *
    * Exactness: all integer (datediff, div, mod, least are exact and
    * identical in both engines; dates are post-epoch so no negative
    * div/mod asymmetry). Mean lag is integral milli-days.
    *
    * Scale shape: orders⨝lineitem is the fact-fact shuffle on
    * orderkey (both sides corpus-sized at 100 TB — shuffle-pinned,
    * broadcasting either is the OOM); the weekday formula is a
    * codegen'd scan-side projection; the rollup is a 5-row hash
    * aggregate with map-side combine. */
  def qBusinessDays(s: SparkSession, dir: String): DataFrame = {
    val ord = Tables.load(s, dir, "orders")
      .select(col("o_orderkey"), col("o_orderpriority"),
        to_date(col("o_orderdate")).as("oday"))
    val li = Tables.load(s, dir, "lineitem")
      .select(col("l_orderkey"), to_date(col("l_shipdate")).as("sday"))
    val lag = li.join(ord.hint("shuffle_hash"),
        col("l_orderkey") === col("o_orderkey"))
      .withColumn("no", expr(mondayN("oday")))
      .withColumn("ns", expr(mondayN("sday")))
      .withColumn("bdays",
        expr(s"cast(${wb("ns")} - ${wb("no")} as bigint)"))
    lag.groupBy(col("o_orderpriority").as("priority"))
      .agg(count(lit(1)).as("n_lines"),
        sum(col("bdays")).as("sum_bdays"),
        min(col("bdays")).as("min_bdays"),
        max(col("bdays")).as("max_bdays"))
      .withColumn("avg_milli_bdays",
        expr("(sum_bdays * 1000) div n_lines"))
      .orderBy("priority")
  }

  val qBusinessDaysSql: String =
    """WITH lag AS (
      |  SELECT o_orderpriority AS priority,
      |    date_diff('day', DATE '1970-01-05',
      |      CAST(o_orderdate AS DATE)) AS no,
      |    date_diff('day', DATE '1970-01-05',
      |      CAST(l_shipdate AS DATE)) AS ns
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      |b AS (
      |  SELECT priority,
      |    (5 * (ns // 7) + LEAST(ns % 7, 5))
      |      - (5 * (no // 7) + LEAST(no % 7, 5)) AS bdays
      |  FROM lag)
      |SELECT priority, CAST(COUNT(*) AS BIGINT) AS n_lines,
      |  CAST(SUM(bdays) AS BIGINT) AS sum_bdays,
      |  CAST(MIN(bdays) AS BIGINT) AS min_bdays,
      |  CAST(MAX(bdays) AS BIGINT) AS max_bdays,
      |  CAST(CAST(SUM(bdays) AS BIGINT) * 1000 // COUNT(*) AS BIGINT)
      |    AS avg_milli_bdays
      |FROM b GROUP BY 1 ORDER BY 1""".stripMargin

  /** Day-of-week revenue seasonality — the weekly-cycle index behind
    * staffing and capacity plans: each weekday's average order value
    * relative to the all-days average, in exact ppm
    * (index = (Σ_d · N) / (n_d · Σ) · 10⁶). Weekday is computed from
    * raw day arithmetic ((epoch_days + 4) mod 7, 0 = Sunday), NOT an
    * engine dayofweek() — DOW numbering conventions differ across
    * engines and the mod-7 form is definitionally identical.
    *
    * Exactness: revenue in integer cents; the index product runs in
    * DECIMAL(38,0) (cents × orders × 10⁶ outgrows long at corpus
    * scale) and lands as integral ppm via `div`.
    *
    * Scale shape: ONE hash aggregate to 7 rows with map-side combine
    * — the corpus crosses the wire as 7 partials per task; the
    * global total is a broadcast of the 1-row re-aggregate of those
    * 7 rows. Nothing downstream of the first agg is data-sized. */
  def qSeasonality(s: SparkSession, dir: String): DataFrame = {
    val d7 = Tables.load(s, dir, "orders")
      .select(
        expr("cast((datediff(to_date(o_orderdate), date'1970-01-01') + 4) % 7 as bigint)")
          .as("dow"),
        expr("cast(cast(o_totalprice as decimal(14,2)) * 100 as bigint)")
          .as("cents"))
      .groupBy("dow")
      .agg(count(lit(1)).as("n_orders"), sum(col("cents")).as("sum_cents"))
    val tot = d7.agg(sum(col("n_orders")).as("nt"),
      sum(col("sum_cents")).as("st"))
    d7.crossJoin(broadcast(tot))
      .withColumn("index_ppm", expr(
        """cast((cast(sum_cents as decimal(38,0)) * nt * 1000000)
          | div (cast(n_orders as decimal(38,0)) * st) as bigint)"""
          .stripMargin))
      .select(col("dow"), col("n_orders"), col("sum_cents"),
        col("index_ppm"))
      .orderBy("dow")
  }

  val qSeasonalitySql: String =
    """WITH d7 AS (
      |  SELECT (date_diff('day', DATE '1970-01-01',
      |      CAST(o_orderdate AS DATE)) + 4) % 7 AS dow,
      |    CAST(COUNT(*) AS BIGINT) AS n_orders,
      |    CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(14,2)) * 100
      |      AS BIGINT)) AS BIGINT) AS sum_cents
      |  FROM orders GROUP BY 1),
      |tot AS (
      |  SELECT CAST(SUM(n_orders) AS BIGINT) AS nt,
      |    CAST(SUM(sum_cents) AS BIGINT) AS st
      |  FROM d7)
      |SELECT CAST(dow AS BIGINT) AS dow, n_orders, sum_cents,
      |  CAST(CAST(sum_cents AS HUGEINT) * nt * 1000000
      |    // (CAST(n_orders AS HUGEINT) * st) AS BIGINT) AS index_ppm
      |FROM d7 CROSS JOIN tot ORDER BY dow""".stripMargin

  /** Width of one inventory age bucket, in days. */
  val agingBucketDays = 30

  /** FIFO inventory aging — the balance-sheet read of the
    * q_stock_ledger/q_fifo_cogs movement stream: of the stock still
    * on the shelf at the horizon, how old is it? Under FIFO, issues
    * consume the OLDEST receipt layers first, so the remaining
    * quantity of a receipt occupying cumulative-unit interval
    * [rlo, rhi) against total issues S is the interval clip
    * max(0, rhi − max(rlo, S)) — the same cumulative-space identity
    * as q_fifo_cogs, read from the survivor side. Layers roll up to
    * 30-day age buckets (bucket 0 = newest) with layer/part/unit
    * counts.
    *
    * Exactness: quantities are exact integers; ages are integer
    * datediff against the global max movement day; buckets via `div`.
    *
    * Scale shape: movements collapse to (part, day) grain map-side;
    * the FIFO numbering is ONE part-partitioned window exchange
    * (prefix sum and the per-part issue total share it); the as-of
    * day is a broadcast 1-row aggregate; the bucket rollup is a
    * model-sized hash aggregate. No joins beyond the scalar
    * broadcast — the q_fifo_cogs band join is not needed because
    * only the total issue volume, not per-shipment matching,
    * determines survivorship. */
  /** The FIFO survivor-clip core over any (part, day, qr, qi)
    * movement frame: surviving receipt layers with their remaining
    * quantities — max(0, rhi − max(rlo, S)) per layer. Factored so
    * the randomized spec can drive it with arbitrary streams. */
  private[graft] def agingLayers(mv: DataFrame): DataFrame = {
    val wOrd = Window.partitionBy("part").orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy("part")
    mv.withColumn("rhi", sum(col("qr")).over(wOrd))
      .withColumn("s_issued", sum(col("qi")).over(wAll))
      .filter(col("qr") > 0L)
      .withColumn("rlo", col("rhi") - col("qr"))
      .withColumn("remaining",
        greatest(lit(0L), col("rhi") - greatest(col("rlo"), col("s_issued"))))
      .filter(col("remaining") > 0L)
  }

  def qInventoryAging(s: SparkSession, dir: String): DataFrame = {
    val mv = Tables.load(s, dir, "lineitem")
      .select(col("l_partkey").as("part"),
        to_date(col("l_shipdate")).as("day"),
        expr("""case when l_returnflag = 'R'
                | then cast(cast(l_quantity as decimal(12,2)) as bigint)
                | else 0L end""".stripMargin).as("qr"),
        expr("""case when l_returnflag = 'R' then 0L
                | else cast(cast(l_quantity as decimal(12,2)) as bigint)
                | end""".stripMargin).as("qi"))
      .groupBy("part", "day")
      .agg(sum(col("qr")).as("qr"), sum(col("qi")).as("qi"))
    val layers = agingLayers(mv)
    // the horizon comes from the ALREADY-AGGREGATED movement frame
    // (every ship day survives the (part, day) group-by) — a second
    // raw lineitem scan would double the key's dominant stage
    val asof = mv.agg(max(col("day")).as("asof"))
    layers.crossJoin(broadcast(asof))
      .withColumn("age_bucket",
        expr(s"datediff(asof, day) div $agingBucketDays"))
      .groupBy("age_bucket")
      .agg(count(lit(1)).as("n_layers"),
        count_distinct(col("part")).as("n_parts"),
        sum(col("remaining")).as("units"))
      .orderBy("age_bucket")
  }

  val qInventoryAgingSql: String =
    s"""WITH mv AS (
       |  SELECT l_partkey AS part, CAST(l_shipdate AS DATE) AS day,
       |    CAST(SUM(CASE WHEN l_returnflag = 'R'
       |      THEN CAST(FLOOR(l_quantity) AS BIGINT) ELSE 0 END)
       |      AS BIGINT) AS qr,
       |    CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 0
       |      ELSE CAST(FLOOR(l_quantity) AS BIGINT) END)
       |      AS BIGINT) AS qi
       |  FROM lineitem GROUP BY 1, 2),
       |num AS (
       |  SELECT part, day, qr,
       |    SUM(qr) OVER (PARTITION BY part ORDER BY day
       |      ROWS UNBOUNDED PRECEDING) AS rhi,
       |    SUM(qi) OVER (PARTITION BY part) AS s_issued
       |  FROM mv),
       |layers AS (
       |  SELECT part, day, rhi - qr AS rlo, rhi, s_issued,
       |    GREATEST(0, rhi - GREATEST(rhi - qr, s_issued)) AS remaining
       |  FROM num WHERE qr > 0),
       |horizon AS (SELECT MAX(CAST(l_shipdate AS DATE)) AS h_day
       |  FROM lineitem)
       |SELECT CAST(date_diff('day', day, h_day) // $agingBucketDays
       |    AS BIGINT) AS age_bucket,
       |  CAST(COUNT(*) AS BIGINT) AS n_layers,
       |  CAST(COUNT(DISTINCT part) AS BIGINT) AS n_parts,
       |  CAST(SUM(remaining) AS BIGINT) AS units
       |FROM layers CROSS JOIN horizon
       |WHERE remaining > 0
       |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Max autocorrelation lag examined. */
  val acfMaxLag = 7

  /** Autocorrelation function of the daily order-count series at
    * lags 1..7 — the "does yesterday predict today / is there a
    * weekly cycle" diagnostic behind every forecasting model choice
    * (a strong lag-7 spike says weekly seasonality; lag-1 says
    * momentum). Pearson r between the series and its k-step lead,
    * in TRADING-DAY terms (pairs are adjacent OBSERVED days via
    * LEAD over the day-ordered series — the convention that still
    * works when the calendar has holes).
    *
    * Exactness: counts are integers; per-lag sufficient statistics
    * (n, Σx, Σy, Σx², Σy², Σxy) run in DECIMAL(38,0) (corpus-scale
    * daily counts square past long), converted to double ONCE and
    * combined with the identical IEEE tree in both engines.
    *
    * Scale shape: the corpus collapses to the day-grain series
    * (O(horizon) rows — model-sized by construction) at the first
    * hash aggregate; the 7 leads share ONE sort of that small frame
    * (a single-partition window over O(10³) rows, not corpus data);
    * the stack and per-lag rollup are trivial. At 100 TB the only
    * data-sized stage is still the first aggregate. */
  def qAutocorr(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.load(s, dir, "orders")
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(count(lit(1)).as("c"))
    val w = Window.orderBy("day")
    val leads = (1 to acfMaxLag).foldLeft(daily) { (df, k) =>
      df.withColumn(s"y$k", lead(col("c"), k).over(w))
    }
    val stacked = leads.select(col("c").as("x"), expr(
      s"stack($acfMaxLag, ${(1 to acfMaxLag)
        .map(k => s"$k, y$k").mkString(", ")}) as (k, y)"))
      .filter(col("y").isNotNull)
    val sums = stacked.groupBy("k")
      .agg(count(lit(1)).as("n"),
        sum(col("x").cast(DecimalType(38, 0))).cast(DoubleType).as("sx"),
        sum(col("y").cast(DecimalType(38, 0))).cast(DoubleType).as("sy"),
        // cast BEFORE the multiply — a long×long product wraps right
        // where the decimal was supposed to protect (oracle mirrors
        // with HUGEINT × x)
        sum(expr("cast(x as decimal(38,0)) * x"))
          .cast(DoubleType).as("sxx"),
        sum(expr("cast(y as decimal(38,0)) * y"))
          .cast(DoubleType).as("syy"),
        sum(expr("cast(x as decimal(38,0)) * y"))
          .cast(DoubleType).as("sxy"))
    // double tree mirrored textually in the oracle — do not re-associate
    sums.select(col("k"), col("n"),
        expr("""(cast(n as double) * sxy - sx * sy) /
          | (sqrt(cast(n as double) * sxx - sx * sx) *
          |  sqrt(cast(n as double) * syy - sy * sy))""".stripMargin)
          .as("acf"))
      .orderBy("k")
  }

  val qAutocorrSql: String = {
    val leadCols = (1 to acfMaxLag)
      .map(k => s"LEAD(c, $k) OVER (ORDER BY day) AS y$k").mkString(",\n      |    ")
    val arms = (1 to acfMaxLag)
      .map(k => s"SELECT c AS x, $k AS k, y$k AS y FROM l")
      .mkString("\n      |  UNION ALL ")
    s"""WITH d AS (
       |  SELECT CAST(o_orderdate AS DATE) AS day, COUNT(*) AS c
       |  FROM orders GROUP BY 1),
       |l AS (
       |  SELECT c,
       |    $leadCols
       |  FROM d),
       |st AS (
       |  $arms),
       |s AS (
       |  SELECT k, COUNT(*) AS n,
       |    CAST(SUM(CAST(x AS HUGEINT)) AS DOUBLE) AS sx,
       |    CAST(SUM(CAST(y AS HUGEINT)) AS DOUBLE) AS sy,
       |    CAST(SUM(CAST(x AS HUGEINT) * x) AS DOUBLE) AS sxx,
       |    CAST(SUM(CAST(y AS HUGEINT) * y) AS DOUBLE) AS syy,
       |    CAST(SUM(CAST(x AS HUGEINT) * y) AS DOUBLE) AS sxy
       |  FROM st WHERE y IS NOT NULL GROUP BY k)
       |SELECT CAST(k AS INT) AS k, CAST(n AS BIGINT) AS n,
       |  (CAST(n AS DOUBLE) * sxy - sx * sy) /
       |  (sqrt(CAST(n AS DOUBLE) * sxx - sx * sx) *
       |   sqrt(CAST(n AS DOUBLE) * syy - sy * sy)) AS acf
       |FROM s ORDER BY k""".stripMargin
  }

  /** Rolling-OLS window width, in trading days. */
  val trendW = 30
  /** Σx and Σx² for x = 0..trendW-1 — compile-time constants of the
    * in-window position regressor. */
  private val trendSumX = trendW * (trendW - 1) / 2
  private val trendSumX2 = (trendW - 1) * trendW * (2 * trendW - 1) / 6
  /** The OLS denominator n·Σx² − (Σx)² — a positive constant. */
  private val trendDen = trendW * trendSumX2 - trendSumX * trendSumX

  /** Rolling trend slope — the least-squares slope of each nation's
    * daily revenue over its trailing 30 trading days, in exact
    * integer milli-cents/day: the TREND detector that completes the
    * monitoring triptych (q_changepoint = level shift, q_anomaly_bands
    * = volatility breakout, this = sustained drift a band test never
    * fires on). The float-free trick: with the regressor x fixed at
    * in-window positions 0..29, Σx and Σx² are CONSTANTS, and
    * Σxy = T − (i−29)·S where T = Σ(global_row·y) and S = Σy are
    * plain window sums — so the classic slope
    * (n·Σxy − Σx·Σy)/(n·Σx² − (Σx)²) is integer arithmetic over two
    * window sums divided by a compile-time constant.
    *
    * Exactness: T runs in DECIMAL(38,0) (row index × cents × window
    * outgrows long at horizon scale); slope lands as integral milli
    * via div; truncation toward zero in both engines.
    *
    * Scale shape: q_changepoint's frame — pinned fact→customer join,
    * broadcast 25-row nation dim, facts collapse to (nation, day)
    * grain map-side; row numbering and both window sums share ONE
    * nation-window exchange over the model-sized daily frame. */
  def qTrendSlope(s: SparkSession, dir: String): DataFrame = {
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
      .agg(sum(col("c")).as("y"))
    val wOrd = Window.partitionBy("nation").orderBy("day")
    val wFrame = wOrd.rowsBetween(-(trendW - 1), 0)
    daily
      .withColumn("i", row_number().over(wOrd).cast(LongType))
      .withColumn("sw", sum(col("y")).over(wFrame))
      .withColumn("tw",
        sum(expr("cast(i as decimal(38,0)) * y")).over(wFrame))
      .filter(col("i") >= trendW)
      .withColumn("slope_milli", expr(
        s"""cast((($trendW * (tw - cast(i - ${trendW - 1} as decimal(38,0)) * sw)
           |  - $trendSumX * sw) * 1000) div $trendDen as bigint)"""
          .stripMargin))
      .select(col("nation"), col("day"), col("y"), col("slope_milli"))
      .orderBy("nation", "day")
  }

  val qTrendSlopeSql: String =
    s"""WITH d AS (
       |  SELECT n_name AS nation, CAST(o_orderdate AS DATE) AS day,
       |    CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2)) * 100)
       |      AS BIGINT) AS y
       |  FROM orders JOIN customer ON o_custkey = c_custkey
       |  JOIN nation ON c_nationkey = n_nationkey
       |  GROUP BY 1, 2),
       |r1 AS (
       |  SELECT nation, day, y,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY nation ORDER BY day)
       |      AS BIGINT) AS i
       |  FROM d),
       |r2 AS (
       |  SELECT nation, day, y, i,
       |    SUM(y) OVER wf AS sw,
       |    SUM(CAST(i AS HUGEINT) * y) OVER wf AS tw
       |  FROM r1
       |  WINDOW wf AS (PARTITION BY nation ORDER BY day
       |    ROWS BETWEEN ${trendW - 1} PRECEDING AND CURRENT ROW))
       |SELECT nation, day, y,
       |  CAST((($trendW * (tw - CAST(i - ${trendW - 1} AS HUGEINT) * sw)
       |    - $trendSumX * sw) * 1000) // $trendDen AS BIGINT)
       |    AS slope_milli
       |FROM r2 WHERE i >= $trendW ORDER BY nation, day""".stripMargin

  /** Centered moving-average half-width for the decomposition
    * (window = 2·h + 1 = 7 days). */
  private val decompH = 3

  /** Classical seasonal decomposition (STL-lite) of the global daily
    * revenue series: y = trend + seasonal + residual, where trend is
    * the centered 7-day moving average, seasonal is each weekday's
    * mean detrended value, and the residual is what monitoring
    * should actually alarm on (q_seasonality measures the weekly
    * cycle; decomposition REMOVES it so a Tuesday dip isn't excused
    * by "Tuesdays are slow" twice). Complete windows only.
    *
    * Exactness: everything in integer MILLI-cents via `div`
    * (truncation mirrored): trend = window-sum·1000 div 7, seasonal
    * = per-dow sum of detrended div count, residual = the exact
    * difference — the three parts re-add to y·1000 up to the two
    * documented truncations, and the spec checks the reconstruction
    * identity bound.
    *
    * Scale shape: the corpus collapses to the O(horizon) day series
    * at the FIRST aggregate; every window (centered MA, per-dow
    * means) runs on that model-sized frame (single-partition by
    * construction — the series is small, the corpus scan is the
    * data-sized stage). */
  def qSeasonalDecompose(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.load(s, dir, "orders")
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(expr("cast(sum(cast(o_totalprice as decimal(14,2)) * 100) as bigint)")
        .as("y"))
      .withColumn("dow",
        expr("cast((datediff(day, date'1970-01-01') + 4) % 7 as bigint)"))
    val trended = daily
      .withColumn("n_win",
        count(lit(1)).over(Window.orderBy("day")
          .rowsBetween(-decompH, decompH)))
      .withColumn("trend_milli",
        expr(s"(sum(y) over (order by day rows between $decompH preceding and $decompH following)) * 1000 div ${2 * decompH + 1}"))
      .filter(col("n_win") === (2 * decompH + 1).toLong)
      .withColumn("detr_milli", col("y") * 1000L - col("trend_milli"))
    trended
      .withColumn("seasonal_milli",
        expr("sum(detr_milli) over (partition by dow) div count(detr_milli) over (partition by dow)"))
      .withColumn("residual_milli", col("detr_milli") - col("seasonal_milli"))
      .select(col("day"), col("y"), col("trend_milli"),
        col("seasonal_milli"), col("residual_milli"))
      .orderBy("day")
  }

  val qSeasonalDecomposeSql: String =
    s"""WITH d AS (
       |  SELECT CAST(o_orderdate AS DATE) AS day,
       |    CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2)) * 100)
       |      AS BIGINT) AS y
       |  FROM orders GROUP BY 1),
       |d2 AS (
       |  SELECT day, y,
       |    (date_diff('day', DATE '1970-01-01', day) + 4) % 7 AS dow
       |  FROM d),
       |t AS (
       |  SELECT day, y, dow,
       |    COUNT(*) OVER wc AS n_win,
       |    (SUM(y) OVER wc) * 1000 // ${2 * decompH + 1} AS trend_milli
       |  FROM d2
       |  WINDOW wc AS (ORDER BY day
       |    ROWS BETWEEN $decompH PRECEDING AND $decompH FOLLOWING)),
       |t2 AS (
       |  SELECT day, y, dow, trend_milli,
       |    y * 1000 - trend_milli AS detr_milli
       |  FROM t WHERE n_win = ${2 * decompH + 1}),
       |t3 AS (
       |  SELECT day, y, trend_milli, detr_milli,
       |    SUM(detr_milli) OVER (PARTITION BY dow)
       |      // COUNT(*) OVER (PARTITION BY dow) AS seasonal_milli
       |  FROM t2)
       |SELECT day, y, CAST(trend_milli AS BIGINT) AS trend_milli,
       |  CAST(seasonal_milli AS BIGINT) AS seasonal_milli,
       |  CAST(detr_milli - seasonal_milli AS BIGINT) AS residual_milli
       |FROM t3 ORDER BY day""".stripMargin

  /** Wald–Wolfowitz runs-up-and-down test on daily revenue — the
    * trend-randomness screen (NIST's runs test, the same statistic
    * randomness batteries use): too FEW monotone runs means trending
    * /autocorrelated days, too MANY means oscillation — either way
    * the i.i.d. assumption behind naive monitors is broken. Pairs
    * with q_autocorr (which measures lag correlation; this tests the
    * SIGN pattern, robust to magnitude).
    *
    * Exactness: daily revenue in exact cents (decimal sums), run
    * boundaries are integer sign-change counts (cents sums of random
    * prices never tie, and an exact tie would map deterministically
    * to "down" in both engines); E[R]=(2n−1)/3, Var=(16n−29)/90
    * enter once through a mirrored double tree.
    *
    * Scale shape: the corpus collapses to DAY grain in one map-side
    * combined agg; the lag windows run over the model-sized day
    * series (q_autocorr's documented single-partition series
    * regime). */
  def qRunsTest(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.load(s, dir, "orders")
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(sum(
        expr("cast(cast(o_totalprice as decimal(14,2)) * 100 as bigint)")
          .cast(DecimalType(38, 0))).cast(LongType).as("rev"))
    val w = Window.orderBy("day")
    val dirs = daily
      .withColumn("prev", lag(col("rev"), 1).over(w))
      .filter(col("prev").isNotNull)
      .withColumn("dir",
        when(col("rev") > col("prev"), 1).otherwise(-1))
    val runs = dirs
      .withColumn("prev_dir", lag(col("dir"), 1).over(w))
      .withColumn("chg",
        when(col("prev_dir").isNotNull &&
          col("dir") =!= col("prev_dir"), 1L).otherwise(0L))
    runs.agg((count(lit(1)) + lit(1L)).as("n_days"),
        (sum(col("chg")) + lit(1L)).as("runs"))
      .withColumn("z", expr(runsZTree))
  }

  /** Runs-up-down z tree, parsed verbatim by both engines. */
  private def runsZTree: String =
    """(CAST(runs AS DOUBLE)
      |  - (2.0 * CAST(n_days AS DOUBLE) - 1.0) / 3.0)
      | / sqrt((16.0 * CAST(n_days AS DOUBLE) - 29.0) / 90.0)"""
      .stripMargin

  val qRunsTestSql: String =
    s"""WITH d AS (
       |  SELECT CAST(o_orderdate AS DATE) AS day,
       |    CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(14,2)) * 100
       |      AS BIGINT)) AS BIGINT) AS rev
       |  FROM orders GROUP BY 1),
       |d2 AS (
       |  SELECT day, rev, LAG(rev, 1) OVER (ORDER BY day) AS prev
       |  FROM d),
       |d3 AS (
       |  SELECT day, CASE WHEN rev > prev THEN 1 ELSE -1 END AS dir
       |  FROM d2 WHERE prev IS NOT NULL),
       |d4 AS (
       |  SELECT dir, LAG(dir, 1) OVER (ORDER BY day) AS prev_dir
       |  FROM d3),
       |a AS (
       |  SELECT CAST(COUNT(*) + 1 AS BIGINT) AS n_days,
       |    CAST(SUM(CASE WHEN prev_dir IS NOT NULL AND dir <> prev_dir
       |      THEN 1 ELSE 0 END) + 1 AS BIGINT) AS runs
       |  FROM d4)
       |SELECT n_days, runs,
       |  $runsZTree AS z
       |FROM a""".stripMargin


  /** Trailing window width of the rolling correlation. */
  val rollCorrW = 30

  /** The windowed Pearson tree over the exact long-surfaced sums,
    * shared verbatim by both engines (n = the full window width —
    * partial head windows are filtered out). */
  private val rollCorrTree: String =
    s"""CASE WHEN CAST($rollCorrW AS DOUBLE) * CAST(sxx AS DOUBLE)
       |       - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) = 0.0
       |     OR CAST($rollCorrW AS DOUBLE) * CAST(syy AS DOUBLE)
       |       - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) = 0.0
       |  THEN NULL
       |  ELSE (CAST($rollCorrW AS DOUBLE) * CAST(sxy AS DOUBLE)
       |     - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
       |   / (sqrt(CAST($rollCorrW AS DOUBLE) * CAST(sxx AS DOUBLE)
       |       - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
       |     * sqrt(CAST($rollCorrW AS DOUBLE) * CAST(syy AS DOUBLE)
       |       - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
       |  END""".stripMargin

  /** Rolling cross-series correlation — order VOLUME vs order VALUE
    * per nation over a trailing [[rollCorrW]]-day window: the decoupling
    * detector beside q_autocorr's self-lag read (volume and value
    * normally move together; a window where the correlation collapses
    * means the basket composition changed — promos, mix shift, or a
    * data fault — exactly when a volume-only monitor stays silent).
    *
    * Exactness: daily (count, revenue) collapse map-side; revenue is
    * priced in whole DOLLARS so the windowed Σy² fits long through
    * sf100 (the q_multireg rule); per-row products stay long
    * (bounded by the day grain), the window sums run in
    * DECIMAL(38,0) and surface as LONG (correctly-rounded long→double
    * in both engines — the q_cov_matrix lesson); the single double
    * combination is [[rollCorrTree]] shared verbatim, with a
    * deterministic NULL when a window has zero variance on either
    * side (a constant daily count makes r undefined). Partial head
    * windows (< the full width) are dropped, so n is the constant
    * window width on every emitted row.
    *
    * Scale shape: q_trend_slope's — the corpus collapses to the
    * O(horizon) daily series at the FIRST aggregate; all five window
    * sums share ONE nation-partitioned sort over that model-sized
    * frame. */
  def qRollingCorr(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.load(s, dir, "orders")
      .join(Tables.load(s, dir, "customer")
        .select(col("c_custkey"), col("c_nationkey"))
        .hint("shuffle_hash"), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.load(s, dir, "nation")
        .select(col("n_nationkey"), col("n_name"))),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name").as("nation"),
        to_date(col("o_orderdate")).as("day"))
      .agg(count(lit(1)).as("x"),
        expr("cast(sum(cast(o_totalprice as decimal(14,2)) * 100)" +
          " as bigint) div 100").as("y"))
    val wf = Window.partitionBy("nation").orderBy("day")
      .rowsBetween(-(rollCorrW - 1), 0)
    def wsum(e: String, out: String) =
      sum(expr(s"cast($e as decimal(38,0))")).over(wf)
        .cast(LongType).as(out)
    daily
      .withColumn("i", row_number().over(
        Window.partitionBy("nation").orderBy("day")))
      .select(col("nation"), col("day"), col("x"), col("y"), col("i"),
        wsum("x", "sx"), wsum("y", "sy"),
        wsum("x * x", "sxx"), wsum("y * y", "syy"),
        wsum("x * y", "sxy"))
      .filter(col("i") >= rollCorrW)
      .select(col("nation"), col("day"), col("x"), col("y"),
        expr(rollCorrTree).as("corr_vol_val"))
      .orderBy("nation", "day")
  }

  val qRollingCorrSql: String =
    s"""WITH d AS (
       |  SELECT n_name AS nation, CAST(o_orderdate AS DATE) AS day,
       |    CAST(COUNT(*) AS BIGINT) AS x,
       |    CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2)) * 100)
       |      AS BIGINT) // 100 AS y
       |  FROM orders JOIN customer ON o_custkey = c_custkey
       |  JOIN nation ON c_nationkey = n_nationkey
       |  GROUP BY 1, 2),
       |r AS (
       |  SELECT nation, day, x, y,
       |    ROW_NUMBER() OVER (PARTITION BY nation ORDER BY day) AS i,
       |    CAST(SUM(CAST(x AS HUGEINT)) OVER wf AS BIGINT) AS sx,
       |    CAST(SUM(CAST(y AS HUGEINT)) OVER wf AS BIGINT) AS sy,
       |    CAST(SUM(CAST(x AS HUGEINT) * x) OVER wf AS BIGINT) AS sxx,
       |    CAST(SUM(CAST(y AS HUGEINT) * y) OVER wf AS BIGINT) AS syy,
       |    CAST(SUM(CAST(x AS HUGEINT) * y) OVER wf AS BIGINT) AS sxy
       |  FROM d
       |  WINDOW wf AS (PARTITION BY nation ORDER BY day
       |    ROWS BETWEEN ${rollCorrW - 1} PRECEDING AND CURRENT ROW))
       |SELECT nation, day, x, y,
       |  $rollCorrTree AS corr_vol_val
       |FROM r WHERE i >= $rollCorrW ORDER BY nation, day""".stripMargin

  val keys: Seq[Key] = Seq(
    Key("q_runs_test", qRunsTest, Oracle(qRunsTestSql)),
    Key("q_seasonal_decompose", qSeasonalDecompose, Oracle(qSeasonalDecomposeSql)),
    Key("q_trend_slope", qTrendSlope, Oracle(qTrendSlopeSql)),
    Key("q_rolling_corr", qRollingCorr, Oracle(qRollingCorrSql),
      varianceNote = Some("intrinsic JIT-convergence spread (r14 " +
        "diagnosis: solo 12 back-to-back runs 1.15-1.88 s converging to " +
        "~1.3 with warm-up 4.8 s and the attr-normalized physical plan " +
        "bit-identical across independent compilations, 6 exchanges; " +
        "the historical full-board 2.7-4.4 s band is the same slow " +
        "convergence sampled at 1-warm+3 inside a long JVM - the plan " +
        "is frozen and the sort/window shape already shares its one " +
        "nation exchange, so the spread is compile-state, not data)")),
    Key("q_business_days", qBusinessDays, Oracle(qBusinessDaysSql)),
    Key("q_seasonality", qSeasonality, Oracle(qSeasonalitySql)),
    Key("q_inventory_aging", qInventoryAging, Oracle(qInventoryAgingSql)),
    Key("q_autocorr", qAutocorr, Oracle(qAutocorrSql)))

  val queries: Map[String, Key.Run] = Key.queries(keys)
}
