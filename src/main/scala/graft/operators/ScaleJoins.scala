package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables
import graft.sources.Bucketing

/** Driver-checked query keys for the two scale-layout strategies —
  * salting (skew) and bucketing (co-location). Both produce results
  * identical to their straightforward equivalents, so each carries a
  * plain-SQL DuckDB oracle: the layout machinery must be invisible in
  * the answer. (Reference analog: every per-table extract join in
  * the migration pipeline repeats the same join keys —
  * /root/reference/libs/MysqlParser.py:121-150 `get_table_raw_data`
  * with `_JOIN_` — which is exactly when a one-time co-located
  * layout, or a salt for a pathological key, pays off.)
  */
object ScaleJoins {

  /** Exact decimal sum rendered as double — deterministic in both
    * engines (SURVEY §4). */
  private def sumQty(c: String) =
    sum(col(c).cast(DecimalType(18, 2))).cast(DoubleType)

  /** Salted join over a deliberately skewed key: lineitem's
    * l_returnflag has 3 values covering ~600k rows at sf0.1 — the
    * power-law shape where one reducer would take a whole key. The
    * flag-level dim (total quantity per flag) joins back to the fact
    * through Skew.saltedJoin: the fact side salts into
    * (flag, salt∈[0,16)) shuffle keys, the 3-row dim replicates 16×,
    * so each hot key spreads over 16 reducers. The aggregate proves
    * exactness — salting must be invisible in the result. */
  def qSkewJoin(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(s, dir, "lineitem")
      .select("l_orderkey", "l_returnflag", "l_linestatus", "l_quantity")
    val dim = li.groupBy("l_returnflag")
      .agg(sumQty("l_quantity").as("flag_total_qty"))
    // shuffle_hash hint: salting exists for the case where the small
    // side CANNOT broadcast — without the hint the fixture-sized dim
    // broadcasts and the (key, salt) shuffle the key demonstrates
    // never materializes. With it, the plan shuffles both sides on
    // (l_returnflag, __salt): each hot key spreads over 16 reducers.
    Skew.saltedJoin(li, dim.hint("shuffle_hash"), "l_returnflag", factor = 16)
      .groupBy("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("n"),
        sumQty("l_quantity").as("sum_qty"),
        max(col("flag_total_qty")).as("flag_total_qty"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  val qSkewJoinSql: String =
    """WITH dim AS (
      |  SELECT l_returnflag,
      |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS flag_total_qty
      |  FROM lineitem GROUP BY 1)
      |SELECT l.l_returnflag, l.l_linestatus, COUNT(*) AS n,
      |  CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |  MAX(d.flag_total_qty) AS flag_total_qty
      |FROM lineitem l JOIN dim d USING (l_returnflag)
      |GROUP BY 1, 2
      |ORDER BY 1, 2""".stripMargin

  /** Bucketed co-located join: lineitem and orders are written ONCE
    * as 8-bucket tables on the order key, then joined exchange-free —
    * the recurring O(data) shuffle of a fact-fact join becomes a
    * one-time layout cost (at 100 TB, THE strategy when the same join
    * key repeats across a workload). The merge hint forces the
    * sort-merge path so the bucket layout, not a broadcast, carries
    * the join at every scale; the only Exchange in the plan is the
    * 3-group final aggregate. */
  /** Corpus identity for the one-time layout: path PLUS the source
    * files' byte sizes and mtimes — a regenerated fixture at the same
    * path must rebuild the bucketed tables, not silently reuse a
    * stale layout persisted in the warehouse by an earlier session.
    * Digested with the shared 64-bit SHA-256 tag (Tables.digest64),
    * not String.hashCode: a 32-bit collision on this freshness token
    * would read as a false "fresh" after a fixture regeneration. */
  private[graft] def corpusTag(dir: String, tables: Seq[String]): String = {
    def stat(f: java.io.File): String =
      if (f.isDirectory) {
        val fs = f.listFiles()
        s"${fs.map(_.length).sum}:${if (fs.isEmpty) 0L else fs.map(_.lastModified).max}"
      } else s"${f.length}:${f.lastModified}"
    val sig = tables.map(t => s"$t=${stat(new java.io.File(s"$dir/$t.parquet"))}")
      .mkString("|")
    Tables.digest64(dir + "|" + sig)
  }

  def qBucketJoin(s: SparkSession, dir: String): DataFrame = {
    // layout is ONE-TIME per corpus: table names carry the corpus
    // fingerprint, and an already-laid-out table is reused — repeated
    // queries measure the recurring exchange-free join, not the write
    val tag = corpusTag(dir, Seq("lineitem", "orders"))
    val liTab = s"graft_li_bucketed_$tag"
    val ordTab = s"graft_ord_bucketed_$tag"
    if (!s.catalog.tableExists(liTab))
      Bucketing.writeBucketed(Tables.load(s, dir, "lineitem")
        .select("l_orderkey", "l_quantity"), liTab, "l_orderkey", 8)
    if (!s.catalog.tableExists(ordTab))
      Bucketing.writeBucketed(Tables.load(s, dir, "orders")
        .select("o_orderkey", "o_orderstatus"), ordTab, "o_orderkey", 8)
    Bucketing.readTable(s, liTab).hint("merge")
      .join(Bucketing.readTable(s, ordTab),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"), sumQty("l_quantity").as("sum_qty"))
      .orderBy("o_orderstatus")
  }

  val qBucketJoinSql: String =
    """SELECT o_orderstatus, COUNT(*) AS n,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Root of the one-time hive-partitioned orders layout. */
  private[graft] def partLayoutDir(dir: String): String =
    s"/tmp/graft_part_orders_${corpusTag(dir, Seq("orders"))}"

  /** Partition-pruned scan — the THIRD scale-layout strategy beside
    * salting and bucketing, and the dominant one at 100 TB: facts land
    * hive-partitioned by a time key, and a query over one period
    * LISTS only that partition's files — pruning happens before any
    * byte is read, where row-group pushdown still reads footers. The
    * orders table is written ONCE per corpus fingerprint partitioned
    * by order year (7 partitions at every sf; partition COUNT scales
    * with time, not data); the query aggregates one year and must
    * show `PartitionFilters` carrying the predicate (asserted by
    * ScaleOpsSpec along with the pruned file listing). The layout is
    * invisible in the answer — the oracle is plain SQL over the raw
    * table. */
  def qPartitionPrune(s: SparkSession, dir: String): DataFrame = {
    val layout = partLayoutDir(dir)
    val tag = corpusTag(dir, Seq("orders"))
    graft.Artifacts.publish(layout, Some(tag)) {
      Tables.load(s, dir, "orders")
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderdate"),
          year(col("o_orderdate")).as("o_year"))
        .write.mode("overwrite").partitionBy("o_year").parquet(layout)
    }
    s.read.parquet(layout)
      .filter(col("o_year") === 1996)
      .groupBy(month(col("o_orderdate")).as("o_month"))
      .agg(count(lit(1)).as("n"),
        sum(col("o_totalprice").cast(DecimalType(18, 2)))
          .cast(DoubleType).as("sum_price"))
      .orderBy("o_month")
  }

  val qPartitionPruneSql: String =
    """SELECT CAST(MONTH(o_orderdate) AS INTEGER) AS o_month, COUNT(*) AS n,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      |FROM orders
      |WHERE YEAR(o_orderdate) = 1996
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Root of the one-time z-ordered orders layout. */
  private[graft] def zLayoutDir(dir: String): String =
    s"/tmp/graft_zorder_orders_${corpusTag(dir, Seq("orders"))}"

  /** Morton/z-value of two 16-bit lanes: bit i of `a` lands at 2i,
    * bit i of `b` at 2i+1 — points close in BOTH dimensions get
    * close z-values. A pure codegen'd bit-arithmetic chain (32
    * shift/mask/or terms), no UDF. */
  private[graft] def zInterleave16(a: Column, b: Column): Column =
    (0 until 16).map { i =>
      shiftleft(shiftright(a, i).bitwiseAND(lit(1L)), 2 * i)
        .bitwiseOR(shiftleft(shiftright(b, i).bitwiseAND(lit(1L)), 2 * i + 1))
    }.reduce(_ bitwiseOR _)

  /** Scale a value into [0, 65535] over its corpus range — the
    * normalization only shapes the LAYOUT; queries filter raw
    * columns, so the constants never touch results. */
  private def lane16(c: Column, lo: Long, hi: Long): Column =
    ((c.cast(LongType) - lit(lo)) * lit(65535L) / lit(math.max(hi - lo, 1L)))
      .cast(LongType)

  /** The z-ordered frame: orders clustered so that each written file
    * covers a compact rectangle in (custkey × orderdate) space.
    * repartitionByRange on z gives contiguous z-ranges per partition
    * (range bounds from sampling, the same machinery as any global
    * sort), sortWithinPartitions packs them, and the file cap bounds
    * row-group width. Range stats for the lanes come from one tiny
    * 4-value aggregate at build time (one-time, like the IVF model's
    * k-row collect). */
  private[graft] def zorderFrame(o: DataFrame, parts: Int = 64): DataFrame = {
    // o_orderdate lands as a timestamp; the z lane wants day numbers
    val day = unix_date(to_date(col("o_orderdate")))
    val r = o.agg(
      min(col("o_custkey")), max(col("o_custkey")), min(day), max(day))
      .head()
    val (loK, hiK) = (r.getLong(0), r.getLong(1))
    val (loD, hiD) = (r.getInt(2).toLong, r.getInt(3).toLong)
    o.withColumn("z", zInterleave16(
        lane16(col("o_custkey"), loK, hiK),
        lane16(day.cast(LongType), loD, hiD)))
      .repartitionByRange(parts, col("z"))
      .sortWithinPartitions("z")
      .drop("z")
  }

  /** Z-ordered multi-column pruning — what partition pruning cannot
    * give: a layout that prunes on TWO filter columns at once.
    * Hive-partitioning handles one key; a z-order clustering
    * interleaves two, so every written file carries NARROW parquet
    * min/max stats on both, and the reader's row-group pruning skips
    * most files for a 2-D range predicate (each file is one row
    * group under the cap). The layout is one-time per corpus
    * fingerprint; the 2-D filtered aggregate must show both range
    * predicates in PushedFilters, and ScaleOpsSpec proves (a)
    * per-file spans are narrow in BOTH dimensions — the linear
    * date-sorted layout is narrow in one only — and (b) the same
    * query physically reads fewer bytes from the z layout. The
    * layout is invisible in the answer: the oracle is plain SQL over
    * the raw table. */
  def qZorderPrune(s: SparkSession, dir: String): DataFrame = {
    val layout = zLayoutDir(dir)
    val tag = corpusTag(dir, Seq("orders"))
    graft.Artifacts.publish(layout, Some(tag)) {
      zorderFrame(Tables.load(s, dir, "orders"))
        .write.mode("overwrite")
        .option("maxRecordsPerFile", 2000)
        .parquet(layout)
    }
    s.read.parquet(layout)
      .filter(zQueryFilter)
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"),
        sum(col("o_totalprice").cast(DecimalType(18, 2)))
          .cast(DoubleType).as("sum_price"))
      .orderBy("o_orderpriority")
  }

  /** The 2-D range predicate: ~10% of the key space at sf0.001 (keys
    * are dense from 0, so absolute bounds stay non-empty at every sf)
    * crossed with one of ~7 years. */
  private[graft] def zQueryFilter: Column =
    col("o_custkey").between(30, 44) &&
      col("o_orderdate").between(lit("1996-01-01"), lit("1996-12-31"))

  val qZorderPruneSql: String =
    """SELECT o_orderpriority, COUNT(*) AS n,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      |FROM orders
      |WHERE o_custkey BETWEEN 30 AND 44
      |  AND o_orderdate BETWEEN DATE '1996-01-01' AND DATE '1996-12-31'
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Runtime bloom-filter join pruning — the FOURTH scale lever
    * beside salting, bucketing, and partition pruning, and the one
    * that needs no layout at all: when a selective dim-side filter
    * feeds a shuffle join, Catalyst builds a bloom filter from the
    * filtered keys at runtime and applies it to the fact side BEFORE
    * its shuffle, so non-joining fact rows (here ~80%: one of five
    * priorities survives) never cross the wire. At 100 TB neither
    * join side broadcasts, which is exactly when the optimizer
    * injects the filter — the fixture reproduces that regime in a
    * CLONED session (thresholds lowered there only, so no other
    * key's optimizer is touched): broadcast off, scan-size floor
    * zero. ScaleOpsSpec asserts the injected
    * bloom_filter_might_contain actually prunes the fact scan; the
    * oracle is the plain join — runtime filtering must be invisible
    * in the answer. */
  def qBloomJoin(s0: SparkSession, dir: String): DataFrame = {
    val s = s0.newSession()
    // the 100 TB regime, in-fixture: no broadcast path (both sides
    // "too big"), no scan-size floor; bloom injection itself stays at
    // its public defaults
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s.conf.set(
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
    val urgent = Tables.load(s, dir, "orders")
      .filter(col("o_orderpriority") === "1-URGENT")
      .select("o_orderkey")
    Tables.load(s, dir, "lineitem")
      .select("l_orderkey", "l_returnflag", "l_quantity")
      .join(urgent, col("l_orderkey") === col("o_orderkey"))
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"), sumQty("l_quantity").as("sum_qty"))
      .orderBy("l_returnflag")
  }

  val qBloomJoinSql: String =
    """SELECT l_returnflag, COUNT(*) AS n,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |WHERE o_orderpriority = '1-URGENT'
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** The registered MV definition — revenue per order-year, the
    * signature dashboard aggregate. Built fresh by both the MV writer
    * and the query so the catalog's canonical-plan matching is
    * exercised for real (nothing is shared but the code). */
  private[graft] def mvDefinition(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "orders")
      .groupBy(year(col("o_orderdate")).as("yr"))
      .agg(sum(col("o_totalprice").cast(DecimalType(12, 2))).as("rev_dec"),
        count(lit(1)).as("n_orders"))

  /** One-time MV build per corpus fingerprint (the published-layout
    * contract Bucketing and z-order follow) + catalog registration.
    * Registration comes AFTER the write so the build job itself can
    * never be rewritten into reading the not-yet-existing MV, and
    * re-registration is skipped when analysis already rewrites the
    * definition (same-session repeat). */
  private[graft] def ensureMv(s: SparkSession, dir: String): String = {
    val tag = corpusTag(dir, Seq("orders"))
    val path = s"/tmp/graft_mv_orders_year_$tag.parquet"
    graft.Artifacts.publish(path, None)(mvDefinition(s, dir).write.parquet(path))
    val defPlan = mvDefinition(s, dir).queryExecution.analyzed
    defPlan match {
      case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate =>
        graft.plans.MvCatalog.register(a, path)
      case _ => () // already rewritten -> already registered
    }
    path
  }

  /** Transparent materialized-view rewrite (plans/MvRewrite.scala):
    * the query constructs the signature aggregate EXACTLY as any
    * dashboard would, and the injected analyzer rule answers it from
    * the pre-built summary — the executed plan scans k rows instead
    * of the fact table, with zero shuffles (spec asserts both, plus
    * a near-miss control that must NOT rewrite). The oracle runs the
    * raw SQL over orders: the rewrite must be invisible in the
    * answer. */
  def qMvRewrite(s: SparkSession, dir: String): DataFrame = {
    ensureMv(s, dir)
    mvDefinition(s, dir)
      .select(col("yr"),
        col("rev_dec").cast(DoubleType).as("revenue"),
        col("n_orders"))
  }

  val qMvRewriteSql: String =
    """SELECT CAST(year(o_orderdate) AS INT) AS yr,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
      |    AS revenue,
      |  COUNT(*) AS n_orders
      |FROM orders GROUP BY 1""".stripMargin

  /** ONE formula string fed to both engines (§4 mirrored-tree
    * discipline) for the rollup MV's exact-cents measure. */
  private[graft] val centsExpr =
    "cast(cast(o_totalprice as decimal(14,2)) * 100 as bigint)"

  /** The FINER-grain registered MV — exact-cents revenue per
    * (year, month): the summary a real warehouse materializes daily
    * or monthly, from which every coarser dashboard grain should be
    * answered without touching the corpus again. */
  private[graft] def mvMonthDefinition(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "orders")
      .groupBy(year(col("o_orderdate")).as("yr"),
        month(col("o_orderdate")).as("mo"))
      .agg(sum(expr(centsExpr)).as("rev_cents"),
        count(lit(1)).as("n_orders"),
        min(expr(centsExpr)).as("min_cents"),
        max(expr(centsExpr)).as("max_cents"))

  /** One-time (year, month) MV build per corpus fingerprint +
    * catalog registration — same contract as [[ensureMv]]. */
  private[graft] def ensureMonthMv(s: SparkSession, dir: String): String = {
    val tag = corpusTag(dir, Seq("orders"))
    val path = s"/tmp/graft_mv_orders_month_$tag.parquet"
    graft.Artifacts.publish(path, None)(mvMonthDefinition(s, dir).write.parquet(path))
    mvMonthDefinition(s, dir).queryExecution.analyzed match {
      case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate =>
        graft.plans.MvCatalog.register(a, path)
      case _ => () // already rewritten -> already registered
    }
    path
  }

  /** Grain-rollup MV rewrite (plans/MvRewrite.scala MvRollup): the
    * query asks for the YEAR grain over the raw corpus — a grain
    * nobody registered — and the rule answers it by re-aggregating
    * the (year, month) MV, because {year} ⊂ {year, month} and
    * SUM/COUNT re-aggregate from partials (COUNT becomes SUM of the
    * partial counts). The executed plan must scan the MV parquet and
    * NEVER the fact table (spec-asserted, with a non-subset-grain
    * control that must run untouched); the oracle is the raw
    * year-grain SQL over orders — the rollup must be invisible in
    * the answer. Exact integer cents end to end: SUM of partial long
    * sums is associative, so the rollup is bit-identical at any
    * grouping. */
  def qMvRollup(s: SparkSession, dir: String): DataFrame = {
    ensureMonthMv(s, dir)
    Tables.load(s, dir, "orders")
      .groupBy(year(col("o_orderdate")).as("yr"))
      .agg(sum(expr(centsExpr)).as("rev_cents"),
        count(lit(1)).as("n_orders"),
        min(expr(centsExpr)).as("min_cents"),
        max(expr(centsExpr)).as("max_cents"))
      .orderBy("yr")
  }

  val qMvRollupSql: String =
    """SELECT CAST(year(o_orderdate) AS INT) AS yr,
      |  CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(14,2)) * 100
      |    AS BIGINT)) AS BIGINT) AS rev_cents,
      |  COUNT(*) AS n_orders,
      |  MIN(CAST(CAST(o_totalprice AS DECIMAL(14,2)) * 100 AS BIGINT))
      |    AS min_cents,
      |  MAX(CAST(CAST(o_totalprice AS DECIMAL(14,2)) * 100 AS BIGINT))
      |    AS max_cents
      |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin

  /** Selection-subsumption MV rewrite (plans/MvRewrite.scala r9):
    * the query slices a 1996-1998 window BEFORE aggregating to the
    * year grain — the everyday "this period, by sub-period"
    * dashboard — and the rule answers it from the (year, month) MV
    * because the predicate's only grouping-key subtree,
    * `year(o_orderdate)`, maps onto the MV's `yr` output: the WHERE
    * becomes `yr BETWEEN 1996 AND 1998` against the k-row summary
    * and pushes into the MV's parquet scan (spec-asserted via
    * PushedFilters), composing with the rollup re-aggregation in the
    * same rewrite. At 100 TB the query reads a few hundred summary
    * rows; without the filter path it would re-scan every order in
    * the window. A predicate on any non-key column (the spec's
    * o_orderpriority control) leaves residual base attributes after
    * the mapping and runs untouched against the corpus. */
  def qMvFilter(s: SparkSession, dir: String): DataFrame = {
    ensureMonthMv(s, dir)
    Tables.load(s, dir, "orders")
      .filter(year(col("o_orderdate")).between(1996, 1998))
      .groupBy(year(col("o_orderdate")).as("yr"))
      .agg(sum(expr(centsExpr)).as("rev_cents"),
        count(lit(1)).as("n_orders"),
        max(expr(centsExpr)).as("max_cents"))
      .orderBy("yr")
  }

  val qMvFilterSql: String =
    """SELECT CAST(year(o_orderdate) AS INT) AS yr,
      |  CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(14,2)) * 100
      |    AS BIGINT)) AS BIGINT) AS rev_cents,
      |  COUNT(*) AS n_orders,
      |  MAX(CAST(CAST(o_totalprice AS DECIMAL(14,2)) * 100 AS BIGINT))
      |    AS max_cents
      |FROM orders
      |WHERE year(o_orderdate) BETWEEN 1996 AND 1998
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** The incremental-maintenance cutoff — deliberately MID-month
    * (1998-03-15), so the cutoff month's partials exist on BOTH
    * sides and the refresh provably MERGES overlapping groups
    * rather than just concatenating disjoint ones. */
  private[graft] val mvRefreshCutoff = "1998-03-15"

  private def monthPartials(df: DataFrame): DataFrame =
    df.groupBy(year(col("o_orderdate")).as("yr"),
        month(col("o_orderdate")).as("mo"))
      .agg(sum(expr(centsExpr)).as("rev_cents"),
        count(lit(1)).as("n_orders"),
        min(expr(centsExpr)).as("min_cents"),
        max(expr(centsExpr)).as("max_cents"))

  /** The STALE summary — the (year, month) MV as it stood before the
    * newest arrivals landed, published once per corpus fingerprint
    * like every layout artifact. */
  private[graft] def ensureStaleMv(s: SparkSession, dir: String): String = {
    val tag = corpusTag(dir, Seq("orders"))
    val path = s"/tmp/graft_mv_stale_month_$tag.parquet"
    graft.Artifacts.publish(path, None) {
      monthPartials(Tables.load(s, dir, "orders")
        .filter(col("o_orderdate") < lit(mvRefreshCutoff).cast(TimestampType)))
        .write.parquet(path)
    }
    path
  }

  /** Incremental MV maintenance — the missing half of the MV story
    * (q_mv_rewrite/q_mv_rollup/q_mv_filter ANSWER from a summary;
    * this key keeps the summary TRUE as the base grows): the stale
    * (year, month) MV is refreshed against the newest arrivals by
    * aggregating ONLY the delta to the same partial layout and
    * re-aggregating the union on the MV keys — SUM partials add,
    * COUNT partials add, MIN/MAX partials combine, all associative,
    * so refresh(stale, delta) is bit-identical to a full recompute
    * (the oracle IS the full recompute over all of orders).
    *
    * Scale shape: cost is O(delta + k), never O(base) — the delta
    * scan prunes on the pushed `o_orderdate >= cutoff` predicate
    * (spec-asserted PushedFilters; on a date-partitioned 100 TB lake
    * that is partition pruning, reading only the new days), the
    * stale MV contributes k summary rows, and the merge shuffles
    * only model-sized frames. Insert-only deltas keep MIN/MAX
    * refreshable; with retractions, SUM/COUNT refresh by signed
    * multiplicity but extrema need their groups recomputed — the
    * standard view-maintenance boundary, documented not hidden. */
  def qMvRefresh(s: SparkSession, dir: String): DataFrame = {
    val stale = s.read.parquet(ensureStaleMv(s, dir))
    val delta = monthPartials(Tables.load(s, dir, "orders")
      .filter(col("o_orderdate") >= lit(mvRefreshCutoff).cast(TimestampType)))
    stale.unionByName(delta)
      .groupBy("yr", "mo")
      .agg(sum(col("rev_cents")).as("rev_cents"),
        sum(col("n_orders")).as("n_orders"),
        min(col("min_cents")).as("min_cents"),
        max(col("max_cents")).as("max_cents"))
      .orderBy("yr", "mo")
  }

  val qMvRefreshSql: String =
    """SELECT CAST(year(o_orderdate) AS INT) AS yr,
      |  CAST(month(o_orderdate) AS INT) AS mo,
      |  CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(14,2)) * 100
      |    AS BIGINT)) AS BIGINT) AS rev_cents,
      |  COUNT(*) AS n_orders,
      |  MIN(CAST(CAST(o_totalprice AS DECIMAL(14,2)) * 100 AS BIGINT))
      |    AS min_cents,
      |  MAX(CAST(CAST(o_totalprice AS DECIMAL(14,2)) * 100 AS BIGINT))
      |    AS max_cents
      |FROM orders GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** The STAR-JOIN registered MV — revenue partials per
    * (nation, year) over orders ⨝ customer: the shape real warehouse
    * summaries actually take (a fact joined to its dimensions, then
    * aggregated). The catalog keys on the canonicalized pre-aggregate
    * CHILD, and a join subtree canonicalizes like any other plan —
    * so the whole rewrite family (exact, rollup, selection) extends
    * to star summaries with NO new matching code; this definition
    * exists to prove that and to carry the q_mv_star key. */
  private[graft] def mvStarDefinition(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "orders")
      .join(Tables.load(s, dir, "customer"),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_nationkey"), year(col("o_orderdate")).as("yr"))
      .agg(sum(expr(centsExpr)).as("rev_cents"),
        count(lit(1)).as("n_orders"))

  private[graft] def ensureStarMv(s: SparkSession, dir: String): String = {
    val tag = corpusTag(dir, Seq("orders", "customer"))
    val path = s"/tmp/graft_mv_star_nation_year_$tag.parquet"
    graft.Artifacts.publish(path, None)(mvStarDefinition(s, dir).write.parquet(path))
    mvStarDefinition(s, dir).queryExecution.analyzed match {
      case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate =>
        graft.plans.MvCatalog.register(a, path)
      case _ => () // already rewritten -> already registered
    }
    path
  }

  /** Star-schema MV rewrite — all three rewrites composed over a
    * JOIN subtree: the query asks for 1996-1998 revenue per NATION
    * over the raw orders ⨝ customer star, and the rule answers from
    * the (nation, year) summary because the join child canonicalizes
    * and matches like any subtree, {nation} ⊂ {nation, year}, and
    * the year-window predicate maps onto the MV's `yr` output. The
    * executed plan scans NEITHER base table (spec-asserted) — at
    * 100 TB that is the fact-dimension join AND both scans traded
    * for a few hundred summary rows. The oracle is the raw star-join
    * SQL: the whole stack must be invisible in the answer. */
  def qMvStar(s: SparkSession, dir: String): DataFrame = {
    ensureStarMv(s, dir)
    Tables.load(s, dir, "orders")
      .join(Tables.load(s, dir, "customer"),
        col("o_custkey") === col("c_custkey"))
      .filter(year(col("o_orderdate")).between(1996, 1998))
      .groupBy(col("c_nationkey"))
      .agg(sum(expr(centsExpr)).as("rev_cents"),
        count(lit(1)).as("n_orders"))
      .orderBy("c_nationkey")
  }

  val qMvStarSql: String =
    """SELECT c_nationkey,
      |  CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(14,2)) * 100
      |    AS BIGINT)) AS BIGINT) AS rev_cents,
      |  COUNT(*) AS n_orders
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |WHERE year(o_orderdate) BETWEEN 1996 AND 1998
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** MV maintenance under RETRACTIONS — the other side of the
    * q_mv_refresh boundary its scaladoc documents: deletions refresh
    * SUM/COUNT by SIGNED multiplicity (subtract the retracted
    * partials — O(retractions)), but MIN/MAX are not groups — a
    * retracted extremum leaves no way to know the runner-up from the
    * partial alone, so extrema recompute from surviving rows for the
    * AFFECTED groups only (on a date-partitioned lake the affected
    * (yr, mo) list IS the partition filter — the recompute never
    * touches untouched months). Groups retracted to zero rows drop
    * entirely. Oracle = full recompute over the surviving rows, so
    * subtract-and-patch must be bit-identical to rebuild. */
  def qMvRetract(s: SparkSession, dir: String): DataFrame = {
    ensureMonthMv(s, dir)
    val tag = corpusTag(dir, Seq("orders"))
    val mv = s.read.parquet(s"/tmp/graft_mv_orders_month_$tag.parquet")
      .withColumnRenamed("min_cents", "mv_min")
      .withColumnRenamed("max_cents", "mv_max")
    val orders = Tables.load(s, dir, "orders")
    val retracted = orders.filter(col("o_orderkey") % 101 === 0)
    // localCheckpoint: the month-grain retraction partials feed BOTH
    // the subtract join and the affected-group list — without the pin
    // each consumer would rescan orders to rebuild them
    val rAgg = retracted
      .groupBy(year(col("o_orderdate")).as("yr"),
        month(col("o_orderdate")).as("mo"))
      .agg(sum(expr(centsExpr)).as("r_cents"), count(lit(1)).as("r_n"))
      // LAZY (r14): month-grain frame; the broadcast of `affected`
      // materializes it first inside the final job, the subtract join
      // then reads the cached blocks — one fewer job.
      .localCheckpoint(eager = false)
    val affected = rAgg.select("yr", "mo")
    // survivors' extrema, computed ONLY over affected groups (the
    // broadcast against the model-sized month list is the fixture
    // stand-in for partition pruning on the affected months)
    val patched = orders
      .filter(col("o_orderkey") % 101 =!= 0)
      .join(broadcast(affected),
        year(col("o_orderdate")) === col("yr") &&
          month(col("o_orderdate")) === col("mo"))
      .groupBy("yr", "mo")
      .agg(min(expr(centsExpr)).as("p_min"), max(expr(centsExpr)).as("p_max"))
    mv.join(rAgg.hint("shuffle_hash"), Seq("yr", "mo"), "left")
      .select(col("yr"), col("mo"),
        (col("rev_cents") - coalesce(col("r_cents"), lit(0L)))
          .as("rev_cents"),
        (col("n_orders") - coalesce(col("r_n"), lit(0L))).as("n_orders"),
        col("mv_min"), col("mv_max"), col("r_n"))
      .filter(col("n_orders") > 0)
      .join(patched.hint("shuffle_hash"), Seq("yr", "mo"), "left")
      .select(col("yr"), col("mo"), col("rev_cents"), col("n_orders"),
        when(col("r_n").isNotNull, col("p_min")).otherwise(col("mv_min"))
          .as("min_cents"),
        when(col("r_n").isNotNull, col("p_max")).otherwise(col("mv_max"))
          .as("max_cents"))
      .orderBy("yr", "mo")
  }

  val qMvRetractSql: String =
    """SELECT CAST(year(o_orderdate) AS INT) AS yr,
      |  CAST(month(o_orderdate) AS INT) AS mo,
      |  CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(14,2)) * 100
      |    AS BIGINT)) AS BIGINT) AS rev_cents,
      |  COUNT(*) AS n_orders,
      |  MIN(CAST(CAST(o_totalprice AS DECIMAL(14,2)) * 100 AS BIGINT))
      |    AS min_cents,
      |  MAX(CAST(CAST(o_totalprice AS DECIMAL(14,2)) * 100 AS BIGINT))
      |    AS max_cents
      |FROM orders WHERE NOT (o_orderkey % 101 = 0)
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** The FINEST-grain registered MV — the same exact-cents measures
    * at (year, month, day): exists so that TWO summaries over the
    * same child can match one query and the rewrite has a real
    * cost decision to make (q_mv_choice). */
  private[graft] def mvDayDefinition(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "orders")
      .groupBy(year(col("o_orderdate")).as("yr"),
        month(col("o_orderdate")).as("mo"),
        dayofmonth(col("o_orderdate")).as("dy"))
      .agg(sum(expr(centsExpr)).as("rev_cents"),
        count(lit(1)).as("n_orders"),
        min(expr(centsExpr)).as("min_cents"),
        max(expr(centsExpr)).as("max_cents"))

  private[graft] def ensureDayMv(s: SparkSession, dir: String): String = {
    val tag = corpusTag(dir, Seq("orders"))
    val path = s"/tmp/graft_mv_orders_day_$tag.parquet"
    graft.Artifacts.publish(path, None)(mvDayDefinition(s, dir).write.parquet(path))
    mvDayDefinition(s, dir).queryExecution.analyzed match {
      case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate =>
        graft.plans.MvCatalog.register(a, path)
      case _ => () // already rewritten -> already registered
    }
    path
  }

  /** Cost-based MV candidate choice (plans/MvRewrite.scala MvRollup):
    * with BOTH the (year, month) and the (year, month, day) summary
    * registered over the same child, the year-grain query matches
    * both rollup candidates and the rule must answer from the
    * SMALLEST — the month MV, ~30× fewer rows than the day MV and at
    * 100 TB the difference between reading hundreds and tens of
    * thousands of summary rows for the same exact answer. The day MV
    * is registered LAST (the catalog prepends, so a naive
    * registration-order pick would choose it) — the spec asserts the
    * executed plan scans the MONTH path anyway, plus a (year, day)
    * control only the day MV can serve. The oracle is the raw
    * year-grain SQL: whichever summary answers, the choice must be
    * invisible in the result. */
  def qMvChoice(s: SparkSession, dir: String): DataFrame = {
    ensureMonthMv(s, dir)
    ensureDayMv(s, dir)
    Tables.load(s, dir, "orders")
      .groupBy(year(col("o_orderdate")).as("yr"))
      .agg(sum(expr(centsExpr)).as("rev_cents"),
        count(lit(1)).as("n_orders"),
        min(expr(centsExpr)).as("min_cents"),
        max(expr(centsExpr)).as("max_cents"))
      .orderBy("yr")
  }

  /** The star-summary partials at (nation, year) grain over a slice
    * of the fact side — ONE derivation for the stale build, the
    * delta, and the oracle's mental model. */
  private def starPartials(s: SparkSession, dir: String, pred: Column): DataFrame =
    Tables.load(s, dir, "orders").filter(pred)
      .join(Tables.load(s, dir, "customer"),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_nationkey"), year(col("o_orderdate")).as("yr"))
      .agg(sum(expr(centsExpr)).as("rev_cents"),
        count(lit(1)).as("n_orders"))

  /** The STALE star summary — the (nation, year) MV as it stood
    * before the newest fact arrivals, published once per corpus
    * fingerprint. */
  private[graft] def ensureStaleStarMv(s: SparkSession, dir: String): String = {
    val tag = corpusTag(dir, Seq("orders", "customer"))
    val path = s"/tmp/graft_mv_stale_star_$tag.parquet"
    graft.Artifacts.publish(path, None) {
      starPartials(s, dir,
        col("o_orderdate") < lit(mvRefreshCutoff).cast(TimestampType))
        .write.parquet(path)
    }
    path
  }

  /** Incremental maintenance of a JOIN (star) MV — q_mv_refresh's
    * O(delta + k) loop extended through the fact-dimension join, the
    * shape real warehouse summaries refresh nightly: only the NEW
    * fact rows join the dimension (the delta scan prunes on the
    * pushed cutoff predicate — partition pruning to the new days on
    * a date-partitioned lake), aggregate to the same (nation, year)
    * partial layout, and merge with the stale summary on the MV
    * keys. The base fact table is NEVER rescanned and the dimension
    * is joined only against the delta — at 100 TB that is the
    * difference between a nightly full star recompute and a
    * new-days-only join. Insert-only deltas keep SUM/COUNT partials
    * associative, so refresh(stale, delta) is bit-identical to the
    * full star recompute — which IS the oracle. (Dimension-side
    * changes are a different maintenance problem — they touch every
    * group the changed dim rows feed — and stay out of scope here,
    * documented not hidden.) */
  def qMvStarRefresh(s: SparkSession, dir: String): DataFrame = {
    val stale = s.read.parquet(ensureStaleStarMv(s, dir))
    val delta = starPartials(s, dir,
      col("o_orderdate") >= lit(mvRefreshCutoff).cast(TimestampType))
    stale.unionByName(delta)
      .groupBy("c_nationkey", "yr")
      .agg(sum(col("rev_cents")).as("rev_cents"),
        sum(col("n_orders")).as("n_orders"))
      .orderBy("c_nationkey", "yr")
  }

  val qMvStarRefreshSql: String =
    """SELECT c_nationkey, CAST(year(o_orderdate) AS INT) AS yr,
      |  CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(14,2)) * 100
      |    AS BIGINT)) AS BIGINT) AS rev_cents,
      |  COUNT(*) AS n_orders
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** MV rewrite under a HAVING — the post-aggregate filter served
    * entirely from summaries: the year-grain aggregate rollup-matches
    * the month MV, the global order count (the HAVING's comparison
    * side) ALSO answers from the MV (a global COUNT(*) is the empty
    * grouping set — still a subset of the MV keys), and the HAVING
    * itself filters the re-aggregated k rows. The executed plan scans
    * NOTHING but the summary — the oracle runs the raw HAVING SQL.
    * The threshold is structural, not tuned: n_orders·8 > total keeps
    * exactly the full calendar years and drops the partial final year
    * at every scale factor (a full year is ~1/6.55 of the corpus, the
    * partial year ~0.55 of that). */
  def qMvHaving(s: SparkSession, dir: String): DataFrame = {
    ensureMonthMv(s, dir)
    val total = Tables.load(s, dir, "orders")
      .agg(count(lit(1)).as("total"))
    Tables.load(s, dir, "orders")
      .groupBy(year(col("o_orderdate")).as("yr"))
      .agg(sum(expr(centsExpr)).as("rev_cents"),
        count(lit(1)).as("n_orders"))
      .crossJoin(broadcast(total))
      .filter(col("n_orders") * 8 > col("total"))
      .select("yr", "rev_cents", "n_orders")
      .orderBy("yr")
  }

  val qMvHavingSql: String =
    """SELECT CAST(year(o_orderdate) AS INT) AS yr,
      |  CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(14,2)) * 100
      |    AS BIGINT)) AS BIGINT) AS rev_cents,
      |  COUNT(*) AS n_orders
      |FROM orders GROUP BY 1
      |HAVING COUNT(*) * 8 > (SELECT COUNT(*) FROM orders)
      |ORDER BY 1""".stripMargin

  /** Summary-advisor run over the signature dashboard workload — the
    * step BEFORE anyone registers an MV (plans/MvAdvisor.scala): the
    * year-grain, month-grain and filtered-year dashboards yield two
    * candidate grains; {year} serves two of the three queries (the
    * filtered year rides selection subsumption), {year, month}
    * serves all three and is recommended as the smallest
    * full-coverage summary. The oracle replays the derivation rule:
    * grain cardinalities and compression from raw SQL, served/
    * recommended from the same subset logic stated as literals (the
    * etl_wap audit-decision pattern). The spec closes the loop:
    * registering the recommendation makes every workload plan
    * answer from it. */
  /** The signature dashboard workload the advisor examines — shared
    * verbatim by q_mv_advisor (the recommendation artifact) and
    * q_mv_auto (the recommendation ACTED ON): the year dashboard, the
    * month dashboard, and the filtered-year dashboard. */
  private[graft] def advisorWorkload(s: SparkSession, dir: String): Seq[DataFrame] = {
    val base = Tables.load(s, dir, "orders")
    Seq(
      base.groupBy(year(col("o_orderdate")).as("yr"))
        .agg(sum(expr(centsExpr)).as("rev_cents"),
          count(lit(1)).as("n_orders")),
      base.groupBy(year(col("o_orderdate")).as("yr"),
          month(col("o_orderdate")).as("mo"))
        .agg(sum(expr(centsExpr)).as("rev_cents"),
          count(lit(1)).as("n_orders")),
      base.filter(year(col("o_orderdate")).between(1996, 1998))
        .groupBy(year(col("o_orderdate")).as("yr"))
        .agg(sum(expr(centsExpr)).as("rev_cents"),
          count(lit(1)).as("n_orders")))
  }

  def qMvAdvisor(s: SparkSession, dir: String): DataFrame =
    graft.plans.MvAdvisor.advise(Tables.load(s, dir, "orders"),
      advisorWorkload(s, dir))

  /** AutoMV — advise → materialize → register, MACHINE-driven end to
    * end (VERDICT r10 #8; Redshift AutoMV's loop): the advisor's
    * recommendIndex picks the smallest full-coverage workload grain,
    * the loop publishes it once per corpus fingerprint and registers
    * the RAW (rewrite-suspended) definition, and from that point the
    * whole workload re-plans onto the summary with no human in the
    * loop. Returns the published path. */
  private[graft] def ensureAutoMv(s: SparkSession, dir: String): String = {
    val wl = advisorWorkload(s, dir)
    val i = graft.plans.MvAdvisor.recommendIndex(wl).getOrElse(
      throw new IllegalStateException(
        "AutoMV: no full-coverage candidate — refusing to materialize a partial summary"))
    val defn = graft.plans.MvAdvisor.definitionOf(wl(i)).getOrElse(
      throw new IllegalStateException(
        "AutoMV: recommended workload query is not an Aggregate"))
    // the publish path is keyed by CORPUS fingerprint AND definition
    // canonical-text hash: the recommendation is DERIVED from the
    // workload, so unlike the fixed named definitions (ensureMv…), a
    // workload edit can change it within one corpus — without the
    // definition key, publish would skip on the existing artifact
    // and register the new definition against the STALE summary
    val tag = corpusTag(dir, Seq("orders"))
    // cryptographic digest, not String.hashCode: a 32-bit collision
    // between two recommended definitions on the same corpus would
    // recreate exactly the stale-summary registration this key exists
    // to prevent
    val defTag = java.security.MessageDigest.getInstance("SHA-256")
      .digest(defn.canonicalized.toString.getBytes("UTF-8"))
      .take(8).map(b => f"$b%02x").mkString
    val path = s"/tmp/graft_mv_auto_${defTag}_$tag.parquet"
    // publishing the (possibly already-rewritten) frame is fine — its
    // ROWS are the summary either way; the catalog key must come from
    // the raw definition
    graft.Artifacts.publish(path, None)(wl(i).write.parquet(path))
    graft.plans.MvCatalog.register(defn, path)
    path
  }

  /** The AutoMV loop observed from the outside: after ensureAutoMv,
    * the YEAR dashboard (a grain nobody materialized by hand) is
    * answered from the auto-registered (year, month) summary by grain
    * rollup — the oracle runs the raw year SQL over orders, so the
    * machine-chosen summary must be invisible in the answer, and the
    * spec asserts the executed plan scans the graft_mv_auto parquet
    * and never the fact table. */
  def qMvAuto(s: SparkSession, dir: String): DataFrame = {
    ensureAutoMv(s, dir)
    advisorWorkload(s, dir).head.orderBy("yr")
  }

  val qMvAutoSql: String =
    """SELECT CAST(year(o_orderdate) AS INT) AS yr,
      |  CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(14,2)) * 100
      |    AS BIGINT)) AS BIGINT) AS rev_cents,
      |  COUNT(*) AS n_orders
      |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin

  val qMvAdvisorSql: String =
    """WITH b AS (SELECT CAST(COUNT(*) AS BIGINT) AS base_rows FROM orders),
      |g1 AS (SELECT CAST(COUNT(*) AS BIGINT) AS mv_rows FROM
      |  (SELECT DISTINCT year(o_orderdate) FROM orders)),
      |g2 AS (SELECT CAST(COUNT(*) AS BIGINT) AS mv_rows FROM
      |  (SELECT DISTINCT year(o_orderdate), month(o_orderdate) FROM orders))
      |SELECT 1 AS grain_keys, b.base_rows, g1.mv_rows,
      |  2 AS queries_served, 0 AS recommended,
      |  CAST(g1.mv_rows * 1000000 // b.base_rows AS BIGINT)
      |    AS compression_ppm
      |FROM b, g1
      |UNION ALL
      |SELECT 2, b.base_rows, g2.mv_rows, 3, 1,
      |  CAST(g2.mv_rows * 1000000 // b.base_rows AS BIGINT)
      |FROM b, g2
      |ORDER BY 1""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_mv_auto" -> (qMvAuto _),
    "q_mv_advisor" -> (qMvAdvisor _),
    "q_mv_star_refresh" -> (qMvStarRefresh _),
    "q_mv_having" -> (qMvHaving _),
    "q_mv_choice" -> (qMvChoice _),
    "q_mv_retract" -> (qMvRetract _),
    "q_mv_star" -> (qMvStar _),
    "q_mv_rewrite" -> (qMvRewrite _),
    "q_mv_rollup" -> (qMvRollup _),
    "q_mv_filter" -> (qMvFilter _),
    "q_mv_refresh" -> (qMvRefresh _),
    "q_skew_join" -> (qSkewJoin _),
    "q_bucket_join" -> (qBucketJoin _),
    "q_partition_prune" -> (qPartitionPrune _),
    "q_zorder_prune" -> (qZorderPrune _),
    "q_bloom_join" -> (qBloomJoin _))

  val oracles: Map[String, String] = Map(
    "q_mv_auto" -> qMvAutoSql,
    "q_mv_advisor" -> qMvAdvisorSql,
    "q_mv_star_refresh" -> qMvStarRefreshSql,
    "q_mv_having" -> qMvHavingSql,
    // whichever registered summary the cost choice answers from, the
    // result must equal the raw year-grain aggregate — q_mv_rollup's
    // oracle covers it by design
    "q_mv_choice" -> qMvRollupSql,
    "q_mv_retract" -> qMvRetractSql,
    "q_mv_star" -> qMvStarSql,
    "q_mv_rewrite" -> qMvRewriteSql,
    "q_mv_rollup" -> qMvRollupSql,
    "q_mv_filter" -> qMvFilterSql,
    "q_mv_refresh" -> qMvRefreshSql,
    "q_skew_join" -> qSkewJoinSql,
    "q_bucket_join" -> qBucketJoinSql,
    "q_partition_prune" -> qPartitionPruneSql,
    "q_zorder_prune" -> qZorderPruneSql,
    "q_bloom_join" -> qBloomJoinSql)
}
