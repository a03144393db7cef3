package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, expr}
import org.scalatest.funsuite.AnyFunSuite

object TestSpark {
  lazy val spark: SparkSession = {
    val s = Tables.configure(SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.warehouse.dir", tempDir("graft-wh").toString)
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    // as in Tables.withSession: Spark's INFO records would bury the
    // suite's results
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sf: String = "/root/testdata/sf0.001"

  /** One per-JVM root for every spec's scratch dirs, deleted when the
    * test JVM exits. */
  private lazy val scratch: java.nio.file.Path = {
    val root = java.nio.file.Files.createTempDirectory("graft-suite")
    Artifacts.deleteAtExit(root)
    root
  }

  private val tempDirs = new java.util.concurrent.atomic.AtomicInteger

  /** A fresh scratch dir `<prefix><n>` under the suite's root. The root
    * is already unique, so the name takes a counter rather than a
    * random long: a file path under it must stay short enough to show
    * whole in a plan string's 100-character metadata field, which
    * specs search for the file a scan reads. */
  def tempDir(prefix: String): java.nio.file.Path =
    java.nio.file.Files.createDirectory(scratch.resolve(prefix + tempDirs.incrementAndGet()))

  /** Every node of an executed plan, descending through the leaf-like
    * wrappers `collect` stops at: AdaptiveSparkPlanExec holds the
    * current adaptive plan, QueryStageExec holds a materialized
    * stage's subtree, ReusedExchangeExec points at the reused child. */
  def allNodes(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = {
    import org.apache.spark.sql.execution.ReusedSubqueryExec
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    val below = p match {
      case a: AdaptiveSparkPlanExec => allNodes(a.executedPlan)
      case q: QueryStageExec => allNodes(q.plan)
      case r: ReusedExchangeExec => allNodes(r.child)
      case r: ReusedSubqueryExec => allNodes(r.child)
      case _ => p.children.flatMap(allNodes)
    }
    p +: below
  }
}

class RelationalSpec extends AnyFunSuite {
  import TestSpark._

  test("entry flagship returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("all queries run non-empty at sf0.001 with stable schemas") {
    SparkEntry.queries.foreach { case (name, fn) =>
      val df = fn(spark, sf)
      val n = df.count()
      assert(n > 0, s"$name returned no rows")
      assert(df.columns.distinct.length == df.columns.length,
        s"$name has duplicate column names")
    }
  }

  test("q1_agg groups are the 6 returnflag/linestatus combos") {
    val rows = operators.Relational.q1Agg(spark, sf).collect()
    assert(rows.length >= 3 && rows.length <= 8)
    val counts = rows.map(_.getAs[Long]("count_order")).sum
    // sf0.001 has ~6k lineitems; the shipdate filter keeps ~half
    assert(counts > 1000 && counts <= 6000)
  }

  test("q_approx_distinct stays within the HLL error bound") {
    val approx = operators.Relational.qApproxDistinct(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = Tables.load(spark, sf, "lineitem")
      .groupBy("l_returnflag")
      .agg(org.apache.spark.sql.functions.countDistinct(
        org.apache.spark.sql.functions.col("l_orderkey")).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    approx.foreach { case (k, a) =>
      val e = exact(k)
      assert(math.abs(a - e).toDouble / e < 0.1,
        s"HLL estimate $a too far from exact $e for $k")
    }
  }

  test("q_approx_percentile stays within rank-error of the exact quantiles") {
    val approx = operators.Relational.qApproxPercentile(spark, sf).collect()
      .map(r => r.getString(0) -> Seq(r.getDouble(1), r.getDouble(2), r.getDouble(3)))
      .toMap
    val exact = operators.Relational.qPercentile(spark, sf).collect()
      .map(r => r.getString(0) -> Seq(r.getDouble(1), r.getDouble(2), r.getDouble(3)))
      .toMap
    assert(approx.keySet == exact.keySet && approx.nonEmpty)
    // accuracy 10000 bounds rank error at 1/10000; at fixture size
    // that means the sketch answer must land within a whisker of the
    // exact interpolated quantile — assert a conservative 2% value
    // tolerance (the sketch returns an actual sample, the exact form
    // interpolates between two)
    approx.foreach { case (k, as) =>
      as.zip(exact(k)).foreach { case (a, e) =>
        assert(math.abs(a - e) / math.abs(e) < 0.02,
          s"approx quantile $a too far from exact $e for group $k")
      }
    }
  }

  test("q_semi_anti partitions the customer table") {
    val m = operators.Relational.qSemiAnti(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val total = Tables.load(spark, sf, "customer").count()
    assert(m.values.sum == total)
  }

  test("q_gap_fill emits a contiguous daily spine with LOCF values") {
    val rows = operators.Relational.qGapFill(spark, sf).collect()
      .map(r => (r.getLong(0), r.getDate(1).toLocalDate,
        r.getLong(2), Option(r.get(3)).map(_.asInstanceOf[Double])))
    val byUser = rows.groupBy(_._1)
    // spine completeness: per user exactly (last-first+1) contiguous days
    byUser.foreach { case (u, rs) =>
      val days = rs.map(_._2).sorted
      val span = java.time.temporal.ChronoUnit.DAYS
        .between(days.head, days.last) + 1
      assert(days.length.toLong == span, s"user $u spine has holes")
      assert(days.distinct.length == days.length, s"user $u duplicate days")
    }
    // gaps were actually filled and carry the last observed value
    assert(rows.exists(_._3 == 0L), "no zero-filled gap days at fixture sf")
    byUser.values.foreach { rs =>
      var lastV: Option[Double] = None
      rs.sortBy(_._2.toEpochDay).foreach { case (_, _, n, v) =>
        if (n == 0L) assert(v == lastV, "gap day does not carry prior value")
        else { assert(v.isDefined); lastV = v }
      }
    }
    // active-day totals reconcile with the raw event count
    val active = rows.filter(_._3 > 0L).map(_._3).sum
    assert(active == Tables.load(spark, sf, "events").count())
  }

  test("q_retention_cohort counts every cohort user at offset zero") {
    val rows = operators.Relational.qRetentionCohort(spark, sf).collect()
      .map(r => (r.getDate(0).toLocalDate, r.getInt(1), r.getLong(2)))
    assert(rows.nonEmpty && rows.forall(_._2 >= 0))
    // offset 0 per cohort = cohort size; every later offset can only
    // retain a subset; cohort sizes sum to the distinct-user total
    val byCohort = rows.groupBy(_._1)
    byCohort.foreach { case (c, rs) =>
      val zero = rs.find(_._2 == 0)
      assert(zero.isDefined, s"cohort $c missing offset 0")
      rs.foreach { case (_, _, n) => assert(n <= zero.get._3) }
    }
    val users = Tables.load(spark, sf, "events")
      .select(col("user_id")).distinct().count()
    assert(byCohort.values.map(_.find(_._2 == 0).get._3).sum == users)
  }

  test("q_json_table shreds typed fields and NULLs missing keys") {
    val rows = operators.Relational.qJsonTable(spark, sf).collect()
    assert(rows.length == Tables.load(spark, sf, "events").count())
    rows.foreach { r =>
      val id = r.getAs[Long]("event_id")
      assert(r.getAs[Int]("n_tags") == 2)
      assert(r.getAs[String]("tag0") == s"t${id % 3}")
      if (id % 7 == 0) {
        // the omitted nested object surfaces as typed NULLs, not a crash
        assert(r.getAs[Boolean]("geo_missing"))
        assert(r.isNullAt(r.fieldIndex("zone")))
        assert(r.isNullAt(r.fieldIndex("grid1")))
      } else {
        assert(!r.getAs[Boolean]("geo_missing"))
        assert(r.getAs[Int]("zone") == (id % 10).toInt)
        assert(r.getAs[Int]("grid1") == (id % 6).toInt)
      }
    }
  }

  test("q_latest_per_key aggregates, never sorts-and-ranks") {
    val df = operators.Relational.qLatestPerKey(spark, sf)
    // the whole point of the operator: no Window (O(corpus sort));
    // the plan must be a HashAggregate over the struct max
    val nodes = TestSpark.allNodes(df.queryExecution.executedPlan)
    assert(!nodes.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.window.WindowExec]),
      "latest-per-key must not lower to a window sort")
    // correctness: per customer, the returned order IS their max
    val got = df.collect().map(r => r.getAs[Long]("o_custkey") ->
      (String.valueOf(r.getAs[Any]("last_orderdate")),
        r.getAs[Long]("last_orderkey"))).toMap
    val expect = Tables.load(spark, sf, "orders")
      .select("o_custkey", "o_orderdate", "o_orderkey").collect()
      .groupBy(_.getLong(0))
      .map { case (k, rs) =>
        k -> rs.map(r => (String.valueOf(r.get(1)), r.getLong(2))).max }
    assert(got == expect)
  }

  test("q_histogram buckets cover every order exactly once") {
    val rows = operators.Relational.qHistogram(spark, sf).collect()
    val total = rows.map(_.getAs[Long]("n")).sum
    assert(total == Tables.load(spark, sf, "orders").count())
    rows.foreach { r =>
      val b = r.getAs[Long]("bucket")
      assert(r.getAs[Double]("min_price") >= b * 25000.0)
      assert(r.getAs[Double]("max_price") < (b + 1) * 25000.0)
    }
  }

  test("q_json_table never shuffles the shred itself") {
    val plan = operators.Relational.qJsonTable(spark, sf).queryExecution
      .executedPlan
    val shuffles = TestSpark.allNodes(plan).count(
      _.isInstanceOf[org.apache.spark.sql.execution.exchange.ShuffleExchangeExec])
    // only the low-split-source spread exchange (Tables.spread — a
    // no-op on wide sources); the parse+project runs above it with no
    // further shuffle
    assert(shuffles <= 1, s"json shred should be scan-side, saw $shuffles shuffles")
  }

  test("q_asof_interpolate gap values sit exactly between neighbors") {
    val got = operators.Relational.qAsofInterpolate(spark, sf).collect()
      .map(r => (r.getLong(0), r.getDate(1).toLocalDate.toEpochDay,
        r.getBoolean(2), r.getDouble(3)))
    assert(got.nonEmpty && got.exists(!_._3), "no gaps at fixture sf")
    got.groupBy(_._1).foreach { case (u, rows) =>
      val sorted = rows.sortBy(_._2)
      // spine endpoints are observed by construction
      assert(sorted.head._3 && sorted.last._3, s"user $u spine endpoint gap")
      // walk gaps: each must equal the exact linear formula between
      // its surrounding observations
      val obs = sorted.filter(_._3)
      sorted.filterNot(_._3).foreach { case (_, d, _, v) =>
        val (pd, pv) = { val p = obs.filter(_._2 < d).last; (p._2, p._4) }
        val (nd, nv) = { val n = obs.find(_._2 > d).get; (n._2, n._4) }
        val want = pv + (nv - pv) * (d - pd) / (nd - pd)
        assert(v == want, s"user $u day $d: $v != $want")
      }
    }
  }

  test("q_pagerank equals a driver-side exact integer replay") {
    val got = operators.Relational.qPagerank(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    val keys = Tables.load(spark, sf, "orders").select("o_orderkey")
      .collect().map(_.getLong(0))
    def parent(k: Long): Long = if (k > 0) (k * 48271L % 8191L) % k else 0L
    var r = keys.map(k => k -> 1000000000000L).toMap
    (1 to 3).foreach { _ =>
      val contrib = keys.filter(_ > 0).groupBy(parent)
        .view.mapValues(_.map(r).sum).toMap
      r = keys.map(k =>
        k -> (150000000000L + contrib.getOrElse(k, 0L) * 85 / 100)).toMap
    }
    assert(got.length == keys.length)
    got.foreach { case (k, v) => assert(v == r(k), s"key $k: $v != ${r(k)}") }
    // hub nodes accumulated real mass — the iteration did something
    assert(got.map(_._2).max > 1000000000000L * 2)
  }

  test("q_heavy_hitters honors both Misra-Gries guarantees") {
    val got = operators.Relational.qHeavyHitters(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val k = operators.Relational.heavyK
    assert(got.length <= k)
    // exact reference counts of the same derived key stream
    val keys = Tables.load(spark, sf, "lineitem").select("l_orderkey")
      .collect().map(_.getLong(0))
      .map(o => if (o % 4 < 2) s"hot_${o % 3}" else o.toString)
    val exact = keys.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val bound = keys.length.toLong / (k + 1)
    // (1) kept estimates never overcount and undercount by <= n/(k+1)
    got.foreach { case (item, est) =>
      val t = exact(item)
      assert(est <= t && t - est <= bound, s"$item: est $est vs true $t")
    }
    // (2) every true heavy hitter above the threshold survived
    val mustKeep = exact.filter(_._2 > bound).keySet
    val kept = got.map(_._1).toSet
    assert(mustKeep.subsetOf(kept),
      s"lost heavy hitters: ${(mustKeep -- kept).toSeq.sorted}")
    // the fixture really has hot keys and a tail
    assert(mustKeep.nonEmpty && exact.size > k)
  }

  test("q_hierarchy depths equal a driver-side recursive walk") {
    val got = operators.Relational.qHierarchy(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    def parent(k: Long): Long = if (k > 0) (k * 48271L % 8191L) % k else 0L
    def depth(k: Long): Long = {
      var cur = k; var d = 0L
      while (cur > 0) { cur = parent(cur); d += 1 }
      d
    }
    assert(got.nonEmpty)
    got.foreach { case (k, d) => assert(d == depth(k), s"key $k: $d") }
    // the forest is non-trivially deep at fixture scale — the walk
    // had to iterate, not just look up a parent
    assert(got.map(_._2).max >= 4)
  }

  test("q_interval_merge islands are disjoint, exhaustive, and merged") {
    val got = operators.Relational.qIntervalMerge(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    got.groupBy(_._1).foreach { case (u, rows) =>
      val sorted = rows.sortBy(_._2)
      sorted.foreach { case (_, _, s, e, n) =>
        assert(s <= e && n >= 1, s"user $u has a degenerate island") }
      // successive islands are STRICTLY separated — a touching or
      // overlapping pair should have merged
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(b._3 > a._4, s"user $u islands overlap/touch: $a then $b")
        case _ =>
      }
    }
    // every event lands in exactly one island, and merging actually
    // happened at fixture scale
    val evCount = Tables.load(spark, sf, "events").count()
    assert(got.map(_._5).sum == evCount)
    assert(got.length < evCount, "no intervals merged at fixture sf")
  }

  test("q_group_concat is the SORTED distinct concat (deterministic)") {
    import graft.operators.Relational
    val got = Relational.qGroupConcat(spark, sf).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val cust = Tables.load(spark, sf, "customer").collect()
      .map(r => (r.getInt(2), r.getString(4)))
    val want = cust.groupBy(_._1).map { case (n, rows) =>
      val segs = rows.map(_._2).distinct.sorted
      (n, segs.mkString(","), segs.length.toLong, rows.length.toLong)
    }.toSeq.sortBy(_._1)
    assert(got.toSeq == want)
    // multiple segments per nation: the ordering discipline is real
    assert(got.exists(_._3 > 1))
  }

  test("q_window_dist_funcs replays driver-side for a sampled customer") {
    import graft.operators.Relational
    val got = Relational.qWindowDistFuncs(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3),
        if (r.isNullAt(4)) -1L else r.getLong(4)))
    val orders = Tables.load(spark, sf, "orders").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(3)))
    // the customer with the most orders exercises real rank spreads
    val ck = orders.groupBy(_._2).maxBy(_._2.size)._1
    val mine = orders.filter(_._2 == ck).sortBy(t => (t._3, t._1))
    val n = mine.length
    assert(n >= 3, "need a multi-order customer at fixture sf")
    val second = if (n >= 2) mine(1)._1 else -1L
    mine.zipWithIndex.foreach { case ((ok, _, _), i) =>
      val row = got.find(_._1 == ok).get
      // no price ties under the unique ordering -> rank == row number
      assert(row._3 == (if (n == 1) 0.0 else i.toDouble / (n - 1).toDouble))
      assert(row._4 == (i + 1).toDouble / n.toDouble)
      assert(row._5 == second)
    }
  }

  test("q_ohlc_bars picks deterministic open/close and bounds them") {
    import graft.operators.Relational
    val rows = Relational.qOhlcBars(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (o, h, l, c) = (r.getDouble(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5))
      assert(l <= o && o <= h && l <= c && c <= h,
        "open/close must lie inside [low, high]")
    }
    // driver replay of one bar: first/last by (ts, event_id)
    val ev = Tables.load(spark, sf, "events")
      .select(col("event_type"), expr("unix_micros(ts)").as("us"),
        col("event_id"), col("value")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val sample = rows.maxBy(_.getLong(6))
    val (et, bar) = (sample.getString(0), sample.getLong(1))
    val mine = ev.filter(e => e._1 == et && e._2 / 21600000000L == bar)
      .sortBy(e => (e._2, e._3))
    assert(mine.length == sample.getLong(6))
    assert(sample.getDouble(2) == mine.head._4, "open = first by (ts, id)")
    assert(sample.getDouble(5) == mine.last._4, "close = last by (ts, id)")
  }

  test("q_funnel_steps enforces strict ordering and matches a replay") {
    import graft.operators.Relational
    val rows = Relational.qFunnelSteps(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val v = r.getLong(1)
      if (!r.isNullAt(2)) assert(r.getLong(2) > v)
      if (!r.isNullAt(3)) { assert(!r.isNullAt(2)); assert(r.getLong(3) > r.getLong(2)) }
    }
    // full driver replay of the three-step walk
    val ev = Tables.load(spark, sf, "events")
      .select(col("user_id"), col("event_type"), expr("unix_micros(ts)").as("us"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val byUser = ev.groupBy(_._1)
    val want = byUser.flatMap { case (u, es) =>
      val v = es.filter(_._2 == "view").map(_._3).minOption
      v.map { vu =>
        val c = es.filter(e => e._2 == "click" && e._3 > vu).map(_._3).minOption
        val p = c.flatMap(cu =>
          es.filter(e => e._2 == "purchase" && e._3 > cu).map(_._3).minOption)
        (u, vu, c, p)
      }
    }.toSet
    val got = rows.map(r => (r.getLong(0), r.getLong(1),
      if (r.isNullAt(2)) None else Some(r.getLong(2)),
      if (r.isNullAt(3)) None else Some(r.getLong(3)))).toSet
    assert(got == want)
    // the funnel is exercised end to end: full conversions exist
    assert(got.exists(_._4.isDefined))
  }

  test("q_penny_allocation parts sum exactly to each order total") {
    import graft.operators.Relational
    val rows = Relational.qPennyAllocation(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(rows.nonEmpty)
    val totals = Tables.load(spark, sf, "orders")
      .select(col("o_orderkey"),
        expr("cast(cast(o_totalprice as decimal(12,2)) * 100 as bigint)")
          .as("cents"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val perOrder = rows.groupBy(_._1)
    perOrder.foreach { case (ok, allocs) =>
      assert(allocs.map(_._3).sum == totals(ok),
        s"order $ok allocations must sum exactly to its total")
    }
    // the correction is real: naive truncation alone would NOT sum up
    // for at least one order (leftover cents exist somewhere)
    val li = Tables.load(spark, sf, "lineitem")
      .select(col("l_orderkey"), col("l_quantity").cast("long")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val drifts = li.groupBy(_._1).count { case (ok, items) =>
      val qsum = items.map(_._2).sum
      val bases = items.map(i => totals(ok) * i._2 / qsum)
      bases.sum != totals(ok)
    }
    assert(drifts > 0, "fixture must exercise the remainder correction")
  }

  test("q_setops_all bag semantics match the multiplicity formulas") {
    val got = operators.Relational.qSetOpsAll(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    def multi(flag: String) = Tables.load(spark, sf, "lineitem")
      .filter(col("l_returnflag") === flag).select("l_partkey").collect()
      .map(_.getLong(0)).groupBy(identity).view.mapValues(_.size.toLong)
      .toMap.withDefaultValue(0L)
    val r = multi("R"); val a = multi("A")
    val keys = r.keySet ++ a.keySet
    assert(got("intersect_all") == keys.toSeq.map(k => math.min(r(k), a(k))).sum)
    assert(got("except_all") == keys.toSeq.map(k => math.max(0L, r(k) - a(k))).sum)
    assert(got("intersect_distinct") == keys.count(k => r(k) > 0 && a(k) > 0))
    assert(got("except_distinct") == keys.count(k => r(k) > 0 && a(k) == 0))
    // the fixture must make the bag/set gap visible
    assert(got("intersect_all") > got("intersect_distinct"))
    assert(got("except_all") > got("except_distinct"))
  }

  test("q_mode equals a driver-side frequency replay with min tie-break") {
    val got = graft.operators.Relational.qMode(spark, sf).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getAs[Number](3).longValue(),
          r.getLong(4), r.getLong(5))).toMap
    val rows = Tables.load(spark, sf, "customer")
      .select(col("c_mktsegment"), col("c_nationkey")).collect()
      .map(r => (r.getString(0), r.getAs[Number](1).longValue()))
    val exp = rows.groupBy(_._1).map { case (seg, rs) =>
      val freq = rs.groupBy(_._2).view.mapValues(_.size.toLong).toMap
      // mode = max count, ties to the SMALLEST value
      val (v, n) = freq.toSeq.minBy { case (value, cnt) => (-cnt, value) }
      seg -> (rs.size.toLong, freq.size.toLong, v, n,
        n * 1000000L / rs.size)
    }
    assert(got == exp)
  }

  test("q_bom_explosion replays the multiplicative path rollup") {
    val got = graft.operators.Relational.qBomExplosion(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    val parts = Tables.load(spark, sf, "part")
      .select(col("p_partkey"),
        expr("cast(cast(p_retailprice as decimal(12,2)) * 100 as bigint)"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    def parent(c: Long): Long = if (c > 0) (c * 48271L % 8191L) % c else 0L
    val walked = parts.map { case (k, cents) =>
      var cur = k
      var q = BigInt(1)
      while (parent(cur) != 0) { q *= 1 + cur % 3; cur = parent(cur) }
      (cur, q, cents)
    }
    walked.groupBy(_._1).foreach { case (root, rs) =>
      val exp = (rs.length.toLong, rs.map(_._2).sum.toLong,
        rs.map(r => r._2 * r._3).sum.toLong)
      assert(got(root) == exp, s"root $root")
    }
    assert(got.keySet == walked.map(_._1).toSet && got.nonEmpty)
  }

  test("q_window_groups matches per-row GROUPS-frame semantics") {
    val got = graft.operators.Relational.qWindowGroups(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
        r.getDate(3).toString, r.getLong(4), r.getLong(5))).sorted
    val li = spark.sql(
      s"""SELECT l_suppkey, l_orderkey, l_linenumber,
         |  to_date(l_shipdate) AS day,
         |  cast(cast(l_extendedprice as decimal(14,2)) * 100 as bigint)
         |FROM parquet.`$sf/lineitem.parquet`""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
        r.getDate(3).toString, r.getLong(4)))
    // (ok, ln) is NOT unique in the fixture — compare row multisets
    val exp = li.groupBy(_._1).toSeq.flatMap { case (supp, rows) =>
      val days = rows.map(_._4).distinct.sorted
      val dayIdx = days.zipWithIndex.toMap
      val byDay = rows.groupBy(_._4).view.mapValues(_.map(_._5).sum).toMap
      rows.map { case (_, ok, ln, day, cents) =>
        val g = dayIdx(day)
        // the GROUPS frame: this day's peer group + 2 preceding
        // distinct days that EXIST (gapped days don't count)
        val frame = days.slice(math.max(0, g - 2), g + 1).map(byDay).sum
        (supp, ok, ln, day, cents, frame)
      }
    }.sorted
    assert(got.length == exp.length)
    assert(got.sameElements(exp))
  }

  test("q_window_exclude matches brute-force exclusion semantics") {
    val got = graft.operators.Relational.qWindowExclude(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
        r.getDate(3).toString, r.getLong(4), r.getLong(5),
        Option(r.get(6)).map(_.asInstanceOf[Long]),
        Option(r.get(7)).map(_.asInstanceOf[Long]), r.getLong(8))).sorted
    val li = spark.sql(
      s"""SELECT l_suppkey, l_orderkey, l_linenumber,
         |  to_date(l_shipdate) AS day,
         |  cast(cast(l_extendedprice as decimal(14,2)) * 100 as bigint),
         |  datediff(to_date(l_shipdate), to_date('1970-01-01'))
         |FROM parquet.`$sf/lineitem.parquet`""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
        r.getDate(3).toString, r.getLong(4), r.getInt(5).toLong))
    val exp = li.groupBy(_._1).toSeq.flatMap { case (supp, rows) =>
      rows.map { case (_, ok, ln, day, cents, dn) =>
        // the direct definition: filter the frame, then exclude
        val frame = rows.filter(r => r._6 >= dn - 3 && r._6 <= dn)
        val f = frame.map(_._5).sum
        val g = frame.filter(_._6 == dn).map(_._5).sum
        def nz(v: Long): Option[Long] = if (v == 0) None else Some(v)
        (supp, ok, ln, day, cents, f, nz(f - cents), nz(f - g), f - g + cents)
      }
    }.sorted
    assert(got.length == exp.length)
    assert(got.sameElements(exp))
    // the exclusion is observable: some group has real peers
    assert(got.exists(r => r._7 != r._8))
  }

  test("q_window_ignore_nulls carries the last purchase forward exactly") {
    val rows = graft.operators.Relational.qWindowIgnoreNulls(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        if (r.isNullAt(3)) None else Some(r.getDouble(3)), r.getLong(4)))
    assert(rows.nonEmpty)
    // driver-side replay: walk each user's (ts, event_id) order
    val raw = Tables.load(spark, sf, "events")
      .select("user_id", "ts", "event_id", "event_type", "value")
      .collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2),
        r.getString(3), r.getDouble(4)))
    val exp = raw.groupBy(_._1).toSeq.flatMap { case (_, g) =>
      var last: Option[Double] = None
      var cnt = 0L
      // micros-exact order: Timestamp.getTime is millis-truncated
      g.sortBy(e => (e._2.getTime / 1000 * 1000000L +
          e._2.getNanos / 1000, e._3)).map { e =>
        if (e._4 == "purchase") { last = Some(e._5); cnt += 1 }
        e._3 -> ((last, cnt))
      }
    }.toMap
    assert(rows.length == raw.length)
    rows.foreach { case (eid, _, typ, lastPaid, sofar) =>
      val (expLast, expCnt) = exp(eid)
      assert(lastPaid == expLast, s"event $eid fill")
      assert(sofar == expCnt, s"event $eid running count")
      // at a purchase the fill equals the event's own value
      if (typ == "purchase") assert(lastPaid.isDefined)
    }
    // the fill is exercised: some user has events before any
    // purchase (NULL fill) and some carry a value forward
    assert(rows.exists(_._4.isEmpty) && rows.exists(r =>
      r._3 != "purchase" && r._4.nonEmpty))
  }

  test("q21_waiting replays the double-quantifier blame analysis") {
    import graft.operators.Relational
    val got = Relational.q21Waiting(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got.nonEmpty)
    val li = Tables.load(spark, sf, "lineitem")
      .select("l_orderkey", "l_suppkey", "l_shipdate").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getTimestamp(2)))
    val odate = Tables.load(spark, sf, "orders")
      .select("o_orderkey", "o_orderdate").collect()
      .map(r => r.getLong(0) -> r.getTimestamp(1)).toMap
    val flagged = li.filter(t => t._3.before(odate(t._1)))
      .map(t => (t._1, t._2))
    val suppsByOrder = li.groupBy(_._1).view
      .mapValues(_.map(_._2).toSet).toMap
    val flaggedByOrder = flagged.groupBy(_._1).view
      .mapValues(_.map(_._2).toSet).toMap
    val names = Tables.load(spark, sf, "supplier")
      .select("s_suppkey", "s_name").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val exp = flagged.filter { case (ok, sk) =>
      suppsByOrder(ok).exists(_ != sk) &&
        !flaggedByOrder(ok).exists(_ != sk)
    }.groupBy(t => names(t._2)).view.mapValues(_.length.toLong).toMap
    assert(got == exp, "numwait per supplier must replay exactly")
    // non-vacuity: the quantifiers actually prune — fewer waiting
    // lines than flagged lines, and multiple suppliers implicated
    assert(exp.values.sum < flagged.length)
    assert(got.size > 1)
  }

  test("q22_prospects replays the lapsed-wealthy rollup exactly") {
    import graft.operators.Relational
    val got = Relational.q22Prospects(spark, sf).collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got.nonEmpty)
    val cust = Tables.load(spark, sf, "customer")
      .select(col("c_custkey"), col("c_nationkey"),
        expr("cast(cast(c_acctbal as decimal(12,2)) * 100 as bigint)"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    val pos = cust.map(_._3).filter(_ > 0)
    val (s0, n0) = (pos.sum, pos.length.toLong)
    val cutoff = java.sql.Timestamp.valueOf("2000-01-01 00:00:00")
    val recent = Tables.load(spark, sf, "orders")
      .select("o_custkey", "o_orderdate").collect()
      .filter(!_.getTimestamp(1).before(cutoff))
      .map(_.getLong(0)).toSet
    val cand = cust.filter(c => c._3 * n0 > s0 && !recent(c._1))
    val exp = cand.groupBy(_._2).view.mapValues(g =>
      (g.length.toLong, g.map(_._3).sum)).toMap
    assert(got == exp, "per-nation prospect rollup must replay")
    // non-vacuity: the threshold AND the lapse filter each prune
    assert(cand.nonEmpty && cand.length < cust.length)
    assert(cust.count(c => c._3 * n0 > s0) > cand.length)
  }

  test("q_null_semantics: the NOT IN null trap fires, EXISTS forms " +
    "agree, and the quantifiers partition the table") {
    import graft.operators.Relational
    val got = Relational.qNullSemantics(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got.keySet == Set("not_in", "not_exists",
      "not_in_null_filtered", "in", "exists"))
    // the fixture really injects a NULL into the subquery (otherwise
    // the trap assertion below would be vacuous)
    val sub = Tables.load(spark, sf, "orders")
      .filter(col("o_orderstatus") === "F")
      .select(expr("case when o_orderkey % 97 = 0 then null " +
        "else o_custkey end").as("k")).collect()
    assert(sub.exists(_.isNullAt(0)), "no NULL in the subquery fixture")
    // ANSI: one NULL in the list makes NOT IN universally UNKNOWN
    assert(got("not_in") == 0L, "NOT IN over a NULL-bearing list")
    // the two correct complements agree
    assert(got("not_exists") == got("not_in_null_filtered"))
    // IN ignores the NULL entries entirely
    assert(got("in") == got("exists"))
    val nCust = Tables.load(spark, sf, "customer").count()
    assert(got("in") + got("not_exists") == nCust,
      "IN and NOT EXISTS must partition the table")
    assert(got("in") > 0 && got("not_exists") > 0, "both sides non-trivial")
    // the engine note is load-bearing: the NOT IN branch must plan a
    // null-aware anti join, which Spark can only execute broadcast
    // (BHJ with the null-aware flag, or the BNLJ fallback) — if a
    // future optimizer change silently planned a plain shuffled anti
    // join here, ANSI NOT IN semantics would be broken, not improved
    val df = Relational.qNullSemantics(spark, sf)
    df.collect()
    val nodes = TestSpark.allNodes(df.queryExecution.executedPlan)
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec}
    val naaj = nodes.exists {
      case b: BroadcastHashJoinExec => b.isNullAwareAntiJoin
      case b: BroadcastNestedLoopJoinExec =>
        b.joinType.sql.toUpperCase.contains("ANTI")
      case _ => false
    }
    assert(naaj, "NOT IN lost its null-aware anti join plan")
  }
}
