package graft

import java.time.{DayOfWeek, LocalDate}

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.operators.SeriesOps

class SeriesSpec extends AnyFunSuite {
  import TestSpark._

  test("q_business_days equals a brute-force weekday walk") {
    val got = SeriesOps.qBusinessDays(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    val rows = spark.sql(
      s"""SELECT o_orderpriority, to_date(o_orderdate) AS od,
         |  to_date(l_shipdate) AS sd
         |FROM parquet.`$sf/lineitem.parquet`
         |JOIN parquet.`$sf/orders.parquet` ON l_orderkey = o_orderkey
         |""".stripMargin)
      .collect()
      .map(r => (r.getString(0), r.getDate(1).toLocalDate,
        r.getDate(2).toLocalDate))
    // semantics under test: SIGNED weekday (Mon-Fri) count in
    // [orderdate, shipdate) — the synthetic fixture ships some lines
    // before their order date, and the closed form is signed there
    def walk(a: LocalDate, b: LocalDate): Long = {
      def fwd(x: LocalDate, y: LocalDate): Long =
        Iterator.iterate(x)(_.plusDays(1)).takeWhile(_.isBefore(y))
          .count(d => d.getDayOfWeek != DayOfWeek.SATURDAY &&
            d.getDayOfWeek != DayOfWeek.SUNDAY).toLong
      if (!b.isBefore(a)) fwd(a, b) else -fwd(b, a)
    }
    val exp = rows.groupBy(_._1).map { case (p, rs) =>
      val bd = rs.map { case (_, od, sd) => walk(od, sd) }
      p -> (rs.size.toLong, bd.sum, bd.min, bd.max,
        bd.sum * 1000L / rs.size)
    }
    assert(got == exp)
    assert(got.values.exists(_._2 > 0), "fixture must have positive lags")
  }

  test("q_seasonality replays the ppm index in BigInt") {
    val got = SeriesOps.qSeasonality(spark, sf).collect()
      .map(r => r.getLong(0).toInt ->
        (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    val rows = spark.sql(
      s"""SELECT (datediff(to_date(o_orderdate), date'1970-01-01') + 4) % 7,
         |  cast(cast(o_totalprice as decimal(14,2)) * 100 as bigint)
         |FROM parquet.`$sf/orders.parquet`""".stripMargin)
      .collect().map(r => (r.getInt(0), r.getLong(1)))
    val byDow = rows.groupBy(_._1)
    val nt = BigInt(rows.size)
    val st = rows.map(r => BigInt(r._2)).sum
    val exp = byDow.map { case (d, rs) =>
      val n = BigInt(rs.size)
      val cents = rs.map(r => BigInt(r._2)).sum
      d -> (rs.size.toLong, cents.toLong,
        ((cents * nt * 1000000) / (n * st)).toLong)
    }
    assert(got == exp)
    assert(got.size == 7, "every weekday must appear in the fixture")
  }

  test("q_inventory_aging equals a sequential FIFO consumer") {
    val got = SeriesOps.qInventoryAging(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    val mv = spark.sql(
      s"""SELECT l_partkey, to_date(l_shipdate) AS day, l_returnflag,
         |  cast(cast(l_quantity as decimal(12,2)) as bigint) AS qty
         |FROM parquet.`$sf/lineitem.parquet`""".stripMargin)
      .collect()
      .map(r => (r.getLong(0), r.getDate(1).toLocalDate, r.getString(2),
        r.getLong(3)))
    val asof = mv.map(_._2).maxBy(_.toEpochDay)
    // per part: receipts in day order as (day, qty) layers at
    // (part, day) grain, then consume FIFO by the part's TOTAL issues
    case class Layer(part: Long, day: LocalDate, remaining: Long)
    val layers = mv.groupBy(_._1).toSeq.flatMap { case (part, rs) =>
      val rec = rs.filter(_._3 == "R").groupBy(_._2).view
        .mapValues(_.map(_._4).sum).toSeq.sortBy(_._1.toEpochDay)
      var toConsume = rs.filter(_._3 != "R").map(_._4).sum
      rec.map { case (day, qty) =>
        val eaten = math.min(qty, math.max(0L, toConsume))
        toConsume -= eaten
        Layer(part, day, qty - eaten)
      }.filter(_.remaining > 0)
    }
    val exp = layers.groupBy(l =>
        (asof.toEpochDay - l.day.toEpochDay) / SeriesOps.agingBucketDays)
      .map { case (b, ls) =>
        b -> (ls.size.toLong, ls.map(_.part).distinct.size.toLong,
          ls.map(_.remaining).sum)
      }
    assert(got == exp)
    assert(got.size > 1, "fixture must span multiple age buckets")
  }

  test("q_autocorr replays the trading-day ACF from sufficient stats") {
    val got = SeriesOps.qAutocorr(spark, sf).collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val daily = spark.sql(
      s"""SELECT to_date(o_orderdate) AS day, count(*) AS c
         |FROM parquet.`$sf/orders.parquet` GROUP BY 1 ORDER BY 1"""
        .stripMargin)
      .collect().map(_.getLong(1))
    val exp = (1 to SeriesOps.acfMaxLag).map { k =>
      val pairs = daily.dropRight(k).zip(daily.drop(k))
      val n = pairs.size.toDouble
      def d(b: BigInt) = b.toDouble
      val sx = d(pairs.map(p => BigInt(p._1)).sum)
      val sy = d(pairs.map(p => BigInt(p._2)).sum)
      val sxx = d(pairs.map(p => BigInt(p._1) * BigInt(p._1)).sum)
      val syy = d(pairs.map(p => BigInt(p._2) * BigInt(p._2)).sum)
      val sxy = d(pairs.map(p => BigInt(p._1) * BigInt(p._2)).sum)
      val r = (n * sxy - sx * sy) /
        (math.sqrt(n * sxx - sx * sx) * math.sqrt(n * syy - sy * sy))
      k -> (pairs.size.toLong, r)
    }.toMap
    assert(got.keySet == exp.keySet)
    exp.foreach { case (k, (n, r)) =>
      assert(got(k)._1 == n, s"lag $k pair count")
      assert(got(k)._2 == r, s"lag $k acf (bitwise)")
    }
    assert(got.values.exists { case (_, r) => r.abs > 1e-6 },
      "fixture series must show some autocorrelation structure")
  }

  test("q_seasonal_decompose replays and reconstructs within truncation") {
    val got = SeriesOps.qSeasonalDecompose(spark, sf).collect()
      .map(r => r.getDate(0).toString ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    val daily = spark.sql(
      s"""SELECT to_date(o_orderdate) AS day,
         |  cast(sum(cast(o_totalprice as decimal(14,2)) * 100) as bigint)
         |    AS y
         |FROM parquet.`$sf/orders.parquet` GROUP BY 1 ORDER BY 1"""
        .stripMargin).collect()
      .map(r => (r.getDate(0).toLocalDate, r.getLong(1)))
    val h = 3
    val trended = daily.indices.drop(h).dropRight(h).map { i =>
      val win = daily.slice(i - h, i + h + 1).map(_._2)
      val trend = win.sum * 1000L / (2 * h + 1)
      (daily(i)._1, daily(i)._2, trend, daily(i)._2 * 1000L - trend)
    }
    val byDow = trended.groupBy(_._1.getDayOfWeek)
    val exp = trended.map { case (d, y, trend, detr) =>
      val ds = byDow(d.getDayOfWeek).map(_._4)
      val seasonal = {
        val s = ds.sum; val n = ds.size.toLong
        s / n // toward-zero like both engines (verified on negatives)
      }
      d.toString -> (y, trend, seasonal, detr - seasonal)
    }.toMap
    assert(got == exp)
    // the decomposition reconstructs EXACTLY: residual is defined as
    // detrended − seasonal, so trend + seasonal + residual = y·1000
    got.values.foreach { case (y, t, sea, res) =>
      assert(t + sea + res == y * 1000L)
    }
    // and the weekly cycle is really removed: every dow's residual
    // mean is near zero while some seasonal component is not
    assert(exp.values.exists(v => v._3.abs > 0L))
  }

  test("q_trend_slope equals a brute-force rolling OLS in BigInt") {
    val got = SeriesOps.qTrendSlope(spark, sf).collect()
      .map(r => (r.getString(0), r.getDate(1).toString) ->
        (r.getLong(2), r.getLong(3))).toMap
    val daily = spark.sql(
      s"""SELECT n_name, to_date(o_orderdate) AS day,
         |  cast(sum(cast(cast(o_totalprice as decimal(14,2)) * 100
         |    as bigint)) as bigint) AS y
         |FROM parquet.`$sf/orders.parquet`
         |JOIN parquet.`$sf/customer.parquet` ON o_custkey = c_custkey
         |JOIN parquet.`$sf/nation.parquet` ON c_nationkey = n_nationkey
         |GROUP BY 1, 2""".stripMargin)
      .collect()
      .map(r => (r.getString(0), r.getDate(1).toString, r.getLong(2)))
    val w = SeriesOps.trendW
    val sumX = BigInt(w * (w - 1) / 2)
    val den = BigInt(w * ((w - 1) * w * (2 * w - 1) / 6)) - sumX * sumX
    val exp = daily.groupBy(_._1).flatMap { case (nat, rs) =>
      val ys = rs.sortBy(_._2)
      ys.indices.drop(w - 1).map { t =>
        val win = ys.slice(t - w + 1, t + 1)
        // brute-force: x = 0..w-1 against the window's y values
        val sxy = win.zipWithIndex
          .map { case (r, x) => BigInt(x) * BigInt(r._3) }.sum
        val sy = win.map(r => BigInt(r._3)).sum
        val num = BigInt(w) * sxy - sumX * sy
        (nat, ys(t)._2) -> (ys(t)._3, (num * 1000 / den).toLong)
      }
    }
    assert(got == exp)
    // drift is detected in both directions somewhere on the fixture
    assert(got.values.exists(_._2 > 0) && got.values.exists(_._2 < 0))
  }

  test("q_runs_test counts monotone runs exactly and z replays bitwise") {
    val r = SeriesOps.qRunsTest(spark, sf).collect()
    assert(r.length == 1)
    val row = r.head
    // driver replay: day series in exact cents
    val days = Tables.load(spark, sf, "orders")
      .select(to_date(col("o_orderdate")).as("day"),
        expr("cast(cast(o_totalprice as decimal(14,2)) * 100 as bigint)")
          .as("c"))
      .collect().map(x => (x.getDate(0).toString, x.getLong(1)))
      .groupBy(_._1).map { case (d, g) => d -> g.map(x => BigInt(x._2)).sum }
      .toSeq.sortBy(_._1).map(_._2)
    val dirs = days.sliding(2).map { case Seq(a, b) =>
      if (b > a) 1 else -1 }.toSeq
    val runs = 1L + dirs.sliding(2).count {
      case Seq(a, b) => a != b; case _ => false }
    val n = days.length.toLong
    assert(row.getAs[Long]("n_days") == n)
    assert(row.getAs[Long]("runs") == runs)
    val z = (runs.toDouble - (2.0 * n.toDouble - 1.0) / 3.0) /
      math.sqrt((16.0 * n.toDouble - 29.0) / 90.0)
    assert(row.getAs[Double]("z") == z, "z (bitwise)")
    // a revenue series over random orders has MANY runs — the test
    // statistic must see a non-degenerate sequence
    assert(runs > 1L && runs <= n - 1L)
  }

  test("q_rolling_corr replays windowed Pearson with the variance guard") {
    import graft.operators.SeriesOps
    val rows = SeriesOps.qRollingCorr(spark, sf).collect()
    assert(rows.nonEmpty)
    // driver replay over one nation's full series
    val nation = rows.head.getString(0)
    val daily = Tables.load(spark, sf, "orders")
      .join(Tables.load(spark, sf, "customer"),
        col("o_custkey") === col("c_custkey"))
      .join(Tables.load(spark, sf, "nation"),
        col("c_nationkey") === col("n_nationkey"))
      .filter(col("n_name") === nation)
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(count(lit(1)).as("x"),
        expr("cast(sum(cast(o_totalprice as decimal(14,2)) * 100)" +
          " as bigint) div 100").as("y"))
      .orderBy("day").collect()
      .map(r => (r.getDate(0).toString, r.getLong(1), r.getLong(2)))
    val w = SeriesOps.rollCorrW
    val exp = daily.sliding(w).map { win =>
      val n = w.toDouble
      val sx = win.map(_._2).sum.toDouble
      val sy = win.map(_._3).sum.toDouble
      val sxx = win.map(t => t._2 * t._2).sum.toDouble
      val syy = win.map(t => t._3 * t._3).sum.toDouble
      val sxy = win.map(t => t._2 * t._3).sum.toDouble
      val vx = n * sxx - sx * sx
      val vy = n * syy - sy * sy
      win.last._1 -> (if (vx == 0.0 || vy == 0.0) None
        else Some((n * sxy - sx * sy) / (math.sqrt(vx) * math.sqrt(vy))))
    }.toMap
    val got = rows.filter(_.getString(0) == nation).map(r =>
      r.getDate(1).toString ->
        (if (r.isNullAt(4)) None else Some(r.getDouble(4)))).toMap
    assert(got == exp, "windowed r must replay bitwise incl. NULL guard")
    // non-vacuity: across ALL nations real correlations exist and
    // vary (a single tiny-sf nation can be all-NULL: constant daily
    // counts make r undefined — the guard's own case)
    val vals = rows.filterNot(_.isNullAt(4)).map(_.getDouble(4)).toSeq
    assert(vals.nonEmpty && vals.forall(v => v >= -1.0 - 1e-12 && v <= 1.0 + 1e-12))
    assert(vals.distinct.length > 1)
    assert(rows.exists(_.isNullAt(4)),
      "the zero-variance guard should fire somewhere at this sf")
  }

  test("q_rolling_corr's physical plan matches the frozen fingerprint behind its bench waiver") {
    // The bench carries a variance waiver for this key (its Key's
    // varianceNote: solo-run JIT-convergence spread diagnosed in r14
    // with the plan bit-identical across compilations). A waiver can
    // mask a REAL future plan regression, so the diagnosed plan is
    // frozen here as the operator sequence of the executed plan
    // (attr-id-free): any strategy flip, added exchange, or lost
    // codegen span must fail this test and force re-diagnosing the
    // waiver rather than hiding behind it.
    import graft.operators.SeriesOps
    val plan = SeriesOps.qRollingCorr(spark, sf)
      .queryExecution.executedPlan
    def names(p: org.apache.spark.sql.execution.SparkPlan): Seq[String] =
      p match {
        // AQE root holds its (pre-execution: initial) plan in a field,
        // not in children — descend explicitly or the walk sees 1 node
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          p.nodeName +: names(a.executedPlan)
        case _ => p.nodeName +: p.children.flatMap(names)
      }
    val got = names(plan)
      // WholeStageCodegen carries a running id; normalize it away
      .map(n => if (n.startsWith("WholeStageCodegen")) "WholeStageCodegen" else n)
    // The diagnosed shape: one range sort for output order, the
    // 7-day-window Pearson pair (two Window passes over one nation
    // exchange), the daily collapse, the orders⨝customer shuffled
    // join with nation broadcast — 6 shuffle exchanges, no cartesian
    val frozen = Seq(
      "AdaptiveSparkPlan",
      "Sort", "Exchange",
      "Project", "Project", "Filter", "Window", "Project", "Window",
      "Sort", "Exchange",
      "HashAggregate", "Exchange", "HashAggregate",
      "Project", "BroadcastHashJoin",
      "Project", "ShuffledHashJoin",
      "Exchange", "Filter", "Scan parquet ",
      "Exchange", "Filter", "Scan parquet ",
      "BroadcastExchange", "Filter", "Scan parquet ")
    assert(got == frozen,
      s"q_rolling_corr plan fingerprint changed — re-diagnose the bench " +
        s"variance waiver before accepting this plan.\nGot:\n${got.mkString("\n")}")
  }
}
