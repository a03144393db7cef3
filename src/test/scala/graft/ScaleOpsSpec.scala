package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.operators.Skew
import graft.sources.Bucketing
import graft.streaming.StreamOps

/** Scale-pattern operators: stateful streaming, bucketed co-located
  * joins, and skew salting — each proven exact against its
  * straightforward equivalent.
  */
class ScaleOpsSpec extends AnyFunSuite {
  import TestSpark._

  test("stream_user_state (mapGroupsWithState) equals batch groupBy") {
    val streamed = StreamOps.streamUserState(spark, sf).collect()
    val batch = StreamOps.batchUserState(spark, sf).collect()
    assert(streamed.length == batch.length && streamed.nonEmpty)
    streamed.zip(batch).foreach { case (s, b) =>
      assert(s.getLong(0) == b.getLong(0))
      assert(s.getLong(1) == b.getLong(1), s"count mismatch for user ${s.getLong(0)}")
      assert(s.getLong(2) == b.getLong(2), s"sum mismatch for user ${s.getLong(0)}")
    }
  }

  test("streaming state runs on the RocksDB state store (long-stream backend)") {
    // HDFS-backed state is heap-resident per executor; RocksDB spills
    // to local disk, which is the provider a long-running production
    // stream needs. Same queries, same answers, different backend.
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val streamed = StreamOps.streamUserState(spark, sf).collect()
      // the provider really reaches the child session the streaming
      // queries run on (conf is forwarded per call, not creation-time)
      assert(StreamOps.streamingSessionForTest(spark).conf.get(key)
        .contains("RocksDB"), "RocksDB provider not forwarded to streaming session")
      val batch = StreamOps.batchUserState(spark, sf).collect()
      assert(streamed.length == batch.length && streamed.nonEmpty)
      streamed.zip(batch).foreach { case (s, b) => assert(s == b) }
      val sessions = StreamOps.streamSessions(spark, sf).collect()
      val sessionsBatch = StreamOps.qSessionWindow(spark, sf)
        .select("user_id", "session_start_us", "session_end_us", "n_events")
        .collect()
      assert(sessions.length == sessionsBatch.length && sessions.nonEmpty)
      sessions.zip(sessionsBatch).foreach { case (s, b) => assert(s == b) }
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("bucketed join runs exchange-free on the bucket key") {
    val li = Tables.load(spark, sf, "lineitem")
      .select("l_orderkey", "l_quantity")
    val ord = Tables.load(spark, sf, "orders")
      .select("o_orderkey", "o_orderstatus")
    Bucketing.writeBucketed(li, "li_bucketed", "l_orderkey", 8)
    Bucketing.writeBucketed(ord, "ord_bucketed", "o_orderkey", 8)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = Bucketing.readTable(spark, "li_bucketed")
        .join(Bucketing.readTable(spark, "ord_bucketed"),
          col("l_orderkey") === col("o_orderkey"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"bucketed join still shuffles:\n$plan")
      // and it is still correct
      val expected = li.join(ord, col("l_orderkey") === col("o_orderkey")).count()
      assert(joined.count() == expected)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("salted aggregation and join are exact") {
    val ord = Tables.load(spark, sf, "orders")
    val plainCount = ord.groupBy("o_custkey").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val salted = Skew.saltedCount(ord, "o_custkey", factor = 8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(salted == plainCount)

    val cust = Tables.load(spark, sf, "customer")
      .select(col("c_custkey").as("o_custkey"), col("c_mktsegment"))
    val plainJoin = ord.join(cust, "o_custkey").count()
    val saltedJoin = Skew.saltedJoin(ord, cust, "o_custkey", factor = 8).count()
    assert(saltedJoin == plainJoin)
  }

  test("q_skew_join: salted plan, identical result to the plain join") {
    import graft.operators.ScaleJoins
    val df = ScaleJoins.qSkewJoin(spark, sf)
    // the join really shuffles on (key, salt) — the hot key spreads
    // across `factor` reducers instead of landing on one
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("__salt"), s"salt missing from plan:\n$plan")
    assert(plan.contains("ShuffledHashJoin") || plan.contains("SortMergeJoin"),
      s"salted join must take the shuffle path:\n$plan")
    val got = df.collect()
    val li = Tables.load(spark, sf, "lineitem")
    val dim = li.groupBy("l_returnflag")
      .agg(sum(col("l_quantity").cast("decimal(18,2)")).cast("double")
        .as("flag_total_qty"))
    val plain = li.join(dim, "l_returnflag")
      .groupBy("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("n"),
        sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"),
        max(col("flag_total_qty")).as("flag_total_qty"))
      .orderBy("l_returnflag", "l_linestatus")
      .collect()
    assert(got.nonEmpty && got.length == plain.length)
    got.zip(plain).foreach { case (g, p) => assert(g == p) }
  }

  test("q_bucket_join: join subtree is exchange-free on the bucket key") {
    import graft.operators.ScaleJoins
    val df = ScaleJoins.qBucketJoin(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    // the bucket layout carries the join: no shuffle on either join
    // key anywhere in the plan (the only Exchanges are the 3-group
    // aggregate and the final orderBy)
    assert(plan.contains("SortMergeJoin"), s"expected SMJ:\n$plan")
    assert(!plan.contains("hashpartitioning(l_orderkey") &&
      !plan.contains("hashpartitioning(o_orderkey"),
      s"bucketed join still shuffles its key:\n$plan")
    // and the result equals the plain join
    val plain = Tables.load(spark, sf, "lineitem")
      .join(Tables.load(spark, sf, "orders"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"),
        sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"))
      .orderBy("o_orderstatus")
      .collect()
    val got = df.collect()
    assert(got.nonEmpty && got.length == plain.length)
    got.zip(plain).foreach { case (g, p) => assert(g == p) }
  }

  test("q_partition_prune: the scan lists ONLY the filtered year's files") {
    import graft.operators.ScaleJoins
    val df = ScaleJoins.qPartitionPrune(spark, sf)
    // pruning happens at file-LISTING time: the predicate must ride in
    // the scan's PartitionFilters (not a post-scan Filter), and the
    // pruned scan must touch strictly fewer files than the layout holds
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: ["), s"no partition filters:\n$plan")
    assert("PartitionFilters: \\[[^\\]]*o_year".r.findFirstIn(plan).isDefined,
      s"o_year predicate not in PartitionFilters:\n$plan")
    // DataFrame.inputFiles reads the UNPRUNED FileIndex, so the proof
    // has to come from the scan node itself: selectedPartitions is the
    // post-pruning listing the executors will actually read
    val layout = spark.read.parquet(Artifacts.root("part_orders", sf))
    val all = layout.inputFiles.length
    val root = df.queryExecution.executedPlan match {
      // AdaptiveSparkPlanExec is a LEAF node — collect won't descend
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    val scan = root.collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.getOrElse(fail(s"no file scan in plan:\n$plan"))
    val pruned = scan.selectedPartitions.totalNumberOfFiles
    assert(scan.selectedPartitions.partitionCount == 1,
      s"expected 1 year partition, scanned ${scan.selectedPartitions.partitionCount}")
    assert(pruned < all, s"pruned listing ($pruned) not smaller than layout ($all)")
    // orders spans 1992-1998 → exactly one of 7 year partitions scanned
    assert(layout.select("o_year").distinct().count() == 7)
    // and the layout is invisible in the answer
    val plain = Tables.load(spark, sf, "orders")
      .filter(year(col("o_orderdate")) === 1996)
      .groupBy(month(col("o_orderdate")).as("o_month"))
      .agg(count(lit(1)).as("n"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("sum_price"))
      .orderBy("o_month")
      .collect()
    val got = df.collect()
    assert(got.length == 12 && got.length == plain.length)
    got.zip(plain).foreach { case (g, p) => assert(g == p) }
  }

  test("q_bloom_join: runtime bloom filter prunes the fact side pre-shuffle") {
    import graft.operators.ScaleJoins
    import org.apache.spark.sql.execution.FilterExec
    val baseThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val df = ScaleJoins.qBloomJoin(spark, sf)
    // the key's lowered thresholds live in ITS cloned session only
    assert(spark.conf.get("spark.sql.autoBroadcastJoinThreshold") == baseThreshold,
      "qBloomJoin leaked session conf into the shared session")
    val got = df.collect()
    // the injected filter sits on the fact side, keyed by the join key
    val nodes = TestSpark.allNodes(df.queryExecution.executedPlan)
    val bloomFilters = nodes.collect {
      case f: FilterExec if f.condition.toString.toLowerCase.contains("might_contain") => f
    }
    assert(bloomFilters.nonEmpty, "no bloom_filter_might_contain in the executed plan")
    assert(bloomFilters.exists(_.condition.toString.contains("l_orderkey")),
      "bloom filter not applied to the fact-side join key")
    // and it actually PRUNES: the filter's output is well under the
    // fact table (one of five priorities joins; bloom false positives
    // are a few percent on top)
    val liRows = Tables.load(spark, sf, "lineitem").count()
    val outRows = bloomFilters.map(_.metrics("numOutputRows").value).min
    assert(outRows > 0 && outRows < liRows / 2,
      s"bloom filter passed $outRows of $liRows fact rows — no pruning")
    // runtime filtering is invisible in the answer
    val plain = Tables.load(spark, sf, "lineitem")
      .join(Tables.load(spark, sf, "orders")
          .filter(col("o_orderpriority") === "1-URGENT").select("o_orderkey"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"),
        sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"))
      .orderBy("l_returnflag")
      .collect()
    assert(got.nonEmpty && got.length == plain.length)
    got.zip(plain).foreach { case (g, p) => assert(g == p) }
  }

  test("AQE splits the skewed partitions of the UNSALTED join") {
    // the measured comparison behind the salting choice: the same
    // skewed join q_skew_join salts by hand, handled here by AQE's
    // runtime skew-split instead (thresholds forced fixture-low).
    // DEPLOY.md records when manual salting still wins.
    val confs = Seq(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "1024",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1.0",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "4096",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      // the fixture parquet is ONE split = one map task, and AQE can
      // only split a skewed reduce partition at mapper granularity —
      // spread the scan over several mappers first, as a real corpus's
      // many input splits would be
      val li = Tables.load(spark, sf, "lineitem")
        .select("l_orderkey", "l_returnflag", "l_linestatus", "l_quantity")
        .repartition(8)
      // MEASURED CONSTRAINT (recorded in DEPLOY.md): with the dim
      // aggregated INLINE — q_skew_join's exact shape — the rule never
      // fires: OptimizeSkewedJoin matches a shuffle stage directly
      // under the join's Sort, and the interposed HashAggregate breaks
      // the pattern. Materialize the dim first (as a real workload's
      // dim table already is) and AQE handles the skew.
      val dimPath = tempDir("graft-aqe-dim").resolve("dim").toString
      li.groupBy("l_returnflag")
        .agg(sum(col("l_quantity").cast("decimal(18,2)")).cast("double")
          .as("flag_total_qty"))
        .write.mode("overwrite").parquet(dimPath)
      val dim = spark.read.parquet(dimPath)
      val joined = li.hint("merge").join(dim, "l_returnflag")
      // collect() (not count(), which plans its own query) so THIS
      // QueryExecution runs and AQE finalizes its re-planned tree
      val rows = joined.collect()
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("isFinalPlan=true"))
      assert(plan.contains("skew=true"),
        s"AQE did not split the skewed join partitions:\n$plan")
      // runtime splitting must be invisible in the result
      assert(rows.length == li.count())
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("regenerated corpus rebuilds the bucket layout (tag tracks content)") {
    import graft.operators.ScaleJoins
    import java.nio.file.{Files, Paths}
    val tmp = tempDir("graft-bucket-tag").toString
    for (t <- Seq("lineitem", "orders"))
      Files.copy(Paths.get(s"$sf/$t.parquet"), Paths.get(s"$tmp/$t.parquet"))
    val tag1 = ScaleJoins.corpusTag(tmp, Seq("lineitem", "orders"))
    val r1 = ScaleJoins.qBucketJoin(spark, tmp).collect()
    assert(spark.catalog.tableExists(s"graft_li_bucketed_$tag1"),
      "first run must lay out the bucketed tables under the corpus tag")
    // regenerate the fixture at the SAME path: same rows, new mtime —
    // the fingerprint must change so the layout is rebuilt, never
    // silently reused from a previous corpus generation
    val li = Paths.get(s"$tmp/lineitem.parquet").toFile
    assert(li.setLastModified(li.lastModified + 2000))
    val tag2 = ScaleJoins.corpusTag(tmp, Seq("lineitem", "orders"))
    assert(tag2 != tag1, "corpus tag must track file mtime/size")
    val r2 = ScaleJoins.qBucketJoin(spark, tmp).collect()
    assert(spark.catalog.tableExists(s"graft_li_bucketed_$tag2"),
      "regenerated corpus must get a fresh bucket layout")
    assert(r1.sameElements(r2))
  }

  test("q_zorder_prune: layout prunes the scan on BOTH filter dimensions") {
    import graft.operators.ScaleJoins
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.DataFrame
    val df = ScaleJoins.qZorderPrune(spark, sf)
    val got = df.collect()
    // both range predicates reach the parquet reader
    val plan = df.queryExecution.executedPlan.toString
    for (c <- Seq("o_custkey", "o_orderdate"))
      assert(s"PushedFilters: \\[[^\\]]*$c".r.findFirstIn(plan).isDefined,
        s"$c predicate not pushed to the z-layout scan:\n$plan")
    // each z file covers a compact rectangle: its span is narrow in
    // BOTH dimensions, where a date-sorted linear layout is narrow in
    // date only (per-file custkey span ~ the whole key range)
    def fileSpans(path: String): DataFrame =
      spark.read.parquet(path)
        .groupBy(input_file_name().as("f"))
        .agg((max(col("o_custkey")) - min(col("o_custkey"))).as("kspan"),
          (unix_date(to_date(max(col("o_orderdate")))) -
            unix_date(to_date(min(col("o_orderdate"))))).as("dspan"))
    val linDir = tempDir("graft-linear-layout").resolve("orders").toString
    Tables.load(spark, sf, "orders")
      .repartitionByRange(64, col("o_orderdate"))
      .sortWithinPartitions("o_orderdate")
      .write.option("maxRecordsPerFile", 2000).parquet(linDir)
    val Array(kRange, dRange) = Tables.load(spark, sf, "orders")
      .select(max("o_custkey") - min("o_custkey"),
        unix_date(to_date(max(col("o_orderdate")))) -
          unix_date(to_date(min(col("o_orderdate")))))
      .collect()(0).toSeq.map(_.toString.toDouble).toArray
    def avgSpans(path: String): (Double, Double) = {
      val r = fileSpans(path).agg(avg("kspan"), avg("dspan")).collect()(0)
      (r.getDouble(0) / kRange, r.getDouble(1) / dRange)
    }
    val (zK, zD) = avgSpans(Artifacts.root("zorder_orders", sf))
    val (linK, linD) = avgSpans(linDir)
    assert(zK < 0.5 && zD < 0.5,
      s"z files not compact in both dims: key span $zK, date span $zD")
    assert(linK > 0.8 && linD < 0.5,
      s"comparison layout should be wide in key, narrow in date: $linK / $linD")
    // and the narrow stats actually PRUNE: the z scan emits fewer
    // rows (row groups skipped on custkey AND date) than the same
    // query over the linear layout (which can skip on date only)
    def scanRows(d: DataFrame): Long = {
      d.collect()
      TestSpark.allNodes(d.queryExecution.executedPlan).collectFirst {
        case f: FileSourceScanExec => f.metrics("numOutputRows").value
      }.getOrElse(fail(s"no file scan:\n${d.queryExecution.executedPlan}"))
    }
    val zRows = scanRows(
      spark.read.parquet(Artifacts.root("zorder_orders", sf)).filter(ScaleJoins.zQueryFilter))
    val linRows = scanRows(spark.read.parquet(linDir).filter(ScaleJoins.zQueryFilter))
    assert(zRows < linRows,
      s"z layout scan emitted $zRows rows, linear layout $linRows — no 2-D pruning")
    // the layout is invisible in the answer
    val plain = Tables.load(spark, sf, "orders")
      .filter(ScaleJoins.zQueryFilter)
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("sum_price"))
      .orderBy("o_orderpriority")
      .collect()
    assert(got.nonEmpty && got.length == plain.length)
    got.zip(plain).foreach { case (g, p) => assert(g == p) }
  }

  test("lloyd centroids reduce quantization error vs raw seeds") {
    import graft.operators.SimOps
    import graft.functions.VectorFunctions._
    val c = Tables.load(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding").as("v"),
        sqrt(dotD(col("embedding"), col("embedding"))).as("nrm"))
    def meanBestCos(cents: SimOps.Centroids): Double =
      SimOps.assignTo(c, cents)
        .join(cents.toDF(spark), col("centroid") === col("c_id"))
        .select(avg(dotD(col("v"), col("cv")) / (col("nrm") * col("cnrm"))))
        .collect()(0).getDouble(0)
    val seeds = SimOps.lloydCentroids(c, SimOps.nCentroids, iters = 0)
    val refined = SimOps.lloydCentroids(c, SimOps.nCentroids, SimOps.lloydIters)
    assert(meanBestCos(refined) > meanBestCos(seeds),
      "Lloyd iterations should tighten cluster cohesion")
  }

  test("q_mv_rewrite answers from the MV; near-misses run untouched") {
    import graft.operators.ScaleJoins
    val df = ScaleJoins.qMvRewrite(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("graft_mv_orders_year"),
      "the signature aggregate must be answered from the MV scan")
    assert(!plan.contains("orders.parquet"),
      "the fact table must not be scanned after the rewrite")
    // zero exchanges: the whole point is k-row read instead of scan+shuffle
    assert(!plan.linesIterator.exists(l =>
      l.contains("Exchange ") && !l.contains("BroadcastExchange")))
    // a filter ABOVE the aggregate still matches the inner aggregate
    // and rewrites — correct MV semantics (parents stack on the scan)
    val above = ScaleJoins.mvDefinition(spark, sf)
      .filter(col("yr").isNotNull).queryExecution.executedPlan.toString
    assert(above.contains("graft_mv_orders_year"))
    // the rewrite is invisible in the answer: ground truth computed
    // with a filter BELOW the aggregate — a genuinely different
    // definition that must NOT match the catalog key
    val truth = Tables.load(spark, sf, "orders")
      .filter(col("o_orderkey") > -1L)
      .groupBy(year(col("o_orderdate")).as("yr"))
      .agg(sum(col("o_totalprice").cast(org.apache.spark.sql.types.DecimalType(12, 2))).as("rev_dec"),
        count(lit(1)).as("n_orders"))
    val truthPlan = truth.queryExecution.executedPlan.toString
    assert(!truthPlan.contains("graft_mv_orders_year"),
      "a near-miss shape must NOT rewrite")
    assert(truthPlan.contains("orders"),
      "the near-miss must scan the fact table")
    val got = df.collect().map(r =>
      (r.getInt(0), r.getDouble(1), r.getLong(2))).sortBy(_._1).toSeq
    val want = truth.collect().map(r =>
      (r.getInt(0), r.getAs[java.math.BigDecimal](1).doubleValue, r.getLong(2)))
      .sortBy(_._1).toSeq
    assert(got == want, "rewritten and raw answers must be identical")
    // freshly-constructed identical queries keep matching (catalog
    // keys canonicalized plans, not object identity)
    val again = ScaleJoins.qMvRewrite(spark, sf)
      .queryExecution.executedPlan.toString
    assert(again.contains("graft_mv_orders_year"))
  }

  test("q_mv_rollup re-aggregates the month MV; non-rollable shapes run untouched") {
    import graft.operators.ScaleJoins
    val cents = "cast(cast(o_totalprice as decimal(14,2)) * 100 as bigint)"
    val df = ScaleJoins.qMvRollup(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("graft_mv_orders_month"),
      "the unregistered YEAR grain must be answered from the (year, month) MV")
    assert(!plan.contains("orders.parquet"),
      "zero base scans: the fact table must not be scanned after the rollup")
    // the re-aggregation runs at the coarser grain over the k-row MV —
    // its exchanges are model-sized (agg + ordered output), never corpus
    assert(plan.linesIterator.count(l =>
      l.contains("Exchange ") && !l.contains("BroadcastExchange")) <= 2)
    // a grouping key OUTSIDE the MV's key set must NOT rewrite
    val offGrain = Tables.load(spark, sf, "orders")
      .groupBy(col("o_orderpriority"))
      .agg(sum(expr(cents)).as("rev_cents"))
      .queryExecution.executedPlan.toString
    assert(!offGrain.contains("graft_mv_orders_month"),
      "a non-subset grain must run against the base table")
    // a DISTINCT aggregate is not re-aggregable from partials — veto
    val distinctAgg = Tables.load(spark, sf, "orders")
      .groupBy(year(col("o_orderdate")).as("yr"))
      .agg(countDistinct(col("o_custkey")).as("n_cust"))
      .queryExecution.executedPlan.toString
    assert(!distinctAgg.contains("graft_mv_orders_month"),
      "COUNT DISTINCT must not be served by SUM/COUNT partials")
    // an aggregate the MV does not carry (different measure) — veto
    val offMeasure = Tables.load(spark, sf, "orders")
      .groupBy(year(col("o_orderdate")).as("yr"))
      .agg(sum((col("o_custkey") % 7).cast("long")).as("s"))
      .queryExecution.executedPlan.toString
    assert(!offMeasure.contains("graft_mv_orders_month"))
    // the rollup is invisible in the answer: ground truth forced to the
    // base table by a below-aggregate filter (a different definition)
    val truth = Tables.load(spark, sf, "orders")
      .filter(col("o_orderkey") > -1L)
      .groupBy(year(col("o_orderdate")).as("yr"))
      .agg(sum(expr(cents)).as("rev_cents"), count(lit(1)).as("n_orders"),
        min(expr(cents)).as("min_cents"), max(expr(cents)).as("max_cents"))
      .orderBy("yr")
    assert(!truth.queryExecution.executedPlan.toString
      .contains("graft_mv_orders_month"))
    val got = df.collect().map(r =>
      (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    val want = truth.collect().map(r =>
      (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(got.nonEmpty && got.sameElements(want),
      "SUM/COUNT/MIN/MAX re-aggregated from partials must equal the raw answer")
  }

  test("q_mv_filter: key-grain predicates rewrite onto the MV and push into its scan") {
    import graft.operators.ScaleJoins
    val cents = "cast(cast(o_totalprice as decimal(14,2)) * 100 as bigint)"
    val df = ScaleJoins.qMvFilter(spark, sf)
    val planF = df.queryExecution.executedPlan.toString
    assert(planF.contains("graft_mv_orders_month"),
      "the filtered year rollup must be answered from the (year, month) MV")
    assert(!planF.contains("orders.parquet"),
      "zero base scans after the selection-subsumption rewrite")
    // the remapped predicate must reach the MV's parquet reader: the
    // k-row scan prunes too (on a partitioned summary this is
    // partition pruning on the summary itself)
    assert(planF.contains("GreaterThanOrEqual(yr,1996)") &&
      planF.contains("LessThanOrEqual(yr,1998)"),
      "the year-window predicate must push into the MV scan")
    // a predicate over a NON-key column leaves residual base
    // attributes after the grouping-key mapping — veto, corpus runs
    val offKey = Tables.load(spark, sf, "orders")
      .filter(col("o_orderpriority") === "1-URGENT")
      .groupBy(year(col("o_orderdate")).as("yr"))
      .agg(sum(expr(cents)).as("rev_cents"))
      .queryExecution.executedPlan.toString
    assert(!offKey.contains("graft_mv_orders_month"),
      "a non-key predicate cannot be answered at MV grain")
    assert(offKey.contains("orders"), "the veto must scan the fact table")
    // a MIXED predicate (key AND non-key conjunct) must veto too —
    // partial subsumption would silently drop the non-key conjunct
    val mixed = Tables.load(spark, sf, "orders")
      .filter(year(col("o_orderdate")) >= 1996 &&
        col("o_orderpriority") === "1-URGENT")
      .groupBy(year(col("o_orderdate")).as("yr"))
      .agg(sum(expr(cents)).as("rev_cents"))
      .queryExecution.executedPlan.toString
    assert(!mixed.contains("graft_mv_orders_month"),
      "a half-mappable predicate must not half-rewrite")
    // a non-deterministic predicate must veto before any matching
    val nondet = Tables.load(spark, sf, "orders")
      .filter(rand(7) >= -1.0)
      .groupBy(year(col("o_orderdate")).as("yr"))
      .agg(sum(expr(cents)).as("rev_cents"))
      .queryExecution.executedPlan.toString
    assert(!nondet.contains("graft_mv_orders_month"))
    // invisible in the answer: ground truth forced to the base table
    val truth = Tables.load(spark, sf, "orders")
      .filter(col("o_orderkey") > -1L &&
        year(col("o_orderdate")).between(1996, 1998))
      .groupBy(year(col("o_orderdate")).as("yr"))
      .agg(sum(expr(cents)).as("rev_cents"), count(lit(1)).as("n_orders"),
        max(expr(cents)).as("max_cents"))
      .orderBy("yr")
    assert(!truth.queryExecution.executedPlan.toString
      .contains("graft_mv_orders_month"))
    val got = df.collect().map(r =>
      (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val want = truth.collect().map(r =>
      (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.nonEmpty && got.sameElements(want),
      "the filtered rollup must equal the raw filtered answer")
  }

  test("q_mv_star: the star-join summary answers with ZERO base scans") {
    import graft.operators.ScaleJoins
    val cents = "cast(cast(o_totalprice as decimal(14,2)) * 100 as bigint)"
    val df = ScaleJoins.qMvStar(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("graft_mv_star_nation_year"),
      "the star aggregate must be answered from the (nation, year) MV")
    assert(!plan.contains("orders.parquet") &&
      !plan.contains("customer.parquet"),
      "NEITHER star table may be scanned after the rewrite")
    assert(plan.contains("GreaterThanOrEqual(yr,1996)"),
      "the year window must push into the summary scan")
    // a DIFFERENT join (orders x supplier-keyed frame) shares no
    // canonical child and must run untouched
    val otherJoin = Tables.load(spark, sf, "orders")
      .join(Tables.load(spark, sf, "customer"),
        col("o_custkey") === col("c_custkey") + 1)
      .groupBy(col("c_nationkey"), year(col("o_orderdate")).as("yr"))
      .agg(sum(expr(cents)).as("rev_cents"))
      .queryExecution.executedPlan.toString
    assert(!otherJoin.contains("graft_mv_star_nation_year"),
      "a different join condition must not match the star MV")
    // grouping by a column the MV does not key (c_mktsegment) — veto
    val offKey = Tables.load(spark, sf, "orders")
      .join(Tables.load(spark, sf, "customer"),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(sum(expr(cents)).as("rev_cents"))
      .queryExecution.executedPlan.toString
    assert(!offKey.contains("graft_mv_star_nation_year"))
    // invisible in the answer: ground truth forced to the raw star
    val truth = Tables.load(spark, sf, "orders")
      .join(Tables.load(spark, sf, "customer"),
        col("o_custkey") === col("c_custkey"))
      .filter(col("o_orderkey") > -1L &&
        year(col("o_orderdate")).between(1996, 1998))
      .groupBy(col("c_nationkey"))
      .agg(sum(expr(cents)).as("rev_cents"), count(lit(1)).as("n_orders"))
      .orderBy("c_nationkey")
    assert(!truth.queryExecution.executedPlan.toString
      .contains("graft_mv_star_nation_year"))
    val got = df.collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    val want = truth.collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    assert(got.nonEmpty && got.sameElements(want),
      "the star rewrite must equal the raw star answer")
  }

  test("q_mv_retract: signed subtract + affected-only extrema patch equals rebuild") {
    import graft.operators.ScaleJoins
    val cents = "cast(cast(o_totalprice as decimal(14,2)) * 100 as bigint)"
    val df = ScaleJoins.qMvRetract(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("graft_mv_orders_month"),
      "the retraction refresh must start from the stored summary")
    val ordersScans = plan.linesIterator.count(l =>
      l.contains("orders.parquet") && l.contains("FileScan"))
    assert(ordersScans <= 2,
      s"retraction agg + survivors extrema only, saw $ordersScans scans")
    val got = df.collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2),
      r.getLong(3), r.getLong(4), r.getLong(5)))
    // the patch must actually BITE: at least one group's extremum was
    // retracted and changed (otherwise the recompute path is vacuous)
    val mvRows = ScaleJoins.mvMonthDefinition(spark, sf).collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> (r.getLong(4), r.getLong(5)))
      .toMap
    val changed = got.count { case (yr, mo, _, _, mn, mx) =>
      mvRows.get((yr, mo)).exists { case (m0, m1) => mn != m0 || mx != m1 } }
    assert(changed > 0, "no group's extremum changed — the patch is vacuous")
    // and some groups must keep their MV extrema (the affected-only
    // claim needs unaffected-or-unchanged survivors to contrast)
    assert(changed < got.length, "every extremum changed — suspicious")
    // bit-identical to a rebuild over survivors
    val truth = Tables.load(spark, sf, "orders")
      .filter(col("o_orderkey") % 101 =!= 0 && col("o_orderkey") > -1L)
      .groupBy(year(col("o_orderdate")).as("yr"),
        month(col("o_orderdate")).as("mo"))
      .agg(sum(expr(cents)).as("rev_cents"), count(lit(1)).as("n_orders"),
        min(expr(cents)).as("min_cents"), max(expr(cents)).as("max_cents"))
      .orderBy("yr", "mo")
    val want = truth.collect().map(r => (r.getInt(0), r.getInt(1),
      r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
    assert(got.nonEmpty && got.sameElements(want),
      "subtract-and-patch must equal the full rebuild")
  }

  test("q_mv_choice: with two matching MVs the rewrite answers from the SMALLEST") {
    import graft.operators.ScaleJoins
    val cents = "cast(cast(o_totalprice as decimal(14,2)) * 100 as bigint)"
    // qMvChoice registers month THEN day — the catalog prepends, so a
    // registration-order headOption would pick the DAY MV; the cost
    // choice must pick the month MV (~30x fewer rows) anyway
    val df = ScaleJoins.qMvChoice(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("graft_mv_orders_month"),
      "the year grain must be answered from the SMALLEST matching MV")
    assert(!plan.contains("graft_mv_orders_day"),
      "the larger day MV must lose the cost comparison")
    assert(!plan.contains("orders.parquet"),
      "zero base scans: the corpus is never touched")
    // control: a (year, day-of-month) grain only the day MV can serve
    // — the cost choice must not STARVE the finer summary
    val dayOnly = Tables.load(spark, sf, "orders")
      .groupBy(year(col("o_orderdate")).as("yr"),
        dayofmonth(col("o_orderdate")).as("dy"))
      .agg(sum(expr(cents)).as("rev_cents"), count(lit(1)).as("n_orders"),
        min(expr(cents)).as("min_cents"), max(expr(cents)).as("max_cents"))
      .queryExecution.executedPlan.toString
    assert(dayOnly.contains("graft_mv_orders_day"),
      "a grain only the day MV carries must answer from the day MV")
    assert(!dayOnly.contains("orders.parquet"))
    // the choice is invisible in the answer (below-aggregate non-key
    // filter forces a genuine base run for the truth side)
    val truth = Tables.load(spark, sf, "orders")
      .filter(col("o_orderkey") > -1L)
      .groupBy(year(col("o_orderdate")).as("yr"))
      .agg(sum(expr(cents)).as("rev_cents"), count(lit(1)).as("n_orders"),
        min(expr(cents)).as("min_cents"), max(expr(cents)).as("max_cents"))
      .orderBy("yr")
    val got = df.collect().map(r =>
      (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    val want = truth.collect().map(r =>
      (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(got.nonEmpty && got.sameElements(want),
      "whichever MV answers, the result must equal the raw aggregate")
  }

  test("a HAVING above a rollup-matched aggregate rewrites and answers correctly") {
    // the post-aggregate Filter (HAVING) sits ABOVE the Aggregate the
    // rule rewrites; transformUp must rewrite the inner aggregate via
    // the ROLLUP path and leave the HAVING stacked on the re-aggregated
    // MV scan — pinning the claim for rollup matches, not just exact
    import graft.operators.ScaleJoins
    val cents = "cast(cast(o_totalprice as decimal(14,2)) * 100 as bigint)"
    ScaleJoins.ensureMonthMv(spark, sf)
    val agg = Tables.load(spark, sf, "orders")
      .groupBy(year(col("o_orderdate")).as("yr"))
      .agg(sum(expr(cents)).as("rev_cents"), count(lit(1)).as("n_orders"))
    val median = agg.collect().map(_.getLong(1)).sorted.apply(3)
    val having = agg.filter(col("rev_cents") > median).orderBy("yr")
    val plan = having.queryExecution.executedPlan.toString
    // any registered summary OF A CORRECT GRAIN may serve: the
    // catalog is JVM-global, so a concurrently-running suite
    // (q_mv_auto registers the SAME month definition over the SAME
    // corpus) can legitimately win the lookup. Pinned (r15, ADVICE):
    // only the year/month/auto names qualify — a wrong-grain or
    // stale summary path must fail here, not just in the value check
    assert("/tmp/graft_mv_(orders_year|orders_month|auto)_".r
        .findFirstIn(plan).isDefined,
      "the aggregate under the HAVING must rollup-rewrite onto a " +
        "year/month-grain MV")
    assert(!plan.contains("/tmp/graft_mv_stale"),
      "a stale summary must never serve")
    assert(!plan.contains("orders.parquet"),
      "zero base scans under the HAVING")
    val truth = Tables.load(spark, sf, "orders")
      .filter(col("o_orderkey") > -1L)
      .groupBy(year(col("o_orderdate")).as("yr"))
      .agg(sum(expr(cents)).as("rev_cents"), count(lit(1)).as("n_orders"))
      .filter(col("rev_cents") > median).orderBy("yr")
    val got = having.collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    val want = truth.collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    assert(got.nonEmpty && got.length < 7 && got.sameElements(want),
      "the HAVING must filter the re-aggregated MV rows exactly")
  }

  test("q_mv_having: the HAVING query runs ENTIRELY from summaries") {
    import graft.operators.ScaleJoins
    val cents = "cast(cast(o_totalprice as decimal(14,2)) * 100 as bigint)"
    val df = ScaleJoins.qMvHaving(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    // accept any CORRECT-GRAIN registered summary (JVM-global
    // catalog — see the rollup-HAVING test above); pinned to the
    // year/month/auto names (r15, ADVICE)
    assert("/tmp/graft_mv_(orders_year|orders_month|auto)_".r
        .findFirstIn(plan).isDefined,
      "both the year grain and the global total must answer from a " +
        "year/month-grain MV")
    assert(!plan.contains("/tmp/graft_mv_stale"),
      "a stale summary must never serve")
    assert(!plan.contains("orders.parquet"),
      "zero base scans: the HAVING and its comparison side ride the summary")
    val got = df.collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    // the threshold is structural: exactly the six full calendar years
    // survive, the partial 2001 drops — at every scale factor
    assert(got.map(_._1).toSeq == (1995 to 2000).toSeq,
      s"expected the six full years, got ${got.map(_._1).toSeq}")
    val truth = Tables.load(spark, sf, "orders")
      .filter(col("o_orderkey") > -1L)
      .groupBy(year(col("o_orderdate")).as("yr"))
      .agg(sum(expr(cents)).as("rev_cents"), count(lit(1)).as("n_orders"))
      .filter(col("yr") <= 2000).orderBy("yr")
    val want = truth.collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    assert(got.sameElements(want), "the HAVING answer must equal the raw plan")
  }

  test("q_mv_star_refresh: O(delta-join + k) refresh equals the full star recompute") {
    import graft.operators.ScaleJoins
    val df = ScaleJoins.qMvStarRefresh(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("graft_mv_stale_star"),
      "the refresh must read the stale star summary, not rebuild it")
    assert(plan.contains("GreaterThanOrEqual(o_orderdate,"),
      "the fact delta scan must push its cutoff predicate")
    val ordersScans = plan.linesIterator.count(l =>
      l.contains("orders.parquet") && l.contains("FileScan"))
    assert(ordersScans <= 1, s"one delta fact scan expected, saw $ordersScans")
    // the refresh provably MERGES through the join: the cutoff year's
    // (nation, 1998) groups exist on BOTH sides and their counts grow
    val stale = spark.read.parquet(ScaleJoins.ensureStaleStarMv(spark, sf))
      .filter(col("yr") === 1998)
      .collect().map(r => r.getInt(0) -> r.getLong(3)).toMap
    val merged = df.filter(col("yr") === 1998)
      .collect().map(r => (r.getInt(0), r.getLong(3)))
    assert(merged.nonEmpty && merged.forall { case (nk, n) =>
      stale.get(nk).forall(n > _) },
      "every cutoff-year nation group must grow past its stale partial")
    // bit-identical to the full star recompute (the oracle's claim)
    val cents = "cast(cast(o_totalprice as decimal(14,2)) * 100 as bigint)"
    val truth = Tables.load(spark, sf, "orders")
      .join(Tables.load(spark, sf, "customer"),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_nationkey"), year(col("o_orderdate")).as("yr"))
      .agg(sum(expr(cents)).as("rev_cents"), count(lit(1)).as("n_orders"))
      .orderBy("c_nationkey", "yr")
    val got = df.collect().map(r =>
      (r.getInt(0), r.getInt(1), r.getLong(2), r.getLong(3)))
    val want = truth.collect().map(r =>
      (r.getInt(0), r.getInt(1), r.getLong(2), r.getLong(3)))
    assert(got.nonEmpty && got.sameElements(want),
      "refresh(stale, delta-join) must equal the full star recompute")
  }

  test("q_mv_advisor: the recommendation, registered, serves the whole workload") {
    import graft.operators.ScaleJoins
    val cents = "cast(cast(o_totalprice as decimal(14,2)) * 100 as bigint)"
    val rows = ScaleJoins.qMvAdvisor(spark, sf).collect()
    assert(rows.length == 2)
    val byGrain = rows.map(r => r.getInt(0) -> r).toMap
    // {year} serves the year dashboard and the filtered-year dashboard
    // (selection subsumption) but not the month grain
    assert(byGrain(1).getInt(3) == 2 && byGrain(1).getInt(4) == 0)
    // {year, month} serves all three and is the recommendation
    assert(byGrain(2).getInt(3) == 3 && byGrain(2).getInt(4) == 1)
    // the finer grain is genuinely bigger — the cost the advisor trades
    assert(byGrain(2).getLong(2) > byGrain(1).getLong(2))
    assert(rows.forall(r => r.getLong(2) < r.getLong(1)),
      "every candidate summary must be smaller than the base")
    // CLOSE THE LOOP: materialize + register the recommended grain
    // (the month MV carries the workload's SUM/COUNT partials) and
    // every workload query now answers from it — the advisor's
    // servedness claim is the rewrite rule's behavior, verbatim
    ScaleJoins.ensureMonthMv(spark, sf)
    val base = Tables.load(spark, sf, "orders")
    val plans = Seq(
      base.groupBy(year(col("o_orderdate")).as("yr"))
        .agg(sum(expr(cents)).as("rev_cents"), count(lit(1)).as("n_orders")),
      base.groupBy(year(col("o_orderdate")).as("yr"),
          month(col("o_orderdate")).as("mo"))
        .agg(sum(expr(cents)).as("rev_cents"), count(lit(1)).as("n_orders")),
      base.filter(year(col("o_orderdate")).between(1996, 1998))
        .groupBy(year(col("o_orderdate")).as("yr"))
        .agg(sum(expr(cents)).as("rev_cents"), count(lit(1)).as("n_orders")))
      .map(_.queryExecution.executedPlan.toString)
    plans.zipWithIndex.foreach { case (p, i) =>
      // any registered summary may serve (JVM-global catalog — see
      // the rollup-HAVING test above)
      assert(p.contains("/tmp/graft_mv_"),
        s"workload query $i must answer from a registered summary")
      assert(!p.contains("orders.parquet"),
        s"workload query $i must not scan the base after registration")
    }
  }

  test("q_mv_auto: advise → materialize → register → re-plan with no human step") {
    import graft.operators.ScaleJoins
    // start from an EMPTY catalog: the loop itself must produce the
    // only registration the re-plan can ride
    graft.plans.MvCatalog.clear()
    val df = ScaleJoins.qMvAuto(spark, sf)
    val got = df.collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("graft_mv_auto"),
      "the year dashboard must answer from the auto-registered summary")
    assert(!plan.contains("orders.parquet"),
      "the fact table must not be scanned after auto-registration")
    // the WHOLE workload re-plans onto the machine's choice — the
    // advisor's full-coverage claim, observed in executed plans
    ScaleJoins.advisorWorkload(spark, sf).zipWithIndex.foreach { case (w, i) =>
      val p = w.queryExecution.executedPlan.toString
      assert(p.contains("graft_mv_auto") && !p.contains("orders.parquet"),
        s"workload query $i must answer from the auto summary")
    }
    // and the loop is invisible in the answer: same rows as the raw
    // aggregate with the catalog empty again
    graft.plans.MvCatalog.clear()
    val want = ScaleJoins.advisorWorkload(spark, sf).head.orderBy("yr")
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    assert(got.nonEmpty && got.sameElements(want),
      "auto-rewritten workload must equal the raw aggregate")
  }

  test("a rewritten GLOBAL COUNT over zero matching MV rows is 0, not NULL") {
    // regression lock: COUNT rewrites to SUM(partial counts), and a
    // bare SUM over an empty (fully filtered) MV is NULL — the
    // Coalesce keeps the global count at 0, matching the raw query
    import graft.operators.ScaleJoins
    val cents = "cast(cast(o_totalprice as decimal(14,2)) * 100 as bigint)"
    ScaleJoins.ensureMonthMv(spark, sf)
    val df = Tables.load(spark, sf, "orders")
      .filter(year(col("o_orderdate")) === 1890) // matches no year
      .agg(sum(expr(cents)).as("rev_cents"), count(lit(1)).as("n_orders"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("graft_mv_orders_month"),
      "the global aggregate with a key-grain predicate must rewrite")
    val row = df.collect()(0)
    assert(row.isNullAt(0), "SUM over no rows is NULL in raw SQL too")
    assert(!row.isNullAt(1) && row.getLong(1) == 0L,
      "COUNT over no rows must be 0, never NULL")
    // and the raw plan agrees (mixed predicate forces the base run)
    val raw = Tables.load(spark, sf, "orders")
      .filter(year(col("o_orderdate")) === 1890 && col("o_orderkey") > -1L)
      .agg(sum(expr(cents)).as("rev_cents"), count(lit(1)).as("n_orders"))
      .collect()(0)
    assert(raw.isNullAt(0) && raw.getLong(1) == 0L)
  }

  test("a definition that ITSELF contains a Filter still rollup-matches") {
    // regression lock for the r9 selection-subsumption refactor: the
    // rollup path must try the WHOLE child (filter included) before
    // the stripped-filter key, or filtered definitions silently stop
    // matching and their queries rescan the corpus
    import org.apache.spark.sql.catalyst.plans.logical.Aggregate
    val cents = "cast(cast(o_totalprice as decimal(14,2)) * 100 as bigint)"
    def filtered = Tables.load(spark, sf, "orders")
      .filter(col("o_orderpriority") === "5-LOW")
    val defDf = filtered
      .groupBy(year(col("o_orderdate")).as("yr"),
        month(col("o_orderdate")).as("mo"))
      .agg(sum(expr(cents)).as("rev_cents"), count(lit(1)).as("n_orders"))
    val dir = tempDir("graft_mv_filtered_def").toString
    val path = s"$dir/mv.parquet"
    defDf.write.mode("overwrite").parquet(path)
    defDf.queryExecution.analyzed match {
      case a: Aggregate => graft.plans.MvCatalog.register(a, path)
      case other => fail(s"definition did not analyze to Aggregate: $other")
    }
    val q = filtered
      .groupBy(year(col("o_orderdate")).as("yr"))
      .agg(sum(expr(cents)).as("rev_cents"), count(lit(1)).as("n_orders"))
      .orderBy("yr")
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("graft_mv_filtered_def"),
      "the coarser grain over the SAME filtered child must answer from the MV")
    assert(!plan.contains("orders.parquet"))
    // and the rewrite is invisible: compare against a forced base run
    val truth = filtered.filter(col("o_orderkey") > -1L)
      .groupBy(year(col("o_orderdate")).as("yr"))
      .agg(sum(expr(cents)).as("rev_cents"), count(lit(1)).as("n_orders"))
      .orderBy("yr")
    val got = q.collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    val want = truth.collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    assert(got.nonEmpty && got.sameElements(want))
  }

  test("q_mv_refresh: O(delta + k) refresh equals the full recompute") {
    import graft.operators.ScaleJoins
    val df = ScaleJoins.qMvRefresh(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("graft_mv_stale_month"),
      "the refresh must read the stale summary, not rebuild it")
    // the only base-table touch is the DELTA scan, and its cutoff
    // predicate reaches the parquet reader — on a date-partitioned
    // lake that is partition pruning down to the new days
    assert(plan.contains("GreaterThanOrEqual(o_orderdate,"),
      "the delta scan must push its cutoff predicate")
    val ordersScans = plan.linesIterator.count(l =>
      l.contains("orders.parquet") && l.contains("FileScan"))
    assert(ordersScans <= 1, s"one delta scan expected, saw $ordersScans")
    // the refresh provably MERGES: the mid-month cutoff puts the
    // cutoff month's partials on BOTH sides
    val cutoffYr = 1998
    val stale = spark.read.parquet(ScaleJoins.ensureStaleMv(spark, sf))
    val staleRow = stale.filter(col("yr") === cutoffYr && col("mo") === 3)
      .collect()
    assert(staleRow.length == 1, "cutoff month must exist in the stale MV")
    val merged = df.filter(col("yr") === cutoffYr && col("mo") === 3).collect()
    assert(merged.length == 1)
    assert(merged(0).getLong(3) > staleRow(0).getLong(3),
      "the cutoff month's refreshed count must grow past its stale partial")
    // refresh(stale, delta) == full recompute, bit for bit (the
    // below-aggregate non-key filter forces a genuine base recompute
    // instead of the month MV answering its own equality check)
    val full = Tables.load(spark, sf, "orders")
      .filter(col("o_orderkey") > -1L)
      .groupBy(year(col("o_orderdate")).as("yr"),
        month(col("o_orderdate")).as("mo"))
      .agg(sum(expr("cast(cast(o_totalprice as decimal(14,2)) * 100 as bigint)")).as("rev_cents"),
        count(lit(1)).as("n_orders"),
        min(expr("cast(cast(o_totalprice as decimal(14,2)) * 100 as bigint)")).as("min_cents"),
        max(expr("cast(cast(o_totalprice as decimal(14,2)) * 100 as bigint)")).as("max_cents"))
      .orderBy("yr", "mo")
    val got = df.collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2),
      r.getLong(3), r.getLong(4), r.getLong(5)))
    val want = full.collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2),
      r.getLong(3), r.getLong(4), r.getLong(5)))
    assert(got.nonEmpty && got.sameElements(want),
      "incremental refresh must be bit-identical to the full recompute")
  }
}
