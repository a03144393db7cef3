package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.rules._
import graft.schema._
import graft.sources.{Jdbc, PgCopyWriter}
import graft.sqlgen.PgSqlGen
import graft.streaming.StreamOps

class StreamPipelineSpec extends AnyFunSuite {
  import TestSpark._

  test("stream_late_data matches the batch-granular watermark replay") {
    val got = StreamOps.streamLateData(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got.nonEmpty)
    // every type must see BOTH classes, or the fixture isn't
    // exercising the audit
    got.foreach { case (t, (on, late)) =>
      assert(on > 0 && late > 0, s"$t: on=$on late=$late — degenerate mix")
    }
    // replay: batch = event_id % 3 ascending; late iff us undercuts
    // the prior batches' max minus the delay
    val ev = Tables.load(spark, sf, "events")
      .select(col("event_type"), unix_micros(col("ts")).as("us"),
        (col("event_id") % 3).as("b")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val replay = ev.groupBy(_._1).map { case (tpe, rows) =>
      var mx = Long.MinValue; var on = 0L; var late = 0L
      (0L to 2L).foreach { b =>
        val batch = rows.filter(_._3 == b)
        batch.foreach { case (_, us, _) =>
          if (mx != Long.MinValue && us < mx - StreamOps.lateDelayUs)
            late += 1
          else on += 1
        }
        val bm = if (batch.isEmpty) Long.MinValue else batch.map(_._2).max
        if (bm > mx) mx = bm
      }
      tpe -> ((on, late))
    }
    assert(got == replay, s"got $got replay $replay")
  }

  test("stream_bitmap_distinct equals the batch bitmap key") {
    val streamed = StreamOps.streamBitmapDistinct(spark, sf).collect()
      .map(r => (r.getString(0), r.getDate(1).toString,
        r.getLong(2), r.getLong(3))).toSet
    val batch = graft.operators.AnalyticsOps.qBitmapDistinct(spark, sf)
      .collect()
      .map(r => (r.getString(0), r.getDate(1).toString,
        r.getLong(2), r.getLong(3))).toSet
    assert(streamed.nonEmpty && streamed == batch,
      "incrementally-maintained bitmap counts must equal the batch scan")
  }

  test("stream_events equals its batch twin on the drained source") {
    val streamed = StreamOps.streamEventsWindow(spark, sf).collect()
    val batch = StreamOps.batchEventsWindow(spark, sf).collect()
    assert(streamed.length == batch.length)
    streamed.zip(batch).foreach { case (s, b) => assert(s == b) }
    assert(streamed.nonEmpty)
  }

  test("stream_ohlc equals the batch OHLC key row-for-row") {
    val streamed = StreamOps.streamOhlc(spark, sf).collect()
    val batch = graft.operators.Relational.qOhlcBars(spark, sf).collect()
    assert(streamed.nonEmpty && streamed.length == batch.length)
    streamed.zip(batch).foreach { case (s, b) => assert(s == b) }
  }

  test("stream_sessions (session_window) equals its batch twin") {
    val streamed = StreamOps.streamSessions(spark, sf).collect()
    val batch = StreamOps.qSessionWindow(spark, sf)
      .select("user_id", "session_start_us", "session_end_us", "n_events")
      .collect()
    assert(streamed.nonEmpty && streamed.length == batch.length)
    streamed.zip(batch).foreach { case (s, b) => assert(s == b) }
  }

  test("stream_dedup (watermarked dropDuplicates) equals batch distinct") {
    val streamed = StreamOps.streamDedup(spark, sf).collect()
    val batch = StreamOps.batchDedup(spark, sf).collect()
    assert(streamed.nonEmpty && streamed.length == batch.length)
    streamed.zip(batch).foreach { case (s, b) =>
      assert(s.getString(0) == b.getString(0))
      assert(s.getLong(1) == b.getLong(1),
        s"dedup count mismatch for ${s.getString(0)}")
    }
  }

  test("stream_enrich (stream-static dim join) equals its batch twin") {
    val streamed = StreamOps.streamEnrich(spark, sf).collect()
    val batch = StreamOps.batchEnrich(spark, sf).collect()
    assert(streamed.nonEmpty && streamed.length == batch.length)
    streamed.zip(batch).foreach { case (s, b) => assert(s == b) }
    // the join enriched: at least one real segment present
    assert(streamed.exists(r => !r.isNullAt(1)))
  }

  test("checkpointed restart recovers state exactly (HDFS + RocksDB providers)") {
    // The production streaming property nothing else observes:
    // exactly-once recovery. A windowed aggregation runs over HALF the
    // input files with a checkpointLocation, is STOPPED, the other
    // half lands, and a restarted query on the SAME checkpoint must
    // (a) resume from restored state reading only the new files and
    // (b) end in exactly the state an uninterrupted run reaches —
    // which equals the batch aggregate of the whole input.
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val providers = Seq(
      "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    // stage the events table as 4 parquet files
    val work = Files.createTempDirectory("graft_ckpt")
    val stage = work.resolve("stage")
    Tables.load(spark, sf, "events").repartition(4)
      .write.parquet(stage.toString)
    val parts = new java.io.File(stage.toString).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.toPath).sortBy(_.toString)
    assert(parts.length == 4)
    val expected = Tables.load(spark, sf, "events")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("w.start").as("window_start"), col("event_type"), col("n_events"))
      .orderBy("window_start", "event_type").collect()
    providers.foreach { provider =>
      val child = spark.newSession()
      child.conf.set("spark.sql.streaming.stateStore.providerClass", provider)
      child.conf.set("spark.sql.shuffle.partitions", "4")
      val inDir = work.resolve(s"in_${provider.hashCode.toHexString}")
      val ckpt = work.resolve(s"ckpt_${provider.hashCode.toHexString}")
      Files.createDirectories(inDir)
      def sink(tag: String) = s"ckpt_restart_${provider.hashCode.toHexString}_$tag"
      def start(tag: String) = child.readStream
        .schema(StreamOps.eventsTsSchema).parquet(inDir.toString)
        .withWatermark("ts", "1 day")
        .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("w.start").as("window_start"), col("event_type"),
          col("n_events"))
        .writeStream.format("memory").queryName(sink(tag))
        .outputMode("complete")
        .option("checkpointLocation", ckpt.toString)
        .start()
      parts.take(2).foreach(p =>
        Files.copy(p, inDir.resolve(p.getFileName), StandardCopyOption.REPLACE_EXISTING))
      val q1 = start("a")
      try { q1.processAllAvailable() } finally q1.stop()
      parts.drop(2).foreach(p =>
        Files.copy(p, inDir.resolve(p.getFileName), StandardCopyOption.REPLACE_EXISTING))
      val q2 = start("b")
      val got = try {
        q2.processAllAvailable()
        // (a) resumed, not re-read: the restarted query ingested only
        // the two NEW files' rows
        val newRows = parts.drop(2)
          .map(p => spark.read.parquet(p.toString).count()).sum
        val ingested = q2.recentProgress.map(_.numInputRows).sum
        assert(ingested == newRows,
          s"restart re-ingested $ingested rows, expected only $newRows new")
        child.table(sink("b"))
          .orderBy("window_start", "event_type").collect()
      } finally q2.stop()
      // (b) final state identical to the uninterrupted batch aggregate
      assert(got.length == expected.length && got.nonEmpty,
        s"$provider: ${got.length} windows vs ${expected.length}")
      got.zip(expected).foreach { case (g, e) => assert(g == e, s"$provider: $g != $e") }
      child.catalog.dropTempView(sink("a"))
      child.catalog.dropTempView(sink("b"))
    }
  }

  test("cdcMerge is idempotent and order-insensitive (at-least-once safety)") {
    import org.apache.spark.sql.functions.lit
    val base = Tables.load(spark, sf, "customer")
      .withColumn("op", lit("I")).withColumn("version", lit(0))
    val b1 = Tables.load(spark, sf, "customer")
      .filter(col("c_custkey") % 10 === 1)
      .withColumn("c_acctbal", col("c_acctbal") + 100.0)
      .withColumn("op", lit("U")).withColumn("version", lit(1))
    val b2 = Tables.load(spark, sf, "customer")
      .filter(col("c_custkey") % 10 === 3)
      .withColumn("op", lit("D")).withColumn("version", lit(2))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    val once = StreamOps.cdcMerge(StreamOps.cdcMerge(base, b1), b2)
    // replaying an already-applied batch (checkpoint recovery under
    // at-least-once delivery) must not change the store
    val replay = StreamOps.cdcMerge(once, b1)
    assert(rows(replay) == rows(once))
    // arrival order must not matter: versions, not order, decide
    val swapped = StreamOps.cdcMerge(StreamOps.cdcMerge(base, b2), b1)
    assert(rows(swapped) == rows(once))
  }

  test("stream_cdc_apply's merged store equals the one-shot batch MERGE") {
    val streamed = StreamOps.streamCdcApply(spark, sf).collect()
    val batch = graft.operators.Etl.etlCdcUpsert(spark, sf).collect()
    assert(streamed.length == batch.length)
    streamed.zip(batch).foreach { case (s, b) => assert(s == b, s"$s != $b") }
    assert(streamed.nonEmpty)
  }

  test("stream_anomaly equals its batch twin and both flag classes exist") {
    val streamed = StreamOps.streamAnomaly(spark, sf).collect()
    val batch = StreamOps.batchAnomaly(spark, sf).collect()
    assert(streamed.length == batch.length)
    streamed.zip(batch).foreach { case (s, b) => assert(s == b, s"$s != $b") }
    // the 2σ cut must bite but not saturate on the fixture — a sign
    // error in the division-free inequality would flip one class away
    val flags = streamed.map(_.getAs[Boolean]("is_anomaly"))
    assert(flags.contains(true), "no day flagged — threshold vacuous")
    assert(flags.contains(false), "every day flagged — inequality inverted")
    // integer replay of the z² test on one type, from raw day counts
    val byType = streamed.groupBy(_.getString(0))
    byType.foreach { case (_, rs) =>
      val cs = rs.map(_.getLong(2))
      val n = cs.length.toLong
      val sm = cs.sum
      val q = cs.map(c => c * c).sum
      rs.foreach { r =>
        val lhs = BigInt(n * r.getLong(2) - sm).pow(2)
        val rhs = 4 * (BigInt(n) * q - BigInt(sm) * sm)
        assert(r.getAs[Boolean]("is_anomaly") == (lhs > rhs),
          s"flag drifted from the integer replay: $r")
      }
    }
  }

  test("stream_mv_maintain converges to the batch refresh; redelivery and reorder are safe") {
    val streamed = StreamOps.streamMvMaintain(spark, sf).collect()
    val batch = graft.operators.ScaleJoins.qMvRefresh(spark, sf).collect()
    assert(streamed.length == batch.length && streamed.nonEmpty)
    streamed.zip(batch).foreach { case (s, b) => assert(s == b, s"$s != $b") }
    // three real waves, each non-empty (a single-wave log would make
    // the incremental loop vacuous)
    val sfDir = sf
    val log = spark.read.schema(StreamOps.mvLogSchema)
      .parquet(s"/tmp/graft_mvlog_${graft.operators.ScaleJoins.corpusTag(sfDir, Seq("orders"))}/b*")
      .cache()
    val waves = (0 to 2).map(w => log.filter(col("wave") === w))
    assert(waves.forall(_.count() > 0), "every arrival wave must be non-empty")
    // at-least-once safety: re-merging an already-applied wave is a
    // no-op (the wave-id struct-max dedupe, NOT additive double count)
    val stale = spark.read.parquet(
        graft.operators.ScaleJoins.ensureStaleMv(spark, sfDir))
      .withColumn("wave", lit(-1))
      .select("yr", "mo", "wave", "rev_cents", "n_orders",
        "min_cents", "max_cents")
    val once = StreamOps.mvMaintainMerge(stale, waves(0))
    val twice = StreamOps.mvMaintainMerge(once, waves(0))
    val a = once.orderBy("yr", "mo", "wave").collect()
    val b = twice.orderBy("yr", "mo", "wave").collect()
    assert(a.length == b.length && a.zip(b).forall { case (x, y) => x == y },
      "redelivered wave must collapse, not double count")
    // order-insensitivity: waves applied in reverse land on the same
    // served summary (change-topic partitions need no global order)
    val fwd = waves.foldLeft(stale)(StreamOps.mvMaintainMerge)
    val rev = waves.reverse.foldLeft(stale)(StreamOps.mvMaintainMerge)
    val f = StreamOps.mvMaintainRollup(fwd).collect()
    val r = StreamOps.mvMaintainRollup(rev).collect()
    assert(f.length == r.length && f.zip(r).forall { case (x, y) => x == y },
      "wave order must not change the summary")
    log.unpersist()
  }

  test("stream_mv_retract converges to the batch retraction; redelivery is a no-op") {
    // the streamed signed-subtract + extrema-patch loop must land on
    // q_mv_retract's one-shot answer (both equal the full recompute
    // over survivors — the shared oracle)
    val streamed = StreamOps.streamMvRetract(spark, sf).collect()
    val batch = graft.operators.ScaleJoins.qMvRetract(spark, sf).collect()
    assert(streamed.length == batch.length && streamed.nonEmpty)
    streamed.zip(batch).foreach { case (s, b) => assert(s == b, s"$s != $b") }
    // three real delete waves (a single-wave log would make the
    // incremental loop vacuous)
    val log = spark.read.schema(StreamOps.retractLogSchema)
      .parquet(s"/tmp/graft_retractlog_${graft.operators.ScaleJoins.corpusTag(sf, Seq("orders"))}/b*")
      .cache()
    val waves = (0 to 2).map(w => log.filter(col("wave") === w))
    assert(waves.forall(_.count() > 0), "every delete wave must be non-empty")
    // at-least-once safety: REDELIVERING a retraction wave is a no-op —
    // the negated partials dedupe at (yr, mo, wave), the key log is
    // distinct, and the extrema recompute is deterministic, so the
    // store after the replay is row-identical (never double-subtracted)
    val orders = Tables.load(spark, sf, "orders")
    val base = spark.read.parquet(
        graft.operators.ScaleJoins.ensureMonthMv(spark, sf))
      .withColumn("wave", lit(-1))
      .select("yr", "mo", "wave", "rev_cents", "n_orders",
        "min_cents", "max_cents")
    val keys0 = spark.range(0).select(col("id").as("o_orderkey"))
    val (p1, k1) = StreamOps.mvRetractApply(orders, base, keys0, waves(0))
    val (p2, k2) = StreamOps.mvRetractApply(orders, p1, k1, waves(0))
    val a = p1.orderBy("yr", "mo", "wave").collect()
    val b = p2.orderBy("yr", "mo", "wave").collect()
    assert(a.length == b.length && a.zip(b).forall { case (x, y) => x == y },
      "a redelivered retraction must collapse, not double-subtract")
    assert(k1.count() == k2.count(),
      "the delete log must dedupe redelivered keys")
    // the subtraction must BITE: wave 0's groups lost rows vs the base
    val w0Groups = waves(0).select(year(col("o_orderdate")).as("yr"),
      month(col("o_orderdate")).as("mo")).distinct().collect()
      .map(r => (r.getInt(0), r.getInt(1))).toSet
    val baseN = base.collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(4)).toMap
    val rolled = p1.groupBy("yr", "mo")
      .agg(sum(col("n_orders")).as("n")).collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(w0Groups.nonEmpty && w0Groups.forall(g => rolled(g) < baseN(g)),
      "every wave-0 group must have fewer rows after the subtract")
    log.unpersist()
  }

  test("stream_scd2's incremental history equals the one-shot batch SCD2") {
    val streamed = StreamOps.streamScd2(spark, sf).collect()
    val batch = graft.operators.Etl.etlScd2(spark, sf).collect()
    assert(streamed.length == batch.length)
    streamed.zip(batch).foreach { case (s, b) => assert(s == b, s"$s != $b") }
    // the history must really be type-2: multi-version keys exist,
    // every key has exactly one open (is_current=1, eff_to_ver null)
    // row, and closed intervals chain eff_to_ver -> next eff_from_ver
    val byKey = streamed.groupBy(_.getLong(0))
    assert(byKey.values.exists(_.length == 3), "no 3-version key")
    byKey.foreach { case (k, rs) =>
      val open = rs.filter(r => r.getInt(3) == 1)
      assert(open.length == 1 && open.head.isNullAt(2),
        s"key $k must have exactly one open interval")
      val sorted = rs.sortBy(_.getInt(1))
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(a.getInt(2) == b.getInt(1),
            s"key $k: interval chain broken at ver ${a.getInt(1)}")
        case _ => ()
      }
    }
  }

  test("anomaly z² overflow past DECIMAL(38,0) fails LOUDLY, never NULL") {
    // counts near long-max push (n·c − S)² past 38 digits; Spark's
    // non-ANSI decimal multiply would return NULL and silently
    // degrade is_anomaly — the raise_error turns that into a failure
    import spark.implicits._
    val huge = Seq(
      ("t", java.sql.Date.valueOf("2020-01-01"), 9000000000000000000L),
      ("t", java.sql.Date.valueOf("2020-01-02"), 0L),
      ("t", java.sql.Date.valueOf("2020-01-03"), 0L))
      .toDF("event_type", "day", "n_events")
    val e = intercept[Exception] {
      StreamOps.anomalyFlags(huge).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => x.getMessage +: msgs(x.getCause))
    // two loud paths, both acceptable: under ANSI (the Spark 4
    // default) the decimal multiply itself throws OUT_OF_RANGE;
    // in a non-ANSI user session the multiply returns NULL and the
    // raise_error guard fires — silent NULL is the only failure mode
    assert(msgs(e).exists(m => m != null &&
      (m.contains("overflowed") || m.contains("NUMERIC_VALUE_OUT_OF_RANGE"))),
      s"expected a loud overflow error, got: $e")
    // and a frame just INSIDE the bound still scores without error
    val fine = Seq(
      ("t", java.sql.Date.valueOf("2020-01-01"), 1000000000000000000L),
      ("t", java.sql.Date.valueOf("2020-01-02"), 0L),
      ("t", java.sql.Date.valueOf("2020-01-03"), 0L))
      .toDF("event_type", "day", "n_events")
    val rows = StreamOps.anomalyFlags(fine).collect()
    assert(rows.length == 3 && rows.forall(!_.isNullAt(3)))
  }

  test("dimension-store maintenance writes ONLY affected buckets, append-only") {
    // the store is generation-per-batch, hive-partitioned by key
    // bucket: a micro-batch lands a NEW generation holding just the
    // buckets containing its keys — every pre-existing file must be
    // BYTE-IDENTICAL afterwards (nothing is ever deleted in the hot
    // path, so there is no commit window where a kill can empty a
    // bucket; at 100 TB: O(affected buckets) written per batch)
    import java.nio.file.{Files, Paths}
    import org.apache.spark.sql.types.IntegerType
    val dir = Files.createTempDirectory("graft_bucket_store").toString
    val store = s"$dir/store"
    val base = Tables.load(spark, sf, "customer")
      .select(col("c_custkey"), lit(0).as("eff_from_ver"),
        lit(null).cast(IntegerType).as("eff_to_ver"),
        lit(1).as("is_current"), col("c_acctbal"), col("c_mktsegment"))
    StreamOps.writeDimStore(base, store)
    // a SINGLE-key change wave: exactly one bucket may be written
    val key = base.agg(min(col("c_custkey"))).collect()(0).getLong(0)
    val w = base.filter(col("c_custkey") === key)
      .withColumn("c_acctbal", col("c_acctbal") + 100.0)
      .withColumn("ver", lit(1))
      .select("c_custkey", "ver", "c_acctbal", "c_mktsegment")
    def snap(): Map[String, String] = {
      val root = Paths.get(store)
      import scala.jdk.CollectionConverters._
      Files.walk(root).iterator().asScala.filter(Files.isRegularFile(_))
        .map { p =>
          val md = java.security.MessageDigest.getInstance("MD5")
          root.relativize(p).toString ->
            md.digest(Files.readAllBytes(p)).map("%02x".format(_)).mkString
        }.toMap
    }
    val before = snap()
    StreamOps.applyDimBatch(spark, store, 0L, w, StreamOps.scd2Merge)
    val after = snap()
    // APPEND-ONLY: every pre-existing file survives byte-identical
    assert(before.forall { case (p, h) => after.get(p).contains(h) },
      "no pre-existing file may change or disappear")
    // the new generation holds exactly the one affected bucket
    val added = after.keySet -- before.keySet
    val addedBkts = added.flatMap(p =>
      "bkt=(\\d+)".r.findFirstMatchIn(p).map(_.group(1).toInt))
    assert(added.forall(_.startsWith("g1/")),
      s"all new files must land in generation g1: $added")
    assert(addedBkts.size == 1,
      s"one key changed, so exactly one bucket may be written: $addedBkts")
    // the resolved history is exactly the one-shot merge
    val got = StreamOps.readDimStore(spark, store)
      .orderBy("c_custkey", "eff_from_ver").collect()
    val want = StreamOps.scd2Merge(base, w)
      .orderBy("c_custkey", "eff_from_ver").collect()
    assert(got.nonEmpty && got.length == want.length &&
      got.zip(want).forall { case (x, y) => x == y },
      "the affected-bucket write must produce the same history as a full merge")
    // and an UNCOMMITTED generation (no _SUCCESS — a mid-write kill)
    // is invisible: readers resolve past it, replay rebuilds it
    val g2 = new java.io.File(s"$store/g2/bkt=99")
    assert(g2.mkdirs())
    Files.writeString(Paths.get(s"$store/g2/bkt=99/junk"), "partial")
    val still = StreamOps.readDimStore(spark, store)
      .orderBy("c_custkey", "eff_from_ver").collect()
    assert(still.length == got.length &&
      still.zip(got).forall { case (x, y) => x == y },
      "a generation without _SUCCESS must be invisible to readers")
  }

  test("dimension-store compaction folds a full snapshot after dimCompactEvery partial generations") {
    // LSM major compaction: after dimCompactEvery partial generations
    // past the last full snapshot, the next batch's generation holds
    // EVERY bucket, so reads resolve from a bounded set of dirs
    // instead of stitching state from an ever-growing generation
    // chain — while the append-only contract (no pre-existing file
    // ever changes) holds through the compacting write too
    import java.nio.file.{Files, Paths}
    import org.apache.spark.sql.types.IntegerType
    val dir = Files.createTempDirectory("graft_compact_store").toString
    val store = s"$dir/store"
    val base = Tables.load(spark, sf, "customer")
      .select(col("c_custkey"), lit(0).as("eff_from_ver"),
        lit(null).cast(IntegerType).as("eff_to_ver"),
        lit(1).as("is_current"), col("c_acctbal"), col("c_mktsegment"))
    StreamOps.writeDimStore(base, store)
    val keys = base.select("c_custkey").orderBy("c_custkey")
      .limit(StreamOps.dimCompactEvery + 1).collect().map(_.getLong(0))
    def wave(k: Long, ver: Int) = base.filter(col("c_custkey") === k)
      .withColumn("c_acctbal", col("c_acctbal") + ver * 100.0)
      .withColumn("ver", lit(ver))
      .select("c_custkey", "ver", "c_acctbal", "c_mktsegment")
    def snap(): Map[String, String] = {
      val root = Paths.get(store)
      import scala.jdk.CollectionConverters._
      Files.walk(root).iterator().asScala.filter(Files.isRegularFile(_))
        .map { p =>
          val md = java.security.MessageDigest.getInstance("MD5")
          root.relativize(p).toString ->
            md.digest(Files.readAllBytes(p)).map("%02x".format(_)).mkString
        }.toMap
    }
    // batchIds 0..dimCompactEvery-1 land partial generations; the scan
    // at batchId = dimCompactEvery sees that many partials past g0 and
    // must compact
    (0 until StreamOps.dimCompactEvery).foreach { b =>
      StreamOps.applyDimBatch(spark, store, b.toLong,
        wave(keys(b), b + 1), StreamOps.scd2Merge)
    }
    val resolvedBefore = StreamOps.resolveDimStore(store, Long.MaxValue)
    val before = snap()
    StreamOps.applyDimBatch(spark, store, StreamOps.dimCompactEvery.toLong,
      wave(keys(StreamOps.dimCompactEvery), 1), StreamOps.scd2Merge)
    val after = snap()
    assert(before.forall { case (p, h) => after.get(p).contains(h) },
      "append-only must hold through compaction: no pre-existing file may change")
    val gN = s"g${StreamOps.dimCompactEvery + 1}"
    val added = after.keySet -- before.keySet
    assert(added.nonEmpty && added.forall(_.startsWith(s"$gN/")),
      s"compacting batch must write only into $gN: $added")
    // the compacted generation covers every bucket the store had
    val resolvedAfter = StreamOps.resolveDimStore(store, Long.MaxValue)
    assert(resolvedAfter.map(_._1).toSet == resolvedBefore.map(_._1).toSet,
      "compaction must not lose buckets")
    assert(resolvedAfter.forall(_._2.contains(s"/$gN/")),
      s"after compaction every bucket must resolve to $gN: $resolvedAfter")
    // and the history equals the same merges applied one-shot
    val want = (0 to StreamOps.dimCompactEvery).foldLeft(base) { (acc, b) =>
      StreamOps.scd2Merge(acc,
        wave(keys(b), if (b < StreamOps.dimCompactEvery) b + 1 else 1))
    }.orderBy("c_custkey", "eff_from_ver").collect()
    val got = StreamOps.readDimStore(spark, store)
      .orderBy("c_custkey", "eff_from_ver").collect()
    assert(got.length == want.length &&
      got.zip(want).forall { case (x, y) => x == y },
      "compacted store must serve the same history as one-shot merges")
  }

  test("a replayed COMPACTING batch rebuilds its generation identically (at-least-once)") {
    // the compaction decision reads only generations <= batchId, so a
    // redelivered batch must see the identical scan, make the
    // identical fold-everything choice, and overwrite-rebuild its
    // generation to the same ROWS — with every older generation
    // byte-identical (the append-only contract through replay)
    import java.nio.file.{Files, Paths}
    import org.apache.spark.sql.types.IntegerType
    val dir = Files.createTempDirectory("graft_compact_replay").toString
    val store = s"$dir/store"
    val base = Tables.load(spark, sf, "customer")
      .select(col("c_custkey"), lit(0).as("eff_from_ver"),
        lit(null).cast(IntegerType).as("eff_to_ver"),
        lit(1).as("is_current"), col("c_acctbal"), col("c_mktsegment"))
    StreamOps.writeDimStore(base, store)
    val keys = base.select("c_custkey").orderBy("c_custkey")
      .limit(StreamOps.dimCompactEvery + 1).collect().map(_.getLong(0))
    def wave(k: Long, ver: Int) = base.filter(col("c_custkey") === k)
      .withColumn("c_acctbal", col("c_acctbal") + ver * 100.0)
      .withColumn("ver", lit(ver))
      .select("c_custkey", "ver", "c_acctbal", "c_mktsegment")
    (0 until StreamOps.dimCompactEvery).foreach { b =>
      StreamOps.applyDimBatch(spark, store, b.toLong,
        wave(keys(b), b + 1), StreamOps.scd2Merge)
    }
    val cb = StreamOps.dimCompactEvery.toLong // the compacting batchId
    StreamOps.applyDimBatch(spark, store, cb,
      wave(keys(StreamOps.dimCompactEvery), 1), StreamOps.scd2Merge)
    val served1 = StreamOps.readDimStore(spark, store)
      .orderBy("c_custkey", "eff_from_ver").collect()
    def olderGenFiles(): Map[String, Long] = {
      import scala.jdk.CollectionConverters._
      val root = Paths.get(store)
      Files.walk(root).iterator().asScala.filter(Files.isRegularFile(_))
        .map(p => root.relativize(p).toString -> Files.size(p))
        .filter { case (rel, _) => !rel.startsWith(s"g${cb + 1}/") }
        .toMap
    }
    val olderBefore = olderGenFiles()
    // redelivery: the SAME batch id and payload applied again
    StreamOps.applyDimBatch(spark, store, cb,
      wave(keys(StreamOps.dimCompactEvery), 1), StreamOps.scd2Merge)
    assert(olderGenFiles() == olderBefore,
      "replay must not touch any generation below its own")
    val served2 = StreamOps.readDimStore(spark, store)
      .orderBy("c_custkey", "eff_from_ver").collect()
    assert(served1.length == served2.length &&
      served1.zip(served2).forall { case (x, y) => x == y },
      "replayed compaction must serve the identical history")
    // and it still compacted: every bucket resolves to g(cb+1)
    assert(StreamOps.resolveDimStore(store, Long.MaxValue)
      .forall(_._2.contains(s"/g${cb + 1}/")),
      "the replayed generation must still be the full snapshot")
  }

  test("retention vacuum reclaims garbage generations and never races a reader") {
    // the GC-vs-reader kill window: a reader that RESOLVED its paths
    // before the vacuum and reads them after must be unaffected. The
    // safety is structural — latest-per-bucket is always ≥ the newest
    // full snapshot, so no resolve (before, during, or after GC) ever
    // returns a path the vacuum deletes — which is why no retention
    // horizon is needed, unlike Delta/Iceberg VACUUM
    import java.nio.file.{Files, Paths}
    import org.apache.spark.sql.types.IntegerType
    val dir = Files.createTempDirectory("graft_vacuum_store").toString
    val store = s"$dir/store"
    val base = Tables.load(spark, sf, "customer")
      .select(col("c_custkey"), lit(0).as("eff_from_ver"),
        lit(null).cast(IntegerType).as("eff_to_ver"),
        lit(1).as("is_current"), col("c_acctbal"), col("c_mktsegment"))
    StreamOps.writeDimStore(base, store)
    val keys = base.select("c_custkey").orderBy("c_custkey")
      .limit(3).collect().map(_.getLong(0))
    def wave(k: Long, ver: Int) = base.filter(col("c_custkey") === k)
      .withColumn("c_acctbal", col("c_acctbal") + ver * 100.0)
      .withColumn("ver", lit(ver))
      .select("c_custkey", "ver", "c_acctbal", "c_mktsegment")
    // cadence 2 over 3 single-key batches: g1, g2 partial, batch 2
    // compacts into full g3 — g0..g2 become garbage
    (0 until 3).foreach { b =>
      StreamOps.applyDimBatch(spark, store, b.toLong,
        wave(keys(b), b + 1), StreamOps.scd2Merge, compactEvery = 2)
    }
    // an uncommitted dir (mid-write kill) must survive the vacuum:
    // deleting a live writer's target is the one REAL race
    assert(new java.io.File(s"$store/g9/bkt=99").mkdirs())
    Files.writeString(Paths.get(s"$store/g9/bkt=99/junk"), "partial")
    // the racing reader: resolve BEFORE the vacuum...
    val resolvedBefore = StreamOps.resolveDimStore(store, Long.MaxValue)
    val servedBefore = StreamOps.readDimStore(spark, store)
      .orderBy("c_custkey", "eff_from_ver").collect()
    // drained-pipeline model: every batch committed to the checkpoint,
    // and the vacuum READS that horizon from the commit log itself
    val decisions = StreamOps.vacuumDimStore(store,
      writeCommits(s"$dir/ckpt", 0 to 2))
    // the retention decision as data: keep g3, reclaim g0..g2
    assert(decisions.toMap == Map(0L -> false, 1L -> false,
      2L -> false, 3L -> true), s"unexpected decisions: $decisions")
    assert(!new java.io.File(s"$store/g0").exists() &&
      !new java.io.File(s"$store/g1").exists() &&
      !new java.io.File(s"$store/g2").exists(),
      "reclaimed generations must be physically gone")
    assert(Files.exists(Paths.get(s"$store/g9/bkt=99/junk")),
      "an uncommitted generation must never be vacuumed")
    // ...and READ AFTER it: every pre-resolved path is still live,
    // resolves identically, and serves the identical history
    assert(resolvedBefore.forall(p => new java.io.File(p._2).exists()),
      "vacuum deleted a path a pre-GC reader had resolved")
    assert(StreamOps.resolveDimStore(store, Long.MaxValue) == resolvedBefore,
      "resolution must be identical across the vacuum")
    val servedAfter = spark.read
      .parquet(resolvedBefore.map(_._2): _*)
      .orderBy("c_custkey", "eff_from_ver").collect()
    assert(servedAfter.length == servedBefore.length &&
      servedAfter.zip(servedBefore).forall { case (x, y) => x == y },
      "the racing reader must serve the identical history")
    // survivors re-merged equal one-shot state
    val want = (0 until 3).foldLeft(base) { (acc, b) =>
      StreamOps.scd2Merge(acc, wave(keys(b), b + 1))
    }.orderBy("c_custkey", "eff_from_ver").collect()
    assert(servedAfter.length == want.length &&
      servedAfter.zip(want).forall { case (x, y) => x == y },
      "the vacuumed store must equal the one-shot merge")
  }

  test("vacuum at the measured replay horizon keeps the in-flight batch's inputs (replay survives GC)") {
    // the kill window the commit-log horizon exists for: batch b
    // major-compacts and COMMITS full generation g(b+1), the process
    // dies before the streaming checkpoint commits b, and the GC job
    // runs before restart. The replay of b reads only generations
    // ≤ b — a vacuum that reclaimed up to g(b+1) would have deleted
    // every one of them and wedged the stream permanently. The
    // horizon is READ from the checkpoint's commits/ log: batch b's
    // commit record is absent, so fullness is judged below g(b+1)
    import java.nio.file.Files
    import org.apache.spark.sql.types.IntegerType
    val dir = Files.createTempDirectory("graft_vacuum_replay").toString
    val store = s"$dir/store"
    val base = Tables.load(spark, sf, "customer")
      .select(col("c_custkey"), lit(0).as("eff_from_ver"),
        lit(null).cast(IntegerType).as("eff_to_ver"),
        lit(1).as("is_current"), col("c_acctbal"), col("c_mktsegment"))
    StreamOps.writeDimStore(base, store)
    val keys = base.select("c_custkey").orderBy("c_custkey")
      .limit(3).collect().map(_.getLong(0))
    def wave(k: Long, ver: Int) = base.filter(col("c_custkey") === k)
      .withColumn("c_acctbal", col("c_acctbal") + ver * 100.0)
      .withColumn("ver", lit(ver))
      .select("c_custkey", "ver", "c_acctbal", "c_mktsegment")
    (0 until 3).foreach { b =>
      StreamOps.applyDimBatch(spark, store, b.toLong,
        wave(keys(b), b + 1), StreamOps.scd2Merge, compactEvery = 2)
    }
    // g3 (batch 2's compaction) is full, but batch 2's commit record
    // is missing from the checkpoint — it may replay. The measured
    // horizon must judge fullness BELOW g3 and keep everything a
    // replay of batch 2 reads (here: all of g0..g2)
    val decisions = StreamOps.vacuumDimStore(store,
      writeCommits(s"$dir/ckpt", 0 to 1))
    assert(decisions.toMap == Map(0L -> true, 1L -> true,
      2L -> true, 3L -> true), s"unexpected decisions: $decisions")
    // the replay itself: same batchId, same payload, post-GC store
    StreamOps.applyDimBatch(spark, store, 2L,
      wave(keys(2), 3), StreamOps.scd2Merge, compactEvery = 2)
    val want = (0 until 3).foldLeft(base) { (acc, b) =>
      StreamOps.scd2Merge(acc, wave(keys(b), b + 1))
    }.orderBy("c_custkey", "eff_from_ver").collect()
    val got = StreamOps.readDimStore(spark, store)
      .orderBy("c_custkey", "eff_from_ver").collect()
    assert(got.length == want.length &&
      got.zip(want).forall { case (x, y) => x == y },
      "replayed batch after a default-horizon vacuum must serve the one-shot history")
    // and once the full snapshot g3 drops BELOW the horizon (a later
    // generation exists above it), the default-horizon vacuum does
    // reclaim the garbage under g3
    StreamOps.applyDimBatch(spark, store, 3L,
      wave(keys(0), 9), StreamOps.scd2Merge, compactEvery = 2)
    val d2 = StreamOps.vacuumDimStore(store,
      writeCommits(s"$dir/ckpt", 0 to 2))
    // batch 3 uncommitted → fullness judged below g4: newest full
    // there is g3 → g0..g2 go
    assert(d2.toMap == Map(0L -> false, 1L -> false, 2L -> false,
      3L -> true, 4L -> true), s"unexpected decisions: $d2")
  }

  /** Fabricated Structured Streaming commit log: one plain-digit file
    * per committed batch id, the exact on-disk shape
    * StreamOps.maxCommittedBatch reads. Returns the checkpoint dir. */
  private def writeCommits(ckpt: String, batchIds: Range): String = {
    val dir = new java.io.File(ckpt, "commits")
    dir.mkdirs()
    batchIds.foreach(b => java.nio.file.Files.writeString(
      new java.io.File(dir, b.toString).toPath, "v1\n{}"))
    ckpt
  }

  test("vacuum with a commit log trailing by more than one batch keeps every replayable input") {
    // a checkpoint whose commits/ log trails the generation store by
    // >1 batch (two die-after-write windows back to back, or a copied
    // checkpoint behind the store): batches 1 and 2 both lack commit
    // records, so BOTH may replay — the measured horizon must judge
    // fullness at g1 and reclaim nothing, where the old fixed
    // depth=1 constant would have judged at g2 and, had g2 been full,
    // deleted batch 1's inputs
    import java.nio.file.Files
    import org.apache.spark.sql.types.IntegerType
    val dir = Files.createTempDirectory("graft_vacuum_trail").toString
    val store = s"$dir/store"
    val base = Tables.load(spark, sf, "customer")
      .select(col("c_custkey"), lit(0).as("eff_from_ver"),
        lit(null).cast(IntegerType).as("eff_to_ver"),
        lit(1).as("is_current"), col("c_acctbal"), col("c_mktsegment"))
    StreamOps.writeDimStore(base, store)
    val keys = base.select("c_custkey").orderBy("c_custkey")
      .limit(3).collect().map(_.getLong(0))
    def wave(k: Long, ver: Int) = base.filter(col("c_custkey") === k)
      .withColumn("c_acctbal", col("c_acctbal") + ver * 100.0)
      .withColumn("ver", lit(ver))
      .select("c_custkey", "ver", "c_acctbal", "c_mktsegment")
    (0 until 3).foreach { b =>
      StreamOps.applyDimBatch(spark, store, b.toLong,
        wave(keys(b), b + 1), StreamOps.scd2Merge, compactEvery = 2)
    }
    // only batch 0 committed; g3 (batch 2's compaction) is full but
    // sits TWO batches above the horizon
    val decisions = StreamOps.vacuumDimStore(store,
      writeCommits(s"$dir/ckpt", 0 to 0))
    assert(decisions.toMap == Map(0L -> true, 1L -> true,
      2L -> true, 3L -> true), s"unexpected decisions: $decisions")
    // both uncommitted batches replay against the post-GC store and
    // still serve the one-shot history
    (1 until 3).foreach { b =>
      StreamOps.applyDimBatch(spark, store, b.toLong,
        wave(keys(b), b + 1), StreamOps.scd2Merge, compactEvery = 2)
    }
    val want = (0 until 3).foldLeft(base) { (acc, b) =>
      StreamOps.scd2Merge(acc, wave(keys(b), b + 1))
    }.orderBy("c_custkey", "eff_from_ver").collect()
    val got = StreamOps.readDimStore(spark, store)
      .orderBy("c_custkey", "eff_from_ver").collect()
    assert(got.length == want.length &&
      got.zip(want).forall { case (x, y) => x == y },
      "replays after a trailing-commit-log vacuum must serve the one-shot history")
  }

  test("AS OF TIMESTAMP resolves between/at/before commits through the event-time manifests") {
    import java.nio.file.Files
    import org.apache.spark.sql.types.IntegerType
    val dir = Files.createTempDirectory("graft_asof_ts").toString
    val store = s"$dir/store"
    val base = Tables.load(spark, sf, "customer")
      .select(col("c_custkey"), lit(0).as("eff_from_ver"),
        lit(null).cast(IntegerType).as("eff_to_ver"),
        lit(1).as("is_current"), col("c_acctbal"), col("c_mktsegment"))
    // g0 committed at event-time 1000
    StreamOps.writeDimStore(base, store, eventTimeMicros = Some(1000L))
    val keys = base.select("c_custkey").orderBy("c_custkey")
      .limit(3).collect().map(_.getLong(0))
    def wave(k: Long, ver: Int, tsMicros: Long) =
      base.filter(col("c_custkey") === k)
        .withColumn("c_acctbal", col("c_acctbal") + ver * 100.0)
        .withColumn("ver", lit(ver))
        .withColumn("change_ts", expr(s"timestamp_micros(${tsMicros}L)"))
        .select("c_custkey", "ver", "c_acctbal", "c_mktsegment",
          "change_ts")
    // waves at event times 2000 and 3000, then a LATE wave at 2500
    StreamOps.applyDimBatch(spark, store, 0L, wave(keys(0), 1, 2000L),
      StreamOps.scd2Merge)
    StreamOps.applyDimBatch(spark, store, 1L, wave(keys(1), 2, 3000L),
      StreamOps.scd2Merge)
    StreamOps.applyDimBatch(spark, store, 2L, wave(keys(2), 3, 2500L),
      StreamOps.scd2Merge)
    // manifests: cumulative max → g0=1000, g1=2000, g2=3000, g3=3000
    assert((0 to 3).map(g => StreamOps.readGenEventTime(store, g.toLong))
      == Seq(Some(1000L), Some(2000L), Some(3000L), Some(3000L)))
    // BETWEEN two commits → the EARLIER generation
    assert(StreamOps.resolveAsOfTimestamp(store, 2500L) == 1L)
    assert(StreamOps.resolveAsOfTimestamp(store, 2999L) == 1L)
    // exactly AT a commit → that generation
    assert(StreamOps.resolveAsOfTimestamp(store, 2000L) == 1L)
    assert(StreamOps.resolveAsOfTimestamp(store, 1000L) == 0L)
    // at/after the newest manifest time → the NEWEST such generation
    // (g3, not g2): the late wave's rows live only in g3, and AS OF
    // 3000 must see every event ≤ 3000 — why the manifest is a
    // cumulative max, not a per-batch max
    assert(StreamOps.resolveAsOfTimestamp(store, 3000L) == 3L)
    assert(StreamOps.resolveAsOfTimestamp(store, 9999L) == 3L)
    // BEFORE the first commit → error, not an empty guess
    val e = intercept[IllegalArgumentException] {
      StreamOps.resolveAsOfTimestamp(store, 999L)
    }
    assert(e.getMessage.contains("precedes the first commit"))
    // the resolved snapshot is the exact historical state: AS OF 2500
    // serves g1 = base + wave 1 only
    val got = spark.read.parquet(StreamOps.resolveDimStore(store,
        StreamOps.resolveAsOfTimestamp(store, 2500L)).map(_._2): _*)
      .orderBy("c_custkey", "eff_from_ver").collect()
    val want = StreamOps.scd2Merge(base, wave(keys(0), 1, 2000L)
        .drop("change_ts"))
      .orderBy("c_custkey", "eff_from_ver").collect()
    assert(got.length == want.length &&
      got.zip(want).forall { case (x, y) => x == y },
      "AS OF between commits must serve the earlier generation's exact state")
  }

  test("as-of reads below a major compaction return the exact historical state") {
    // time travel through the append-only layout: a scan bounded at
    // generation b sees exactly the post-batch-b state even after a
    // LATER major compaction folded everything — compaction adds a
    // generation, it never rewrites history. Single-key waves make
    // g1/g2 deterministically partial, so batch 2 compacts at
    // cadence 2 and bounds 0..2 all read below the compaction.
    import java.nio.file.Files
    import org.apache.spark.sql.types.IntegerType
    val dir = Files.createTempDirectory("graft_asof_store").toString
    val store = s"$dir/store"
    val base = Tables.load(spark, sf, "customer")
      .select(col("c_custkey"), lit(0).as("eff_from_ver"),
        lit(null).cast(IntegerType).as("eff_to_ver"),
        lit(1).as("is_current"), col("c_acctbal"), col("c_mktsegment"))
    StreamOps.writeDimStore(base, store)
    val keys = base.select("c_custkey").orderBy("c_custkey")
      .limit(3).collect().map(_.getLong(0))
    def wave(k: Long, ver: Int) = base.filter(col("c_custkey") === k)
      .withColumn("c_acctbal", col("c_acctbal") + ver * 100.0)
      .withColumn("ver", lit(ver))
      .select("c_custkey", "ver", "c_acctbal", "c_mktsegment")
    (0 until 3).foreach { b =>
      StreamOps.applyDimBatch(spark, store, b.toLong,
        wave(keys(b), b + 1), StreamOps.scd2Merge, compactEvery = 2)
    }
    // the compaction really happened: every bucket resolves to g3
    assert(StreamOps.resolveDimStore(store, Long.MaxValue)
      .forall(_._2.contains("/g3/")), "batch 2 must have compacted")
    // every bound reads the exact progressive fold — bounds 0..2 sit
    // strictly below the compaction
    (0 to 3).foreach { bound =>
      val got = spark.read
        .parquet(StreamOps.resolveDimStore(store, bound.toLong).map(_._2): _*)
        .orderBy("c_custkey", "eff_from_ver").collect()
      val want = (0 until bound).foldLeft(base) { (acc, b) =>
        StreamOps.scd2Merge(acc, wave(keys(b), b + 1))
      }.orderBy("c_custkey", "eff_from_ver").collect()
      assert(got.length == want.length &&
        got.zip(want).forall { case (x, y) => x == y },
        s"as-of bound $bound diverged from the progressive fold")
    }
  }

  test("a sparse-bucket dimension still detects full snapshots (compaction stays amortized)") {
    // regression for the count-based fullness test: a dimension whose
    // keys never hash into all 16 buckets would never produce a
    // "full" generation by count, so once the cadence was exceeded
    // EVERY batch would major-compact, rewriting the whole dimension
    // per micro-batch forever. Fullness is prefix-union coverage, so
    // a compaction over a 3-bucket dimension counts as full and the
    // next batch goes back to a bounded partial write.
    import java.nio.file.Files
    import org.apache.spark.sql.types.IntegerType
    val dir = Files.createTempDirectory("graft_sparse_store").toString
    val store = s"$dir/store"
    val all = Tables.load(spark, sf, "customer")
      .select(col("c_custkey"), lit(0).as("eff_from_ver"),
        lit(null).cast(IntegerType).as("eff_to_ver"),
        lit(1).as("is_current"), col("c_acctbal"), col("c_mktsegment"))
    val keys = all.select("c_custkey").orderBy("c_custkey")
      .limit(4).collect().map(_.getLong(0))
    val base = all.filter(col("c_custkey").isin(keys: _*))
    StreamOps.writeDimStore(base, store)
    // the premise: this dimension occupies FEWER buckets than the
    // bucket count, so count-based fullness can never trigger
    val g0Buckets = StreamOps.resolveDimStore(store, Long.MaxValue).size
    assert(g0Buckets < StreamOps.dimBuckets,
      s"fixture must be sparse: $g0Buckets buckets")
    def wave(k: Long, ver: Int) = base.filter(col("c_custkey") === k)
      .withColumn("c_acctbal", col("c_acctbal") + ver * 100.0)
      .withColumn("ver", lit(ver))
      .select("c_custkey", "ver", "c_acctbal", "c_mktsegment")
    // batches 0,1 partial; batch 2 compacts (cadence 2) into full g3
    (0 until 3).foreach { b =>
      StreamOps.applyDimBatch(spark, store, b.toLong,
        wave(keys(b), b + 1), StreamOps.scd2Merge, compactEvery = 2)
    }
    assert(StreamOps.resolveDimStore(store, Long.MaxValue)
      .forall(_._2.contains("/g3/")),
      "batch 2 must have compacted the sparse dimension into g3")
    // the regression: batch 3 must see g3 as FULL and write a
    // bounded single-bucket partial, not another major compaction
    StreamOps.applyDimBatch(spark, store, 3L,
      wave(keys(3), 1), StreamOps.scd2Merge, compactEvery = 2)
    val g4 = new java.io.File(s"$store/g4").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("bkt="))
    assert(g4.length == 1,
      s"post-compaction batch must write one affected bucket, " +
        s"not re-compact: ${g4.map(_.getName).toSeq}")
    // and the served history still equals the one-shot fold
    val want = (0 until 4).foldLeft(base) { (acc, b) =>
      StreamOps.scd2Merge(acc, wave(keys(b), if (b < 3) b + 1 else 1))
    }.orderBy("c_custkey", "eff_from_ver").collect()
    val got = StreamOps.readDimStore(spark, store)
      .orderBy("c_custkey", "eff_from_ver").collect()
    assert(got.length == want.length &&
      got.zip(want).forall { case (x, y) => x == y },
      "sparse-bucket store must serve the one-shot history")
  }

  test("scd2Merge is idempotent and order-insensitive (at-least-once safety)") {
    import org.apache.spark.sql.functions.lit
    val base = Tables.load(spark, sf, "customer")
      .select(col("c_custkey"), lit(0).as("eff_from_ver"),
        lit(null).cast("int").as("eff_to_ver"), lit(1).as("is_current"),
        col("c_acctbal"), col("c_mktsegment"))
    val w1 = Tables.load(spark, sf, "customer")
      .filter(col("c_custkey") % 10 === 1)
      .select(col("c_custkey"), lit(1).as("ver"),
        (col("c_acctbal") + 100.0).as("c_acctbal"), col("c_mktsegment"))
    val w2 = Tables.load(spark, sf, "customer")
      .filter(col("c_custkey") % 5 === 1)
      .select(col("c_custkey"), lit(2).as("ver"),
        (col("c_acctbal") + when(col("c_custkey") % 10 === 1, 350.0)
          .otherwise(250.0)).as("c_acctbal"),
        lit("MACHINERY").as("c_mktsegment"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    val once = StreamOps.scd2Merge(StreamOps.scd2Merge(base, w1), w2)
    // replaying an applied wave (checkpoint recovery) is a no-op
    assert(rows(StreamOps.scd2Merge(once, w1)) == rows(once))
    // waves applied in REVERSE order converge to the same history:
    // versions, not arrival, decide the intervals
    val swapped = StreamOps.scd2Merge(StreamOps.scd2Merge(base, w2), w1)
    assert(rows(swapped) == rows(once))
  }

  test("stream_join (stream-stream interval join) equals its batch twin") {
    import org.apache.spark.sql.streaming.StreamingQueryListener
    import StreamingQueryListener._
    // the memory sink's row count, summed over the query's own progress
    // reports (streamJoin drops the sink view before it returns)
    val sinkRows = new java.util.concurrent.ConcurrentHashMap[java.util.UUID, java.lang.Long]
    val ended = new java.util.concurrent.CountDownLatch(1)
    val listener = new StreamingQueryListener {
      // delivered synchronously from start(), before any progress event
      override def onQueryStarted(e: QueryStartedEvent): Unit =
        if (Option(e.name).exists(_.startsWith("stream_join_"))) sinkRows.put(e.id, 0L)
      // an idle trigger reports -1: it wrote nothing
      override def onQueryProgress(e: QueryProgressEvent): Unit =
        sinkRows.computeIfPresent(e.progress.id,
          (_, n) => n + math.max(e.progress.sink.numOutputRows, 0L))
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
        if (sinkRows.containsKey(e.id)) ended.countDown()
    }
    val streams = StreamOps.streamingSessionForTest(spark).streams
    streams.addListener(listener)
    val streamed =
      try {
        val rows = StreamOps.streamJoin(spark, sf).collect()
        // progress events precede the termination event on the bus
        assert(ended.await(60, java.util.concurrent.TimeUnit.SECONDS))
        rows
      } finally streams.removeListener(listener)
    assert(sinkRows.size == 1, s"stream_join queries seen: ${sinkRows.keySet}")
    val sinkHeld = sinkRows.values.iterator.next().longValue
    val batch = StreamOps.batchJoin(spark, sf).collect()
    assert(streamed.nonEmpty && streamed.length == batch.length)
    streamed.zip(batch).foreach { case (s, b) => assert(s == b) }
    // the scale invariant of the chained join->agg shape: the memory
    // sink held per-(user, 6h window) AGGREGATE rows — exactly the
    // group count of the batch pair set — never the raw pairs
    import org.apache.spark.sql.functions._
    val ev = Tables.load(spark, sf, "events")
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"))
    val pairs = clicks.join(purchases,
      col("c_user") === col("p_user") &&
        col("p_ts") > col("c_ts") &&
        col("p_ts") <= col("c_ts") + expr("INTERVAL 2 HOURS"))
    val nPairs = pairs.count()
    val nGroups = pairs
      .groupBy(col("c_user"), window(col("c_ts"), "6 hours")).count().count()
    assert(sinkHeld == nGroups, s"sink held $sinkHeld rows, want $nGroups groups")
    // at sf0.001 groups may hold a single pair each, so == is legal;
    // the structural claim is sink rows track GROUPS, bounded by pairs
    assert(sinkHeld <= nPairs,
      s"sink rows should be aggregates (<= $nPairs raw pairs)")
  }

  test("mm_dedup: real payload bytes hash into exactly the id families") {
    import graft.operators.MultimodalOps
    val got = MultimodalOps.mmDedup(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val ids = Tables.load(spark, sf, "documents")
      .select("doc_id").collect().map(_.getLong(0))
    val exp = ids.groupBy(_ / MultimodalOps.mmDupFamily).values
      .map(g => (g.min, g.size.toLong)).toSeq.sorted
    assert(got.toSeq == exp)
    // distinct families really carry distinct bytes (collision sanity
    // on a sample pair) and same-family bytes are identical
    assert(!java.util.Arrays.equals(
      MultimodalOps.payloadFor(0L), MultimodalOps.payloadFor(1L)))
    assert(java.util.Arrays.equals(
      MultimodalOps.payloadFor(3L), MultimodalOps.payloadFor(3L)))
    // dedup is real: some family has more than one member
    assert(got.exists(_._2 > 1L))
  }

  test("mm_binary_meta: real ImageIO decode of real PNG/BMP payloads") {
    import graft.operators.MultimodalOps
    val df = MultimodalOps.mmBinaryMeta(spark, sf)
    val rows = df.collect()
    assert(rows.length == 500)
    assert(df.columns.toSeq == Seq("doc_id", "n_bytes", "magic_hex",
      "payload_crc", "width", "height", "n_frames", "out_width",
      "out_height", "sampled_frames", "decoder"))
    rows.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      if (MultimodalOps.isOpaque(id)) {
        // non-image payloads take the documented fallback branch
        assert(r.getAs[String]("decoder") == "opaque")
        assert(r.getAs[Int]("width") == -1 && r.getAs[Int]("n_frames") == 0)
        assert(r.getAs[String]("sampled_frames") == "")
      } else {
        // TRUE decoded dimensions of real image bytes — ImageIO read
        // the payload the generator encoded (incl. real multi-frame
        // TIFF enumeration via getNumImages)
        assert(r.getAs[Int]("width") == MultimodalOps.widthFor(id))
        assert(r.getAs[Int]("height") == MultimodalOps.heightFor(id))
        assert(r.getAs[Int]("n_frames") == MultimodalOps.framesFor(id))
        assert(r.getAs[String]("decoder") ==
          s"imageio:${MultimodalOps.fmtFor(id)}+resize224+sample4")
        // real resize preserves the 224 bound on the long edge
        assert(math.max(r.getAs[Int]("out_width"), r.getAs[Int]("out_height")) == 224)
        val n = r.getAs[Int]("n_frames")
        val frames = r.getAs[String]("sampled_frames").split(",").map(_.toInt).toSeq
        assert(frames.size == math.min(n, 4) &&
          frames.forall(f => f >= 0 && f < n) &&
          frames == frames.sorted)
        if (n > 1) assert(frames.distinct.size == frames.size)
      }
      // payload magic bytes match the claimed codec
      val magic = r.getAs[String]("magic_hex")
      MultimodalOps.fmtFor(id) match {
        case "png" => assert(magic == "89504E47")
        case "bmp" => assert(magic.startsWith("424D"))
        case "tiff" => // II*\0 little- or MM\0* big-endian
          assert(magic == "49492A00" || magic == "4D4D002A", magic)
        case _ => assert(magic == "6F706171") // "opaq"
      }
    }
    // deterministic across runs
    val again = MultimodalOps.mmBinaryMeta(spark, sf).collect()
    assert(rows.map(_.toString).sorted.sameElements(again.map(_.toString).sorted))
    // payload_crc is the one column the DuckDB oracle CARRIES from
    // the published artifact instead of recomputing (no CRC32 in
    // DuckDB) — close it here: recompute CRC32 from the published
    // BYTES independently and match it against the key's output
    val crcOut = rows.map(r =>
      r.getAs[Long]("doc_id") -> r.getAs[Long]("payload_crc")).toMap
    val published = spark.read
      .parquet(s"${MultimodalOps.mediaMetaDir(sf)}/payloads")
      .collect().map { r =>
        val crc = new java.util.zip.CRC32()
        crc.update(r.getAs[Array[Byte]]("payload"))
        (r.getAs[Long]("doc_id"), crc.getValue,
          r.getAs[Long]("payload_crc"))
      }
    assert(published.length == rows.length)
    published.foreach { case (id, recomputed, carried) =>
      assert(recomputed == carried && crcOut(id) == recomputed,
        s"doc $id: CRC32 of published bytes $recomputed != " +
          s"artifact $carried / output ${crcOut(id)}")
    }
  }

  test("mm_patches tiles the decoded raster into an index-pinned grid") {
    import graft.operators.MultimodalOps
    val rows = MultimodalOps.mmPatches(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2), r.getInt(3),
        r.getInt(4), r.getInt(5), r.getLong(6))).toMap
    assert(rows.nonEmpty)
    rows.foreach { case (id, (w, h, npx, npy, np, wsum)) =>
      if (MultimodalOps.isOpaque(id)) {
        assert((w, h, npx, npy, np, wsum) == ((-1, -1, 0, 0, 0, -1L)))
      } else {
        assert(w == MultimodalOps.widthFor(id) &&
          h == MultimodalOps.heightFor(id))
        assert(npx == (w + 15) / 16 && npy == (h + 15) / 16 &&
          np == npx * npy)
        // solid fill: replay the weighted grid formula
        val rgb = MultimodalOps.redFor(id) + MultimodalOps.greenFor(id) +
          MultimodalOps.blueFor(id)
        var expect = 0L
        for (py <- 0 until npy; px <- 0 until npx) {
          val pw = math.min(16, w - px * 16); val ph = math.min(16, h - py * 16)
          expect += (py.toLong * npx + px + 1) * rgb * pw * ph
        }
        assert(wsum == expect, s"doc $id weighted sum")
      }
    }
    // ragged edges must exist (some dim not a multiple of 16), or the
    // edge-patch branch is untested
    assert(rows.exists { case (id, (w, h, _, _, _, _)) =>
      !MultimodalOps.isOpaque(id) && (w % 16 != 0 || h % 16 != 0) })
  }

  test("mm_scene_cuts: every scene boundary detected from decoded " +
    "frames, nothing else, scores replay from the color formulas") {
    import graft.operators.MultimodalOps
    val got = MultimodalOps.mmSceneCuts(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3)))
      .toMap
    assert(got.nonEmpty)
    val ids = Tables.load(spark, sf, "documents")
      .select("doc_id").collect().map(_.getLong(0))
    // expected cuts straight from the scene formulas
    val expected = ids.flatMap { id =>
      val s = MultimodalOps.vSceneLenFor(id)
      (1 until MultimodalOps.vFramesFor(id)).filter(_ % s == 0).map { f =>
        def d(base: Int): Long = math.abs(
          MultimodalOps.frameChan(base, f / s) -
            MultimodalOps.frameChan(base, f / s - 1)).toLong
        (id, f.toLong) -> (d(MultimodalOps.redFor(id)) +
          d(MultimodalOps.greenFor(id)) + d(MultimodalOps.blueFor(id)),
          MultimodalOps.vFramesFor(id).toLong)
      }
    }.toMap
    assert(got == expected, "cut set or scores diverged from the formulas")
    // every doc has at least one cut (the fixture guarantees it), and
    // no cut ever lands mid-scene
    assert(ids.forall(id => got.keys.exists(_._1 == id)))
    // decode really ran frame-by-frame: a frame count that came from
    // the formula alone can't prove it, but the scores can — they are
    // derived from DECODED means, and the payload is a real container
    val sample = MultimodalOps.videoPayloadFor(ids.head)
    val iis = javax.imageio.ImageIO.createImageInputStream(
      new java.io.ByteArrayInputStream(sample))
    val rd = javax.imageio.ImageIO.getImageReaders(iis).next()
    rd.setInput(iis)
    assert(rd.getNumImages(true) == MultimodalOps.vFramesFor(ids.head))
    rd.dispose(); iis.close()
  }

  test("PgCopyWriter renders the _supaFilta dialect") {
    import spark.implicits._
    val df = Seq(
      (1L, Some("o'brien"), Some(true)),
      (2L, None: Option[String], Some(false)),
      (3L, Some("plain"), None: Option[Boolean]),
      (4L, Some("NULL"), Some(true)), // literal text, NOT a null
      (5L, Some("a,b"), Some(false))) // embedded delimiter
      .toDF("id", "name", "flag")
    val path = java.nio.file.Files.createTempDirectory("pgcopy").toString
    PgCopyWriter.write(df, path)
    val lines = spark.read.text(path).collect().map(_.getString(0)).sorted
    assert(lines.contains("1,'o''brien',true"))
    assert(lines.contains("2,NULL,false"))
    assert(lines.contains("3,'plain',NULL"))
    // strings quote unconditionally, so \copy ... NULL 'NULL' loads the
    // literal 'NULL' text as text (the reference quotes the same way)
    assert(lines.contains("4,'NULL',true"))
    assert(lines.contains("5,'a,b',false"))
  }

  test("PgCopyWriter renders floats as Python str() and rejects non-scalars") {
    import spark.implicits._
    import graft.functions.PyFloat
    // notation parity cases: sci threshold at 1e-4 / 1e16, exponent
    // sign + 2-digit padding, trailing .0 on fixed, inf/nan names
    assert(PyFloat.repr(1e-7) == "1e-07")
    assert(PyFloat.repr(0.0001) == "0.0001")
    assert(PyFloat.repr(0.001) == "0.001")
    assert(PyFloat.repr(123.456) == "123.456")
    assert(PyFloat.repr(1e16) == "1e+16")
    assert(PyFloat.repr(1.5e16) == "1.5e+16")
    assert(PyFloat.repr(1e15) == "1000000000000000.0")
    assert(PyFloat.repr(-2.5) == "-2.5")
    assert(PyFloat.repr(100.0) == "100.0")
    assert(PyFloat.repr(0.0) == "0.0")
    assert(PyFloat.repr(-0.0) == "-0.0")
    assert(PyFloat.repr(1e100) == "1e+100")
    assert(PyFloat.repr(2.5e-10) == "2.5e-10")
    assert(PyFloat.repr(Double.NaN) == "nan")
    assert(PyFloat.repr(Double.PositiveInfinity) == "inf")
    // and through the writer (codegen'd column path), floats widening
    val df = Seq((1L, Some(1e-7), Some(0.25f)), (2L, None: Option[Double], None: Option[Float]))
      .toDF("id", "d", "f")
    val path = java.nio.file.Files.createTempDirectory("pgfloat").toString
    PgCopyWriter.write(df, path)
    val lines = spark.read.text(path).collect().map(_.getString(0)).sorted
    assert(lines.contains("1,1e-07,0.25"))
    assert(lines.contains("2,NULL,NULL"))
    // non-scalar columns fail loudly instead of dumping engine text
    val bad = Seq((1L, Seq(1, 2))).toDF("id", "xs")
    assertThrows[UnsupportedOperationException] {
      PgCopyWriter.write(bad, path)
    }
  }

  test("Jdbc partitioned-read options derive even PK ranges") {
    val conn = Jdbc.ConnInfo("jdbc:postgresql://db:5432/x", "u", "p")
    val opts = Jdbc.partitionedReadOptions(conn, "orders", "o_orderkey",
      pkMin = 0L, pkMax = 14999L, numPartitions = 16)
    assert(opts("partitionColumn") == "o_orderkey")
    assert(opts("lowerBound") == "0" && opts("upperBound") == "15000")
    assert(opts("numPartitions") == "16")
    val preds = Jdbc.hashPredicates("id", 8)
    assert(preds.length == 8 && preds.toSet.size == 8)
  }

  test("ValueRules.applyRawDump dispatches conversions by schema attrs") {
    import spark.implicits._
    val df = Seq(
      (1, "1", "x", "12:34", "0000-00-00", 0),
      (0, "0", "y", "bad", "2020-05-06", 7))
      .toDF("flag", "sflag", "blob_col", "t", "d", "fk")
    val td = TableDef("t", Seq(
      ColumnDef("flag", "boolean"),
      ColumnDef("sflag", "boolean"),
      ColumnDef("blob_col", "bytea", nullable = true),
      ColumnDef("t", "time", nullable = false),
      ColumnDef("d", "date", nullable = false, fullType = "date"),
      ColumnDef("fk", "int", nullable = true,
        reference = Some(Reference("parent", "id")))))
    val out = ValueRules.applyRawDump(df, td).collect()
      .map(r => (r.getBoolean(0), r.getBoolean(1), Option(r.getString(2)),
        r.getString(3), r.getString(4), Option(r.get(5))))
    assert(out(0) == ((true, true, None, "12:34", "1900-01-01", None)))
    assert(out(1) == ((false, false, None, "00:00", "2020-05-06", Some(7))))
  }

  test("PgSqlGen.convertInsert rewrites tables/columns and skips") {
    val changes = SchemaChanges(Map(
      "reservation_reminder" -> TableChange(
        rename = Some("reminder"),
        columns = Map("resa_id" -> ColumnChange(rename = Some("reservation_id")))),
      "tmp_table" -> TableChange(skip = true)))
    val in = """INSERT INTO "reservation_reminder" ("id", "resa_id") VALUES (1, '0000-00-00');"""
    assert(PgSqlGen.convertInsert(changes, in).contains(
      """INSERT INTO "reminder" ("id", "reservation_id") VALUES (1, '2000-01-01');"""))
    assert(PgSqlGen.convertInsert(changes,
      """INSERT INTO "tmp_table" ("a") VALUES (1);""").isEmpty)
    assert(PgSqlGen.convertInsert(changes, "-- comment line").isEmpty)
  }

  test("Projector.extract applies structured pre-SQL ops, gated by skipPreSql") {
    val ev = Tables.load(spark, sf, "events")
    val original = Introspect.fromSpark(ev, "events", pk = Seq("event_id"))
    val ch = TableChange(utcShiftHours = Some(2))
    val shifted = Projector.extract(ev, original, ch,
      t => Tables.load(spark, sf, t))
    val unshifted = Projector.extract(ev, original, ch,
      t => Tables.load(spark, sf, t), skipPreSql = true)
    val a = shifted.orderBy("event_id").select("ts").first().getTimestamp(0)
    val b = unshifted.orderBy("event_id").select("ts").first().getTimestamp(0)
    assert(b.getTime - a.getTime == 2L * 3600 * 1000)

    val ord = Tables.load(spark, sf, "orders")
    val ordDef = Introspect.fromSpark(ord, "orders", pk = Seq("o_orderkey"))
    val orphanCh = TableChange(dropOrphans = Seq(
      OrphanRule("o_custkey", "customer_subset", "c_custkey")))
    val parent = Tables.load(spark, sf, "customer")
      .filter(col("c_custkey") % 10 =!= 0)
    val kept = Projector.extract(ord, ordDef, orphanCh,
      _ => parent).count()
    assert(kept < ord.count() && kept > 0)
  }

  test("Pipeline parquet-lake sink writes partitioned output") {
    val out = java.nio.file.Files.createTempDirectory("lake").toString
    val res = Pipeline.migrate(spark, sf, out,
      tables = Seq("orders"), changes = SchemaChanges(),
      pks = Map("orders" -> Seq("o_orderkey")),
      sink = Pipeline.ParquetLake(Map("orders" -> Seq("o_orderstatus"))))
    assert(res.tables.head.rows ==
      Tables.load(spark, sf, "orders").count())
    val partDirs = new java.io.File(s"$out/orders").listFiles()
      .filter(_.getName.startsWith("o_orderstatus="))
    assert(partDirs.length == 3) // F / O / P
    // partition pruning works on the lake output
    val pruned = spark.read.parquet(s"$out/orders")
      .filter(col("o_orderstatus") === "F")
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(o_orderstatus"),
      s"no partition pruning in:\n$plan")
  }

  test("Pipeline.migrate counts rows, not dump lines, for an embedded newline") {
    import spark.implicits._
    val src = java.nio.file.Files.createTempDirectory("newline_src").toString
    Seq((1L, "two\nlines"), (2L, "one")).toDF("id", "note")
      .write.parquet(s"$src/notes.parquet")
    val out = java.nio.file.Files.createTempDirectory("newline_out").toString
    val res = Pipeline.migrate(spark, src, out, Seq("notes"), SchemaChanges())
    assert(res.tables.map(_.rows) == Seq(2L))
    assert(spark.read.text(s"$out/notes").count() == 3)
  }

  test("Pipeline.migrate runs one load and one write job per table") {
    val out = java.nio.file.Files.createTempDirectory("migrate_jobs").toString
    val (_, jobs) = JobCount.in(spark) {
      Pipeline.migrate(spark, sf, out, Seq("nation", "region"), SchemaChanges())
    }
    assert(jobs == 4, s"$jobs jobs for 2 tables")
  }

  test("Pipeline.migrate looks up tables outside its list under concurrent loads") {
    import java.nio.file.{Files, Paths}
    // sf0.001 with every tenth customer and part key removed, so both
    // rules drop rows; neither parent table is in the migrated list
    val src = Files.createTempDirectory("migrate_lookups_src")
    Seq("orders", "lineitem").foreach(t => Files.createSymbolicLink(
      src.resolve(s"$t.parquet"), Paths.get(sf, s"$t.parquet").toRealPath()))
    Seq("customer" -> "c_custkey", "part" -> "p_partkey").foreach { case (t, k) =>
      Tables.load(spark, sf, t).filter(col(k) % 10 =!= 0)
        .write.parquet(src.resolve(s"$t.parquet").toString)
    }
    val out = Files.createTempDirectory("migrate_lookups").toString
    val changes = SchemaChanges(Map(
      "orders" -> TableChange(
        dropOrphans = Seq(OrphanRule("o_custkey", "customer", "c_custkey"))),
      "lineitem" -> TableChange(
        joins = Seq(JoinRule("part", "l_partkey", "p_partkey")))))
    val (res, jobs) = JobCount.in(spark) {
      Pipeline.migrate(spark, src.toString, out, Seq("orders", "lineitem"), changes)
    }
    def semi(t: String, fk: String, parent: String, key: String): Long = {
      val kept = Tables.load(spark, src.toString, t)
        .join(Tables.load(spark, src.toString, parent).select(key),
          col(fk) === col(key), "left_semi").count()
      assert(kept < Tables.load(spark, sf, t).count(), s"$t: nothing dropped")
      kept
    }
    assert(res.tables.map(t => t.originalName -> t.rows) == Seq(
      "orders" -> semi("orders", "o_custkey", "customer", "c_custkey"),
      "lineitem" -> semi("lineitem", "l_partkey", "part", "p_partkey")))
    // 2 schema reads and 2 writes of the migrated tables, 2 schema
    // reads of the looked-up parents, 2 for the parents' broadcasts
    assert(jobs == 8, s"$jobs jobs")
  }

  test("Pipeline.migrateAll migrates multiple databases with prefix filter") {
    val out = java.nio.file.Files.createTempDirectory("multidb").toString
    val dbs = Map(
      "client_a" -> "/root/testdata/sf0.001",
      "client_b" -> "/root/testdata/sf0.001",
      "internal_x" -> "/root/testdata/sf0.001")
    val res = Pipeline.migrateAll(spark, dbs, out,
      tables = Seq("nation"), changes = SchemaChanges(),
      prefix = "client_")
    assert(res.keySet == Set("client_a", "client_b"))
    assert(res.values.forall(_.tables.head.rows == 25))
    assert(new java.io.File(s"$out/client_a/nation").exists())
  }

  test("Pipeline.writeArtifacts emits the reference's bundle") {
    val out = java.nio.file.Files.createTempDirectory("artifacts").toString
    val changes = SchemaChanges(Map(
      "customer" -> TableChange(rename = Some("clients"),
        columns = Map("c_acctbal" -> ColumnChange(skip = true)))))
    val tables = Seq("customer", "nation")
    val pks = Map("customer" -> Seq("c_custkey"), "nation" -> Seq("n_nationkey"))
    // composite secondary index, introspected like the reference reads
    // information_schema.statistics (MysqlParser.py:225-258)
    val idx = Map("customer" -> Seq(
      IndexDef("by_nation_seg", Seq("c_nationkey", "c_mktsegment"))))
    val res = Pipeline.migrate(spark, sf, out, tables, changes, pks = pks,
      indexes = idx)
    val (_, bundleJobs) = JobCount.in(spark) {
      Pipeline.writeArtifacts(spark, sf, out, tables, changes, res, pks = pks,
        indexes = idx)
    }
    assert(bundleJobs == 0, s"the bundle ran $bundleJobs jobs")
    def read(f: String) =
      new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(out, f)))
    assert(read("psql_tables.sql").contains("CREATE TABLE IF NOT EXISTS \"clients\""))
    assert(read("psql_data.sql").contains("SET CONSTRAINTS ALL DEFERRED"))
    assert(read("psql_data.sql").contains("\\copy \"clients\""))
    assert(read("psql_views.sql").contains("CREATE VIEW v1.customer"))
    // the composite index survives introspection -> migrate -> DDL
    assert(read("psql_index_fk.sql").contains(
      "CREATE INDEX clients_by_nation_seg_x ON clients (\"c_nationkey\" ,\"c_mktsegment\");"))
    // three schema JSON stages: raw, +changes (mysql types), +node map
    // (PG types) — customer.c_acctbal is double in v2, decimal in psql
    val v2 = read("mysql_schema_v2.json")
    assert(v2.contains("\"clients\"") && v2.contains("\"_SKIP_\": true"))
    assert(v2.contains("\"type\": \"double\""))
    val psql = read("psql_schema.json")
    assert(psql.contains("\"clients\"") && psql.contains("\"type\": \"decimal\""))
    assert(!psql.contains("\"type\": \"double\""))
    assert(read("mysql_schema.json").contains("\"customer\""))
    // the raw stage is migrate's introspection, equal to a fresh one
    assert(read("mysql_schema.json") == PgSqlGen.schemaJson(tables.map(t =>
      Introspect.fromSpark(Tables.load(spark, sf, t), t,
        pk = pks(t), indexes = idx.getOrElse(t, Nil)))))
  }

  /** Migrates `nation` with its pk, bundles the result with these
    * arguments and returns the rejection's message; a rejected bundle
    * writes no file. */
  private def bundleMismatch(tables: Seq[String], pks: Map[String, Seq[String]],
      indexes: Map[String, Seq[IndexDef]] = Map.empty): String = {
    val out = java.nio.file.Files.createTempDirectory("mismatch").toString
    val res = Pipeline.migrate(spark, sf, out, Seq("nation"), SchemaChanges(),
      pks = Map("nation" -> Seq("n_nationkey")))
    val e = intercept[IllegalArgumentException](Pipeline.writeArtifacts(spark,
      sf, out, tables, SchemaChanges(), res, pks = pks, indexes = indexes))
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(out, "mysql_schema.json")))
    e.getMessage
  }

  test("Pipeline.writeArtifacts rejects a table the result did not migrate") {
    val msg = bundleMismatch(Seq("nation", "region"),
      Map("nation" -> Seq("n_nationkey")))
    assert(msg.contains("region"), msg)
  }

  test("Pipeline.writeArtifacts rejects a pk the result was not migrated with") {
    val msg = bundleMismatch(Seq("nation"), Map("nation" -> Seq("n_regionkey")))
    assert(msg.contains("nation"), msg)
  }

  test("Pipeline.writeArtifacts rejects indexes the result was not migrated with") {
    val msg = bundleMismatch(Seq("nation"), Map("nation" -> Seq("n_nationkey")),
      Map("nation" -> Seq(IndexDef("by_region", Seq("n_regionkey")))))
    assert(msg.contains("nation"), msg)
  }

  test("Pipeline.convertMysqlDump rewrites a dump file distributively") {
    val in = java.nio.file.Files.createTempDirectory("dump_in")
    java.nio.file.Files.writeString(in.resolve("dump.sql"),
      """-- MySQL dump
        |INSERT INTO "reservation_reminder" ("id", "resa_id") VALUES (1, '0000-00-00');
        |INSERT INTO "tmp_table" ("a") VALUES (1);
        |INSERT INTO "keep" ("x") VALUES ('it\'s');
        |""".stripMargin)
    val out = java.nio.file.Files.createTempDirectory("dump_out").toString + "/pg"
    val changes = SchemaChanges(Map(
      "reservation_reminder" -> TableChange(rename = Some("reminder"),
        columns = Map("resa_id" -> ColumnChange(rename = Some("reservation_id")))),
      "tmp_table" -> TableChange(skip = true)))
    val n = Pipeline.convertMysqlDump(spark, changes, in.toString, out)
    assert(n == 2) // comment + skipped table dropped
    val lines = spark.read.textFile(out).collect().toSeq
    assert(lines.contains(
      """INSERT INTO "reminder" ("id", "reservation_id") VALUES (1, '2000-01-01');"""))
    assert(lines.contains("""INSERT INTO "keep" ("x") VALUES ('it''s');"""))
  }

  test("Pipeline.migrate: end-to-end rules -> extract -> dump -> DDL") {
    val out = java.nio.file.Files.createTempDirectory("migrate").toString
    val changes = SchemaChanges(Map(
      "customer" -> TableChange(
        rename = Some("clients"),
        columns = Map(
          "c_name" -> ColumnChange(rename = Some("full_name")),
          "c_acctbal" -> ColumnChange(skip = true))),
      "region" -> TableChange(skip = true)))
    val res = Pipeline.migrate(spark, sf, out,
      tables = Seq("customer", "nation", "region"), changes = changes,
      pks = Map("customer" -> Seq("c_custkey"), "nation" -> Seq("n_nationkey")))

    assert(res.tables.map(_.outputName).toSet == Set("clients", "nation"))
    val clients = res.tables.find(_.outputName == "clients").get
    assert(clients.rows == Tables.load(spark, sf, "customer").count())
    assert(res.schemaSql.contains("CREATE TABLE IF NOT EXISTS \"clients\""))
    assert(res.schemaSql.contains("\"full_name\""))
    assert(!res.schemaSql.contains("c_acctbal"))
    assert(clients.copySql.startsWith("\\copy \"clients\""))
    assert(res.viewsSql.contains("CREATE VIEW v1.customer"))
    assert(res.viewsSql.contains("NULL")) // skipped c_acctbal
    // dumped CSV is loadable and row-complete
    val dumped = spark.read.csv(s"$out/clients")
    assert(dumped.count() == clients.rows)
  }

  test("stream_heavy_hitters honors both Misra-Gries guarantees") {
    import graft.streaming.StreamOps
    val got = StreamOps.streamHeavyHitters(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // exact counts of the same item derivation, batch-side
    val exact = Tables.load(spark, sf, "events")
      .select(when(col("user_id") % 4 < 2,
          concat(lit("hot_"), (col("user_id") % 3).cast("string")))
        .otherwise(col("user_id").cast("string")).as("item"))
      .groupBy("item").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val n = exact.values.sum
    val k = graft.operators.Relational.heavyK
    val bound = n / (k + 1)
    // guarantee 1: every true heavy hitter survives the stream +
    // shard-merge pipeline
    exact.filter(_._2 > bound).foreach { case (item, c) =>
      assert(got.contains(item), s"heavy item $item (count $c) lost")
    }
    // guarantee 2: kept estimates undercount by at most n/(k+1)
    got.foreach { case (item, est) =>
      val truth = exact.getOrElse(item, 0L)
      assert(est <= truth, s"$item overcounted: $est > $truth")
      assert(truth - est <= bound, s"$item undercounted past the bound")
    }
    // the skewed derivation makes the probe non-trivial
    assert(got.keys.exists(_.startsWith("hot_")))
  }

  test("stream_kmv: final state is arrival-order invariant and equals " +
    "the batch sketch exactly") {
    import graft.streaming.StreamOps
    import graft.operators.SketchOps
    val got = StreamOps.streamKmv(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2),
        r.getDouble(3))).toMap
    assert(got.nonEmpty)
    // batch ground truth: bottom-K distinct hashes per event type
    val raw = Tables.load(spark, sf, "events")
      .select(col("event_type"), col("user_id")).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    raw.groupBy(_._1).foreach { case (et, evs) =>
      val kept = evs.map(e => SketchOps.kmvHash(e._2)).distinct
        .sorted.take(SketchOps.kmvK).toSeq
      val (nKept, kth, est) = got(et)
      assert(nKept == kept.size, s"$et n_kept")
      assert(kth == kept.max, s"$et kth_hash must equal the batch sketch")
      val expEst = if (kept.size < SketchOps.kmvK) kept.size.toDouble
        else (SketchOps.kmvK - 1).toDouble * SketchOps.kmvP.toDouble /
          (kept.max.toDouble + 1.0)
      assert(est == expEst, s"$et estimate")
    }
    // the merge fold itself is permutation/batching/redelivery
    // invariant — the property that makes the streaming sketch [O]
    val hs = raw.take(500).map(e => SketchOps.kmvHash(e._2)).toSeq
    val direct = StreamOps.kmvMerge(Nil, hs.iterator)
    val rnd = new scala.util.Random(7)
    (1 to 5).foreach { _ =>
      val shuffled = rnd.shuffle(hs)
      val nChunks = 1 + rnd.nextInt(6)
      val folded = shuffled.grouped(
        math.max(1, shuffled.size / nChunks)).foldLeft(Seq.empty[Long]) {
        (st, chunk) => StreamOps.kmvMerge(st, chunk.iterator)
      }
      assert(folded == direct, "bottom-K merge must be order-invariant")
      // redelivering the whole stream into the final state is a no-op
      assert(StreamOps.kmvMerge(folded, shuffled.iterator) == direct)
    }
  }

  test("stream_kmv drain survives a FORCED multi-batch fill (an early " +
    "unsaturated emission must not shadow the final sketch)") {
    import graft.streaming.StreamOps
    import graft.operators.SketchOps
    import org.apache.spark.sql.types.{StructType, StructField, StringType, LongType}
    // the single-file fixture always drains in ONE micro-batch, so the
    // end-to-end multi-batch regime needs a split replay log:
    // wave 0 carries the 10 SMALLEST hashes of the biggest event type
    // (an unsaturated sketch whose kth is provably below the final
    // kth — exactly the shadowing trap), wave 1 redelivers everything.
    // sf0.01 (not the suite default) so at least one type SATURATES
    // the sketch — the regime where the buggy min-kth drain diverges
    val kmvSf = "/root/testdata/sf0.01"
    val evs = Tables.load(spark, kmvSf, "events")
      .select(col("event_type"),
        expr(SketchOps.kmvHashSqlOn("user_id")).as("h")).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val byType = evs.groupBy(_._1).view.mapValues(
      _.map(_._2).distinct.sorted.toSeq).toMap
    val (bigType, bigHashes) = byType.maxBy(_._2.length)
    assert(bigHashes.length > SketchOps.kmvK + 1, "fixture too small")
    val wave0 = bigHashes.take(10).map(h => (bigType, h))
    val finalKth = bigHashes.take(SketchOps.kmvK).max
    assert(wave0.map(_._2).max < finalKth,
      "trap precondition: early kth strictly below the final kth")
    val logDir = java.nio.file.Files.createTempDirectory("kmvlog")
    import spark.implicits._
    Seq(wave0.toSeq, evs.toSeq).zipWithIndex.foreach { case (w, i) =>
      val tmp = java.nio.file.Files.createTempDirectory(s"kmvw$i").toString
      spark.createDataset(w).toDF("event_type", "h")
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val dst = logDir.resolve(s"w$i.parquet")
      java.nio.file.Files.move(part.toPath, dst)
      // mod times pin the file source's processing order (oldest first)
      dst.toFile.setLastModified(1000000L * (i + 1))
    }
    val child = StreamOps.streamingSessionForTest(spark)
    val src = child.readStream
      .schema(StructType(Seq(StructField("event_type", StringType),
        StructField("h", LongType))))
      .option("maxFilesPerTrigger", "1")
      .parquet(logDir.toString)
      .as[(String, Long)]
    val got = StreamOps.kmvQuery(child, src).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    // final state must equal the batch sketch for EVERY type — in
    // particular bigType's kth must be the saturated one, not wave 0's
    byType.foreach { case (et, hashes) =>
      val kept = hashes.take(SketchOps.kmvK)
      assert(got(et) == ((kept.size.toLong, kept.max)),
        s"$et multi-batch final sketch diverged")
    }
  }

  test("mm_audio_frames round-trips PCM bytes and matches the formulas") {
    import graft.operators.MultimodalOps
    val rows = MultimodalOps.mmAudioFrames(spark, sf).collect()
    assert(rows.nonEmpty)
    // one doc replayed sample-by-sample from the BYTES (not the
    // formula): the decode path must be a true byte round-trip
    val id = rows.head.getLong(0)
    val bytes = MultimodalOps.audioPayloadFor(id)
    val n = bytes.length / 2
    assert(rows.head.getAs[Int]("n_samples") == n)
    val samples = (0 until n).map(i =>
      ((bytes(2 * i) & 0xff) | (bytes(2 * i + 1) << 8)).toShort.toInt)
    (0 until n).foreach { i =>
      assert(samples(i) == MultimodalOps.audioSampleAt(id, i.toLong),
        s"byte round-trip broke at sample $i")
    }
    val mine = rows.filter(_.getLong(0) == id).sortBy(_.getAs[Int]("frame_idx"))
    val expFrames = (n - MultimodalOps.audioFrame) / MultimodalOps.audioHop + 1
    assert(mine.length == expFrames)
    mine.foreach { r =>
      val f = r.getAs[Int]("frame_idx")
      val win = samples.slice(f * MultimodalOps.audioHop,
        f * MultimodalOps.audioHop + MultimodalOps.audioFrame)
      assert(r.getAs[Long]("energy") == win.map(v => v.toLong * v).sum)
      assert(r.getAs[Int]("peak") == win.map(math.abs).max)
    }
  }

  test("mm_pack_shards manifest matches a sequential byte walk over real payloads") {
    import graft.operators.MultimodalOps
    val rows = MultimodalOps.mmPackShards(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(rows.nonEmpty)
    val ids = Tables.load(spark, sf, "documents").select("doc_id")
      .collect().map(_.getLong(0)).sorted
    // the reference: ONE sequential pass measuring the REAL payloads
    var cum = 0L
    val assigned = ids.map { id =>
      val n = MultimodalOps.audioPayloadFor(id).length.toLong
      val shard = cum / MultimodalOps.shardBudget
      cum += n
      (shard, id, n)
    }
    val exp = assigned.groupBy(_._1).map { case (shard, g) =>
      (shard, g.length.toLong, g.map(_._3).sum, g.map(_._2).min,
        g.map(_._2).max)
    }.toSeq.sortBy(_._1)
    assert(rows.toSeq == exp, "manifest must match the sequential walk")
    // blobs are atomic: every byte lands in exactly one shard
    assert(rows.map(_._3).sum == cum)
    assert(rows.map(_._2).sum == ids.length.toLong)
    // id spans are disjoint and ordered (the loader's random-access
    // contract): each shard's first doc follows the previous last
    rows.sliding(2).foreach {
      case Array(a, b) => assert(a._5 < b._4)
      case _ =>
    }
    // start-addressed sizes: a shard overflows the budget by less
    // than one max blob and only the last shard may run short
    val maxBlob = 2L * (MultimodalOps.audioBase + MultimodalOps.audioSpan)
    rows.dropRight(1).foreach { r =>
      assert(r._3 < MultimodalOps.shardBudget + maxBlob)
      assert(r._3 >= MultimodalOps.shardBudget - maxBlob)
    }
  }

  test("mm_channel_stats replays normalization constants from formulas") {
    import graft.operators.MultimodalOps
    val rows = MultimodalOps.mmChannelStats(spark, sf).collect()
    assert(rows.map(_.getString(0)).sorted.toSeq == Seq("b", "g", "r"))
    val ids = Tables.load(spark, sf, "documents").select("doc_id")
      .collect().map(_.getLong(0)).filterNot(MultimodalOps.isOpaque)
    val npx = ids.map(id =>
      MultimodalOps.widthFor(id).toLong * MultimodalOps.heightFor(id))
    val chans = Map[String, Long => Int](
      "r" -> (MultimodalOps.redFor _), "g" -> (MultimodalOps.greenFor _),
      "b" -> (MultimodalOps.blueFor _))
    val totPx = npx.sum
    rows.foreach { r =>
      val f = chans(r.getString(0))
      val cs = ids.zip(npx).map { case (id, n) => n * f(id) }.sum
      val css = ids.zip(npx).map { case (id, n) =>
        n * f(id).toLong * f(id)
      }.sum
      assert(r.getAs[Long]("n_images") == ids.length.toLong)
      assert(r.getAs[Long]("n_pixels") == totPx)
      assert(r.getAs[Long]("c_sum") == cs, s"c_sum ${r.getString(0)}")
      assert(r.getAs[Long]("c_sumsq") == css)
      assert(r.getAs[Long]("mean_milli") == cs * 1000 / totPx)
      val std = math.sqrt(css.toDouble / totPx.toDouble -
        (cs.toDouble / totPx.toDouble) * (cs.toDouble / totPx.toDouble))
      assert(r.getAs[Double]("std") == std, "std (bitwise)")
      // a real spread: fills span 0..255, so std is substantial
      assert(std > 30.0)
    }
  }

  test("mm_aspect_buckets batches are shape-homogeneous, dense and replayed") {
    import graft.operators.MultimodalOps
    val rows = MultimodalOps.mmAspectBuckets(spark, sf).collect()
    assert(rows.nonEmpty)
    // opaque payloads excluded, everything else present exactly once
    val ids = Tables.load(spark, sf, "documents").select("doc_id")
      .collect().map(_.getLong(0)).filterNot(_ % 10 == 7).sorted
    assert(rows.map(_.getAs[Long]("doc_id")).sorted.toSeq == ids.toSeq)
    // driver replay: formula dims → bucket → stable-order batching
    val bounds = MultimodalOps.aspectBounds
    val names = MultimodalOps.aspectNames
    def bucketOf(w: Int, h: Int): String = {
      val r = w.toLong * 1000L / h
      names(bounds.indexWhere(r < _) match {
        case -1 => bounds.length
        case i => i
      })
    }
    val exp = ids.map { id =>
      (id, MultimodalOps.widthFor(id), MultimodalOps.heightFor(id))
    }.groupBy(t => bucketOf(t._2, t._3)).toSeq.flatMap { case (b, g) =>
      val sorted = g.sortBy(_._1)
      val full = sorted.length / MultimodalOps.aspectBatch
      sorted.zipWithIndex.map { case ((id, w, h), i) =>
        id -> ((w, h, b, i.toLong / MultimodalOps.aspectBatch,
          i.toLong % MultimodalOps.aspectBatch,
          i / MultimodalOps.aspectBatch < full))
      }
    }.toMap
    rows.foreach { r =>
      val e = exp(r.getAs[Long]("doc_id"))
      assert((r.getAs[Int]("width"), r.getAs[Int]("height"),
        r.getAs[String]("bucket"), r.getAs[Long]("batch_id"),
        r.getAs[Long]("slot"), r.getAs[Boolean]("is_full")) == e)
    }
    // non-vacuity: several buckets in play, full batches exist, and
    // a trailing partial batch is actually flagged somewhere
    assert(rows.map(_.getAs[String]("bucket")).distinct.length >= 3)
    assert(rows.exists(_.getAs[Boolean]("is_full")))
    assert(rows.exists(!_.getAs[Boolean]("is_full")))
    // every full batch holds exactly aspectBatch distinct slots
    rows.filter(_.getAs[Boolean]("is_full"))
      .groupBy(r => (r.getAs[String]("bucket"), r.getAs[Long]("batch_id")))
      .values.foreach { g =>
        assert(g.map(_.getAs[Long]("slot")).sorted.toSeq ==
          (0L until MultimodalOps.aspectBatch.toLong))
      }
  }
}
