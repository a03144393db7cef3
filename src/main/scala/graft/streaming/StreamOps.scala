package graft.streaming

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

/** Structured Streaming surface: the `events` table replayed as a
  * file stream through a watermarked windowed aggregation — the
  * streaming twin of Relational.qEventsWindow.
  *
  * The plan is the canonical Spark streaming shape: readStream (file
  * source, bounded here, unbounded Kafka/files in production) →
  * event-time window + watermark (bounds state: late data beyond 1
  * day is dropped, closed windows are evicted from the state store) →
  * sink. At scale the same plan runs continuously with checkpointing;
  * state size stays O(open windows × event types), not O(stream).
  */
object StreamOps {

  /** events.parquet's physical schema under nanosAsLong (ts is int64
    * nanos; the file source cannot infer streaming schemas). */
  val eventsRawSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", LongType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** The same schema for corpora whose ts is a real TIMESTAMP column
    * (GenScale-written scaled corpora). */
  val eventsTsSchema: StructType = StructType(
    eventsRawSchema.map(f =>
      if (f.name == "ts") f.copy(dataType = TimestampType) else f))

  /** Streaming read of a corpus's events table, normalized to a
    * timestamp `ts` whichever physical shape the corpus has: the
    * driver fixtures store a single FILE `events.parquet` with int64
    * nanos (matched via pathGlobFilter, truncated to micros exactly as
    * Tables.load does), while GenScale'd corpora carry a real
    * TIMESTAMP(MICROS) column. The batch footer read picks the schema
    * — file sources can't infer streaming schemas. */
  private def eventsStream(spark: SparkSession, sfDir: String): DataFrame = {
    val path = s"$sfDir/events.parquet"
    val tsIsLong =
      spark.read.parquet(path).schema("ts").dataType == LongType
    val raw = spark.readStream
      .schema(if (tsIsLong) eventsRawSchema else eventsTsSchema)
      .option("pathGlobFilter", "events.parquet")
      .parquet(sfDir)
    if (tsIsLong) raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
    else raw
  }

  private val runId = new AtomicInteger(0)

  /** Shared streaming child session (one per parent): same
    * SparkContext, streaming-shaped conf. Each state partition costs
    * a store-provider init plus a synchronous commit file per
    * micro-batch, so the parent's 32 shuffle partitions mean 32
    * commits per batch for KB of state — fixed cost, not throughput.
    * A handful of state partitions fits the fixture; at scale the
    * same code takes the partition count from conf (state size and
    * input rate set it, exactly as batch shuffle.partitions does).
    * No-data micro-batches are off: every query here emits in the
    * data batch (complete-mode aggs re-emit per batch; streaming
    * dedup emits first-sights immediately), so the trailing empty
    * batch only re-commits unchanged state. */
  private val streamSessions =
    new java.util.concurrent.ConcurrentHashMap[SparkSession, SparkSession]()

  /** State-partition count knob: at scale state size and input rate
    * set it (exactly as batch shuffle.partitions); the fixture default
    * is a handful. */
  val statePartitionsKey = "spark.graft.stream.statePartitions"

  private def streamingSession(parent: SparkSession): SparkSession = {
    val s = streamSessions.computeIfAbsent(parent, { p =>
      val child = p.newSession()
      child.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
      // AQE off for the streaming child (r15): Spark's own streaming
      // planner already runs stateful plans without AQE; the exception
      // is foreachBatch's INNER batch plans, where AQE materializes
      // every exchange of every micro-batch as its own job to re-plan
      // the remainder — ~5 jobs instead of 2 per micro-batch on the
      // dim-store merge loop, pure scheduler latency on bounded
      // KB-scale batches. Partitioning here is pinned by
      // statePartitionsKey (state size and input rate set it at
      // scale), so AQE's coalescing has nothing to decide that the
      // conf doesn't already say.
      child.conf.set("spark.sql.adaptive.enabled", "false")
      child
    })
    // newSession() copies conf at creation: forward the runtime knobs
    // on every call so values set on the parent AFTER the child was
    // cached (e.g. RocksDB in the state-backend spec, a cluster-sized
    // state partition count) still govern the streaming queries
    s.conf.set("spark.sql.shuffle.partitions",
      parent.conf.getOption(statePartitionsKey).getOrElse("4"))
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    parent.conf.getOption(providerKey) match {
      case Some(v) => s.conf.set(providerKey, v)
      case None => s.conf.unset(providerKey)
    }
    s
  }

  /** Materialize a drained memory-sink result and DROP the sink's temp
    * view so long-lived sessions don't accumulate stream_*_N tables.
    * The inputs here are final aggregates (KBs), so a local relation is
    * the right vehicle; an unbounded production stream writes to a real
    * sink instead and never passes through this. */
  private def collectAndDrop(spark: SparkSession, name: String,
      df: DataFrame): DataFrame = {
    val rows = df.collect()
    spark.catalog.dropTempView(name)
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
  }

  /** Test hook: the child session the streaming keys actually run on
    * (specs assert conf forwarding, e.g. the RocksDB provider). */
  private[graft] def streamingSessionForTest(parent: SparkSession): SparkSession =
    streamingSession(parent)

  /** Run a bounded streaming query as ONE pass: Trigger.AvailableNow
    * plans all currently-available input, processes it, and stops
    * itself — no processAllAvailable polling handshake, no extra
    * trailing micro-batch. Returns once the sink table is final. */
  private def runAvailableNow(
      start: => org.apache.spark.sql.streaming.StreamingQuery): Unit = {
    val q = start
    try q.awaitTermination() finally q.stop()
  }

  /** Hourly event counts/sums per type, computed by an actual
    * streaming query into a memory sink, returned as the final
    * result table once the bounded stream drains. */
  def streamEventsWindow(parent: SparkSession, sfDir: String): DataFrame = {
    val spark = streamingSession(parent)
    val name = s"stream_events_${runId.incrementAndGet()}"
    val agg = eventsStream(spark, sfDir)
      .withWatermark("ts", "1 day")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast(DecimalType(18, 2))).cast(DoubleType).as("sum_value"))
      .select(col("w.start").as("window_start"), col("event_type"),
        col("n_events"), col("sum_value"))
    runAvailableNow(agg.writeStream
      .format("memory")
      .queryName(name)
      .outputMode("complete")
      .trigger(Trigger.AvailableNow())
      .start())
    collectAndDrop(spark, name,
      spark.table(name).orderBy("window_start", "event_type"))
  }

  /** Batch twin for stream/batch parity checks (same agg over a
    * static read; Structured Streaming's semantics promise equality
    * on a drained bounded source). */
  def batchEventsWindow(spark: SparkSession, sfDir: String): DataFrame =
    graft.Tables.load(spark, sfDir, "events")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast(DecimalType(18, 2))).cast(DoubleType).as("sum_value"))
      .select(col("w.start").as("window_start"), col("event_type"),
        col("n_events"), col("sum_value"))
      .orderBy("window_start", "event_type")

  /** Custom streaming state via KeyValueGroupedDataset
    * .mapGroupsWithState: per-user running totals kept as typed state
    * (count + value in exact cents). The state store holds one small
    * record per user — O(users), never O(events) — which is the shape
    * that scales to unbounded streams with checkpointed state.
    */
  case class UserEvent(user_id: Long, event_type: String, cents: Long)
  case class UserStats(user_id: Long, n_events: Long, total_cents: Long)

  def streamUserState(parent: SparkSession, sfDir: String): DataFrame = {
    val spark = streamingSession(parent)
    import spark.implicits._
    import org.apache.spark.sql.streaming.GroupState
    val name = s"stream_user_state_${runId.incrementAndGet()}"
    val events = eventsStream(spark, sfDir)
      // value is a 2-decimal double; exact integer cents keep the
      // stateful sum order-independent and oracle-comparable
      .select(col("user_id"),
        col("event_type"),
        round(col("value") * 100).cast("long").as("cents"))
      .as[UserEvent]
    val stats = events
      .groupByKey(_.user_id)
      .mapGroupsWithState[UserStats, UserStats] {
        (user: Long, batch: Iterator[UserEvent], state: GroupState[UserStats]) =>
          val prev = state.getOption.getOrElse(UserStats(user, 0L, 0L))
          val next = batch.foldLeft(prev) { (acc, e) =>
            UserStats(user, acc.n_events + 1, acc.total_cents + e.cents)
          }
          state.update(next)
          next
      }
    runAvailableNow(stats.toDF().writeStream
      .format("memory")
      .queryName(name)
      .outputMode("update")
      .trigger(Trigger.AvailableNow())
      .start())
    // bounded source drains in one batch -> latest update per user is
    // the final answer
    collectAndDrop(spark, name, spark.table(name)
      .groupBy("user_id")
      .agg(max(col("n_events")).as("n_events"),
        max(col("total_cents")).as("total_cents"))
      .orderBy("user_id"))
  }

  /** Batch twin of streamUserState for parity checks. */
  def batchUserState(spark: SparkSession, sfDir: String): DataFrame =
    graft.Tables.load(spark, sfDir, "events")
      .select(col("user_id"), round(col("value") * 100).cast("long").as("cents"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"), sum(col("cents")).as("total_cents"))
      .orderBy("user_id")

  /** Session gap for the session_window operators. */
  val sessionGap = "30 minutes"

  /** Gap-based sessionization through Spark's NATIVE session_window
    * operator (dynamic merging session state — the engine-level
    * counterpart of the lag+cumsum form in Relational.qSessionize).
    * Session semantics: an event extends its session to [ts, ts+gap);
    * an event at exactly prev+gap starts a NEW session (half-open
    * interval, no overlap). Timestamps compare as integer epoch
    * micros (SURVEY §4). */
  def qSessionWindow(spark: SparkSession, sfDir: String): DataFrame =
    graft.Tables.load(spark, sfDir, "events")
      .groupBy(session_window(col("ts"), sessionGap).as("sw"), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast(DecimalType(18, 2))).cast(DoubleType).as("sum_value"))
      .select(col("user_id"),
        unix_micros(col("sw.start")).as("session_start_us"),
        unix_micros(col("sw.end")).as("session_end_us"),
        col("n_events"), col("sum_value"))
      .orderBy("user_id", "session_start_us")

  /** DuckDB has no session_window: the oracle rebuilds the same
    * sessions via lag + running sum, with the >= gap boundary matching
    * Spark's half-open merge rule, and end = last event + gap. Both
    * windows order by (ts, event_id) — a TOTAL order: with duplicate
    * timestamps (GenScale corpora replicate events 10×), ordering by
    * ts alone lets the lag pass and the running-sum pass disagree on
    * tie order, splitting an equal-ts run across the island boundary
    * (the sf1 sweep caught exactly that; Spark's session_window is
    * set-based and has no such ordering dependence). */
  val qSessionWindowSql: String =
    """WITH d AS (
      |  SELECT user_id, event_id, ts, value,
      |    CASE WHEN LAG(ts) OVER w IS NULL
      |           OR ts - LAG(ts) OVER w >= INTERVAL 30 MINUTE
      |         THEN 1 ELSE 0 END AS new_s
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |s AS (
      |  SELECT *, SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |    ROWS UNBOUNDED PRECEDING) AS sid
      |  FROM d)
      |SELECT user_id,
      |  epoch_us(min(ts)) AS session_start_us,
      |  epoch_us(max(ts) + INTERVAL 30 MINUTE) AS session_end_us,
      |  COUNT(*) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM s GROUP BY user_id, sid
      |ORDER BY user_id, session_start_us""".stripMargin

  /** The same session_window as an actual streaming query (watermark
    * bounds session state; sessions merge dynamically as events
    * arrive). Complete mode on the drained bounded source returns the
    * final sessions for the batch-parity spec. */
  def streamSessions(parent: SparkSession, sfDir: String): DataFrame = {
    val spark = streamingSession(parent)
    val name = s"stream_sessions_${runId.incrementAndGet()}"
    val agg = eventsStream(spark, sfDir)
      .withWatermark("ts", "1 day")
      .groupBy(session_window(col("ts"), sessionGap).as("sw"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        unix_micros(col("sw.start")).as("session_start_us"),
        unix_micros(col("sw.end")).as("session_end_us"),
        col("n_events"))
    runAvailableNow(agg.writeStream
      .format("memory")
      .queryName(name)
      .outputMode("complete")
      .trigger(Trigger.AvailableNow())
      .start())
    collectAndDrop(spark, name,
      spark.table(name).orderBy("user_id", "session_start_us"))
  }

  /** Stream-static enrichment join — the canonical streaming lookup
    * shape: a watermarked event stream joined to a STATIC dimension
    * (customer segment), then windowed. The static side is planned
    * like any batch relation (broadcast under the threshold), and the
    * stream side never buffers join state — unlike stream-stream
    * joins there is nothing to watermark on the right. At 100 TB/day
    * this is THE enrichment pattern: dims refresh by restarting the
    * query (or mapping over a Delta snapshot), state stays
    * O(open windows). LEFT join keeps unmatched users with a NULL
    * segment, matching the oracle's LEFT JOIN. */
  def streamEnrich(parent: SparkSession, sfDir: String): DataFrame = {
    val spark = streamingSession(parent)
    val name = s"stream_enrich_${runId.incrementAndGet()}"
    val dim = graft.Tables.load(spark, sfDir, "customer")
      .select(col("c_custkey"), col("c_mktsegment").as("segment"))
    val agg = eventsStream(spark, sfDir)
      .withWatermark("ts", "1 day")
      .join(dim, col("user_id") === col("c_custkey"), "left")
      .groupBy(window(col("ts"), "6 hours").as("w"), col("segment"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast(DecimalType(18, 2))).cast(DoubleType).as("sum_value"))
      .select(col("w.start").as("window_start"), col("segment"),
        col("n_events"), col("sum_value"))
    runAvailableNow(agg.writeStream
      .format("memory")
      .queryName(name)
      .outputMode("complete")
      .trigger(Trigger.AvailableNow())
      .start())
    collectAndDrop(spark, name,
      spark.table(name).orderBy("window_start", "segment"))
  }

  /** Batch twin of streamEnrich for parity checks. */
  def batchEnrich(spark: SparkSession, sfDir: String): DataFrame =
    graft.Tables.load(spark, sfDir, "events")
      .join(graft.Tables.load(spark, sfDir, "customer")
          .select(col("c_custkey"), col("c_mktsegment").as("segment")),
        col("user_id") === col("c_custkey"), "left")
      .groupBy(window(col("ts"), "6 hours").as("w"), col("segment"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast(DecimalType(18, 2))).cast(DoubleType).as("sum_value"))
      .select(col("w.start").as("window_start"), col("segment"),
        col("n_events"), col("sum_value"))
      .orderBy("window_start", "segment")

  /** Stream-STREAM interval join — the funnel pattern: each click
    * joined to the same user's purchases within the following 2 hours
    * — CHAINED with an in-stream windowed aggregation (Spark's
    * multiple-stateful-operator support): join state is evicted by the
    * range condition as event time advances, and the join's output
    * flows straight into a (user, 6 h window) aggregate whose state
    * the watermark also evicts. The sink therefore holds O(user·window)
    * AGGREGATE rows, never the O(matches) raw pair set — at scale the
    * raw pairs exist only transiently between two stateful operators
    * on the executors. The drain is a thin rollup of those aggregates
    * to the per-user totals the oracle states.
    *
    * Stream-stream joins run in append mode only, and append-mode
    * windows emit ONLY when a later batch's watermark passes them — a
    * drained bounded source never produces that later batch on its
    * own. The production analog is a watermark heartbeat (idle-source
    * advance); here a sentinel side-channel file source unioned into
    * the stream plays that role: sentinel rows carry far-future
    * timestamps (year 2099 — no corpus reaches it) under reserved
    * user ids (click -1, purchase -2, which can never satisfy the
    * equi-key) so they advance BOTH side watermarks while provably
    * never joining, aggregating, or reaching the sink. One heartbeat
    * rides with the initial batch (watermark jumps past every real
    * window at first commit); the second lands in batch 2, whose
    * emission pass flushes every closed window to the sink. */
  def streamJoin(parent: SparkSession, sfDir: String): DataFrame = {
    val spark = streamingSession(parent)
    val name = s"stream_join_${runId.incrementAndGet()}"
    graft.Artifacts.withRunDir("stream_join") { hbDir =>
      def heartbeat(n: Int, ts: String): Unit =
        spark.createDataFrame(java.util.Arrays.asList(
            org.apache.spark.sql.Row(-n.toLong, java.sql.Timestamp.valueOf(ts),
              -1L, "click", 0.0, null),
            org.apache.spark.sql.Row(-n.toLong - 1L,
              java.sql.Timestamp.valueOf(ts), -2L, "purchase", 0.0, null)),
          eventsTsSchema)
          .write.mode("append").parquet(hbDir)
      heartbeat(1, "2099-01-01 00:00:00")
      val ev = eventsStream(spark, sfDir).unionByName(
        spark.readStream.schema(eventsTsSchema).parquet(hbDir))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id").as("c_user"), col("ts").as("c_ts"))
        .withWatermark("c_ts", "1 day")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"), col("ts").as("p_ts"))
        .withWatermark("p_ts", "1 day")
      val agg = clicks.join(purchases,
        col("c_user") === col("p_user") &&
          col("p_ts") > col("c_ts") &&
          col("p_ts") <= col("c_ts") + expr("INTERVAL 2 HOURS"))
        .select(col("c_user").as("user_id"), col("c_ts"),
          (unix_micros(col("p_ts")) - unix_micros(col("c_ts"))).as("gap_us"))
        .groupBy(col("user_id"), window(col("c_ts"), "6 hours"))
        .agg(count(lit(1)).as("n_pairs"), sum(col("gap_us")).as("sum_gap_us"))
      val q = agg.writeStream
        .format("memory")
        .queryName(name)
        .outputMode("append")
        .start()
      try {
        q.processAllAvailable()           // batch 1: corpus + heartbeat 1
        heartbeat(3, "2099-06-01 00:00:00")
        q.processAllAvailable()           // batch 2: emits all closed windows
      } finally q.stop()
      collectAndDrop(spark, name, spark.table(name)
        .groupBy("user_id")
        .agg(sum(col("n_pairs")).as("n_pairs"),
          sum(col("sum_gap_us")).as("sum_gap_us"))
        .orderBy("user_id"))
    }
  }

  /** Batch twin of streamJoin for parity checks. */
  def batchJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = graft.Tables.load(spark, sfDir, "events")
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"))
    clicks.join(purchases,
      col("c_user") === col("p_user") &&
        col("p_ts") > col("c_ts") &&
        col("p_ts") <= col("c_ts") + expr("INTERVAL 2 HOURS"))
      .select(col("c_user").as("user_id"),
        (unix_micros(col("p_ts")) - unix_micros(col("c_ts"))).as("gap_us"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_pairs"), sum(col("gap_us")).as("sum_gap_us"))
      .orderBy("user_id")
  }

  /** Event for the funnel-timeout key: ts carries the watermark,
    * us the exact integer-micros twin for boundary comparisons. */
  case class FunnelEvent(user_id: Long, event_type: String,
      ts: java.sql.Timestamp, us: Long)
  /** Per-user funnel state: undecided clicks, retained purchases
    * (only those still able to match a pending or future click),
    * and the resolved running totals. */
  case class FunnelState(pending: List[Long], purchases: List[Long],
      matched: Long, orphans: Long)
  case class FunnelResult(user_id: Long, n_matched: Long, n_orphans: Long)

  private val twoHoursUs = 7200000000L

  /** Funnel with TIMEOUT — the abandoned-cart query: for every click,
    * was there a purchase by the same user within the next 2 hours?
    * This is the LEFT OUTER face of stream_join, and the production
    * implementation is NOT an outer join: it is custom state with an
    * EVENT-TIME TIMER (flatMapGroupsWithState + EventTimeTimeout),
    * because the negative verdict ("no purchase came") can only be
    * decided by the passage of event time, and a timer is how a
    * stream decides it without holding the corpus. State per user is
    * O(pending clicks + recent purchases) — both bounded by the 2 h
    * horizon, evicted as the watermark advances — and the sink holds
    * ONE row per user (the resolved totals), never per-click rows.
    *
    * Decision rule (identical to the batch LEFT JOIN the oracle
    * runs): click c is matched iff some purchase p of the same user
    * has c < p ≤ c+2h, decidable once the watermark passes c+2h; a
    * purchase stays in state only while p > watermark − 2h (it can
    * still decide some undecided click exactly while that holds).
    * Comparisons are integer micros (SURVEY §4).
    *
    * Drain choreography: the same two-heartbeat sentinel pattern as
    * stream_join (reserved negative user ids — their groups update no
    * state and emit nothing). Heartbeat 1 rides with the corpus batch
    * and jumps the watermark past every real click's horizon at first
    * commit; heartbeat 2's batch fires the per-user timers (set to
    * max-seen-ts + 3 h, beyond every real event but far below the
    * sentinel watermark), each of which resolves its user's remaining
    * clicks and emits the single per-user result row. */
  def streamFunnelTimeout(parent: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = streamingSession(parent)
    import spark.implicits._
    val name = s"stream_funnel_${runId.incrementAndGet()}"
    graft.Artifacts.withRunDir("stream_funnel_timeout") { hbDir =>
      def heartbeat(n: Int, ts: String): Unit =
        spark.createDataFrame(java.util.Arrays.asList(
            org.apache.spark.sql.Row(-n.toLong, java.sql.Timestamp.valueOf(ts),
              -1L, "click", 0.0, null)),
          eventsTsSchema)
          .write.mode("append").parquet(hbDir)
      heartbeat(1, "2099-01-01 00:00:00")
      val ev = eventsStream(spark, sfDir).unionByName(
          spark.readStream.schema(eventsTsSchema).parquet(hbDir))
        .filter(col("event_type").isin("click", "purchase"))
        .withWatermark("ts", "1 day")
        .select(col("user_id"), col("event_type"), col("ts"),
          unix_micros(col("ts")).as("us"))
        .as[FunnelEvent]
      def resolve(st: FunnelState, wmUs: Long, all: Boolean): FunnelState = {
        val (decided, pending) =
          if (all) (st.pending, Nil)
          else st.pending.partition(c => c + twoHoursUs < wmUs)
        val m = decided.count(c =>
          st.purchases.exists(p => p > c && p <= c + twoHoursUs))
        FunnelState(pending,
          st.purchases.filter(_ > wmUs - twoHoursUs),
          st.matched + m, st.orphans + (decided.size - m))
      }
      val results = ev.groupByKey(_.user_id)
        .flatMapGroupsWithState[FunnelState, FunnelResult](
          OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
          (user: Long, batch: Iterator[FunnelEvent], state: GroupState[FunnelState]) =>
            if (user < 0) Iterator.empty   // sentinel heartbeat groups
            else if (state.hasTimedOut) {
              // event time has passed every click's horizon: final verdicts
              val st = resolve(state.getOption
                  .getOrElse(FunnelState(Nil, Nil, 0L, 0L)),
                state.getCurrentWatermarkMs() * 1000L, all = true)
              state.remove()
              if (st.matched + st.orphans > 0)
                Iterator.single(FunnelResult(user, st.matched, st.orphans))
              else Iterator.empty
            } else {
              var st = state.getOption.getOrElse(FunnelState(Nil, Nil, 0L, 0L))
              var maxUs = 0L
              batch.foreach { e =>
                maxUs = math.max(maxUs, e.us)
                st = if (e.event_type == "click") st.copy(pending = e.us :: st.pending)
                  else st.copy(purchases = e.us :: st.purchases)
              }
              // resolve what the current watermark already decides and
              // evict purchases that can no longer match anything
              st = resolve(st, state.getCurrentWatermarkMs() * 1000L, all = false)
              state.update(st)
              // the timer that will deliver the remaining verdicts: just
              // past this user's own horizon (a timer must exceed the
              // current watermark — for a straggler batch arriving after
              // the watermark passed this user's horizon, fire ASAP)
              state.setTimeoutTimestamp(
                math.max(maxUs / 1000L + 3L * 3600 * 1000,
                  state.getCurrentWatermarkMs() + 1L))
              Iterator.empty
            }
        }
      val q = results.toDF().writeStream
        .format("memory")
        .queryName(name)
        .outputMode("append")
        .start()
      try {
        q.processAllAvailable()           // batch 1: corpus + heartbeat 1
        heartbeat(2, "2099-06-01 00:00:00")
        q.processAllAvailable()           // batch 2: timers fire, rows emit
      } finally q.stop()
      collectAndDrop(spark, name, spark.table(name).orderBy("user_id"))
    }
  }

  /** Batch twin of streamFunnelTimeout for parity checks. */
  def batchFunnelTimeout(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = graft.Tables.load(spark, sfDir, "events")
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("c_eid"), col("user_id").as("c_user"),
        col("ts").as("c_ts"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"))
    clicks.join(purchases,
        col("c_user") === col("p_user") &&
          col("p_ts") > col("c_ts") &&
          col("p_ts") <= col("c_ts") + expr("INTERVAL 2 HOURS"), "left_outer")
      // verdict per click EVENT (event_id), not per distinct timestamp —
      // duplicate (user, ts) clicks each count, as they do in the stream
      .groupBy(col("c_user"), col("c_eid"))
      .agg(max(col("p_ts").isNotNull).as("m"))
      .groupBy(col("c_user").as("user_id"))
      .agg(sum(when(col("m"), 1L).otherwise(0L)).as("n_matched"),
        sum(when(col("m"), 0L).otherwise(1L)).as("n_orphans"))
      .orderBy("user_id")
  }

  /** Streaming exact deduplication — the streaming twin of the dedup
    * family: watermarked dropDuplicates holds one state record per
    * distinct key and evicts keys older than the watermark, so state
    * is bounded by the dedup window, not the stream. The kept-row
    * CONTENT under duplicates is arrival-order-dependent across
    * partitions, so the query reports the deterministic part: distinct
    * user counts per event type after dedup. */
  def streamDedup(parent: SparkSession, sfDir: String): DataFrame = {
    val spark = streamingSession(parent)
    val name = s"stream_dedup_${runId.incrementAndGet()}"
    val deduped = eventsStream(spark, sfDir)
      .withWatermark("ts", "1 day")
      .dropDuplicates("user_id", "event_type")
      .select("user_id", "event_type")
    runAvailableNow(deduped.writeStream
      .format("memory")
      .queryName(name)
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start())
    collectAndDrop(spark, name, spark.table(name)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_users"))
      .orderBy("event_type"))
  }

  /** Batch twin of streamDedup. */
  def batchDedup(spark: SparkSession, sfDir: String): DataFrame =
    graft.Tables.load(spark, sfDir, "events")
      .groupBy("event_type")
      .agg(countDistinct(col("user_id")).as("n_users"))
      .orderBy("event_type")

  /** One-time versioned CDC change log for stream_cdc_apply (per
    * corpus fingerprint, like every published layout): three batch
    * directories written in sequence — v1 updates, v2 deletes, v3
    * inserts, the SAME deterministic derivation etl_cdc_upsert
    * applies in one batch — each row carrying (op, version). */
  private[graft] def cdcLogDir(sfDir: String): String =
    s"/tmp/graft_cdc_log_${graft.operators.ScaleJoins.corpusTag(sfDir, Seq("customer"))}"

  private[graft] val cdcLogSchema: StructType = StructType(Seq(
    StructField("c_custkey", LongType),
    StructField("c_name", StringType),
    StructField("c_nationkey", IntegerType),
    StructField("c_acctbal", DoubleType),
    StructField("c_mktsegment", StringType),
    StructField("op", StringType),
    StructField("version", IntegerType)))

  /** Event-time anchor for the CDC waves: version v carries
    * change_ts = T0 + v hours (v=0 is the initial dimension load).
    * Micros of 2024-06-01T00:00:00Z — fixed, so the AS OF TIMESTAMP
    * oracle can carry the probe instants as literals. */
  private[graft] val cdcT0Micros: Long = 1717200000000000L

  /** The CDC log WITH its event-time column — only the AS OF
    * TIMESTAMP key reads it; every other consumer keeps the narrower
    * cdcLogSchema and parquet prunes the column away unread. */
  private val cdcLogTsSchema: StructType =
    StructType(cdcLogSchema.fields :+ StructField("change_ts", TimestampType))

  private[graft] def writeCdcLog(s: SparkSession, sfDir: String): Unit = {
    val root = cdcLogDir(sfDir)
    // layout suffix: the r13 change_ts column must force a republish
    // of logs published by older binaries (content check only — the
    // DIR name stays keyed on corpus identity alone)
    val tag = graft.operators.ScaleJoins.corpusTag(sfDir, Seq("customer")) +
      "|layout=ts1"
    graft.Artifacts.publish(root, Some(tag)) {
      val base = graft.Tables.load(s, sfDir, "customer")
      def stamp(df: DataFrame, op: String, v: Int): DataFrame =
        df.withColumn("op", lit(op)).withColumn("version", lit(v))
          .withColumn("change_ts",
            expr(s"timestamp_micros(${cdcT0Micros}L + version * 3600000000L)"))
      val b1 = stamp(base.filter(col("c_custkey") % 10 === 1)
        .withColumn("c_acctbal", col("c_acctbal") + 100.0), "U", 1)
      // deletes ride with their last payload (Debezium 'before'
      // image); the apply only reads their key + version
      val b2 = stamp(base.filter(col("c_custkey") % 10 === 3), "D", 2)
      val shift = base.agg(max(col("c_custkey")).as("key_shift"))
      val b3 = stamp(base.filter(col("c_custkey") % 10 === 7)
        .crossJoin(broadcast(shift))
        .withColumn("c_custkey", col("c_custkey") + col("key_shift"))
        .drop("key_shift"), "I", 3)
      // sequential writes give the file source its mtime order. For
      // the MERGE consumers (stream_cdc_apply, stream_scd2,
      // stream_dim_vacuum) that order is a convenience — the merge
      // is version-aware and converges under any delivery order —
      // but the SNAPSHOT keys (stream_dim_asof, stream_dim_asof_ts)
      // DEPEND on wave v landing as batchId v-1: their as-of bounds
      // index batch positions. An mtime tie reordering the waves
      // would silently desynchronize every snapshot from the
      // progressive oracle, so those keys' foreachBatch REQUIREs
      // version == batchId+1 and fails fast instead.
      b1.coalesce(1).write.mode("overwrite").parquet(s"$root/b1")
      b2.coalesce(1).write.mode("overwrite").parquet(s"$root/b2")
      b3.coalesce(1).write.mode("overwrite").parquet(s"$root/b3")
    }
  }

  /** Streaming CDC apply — the consumer side of change-data-capture:
    * a stream of versioned change images (the Debezium/binlog shape;
    * the reference's WHOLE program is the batch ancestor of this
    * loop) merged incrementally into a stored table by foreachBatch,
    * one MERGE per micro-batch. maxFilesPerTrigger=1 makes each log
    * batch its own micro-batch, so the store really is rewritten
    * incrementally, three times — not collapsed into one big apply.
    *
    * The merge is LATEST-WINS BY VERSION, not arrival order: store ∪
    * batch reduces per key to the max-(version) image via ONE
    * struct-max aggregate (the q_latest_per_key shape — map-side
    * combining, O(keys) state, no window rank), with delete images
    * retained as tombstones and filtered at read. Out-of-order
    * delivery therefore converges to the same store — the property
    * that lets a 100 TB consumer run many partitions of the change
    * topic in parallel without cross-partition ordering. Each
    * micro-batch costs O(store + batch) here (merge-on-write);
    * etl_cdc_deletes is the merge-on-read sibling that makes the
    * per-batch cost O(batch). The final store must equal
    * etl_cdc_upsert's one-shot batch MERGE of the same changes —
    * that equality IS the oracle. */
  /** The per-micro-batch MERGE: latest-wins by version via one
    * struct-max aggregate. IDEMPOTENT by construction — re-merging an
    * already-applied batch reselects the same max images — which is
    * what makes the foreachBatch loop safe under at-least-once
    * delivery and checkpoint-replayed batches (spec-asserted). */
  private[graft] def cdcMerge(prev: DataFrame, batch: DataFrame): DataFrame = {
    val payload = Seq("c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
    val cols = prev.columns.map(col).toSeq
    prev.unionByName(batch.select(cols: _*))
      .groupBy(col("c_custkey"))
      .agg(max(struct((Seq("version", "op") ++ payload).map(col): _*))
        .as("m"))
      .select(col("c_custkey") +: (payload :+ "op" :+ "version")
        .map(f => col(s"m.$f").as(f)): _*)
  }

  /** One-time SCD2 change-wave log (per corpus fingerprint): the SAME
    * two deterministic update waves etl_scd2 derives in batch, one
    * directory per wave so maxFilesPerTrigger=1 replays them as two
    * real micro-batches. */
  private def scd2LogDir(sfDir: String): String =
    s"/tmp/graft_scd2_log_${graft.operators.ScaleJoins.corpusTag(sfDir, Seq("customer"))}"

  private val scd2LogSchema: StructType = StructType(Seq(
    StructField("c_custkey", LongType),
    StructField("ver", IntegerType),
    StructField("c_acctbal", DoubleType),
    StructField("c_mktsegment", StringType)))

  private def writeScd2Log(s: SparkSession, sfDir: String): Unit = {
    val root = scd2LogDir(sfDir)
    val tag = graft.operators.ScaleJoins.corpusTag(sfDir, Seq("customer"))
    graft.Artifacts.publish(root, Some(tag)) {
      val base = graft.Tables.load(s, sfDir, "customer")
        .select(col("c_custkey"), col("c_acctbal"), col("c_mktsegment"))
      val w1 = base.filter(col("c_custkey") % 10 === 1)
        .withColumn("c_acctbal", col("c_acctbal") + 100.0)
        .withColumn("ver", lit(1))
      val w2 = base.filter(col("c_custkey") % 5 === 1)
        .withColumn("c_acctbal", col("c_acctbal") +
          when(col("c_custkey") % 10 === 1, 350.0).otherwise(250.0))
        .withColumn("c_mktsegment", lit("MACHINERY"))
        .withColumn("ver", lit(2))
      val cols = Seq("c_custkey", "ver", "c_acctbal", "c_mktsegment")
      w1.select(cols.map(col): _*)
        .coalesce(1).write.mode("overwrite").parquet(s"$root/b1")
      w2.select(cols.map(col): _*)
        .coalesce(1).write.mode("overwrite").parquet(s"$root/b2")
    }
  }

  /** The per-micro-batch SCD2 MERGE: version-aware per-key interval
    * REBUILD. Affected keys (left-semi on the batch's key set) have
    * their stored rows folded back to change images, unioned with the
    * batch's images, deduped at (key, ver) grain by struct-max (the
    * image of a version is deterministic, so redelivery collapses),
    * and re-intervaled with one lead() over (key, ver); untouched
    * keys pass through by anti-join. Order-INSENSITIVE and IDEMPOTENT
    * by construction — waves applied in any order, or twice, converge
    * to the same history (spec-asserted), which is what lets a 100 TB
    * consumer run change-topic partitions in parallel with no
    * cross-partition ordering; per-batch cost is O(batch + affected
    * history), and affected-history depth is bounded by change waves,
    * never corpus size. */
  private[graft] def scd2Merge(prev: DataFrame, batch: DataFrame): DataFrame = {
    val keys = batch.select("c_custkey").distinct()
    val affected = prev
      .join(keys.hint("shuffle_hash"), Seq("c_custkey"), "left_semi")
    val untouched = prev
      .join(keys.hint("shuffle_hash"), Seq("c_custkey"), "left_anti")
    val imgs = affected
      .select(col("c_custkey"), col("eff_from_ver").as("ver"),
        col("c_acctbal"), col("c_mktsegment"))
      .unionByName(batch.select(col("c_custkey"), col("ver"),
        col("c_acctbal"), col("c_mktsegment")))
      .groupBy(col("c_custkey"), col("ver"))
      .agg(max(struct(col("c_acctbal"), col("c_mktsegment"))).as("m"))
      .select(col("c_custkey"), col("ver"),
        col("m.c_acctbal").as("c_acctbal"),
        col("m.c_mktsegment").as("c_mktsegment"))
    val byKey = org.apache.spark.sql.expressions.Window
      .partitionBy(col("c_custkey")).orderBy(col("ver"))
    val rebuilt = imgs.select(col("c_custkey"),
      col("ver").as("eff_from_ver"),
      lead(col("ver"), 1).over(byKey).as("eff_to_ver"),
      when(lead(col("ver"), 1).over(byKey).isNull, 1).otherwise(0)
        .as("is_current"),
      col("c_acctbal"), col("c_mktsegment"))
    untouched.unionByName(rebuilt)
  }

  /** Streaming SCD2 — the composition the warehouse-ingest loop
    * actually runs: stream_cdc_apply maintains CURRENT state and
    * etl_scd2 builds history in one batch; here a CDC feed maintains
    * the type-2 dimension WITH validity intervals incrementally, one
    * MERGE per micro-batch over an initialized current-dimension
    * store (maxFilesPerTrigger=1 keeps each change wave a real
    * micro-batch). No watermark is needed because the merge is
    * version-aware rather than arrival-aware — a strictly stronger
    * ordering discipline (the stream_cdc_apply contract, proven
    * out-of-order-safe in the spec). The drained history must
    * hash-match etl_scd2 over the same rows — that equality IS the
    * oracle. */
  /** Bucket count for the hive-partitioned dimension stores. */
  private[graft] val dimBuckets = 16

  private[graft] def dimBucketOf: Column =
    pmod(hash(col("c_custkey")), lit(dimBuckets))

  /** Initialize the dimension store: generation g0 holds the full
    * dimension hive-partitioned by key bucket — the layout that makes
    * incremental maintenance write O(affected buckets), not
    * O(dimension), per micro-batch. `eventTimeMicros` stamps g0's
    * event-time manifest (the AS OF TIMESTAMP epoch of the initial
    * load); None keeps the store generation-addressable only. */
  private[graft] def writeDimStore(df: DataFrame, store: String,
      eventTimeMicros: Option[Long] = None): Unit = {
    df.withColumn("bkt", dimBucketOf)
      .write.partitionBy("bkt").parquet(s"$store/g0")
    eventTimeMicros.foreach(writeGenEventTime(store, 0L, _))
  }

  /** The per-generation event-time manifest — ONE number beside each
    * commit: the maximum event time observed in the store up to and
    * including that generation (cumulative, so late data keeps the
    * generation→time mapping MONOTONE and AS OF resolution
    * well-defined). Written after the parquet _SUCCESS; a crash in
    * between leaves a committed generation without a manifest, which
    * the producing batch's at-least-once replay repairs (overwrite
    * rewrites both) and timestamp resolution skips rather than
    * misreads. */
  private[graft] def writeGenEventTime(store: String, gen: Long,
      micros: Long): Unit =
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$store/g$gen/_EVENT_TIME"), micros.toString)

  private[graft] def readGenEventTime(store: String, gen: Long): Option[Long] = {
    val p = java.nio.file.Paths.get(s"$store/g$gen/_EVENT_TIME")
    if (java.nio.file.Files.exists(p))
      Some(java.nio.file.Files.readString(p).trim.toLong)
    else None
  }

  /** AS OF TIMESTAMP → generation bound, resolved through the
    * event-time manifests: the LARGEST committed generation whose
    * manifest time ≤ ts. A timestamp BETWEEN two commits therefore
    * reads the EARLIER generation — the state that actually existed
    * at that instant (the Delta/Iceberg TIMESTAMP AS OF contract) —
    * and a timestamp BEFORE the first commit is an error: no state
    * existed to serve. Generations without a manifest (pre-event-time
    * stores, or the write-crash window documented on
    * writeGenEventTime) are skipped, never guessed at. */
  private[graft] def resolveAsOfTimestamp(store: String, micros: Long): Long = {
    val times = scanDimStore(store, Long.MaxValue)
      .flatMap { case (g, _) => readGenEventTime(store, g).map(g -> _) }
    require(times.nonEmpty,
      s"store $store has no event-time manifests to resolve AS OF against")
    require(micros >= times.head._2,
      s"AS OF timestamp_micros=$micros precedes the first commit " +
        s"(timestamp_micros=${times.head._2})")
    times.filter(_._2 <= micros).map(_._1).max
  }

  /** Resolve the store's current state as of generation `bound`:
    * per bucket, the LATEST COMMITTED generation (its dir carries
    * Spark's _SUCCESS marker) containing that bucket wins — the
    * LSM-style read side of the append-only layout. Returns the
    * winning bucket directories; the bkt value itself is derivable
    * from the key, so readers never need the partition column. */
  /** One walk of the store: committed generations ≤ bound in
    * ascending order, each with its bucket-dir map — shared by the
    * per-bucket resolver and the compaction trigger. */
  private[graft] def scanDimStore(store: String, bound: Long): Seq[(Long, Map[String, String])] =
    Option(new java.io.File(store).listFiles())
      .getOrElse(Array.empty[java.io.File])
      .filter(d => d.isDirectory && d.getName.startsWith("g") &&
        d.getName.drop(1).nonEmpty && d.getName.drop(1).forall(_.isDigit) &&
        d.getName.drop(1).toLong <= bound &&
        new java.io.File(d, "_SUCCESS").exists)
      .sortBy(_.getName.drop(1).toLong)
      .map { g =>
        g.getName.drop(1).toLong ->
          Option(g.listFiles()).getOrElse(Array.empty[java.io.File])
            .filter(b => b.isDirectory && b.getName.startsWith("bkt="))
            .map(b => b.getName -> b.getAbsolutePath).toMap
      }.toSeq

  private[graft] def resolveDimStore(store: String, bound: Long): Seq[(String, String)] = {
    val latest = scala.collection.mutable.LinkedHashMap[String, String]()
    scanDimStore(store, bound).foreach { case (_, bkts) =>
      bkts.foreach { case (name, path) => latest(name) = path }
    }
    latest.toSeq
  }

  /** AFFECTED-BUCKET merge write — the per-micro-batch store rewrite,
    * bounded on BOTH sides: the merge COMPUTE was always O(batch +
    * affected keys) (left-semi/anti in the merge fns), and the WRITE
    * is O(affected buckets) — the batch's key buckets resolve to
    * their latest committed generation, merge, and land as a NEW
    * generation g(batchId+1) holding only those buckets; every other
    * bucket's files are untouched on disk (spec-asserted
    * byte-identical). At 100 TB this is the difference between
    * rewriting a full dimension per batch and writing only the
    * partitions containing changed keys.
    *
    * Retry-safety is APPEND-ONLY, no delete window anywhere: a
    * replayed micro-batch re-reads the SAME resolved state (only
    * generations ≤ its batchId — a committed g(b+1) from a
    * die-after-write is deliberately ignored on replay) and
    * overwrite-rebuilds g(b+1); a generation dir without _SUCCESS
    * (killed mid-write) is invisible to every reader. Compare the
    * dynamic-partition-overwrite alternative, whose commit DELETES
    * the old partition dir before renaming the staged one in — a
    * kill in that window empties the bucket and no idempotent merge
    * can resurrect its untouched keys. Old generations retire via
    * retention (the etl_vacuum story), never in the hot path. */
  /** Compaction cadence: once a read would have to stitch state from
    * more than this many partial generations past the last full
    * snapshot, the next batch folds EVERYTHING into its new
    * generation (an LSM major compaction). Amortized write cost is
    * O(dimension / dimCompactEvery) per batch; read stitching stays
    * bounded at ≤ dimCompactEvery + 1 generation dirs instead of
    * growing with batch count — the r10-adjudicated
    * stream_cdc_apply/stream_scd2 store cost. */
  private[graft] val dimCompactEvery = 8

  /** CONTRACT on `merge`: it must never delete a key's last row
    * physically (deletes are tombstones filtered at read, as
    * cdcMerge/scd2Merge do). A merge that emptied a bucket would omit
    * that bkt= dir from the new generation, and the per-bucket
    * latest-generation resolver would silently RESURRECT the bucket's
    * previous state — in both the partial and the compacting path. */
  /** Index (into an ascending scan) of the newest FULL snapshot — a
    * generation covering every bucket observed in the store up to and
    * including itself. Judged against the prefix-union of bucket
    * names, NOT the fixed dimBuckets count: a small or skewed
    * dimension may never populate all 16 hash buckets, and a
    * count-based test would never see a full generation, majoring-
    * compacting every batch past the cadence forever. g0 always
    * qualifies (the initial write is the whole dimension), so this is
    * ≥ 0 for any committed store. Shared by the compaction trigger
    * and the retention vacuum so "garbage" means the same thing to
    * both. */
  private[graft] def lastFullIdx(scan: Seq[(Long, Map[String, String])]): Int = {
    var seen = Set.empty[String]
    var idx = -1
    scan.zipWithIndex.foreach { case ((_, bkts), i) =>
      seen ++= bkts.keySet
      if (bkts.keySet == seen) idx = i
    }
    idx
  }

  /** `requireWave` is the SNAPSHOT keys' fail-fast guard on their
    * hidden coupling: their as-of bounds assume wave v landed as
    * batchId v−1, which the file source only guarantees through
    * mtime order (see writeCdcLog). A tie or clock anomaly
    * reordering the waves must abort the run with a diagnosis, not
    * let every snapshot silently diverge from the progressive
    * oracle. min==max also catches a batch that coalesced two
    * waves. The check rides the probe aggregate below — no extra
    * job (r14: the former standalone requireWaveOrder action cost
    * one full batch scan per micro-batch). */
  private[graft] def applyDimBatch(spark: SparkSession, store: String,
      batchId: Long, batch: DataFrame,
      merge: (DataFrame, DataFrame) => DataFrame,
      compactEvery: Int = dimCompactEvery,
      requireWave: Boolean = false): Unit = {
    val hasTs = batch.columns.contains("change_ts")
    // ONE probe job per micro-batch (r14): the affected bucket set,
    // the batch's max change_ts (event-time manifest input) and the
    // wave-order min/max version all ride one grouped aggregate over
    // the in-hand batch — previously two or three separate actions
    // each re-scanning the same single-file batch.
    val nullLong = lit(null).cast(LongType)
    val nullInt = lit(null).cast(IntegerType)
    val probe = batch.groupBy(dimBucketOf.as("bkt")).agg(
      (if (hasTs) max(unix_micros(col("change_ts"))) else max(nullLong))
        .as("mx"),
      (if (requireWave) min(col("version")) else min(nullInt)).as("vmin"),
      (if (requireWave) max(col("version")) else max(nullInt)).as("vmax"))
      .collect()
    if (requireWave) {
      val vs = probe.filterNot(_.isNullAt(2))
      val vmin = vs.map(_.getInt(2)).reduceOption(math.min)
      val vmax = vs.map(_.getInt(3)).reduceOption(math.max)
      require(vmin.contains(batchId.toInt + 1) &&
        vmax.contains(batchId.toInt + 1),
        s"CDC wave order broke: batchId=$batchId carries versions " +
          s"[${vmin.orNull}, ${vmax.orNull}] (expected ${batchId + 1}) — " +
          "mtime ordering of the published wave files was violated")
    }
    val affected = probe.map(r => s"bkt=${r.getInt(0)}").toSet
    val scan = scanDimStore(store, batchId)
    val latest = scala.collection.mutable.LinkedHashMap[String, String]()
    scan.foreach { case (_, bkts) =>
      bkts.foreach { case (name, path) => latest(name) = path }
    }
    val resolved = latest.toSeq
    // partial generations since the last FULL snapshot (see
    // lastFullIdx for why fullness is prefix-union, not bucket-count).
    // The decision reads only generations ≤ batchId, so a replayed
    // batch sees the identical scan and makes the identical choice —
    // compaction keeps the append-only, replay-idempotent contract.
    val lastFull = lastFullIdx(scan)
    val sinceFull = if (lastFull < 0) scan.size else scan.size - 1 - lastFull
    val compact = sinceFull >= compactEvery
    val prevDirs =
      if (compact) resolved.map(_._2)
      else resolved.collect { case (name, path) if affected(name) => path }
    val prev =
      if (prevDirs.nonEmpty) spark.read.parquet(prevDirs: _*)
      else spark.read.parquet(resolved.head._2).limit(0)
    // merge fns carry untouched keys through, so feeding the FULL
    // resolved state makes g(batchId+1) a full snapshot with no extra
    // merge logic; the partial path feeds only affected buckets
    merge(prev, batch)
      .withColumn("bkt", dimBucketOf)
      .write.mode("overwrite").partitionBy("bkt")
      .parquet(s"$store/g${batchId + 1}")
    // event-time manifest beside the commit (see writeGenEventTime):
    // cumulative max over prior manifests ∪ this batch — read off the
    // probe aggregate above (no extra job), only when the feed
    // carries event time at all; an empty replayed batch inherits the
    // running max
    if (hasTs) {
      val batchMax = probe.foldLeft(Long.MinValue) { (m, r) =>
        if (r.isNullAt(1)) m else math.max(m, r.getLong(1))
      }
      val prevMax = scan.map(_._1).flatMap(readGenEventTime(store, _))
        .foldLeft(Long.MinValue)(math.max)
      val m = math.max(batchMax, prevMax)
      if (m > Long.MinValue) writeGenEventTime(store, batchId + 1, m)
    }
  }

  /** The served dimension: every bucket at its latest committed
    * generation. */
  private[graft] def readDimStore(spark: SparkSession, store: String): DataFrame =
    spark.read.parquet(
      resolveDimStore(store, Long.MaxValue).map(_._2): _*)

  /** Retention vacuum: every committed generation BELOW the newest
    * full snapshot is garbage — the full snapshot contains every
    * bucket, so the per-bucket latest-generation resolver can never
    * pick a path below it (latest-per-bucket ≥ lastFull for all
    * buckets). Physically deletes the garbage generation dirs and
    * returns the per-generation retention decision as data.
    *
    * READER-RACE SAFETY is structural, not locked: because no
    * resolve — before, during, or after the vacuum — ever returns a
    * garbage path, a reader that resolved its paths BEFORE the vacuum
    * and reads them after still reads live dirs (spec-asserted,
    * StreamPipelineSpec GC-vs-reader case). Compare Delta/Iceberg
    * VACUUM, which needs a retention horizon precisely because their
    * readers CAN hold references below the newest snapshot.
    *
    * REPLAY SAFETY is MEASURED, not argued: a generation whose
    * producing batch has not yet committed to the streaming
    * checkpoint may replay, and its replay re-reads only generations
    * BELOW it (scanDimStore bound = its batchId). The horizon
    * therefore comes from the checkpoint's own commits/ log —
    * generation g is replay-safe iff its producing batch g−1 is
    * durably committed — and fullness is judged only over the
    * replay-safe prefix: the newest full snapshot any replaying batch
    * can still see, at the cost of retaining at most the in-flight
    * epochs. Without this, a vacuum landing in the
    * write-to-checkpoint-commit window would delete every input of
    * the replaying batch and wedge the stream (spec-asserted:
    * replay-after-vacuum case, plus a commit-log-trailing-by->1
    * case). A drained pipeline's commit log covers every batch, so
    * the whole scan is judged — no caller-supplied depth constant
    * anywhere (the r12 replayDepth parameter this replaces).
    *
    * Uncommitted dirs (no _SUCCESS: a writer killed mid-flight) are
    * left alone — deleting a dir a live writer is mid-write into is
    * the remaining real race, and skipping it costs only bytes until
    * that batch replays. A generation whose physical delete FAILS is
    * reported kept (its decision is what actually happened on disk,
    * not what was intended), so a broken GC surfaces in the decision
    * data instead of masquerading as reclamation. */
  private[graft] def vacuumDimStore(store: String,
      checkpoint: String): Seq[(Long, Boolean)] =
    vacuumDimStoreAt(store, maxCommittedBatch(checkpoint) + 1)

  /** Newest batch id durably recorded in a Structured Streaming
    * checkpoint's commits/ log, or -1 when none has committed —
    * the measured replay horizon vacuumDimStore resolves through.
    * Batch ids are the plain-digit file names; .compact and .tmp
    * siblings are not commit records. */
  private[graft] def maxCommittedBatch(checkpoint: String): Long =
    Option(new java.io.File(checkpoint, "commits").listFiles())
      .getOrElse(Array.empty[java.io.File])
      .filter(f => f.isFile && f.getName.nonEmpty &&
        f.getName.forall(_.isDigit))
      .map(_.getName.toLong).foldLeft(-1L)(math.max)

  /** Core with an explicit replay-safe bound: fullness is judged only
    * over committed generations ≤ safeGen (every generation a
    * still-replayable batch might read is above the reclaim line). */
  private[graft] def vacuumDimStoreAt(store: String,
      safeGen: Long): Seq[(Long, Boolean)] = {
    val scan = scanDimStore(store, Long.MaxValue)
    val lastFull = lastFullIdx(scan.filter(_._1 <= safeGen))
    val lastFullGen =
      if (lastFull < 0) -1L else scan.filter(_._1 <= safeGen)(lastFull)._1
    scan.map { case (g, _) =>
      val keep = g >= lastFullGen ||
        !scala.reflect.io.Directory(new java.io.File(s"$store/g$g"))
          .deleteRecursively()
      (g, keep)
    }
  }

  /** One generation-store run, shared by the five dimension-store
    * keys: a fresh run directory holds the store (g0 = `init`) and the
    * streaming checkpoint; the change log under `logDir` replays one
    * wave directory per micro-batch through [[applyDimBatch]]; `read`
    * turns the drained store (and its checkpoint) into the answer.
    * The answer is materialized before the run directory goes and is
    * returned as a local relation (it is O(keys·waves) — the
    * drained-sink contract). The run directory is deleted whether the
    * run returns or throws. */
  private[graft] def dimStoreRun(spark: SparkSession, name: String,
      logSchema: StructType, logDir: String, init: DataFrame,
      merge: (DataFrame, DataFrame) => DataFrame,
      compactEvery: Int = dimCompactEvery, requireWave: Boolean = false,
      eventTimeMicros: Option[Long] = None)(
      read: (String, String) => DataFrame): DataFrame =
    graft.Artifacts.withRunDir(name) { run =>
      val store = s"$run/store"
      writeDimStore(init, store, eventTimeMicros)
      val changes = spark.readStream.schema(logSchema)
        .option("maxFilesPerTrigger", "1")
        .parquet(s"$logDir/b*")
      runAvailableNow(changes.writeStream
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          applyDimBatch(spark, store, batchId, batch, merge,
            compactEvery, requireWave)
        }
        .option("checkpointLocation", s"$run/ckpt")
        .trigger(Trigger.AvailableNow())
        .start())
      val fin = read(store, s"$run/ckpt")
      spark.createDataFrame(java.util.Arrays.asList(fin.collect(): _*), fin.schema)
    }

  /** The CDC keys' initial store: every customer as a version-0
    * insert image. */
  private def cdcInit(spark: SparkSession, sfDir: String): DataFrame =
    graft.Tables.load(spark, sfDir, "customer")
      .withColumn("op", lit("I")).withColumn("version", lit(0))

  /** The served rows of a CDC store state: tombstones filtered. */
  private def liveRows(state: DataFrame): DataFrame =
    state.filter(col("op") =!= "D").drop("op", "version")

  def streamScd2(parent: SparkSession, sfDir: String): DataFrame = {
    val spark = streamingSession(parent)
    writeScd2Log(spark, sfDir)
    dimStoreRun(spark, "scd2", scd2LogSchema, scd2LogDir(sfDir),
      graft.Tables.load(spark, sfDir, "customer")
        .select(col("c_custkey"), lit(0).as("eff_from_ver"),
          lit(null).cast(IntegerType).as("eff_to_ver"),
          lit(1).as("is_current"), col("c_acctbal"), col("c_mktsegment")),
      scd2Merge) { (store, _) =>
      readDimStore(spark, store).orderBy("c_custkey", "eff_from_ver")
    }
  }

  def streamCdcApply(parent: SparkSession, sfDir: String): DataFrame = {
    val spark = streamingSession(parent)
    writeCdcLog(spark, sfDir)
    dimStoreRun(spark, "cdc_apply", cdcLogSchema, cdcLogDir(sfDir),
      cdcInit(spark, sfDir), cdcMerge) { (store, _) =>
      liveRows(readDimStore(spark, store)).orderBy("c_custkey")
    }
  }

  /** The dim-store RETENTION lifecycle end-to-end — the third member
    * of the generation-store story (applyDimBatch writes generations,
    * compaction bounds read stitching, THIS key reclaims the garbage
    * compaction creates): the CDC feed is applied with an aggressive
    * compaction cadence (compactEvery=2, so the 3-wave log provably
    * majors inside the run — the cadence the 8-batch default can't
    * show on this fixture), then vacuumDimStore physically drops
    * every generation below the newest full snapshot, and the answer
    * is read from the VACUUMED store. The oracle is the one-shot
    * batch MERGE of the same change set: compaction, vacuum, and the
    * generation machinery must all be invisible in the answer —
    * survivors re-merged equal one-shot state. At 100 TB this is the
    * Delta VACUUM / Iceberg expire_snapshots job: without it the
    * store grows a full dimension copy per compaction forever.
    * Reader-race safety is structural (see vacuumDimStore) and
    * spec-asserted with a GC-racing-a-reader case. */
  def streamDimVacuum(parent: SparkSession, sfDir: String): DataFrame = {
    val spark = streamingSession(parent)
    writeCdcLog(spark, sfDir)
    dimStoreRun(spark, "dim_vacuum", cdcLogSchema, cdcLogDir(sfDir),
      cdcInit(spark, sfDir), cdcMerge, compactEvery = 2) { (store, ckpt) =>
      // the retention decision as data: with 3 waves at cadence 2 some
      // generation ≥ g1 is always full (either a wave covered every
      // bucket or batch 2 compacted), so the vacuum must both keep and
      // reclaim — a no-op vacuum here means the lifecycle is broken.
      // The replay horizon is READ from the checkpoint's commit log:
      // the drained stream has every batch committed, so the whole
      // scan is judged — no hand-passed depth
      val decisions = vacuumDimStore(store, ckpt)
      require(decisions.exists(_._2) && decisions.exists(!_._2),
        s"dim vacuum reclaimed nothing (decisions=$decisions)")
      liveRows(readDimStore(spark, store)).orderBy("c_custkey")
    }
  }

  /** Snapshot reads over the generation store — the third leg of the
    * lakehouse lifecycle (applyDimBatch writes, compaction bounds
    * stitching, vacuum reclaims, THIS key reads AS OF any retained
    * generation): resolveDimStore's bound parameter IS time travel,
    * because generations are append-only and a scan bounded at b sees
    * exactly the state after batch b — INCLUDING below a later major
    * compaction, which only adds a new generation and never rewrites
    * history. Run at compactEvery=2: at small SFs the single-digit
    * waves are bucket-partial and batch 2 major-compacts, so as-of
    * 1/2 read BELOW a compaction; at larger SFs the 10%-of-keys waves
    * cover every bucket and each generation is naturally a full
    * snapshot — either way some full snapshot sits above the early
    * bounds (required below), and the below-compaction read is
    * deterministically exercised by the spec's single-key-wave
    * fixture, where partiality is guaranteed. The oracle is the
    * progressive one-shot fold of the same change waves at every
    * bound — four exact snapshots from one store, no copies. Delta/
    * Iceberg VERSION AS OF is this read path; vacuumDimStore is what
    * retires it (history below the newest full snapshot dies at GC,
    * same tradeoff as Delta VACUUM vs time travel). */
  def streamDimAsof(parent: SparkSession, sfDir: String): DataFrame = {
    val spark = streamingSession(parent)
    writeCdcLog(spark, sfDir)
    dimStoreRun(spark, "dim_asof", cdcLogSchema, cdcLogDir(sfDir),
      cdcInit(spark, sfDir), cdcMerge, compactEvery = 2,
      requireWave = true) { (store, _) =>
      // all four generations must exist and some full snapshot must sit
      // ABOVE the early bounds (a compaction at small SFs, a bucket-
      // covering wave at larger ones) — otherwise the as-of reads are
      // not exercising history-below-a-snapshot at all
      val scan = scanDimStore(store, Long.MaxValue)
      require(scan.map(_._1) == Seq(0L, 1L, 2L, 3L) &&
        lastFullIdx(scan) >= 1,
        s"fixture must retain g0..g3 with a full snapshot past g0: " +
          s"${scan.map(t => t._1 -> t._2.size)}")
      (0 to 3).map { b =>
        liveRows(spark.read.parquet(resolveDimStore(store, b.toLong).map(_._2): _*))
          .withColumn("as_of", lit(b))
      }.reduce(_ unionByName _)
        .select("as_of", "c_custkey", "c_name", "c_nationkey",
          "c_acctbal", "c_mktsegment")
        .orderBy("as_of", "c_custkey")
    }
  }

  /** AS OF TIMESTAMP over the generation store — the API users
    * actually call (Delta/Iceberg TIMESTAMP AS OF), closing the
    * lifecycle stream_dim_asof opened with generation numbers: each
    * commit writes a ONE-NUMBER event-time manifest beside its
    * _SUCCESS (cumulative max change_ts — see writeGenEventTime), and
    * a timestamp resolves through the manifests to a generation bound
    * (largest commit time ≤ probe; BETWEEN two commits → the earlier
    * generation; BEFORE the first commit → error — both
    * spec-asserted), then reuses the exact snapshot machinery
    * (resolveDimStore at that bound). Probes: the initial load
    * instant, a mid-gap instant between waves 1 and 2, wave 2's exact
    * commit time, and an instant past the last wave — resolving to
    * generations 0..3, so the oracle is the SAME progressive fold as
    * stream_dim_asof keyed by probe micros instead of generation
    * number. Scale shape: resolution is O(generations) manifest reads
    * on the driver (tiny), the snapshot read is the same
    * latest-per-bucket parquet scan — timestamps add metadata, never
    * data movement. */
  def streamDimAsofTs(parent: SparkSession, sfDir: String): DataFrame = {
    val spark = streamingSession(parent)
    writeCdcLog(spark, sfDir)
    dimStoreRun(spark, "dim_asof_ts", cdcLogTsSchema, cdcLogDir(sfDir),
      cdcInit(spark, sfDir), cdcMerge, compactEvery = 2, requireWave = true,
      eventTimeMicros = Some(cdcT0Micros)) { (store, _) =>
      // probe instants (micros past T0): 0 = the initial load, +90 min
      // = strictly between wave 1 (+1 h) and wave 2 (+2 h) — must read
      // the EARLIER state, +2 h = exactly wave 2's commit, +10 h = past
      // the last wave
      val probes = Seq(0L, 5400000000L, 7200000000L, 36000000000L)
        .map(cdcT0Micros + _)
      probes.map { t =>
        val g = resolveAsOfTimestamp(store, t)
        liveRows(spark.read.parquet(resolveDimStore(store, g).map(_._2): _*))
          .withColumn("as_of_us", lit(t))
      }.reduce(_ unionByName _)
        .select("as_of_us", "c_custkey", "c_name", "c_nationkey",
          "c_acctbal", "c_mktsegment")
        .orderBy("as_of_us", "c_custkey")
    }
  }

  /** Progressive folds keyed by PROBE INSTANT — stream_dim_asof_ts's
    * oracle: the same four snapshots as streamDimAsofSql, labeled
    * with the probe's epoch micros (T0=2024-06-01T00:00:00Z; waves at
    * +1h/+2h/+3h; probes at +0/+90min/+2h/+10h resolve to generations
    * 0/1/2/3 by the largest-commit-≤-probe rule). */
  val streamDimAsofTsSql: String =
    """WITH s1 AS (
      |  SELECT c_custkey, c_name, c_nationkey,
      |    CASE WHEN c_custkey % 10 = 1 THEN c_acctbal + 100
      |         ELSE c_acctbal END AS c_acctbal,
      |    c_mktsegment
      |  FROM customer),
      |s2 AS (SELECT * FROM s1 WHERE c_custkey % 10 <> 3),
      |ins AS (
      |  SELECT c_custkey + (SELECT MAX(c_custkey) FROM customer) AS c_custkey,
      |         c_name, c_nationkey, c_acctbal, c_mktsegment
      |  FROM customer WHERE c_custkey % 10 = 7),
      |s3 AS (SELECT * FROM s2 UNION ALL SELECT * FROM ins)
      |SELECT CAST(1717200000000000 AS BIGINT) AS as_of_us, c_custkey,
      |       c_name, c_nationkey, c_acctbal, c_mktsegment FROM customer
      |UNION ALL SELECT CAST(1717205400000000 AS BIGINT), * FROM s1
      |UNION ALL SELECT CAST(1717207200000000 AS BIGINT), * FROM s2
      |UNION ALL SELECT CAST(1717236000000000 AS BIGINT), * FROM s3""".stripMargin

  /** Progressive one-shot folds of the CDC waves — the as-of oracle:
    * bound 0 = the initial dimension, 1 = update wave applied, 2 =
    * deletes applied, 3 = inserts applied (same derivations as
    * writeCdcLog / etl_cdc_upsert). */
  val streamDimAsofSql: String =
    """WITH s1 AS (
      |  SELECT c_custkey, c_name, c_nationkey,
      |    CASE WHEN c_custkey % 10 = 1 THEN c_acctbal + 100
      |         ELSE c_acctbal END AS c_acctbal,
      |    c_mktsegment
      |  FROM customer),
      |s2 AS (SELECT * FROM s1 WHERE c_custkey % 10 <> 3),
      |ins AS (
      |  SELECT c_custkey + (SELECT MAX(c_custkey) FROM customer) AS c_custkey,
      |         c_name, c_nationkey, c_acctbal, c_mktsegment
      |  FROM customer WHERE c_custkey % 10 = 7),
      |s3 AS (SELECT * FROM s2 UNION ALL SELECT * FROM ins)
      |SELECT 0 AS as_of, c_custkey, c_name, c_nationkey, c_acctbal,
      |       c_mktsegment FROM customer
      |UNION ALL SELECT 1, * FROM s1
      |UNION ALL SELECT 2, * FROM s2
      |UNION ALL SELECT 3, * FROM s3""".stripMargin

  // ---- DuckDB oracles for the streaming keys -------------------
  // A drained bounded stream's final state equals the batch
  // aggregation by Structured Streaming's semantics (the parity
  // specs assert it against the batch twins), so each streaming
  // key's OUTPUT is plain-SQL-expressible and the driver can
  // hash-verify it — the streaming machinery must be invisible in
  // the answer, exactly like salting in q_skew_join.

  val streamEventsSql: String =
    """SELECT date_trunc('hour', ts) AS window_start, event_type,
      |  COUNT(*) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM events GROUP BY 1, 2
      |ORDER BY 1, 2""".stripMargin

  /** Same session rebuild as qSessionWindowSql, minus the value sum
    * (the streaming key emits counts only) — (ts, event_id) total
    * order in both windows for the same duplicate-ts reason. */
  val streamSessionsSql: String =
    """WITH d AS (
      |  SELECT user_id, event_id, ts,
      |    CASE WHEN LAG(ts) OVER w IS NULL
      |           OR ts - LAG(ts) OVER w >= INTERVAL 30 MINUTE
      |         THEN 1 ELSE 0 END AS new_s
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |s AS (
      |  SELECT *, SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |    ROWS UNBOUNDED PRECEDING) AS sid
      |  FROM d)
      |SELECT user_id,
      |  epoch_us(min(ts)) AS session_start_us,
      |  epoch_us(max(ts) + INTERVAL 30 MINUTE) AS session_end_us,
      |  COUNT(*) AS n_events
      |FROM s GROUP BY user_id, sid
      |ORDER BY user_id, session_start_us""".stripMargin

  /** value carries exactly 2 decimals, so value*100 is within 1e-10
    * of an integer and both engines' round() agree (the HALF_UP vs
    * half-away divergence needs an exact .5, which cannot occur). */
  val streamUserStateSql: String =
    """SELECT user_id, COUNT(*) AS n_events,
      |  CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS total_cents
      |FROM events GROUP BY user_id
      |ORDER BY user_id""".stripMargin

  val streamDedupSql: String =
    """SELECT event_type, COUNT(DISTINCT user_id) AS n_users
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin

  val streamJoinSql: String =
    """WITH c AS (SELECT user_id, ts FROM events WHERE event_type = 'click'),
      |     p AS (SELECT user_id, ts FROM events WHERE event_type = 'purchase')
      |SELECT c.user_id, COUNT(*) AS n_pairs,
      |  CAST(SUM(epoch_us(p.ts) - epoch_us(c.ts)) AS BIGINT) AS sum_gap_us
      |FROM c JOIN p ON c.user_id = p.user_id
      |  AND p.ts > c.ts AND p.ts <= c.ts + INTERVAL 2 HOUR
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Per-click verdict (matched within 2 h?) rolled up per user —
    * exactly the decision rule the event-time timers deliver. */
  val streamFunnelSql: String =
    """WITH c AS (SELECT event_id, user_id, ts FROM events
      |           WHERE event_type = 'click'),
      |     p AS (SELECT user_id, ts FROM events
      |           WHERE event_type = 'purchase'),
      |     v AS (SELECT c.user_id, c.event_id,
      |             EXISTS (SELECT 1 FROM p
      |                     WHERE p.user_id = c.user_id
      |                       AND p.ts > c.ts
      |                       AND p.ts <= c.ts + INTERVAL 2 HOUR) AS m
      |           FROM c)
      |SELECT user_id,
      |  CAST(SUM(CASE WHEN m THEN 1 ELSE 0 END) AS BIGINT) AS n_matched,
      |  CAST(SUM(CASE WHEN m THEN 0 ELSE 1 END) AS BIGINT) AS n_orphans
      |FROM v GROUP BY 1 ORDER BY 1""".stripMargin

  /** Spark's window('6 hours') aligns to the epoch; the oracle floors
    * epoch micros to the same 6-hour grid. */
  val streamEnrichSql: String =
    """WITH e AS (
      |  SELECT make_timestamp((epoch_us(ts) // 21600000000) * 21600000000)
      |           AS window_start,
      |         c_mktsegment AS segment, value
      |  FROM events LEFT JOIN customer ON user_id = c_custkey)
      |SELECT window_start, segment, COUNT(*) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM e GROUP BY 1, 2
      |ORDER BY 1, 2""".stripMargin

  /** Shard count for the streaming heavy-hitter sketch. Each shard
    * holds ONE O(k) Misra-Gries state record, so state is
    * O(shards · k) regardless of stream length; at scale the shard
    * count tracks input parallelism (a conf, like the state-partition
    * knob) and the merge tree is unchanged — mergeable summaries
    * guarantee the same n/(k+1) bound under ANY merge shape. */
  val hhShards = 8L

  case class ShardSketch(shard: Long, n_seen: Long,
      counters: Map[String, Long])

  /** Streaming heavy hitters — the skew probe as a LIVE signal
    * (q_heavy_hitters' one-shot scan, kept continuously current): the
    * event stream shards by user hash, every shard folds its
    * micro-batches into a Misra-Gries sketch held as mapGroupsWithState
    * state, and the drain merges the shard sketches with the
    * mergeable-summaries merge. The production loop this models: a
    * hot-key monitor feeding the salting/broadcast decision while the
    * topic flows, state O(shards · k) forever. [T] like the batch
    * sketch keys: counter internals are merge-order-dependent inside
    * the guaranteed bound, so no SQL engine replays them bit-for-bit —
    * the spec asserts BOTH Misra-Gries guarantees against exact batch
    * counts instead. */
  def streamHeavyHitters(parent: SparkSession, sfDir: String): DataFrame = {
    val spark = streamingSession(parent)
    import spark.implicits._
    import org.apache.spark.sql.streaming.GroupState
    val k = graft.operators.Relational.heavyK
    val name = s"stream_heavy_hitters_${runId.incrementAndGet()}"
    val items = eventsStream(spark, sfDir)
      .select((col("user_id") % hhShards).as("shard"),
        when(col("user_id") % 4 < 2,
            concat(lit("hot_"), (col("user_id") % 3).cast(StringType)))
          .otherwise(col("user_id").cast(StringType)).as("item"))
      .as[(Long, String)]
    val sketches = items.groupByKey(_._1)
      .mapGroupsWithState[ShardSketch, ShardSketch] {
        (shard: Long, batch: Iterator[(Long, String)],
            state: GroupState[ShardSketch]) =>
          val prev = state.getOption
            .getOrElse(ShardSketch(shard, 0L, Map.empty))
          val next = batch.foldLeft(prev) { (acc, e) =>
            ShardSketch(shard, acc.n_seen + 1,
              graft.functions.MisraGries.reduce(acc.counters, e._2, k))
          }
          state.update(next)
          next
      }
    runAvailableNow(sketches.toDF().writeStream
      .format("memory").queryName(name)
      .outputMode("update").trigger(Trigger.AvailableNow()).start())
    // drain: the LATEST sketch per shard (n_seen is monotone under
    // updates), then the mergeable-summaries merge over shard-count
    // k-entry maps — model-sized driver work, the same drained-final-
    // aggregate contract as the other streaming keys
    val perShard = spark.table(name).as[ShardSketch].collect()
      .groupBy(_.shard).map(_._2.maxBy(_.n_seen).counters).toSeq
    spark.catalog.dropTempView(name)
    val merged =
      if (perShard.isEmpty) Map.empty[String, Long]
      else perShard.reduceLeft(graft.functions.MisraGries.merge(_, _, k))
    val rows = merged.toSeq.sortBy { case (i, c) => (-c, i) }
    spark.createDataFrame(rows).toDF("item", "est_count")
  }

  /** Watermark delay for the lateness audit: 20 days against the
    * fixture's 30-day span puts a real mix of late and on-time rows
    * in every replay batch. */
  val lateDelayUs: Long = 20L * 86400L * 1000000L

  /** One-time 3-batch replay log for stream_late_data: events split
    * by event_id % 3 — batches INTERLEAVE the whole time range, so
    * later batches genuinely carry event times far behind the
    * already-seen maximum (the out-of-order shape a late-data audit
    * exists for). Batch order is load-bearing here (unlike the CDC
    * log, whose merge is version-aware), so each directory's files
    * get explicitly increasing mtimes — the file source's ordering
    * key — instead of relying on write-latency gaps. */
  private[graft] def lateLogDir(sfDir: String): String =
    s"/tmp/graft_late_log_${graft.operators.ScaleJoins.corpusTag(sfDir, Seq("events"))}"

  private val lateLogSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("event_type", StringType),
    StructField("ts", TimestampType)))

  private def writeLateLog(s: SparkSession, sfDir: String): Unit = {
    import java.nio.file.{Files, Paths}
    val root = lateLogDir(sfDir)
    val tag = graft.operators.ScaleJoins.corpusTag(sfDir, Seq("events"))
    graft.Artifacts.publish(root, Some(tag)) {
      val ev = graft.Tables.load(s, sfDir, "events")
        .select(col("event_id"), col("event_type"), col("ts"))
      (0 until 3).foreach { b =>
        val dir = s"$root/b${b + 1}"
        ev.filter(col("event_id") % 3 === b)
          .coalesce(1).write.mode("overwrite").parquet(dir)
        // pin the file source's processing order explicitly
        val t = java.nio.file.attribute.FileTime.fromMillis(
          1600000000000L + b * 60000L)
        Files.list(Paths.get(dir)).forEach(p =>
          Files.setLastModifiedTime(p, t))
      }
    }
  }

  case class LateEv(event_type: String, us: Long)
  case class LateState(max_us: Long, n_ontime: Long, n_late: Long)
  case class LateCounts(event_type: String, n_ontime: Long, n_late: Long)

  /** Late-data accounting — the watermark observability every
    * production stream needs ("how much am I dropping?") and Spark
    * only surfaces as opaque query-progress metrics. A row is LATE
    * when it arrives after the per-key watermark — the max event time
    * of PRIOR micro-batches minus the allowed delay — which is
    * exactly the batch-granular watermark contract (Spark, too,
    * advances watermarks only between micro-batches, which is what
    * makes this deterministic under intra-batch parallelism: counts
    * depend on batch membership and batch ORDER, never on row order
    * inside a batch).
    *
    * Held as explicit flatMapGroupsWithState state (max-seen + two
    * counters per key — O(types) forever) rather than inferred from
    * append-mode eviction timing: the semantics are the OPERATOR'S
    * contract, so the oracle can replay them in SQL from the batch
    * assignment rule alone. */
  def streamLateData(parent: SparkSession, sfDir: String): DataFrame = {
    val spark = streamingSession(parent)
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    writeLateLog(spark, sfDir)
    val name = s"stream_late_${runId.incrementAndGet()}"
    val evs = spark.readStream.schema(lateLogSchema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"${lateLogDir(sfDir)}/b*")
      .select(col("event_type"), unix_micros(col("ts")).as("us"))
      .as[LateEv]
    val counted = evs.groupByKey(_.event_type)
      .flatMapGroupsWithState[LateState, LateCounts](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (tpe: String, rows: Iterator[LateEv], state: GroupState[LateState]) =>
          val prev = state.getOption.getOrElse(LateState(Long.MinValue, 0L, 0L))
          var late = 0L; var on = 0L; var mx = prev.max_us
          rows.foreach { e =>
            val isLate = prev.max_us != Long.MinValue &&
              e.us < prev.max_us - lateDelayUs
            if (isLate) late += 1 else on += 1
            if (e.us > mx) mx = e.us
          }
          val next = LateState(mx, prev.n_ontime + on, prev.n_late + late)
          state.update(next)
          Iterator(LateCounts(tpe, next.n_ontime, next.n_late))
      }
    runAvailableNow(counted.toDF().writeStream
      .format("memory")
      .queryName(name)
      .outputMode("update")
      .trigger(Trigger.AvailableNow())
      .start())
    // update mode re-emits per batch; totals are monotone, so the
    // final record per key is the running max
    collectAndDrop(spark, name,
      spark.table(name)
        .groupBy(col("event_type"))
        .agg(max(struct(col("n_ontime") + col("n_late"),
          col("n_ontime"), col("n_late"))).as("m"))
        .select(col("event_type"), col("m.n_ontime").as("n_ontime"),
          col("m.n_late").as("n_late"))
        .orderBy("event_type"))
  }

  /** Streaming twin of q_bitmap_distinct: EXACT daily distinct users
    * per event type, maintained incrementally. The streaming state is
    * bitmap WORDS per (day-window, type, id-bucket) — bit_or is the
    * classic mergeable streaming aggregate, so each micro-batch folds
    * into O(groups × id-range/64) words of state, never O(events) —
    * and the popcount rollup runs as a read-side view over the
    * drained sink: exactly the split a production serving path makes
    * (mergeable partials in the store, popcount at query time).
    * Same 60-slot word layout as the batch key, so the same oracle
    * covers both. */
  def streamBitmapDistinct(parent: SparkSession, sfDir: String): DataFrame = {
    val spark = streamingSession(parent)
    val name = s"stream_bitmap_${runId.incrementAndGet()}"
    val agg = eventsStream(spark, sfDir)
      .withWatermark("ts", "1 day")
      .groupBy(window(col("ts"), "1 day").as("w"), col("event_type"),
        expr("user_id div 60").as("bucket"))
      .agg(expr("bit_or(shiftleft(1L, cast(user_id % 60 as int)))").as("bm"),
        count(lit(1)).as("n"))
    runAvailableNow(agg.writeStream
      .format("memory")
      .queryName(name)
      .outputMode("complete")
      .trigger(Trigger.AvailableNow())
      .start())
    collectAndDrop(spark, name,
      spark.table(name)
        .groupBy(col("event_type"), to_date(col("w.start")).as("day"))
        .agg(expr("cast(sum(bit_count(bm)) as bigint)").as("n_users"),
          sum(col("n")).as("n_events"))
        .orderBy("event_type", "day"))
  }

  /** Batch-granular watermark replay: a row is late iff it undercuts
    * the max event time of STRICTLY EARLIER batches minus the delay —
    * the operator's exact contract, so plain SQL over the batch
    * assignment rule (event_id % 3, ascending) reproduces it. */
  val streamLateDataSql: String =
    s"""WITH e AS (
       |  SELECT event_type, epoch_us(ts) AS us, event_id % 3 AS b
       |  FROM events),
       |m AS (SELECT event_type, b, MAX(us) AS mx FROM e GROUP BY 1, 2),
       |w AS (
       |  SELECT event_type, b,
       |    MAX(mx) OVER (PARTITION BY event_type ORDER BY b
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prior_max
       |  FROM m),
       |j AS (
       |  SELECT e.event_type, e.us, w.prior_max
       |  FROM e JOIN w ON e.event_type = w.event_type AND e.b = w.b)
       |SELECT event_type,
       |  CAST(SUM(CASE WHEN prior_max IS NOT NULL
       |    AND us < prior_max - $lateDelayUs THEN 0 ELSE 1 END) AS BIGINT)
       |    AS n_ontime,
       |  CAST(SUM(CASE WHEN prior_max IS NOT NULL
       |    AND us < prior_max - $lateDelayUs THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_late
       |FROM j GROUP BY 1""".stripMargin

  /** Streaming OHLC bars — the live candlestick / SLO-rollup loop
    * (the continuously-running twin of the batch q_ohlc_bars): 6-hour
    * bars per event type maintained by an actual streaming
    * aggregation, open/close picked by the same zero-padded
    * (epoch, event_id) key so stream and batch agree bit-for-bit on
    * timestamp ties.
    *
    * Scale shape: per-bar state is five scalars + a count (min_by/
    * max_by carry one candidate each) — O(open bars × types), never
    * O(stream); the watermark admits a day of lateness and lets
    * closed bars evict in append-style production sinks (the drained
    * fixture run uses complete mode into memory). Oracle: the batch
    * key's own SQL — stream/batch parity IS the correctness claim. */
  def streamOhlc(parent: SparkSession, sfDir: String): DataFrame = {
    val spark = streamingSession(parent)
    val name = s"stream_ohlc_${runId.incrementAndGet()}"
    val agg = eventsStream(spark, sfDir)
      .withWatermark("ts", "1 day")
      .withColumn("bar_id", expr("unix_micros(ts) div 21600000000"))
      .withColumn("pick_key",
        expr("concat(lpad(cast(unix_micros(ts) as string), 20, '0'), " +
          "lpad(cast(event_id as string), 12, '0'))"))
      .groupBy(col("event_type"), col("bar_id"))
      .agg(
        min_by(col("value"), col("pick_key")).as("open"),
        max(col("value")).as("high"),
        min(col("value")).as("low"),
        max_by(col("value"), col("pick_key")).as("close"),
        count(lit(1)).as("n_events"))
    runAvailableNow(agg.writeStream
      .format("memory")
      .queryName(name)
      .outputMode("complete")
      .trigger(Trigger.AvailableNow())
      .start())
    collectAndDrop(spark, name,
      spark.table(name).orderBy("event_type", "bar_id"))
  }

  /** Streaming volume-anomaly flags — the live ops-dashboard loop
    * (error-rate spike, traffic drop, abuse burst): day-grain counts
    * per event type maintained by an actual watermarked streaming
    * aggregation; each drained day is then flagged against its type's
    * own day-count distribution with an EXACT INTEGER 2σ test —
    * (n·c − S)² > 4·(n·Q − S²), the z²>4 inequality cleared of
    * division and square root, so the flag is bit-deterministic in
    * both engines with no float anywhere (the q_welch_ttest
    * discipline applied to monitoring).
    *
    * Scale shape: the streaming agg keeps one count per open
    * (type, day) window — O(types·days of lateness) state, never
    * O(stream); scoring runs on the drained day-grain frame
    * (types×days rows — model-sized at any event volume), where the
    * per-row DECIMAL(38,0) squares cost nothing. At 100 TB/day the
    * same query shape holds: state is still one long per window. */
  def streamAnomaly(parent: SparkSession, sfDir: String): DataFrame = {
    val spark = streamingSession(parent)
    val name = s"stream_anomaly_${runId.incrementAndGet()}"
    val agg = eventsStream(spark, sfDir)
      .withWatermark("ts", "1 day")
      .groupBy(window(col("ts"), "1 day").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
    runAvailableNow(agg.writeStream
      .format("memory")
      .queryName(name)
      .outputMode("complete")
      .trigger(Trigger.AvailableNow())
      .start())
    val counts = collectAndDrop(spark, name,
      spark.table(name).select(col("event_type"),
        to_date(col("w.start")).as("day"), col("n_events")))
    anomalyFlags(counts)
  }

  /** The shared scoring half of stream/batch anomaly (ONE copy — the
    * z² inequality is the key's exactness contract and must not fork):
    * per-type moments over the day-grain frame, then the division-free
    * 2σ test with every product promoted to DECIMAL(38,0) BEFORE the
    * multiply — a long×long product wraps first (§4).
    *
    * HONEST BOUND: DECIMAL(38,0) keeps the products exact through 38
    * digits — (n·c − S)² stays inside that for day counts up to
    * ~10^18/(type, day), far past any real event volume, but it is a
    * bound, not infinity. Past it the failure is LOUD on every path:
    * under ANSI (the Spark 4 default) the decimal multiply itself
    * throws NUMERIC_VALUE_OUT_OF_RANGE; in a non-ANSI user session
    * the multiply returns NULL and the raise_error guard fires —
    * is_anomaly can never silently degrade to NULL while the oracle
    * keeps computing (DuckDB's own CAST(q AS BIGINT) throws at its
    * 2^63 bound, so both engines fail loud rather than diverge). */
  private[graft] def anomalyFlags(counts: DataFrame): DataFrame = {
    val stats = counts.groupBy("event_type").agg(
      count(lit(1)).as("n"), sum(col("n_events")).as("s"),
      sum(expr("CAST(n_events AS DECIMAL(38,0)) * n_events")).as("q"))
    // the z² predicate, ONE formula text
    val pred =
      "(CAST(n AS DECIMAL(38,0)) * n_events - s)" +
        " * (CAST(n AS DECIMAL(38,0)) * n_events - s)" +
        " > 4 * (CAST(n AS DECIMAL(38,0)) * q" +
        " - CAST(s AS DECIMAL(38,0)) * s)"
    counts.join(stats, Seq("event_type"))
      .withColumn("is_anomaly", expr(
        s"if(isnull($pred), raise_error('anomaly z-squared product " +
          s"overflowed DECIMAL(38,0) — widen the scoring type'), $pred)"))
      .select("event_type", "day", "n_events", "is_anomaly")
      .orderBy("event_type", "day")
  }

  /** Batch twin of stream_anomaly (same counts, same integer z² flag
    * over a static read) for the parity spec. */
  def batchAnomaly(spark: SparkSession, sfDir: String): DataFrame =
    anomalyFlags(graft.Tables.load(spark, sfDir, "events")
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n_events")))

  val streamAnomalySql: String =
    """WITH d AS (
      |  SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS n_events
      |  FROM events GROUP BY 1, 2),
      |s AS (
      |  SELECT event_type, COUNT(*) AS n,
      |    CAST(SUM(n_events) AS BIGINT) AS sm,
      |    CAST(SUM(CAST(n_events AS HUGEINT) * n_events) AS BIGINT) AS q
      |  FROM d GROUP BY 1)
      |SELECT d.event_type, d.day, d.n_events,
      |  (CAST(s.n AS HUGEINT) * d.n_events - s.sm)
      |    * (CAST(s.n AS HUGEINT) * d.n_events - s.sm)
      |    > 4 * (CAST(s.n AS HUGEINT) * s.q - CAST(s.sm AS HUGEINT) * s.sm)
      |    AS is_anomaly
      |FROM d JOIN s USING (event_type)
      |ORDER BY event_type, day""".stripMargin

  /** One-time arrival log for streaming MV maintenance: the
    * post-cutoff orders (the same delta q_mv_refresh folds in one
    * shot) split into three chronological waves, one file per wave so
    * maxFilesPerTrigger=1 replays them as three real micro-batches.
    * Each row carries its WAVE id — the load-id discipline that makes
    * the additive merge idempotent under redelivery. */
  private def mvLogDir(sfDir: String): String =
    s"/tmp/graft_mvlog_${graft.operators.ScaleJoins.corpusTag(sfDir, Seq("orders"))}"

  private[graft] val mvLogSchema: StructType = StructType(Seq(
    StructField("wave", IntegerType),
    StructField("o_orderdate", TimestampType),
    StructField("o_totalprice", DoubleType)))

  private def writeMvLog(s: SparkSession, sfDir: String): Unit = {
    val root = mvLogDir(sfDir)
    val tag = graft.operators.ScaleJoins.corpusTag(sfDir, Seq("orders"))
    graft.Artifacts.publish(root, Some(tag)) {
      val delta = graft.Tables.load(s, sfDir, "orders")
        .filter(col("o_orderdate") >=
          lit(graft.operators.ScaleJoins.mvRefreshCutoff).cast(TimestampType))
        .withColumn("wave",
          when(col("o_orderdate") < lit("1999-06-01").cast(TimestampType), 0)
            .when(col("o_orderdate") < lit("2000-06-01").cast(TimestampType), 1)
            .otherwise(2))
        .select("wave", "o_orderdate", "o_totalprice")
      delta.cache()
      try (0 to 2).foreach { w =>
        delta.filter(col("wave") === w)
          .coalesce(1).write.mode("overwrite").parquet(s"$root/b$w")
      } finally delta.unpersist()
    }
  }

  /** Per-micro-batch MV maintenance MERGE. The store holds PER-WAVE
    * partials at (yr, mo, wave) grain — the load-id layout that buys
    * exactly-once semantics from at-least-once delivery: a redelivered
    * wave re-derives the IDENTICAL partial rows, and the struct-max
    * dedupe at (yr, mo, wave) collapses them instead of double
    * counting (a naive additive merge is NOT idempotent — summing a
    * replayed batch twice corrupts the summary silently, the classic
    * streaming-MV bug). Cost per batch is O(batch + k·waves); the
    * read side rolls waves up to (yr, mo) — merge-on-read at
    * model-frame size. */
  private[graft] def mvMaintainMerge(prev: DataFrame, batch: DataFrame): DataFrame = {
    val cents = graft.operators.ScaleJoins.centsExpr
    val bp = batch
      .groupBy(year(col("o_orderdate")).as("yr"),
        month(col("o_orderdate")).as("mo"), col("wave"))
      .agg(sum(expr(cents)).as("rev_cents"),
        count(lit(1)).as("n_orders"),
        min(expr(cents)).as("min_cents"),
        max(expr(cents)).as("max_cents"))
    prev.unionByName(bp)
      .groupBy("yr", "mo", "wave")
      .agg(max(struct(col("rev_cents"), col("n_orders"),
        col("min_cents"), col("max_cents"))).as("m"))
      .select(col("yr"), col("mo"), col("wave"),
        col("m.rev_cents").as("rev_cents"),
        col("m.n_orders").as("n_orders"),
        col("m.min_cents").as("min_cents"),
        col("m.max_cents").as("max_cents"))
  }

  /** Rollup of the per-wave store to the served (yr, mo) summary. */
  private[graft] def mvMaintainRollup(store: DataFrame): DataFrame =
    store.groupBy("yr", "mo")
      .agg(sum(col("rev_cents")).as("rev_cents"),
        sum(col("n_orders")).as("n_orders"),
        min(col("min_cents")).as("min_cents"),
        max(col("max_cents")).as("max_cents"))
      .orderBy("yr", "mo")

  /** Streaming MV maintenance — the third leg of the MV story
    * (q_mv_rewrite/rollup/filter ANSWER from the summary,
    * q_mv_refresh repairs it in one batch; this keeps it
    * CONTINUOUSLY true as arrivals land): each micro-batch of new
    * orders folds its month-grain partials into the summary store,
    * initialized from the same stale MV q_mv_refresh starts from.
    * The drained, rolled-up store must equal the full recompute over
    * ALL of orders — the same oracle as q_mv_refresh, which is the
    * claim: batch refresh and streaming maintenance converge.
    *
    * Scale shape: per batch O(batch + k·waves), never O(base); store
    * is the model-sized summary. The wave-id partial layout makes
    * redelivery exactly-once (spec re-applies a wave and reverses
    * arrival order — same summary either way). */
  def streamMvMaintain(parent: SparkSession, sfDir: String): DataFrame = {
    val spark = streamingSession(parent)
    writeMvLog(spark, sfDir)
    graft.Artifacts.withRunDir("mv_maintain") { run =>
      spark.read.parquet(
          graft.operators.ScaleJoins.ensureStaleMv(spark, sfDir))
        .withColumn("wave", lit(-1))
        .select("yr", "mo", "wave", "rev_cents", "n_orders",
          "min_cents", "max_cents")
        .write.parquet(s"$run/store_0")
      val last = new AtomicLong(0L)
      val arrivals = spark.readStream.schema(mvLogSchema)
        .option("maxFilesPerTrigger", "1")
        .parquet(s"${mvLogDir(sfDir)}/b*")
      runAvailableNow(arrivals.writeStream
        // retry-safe generations: the store index is Spark's batchId
        // (Long end to end — never truncated; stable across
        // at-least-once replays) and the write is overwrite-mode, so a
        // replayed micro-batch REBUILDS store_(b+1) from the intact
        // store_b instead of dying on an existing path or merging
        // against the wrong generation. Generation = batchId assumes a
        // FRESH checkpoint (true by construction: the run dir is
        // UUID-fresh per call) — the require makes a violated
        // assumption loud instead of a nonexistent-path stack trace
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          require(new java.io.File(s"$run/store_$batchId").exists,
            s"generation store_$batchId missing: the batchId-indexed " +
              "store assumes a fresh checkpoint per run")
          val prev = spark.read.parquet(s"$run/store_$batchId")
          mvMaintainMerge(prev, batch).write.mode("overwrite")
            .parquet(s"$run/store_${batchId + 1}")
          last.getAndAccumulate(batchId + 1, (a, b) => math.max(a, b))
          ()
        }
        .option("checkpointLocation", s"$run/ckpt")
        .trigger(Trigger.AvailableNow())
        .start())
      val fin = mvMaintainRollup(spark.read.parquet(s"$run/store_${last.get()}"))
      spark.createDataFrame(java.util.Arrays.asList(fin.collect(): _*), fin.schema)
    }
  }

  /** One-time CDC-delete log for streaming retraction maintenance:
    * the SAME retracted set q_mv_retract subtracts in one shot
    * (o_orderkey % 101 = 0) split into three chronological waves, one
    * file per wave so maxFilesPerTrigger=1 replays them as three real
    * micro-batches. Each row carries its WAVE id (the load-id
    * discipline) and the full before-image (key, date, price) — the
    * Debezium delete shape: the consumer needs the image to know
    * which partials to subtract. */
  private def retractLogDir(sfDir: String): String =
    s"/tmp/graft_retractlog_${graft.operators.ScaleJoins.corpusTag(sfDir, Seq("orders"))}"

  private[graft] val retractLogSchema: StructType = StructType(Seq(
    StructField("wave", IntegerType),
    StructField("o_orderkey", LongType),
    StructField("o_orderdate", TimestampType),
    StructField("o_totalprice", DoubleType)))

  private def writeRetractLog(s: SparkSession, sfDir: String): Unit = {
    val root = retractLogDir(sfDir)
    val tag = graft.operators.ScaleJoins.corpusTag(sfDir, Seq("orders"))
    graft.Artifacts.publish(root, Some(tag)) {
      val dels = graft.Tables.load(s, sfDir, "orders")
        .filter(col("o_orderkey") % 101 === 0)
        .withColumn("wave",
          when(col("o_orderdate") < lit("1997-01-01").cast(TimestampType), 0)
            .when(col("o_orderdate") < lit("1999-01-01").cast(TimestampType), 1)
            .otherwise(2))
        .select("wave", "o_orderkey", "o_orderdate", "o_totalprice")
      dels.cache()
      try (0 to 2).foreach { w =>
        dels.filter(col("wave") === w)
          .coalesce(1).write.mode("overwrite").parquet(s"$root/b$w")
      } finally dels.unpersist()
    }
  }

  /** Per-micro-batch retraction MERGE — q_mv_retract's
    * subtract-and-patch, re-expressed for the wave-partial store.
    * SUM/COUNT maintain by SIGNED multiplicity: the batch's partials
    * enter NEGATED at (yr, mo, wave) grain, so the struct-max dedupe
    * collapses a redelivered wave instead of double-subtracting (the
    * exactly-once-from-at-least-once discipline stream_mv_maintain
    * established for inserts). An extremum is NOT a group — a
    * retracted max leaves no runner-up in any partial — so MIN/MAX
    * recompute from SURVIVING base rows for the batch's affected
    * groups only, against the keys retracted SO FAR; the key log is
    * the store's O(retractions) state, exactly the CDC delete log any
    * extrema-maintaining view must keep (on a date-partitioned lake
    * the affected-month list IS the partition filter for the
    * recompute — the broadcast join against the model-sized group
    * list is that pruning's fixture stand-in). Groups retracted to
    * zero rows roll up to n_orders = 0 and drop at serve time.
    * Deterministic given (store, batch) and IDEMPOTENT under wave
    * redelivery (spec-asserted). */
  private[graft] def mvRetractApply(orders: DataFrame, prevPart: DataFrame,
      prevKeys: DataFrame, batch: DataFrame): (DataFrame, DataFrame) = {
    val cents = graft.operators.ScaleJoins.centsExpr
    // LAZY localCheckpoint (r14): the negated wave partials feed BOTH
    // the dedupe union and the affected-group list (the q_mv_retract
    // pin), but both consumers live inside the ONE part-store write
    // job — the eager materialization was a whole extra job per
    // micro-batch for a (yr, mo, wave)-grain frame. Lazy computes it
    // once (first consumer caches the blocks) inside that job.
    val bp = batch
      .groupBy(year(col("o_orderdate")).as("yr"),
        month(col("o_orderdate")).as("mo"), col("wave"))
      .agg((-sum(expr(cents))).as("rev_cents"),
        (-count(lit(1))).as("n_orders"))
      .withColumn("min_cents", lit(null).cast("long"))
      .withColumn("max_cents", lit(null).cast("long"))
      .localCheckpoint(eager = false)
    val merged = prevPart.unionByName(bp)
      .groupBy("yr", "mo", "wave")
      .agg(max(struct(col("rev_cents"), col("n_orders"),
        col("min_cents"), col("max_cents"))).as("m"))
      .select(col("yr"), col("mo"), col("wave"),
        col("m.rev_cents").as("rev_cents"),
        col("m.n_orders").as("n_orders"),
        col("m.min_cents").as("min_cents"),
        col("m.max_cents").as("max_cents"))
    // the delete log so far — distinct makes redelivery a no-op.
    // LAZY: the part-store write's anti-join shuffles every partition
    // of this frame (full materialization), then the key-store write
    // re-reads the cached blocks — one job saved per micro-batch.
    val newKeys = prevKeys.unionByName(batch.select("o_orderkey"))
      .distinct().localCheckpoint(eager = false)
    val affected = bp.select("yr", "mo")
    val survExt = orders
      .join(broadcast(affected),
        year(col("o_orderdate")) === col("yr") &&
          month(col("o_orderdate")) === col("mo"))
      .join(newKeys.hint("shuffle_hash"), Seq("o_orderkey"), "left_anti")
      .groupBy("yr", "mo")
      .agg(min(expr(cents)).as("s_min"), max(expr(cents)).as("s_max"))
    // extrema live on the base (wave -1) row; affected groups take the
    // recomputed survivor extrema, everyone else keeps theirs (a group
    // with zero survivors keeps stale extrema and drops at rollup)
    val part = merged
      .join(survExt.hint("shuffle_hash"), Seq("yr", "mo"), "left")
      .select(col("yr"), col("mo"), col("wave"),
        col("rev_cents"), col("n_orders"),
        when(col("wave") === -1 && col("s_min").isNotNull, col("s_min"))
          .otherwise(col("min_cents")).as("min_cents"),
        when(col("wave") === -1 && col("s_max").isNotNull, col("s_max"))
          .otherwise(col("max_cents")).as("max_cents"))
    (part, newKeys)
  }

  /** Streaming MV maintenance under RETRACTIONS — the fourth cell of
    * the batch/stream × insert/retract matrix (q_mv_refresh,
    * q_mv_retract, stream_mv_maintain hold the other three), and
    * exactly the CDC-fed continuous-summary loop a warehouse ingest
    * runs when the change topic carries deletes: each micro-batch of
    * delete images folds into the summary store initialized from the
    * full month MV, via [[mvRetractApply]]'s signed subtract +
    * affected-group extrema recompute. The drained, rolled-up store
    * must equal the full recompute over SURVIVORS — q_mv_retract's
    * oracle, shared deliberately: one-shot batch retraction and
    * streamed retraction must converge.
    *
    * Scale shape: per batch O(batch + affected-group base rows + k);
    * store state is the summary plus the O(retractions) delete log.
    * Generations are batchId-indexed (Long, fresh checkpoint by
    * construction) so a replayed micro-batch rebuilds from the intact
    * previous store. */
  def streamMvRetract(parent: SparkSession, sfDir: String): DataFrame = {
    val spark = streamingSession(parent)
    writeRetractLog(spark, sfDir)
    graft.Artifacts.withRunDir("mv_retract") { run =>
      spark.read.parquet(
          graft.operators.ScaleJoins.ensureMonthMv(spark, sfDir))
        .withColumn("wave", lit(-1))
        .select("yr", "mo", "wave", "rev_cents", "n_orders",
          "min_cents", "max_cents")
        .write.parquet(s"$run/store_0/part")
      spark.range(0).select(col("id").as("o_orderkey"))
        .write.parquet(s"$run/store_0/keys")
      val orders = graft.Tables.load(spark, sfDir, "orders")
      val last = new AtomicLong(0L)
      val deletes = spark.readStream.schema(retractLogSchema)
        .option("maxFilesPerTrigger", "1")
        .parquet(s"${retractLogDir(sfDir)}/b*")
      runAvailableNow(deletes.writeStream
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          require(new java.io.File(s"$run/store_$batchId").exists,
            s"generation store_$batchId missing: the batchId-indexed " +
              "store assumes a fresh checkpoint per run")
          val prevPart = spark.read.parquet(s"$run/store_$batchId/part")
          val prevKeys = spark.read.parquet(s"$run/store_$batchId/keys")
          val (part, keys) = mvRetractApply(orders, prevPart, prevKeys, batch)
          part.write.mode("overwrite").parquet(s"$run/store_${batchId + 1}/part")
          keys.write.mode("overwrite").parquet(s"$run/store_${batchId + 1}/keys")
          last.getAndAccumulate(batchId + 1, (a, b) => math.max(a, b))
          ()
        }
        .option("checkpointLocation", s"$run/ckpt")
        .trigger(Trigger.AvailableNow())
        .start())
      val fin = spark.read.parquet(s"$run/store_${last.get()}/part")
        .groupBy("yr", "mo")
        .agg(sum(col("rev_cents")).as("rev_cents"),
          sum(col("n_orders")).as("n_orders"),
          min(col("min_cents")).as("min_cents"),
          max(col("max_cents")).as("max_cents"))
        .filter(col("n_orders") > 0)
        .orderBy("yr", "mo")
      spark.createDataFrame(java.util.Arrays.asList(fin.collect(): _*), fin.schema)
    }
  }

  /** Streaming KMV bottom-K merge: fold a batch's hashes into the
    * kept set, truncating to K. Pure and ORDER-INSENSITIVE — the
    * bottom-K of a set is invariant under arrival order, batching,
    * and redelivery (re-adding a seen hash is a no-op), which is what
    * makes the final state oracle-EXACT where the Misra-Gries
    * streaming sketch can only be bound-checked. */
  private[graft] def kmvMerge(kept: Seq[Long], hs: Iterator[Long]): Seq[Long] = {
    val set = scala.collection.mutable.TreeSet.empty[Long] ++ kept
    hs.foreach { h =>
      set += h
      if (set.size > graft.operators.SketchOps.kmvK) set -= set.last
    }
    set.toSeq
  }

  case class KmvSketchRow(event_type: String, n_kept: Long, kth_hash: Long)

  /** Streaming distinct-user KMV sketch per event type — the
    * constant-memory distinct counter maintained AS STREAMING STATE
    * (per-key state = K longs, O(types·K) total, never O(stream)),
    * with the portable-hash design of q_kmv_distinct: because the
    * bottom-K of a set is arrival-order invariant, the drained final
    * state is hash-exact against the batch DuckDB oracle — the first
    * [O] streaming sketch on the board (stream_heavy_hitters stays
    * [T] by its merge-order-dependent internals).
    *
    * The hash is computed codegen-side BEFORE the state operator, so
    * the stateful stage only ever sees (type, long) pairs. At scale
    * the same plan holds: state is keyed by event type, batches fold
    * in one pass, and a checkpoint restart replays into the identical
    * set. */
  def streamKmv(parent: SparkSession, sfDir: String): DataFrame = {
    val spark = streamingSession(parent)
    import spark.implicits._
    val evs = eventsStream(spark, sfDir)
      .select(col("event_type"),
        expr(graft.operators.SketchOps.kmvHashSqlOn("user_id")).as("h"))
      .as[(String, Long)]
    kmvQuery(spark, evs)
  }

  /** The stateful query + final-state drain over an already-hashed
    * (type, hash) stream — factored so the spec can drive it with a
    * FORCED multi-batch source (maxFilesPerTrigger over a split log),
    * the regime the single-file fixture never exercises. */
  private[graft] def kmvQuery(spark: SparkSession,
      evs: org.apache.spark.sql.Dataset[(String, Long)]): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.GroupState
    val name = s"stream_kmv_${runId.incrementAndGet()}"
    val sk = evs.groupByKey(_._1)
      .mapGroupsWithState[Seq[Long], KmvSketchRow] {
        (et: String, batch: Iterator[(String, Long)],
            state: GroupState[Seq[Long]]) =>
          val kept = kmvMerge(state.getOption.getOrElse(Nil),
            batch.map(_._2))
          state.update(kept)
          KmvSketchRow(et, kept.size.toLong, kept.last)
      }
    runAvailableNow(sk.toDF().writeStream
      .format("memory")
      .queryName(name)
      .outputMode("update")
      .trigger(Trigger.AvailableNow())
      .start())
    // Final emission per key: n_kept only grows as batches fold in,
    // and AMONG EQUAL n_kept emissions kth_hash only shrinks
    // (pre-saturation, equal n_kept means identical kept sets;
    // post-saturation n_kept is pinned at K and new smaller hashes
    // evict the kth). A bare min(kth_hash) would be WRONG: while the
    // sketch is still filling, kth_hash GROWS with n_kept, so an
    // early small batch's kth could shadow the true final one. The
    // lexicographic struct max picks the saturated row first, then
    // the smallest kth within it.
    collectAndDrop(spark, name, spark.table(name)
      .groupBy("event_type")
      .agg(max(struct(col("n_kept"), (-col("kth_hash")).as("nk"))).as("b"))
      .select(col("event_type"), col("b.n_kept").as("n_kept"),
        (-col("b.nk")).as("kth_hash"))
      .withColumn("est_distinct",
        expr(graft.operators.SketchOps.kmvEstSql))
      .orderBy("event_type"))
  }

  val streamKmvSql: String = {
    import graft.operators.SketchOps.{kmvHashSql, kmvEstSql, kmvK}
    s"""WITH d AS (SELECT DISTINCT event_type, user_id AS k FROM events),
       |hh AS (SELECT DISTINCT event_type, $kmvHashSql AS h FROM d),
       |r AS (SELECT event_type, h, ROW_NUMBER() OVER (
       |        PARTITION BY event_type ORDER BY h) AS rn FROM hh),
       |sk AS (SELECT event_type, COUNT(*) AS n_kept, MAX(h) AS kth_hash
       |       FROM r WHERE rn <= $kmvK GROUP BY 1)
       |SELECT event_type, n_kept, kth_hash, $kmvEstSql AS est_distinct
       |FROM sk ORDER BY event_type""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "stream_kmv" -> (streamKmv _),
    "stream_mv_retract" -> (streamMvRetract _),
    "stream_mv_maintain" -> (streamMvMaintain _),
    "stream_anomaly" -> (streamAnomaly _),
    "stream_ohlc" -> (streamOhlc _),
    "stream_late_data" -> (streamLateData _),
    "stream_bitmap_distinct" -> (streamBitmapDistinct _),
    "stream_heavy_hitters" -> (streamHeavyHitters _),
    "stream_events" -> (streamEventsWindow _),
    "stream_user_state" -> (streamUserState _),
    "q_session_window" -> (qSessionWindow _),
    "stream_sessions" -> (streamSessions _),
    "stream_dedup" -> (streamDedup _),
    "stream_enrich" -> (streamEnrich _),
    "stream_join" -> (streamJoin _),
    "stream_funnel_timeout" -> (streamFunnelTimeout _),
    "stream_cdc_apply" -> (streamCdcApply _),
    "stream_scd2" -> (streamScd2 _),
    "stream_dim_vacuum" -> (streamDimVacuum _),
    "stream_dim_asof" -> (streamDimAsof _),
    "stream_dim_asof_ts" -> (streamDimAsofTs _))

  val oracles: Map[String, String] = Map(
    "stream_kmv" -> streamKmvSql,
    // stream/batch convergence: streaming maintenance must land on
    // the same summary q_mv_refresh's one-shot repair lands on — the
    // full-recompute SQL covers both
    "stream_mv_maintain" -> graft.operators.ScaleJoins.qMvRefreshSql,
    // stream/batch convergence under deletes: streamed retraction
    // maintenance must land on the same survivors-summary
    // q_mv_retract's one-shot subtract-and-patch lands on — the
    // full-recompute-over-survivors SQL covers both, deliberately
    "stream_mv_retract" -> graft.operators.ScaleJoins.qMvRetractSql,
    "stream_anomaly" -> streamAnomalySql,
    // stream/batch parity: the batch key's SQL covers the stream twin
    "stream_ohlc" -> graft.operators.Relational.qOhlcBarsSql,
    "stream_late_data" -> streamLateDataSql,
    // same word layout as the batch key -> same oracle covers both
    "stream_bitmap_distinct" -> graft.operators.AnalyticsOps.qBitmapDistinctSql,
    "q_session_window" -> qSessionWindowSql,
    "stream_events" -> streamEventsSql,
    "stream_sessions" -> streamSessionsSql,
    "stream_user_state" -> streamUserStateSql,
    "stream_dedup" -> streamDedupSql,
    "stream_enrich" -> streamEnrichSql,
    "stream_join" -> streamJoinSql,
    "stream_funnel_timeout" -> streamFunnelSql,
    // the streamed, incrementally-merged store must equal the
    // one-shot batch MERGE of the same change set
    "stream_cdc_apply" -> graft.operators.Etl.etlCdcUpsertSql,
    // the incrementally-maintained type-2 history must equal the
    // one-shot batch SCD2 build over the same change images
    "stream_scd2" -> graft.operators.Etl.etlScd2Sql,
    // the VACUUMED generation store must still equal the one-shot
    // batch MERGE: compaction + retention GC invisible in the answer
    "stream_dim_vacuum" -> graft.operators.Etl.etlCdcUpsertSql,
    // every retained generation bound must read as the progressive
    // one-shot fold at that bound — including below the compaction
    "stream_dim_asof" -> streamDimAsofSql,
    "stream_dim_asof_ts" -> streamDimAsofTsSql)
}
