package graft.perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** What Spark ran inside one wall-clock window [t0, t1] (epoch ms). */
final case class WindowStats(
    wallMs: Long, jobs: Int, tasks: Int, busyMs: Long,
    executorCpuNs: Long, gcMs: Long, recordsRead: Long,
    shuffleBytes: Long, spillBytes: Long,
    recordsWritten: Long, bytesWritten: Long) {
  /** Wall time with no job running. */
  def gapMs: Long = wallMs - busyMs
}

/** Job and task records from the listener bus, attributed to windows by
  * time: the load generator is one thread, so each measured call owns
  * every job that starts (and every task that ends) inside its window. */
class JobProbe extends SparkListener {
  private final case class Task(end: Long, cpuNs: Long, gcMs: Long,
      read: Long, shuffle: Long, spill: Long, written: Long, bytes: Long)
  private val starts = mutable.Map[Int, Long]()
  private val jobs = mutable.ArrayBuffer[(Long, Long)]()
  private val tasks = mutable.ArrayBuffer[Task]()

  override def onJobStart(e: SparkListenerJobStart): Unit =
    synchronized { starts(e.jobId) = e.time }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs += (starts.remove(e.jobId).getOrElse(e.time) -> e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) tasks += Task(e.taskInfo.finishTime, m.executorCpuTime,
      m.jvmGCTime, m.inputMetrics.recordsRead,
      m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten,
      m.memoryBytesSpilled + m.diskBytesSpilled,
      m.outputMetrics.recordsWritten, m.outputMetrics.bytesWritten)
  }

  def window(t0: Long, t1: Long): WindowStats = synchronized {
    val js = jobs.filter { case (s, _) => s >= t0 && s <= t1 }
      .map { case (s, e) => (s, math.min(e, t1)) }.sortBy(_._1)
    // union of the job intervals: Pipeline.migrate runs jobs concurrently
    var busy = 0L
    var reach = t0
    js.foreach { case (s, e) =>
      val from = math.max(s, reach)
      if (e > from) { busy += e - from; reach = e }
    }
    val ts = tasks.filter(t => t.end >= t0 && t.end <= t1)
    WindowStats(t1 - t0, js.size, ts.size, busy,
      ts.map(_.cpuNs).sum, ts.map(_.gcMs).sum, ts.map(_.read).sum,
      ts.map(_.shuffle).sum, ts.map(_.spill).sum,
      ts.map(_.written).sum, ts.map(_.bytes).sum)
  }

  def clear(): Unit = synchronized { jobs.clear(); tasks.clear() }
}

/** Per-micro-batch `durationMs` breakdowns. Spark instantiates this class
  * itself for every session's query manager (the benchmark names it in
  * `spark.sql.streaming.streamingQueryListeners`), so it also sees the
  * queries StreamOps starts on its own child session. */
class StreamProbe extends StreamingQueryListener {
  import StreamingQueryListener._
  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit =
    if (StreamProbe.enabled) StreamProbe.synchronized {
      val p = e.progress
      val at = java.time.Instant.parse(p.timestamp).toEpochMilli
      val d = p.durationMs
      StreamProbe.batches += (at -> StreamProbe.phases.map { case (_, k) =>
        Option(d.get(k)).map(_.longValue).getOrElse(0L)
      })
    }
}

object StreamProbe {
  @volatile var enabled = false
  /** Metric suffix -> StreamingQueryProgress.durationMs key. */
  val phases: Seq[(String, String)] = Seq(
    "add_batch_s" -> "addBatch", "query_planning_s" -> "queryPlanning",
    "wal_commit_s" -> "walCommit", "commit_offsets_s" -> "commitOffsets",
    "latest_offset_s" -> "latestOffset", "trigger_s" -> "triggerExecution")
  private val batches = mutable.ArrayBuffer[(Long, Seq[Long])]()

  /** (batch count, summed seconds per phase) of batches in [t0, t1]. */
  def window(t0: Long, t1: Long): (Int, Seq[Double]) = synchronized {
    val bs = batches.filter { case (at, _) => at >= t0 && at <= t1 }.map(_._2)
    (bs.size, phases.indices.map(i => bs.map(_(i)).sum / 1e3))
  }

  def clear(): Unit = synchronized { batches.clear() }
}

/** One timed span: name, [start, end] in ns, parent index, pass. */
final case class Span(name: String, start: Long, end: Long, parent: Int,
    pass: Int)

/** In-memory span recorder around the benchmark's own calls into graft.
  * Disabled, `span` only runs its body. */
class Tracer {
  val spans = mutable.ArrayBuffer[Span]()
  var enabled = false
  var pass = 0
  private var stack = List.empty[Int]

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val idx = spans.size
      spans += Span(name, System.nanoTime(), 0L, stack.headOption.getOrElse(-1), pass)
      stack = idx :: stack
      try body
      finally {
        stack = stack.tail
        spans(idx) = spans(idx).copy(end = System.nanoTime())
      }
    }

  /** Seconds of each span not covered by its children (one thread, so
    * children never overlap each other). */
  def selfSeconds: IndexedSeq[Double] = {
    val child = Array.fill(spans.size)(0L)
    spans.foreach(s => if (s.parent >= 0) child(s.parent) += s.end - s.start)
    spans.indices.map(i => (spans(i).end - spans(i).start - child(i)) / 1e9)
  }

  /** Per pass: summed self seconds of spans whose name satisfies `p`. */
  def selfByPass(p: String => Boolean): Map[Int, Double] = {
    val self = selfSeconds
    spans.indices.filter(i => p(spans(i).name))
      .groupBy(i => spans(i).pass).map { case (k, is) => k -> is.map(self).sum }
  }

  def toJsonLines: Iterator[String] = spans.iterator.map(s =>
    s"""{"name":${Json.str(s.name)},"start_ns":${s.start},"end_ns":${s.end},""" +
      s""""parent":${s.parent},"pass":${s.pass}}""")
}

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)

  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}
