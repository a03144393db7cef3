package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** The one job counter: the Spark jobs, stages and tasks a body ran.
  * Counts are host-noise-free — on a multi-tenant host where wall
  * seconds swing 2× between windows, a count diff is the reproducible
  * evidence that an orchestration change (fused actions,
  * removed passes) did what it claims.
  *
  * Every job posted while the body runs counts, on any thread and in
  * any job group: a streaming query runs its micro-batches on its own
  * thread under its own job group, so a group-scoped count would miss
  * them. Only [[drain]]'s marker jobs are left out. */
object Probe {

  /** One counted job: its action's call site, the tasks its stages ran
    * and its wall ms (-1 if its end was not seen). */
  final case class Job(id: Int, site: String, tasks: Long, ms: Long)

  final case class Counts(jobs: Int, stages: Int, tasks: Long, perJob: Seq[Job])

  /** Prefix of [[drain]]'s marker job groups; counts skip them. */
  private val drainGroupPrefix = "graft-listener-drain-"

  private def jobGroup(j: SparkListenerJobStart): Option[String] =
    Option(j.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))

  /** Returns once every listener has been handed every event posted
    * before the call: the bus delivers events in order, so when a
    * marker job's start reaches this call's own listener, every
    * earlier event has reached every listener. */
  private def drain(sc: SparkContext): Unit = {
    val group = drainGroupPrefix + java.util.UUID.randomUUID
    val seen = new CountDownLatch(1)
    val marker = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (jobGroup(j).contains(group)) seen.countDown()
    }
    sc.addSparkListener(marker)
    try {
      sc.setJobGroup(group, "drain the listener bus")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      require(seen.await(60, TimeUnit.SECONDS), "listener bus did not drain")
    } finally sc.removeSparkListener(marker)
  }

  /** Runs `body` and returns its result with what Spark ran for it.
    * The bus is drained before the listener is added, so events of
    * earlier work are not counted, and again after `body`, so every
    * event of its own work is. */
  def measure[A](spark: SparkSession)(body: => A): (A, Counts) = {
    val sc = spark.sparkContext
    drain(sc)
    val rec = new Recorder
    sc.addSparkListener(rec)
    try {
      val out = body
      drain(sc)
      (out, rec.counts)
    } finally sc.removeSparkListener(rec)
  }

  /** Stages and tasks count only under a job whose start it saw, so
    * the tail of the drain that preceded it is not counted either. */
  private final class Recorder extends SparkListener {
    private final class Open(val id: Int, val site: String, val start: Long) {
      var tasks = 0L
      var ms = -1L
    }
    private val jobs = mutable.Map[Int, Open]()
    private val stageJob = mutable.Map[Int, Open]()
    private var stages = 0
    private var tasks = 0L

    override def onJobStart(j: SparkListenerJobStart): Unit = synchronized {
      if (!jobGroup(j).exists(_.startsWith(drainGroupPrefix))) {
        // the result stage, created last, is named after the action's call site
        val job = new Open(j.jobId, j.stageInfos.maxBy(_.stageId).name, j.time)
        jobs(j.jobId) = job
        j.stageIds.foreach(stageJob(_) = job)
      }
    }
    override def onJobEnd(j: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(j.jobId).foreach(job => job.ms = j.time - job.start)
    }
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = synchronized {
      if (stageJob.contains(s.stageInfo.stageId)) stages += 1
    }
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = synchronized {
      stageJob.get(t.stageId).foreach { job => tasks += 1; job.tasks += 1 }
    }

    def counts: Counts = synchronized {
      Counts(jobs.size, stages, tasks, jobs.values.toSeq.sortBy(_.id)
        .map(j => Job(j.id, j.site, j.tasks, j.ms)))
    }
  }
}
