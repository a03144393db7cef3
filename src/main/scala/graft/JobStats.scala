package graft

import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Deterministic per-key execution-shape profiler (r14 optimization
  * round): runs named SparkEntry keys with the bench session shape and
  * prints, for each, the number of Spark JOBS, STAGES and TASKS the
  * key launched plus its wall time. Job/stage/task counts are
  * host-noise-free — on a multi-tenant host where wall seconds swing
  * 2× between windows (see bench detail's steal_ticks stamps), the
  * count diff is the reproducible evidence that an orchestration
  * optimization (fused driver actions, removed passes) did what it
  * claims. Usage:
  *   runMain graft.JobStats <sfDir> <key1,key2,...>
  */
object JobStats {

  /** Prefix of [[drain]]'s marker job groups; job counters skip them. */
  val drainGroupPrefix = "graft-listener-drain-"

  def jobGroup(j: SparkListenerJobStart): Option[String] =
    Option(j.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))

  /** Returns once every listener has been handed every event posted
    * before the call: the bus delivers events in order, so when a
    * marker job's start reaches this call's own listener, every
    * earlier event has reached every listener. */
  def drain(sc: SparkContext): Unit = {
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

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args(1).split(",").toSeq
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Tables.configure(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val jobs = new AtomicInteger(0)
    val stages = new AtomicInteger(0)
    val tasks = new AtomicLong(0L)
    // SPARK_GRAFT_JOBSTATS_DETAIL=1: one line per job (call site +
    // task count) so a key's job count can be ATTRIBUTED to sites, not
    // just totalled — the streaming keys' job budget is invisible at
    // the aggregate grain.
    val detail = sys.env.get("SPARK_GRAFT_JOBSTATS_DETAIL").contains("1")
    final case class Job(site: String, start: Long,
      tasks: AtomicLong = new AtomicLong(0L), ms: AtomicLong = new AtomicLong(-1L))
    val jobInfo = new ConcurrentHashMap[Int, Job]()
    val stageJob = new ConcurrentHashMap[Int, Job]()
    val drainStages = ConcurrentHashMap.newKeySet[Int]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (jobGroup(j).exists(_.startsWith(drainGroupPrefix)))
          j.stageIds.foreach(drainStages.add)
        else {
          jobs.incrementAndGet()
          if (detail) {
            val job = Job(Option(j.properties)
              .flatMap(p => Option(p.getProperty("callSite.short")))
              .getOrElse("?"), j.time)
            jobInfo.put(j.jobId, job)
            j.stageIds.foreach(stageJob.put(_, job))
          }
        }
      override def onJobEnd(j: SparkListenerJobEnd): Unit =
        Option(jobInfo.get(j.jobId)).foreach(job => job.ms.set(j.time - job.start))
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
        if (!drainStages.contains(s.stageInfo.stageId)) stages.incrementAndGet()
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
        if (!drainStages.contains(t.stageId)) {
          tasks.incrementAndGet()
          Option(stageJob.get(t.stageId)).foreach(_.tasks.incrementAndGet())
        }
    })
    // warm the page cache like Bench does, then drop those events
    Tables.all.foreach(t => Tables.load(spark, sfDir, t).count())
    names.foreach { n =>
      val fn = SparkEntry.queries(n)
      // untimed warm-up (JIT/codegen), mirroring the bench protocol
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
      drain(spark.sparkContext) // the warm-up's last events land first
      jobs.set(0); stages.set(0); tasks.set(0L)
      jobInfo.clear(); stageJob.clear()
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      val sec = (System.nanoTime() - t0) / 1e9
      drain(spark.sparkContext)
      println(f"[jobstats] $n jobs=${jobs.get} stages=${stages.get} " +
        f"tasks=${tasks.get} wall=$sec%.2f s")
      if (detail) {
        import scala.jdk.CollectionConverters._
        jobInfo.asScala.toSeq.sortBy(_._1).foreach { case (jid, job) =>
          println(f"[jobstats]   $n job=$jid tasks=${job.tasks.get} " +
            f"ms=${job.ms.get} site=${job.site}")
        }
      }
    }
    spark.stop()
    sys.exit(0)
  }
}
