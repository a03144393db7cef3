package graft

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

object JobCount {

  /** Runs `body` in a fresh job group and returns its result with the
    * number of Spark jobs it started; every job start is counted
    * before this returns (see [[JobStats.drain]]). */
  def in[A](spark: SparkSession)(body: => A): (A, Int) = {
    val sc = spark.sparkContext
    val group = s"job-count-${java.util.UUID.randomUUID}"
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (JobStats.jobGroup(j).contains(group)) jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "job count")
      val out = try body finally sc.clearJobGroup()
      JobStats.drain(sc)
      (out, jobs.get)
    } finally sc.removeSparkListener(listener)
  }
}
