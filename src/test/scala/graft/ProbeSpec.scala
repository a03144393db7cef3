package graft

import org.scalatest.funsuite.AnyFunSuite

class ProbeSpec extends AnyFunSuite {
  import TestSpark._

  test("Probe.measure of an empty body counts nothing, its drain jobs included") {
    val ((), counts) = Probe.measure(spark)(())
    assert(counts == Probe.Counts(0, 0, 0L, Nil))
  }

  test("Probe.measure counts a stream key's micro-batch jobs") {
    val fn = SparkEntry.queries("stream_events")
    val counts = Probe.measure(spark)(SparkEntry.runNoop(spark, fn, sf))._2
    // the query thread runs each micro-batch under its own job group:
    // a count scoped to the caller's job group saw 4 of this body's 5
    assert(counts.jobs > 4, counts)
    assert(counts.perJob.map(_.tasks).sum == counts.tasks)
  }

  test("Inspect jobs: per-job records add up to the key's counts") {
    val Seq(row) = Inspect.jobs(spark, sf, Seq("q1_agg")).toList
    val c = row.counts
    assert(row.key == "q1_agg" && row.wallS > 0)
    assert(c.jobs > 0 && c.stages >= c.jobs && c.perJob.size == c.jobs)
    assert(c.perJob.map(_.tasks).sum == c.tasks && c.perJob.forall(_.ms >= 0))
  }

  test("Inspect plan: the formatted physical plan of each key") {
    val plans = Inspect.plans(spark, sf, Seq("q1_agg", "q_hierarchy")).toList
    assert(plans.map(_._1) == Seq("q1_agg", "q_hierarchy"))
    assert(plans.forall(_._2.contains("== Physical Plan ==")))
  }

  test("Inspect ivf and pq: one row per point, recall in [0, 1]") {
    val Seq(ivf) = Inspect.ivf(spark, sf, Seq(4), 0.25).toList
    assert(ivf.k == 4 && ivf.probes == 1 && ivf.recall >= 0 && ivf.recall <= 1)
    val pq = Inspect.pq(spark, sf, Seq(2, 4), Seq(16)).toList
    assert(pq.map(r => (r.m, r.k, r.bytesPerVec)) == Seq((2, 16, 2), (4, 16, 4)))
    assert(pq.forall(r => r.recall >= 0 && r.recall <= 1))
  }

  test("Inspect lsh: every factorization of the 16-wide signature") {
    val rows = Inspect.lsh(spark, sf, 0.5).toList
    assert(rows.map(r => (r.bands, r.rows)) ==
      Seq((16, 1), (8, 2), (4, 4), (2, 8), (1, 16)))
    assert(rows.forall(r => r.recall >= 0 && r.recall <= 1 &&
      r.precision >= 0 && r.precision <= 1 && r.hits <= r.candidates))
    // more bands never lose a true pair the fewer-band split found
    assert(rows.map(_.hits) == rows.map(_.hits).sorted.reverse)
  }
}
