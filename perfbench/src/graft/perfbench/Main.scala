package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchAccess
import org.apache.spark.sql.SparkSession

import graft.Tables
import graft.operators.ScaleJoins

/** The benchmark's JVM side. One client thread drives a closed loop of
  * passes over a corpus directory; `perfbench/run.py` generates the
  * corpus, builds this program and prints the result line.
  *
  *   Main --workload W --corpus DIR --work DIR --seconds N --trace 0|1
  *        --seed S --result FILE
  */
object Main {
  /** Set-ups per run; `setup_s` reports their median. */
  private val Setups = 3

  private final case class Args(workload: String, corpus: Path, work: Path,
      seconds: Double, trace: Boolean, seed: Long, result: Path)

  private def parse(args: Array[String]): Args = {
    val m = args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), Paths.get(m("corpus")).toAbsolutePath,
      Paths.get(m("work")).toAbsolutePath, m("seconds").toDouble,
      m("trace") == "1", m("seed").toLong,
      Paths.get(m("result")).toAbsolutePath)
  }

  /** The fixed single-thread xorshift64 loop graft.Bench stamps its
    * runs with, at 10^8 steps: a host-speed stamp that explains a
    * cross-window shift and never rescales a metric. */
  private def calibrate(): Double = {
    val t0 = System.nanoTime()
    var x = 88172645463325252L
    var i = 0
    while (i < 100000000) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      i += 1
    }
    if (x == 42L) System.err.println("")
    (System.nanoTime() - t0) / 1e9
  }

  private def processCpuNs: Long =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  private def vmHwmMb: Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)

  /** A fresh directory of symlinks to the corpus files. Tables.sfTag and
    * ScaleJoins.corpusTag hash the directory string, so every alias
    * gives each publish-once artifact a tag no earlier run has used. */
  private def alias(corpus: Path, at: Path): Path = {
    Files.createDirectories(at)
    Files.list(corpus).iterator.asScala.foreach(f =>
      Files.createSymbolicLink(at.resolve(f.getFileName), f.toRealPath()))
    at
  }

  /** Every artifact tag graft derives from `dir`. */
  private def tagsOf(dir: String): Seq[String] = {
    val ts = Tables.all
    Tables.sfTag(dir) +: (ts.map(t => ScaleJoins.corpusTag(dir, Seq(t))) ++
      (for (a <- ts; b <- ts if a != b) yield ScaleJoins.corpusTag(dir, Seq(a, b))))
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val calibBefore = calibrate()
    val nproc = Runtime.getRuntime.availableProcessors
    val tmp = Paths.get("/tmp")
    def graftEntries = Files.list(tmp).iterator.asScala
      .filter(_.getFileName.toString.startsWith("graft_")).toSet
    val preexisting = graftEntries

    val tSetup0 = System.nanoTime()
    val builder = Tables.configure(SparkSession.builder()
      .master(s"local[$nproc]")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", a.work.resolve("spark-local").toString))
    if (a.trace) builder.config("spark.sql.streaming.streamingQueryListeners",
      classOf[StreamProbe].getName)
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val onceS = (System.nanoTime() - tSetup0) / 1e9

    val tracer = new Tracer
    val probe = new JobProbe
    val w = Workloads(a.workload, spark, tracer, a.work, a.seed)
    var attempted = 0
    var failed = 0
    val failures = mutable.ArrayBuffer[String]()
    val aliases = mutable.ArrayBuffer[String]()

    val layerSamples = mutable.ArrayBuffer[Map[String, Double]]()

    /** One pass; returns (wall s, process CPU s, per-op seconds). */
    def pass(dir: String, traced: Boolean, warm: Boolean): (Double, Double, Seq[(String, Double)]) = {
      w.beforePass()
      if (traced) {
        probe.clear()
        StreamProbe.clear()
        spark.sparkContext.addSparkListener(probe)
        StreamProbe.enabled = true
      }
      tracer.enabled = traced
      val opWindows = mutable.ArrayBuffer[(String, Long, Long)]()
      val c0 = processCpuNs
      val t0 = System.nanoTime()
      val times = tracer.span("pass") {
        w.ops.map { op =>
          attempted += 1
          val m0 = System.currentTimeMillis()
          val s0 = System.nanoTime()
          try tracer.span(w.spanName(op))(w.run(op, dir, warm))
          catch { case e: Exception =>
            failed += 1
            failures += s"$op: $e"
            System.err.println(s"[perfbench] $op FAILED: $e")
          }
          opWindows += ((op, m0, System.currentTimeMillis()))
          op -> (System.nanoTime() - s0) / 1e9
        }
      }
      val wall = (System.nanoTime() - t0) / 1e9
      val cpu = (processCpuNs - c0) / 1e9
      tracer.enabled = false
      val bad = w.checkPass(dir)
      failed += math.min(bad.size, w.ops.size)
      failures ++= bad
      if (traced) {
        PerfbenchAccess.drainListeners(spark.sparkContext)
        spark.sparkContext.removeSparkListener(probe)
        StreamProbe.enabled = false
        val ops = opWindows.toSeq.map { case (op, m0, m1) =>
          OpTrace(op, probe.window(m0, m1), StreamProbe.window(m0, m1))
        }
        tracer.enabled = true
        w.staged(dir)
        tracer.enabled = false
        layerSamples += w.layers(tracer.pass, ops)
      }
      tracer.pass += 1
      (wall, cpu, times)
    }

    w.prepare(a.corpus.toString)
    // set-up, repeated: a fresh alias (fresh artifact tags) and a warm-up pass
    val setups = (1 to Setups).map { k =>
      val dir = alias(a.corpus, a.work.resolve(s"alias-$k")).toString
      aliases += dir
      pass(dir, traced = false, warm = true)._1
    }
    val dir = aliases.last

    // A traced run first discards one pass, since the board's warm-ups ran
    // the output checks rather than the timed `noop` path. It then
    // interleaves untraced and traced passes as U T T U ..., so that
    // warm-up drift cancels out of the tracing overhead.
    if (a.trace) pass(dir, traced = false, warm = false)
    val plain = mutable.ArrayBuffer[(Double, Double, Seq[(String, Double)])]()
    val traced = mutable.ArrayBuffer[Double]()
    val tEnd = System.nanoTime() + (a.seconds * 1e9).toLong
    var i = 0
    while (i < (if (a.trace) 2 else 1) || System.nanoTime() < tEnd) {
      val t = a.trace && (i % 4 == 1 || i % 4 == 2)
      val r = pass(dir, t, warm = false)
      if (t) traced += r._1 else plain += r
      i += 1
    }

    val med = Workloads.median _
    val opMedians = w.ops.map(op => med(plain.toSeq.map(_._3.toMap.apply(op))))
    val metrics: Seq[(String, Double)] =
      if (!a.trace) Seq(
        "setup_s" -> (onceS + med(setups)),
        "pass_s" -> med(plain.toSeq.map(_._1)),
        "cpu_s" -> med(plain.toSeq.map(_._2)),
        "key_geomean_s" -> math.exp(opMedians.map(math.log).sum / opMedians.size),
        "peak_rss_mb" -> vmHwmMb)
      else {
        val names = Workloads.layerNames
        names.map { n =>
          n -> (if (n == "trace.overhead_s") med(traced.toSeq) - med(plain.toSeq.map(_._1))
                else med(layerSamples.toSeq.map(_.getOrElse(n, 0.0))))
        }
      }

    // artifacts this run published: delete every entry carrying one of
    // its tags; report, never delete, the run directories a key left
    val tags = aliases.toSeq.flatMap(tagsOf).toSet
    val created = graftEntries -- preexisting
    val (own, leftovers) = created.partition(p => tags.exists(p.getFileName.toString.contains))
    own.foreach(Workloads.deleteTree)
    w.cleanup()
    aliases.foreach(d => Workloads.deleteTree(Paths.get(d)))

    val calibAfter = calibrate()
    val detail = Json.obj(Seq(
      "workload" -> Json.str(a.workload), "seed" -> a.seed.toString,
      "trace" -> a.trace.toString, "nproc" -> nproc.toString,
      "setup_samples_s" -> setups.map(Json.num).mkString("[", ",", "]"),
      "setup_once_s" -> Json.num(onceS),
      "pass_samples_s" -> plain.map(p => Json.num(p._1)).mkString("[", ",", "]"),
      "cpu_samples_s" -> plain.map(p => Json.num(p._2)).mkString("[", ",", "]"),
      "traced_pass_samples_s" -> traced.map(Json.num).mkString("[", ",", "]"),
      "op_median_s" -> Json.obj(w.ops.zip(opMedians).map { case (o, v) => o -> Json.num(v) }),
      "calib_before_s" -> Json.num(calibBefore), "calib_after_s" -> Json.num(calibAfter),
      "tagged_artifacts_deleted" -> own.size.toString,
      "leftover_run_dirs" -> leftovers.toSeq.map(p => Json.str(p.toString)).sorted.mkString("[", ",", "]"),
      "failures" -> failures.map(Json.str).mkString("[", ",", "]")))
    val json = Json.obj(Seq(
      "correct" -> (failed == 0).toString,
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "metrics" -> Json.obj(metrics.map { case (k, v) => k -> Json.num(v) }),
      "detail" -> detail))
    Files.writeString(a.result, json + "\n")
    if (a.trace) {
      val spans = a.result.resolveSibling(a.result.getFileName.toString + ".spans.jsonl")
      Files.write(spans, tracer.toJsonLines.toSeq.asJava)
    }
    spark.stop()
    sys.exit(0)
  }
}
