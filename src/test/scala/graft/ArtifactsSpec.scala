package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryException

import graft.streaming.StreamOps

/** The artifact lifecycle's failure paths: a build that throws, a
  * scratch run that throws, and the static guard that keeps
  * `Artifacts` the only place that implements either. */
class ArtifactsSpec extends AnyFunSuite with BeforeAndAfterAll {
  import TestSpark._

  private val tmp = Files.createTempDirectory("graft_artifacts_spec")
  override def afterAll(): Unit =
    org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)

  /** A not-yet-existing artifact root (its `.lock` sibling lands in
    * the spec's temp dir too). */
  private def freshRoot(): String =
    Files.createTempDirectory(tmp, "case").resolve("art").toString

  private def marker(root: String): Path = Paths.get(root, "_GRAFT_TAG")

  private def runDirs(name: String): Seq[Path] =
    Files.list(Paths.get("/tmp")).iterator.asScala
      .filter(_.getFileName.toString.startsWith(s"graft_${name}_run_")).toSeq

  private def rows(path: String): Seq[Long] =
    spark.read.parquet(path).collect().map(_.getLong(0)).toSeq.sorted

  test("publish: a build that throws leaves no marker and the next call rebuilds clean") {
    val root = freshRoot()
    val err = intercept[IllegalStateException] {
      Artifacts.publish(root, Some("t1")) {
        spark.range(5).write.parquet(s"$root/partial")
        throw new IllegalStateException("build failed")
      }
    }
    assert(err.getMessage == "build failed")
    assert(Files.isDirectory(Paths.get(root, "partial")))
    assert(!Files.exists(marker(root)), "a failed build left a marker")
    // the same JVM takes the lock again: FileChannel.lock would throw
    // OverlappingFileLockException had the failed call kept it
    var builds = 0
    Artifacts.publish(root, Some("t1")) {
      builds += 1
      spark.range(10).write.parquet(s"$root/data")
    }
    assert(builds == 1)
    val clean = freshRoot()
    Artifacts.publish(clean, Some("t1"))(spark.range(10).write.parquet(s"$clean/data"))
    def entries(r: String): Set[String] =
      Files.list(Paths.get(r)).iterator.asScala.map(_.getFileName.toString).toSet
    assert(entries(root) == entries(clean) && entries(root) == Set("data", "_GRAFT_TAG"),
      s"rebuild kept the failed attempt's output: ${entries(root)}")
    assert(Files.readString(marker(root)) == "t1")
    assert(rows(s"$root/data") == rows(s"$clean/data"))
  }

  test("publish with no tag builds once, and its marker is invisible to Spark") {
    val root = freshRoot()
    var builds = 0
    def publish(): Unit = Artifacts.publish(root, None) {
      builds += 1
      spark.range(3).write.parquet(root)
    }
    publish()
    publish()
    assert(builds == 1, "an untagged artifact was rebuilt")
    assert(Files.exists(marker(root)))
    assert(rows(root) == Seq(0L, 1L, 2L))
  }

  test("publish rebuilds when the tag changes, and only then") {
    val root = freshRoot()
    var builds = 0
    def publish(tag: String, n: Int): Unit = Artifacts.publish(root, Some(tag)) {
      builds += 1
      spark.range(n).write.parquet(root)
    }
    publish("a", 3)
    publish("a", 5)
    assert(builds == 1 && rows(root).size == 3)
    publish("b", 4)
    assert(builds == 2 && rows(root).size == 4)
    assert(Files.readString(marker(root)) == "b")
  }

  test("withRunDir deletes its directory when the body throws") {
    var seen = ""
    val err = intercept[RuntimeException] {
      Artifacts.withRunDir("spec_throw") { run =>
        seen = run
        Files.writeString(Paths.get(run, "scratch"), "x")
        throw new RuntimeException("body failed")
      }
    }
    assert(err.getMessage == "body failed")
    assert(seen.matches("/tmp/graft_spec_throw_run_\\d+_[0-9a-f]{8}"), seen)
    assert(!Files.exists(Paths.get(seen)), s"$seen survived a throwing body")
    assert(Artifacts.withRunDir("spec_ok")(run => Files.isDirectory(Paths.get(run))))
    assert(runDirs("spec_ok").isEmpty)
  }

  test("a dim-store run whose merge throws on batch 1 leaves no run dir and no stream") {
    val s = StreamOps.streamingSessionForTest(spark)
    StreamOps.writeCdcLog(s, sf)
    val calls = new java.util.concurrent.atomic.AtomicInteger(0)
    var dirsDuringRun = Seq.empty[Path]
    val err = intercept[StreamingQueryException] {
      StreamOps.dimStoreRun(s, "spec_dim", StreamOps.cdcLogSchema,
        StreamOps.cdcLogDir(sf),
        Tables.load(s, sf, "customer")
          .withColumn("op", lit("I")).withColumn("version", lit(0)),
        { (prev, batch) =>
          dirsDuringRun = runDirs("spec_dim")
          if (calls.getAndIncrement() == 1)
            throw new IllegalStateException("merge failed on batch 1")
          StreamOps.cdcMerge(prev, batch)
        }) { (store, _) => StreamOps.readDimStore(s, store) }
    }
    assert(Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
      .exists(_.getMessage == "merge failed on batch 1"), err)
    assert(calls.get() == 2, "batch 0 must commit before batch 1 throws")
    assert(dirsDuringRun.size == 1, s"the run dir was not under /tmp: $dirsDuringRun")
    assert(runDirs("spec_dim").isEmpty, "the failed run left its store and checkpoint")
    assert(s.streams.active.isEmpty, "the failed run left a stream running")
  }

  test("Artifacts is the only main source with a lock, a marker or a run-dir literal") {
    val main = Paths.get("src/main/scala")
    val offenders = Files.walk(main).iterator.asScala
      .filter(p => p.toString.endsWith(".scala") &&
        p.getFileName.toString != "Artifacts.scala")
      .flatMap { p =>
        val text = Files.readString(p)
        Seq("_GRAFT_TAG", "FileChannel", "_run_").filter(text.contains)
          .map(tok => s"${main.relativize(p)}: $tok")
      }.toSeq
    assert(offenders.isEmpty,
      s"artifact lifecycle code outside Artifacts: ${offenders.mkString(", ")}")
  }
}
