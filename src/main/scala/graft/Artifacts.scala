package graft

import java.nio.file.{Files, Paths}

/** The lifecycle of every on-disk artifact graft writes under /tmp:
  * published artifacts (indexes, summaries, logs, layouts, dumps) and
  * per-run scratch directories.
  *
  * PUBLISH PROTOCOL ([[publish]]). A published artifact is a directory
  * `root` built once per content tag and reused until the tag changes.
  * Under [[withLock]] on `root`, the build is skipped when
  * `root/_GRAFT_TAG` exists and, if a tag is given, holds exactly that
  * tag. Otherwise:
  *   1. `root` is deleted;
  *   2. `build` runs, writing into `root` in place;
  *   3. `_GRAFT_TAG` is written LAST — the tag, or with `tag = None` a
  *      fixed completion marker.
  *
  * Why each step:
  *   - The lock: two JVMs running the same key on the same corpus (an
  *     overlapping Bench and Verify) must not both observe a stale tag
  *     and race overwrite-mode writes into one directory; one of them
  *     could stamp a valid tag over a directory the other is
  *     mid-rewrite on. It is an OS `FileLock` on the sibling file
  *     `root + ".lock"`, so it serializes check-then-build across
  *     processes. `FileChannel.lock` throws
  *     `OverlappingFileLockException` when this JVM already holds the
  *     lock, so a caller that needs more work under the same lock
  *     takes [[withLock]] once and calls [[publishHeld]] inside it.
  *   - Marker last: a JVM killed at any point before step 3 leaves no
  *     marker, so the next call deletes the partial directory and
  *     rebuilds. No partial artifact is ever trusted — for a shared
  *     summary that would silently skew every query answering from
  *     it, in BOTH engines, invisible to the parity gate. This is the
  *     guarantee a write-to-temp + rename gives, without the rename.
  *   - In place, not staged: an artifact may record its own file
  *     paths (etl_manifest_prune's manifest stores `input_file_name()`
  *     of its data files), and a staged build would record the
  *     staging paths.
  *   - Marker inside the artifact: Spark's file sources skip
  *     `_`-prefixed files and every oracle globs `*.parquet` or
  *     `*.txt`, so `_GRAFT_TAG` can sit inside a parquet directory.
  *   - `tag = None` publishes build-once-forever: the frozen-model
  *     convention, for artifacts that must NOT be rebuilt (a model
  *     the already-dumped oracle SQL ranks against). A tag makes the
  *     artifact track its inputs: callers pass a content fingerprint
  *     (`ScaleJoins.corpusTag`), so a regenerated fixture at the same
  *     path rebuilds instead of serving a stale artifact. A tag
  *     tracks content only; after changing an artifact's layout, a
  *     caller extends its tag (see `StreamOps.writeCdcLog`).
  *
  * SCRATCH ([[withRunDir]]). A run directory is unique per call and
  * deleted in `finally`, so a key that throws leaves no store or
  * checkpoint behind.
  *
  * The root is `/tmp`, fixed: the static oracle SQL reads
  * `/tmp/graft_<artifact>___SFTAG__` paths, and artifact paths carry
  * corpus tags, so concurrent runs over different corpora stay
  * apart. */
object Artifacts {

  private val marker = "_GRAFT_TAG"
  private val untagged = "published"

  /** Run `body` holding an OS `FileLock` on `root + ".lock"`. Not
    * reentrant within one JVM (see the protocol above). */
  def withLock[A](root: String)(body: => A): A = {
    import java.nio.file.StandardOpenOption.{CREATE, WRITE}
    val ch = java.nio.channels.FileChannel.open(Paths.get(root + ".lock"), CREATE, WRITE)
    val lk = ch.lock()
    try body finally { lk.release(); ch.close() }
  }

  /** Publish `root` per the protocol above: `build` writes into `root`
    * and runs only when the marker is missing or carries another
    * tag. */
  def publish(root: String, tag: Option[String])(build: => Unit): Unit =
    withLock(root)(publishHeld(root, tag)(build))

  /** [[publish]] for a caller that already holds [[withLock]] on
    * `root`. */
  private[graft] def publishHeld(root: String, tag: Option[String])(build: => Unit): Unit = {
    val mark = Paths.get(root, marker)
    val fresh = Files.exists(mark) && tag.forall(_ == Files.readString(mark))
    if (!fresh) {
      deleteTree(root)
      build
      Files.createDirectories(Paths.get(root))
      Files.writeString(mark, tag.getOrElse(untagged))
    }
  }

  private val runIds = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Run `body` on a fresh directory
    * `/tmp/graft_<name>_run_<n>_<uuid8>`, deleted afterwards whether
    * `body` returns or throws. */
  def withRunDir[A](name: String)(body: String => A): A = {
    val run = s"/tmp/graft_${name}_run_${runIds.incrementAndGet()}_" +
      java.util.UUID.randomUUID().toString.take(8)
    Files.createDirectories(Paths.get(run))
    try body(run) finally deleteTree(run)
  }

  private def deleteTree(path: String): Unit =
    scala.reflect.io.Directory(new java.io.File(path)).deleteRecursively()
}
