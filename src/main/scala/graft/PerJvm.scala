package graft

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicReference
import org.apache.hadoop.fs.FileUtil

/** The one lifecycle of every per-JVM fixture, staging tree and stream
  * pass: built once per key, kept under one temp root, removed by one
  * exit hook.
  *
  * Repeat invocations of a query (bench warm-up + timed passes, Verify,
  * the test suites sharing one JVM) reuse what an earlier one staged
  * instead of re-staging it or leaking another temp tree. */
private[graft] object PerJvm {

  /** One key's value. Built under the cell's own lock, never inside
    * the map's `compute`: a build may call [[once]] for other keys,
    * from any thread (the stream pass's seeds do, from its pool),
    * without holding a map bin that those calls need. */
  private final class Cell { var value: Option[Any] = None }
  private val cells = new ConcurrentHashMap[String, Cell]()

  /** `build`'s value for `key`, built once per JVM; concurrent callers
    * of one key wait for the single build. A build that throws caches
    * nothing, so the next call retries. Keys name their fixture: one
    * key always holds one type. */
  def once[A](key: String)(build: => A): A = {
    val cell = cells.computeIfAbsent(key, _ => new Cell)
    cell.synchronized {
      cell.value.getOrElse {
        val v = build
        cell.value = Some(v)
        v
      }.asInstanceOf[A]
    }
  }

  private lazy val root: Path = {
    val r = Files.createTempDirectory("graft_jvm")
    sys.addShutdownHook(FileUtil.fullyDelete(r.toFile))
    r
  }

  /** A new directory under the root, removed at JVM exit. */
  def tempDir(prefix: String): Path = Files.createTempDirectory(root, prefix)

  /** A new directory on RAM-backed /dev/shm when writable, else under
    * the root, for short-lived state that its user deletes (a stream
    * pass's checkpoints: a stranded one holds RAM). */
  def shmDir(prefix: String): Path = {
    val shm = Paths.get("/dev/shm")
    if (Files.isWritable(shm)) Files.createTempDirectory(shm, prefix)
    else tempDir(prefix)
  }

  /** A new directory for `key` that replaces, and deletes, the one the
    * previous call for `key` made: state that must start empty on each
    * use keeps one live tree, not one per use. */
  def fresh(key: String): String = {
    val dir = tempDir(key.replaceAll("[^\\w.-]+", "_"))
    Option(once(s"fresh|$key")(new AtomicReference[Path]()).getAndSet(dir))
      .foreach(d => FileUtil.fullyDelete(d.toFile))
    dir.toString
  }
}
