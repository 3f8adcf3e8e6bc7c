package graft

import java.io.IOException
import java.net.URI
import java.util.EnumSet
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}
import scala.jdk.CollectionConverters._
import org.apache.hadoop.fs.{CreateFlag, FSDataOutputStream, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.config.Configurator
import org.apache.spark.sql.SparkSession

/** The local filesystem under the `faultfs:` scheme, counting every
  * create, rename and delete — Spark's own writes and commits
  * included. Armed at N, the N-th such operation and every later one
  * throws: the process crashed there, and nothing after it reaches the
  * disk. No `.crc` sidecars (a raw filesystem). */
class FaultFs extends RawLocalFileSystem {
  override def getUri: URI = FaultFs.Uri

  override def create(f: Path, overwrite: Boolean, bufferSize: Int,
                      replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream = {
    FaultFs.op("create", f)
    super.create(f, overwrite, bufferSize, replication, blockSize, progress)
  }

  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
                      bufferSize: Int, replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream = {
    FaultFs.op("create", f)
    super.create(f, permission, overwrite, bufferSize, replication,
      blockSize, progress)
  }

  override def createNonRecursive(f: Path, permission: FsPermission,
                                  flags: EnumSet[CreateFlag], bufferSize: Int,
                                  replication: Short, blockSize: Long,
                                  progress: Progressable): FSDataOutputStream = {
    FaultFs.op("create", f)
    super.createNonRecursive(f, permission, flags, bufferSize, replication,
      blockSize, progress)
  }

  override def createNonRecursive(f: Path, permission: FsPermission,
                                  overwrite: Boolean, bufferSize: Int,
                                  replication: Short, blockSize: Long,
                                  progress: Progressable): FSDataOutputStream = {
    FaultFs.op("create", f)
    super.createNonRecursive(f, permission, overwrite, bufferSize,
      replication, blockSize, progress)
  }

  override def rename(src: Path, dst: Path): Boolean = {
    FaultFs.op("rename", src)
    super.rename(src, dst)
  }

  override def delete(p: Path, recursive: Boolean): Boolean = {
    FaultFs.op("delete", p)
    super.delete(p, recursive)
  }
}

object FaultFs {
  val Uri: URI = URI.create("faultfs:///")

  private val ops = new AtomicLong()
  private val fired = new AtomicBoolean()
  @volatile private var failFrom = Long.MaxValue

  private def op(kind: String, p: Path): Unit = {
    val n = ops.incrementAndGet()
    if (n >= failFrom) {
      fired.set(true)
      throw new IOException(s"injected fault: $kind $p (op $n)")
    }
  }

  /** Register the scheme on the session's Hadoop conf; returns the
    * `faultfs:` form of the local directory `dir`. */
  def on(spark: SparkSession, dir: String): String = {
    spark.sparkContext.hadoopConfiguration.set("fs.faultfs.impl",
      classOf[FaultFs].getName)
    s"faultfs://$dir"
  }

  /** Whether an executor thread is inside a task. Read from the
    * threads themselves: the scheduler's view is fed by the listener
    * bus and can report a task finished while it still writes. */
  private def taskRunning: Boolean =
    Thread.getAllStackTraces.asScala.exists { case (t, frames) =>
      t.getName.startsWith("Executor task launch worker") &&
        frames.exists(_.getClassName.endsWith("Executor$TaskRunner"))
    }

  /** Run `body` unarmed; returns its create/rename/delete count. */
  def count(body: => Unit): Long = {
    ops.set(0)
    body
    ops.get()
  }

  /** Run `body` armed at `n`; returns whether the fault fired. A
    * failure that is not the fault's is rethrown. The fault stays
    * armed until the session's running tasks have drained, so no task
    * of a failed job writes after the crash. Spark's and Hadoop's logs
    * are silenced meanwhile: every injected fault is expected, and
    * each would log its stack trace several times. */
  def crashAt(n: Long)(body: => Unit): Boolean = {
    val quiet = Seq("org.apache.spark", "org.apache.hadoop", "org.apache.parquet")
    val levels = quiet.map(l => l -> LogManager.getLogger(l).getLevel)
    quiet.foreach(Configurator.setLevel(_, Level.OFF))
    ops.set(0)
    fired.set(false)
    failFrom = n
    try {
      try body catch { case _: Exception if fired.get() => () }
      fired.get()
    } finally {
      while (taskRunning) Thread.sleep(5)
      failFrom = Long.MaxValue
      levels.foreach { case (l, level) => Configurator.setLevel(l, level) }
    }
  }
}
