package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Source rules that keep the persisted stores off the local-POSIX
  * API — no Spark session, no job: the stores and the stream folds
  * reach files only through the Hadoop FileSystem API (`StoreFiles`),
  * so they run on any filesystem the session resolves. */
class SourceGuardSpec extends AnyFunSuite {

  private def scalaFiles(dir: String): Seq[Path] = {
    val w = Files.walk(Paths.get(dir))
    try w.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
    finally w.close()
  }

  test("operators and streaming name no java.nio.file") {
    val dirs = Seq("src/main/scala/graft/operators", "src/main/scala/graft/streaming")
    val files = dirs.flatMap(scalaFiles)
    assert(files.size > 10, s"source tree not found under ${Paths.get("").toAbsolutePath}")
    val hits = for {
      f <- files
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      if line.contains("java.nio.file")
    } yield s"$f:${i + 1}: ${line.trim}"
    assert(hits.isEmpty, hits.mkString("\n", "\n", ""))
  }
}
