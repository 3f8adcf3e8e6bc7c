package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Source rules for the persisted stores — no Spark session, no job:
  * the stores and the stream folds reach files only through the Hadoop
  * FileSystem API (`StoreFiles`), so they run on any filesystem the
  * session resolves; and each store family publishes through one
  * declared staged commit, so no second fold path can return. */
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

  test("each store family declares its commit names once, beside its fold") {
    // a declaration names its marker prefix as a string literal; the
    // case class itself does not
    val decl = "CommitNames\\(\\s*\"".r
    val hits = for {
      f <- scalaFiles("src/main/scala")
      text = new String(Files.readAllBytes(f), "UTF-8")
      _ <- decl.findAllIn(text)
    } yield f.toString.replace('\\', '/')
    val families = Seq("Similarity", "DedupSuite", "Quantiles", "Boilerplate",
      "Pack")
    assert(hits.size == 6 &&
      hits.forall(_.contains("src/main/scala/graft/operators/")) &&
      families.forall(fam => hits.exists(_.endsWith(s"/$fam.scala"))) &&
      hits.count(_.endsWith("/DedupSuite.scala")) == 2,
      s"want one declaration per family (IVF, substr, quantile, " +
        s"boilerplate, pack, hamming) under operators/, found:\n" +
        hits.mkString("\n"))
  }
}
