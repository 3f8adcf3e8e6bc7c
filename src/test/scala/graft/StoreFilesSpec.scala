package graft

import java.nio.file.{Files, Path => NioPath}
import scala.jdk.CollectionConverters._
import org.apache.hadoop.fs.{FileAlreadyExistsException, FileUtil, Path}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.parquet.example.data.Group
import org.apache.parquet.hadoop.ParquetReader
import org.apache.parquet.hadoop.example.GroupReadSupport
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import graft.operators.{BloomSide, Boilerplate, DedupSuite, Quantiles, StoreCompaction, StoreFiles, VersionedStaging}

/** The store publish primitives on the Hadoop FileSystem API, and a
  * crash matrix over every operation that publishes through them: on
  * [[FaultFs]], crash at each create, rename and delete a clean run
  * makes (Spark's own writes and commits included), replay with no
  * fault, and require the clean run's final rows. */
class StoreFilesSpec extends SparkSpec {
  import spark.implicits._

  private def copyTree(src: NioPath, dst: NioPath): Unit = {
    val w = Files.walk(src)
    try w.iterator().asScala.foreach { p =>
      val t = dst.resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t) else Files.copy(p, t)
    } finally w.close()
  }

  private def sortedRows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  /** The rows of the parquet data files under `dir`, each prefixed
    * with its partition dirs, sorted — read on the driver, so a crash
    * matrix's state check runs no Spark job. Entries named `_*` or
    * `.*` below `dir` are skipped, as Spark's reader skips them. */
  private def rowsOf(dir: String): Seq[String] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = StoreFiles.fs(spark, dir)
    def render(g: Group): String = {
      val t = g.getType
      (0 until t.getFieldCount).map { i =>
        val f = t.getType(i)
        (0 until g.getFieldRepetitionCount(i)).map { j =>
          if (!f.isPrimitive) render(g.getGroup(i, j))
          else if (f.asPrimitiveType.getPrimitiveTypeName == PrimitiveTypeName.BINARY)
            g.getBinary(i, j).getBytes.map("%02x".format(_)).mkString
          else g.getValueToString(i, j)
        }.mkString(s"${f.getName}=", "|", "")
      }.mkString("{", ",", "}")
    }
    def walk(d: Path, parts: String): Seq[String] =
      StoreFiles.list(fs, d).filterNot(st =>
          Seq("_", ".").exists(st.getPath.getName.startsWith)).flatMap { st =>
        if (st.isDirectory) walk(st.getPath, s"$parts${st.getPath.getName}/")
        else if (!StoreFiles.isDataFile(st.getPath.getName)) Nil
        else {
          val r = ParquetReader.builder(new GroupReadSupport(), st.getPath)
            .withConf(conf).build()
          try Iterator.continually(r.read()).takeWhile(_ != null)
            .map(g => parts + render(g)).toList
          finally r.close()
        }
      }
    walk(new Path(dir), "").sorted
  }

  /** `body` with every shuffle in one partition and no generated code,
    * so a small fold commits the fewest files and compiles nothing: its
    * crash matrix runs it twice per injection point. */
  private def smallFold[A](body: => A): A = {
    val confs = Map("spark.sql.shuffle.partitions" -> "1",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN",
      "spark.sql.codegen.wholeStage" -> "false")
    val prev = confs.keys.map(k => k -> spark.conf.getOption(k)).toMap
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Build a store once under a `faultfs:` root; then, for every
    * injection point N of `op` over a copy of it, crash at N, replay
    * `op` unarmed and compare `state` with a clean run's. Returns the
    * number of injection points. */
  private def crashMatrix[S](name: String)(build: String => Unit)(
      op: String => Unit)(state: String => S): Long = {
    val template = Files.createTempDirectory(s"crash_$name")
    build(FaultFs.on(spark, template.toString))
    def copy(): (NioPath, String) = {
      val d = Files.createTempDirectory(s"crash_$name")
      copyTree(template, d)
      d -> FaultFs.on(spark, d.toString)
    }
    val (cleanDir, clean) = copy()
    val n = FaultFs.count(op(clean))
    info(s"$name: $n injection points")
    val want = state(clean)
    (1L to n).foreach { k =>
      val (local, dir) = copy()
      assert(FaultFs.crashAt(k)(op(dir)), s"$name: op $k of $n never ran")
      op(dir)
      assert(state(dir) == want, s"$name: crash at op $k of $n, then replay, diverged")
      FileUtil.fullyDelete(local.toFile)
    }
    Seq(template, cleanDir).foreach(d => FileUtil.fullyDelete(d.toFile))
    n
  }

  test("a swap onto an existing target throws and nests nothing inside it") {
    val root = Files.createTempDirectory("swap_pitfall").toString
    val fs = StoreFiles.fs(spark, root)
    def put(p: Path): Unit = fs.create(p, false).close()
    val (staged, live, trash) =
      (new Path(root, "staged"), new Path(root, "live"), new Path(root, "trash"))
    Seq(new Path(staged, "b.parquet"), new Path(live, "a.parquet"),
      new Path(trash, "old.parquet")).foreach(put)
    def names(d: Path): Set[String] =
      fs.listStatus(d).map(_.getPath.getName).filterNot(_.startsWith(".")).toSet
    // Hadoop's rename onto an existing directory would move the source
    // INTO it; the checked rename refuses instead
    intercept[FileAlreadyExistsException](StoreFiles.rename(fs, staged, live))
    assert(names(live) == Set("a.parquet"))
    // the swap's first rename (live → occupied trash) is refused before
    // anything moves
    intercept[FileAlreadyExistsException](StoreFiles.swap(fs, staged, live, trash))
    assert(names(trash) == Set("old.parquet"))
    assert(names(live) == Set("a.parquet") && names(staged) == Set("b.parquet"))
  }

  test("crash matrix: a staged commit (the quantile fold) converges from every crash point") {
    val rows = (0L until 300L).map(i => (s"g${i % 3}", (i * 7919L) % 5000L - 2500L))
      .toDF("g", "x")
    val n = crashMatrix("commit") { root =>
      Quantiles.buildQuantileStore(rows.filter($"x" % 2 === 0), col("g"),
        col("x"), s"$root/store", cellBits = 6)
    } { root =>
      Quantiles.foldQuantileStore(spark, s"$root/store",
        rows.filter($"x" % 2 =!= 0), 0L, col("g"), col("x"))
      ()
    } { root => sortedRows(spark.read.parquet(s"$root/store")) }
    assert(n >= 5)
  }

  test("crash matrix: the substr fold on a bloom-maintained store converges from every crash point") {
    def docs(ids: Range) = ids.map(i => (i.toLong,
        s"body $i words here" + (if (i % 3 == 0) " shared tail a b c d e f" else "")))
      .toDF("doc_id", "text").coalesce(1)
    val n = smallFold(crashMatrix("substr") { root =>
      DedupSuite.exactSubstrBuildStore(docs(0 until 6), "doc_id", "text", 4,
        s"$root/store", nBuckets = 1, hashKeys = true, bloomSide = true)
      ()
    } { root =>
      DedupSuite.exactSubstrFold(spark, s"$root/store", s"$root/out",
        docs(6 until 12), 1L, "doc_id", "text", 4, nBuckets = 1,
        hashKeys = true)
      ()
    } { root =>
      val store = s"$root/store"
      (rowsOf(store), rowsOf(s"${store}_meta"),
        rowsOf(s"$store/${BloomSide.DirName}"), rowsOf(s"$root/out"))
    })
    assert(n >= 10)
  }

  test("crash matrix: a c5-shaped boilerplate fold converges from every crash point") {
    // "promo" reaches the threshold in the batch, so the fold also
    // re-emits the stored docs that carry it
    def docs(ids: Range) = ids.map(i => (i.toLong,
        (if (i % 2 == 0) "promo line\n" else "") + s"body $i"))
      .toDF("doc_id", "text").coalesce(1)
    val n = smallFold(crashMatrix("boiler") { root =>
      Boilerplate.buildStore(docs(0 until 4), "doc_id", "text", 3,
        s"$root/store", nBuckets = 1, nDocBuckets = 1).count()
      ()
    } { root =>
      Boilerplate.fold(spark, s"$root/store", s"$root/out", docs(4 until 7),
        1L, "doc_id", "text", 3, nBuckets = 1, nDocBuckets = 1)
      ()
    } { root =>
      val store = s"$root/store"
      (Seq("pairs", "counts", "docs", "dict").map(t => rowsOf(s"$store/$t")),
        rowsOf(s"${store}_meta"), rowsOf(s"$root/out"))
    })
    assert(n >= 10)
  }

  test("crash matrix: compaction, with a partition over the size split, converges from every crash point") {
    val n = crashMatrix("compact") { root =>
      val store = s"$root/store"
      (0 until 2).foreach { i =>
        (0L until 40L).map(j => (i * 100L + j, j % 2)).toDF("v", "bucket")
          .coalesce(1).write.mode("append").partitionBy("bucket").parquet(store)
      }
      (0L until 3000L).map(j => (10000L + j, 2L)).toDF("v", "bucket")
        .repartition(2).write.mode("append").partitionBy("bucket").parquet(store)
    } { root =>
      // compactStore's path with the size split lowered so bucket=2
      // takes the sized stage and buckets 0-1 the shared one
      val rep = StoreCompaction.rewrite(spark, s"$root/store", identity,
        minFiles = 2, targetBytes = 8 * 1024)
      assert(rep.partitionsCompacted <= 3)
    } { root =>
      (sortedRows(spark.read.parquet(s"$root/store")),
        StoreCompaction.partitionFileCounts(spark, s"$root/store").keySet)
    }
    assert(n >= 10)
  }

  test("crash matrix: a flat store rewrite converges from every crash point") {
    crashMatrix("flat") { root =>
      (0 until 3).foreach { _ =>
        (0L until 30L).map(j => (s"g${j % 3}", j % 5, 1L)).toDF("g", "cell", "cnt")
          .coalesce(1).write.mode("append").parquet(s"$root/store")
      }
    } { root =>
      StoreCompaction.rewriteFlatStore(spark, s"$root/store", df =>
        df.groupBy($"g", $"cell").agg(sum($"cnt").cast("bigint").as("cnt")))
      ()
    } { root => sortedRows(spark.read.parquet(s"$root/store")) }
  }

  test("crash matrix: a bloom sidecar rebuild converges from every crash point") {
    def keys = (0L until 400L).map(i => (i % 2, s"k$i")).toDF("bucket", "wkey")
    crashMatrix("bloom") { root =>
      keys.repartition(2).write.partitionBy("bucket").parquet(s"$root/store")
      BloomSide.stageDelta(keys, s"$root/store/${BloomSide.DirName}", "bucket", "wkey")
    } { root =>
      BloomSide.rebuildFromStore(spark, s"$root/store", "bucket", "wkey")
    } { root =>
      // the bucket dirs, not the `_`-named root Spark would warn about
      val side = s"$root/store/${BloomSide.DirName}"
      val buckets = StoreFiles.list(StoreFiles.fs(spark, side), new Path(side))
        .filter(_.isDirectory).map(_.getPath.toString)
      sortedRows(spark.read.option("basePath", side).parquet(buckets: _*)
        .select($"bucket", $"items", hex($"bloom"))).ensuring(_.nonEmpty)
    }
  }

  test("crash matrix: a versioned-staging merge converges from every crash point") {
    def batch(ids: Range, v: Long) =
      ids.map(i => (i.toLong, v, s"r$i")).toDF("id", "version", "v")
    crashMatrix("merge") { root =>
      VersionedStaging.mergeInto(spark, s"$root/staging", batch(0 until 30, 1L),
        Seq("id"), "version", batchId = Some(1L))
      ()
    } { root =>
      VersionedStaging.mergeInto(spark, s"$root/staging", batch(20 until 50, 2L),
        Seq("id"), "version", batchId = Some(2L))
      ()
    } { root =>
      val latest = VersionedStaging.latestComplete(spark, s"$root/staging").get
      (latest.split("/").last, VersionedStaging.batchIdOf(spark, latest),
        sortedRows(spark.read.parquet(latest)))
    }
  }
}
