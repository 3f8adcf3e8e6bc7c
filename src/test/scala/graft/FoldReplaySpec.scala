package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.operators.{Boilerplate, DedupSuite, Pack, Quantiles, Similarity}

/** Every persisted-store family folds through one exactly-once path:
  * folding the same (batch, batch id) twice leaves the store's rows,
  * its `_meta` and the fold's emissions exactly as folding it once. */
class FoldReplaySpec extends SparkSpec {
  import spark.implicits._

  private def rows(dir: String): Seq[String] =
    spark.read.parquet(dir).collect().map(_.toString).toSeq.sorted

  /** Fold twice: the first delivery applies, the replay is skipped and
    * leaves every dir in `dirs` as the first left it. */
  private def replaySkips(dirs: String*)(fold: => Boolean): Unit = {
    assert(fold, "the first delivery must apply")
    val once = dirs.map(rows)
    assert(once.forall(_.nonEmpty), "every checked dir must hold rows")
    assert(!fold, "the replay must be skipped")
    assert(dirs.map(rows) == once,
      "the replay must leave the store, its meta and the emissions unchanged")
  }

  private def root(name: String): String =
    Files.createTempDirectory(s"replay_$name").toString

  test("IVF fold: a replayed batch id changes nothing") {
    val emb = Tables.embeddings(spark, sf).select($"vec_id", $"embedding")
      .filter($"vec_id" < 100)
    val index = s"${root("ivf")}/index"
    val cent = Similarity.buildIvfIndex(emb, index, "vec_id", "embedding", 4)
    val batch = emb.filter($"vec_id" % 10 === 0)
      .select(($"vec_id" + 1000000L).as("vec_id"), $"embedding")
    replaySkips(index) {
      Similarity.foldIvfIndex(spark, index, batch, 1L, cent, "vec_id", "embedding")
    }
  }

  test("substr fold: a replayed batch id changes nothing") {
    def docs(ids: Range) = ids.map(i => (i.toLong,
        s"body $i words" + (if (i % 2 == 0) " shared tail a b c d e f" else "")))
      .toDF("doc_id", "text")
    val r = root("substr")
    val (store, out) = (s"$r/store", s"$r/out")
    DedupSuite.exactSubstrBuildStore(docs(0 until 8), "doc_id", "text", 4,
      store, nBuckets = 4, bloomSide = true)
    replaySkips(store, s"${store}_meta", out) {
      DedupSuite.exactSubstrFold(spark, store, out, docs(8 until 16), 1L,
        "doc_id", "text", 4, nBuckets = 4)
    }
  }

  test("hamming fold: a replayed batch id changes nothing") {
    val mask60 = (1L << 60) - 1
    val hashes = (0L until 24L).map(i =>
      (i, ((i / 3) * 0x9E3779B97F4A7C15L ^ (i % 3)) & mask60)).toDF("doc_id", "ph")
    val r = root("hamming")
    val (store, out) = (s"$r/store", s"$r/out")
    DedupSuite.hammingIndexBuild(hashes.filter($"doc_id" % 2 === 0),
      "doc_id", "ph", store, bands = 4, nBuckets = 4)
    replaySkips(store, s"${store}_meta", out) {
      DedupSuite.hammingIndexFold(spark, store, out,
        hashes.filter($"doc_id" % 2 === 1), 1L, "doc_id", "ph")
    }
  }

  test("quantile fold: a replayed batch id changes nothing") {
    val xs = (0L until 600L).map(i => (s"g${i % 3}", (i * 7919L) % 1000L)).toDF("g", "x")
    val store = s"${root("quantile")}/store"
    Quantiles.buildQuantileStore(xs.filter($"x" % 2 === 0), col("g"), col("x"),
      store, cellBits = 4)
    replaySkips(store, s"${store}_meta") {
      Quantiles.foldQuantileStore(spark, store, xs.filter($"x" % 2 =!= 0), 1L,
        col("g"), col("x"))
    }
  }

  test("boilerplate fold: a replayed batch id changes nothing") {
    def docs(ids: Range) = ids.map(i => (i.toLong,
        (if (i % 2 == 0) "promo line\n" else "") + s"body $i"))
      .toDF("doc_id", "text")
    val r = root("boiler")
    val (store, out) = (s"$r/store", s"$r/out")
    Boilerplate.buildStore(docs(0 until 4), "doc_id", "text", 3, store,
      nBuckets = 4, nDocBuckets = 2).count()
    val tables = Seq("pairs", "counts", "docs", "dict").map(t => s"$store/$t")
    replaySkips(tables ++ Seq(s"${store}_meta", out): _*) {
      Boilerplate.fold(spark, store, out, docs(4 until 8), 1L, "doc_id",
        "text", 3, nBuckets = 4, nDocBuckets = 2)
    }
  }

  test("pack fold: a replayed batch id changes nothing") {
    def counts(ids: Range) = ids.map(i => (i.toLong, i % 7 + 1L)).toDF("doc_id", "n")
    val r = root("pack")
    val (store, out) = (s"$r/store", s"$r/out")
    Pack.buildSpanStore(counts(0 until 10), "doc_id", $"n", 16, store, 4).count()
    replaySkips(s"${store}_meta", out) {
      Pack.foldSpans(spark, store, out, counts(10 until 20), 1L, "doc_id",
        $"n", 16, 4)
    }
  }
}
