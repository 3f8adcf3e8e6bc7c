package graft

import org.apache.spark.sql.functions._
import graft.operators.Graph

/** Scale soak for incremental PageRank (q91, dev tool): a 20 M-edge
  * graph (1 M nodes, out-degree 20) takes a 10 k-edge batch from 50
  * clustered sources into new dangling nodes. The claims that matter
  * at 100 TB, each checked, none assumed:
  *
  *   - the append rewrites ONLY the buckets holding an affected
  *     source (exactly 50 of 512 here — verified from the on-disk
  *     file inventory), so ingest I/O is proportional to the touched
  *     key range, not the graph;
  *   - append wall-clock beats a full store rebuild by a wide margin
  *     (reported; the gap grows with graph size since the rebuild
  *     re-derives 1 M out-degrees from 20 M edges while the append
  *     re-derives 50);
  *   - ranks served from the folded store are BIT-IDENTICAL to a
  *     full rebuild over base ∪ batch (BIGINT recurrence — exceptAll
  *     in both directions over all 1 M+ nodes).
  *
  * `sbt "dev/runMain graft.GraphSoak [nNodes] [degree]"` — one JSON line.
  */
object GraphSoak {
  def main(args: Array[String]): Unit = {
    val nNodes = args.headOption.map(_.toLong).getOrElse(1000000L)
    val degree = args.drop(1).headOption.map(_.toInt).getOrElse(20)
    val spark = Sessions.local(32)
    val nBuckets = 512
    def time[A](body: => A): (A, Double) = {
      val t0 = System.nanoTime(); val a = body
      (a, (System.nanoTime() - t0) / 1e9)
    }

    val base = "target/soak/graph"
    val edgesPath = s"$base/edges.parquet"
    // k-regular ring graph: node s -> (s + 1 + k) mod N for k < degree
    // (all pairs distinct); staged to parquet so build and rebuild
    // read identical bytes
    spark.range(nNodes * degree).select(
        (col("id") % nNodes).as("src"),
        // div, not / — Spark's / on BIGINT is DOUBLE division and
        // would make dst fractional
        expr(s"(id % $nNodes + 1 + id div $nNodes) % $nNodes").as("dst"))
      .repartition(32).write.mode("overwrite").parquet(edgesPath)
    val edges = spark.read.parquet(edgesPath)
    // batch: 10k edges from 50 clustered existing sources into NEW
    // dangling nodes (ids >= nNodes -> disjoint from every base edge)
    val batch = spark.range(10000).select(
      (col("id") % 50).as("src"), (col("id") + nNodes).as("dst"))

    val inc = s"$base/inc"
    val full = s"$base/full"
    val (_, tBuild) = time(
      Graph.buildContribStore(edges, inc, "src", "dst", nBuckets))
    def inventory(): Map[String, Set[String]] =
      new java.io.File(inc).listFiles().filter(_.isDirectory)
        .filter(_.getName.startsWith("bucket="))
        .map(d => d.getName -> d.listFiles().map(f =>
          f.getName + ":" + f.lastModified()).toSet).toMap
    val before = inventory()
    val (_, tAppend) = time(
      Graph.appendToContribStore(spark, inc, batch, "src", "dst", nBuckets))
    val after = inventory()
    val rewritten = before.keySet.count(b => before(b) != after(b))
    require(rewritten == 50,
      s"q91 soak: $rewritten buckets rewritten, batch touches exactly 50")

    val (_, tRebuild) = time(Graph.buildContribStore(
      edges.unionByName(batch), full, "src", "dst", nBuckets))

    val (ranksInc, tRanks) = time {
      val r = Graph.pageRankFromStore(spark, inc, iters = 3)
      r.cache().count(); r
    }
    val ranksFull = Graph.pageRankFromStore(spark, full, iters = 3)
    val diff = ranksInc.exceptAll(ranksFull).count() +
      ranksFull.exceptAll(ranksInc).count()
    require(diff == 0,
      s"q91 soak: $diff rank rows differ between folded store and rebuild")
    val nRanked = ranksInc.count()
    require(nRanked == nNodes + 10000,
      s"q91 soak: ranked $nRanked nodes, expected ${nNodes + 10000} " +
        "(ring nodes + dangling batch targets)")

    println(
      s"""{"edges":${nNodes * degree},"batch":10000,"buckets":$nBuckets,
         |"rewritten_buckets":$rewritten,"nodes_ranked":$nRanked,
         |"sec":{"build":$tBuild,"append":$tAppend,"rebuild":$tRebuild,
         |"ranks_3_iters":$tRanks}}"""
        .stripMargin.replace("\n", ""))
    spark.stop()
  }
}
