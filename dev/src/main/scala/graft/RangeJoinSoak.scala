package graft

import org.apache.spark.sql.functions._
import graft.operators.RangeJoin

/** Scale soak for the binned pure range join (q88, dev tool): 20 M
  * events × 100 k overlapping ranges — a workload whose naive
  * inequality join is 2×10^12 comparisons (hours of nested loop) and
  * whose binned form is one bucket equi-join over a 300 k-row
  * replicated range table. The fixture is a uniform grid, so the
  * exact pair count has a closed form and the equality gate needs no
  * second join:
  *
  *   ranges i ∈ [0, R): [i·W, i·W + 3W)  — every point from 2W on is
  *   covered by exactly 3 ranges; events sit at t = j·W/P (P per
  *   bin), so total pairs = 3·n − 3·P (the first bin's events see 1
  *   range, the second bin's 2).
  *
  * `sbt "dev/runMain graft.RangeJoinSoak [nRanges] [perBin]"`.
  */
object RangeJoinSoak {
  def main(args: Array[String]): Unit = {
    val nRanges = args.headOption.map(_.toLong).getOrElse(100000L)
    val perBin = args.drop(1).headOption.map(_.toLong).getOrElse(200L)
    val spark = Sessions.local(32)
    val w = 1000000L // 1s bins in us
    val n = nRanges * perBin
    def time[A](body: => A): (A, Double) = {
      val t0 = System.nanoTime(); val a = body
      (a, (System.nanoTime() - t0) / 1e9)
    }

    val base = "target/soak/rangejoin"
    val evPath = s"$base/events.parquet"
    spark.range(n).select(col("id").as("event_id"),
        (col("id") * (w / perBin)).as("ts_us"))
      .repartition(32).write.mode("overwrite").parquet(evPath)
    val events = spark.read.parquet(evPath)
    val ranges = spark.range(nRanges).select(col("id").as("range_id"),
      (col("id") * w).as("start_us"), (col("id") * w + 3 * w).as("end_us"))

    val joined = RangeJoin.binnedRangeJoin(events, "ts_us", ranges,
      "start_us", "end_us", binUs = w)
    val plan = joined.queryExecution.executedPlan.toString
    require(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      s"soak: binned join must not nested-loop:\n${plan.take(3000)}")

    val (total, tJoin) = time(joined.count())
    val expected = 3 * n - 3 * perBin
    require(total == expected,
      s"q88 soak: $total pairs, closed form says $expected")

    // per-range uniformity: every interior range holds exactly 3P events
    val offRanges = joined.groupBy("range_id").count()
      .filter(col("range_id") >= 2 && col("range_id") < nRanges - 3)
      .filter(col("count") =!= 3 * perBin).count()
    require(offRanges == 0,
      s"q88 soak: $offRanges interior ranges deviate from 3*perBin")

    // ---- derived-bin path (binUs = 0, r10 verdict item 4): every
    // range is 3W wide, so the stats-driven default lands on 3W — a
    // coarser bin (each range replicates to ≤ 2 buckets instead of
    // 3-4) with a heavier residual filter; the result must be
    // IDENTICAL and the throughput in the same band ----
    val derivedBin = RangeJoin.medianRangeWidth(ranges, "start_us", "end_us")
    require(derivedBin == 3 * w,
      s"q88 soak: derived bin $derivedBin, expected the 3W median width")
    val (totalD, tJoinD) = time(
      RangeJoin.binnedRangeJoin(events, "ts_us", ranges,
        "start_us", "end_us", binUs = 0L).count())
    require(totalD == expected,
      s"q88 soak: derived-bin path got $totalD pairs, closed form $expected")

    println(
      s"""{"events":$n,"ranges":$nRanges,"pairs":$total,
         |"naive_comparisons":${n * nRanges},"derived_bin_us":$derivedBin,
         |"sec":{"binned_join":$tJoin,"binned_join_derived":$tJoinD}}"""
        .stripMargin.replace("\n", ""))
    spark.stop()
  }
}
