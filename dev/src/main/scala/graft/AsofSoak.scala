package graft

import org.apache.spark.sql.functions._
import graft.operators.Windows

/** Scale soak for the bucketed as-of carry (q89, dev tool): 20 M
  * events with a planted 10% hot user, verifying that the two-pass
  * bucketed form stays bit-identical to the single-window q20 form
  * while spreading the hot key's sort across its time buckets. The
  * single-window baseline is also timed — the number that goes
  * superlinear at 100× is exactly the one task sorting the hot key's
  * entire history (the q53/session soak finding, replayed for as-of).
  *
  * `sbt "dev/runMain graft.AsofSoak [nRows]"` — one JSON line.
  */
object AsofSoak {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toLong).getOrElse(20000000L)
    val spark = Sessions.local(32)
    val base = "target/soak/asof"
    def time[A](body: => A): (A, Double) = {
      val t0 = System.nanoTime(); val a = body
      (a, (System.nanoTime() - t0) / 1e9)
    }

    // 10% of rows on user 0; irregular ts spacing; sparse markers
    val evPath = s"$base/events.parquet"
    spark.range(n).select(
        col("id").as("event_id"),
        when(pmod(col("id"), lit(10)) === 0, 0L)
          .otherwise(lit(1L) + pmod(col("id") * 2654435761L, lit(50000L)))
          .as("user_id"),
        (lit(1700000000000000L) + col("id") * 3000000L +
          pmod(col("id"), lit(13))).as("ts_us"),
        (pmod(col("id"), lit(97)) === 0).as("is_marker"))
      .repartition(32).write.mode("overwrite").parquet(evPath)
    val ev = spark.read.parquet(evPath)
    def marked = when(col("is_marker"), col("ts_us"))

    val bucketed = Windows.asOfCarryBucketed(ev, Seq("user_id"),
      col("ts_us"), col("event_id"), marked, "carry",
      bucketUs = 6L * 3600 * 1000000)
    val plain = Windows.asOfCarry(ev, Seq("user_id"),
      Seq(col("ts_us").asc, col("event_id").asc), marked, "carry")

    // bit-identical equality via a carry-sensitive digest — a bare
    // count() would let Catalyst PRUNE the unused window column and
    // time an empty plan. Honest cost note: at 2M rows the hot key
    // still fits one task's sort comfortably, so the plain form WINS
    // wall-clock here (~2x); bucketing is insurance for per-key
    // volumes beyond a single task's sort budget, priced at one
    // extra join + shuffle. The invariant this soak guards is the
    // bit-identity, not a speedup at this scale.
    def digest(df: org.apache.spark.sql.DataFrame) =
      df.agg(sum(hash(col("event_id"), col("user_id"),
        coalesce(col("carry"), lit(-1L))).cast("long")).as("d"),
        count(lit(1)).as("c")).head()
    val (db, tDigB) = time(digest(bucketed))
    val (dp, tDigP) = time(digest(plain))
    require(db == dp,
      s"asof soak: bucketed digest $db != plain digest $dp at $n rows")
    require(db.getLong(1) == n,
      s"asof soak: ${db.getLong(1)} of $n rows survived the carry")

    // hybrid auto-dispatch (q94): ONLY the planted hot user (n/10
    // rows) crosses the threshold and rides the bucketed form; the
    // 50k-user tail stays on the plain window. Must stay bit-equal,
    // and the hot key no longer serializes one task: the straggler
    // the all-plain run pays on user 0 is spread across its buckets
    // while the tail skips the bucketed form's extra pass.
    val hybrid = Windows.asOfCarryHybrid(ev, Seq("user_id"),
      col("ts_us"), col("event_id"), marked, "carry",
      bucketUs = 6L * 3600 * 1000000, hotThreshold = n / 20)
    val (dh, tDigH) = time(digest(hybrid))
    require(dh == dp,
      s"asof soak: hybrid digest $dh != plain digest $dp at $n rows")

    println(
      s"""{"rows":$n,"hot_user_rows":${n / 10},"digest_equal":true,
         |"sec":{"bucketed_full":$tDigB,"single_window_full":$tDigP,
         |"hybrid_full":$tDigH}}"""
        .stripMargin.replace("\n", ""))
    spark.stop()
  }
}
