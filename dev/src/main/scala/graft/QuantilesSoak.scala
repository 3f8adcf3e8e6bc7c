package graft

import org.apache.spark.sql.functions._
import graft.operators.Quantiles
import graft.operators.Quantiles.Quantile

/** Scale soak for q95 radix-selection quantiles (dev tool): 50M rows,
  * 4 groups — one with a planted 90% mega-duplicate (the shape that
  * stalls a per-group sort on one reducer and overflows a
  * `percentile` buffer) — verifying at volume the two claims the gate
  * proves only at sf0.1:
  *
  *   - EXACTNESS: radix selection equals the window-sort order
  *     statistic row-for-row at every requested rank, including
  *     p0/p100 endpoints and ranks inside the mega-duplicate;
  *   - ECONOMICS: wall-clock beside the window-sort baseline. The
  *     radix passes shuffle (groups × quantiles × fanout) counter
  *     rows; the baseline shuffles and sorts all 50M rows, with the
  *     skewed group's 45M rows sorted by ONE task.
  *
  * Deterministic fixture (id arithmetic, no RNG).
  * `sbt "dev/runMain graft.QuantilesSoak"` — one JSON line.
  */
object QuantilesSoak {
  def main(args: Array[String]): Unit = {
    val spark = Sessions.local(32)
    val base = "target/soak/quantiles"
    def time[A](body: => A): (A, Double) = {
      val t0 = System.nanoTime(); val a = body
      (a, (System.nanoTime() - t0) / 1e9)
    }
    val nRows = 50000000L
    val path = s"$base/rows.parquet"
    // groups: g0..g2 spread wide (Knuth-hash values over ~1e12,
    // negatives included); "skew" = 90% the single value 777, the
    // rest spread — the mega-duplicate
    spark.range(nRows).select(
        when(col("id") % 10 < 4, lit("skew"))
          .otherwise(concat(lit("g"), (col("id") % 3).cast("string")))
          .as("g"),
        when(col("id") % 10 < 4 && col("id") % 25 =!= 0, lit(777L))
          .otherwise((col("id") * 2654435761L) % 1000000000000L
            - 500000000000L)
          .as("x"))
      .repartition(32).write.mode("overwrite").parquet(path)
    val rows = spark.read.parquet(path)
    val quantiles = Seq(Quantile("p0", 0, 1), Quantile("p25", 25, 100),
      Quantile("p50", 50, 100), Quantile("p90", 90, 100),
      Quantile("p999", 999, 1000), Quantile("p100", 1, 1))

    val (radix, tRadix) = time {
      val r = Quantiles.radixQuantiles(rows, col("g"), col("x"), quantiles)
        .collect()
      r.map(row => row.getString(0) ->
        quantiles.indices.map(i => row.getLong(i + 1))).toMap
    }

    // window-sort baseline: the same pinned type-1 rank via
    // row_number over a per-group sort — the plan radix replaces
    val (brute, tSort) = time {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("g")).orderBy(col("x").asc)
      val ranked = rows
        .withColumn("rn", row_number().over(w))
        .withColumn("n", count(lit(1)).over(Window.partitionBy(col("g"))))
      val targets = quantiles.zipWithIndex.map { case (q, i) =>
        // `div`, not `/`: BIGINT `/` is DOUBLE division in Spark
        max(when(col("rn") ===
            expr(s"((n - 1) * ${q.num}) div ${q.den} + 1"),
          col("x"))).as(s"q$i")
      }
      ranked.groupBy(col("g")).agg(targets.head, targets.tail: _*)
        .collect()
        .map(row => row.getString(0) ->
          quantiles.indices.map(i => row.getLong(i + 1)))
        .toMap
    }
    require(radix == brute,
      s"radix selection must equal the window-sort order statistic:\n" +
        s"radix=$radix\nbrute=$brute")
    require(radix("skew")(2) == 777L,
      "the mega-duplicate must be the skewed group's median")

    // q96 store path: build on one id-third, fold the other two, then
    // serve — the serve's claim is that global ranks come from the
    // store alone, so its wall EXCLUDES any full scan of the 50M rows
    // (only in-cell refinement reads; the planted mega-duplicate makes
    // the skew group's median cell 45M rows — the worst case — while
    // the spread groups' cells are ~thousands). cellBits=24: values
    // span ~1e12, so ~60k cells/group.
    val store = s"$base/qstore"
    val (_, tBuild) = time {
      Quantiles.buildQuantileStore(
        rows.filter(pmod(hash(col("x")), lit(3)) === 0),
        col("g"), col("x"), store, cellBits = 24)
    }
    val (_, tFold) = time {
      Quantiles.foldQuantileStore(spark, store,
        rows.filter(pmod(hash(col("x")), lit(3)) === 1), 1L,
        col("g"), col("x"))
      Quantiles.foldQuantileStore(spark, store,
        rows.filter(pmod(hash(col("x")), lit(3)) === 2), 2L,
        col("g"), col("x"))
    }
    val (servedQ, tServe) = time {
      val r = Quantiles.quantilesFromStore(spark, store, rows,
          col("g"), col("x"), quantiles).collect()
      r.map(row => row.getString(0) ->
        quantiles.indices.map(i => row.getLong(i + 1))).toMap
    }
    require(servedQ == brute,
      s"store-served quantiles must equal the order statistic:\n" +
        s"served=$servedQ\nbrute=$brute")
    println(
      s"""{"rows":$nRows,"groups":${radix.size},
         |"quantiles":${quantiles.size},
         |"sec":{"radix":$tRadix,"window_sort":$tSort,
         |"store_build":$tBuild,"store_fold2":$tFold,
         |"store_serve":$tServe}}"""
        .stripMargin.replace("\n", ""))
    spark.stop()
  }
}

/** Scale soak for q100 many-groups radix quantiles (dev tool): 20 M
  * rows over 200 001 groups — 200 000 spread ~50-row groups PLUS one
  * planted 10 M-row mega-group that is 90% a single value — the
  * fixture q95's driver-state form cannot touch (its OR-reduce
  * literal predicate StackOverflows past ~500 groups) and a
  * per-group window sort handles only by serializing the mega-group
  * on one task. Claims verified at volume:
  *
  *   - EXACTNESS: the in-plan descent equals the window-sort order
  *     statistic for all 200 001 groups at every requested rank,
  *     including ranks inside the mega-duplicate;
  *   - DRIVER STATE: per-pass driver actions are one bounds agg —
  *     nothing group-sized is collected (the soak's own collect is
  *     the comparison harness, not the operator);
  *   - ECONOMICS, stated honestly: at THIS shape the window sort wins
  *     (measured ~14 s vs ~94 s) — with near-unique spread values,
  *     pass-1's (group, bucket) count table is row-count-sized, so
  *     each descent pass costs about what the single partitioned sort
  *     costs, times ⌈log_fanout(range)⌉. The descent is NOT the tool
  *     for many small sortable groups (q26 / a window sort is, and
  *     the engine has both); it is the tool for the regimes a sort
  *     cannot enter — a group too large for one task's sorter (the
  *     50 M-row QuantilesSoak shape at 100-TB group sizes), and group
  *     counts too large for q95's driver state. This soak pins the
  *     EXACTNESS of that path at 200 k groups, with the trade-off
  *     measured, not hidden.
  *
  * Deterministic fixture (id arithmetic, no RNG).
  * `sbt "dev/runMain graft.ManyGroupsQuantilesSoak"` — one JSON line.
  */
object ManyGroupsQuantilesSoak {
  def main(args: Array[String]): Unit = {
    val spark = Sessions.local(32)
    def time[A](body: => A): (A, Double) = {
      val t0 = System.nanoTime(); val a = body
      (a, (System.nanoTime() - t0) / 1e9)
    }
    // args: [nRows [nGroups]] — default 20M × 200k; the r17 ceiling
    // run is 20M × 1M (an order of magnitude more groups, same
    // planted mega-group), where the claim under test is that
    // per-pass cost and driver state stay FLAT in the group count:
    // each pass's driver action is one bounds row; the per-pass
    // heavy job is timed below via its job description.
    val nRows = if (args.length >= 1) args(0).toLong else 20000000L
    val nGroups = if (args.length >= 2) args(1).toLong else 200000L
    val path = s"target/soak/quantiles_many/rows_${nRows}_$nGroups.parquet"
    // per-pass wall times keyed by the descent's job descriptions
    val passSecs =
      new java.util.concurrent.ConcurrentHashMap[String, Double]()
    val passStarts =
      new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          val d = Option(js.properties
            .getProperty("spark.job.description")).getOrElse("")
          if (d.startsWith("q100 in-plan descent"))
            passStarts.put(js.jobId, (js.time, d))
        }
        override def onJobEnd(
            je: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
          val st = passStarts.remove(je.jobId)
          if (st != null)
            passSecs.merge(st._2, (je.time - st._1) / 1e3,
              (a, b) => a + b)
        }
      })
    if (!new java.io.File(path).isDirectory) {
      spark.range(nRows).select(
          when(col("id") % 2 === 0, lit("mega"))
            .otherwise(concat(lit("g"),
              expr(s"(id div 2) % $nGroups").cast("string")))
            .as("g"),
          when(col("id") % 2 === 0 && col("id") % 20 =!= 0, lit(777L))
            .otherwise((col("id") * 2654435761L) % 1000000000000L
              - 500000000000L)
            .as("x"))
        .repartition(32).write.mode("overwrite").parquet(path)
    }
    val rows = spark.read.parquet(path)
    val quantiles = Seq(Quantile("p25", 25, 100),
      Quantile("p50", 50, 100), Quantile("p90", 90, 100))

    val (many, tMany) = time {
      Quantiles.radixQuantilesManyGroups(rows, col("g"), col("x"),
          quantiles)
        .collect()
        .map(row => row.getString(0) ->
          quantiles.indices.map(i => row.getLong(i + 1)))
        .toMap
    }
    val (brute, tSort) = time {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("g")).orderBy(col("x").asc)
      val ranked = rows
        .withColumn("rn", row_number().over(w))
        .withColumn("n", count(lit(1)).over(Window.partitionBy(col("g"))))
      val targets = quantiles.zipWithIndex.map { case (q, i) =>
        max(when(col("rn") ===
            expr(s"((n - 1) * ${q.num}) div ${q.den} + 1"),
          col("x"))).as(s"q$i")
      }
      ranked.groupBy(col("g")).agg(targets.head, targets.tail: _*)
        .collect()
        .map(row => row.getString(0) ->
          quantiles.indices.map(i => row.getLong(i + 1)))
        .toMap
    }
    require(many.size == nGroups + 1,
      s"expected ${nGroups + 1} groups, got ${many.size}")
    require(many == brute,
      "many-groups descent must equal the window-sort order statistic " +
        s"(first diff: ${many.find(kv => brute.get(kv._1) != Some(kv._2))})")
    require(many("mega")(1) == 777L,
      "the mega-duplicate must be the mega-group's median")
    Thread.sleep(300) // listener bus drain
    val perPass = {
      import scala.jdk.CollectionConverters._
      // numeric sort on the pass index — a lexical sort puts
      // "pass 10" before "pass 2" and misreads per-pass flatness
      passSecs.asScala.toSeq
        .sortBy { case (k, _) =>
          "\\d+".r.findFirstIn(k).map(_.toLong).getOrElse(Long.MaxValue)
        }
        .map { case (k, v) => s""""${k.stripPrefix("q100 in-plan descent: ")}":$v""" }
        .mkString("{", ",", "}")
    }
    println(
      s"""{"rows":$nRows,"groups":${many.size},
         |"quantiles":${quantiles.size},
         |"sec":{"many_groups_radix":$tMany,"window_sort":$tSort},
         |"pass_secs":$perPass}"""
        .stripMargin.replace("\n", ""))
    spark.stop()
  }
}
