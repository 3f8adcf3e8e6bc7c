package graft

import org.apache.spark.sql.functions._
import graft.operators.Quantiles
import graft.operators.Quantiles.Quantile

/** Radix-selection exact quantiles: the sort-free scale path must be
  * BIT-identical to the brute-force order statistic (sort + index)
  * under every shape that stresses selection — duplicates, planted
  * mega-skew, negatives, tiny groups, extreme ranks. */
class QuantilesSpec extends SparkSpec {
  import spark.implicits._

  private val qs = Seq(Quantile("p25", 25, 100), Quantile("p50", 50, 100),
    Quantile("p90", 90, 100))

  /** Brute force: r = (n-1)*num/den + 1 (integer division), r-th
    * smallest by local sort per group. */
  private def brute(rows: Seq[(String, Long)],
                    quantiles: Seq[Quantile]): Map[String, Seq[Long]] =
    rows.groupBy(_._1).map { case (g, vs) =>
      val sorted = vs.map(_._2).sorted
      g -> quantiles.map { q =>
        val r = ((BigInt(sorted.size - 1) * q.num) / q.den).toLong + 1
        sorted((r - 1).toInt)
      }
    }

  private def run(rows: Seq[(String, Long)],
                  quantiles: Seq[Quantile] = qs,
                  fanout: Int = 4096): Map[String, Seq[Long]] =
    Quantiles.radixQuantiles(rows.toDF("g", "x"), col("g"), col("x"),
        quantiles, fanout)
      .collect()
      .map(r => r.getString(0) ->
        quantiles.indices.map(i => r.getLong(i + 1)))
      .toMap

  test("matches brute force on mixed random-ish groups") {
    val rows = (0 until 5000).map { i =>
      val g = s"g${i % 7}"
      // deterministic pseudo-random spread incl. negatives
      (g, ((i * 2654435761L) % 100003L) - 50000L)
    }
    assert(run(rows) === brute(rows, qs))
  }

  test("planted mega-skew: 90% one value, exact at every rank") {
    val rows = (0 until 10000).map { i =>
      ("s", if (i % 10 == 0) i.toLong else 777L)
    }
    val all = Seq(Quantile("p01", 1, 100), Quantile("p10", 10, 100),
      Quantile("p50", 50, 100), Quantile("p89", 89, 100),
      Quantile("p99", 99, 100), Quantile("min", 0, 1),
      Quantile("max", 1, 1))
    assert(run(rows, all) === brute(rows, all))
  }

  test("small fanout forces many descent passes, result unchanged") {
    val rows = (0 until 3000).map(i => ("g", (i * 104729L) % 1000000007L))
    assert(run(rows, qs, fanout = 2) === brute(rows, qs))
    assert(run(rows, qs, fanout = 7) === brute(rows, qs))
  }

  test("degenerate groups: single row, all-equal, two values") {
    val rows = Seq(("one", 42L)) ++
      (0 until 50).map(_ => ("same", -9L)) ++
      (0 until 30).map(i => ("two", if (i < 29) 1L else 2L))
    assert(run(rows) === brute(rows, qs))
  }

  test("extreme value domain: Long.MinValue/MaxValue endpoints") {
    val rows = Seq(("x", Long.MinValue), ("x", -1L), ("x", 0L),
      ("x", 1L), ("x", Long.MaxValue))
    val mm = Seq(Quantile("min", 0, 1), Quantile("p50", 1, 2),
      Quantile("max", 1, 1))
    assert(run(rows, mm) === brute(rows, mm))
  }

  test("fanout too small for the interval width fails loudly, not garbage") {
    // a fanout-2 split of the full 64-bit domain has width 2^63,
    // which does not fit the BIGINT width column — the descent must
    // refuse rather than ship a negative width that miscounts
    val rows = Seq(("x", Long.MinValue), ("x", Long.MaxValue))
    val e = intercept[IllegalArgumentException] {
      run(rows, Seq(Quantile("p50", 1, 2)), fanout = 2)
    }
    assert(e.getMessage.contains("raise fanout"))
    // fanout 4 over the same domain is in-range and exact
    assert(run(rows, Seq(Quantile("p50", 1, 2)), fanout = 4) ===
      brute(rows, Seq(Quantile("p50", 1, 2))))
  }

  test("null groups and null values are excluded; empty input -> empty") {
    val df = Seq[(Option[String], Option[Long])](
      (Some("g"), Some(1L)), (Some("g"), None), (None, Some(5L)),
      (Some("g"), Some(3L))).toDF("g", "x")
    val got = Quantiles.radixQuantiles(df, col("g"), col("x"),
        Seq(Quantile("p50", 1, 2)))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(got === Map("g" -> 1L)) // n=2, r=(1*1)/2+1=1 -> 1st smallest
    val empty = Quantiles.radixQuantiles(
      Seq.empty[(String, Long)].toDF("g", "x"), col("g"), col("x"),
      Seq(Quantile("p50", 1, 2)))
    assert(empty.count() === 0)
  }

  private def runMany(rows: Seq[(String, Long)],
                      quantiles: Seq[Quantile] = qs,
                      fanout: Int = 4096): Map[String, Seq[Long]] =
    Quantiles.radixQuantilesManyGroups(rows.toDF("g", "x"), col("g"),
        col("x"), quantiles, fanout)
      .collect()
      .map(r => r.getString(0) ->
        quantiles.indices.map(i => r.getLong(i + 1)))
      .toMap

  test("many-groups variant equals brute force at 900 groups") {
    // 800 groups of wildly varied sizes: singletons, all-equal,
    // mega-skew, negatives — the in-plan state must match the
    // driver-state descent bit-for-bit
    val rows = (0 until 20000).map { i =>
      val g = s"g${i % 800}"
      val x = if (i % 800 < 10 && i % 3 == 0) -42L // mega-dup in tiny groups
              else ((i * 2654435761L) % 100003L) - 50000L
      (g, x)
    } ++ (0 until 100).map(i => (s"solo$i", i.toLong)) // singleton groups
    // brute force is the authority at this group count — the
    // driver-state form's literal pushdown predicate is itself
    // group-bounded (its contract), so equality with `run` is pinned
    // on the small fixture below instead
    assert(runMany(rows) === brute(rows, qs))
  }

  test("many-groups: small fanouts force deep descents, result unchanged") {
    // range 1e5 at fanout 2 ≈ 17 passes — deep enough to exercise the
    // loop without unit-test-hostile pass counts
    val rows = (0 until 3000).map(i => (s"g${i % 13}", (i * 104729L) % 100003L))
    assert(runMany(rows, qs, fanout = 2) === brute(rows, qs))
    assert(runMany(rows, qs, fanout = 7) === brute(rows, qs))
    assert(runMany(rows, qs) === run(rows, qs))
  }

  test("many-groups: full 64-bit domain stays exact even at fanout 2") {
    // a fanout-2 split of the full domain has width 2^63 — beyond
    // Long, where the driver-state form must refuse: the in-plan
    // form's DECIMAL(38,0) interval arithmetic stays exact through
    // all 64 descent passes
    val rows = Seq(("x", Long.MinValue), ("x", -1L), ("x", 0L),
      ("x", 1L), ("x", Long.MaxValue), ("y", Long.MinValue),
      ("y", Long.MaxValue))
    val mm = Seq(Quantile("min", 0, 1), Quantile("p50", 1, 2),
      Quantile("max", 1, 1))
    assert(runMany(rows, mm, fanout = 2) === brute(rows, mm))
  }

  test("many-groups: nulls excluded, empty input -> empty, schema kept") {
    val df = Seq[(Option[String], Option[Long])](
      (Some("g"), Some(1L)), (Some("g"), None), (None, Some(5L)),
      (Some("g"), Some(3L))).toDF("g", "x")
    val got = Quantiles.radixQuantilesManyGroups(df, col("g"), col("x"),
        Seq(Quantile("p50", 1, 2)))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(got === Map("g" -> 1L))
    val empty = Quantiles.radixQuantilesManyGroups(
      Seq.empty[(String, Long)].toDF("g", "x"), col("g"), col("x"),
      Seq(Quantile("p50", 1, 2)))
    assert(empty.columns.toSeq === Seq("grp", "p50"))
    assert(empty.count() === 0)
  }

  private def served(store: String, rows: Seq[(String, Long)],
                     quantiles: Seq[Quantile] = qs): Map[String, Seq[Long]] =
    Quantiles.quantilesFromStore(spark, store, rows.toDF("g", "x"),
        col("g"), col("x"), quantiles)
      .collect()
      .map(r => r.getString(0) ->
        quantiles.indices.map(i => r.getLong(i + 1)))
      .toMap

  test("q96 store: build + folds served == direct radix == brute force") {
    val corpus = (0 until 4000).map { i =>
      (s"g${i % 5}", ((i * 2654435761L) % 100003L) - 50000L)
    }
    val (b1, b2) = (corpus.indices.filter(_ % 3 == 1).map(corpus),
      corpus.indices.filter(_ % 3 == 2).map(corpus))
    val seed = corpus.indices.filter(_ % 3 == 0).map(corpus)
    val store = java.nio.file.Files.createTempDirectory("qstore")
      .toString + "/store"
    Quantiles.buildQuantileStore(seed.toDF("g", "x"), col("g"), col("x"),
      store, cellBits = 6)
    Quantiles.foldQuantileStore(spark, store, b1.toDF("g", "x"), 1L,
      col("g"), col("x"))
    Quantiles.foldQuantileStore(spark, store, b2.toDF("g", "x"), 2L,
      col("g"), col("x"))
    assert(served(store, corpus) === brute(corpus, qs))
    assert(served(store, corpus) === run(corpus))
  }

  test("q96 store: negatives, mega-skew cell, and endpoint ranks") {
    val rows = (0 until 8000).map { i =>
      ("s", if (i % 10 != 0) -777L else ((i * 104729L) % 90001L) - 45000L)
    }
    val all = Seq(Quantile("min", 0, 1), Quantile("p50", 1, 2),
      Quantile("p99", 99, 100), Quantile("max", 1, 1))
    val store = java.nio.file.Files.createTempDirectory("qstore_skew")
      .toString + "/store"
    Quantiles.buildQuantileStore(rows.take(1000).toDF("g", "x"),
      col("g"), col("x"), store, cellBits = 4)
    Quantiles.foldQuantileStore(spark, store, rows.drop(1000).toDF("g", "x"),
      1L, col("g"), col("x"))
    assert(served(store, rows, all) === brute(rows, all))
  }

  test("q96 store: a diverged row source fails loudly, never silently") {
    val rows = (0 until 1000).map(i => ("g", i.toLong))
    val store = java.nio.file.Files.createTempDirectory("qstore_div")
      .toString + "/store"
    Quantiles.buildQuantileStore(rows.toDF("g", "x"), col("g"), col("x"),
      store, cellBits = 5)
    // under-coverage: serve sees half the counted rows
    val e1 = intercept[IllegalArgumentException] {
      served(store, rows.filter(_._2 % 2 == 0))
    }
    assert(e1.getMessage.contains("disagree"))
    // over-coverage: serve sees rows the store never counted
    val e2 = intercept[IllegalArgumentException] {
      served(store, rows ++ rows.take(300))
    }
    assert(e2.getMessage.contains("disagree"))
    // no _meta at all: loud (missing-path analysis error)
    intercept[Exception] {
      served(s"$store-nope", rows)
    }
  }

  // ---- auto-dispatch (q101): the executable cost model ----

  test("sortQuantiles equals brute force (shared rank discipline)") {
    val rows = (0 until 4000).map { i =>
      (s"g${i % 11}", ((i * 2654435761L) % 5003L) - 2500L)
    }
    val got = Quantiles.sortQuantiles(rows.toDF("g", "x"),
        col("g"), col("x"), qs)
      .collect()
      .map(r => r.getString(0) -> qs.indices.map(i => r.getLong(i + 1)))
      .toMap
    assert(got === brute(rows, qs))
  }

  test("chooseQuantileForm pins the regime -> form table") {
    import Quantiles._
    // small sortable spread groups -> the window sort
    assert(chooseQuantileForm(QuantileStats(nGroups = 1000,
      maxGroup = 50000, rows = 1000000, sumDistinct = 900000)) === SortForm)
    // a group no task's sorter can hold -> descent; few groups keep
    // the state on the driver
    assert(chooseQuantileForm(QuantileStats(5, 100L * 1000 * 1000,
      120L * 1000 * 1000, 110L * 1000 * 1000)) === DriverDescentForm)
    // mega-groups AND many groups -> the in-plan descent
    assert(chooseQuantileForm(QuantileStats(200000, 10L * 1000 * 1000,
      500L * 1000 * 1000, 400L * 1000 * 1000)) === PlanDescentForm)
    // duplicate-heavy values -> descent even when groups are small
    // (counting beats sorting when the count table is tiny)
    assert(chooseQuantileForm(QuantileStats(5, 10000, 10000000,
      50000)) === DriverDescentForm)
    assert(chooseQuantileForm(QuantileStats(100000, 10000, 10000000,
      50000)) === PlanDescentForm)
    // ... but only above the rows floor: below it one sort beats any
    // multi-pass plan's fixed latencies, duplicate-heavy or not
    assert(chooseQuantileForm(QuantileStats(5, 10000, 1000000, 5000)) ===
      SortForm)
    assert(chooseQuantileForm(QuantileStats(5, 10000, 1000000, 5000),
      minSelectionRows = 0L) === DriverDescentForm)
    // a group no sorter can hold overrides the floor (sorting is not
    // an option)
    assert(chooseQuantileForm(QuantileStats(5, 100L * 1000 * 1000,
      120L * 1000 * 1000, 110L * 1000 * 1000),
      minSelectionRows = Long.MaxValue) === DriverDescentForm)
    // empty input -> sort form (returns the empty frame cheaply)
    assert(chooseQuantileForm(QuantileStats(0, 0, 0, 0)) === SortForm)
  }

  test("auto dispatch: observed stats route each fixture as pinned; results equal brute force") {
    import Quantiles._
    // near-unique values over 7 small groups — the q26 sort regime
    val spread = (0 until 5000).map(i =>
      (s"g${i % 7}", (i * 2654435761L) % 100003L))
    // 8 distinct values over 5 groups — duplicate-heavy, driver-sized
    val dupFew = (0 until 5000).map(i => (s"g${i % 5}", (i % 8).toLong))
    // 4 distinct values over 600 groups — duplicate-heavy, beyond the
    // driver-state bound
    val dupMany = (0 until 12000).map(i =>
      (s"g${i % 600}", (i % 4).toLong))
    // floor zeroed: these fixtures pin the VALUE-SHAPE routing; the
    // default floor's small-input sort override is pinned above
    def formOf(rows: Seq[(String, Long)]) =
      chooseQuantileForm(observeQuantileStats(rows.toDF("g", "x"),
        col("g"), col("x")), minSelectionRows = 0L)
    assert(formOf(spread) === SortForm)
    assert(formOf(dupFew) === DriverDescentForm)
    assert(formOf(dupMany) === PlanDescentForm)
    for (rows <- Seq(spread, dupFew, dupMany)) {
      val got = Quantiles.exactQuantilesAuto(rows.toDF("g", "x"),
          col("g"), col("x"), qs, minSelectionRows = 0L)
        .collect()
        .map(r => r.getString(0) -> qs.indices.map(i => r.getLong(i + 1)))
        .toMap
      assert(got === brute(rows, qs))
    }
  }

  test("store-served dispatcher == brute force, both descent regimes") {
    // few groups (driver descent) and many groups (in-plan descent),
    // seeds from the store's cells — the observation scan over rows
    // never runs (PLANS.md dumps the job-log evidence)
    for ((nGroups, maxDriver) <- Seq((5, 256L), (40, 8L))) {
      val rows = (0 until 4000).map(i =>
        (s"g${i % nGroups}", ((i * 37) % 211).toLong))
      val store = java.nio.file.Files
        .createTempDirectory("qstore_auto").toString + "/state"
      Quantiles.buildQuantileStore(rows.toDF("g", "x"), col("g"),
        col("x"), store, cellBits = 4)
      val got = Quantiles.exactQuantilesAutoFromStore(spark, store,
          rows.toDF("g", "x"), col("g"), col("x"), qs,
          maxDriverGroups = maxDriver)
        .collect()
        .map(r => r.getString(0) -> qs.indices.map(i => r.getLong(i + 1)))
        .toMap
      assert(got === brute(rows, qs), s"nGroups=$nGroups")
    }
  }

  test("no sort appears in any selection pass plan") {
    // the operator's promise: counting, never sorting. The per-pass
    // aggregation is issued internally, so assert on the equivalent
    // pass shape — a bucketed count under an interval join
    val keyed = (0 until 100).map(i => ("g", i.toLong)).toDF("g", "x")
    val iv = Seq(("g", 0, 0L, 99L, 25L)).toDF("ig", "qi", "ilo", "ihi", "w")
    val pass = keyed.join(broadcast(iv),
        col("g") === col("ig") &&
          col("x") >= col("ilo") && col("x") <= col("ihi"))
      .groupBy(col("g"), col("qi"),
        ((col("x") - col("ilo")) / col("w")).cast("long").as("b"))
      .agg(count(lit(1)))
    val plan = pass.queryExecution.executedPlan.toString
    assert(!plan.contains("Sort "), s"selection pass must not sort:\n$plan")
  }
}
