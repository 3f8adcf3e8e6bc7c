package graft

/** Scale-critical physical-plan properties, asserted so a regression
  * (lost pushdown, dropped broadcast, extra shuffle) fails CI instead
  * of silently multiplying cluster cost. */
class PlanShapeSpec extends SparkSpec {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  test("q1: filters reach the parquet scan, aggregation is partial") {
    val p = plan("q1_daily_metrics")
    assert(p.contains("PushedFilters: [IsNotNull"), "filter not pushed to scan")
    assert(p.contains("partial_"), "no map-side partial aggregation")
  }

  test("q85: ts-range predicate reaches the parquet reader as a pushed filter") {
    // Row-group min/max pruning on the timestamp is the dominant
    // pruning axis for a time-ordered 100 TB events table. It only
    // works while the scan column IS a raw TIMESTAMP — Sessions.tune
    // reads MICROS-NTZ parquet as TIMESTAMP (inferTimestampNTZ=false);
    // if that config is lost, normalizeNanos falls back to a cast above
    // the scan and the range predicate silently stops pushing. NOTES_r9
    // verified this ad hoc; this spec pins it (r9 verdict item 2).
    val p = plan("q85_time_slice")
    val scanLine = p.linesIterator.find(_.contains("PushedFilters")).getOrElse(
      fail(s"no FileScan with PushedFilters in plan:\n$p"))
    assert(scanLine.contains("GreaterThanOrEqual(ts"),
      s"ts lower bound not pushed to the scan:\n$scanLine")
    assert(scanLine.contains("LessThan(ts"),
      s"ts upper bound not pushed to the scan:\n$scanLine")
  }

  test("q74: the staged copy's partition filter reaches the scan, which reads only value") {
    // q74 reads its staged copy through Tables.parquet, with a memoized
    // schema: the user-specified schema must keep event_type a
    // partition column, or pruning silently turns into a data filter
    val scanLine = plan("q74_partition_prune").linesIterator
      .find(_.contains("FileScan")).get
    assert(scanLine.contains("PartitionFilters: [event_type") &&
      scanLine.contains("IN (signup,purchase)]"), scanLine)
    assert(scanLine.contains("ReadSchema: struct<value:double>"), scanLine)
  }

  test("q2: column pruning excludes the document text from the scan") {
    val p = plan("q2_domain_daily")
    val scanLine = p.linesIterator.find(_.contains("FileScan")).get
    assert(!scanLine.contains("text"), "scan reads the (unused) text column")
  }

  test("q15: dimension join broadcasts, no shuffle of the fact side for it") {
    val p = plan("q15_join_agg_nation")
    assert(p.contains("BroadcastHashJoin"), "nation join not broadcast")
  }

  test("q16: semi join planned as LeftSemi") {
    assert(plan("q16_semi_join").contains("LeftSemi"))
  }

  test("q39: both window sort orders share one partition exchange") {
    val p = plan("q39_window_suite")
    val exchanges = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    // one for the aggregation, one for the shared window partitioning -
    // a third would mean the two sort orders stopped sharing
    assert(exchanges == 2, s"expected 2 exchanges, got $exchanges:\n$p")
  }

  test("d6: dropped-id set broadcasts into the anti join") {
    val p = plan("d6_embedding_dedup")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
      "near-dup dedup anti join is not broadcast")
  }

  test("q11: order+limit is TakeOrderedAndProject, not a global sort") {
    assert(plan("q11_order_limit").contains("TakeOrderedAndProject"))
  }

  test("q70: token chunking is embarrassingly parallel - zero exchanges") {
    val p = plan("q70_chunk")
    assert(!p.contains("Exchange"),
      s"chunking must stay narrow (scan -> explode -> project):\n$p")
  }

  test("d11: paragraph winner is a partial-aggregable min, no content window") {
    val p = plan("d11_paragraph_dedup")
    // the round-5 form windowed row_number over the paragraph CONTENT -
    // a hot banner (10% of a 100 TB corpus) became one task's sort. The
    // fixed form must keep the winner a map-side-combinable min and
    // leave NO window keyed on content anywhere in the plan
    assert(!p.contains("Window"),
      s"content-keyed window crept back into paragraph dedup:\n$p")
    assert(p.contains("partial_min"),
      s"winner min is not partial-aggregable (map-side combine lost):\n$p")
    val exchanges = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    // one hash exchange for the winner agg on para, one back on doc_id
    // (reconstruction agg). At spec scale the join-back BROADCASTS the
    // winner side (no hash exchange); at corpus scale it becomes a
    // shuffle join AQE can skew-split - either way, never a window
    assert(exchanges <= 3, s"unexpected extra shuffles ($exchanges):\n$p")
  }

  test("q68: packing derives shard count in-plan (broadcast count), windows per shard") {
    val p = plan("q68_pack")
    // the one-row count must join in via broadcast (no driver collect),
    // and the cumulative sum stays a per-shard window
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"derived shard count is not an in-plan broadcast:\n$p")
    assert(p.contains("Window"), s"per-shard cumulative sum window missing:\n$p")
    assert(p.contains("partial_count"),
      s"doc count for shard derivation is not partial-aggregated:\n$p")
  }

  test("q69: both SCD2 window passes share one (user) partition exchange") {
    val p = plan("q69_scd2")
    val exchanges = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(exchanges == 1, s"expected 1 exchange, got $exchanges:\n$p")
  }

  test("d17: APSS plan is all hash joins/aggs - no nested-loop or cartesian anywhere") {
    val df = SparkEntry.queries("d17_apss_cosine")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // the whole point of prefix filtering is that NO stage ever
    // falls back to comparing all pairs directly
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"APSS plan contains an all-pairs operator:\n$p")
    assert(p.contains("partial_"), s"candidate/dot aggregation lost map-side combine:\n$p")
    // the prefix-scan window lives in the flagged-postings frame,
    // which cosinePairs now materializes ONCE (r19: the returned plan
    // reads the checkpoint, so the window is asserted on the frame
    // that actually computes it)
    val docs = Tables.documents(spark, sf)
      .filter(org.apache.spark.sql.functions.col("doc_id") % 3 === 0 &&
        org.apache.spark.sql.functions.col("doc_id") < 2500)
    val fp = graft.operators.Apss.flaggedPostings(docs, "doc_id", "text", 9, 10)
    val fpPlan = fp.queryExecution.executedPlan.toString
    assert(fpPlan.contains("Window"), s"prefix-scan window missing:\n$fpPlan")
  }

  test("q76: heavy-hitter recheck filters by candidate list, no key-space shuffle shape") {
    val df = SparkEntry.queries("q76_heavy_hitters")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // pass 2 must be: scan -> In-filter on the <=2k candidates ->
    // partial agg -> one exchange. A Window or extra exchange means
    // the sketch structure regressed to a ranking/global plan
    assert(p.contains(" IN ") || p.contains("In(") || p.contains("INSET"),
      s"candidate-list filter missing from recheck pass:\n$p")
    assert(!p.contains("Window"), s"unexpected window in recheck:\n$p")
    assert(p.contains("partial_count"),
      s"recheck aggregation lost map-side combine:\n$p")
  }

  test("q77: snapshot-diff payload join-backs broadcast the changed-key set") {
    val df = SparkEntry.queries("q77_snapshot_diff")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // at gate scale AQE must broadcast the classified (changed-key)
    // side, so snapshots are never shuffled for the join-back
    assert(p.contains("BroadcastHashJoin"),
      s"changed-key join-back is not broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian in diff plan:\n$p")
  }

  test("q78: fuzzy-match candidates come from an equi join on segment keys") {
    val df = SparkEntry.queries("q78_fuzzy_match")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // the only nested-loop allowed is the constant 75-row combo
    // fan-out; the candidate join itself must be a hash-keyed join
    assert(!p.contains("CartesianProduct"), s"cartesian in fuzzy plan:\n$p")
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin") ||
      p.contains("ShuffledHashJoin"),
      s"segment-key candidate join is not an equi join:\n$p")
    assert(p.contains("partial_"), s"pair dedup lost map-side combine:\n$p")
  }

  test("q86: DSIR stays a two-scan plan with broadcast weights and top-k project") {
    val p = plan("q86_dsir_select")
    val scans = p.linesIterator.count(l =>
      l.contains("FileScan parquet") && l.contains("documents.parquet"))
    // stats pass + scoring pass; a third scan means the corpus-totals
    // global window regressed to a separate aggregate (r10 fix)
    assert(scans == 2, s"expected 2 corpus scans, got $scans:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"64-row weight table is not broadcast:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-k regressed to a global sort:\n$p")
  }

  test("d20: SemDeDup pair join rides the centroid key - no cartesian") {
    val p = plan("d20_semdedup")
    assert(!p.contains("CartesianProduct"),
      s"within-cluster pair join fell back to a cartesian:\n$p")
    assert(p.contains("WindowGroupLimit"),
      s"member assignment lost the partial group-limit:\n$p")
    assert(p.contains("LeftAnti"), s"survivor anti join missing:\n$p")
  }

  test("e9: PQ encoder aggregates (min_by), never rank-windows the code argmin") {
    val p = plan("e9_pq")
    assert(p.contains("min_by") || p.contains("partial_min_by"),
      s"encoder argmin is not the partial-aggregable min_by:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian in PQ plan:\n$p")
  }

  test("hot scan-and-aggregate paths run inside whole-stage codegen") {
    Seq("q1_daily_metrics", "q15_join_agg_nation", "q41_exact_stats")
      .foreach { q =>
        // AQE shows codegen spans only in the FINAL plan - execute first
        val df = SparkEntry.queries(q)(spark, sf)
        df.collect()
        val p = df.queryExecution.executedPlan.toString
        // "*(n) Operator" is the codegen-stage marker in plan strings
        assert(p.contains("WholeStageCodegen") || p.contains("*("),
          s"$q lost whole-stage codegen:\n$p")
      }
  }
}
