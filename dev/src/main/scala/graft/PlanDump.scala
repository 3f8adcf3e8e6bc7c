package graft

import java.nio.file.{Files, Paths}

/** Dev tool: dump the optimized physical plan of every contract query
  * to PLANS.md — reviewable evidence that filters push down, small
  * sides broadcast, and aggregates are partial (`sbt "dev/runMain
  * graft.PlanDump"`). */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val spark = Sessions.local(8)
    val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val sb = new StringBuilder
    sb.append("# Physical plans (generated by graft.PlanDump at sf0.01)\n\n")
    sb.append("Key properties to check per plan: `PushedFilters` at the scan,\n")
    sb.append("pruned `ReadSchema`, partial `HashAggregate` before `Exchange`,\n")
    sb.append("`BroadcastHashJoin` for small sides, `WholeStageCodegen` spans.\n")
    // The streaming entries read the materialized result of the shared
    // stream pass, so asking for their plan would RUN the pass and
    // dump the post-hoc read of its output — not reviewable evidence.
    // Annotated instead; each stream's design notes sit on its
    // declaration in graft.catalog.StreamGates.
    val streaming = SparkEntry.streams.map(_.entry).toSet
    sb.append(s"\n${SparkEntry.queries.size} declared queries: " +
      s"${SparkEntry.queries.size - streaming.size} batch plans below + " +
      s"${streaming.size} streaming " +
      "entries (annotated, not planned — they execute eagerly).\n")
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      if (streaming(name))
        sb.append(s"\n## $name\n\n(executes eagerly — a stream of the " +
          "shared pass, graft.streaming.StreamPass; see StreamingSpec)\n")
      else
        try {
          val plan = fn(spark, dir).queryExecution.executedPlan.toString
          sb.append(s"\n## $name\n\n```\n${plan.take(4000)}\n```\n")
        } catch {
          case e: Throwable =>
            sb.append(s"\n## $name\n\n(plan unavailable: ${e.getMessage})\n")
        }
    }
    // q101's store-served dispatcher: the claim is the OBSERVATION
    // SCAN over the row source is absent — seeds (n, lo, hi per
    // group) come from the store's cells, so the first job touching
    // the rows is descent pass 1. Evidence: the per-job log of one
    // served call (job descriptions set by the operator) plus the
    // seeds plan, whose only scan is the store path.
    try {
      import org.apache.spark.sql.functions.col
      import graft.operators.Quantiles
      val tmp = Files.createTempDirectory("plandump_q101").toString + "/qstore"
      val rows = spark.range(200000).select(
        (col("id") % 5).cast("string").as("k"),
        (col("id") % 997).as("xl"))
      Quantiles.buildQuantileStore(rows, col("k"), col("xl"), tmp,
        cellBits = 6)
      val jobLog = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          jobLog.add(s"job ${js.jobId}: " +
            Option(js.properties.getProperty("spark.job.description"))
              .orElse(Option(js.properties.getProperty("callSite.short")))
              .getOrElse("?"))
      }
      spark.sparkContext.addSparkListener(listener)
      val served = Quantiles.exactQuantilesAutoFromStore(spark, tmp, rows,
        col("k"), col("xl"),
        Seq(Quantiles.Quantile("p50", 50, 100),
          Quantiles.Quantile("p90", 90, 100)))
      served.collect()
      Thread.sleep(300)
      spark.sparkContext.removeSparkListener(listener)
      sb.append("\n## q101 — store-served dispatcher (exactQuantilesAutoFromStore)\n\n")
      sb.append("Job log of one served call: the seeds job scans ONLY the store\n")
      sb.append("(group-count-sized); the row source is first touched by descent\n")
      sb.append("pass 1 — the scan-served dispatcher's observation job is absent.\n\n")
      sb.append("```\n")
      jobLog.forEach(l => sb.append(l).append("\n"))
      sb.append("```\n")
    } catch {
      case e: Throwable =>
        sb.append(s"\n## q101 — store-served dispatcher\n\n(unavailable: ${e.getMessage})\n")
    }
    // d30/d31/s18's persisted band index: the claim at 100× is that a
    // fold's STORE READ is a pinned file snapshot of ONLY the batch's
    // buckets (driver-decided, absolute — no other directory is even
    // listed) plus a broadcast semi-join on the exact touched keys.
    // The gate's own plan shows only the final label join, so the
    // evidence is the production selection itself: build a store, run
    // the production fold for a single-image batch, and dump the
    // driver-side file inventory + the restricted-index scan's job.
    try {
      import org.apache.spark.sql.functions.col
      import graft.operators.DedupSuite
      val tmp = Files.createTempDirectory("plandump_d30").toString + "/hamstore"
      val mask60 = (1L << 60) - 1
      val hashes = spark.range(4000).select(col("id").as("doc_id"),
        (col("id") * 2654435761L).bitwiseAND(mask60).as("ph"))
      DedupSuite.hammingIndexBuild(hashes, "doc_id", "ph", tmp,
        bands = 4, nBuckets = 16)
      val allDirs = Files.list(Paths.get(tmp)).filter(p =>
        p.getFileName.toString.startsWith("bucket=")).count()
      val oneSim = (4001L * 2654435761L) & mask60
      val oneBuckets = (0 until 4).map(b =>
        b.toLong * 16 + java.lang.Math.floorMod((oneSim >> (b * 15)) & 0x7fffL, 16L))
        .distinct.sorted
      val selected = DedupSuite.hammingStoreFiles(spark, tmp, oneBuckets)
      val allFiles = DedupSuite.hammingStoreFiles(spark, tmp, 0L until 64L)
      val batch = spark.range(1).select(org.apache.spark.sql.functions
        .lit(4001L).as("doc_id"),
        org.apache.spark.sql.functions.lit(oneSim).as("ph"))
      val (_, pairs) = DedupSuite.computeHammingFold(spark, tmp, batch,
        "doc_id", "ph", maxHamming = 3, maxBucket = 1000)
      pairs.collect()
      sb.append("\n## d30/d31/s18 — persisted band-index fold (hammingIndexFold)\n\n")
      sb.append(s"Store: $allDirs bucket dirs, ${allFiles.size} data files. A\n")
      sb.append(s"single-image fold's pinned snapshot listed ONLY the batch's\n")
      sb.append(s"${oneBuckets.size} buckets (${oneBuckets.mkString(", ")}) = " +
        s"${selected.size} files —\n")
      sb.append("driver-decided pruning (no other directory listed), then a\n")
      sb.append("broadcast left_semi on the exact (band, band_hash) keys\n")
      sb.append("restricts within the read buckets; whole-group drops only, so\n")
      sb.append("the hot-bucket cap decides as in the full run.\n\n")
      sb.append("```\n")
      sb.append(selected.map(f =>
        f.substring(f.indexOf("bucket="))).mkString("\n"))
      sb.append("\n```\n")
    } catch {
      case e: Throwable =>
        sb.append(s"\n## d30/d31/s18 — persisted band-index fold\n\n(unavailable: ${e.getMessage})\n")
    }
    // q82's own entry dumps the post-checkpoint result (Scan
    // ExistingRDD — the loop's lineage is truncated by design), so the
    // claim that matters at 100× — ONE shuffle per iteration — needs
    // the LOOP BODY planned separately: same fixture edges, the real
    // pageRankSetup/pageRankStep the production loop runs (GraphSpec
    // asserts the 1-exchange invariant; this is the reviewable dump).
    try {
      import org.apache.spark.sql.functions.col
      val edges0 = Tables.orders(spark, dir)
        .join(Tables.lineitem(spark, dir),
          col("o_orderkey") === col("l_orderkey"))
        .select((col("o_custkey") * 2).as("src"),
          (col("l_suppkey") * 2 + 1).as("dst"))
        .distinct()
      val edges = edges0.unionByName(
        edges0.select(col("dst").as("src"), col("src").as("dst")))
      val (contrib, nodes, ranks0) =
        graft.operators.Graph.pageRankSetup(edges, "src", "dst")
      val step = graft.operators.Graph.pageRankStep(contrib, nodes, ranks0)
      // collect(), not count(): count() plans a NEW wrapper query and
      // leaves this df's own AQE plan unfinalized (isFinalPlan=false)
      step.collect()
      sb.append("\n## q82_pagerank — per-iteration loop body\n\n")
      sb.append("One iteration of Graph.pageRank (pre-localCheckpoint): the only\n")
      sb.append("exchange is the node-keyed contribution sum (partial_sum below it);\n")
      sb.append("the edge side reads the persisted cache, never re-shuffled.\n\n")
      sb.append(s"```\n${step.queryExecution.executedPlan.toString.take(4000)}\n```\n")
      contrib.unpersist(blocking = false)
    } catch {
      case e: Throwable =>
        sb.append(s"\n## q82_pagerank — per-iteration loop body\n\n(plan unavailable: ${e.getMessage})\n")
    }
    // q91's own entry dumps the post-checkpoint ranks (same truncation
    // as q82); the incremental claim — the batch append READS only the
    // affected buckets — needs the pruned-read join planned separately.
    try {
      import org.apache.spark.sql.functions.{col, count, lit}
      val tmp = Files.createTempDirectory("plandump_q91").toString + "/c"
      val edges = spark.range(4000).select(
        (col("id") % 200).as("src"), ((col("id") + 7) % 200).as("dst"))
      graft.operators.Graph.buildContribStore(edges, tmp, "src", "dst", 32)
      val bOutdeg = spark.range(50).select((col("id") % 3).as("src"))
        .groupBy(col("src")).agg(count(lit(1)).as("b_outd"))
      val pruned = graft.operators.Graph.affectedStoreRows(
        spark, tmp, bOutdeg, 32)
      pruned.collect()
      sb.append("\n## q91_incremental_pagerank — batch-append pruned read\n\n")
      sb.append("The append's read of the existing store touches ONLY the buckets\n")
      sb.append("containing a batch source: the bounded affected-bucket set (<=\n")
      sb.append("nBuckets, an operator parameter) is pruned STATICALLY — the scan\n")
      sb.append("carries PartitionFilters: [bucket IN (...)] (3 of 32 directories\n")
      sb.append("here); unaffected buckets are never read, and the write side\n")
      sb.append("rewrites only these partitions (GraphSpec pins the on-disk file\n")
      sb.append("inventory).\n\n")
      sb.append(s"```\n${pruned.queryExecution.executedPlan.toString.take(4000)}\n```\n")
    } catch {
      case e: Throwable =>
        sb.append("\n## q91_incremental_pagerank — batch-append pruned read\n\n" +
          s"(plan unavailable: ${e.getMessage})\n")
    }
    // q92's fold recheck: the same bucketed-store discipline for
    // heavy hitters. At gate scale the MG candidate set (≤ 2k = 128)
    // covers most of 32 buckets, so the gate's own scan barely
    // prunes; this section plans a SELECTIVE candidate set against a
    // 64-bucket store — the production shape (raise nBuckets with
    // the corpus) — showing the directory-level skip.
    try {
      import org.apache.spark.sql.functions.{col, concat, lit}
      val tmp = Files.createTempDirectory("plandump_q92").toString + "/s"
      val corpus = spark.range(30000).select(
        concat(lit("key"), (col("id") % 3000).cast("string")).as("k"))
      graft.operators.HeavyHitters.buildKeyStore(corpus, col("k"), tmp, 64)
      val pruned = graft.operators.HeavyHitters.candidateStoreRows(
        spark, tmp, Seq("key7", "key1234"), 64)
      pruned.collect()
      sb.append("\n## q92_incremental_heavy_hitters — bucketed recheck read\n\n")
      sb.append("The fold's exact recheck reads ONLY the candidate keys'\n")
      sb.append("crc32 buckets of the persisted key store — the candidate set\n")
      sb.append("is ≤ 2k (an operator bound), its buckets are computed\n")
      sb.append("DRIVER-SIDE (crc32 is engine- and driver-reproducible) and\n")
      sb.append("pruned statically: PartitionFilters: [bucket IN (...)], 2 of\n")
      sb.append("64 directories here; the corpus is never rescanned\n")
      sb.append("(HeavyHittersSpec pins the selected-file inventory).\n\n")
      sb.append(s"```\n${pruned.queryExecution.executedPlan.toString.take(4000)}\n```\n")
    } catch {
      case e: Throwable =>
        sb.append("\n## q92_incremental_heavy_hitters — bucketed recheck read\n\n" +
          s"(plan unavailable: ${e.getMessage})\n")
    }
    // d26's fold store read: the q92 discipline applied to the
    // ExactSubstr window-key store. Pruning is driver-decided — the
    // fold reads an EXPLICIT file snapshot of exactly the batch's
    // bucket directories (substrStoreFiles), so no directory outside
    // the bucket set is even listed, and the scan below shows the
    // pinned file-limited location the fold's output plan carries.
    try {
      import org.apache.spark.sql.functions.{col, concat, lit}
      val tmp = Files.createTempDirectory("plandump_d26").toString + "/s"
      val docs = spark.range(5000).select(col("id").as("doc_id"),
        concat(lit("a"), col("id"), lit(" b"), col("id"), lit(" c"), col("id"),
          lit(" d"), col("id"), lit(" e"), col("id"), lit(" f"), col("id"),
          lit(" g"), col("id"), lit(" h"), col("id"), lit(" i"), col("id"))
          .as("text"))
      graft.operators.DedupSuite.exactSubstrBuildStore(
        docs, "doc_id", "text", 8, tmp)
      val files = graft.operators.DedupSuite.substrStoreFiles(
        spark, tmp, Seq(3L, 17L))
      val pruned = spark.read.parquet(files: _*)
      pruned.collect()
      sb.append("\n## d26_incremental_substr — pinned fold store read\n\n")
      sb.append("Each fold joins its batch's window keys against ONLY their\n")
      sb.append("own crc32 buckets of the persisted window-key store, via an\n")
      sb.append("explicit driver-selected file snapshot (2 of 64 directories\n")
      sb.append("here — directories outside the batch's bucket set are never\n")
      sb.append("listed) that also isolates the fold's output plan from its\n")
      sb.append("own delta append; the corpus text is never re-windowed\n")
      sb.append("(DedupSuiteSpec pins the selected-file inventory).\n\n")
      sb.append(s"```\n${pruned.queryExecution.executedPlan.toString.take(4000)}\n```\n")
    } catch {
      case e: Throwable =>
        sb.append("\n## d26_incremental_substr — pinned fold store read\n\n" +
          s"(plan unavailable: ${e.getMessage})\n")
    }
    // q95/q96's returned frames are driver-assembled local results
    // (one row per group — the decide-and-fetch bound), so the plan
    // that matters is the SELECTION PASS the descent repeats: a
    // literal per-group range pre-filter (REACHES THE SCAN — the
    // join's own range predicates reference the broadcast side and
    // never can), a broadcast interval join, then a per-distinct-
    // interval bucketed COUNT — partial-aggregated, no SortExec
    // anywhere, shuffle sized by live intervals × fanout, never by
    // rows. Over parquet the pre-filter shows in PushedFilters, the
    // row-group min/max skip that makes narrow passes (and every q96
    // store-served refinement) read a vanishing data fraction.
    try {
      import org.apache.spark.sql.functions.{broadcast, col, count, expr, lit}
      import spark.implicits._
      val qtmp = Files.createTempDirectory("plandump_q95")
      sys.addShutdownHook(org.apache.hadoop.fs.FileUtil.fullyDelete(qtmp.toFile))
      spark.range(100000).select(
          (col("id") % 7).cast("string").as("g"), col("id").as("x"))
        .write.parquet(s"$qtmp/rows")
      val keyed = spark.read.parquet(s"$qtmp/rows")
      val iv = Seq(("0", 500L, 7000L, 2L), ("1", 2000L, 9000L, 3L))
        .toDF("ig", "ilo", "ihi", "w")
      val livePred = (col("g") === lit("0") &&
          col("x") >= lit(500L) && col("x") <= lit(7000L)) ||
        (col("g") === lit("1") &&
          col("x") >= lit(2000L) && col("x") <= lit(9000L))
      val pass = keyed.filter(livePred).join(broadcast(iv),
          col("g") === col("ig") &&
            col("x") >= col("ilo") && col("x") <= col("ihi"))
        .groupBy(col("g"), col("ilo"), col("ihi"),
          expr("(x - ilo) div w").as("b"))
        .agg(count(lit(1)).as("c"))
      pass.collect()
      sb.append("\n## q95_radix_quantiles / q96 store serve — selection pass\n\n")
      sb.append("One radix-selection pass (the descent repeats this, interval\n")
      sb.append("narrowing xfanout per pass; q96's store-served refinement\n")
      sb.append("STARTS here, its initial intervals one store cell each):\n")
      sb.append("the literal per-group ranges reach the scan (PushedFilters\n")
      sb.append("below — row-group min/max skip), then the broadcast interval\n")
      sb.append("join and a per-distinct-interval bucketed partial COUNT —\n")
      sb.append("no sort, no per-group value buffer.\n\n")
      sb.append(s"```\n${pass.queryExecution.executedPlan.toString.take(5000)}\n```\n")
    } catch {
      case e: Throwable =>
        sb.append("\n## q95_radix_quantiles / q96 store serve — selection pass\n\n" +
          s"(plan unavailable: ${e.getMessage})\n")
    }
    Files.writeString(Paths.get("PLANS.md"), sb.toString)
    println(s"wrote PLANS.md (${sb.length} chars)")
    spark.stop()
  }
}
