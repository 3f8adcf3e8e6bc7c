package graft
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // dev-only subset filter (comma-separated names); full suite when unset
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    // bench-only entries (no oracle possible) are timed alongside the
    // gated queries but never declared to the correctness gate
    val all = SparkEntry.queries ++ SparkEntry.benchOnlyQueries
    def selected = only match {
      case Some(names) => all.filter(q => names(q._1))
      case None        => all
    }
    def readLoadavg(): String = try {
      java.nio.file.Files.readString(java.nio.file.Paths.get("/proc/loadavg"))
        .split(" ").take(3).mkString(",")
    } catch { case _: Throwable => "" }
    // captured BEFORE the session spins up: the only in-JVM loadavg
    // sample that reflects background host state rather than the bench
    // itself. Still biased: sbt's own compile/JVM startup burst runs
    // first and keeps the 1-min average above the idle threshold on
    // most attempts (r7 notes) — so a LAUNCHER-side sample, taken
    // before any JVM spins up and stamped through the env
    // (tools/bench_idle.sh), takes precedence for the idle gate when
    // present.
    val loadavgStart = readLoadavg()
    val loadavgLauncher =
      sys.env.getOrElse("SPARK_GRAFT_LOADAVG_LAUNCHER", "")
    val spark = Sessions.tune(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Fixture drift guard (round-8 postmortem): one readable failure up
    // front beats 63 retried AnalysisExceptions spread over the run.
    Tables.assertContract(spark, sfDir)
    // Warm-up pass: first use of some expression classes (e.g. Spark 4's
    // collation-aware string functions) pays a multi-second one-time JVM
    // init that would otherwise be billed to an arbitrary query.
    val smallest = "/root/testdata/sf0.001"
    val warmDir = if (new java.io.File(smallest).isDirectory) smallest else sfDir
    selected.foreach { case (_, fn) =>
      try fn(spark, warmDir).count() catch { case _: Throwable => () }
    }
    // Host-speed calibration probe: a fixed single-thread arithmetic
    // loop (xorshift64*, 2e8 steps, min of 3) timed in the same JVM.
    // Round-over-round query-time comparisons on this shared host have
    // repeatedly shown uniform ~2x swings with identical plans and
    // near-zero loadavg (rounds 5-9) — consistent with co-tenant CPU
    // contention/steal that loadavg cannot see. A deterministic probe
    // turns "probably host drift" into arithmetic: if calib_sec moved
    // by the same factor as the query total, the host moved, not the
    // plans. Runs BEFORE and AFTER the query loop (a single post-run
    // sample measures post-run host speed, not speed during the run);
    // both are reported, min is the headline. Cost: ~1-2 s per probe
    // (3 x 2e8 steps), outside the query totals either way.
    def calibrate(): Double = {
      def once(): Double = {
        val t0 = System.nanoTime()
        var x = 0x9e3779b97f4a7c15L; var i = 0; var acc = 0L
        while (i < 200000000) {
          x ^= x >>> 12; x ^= x << 25; x ^= x >>> 27
          acc += x * 0x2545f4914f6cdd1dL; i += 1
        }
        // fold acc into the timing decision so the loop cannot be
        // dead-code-eliminated by the JIT
        if (acc == 42L) System.err.println("calib sentinel")
        (System.nanoTime() - t0) / 1e9
      }
      (1 to 3).map(_ => once()).min
    }
    // Two more deterministic probes, because the CPU loop alone cannot
    // attribute two drift modes the round-15 analysis hit:
    //  - calib_job_sec: median wall time of a trivial Spark job
    //    (spark.range(1).count) over 20 reps — the per-job FIXED
    //    LATENCY that dominates maintenance-heavy gates (c5, q100,
    //    ingest folds run dozens of tiny jobs; their variance tracks
    //    this number, not CPU speed).
    //  - calib_mem_sec: xor-fold a 256 MiB heap buffer (min of 3) —
    //    memory-bandwidth drift, which co-tenant pressure moves
    //    independently of the arithmetic loop (round-15 runs showed
    //    broad ~0.7-0.8x moves on UNTOUCHED queries that the CPU
    //    calib could not explain).
    // Both are reported per run; round-over-round comparisons can then
    // normalize fixed-latency-bound and scan-bound queries separately
    // instead of hand-waving "ambient drift".
    def calibrateJob(): Double = {
      val times = (1 to 20).map { _ =>
        val t0 = System.nanoTime()
        spark.range(1).count()
        (System.nanoTime() - t0) / 1e9
      }.sorted
      times(times.length / 2)
    }
    def calibrateMem(): Double = {
      val buf = new Array[Long](32 * 1024 * 1024) // 256 MiB
      var i = 0
      while (i < buf.length) { buf(i) = i * 0x9e3779b97f4a7c15L; i += 1 }
      def once(): Double = {
        val t0 = System.nanoTime()
        var acc = 0L; var j = 0
        while (j < buf.length) { acc ^= buf(j); j += 1 }
        if (acc == 42L) System.err.println("mem calib sentinel")
        (System.nanoTime() - t0) / 1e9
      }
      (1 to 3).map(_ => once()).min
    }
    val calibPre = calibrate()
    // best-of-3: single-shot timings at this scale carry ±20% scheduler/
    // GC noise and the host shows sustained background load; min-of-n
    // is the standard steady-state report and three samples cut the
    // observed run-to-run total variance roughly in half.
    // A query that throws is reported in "failed", NOT timed — folding
    // the exception path's elapsed time into the total made a broken
    // query look like a fast one (round-1 ADVICE.md).
    // Janino compiles across the timed attempts, read off Spark's own
    // codegen counter (no job): on a warm JVM whose codegen cache holds
    // the suite's working set (Sessions.tune) this stays near 0, and a
    // rise means the timed numbers carry compile time again.
    val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val timings = selected.map { case (name, fn) =>
      val attempts = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        val ok = try { fn(spark, sfDir).count(); true }
          catch { case _: Throwable => false }
        (ok, (System.nanoTime() - t0) / 1e9)
      }
      val good = attempts.filter(_._1).map(_._2)
      name -> (if (good.nonEmpty) Some(good.min) else None)
    }
    val codegenCompiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0
    val ok = timings.collect { case (k, Some(v)) => k -> v }
    val failed = timings.collect { case (k, None) => k }.toSeq.sorted
    val qs = ok.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = if (ok.nonEmpty) ok.values.sum else 0.0
    // Subset runs (SPARK_GRAFT_ONLY) are marked in the JSON AND written
    // to a different file: a dev-subset total silently clobbered the
    // committed full-suite BENCH.json in round 3 (ADVICE.md).
    val subsetField = only.map(n => s""","subset":"${n.toSeq.sorted.mkString(",")}"""").getOrElse("")
    // Host-load evidence: round 5's driver bench ran 1.24x slower than
    // round 4 on identical plans; a same-code A/B on an idle host
    // (round 6) measured 0.84x, attributing the drift entirely to
    // background load. Recording 1/5/15-min loadavg with every run
    // makes that attribution data, not archaeology.
    val loadavg = readLoadavg()
    val calibPost = calibrate()
    // warm-JVM samples, bracketing the same window as calibPost
    val calibJob = calibrateJob()
    val calibMem = calibrateMem()
    // Headline calib: the faster of the pre/post probes — the best
    // estimate of unloaded host speed bracketing the run. value_norm
    // (total / calib_sec) is the round-over-round comparison number:
    // host-speed-free, so a 2x bar on it needs no prose attribution
    // (BASELINE.md states the bar in these units).
    val calibSec = math.min(calibPre, calibPost)
    val valueNorm = if (calibSec > 0) total / calibSec else 0.0
    // The streaming entries share one concurrent stream pass per
    // (JVM, sf dir) and read its materialized results (see
    // SparkEntry.runStreamPass); min-of-3 strips the pass cost from
    // the per-query numbers, so report the one-time cost explicitly
    // instead of letting it hide in whichever entry ran first.
    val streamPass = SparkEntry.streamSharedPassSeconds.getOrElse(sfDir, 0.0)
    // per-phase profile of the shared pass (seed/start/drain/
    // materialize) — keeps the pass's fixed overhead attributable
    // instead of drifting unmeasured (r11 watch item)
    val streamPhases = SparkEntry.streamSharedPassPhases.toSeq
      .collect { case (k, v) if k.startsWith(s"$sfDir|") =>
        s""""${k.substring(sfDir.length + 1)}":${"%.3f".format(v)}""" }
      .sorted.mkString("{", ",", "}")
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec","value_norm":$valueNorm,"queries":$qs,"failed":$failedJson,"codegen_compiles":$codegenCompiles,"sf":"$sfDir","stream_shared_pass_sec":$streamPass,"stream_pass_phases":$streamPhases,"calib_sec":$calibSec,"calib_pre_sec":$calibPre,"calib_post_sec":$calibPost,"calib_job_sec":$calibJob,"calib_mem_sec":$calibMem,"loadavg":"$loadavg","loadavg_start":"$loadavgStart","loadavg_launcher":"$loadavgLauncher"$subsetField}"""
    // Short summary line with NO per-query map, printed LAST (r16
    // verdict cosmetic note): a driver that tails the output and
    // truncates the long line still captures the totals + probes.
    val summary =
      s"""{"metric":"total_summary","value":$total,"unit":"sec","value_norm":$valueNorm,"n_queries":${ok.size},"n_failed":${failed.size},"codegen_compiles":$codegenCompiles,"sf":"$sfDir","stream_shared_pass_sec":$streamPass,"calib_sec":$calibSec,"calib_job_sec":$calibJob,"calib_mem_sec":$calibMem,"loadavg":"$loadavg","loadavg_start":"$loadavgStart","loadavg_launcher":"$loadavgLauncher"$subsetField}"""
    // stdout goes through sbt's "[info] " prefix, which broke the
    // driver's JSON extraction in round 1 — also land the raw lines in
    // a well-known file (full line first, summary LAST in both).
    println(line)
    println(summary)
    val outFile = if (only.isDefined) "BENCH_subset.json" else "BENCH.json"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outFile),
      line + "\n" + summary + "\n")
    // Idle-host artifact (r6 verdict item 6): a full-suite run that
    // STARTED on a quiet host (1-min loadavg < 0.2 before anything
    // spun up) lands as BENCH_idle.json — the committed idle-to-idle
    // round-over-round baseline. The launcher-side sample wins when
    // present (r7 verdict item 5 — the in-JVM sample is polluted by
    // sbt's own startup burst); the run itself obviously loads the
    // host.
    //
    // PROMOTION IS PROBE-GATED (r18 verdict item 5): a launcher-idle
    // start does not make an anchor — this host's co-tenant bursts
    // arrive MID-RUN (multi-minute, invisible to the start sample),
    // and r18's committed BENCH_idle.json ended up holding a
    // probe-REJECTED run (calib_job 0.0965) while the real anchor
    // lived only in git history. Acceptance now requires the same
    // probes the reading discipline checks by hand: warm per-job
    // latency calib_job ≤ 0.08 s (every accepted anchor of r16–r18
    // sat below this; every rejected window above it) AND the END
    // 1-min loadavg ≤ 2.0 (catches a burst still running at the
    // finish line). Rejected candidates land in /tmp — never in the
    // tree — with the reason recorded, so an idle-hunt loop can
    // retry on the evidence.
    val idleSample =
      if (loadavgLauncher.nonEmpty) loadavgLauncher else loadavgStart
    val idleAtStart = idleSample.split(",").headOption
      .flatMap(_.toDoubleOption).exists(_ < 0.2)
    if (only.isEmpty && idleAtStart) {
      val endLoad1 = loadavg.split(",").headOption
        .flatMap(_.toDoubleOption).getOrElse(Double.MaxValue)
      val rejectReasons = Seq(
        if (calibJob > 0.08) Some(f"calib_job_sec $calibJob%.4f > 0.08") else None,
        if (endLoad1 > 2.0) Some(f"end 1-min loadavg $endLoad1%.2f > 2.0") else None
      ).flatten
      // Among ACCEPTED runs, the anchor keeps the cleanest probe: a
      // later accepted run only replaces the committed anchor when its
      // calib_job is at least as good (the anchor is the round's best
      // measurement window, not its most recent). A new round resets
      // by deleting the file first (or SPARK_GRAFT_IDLE_FORCE=1).
      val existingCj: Option[Double] =
        try {
          val p = java.nio.file.Paths.get("BENCH_idle.json")
          if (java.nio.file.Files.exists(p))
            "\"calib_job_sec\":([0-9.]+)".r
              .findFirstMatchIn(java.nio.file.Files.readString(p))
              .map(_.group(1).toDouble)
          else None
        } catch { case _: Throwable => None }
      val supersedes = sys.env.contains("SPARK_GRAFT_IDLE_FORCE") ||
        existingCj.forall(calibJob <= _)
      if (rejectReasons.isEmpty && supersedes)
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get("BENCH_idle.json"),
          line + "\n" + summary + "\n")
      else if (rejectReasons.isEmpty) {
        System.err.println(
          f"idle anchor accepted but NOT promoted: calib_job $calibJob%.4f " +
            f"worse than the committed anchor's ${existingCj.getOrElse(0.0)}%.4f")
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get("/tmp/BENCH_idle.accepted_worse.json"),
          line + "\n" + summary + "\n")
      } else {
        val why = rejectReasons.mkString("; ")
        System.err.println(s"idle anchor REJECTED ($why) — written to /tmp")
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get("/tmp/BENCH_idle.rejected.json"),
          s"""{"idle_reject_reason":"$why"}""" + "\n" + line + "\n" +
            summary + "\n")
      }
    }
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }
}
