package graft.bench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, GraftColumnBridge, SparkSession}
import org.json4s.DefaultFormats
import org.json4s.jackson.Serialization
import graft.{Sessions, SparkEntry, Tables}
import graft.pipeline.HnPipeline

/** The benchmark's JVM side. `perfbench/run.py` generates the inputs,
  * starts this with `key=value` arguments, and reads back the JSON
  * written to `out=`: raw samples only, all statistics are computed in
  * Python. It calls the engine only through `SparkEntry.queries`,
  * `SparkEntry.benchOnlyQueries`, `SparkEntry.streamSharedPassPhases`
  * and `HnPipeline.run`.
  *
  * Arguments: `workload`, `seed`, `seconds`, `trace` (0|1), `cores`,
  * `launch_ms` (wall clock just before the JVM was started), `out`,
  * `spans`, `dumps` (correctness outputs), and per workload `data` +
  * `entries` + `stream_data` + `stream_entries` (gate_suite) or `raw` +
  * `warm_raw` + `etl` (hn_etl).
  */
object Main {
  /** The minimum number of timed passes over gate_suite's entries in an
    * untraced run: enough samples for at least ten beyond the reported
    * 75th percentile. A traced run makes two, one untraced and one traced. */
  val MinPasses = 3

  final case class Span(id: Int, parent: Int, name: String, start: Long, end: Long)
  private val spans = ArrayBuffer.empty[Span]
  private var openSpan = 0
  private var lastId = 0
  private val epochNs = System.nanoTime()

  /** Times `body`; when tracing, also records it as a span whose parent
    * is the span open around it. */
  def span[A](name: String, traced: Boolean)(body: => A): (A, Double) = {
    val parent = openSpan
    lastId += 1
    val id = lastId
    if (traced) openSpan = id
    val a = System.nanoTime()
    try {
      val r = body
      (r, (System.nanoTime() - a) / 1e9)
    } finally {
      if (traced) {
        spans += Span(id, parent, name, a - epochNs, System.nanoTime() - epochNs)
        openSpan = parent
      }
    }
  }

  def main(argv: Array[String]): Unit = {
    val args = argv.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val workload = args("workload")
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val traced = args("trace") == "1"
    val cores = args("cores").toInt
    val result = scala.collection.mutable.LinkedHashMap.empty[String, Any]
    val loadStart = Probes.loadavg()

    val spark = Sessions.tune(SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    args.get("data").foreach(d => Tables.assertContract(spark, d))

    val ledger = if (traced) Some(new StageLedger) else None
    val run = new Runner(spark, args, seed, seconds, traced, ledger, result)
    val wall0 = System.nanoTime()
    workload match {
      case "gate_suite"    => run.gateSuite()
      case "hn_etl"        => run.hnEtl()
      case other           => throw new IllegalArgumentException(s"unknown workload $other")
    }
    result("timed_wall_s") = (System.nanoTime() - wall0) / 1e9 - run.untimedWall
    result("peak_rss_mb") = Probes.peakRssMb()
    result("host") = Map(
      "loadavg_start" -> loadStart,
      "calib_cpu_s" -> Probes.calibCpu(),
      "calib_job_s" -> Probes.calibJob(spark),
      "calib_mem_s" -> Probes.calibMem(),
      "nproc" -> Runtime.getRuntime.availableProcessors,
      "mem_total_mb" -> Probes.memTotalMb())
    ledger.foreach { l =>
      GraftColumnBridge.drainListenerBus(spark, 120000L)
      result("ledger") = l.snapshot()
    }
    if (traced) Files.writeString(Paths.get(args("spans")), Json.render(spans.map(s =>
      Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "start_ns" -> s.start, "end_ns" -> s.end)).toSeq))
    Files.writeString(Paths.get(args("out")), Json.render(result))
    spark.stop()
  }
}

/** One workload once its session is up: the warm and correctness pass,
  * which ends set-up, then the timed loop. Anything not part of the timed
  * loop is added to `untimedWall`, so `timed_wall_s` covers only the loop. */
final class Runner(spark: SparkSession, args: Map[String, String], seed: Long,
                   seconds: Double, traced: Boolean, ledger: Option[StageLedger],
                   result: scala.collection.mutable.Map[String, Any]) {
  import Main.span
  var untimedWall = 0.0
  private val cpu = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val sc = spark.sparkContext
  private val ops = ArrayBuffer.empty[Map[String, Any]]
  private val units = ArrayBuffer.empty[Map[String, Any]]
  private val errors = ArrayBuffer.empty[String]
  private val all = SparkEntry.queries ++ SparkEntry.benchOnlyQueries

  /** Set-up ends where the timed units could start: from JVM launch,
    * through the session, the input contract and the untimed warm and
    * correctness pass. */
  private def setUpDone(): Unit =
    result("setup_s") = (System.currentTimeMillis() - args("launch_ms").toLong) / 1e3

  private def untimed[A](body: => A): A = {
    val w = System.nanoTime()
    try body finally untimedWall += (System.nanoTime() - w) / 1e9
  }

  /** Runs one traced or untraced unit of the timed loop; the ledger
    * listens only to traced units, which alternate with untraced ones so
    * the trace's own cost can be read off. */
  private def unit(index: Int)(body: Boolean => Unit): Unit = {
    val on = traced && index % 2 == 1
    ledger.filter(_ => on).foreach { l =>
      untimed(GraftColumnBridge.drainListenerBus(spark, 120000L)); sc.addSparkListener(l)
    }
    val c0 = cpu.getProcessCpuTime
    val (_, secs) = span(s"unit$index", on)(body(on))
    units += Map("index" -> index, "traced" -> on, "secs" -> secs,
      "cpu_s" -> (cpu.getProcessCpuTime - c0) / 1e9)
    ledger.filter(_ => on).foreach { l =>
      untimed(GraftColumnBridge.drainListenerBus(spark, 120000L)); sc.removeSparkListener(l)
    }
  }

  private def finish(): Unit = {
    result("oracle_sql") = (args.get("entries") ++ args.get("stream_entries")).toSeq.flatMap(_.split(","))
      .flatMap(n => SparkEntry.oracleSql.get(n).map(n -> _)).toMap ++
      SparkEntry.oracleSql.get("d2_minhash_pairs").map("d2_minhash_pairs" -> _)
    result("ops") = ops.toSeq
    result("units") = units.toSeq
    result("errors") = errors.toSeq
  }

  /** Entry `name` built and fully materialized through the noop sink:
    * `.count()` would let the optimizer prune unread columns. */
  private def timeEntry(name: String, dir: String, unitIdx: Int, on: Boolean): Unit = {
    try {
      var buildS, matS = 0.0
      val (df, total) = span(name, on) {
        sc.setLocalProperty("bench.phase", "build")
        val (df, b) = span("build", on)(all(name)(spark, dir))
        sc.setLocalProperty("bench.phase", "materialize")
        val (_, m) = span("materialize", on)(df.write.format("noop").mode("overwrite").save())
        sc.setLocalProperty("bench.phase", null)
        buildS = b; matS = m
        df
      }
      ops += Map("name" -> name, "unit" -> unitIdx, "traced" -> on, "secs" -> total,
        "build_s" -> buildS, "materialize_s" -> matS,
        "plans" -> (on && untimed(Plans.usesGraftPlans(df))))
    } catch {
      case e: Throwable =>
        sc.setLocalProperty("bench.phase", null)
        errors += s"$name: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
    }
  }

  /** Writes an entry's result for the oracle comparison made after the
    * run, which sorts rows itself. */
  private def dump(name: String, dir: String): Unit =
    try {
      all(name)(spark, dir).coalesce(1)
        .write.mode("overwrite").parquet(s"${args("dumps")}/$name")
    } catch {
      case e: Throwable =>
        errors += s"$name (dump): ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
    }

  private def shuffled(names: Seq[String], pass: Int): Seq[String] =
    new scala.util.Random(seed * 7919 + pass).shuffle(names)

  def gateSuite(): Unit = {
    val names = args("entries").split(",").toSeq
    val dir = args("data")
    // warm-up and correctness in one untimed pass over the timed inputs:
    // every entry's first call pays class loading, code generation and
    // its memoized fixtures there, not in the timed passes
    untimed(shuffled(names, -1).foreach(dump(_, dir)))
    setUpDone()
    if (traced) untimed(streamPass())
    val start = System.nanoTime()
    var pass = 0
    def more = if (traced) pass < 2
      else pass < Main.MinPasses || (System.nanoTime() - start) / 1e9 < seconds
    while (more) {
      unit(pass)(on => shuffled(names, pass).foreach(timeEntry(_, dir, pass, on)))
      pass += 1
    }
    finish()
  }

  /** The 18-stream shared pass of the s-entries (cold: no warm stream
    * pass comes before it), then a noop read of each s-entry and a dump of
    * each for the oracle check. It runs in a traced gate_suite run between
    * the warm pass and the timed passes, with a ledger of its own that
    * keeps it out of the per-pass figures. A pass
    * that throws is an error, and its s-entries then fail their checks
    * for want of a dump. */
  private def streamPass(): Unit = {
    val names = args("stream_entries").split(",").toSeq
    val dir = args("stream_data")
    val l = new StageLedger
    GraftColumnBridge.drainListenerBus(spark, 120000L)
    sc.addSparkListener(l)
    try {
      val (_, passSecs) = span("stream_pass", true)(all(names.head)(spark, dir))
      val reads = names.map { n =>
        span(n, true)(all(n)(spark, dir).write.format("noop").mode("overwrite").save())._2
      }
      GraftColumnBridge.drainListenerBus(spark, 120000L)
      result("stream") = Map("pass_s" -> passSecs, "read_s" -> reads,
        "phases" -> SparkEntry.streamSharedPassPhases.collect {
          case (k, v) if k.startsWith(s"$dir|") => k.stripPrefix(s"$dir|") -> v
        },
        "ledger" -> l.snapshot())
      sc.removeSparkListener(l)
      names.foreach(dump(_, dir))
    } catch {
      case e: Throwable =>
        sc.removeSparkListener(l)
        errors += s"stream pass: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
    }
  }

  def hnEtl(): Unit = {
    val etl = args("etl")
    def runBatches(root: String, files: Seq[String], timed: Boolean, on: Boolean,
                   unitIdx: Int = 0): Unit =
      files.zipWithIndex.foreach { case (f, i) =>
        val before = Du.bytes(Paths.get(root)) - Du.bytes(Paths.get(s"$root/marts"))
        try {
          val (marts, runSecs) = span("pipeline.run", on) {
            sc.setLocalProperty("bench.phase", "run")
            HnPipeline.run(spark, f, s"$root/staging", s"$root/audit")
          }
          val (_, writeSecs) = span("mart_write", on) {
            sc.setLocalProperty("bench.phase", "mart_write")
            marts.foreach { case (name, df) =>
              df.write.mode("overwrite").parquet(s"$root/marts/$name")
            }
          }
          sc.setLocalProperty("bench.phase", null)
          if (timed) ops += Map("name" -> s"batch$i", "unit" -> unitIdx, "traced" -> on,
            "secs" -> (runSecs + writeSecs), "run_s" -> runSecs, "mart_write_s" -> writeSecs,
            "raw_bytes" -> Files.size(Paths.get(f)),
            "written_bytes" -> (Du.bytes(Paths.get(root)) - before))
        } catch {
          case e: Throwable =>
            sc.setLocalProperty("bench.phase", null)
            errors += s"batch$i ($f): ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
        }
      }
    untimed(runBatches(s"$etl/warm", args("warm_raw").split(",").toSeq, timed = false, on = false))
    val files = args("raw").split(",").toSeq
    setUpDone()
    // traced runs time the schedule twice, untraced then traced, on
    // separate roots: the ratio of the two is the trace's own cost
    val last = if (traced) 1 else 0
    for (u <- 0 to last)
      unit(u)(on => runBatches(s"$etl/timed$u", files, timed = true, on, u))
    untimed {
      val root = Paths.get(s"$etl/timed$last")
      val versions = Files.list(root.resolve("staging")).iterator.asScala
        .filter(_.getFileName.toString.matches("v\\d+")).toSeq.sortBy(_.toString)
      val newest = versions.last
      val audit = spark.read.parquet(s"$root/audit")
        .selectExpr("sum(rows_inserted)", "sum(rows_updated)").head()
      result("pipeline") = Map(
        "newest_version" -> newest.toString,
        "staging_versions" -> versions.size,
        "staging_rows" -> spark.read.parquet(newest.toString).count(),
        "newest_version_bytes" -> Du.bytes(newest),
        "root_bytes" -> Du.bytes(root),
        "inserted" -> audit.getLong(0), "updated" -> audit.getLong(1))
    }
    finish()
  }
}

object Plans {
  /** True when the entry's optimized plan holds an expression from the
    * engine's own `graft.plans` kernels. */
  def usesGraftPlans(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.exists(_.expressions.exists(
      _.exists(_.getClass.getName.startsWith("graft.plans."))))
}

object Du {
  def bytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val w = Files.walk(p)
      try w.iterator.asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally w.close()
    }
}

object Probes {
  def loadavg(): Double =
    Files.readString(Paths.get("/proc/loadavg")).split(" ").head.toDouble

  private def statusKb(path: String, key: String): Double =
    Files.readAllLines(Paths.get(path)).asScala.find(_.startsWith(key))
      .map(_.split("\\s+")(1).toDouble).getOrElse(0.0)

  def peakRssMb(): Double = statusKb("/proc/self/status", "VmHWM:") / 1024
  def memTotalMb(): Double = statusKb("/proc/meminfo", "MemTotal:") / 1024

  /** Single-thread arithmetic loop, min of 3: host CPU speed. */
  def calibCpu(): Double = (1 to 3).map { _ =>
    val a = System.nanoTime()
    var x = 0x9e3779b97f4a7c15L; var i = 0; var acc = 0L
    while (i < 50000000) {
      x ^= x >>> 12; x ^= x << 25; x ^= x >>> 27
      acc += x * 0x2545f4914f6cdd1dL; i += 1
    }
    if (acc == 42L) System.err.println("calib sentinel")
    (System.nanoTime() - a) / 1e9
  }.min

  /** Median wall time of a trivial Spark job: fixed per-job latency. */
  def calibJob(s: SparkSession): Double = {
    val t = (1 to 11).map { _ =>
      val a = System.nanoTime(); s.range(1).count(); (System.nanoTime() - a) / 1e9
    }.sorted
    t(t.size / 2)
  }

  /** Xor-fold of a 64 MiB buffer, min of 3: memory bandwidth. */
  def calibMem(): Double = {
    val buf = Array.tabulate(8 * 1024 * 1024)(i => i * 0x9e3779b97f4a7c15L)
    (1 to 3).map { _ =>
      val a = System.nanoTime()
      var acc = 0L; var j = 0
      while (j < buf.length) { acc ^= buf(j); j += 1 }
      if (acc == 42L) System.err.println("mem calib sentinel")
      (System.nanoTime() - a) / 1e9
    }.min
  }
}

object Json {
  def render(v: AnyRef): String = Serialization.write(v)(DefaultFormats)
}
