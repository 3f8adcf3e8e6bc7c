package graft

import org.apache.spark.sql.SparkSession

/** Shared session configuration so Verify, Bench, and tests run with
  * identical semantics.
  *
  * - UTC session TZ: the reference is UTC end-to-end
  *   (`/root/reference/src/transform/hn_transform.py:35,88`); a non-UTC
  *   TZ silently shifts `to_date`.
  * - `nanosAsLong`: the driver's `events.parquet` carries
  *   TIMESTAMP(NANOS), unsupported by Spark 4 readers; we read it as
  *   long and normalize in [[Tables.events]].
  * - AQE on: runtime coalescing of shuffle partitions + skew-join
  *   handling — the local stand-in for what we'd rely on at cluster
  *   scale.
  * - Fixed per-query costs pinned down: driver-side file listing, and
  *   a generated-code cache that holds a gate pass's working set, so a
  *   repeated query compiles nothing.
  */
object Sessions {
  def tune(b: SparkSession.Builder): SparkSession.Builder = b
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    // TIMESTAMP(MICROS, isAdjustedToUTC=false) parquet columns (the
    // current fixture encoding of events.ts, orders.o_orderdate,
    // lineitem.l_shipdate) arrive as plain TIMESTAMP instead of
    // TIMESTAMP_NTZ. With the session TZ pinned to UTC the values are
    // identical either way, but the dtype matters at scale: reading as
    // TIMESTAMP keeps the column a raw scan column, so time-range
    // predicates push into the parquet reader (row-group min/max
    // pruning — the dominant pruning axis for an events table at
    // 100 TB); reading as NTZ would force a cast-on-top
    // ([[Tables.normalizeNanos]]'s fallback branch) that no predicate
    // can push through.
    .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    .config("spark.sql.adaptive.enabled", "true")
    // File-index listing stays DRIVER-SIDE up to 1024 paths: the
    // bucket-partitioned stores read pinned file snapshots of ≤ 64–128
    // paths per fold, and the default threshold (32) turns every such
    // read's listing into a whole Spark job — pure fixed latency in
    // fold chains that run dozens of store reads. Local listing of a
    // few hundred paths is microseconds on any filesystem this library
    // targets; a deployment with object-store latencies and
    // thousands-of-partition tables should lower it back.
    .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "1024")
    // Spark's cache of compiled generated classes holds 100 by default,
    // and one pass over perfbench's 20 gate_suite entries at sf0.01
    // needs 336-360 classes: at 100 every pass recompiled ~340 of them
    // with Janino, on the critical path of its single-task stages. 512
    // holds that working set (0-10 compiles per pass, ~45% off the
    // pass). Memory cost, measured after a full GC on a 4 GB heap: live
    // heap 173 MB at 354-360 entries against 161-203 MB at 100, with
    // Metaspace and the JIT code cache unmoved. The cache is JVM-wide
    // and sized when Spark first generates code, so this takes effect
    // only if this session is the JVM's first.
    .config("spark.sql.codegen.cache.maxEntries", "512")
    .config("spark.ui.enabled", "false")

  def local(cores: Int = 32): SparkSession = {
    val s = tune(SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      // Single-JVM runs: driver == executor, so the heartbeat can only
      // KILL a healthy run, never rescue one. A 50M-row soak sort
      // under full GC + host load was observed to pause >120s, tripping
      // HeartbeatReceiver into removing the local executor and tearing
      // down live shuffle state mid-stage. Long timeouts are the
      // correct local-mode setting; on a real cluster these would stay
      // at their defaults.
      .config("spark.network.timeout", "800s")
      .config("spark.executor.heartbeatInterval", "60s"))
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
