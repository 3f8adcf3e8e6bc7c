package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Minimal `private[sql]` bridge: wrap a Catalyst [[Expression]] in a
  * [[Column]] (and back) without a function-registry round trip.
  *
  * Why it exists: every native kernel under `graft.plans` becomes a
  * Column here, built directly as `column(Kernel(expression(c), …))`
  * with its parameters and any per-call state (the bloom probe's
  * `Broadcast[Array[Long]]` handle) pinned into the expression at build
  * time. Such a Column needs no session, so it resolves on whichever
  * session's DataFrame it is used with. The function registry is for
  * SQL only: [[graft.plans.GraftExtensions]] injects the SQL-facing
  * functions once per session. Spark 4 hides the expression↔column
  * conversion behind `private[sql]` (`classic.ExpressionUtils`); this
  * object is the one sanctioned crossing point, kept deliberately tiny.
  */
object GraftColumnBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Block until the shared async listener bus has delivered every
    * queued event (bounded; swallows the timeout — this is a hygiene
    * barrier, not a correctness gate). `Observation.get` and every
    * observed-metric probe ride this bus, so a measurement window
    * that opens right after a large query flood (the bench warmup's
    * ~600 executions) otherwise bills the backlog's drain time to
    * the first observation-heavy thing it measures — the round-17
    * stream-pass anomaly (seeds uniformly ~2.5× at matched
    * calibration, with the observation-free memory-sink drains flat).
    * No-op on an idle bus. */
  def drainListenerBus(s: SparkSession, timeoutMs: Long = 30000L): Unit =
    try s.sparkContext.listenerBus.waitUntilEmpty(timeoutMs)
    catch { case _: java.util.concurrent.TimeoutException => () }

  /** Re-wrap a materialized Dataset's internal RDD as a fresh
    * `LogicalRDD` with DEFAULT size statistics.
    *
    * Why: `Dataset.localCheckpoint` propagates the checkpointed
    * plan's estimated `sizeInBytes` into the `LogicalRDD` it returns.
    * In an iterative operator whose next iteration joins the
    * checkpoint with a frame derived FROM THE SAME checkpoint (the
    * radix-descent loop: open targets ⋈ counts-over-intervals, both
    * sides rooted at the targets checkpoint), the size estimate of
    * iteration k+1 is a product of two copies of iteration k's — the
    * BigInt's DIGIT COUNT doubles per iteration and
    * `SizeInBytesOnlyStatsPlanVisitor`'s multiplications come to
    * dominate the driver (Toom-Cook territory by ~20 iterations, the
    * classic iterative-Spark stats explosion). Wrapping the same
    * already-materialized RDD in a stats-free `LogicalRDD` resets the
    * estimate to the conf default and keeps estimation bounded. */
  def resetStats(df: Dataset[Row]): DataFrame = {
    val c = df.asInstanceOf[classic.Dataset[Row]]
    c.sparkSession.internalCreateDataFrame(c.queryExecution.toRdd, df.schema)
  }

  /** Re-root a DataFrame's UNANALYZED logical plan onto another
    * session of the SAME SparkContext — the standard plan-transplant
    * (`Dataset.ofRows` is `private[sql]`).
    *
    * Why: the fold/vacuum maintenance paths run dozens of TINY
    * actions (checkpoints, staged writes) whose plans have 1-3
    * exchanges each. Under AQE every exchange materializes as its own
    * job, so a 15-action fold schedules ~40 jobs — pure fixed-latency
    * tax at ingest-batch scale where AQE's runtime re-planning
    * (coalescing, skew splits) has nothing to buy. Transplanting the
    * inputs onto a cloned session with AQE off collapses each action
    * back to one job without touching the caller's session conf (a
    * session-wide conf flip would race the concurrent streaming
    * seeds). */
  def onSession(s: SparkSession, df: Dataset[Row]): DataFrame =
    classic.Dataset.ofRows(s.asInstanceOf[classic.SparkSession],
      df.asInstanceOf[classic.Dataset[Row]].logicalPlan)

  /** Session clone with its own SQLConf (`cloneSession` is
    * `private[sql]` in Spark 4) — the isolation [[onSession]]'s
    * maintenance-path callers need to flip AQE off locally. */
  def cloneSession(s: SparkSession): SparkSession =
    s.asInstanceOf[classic.SparkSession].cloneSession()
}
