package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.catalog.{Catalog, StreamGates}
import graft.operators.Marts
import graft.streaming.{PassStream, StreamPass}

/** Driver contract — see SURVEY.md §7. Every view below is derived once
  * from the gate catalog ([[graft.catalog]]), where each query is
  * declared with its builder and its DuckDB oracle; every key in
  * `queries` is one operator row from SURVEY.md §2 (or a scale
  * extension). */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Marts.dailyMetrics(Tables.events(spark, "/root/testdata/sf0.001"))

  /** The gated queries' builders, by name. */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    Catalog.gates.collect { case g if g.oracle.isDefined => g.name -> g.build }.toMap

  /** The DuckDB-runnable ANSI twin of every gated query, by name. */
  lazy val oracleSql: Map[String, String] =
    Catalog.gates.flatMap(g => Catalog.sql(g).map(g.name -> _)).toMap

  /** Timed by Bench, NOT part of the declared/gated query surface: the
    * gates declared with no oracle. */
  lazy val benchOnlyQueries: Map[String, (SparkSession, String) => DataFrame] =
    Catalog.gates.collect { case g if g.oracle.isEmpty => g.name -> g.build }.toMap

  /** The 18 graded streams of the shared pass ([[StreamPass]]). */
  private[graft] lazy val streams: Seq[PassStream] = StreamGates.streams

  /** Per-phase wall seconds of the last shared stream pass, keyed
    * "dir|phase" (see [[StreamPass.phaseSeconds]]). */
  def streamSharedPassPhases: Map[String, Double] = StreamPass.phaseSeconds

  /** Wall seconds the shared streaming pass took, keyed by sf dir —
    * reported by Bench as stream_shared_pass_sec. */
  def streamSharedPassSeconds: Map[String, Double] = StreamPass.passSeconds
}
