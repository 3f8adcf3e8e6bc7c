package graft.operators

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Keyed upsert (merge) — SURVEY §2.E J1+J2.
  *
  * Reference semantics (`/root/reference/sql/load/03_merge.sql`):
  *   - insert batch rows whose key is absent from the target (J1,
  *     `ON CONFLICT DO NOTHING`);
  *   - update target rows where the batch row is strictly newer
  *     (`s.extracted_at > t.extracted_at`, J2) — equal versions keep the
  *     target row;
  *   - report (inserted, updated) counts (`03_merge.sql:30-32`).
  *
  * Spark-first formulation: `target ∪ batch` tagged by source, then
  * keep-newest-per-key with target-wins tie-break ([[Dedup.keepNewest]]).
  * One union (no shuffle) + one hash-partitioned window — strictly less
  * data movement than the join-then-union alternative, and AQE handles
  * the exchange sizing. The counts come from one of two places:
  *   - [[observedMerged]] computes them in that same window and
  *     observes them on the relation, so the action that consumes it
  *     (the staging write) reports them at no job of its own;
  *   - [[countsPlan]] is a separate single-aggregate plan (batch
  *     left-joined to a two-column projection of target), the q5 gate;
  *     [[merge]] collects it, one job on top of the merged relation's.
  * At cluster scale the target side would be a bucketed table on the
  * key, making its exchange a no-op in every plan.
  */
object Merge {

  final case class MergeResult(merged: DataFrame, inserted: Long, updated: Long)

  /** Counts observed on a merged relation; `batchRows` is the number of
    * canonical (one per key) batch rows, 0 iff the batch was empty. */
  final case class MergeCounts(inserted: Long, updated: Long, batchRows: Long)

  private val SRC = "__src" // 0 = target (wins ties), 1 = batch

  /** Canonicalize a batch that may carry duplicate keys: keep the newest
    * version per key, ties broken by a deterministic whole-row hash.
    * Without this, counts would double-count duplicate-key batch rows
    * and the surviving payload for a (key, version) tie would vary
    * run-to-run. (The reference pre-dedups batches in its transform
    * phase; generic callers — e.g. the streaming merge — may not.) */
  private def canonBatch(batch: DataFrame, keys: Seq[String],
                         versionCol: String): DataFrame =
    Dedup.keepNewest(batch, keys, col(versionCol),
      xxhash64(struct(batch.columns.toIndexedSeq.map(col): _*)))

  private def tagged(target: DataFrame, batch: DataFrame, keys: Seq[String],
                     versionCol: String): DataFrame =
    target.withColumn(SRC, lit(0))
      .unionByName(canonBatch(batch, keys, versionCol).withColumn(SRC, lit(1)))

  /** Merged relation only (no counts) — single lazy plan, no actions. */
  def merged(target: DataFrame, batch: DataFrame, keys: Seq[String],
             versionCol: String): DataFrame =
    Dedup.keepNewest(tagged(target, batch, keys, versionCol), keys,
      col(versionCol), col(SRC)).drop(SRC)

  /** [[merged]] with its counts riding the plan as observed metrics.
    * `min(__src)` over the whole key partition shares the keep-newest
    * window (same partitioning and order, so no extra exchange or sort)
    * and says whether the key had a target row. A winning batch row
    * (`rn = 1`, `__src = 1`) is then an insert without one and an
    * update with one: ties keep the target row, so a batch row wins a
    * target key only when strictly newer. This equals [[countsPlan]]
    * whenever the target's keys are unique and its versions non-null,
    * which holds for every published staging version.
    *
    * Lazy like [[merged]]: the Observation is filled by the one action
    * that consumes the returned relation, and [[countsOf]] may be called
    * only after that action has returned. A new Observation per call
    * (one Observation serves one Dataset). */
  def observedMerged(target: DataFrame, batch: DataFrame, keys: Seq[String],
                     versionCol: String): (DataFrame, Observation) = {
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(versionCol).desc, col(SRC).asc)
    val won = col("__rn") === 1 && col(SRC) === 1
    val obs = Observation()
    val ranked = tagged(target, batch, keys, versionCol)
      .withColumns(Map(
        "__rn" -> row_number().over(w),
        "__tsrc" -> min(col(SRC)).over(
          w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))))
      .observe(obs, // count(), unlike sum(), is 0 (not null) over no rows
        count(when(won && col("__tsrc") === 1, 1)).as("inserted"),
        count(when(won && col("__tsrc") === 0, 1)).as("updated"),
        count(when(col(SRC) === 1, 1)).as("batch_rows"))
    (ranked.filter(col("__rn") === 1).drop("__rn", "__tsrc", SRC), obs)
  }

  /** The counts of an [[observedMerged]] relation, once its consuming
    * action has returned. */
  def countsOf(obs: Observation): MergeCounts = {
    val m = obs.get
    MergeCounts(m("inserted").asInstanceOf[Long], m("updated").asInstanceOf[Long],
      m("batch_rows").asInstanceOf[Long])
  }

  /** Lazy one-row (inserted, updated) counts plan — same semantics as
    * [[merge]] but returned as a DataFrame (for the driver contract). */
  def countsPlan(target: DataFrame, batch: DataFrame, keys: Seq[String],
                 versionCol: String): DataFrame = {
    val t = target.select(keys.map(col) :+ col(versionCol).as("__tv"): _*)
    canonBatch(batch, keys, versionCol).join(t, keys, "left")
      .agg(
        coalesce(sum(when(col("__tv").isNull, 1L).otherwise(0L)), lit(0L))
          .cast("bigint").as("inserted"),
        coalesce(sum(when(col("__tv").isNotNull && col(versionCol) > col("__tv"), 1L)
          .otherwise(0L)), lit(0L)).cast("bigint").as("updated"))
  }

  /** Merge with inserted/updated counts (runs one counting action).
    * `inserted` = batch keys absent from target; `updated` = batch rows
    * strictly newer than the target row for an existing key. */
  def merge(target: DataFrame, batch: DataFrame, keys: Seq[String],
            versionCol: String): MergeResult = {
    val m = merged(target, batch, keys, versionCol)
    val counts = countsPlan(target, batch, keys, versionCol).collect()(0)
    MergeResult(m, counts.getLong(0), counts.getLong(1))
  }
}
