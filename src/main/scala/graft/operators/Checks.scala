package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Data-quality checks — SURVEY §2.B B5, §2.F G4-G7, §2.G S1, §2.E J3.
  * These are the reference's `04_checks.sql` / `03_checks.sql` queries
  * as reusable plans.
  */
object Checks {

  /** B5/G7 — duplicate-key detector: `GROUP BY keys HAVING COUNT(*) > 1`
    * (`/root/reference/sql/load/04_checks.sql:5-8`). Map-side partial
    * count collapses the input before the shuffle; output is only the
    * offending keys. */
  def duplicateKeys(df: DataFrame, keys: Seq[String]): DataFrame =
    df.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).cast("bigint").as("n"))
      .filter(col("n") > 1)

  /** An [[observedUnique]] check, readable once the action consuming its
    * frame has returned. */
  final class UniqueCheck private[Checks] (obs: Observation, messages: Seq[String]) {
    /** Per case, the rows whose key occurs more than once. */
    def duplicateRows: Seq[Long] =
      messages.indices.map(i => obs.get(s"dup$i").asInstanceOf[Long])

    /** Throws IllegalArgumentException with the first failing case's
      * message. */
    def verify(): Unit = messages.zip(duplicateRows).foreach { case (m, n) =>
      require(n == 0, s"$m ($n rows share a key)")
    }
  }

  /** B5/G7 riding an action the caller already runs: the returned frame
    * is `df` unchanged, and the action that consumes it observes, per
    * case (failure message, rows it covers), how many rows share their
    * key with another row. [[UniqueCheck.verify]] then fails on any.
    * The count is `count(1) over (partition by keys)`: on a frame
    * already hash-partitioned on `keys` (a window's or an aggregate's
    * output) it adds no Exchange, and on one also sorted on them (a
    * window's output) no Sort either. One Observation per call. */
  def observedUnique(df: DataFrame, keys: Seq[String],
                     cases: Seq[(String, Column)]): (DataFrame, UniqueCheck) = {
    val obs = Observation()
    val n = count(lit(1)).over(Window.partitionBy(keys.map(col): _*))
    val dups = cases.zipWithIndex.map { case ((_, rows), i) =>
      count(when(rows && col("__dup_n") > 1, 1)).as(s"dup$i")
    }
    val checked = df.withColumn("__dup_n", n)
      .observe(obs, dups.head, dups.tail: _*)
      .drop("__dup_n")
    (checked, new UniqueCheck(obs, cases.map(_._1)))
  }

  /** G4/G5/S1 — per-table summary row (name, min, max, count) stacked
    * with UNION ALL (`/root/reference/sql/mart/03_checks.sql:8-15`).
    * Each branch is a full-table scalar aggregate → 1 row; the union is
    * free. */
  def summaryUnion(tables: Seq[(String, DataFrame, String)]): DataFrame =
    tables.map { case (name, df, dateCol) =>
      df.agg(
        min(to_date(col(dateCol))).as("min_date"),
        max(to_date(col(dateCol))).as("max_date"),
        count(lit(1)).cast("bigint").as("n"))
        .select(lit(name).as("tbl"), col("min_date"), col("max_date"), col("n"))
    }.reduce(_ unionByName _)

  /** Order-independent whole-table checksum: sum of portable 32-bit row
    * hashes (md5-based, see TextFunctions.hash32) over a canonical
    * string encoding of the given columns. The anti-entropy primitive
    * for 100 TB replication/migration checks: computable independently
    * by any engine, insensitive to partition order, and a single scalar
    * to compare.
    *
    * Encoding: columns joined with '|' and NULL encoded as a sentinel —
    * a separator-less encoding would let ('1','2X') and ('12','X')
    * collide, and `concat_ws` silently skips NULLs, both of which
    * defeat corruption detection. The DuckDB twin is
    * `COALESCE(CAST(c AS VARCHAR),'(null)') || '|' || ...`. */
  def tableChecksum(df: DataFrame, cols: Seq[String]): DataFrame = {
    val encoded = cols.map(c =>
      coalesce(col(c).cast("string"), lit("(null)")))
    df.select(graft.functions.TextFunctions
        .hash32(concat_ws("|", encoded: _*))
        .as("h"))
      .agg(sum(col("h")).cast("bigint").as("checksum"),
        count(lit(1)).cast("bigint").as("n_rows"))
  }

  /** K5 at scale — declarative schema contract. Validates a frame
    * against an expected schema (names + types; nullability is advisory
    * in parquet so it is checked as a CONSTRAINT on the data, not the
    * metadata) and returns per-rule violation counts. One aggregation
    * pass for all rules — at 100 TB you cannot afford a scan per rule.
    * Empty result = contract holds; the reference's fail-fast guards
    * (`hn_transform.py:62-65,113-114`) become
    * `require(schemaContract(...).isEmpty)`. */
  def schemaContract(df: DataFrame,
                     expected: org.apache.spark.sql.types.StructType,
                     notNull: Seq[String] = Nil): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val actual = df.schema
    val actualByName = actual.fields.map(f => f.name -> f).toMap
    val schemaViolations: Seq[(String, String, Long)] =
      expected.fields.toSeq.flatMap { ef =>
        actualByName.get(ef.name) match {
          case None => Some(("missing_column", ef.name, 1L))
          case Some(af) if af.dataType != ef.dataType =>
            Some(("type_mismatch",
              s"${ef.name}: ${af.dataType.simpleString} != ${ef.dataType.simpleString}", 1L))
          case _ => None
        }
      } ++ actual.fields.toSeq
        .filterNot(f => expected.fieldNames.contains(f.name))
        .map(f => ("unexpected_column", f.name, 1L))
    val nullable = notNull.filter(actualByName.contains)
    val nullViolations: Seq[(String, String, Long)] =
      if (nullable.isEmpty) Nil
      else {
        val counts = df.agg(
          count(lit(1)).as("__n"),
          nullable.map(c => count(col(c)).as(s"__nn_$c")): _*).head()
        val n = counts.getLong(0)
        nullable.zipWithIndex.collect {
          case (c, i) if counts.getLong(i + 1) < n =>
            ("null_constraint", c, n - counts.getLong(i + 1))
        }
      }
    (schemaViolations ++ nullViolations)
      .toDF("rule", "detail", "violations")
  }

  /** J3/G6 — count of rows on the latest day, via scalar-subquery join
    * (`/root/reference/sql/mart/03_checks.sql:18-21`). The 1-row max
    * side auto-broadcasts, so this is a broadcast hash join, never a
    * shuffle. */
  def lastDayCount(df: DataFrame, dateCol: String): DataFrame = {
    val withDate = df.select(to_date(col(dateCol)).as("__d"))
    val lastDay = withDate.agg(max(col("__d")).as("__maxd"))
    withDate.join(broadcast(lastDay), col("__d") === col("__maxd"))
      .agg(count(lit(1)).cast("bigint").as("n"))
  }

  /** In-plan assertion gate: the frame passes through unchanged, but
    * the JOB fails (`assert_true` → SparkRuntimeException) if `cond`
    * is false on any row. This is how sketch accuracy is enforced
    * (q67): an approximate aggregate whose error cannot be recomputed
    * by an external oracle is validated against its exact twin inside
    * the same plan — the e5 recall-gate discipline, generalized. The
    * `filter(isNull)` is a tautology (assert_true returns NULL on
    * success) whose only purpose is forcing the assertion to evaluate
    * before column pruning could drop it. */
  def gated(df: DataFrame, name: String, cond: org.apache.spark.sql.Column,
            detail: org.apache.spark.sql.Column): DataFrame = {
    val g = s"_gate_$name"
    df.withColumn(g,
        assert_true(cond, concat(lit(s"gate '$name' failed: "), detail)))
      .filter(col(g).isNull).drop(g)
  }
}
