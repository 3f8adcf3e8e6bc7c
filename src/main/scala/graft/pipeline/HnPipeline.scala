package graft.pipeline

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.Enrich
import graft.operators.{Checks, Dedup, Marts, Merge, VersionedStaging}

/** The reference pipeline itself, re-expressed Spark-first: RAW
  * (multiLine JSON) → typed staging → keyed merge → daily marts, with
  * an append-only audit log; the check phase rides the merge and mart
  * actions as observed metrics. Mirrors
  * `/root/reference/src/pipeline.py` end-to-end minus the HTTP extract
  * (a driver-side fetch in the reference; out of scope per SURVEY §2.A).
  */
object HnPipeline {

  /** Raw HN item schema-on-read (`hn_transform.py:20-22,67-76`): schema
    * declared, never inferred; optional fields nullable. */
  val rawSchema: StructType = StructType(Seq(
    StructField("id", LongType), StructField("type", StringType),
    StructField("by", StringType), StructField("time", LongType),
    StructField("title", StringType), StructField("url", StringType),
    StructField("score", LongType), StructField("descendants", LongType),
    StructField("kids", ArrayType(LongType)), StructField("text", StringType)))

  val requiredCols = Seq("id", "by", "time", "title", "type")

  /** A6 — latest batch file by lexicographic name (deliberately
    * filename-ordered, not mtime: `/root/reference/src/common/files.py:6-17`). */
  def latestFile(spark: SparkSession, globPattern: String): Option[String] = {
    val fs = graft.operators.StoreFiles.fs(spark, globPattern)
    val matches = Option(fs.globStatus(new Path(globPattern))).getOrElse(Array.empty)
    matches.map(_.getPath.toString).sorted.lastOption
  }

  /** A5 — one-JSON-array-per-file scan (NOT JSONL: the reference writes
    * `json.dump(records)`, `hn_extract.py:62-71`). Read as whole-file
    * text + `from_json` rather than the multiLine JSON source: the
    * latter rejects the entire array when it contains a `null` element,
    * which the reference tolerates and filters (B1,
    * `hn_transform.py:56-58`). Null elements become all-null rows here
    * and are dropped by the transform's id-not-null filter. Whole-file
    * rows cap at ~2 GB — fine for batch files; at cluster scale raw
    * ingest would be JSONL and use the line-based reader. */
  def readRaw(spark: SparkSession, file: String): DataFrame =
    spark.read.option("wholetext", true).text(file)
      .select(explode(from_json(col("value"), ArrayType(rawSchema))).as("item"))
      .select(col("item.*"))

  /** Transform phase (`hn_transform.py:39-118`): validate required
    * columns, default optional ones, cast strictly/leniently, enrich,
    * project the 12-column contract, dedup keep-last. `batchTs` is the
    * filename-derived extraction timestamp (C5). */
  def transform(raw: DataFrame, batchTs: java.sql.Timestamp): DataFrame = {
    val missing = requiredCols.filterNot(raw.columns.contains)
    require(missing.isEmpty, s"missing required columns: $missing") // K5
    val cleaned = raw
      .filter(col("id").isNotNull) // B1 null-record filter
      .withColumn("__ord", monotonically_increasing_id()) // input order for keep-last
    val typed = cleaned.select(
      Enrich.strictLong(col("id")).as("id"), // C1 strict
      col("type"), col("by"),
      Enrich.strictLong(col("time")).as("time"),
      Enrich.epochToTs(col("time")).as("time_utc"), // C4
      col("title"), col("url"),
      Enrich.lenientLong(col("score")).as("score"), // C2 lenient+default
      Enrich.lenientLong(col("descendants")).as("descendants"),
      Enrich.arrayLen(col("kids")).cast("long").as("kids_count"), // C3
      col("text"),
      lit(batchTs).as("extracted_at"), // C5
      col("__ord"))
    val deduped = Dedup.keepLast(typed, Seq("id"), col("__ord")).drop("__ord") // D1
    deduped // B2: projection is the 12-column contract above
  }

  /** Staging merge (load phase, `hn_load.py` + `03_merge.sql`): the
    * shared versioned-staging protocol (newest COMPLETE version as
    * target, keep-newest merge, new version dir — never
    * overwrite-while-reading, SURVEY §7.4). See
    * [[graft.operators.VersionedStaging]]. The staging check
    * (`04_checks.sql`, no duplicate id) and the K5 non-empty guard read
    * what the merged write observed, before the new version is renamed
    * into place: a failing check or an empty batch publishes nothing. */
  def mergeIntoStaging(spark: SparkSession, stagingRoot: String,
                       batch: DataFrame): (String, Merge.MergeResult) =
    VersionedStaging.mergeInto(spark, stagingRoot, batch,
      Seq("id"), "extracted_at",
      guard = c => require(c.batchRows > 0, "empty transform result") // K5
    ).get // no batchId -> never skips

  /** The three marts: each one's name and its key after `metric_date`,
    * as (column name, value); the daily mart has none. */
  private val martKeys: Seq[(String, Option[(String, Column)])] = Seq(
    "daily_story_metrics" -> None,
    "top_domains_daily" -> Some("domain" -> Enrich.domainOf(col("url"))), // C8+C9
    "user_activity_daily" -> Some("author" -> coalesce(col("by"), lit("(unknown)")))) // C7

  /** Mart and check phases (`02_marts.sql` + `03_checks.sql`): one
    * action, one scan of `staging`, one aggregate for all three marts.
    * The shared filtered base is the reference's repeated CTE; each
    * story row is tagged once per mart, `(mart, key)`, and grouped by
    * `(mart, metric_date, key)`. Each mart's PK check rides that
    * aggregate as an observed count (a window on the aggregate's own
    * partitioning: a Sort, no Exchange) and is verified once the
    * aggregate is materialised by `localCheckpoint`, so a duplicate PK
    * fails the run before anything is returned. The three marts are
    * projections of the checkpoint: the caller's overwrite writes
    * (full-refresh semantics) each run one job with no shuffle. */
  def marts(staging: DataFrame): Map[String, DataFrame] = {
    val (checked, pk) = fusedMarts(staging)
    val materialised = checked.localCheckpoint(eager = true)
    pk.verify()
    martKeys.map { case (mart, key) =>
      val cols = key match {
        case Some((k, _)) => Seq(col("key").as(k), col("stories_count"), col("avg_score"))
        case None => Seq(col("stories_count"), col("total_score"), col("avg_score"),
          col("total_comments"), col("avg_comments"))
      }
      mart -> materialised.filter(col("mart") === mart)
        .select(col("metric_date") +: cols :+ col("last_batch_extracted_at"): _*)
    }.toMap
  }

  /** The three marts as one lazy aggregate keyed `(mart, metric_date,
    * key)`, with their PK checks observed on it. */
  private[graft] def fusedMarts(staging: DataFrame): (DataFrame, Checks.UniqueCheck) = {
    val base = staging
      .filter(col("type") === "story" && col("time_utc").isNotNull) // B3
      .select(
        to_date(col("time_utc")).as("metric_date"), // C6
        coalesce(col("score"), lit(0L)).as("score"),
        coalesce(col("descendants"), lit(0L)).as("comments"),
        col("extracted_at"),
        inline(array(martKeys.map { case (mart, key) =>
          struct(lit(mart).as("mart"), key.fold(lit(""))(_._2).as("key"))
        }: _*)))
    val all = base.groupBy("mart", "metric_date", "key").agg(
      count(lit(1)).cast("int").as("stories_count"),
      sum(col("score")).cast("bigint").as("total_score"),
      Marts.avgDec2(col("score")).as("avg_score"), // C10
      sum(col("comments")).cast("bigint").as("total_comments"),
      Marts.avgDec2(col("comments")).as("avg_comments"),
      max(col("extracted_at")).as("last_batch_extracted_at"))
    checkMartKeys(all)
  }

  /** Each mart's PK check (`03_checks.sql`) on the fused aggregate,
    * keyed `(mart, metric_date, key)`. */
  private[graft] def checkMartKeys(all: DataFrame): (DataFrame, Checks.UniqueCheck) =
    Checks.observedUnique(all, Seq("mart", "metric_date", "key"),
      martKeys.map { case (mart, _) => s"duplicate PK in $mart" -> (col("mart") === mart) })

  /** K3 — audit row appended per batch (`01_audit.sql`). */
  def auditRow(spark: SparkSession, auditDir: String, phase: String,
               sourceFile: String, status: String,
               inserted: Long, updated: Long, error: Option[String]): Unit = {
    import spark.implicits._
    Seq((java.util.UUID.randomUUID.toString, phase, sourceFile,
      new java.sql.Timestamp(System.currentTimeMillis()), status,
      inserted, updated, error.map(_.take(4000)).orNull)) // C12-C14
      .toDF("run_id", "phase", "source_file", "finished_at", "status",
        "rows_inserted", "rows_updated", "error_message")
      .write.mode("append").parquet(auditDir)
  }

  /** K1 — full run: latest raw file → transform → merge (+ staging
    * check) → marts (+ PK checks) → audit, three Spark actions. Returns
    * the mart DataFrames for the caller to write. */
  def run(spark: SparkSession, rawGlob: String, stagingRoot: String,
          auditDir: String): Map[String, DataFrame] = {
    val file = latestFile(spark, rawGlob)
      .getOrElse(throw new IllegalStateException(s"no raw files match $rawGlob"))
    val ts = """(\d{8}_\d{6})""".r.findFirstIn(file)
      .map(s => new java.sql.Timestamp(
        new java.text.SimpleDateFormat("yyyyMMdd_HHmmss") { setTimeZone(java.util.TimeZone.getTimeZone("UTC")) }
          .parse(s).getTime))
      .getOrElse(new java.sql.Timestamp(0L))
    try {
      // inside the try: a read/transform-construction failure must
      // still produce the K4 'failed' audit row. The transformed batch
      // is not cached: the merged write is its one consumer, and the
      // merge counts and the K5 guard ride that write.
      val staged = transform(readRaw(spark, file), ts)
      val (newPath, res) = mergeIntoStaging(spark, stagingRoot, staged)
      // read back with the merged schema: no schema-inference job
      val staging = spark.read.schema(res.merged.schema).parquet(newPath)
      val m = marts(staging)
      auditRow(spark, auditDir, "load", file, "success", res.inserted, res.updated, None)
      m
    } catch {
      case e: Throwable =>
        auditRow(spark, auditDir, "load", file, "failed", 0, 0,
          Option(e.getMessage)) // K4: failure leaves prior staging version intact
        throw e
    }
  }
}
