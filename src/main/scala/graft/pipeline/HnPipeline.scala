package graft.pipeline

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.Enrich
import graft.operators.{Checks, Dedup, Marts, Merge, VersionedStaging}

/** The reference pipeline itself, re-expressed Spark-first: RAW
  * (multiLine JSON) → typed staging → keyed merge → daily marts →
  * checks, with an append-only audit log. Mirrors
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
    val path = new Path(globPattern)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val matches = Option(fs.globStatus(path)).getOrElse(Array.empty)
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
    * [[graft.operators.VersionedStaging]]. The K5 non-empty guard reads
    * the batch row count the merged write observed, before the new
    * version is renamed into place: an empty batch publishes nothing. */
  def mergeIntoStaging(spark: SparkSession, stagingRoot: String,
                       batch: DataFrame): (String, Merge.MergeResult) =
    VersionedStaging.mergeInto(spark, stagingRoot, batch,
      Seq("id"), "extracted_at",
      guard = c => require(c.batchRows > 0, "empty transform result") // K5
    ).get // no batchId -> never skips

  /** Mart phase (`02_marts.sql`): shared filtered base (the reference's
    * repeated CTE), three grouped marts, full-refresh semantics =
    * overwrite write by the caller. The base is not cached: the caller
    * writes the marts after the checks, so its writes rescan staging
    * either way, and a cache measured as a wash that cost one job. */
  def marts(staging: DataFrame): Map[String, DataFrame] = {
    val base = staging
      .filter(col("type") === "story" && col("time_utc").isNotNull) // B3
      .select(
        to_date(col("time_utc")).as("metric_date"), // C6
        Enrich.domainOf(col("url")).as("domain"), // C8+C9
        coalesce(col("by"), lit("(unknown)")).as("author"), // C7
        coalesce(col("score"), lit(0L)).as("score"),
        coalesce(col("descendants"), lit(0L)).as("comments"),
        col("extracted_at"))
    val daily = base.groupBy("metric_date").agg(
      count(lit(1)).cast("int").as("stories_count"),
      sum(col("score")).cast("bigint").as("total_score"),
      Marts.avgDec2(col("score")).as("avg_score"), // C10
      sum(col("comments")).cast("bigint").as("total_comments"),
      Marts.avgDec2(col("comments")).as("avg_comments"),
      max(col("extracted_at")).as("last_batch_extracted_at"))
    def grouped(key: String) = base.groupBy(col("metric_date"), col(key)).agg(
      count(lit(1)).cast("int").as("stories_count"),
      Marts.avgDec2(col("score")).as("avg_score"),
      max(col("extracted_at")).as("last_batch_extracted_at"))
    Map(
      "daily_story_metrics" -> daily,
      "top_domains_daily" -> grouped("domain"),
      "user_activity_daily" -> grouped("author"))
  }

  /** Check phase (`04_checks.sql` + `03_checks.sql` as assertions). */
  def runChecks(staging: DataFrame, marts: Map[String, DataFrame]): Unit = {
    require(Checks.duplicateKeys(staging, Seq("id")).isEmpty,
      "duplicate ids in staging")
    marts.foreach { case (name, m) =>
      val keys = m.columns.toIndexedSeq.takeWhile(c => c == "metric_date" || c == "domain" || c == "author")
      require(Checks.duplicateKeys(m, keys).isEmpty, s"duplicate PK in $name")
    }
  }

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

  /** K1 — full run: latest raw file → transform → merge → marts →
    * checks → audit. Returns mart DataFrames for inspection. */
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
      runChecks(staging, m)
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
