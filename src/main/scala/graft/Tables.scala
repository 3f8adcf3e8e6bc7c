package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr}
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType, TimestampType}

/** Loaders for the driver-provided parquet tables (see TESTDATA.md).
  *
  * All queries take a scale-factor directory and read single parquet
  * files. At cluster scale these would be partitioned table roots; the
  * API is identical (`spark.read.parquet(root)`), and every downstream
  * operator is written so filters/projections push into the scan.
  *
  * Every read goes through [[parquet]], which infers a table's schema
  * once per session and file version: a schema-less read starts one
  * Spark job to infer it, and a gate pass reads the same tables dozens
  * of times.
  */
object Tables {
  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    parquet(spark, s"$sfDir/$name.parquet")

  /** `spark.read.parquet(path)`, with the schema Spark infers for it
    * memoized per session and per version of the files under `path`.
    *
    * - The first read of a version is Spark's own inference (one job);
    *   later reads pass its result to `.schema(...)` and start none.
    * - A version is the (path, length, mtime) of every leaf file under
    *   `path`: a rewrite at the same path is a new version. That is one
    *   more listing per read, beside the file index's own: nothing on
    *   a fixture, but a wide table root would want a table version.
    * - Entries belong to one session, held weakly: the session's conf
    *   decides the inferred types (`nanosAsLong`, `inferTimestampNTZ`),
    *   so the key also carries its parquet settings.
    * - Inference is Spark's default, without `mergeSchema`: a read that
    *   must merge differing file schemas (q84's) reads directly. */
  def parquet(spark: SparkSession, path: String): DataFrame = {
    val version = Version(parquetConf(spark), leafFiles(spark, path))
    val memo = schemas.synchronized(schemas.computeIfAbsent(spark,
      _ => new java.util.concurrent.ConcurrentHashMap[String, (Version, StructType)]()))
    val schema = Option(memo.get(path)).collect { case (`version`, s) => s }
      .getOrElse {
        val inferred = spark.read.parquet(path).schema
        memo.put(path, (version, inferred))
        inferred
      }
    spark.read.schema(schema).parquet(path)
  }

  private final case class Version(conf: Map[String, String], files: Seq[(String, Long, Long)])

  private val schemas = new java.util.WeakHashMap[SparkSession,
    java.util.concurrent.ConcurrentHashMap[String, (Version, StructType)]]()

  private def parquetConf(spark: SparkSession): Map[String, String] =
    spark.conf.getAll.filter { case (k, _) =>
      k.startsWith("spark.sql.parquet.") || k.startsWith("spark.sql.legacy.parquet.")
    }

  private def leafFiles(spark: SparkSession, path: String): Seq[(String, Long, Long)] = {
    val p = new Path(path)
    val files = p.getFileSystem(spark.sparkContext.hadoopConfiguration).listFiles(p, true)
    Iterator.continually(files).takeWhile(_.hasNext).map(_.next())
      .map(f => (f.getPath.toString, f.getLen, f.getModificationTime)).toSeq.sorted
  }

  def lineitem(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "region")
  /** `events.ts` has shipped in two parquet encodings across fixture
    * generations: TIMESTAMP(NANOS) — unreadable by Spark 4 natively, so
    * sessions set `spark.sql.legacy.parquet.nanosAsLong=true` (see
    * [[Sessions.tune]]) and it arrives as long nanos — and
    * TIMESTAMP(MICROS, isAdjustedToUTC=false), which arrives as
    * TIMESTAMP_NTZ. [[normalizeNanos]] dispatches on the actual dtype so
    * either generation yields the same UTC microsecond timestamp. */
  def events(spark: SparkSession, dir: String): DataFrame =
    normalizeNanos(load(spark, dir, "events"))

  /** Shared `ts` normalization to a session-TZ (UTC) microsecond
    * timestamp; batch loads AND streaming sources must agree
    * bit-for-bit with each other and with the DuckDB oracle's
    * `CAST(ts AS TIMESTAMP)`.
    *
    * - long nanos (legacy NANOS file + `nanosAsLong`): integer `div`
    *   1000 (a double division would lose precision above 2^53 ns ≈
    *   1970+104 days), exactly DuckDB's ns→us truncation.
    * - TIMESTAMP_NTZ (MICROS file): cast to `timestamp`; the session TZ
    *   is pinned to UTC so the wall-clock micros are preserved verbatim.
    * - TIMESTAMP: already normalized.
    *
    * Any other dtype fails loudly here (one readable error) instead of
    * as dozens of downstream AnalysisExceptions. */
  def normalizeNanos(df: DataFrame): DataFrame = df.schema("ts").dataType match {
    case LongType =>
      df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
    case TimestampNTZType =>
      df.withColumn("ts", col("ts").cast(TimestampType))
    case TimestampType => df
    case other => throw new IllegalStateException(
      s"events.ts arrived as $other; expected long nanos, timestamp_ntz, " +
        "or timestamp - did the fixture generator change encoding again?")
  }
  def documents(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "embeddings")

  /** Fixture drift guard: assert every driver table's Spark-visible
    * schema BEFORE a gate run consumes it, so an upstream fixture
    * regeneration produces ONE failure naming the drifted column
    * instead of dozens of opaque downstream AnalysisExceptions (the
    * round-8 failure mode: `events.ts` silently flipped NANOS→MICROS
    * and 63 queries died at analysis time).
    *
    * Encoding variation the loaders already normalize is accepted —
    * temporal columns may arrive as long nanos, TIMESTAMP, TIMESTAMP_NTZ
    * or DATE; integer keys as int or long. Anything else throws with
    * `table.column: got <dtype>`.
    *
    * ADDITIVE columns only WARN (stderr): a column this contract does
    * not know about breaks nothing — every consumer selects its columns
    * explicitly — and additive append is the one schema-evolution shape
    * a long-lived corpus is guaranteed to hit (q84's whole premise).
    * Hard failure is reserved for missing or mistyped contract columns,
    * which DO cascade into downstream AnalysisExceptions.
    * Cost: one schema-inference job per table whose version the
    * session has not read yet, so 10 on a fresh session and 0 once the
    * gates have loaded the same files ([[parquet]]). */
  def assertContract(spark: SparkSession, dir: String): Unit = {
    import org.apache.spark.sql.types._
    val intLike: DataType => Boolean =
      { case IntegerType | LongType => true; case _ => false }
    val tsLike: DataType => Boolean =
      { case LongType | TimestampType | TimestampNTZType | DateType => true; case _ => false }
    val str: DataType => Boolean = _ == StringType
    val dbl: DataType => Boolean = _ == DoubleType
    val floatVec: DataType => Boolean =
      { case ArrayType(FloatType, _) => true; case _ => false }
    val contract: Seq[(String, Seq[(String, DataType => Boolean)])] = Seq(
      "region" -> Seq("r_regionkey" -> intLike, "r_name" -> str),
      "nation" -> Seq("n_nationkey" -> intLike, "n_name" -> str,
        "n_regionkey" -> intLike),
      "customer" -> Seq("c_custkey" -> intLike, "c_name" -> str,
        "c_nationkey" -> intLike, "c_acctbal" -> dbl, "c_mktsegment" -> str),
      "supplier" -> Seq("s_suppkey" -> intLike, "s_name" -> str,
        "s_nationkey" -> intLike, "s_acctbal" -> dbl),
      "part" -> Seq("p_partkey" -> intLike, "p_name" -> str, "p_brand" -> str,
        "p_type" -> str, "p_size" -> intLike, "p_retailprice" -> dbl),
      "orders" -> Seq("o_orderkey" -> intLike, "o_custkey" -> intLike,
        "o_orderstatus" -> str, "o_totalprice" -> dbl,
        "o_orderdate" -> tsLike, "o_orderpriority" -> str),
      "lineitem" -> Seq("l_orderkey" -> intLike, "l_partkey" -> intLike,
        "l_suppkey" -> intLike, "l_linenumber" -> intLike,
        "l_quantity" -> dbl, "l_extendedprice" -> dbl, "l_discount" -> dbl,
        "l_tax" -> dbl, "l_returnflag" -> str, "l_linestatus" -> str,
        "l_shipdate" -> tsLike),
      "events" -> Seq("event_id" -> intLike, "ts" -> tsLike,
        "user_id" -> intLike, "event_type" -> str, "value" -> dbl,
        "props" -> str),
      "documents" -> Seq("doc_id" -> intLike, "text" -> str, "lang" -> str,
        "source" -> str, "n_chars" -> intLike),
      "embeddings" -> Seq("vec_id" -> intLike, "embedding" -> floatVec,
        "label" -> intLike))
    val checked = contract.map { case (table, cols) =>
      val actual = load(spark, dir, table).schema
      val actualNames = actual.fieldNames.toSet
      val expectedNames = cols.map(_._1).toSet
      val missing = (expectedNames -- actualNames).toSeq.sorted
        .map(c => s"$table.$c: missing")
      val additive = (actualNames -- expectedNames).toSeq.sorted
        .map(c => s"$table.$c: additive (${actual(c).dataType.sql})")
      val mistyped = cols.collect {
        case (c, ok) if actualNames(c) && !ok(actual(c).dataType) =>
          s"$table.$c: got ${actual(c).dataType.sql}"
      }
      (missing ++ mistyped, additive)
    }
    val additive = checked.flatMap(_._2)
    if (additive.nonEmpty) System.err.println(
      s"fixture contract: tolerating additive columns under $dir -> " +
        additive.mkString("; "))
    val problems = checked.flatMap(_._1)
    if (problems.nonEmpty) throw new IllegalStateException(
      s"fixture contract violated under $dir -> ${problems.mkString("; ")}")
  }
}
