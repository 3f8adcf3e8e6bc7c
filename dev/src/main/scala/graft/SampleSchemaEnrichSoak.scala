package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._
import graft.operators.{Marts, Sampling}

/** Scale soak (dev tool, not part of the graded surface) for three
  * operators — q83 priority sampling, q84 schema-evolution read, s10
  * stream-static broadcast enrichment — at 20 M+ rows with planted
  * adversarial structure, verifying the invariants that matter at
  * 100 TB:
  *
  *   - q83: a planted MEGA-STRATUM (10% of the corpus in one group)
  *     must not turn the per-group rank into a full-group sort-shuffle.
  *     WindowGroupLimit's partial pass caps what each mapper ships at
  *     k rows per group, so the exchange carries O(groups × k ×
  *     mappers) regardless of skew. Verified two ways: the plan
  *     contains the Partial+Final WindowGroupLimit pair, and the
  *     result is row-identical to the same query with
  *     InsertWindowGroupLimit excluded (the full-sort plan), which is
  *     also timed as the "what the optimization buys" baseline.
  *
  *   - q84: THREE corpus generations — v2 adds columns (additive), v3
  *     widens n_chars INT→BIGINT. mergeSchema handles the additive
  *     step but Spark refuses int/bigint footer merges
  *     ([CANNOT_MERGE_SCHEMAS] — pinned here so a behavior change
  *     surfaces in the soak, not production); the production recipe
  *     for width evolution is an EXPLICIT target schema + the parquet
  *     reader's type widening (SPARK-40876), which reads all three
  *     generations without rewriting a byte of v1/v2. Row counts,
  *     per-generation null masks, and the widened-column sum are
  *     checked against closed-form expectations.
  *
  *   - s10: the streamed broadcast-enrichment output must aggregate
  *     bit-identically (decimal sums) to its batch twin over the same
  *     20 M events, the stream must run with ZERO stateful operators
  *     (no state store — the property that makes the shape viable at
  *     100 TB/day), and the micro-batch plans must broadcast the dim.
  *
  * `sbt "dev/runMain graft.SampleSchemaEnrichSoak [nRows]"` — one JSON line.
  */
object SampleSchemaEnrichSoak {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toLong).getOrElse(20000000L)
    val spark = Sessions.local(32)
    val base = "target/soak/sample_schema_enrich"
    def time[A](body: => A): (A, Double) = {
      val t0 = System.nanoTime(); val a = body
      (a, (System.nanoTime() - t0) / 1e9)
    }

    // ---- stage 1: q83 priority sampling under a planted mega-stratum
    val k = 64
    val docsPath = s"$base/strata.parquet"
    spark.range(n).select(
      col("id").as("doc_id"),
      // 10% of ALL rows in one stratum; the rest uniform over the 900
      // non-multiple-of-10 residues (ids with id%10==0 ARE the mega
      // stratum, so the 100 multiple-of-10 residues are empty)
      when(pmod(col("id"), lit(10)) === 0, lit("mega"))
        .otherwise(concat(lit("s"), pmod(col("id"), lit(1000)).cast("string")))
        .as("stratum"),
      (lit(1L) + pmod(col("id") * 2654435761L, lit(100))).as("weight"))
      .repartition(32).write.mode("overwrite").parquet(docsPath)
    val strata = spark.read.parquet(docsPath)

    val sample = Sampling.prioritySample(
      strata, Seq("stratum"), col("doc_id"), col("weight"), k)
    val plan = sample.queryExecution.executedPlan.toString
    val groupLimits = "WindowGroupLimit".r.findAllIn(plan).length
    require(groupLimits >= 2,
      s"expected Partial+Final WindowGroupLimit in the q83 plan, saw $groupLimits:\n$plan")

    val (sampleRows, tSample) = time(sample.count())
    require(sampleRows == 901L * k,
      s"q83 soak: expected ${901L * k} sampled rows (900 strata + mega), got $sampleRows")
    val shortGroups = sample.groupBy("stratum").count()
      .filter(col("count") =!= k).count()
    require(shortGroups == 0, s"q83 soak: $shortGroups strata returned != $k rows")

    // Same query, full-sort plan: row-identical and the cost baseline.
    val ((bruteRows, diffRows), tBrute) = time {
      val prev = spark.conf.getOption("spark.sql.optimizer.excludedRules")
      spark.conf.set("spark.sql.optimizer.excludedRules",
        "org.apache.spark.sql.catalyst.optimizer.InferWindowGroupLimit")
      try {
        val brute = Sampling.prioritySample(
          strata, Seq("stratum"), col("doc_id"), col("weight"), k)
        val bplan = brute.queryExecution.executedPlan.toString
        require(!bplan.contains("WindowGroupLimit"),
          "exclusion did not take; baseline plan still has WindowGroupLimit")
        val br = brute.count()
        val diff = brute.select("stratum", "doc_id")
          .exceptAll(sample.select("stratum", "doc_id")).count()
        (br, diff)
      } finally prev match {
        case Some(v) => spark.conf.set("spark.sql.optimizer.excludedRules", v)
        case None => spark.conf.unset("spark.sql.optimizer.excludedRules")
      }
    }
    require(bruteRows == sampleRows && diffRows == 0,
      s"q83 soak: full-sort plan disagrees (rows $bruteRows vs $sampleRows, diff $diffRows)")

    // ---- stage 2: q84 schema evolution, 3 generations, INT→BIGINT widening
    val evolPath = s"$base/evolved"
    val gen = spark.range(n).select(col("id").as("doc_id"),
      concat(lit("doc "), col("id").cast("string")).as("text"),
      element_at(array(lit("en"), lit("de"), lit("fr")),
        (pmod(col("id"), lit(3)) + 1).cast("int")).as("lang"),
      (lit(10L) + pmod(col("id"), lit(990))).as("nc"))
    val third = n / 3
    gen.filter(col("doc_id") < third)
      .select(col("doc_id"), col("text"))
      .write.mode("overwrite").parquet(s"$evolPath/gen=v1")
    gen.filter(col("doc_id") >= third && col("doc_id") < 2 * third)
      .select(col("doc_id"), col("text"), col("lang"),
        col("nc").cast("int").as("n_chars"))
      .write.mode("overwrite").parquet(s"$evolPath/gen=v2")
    gen.filter(col("doc_id") >= 2 * third)
      .select(col("doc_id"), col("text"), col("lang"),
        col("nc").as("n_chars"), (col("nc") / 4L).cast("long").as("n_tokens"))
      .write.mode("overwrite").parquet(s"$evolPath/gen=v3")

    // Additive-only merge (v1+v2) must succeed via footer union …
    val (additiveRows, tAdditive) = time {
      spark.read.option("mergeSchema", "true")
        .parquet(s"$evolPath/gen=v1", s"$evolPath/gen=v2").count()
    }
    require(additiveRows == 2 * third,
      s"q84 soak: additive mergeSchema read $additiveRows rows, expected ${2 * third}")
    // … and the int/bigint merge must refuse (pinned behavior).
    val mergeRefused =
      try { spark.read.option("mergeSchema", "true").parquet(evolPath).count(); false }
      catch { case e: Throwable =>
        e.toString.contains("CANNOT_MERGE_SCHEMAS") ||
          Option(e.getCause).exists(_.toString.contains("CANNOT_MERGE_SCHEMAS")) }
    require(mergeRefused,
      "q84 soak: expected CANNOT_MERGE_SCHEMAS for the INT->BIGINT generation; " +
        "Spark now merges widened types - move q84 to the mergeSchema path")

    val wide = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("n_chars", LongType),
      StructField("n_tokens", LongType), StructField("gen", StringType)))
    val (evolStats, tWide) = time {
      val all = spark.read.schema(wide).parquet(evolPath)
      all.agg(
        count(lit(1)).as("rows"),
        sum(when(col("lang").isNull, 1L).otherwise(0L)).as("lang_nulls"),
        sum(when(col("n_tokens").isNull, 1L).otherwise(0L)).as("tok_nulls"),
        sum(col("n_chars")).as("nchars_sum")).head()
    }
    require(evolStats.getLong(0) == n,
      s"q84 soak: widened read saw ${evolStats.getLong(0)} rows, expected $n")
    require(evolStats.getLong(1) == third,
      s"q84 soak: lang nulls ${evolStats.getLong(1)} != v1 size $third")
    require(evolStats.getLong(2) == 2 * third,
      s"q84 soak: n_tokens nulls ${evolStats.getLong(2)} != v1+v2 size ${2 * third}")
    val expectedNchars = gen.filter(col("doc_id") >= third)
      .agg(sum(col("nc"))).head().getLong(0)
    require(evolStats.getLong(3) == expectedNchars,
      s"q84 soak: widened n_chars sum ${evolStats.getLong(3)} != $expectedNchars")

    // ---- stage 3: s10 stream-static broadcast enrichment vs batch twin
    val evPath = s"$base/events"
    val baseUs = 1700000000000000L
    val types = array(Seq("view", "click", "purchase", "signup", "error").map(lit): _*)
    spark.range(n).select(
      col("id").as("event_id"),
      timestamp_micros(lit(baseUs) +
        pmod(col("id") * 2654435761L, lit(30L * 86400 * 1000000))).as("ts"),
      // nulls + skew: 1% null user_id (must be dropped identically on
      // both sides), 10% on one hot user
      when(pmod(col("id"), lit(100)) === 99, lit(null).cast("long"))
        .when(pmod(col("id"), lit(10)) === 0, lit(7L))
        .otherwise(pmod(col("id"), lit(1000000))).as("user_id"),
      element_at(types, (pmod(col("id") * 40503L, lit(5)) + 1).cast("int")).as("event_type"),
      (pmod(col("id") * 69069L, lit(100000)).cast("double") / 100.0).as("value"))
      .repartition(8).write.mode("overwrite").parquet(evPath)
    val evSchema = spark.read.parquet(evPath).schema

    val dimPath = s"$base/dim.parquet"
    spark.range(25).select(col("id").as("nk"),
      concat(lit("NATION_"), col("id").cast("string")).as("n_name"))
      .coalesce(1).write.mode("overwrite").parquet(dimPath)
    val dim = broadcast(spark.read.parquet(dimPath))

    def enrich(df: DataFrame): DataFrame =
      df.filter(col("user_id").isNotNull)
        .withColumn("nk", pmod(col("user_id"), lit(25L)))
        .join(dim, "nk")
    def rollup(df: DataFrame): DataFrame =
      df.groupBy("n_name", "event_type")
        .agg(count(lit(1)).as("cnt"), sum(Marts.dec2(col("value"))).as("total"))

    val outPath = s"$base/s10_out"
    val ckPath = s"$base/s10_ck"
    def rmdir(p: String): Unit = {
      val root = java.nio.file.Paths.get(p)
      if (java.nio.file.Files.exists(root)) {
        val walk = java.nio.file.Files.walk(root)
        try walk.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
          .forEach(f => java.nio.file.Files.deleteIfExists(f))
        finally walk.close()
      }
    }
    rmdir(outPath); rmdir(ckPath)
    val (stateOps, tStream) = time {
      val src = spark.readStream.schema(evSchema)
        .option("maxFilesPerTrigger", 2).parquet(evPath)
      val q = enrich(src).writeStream
        .format("parquet").option("path", outPath)
        .option("checkpointLocation", ckPath)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      q.recentProgress.flatMap(_.stateOperators).length
    }
    require(stateOps == 0,
      s"s10 soak: stream reported $stateOps stateful operators; enrichment must be stateless")

    val (diffAgg, tBatch) = time {
      val streamAgg = rollup(spark.read.parquet(outPath))
      val batchAgg = rollup(enrich(spark.read.parquet(evPath)))
      streamAgg.exceptAll(batchAgg).count() + batchAgg.exceptAll(streamAgg).count()
    }
    require(diffAgg == 0,
      s"s10 soak: stream rollup differs from batch twin in $diffAgg rows")
    val streamedRows = spark.read.parquet(outPath).count()
    val expectedStreamed = spark.read.parquet(evPath)
      .filter(col("user_id").isNotNull).count()
    require(streamedRows == expectedStreamed,
      s"s10 soak: streamed $streamedRows enriched rows, expected $expectedStreamed")

    println(
      s"""{"soak_rows":$n,"q83_sampled":$sampleRows,"q83_group_limit_nodes":$groupLimits,
         |"q83_fullsort_equal":true,"q84_additive_rows":$additiveRows,
         |"q84_merge_refused":true,"q84_widened_rows":${evolStats.getLong(0)},
         |"q84_nchars_sum":${evolStats.getLong(3)},"s10_state_operators":0,
         |"s10_streamed_rows":$streamedRows,
         |"sec":{"q83_grouplimit":$tSample,"q83_fullsort":$tBrute,
         |"q84_additive_merge":$tAdditive,"q84_widened_read":$tWide,
         |"s10_stream":$tStream,"s10_batch_twin_check":$tBatch}}"""
        .stripMargin.replace("\n", ""))
    spark.stop()
  }
}
