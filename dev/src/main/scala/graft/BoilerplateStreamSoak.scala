package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Volume soak for the s16 RETROACTIVE streaming boilerplate ingest
  * (dev tool): 100 generations (override via args(0)) fold through
  * the committed-staging exactly-once protocol
  * ([[graft.operators.Boilerplate.fold]]),
  * with vacuums (sidecar refresh + counts/pairs compaction) run
  * MID-STREAM and idempotent replays injected every 25 generations.
  *
  * Fixture (deterministic, md5-derived, no RNG): generation `g`
  * carries one occurrence of banner `j` for every
  * j ∈ [g − minDocs + 1, g] — so banner j occurs once per generation
  * across minDocs consecutive generations and crosses the threshold
  * exactly when its minDocs-th occurrence arrives at generation
  * j + minDocs − 1. Every crossing therefore re-emits minDocs − 1
  * documents spread across minDocs − 1 EARLIER COMMITTED SEGMENTS —
  * the overlapping-changelog resolution the gate fixture only
  * exercises once, here exercised ~(gens − minDocs + 1) times, with
  * crossings landing both on the sidecar path (right after a vacuum
  * refresh) and on the escalation path (long after one).
  *
  * Invariants verified at volume:
  *  - EXACTNESS: latest-seq-per-doc over the accumulated changelog
  *    segments equals the full removeCommonLines recompute over the
  *    whole corpus, bit-for-bit, with 3 vacuums run mid-stream;
  *  - crossings observed == gens − minDocs + 1 (each once);
  *  - re-emissions span ≥ 2 committed segments (the soak requires
  *    the max own-segment→re-emission gap ≥ 10);
  *  - a replayed batch is skipped (returns false) and changes
  *    nothing.
  *
  * `sbt "dev/runMain graft.BoilerplateStreamSoak"` — one JSON line.
  */
object BoilerplateStreamSoak {
  def main(args: Array[String]): Unit = {
    val gens = args.headOption.map(_.toInt).getOrElse(100)
    val minDocs = 50L
    val filler = 150 // unique-only docs per generation
    require(gens > minDocs + 10, "need crossings well inside the run")
    val spark = Sessions.local(32)
    def time[A](body: => A): (A, Double) = {
      val t0 = System.nanoTime(); val a = body
      (a, (System.nanoTime() - t0) / 1e9)
    }

    // ---- corpus: one parquet partition per generation (batches
    // arrive as their own files in production)
    val corpusPath = s"target/soak/boiler_stream_docs_$gens.parquet"
    if (!new java.io.File(corpusPath).isDirectory) {
      val uniq = (seed: org.apache.spark.sql.Column) =>
        concat(lit("u"), md5(seed.cast("string")))
      // banner docs: (g, o) with o ∈ [0, minDocs), banner j = g − o
      val bannerDocs = spark.range(gens).select(col("id").as("g"))
        .crossJoin(broadcast(
          spark.range(minDocs).select(col("id").as("o"))))
        .filter(col("g") - col("o") >= 0)
        .select(col("g"),
          (col("g") * 100000L + col("o")).as("doc_id"),
          concat_ws("\n",
            concat(lit("banner "), col("g") - col("o"),
              lit(" promo line shared across generations")),
            uniq(col("g") * 1000003L + col("o") * 7L + 1),
            uniq(col("g") * 1000003L + col("o") * 7L + 2),
            uniq(col("g") * 1000003L + col("o") * 7L + 3)).as("text"))
      val fillerDocs = spark.range(gens).select(col("id").as("g"))
        .crossJoin(broadcast(spark.range(minDocs, minDocs + filler)
          .select(col("id").as("o"))))
        .select(col("g"),
          (col("g") * 100000L + col("o")).as("doc_id"),
          concat_ws("\n",
            uniq(col("g") * 2000003L + col("o") * 11L + 1),
            uniq(col("g") * 2000003L + col("o") * 11L + 2),
            uniq(col("g") * 2000003L + col("o") * 11L + 3),
            uniq(col("g") * 2000003L + col("o") * 11L + 4)).as("text"))
      bannerDocs.unionByName(fillerDocs)
        .repartition(col("g"))
        .write.mode("overwrite").partitionBy("g").parquet(corpusPath)
    }
    def gen(g: Int) = spark.read.parquet(s"$corpusPath/g=$g")
      .select(col("doc_id"), col("text"))

    val tmp = java.nio.file.Files.createTempDirectory("boiler_stream_soak")
    val store = s"$tmp/state"
    val outPath = s"$tmp/out"

    var replaysSkipped = 0
    var vacuums = 0
    val (_, tStream) = time {
      operators.Boilerplate.buildStore(gen(0), "doc_id", "text",
          minDocs, store)
        .withColumn("seq", lit(0L))
        .write.mode("append").parquet(outPath)
      (1 until gens).foreach { g =>
        val applied = operators.Boilerplate.fold(spark, store, outPath,
          gen(g), g.toLong, "doc_id", "text", minDocs)
        require(applied, s"generation $g must apply (fresh batch)")
        if (g % 25 == 0) {
          val again = operators.Boilerplate.fold(spark, store, outPath,
            gen(g), g.toLong, "doc_id", "text", minDocs)
          require(!again, s"replayed generation $g must be skipped")
          replaysSkipped += 1
        }
        if (g == 40 || g == 60 || g == 80) {
          operators.Boilerplate.vacuumStore(spark, store)
          vacuums += 1
        }
      }
    }

    // ---- invariants
    val acc = spark.read.parquet(outPath)
    val w = Window.partitionBy(col("doc_id")).orderBy(col("seq").desc)
    val latest = acc.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("clean_text"), col("n_removed"))
    val corpus = spark.read.parquet(corpusPath)
      .select(col("doc_id"), col("text"))
    val (full, tFull) = time {
      val f = operators.Boilerplate.removeCommonLines(
        corpus, "doc_id", "text", minDocs).persist()
      f.count(); f
    }
    val diff = latest.exceptAll(full).count() + full.exceptAll(latest).count()
    require(diff == 0L,
      s"latest-wins over ${gens} streamed segments must equal the " +
        s"full recompute ($diff diffs)")
    val crossings = spark.read.parquet(s"$store/dict")
      .select(col("line")).distinct().count()
    require(crossings == gens - minDocs + 1,
      s"expected ${gens - minDocs + 1} banner crossings, dict has $crossings")
    val gaps = acc.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("emissions"),
        (max(col("seq")) - min(col("seq"))).as("gap"))
    val (reemitted, maxGap) = {
      val r = gaps.agg(
        sum(when(col("emissions") > 1, 1L).otherwise(0L)),
        max(col("gap"))).head()
      (r.getLong(0), r.getLong(1))
    }
    require(maxGap >= 10,
      s"re-emissions must span many committed segments (max gap $maxGap)")
    val nDocs = corpus.count()
    println(s"""{"gens":$gens,"docs":$nDocs,"min_docs":$minDocs,""" +
      s""""crossings":$crossings,"reemitted_docs":$reemitted,""" +
      s""""max_segment_gap":$maxGap,"replays_skipped":$replaysSkipped,""" +
      s""""vacuums":$vacuums,""" +
      s""""sec":{"stream_${gens}_folds":${"%.1f".format(tStream)},""" +
      s""""full_recompute":${"%.1f".format(tFull)}}}""")
    spark.stop()
  }
}
