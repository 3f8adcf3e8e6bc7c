package graft

import org.apache.spark.sql.functions._

/** Scale soak for t15/t16 BPE (dev tool): the BATCHED incremental
  * pair-count trainer vs the recount trainer at a REAL merge count
  * (k = 2048, override via SPARK_GRAFT_BPE_K) over a ~100k-word
  * hex-alphabet vocabulary (16 base symbols — the byte-level-BPE
  * shape, where the pair table starts at ≤ 256 rows and grows only
  * with learned symbols).
  *
  * Claims verified at volume:
  *  - EXACTNESS: both trainers emit the identical merge table
  *    (rank, lhs, rhs, cnt) for all k merges;
  *  - ECONOMICS: the recount form pays 2 vocabulary-sized jobs per
  *    merge (2k driver round-trips); the batched incremental form
  *    pays ~k/acceptance delta jobs — the soak counts ACTUAL Spark
  *    jobs on both sides (the fixed-latency figure that dominates at
  *    real k) alongside the wall-clocks;
  *  - ENCODING at real k: the learned table is applied through the
  *    chunked [[graft.functions.Bpe.encodeTokenCounts]] under
  *    CODEGEN_ONLY (a codegen fallback — the silent failure mode of a
  *    k-deep replace chain — THROWS instead), and two different chunk
  *    boundaries must agree token-for-token.
  *
  * Deterministic fixture (md5 of id arithmetic, no RNG).
  * `sbt "dev/runMain graft.BpeSoak"` — one JSON line.
  */
object BpeSoak {
  def main(args: Array[String]): Unit = {
    val spark = Sessions.local(32)
    def time[A](body: => A): (A, Double) = {
      val t0 = System.nanoTime(); val a = body
      (a, (System.nanoTime() - t0) / 1e9)
    }
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    })
    def jobsOf[A](body: => A): (A, Int) = {
      val s = jobs.get(); val a = body; (a, jobs.get() - s)
    }
    val k = sys.env.get("SPARK_GRAFT_BPE_K").map(_.toInt).getOrElse(2048)
    val vocab = 100000L
    val rows = 1000000L
    val path = "target/soak/bpe/docs.parquet"
    // each row one word; word = md5-hex prefix of its vocab index,
    // lengths 8..12 — [0-9a-f] tokens, so 16 base symbols
    spark.range(rows).select(
        substring(md5((col("id") % vocab).cast("string")),
          1, 8).as("p"),
        ((col("id") % vocab) % 5).cast("int").as("extra"),
        md5((col("id") % vocab).cast("string")).as("h"))
      .select(concat(col("p"),
        substring(col("h"), 9, 4).substr(lit(1), col("extra"))).as("text"))
      .repartition(32).write.mode("overwrite").parquet(path)
    val docs = spark.read.parquet(path)

    val ((inc, jInc), tInc) = time {
      jobsOf {
        graft.functions.Bpe.bpeTrainIncremental(docs, "text", k)
          .collect().map(r =>
            (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
          .toSeq
      }
    }
    val ((rec, jRec), tRec) = time {
      jobsOf {
        graft.functions.Bpe.bpeTrain(docs, "text", k)
          .collect().map(r =>
            (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
          .toSeq
      }
    }
    val equal = inc == rec
    require(equal, s"incremental and recount merge tables diverge " +
      s"(first diff at rank ${inc.zip(rec).indexWhere(p => p._1 != p._2) + 1})")
    require(inc.size == k, s"expected $k merges, got ${inc.size}")

    // encoding at real k: chunked application, fallback = failure
    val mergeList = inc.map(m => (m._2, m._3))
    val (nTokens, tEnc) = time {
      spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
      try {
        val a = graft.functions.Bpe.encodeTokenCounts(docs, "text", mergeList)
          .collect().map(r => (r.getString(0), r.getLong(1))).toSet
        val b = graft.functions.Bpe
          .encodeTokenCounts(docs, "text", mergeList, chunk = 100)
          .collect().map(r => (r.getString(0), r.getLong(1))).toSet
        require(a == b, "encode changed across chunk boundaries")
        a.size
      } finally spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
    println(
      s"""{"metric":"bpe_soak","k":$k,"vocab":$vocab,"rows":$rows,""" +
        s""""sec_incremental":${"%.1f".format(tInc)},""" +
        s""""sec_recount":${"%.1f".format(tRec)},""" +
        s""""speedup":${"%.2f".format(tRec / tInc)},""" +
        s""""jobs_incremental":$jInc,"jobs_recount":$jRec,""" +
        s""""sec_encode":${"%.1f".format(tEnc)},""" +
        s""""encode_tokens":$nTokens,"equal":$equal}""")
    spark.stop()
  }
}
