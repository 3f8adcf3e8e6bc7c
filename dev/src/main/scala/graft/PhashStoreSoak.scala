package graft

import org.apache.spark.sql.functions._
import graft.operators.{DedupSuite, Multimodal, StoreCompaction}

/** Dev soak for the persisted Hamming band index (d30/s18/d31 — judge
  * r18 item 3): build the store from ≥1M SYNTHETIC IMAGES (real BMP
  * bytes through the real decoder — synthBmpPerceptual realizes a
  * closed-form dHash in actual pixels), then fold equal-sized media
  * batches against it and show FLAT per-fold cost: each fold decodes
  * only its own batch and reads the store's 8-byte band rows under a
  * broadcast semi-join — never re-decodes or re-bands the corpus — so
  * fold k costs the same as fold 1 regardless of how many folds
  * preceded it (the d19/d23/d26 ingest economics, now for the
  * multimodal family). A fused compaction runs mid-soak to show
  * maintenance is row-invariant and does not bend the curve.
  *
  * Exactness gate: the accumulated fold outputs must equal the full
  * banded run over corpus ∪ all batches restricted to batch-touching
  * pairs, bit-for-bit (the incrementalHammingPairs contract at soak
  * scale — families straddle the corpus/batch split by construction:
  * variants 0–5 of each 8-image family are corpus, 6–7 are batch, so
  * cross pairs are guaranteed in every batch).
  *
  * `sbt "dev/runMain graft.PhashStoreSoak [nTotal]"` — one JSON line.
  */
object PhashStoreSoak {
  def main(args: Array[String]): Unit = {
    val spark = Sessions.local(32)
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    // total universe; corpus = 6 of every 8-image family (75%), so
    // the default stores >1M images
    val nTotal = if (args.nonEmpty) args(0).toLong else 1400000L
    val nBatches = 8
    val base = "target/soak/phash_store"
    val store = s"$base/index"
    def time[A](body: => A): (A, Double) = {
      val t0 = System.nanoTime(); val a = body
      (a, (System.nanoTime() - t0) / 1e9)
    }
    def hashesOf(ids: org.apache.spark.sql.DataFrame) =
      Multimodal.bmpDHashes(
        ids.select(col("doc_id")).as[Long]
          .mapPartitions(_.map(id =>
            (id, Multimodal.synthBmpPerceptual(id))))
          .toDF("doc_id", "content"),
        "doc_id", "content")
    val universe = spark.range(nTotal).select(col("id").as("doc_id"))
    val corpusIds = universe.filter(col("doc_id") % 8 < 6)
    def batchIds(k: Int) = universe.filter(col("doc_id") % 8 >= 6 &&
      pmod(expr("doc_id div 8"), lit(nBatches.toLong)) === k.toLong)

    // decode the corpus ONCE (the build's only byte-touching pass)
    val (corpusHashes, tDecode) = time {
      hashesOf(corpusIds).localCheckpoint()
    }
    val nCorpus = corpusHashes.count()
    val (_, tBuild) = time {
      DedupSuite.hammingIndexBuild(corpusHashes, "doc_id", "ph", store,
        bands = 4, nBuckets = 64)
    }
    println(f"corpus $nCorpus%d images: decode $tDecode%.2f s, build $tBuild%.2f s")

    var accumulated = corpusHashes.sparkSession.emptyDataFrame
    var first = true
    val foldRows = (0 until nBatches).map { k =>
      val bh = hashesOf(batchIds(k)).localCheckpoint()
      val n = bh.count()
      val (pairs, tFold) = time {
        val p = DedupSuite.hammingIndexFold(spark, store, bh,
          "doc_id", "ph", maxHamming = 3)
        p.count() // materialized (the fold checkpoints it)
        p
      }
      accumulated = if (first) pairs else accumulated.unionByName(pairs)
      first = false
      // mid-soak maintenance: fused per-bucket file collapse —
      // row-invariant, so the equality gate below still holds and the
      // later folds' costs stay on the same line
      if (k == nBatches / 2 - 1) {
        val (_, tc) = time {
          StoreCompaction.compactStoreFused(spark, store, "bucket") }
        println(f"  compaction after fold $k%d: $tc%.2f s")
      }
      println(f"fold $k%d: $n%d images, $tFold%6.2f s")
      s"""{"fold":$k,"images":$n,"sec":$tFold}"""
    }

    // STREAMED section: the same-size batches through the
    // committed-staging exactly-once twin (foldHammingBatchIdempotent
    // — stage delta+pairs, _SUCCESS, promote, marker) against a fresh
    // store, quantifying the protocol's overhead over the crash-redo
    // batch fold at the same scale: the difference is the staged
    // artifact writes + promote, which is the stream pass's per-fold
    // floor component (NOTES_r19 §4). Batches use fresh ids ABOVE the
    // universe (variant structure preserved: ids ≡ 6,7 mod 8 pair
    // with their family's corpus variants only if the family exists —
    // these new families are batch-internal, which is fine: the
    // measurement is fold COST, and the equality gate for streamed
    // folds lives in StreamingSpec).
    val sStore = s"$base/stream_index"
    val sOut = s"$base/stream_out"
    DedupSuite.hammingIndexBuild(corpusHashes, "doc_id", "ph", sStore,
      bands = 4, nBuckets = 64)
    val streamRows = (0 until 4).map { k =>
      val ids = spark.range(nTotal + k.toLong * 50000L,
        nTotal + (k + 1).toLong * 50000L).select(col("id").as("doc_id"))
      val bh = hashesOf(ids).localCheckpoint()
      val n = bh.count()
      val (_, tFold) = time {
        graft.streaming.StreamingJobs.foldHammingBatchIdempotent(
          spark, sStore, sOut, bh, k.toLong, "doc_id", "ph",
          maxHamming = 3)
      }
      println(f"stream fold $k%d: $n%d images, $tFold%6.2f s")
      s"""{"fold":$k,"images":$n,"sec":$tFold}"""
    }

    // exactness: accumulated fold pairs == full banded run over
    // corpus ∪ batches restricted to batch-touching pairs
    val allHashes = corpusHashes.unionByName(
      hashesOf(universe.filter(col("doc_id") % 8 >= 6)))
    val full = DedupSuite.hammingPairs(allHashes, "doc_id", "ph",
        maxHamming = 3, bands = 4)
      .filter(col("id_a") % 8 >= 6 || col("id_b") % 8 >= 6)
      .select(col("id_a"), col("id_b"), col("hamming"))
    val acc = accumulated.select(col("id_a"), col("id_b"), col("hamming"))
    val (nPairs, tGate) = time {
      require(acc.exceptAll(full).isEmpty && full.exceptAll(acc).isEmpty,
        "accumulated fold pairs must equal the full-run restriction")
      acc.count()
    }
    println(f"equality gate: $nPairs%d pairs, $tGate%.2f s")
    println(s"""{"images":$nCorpus,"decode_sec":$tDecode,"build_sec":$tBuild,"folds":[${foldRows.mkString(",")}],"stream_folds":[${streamRows.mkString(",")}],"pairs":$nPairs,"gate_sec":$tGate}""")
    spark.stop()
  }
}
