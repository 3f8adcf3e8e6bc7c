package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.{DedupSuite, Similarity}
import graft.functions.TextFunctions

class DedupSuiteSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog again and again"),
    (2L, "the quick brown fox jumps over the lazy dog again and again today"), // near-dup of 1
    (3L, "completely different content about spark query engines and shuffles"),
    (4L, "the quick brown fox jumps over the lazy dog again and again") // exact dup of 1
  ).toDF("doc_id", "text")

  test("paragraph dedup keeps only the first global occurrence of each paragraph") {
    val pdocs = Seq(
      (1L, "alpha beta\nshared boilerplate line\ngamma delta"),
      (2L, "shared boilerplate line\nunique two"),
      (3L, "unique three\nshared boilerplate line"),
      (4L, "alpha beta\nshared boilerplate line\ngamma delta") // full dup of 1
    ).toDF("doc_id", "text")
    val out = DedupSuite.dedupParagraphs(pdocs, "doc_id", "text")
      .select("doc_id", "n_paras", "n_kept", "clean_text")
      .as[(Long, Long, Long, String)].collect()
      .map(r => r._1 -> r).toMap
    // doc 1 saw every paragraph first: everything kept, order preserved
    assert(out(1L) == ((1L, 3L, 3L, "alpha beta\nshared boilerplate line\ngamma delta")))
    // docs 2/3 lose the boilerplate but keep their unique lines in order
    assert(out(2L) == ((2L, 2L, 1L, "unique two")))
    assert(out(3L) == ((3L, 2L, 1L, "unique three")))
    // the full duplicate of doc 1 loses every paragraph
    assert(out(4L) == ((4L, 3L, 0L, "")))
  }

  test("paragraph dedup first-occurrence tie-break is (doc_id, pos)") {
    val pdocs = Seq(
      (5L, "dup\nx\ndup"), // same para twice within one doc
      (6L, "dup")
    ).toDF("doc_id", "text")
    val out = DedupSuite.dedupParagraphs(pdocs, "doc_id", "text")
      .select("doc_id", "clean_text").as[(Long, String)].collect().toMap
    assert(out(5L) == "dup\nx") // second in-doc occurrence dropped too
    assert(out(6L) == "")
  }

  test("exact dedup keeps min id and counts copies") {
    val out = DedupSuite.exact(docs, "doc_id", "text")
      .select("doc_id", "n_copies").as[(Long, Long)].collect().toMap
    assert(out(1L) == 2L) // docs 1 and 4 collapse to id 1
    assert(out.keySet == Set(1L, 2L, 3L))
  }

  test("minhash LSH finds near-dup and exact-dup pairs, not unrelated docs") {
    val pairs = DedupSuite.minhashNearDups(docs, "doc_id", "text",
        n = 3, k = 16, bands = 4, threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 4L))) // identical text: jaccard 1.0
    assert(pairs.contains((1L, 2L)) && pairs.contains((2L, 4L))) // near-dups
    assert(!pairs.exists { case (a, b) => a == 3L || b == 3L })
  }

  test("incremental minhash probe equals the full portable run restricted to cross pairs") {
    // Corpus = a deterministic 60-doc mix with internal near-dups;
    // batch = near-dup clones of every 4th doc plus two fresh docs.
    // The identity must hold pair-for-pair INCLUDING jaccard values.
    val words = Array("alpha", "beta", "gamma", "delta", "eps", "zeta",
      "eta", "theta", "iota", "kappa")
    val corpus = (0L until 60L).map { i =>
      val toks = (0 until 14).map(j => words((((i / 7) * 3).toInt + j * j) % 10))
      (i, toks.mkString(" "))
    }.toDF("doc_id", "text")
    val batch = corpus.filter(col("doc_id") % 4 === 0)
      .select((col("doc_id") + 1000L).as("doc_id"),
        concat(col("text"), lit(" tail")).as("text"))
      .unionByName(Seq((2000L, "wholly unrelated fresh content here notably"),
        (2001L, "another novel document with separate words entirely"))
        .toDF("doc_id", "text"))

    val index = DedupSuite.minhashIndex(corpus, "doc_id", "text",
      n = 3, k = 16, bands = 4)
    val inc = DedupSuite.incrementalMinhashNearDups(index, batch,
        "doc_id", "text", n = 3, k = 16, bands = 4, threshold = 0.5)
      .as[(Long, Long, Double)].collect().toSet

    val full = DedupSuite.minhashNearDupsPortable(
        corpus.unionByName(batch), "doc_id", "text",
        n = 3, k = 16, bands = 4, threshold = 0.5)
      .filter((col("id_a") >= 1000L) =!= (col("id_b") >= 1000L))
      .as[(Long, Long, Double)].collect()
      .map { case (a, b, j) => if (a < 1000L) (a, b, j) else (b, a, j) }
      .toSet
    assert(inc === full)
    assert(inc.nonEmpty) // planted clones actually cross the split
  }

  test("simhash: near-dups are close in hamming distance, unrelated far") {
    val h = docs.select($"doc_id", DedupSuite.simhash60($"text").as("sh"))
      .as[(Long, Long)].collect().toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(h(1L), h(4L)) == 0)
    assert(ham(h(1L), h(2L)) < ham(h(1L), h(3L)))
  }

  test("native token hashes are bit-identical to the composable form") {
    val base = Tables.documents(spark, sf).limit(200).select(col("doc_id"), col("text"))
      .unionByName(Seq((9000001L, ""), (9000002L, "  --- !!! "),
        (9000003L, "Ünïcode Σeparators between words123 and456"))
        .toDF("doc_id", "text"))
    val native = base.select(col("doc_id"),
      DedupSuite.tokenHashesNative(col("text")).as("th"))
    val composed = base.select(col("doc_id"),
      transform(TextFunctions.tokens(col("text")),
        t => xxhash64(t).bitwiseAND(lit(0xFFFFFFFFL))).as("th"))
    assert(native.exceptAll(composed).isEmpty &&
      composed.exceptAll(native).isEmpty)
  }

  test("native shingle hashes are bit-identical to the composable form") {
    val th = Tables.documents(spark, sf).limit(200)
      .select(col("doc_id"),
        transform(TextFunctions.tokens(col("text")),
          t => xxhash64(t).bitwiseAND(lit(0xFFFFFFFFL))).as("th"))
    val native = th.select(col("doc_id"),
      DedupSuite.shingleHashesNative(col("th"), 3).as("hs"))
    val composed = th.select(col("doc_id"),
      DedupSuite.shingleHashesFromTokenHashes(col("th"), 3).as("hs"))
    assert(native.exceptAll(composed).isEmpty &&
      composed.exceptAll(native).isEmpty)
    // short docs -> EMPTY array, like the composable otherwise(array())
    val short = Seq(Seq(1L, 2L)).toDF("th")
      .select(DedupSuite.shingleHashesNative(col("th"), 3).as("hs"))
      .head().getSeq[Long](0)
    assert(short.isEmpty)
  }

  test("native portable shingle hashes are bit-identical to the composable form") {
    val base = Tables.documents(spark, sf).limit(200).select(col("doc_id"), col("text"))
      .unionByName(Seq((9000001L, ""), (9000002L, "one two"),
        (9000003L, "exactly three tokens"),
        (9000004L, "Ünïcode Σeparators between words123 and456 more words here"))
        .toDF("doc_id", "text"))
    val toks = base.select(col("doc_id"), TextFunctions.tokens(col("text")).as("toks"))
    val native = toks.select(col("doc_id"),
      DedupSuite.shingleHashesPortableNative(col("toks"), 3).as("hs"))
    val composed = toks.select(col("doc_id"),
      transform(DedupSuite.shinglesFromTokens(col("toks"), 3),
        s => TextFunctions.hash32(s)).as("hs"))
    assert(native.exceptAll(composed).isEmpty &&
      composed.exceptAll(native).isEmpty)
    // short docs -> EMPTY array, like the composable otherwise(array())
    val short = Seq(Seq("one", "two")).toDF("toks")
      .select(DedupSuite.shingleHashesPortableNative(col("toks"), 3).as("hs"))
      .head().getSeq[Long](0)
    assert(short.isEmpty)
  }

  test("native minhash signature is bit-identical to the composable form") {
    val hs = Tables.documents(spark, sf).limit(200)
      .select(col("doc_id"),
        transform(TextFunctions.tokens(col("text")),
          t => TextFunctions.hash32(t)).as("hs"))
      .filter(size(col("hs")) > 0)
    val native = hs.select(col("doc_id"),
      DedupSuite.minhashSignatureNative(col("hs"), 16).as("sig"))
    val composed = hs.select(col("doc_id"),
      DedupSuite.minhashSignatureFromHashes(col("hs"), 16).as("sig"))
    assert(native.exceptAll(composed).isEmpty &&
      composed.exceptAll(native).isEmpty)
    // empty-array input -> null, like the composable when(size > 0, ...)
    val empty = Seq(Seq.empty[Long]).toDF("hs")
      .select(DedupSuite.minhashSignatureNative(col("hs"), 4).as("sig"))
    assert(empty.head().isNullAt(0))
  }

  test("jaccard: identical -> 1, disjoint -> 0") {
    val sh = docs.select($"doc_id", DedupSuite.shingles($"text", 3).as("sh"))
    val a = sh.filter($"doc_id" === 1).select($"sh".as("sa"))
    val b = sh.filter($"doc_id" === 3).select($"sh".as("sb"))
    val j = a.crossJoin(b)
      .select(DedupSuite.jaccard($"sa", $"sb").cast("double")).as[Double].head()
    assert(j == 0.0)
    val self = sh.filter($"doc_id" === 1).select($"sh".as("sa"), $"sh".as("sb"))
      .select(DedupSuite.jaccard($"sa", $"sb").cast("double")).as[Double].head()
    assert(self == 1.0)
  }

  test("cosine: identical vectors 1.0, orthogonal 0.0; topk ranks by similarity") {
    val vecs = Seq(
      (1L, Seq(1.0f, 0.0f)), (2L, Seq(0.0f, 1.0f)),
      (3L, Seq(1.0f, 0.0f)), (4L, Seq(0.7f, 0.7f))
    ).toDF("vec_id", "embedding")
    val top = Similarity.bruteForceTopK(
        vecs.filter($"vec_id" === 1), vecs, "vec_id", "embedding", 3)
      .orderBy($"rnk")
      .select($"neighbor_id", $"sim".cast("double")).as[(Long, Double)].collect()
    assert(top(0) == (3L, 1.0))          // identical vector first
    assert(top(1)._1 == 4L)              // 45° second
    assert(top(2) == (2L, 0.0))          // orthogonal last
  }

  test("xxhash fast path (x1) and gated portable d2 agree up to banding recall") {
    val fast = SparkEntry.benchOnlyQueries("x1_minhash_fast")(spark, sf)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val portable = SparkEntry.queries("d2_minhash_pairs")(spark, sf)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // The verify filter (exact jaccard >= 0.5 over the base-hash sets)
    // is shared; only LSH banding depends on the hash family, so the
    // two paths legitimately differ on MARGINAL pairs (short planted
    // docs sit near the threshold, where band-collision probability is
    // ~0.2-0.6 per family). Equivalence claim: the pair SETS are nearly
    // identical (measured 100 shared / 106 union at sf0.001) and both
    // recover the planted near-dups almost completely.
    val overlap = (fast & portable).size.toDouble / (fast | portable).size
    assert(overlap >= 0.8, s"pair-set agreement $overlap below 0.8")
    val plantedBoth = (fast & portable).count { case (a, b) => b == a + 1000000L }
    assert(plantedBoth >= 50, s"only $plantedBoth planted pairs found by both")
  }

  test("d7 fixture plants 3-chains and d7 clusters them transitively") {
    val pairs = DedupSuite.minhashNearDupsPortable(
        catalog.DedupGates.corpusD7(spark, sf), "doc_id", "text",
        n = 3, k = 16, bands = 4, threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // true chain: (A,B) and (B,C) found, no (A,C) shortcut — the case
    // a single-step min-id representative clusters WRONG (C under B)
    val chains = for {
      (a, b) <- pairs if a < 1000000L && b >= 1000000L && b < 2000000L
      (b2, c) <- pairs if b2 == b && c >= 2000000L && !pairs((a, c))
    } yield (a, b, c)
    assert(chains.nonEmpty, "fixture must plant at least one 3-chain")
    val clusterLabels = SparkEntry.queries("d7_canonical_near_dup")(spark, sf)
      .select("cluster").as[Long].collect().toSet
    // under transitive labeling a chain's B and C can never label a
    // cluster (their component always contains the smaller A); the old
    // single-step rep put C under B, making B a cluster label
    chains.foreach { case (_, b, c) =>
      assert(!clusterLabels(b) && !clusterLabels(c),
        s"chain member $b/$c must not label a cluster")
    }
  }

  test("hot LSH buckets are dropped WITH accounting, not silently") {
    // 5 identical docs -> every band has one bucket of 5 (> maxBucket=3,
    // dropped); 2 identical docs -> buckets of 2 (kept, pair survives)
    val docs2 = ((1 to 5).map(i => (100L + i, "alpha beta gamma delta epsilon zeta"))
      ++ Seq((1L, "one two three four five six seven"),
             (2L, "one two three four five six seven"))).toDF("doc_id", "text")
    val hs = docs2.select($"doc_id",
      transform(DedupSuite.shingles($"text", 3),
        s => TextFunctions.hash32(s)).as("hs"))
    val sig = hs.select($"doc_id",
      DedupSuite.minhashSignatureFromHashes($"hs", 16).as("sig"))
    val bands = DedupSuite.lshBands(sig, "doc_id", "sig", 4, 4)
    val out = DedupSuite.candidatePairs(bands, "doc_id", maxBucket = 3)
    val rows = out.collect() // collect drives out's OWN QueryExecution
    val m = out.queryExecution.observedMetrics(DedupSuite.LshBucketMetrics)
    assert(m.getAs[Long]("dropped_buckets") == 4L)   // one 5-bucket per band
    assert(m.getAs[Long]("dropped_docs") == 20L)     // 4 bands x 5 docs
    assert(m.getAs[Long]("max_bucket_size") == 5L)
    val pairs = rows.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L)), s"unexpected pairs $pairs")
  }

  test("langId picks the language with most stopword hits") {
    val df = Seq("the cat is in the house and it is big",
      "el gato que en la casa los perros", "xyzzy qwerty").toDF("text")
    val got = df.select(TextFunctions.langId(TextFunctions.tokens($"text")))
      .as[String].collect().toSeq
    assert(got == Seq("en", "es", "und"))
  }

  test("spanCoverage counts duplicated spans by exact interval union") {
    // doc 1 and 2 share an 8-token run -> 4 dup shingle starts each,
    // overlapping; interval union must count 8 covered tokens, not 20.
    val run = "one two three four five six seven eight"
    val sdocs = Seq(
      (1L, s"$run alpha beta gamma delta epsilon zeta"),
      (2L, s"$run different tail here entirely now yes"),
      (3L, "no shared content in this document at all ever")
    ).toDF("doc_id", "text")
    val out = DedupSuite.spanCoverage(sdocs, "doc_id", "text", 5)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    assert(out(1L) == ((14L, 4L, 8L, 8.0 / 14.0)), s"got ${out(1L)}")
    assert(out(2L) == ((14L, 4L, 8L, 8.0 / 14.0)), s"got ${out(2L)}")
    assert(out(3L) == ((9L, 0L, 0L, 0.0)), s"got ${out(3L)}")
  }

  test("spanCoverage handles docs shorter than the shingle width") {
    val sdocs = Seq(
      (1L, "only three tokens"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta"),
      (3L, "alpha beta gamma delta epsilon zeta eta theta")
    ).toDF("doc_id", "text")
    val short = DedupSuite.spanCoverage(sdocs, "doc_id", "text", 5)
      .filter($"doc_id" === 1).head()
    // no width-5 shingle exists -> zero starts, zero coverage, frac 0
    assert(short.getLong(1) == 3L && short.getLong(2) == 0L &&
      short.getLong(3) == 0L && short.getDouble(4) == 0.0)
  }

  test("spanCoverage marks exact clones fully covered") {
    val sdocs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta"),
      (3L, "unrelated words that appear exactly once only here")
    ).toDF("doc_id", "text")
    val out = DedupSuite.spanCoverage(sdocs, "doc_id", "text", 5)
      .filter($"doc_id" <= 2).collect()
    out.foreach { r =>
      assert(r.getDouble(4) == 1.0, s"clone not fully covered: $r")
    }
  }

  test("simhashHammingPairs equals brute-force all-pairs at the threshold") {
    // Mixed fixture: exact clones (hamming 0), a 1-token edit, and a
    // spread of pseudo-random docs so some pairs land just above/below
    // the threshold. Deterministic seed — the assertion is exact set
    // equality against the O(n²) reference, which is the pigeonhole
    // recall=1 claim.
    val rnd = new scala.util.Random(42)
    val vocab = Array("alpha", "beta", "gamma", "delta", "epsilon", "zeta",
      "eta", "theta", "iota", "kappa", "my", "ny", "xi", "omikron")
    val base = (1L to 30L).map { i =>
      (i, Seq.fill(12)(vocab(rnd.nextInt(vocab.length))).mkString(" "))
    }
    val fixture = base ++ Seq(
      (101L, base.head._2),                 // exact clone of doc 1
      (102L, base.head._2 + " extra")       // near clone of doc 1
    )
    val df = fixture.toDF("doc_id", "text")
    val got = DedupSuite.simhashHammingPairs(df, "doc_id", "text",
        maxHamming = 3, bands = 4)
      .select("id_a", "id_b", "hamming").as[(Long, Long, Long)]
      .collect().toSet
    val sims = df.select($"doc_id", DedupSuite.simhash60($"text").as("sim"))
      .as[(Long, Long)].collect()
    val want = (for {
      (ia, sa) <- sims; (ib, sb) <- sims if ia < ib
      h = java.lang.Long.bitCount(sa ^ sb) if h <= 3
    } yield (ia, ib, h.toLong)).toSet
    assert(want.contains((1L, 101L, 0L)), "fixture lost its planted clone")
    assert(got == want, s"banding missed/invented pairs: ${got.diff(want)} / ${want.diff(got)}")
  }

  test("incrementalHammingPairs equals the full run restricted to batch-touching pairs") {
    // synthetic 60-bit hashes with planted near-dups straddling the
    // index/batch split: exact set equality against hammingPairs over
    // the union, keeping only pairs with a batch member — the d30
    // fold's pair-stream contract (cross AND batch-internal pairs)
    val rnd = new scala.util.Random(7)
    val mask60 = (1L << 60) - 1
    def flip(h: Long, bit: Int): Long = h ^ (1L << bit)
    val bases = (0 until 12).map(_ => rnd.nextLong() & mask60)
    // ids 0..11 base hashes; 100+i = 1-bit variant (same parity as the
    // base — in-side pair); 201+i = 3-bit variant at the threshold
    // (OPPOSITE parity — guaranteed cross pair under the even/odd
    // split); 302+i = 4-bit variant (excluded vs base, 1 vs 201+i)
    val all = bases.zipWithIndex.flatMap { case (h, i) =>
      Seq((i.toLong, h), (100L + i, flip(h, i % 60)),
        (201L + i, flip(flip(flip(h, i % 60), (i + 13) % 60), (i + 29) % 60)),
        (302L + i, flip(flip(flip(flip(h, i % 60), (i + 13) % 60),
          (i + 29) % 60), (i + 41) % 60)))
    }
    val df = all.toDF("doc_id", "ph")
    val index = df.filter($"doc_id" % 2 === 0)
    val batch = df.filter($"doc_id" % 2 === 1)
    val got = DedupSuite.incrementalHammingPairs(index, batch,
        "doc_id", "ph", maxHamming = 3, bands = 4)
      .select("id_a", "id_b", "hamming").as[(Long, Long, Long)]
      .collect().toSet
    val batchIds = all.map(_._1).filter(_ % 2 == 1).toSet
    val want = (for {
      (ia, ha) <- all; (ib, hb) <- all if ia < ib
      if batchIds(ia) || batchIds(ib)
      h = java.lang.Long.bitCount(ha ^ hb) if h <= 3
    } yield (ia, ib, h.toLong)).toSet
    assert(want.nonEmpty && want.exists { case (a, b, _) =>
      batchIds(a) && batchIds(b) }, "fixture lost its batch-internal pairs")
    assert(want.exists { case (a, b, _) => batchIds(a) ^ batchIds(b) },
      "fixture lost its cross pairs")
    assert(got == want,
      s"incremental probe missed/invented: ${want.diff(got)} / ${got.diff(want)}")
  }

  test("hammingIndexFold: store-served folds equal the in-memory probe, " +
      "compose across sequential batches + compaction, and read bucket-pruned") {
    // Same planted-variant fixture as the in-memory test: every
    // store-served assertion is exact SET equality against
    // incrementalHammingPairs (itself pinned to the full-run
    // restriction above), so store == memory == full-run by
    // transitivity. Two sequential folds with a compaction between
    // prove the d30/s18 ingest composition: fold 2's index is
    // corpus ∪ batch 1 (the store grew), and p1 ∪ p2 equals the full
    // run restricted to pairs touching either batch (no cap trips at
    // fixture scale, so sequential cap decisions are vacuously equal
    // to the full run's).
    val rnd = new scala.util.Random(7)
    val mask60 = (1L << 60) - 1
    def flip(h: Long, bit: Int): Long = h ^ (1L << bit)
    val bases = (0 until 12).map(_ => rnd.nextLong() & mask60)
    val all = bases.zipWithIndex.flatMap { case (h, i) =>
      Seq((i.toLong, h), (100L + i, flip(h, i % 60)),
        (201L + i, flip(flip(flip(h, i % 60), (i + 13) % 60), (i + 29) % 60)),
        (302L + i, flip(flip(flip(flip(h, i % 60), (i + 13) % 60),
          (i + 29) % 60), (i + 41) % 60)))
    }
    val df = all.toDF("doc_id", "ph")
    val index = df.filter($"doc_id" % 2 === 0)
    val b1 = df.filter($"doc_id" % 4 === 1)
    val b2 = df.filter($"doc_id" % 4 === 3)
    val tmp = java.nio.file.Files.createTempDirectory("ham_store")
    val store = s"$tmp/index"
    DedupSuite.hammingIndexBuild(index, "doc_id", "ph", store,
      bands = 4, nBuckets = 8)
    // pruned-read inventory on the production selection: every file
    // the fold would read for a bucket subset lies under exactly those
    // bucket dirs, and a strict subset is a strict file subset
    val allFiles = DedupSuite.hammingStoreFiles(spark, store, 0L until 32L)
    val someFiles = DedupSuite.hammingStoreFiles(spark, store, Seq(0L, 1L))
    assert(allFiles.nonEmpty && someFiles.size < allFiles.size)
    assert(someFiles.forall(f =>
      f.contains("bucket=0/") || f.contains("bucket=1/")))
    def brute(ids: Set[Long]): Set[(Long, Long, Long)] = (for {
      (ia, ha) <- all; (ib, hb) <- all if ia < ib
      if ids(ia) || ids(ib)
      h = java.lang.Long.bitCount(ha ^ hb) if h <= 3
    } yield (ia, ib, h.toLong)).toSet
    // each fold's emission, from its own output dir
    def fold(batch: org.apache.spark.sql.DataFrame, id: Long): Set[(Long, Long, Long)] = {
      DedupSuite.hammingIndexFold(spark, store, s"$tmp/out$id", batch, id,
        "doc_id", "ph", maxHamming = 3, autoCompactTrigger = 0)
      spark.read.parquet(s"$tmp/out$id")
        .select("id_a", "id_b", "hamming").as[(Long, Long, Long)]
        .collect().toSet
    }
    val p1 = fold(b1, 1L)
    val want1 = DedupSuite.incrementalHammingPairs(index, b1,
        "doc_id", "ph", maxHamming = 3, bands = 4)
      .select("id_a", "id_b", "hamming").as[(Long, Long, Long)]
      .collect().toSet
    assert(p1 == want1,
      s"store fold 1 diverged: ${want1.diff(p1)} / ${p1.diff(want1)}")
    // row-invariant maintenance between folds (the d26 mid-gate move)
    graft.operators.StoreCompaction.compactStore(spark, store)
    val p2 = fold(b2, 2L)
    val want2 = DedupSuite.incrementalHammingPairs(
        index.unionByName(b1), b2, "doc_id", "ph",
        maxHamming = 3, bands = 4)
      .select("id_a", "id_b", "hamming").as[(Long, Long, Long)]
      .collect().toSet
    assert(p2 == want2,
      s"store fold 2 (post-compaction, index grown by batch 1) diverged: " +
        s"${want2.diff(p2)} / ${p2.diff(want2)}")
    val batchIds = all.map(_._1).filter(_ % 2 == 1).toSet
    assert((p1 ++ p2) == brute(batchIds),
      "sequential folds did not compose to the full-run restriction")
    // single-image batch: genuine pruning (≤ 4 of 32 buckets read) —
    // asserted through the same file-selection helper the fold uses
    val one = df.filter($"doc_id" === 302L)
    val oneSim = one.select($"ph").as[Long].head()
    val oneBuckets = (0 until 4).map(b =>
      b.toLong * 8 + java.lang.Math.floorMod((oneSim >> (b * 15)) & 0x7fffL, 8L))
      .distinct.sorted
    assert(oneBuckets.size <= 4 &&
      DedupSuite.hammingStoreFiles(spark, store, oneBuckets).size < allFiles.size)
    org.apache.hadoop.fs.FileUtil.fullyDelete(tmp.toFile)
  }

  test("simhashHammingPairs rejects band counts that break pigeonhole exactness") {
    intercept[IllegalArgumentException] {
      DedupSuite.simhashHammingPairs(docs, "doc_id", "text",
        maxHamming = 5, bands = 4)
    }
    intercept[IllegalArgumentException] {
      DedupSuite.simhashHammingPairs(docs, "doc_id", "text", bands = 7)
    }
  }

  test("exactSubstrDedup: keep-first cross-doc span removal, closed form") {
    // docs 1 and 2 share a 10-token run (l=8 -> 3 duplicated windows
    // in each); doc 1 is lexicographically first so it KEEPS the run,
    // doc 2 loses exactly the 10 run tokens. doc 3 untouched.
    val run = "one two three four five six seven eight nine ten"
    val docs = Seq(
      (1L, s"$run alpha beta gamma"),
      (2L, s"prefix0 prefix1 $run tail0 tail1"),
      (3L, "no shared content in this document at all ever")
    ).toDF("doc_id", "text")
    val out = DedupSuite.exactSubstrDedup(docs, "doc_id", "text", l = 8)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2))))
      .toMap
    assert(out(1L) == ((s"$run alpha beta gamma", 0L)), s"got ${out(1L)}")
    assert(out(2L) == (("prefix0 prefix1 tail0 tail1", 10L)), s"got ${out(2L)}")
    assert(out(3L) == (("no shared content in this document at all ever", 0L)))
  }

  test("exactSubstrDedup: within-doc repetition loses the second occurrence") {
    val run = "a1 a2 a3 a4 a5 a6 a7 a8"
    val docs = Seq((5L, s"$run mid0 mid1 $run end0")).toDF("doc_id", "text")
    val out = DedupSuite.exactSubstrDedup(docs, "doc_id", "text", l = 8)
      .collect().map(r => (r.getString(1), r.getLong(2))).head
    assert(out == ((s"$run mid0 mid1 end0", 8L)), s"got $out")
  }

  test("exactSubstrDedup: docs below the window length are never cut; empty docs drop") {
    val docs = Seq((1L, "short doc here"), (2L, "short doc here"),
      (3L, "")).toDF("doc_id", "text")
    val out = DedupSuite.exactSubstrDedup(docs, "doc_id", "text", l = 8)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2))))
      .toMap
    // identical 3-token docs: no window of 8 exists, nothing removed
    assert(out(1L) == (("short doc here", 0L)))
    assert(out(2L) == (("short doc here", 0L)))
    assert(!out.contains(3L), "zero-token doc emits no token rows")
  }

  test("exactSubstrDedup: hashed keys reproduce the text-keyed result") {
    // digest keys shuffle a fixed 16-byte md5 instead of 8 words —
    // 128 bits is collision-safe (d11 argument), outputs identical
    val run = "one two three four five six seven eight nine ten"
    val docs = (0L until 40L).map { i =>
      if (i % 4 == 0) (i, s"$run filler${i} more${i} yet${i}")
      else (i, s"unique${i} body${i} text${i} of${i} doc${i} number${i} fill${i} pad${i} tail${i}")
    }.toDF("doc_id", "text")
    val textKeyed = DedupSuite.exactSubstrDedup(docs, "doc_id", "text", 8)
    val hashed = DedupSuite.exactSubstrDedup(docs, "doc_id", "text", 8,
      hashKeys = true)
    assert(textKeyed.exceptAll(hashed).isEmpty &&
      hashed.exceptAll(textKeyed).isEmpty,
      "hashed-key plan must reproduce the text-keyed result")
  }

  /** Fold `batch` into `store` as batch `id`; returns the rows that
    * fold emitted (its own output dir). */
  private def substrFold(store: String, batch: DataFrame, id: Long,
                         l: Int = 8, nBuckets: Int = 64,
                         hashKeys: Boolean = false): DataFrame = {
    val out = s"$store-out$id"
    DedupSuite.exactSubstrFold(spark, store, out, batch, id, "doc_id",
      "text", l, nBuckets, hashKeys)
    spark.read.parquet(out).select("doc_id", "clean_text", "n_removed")
  }

  private def substrFixture: DataFrame = {
    val run = "one two three four five six seven eight nine ten"
    (0L until 40L).map { i =>
      if (i % 4 == 0) (i, s"$run filler${i} more${i} yet${i}")
      else (i, s"unique${i} body${i} text${i} of${i} doc${i} number${i} fill${i} pad${i} tail${i}")
    }.toDF("doc_id", "text")
  }

  test("exactSubstr fold == full recompute across monotonic batches") {
    val docs = substrFixture
    val full = DedupSuite.exactSubstrDedup(docs, "doc_id", "text", 8)
    for (hashed <- Seq(false, true)) {
      val store = java.nio.file.Files
        .createTempDirectory("substr_store").toString + "/state"
      val out1 = DedupSuite.exactSubstrBuildStore(
        docs.filter(col("doc_id") < 14), "doc_id", "text", 8, store,
        nBuckets = 16, hashKeys = hashed)
      val out2 = substrFold(store,
        docs.filter(col("doc_id") >= 14 && col("doc_id") < 27), 1L,
        nBuckets = 16, hashKeys = hashed)
      // maintenance mid-run: collapse each key's build+delta rows —
      // fold 3 must read the vacuumed store identically, and every
      // key holds exactly one row afterwards
      DedupSuite.vacuumSubstrStore(spark, store)
      val maxRows = spark.read.parquet(store).groupBy(col("wkey"))
        .count().agg(max(col("count"))).head().getLong(0)
      assert(maxRows == 1L,
        "vacuum must collapse deltas to one row per window key")
      val out3 = substrFold(store, docs.filter(col("doc_id") >= 27), 2L,
        nBuckets = 16, hashKeys = hashed)
      val folded = out1.unionByName(out2).unionByName(out3)
      assert(full.exceptAll(folded).isEmpty &&
        folded.exceptAll(full).isEmpty,
        s"fold (hashKeys=$hashed) must reproduce the full recompute")
    }
  }

  test("exactSubstr fold: a singleton stored key still cuts a later copy") {
    // the counter-example that forces cnt=1 keys into the store: the
    // run appears ONCE in the initial corpus (nothing is cut there)
    // and once more in a later batch — keep-first must cut the batch
    // copy, which only works if the singleton occurrence was stored
    val run = "s1 s2 s3 s4 s5 s6 s7 s8"
    val store = java.nio.file.Files
      .createTempDirectory("substr_single").toString + "/state"
    val out1 = DedupSuite.exactSubstrBuildStore(
      Seq((1L, s"$run alpha beta")).toDF("doc_id", "text"),
      "doc_id", "text", 8, store)
    assert(out1.collect().head.getLong(2) == 0L,
      "initial singleton occurrence is kept intact")
    val out2 = substrFold(store,
      Seq((2L, s"pre0 pre1 $run post0")).toDF("doc_id", "text"), 1L)
      .collect().map(r => (r.getString(1), r.getLong(2))).head
    assert(out2 == (("pre0 pre1 post0", 8L)), s"got $out2")
  }

  test("exactSubstr fold rejects non-monotonic doc ids loudly") {
    val store = java.nio.file.Files
      .createTempDirectory("substr_mono").toString + "/state"
    DedupSuite.exactSubstrBuildStore(
      substrFixture.filter(col("doc_id") < 20), "doc_id", "text", 8, store)
    val e = intercept[IllegalArgumentException] {
      substrFold(store, substrFixture.filter(col("doc_id") >= 15), 1L)
    }
    assert(e.getMessage.contains("monotonic-ingest"))
  }

  test("exactSubstr fold rejects a mismatched store layout loudly") {
    // l / hashKeys define what a key IS, nBuckets where it LIVES — a
    // fold with any of them different would silently keep batch
    // duplicates of stored text, so the store's _meta pins them
    val store = java.nio.file.Files
      .createTempDirectory("substr_meta").toString + "/state"
    DedupSuite.exactSubstrBuildStore(
      substrFixture.filter(col("doc_id") < 20), "doc_id", "text", 8,
      store, nBuckets = 16, hashKeys = false)
    val batch = substrFixture.filter(col("doc_id") >= 20)
    for ((l2, nb2, hk2) <- Seq((9, 16, false), (8, 32, false), (8, 16, true))) {
      val e = intercept[IllegalArgumentException] {
        substrFold(store, batch, 1L, l2, nBuckets = nb2, hashKeys = hk2)
      }
      assert(e.getMessage.contains("store layout mismatch"),
        s"(l=$l2, nBuckets=$nb2, hashKeys=$hk2) must be rejected")
    }
    // matched parameters still fold
    assert(substrFold(store, batch, 1L, nBuckets = 16).count() > 0)
  }

  test("exactSubstr fold reads only the batch's bucket partitions") {
    // the q92 unread-proof, applied to the fold's pinned store read
    // (substrStoreFiles — asserted directly, the candidateStoreRows
    // discipline, on EXACTLY the selection the fold issues): the
    // driver-side file snapshot must inventory every file of the
    // requested buckets and no file outside them
    val store = java.nio.file.Files
      .createTempDirectory("substr_prune").toString + "/state"
    DedupSuite.exactSubstrBuildStore(substrFixture, "doc_id", "text", 8,
      store, nBuckets = 16)
    val allBuckets = spark.read.parquet(store)
      .select("bucket").distinct().count()
    assert(allBuckets > 2, "fixture must spread keys over many buckets")
    // the single-window batch the fold would derive this bucket set
    // from (bit-identical crc32 mod — the HeavyHitters.bucketOf twin)
    val wkey = "w1 w2 w3 w4 w5 w6 w7 w8"
    val c = new java.util.zip.CRC32
    c.update(wkey.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val b = c.getValue % 16
    val files = DedupSuite.substrStoreFiles(spark, store, Seq(b))
    assert(files.nonEmpty, "requested bucket must hold files")
    assert(files.forall(_.contains(s"bucket=$b/")),
      s"snapshot must list only bucket $b, saw:\n${files.mkString("\n")}")
    // completeness: the snapshot holds every key row of its bucket
    val viaSnapshot = spark.read.parquet(files: _*).count()
    val viaStore = spark.read.parquet(store)
      .filter(col("bucket") === b).count()
    assert(viaSnapshot === viaStore,
      "snapshot must cover the full bucket")
    // and the scan built on the snapshot touches exactly those files
    val pruned = spark.read.parquet(files: _*)
    pruned.collect()
    val scanned = pruned.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.selectedPartitions.toPartitionArray.toSeq.map(_.filePath.toString)
    }.flatten
    assert(scanned.nonEmpty && scanned.forall(_.contains(s"bucket=$b/")),
      s"scan must touch only bucket $b, saw:\n${scanned.mkString("\n")}")
    // and the fold built on this read still cuts a stored duplicate
    val batchText = substrFixture.filter(col("doc_id") === 1L)
      .select("text").as[String].head()
    val out = substrFold(store, Seq((99L, batchText)).toDF("doc_id", "text"),
      1L, nBuckets = 16)
    assert(out.collect().head.getLong(2) > 0L,
      "duplicated batch text must be cut against the stored original")
  }

  test("unioned fold outputs stay exact when scans canonicalize equal") {
    // regression: a caller that unions several folds' outputs into
    // ONE plan must not lose a later fold's view of an earlier
    // fold's delta. With identical store-scan canonical forms (same
    // path; nBuckets=1 forces the same `bucket IN (0)` filter on
    // every fold), exchange reuse would serve fold B's scan from
    // fold A's materialization — listed BEFORE A's delta landed — and
    // the cross-batch duplicate would silently survive. Each fold
    // writes its emission before it returns, so the union carries no
    // store scan at all.
    val run = "cb1 cb2 cb3 cb4 cb5 cb6 cb7 cb8"
    val build = Seq((0L, "z1 z2 z3 z4 z5 z6 z7 z8 z9")).toDF("doc_id", "text")
    val bA = Seq((10L, s"$run xa xb")).toDF("doc_id", "text")
    val bB = Seq((20L, s"ya yb $run")).toDF("doc_id", "text")
    val store = java.nio.file.Files
      .createTempDirectory("substr_union").toString + "/state"
    val o1 = DedupSuite.exactSubstrBuildStore(build, "doc_id", "text", 8,
      store, nBuckets = 1)
    val o2 = substrFold(store, bA, 1L, nBuckets = 1)
    val o3 = substrFold(store, bB, 2L, nBuckets = 1)
    // materialize the three AS ONE PLAN — the failing shape
    val got = o1.unionByName(o2).unionByName(o3)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(got.contains((10L, s"$run xa xb", 0L)),
      s"first occurrence keeps the run, got $got")
    assert(got.contains((20L, "ya yb", 8L)),
      s"doc 20's copy must be cut against fold A's delta, got $got")
  }
}
