package graft.operators

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Per-bucket Bloom sidecars for bucket-partitioned key stores — the
  * r16 cost model pinned the incremental ExactSubstr fold's floor at
  * the store KEY scan: window keys are uniform digests, so parquet
  * min/max pruning never bites, and bucket pruning by the batch's own
  * bucket set stops biting once the batch carries more distinct keys
  * than there are buckets (a 10 k-doc batch covers all 64). The
  * sidecar closes the STEADY-STATE shape (small batch, big store): a
  * per-(bucket, fold) Bloom over the delta's key hashes lets a fold
  * skip every bucket in which NONE of its keys can exist — the bucket
  * is read only on a maybe-hit, so false positives cost a redundant
  * scan, never correctness.
  *
  * Layout: `<store>/_bloomside/bucket=<b>/…` rows
  * `(items LONG, bloom BINARY)` — one row per (bucket, writer pass).
  * The leading underscore keeps the sidecar invisible to Spark's file
  * index, the store's own listings, and the delta-count maintenance
  * trigger. `items = -1` marks a bucket whose key count exceeded the
  * builder's memory cap: readers treat it as always-hit (unprunable),
  * never as absent.
  *
  * Coverage contract (what makes a skip sound): every key in a
  * bucket's store files is covered by some bloom row in that bucket's
  * sidecar dir. Maintainers uphold it by construction — the build
  * writes one pass over the full store, every subsequent fold stages
  * a row per touched bucket beside its delta and promotes both in one
  * staged commit, and the vacuum REBUILDS the sidecar from the collapsed
  * store under an atomic two-rename swap whose only crash residue is
  * an ABSENT sidecar. Readers are conservative at every hole: store
  * without a `_bloomside` dir → no pruning; bucket dir missing or
  * empty → that bucket is scanned; sidecar bytes over the read cap →
  * no pruning. A fold crashed mid-promote can leave delta files
  * without their bloom row, but it is not marked applied, and a
  * single maintainer replays it before any further fold or serve, so
  * a committed store never has uncovered keys.
  *
  * 100 TB: bloom bytes ≈ 1.2 B/key (fpp 0.01) — ~80× less than the
  * 16-byte digest column the fold would otherwise scan; the driver
  * reads only the BATCH's buckets' rows under an explicit byte cap,
  * and per-row build memory is bounded by [[MaxItemsPerBloom]]. */
object BloomSide {
  val DirName = "_bloomside"
  val Fpp = 0.01
  /** Per-bloom-row key cap: bounds the builder task's hash buffer
    * (8 B × cap). A bucket beyond it emits the `items = -1` sentinel
    * (correct, just unprunable) — at that size the store wants more
    * buckets, not bigger blooms. */
  val MaxItemsPerBloom = 4 * 1024 * 1024

  private def bloomOf(hashes: Array[Long]): Array[Byte] = {
    val bf = org.apache.spark.util.sketch.BloomFilter
      .create(math.max(hashes.length, 16).toLong, Fpp)
    hashes.foreach(bf.putLong)
    val bos = new java.io.ByteArrayOutputStream()
    bf.writeTo(bos)
    bos.toByteArray
  }

  /** One bloom row per bucket over `xxhash64(key)` — 64-bit key
    * hashing in front of the bloom is collision-safe for PRUNING (a
    * collision can only add a false hit). Buffers one bucket's hashes
    * per task, capped by [[MaxItemsPerBloom]]. */
  private def bloomRows(keyed: DataFrame, bucketCol: String,
                        keyCol: String): DataFrame = {
    val spark = keyed.sparkSession
    import spark.implicits._
    keyed.select(col(bucketCol).cast("long"), xxhash64(col(keyCol)))
      .as[(Long, Long)]
      .groupByKey(_._1)
      .mapGroups { (b, it) =>
        val buf = new scala.collection.mutable.ArrayBuffer[Long](1024)
        var over = false
        while (it.hasNext) {
          val h = it.next()._2
          if (!over) {
            buf += h
            if (buf.length > MaxItemsPerBloom) { over = true; buf.clear() }
          }
        }
        if (over) (b, -1L, Array.emptyByteArray)
        else (b, buf.length.toLong, bloomOf(buf.toArray))
      }
      .toDF("bucket", "items", "bloom")
  }

  private def root(path: String): Path = new Path(path, DirName)

  /** Whether `path` maintains a bloom sidecar (listing-only). Folds
    * key their bloom artifact on this so a store built without the
    * sidecar never gains partial coverage. */
  def maintained(spark: SparkSession, path: String): Boolean =
    StoreFiles.fs(spark, path).isDirectory(root(path))

  /** Stage one bloom row per bucket of `keyed` (a fold's delta, already
    * bucket-clustered) under an arbitrary dir in the live sidecar's
    * layout, WITHOUT touching the store — the bloom artifact of the
    * substr fold's staged commit ([[DedupSuite.substrCommit]]), which
    * promotes it into the live sidecar. */
  def stageDelta(keyed: DataFrame, stagedDir: String, bucketCol: String,
                 keyCol: String): Unit =
    bloomRows(keyed, bucketCol, keyCol)
      .write.mode("overwrite").partitionBy("bucket")
      .parquet(stagedDir)

  /** Stage a FRESH sidecar from an in-memory keyed frame (the build's
    * checkpointed aggregation) into the SIBLING dir
    * `<path>_bloomside.seed` — no store read-back, and no write under
    * `path` itself, so the caller can run it concurrently with the
    * store's own `mode("overwrite")` write (which deletes the whole
    * store dir up front: a seed written directly under `path` could be
    * erased mid-commit, leaving a PARTIAL sidecar whose
    * `maintained() = true` would license pruning against uncovered
    * keys). The caller invokes [[installSeed]] strictly AFTER the
    * store write commits; a crash between the two leaves the store
    * WITHOUT a sidecar (readers never prune — safe) plus a leaked
    * staging dir this method sweeps on the next seed. */
  def seedFreshStaged(keyed: DataFrame, path: String, bucketCol: String,
                      keyCol: String): Unit = {
    val staged = seedStagingDir(path)
    StoreFiles.delete(StoreFiles.fs(keyed.sparkSession, path), staged)
    bloomRows(keyed, bucketCol, keyCol)
      .write.mode("overwrite").partitionBy("bucket")
      .parquet(staged.toString)
  }

  private def seedStagingDir(path: String): Path = new Path(s"$path$DirName.seed")

  /** Publish the committed sidecar `staged` as the live one through
    * [[StoreFiles.swap]]. Its crash residue is at worst an absent
    * sidecar (readers stop pruning until the next rebuild), never
    * stale coverage — so the residue of a crashed swap is DROPPED
    * before the next one, never finished or restored: folds that ran
    * meanwhile found no sidecar and appended no bloom rows, so
    * either leftover copy would miss their keys. */
  private def publish(fs: FileSystem, path: String, staged: Path): Unit = {
    val trash = new Path(path, s"$DirName.trash")
    StoreFiles.delete(fs, trash)
    StoreFiles.swap(fs, staged, root(path), trash)
  }

  /** Install a [[seedFreshStaged]] staging as the live sidecar. Call
    * strictly after the store write commits — sequencing, not
    * concurrency, is what closes the overwrite-erases-sidecar race. */
  def installSeed(spark: SparkSession, path: String): Unit = {
    val fs = StoreFiles.fs(spark, path)
    val staged = seedStagingDir(path)
    require(fs.isDirectory(staged),
      s"no staged bloom seed at $staged — seedFreshStaged must complete first")
    publish(fs, path, staged)
  }

  /** (Re)build the sidecar from the live store's keys under
    * `_bloomside.staged` and publish it. */
  def rebuildFromStore(spark: SparkSession, path: String,
                       bucketCol: String, keyCol: String): Unit = {
    val fs = StoreFiles.fs(spark, path)
    val staged = new Path(path, s"$DirName.staged")
    StoreFiles.delete(fs, staged)
    bloomRows(
        spark.read.parquet(path).select(col(bucketCol), col(keyCol)),
        bucketCol, keyCol)
      .write.mode("overwrite").partitionBy("bucket")
      .parquet(staged.toString)
    publish(fs, path, staged)
  }

  /** Driver-side prune: the subset of `buckets` that might contain
    * any of the caller's key hashes (`hashesByBucket`, batch-bounded
    * by the fold's broadcast contract). Conservative everywhere — a
    * bucket survives unless its sidecar dir exists, every row is a
    * real bloom, and every batch hash for it misses every row. The
    * listing-only `maxBytes` cap bounds what the driver will read
    * (over it → no pruning, no read). The read is DRIVER-DIRECT
    * parquet-mr, not a Spark job: the whole prune costs zero fixed
    * job latencies, so attempting it can never make a fold slower
    * than the unpruned scan it replaces. */
  def pruneBuckets(spark: SparkSession, path: String, buckets: Seq[Long],
                   hashesByBucket: Map[Long, Array[Long]],
                   maxBytes: Long = 64L << 20): Seq[Long] = {
    val fs = StoreFiles.fs(spark, path)
    val files = StoreFiles.bucketFiles(fs, root(path), buckets)
    if (files.isEmpty) return buckets
    if (files.iterator.flatMap(_._2).map(_.getLen).sum > maxBytes) return buckets
    // (items, bloom) rows per bucket, read driver-direct. Reader
    // setup dominates (tens of ms per file open), so the per-file
    // reads fan out on a small pool and land in a memo cache —
    // parquet files are immutable (appends add files, the vacuum
    // swaps whole dirs), so repeated folds against the same store
    // pay the read once.
    val distinctFiles = files.flatMap(_._2).distinct
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.max(1, math.min(16, distinctFiles.size)))
    val read: Map[FileStatus, Option[Seq[(Long, Array[Byte])]]] =
      try {
        implicit val ec: scala.concurrent.ExecutionContext =
          scala.concurrent.ExecutionContext.fromExecutor(pool)
        scala.concurrent.Await.result(
          scala.concurrent.Future.sequence(distinctFiles.map(p =>
            scala.concurrent.Future(p -> cachedBloomRows(fs, p)))),
          scala.concurrent.duration.Duration.Inf).toMap
      } finally pool.shutdown()
    // A bucket is prunable only when EVERY one of its sidecar files
    // read cleanly: a failed file may hold the only coverage for some
    // stored keys, so partial rows must not license a skip.
    val byBucket: Map[Long, Option[Seq[(Long, Array[Byte])]]] =
      files.map { case (b, sts) =>
        val perFile = sts.map(read.getOrElse(_, None))
        b -> (if (perFile.exists(_.isEmpty)) None
              else Some(perFile.flatMap(_.get)))
      }.toMap
    buckets.filter { b =>
      byBucket.get(b) match {
        case None | Some(None) => true // missing or any unreadable file: scan it
        case Some(Some(Nil))   => true // no rows at all: scan it
        case Some(Some(rs)) =>
          val hs = hashesByBucket.getOrElse(b, Array.emptyLongArray)
          rs.exists { case (items, bloomBytes) =>
            items < 0 || {
              val bf = org.apache.spark.util.sketch.BloomFilter.readFrom(
                new java.io.ByteArrayInputStream(bloomBytes))
              hs.exists(bf.mightContainLong)
            }
          }
      }
    }
  }

  /** Memo cache over [[readBloomRows]], keyed by (path, length) —
    * sound because sidecar parquet files are immutable. FAILED reads
    * are never cached (the hole would persist across folds); only
    * clean row sets memoize. Bounded crudely: past [[CacheMaxBytes]]
    * of bloom payload the whole map clears (the next fold re-reads;
    * correctness is unaffected). */
  private val CacheMaxBytes = 256L << 20
  private val cacheBytes = new java.util.concurrent.atomic.AtomicLong()
  private val cache = new java.util.concurrent.ConcurrentHashMap[
    (String, Long), Seq[(Long, Array[Byte])]]()
  private def cachedBloomRows(fs: FileSystem,
                              st: FileStatus): Option[Seq[(Long, Array[Byte])]] = {
    val size = st.getLen
    val key = (st.getPath.toString, size)
    val hit = cache.get(key)
    if (hit != null) return Some(hit)
    val rows = readBloomRows(fs, st.getPath)
    rows.foreach { rs =>
      if (cacheBytes.addAndGet(size) > CacheMaxBytes) {
        cache.clear(); cacheBytes.set(size)
      }
      cache.put(key, rs)
    }
    rows
  }

  /** Read one sidecar file's (items, bloom) rows with parquet-mr on
    * the calling thread. Any read failure → None, distinct from a
    * clean zero-row file (callers must treat None as "this file's
    * coverage is unknown" and keep its bucket unprunable). */
  private def readBloomRows(fs: FileSystem,
                            p: Path): Option[Seq[(Long, Array[Byte])]] =
    try {
      val reader = org.apache.parquet.hadoop.ParquetReader
        .builder(new org.apache.parquet.hadoop.example.GroupReadSupport(), p)
        .withConf(fs.getConf)
        .build()
      try {
        val out = scala.collection.mutable.ListBuffer.empty[(Long, Array[Byte])]
        var g = reader.read()
        while (g != null) {
          val items = g.getLong("items", 0)
          val bloom =
            if (items < 0) Array.emptyByteArray
            else g.getBinary("bloom", 0).getBytes
          out += ((items, bloom))
          g = reader.read()
        }
        Some(out.toList)
      } finally reader.close()
    } catch { case _: Throwable => None }
}
