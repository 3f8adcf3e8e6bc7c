package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** Deterministic Bloom-filter runtime pre-filter.
  *
  * The 100-TB shape this exists for: `batch LEFT ANTI seen` where
  * `seen` is the already-ingested corpus (huge) and `batch` is the new
  * increment (comparatively small). The plain anti join shuffles BOTH
  * sides on the key; at corpus scale the `seen` shuffle dominates and
  * is almost entirely wasted — the overwhelming majority of seen rows
  * match nothing in the batch. Building a Bloom filter over the BATCH
  * keys and filtering `seen` with it before the join drops those rows
  * at the scan, so only candidate rows reach the exchange. This is
  * exactly what Spark's own `InjectRuntimeFilter` rule does with
  * `BloomFilterAggregate` + `BloomFilterMightContain` for selective
  * equi-joins; it is re-expressed here with public API so the sizing,
  * accounting, and determinism are under the engine's control.
  *
  * Correctness does NOT depend on the false-positive rate: the filter
  * only ever REMOVES seen rows that provably match no batch key (no
  * false negatives by construction), and a false positive merely lets a
  * non-matching seen row survive to the exact join, where it matches
  * nothing. The output is bit-identical to the plain anti join — which
  * is what the d14 oracle checks.
  *
  * Layout: m = nWords*64 bits; k probes per key via Kirsch–Mitzenmacher
  * double hashing (pos_i = h1 + i*h2 mod m) over two independent
  * xxhash64 hashes. The build side is a typed [[Aggregator]] whose
  * buffer is the bitmap itself — reduce sets bits, merge ORs buffers —
  * so the build is a single partial-aggregable pass (map-side combine,
  * no shuffle of the keys). The probe side is the native codegen
  * expression [[graft.plans.BloomMightContain]] over a
  * torrent-broadcast bitmap (an array-literal variant exists for small
  * filters), so it stays inside whole-stage codegen without shipping
  * the bitmap in task binaries.
  */
object BloomFilter {

  /** Bitmap geometry. `nWords` 64-bit words (bitmap = 8*nWords bytes,
    * torrent-broadcast to executors — capped well under driver/task
    * limits), `k` probes per key. */
  final case class Params(nWords: Int, k: Int) {
    require(nWords > 0 && nWords <= (1 << 22), "bitmap capped at 32 MiB")
    require(k >= 1 && k <= 8, "1..8 probes")
    def mBits: Long = nWords.toLong * 64L
  }

  /** Standard sizing: m = -n ln(p) / ln(2)^2, k = m/n ln(2). At cluster
    * scale `expectedKeys` comes from table stats or a cheap count of the
    * (small) build side — the same estimate Spark's runtime-filter rule
    * takes from plan statistics. */
  def sized(expectedKeys: Long, fpp: Double): Params = {
    require(expectedKeys > 0 && fpp > 0 && fpp < 1)
    val ln2 = math.log(2)
    val m = math.ceil(-expectedKeys.toDouble * math.log(fpp) / (ln2 * ln2))
    val nWords = math.min((math.ceil(m / 64.0)).toLong.max(1L), (1L << 22)).toInt
    val k = math.max(1L, math.round(nWords.toLong * 64.0 / expectedKeys * ln2))
    Params(nWords, math.min(k, 8L).toInt)
  }

  /** Sizing from the build side's PLAN STATISTICS — no extra scan.
    * d14 originally sized with `batch.count()`, a full second pass
    * over the build side per run (ADVICE r6); this reads the
    * optimizer's row estimate instead (exact `rowCount` under CBO,
    * else `sizeInBytes / row width` — the same estimate Spark's own
    * `InjectRuntimeFilter` takes). The estimate can be off a few x
    * either way and that is FINE for bitmap geometry: under-sizing
    * degrades fpp gracefully (4x under ≈ fpp 0.01 → ~0.3, still
    * pruning), over-sizing wastes bounded memory (32 MiB cap), and
    * correctness never depends on fpp at all. Callers that already
    * hold an exact count should use [[sized]] directly. */
  def sizedFor(df: DataFrame, fpp: Double): Params = {
    val plan = df.queryExecution.optimizedPlan
    val stats = plan.stats
    val rows = stats.rowCount.map(_.toLong).getOrElse {
      val width = math.max(plan.output.map(_.dataType.defaultSize).sum, 1)
      (stats.sizeInBytes / width).toLong
    }
    sized(math.max(rows, 1L), fpp)
  }

  private val Seed2 = "graft-bloom-h2"

  /** The two base hashes every probe derives from. Key is hashed as a
    * string column; callers hash whatever identity they dedup on (e.g.
    * an md5 content digest) to one canonical string first. */
  private def h1(key: Column): Column = xxhash64(key)
  private def h2(key: Column): Column = xxhash64(key, lit(Seed2))

  /** Bitmap-building aggregator: IN = (h1, h2) per key, BUF = OUT = the
    * bitmap. Associative + commutative (bit-OR), so partial buffers
    * combine in any merge-tree shape — the property that makes the
    * build one map-side-combined pass at any scale. */
  private final class OrAgg(p: Params)
    extends Aggregator[(Long, Long), Array[Long], Array[Long]] {
    override def zero: Array[Long] = new Array[Long](p.nWords)
    override def reduce(b: Array[Long], in: (Long, Long)): Array[Long] = {
      // KM probes in the mod-m domain so the arithmetic never overflows
      // a long — the Column probe in mightContain computes the SAME
      // expression under ANSI mode (m <= 2^28, i <= 8 -> sum < 2^32)
      val m = p.mBits
      val a = java.lang.Math.floorMod(in._1, m)
      val h = java.lang.Math.floorMod(in._2, m)
      var i = 0
      while (i < p.k) {
        val pos = (a + i.toLong * h) % m
        b((pos >>> 6).toInt) |= (1L << (pos & 63L))
        i += 1
      }
      b
    }
    override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
      var i = 0
      while (i < a.length) { a(i) |= b(i); i += 1 }
      a
    }
    override def finish(r: Array[Long]): Array[Long] = r
    override def bufferEncoder: Encoder[Array[Long]] = ExpressionEncoder()
    override def outputEncoder: Encoder[Array[Long]] = ExpressionEncoder()
  }

  /** Builds the bitmap over `key` of `df` in one aggregate job. The
    * driver materializes exactly ONE row of `8*nWords` bytes (bounded
    * by [[Params]]'s 32 MiB cap) — the same driver-side scalar-subquery
    * collect Spark's runtime bloom filter performs. */
  def build(df: DataFrame, key: Column, p: Params): Array[Long] = {
    val hashed = df.select(h1(key).as("_1"), h2(key).as("_2"))
      .as[(Long, Long)](Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong))
    hashed.select(new OrAgg(p).toColumn).head()
  }

  /** Membership probe against a torrent-broadcast bitmap via the
    * native codegen expression [[graft.plans.BloomMightContain]] — the
    * form every large-filter path must use. The array-literal variant
    * below Java-serializes a 12 MiB bitmap to ~140 MiB of boxed Longs
    * in EVERY task binary (round-6 soak: pruned anti join 130x slower
    * than plain, inverting the optimization); the broadcast handle
    * serializes to bytes and executors fetch the primitive blocks
    * once. */
  def mightContain(key: Column,
                   bc: org.apache.spark.broadcast.Broadcast[Array[Long]],
                   k: Int): Column =
    // Direct construction pins this call's (bc, k) into the Column at
    // build time: two probe Columns built before either is analyzed
    // each keep their own broadcast, and no session is involved.
    org.apache.spark.sql.GraftColumnBridge.column(
      graft.plans.BloomMightContain(
        org.apache.spark.sql.GraftColumnBridge.expression(h1(key)),
        org.apache.spark.sql.GraftColumnBridge.expression(h2(key)),
        bc, k))

  /** Membership probe with the bitmap as an ARRAY LITERAL: k AND-ed
    * built-in bit tests. No false negatives. Only for small bitmaps
    * (see the broadcast overload above — a literal bitmap ships with
    * every task binary). */
  def mightContain(key: Column, bits: Array[Long], k: Int): Column = {
    val mBits = bits.length.toLong * 64L
    val arr = lit(bits)
    val a = pmod(h1(key), lit(mBits)); val b = pmod(h2(key), lit(mBits))
    (0 until k).map { i =>
      val pos = pmod(a + lit(i.toLong) * b, lit(mBits))
      val word = element_at(arr, (shiftright(pos, 6) + lit(1)).cast("int"))
      getbit(word, pos.bitwiseAND(lit(63L))) === lit(1L)
    }.reduce(_ && _)
  }

  /** `batch LEFT ANTI seen` with the seen side bloom-pruned. `batchKey`
    * and `seenKey` are the join identity expressed over each side's
    * columns (they must compute the same value for matching rows).
    * Pruning is accounted via `observe("bloom_prune", ...)`: seen_rows
    * in vs kept_rows out, so the effectiveness of the filter is a
    * queryable metric, not a guess (same discipline as the LSH
    * hot-bucket cap). */
  def prunedLeftAnti(batch: DataFrame, seen: DataFrame,
                     batchKey: Column, seenKey: Column,
                     p: Params): DataFrame = {
    require(!seen.columns.contains("_bloom_hit"),
      "prunedLeftAnti: `seen` already has a _bloom_hit column — the " +
        "helper column would silently replace it and corrupt the join input")
    val bits = build(batch, batchKey, p)
    val bc = batch.sparkSession.sparkContext.broadcast(bits)
    val candidates = seen
      .withColumn("_bloom_hit", mightContain(seenKey, bc, p.k))
      .observe("bloom_prune",
        count(lit(1)).as("seen_rows"),
        sum(when(col("_bloom_hit"), 1L).otherwise(0L)).as("kept_rows"))
      .filter(col("_bloom_hit")).drop("_bloom_hit")
    batch.join(candidates, batchKey === seenKey, "left_anti")
  }
}
