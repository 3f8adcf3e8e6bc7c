package graft.catalog

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{PerJvm, Tables}
import graft.functions.TextFunctions._
import graft.operators._
import graft.operators.Marts.dec2
import graft.streaming.{PassStream, StreamPass}
import CorpusGates.corpusTicker
import CurationGates.{plantedSkewKey, q77Fixture, quantileEvents}
import DedupGates.substrCorpus
import EmbeddingGates.pqCodeCtes
import Fixtures._

/** s-gates: the 18 graded streams of the one shared pass
  * (graft.streaming.StreamPass), each declared once with its oracle. A
  * stream's gate reads the result its stream materialized in the pass per
  * (JVM, sf dir); most streams are gated by the oracle of their batch
  * twin. */
object StreamGates {

  /** Verbatim copy of `events.parquet`: the memory-sink streams' file
    * source. */
  private def stagedEventsDir(dir: String): String =
    stagedDir("s1_stream", dir) { tmp =>
      java.nio.file.Files.copy(java.nio.file.Paths.get(s"$dir/events.parquet"),
        tmp.resolve("events.parquet"))
    }

  /** Stage `df` into `tmp` as THREE ordered single-file parquet batches
    * (split by `key` mod 3) with strictly increasing modification
    * times, so a maxFilesPerTrigger=1 file source delivers batches
    * 0,1,2 as deterministic micro-batches: the file source orders
    * pending files by mod time, and same-millisecond copies would make
    * batch ORDER nondeterministic (s7's watermark-eviction oracle
    * simulates batches 0,1,2 IN ORDER). Shared by every staged stream
    * source (s5/s7/s8/s9/s11–s18). */
  private def stageOrderedSplit(tmp: java.nio.file.Path,
                                df: DataFrame, key: Column): Unit = {
    val mtBase = System.currentTimeMillis() - 60000
    (0 to 2).foreach { i =>
      val slice = tmp.resolve(s"slice$i")
      df.filter(pmod(key, lit(3)) === i)
        .coalesce(1).write.parquet(slice.toString)
      val part = slice.toFile.listFiles().find(f =>
        f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
      val dst = tmp.resolve(s"batch$i.parquet")
      java.nio.file.Files.move(part.toPath, dst)
      java.nio.file.Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(mtBase + i * 2000L))
      org.apache.hadoop.fs.FileUtil.fullyDelete(slice.toFile)
    }
  }

  /** Events staged as three ordered batches (event_id mod 3): s5 must
    * exercise the combine-with-previous path, not just a single
    * publish, and s7's watermark simulation and s8's carried MG state
    * need batch IDENTITY. */
  private def stagedEventsSplitDir(s: SparkSession, dir: String): String =
    stagedDir("s5_stream", dir)(stageOrderedSplit(_,
      s.read.parquet(s"$dir/events.parquet"), col("event_id")))

  /** The q77 snapshot-diff change set staged as three ordered batches
    * (doc_id mod 3) — the s9 CDC stream source. Each diff row is one
    * key's change, so the mod-3 split keeps every key's changes in a
    * single micro-batch and the applies commute (see
    * [[graft.streaming.StreamingJobs.applyCdcStream]]). */
  private def stagedCdcSplitDir(s: SparkSession, dir: String): String =
    stagedDir("s9_cdc", dir) { tmp =>
      val (oldSnap, newSnap) = q77Fixture(s, dir)
      stageOrderedSplit(tmp, SnapshotDiff.diff(oldSnap, newSnap, Seq("doc_id")),
        col("doc_id"))
    }

  /** The s11 ingest stream staged as three ordered batches: two clone
    * families of the documents corpus — every doc_id % 7 = 0 as
    * id+1e6 with a near-dup suffix, every doc_id % 14 = 0 AGAIN as
    * id+2e6 with a different near-dup suffix — split by clone id mod 3.
    * The two clones of the same doc land in DIFFERENT micro-batches by
    * construction ((d+1e6) % 3 != (d+2e6) % 3 always), so their pair is
    * discoverable ONLY if the index genuinely grew between batches —
    * the invariant that separates s11 from a fixed-index probe (d19). */
  private def stagedNearDupSplitDir(s: SparkSession, dir: String): String =
    stagedDir("s11_docs", dir) { tmp =>
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val clones = docs.filter(col("doc_id") % 7 === 0)
        .select(cloneId(col("doc_id")).as("doc_id"),
          concat(col("text"), lit(" nearly duplicate suffix")).as("text"))
        .unionByName(docs.filter(col("doc_id") % 14 === 0)
          .select(cloneId(col("doc_id"), 2000000L).as("doc_id"),
            concat(col("text"), lit(" v2 nearly duplicate suffix")).as("text")))
      stageOrderedSplit(tmp, clones, col("doc_id"))
    }

  /** s12 query stream: the 24 lowest-id embedding vectors staged as
    * three ordered batches (vec_id mod 3, 8 queries per micro-batch)
    * — each query arrives whole in one batch, so per-batch top-k is
    * the batch answer and the accumulated stream output equals the
    * one-shot batch run (the oracle). */
  private def stagedAnnQuerySplitDir(s: SparkSession, dir: String): String =
    stagedDir("s12_queries", dir)(stageOrderedSplit(_,
      Tables.embeddings(s, dir).filter(col("vec_id") < 24)
        .select(col("vec_id"), col("embedding")), col("vec_id")))

  /** The s13 ingest stream: e10's clone batch (every vec_id % 10 = 0
    * at id+1e6) staged as three ordered batches (clone id mod 3), so
    * the persisted IVF index genuinely grows across three
    * micro-batches; the union of the batches is EXACTLY e10's planted
    * set, which is why the stream-grown index serves e10's oracle
    * bit-for-bit. */
  private def stagedIvfIngestSplitDir(s: SparkSession, dir: String): String =
    stagedDir("s13_vecs", dir)(stageOrderedSplit(_,
      Tables.embeddings(s, dir).filter(col("vec_id") % 10 === 0)
        .select(cloneId(col("vec_id")).as("vec_id"), col("embedding")),
      col("vec_id")))

  /** The s14 ingest stream: the d25 corpus's docs at or above the
    * first-tercile id boundary `t1`, staged as three ordered batches
    * split by id TERCILE — not mod 3: the substr fold's monotonicity
    * contract (`exactSubstrFold` requires every batch id strictly above
    * the stored high-water mark) needs batch i's ids wholly below batch
    * i+1's, which `(doc_id - t1) * 3 div span` with strictly-increasing
    * file mod times delivers and a mod split never can. Docs below `t1`
    * seed the persisted window-key store before the stream starts. */
  private def stagedSubstrIngestSplitDir(s: SparkSession, dir: String): String =
    stagedDir("s14_docs", dir) { tmp =>
      val docs = substrCorpus(s, dir)
      val maxId = docs.agg(max(col("doc_id"))).head().getLong(0)
      val t1 = maxId / 3
      val span = maxId - t1 + 1
      stageOrderedSplit(tmp, docs.filter(col("doc_id") >= t1),
        expr(s"(doc_id - $t1) * 3 div $span"))
    }

  /** The s17 ingest stream: precomputed (doc_id, n_tokens) rows for
    * docs at or above the first-tercile boundary `t1`, staged as three
    * ordered MONOTONE batches (the s14 tercile formula — the span
    * fold's monotonicity contract rejects interleaved ids). Counts are
    * staged instead of text: the packing fold needs only counts, and
    * staging them exercises the 'precompute expensive token counts'
    * path the packSpans scaladoc recommends. Returns (stagingDir, t1). */
  private def stagedPackIngestSplit(s: SparkSession,
                                    dir: String): (String, Long) =
    PerJvm.once(s"s17_counts|$dir") {
      import graft.functions.TextFunctions.tokens
      val counts = Tables.documents(s, dir).select(col("doc_id"),
        size(tokens(col("text"))).cast("long").as("n"))
      val maxId = counts.agg(max(col("doc_id")).cast("long"))
        .head().getLong(0)
      val t1 = maxId / 3
      val span = maxId - t1 + 1
      val tmp = PerJvm.tempDir("s17_counts")
      stageOrderedSplit(tmp, counts.filter(col("doc_id") >= t1),
        expr(s"(doc_id - $t1) * 3 div $span"))
      (tmp.toString, t1)
    }

  /** The s18 ingest stream: the d30 batch ids (doc_id % 3 = 0) staged
    * as three ordered batches split by (doc_id div 3) mod 3 — the
    * component fold has no monotonicity contract, only per-batch id
    * freshness, which a mod split of disjoint ids gives. */
  private def stagedPhashIngestSplitDir(s: SparkSession, dir: String): String =
    stagedDir("s18_ids", dir)(stageOrderedSplit(_,
      Tables.documents(s, dir).select(col("doc_id"))
        .filter(col("doc_id") % 3 === 0),
      pmod(expr("doc_id div 3"), lit(3))))

  /** The s16 ingest stream: the c5 ticker corpus's docs above the
    * half-range boundary `cut`, staged as three ordered MONOTONE
    * batches — (cut, 90% of base], (90%, maxBase], clones (> maxBase).
    * Boundaries are explicit id cuts rather than a tercile formula
    * because clone ids sit 1e6 above the base range: value terciles
    * would leave the middle slice empty, and the boilerplate fold's
    * monotonicity contract rejects empty batches. The ticker line
    * crosses minDocs ~76% through the base range — inside batch 0 —
    * so seed-phase docs are re-emitted THROUGH the streaming
    * changelog protocol. */
  private def stagedBoilerIngestSplitDir(s: SparkSession, dir: String): String =
    stagedDir("s16_docs", dir) { tmp =>
      val maxBase = Tables.documents(s, dir)
        .agg(max(col("doc_id")).cast("long")).head().getLong(0)
      val cut = maxBase / 2
      val c2 = maxBase * 9 / 10
      stageOrderedSplit(tmp, corpusTicker(s, dir).filter(col("doc_id") > cut),
        when(col("doc_id") <= c2, lit(0L))
          .when(col("doc_id") <= maxBase, lit(1L))
          .otherwise(lit(2L)))
    }

  /** The s15 ingest stream: the quantile fixture's event_id % 3 ∈
    * {1, 2} rows staged as three ordered batches split by
    * `event_id div 3` mod 3 (NOT event_id mod 3 — that would leave
    * one slice empty after excluding the seed third). Cell-count
    * folds are associative and order-independent, so ANY assignment
    * of rows to batches serves; the split just has to cover the
    * non-seed rows exactly once. */
  private def stagedQuantileIngestSplitDir(s: SparkSession,
                                           dir: String): String =
    stagedDir("s15_events", dir)(stageOrderedSplit(_,
      quantileEvents(s, dir).filter(col("event_id") % 3 =!= 0),
      expr("event_id div 3")))

  // Stream-source schemas of the staged splits. Docs (s11/s14/s16; what
  // minhashIndex and the incremental folds consume), vectors (s12/s13),
  // CDC change rows (the SnapshotDiff.diff output shape for q77; s9),
  // token counts (s17), quantile rows (s15), and ids only (s18: the
  // media bytes are synthesized from the id inside the fold's decode
  // stage — the d27/d29/d30 fixture discipline; a production stream
  // would carry the binary column itself).
  private lazy val nearDupStreamSchema =
    org.apache.spark.sql.types.StructType.fromDDL("doc_id BIGINT, text STRING")

  private lazy val annStreamSchema = org.apache.spark.sql.types.StructType.fromDDL(
    "vec_id BIGINT, embedding ARRAY<FLOAT>")

  private lazy val cdcStreamSchema = org.apache.spark.sql.types.StructType.fromDDL(
    "doc_id BIGINT, text STRING, op STRING")

  private lazy val packStreamSchema =
    org.apache.spark.sql.types.StructType.fromDDL("doc_id BIGINT, n BIGINT")

  private lazy val quantileStreamSchema = org.apache.spark.sql.types.StructType
    .fromDDL("event_id BIGINT, event_type STRING, xl BIGINT")

  private lazy val idStreamSchema =
    org.apache.spark.sql.types.StructType.fromDDL("doc_id BIGINT")

  /** Raw events schema as the file stream source sees it — derived from
    * the fixture's own parquet footer (one read per dir), NOT
    * hardcoded: the driver has shipped `ts` as both TIMESTAMP(NANOS)
    * (arrives long under `nanosAsLong`) and TIMESTAMP(MICROS) (arrives
    * TIMESTAMP_NTZ), and a hardcoded LongType broke every stream for a
    * round when the encoding flipped. [[Tables.normalizeNanos]]
    * dispatches on whichever dtype this reports. The staged copies
    * (verbatim file copy; Spark re-write of the same read) preserve the
    * source encoding, so one footer read covers both staging shapes. */
  private def eventsStreamSchema(s: SparkSession, dir: String): org.apache.spark.sql.types.StructType =
    PerJvm.once(s"events_schema|$dir") {
      val schema = s.read.parquet(s"$dir/events.parquet").schema
      // Validate at cache-fill (the single guard point) instead of
      // letting a fourth ts encoding surface later inside
      // normalizeNanos per-stream: ts must be one of the three
      // encodings the dispatch accepts, and the contract columns the
      // stream jobs select must be present (additive extras are fine —
      // Tables.assertContract's discipline).
      import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
      val tsType = schema.fields.find(_.name == "ts").map(_.dataType)
        .getOrElse(throw new IllegalStateException(
          s"events stream schema under $dir has no ts column"))
      if (!Set[org.apache.spark.sql.types.DataType](
          LongType, TimestampType, TimestampNTZType).contains(tsType))
        throw new IllegalStateException(
          s"events.ts footer dtype $tsType under $dir; expected long nanos, " +
            "timestamp_ntz, or timestamp - did the fixture change encoding again?")
      val missing = Seq("event_id", "user_id", "event_type", "value")
        .filterNot(schema.fieldNames.contains)
      if (missing.nonEmpty) throw new IllegalStateException(
        s"events stream schema under $dir is missing ${missing.mkString(", ")}")
      schema
    }

  /** The events file stream over the verbatim staged copy. */
  private def eventsStream(c: PassStream.Ctx): DataFrame = Tables.normalizeNanos(
    c.s.readStream.schema(eventsStreamSchema(c.s, c.dir)).parquet(stagedEventsDir(c.dir)))

  /** The events file stream over the ordered 3-batch staging. */
  private def eventsSplitStream(c: PassStream.Ctx): DataFrame =
    c.s.readStream.schema(eventsStreamSchema(c.s, c.dir))
      .option("maxFilesPerTrigger", 1)
      .parquet(stagedEventsSplitDir(c.s, c.dir))

  /** s11 oracle: the d19 pipeline applied SEQUENTIALLY — batch i (clone
    * ids ≡ i mod 3) probes index_i = corpus ∪ batches<i, with the
    * union-population bucket cap evaluated per probe exactly as the
    * engine's growing persisted index sees it. Three suffixed CTE
    * blocks, one per micro-batch, unioned. */
  private def s11OracleSql: String = {
    val sigList = DedupSuite.affineConsts(16).map { case (a, b) =>
      s"list_min(list_transform(hs, x -> (x * $a + $b) % ${DedupSuite.MinhashP}))"
    }.mkString("[", ",\n    ", "]")
    def side(src: String, sfx: String): String =
      s"""tk$sfx AS (SELECT doc_id, $toksSql AS toks FROM $src),
         |f$sfx AS (SELECT * FROM tk$sfx WHERE len(toks) >= 3),
         |sh$sfx AS (SELECT doc_id, $shinglesSql AS sh FROM f$sfx),
         |h$sfx AS (SELECT doc_id, list_transform(sh, s -> ${hash32Sql(0, "s")}) AS hs FROM sh$sfx),
         |sig$sfx AS (SELECT doc_id, hs, $sigList AS sig FROM h$sfx),
         |bnd$sfx AS (SELECT doc_id, j AS band,
         |    md5(array_to_string(sig[j*4+1 : j*4+4], ',')) AS band_hash
         |  FROM sig$sfx CROSS JOIN (SELECT unnest(range(4)) AS j))""".stripMargin
    def block(i: Int): String =
      s"""${side(s"(SELECT doc_id, text FROM corpus UNION ALL SELECT doc_id, text FROM allb WHERE doc_id % 3 < $i)", s"a$i")},
         |${side(s"(SELECT doc_id, text FROM allb WHERE doc_id % 3 = $i)", s"b$i")},
         |sized$i AS (SELECT band, band_hash, COUNT(*) AS bucket_n
         |          FROM (SELECT band, band_hash FROM bnda$i
         |                UNION ALL SELECT band, band_hash FROM bndb$i)
         |          GROUP BY 1, 2),
         |ok$i AS (SELECT band, band_hash FROM sized$i WHERE bucket_n <= 1000),
         |pairs$i AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |          FROM bnda$i a
         |          JOIN ok$i o ON a.band = o.band AND a.band_hash = o.band_hash
         |          JOIN bndb$i b ON a.band = b.band AND a.band_hash = b.band_hash),
         |j$i AS (SELECT p.id_a, p.id_b,
         |        CASE WHEN len(list_distinct(list_concat(x.hs, y.hs))) > 0
         |             THEN CAST(len(list_intersect(x.hs, y.hs)) AS DOUBLE)
         |                  / CAST(len(list_distinct(list_concat(x.hs, y.hs))) AS DOUBLE)
         |             ELSE 0.0 END AS jaccard
         |      FROM pairs$i p
         |      JOIN ha$i x ON x.doc_id = p.id_a
         |      JOIN hb$i y ON y.doc_id = p.id_b)""".stripMargin
    s"""WITH corpus AS (SELECT doc_id, text FROM documents),
       |allb AS (SELECT doc_id + 1000000 AS doc_id,
       |           text || ' nearly duplicate suffix' AS text
       |         FROM documents WHERE doc_id % 7 = 0
       |         UNION ALL
       |         SELECT doc_id + 2000000 AS doc_id,
       |           text || ' v2 nearly duplicate suffix' AS text
       |         FROM documents WHERE doc_id % 14 = 0),
       |${block(0)},
       |${block(1)},
       |${block(2)}
       |SELECT id_a, id_b, jaccard FROM j0 WHERE jaccard >= 0.5
       |UNION ALL SELECT id_a, id_b, jaccard FROM j1 WHERE jaccard >= 0.5
       |UNION ALL SELECT id_a, id_b, jaccard FROM j2 WHERE jaccard >= 0.5""".stripMargin
  }

  private val declared: Seq[(PassStream, Oracle)] = Seq(
    // Watermarked tumbling window aggregation; same oracle as q18.
    PassStream.memory("s1_stream_tumbling", "s1_stream_out", "complete")(c =>
      eventsStream(c).withWatermark("ts", "2 hours")
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).cast("bigint").as("n"),
          sum(dec2(col("value"))).cast("decimal(18,2)").as("total")))((_, t) =>
      t.select(unix_micros(col("window.start")).as("win_start_us"),
        col("event_type"), col("n"), col("total").cast("double").as("total"))) ->
      SameAs(RelationalGates.q18),

    // Sliding windows (1h window / 30min slide).
    PassStream.memory("s2_stream_sliding", "s2_stream_out", "complete")(c =>
      eventsStream(c).withWatermark("ts", "2 hours")
        .groupBy(window(col("ts"), "1 hour", "30 minutes"), col("event_type"))
        .agg(count(lit(1)).cast("bigint").as("n"),
          sum(dec2(col("value"))).cast("decimal(18,2)").as("total")))((_, t) =>
      t.select(unix_micros(col("window.start")).as("win_start_us"),
        col("event_type"), col("n"), col("total").cast("double").as("total"))) ->
      Sql("""WITH e AS (
        |  SELECT epoch_us(CAST(ts AS TIMESTAMP)) AS us, event_type,
        |         CAST(value AS DECIMAL(18,2)) AS v
        |  FROM events WHERE ts IS NOT NULL),
        |x AS (SELECT (us // 1800000000) * 1800000000 AS b, event_type, v FROM e),
        |u AS (SELECT b AS win_start_us, event_type, v FROM x
        |      UNION ALL
        |      SELECT b - 1800000000, event_type, v FROM x)
        |SELECT win_start_us, event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |       CAST(CAST(SUM(v) AS DECIMAL(18,2)) AS DOUBLE) AS total
        |FROM u GROUP BY 1, 2""".stripMargin),

    // Streaming stateful dedup — the streaming twin of d1/D1: a
    // dropDuplicates over the key columns holds the seen-key set in
    // the state store and emits each key's first arrival. The output
    // here is the KEY SET (which row "won" is arrival-order-dependent
    // and so not oracle-able; the set of keys is exact), making the
    // DuckDB twin a plain DISTINCT. Production at 100 TB bounds the
    // state with the implemented watermark form
    // (StreamingJobs.dedupWithinWatermark, spec-tested: in-horizon
    // dups dropped, state stays O(horizon), keys recur after it);
    // exact unbounded-state semantics keep the gate deterministic.
    // (the bounded production form is gated separately as s7)
    PassStream.memory("s3_stream_dedup", "s3_stream_out", "append")(c =>
      eventsStream(c).select(col("user_id"), col("event_type"))
        .dropDuplicates(Seq("user_id", "event_type")))((_, t) =>
      t.select(col("user_id"), col("event_type"))) ->
      Sql("SELECT DISTINCT user_id, event_type FROM events"),

    // Native session_window aggregation as a STREAM — the fourth
    // streaming state shape (merging session state, distinct from
    // s1/s2's fixed windows and s3's keyed dedup set): arriving
    // events extend or merge open sessions in the state store. Same
    // semantics and SAME ORACLE as batch q25 — the batch/stream
    // parity the engine promises everywhere. Complete mode keeps
    // gate determinism (every session emitted at the end); the
    // watermarked append form is what production would run, shown in
    // StreamingSpec with statefulSessions as the custom-state twin.
    PassStream.memory("s4_stream_sessions", "s4_stream_out", "complete")(c =>
      eventsStream(c)
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
        .agg(count(lit(1)).cast("bigint").as("n_events")))((_, t) =>
      t.select(col("user_id"),
        unix_micros(col("session_window.start")).as("start_us"),
        col("n_events"))) ->
      // batch/stream parity: the streaming session_window run is gated
      // by the SAME oracle as batch q25
      SameAs(RelationalGates.q25),

    // Streaming incremental mart maintenance IN the graded surface:
    // three forced micro-batches (maxFilesPerTrigger=1 over a
    // 3-file staging) each publish combine(previous, new partial)
    // through the versioned-staging protocol inside foreachBatch —
    // the K4 atomic-publish + G-partials machinery as a stream. The
    // finalize of the LAST version must equal the full batch
    // recompute: gated by q24's oracle (combine associativity means
    // file->batch assignment order cannot change the result).
    PassStream("s5_stream_mart", "s5",
      start = c =>
        graft.streaming.StreamingJobs.streamingIncrementalMart(
          c.s, stagedEventsSplitDir(c.s, c.dir), eventsStreamSchema(c.s, c.dir),
          c.root, c.ck),
      materialize = { c =>
        val latest = VersionedStaging.latestComplete(c.s, c.root)
          .getOrElse(sys.error("stream pass: no mart version published"))
        Marts.finalizeDaily(c.s.read.parquet(latest))
      }) ->
      // stream parity: the 3-micro-batch incremental mart must finalize
      // to exactly the full batch recompute
      SameAs(RelationalGates.q1),

    // Stream-stream watermarked interval join IN the graded surface
    // (promoted from StreamingSpec): signup and purchase streams
    // joined on user within (0, 1h], both sides watermarked so the
    // join RANGE bounds state retention — without the watermark a
    // stream-stream join buffers both sides forever, the unbounded-
    // state failure mode. Inner joins emit on match (append mode);
    // the post-hoc per-user pair count must equal batch q38, which
    // is the oracle. Same discipline as s4 (batch-q25) and s5
    // (batch-q24): the streaming path is gated by its batch twin.
    PassStream.memory("s6_stream_interval_join", "s6_stream_out", "append") { c =>
      def side(t: String) = eventsStream(c).filter(col("event_type") === t)
      val signups = side("signup").withWatermark("ts", "2 hours")
        .select(col("user_id"), col("ts").as("s_ts"))
      val purchases = side("purchase").withWatermark("ts", "2 hours")
        .select(col("user_id").as("p_user"), col("ts").as("p_ts"))
      signups.join(purchases,
        col("user_id") === col("p_user") &&
          col("p_ts") > col("s_ts") &&
          col("p_ts") <= col("s_ts") + expr("interval 1 hour"))
    }((_, t) => t.groupBy(col("user_id"))
      .agg(count(lit(1)).cast("bigint").as("n_pairs"))) ->
      // streaming twin gated by the SAME batch semantics (s4/s5 pattern)
      SameAs(RelationalGates.q38),

    // Watermark-BOUNDED streaming dedup, gated. The unbounded s3 form
    // is gate-exact but its state grows with every key ever seen; this
    // is the production form whose state plateaus at O(keys per
    // horizon), made DETERMINISTIC so a batch oracle can reproduce it:
    //  - the source is the ordered 3-file staging (event_id mod 3,
    //    strictly increasing file mod times, maxFilesPerTrigger=1)
    //    — batch membership and order are data, not scheduling;
    //  - event time is synthesized CONSTANT per (key, batch): batch
    //    b on day b, key k at hour (k mod 12) — so the stored
    //    expiry (first arrival's ts + horizon) cannot depend on
    //    within-batch arrival order, and the watermark after each
    //    batch (max ts - 2h) is a pure function of the data.
    // The oracle simulates the exact engine semantics, pinned by
    // experiment on this Spark build and re-pinned by the gate
    // itself every round: lookups in batch b see state as of the
    // end of batch b-1; eviction at the end of batch b uses the
    // watermark that ENTERED batch b (i.e. from batches < b); a
    // deduped re-arrival does NOT refresh the stored expiry; and a
    // state row whose expiry EQUALS the watermark is EVICTED
    // (survive iff expiry > wm — the fixture lands exactly on this
    // boundary at hour offset maxOffset-4, so a Spark build that
    // flipped it to ≥ would hash-mismatch here, not silently
    // drift). Keys with hour offsets near the batch max survive
    // into the next day's batch (in-horizon dedup) while early-hour
    // keys are evicted and RE-EMITTED on recurrence — both paths of
    // the horizon rule are exercised and hash-gated.
    PassStream.memory("s7_stream_dedup_watermark", "s7_stream_out", "append")(c =>
      eventsSplitStream(c)
        .select(pmod(coalesce(col("user_id"), lit(0L)), lit(40)).as("k"),
          pmod(col("event_id"), lit(3)).as("b"))
        .withColumn("ts7", timestamp_seconds(
          lit(1704067200L) + // 2024-01-01 00:00:00 UTC
            (col("b") * 86400L + pmod(col("k"), lit(12)) * 3600L)))
        .withWatermark("ts7", "2 hours")
        .dropDuplicatesWithinWatermark(Seq("k")))((_, t) =>
      t.select(col("k"), unix_micros(col("ts7")).as("ts_us"))) ->
      // s7: batch simulation of dropDuplicatesWithinWatermark over the
      // ordered 3-batch staging, with the engine's pinned semantics (see
      // the s7 entry notes): batch-b lookups see state as of end of
      // batch b-1; eviction at end of batch b uses the watermark that
      // ENTERED b (max ts of batches < b, minus the 2h horizon); a
      // deduped re-arrival does not refresh the stored expiry. With
      // three batches that reduces to: e0 = keys of b0; e1 = keys of b1
      // not stored in b0 (no eviction has run on b0's state yet); e2 =
      // keys of b2 whose first-stored entry (b0 or b1) was evicted at
      // end of b1 by wm0, or never stored.
      Sql("""WITH base AS (SELECT DISTINCT
        |         COALESCE(user_id, 0) % 40 AS k, event_id % 3 AS b
        |       FROM events),
        |r AS (SELECT k, b,
        |        TIMESTAMP '2024-01-01'
        |          + (b * 24 + k % 12) * INTERVAL 1 HOUR AS ts
        |      FROM base),
        |wm0 AS (SELECT MAX(ts) - INTERVAL 2 HOUR AS w FROM r WHERE b = 0),
        |e0 AS (SELECT k, ts FROM r WHERE b = 0),
        |e1 AS (SELECT k, ts FROM r
        |       WHERE b = 1 AND k NOT IN (SELECT k FROM e0)),
        |st2 AS (SELECT k FROM e0
        |        WHERE ts + INTERVAL 2 HOUR > (SELECT w FROM wm0)
        |        UNION
        |        SELECT k FROM e1
        |        WHERE ts + INTERVAL 2 HOUR > (SELECT w FROM wm0)),
        |e2 AS (SELECT k, ts FROM r
        |       WHERE b = 2 AND k NOT IN (SELECT k FROM st2)),
        |em AS (SELECT * FROM e0 UNION ALL SELECT * FROM e1
        |       UNION ALL SELECT * FROM e2)
        |SELECT k, epoch_us(ts) AS ts_us FROM em""".stripMargin),

    // Streaming heavy hitters: the q76 Misra–Gries sketch maintained
    // incrementally in mapGroupsWithState (state = 8 hash groups ×
    // ≤ 2k counters — NEVER the key space) over the 3 ordered
    // micro-batches, so the MG state genuinely carries across batch
    // boundaries; candidates exact-rechecked against cold storage at
    // finalization. The output is exact and deterministic even though
    // in-flight candidate sets vary with arrival order: candidates ⊇
    // the true heavy hitters in every run (per-group undercount ≤
    // n_g/(k+1); a key lives in exactly one hash group), and the
    // integer threshold prunes them to the same set the batch q76 plan
    // — and the same oracle — produce. StreamingMergeSpec gates the
    // sketch across 1×/8× shuffle parallelism against the batch twin.
    PassStream.memory("s8_stream_heavy_hitters", "s8_stream_out", "update") { c =>
      import c.s.implicits._
      graft.streaming.StreamingJobs.streamingHeavyHitterSketch(
        eventsSplitStream(c).select(plantedSkewKey.as("k"))
          .filter(col("k").isNotNull).as[String],
        k = 64, nGroups = 8).toDF()
    }((c, t) =>
      // identical two-pass contract to q76, with pass 1 replaced by
      // the continuously-maintained stream state
      graft.streaming.StreamingJobs.finalizeHeavyHitters(
        t, Tables.events(c.s, c.dir).select(plantedSkewKey.as("k"))
          .filter(col("k").isNotNull), 64)) ->
      // s8: same naive full-shuffle plan as q76 — the streaming sketch +
      // batch exact-recheck must reproduce it exactly (the MG candidate
      // union is a superset of the HAVING set in every run; the final
      // threshold is integer arithmetic on both sides).
      SameAs(CurationGates.q76),

    // Streaming CDC apply — the consumer half of q77/q81: the q77
    // diff staged as three micro-batches and applied (upsert +
    // DELETE, the op the reference's merge lacks) to a versioned-
    // staging state seeded with the OLD snapshot. The gate checks
    // the roundtrip identity apply(old, diff(old,new)) == new: the
    // oracle is the new snapshot computed directly, no diff at all.
    // Deterministic under any batch split: diff emits ≤ 1 row per
    // key, so per-batch applies commute. Per batch the state table
    // is broadcast-probed (anti-join + union), never shuffled — see
    // StreamingJobs.applyCdcStream for the 100-TB notes.
    PassStream("s9_stream_cdc_apply", "s9",
      start = { c =>
        VersionedStaging.publish(c.s, c.root, q77Fixture(c.s, c.dir)._1)
        graft.streaming.StreamingJobs.applyCdcStream(
          c.s, stagedCdcSplitDir(c.s, c.dir), cdcStreamSchema, c.root,
          Seq("doc_id"), c.ck)
      },
      materialize = { c =>
        c.s.read.parquet(VersionedStaging.latestComplete(c.s, c.root)
          .getOrElse(sys.error("stream pass: no s9 CDC state published")))
      }) ->
      // s9: the roundtrip identity apply(old, diff(old,new)) == new, so
      // the oracle is the NEW snapshot computed directly from the
      // fixture's definition — no diff, no apply on the oracle side.
      Sql("""SELECT doc_id,
        |       CASE WHEN doc_id % 11 = 0 THEN text || ' v2' ELSE text END AS text
        |FROM documents WHERE doc_id % 7 != 3""".stripMargin),

    // Stream-STATIC broadcast enrichment — the most common production
    // streaming shape (per-event dimension lookup), distinct from s6's
    // stream-stream join, gated against the equivalent batch
    // join+rollup. The dim side is a bounded static table broadcast to
    // every task, so the stream side stays stateless and shuffle-free:
    // no state store, no watermark, each micro-batch joins map-side.
    // That is exactly the 100 TB/day shape — enrichment never rekeys
    // the stream. Null user_id ⇒ null key dropped by the inner join
    // (mirrored by the oracle's IS NOT NULL).
    PassStream.memory("s10_stream_enrich", "s10_stream_out", "append") { c =>
      val dim = broadcast(Tables.nation(c.s, c.dir)
        .select(col("n_nationkey").cast("long").as("nk"), col("n_name")))
      eventsStream(c).withColumn("nk", pmod(col("user_id"), lit(25L)))
        .join(dim, "nk")
    }((_, t) => t.groupBy(col("n_name"), col("event_type"))
      .agg(count(lit(1)).cast("bigint").as("n"),
        sum(dec2(col("value"))).cast("decimal(18,2)").as("total"))
      .select(col("n_name"), col("event_type"), col("n"),
        col("total").cast("double").as("total"))) ->
      // s10: the streamed broadcast-enriched rollup must equal the batch
      // join + GROUP BY computed directly on the fixture. The key is the
      // NON-NEGATIVE modulo ((x%25)+25)%25 so both engines agree even if
      // a future fixture ships negative user_id (Spark's pmod is always
      // non-negative; DuckDB's % takes the dividend's sign).
      Sql("""WITH e AS (SELECT ((user_id % 25) + 25) % 25 AS nk, event_type, value
        |           FROM events WHERE user_id IS NOT NULL),
        |j AS (SELECT n.n_name, e.event_type, e.value
        |      FROM e JOIN nation n ON e.nk = n.n_nationkey)
        |SELECT n_name, event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |       CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS total
        |FROM j GROUP BY 1, 2""".stripMargin),

    // Streaming incremental near-dup (the d19 index maintained FROM
    // a stream): the index is seeded with the corpus MinHash index,
    // then three clone micro-batches probe it and grow it batch over
    // batch — the same-doc clone pairs planted in different batches
    // are found ONLY via the grown index, so a broken index append
    // fails the hash. Oracle: three chained instances of the d19
    // pipeline with index_i = corpus ∪ batches<i, exactly the
    // engine's sequential semantics (including the per-probe union
    // bucket cap).
    PassStream("s11_stream_near_dup", "s11",
      start = { c =>
        VersionedStaging.publish(c.s, s"${c.root}/index",
          DedupSuite.minhashIndex(
            Tables.documents(c.s, c.dir).select(col("doc_id"), col("text")),
            "doc_id", "text", n = 3, k = 16, bands = 4))
        graft.streaming.StreamingJobs.streamingIncrementalNearDup(
          c.s, stagedNearDupSplitDir(c.s, c.dir), nearDupStreamSchema,
          s"${c.root}/index", s"${c.root}/pairs", c.ck)
      },
      materialize = { c =>
        // the accumulated pair output across the three probes (the
        // partition column `batch` is harness plumbing, not output)
        c.s.read.parquet(s"${c.root}/pairs")
          .select(col("id_a"), col("id_b"), col("jaccard"))
      }) ->
      Sql(s11OracleSql),

    // Streaming ANN serving: micro-batched query vectors scored
    // against a STATIC PQ index precomputed from the corpus (the e9
    // codebook/encoder; StreamingJobs.streamingAnnServe — the s10
    // broadcast-enrichment shape pointed at a vector index). Oracle =
    // the e9 pipeline with the stream's 24-query set; the stream holds
    // no state, so accumulated per-batch top-k must equal the one-shot
    // batch.
    PassStream("s12_stream_ann_serve", "s12",
      start = { c =>
        val emb = Tables.embeddings(c.s, c.dir)
          .select(col("vec_id"), col("embedding"))
        val cb = Similarity.pqCodebook(
          emb, "vec_id", "embedding", m = 8, dims = 64, nCodes = 16)
        val codes = Similarity.pqEncode(
          emb, cb, "vec_id", "embedding", m = 8, dims = 64)
        graft.streaming.StreamingJobs.streamingAnnServe(
          c.s, stagedAnnQuerySplitDir(c.s, c.dir), annStreamSchema, cb,
          codes, c.root, c.ck, k = 5, m = 8, dims = 64)
      },
      materialize = { c =>
        // accumulated per-batch top-k (batch partition = plumbing)
        c.s.read.parquet(c.root)
          .select(col("query_id"), col("neighbor_id"), col("adist"), col("rnk"))
      }) ->
      // s12 = e9's ADC pipeline over the staged 24-query stream set
      Sql(s"""WITH ${pqCodeCtes("e.vec_id < 24")},
         |sc AS (SELECT qt.query_id, codes.neighbor_id,
         |         CAST(SUM(qt.qd) AS BIGINT) AS adist
         |       FROM codes JOIN qt ON codes.j = qt.j AND codes.code = qt.cid
         |       WHERE qt.query_id <> codes.neighbor_id
         |       GROUP BY 1, 2),
         |r AS (SELECT query_id, neighbor_id, adist,
         |        CAST(ROW_NUMBER() OVER (PARTITION BY query_id
         |          ORDER BY adist ASC, neighbor_id ASC) AS INT) AS rnk FROM sc)
         |SELECT query_id, neighbor_id, adist, rnk FROM r WHERE rnk <= 5""".stripMargin),

    // Streaming incremental IVF ingest: foreachBatch grows the
    // persisted centroid-partitioned index, seeded from the corpus
    // with FROZEN centroids, from a vector stream (corpus never
    // re-read, replay-safe via per-batch markers); queries are then
    // served from the grown index — the s11 grow-persisted-state move
    // applied to ANN. Shares e10's oracle: the streamed batches union
    // to exactly e10's planted clone set, and frozen centroids make
    // stream-grown == batch-rebuilt bit-for-bit.
    PassStream("s13_stream_ivf_ingest", "s13",
      start = { c =>
        val cent = Similarity.buildIvfIndex(
          Tables.embeddings(c.s, c.dir).select(col("vec_id"), col("embedding")),
          s"${c.root}/index", "vec_id", "embedding", 16)
        // persist the frozen centroids beside the index (floats
        // roundtrip parquet exactly) — the post-drain serve reads
        // them back, the e10 store layout
        cent.write.mode("overwrite").parquet(s"${c.root}/centroids")
        graft.streaming.StreamingJobs.streamingIvfIngest(
          c.s, stagedIvfIngestSplitDir(c.s, c.dir), annStreamSchema,
          s"${c.root}/index", c.s.read.parquet(s"${c.root}/centroids"), c.ck)
      },
      materialize = { c =>
        // the index is COMPACTED first (each streamed batch appended its
        // own file set per centroid partition): the gate proves
        // post-compaction serving is hash-identical
        StoreCompaction.compactStore(c.s, s"${c.root}/index")
        Similarity.queryIvfIndex(c.s, s"${c.root}/index",
          c.s.read.parquet(s"${c.root}/centroids"),
          Tables.embeddings(c.s, c.dir).filter(col("vec_id") < 8),
          "vec_id", "embedding", k = 5, nProbe = 4)
      }) ->
      // s13's streamed batches union to exactly e10's planted clone
      // set, and frozen centroids make the stream-grown index
      // bit-identical to the batch rebuild the e10 oracle computes
      SameAs(EmbeddingGates.e10),

    // Streaming incremental ExactSubstr ingest: the d26 fold under
    // foreachBatch with an exactly-once replay protocol (committed
    // staging + deterministic promote + marker — three artifacts per
    // batch: store delta, _meta high-water row, the batch's cleaned
    // output). The window-key store is seeded from the corpus's first
    // id tercile (its cleaned output becomes the accumulated output's
    // first segment), then the upper terciles fold in as three
    // MONOTONE micro-batches, each emitting its own cleaned text
    // exactly once. The corpus is never re-windowed: each batch's
    // store join reads only its own crc32 buckets. Shares d25's
    // oracle: the seed segment plus the per-batch emissions ∪-equal
    // the full recompute bit-for-bit (monotone ids freeze earlier
    // emissions). Production mode: hashKeys=true (16-byte digest keys).
    PassStream("s14_stream_substr_ingest", "s14",
      start = { c =>
        val (store, out) = (s"${c.root}/store", s"${c.root}/out")
        // the split staging (the stream's input files) and the store
        // build are INDEPENDENT — overlap them; the build thunk
        // re-derives the tercile boundary itself (one cheap max probe,
        // hidden inside the overlap; identical arithmetic to the split
        // helper's). The build's outWrite fan-out shares the ONE window
        // aggregation between the store write and the seed-output write.
        var split: String = null
        Par.run(Seq(
          () => { split = stagedSubstrIngestSplitDir(c.s, c.dir) },
          () => {
            val docsAll = substrCorpus(c.s, c.dir)
            val t1 = docsAll.agg(max(col("doc_id"))).head().getLong(0) / 3
            // bloomSide: the streamed folds stage + promote bloom
            // deltas (exactly-once with the store delta), and each
            // fold's store read is bucket-pruned by the sidecar
            DedupSuite.exactSubstrBuildStore(
              docsAll.filter(col("doc_id") < t1),
              "doc_id", "text", 8, store, nBuckets = 64, hashKeys = true,
              outWrite = Some(_.write.parquet(out)), bloomSide = true)
            ()
          }))
        graft.streaming.StreamingJobs.streamingSubstrIngest(
          c.s, split, nearDupStreamSchema, store, out, c.ck, l = 8,
          nBuckets = 64, hashKeys = true)
      },
      materialize = { c =>
        c.s.read.parquet(s"${c.root}/out")
          .select(col("doc_id"), col("clean_text"), col("n_removed"))
      }) ->
      // s14 streams the same corpus through the same store discipline
      // (seed tercile + three monotone batches); accumulated output ==
      // full recompute, so it shares d25's oracle like d26
      SameAs(DedupGates.d25),

    // Streaming incremental quantile-store ingest: the q96 fold under
    // foreachBatch — the store is seeded with the fixture's
    // event_id%3=0 third, then the other two thirds fold in as
    // additive cell-count deltas (exactly-once via the committed-
    // staging protocol; order irrelevant — counts commute). The
    // post-drain serve ranks from the stream-grown store alone, the
    // full fixture being the row source for the in-cell refinement
    // (and its coverage cross-check); shares q95's oracle (served ==
    // direct computation IS the gate).
    PassStream("s15_stream_quantile_ingest", "s15",
      start = { c =>
        val split = stagedQuantileIngestSplitDir(c.s, c.dir)
        Quantiles.buildQuantileStore(
          quantileEvents(c.s, c.dir).filter(col("event_id") % 3 === 0),
          col("event_type"), col("xl"), s"${c.root}/store", cellBits = 8)
        graft.streaming.StreamingJobs.streamingQuantileIngest(
          c.s, split, quantileStreamSchema, s"${c.root}/store", c.ck,
          "event_type", "xl")
      },
      materialize = { c =>
        Quantiles.quantilesFromStore(c.s, s"${c.root}/store",
            quantileEvents(c.s, c.dir), col("event_type"), col("xl"),
            Seq(Quantiles.Quantile("p25", 25, 100),
              Quantiles.Quantile("p50", 50, 100),
              Quantiles.Quantile("p90", 90, 100)))
          .select(col("grp").as("event_type"),
            (col("p25") / 100.0).as("p25"),
            (col("p50") / 100.0).as("p50"),
            (col("p90") / 100.0).as("p90"))
      }) ->
      // s15 streams the same folds (exactly-once, commuting deltas)
      // and serves from the stream-grown store — q95's oracle again
      SameAs(CurationGates.q95),

    // Streaming incremental boilerplate ingest: the c5 changelog store
    // grown through foreachBatch with the committed-staging
    // exactly-once protocol. The store is seeded with the ticker
    // corpus's lower half (its cleaned output = changelog seq -1),
    // then three monotone batches fold in, each emitting a changelog
    // segment (cleaned batch + re-emissions of stored docs invalidated
    // by a threshold crossing) exactly once. The crossing lands in
    // batch 0, so seed docs re-emit THROUGH the stream; the post-drain
    // latest-seq-per-doc resolution must equal the full
    // removeCommonLines recompute (c5's oracle).
    PassStream("s16_stream_boilerplate_ingest", "s16",
      start = { c =>
        val (store, out) = (s"${c.root}/store", s"${c.root}/out")
        // split staging ∥ store build (independent artifacts — the s14
        // move); the build thunk derives the doc cut and the threshold
        // from ONE fused max+count probe (identical arithmetic to the
        // split helper's own). The build's outWrite writes the seed
        // output from the build's in-memory dictionary.
        var split: String = null
        var m = 0L
        Par.run(Seq(
          () => { split = stagedBoilerIngestSplitDir(c.s, c.dir) },
          () => {
            val probe = Tables.documents(c.s, c.dir)
              .agg(max(col("doc_id")).cast("long"), count(lit(1))).head()
            val cut = probe.getLong(0) / 2
            m = probe.getLong(1) / 25
            Boilerplate.buildStore(
              corpusTicker(c.s, c.dir).filter(col("doc_id") <= cut),
              "doc_id", "text", m, store, nBuckets = 16, nDocBuckets = 16,
              outWrite = Some(_.withColumn("seq", lit(-1L)).write.parquet(out)))
            ()
          }))
        graft.streaming.StreamingJobs.streamingBoilerplateIngest(
          c.s, split, nearDupStreamSchema, store, out, c.ck, m,
          nBuckets = 16, nDocBuckets = 16)
      },
      materialize = { c =>
        // boilerplate cleaning is retroactive, so later re-emissions
        // supersede earlier segments (seed = seq -1, folds = batch id)
        val w = Window.partitionBy(col("doc_id")).orderBy(col("seq").desc)
        c.s.read.parquet(s"${c.root}/out")
          .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
          .select(col("doc_id"), col("clean_text"), col("n_removed"))
      }) ->
      // s16 streams the c5 ticker corpus through the boilerplate
      // changelog store (seed half + three monotone batches); the
      // accumulated output resolved latest-seq-per-doc == the full
      // recompute, so it shares c5's oracle — that equality IS the
      // gate, and it can only hold if the mid-stream threshold
      // crossing actually re-emitted the seed's ticker docs
      SameAs(CorpusGates.c5),

    // Streaming incremental sequence packing: q97's span store grown
    // through foreachBatch with the committed-staging exactly-once
    // protocol. The store is seeded with the first id tercile (its
    // spans are the output's first segment; state = two high-water
    // numbers), then (doc_id, n_tokens) batches extend the token
    // stream at its high-water, each emitting FINAL spans exactly
    // once — disjoint and final on emission, so the accumulated
    // segments ∪-equal the one-shot q97 recompute (q97's oracle).
    PassStream("s17_stream_pack_spans", "s17",
      start = { c =>
        import graft.functions.TextFunctions.tokens
        val (split, t1) = stagedPackIngestSplit(c.s, c.dir)
        val (store, out) = (s"${c.root}/store", s"${c.root}/out")
        Pack.buildSpanStore(
            Tables.documents(c.s, c.dir).filter(col("doc_id") < t1),
            "doc_id", size(tokens(col("text"))), 128, store, 100)
          .write.parquet(out)
        graft.streaming.StreamingJobs.streamingPackIngest(
          c.s, split, packStreamSchema, store, out, c.ck, seqLen = 128,
          docsPerShard = 100)
      },
      materialize = { c =>
        c.s.read.parquet(s"${c.root}/out")
          .select(col("seq_id"), col("doc_id"), col("tok_start"), col("tok_end"))
      }) ->
      // s17 streams q98's folds under the exactly-once protocol —
      // q97's oracle again
      SameAs(CurationGates.q97),

    // Streaming MULTIMODAL ingest: d30's fold under foreachBatch with
    // the committed-staging exactly-once protocol. The persisted
    // Hamming band index is seeded from the corpus (non-multiples of
    // 3, decoded ONCE) with the seed component labels persisted beside
    // it; each streamed media batch decodes once, folds against the
    // bucket-pruned store, and emits its new batch-touching pairs
    // exactly once. The post-drain resolution (one component fold of
    // the accumulated pairs into the seed labels — the pair union over
    // batches is the full run's batch-touching set) must equal the
    // full d29 recompute (d29's oracle).
    PassStream("s18_stream_phash_ingest", "s18",
      start = { c =>
        import c.s.implicits._
        val store = s"${c.root}/index"
        // split staging ∥ (decode → store build ∥ labels0) — the
        // s14/s16 overlap move; build and labels0 both read only
        // the checkpointed corpus hash frame (decode runs once)
        var split: String = null
        Par.run(Seq(
          () => { split = stagedPhashIngestSplitDir(c.s, c.dir) },
          () => {
            val corpusHashes = Multimodal.bmpDHashes(
              Tables.documents(c.s, c.dir).select(col("doc_id"))
                .filter(col("doc_id") % 3 =!= 0).as[Long]
                .mapPartitions(_.map(id => (id, Multimodal.synthBmpPerceptual(id))))
                .toDF("doc_id", "content"),
              "doc_id", "content").localCheckpoint()
            Par.run(Seq(
              // nBuckets = 4: fixture-scale layout (the d30 gate note)
              () => DedupSuite.hammingIndexBuild(corpusHashes,
                "doc_id", "ph", store, bands = 4, nBuckets = 4),
              () => Dedup.connectedComponents(
                  DedupSuite.hammingPairs(corpusHashes, "doc_id", "ph",
                    maxHamming = 3, bands = 4)
                    .select(col("id_a"), col("id_b")))
                .write.parquet(s"${c.root}/labels0")))
          }))
        graft.streaming.StreamingJobs.streamingHammingIngest(
          c.s, split, idStreamSchema, store, s"${c.root}/out", c.ck,
          hashesOf = df => {
            val ss = df.sparkSession
            import ss.implicits._
            Multimodal.bmpDHashes(
              df.select(col("doc_id")).as[Long]
                .mapPartitions(_.map(id => (id, Multimodal.synthBmpPerceptual(id))))
                .toDF("doc_id", "content"), "doc_id", "content")
          },
          idCol = "doc_id", hashCol = "ph", maxHamming = 3)
      },
      materialize = { c =>
        val labels = Dedup.foldComponents(
          c.s.read.parquet(s"${c.root}/labels0"),
          c.s.read.parquet(s"${c.root}/out").select(col("id_a"), col("id_b")))
        Tables.documents(c.s, c.dir).select(col("doc_id"))
          .join(labels, col("doc_id") === col("id"), "left")
          .select(col("doc_id"),
            coalesce(col("component"), col("doc_id")).as("keep_id"))
          .withColumn("kept", (col("doc_id") === col("keep_id")).cast("boolean"))
      }) ->
      // s18 streams the same batch through the same persisted band
      // index in three exactly-once micro-batches; the post-drain
      // component fold == the full d29 recompute — d29's oracle again
      SameAs(DedupGates.d29)
  )

  val streams: Seq[PassStream] = declared.map(_._1)

  val gates: Seq[Gate] = declared.map { case (st, oracle) =>
    Gate(st.entry, (s, dir) =>
      s.read.parquet(StreamPass.results(s, dir, streams)(st.entry)), oracle)
  }
}
