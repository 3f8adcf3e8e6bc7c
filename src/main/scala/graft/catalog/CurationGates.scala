package graft.catalog

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{PerJvm, Tables}
import graft.functions.Enrich
import graft.functions.TextFunctions._
import graft.operators._
import graft.operators.Marts.dec2
import Fixtures._

/** q66–q101: the data-curation and pipeline operators — packing, sampling
  * and mixtures, quarantine, heavy hitters, snapshot diffs, entity
  * resolution, graph ranks, partition pruning, range and as-of joins,
  * quantiles — with their persisted-store folds. */
object CurationGates {

  /** JSONL staging with PLANTED CORRUPTION for q75: each document
    * becomes `{"id":N,"text":"<tokens>"}` (token-joined text, so no
    * JSON escaping ambiguity between engines), and every 7th line drops
    * its closing brace. Exercises Spark's real PERMISSIVE-mode JSON
    * parser + `_corrupt_record` quarantine; the oracle reconstructs the
    * same deterministic corruption rule from the documents table. */
  private def corruptJsonDir(s: SparkSession, dir: String): String =
    stagedDir("q75_jsonl", dir) { tmp =>
      val line = concat(lit("{\"id\":"), col("doc_id").cast("string"),
        lit(",\"text\":\""),
        concat_ws(" ", graft.functions.TextFunctions.tokens(col("text"))),
        lit("\"}"))
      Tables.documents(s, dir).withColumn("line", line)
        .select(when(col("doc_id") % 7 === 0,
          expr("substring(line, 1, length(line) - 1)"))
          .otherwise(col("line")).as("value"))
        .write.mode("overwrite").text(tmp.toString)
    }

  /** Two-generation corpus staging for q84: generation v1 (even doc
    * ids) was "written before the `lang`/`n_chars` columns existed";
    * v2 (odd ids) carries the full schema. A corpus accumulated over
    * months of pipeline evolution ALWAYS has this shape at 100 TB —
    * re-writing history on every schema change is a full-corpus
    * rewrite, so the reader must take the union. */
  private def evolvedCorpusDir(s: SparkSession, dir: String): String =
    stagedDir("q84_evol", dir) { tmp =>
      val docs = Tables.documents(s, dir)
      docs.filter(col("doc_id") % 2 === 0)
        .select(col("doc_id"), col("text"))
        .write.parquet(tmp.resolve("gen=v1").toString)
      docs.filter(col("doc_id") % 2 === 1)
        .select(col("doc_id"), col("text"), col("lang"), col("n_chars"))
        .write.parquet(tmp.resolve("gen=v2").toString)
    }

  /** Hive-partitioned copy of `events` (partitionBy event_type) — the
    * q74 fixture. The raw sf fixtures are single parquet files, so no
    * scan in the suite could demonstrate PARTITION pruning
    * (`PartitionFilters` was `[]` in every plan); this staging gives the
    * layout a real 100-TB table would have. */
  private def partitionedEventsDir(s: SparkSession, dir: String): String =
    stagedDir("q74_part", dir) { tmp =>
      Tables.events(s, dir).write.mode("overwrite")
        .partitionBy("event_type").parquet(tmp.toString)
    }

  /** The q82 bipartite order graph: customer↔supplier co-purchase
    * edges, symmetrized (node ids: custkey·2 even, suppkey·2+1 odd —
    * disjoint by parity). Shared by q82 (full recompute) and q91's
    * base store. */
  private def q82Edges(s: SparkSession, dir: String): DataFrame = {
    val edges0 = Tables.orders(s, dir)
      .join(Tables.lineitem(s, dir),
        col("o_orderkey") === col("l_orderkey"))
      .select((col("o_custkey") * 2).as("src"),
        (col("l_suppkey") * 2 + 1).as("dst"))
      .distinct()
    edges0.unionByName(
      edges0.select(col("dst").as("src"), col("src").as("dst")))
  }

  /** q82's unrolled-iteration oracle: r{t+1} from r{t} as one CTE per
    * round, all-BIGINT (`//` floor division == Spark DIV on the
    * non-negative ranks). */
  /** The q82 edge set as oracle CTEs ending in `edges`. */
  private val q82EdgesCtes: String =
    """e0 AS (SELECT DISTINCT o_custkey * 2 AS src,
      |              l_suppkey * 2 + 1 AS dst
      |            FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
      |edges AS (SELECT src, dst FROM e0
      |          UNION SELECT dst AS src, src AS dst FROM e0)""".stripMargin

  private def pageRankOracleSql(iters: Int): String =
    pageRankOracleSqlOver(q82EdgesCtes, iters)

  /** Unrolled BIGINT PageRank recurrence over any edge set supplied
    * as CTEs whose last member is `edges (src, dst)` — shared by the
    * q82 full-graph oracle and the q91 incremental oracle (which runs
    * it over base ∪ batch: incremental must equal full recompute). */
  private def pageRankOracleSqlOver(edgesCtes: String, iters: Int): String = {
    val iterCtes = (1 to iters).map { t =>
      s"""m$t AS (SELECT e.dst AS node_id, SUM(r.pr // d.outd) AS m
         |        FROM r${t - 1} r
         |        JOIN edges e ON r.node_id = e.src
         |        JOIN deg d ON d.src = e.src
         |        GROUP BY e.dst),
         |r$t AS (SELECT r.node_id,
         |          150000000000 + (85 * COALESCE(m.m, 0)) // 100 AS pr
         |        FROM r${t - 1} r LEFT JOIN m$t m USING (node_id))""".stripMargin
    }.mkString(",\n")
    s"""WITH $edgesCtes,
       |deg AS (SELECT src, COUNT(*) AS outd FROM edges GROUP BY src),
       |nodes AS (SELECT src AS node_id FROM edges
       |          UNION SELECT dst AS node_id FROM edges),
       |r0 AS (SELECT node_id, CAST(1000000000000 AS BIGINT) AS pr FROM nodes),
       |$iterCtes
       |SELECT CAST(node_id AS BIGINT) AS node_id, CAST(pr AS BIGINT) AS pr
       |FROM r$iters""".stripMargin
  }

  /** The q91 ingest batch: supplier → part edges with part nodes
    * offset to 2e6+ — disjoint from every base edge (all base node
    * ids sit far below 2e6) and DANGLING (part nodes have no
    * out-edges), so the append genuinely changes existing suppliers'
    * out-degrees while exercising the lost-mass decay path. */
  private def q91BatchEdges(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .filter(col("l_orderkey") % 13 === 0)
      .select((col("l_suppkey") * 2 + 1).as("src"),
        (col("l_partkey") * 2 + 2000000L).as("dst"))
      .distinct()

  /** The q91 persisted contribution-edge store, built from the base
    * graph + one batch append — the e10 lifecycle for graph state. */
  private def q91ContribStoreDir(s: SparkSession, dir: String): String =
    stagedDir("q91_graph", dir) { tmp =>
      val store = s"$tmp/contrib"
      Graph.buildContribStore(q82Edges(s, dir), store, "src", "dst", 32)
      Graph.appendToContribStore(s, store, q91BatchEdges(s, dir),
        "src", "dst", 32)
      // maintenance pass: squash the append's file accumulation; the
      // q91 gate then serves ranks from the COMPACTED store — the
      // row-identity contract is oracle-checked, not assumed
      StoreCompaction.compactStore(s, store)
    } + "/contrib"

  /** Planted-skew heavy-hitter key shared by q76 / q79 / s8: the
    * corpus's own user keys are uniform (TESTDATA degeneracy), so 70%
    * of events land on 3 hot keys and the rest churn ~1500 cold user
    * keys through the 64 MG counters. Null user_id ⇒ null key,
    * excluded by the operators' documented non-null contract (and by
    * the oracles' IS NOT NULL filters). */
  private[catalog] def plantedSkewKey: Column =
    when(col("user_id") % 10 < 7,
      concat(lit("hot_"), (col("user_id") % 3).cast("string")))
      .otherwise(concat(lit("u"), col("user_id").cast("string")))

  /** The q92 persisted heavy-hitter state: the corpus MG summary (one
    * row: counts map + n + k — the sketch an incremental pipeline
    * folds between ingests) AND the key-bucketed corpus store
    * (`bucket = crc32(k) mod 32` partitions — the q91 store discipline,
    * so each fold's exact recheck reads only candidate buckets instead
    * of rescanning the corpus). */
  private def q92SummaryDir(s: SparkSession, dir: String): String =
    stagedDir("q92_mg", dir) { tmp =>
      HeavyHitters.summarize(Tables.events(s, dir), plantedSkewKey, 64)
        .write.mode("overwrite").parquet(s"$tmp/summary")
      HeavyHitters.buildKeyStore(Tables.events(s, dir), plantedSkewKey,
        s"$tmp/store", 32)
      // maintenance pass (the q91/s13 discipline): collapse the
      // build's count deltas + squash the per-task file fan-out; the
      // q92 gate then serves its exact recheck from the
      // VACUUMED+COMPACTED store — summed counts oracle-checked
      HeavyHitters.vacuumKeyStore(s, s"$tmp/store")
      StoreCompaction.compactStore(s, s"$tmp/store")
    }

  /** The q95/q96/s15 fixture: events as (event_id, event_type,
    * xl = value ×100 fixed-point BIGINT — the q64 discipline), null
    * values excluded. Shared so the direct computation, the batch
    * store folds, and the streaming ingest all rank EXACTLY the same
    * multiset (their oracle is q95's). */
  private[catalog] def quantileEvents(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .filter(col("value").isNotNull)
      .select(col("event_id"), col("event_type"),
        (dec2(col("value")) * 100).cast("long").as("xl"))

  /** The q77 old/new snapshot pair — shared by the q77 diff gate and
    * the s9 CDC-apply roundtrip (whose source stream IS q77's diff). */
  private[catalog] def q77Fixture(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    (docs.filter(col("doc_id") % 5 =!= 1),
      docs.filter(col("doc_id") % 7 =!= 3)
        .withColumn("text",
          when(col("doc_id") % 11 === 0, concat(col("text"), lit(" v2")))
            .otherwise(col("text"))))
  }

  // Gates whose oracle others share (`SameAs`).

  // ---- GPT-style sequence packing with document SPLITTING
  // (q97): the global token stream chunked into fixed 128-token
  // training sequences, emitted as a per-doc span map. Exact
  // global order via a two-phase distributed prefix sum —
  // arithmetic shards cumsum locally, one-row-per-shard offsets
  // cumsum on a bounded frame and broadcast back; the corpus
  // pays one exchange and no global sort. docsPerShard = 100
  // exercises multiple shards at every sf. ----
  val q97: Gate = Gate("q97_pack_spans", (s, dir) =>
    Pack.packSpans(Tables.documents(s, dir), "doc_id",
      size(tokens(col("text"))), seqLen = 128, docsPerShard = 100),
    // q97: the same two-level cumsum (shard-local + shard offsets);
    // DuckDB could cumsum globally in one window, but mirroring the
    // sharded arithmetic keeps the oracle a line-for-line twin
    Sql(s"""WITH t AS (SELECT doc_id, CAST(len($toksSql) AS BIGINT) AS n,
       |             doc_id // 100 AS shard
       |           FROM documents WHERE len($toksSql) > 0),
       |c AS (SELECT doc_id, n, shard,
       |        COALESCE(SUM(n) OVER (PARTITION BY shard ORDER BY doc_id ASC
       |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |          AS local_start
       |      FROM t),
       |o AS (SELECT shard,
       |        COALESCE(SUM(stot) OVER (ORDER BY shard ASC
       |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |          AS off
       |      FROM (SELECT shard, SUM(n) AS stot FROM t GROUP BY 1)),
       |p AS (SELECT c.doc_id, o.off + c.local_start AS strt,
       |             o.off + c.local_start + c.n AS fin
       |      FROM c JOIN o USING (shard))
       |SELECT CAST(u.seq_id AS BIGINT) AS seq_id, doc_id,
       |  CAST(greatest(u.seq_id * 128, strt) - strt AS BIGINT) AS tok_start,
       |  CAST(least((u.seq_id + 1) * 128, fin) - strt AS BIGINT) AS tok_end
       |FROM p, unnest(range(CAST(strt // 128 AS BIGINT),
       |  CAST((fin - 1) // 128 + 1 AS BIGINT))) AS u(seq_id)""".stripMargin))

  // Exact heavy hitters via bounded Misra-Gries summary + exact
  // recheck — NO full key-space shuffle (pass 1 shuffles only
  // k-counter buffers, pass 2 only candidate-key rows). The gate
  // derives a planted-skew key (70% of events into 3 hot keys,
  // ~1500 cold user keys churning the 64 counters — the corpus's
  // own keys are uniform, so skew is planted the d12-soak way);
  // the oracle is the naive GROUP BY + HAVING cnt*64 > n plan,
  // which the sketch-then-verify result matches bit-for-bit.
  val q76: Gate = Gate("q76_heavy_hitters", (s, dir) =>
    HeavyHitters.frequentItems(Tables.events(s, dir),
      plantedSkewKey, 64, "k"),
    // Naive full-shuffle plan — the two-pass sketch+recheck must
    // reproduce it exactly (MG guarantees candidates ⊇ the HAVING
    // set; the final threshold is integer arithmetic on both sides).
    Sql("""WITH keyed AS (
      |  SELECT CASE WHEN user_id % 10 < 7
      |              THEN 'hot_' || CAST(user_id % 3 AS VARCHAR)
      |              ELSE 'u' || CAST(user_id AS VARCHAR) END AS k
      |  FROM events),
      |nn AS (SELECT k FROM keyed WHERE k IS NOT NULL),
      |c AS (SELECT k, CAST(COUNT(*) AS BIGINT) AS cnt
      |      FROM nn GROUP BY 1)
      |SELECT k, cnt FROM c
      |WHERE cnt * 64 > (SELECT COUNT(*) FROM nn)""".stripMargin))

  // ---- sort-free exact quantiles (distributed radix selection;
  // operators/Quantiles.scala) — q26's answers by COUNTING, never
  // sorting: each pass is a partial-aggregated bucket count whose
  // shuffle is (groups × quantiles × fanout)-sized, and the
  // interval narrows ×fanout per pass, so ⌈log_fanout(range)⌉
  // scans replace either a per-group value buffer (q26's
  // `percentile`, OOM at 100-TB group sizes) or a global sort.
  // Values are ×100 fixed-point BIGINTs (the q64 discipline); the
  // rank is the pinned type-1 order statistic r = (n−1)·φ + 1 in
  // integer arithmetic, which the oracle reproduces as a
  // ROW_NUMBER filter — no interpolation, no libm.
  val q95: Gate = Gate("q95_radix_quantiles", (s, dir) => {
    import graft.operators.Quantiles
    val e = Tables.events(s, dir)
      .filter(col("value").isNotNull)
      .select(col("event_type"),
        (dec2(col("value")) * 100).cast("long").as("xl"))
    Quantiles.radixQuantiles(e, col("event_type"), col("xl"),
        Seq(Quantiles.Quantile("p25", 25, 100),
          Quantiles.Quantile("p50", 50, 100),
          Quantiles.Quantile("p90", 90, 100)))
      .select(col("grp").as("event_type"),
        (col("p25") / 100.0).as("p25"),
        (col("p50") / 100.0).as("p50"),
        (col("p90") / 100.0).as("p90"))
  },
    // q95: the pinned type-1 order statistic — r-th smallest with
    // r = (n-1)*num/den + 1 in integer arithmetic — reproduced as a
    // ROW_NUMBER filter (ranks are unique, so exactly one row matches
    // each target rank per group). Values are the q64 ×100 fixed
    // point; the final /100.0 is the same correctly-rounded BIGINT→
    // DOUBLE division in both engines.
    Sql("""WITH e AS (
      |  SELECT event_type,
      |         CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS xl
      |  FROM events
      |  WHERE value IS NOT NULL AND event_type IS NOT NULL),
      |r AS (
      |  SELECT event_type, xl,
      |         ROW_NUMBER() OVER (PARTITION BY event_type
      |                            ORDER BY xl ASC) AS rn,
      |         COUNT(*) OVER (PARTITION BY event_type) AS n
      |  FROM e)
      |SELECT event_type,
      |       MAX(CASE WHEN rn = ((n-1)*25)//100 + 1 THEN xl END) / 100.0 AS p25,
      |       MAX(CASE WHEN rn = ((n-1)*50)//100 + 1 THEN xl END) / 100.0 AS p50,
      |       MAX(CASE WHEN rn = ((n-1)*90)//100 + 1 THEN xl END) / 100.0 AS p90
      |FROM r GROUP BY event_type""".stripMargin))

  val gates: Seq[Gate] = Seq(
    // Per-domain cap — deterministic downsampling of over-represented
    // domains (hash-ordered row_number ≤ K per domain). The window
    // partitions by domain: skewed mega-domains are exactly the
    // hot-key shape sessionization's bucketed path handles; at this
    // cap size the partial TopK would also do.
    Gate("q66_domain_cap", (s, dir) => {
      val d = Tables.documents(s, dir).select(col("doc_id"),
        Enrich.domainOf(col("source")).as("domain"))
      val w = Window.partitionBy(col("domain"))
        .orderBy(hash32(col("doc_id").cast("string"), 2).asc, col("doc_id").asc)
      d.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 50)
        .groupBy(col("domain"))
        .agg(count(lit(1)).cast("bigint").as("n_kept"),
          min(col("doc_id")).as("sample_min_id"))
    },
      Sql(s"""WITH d AS (SELECT doc_id,
         |    CASE WHEN source IS NULL OR source = '' THEN '(no_domain)'
         |         ELSE lower(split_part(replace(replace(source,'https://',''),'http://',''),'/',1))
         |    END AS domain
         |  FROM documents),
         |r AS (SELECT doc_id, domain,
         |        ROW_NUMBER() OVER (PARTITION BY domain
         |          ORDER BY ${hash32Sql(2, "CAST(doc_id AS VARCHAR)")} ASC, doc_id ASC) AS rn
         |      FROM d)
         |SELECT domain, CAST(COUNT(*) AS BIGINT) AS n_kept, MIN(doc_id) AS sample_min_id
         |FROM r WHERE rn <= 50 GROUP BY 1""".stripMargin)),

    // Token-budget sequence packing: docs stream into 4096-token bins
    // per hash shard, and the SHARD COUNT IS DERIVED from the input
    // size in-plan (ceil(n_docs / target), integer arithmetic both
    // engines reproduce) — parallelism grows with the corpus instead
    // of a fixed-k serializing into k ever-growing single-task sorts.
    // The gate target (64 docs/shard) scales the sf fixtures: 500
    // docs -> 8 shards, 5000 -> 79; production default is 1M
    // (Pack.packBins).
    Gate("q68_pack", (s, dir) =>
      Pack.packBins(Tables.documents(s, dir), "doc_id",
        size(tokens(col("text"))), binTokens = 4096,
        targetDocsPerShard = 64),
      Sql(s"""WITH nn AS (SELECT greatest((COUNT(*) + 63) // 64, 1) AS n_shards
         |            FROM documents),
         |t AS (SELECT doc_id, CAST(len($toksSql) AS BIGINT) AS n_tokens,
         |    ${hash32Sql(3, "CAST(doc_id AS VARCHAR)")} % (SELECT n_shards FROM nn) AS shard
         |  FROM documents),
         |c AS (SELECT doc_id, n_tokens, shard,
         |        COALESCE(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id ASC
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
         |      FROM t),
         |b AS (SELECT shard, CAST(floor(cum_before / 4096.0) AS BIGINT) AS bin,
         |             doc_id, n_tokens FROM c)
         |SELECT shard, bin, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |       CAST(SUM(n_tokens) AS BIGINT) AS bin_tokens, MIN(doc_id) AS first_doc
         |FROM b GROUP BY 1, 2""".stripMargin)),

    q97,

    // ---- length-bucketed inference batching (q99): sort by token
    // count within derived hash shards, batch each consecutive 16,
    // account the padding waste (n_docs·max_len − batch_tokens) —
    // the serving-cost lever length bucketing exists for. Same
    // bounded-shard-sort economics as q68. ----
    Gate("q99_length_batches", (s, dir) =>
      Pack.lengthBatches(Tables.documents(s, dir), "doc_id",
        size(tokens(col("text"))), batchSize = 16,
        targetDocsPerShard = 64),
      // q99: same derived-shard arithmetic as q68, ROW_NUMBER over
      // (n, doc_id) within shard, consecutive-16 batches, padding =
      // n_docs*max_len - batch_tokens
      Sql(s"""WITH nn AS (SELECT greatest((COUNT(*) + 63) // 64, 1) AS n_shards
         |            FROM documents),
         |t AS (SELECT doc_id, CAST(len($toksSql) AS BIGINT) AS n,
         |    ${hash32Sql(3, "CAST(doc_id AS VARCHAR)")} % (SELECT n_shards FROM nn) AS shard
         |  FROM documents),
         |r AS (SELECT doc_id, n, shard,
         |        ROW_NUMBER() OVER (PARTITION BY shard
         |          ORDER BY n ASC, doc_id ASC) AS rn
         |      FROM t),
         |b AS (SELECT shard, CAST((rn - 1) // 16 AS BIGINT) AS batch_id,
         |             doc_id, n FROM r)
         |SELECT shard, batch_id, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(MAX(n) AS BIGINT) AS max_len,
         |  CAST(SUM(n) AS BIGINT) AS batch_tokens,
         |  CAST(COUNT(*) * MAX(n) - SUM(n) AS BIGINT) AS padding,
         |  MIN(doc_id) AS first_doc
         |FROM b GROUP BY 1, 2""".stripMargin)),

    // ---- incremental sequence packing (q98): the cheapest ingest
    // family — the persisted state is two numbers (token and doc-id
    // high-water marks, additive meta rows), because spans are a
    // pure function of (doc order, counts, seqLen) and the stream
    // only grows at the end: emitted spans never change, so the
    // union of build + fold emissions equals the one-shot q97
    // recompute bit-exactly, which is this gate. ----
    Gate("q98_pack_spans_ingest", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val nTok = size(tokens(col("text")))
      val maxId = docs.agg(max(col("doc_id")).cast("long"))
        .head().getLong(0)
      val (c1, c2) = (maxId / 2, maxId * 9 / 10)
      val tmp = PerJvm.tempDir("q98_pack")
      val (store, out) = (s"$tmp/state", s"$tmp/out")
      val spans0 = Pack.buildSpanStore(docs.filter(col("doc_id") <= c1),
          "doc_id", nTok, 128, store, 100)
      Pack.foldSpans(s, store, out,
        docs.filter(col("doc_id") > c1 && col("doc_id") <= c2), 1L,
        "doc_id", nTok, 128, 100)
      Pack.foldSpans(s, store, out, docs.filter(col("doc_id") > c2), 2L,
        "doc_id", nTok, 128, 100)
      // the folds' spans, read back with the build's schema (no
      // inference job)
      spans0.unionByName(s.read.schema(spans0.schema).parquet(out))
    },
      // q98 folds monotone batches through the span store (state =
      // two high-water numbers); spans are a pure function of order,
      // counts, and seqLen, so build ∪ folds == the one-shot q97
      // computation — its oracle gates both
      SameAs(q97)),

    // SCD2 change history (slowly-changing dimension, type 2): per
    // user, collapse the event stream into versioned
    // [valid_from, valid_to) intervals that change whenever the
    // tracked attribute (event_type) changes — the warehouse-side
    // twin of the reference's keyed upsert (J2/J4), keeping history
    // instead of overwriting. valid_to is NULL on the current row.
    // Scale: two windows over the same (user, time) partitioning —
    // one shuffle, both window passes reuse it.
    Gate("q69_scd2", (s, dir) => {
      val ev = Tables.events(s, dir)
        .filter(col("user_id") % 20 === 0)
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("ts_us"), col("event_type"))
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts_us").asc, col("event_id").asc)
      ev.withColumn("prev", lag(col("event_type"), 1).over(w))
        .filter(col("prev").isNull || col("prev") =!= col("event_type"))
        .withColumn("version", row_number().over(w).cast("int"))
        .withColumn("valid_to_us", lead(col("ts_us"), 1).over(w) - 1)
        .select(col("user_id"), col("version"), col("event_type"),
          col("ts_us").as("valid_from_us"), col("valid_to_us"))
    },
      Sql("""WITH e AS (SELECT user_id, event_id,
        |             epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us, event_type
        |           FROM events WHERE user_id % 20 = 0),
        |c AS (SELECT *, lag(event_type) OVER (PARTITION BY user_id
        |        ORDER BY ts_us ASC, event_id ASC) AS prev FROM e),
        |v AS (SELECT user_id, event_id, ts_us, event_type FROM c
        |      WHERE prev IS NULL OR prev <> event_type)
        |SELECT user_id,
        |       CAST(row_number() OVER (PARTITION BY user_id
        |         ORDER BY ts_us ASC, event_id ASC) AS INT) AS version,
        |       event_type, ts_us AS valid_from_us,
        |       lead(ts_us) OVER (PARTITION BY user_id
        |         ORDER BY ts_us ASC, event_id ASC) - 1 AS valid_to_us
        |FROM v""".stripMargin)),

    // Fixed-size token windows with overlap (training-example prep):
    // 32-token chunks at stride 24. Chunk starts are computed
    // arithmetically and exploded — no self-join, no window; embar-
    // rassingly parallel per doc, the right 100 TB shape. Chunk
    // content is fingerprinted (md5 over the joined tokens) so
    // downstream chunk-level dedup can run without re-tokenizing.
    Gate("q70_chunk", (s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"),
          graft.functions.ColUtil.bindOnce(tokens(col("text"))) { toks =>
            struct(toks.as("toks"), size(toks).as("n"))
          }.as("t"))
        .select(col("doc_id"), col("t.toks").as("toks"), col("t.n").as("n"))
        .select(col("doc_id"), col("toks"),
          explode(sequence(lit(0),
            greatest(floor((col("n") - 9) / lit(24.0)), lit(0L)).cast("int")))
            .as("chunk_idx"))
        .select(col("doc_id"), col("chunk_idx").cast("int").as("chunk_idx"),
          (col("chunk_idx") * 24).cast("int").as("start_pos"),
          graft.functions.ColUtil.bindOnce(
            slice(col("toks"), col("chunk_idx") * 24 + 1, lit(32))) { chunk =>
            struct(size(chunk).cast("int").as("chunk_len"),
              md5(concat_ws(" ", chunk)).as("chunk_md5"))
          }.as("c"))
        .select(col("doc_id"), col("chunk_idx"), col("start_pos"),
          col("c.chunk_len").as("chunk_len"), col("c.chunk_md5").as("chunk_md5")),
      Sql(s"""WITH tk AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |c AS (SELECT doc_id,
         |        unnest(range(CAST(greatest(floor((len(toks) - 9) / 24.0), 0)
         |          AS BIGINT) + 1)) AS chunk_idx
         |      FROM tk),
         |ch AS (SELECT c.doc_id, c.chunk_idx,
         |         tk.toks[c.chunk_idx*24+1 : c.chunk_idx*24+32] AS chunk
         |       FROM c JOIN tk USING (doc_id))
         |SELECT doc_id, CAST(chunk_idx AS INT) AS chunk_idx,
         |       CAST(chunk_idx * 24 AS INT) AS start_pos,
         |       CAST(len(chunk) AS INT) AS chunk_len,
         |       md5(array_to_string(chunk, ' ')) AS chunk_md5
         |FROM ch""".stripMargin)),

    // Weighted dataset mixture: per-language epoch factors (fr ×3,
    // de ×2, rest ×1) materialized via explode(sequence(1, factor)),
    // plus a deterministic hash-gate downsample of the dominant
    // language (en kept at 60%) — the Dolma/Llama-style mix recipe.
    // Scale: narrow ops only (filter + explode), one final agg.
    Gate("q71_mixture", (s, dir) => {
      val d = Tables.documents(s, dir).select(col("doc_id"), col("lang"),
        size(tokens(col("text"))).cast("long").as("n_tok"))
      d.filter(col("lang") =!= "en" ||
          hash32(col("doc_id").cast("string"), 4) % 100 < 60)
        .withColumn("epoch", explode(sequence(lit(1),
          when(col("lang") === "fr", 3)
            .when(col("lang") === "de", 2).otherwise(1))))
        .groupBy(col("lang"))
        .agg(countDistinct(col("doc_id")).cast("bigint").as("n_src_docs"),
          count(lit(1)).cast("bigint").as("n_examples"),
          sum(col("n_tok")).cast("bigint").as("n_tokens"))
    },
      Sql(s"""WITH d AS (SELECT doc_id, lang, CAST(len($toksSql) AS BIGINT) AS n_tok
         |           FROM documents),
         |g AS (SELECT * FROM d WHERE lang <> 'en'
         |        OR ${hash32Sql(4, "CAST(doc_id AS VARCHAR)")} % 100 < 60),
         |x AS (SELECT doc_id, lang, n_tok,
         |        unnest(range(CASE WHEN lang = 'fr' THEN 3
         |                          WHEN lang = 'de' THEN 2 ELSE 1 END)) AS e
         |      FROM g)
         |SELECT lang, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_src_docs,
         |       CAST(COUNT(*) AS BIGINT) AS n_examples,
         |       CAST(SUM(n_tok) AS BIGINT) AS n_tokens
         |FROM x GROUP BY 1""".stripMargin)),

    // Temperature (alpha=0.5) domain rebalancing — rate-based, not
    // rank-based: quotas derived on the domain-count frame, broadcast
    // back, membership by hash threshold. The corpus is scanned once
    // and never key-shuffled (contrast q66's exact-k rank cap).
    Gate("q72_temperature_sample", (s, dir) =>
      Sampling.temperatureSample(
        Tables.documents(s, dir), "doc_id",
        Enrich.domainOf(col("source")), targetTotal = 250),
      Sql(s"""WITH d AS (SELECT doc_id,
         |    CASE WHEN source IS NULL OR source = '' THEN '(no_domain)'
         |         ELSE lower(split_part(replace(replace(source,'https://',''),'http://',''),'/',1))
         |    END AS domain
         |  FROM documents),
         |c AS (SELECT domain, CAST(COUNT(*) AS BIGINT) AS n_total,
         |        CAST(floor(sqrt(CAST(COUNT(*) AS DOUBLE)) * 1048576) AS BIGINT) AS f
         |      FROM d GROUP BY 1),
         |s AS (SELECT SUM(f) AS f_sum FROM c),
         |q AS (SELECT domain, n_total,
         |        LEAST(1048576, CAST(floor(CAST(f AS DOUBLE) * 250.0 * 1048576.0 /
         |          (CAST(f_sum AS DOUBLE) * CAST(n_total AS DOUBLE))) AS BIGINT)) AS threshold
         |      FROM c, s),
         |k AS (SELECT d.domain, CAST(COUNT(*) AS BIGINT) AS n_kept,
         |             MIN(d.doc_id) AS min_kept_id
         |      FROM d JOIN q USING (domain)
         |      WHERE ${hash32Sql(5, "CAST(doc_id AS VARCHAR)")} % 1048576 < threshold
         |      GROUP BY 1)
         |SELECT q.domain, q.n_total, q.threshold,
         |       CAST(COALESCE(k.n_kept, 0) AS BIGINT) AS n_kept, k.min_kept_id
         |FROM q LEFT JOIN k USING (domain)""".stripMargin)),

    // Deterministic per-epoch training shuffle: reproducible order +
    // derived-shard parallelism (the q68 discipline; gate target 64
    // docs/shard so the sf fixtures exercise multi-shard paths).
    Gate("q73_epoch_shuffle", (s, dir) =>
      Sampling.epochShuffle(Tables.documents(s, dir), "doc_id",
        epochs = 2, targetDocsPerShard = 64),
      Sql(s"""WITH nn AS (SELECT greatest((COUNT(*) + 63) // 64, 1) AS n_shards
         |            FROM documents),
         |e AS (SELECT doc_id, unnest([1, 2]) AS epoch FROM documents),
         |t AS (SELECT epoch, doc_id,
         |        ${hash32Sql(6, "CAST(epoch AS VARCHAR) || ':' || CAST(doc_id AS VARCHAR)")} AS key
         |      FROM e)
         |SELECT epoch, key % (SELECT n_shards FROM nn) AS shard, doc_id,
         |       CAST(ROW_NUMBER() OVER (PARTITION BY epoch, key % (SELECT n_shards FROM nn)
         |         ORDER BY key ASC, doc_id ASC) AS BIGINT) AS pos
         |FROM t""".stripMargin)),

    // Priority sampling (Duffield–Lunde–Thorup): k docs per language
    // with the largest priority n_chars/u — weighted stratum
    // sampling with deterministic Lehmer-hash uniforms. Ranking is
    // integer arithmetic plus ONE IEEE division, so it is
    // bit-portable to the oracle; the per-group rank plans as
    // WindowGroupLimit (≤k rows per group per mapper reach the
    // shuffle — the exchange never carries the corpus).
    Gate("q83_priority_sample", (s, dir) =>
      Sampling.prioritySample(
        Tables.documents(s, dir)
          .select(col("lang"), col("doc_id"), col("n_chars")),
        Seq("lang"), col("doc_id"), col("n_chars"), k = 5),
      Sql("""WITH d AS (SELECT lang, doc_id, n_chars,
        |    1 + ((doc_id % 2147483646) * 48271) % 2147483647 AS u
        |  FROM documents WHERE n_chars > 0),
        |p AS (SELECT lang, doc_id, n_chars,
        |    CAST(n_chars AS DOUBLE) / CAST(u AS DOUBLE) AS priority FROM d),
        |r AS (SELECT lang, doc_id, n_chars, priority,
        |    CAST(row_number() OVER (PARTITION BY lang
        |      ORDER BY priority DESC, doc_id ASC) AS INT) AS rnk FROM p)
        |SELECT lang, doc_id, n_chars, priority, rnk FROM r WHERE rnk <= 5""".stripMargin)),

    // ---- incremental priority sample (the d13/q90 ingest shape
    // for weighted sampling): top-k is k-mergeable, so the fold
    // touches only the O(groups·k) stored sample + the batch — the
    // corpus is never rescanned (Sampling.prioritySampleFold).
    // Batch = every 11th doc cloned at +1e6 with n_chars·1000 —
    // weights big enough that batch rows genuinely WIN slots
    // (SamplingSpec pins that), so the fold is tested under real
    // contention, not as a no-op union. Oracle: q83's
    // pipeline recomputed in FULL over corpus ∪ batch —
    // deterministic Lehmer priorities make fold == recompute
    // bit-exact, which is the gate.
    Gate("q93_incremental_priority_sample", (s, dir) => {
      val docs = Tables.documents(s, dir)
        .select(col("lang"), col("doc_id"), col("n_chars"))
      val state = Sampling.prioritySample(docs, Seq("lang"),
        col("doc_id"), col("n_chars"), k = 5)
      val batch = Tables.documents(s, dir)
        .filter(col("doc_id") % 11 === 0)
        .select(col("lang"), cloneId(col("doc_id")).as("doc_id"),
          (col("n_chars") * 1000).as("n_chars"))
      Sampling.prioritySampleFold(state, batch, Seq("lang"),
        col("doc_id"), col("n_chars"), k = 5)
    },
      // Priority-sampling oracle: the Lehmer step is BIGINT-exact
      // (intermediates < 2^48) and the priority is one correctly-rounded
      // IEEE division of integer-exact doubles, so both engines rank
      // identically; doc_id breaks ties into a total order.
      // q93: the q83 pipeline in FULL over corpus ∪ batch — the
      // k-mergeable fold must reproduce this recompute bit-exactly
      // (priorities are deterministic Lehmer uniforms on the id).
      Sql("""WITH src AS (SELECT lang, doc_id, n_chars FROM documents
        |             UNION ALL
        |             SELECT lang, doc_id + 1000000, n_chars * 1000
        |             FROM documents WHERE doc_id % 11 = 0),
        |d AS (SELECT lang, doc_id, n_chars,
        |    1 + ((doc_id % 2147483646) * 48271) % 2147483647 AS u
        |  FROM src WHERE n_chars > 0),
        |p AS (SELECT lang, doc_id, n_chars,
        |    CAST(n_chars AS DOUBLE) / CAST(u AS DOUBLE) AS priority FROM d),
        |r AS (SELECT lang, doc_id, n_chars, priority,
        |    CAST(row_number() OVER (PARTITION BY lang
        |      ORDER BY priority DESC, doc_id ASC) AS INT) AS rnk FROM p)
        |SELECT lang, doc_id, n_chars, priority, rnk FROM r WHERE rnk <= 5""".stripMargin)),

    // DSIR-style target-conditioned data selection (hashed n-gram
    // importance weights, integer-exact surrogate score — scale
    // analysis and the log-free portability argument in
    // Sampling.dsirSelect's scaladoc). Target = English docs; the
    // top-100 most target-like documents of the raw pool win.
    Gate("q86_dsir_select", (s, dir) =>
      Sampling.dsirSelect(Tables.documents(s, dir),
        "doc_id", col("text"), col("lang") === "en", k = 100),
      // DSIR surrogate: identical hashed-bucket features (md5-based
      // hash32 twin), identical integer weight algebra, same top-k
      // tiebreak. SUM over BIGINT products stays within int64 (DuckDB
      // widens to HUGEINT internally; the final CAST pins the schema).
      Sql(s"""WITH tk AS (SELECT doc_id, lang = 'en' AS tgt,
         |              unnest($toksSql) AS tok FROM documents),
         |tb AS (SELECT doc_id, tgt, ${hash32Sql(0, "tok")} % 64 AS b FROM tk),
         |st AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS rc,
         |         CAST(SUM(CASE WHEN tgt THEN 1 ELSE 0 END) AS BIGINT) AS tc
         |       FROM tb GROUP BY 1),
         |tot AS (SELECT CAST(SUM(rc) AS BIGINT) AS n_raw,
         |               CAST(SUM(tc) AS BIGINT) AS n_tgt FROM st),
         |w AS (SELECT st.b, st.tc * tot.n_raw - st.rc * tot.n_tgt AS w
         |      FROM st CROSS JOIN tot),
         |sc AS (SELECT tb.doc_id, CAST(SUM(w.w) AS BIGINT) AS score
         |       FROM tb JOIN w USING (b) GROUP BY 1)
         |SELECT doc_id, score FROM sc
         |ORDER BY score DESC, doc_id ASC LIMIT 100""".stripMargin)),

    // Incremental DSIR (the d13/d19 discipline for data selection):
    // bucket stats are ADDITIVE, so an ingest batch folds into the
    // persisted corpus stats without rescanning the corpus. The
    // oracle recomputes the full pipeline over corpus ∪ batch —
    // additivity makes incremental and full bit-identical, which
    // is the gate. Batch = every 7th doc cloned with extra text
    // (ids +1e6, lang preserved), so the weights genuinely move.
    Gate("q90_incremental_dsir", (s, dir) => {
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), col("text"), col("lang"))
      val batch = docs.filter(col("doc_id") % 7 === 0)
        .select(cloneId(col("doc_id")).as("doc_id"),
          concat(col("text"), lit(" freshly ingested alpha text")).as("text"),
          col("lang"))
      val corpusStats = Sampling.dsirStats(docs, col("text"),
        col("lang") === "en")
      val batchStats = Sampling.dsirStats(batch, col("text"),
        col("lang") === "en")
      Sampling.dsirSelectWithStats(docs.unionByName(batch), "doc_id",
        col("text"), Sampling.combineDsirStats(corpusStats, batchStats),
        k = 100)
    },
      // q90: the q86 pipeline recomputed in FULL over corpus ∪ batch —
      // stat additivity makes the Spark side's incremental fold equal
      // this bit-for-bit
      Sql(s"""WITH corpus AS (SELECT doc_id, text, lang FROM documents
         |                UNION ALL
         |                SELECT doc_id + 1000000,
         |                  text || ' freshly ingested alpha text', lang
         |                FROM documents WHERE doc_id % 7 = 0),
         |tk AS (SELECT doc_id, lang = 'en' AS tgt,
         |              unnest($toksSql) AS tok FROM corpus),
         |tb AS (SELECT doc_id, tgt, ${hash32Sql(0, "tok")} % 64 AS b FROM tk),
         |st AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS rc,
         |         CAST(SUM(CASE WHEN tgt THEN 1 ELSE 0 END) AS BIGINT) AS tc
         |       FROM tb GROUP BY 1),
         |tot AS (SELECT CAST(SUM(rc) AS BIGINT) AS n_raw,
         |               CAST(SUM(tc) AS BIGINT) AS n_tgt FROM st),
         |w AS (SELECT st.b, st.tc * tot.n_raw - st.rc * tot.n_tgt AS w
         |      FROM st CROSS JOIN tot),
         |sc AS (SELECT tb.doc_id, CAST(SUM(w.w) AS BIGINT) AS score
         |       FROM tb JOIN w USING (b) GROUP BY 1)
         |SELECT doc_id, score FROM sc
         |ORDER BY score DESC, doc_id ASC LIMIT 100""".stripMargin)),

    // Corrupt-record quarantine (ingestion robustness, the B1
    // null-filter discipline applied to malformed input): a JSONL
    // staging with every 7th line truncated is read through Spark's
    // PERMISSIVE mode — bad lines land in _corrupt_record with all
    // data fields null, good lines parse — and the query accounts
    // both sides. At 100 TB this is the difference between one bad
    // crawl shard failing the job (FAILFAST) and a quarantine table
    // plus an accounted drop rate. The oracle reconstructs the same
    // deterministic corruption rule from the documents table.
    Gate("q75_corrupt_quarantine", (s, dir) => {
      import org.apache.spark.sql.types._
      val schema = StructType(Seq(
        StructField("id", LongType), StructField("text", StringType),
        StructField("_corrupt_record", StringType)))
      s.read.schema(schema).option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(corruptJsonDir(s, dir))
        // `|| id.isNull` is load-bearing: under an outer count() the
        // grouping key is the only surviving reference, and a scan
        // whose required schema is ONLY the corrupt column is
        // disallowed (UNSUPPORTED_FEATURE.QUERY_ONLY_CORRUPT_RECORD_
        // COLUMN). Referencing id keeps the scan legal under any
        // downstream pruning; every planted line has an id, so the
        // disjunct never changes the value.
        .select(col("id"), col("text"),
          (col("_corrupt_record").isNotNull || col("id").isNull)
            .as("is_corrupt"))
        .groupBy(col("is_corrupt"))
        .agg(count(lit(1)).cast("bigint").as("n"),
          sum(when(col("is_corrupt"), lit(0L))
            .otherwise(length(col("text")))).cast("bigint").as("text_chars"),
          // min over non-corrupt ids ONLY, mirroring the oracle's
          // CASE: with partial-result JSON parsing
          // (spark.sql.json.enablePartialResults, default-on in
          // newer Sparks) a truncated record can retain its
          // already-parsed id, so min(id) over the corrupt group
          // would depend on the parser build, not the data
          min(when(col("is_corrupt"), lit(null)).otherwise(col("id")))
            .as("min_id"))
    },
      Sql(s"""WITH t AS (SELECT doc_id, array_to_string($toksSql, ' ') AS clean
         |           FROM documents),
         |j AS (SELECT doc_id, doc_id % 7 = 0 AS is_corrupt, clean FROM t)
         |SELECT is_corrupt, CAST(COUNT(*) AS BIGINT) AS n,
         |       CAST(SUM(CASE WHEN is_corrupt THEN 0
         |                     ELSE length(clean) END) AS BIGINT) AS text_chars,
         |       MIN(CASE WHEN is_corrupt THEN NULL ELSE doc_id END) AS min_id
         |FROM j GROUP BY 1""".stripMargin)),

    // Per-group heavy hitters (per-domain/lang token-stats shape):
    // one MG summary per event_type via the udaf form, candidates
    // joined back in-plan (no driver fetch), exact per-group
    // threshold. Same planted-skew key as q76; each group's ~1500
    // cold keys churn its own 64 counters.
    Gate("q79_group_heavy_hitters", (s, dir) =>
      HeavyHitters.frequentItemsByGroup(Tables.events(s, dir),
        col("event_type"), plantedSkewKey, 64, "grp", "k"),
      // Naive per-group GROUP BY + HAVING — the per-group sketch plan
      // must reproduce it exactly (per-group MG candidates ⊇ each
      // group's HAVING set; integer threshold on both sides).
      Sql("""WITH keyed AS (
        |  SELECT event_type AS grp,
        |         CASE WHEN user_id % 10 < 7
        |              THEN 'hot_' || CAST(user_id % 3 AS VARCHAR)
        |              ELSE 'u' || CAST(user_id AS VARCHAR) END AS k
        |  FROM events
        |  WHERE event_type IS NOT NULL),
        |nn AS (SELECT grp, k FROM keyed WHERE k IS NOT NULL),
        |c AS (SELECT grp, k, CAST(COUNT(*) AS BIGINT) AS cnt
        |      FROM nn GROUP BY 1, 2),
        |t AS (SELECT grp, SUM(cnt) AS n FROM c GROUP BY 1)
        |SELECT c.grp, c.k, c.cnt FROM c JOIN t USING (grp)
        |WHERE c.cnt * 64 > t.n""".stripMargin)),

    // Multi-field entity resolution: per-field blocking (PassJoin
    // segments for the fuzzy name/city fields, a hash join on the
    // value for the exact code field), union of candidate sets,
    // weighted per-field score verify — the corpus-scale form of
    // the reference merge's exact-id identity. Fields derive from
    // documents with planted mutations (doc_id%13 rewrites the
    // name's first char; doc_id%19 appends to the city), so pairs
    // qualify through every combination: exact name alone (0.5),
    // code+city without the name (0.3+0.2), fuzzy name+code
    // (0.333+0.3). Oracle is the naive all-pairs scored join — the
    // same fixed-order double expression, so scores match
    // bit-for-bit.
    Gate("q80_entity_resolution", (s, dir) => {
      val baseName = lower(substring(col("text"), 1, 20))
      val baseCity = substring(lower(col("text")), 30, 12)
      val recs = Tables.documents(s, dir).select(
        col("doc_id").as("id"),
        when(col("doc_id") % 13 === 0,
          concat(lit("z"), substring(baseName, 2, 19)))
          .otherwise(baseName).as("name"),
        concat(lit("c"), (col("doc_id") % 50).cast("string")).as("code"),
        when(col("doc_id") % 19 === 0, concat(baseCity, lit("q")))
          .otherwise(baseCity).as("city"))
      EntityResolution.entityPairs(recs, "id",
        Seq(EntityResolution.ErField("name", 2, 0.5),
          EntityResolution.ErField("code", 0, 0.3),
          EntityResolution.ErField("city", 1, 0.2)),
        minScore = 0.4)
    },
      // Naive all-pairs weighted-score join — the per-field-blocked
      // Spark plan must reproduce it exactly (the candidate union is
      // complete for score > 0; both engines evaluate the SAME
      // fixed-order double expression from integer distances, so the
      // score column matches bit-for-bit).
      Sql("""WITH r AS (
        |  SELECT doc_id AS id,
        |    CASE WHEN doc_id % 13 = 0
        |         THEN 'z' || substr(lower(substr(text, 1, 20)), 2)
        |         ELSE lower(substr(text, 1, 20)) END AS name,
        |    'c' || CAST(doc_id % 50 AS VARCHAR) AS code,
        |    CASE WHEN doc_id % 19 = 0
        |         THEN substr(lower(text), 30, 12) || 'q'
        |         ELSE substr(lower(text), 30, 12) END AS city
        |  FROM documents),
        |p AS (SELECT a.id AS id_a, b.id AS id_b,
        |        levenshtein(a.name, b.name) AS dn,
        |        CASE WHEN a.code IS NOT NULL AND a.code = b.code
        |             THEN 1 ELSE 0 END AS mc,
        |        levenshtein(a.city, b.city) AS dc
        |      FROM r a JOIN r b ON a.id < b.id),
        |s AS (SELECT id_a, id_b,
        |        (CASE WHEN dn <= 2 THEN 0.5 * (1 - CAST(dn AS DOUBLE) / 3.0)
        |              ELSE 0.0 END)
        |      + (CASE WHEN mc = 1 THEN 0.3 ELSE 0.0 END)
        |      + (CASE WHEN dc <= 1 THEN 0.2 * (1 - CAST(dc AS DOUBLE) / 2.0)
        |              ELSE 0.0 END) AS score
        |      FROM p)
        |SELECT id_a, id_b, score FROM s WHERE score >= 0.4""".stripMargin)),

    // Edit-distance fuzzy self-match WITHOUT the all-pairs compare:
    // PassJoin segment blocking (pigeonhole: a <= d partner shares
    // an untouched segment at a +-d shifted position) generates a
    // complete candidate superset from one composite-key hash join;
    // exact levenshtein verifies. Planted dist-1 mutations
    // (doc_id % 17 = 0 rewrites the first char) give the gate
    // non-trivial distances on top of the corpus's duplicate
    // prefixes.
    Gate("q78_fuzzy_match", (s, dir) => {
      val prefix = Tables.documents(s, dir)
        .select(col("doc_id"),
          lower(substring(col("text"), 1, 24)).as("s0"))
      val keyed = prefix.select(col("doc_id"),
        when(col("doc_id") % 17 === 0,
          concat(lit("z"), substring(col("s0"), 2, 24)))
          .otherwise(col("s0")).as("s"))
      FuzzyJoin.editDistancePairs(keyed, "doc_id", "s", 2)
    },
      // Naive all-pairs levenshtein — the segment-blocked Spark plan
      // must reproduce it exactly (blocking only prunes pairs that
      // provably exceed d; both engines use unit-cost Levenshtein).
      Sql("""WITH s0 AS (SELECT doc_id, lower(substr(text, 1, 24)) AS s0
        |            FROM documents),
        |s AS (SELECT doc_id,
        |        CASE WHEN doc_id % 17 = 0 THEN 'z' || substr(s0, 2)
        |             ELSE s0 END AS s
        |      FROM s0),
        |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |             levenshtein(a.s, b.s) AS dist
        |      FROM s a JOIN s b ON a.doc_id < b.doc_id)
        |SELECT id_a, id_b, CAST(dist AS INT) AS dist
        |FROM p WHERE dist <= 2""".stripMargin)),

    // Snapshot diff / CDC derivation: classify insert/update/delete
    // on narrow (key, md5-digest) frames so the unchanged majority
    // never shuffles its payload, then join row images back only
    // for changed keys. Snapshots are derived deterministically
    // from `documents` (the d13 discipline): old drops ids %5=1,
    // new drops ids %7=3 and rewrites text for ids %11=0.
    Gate("q77_snapshot_diff", (s, dir) => {
      val (oldSnap, newSnap) = q77Fixture(s, dir)
      SnapshotDiff.diff(oldSnap, newSnap, Seq("doc_id"))
    },
      // Naive value-compare full outer join — the digest-first Spark
      // plan must reproduce it exactly (digests are compared only
      // within Spark; the oracle compares the values themselves).
      Sql("""WITH old AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 != 1),
        |new AS (SELECT doc_id,
        |          CASE WHEN doc_id % 11 = 0 THEN text || ' v2' ELSE text END AS text
        |        FROM documents WHERE doc_id % 7 != 3),
        |j AS (SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
        |             o.text AS ot, n.text AS nt,
        |             CASE WHEN o.doc_id IS NULL THEN 'insert'
        |                  WHEN n.doc_id IS NULL THEN 'delete'
        |                  WHEN o.text IS DISTINCT FROM n.text THEN 'update' END AS op
        |      FROM old o FULL OUTER JOIN new n ON o.doc_id = n.doc_id)
        |SELECT doc_id, CASE WHEN op = 'delete' THEN ot ELSE nt END AS text, op
        |FROM j WHERE op IS NOT NULL""".stripMargin)),

    // q77 with the partition short-circuit: per-partition rollup
    // signatures (count + order-independent digest sums) eliminate
    // unchanged partitions BEFORE the row-level classification
    // join. Mutations are confined to partitions {3, 7, 11} of 16,
    // so 13 of 16 partitions skip even the narrow digest join —
    // the daily-snapshot regime where a 100-TB diff touches only
    // the dates that moved. Output is identical to a full diff
    // (SnapshotDiffSpec proves the identity; the oracle here is
    // the same naive full-outer value compare as q77's).
    Gate("q81_snapshot_diff_partitioned", (s, dir) => {
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), (col("doc_id") % 16).as("p"), col("text"))
      val oldSnap = docs
        .filter(!(col("p") === 7 && col("doc_id") % 3 === 0))
      val newSnap = docs
        .filter(!(col("p") === 3 && col("doc_id") % 5 === 0))
        .withColumn("text",
          when(col("p") === 11 && col("doc_id") % 3 === 0,
            concat(col("text"), lit(" v2")))
            .otherwise(col("text")))
      SnapshotDiff.diffPartitioned(oldSnap, newSnap,
        Seq("doc_id"), Seq("p"))
    },
      // Same naive value-compare oracle as q77 — the partition
      // short-circuit is a physical pruning whose exactness the oracle
      // verifies (one oracle, two execution paths, the d13/d14
      // discipline).
      Sql("""WITH docs AS (SELECT doc_id, doc_id % 16 AS p, text FROM documents),
        |old AS (SELECT * FROM docs WHERE NOT (p = 7 AND doc_id % 3 = 0)),
        |new AS (SELECT doc_id, p,
        |          CASE WHEN p = 11 AND doc_id % 3 = 0 THEN text || ' v2'
        |               ELSE text END AS text
        |        FROM docs WHERE NOT (p = 3 AND doc_id % 5 = 0)),
        |j AS (SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
        |             COALESCE(o.p, n.p) AS p,
        |             o.text AS ot, n.text AS nt,
        |             CASE WHEN o.doc_id IS NULL THEN 'insert'
        |                  WHEN n.doc_id IS NULL THEN 'delete'
        |                  WHEN o.text IS DISTINCT FROM n.text THEN 'update' END AS op
        |      FROM old o FULL OUTER JOIN new n ON o.doc_id = n.doc_id)
        |SELECT doc_id, p, CASE WHEN op = 'delete' THEN ot ELSE nt END AS text, op
        |FROM j WHERE op IS NOT NULL""".stripMargin)),

    // Link-graph centrality (operators/Graph.scala): integer-exact
    // damped PageRank, 4 fixed iterations, over the symmetrized
    // customer↔supplier interaction graph (distinct trade edges from
    // orders⋈lineitem; node ids disambiguated as custkey*2 /
    // suppkey*2+1). Corpus curation gates on exactly this signal
    // family — host-graph centrality decides which crawl segments
    // are worth text-filtering at all. BIGINT recurrence end to end
    // (rank div outdeg, (85*m) div 100), so the unrolled-CTE oracle
    // matches hash-exactly with no float-sum-order hazard, and the
    // per-iteration work is one edges⋈ranks shuffle + one
    // partial-aggregable sum — the edge list is persisted once and
    // never recomputed (see Graph.pageRank scale notes).
    Gate("q82_pagerank", (s, dir) =>
      Graph.pageRank(q82Edges(s, dir), "src", "dst", iters = 4)
        .select(col("node_id").cast("bigint").as("node_id"),
          col("pr").cast("bigint").as("pr")),
      // The same BIGINT recurrence unrolled as one CTE per iteration:
      // DuckDB's `//` is floor division and every operand is
      // non-negative, so it coincides with Spark's truncating DIV and
      // the comparison is hash-exact — no float tolerance anywhere.
      Sql(pageRankOracleSql(iters = 4))),

    // ---- incremental PageRank (r10 verdict item 2: the last
    // iterative family without an ingest twin). The contribution-
    // edge store (src, dst, outd) is persisted partitioned by
    // src-bucket; the batch append recomputes out-degrees ONLY for
    // its own sources and rewrites ONLY the buckets holding them
    // (dynamic partition overwrite behind a partition-pruned read)
    // — the old edge list is never rescanned. Ranks are then
    // refreshed from the store. The oracle recomputes the full
    // unrolled recurrence over base ∪ batch — the folded store is
    // row-identical to a fresh build over the union, and the
    // recurrence is BIGINT-exact, so incremental == rebuild
    // bit-for-bit, which is the gate (the e10/q90 discipline).
    // Batch edges (supplier → part+2e6 offset) are disjoint from
    // the base graph by id-range construction, and dangle (new dst
    // nodes have no out-edges) — exercising the lost-mass path the
    // symmetric q82 graph cannot.
    Gate("q91_incremental_pagerank", (s, dir) =>
      Graph.pageRankFromStore(s, q91ContribStoreDir(s, dir), iters = 4)
        .select(col("node_id").cast("bigint").as("node_id"),
          col("pr").cast("bigint").as("pr")),
      // q91: the SAME recurrence over base ∪ batch — the folded store
      // is row-identical to a fresh build over the union, so the
      // incremental path must reproduce the full recompute bit-exactly.
      // Batch edges are disjoint from base by the +2e6 dst offset, so
      // UNION ALL is exact.
      Sql(pageRankOracleSqlOver(
      """e0 AS (SELECT DISTINCT o_custkey * 2 AS src,
        |              l_suppkey * 2 + 1 AS dst
        |            FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
        |base AS (SELECT src, dst FROM e0
        |         UNION SELECT dst AS src, src AS dst FROM e0),
        |batch AS (SELECT DISTINCT l_suppkey * 2 + 1 AS src,
        |            l_partkey * 2 + 2000000 AS dst
        |          FROM lineitem WHERE l_orderkey % 13 = 0),
        |edges AS (SELECT src, dst FROM base
        |          UNION ALL SELECT src, dst FROM batch)""".stripMargin,
      iters = 4))),

    q76,

    // ---- incremental heavy hitters (the d13/q90 ingest discipline
    // for the sketch family): the corpus MG summary is PERSISTED
    // once (q92SummaryDir) and folded with the batch's summary —
    // mergeable with the n/(k+1) bound intact over any merge tree
    // (Agarwal et al.), so the corpus is never rescanned to sketch.
    // The exact recheck is served from the PERSISTED key-bucketed
    // corpus store — candidate keys map to their crc32 buckets
    // driver-side and the scan carries a static `PartitionFilters:
    // [bucket IN (…)]` (PLANS.md evidence), so a fold reads
    // O(batch + candidate-bucket rows), never the corpus (the last
    // full-corpus-scan-per-fold in the incremental family, gone).
    // Oracle: naive GROUP BY + HAVING over the union, which the
    // folded result matches bit-for-bit.
    Gate("q92_incremental_heavy_hitters", (s, dir) => {
      val ev = Tables.events(s, dir)
      val batch = ev.filter(col("event_id") % 9 === 0)
      val state = q92SummaryDir(s, dir)
      HeavyHitters.frequentItemsFoldedFromStore(
        s, s.read.parquet(s"$state/summary"), s"$state/store",
        batch, plantedSkewKey, 64, 32, "k")
    },
      // q92: naive GROUP BY + HAVING over events ∪ the batch slice —
      // the folded-summary + candidate-bounded recheck must match it
      // bit-for-bit (mergeable MG keeps the n/(k+1) bound).
      Sql("""WITH keyed AS (
        |  SELECT CASE WHEN user_id % 10 < 7
        |              THEN 'hot_' || CAST(user_id % 3 AS VARCHAR)
        |              ELSE 'u' || CAST(user_id AS VARCHAR) END AS k
        |  FROM events
        |  UNION ALL
        |  SELECT CASE WHEN user_id % 10 < 7
        |              THEN 'hot_' || CAST(user_id % 3 AS VARCHAR)
        |              ELSE 'u' || CAST(user_id AS VARCHAR) END AS k
        |  FROM events WHERE event_id % 9 = 0),
        |nn AS (SELECT k FROM keyed WHERE k IS NOT NULL),
        |c AS (SELECT k, CAST(COUNT(*) AS BIGINT) AS cnt
        |      FROM nn GROUP BY 1)
        |SELECT k, cnt FROM c
        |WHERE cnt * 64 > (SELECT COUNT(*) FROM nn)""".stripMargin)),

    // Partition pruning on a hive-partitioned staging: the scan must
    // show `PartitionFilters: [event_type IN (...)]` and touch 2 of
    // 5 directories (PLANS.md evidence) — at 100 TB this is the
    // difference between reading 40% and 100% of the table before
    // the first filter runs. The fixture is partitioned once per JVM
    // by partitionedEventsDir and, immutable from then on, read with
    // its schema memoized like any fixture table.
    Gate("q74_partition_prune", (s, dir) =>
      Tables.parquet(s, partitionedEventsDir(s, dir))
        .filter(col("event_type").isin("signup", "purchase"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).cast("bigint").as("n"),
          sum(col("value").cast("decimal(18,2)")).cast("double")
            .as("total_value")),
      Sql("""SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |       CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS total_value
        |FROM events WHERE event_type IN ('signup', 'purchase')
        |GROUP BY 1""".stripMargin)),

    // Time-slice scan: a ts-range predicate that must reach the
    // parquet reader as PushedFilters [GreaterThanOrEqual(ts,...),
    // LessThan(ts,...)] — row-group min/max pruning, the dominant
    // pruning axis for a time-ordered 100 TB events table (a day's
    // slice touches ~1/30 of the row groups WITHOUT partition
    // columns). This works ONLY because Sessions.tune reads
    // MICROS-NTZ parquet as TIMESTAMP (inferTimestampNTZ=false):
    // an NTZ read would put a cast above the scan that no predicate
    // can push through. PlanShapeSpec pins the PushedFilters line;
    // PLANS.md carries the scan as evidence.
    Gate("q85_time_slice", (s, dir) => {
      import graft.operators.Marts.dec2
      Tables.events(s, dir)
        .filter(col("ts") >= lit("2024-01-10 00:00:00").cast("timestamp") &&
          col("ts") < lit("2024-01-20 00:00:00").cast("timestamp"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).cast("bigint").as("n"),
          sum(dec2(col("value"))).cast("decimal(18,2)").as("total"))
        .select(col("event_type"), col("n"),
          col("total").cast("double").as("total"))
    },
      Sql("""SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |       CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS total
        |FROM events
        |WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
        |  AND ts < TIMESTAMP '2024-01-20 00:00:00'
        |GROUP BY 1""".stripMargin)),

    // ---- binned PURE range join (q38 has a user_id equi-key; this
    // is the keyless case Spark plans as a nested loop — binning
    // turns it into a bucket equi-join; see RangeJoin scaladoc).
    // Ranges: 25 overlapping 3h windows spaced 2h from the corpus
    // min ts (derived, so any fixture regeneration still overlaps).
    Gate("q88_binned_range_join", (s, dir) => {
      val ev = Tables.events(s, dir).filter(col("ts").isNotNull)
        .select(unix_micros(col("ts")).as("ts_us"),
          Marts.dec2(col("value")).as("val"))
      val ranges = Tables.nation(s, dir)
        .select(col("n_nationkey").cast("long").as("range_id"))
        .crossJoin(broadcast(ev.agg(min(col("ts_us")).as("t0"))))
        .select(col("range_id"),
          (col("t0") + col("range_id") * 7200000000L).as("start_us"),
          (col("t0") + col("range_id") * 7200000000L + 10800000000L)
            .as("end_us"))
      RangeJoin.binnedRangeJoin(ev, "ts_us", ranges,
          "start_us", "end_us", binUs = 3600000000L)
        .groupBy(col("range_id"))
        .agg(count(lit(1)).cast("bigint").as("n"),
          sum(col("val")).cast("decimal(18,2)").cast("double").as("total"))
    },
      // q88's contract IS the naive inequality join — binning must be
      // result-invisible (each event meets each matching range once)
      Sql("""WITH e AS (SELECT epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us, value
        |           FROM events WHERE ts IS NOT NULL),
        |t0 AS (SELECT MIN(ts_us) AS t0 FROM e),
        |r AS (SELECT CAST(n_nationkey AS BIGINT) AS range_id,
        |        t0.t0 + CAST(n_nationkey AS BIGINT) * 7200000000 AS start_us,
        |        t0.t0 + CAST(n_nationkey AS BIGINT) * 7200000000
        |          + 10800000000 AS end_us
        |      FROM nation CROSS JOIN t0)
        |SELECT r.range_id, CAST(COUNT(*) AS BIGINT) AS n,
        |       CAST(CAST(SUM(CAST(e.value AS DECIMAL(18,2)))
        |         AS DECIMAL(18,2)) AS DOUBLE) AS total
        |FROM e JOIN r ON e.ts_us >= r.start_us AND e.ts_us < r.end_us
        |GROUP BY 1""".stripMargin)),

    // Sketch-accuracy gate (e5's recall-gate discipline applied to
    // cardinality/quantile sketches): the 100-TB profile pass runs
    // HLL++ (approx_count_distinct) and the quantile sketch
    // (percentile_approx) — one partial-aggregable pass, no
    // exact-distinct shuffle. DuckDB cannot reproduce Spark's sketch
    // internals, so the sketches are validated IN-PLAN against their
    // exact twins via Checks.gated (job fails if either drifts out
    // of tolerance) while the oracle gates the exact values.
    //
    // BOUNDED exact twins (r6 verdict): the exact percentile's
    // ObjectHashAggregate buffers the whole per-group value multiset
    // — under this ~5-value grouping key at 100 TB that is 5 reduce
    // tasks each holding ~n/5 doubles, an OOM by construction. So:
    // HLL is gated IN FULL (exact countDistinct partial-aggregates
    // over (type, user) with O(distinct) state spread across
    // partitions — scale-safe), and the percentile is gated ON A
    // DETERMINISTIC HASH-SAMPLE (hash32(event_id) mod 8 == 0 — the
    // q36 discipline, bit-reproducible by the oracle): BOTH the
    // sketch and its exact twin aggregate the SAME sampled rows via
    // percentile's null-skipping `when`, so the gate sees pure
    // sketch error (tolerance stays tight, no sampling-noise slack)
    // and only sampled values ever enter the exact buffer — one
    // scan, the buffer bounded by the sample. At corpus scale the
    // mod-K keeps a fixed sample-size target by growing K with n;
    // a q36-style sample is the only place an exact quantile can
    // exist at 100 TB at all.
    Gate("q67_sketch_gate", (s, dir) => {
      val sampled = pmod(hash32(col("event_id").cast("string"), 3), lit(8)) === 0
      val agg = Tables.events(s, dir).groupBy(col("event_type")).agg(
        countDistinct(col("user_id")).cast("bigint").as("n_users"),
        approx_count_distinct(col("user_id")).as("hll_users"),
        percentile(when(sampled, col("value")), lit(0.5)).as("p50x"),
        percentile_approx(when(sampled, col("value")), lit(0.5), lit(10000))
          .as("p50s"))
      val g1 = Checks.gated(agg, "hll_rel_err",
        abs(col("hll_users") - col("n_users")).cast("double")
          <= col("n_users").cast("double") * 0.1,
        concat(lit("hll="), col("hll_users"), lit(" exact="), col("n_users")))
      Checks.gated(g1, "p50_abs_err",
        abs(col("p50s") - col("p50x")) <= abs(col("p50x")) * 0.05 + 0.01,
        concat(lit("sketch="), col("p50s"), lit(" exact="), col("p50x")))
        .select(col("event_type"), col("n_users"),
          col("p50x").cast("decimal(18,6)").cast("double").as("p50"))
    },
      // gates the EXACT twins; the sketches themselves are asserted
      // in-plan (see the query's comment — DuckDB has no HLL++/t-digest
      // twin to compare against)
      Sql(s"""SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
         |       CAST(CAST(quantile_cont(value, 0.5)
         |           FILTER (WHERE ${hash32Sql(3, "CAST(event_id AS VARCHAR)")} % 8 = 0)
         |         AS DECIMAL(18,6)) AS DOUBLE) AS p50
         |FROM events GROUP BY 1""".stripMargin)),

    // ---- salted fact-dim join (the join-side skew path beside
    // q22's agg salting: hot fact keys spread over saltBuckets
    // reducers, dim rows replicate — cost model and the
    // when-not-to-use-this note in Skew.saltedJoin's scaladoc).
    // events.user_id is 150 distinct keys over 10k+ rows — every
    // key is hot relative to the reducer count, the exact shape a
    // plain shuffle join serializes on. Result must equal the
    // plain join bit-for-bit, which is the oracle.
    Gate("q87_salted_join", (s, dir) =>
      Skew.saltedJoin(
        Tables.events(s, dir)
          .filter(col("user_id").isNotNull)
          .select(col("user_id").cast("long").as("c_custkey"),
            col("event_type"), Marts.dec2(col("value")).as("val")),
        Tables.customer(s, dir)
          .select(col("c_custkey").cast("long").as("c_custkey"),
            col("c_mktsegment")),
        "c_custkey", saltBuckets = 8)
        .groupBy(col("c_mktsegment"), col("event_type"))
        .agg(count(lit(1)).cast("bigint").as("n"),
          sum(col("val")).cast("decimal(18,2)").cast("double").as("total")),
      // q87's contract IS the plain join: salting must be invisible in
      // the result (dim rows replicate once per salt, each fact row
      // matches exactly its one salt copy).
      Sql("""SELECT c.c_mktsegment, e.event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |       CAST(CAST(SUM(CAST(e.value AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS total
        |FROM events e JOIN customer c ON e.user_id = c.c_custkey
        |WHERE e.user_id IS NOT NULL
        |GROUP BY 1, 2""".stripMargin)),

    // ---- bucketed as-of carry (q20's mega-key mitigation: the
    // same two-pass bucket trick q53 applies to sessions — see
    // Windows.asOfCarryBucketed). Semantics are bit-identical to
    // q20, so it shares q20's oracle; AsofSoak holds the equality
    // at 20M rows under a planted 10% hot user.
    Gate("q89_bucketed_asof", (s, dir) => {
      val ev = Tables.events(s, dir)
      Windows.asOfCarryBucketed(ev, Seq("user_id"),
          unix_micros(col("ts")), col("event_id"),
          when(col("event_type") === "signup", unix_micros(col("ts"))),
          "last_signup_us", bucketUs = 6L * 3600 * 1000000)
        .filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("ts_us"),
          coalesce(col("last_signup_us"), lit(-1L)).as("last_signup_us"))
    },
      // q89 is q20 computed the bucketed way — same contract, same oracle
      SameAs(RelationalGates.q20)),

    // ---- as-of AUTO-DISPATCH (q94): the sessionSummariesHybrid
    // routing applied to the as-of family — users with ≥ 70 events
    // ride the bucketed two-pass form (q89's), the tail the plain
    // window (q20's), so neither the mega-key ceiling nor the
    // sparse-key overhead needs a manual operator choice. 70 splits
    // the fixture both ways at BOTH SFs (54/96 users at sf0.01,
    // 526/974 at sf0.1 — measured); production default is 100k.
    // Oracle: q20's — the union of routes is bit-identical.
    Gate("q94_asof_hybrid", (s, dir) => {
      val ev = Tables.events(s, dir)
      Windows.asOfCarryHybrid(ev, Seq("user_id"),
          unix_micros(col("ts")), col("event_id"),
          when(col("event_type") === "signup", unix_micros(col("ts"))),
          "last_signup_us", bucketUs = 6L * 3600 * 1000000,
          hotThreshold = 70L)
        .filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("ts_us"),
          coalesce(col("last_signup_us"), lit(-1L)).as("last_signup_us"))
    },
      SameAs(RelationalGates.q20)),

    q95,

    // ---- incremental quantile store (q96): the q91/q92 persisted-
    // state discipline applied to order statistics. Counts are
    // associative, so a per-(group, cell = x >> cellBits) count
    // table builds once, FOLDS by pure append (corpus never
    // rescanned, nothing rewritten), and serves EXACT quantiles:
    // global ranks from the tiny store alone, rows touched only for
    // the in-cell refinement (pushed-down range read, row-group
    // skip) — q95's answers without q95's per-serve full scans. The
    // serve cross-checks its in-cell row totals against the store's
    // claims (loud on divergence). Gate: build on an event_id third,
    // fold the other two thirds, serve over all events — shares
    // q95's oracle; that equality IS the gate (the d26/e13 move).
    Gate("q96_quantile_store", (s, dir) => {
      import graft.operators.Quantiles
      val e = quantileEvents(s, dir)
      val tmp = PerJvm.tempDir("q96_qstore")
      val store = s"$tmp/store"
      Quantiles.buildQuantileStore(
        e.filter(col("event_id") % 3 === 0), col("event_type"),
        col("xl"), store, cellBits = 8)
      Quantiles.foldQuantileStore(s, store,
        e.filter(col("event_id") % 3 === 1), 1L, col("event_type"), col("xl"))
      Quantiles.foldQuantileStore(s, store,
        e.filter(col("event_id") % 3 === 2), 2L, col("event_type"), col("xl"))
      // maintenance: collapse the build+fold delta files/rows into
      // one summed file set — the serve below then PROVES the
      // vacuumed store ranks identically (oracle-exact)
      Quantiles.vacuumQuantileStore(s, store)
      Quantiles.quantilesFromStore(s, store, e, col("event_type"),
          col("xl"), Seq(Quantiles.Quantile("p25", 25, 100),
            Quantiles.Quantile("p50", 50, 100),
            Quantiles.Quantile("p90", 90, 100)))
        .select(col("grp").as("event_type"),
          (col("p25") / 100.0).as("p25"),
          (col("p50") / 100.0).as("p50"),
          (col("p90") / 100.0).as("p90"))
    },
      // q96 serves exact quantiles from the additive cell-count store
      // (build third + two folds over all events); served == the
      // direct q95 computation, so it shares q95's oracle
      SameAs(q95)),

    // ---- many-groups exact quantiles (q100): q95's radix descent
    // with the per-(group, quantile) interval/rank state IN THE
    // PLAN (a joined DataFrame) instead of on the driver — the
    // variant that removes q95's bounded-groups contract. ~15 k
    // lineitem orders here; 10⁹ groups cost the same driver
    // footprint (per-pass driver actions are one emptiness probe
    // and a 2-value bounds fetch). Same pinned type-1 rank, same
    // ROW_NUMBER oracle shape as q95; ×100 fixed-point cents via
    // the q64 floor(x·s + 0.5) discipline.
    Gate("q100_manygroup_quantiles", (s, dir) => {
      import graft.operators.Quantiles
      val li = Tables.lineitem(s, dir)
        .select(col("l_orderkey"),
          floor(col("l_extendedprice") * 100 + 0.5).cast("long").as("xl"))
      // fanout 2^24 ≥ the value DOMAIN width (cents of a bounded
      // price metric, ≤ ~10.5 M), so every per-group interval
      // narrows to width 1 in ONE counting pass instead of two —
      // one full descent chain (join+count+window+checkpoint)
      // saved. Domain-derived, not fixture-derived: the cents
      // domain is fixed by the schema, not the scale factor, and
      // the count frame stays bounded by distinct (group, value)
      // pairs at ANY fanout (only non-empty buckets ever
      // materialize); the per-interval window stays ≤ the group's
      // distinct values (≤ its row count, ~7 here). Results are
      // fanout-invariant (QuantilesSpec pins fanout 2/7/4096
      // identical; the oracle re-confirms).
      Quantiles.radixQuantilesManyGroups(li, col("l_orderkey"),
          col("xl"), Seq(Quantiles.Quantile("p50", 50, 100),
            Quantiles.Quantile("p95", 95, 100)), fanout = 1 << 24)
        .select(col("grp").cast("bigint").as("l_orderkey"),
          (col("p50") / 100.0).as("p50"),
          (col("p95") / 100.0).as("p95"))
    },
      // q100: q95's rank discipline over ~15 k groups — the many-groups
      // in-plan descent must agree with the same ROW_NUMBER filter
      Sql("""WITH e AS (
        |  SELECT l_orderkey,
        |         CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS xl
        |  FROM lineitem
        |  WHERE l_extendedprice IS NOT NULL AND l_orderkey IS NOT NULL),
        |r AS (
        |  SELECT l_orderkey, xl,
        |         ROW_NUMBER() OVER (PARTITION BY l_orderkey
        |                            ORDER BY xl ASC) AS rn,
        |         COUNT(*) OVER (PARTITION BY l_orderkey) AS n
        |  FROM e)
        |SELECT CAST(l_orderkey AS BIGINT) AS l_orderkey,
        |       MAX(CASE WHEN rn = ((n-1)*50)//100 + 1 THEN xl END) / 100.0 AS p50,
        |       MAX(CASE WHEN rn = ((n-1)*95)//100 + 1 THEN xl END) / 100.0 AS p95
        |FROM r GROUP BY 1""".stripMargin)),

    // ---- auto-dispatched exact quantiles (q101): the prose cost
    // model of the three exact forms made EXECUTABLE
    // (Quantiles.chooseQuantileForm) — one cheap stats pass routes
    // each input to sort (small sortable spread groups), the
    // driver-state descent (duplicate-heavy, few groups), or the
    // in-plan descent (duplicate-heavy, ~2k groups). Three inputs,
    // one per regime at this SF, all against ONE ROW_NUMBER oracle:
    // the dispatch must be invisible in the results.
    Gate("q101_auto_quantiles", (s, dir) => {
      import graft.operators.Quantiles
      val qs2 = Seq(Quantiles.Quantile("p50", 50, 100),
        Quantiles.Quantile("p90", 90, 100))
      // minSelectionRows = 0: at fixture SFs the default floor would
      // (correctly) sort everything — zeroing it pins all three
      // regime ENGINES under one oracle, which is what this gate buys
      def shaped(df: DataFrame, src: String, g: Column): DataFrame =
        Quantiles.exactQuantilesAuto(df, g, col("xl"), qs2,
            minSelectionRows = 0L)
          .select(lit(src).as("src"), col("grp"),
            col("p50").cast("bigint").as("p50"),
            col("p90").cast("bigint").as("p90"))
      val ev = Tables.events(s, dir).filter(col("value").isNotNull)
        .select(col("event_type"),
          (dec2(col("value")) * 100).cast("long").as("xl"))
      val evDup = ev.select(col("event_type"),
        pmod(col("xl"), lit(100L)).as("xl"))
      // a 1-in-7 part slice keeps the many-groups regime (>256
      // groups from sf0.01 up) at a seventh of the descent's row
      // volume — the gate buys regime coverage, not bench weight
      val li = Tables.lineitem(s, dir)
        .filter(col("l_partkey") % 7 === 0)
        .select(col("l_partkey"),
          (col("l_quantity").cast("long") % 5).as("xl"))
      // the three regime chains are INDEPENDENT (distinct inputs,
      // distinct state), but each one is a serial driver sequence
      // (stats checkpoint, then descent passes / seed collect) —
      // profiled at 24 strictly serial jobs across the three.
      // Overlap them as concurrent jobs (guide §2.6, the Par.run
      // fan-out idiom): each thunk builds its own frame, the union
      // of the SAME three frames in the SAME order is returned, so
      // results are bit-identical by construction.
      val parts = new Array[DataFrame](3)
      graft.operators.Par.run(Seq(
        () => parts(0) = shaped(ev, "spread", col("event_type")),
        () => parts(1) = shaped(evDup, "dup_few", col("event_type")),
        () => parts(2) = shaped(li, "dup_many", col("l_partkey"))))
      parts(0).unionByName(parts(1)).unionByName(parts(2))
    },
      // q101: three regime-shaped inputs through the auto dispatcher,
      // one ROW_NUMBER rank oracle — the form choice must be invisible
      Sql("""WITH ea AS (
        |  SELECT CAST(event_type AS VARCHAR) AS grp,
        |         CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS xl
        |  FROM events
        |  WHERE value IS NOT NULL AND event_type IS NOT NULL),
        |eb AS (SELECT grp, ((xl % 100) + 100) % 100 AS xl FROM ea),
        |lc AS (
        |  SELECT CAST(l_partkey AS VARCHAR) AS grp,
        |         CAST(l_quantity AS BIGINT) % 5 AS xl
        |  FROM lineitem
        |  WHERE l_quantity IS NOT NULL AND l_partkey IS NOT NULL
        |    AND l_partkey % 7 = 0),
        |u AS (
        |  SELECT 'spread' AS src, grp, xl FROM ea
        |  UNION ALL SELECT 'dup_few' AS src, grp, xl FROM eb
        |  UNION ALL SELECT 'dup_many' AS src, grp, xl FROM lc),
        |r AS (
        |  SELECT src, grp, xl,
        |         ROW_NUMBER() OVER (PARTITION BY src, grp
        |                            ORDER BY xl ASC) AS rn,
        |         COUNT(*) OVER (PARTITION BY src, grp) AS n
        |  FROM u)
        |SELECT src, grp,
        |       MAX(CASE WHEN rn = ((n-1)*50)//100 + 1 THEN xl END) AS p50,
        |       MAX(CASE WHEN rn = ((n-1)*90)//100 + 1 THEN xl END) AS p90
        |FROM r GROUP BY 1, 2""".stripMargin)),

    // Schema-evolution read: mergeSchema=true unions the column sets
    // of the v1/v2 generations (v1 rows surface NULL for columns that
    // postdate them; `gen` is the inferred partition column), and the
    // accounting rollup makes the missing-data boundary explicit.
    // Schema union happens at FOOTER level — no rewrite of v1 bytes,
    // the only evolution shape that scales. The oracle reconstructs
    // the generation split from doc_id parity on the raw fixture.
    Gate("q84_schema_evolution", (s, dir) =>
      s.read.option("mergeSchema", "true")
        .parquet(evolvedCorpusDir(s, dir))
        .groupBy(col("gen").cast("string").as("gen"),
          coalesce(col("lang"), lit("(pre_schema)")).as("lang_bucket"))
        .agg(count(lit(1)).cast("bigint").as("n_docs"),
          sum(coalesce(col("n_chars"), lit(0L))).cast("bigint").as("chars_known"),
          sum(length(col("text"))).cast("bigint").as("text_chars")),
      // q84: the merged-schema read must equal the union reconstructed
      // from the raw fixture (v1 = even ids with lang/n_chars nulled).
      Sql("""WITH g AS (SELECT
        |    CASE WHEN doc_id % 2 = 0 THEN 'v1' ELSE 'v2' END AS gen,
        |    CASE WHEN doc_id % 2 = 0 THEN NULL ELSE lang END AS lang,
        |    CASE WHEN doc_id % 2 = 0 THEN NULL ELSE n_chars END AS n_chars,
        |    text
        |  FROM documents)
        |SELECT gen, COALESCE(lang, '(pre_schema)') AS lang_bucket,
        |       CAST(COUNT(*) AS BIGINT) AS n_docs,
        |       CAST(SUM(COALESCE(n_chars, 0)) AS BIGINT) AS chars_known,
        |       CAST(SUM(length(text)) AS BIGINT) AS text_chars
        |FROM g GROUP BY 1, 2""".stripMargin))
  )
}
