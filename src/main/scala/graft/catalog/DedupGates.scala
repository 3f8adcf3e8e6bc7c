package graft.catalog

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{PerJvm, Tables}
import graft.functions.TextFunctions._
import graft.operators._
import Fixtures._

/** d-gates: deduplication — exact, MinHash/SimHash/n-gram near-dup,
  * components, contamination, substring and paragraph dedup, APSS,
  * SemDeDup, perceptual hashes, and their incremental folds; plus the
  * bench-only x1 twin. */
object DedupGates {

  /** The d30/d31 folds' emitted pair columns, declared so the read-back
    * infers nothing. */
  private val FoldPairsSchema = "id_a BIGINT, id_b BIGINT"

  /** The d5/d7 corpus: doc_id < 200 (fixed size at every sf) plus
    * near-copies of every 7th doc at id+1e6. */
  private def corpusD5(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.documents(s, dir)
      .filter(col("doc_id") < 200).select(col("doc_id"), col("text"))
    base.unionByName(base.filter(col("doc_id") % 7 === 0)
      .select(cloneId(col("doc_id")).as("doc_id"),
        concat(col("text"), lit(" nearly duplicate suffix")).as("text")))
  }

  /** Corpus CTE chains for the minhash oracles (each ends defining
    * `corpus(doc_id, text)`), mirroring the Spark fixtures above. */
  private val corpusD5Ctes =
    """corpus AS (
      |  SELECT doc_id, text FROM documents WHERE doc_id < 200
      |  UNION ALL
      |  SELECT doc_id + 1000000, text || ' nearly duplicate suffix'
      |  FROM documents WHERE doc_id < 200 AND doc_id % 7 = 0)""".stripMargin

  private def corpusNear(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    d.unionByName(d.filter(col("doc_id") % 7 === 0)
      .select(cloneId(col("doc_id")).as("doc_id"),
        concat(col("text"), lit(" nearly duplicate suffix")).as("text")))
  }

  private val corpusNearCtes =
    """corpus AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 1000000, text || ' nearly duplicate suffix'
      |  FROM documents WHERE doc_id % 7 = 0)""".stripMargin

  /** The d7 corpus: plants 3-CHAINS A≈B≈C with A̸≈C, so a single-step
    * min-id representative is provably wrong and only a transitive
    * clustering (connected components) matches the oracle.
    *
    * Construction per planted doc A (doc_id % 7 == 0, doc_id < 200),
    * with s = |distinct 3-gram shingles of A|:
    *   B (id+1e6) = A ++ p unique marker tokens,  p = max(⌊s/3⌋, 3)
    *   C (id+2e6) = last r tokens of A ++ the SAME markers,
    *                r = min(⌊3s/5⌋ + 2, |tokens(A)|)
    * Shingle-set arithmetic (C ⊆ B by construction):
    *   j(A,B) = s/(s+p)        ≈ 0.75  → pair
    *   j(B,C) = (r-2+p)/(s+p)  ≈ 0.70  → pair
    *   j(A,C) = (r-2)/(s+p)    ≈ 0.45  → NOT a pair (verify filter)
    * so C's only sub-threshold neighbor is B: single-step rep puts C
    * under B, the true component label is A. Markers embed the doc_id,
    * so chains of different docs never cross-collide. */
  private[graft] def corpusD7(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions.tokens
    val base = Tables.documents(s, dir)
      .filter(col("doc_id") < 200).select(col("doc_id"), col("text"))
    val st = base.select(col("doc_id"), col("text"),
      graft.functions.ColUtil.bindOnce(tokens(col("text"))) { toks =>
        struct(toks.as("toks"), size(toks).as("n"),
          size(array_distinct(DedupSuite.shinglesFromTokens(toks, 3))).as("s"))
      }.as("t"))
      .select(col("doc_id"), col("text"), col("t.toks").as("toks"),
        col("t.n").as("n"), col("t.s").as("s"))
    val mk = st.filter(col("doc_id") % 7 === 0)
      .withColumn("p", greatest(floor(col("s") / 3).cast("int"), lit(3)))
      .withColumn("r", least((floor(col("s") * 3 / 5) + 2).cast("int"), col("n")))
      .withColumn("markers", concat_ws(" ",
        transform(sequence(lit(1), col("p")),
          i => concat(lit("zz"), col("doc_id").cast("string"), lit("x"),
            i.cast("string")))))
    val b = mk.select(cloneId(col("doc_id")).as("doc_id"),
      concat(col("text"), lit(" "), col("markers")).as("text"))
    val c = mk.select(cloneId(col("doc_id"), 2000000L).as("doc_id"),
      concat(concat_ws(" ",
          slice(col("toks"), col("n") - col("r") + 1, col("r"))),
        lit(" "), col("markers")).as("text"))
    base.unionByName(b).unionByName(c)
  }

  /** DuckDB mirror of [[corpusD7]]: B = A ++ markers, C = tail(A) ++
    * markers (see the Spark fixture's Scaladoc for the shingle-set
    * arithmetic that makes A≈B≈C a chain with A̸≈C). */
  private val corpusD7Ctes =
    s"""d7base AS (SELECT doc_id, text FROM documents WHERE doc_id < 200),
       |d7tk AS (SELECT doc_id, text, $toksSql AS toks FROM d7base),
       |d7st AS (SELECT doc_id, text, toks, len(toks) AS n,
       |    len(list_distinct(list_transform(range(len(toks) - 2),
       |      i -> array_to_string(toks[i+1:i+3], ' ')))) AS s
       |  FROM d7tk WHERE doc_id % 7 = 0),
       |d7mk AS (SELECT doc_id, text, toks, n,
       |    least(CAST(floor(s * 3 / 5) AS INT) + 2, n) AS r,
       |    array_to_string(list_transform(
       |      range(1, greatest(CAST(floor(s / 3) AS INT), 3) + 1),
       |      i -> 'zz' || doc_id || 'x' || i), ' ') AS markers
       |  FROM d7st),
       |corpus AS (
       |  SELECT doc_id, text FROM d7base
       |  UNION ALL
       |  SELECT doc_id + 1000000, text || ' ' || markers FROM d7mk
       |  UNION ALL
       |  SELECT doc_id + 2000000,
       |         array_to_string(toks[n - r + 1 : n], ' ') || ' ' || markers
       |  FROM d7mk)""".stripMargin

  /** The d23/d24 persisted SemDeDup state (one store per keep-rule):
    * built ONCE over the CORPUS (embeddings without the planted clones)
    * against frozen lowest-id centroids, then the gated query folds the
    * clone batch in — the ingest twin of d20/d21, matching their
    * oracles bit-for-bit because fold == full recompute over corpus ∪
    * batch. */
  private def semDedupStateDir(s: SparkSession, dir: String,
                               keepFarthest: Boolean): String =
    stagedDir(if (keepFarthest) "d24_sem" else "d23_sem", dir) { tmp =>
      val emb = Tables.embeddings(s, dir).select(col("vec_id"), col("embedding"))
      val cent = emb.orderBy(col("vec_id").asc).limit(16)
        .select(col("vec_id").as("centroid_id"),
          col("embedding").as("centroid_vec"))
      Similarity.buildSemDedupState(emb, s"$tmp/state", "vec_id",
        "embedding", tau = 0.98, centroids = cent,
        keepFarthest = keepFarthest)
      // the ingest: d20's exact clones / d21's perturbed clones fold in
      val batch =
        if (keepFarthest)
          emb.filter(col("vec_id") % 10 === 0)
            .select(cloneId(col("vec_id")).as("vec_id"),
              concat(
                array((element_at(col("embedding"), 1).cast("double") + 0.125)
                  .cast("float")),
                slice(col("embedding"), 2, 63)).as("embedding"))
        else
          emb.filter(col("vec_id") % 10 === 0)
            .select(cloneId(col("vec_id")).as("vec_id"), col("embedding"))
      Similarity.foldSemDedupState(s, s"$tmp/state", batch, "vec_id",
        "embedding", tau = 0.98, centroids = cent,
        keepFarthest = keepFarthest)
    } + "/state"

  /** The d25 planted boilerplate: 12 tokens (> the window length 8),
    * appended to every 7th doc on BOTH the Spark and oracle side. */
  private val exactSubstrBoiler =
    " shared license boilerplate alpha beta gamma delta epsilon zeta eta theta iota"

  /** The d25/d26/s14 fixture: documents with the planted boilerplate
    * suffix on every 7th doc — shared so the batch pipeline, the
    * incremental fold, and the streaming ingest all clean EXACTLY the
    * same corpus (their oracle is shared too). */
  private[catalog] def substrCorpus(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).select(col("doc_id"),
      when(col("doc_id") % 7 === 0,
        concat(col("text"), lit(exactSubstrBoiler)))
        .otherwise(col("text")).as("text"))

  /** MinHash+LSH oracle prefix: the ENTIRE pipeline in DuckDB SQL over
    * the given corpus CTE chain, with the engine's affine hash
    * constants inlined — signatures, band hashes, bucket capping,
    * candidate pairs, and Jaccard verify all reproduce the Spark plan
    * bit-for-bit. Ends with `j` = (id_a, id_b, jaccard). */
  private def minhashPairsPrefixSql(corpusCtes: String): String = {
    val sigList = DedupSuite.affineConsts(16).map { case (a, b) =>
      s"list_min(list_transform(hs, x -> (x * $a + $b) % ${DedupSuite.MinhashP}))"
    }.mkString("[", ",\n    ", "]")
    s"""WITH $corpusCtes,
       |tk AS (SELECT doc_id, $toksSql AS toks FROM corpus),
       |filt AS (SELECT * FROM tk WHERE len(toks) >= 3),
       |shs AS (SELECT doc_id, $shinglesSql AS sh FROM filt),
       |h AS (SELECT doc_id, list_transform(sh, s -> ${hash32Sql(0, "s")}) AS hs FROM shs),
       |sig AS (SELECT doc_id, hs, $sigList AS sig FROM h),
       |bnd AS (SELECT doc_id, j AS band,
       |          md5(array_to_string(sig[j*4+1 : j*4+4], ',')) AS band_hash
       |        FROM sig CROSS JOIN (SELECT unnest(range(4)) AS j)),
       |sized AS (SELECT *, COUNT(*) OVER (PARTITION BY band, band_hash) AS bucket_n FROM bnd),
       |capped AS (SELECT * FROM sized WHERE bucket_n <= 1000),
       |pairs AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |          FROM capped a JOIN capped b
       |            ON a.band = b.band AND a.band_hash = b.band_hash
       |           AND a.doc_id < b.doc_id),
       |j AS (SELECT p.id_a, p.id_b,
       |        CASE WHEN len(list_distinct(list_concat(ha.hs, hb.hs))) > 0
       |             THEN CAST(len(list_intersect(ha.hs, hb.hs)) AS DOUBLE)
       |                  / CAST(len(list_distinct(list_concat(ha.hs, hb.hs))) AS DOUBLE)
       |             ELSE 0.0 END AS jaccard
       |      FROM pairs p
       |      JOIN h ha ON ha.doc_id = p.id_a
       |      JOIN h hb ON hb.doc_id = p.id_b)""".stripMargin
  }

  private def d5OracleSql: String =
    s"""${minhashPairsPrefixSql(corpusD5Ctes)}
       |SELECT id_a, id_b, jaccard
       |FROM j WHERE jaccard >= 0.5""".stripMargin

  /** d2 oracle: same pipeline as d5 over the FULL planted corpus. */
  private def d2OracleSql: String =
    s"""${minhashPairsPrefixSql(corpusNearCtes)}
       |SELECT id_a, id_b, jaccard
       |FROM j WHERE jaccard >= 0.5""".stripMargin

  /** d19 oracle: the portable pipeline run on EACH side (corpus,
    * ingest batch), candidates from shared (band, band_hash) buckets
    * capped on the union population, exact-Jaccard verify — the SQL
    * mirror of minhashIndex + incrementalMinhashNearDups. */
  private def d19OracleSql: String = {
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
    s"""WITH corpus AS (SELECT doc_id, text FROM documents),
       |batchd AS (SELECT doc_id + 1000000 AS doc_id,
       |             text || ' nearly duplicate suffix' AS text
       |           FROM documents WHERE doc_id % 7 = 0),
       |${side("corpus", "a")},
       |${side("batchd", "b")},
       |sized AS (SELECT band, band_hash, COUNT(*) AS bucket_n
       |          FROM (SELECT band, band_hash FROM bnda
       |                UNION ALL SELECT band, band_hash FROM bndb)
       |          GROUP BY 1, 2),
       |ok AS (SELECT band, band_hash FROM sized WHERE bucket_n <= 1000),
       |pairs AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |          FROM bnda a
       |          JOIN ok o ON a.band = o.band AND a.band_hash = o.band_hash
       |          JOIN bndb b ON a.band = b.band AND a.band_hash = b.band_hash),
       |j AS (SELECT p.id_a, p.id_b,
       |        CASE WHEN len(list_distinct(list_concat(x.hs, y.hs))) > 0
       |             THEN CAST(len(list_intersect(x.hs, y.hs)) AS DOUBLE)
       |                  / CAST(len(list_distinct(list_concat(x.hs, y.hs))) AS DOUBLE)
       |             ELSE 0.0 END AS jaccard
       |      FROM pairs p
       |      JOIN ha x ON x.doc_id = p.id_a
       |      JOIN hb y ON y.doc_id = p.id_b)
       |SELECT id_a, id_b, jaccard
       |FROM j WHERE jaccard >= 0.5""".stripMargin
  }

  /** Recursive-CTE transitive closure of the near-dup pairs, appended
    * after a [[minhashPairsPrefixSql]] — ends with `comp(doc_id,
    * component)` = ground-truth connected-component labels. */
  private val componentsCtesSql =
    """pr AS (SELECT id_a, id_b FROM j WHERE jaccard >= 0.5),
      |edges AS (SELECT id_a AS src, id_b AS dst FROM pr
      |          UNION SELECT id_b, id_a FROM pr),
      |reach(src, dst) AS (
      |  SELECT src, dst FROM edges
      |  UNION
      |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
      |comp AS (SELECT src AS doc_id, LEAST(src, MIN(dst)) AS component
      |         FROM reach GROUP BY src)""".stripMargin

  /** d7 oracle: near-dup canonical selection — TRANSITIVE clusters via
    * the recursive closure (matches the engine's connected-components
    * labeling), then keep the best-quality member per cluster (quality
    * formula identical to t2's). The chain corpus [[corpusD7Ctes]]
    * makes the closure observable: a single-step min-id representative
    * would put each chain's C under B instead of A. */
  private def d7OracleSql: String =
    s"""${minhashPairsPrefixSql(corpusD7Ctes).replaceFirst("^WITH ", "WITH RECURSIVE ")},
       |$componentsCtesSql,
       |mem AS (SELECT c.doc_id, COALESCE(k.component, c.doc_id) AS cluster
       |        FROM corpus c LEFT JOIN comp k USING (doc_id)),
       |qc AS (SELECT doc_id, len(toks) AS n,
       |         len(list_filter(toks, x -> x IN ('the','a','of','and','to','in','is','that','it','for'))) AS sh
       |       FROM (SELECT doc_id, $toksSql AS toks FROM corpus)),
       |q AS (SELECT doc_id,
       |  (CAST(LEAST(n, 200) AS DOUBLE) / 200.0
       |   + LEAST(CASE WHEN n > 0 THEN CAST(sh AS DOUBLE) / CAST(n AS DOUBLE)
       |                ELSE 0.0 END, 0.5) * 2.0) / 2.0 AS quality
       |  FROM qc),
       |ranked AS (SELECT m.cluster, m.doc_id, q.quality,
       |             ROW_NUMBER() OVER (PARTITION BY m.cluster
       |               ORDER BY q.quality DESC, m.doc_id ASC) AS rn
       |           FROM mem m JOIN q USING (doc_id))
       |SELECT cluster, doc_id, quality
       |FROM ranked WHERE rn = 1""".stripMargin

  /** d6 oracle: embedding near-dup DEDUP — drop the higher id of every
    * ≥ 0.99 same-bucket pair, keep the rest. */
  private def d6OracleSql: String =
    s"""$lshPairsPrefixSql,
       |dropped AS (SELECT DISTINCT id_b FROM p WHERE simd >= 0.99)
       |SELECT vec_id FROM planted
       |WHERE vec_id NOT IN (SELECT id_b FROM dropped)""".stripMargin

  // Gates whose oracle others share (`SameAs`).

  // The multimodal DEDUP composition (d27 emits PAIRS; training
  // pipelines keep one image per perceptual cluster): pairs →
  // connected components (transitive — Hamming ≤ 3 is not) →
  // keep-lowest-id, every unpaired image keeping itself. Same
  // d7 canonical-selection discipline over the image column.
  val d29: Gate = Gate("d29_phash_dedup", (s, dir) => {
    import s.implicits._
    val idsDf = Tables.documents(s, dir).select(col("doc_id"))
    val media = idsDf.as[Long]
      .mapPartitions(_.map(id => (id, Multimodal.synthBmpPerceptual(id))))
      .toDF("doc_id", "content")
    val pairs = Multimodal.bmpNearDups(media, "doc_id", "content",
      maxHamming = 3, bands = 4).select(col("id_a"), col("id_b"))
    val comps = Dedup.connectedComponents(pairs)
    idsDf // ids only — media's mapPartitions is opaque to pruning,
      // so selecting doc_id THROUGH it re-synthesized every image
      .join(comps, col("doc_id") === col("id"), "left")
      .select(col("doc_id"),
        coalesce(col("component"), col("doc_id")).as("keep_id"))
      .withColumn("kept", (col("doc_id") === col("keep_id")).cast("boolean"))
  },
    // d29: keeps from the d27 pair set — recursive transitive closure
    // (the d22 CC formulation) over the closed-form pairs, min-id
    // labels, unpaired docs keep themselves.
    Sql("""WITH RECURSIVE p AS (
      |  SELECT doc_id, doc_id // 8 AS f, doc_id % 8 AS v FROM documents),
      |h AS (
      |  SELECT doc_id,
      |    xor(xor(
      |      CAST(('0x' || substr(md5('d27:' || CAST(f AS VARCHAR)), 1, 15)) AS BIGINT),
      |      CASE WHEN v >= 1 THEN (CAST(1 AS BIGINT) << ((7 * v) % 60)) ELSE 0 END),
      |      CASE WHEN v >= 4 THEN (CAST(1 AS BIGINT) << ((11 * v + 3) % 60)) ELSE 0 END)
      |      AS ph
      |  FROM p),
      |b AS (SELECT doc_id, ph, j AS band,
      |             (ph >> (CAST(j AS INT) * 15)) & 32767 AS band_key
      |      FROM h, range(4) r(j)),
      |pr AS (SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b
      |       FROM b a JOIN b c ON a.band = c.band AND a.band_key = c.band_key
      |                        AND a.doc_id < c.doc_id
      |       WHERE bit_count(xor(a.ph, c.ph)) <= 3),
      |edges AS (SELECT id_a AS src, id_b AS dst FROM pr
      |          UNION SELECT id_b, id_a FROM pr),
      |reach(src, dst) AS (
      |  SELECT src, dst FROM edges
      |  UNION
      |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
      |comp AS (SELECT src AS doc_id, LEAST(src, MIN(dst)) AS component
      |         FROM reach GROUP BY src)
      |SELECT d.doc_id,
      |       COALESCE(c.component, d.doc_id) AS keep_id,
      |       d.doc_id = COALESCE(c.component, d.doc_id) AS kept
      |FROM documents d LEFT JOIN comp c USING (doc_id)""".stripMargin))

  // ---- ExactSubstr-style duplicate-span REMOVAL (d25): the one
  // standard public LLM-dedup modality d11 (paragraph) and d16
  // (coverage scoring) do not provide — cross-document repeated
  // token windows (length 8) are cut from every occurrence but
  // the lexicographically first, and the cleaned text re-emitted.
  // Planted: every 7th doc carries a shared 12-token boilerplate
  // suffix, so its windows duplicate corpus-wide and exactly one
  // doc keeps them. Oracle: the same window/keep-first/coverage
  // relational pipeline in DuckDB SQL, matched bit-for-bit
  // (clean_text is compared as a STRING — token order proof).
  val d25: Gate = Gate("d25_exact_substr", (s, dir) =>
    DedupSuite.exactSubstrDedup(
      substrCorpus(s, dir), "doc_id", "text", l = 8),
    // d25: the same window/keep-first/coverage pipeline in SQL.
    // keep-first via ROW_NUMBER(rn=1) == Spark's min(struct)+count>=2
    // (both select all occurrences except the lexicographic minimum
    // of keys occurring at least twice); covered-token test is a
    // RANGE window over contiguous positions; cleaned text rebuilt
    // with an ordered FILTERed string_agg.
    Sql(s"""WITH src AS (SELECT doc_id,
       |         CASE WHEN doc_id % 7 = 0
       |              THEN text || '$exactSubstrBoiler'
       |              ELSE text END AS text
       |       FROM documents),
       |tk AS (SELECT doc_id, $toksSql AS toks FROM src),
       |occ AS (SELECT doc_id, unnest(range(len(toks) - 7)) AS wpos, toks
       |        FROM tk WHERE len(toks) >= 8),
       |k AS (SELECT doc_id, wpos,
       |        array_to_string(toks[wpos+1:wpos+8], ' ') AS wkey FROM occ),
       |r AS (SELECT doc_id, wpos,
       |        ROW_NUMBER() OVER (PARTITION BY wkey
       |          ORDER BY doc_id ASC, wpos ASC) AS rn FROM k),
       |m AS (SELECT doc_id, wpos FROM r WHERE rn > 1),
       |t AS (SELECT doc_id, unnest(range(len(toks))) AS p, toks FROM tk),
       |tok AS (SELECT doc_id, p, toks[p+1] AS tok FROM t),
       |f AS (SELECT tok.doc_id, tok.p, tok.tok,
       |        CASE WHEN m.wpos IS NOT NULL THEN 1 ELSE 0 END AS flag
       |      FROM tok LEFT JOIN m
       |        ON tok.doc_id = m.doc_id AND tok.p = m.wpos),
       |c AS (SELECT doc_id, p, tok,
       |        MAX(flag) OVER (PARTITION BY doc_id ORDER BY p ASC
       |          RANGE BETWEEN 7 PRECEDING AND CURRENT ROW) AS cov
       |      FROM f)
       |SELECT doc_id,
       |       COALESCE(string_agg(tok, ' ' ORDER BY p ASC)
       |         FILTER (WHERE cov = 0), '') AS clean_text,
       |       CAST(SUM(cov) AS BIGINT) AS n_removed
       |FROM c GROUP BY doc_id""".stripMargin))

  // ---- semantic dedup (SemDeDup, arXiv:2303.09540: cluster the
  // embedding corpus, then dedup ONLY within clusters — the
  // quadratic pairwise step is bounded per cluster, never corpus-
  // wide; scale analysis in Similarity.semDedup's scaladoc). The
  // d6 planting (exact clones of every 10th vector, ids +1e6)
  // guarantees tau-passing pairs at any sf; keep-lowest-id drops
  // each clone while natural vectors survive.
  val d20: Gate = Gate("d20_semdedup", (s, dir) => {
    val emb = Tables.embeddings(s, dir).select(col("vec_id"), col("embedding"))
    val planted = emb.unionByName(emb.filter(col("vec_id") % 10 === 0)
      .select(cloneId(col("vec_id")).as("vec_id"), col("embedding")))
    Similarity.semDedup(planted, "vec_id", "embedding", tau = 0.98)
  },
    // SemDeDup: same planted corpus as the Spark side, deterministic
    // lowest-id centroid seed (the e3/e5 discipline), assignment and
    // pair cosines in the identical left-fold double order, drop rule
    // keep-lowest-id within cluster.
    Sql(s"""WITH planted AS (SELECT vec_id, embedding FROM embeddings
       |                 UNION ALL
       |                 SELECT vec_id + 1000000, embedding
       |                 FROM embeddings WHERE vec_id % 10 = 0),
       |cent AS (SELECT vec_id AS centroid_id, embedding AS cvec
       |         FROM planted ORDER BY vec_id ASC LIMIT 16),
       |assign AS (SELECT p.vec_id, p.embedding AS v, c.centroid_id,
       |             ROW_NUMBER() OVER (PARTITION BY p.vec_id
       |               ORDER BY ${dotSql("p.embedding", "c.cvec")}
       |                 / (sqrt(${dotSql("p.embedding", "p.embedding")})
       |                    * sqrt(${dotSql("c.cvec", "c.cvec")})) DESC,
       |               c.centroid_id ASC) AS rn
       |           FROM planted p CROSS JOIN cent c),
       |members AS (SELECT vec_id, v, centroid_id FROM assign WHERE rn = 1),
       |dropped AS (SELECT DISTINCT b.vec_id AS id_b
       |            FROM members a JOIN members b
       |              ON a.centroid_id = b.centroid_id AND a.vec_id < b.vec_id
       |            WHERE ${dotSql("a.v", "b.v")}
       |                / (sqrt(${dotSql("a.v", "a.v")})
       |                   * sqrt(${dotSql("b.v", "b.v")})) >= 0.98)
       |SELECT m.vec_id, m.centroid_id FROM members m
       |WHERE m.vec_id NOT IN (SELECT id_b FROM dropped)""".stripMargin))

  // SemDeDup with the PAPER's keep rule (r10 verdict item 3):
  // within a tau-pair, keep the member FARTHEST from its centroid
  // (lowest centroid-cosine), id tie-break — only the ORDER inside
  // the pair filter changes vs d20. The planted clones are
  // PERTURBED (first component +0.125, cosine to base ~0.992 ≥
  // tau at every SF — measured, not assumed), so base and clone
  // genuinely differ in centroid distance and the two rules keep
  // DIFFERENT representatives; exact clones would tie and hide
  // the rule. 0.125 is a power-of-two literal: the float add
  // rounds identically in both engines.
  val d21: Gate = Gate("d21_semdedup_farthest", (s, dir) => {
    val emb = Tables.embeddings(s, dir).select(col("vec_id"), col("embedding"))
    val planted = emb.unionByName(emb.filter(col("vec_id") % 10 === 0)
      .select(cloneId(col("vec_id")).as("vec_id"),
        concat(
          array((element_at(col("embedding"), 1).cast("double") + 0.125)
            .cast("float")),
          slice(col("embedding"), 2, 63)).as("embedding")))
    Similarity.semDedup(planted, "vec_id", "embedding", tau = 0.98,
      keepFarthest = true)
  },
    // d21: the keep-farthest-from-centroid rule over PERTURBED clones
    // (first component +0.125 — the float add rounds identically in
    // both engines); members carry their centroid-cosine and the pair
    // filter orders by (csim, id) instead of id.
    Sql(s"""WITH planted AS (SELECT vec_id, embedding FROM embeddings
       |                 UNION ALL
       |                 SELECT vec_id + 1000000,
       |                   list_concat(
       |                     [CAST(embedding[1] + 0.125 AS FLOAT)],
       |                     embedding[2:64])
       |                 FROM embeddings WHERE vec_id % 10 = 0),
       |cent AS (SELECT vec_id AS centroid_id, embedding AS cvec
       |         FROM planted ORDER BY vec_id ASC LIMIT 16),
       |assign AS (SELECT p.vec_id, p.embedding AS v, c.centroid_id,
       |             ${dotSql("p.embedding", "c.cvec")}
       |               / (sqrt(${dotSql("p.embedding", "p.embedding")})
       |                  * sqrt(${dotSql("c.cvec", "c.cvec")})) AS csim,
       |             ROW_NUMBER() OVER (PARTITION BY p.vec_id
       |               ORDER BY ${dotSql("p.embedding", "c.cvec")}
       |                 / (sqrt(${dotSql("p.embedding", "p.embedding")})
       |                    * sqrt(${dotSql("c.cvec", "c.cvec")})) DESC,
       |               c.centroid_id ASC) AS rn
       |           FROM planted p CROSS JOIN cent c),
       |members AS (SELECT vec_id, v, centroid_id, csim
       |            FROM assign WHERE rn = 1),
       |dropped AS (SELECT DISTINCT b.vec_id AS id_b
       |            FROM members a JOIN members b
       |              ON a.centroid_id = b.centroid_id
       |             AND a.vec_id <> b.vec_id
       |             AND (a.csim < b.csim
       |                  OR (a.csim = b.csim AND a.vec_id < b.vec_id))
       |            WHERE ${dotSql("a.v", "b.v")}
       |                / (sqrt(${dotSql("a.v", "a.v")})
       |                   * sqrt(${dotSql("b.v", "b.v")})) >= 0.98)
       |SELECT m.vec_id, m.centroid_id FROM members m
       |WHERE m.vec_id NOT IN (SELECT id_b FROM dropped)""".stripMargin))

  val d13: Gate = Gate("d13_incremental_ingest", (s, dir) => {
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    val base = docs.filter(col("doc_id") % 2 === 0)
    val batch = docs.filter(col("doc_id") % 2 === 1)
      .unionByName(base.filter(col("doc_id") % 4 === 0)
        .select(cloneId(col("doc_id")).as("doc_id"), col("text")))
    val fresh = batch.join(
      base.select(md5(col("text")).as("h")).distinct(),
      md5(col("text")) === col("h"), "left_anti")
    DedupSuite.exact(fresh, "doc_id", "text")
  },
    Sql("""WITH base AS (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0),
      |batch AS (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1
      |          UNION ALL
      |          SELECT doc_id + 1000000, text FROM base WHERE doc_id % 4 = 0),
      |fresh AS (SELECT * FROM batch
      |          WHERE md5(text) NOT IN (SELECT md5(text) FROM base))
      |SELECT MIN(doc_id) AS doc_id, md5(text) AS content_hash,
      |       CAST(COUNT(*) AS BIGINT) AS n_copies
      |FROM fresh GROUP BY md5(text)""".stripMargin))

  // ---- near-dup clusters via iterative connected components ----
  val d8: Gate = Gate("d8_components", (s, dir) => {
    val pairs = DedupSuite.minhashNearDupsPortable(corpusD5(s, dir),
        "doc_id", "text", n = 3, k = 16, bands = 4, threshold = 0.5)
      .select(col("id_a"), col("id_b"))
    Dedup.connectedComponents(pairs)
  },
    // d8/d9 oracle: exact transitive closure of the near-dup pairs via a
    // recursive CTE — grades BOTH component engines (driver union-find
    // fast path in d8, distributed label propagation in d9) against a
    // ground-truth assignment. The WITH RECURSIVE wraps the shared pairs
    // prefix (DuckDB allows RECURSIVE on the first WITH even when later
    // CTEs are non-recursive).
    Sql(s"""${minhashPairsPrefixSql(corpusD5Ctes).replaceFirst("^WITH ", "WITH RECURSIVE ")},
       |$componentsCtesSql
       |SELECT doc_id AS id, component FROM comp""".stripMargin))

  val gates: Seq[Gate] = Seq(
    // ---- dedup ----
    Gate("d1_exact_dedup", (s, dir) =>
      DedupSuite.exact(corpusExact(s, dir), "doc_id", "text"),
      Sql("""WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 5 = 0)
        |SELECT MIN(doc_id) AS doc_id, md5(text) AS content_hash,
        |       CAST(COUNT(*) AS BIGINT) AS n_copies
        |FROM corpus GROUP BY md5(text)""".stripMargin)),

    // Gated via the engine-portable pipeline (md5-derived base hashes
    // reproduce bit-for-bit in DuckDB) on the FULL planted corpus —
    // r3 VERDICT item 1: d2 was the one declared query without an
    // oracle. The xxhash64 fast path keeps identical semantics and
    // stays timed as bench-only entry x1 (spec-tested equivalent on
    // this fixture, DedupSuiteSpec).
    Gate("d2_minhash_pairs", (s, dir) =>
      DedupSuite.minhashNearDupsPortable(corpusNear(s, dir), "doc_id", "text",
        n = 3, k = 16, bands = 4, threshold = 0.5),
      Sql(d2OracleSql)),

    Gate("d3_simhash", (s, dir) =>
      Tables.documents(s, dir).select(
        col("doc_id"), DedupSuite.simhash60(col("text")).as("simhash")),
      Sql(s"""WITH t AS (SELECT doc_id,
         |  list_transform($toksSql, tk -> CAST(('0x' || substr(md5(tk), 1, 15)) AS BIGINT)) AS hs
         |  FROM documents)
         |SELECT doc_id,
         |  CAST(list_sum(list_transform(range(60), i ->
         |    CASE WHEN list_sum(list_transform(hs, h ->
         |           CASE WHEN (h >> i) & 1 = 1 THEN 1 ELSE -1 END)) > 0
         |         THEN (CAST(1 AS BIGINT) << i) ELSE 0 END)) AS BIGINT) AS simhash
         |FROM t""".stripMargin)),

    Gate("d4_ngram_jaccard", (s, dir) => {
      val sh = Tables.documents(s, dir)
        .select(col("doc_id"), DedupSuite.shingles(col("text"), 3).as("sh"))
      sh.select(col("doc_id").as("id_a"), col("sh").as("sh_a"))
        .join(sh.select(col("doc_id").as("id_b"), col("sh").as("sh_b")),
          col("id_b") === col("id_a") + 1)
        .select(col("id_a"), col("id_b"),
          DedupSuite.jaccard(col("sh_a"), col("sh_b")).cast("double").as("jaccard"))
    },
      Sql(s"""WITH tk AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |s AS (SELECT doc_id, $shinglesSql AS sh FROM tk)
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |  CASE WHEN len(list_distinct(list_concat(a.sh, b.sh))) > 0
         |       THEN CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
         |            / CAST(len(list_distinct(list_concat(a.sh, b.sh))) AS DOUBLE)
         |       ELSE 0.0 END AS jaccard
         |FROM s a JOIN s b ON b.doc_id = a.doc_id + 1""".stripMargin)),

    // Train/test n-gram contamination check — the leakage audit that
    // must follow any hash split: test docs sharing 5-gram shingle
    // hashes with ANY train doc. One shuffle on the shingle hash
    // (semi join against the distinct train-shingle set); at 100 TB
    // the train side is the big one and stays shuffle-partitioned,
    // never collected. The planted near-dup corpus guarantees
    // contaminated docs exist (source and its +1e6 copy can land in
    // different splits).
    Gate("d10_contamination", (s, dir) => {
      val corpus = corpusNear(s, dir)
      val sh = corpus.select(col("doc_id"),
          explode(array_distinct(
            DedupSuite.shingleHashesPortableNative(tokens(col("text")), 5)))
            .as("h"))
        .withColumn("is_train",
          pmod(hash32(col("doc_id").cast("string"), 1), lit(10)) < 8)
      val trainSh = sh.filter(col("is_train")).select(col("h")).distinct()
      val testSh = sh.filter(!col("is_train"))
      val totals = testSh.groupBy(col("doc_id"))
        .agg(count(lit(1)).cast("bigint").as("n_shingles"))
      val hits = testSh.join(trainSh, Seq("h"), "left_semi")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).cast("bigint").as("n_contaminated"))
      totals.join(hits, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_shingles"),
          coalesce(col("n_contaminated"), lit(0L)).as("n_contaminated"),
          (coalesce(col("n_contaminated"), lit(0L)).cast("double")
            / col("n_shingles").cast("double")).as("contamination_frac"))
    },
      Sql(s"""WITH $corpusNearCtes,
         |tk AS (SELECT doc_id, $toksSql AS toks FROM corpus),
         |shl AS (SELECT doc_id, list_distinct(list_transform(
         |          list_transform(range(len(toks) - 4),
         |            i -> array_to_string(toks[i+1:i+5], ' ')),
         |          s -> ${hash32Sql(0, "s")})) AS hs FROM tk),
         |sh AS (SELECT doc_id, unnest(hs) AS h,
         |         ${hash32Sql(1, "CAST(doc_id AS VARCHAR)")} % 10 < 8 AS is_train
         |       FROM shl),
         |tr AS (SELECT DISTINCT h FROM sh WHERE is_train),
         |te AS (SELECT doc_id, h FROM sh WHERE NOT is_train),
         |tot AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_shingles FROM te GROUP BY 1),
         |hit AS (SELECT te.doc_id, CAST(COUNT(*) AS BIGINT) AS n_contaminated
         |        FROM te JOIN tr USING (h) GROUP BY 1)
         |SELECT tot.doc_id, tot.n_shingles,
         |       CAST(COALESCE(hit.n_contaminated, 0) AS BIGINT) AS n_contaminated,
         |       CAST(COALESCE(hit.n_contaminated, 0) AS DOUBLE)
         |         / CAST(tot.n_shingles AS DOUBLE) AS contamination_frac
         |FROM tot LEFT JOIN hit USING (doc_id)""".stripMargin)),

    // C4-style paragraph-level exact dedup: removes cross-document
    // boilerplate whole-doc dedup can't see. Winner per paragraph is
    // a partial-aggregable groupBy-min (map-side combined, so a hot
    // banner never lands in one task), marked via an AQE-skew-
    // splittable join-back — see DedupSuite.dedupParagraphs.
    Gate("d11_paragraph_dedup", (s, dir) =>
      DedupSuite.dedupParagraphs(corpusPara(s, dir), "doc_id", "text"),
      Sql(s"""WITH $corpusParaSql,
         |t AS (SELECT doc_id, string_split(text, chr(10)) AS parts FROM corpus),
         |p AS (SELECT doc_id, unnest(range(len(parts))) AS pos FROM t),
         |l AS (SELECT p.doc_id, p.pos, t.parts[p.pos + 1] AS para
         |      FROM p JOIN t USING (doc_id)),
         |r AS (SELECT doc_id, pos, para,
         |        row_number() OVER (PARTITION BY para
         |          ORDER BY doc_id ASC, pos ASC) AS rn FROM l)
         |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_paras,
         |       CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         |       COALESCE(string_agg(CASE WHEN rn = 1 THEN para END,
         |                           chr(10) ORDER BY pos), '') AS clean_text
         |FROM r GROUP BY doc_id""".stripMargin)),

    // SimHash Hamming-distance pairing over the d1 planted corpus
    // (exact copies guarantee hamming-0 pairs at every sf; organic
    // near-dups surface on top). Banding makes the pair set EXACT at
    // the threshold — pigeonhole over 4×15-bit slices — so the DuckDB
    // oracle reproduces it bit-for-bit by mirroring the bands.
    Gate("d12_simhash_pairs", (s, dir) =>
      DedupSuite.simhashHammingPairs(corpusExact(s, dir), "doc_id", "text",
        maxHamming = 3, bands = 4),
      // Mirrors the banding exactly: pigeonhole over 4×15-bit slices makes
      // the pair set EXACT at hamming<=3, so oracle and engine agree
      // bit-for-bit without an all-pairs join on either side.
      Sql(s"""WITH corpus AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 5 = 0),
         |hsrc AS (SELECT doc_id,
         |  list_transform($toksSql, tk -> CAST(('0x' || substr(md5(tk), 1, 15)) AS BIGINT)) AS hs
         |  FROM corpus),
         |t AS (SELECT doc_id,
         |  CAST(list_sum(list_transform(range(60), i ->
         |    CASE WHEN list_sum(list_transform(hs, h ->
         |           CASE WHEN (h >> i) & 1 = 1 THEN 1 ELSE -1 END)) > 0
         |         THEN (CAST(1 AS BIGINT) << i) ELSE 0 END)) AS BIGINT) AS sim
         |  FROM hsrc),
         |b AS (SELECT doc_id, sim, j AS band, (sim >> (CAST(j AS INT) * 15)) & 32767 AS band_key
         |      FROM t, range(4) r(j)),
         |cand AS (SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b,
         |                a.sim AS sim_a, c.sim AS sim_b
         |         FROM b a JOIN b c ON a.band = c.band AND a.band_key = c.band_key
         |                          AND a.doc_id < c.doc_id)
         |SELECT id_a, id_b, CAST(bit_count(xor(sim_a, sim_b)) AS BIGINT) AS hamming
         |FROM cand WHERE bit_count(xor(sim_a, sim_b)) <= 3""".stripMargin)),

    // Multimodal near-dup: perceptual dHash over DECODED BMP pixels,
    // Hamming-banded through the same pigeonhole machinery as d12
    // (DedupSuite.hammingPairs). Every blob is synthesized from
    // doc_id alone in 8-variant families whose dHash is closed-form
    // (Multimodal.synthBmpPerceptual: ph = md5-family bits XOR
    // variant flips, in-family Hamming 1-4 so the threshold-3
    // boundary is exercised from both sides); the decoder sees only
    // the bytes — variable bfOffBits, stride padding, bottom-up vs
    // top-down rows, m-row blocks forcing the 61-point resample —
    // so a pixel-path bug breaks the pair set. Scale: decode is
    // per-partition and everything after ships (id, 8-byte long);
    // one shuffle on (band, 15-bit key), hot buckets capped with
    // observed accounting — never all-pairs.
    Gate("d27_phash_near_dup", (s, dir) => {
      import s.implicits._
      val media = Tables.documents(s, dir).select(col("doc_id")).as[Long]
        .mapPartitions(_.map(id => (id, Multimodal.synthBmpPerceptual(id))))
        .toDF("doc_id", "content")
      Multimodal.bmpNearDups(media, "doc_id", "content",
        maxHamming = 3, bands = 4)
    },
      // d27: closed-form inverse of Multimodal.synthBmpPerceptual — the
      // perceptual hash is family-md5 bits XOR variant flip bits, so the
      // oracle never touches a pixel; the Spark side must recover the
      // same 60 bits from the real byte stream. Pair generation mirrors
      // the pigeonhole band join (recall-1-equivalent to all-pairs at
      // Hamming <= 3 with 4 bands — the d12 oracle's formulation).
      Sql("""WITH p AS (
        |  SELECT doc_id, doc_id // 8 AS f, doc_id % 8 AS v FROM documents),
        |h AS (
        |  SELECT doc_id,
        |    xor(xor(
        |      CAST(('0x' || substr(md5('d27:' || CAST(f AS VARCHAR)), 1, 15)) AS BIGINT),
        |      CASE WHEN v >= 1 THEN (CAST(1 AS BIGINT) << ((7 * v) % 60)) ELSE 0 END),
        |      CASE WHEN v >= 4 THEN (CAST(1 AS BIGINT) << ((11 * v + 3) % 60)) ELSE 0 END)
        |      AS ph
        |  FROM p),
        |b AS (SELECT doc_id, ph, j AS band,
        |             (ph >> (CAST(j AS INT) * 15)) & 32767 AS band_key
        |      FROM h, range(4) r(j)),
        |cand AS (SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b,
        |                a.ph AS ph_a, c.ph AS ph_b
        |         FROM b a JOIN b c ON a.band = c.band AND a.band_key = c.band_key
        |                          AND a.doc_id < c.doc_id)
        |SELECT id_a, id_b, CAST(bit_count(xor(ph_a, ph_b)) AS BIGINT) AS hamming
        |FROM cand WHERE bit_count(xor(ph_a, ph_b)) <= 3""".stripMargin)),

    // d27's AUDIO twin: perceptual hash over decoded PCM — a
    // 61-segment energy profile from the real RIFF/WAVE byte walk
    // (raw-sample squares, integer-exact), dHashed and banded
    // through the same hammingPairs machinery. Families use an
    // independent md5 salt, so the pair structure is fresh while
    // the oracle stays the same closed form.
    Gate("d28_phash_audio", (s, dir) => {
      import s.implicits._
      val media = Tables.documents(s, dir).select(col("doc_id")).as[Long]
        .mapPartitions(_.map(id => (id, Multimodal.synthWavPerceptual(id))))
        .toDF("doc_id", "content")
      Multimodal.wavNearDups(media, "doc_id", "content",
        maxHamming = 3, bands = 4)
    },
      // d28: the audio twin — identical closed form under the 'd28:'
      // salt (the Spark side must recover the bits from PCM energies).
      Sql("""WITH p AS (
        |  SELECT doc_id, doc_id // 8 AS f, doc_id % 8 AS v FROM documents),
        |h AS (
        |  SELECT doc_id,
        |    xor(xor(
        |      CAST(('0x' || substr(md5('d28:' || CAST(f AS VARCHAR)), 1, 15)) AS BIGINT),
        |      CASE WHEN v >= 1 THEN (CAST(1 AS BIGINT) << ((7 * v) % 60)) ELSE 0 END),
        |      CASE WHEN v >= 4 THEN (CAST(1 AS BIGINT) << ((11 * v + 3) % 60)) ELSE 0 END)
        |      AS ph
        |  FROM p),
        |b AS (SELECT doc_id, ph, j AS band,
        |             (ph >> (CAST(j AS INT) * 15)) & 32767 AS band_key
        |      FROM h, range(4) r(j)),
        |cand AS (SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b,
        |                a.ph AS ph_a, c.ph AS ph_b
        |         FROM b a JOIN b c ON a.band = c.band AND a.band_key = c.band_key
        |                          AND a.doc_id < c.doc_id)
        |SELECT id_a, id_b, CAST(bit_count(xor(ph_a, ph_b)) AS BIGINT) AS hamming
        |FROM cand WHERE bit_count(xor(ph_a, ph_b)) <= 3""".stripMargin)),

    d29,

    // d29's INGEST twin (the d22 incremental-components pattern
    // applied to d27's pair stream), served from a PERSISTED band
    // index (r18 verdict item 2): the corpus's perceptual hashes
    // live in an ON-DISK bucket-partitioned store
    // (DedupSuite.hammingIndexBuild — the d19/d23/q92 maintenance
    // discipline applied to the dHash family), a new media batch
    // decodes ONCE and folds against it (hammingIndexFold: store
    // read bucket-pruned + broadcast-semi-restricted; the corpus is
    // never re-decoded or re-banded), and the new pairs fold into
    // the component labels (foldComponents — bit-identical to a
    // full recompute). The gate output is the cumulative d29 shape
    // and shares d29's recursive-CTE oracle: fold == full
    // recompute, hash-exact.
    Gate("d30_incremental_phash_dedup", (s, dir) => {
      import s.implicits._
      val idsDf = Tables.documents(s, dir).select(col("doc_id"))
      // corpus = non-multiples of 3; batch = the rest — the split
      // crosses dHash families (families are id/8 blocks), so folded
      // pairs include batch-batch AND batch-corpus edges that BRIDGE
      // existing components (the fold's hard case).
      // ONE decode pass covers corpus AND batch (r19 optimization —
      // two separate decode checkpoints before; the split is now a
      // cheap filter over the checkpointed 16-byte hash frame), and
      // the checkpoint makes "decode ONCE" true in EXECUTION, not
      // just in the plan text: the components machinery evaluates
      // its edge frames several times (count probe + collect / the
      // fold's node and edge derivations), and without the
      // checkpoint each evaluation would re-synthesize and re-decode
      // every image. The fold writes its new pairs beside the store;
      // they are read back with a declared schema (no inference job).
      val tmp = PerJvm.tempDir("d30_phash")
      val store = s"$tmp/index"
      val allHashes = Multimodal.bmpDHashes(
        idsDf.as[Long].mapPartitions(_.map(id =>
          (id, Multimodal.synthBmpPerceptual(id))))
          .toDF("doc_id", "content"), "doc_id", "content")
        .localCheckpoint()
      val index = allHashes.filter(col("doc_id") % 3 =!= 0)
      val batchHashes = allHashes.filter(col("doc_id") % 3 === 0)
      // store build ∥ corpus-internal pairs + seed labels (guide
      // §2.6 overlap): both chains read only the checkpointed hash
      // frame, and the fold below is the store's first consumer —
      // so the write's commit tail back-fills with the pair run
      var labels0: DataFrame = null
      // nBuckets = 4 (16 bucket dirs): fixture-scale — the default
      // corpus-scale layout's file-commit count dominates a
      // 5k-image gate (the c5 "16 buckets" discipline; the 1M-image
      // soak keeps the wide layout)
      Par.run(Seq(
        () => DedupSuite.hammingIndexBuild(index, "doc_id", "ph", store,
          bands = 4, nBuckets = 4),
        () => {
          val basePairs = DedupSuite.hammingPairs(index, "doc_id", "ph",
            maxHamming = 3, bands = 4)
            .select(col("id_a"), col("id_b")).localCheckpoint()
          labels0 = Dedup.connectedComponents(basePairs)
        }))
      DedupSuite.hammingIndexFold(s, store, s"$tmp/pairs", batchHashes, 1L,
        "doc_id", "ph", maxHamming = 3)
      val newPairs = s.read.schema(FoldPairsSchema).parquet(s"$tmp/pairs")
      val labels = Dedup.foldComponents(labels0, newPairs)
      idsDf // ids only — never re-synthesizes pixels for the output
        .join(labels, col("doc_id") === col("id"), "left")
        .select(col("doc_id"),
          coalesce(col("component"), col("doc_id")).as("keep_id"))
        .withColumn("kept", (col("doc_id") === col("keep_id")).cast("boolean"))
    },
      // d30 folds a batch's perceptual pairs into the corpus's
      // component labels; cumulative labels == the full d29 recompute,
      // so it shares d29's recursive-CTE oracle — that equality IS
      // the gate
      SameAs(d29)),

    // d30's AUDIO twin (r18 verdict item 3): the d28 WAV dHashes
    // through the SAME persisted-band-index fold — hammingIndexBuild
    // / hammingIndexFold are hash-family-generic, so the only
    // modality-specific stage is the decode (real RIFF/WAVE byte
    // walk → 61-segment energy dHash). Same corpus/batch split,
    // same component composition; the oracle is d29's recursive CTE
    // under the d28 salt (fold == full recompute, hash-exact).
    Gate("d31_incremental_phash_audio", (s, dir) => {
      import s.implicits._
      val idsDf = Tables.documents(s, dir).select(col("doc_id"))
      // same shape as d30: ONE decode pass for corpus and batch,
      // store build ∥ corpus pairs + seed labels (guide §2.6)
      val tmp = PerJvm.tempDir("d31_phash")
      val store = s"$tmp/index"
      val allHashes = Multimodal.wavDHashes(
        idsDf.as[Long].mapPartitions(_.map(id =>
          (id, Multimodal.synthWavPerceptual(id))))
          .toDF("doc_id", "content"), "doc_id", "content")
        .localCheckpoint()
      val index = allHashes.filter(col("doc_id") % 3 =!= 0)
      val batchHashes = allHashes.filter(col("doc_id") % 3 === 0)
      var labels0: DataFrame = null
      // nBuckets = 4 (16 bucket dirs): fixture-scale — the default
      // corpus-scale layout's file-commit count dominates a
      // 5k-image gate (the c5 "16 buckets" discipline; the 1M-image
      // soak keeps the wide layout)
      Par.run(Seq(
        () => DedupSuite.hammingIndexBuild(index, "doc_id", "ph", store,
          bands = 4, nBuckets = 4),
        () => {
          val basePairs = DedupSuite.hammingPairs(index, "doc_id", "ph",
            maxHamming = 3, bands = 4)
            .select(col("id_a"), col("id_b")).localCheckpoint()
          labels0 = Dedup.connectedComponents(basePairs)
        }))
      DedupSuite.hammingIndexFold(s, store, s"$tmp/pairs", batchHashes, 1L,
        "doc_id", "ph", maxHamming = 3)
      val newPairs = s.read.schema(FoldPairsSchema).parquet(s"$tmp/pairs")
      val labels = Dedup.foldComponents(labels0, newPairs)
      idsDf
        .join(labels, col("doc_id") === col("id"), "left")
        .select(col("doc_id"),
          coalesce(col("component"), col("doc_id")).as("keep_id"))
        .withColumn("kept", (col("doc_id") === col("keep_id")).cast("boolean"))
    },
      // d31: the audio INGEST twin — d29's recursive transitive closure
      // under the 'd28:' salt (the Spark side folds WAV dHashes through
      // the persisted band index; the oracle only knows the closed-form
      // hashes).
      Sql("""WITH RECURSIVE p AS (
        |  SELECT doc_id, doc_id // 8 AS f, doc_id % 8 AS v FROM documents),
        |h AS (
        |  SELECT doc_id,
        |    xor(xor(
        |      CAST(('0x' || substr(md5('d28:' || CAST(f AS VARCHAR)), 1, 15)) AS BIGINT),
        |      CASE WHEN v >= 1 THEN (CAST(1 AS BIGINT) << ((7 * v) % 60)) ELSE 0 END),
        |      CASE WHEN v >= 4 THEN (CAST(1 AS BIGINT) << ((11 * v + 3) % 60)) ELSE 0 END)
        |      AS ph
        |  FROM p),
        |b AS (SELECT doc_id, ph, j AS band,
        |             (ph >> (CAST(j AS INT) * 15)) & 32767 AS band_key
        |      FROM h, range(4) r(j)),
        |pr AS (SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b
        |       FROM b a JOIN b c ON a.band = c.band AND a.band_key = c.band_key
        |                        AND a.doc_id < c.doc_id
        |       WHERE bit_count(xor(a.ph, c.ph)) <= 3),
        |edges AS (SELECT id_a AS src, id_b AS dst FROM pr
        |          UNION SELECT id_b, id_a FROM pr),
        |reach(src, dst) AS (
        |  SELECT src, dst FROM edges
        |  UNION
        |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
        |comp AS (SELECT src AS doc_id, LEAST(src, MIN(dst)) AS component
        |         FROM reach GROUP BY src)
        |SELECT d.doc_id,
        |       COALESCE(c.component, d.doc_id) AS keep_id,
        |       d.doc_id = COALESCE(c.component, d.doc_id) AS kept
        |FROM documents d LEFT JOIN comp c USING (doc_id)""".stripMargin)),

    // Incremental corpus ingestion: dedup a NEW batch against the
    // already-ingested corpus by content hash (anti join on md5 —
    // J1's insert-only merge lifted to content identity), then
    // exact-dedup within the surviving batch. The fixture ships a
    // batch where every 4th base doc reappears under a new id — all
    // of those must be anti-joined away. Scale: the existing-corpus
    // side stays a distinct hash set, shuffle-partitioned, never
    // collected; one shuffle per side on the 16-byte digest.
    // Repeated-span coverage (substring-level dedup signal): see
    // DedupSuite.spanCoverage. Planted exact clones score 1.0 by
    // construction.
    Gate("d16_span_coverage", (s, dir) =>
      DedupSuite.spanCoverage(corpusExact(s, dir), "doc_id", "text", 5),
      Sql(s"""WITH corpus AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 5 = 0),
         |tk AS (SELECT doc_id, $toksSql AS toks FROM corpus),
         |sh AS (SELECT doc_id,
         |         unnest(range(len(toks) - 4)) AS p,
         |         unnest(list_transform(list_transform(range(len(toks) - 4),
         |           i -> array_to_string(toks[i+1:i+5], ' ')),
         |           s -> ${hash32Sql(0, "s")})) AS h
         |       FROM tk WHERE len(toks) >= 5),
         |dup AS (SELECT h FROM sh GROUP BY h HAVING COUNT(*) > 1),
         |c AS (SELECT sh.doc_id, sh.p,
         |        lag(sh.p) OVER (PARTITION BY sh.doc_id ORDER BY sh.p ASC) AS prev
         |      FROM sh JOIN dup USING (h)),
         |a AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_dup_starts,
         |        CAST(SUM(CASE WHEN prev IS NULL THEN 5
         |                      ELSE LEAST(5, p - prev) END) AS BIGINT) AS n_covered
         |      FROM c GROUP BY 1),
         |b AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens FROM tk)
         |SELECT b.doc_id, b.n_tokens,
         |       CAST(COALESCE(a.n_dup_starts, 0) AS BIGINT) AS n_dup_starts,
         |       CAST(COALESCE(a.n_covered, 0) AS BIGINT) AS n_covered,
         |       CASE WHEN b.n_tokens > 0
         |            THEN CAST(COALESCE(a.n_covered, 0) AS DOUBLE) / CAST(b.n_tokens AS DOUBLE)
         |            ELSE 0.0 END AS dup_span_frac
         |FROM b LEFT JOIN a USING (doc_id)""".stripMargin)),

    d25,

    // ---- incremental ExactSubstr ingest (the d13/d19/d23/q91
    // discipline closing the LAST corpus-sized-state family without
    // a gated ingest twin): the window-key store is built on the
    // first third of the corpus, the rest folds in two monotonic
    // batches, and per-batch cleaned output ∪-equals the full d25
    // recompute BIT-EXACT (monotone ids ⇒ a stored keep is the
    // global keep, so earlier emissions never change) — the corpus
    // is never rescanned: each fold joins only its own buckets of
    // the store (static PartitionFilters, spec-proved unread
    // elsewhere). Oracle: d25's relational twin — that equality IS
    // the gate, the e13/d23 shared-oracle move. ----
    Gate("d26_incremental_substr", (s, dir) => {
      val docs = substrCorpus(s, dir)
      val maxId = docs.agg(max(col("doc_id"))).head().getLong(0)
      val (t1, t2) = (maxId / 3, 2 * maxId / 3)
      val tmp = PerJvm.tempDir("d26_substr")
      val (store, out) = (s"$tmp/state", s"$tmp/out")
      val out1 = DedupSuite.exactSubstrBuildStore(
        docs.filter(col("doc_id") < t1), "doc_id", "text", 8, store)
      DedupSuite.exactSubstrFold(s, store, out,
        docs.filter(col("doc_id") >= t1 && col("doc_id") < t2), 1L,
        "doc_id", "text", 8)
      // maintenance between folds (the q91/s13 discipline): collapse
      // each key's build+delta rows to its merged row, then squash
      // each bucket partition's files in place — the gate below then
      // PROVES fold 3 reads the vacuumed+compacted store identically
      // (post-maintenance output still oracle-exact)
      DedupSuite.vacuumSubstrStore(s, store)
      graft.operators.StoreCompaction.compactStore(s, store)
      DedupSuite.exactSubstrFold(s, store, out,
        docs.filter(col("doc_id") >= t2), 2L, "doc_id", "text", 8)
      // both folds' emissions, read back with the build's schema (no
      // inference job)
      out1.unionByName(s.read.schema(out1.schema).parquet(out))
    },
      // d26 folds the d25 corpus through the persisted window-key
      // store in monotonic batches; per-batch emission ∪-equals the
      // full recompute, so it shares d25's relational oracle — that
      // equality IS the gate
      SameAs(d25)),

    // All-pairs cosine ≥ 0.9 over sparse tf vectors WITHOUT the
    // naive all-pairs join: Bayardo prefix filtering + partial-score
    // pruning bound the candidate set, then an integer-exact verify
    // (100·dot² ≥ 81·‖a‖²·‖b‖²) makes the result — and the naive
    // DuckDB oracle — bit-identical. The sparse-text sibling of
    // d6's dense-embedding near-dup. Gate input is a deterministic
    // bounded slice (doc_id % 3 = 0 AND doc_id < 2500 — the
    // q36/q67 gate-bounding discipline, with the cap keeping the
    // gate's pair count SF-independent): the synthetic corpus has a
    // 31-term vocabulary, so EVERY doc pair shares indexed terms
    // and no exact algorithm beats Θ(|pairs|) on it — a full-corpus
    // run is quadratic by data shape, not by plan (see Apss
    // scaladoc).
    Gate("d17_apss_cosine", (s, dir) =>
      Apss.cosinePairs(
        Tables.documents(s, dir)
          .filter(col("doc_id") % 3 === 0 && col("doc_id") < 2500),
        "doc_id", "text", 9, 10),
      // Naive all-pairs form over the same bounded doc slice — the
      // prefix-filtered Spark plan must reproduce it exactly (the
      // filters only prune candidates that provably cannot reach τ; the
      // threshold test is pure BIGINT arithmetic on both engines).
      Sql(s"""WITH tf AS (
         |  SELECT doc_id, tok AS term, CAST(COUNT(*) AS BIGINT) AS tf
         |  FROM (SELECT doc_id, unnest($toksSql) AS tok FROM documents
         |        WHERE doc_id % 3 = 0 AND doc_id < 2500)
         |  GROUP BY 1, 2),
         |nrm AS (SELECT doc_id, CAST(SUM(tf*tf) AS BIGINT) AS n2 FROM tf GROUP BY 1),
         |dp AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |         CAST(SUM(a.tf * b.tf) AS BIGINT) AS dot
         |       FROM tf a JOIN tf b ON a.term = b.term AND a.doc_id < b.doc_id
         |       GROUP BY 1, 2)
         |SELECT doc_a, doc_b, dot, x.n2 AS na, y.n2 AS nb
         |FROM dp JOIN nrm x ON doc_a = x.doc_id JOIN nrm y ON doc_b = y.doc_id
         |WHERE CAST(100 AS HUGEINT) * dot * dot
         |      >= CAST(81 AS HUGEINT) * x.n2 * y.n2""".stripMargin)),

    // Incremental APSS (the d13 ingest shape for d17): a persisted
    // open-world index over the corpus — flagged by the
    // partner-independent ℓ²-prefix bound ONLY, because the Bayardo
    // Σw·maxw bound is relative to corpus weights and a future
    // batch doc can exceed them — probed by a new batch's postings.
    // The corpus is never re-tokenized. Gate plants guaranteed
    // cross pairs the d13 way: the batch carries near-dup clones
    // (text + ' v2') of every corpus doc with doc_id % 4 = 0, so
    // the oracle's naive corpus × batch join is non-empty at every
    // SF. Same bounded slice + integer-exact verify as d17.
    Gate("d18_incremental_apss", (s, dir) => {
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), col("text"))
        .filter(col("doc_id") % 3 === 0 && col("doc_id") < 2500)
      val corpus = docs.filter(col("doc_id") % 2 === 0)
      val batch = docs.filter(col("doc_id") % 2 === 1)
        .unionByName(corpus.filter(col("doc_id") % 4 === 0)
          .select((col("doc_id") + 1000000L).as("doc_id"),
            concat(col("text"), lit(" v2")).as("text")))
      // materialized: incrementalPairs' contract is a PERSISTED
      // index (it fans out into idx/prefix/prefixUb/na branches —
      // unmaterialized, the whole corpus index pipeline re-ran per
      // branch; r19 optimization)
      val index = Apss.buildIndex(corpus, "doc_id", "text", 9, 10)
        .localCheckpoint()
      Apss.incrementalPairs(index, batch, "doc_id", "text", 9, 10)
    },
      // Naive corpus × batch join over the same planted ingest fixture
      // — the index-probe plan must reproduce it exactly (the
      // open-world prefix filter only prunes candidates that provably
      // cannot reach τ against ANY partner).
      Sql(s"""WITH sl AS (SELECT doc_id, text FROM documents
         |            WHERE doc_id % 3 = 0 AND doc_id < 2500),
         |corpus AS (SELECT doc_id, text FROM sl WHERE doc_id % 2 = 0),
         |batch AS (SELECT doc_id, text FROM sl WHERE doc_id % 2 = 1
         |          UNION ALL
         |          SELECT doc_id + 1000000, text || ' v2'
         |          FROM corpus WHERE doc_id % 4 = 0),
         |tfa AS (SELECT doc_id, tok AS term, CAST(COUNT(*) AS BIGINT) AS tf
         |        FROM (SELECT doc_id, unnest($toksSql) AS tok FROM corpus)
         |        GROUP BY 1, 2),
         |tfb AS (SELECT doc_id, tok AS term, CAST(COUNT(*) AS BIGINT) AS tf
         |        FROM (SELECT doc_id, unnest($toksSql) AS tok FROM batch)
         |        GROUP BY 1, 2),
         |nra AS (SELECT doc_id, CAST(SUM(tf*tf) AS BIGINT) AS n2 FROM tfa GROUP BY 1),
         |nrb AS (SELECT doc_id, CAST(SUM(tf*tf) AS BIGINT) AS n2 FROM tfb GROUP BY 1),
         |dp AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |         CAST(SUM(a.tf * b.tf) AS BIGINT) AS dot
         |       FROM tfa a JOIN tfb b ON a.term = b.term
         |       GROUP BY 1, 2)
         |SELECT doc_a, doc_b, dot, x.n2 AS na, y.n2 AS nb
         |FROM dp JOIN nra x ON doc_a = x.doc_id JOIN nrb y ON doc_b = y.doc_id
         |WHERE CAST(100 AS HUGEINT) * dot * dot
         |      >= CAST(81 AS HUGEINT) * x.n2 * y.n2""".stripMargin)),

    // Incremental MinHash-LSH near-dup (the d18 ingest shape for
    // the near-dup family): the corpus's shingle hashes + band
    // hashes are a persisted index (minhashIndex), and a new batch
    // — the corpusNear clones, arriving as an ingest delta — probes
    // it via shared (band, band_hash) buckets + exact-Jaccard
    // verify. The corpus is never re-shingled or re-signed. The
    // hot-bucket cap counts the union bucket population, so the
    // result equals the full d2 pipeline over corpus ∪ batch
    // restricted to cross pairs (DedupSuiteSpec proves it); the
    // oracle replicates both sides' portable pipelines in SQL.
    Gate("d19_incremental_minhash", (s, dir) => {
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val batch = docs.filter(col("doc_id") % 7 === 0)
        .select(cloneId(col("doc_id")).as("doc_id"),
          concat(col("text"), lit(" nearly duplicate suffix")).as("text"))
      val index = DedupSuite.minhashIndex(docs, "doc_id", "text",
        n = 3, k = 16, bands = 4)
      DedupSuite.incrementalMinhashNearDups(index, batch, "doc_id", "text",
        n = 3, k = 16, bands = 4, threshold = 0.5)
    },
      Sql(d19OracleSql)),

    d20,

    d21,

    // ---- incremental SemDeDup ingest (the d13/d19/q91 discipline
    // for the semantic-dedup family — the last corpus-sized-state
    // family without an ingest twin): the corpus member state
    // (vid, v, csim, kept — dropped members too: similarity is not
    // transitive, a dropped member can still be the witness that
    // drops a newcomer) is PERSISTED cluster-partitioned, and the
    // clone batch FOLDS in — batch assigned against frozen
    // centroids, only receiving clusters read back (static
    // centroid_id IN partition filter), only those rewritten. The
    // gated read serves survivors from the folded state; oracle:
    // d20's full recompute over corpus ∪ batch, matched bit-exact.
    Gate("d23_semdedup_ingest", (s, dir) =>
      Similarity.semDedupKept(s, semDedupStateDir(s, dir, keepFarthest = false)),
      // d23/d24 fold d20/d21's clone batches into the persisted
      // member state; fold == full recompute over corpus ∪ batch
      // bit-exact (frozen centroids, all-member witness set), so the
      // served survivors share the inline pipelines' oracles — that
      // equality IS the gate, exactly the e13/e14 move.
      SameAs(d20)),

    // same fold, the PAPER's keep-farthest rule (d21's oracle)
    Gate("d24_semdedup_ingest_farthest", (s, dir) =>
      Similarity.semDedupKept(s, semDedupStateDir(s, dir, keepFarthest = true)),
      // served survivors == inline d21's (see d23)
      SameAs(d21)),

    d13,

    // d13's ingest dedup with the anti join's big side BLOOM-PRUNED
    // (operators/BloomFilter.scala): a bitmap built over the batch's
    // content digests in one partial-aggregable pass drops every
    // seen-corpus row that provably matches nothing BEFORE the
    // exchange — at 100 TB the seen side's shuffle is the whole cost
    // of d13, and the bloom turns it into a shuffle of candidates
    // only. Output is bit-identical to the plain anti join (false
    // positives survive to the exact join and match nothing), so the
    // oracle is d13's plain NOT IN; pruning effectiveness is an
    // observe() metric, not a guess.
    Gate("d14_bloom_prefilter", (s, dir) => {
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val base = docs.filter(col("doc_id") % 2 === 0)
      val batch = docs.filter(col("doc_id") % 2 === 1)
        .unionByName(base.filter(col("doc_id") % 4 === 0)
          .select(cloneId(col("doc_id")).as("doc_id"), col("text")))
      // NO distinct on the seen side (d13 needs it to shrink the
      // join input; anti-join semantics don't) — the bloom filter is
      // the shrink here, and it applies AT THE SCAN, before any
      // exchange. Post-filter the survivors are broadcast-sized, so
      // AQE turns the whole anti join into a broadcast join: the
      // 100-TB seen side never shuffles at all.
      val seen = base.select(md5(col("text")).as("h"))
      // size the filter from the build side's PLAN STATISTICS, not a
      // constant and not a count(): a fixed-4096 filter saturates as
      // sf grows (fpp -> 1) and silently stops pruning, while a
      // batch.count() is a full extra scan of the build side per run
      // (ADVICE r6). sizedFor reads the optimizer's row estimate —
      // a few-x estimation error only moves fpp, never correctness.
      val fresh = BloomFilter.prunedLeftAnti(batch, seen,
        md5(col("text")), col("h"),
        BloomFilter.sizedFor(batch, fpp = 0.01))
      DedupSuite.exact(fresh, "doc_id", "text")
    },
      // Identical semantics to d13 BY DESIGN: the bloom filter is a
      // physical-plan optimization whose exactness the oracle verifies
      // (same discipline as d8/d9 and q21/q25/q53 — one oracle, two
      // execution paths).
      SameAs(d13)),

    Gate("d5_minhash_portable", (s, dir) =>
      DedupSuite.minhashNearDupsPortable(corpusD5(s, dir), "doc_id", "text",
        n = 3, k = 16, bands = 4, threshold = 0.5),
      Sql(d5OracleSql)),

    // ---- near-dup canonical selection (keep best-quality member) ----
    Gate("d7_canonical_near_dup", (s, dir) => {
      import graft.functions.TextFunctions.{tokens, qualityScoreFromTokens}
      val corpus = corpusD7(s, dir)
      // TRANSITIVE clusters (r3 VERDICT item 3): pairs → connected
      // components (min-id label). The old single-step min-id rep was
      // wrong on chains A≈B≈C with A̸≈C (it put C under B); corpusD7
      // plants exactly those chains, and the oracle computes the true
      // closure via a recursive CTE.
      val pairs = DedupSuite.minhashNearDupsPortable(corpus, "doc_id", "text",
          n = 3, k = 16, bands = 4, threshold = 0.5)
        .select(col("id_a"), col("id_b"))
      val comp = Dedup.connectedComponents(pairs)
        .select(col("id").as("doc_id"), col("component"))
      val mem = corpus.join(comp, Seq("doc_id"), "left")
        .select(col("doc_id"), coalesce(col("component"), col("doc_id")).as("cluster"))
      val q = corpus.select(col("doc_id"),
        graft.functions.ColUtil.bindOnce(tokens(col("text")))(
          qualityScoreFromTokens).as("quality"))
      val w = Window.partitionBy(col("cluster"))
        .orderBy(col("quality").desc, col("doc_id").asc)
      mem.join(q, "doc_id")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("cluster"), col("doc_id"),
          col("quality").cast("double").as("quality"))
    },
      Sql(d7OracleSql)),

    d8,

    // Same input and oracle as d8, but localThreshold=0 FORCES the
    // distributed label-propagation + pointer-jumping path — r3
    // VERDICT item 2: the code that must be right at 100× scale was
    // only ever spec-tested; now the driver gate exercises it too.
    Gate("d9_components_distributed", (s, dir) => {
      val pairs = DedupSuite.minhashNearDupsPortable(corpusD5(s, dir),
          "doc_id", "text", n = 3, k = 16, bands = 4, threshold = 0.5)
        .select(col("id_a"), col("id_b"))
      Dedup.connectedComponents(pairs, localThreshold = 0L)
    },
      // distributed label propagation, graded against the same
      // ground-truth closure as the union-find fast path in d8
      SameAs(d8)),

    // ---- incremental connected components (the ingest twin of
    // d8/d9 — the last iterative family without one): a batch of
    // new pairs maps through the EXISTING labels into a
    // component-level edge list, CC runs on that tiny graph, and
    // the mapping relabels the O(V) store — the old pair list is
    // never re-derived or re-walked (Dedup.foldComponents). Batch
    // pairs here are arithmetic bridges (doc, doc+3) over every 6th
    // base doc, so they genuinely MERGE existing minhash clusters
    // and introduce unseen nodes. Oracle: full recursive-closure CC
    // over oldPairs ∪ batch — min-id labels make fold == recompute
    // bit-exact, which is the gate.
    Gate("d22_incremental_components", (s, dir) => {
      val pairs = DedupSuite.minhashNearDupsPortable(corpusD5(s, dir),
          "doc_id", "text", n = 3, k = 16, bands = 4, threshold = 0.5)
        .select(col("id_a"), col("id_b"))
      val labels = Dedup.connectedComponents(pairs)
      val batch = Tables.documents(s, dir)
        .filter(col("doc_id") < 200 && col("doc_id") % 6 === 0)
        .select(col("doc_id").as("id_a"), (col("doc_id") + 3).as("id_b"))
      Dedup.foldComponents(labels, batch)
    },
      // d22: full recursive-closure CC over the d8 pair list ∪ the
      // arithmetic batch bridges — the incremental fold must reproduce
      // this recompute bit-exactly (min-id labels are canonical).
      Sql(s"""${minhashPairsPrefixSql(corpusD5Ctes).replaceFirst("^WITH ", "WITH RECURSIVE ")},
         |pr AS (SELECT id_a, id_b FROM j WHERE jaccard >= 0.5
         |       UNION ALL
         |       SELECT doc_id AS id_a, doc_id + 3 AS id_b
         |       FROM documents WHERE doc_id < 200 AND doc_id % 6 = 0),
         |edges AS (SELECT id_a AS src, id_b AS dst FROM pr
         |          UNION SELECT id_b, id_a FROM pr),
         |reach(src, dst) AS (
         |  SELECT src, dst FROM edges
         |  UNION
         |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
         |comp AS (SELECT src AS doc_id, LEAST(src, MIN(dst)) AS component
         |         FROM reach GROUP BY src)
         |SELECT doc_id AS id, component FROM comp""".stripMargin)),

    // Embedding-cluster dedup capstone: mutual k-NN graph (e7) →
    // connected components → per-cluster membership stats. The
    // mutual restriction is what makes components usable here — raw
    // threshold pairs chain hub vectors into mega-clusters, while
    // reciprocal top-k edges keep clusters tight. Every stage is the
    // already-gated operator (knnGraph, connectedComponents); the
    // oracle recomputes the whole chain incl. the transitive closure.
    Gate("d15_embedding_clusters", (s, dir) => {
      val sample = Tables.embeddings(s, dir).filter(col("vec_id") % 10 === 0)
      val g = Similarity.knnGraph(sample, "vec_id", "embedding", k = 4)
      val comp = Dedup.connectedComponents(
        g.filter(col("mutual"))
          .select(col("src_id").as("id_a"), col("dst_id").as("id_b")))
      sample.select(col("vec_id"))
        .join(comp.select(col("id").as("vec_id"), col("component")),
          Seq("vec_id"), "left")
        .select(col("vec_id"),
          coalesce(col("component"), col("vec_id")).as("cluster"))
        .groupBy(col("cluster"))
        .agg(count(lit(1)).cast("bigint").as("n_members"),
          max(col("vec_id")).as("max_member"))
    },
      // e7's graph + transitive closure over its MUTUAL edges (the
      // closure CTE mirrors componentsCtesSql, keyed on vec ids)
      Sql(s"""WITH RECURSIVE v AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 10 = 0),
         |s AS (SELECT a.vec_id AS src_id, b.vec_id AS dst_id,
         |        a.embedding AS av, b.embedding AS bv
         |      FROM v a CROSS JOIN v b WHERE a.vec_id <> b.vec_id),
         |sc AS (SELECT src_id, dst_id,
         |        ${dotSql("av", "bv")} / (sqrt(${dotSql("av", "av")}) * sqrt(${dotSql("bv", "bv")})) AS simd
         |       FROM s),
         |r AS (SELECT src_id, dst_id,
         |        ROW_NUMBER() OVER (PARTITION BY src_id
         |             ORDER BY simd DESC, dst_id ASC) AS rnk
         |      FROM sc),
         |e AS (SELECT src_id, dst_id FROM r WHERE rnk <= 4),
         |me AS (SELECT e.src_id AS src, e.dst_id AS dst
         |       FROM e JOIN e m ON e.src_id = m.dst_id AND e.dst_id = m.src_id),
         |reach(src, dst) AS (
         |  SELECT src, dst FROM me
         |  UNION
         |  SELECT r2.src, e2.dst FROM reach r2 JOIN me e2 ON r2.dst = e2.src),
         |comp AS (SELECT src AS vec_id, LEAST(src, MIN(dst)) AS component
         |         FROM reach GROUP BY src),
         |lab AS (SELECT v.vec_id, COALESCE(c.component, v.vec_id) AS cluster
         |        FROM v LEFT JOIN comp c USING (vec_id))
         |SELECT cluster, CAST(COUNT(*) AS BIGINT) AS n_members,
         |       MAX(vec_id) AS max_member
         |FROM lab GROUP BY 1""".stripMargin)),

    // ---- embedding-cosine near-dup dedup (fifth dedup mode) ----
    Gate("d6_embedding_dedup", (s, dir) => {
      val emb = Tables.embeddings(s, dir).select(col("vec_id"), col("embedding"))
      val planted = emb.unionByName(emb.filter(col("vec_id") % 10 === 0)
        .select(cloneId(col("vec_id")).as("vec_id"), col("embedding")))
      Similarity.lshDedup(planted, "vec_id", "embedding",
        nPlanes = 8, threshold = 0.99)
    },
      Sql(d6OracleSql)),

    // Bench-only (no oracle): the xxhash64 base hash has no DuckDB twin,
    // so no oracle is possible. Pair-set equivalence with the gated
    // portable pipeline (d2) on the same fixture is spec-tested instead
    // (DedupSuiteSpec).
    Gate("x1_minhash_fast", (s, dir) =>
      DedupSuite.minhashNearDups(corpusNear(s, dir), "doc_id", "text",
        n = 3, k = 16, bands = 4, threshold = 0.5))
  )
}
