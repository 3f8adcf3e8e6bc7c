package graft.catalog

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators._
import Fixtures._

/** e-gates: embeddings — cosine top-k, LSH, IVF, PQ and their
  * served/incremental forms, quantization, k-NN graphs and recall; plus
  * the bench-only x2 twin. */
object EmbeddingGates {

  /** The e10 persisted IVF index — the build-once/query-many serving
    * split (an inline build left one full index copy per invocation
    * and re-paid the build on every bench run). Layout under the root:
    * `index/` = the centroid-partitioned inverted lists over corpus ∪
    * clone batch (foldIvfIndex against FROZEN centroids — the
    * corpus is never re-read on ingest), `centroids/` = the frozen
    * centroid set (float arrays roundtrip parquet bit-exactly). The
    * gated query serves from this persisted state, which is exactly
    * the shape a 100 TB index runs. */
  private def e10IvfIndexDir(s: SparkSession, dir: String): String =
    stagedDir("e10_ivf", dir) { tmp =>
      val emb = Tables.embeddings(s, dir).select(col("vec_id"), col("embedding"))
      val batch = emb.filter(col("vec_id") % 10 === 0)
        .select(cloneId(col("vec_id")).as("vec_id"), col("embedding"))
      val cent = Similarity.buildIvfIndex(
        emb, s"$tmp/index", "vec_id", "embedding", 16)
      Similarity.foldIvfIndex(s, s"$tmp/index", batch, 1L, cent,
        "vec_id", "embedding")
      cent.write.mode("overwrite").parquet(s"$tmp/centroids")
    }

  /** The e13/e14 persisted PQ serving state (one store per variant, the
    * e10 lifecycle): a centroid-partitioned code table + codebook +
    * coarse set written ONCE by [[Similarity.buildIvfPqIndex]]; the
    * gated queries only ever read it — the serving claim
    * (build-once/query-many, probe prunes partitions) is oracle-gated. */
  private def pqIndexDir(s: SparkSession, dir: String,
                         residual: Boolean): String =
    stagedDir(if (residual) "e14_ivfadc" else "e13_ivfpq", dir) { tmp =>
      Similarity.buildIvfPqIndex(
        Tables.embeddings(s, dir).select(col("vec_id"), col("embedding")),
        tmp.toString, "vec_id", "embedding", residual = residual)
    }

  /** DuckDB twin of [[Similarity.l2Fixed]]: 10-bit fixed-point
    * component quantization, then a BIGINT sum of squared diffs —
    * order-independent, so engine fold order cannot perturb it. */
  private def l2FixSql(a: String, b: String): String = {
    def q(x: String) =
      s"CAST(floor(CAST($x AS DOUBLE) * 1024 + 0.5) AS BIGINT)"
    s"list_reduce(list_prepend(CAST(0 AS BIGINT), " +
      s"list_transform(list_zip($a, $b), " +
      s"p -> (${q("p[1]")} - ${q("p[2]")}) * (${q("p[1]")} - ${q("p[2]")}))), " +
      "(a, b) -> a + b)"
  }

  /** PQ CTE fragment shared by the e9 and e11 oracles: subspace index
    * `js`, codebook `cent`, per-vector codes `codes`, and the
    * per-query ADC lookup table `qt`. */
  private[catalog] def pqCodeCtes: String = pqCodeCtes("e.vec_id < 8")
  private[catalog] def pqCodeCtes(queryPred: String): String =
    s"""js AS (SELECT unnest(range(8)) AS j),
       |cent AS (SELECT c.vec_id AS cid, js.j,
       |           list_slice(c.embedding, js.j*8+1, js.j*8+8) AS csub
       |         FROM (SELECT vec_id, embedding FROM embeddings
       |               ORDER BY vec_id ASC LIMIT 16) c CROSS JOIN js),
       |sv AS (SELECT e.vec_id AS neighbor_id, js.j,
       |         list_slice(e.embedding, js.j*8+1, js.j*8+8) AS sv
       |       FROM embeddings e CROSS JOIN js),
       |cd AS (SELECT sv.neighbor_id, sv.j, cent.cid,
       |         ${l2FixSql("sv.sv", "cent.csub")} AS d
       |       FROM sv JOIN cent ON sv.j = cent.j),
       |codes AS (SELECT neighbor_id, j, cid AS code FROM (
       |            SELECT neighbor_id, j, cid,
       |              ROW_NUMBER() OVER (PARTITION BY neighbor_id, j
       |                ORDER BY d ASC, cid ASC) AS rn FROM cd) WHERE rn = 1),
       |qs AS (SELECT e.vec_id AS query_id, js.j,
       |         list_slice(e.embedding, js.j*8+1, js.j*8+8) AS qsv
       |       FROM embeddings e CROSS JOIN js WHERE $queryPred),
       |qt AS (SELECT qs.query_id, qs.j, cent.cid,
       |         ${l2FixSql("qs.qsv", "cent.csub")} AS qd
       |       FROM qs JOIN cent ON qs.j = cent.j)""".stripMargin

  /** e8 oracle: recall@4 of the banded (4 tables × 3 planes) k-NN graph
    * against the exact graph on the e7 sample. The 12 sign bits come
    * from the same inlined plane weights as the engine (the e2/d6
    * mechanism); table keys are the same `(allb >> 3t) & 7` integer
    * bit-slices; both edge sets ranked (simd DESC, dst ASC) like e7,
    * so the hit counts are bit-reproducible. */
  private def e8OracleSql: String = {
    def planeArr(p: Int): String =
      (0 until 64).map(d => Similarity.planeWeight(p, d)).mkString("[", ",", "]")
    val bucketExpr = (0 until 12).map { p =>
      s"""CASE WHEN list_reduce(list_prepend(0.0,
         |  list_transform(list_zip(embedding, ${planeArr(p)}),
         |    pr -> CAST(pr[1] AS DOUBLE) * pr[2])), (a, b) -> a + b) >= 0
         |THEN ${1L << p} ELSE 0 END""".stripMargin
    }.mkString(" + ")
    def simd(a: String, b: String): String =
      s"""${dotSql(s"$a.embedding", s"$b.embedding")}
         | / (sqrt(${dotSql(s"$a.embedding", s"$a.embedding")})
         |    * sqrt(${dotSql(s"$b.embedding", s"$b.embedding")}))""".stripMargin
    s"""WITH v AS (SELECT vec_id, embedding, $bucketExpr AS allb
       |           FROM embeddings WHERE vec_id % 10 = 0),
       |sc AS (SELECT a.vec_id AS src_id, b.vec_id AS dst_id, ${simd("a", "b")} AS simd
       |       FROM v a CROSS JOIN v b WHERE a.vec_id <> b.vec_id),
       |er AS (SELECT src_id, dst_id, ROW_NUMBER() OVER (PARTITION BY src_id
       |         ORDER BY simd DESC, dst_id ASC) AS rnk FROM sc),
       |truth AS (SELECT src_id, dst_id FROM er WHERE rnk <= 4),
       |bt AS (SELECT vec_id, (allb >> (u.t * 3)) & 7 AS bk, u.t
       |       FROM v CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS t) u),
       |cand AS (SELECT DISTINCT x.vec_id AS src_id, y.vec_id AS dst_id
       |         FROM bt x JOIN bt y ON x.t = y.t AND x.bk = y.bk
       |         WHERE x.vec_id <> y.vec_id),
       |bsc AS (SELECT c.src_id, c.dst_id, ${simd("a", "b")} AS simd
       |        FROM cand c JOIN v a ON a.vec_id = c.src_id
       |                    JOIN v b ON b.vec_id = c.dst_id),
       |br AS (SELECT src_id, dst_id, ROW_NUMBER() OVER (PARTITION BY src_id
       |         ORDER BY simd DESC, dst_id ASC) AS rnk FROM bsc),
       |appx AS (SELECT src_id, dst_id FROM br WHERE rnk <= 4)
       |SELECT t.src_id AS query_id,
       |       CAST(COUNT(ax.src_id) AS BIGINT) AS n_hits,
       |       CAST(COUNT(ax.src_id) AS DOUBLE) / 4.0 AS recall_at_4
       |FROM truth t LEFT JOIN appx ax
       |  ON t.src_id = ax.src_id AND t.dst_id = ax.dst_id
       |GROUP BY 1""".stripMargin
  }

  /** e2 oracle: LSH near-dup pairs ≥ 0.95. */
  private def e2OracleSql: String =
    s"""$lshPairsPrefixSql
       |SELECT id_a, id_b, simd AS sim
       |FROM p WHERE simd >= 0.95""".stripMargin

  /** IVF pipeline CTE chain (assignment, probe selection, list scoring,
    * ranking) shared by the e3/e5/e10 oracles — ends with `r` =
    * (query_id, neighbor_id, sim, rnk). `corpus` is the relation the
    * index covers (queries always come from the base `embeddings`
    * table, so an e10-planted corpus reuses the e3 query set). */
  private def ivfCtes(corpus: String): String =
    s"""cent AS (SELECT vec_id AS centroid_id, embedding AS cvec
       |              FROM $corpus ORDER BY vec_id ASC LIMIT 16),
       |assign AS (SELECT e.vec_id AS neighbor_id, e.embedding AS cv, c.centroid_id,
       |             ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |               ORDER BY ${dotSql("e.embedding", "c.cvec")}
       |                 / (sqrt(${dotSql("e.embedding", "e.embedding")})
       |                    * sqrt(${dotSql("c.cvec", "c.cvec")})) DESC,
       |               c.centroid_id ASC) AS rn
       |           FROM $corpus e CROSS JOIN cent c),
       |lists AS (SELECT neighbor_id, cv, centroid_id FROM assign WHERE rn = 1),
       |q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 8),
       |probes AS (SELECT query_id, qv, centroid_id FROM (
       |             SELECT q.query_id, q.qv, c.centroid_id,
       |               ROW_NUMBER() OVER (PARTITION BY q.query_id
       |                 ORDER BY ${dotSql("q.qv", "c.cvec")}
       |                   / (sqrt(${dotSql("q.qv", "q.qv")})
       |                      * sqrt(${dotSql("c.cvec", "c.cvec")})) DESC,
       |                 c.centroid_id ASC) AS rn
       |             FROM q CROSS JOIN cent c)
       |           WHERE rn <= 4),
       |scored AS (SELECT DISTINCT p.query_id, l.neighbor_id,
       |             ${dotSql("p.qv", "l.cv")}
       |             / (sqrt(${dotSql("p.qv", "p.qv")})
       |                * sqrt(${dotSql("l.cv", "l.cv")})) AS simd
       |           FROM probes p JOIN lists l ON p.centroid_id = l.centroid_id
       |           WHERE p.query_id <> l.neighbor_id),
       |r AS (SELECT query_id, neighbor_id, simd AS sim,
       |        CAST(ROW_NUMBER() OVER (PARTITION BY query_id
       |             ORDER BY simd DESC, neighbor_id ASC) AS INT) AS rnk
       |      FROM scored)""".stripMargin

  private val ivfCtesSql: String = ivfCtes("embeddings")

  /** e3 oracle: the full IVF pipeline (assignment, probe selection,
    * list scoring, final top-k) as window queries. */
  private def e3OracleSql: String =
    s"""WITH $ivfCtesSql
       |SELECT query_id, neighbor_id, sim, rnk
       |FROM r WHERE rnk <= 5""".stripMargin

  /** e5 oracle: recall@5 of the IVF result against brute-force ground
    * truth (e1's ranking), per query. */
  private def e5OracleSql: String =
    s"""WITH $ivfCtesSql,
       |iv AS (SELECT query_id, neighbor_id FROM r WHERE rnk <= 5),
       |bfr AS (SELECT qq.vec_id AS query_id, cc.vec_id AS neighbor_id,
       |          ROW_NUMBER() OVER (PARTITION BY qq.vec_id
       |            ORDER BY ${dotSql("qq.embedding", "cc.embedding")}
       |              / (sqrt(${dotSql("qq.embedding", "qq.embedding")})
       |                 * sqrt(${dotSql("cc.embedding", "cc.embedding")})) DESC,
       |            cc.vec_id ASC) AS rn
       |        FROM (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 8) qq
       |        JOIN embeddings cc ON cc.vec_id <> qq.vec_id),
       |bf AS (SELECT query_id, neighbor_id FROM bfr WHERE rn <= 5)
       |SELECT b.query_id, CAST(COUNT(i.query_id) AS BIGINT) AS n_hits,
       |       CAST(COUNT(i.query_id) AS DOUBLE) / 5.0 AS recall_at_5
       |FROM bf b LEFT JOIN iv i
       |  ON b.query_id = i.query_id AND b.neighbor_id = i.neighbor_id
       |GROUP BY b.query_id""".stripMargin

  // Gates whose oracle others share (`SameAs`).

  // ---- incremental IVF ingest (the d13/d19 incremental family
  // applied to ANN serving): build the partitioned index from the
  // BASE corpus, append a clone batch against the frozen
  // centroids WITHOUT touching the corpus, then serve from the
  // grown index. The oracle is a full IVF pipeline over
  // corpus ∪ batch with the same centroid seed — frozen centroids
  // make append and rebuild bit-identical, which is the gate.
  val e10: Gate = Gate("e10_incremental_ivf", (s, dir) => {
    val root = e10IvfIndexDir(s, dir)
    val cent = s.read.parquet(s"$root/centroids")
    Similarity.queryIvfIndex(s, s"$root/index", cent,
      Tables.embeddings(s, dir).filter(col("vec_id") < 8),
      "vec_id", "embedding", k = 5, nProbe = 4)
  },
    // e10: the full IVF pipeline over the planted union corpus —
    // centroid seed from the union's 16 lowest ids, which EQUALS the
    // base corpus's (clone ids sit at +1e6), so the oracle reproduces
    // the frozen-centroid append exactly.
    Sql(s"""WITH planted AS (SELECT vec_id, embedding FROM embeddings
       |                 UNION ALL
       |                 SELECT vec_id + 1000000, embedding
       |                 FROM embeddings WHERE vec_id % 10 = 0),
       |${ivfCtes("planted")}
       |SELECT query_id, neighbor_id, sim, rnk
       |FROM r WHERE rnk <= 5""".stripMargin))

  // ---- residual IVFPQ (the paper's IVFADC: codes quantize the
  // vector MINUS its coarse centroid, closing the recall gap
  // e11's scaladoc defers — per-cell query lookup tables, shared
  // residual codebook; see Similarity.ivfPqResidualTopK) ----
  val e12: Gate = Gate("e12_ivfpq_residual", (s, dir) => {
    val emb = Tables.embeddings(s, dir)
    Similarity.ivfPqResidualTopK(emb, emb.filter(col("vec_id") < 8),
      "vec_id", "embedding", k = 5)
  },
    // e12: residual IVFADC — corpus and query residuals are
    // float-minus-float in DOUBLE (exact in both engines), the shared
    // residual codebook comes from the 16 lowest-id residuals, and
    // all code/ADC arithmetic is the same fixed-point BIGINT as e9.
    Sql(s"""WITH js AS (SELECT unnest(range(8)) AS j),
       |coarse AS (SELECT vec_id AS centroid_id, embedding AS cvec
       |           FROM embeddings ORDER BY vec_id ASC LIMIT 16),
       |lassign AS (SELECT e.vec_id AS neighbor_id, e.embedding AS cv,
       |              c.centroid_id,
       |              ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |                ORDER BY ${dotSql("e.embedding", "c.cvec")}
       |                  / (sqrt(${dotSql("e.embedding", "e.embedding")})
       |                     * sqrt(${dotSql("c.cvec", "c.cvec")})) DESC,
       |                c.centroid_id ASC) AS rn
       |            FROM embeddings e CROSS JOIN coarse c),
       |lists AS (SELECT neighbor_id, centroid_id, cv FROM lassign WHERE rn = 1),
       |res AS (SELECT l.neighbor_id, l.centroid_id,
       |          list_transform(list_zip(l.cv, c.cvec),
       |            z -> CAST(z[1] AS DOUBLE) - CAST(z[2] AS DOUBLE)) AS r
       |        FROM lists l JOIN coarse c USING (centroid_id)),
       |cb AS (SELECT s.neighbor_id AS cid, js.j,
       |         list_slice(s.r, js.j*8+1, js.j*8+8) AS csub
       |       FROM (SELECT neighbor_id, r FROM res
       |             WHERE neighbor_id NOT IN (SELECT centroid_id FROM coarse)
       |             ORDER BY neighbor_id ASC LIMIT 16) s CROSS JOIN js),
       |cd AS (SELECT res.neighbor_id, res.centroid_id, cb.j, cb.cid,
       |         ${l2FixSql("list_slice(res.r, cb.j*8+1, cb.j*8+8)", "cb.csub")} AS d
       |       FROM res CROSS JOIN cb),
       |codes AS (SELECT neighbor_id, centroid_id, j, cid AS code FROM (
       |            SELECT neighbor_id, centroid_id, j, cid,
       |              ROW_NUMBER() OVER (PARTITION BY neighbor_id, j
       |                ORDER BY d ASC, cid ASC) AS rn FROM cd) WHERE rn = 1),
       |qprobe AS (SELECT query_id, centroid_id, qv FROM (
       |             SELECT q.vec_id AS query_id, q.embedding AS qv,
       |               c.centroid_id,
       |               ROW_NUMBER() OVER (PARTITION BY q.vec_id
       |                 ORDER BY ${dotSql("q.embedding", "c.cvec")}
       |                   / (sqrt(${dotSql("q.embedding", "q.embedding")})
       |                      * sqrt(${dotSql("c.cvec", "c.cvec")})) DESC,
       |                 c.centroid_id ASC) AS rn
       |             FROM embeddings q CROSS JOIN coarse c WHERE q.vec_id < 8)
       |           WHERE rn <= 4),
       |qres AS (SELECT p.query_id, p.centroid_id,
       |           list_transform(list_zip(p.qv, c.cvec),
       |             z -> CAST(z[1] AS DOUBLE) - CAST(z[2] AS DOUBLE)) AS qr
       |         FROM qprobe p JOIN coarse c USING (centroid_id)),
       |qt AS (SELECT qres.query_id, qres.centroid_id, cb.j, cb.cid,
       |         ${l2FixSql("list_slice(qres.qr, cb.j*8+1, cb.j*8+8)", "cb.csub")} AS qd
       |       FROM qres CROSS JOIN cb),
       |sc AS (SELECT qt.query_id, codes.neighbor_id,
       |         CAST(SUM(qt.qd) AS BIGINT) AS adist
       |       FROM codes JOIN qt ON qt.centroid_id = codes.centroid_id
       |                         AND qt.j = codes.j AND qt.cid = codes.code
       |       WHERE qt.query_id <> codes.neighbor_id
       |       GROUP BY 1, 2),
       |r AS (SELECT query_id, neighbor_id, adist,
       |        CAST(ROW_NUMBER() OVER (PARTITION BY query_id
       |          ORDER BY adist ASC, neighbor_id ASC) AS INT) AS rnk FROM sc)
       |SELECT query_id, neighbor_id, adist, rnk FROM r WHERE rnk <= 5""".stripMargin))

  // ---- IVF+PQ composition (coarse probe layer over compressed
  // codes — the billion-vector serving shape; scale analysis and
  // the residual-encoding caveat in Similarity.ivfPqTopK) ----
  val e11: Gate = Gate("e11_ivfpq", (s, dir) => {
    val emb = Tables.embeddings(s, dir)
    Similarity.ivfPqTopK(emb, emb.filter(col("vec_id") < 8),
      "vec_id", "embedding", k = 5)
  },
    // e11: coarse IVF probe layer (cosine, the e3 discipline) over
    // the SAME PQ code/lookup-table CTEs as e9 — candidates are the
    // probed lists only, ADC arithmetic unchanged.
    Sql(s"""WITH $pqCodeCtes,
       |coarse AS (SELECT vec_id AS centroid_id, embedding AS cvec
       |           FROM embeddings ORDER BY vec_id ASC LIMIT 16),
       |lassign AS (SELECT e.vec_id AS neighbor_id, c.centroid_id,
       |              ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |                ORDER BY ${dotSql("e.embedding", "c.cvec")}
       |                  / (sqrt(${dotSql("e.embedding", "e.embedding")})
       |                     * sqrt(${dotSql("c.cvec", "c.cvec")})) DESC,
       |                c.centroid_id ASC) AS rn
       |            FROM embeddings e CROSS JOIN coarse c),
       |lists AS (SELECT neighbor_id, centroid_id FROM lassign WHERE rn = 1),
       |qprobe AS (SELECT query_id, centroid_id FROM (
       |             SELECT q.vec_id AS query_id, c.centroid_id,
       |               ROW_NUMBER() OVER (PARTITION BY q.vec_id
       |                 ORDER BY ${dotSql("q.embedding", "c.cvec")}
       |                   / (sqrt(${dotSql("q.embedding", "q.embedding")})
       |                      * sqrt(${dotSql("c.cvec", "c.cvec")})) DESC,
       |                 c.centroid_id ASC) AS rn
       |             FROM embeddings q CROSS JOIN coarse c WHERE q.vec_id < 8)
       |           WHERE rn <= 4),
       |cand AS (SELECT p.query_id, l.neighbor_id
       |         FROM lists l JOIN qprobe p USING (centroid_id)
       |         WHERE p.query_id <> l.neighbor_id),
       |sc AS (SELECT cand.query_id, cand.neighbor_id,
       |         CAST(SUM(qt.qd) AS BIGINT) AS adist
       |       FROM cand
       |       JOIN codes ON cand.neighbor_id = codes.neighbor_id
       |       JOIN qt ON qt.query_id = cand.query_id
       |              AND qt.j = codes.j AND qt.cid = codes.code
       |       GROUP BY 1, 2),
       |r AS (SELECT query_id, neighbor_id, adist,
       |        CAST(ROW_NUMBER() OVER (PARTITION BY query_id
       |          ORDER BY adist ASC, neighbor_id ASC) AS INT) AS rnk FROM sc)
       |SELECT query_id, neighbor_id, adist, rnk FROM r WHERE rnk <= 5""".stripMargin))

  val gates: Seq[Gate] = Seq(
    // ---- embedding similarity ----
    Gate("e1_cosine_topk", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.bruteForceTopK(
        emb.filter(col("vec_id") < 8), emb, "vec_id", "embedding", 5)
    },
      Sql(s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 8),
         |c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
         |s AS (SELECT query_id, neighbor_id,
         |        ${dotSql("qv", "cv")} / (sqrt(${dotSql("qv", "qv")}) * sqrt(${dotSql("cv", "cv")})) AS simd
         |      FROM c CROSS JOIN q
         |      WHERE query_id <> neighbor_id),
         |r AS (SELECT query_id, neighbor_id, simd AS sim,
         |        CAST(ROW_NUMBER() OVER (PARTITION BY query_id
         |             ORDER BY simd DESC, neighbor_id ASC) AS INT) AS rnk
         |      FROM s)
         |SELECT query_id, neighbor_id, sim, rnk
         |FROM r WHERE rnk <= 5""".stripMargin)),

    Gate("e2_ann_lsh", (s, dir) => {
      val emb = Tables.embeddings(s, dir).select(col("vec_id"), col("embedding"))
      val planted = emb.unionByName(emb.filter(col("vec_id") % 10 === 0)
        .select(cloneId(col("vec_id")).as("vec_id"), col("embedding")))
      Similarity.lshNearDups(planted, "vec_id", "embedding",
        nPlanes = 8, threshold = 0.95)
    },
      Sql(e2OracleSql)),

    // ---- IVF ANN (scale path beside LSH) ----
    Gate("e3_ann_ivf", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.ivfTopK(emb, emb.filter(col("vec_id") < 8),
        "vec_id", "embedding", k = 5, nCentroids = 16, nProbe = 4)
    },
      Sql(e3OracleSql)),

    e10,

    e12,

    // ---- product quantization ANN (the compressed-codes serving
    // layout: vectors become m subspace codes; queries score via an
    // ADC lookup table — scale analysis and the fixed-point BIGINT
    // distance discipline in Similarity.pqTopK's scaladoc) ----
    Gate("e9_pq", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.pqTopK(emb, emb.filter(col("vec_id") < 8),
        "vec_id", "embedding", k = 5)
    },
      // PQ/ADC: identical subspace slicing, fixed-point BIGINT
      // distances (l2Fixed's 10-bit quantization), argmin tiebreak cid
      // asc, and the same top-k order — every number is integer-exact.
      Sql(s"""WITH $pqCodeCtes,
         |sc AS (SELECT qt.query_id, codes.neighbor_id,
         |         CAST(SUM(qt.qd) AS BIGINT) AS adist
         |       FROM codes JOIN qt ON codes.j = qt.j AND codes.code = qt.cid
         |       WHERE qt.query_id <> codes.neighbor_id
         |       GROUP BY 1, 2),
         |r AS (SELECT query_id, neighbor_id, adist,
         |        CAST(ROW_NUMBER() OVER (PARTITION BY query_id
         |          ORDER BY adist ASC, neighbor_id ASC) AS INT) AS rnk FROM sc)
         |SELECT query_id, neighbor_id, adist, rnk FROM r WHERE rnk <= 5""".stripMargin)),

    e11,

    // ---- persisted-index IVFPQ / IVFADC serving (r10 verdict item
    // 1): the gated queries serve from a WRITTEN, centroid-
    // partitioned code store — coarse probes prune the code scan via
    // dynamic partition pruning (PLANS.md shows the dynamicpruning
    // subquery on centroid_id) — instead of rebuilding coarse
    // assignment, codebook, and codes inline on every run. Frozen
    // seeds + exact BIGINT ADC make served == inline bit-for-bit,
    // so e13/e14 share e11/e12's oracles; the store is built once
    // per (JVM, dir) by pqIndexDir. ----
    Gate("e13_ivfpq_served", (s, dir) =>
      Similarity.queryIvfPqIndex(s, pqIndexDir(s, dir, residual = false),
        Tables.embeddings(s, dir).filter(col("vec_id") < 8),
        "vec_id", "embedding", k = 5),
      // e13/e14 serve from the PERSISTED PQ index (buildIvfPqIndex);
      // frozen seeds + exact BIGINT ADC make the served results
      // bit-identical to the inline e11/e12 pipelines, so the served
      // entries share their oracles — that equality IS the gate.
      SameAs(e11)),

    Gate("e14_ivfadc_served", (s, dir) =>
      Similarity.queryIvfPqIndex(s, pqIndexDir(s, dir, residual = true),
        Tables.embeddings(s, dir).filter(col("vec_id") < 8),
        "vec_id", "embedding", k = 5, residual = true),
      // served from the persisted index, bit-identical to inline e12 (see e13)
      SameAs(e12)),

    // Int8 embedding quantization (min/max affine, the storage layout
    // for vectors at corpus scale): per-vector range stats + the
    // quantized-value checksum. Exact float min/max and correctly-
    // rounded double affine math — bit-identical cross-engine, no
    // epsilon. Explode + two hash aggs; partial-aggregable.
    Gate("e6_quantize", (s, dir) => {
      val e = Tables.embeddings(s, dir)
        .select(col("vec_id"), explode(col("embedding")).as("x"))
      val stats = e.groupBy(col("vec_id")).agg(
        min(col("x")).as("mn"), max(col("x")).as("mx"),
        count(lit(1)).cast("int").as("n_dims"))
      val scale = (col("mx").cast("double") - col("mn").cast("double")) / 255.0
      e.join(stats, "vec_id")
        .select(col("vec_id"), col("n_dims"),
          col("mn").cast("double").as("mn"), col("mx").cast("double").as("mx"),
          when(col("mx") > col("mn"),
            floor((col("x").cast("double") - col("mn").cast("double")) / scale
              + 0.5).cast("long"))
            .otherwise(0L).as("qi"))
        .groupBy(col("vec_id"), col("n_dims"), col("mn"), col("mx"))
        .agg(sum(col("qi")).cast("bigint").as("checksum"))
    },
      Sql("""WITH e AS (SELECT vec_id, unnest(embedding) AS x FROM embeddings),
        |s AS (SELECT vec_id, MIN(x) AS mn, MAX(x) AS mx,
        |             CAST(COUNT(*) AS INT) AS n_dims FROM e GROUP BY 1),
        |q AS (SELECT e.vec_id, s.n_dims,
        |        CAST(s.mn AS DOUBLE) AS mn, CAST(s.mx AS DOUBLE) AS mx,
        |        CASE WHEN s.mx > s.mn THEN
        |          CAST(floor((CAST(e.x AS DOUBLE) - CAST(s.mn AS DOUBLE))
        |            / ((CAST(s.mx AS DOUBLE) - CAST(s.mn AS DOUBLE)) / 255.0)
        |            + 0.5) AS BIGINT)
        |        ELSE 0 END AS qi
        |      FROM e JOIN s USING (vec_id))
        |SELECT vec_id, n_dims, mn, mx, CAST(SUM(qi) AS BIGINT) AS checksum
        |FROM q GROUP BY 1, 2, 3, 4""".stripMargin)),

    // ANN quality measured, not asserted (r3 VERDICT item 6): recall@5
    // of the IVF path against brute-force ground truth, per query.
    // Deterministic (seed centroids + total-order ranking), so the
    // recall numbers themselves are oracle-gated.
    Gate("e5_recall", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val q = emb.filter(col("vec_id") < 8)
      val truth = Similarity.bruteForceTopK(q, emb, "vec_id", "embedding", 5)
      val approx = Similarity.ivfTopK(emb, q, "vec_id", "embedding",
        k = 5, nCentroids = 16, nProbe = 4)
      Similarity.recallAtK(truth, approx, 5)
    },
      Sql(e5OracleSql)),

    // Mutual k-NN graph over a sampled vector set (the clustering
    // input for embedding dedup: mutual edges + components = tight
    // clusters). Sample side is contract-bounded like e1's queries;
    // the corpus-scale candidate generation is the bucketed twin
    // benchmarked as x2_knn_bucketed.
    Gate("e7_knn_graph", (s, dir) =>
      Similarity.knnGraph(
        Tables.embeddings(s, dir).filter(col("vec_id") % 10 === 0),
        "vec_id", "embedding", k = 4),
      Sql(s"""WITH v AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 10 = 0),
         |s AS (SELECT a.vec_id AS src_id, b.vec_id AS dst_id,
         |        a.embedding AS av, b.embedding AS bv
         |      FROM v a CROSS JOIN v b WHERE a.vec_id <> b.vec_id),
         |sc AS (SELECT src_id, dst_id,
         |        ${dotSql("av", "bv")} / (sqrt(${dotSql("av", "av")}) * sqrt(${dotSql("bv", "bv")})) AS simd
         |       FROM s),
         |r AS (SELECT src_id, dst_id, simd AS sim,
         |        CAST(ROW_NUMBER() OVER (PARTITION BY src_id
         |             ORDER BY simd DESC, dst_id ASC) AS INT) AS rnk
         |      FROM sc),
         |e AS (SELECT * FROM r WHERE rnk <= 4)
         |SELECT e.src_id, e.dst_id, e.sim, e.rnk,
         |       (m.src_id IS NOT NULL) AS mutual
         |FROM e LEFT JOIN e m ON e.src_id = m.dst_id AND e.dst_id = m.src_id""".stripMargin)),

    // Recall of the banded-LSH k-NN twin against the exact e7 graph,
    // GATED (r6 verdict item 5 — the bucketed twin was bench-only
    // with a spec-level recall check; this makes the recall numbers
    // oracle-exact and the floor an in-plan assertion, the e5/q67
    // discipline). Same contract-bounded sample as e7: recall
    // MEASUREMENT needs the exact graph, which only exists on a
    // sample at corpus scale. Single-table LSH on these near-uniform
    // synthetic vectors keeps only ~1/2^planes of true neighbors
    // (measured 0.095 at 4 planes — chance level, by construction of
    // the fixture, not a bug), which is exactly why the corpus form
    // is MULTI-TABLE (knnGraphBanded): 4 independent 3-plane tables
    // union candidates. The one-row avg broadcast-joins back (t12's
    // total pattern — no single-partition window); the floor catches
    // recall collapse (broken slicing/union/dedup), not a tuning
    // constant.
    Gate("e8_bucketed_recall", (s, dir) => {
      val sample = Tables.embeddings(s, dir).filter(col("vec_id") % 10 === 0)
      val exact = Similarity.knnGraph(sample, "vec_id", "embedding", k = 4)
      val approx = Similarity.knnGraphBanded(sample, "vec_id", "embedding",
        k = 4, planesPerTable = 3, nTables = 4)
      val rec = Similarity.recallAtK(
        exact.select(col("src_id").as("query_id"),
          col("dst_id").as("neighbor_id")),
        approx.select(col("src_id").as("query_id"),
          col("dst_id").as("neighbor_id")), 4)
      val overall = rec.agg(avg(col("recall_at_4")).as("avg_recall"))
      Checks.gated(rec.crossJoin(broadcast(overall)), "knn_recall_floor",
        col("avg_recall") >= 0.3,
        concat(lit("avg recall@4="), col("avg_recall")))
        .select(col("query_id"), col("n_hits"), col("recall_at_4"))
    },
      Sql(e8OracleSql)),

    // ---- per-label embedding norm statistics ----
    Gate("e4_vector_stats", (s, dir) => {
      val withNorm = Tables.embeddings(s, dir)
        .select(col("label"), col("embedding"),
          sqrt(Similarity.dot(col("embedding"), col("embedding"))).as("norm"))
      withNorm.groupBy(col("label"))
        .agg(count(lit(1)).cast("bigint").as("n_vecs"),
          max(size(col("embedding"))).cast("int").as("dim"),
          min(col("norm")).as("min_norm"),
          max(col("norm")).as("max_norm"),
          // exact decimal sum, then DOUBLE division — rounding the
          // quotient to decimal diverges cross-engine on exact halves
          (sum(col("norm").cast("decimal(20,8)")).cast("double")
            / count(lit(1)).cast("double")).as("avg_norm"))
    },
      Sql(s"""WITH n AS (SELECT label, len(embedding) AS dim,
         |                  sqrt(${dotSql("embedding", "embedding")}) AS norm
         |           FROM embeddings)
         |SELECT label, CAST(COUNT(*) AS BIGINT) AS n_vecs,
         |       CAST(MAX(dim) AS INT) AS dim,
         |       MIN(norm) AS min_norm, MAX(norm) AS max_norm,
         |       CAST(SUM(CAST(norm AS DECIMAL(20,8))) AS DOUBLE)
         |         / CAST(COUNT(*) AS DOUBLE) AS avg_norm
         |FROM n GROUP BY 1""".stripMargin)),

    // e7's corpus-scale twin at FULL table width: the banded form e8
    // gates on the sample (recall oracle-exact there), timed here over
    // every vector — same params, so the benched plan is exactly the
    // gated operator.
    Gate("x2_knn_bucketed", (s, dir) =>
      Similarity.knnGraphBanded(Tables.embeddings(s, dir),
        "vec_id", "embedding", k = 4, planesPerTable = 3, nTables = 4))
  )
}
