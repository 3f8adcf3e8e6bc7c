package graft.catalog

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{PerJvm, Tables}
import graft.functions.Enrich
import graft.functions.TextFunctions._
import graft.operators._
import Fixtures._

/** c-gates: corpus pipelines — clean, prep, training-corpus assembly and
  * boilerplate removal. */
object CorpusGates {

  /** The c5 fixture: [[corpusPara]] plus a ticker line planted on
    * every 20th doc (clone ids are ≡ base ids mod 20, so clones
    * carry it consistently). With minDocs = nDocs/25, the ticker
    * crosses the threshold ~76% through the base id range at every
    * sf — inside c5's fold 1 — forcing the re-emission path. */
  private[catalog] def corpusTicker(s: SparkSession, dir: String): DataFrame =
    corpusPara(s, dir).select(col("doc_id"),
      when(pmod(col("doc_id"), lit(20)) === 0,
        concat(col("text"),
          lit("\nbreaking news ticker updates every minute")))
        .otherwise(col("text")).as("text"))

  // Gates whose oracle others share (`SameAs`).

  // ---- incremental boilerplate ingest (c5): the first ingest
  // family whose predicate is RETROACTIVE — a line crossing the
  // threshold in a later batch invalidates earlier cleaned
  // output. The store answers with a changelog: each fold emits
  // its batch cleaned under the updated dictionary PLUS
  // re-emissions of the stored docs the crossing invalidated
  // (read back id-pruned from the doc store), and latest-emission
  // -per-doc across build+folds equals the full c4-style
  // recompute BIT-EXACT — that equality is this gate. The
  // fixture plants a ticker line on every 20th doc with
  // minDocs = nDocs/25, so the crossing lands mid-fold-1 at
  // EVERY sf (both scale linearly) and the build's ticker docs
  // must be re-emitted. Pair store holds only sub-threshold
  // lines (< minDocs rows per line — crossed lines never rejoin
  // the candidate path), so fold reads are batch-bounded, never
  // corpus-sized. The store is vacuumed AND compacted between
  // folds; the gate proves maintenance preserves exactness.
  val c5: Gate = Gate("c5_boilerplate_ingest", (s, dir) => {
    val all = corpusTicker(s, dir)
    val base = Tables.documents(s, dir)
    // one agg job for both gate parameters, not two
    val baseStats = base.agg(count(lit(1)).cast("long"),
      max(col("doc_id")).cast("long")).head()
    val m = baseStats.getLong(0) / 25
    val maxBase = baseStats.getLong(1)
    val (cut1, cut2) = (maxBase / 2, maxBase * 9 / 10)
    val tmp = PerJvm.tempDir("c5_boiler")
    val (store, out) = (s"$tmp/state", s"$tmp/out")
    // 16 buckets: fixture-scale (the default 64 is a corpus-scale
    // layout; maintenance cost is per-partition jobs)
    // phase descriptions: `QueryProfile c5_boilerplate_ingest`
    // attributes per-job cost to build / fold / maintenance
    // (thread-local, queries here run sequentially)
    def desc[A](d: String)(body: => A): A = graft.Phase(s, s"c5: $d")(body)
    val e0 = desc("build") { Boilerplate.buildStore(
      all.filter(col("doc_id") <= cut1), "doc_id", "text", m, store,
      nBuckets = 16, nDocBuckets = 16) }
    desc("fold1") { Boilerplate.fold(s, store, out,
      all.filter(col("doc_id") > cut1 && col("doc_id") <= cut2), 1L,
      "doc_id", "text", m, nBuckets = 16, nDocBuckets = 16) }
    // maintenance mid-gate: vacuum (drop the fold-1 crossing's
    // dead rows, collapse count deltas) + compact — fold 2 then
    // runs over the vacuumed+compacted store, so this oracle
    // proves maintenance preserves exactness
    desc("vacuum") { Boilerplate.vacuumStore(s, store) }
    // independent sub-stores compact concurrently (the vacuum just
    // left pairs/counts at one file per partition, so those two
    // are listing-only)
    desc("compact") { graft.operators.Par.run(Seq(
      () => { StoreCompaction.compactStore(s, s"$store/pairs"); () },
      () => { StoreCompaction.compactStore(s, s"$store/counts"); () },
      () => { StoreCompaction.compactStore(s, s"$store/docs"); () })) }
    desc("fold2") { Boilerplate.fold(s, store, out,
      all.filter(col("doc_id") > cut2), 2L, "doc_id", "text", m,
      nBuckets = 16, nDocBuckets = 16) }
    // the build's emission is seq 0, each fold's changelog carries its
    // batch id; latest-seq-per-doc resolves them as s16 does. The
    // changelog is read back with the build's schema (no inference job)
    val seeded = e0.withColumn("seq", lit(0L))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("seq").desc)
    seeded.unionByName(s.read.schema(seeded.schema).parquet(out))
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("doc_id"), col("clean_text"), col("n_removed"))
  },
    // c5: the full recompute over the ticker corpus with
    // minDocs = nDocs/25 — the incremental store's latest-wins
    // changelog must equal this bit-exactly (including re-emitted
    // docs whose lines crossed the threshold after they shipped).
    Sql(s"""WITH $corpusParaSql,
       |tick AS (SELECT doc_id,
       |  CASE WHEN doc_id % 20 = 0
       |       THEN text || chr(10) ||
       |            'breaking news ticker updates every minute'
       |       ELSE text END AS text FROM corpus),
       |t AS (SELECT doc_id, string_split(text, chr(10)) AS parts FROM tick),
       |p AS (SELECT doc_id, unnest(range(len(parts))) AS pos FROM t),
       |l AS (SELECT p.doc_id, p.pos, t.parts[p.pos + 1] AS line
       |      FROM p JOIN t USING (doc_id)),
       |cm AS (SELECT line FROM (SELECT line, COUNT(DISTINCT doc_id) AS nd
       |                         FROM l GROUP BY 1)
       |       WHERE nd >= (SELECT COUNT(*) // 25 FROM documents)),
       |m AS (SELECT l.doc_id, l.pos, l.line, cm.line IS NOT NULL AS is_common
       |      FROM l LEFT JOIN cm ON l.line = cm.line)
       |SELECT doc_id,
       |  coalesce(string_agg(line, chr(10) ORDER BY pos)
       |             FILTER (WHERE NOT is_common), '') AS clean_text,
       |  CAST(COUNT(*) FILTER (WHERE is_common) AS BIGINT) AS n_removed
       |FROM m GROUP BY 1""".stripMargin))

  val gates: Seq[Gate] = Seq(
    // ---- end-to-end corpus prep: quality -> langid -> dedup -> split ----
    // the full training-set construction pass as ONE declarative plan:
    // every stage pipelines inside the same job, no intermediate
    // materialization
    Gate("c2_corpus_prep", (s, dir) => {
      val docs = corpusExact(s, dir)
      val scored = docs.select(col("doc_id"), col("text"),
        graft.functions.ColUtil.bindOnce(tokens(col("text"))) { toks =>
          struct(size(toks).cast("long").as("ntok"),
            qualityScoreFromTokens(toks).as("q"),
            langId(toks).as("lang"))
        }.as("s"))
        .select(col("doc_id"), col("text"), col("s.ntok").as("ntok"),
          col("s.q").as("q"), col("s.lang").as("lang"))
      val kept = scored.filter(col("q") >= 0.2 && col("lang") === "en")
      val w = Window.partitionBy(col("content_hash"))
        .orderBy(col("doc_id").asc)
      val canon = kept.withColumn("content_hash", md5(col("text")))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
      canon
        .withColumn("split",
          when(hash32(col("doc_id").cast("string"), 2) % 10 < 9, "train")
            .otherwise("holdout"))
        // quality is now a double: quantize by FLOOR (no rounding
        // ambiguity) to an exact integer before summing, so the
        // aggregate stays partition-order independent
        .withColumn("qs", floor(col("q") * 100000000L).cast("long"))
        .groupBy(col("split"))
        .agg(count(lit(1)).cast("bigint").as("n_docs"),
          sum(col("ntok")).cast("bigint").as("n_tokens"),
          (sum(col("qs")).cast("double") / count(lit(1)).cast("double")
            / lit(100000000.0)).as("avg_quality"))
    },
      Sql(s"""WITH corpus AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 5 = 0),
         |t AS (SELECT doc_id, text, $toksSql AS toks FROM corpus),
         |c AS (SELECT doc_id, text, len(toks) AS ntok,
         |  len(list_filter(toks, x -> x IN ('the','a','of','and','to','in','is','that','it','for'))) AS c_en,
         |  len(list_filter(toks, x -> x IN ('el','la','de','y','que','en','un','una','los','por'))) AS c_es,
         |  len(list_filter(toks, x -> x IN ('der','die','das','und','ist','von','mit','den','ein','zu'))) AS c_de,
         |  len(list_filter(toks, x -> x IN ('le','la','les','de','et','un','une','est','que','pour'))) AS c_fr
         |  FROM t),
         |scored AS (SELECT doc_id, text, ntok,
         |  (CAST(LEAST(ntok, 200) AS DOUBLE) / 200.0
         |   + LEAST(CASE WHEN ntok > 0 THEN CAST(c_en AS DOUBLE) / CAST(ntok AS DOUBLE)
         |                ELSE 0.0 END, 0.5) * 2.0) / 2.0 AS q,
         |  CASE WHEN greatest(c_en,c_es,c_de,c_fr) = 0 THEN 'und'
         |       WHEN c_en = greatest(c_en,c_es,c_de,c_fr) THEN 'en'
         |       WHEN c_es = greatest(c_en,c_es,c_de,c_fr) THEN 'es'
         |       WHEN c_de = greatest(c_en,c_es,c_de,c_fr) THEN 'de'
         |       ELSE 'fr' END AS lang
         |  FROM c),
         |kept AS (SELECT * FROM scored WHERE q >= 0.2 AND lang = 'en'),
         |canon AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY md5(text)
         |                    ORDER BY doc_id ASC) AS rn FROM kept)
         |SELECT CASE WHEN ${hash32Sql(2, "CAST(doc_id AS VARCHAR)")} % 10 < 9
         |            THEN 'train' ELSE 'holdout' END AS split,
         |       CAST(COUNT(*) AS BIGINT) AS n_docs,
         |       CAST(SUM(ntok) AS BIGINT) AS n_tokens,
         |       CAST(SUM(CAST(floor(q * 100000000) AS BIGINT)) AS DOUBLE)
         |         / CAST(COUNT(*) AS DOUBLE) / 100000000.0 AS avg_quality
         |FROM canon WHERE rn = 1
         |GROUP BY 1""".stripMargin)),

    // Full curation funnel capstone: score -> filter (quality, lang,
    // repetition) -> exact dedup -> domain cap -> per-domain
    // accounting of what actually ships in the training set. One
    // linear pipeline over a scan with planted dups (source column
    // carried for domain attribution).
    // Scale: the repetition signal is a doc-keyed explode/agg/join
    // (uniform key, partial-aggregable); BOTH row_number windows keep
    // only rn=1 / rn<=50 with no other window aggregate, so Spark
    // pushes a partial WindowGroupLimit below each exchange — mapper
    // output is capped pre-shuffle and a mega-duplicate content hash
    // or mega-domain cannot straggle (the q66/d7 discipline; contrast
    // c1, which pays the full window because it also needs n_copies).
    Gate("c3_training_corpus", (s, dir) => {
      val d0 = Tables.documents(s, dir)
        .select(col("doc_id"), col("text"), col("source"))
      val docs = d0.unionByName(d0.filter(col("doc_id") % 5 === 0)
        .select(cloneId(col("doc_id")).as("doc_id"), col("text"),
          col("source")))
      val scored = docs.select(col("doc_id"), col("text"), col("source"),
        graft.functions.ColUtil.bindOnce(tokens(col("text"))) { toks =>
          struct(size(toks).cast("long").as("ntok"),
            qualityScoreFromTokens(toks).as("q"),
            langId(toks).as("lang"))
        }.as("s"))
        .select(col("doc_id"), col("text"), col("source"),
          col("s.ntok").as("ntok"), col("s.q").as("q"),
          col("s.lang").as("lang"))
      // t7's top-token fraction; zero-token docs drop at the inner
      // join, which is the same fate the quality filter deals them
      val rep = docs.select(col("doc_id"),
        explode(tokens(col("text"))).as("tok"))
        .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("c"))
        .groupBy(col("doc_id"))
        .agg((max(col("c")).cast("double") /
          sum(col("c")).cast("double")).as("top_frac"))
      val kept = scored.join(rep, "doc_id")
        .filter(col("lang") === "en" && col("q") >= 0.2 &&
          col("top_frac") <= 0.3)
      val wDedup = Window.partitionBy(md5(col("text")))
        .orderBy(col("doc_id").asc)
      val wCap = Window.partitionBy(col("domain"))
        .orderBy(hash32(col("doc_id").cast("string"), 7).asc,
          col("doc_id").asc)
      kept.withColumn("rn", row_number().over(wDedup))
        .filter(col("rn") === 1)
        .withColumn("domain", Enrich.domainOf(col("source")))
        .withColumn("rn2", row_number().over(wCap))
        .filter(col("rn2") <= 50)
        .groupBy(col("domain"))
        .agg(count(lit(1)).cast("bigint").as("n_docs"),
          sum(col("ntok")).cast("bigint").as("n_tokens"),
          (sum(floor(col("q") * 100000000L).cast("long")).cast("double") /
            count(lit(1)).cast("double") / 100000000.0).as("avg_quality"),
          min(col("doc_id")).as("min_doc"))
    },
      Sql(s"""WITH corpus AS (
         |  SELECT doc_id, text, source FROM documents
         |  UNION ALL
         |  SELECT doc_id + 1000000, text, source FROM documents WHERE doc_id % 5 = 0),
         |t AS (SELECT doc_id, text, source, $toksSql AS toks FROM corpus),
         |c AS (SELECT doc_id, text, source, len(toks) AS ntok,
         |  len(list_filter(toks, x -> x IN ('the','a','of','and','to','in','is','that','it','for'))) AS c_en,
         |  len(list_filter(toks, x -> x IN ('el','la','de','y','que','en','un','una','los','por'))) AS c_es,
         |  len(list_filter(toks, x -> x IN ('der','die','das','und','ist','von','mit','den','ein','zu'))) AS c_de,
         |  len(list_filter(toks, x -> x IN ('le','la','les','de','et','un','une','est','que','pour'))) AS c_fr
         |  FROM t),
         |scored AS (SELECT doc_id, text, source, ntok,
         |  (CAST(LEAST(ntok, 200) AS DOUBLE) / 200.0
         |   + LEAST(CASE WHEN ntok > 0 THEN CAST(c_en AS DOUBLE) / CAST(ntok AS DOUBLE)
         |                ELSE 0.0 END, 0.5) * 2.0) / 2.0 AS q,
         |  CASE WHEN greatest(c_en,c_es,c_de,c_fr) = 0 THEN 'und'
         |       WHEN c_en = greatest(c_en,c_es,c_de,c_fr) THEN 'en'
         |       WHEN c_es = greatest(c_en,c_es,c_de,c_fr) THEN 'es'
         |       WHEN c_de = greatest(c_en,c_es,c_de,c_fr) THEN 'de'
         |       ELSE 'fr' END AS lang
         |  FROM c),
         |rep AS (SELECT doc_id, CAST(MAX(cnt) AS DOUBLE) / CAST(SUM(cnt) AS DOUBLE) AS top_frac
         |        FROM (SELECT doc_id, tok, COUNT(*) AS cnt
         |              FROM (SELECT doc_id, unnest(toks) AS tok FROM t)
         |              GROUP BY 1, 2) GROUP BY 1),
         |kept AS (SELECT s.*, r.top_frac FROM scored s JOIN rep r USING (doc_id)
         |         WHERE s.lang = 'en' AND s.q >= 0.2 AND r.top_frac <= 0.3),
         |dd AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY md5(text)
         |                   ORDER BY doc_id ASC) AS rn FROM kept),
         |dom AS (SELECT *,
         |    CASE WHEN source IS NULL OR source = '' THEN '(no_domain)'
         |         ELSE lower(split_part(replace(replace(source,'https://',''),'http://',''),'/',1))
         |    END AS domain
         |  FROM dd WHERE rn = 1),
         |cap AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY domain
         |          ORDER BY ${hash32Sql(7, "CAST(doc_id AS VARCHAR)")} ASC, doc_id ASC) AS rn2
         |        FROM dom)
         |SELECT domain, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |       CAST(SUM(ntok) AS BIGINT) AS n_tokens,
         |       CAST(SUM(CAST(floor(q * 100000000) AS BIGINT)) AS DOUBLE)
         |         / CAST(COUNT(*) AS DOUBLE) / 100000000.0 AS avg_quality,
         |       MIN(doc_id) AS min_doc
         |FROM cap WHERE rn2 <= 50 GROUP BY 1""".stripMargin)),

    // ---- CCNet-style cross-document boilerplate line removal (c4;
    // operators/Boilerplate.scala): a line appearing in ≥10 DISTINCT
    // docs is cut from EVERY doc (the corpusPara fixture plants
    // cookie-banner/subscribe-footer lines in 1/4 and 1/3 of docs;
    // organic body lines recur only via whole-doc clones, 2 < 10).
    // Distinct from d11: paragraph dedup KEEPS first occurrence;
    // boilerplate is removed everywhere. Broadcast dictionary — one
    // corpus shuffle on the line key, one on doc_id to reassemble.
    Gate("c4_boilerplate_lines", (s, dir) =>
      Boilerplate.removeCommonLines(corpusPara(s, dir), "doc_id", "text",
        minDocs = 10),
      // c4: cross-doc boilerplate removal — common-line dictionary
      // (≥10 distinct docs) mark-joined back, survivors re-joined in
      // position order (the d25 ordered-FILTERed-string_agg pattern).
      Sql(s"""WITH $corpusParaSql,
         |t AS (SELECT doc_id, string_split(text, chr(10)) AS parts FROM corpus),
         |p AS (SELECT doc_id, unnest(range(len(parts))) AS pos FROM t),
         |l AS (SELECT p.doc_id, p.pos, t.parts[p.pos + 1] AS line
         |      FROM p JOIN t USING (doc_id)),
         |cm AS (SELECT line FROM (SELECT line, COUNT(DISTINCT doc_id) AS nd
         |                         FROM l GROUP BY 1) WHERE nd >= 10),
         |m AS (SELECT l.doc_id, l.pos, l.line, cm.line IS NOT NULL AS is_common
         |      FROM l LEFT JOIN cm ON l.line = cm.line)
         |SELECT doc_id,
         |  coalesce(string_agg(line, chr(10) ORDER BY pos)
         |             FILTER (WHERE NOT is_common), '') AS clean_text,
         |  CAST(COUNT(*) FILTER (WHERE is_common) AS BIGINT) AS n_removed
         |FROM m GROUP BY 1""".stripMargin)),

    c5,

    // ---- composite corpus cleaning (quality -> langid -> exact dedup) ----
    Gate("c1_clean_corpus", (s, dir) => {
      val docs = corpusExact(s, dir) // includes planted exact dups
      // let-bind the token array: quality + langid share one tokenizer
      // run even after filter pushdown substitutes the projection
      val scored = docs.select(col("doc_id"), col("text"),
        graft.functions.ColUtil.bindOnce(tokens(col("text"))) { toks =>
          struct(qualityScoreFromTokens(toks).as("quality"),
            langId(toks).as("lang_pred"))
        }.as("s"))
        .select(col("doc_id"), col("text"),
          col("s.quality").as("quality"), col("s.lang_pred").as("lang_pred"))
      val kept = scored
        .filter(col("quality") >= 0.2 && col("lang_pred") === "en")
      // single-pass dedup: rank + count over one content_hash window
      // instead of groupBy + join-back — the join form evaluates the
      // whole tokenizer/score subtree TWICE (no common-subplan reuse
      // across join branches), measured 1.26 s vs 0.6 s at sf0.1
      val w = Window.partitionBy(col("content_hash"))
      kept.withColumn("content_hash", md5(col("text")))
        .withColumn("rn", row_number().over(w.orderBy(col("doc_id").asc)))
        .withColumn("n_copies", count(lit(1)).over(w).cast("bigint"))
        .filter(col("rn") === 1)
        .select(col("doc_id"), col("content_hash"), col("n_copies"),
          col("quality").cast("double").as("quality"))
    },
      Sql(s"""WITH corpus AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 5 = 0),
         |t AS (SELECT doc_id, text, $toksSql AS toks FROM corpus),
         |c AS (SELECT doc_id, text, len(toks) AS n,
         |  len(list_filter(toks, x -> x IN ('the','a','of','and','to','in','is','that','it','for'))) AS stop_hits,
         |  len(list_filter(toks, x -> x IN ('el','la','de','y','que','en','un','una','los','por'))) AS c_es,
         |  len(list_filter(toks, x -> x IN ('der','die','das','und','ist','von','mit','den','ein','zu'))) AS c_de,
         |  len(list_filter(toks, x -> x IN ('le','la','les','de','et','un','une','est','que','pour'))) AS c_fr
         |  FROM t),
         |scored AS (SELECT doc_id, text,
         |  (CAST(LEAST(n, 200) AS DOUBLE) / 200.0
         |   + LEAST(CASE WHEN n > 0 THEN CAST(stop_hits AS DOUBLE) / CAST(n AS DOUBLE)
         |                ELSE 0.0 END, 0.5) * 2.0) / 2.0 AS quality,
         |  CASE WHEN greatest(stop_hits,c_es,c_de,c_fr) = 0 THEN 'und'
         |       WHEN stop_hits = greatest(stop_hits,c_es,c_de,c_fr) THEN 'en'
         |       WHEN c_es = greatest(stop_hits,c_es,c_de,c_fr) THEN 'es'
         |       WHEN c_de = greatest(stop_hits,c_es,c_de,c_fr) THEN 'de'
         |       ELSE 'fr' END AS lang_pred
         |  FROM c),
         |kept AS (SELECT * FROM scored WHERE quality >= 0.2 AND lang_pred = 'en'),
         |dedup AS (SELECT MIN(doc_id) AS doc_id, md5(text) AS content_hash,
         |                 CAST(COUNT(*) AS BIGINT) AS n_copies
         |          FROM kept GROUP BY md5(text))
         |SELECT d.doc_id, d.content_hash, d.n_copies,
         |       k.quality AS quality
         |FROM dedup d JOIN kept k ON d.doc_id = k.doc_id""".stripMargin))
  )
}
