package graft.catalog

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.TextFunctions._
import graft.operators._
import Fixtures._

/** t-gates: text analysis — token statistics, quality and language id,
  * repetition, redaction, TF-IDF, vocabularies, LM scores and BPE. */
object TextGates {

  /** 96 consecutive BMP CJK ideographs (U+4E00…U+4E5F) — the t18
    * non-ASCII BPE alphabet, generated (not a literal) so the Spark
    * gate and the DuckDB oracle embed the identical string. BMP-only
    * keeps UTF-16, codepoint, and UTF-8-byte orderings in agreement,
    * which is what pins the trainer's lhs/rhs tie-break cross-engine. */
  private val cjkAlpha: String =
    (0x4E00 until 0x4E60).map(_.toChar).mkString

  val gates: Seq[Gate] = Seq(
    // ---- text analysis ----
    Gate("t1_token_stats", (s, dir) =>
      Tables.documents(s, dir).select(
        col("doc_id"),
        tokenCount(col("text")).as("n_tokens"),
        bpeTokenCount(col("text")).as("n_bpe")),
      Sql(s"""SELECT doc_id,
         |  CAST(len($toksSql) AS INT) AS n_tokens,
         |  CAST(len(regexp_extract_all(lower(text), ' ?[a-z]+| ?[0-9]+| ?[^a-z0-9 ]+')) AS INT) AS n_bpe
         |FROM documents""".stripMargin)),

    Gate("t2_quality", (s, dir) =>
      Tables.documents(s, dir).select(
        col("doc_id"),
        graft.functions.ColUtil.bindOnce(tokens(col("text"))) { toks =>
          graft.functions.ColUtil.bindOnce(
            struct(size(toks).cast("int").as("n"),
              hitCount(toks, stopwords("en")).as("s"))) { c =>
            struct(
              c.getField("n").as("n_tokens"),
              c.getField("s").as("stop_hits"),
              qualityScoreFromCounts(c.getField("n").cast("long"),
                c.getField("s").cast("long")).as("quality"))
          }
        }.as("q"))
        .select(col("doc_id"), col("q.n_tokens").as("n_tokens"),
          col("q.stop_hits").as("stop_hits"),
          col("q.quality").cast("double").as("quality")),
      Sql(s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |c AS (SELECT doc_id, len(toks) AS n,
         |  len(list_filter(toks, x -> x IN ('the','a','of','and','to','in','is','that','it','for'))) AS stop_hits
         |  FROM t)
         |SELECT doc_id, CAST(n AS INT) AS n_tokens, CAST(stop_hits AS INT) AS stop_hits,
         |  (CAST(LEAST(n, 200) AS DOUBLE) / 200.0
         |   + LEAST(CASE WHEN n > 0 THEN CAST(stop_hits AS DOUBLE) / CAST(n AS DOUBLE)
         |                ELSE 0.0 END, 0.5) * 2.0) / 2.0 AS quality
         |FROM c""".stripMargin)),

    Gate("t3_langid", (s, dir) =>
      Tables.documents(s, dir).select(
        col("doc_id"),
        graft.functions.ColUtil.bindOnce(tokens(col("text")))(langId)
          .as("lang_pred")),
      Sql(s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |c AS (SELECT doc_id,
         |  len(list_filter(toks, x -> x IN ('the','a','of','and','to','in','is','that','it','for'))) AS c_en,
         |  len(list_filter(toks, x -> x IN ('el','la','de','y','que','en','un','una','los','por'))) AS c_es,
         |  len(list_filter(toks, x -> x IN ('der','die','das','und','ist','von','mit','den','ein','zu'))) AS c_de,
         |  len(list_filter(toks, x -> x IN ('le','la','les','de','et','un','une','est','que','pour'))) AS c_fr
         |  FROM t)
         |SELECT doc_id,
         |  CASE WHEN greatest(c_en,c_es,c_de,c_fr) = 0 THEN 'und'
         |       WHEN c_en = greatest(c_en,c_es,c_de,c_fr) THEN 'en'
         |       WHEN c_es = greatest(c_en,c_es,c_de,c_fr) THEN 'es'
         |       WHEN c_de = greatest(c_en,c_es,c_de,c_fr) THEN 'de'
         |       ELSE 'fr' END AS lang_pred
         |FROM c""".stripMargin)),

    Gate("t4_fingerprint", (s, dir) =>
      Tables.documents(s, dir).select(
        col("doc_id"), fingerprint(col("text")).as("fp")),
      Sql(s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents)
         |SELECT doc_id,
         |  CAST(list_reduce(list_prepend(0, list_transform(toks, tk -> ${hash32Sql(0, "tk")})),
         |       (a, b) -> (a * 31 + b) % 1000000007) AS BIGINT) AS fp
         |FROM t""".stripMargin)),

    // Gopher/C4-style repetition signals: top-token fraction, distinct
    // ratio, top-bigram fraction — the cheap statistical filters that
    // catch boilerplate/spam before expensive dedup. Explode + two
    // hash aggregations; no windows, fully partial-aggregable, so the
    // plan is shuffle-on-doc_id at any corpus size. All fractions are
    // double quotients of exact counts (bit-identical cross-engine).
    Gate("t7_repetition", (s, dir) => {
      val toks = Tables.documents(s, dir).select(col("doc_id"),
        tokens(col("text")).as("toks"))
      val tokCounts = toks
        .select(col("doc_id"), explode(col("toks")).as("tok"))
        .groupBy(col("doc_id"), col("tok"))
        .agg(count(lit(1)).as("c"))
      val perDoc = tokCounts.groupBy(col("doc_id")).agg(
        sum(col("c")).cast("bigint").as("n_tokens"),
        max(col("c")).as("top_tok"),
        count(lit(1)).as("n_distinct"))
      val bgDoc = toks
        .select(col("doc_id"),
          explode(DedupSuite.shinglesFromTokens(col("toks"), 2)).as("bg"))
        .groupBy(col("doc_id"), col("bg"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col("doc_id"))
        .agg(sum(col("c")).as("nb"), max(col("c")).as("top_bg"))
      perDoc.join(bgDoc, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_tokens"),
          (col("top_tok").cast("double") / col("n_tokens").cast("double"))
            .as("top_token_frac"),
          (col("n_distinct").cast("double") / col("n_tokens").cast("double"))
            .as("distinct_frac"),
          coalesce(col("top_bg").cast("double") / col("nb").cast("double"),
            lit(0.0)).as("top_bigram_frac"))
    },
      Sql(s"""WITH tk AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |t AS (SELECT doc_id, unnest(toks) AS tok FROM tk),
         |tc AS (SELECT doc_id, tok, COUNT(*) AS c FROM t GROUP BY 1, 2),
         |pd AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
         |              MAX(c) AS top_tok, COUNT(*) AS n_distinct
         |       FROM tc GROUP BY 1),
         |bg AS (SELECT doc_id, unnest(list_transform(range(len(toks) - 1),
         |         i -> array_to_string(toks[i+1:i+2], ' '))) AS b FROM tk),
         |bc AS (SELECT doc_id, b, COUNT(*) AS c FROM bg GROUP BY 1, 2),
         |bd AS (SELECT doc_id, SUM(c) AS nb, MAX(c) AS top_bg FROM bc GROUP BY 1)
         |SELECT pd.doc_id, pd.n_tokens,
         |       CAST(pd.top_tok AS DOUBLE) / CAST(pd.n_tokens AS DOUBLE) AS top_token_frac,
         |       CAST(pd.n_distinct AS DOUBLE) / CAST(pd.n_tokens AS DOUBLE) AS distinct_frac,
         |       COALESCE(CAST(bd.top_bg AS DOUBLE) / CAST(bd.nb AS DOUBLE), 0.0) AS top_bigram_frac
         |FROM pd LEFT JOIN bd USING (doc_id)""".stripMargin)),

    // PII scrubbing (C4-style): count and redact email/phone shapes.
    // The fixture plants deterministic PII (no real data has any);
    // patterns stay in the RE2-compatible subset both engines share.
    Gate("t8_redact", (s, dir) => {
      val email = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
      val phone = "[0-9]{3}-[0-9]{4,6}"
      val withPii = Tables.documents(s, dir).select(col("doc_id"),
        concat(col("text"),
          when(col("doc_id") % 5 === 0,
            concat(lit(" contact user"), col("doc_id").cast("string"),
              lit("@example.com now"))).otherwise(lit("")),
          when(col("doc_id") % 7 === 0,
            concat(lit(" call 555-01"),
              lpad(pmod(col("doc_id"), lit(100)).cast("string"), 2, "0")))
            .otherwise(lit(""))).as("text"))
      withPii.select(col("doc_id"),
        regexp_count(col("text"), lit(email)).cast("int").as("n_emails"),
        regexp_count(col("text"), lit(phone)).cast("int").as("n_phones"),
        length(regexp_replace(regexp_replace(col("text"), email, "<EMAIL>"),
          phone, "<PHONE>")).cast("int").as("clean_len"))
    },
      Sql("""WITH p AS (
        |  SELECT doc_id, text ||
        |    CASE WHEN doc_id % 5 = 0 THEN ' contact user' || doc_id || '@example.com now' ELSE '' END ||
        |    CASE WHEN doc_id % 7 = 0 THEN ' call 555-01' || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0') ELSE '' END AS text
        |  FROM documents)
        |SELECT doc_id,
        |       CAST(len(regexp_extract_all(text, '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}')) AS INT) AS n_emails,
        |       CAST(len(regexp_extract_all(text, '[0-9]{3}-[0-9]{4,6}')) AS INT) AS n_phones,
        |       CAST(length(regexp_replace(regexp_replace(text,
        |         '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '<EMAIL>', 'g'),
        |         '[0-9]{3}-[0-9]{4,6}', '<PHONE>', 'g')) AS INT) AS clean_len
        |FROM p""".stripMargin)),

    // TF-IDF top terms per document. idf is the RAW ratio N/df rather
    // than log(N/df): log is monotone, so top-k ranking is identical,
    // and the ratio form stays bit-portable to the DuckDB oracle
    // (ln() is not guaranteed correctly-rounded across libm builds;
    // N/df double division + one IEEE multiply are).
    // Scale: tf shuffles on (doc, term) with map-side combine, df on
    // term; the tf⋈df join shuffles on term (the dictionary is NOT
    // broadcast-sized at 100 TB); N is one broadcast scalar row.
    Gate("t9_tfidf", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val tf = docs.select(col("doc_id"), explode(tokens(col("text"))).as("term"))
        .groupBy(col("doc_id"), col("term"))
        .agg(count(lit(1)).cast("bigint").as("tf"))
      val df_ = tf.groupBy(col("term"))
        .agg(count(lit(1)).cast("bigint").as("df"))
      val n = docs.agg(count(lit(1)).cast("bigint").as("n_docs"))
      val w = Window.partitionBy(col("doc_id"))
        .orderBy(col("score").desc, col("term").asc)
      tf.join(df_, "term").crossJoin(broadcast(n))
        .withColumn("score", col("tf").cast("double")
          * (col("n_docs").cast("double") / col("df").cast("double")))
        .withColumn("rnk", row_number().over(w).cast("int"))
        .filter(col("rnk") <= 3)
        .select(col("doc_id"), col("term"), col("tf"), col("df"),
          col("score"), col("rnk"))
    },
      Sql(s"""WITH tk AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |term AS (SELECT doc_id, unnest(toks) AS term FROM tk),
         |tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
         |       FROM term GROUP BY 1, 2),
         |df AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1),
         |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
         |s AS (SELECT doc_id, term, tf, df,
         |        CAST(tf AS DOUBLE) * (CAST(n_docs AS DOUBLE) / CAST(df AS DOUBLE)) AS score
         |      FROM tf JOIN df USING (term) CROSS JOIN n),
         |r AS (SELECT doc_id, term, tf, df, score,
         |        CAST(row_number() OVER (PARTITION BY doc_id
         |          ORDER BY score DESC, term ASC) AS INT) AS rnk FROM s)
         |SELECT doc_id, term, tf, df, score, rnk FROM r WHERE rnk <= 3""".stripMargin)),

    // N-gram novelty score (dataset-diversity signal): the fraction
    // of a doc's distinct 3-gram shingles whose globally FIRST
    // occurrence (by doc id) is this doc — boilerplate-heavy or
    // near-duplicate docs score near 0, fresh content near 1. The
    // deduped-corpus growth curve is the running sum of n_novel.
    // Scale — SINGLE-PASS shape (r6 verdict; the d16 spanCoverage
    // family): the exploded shingle frame feeds exactly ONE
    // consumer, the min-doc aggregation; per-doc novelty falls out
    // of regrouping those winners by their winning doc (each (doc,h)
    // is distinct, so "#shingles whose first_doc is d" IS d's novel
    // count) — a second, tiny shuffle over one row per DISTINCT
    // shingle, not a join that re-runs the explode pipeline and
    // re-shuffles the full exploded frame (the old plan). The
    // per-doc denominator needs no explode at all: it is the narrow
    // expression size(array_distinct(...)) on the document scan —
    // recomputing that projection is far cheaper at any scale than
    // shipping the exploded frame through a second exchange.
    Gate("t11_novelty", (s, dir) => {
      val withShingles = Tables.documents(s, dir).select(col("doc_id"),
        array_distinct(
          DedupSuite.shingleHashesPortableNative(tokens(col("text")), 3))
          .as("shs"))
      val first = withShingles
        .select(col("doc_id"), explode(col("shs")).as("h"))
        .groupBy(col("h")).agg(min(col("doc_id")).as("first_doc"))
      val novel = first.groupBy(col("first_doc"))
        .agg(count(lit(1)).cast("bigint").as("n_novel"))
      withShingles
        .select(col("doc_id"), size(col("shs")).cast("bigint").as("n_shingles"))
        // docs too short to have a shingle produce no exploded rows,
        // so the old join-based plan (and the oracle) omit them
        .filter(col("n_shingles") > 0)
        .join(novel, col("doc_id") === col("first_doc"), "left")
        .select(col("doc_id"), col("n_shingles"),
          coalesce(col("n_novel"), lit(0L)).cast("bigint").as("n_novel"),
          (coalesce(col("n_novel"), lit(0L)).cast("double") /
            col("n_shingles").cast("double")).as("novelty_frac"))
    },
      Sql(s"""WITH tk AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |shl AS (SELECT doc_id, list_distinct(list_transform($shinglesSql,
         |          s -> ${hash32Sql(0, "s")})) AS hs FROM tk),
         |sh AS (SELECT doc_id, unnest(hs) AS h FROM shl),
         |fst AS (SELECT h, MIN(doc_id) AS first_doc FROM sh GROUP BY 1)
         |SELECT sh.doc_id, CAST(COUNT(*) AS BIGINT) AS n_shingles,
         |       CAST(SUM(CASE WHEN fst.first_doc = sh.doc_id
         |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
         |       CAST(SUM(CASE WHEN fst.first_doc = sh.doc_id
         |                     THEN 1 ELSE 0 END) AS DOUBLE)
         |         / CAST(COUNT(*) AS DOUBLE) AS novelty_frac
         |FROM sh JOIN fst USING (h) GROUP BY sh.doc_id""".stripMargin)),

    // Tokenizer vocabulary construction: top-20 tokens by corpus
    // frequency with cumulative coverage (the fraction of all token
    // occurrences a vocab prefix explains — the BPE/vocab-size
    // planning curve). Scale: the corpus-sized work is the hash
    // groupBy; top-K is TakeOrderedAndProject (no global sort of the
    // dictionary), and rank and cumsum come from ONE row holding the K
    // kept rows in order — no window without a partition.
    Gate("t12_vocab", (s, dir) => {
      val counts = Tables.documents(s, dir)
        .select(explode(tokens(col("text"))).as("token"))
        .groupBy(col("token")).agg(count(lit(1)).cast("bigint").as("n"))
      val total = counts.agg(sum(col("n")).cast("bigint").as("total"))
      // sorted by (-n, token): count desc, then token asc
      counts.orderBy(col("n").desc, col("token").asc).limit(20)
        .agg(sort_array(collect_list(struct((-col("n")).as("key"),
          col("token"), col("n")))).as("top"))
        .select(col("top"), posexplode(col("top")).as(Seq("i", "t")))
        .select(col("t.token").as("token"), col("t.n").as("n"),
          (col("i") + 1).cast("int").as("rank"),
          aggregate(slice(col("top"), lit(1), col("i") + 1), lit(0L),
            (acc, t) => acc + t("n")).cast("bigint").as("cum_n"))
        .crossJoin(broadcast(total))
        .select(col("token"), col("n"), col("rank"), col("cum_n"),
          (col("cum_n").cast("double") / col("total").cast("double"))
            .as("coverage"))
    },
      Sql(s"""WITH tk AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |t AS (SELECT unnest(toks) AS token FROM tk),
         |c AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS n FROM t GROUP BY 1),
         |tot AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM c),
         |top AS (SELECT token, n FROM c ORDER BY n DESC, token ASC LIMIT 20),
         |r AS (SELECT token, n,
         |        CAST(row_number() OVER (ORDER BY n DESC, token ASC) AS INT) AS rank,
         |        CAST(SUM(n) OVER (ORDER BY n DESC, token ASC
         |          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_n
         |      FROM top)
         |SELECT token, n, rank, cum_n,
         |       CAST(cum_n AS DOUBLE) / CAST(total AS DOUBLE) AS coverage
         |FROM r CROSS JOIN tot""".stripMargin)),

    // Corpus bigram language-model scoring (the KenLM-style quality
    // signal, CCNet-fashion: docs whose bigrams are common in the
    // corpus score high, gibberish scores low). Per-bigram add-V
    // probability p = c(w1w2) / (c(w1) + V) is computed in FIXED
    // POINT — (c(w1w2) * 10^6) div (c(w1) + V), pure integer
    // arithmetic — because ln/exp are libm-dependent and a double
    // SUM is addition-order-dependent: neither survives a bit-exact
    // cross-engine hash gate. The doc score sums exact fixed-point
    // longs and divides ONCE at the end.
    // Scale: three term-keyed shuffles (bigram counts, unigram
    // counts, join-back) + one doc-keyed agg, all partial-
    // aggregable. The count-table joins carry no broadcast hint (the
    // t9 stance): Catalyst broadcasts them at gate scale where they
    // are KB-sized and falls back to shuffle joins at corpus scale
    // where the term dictionary is corpus-sized. V is a one-row
    // exact distinct count, explicitly broadcast.
    Gate("t14_lm_score", (s, dir) => {
      val tk = Tables.documents(s, dir).select(col("doc_id"),
        tokens(col("text")).as("toks"))
      val uni = tk.select(explode(col("toks")).as("w"))
      val vocab = uni.agg(countDistinct(col("w")).cast("long").as("v"))
      val cu = uni.groupBy(col("w")).agg(count(lit(1)).cast("long").as("cw"))
      val bg = tk.filter(size(col("toks")) > 1)
        .select(col("doc_id"), col("toks"), posexplode(slice(col("toks"),
          lit(1), size(col("toks")) - 1)))
        .withColumnRenamed("col", "w1")
        .select(col("doc_id"), col("w1"),
          concat(col("w1"), lit(" "),
            element_at(col("toks"), col("pos") + 2)).as("b"))
      val cb = bg.groupBy(col("b")).agg(count(lit(1)).cast("long").as("cbg"))
      bg.join(cb, "b").join(cu, col("w1") === col("w"))
        .crossJoin(broadcast(vocab))
        .select(col("doc_id"),
          expr("(cbg * 1000000) div (cw + v)").as("p_fp"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).cast("bigint").as("n_bigrams"),
          sum(col("p_fp")).cast("bigint").as("score_fp"))
        .select(col("doc_id"), col("n_bigrams"), col("score_fp"),
          (col("score_fp").cast("double") / col("n_bigrams").cast("double") /
            1000000.0).as("lm_score"))
    },
      Sql(s"""WITH tk AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |u AS (SELECT doc_id, unnest(toks) AS w FROM tk),
         |vocab AS (SELECT CAST(COUNT(DISTINCT w) AS BIGINT) AS v FROM u),
         |cu AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS cw FROM u GROUP BY 1),
         |bg AS (SELECT doc_id,
         |         unnest(toks[1:len(toks)-1]) AS w1,
         |         unnest(list_transform(range(len(toks) - 1),
         |           i -> toks[i+1] || ' ' || toks[i+2])) AS b
         |       FROM tk WHERE len(toks) > 1),
         |cb AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS cbg FROM bg GROUP BY 1),
         |j AS (SELECT bg.doc_id,
         |        (cb.cbg * 1000000) // (cu.cw + (SELECT v FROM vocab)) AS p_fp
         |      FROM bg JOIN cb USING (b) JOIN cu ON bg.w1 = cu.w),
         |a AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
         |             CAST(SUM(p_fp) AS BIGINT) AS score_fp FROM j GROUP BY 1)
         |SELECT doc_id, n_bigrams, score_fp,
         |       CAST(score_fp AS DOUBLE) / CAST(n_bigrams AS DOUBLE) / 1000000.0
         |         AS lm_score
         |FROM a""".stripMargin)),

    // ---- BPE merge training (t15; functions/Bpe.scala) — the
    // tokenizer-training half of the pipeline: the top-k merge
    // rules learned exactly (pair counts weighted by word
    // frequency, greedy left-to-right application, pinned
    // tie-breaks). ONE corpus-sized pass (word frequencies); every
    // iteration is vocabulary-sized. Oracle: the same k iterations
    // as chained CTEs — the delimited-string literal replace IS
    // greedy BPE in both engines, making the merge table
    // hash-exact. The gate runs the INCREMENTAL trainer (pair-count
    // delta maintenance — the real-vocab scale path; BpeSpec pins
    // it equal to the recount form, BpeSoak measures the k=512
    // crossover), so the oracle proves the delta bookkeeping exact.
    Gate("t15_bpe_merges", (s, dir) =>
      graft.functions.Bpe.bpeTrainIncremental(
        Tables.documents(s, dir).select(col("text")), "text", k = 6),
      // t15: the same k BPE iterations as chained CTEs. Symbol state is
      // the chr(31)-delimited string; literal replace (left-to-right
      // non-overlapping in both engines) applies each merge greedily;
      // the argmax tie-break is ORDER BY cnt DESC, l ASC, r ASC in both.
      Sql {
        val k = 6
        def iter(i: Int): String = {
          val prev = if (i == 1) "s0" else s"s${i - 1}"
          s"""sy$i AS (SELECT freq,
             |  list_filter(string_split(s, chr(31)), x -> x <> '') AS sy FROM $prev),
             |p$i AS (SELECT sy[j+1] AS l, sy[j+2] AS r, CAST(SUM(freq) AS BIGINT) AS cnt
             |        FROM (SELECT sy, freq, unnest(range(len(sy) - 1)) AS j FROM sy$i)
             |        GROUP BY 1, 2),
             |b$i AS MATERIALIZED (SELECT CAST($i AS INTEGER) AS mrank, l AS lhs, r AS rhs, cnt
             |        FROM p$i ORDER BY cnt DESC, l ASC, r ASC LIMIT 1),
             |s$i AS MATERIALIZED (SELECT w, freq, replace(s,
             |          chr(31) || (SELECT lhs FROM b$i) || chr(31) || chr(31) ||
             |            (SELECT rhs FROM b$i) || chr(31),
             |          chr(31) || (SELECT lhs FROM b$i) ||
             |            (SELECT rhs FROM b$i) || chr(31)) AS s FROM $prev)"""
            .stripMargin
        }
        s"""WITH tk AS (SELECT $toksSql AS toks FROM documents),
           |words AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS freq
           |          FROM (SELECT unnest(toks) AS w FROM tk) GROUP BY 1),
           |s0 AS MATERIALIZED (SELECT w, freq, chr(31) || array_to_string(
           |          list_transform(range(1, len(w) + 1), i -> substr(w, i, 1)),
           |          chr(31) || chr(31)) || chr(31) AS s FROM words),
           |${(1 to k).map(iter).mkString(",\n")}
           |${(1 to k).map(i => s"SELECT * FROM b$i").mkString(" UNION ALL ")}"""
          .stripMargin
      }),

    // ---- BPE encoding under the learned merges (t16): the serving
    // half of the tokenizer — k chained literal replaces (all
    // codegen'd, map-only; no shuffle besides the final count agg),
    // applied per WORD so every post-corpus step is
    // vocabulary-sized with frequency-weighted counts
    // (bit-identical to encoding each occurrence). Output: the
    // corpus token frequency table under the k=6 tokenizer.
    Gate("t16_bpe_encode", (s, dir) => {
      val docs = Tables.documents(s, dir).select(col("text"))
      val merges = graft.functions.Bpe.bpeTrainIncremental(docs, "text", k = 6)
        .orderBy(col("mrank")).collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      graft.functions.Bpe.encodeTokenCounts(docs, "text", merges)
    },
      Sql {
        val k = 6
        def iter(i: Int): String = {
          val prev = if (i == 1) "s0" else s"s${i - 1}"
          s"""sy$i AS (SELECT freq,
             |  list_filter(string_split(s, chr(31)), x -> x <> '') AS sy FROM $prev),
             |p$i AS (SELECT sy[j+1] AS l, sy[j+2] AS r, CAST(SUM(freq) AS BIGINT) AS cnt
             |        FROM (SELECT sy, freq, unnest(range(len(sy) - 1)) AS j FROM sy$i)
             |        GROUP BY 1, 2),
             |b$i AS MATERIALIZED (SELECT l AS lhs, r AS rhs
             |        FROM p$i ORDER BY cnt DESC, l ASC, r ASC LIMIT 1),
             |s$i AS MATERIALIZED (SELECT w, freq, replace(s,
             |          chr(31) || (SELECT lhs FROM b$i) || chr(31) || chr(31) ||
             |            (SELECT rhs FROM b$i) || chr(31),
             |          chr(31) || (SELECT lhs FROM b$i) ||
             |            (SELECT rhs FROM b$i) || chr(31)) AS s FROM $prev)"""
            .stripMargin
        }
        s"""WITH tk AS (SELECT $toksSql AS toks FROM documents),
           |words AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS freq
           |          FROM (SELECT unnest(toks) AS w FROM tk) GROUP BY 1),
           |s0 AS MATERIALIZED (SELECT w, freq, chr(31) || array_to_string(
           |          list_transform(range(1, len(w) + 1), i -> substr(w, i, 1)),
           |          chr(31) || chr(31)) || chr(31) AS s FROM words),
           |${(1 to k).map(iter).mkString(",\n")}
           |SELECT token, CAST(SUM(freq) AS BIGINT) AS cnt
           |FROM (SELECT freq, unnest(list_filter(string_split(s, chr(31)),
           |        x -> x <> '')) AS token FROM s$k)
           |GROUP BY 1"""
          .stripMargin
      }),

    // ---- BPE training over a NON-ASCII (CJK) alphabet under a
    // hard-truncated driver pair table (t18): every document's
    // tokens map deterministically to 3-char words over a 96-char
    // CJK alphabet (md5-derived characters both engines compute
    // identically), the trainer runs with a whitespace tokenizer
    // override and maxPairs = 8 against thousands of distinct
    // pairs — so every merge selection exercises the truncated
    // table's floor/refill machinery (BpeDiversitySoak's soak-only
    // guarantee, now hash-gated). Tie-breaks stay exact: the
    // alphabet lives in the BMP, where UTF-16, codepoint, and
    // UTF-8-byte orderings all agree.
    Gate("t18_bpe_cjk", (s, dir) => {
      def cjkChar(salt: Int, t: Column): Column =
        call_function("substr", lit(cjkAlpha),
          (conv(substring(md5(concat(lit(s"$salt:"), t)), 1, 8),
            16, 10).cast("long") % 96 + 1).cast("int"), lit(1))
      val cjk = Tables.documents(s, dir).select(
        array_join(transform(tokens(col("text")), t =>
          concat(cjkChar(0, t), cjkChar(1, t), cjkChar(2, t))), " ")
          .as("text"))
      graft.functions.Bpe.bpeTrainIncremental(cjk, "text", k = 6,
        rewriteEvery = 4, maxPairs = 8, batchMerges = 2,
        tokenize = c => filter(split(c, " "), x => x =!= ""))
    },
      // t16: the t15 iteration chain, then symbol frequencies of the
      // FINAL state s_k weighted by word frequency — the corpus token
      // frequency table under the learned tokenizer, identical in both
      // engines because the state strings are.
      // t18: the t15 iteration chain over the CJK-mapped corpus — the
      // oracle trains with a COMPLETE pair table, the Spark gate with
      // maxPairs = 8, so the hash proves the truncation machinery picks
      // the same merges a complete table does. DuckDB's substr/len are
      // character-based (UTF-8-aware) like Spark's, and the alphabet is
      // BMP-only, so both the character split and the tie-break order
      // agree byte-for-byte.
      Sql {
        val k = 6
        def ch(salt: Int): String =
          s"substr('$cjkAlpha', CAST(1 + ${hash32Sql(salt, "t")} % 96 AS INT), 1)"
        def iter(i: Int): String = {
          val prev = if (i == 1) "s0" else s"s${i - 1}"
          s"""sy$i AS (SELECT freq,
             |  list_filter(string_split(s, chr(31)), x -> x <> '') AS sy FROM $prev),
             |p$i AS (SELECT sy[j+1] AS l, sy[j+2] AS r, CAST(SUM(freq) AS BIGINT) AS cnt
             |        FROM (SELECT sy, freq, unnest(range(len(sy) - 1)) AS j FROM sy$i)
             |        GROUP BY 1, 2),
             |b$i AS MATERIALIZED (SELECT CAST($i AS INTEGER) AS mrank, l AS lhs, r AS rhs, cnt
             |        FROM p$i ORDER BY cnt DESC, l ASC, r ASC LIMIT 1),
             |s$i AS MATERIALIZED (SELECT w, freq, replace(s,
             |          chr(31) || (SELECT lhs FROM b$i) || chr(31) || chr(31) ||
             |            (SELECT rhs FROM b$i) || chr(31),
             |          chr(31) || (SELECT lhs FROM b$i) ||
             |            (SELECT rhs FROM b$i) || chr(31)) AS s FROM $prev)"""
            .stripMargin
        }
        s"""WITH tk AS (SELECT $toksSql AS toks FROM documents),
           |ti AS (SELECT unnest(toks) AS t FROM tk),
           |cw AS (SELECT ${ch(0)} || ${ch(1)} || ${ch(2)} AS w FROM ti),
           |words AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS freq FROM cw GROUP BY 1),
           |s0 AS MATERIALIZED (SELECT w, freq, chr(31) || array_to_string(
           |          list_transform(range(1, len(w) + 1), i -> substr(w, i, 1)),
           |          chr(31) || chr(31)) || chr(31) AS s FROM words),
           |${(1 to k).map(iter).mkString(",\n")}
           |${(1 to k).map(i => s"SELECT * FROM b$i").mkString(" UNION ALL ")}"""
          .stripMargin
      }),

    // ---- Gopher-style within-doc line repetition signals (t17;
    // operators/Boilerplate.scala): fraction of lines (and of
    // characters) belonging to a line duplicated within its own
    // document — the repetition quality filter. Fixture: the d11
    // multi-line corpus with the first line re-appended to every
    // 7th doc (planted within-doc duplicates at every sf). Two
    // partial-aggregated shuffles: (doc,line), then doc.
    Gate("t17_line_repetition", (s, dir) => {
      val rep = corpusPara(s, dir).select(col("doc_id"),
        when(pmod(col("doc_id"), lit(7)) === 0,
          concat(col("text"), lit("\n"),
            element_at(split(col("text"), "\n"), 1)))
          .otherwise(col("text")).as("text"))
      Boilerplate.lineRepetition(rep, "doc_id", "text")
    },
      // t17: within-doc line repetition over the d11 corpus with the
      // first line re-appended to every 7th doc. Counts and fractions
      // are integer-sum + one double division — bit-portable.
      Sql(s"""WITH $corpusParaSql,
         |rep AS (SELECT doc_id,
         |  CASE WHEN doc_id % 7 = 0
         |       THEN text || chr(10) || string_split(text, chr(10))[1]
         |       ELSE text END AS text FROM corpus),
         |l AS (SELECT doc_id, unnest(string_split(text, chr(10))) AS line
         |      FROM rep),
         |lc AS (SELECT doc_id, line, COUNT(*) AS c FROM l GROUP BY 1, 2),
         |d AS (SELECT doc_id, SUM(c) AS n,
         |        SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS dup,
         |        SUM(len(line) * c) AS chars,
         |        SUM(CASE WHEN c > 1 THEN len(line) * c ELSE 0 END) AS dupchars
         |      FROM lc GROUP BY 1)
         |SELECT doc_id, CAST(n AS BIGINT) AS n_lines,
         |  CASE WHEN n = 0 THEN 0.0
         |       ELSE CAST(dup AS DOUBLE) / CAST(n AS DOUBLE) END AS dup_line_frac,
         |  CASE WHEN chars = 0 THEN 0.0
         |       ELSE CAST(dupchars AS DOUBLE) / CAST(chars AS DOUBLE)
         |       END AS dup_char_frac
         |FROM d""".stripMargin)),

    // URL canonicalization + dedup (crawl-corpus source dedup): the
    // fixture synthesizes each logical page under messy surface
    // variants — case-shifted scheme/host, explicit :443, tracking
    // params, shuffled param order, trailing slash, fragment — and
    // canonicalization (functions/TextFunctions.canonicalizeUrl)
    // must collapse them. Narrow codegen'd regexp/array ops + ONE
    // hash agg on the canonical key; no join, no window — scales as
    // a single shuffle keyed by canonical URL.
    Gate("t13_url_canonical", (s, dir) => {
      val d = col("doc_id")
      val u = Tables.documents(s, dir).select(col("doc_id"),
        concat(
          when(d % 2 === 0, lit("HTTPS")).otherwise(lit("https")),
          lit("://"),
          when(d % 3 === 0,
            concat(lit("WWW."), upper(col("source")), lit(".Example.COM:443")))
            .otherwise(concat(lit("www."), col("source"), lit(".example.com"))),
          lit("/articles/"), (d % 40).cast("string"),
          when(d % 4 === 0, lit("/")).otherwise(lit("")),
          when(d % 2 === 0,
            concat(lit("?utm_source=feed&utm_campaign=fall&ref="),
              (d % 5).cast("string"), lit("&b=2&a=1")))
            .otherwise(concat(lit("?a=1&b=2&ref="), (d % 5).cast("string"))),
          when(d % 6 === 0, lit("#section-2")).otherwise(lit(""))).as("url"))
      u.select(col("doc_id"), col("url"),
          graft.functions.TextFunctions.canonicalizeUrl(col("url"))
            .as("canonical_url"))
        .groupBy(col("canonical_url"))
        .agg(count(lit(1)).cast("bigint").as("n_docs"),
          countDistinct(col("url")).cast("bigint").as("n_variants"),
          min(col("doc_id")).as("first_doc"))
    },
      Sql("""WITH u AS (SELECT doc_id,
        |  (CASE WHEN doc_id % 2 = 0 THEN 'HTTPS' ELSE 'https' END) || '://' ||
        |  (CASE WHEN doc_id % 3 = 0 THEN 'WWW.' || upper(source) || '.Example.COM:443'
        |        ELSE 'www.' || source || '.example.com' END) ||
        |  '/articles/' || CAST(doc_id % 40 AS VARCHAR) ||
        |  (CASE WHEN doc_id % 4 = 0 THEN '/' ELSE '' END) ||
        |  (CASE WHEN doc_id % 2 = 0
        |        THEN '?utm_source=feed&utm_campaign=fall&ref=' || CAST(doc_id % 5 AS VARCHAR) || '&b=2&a=1'
        |        ELSE '?a=1&b=2&ref=' || CAST(doc_id % 5 AS VARCHAR) END) ||
        |  (CASE WHEN doc_id % 6 = 0 THEN '#section-2' ELSE '' END) AS url
        |  FROM documents),
        |p AS (SELECT doc_id, url,
        |        list_sort(list_filter(
        |          string_split(regexp_extract(regexp_replace(url, '#.*$', ''), '\?(.*)$', 1), '&'),
        |          q -> q <> '' AND NOT starts_with(q, 'utm_')
        |               AND NOT starts_with(q, 'fbclid=')
        |               AND NOT starts_with(q, 'gclid='))) AS plist
        |      FROM u),
        |c AS (SELECT doc_id, url,
        |        lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) || '://' ||
        |        regexp_replace(regexp_replace(
        |          lower(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)),
        |          '^www\.', ''), ':(443|80)$', '') ||
        |        regexp_replace(regexp_extract(url,
        |          '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1), '/+$', '') ||
        |        CASE WHEN len(plist) > 0 THEN '?' || array_to_string(plist, '&')
        |             ELSE '' END AS canonical_url
        |      FROM p)
        |SELECT canonical_url, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |       CAST(COUNT(DISTINCT url) AS BIGINT) AS n_variants,
        |       MIN(doc_id) AS first_doc
        |FROM c GROUP BY 1""".stripMargin)),

    // Rare-token ratio (quality signal): fraction of a doc's tokens
    // whose document frequency across the corpus is < 3. The fixture
    // plants a unique token in every 11th doc so the signal is
    // non-degenerate on the synthetic 31-token vocabulary.
    // Scale: df is a distinct+groupBy on term; the term⋈rare join
    // shuffles on term (rare set = the long tail, NOT broadcastable
    // at 100 TB, though AQE will broadcast it at test sf).
    Gate("t10_rare_tokens", (s, dir) => {
      val d = Tables.documents(s, dir).select(col("doc_id"),
        concat(col("text"), when(col("doc_id") % 11 === 0,
          concat(lit(" zq"), col("doc_id").cast("string")))
          .otherwise(lit(""))).as("text"))
      val term = d.select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      val rare = term.select(col("doc_id"), col("term")).distinct()
        .groupBy(col("term")).agg(count(lit(1)).cast("bigint").as("df"))
        .filter(col("df") < 3)
        .select(col("term"), lit(1L).as("is_rare"))
      term.join(rare, Seq("term"), "left")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).cast("bigint").as("n_tokens"),
          sum(coalesce(col("is_rare"), lit(0L))).cast("bigint").as("n_rare"))
        .select(col("doc_id"), col("n_tokens"), col("n_rare"),
          (col("n_rare").cast("double") / col("n_tokens").cast("double"))
            .as("rare_frac"))
    },
      Sql(s"""WITH d AS (SELECT doc_id,
         |    text || CASE WHEN doc_id % 11 = 0
         |                 THEN ' zq' || CAST(doc_id AS VARCHAR) ELSE '' END AS text
         |  FROM documents),
         |tk AS (SELECT doc_id, $toksSql AS toks FROM d),
         |term AS (SELECT doc_id, unnest(toks) AS term FROM tk),
         |df AS (SELECT term, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
         |       FROM term GROUP BY 1),
         |rare AS (SELECT term FROM df WHERE df < 3),
         |m AS (SELECT t.doc_id,
         |        CASE WHEN r.term IS NULL THEN 0 ELSE 1 END AS isr
         |      FROM term t LEFT JOIN rare r ON t.term = r.term)
         |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
         |       CAST(SUM(isr) AS BIGINT) AS n_rare,
         |       CAST(SUM(isr) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS rare_frac
         |FROM m GROUP BY doc_id""".stripMargin)),

    // ---- document length histogram (500-char buckets) ----
    Gate("t6_len_histogram", (s, dir) =>
      Tables.documents(s, dir)
        .groupBy(floor(length(col("text")) / 500).cast("int").as("bucket"))
        .agg(count(lit(1)).cast("bigint").as("n_docs"),
          min(length(col("text"))).cast("int").as("min_len"),
          max(length(col("text"))).cast("int").as("max_len")),
      Sql("""SELECT CAST(floor(length(text) / 500) AS INT) AS bucket,
        |       CAST(COUNT(*) AS BIGINT) AS n_docs,
        |       CAST(MIN(length(text)) AS INT) AS min_len,
        |       CAST(MAX(length(text)) AS INT) AS max_len
        |FROM documents GROUP BY 1""".stripMargin)),

    // ---- bigram frequency (n-gram counting over shingles) ----
    // shingles() let-binds its token array internally: an inline
    // tokens(text) tree re-ran the regex split O(tokens²) times here
    // (measured 4.2 s → 0.7 s at sf0.1)
    Gate("t5_bigrams", (s, dir) =>
      Tables.documents(s, dir)
        .select(explode(DedupSuite.shingles(col("text"), 2)).as("bigram"))
        .groupBy(col("bigram"))
        .agg(count(lit(1)).cast("bigint").as("n"))
        .orderBy(col("n").desc, col("bigram").asc)
        .limit(20),
      Sql(s"""WITH tk AS (SELECT $toksSql AS toks FROM documents),
         |b AS (SELECT unnest(list_transform(range(len(toks) - 1),
         |               i -> array_to_string(toks[i+1:i+2], ' '))) AS bigram
         |      FROM tk WHERE len(toks) >= 2)
         |SELECT bigram, CAST(COUNT(*) AS BIGINT) AS n
         |FROM b GROUP BY 1
         |ORDER BY n DESC, bigram ASC LIMIT 20""".stripMargin))
  )
}
