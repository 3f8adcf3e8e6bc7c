package graft.catalog

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{PerJvm, Tables}
import graft.operators._

/** The fixtures and DuckDB fragments more than one family reads: the
  * planted-duplicate corpora, the clone-id shift, per-JVM staging, and
  * the SQL twins of the text functions. Reads nothing from the family
  * objects, so any of them can initialise first. */
object Fixtures {

  // Shared oracle fragments (DuckDB SQL twins of TextFunctions).
  private[catalog] val toksSql =
    "list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')"

  private[catalog] def hash32Sql(salt: Int, v: String): String =
    s"CAST(('0x' || substr(md5('$salt:' || $v), 1, 8)) AS BIGINT)"

  private[catalog] val shinglesSql =
    "list_transform(range(len(toks) - 2), i -> array_to_string(toks[i+1:i+3], ' '))"

  private[catalog] def dotSql(a: String, b: String): String =
    s"list_reduce(list_prepend(0.0, list_transform(list_zip($a, $b), " +
      "p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))), (a, b) -> a + b)"

  /** Shared WITH-prefix for the hyperplane-LSH oracles (e2, d6): the
    * 8×64 plane weights inlined from the engine's own deterministic
    * generator, the dot-product fold in the same order, so buckets and
    * pairs match bit-for-bit. Ends with `p` = scored same-bucket pairs. */
  private[catalog] def lshPairsPrefixSql: String = {
    def planeArr(p: Int): String =
      (0 until 64).map(d => Similarity.planeWeight(p, d)).mkString("[", ",", "]")
    val bucketExpr = (0 until 8).map { p =>
      s"""CASE WHEN list_reduce(list_prepend(0.0,
         |  list_transform(list_zip(embedding, ${planeArr(p)}),
         |    pr -> CAST(pr[1] AS DOUBLE) * pr[2])), (a, b) -> a + b) >= 0
         |THEN ${1L << p} ELSE 0 END""".stripMargin
    }.mkString(" + ")
    s"""WITH emb AS (SELECT vec_id, embedding FROM embeddings),
       |planted AS (SELECT vec_id, embedding FROM emb
       |            UNION ALL
       |            SELECT vec_id + 1000000, embedding FROM emb WHERE vec_id % 10 = 0),
       |b AS (SELECT vec_id, embedding, $bucketExpr AS bucket FROM planted),
       |p AS (SELECT x.bucket, x.vec_id AS id_a, y.vec_id AS id_b,
       |        ${dotSql("x.embedding", "y.embedding")}
       |        / (sqrt(${dotSql("x.embedding", "x.embedding")})
       |           * sqrt(${dotSql("y.embedding", "y.embedding")})) AS simd
       |      FROM b x JOIN b y ON x.bucket = y.bucket AND x.vec_id < y.vec_id)""".stripMargin
  }

  /** Clone-id shift for the planted-duplicate fixtures, ENFORCING the
    * no-collision invariant in-plan: a source id at or above the offset
    * would collide with a clone id, and the d11/d13-style oracles then
    * fan out over the colliding id where Spark's groupBy merges it —
    * a silent hash mismatch (round-5 ADVICE). raise_error makes the
    * assumption loud instead of implicit, at the cost of one per-row
    * comparison inside the same stage (no extra job). */
  private[catalog] def cloneId(c: Column, offset: Long = 1000000L): Column =
    when(c >= offset || c < 0,
      raise_error(concat(lit(s"fixture id outside [0, $offset): "), c.cast("string"))))
      .otherwise(c + offset)

  /** A fixture staged once per (JVM, sf dir) by `build` into a fresh
    * directory named after `name`; returns that directory. */
  private[catalog] def stagedDir(name: String, dir: String)(
      build: java.nio.file.Path => Unit): String =
    PerJvm.once(s"$name|$dir") {
      val tmp = PerJvm.tempDir(name)
      build(tmp)
      tmp.toString
    }

  /** Planted-duplicate corpora for the dedup operators: exact copies
    * (every 5th doc) and near-copies with a suffix (every 7th doc), ids
    * offset by 1e6. Guarantees the dedup queries have hits at any sf. */
  private[catalog] def corpusExact(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    d.unionByName(d.filter(col("doc_id") % 5 === 0)
      .select(cloneId(col("doc_id")).as("doc_id"), col("text")))
  }

  /** Paragraph-structured corpus for d11: every doc's tokens re-joined
    * into 15-token paragraphs separated by '\n'; every 4th doc gets a
    * shared banner paragraph prepended and every 3rd a shared footer
    * appended (guaranteed cross-document duplicate paragraphs — the
    * C4-style boilerplate shape), and every 5th doc is duplicated whole
    * at id+1e6 (all of its paragraphs are second occurrences). The
    * oracle rebuilds the identical corpus in SQL ([[corpusParaSql]]). */
  private[catalog] def corpusPara(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions.tokens
    val body = Tables.documents(s, dir).select(col("doc_id"),
      graft.functions.ColUtil.bindOnce(tokens(col("text"))) { toks =>
        array_join(transform(
          sequence(lit(0),
            greatest(floor((size(toks) - 1) / lit(15.0)), lit(0L)).cast("int")),
          i => concat_ws(" ", slice(toks, i * 15 + 1, lit(15)))), "\n")
      }.as("body"))
    val base = body.select(col("doc_id"), concat(
      when(col("doc_id") % 4 === 0,
        lit("accept the cookie policy to continue reading\n")).otherwise(lit("")),
      col("body"),
      when(col("doc_id") % 3 === 0,
        lit("\nsubscribe to the newsletter for weekly updates")).otherwise(lit(""))
    ).as("text"))
    base.unionByName(base.filter(col("doc_id") % 5 === 0)
      .select(cloneId(col("doc_id")).as("doc_id"), col("text")))
  }

  /** SQL twin of [[corpusPara]] — ends defining CTE `corpus(doc_id, text)`. */
  private[catalog] val corpusParaSql =
    s"""tk AS (SELECT doc_id, $toksSql AS toks FROM documents),
       |bodied AS (SELECT doc_id,
       |  array_to_string(list_transform(
       |    range(CAST(greatest(floor((len(toks) - 1) / 15.0), 0) AS BIGINT) + 1),
       |    i -> array_to_string(toks[i*15+1 : i*15+15], ' ')), chr(10)) AS body
       |  FROM tk),
       |parabase AS (SELECT doc_id,
       |  concat(
       |    CASE WHEN doc_id % 4 = 0
       |         THEN 'accept the cookie policy to continue reading' || chr(10)
       |         ELSE '' END,
       |    body,
       |    CASE WHEN doc_id % 3 = 0
       |         THEN chr(10) || 'subscribe to the newsletter for weekly updates'
       |         ELSE '' END) AS text
       |  FROM bodied),
       |corpus AS (SELECT doc_id, text FROM parabase UNION ALL
       |           SELECT doc_id + 1000000, text FROM parabase WHERE doc_id % 5 = 0)""".stripMargin
}
