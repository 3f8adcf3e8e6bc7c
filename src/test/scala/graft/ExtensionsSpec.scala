package graft

import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, FloatType}

class ExtensionsSpec extends SparkSpec {

  test("GraftExtensions cosineBuilder builds a working expression and checks arity") {
    // registration path stores this exact builder
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new graft.plans.GraftExtensions().apply(ext)
    // builder output evaluates correctly on literal arrays
    val arr = Literal.create(ArrayData.toArrayData(Array(1.0f, 0.0f)),
      ArrayType(FloatType))
    val expr = graft.plans.GraftExtensions.cosineBuilder(Seq(arr, arr))
    assert(math.abs(expr.eval(null).asInstanceOf[Double] - 1.0) < 1e-12)
    // wrong arity is rejected
    val ex = intercept[IllegalArgumentException] {
      graft.plans.GraftExtensions.cosineBuilder(Seq(arr))
    }
    assert(ex.getMessage.contains("2 arguments"))
  }

  test("graft_cosine resolves in SQL after extension-style registration") {
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_cosine", graft.plans.GraftExtensions.cosineBuilder, "built-in")
    Tables.embeddings(spark, sf).filter(col("vec_id") < 10)
      .createOrReplaceTempView("emb_v")
    val rows = spark.sql(
      """SELECT a.vec_id, graft_cosine(a.embedding, b.embedding) AS sim
        |FROM emb_v a JOIN emb_v b ON a.vec_id = b.vec_id""".stripMargin)
      .collect()
    assert(rows.length == 10)
    // self-similarity is exactly 1.0
    assert(rows.forall(r => math.abs(r.getDouble(1) - 1.0) < 1e-12))
  }

  test("native kernel helpers resolve on any session and register no functions") {
    import graft.functions.TextFunctions.tokens
    import graft.operators.{DedupSuite, Similarity}
    import org.apache.spark.sql.{DataFrame, SparkSession}
    def docs(s: SparkSession) = Tables.documents(s, sf)
      .filter(col("doc_id") < 300).select(col("doc_id"), col("text"))
    def pairs(s: SparkSession) = {
      val e = Tables.embeddings(s, sf).filter(col("vec_id") < 20)
        .select(col("vec_id"), col("embedding"))
      e.crossJoin(e.select(col("vec_id").as("vid2"), col("embedding").as("e2")))
    }
    def th = DedupSuite.tokenHashesNative(col("text"))
    val helpers: Seq[(String, SparkSession => DataFrame)] = Seq(
      "tokenHashesNative" -> (s => docs(s).select(col("doc_id"), th)),
      "shingleHashesPortableNative" -> (s => docs(s).select(col("doc_id"),
        DedupSuite.shingleHashesPortableNative(tokens(col("text")), 3))),
      "shingleHashesNative" -> (s => docs(s).select(col("doc_id"),
        DedupSuite.shingleHashesNative(th, 3))),
      "minhashSignatureNative" -> (s => docs(s).select(col("doc_id"),
        DedupSuite.minhashSignatureNative(DedupSuite.shingleHashesNative(th, 3), 8))),
      "simhash60" -> (s => docs(s).select(col("doc_id"),
        DedupSuite.simhash60(col("text")))),
      "exactSubstrDedup" -> (s =>
        DedupSuite.exactSubstrDedup(docs(s), "doc_id", "text", 8)),
      "cosineNative" -> (s => pairs(s).select(col("vec_id"), col("vid2"),
        Similarity.cosineNative(col("embedding"), col("e2")))),
      "hyperplaneBucket" -> (s => pairs(s).select(col("vec_id"), col("vid2"),
        Similarity.hyperplaneBucket(col("embedding"), 8, 64))),
      "l2Fixed" -> (s => pairs(s).select(col("vec_id"), col("vid2"),
        Similarity.l2Fixed(col("embedding"), col("e2")))))
    val other = spark.newSession()
    helpers.foreach { case (name, build) =>
      def rows(s: SparkSession) = build(s).collect().map(_.toString).sorted.toSeq
      val expected = rows(spark)
      assert(expected.nonEmpty, name)
      assert(rows(other) == expected, s"$name differs on a new session")
    }
    // graft_cosine is registered on purpose by the SQL test above
    Seq(spark, other).foreach { s =>
      val registered = s.sessionState.functionRegistry.listFunction()
        .map(_.funcName).filter(_.startsWith("graft_")).filterNot(_ == "graft_cosine")
      assert(registered.isEmpty, s"helpers registered $registered")
    }
  }

  test("partition pruning: date-partitioned scan reads strictly fewer files") {
    val dir = java.nio.file.Files.createTempDirectory("part").toString
    Tables.events(spark, sf)
      .withColumn("event_date", to_date(col("ts")))
      .write.partitionBy("event_date").mode("overwrite").parquet(dir)
    val firstDate = spark.read.parquet(dir)
      .agg(min(col("event_date"))).head().getDate(0)

    def filesRead(df: org.apache.spark.sql.DataFrame): Long = {
      df.collect()
      df.queryExecution.executedPlan.collectLeaves()
        .flatMap(_.metrics.get("numFiles").map(_.value)).sum
    }
    val all = filesRead(spark.read.parquet(dir))
    val pruned = filesRead(
      spark.read.parquet(dir).filter(col("event_date") === lit(firstDate)))
    assert(pruned >= 1 && pruned < all,
      s"expected pruned scan ($pruned files) to read fewer than full scan ($all files)")
  }

  // r19 optimization gates: the fused native expressions must be
  // BIT-identical to the composable forms they replaced — the oracle
  // hash-exactness of every consumer gate rests on this equality.

  test("SimhashFold == the composable 60-per-bit-aggregate form, bit for bit") {
    import graft.functions.TextFunctions.{tokens, hash60}
    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
    def composable(text: org.apache.spark.sql.Column) =
      graft.functions.ColUtil.bindOnce(transform(tokens(text), t => hash60(t))) { hs =>
        aggregate(
          transform(sequence(lit(0), lit(59)), i =>
            when(
              aggregate(hs, lit(0L), (acc, h) =>
                acc + when(call_function("shiftright", h, i).bitwiseAND(1) === 1, 1L)
                  .otherwise(-1L)) > 0,
              call_function("shiftleft", lit(1L), i))
              .otherwise(lit(0L))),
          lit(0L), (acc, v) => acc + v)
      }
    val both = docs.select(col("doc_id"),
      graft.operators.DedupSuite.simhash60(col("text")).as("native"),
      composable(col("text")).as("reference"))
    assert(both.filter(col("native") =!= col("reference")).isEmpty)
    // empty text → 0 (the composable fold over an empty array)
    val empty = spark.sql("SELECT '' AS text")
      .select(graft.operators.DedupSuite.simhash60(col("text")).as("v"))
      .head().getLong(0)
    assert(empty == 0L)
  }

  test("L2Fixed == the composable fixed-point fold, bit for bit, float and double") {
    val emb = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding")).limit(50)
    val pairs = emb.crossJoin(
      emb.select(col("vec_id").as("vid2"), col("embedding").as("e2")))
    def composable(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      aggregate(zip_with(a, b, (x, y) => {
        val xi = floor(x.cast("double") * 1024.0 + 0.5).cast("long")
        val yi = floor(y.cast("double") * 1024.0 + 0.5).cast("long")
        (xi - yi) * (xi - yi)
      }), lit(0L), (acc, v) => acc + v)
    // float arrays (the raw-embedding path)
    val f = pairs.select(
      graft.operators.Similarity.l2Fixed(col("embedding"), col("e2")).as("native"),
      composable(col("embedding"), col("e2")).as("reference"))
    assert(f.filter(col("native") =!= col("reference")).isEmpty)
    // double arrays (the residual path subtracts in double)
    val d = pairs.select(
      transform(col("embedding"), x => x.cast("double") - 0.25).as("da"),
      transform(col("e2"), x => x.cast("double") - 0.25).as("db"))
    val dd = d.select(
      graft.operators.Similarity.l2Fixed(col("da"), col("db")).as("native"),
      composable(col("da"), col("db")).as("reference"))
    assert(dd.filter(col("native") =!= col("reference")).isEmpty)
    // ragged input → null, matching zip_with's null padding
    val ragged = spark.sql(
      "SELECT CAST(array(1.0, 2.0) AS array<float>) a, " +
        "CAST(array(1.0) AS array<float>) b")
      .select(graft.operators.Similarity.l2Fixed(col("a"), col("b")).as("v"))
    assert(ragged.head().isNullAt(0))
  }
}
