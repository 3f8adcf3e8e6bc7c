package graft

import org.apache.spark.sql.DataFrame
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.operators.{Merge, VersionedStaging}

/** Property tests for the merge operator — the invariants the reference
  * enforces via SQL checks and its idempotency protocol
  * (`/root/reference/README.md:210-225`, `sql/load/04_checks.sql`).
  * Uses raw ScalaCheck generators with a fixed seed (the scalatest
  * bridge artifact is not in the offline dependency cache). */
class MergePropertySpec extends SparkSpec {
  import spark.implicits._

  private val rowGen = for {
    id <- Gen.chooseNum(0L, 15L)
    v <- Gen.chooseNum(0L, 8L)
    payload <- Gen.alphaStr.map(_.take(4))
  } yield (id, v, payload)

  private val batchGen = Gen.listOfN(12, rowGen)

  private def df(rows: List[(Long, Long, String)]): DataFrame =
    rows.toDF("id", "extracted_at", "v")

  // within-batch ties broken deterministically before merging (the
  // reference dedups each batch before load)
  private def canon(rows: List[(Long, Long, String)]) =
    df(rows).groupBy("id", "extracted_at").agg(
      org.apache.spark.sql.functions.max("v").as("v"))
      .select("id", "extracted_at", "v")

  test("keepLast property: result equals last-by-order row per key (10 random cases)") {
    (0 until 10).foreach { i =>
      val rows = batchGen.apply(Gen.Parameters.default, Seed(7L + i)).get
        .zipWithIndex.map { case ((id, _, p), ord) => (id, ord.toLong, p) }
      val df2 = rows.toDF("id", "ord", "p")
      val got = graft.operators.Dedup.keepLast(df2, Seq("id"),
        org.apache.spark.sql.functions.col("ord"))
        .select("id", "p").as[(Long, String)].collect().toMap
      val expected = rows.groupBy(_._1).map { case (id, rs) =>
        id -> rs.maxBy(_._2)._3
      }
      assert(got == expected, s"case $i")
    }
  }

  test("topK property: at most k rows per group, ranks contiguous from 1 (10 random cases)") {
    (0 until 10).foreach { i =>
      val rows = batchGen.apply(Gen.Parameters.default, Seed(99L + i)).get
      val df2 = rows.toDF("g", "v", "p")
      val k = 1 + i % 3
      val got = graft.operators.TopK.perGroup(df2, Seq("g"),
          Seq(org.apache.spark.sql.functions.col("v").desc,
            org.apache.spark.sql.functions.col("p").asc), k)
        .select("g", "v", "rnk").as[(Long, Long, Int)].collect()
      got.groupBy(_._1).foreach { case (g, rs) =>
        assert(rs.length <= k, s"case $i group $g exceeds k")
        assert(rs.map(_._3).sorted.toSeq == (1 to rs.length), s"case $i ranks")
        // each group's rank-1 value is the group max
        val expectedMax = rows.filter(_._1 == g).map(_._2).max
        assert(rs.find(_._3 == 1).get._2 == expectedMax, s"case $i max")
      }
    }
  }

  private val payloadGen = Gen.alphaStr.map(_.take(4))

  // a unique-key target (ids sorted so the case is the same every run)
  private val targetGen = Gen.listOfN(10, rowGen)
    .map(_.groupBy(_._1).values.map(_.head).toList.sortBy(_._1))

  // a batch against that target: per target key, maybe a strictly
  // older, equal-version or strictly newer row; plus rows over random
  // keys (fresh, repeated, or the target's) and one same-version
  // duplicate of one of them with another payload
  private def batchAgainst(target: List[(Long, Long, String)]) = for {
    edits <- Gen.sequence[List[Option[(Long, Long, String)]], Option[(Long, Long, String)]](
      target.map { case (id, v, _) =>
        Gen.option(for { d <- Gen.oneOf(-1L, 0L, 1L); p <- payloadGen } yield (id, v + d, p))
      })
    loose <- Gen.listOfN(8, rowGen)
    dup <- Gen.oneOf(loose).map { case (id, v, p) => (id, v, p + "x") }
  } yield edits.flatten ++ loose :+ dup

  test("observed merge counts equal countsPlan, rows equal merged (16 random cases)") {
    (0 until 16).foreach { i =>
      val seed = Seed(500L + i)
      // every fourth case merges into an empty target, the first-batch
      // shape (`batch.limit(0)`)
      val t = if (i % 4 == 0) Nil else targetGen.apply(Gen.Parameters.default, seed).get
      val b = batchAgainst(t).apply(Gen.Parameters.default, seed.next).get
      val batch = df(b)
      val target = if (t.isEmpty) batch.limit(0) else df(t)
      val (observed, obs) = Merge.observedMerged(target, batch, Seq("id"), "extracted_at")
      // the staging check rides the same action, as in mergeInto
      val (checked, unique) = VersionedStaging.checkStagingKeys(observed, Seq("id"), "staging")
      val got = checked.as[(Long, Long, String)].collect().sorted.toSeq
      assert(unique.duplicateRows == Seq(0L), s"case $i: duplicate keys")
      val c = Merge.countsOf(obs)
      val want = Merge.countsPlan(target, batch, Seq("id"), "extracted_at").head()
      assert((c.inserted, c.updated) == ((want.getLong(0), want.getLong(1))), s"case $i: counts")
      assert(c.batchRows == b.map(_._1).distinct.size, s"case $i: batch rows")
      val merged = Merge.merged(target, batch, Seq("id"), "extracted_at")
        .as[(Long, Long, String)].collect().sorted.toSeq
      assert(got == merged, s"case $i: rows")
    }
  }

  test("merge: PK-unique, version-monotone, idempotent on re-merge (15 random cases)") {
    (0 until 15).foreach { i =>
      val seed = Seed(42L + i)
      val t = batchGen.apply(Gen.Parameters.default, seed).get
      val b = batchGen.apply(Gen.Parameters.default, seed.next).get
      val target = canon(t); val batch = canon(b)
      val m = Merge.merged(target, batch, Seq("id"), "extracted_at")
      // PK uniqueness (the reference's dup detector must return 0 rows)
      assert(m.groupBy("id").count().filter($"count" > 1).isEmpty, s"case $i: dup PK")
      // version monotonicity: merged version == max version per key
      val maxv = target.unionByName(batch).groupBy("id")
        .agg(org.apache.spark.sql.functions.max("extracted_at").as("mx"))
      assert(m.join(maxv, "id").filter($"extracted_at" =!= $"mx").isEmpty,
        s"case $i: non-max version survived")
      // idempotency: merging the same batch again changes nothing
      val m2 = Merge.merged(m, batch, Seq("id"), "extracted_at")
      assert(m2.exceptAll(m).isEmpty && m.exceptAll(m2).isEmpty,
        s"case $i: not idempotent")
    }
  }
}
