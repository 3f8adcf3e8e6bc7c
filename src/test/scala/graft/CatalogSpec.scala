package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.catalog.{Build, Catalog, Gate, SameAs, Sql, StreamGates}

/** The gate catalog and the driver views derived from it — no Spark
  * session, no job: declaring and checking the catalog runs nothing. */
class CatalogSpec extends AnyFunSuite {

  test("the driver views cover the 192 gated queries, each with an oracle") {
    // first read of SparkEntry in this suite: builds the catalog
    assert(SparkEntry.queries.size == 192)
    assert(SparkEntry.queries.keySet == SparkEntry.oracleSql.keySet)
  }

  test("gate names are unique") {
    val names = Catalog.gates.map(_.name)
    assert(names.diff(names.distinct).isEmpty)
  }

  test("the bench-only twins are the gates with no oracle") {
    val benchOnly = Set("x1_minhash_fast", "x2_knn_bucketed")
    assert(SparkEntry.benchOnlyQueries.keySet == benchOnly)
    assert(Catalog.gates.filter(g => benchOnly(g.name)).forall(_.oracle.isEmpty))
    assert(benchOnly.forall(n => !SparkEntry.queries.contains(n) &&
      !SparkEntry.oracleSql.contains(n)))
  }

  test("the s-gates are exactly the streams of the shared pass") {
    val entries = SparkEntry.streams.map(_.entry)
    assert(entries.size == 18)
    assert(StreamGates.gates.map(_.name) == entries)
    assert(SparkEntry.queries.keySet.filter(_.matches("s\\d+_.*")) == entries.toSet)
  }

  test("no oracle text is declared twice: a shared oracle is a SameAs") {
    val texts = Catalog.gates.flatMap(_.oracle).collect { case Sql(text) => text }
    val copies = texts.groupBy(identity).collect { case (t, ts) if ts.size > 1 =>
      Catalog.gates.collect { case g if g.oracle.contains(Sql(t)) => g.name }
    }
    assert(copies.isEmpty, s"gates declaring the same Sql: ${copies.mkString("; ")}")
  }

  test("the check rejects duplicate names, dangling aliases and alias chains") {
    val build: Build = (s, _) => s.emptyDataFrame
    val root = Gate("root", build, Sql("SELECT 1"))
    val alias = Gate("alias", build, SameAs(root))
    assert(Catalog.check(Seq(root, alias)) == Seq(root, alias))

    def rejected(gates: Gate*): String =
      intercept[IllegalArgumentException](Catalog.check(gates)).getMessage
    val outside = Gate("outside", build, Sql("SELECT 2"))
    assert(rejected(root, Gate("dangling", build, SameAs(outside))).contains("dangling"))
    assert(rejected(root, Gate("early", build, SameAs(null))).contains("early"))
    assert(rejected(root, alias, Gate("chained", build, SameAs(alias))).contains("chained"))
    assert(rejected(root, alias, Gate("root", build, Sql("SELECT 3"))).contains("root"))
  }
}
