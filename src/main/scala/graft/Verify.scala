package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json (every gate's oracle, `SameAs` resolved to the
  * text it points at), for the driver's DuckDB compare. The queries and
  * oracles are declared once per gate in [[graft.catalog]]. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Sessions.tune(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Fixture drift guard (round-8 postmortem): fail the run with ONE
    // readable message if the driver tables' schema drifted, instead of
    // per-query AnalysisException noise.
    Tables.assertContract(spark, sfDir)
    new java.io.File(outDir).mkdirs()
    // dev-only subset filter, mirroring Bench (full dump when unset —
    // the driver always runs the full dump)
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val sel = only match {
      case Some(names) => SparkEntry.queries.filter(q => names(q._1))
      case None        => SparkEntry.queries
    }
    sel.foreach { case (name, fn) =>
      try {
        val out = fn(spark, sfDir)
        // total-order the dump: row order inside the parquet must not
        // depend on partition/task order, in case the comparer hashes
        // rows positionally (harmless if it canonicalizes)
        out.orderBy(out.columns.toIndexedSeq.map(org.apache.spark.sql.functions.col): _*)
          .coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Gate-integrity manifest (ADVICE r4): the FULL declared query list,
    // written unconditionally, so check_oracle.py can fail any dump that
    // is missing a declared query — a leaked SPARK_GRAFT_ONLY during a
    // gate run produces a loudly-red subset instead of a silently-green
    // one. Subset runs additionally drop an explicit marker.
    val declared = SparkEntry.queries.keys.toSeq.sorted
      .map(q).mkString("[", ",", "]")
    Files.writeString(Paths.get(s"$outDir/declared_queries.json"), declared)
    if (only.isDefined)
      Files.writeString(Paths.get(s"$outDir/SUBSET_MARKER"),
        only.get.toSeq.sorted.mkString(","))
    else
      // outDir reuse is supported (per-query dumps overwrite), so a
      // FULL run must clear any stale subset marker or check_oracle.py
      // would permanently flag the directory (round-5 ADVICE).
      Files.deleteIfExists(Paths.get(s"$outDir/SUBSET_MARKER"))
    spark.stop()
  }
}
