package graft

import org.apache.spark.sql.SparkSession

/** SQL entry point: register every testdata table as a temp view so the
  * whole engine surface is reachable through `spark.sql(...)` as well as
  * the DataFrame API (both build the same logical plans — Catalyst does
  * not care which front end declared them). */
object Sql {
  val tableNames: Seq[String] = Seq("region", "nation", "customer",
    "supplier", "part", "orders", "lineitem", "events", "documents",
    "embeddings")

  /** Register `<name>` views over `sfDir`; events gets the shared
    * nanos→micros normalization so SQL and DataFrame reads agree.
    * Idempotent per (session, dir): repeat calls (every SQL-front-end
    * query invocation) skip re-registering the 10 views, about 50 ms
    * even once [[Tables.parquet]] has their schemas. */
  def registerTables(spark: SparkSession, sfDir: String): Unit = {
    val key = Integer.valueOf(System.identityHashCode(spark))
    // track the CURRENT dir per session - switching dirs re-registers,
    // repeating the same dir skips the re-registration
    if (current.put(key, sfDir) != sfDir) {
      tableNames.foreach { t =>
        Tables.load(spark, sfDir, t) match {
          case df if t == "events" =>
            Tables.normalizeNanos(df).createOrReplaceTempView(t)
          case df => df.createOrReplaceTempView(t)
        }
      }
    }
  }

  private val current =
    new java.util.concurrent.ConcurrentHashMap[Integer, String]()
}
