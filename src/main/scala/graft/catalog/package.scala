package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The gate catalog: every query the driver gates, declared once as a
  * [[catalog.Gate]] — name, Spark builder and DuckDB oracle — in one
  * file per family: q1–q65 [[catalog.RelationalGates]], q66–q101
  * [[catalog.CurationGates]], t [[catalog.TextGates]], d
  * [[catalog.DedupGates]], e [[catalog.EmbeddingGates]], c
  * [[catalog.CorpusGates]], m [[catalog.MediaGates]] and the streams of
  * the shared pass, s [[catalog.StreamGates]]. [[catalog.Catalog]]
  * assembles and checks them; `SparkEntry` derives the driver
  * contract's maps from it.
  *
  * Conventions keeping the exact-hash compare stable:
  *   - column names and final types cast explicitly on BOTH sides;
  *   - doubles aggregated as DECIMAL(18,2) (order-independent), then
  *     the FINAL column is cast decimal→double on both sides — the
  *     conversion is correctly rounded in both engines (verified), so
  *     bits match, and the driver's typed hash sees double==double
  *     (a raw DECIMAL output column hash-mismatches the oracle even
  *     when values stringify identically — round-1 ADVICE.md);
  *   - timestamps output as epoch micros BIGINT (`unix_micros` /
  *     `epoch_us`) — raw timestamp columns differ in UTC adjustment
  *     between Spark parquet and DuckDB;
  *   - ranking windows use row_number over a total order.
  */
package object catalog {

  /** A gate's Spark side: its result over the sf fixture tables in the
    * given directory. */
  type Build = (SparkSession, String) => DataFrame
}
