package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-generated parquet tables (TESTDATA.md).
  * Column pruning + predicate pushdown happen at the parquet scan as
  * long as callers select/filter declaratively, so these return the
  * raw DataFrame, nothing materialized.
  */
object Tables {
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame    = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = table(s, d, "lineitem")
  /** The events table's `ts` physical type has varied across corpus
    * generations — TIMESTAMP(NANOS) (surfaced as BIGINT nanos under
    * spark.sql.legacy.parquet.nanosAsLong), plain TIMESTAMP(MICROS)
    * without UTC adjustment (surfaced as TIMESTAMP_NTZ), or an
    * already-zoned TIMESTAMP. Normalize all three to Spark's session
    * TimestampType so every downstream operator sees one shape:
    *
    * - BIGINT nanos → µs via INTEGER division (double division would
    *   lose precision above 2^53 ns, i.e. any epoch-2024 value);
    * - TIMESTAMP_NTZ → cast to TIMESTAMP. The session runs UTC
    *   (GraftSession), so the cast is identity on the stored micros —
    *   the same instant DuckDB sees reading the file directly.
    *
    * The loaders never change the caller's session conf: a
    * TIMESTAMP(NANOS) footer needs `spark.sql.legacy.parquet.nanosAsLong`,
    * which [[GraftSession.builder]] sets, and a session without it
    * fails fast naming that conf (see [[eventsTable]]). */
  def events(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType}
    val raw = eventsTable(s, d)
    raw.schema("ts").dataType match {
      case LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast("timestamp"))
      case _ => raw
    }
  }
  /** Structured-Streaming reader over the same events parquet, with the
    * identical `ts` normalization as [[events]]. readStream requires an
    * explicit schema, so peek at the batch footer first and mirror
    * whatever physical shape this corpus generation carries — the
    * streaming twins stay parity-exact with the batch queries without
    * hardcoding a `ts` physical type that the corpus may change. */
  def eventsStream(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType}
    val physical = eventsTable(s, d).schema
    val raw = s.readStream.schema(physical)
      .option("pathGlobFilter", "events.parquet").parquet(d)
    physical("ts").dataType match {
      case LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast("timestamp"))
      case _ => raw
    }
  }

  /** The raw events scan. Spark rejects a TIMESTAMP(NANOS) column
    * unless `spark.sql.legacy.parquet.nanosAsLong` is on; rethrow that
    * as an error naming the conf and where graft sets it, rather than
    * flipping a session-global read option from inside a loader. */
  private def eventsTable(s: SparkSession, d: String): DataFrame =
    try table(s, d, "events")
    catch {
      // the footer may be read in a schema-inference job, which wraps
      // the AnalysisException: match anywhere in the cause chain
      case e: Exception if Iterator.iterate[Throwable](e)(_.getCause)
          .takeWhile(_ != null)
          .exists(t => String.valueOf(t.getMessage).contains("TIMESTAMP(NANOS")) =>
        throw new IllegalStateException(
          s"Tables.events: $d/events.parquet stores ts as TIMESTAMP(NANOS); " +
            "read it on a session with spark.sql.legacy.parquet.nanosAsLong=true " +
            "(GraftSession.builder sets it)", e)
    }

  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")
}
