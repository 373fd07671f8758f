package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Parquet table catalog for a data directory (TESTDATA.md layout).
  *
  * Plain `spark.read.parquet` keeps the scan fully Catalyst-visible:
  * filters and column pruning from downstream operators reach the
  * parquet reader (check `PushedFilters`/`ReadSchema` in explain).
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = load(s, d, "lineitem")

  /** events.ts normalization — SCHEMA-ADAPTIVE. Different testdata
    * generations store ts with different parquet physical types, so
    * branch on what the reader actually produced instead of assuming:
    *   - LongType       → file was TIMESTAMP(NANOS) read via the
    *                      `nanosAsLong` legacy conf; truncate to µs
    *                      TimestampType (matches DuckDB's ns value up
    *                      to the µs Spark can represent).
    *   - TimestampNTZType → file was TIMESTAMP(MICROS/MILLIS,
    *                      isAdjustedToUTC=false); the session is UTC
    *                      (every GraftSession pins it), so
    *                      the cast to TimestampType is value-identity
    *                      and matches DuckDB's naive read.
    *   - TimestampType  → pass through.
    * Used by BOTH the batch loader below and the streaming reader
    * (graft.streaming.EventStreams), so the two paths can never
    * diverge again (r4 incident: testdata regenerated ns→µs, the
    * batch path threw and the stream path silently compressed every
    * timestamp 1000×).
    */
  def normalizeEventTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, timestamp_micros}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    df.schema("ts").dataType match {
      case LongType =>
        df.withColumn("ts", timestamp_micros((col("ts") / 1000L).cast("long")))
      case TimestampNTZType =>
        df.withColumn("ts", col("ts").cast(TimestampType))
      case _ => df
    }
  }

  def events(s: SparkSession, d: String): DataFrame = {
    // harmless for µs files; required to read TIMESTAMP(NANOS) at all
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    normalizeEventTs(load(s, d, "events"))
  }
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
