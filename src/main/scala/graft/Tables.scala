package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-provided Parquet testdata (TESTDATA.md).
  *
  * Reads the table root directly so Catalyst gets native Parquet
  * filter pushdown + column pruning (the reference reads schema-full
  * JSON and prunes manually — `processing_raw_data_from_gcs.py:79-85`;
  * Parquet makes both automatic).
  */
object Tables {
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  /** The generator has shipped `events.ts` in two physical layouts:
    * Parquet TIMESTAMP(NANOS) (which vanilla Spark rejects — read the
    * nanos as longs) and, since 2026-08-13, TIMESTAMP(MICROS,
    * isAdjustedToUTC=false) (which Spark reads as TIMESTAMP_NTZ).
    * Adapt to whichever is on disk and normalize to a session-zone
    * (UTC) TimestampType column so every downstream operator and the
    * DuckDB oracle (naive timestamps, TimeZone=UTC) see identical
    * wall-clock values.
    */
  private[graft] def eventsRaw(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType}
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = spark.read.parquet(s"$sfDir/events.parquet")
    df.schema("ts").dataType match {
      // `div` = exact integer division — a double round-trip would lose
      // precision above 2^53 ns (~epoch 1970+104 days).
      case LongType         => df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case TimestampNTZType => df.withColumn("ts", col("ts").cast("timestamp"))
      case _                => df
    }
  }

  def region(s: SparkSession, d: String): DataFrame     = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = table(s, d, "lineitem")
  def events(s: SparkSession, d: String): DataFrame     = eventsRaw(s, d)
  def documents(s: SparkSession, d: String): DataFrame  = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")
}
