package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-generated parquet tables (TESTDATA.md).
  *
  * Scale note: `spark.read.parquet` is a DataSource-v2 scan — predicate
  * pushdown + column pruning reach the parquet reader, partition count
  * follows `spark.sql.files.maxPartitionBytes`, so the same loaders work
  * unchanged against a multi-TB directory on a real cluster.
  */
object Tables {
  /** Load `dir/name.parquet`. Each call runs one parquet schema-inference
    * job on the driver, so a query pays one job per table load it makes
    * (outside a memo build) while it is constructed. */
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** `events.ts` arrives in whatever physical shape the driver's generator
    * chose for the round — parquet TIMESTAMP(NANOS) (Spark 4 refuses to map
    * it, so read as long via the legacy conf and integer-divide: epoch-nanos
    * ~1.7e18 exceed 2^53, double division would lose precision), TIMESTAMP_NTZ
    * (µs, no zone — reinterpret as UTC instant to match DuckDB's epoch_ns
    * reading of the same naive value), or already a zoned TIMESTAMP. Normalize
    * all three to session-UTC TimestampType so every downstream operator and
    * oracle sees identical µs instants.
    *
    * Side effect: this read sets `spark.sql.legacy.parquet.nanosAsLong=true`
    * for the WHOLE session, so every later parquet read in it also maps
    * TIMESTAMP(NANOS) to long. Spark 4.1's parquet reader has no per-read
    * option for this (its read options are only mergeSchema, compression,
    * datetimeRebaseMode and int96RebaseMode), so the flag is session state.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    import org.apache.spark.sql.functions.{col, expr}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    val raw = table(spark, dir, "events")
    raw.schema("ts").dataType match {
      case LongType => // epoch-nanos payload
        raw.withColumn("ts", expr("timestamp_micros(ts DIV 1000)"))
      case TimestampNTZType => // naive µs wall-clock == UTC instant (session tz is UTC)
        raw.withColumn("ts", col("ts").cast(TimestampType))
      case _ => raw
    }
  }
  def lineitem(spark: SparkSession, dir: String): DataFrame  = table(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame    = table(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame  = table(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame  = table(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame      = table(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame    = table(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame    = table(spark, dir, "region")
  def documents(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "embeddings")
}
