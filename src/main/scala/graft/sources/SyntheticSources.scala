package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Synthetic record sources (SURVEY.md §2 A1–A3).
  *
  * The reference's generators emit constant rows per fetch cycle
  * (reference: golang/chapter_4/sales/sales_data_source.go:10-33, N=10;
  * golang/chapter_4/pipelining/pipelining_producer_client.go:86-98, N=25;
  * golang/cmd/multi_event/main.go:13-20, fixed 2-event list). Spark-first
  * equivalents: `spark.range` (distributed, no driver materialization) with
  * deterministic per-row expressions; the streaming twin is the
  * `graft-sales` micro-batch source ([[SalesTableProvider]]), whose
  * per-batch admission limit plays the reference's fetch cycle.
  *
  * Scale note: `spark.range(n)` parallelizes across executors, so the same
  * generator that makes 10 rows in a test makes 10^11 rows for a load test
  * without touching the driver.
  */
object SyntheticSources {

  private val Products =
    array(lit("quarter pounder"), lit("blue jeans"), lit("red shirt"),
      lit("black shoes"), lit("tan pants"))
  private val Customers =
    array(lit("Barney Rubble"), lit("Fred Flintstone"), lit("Wilma Flintstone"),
      lit("Betty Rubble"), lit("Pebbles Flintstone"))

  /** A1/A2: deterministic `ProductTransaction` rows — same schema as the
    * reference's generator (golang/chapter_4/sales/sales_data_source.go:3-8):
    * customer_name, product_name, quantity, price. */
  def productTransactions(spark: SparkSession, n: Long): DataFrame =
    spark.range(n).select(
      element_at(Customers, (col("id") % 5 + 1).cast("int")).as("customer_name"),
      element_at(Products, (col("id") % 7 % 5 + 1).cast("int")).as("product_name"),
      (col("id") % 10 + 1).cast("int").as("quantity"),
      round(col("id") % 997 * lit(0.37) + 1.0, 2).as("price"))

  /** A3: the fixed multi-event list (`foo`→`{}`, `bar`→`{"name":"bar"}`). */
  def staticMultiEvents(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq(("foo", "{}"), ("bar", """{"name":"bar"}"""))
      .toDF("key", "json")
      .select(col("key"), col("json").cast("binary").as("value"))
  }

  /** A22's ignore-errors deserialization as a FILE source: JSONL under an
    * EXPLICIT schema (never inferSchema — that is a full extra scan of the
    * data before the real one, a non-starter at 100 TB).
    *
    *  - PERMISSIVE (default): malformed lines survive as rows with the
    *    raw line in `_corrupt_record` and nulls elsewhere — the
    *    log-and-continue behavior of the reference consumer
    *    (golang/chapter_4/sales/sales_consumer_client.go:89-90), but with
    *    the rejects quarantined for reprocessing instead of lost.
    *  - DROPMALFORMED: rejects silently dropped (reference
    *    golang/cmd/consumer/main.go:43-46 skips bad frames).
    *  - FAILFAST: any reject kills the batch.
    */
  def readJsonl(spark: SparkSession, path: String,
      schema: org.apache.spark.sql.types.StructType,
      mode: String = "PERMISSIVE"): DataFrame = {
    val withCorrupt =
      if (mode == "PERMISSIVE")
        schema.add("_corrupt_record", org.apache.spark.sql.types.StringType)
      else schema
    spark.read
      .schema(withCorrupt)
      .option("mode", mode)
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(path)
  }

  /** CSV file source with the same explicit-schema + malformed-row
    * contract as [[readJsonl]]: PERMISSIVE quarantines bad lines into
    * `_corrupt_record`, DROPMALFORMED silently drops them — never infer
    * schemas in a pipeline (inference is a second full scan AND a
    * data-dependent contract). */
  def readCsv(spark: SparkSession, path: String,
      schema: org.apache.spark.sql.types.StructType,
      mode: String = "PERMISSIVE", header: Boolean = false): DataFrame = {
    val withCorrupt =
      if (mode == "PERMISSIVE")
        schema.add("_corrupt_record", org.apache.spark.sql.types.StringType)
      else schema
    spark.read
      .schema(withCorrupt)
      .option("mode", mode)
      .option("header", header.toString)
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .csv(path)
  }
}
