package graft.candy

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Explicit schemas + readers for the candy-store domain.
  *
  * Reference analogs (semantics only, re-expressed Spark-first):
  *  - products/customers: MySQL JDBC scans (data_processor.py:272-320),
  *    seeded from CSVs — here header CSV reads with explicit schemas
  *    (no inference: schema drift fails fast, and the scan stays
  *    single-pass).
  *  - transactions: per-day Mongo collections of nested docs
  *    (data_processor.py:322-355) — here ONE multiLine JSON read over
  *    every `transactions_YYYYMMDD.json`, with the day key recovered
  *    from the file name. No per-day loop, no O(days) union chain
  *    (the reference's anti-pattern at data_processor.py:490-500):
  *    a single scan scales to any number of days/files.
  *  - daily_summary.csv: the forecast stage's input, read back with the
  *    same policy and its header checked against the schema.
  */
object CandySources {

  val productSchema: StructType = StructType(Seq(
    StructField("product_id", IntegerType),
    StructField("product_name", StringType),
    StructField("product_category", StringType),
    StructField("product_subcategory", StringType),
    StructField("product_shape", StringType),
    StructField("sales_price", DoubleType),
    StructField("cost_to_make", DoubleType),
    StructField("stock", IntegerType)))

  val customerSchema: StructType = StructType(Seq(
    StructField("customer_id", IntegerType),
    StructField("first_name", StringType),
    StructField("last_name", StringType),
    StructField("email", StringType),
    StructField("address", StringType),
    StructField("phone", StringType)))

  /** Nested transaction document: items is array<struct>, qty nullable
    * (FIXTURES.md §1.1; raw files data/dataset_22/transactions_*.json). */
  val txnSchema: StructType = StructType(Seq(
    StructField("transaction_id", LongType),
    StructField("customer_id", IntegerType),
    StructField("timestamp", StringType),
    StructField("items", ArrayType(StructType(Seq(
      StructField("product_id", IntegerType),
      StructField("product_name", StringType),
      StructField("qty", IntegerType)))))))

  /** The process stage's daily_summary.csv, as the forecast stage reads
    * it back (CandyPipeline's dailySummary columns). */
  val dailySummarySchema: StructType = StructType(Seq(
    StructField("date", DateType),
    StructField("num_orders", IntegerType),
    StructField("total_sales", DoubleType),
    StructField("total_profit", DoubleType)))

  def readProducts(spark: SparkSession, path: String): DataFrame =
    spark.read.option("header", "true").schema(productSchema).csv(path)

  def readCustomers(spark: SparkSession, path: String): DataFrame =
    spark.read.option("header", "true").schema(customerSchema).csv(path)

  /** enforceSchema=false checks the header against the schema's names,
    * so a file written with other columns fails instead of being read
    * positionally. */
  def readDailySummary(spark: SparkSession, path: String): DataFrame =
    spark.read.option("header", "true").option("enforceSchema", "false")
      .schema(dailySummarySchema).csv(path)

  /** All daily transaction files in one scan, with replay-order keys:
    *  - `day`: YYYYMMDD from the file name (one file per day);
    *  - `seq`: monotonically_increasing_id — increasing in file order
    *    within each file (multiLine JSON files are unsplittable, so a
    *    file's rows stay in one partition in document order).
    * (day, seq) is the reference's replay order: day-by-day batches,
    * document order within a day (collect() with no sort,
    * data_processor.py:389). */
  def readTransactions(spark: SparkSession, pathGlob: String): DataFrame =
    spark.read.schema(txnSchema).option("multiLine", "true").json(pathGlob)
      .withColumn("day", regexp_extract(input_file_name(), "transactions_(\\d{8})", 1))
      .withColumn("seq", monotonically_increasing_id())
}
