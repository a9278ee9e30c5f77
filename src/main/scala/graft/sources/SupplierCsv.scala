package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** CSV source/sink for the supplier domain with fixed, explicit schemas —
  * the reference deliberately declares DDL instead of trusting inference
  * ("explicitly defining the schema helps avoid issues with automatic
  * type inference", load_duckdb.py:38). Never `inferSchema`: a two-pass
  * scan, and nondeterministic at scale.
  *
  * The reference loads by position (`INSERT INTO … SELECT *`,
  * load_duckdb.py:76-95), so a file whose header names or orders the
  * columns differently from the DDL would load shifted values; [[read]]
  * rejects such a file instead.
  */
object SupplierCsv {

  /** suppliers DDL (load_duckdb.py:41-48). */
  val suppliersSchema: StructType = StructType(Seq(
    StructField("supplier_id", StringType),
    StructField("supplier_name", StringType),
    StructField("category", StringType),
    StructField("country", StringType),
    StructField("financial_risk_score", IntegerType)))

  /** purchase_orders DDL (load_duckdb.py:53-60). */
  val purchaseOrdersSchema: StructType = StructType(Seq(
    StructField("po_id", StringType),
    StructField("supplier_id", StringType),
    StructField("order_date", DateType),
    StructField("promised_date", DateType),
    StructField("quantity_ordered", IntegerType)))

  /** deliveries DDL (load_duckdb.py:65-71). */
  val deliveriesSchema: StructType = StructType(Seq(
    StructField("po_id", StringType),
    StructField("delivery_date", DateType),
    StructField("quantity_delivered", IntegerType),
    StructField("quality_issues", IntegerType)))

  val schemas: Map[String, StructType] = Map(
    "suppliers" -> suppliersSchema,
    "purchase_orders" -> purchaseOrdersSchema,
    "deliveries" -> deliveriesSchema)

  /** Read one table's CSV with its declared schema (header row, ISO
    * dates — Spark's DateType default). `enforceSchema` off makes the
    * scan check each file's header line against the DDL's names and
    * order, failing with "CSV header does not conform to the schema".
    */
  def read(spark: SparkSession, path: String, table: String): DataFrame =
    spark.read
      .schema(schemas(table))
      .option("header", true)
      .option("enforceSchema", false)
      .csv(path)

  /** Write a DataFrame as a CSV directory: one headered part file per
    * task, so the write and every later scan of the table run at the
    * frame's own parallelism (the reference writes one file per table,
    * generate_data.py:190-211; [[read]] and a glob over the directory's
    * `.csv` files see the same rows either way).
    */
  def write(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").option("header", true).csv(path)
}
