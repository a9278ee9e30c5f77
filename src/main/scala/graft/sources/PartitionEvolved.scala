package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** PARTITION-SPEC-EVOLVED event layout — the second evolution axis next
  * to [[Evolved]]'s schema evolution: a long-lived fact table that
  * STARTED coarsely partitioned (one directory per month) and was
  * migrated to daily partitioning mid-life — the spec change every
  * growing warehouse makes when month directories get too fat to prune
  * usefully, without rewriting accumulated history (at 100 TB the old
  * vintage never rewrites; new data simply lands under the new spec).
  *
  * Readers union the two vintages, each normalized to BOTH pruning
  * keys: the daily vintage's `event_date` is a real partition column
  * (planning-time directory pruning — `PartitionFilters`, plan-gated);
  * the monthly vintage exposes a DERIVED `event_date` (row-level, so a
  * day predicate over old months filters post-scan after `event_month`
  * prunes to the touched month — the honest cost of not rewriting
  * history, and exactly how Hive/Iceberg-style spec evolution behaves
  * for pre-evolution snapshots).
  *
  * The migration point is deterministic ([[MigrateTs]]), so the q228
  * oracle recomputes the merged view from the ORIGINAL parquet.
  */
object PartitionEvolved {

  /** The migration instant: rows before it live in the monthly vintage. */
  val MigrateTs = "2024-01-16 00:00:00"

  private val relCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), DataFrame]()

  /** The events table THROUGH the evolved layout (write-once per corpus
    * fingerprint, the [[Materialize.once]] discipline).
    */
  def eventsFor(spark: SparkSession, dir: String): DataFrame = {
    val path = Materialize.once(dir, "events-partition-evolved",
      s"$dir/events.parquet")(
      tmp => writeVintages(Tables.events(spark, dir), tmp))
    relCache.computeIfAbsent((spark, path), _ => read(spark, path))
  }

  /** Write both vintages of an explicit events relation to `path`. */
  def writeVintages(events: DataFrame, path: String): Unit = {
    val cut = to_timestamp(lit(MigrateTs))
    events.filter(col("ts") < cut)
      .withColumn("event_month", date_format(col("ts"), "yyyy-MM"))
      .write.mode("overwrite").partitionBy("event_month")
      .parquet(s"$path/monthly")
    events.filter(col("ts") >= cut)
      .withColumn("event_date", to_date(col("ts")))
      .write.mode("overwrite").partitionBy("event_date")
      .parquet(s"$path/daily")
  }

  /** Merge the vintages: shared logical schema, both pruning keys, and
    * a `vintage` provenance column.
    */
  def read(spark: SparkSession, path: String): DataFrame = {
    val m = spark.read.parquet(s"$path/monthly")
      .withColumn("vintage", lit("monthly"))
      .withColumn("event_date", to_date(col("ts"))) // derived, row-level
    val d = spark.read.parquet(s"$path/daily")
      .withColumn("vintage", lit("daily"))
      .withColumn("event_month", date_format(col("ts"), "yyyy-MM"))
    m.unionByName(d)
  }
}
