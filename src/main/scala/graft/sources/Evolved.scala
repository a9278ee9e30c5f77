package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** SCHEMA-EVOLVED parquet layout of the `documents` table — the
  * mixed-vintage directory every long-lived warehouse accumulates:
  * early ingest batches were written BEFORE the `lang`/`n_chars`
  * columns existed (files whose parquet footers genuinely lack them),
  * later batches carry the full schema. Readers must merge footers
  * (`mergeSchema`) and see the missing columns as NULL on legacy rows —
  * the evolution contract that lets a 100 TB corpus add columns
  * without rewriting history.
  *
  * The split is deterministic (`doc_id % 2`: even → legacy vintage,
  * odd → evolved), so the q221 oracle can recompute the merged view
  * from the ORIGINAL parquet. Built write-once per corpus fingerprint
  * via [[Materialize.once]] (atomic rename, `_SUCCESS` gate), two
  * append writes into one directory.
  */
object Evolved {

  private val relCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), DataFrame]()

  /** The documents table THROUGH the evolved layout, merged-schema. */
  def documentsFor(spark: SparkSession, dir: String): DataFrame = {
    val path = Materialize.once(dir, "documents-evolved",
      s"$dir/documents.parquet") { tmp =>
      writeVintages(Tables.documents(spark, dir), tmp)
    }
    relCache.computeIfAbsent((spark, path), _ =>
      spark.read.option("mergeSchema", "true").parquet(path))
  }

  private def writeVintages(d: DataFrame, path: String): Unit = {
    // legacy vintage: the footer must NOT contain lang/n_chars
    d.filter(col("doc_id") % 2 === 0)
      .select(col("doc_id"), col("text"), col("source"))
      .repartition(4)
      .write.mode("overwrite").parquet(path)
    // evolved vintage: full schema appended into the same directory
    d.filter(col("doc_id") % 2 =!= 0)
      .select(col("doc_id"), col("text"), col("source"),
        col("lang"), col("n_chars"))
      .repartition(4)
      .write.mode("append").parquet(path)
  }
}
