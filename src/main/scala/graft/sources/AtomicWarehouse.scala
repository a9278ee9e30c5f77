package graft.sources

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}
import org.apache.spark.sql.types._

/** Atomic drop-and-recreate for warehouse tables.
  *
  * The reference's pipeline recreates its tables while read-only
  * dashboard connections stay open (load_duckdb.py:32-36 DROP+CREATE
  * inside DuckDB's transactional catalog; dashboard/app.py:39
  * `read_only=True`), so readers never observe a half-written table.
  * Plain `mode("overwrite").parquet(path)` does NOT give that: Spark
  * deletes the directory, then writes files into it — a concurrent
  * reader sees an empty or partial listing.
  *
  * This implements the snapshot-pointer pattern (the mechanism table
  * formats like Delta/Iceberg build on, reduced to one table = one
  * current version): each overwrite writes a complete new version
  * directory `<table>/v-<millis>-<salt>/`, then flips the one-line
  * `<table>/_CURRENT` pointer file via an atomic same-directory rename
  * (POSIX `rename(2)`; on HDFS a single-file rename is likewise
  * atomic). Readers resolve the pointer and read a directory that is
  * complete by construction — they see the old version or the new one,
  * never a mix. The previous version is retained for in-flight readers;
  * older generations are garbage-collected on the next overwrite.
  *
  * A version carries its schema: `overwrite` stores it as JSON in
  * `<version>/_schema.json` (Spark's file listing skips `_`-prefixed
  * names) before the pointer flip, and reads hand it to
  * `spark.read.schema`, so opening a table launches no schema-inference
  * job. Plain directories and versions without the file are inferred as
  * before.
  */
object AtomicWarehouse {

  private val SchemaFile = "_schema.json"

  private def tableDir(root: String, table: String) = new File(root, table)

  /** Atomically publish `df` as the new contents of `<root>/<table>`;
    * returns the number of rows published, counted by the write itself
    * (an observed metric, no second pass over the data).
    *
    * `gcGraceMs`: superseded versions are deleted only once they are
    * both outside the newest two generations AND older than this grace
    * period — an in-flight reader that resolved the pointer just before
    * a burst of overwrites must be able to finish its scan (the same
    * reason snapshot-expiry in production table formats is time-based,
    * not count-based).
    */
  def overwrite(df: DataFrame, root: String, table: String,
      gcGraceMs: Long = 60000L): Long = {
    val dir = tableDir(root, table)
    dir.mkdirs()
    // millis prefix makes version names lexicographically time-ordered;
    // salt disambiguates same-millis writes. The clock is LAMPORT-bumped
    // past the newest existing version so two publishes inside one
    // millisecond still order by name — [[readVersion]]'s time-travel
    // walk depends on name order matching publish order.
    val now = System.currentTimeMillis()
    val floor = versionsOf(dir).sorted(Ordering[String].reverse).headOption
      .flatMap(v => scala.util.Try(v.slice(2, 15).toLong).toOption)
      .getOrElse(0L)
    val millis = math.max(now, floor + 1)
    val version = f"v-$millis%013d-${scala.util.Random.alphanumeric.take(6).mkString}"
    val versionDir = new File(dir, version)
    val rows = Observation()
    df.observe(rows, count(lit(1)).as("rows"))
      .write.mode("overwrite").parquet(versionDir.toString)
    Files.writeString(new File(versionDir, SchemaFile).toPath, nullable(df.schema).json)

    val tmp = new File(dir, s"._CURRENT.$version")
    Files.writeString(tmp.toPath, version)
    Files.move(tmp.toPath, new File(dir, "_CURRENT").toPath,
      StandardCopyOption.ATOMIC_MOVE)

    val cutoff = System.currentTimeMillis() - gcGraceMs
    versionsOf(dir).sorted(Ordering[String].reverse).drop(2)
      .map(v => new File(dir, v))
      .filter(_.lastModified() < cutoff)
      .foreach(deleteRecursively)
    rows.get("rows").asInstanceOf[Long]
  }

  /** Read the current version of `<root>/<table>`. Falls back to the
    * plain directory when no `_CURRENT` pointer exists (a table written
    * by ordinary `.parquet(path)`), so readers work on both layouts.
    */
  def read(spark: SparkSession, root: String, table: String): DataFrame =
    readDir(spark, new File(currentPath(root, table)))

  /** TIME-TRAVEL read: the version `stepsBack` generations behind the
    * current pointer (0 = current, 1 = the previous snapshot an
    * in-flight reader may still be scanning). The snapshot-pointer
    * layout retains the newest two generations (plus a GC grace
    * window), so `stepsBack = 1` is always resolvable right after an
    * overwrite — the "what did this table say before today's publish"
    * read that production table formats expose as VERSION AS OF.
    */
  def readVersion(spark: SparkSession, root: String, table: String,
      stepsBack: Int): DataFrame = {
    val dir = tableDir(root, table)
    val cur = Files.readString(new File(dir, "_CURRENT").toPath).trim
    val vs = versionsOf(dir).sorted(Ordering[String].reverse)
    val idx = vs.indexOf(cur)
    require(idx >= 0 && idx + stepsBack < vs.length,
      s"no version $stepsBack generations behind $cur (have ${vs.length})")
    readDir(spark, new File(dir, vs(idx + stepsBack)))
  }

  def currentPath(root: String, table: String): String = {
    val dir = tableDir(root, table)
    val cur = new File(dir, "_CURRENT")
    if (cur.isFile)
      new File(dir, Files.readString(cur.toPath).trim).toString
    else dir.toString
  }

  /** Parquet read of one directory, with its stored schema when it has
    * one, else inferred.
    */
  private def readDir(spark: SparkSession, dir: File): DataFrame = {
    val schema = new File(dir, SchemaFile)
    if (schema.isFile)
      spark.read.schema(DataType.fromJson(Files.readString(schema.toPath)).asInstanceOf[StructType])
        .parquet(dir.toString)
    else spark.read.parquet(dir.toString)
  }

  /** The schema a parquet read infers from what `df` wrote: every field,
    * array element and map value made nullable, at any depth (Spark's own
    * `asNullable` is not public).
    */
  private def nullable(t: StructType): StructType =
    StructType(t.fields.map(f => f.copy(dataType = nullable(f.dataType), nullable = true)))

  private def nullable(t: DataType): DataType = t match {
    case s: StructType => nullable(s)
    case ArrayType(e, _) => ArrayType(nullable(e), containsNull = true)
    case MapType(k, v, _) => MapType(nullable(k), nullable(v), valueContainsNull = true)
    case other => other
  }

  private def versionsOf(dir: File): Seq[String] =
    Option(dir.listFiles()).toSeq.flatten
      .filter(f => f.isDirectory && f.getName.startsWith("v-"))
      .map(_.getName)

  private def deleteRecursively(f: File): Unit = {
    Option(f.listFiles()).toSeq.flatten.foreach(deleteRecursively)
    f.delete(); ()
  }
}
