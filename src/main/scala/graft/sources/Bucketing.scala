package graft.sources

import org.apache.spark.sql.DataFrame

/** Bucketed-table layout for co-located joins: write both sides of a
  * recurring big-big join bucketed (and sorted) by the join key, and
  * every subsequent join on that key runs shuffle-free — the scan
  * itself provides the hash distribution and sort order, so the join
  * is a zero-exchange sort-merge.
  *
  * This is the storage-layout half of the 100 TB design: shuffles paid
  * once at write time, amortized over every downstream join/aggregate
  * on the key (the fact-table pattern for lineitem ⋈ orders).
  */
object Bucketing {

  /** Save `df` as a bucketed, per-bucket-sorted catalog table.
    * Drops any prior table AND its orphaned managed location first — a
    * fresh in-memory catalog over an old warehouse dir would otherwise
    * refuse the name (LOCATION_ALREADY_EXISTS).
    *
    * A Parquet BLOOM FILTER is written for the bucket key: the bucket
    * hash routes a probe to one file and the per-bucket sort gives
    * min/max pruning, but a point lookup INSIDE a row group's min/max
    * range (the common case for a hash-valued key like the winnow
    * `fp`, whose values are uniform) still decodes the whole group on
    * stats alone — the bloom filter is what lets the reader skip row
    * groups the bucket hash and zone maps cannot
    * (`BucketingSpec` proves a skipped row group with parquet-mr's
    * filtered reader). `bloomNdv` sizes the filter (expected distinct
    * keys per FILE — overshooting only costs bytes, undershooting
    * costs false positives).
    */
  def bucketize(df: DataFrame, key: String, buckets: Int, table: String,
      bloomNdv: Long = 1L << 20): Unit = {
    val spark = df.sparkSession
    spark.sql(s"DROP TABLE IF EXISTS $table")
    val wh = spark.conf.get("spark.sql.warehouse.dir")
    val loc = new org.apache.hadoop.fs.Path(wh, table.toLowerCase)
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(loc)) fs.delete(loc, true)
    df.write.mode("overwrite").format("parquet")
      .option(s"parquet.bloom.filter.enabled#$key", "true")
      .option(s"parquet.bloom.filter.expected.ndv#$key", bloomNdv.toString)
      .bucketBy(buckets, key)
      .sortBy(key)
      .saveAsTable(table)
  }
}
