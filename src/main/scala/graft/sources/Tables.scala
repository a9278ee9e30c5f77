package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Parquet table loader over the driver corpus (`TESTDATA.md`).
  *
  * Every query in the engine reads through here so that source-level
  * concerns (format, pruning, partition sizing) live in one place.
  * Column pruning + predicate pushdown reach the parquet scan because we
  * hand Catalyst a plain `spark.read.parquet` relation — never a cached
  * RDD or a collected snapshot.
  */
object Tables {

  /** Full corpus table list (TESTDATA.md). */
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Event-time columns whose physical parquet type has varied across
    * fixture generations: TIMESTAMP(NANOS) (read as raw nanos-since-epoch
    * longs via `spark.sql.legacy.parquet.nanosAsLong` — Spark has no
    * nanosecond type — and integer-`div`'d to micros; a double divide
    * would lose sub-second precision at 1.7e18 nanos) or
    * TIMESTAMP(MICROS, isAdjustedToUTC=false) (read as TIMESTAMP_NTZ and
    * cast to the session type — every graft session pins
    * `spark.sql.session.timeZone=UTC`, so the cast relabels the same
    * micros value, exactly how the DuckDB oracle reads the naive column).
    * The normalization keys on the OBSERVED type, so either vintage of
    * fixture reads to identical TimestampType values.
    */
  private val eventTimeCols: Map[String, Seq[String]] = Map(
    "orders" -> Seq("o_orderdate"),
    "lineitem" -> Seq("l_shipdate"),
    "events" -> Seq("ts"))

  /** Analyzed-relation cache. The corpus dirs are immutable
    * (TESTDATA.md: read-only), so after the first touch the per-read
    * driver work — directory listing, footer schema resolution, a fresh
    * `InMemoryFileIndex` — is pure planning-time waste, exactly what a
    * catalog's table-metadata cache removes; at bench scale it recurred
    * 87 queries × 2 passes × up to 10 tables. Keyed by session so tests
    * and fresh tool sessions re-resolve; a cached plan on both sides of
    * a join deduplicates attribute ids like any catalog self-join.
    */
  private val relCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), DataFrame]()

  def apply(spark: SparkSession, dir: String, name: String): DataFrame =
    relCache.computeIfAbsent((spark, s"$dir/$name"), _ => {
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val raw = spark.read.parquet(s"$dir/$name.parquet")
      eventTimeCols.getOrElse(name, Nil).foldLeft(raw) { (df, c) =>
        if (!df.schema.fieldNames.contains(c)) df
        else df.schema(c).dataType match {
          case LongType => df.withColumn(c, timestamp_micros(expr(s"$c div 1000")))
          case TimestampNTZType => df.withColumn(c, col(c).cast(TimestampType))
          case _ => df
        }
      }
    })

  /** Widen an under-partitioned scan for map parallelism — gated, never
    * unconditional. The single-file test fixtures give parquet one scan
    * partition, so per-row kernels (minhash, simhash, shingles, vector
    * math) would run single-core; a real multi-file 100 TB corpus already
    * has file-split parallelism and must NOT pay a corpus-wide shuffle
    * before map-only work. We therefore repartition only when the
    * physical scan yields fewer partitions than `defaultParallelism`
    * (`PlanQualitySpec` asserts no Exchange is added for already-parallel
    * input).
    */
  def widened(df: DataFrame, key: Column): DataFrame = {
    val parallelism = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions >= parallelism) df
    else
      // pin the partition count: a bare repartition(key) is
      // REPARTITION_BY_COL, which AQE's partition coalescer is free to
      // collapse by BYTE size — measured r13: the q203 bigram kernel
      // stage ran 2 tasks on 32 cores because ~10 MB of text "fits" in
      // one advisory partition. Widening exists precisely for CPU-bound
      // per-row kernels where cost tracks rows, not bytes, so the
      // explicit count (user-specified ⇒ AQE keeps it) is the intent.
      df.repartition(parallelism, key)
  }

  def region(spark: SparkSession, dir: String): DataFrame    = apply(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame    = apply(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame  = apply(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame  = apply(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame      = apply(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame    = apply(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame  = apply(spark, dir, "lineitem")
  def events(spark: SparkSession, dir: String): DataFrame    = apply(spark, dir, "events")
  def documents(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "embeddings")
}
