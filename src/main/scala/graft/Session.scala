package graft

import org.apache.spark.sql.SparkSession

/** The one local session shape every main runs on (`Bench`, `Verify`,
  * `QProf`, the pipelines and `ScaleCurve`), so a query is timed,
  * verified and profiled under the same confs:
  *  - `local[cores]` with `cores` shuffle partitions;
  *  - UTC session time zone (the fixtures' event-time columns are
  *    normalized to TimestampType, so the zone must be pinned);
  *  - no UI; shuffle scratch and warehouse on tmpfs;
  *  - parquet aggregate pushdown.
  *
  * Test sessions (`TestSpark`, with task-retry injection) build their
  * own.
  */
object Session {

  /** Cores from `SPARK_GRAFT_CPUS`, default 32. */
  def defaultCores: Int = {
    val v = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    v.toIntOption.filter(_ > 0).getOrElse(
      throw new IllegalArgumentException(
        s"SPARK_GRAFT_CPUS must be a positive integer, got '$v'"))
  }

  def local(cores: Int = defaultCores): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", "/dev/shm/spark-scratch")
      .config("spark.sql.warehouse.dir", "/dev/shm/graft-wh")
      .config("spark.sql.parquet.aggregatePushdown", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
