package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graft.PlanBridge

/** One shared local session for the whole forked test JVM. */
object TestSpark {
  // local[4, 4]: 4 threads with spark.task.maxFailures = 4, so the
  // retry-determinism gate can inject first-attempt task failures and
  // prove retried tasks cannot flip a gated hash
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4, 4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.local.dir", "/dev/shm/spark-scratch")
    .config("spark.sql.warehouse.dir", "/dev/shm/graft-test-warehouse")
    .getOrCreate()

  val Sf = "/root/testdata/sf0.001"

  /** The reference checkout's committed seed-42 CSVs (15 / 600 / 600
    * rows), the only input the golden specs' exact values hold for.
    * Specs that need them start with `assume(RefData.present, ...)`,
    * so they run wherever the checkout is and are canceled elsewhere.
    */
  object RefData {
    val Dir = "/root/reference/data"
    def present: Boolean = new java.io.File(Dir).isDirectory
    val Missing = s"reference seed-42 CSVs not found at $Dir"
  }

  /** Jobs launched by `f`, counted by
    * [[org.apache.spark.sql.graft.PlanBridge.jobsOf]].
    */
  def jobsOf(tag: String)(f: => Unit): Int = PlanBridge.jobsOf(spark, tag)(f)
}
