package graft

import org.apache.spark.sql.SparkSession

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

  /** Jobs launched by `f`, isolated via a job group; the status
    * tracker is fed asynchronously off the listener bus, so poll
    * until the count is stable.
    */
  def jobsOf(tag: String)(f: => Unit): Int = {
    val sc = spark.sparkContext
    sc.setJobGroup(tag, tag, interruptOnCancel = false)
    try f
    finally sc.clearJobGroup()
    var last = -1
    var cur = sc.statusTracker.getJobIdsForGroup(tag).length
    var spins = 0
    while (cur != last && spins < 50) {
      last = cur
      Thread.sleep(100)
      cur = sc.statusTracker.getJobIdsForGroup(tag).length
      spins += 1
    }
    cur
  }
}
