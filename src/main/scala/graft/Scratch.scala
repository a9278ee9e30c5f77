package graft

/** Dev-only contract probe (not part of the driver contract): smoke the
  * flagship entry and check queries↔oracleSql key parity. The verify
  * workflow invokes this — keep this shape stable.
  */
object Scratch {
  def main(args: Array[String]): Unit = {
    val spark = Session.local(8)
    val e = SparkEntry.entry(spark)
    println(s"[probe] entry rows=${e.count()} cols=${e.columns.length}")
    val qk = SparkEntry.queries.keySet
    val ok = SparkEntry.oracleSql.keySet
    println(s"[probe] queries=${qk.size} oracles=${ok.size} " +
      s"missingOracle=${(qk -- ok).toSeq.sorted} extraOracle=${(ok -- qk).toSeq.sorted}")
    spark.stop()
  }
}
