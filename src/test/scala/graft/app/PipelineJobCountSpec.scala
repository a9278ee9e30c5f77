package graft.app

import org.scalatest.funspec.AnyFunSpec

import graft.TestSpark

/** Job-count pin for the supplier DAG's four stages, counted the way
  * `JobCountSpec` counts the catalog queries: one warm run of the whole
  * DAG, then each stage of a second run in its own job group. Exact
  * pins; a deliberate plan change re-baselines them here.
  */
class PipelineJobCountSpec extends AnyFunSpec {
  private lazy val spark = TestSpark.spark
  private val dir = "/dev/shm/graft-test-pipeline-jobs"

  private val stages: Seq[(String, () => Any)] = Seq(
    "generate" -> (() => Pipeline.generate(spark, dir, nSuppliers = 8, nPos = 200, seed = 7L)),
    "load" -> (() => Pipeline.load(spark, dir)),
    "kpis" -> (() => Pipeline.kpis(spark, dir)),
    "risk" -> (() => Pipeline.risk(spark, dir)))

  describe("supplier DAG job structure") {
    it("pins the steady-state jobs of generate, load, kpis and risk") {
      stages.foreach { case (n, f) => TestSpark.jobsOf(s"dag-warm-$n")(f()) }
      val got = stages.map { case (n, f) => n -> TestSpark.jobsOf(s"dag-$n")(f()) }
      // 4 / 7 / 6 / 5 = 22 jobs. The parent commit ran 4 / 20 / 10 / 7
      // = 41: every warehouse read launched a schema-inference job, and
      // load re-read and counted each table it published and ran two
      // anti-joins, not one orphan query. generate is unchanged: three
      // CSV writes plus the suppliers broadcast of the deliveries join.
      assert(got == Seq("generate" -> 4, "load" -> 7, "kpis" -> 6, "risk" -> 5))
    }
  }
}
