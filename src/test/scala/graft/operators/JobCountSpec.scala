package graft.operators

import org.scalatest.funspec.AnyFunSpec

import graft.SparkEntry
import graft.TestSpark

/** Job-count regression guard for the ITERATIVE catalog queries (the
  * round-8 lesson: q103/q110/q49/q50/q109 wall-time regressions were
  * attributed to the host stall band, but nothing PINNED their job
  * structure, so a plan regression — an extra shuffle per round, a
  * lost localCheckpoint, lineage re-execution — would have been
  * indistinguishable from host noise without a full bench run).
  *
  * Scheduler job count is the right invariant: it counts actions +
  * AQE query-stage materializations, i.e. the per-round shuffle/job
  * constants these queries' docstrings promise, and it is
  * deterministic for a fixed plan + fixture where wall time on this
  * VM is 2–8× noisy. The pins are EXACT; if a deliberate plan change
  * moves a count, the spec's failure message says which query to
  * re-baseline.
  */
class JobCountSpec extends AnyFunSpec {
  private lazy val spark = TestSpark.spark
  private val sf = TestSpark.Sf

  /** Count the STEADY-STATE job structure: one untimed warm-up run
    * absorbs whatever one-time session/layout materialization work is
    * still pending (which otherwise makes the count depend on suite
    * ORDER — the full-suite run had warmed state the isolated run had
    * not), then the second run's count is pinned.
    */
  private def run(name: String): Int = {
    def once(tag: String): Int = TestSpark.jobsOf(tag) {
      SparkEntry.queries(name)(spark, sf)
        .write.format("noop").mode("overwrite").save()
    }
    once(s"jobcount-warm-$name")
    once(s"jobcount-$name")
  }

  private def pin(name: String, expected: Int): Unit =
    it(s"$name: job structure is pinned at $expected") {
      val got = run(name)
      assert(got == expected,
        s"$name launched $got jobs, pinned $expected — a plan change " +
          "(extra shuffle per round, lost checkpoint, lineage re-run) " +
          "or a deliberate re-baseline; wall-time noise cannot move this")
    }

  // capped-basket checkpoint (icnt agg + cap window) + 3 rounds ×
  // (edge join + DECIMAL agg stages) + transition checkpoint + nItems
  // count + the final rank/write chain (steady-state: the cold first
  // run pays one extra one-time job, absorbed by the warm-up)
  pin("q103_item_pagerank", 28)
  // capped-basket stages + supported-edge checkpoint (r12-opt: the
  // edge set feeds degrees, orientation and the closing join — the
  // checkpoint adds jobs but removes four basket self-join replays)
  // + wedge join + closing hash join
  pin("q110_item_triangles", 16)
  // capped-basket checkpoint + pair-relation checkpoint (r12-opt: the
  // quantile probe and filter share one pair build) + 3 LPA rounds +
  // final-label checkpoint (size census + closing join share it)
  pin("q140_label_communities", 30)
  // binned interval self-join + exact post-filter; r13: the DISTINCT
  // (and its job) is gone — the canonical-bin join predicate emits each
  // overlapping pair exactly once, so multi-bin double-matches never
  // exist to collapse
  pin("q109_session_overlap", 8)
}
