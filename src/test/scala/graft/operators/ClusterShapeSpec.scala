package graft.operators

import org.apache.spark.sql.DataFrame
import org.scalatest.funspec.AnyFunSpec

import graft.SparkEntry
import graft.TestSpark

/** Multi-node shape rehearsal: the cheapest available evidence that the
  * catalog's plans survive CLUSTER-shaped parallelism, not just the
  * local[4]/32 test shape. Two dials move together to the 1000-executor
  * posture: `spark.sql.shuffle.partitions = 200` (the Spark default a
  * cluster job would start from — 50× this suite's 4) and
  * `spark.graft.graph.domainSizeHint` above [[Analytics.DimBroadcastMax]]
  * (forcing the dim-broadcast fallback to its shuffle-join path, the
  * shape a 100 TB item catalog takes). Gates:
  *
  *  (a) NO GATED HASH MOVES — representative gated queries from every
  *      heavy module must return byte-identical rows. A query whose
  *      values depended on partition count (accumulation order outside
  *      a rounded/exact aggregate, a positional id, a first-row
  *      nondeterminism) fails here before a real cluster finds it.
  *  (b) JOB STRUCTURE is parallelism-invariant — the JobCountSpec pins
  *      for the iterative queries must hold unchanged at 200 shuffle
  *      partitions (job count tracks plan structure, never partition
  *      fan-out).
  */
class ClusterShapeSpec extends AnyFunSpec {
  private lazy val spark = TestSpark.spark
  private val sf = TestSpark.Sf

  private def withClusterShape[T](forceDimFallback: Boolean)(f: => T): T = {
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "200")
    if (forceDimFallback)
      spark.conf.set("spark.graft.graph.domainSizeHint",
        (Analytics.DimBroadcastMax + 1).toString)
    try f finally {
      spark.conf.set("spark.sql.shuffle.partitions", before)
      spark.conf.unset("spark.graft.graph.domainSizeHint")
    }
  }

  private def canon(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.map {
      case d: Double => f"$d%.12g"
      case x => String.valueOf(x)
    }.mkString("|")).toSeq.sorted

  private def rows(q: String): Seq[String] =
    canon(SparkEntry.queries(q)(spark, sf))

  // one hash-gated representative per heavy module: joins/agg (q04),
  // LSH self-join (q22), hash split (q45), connected components (q54),
  // prefix-scan packing (q63), dup spans (q82), iterative pagerank
  // (q103), LPA (q140), LM scoring joins (q203/q209), plus the window
  // family (q27) and KMV sketch (q39)
  private val gated = Seq(
    "q04_supplier_kpis", "q22_minhash_candidates", "q27_event_windows",
    "q39_kmv_distinct", "q45_hash_split", "q54_dedup_clusters",
    "q63_pack_sequences", "q82_dup_spans", "q103_item_pagerank",
    "q140_label_communities", "q203_bigram_lm", "q209_heldout_ppl",
    // r12: the Prefix.cumSums consumers (fine buckets must not move
    // rows under 200 partitions) and the DECIMAL-mean agreement audit
    "q132_mann_whitney", "q133_ks_test", "q219_spearman_corr",
    "q215_dedup_agreement")

  describe("cluster-shaped parallelism (200 shuffle partitions + dim-join fallback)") {
    gated.foreach { q =>
      it(s"$q: gated rows do not move") {
        val base = rows(q)
        val cluster = withClusterShape(forceDimFallback = true) { rows(q) }
        assert(base.nonEmpty)
        assert(cluster == base,
          s"$q rows moved under cluster-shaped parallelism")
      }
    }

    it("job structure is parallelism-invariant for the iterative pins") {
      // the JobCountSpec pins, re-asserted at 200 shuffle partitions
      val pins = Seq("q103_item_pagerank" -> 28, "q110_item_triangles" -> 16,
        "q140_label_communities" -> 30, "q109_session_overlap" -> 8)
      withClusterShape(forceDimFallback = false) {
        pins.foreach { case (name, expected) =>
          def once(tag: String): Int = TestSpark.jobsOf(tag) {
            SparkEntry.queries(name)(spark, sf)
              .write.format("noop").mode("overwrite").save()
          }
          once(s"cluster-warm-$name")
          val got = once(s"cluster-$name")
          assert(got == expected,
            s"$name launched $got jobs at 200 shuffle partitions, " +
              s"pinned $expected — job count must track plan structure, " +
              "not partition fan-out")
        }
      }
    }
  }
}
