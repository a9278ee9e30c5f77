package graft.operators

import org.scalatest.funspec.AnyFunSpec

import graft.SparkEntry
import graft.TestSpark

/** Physical-plan quality gates: these assert the optimizer behaviors the
  * engine's 100 TB design depends on. A regression here (a lost
  * broadcast, a filter that stops reaching the scan, a widened
  * ReadSchema) can stay correctness-green while silently costing an
  * order of magnitude at scale.
  */
class PlanQualitySpec extends AnyFunSpec {
  private lazy val spark = TestSpark.spark
  private val sf = TestSpark.Sf

  private def plan(q: String): String =
    SparkEntry.queries(q)(spark, sf).queryExecution.executedPlan.toString

  describe("q04 supplier kpis") {
    it("broadcasts both dimension sides of the 3-way join") {
      assert(plan("q04_supplier_kpis").split("BroadcastHashJoin").length - 1 == 2)
    }

    it("prunes unused lineitem columns at the parquet scan") {
      val lineScan = plan("q04_supplier_kpis").linesIterator
        .filter(l => l.contains("FileScan") && l.contains("lineitem")).mkString
      assert(lineScan.contains("ReadSchema"))
      assert(!lineScan.contains("l_tax"), "l_tax must be pruned")
      assert(!lineScan.contains("l_linenumber"), "l_linenumber must be pruned")
      assert(!lineScan.contains("l_partkey"), "l_partkey must be pruned")
    }

    it("reads only the 2 needed orders columns") {
      val ordersScan = plan("q04_supplier_kpis").linesIterator
        .filter(l => l.contains("FileScan") && l.contains("orders.parquet")).mkString
      assert(ordersScan.contains("struct<o_orderkey:bigint,o_orderdate:timestamp_ntz>"))
    }
  }

  describe("q12 filtered risk") {
    it("pushes the nation filter to the supplier scan on the KPI side") {
      assert(plan("q12_filtered_risk").contains("EqualTo(s_nationkey,7)"))
    }

    it("does NOT push the filter into the bounds-aggregate side") {
      // normalization bounds must stay global: at least one supplier scan
      // without the nation predicate must remain
      val supplierScans = plan("q12_filtered_risk").linesIterator
        .filter(l => l.contains("FileScan") && l.contains("supplier.parquet")).toSeq
      assert(supplierScans.exists(_.contains("EqualTo(s_nationkey,7)")))
      assert(supplierScans.exists(!_.contains("EqualTo(s_nationkey,7)")))
    }
  }

  describe("dedup/scale plan shapes") {
    it("q22 band self-join is shuffle-hash (exchange-reusable), not broadcast") {
      val p = plan("q22_minhash_candidates")
      assert(p.contains("ShuffledHashJoin"))
    }

    it("q29 hash-shuffles once on user_id and pre-limits groups before the window") {
      val p = plan("q29_top_event_per_user")
      val hashExchanges = p.linesIterator.count(_.contains("Exchange hashpartitioning(user_id"))
      assert(hashExchanges == 1, s"expected 1 user_id hash exchange, plan:\n$p")
      // Spark's WindowGroupLimit keeps only each group's rank-1 candidates
      // ahead of the full window sort — the rank-limit pushdown we rely on
      assert(p.contains("WindowGroupLimit"))
    }

    it("q25 broadcasts the query-vector side") {
      assert(plan("q25_knn_bruteforce").contains("Broadcast"))
    }

    it("q77 broadcasts the benchmark band index, never the corpus side") {
      // the scale contract: bench contributes NumBands keys/doc (model-
      // sized), so it must be the broadcast build side of the candidate
      // join; a plan that broadcasts the corpus bands or falls back to
      // a sort-merge would shuffle the whole corpus band stream
      val p = plan("q77_fuzzy_decontaminate")
      val bhj = p.indexOf("BroadcastHashJoin")
      assert(bhj > 0, s"bench band join must broadcast:\n$p")
      assert(p.contains("minhash_band_keys"), "native kernel must drive bands")
    }

    it("q78 verifies candidates with the sorted-array merge kernel") {
      val p = plan("q78_ingest_neardup")
      assert(p.contains("sorted_intersect_count"),
        "jaccard verify must use the merge kernel, not exploded streams")
      assert(p.contains("minhash_band_keys"), "native kernel must drive bands")
    }
  }

  describe("round-8 operator plan shapes") {
    it("q158 forwards one candidate per anchor-side per partition (WindowGroupLimit)") {
      // the exchange must carry partitions × anchors × 2 rows, never
      // the scored corpus — the rank-limit pushdown is what bounds it
      val p = plan("q158_triplet_mining")
      assert(p.contains("WindowGroupLimit"), s"rank-1 pushdown lost:\n$p")
      assert(p.contains("Broadcast"), "anchor set must broadcast")
    }

    it("q159 lowers both ranker top-k cuts to TakeOrderedAndProject") {
      // each side is one corpus pass ending in a k-row cut; a global
      // Sort before the limit would be the 100 TB regression
      val p = plan("q159_hybrid_search")
      assert(p.split("TakeOrderedAndProject").length - 1 >= 2,
        s"expected both BM25 and dense top-k as TakeOrderedAndProject:\n$p")
    }

    it("q161 cuts its ranking with TakeOrderedAndProject off one item aggregate") {
      val p = plan("q161_decayed_popularity")
      assert(p.contains("TakeOrderedAndProject"), s"top-k cut lost:\n$p")
      assert(!p.contains("CartesianProduct"),
        "max-day anchor must broadcast, not cartesian")
      val itemAggExchanges = p.linesIterator
        .count(l => l.contains("Exchange hashpartitioning(item"))
      assert(itemAggExchanges == 1,
        s"expected exactly 1 item-keyed exchange, plan:\n$p")
    }

    it("q163 runs all four CUSUM windows on one type-keyed exchange of the model-sized grid") {
      val p = plan("q163_cusum_drift")
      val typeExchanges = p.linesIterator
        .count(_.contains("Exchange hashpartitioning(event_type"))
      // (type,day) count aggregate + distinct-type spine + the shared
      // window exchange — four Window operators must NOT add one each
      assert(typeExchanges <= 3,
        s"expected <=3 event_type hash exchanges (windows must share), plan:\n$p")
      assert(!p.contains("CartesianProduct"),
        "the day spine must broadcast, not cartesian")
    }

    it("q162 probes every cascade leg with a broadcast, never shuffling a fact table") {
      val p = plan("q162_deletion_cascade")
      assert(p.split("BroadcastHashJoin").length - 1 >= 4,
        s"all four legs + the purged-orders semi-join must broadcast:\n$p")
      assert(!p.contains("SortMergeJoin"),
        "a sort-merge leg would shuffle a fact table on the probe key")
    }
  }

  describe("round-7 staged incremental fold (q135)") {
    it("fed stored state, the fold touches no original-corpus scan and kernels run on the new batch only") {
      val docs = graft.sources.Tables.documents(spark, sf)
      val (o, n) = Dedup.incSplit(docs)
      val tmp = java.nio.file.Files.createTempDirectory("graft-q135-plan-").toString
      Dedup.dedupClustersFrom(o).write.parquet(s"$tmp/clusters")
      Dedup.bandsFrom(o).write.parquet(s"$tmp/bands")
      Dedup.shinglesFrom(o).write.parquet(s"$tmp/sh")
      n.write.parquet(s"$tmp/new")
      // the fold's only document-shaped input is the stored new batch:
      // any old-corpus banding/shingling recompute (the full-corpus
      // pass the staged form exists to avoid) would have to re-read
      // documents.parquet — assert it never appears in the plan
      val staged = Dedup.incrementalClustersStaged(
        spark.read.parquet(s"$tmp/clusters"),
        spark.read.parquet(s"$tmp/bands"),
        spark.read.parquet(s"$tmp/sh"),
        spark.read.parquet(s"$tmp/new"))
      val p = staged.queryExecution.executedPlan.toString
      assert(!p.contains("documents.parquet"),
        s"staged fold re-read the source corpus:\n$p")
      // and the result still matches the full recompute over all docs
      val full = Dedup.dedupClustersFrom(docs)
      assert(staged.exceptAll(full).count() == 0 &&
        full.exceptAll(staged).count() == 0)
    }
  }

  describe("generated code compiles (the 64 KB method-limit guard)") {
    // The q136 lesson: per-centroid literal unrolling grew a projection's
    // generated method past the JVM's 64 KB limit — Janino failed and
    // Spark SILENTLY fell back to interpreted evaluation (a ~2× cost
    // with no test signal; plans still print WholeStageCodegen). This
    // gate compiles every codegen stage of the literal-heaviest plans
    // so the fallback becomes a test failure instead of a perf mystery.
    // AQE hides physical stages inside QueryStageExec/AdaptiveSparkPlanExec
    // fields that TreeNode.collect does not traverse — walk them explicitly
    def allStages(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.WholeStageCodegenExec] = {
      import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
      val here = p match {
        case w: org.apache.spark.sql.execution.WholeStageCodegenExec => Seq(w)
        case _ => Nil
      }
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case other => other.children
      }
      here ++ kids.flatMap(allStages)
    }

    def assertCompiles(q: String): Unit = {
      val df = SparkEntry.queries(q)(spark, sf)
      // execute THIS plan (count() would build a different one) so AQE
      // finalizes and the codegen stages exist
      df.collect()
      val stages = allStages(df.queryExecution.executedPlan)
      assert(stages.nonEmpty, s"$q lost whole-stage codegen entirely")
      stages.foreach { w =>
        val (_, code) = w.doCodeGen()
        // throws (test failure) if any generated method exceeds limits
        org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
          .compile(code)
      }
    }
    it("q100 PQ encode stages compile") { assertCompiles("q100_ann_pq") }
    it("q36 IVF assignment stages compile") { assertCompiles("q36_ann_ivf") }
    it("q26 LSH bucket stages compile") { assertCompiles("q26_ann_lsh") }
  }

  describe("round-2 operator plan shapes") {
    it("q22 minhash is map-only up to the band join: no aggregate below it") {
      // the one-pass kernel replaced the explode+groupBy(min) signature
      // aggregation — a HashAggregate reappearing under the join means
      // the shingle shuffle is back
      val p = plan("q22_minhash_candidates")
      val joinIdx = p.indexOf("ShuffledHashJoin")
      assert(joinIdx > 0)
      assert(!p.substring(joinIdx).contains("HashAggregate"),
        "no aggregate may sit below the band self-join")
      assert(p.contains("minhash_band_keys"))
    }

    it("q23 simhash has no shuffle at all before its output sort") {
      val p = plan("q23_simhash")
      // one REPARTITION_BY_COL (local parallelism) + the orderBy range
      // exchange; any ENSURE_REQUIREMENTS hash exchange means an
      // aggregation shuffle crept back in
      assert(!p.contains("HashAggregate"), s"simhash must be map-only:\n$p")
    }

    it("q35 plans partial below the key exchange and final above it") {
      val p = plan("q35_topk_per_key")
      val fin = p.indexOf("TopKPerKey ")
      val ex = p.indexOf("Exchange hashpartitioning(user_id", fin)
      val part = p.indexOf("TopKPerKeyPartial", ex)
      assert(fin >= 0 && ex > fin && part > ex, s"unexpected plan:\n$p")
      assert(!p.contains("Window"), "native operator must not fall back to a window")
    }

    it("q36 IVF assigns cells map-side: no window over the corpus") {
      val p = plan("q36_ann_ivf")
      // windows only run on the tiny probe/rank relations (partitioned
      // by query_id); a vec_id-partitioned window = per-vector argmax
      // shuffling the whole corpus
      assert(!p.contains("windowspecdefinition(vec_id"), s"corpus window found:\n$p")
      // r13: assignment fused into ONE compiled argmax pass (the
      // codebook_scores→array_position chain ran the K-dot kernel twice
      // per row and kept the stage's consume method over the JVM's
      // 8,000-bytecode JIT limit)
      assert(p.contains("codebook_argmax_cell"), s"fused assignment missing:\n$p")
    }

    it("q39 KMV plans a TakeOrderedAndProject, never a global sort") {
      val p = plan("q39_kmv_distinct")
      assert(p.contains("TakeOrderedAndProject"))
    }
  }

  describe("round-5 operator plan shapes") {
    /** Run the query, then read the FINAL adaptive plan — the broadcast
      * decisions below come from runtime stats (AQE), not static
      * estimates, so the pre-execution plan text would miss them.
      */
    def executedPlanOf(q: String): String = {
      val df = SparkEntry.queries(q)(spark, sf)
      df.count()
      df.queryExecution.executedPlan.toString
    }

    it("q80 verifies pairs with the merge kernel and aggregates, never windows") {
      val p = plan("q80_source_mirrors")
      assert(p.contains("sorted_intersect_count"),
        "jaccard verify must use the merge kernel")
      assert(!p.contains("windowspecdefinition"),
        "q80 is joins + one grouped aggregate; a window means a rank crept in")
    }

    it("q81 windows only inside (pid, shard) cells and broadcasts the offsets") {
      val p = executedPlanOf("q81_shuffle_shards")
      assert(p.contains("windowspecdefinition(pid"),
        s"dense numbering must partition by the hash-range bucket:\n$p")
      assert(!p.contains("windowspecdefinition(shard#") &&
        !p.contains("windowspecdefinition(seq_id"),
        "a shard- or seq-wide window serializes the corpus through 8 (or 1) tasks")
      assert(p.contains("BroadcastHashJoin"), "the O(p×shards) offset table must broadcast")
    }

    it("q82 ships only per-doc-distinct grams to its one shuffle; islands run map-side") {
      val p = executedPlanOf("q82_dup_spans")
      assert(p.contains("partial_count"),
        s"gram df count must partial-aggregate map-side:\n$p")
      assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
        "the dup-mass-bounded gram set must broadcast as one sorted array")
      assert(p.contains("dup_span_runs"),
        "island merge must run in the native kernel, not a join + window")
      assert(!p.contains("windowspecdefinition"),
        "no per-doc window: the kernel chains runs map-side")
      // exactly one hash exchange (the df count); the presentation sort's
      // range exchange and the broadcast are the only other movement
      assert(p.linesIterator.count(l =>
        l.contains("Exchange hashpartitioning") &&
          !l.contains("REPARTITION_BY_COL")) == 1,
        s"only the df-count shuffle may hash-partition:\n$p")
    }

    it("q88 funnel reduces in one all-combining aggregate: no corpus hash shuffle") {
      val p = plan("q88_filter_funnel")
      assert(p.contains("sorted_shingle_hashes"),
        "bigram-distinct count must ride the native kernel")
      // only single-partition gathers (the 9-counter agg and the 4-row
      // unpivot) may move rows; widened's REPARTITION_BY_COL on the
      // single-file fixture is local parallelism, not a corpus re-key
      assert(!p.linesIterator.exists(l =>
        l.contains("Exchange hashpartitioning") && l.contains("ENSURE_REQUIREMENTS")),
        s"q88 must not hash-shuffle the corpus:\n$p")
    }

    it("q83 broadcasts both rerank inputs: no corpus shuffle after the coarse stage") {
      val p = executedPlanOf("q83_ann_rerank")
      // candidate list and query vectors are both broadcast; the only
      // hash exchanges allowed are the coarse window's query_id ones
      assert(p.split("BroadcastExchange").length - 1 >= 2,
        s"candidates + query vectors must broadcast:\n$p")
      assert(p.contains("WindowGroupLimit"),
        "coarse top-C must pre-limit map-side ahead of the rank window")
      // widened's REPARTITION_BY_COL (single-file fixture parallelism)
      // is fine; an ENSURE_REQUIREMENTS vec_id exchange would mean a
      // shuffle join re-keyed the corpus for the rerank
      assert(!p.linesIterator.exists(l =>
        l.contains("Exchange hashpartitioning(vec_id") &&
          l.contains("ENSURE_REQUIREMENTS")),
        "rerank must never re-key the corpus by vec_id")
    }
  }

  describe("degradation under changed physical conditions (SURVEY §7.5(5))") {
    it("q04 without broadcast degrades to a shuffle join, never nested-loop, same rows") {
      // on a cluster where the dimension side outgrows the broadcast
      // budget the 3-way join must fall back to a partitioned join —
      // a nested-loop fallback would be quadratic at 100 TB
      val baseline = SparkEntry.queries("q04_supplier_kpis")(spark, sf).collect().toSeq
      val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      try {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        val df = SparkEntry.queries("q04_supplier_kpis")(spark, sf)
        val p = df.queryExecution.executedPlan.toString
        assert(!p.contains("BroadcastHashJoin"), s"broadcast survived threshold=-1:\n$p")
        assert(!p.contains("NestedLoop") && !p.contains("Cartesian"),
          s"degraded to a quadratic join:\n$p")
        assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
          s"expected a partitioned equi-join:\n$p")
        // every aggregate in q04 is order-independent (int-sum rates,
        // decimal revenue), so the rows are bit-identical too
        assert(df.collect().toSeq == baseline)
      } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
    }

    // (no threshold-degradation arm for q162: its cascade legs broadcast
    // via EXPLICIT hints — the tombstone side is selectivity-bounded by
    // construction, so the hint is the scale-correct call and threshold
    // confs deliberately cannot un-broadcast it)

    it("AQE splits the skewed partition of the q22 band self-join") {
      // one mega-hot band bucket (400 identical docs) — the shape a
      // replica-heavy crawl produces. With cluster-realistic thresholds
      // scaled to fixture bytes, AQE must split the skewed partition
      // instead of letting one reducer own the whole bucket.
      val docs = spark.range(0, 2100).selectExpr(
        "id AS doc_id",
        "CASE WHEN id < 2000 THEN 'the same replicated document text again and again' " +
          "ELSE concat('unique doc ', id, ' tok', id % 7, ' tok', id % 11) END AS text")
      val saved = Seq(
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes",
        "spark.sql.adaptive.forceOptimizeSkewedJoin")
        .map(k => k -> spark.conf.getOption(k)).toMap
      try {
        // thresholds scaled to fixture bytes (identical hot rows compress
        // ~100x in the shuffle, so the byte ratio understates the row
        // skew); at cluster scale the 256MB default plays this role
        spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "1KB")
        spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1.0")
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "1KB")
        spark.conf.set("spark.sql.adaptive.forceOptimizeSkewedJoin", "true")
        // count on top of the pair relation: executing THIS
        // QueryExecution materializes the final adaptive plan
        val cnt = Dedup.candidatePairsFrom(Dedup.bandsFrom(docs)).groupBy().count()
        assert(cnt.collect()(0).getLong(0) >= 2000L * 1999 / 2)
        val p = cnt.queryExecution.executedPlan.toString
        assert(p.toLowerCase.contains("skew=true") || p.contains("isSkewJoin=true"),
          s"AQE skew split did not fire on the band join:\n$p")
      } finally saved.foreach { case (k, v) =>
        v.fold(spark.conf.unset(k))(spark.conf.set(k, _))
      }
    }
  }

  describe("gated widening: already-parallel input adds no corpus shuffle") {
    // 64 scan partitions ≥ defaultParallelism(32): Tables.widened must
    // NOT insert the local-parallelism repartition that single-file test
    // fixtures need — on a multi-file 100 TB corpus that shuffle is pure
    // waste before map-only kernels
    lazy val docs64 = spark.range(0, 500, 1, 64).selectExpr(
      "id AS doc_id",
      "concat('tok', id % 97, ' tok', id % 89, ' tok', id % 83, ' tok', id % 79) AS text",
      "'web' AS source")
    lazy val emb64 = spark.range(0, 200, 1, 64).selectExpr(
      "id AS vec_id",
      "transform(sequence(0, 63), j -> CAST(pmod(id * 31 + j, 17) - 8 AS FLOAT)) AS embedding")

    it("q47 repetition kernel runs in the scan partitions") {
      val p = Curation.repetitionFrom(docs64).queryExecution.executedPlan.toString
      assert(!p.contains("Exchange hashpartitioning(doc_id"), s"widen shuffle crept back:\n$p")
    }

    it("q46 decontamination corpus side stays unshuffled") {
      val p = Curation.decontaminateFrom(docs64).queryExecution.executedPlan.toString
      assert(!p.contains("Exchange hashpartitioning(doc_id"), s"widen shuffle crept back:\n$p")
    }

    it("q22 minhash bands reach the band join without a doc_id exchange") {
      val p = Dedup.candidatePairsFrom(Dedup.bandsFrom(docs64))
        .queryExecution.executedPlan.toString
      assert(!p.contains("Exchange hashpartitioning(doc_id"), s"widen shuffle crept back:\n$p")
    }

    it("q25 vector scoring runs in the scan partitions") {
      val p = Similarity.knnBruteFrom(emb64).queryExecution.executedPlan.toString
      assert(!p.contains("Exchange hashpartitioning(vec_id"), s"widen shuffle crept back:\n$p")
    }
  }

  describe("round-3 operator plan shapes") {
    it("q40 binned range join is an equi-join, never a nested loop") {
      val p = plan("q40_range_join")
      assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct"),
        s"range join degenerated to a quadratic join:\n$p")
      assert(p.contains("Join"), s"expected a join in:\n$p")
    }

    it("q43 pivot plans no distinct-discovery pass (values are declared)") {
      // with explicit pivot values the plan is a single aggregate chain;
      // a separate collect-distinct job would appear as an extra
      // aggregate on event_type alone
      val p = plan("q43_user_pivot")
      assert(p.contains("pivotfirst") || p.contains("HashAggregate"))
      assert(!p.contains("Expand"), "declared pivot must not expand rows")
    }

    it("q46 decontamination broadcasts the benchmark set — no shuffle join over the corpus") {
      val p = plan("q46_decontaminate")
      assert(p.contains("Broadcast"), s"benchmark side must broadcast:\n$p")
      assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
        s"corpus must not shuffle into the decontamination join:\n$p")
    }

    it("q45 hash split is map work + one small aggregation, no join") {
      val p = plan("q45_hash_split")
      assert(!p.contains("Join"), s"split assignment must not join:\n$p")
    }

    it("q38 near-dup candidates meet per (family, bucket), never all-pairs") {
      val p = plan("q38_embedding_neardup")
      assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct"),
        s"near-dup degenerated to all-pairs:\n$p")
      assert(p.contains("ShuffledHashJoin"), s"expected reusable shuffle-hash join:\n$p")
    }

    it("q44 sketches aggregate with fixed-size buffers (no distinct expand for HLL)") {
      val p = plan("q44_approx_stats")
      // exact countDistinct forces an Expand + two-phase distinct agg;
      // the HLL/percentile sketches must ride the same pass, adding no
      // extra exchange beyond the group-by + distinct pair
      val exchanges = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
      assert(exchanges <= 2, s"expected <=2 hash exchanges, got $exchanges:\n$p")
    }
  }

  describe("round-4 operator plan shapes") {
    it("q55 BM25 never shuffles the corpus: stats broadcast + top-k, no hash exchange") {
      val p = plan("q55_bm25_search")
      // per-term tf is map-side array work; the only wide ops allowed
      // are the single-row stats aggregate (broadcast back) and the
      // TakeOrdered top-k — a (doc_id, term) explode/aggregate or a
      // per-term df join would show up as a hash exchange
      assert(!p.contains("Exchange hashpartitioning"),
        s"BM25 must not shuffle the corpus:\n$p")
      assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
        s"corpus stats must broadcast:\n$p")
      assert(p.contains("TakeOrderedAndProject"), s"top-k must lower:\n$p")
    }

    it("q61 k-means final update is one cell-keyed aggregate, no corpus window") {
      val p = plan("q61_kmeans_train")
      // assignment must stay map-side (literal-codebook dot products);
      // a per-vector argmax window would shuffle the corpus by vec_id
      assert(!p.contains("windowspecdefinition(vec_id"), s"corpus window found:\n$p")
      assert(p.contains("vector_sum_dec"), s"native vector-sum must drive the update:\n$p")
      // exactly one cell-keyed exchange (the update aggregate); the
      // single-file fixture also gets the gated scan-widening
      // repartition, which a multi-file corpus does not pay
      val cellEx = p.linesIterator.count(_.contains("Exchange hashpartitioning(cell"))
      assert(cellEx == 1, s"expected exactly the cell aggregate exchange, got $cellEx:\n$p")
    }

    it("q62 PII scrubbing is scan -> project: no shuffle, no join") {
      val p = plan("q62_pii_scrub")
      assert(!p.contains("Exchange hashpartitioning"), s"PII scrub must not shuffle:\n$p")
      assert(!p.contains("Join"), s"PII scrub must not join:\n$p")
    }

    it("q63 packing shuffles once on pid and broadcasts the offset table") {
      val p = plan("q63_pack_sequences")
      val hashEx = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
      assert(hashEx == 1, s"prefix sum must shuffle exactly once (pid), got $hashEx:\n$p")
      assert(p.contains("Exchange hashpartitioning(pid"), s"expected the pid exchange:\n$p")
      assert(p.contains("BroadcastHashJoin"), s"partition offsets must broadcast:\n$p")
    }

    // AQE wraps the physical plan in AdaptiveSparkPlanExec; unwrap so
    // node collection sees the real operators
    def scansOf(df: org.apache.spark.sql.DataFrame) = {
      val p = df.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.executedPlan
        case other => other
      }
      p.collect { case s: org.apache.spark.sql.execution.FileSourceScanExec => s }
    }

    it("q27/q40/q41 read the date-partitioned layout end-to-end") {
      // the gated entry points must source from the partitioned
      // directory (partition-discovered scan with event_date in the
      // partition schema), not the raw single-file drop
      Seq("q27_event_windows", "q40_range_join", "q41_sliding_windows").foreach { q =>
        val scans = scansOf(SparkEntry.queries(q)(spark, sf))
        assert(scans.nonEmpty, s"$q: no file scan found")
        scans.foreach { s =>
          assert(s.relation.partitionSchema.fieldNames.contains("event_date"),
            s"$q scan is not partition-aware: ${s.relation.location.rootPaths}")
        }
      }
    }

    it("q74 date slice prunes untouched day partitions at planning time") {
      val scans = scansOf(SparkEntry.queries("q74_event_day_slice")(spark, sf))
      assert(scans.nonEmpty)
      val scan = scans.head
      assert(scan.partitionFilters.exists(_.references.exists(_.name == "event_date")),
        s"no event_date partition filter in: ${scan.partitionFilters}")
      // 7 of the fixture's 30 day directories survive the filter
      val selected = scan.selectedPartitions.partitionCount
      assert(selected == 7, s"expected 7 pruned-in day partitions, got $selected")
    }

    it("q64 funnel stages share one user_id exchange") {
      val p = plan("q64_event_funnel")
      val userEx = p.linesIterator.count(_.contains("Exchange hashpartitioning(user_id"))
      assert(userEx == 1,
        s"three stage windows + per-user reduce must reuse one exchange, got $userEx:\n$p")
    }
  }

  describe("r7b additions") {
    it("q139 joins the vocabulary by broadcast — no token-keyed corpus shuffle") {
      val p = plan("q139_oov_rate")
      assert(p.contains("BroadcastHashJoin"), s"vocab join must broadcast:\n$p")
      assert(!p.contains("SortMergeJoin"),
        s"a sort-merge join here shuffles the whole token stream:\n$p")
    }

    it("q141 lowers both priority cuts to TakeOrderedAndProject, never a global sort") {
      // the published plan starts at the localCheckpoint, so gate the
      // CORPUS-side stage directly (the checkpoint truncates lineage
      // and would otherwise hide a regression to a global sort)
      val corpus = Curation.priorityCandidates(
          graft.sources.Tables.documents(spark, sf))
        .queryExecution.executedPlan.toString
      assert(corpus.contains("TakeOrderedAndProject"),
        s"corpus top-(k+1) must be a bounded heap:\n$corpus")
      assert(!corpus.contains("Exchange rangepartitioning"),
        s"a range-partitioned global sort crept into the cut:\n$corpus")
      val p = plan("q141_priority_sample")
      assert(p.contains("TakeOrderedAndProject"), s"k-row tail cut:\n$p")
    }

    it("q142 candidate generation is equi-join work — no nested-loop or cartesian over items") {
      // gate the pre-checkpoint edge construction (quantile cut) AND
      // the published wedge/anti-join plan
      val edges = Analytics.cooccurEdges(graft.sources.Tables.events(spark, sf))
        .queryExecution.executedPlan.toString
      assert(!edges.contains("CartesianProduct"), s"items² cartesian in:\n$edges")
      val ebnlj = edges.linesIterator.count(_.contains("BroadcastNestedLoopJoin"))
      assert(ebnlj <= 1,
        s"only the 1-row quantile-threshold broadcast may nested-loop ($ebnlj):\n$edges")
      val p = plan("q142_link_prediction")
      assert(!p.contains("CartesianProduct"), s"items² cartesian in:\n$p")
      val bnlj = p.linesIterator.count(_.contains("BroadcastNestedLoopJoin"))
      assert(bnlj <= 1, s"unexpected nested-loop joins ($bnlj):\n$p")
      assert(p.contains("TakeOrderedAndProject"), s"top-k must bound the output:\n$p")
    }

    it("the shared item-basket build carries the PairUserCap prune (window + rank filter)") {
      // the 100×-scale guard: every pair self-join consumer
      // (q66/q103/q106/q110/q134/q140/q142) rides this one capped
      // relation, so one power-law user can never mint a basket²
      // straggler task. The consumers checkpoint it (the window runs
      // at checkpoint time and leaves their final plans), so the gate
      // reads the builder relation itself: the row_number window, the
      // rank filter at the cap constant, and the MAP-SIDE
      // WindowGroupLimit prune (a bot's raw basket never crosses the
      // wire whole).
      val p = Analytics.itemBaskets(
        graft.sources.Tables.events(spark, sf))
        .queryExecution.executedPlan.toString
      assert(p.contains("row_number()"), s"lost the cap window:\n$p")
      assert(p.contains(s"<= ${Analytics.PairUserCap}"),
        s"lost the rank filter at PairUserCap:\n$p")
      assert(p.contains(s"row_number(), ${Analytics.PairUserCap}, Partial"),
        s"lost the map-side WindowGroupLimit prune:\n$p")
    }

    it("q110 degree joins broadcast via hint on a small catalog but drop the hint when the session declares a large one") {
      // isolate HINT-driven broadcasts from stats-driven ones: with
      // autoBroadcast disabled, any BroadcastHashJoin left comes from
      // dimBroadcast's explicit hint
      val auto = "spark.sql.autoBroadcastJoinThreshold"
      val saved = spark.conf.get(auto)
      spark.conf.set(auto, "-1")
      try {
        val small = plan("q110_item_triangles")
        assert(small.contains("BroadcastHashJoin"),
          s"item-domain degree dims must broadcast by default:\n$small")
        val key = "spark.graft.graph.domainSizeHint"
        spark.conf.set(key, (Analytics.DimBroadcastMax + 1).toString)
        try {
          val large = plan("q110_item_triangles")
          assert(!large.contains("BroadcastHashJoin"),
            s"a declared 10⁷-item catalog must not force dim broadcasts " +
              s"(AQE decides at runtime instead):\n$large")
        } finally spark.conf.unset(key)
      } finally spark.conf.set(auto, saved)
    }

    it("rejects a domain-size hint that is not a non-negative item count, naming it") {
      val key = "spark.graft.graph.domainSizeHint"
      Seq("ten million", "-1").foreach { v =>
        spark.conf.set(key, v)
        val e =
          try intercept[IllegalArgumentException](plan("q110_item_triangles"))
          finally spark.conf.unset(key)
        assert(e.getMessage.contains(key) && e.getMessage.contains(s"'$v'"),
          e.getMessage)
      }
    }

    it("q143 scores against broadcast centroids — the corpus never sort-merge joins") {
      val p = plan("q143_label_agreement")
      assert(!p.contains("SortMergeJoin"),
        s"label-cardinality sides must broadcast, never shuffle the corpus:\n$p")
      assert(p.contains("Broadcast"), s"expected a broadcast centroid side:\n$p")
    }

    it("q138 bounds every per-group sketch with a rank limit before the merge") {
      val p = plan("q138_sketch_rollup")
      // both the per-day and the merged k-min cuts ride WindowGroupLimit:
      // only rank<=k candidates survive each partial, so partial state
      // is k-bounded — the property that makes the rollup mergeable at
      // warehouse scale
      val wgl = p.linesIterator.count(_.contains("WindowGroupLimit"))
      assert(wgl >= 2, s"expected both sketch cuts group-limited, got $wgl:\n$p")
    }
  }

  describe("round-8 operator plan shapes") {
    it("q151 bounds the daily partial and the window merge with rank limits") {
      val p = plan("q151_sliding_sketch")
      // the q138 mergeability property, sliding edition: the per-day
      // cut AND the per-window merge cut both ride WindowGroupLimit,
      // so the 7x fan-out only ever multiplies k-bounded partials
      val wgl = p.linesIterator.count(_.contains("WindowGroupLimit"))
      assert(wgl >= 2, s"expected both sketch cuts group-limited, got $wgl:\n$p")
    }

    it("q152 rank and domain size share ONE source exchange") {
      val p = plan("q152_domain_caps")
      val ex = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
      assert(ex == 1,
        s"window rank, window count, and the rollup must ride one source exchange, got $ex:\n$p")
    }

    it("q153 is map work into one source-keyed aggregate") {
      val p = plan("q153_domain_quality")
      val ex = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
      assert(ex == 1, s"expected exactly the source-agg exchange, got $ex:\n$p")
      assert(!p.contains("Exchange hashpartitioning(doc_id"),
        s"per-doc shuffle crept in:\n$p")
    }

    it("q154 audio decode is shuffle-free up to the presentation sort") {
      val p = plan("q154_audio_audit")
      assert(!p.contains("Exchange hashpartitioning"),
        s"the decode path must stay map-only:\n$p")
    }

    it("q155 exact top-k lowers to TakeOrderedAndProject and the sketch broadcasts") {
      val p = plan("q155_heavy_hitters")
      assert(p.contains("TakeOrderedAndProject"),
        s"exact gauge must never global-sort:\n$p")
      assert(p.contains("BroadcastExchange"),
        s"the 192-row merged sketch must broadcast to the probe:\n$p")
    }

    it("q156 sketch cuts are group-limited and pair algebra never goes quadratic over the corpus") {
      val p = plan("q156_audience_overlap")
      // the per-type rank <= k cut must pre-limit map-side
      assert(p.contains("WindowGroupLimit"),
        s"sketch cut must ride WindowGroupLimit:\n$p")
      // the only nested-loop joins allowed are over the 5-row theta
      // table (inequality pair spine); a CartesianProduct would mean
      // the corpus-side self-join degenerated
      assert(!p.contains("CartesianProduct"),
        s"corpus pair join degenerated to a cartesian:\n$p")
    }

    it("q58 scans the corpus twice and shuffles only distinct chunk hashes") {
      val p = plan("q58_chunk_dedup")
      // the r7->r8 perf-watch gate: boilerplate counting is the ONE
      // corpus-keyed hash exchange (distinct chunks, not corpus tokens,
      // cross the wire); widened's REPARTITION_BY_COL on the single-file
      // fixture is local parallelism, not a corpus re-key (q88 rule)
      val ex = p.linesIterator.count(l =>
        l.contains("Exchange hashpartitioning") &&
          l.contains("ENSURE_REQUIREMENTS"))
      assert(ex == 1, s"expected only the chunk-hash exchange, got $ex:\n$p")
      assert(p.contains("BroadcastExchange"),
        s"boilerplate set must broadcast:\n$p")
      // the explode_outer guard: no Filter may carry an inlined copy of
      // the md5 chunk transform (InferFiltersFromGenerate + pushdown
      // would run the hashing 3x per row ahead of the chunk exchange)
      assert(!p.linesIterator.exists(l =>
        l.contains("Filter") && l.contains("md5")),
        s"inferred generate filter re-inlined the chunk hashing:\n$p")
    }
  }

  describe("round-9b operator plan shapes") {
    it("q177 never goes quadratic over events; hold-out split materializes once") {
      val p = plan("q177_rec_hit_rate")
      assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoop"),
        s"q177 must stay equi-join work:\n$p")
      // r12-opt: the ranked hold-out split is localCheckpointed (five
      // consumers — one full corpus window instead of a group-limited
      // window for `last` PLUS a full one for `hist`), so the final
      // plan reads the materialized split instead of carrying a
      // WindowGroupLimit
      assert(p.contains("ExistingRDD"),
        s"q177's hold-out split must read the materialized relation:\n$p")
    }

    it("q178 exchanges only score-level relations, never documents") {
      // docs fold to (lang, qs) before any exchange: no shuffle may be
      // keyed by doc_id
      val p = plan("q178_calibrated_cut")
      assert(!p.linesIterator.exists(l =>
        l.contains("Exchange hashpartitioning") && l.contains("doc_id")),
        s"q178 shuffled a doc-keyed relation:\n$p")
    }

    it("q179 is pure window+aggregate work: one fp exchange, no join") {
      val p = plan("q179_soft_dedup_weights")
      assert(!p.contains("Join"), s"q179 needs no join:\n$p")
      val fpEx = p.linesIterator.count(l =>
        l.contains("Exchange hashpartitioning(fp"))
      assert(fpEx == 1, s"expected exactly one fp exchange, got $fpEx:\n$p")
    }

    it("q180 pairs meet per SRP bucket and the K-cut rides WindowGroupLimit") {
      val p = plan("q180_label_noise")
      assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoop"),
        s"q180 must join on the bucket key:\n$p")
      assert(p.contains("WindowGroupLimit"))
    }

    it("q181 shuffles only on user_id (plus the verdict rollup)") {
      val p = plan("q181_bot_audit")
      assert(!p.contains("CartesianProduct"))
      val bad = p.linesIterator.filter(l =>
        l.contains("Exchange hashpartitioning") &&
          !l.contains("user_id") && !l.contains("verdict")).toSeq
      assert(bad.isEmpty, s"unexpected exchange keys:\n${bad.mkString("\n")}")
    }

    it("q182 folds the corpus once: a single source-keyed exchange") {
      val p = plan("q182_source_concentration")
      val ex = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
      assert(ex == 1, s"expected only the source exchange, got $ex:\n$p")
    }

    it("q183 has no global rank: deciles are map-side integral divides") {
      val p = plan("q183_vocab_growth")
      assert(!p.contains("rangepartitioning(doc_id"),
        s"q183 must not total-order documents:\n$p")
      assert(!p.contains("CartesianProduct"))
    }

    it("q184 computes the intersection exactly once, arms replicate after it") {
      // one kernel site = one candidate pipeline AND no inferred
      // isnotnull pushing the kernel into the pair-join predicate (the
      // null-tolerant arm filter exists for exactly this)
      val p = plan("q184_dedup_sensitivity")
      assert(!p.contains("CartesianProduct"))
      val kernels = p.split("sorted_intersect_count").length - 1
      assert(kernels == 1,
        s"intersection kernel must appear once, found $kernels sites:\n$p")
    }

    it("q185 rolls the bounded template relation with a lowered top-k") {
      val p = plan("q185_syndication")
      assert(p.contains("TakeOrderedAndProject"))
      assert(!p.contains("CartesianProduct"))
    }
  }

  describe("round-10 additions: plan shapes") {
    it("q199 MP4 sampling is map-only until the presentation sort: no joins, no aggregates") {
      val p = plan("q199_mp4_keyframes")
      assert(!p.contains("Join"), s"q199 must not join:\n$p")
      assert(!p.contains("HashAggregate"), s"q199 must not aggregate:\n$p")
    }

    it("q201 HLL registers never shuffle user-keyed rows: exchanges carry (type, bucket) only") {
      val p = plan("q201_hll_distinct")
      // the register aggregate partials combine map-side; the only
      // corpus-wide exchanges key on (event_type, bucket) or event_type
      // — never user_id (that shuffle exists only in the n_exact audit
      // column, which a production run would drop)
      val regExchanges = p.linesIterator
        .filter(l => l.contains("Exchange hashpartitioning"))
        .filter(l => l.contains("bucket")).toSeq
      assert(regExchanges.nonEmpty, s"register exchange missing:\n$p")
      assert(p.contains("partial_max"), s"registers must combine map-side:\n$p")
    }

    it("q204 rendezvous scoring is one map expression: zero corpus joins, one 8-row rollup") {
      val p = plan("q204_rendezvous_shards")
      assert(!p.contains("Join"), s"q204 must not join:\n$p")
      assert(p.split("Exchange").length - 1 <= 2,
        s"q204 shuffles only the shard rollup:\n$p")
    }

    it("q205 prunes each source's vocabulary to top-V map-side before the rank window") {
      val p = plan("q205_zipf_slope")
      assert(p.contains("WindowGroupLimit"),
        s"q205 must prune to top-V per source before the exchange:\n$p")
      assert(!p.contains("CartesianProduct"))
    }

    it("q203 joins the transition relation to count tables without a cartesian") {
      val p = plan("q203_bigram_lm")
      assert(!p.contains("CartesianProduct"))
      assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
        s"the one-row totals must broadcast:\n$p")
    }

    it("q214 is one source-keyed aggregate: no joins, noise is scalar map work") {
      val p = plan("q214_dp_release")
      assert(!p.contains("Join"), s"q214 must not join:\n$p")
      assert(p.split("Exchange").length - 1 <= 2,
        s"q214 shuffles only the source rollup:\n$p")
    }

    it("q215 joins two dup-mass-bounded pair relations without a cartesian") {
      val p = plan("q215_dedup_agreement")
      assert(!p.contains("CartesianProduct"))
      assert(p.contains("FullOuter"), s"agreement join must be full outer:\n$p")
    }

    it("q216 pushes both delta-slice predicates down to the scans") {
      val p = plan("q216_ivm_join")
      assert(!p.contains("CartesianProduct"))
      assert(p.contains("GreaterThanOrEqual(l_shipdate") &&
        p.contains("LessThan(l_shipdate"),
        s"lineitem delta/base predicates must reach the scan:\n$p")
      assert(p.contains("GreaterThanOrEqual(o_orderdate") &&
        p.contains("LessThan(o_orderdate"),
        s"orders delta/base predicates must reach the scan:\n$p")
    }

    it("q203/q209 ride the head-broadcast + rare-tail-shuffle discipline even when " +
        "the count tables exceed the broadcast threshold") {
      // threshold -1 models the 100 TB shape: Heaps-law count tables
      // never auto-broadcast. The HEADS must still broadcast (explicit
      // hints), and only the cold-branch tail joins may shuffle.
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try Seq("q203_bigram_lm", "q209_heldout_ppl").foreach { q =>
        val p = plan(q)
        val bhj = p.split("BroadcastHashJoin").length - 1
        // hot + cold branches each probe the 3 broadcast heads
        assert(bhj >= 6, s"$q: head probes must stay broadcast (got $bhj):\n$p")
        val smj = p.split("SortMergeJoin").length - 1
        assert(smj <= 3, s"$q: only the 3 cold tail lookups may shuffle-join " +
          s"(got $smj):\n$p")
        assert(p.contains("Union"), s"$q: hot/cold branches must union:\n$p")
        assert(!p.contains("CartesianProduct"))
      } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }

  describe("round-12: distributed prefix discipline (q132/q133/q219)") {
    it("every rank window partitions by the fine range bucket, never globally") {
      Seq("q132_mann_whitney", "q133_ks_test", "q219_spearman_corr")
        .foreach { q =>
          val p = plan(q)
          val wins = p.linesIterator
            .filter(_.contains("windowspecdefinition")).toSeq
          assert(wins.nonEmpty, s"$q lost its prefix window:\n$p")
          wins.foreach(l => assert(l.contains("__fine"),
            s"$q has a window not partitioned by the fine bucket: $l"))
          assert(p.contains("BroadcastExchange"),
            s"$q: the bucket-offset join must broadcast:\n$p")
        }
    }

    it("q228's daily vintage prunes day predicates at planning time") {
      val e = graft.sources.PartitionEvolved.eventsFor(spark, sf)
      val p = e.filter("event_date = DATE'2024-01-20'")
        .queryExecution.executedPlan.toString
      // the post-migration vintage prunes directories; the monthly
      // vintage's derived event_date filters post-scan (documented)
      val pf = p.linesIterator.filter(_.contains("PartitionFilters: ["))
        .toSeq
      assert(pf.exists(l => l.contains("event_date") &&
        !l.contains("PartitionFilters: []")),
        s"daily vintage must carry a real partition filter:\n$p")
    }

    it("q216 staged form joins the stored base partials without rescanning the base slices") {
      val base = SupplierPerf.ivmBasePartials(
        graft.sources.Tables.orders(spark, sf),
        graft.sources.Tables.lineitem(spark, sf))
      val staged = SupplierPerf.ivmJoinStaged(base,
        graft.sources.Tables.orders(spark, sf),
        graft.sources.Tables.lineitem(spark, sf))
      val p = staged.queryExecution.executedPlan.toString
      // the only base×base join is inside the partials input; the
      // staged plan's live joins are the three delta terms
      assert(!p.contains("CartesianProduct"))
      // base slice of BOTH tables appears at most once each among the
      // live scans: od⋈lb + ob⋈ld + od⋈ld = 2 orders-side scans of
      // the delta slice, 1 of the base slice (and mirrored for lines)
      val orderScans = p.linesIterator.count(l =>
        l.contains("FileScan") && l.contains("orders.parquet"))
      assert(orderScans <= 4, s"staged form rescans orders too often:\n$p")
    }
  }

  describe("round-12 operator plan shapes") {
    it("q231/q232/q237 are map-only: no hash shuffle before the presentation sort") {
      Seq("q231_warc_ingest", "q232_html_extract", "q237_robots_audit")
        .foreach { q =>
          val p = plan(q)
          assert(!p.contains("CartesianProduct"), q)
          assert(!p.contains("Exchange hashpartitioning") ||
            q == "q237_robots_audit", // its source rollup is one agg exchange
            s"$q: codec/parse work must not shuffle rows:\n$p")
        }
    }

    it("q233 runs the automaton kernel once, joins only source-grain relations") {
      val p = plan("q233_blocklist_screen")
      assert(p.contains("blocklist_hits"), "the native kernel must be in the plan")
      assert(!p.contains("CartesianProduct"))
    }

    it("q234 broadcasts the 64-row bucket model back onto the doc counts") {
      val p = plan("q234_dsir_weights")
      assert(p.contains("BroadcastHashJoin"),
        s"the lambda table must broadcast:\n$p")
      // the only nested-loop is the documented 1-row totals cross join
      assert(p.split("BroadcastNestedLoopJoin").length - 1 <= 1)
      assert(!p.contains("CartesianProduct"))
    }

    it("q238's candidate join is an equi join on (slice, value), never nested-loop") {
      val p = Dedup.hammingPairsFrom(
        Dedup.replicaPlanted(graft.sources.Tables.documents(spark, sf)))
        .queryExecution.executedPlan.toString
      assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"),
        s"pigeonhole candidates must come from an equi join:\n$p")
      assert(p.contains("simhash32"), "the native signature kernel must be in the plan")
    }

    it("q239 is one kernel pass + one aggregate: no join at all") {
      val p = plan("q239_luhn_audit")
      assert(p.contains("luhn_counts"))
      assert(!p.contains("Join"), s"q239 must not join:\n$p")
    }

    it("q240 digests fold through aggregates only — no windows, no nested loops") {
      val p = plan("q240_merkle_diff")
      assert(!p.contains("windowspecdefinition"))
      assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"))
      assert(p.contains("bit_xor"), "digests must be order-free xor folds")
    }

    it("q236's exact and probed legs both keep the top-k map-side") {
      val p = plan("q236_ivf_recall")
      assert(p.contains("WindowGroupLimit"),
        s"top-k must push below the rank exchange:\n$p")
      assert(!p.contains("CartesianProduct"))
    }
  }

  describe("round-12c operator plan shapes") {
    it("q246's skyline never goes quadratic: equi local phase, broadcast-bounded resolution") {
      val p = plan("q246_pareto_suppliers")
      assert(!p.contains("CartesianProduct"), s"unbounded all-pairs in:\n$p")
      // the within-cell phase must be an EQUI join on the cell id
      // (the point-level dominance runs only inside cell-hash buckets)
      assert("(SortMergeJoin|BroadcastHashJoin) \\[c1#".r
        .findFirstIn(p).isDefined,
        s"local skyline lost its cell equi-join:\n$p")
      // every nested-loop site must be a broadcast build (the 1-row
      // bounds, the ≤G³ cell metadata, the candidate resolution) —
      // the plan TEXT repeats shared subtrees, so a count would lie
      assert(!p.contains("CartesianProduct") &&
        p.linesIterator.filter(_.contains("NestedLoopJoin"))
          .forall(_.contains("BroadcastNestedLoopJoin")),
        s"non-broadcast nested loop in:\n$p")
    }

    it("q247's LPM is broadcast equi-joined, never range or nested-loop") {
      val p = plan("q247_lpm_enrich")
      assert(p.contains("BroadcastHashJoin"),
        s"the routing dim must broadcast:\n$p")
      assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct")
        && !p.contains("BroadcastNestedLoopJoin"),
        s"LPM candidates must meet in a hash equi-join:\n$p")
    }

    it("q251's link aggregates never cartesian and keep the anchor rank windowed by host") {
      val p = plan("q251_link_graph")
      assert(!p.contains("CartesianProduct"))
      assert(p.contains("windowspecdefinition(dst_host"),
        s"anchor rank must partition by host:\n$p")
    }

    it("q252/q253 stay join-free on the corpus side") {
      Seq("q253_vocab_richness").foreach { q =>
        val p = plan(q)
        assert(!p.contains("CartesianProduct") &&
          !p.contains("SortMergeJoin"), s"$q:\n$p")
      }
      // q252's only windows ride the bounded lifetime-hour grain; the
      // corpus contributes one user-keyed aggregate
      val p252 = plan("q252_km_retention")
      assert(!p252.contains("CartesianProduct"))
    }
  }
}
