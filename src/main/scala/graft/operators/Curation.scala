package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{TextFns, Wide}
import graft.plans.GraftFunctions
import graft.sources.Tables

/** Corpus-curation operators a training-data pipeline runs between raw
  * crawl and tokenizer: deterministic split assignment, benchmark
  * decontamination, within-document repetition scoring, and source
  * mixture allocation.
  *
  * Scale design (100 TB):
  *  - split assignment (q45) is pure map work — a hash of the stable doc
  *    id, never a random() (reshuffling the corpus must not move docs
  *    across splits) and never a global sort;
  *  - decontamination (q46) broadcasts the benchmark's distinct shingle
  *    hashes (benchmark suites are small by construction) and scans the
  *    corpus once map-side — the industry-standard n-gram-overlap
  *    decontamination shape. No corpus shuffle at all;
  *  - repetition scoring (q47) is scan→project through the one-pass
  *    native shingle kernel;
  *  - mixture allocation (q48) aggregates to one row per source — the
  *    mixture table is inherently tiny, so its windows are free.
  */
object Curation {

  /** Percent buckets for train/val/test (80/10/10). */
  val TrainPct = 80
  val ValPct = 90

  /** q45 — deterministic train/val/test split: bucket =
    * md5-hash32("split|" + doc_id) mod 100. Stable under re-runs,
    * re-partitioning, and corpus growth (a doc's split never depends on
    * other docs), unlike `rand()` or `sampleBy`.
    */
  def hashSplit(spark: SparkSession, dir: String): DataFrame =
    hashSplitFrom(Tables.documents(spark, dir))

  def hashSplitFrom(docs: DataFrame): DataFrame = {
    val bucket = TextFns.hash32(
      concat(lit("split|"), col("doc_id").cast("string"))) % 100
    val split = when(bucket < TrainPct, "train")
      .when(bucket < ValPct, "val").otherwise("test")
    docs
      .select(split.as("split"),
        size(TextFns.toks(col("text"))).cast("long").as("tok"))
      .groupBy("split")
      .agg(count(lit(1)).as("n_docs"), sum("tok").as("n_tokens"))
      .orderBy("split")
  }

  /** Benchmark relation: the first [[BenchDocs]] doc ids stand in for a
    * held-out eval suite.
    */
  val BenchDocs = 5

  /** q46 — n-gram decontamination: corpus docs that share at least one
    * distinct bigram shingle with any benchmark doc, with the count of
    * shared distinct shingles. The benchmark's shingle set is aggregated
    * to ONE sorted array and broadcast; each corpus doc then does a
    * single sorted-merge intersect count map-side (native
    * `sorted_intersect_count` kernel) — the corpus is scanned once and
    * never shuffled.
    */
  def decontaminate(spark: SparkSession, dir: String): DataFrame =
    decontaminateFrom(Tables.documents(spark, dir))

  def decontaminateFrom(docs: DataFrame): DataFrame = {
    GraftFunctions.register(docs.sparkSession)
    val sh = Tables.widened(docs, col("doc_id"))
      .select(col("doc_id"),
        call_function("sorted_shingle_hashes", col("text")).as("sh"))
    val bench = sh.filter(col("doc_id") < BenchDocs)
      .select(explode(col("sh")).as("s")).distinct()
      .agg(sort_array(collect_list(col("s"))).as("bench_sh"))
    sh.filter(col("doc_id") >= BenchDocs)
      .crossJoin(broadcast(bench))
      .select(col("doc_id"),
        call_function("sorted_intersect_count", col("sh"), col("bench_sh"))
          .as("n_overlap"))
      .filter(col("n_overlap") >= 1)
      .orderBy("doc_id")
  }

  /** q171 — contamination BLAST RADIUS: q46's benchmark-overlap
    * detection rolled to the (source) grain where the remediation
    * decision is made — per source the contaminated doc count/rate,
    * the contaminated TOKEN mass (what actually leaks into a trained
    * model), and the worst per-doc overlap. q46 lists the documents;
    * this is the report a curation team reads to decide whether to
    * drop, re-crawl, or re-filter a feed ("which source leaked the
    * eval set, and how much of its mass is tainted").
    *
    * Scale shape: the contaminated relation is q46's broadcast-bench
    * sorted-merge intersect (ONE definition, two gated consumers — the
    * report cannot drift from the detector); the rollup adds one
    * source-keyed aggregate over the non-bench corpus with a doc-keyed
    * left join against the contamination hits (hit-bounded relation);
    * integer counts to two 6-dp closing divisions.
    */
  def contaminationRadius(spark: SparkSession, dir: String): DataFrame =
    contaminationRadiusFrom(Tables.documents(spark, dir))

  def contaminationRadiusFrom(docs: DataFrame): DataFrame = {
    val cont = decontaminateFrom(docs).select(col("doc_id"), col("n_overlap"))
    val corpus = docs.filter(col("doc_id") >= BenchDocs)
      .select(col("doc_id"), col("source"),
        size(TextFns.toks(col("text"))).cast("long").as("tok"))
    val hit = col("n_overlap").isNotNull
    corpus.join(cont, Seq("doc_id"), "left")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(hit, 1L).otherwise(0L)).as("n_contaminated"),
        sum("tok").as("n_tokens"),
        sum(when(hit, col("tok")).otherwise(0L)).as("tokens_contaminated"),
        coalesce(max(col("n_overlap")), lit(0L)).as("max_overlap"))
      .select(col("source"), col("n_docs"), col("n_contaminated"),
        round(col("n_contaminated").cast("double") / col("n_docs"), 6)
          .as("doc_rate"),
        col("n_tokens"), col("tokens_contaminated"),
        round(col("tokens_contaminated").cast("double") /
          graft.functions.Det.nullIfZero(col("n_tokens")), 6).as("token_share"),
        col("max_overlap"))
      .orderBy("source")
  }

  /** q131 per-stratum keep percentage. */
  val StratPct = 30L

  /** q131 — STRATIFIED exact-quota sampling: per (lang, source)
    * stratum keep exactly ⌈[[StratPct]]%·n⌉ documents, chosen as the
    * smallest salted-md5 ranks — the survey-sampling complement to
    * q52's rate-based mixture (a hash-threshold draw keeps a BINOMIAL
    * count per stratum; eval sets and ablations need the quota exact).
    * The kept SET is pinned under the hash gate via its id-sum
    * checksum, and the usual stability properties hold by the md5
    * discipline: re-runs, repartitions, and unrelated corpus edits
    * cannot change a kept doc's fate within its stratum.
    *
    * Scale shape: one window over the (lang, source) hash distribution
    * — rank and stratum size share the exchange; quota arithmetic is
    * integer (`(n·pct + 99) div 100`); the summary aggregate rides the
    * same partitioning.
    */
  def stratifiedSample(spark: SparkSession, dir: String): DataFrame =
    stratifiedSampleFrom(Tables.documents(spark, dir))

  def stratifiedSampleFrom(docs: DataFrame): DataFrame = {
    val w = Window.partitionBy("lang", "source")
    val rk = md5(concat(lit("strat|"), col("doc_id").cast("string")))
    docs.select(col("lang"), col("source"), col("doc_id"), rk.as("rk"))
      .withColumn("rn", row_number().over(w.orderBy(asc("rk"), asc("doc_id"))))
      .withColumn("n", count(lit(1)).over(w))
      .filter(col("rn") <= ((col("n") * StratPct + 99) / 100).cast("long"))
      .groupBy("lang", "source")
      .agg(max("n").as("n_docs"), count(lit(1)).as("n_kept"),
        sum("doc_id").as("kept_id_sum"))
      .orderBy("lang", "source")
  }

  /** q152 absolute per-domain document cap. */
  val DomainCap = 15L

  /** q152 — per-DOMAIN frequency cap: keep at most [[DomainCap]]
    * documents per source, chosen as the smallest salted-md5 ranks —
    * the head-domain suppression every crawl-derived corpus applies
    * before training (a handful of giant domains otherwise dominate
    * the token mix). The ABSOLUTE-cap complement of q131's
    * percentage quota: a quota keeps a share of every stratum however
    * large it grows; a cap bounds each domain's contribution outright,
    * so corpus growth concentrates in the tail, not the head. Selection
    * rides the salted-md5 rank (q131/q45 discipline — never `rand()`):
    * re-runs, repartitions, and unrelated corpus edits cannot change a
    * kept doc's fate within its domain, and the kept SET is pinned
    * under the hash gate via its id-sum checksum.
    *
    * Scale shape: one window over the per-source hash distribution —
    * rank and domain size share the exchange (the q131 plan); at
    * warehouse scale a giant domain's window is the one skew point,
    * and the rank-≤-cap predicate is exactly the bounded
    * per-partition top-k the [[graft.plans.TopKPerKey]] operator
    * serves — the summary aggregate rides the same partitioning.
    */
  def domainCaps(spark: SparkSession, dir: String): DataFrame =
    domainCapsFrom(Tables.documents(spark, dir))

  def domainCapsFrom(docs: DataFrame): DataFrame = {
    val w = Window.partitionBy("source")
    val rk = md5(concat(lit("cap|"), col("doc_id").cast("string")))
    docs.select(col("source"), col("doc_id"), rk.as("rk"))
      .withColumn("rn", row_number().over(w.orderBy(asc("rk"), asc("doc_id"))))
      .withColumn("n", count(lit(1)).over(w))
      .groupBy("source")
      .agg(max("n").as("n_docs"),
        sum(when(col("rn") <= DomainCap, 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("rn") <= DomainCap, col("doc_id"))).as("kept_id_sum"))
      .select(col("source"), col("n_docs"), lit(DomainCap).as("cap"),
        col("n_kept"), (col("n_docs") - col("n_kept")).as("n_dropped"),
        col("kept_id_sum"),
        round(col("n_kept").cast("double") / col("n_docs").cast("double"), 6)
          .as("kept_share"))
      .orderBy("source")
  }

  /** q153 low-quality threshold on the 6-dp-rounded q18 score. */
  val LowQuality = 0.5

  /** q153 — per-DOMAIN quality rollup: the q18 per-doc quality score
    * aggregated by source — the audit that tells a curation pipeline
    * WHICH domains to cap, downweight, or drop (it composes with q152's
    * cap and q48's mixture: mixture allocates by token share, this
    * reports whether a domain's tokens are worth their share). Uses
    * [[TextAnalysis.qualityFeatures]] — the SAME score expression q18
    * gates, with `source` passed through instead of `doc_id` — so the
    * per-doc score and its domain rollup cannot drift.
    *
    * Determinism: the mean aggregates the 6-dp-ROUNDED per-doc score
    * (the value the q18 gate pins) as exact 1e-6-integer units, so the
    * domain sum is order-independent — one closing IEEE division per
    * ratio (the q132 integer-moment discipline). The low-quality flag
    * compares the same rounded score, so the boundary is engine-stable.
    *
    * Scale shape: per-doc features are pure map work (one pass, native
    * codegen); the rollup is ONE source-keyed aggregate with map-side
    * combine — domains, not documents, cross the wire.
    */
  def domainQuality(spark: SparkSession, dir: String): DataFrame =
    domainQualityFrom(Tables.documents(spark, dir))

  def domainQualityFrom(docs: DataFrame): DataFrame =
    TextAnalysis.qualityFeatures(docs, Seq("source"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens").cast("long")).as("n_tokens"),
        sum(col("stop_hits").cast("long")).as("stop_hits"),
        sum(round(col("quality_score") * 1e6).cast("long")).as("q_micro"),
        sum(when(col("quality_score") < LowQuality, 1L).otherwise(0L))
          .as("n_low"))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        round(col("q_micro").cast("double") /
          (col("n_docs") * 1000000L).cast("double"), 6).as("mean_quality"),
        col("n_low"),
        round(col("n_low").cast("double") / col("n_docs").cast("double"), 6)
          .as("low_share"),
        round(col("stop_hits").cast("double") / col("n_tokens").cast("double"), 6)
          .as("stop_ratio"))
      .orderBy("source")

  /** q141 sample size (the k smallest priorities are kept; the
    * (k+1)-th becomes the estimator threshold τ).
    */
  val PsK = 32

  /** q141 — weight-proportional priority sampling (Duffield–Lund–
    * Thorup): one deterministic weighted sample without replacement,
    * plus the unbiased subset-sum estimator that makes such samples
    * usable for corpus accounting. Per doc: weight w = max(n_chars, 1),
    * uniform u = (h+1)/2^60 from the md5 hash discipline, priority
    * w/u; keep the [[PsK]] largest priorities; threshold τ = the
    * (k+1)-th priority; each kept doc estimates its stratum as
    * ŵ = max(w, τ), and E[Σŵ] = Σw exactly (DLT 2005) — the output
    * carries est_total next to exact_total so the estimator itself
    * sits under the hash gate (the q121 discipline: every approximate
    * structure ships its error gauge).
    *
    * Determinism: u is a pure function of doc_id (re-runs and
    * repartitions keep the sample; `rand()` never appears — the q45
    * rule); priority = (w·2^60)/(h+1) is one exact integer-scaled
    * product and one IEEE division, bit-identical on any engine —
    * correctly-rounded ops only, never ln/pow (whose libm rounding
    * differs across engines and would flip near-tied ranks).
    *
    * Scale shape: priorities are map-side arithmetic; the (k+1) cut
    * lowers to TakeOrderedAndProject (per-partition bounded heap,
    * k+1-row partials merged — never a global sort); τ, ranks, and the
    * estimator run on the checkpointed (k+1)-row relation (model
    * scale); the exact total is one columnar aggregate. One corpus
    * pass for a weighted without-replacement sample at 100 TB.
    */
  def prioritySample(spark: SparkSession, dir: String): DataFrame =
    prioritySampleFrom(Tables.documents(spark, dir))

  /** The corpus-side stage of q141 pre-checkpoint: priorities + the
    * top-(k+1) cut. Package-private so PlanQualitySpec can gate the
    * stage the checkpoint otherwise hides (a checkpoint truncates
    * lineage, so the published query's plan shows only the k+1-row
    * tail — gating THAT would leave the corpus cut unwatched).
    */
  private[graft] def priorityCandidates(docs: DataFrame): DataFrame = {
    val wt = greatest(col("n_chars"), lit(1L))
    val h = TextFns.hash60(concat(lit("ps|"), col("doc_id").cast("string")))
    docs.select(col("doc_id"), wt.as("wt"), h.as("h"))
      .select(col("doc_id"), col("wt"),
        ((col("wt").cast("double") * lit(1152921504606846976L).cast("double")) /
          (col("h") + lit(1L)).cast("double")).as("pr"))
      .orderBy(desc("pr"), asc("doc_id")).limit(PsK + 1)
  }

  def prioritySampleFrom(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val top = priorityCandidates(docs).localCheckpoint()
    val tau = top.agg(count(lit(1)).as("n_top"), min("pr").as("mn"))
      .select(when(col("n_top") === PsK + 1, col("mn"))
        .otherwise(lit(0d)).as("tau"))
    val s = top.orderBy(desc("pr"), asc("doc_id")).limit(PsK)
      .crossJoin(tau)
      .withColumn("w_hat", greatest(col("wt").cast("double"), col("tau")))
    val est = s.agg(
      sum(col("w_hat").cast(DecimalType(38, 12))).cast("double").as("est_total"))
    val tot = docs.agg(sum(greatest(col("n_chars"), lit(1L))).as("exact_total"))
    s.withColumn("rank",
        row_number().over(Window.orderBy(desc("pr"), asc("doc_id"))).cast("int"))
      .crossJoin(est).crossJoin(tot)
      .select(col("rank"), col("doc_id"), col("wt").as("weight"),
        col("pr").as("priority"), col("w_hat"), col("est_total"),
        col("exact_total"))
      .orderBy("rank")
  }

  /** q126 Bloom geometry: [[BloomBits]]-bit filter, 2 hash positions
    * per shingle.
    */
  val BloomBits = 4096L

  private def bloomPos(i: Int, s: Column): Column =
    TextFns.hash32(concat(lit(s"bf$i|"), s.cast("string"))) % BloomBits

  /** q126 — BLOOM-FILTER decontamination: the q46 screen re-run
    * through a fixed-size Bloom membership filter over the benchmark's
    * shingles, reported side-by-side with the exact answer so the
    * false-positive surface is itself hash-gated (the q121 discipline:
    * every approximate structure ships its error gauge). The scale
    * argument is the broadcast: q46 ships the benchmark's FULL sorted
    * hash array (8 bytes × shingles — grows with the eval suite),
    * the Bloom ships [[BloomBits]] bits regardless of benchmark size,
    * and membership stays a map-side check with zero corpus shuffle.
    * FPs only ever ADD candidates (n_bloom ≥ n_exact per shingle
    * set), so the filter is safe as a pre-screen before q46/q77
    * verification.
    */
  def bloomDecontaminate(spark: SparkSession, dir: String): DataFrame =
    bloomDecontaminateFrom(Tables.documents(spark, dir))

  def bloomDecontaminateFrom(docs: DataFrame): DataFrame = {
    GraftFunctions.register(docs.sparkSession)
    val sh = Tables.widened(docs, col("doc_id"))
      .select(col("doc_id"),
        call_function("sorted_shingle_hashes", col("text")).as("sh"))
    val benchSh = sh.filter(col("doc_id") < BenchDocs)
      .select(explode(col("sh")).as("s")).distinct()
    // the broadcast filter is the REAL bloom structure: a fixed
    // BloomBits-entry membership array, O(1) per probe — not the sorted
    // position list it replaced, whose array_contains probes cost a
    // linear scan each (measured: the per-doc filter dominated the
    // query). Built in-plan from the position set once; size is the
    // filter geometry regardless of benchmark scale, which is the point
    // of shipping a Bloom instead of the shingle set.
    val bloom = benchSh
      .select(explode(array(bloomPos(0, col("s")), bloomPos(1, col("s")))).as("p"))
      .distinct()
      .agg(sort_array(collect_list(col("p"))).as("bp"))
      .select(transform(sequence(lit(0), lit(BloomBits.toInt - 1)),
        i => array_contains(col("bp"), i.cast("long"))).as("bloom"))
    val bench = benchSh.agg(sort_array(collect_list(col("s"))).as("bench_sh"))
    sh.filter(col("doc_id") >= BenchDocs)
      .crossJoin(broadcast(bloom))
      .crossJoin(broadcast(bench))
      .select(col("doc_id"),
        size(filter(col("sh"), s =>
          element_at(col("bloom"), (bloomPos(0, s) + 1).cast("int")) &&
            element_at(col("bloom"), (bloomPos(1, s) + 1).cast("int"))))
          .cast("long").as("n_bloom_hits"),
        call_function("sorted_intersect_count", col("sh"), col("bench_sh"))
          .cast("long").as("n_exact_hits"))
      .withColumn("contaminated", col("n_exact_hits") >= 1)
      .filter(col("n_bloom_hits") >= 1)
      .orderBy("doc_id")
  }

  /** q77 — FUZZY benchmark decontamination: corpus docs that NEAR-
    * duplicate a benchmark doc (MinHash band collision, then exact
    * shingle-Jaccard verification ≥ [[FuzzyDecontamMin]]), emitting the
    * matched benchmark doc and the verified similarity. Complements
    * q46's any-shared-shingle screen: q46 flags verbatim n-gram
    * overlap; this flags reworded/truncated benchmark copies whose
    * aggregate shingle overlap is high — the fuzzy-dedup
    * decontamination pass LLM data pipelines run alongside the exact
    * one (reference scope: the pipeline's data-integrity family,
    * load_duckdb.py:107-128, extended to corpus curation).
    *
    * Scale shape: where q46 broadcasts the benchmark's FULL shingle
    * set (grows with benchmark token count), the benchmark here
    * contributes only [[Dedup.NumBands]] band keys per doc — a
    * model-sized broadcast even for a millions-of-docs eval suite. The
    * corpus side is one map-only kernel pass; candidates exist only on
    * band collision, and the Jaccard verify joins are bounded by the
    * candidate count, never corpus².
    */
  /** q77 Jaccard bar: decontamination screens LOWER than dedup — any
    * meaningful shingle overlap with an eval doc is suspect, where
    * dedup wants confident duplicates. 0.03 makes the fixture gate
    * bind (the synthetic bench docs' nearest corpus overlaps sit at
    * 0.03–0.06; same fixture rationale as `Analytics.MadK`) — the plan
    * is threshold-agnostic.
    */
  val FuzzyDecontamMin = 0.03

  def fuzzyDecontaminate(spark: SparkSession, dir: String): DataFrame =
    fuzzyDecontaminateFrom(Tables.documents(spark, dir))

  def fuzzyDecontaminateFrom(docs: DataFrame): DataFrame = {
    GraftFunctions.register(docs.sparkSession)
    val b = Dedup.bandsFrom(docs)
    val bench = b.filter(col("doc_id") < BenchDocs)
      .select(col("doc_id").as("doc_a"), col("band_id"), col("band_key"))
    val corpus = b.filter(col("doc_id") >= BenchDocs)
      .select(col("doc_id").as("doc_b"), col("band_id"), col("band_key"))
    val pairs = corpus.join(broadcast(bench), Seq("band_id", "band_key"))
      .select(col("doc_a"), col("doc_b")).distinct()
    Dedup.ngramJaccardOfPairs(pairs, docs, FuzzyDecontamMin)
      .select(col("doc_b").as("doc_id"), col("doc_a").as("bench_id"),
        col("jaccard"))
      .orderBy("doc_id", "bench_id")
  }

  /** q47 — within-document repetition: fraction of bigram shingles that
    * are repeats of an earlier shingle in the same doc (the
    * Gopher/C4-style duplicate-n-gram quality signal). One pass through
    * the native shingle kernel; docs with < 2 tokens have no shingles
    * and are excluded.
    */
  def repetition(spark: SparkSession, dir: String): DataFrame =
    repetitionFrom(Tables.documents(spark, dir))

  def repetitionFrom(docs: DataFrame): DataFrame = {
    GraftFunctions.register(docs.sparkSession)
    val total = (size(TextFns.toks(col("text"))) - 1)
    Tables.widened(docs, col("doc_id"))
      .select(col("doc_id"), total.as("n_shingles"),
        size(call_function("sorted_shingle_hashes", col("text")))
          .as("n_distinct"))
      .filter(col("n_shingles") >= 1)
      .select(col("doc_id"), col("n_shingles"), col("n_distinct"),
        ((col("n_shingles") - col("n_distinct")).cast("double") /
          col("n_shingles")).as("rep_ratio"))
      .orderBy("doc_id")
  }

  /** Token budget distributed across sources in q48. */
  val MixBudget = 100000L

  /** q182 — how many head sources the top-share diagnostics cover. */
  val GiniTopK = 5

  /** q182 — SOURCE-CONCENTRATION audit: the Gini coefficient of token
    * mass across sources plus the top-1/top-[[GiniTopK]] shares — the
    * diversity gauge read before trusting any per-source mixture
    * decision (q48/q152/q157): a corpus whose token mass is one giant
    * crawl with a long tail of slivers needs capping and upsampling,
    * not proportional allocation. Gini rides the sorted-rank identity
    * G = (2·Σ i·mᵢ − (n+1)·Σm) / (n·Σm) with ranks ascending by mass —
    * tie order cannot change the sum (equal masses commute), numerator
    * and denominator are EXACT integers accumulated in DECIMAL(38,0),
    * and presentation is the q179 move: round-half-up at 9 dp in
    * integer math, then one identical double division. Top shares are
    * single exact-int divisions.
    *
    * Scale shape: documents fold ONCE to the source-mass relation;
    * everything after (rank windows included) runs on source
    * cardinality — metadata-scale, the q157 precedent. Output is one
    * row.
    */
  def sourceConcentration(spark: SparkSession, dir: String): DataFrame =
    sourceConcentrationFrom(Tables.documents(spark, dir))

  def sourceConcentrationFrom(docs: DataFrame): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val m = docs
      .select(col("source"), size(TextFns.toks(col("text"))).cast("long").as("t"))
      .groupBy("source").agg(sum("t").as("m"))
    // unpartitioned windows over the sources relation only
    val ranked = m
      .withColumn("i", row_number().over(
        Window.partitionBy().orderBy(asc("m"), asc("source"))))
      .withColumn("rk", row_number().over(
        Window.partitionBy().orderBy(desc("m"), asc("source"))))
    val a = ranked.agg(
      count(lit(1)).as("n"),
      sum("m").as("total"),
      sum(col("i").cast(dec) * col("m")).as("im"),
      sum(when(col("rk") <= 1, col("m")).otherwise(0L)).as("m1"),
      sum(when(col("rk") <= GiniTopK, col("m")).otherwise(0L)).as("mk"))
    val num = lit(2).cast(dec) * col("im") -
      (col("n") + 1).cast(dec) * col("total")
    val den = graft.functions.Det.nullIfZero(
      col("n").cast(dec) * col("total"))
    val g9 = call_function("div",
      lit(2L * 1000000000L).cast(dec) * num + den, lit(2).cast(dec) * den)
    a.select(col("n").as("n_sources"), col("total").as("total_tokens"),
      (g9.cast("double") / lit(1.0e9)).as("gini"),
      (col("m1").cast("double") /
        graft.functions.Det.nullIfZero(col("total"))).as("top1_share"),
      (col("mk").cast("double") /
        graft.functions.Det.nullIfZero(col("total"))).as("topk_share"))
  }

  /** q195 — dataset COMPOSITION grid: the (lang × source) table a
    * corpus datasheet ships under q71's one-row card — per cell the
    * doc/token mass, the exact fixed-point mean quality (the q186
    * integral-divide mean, so cells order by pure integers), and the
    * doc share. The grid is what q169's Cramér's V summarizes to one
    * number and what q48/q152/q157/q186's mixture decisions slice by —
    * this is the raw table those consumers read.
    *
    * Scale shape: docs fold ONCE to the grid (map-side combine;
    * languages × sources cells), the share denominator is a window
    * over the grid relation, shares single exact-int divisions.
    */
  def compositionGrid(spark: SparkSession, dir: String): DataFrame =
    compositionGridFrom(Tables.documents(spark, dir))

  def compositionGridFrom(docs: DataFrame): DataFrame = {
    val q = TextAnalysis.qualityFeatures(docs, Seq("lang", "source"))
    val all = Window.partitionBy()
    q.groupBy("lang", "source").agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens").cast("long")).as("n_tokens"),
        sum(round(col("quality_score") * 1e6).cast("long")).as("sum6"),
        count(col("quality_score")).as("n_scored"))
      .withColumn("mean_quality",
        call_function("div", lit(2L) * col("sum6") + col("n_scored"),
          graft.functions.Det.nullIfZero(lit(2L) * col("n_scored")))
          .cast("double") / lit(1.0e6))
      .withColumn("doc_share",
        col("n_docs").cast("double") / sum("n_docs").over(all))
      .select("lang", "source", "n_docs", "n_tokens", "mean_quality",
        "doc_share")
      .orderBy("lang", "source")
  }

  /** q188 context-length arms (tokens): the fixture's length
    * distribution (p10≈21, p90≈88) puts real mass on every side of
    * each arm.
    */
  val TruncCtxLengths = Seq(32, 64, 128)

  /** q188 — TRUNCATION-LOSS audit: for each candidate context length,
    * how many documents a hard truncation clips and what fraction of
    * the corpus token mass falls off the end — the report read next to
    * q63's packing when choosing a training context length (truncation
    * loses the documents' TAILS; packing loses padding — this
    * quantifies the first so the two can be traded off). All integer:
    * kept = min(len, ctx) per doc, arm membership replicated on the
    * per-doc token-count relation (one long per doc, map-side
    * combine), one closing exact-int division per arm.
    */
  def truncationLoss(spark: SparkSession, dir: String): DataFrame =
    truncationLossFrom(Tables.documents(spark, dir))

  def truncationLossFrom(docs: DataFrame): DataFrame = {
    val t = docs.select(size(TextFns.toks(col("text"))).cast("long").as("t"))
    t.select(explode(array(TruncCtxLengths.map(c => lit(c.toLong)): _*))
        .as("ctx"), col("t"))
      .groupBy("ctx").agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("t") > col("ctx"), 1L).otherwise(0L)).as("n_truncated"),
        sum("t").as("tokens_total"),
        sum(least(col("t"), col("ctx"))).as("tokens_kept"))
      .select(col("ctx"), col("n_docs"), col("n_truncated"),
        col("tokens_total"), col("tokens_kept"),
        (col("tokens_total") - col("tokens_kept")).as("tokens_lost"),
        ((col("tokens_total") - col("tokens_kept")).cast("double") /
          graft.functions.Det.nullIfZero(col("tokens_total")))
          .as("loss_rate"))
      .orderBy("ctx")
  }

  /** q186 — the curriculum budget is this fraction of corpus tokens
    * (denominator of an integral divide, so it scales with the corpus
    * and every status leg is exercised at every sf).
    */
  val CurriculumDen = 2

  /** q186 — QUALITY-CURRICULUM budget fill: rank sources by mean
    * quality score and fill a token budget (half the corpus) from the
    * top — whole sources until the boundary, a partial take there,
    * zero below — completing the mixture-control family with the
    * GREEDY counterpart of q48's proportional, q152's capped and
    * q157's temperature allocations (the "train on the best half
    * first" curriculum). The mean is exact fixed-point: per-doc 6-dp
    * scores become integers (×10⁶), sum and count fold per source, and
    * mean6 = ⌊(2·Σ + n)/(2n)⌋ — the q179 integral-divide half-up — so
    * the quality ORDER is pure integer comparison, never a float sort
    * key; unscored docs contribute token mass but not score.
    *
    * Scale shape: docs fold ONCE to the source relation (map-side
    * combine); ranking, the cumulative-fill window and the budget
    * aggregate all run at source cardinality (the q157 precedent);
    * allocations are exact integers summing to ≤ budget by
    * construction.
    */
  def curriculumFill(spark: SparkSession, dir: String): DataFrame =
    curriculumFillFrom(Tables.documents(spark, dir))

  def curriculumFillFrom(docs: DataFrame): DataFrame = {
    val q = TextAnalysis.qualityFeatures(docs, Seq("source"))
    val perSource = q.groupBy("source").agg(
      count(lit(1)).as("n_docs"),
      sum(col("n_tokens").cast("long")).as("n_tokens"),
      sum(round(col("quality_score") * 1e6).cast("long")).as("sum6"),
      count(col("quality_score")).as("n_scored"))
    val mean6 = call_function("div",
      lit(2L) * col("sum6") + col("n_scored"),
      graft.functions.Det.nullIfZero(lit(2L) * col("n_scored")))
    val ranked = perSource
      .withColumn("mean6", mean6)
      .withColumn("qrank", row_number().over(Window.partitionBy()
        .orderBy(coalesce(col("mean6"), lit(-1L)).desc, col("source").asc)))
    val all = Window.partitionBy()
    val before = Window.partitionBy().orderBy("qrank")
      .rowsBetween(Window.unboundedPreceding, -1)
    val budget = call_function("div",
      sum(col("n_tokens")).over(all), lit(CurriculumDen.toLong))
    val alloc = greatest(lit(0L), least(col("n_tokens"),
      col("budget") - coalesce(sum(col("n_tokens")).over(before), lit(0L))))
    ranked
      .withColumn("budget", budget)
      .withColumn("alloc_tokens", alloc)
      .select(col("source"), col("qrank"),
        (col("mean6").cast("double") / lit(1.0e6)).as("mean_quality"),
        col("n_tokens"), col("alloc_tokens"),
        when(col("n_tokens") > 0 && col("alloc_tokens") === col("n_tokens"),
          "full")
          .when(col("alloc_tokens") > 0, "partial")
          .otherwise("excluded").as("status"))
      .orderBy("qrank")
  }

  /** q48 — source mixture allocation: distribute a fixed token budget
    * across sources proportionally to their token mass, with
    * largest-remainder rounding (floor everyone, hand the leftover units
    * to the largest fractional parts, ties by source name) so the
    * allocations are integers that sum exactly to the budget.
    */
  def sourceMixture(spark: SparkSession, dir: String): DataFrame =
    sourceMixtureFrom(Tables.documents(spark, dir))

  def sourceMixtureFrom(docs: DataFrame): DataFrame =
    mixtureAlloc(docs, _ => lit(MixBudget)).orderBy("source")

  /** Largest-remainder allocation of a token budget across sources.
    * `budgetOf` maps the corpus-total-tokens column to the budget column
    * (a constant for q48; half the corpus for the q52 sampling rate), so
    * the allocation arithmetic is shared and oracle-mirrored once.
    */
  private def mixtureAlloc(docs: DataFrame, budgetOf: Column => Column): DataFrame = {
    val all = Window.partitionBy()
    val perSource = docs
      .select(col("source"),
        size(TextFns.toks(col("text"))).cast("long").as("tok"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("tok").as("n_tokens"))
    val total = sum(col("n_tokens")).over(all)
    val budget = budgetOf(total)
    val withBase = perSource
      .withColumn("budget", budget)
      .withColumn("raw", (col("budget") * col("n_tokens")).cast("double") / total)
      .withColumn("base", floor(col("raw")).cast("long"))
    val rk = row_number().over(
      Window.partitionBy().orderBy(desc("frac"), asc("source")))
    withBase
      .withColumn("frac", col("raw") - col("base"))
      .withColumn("leftover", col("budget") - sum(col("base")).over(all))
      .withColumn("rk", rk)
      .select(col("source"), col("n_docs"), col("n_tokens"),
        (col("base") + when(col("rk") <= col("leftover"), 1L).otherwise(0L))
          .as("alloc_tokens"))
  }

  /** q157 — TEMPERATURE-scaled mixture allocation: the q48 budget
    * distributed proportionally to `n_tokens^α` with α fixed at 1/2 —
    * the T5/LLaMA-style sampling rule that deliberately flattens the
    * mixture (head sources are down-weighted, tail sources up-weighted,
    * relative to their raw token mass) so a handful of giant crawls
    * can't monopolize the training mix. Completes the mixture-control
    * trio: q48 allocates by mass, q152 caps the head outright, this
    * interpolates between them with a tunable flattening exponent.
    *
    * Determinism: α = 1/2 is chosen because the weight stays EXACT
    * integer arithmetic — `floor(sqrt(n_tokens))` rides the correctly-
    * rounded IEEE sqrt both engines share (a general `pow(x, α)` is
    * not correctly rounded and can drift cross-engine); the allocation
    * is q48's largest-remainder scheme verbatim (floor everyone, hand
    * leftover units to the largest fractional parts, ties by source),
    * so allocations are integers summing exactly to the budget. The
    * `mass_share`/`mix_share` columns each close with one IEEE
    * division, making the flattening auditable under the hash gate.
    *
    * Scale shape: identical to q48 — one source-keyed aggregate
    * (domains, not documents, cross the wire) and single-partition
    * windows over the handful of source rows.
    */
  def temperatureMixture(spark: SparkSession, dir: String): DataFrame =
    temperatureMixtureFrom(Tables.documents(spark, dir))

  def temperatureMixtureFrom(docs: DataFrame): DataFrame = {
    val all = Window.partitionBy()
    val perSource = docs
      .select(col("source"),
        size(TextFns.toks(col("text"))).cast("long").as("tok"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("tok").as("n_tokens"))
      .withColumn("weight",
        floor(sqrt(col("n_tokens").cast("double"))).cast("long"))
    val withBase = perSource
      .withColumn("tot_n", sum(col("n_tokens")).over(all))
      .withColumn("raw", (lit(MixBudget) * col("weight")).cast("double") /
        sum(col("weight")).over(all))
      .withColumn("base", floor(col("raw")).cast("long"))
    val rk = row_number().over(
      Window.partitionBy().orderBy(desc("frac"), asc("source")))
    withBase
      .withColumn("frac", col("raw") - col("base"))
      .withColumn("leftover", lit(MixBudget) - sum(col("base")).over(all))
      .withColumn("rk", rk)
      .withColumn("alloc_tokens",
        col("base") + when(col("rk") <= col("leftover"), 1L).otherwise(0L))
      .select(col("source"), col("n_docs"), col("n_tokens"), col("weight"),
        col("alloc_tokens"),
        round(col("n_tokens").cast("double") / col("tot_n").cast("double"), 6)
          .as("mass_share"),
        round(col("alloc_tokens").cast("double") / lit(MixBudget.toDouble), 6)
          .as("mix_share"))
      .orderBy("source")
  }

  /** q58 chunk width in tokens, and the cross-document occurrence
    * threshold above which a chunk counts as boilerplate.
    */
  val ChunkTokens = 8
  val BoilerMinDocs = 2

  /** q58 — chunk-level boilerplate dedup (the paragraph-dedup /
    * boilerplate-removal stage of a CCNet-style pipeline, on
    * fixed-width token chunks since the fixture corpus has no line
    * structure): cut each document into non-overlapping
    * [[ChunkTokens]]-token chunks, count how many documents each
    * distinct chunk appears in, and score every document by the
    * fraction of its distinct chunks that are corpus-level boilerplate
    * (appear in ≥ [[BoilerMinDocs]] docs).
    *
    * Scale shape: chunking + hashing is pure map work (native-codegen
    * friendly transform over the token array); the occurrence count is
    * one shuffle keyed by chunk hash with map-side combine — DISTINCT
    * chunks, not corpus tokens, cross the wire; the surviving
    * boilerplate set is aggregated to ONE sorted array and broadcast
    * (boilerplate is small by definition — chunks repeated across
    * docs), and each doc then takes a single sorted-merge intersect
    * count map-side, the same `sorted_intersect_count` kernel as q46's
    * decontamination. The corpus is scanned twice and never shuffled.
    */
  def chunkDedup(spark: SparkSession, dir: String): DataFrame =
    chunkDedupFrom(Tables.documents(spark, dir))

  def chunkDedupFrom(docs: DataFrame): DataFrame = {
    GraftFunctions.register(docs.sparkSession)
    val w = TextFns.toks(col("text"))
    val nChunks = floor(size(w) / lit(ChunkTokens)).cast("int") // full chunks only
    val chunks = when(nChunks < 1, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(0), nChunks - 1),
        i => concat_ws(" ", slice(w, i * ChunkTokens + 1, lit(ChunkTokens)))))
    // the ≥1-full-chunk predicate runs on the TOKEN count, before the
    // chunk-hash column exists: a post-hoc filter(size(cs) >= 1) gets
    // pushed into a Filter node with the full md5 chunk transform
    // inlined — a second (and with the downstream projections, third)
    // per-row copy of the hashing (the q84 lesson)
    val perDoc = Tables.widened(docs, col("doc_id"))
      .filter(size(TextFns.toks(col("text"))) >= ChunkTokens)
      .select(col("doc_id"),
        sort_array(array_distinct(transform(chunks,
          c => TextFns.hash60(concat(lit("ck|"), c))))).as("cs"))
    // explode_OUTER, not explode: InferFiltersFromGenerate only fires on
    // non-outer generates, and the inferred `size(cs) > 0 AND
    // isnotnull(cs)` pushes through the cs-projection with the full md5
    // chunk transform INLINED — two extra per-row copies of the hashing
    // ahead of the chunk-count exchange (the q84 lesson resurfacing one
    // rule over). The token-count guard above already makes cs non-empty
    // and non-null, so outer semantics are identical; the null guard
    // below only drops the impossible row shape.
    val boiler = perDoc
      .select(explode_outer(col("cs")).as("s"))
      .filter(col("s").isNotNull)
      .groupBy("s").agg(count(lit(1)).as("nd"))
      .filter(col("nd") >= BoilerMinDocs)
      .agg(sort_array(collect_list(col("s"))).as("boiler"))
    perDoc
      .crossJoin(broadcast(boiler))
      .select(col("doc_id"), size(col("cs")).as("n_chunks"),
        call_function("sorted_intersect_count", col("cs"), col("boiler"))
          .as("n_boiler"))
      .select(col("doc_id"), col("n_chunks"), col("n_boiler"),
        round(col("n_boiler").cast("double") / col("n_chunks"), 6)
          .as("boiler_ratio"))
      .orderBy("doc_id")
  }

  /** Basis-point resolution of the q52 sampling rate. */
  val SampleBp = 10000L

  /** q52 — EXECUTE a mixture: deterministically downsample each source
    * to its allocated share (budget = half the corpus's tokens, so the
    * rate bites at every scale factor). Per source the keep-rate in
    * basis points is `alloc·10⁴ div tokens`; a doc is kept iff
    * `md5-hash32("sample|" + doc_id) mod 10⁴ < rate` — the same
    * stable-under-everything hash discipline as the q45 split (never
    * `rand()`: re-runs, repartitions, and corpus growth must not change
    * a doc's fate). Pure map work after one broadcast join of the tiny
    * per-source rate table.
    */
  def mixtureSample(spark: SparkSession, dir: String): DataFrame =
    mixtureSampleFrom(Tables.documents(spark, dir))

  /** The shared q52 rate table + keep predicate. */
  private def mixtureRates(docs: DataFrame): DataFrame =
    mixtureAlloc(docs, total => (total / lit(2)).cast("long"))
      .withColumn("rate_bp", expr(s"alloc_tokens * $SampleBp div n_tokens"))
      .select("source", "rate_bp")

  private def mixtureKeep: Column =
    TextFns.hash32(
      concat(lit("sample|"), col("doc_id").cast("string"))) % SampleBp < col("rate_bp")

  /** The q52 keep rule at DOC grain: the rows the mixture retains,
    * full document columns preserved — the composable form the
    * end-to-end training pipeline chains between the q89 ledger cut
    * and the q63 packing layout ([[mixtureSampleFrom]] aggregates the
    * same rule into the gated per-source report).
    */
  def mixtureKeepDocs(docs: DataFrame): DataFrame =
    docs.join(broadcast(mixtureRates(docs)), Seq("source"))
      .filter(mixtureKeep)
      .select(docs.columns.map(col).toIndexedSeq: _*)

  def mixtureSampleFrom(docs: DataFrame): DataFrame =
    docs
      .select(col("source"), col("doc_id"),
        size(TextFns.toks(col("text"))).cast("long").as("tok"))
      .join(broadcast(mixtureRates(docs)), Seq("source"))
      .filter(mixtureKeep)
      .groupBy("source", "rate_bp")
      .agg(count(lit(1)).as("n_kept"), sum("tok").as("kept_tokens"))
      .orderBy("source")

  /** q59 snapshot fixture rates: 9 of [[SnapKeepMod]] docs present per
    * snapshot (independent draws per side), 1 in [[SnapMutMod]] of the
    * overlap mutated between crawls.
    */
  val SnapKeepMod = 10
  val SnapMutMod = 4

  /** Deterministic "previous crawl" view of the corpus: drops 1 doc in
    * [[SnapKeepMod]] (hash-selected) and truncates the text of 1 in
    * [[SnapMutMod]] (the prior crawl captured less of the page). The
    * same stable-hash discipline as q45/q52 — a doc's fate never
    * depends on partitioning or corpus growth.
    */
  def oldSnapshotOf(docs: DataFrame): DataFrame = {
    val mut = TextFns.hash32(
      concat(lit("mut|"), col("doc_id").cast("string"))) % SnapMutMod === 0
    docs
      .filter(TextFns.hash32(
        concat(lit("old|"), col("doc_id").cast("string"))) % SnapKeepMod < SnapKeepMod - 1)
      .select(col("doc_id"),
        when(mut, col("text").substr(lit(1), greatest(length(col("text")) - 7, lit(1))))
          .otherwise(col("text")).as("text"))
  }

  /** Deterministic "current crawl" view: drops a different 1-in-
    * [[SnapKeepMod]] subset, text as committed.
    */
  def newSnapshotOf(docs: DataFrame): DataFrame =
    docs
      .filter(TextFns.hash32(
        concat(lit("new|"), col("doc_id").cast("string"))) % SnapKeepMod < SnapKeepMod - 1)
      .select(col("doc_id"), col("text"))

  /** q59 — incremental recrawl snapshot diff: the CDC step of a
    * continuously-recrawled corpus — classify every doc id across two
    * crawl snapshots as added / removed / changed / unchanged and
    * aggregate per-class doc and char mass. The generic operator
    * [[snapshotDiffFrom]] takes any two (doc_id, text) relations; the
    * q59 entry derives both sides deterministically from `documents`
    * so the driver gate is reproducible.
    *
    * Scale shape: ONE full-outer shuffle join keyed by the stable doc
    * id (both crawls co-partition; with bucketed snapshot tables —
    * `sources/Bucketing` — the exchange vanishes entirely), then a
    * 4-row aggregate. Content compare is by equality on the joined
    * row, no second pass.
    */
  def snapshotDiff(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    snapshotDiffFrom(oldSnapshotOf(docs), newSnapshotOf(docs))
  }

  def snapshotDiffFrom(oldDocs: DataFrame, newDocs: DataFrame): DataFrame = {
    val j = oldDocs.select(col("doc_id"), col("text").as("t_old"))
      .join(newDocs.select(col("doc_id"), col("text").as("t_new")),
        Seq("doc_id"), "full_outer")
    val cls = when(col("t_old").isNull, "added")
      .when(col("t_new").isNull, "removed")
      .when(col("t_old") =!= col("t_new"), "changed")
      .otherwise("unchanged")
    j.select(cls.as("change_class"),
        coalesce(length(col("t_old")), lit(0)).as("c_old"),
        coalesce(length(col("t_new")), lit(0)).as("c_new"))
      .groupBy("change_class")
      .agg(count(lit(1)).as("n_docs"),
        sum("c_old").cast("long").as("chars_old"),
        sum("c_new").cast("long").as("chars_new"))
      .orderBy("change_class")
  }

  /** q167 CDC batch selection moduli (stable-hash, the q45/q59
    * discipline). Insert ids offset by `max(doc_id)+1` (a 1-row
    * broadcast aggregate) rather than a constant: a fixed base would
    * collide inserted ids with retained base ids once the corpus
    * outgrows it, silently weakening the "inserts landed once"
    * checksum semantics at warehouse scale.
    */
  val CdcDelMod = 13
  val CdcUpdMod = 7
  val CdcInsMod = 11

  /** q167 — CDC MERGE (upsert) audit: apply a deterministic
    * change-data-capture batch — deletes, updates (text reversed) and
    * inserts (offset ids, upper-cased text) — to the document base and
    * report the op counts plus an exact CONTENT checksum
    * (Σ hash60(id ‖ md5(text)) over the merged table, accumulated in
    * DECIMAL(38,0), shipped as two BIGINT halves —
    * [[graft.functions.Wide]]). This is the
    * warehouse MERGE INTO semantics under the hash gate: the checksum
    * proves updated text actually replaced in place, deletes actually
    * vanished, and inserts landed once — the property a streaming-CDC
    * consumer (Debezium-class) must re-verify after every apply.
    * Deletes win over updates on the same key (the MERGE WHEN MATCHED
    * ordering), spec-pinned.
    *
    * Scale shape: flags are map-side hash expressions on ONE base scan
    * (the batch never materializes); the merge is the same scan's
    * filter/projection plus a union with the insert slice — no join at
    * all, because the batch derives from the base (a real CDC batch
    * joins on the key; the audit's shape is the post-join apply); the
    * audit is two 1-row aggregates cross-joined.
    */
  def cdcMerge(spark: SparkSession, dir: String): DataFrame =
    cdcMergeFrom(Tables.documents(spark, dir))

  def cdcMergeFrom(docs: DataFrame): DataFrame = {
    val dec0 = org.apache.spark.sql.types.DecimalType(38, 0)
    def sel(salt: String, mod: Int) =
      (TextFns.hash32(concat(lit(salt), col("doc_id").cast("string")))
        % mod) === 0
    val flags = docs.select(col("doc_id"), col("text"),
      sel("cdc_del|", CdcDelMod).as("is_del"),
      sel("cdc_upd|", CdcUpdMod).as("is_upd"),
      sel("cdc_ins|", CdcInsMod).as("is_ins"))
    val a = flags.agg(count(lit(1)).as("n_base"),
      sum(when(col("is_del"), 1L).otherwise(0L)).as("n_deletes"),
      sum(when(col("is_upd") && !col("is_del"), 1L).otherwise(0L))
        .as("n_updates"),
      sum(when(col("is_ins"), 1L).otherwise(0L)).as("n_inserts"))
    val off = docs.agg((coalesce(max("doc_id"), lit(0L)) + lit(1L))
      .as("ins_off"))
    val merged = flags.filter(!col("is_del"))
      .select(col("doc_id"),
        when(col("is_upd"), reverse(col("text"))).otherwise(col("text"))
          .as("text"))
      .union(flags.filter(col("is_ins")).crossJoin(broadcast(off))
        .select((col("doc_id") + col("ins_off")).as("doc_id"),
          upper(col("text")).as("text")))
    val m = merged.agg(count(lit(1)).as("n_final"),
        sum(TextFns.hash60(concat(col("doc_id").cast("string"), lit("|"),
          md5(col("text")))).cast(dec0)).cast(dec0).as("chk"))
      .select(col("n_final"),
        Wide.hi62(col("chk")).as("checksum_hi"),
        Wide.lo62(col("chk")).as("checksum_lo"))
    a.crossJoin(m)
  }

  /** q173 k-thresholds audited (ascending) and the length-bucket width
    * of the quasi-identifier.
    */
  val KAnonThresholds = Seq(2, 5, 10)
  val KAnonBucket = 100

  /** q173 — K-ANONYMITY audit over the release quasi-identifiers: with
    * QI = (lang, source, length-bucket), how many equivalence classes
    * fall below each k threshold, how many rows sit in them (the
    * re-identifiable population), and the suppression rate a k-anonymous
    * release would pay. PII scrubbing (q62) removes DIRECT identifiers;
    * this measures the INDIRECT ones — the combination of innocuous
    * attributes that singles a document out, the metric privacy review
    * actually asks for before a corpus ships.
    *
    * Scale shape: ONE corpus aggregate to the QI-class relation
    * (metadata-scale: |langs|·|sources|·|buckets|); the per-k rollup
    * replicates only that class relation (explode × 3), never
    * documents. Map-side combine carries the class counts.
    */
  def kAnonymity(spark: SparkSession, dir: String): DataFrame =
    kAnonymityFrom(Tables.documents(spark, dir))

  def kAnonymityFrom(docs: DataFrame): DataFrame = {
    val cls = docs.select(col("lang"), col("source"),
        (call_function("div", col("n_chars"), lit(KAnonBucket))
          * KAnonBucket).as("len_bucket"))
      .groupBy("lang", "source", "len_bucket")
      .agg(count(lit(1)).as("sz"))
    cls.select(explode(
        array(KAnonThresholds.map(k => lit(k)): _*)).as("k"), col("sz"))
      .groupBy("k").agg(
        count(lit(1)).as("n_classes"),
        sum("sz").cast("long").as("n_rows"),
        sum(when(col("sz") < col("k"), 1L).otherwise(0L))
          .as("classes_at_risk"),
        sum(when(col("sz") < col("k"), col("sz")).otherwise(lit(0L)))
          .cast("long").as("rows_at_risk"))
      .select(col("k"), col("n_classes"), col("n_rows"),
        col("classes_at_risk"), col("rows_at_risk"),
        round(col("rows_at_risk").cast("double") / col("n_rows"), 9)
          .as("risk_rate"))
      .orderBy("k")
  }

  /** SCD2 fixture knobs: 1 in [[ScdUpdMod]] suppliers (stable-hash
    * selected, the q45/q59 discipline) arrives in the day-2 update
    * batch with a changed balance; snapshot validity dates are fixed.
    */
  val ScdUpdMod = 5
  val ScdBaseDate = "2024-01-01"
  val ScdEffDate = "2024-01-02"

  /** Deterministic day-2 update batch: hash-selected suppliers with a
    * +100.0 account-balance change.
    */
  def scdUpdatesOf(supplier: DataFrame): DataFrame =
    supplier
      .filter(TextFns.hash32(
        concat(lit("scd|"), col("s_suppkey").cast("string"))) % ScdUpdMod === 0)
      .select(col("s_suppkey"), col("s_name"), col("s_nationkey"),
        (col("s_acctbal") + lit(100.0)).as("s_acctbal"))

  /** q99 — SCD type-2 dimension historization: apply an update batch to
    * a dimension snapshot, closing the superseded version (`valid_to` =
    * effective date, `is_current` = false) and appending the new
    * version — the MERGE-INTO lifecycle the reference's drop-and-rebuild
    * warehouse (load_duckdb.py:32-36) cannot express, and the dimension
    *-side complement to q96's incremental fact maintenance. Unchanged
    * update rows produce NO new version (change detection on the full
    * attribute tuple), so re-applying the same batch is idempotent.
    *
    * Scale shape: one left join keyed by the dimension key (update
    * batches are day-sized — AQE broadcasts them; a bucketed dimension
    * table makes the join exchange-free) + a union of two projections
    * of that SAME join (exchange reuse); no aggregate at all.
    */
  def scdSupplierHistory(spark: SparkSession, dir: String): DataFrame = {
    val s = Tables.supplier(spark, dir)
    scdMergeFrom(s, scdUpdatesOf(s), ScdBaseDate, ScdEffDate)
  }

  /** q118 validity dates: inside the lineitem shipdate range
    * (1995..2001) so both the superseded and current versions receive
    * fact rows — q99's 2024 dates sit entirely after the facts.
    */
  val PitBaseDate = "1995-01-01"
  val PitEffDate = "1999-01-01"

  /** q118 — POINT-IN-TIME dimension join: every lineitem matched to the
    * supplier version that was valid AT ITS SHIP DATE (`valid_from ≤
    * shipdate < valid_to`), aggregated per (nation, version currency).
    * This is the leakage-safe feature join training pipelines need —
    * joining facts to the CURRENT dimension row leaks future attribute
    * values into past examples (q102 guards label leakage across
    * near-dups; this guards temporal leakage across dimension
    * versions).
    *
    * Scale shape: the history table is dimension-sized (versions ≈
    * keys × change rate) — broadcast here, bucketed by key at 100 TB so
    * the fact side probes its co-located bucket; the validity predicate
    * is the join's post-filter (each fact matches exactly ONE version,
    * versions tile time per key by construction). One hash aggregate at
    * (nation × 2) cardinality after the map-side join.
    */
  def pitEnrichment(spark: SparkSession, dir: String): DataFrame = {
    val s = Tables.supplier(spark, dir)
    pitEnrichmentOf(Tables.lineitem(spark, dir),
      scdMergeFrom(s, scdUpdatesOf(s), PitBaseDate, PitEffDate))
  }

  def pitEnrichmentOf(lineitem: DataFrame, hist: DataFrame): DataFrame =
    lineitem.select(col("l_suppkey"), col("l_shipdate"), col("l_quantity"))
      .join(broadcast(hist),
        col("l_suppkey") === col("s_suppkey") &&
          col("l_shipdate") >= col("valid_from") &&
          (col("valid_to").isNull || col("l_shipdate") < col("valid_to")))
      .groupBy("s_nationkey", "is_current")
      .agg(count(lit(1)).as("n_lines"),
        sum(col("l_quantity").cast(org.apache.spark.sql.types.DecimalType(12, 2)))
          .cast("double").as("sum_qty"))
      .orderBy("s_nationkey", "is_current")

  def scdMergeFrom(current: DataFrame, updates: DataFrame,
      baseDate: String, effDate: String): DataFrame = {
    val u = updates.select(col("s_suppkey"), col("s_name").as("u_name"),
      col("s_nationkey").as("u_nation"), col("s_acctbal").as("u_bal"))
    val j = current.join(u, Seq("s_suppkey"), "left_outer")
    // SQL three-valued logic keeps this false for unmatched rows:
    // isNotNull fails first, so the null attr comparisons never decide
    val changed = col("u_bal").isNotNull &&
      (col("u_bal") =!= col("s_acctbal") || col("u_name") =!= col("s_name") ||
        col("u_nation") =!= col("s_nationkey"))
    val oldRows = j.select(
      col("s_suppkey"), col("s_name"), col("s_nationkey"), col("s_acctbal"),
      to_date(lit(baseDate)).as("valid_from"),
      when(changed, to_date(lit(effDate))).as("valid_to"),
      (!changed).as("is_current"))
    val newRows = j.filter(changed).select(
      col("s_suppkey"), col("u_name").as("s_name"),
      col("u_nation").as("s_nationkey"), col("u_bal").as("s_acctbal"),
      to_date(lit(effDate)).as("valid_from"),
      lit(null).cast("date").as("valid_to"),
      lit(true).as("is_current"))
    oldRows.unionByName(newRows).orderBy("s_suppkey", "valid_from")
  }

  /** Tokens per packed training sequence in q63. Small enough that the
    * ~54-token fixture docs regularly straddle a boundary, so the
    * span arithmetic is gate-exercised.
    */
  val SeqTokens = 256L

  /** q63 — sequence PACKING layout: the concat-and-chop step that turns
    * a curated corpus into fixed-[[SeqTokens]] training sequences.
    * Documents are laid out in stable doc_id order; each doc gets its
    * global token offset, and from it the first/last training sequence
    * it lands in and how many sequences it spans.
    *
    * The global offset is a running sum — the one primitive that is NOT
    * embarrassingly parallel — so it runs as the textbook two-phase
    * distributed prefix sum instead of Spark's single-partition global
    * window: (1) a deterministic, doc_id-MONOTONE partition id (the
    * layout order is doc_id, so pids must be contiguous id ranges —
    * hashing would balance but reorder): docs land in FINE value-range
    * buckets (64·p of them, pure arithmetic — no sampled
    * RangePartitioner whose boundaries could differ between passes),
    * and ONE O(64·p)-row collected aggregate of per-bucket doc/token
    * counts lets the driver greedily pack contiguous fine buckets into
    * ~p pids of ≈equal DOC COUNT — so clustered or sparse id spaces
    * (ingest batches at offset strides, tombstoned ranges) cannot pile
    * into one pid the way a fixed `doc_id div width` grid could,
    * up to the fine-bucket granularity dial; (2) the same collected
    * rows yield each pid's exclusive token-offset prefix, broadcast
    * back; (3) an intra-partition cumulative window, parallel across
    * pids because each sorts only its own slice. Corpus cost: two
    * scans, one hash exchange on pid — a global-window formulation
    * would serialize the entire corpus through one task.
    */
  def packSequences(spark: SparkSession, dir: String): DataFrame =
    packSequencesFrom(Tables.documents(spark, dir))

  /** Fine value-range buckets per unit of parallelism — the balance
    * granularity: an id cluster narrower than span/(64·p) still lands
    * in one fine bucket (and so one pid); wider clustering spreads.
    */
  val PackFineBucketsPerCore = 64L

  /** Driver-side contiguous re-grouping of fine buckets into balanced
    * pids: returns (fine bucket → (pid, pid's exclusive token offset)).
    * Exposed for the balance spec.
    */
  private[graft] def packPidMap(
      fineStats: Array[(Long, Long, Long)], // (fine, n_docs, n_tokens) sorted
      p: Long): Array[(Long, Long, Long)] = {
    val totalDocs = fineStats.map(_._2).sum
    val target = math.max(1L, (totalDocs + p - 1) / p)
    var pid = 0L
    var docsIn = 0L
    var off = 0L
    var pidOff = 0L
    fineStats.map { case (fine, nd, t) =>
      if (docsIn >= target) { pid += 1; docsIn = 0L; pidOff = off }
      val row = (fine, pid, pidOff)
      docsIn += nd; off += t
      row
    }
  }

  def packSequencesFrom(docs: DataFrame, seqTokens: Long = SeqTokens): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val d = docs
      .select(col("doc_id"),
        size(TextFns.toks(col("text"))).cast("long").as("n_tokens"))
      .filter(col("n_tokens") >= 1)
    val maxRow = d.agg(max("doc_id")).collect()(0)
    if (maxRow.isNullAt(0)) // empty corpus: empty manifest, same schema
      return d.select(col("doc_id"), col("n_tokens"),
        lit(0L).as("start_off"), lit(0L).as("seq_first"),
        lit(0L).as("seq_last"), lit(0L).as("n_seqs"))
    val maxId = maxRow.getLong(0)
    val p = spark.sparkContext.defaultParallelism.toLong
    val fine = p * PackFineBucketsPerCore
    val fineWidth = math.max(1L, (maxId + fine) / fine) // ceil((maxId+1)/fine)
    val df = d.withColumn("fine", expr(s"doc_id div $fineWidth"))
    // one metadata-scale collect: per-fine-bucket doc + token counts
    val fineStats = df.groupBy("fine")
      .agg(count(lit(1)).as("nd"), sum("n_tokens").as("t"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    val fmap = packPidMap(fineStats, p)
    val w = Window.partitionBy("pid").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.join(broadcast(fmap.toSeq.toDF("fine", "pid", "off")), Seq("fine"))
      .withColumn("cum", col("off") + sum("n_tokens").over(w))
      .select(col("doc_id"), col("n_tokens"),
        (col("cum") - col("n_tokens")).as("start_off"),
        expr(s"(cum - n_tokens) div $seqTokens").as("seq_first"),
        expr(s"(cum - 1) div $seqTokens").as("seq_last"))
      .withColumn("n_seqs", col("seq_last") - col("seq_first") + 1)
      .orderBy("doc_id")
  }

  /** Training shards the q81 shuffle deals sequences into. */
  val NumShards = 8

  /** q81 — deterministic training-order shuffle + epoch sharding: every
    * packed sequence (q63) gets a shard and a dense position within it,
    * in salted-hash order — the "global shuffle" step between packing
    * and training. Hash-ordered, never rand() (the q45 discipline: the
    * order must not move under re-runs or repartitioning), so any
    * worker can recompute its read plan from the corpus alone.
    *
    * Scale shape: dense per-shard positions WITHOUT a per-shard global
    * window (8 corpus-sized window partitions would serialize the
    * sort): the q63 two-phase prefix trick generalized to mod-sharding
    * — bucket by hash RANGE (`pid`, contiguous in the shuffle order),
    * count per (pid, shard) (collected: O(partitions × shards) rows,
    * metadata-scale), prefix-sum to per-bucket offsets, then number
    * inside each (pid, shard) cell — each cell is corpus/(p·shards),
    * shrinking as the cluster grows.
    */
  def shuffleShards(spark: SparkSession, dir: String): DataFrame =
    shuffleShardsFrom(packSequencesFrom(Tables.documents(spark, dir)))

  def shuffleShardsFrom(manifest: DataFrame): DataFrame = {
    val spark = manifest.sparkSession
    import spark.implicits._
    val seqs = manifest
      .select(explode(sequence(col("seq_first"), col("seq_last"))).as("seq_id"))
      .groupBy("seq_id").agg(count(lit(1)).as("n_docs"))
      .withColumn("h", TextFns.hash60(
        concat(lit("shard|"), col("seq_id").cast("string"))))
      .withColumn("shard", (col("h") % NumShards).cast("int"))
    val p = spark.sparkContext.defaultParallelism.toLong
    val width = math.max(1L, (1L << 60) / p) // hash60 ∈ [0, 2^60)
    val b = seqs.withColumn("pid", expr(s"h div $width"))
    // per-(pid, shard) counts: O(p × shards) rows — model-sized collect
    val counts = b.groupBy("pid", "shard").agg(count(lit(1)).as("c"))
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
      .sortBy { case (pid, shard, _) => (shard, pid) }
    val offs = {
      var acc = 0L; var prevShard = -1
      counts.map { case (pid, shard, c) =>
        if (shard != prevShard) { acc = 0L; prevShard = shard }
        val o = acc; acc += c; (pid, shard, o)
      }
    }
    val w = Window.partitionBy("pid", "shard").orderBy("h", "seq_id")
    b.join(broadcast(offs.toSeq.toDF("pid", "shard", "off")),
        Seq("pid", "shard"))
      .withColumn("shard_pos", col("off") + row_number().over(w) - 1)
      .select(col("seq_id"), col("shard"), col("shard_pos"), col("n_docs"))
      .orderBy("shard", "shard_pos")
  }

  /** Normalized-text 128-bit fingerprint — the q21/q39 normalization
    * (lowercase, strip non-alphanumerics, collapse whitespace) hashed
    * with md5.
    */
  private def fp(text: Column): Column =
    md5(trim(regexp_replace(
      regexp_replace(lower(text), "[^a-z0-9 ]", ""), "\\s+", " ")))

  /** q67 mirror-replica fixture rates: 1 in [[RepMod]] docs also lives
    * in the previous snapshot under a [[RepShift]]-shifted id with
    * identical text — the same-content-different-URL shape every real
    * recrawl sees (the corpus's planted duplicates are near-dups, so
    * without replicas the exact-match gate would be vacuous).
    */
  val RepMod = 5
  val RepShift = 100000L

  /** Deterministic mirror replicas of the corpus (hash-selected, same
    * stable discipline as the other snapshot fixtures).
    */
  def replicasOf(docs: DataFrame): DataFrame =
    docs
      .filter(TextFns.hash32(
        concat(lit("rep|"), col("doc_id").cast("string"))) % RepMod === 0)
      .select((col("doc_id") + RepShift).as("doc_id"), col("text"))

  /** q67 — incremental ingest dedup: docs in the NEW crawl snapshot
    * that exactly duplicate (normalized fingerprint) a DIFFERENT doc
    * already present in the previous snapshot — the dedup-on-ingest
    * step of a continuously recrawled corpus, composing the q59
    * snapshot fixtures (+ planted mirror replicas) with the q21
    * exact-dedup discipline. Emits the duplicate's id, its canonical
    * prior copy (min old doc id), and how many prior copies exist.
    *
    * Scale shape: the existing corpus contributes ONLY its fingerprint
    * index (fp, doc_id) — 48 bytes/doc, not text — and the join keys on
    * the 128-bit fp, so the shuffle carries fingerprints, never
    * documents; with the index stored bucketed by fp
    * (`sources/Bucketing`) the new slice alone shuffles. Group-by
    * collapses multi-copy fingerprints with map-side combine.
    */
  def ingestDedup(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    ingestDedupFrom(
      oldSnapshotOf(docs).unionByName(replicasOf(docs)),
      newSnapshotOf(docs))
  }

  def ingestDedupFrom(oldDocs: DataFrame, newDocs: DataFrame): DataFrame = {
    val o = oldDocs.select(fp(col("text")).as("fp"), col("doc_id").as("old_id"))
    val n = newDocs.select(fp(col("text")).as("fp"), col("doc_id"))
    n.join(o, n("fp") === o("fp") && col("doc_id") =!= col("old_id"))
      .groupBy("doc_id")
      .agg(min("old_id").as("dup_of"), count(lit(1)).as("n_old_copies"))
      .orderBy("doc_id")
  }

  /** q78 — NEAR-dup-aware ingest: docs in the new crawl whose text
    * near-duplicates (MinHash band collision + shingle-Jaccard ≥
    * [[Dedup.JaccardMin]]) a DIFFERENT doc already in the corpus,
    * with the best prior match (max jaccard, min old id on ties). The
    * fuzzy complement of q67: exact fingerprints miss a recrawl that
    * captured more of the page or a boilerplate-shifted mirror — the
    * q59 fixture's truncation mutation is exactly that case, invisible
    * to q67's fp join and caught here.
    *
    * Scale shape: the existing corpus contributes only its BAND index
    * ([[Dedup.NumBands]] (band_id, band_key) rows/doc — fixed-width,
    * like q67's fp index, storable bucketed by band key so only the
    * new slice shuffles); candidates exist only on band collision;
    * the verify joins carry one sorted hash array per candidate doc,
    * and the best-match window partitions by new-doc id over the
    * already-small verified relation.
    */
  def ingestNearDup(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    ingestNearDupFrom(
      oldSnapshotOf(docs).unionByName(replicasOf(docs)),
      newSnapshotOf(docs))
  }

  def ingestNearDupFrom(oldDocs: DataFrame, newDocs: DataFrame): DataFrame = {
    GraftFunctions.register(newDocs.sparkSession)
    val ob = Dedup.bandsFrom(oldDocs)
      .select(col("doc_id").as("old_id"), col("band_id"), col("band_key"))
    val nb = Dedup.bandsFrom(newDocs)
    val cand = nb.join(ob,
        nb("band_id") === ob("band_id") && nb("band_key") === ob("band_key") &&
          nb("doc_id") =!= ob("old_id"))
      .select(col("doc_id"), col("old_id")).distinct()
    def sh(d: DataFrame, idAs: String, shAs: String) =
      Tables.widened(d, col("doc_id"))
        .select(col("doc_id").as(idAs),
          call_function("sorted_shingle_hashes", col("text")).as(shAs))
        .where(size(col(shAs)) > 0)
    val scored = cand
      .join(sh(newDocs, "doc_id", "sh_n"), Seq("doc_id"))
      .join(sh(oldDocs, "old_id", "sh_o"), Seq("old_id"))
      .select(col("doc_id"), col("old_id"),
        call_function("sorted_intersect_count", col("sh_n"), col("sh_o"))
          .as("n_common"),
        size(col("sh_n")).cast("long").as("sz_n"),
        size(col("sh_o")).cast("long").as("sz_o"))
      .select(col("doc_id"), col("old_id"),
        round(col("n_common").cast("double") /
          graft.functions.Det.nullIfZero(
            col("sz_n") + col("sz_o") - col("n_common")), 9).as("jaccard"))
      .filter(col("jaccard") >= Dedup.JaccardMin)
    val w = Window.partitionBy("doc_id")
      .orderBy(col("jaccard").desc, col("old_id").asc)
    scored.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("doc_id"), col("old_id").as("near_dup_of"), col("jaccard"))
      .orderBy("doc_id")
  }

  /** q70 sliding-passage geometry: window and stride in tokens
    * (overlap = window − stride).
    */
  val PassageWin = 32
  val PassageStride = 24

  /** q70 — overlapping passage chunking: cut every document into
    * [[PassageWin]]-token passages every [[PassageStride]] tokens (8
    * tokens of overlap) — the retrieval-index prep step of a RAG
    * pipeline, where overlap keeps answers that straddle a boundary
    * findable. Emits one row per passage with its offset geometry and a
    * content hash (the join key an embedding/index stage would carry).
    *
    * Scale shape: pure map work — the passage list is a per-row array
    * transform (start offsets by integer arithmetic, `slice` +
    * `concat_ws` + the md5 kernel inside codegen) followed by one
    * posexplode; row growth is the geometry's n/stride factor, there is
    * no shuffle but the presentation sort.
    */
  def passageChunks(spark: SparkSession, dir: String): DataFrame =
    passageChunksFrom(Tables.documents(spark, dir))

  def passageChunksFrom(docs: DataFrame): DataFrame = {
    val w = TextFns.toks(col("text"))
    // stop once a passage reaches the end of the doc: a start whose
    // window is fully inside the previous passage would be redundant
    val nChunks = expr(s"""CASE WHEN size(w) <= $PassageWin THEN 1
      ELSE (size(w) - $PassageWin + ${PassageStride - 1}) div $PassageStride + 1 END""")
    docs
      .select(col("doc_id"), w.as("w"))
      .filter(size(col("w")) >= 1)
      .select(col("doc_id"), col("w"),
        posexplode(transform(sequence(lit(0), nChunks - 1),
          i => (i * PassageStride).cast("int"))).as(Seq("chunk_idx", "start_tok")))
      .select(col("doc_id"), col("chunk_idx"), col("start_tok"),
        least(lit(PassageWin), size(col("w")) - col("start_tok")).as("n_tokens"),
        TextFns.hash60(concat(lit("pc|"), concat_ws(" ",
          slice(col("w"), col("start_tok") + 1,
            least(lit(PassageWin), size(col("w")) - col("start_tok"))))))
          .as("chunk_hash"))
      .orderBy("doc_id", "chunk_idx")
  }

  /** q71 — dataset card: the one-row datasheet a corpus release ships
    * (docs / token / char mass, source and language cardinality, exact
    * duplicate ratio, median doc length, split sizes) — every number
    * deterministic, so the card is reproducible from the data alone.
    *
    * Scale shape: ONE pass over `documents` into a single global
    * aggregate — two-phase partials for the counts/sums, the three
    * exact DISTINCTs share one grouping-set Expand (factor 4, the price
    * of exactness at release time; the q44 HLL path is the always-on
    * monitoring alternative), and the exact median is a sort-based
    * single-column percentile. Nothing doc-keyed crosses the wire.
    */
  def datasetCard(spark: SparkSession, dir: String): DataFrame =
    datasetCardFrom(Tables.documents(spark, dir))

  def datasetCardFrom(docs: DataFrame): DataFrame = {
    val tok = size(TextFns.toks(col("text"))).cast("long")
    val bucket = TextFns.hash32(
      concat(lit("split|"), col("doc_id").cast("string"))) % 100
    docs
      .select(col("source"), col("lang"), tok.as("tok"),
        length(col("text")).cast("long").as("chars"),
        fp(col("text")).as("fpc"), bucket.as("b"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum("tok").as("n_tokens"),
        sum("chars").as("n_chars"),
        countDistinct(col("source")).as("n_sources"),
        countDistinct(col("lang")).as("n_langs"),
        countDistinct(col("fpc")).as("n_distinct_fp"),
        median(col("tok")).as("med_doc_tokens"),
        sum(when(col("b") < TrainPct, 1L).otherwise(0L)).as("n_train"),
        sum(when(col("b") >= TrainPct && col("b") < ValPct, 1L).otherwise(0L)).as("n_val"),
        sum(when(col("b") >= ValPct, 1L).otherwise(0L)).as("n_test"))
      .withColumn("dup_ratio",
        round(lit(1.0) - col("n_distinct_fp").cast("double") / col("n_docs"), 9))
  }

  /** q92 profile targets: (column, numeric?) — numeric columns report
    * value min/max, string columns report length min/max.
    */
  private val ProfileCols: Seq[(String, Boolean)] = Seq(
    ("doc_id", true), ("text", false), ("lang", false),
    ("source", false), ("n_chars", true))

  /** q92 — per-column table profile: the data-quality contract check
    * (the Deequ/dbt-test shape) every ingest runs before anything
    * downstream trusts a drop — row count, null count, exact distinct
    * cardinality, and value bounds (numerics) or length bounds
    * (strings) per column of `documents`. q71 summarizes the CORPUS
    * (mass, dup ratio, splits); this audits the TABLE — nullability
    * regressions, cardinality collapses, truncated text, id-range
    * drift.
    *
    * Scale shape: one aggregate PER COLUMN over a scan pruned to that
    * single column (`ReadSchema` carries exactly one field — columnar
    * I/O pays only the audited bytes), map-side-combined; the 5-row
    * union is report-sized. Exact distincts keep the oracle hash
    * binding; a 100 TB profile would swap `approx_count_distinct` into
    * the same plan.
    */
  def tableProfile(spark: SparkSession, dir: String): DataFrame =
    tableProfileFrom(Tables.documents(spark, dir))

  def tableProfileFrom(docs: DataFrame): DataFrame = {
    val parts = ProfileCols.map { case (c, num) =>
      docs.select(col(c)).agg(
          count(lit(1)).as("n_rows"),
          sum(when(col(c).isNull, 1L).otherwise(0L)).as("n_nulls"),
          countDistinct(col(c)).as("n_distinct"),
          (if (num) min(col(c)).cast("long")
           else lit(null).cast("long")).as("num_min"),
          (if (num) max(col(c)).cast("long")
           else lit(null).cast("long")).as("num_max"),
          (if (num) lit(null).cast("long")
           else min(length(col(c))).cast("long")).as("len_min"),
          (if (num) lit(null).cast("long")
           else max(length(col(c))).cast("long")).as("len_max"))
        .select(lit(c).as("col_name"), col("n_rows"), col("n_nulls"),
          col("n_distinct"), col("num_min"), col("num_max"),
          col("len_min"), col("len_max"))
    }
    parts.reduce(_ unionByName _).orderBy("col_name")
  }

  /** q202 — ORC storage-format roundtrip gate: the per-source rollup
    * computed THROUGH [[graft.sources.OrcMirror]] (documents written to
    * ORC once per corpus, read back) while the DuckDB oracle computes
    * the identical rollup over the ORIGINAL parquet — hash equality
    * proves the ORC write→read path preserves every value class the
    * table carries (BIGINT ids, STRING text — witnessed by a summed
    * content hash, not just lengths — and the lang/source dimensions).
    * The format twin of the CSV (SupplierCsv) and JSONL (Jsonl) gates.
    *
    * Scale shape: the mirror is written once per corpus fingerprint
    * (atomic rename, `_SUCCESS`-gated) with one writer task per source
    * and `source,doc_id`-sorted stripes (tight stripe min/max → ORC
    * stripe pruning on source predicates); the rollup is one
    * map-side-combined aggregate bounded by |sources|.
    */
  def orcMirror(spark: SparkSession, dir: String): DataFrame =
    orcRollupOf(graft.sources.OrcMirror.documentsFor(spark, dir))

  def orcRollupOf(docs: DataFrame): DataFrame =
    docs.groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_chars").as("sum_chars"),
        countDistinct(col("lang")).as("n_langs"),
        min("doc_id").as("min_doc"),
        max("doc_id").as("max_doc"),
        sum(TextFns.hash32(col("text"))).as("text_hash_sum"))
      .orderBy("source")

  /** Shard counts for q204: the fleet grows [[HrwOld]] → [[HrwNew]]. */
  val HrwOld = 8
  val HrwNew = 9

  /** q204 — RENDEZVOUS (highest-random-weight) shard assignment and the
    * minimal-movement audit: each document scores every shard with
    * `hash60("hrw|" + doc_id + "|" + shard)` and lands on the argmax;
    * when the fleet grows 8 → 9 the ONLY documents that move are those
    * whose new shard-8 score beats their old maximum (≈ 1/9 of the
    * corpus, each moving TO the new shard) — the consistent-hashing
    * contract that makes resharding a 100 TB corpus an O(1/n) copy
    * instead of the near-total reshuffle mod-hashing (q81's static
    * shards) would cause. Output: per old shard, how many docs it holds
    * and how many the expansion takes from it.
    *
    * Determinism: argmax over 9 md5-60bit scores, ties CASE-broken by
    * shard index in the same order in both engines (md5 prefix ties
    * never occur, the tie-break is pure discipline).
    *
    * Scale shape: ZERO corpus shuffle — the 9 scores and both argmaxes
    * are one map-side expression per row; the only exchange carries the
    * 8-row (shard, counts) rollup. The q45/q81 family completes:
    * mod-hash split, static shards, and now movement-minimal resharding.
    */
  def rendezvousShards(spark: SparkSession, dir: String): DataFrame =
    rendezvousShardsFrom(Tables.documents(spark, dir))

  def rendezvousShardsFrom(docs: DataFrame): DataFrame = {
    def hk(k: Int) = TextFns.hash60(
      concat(lit("hrw|"), col("doc_id").cast("string"), lit(s"|$k")))
    val base = docs.select(
      col("doc_id") +: (0 until HrwNew).map(k => hk(k).as(s"h$k")): _*)
    def argmax(n: Int): Column = {
      val m = greatest((0 until n).map(k => col(s"h$k")): _*)
      (0 until n).foldLeft(lit(null).cast("int")) { (acc, k) =>
        if (k == 0) when(col(s"h$k") === m, lit(k))
        else acc.when(col(s"h$k") === m, lit(k))
      }
    }
    base
      .select(argmax(HrwOld).as("shard"), argmax(HrwNew).as("shard_after"))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("shard_after") =!= col("shard"), 1L).otherwise(0L))
          .as("n_moved"))
      .select(col("shard"), col("n_docs"), col("n_moved"),
        round(col("n_moved").cast("double") / col("n_docs"), 9)
          .as("moved_frac"))
      .orderBy("shard")
  }

  /** q221 — SCHEMA-EVOLUTION read gate: the per-source rollup computed
    * THROUGH the mixed-vintage layout ([[graft.sources.Evolved]] —
    * legacy files whose parquet footers genuinely lack `lang`/`n_chars`
    * next to evolved files that carry them, merged with `mergeSchema`).
    * Legacy rows surface the evolved columns as NULL and the rollup
    * backfills chars from the text itself (`coalesce(n_chars,
    * length(text))`) — the add-columns-without-rewriting-history
    * contract a 100 TB warehouse depends on. The oracle computes the
    * identical view from the ORIGINAL single-schema parquet using the
    * deterministic vintage rule (`doc_id % 2`), so hash equality gates
    * the merged-footer read path end to end.
    *
    * Scale shape: footer merge is metadata work; the rollup is one
    * combine-heavy source-keyed aggregate over the scan.
    */
  def schemaEvolution(spark: SparkSession, dir: String): DataFrame =
    schemaEvolutionOf(graft.sources.Evolved.documentsFor(spark, dir))

  /** The merged-vintage audit over an explicit evolved read. */
  def schemaEvolutionOf(d: DataFrame): DataFrame = {
    d.groupBy("source").agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("lang").isNull, 1L).otherwise(0L)).as("n_legacy"),
        sum(when(col("lang").isNotNull, 1L).otherwise(0L)).as("n_evolved"),
        count(col("lang")).as("n_lang_known"),
        sum(coalesce(col("n_chars"), length(col("text")).cast("long")))
          .as("backfilled_chars"))
      .orderBy("source")
  }

  /** q228 — PARTITION-SPEC evolution audit: the events table through
    * [[graft.sources.PartitionEvolved]]'s mixed layout (history under
    * month directories, post-migration data under day directories —
    * the spec change a growing fact table makes without rewriting
    * history), rolled up per (vintage, day) with exact cent sums. The
    * oracle recomputes the merged view from the ORIGINAL parquet via
    * the deterministic migration instant, so the gate proves the
    * two-vintage union loses and duplicates nothing. Completes the
    * evolution family: q221 evolves the SCHEMA, q222 time-travels
    * SNAPSHOTS, this evolves the PARTITION SPEC.
    *
    * Scale shape: two partition-discovering scans + one combine-heavy
    * (vintage, day)-keyed aggregate; day predicates prune the daily
    * vintage at planning time (plan-gated in PlanQualitySpec) and fall
    * back to month-pruned row filters over history — the honest
    * pre-evolution cost.
    */
  def partitionEvolution(spark: SparkSession, dir: String): DataFrame =
    partitionEvolutionOf(
      graft.sources.PartitionEvolved.eventsFor(spark, dir))

  def partitionEvolutionOf(e: DataFrame): DataFrame =
    e.groupBy("vintage", "event_date")
      .agg(count(lit(1)).as("n_events"),
        sum(round(col("value") * 100).cast("long")).as("sum_cents"))
      .orderBy("vintage", "event_date")

  /** q223 mirror-descent step size on the per-source loss. */
  val RwEta = 1.0

  /** q223 — DoReMi-style mixture REWEIGHTING step: the OPTIMIZATION
    * member of the mixture family (q48 allocates by mass, q152 caps,
    * q157 temperature-flattens — all static rules; this moves the
    * weights BY the data). One multiplicative-weights / mirror-descent
    * step: each source's proxy loss is its mean q57 unigram-LM NLL
    * (high-perplexity sources are under-modeled), and
    * `w' ∝ w₀ · exp(η · loss)` upweights them — the Xie et al. DoReMi
    * update with the domain weights seeded from token mass. Output per
    * source: doc/token mass, the loss, and the before/after weights —
    * the table a data-mixing run feeds back into q52's sampler.
    *
    * Determinism: the loss is the round-6 mean of q57's (already
    * round-6) per-doc NLLs; `exp` runs on those identical doubles;
    * the normalizer sums the scores through the DECIMAL(38,12)
    * accumulator (order-free), and the closing division lands under
    * round 6. Token masses are exact integers.
    *
    * Scale shape: one corpus scoring pass (q57's shape — broadcast
    * top-V vocab), one token-count pass, then everything lives on the
    * |sources|-row relation (single-partition windows over model-scale
    * rows, the q48 precedent).
    */
  def mixtureReweight(spark: SparkSession, dir: String): DataFrame =
    mixtureReweightFrom(Tables.documents(spark, dir))

  def mixtureReweightFrom(docs: DataFrame): DataFrame = {
    val all = Window.partitionBy()
    val perDoc = TextAnalysis.lmScoreFrom(docs)
      .select(col("doc_id"), col("nll"))
    val bySrc = perDoc
      .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), round(avg("nll"), 6).as("loss"))
    val tok = docs.select(col("source"),
        size(filter(TextFns.toks(col("text")), t => t =!= ""))
          .cast("long").as("t"))
      .groupBy("source").agg(sum("t").as("n_tokens"))
    bySrc.join(tok, Seq("source"))
      .withColumn("w0", col("n_tokens").cast("double") /
        sum(col("n_tokens")).over(all).cast("double"))
      .withColumn("sc", col("w0") * exp(lit(RwEta) * col("loss")))
      .withColumn("dn",
        sum(col("sc").cast(org.apache.spark.sql.types.DecimalType(38, 12)))
          .over(all).cast("double"))
      .select(col("source"), col("n_docs"), col("n_tokens"), col("loss"),
        round(col("w0"), 6).as("w_before"),
        round(col("sc") / col("dn"), 6).as("w_after"))
      .orderBy("source")
  }

  /** q222 — TIME-TRAVEL snapshot diff over the atomic warehouse: two
    * publishes of the per-source doc-count table (yesterday's snapshot
    * = the legacy `doc_id % 2 = 0` half, today's = the full corpus)
    * land through [[graft.sources.AtomicWarehouse.overwrite]]'s
    * snapshot-pointer flips, then the CURRENT read is joined to the
    * `VERSION AS OF`-style [[graft.sources.AtomicWarehouse.readVersion]]
    * read one generation back — the "what changed since the last
    * publish" audit that version-retaining table formats exist for
    * (and the reason the layout retains the previous generation at
    * all: in-flight readers + diffability). Version names are
    * Lamport-bumped so two publishes inside one millisecond still
    * order by name.
    *
    * Determinism: both snapshots are integer count tables derived by
    * the fixed vintage rule; the oracle computes the same diff
    * directly from the parquet. Scale shape: two source-keyed
    * aggregates + a |sources|-row join; the publishes are the CTAS
    * writes a real pipeline pays anyway.
    */
  def timeTravel(spark: SparkSession, dir: String): DataFrame = {
    val root = spark.conf.get("spark.sql.warehouse.dir")
      .stripPrefix("file:") + "/graft_tt"
    val key = java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes("UTF-8")).map(b => f"$b%02x").mkString.take(12)
    // per-process nonce in the table key: two JVMs sharing a warehouse
    // (Bench + ScaleCurve on the same /dev/shm root) must not race each
    // other's _CURRENT pointer between this run's publishes and reads
    timeTravelOf(Tables.documents(spark, dir), root,
      s"q222_counts_${key}_p${ProcessHandle.current().pid()}")
  }

  /** The publish→publish→diff cycle over an explicit corpus. */
  def timeTravelOf(d: DataFrame, root: String, table: String): DataFrame = {
    import graft.sources.AtomicWarehouse
    val spark = d.sparkSession
    def counts(df: DataFrame) =
      df.groupBy("source").agg(count(lit(1)).as("n_docs"))
    AtomicWarehouse.overwrite(counts(d.filter(col("doc_id") % 2 === 0)),
      root, table)
    AtomicWarehouse.overwrite(counts(d), root, table)
    val now = AtomicWarehouse.read(spark, root, table)
      .select(col("source"), col("n_docs").as("n_docs_now"))
    val prev = AtomicWarehouse.readVersion(spark, root, table, 1)
      .select(col("source"), col("n_docs").as("n_docs_prev"))
    now.join(prev, Seq("source"), "full_outer")
      .select(col("source"),
        coalesce(col("n_docs_now"), lit(0L)).as("n_docs_now"),
        coalesce(col("n_docs_prev"), lit(0L)).as("n_docs_prev"),
        (coalesce(col("n_docs_now"), lit(0L)) -
          coalesce(col("n_docs_prev"), lit(0L))).as("n_added"))
      .orderBy("source")
  }

  /** q214 total privacy budget ε, split evenly over the two releases. */
  val DpEpsilon = 1.0

  /** q214 per-document token clip: the SENSITIVITY of the token-sum
    * release — one document can move the clipped true sum by at most
    * this, which is what calibrates the Laplace scale (an unclipped sum
    * has unbounded sensitivity and no finite-noise DP release).
    */
  val DpClip = 1000L

  /** q214 — DIFFERENTIALLY-PRIVATE per-source releases: the dataset-card
    * numbers (doc count, clipped token mass) published under an ε=1
    * Laplace mechanism — the privacy-vs-utility step a compliance team
    * runs when corpus composition itself is sensitive (competitive
    * crawl mixes, medical/user sources). Completes the compliance
    * family (q162 deletion cascade, q173 k-anonymity, q192 subject
    * access) with the RELEASE side: q71 publishes true counts, this
    * publishes noised ones with the ε ledger and clip constant beside
    * them, so an auditor can verify the mechanism, not trust it.
    *
    * Mechanism: per released statistic, Laplace noise of scale
    * `b = sensitivity / (ε/2)` (docs: sensitivity 1 → b = 2; tokens:
    * sensitivity [[DpClip]] → b = 2·[[DpClip]]); the uniform draw is
    * hash-seeded per (source, statistic) — `hash60("dp|"+source+"|"+tag)
    * mod 2^20`, the q45 no-rand discipline, so the release is
    * deterministic under the gate while still being a faithful inverse-
    * CDF Laplace transform `−b·sign(u−½)·ln(1−2|u−½|)`.
    *
    * Determinism: u = (k+½)/2^20 is EXACT in binary doubles (and never
    * exactly ½), every arithmetic step before the ln is exact, and the
    * single libm ln rides the established round-6 absorption; counts
    * and clipped sums are integers.
    *
    * Scale shape: one map pass (token count + clip) into a
    * source-keyed combine-heavy aggregate; noise is a scalar expression
    * on the |sources|-row result. Nothing user-keyed crosses the wire.
    */
  def dpRelease(spark: SparkSession, dir: String): DataFrame =
    dpReleaseFrom(Tables.documents(spark, dir))

  def dpReleaseFrom(docs: DataFrame): DataFrame = {
    val epsHalf = DpEpsilon / 2.0
    def lap(tag: String, b: Double): Column = {
      val u = (pmod(TextFns.hash60(
        concat(lit("dp|"), col("source"), lit("|" + tag))),
        lit(1048576L)).cast("double") + lit(0.5)) / lit(1048576.0)
      -lit(b) * signum(u - lit(0.5)) *
        log(lit(1.0) - lit(2.0) * abs(u - lit(0.5)))
    }
    val tok = size(filter(TextFns.toks(col("text")), t => t =!= ""))
      .cast("long")
    docs.select(col("source"), tok.as("tok"))
      .groupBy("source")
      .agg(count(lit(1)).as("nd"),
        sum(least(col("tok"), lit(DpClip))).as("nt"))
      .select(col("source"),
        lit(DpEpsilon).as("epsilon"),
        lit(DpClip).as("clip"),
        round(col("nd").cast("double") + lap("docs", 1.0 / epsHalf), 6)
          .as("noised_docs"),
        round(col("nt").cast("double") + lap("tokens", DpClip / epsHalf), 6)
          .as("noised_tokens"))
      .orderBy("source")
  }

  /** q234 hashed-feature bucket count (the DSIR paper uses 10k; the
    * fixture vocabulary saturates 64) and the add-one smoothing mass.
    */
  val DsirBuckets = 64

  /** q234 — DSIR-style importance weighting (Xie et al., "Data
    * Selection for Language Models via Importance Resampling",
    * NeurIPS 2023): score every document by how much more likely its
    * hashed-unigram features are under a TARGET corpus model than
    * under the raw-corpus model, then select the docs the target
    * distribution over-weights. The declared-English slice stands in
    * as the target; the gated deliverable is the per-source selection
    * profile (mean log importance weight, positive-weight share) — the
    * knob a pipeline turns to re-balance a crawl toward a target
    * domain without training a classifier (q218 is the trained-model
    * alternative; this is the importance-sampling one).
    *
    * Exactness discipline: bucket models are integer counts; each
    * bucket's log-ratio collapses to ONE ln difference of exact
    * integer products, rounded to 9 dp and fixed in DECIMAL(20,9);
    * per-doc weights are exact DECIMAL dot products of token counts
    * with those constants, so the sign test and every sum is
    * order-independent — only the two presentation roundings are
    * float.
    *
    * Scale shape: one token pass → a [[DsirBuckets]]-row bucket-model
    * aggregate (map-side combine, broadcast back as a 64-row join) →
    * one (doc, bucket)-grain count with map-side combine → doc- then
    * source-grain rollups. No driver collect, nothing corpus².
    */
  def dsirWeights(spark: SparkSession, dir: String): DataFrame =
    dsirWeightsFrom(Tables.documents(spark, dir))

  def dsirWeightsFrom(docs: DataFrame): DataFrame = {
    val B = DsirBuckets
    val tk = docs.select(col("doc_id"), col("source"), col("lang"),
        explode(TextFns.toks(col("text"))).as("token"))
      .filter(col("token") =!= "")
      .withColumn("b",
        TextFns.hash32(concat(lit("dsir|"), col("token"))) % B)
    val bc = tk.groupBy("b").agg(
      sum(when(col("lang") === "en", 1L).otherwise(0L)).as("ct"),
      sum(when(col("lang") =!= "en", 1L).otherwise(0L)).as("cr"))
    val tot = bc.agg(sum("ct").as("nt"), sum("cr").as("nr"))
    val lam = bc.crossJoin(broadcast(tot))
      .select(col("b"),
        // DECIMAL(12,9): |λ| < 10³ always (it is a log of count
        // ratios), and the narrow type keeps the c·λ product at scale
        // 9 EXACTLY — a wider operand would trip Spark's
        // precision-loss scale reduction and round the dot product
        round(log((col("ct") + 1) * (col("nr") + B)) -
          log((col("cr") + 1) * (col("nt") + B)), 9)
          .cast("decimal(12,9)").as("lam"))
    val dc = tk.groupBy("doc_id", "source", "b")
      .agg(count(lit(1)).as("c"))
    val dw = dc.join(broadcast(lam), "b")
      .groupBy("doc_id", "source")
      .agg(sum(col("c").cast("decimal(10,0)") * col("lam")).as("w"))
    dw.groupBy("source").agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("w") > 0, 1L).otherwise(0L)).as("n_pos"),
        sum("w").as("sw"))
      .select(col("source"), col("n_docs"), col("n_pos"),
        round(col("sw").cast("double") / col("n_docs"), 6)
          .as("mean_weight"),
        round(col("n_pos").cast("double") / col("n_docs"), 6)
          .as("pos_rate"))
      .orderBy("source")
  }

  /** q240 tree geometry: leaf buckets and the fold fanout
    * (64 → 16 → 4 → 1).
    */
  val MerkleBuckets = 64
  val MerkleFanout = 4
  val MerkleLevels = 4

  /** The q240 fixture mirror: the corpus with planted divergence — 1
    * in 101 rows DROPPED, 1 in 97 rows MUTATED — the two failure
    * modes a replication audit must localize.
    */
  def mutatedMirror(docs: DataFrame): DataFrame =
    docs.filter(col("doc_id") % 101 =!= 0)
      .select(col("doc_id"),
        when(col("doc_id") % 97 === 0, concat(col("text"), lit("!")))
          .otherwise(col("text")).as("text"))

  /** q240 — MERKLE-TREE table diff (the Dynamo/Cassandra anti-entropy
    * pattern): prove two copies of a table equal — or localize WHERE
    * they differ — without shipping either copy. Each side reads its
    * rows ONCE into per-bucket digests (order-free `bit_xor` of keyed
    * row hashes, so partitioning can never flip a digest), then folds
    * digests up a [[MerkleFanout]]-ary tree; equal roots prove equal
    * content, and a mismatching root localizes to the differing leaf
    * buckets in log(fanout) probes. At 100 TB the comparison ships
    * [[MerkleBuckets]] digests across the wire, not rows — that is
    * the entire point.
    *
    * The gated output is the full (level, node) grid with both
    * digests, both row counts, and the match flag, over a mirror with
    * planted drops (id%101) and mutations (id%97) — the oracle
    * regenerates both sides analytically, so the digest algebra must
    * localize exactly the planted damage.
    */
  def merkleDiff(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    merkleDiffFrom(docs, mutatedMirror(docs))
  }

  def merkleDiffFrom(left: DataFrame, right: DataFrame): DataFrame = {
    def tree(df: DataFrame): DataFrame = {
      val l0 = df.select(
          (col("doc_id") % MerkleBuckets).cast("int").as("node"),
          TextFns.hash32(concat(lit("mk|"), col("doc_id").cast("string"),
            lit("|"), col("text"))).as("h"))
        .groupBy("node")
        .agg(expr("bit_xor(h)").as("dg"), count(lit(1)).as("n"))
      (0 until MerkleLevels).map { k =>
        val div = math.pow(MerkleFanout, k).toInt
        l0.groupBy(expr(s"CAST(node div $div AS INT)").as("node"))
          .agg(expr("bit_xor(dg)").as("dg"), sum("n").as("n"))
          .select(lit(k).as("level"), col("node"), col("dg"), col("n"))
      }.reduce(_ unionByName _)
    }
    tree(left).alias("l")
      .join(tree(right).alias("r"), Seq("level", "node"), "full")
      .select(col("level"), col("node"),
        coalesce(col("l.dg"), lit(0L)).as("left_digest"),
        coalesce(col("r.dg"), lit(0L)).as("right_digest"),
        coalesce(col("l.n"), lit(0L)).as("n_left"),
        coalesce(col("r.n"), lit(0L)).as("n_right"),
        (coalesce(col("l.dg"), lit(0L)) === coalesce(col("r.dg"), lit(0L)) &&
          coalesce(col("l.n"), lit(0L)) === coalesce(col("r.n"), lit(0L)))
          .as("is_match"))
      .orderBy("level", "node")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q240_merkle_diff" -> (merkleDiff _),
    "q234_dsir_weights" -> (dsirWeights _),
    "q214_dp_release" -> (dpRelease _),
    "q221_schema_evolution" -> (schemaEvolution _),
    "q222_time_travel" -> (timeTravel _),
    "q228_partition_evolution" -> (partitionEvolution _),
    "q223_mixture_reweight" -> (mixtureReweight _),
    "q202_orc_mirror" -> (orcMirror _),
    "q204_rendezvous_shards" -> (rendezvousShards _),
    "q45_hash_split" -> (hashSplit _),
    "q46_decontaminate" -> (decontaminate _),
    "q47_repetition" -> (repetition _),
    "q48_source_mixture" -> (sourceMixture _),
    "q182_source_concentration" -> (sourceConcentration _),
    "q186_curriculum_fill" -> (curriculumFill _),
    "q188_truncation_loss" -> (truncationLoss _),
    "q195_composition_grid" -> (compositionGrid _),
    "q52_mixture_sample" -> (mixtureSample _),
    "q58_chunk_dedup" -> (chunkDedup _),
    "q59_snapshot_diff" -> (snapshotDiff _),
    "q63_pack_sequences" -> (packSequences _),
    "q67_ingest_dedup" -> (ingestDedup _),
    "q70_passage_chunks" -> (passageChunks _),
    "q71_dataset_card" -> (datasetCard _),
    "q77_fuzzy_decontaminate" -> (fuzzyDecontaminate _),
    "q78_ingest_neardup" -> (ingestNearDup _),
    "q81_shuffle_shards" -> (shuffleShards _),
    "q92_table_profile" -> (tableProfile _),
    "q99_scd2_history" -> (scdSupplierHistory _),
    "q118_pit_join" -> (pitEnrichment _),
    "q126_bloom_decontaminate" -> (bloomDecontaminate _),
    "q131_stratified_sample" -> (stratifiedSample _),
    "q141_priority_sample" -> (prioritySample _),
    "q152_domain_caps" -> (domainCaps _),
    "q153_domain_quality" -> (domainQuality _),
    "q157_temperature_mixture" -> (temperatureMixture _),
    "q167_cdc_merge" -> (cdcMerge _),
    "q171_contamination_radius" -> (contaminationRadius _),
    "q173_k_anonymity" -> (kAnonymity _))

  /** Shared q63/q81 oracle fragment: `c` = per-doc token counts with
    * the exact running total in doc_id order (the single-threaded twin
    * of the two-phase prefix scan in [[packSequencesFrom]]).
    */
  private val packSql =
    s"""d AS (
       |  SELECT doc_id, CAST(len(${TextFns.sql.toks}) AS BIGINT) AS n_tokens
       |  FROM documents),
       |f AS (SELECT * FROM d WHERE n_tokens >= 1),
       |c AS (SELECT doc_id, n_tokens,
       |    sum(n_tokens) OVER (ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |  FROM f)""".stripMargin

  /** Shared oracle fragment: per-doc distinct bigram-shingle 60-bit
    * hashes (same dialect as the q24 jaccard oracle).
    */
  private val shSql =
    s"""toks AS (SELECT doc_id, ${TextFns.sql.toks} AS w FROM documents),
       |exd AS (SELECT doc_id, ${TextFns.sql.hash60("sx")} AS s FROM (
       |  SELECT doc_id, unnest(list_distinct(list_transform(range(len(w) - 1),
       |    i -> w[CAST(i AS INT) + 1] || ' ' || w[CAST(i AS INT) + 2]))) AS sx FROM toks))""".stripMargin

  /** Shared oracle fragment: the q59 deterministic snapshot fixtures. */
  private val snapSql =
    s"""oldd AS (
       |  SELECT doc_id,
       |    CASE WHEN ${TextFns.sql.hash32("'mut|' || CAST(doc_id AS VARCHAR)")} % $SnapMutMod = 0
       |         THEN substring(text, 1, greatest(length(text) - 7, 1))
       |         ELSE text END AS t_old
       |  FROM documents
       |  WHERE ${TextFns.sql.hash32("'old|' || CAST(doc_id AS VARCHAR)")} % $SnapKeepMod < ${SnapKeepMod - 1}),
       |newd AS (
       |  SELECT doc_id, text AS t_new FROM documents
       |  WHERE ${TextFns.sql.hash32("'new|' || CAST(doc_id AS VARCHAR)")} % $SnapKeepMod < ${SnapKeepMod - 1})""".stripMargin

  // lazy: q223's text embeds TextAnalysis.oracle("q57_lm_score"), and
  // TextAnalysis's own init references Curation constants — a strict
  // val here would deadlock the object-initialization cycle
  lazy val oracle: Map[String, String] = Map(
    // both sides' digest trees regenerated analytically (the planted
    // drop/mutate mirror is a closed form); xor-of-xors associativity
    // makes every level derivable from the leaf grid
    "q240_merkle_diff" -> {
      val h = TextFns.sql.hash32(
        "'mk|' || CAST(doc_id AS VARCHAR) || '|' || text")
      def lvl(side: String): String = (0 until MerkleLevels).map { k =>
        val div = math.pow(MerkleFanout, k).toInt
        s"""SELECT $k AS level, CAST(node // $div AS INTEGER) AS node,
           |    bit_xor(dg) AS dg, CAST(sum(n) AS BIGINT) AS n
           |  FROM l0$side GROUP BY 2""".stripMargin
      }.mkString("\n  UNION ALL ")
      s"""WITH lh AS (SELECT CAST(doc_id % $MerkleBuckets AS INTEGER) AS node,
         |    $h AS h FROM documents),
         |rh AS (SELECT CAST(doc_id % $MerkleBuckets AS INTEGER) AS node,
         |    $h AS h
         |  FROM (SELECT doc_id,
         |      CASE WHEN doc_id % 97 = 0 THEN text || '!' ELSE text END AS text
         |    FROM documents WHERE doc_id % 101 <> 0)),
         |l0L AS (SELECT node, bit_xor(h) AS dg, count(*) AS n
         |  FROM lh GROUP BY 1),
         |l0R AS (SELECT node, bit_xor(h) AS dg, count(*) AS n
         |  FROM rh GROUP BY 1),
         |lt AS (${lvl("L")}),
         |rt AS (${lvl("R")})
         |SELECT COALESCE(lt.level, rt.level) AS level,
         |  COALESCE(lt.node, rt.node) AS node,
         |  CAST(COALESCE(lt.dg, 0) AS BIGINT) AS left_digest,
         |  CAST(COALESCE(rt.dg, 0) AS BIGINT) AS right_digest,
         |  COALESCE(lt.n, CAST(0 AS BIGINT)) AS n_left,
         |  COALESCE(rt.n, CAST(0 AS BIGINT)) AS n_right,
         |  (COALESCE(lt.dg, 0) = COALESCE(rt.dg, 0)
         |    AND COALESCE(lt.n, 0) = COALESCE(rt.n, 0)) AS is_match
         |FROM lt FULL JOIN rt
         |  ON rt.level = lt.level AND rt.node = lt.node
         |ORDER BY 1, 2""".stripMargin
    },
    // the full DSIR pipeline replayed: hashed-unigram bucket models,
    // one exact-integer ln-difference per bucket (rounded 9 dp into
    // DECIMAL(20,9)), exact DECIMAL doc dot products — the sign test
    // and both sums are order-free, so the gate is engine-exact
    "q234_dsir_weights" -> {
      val b = DsirBuckets
      s"""WITH tk AS (SELECT doc_id, source, lang, token,
         |    ${TextFns.sql.hash32("'dsir|' || token")} % $b AS b
         |  FROM (SELECT doc_id, source, lang,
         |      unnest(${TextFns.sql.toks}) AS token FROM documents)
         |  WHERE token <> ''),
         |bc AS (SELECT b,
         |    CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS ct,
         |    CAST(sum(CASE WHEN lang <> 'en' THEN 1 ELSE 0 END) AS BIGINT) AS cr
         |  FROM tk GROUP BY 1),
         |tot AS (SELECT CAST(sum(ct) AS BIGINT) AS nt,
         |    CAST(sum(cr) AS BIGINT) AS nr FROM bc),
         |lam AS (SELECT b,
         |    CAST(round(ln((ct + 1) * (nr + $b)) - ln((cr + 1) * (nt + $b)), 9)
         |      AS DECIMAL(12,9)) AS lam
         |  FROM bc, tot),
         |dc AS (SELECT doc_id, source, b, count(*) AS c
         |  FROM tk GROUP BY 1, 2, 3),
         |dw AS (SELECT doc_id, source,
         |    sum(CAST(c AS DECIMAL(10,0)) * lam) AS w
         |  FROM dc JOIN lam USING (b) GROUP BY 1, 2)
         |SELECT source, count(*) AS n_docs,
         |  CAST(sum(CASE WHEN w > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
         |  round(CAST(sum(w) AS DOUBLE) / count(*), 6) AS mean_weight,
         |  round(CAST(sum(CASE WHEN w > 0 THEN 1 ELSE 0 END) AS DOUBLE)
         |    / count(*), 6) AS pos_rate
         |FROM dw GROUP BY 1 ORDER BY 1""".stripMargin
    },
    // one mirror-descent step over the q57 per-source mean NLL; the
    // normalizer sums through the DECIMAL(38,12) accumulator
    "q223_mixture_reweight" -> {
      s"""WITH q57 AS (${TextAnalysis.oracle("q57_lm_score")}),
         |ls AS (SELECT d.source, count(*) AS n_docs,
         |    round(avg(q57.nll), 6) AS loss
         |  FROM q57 JOIN documents d ON d.doc_id = q57.doc_id GROUP BY 1),
         |tk AS (SELECT source,
         |    CAST(sum(len(list_filter(${TextFns.sql.toks}, t -> t <> '')))
         |      AS BIGINT) AS n_tokens
         |  FROM documents GROUP BY 1),
         |j AS (SELECT ls.source, n_docs, n_tokens, loss,
         |    CAST(n_tokens AS DOUBLE) /
         |      (SELECT CAST(sum(n_tokens) AS DOUBLE) FROM tk) AS w0
         |  FROM ls JOIN tk USING (source)),
         |sc AS (SELECT *, w0 * exp($RwEta * loss) AS s FROM j),
         |den AS (SELECT CAST(sum(CAST(s AS DECIMAL(38,12))) AS DOUBLE) AS dn
         |  FROM sc)
         |SELECT source, n_docs, n_tokens, loss,
         |  round(w0, 6) AS w_before, round(s / dn, 6) AS w_after
         |FROM sc CROSS JOIN den ORDER BY source""".stripMargin
    },
    // the snapshot diff recomputed directly: "previous" is the legacy
    // vintage half, "now" the full corpus
    "q222_time_travel" ->
      s"""SELECT source, count(*) AS n_docs_now,
         |  CAST(sum(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_docs_prev,
         |  count(*) - CAST(sum(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_added
         |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
    // the merged-vintage view recomputed from the ORIGINAL parquet via
    // the deterministic doc_id % 2 vintage rule: even rows are legacy
    // (lang/n_chars absent -> NULL), odd rows evolved
    "q221_schema_evolution" ->
      s"""WITH v AS (SELECT source,
         |    CASE WHEN doc_id % 2 = 1 THEN lang END AS lang,
         |    CASE WHEN doc_id % 2 = 1 THEN n_chars END AS n_chars,
         |    text
         |  FROM documents)
         |SELECT source, count(*) AS n_docs,
         |  CAST(sum(CASE WHEN lang IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_legacy,
         |  CAST(sum(CASE WHEN lang IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_evolved,
         |  count(lang) AS n_lang_known,
         |  CAST(sum(coalesce(n_chars, CAST(length(text) AS BIGINT)))
         |    AS BIGINT) AS backfilled_chars
         |FROM v GROUP BY 1 ORDER BY 1""".stripMargin,
    // the merged two-vintage view recomputed from the ORIGINAL parquet
    // via the deterministic migration instant
    "q228_partition_evolution" ->
      s"""SELECT CASE WHEN ts < TIMESTAMP '${graft.sources.PartitionEvolved.MigrateTs}'
         |    THEN 'monthly' ELSE 'daily' END AS vintage,
         |  CAST(ts AS DATE) AS event_date,
         |  count(*) AS n_events,
         |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
         |    AS sum_cents
         |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // hash-seeded inverse-CDF Laplace, the exact token-for-token chain
    // of dpReleaseFrom (u exact in binary, single ln under round 6)
    "q214_dp_release" -> {
      def lap(tag: String, b: String): String = {
        val u = s"((CAST(${TextFns.sql.hash60(s"'dp|' || source || '|$tag'")} " +
          "% 1048576 AS DOUBLE) + 0.5) / 1048576.0)"
        s"(-($b) * sign($u - 0.5) * ln(1.0 - 2.0 * abs($u - 0.5)))"
      }
      s"""WITH d AS (SELECT source,
         |    least(len(list_filter(${TextFns.sql.toks}, t -> t <> '')),
         |      $DpClip) AS tok
         |  FROM documents),
         |g AS (SELECT source, count(*) AS nd,
         |    CAST(sum(tok) AS BIGINT) AS nt FROM d GROUP BY 1)
         |SELECT source, CAST($DpEpsilon AS DOUBLE) AS epsilon,
         |  CAST($DpClip AS BIGINT) AS clip,
         |  round(CAST(nd AS DOUBLE) + ${lap("docs",
             (1.0 / (DpEpsilon / 2.0)).toString)}, 6) AS noised_docs,
         |  round(CAST(nt AS DOUBLE) + ${lap("tokens",
             (DpClip / (DpEpsilon / 2.0)).toString)}, 6)
         |    AS noised_tokens
         |FROM g ORDER BY source""".stripMargin
    },
    // the oracle reads the ORIGINAL parquet; the Spark side reads
    // through the ORC mirror — hash equality gates the format roundtrip
    "q202_orc_mirror" ->
      s"""SELECT source, count(*) AS n_docs,
         |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
         |  count(DISTINCT lang) AS n_langs,
         |  min(doc_id) AS min_doc, max(doc_id) AS max_doc,
         |  CAST(sum(${TextFns.sql.hash32("text")}) AS BIGINT) AS text_hash_sum
         |FROM documents GROUP BY source ORDER BY source""".stripMargin,
    // identical 9-score argmax with the same CASE-order tie discipline
    "q204_rendezvous_shards" -> {
      val hs = (0 until HrwNew).map(k =>
        s"${TextFns.sql.hash60(s"'hrw|' || CAST(doc_id AS VARCHAR) || '|$k'")} AS h$k")
        .mkString(",\n    ")
      def argmax(n: Int): String = {
        val m = (0 until n).map(k => s"h$k").mkString("greatest(", ", ", ")")
        (0 until n).map(k => s"WHEN h$k = $m THEN $k")
          .mkString("CASE ", " ", " END")
      }
      s"""WITH h AS (SELECT doc_id,
         |    $hs
         |  FROM documents),
         |a AS (SELECT ${argmax(HrwOld)} AS shard,
         |    ${argmax(HrwNew)} AS shard_after
         |  FROM h)
         |SELECT shard, count(*) AS n_docs,
         |  CAST(sum(CASE WHEN shard_after <> shard THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_moved,
         |  round(CAST(sum(CASE WHEN shard_after <> shard THEN 1 ELSE 0 END)
         |    AS DOUBLE) / count(*), 9) AS moved_frac
         |FROM a GROUP BY shard ORDER BY shard""".stripMargin
    },
    // the q186 fixed-point mean per grid cell; share over a grid window
    "q195_composition_grid" ->
      s"""WITH ${TextAnalysis.qualityDocSql("lang, source")},
         |g AS (SELECT lang, source, count(*) AS n_docs,
         |    CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
         |    CAST(sum(CAST(round(qs * 1000000) AS BIGINT)) AS BIGINT) AS sum6,
         |    count(qs) AS n_scored
         |  FROM q GROUP BY 1, 2),
         |t AS (SELECT CAST(sum(n_docs) AS BIGINT) AS total FROM g)
         |SELECT lang, source, n_docs, n_tokens,
         |  CAST(CAST((2 * sum6 + n_scored) // NULLIF(2 * n_scored, 0)
         |    AS BIGINT) AS DOUBLE) / 1.0e6 AS mean_quality,
         |  CAST(n_docs AS DOUBLE) / total AS doc_share
         |FROM g CROSS JOIN t ORDER BY lang, source""".stripMargin,
    // arms replicated on the per-doc token-count relation; kept =
    // min(len, ctx); one exact-int closing division
    "q188_truncation_loss" ->
      s"""WITH t AS (SELECT CAST(len(${TextFns.sql.toks}) AS BIGINT) AS t
         |  FROM documents),
         |armed AS (SELECT ctx, t FROM t CROSS JOIN (SELECT
         |    UNNEST(list_value(${TruncCtxLengths.mkString(", ")})) AS ctx) c),
         |a AS (SELECT CAST(ctx AS BIGINT) AS ctx, count(*) AS n_docs,
         |    CAST(sum(CASE WHEN t > ctx THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_truncated,
         |    CAST(sum(t) AS BIGINT) AS tokens_total,
         |    CAST(sum(least(t, ctx)) AS BIGINT) AS tokens_kept
         |  FROM armed GROUP BY 1)
         |SELECT ctx, n_docs, n_truncated, tokens_total, tokens_kept,
         |  tokens_total - tokens_kept AS tokens_lost,
         |  CAST(tokens_total - tokens_kept AS DOUBLE)
         |    / NULLIF(tokens_total, 0) AS loss_rate
         |FROM a ORDER BY ctx""".stripMargin,
    // fixed-point mean (×1e6) ranked by integer comparison; the fill is
    // a cumulative window over the source relation; allocations exact
    "q186_curriculum_fill" ->
      s"""WITH ${TextAnalysis.qualityDocSql("source")},
         |ps AS (SELECT source, CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
         |    CAST(sum(CAST(round(qs * 1000000) AS BIGINT)) AS BIGINT) AS sum6,
         |    count(qs) AS n_scored
         |  FROM q GROUP BY 1),
         |r AS (SELECT source, n_tokens,
         |    CAST((2 * sum6 + n_scored) // NULLIF(2 * n_scored, 0)
         |      AS BIGINT) AS mean6
         |  FROM ps),
         |rk AS (SELECT *, CAST(row_number() OVER
         |    (ORDER BY coalesce(mean6, -1) DESC, source) AS INT) AS qrank
         |  FROM r),
         |fill AS (SELECT *,
         |    CAST(sum(n_tokens) OVER () // $CurriculumDen AS BIGINT) AS budget,
         |    CAST(coalesce(sum(n_tokens) OVER (ORDER BY qrank
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |      AS BIGINT) AS cum_before
         |  FROM rk),
         |al AS (SELECT source, qrank, mean6, n_tokens,
         |    greatest(0, least(n_tokens, budget - cum_before)) AS alloc_tokens
         |  FROM fill)
         |SELECT source, qrank, CAST(mean6 AS DOUBLE) / 1.0e6 AS mean_quality,
         |  n_tokens, alloc_tokens,
         |  CASE WHEN n_tokens > 0 AND alloc_tokens = n_tokens THEN 'full'
         |    WHEN alloc_tokens > 0 THEN 'partial'
         |    ELSE 'excluded' END AS status
         |FROM al ORDER BY qrank""".stripMargin,
    // Gini by the sorted-rank identity in exact HUGEINT arithmetic,
    // presented via the q179 integral-divide + single-division move
    "q182_source_concentration" ->
      s"""WITH tok AS (SELECT source,
         |    CAST(sum(len(${TextFns.sql.toks})) AS BIGINT) AS m
         |  FROM documents GROUP BY 1),
         |r AS (SELECT source, m,
         |    row_number() OVER (ORDER BY m, source) AS i,
         |    row_number() OVER (ORDER BY m DESC, source) AS rk FROM tok),
         |a AS (SELECT count(*) AS n, CAST(sum(m) AS BIGINT) AS total,
         |    sum(CAST(i AS HUGEINT) * m) AS im,
         |    CAST(sum(CASE WHEN rk <= 1 THEN m ELSE 0 END) AS BIGINT) AS m1,
         |    CAST(sum(CASE WHEN rk <= $GiniTopK THEN m ELSE 0 END) AS BIGINT)
         |      AS mk
         |  FROM r)
         |SELECT n AS n_sources, total AS total_tokens,
         |  CAST(CAST((2000000000 * (2 * im - (n + 1) * CAST(total AS HUGEINT))
         |      + NULLIF(CAST(n AS HUGEINT) * total, 0))
         |    // (2 * NULLIF(CAST(n AS HUGEINT) * total, 0)) AS BIGINT)
         |    AS DOUBLE) / 1.0e9 AS gini,
         |  CAST(m1 AS DOUBLE) / NULLIF(total, 0) AS top1_share,
         |  CAST(mk AS DOUBLE) / NULLIF(total, 0) AS topk_share
         |FROM a""".stripMargin,
    // QI classes once, replicated per k threshold; the denominator is
    // the same Σ sz in every k group (each class appears once per k)
    "q173_k_anonymity" ->
      s"""WITH cls AS (
         |  SELECT lang, source, (n_chars // $KAnonBucket) * $KAnonBucket
         |      AS len_bucket, count(*) AS sz
         |  FROM documents GROUP BY 1, 2, 3),
         |x AS (SELECT k, sz FROM cls
         |  CROSS JOIN (SELECT UNNEST(list_value(${
             KAnonThresholds.mkString(", ")})) AS k) ks)
         |SELECT k, count(*) AS n_classes,
         |  CAST(sum(sz) AS BIGINT) AS n_rows,
         |  CAST(sum(CASE WHEN sz < k THEN 1 ELSE 0 END) AS BIGINT)
         |    AS classes_at_risk,
         |  CAST(sum(CASE WHEN sz < k THEN sz ELSE 0 END) AS BIGINT)
         |    AS rows_at_risk,
         |  round(CAST(sum(CASE WHEN sz < k THEN sz ELSE 0 END) AS DOUBLE)
         |    / CAST(sum(sz) AS DOUBLE), 9) AS risk_rate
         |FROM x GROUP BY 1 ORDER BY 1""".stripMargin,
    // same stable-hash batch; checksum summed in DECIMAL(38,0) and
    // shipped as hi/lo BIGINT halves (Wide.sql, gate-safe); deletes
    // win over updates on the same key
    "q167_cdc_merge" -> {
      def sel(salt: String, mod: Int) =
        s"${TextFns.sql.hash32(s"'$salt' || CAST(doc_id AS VARCHAR)")} % $mod = 0"
      s"""WITH flags AS (SELECT doc_id, text,
         |    ${sel("cdc_del|", CdcDelMod)} AS is_del,
         |    ${sel("cdc_upd|", CdcUpdMod)} AS is_upd,
         |    ${sel("cdc_ins|", CdcInsMod)} AS is_ins
         |  FROM documents),
         |off AS (SELECT coalesce(max(doc_id), 0) + 1 AS ins_off
         |  FROM documents),
         |a AS (SELECT count(*) AS n_base,
         |    CAST(sum(CASE WHEN is_del THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_deletes,
         |    CAST(sum(CASE WHEN is_upd AND NOT is_del THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_updates,
         |    CAST(sum(CASE WHEN is_ins THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_inserts
         |  FROM flags),
         |merged AS (
         |  SELECT doc_id,
         |    CASE WHEN is_upd THEN reverse(text) ELSE text END AS text
         |  FROM flags WHERE NOT is_del
         |  UNION ALL
         |  SELECT doc_id + ins_off, upper(text)
         |  FROM flags CROSS JOIN off WHERE is_ins),
         |m AS (SELECT count(*) AS n_final,
         |    CAST(sum(CAST(${TextFns.sql.hash60(
               "CAST(doc_id AS VARCHAR) || '|' || md5(text)")}
         |      AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS chk
         |  FROM merged)
         |SELECT n_base, n_deletes, n_updates, n_inserts, n_final,
         |  ${Wide.sql.hi62("chk")} AS checksum_hi,
         |  ${Wide.sql.lo62("chk")} AS checksum_lo
         |FROM a CROSS JOIN m""".stripMargin
    },
    "q45_hash_split" ->
      s"""WITH b AS (
         |  SELECT ${TextFns.sql.hash32("'split|' || CAST(doc_id AS VARCHAR)")} % 100 AS bucket,
         |    len(${TextFns.sql.toks}) AS tok
         |  FROM documents)
         |SELECT CASE WHEN bucket < $TrainPct THEN 'train'
         |            WHEN bucket < $ValPct THEN 'val' ELSE 'test' END AS split,
         |  count(*) AS n_docs, CAST(sum(tok) AS BIGINT) AS n_tokens
         |FROM b GROUP BY 1 ORDER BY 1""".stripMargin,
    "q131_stratified_sample" ->
      s"""WITH k AS (
         |  SELECT lang, source, doc_id,
         |    md5('strat|' || CAST(doc_id AS VARCHAR)) AS rk
         |  FROM documents),
         |r AS (
         |  SELECT *, row_number() OVER
         |    (PARTITION BY lang, source ORDER BY rk, doc_id) AS rn,
         |    count(*) OVER (PARTITION BY lang, source) AS n
         |  FROM k)
         |SELECT lang, source, CAST(max(n) AS BIGINT) AS n_docs,
         |  count(*) AS n_kept, CAST(sum(doc_id) AS BIGINT) AS kept_id_sum
         |FROM r WHERE rn <= (n * $StratPct + 99) // 100
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // priority = (w·2^60)/(h+1): exact integer-scaled product, ONE
    // correctly-rounded IEEE division (never ln/pow — libm rounding
    // differs across engines); the k-row estimator sum rides the
    // DECIMAL accumulator
    "q141_priority_sample" ->
      s"""WITH w AS (
         |  SELECT doc_id, greatest(n_chars, 1) AS wt,
         |    ${TextFns.sql.hash60("'ps|' || CAST(doc_id AS VARCHAR)")} AS h
         |  FROM documents),
         |p AS (
         |  SELECT doc_id, wt,
         |    (CAST(wt AS DOUBLE) * CAST(1152921504606846976 AS DOUBLE))
         |      / CAST(h + 1 AS DOUBLE) AS pr
         |  FROM w),
         |t AS (SELECT * FROM p ORDER BY pr DESC, doc_id LIMIT ${PsK + 1}),
         |tau AS (SELECT CASE WHEN count(*) = ${PsK + 1} THEN min(pr)
         |    ELSE CAST(0 AS DOUBLE) END AS tau FROM t),
         |s AS (
         |  SELECT t.doc_id, t.wt, t.pr,
         |    greatest(CAST(t.wt AS DOUBLE), tau.tau) AS w_hat
         |  FROM (SELECT * FROM t ORDER BY pr DESC, doc_id LIMIT $PsK) t
         |  CROSS JOIN tau),
         |est AS (SELECT CAST(sum(CAST(w_hat AS DECIMAL(38,12))) AS DOUBLE)
         |    AS est_total FROM s),
         |tot AS (SELECT CAST(sum(wt) AS BIGINT) AS exact_total FROM w)
         |SELECT CAST(row_number() OVER (ORDER BY s.pr DESC, s.doc_id) AS INT)
         |    AS rank,
         |  s.doc_id, s.wt AS weight, s.pr AS priority, s.w_hat,
         |  est.est_total, tot.exact_total
         |FROM s CROSS JOIN est CROSS JOIN tot
         |ORDER BY rank""".stripMargin,
    // absolute-cap twin of q131's quota: kept set = the DomainCap
    // smallest salted-md5 ranks per source; sums CAST back from
    // DuckDB's HUGEINT widening
    "q152_domain_caps" ->
      s"""WITH k AS (
         |  SELECT source, doc_id,
         |    md5('cap|' || CAST(doc_id AS VARCHAR)) AS rk
         |  FROM documents),
         |r AS (
         |  SELECT *, row_number() OVER
         |    (PARTITION BY source ORDER BY rk, doc_id) AS rn,
         |    count(*) OVER (PARTITION BY source) AS n
         |  FROM k)
         |SELECT source, CAST(max(n) AS BIGINT) AS n_docs,
         |  CAST($DomainCap AS BIGINT) AS cap,
         |  CAST(sum(CASE WHEN rn <= $DomainCap THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_kept,
         |  CAST(max(n) - sum(CASE WHEN rn <= $DomainCap THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_dropped,
         |  CAST(sum(CASE WHEN rn <= $DomainCap THEN doc_id END) AS BIGINT)
         |    AS kept_id_sum,
         |  round(CAST(sum(CASE WHEN rn <= $DomainCap THEN 1 ELSE 0 END)
         |      AS DOUBLE) / CAST(max(n) AS DOUBLE), 6) AS kept_share
         |FROM r GROUP BY source ORDER BY source""".stripMargin,
    // the q18 score expression aggregated by source: the mean sums the
    // 6-dp-ROUNDED per-doc score in exact 1e-6-integer units, one
    // closing division per ratio
    "q153_domain_quality" ->
      s"""WITH feat AS (
         |  SELECT source, len(${TextFns.sql.toks}) AS n_tokens,
         |    len(${TextFns.sql.keepIn(TextFns.sql.toks, TextAnalysis.Stopwords)})
         |      AS stop_hits,
         |    length(regexp_replace(text, '\\s', '', 'g')) AS nonspace
         |  FROM documents),
         |q AS (
         |  SELECT source, n_tokens, stop_hits,
         |    round(0.25 * least(1.0, CAST(n_tokens AS DOUBLE) / 100.0)
         |      + 0.25 * least(1.0, (CAST(nonspace AS DOUBLE) / NULLIF(n_tokens, 0)) / 8.0)
         |      + 0.5 * (1.0 - least(1.0, (CAST(stop_hits AS DOUBLE) / NULLIF(n_tokens, 0)) * 4.0)),
         |      6) AS qs
         |  FROM feat)
         |SELECT source, count(*) AS n_docs,
         |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
         |  round(CAST(sum(CAST(round(qs * 1000000) AS BIGINT)) AS DOUBLE)
         |    / CAST(count(*) * 1000000 AS DOUBLE), 6) AS mean_quality,
         |  CAST(sum(CASE WHEN qs < $LowQuality THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_low,
         |  round(CAST(sum(CASE WHEN qs < $LowQuality THEN 1 ELSE 0 END)
         |    AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS low_share,
         |  round(CAST(sum(stop_hits) AS DOUBLE) / CAST(sum(n_tokens) AS DOUBLE), 6)
         |    AS stop_ratio
         |FROM q GROUP BY source ORDER BY source""".stripMargin,
    "q126_bloom_decontaminate" -> {
      def h(i: Int) = TextFns.sql.hash32(s"'bf$i|' || CAST(s AS VARCHAR)")
      s"""WITH $shSql,
         |bsh AS (SELECT DISTINCT s FROM exd WHERE doc_id < $BenchDocs),
         |bpos AS (
         |  SELECT DISTINCT p FROM (
         |    SELECT ${h(0)} % $BloomBits AS p FROM bsh
         |    UNION ALL
         |    SELECT ${h(1)} % $BloomBits AS p FROM bsh) u),
         |scr AS (
         |  SELECT doc_id, s,
         |    ${h(0)} % $BloomBits AS p0,
         |    ${h(1)} % $BloomBits AS p1
         |  FROM exd WHERE doc_id >= $BenchDocs),
         |j AS (
         |  SELECT scr.doc_id,
         |    CASE WHEN a.p IS NOT NULL AND b.p IS NOT NULL THEN 1 ELSE 0 END AS bh,
         |    CASE WHEN bs.s IS NOT NULL THEN 1 ELSE 0 END AS eh
         |  FROM scr
         |  LEFT JOIN bpos a ON a.p = scr.p0
         |  LEFT JOIN bpos b ON b.p = scr.p1
         |  LEFT JOIN bsh bs ON bs.s = scr.s)
         |SELECT doc_id, CAST(sum(bh) AS BIGINT) AS n_bloom_hits,
         |  CAST(sum(eh) AS BIGINT) AS n_exact_hits,
         |  sum(eh) >= 1 AS contaminated
         |FROM j GROUP BY doc_id HAVING sum(bh) >= 1 ORDER BY doc_id""".stripMargin
    },
    "q46_decontaminate" ->
      s"""WITH $shSql,
         |bench AS (SELECT DISTINCT s FROM exd WHERE doc_id < $BenchDocs)
         |SELECT d.doc_id, count(*) AS n_overlap
         |FROM (SELECT * FROM exd WHERE doc_id >= $BenchDocs) d
         |JOIN bench b ON d.s = b.s
         |GROUP BY d.doc_id ORDER BY d.doc_id""".stripMargin,
    // q46's detection CTEs verbatim, rolled to the source grain;
    // integer counts to two 6-dp closing divisions
    "q171_contamination_radius" ->
      s"""WITH $shSql,
         |bench AS (SELECT DISTINCT s FROM exd WHERE doc_id < $BenchDocs),
         |cont AS (SELECT d.doc_id, CAST(count(*) AS BIGINT) AS n_overlap
         |  FROM (SELECT * FROM exd WHERE doc_id >= $BenchDocs) d
         |  JOIN bench b ON d.s = b.s GROUP BY d.doc_id),
         |corpus AS (SELECT doc_id, source,
         |    CAST(len(${TextFns.sql.toks}) AS BIGINT) AS tok
         |  FROM documents WHERE doc_id >= $BenchDocs)
         |SELECT source, count(*) AS n_docs,
         |  CAST(sum(CASE WHEN n_overlap IS NOT NULL THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_contaminated,
         |  round(CAST(sum(CASE WHEN n_overlap IS NOT NULL THEN 1 ELSE 0 END)
         |    AS DOUBLE) / count(*), 6) AS doc_rate,
         |  CAST(sum(tok) AS BIGINT) AS n_tokens,
         |  CAST(sum(CASE WHEN n_overlap IS NOT NULL THEN tok ELSE 0 END)
         |    AS BIGINT) AS tokens_contaminated,
         |  round(CAST(sum(CASE WHEN n_overlap IS NOT NULL THEN tok ELSE 0 END)
         |    AS DOUBLE) / NULLIF(sum(tok), 0), 6) AS token_share,
         |  coalesce(max(n_overlap), 0) AS max_overlap
         |FROM corpus LEFT JOIN cont USING (doc_id)
         |GROUP BY source ORDER BY source""".stripMargin,
    "q47_repetition" ->
      s"""WITH $shSql,
         |sizes AS (SELECT doc_id, CAST(count(*) AS INT) AS n_distinct
         |          FROM exd GROUP BY doc_id),
         |totals AS (SELECT doc_id, CAST(len(${TextFns.sql.toks}) - 1 AS INT) AS n_shingles
         |           FROM documents)
         |SELECT t.doc_id, t.n_shingles, s.n_distinct,
         |  CAST(t.n_shingles - s.n_distinct AS DOUBLE) / t.n_shingles AS rep_ratio
         |FROM totals t JOIN sizes s ON s.doc_id = t.doc_id
         |WHERE t.n_shingles >= 1 ORDER BY t.doc_id""".stripMargin,
    // q48's largest-remainder scheme over floor(sqrt(n_tokens)) weights
    // — integer except the raw-share division and the two closing share
    // ratios; window sums CAST back from DuckDB's HUGEINT widening
    "q157_temperature_mixture" ->
      s"""WITH per AS (
         |  SELECT source, count(*) AS n_docs,
         |    CAST(sum(len(${TextFns.sql.toks})) AS BIGINT) AS n_tokens
         |  FROM documents GROUP BY source),
         |w AS (SELECT *,
         |    CAST(floor(sqrt(CAST(n_tokens AS DOUBLE))) AS BIGINT) AS weight
         |  FROM per),
         |calc AS (SELECT *,
         |    CAST(sum(n_tokens) OVER () AS BIGINT) AS tot_n,
         |    CAST($MixBudget * weight AS DOUBLE)
         |      / CAST(sum(weight) OVER () AS BIGINT) AS raw
         |  FROM w),
         |based AS (SELECT *, CAST(floor(raw) AS BIGINT) AS base FROM calc),
         |ranked AS (SELECT *,
         |    row_number() OVER (ORDER BY raw - base DESC, source) AS rk,
         |    $MixBudget - CAST(sum(base) OVER () AS BIGINT) AS leftover
         |  FROM based),
         |alloc AS (SELECT *,
         |    base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS alloc_tokens
         |  FROM ranked)
         |SELECT source, n_docs, n_tokens, weight, alloc_tokens,
         |  round(CAST(n_tokens AS DOUBLE) / CAST(tot_n AS DOUBLE), 6)
         |    AS mass_share,
         |  round(CAST(alloc_tokens AS DOUBLE) / ${MixBudget.toDouble}, 6)
         |    AS mix_share
         |FROM alloc ORDER BY source""".stripMargin,
    "q48_source_mixture" ->
      s"""WITH per AS (
         |  SELECT source, count(*) AS n_docs,
         |    CAST(sum(len(${TextFns.sql.toks})) AS BIGINT) AS n_tokens
         |  FROM documents GROUP BY source),
         |calc AS (SELECT *,
         |    CAST($MixBudget * n_tokens AS DOUBLE) / CAST(sum(n_tokens) OVER () AS BIGINT) AS raw
         |  FROM per),
         |based AS (SELECT *, CAST(floor(raw) AS BIGINT) AS base FROM calc),
         |ranked AS (SELECT *,
         |    row_number() OVER (ORDER BY raw - base DESC, source) AS rk,
         |    $MixBudget - CAST(sum(base) OVER () AS BIGINT) AS leftover
         |  FROM based)
         |SELECT source, n_docs, n_tokens,
         |  base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS alloc_tokens
         |FROM ranked ORDER BY source""".stripMargin,
    "q67_ingest_dedup" -> {
      val norm = (c: String) => s"md5(trim(regexp_replace(regexp_replace(lower($c), '[^a-z0-9 ]', '', 'g'), '\\s+', ' ', 'g')))"
      s"""WITH $snapSql,
         |reps AS (
         |  SELECT doc_id + $RepShift AS doc_id, text AS t_old FROM documents
         |  WHERE ${TextFns.sql.hash32("'rep|' || CAST(doc_id AS VARCHAR)")} % $RepMod = 0),
         |oldall AS (SELECT * FROM oldd UNION ALL SELECT * FROM reps),
         |o AS (SELECT ${norm("t_old")} AS fp, doc_id AS old_id FROM oldall),
         |n AS (SELECT ${norm("t_new")} AS fp, doc_id FROM newd)
         |SELECT n.doc_id, min(o.old_id) AS dup_of, count(*) AS n_old_copies
         |FROM n JOIN o ON o.fp = n.fp AND o.old_id <> n.doc_id
         |GROUP BY n.doc_id ORDER BY n.doc_id""".stripMargin
    },
    // the q99 merge re-derived at the PIT dates, joined point-in-time:
    // validity intervals tile time per key, so each fact row matches
    // exactly one version
    "q118_pit_join" ->
      s"""WITH upd AS (
         |  SELECT s_suppkey, s_name, s_nationkey, s_acctbal + 100.0 AS s_acctbal
         |  FROM supplier
         |  WHERE ${TextFns.sql.hash32(s"'scd|' || CAST(s_suppkey AS VARCHAR)")} % $ScdUpdMod = 0),
         |hist AS (
         |  SELECT s.s_suppkey, s.s_nationkey,
         |    DATE '$PitBaseDate' AS valid_from,
         |    CASE WHEN u.s_suppkey IS NOT NULL THEN DATE '$PitEffDate' END AS valid_to,
         |    u.s_suppkey IS NULL AS is_current
         |  FROM supplier s LEFT JOIN upd u USING (s_suppkey)
         |  UNION ALL
         |  SELECT s_suppkey, s_nationkey, DATE '$PitEffDate' AS valid_from,
         |    CAST(NULL AS DATE) AS valid_to, TRUE AS is_current
         |  FROM upd),
         |j AS (
         |  SELECT h.s_nationkey, h.is_current, l.l_quantity
         |  FROM lineitem l JOIN hist h ON h.s_suppkey = l.l_suppkey
         |    AND l.l_shipdate >= h.valid_from
         |    AND (h.valid_to IS NULL OR l.l_shipdate < h.valid_to))
         |SELECT s_nationkey, is_current, count(*) AS n_lines,
         |  CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
         |FROM j GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q99_scd2_history" ->
      s"""WITH upd AS (
         |  SELECT s_suppkey, s_name, s_nationkey, s_acctbal + 100.0 AS s_acctbal
         |  FROM supplier
         |  WHERE ${TextFns.sql.hash32(s"'scd|' || CAST(s_suppkey AS VARCHAR)")} % $ScdUpdMod = 0)
         |SELECT s.s_suppkey, s.s_name, s.s_nationkey, s.s_acctbal,
         |  DATE '$ScdBaseDate' AS valid_from,
         |  CASE WHEN u.s_suppkey IS NOT NULL THEN DATE '$ScdEffDate' END AS valid_to,
         |  u.s_suppkey IS NULL AS is_current
         |FROM supplier s LEFT JOIN upd u USING (s_suppkey)
         |UNION ALL
         |SELECT s_suppkey, s_name, s_nationkey, s_acctbal,
         |  DATE '$ScdEffDate' AS valid_from, CAST(NULL AS DATE) AS valid_to,
         |  TRUE AS is_current
         |FROM upd
         |ORDER BY s_suppkey, valid_from""".stripMargin,
    "q59_snapshot_diff" ->
      s"""WITH $snapSql,
         |j AS (SELECT o.t_old, n.t_new
         |      FROM oldd o FULL OUTER JOIN newd n ON o.doc_id = n.doc_id)
         |SELECT CASE WHEN t_old IS NULL THEN 'added'
         |            WHEN t_new IS NULL THEN 'removed'
         |            WHEN t_old <> t_new THEN 'changed'
         |            ELSE 'unchanged' END AS change_class,
         |  count(*) AS n_docs,
         |  CAST(sum(COALESCE(length(t_old), 0)) AS BIGINT) AS chars_old,
         |  CAST(sum(COALESCE(length(t_new), 0)) AS BIGINT) AS chars_new
         |FROM j GROUP BY 1 ORDER BY 1""".stripMargin,
    "q58_chunk_dedup" ->
      s"""WITH toks AS (SELECT doc_id, ${TextFns.sql.toks} AS w FROM documents),
         |ch AS (SELECT doc_id, list_distinct(list_transform(
         |    range(len(w) // $ChunkTokens),
         |    i -> ${TextFns.sql.hash60(
        s"'ck|' || array_to_string(list_slice(w, CAST(i AS INT) * $ChunkTokens + 1, CAST(i AS INT) * $ChunkTokens + $ChunkTokens), ' ')")})) AS cs
         |  FROM toks),
         |ex AS (SELECT doc_id, unnest(cs) AS s FROM ch),
         |boiler AS (SELECT s FROM ex GROUP BY s HAVING count(*) >= $BoilerMinDocs),
         |hits AS (SELECT e.doc_id, count(*) AS n_boiler
         |         FROM ex e JOIN boiler b ON e.s = b.s GROUP BY e.doc_id)
         |SELECT c.doc_id, CAST(len(cs) AS INT) AS n_chunks,
         |  COALESCE(h.n_boiler, 0) AS n_boiler,
         |  round(CAST(COALESCE(h.n_boiler, 0) AS DOUBLE) / len(cs), 6) AS boiler_ratio
         |FROM ch c LEFT JOIN hits h ON h.doc_id = c.doc_id
         |WHERE len(cs) >= 1 ORDER BY c.doc_id""".stripMargin,
    "q71_dataset_card" ->
      s"""WITH d AS (
         |  SELECT source, lang,
         |    CAST(len(${TextFns.sql.toks}) AS BIGINT) AS tok,
         |    CAST(length(text) AS BIGINT) AS chars,
         |    md5(trim(regexp_replace(regexp_replace(lower(text),
         |      '[^a-z0-9 ]', '', 'g'), '\\s+', ' ', 'g'))) AS fpc,
         |    ${TextFns.sql.hash32("'split|' || CAST(doc_id AS VARCHAR)")} % 100 AS b
         |  FROM documents)
         |SELECT count(*) AS n_docs,
         |  CAST(sum(tok) AS BIGINT) AS n_tokens,
         |  CAST(sum(chars) AS BIGINT) AS n_chars,
         |  count(DISTINCT source) AS n_sources,
         |  count(DISTINCT lang) AS n_langs,
         |  count(DISTINCT fpc) AS n_distinct_fp,
         |  median(tok) AS med_doc_tokens,
         |  CAST(sum(CASE WHEN b < $TrainPct THEN 1 ELSE 0 END) AS BIGINT) AS n_train,
         |  CAST(sum(CASE WHEN b >= $TrainPct AND b < $ValPct THEN 1 ELSE 0 END) AS BIGINT) AS n_val,
         |  CAST(sum(CASE WHEN b >= $ValPct THEN 1 ELSE 0 END) AS BIGINT) AS n_test,
         |  round(1.0 - CAST(count(DISTINCT fpc) AS DOUBLE) / count(*), 9) AS dup_ratio
         |FROM d""".stripMargin,
    "q70_passage_chunks" ->
      s"""WITH toks AS (SELECT doc_id, ${TextFns.sql.toks} AS w FROM documents),
         |f AS (SELECT doc_id, w, len(w) AS n FROM toks WHERE len(w) >= 1),
         |ch AS (SELECT doc_id, w, n,
         |    unnest(range(CASE WHEN n <= $PassageWin THEN 1
         |      ELSE (n - $PassageWin + ${PassageStride - 1}) // $PassageStride + 1 END)) AS i
         |  FROM f),
         |geo AS (SELECT doc_id, CAST(i AS INT) AS chunk_idx,
         |    CAST(i * $PassageStride AS INT) AS start_tok,
         |    CAST(least($PassageWin, n - i * $PassageStride) AS INT) AS n_tokens, w
         |  FROM ch)
         |SELECT doc_id, chunk_idx, start_tok, n_tokens,
         |  ${TextFns.sql.hash60(
        s"'pc|' || array_to_string(list_slice(w, start_tok + 1, start_tok + n_tokens), ' ')")} AS chunk_hash
         |FROM geo ORDER BY doc_id, chunk_idx""".stripMargin,
    "q63_pack_sequences" ->
      s"""WITH $packSql
         |SELECT doc_id, n_tokens,
         |  CAST(cum - n_tokens AS BIGINT) AS start_off,
         |  CAST((cum - n_tokens) // $SeqTokens AS BIGINT) AS seq_first,
         |  CAST((cum - 1) // $SeqTokens AS BIGINT) AS seq_last,
         |  CAST((cum - 1) // $SeqTokens - (cum - n_tokens) // $SeqTokens + 1 AS BIGINT) AS n_seqs
         |FROM c ORDER BY doc_id""".stripMargin,
    "q52_mixture_sample" ->
      s"""WITH per AS (
         |  SELECT source, count(*) AS n_docs,
         |    CAST(sum(len(${TextFns.sql.toks})) AS BIGINT) AS n_tokens
         |  FROM documents GROUP BY source),
         |tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) // 2 AS budget FROM per),
         |calc AS (SELECT per.*, budget,
         |    CAST(budget * n_tokens AS DOUBLE) / CAST(sum(n_tokens) OVER () AS BIGINT) AS raw
         |  FROM per, tot),
         |based AS (SELECT *, CAST(floor(raw) AS BIGINT) AS base FROM calc),
         |ranked AS (SELECT *,
         |    row_number() OVER (ORDER BY raw - base DESC, source) AS rk,
         |    budget - CAST(sum(base) OVER () AS BIGINT) AS leftover
         |  FROM based),
         |rates AS (SELECT source,
         |    (base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END) * $SampleBp // n_tokens AS rate_bp
         |  FROM ranked),
         |d AS (SELECT source, doc_id, CAST(len(${TextFns.sql.toks}) AS BIGINT) AS tok
         |      FROM documents)
         |SELECT d.source, r.rate_bp, count(*) AS n_kept,
         |  CAST(sum(d.tok) AS BIGINT) AS kept_tokens
         |FROM d JOIN rates r ON d.source = r.source
         |WHERE ${TextFns.sql.hash32("'sample|' || CAST(doc_id AS VARCHAR)")} % $SampleBp < r.rate_bp
         |GROUP BY d.source, r.rate_bp ORDER BY d.source""".stripMargin,
    "q77_fuzzy_decontaminate" ->
      s"""WITH ${Dedup.bandsSqlOver("documents", "text", "")},
         |pairs AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM bands a JOIN bands b
         |    ON a.band_id = b.band_id AND a.band_key = b.band_key
         |  WHERE a.doc_id < $BenchDocs AND b.doc_id >= $BenchDocs),
         |${Dedup.jaccardSql}
         |SELECT doc_b AS doc_id, doc_a AS bench_id, jaccard FROM jac
         |WHERE jaccard >= $FuzzyDecontamMin ORDER BY doc_id, bench_id""".stripMargin,
    "q78_ingest_neardup" ->
      s"""WITH $snapSql,
         |reps AS (
         |  SELECT doc_id + $RepShift AS doc_id, text AS t_old FROM documents
         |  WHERE ${TextFns.sql.hash32("'rep|' || CAST(doc_id AS VARCHAR)")} % $RepMod = 0),
         |oldall AS (SELECT * FROM oldd UNION ALL SELECT * FROM reps),
         |${Dedup.bandsSqlOver("oldall", "t_old", "o")},
         |${Dedup.bandsSqlOver("newd", "t_new", "n")},
         |cand AS (
         |  SELECT DISTINCT nb.doc_id, ob.doc_id AS old_id
         |  FROM nbands nb JOIN obands ob
         |    ON nb.band_id = ob.band_id AND nb.band_key = ob.band_key
         |   AND nb.doc_id <> ob.doc_id),
         |oexd AS (SELECT doc_id, ${TextFns.sql.hash60("sx")} AS s FROM (
         |  SELECT doc_id, unnest(list_distinct(list_transform(range(len(w) - 1),
         |    i -> w[CAST(i AS INT) + 1] || ' ' || w[CAST(i AS INT) + 2]))) AS sx FROM otoks)),
         |osz AS (SELECT doc_id, count(*) AS sz FROM oexd GROUP BY doc_id),
         |nexd AS (SELECT doc_id, ${TextFns.sql.hash60("sx")} AS s FROM (
         |  SELECT doc_id, unnest(list_distinct(list_transform(range(len(w) - 1),
         |    i -> w[CAST(i AS INT) + 1] || ' ' || w[CAST(i AS INT) + 2]))) AS sx FROM ntoks)),
         |nsz AS (SELECT doc_id, count(*) AS sz FROM nexd GROUP BY doc_id),
         |inter AS (
         |  SELECT c.doc_id, c.old_id, count(*) AS n_common
         |  FROM cand c
         |  JOIN nexd nx ON nx.doc_id = c.doc_id
         |  JOIN oexd ox ON ox.doc_id = c.old_id AND ox.s = nx.s
         |  GROUP BY c.doc_id, c.old_id),
         |jac AS (
         |  SELECT inter.doc_id, old_id,
         |    round(CAST(n_common AS DOUBLE) /
         |      NULLIF(ns.sz + os.sz - n_common, 0), 9) AS jaccard
         |  FROM inter
         |  JOIN nsz ns ON ns.doc_id = inter.doc_id
         |  JOIN osz os ON os.doc_id = inter.old_id),
         |best AS (
         |  SELECT doc_id, old_id, jaccard, row_number() OVER
         |      (PARTITION BY doc_id ORDER BY jaccard DESC, old_id) AS rn
         |  FROM jac WHERE jaccard >= ${Dedup.JaccardMin})
         |SELECT doc_id, old_id AS near_dup_of, jaccard FROM best
         |WHERE rn = 1 ORDER BY doc_id""".stripMargin,
    "q81_shuffle_shards" ->
      s"""WITH $packSql,
         |man AS (SELECT doc_id,
         |    CAST((cum - n_tokens) // $SeqTokens AS BIGINT) AS seq_first,
         |    CAST((cum - 1) // $SeqTokens AS BIGINT) AS seq_last
         |  FROM c),
         |sq AS (SELECT seq_first + CAST(i AS BIGINT) AS seq_id FROM (
         |  SELECT seq_first, unnest(range(seq_last - seq_first + 1)) AS i FROM man)),
         |per AS (SELECT seq_id, count(*) AS n_docs FROM sq GROUP BY seq_id),
         |hs AS (SELECT seq_id, n_docs,
         |    ${TextFns.sql.hash60("'shard|' || CAST(seq_id AS VARCHAR)")} AS h FROM per),
         |sh AS (SELECT seq_id, n_docs, h, CAST(h % $NumShards AS INT) AS shard FROM hs),
         |pos AS (SELECT seq_id, shard, n_docs, CAST(row_number() OVER
         |    (PARTITION BY shard ORDER BY h, seq_id) - 1 AS BIGINT) AS shard_pos
         |  FROM sh)
         |SELECT seq_id, shard, shard_pos, n_docs FROM pos
         |ORDER BY shard, shard_pos""".stripMargin,
    // one pruned single-column aggregate per profiled column, unioned
    "q92_table_profile" ->
      ProfileCols.map { case (c, num) =>
        val nm = if (num) s"CAST(min($c) AS BIGINT)" else "CAST(NULL AS BIGINT)"
        val nx = if (num) s"CAST(max($c) AS BIGINT)" else "CAST(NULL AS BIGINT)"
        val lm = if (num) "CAST(NULL AS BIGINT)" else s"CAST(min(length($c)) AS BIGINT)"
        val lx = if (num) "CAST(NULL AS BIGINT)" else s"CAST(max(length($c)) AS BIGINT)"
        s"""SELECT '$c' AS col_name, count(*) AS n_rows,
           |  CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
           |  count(DISTINCT $c) AS n_distinct,
           |  $nm AS num_min, $nx AS num_max, $lm AS len_min, $lx AS len_max
           |FROM documents""".stripMargin
      }.mkString("", "\nUNION ALL\n", "\nORDER BY col_name"))
}
