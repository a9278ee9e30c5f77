package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Det.nullIfZero
import graft.functions.TextFns
import graft.sources.Tables

/** Text-analysis operators over the `documents` table: token counting,
  * quality scoring, language ID, document fingerprinting.
  *
  * All four are narrow per-row map operators — no shuffle at all except
  * the final presentation sort — so they scale linearly with input size
  * and stay entirely inside whole-stage codegen (no UDFs). At 100 TB the
  * plan is scan → project → (optional sort); column pruning reaches the
  * parquet scan (`text` + projected columns only).
  */
object TextAnalysis {

  val Stopwords = Seq("the", "a", "of", "to", "and", "is", "in")

  /** Language marker sets for the n-gram/stopword language-ID heuristic.
    * Order = deterministic tie-break priority.
    */
  private val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "is", "and", "of"),
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "es" -> Seq("el", "la", "los", "que", "y"),
    "fr" -> Seq("le", "les", "des", "et", "est"),
    "zh" -> Seq("的", "是", "了", "在", "和"))

  /** Word-or-punct token pattern (BPE-ish pre-tokenizer regex). */
  private val RePat = "\\w+|[^\\w\\s]"

  /** q17 — token counting: whitespace tokens, regex tokens, char stats. */
  def tokenStats(spark: SparkSession, dir: String): DataFrame =
    tokenStatsFrom(Tables.documents(spark, dir))

  def tokenStatsFrom(docs: DataFrame): DataFrame = {
    val w = TextFns.toks(col("text"))
    val nonspace = length(regexp_replace(col("text"), "\\s", ""))
    docs.select(
        col("doc_id"),
        size(w).as("n_tokens_ws"),
        regexp_count(col("text"), lit(RePat)).as("n_tokens_re"),
        length(col("text")).as("len_chars"),
        round(nonspace.cast("double") / nullIfZero(size(w)), 6).as("avg_token_len"))
      .orderBy("doc_id")
  }

  /** q18 — quality scoring: length / stopword-ratio / word-length blend,
    * each ratio a single exact-int division (deterministic doubles).
    */
  def qualityScore(spark: SparkSession, dir: String): DataFrame =
    qualityScoreFrom(Tables.documents(spark, dir))

  def qualityScoreFrom(docs: DataFrame): DataFrame =
    qualityFeatures(docs, Seq("doc_id")).orderBy("doc_id")

  /** The q18 per-doc quality features with caller-chosen key columns
    * passed through (q18 keeps `doc_id`; q153's per-domain rollup keeps
    * `source`) — ONE definition of the score expression, so the gated
    * consumers cannot drift.
    */
  def qualityFeatures(docs: DataFrame, keep: Seq[String]): DataFrame = {
    val d = docs
      .select(keep.map(col) ++ Seq(TextFns.toks(col("text")).as("w"),
        length(regexp_replace(col("text"), "\\s", "")).as("nonspace")): _*)
      .select(keep.map(col) ++ Seq(size(col("w")).as("n_tokens"),
        size(TextFns.keepIn(col("w"), Stopwords)).as("stop_hits"),
        col("nonspace")): _*)
    val stopRatio = col("stop_hits").cast("double") / nullIfZero(col("n_tokens"))
    val meanTok = col("nonspace").cast("double") / nullIfZero(col("n_tokens"))
    d.select(
      keep.map(col) ++ Seq(col("n_tokens"), col("stop_hits"),
        round(stopRatio, 6).as("stop_ratio"),
        round(meanTok, 6).as("mean_token_len"),
        round(
          lit(0.25) * least(lit(1.0), col("n_tokens").cast("double") / 100.0) +
          lit(0.25) * least(lit(1.0), meanTok / 8.0) +
          lit(0.5) * (lit(1.0) - least(lit(1.0), stopRatio * 4.0)), 6)
          .as("quality_score")): _*)
  }

  /** q218 fixed logistic-model parameters: bias + weights over
    * ln(1+tokens), stopword ratio, and mean nonspace chars per token —
    * a tiny "trained" quality classifier whose inference path is the
    * point (the weights of a real model are data; the OPERATOR is the
    * linear-model scoring pass).
    */
  val QmBias = -2.0
  val QmWLen = 0.35
  val QmWStop = 6.0
  val QmWTok = -0.15

  /** q218 — MODEL-BASED quality scoring: logistic-regression inference
    * over the q18 feature kernel — the DCLM/fastText-classifier-style
    * filtering step that replaced pure heuristics in modern curation
    * stacks (q18 is the hand-tuned heuristic; this is the
    * trained-model inference path: z = w·f + b, score = σ(z),
    * keep = z ≥ 0). Weights are fixed model constants ([[QmBias]]…);
    * swapping in a real trained vector changes literals, not the plan.
    *
    * Determinism: features are exact integers from the shared q18
    * expressions; z is a fixed left-associative chain whose only libm
    * ops (one ln, one exp) ride round 6 on the score; `keep` compares
    * the PRE-sigmoid z against 0 (monotone-equivalent to score ≥ ½,
    * without the exp in the compare). Whitespace-only docs carry the
    * q18 kernel's single empty token and score at the bias-dominated
    * floor.
    *
    * Scale shape: pure map work — scan → project → sort; column
    * pruning reaches the scan.
    */
  def qualityModel(spark: SparkSession, dir: String): DataFrame =
    qualityModelFrom(Tables.documents(spark, dir))

  def qualityModelFrom(docs: DataFrame): DataFrame = {
    val d = qualityZ(docs, Seq("doc_id"))
    d.select(col("doc_id"), col("nt").as("n_tokens"),
        round(lit(1.0) / (lit(1.0) + exp(-col("z"))), 6).as("score"),
        (col("z") >= lit(0.0)).as("keep"))
      .orderBy("doc_id")
  }

  /** The shared q218/q220 pre-sigmoid margin: caller-kept columns plus
    * `nt` and `z` — ONE definition of the model chain, so the batch
    * scorer and the streaming monitor cannot drift.
    */
  def qualityZ(docs: DataFrame, keep: Seq[String]): DataFrame = {
    val d = rawQualityFeatures(docs, keep)
    d.select(keep.map(col) ++ Seq(col("nt"),
      zCol(col("nt"), col("stop"), col("nonspace")).as("z")): _*)
  }

  /** Raw integer quality features (`nt`, `stop`, `nonspace`) with
    * caller keys, zero-token docs dropped — ONE extraction shared by
    * [[qualityZ]] (q218/q220) and the q242 calibration audit.
    */
  private def rawQualityFeatures(docs: DataFrame, keep: Seq[String]): DataFrame =
    docs
      .select(keep.map(col) ++ Seq(TextFns.toks(col("text")).as("w"),
        length(regexp_replace(col("text"), "\\s", "")).as("nonspace")): _*)
      .select(keep.map(col) ++ Seq(size(col("w")).cast("long").as("nt"),
        size(TextFns.keepIn(col("w"), Stopwords)).cast("long").as("stop"),
        col("nonspace")): _*)
      .filter(col("nt") > 0)

  /** The q218 pre-sigmoid chain over raw feature columns. */
  private def zCol(nt: Column, stop: Column, nonspace: Column): Column =
    lit(QmBias) +
      lit(QmWLen) * log(lit(1.0) + nt.cast("double")) +
      lit(QmWStop) * (stop.cast("double") / nt) +
      lit(QmWTok) * (nonspace.cast("double") / nt)

  /** The q18 heuristic score over raw feature columns (the same value
    * path as [[qualityFeatures]]'s `quality_score`).
    */
  private def q18ScoreCol(nt: Column, stop: Column, nonspace: Column): Column = {
    val stopRatio = stop.cast("double") / nullIfZero(nt)
    val meanTok = nonspace.cast("double") / nullIfZero(nt)
    round(
      lit(0.25) * least(lit(1.0), nt.cast("double") / 100.0) +
        lit(0.25) * least(lit(1.0), meanTok / 8.0) +
        lit(0.5) * (lit(1.0) - least(lit(1.0), stopRatio * 4.0)), 6)
  }

  /** q242 — model-vs-heuristic CALIBRATION audit (reliability bins):
    * bucket the q218 model's keep-probability into deciles and compare
    * each bin's mean predicted score against the fraction of its docs
    * the q18 legacy heuristic actually keeps — the standard audit when
    * a trained filter replaces a hand-tuned one and there are no human
    * labels: where the gap is large, the two filters disagree
    * SYSTEMATICALLY (not doc-by-doc noise), and the weighted gaps sum
    * to the expected-calibration-error-style headline.
    *
    * Determinism: scores are the shared 6-dp-rounded chains (the exact
    * q218/q18 definitions via [[zCol]]/[[q18ScoreCol]] — the audit can
    * never drift from what it audits); bin ids floor the rounded score
    * (both engines floor the same IEEE double); bin means sum round-6
    * doubles through DECIMAL(38,12) (order-free).
    *
    * Scale shape: one map pass, one 10-bin aggregate with map-side
    * combine, one broadcast 1-row total. Nothing doc-grain shuffles.
    */
  def scoreCalibration(spark: SparkSession, dir: String): DataFrame =
    scoreCalibrationFrom(Tables.documents(spark, dir))

  def scoreCalibrationFrom(docs: DataFrame): DataFrame = {
    val f = rawQualityFeatures(docs, Nil)
    val scored = f.select(
      round(lit(1.0) / (lit(1.0) +
        exp(-zCol(col("nt"), col("stop"), col("nonspace")))), 6).as("score"),
      (q18ScoreCol(col("nt"), col("stop"), col("nonspace")) >= 0.5).as("y"))
    val b = scored.select(
      floor(least(col("score") * 10, lit(9.0))).cast("int").as("bin"),
      col("score"), col("y"))
    val g = b.groupBy("bin").agg(
      count(lit(1)).as("n_docs"),
      sum(col("score").cast("decimal(38,12)")).as("ss"),
      sum(when(col("y"), 1L).otherwise(0L)).as("n_pos"))
    val tot = b.agg(count(lit(1)).as("n_all"))
    g.crossJoin(broadcast(tot))
      .select(col("bin"), col("n_docs"), col("n_pos"),
        round(col("ss").cast("double") / col("n_docs"), 6).as("mean_score"),
        round(col("n_pos").cast("double") / col("n_docs"), 6).as("pos_rate"),
        col("n_all"))
      .withColumn("gap", round(abs(col("mean_score") - col("pos_rate")), 6))
      .select(col("bin"), col("n_docs"), col("n_pos"), col("mean_score"),
        col("pos_rate"), col("gap"),
        round(col("gap") * col("n_docs").cast("double") / col("n_all"), 9)
          .as("w_gap"))
      .orderBy("bin")
  }

  /** q19 — language ID: stopword-marker hit counts per candidate
    * language, argmax with fixed priority tie-break.
    */
  def langId(spark: SparkSession, dir: String): DataFrame =
    langIdFrom(Tables.documents(spark, dir))

  def langIdFrom(docs: DataFrame): DataFrame =
    langScored(docs, Seq("doc_id", "lang")).orderBy("doc_id")

  /** Shared q19/q160 scorer: per-language marker hit counts + argmax
    * `pred_lang`, with caller-chosen key columns passed through (q19
    * keeps `doc_id`; q160's mismatch rollup keeps `source`) — ONE
    * definition of the predictor, so the gated consumers cannot drift.
    */
  private def langScored(docs: DataFrame, keep: Seq[String]): DataFrame = {
    val w = TextFns.toks(col("text"))
    val scored = docs.select(
      keep.map(col) ++
        LangMarkers.map { case (l, ms) => size(TextFns.keepIn(w, ms)).as(s"s_$l") }: _*)
    val best = greatest(LangMarkers.map { case (l, _) => col(s"s_$l") }: _*)
    val pred = LangMarkers.init.foldRight(lit(LangMarkers.last._1): Column) {
      case ((l, _), els) => when(col(s"s_$l") === best, l).otherwise(els)
    }
    scored.withColumn("pred_lang", pred)
  }

  /** q160 — declared-vs-predicted language MISMATCH audit: the
    * confusion relation between the `lang` column a crawl source
    * claims and what q19's marker predictor actually sees, rolled up
    * with a per-source mismatch rate. A feed whose declared language
    * drifts from its content (wrong-language injection, template
    * change, mislabeled shard) is the standard upstream failure that
    * poisons per-language training mixes — this is the audit that
    * catches it at the (source, lang) grain where the fix is applied.
    *
    * Scale shape: marker scores are map-side array-filter columns (the
    * q19 kernel, shared via [[langScored]] so the two gated consumers
    * cannot drift), then ONE (source, declared, predicted) aggregate —
    * languages² × sources rows at most cross the wire, never documents;
    * the per-source totals ride a window over that model-sized relation.
    *
    * Determinism: counts are integers; the rate is one closing division
    * rounded at 6 dp; the oracle CASTs its window sums back to BIGINT
    * (DuckDB widens sum(BIGINT) to HUGEINT — the q111 lesson).
    */
  def langMismatch(spark: SparkSession, dir: String): DataFrame =
    langMismatchFrom(Tables.documents(spark, dir))

  def langMismatchFrom(docs: DataFrame): DataFrame = {
    val conf = langScored(docs, Seq("source", "lang"))
      .groupBy("source", "lang", "pred_lang")
      .agg(count(lit(1)).as("n_docs"))
    val srcW = Window.partitionBy("source")
    conf
      .withColumn("source_total", sum("n_docs").over(srcW))
      .withColumn("source_mismatch",
        sum(when(col("lang") =!= col("pred_lang"), col("n_docs"))
          .otherwise(0L)).over(srcW))
      .select(col("source"), col("lang"), col("pred_lang"), col("n_docs"),
        (col("lang") =!= col("pred_lang")).as("is_mismatch"),
        col("source_total"),
        round(col("source_mismatch").cast("double") / col("source_total"), 6)
          .as("source_mismatch_rate"))
      .orderBy("source", "lang", "pred_lang")
  }

  /** q165 — quality-score BIAS audit: per language, the AUC of the q18
    * quality score as a one-vs-rest discriminator — `auc < 0.5` means
    * the score systematically ranks that language's documents LOWER
    * than the rest of the corpus, which is exactly how an
    * English-tuned heuristic (stopword lists, token-length priors)
    * silently starves other languages out of a filtered training mix.
    * This is the fairness gauge for every consumer of the score
    * (q88's funnel, q153's domain rollup).
    *
    * Determinism: AUC is computed as the tie-corrected Mann-Whitney
    * rank sum (the q132 machinery — DOUBLED average ranks keep ties
    * integer), over the 6-dp-ROUNDED score so rank ties are
    * engine-independent; everything is integer until the one closing
    * division, NULLIF-guarded for a single-language corpus.
    *
    * Scale shape: the score is ONE map-side pass ([[qualityFeatures]],
    * the shared definition — the audit can never drift from the score
    * it audits); ranks ride a (score, lang) aggregate bounded by score
    * cardinality × languages (metadata-scale: the 6-dp score has ≤1e6
    * values), never documents; the rank window orders the score-level
    * relation and the per-language rollup is languages-sized.
    */
  def scoreBiasAuc(spark: SparkSession, dir: String): DataFrame =
    scoreBiasAucFrom(Tables.documents(spark, dir))

  def scoreBiasAucFrom(docs: DataFrame): DataFrame = {
    val scored = qualityFeatures(docs, Seq("lang"))
      .select(col("lang"), col("quality_score").as("qs"))
      .filter(col("qs").isNotNull)
    val byLS = scored.groupBy("qs", "lang").agg(count(lit(1)).as("c"))
    val byS = byLS.groupBy("qs").agg(sum("c").as("cv"))
    val before = Window.orderBy("qs")
      .rowsBetween(Window.unboundedPreceding, -1)
    val ranked = byS.withColumn("st",
      coalesce(sum("cv").over(before), lit(0L)) + 1)
    val tot = scored.agg(count(lit(1)).as("n_all"))
    // rank-sum terms accumulate in DECIMAL(38,0) (HUGEINT in the
    // oracle): r2pos ~ 2n² per language wraps BIGINT near 2e9 rows,
    // where Spark's Long sum would silently diverge from DuckDB's
    // erroring CAST. The u2 OUTPUT stays BIGINT (SchemaGateSpec) via a
    // closing cast that now fails LOUDLY on both engines at the same
    // ~4e9-rows-per-language ceiling instead of wrapping on one side.
    val dec0 = org.apache.spark.sql.types.DecimalType(38, 0)
    val u2 = col("r2pos") -
      col("n_pos").cast(dec0) * (col("n_pos") + lit(1L)).cast(dec0)
    byLS.join(ranked, Seq("qs"))
      .groupBy("lang").agg(
        sum("c").as("n_pos"),
        sum(col("c").cast(dec0) *
            (lit(2L) * col("st") + col("cv") - 1).cast(dec0))
          .cast(dec0).as("r2pos"))
      .crossJoin(broadcast(tot))
      .select(col("lang"), col("n_pos"),
        (col("n_all") - col("n_pos")).as("n_neg"),
        u2.cast("long").as("u2"),
        round(u2.cast("double") /
          (lit(2.0) * nullIfZero(col("n_pos").cast(dec0) *
            (col("n_all") - col("n_pos")).cast(dec0)).cast("double")),
          9).as("auc"))
      .orderBy("lang")
  }

  /** q20 — fingerprinting: normalized-text md5, a 60-bit numeric
    * fingerprint, and a winnowing-style min rolling-hash over char
    * 8-grams (the minimum salted hash across all 8-char windows — the
    * scale-safe per-row piece of a winnowing index).
    */
  def fingerprint(spark: SparkSession, dir: String): DataFrame =
    fingerprintFrom(Tables.documents(spark, dir))

  def fingerprintFrom(docs: DataFrame): DataFrame = {
    val norm = trim(regexp_replace(
      regexp_replace(lower(col("text")), "[^a-z0-9 ]", ""), "\\s+", " "))
    val grams = when(length(col("norm")) < 8, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(1), length(col("norm")) - 7),
        i => substring(col("norm"), i, lit(8))))
    docs
      .select(col("doc_id"), norm.as("norm"))
      .select(
        col("doc_id"),
        md5(col("norm")).as("fp_md5"),
        conv(substring(md5(col("norm")), 1, 15), 16, 10).cast("long").as("fp60"),
        array_min(transform(grams, g => TextFns.hash32(g))).as("min_gram_hash"))
      .orderBy("doc_id")
  }

  /** q84 winnowing geometry: token-gram width k and hash-window width w.
    * The noise threshold is t = w + k − 1 = 7 tokens: any substring of
    * ≥ t tokens shared by two docs is GUARANTEED to share a selected
    * fingerprint; shorter overlaps may go unseen.
    */
  val WinnowK = 4
  val WinnowW = 4

  /** q84 — winnowing fingerprint selection (Schleimer, Wilkerson,
    * Aiken, "Winnowing: Local Algorithms for Document Fingerprinting",
    * SIGMOD 2003 — the MOSS scheme): hash every k-token gram, slide a
    * w-hash window, keep one minimal hash per window. Selected density
    * is ~2/(w+1) of all grams, position-robust where q20's single
    * min-gram per doc is not: an index over (fp → doc, pos) supports
    * substring-level matching at a fraction of full-gram cost.
    *
    * Variant note: ties inside a window select the LEFTMOST minimum
    * (the paper's density argument prefers rightmost) because both
    * engines share a first-occurrence position primitive
    * (array_position / list_position) — the t-token matching guarantee
    * is unaffected, only the worst-case density bound widens, and with
    * 60-bit hashes in-window ties are ~impossible anyway.
    *
    * Scale shape: pure map work — gram hashing, window minima, and the
    * distinct-position collapse are all per-row array expressions
    * inside codegen; the only post-map operator is the presentation
    * sort. Output rows ≈ 2/(w+1) × corpus tokens.
    */
  def winnowFingerprints(spark: SparkSession, dir: String): DataFrame =
    winnowFingerprintsFrom(Tables.documents(spark, dir))

  def winnowFingerprintsFrom(docs: DataFrame): DataFrame = {
    graft.plans.GraftFunctions.register(docs.sparkSession)
    val w = TextFns.toks(col("text"))
    val kh = transform(sequence(lit(0), size(col("w")) - WinnowK),
      i => TextFns.hash60(concat(lit("wn|"),
        concat_ws(" ", slice(col("w"), i + 1, lit(WinnowK))))))
    // selection runs in the winnow_positions kernel (one generated
    // pass); the composed transform/array_distinct twin — measured ~4×
    // slower — is what the dialect-derived SQL form still runs, and
    // SqlSurfaceSpec holds the two bit-equal
    val selpos = call_function("winnow_positions", col("kh"), lit(WinnowW))
    // one size predicate, on the TOKEN count: size(kh) ≥ w ⇔ size(w) ≥
    // t = w+k−1, and filtering on kh would push a second copy of the
    // full md5 gram transform into the Filter node (measured 2× row
    // cost); sub-t docs yield an empty kernel result anyway, so the
    // predicate is scan pruning, not correctness
    Tables.widened(docs, col("doc_id"))
      .select(col("doc_id"), w.as("w"))
      .filter(size(col("w")) >= WinnowK + WinnowW - 1)
      .select(col("doc_id"), kh.as("kh"))
      .select(col("doc_id"), col("kh"),
        explode(selpos).as("pos"))
      .select(col("doc_id"), col("pos").cast("long").as("pos"),
        element_at(col("kh"), col("pos").cast("int") + 1).as("fp"))
      .orderBy("doc_id", "pos")
  }

  /** Distinct `(doc_id, fp)` winnow profile — the position-free form
    * every fp-keyed consumer (q85 candidates, q87 verify, ingest
    * passes) actually needs, without q84's presentation sort.
    */
  def winnowFpsFrom(docs: DataFrame): DataFrame =
    winnowFingerprintsFrom(docs).select("doc_id", "fp").distinct()

  /** Buckets of the materialized winnow index. */
  val WinnowIndexBuckets = 16

  /** MATERIALIZED winnow fingerprint index for corpus `dir`: the
    * distinct `(doc_id, fp)` profile written once as a catalog table
    * bucketed AND per-bucket-sorted by `fp` (`sources/Bucketing`, the
    * q67-comment discipline made real). Every fp-keyed stage
    * downstream — q85's df count + fp self-join, q87's candidate
    * generation, near-dup ingest — then reads pre-winnowed rows whose
    * scan already carries the fp hash distribution, so the winnow pass
    * runs once per corpus and the consumers' fp exchanges vanish
    * (plan-gated in `BucketingSpec`). Write-once per corpus dir keyed
    * like `Partitioned.eventsFor`; the fixtures are immutable.
    */
  def winnowIndexFor(spark: SparkSession, dir: String): DataFrame = {
    val key = java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes("UTF-8")).map(b => f"$b%02x").mkString.take(12)
    val table = s"graft_winnow_fp_$key"
    idxLock.synchronized {
      if (!spark.catalog.tableExists(table))
        graft.sources.Bucketing.bucketize(
          winnowFpsFrom(Tables.documents(spark, dir)),
          "fp", WinnowIndexBuckets, table)
    }
    spark.table(table)
  }
  private val idxLock = new Object

  /** q88 funnel rule names, in application order. */
  val FunnelRules = Seq("too_short", "token_len", "low_stopword", "repetitive")

  /** q88 minimum tokens (rule 1). */
  val FunnelMinTokens = 20L

  /** q88 — quality filter funnel: the C4/Gopher-style cleaning cascade
    * as an attrition report. Four rules apply in order — token floor,
    * mean-token-length band, stopword-ratio floor, repeated-bigram
    * ceiling — and each document is charged to its FIRST failing rule.
    * Per rule the report shows how many docs fail it independently
    * (`n_failing` — the rule's raw bite), how many the cascade rejects
    * at that stage (`n_rejected_here`), and the corpus remaining after
    * it — the numbers a curation team actually argues about when
    * tuning thresholds.
    *
    * Every predicate is INTEGER arithmetic (cross-multiplied ratios:
    * `stop·20 < nt` is `stop/nt < 0.05` without the double-at-threshold
    * cross-engine hazard). Scale shape: one map pass computes the four
    * flags per doc (the bigram-distinct count rides the same
    * `sorted_shingle_hashes` kernel as q47), one all-combining
    * aggregate reduces to a single row, and the 4-row report unpivots
    * from it — corpus never shuffles.
    */
  def filterFunnel(spark: SparkSession, dir: String): DataFrame =
    filterFunnelFrom(Tables.documents(spark, dir))

  def filterFunnelFrom(docs: DataFrame): DataFrame =
    funnelReport(funnelAgg(docs))

  /** The funnel's single-row counter aggregate — map-side flags + one
    * all-combining agg. Streaming-safe (no sort, no window): q90 runs
    * exactly this as a complete-mode streaming aggregation.
    */
  def funnelAgg(docs: DataFrame): DataFrame = {
    graft.plans.GraftFunctions.register(docs.sparkSession)
    val widened =
      if (docs.isStreaming) docs else Tables.widened(docs, col("doc_id"))
    val d = widened
      .select(col("doc_id"), TextFns.toks(col("text")).as("w"),
        length(regexp_replace(col("text"), "\\s", "")).cast("long").as("ns"),
        size(call_function("sorted_shingle_hashes", col("text")))
          .cast("long").as("n_dist"))
      .select(size(col("w")).cast("long").as("nt"),
        size(TextFns.keepIn(col("w"), Stopwords)).cast("long").as("stop"),
        col("ns"), col("n_dist"))
    val f1 = col("nt") < FunnelMinTokens
    val f2 = col("ns") < col("nt") * 3 || col("ns") > col("nt") * 10
    val f3 = col("stop") * 20 < col("nt")
    val f4 = (col("nt") - 1 - col("n_dist")) * 2 > col("nt") - 1
    val ff = when(f1, 1).when(f2, 2).when(f3, 3).when(f4, 4).otherwise(0)
    def cnt(c: org.apache.spark.sql.Column) =
      sum(when(c, 1L).otherwise(0L))
    d.select(Seq(ff.as("ff")) ++
        Seq(f1, f2, f3, f4).zipWithIndex.map { case (f, i) => f.as(s"f${i + 1}") }: _*)
      .agg(count(lit(1)).as("total"),
        cnt(col("f1")).as("a1"), cnt(col("f2")).as("a2"),
        cnt(col("f3")).as("a3"), cnt(col("f4")).as("a4"),
        cnt(col("ff") === 1).as("r1"), cnt(col("ff") === 2).as("r2"),
        cnt(col("ff") === 3).as("r3"), cnt(col("ff") === 4).as("r4"))
  }

  /** Unpivot the counter row into the 4-stage attrition report. */
  def funnelReport(a: DataFrame): DataFrame = {
    val rows = FunnelRules.zipWithIndex.map { case (rule, i) =>
      s"${i + 1}, '$rule', a${i + 1}, r${i + 1}"
    }.mkString(", ")
    a.selectExpr("total",
        s"stack(4, $rows) AS (stage, rule, n_failing, n_rejected_here)")
      .withColumn("n_remaining", col("total") -
        sum("n_rejected_here").over(
          org.apache.spark.sql.expressions.Window.orderBy("stage")
            .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
      .select(col("stage"), col("rule"), col("n_failing"),
        col("n_rejected_here"), col("n_remaining"))
      .orderBy("stage")
  }

  /** KMV sketch size (estimate stderr ≈ 1/√k ≈ 6%). */
  val KmvK = 256

  /** q39 — KMV (k-minimum-values) distinct-document sketch: the k
    * smallest 60-bit fingerprint hashes estimate the distinct count as
    * `(k−1) · 2^60 / h_k`.
    *
    * Why KMV and not HLL here: the sketch is a pure function of the
    * data (k order statistics of a deterministic hash), so the estimate
    * is bit-identical on any engine — it sits under the DuckDB hash
    * oracle like every exact query, which no engine-specific HLL
    * register layout can. Scale shape: k-min sets merge associatively
    * (k-min of a union = k-min of the k-mins), and Spark plans the
    * orderBy+limit as TakeOrderedAndProject — per-partition partial
    * top-k, merge of k-row partials, never a global sort. The exact
    * count is computed alongside to expose sketch error.
    */
  def kmvDistinct(spark: SparkSession, dir: String): DataFrame =
    kmvDistinctFrom(Tables.documents(spark, dir))

  def kmvDistinctFrom(docs: DataFrame): DataFrame = {
    val norm = trim(regexp_replace(
      regexp_replace(lower(col("text")), "[^a-z0-9 ]", ""), "\\s+", " "))
    val fp = docs
      .select(conv(substring(md5(norm), 1, 15), 16, 10).cast("long").as("h"))
      .distinct()
    val kmins = fp.orderBy("h").limit(KmvK)
      .agg(count(lit(1)).as("n_k"), max("h").as("kth_min"))
    val exact = fp.agg(count(lit(1)).as("n_exact"))
    kmins.crossJoin(exact)
      .select(col("n_exact"), col("n_k"), col("kth_min"),
        TextFns.kmvEstimate(col("n_k"), col("kth_min"), KmvK)
          .as("est_distinct"))
  }

  /** Vocabulary rows kept (by document frequency). */
  val VocabTopK = 50

  /** q53 — corpus vocabulary by document frequency: per token its total
    * occurrence count (tf) and the number of documents containing it
    * (df), top-[[VocabTopK]] by (df, tf, token). The table that feeds
    * IDF weighting, stopword discovery, and tokenizer-coverage audits.
    *
    * Scale shape: explode → two-phase hash aggregate keyed by token;
    * the df distinct-count rides the same shuffle via a (token, doc_id)
    * partial; the top-k lowers to TakeOrderedAndProject (per-partition
    * partial top-k, never a global sort). Vocabulary cardinality — not
    * corpus size — bounds the reduce side, which is what makes this
    * viable at 100 TB.
    */
  def dfVocab(spark: SparkSession, dir: String): DataFrame =
    dfVocabFrom(Tables.documents(spark, dir))

  /** q183 — corpus prefix buckets for the growth curve. */
  val GrowthBuckets = 10

  /** q183 — VOCABULARY GROWTH curve (Heaps-law audit): split the
    * corpus into [[GrowthBuckets]] doc-id-range deciles (ingest
    * order), and per decile report doc/token mass, the NEW token types
    * first seen there, cumulative token/vocab counts, and the
    * new-type rate — the diminishing-returns measurement behind "does
    * more of this feed still buy vocabulary?", and a flattening curve
    * is also the template/duplication smell q175 then localizes.
    * Deciles cut the doc_id RANGE (one broadcast min/max + a map-side
    * integral divide), not a global rank — no total-order sort exists
    * anywhere in the plan, which is what makes the curve computable on
    * an unbounded corpus.
    *
    * Scale shape: one explode pass with map-side combine for decile
    * token mass; the first-occurrence relation is ONE vocab-bounded
    * aggregate (min doc_id per token); cumulative windows run on the
    * 10-row decile relation. Rates are single exact-int divisions.
    */
  def vocabGrowth(spark: SparkSession, dir: String): DataFrame =
    vocabGrowthFrom(Tables.documents(spark, dir))

  def vocabGrowthFrom(docs: DataFrame): DataFrame = {
    val toks = docs
      .select(col("doc_id"), explode(TextFns.toks(col("text"))).as("token"))
      .filter(col("token") =!= "")
    val bounds = docs.agg(min("doc_id").as("lo"), max("doc_id").as("hi"))
    def decile(id: Column): Column =
      lit(1) + call_function("div",
        (id - col("lo")) * lit(GrowthBuckets.toLong),
        col("hi") - col("lo") + lit(1L))
    val nDocs = docs.select(col("doc_id")).crossJoin(broadcast(bounds))
      .groupBy(decile(col("doc_id")).as("d"))
      .agg(count(lit(1)).as("n_docs"))
    val nToks = toks.crossJoin(broadcast(bounds))
      .groupBy(decile(col("doc_id")).as("d"))
      .agg(count(lit(1)).as("n_tokens"))
    val newTypes = toks.groupBy("token").agg(min("doc_id").as("fd"))
      .crossJoin(broadcast(bounds))
      .groupBy(decile(col("fd")).as("d"))
      .agg(count(lit(1)).as("new_types"))
    val w = Window.orderBy("d")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    nDocs.join(nToks, Seq("d"), "left").join(newTypes, Seq("d"), "left")
      .na.fill(0L, Seq("n_tokens", "new_types"))
      .select(col("d").as("decile"), col("n_docs"), col("n_tokens"),
        col("new_types"),
        sum("n_tokens").over(w).as("cum_tokens"),
        sum("new_types").over(w).as("cum_vocab"),
        (col("new_types").cast("double") / nullIfZero(col("n_tokens")))
          .as("new_type_rate"))
      .orderBy("decile")
  }

  def dfVocabFrom(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), explode(TextFns.toks(col("text"))).as("token"))
      .filter(col("token") =!= "")
      .groupBy("token")
      .agg(count(lit(1)).as("tf"), countDistinct(col("doc_id")).as("df"))
      .orderBy(desc("df"), desc("tf"), asc("token"))
      .limit(VocabTopK)

  /** q139 tokenizer vocabulary size — like [[LmTopV]], deliberately
    * below the fixture corpus's vocabulary so the OOV mass is
    * non-trivial at every sf.
    */
  val OovVocabK = 24

  /** q139 — vocabulary-coverage / OOV-rate audit (the tokenizer-fit
    * report of a training-data pipeline: how much of each language
    * slice's token mass a fixed top-[[OovVocabK]] vocabulary covers,
    * and how many documents are OOV-heavy enough to distort training).
    * Vocabulary = top-K corpus tokens by (tf, token) — a stand-in for
    * the tokenizer's merge table; per language: document count, token
    * occurrences, OOV occurrences, the OOV rate, and the count of
    * documents whose own OOV share exceeds 10%.
    *
    * Scale shape: the vocabulary cut is a TakeOrderedAndProject over a
    * vocabulary-bounded aggregate (q53's shape) and comes back as a
    * K-row broadcast; membership tagging is then a map-side broadcast
    * left join on the exploded token stream — nothing keyed by token
    * ever shuffles at corpus scale; the two-level rollup (doc, then
    * lang) is a pair of two-phase hash aggregates whose reduce sides
    * are doc- and language-cardinality. The high-OOV flag compares in
    * integer space (`10·oov > n_tok`), so the only float op is the one
    * closing division (the determinism discipline of q18/q95).
    *
    * Scope: `n_docs` counts documents WITH at least one non-empty
    * token — a token-less document has no coverage to audit and drops
    * out of the explode on both engines (the oracle's unnest agrees);
    * all-token-less languages are likewise absent rather than 0/0.
    */
  def oovRate(spark: SparkSession, dir: String): DataFrame =
    oovRateFrom(Tables.documents(spark, dir))

  def oovRateFrom(docs: DataFrame): DataFrame = {
    val tok = docs
      .select(col("doc_id"), col("lang"),
        explode(TextFns.toks(col("text"))).as("token"))
      .filter(col("token") =!= "")
    val vocab = tok.groupBy("token").agg(count(lit(1)).as("tf"))
      .orderBy(desc("tf"), asc("token")).limit(OovVocabK)
      .select(col("token"), lit(1).as("hit"))
    val perDoc = tok.join(broadcast(vocab), Seq("token"), "left")
      .groupBy("doc_id", "lang")
      .agg(count(lit(1)).as("n_tok"),
        sum(when(col("hit").isNull, 1L).otherwise(0L)).as("oov"))
    perDoc.groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_tok").as("n_tokens"),
        sum("oov").as("n_oov"),
        sum(when(col("oov") * 10 > col("n_tok"), 1L).otherwise(0L))
          .as("n_docs_high_oov"))
      .select(col("lang"), col("n_docs"), col("n_tokens"), col("n_oov"),
        round(col("n_oov").cast("double") / col("n_tokens").cast("double"), 9)
          .as("oov_rate"),
        col("n_docs_high_oov"))
      .orderBy("lang")
  }

  /** Unigram-LM vocabulary size for q57 — deliberately below the
    * fixture corpus's ~31-token vocabulary so the OOV floor path is
    * exercised by the driver gate, not just declared.
    */
  val LmTopV = 16

  /** q57 — unigram-LM quality scoring (the KenLM-style perplexity
    * filter of a training-data pipeline reduced to its engine shape):
    * estimate a unigram language model from the corpus itself — the
    * top-[[LmTopV]] tokens by count, OOV floored at probability
    * 1/total — then score every document by mean negative
    * log-likelihood and perplexity under that model.
    *
    * Scale shape: the LM estimate is one explode → two-phase hash
    * aggregate bounded by VOCABULARY cardinality, lowered to
    * TakeOrderedAndProject for the top-V cut; the V surviving (token,
    * count) rows come back to the driver and re-enter the plan as a
    * literal map (the broadcast-codebook pattern of q36 — V is a model
    * constant, not data-scaled); the corpus token total rides one
    * single-row aggregate broadcast back via cross join; scoring is
    * then pure map-side arithmetic — scan → project, nothing keyed by
    * doc ever crosses the wire.
    */
  def lmScore(spark: SparkSession, dir: String): DataFrame =
    lmScoreFrom(Tables.documents(spark, dir))

  def lmScoreFrom(docs: DataFrame): DataFrame = {
    val wf = filter(TextFns.toks(col("text")), t => t =!= "")
    val vocab: Seq[(String, Long)] = docs
      .select(explode(wf).as("token"))
      .groupBy("token").agg(count(lit(1)).as("tf"))
      .orderBy(desc("tf"), asc("token")).limit(LmTopV)
      .collect().toSeq.map(r => (r.getString(0), r.getLong(1)))
    val tfMap =
      if (vocab.isEmpty) map_from_arrays(
        array().cast("array<string>"), array().cast("array<bigint>"))
      else map_from_arrays(
        array(vocab.map(v => lit(v._1)): _*),
        array(vocab.map(v => lit(v._2)): _*))
    val total = docs.agg(sum(size(wf)).cast("long").as("total"))
    val nllSum = aggregate(col("w"), lit(0.0), (acc, t) =>
      acc - log(coalesce(element_at(tfMap, t), lit(1L)).cast("double") /
        col("total")))
    docs
      .select(col("doc_id"), wf.as("w"))
      .crossJoin(broadcast(total))
      .filter(size(col("w")) >= 1)
      .select(col("doc_id"), size(col("w")).cast("long").as("n_tokens"),
        (nllSum / size(col("w"))).as("nll0"))
      .select(col("doc_id"), col("n_tokens"),
        round(col("nll0"), 6).as("nll"),
        round(exp(col("nll0")), 6).as("ppl"))
      .orderBy("doc_id")
  }

  /** Keywords kept per document by q97. */
  val TfidfTopK = 3

  /** q97 — per-document TF-IDF keywords: the top-[[TfidfTopK]] terms of
    * every document by `tf · ln((N+1)/(df+1))` (smoothed IDF), the
    * keyword-extraction primitive behind corpus topic audits, doc-level
    * metadata enrichment, and weak labels for retrieval eval sets. The
    * corpus-wide df statistic composes the q53 vocabulary discipline;
    * where q55 scores a FIXED query term set with zero corpus shuffles,
    * keyword extraction is per-document over the OPEN vocabulary, so the
    * (doc, term) relation is irreducible.
    *
    * Scale shape: explode → (doc_id, token) two-phase count (one corpus
    * shuffle, combine-heavy since tf rides map-side partials); df
    * derives from the SAME tf relation (token-keyed aggregate bounded by
    * vocabulary, not corpus); the df join-back shuffles the tf relation
    * by token, and the per-doc top-k is a doc-keyed row_number window —
    * the textbook two-shuffle TF-IDF plan. Scores round(·,9) to absorb
    * libm ulp drift in `ln` between engines (the q55 discipline), and
    * ranking orders by the ROUNDED score so tie-breaks are
    * engine-independent.
    */
  def tfidfKeywords(spark: SparkSession, dir: String): DataFrame =
    tfidfKeywordsFrom(Tables.documents(spark, dir))

  def tfidfKeywordsFrom(docs: DataFrame): DataFrame = {
    val tf = docs
      .select(col("doc_id"), explode(TextFns.toks(col("text"))).as("token"))
      .filter(col("token") =!= "")
      .groupBy("doc_id", "token")
      .agg(count(lit(1)).as("tf"))
    val dfRel = tf.groupBy("token").agg(count(lit(1)).as("df"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val scored = tf.join(dfRel, "token")
      .crossJoin(broadcast(nDocs))
      .withColumn("tfidf", round(col("tf") *
        log((col("n_docs") + lit(1)).cast("double") /
          (col("df") + lit(1)).cast("double")), 9))
    val w = Window.partitionBy("doc_id").orderBy(desc("tfidf"), asc("token"))
    scored
      .withColumn("rank", row_number().over(w).cast("int"))
      .filter(col("rank") <= TfidfTopK)
      .select("doc_id", "rank", "token", "tf", "df", "tfidf")
      .orderBy("doc_id", "rank")
  }

  /** BM25 parameters (standard Okapi constants) and the fixed query. */
  val Bm25K1 = 1.2
  val Bm25B = 0.75
  val Bm25TopK = 20
  val Bm25Query: Seq[String] = Seq("spark", "join", "vector", "customer")

  /** q55 — BM25 ranked retrieval for a fixed query-term set (Okapi
    * BM25, Lucene's non-negative idf variant): the scored keyword
    * search a corpus pipeline runs for curation audits and eval-set
    * mining.
    *
    * Scale shape — ZERO corpus shuffles for a fixed small term set:
    * instead of the textbook explode → (doc_id, term) aggregate →
    * per-term df join (two corpus-sized shuffles), each term's tf is a
    * map-side array-filter column, the corpus stats (N, Σdl, per-term
    * df) are ONE single-row aggregate (tree-reduced partials) broadcast
    * back with a cross join, the score is a fixed-order arithmetic
    * expression (no FP reorder nondeterminism), and the top-k lowers to
    * TakeOrderedAndProject. One pass over `text`, nothing keyed by doc
    * ever crosses the wire.
    */
  def bm25Search(spark: SparkSession, dir: String): DataFrame =
    bm25SearchFrom(Tables.documents(spark, dir))

  def bm25SearchFrom(docs: DataFrame): DataFrame = {
    val w = TextFns.toks(col("text"))
    val tfCols = Bm25Query.zipWithIndex.map { case (t, i) =>
      size(filter(w, x => x === t)).as(s"tf$i")
    }
    // checkpointed (r12-opt): the corpus stats aggregate and the
    // scoring pass both consume the per-doc tf relation — without it
    // the tokenize+per-term filter kernel runs twice; the relation is
    // (doc_id, dl, tf per query term), narrow at any corpus size
    val perDoc = docs.select(col("doc_id") +: size(w).as("dl") +: tfCols: _*)
      .localCheckpoint()
    val dfAggs = Bm25Query.indices.map(i =>
      sum(when(col(s"tf$i") > 0, 1L).otherwise(0L)).as(s"df$i"))
    val stats = perDoc.agg(count(lit(1)).as("n_docs"),
      sum("dl").as("sum_dl") +: dfAggs: _*)

    val scored = perDoc.crossJoin(broadcast(stats))
    // identical op order to the oracle text: dl normalization first,
    // then the tf saturation, then idf — round(·,9) absorbs libm-ulp
    // drift in ln between engines
    val lenNorm = col("dl").cast("double") * col("n_docs") / col("sum_dl")
    def termScore(i: Int): Column = {
      val tf = col(s"tf$i").cast("double")
      val idf = log((col("n_docs") - col(s"df$i") + 0.5) / (col(s"df$i") + 0.5) + 1.0)
      when(col(s"tf$i") > 0,
        idf * (tf * (Bm25K1 + 1.0)) /
          (tf + lit(Bm25K1) * (lit(1.0 - Bm25B) + lit(Bm25B) * lenNorm)))
        .otherwise(lit(0.0))
    }
    val total = Bm25Query.indices.map(termScore).reduce(_ + _)
    val nTerms = Bm25Query.indices
      .map(i => when(col(s"tf$i") > 0, 1L).otherwise(0L)).reduce(_ + _)
    scored
      .select(col("doc_id"), round(total, 9).as("bm25"), nTerms.as("n_terms"))
      .where(col("n_terms") > 0)
      .orderBy(desc("bm25"), asc("doc_id"))
      .limit(Bm25TopK)
  }

  /** q245 rank-discount weights: round(1/log2(i+1), 9) as fixed
    * DECIMAL(12,9) literals — the discounts are CONSTANTS of the rank,
    * so baking them keeps the whole DCG sum exact decimal arithmetic
    * with no runtime ln anywhere near the gate.
    */
  private[operators] val NdcgW: IndexedSeq[java.math.BigDecimal] =
    (1 to Bm25TopK).map { i =>
      new java.math.BigDecimal(1.0 / (math.log(i + 1.0) / math.log(2.0)))
        .setScale(9, java.math.RoundingMode.HALF_UP)
    }

  /** q245 — retrieval-quality eval of the q55 BM25 ranker: nDCG@k
    * against occurrence-graded relevance (rel(d) = total query-term
    * occurrences in d — the exact quantity BM25's saturation+idf
    * deliberately re-weights, so the metric measures what the ranker
    * CHANGES about raw frequency ordering) plus the overlap between
    * the returned and ideal top-k sets. The eval harness every ranking
    * change ships with: q55 produces the list, this scores it.
    *
    * Determinism: relevance grades are exact integers; rank discounts
    * are fixed DECIMAL(12,9) literals ([[NdcgW]]), so DCG and IDCG are
    * exact decimal dot products; the one division rounds 6. MRR is
    * omitted deliberately — q55 only returns docs containing a query
    * term, so first-relevant-rank is identically 1 (a vacuous column,
    * the q191 lesson).
    *
    * Scale shape: relevance is the q55 map-side array-filter pass;
    * both top-k lists lower to TakeOrderedAndProject; everything after
    * is k-row algebra (the rank windows order ≤k-row relations).
    */
  def bm25Ndcg(spark: SparkSession, dir: String): DataFrame =
    bm25NdcgFrom(Tables.documents(spark, dir))

  def bm25NdcgFrom(docs: DataFrame): DataFrame = {
    val w = TextFns.toks(col("text"))
    val rel = docs.select(col("doc_id"),
      Bm25Query.map(t => size(filter(w, x => x === t)))
        .reduce(_ + _).cast("long").as("rel"))
    val wCol = element_at(
      array(NdcgW.map(d => lit(d).cast("decimal(12,9)")): _*), col("rank"))
    val ret = bm25SearchFrom(docs)
      .select(col("doc_id"), row_number().over(
        Window.orderBy(desc("bm25"), asc("doc_id"))).cast("int").as("rank"))
    val retScored = ret.join(rel, "doc_id")
      .agg(sum(col("rel").cast("decimal(10,0)") * wCol).as("dcg_d"),
        count(lit(1)).as("n_returned"))
    val ideal = rel.filter(col("rel") > 0)
      .orderBy(desc("rel"), asc("doc_id")).limit(Bm25TopK)
      .select(col("doc_id"), col("rel"), row_number().over(
        Window.orderBy(desc("rel"), asc("doc_id"))).cast("int").as("rank"))
    val idealScored = ideal
      .agg(sum(col("rel").cast("decimal(10,0)") * wCol).as("idcg_d"))
    val overlap = ret.join(ideal.select("doc_id"), "doc_id")
      .agg(count(lit(1)).as("n_overlap"))
    retScored.crossJoin(broadcast(idealScored))
      .crossJoin(broadcast(overlap))
      .select(lit(Bm25TopK).as("k"), col("n_returned"),
        round(col("dcg_d").cast("double"), 6).as("dcg"),
        round(col("idcg_d").cast("double"), 6).as("idcg"),
        round(col("dcg_d").cast("double") /
          nullIfZero(col("idcg_d").cast("double")), 6).as("ndcg"),
        col("n_overlap"))
  }

  /** Vocabulary size for the q68 distribution audit (top tokens by
    * corpus count; everything else is the OOV bucket).
    */
  val KlTopV = 16

  /** q68 — per-source token-distribution drift: KL(source ‖ corpus)
    * over the top-[[KlTopV]] corpus vocabulary plus an out-of-vocabulary
    * bucket — the audit that surfaces a crawl source whose language
    * suddenly shifts (spam injection, template change, wrong-language
    * feed) before it pollutes training mixes.
    *
    * Scale shape (the q55/q57 discipline): the vocabulary is collected
    * once (V rows, model constant) and re-enters as literals; per-term
    * source counts are map-side array-filter columns riding ONE
    * source-keyed aggregate (reduce side = |sources|, not corpus);
    * corpus totals derive from that tiny relation via a second
    * aggregate broadcast back. The KL sum is a FIXED-ORDER arithmetic
    * expression over the V+1 buckets (never a SUM over join rows, whose
    * accumulation order is engine-specific), so the score is
    * bit-reproducible and oracle-gated; `round(·,9)` absorbs libm ulp
    * drift in ln.
    */
  def sourceKl(spark: SparkSession, dir: String): DataFrame =
    sourceKlFrom(Tables.documents(spark, dir))

  def sourceKlFrom(docs: DataFrame): DataFrame = {
    val wf = filter(TextFns.toks(col("text")), t => t =!= "")
    val vocab: Seq[String] = docs
      .select(explode(wf).as("token"))
      .groupBy("token").agg(count(lit(1)).as("tf"))
      .orderBy(desc("tf"), asc("token")).limit(KlTopV)
      .collect().toSeq.map(_.getString(0))
    val tfCols = vocab.zipWithIndex.map { case (t, i) =>
      sum(size(filter(col("w"), x => x === t)).cast("long")).as(s"tf$i")
    }
    val perSource = docs
      .select(col("source"), wf.as("w"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(size(col("w")).cast("long")).as("n_tokens") +: tfCols: _*)
    val totals = perSource.agg(
      sum("n_tokens").as("tot_tokens"),
      vocab.indices.map(i => sum(col(s"tf$i")).as(s"ctf$i")): _*)
    val j = perSource.crossJoin(broadcast(totals))
    // fixed-order KL: vocab buckets in vocab order, then the OOV bucket
    def term(p: Column, q: Column): Column =
      when(p > 0, p * log(p / q)).otherwise(lit(0.0))
    // folds (not reduce) so an empty vocabulary — an empty or all-blank
    // corpus — degenerates to the OOV-only term instead of throwing;
    // the leading identity is exact (0 + x ≡ x for ints; 0.0 + t ≡ t
    // for the terms, which are never -0.0), so the oracle's plain
    // t0 + t1 + … text stays bit-equal
    // nullIfZero: a zero-token source (or corpus) must yield a null p
    // — the `when(p > 0)` terms then fall to 0.0 — instead of an ANSI
    // divide-by-zero error
    val nTok = nullIfZero(col("n_tokens"))
    val totTok = nullIfZero(col("tot_tokens"))
    val pOov = (col("n_tokens") - vocab.indices.map(i => col(s"tf$i"))
      .foldLeft(lit(0L): Column)(_ + _)).cast("double") / nTok
    val qOov = (col("tot_tokens") - vocab.indices.map(i => col(s"ctf$i"))
      .foldLeft(lit(0L): Column)(_ + _)).cast("double") / totTok
    val kl = vocab.indices.map { i =>
      term(col(s"tf$i").cast("double") / nTok,
        col(s"ctf$i").cast("double") / totTok)
    }.foldLeft(lit(0.0): Column)(_ + _) + term(pOov, qOov)
    j.select(col("source"), col("n_docs"), col("n_tokens"),
        round(kl, 9).as("kl"))
      .orderBy("source")
  }

  /** Merge-pair rows kept by q69. */
  val BpeTopK = 20

  /** Merge rounds trained by q198. */
  val BpeMerges = 8

  /** q198 — BPE TOKENIZER TRAINING (the full iterative loop q69's
    * single pair count is the inner step of): [[BpeMerges]] greedy
    * merge rounds over the corpus's word-frequency table, each round
    * (1) counting adjacent symbol pairs weighted by word frequency,
    * (2) picking the argmax (count DESC, pair ASC — fully tie-broken),
    * (3) merging every non-overlapping occurrence left-to-right. The
    * output IS the tokenizer model: the ordered merge table
    * (merge_round, pair, merged, n).
    *
    * Symbol sequences ride a BRACKETED-STRING encoding (`low` →
    * `<l><o><w>`): adjacent pairs fall out of two non-overlapping
    * `regexp_extract_all` passes (one phase-shifted by stripping the
    * first symbol), and the merge is ONE literal `replace` — whose
    * left-to-right non-overlapping semantics, identical in Spark and
    * DuckDB, are exactly BPE's merge rule (`<a><a><a>` under (a,a) →
    * `<aa><a>`, never `<a><aa>`). No UDF, no array lambda, no
    * per-engine list dialect — the whole loop is portable string
    * algebra, so the oracle runs the SAME unrolled rounds.
    *
    * Scale shape: ONE corpus pass builds the word-frequency table
    * (map-side combine; BPE trains on the vocabulary, not the corpus —
    * the classic Sennrich formulation); every round is then
    * vocabulary-bounded (pair aggregate + one driver-side argmax row,
    * the q61 Lloyd contract) and the merge is a narrow map. All counts
    * integer end to end.
    */
  def bpeTrain(spark: SparkSession, dir: String): DataFrame =
    bpeTrainFrom(Tables.documents(spark, dir))

  def bpeTrainFrom(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    bpeMergesOf(docs)
      .toDF("merge_round", "pair", "merged", "n")
      .orderBy("merge_round")
  }

  /** Memoized merge tables per (session, corpus content fingerprint):
    * q198 trains and q200 re-applies the SAME table in one session, so
    * a hit replaces the full [[BpeMerges]]-round training loop with one
    * fingerprint aggregate. Content-keyed (count + xxhash64/length
    * sums — the [[graft.sources.Materialize.stampOf]] staleness
    * discipline at DataFrame grain), so a regenerated corpus at the
    * same path misses instead of serving stale merges.
    */
  private val bpeMergeCache = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String), Seq[(Int, String, String, Long)]]()

  /** The trained merge table as a driver-side list (model-scale —
    * [[BpeMerges]] rows): the q198 loop factored out so q200 can APPLY
    * the same merges without re-spelling the training. Memoized via
    * [[bpeMergeCache]].
    */
  def bpeMergesOf(docs: DataFrame): Seq[(Int, String, String, Long)] = {
    val spark = docs.sparkSession
    // DECIMAL(38,0) accumulator: a Long sum of 2^63-range hashes
    // overflows under ANSI mode
    val fp = docs
      .agg(count(lit(1)).cast("string"),
        coalesce(sum(xxhash64(col("text")).cast("decimal(38,0)")), lit(0L))
          .cast("string"),
        coalesce(sum(length(col("text")).cast("long")), lit(0L)).cast("string"))
      .collect()(0).toSeq.mkString("|")
    bpeMergeCache.computeIfAbsent((spark, fp), _ => bpeMergesTrain(docs))
  }

  private def bpeMergesTrain(docs: DataFrame): Seq[(Int, String, String, Long)] = {
    val spark = docs.sparkSession
    import spark.implicits._
    val pairRe = lit("<[^>]*><[^>]*>")
    val vocab0 = docs
      .select(explode(TextFns.toks(col("text"))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("wcnt"))
      .select(regexp_replace(col("word"), "(.)", "<$1>").as("seq"),
        col("wcnt"))
      .localCheckpoint()
    var vocab = vocab0
    val merges = Seq.newBuilder[(Int, String, String, Long)]
    var round = 1
    var exhausted = false
    while (round <= BpeMerges && !exhausted) {
      val odd = vocab.select(
        explode(regexp_extract_all(col("seq"), pairRe, lit(0))).as("pr"),
        col("wcnt"))
      val even = vocab.select(
        explode(regexp_extract_all(
          regexp_replace(col("seq"), "^<[^>]*>", ""), pairRe, lit(0))).as("pr"),
        col("wcnt"))
      // model-scale argmax row to the driver (the q61 Lloyd contract)
      val best = odd.unionByName(even)
        .groupBy("pr").agg(sum("wcnt").as("n"))
        .orderBy(desc("n"), asc("pr")).limit(1).collect()
      if (best.isEmpty) exhausted = true
      else {
        val pr = best(0).getString(0)
        val merged = "<" + pr.replace("<", "").replace(">", "") + ">"
        merges += ((round, pr, merged, best(0).getLong(1)))
        vocab = vocab.select(
          replace(col("seq"), lit(pr), lit(merged)).as("seq"), col("wcnt"))
        round += 1
      }
    }
    merges.result()
  }

  /** q200 — BPE TOKENIZER APPLICATION (the inference half of q198's
    * training): apply the trained merge table, in merge order, to every
    * corpus word and report per-language tokenizer FERTILITY — the
    * chars-per-token / tokens-per-word numbers a training-data pipeline
    * checks before committing to a tokenizer (a language the merges
    * under-serve shows low chars-per-token, i.e. more tokens for the
    * same text, inflating its effective training cost).
    *
    * Application rides the q198 bracketed-string algebra: each word's
    * `<c><h><a><r>` encoding goes through the [[BpeMerges]] literal
    * `replace` calls IN MERGE ORDER (a fixed chain of narrow codegen'd
    * string ops — BPE inference is priority-ordered merging, exactly
    * left-to-right non-overlapping `replace`), and the surviving token
    * count is the number of `<` openers left.
    *
    * Scale shape: tokenization runs on the (lang, word)-grain count
    * relation, NOT the corpus — the classic vocabulary trick (apply the
    * tokenizer to each distinct word once, weight by frequency); one
    * explode + one combine-heavy aggregate bounded by |lang|·|vocab|,
    * then the merge chain as a narrow map and a |lang|-bounded rollup.
    * All counts integer; the two fertility ratios are single exact
    * divisions rounded 9 dp.
    */
  def bpeTokenize(spark: SparkSession, dir: String): DataFrame =
    bpeTokenizeFrom(Tables.documents(spark, dir))

  def bpeTokenizeFrom(docs: DataFrame): DataFrame = {
    val merges = bpeMergesOf(docs)
    val wcnt = docs
      .select(col("lang"), explode(TextFns.toks(col("text"))).as("word"))
      .filter(col("word") =!= "")
      .groupBy("lang", "word").agg(count(lit(1)).as("n"))
    val seq0 = regexp_replace(col("word"), "(.)", "<$1>")
    val applied = merges.foldLeft(seq0) { case (s, (_, pr, m, _)) =>
      replace(s, lit(pr), lit(m))
    }
    wcnt
      .select(col("lang"), col("n"), length(col("word")).as("n_chars"),
        (length(applied) - length(replace(applied, lit("<"), lit("")))).as("n_toks"))
      .groupBy("lang")
      .agg(sum("n").as("n_words"),
        sum(col("n") * col("n_chars")).as("n_chars"),
        sum(col("n") * col("n_toks")).as("n_tokens"))
      .select(col("lang"), col("n_words"), col("n_chars"), col("n_tokens"),
        round(col("n_chars").cast("double") / col("n_tokens"), 9)
          .as("chars_per_token"),
        round(col("n_tokens").cast("double") / col("n_words"), 9)
          .as("tokens_per_word"))
      .orderBy("lang")
  }

  /** q69 — BPE merge-pair counting (the inner loop of byte-pair-
    * encoding tokenizer training): count every adjacent character pair
    * inside whitespace tokens across the corpus and rank the top
    * merge candidates — iteration 1 of BPE training, the step that is
    * corpus-scale (subsequent merges work on the extracted pair/word
    * tables).
    *
    * Scale shape: pair extraction is pure map work (nested array
    * transform inside codegen, one explode); the count is a two-phase
    * hash aggregate whose reduce side is bounded by the PAIR-ALPHABET
    * cardinality (≤ charset², a model constant), not corpus size; the
    * top-k lowers to TakeOrderedAndProject.
    */
  def bpePairs(spark: SparkSession, dir: String): DataFrame =
    bpePairsFrom(Tables.documents(spark, dir))

  def bpePairsFrom(docs: DataFrame): DataFrame = {
    val w = TextFns.toks(col("text"))
    val pairsOfWord = (t: Column) =>
      when(length(t) < 2, array().cast("array<string>"))
        .otherwise(transform(sequence(lit(1), length(t) - 1),
          i => substring(t, i, lit(2))))
    docs
      .select(explode(flatten(transform(w, pairsOfWord))).as("pair"))
      .groupBy("pair")
      .agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), asc("pair"))
      .limit(BpeTopK)
  }

  /** Vocabulary ranks fitted by the q205 Zipf regression. */
  val ZipfTopV = 100

  /** q205 — ZIPF rank-frequency audit per source: fit
    * `ln f = a + b·ln r` by least squares over each source's top-
    * [[ZipfTopV]] token ranks and report the slope. Natural text sits
    * near the Zipf ideal b ≈ −1; a source whose slope collapses toward
    * 0 (flat — machine-generated id soup, base64 blobs) or dives steep
    * (template spam repeating a tiny vocabulary) is flagged by
    * `zipf_dev = |b + 1|` before it pollutes a training mix — the
    * corpus-linguistics twin of q68's KL drift (distribution vs shape).
    *
    * Determinism: ranks are integer row_numbers fully tie-broken
    * (count DESC, token ASC); the regression moments are double sums of
    * ~[[ZipfTopV]] ln-scale terms whose error (≤ 1e-12 relative) sits
    * four orders below the round-6 gate (the q57 avg discipline).
    *
    * Scale shape: per-source token counts are one combine-heavy
    * aggregate bounded by |sources|·vocab; the rank window partitions
    * by source over that model-sized relation (map-side
    * WindowGroupLimit prunes to top-V per source); the regression is a
    * |sources|-bounded rollup. The corpus is touched once.
    */
  def zipfSlope(spark: SparkSession, dir: String): DataFrame =
    zipfSlopeFrom(Tables.documents(spark, dir))

  def zipfSlopeFrom(docs: DataFrame): DataFrame = {
    val cnt = docs
      .select(col("source"), explode(TextFns.toks(col("text"))).as("t"))
      .filter(col("t") =!= "")
      .groupBy("source", "t").agg(count(lit(1)).as("c"))
    val w = Window.partitionBy("source").orderBy(desc("c"), asc("t"))
    val ranked = cnt
      .withColumn("r", row_number().over(w))
      .filter(col("r") <= ZipfTopV)
      .select(col("source"), log(col("r").cast("double")).as("x"),
        log(col("c").cast("double")).as("y"))
    ranked.groupBy("source")
      .agg(count(lit(1)).as("v_used"), sum("x").as("sx"), sum("y").as("sy"),
        sum(col("x") * col("x")).as("sxx"), sum(col("x") * col("y")).as("sxy"))
      .select(col("source"), col("v_used"),
        ((col("v_used") * col("sxy") - col("sx") * col("sy")) /
          (col("v_used") * col("sxx") - col("sx") * col("sx"))).as("b"))
      .select(col("source"), col("v_used"), round(col("b"), 6).as("slope"),
        round(abs(col("b") + 1.0), 6).as("zipf_dev"))
      .orderBy("source")
  }

  /** q206 — character-level ENTROPY per source: Shannon entropy (nats)
    * of each source's character distribution, with the distinct-char
    * count alongside. Natural language sits in a narrow entropy band;
    * base64/hex blobs run hot (near-uniform bytes), template spam runs
    * cold (a few characters dominate) — the cheapest pre-filter a crawl
    * pipeline runs before tokenization, catching mojibake and binary
    * junk that token-level audits (q18/q19) never see because the
    * tokenizer already mangled it.
    *
    * Determinism: character counts are exact integers; each entropy
    * term is one division + one `ln` (libm, absorbed by round 6) and
    * the sum spans ≤ |charset| terms (the q57 avg discipline).
    *
    * Scale shape: the per-character explode is map work feeding one
    * combine-heavy aggregate bounded by |sources|·|charset| (a model
    * constant — the reduce side never sees corpus scale); the entropy
    * rollup is |sources|-bounded. One corpus pass.
    */
  def charEntropy(spark: SparkSession, dir: String): DataFrame =
    charEntropyFrom(Tables.documents(spark, dir))

  def charEntropyFrom(docs: DataFrame): DataFrame = {
    val cnt = docs
      .select(col("source"), explode(split(col("text"), "")).as("ch"))
      .filter(col("ch") =!= "")
      .groupBy("source", "ch").agg(count(lit(1)).as("c"))
    val tot = cnt.groupBy("source").agg(sum("c").as("n_chars"))
    cnt.join(tot, Seq("source"))
      .select(col("source"), col("n_chars"), col("c"),
        (-(col("c") / col("n_chars")) * log(col("c") / col("n_chars")))
          .as("term"))
      .groupBy("source")
      .agg(max("n_chars").as("n_chars"), count(lit(1)).as("n_distinct_chars"),
        round(sum("term"), 6).as("entropy_nats"))
      .orderBy("source")
  }

  /** q203 bigram-table prune: transitions observed fewer times train
    * nothing (the hapax mass a real LM prunes before shipping), so the
    * bigram model keeps counts ≥ this floor and scoring falls back to
    * the unigram term below it.
    */
  val BigramMin = 2L

  /** q203 interpolation weight on the bigram MLE term. */
  val LmLambda = 0.75

  /** q203/q209 head sizes for the scoring-join discipline (parameters
    * of the `…From` cores, so the specs, a Zipf corpus among them, can
    * force both paths): the top-V unigrams / top-B bigrams BY COUNT are
    * broadcast — true model constants — and only transitions the heads
    * cannot resolve ride a shuffle join, whose keys are rare by
    * construction (a token outside the top-V head has count below the
    * head floor, so no reducer can own more than that many probe rows
    * per key).
    */
  val LmHeadV = 32768
  val LmHeadB = 262144

  /** Shared q203/q209 scoring-join kernel: annotate the corpus-scale
    * transition relation `docBi(doc_id, x, y)` with `c_xy`, `c_x`,
    * `c_y` from the (possibly Heaps-law-large) count tables WITHOUT
    * ever shuffling a hot token key.
    *
    * Discipline: broadcast the top-B bigrams and top-V unigrams (by
    * count, token tie-break — deterministic, and routing-only: any
    * head choice yields the same values). Probe all three heads
    * map-side; transitions fully resolved by the heads — the vast
    * majority of transition MASS, since frequent bigrams are by
    * definition where the occurrences are — never reach an exchange.
    * The unresolved remainder shuffle-joins the full tables: its
    * bigram keys are sub-head-rare, and a cold row whose UNIGRAM was
    * already head-resolved (e.g. "the" followed by a rare word — the
    * Zipf straggler key) probes with a doc-salted sentinel key that
    * cannot match and spreads over the shuffle instead of stacking on
    * one reducer. Count tables are localCheckpointed (model-scale
    * state, the q140/q197 pattern) so their corpus-scale aggregates
    * run once; the transition relation itself is recomputed by the
    * hot and cold branches — two map-only corpus passes, no
    * corpus-scale state. Callers pass uni/biCnt ALREADY
    * localCheckpointed (they also feed the totals row).
    */
  private def lmScoredCounts(docBi: DataFrame, uni: DataFrame,
      biCnt: DataFrame, headV: Int, headB: Int): DataFrame = {
    val uniHead = uni.orderBy(col("c").desc, col("t")).limit(headV)
    val biHead = biCnt.orderBy(col("c_xy").desc, col("x"), col("y"))
      .limit(headB)
    val probed = docBi
      .join(broadcast(biHead.withColumnRenamed("c_xy", "c_xy_h")),
        Seq("x", "y"), "left")
      .join(broadcast(uniHead.select(col("t").as("x"), col("c").as("c_x_h"))),
        Seq("x"), "left")
      .join(broadcast(uniHead.select(col("t").as("y"), col("c").as("c_y_h"))),
        Seq("y"), "left")
    val hotPred = col("c_xy_h").isNotNull && col("c_x_h").isNotNull &&
      col("c_y_h").isNotNull
    val hot = probed.filter(hotPred).select(col("doc_id"),
      col("c_xy_h").as("c_xy"), col("c_x_h").as("c_x"), col("c_y_h").as("c_y"))
    // sentinel probe key for head-resolved columns: NUL + salt is no
    // real token (tokens are \w+/punct), so it never matches; the salt
    // spreads the no-op rows across the exchange
    val salt = pmod(xxhash64(col("doc_id"), col("x"), col("y")), lit(64))
      .cast("string")
    def tailKey(headVal: Column, k: Column): Column =
      when(headVal.isNull, k).otherwise(concat(lit("\u0000"), salt))
    val biT = biCnt.select(col("x").as("bx"), col("y").as("by"),
      col("c_xy").as("c_xy_t"))
    val uxT = uni.select(col("t").as("tx"), col("c").as("c_x_t"))
    val uyT = uni.select(col("t").as("ty"), col("c").as("c_y_t"))
    val cold = probed.filter(!hotPred)
      .join(biT, tailKey(col("c_xy_h"), col("x")) === col("bx") &&
        col("y") === col("by"), "left")
      .join(uxT, tailKey(col("c_x_h"), col("x")) === col("tx"), "left")
      .join(uyT, tailKey(col("c_y_h"), col("y")) === col("ty"), "left")
      .select(col("doc_id"),
        coalesce(col("c_xy_h"), col("c_xy_t")).as("c_xy"),
        coalesce(col("c_x_h"), col("c_x_t")).as("c_x"),
        coalesce(col("c_y_h"), col("c_y_t")).as("c_y"))
    hot.unionByName(cold)
  }

  /** q203 — INTERPOLATED BIGRAM LM scoring (the conditional-probability
    * step up from q57's unigram perplexity): train unigram + pruned
    * bigram tables on the corpus, then score every document's token
    * transitions with `λ·P(y|x) + (1−λ)·P(y)` — Jelinek-Mercer
    * interpolation, the smoothing that lets a pruned/unseen transition
    * fall back to the unigram floor instead of −∞. The perplexity
    * filter a CCNet-style curation pipeline runs (theirs is a 5-gram
    * KenLM; the in-engine analogue is the 2-gram with the same
    * interpolation algebra), surfacing word-salad documents whose
    * unigrams look fine but whose TRANSITIONS are noise.
    *
    * Determinism (the q57 discipline): probabilities are single exact
    * divisions of integer counts in a fixed left-associative chain
    * mirrored token-for-token in the oracle; `ln`/`exp` are libm,
    * absorbed by round 6 on the per-doc mean.
    *
    * Scale shape: bigram extraction is one explode pass (map work); the
    * count tables are combine-heavy aggregates over the observed,
    * [[BigramMin]]-pruned vocabulary — which under Heaps' law still
    * grows with the corpus (billions of observed bigrams for web text),
    * so scoring does NOT assume they broadcast whole. Instead the
    * [[lmScoredCounts]] discipline broadcasts only the top-V/top-B
    * HEADS (true model constants carrying the vast majority of
    * transition mass) and shuffle-joins the residual on keys that are
    * rare by construction — no Zipf-hot token ever keys an exchange.
    * The per-doc rollup rides one doc-keyed aggregate. Docs with fewer
    * than 2 tokens have no transitions and are absent, like every LM
    * scorer.
    */
  def bigramLm(spark: SparkSession, dir: String): DataFrame =
    bigramLmFrom(Tables.documents(spark, dir))

  def bigramLmFrom(docs: DataFrame, headV: Int = LmHeadV,
      headB: Int = LmHeadB): DataFrame = {
    val w = TextFns.toks(col("text"))
    val tk = docs.select(col("doc_id"), w.as("w"))
    val uni = tk.select(explode(col("w")).as("t")).filter(col("t") =!= "")
      .groupBy("t").agg(count(lit(1)).as("c"))
      .localCheckpoint()
    val total = uni.agg(sum("c").as("n_total"))
    val docBi = tk.filter(size(col("w")) >= 2)
      .select(col("doc_id"),
        explode(sequence(lit(1), size(col("w")) - 1)).as("i"), col("w"))
      .select(col("doc_id"), element_at(col("w"), col("i")).as("x"),
        element_at(col("w"), col("i") + 1).as("y"))
      .filter(col("x") =!= "" && col("y") =!= "")
    val biCnt = docBi.groupBy("x", "y").agg(count(lit(1)).as("c_xy"))
      .filter(col("c_xy") >= BigramMin)
      .localCheckpoint()
    val p = lit(LmLambda) * coalesce(col("c_xy"), lit(0L)) / col("c_x") +
      lit(1.0 - LmLambda) * col("c_y") / col("n_total")
    lmScoredCounts(docBi, uni, biCnt, headV, headB)
      .crossJoin(broadcast(total))
      .select(col("doc_id"), (-log(p)).as("nll"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), round(avg("nll"), 6).as("nll"),
        round(exp(avg("nll")), 6).as("ppl"))
      .orderBy("doc_id")
  }

  /** q209 — HELD-OUT perplexity (the evaluation-hygiene composition of
    * q45's hash split and q203's interpolated bigram LM): the LM trains
    * ONLY on `train`-bucket documents and scores ONLY `val`-bucket
    * documents — the protocol that makes a perplexity number mean
    * generalization instead of memorization (q203 scores the corpus
    * under itself, the curation-filter use; this is the model-eval
    * use, and the split rule is BYTE-IDENTICAL to q45's
    * `md5("split|"+doc_id) mod 100`, so the split ledger and the eval
    * protocol can never disagree about which side a document is on).
    * Held-out scoring forces real smoothing: val tokens unseen in
    * train get the Laplace unigram floor `(c+1)/(N+V)` (q203's
    * train-on-self setup never hits OOV; this does), and an unseen
    * bigram CONTEXT zeroes the bigram term entirely.
    *
    * Determinism: the q203 discipline — integer-count divisions in a
    * fixed left-associative chain mirrored token-for-token, ln/exp
    * absorbed by round 6 on the per-doc mean.
    *
    * Scale shape: q203's — count tables are train-side aggregates
    * (Heaps-law-growing, so scoring rides the same [[lmScoredCounts]]
    * head-broadcast / rare-tail-shuffle discipline), one doc-keyed
    * rollup; the split filter is a map-side predicate on both passes.
    */
  def heldoutPpl(spark: SparkSession, dir: String): DataFrame =
    heldoutPplFrom(Tables.documents(spark, dir))

  def heldoutPplFrom(docs: DataFrame, headV: Int = LmHeadV,
      headB: Int = LmHeadB): DataFrame = {
    val bucket = TextFns.hash32(
      concat(lit("split|"), col("doc_id").cast("string"))) % 100
    // the q203 tk discipline: materialize the token array ONCE per doc
    // before any size/explode/element_at consumer — a fresh toks
    // expression inside each filter re-runs the regex tokenizer per
    // consumer (measured 4× on this query's one-file scan stage)
    def tkOf(d: DataFrame) = d.select(col("doc_id"),
      TextFns.toks(col("text")).as("w"))
    val trainTk = tkOf(docs.filter(bucket < Curation.TrainPct))
    val valTk = tkOf(docs.filter(bucket >= Curation.TrainPct &&
      bucket < Curation.ValPct))
    def uniOf(tk: DataFrame) = tk.select(explode(col("w")).as("t"))
      .filter(col("t") =!= "").groupBy("t").agg(count(lit(1)).as("c"))
    def biOf(tk: DataFrame) = tk.filter(size(col("w")) >= 2)
      .select(col("doc_id"),
        explode(sequence(lit(1), size(col("w")) - 1)).as("i"), col("w"))
      .select(col("doc_id"), element_at(col("w"), col("i")).as("x"),
        element_at(col("w"), col("i") + 1).as("y"))
      .filter(col("x") =!= "" && col("y") =!= "")
    val uni = uniOf(trainTk).localCheckpoint()
    val stats = uni.agg(sum("c").as("n_total"),
      count(lit(1)).as("v_size"))
    val biCnt = biOf(trainTk)
      .groupBy("x", "y").agg(count(lit(1)).as("c_xy"))
      .filter(col("c_xy") >= BigramMin)
      .localCheckpoint()
    val docBi = biOf(valTk)
    // unseen context (c_x null) nulls the bigram term → coalesce to 0;
    // the Laplace floor keeps every probability positive
    val p = coalesce(
      lit(LmLambda) * coalesce(col("c_xy"), lit(0L)) / col("c_x"),
      lit(0.0)) +
      lit(1.0 - LmLambda) * (coalesce(col("c_y"), lit(0L)) + 1L) /
        (col("n_total") + col("v_size"))
    lmScoredCounts(docBi, uni, biCnt, headV, headB)
      .crossJoin(broadcast(stats))
      .select(col("doc_id"), (-log(p)).as("nll"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), round(avg("nll"), 6).as("nll"),
        round(exp(avg("nll")), 6).as("ppl"))
      .orderBy("doc_id")
  }

  /** q166 noise floor and result size: pairs below [[CollocMin]]
    * occurrences are lift-unstable (one co-occurrence of two rare
    * tokens scores arbitrarily high), so they never rank.
    */
  val CollocMin = 5L
  val CollocTopK = 50

  /** q166 — COLLOCATION mining: the top adjacent token pairs by LIFT
    * `c_xy·N² / (M·c_x·c_y)` — the phrase-discovery pass (multi-word
    * entities, domain terms, boilerplate idioms) a tokenizer-training
    * or vocabulary-curation pipeline runs before deciding merge rules.
    * Lift is the monotone equivalent of PMI without the `ln` (libm
    * territory, the repo-wide ban): ordering by lift IS ordering by
    * PMI, and the raw ratio is the more interpretable number anyway
    * (how many times more often than independence).
    *
    * Determinism: all counts integer; lift is a FIXED left-associative
    * chain of correctly-rounded IEEE ops mirrored token-for-token in
    * the oracle (never `c_xy·N²` as an integer — that wraps 64 bits at
    * warehouse scale), rounded 9 dp, ties broken (x, y).
    *
    * Scale shape: one explode pass each for unigrams and bigrams (both
    * combine-heavy counts bounded by vocabulary, not corpus); the
    * [[CollocMin]] cut bounds the join relation BEFORE the two
    * vocab-keyed count joins; top-k lowers to TakeOrderedAndProject.
    */
  def collocations(spark: SparkSession, dir: String): DataFrame =
    collocationsFrom(Tables.documents(spark, dir))

  def collocationsFrom(docs: DataFrame): DataFrame = {
    val w = TextFns.toks(col("text"))
    val toks = docs.select(explode(w).as("t")).filter(col("t") =!= "")
    val uni = toks.groupBy("t").agg(count(lit(1)).as("c"))
    val biRel = docs.select(w.as("w")).filter(size(col("w")) >= 2)
      .select(explode(sequence(lit(1), size(col("w")) - 1)).as("i"), col("w"))
      .select(element_at(col("w"), col("i")).as("x"),
        element_at(col("w"), col("i") + 1).as("y"))
      .filter(col("x") =!= "" && col("y") =!= "")
    val totals = toks.agg(count(lit(1)).as("n_tokens"))
      .crossJoin(biRel.agg(count(lit(1)).as("n_bigrams")))
    biRel.groupBy("x", "y").agg(count(lit(1)).as("c_xy"))
      .filter(col("c_xy") >= CollocMin)
      .join(uni.select(col("t").as("x"), col("c").as("c_x")), Seq("x"))
      .join(uni.select(col("t").as("y"), col("c").as("c_y")), Seq("y"))
      .crossJoin(broadcast(totals))
      .select(col("x"), col("y"), col("c_xy"), col("c_x"), col("c_y"),
        round(col("c_xy").cast("double") * col("n_tokens") / col("c_x")
          * col("n_tokens") / col("c_y") / col("n_bigrams"), 9).as("lift"))
      .orderBy(desc("lift"), asc("x"), asc("y"))
      .limit(CollocTopK)
  }

  /** q178 keep-cut: retain docs at or above the Num/Den percentile of
    * the quality score (top 30%), compared under two policies.
    */
  val CalibKeepNum = 7
  val CalibKeepDen = 10

  /** q178 — CALIBRATED quality cut: per language, how many documents a
    * top-30% quality filter keeps under (a) one GLOBAL raw-score
    * threshold versus (b) a WITHIN-LANGUAGE percentile threshold
    * (quantile calibration). This quantifies exactly the failure q165's
    * AUC diagnoses: an English-tuned score under a global cut starves
    * low-scoring languages out of the mix, while the calibrated cut
    * keeps ~30% of every language by construction. Percentiles are
    * mid-rank exact rationals at the score level — p = (2·(st−1)+cv) /
    * (2·n) — and the keep test cross-multiplies integers (never a
    * float compare), so ties share one fate on both engines.
    *
    * Scale shape: docs fold once to the (lang, score) relation (score
    * cardinality ≤ 1e6 at 6 dp × languages); the within-language
    * cumulative rides lang-partitioned windows; the global cumulative
    * orders the score-level relation only (the q165 precedent — never
    * documents); output is languages-sized.
    */
  def calibratedCut(spark: SparkSession, dir: String): DataFrame =
    calibratedCutFrom(Tables.documents(spark, dir))

  def calibratedCutFrom(docs: DataFrame): DataFrame = {
    val scored = qualityFeatures(docs, Seq("lang"))
      .select(col("lang"), col("quality_score").as("qs"))
      .filter(col("qs").isNotNull)
    val byLS = scored.groupBy("lang", "qs").agg(count(lit(1)).as("c"))
    val wL = Window.partitionBy("lang").orderBy("qs")
      .rowsBetween(Window.unboundedPreceding, -1)
    val lang = byLS
      .withColumn("stL", coalesce(sum("c").over(wL), lit(0L)) + 1)
      .withColumn("nL", sum("c").over(Window.partitionBy("lang")))
    val wG = Window.orderBy("qs")
      .rowsBetween(Window.unboundedPreceding, -1)
    val glob = byLS.groupBy("qs").agg(sum("c").as("cg"))
      .withColumn("stG", coalesce(sum("cg").over(wG), lit(0L)) + 1)
      .crossJoin(broadcast(scored.agg(count(lit(1)).as("n_all"))))
    val j = lang.join(glob.select(col("qs"), col("stG"), col("cg"),
      col("n_all")), Seq("qs"))
    val p2L = lit(2L) * (col("stL") - 1) + col("c")
    val p2G = lit(2L) * (col("stG") - 1) + col("cg")
    def kept(p2: Column, n: Column): Column =
      sum(when(p2 * CalibKeepDen >= lit(2L * CalibKeepNum) * n,
        col("c")).otherwise(0L)).cast("long")
    j.groupBy("lang").agg(
        sum("c").cast("long").as("n_docs"),
        kept(p2G, col("n_all")).as("kept_raw"),
        kept(p2L, col("nL")).as("kept_calib"))
      .select(col("lang"), col("n_docs"), col("kept_raw"),
        col("kept_calib"),
        round(col("kept_raw").cast("double") / col("n_docs"), 9)
          .as("rate_raw"),
        round(col("kept_calib").cast("double") / col("n_docs"), 9)
          .as("rate_calib"))
      .orderBy("lang")
  }

  /** q175 template geometry: token-gram width, the document-frequency
    * threshold as an exact rational (df/n_docs ≥ Num/Den — integer
    * cross-multiplied on both engines, never a float compare), and the
    * report cap.
    */
  val BoilerGramK = 2
  val BoilerFracNum = 1
  val BoilerFracDen = 5
  val BoilerTopK = 50

  /** q175 — per-source BOILERPLATE template mining: token n-grams that
    * recur across ≥ [[BoilerFracNum]]/[[BoilerFracDen]] of a source's
    * documents — the shared headers/footers/navigation idioms a
    * crawl-curation pipeline strips BEFORE dedup and quality scoring
    * (boilerplate inflates near-dup similarity and stuffs the token
    * budget with zero-information mass). Source-scoped document
    * frequency is the discriminator: a phrase can be globally common
    * (q166's collocations) yet template-like only where one SOURCE
    * stamps it on most of its pages.
    *
    * Scale shape: one explode pass to DISTINCT per-doc grams (the
    * per-doc `array_distinct` bounds each doc's contribution to df at
    * 1); the (source, gram) count combines map-side and is bounded by
    * source-local gram vocabulary, not corpus size; per-source doc
    * counts broadcast; the top-k cut lowers to TakeOrderedAndProject.
    */
  def boilerplateTemplates(spark: SparkSession, dir: String): DataFrame =
    boilerplateTemplatesFrom(Tables.documents(spark, dir))

  /** Shared q175/q185 core: the (source, gram, df, n_docs) relation of
    * TEMPLATE grams — those at or above the df-fraction threshold
    * within their source (integer cross-multiplied).
    */
  private def sourceGramTemplates(docs: DataFrame): DataFrame = {
    val w = TextFns.toks(col("text"))
    val grams = docs.select(col("source"), w.as("w"))
      .filter(size(col("w")) >= BoilerGramK)
      .select(col("source"), explode(array_distinct(
        transform(sequence(lit(1), size(col("w")) - (BoilerGramK - 1)),
          i => concat_ws(" ", slice(col("w"), i, lit(BoilerGramK))))))
        .as("gram"))
    val srcDocs = docs.groupBy("source").agg(count(lit(1)).as("n_docs"))
    grams.groupBy("source", "gram").agg(count(lit(1)).as("df"))
      .join(broadcast(srcDocs), Seq("source"))
      .filter(col("df") * BoilerFracDen >= col("n_docs") * BoilerFracNum)
  }

  def boilerplateTemplatesFrom(docs: DataFrame): DataFrame =
    sourceGramTemplates(docs)
      .select(col("source"), col("gram"), col("df"), col("n_docs"),
        round(col("df").cast("double") / col("n_docs"), 9).as("frac"))
      .orderBy(desc("df"), asc("source"), asc("gram"))
      .limit(BoilerTopK)

  /** q185 — a gram must be template-frequent in at least this many
    * sources to count as syndicated.
    */
  val SyndMinSources = 2

  /** q185 — cross-source SYNDICATION detector: grams that are
    * template-frequent (q175's integer-cross-multiplied df threshold)
    * in ≥ [[SyndMinSources]] DISTINCT sources — wire-service chrome,
    * content-farm templates, scraped-and-rehosted boilerplate. q175
    * finds each source's own stamp; this finds the stamp that
    * propagates ACROSS feeds, which is the strongest signal that two
    * "independent" sources share a pipeline (and that per-source
    * dedup/caps under-count the duplication between them — the gram
    * twin of q80's doc-level mirror matrix). Shares
    * [[sourceGramTemplates]] verbatim so detector and rollup cannot
    * drift.
    *
    * Scale shape: q175's bounded (source, gram) relation is the only
    * input; the gram rollup is template-vocabulary-sized; top-k lowers
    * to TakeOrderedAndProject.
    */
  def syndication(spark: SparkSession, dir: String): DataFrame =
    syndicationFrom(Tables.documents(spark, dir))

  def syndicationFrom(docs: DataFrame): DataFrame =
    sourceGramTemplates(docs)
      .groupBy("gram")
      .agg(count(lit(1)).as("n_sources"), sum("df").as("total_df"))
      .filter(col("n_sources") >= SyndMinSources)
      .orderBy(desc("n_sources"), desc("total_df"), asc("gram"))
      .limit(BoilerTopK)

  /** q62 PII-injection modulus: docs with hash mod [[PiiMod]] ∈ {0,1,2}
    * get one synthetic PII span appended (email / phone / IPv4), the
    * rest stay clean — so the driver gate exercises both the hit and
    * miss paths of every pattern.
    */
  val PiiMod = 6

  /** Shared PII regex dialect — the Java-regex ∩ RE2 subset (no
    * lookaround, no backreferences), so Spark and the oracle compile
    * identical automata.
    */
  val EmailPat = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhonePat = "\\d{3}-\\d{3}-\\d{4}"
  val IpPat = "\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}"

  /** Redaction transform shared by q62 and the corpus pipeline: email →
    * phone → IPv4, tags digit- and dot-free so replacements never
    * cascade.
    */
  def redacted(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, lit(EmailPat), lit("<EMAIL>")),
        lit(PhonePat), lit("<PHONE>")),
      lit(IpPat), lit("<IP>"))

  /** q62 — PII detection + redaction stats: the scrubbing pass every
    * training corpus runs before release. Detects emails, phone
    * numbers, and IPv4 addresses by regex, counts matches per document,
    * and measures the redacted length after replacing each class with a
    * fixed tag (email → phone → IP, in that order, so the tags —
    * digit- and dot-free by construction — never cascade).
    *
    * The fixture corpus is synthetic words with no real PII, so the
    * operator derives a deterministic PII-injected view first (the q59
    * snapshot-fixture discipline: a hash of the stable doc id decides
    * which class, never rand()) — the detection/redaction plan itself
    * is fixture-agnostic. Scale shape: scan → project, regex automata
    * run per-row inside codegen, no shuffle but the presentation sort.
    */
  def piiScrub(spark: SparkSession, dir: String): DataFrame =
    piiScrubFrom(Tables.documents(spark, dir))

  def piiScrubFrom(docs: DataFrame): DataFrame = {
    val m = TextFns.hash32(
      concat(lit("pii|"), col("doc_id").cast("string"))) % PiiMod
    val email = concat(lit(" contact user"), col("doc_id").cast("string"),
      lit("@example.com"))
    val phone = concat(lit(" call 555-"),
      lpad((col("doc_id") % 1000).cast("string"), 3, "0"), lit("-"),
      lpad((col("doc_id") % 10000).cast("string"), 4, "0"))
    val ip = concat(lit(" host "), (col("doc_id") % 256).cast("string"),
      lit("."), ((col("doc_id") * 7) % 256).cast("string"), lit(".0.1"))
    val injected = concat(col("text"),
      when(m === 0, email).when(m === 1, phone).when(m === 2, ip)
        .otherwise(lit("")))
    docs
      .select(col("doc_id"), injected.as("t"))
      .select(col("doc_id"),
        regexp_count(col("t"), lit(EmailPat)).as("n_email"),
        regexp_count(col("t"), lit(PhonePat)).as("n_phone"),
        regexp_count(col("t"), lit(IpPat)).as("n_ip"),
        length(col("t")).as("len_orig"),
        length(redacted(col("t"))).as("len_redacted"))
      .orderBy("doc_id")
  }

  /** q115 — SEARCH-RESULT dedup: the q55 BM25 top-[[Bm25TopK]] with
    * near-duplicate hits collapsed to their best-ranked cluster
    * representative (q54's connected components), then re-ranked — the
    * retrieve-then-dedup step every search/eval-mining pipeline runs so
    * one mirrored document can't occupy half the result page.
    *
    * Scale shape: the hit list is k rows by construction, so the
    * cluster join is a broadcast lookup against the (bucketable)
    * cluster map and both windows operate on ≤ k rows — the global
    * ORDER BY rank is k-bounded, never corpus-scale. Unclustered docs
    * are their own singleton cluster (left join + coalesce), so the
    * operator composes without requiring the cluster table to cover
    * the corpus.
    */
  def dedupSearch(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    dedupSearchOf(bm25SearchFrom(docs),
      Dedup.dedupClustersFrom(docs).select("doc_id", "cluster_id"))
  }

  def dedupSearchOf(hits: DataFrame, clusters: DataFrame): DataFrame = {
    val j = hits.join(broadcast(clusters), Seq("doc_id"), "left")
      .withColumn("cluster_id", coalesce(col("cluster_id"), col("doc_id")))
    val perCluster = row_number().over(
      Window.partitionBy("cluster_id").orderBy(desc("bm25"), asc("doc_id")))
    j.withColumn("rn", perCluster).filter(col("rn") === 1)
      .withColumn("rank",
        row_number().over(Window.orderBy(desc("bm25"), asc("doc_id"))).cast("int"))
      .select("rank", "doc_id", "bm25", "cluster_id")
      .orderBy("rank")
  }

  /** q229 planting: the fixture corpus is ASCII-clean, so without
    * planted anomalies the Unicode-hygiene gate would pass vacuously
    * (the q190/q191 lesson). 1 in [[NfcMod]] docs gains a DECOMPOSED
    * suffix (e + U+0301 combining acute — same rendered text as é,
    * different bytes), the next arm a MIXED-SCRIPT confusable token
    * (Cyrillic а inside a Latin word) — the two shapes real crawls
    * carry. Both are hash-armed and mirrored in the oracle.
    */
  val NfcMod = 6
  // explicit escapes: the decomposed suffix MUST stay e + U+0301 (an
  // editor auto-composing a literal would silently kill the arm)
  private[graft] val NfcSuffix = " nfce\u0301"
  private[graft] val MixedSuffix = " p\u0430ypal" // Cyrillic a
  private[graft] val MixedRe =
    "[A-Za-z][\u0400-\u04ff]|[\u0400-\u04ff][A-Za-z]"

  /** q229 — UNICODE HYGIENE audit: per source, how many documents are
    * not in NFC canonical form and how many carry mixed-script
    * (Latin⇄Cyrillic adjacent) confusable tokens. Decomposed sequences
    * make byte-level dedup MISS (same rendered text, different bytes —
    * q21's md5 fingerprint treats é and e+U+0301 as distinct docs) and
    * inflate codepoint-based length features; confusables are the
    * classic spam/phishing/SEO-cloaking signal a curation pipeline
    * screens before training. The NFC check runs through the native
    * `nfc_normalize` Catalyst expression (codegen, input returned
    * untouched on the already-normalized fast path) — DuckDB's
    * built-in `nfc_normalize` is the oracle's mirror, so the gate
    * cross-checks two independent NFC implementations (ICU vs JDK).
    *
    * Scale shape: one map pass (normalize + one regex) into a
    * source-keyed combine-heavy aggregate; output is sources-sized.
    */
  def nfcAudit(spark: SparkSession, dir: String): DataFrame =
    nfcAuditFrom(Tables.documents(spark, dir))

  def nfcAuditFrom(docs: DataFrame): DataFrame = {
    graft.plans.GraftFunctions.register(docs.sparkSession)
    val arm = TextFns.hash32(
      concat(lit("nfc|"), col("doc_id").cast("string"))) % NfcMod
    val planted = docs.select(col("source"),
      when(arm === 0, concat(col("text"), lit(NfcSuffix)))
        .when(arm === 1, concat(col("text"), lit(MixedSuffix)))
        .otherwise(col("text")).as("text"))
    planted.groupBy("source").agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("text") =!=
          call_function("nfc_normalize", col("text")), 1L).otherwise(0L))
          .as("n_non_nfc"),
        sum(when(col("text").rlike(MixedRe), 1L).otherwise(0L))
          .as("n_mixed_script"))
      .select(col("source"), col("n_docs"), col("n_non_nfc"),
        col("n_mixed_script"),
        round(col("n_non_nfc").cast("double") / nullIfZero(col("n_docs")), 6)
          .as("non_nfc_rate"),
        round(col("n_mixed_script").cast("double") /
          nullIfZero(col("n_docs")), 6).as("mixed_rate"))
      .orderBy("source")
  }

  /** 1 in [[BlArmMod]] docs gains a planted blocklist phrase (arm 0:
    * promo, 1: scam, 2: tracking; phrase picked by doc_id residue) —
    * the q229/q190 non-vacuous-gate discipline: the ASCII-clean corpus
    * would otherwise score zero hits and the oracle would prove
    * nothing about the matcher.
    */
  val BlArmMod = 5

  /** q233 — multi-pattern BLOCKLIST content screen (the C4-style "bad
    * phrase" filter): per source, the documents carrying any
    * blocklisted phrase, per-class hit mass, and the dominant phrase.
    * Matching is ONE Aho-Corasick pass per document through the native
    * `blocklist_hits` kernel ([[graft.functions.Blocklist]]) — all
    * phrases simultaneously, O(|text| + hits), inside whole-stage
    * codegen — where a per-phrase scan would pay |phrases| corpus
    * passes at 100 TB.
    *
    * Scale shape: kernel + class sums are map-side; the per-source
    * rollup is sources-bounded and the per-(source, phrase) relation
    * behind the dominant-phrase pick is sources×|blocklist| with
    * map-side combine. The oracle counts occurrences independently
    * per phrase with DuckDB's `replace` census (exact because the
    * phrases have no self-border — see Blocklist's scaladoc), so the
    * automaton's goto/fail/output walk is what's being gated.
    */
  def blocklistScreen(spark: SparkSession, dir: String): DataFrame =
    blocklistScreenFrom(Tables.documents(spark, dir))

  def blocklistScreenFrom(docs: DataFrame): DataFrame = {
    import graft.functions.Blocklist
    graft.plans.GraftFunctions.register(docs.sparkSession)
    val arm = TextFns.hash32(
      concat(lit("bl|"), col("doc_id").cast("string"))) % BlArmMod
    def pick(c: String): Column = {
      val ps = Blocklist.Patterns.filter(_._1 == c).map(_._2)
      concat(lit(" "), element_at(array(ps.map(lit): _*),
        (col("doc_id") % ps.size).cast("int") + 1))
    }
    val planted = docs.select(col("source"),
      concat(col("text"),
        when(arm === 0, pick("promo"))
          .when(arm === 1, pick("scam"))
          .when(arm === 2, pick("tracking"))
          .otherwise(lit(""))).as("text"))
    val hits = planted.withColumn("hits",
      call_function("blocklist_hits", col("text")))
    def classSum(c: String): Column = {
      val (_, from, len) = Blocklist.ClassRanges.find(_._1 == c).get
      expr(s"aggregate(slice(hits, ${from + 1}, $len), 0L, (a, x) -> a + x)")
    }
    val doc = hits.select(col("source"), col("hits"),
      classSum("promo").as("promo"), classSum("scam").as("scam"),
      classSum("tracking").as("tracking"))
    val perSource = doc.groupBy("source").agg(
      count(lit(1)).as("n_docs"),
      sum(when(col("promo") + col("scam") + col("tracking") > 0, 1L)
        .otherwise(0L)).as("n_flagged"),
      sum("promo").as("promo_hits"),
      sum("scam").as("scam_hits"),
      sum("tracking").as("tracking_hits"))
    val names = Blocklist.Patterns.map { case (c, p) => s"$c:$p" }
    val perPattern = doc
      .select(col("source"), posexplode(col("hits")).as(Seq("pos", "n")))
      .groupBy("source", "pos").agg(sum("n").as("sn"))
    val w = Window.partitionBy("source").orderBy(desc("sn"), asc("pos"))
    val top = perPattern.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("source"),
        element_at(array(names.map(lit): _*), col("pos").cast("int") + 1)
          .as("top_pattern"),
        col("sn").as("top_hits"))
    perSource.join(top, Seq("source")).orderBy("source")
  }

  /** 2 in [[LuhnMod]] docs gain a planted card-shaped run (arm 0: a
    * Luhn-VALID PAN, arm 1: the same PAN with its check digit bumped —
    * pattern-identical, checksum-broken), so the gate proves the
    * checksum separates the arms, not just the regex shape.
    */
  val LuhnMod = 6

  /** 10 deterministic Luhn-valid test PANs (body digits are a closed
    * form of the index; the check digit is computed by the real
    * algorithm at class init) and their checksum-broken twins.
    */
  private[graft] val Pans: IndexedSeq[String] =
    (0 until 10).map { k =>
      val body = (0 until 15).map(i => ((k + 1) * (i + 7)) % 10)
      (body :+ graft.functions.Luhn.checkDigit(body)).mkString
    }
  private[graft] val BrokenPans: IndexedSeq[String] =
    Pans.map(p => p.dropRight(1) + (((p.last - '0') + 5) % 10).toString)

  /** q239 — Luhn-validated PAN audit: per source, the documents
    * carrying card-SHAPED digit runs vs the runs that actually pass
    * the ISO 7812 mod-10 checksum — the precision layer every DLP
    * engine puts over q62's bare pattern match (a random 16-digit run
    * passes the regex but fails the checksum 90% of the time; acting
    * on shape alone floods the redaction queue). One native
    * `luhn_counts` kernel pass per doc; rollup is sources-bounded.
    *
    * The oracle regenerates the verdicts from the planted-arm closed
    * forms (valid plant / checksum-broken twin / clean), so the
    * Spark side's maximal-run scan + right-to-left doubled-fold sum
    * must separate two strings that differ in ONE digit.
    */
  def luhnAudit(spark: SparkSession, dir: String): DataFrame =
    luhnAuditFrom(Tables.documents(spark, dir))

  def luhnAuditFrom(docs: DataFrame): DataFrame = {
    graft.plans.GraftFunctions.register(docs.sparkSession)
    val arm = TextFns.hash32(
      concat(lit("luhn|"), col("doc_id").cast("string"))) % LuhnMod
    def pick(ps: IndexedSeq[String]): Column =
      concat(lit(" card "),
        element_at(array(ps.map(lit): _*), (col("doc_id") % 10).cast("int") + 1))
    val planted = docs.select(col("source"),
      concat(col("text"),
        when(arm === 0, pick(Pans))
          .when(arm === 1, pick(BrokenPans))
          .otherwise(lit(""))).as("text"))
    planted
      .withColumn("lc", call_function("luhn_counts", col("text")))
      .groupBy("source").agg(
        count(lit(1)).as("n_docs"),
        sum(element_at(col("lc"), 1)).as("n_pan_shaped"),
        sum(element_at(col("lc"), 2)).as("n_luhn_valid"))
      .select(col("source"), col("n_docs"), col("n_pan_shaped"),
        col("n_luhn_valid"),
        round(col("n_luhn_valid").cast("double") /
          nullIfZero(col("n_pan_shaped")), 6).as("valid_rate"))
      .orderBy("source")
  }

  /** q253 — vocabulary-richness estimation per source: Good-Turing
    * unseen mass and the bias-corrected Chao1 richness estimator —
    * the "how much MORE is out there" question a corpus-collection
    * effort asks before paying for another crawl (q183 plots observed
    * growth; this estimates the asymptote from ONE snapshot's
    * frequency-of-frequencies). Types are word TRIGRAMS: the fixture's
    * 31-word unigram vocabulary has no singletons, so unigram N1 ≡ 0
    * and the gate would be vacuous (the q230/q191 lesson applied at
    * design time) — trigram types are also what productive-phrase
    * coverage actually measures.
    *
    *  - `gt_unseen_mass` = N1/N (Good 1953): the probability the NEXT
    *    trigram drawn is unseen — the Laplace-vs-GT smoothing mass
    *    q203's LM family allocates;
    *  - `chao1` = V + N1(N1−1)/(2(N2+1)) (Chao 1984, bias-corrected):
    *    the abundance-based floor on true type richness;
    *  - `coverage` = 1 − N1/N (Turing coverage of the observed set).
    *
    * Determinism: N/V/N1/N2 are exact integers off one (source, type)
    * aggregate; the three derived columns are raw double quotients in
    * a fixed operation order — nothing rounds across the gate.
    *
    * Scale shape: the corpus reduces to the (source, type) count
    * relation (combine-heavy, vocab-bounded per source), then a
    * sources-sized rollup; no other shuffle.
    */
  def vocabRichness(spark: SparkSession, dir: String): DataFrame =
    vocabRichnessFrom(Tables.documents(spark, dir))

  def vocabRichnessFrom(docs: DataFrame): DataFrame = {
    val tk = Tables.widened(docs, col("doc_id"))
      .select(col("source"), TextFns.toks(col("text")).as("w"))
      .filter(size(col("w")) >= 3)
      .select(col("source"),
        explode(transform(sequence(lit(0), size(col("w")) - 3),
          i => array_join(slice(col("w"), i + 1, lit(3)), " ")))
          .as("token"))
    val counts = tk.groupBy("source", "token").agg(count(lit(1)).as("cnt"))
    counts.groupBy("source").agg(
        sum("cnt").as("n_tokens"),
        count(lit(1)).as("vocab"),
        sum(when(col("cnt") === 1, 1L).otherwise(0L)).as("n1"),
        sum(when(col("cnt") === 2, 1L).otherwise(0L)).as("n2"))
      .select(col("source"), col("n_tokens"), col("vocab"), col("n1"),
        col("n2"),
        (col("n1").cast("double") / col("n_tokens")).as("gt_unseen_mass"),
        (lit(1.0) - col("n1").cast("double") / col("n_tokens"))
          .as("coverage"),
        (col("vocab").cast("double") +
          (col("n1") * (col("n1") - 1)).cast("double") /
            (lit(2L) * (col("n2") + 1)).cast("double")).as("chao1"))
      .orderBy("source")
  }

  /** q254 — Yule's K lexical-diversity audit (Yule 1944, the
    * "characteristic" K = 10⁴·(Σc² − N)/N²): the length-invariant
    * repetitiousness gauge — boilerplate- and template-heavy text
    * scores high K, diverse prose low — measured both POOLED per
    * source (the distribution of the source's whole token stream) and
    * as the per-doc min/max spread (which single documents are
    * degenerate). Complements q47's bigram repetition (within-doc
    * adjacency) and q253's richness estimators (how much vocabulary
    * exists vs how evenly it is used).
    *
    * Determinism: N and Σc² are exact integers off (doc,token)- and
    * (source,token)-grain aggregates; each K is ONE fixed-order
    * unrounded double chain `10⁴·(s2−n)/(n·n)` — identical on both
    * engines, nothing rounds across the gate (the r12c rounding
    * rule); min/max of exact doubles are order-free.
    *
    * Scale shape: two vocab-bounded count aggregates (map-side
    * combine), then doc- and source-grain algebra; no joins beyond
    * the source-cardinality rollup merge.
    */
  def yuleK(spark: SparkSession, dir: String): DataFrame =
    yuleKFrom(Tables.documents(spark, dir))

  def yuleKFrom(docs: DataFrame): DataFrame = {
    val tok = Tables.widened(docs, col("doc_id"))
      .select(col("source"), col("doc_id"),
        explode(TextFns.toks(col("text"))).as("token"))
      .filter(col("token") =!= "")
    def kOf(s2: Column, n: Column): Column =
      lit(10000.0) * (s2 - n).cast("double") /
        (n.cast("double") * n.cast("double"))
    val perDoc = tok.groupBy("source", "doc_id", "token")
      .agg(count(lit(1)).as("c"))
      .groupBy("source", "doc_id")
      .agg(sum("c").as("n"), sum(col("c") * col("c")).as("s2"))
      .withColumn("k", kOf(col("s2"), col("n")))
    val docStats = perDoc.groupBy("source").agg(
      count(lit(1)).as("n_docs"),
      min("k").as("min_doc_k"), max("k").as("max_doc_k"))
    val pooled = tok.groupBy("source", "token").agg(count(lit(1)).as("c"))
      .groupBy("source")
      .agg(sum("c").as("n_tokens"), sum(col("c") * col("c")).as("s2"))
    docStats.join(pooled, Seq("source"))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        col("s2").as("pooled_s2"),
        kOf(col("s2"), col("n_tokens")).as("yule_k"),
        col("min_doc_k"), col("max_doc_k"))
      .orderBy("source")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q254_yule_k" -> (yuleK _),
    "q253_vocab_richness" -> (vocabRichness _),
    "q229_nfc_audit" -> (nfcAudit _),
    "q233_blocklist_screen" -> (blocklistScreen _),
    "q239_luhn_audit" -> (luhnAudit _),
    "q242_score_calibration" -> (scoreCalibration _),
    "q245_bm25_ndcg" -> (bm25Ndcg _),
    "q17_token_stats" -> (tokenStats _),
    "q18_quality_score" -> (qualityScore _),
    "q218_quality_model" -> (qualityModel _),
    "q165_score_bias_auc" -> (scoreBiasAuc _),
    "q88_filter_funnel" -> (filterFunnel _),
    "q19_lang_id" -> (langId _),
    "q160_lang_mismatch" -> (langMismatch _),
    "q20_fingerprint" -> (fingerprint _),
    "q84_winnow_fingerprints" -> (winnowFingerprints _),
    "q39_kmv_distinct" -> (kmvDistinct _),
    "q53_df_vocab" -> (dfVocab _),
    "q183_vocab_growth" -> (vocabGrowth _),
    "q185_syndication" -> (syndication _),
    "q139_oov_rate" -> (oovRate _),
    "q97_tfidf_keywords" -> (tfidfKeywords _),
    "q55_bm25_search" -> (bm25Search _),
    "q115_dedup_search" -> (dedupSearch _),
    "q57_lm_score" -> (lmScore _),
    "q62_pii_scrub" -> (piiScrub _),
    "q68_source_kl" -> (sourceKl _),
    "q69_bpe_pairs" -> (bpePairs _),
    "q198_bpe_train" -> (bpeTrain _),
    "q200_bpe_tokenize" -> (bpeTokenize _),
    "q203_bigram_lm" -> (bigramLm _),
    "q205_zipf_slope" -> (zipfSlope _),
    "q206_char_entropy" -> (charEntropy _),
    "q209_heldout_ppl" -> (heldoutPpl _),
    "q166_collocations" -> (collocations _),
    "q175_boilerplate_templates" -> (boilerplateTemplates _),
    "q178_calibrated_cut" -> (calibratedCut _))

  private val toksCte =
    s"WITH toks AS (SELECT doc_id, text, lang, ${TextFns.sql.toks} AS w FROM documents)"

  /** Shared q84/q85 oracle fragment: `u` = (doc_id, kh, pos) of every
    * winnow-selected position (dialect twin of [[winnowFingerprintsFrom]]
    * before its final projection).
    */
  private[operators] val winnowSql =
    s"""t AS (SELECT doc_id, ${TextFns.sql.toks} AS w FROM documents),
       |k AS (SELECT doc_id, list_transform(range(len(w) - ${WinnowK - 1}), i ->
       |    ${TextFns.sql.hash60(
           s"'wn|' || array_to_string(list_slice(w, CAST(i AS BIGINT) + 1, CAST(i AS BIGINT) + $WinnowK), ' ')")}) AS kh
       |  FROM t WHERE len(w) >= $WinnowK),
       |s AS (SELECT doc_id, kh, list_distinct(list_transform(
       |    range(len(kh) - ${WinnowW - 1}), j ->
       |    j + list_position(list_slice(kh, j + 1, j + $WinnowW),
       |      list_min(list_slice(kh, j + 1, j + $WinnowW))) - 1)) AS selpos
       |  FROM k WHERE len(kh) >= $WinnowW),
       |u AS (SELECT doc_id, kh, unnest(selpos) AS pos FROM s)""".stripMargin

  /** Shared q175/q185 oracle fragment: `tmpl` = the (source, gram, df,
    * n_docs) template relation, the SQL twin of [[sourceGramTemplates]].
    */
  private val boilerSql =
    s"""t AS (SELECT doc_id, source, ${TextFns.sql.toks} AS w
       |  FROM documents),
       |g AS (SELECT source, UNNEST(list_distinct(list_transform(
       |    range(len(w) - ${BoilerGramK - 1}), i ->
       |    array_to_string(list_slice(w, CAST(i AS BIGINT) + 1,
       |      CAST(i AS BIGINT) + $BoilerGramK), ' ')))) AS gram
       |  FROM t WHERE len(w) >= $BoilerGramK),
       |sd AS (SELECT source, count(*) AS n_docs FROM documents
       |  GROUP BY 1),
       |d AS (SELECT source, gram, count(*) AS df FROM g GROUP BY 1, 2),
       |tmpl AS (SELECT d.source, gram, df, n_docs
       |  FROM d JOIN sd USING (source)
       |  WHERE df * $BoilerFracDen >= n_docs * $BoilerFracNum)""".stripMargin

  /** Shared quality-score oracle fragment, grouped-column
    * parameterized: `q` = per-doc (groupCol, n_tokens, 6-dp qs), the
    * SQL twin of `qualityFeatures(_, Seq(groupCol))`. q165/q178 read
    * the null-filtered `f` view of it; q186 reads `q` (token mass
    * counts even for unscored docs).
    */
  private[operators] def qualityDocSql(groupCol: String): String =
    s"""feat AS (
       |  SELECT $groupCol, len(${TextFns.sql.toks}) AS n_tokens,
       |    len(${TextFns.sql.keepIn(TextFns.sql.toks, Stopwords)})
       |      AS stop_hits,
       |    length(regexp_replace(text, '\\s', '', 'g')) AS nonspace
       |  FROM documents),
       |q AS (
       |  SELECT $groupCol, n_tokens,
       |    round(0.25 * least(1.0, CAST(n_tokens AS DOUBLE) / 100.0)
       |      + 0.25 * least(1.0, (CAST(nonspace AS DOUBLE) / NULLIF(n_tokens, 0)) / 8.0)
       |      + 0.5 * (1.0 - least(1.0, (CAST(stop_hits AS DOUBLE) / NULLIF(n_tokens, 0)) * 4.0)),
       |      6) AS qs
       |  FROM feat)""".stripMargin

  /** Shared q165/q178 oracle fragment: `f` = per-doc (lang, 6-dp
    * quality score qs), the SQL twin of `qualityFeatures(_, Seq("lang"))`.
    */
  private val langQualitySql =
    s"""${qualityDocSql("lang")},
       |f AS (SELECT * FROM q WHERE qs IS NOT NULL)""".stripMargin

  /** The q198 training rounds as DuckDB CTE text (through `b1..bK` —
    * each round's argmax merge row — and `v1..vK`, the merged vocab),
    * shared by the q198 and q200 oracles. Every per-round CTE is
    * AS MATERIALIZED: each round references the previous vocab from two
    * places, so default inlining would expand the base subtree 3^rounds
    * times — materialization is what the DataFrame loop gets for free
    * from its driver-side argmax collect (and why neither query has a
    * Spark SQL text: Spark cannot materialize a CTE).
    */
  private def bpeTrainCtes: String = {
    def roundCte(r: Int): String =
      s"""p$r AS MATERIALIZED (SELECT pr, CAST(sum(wcnt) AS BIGINT) AS n FROM (
         |    SELECT unnest(regexp_extract_all(seq,
         |        '<[^>]*><[^>]*>')) AS pr, wcnt FROM v${r - 1}
         |    UNION ALL
         |    SELECT unnest(regexp_extract_all(
         |        regexp_replace(seq, '^<[^>]*>', ''),
         |        '<[^>]*><[^>]*>')) AS pr, wcnt FROM v${r - 1}) q$r
         |  GROUP BY 1),
         |b$r AS MATERIALIZED (SELECT $r AS merge_round, pr,
         |    '<' || replace(replace(pr, '<', ''), '>', '') || '>' AS merged,
         |    n
         |  FROM p$r ORDER BY n DESC, pr LIMIT 1),
         |v$r AS MATERIALIZED (SELECT replace(v.seq, b.pr, b.merged) AS seq, v.wcnt
         |  FROM v${r - 1} v CROSS JOIN b$r b)""".stripMargin
    s"""toks AS (SELECT ${TextFns.sql.toks} AS w FROM documents),
       |wrd AS (SELECT unnest(w) AS t FROM toks),
       |voc AS (SELECT t AS word, count(*) AS wcnt FROM wrd GROUP BY 1),
       |v0 AS MATERIALIZED (SELECT regexp_replace(word, '(.)', '<\\1>', 'g') AS seq,
       |    wcnt FROM voc),
       |${(1 to BpeMerges).map(roundCte).mkString(",\n")}""".stripMargin
  }

  /** Spark-SQL forms for [[SqlSurface]] that are NOT dialect rewrites:
    * q239's SQL form runs the real `luhn_counts` kernel over the same
    * planted corpus (the oracle replays the ARM closed forms instead —
    * validity is pinned by construction, so the kernel is what's
    * being gated).
    */
  lazy val sparkSql: Map[String, String] = Map(
    "q239_luhn_audit" -> {
      val arm = "CAST(conv(substring(md5('luhn|' || CAST(doc_id AS STRING)), 1, 8), 16, 10) AS BIGINT)" +
        s" % $LuhnMod"
      def caseOf(ps: IndexedSeq[String]): String =
        s"CASE CAST(doc_id % 10 AS INT) " +
          ps.zipWithIndex.map { case (p, i) => s"WHEN $i THEN ' card $p'" }
            .mkString(" ") + " END"
      s"""WITH planted AS (SELECT source, text ||
         |    CASE WHEN $arm = 0 THEN ${caseOf(Pans)}
         |         WHEN $arm = 1 THEN ${caseOf(BrokenPans)}
         |         ELSE '' END AS t2
         |  FROM documents),
         |h AS (SELECT source, luhn_counts(t2) AS lc FROM planted)
         |SELECT source, count(*) AS n_docs,
         |  sum(element_at(lc, 1)) AS n_pan_shaped,
         |  sum(element_at(lc, 2)) AS n_luhn_valid,
         |  round(CAST(sum(element_at(lc, 2)) AS DOUBLE) /
         |    nullif(sum(element_at(lc, 1)), 0), 6) AS valid_rate
         |FROM h GROUP BY source ORDER BY source""".stripMargin
    })

  lazy val oracle: Map[String, String] = Map(
    // exact integer moments both grains; every K is the same
    // fixed-order unrounded double chain — nothing rounds
    "q254_yule_k" ->
      s"""WITH t0 AS (SELECT source, doc_id,
         |    unnest(${TextFns.sql.toks}) AS token FROM documents),
         |t AS (SELECT * FROM t0 WHERE token <> ''),
         |pd AS (SELECT source, doc_id, CAST(sum(c) AS BIGINT) AS n,
         |    CAST(sum(c * c) AS BIGINT) AS s2 FROM (
         |  SELECT source, doc_id, token, count(*) AS c
         |    FROM t GROUP BY 1, 2, 3) GROUP BY 1, 2),
         |pk AS (SELECT source,
         |    10000.0 * CAST(s2 - n AS DOUBLE) /
         |      (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) AS k
         |  FROM pd),
         |d AS (SELECT source, count(*) AS n_docs, min(k) AS min_doc_k,
         |    max(k) AS max_doc_k FROM pk GROUP BY 1),
         |pool AS (SELECT source, CAST(sum(c) AS BIGINT) AS n_tokens,
         |    CAST(sum(c * c) AS BIGINT) AS s2 FROM (
         |  SELECT source, token, count(*) AS c
         |    FROM t GROUP BY 1, 2) GROUP BY 1)
         |SELECT p.source, d.n_docs, p.n_tokens, p.s2 AS pooled_s2,
         |  10000.0 * CAST(p.s2 - p.n_tokens AS DOUBLE) /
         |    (CAST(p.n_tokens AS DOUBLE) * CAST(p.n_tokens AS DOUBLE))
         |    AS yule_k,
         |  d.min_doc_k, d.max_doc_k
         |FROM pool p JOIN d USING (source) ORDER BY p.source""".stripMargin,
    // frequency-of-frequencies on the same trigram stream (multiset,
    // not per-doc distinct); the derived columns are raw quotients in
    // the same fixed operation order — nothing rounds across the gate
    "q253_vocab_richness" ->
      s"""WITH tok0 AS (SELECT source, ${TextFns.sql.toks} AS w
         |  FROM documents),
         |pos AS (SELECT source, w, unnest(range(len(w) - 2)) AS i
         |  FROM tok0 WHERE len(w) >= 3),
         |tk AS (SELECT source,
         |    w[i + 1] || ' ' || w[i + 2] || ' ' || w[i + 3] AS token
         |  FROM pos),
         |c AS (SELECT source, token, count(*) AS cnt
         |  FROM tk GROUP BY 1, 2)
         |SELECT source, CAST(sum(cnt) AS BIGINT) AS n_tokens,
         |  count(*) AS vocab,
         |  CAST(sum(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
         |  CAST(sum(CASE WHEN cnt = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
         |  CAST(sum(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS DOUBLE) /
         |    CAST(sum(cnt) AS BIGINT) AS gt_unseen_mass,
         |  1.0 - CAST(sum(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS DOUBLE) /
         |    CAST(sum(cnt) AS BIGINT) AS coverage,
         |  CAST(count(*) AS DOUBLE) +
         |    CAST(sum(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) *
         |      (sum(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) - 1) AS DOUBLE) /
         |    CAST(2 * (sum(CASE WHEN cnt = 2 THEN 1 ELSE 0 END) + 1)
         |      AS DOUBLE) AS chao1
         |FROM c GROUP BY 1 ORDER BY 1""".stripMargin,
    // the q55 pipeline re-ranked and scored: occurrence-graded
    // relevance from the same tf columns, fixed DECIMAL(12,9) rank
    // discounts, exact decimal dot products, one closing division
    "q245_bm25_ndcg" -> {
      val wt = "CAST(CASE rank " + NdcgW.zipWithIndex.map {
        case (d, i) => s"WHEN ${i + 1} THEN ${d.toPlainString}"
      }.mkString(" ") + " END AS DECIMAL(12,9))"
      val relSum = Bm25Query.indices.map(i => s"tf$i").mkString(" + ")
      s"""$toksCte,
         |$bm25CtesSql,
         |relv AS (SELECT doc_id, CAST($relSum AS BIGINT) AS rel FROM perdoc),
         |ret0 AS (SELECT doc_id, round(sc, 9) AS bm25 FROM scored
         |  WHERE n_terms > 0 ORDER BY bm25 DESC, doc_id LIMIT $Bm25TopK),
         |ret AS (SELECT doc_id, CAST(row_number() OVER
         |    (ORDER BY bm25 DESC, doc_id) AS INTEGER) AS rank FROM ret0),
         |ideal0 AS (SELECT doc_id, rel FROM relv WHERE rel > 0
         |  ORDER BY rel DESC, doc_id LIMIT $Bm25TopK),
         |ideal AS (SELECT doc_id, rel, CAST(row_number() OVER
         |    (ORDER BY rel DESC, doc_id) AS INTEGER) AS rank FROM ideal0),
         |d AS (SELECT sum(CAST(relv.rel AS DECIMAL(10,0)) * $wt) AS dcg_d,
         |    count(*) AS n_returned
         |  FROM ret JOIN relv USING (doc_id)),
         |i2 AS (SELECT sum(CAST(rel AS DECIMAL(10,0)) * $wt) AS idcg_d
         |  FROM ideal),
         |ov AS (SELECT count(*) AS n_overlap
         |  FROM ret JOIN ideal USING (doc_id))
         |SELECT CAST($Bm25TopK AS INTEGER) AS k, n_returned,
         |  round(CAST(dcg_d AS DOUBLE), 6) AS dcg,
         |  round(CAST(idcg_d AS DOUBLE), 6) AS idcg,
         |  round(CAST(dcg_d AS DOUBLE) / NULLIF(CAST(idcg_d AS DOUBLE), 0), 6)
         |    AS ndcg,
         |  n_overlap
         |FROM d, i2, ov""".stripMargin
    },
    // both scoring chains mirrored verbatim from the q218/q18 oracle
    // texts; bin means through DECIMAL(38,12) (order-free), bin ids
    // floor the shared rounded score
    "q242_score_calibration" ->
      s"""$toksCte, feat AS (
         |  SELECT doc_id, CAST(len(w) AS BIGINT) AS nt,
         |    CAST(len(${TextFns.sql.keepIn("w", Stopwords)}) AS BIGINT) AS stop,
         |    CAST(length(regexp_replace(text, '\\s', '', 'g')) AS BIGINT)
         |      AS nonspace
         |  FROM toks),
         |sc AS (SELECT
         |    round(1.0 / (1.0 + exp(-($QmBias
         |      + $QmWLen * ln(1.0 + CAST(nt AS DOUBLE))
         |      + $QmWStop * (CAST(stop AS DOUBLE) / nt)
         |      + $QmWTok * (CAST(nonspace AS DOUBLE) / nt)))), 6) AS score,
         |    round(0.25 * least(1.0, CAST(nt AS DOUBLE) / 100.0)
         |      + 0.25 * least(1.0, (CAST(nonspace AS DOUBLE) / NULLIF(nt, 0)) / 8.0)
         |      + 0.5 * (1.0 - least(1.0, (CAST(stop AS DOUBLE) / NULLIF(nt, 0)) * 4.0)),
         |      6) >= 0.5 AS y
         |  FROM feat WHERE nt > 0),
         |b AS (SELECT CAST(floor(least(score * 10, 9.0)) AS INTEGER) AS bin,
         |    score, y FROM sc),
         |g AS (SELECT bin, count(*) AS n_docs,
         |    CAST(sum(CAST(score AS DECIMAL(38,12))) AS DOUBLE) AS ssd,
         |    CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS n_pos
         |  FROM b GROUP BY 1),
         |t AS (SELECT count(*) AS n_all FROM b),
         |p AS (SELECT bin, n_docs, n_pos,
         |    round(ssd / n_docs, 6) AS mean_score,
         |    round(CAST(n_pos AS DOUBLE) / n_docs, 6) AS pos_rate
         |  FROM g),
         |pg AS (SELECT *, round(abs(mean_score - pos_rate), 6) AS gap FROM p)
         |SELECT bin, n_docs, n_pos, mean_score, pos_rate, gap,
         |  round(gap * CAST(n_docs AS DOUBLE) / t.n_all, 9) AS w_gap
         |FROM pg, t ORDER BY 1""".stripMargin,
    // validity is pinned by the planted-arm closed forms (a real PAN
    // on arm 0, its one-digit-bumped checksum-broken twin on arm 1),
    // so the Spark side's maximal-run scan + mod-10 fold is what the
    // hash gate proves
    "q239_luhn_audit" -> {
      val arm = s"${TextFns.sql.hash32("'luhn|' || CAST(doc_id AS VARCHAR)")} % $LuhnMod"
      s"""WITH d AS (SELECT source,
         |    CASE WHEN $arm IN (0, 1) THEN 1 ELSE 0 END AS shaped,
         |    CASE WHEN $arm = 0 THEN 1 ELSE 0 END AS valid
         |  FROM documents)
         |SELECT source, count(*) AS n_docs,
         |  CAST(sum(shaped) AS BIGINT) AS n_pan_shaped,
         |  CAST(sum(valid) AS BIGINT) AS n_luhn_valid,
         |  round(CAST(sum(valid) AS DOUBLE) / NULLIF(sum(shaped), 0), 6)
         |    AS valid_rate
         |FROM d GROUP BY 1 ORDER BY 1""".stripMargin
    },
    // DuckDB counts each phrase independently with the replace census
    // (exact vs the automaton because no phrase self-borders); the
    // Spark side's Aho-Corasick goto/fail/output walk must agree on
    // every count, class rollup, and dominant-phrase pick
    "q233_blocklist_screen" -> {
      import graft.functions.Blocklist
      val pats = Blocklist.Patterns.zipWithIndex
        .map { case ((c, p), i) => s"($i, '$c', '$p')" }.mkString(", ")
      def pickSql(c: String): String = {
        val ps = Blocklist.Patterns.filter(_._1 == c).map(_._2)
        val whens = ps.zipWithIndex
          .map { case (p, i) => s"WHEN $i THEN ' $p'" }.mkString(" ")
        s"(CASE CAST(doc_id % ${ps.size} AS INTEGER) $whens END)"
      }
      val arm = s"${TextFns.sql.hash32("'bl|' || CAST(doc_id AS VARCHAR)")} % $BlArmMod"
      s"""WITH pat(i, cls, p) AS (SELECT * FROM (VALUES $pats) v(i, cls, p)),
         |planted AS (SELECT doc_id, source, text ||
         |    CASE WHEN $arm = 0 THEN ${pickSql("promo")}
         |         WHEN $arm = 1 THEN ${pickSql("scam")}
         |         WHEN $arm = 2 THEN ${pickSql("tracking")}
         |         ELSE '' END AS t2
         |  FROM documents),
         |h AS (SELECT d.doc_id, d.source, p.i, p.cls, p.p,
         |    (length(d.t2) - length(replace(d.t2, p.p, ''))) // length(p.p) AS n
         |  FROM planted d CROSS JOIN pat p),
         |doc AS (SELECT doc_id, source,
         |    CAST(sum(n) AS BIGINT) AS tot,
         |    CAST(sum(CASE WHEN cls = 'promo' THEN n ELSE 0 END) AS BIGINT) AS promo,
         |    CAST(sum(CASE WHEN cls = 'scam' THEN n ELSE 0 END) AS BIGINT) AS scam,
         |    CAST(sum(CASE WHEN cls = 'tracking' THEN n ELSE 0 END) AS BIGINT) AS tracking
         |  FROM h GROUP BY 1, 2),
         |src AS (SELECT source, count(*) AS n_docs,
         |    CAST(sum(CASE WHEN tot > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
         |    CAST(sum(promo) AS BIGINT) AS promo_hits,
         |    CAST(sum(scam) AS BIGINT) AS scam_hits,
         |    CAST(sum(tracking) AS BIGINT) AS tracking_hits
         |  FROM doc GROUP BY 1),
         |ps AS (SELECT source, i, cls, p, CAST(sum(n) AS BIGINT) AS sn
         |  FROM h GROUP BY 1, 2, 3, 4),
         |top AS (SELECT source, cls || ':' || p AS top_pattern, sn AS top_hits,
         |    row_number() OVER (PARTITION BY source ORDER BY sn DESC, i) AS rn
         |  FROM ps)
         |SELECT s.source, s.n_docs, s.n_flagged, s.promo_hits, s.scam_hits,
         |  s.tracking_hits, t.top_pattern, t.top_hits
         |FROM src s JOIN top t ON t.source = s.source AND t.rn = 1
         |ORDER BY 1""".stripMargin
    },
    // the planted arms mirrored verbatim; DuckDB's built-in
    // nfc_normalize (ICU) cross-checks the Spark-side JDK Normalizer —
    // two independent NFC implementations must agree on every doc
    "q229_nfc_audit" -> {
      val arm = s"${TextFns.sql.hash32(
        "'nfc|' || CAST(doc_id AS VARCHAR)")} % $NfcMod"
      s"""WITH planted AS (SELECT source,
         |    CASE WHEN $arm = 0 THEN text || '$NfcSuffix'
         |         WHEN $arm = 1 THEN text || '$MixedSuffix'
         |         ELSE text END AS text
         |  FROM documents)
         |SELECT source, count(*) AS n_docs,
         |  CAST(sum(CASE WHEN text <> nfc_normalize(text) THEN 1 ELSE 0
         |    END) AS BIGINT) AS n_non_nfc,
         |  CAST(sum(CASE WHEN regexp_matches(text, '$MixedRe') THEN 1
         |    ELSE 0 END) AS BIGINT) AS n_mixed_script,
         |  round(CAST(sum(CASE WHEN text <> nfc_normalize(text) THEN 1
         |    ELSE 0 END) AS DOUBLE) / NULLIF(count(*), 0), 6)
         |    AS non_nfc_rate,
         |  round(CAST(sum(CASE WHEN regexp_matches(text, '$MixedRe')
         |    THEN 1 ELSE 0 END) AS DOUBLE) / NULLIF(count(*), 0), 6)
         |    AS mixed_rate
         |FROM planted GROUP BY 1 ORDER BY 1""".stripMargin
    },
    // mid-rank percentiles as exact rationals at the score level; the
    // keep test cross-multiplies integers; window sums CAST back from
    // HUGEINT (the q165 discipline)
    "q178_calibrated_cut" ->
      s"""WITH $langQualitySql,
         |ls AS (SELECT lang, qs, count(*) AS c FROM f GROUP BY 1, 2),
         |lr AS (SELECT lang, qs, c,
         |    CAST(coalesce(sum(c) OVER (PARTITION BY lang ORDER BY qs
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + 1
         |      AS BIGINT) AS stl,
         |    CAST(sum(c) OVER (PARTITION BY lang) AS BIGINT) AS nl
         |  FROM ls),
         |gs AS (SELECT qs, CAST(sum(c) AS BIGINT) AS cg FROM ls
         |  GROUP BY 1),
         |gr AS (SELECT qs, cg,
         |    CAST(coalesce(sum(cg) OVER (ORDER BY qs
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + 1
         |      AS BIGINT) AS stg
         |  FROM gs),
         |tot AS (SELECT count(*) AS n_all FROM f),
         |j AS (SELECT lr.lang, lr.c,
         |    2 * (lr.stl - 1) + lr.c AS p2l, lr.nl,
         |    2 * (gr.stg - 1) + gr.cg AS p2g
         |  FROM lr JOIN gr USING (qs))
         |SELECT lang, CAST(sum(c) AS BIGINT) AS n_docs,
         |  CAST(sum(CASE WHEN p2g * $CalibKeepDen >=
         |    ${2 * CalibKeepNum} * n_all THEN c ELSE 0 END) AS BIGINT)
         |    AS kept_raw,
         |  CAST(sum(CASE WHEN p2l * $CalibKeepDen >=
         |    ${2 * CalibKeepNum} * nl THEN c ELSE 0 END) AS BIGINT)
         |    AS kept_calib,
         |  round(CAST(sum(CASE WHEN p2g * $CalibKeepDen >=
         |    ${2 * CalibKeepNum} * n_all THEN c ELSE 0 END) AS DOUBLE)
         |    / CAST(sum(c) AS BIGINT), 9) AS rate_raw,
         |  round(CAST(sum(CASE WHEN p2l * $CalibKeepDen >=
         |    ${2 * CalibKeepNum} * nl THEN c ELSE 0 END) AS DOUBLE)
         |    / CAST(sum(c) AS BIGINT), 9) AS rate_calib
         |FROM j CROSS JOIN tot GROUP BY 1 ORDER BY 1""".stripMargin,
    // per-doc distinct grams bound df at 1 per doc; the frac threshold
    // is integer cross-multiplied (never a float compare)
    "q175_boilerplate_templates" ->
      s"""WITH $boilerSql
         |SELECT source, gram, df, n_docs,
         |  round(CAST(df AS DOUBLE) / n_docs, 9) AS frac
         |FROM tmpl
         |ORDER BY df DESC, source, gram LIMIT $BoilerTopK""".stripMargin,
    // q175's template relation rolled to the gram grain across sources
    "q185_syndication" ->
      s"""WITH $boilerSql
         |SELECT gram, count(*) AS n_sources,
         |  CAST(sum(df) AS BIGINT) AS total_df
         |FROM tmpl GROUP BY 1 HAVING count(*) >= $SyndMinSources
         |ORDER BY n_sources DESC, total_df DESC, gram
         |LIMIT $BoilerTopK""".stripMargin,
    "q17_token_stats" ->
      s"""$toksCte
         |SELECT doc_id, len(w) AS n_tokens_ws,
         |  len(regexp_extract_all(text, '$RePat')) AS n_tokens_re,
         |  length(text) AS len_chars,
         |  round(CAST(length(regexp_replace(text, '\\s', '', 'g')) AS DOUBLE)
         |        / NULLIF(len(w), 0), 6) AS avg_token_len
         |FROM toks ORDER BY doc_id""".stripMargin,
    // the q132 doubled-rank identity over the 6-dp score; integer to
    // one NULLIF-guarded closing division
    "q165_score_bias_auc" ->
      s"""WITH $langQualitySql,
         |ls AS (SELECT qs, lang, count(*) AS c FROM f GROUP BY 1, 2),
         |s AS (SELECT qs, CAST(sum(c) AS BIGINT) AS cv FROM ls GROUP BY 1),
         |rk AS (SELECT qs, cv,
         |    CAST(coalesce(sum(cv) OVER (ORDER BY qs
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + 1
         |      AS BIGINT) AS st
         |  FROM s),
         |tot AS (SELECT count(*) AS n_all FROM f),
         |ag AS (SELECT lang, CAST(sum(c) AS BIGINT) AS n_pos,
         |    sum(CAST(c AS HUGEINT) * (2 * st + cv - 1)) AS r2pos
         |  FROM ls JOIN rk USING (qs) GROUP BY 1)
         |SELECT lang, n_pos, n_all - n_pos AS n_neg,
         |  CAST(r2pos - CAST(n_pos AS HUGEINT) * (n_pos + 1) AS BIGINT) AS u2,
         |  round(CAST(r2pos - CAST(n_pos AS HUGEINT) * (n_pos + 1) AS DOUBLE)
         |    / (2.0 * CAST(NULLIF(CAST(n_pos AS HUGEINT)
         |      * (n_all - n_pos), 0) AS DOUBLE)), 9) AS auc
         |FROM ag CROSS JOIN tot ORDER BY lang""".stripMargin,
    // lift = the same left-associative IEEE chain; counts integer;
    // the CollocMin cut applies before the joins on both engines
    "q166_collocations" ->
      s"""WITH tk AS (SELECT ${TextFns.sql.toks} AS w FROM documents),
         |toks AS (SELECT UNNEST(w) AS t FROM tk),
         |ft AS (SELECT t FROM toks WHERE t <> ''),
         |uni AS (SELECT t, count(*) AS c FROM ft GROUP BY 1),
         |bi AS (SELECT list_extract(w, CAST(i AS INT) + 1) AS x,
         |    list_extract(w, CAST(i AS INT) + 2) AS y
         |  FROM (SELECT w, UNNEST(range(len(w) - 1)) AS i FROM tk
         |    WHERE len(w) >= 2) z),
         |fb AS (SELECT x, y FROM bi WHERE x <> '' AND y <> ''),
         |tot AS (SELECT (SELECT count(*) FROM ft) AS n_tokens,
         |    (SELECT count(*) FROM fb) AS n_bigrams),
         |cb AS (SELECT x, y, count(*) AS c_xy FROM fb GROUP BY 1, 2)
         |SELECT cb.x, cb.y, cb.c_xy, ux.c AS c_x, uy.c AS c_y,
         |  round(CAST(cb.c_xy AS DOUBLE) * n_tokens / ux.c
         |    * n_tokens / uy.c / n_bigrams, 9) AS lift
         |FROM cb
         |JOIN uni ux ON ux.t = cb.x
         |JOIN uni uy ON uy.t = cb.y
         |CROSS JOIN tot
         |WHERE cb.c_xy >= $CollocMin
         |ORDER BY lift DESC, cb.x, cb.y LIMIT $CollocTopK""".stripMargin,
    // the q18 feature integers through the fixed-weight logistic chain;
    // keep compares the pre-sigmoid z (no exp in the compare)
    "q218_quality_model" ->
      s"""$toksCte, feat AS (
         |  SELECT doc_id, CAST(len(w) AS BIGINT) AS nt,
         |    CAST(len(${TextFns.sql.keepIn("w", Stopwords)}) AS BIGINT) AS stop,
         |    CAST(length(regexp_replace(text, '\\s', '', 'g')) AS BIGINT)
         |      AS nonspace
         |  FROM toks),
         |zz AS (SELECT doc_id, nt,
         |    $QmBias + $QmWLen * ln(1.0 + CAST(nt AS DOUBLE))
         |      + $QmWStop * (CAST(stop AS DOUBLE) / nt)
         |      + $QmWTok * (CAST(nonspace AS DOUBLE) / nt) AS z
         |  FROM feat WHERE nt > 0)
         |SELECT doc_id, nt AS n_tokens,
         |  round(1.0 / (1.0 + exp(-z)), 6) AS score,
         |  z >= 0.0 AS keep
         |FROM zz ORDER BY doc_id""".stripMargin,
    "q18_quality_score" ->
      s"""$toksCte, feat AS (
         |  SELECT doc_id, len(w) AS n_tokens,
         |    len(${TextFns.sql.keepIn("w", Stopwords)}) AS stop_hits,
         |    length(regexp_replace(text, '\\s', '', 'g')) AS nonspace
         |  FROM toks)
         |SELECT doc_id, n_tokens, stop_hits,
         |  round(CAST(stop_hits AS DOUBLE) / NULLIF(n_tokens, 0), 6) AS stop_ratio,
         |  round(CAST(nonspace AS DOUBLE) / NULLIF(n_tokens, 0), 6) AS mean_token_len,
         |  round(0.25 * least(1.0, CAST(n_tokens AS DOUBLE) / 100.0)
         |      + 0.25 * least(1.0, (CAST(nonspace AS DOUBLE) / NULLIF(n_tokens, 0)) / 8.0)
         |      + 0.5 * (1.0 - least(1.0, (CAST(stop_hits AS DOUBLE) / NULLIF(n_tokens, 0)) * 4.0)),
         |      6) AS quality_score
         |FROM feat ORDER BY doc_id""".stripMargin,
    "q88_filter_funnel" -> {
      val stages = FunnelRules.zipWithIndex
        .map { case (r, i) => s"(${i + 1}, '$r')" }.mkString(", ")
      val failing = (1 to 4).map(i =>
        s"WHEN ${i} THEN a$i").mkString("CASE s.stage ", " ", " END")
      val rejected = (1 to 4).map(i =>
        s"WHEN ${i} THEN r$i").mkString("CASE s.stage ", " ", " END")
      val remaining = (1 to 4).map(i =>
        s"WHEN ${i} THEN ${(1 to i).map(j => s"r$j").mkString(" + ")}")
        .mkString("CASE s.stage ", " ", " END")
      s"""$toksCte, feat AS (
         |  SELECT doc_id, CAST(len(w) AS BIGINT) AS nt,
         |    CAST(len(${TextFns.sql.keepIn("w", Stopwords)}) AS BIGINT) AS stop,
         |    CAST(length(regexp_replace(text, '\\s', '', 'g')) AS BIGINT) AS ns,
         |    CAST(len(list_distinct(list_transform(range(len(w) - 1),
         |      i -> ${TextFns.sql.hash60("w[CAST(i AS INT) + 1] || ' ' || w[CAST(i AS INT) + 2]")}
         |    ))) AS BIGINT) AS n_dist
         |  FROM toks),
         |flags AS (SELECT
         |    nt < $FunnelMinTokens AS f1,
         |    ns < nt * 3 OR ns > nt * 10 AS f2,
         |    stop * 20 < nt AS f3,
         |    (nt - 1 - n_dist) * 2 > nt - 1 AS f4,
         |    CASE WHEN nt < $FunnelMinTokens THEN 1
         |         WHEN ns < nt * 3 OR ns > nt * 10 THEN 2
         |         WHEN stop * 20 < nt THEN 3
         |         WHEN (nt - 1 - n_dist) * 2 > nt - 1 THEN 4
         |         ELSE 0 END AS ff
         |  FROM feat),
         |agg AS (SELECT CAST(count(*) AS BIGINT) AS total,
         |    CAST(sum(CASE WHEN f1 THEN 1 ELSE 0 END) AS BIGINT) AS a1,
         |    CAST(sum(CASE WHEN f2 THEN 1 ELSE 0 END) AS BIGINT) AS a2,
         |    CAST(sum(CASE WHEN f3 THEN 1 ELSE 0 END) AS BIGINT) AS a3,
         |    CAST(sum(CASE WHEN f4 THEN 1 ELSE 0 END) AS BIGINT) AS a4,
         |    CAST(sum(CASE WHEN ff = 1 THEN 1 ELSE 0 END) AS BIGINT) AS r1,
         |    CAST(sum(CASE WHEN ff = 2 THEN 1 ELSE 0 END) AS BIGINT) AS r2,
         |    CAST(sum(CASE WHEN ff = 3 THEN 1 ELSE 0 END) AS BIGINT) AS r3,
         |    CAST(sum(CASE WHEN ff = 4 THEN 1 ELSE 0 END) AS BIGINT) AS r4
         |  FROM flags),
         |stages(stage, rule) AS (VALUES $stages)
         |SELECT CAST(s.stage AS INT) AS stage, s.rule,
         |  $failing AS n_failing,
         |  $rejected AS n_rejected_here,
         |  total - ($remaining) AS n_remaining
         |FROM stages s, agg
         |ORDER BY s.stage""".stripMargin
    },
    "q19_lang_id" -> {
      val scores = LangMarkers.map { case (l, ms) =>
        s"len(${TextFns.sql.keepIn("w", ms)}) AS s_$l" }.mkString(",\n    ")
      val best = LangMarkers.map { case (l, _) => s"s_$l" }.mkString("greatest(", ", ", ")")
      val pred = LangMarkers.init
        .map { case (l, _) => s"WHEN s_$l = $best THEN '$l'" }
        .mkString("CASE ", " ", s" ELSE '${LangMarkers.last._1}' END")
      s"""$toksCte, scored AS (
         |  SELECT doc_id, lang,
         |    $scores
         |  FROM toks)
         |SELECT scored.*, $pred AS pred_lang FROM scored ORDER BY doc_id""".stripMargin
    },
    // window sums CAST back to BIGINT (DuckDB widens to HUGEINT — the
    // q111 lesson); the rate divides the cast values
    "q160_lang_mismatch" -> {
      val scores = LangMarkers.map { case (l, ms) =>
        s"len(${TextFns.sql.keepIn("w", ms)}) AS s_$l" }.mkString(",\n    ")
      val best = LangMarkers.map { case (l, _) => s"s_$l" }.mkString("greatest(", ", ", ")")
      val pred = LangMarkers.init
        .map { case (l, _) => s"WHEN s_$l = $best THEN '$l'" }
        .mkString("CASE ", " ", s" ELSE '${LangMarkers.last._1}' END")
      s"""WITH st AS (SELECT source, lang, ${TextFns.sql.toks} AS w FROM documents),
         |scored AS (SELECT source, lang,
         |    $scores
         |  FROM st),
         |conf AS (SELECT source, lang, $pred AS pred_lang,
         |    count(*) AS n_docs
         |  FROM scored GROUP BY 1, 2, 3),
         |win AS (SELECT *,
         |    CAST(sum(n_docs) OVER (PARTITION BY source) AS BIGINT)
         |      AS source_total,
         |    CAST(sum(CASE WHEN lang <> pred_lang THEN n_docs ELSE 0 END)
         |      OVER (PARTITION BY source) AS BIGINT) AS source_mismatch
         |  FROM conf)
         |SELECT source, lang, pred_lang, n_docs,
         |  lang <> pred_lang AS is_mismatch, source_total,
         |  round(CAST(source_mismatch AS DOUBLE) / source_total, 6)
         |    AS source_mismatch_rate
         |FROM win ORDER BY source, lang, pred_lang""".stripMargin
    },
    "q20_fingerprint" ->
      s"""WITH normd AS (
         |  SELECT doc_id, trim(regexp_replace(
         |    regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), '\\s+', ' ', 'g')) AS norm
         |  FROM documents)
         |SELECT doc_id, md5(norm) AS fp_md5,
         |  CAST(('0x' || substring(md5(norm),1,15)) AS UBIGINT) AS fp60,
         |  list_min(list_transform(range(length(norm) - 7),
         |    i -> ${TextFns.sql.hash32("substring(norm, CAST(i AS INT) + 1, 8)")})) AS min_gram_hash
         |FROM normd ORDER BY doc_id""".stripMargin,
    "q84_winnow_fingerprints" ->
      s"""WITH $winnowSql
         |SELECT doc_id, CAST(pos AS BIGINT) AS pos,
         |  list_extract(kh, CAST(pos AS INT) + 1) AS fp
         |FROM u ORDER BY doc_id, pos""".stripMargin,
    "q39_kmv_distinct" ->
      s"""WITH fps AS (
         |  SELECT DISTINCT CAST(('0x' || substring(md5(trim(regexp_replace(
         |    regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), '\\s+', ' ', 'g'))),
         |    1, 15)) AS BIGINT) AS h
         |  FROM documents),
         |kmins AS (SELECT h FROM fps ORDER BY h LIMIT $KmvK),
         |kagg AS (SELECT CAST(count(*) AS BIGINT) AS n_k, max(h) AS kth_min FROM kmins),
         |eagg AS (SELECT count(*) AS n_exact FROM fps)
         |SELECT n_exact, n_k, kth_min,
         |  CASE WHEN n_k < $KmvK THEN CAST(n_k AS DOUBLE)
         |       ELSE ${(KmvK - 1).toDouble * 1152921504606846976.0} / CAST(kth_min AS DOUBLE)
         |  END AS est_distinct
         |FROM kagg CROSS JOIN eagg""".stripMargin,
    // vocabulary cut totally ordered by (tf, token); integer counts all
    // the way down, one closing division (the q18/q95 discipline); sums
    // cast back to BIGINT (DuckDB widens to HUGEINT)
    "q139_oov_rate" ->
      s"""WITH t AS (
         |  SELECT doc_id, lang, unnest(${TextFns.sql.toks}) AS token
         |  FROM documents),
         |tt AS (SELECT * FROM t WHERE token <> ''),
         |v AS (SELECT token FROM tt GROUP BY token
         |  ORDER BY count(*) DESC, token LIMIT $OovVocabK),
         |d AS (
         |  SELECT tt.doc_id, tt.lang, count(*) AS n_tok,
         |    CAST(sum(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS oov
         |  FROM tt LEFT JOIN v ON v.token = tt.token
         |  GROUP BY 1, 2)
         |SELECT lang, count(*) AS n_docs,
         |  CAST(sum(n_tok) AS BIGINT) AS n_tokens,
         |  CAST(sum(oov) AS BIGINT) AS n_oov,
         |  round(CAST(sum(oov) AS DOUBLE) / CAST(sum(n_tok) AS DOUBLE), 9) AS oov_rate,
         |  CAST(sum(CASE WHEN oov * 10 > n_tok THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_high_oov
         |FROM d GROUP BY lang ORDER BY lang""".stripMargin,
    "q53_df_vocab" ->
      s"""WITH t AS (
         |  SELECT doc_id, unnest(${TextFns.sql.toks}) AS token FROM documents)
         |SELECT token, count(*) AS tf, count(DISTINCT doc_id) AS df
         |FROM t WHERE token <> ''
         |GROUP BY token ORDER BY df DESC, tf DESC, token LIMIT $VocabTopK""".stripMargin,
    // id-range deciles via integral divide (no global rank), vocab
    // firsts one min-aggregate, cumulative windows on the 10-row grid
    "q183_vocab_growth" ->
      s"""WITH tk AS (
         |  SELECT doc_id, unnest(${TextFns.sql.toks}) AS token FROM documents),
         |tkx AS (SELECT doc_id, token FROM tk WHERE token <> ''),
         |b AS (SELECT min(doc_id) AS lo, max(doc_id) AS hi FROM documents),
         |nd AS (SELECT CAST(1 + ((doc_id - lo) * $GrowthBuckets)
         |      // (hi - lo + 1) AS BIGINT) AS d, count(*) AS n_docs
         |  FROM documents CROSS JOIN b GROUP BY 1),
         |nt AS (SELECT CAST(1 + ((doc_id - lo) * $GrowthBuckets)
         |      // (hi - lo + 1) AS BIGINT) AS d, count(*) AS n_tokens
         |  FROM tkx CROSS JOIN b GROUP BY 1),
         |fd AS (SELECT token, min(doc_id) AS f FROM tkx GROUP BY 1),
         |nv AS (SELECT CAST(1 + ((f - lo) * $GrowthBuckets)
         |      // (hi - lo + 1) AS BIGINT) AS d, count(*) AS new_types
         |  FROM fd CROSS JOIN b GROUP BY 1),
         |j AS (SELECT nd.d, nd.n_docs,
         |    CAST(coalesce(nt.n_tokens, 0) AS BIGINT) AS n_tokens,
         |    CAST(coalesce(nv.new_types, 0) AS BIGINT) AS new_types
         |  FROM nd LEFT JOIN nt ON nt.d = nd.d LEFT JOIN nv ON nv.d = nd.d)
         |SELECT d AS decile, n_docs, n_tokens, new_types,
         |  CAST(sum(n_tokens) OVER (ORDER BY d
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         |    AS cum_tokens,
         |  CAST(sum(new_types) OVER (ORDER BY d
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         |    AS cum_vocab,
         |  CAST(new_types AS DOUBLE) / NULLIF(n_tokens, 0) AS new_type_rate
         |FROM j ORDER BY decile""".stripMargin,
    "q97_tfidf_keywords" ->
      s"""WITH t AS (
         |  SELECT doc_id, unnest(${TextFns.sql.toks}) AS token FROM documents),
         |tf AS (
         |  SELECT doc_id, token, count(*) AS tf FROM t
         |  WHERE token <> '' GROUP BY 1, 2),
         |df AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
         |n AS (SELECT count(*) AS n_docs FROM documents),
         |scored AS (
         |  SELECT tf.doc_id, tf.token, tf.tf, df.df,
         |    round(tf.tf * ln(CAST(n_docs + 1 AS DOUBLE) / CAST(df.df + 1 AS DOUBLE)), 9) AS tfidf
         |  FROM tf JOIN df USING (token) CROSS JOIN n),
         |rk AS (
         |  SELECT *, row_number() OVER (PARTITION BY doc_id
         |    ORDER BY tfidf DESC, token) AS rank
         |  FROM scored)
         |SELECT doc_id, CAST(rank AS INT) AS rank, token, tf, df, tfidf
         |FROM rk WHERE rank <= $TfidfTopK ORDER BY doc_id, rank""".stripMargin,
    // integer ranks fully tie-broken (c DESC, t ASC); the regression
    // moments are ln-scale double sums whose error sits far below the
    // round-6 gate; identical moment formula both engines
    "q205_zipf_slope" ->
      s"""WITH tok AS (SELECT source, unnest(${TextFns.sql.toks}) AS t
         |  FROM documents),
         |cnt AS (SELECT source, t, count(*) AS c FROM tok
         |  WHERE t <> '' GROUP BY 1, 2),
         |rk AS (SELECT source, t, c, row_number() OVER (
         |    PARTITION BY source ORDER BY c DESC, t) AS r FROM cnt),
         |xy AS (SELECT source, ln(CAST(r AS DOUBLE)) AS x,
         |    ln(CAST(c AS DOUBLE)) AS y
         |  FROM rk WHERE r <= $ZipfTopV),
         |m AS (SELECT source, count(*) AS v_used, sum(x) AS sx,
         |    sum(y) AS sy, sum(x * x) AS sxx, sum(x * y) AS sxy
         |  FROM xy GROUP BY 1),
         |b AS (SELECT source, v_used,
         |    (v_used * sxy - sx * sy) / (v_used * sxx - sx * sx) AS b
         |  FROM m)
         |SELECT source, v_used, round(b, 6) AS slope,
         |  round(abs(b + 1.0), 6) AS zipf_dev
         |FROM b ORDER BY source""".stripMargin,
    // exact integer char counts; each entropy term is one division and
    // one ln (libm, absorbed by round 6 over <= |charset| terms)
    "q206_char_entropy" ->
      s"""WITH cs AS (SELECT source,
         |    unnest(regexp_split_to_array(text, '')) AS ch FROM documents),
         |cnt AS (SELECT source, ch, count(*) AS c FROM cs
         |  WHERE ch <> '' GROUP BY 1, 2),
         |tot AS (SELECT source, CAST(sum(c) AS BIGINT) AS n_chars
         |  FROM cnt GROUP BY 1),
         |tm AS (SELECT cnt.source, n_chars,
         |    -(c / n_chars) * ln(c / n_chars) AS term
         |  FROM cnt JOIN tot ON tot.source = cnt.source)
         |SELECT source, CAST(max(n_chars) AS BIGINT) AS n_chars,
         |  count(*) AS n_distinct_chars,
         |  round(sum(term), 6) AS entropy_nats
         |FROM tm GROUP BY source ORDER BY source""".stripMargin,
    // q203's tables restricted to the q45 train bucket, scored on the
    // val bucket; Laplace unigram floor, unseen-context bigram term
    // coalesced to 0 — the same fixed-order chain as the DataFrame form
    "q209_heldout_ppl" ->
      s"""WITH sp AS (SELECT doc_id, ${TextFns.sql.toks} AS w,
         |    ${TextFns.sql.hash32("'split|' || CAST(doc_id AS VARCHAR)")} % 100
         |      AS bucket
         |  FROM documents),
         |tr AS (SELECT * FROM sp WHERE bucket < ${Curation.TrainPct}),
         |vl AS (SELECT * FROM sp WHERE bucket >= ${Curation.TrainPct}
         |  AND bucket < ${Curation.ValPct}),
         |uni AS (SELECT t, count(*) AS c
         |  FROM (SELECT unnest(w) AS t FROM tr) u WHERE t <> '' GROUP BY 1),
         |st AS (SELECT CAST(sum(c) AS BIGINT) AS n_total,
         |    count(*) AS v_size FROM uni),
         |cb AS (SELECT x, y, count(*) AS c_xy FROM (
         |    SELECT list_extract(w, CAST(i AS INT) + 1) AS x,
         |      list_extract(w, CAST(i AS INT) + 2) AS y
         |    FROM (SELECT w, unnest(range(len(w) - 1)) AS i FROM tr
         |      WHERE len(w) >= 2) z) b
         |  WHERE x <> '' AND y <> '' GROUP BY 1, 2
         |  HAVING count(*) >= $BigramMin),
         |db AS (SELECT doc_id, list_extract(w, CAST(i AS INT) + 1) AS x,
         |    list_extract(w, CAST(i AS INT) + 2) AS y
         |  FROM (SELECT doc_id, w, unnest(range(len(w) - 1)) AS i FROM vl
         |    WHERE len(w) >= 2) z
         |  WHERE list_extract(w, CAST(i AS INT) + 1) <> ''
         |    AND list_extract(w, CAST(i AS INT) + 2) <> ''),
         |sc AS (SELECT db.doc_id,
         |    -ln(COALESCE($LmLambda * COALESCE(cb.c_xy, 0) / ux.c, 0)
         |      + ${1.0 - LmLambda} * (COALESCE(uy.c, 0) + 1) / (n_total + v_size))
         |      AS nll
         |  FROM db
         |  LEFT JOIN cb ON cb.x = db.x AND cb.y = db.y
         |  LEFT JOIN uni ux ON ux.t = db.x
         |  LEFT JOIN uni uy ON uy.t = db.y
         |  CROSS JOIN st)
         |SELECT doc_id, count(*) AS n_bigrams,
         |  round(avg(nll), 6) AS nll, round(exp(avg(nll)), 6) AS ppl
         |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // same unigram/pruned-bigram tables, same left-associative
    // interpolation chain; ln/exp absorbed by round 6 on the mean
    "q203_bigram_lm" ->
      s"""WITH tk AS (SELECT doc_id, ${TextFns.sql.toks} AS w FROM documents),
         |ft AS (SELECT t FROM (SELECT unnest(w) AS t FROM tk) WHERE t <> ''),
         |uni AS (SELECT t, count(*) AS c FROM ft GROUP BY 1),
         |tot AS (SELECT CAST(sum(c) AS BIGINT) AS n_total FROM uni),
         |db AS (SELECT doc_id, list_extract(w, CAST(i AS INT) + 1) AS x,
         |    list_extract(w, CAST(i AS INT) + 2) AS y
         |  FROM (SELECT doc_id, w, unnest(range(len(w) - 1)) AS i FROM tk
         |    WHERE len(w) >= 2) z
         |  WHERE list_extract(w, CAST(i AS INT) + 1) <> ''
         |    AND list_extract(w, CAST(i AS INT) + 2) <> ''),
         |cb AS (SELECT x, y, count(*) AS c_xy FROM db GROUP BY 1, 2
         |  HAVING count(*) >= $BigramMin),
         |sc AS (SELECT db.doc_id,
         |    -ln($LmLambda * COALESCE(cb.c_xy, 0) / ux.c
         |      + ${1.0 - LmLambda} * uy.c / n_total) AS nll
         |  FROM db
         |  LEFT JOIN cb ON cb.x = db.x AND cb.y = db.y
         |  JOIN uni ux ON ux.t = db.x
         |  JOIN uni uy ON uy.t = db.y
         |  CROSS JOIN tot)
         |SELECT doc_id, count(*) AS n_bigrams,
         |  round(avg(nll), 6) AS nll, round(exp(avg(nll)), 6) AS ppl
         |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q57_lm_score" ->
      s"""WITH toks AS (
         |  SELECT doc_id, list_filter(${TextFns.sql.toks}, t -> t <> '') AS w
         |  FROM documents),
         |cnt AS (SELECT t AS token, count(*) AS tf
         |        FROM (SELECT unnest(w) AS t FROM toks) GROUP BY 1),
         |vocab AS (SELECT token, tf FROM cnt ORDER BY tf DESC, token LIMIT $LmTopV),
         |tot AS (SELECT CAST(sum(tf) AS BIGINT) AS total FROM cnt),
         |d AS (SELECT doc_id, unnest(w) AS t FROM toks),
         |scored AS (
         |  SELECT d.doc_id,
         |    -ln(CAST(COALESCE(v.tf, 1) AS DOUBLE) / total) AS nll
         |  FROM d LEFT JOIN vocab v ON d.t = v.token CROSS JOIN tot)
         |SELECT doc_id, count(*) AS n_tokens,
         |  round(avg(nll), 6) AS nll, round(exp(avg(nll)), 6) AS ppl
         |FROM scored GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // the SAME unrolled merge rounds as the DataFrame loop: identical
    // bracketed-string algebra (replace is left-to-right non-overlap
    // in both engines), integer counts, total-order argmax per round;
    // a round with no pairs left leaves bK empty and every later CTE
    // empties through the CROSS JOIN, exactly like the loop's early
    // stop. The per-round CTEs are AS MATERIALIZED: every round
    // references the previous vocab relation from two places, so the
    // default inlining would expand the base subtree 3^rounds times —
    // materialization is what the DataFrame loop gets for free from
    // its driver-side argmax collect (and why this query has no Spark
    // SQL text: Spark cannot materialize a CTE).
    "q198_bpe_train" ->
      s"""WITH $bpeTrainCtes
         |SELECT merge_round, pr AS pair, merged, n FROM (
         |  ${(1 to BpeMerges).map(r => s"SELECT * FROM b$r").mkString("\n  UNION ALL ")}) u
         |ORDER BY merge_round""".stripMargin,
    // the SAME unrolled training rounds as q198, then application: every
    // (lang, word) vocab row's bracketed encoding goes through the
    // trained replaces in merge order (scalar subqueries against each
    // round's argmax row; chr(1) is the never-occurring identity
    // fallback for rounds past an early exhaustion, mirroring the
    // DataFrame loop's shorter merge list), token count = surviving '<'
    // openers. Integer sums cast back from HUGEINT; two exact closing
    // divisions rounded 9 dp.
    "q200_bpe_tokenize" -> {
      val applied = (1 to BpeMerges).foldLeft(
        "regexp_replace(word, '(.)', '<\\1>', 'g')") { (s, r) =>
        s"replace($s,\n      COALESCE((SELECT pr FROM b$r), chr(1)), COALESCE((SELECT merged FROM b$r), chr(1)))"
      }
      s"""WITH $bpeTrainCtes,
         |wl AS (SELECT lang, t AS word, count(*) AS n
         |  FROM (SELECT lang, unnest(${TextFns.sql.toks}) AS t FROM documents) u
         |  WHERE t <> '' GROUP BY 1, 2),
         |ap AS (SELECT lang, n, length(word) AS n_chars,
         |    $applied AS seq2
         |  FROM wl),
         |tk AS (SELECT lang, n, n_chars,
         |    length(seq2) - length(replace(seq2, '<', '')) AS n_toks FROM ap),
         |agg AS (SELECT lang, CAST(sum(n) AS BIGINT) AS n_words,
         |    CAST(sum(n * n_chars) AS BIGINT) AS n_chars,
         |    CAST(sum(n * n_toks) AS BIGINT) AS n_tokens
         |  FROM tk GROUP BY 1)
         |SELECT lang, n_words, n_chars, n_tokens,
         |  round(CAST(n_chars AS DOUBLE) / n_tokens, 9) AS chars_per_token,
         |  round(CAST(n_tokens AS DOUBLE) / n_words, 9) AS tokens_per_word
         |FROM agg ORDER BY lang""".stripMargin
    },
    "q69_bpe_pairs" ->
      s"""WITH toks AS (SELECT ${TextFns.sql.toks} AS w FROM documents),
         |wrd AS (SELECT unnest(w) AS t FROM toks),
         |pr AS (SELECT unnest(list_transform(range(length(t) - 1),
         |    i -> substring(t, CAST(i AS INT) + 1, 2))) AS pair FROM wrd)
         |SELECT pair, count(*) AS n FROM pr
         |GROUP BY pair ORDER BY n DESC, pair LIMIT $BpeTopK""".stripMargin,
    "q68_source_kl" -> {
      val is = 0 until KlTopV
      // COALESCE: with < V distinct corpus tokens the missing ranks
      // contribute zero-count buckets, matching the Spark side's
      // shorter vocab exactly (their CASE terms evaluate to 0)
      val tfCols = is.map(i =>
        s"COALESCE(MAX(CASE WHEN rk = ${i + 1} THEN tf END), 0) AS tf$i").mkString(",\n    ")
      val ctfCols = is.map(i =>
        s"COALESCE(MAX(CASE WHEN rk = ${i + 1} THEN ctf END), 0) AS ctf$i").mkString(",\n    ")
      def term(p: String, q: String) =
        s"CASE WHEN $p > 0 THEN $p * ln($p / $q) ELSE 0.0 END"
      val vocTerms = is.map(i => term(
        s"(CAST(tf$i AS DOUBLE) / NULLIF(n_tokens, 0))",
        s"(CAST(ctf$i AS DOUBLE) / NULLIF(tot_tokens, 0))")).mkString("\n    + ")
      val tfSum = is.map(i => s"tf$i").mkString(" + ")
      val ctfSum = is.map(i => s"ctf$i").mkString(" + ")
      val oovTerm = term(
        s"(CAST(n_tokens - ($tfSum) AS DOUBLE) / NULLIF(n_tokens, 0))",
        s"(CAST(tot_tokens - ($ctfSum) AS DOUBLE) / NULLIF(tot_tokens, 0))")
      s"""WITH toks AS (SELECT source, list_filter(${TextFns.sql.toks}, t -> t <> '') AS w
         |  FROM documents),
         |tok AS (SELECT source, unnest(w) AS t FROM toks),
         |cnt AS (SELECT t AS token, count(*) AS ctf FROM tok GROUP BY 1),
         |vocab AS (SELECT token, ctf, row_number() OVER (ORDER BY ctf DESC, token) AS rk
         |          FROM cnt ORDER BY ctf DESC, token LIMIT $KlTopV),
         |src AS (SELECT source, count(*) AS n_docs,
         |    CAST(sum(len(w)) AS BIGINT) AS n_tokens FROM toks GROUP BY source),
         |sv0 AS (SELECT t.source, t.t AS token, CAST(count(*) AS BIGINT) AS tf
         |        FROM tok t JOIN vocab v ON v.token = t.t GROUP BY 1, 2),
         |grid AS (SELECT s.source, v.rk, COALESCE(sv0.tf, 0) AS tf
         |         FROM src s CROSS JOIN vocab v
         |         LEFT JOIN sv0 ON sv0.source = s.source AND sv0.token = v.token),
         |wide AS (SELECT source,
         |    $tfCols
         |  FROM grid GROUP BY source),
         |ctot AS (SELECT
         |    $ctfCols
         |  FROM vocab),
         |tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS tot_tokens FROM src)
         |SELECT s.source, s.n_docs, s.n_tokens,
         |  round($vocTerms
         |    + $oovTerm, 9) AS kl
         |FROM wide w JOIN src s USING (source) CROSS JOIN tot CROSS JOIN ctot
         |ORDER BY s.source""".stripMargin
    },
    "q62_pii_scrub" ->
      s"""WITH sel AS (
         |  SELECT doc_id, text,
         |    ${TextFns.sql.hash32("'pii|' || CAST(doc_id AS VARCHAR)")} % $PiiMod AS m
         |  FROM documents),
         |inj AS (
         |  SELECT doc_id, text || CASE
         |    WHEN m = 0 THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'
         |    WHEN m = 1 THEN ' call 555-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
         |                  || '-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
         |    WHEN m = 2 THEN ' host ' || CAST(doc_id % 256 AS VARCHAR)
         |                  || '.' || CAST((doc_id * 7) % 256 AS VARCHAR) || '.0.1'
         |    ELSE '' END AS t
         |  FROM sel)
         |SELECT doc_id,
         |  len(regexp_extract_all(t, '$EmailPat')) AS n_email,
         |  len(regexp_extract_all(t, '$PhonePat')) AS n_phone,
         |  len(regexp_extract_all(t, '$IpPat')) AS n_ip,
         |  length(t) AS len_orig,
         |  length(regexp_replace(regexp_replace(regexp_replace(t,
         |    '$EmailPat', '<EMAIL>', 'g'),
         |    '$PhonePat', '<PHONE>', 'g'),
         |    '$IpPat', '<IP>', 'g')) AS len_redacted
         |FROM inj ORDER BY doc_id""".stripMargin,
    "q55_bm25_search" ->
      s"""WITH toks AS (SELECT doc_id, ${TextFns.sql.toks} AS w FROM documents),
         |$bm25CtesSql
         |SELECT doc_id, round(sc, 9) AS bm25, n_terms
         |FROM scored WHERE n_terms > 0
         |ORDER BY bm25 DESC, doc_id LIMIT $Bm25TopK""".stripMargin,
    // near-dup collapse embeds the q54 transitive-closure fixpoint, so
    // the Spark SQL form is excluded like q54 itself (notSqlExpressible)
    "q115_dedup_search" ->
      s"""WITH RECURSIVE ${Dedup.ccSql},
         |$bm25CtesSql,
         |top AS (SELECT doc_id, round(sc, 9) AS bm25, n_terms FROM scored
         |  WHERE n_terms > 0 ORDER BY bm25 DESC, doc_id LIMIT $Bm25TopK),
         |withcl AS (SELECT t.doc_id, t.bm25,
         |    coalesce(cc.cluster_id, t.doc_id) AS cluster_id
         |  FROM top t LEFT JOIN cc ON cc.doc_id = t.doc_id),
         |best AS (SELECT *, row_number() OVER (PARTITION BY cluster_id
         |    ORDER BY bm25 DESC, doc_id) AS rn FROM withcl)
         |SELECT CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id) AS INT) AS rank,
         |  doc_id, bm25, cluster_id
         |FROM best WHERE rn = 1 ORDER BY rank""".stripMargin)

  /** Shared q55/q115 oracle fragment: `perdoc`/`stats`/`scored` BM25
    * CTEs (expects a `toks` CTE in scope).
    */
  private[operators] def bm25CtesSql: String = {
    val tfCols = Bm25Query.zipWithIndex.map { case (t, i) =>
      s"len(list_filter(w, x -> x = '$t')) AS tf$i" }.mkString(",\n    ")
    val dfCols = Bm25Query.indices.map(i =>
      s"sum(CASE WHEN tf$i > 0 THEN 1 ELSE 0 END) AS df$i").mkString(",\n    ")
    val scores = Bm25Query.indices.map { i =>
      s"""CASE WHEN tf$i > 0 THEN
         |      ln((n_docs - df$i + 0.5)/(df$i + 0.5) + 1.0) * (CAST(tf$i AS DOUBLE) * ${Bm25K1 + 1.0}) /
         |      (CAST(tf$i AS DOUBLE) + $Bm25K1 * ((1.0 - $Bm25B) + $Bm25B * (CAST(dl AS DOUBLE) * n_docs / sum_dl)))
         |    ELSE 0.0 END""".stripMargin
    }.mkString("\n    + ")
    val nTerms = Bm25Query.indices
      .map(i => s"CASE WHEN tf$i > 0 THEN 1 ELSE 0 END").mkString(" + ")
    s"""perdoc AS (SELECT doc_id, len(w) AS dl,
       |    $tfCols
       |  FROM toks),
       |stats AS (SELECT count(*) AS n_docs, sum(dl) AS sum_dl,
       |    $dfCols
       |  FROM perdoc),
       |scored AS (SELECT doc_id,
       |    $scores AS sc,
       |    CAST($nTerms AS BIGINT) AS n_terms
       |  FROM perdoc CROSS JOIN stats)""".stripMargin
  }
}
