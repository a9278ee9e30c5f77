package graft.app

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.{Curation, Dedup, TextAnalysis}
import graft.sources.{Jsonl, Tables}

/** End-to-end training-corpus curation pipeline — the composition story
  * for the LLM-data operators: language filter → quality filter → exact
  * dedup → MinHash near-dup removal → benchmark decontamination →
  * repetition filter → PII redaction → deterministic split assignment →
  * split-partitioned parquet + sharded JSONL output + the q63
  * sequence-packing manifest + the q81 training-shard deal + a stage
  * report. Each stage is one of the engine's verified operators; this
  * module only wires them.
  *
  * Scale notes: every stage is the already-analyzed plan shape (map-only
  * scoring, one fp-hash shuffle for exact dedup, bucket-confined LSH
  * joins for near-dup); the near-dup drop keeps each verified pair's
  * lowest doc_id as canonical, which needs only the (small, verified)
  * pair relation — never a corpus-wide connected-components pass. That
  * keeps the stage bounded at any corpus size; a full
  * transitive-closure clustering would be a separate iterative job.
  */
object CorpusPipeline {

  final case class Report(
      n_input: Long, n_lang_kept: Long, n_quality_kept: Long,
      n_after_exact: Long, n_near_dup_dropped: Long,
      n_contaminated: Long, n_repetitive: Long, n_pii_docs: Long,
      n_sequences: Long, n_shards: Long, n_output: Long)

  /** Run the curation flow; returns the per-stage survivor counts and
    * writes the cleaned corpus under `outDir` (split-partitioned parquet
    * + JSONL shards).
    */
  def run(spark: SparkSession, sfDir: String, outDir: String,
      lang: String = "en", minQuality: Double = 0.3,
      maxRepetition: Double = 0.6, minContamOverlap: Long = 20): Report = {
    // The benchmark stand-in docs are EXTERNAL to the corpus (a real run
    // reads its eval suite from elsewhere): they are held out of every
    // corpus stage and only re-enter as the decontamination reference.
    val allDocs = Tables.documents(spark, sfDir)
    val bench = allDocs.filter(col("doc_id") < Curation.BenchDocs)
    val docs = allDocs.filter(col("doc_id") >= Curation.BenchDocs)
    val nIn = docs.count()

    // stage 1: language filter (marker-argmax lang id)
    val langKept = TextAnalysis.langIdFrom(docs)
      .filter(col("pred_lang") === lang).select("doc_id")
    val withLang = docs.join(langKept, "doc_id")
    val nLang = withLang.count()

    // stage 2: quality filter (length/stopword blend)
    val qualKept = TextAnalysis.qualityScoreFrom(withLang)
      .filter(col("quality_score") >= minQuality).select("doc_id")
    val withQual = withLang.join(qualKept, "doc_id")
    val nQual = withQual.count()

    // stage 3: exact dedup — keep the lowest doc_id per normalized text
    val norm = trim(regexp_replace(
      regexp_replace(lower(col("text")), "[^a-z0-9 ]", ""), "\\s+", " "))
    val canonical = withQual
      .withColumn("fp", md5(norm))
      .withColumn("rn", row_number().over(
        Window.partitionBy("fp").orderBy("doc_id")))
      .filter(col("rn") === 1).drop("fp", "rn")
    val nExact = canonical.count()

    // stage 4: near-dup removal — drop the higher doc_id of each
    // jaccard-verified candidate pair (doc_b > doc_a by construction).
    // Deliberate over-deletion bound: in a chain A~B, B~C (no A~C), both
    // B and C are dropped even though C's only near-dup (B) is already
    // gone — a greedy keep-lowest pass would keep C. The greedy fixpoint
    // is inherently iterative (connected components); one shuffle-free
    // anti-join bounds the corpus at "no kept doc has a kept near-dup
    // with a smaller id", trading ≤ (chain length − 2) extra drops per
    // dup chain for a single pass. At 100 TB that trade is deliberate:
    // dup chains are short and yield loss is ≪ the cost of iterating.
    val nearDups = Dedup.ngramJaccardFrom(canonical)
      .select(col("doc_b").as("doc_id")).distinct()
    val cleaned = canonical.join(nearDups, Seq("doc_id"), "left_anti")
    val nNearDropped = nearDups.count()

    // stage 5: benchmark decontamination — drop docs whose bigram
    // overlap with the benchmark set reaches the threshold (broadcast
    // intersect, map-side). The synthetic fixture's tiny vocabulary
    // makes ≥1-shingle overlap near-universal; a real pipeline tunes
    // this to its benchmark's n-gram length and tolerance.
    val contaminated = Curation.decontaminateFrom(cleaned.unionByName(bench))
      .filter(col("n_overlap") >= minContamOverlap).select("doc_id")
    val decon = cleaned.join(contaminated, Seq("doc_id"), "left_anti")
    val nContam = contaminated.count()

    // stage 6: repetition filter (duplicate-bigram fraction cap)
    val repetitive = Curation.repetitionFrom(decon)
      .filter(col("rep_ratio") > maxRepetition).select("doc_id")
    val kept = decon.join(repetitive, Seq("doc_id"), "left_anti")
    val nRep = repetitive.count()

    // stage 7: PII redaction — scrub spans in place (q62's shared
    // transform; map-only) and count affected docs for the report
    val nPii = kept
      .filter(TextAnalysis.redacted(col("text")) =!= col("text")).count()
    val scrubbed = kept.withColumn("text", TextAnalysis.redacted(col("text")))

    // stage 8: deterministic split assignment, written hive-partitioned
    // by split so a trainer reads its slice via partition pruning
    val bucket = graft.functions.TextFns.hash32(
      concat(lit("split|"), col("doc_id").cast("string"))) % 100
    val withSplit = scrubbed.withColumn("split",
      when(bucket < Curation.TrainPct, "train")
        .when(bucket < Curation.ValPct, "val").otherwise("test"))

    withSplit.write.mode("overwrite").partitionBy("split")
      .parquet(s"$outDir/corpus_parquet")
    Jsonl.write(withSplit.drop("split"), s"$outDir/corpus_jsonl")
    val nOut = spark.read.parquet(s"$outDir/corpus_parquet").count()

    // stage 9: sequence-packing layout over the released corpus (q63's
    // distributed prefix sum) — the trainer's concat-and-chop manifest
    val packing = Curation.packSequencesFrom(scrubbed)
    packing.write.mode("overwrite").parquet(s"$outDir/packing_parquet")
    // max over an empty manifest (every doc filtered out) is null —
    // Row.getLong on a null primitive NPEs, so guard to 0 sequences
    val packRow = spark.read.parquet(s"$outDir/packing_parquet")
      .agg(max("seq_last")).collect()(0)
    val nSeqs = if (packRow.isNullAt(0)) 0L else packRow.getLong(0) + 1

    // stage 10: training shuffle — deal the packed sequences into epoch
    // shards with dense hash-ordered positions (q81), written partitioned
    // by shard so each trainer rank prunes to its own directory
    val shards = Curation.shuffleShardsFrom(
      spark.read.parquet(s"$outDir/packing_parquet"))
    shards.write.mode("overwrite").partitionBy("shard")
      .parquet(s"$outDir/shards_parquet")
    val nShards = spark.read.parquet(s"$outDir/shards_parquet")
      .select("shard").distinct().count()

    Report(nIn, nLang, nQual, nExact, nNearDropped, nContam, nRep, nPii,
      nSeqs, nShards, nOut)
  }

  /** The q89→q52→q63→q81 CHAINED training-shard artifact, composed as
    * ONE job over explicit inputs: the dedup decision ledger keeps the
    * canonical survivors, the mixture downsamples each source to its
    * token allocation, the packing prefix-scan lays the survivors into
    * fixed-length training sequences, and the shard deal assigns each
    * sequence a dense (shard, position) slot. Every stage is an
    * already-gated operator; this chain is the composition proof — the
    * verified plans must fuse into one lineage without a driver-side
    * cliff between them (the q54 fixpoint inside the ledger is the one
    * deliberately iterative stage, already bounded by its own rounds).
    */
  def trainingShards(docs: DataFrame): DataFrame = {
    val ledger = Dedup.keepLedgerFrom(docs) // q89
    val kept = docs.join(
      ledger.filter(col("keep")).select("doc_id"), Seq("doc_id"))
    val mixed = Curation.mixtureKeepDocs(kept) // q52
    Curation.shuffleShardsFrom(Curation.packSequencesFrom(mixed)) // q63→q81
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val outDir = if (args.length > 1) args(1) else "/dev/shm/graft-corpus-out"
    val spark = graft.Session.local(8)
    val r = run(spark, sfDir, outDir)
    println(s"[corpus] input=${r.n_input} lang=${r.n_lang_kept} " +
      s"quality=${r.n_quality_kept} exact=${r.n_after_exact} " +
      s"nearDupDropped=${r.n_near_dup_dropped} " +
      s"contaminated=${r.n_contaminated} repetitive=${r.n_repetitive} " +
      s"piiDocs=${r.n_pii_docs} sequences=${r.n_sequences} " +
      s"shards=${r.n_shards} output=${r.n_output}")
    spark.stop()
  }
}
