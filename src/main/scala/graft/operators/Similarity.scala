package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.functions.Det.nullIfZero
import graft.functions.TextFns
import graft.plans.GraftFunctions
import graft.sources.Tables

/** Similarity search over the `embeddings` table (64-dim float
  * vectors): brute-force cosine top-k as the exact baseline, and a
  * signed-random-projection (SRP) LSH bucketed variant as the scale
  * path.
  *
  * Scale design (100 TB):
  *  - brute force broadcasts the (small) query set and computes the dot
  *    products map-side against the full corpus scan; the only shuffle
  *    carries (query_id, cosine) pairs into a per-query top-k window —
  *    partitioned by query_id, so no single-partition bottleneck;
  *  - SRP-LSH reduces each vector to a bucket id via sign bits of
  *    deterministic pseudo-random hyperplanes; candidates meet in a
  *    bucket hash-join, so comparisons scale with bucket occupancy, not
  *    corpus². Planes derive from md5(plane,coord) — no stored model,
  *    reproducible on any engine;
  *  - all vector math runs through the native codegen expressions in
  *    `graft.plans` (fused cosine / dot product) — sequential-fold
  *    double arithmetic, bitwise equal to the oracle's
  *    `list_inner_product` over `DOUBLE[]`, ~20× interpreted HOFs.
  */
object Similarity {

  /** Neighbors returned per query. */
  val K = 10

  /** Query set: vec_id < NumQueries. */
  val NumQueries = 10

  /** SRP planes → 2^NumPlanes buckets. */
  val NumPlanes = 4


  /** embedding cast to double; widened only when the scan is
    * under-partitioned (the single-file test fixture gives parquet one
    * partition and per-row vector math would run single-core — a
    * multi-file corpus keeps its file-split parallelism, no shuffle).
    */
  private def embDouble(df: DataFrame): DataFrame = {
    GraftFunctions.register(df.sparkSession)
    Tables.widened(df, col("vec_id"))
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
  }

  /** Fused codegen cosine (graft.plans.CosineSimilarity) — bit-equal to
    * `dotSeq(a,b) / (sqrt(dotSeq(a,a)) * sqrt(dotSeq(b,b)))` but one
    * generated loop instead of three interpreted higher-order passes.
    */
  private def cosine(a: Column, b: Column): Column =
    call_function("cosine_similarity", a, b)

  private def queriesOf(e: DataFrame): DataFrame =
    e.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("emb").as("q_emb"))

  private def topK(scored: DataFrame, k: Int): DataFrame = {
    val rn = row_number().over(
      Window.partitionBy("query_id").orderBy(desc("cosine"), asc("neighbor_id")))
    scored.withColumn("rank", rn).filter(col("rank") <= k)
      .orderBy("query_id", "rank")
  }

  /** q25 — exact brute-force cosine top-k per query vector. */
  def knnBrute(spark: SparkSession, dir: String): DataFrame =
    knnBruteFrom(Tables.embeddings(spark, dir))

  def knnBruteFrom(embeddings: DataFrame): DataFrame = {
    val e = embDouble(embeddings)
    val scored = e.crossJoin(broadcast(queriesOf(e)))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(cosine(col("q_emb"), col("emb")), 9).as("cosine"))
    topK(scored, K)
  }

  /** q119 truncation width (leading dims kept). */
  val TruncDims = 16

  /** q119 — MATRYOSHKA truncation audit: recall@[[K]] of exact cosine
    * top-k computed on the first [[TruncDims]] embedding dims against
    * the full-dimension answer, per query. Nested-subspace embeddings
    * let a pipeline store/scan a prefix at 4× less I/O and rerank with
    * the full vector — but only if prefix recall holds on THIS corpus;
    * this query is that measurement (the retrieval-quality complement
    * to q51's quantization-error audit, which measures the codec the
    * same way).
    *
    * Scale shape: two q25-shaped passes (broadcast query set, map-side
    * fused-kernel scoring over `slice`d arrays, WindowGroupLimit
    * top-k) joined on the k·|queries| result lists — model-sized. At
    * 100 TB the truncated pass reads a [[TruncDims]]-dim column family
    * (columnar layout prunes the rest), which is the I/O saving being
    * audited.
    */
  def matryoshkaRecall(spark: SparkSession, dir: String): DataFrame =
    matryoshkaRecallFrom(Tables.embeddings(spark, dir))

  def matryoshkaRecallFrom(embeddings: DataFrame): DataFrame = {
    val e = embDouble(embeddings)
    val q = queriesOf(e)
    def top(score: (Column, Column) => Column): DataFrame =
      topK(e.crossJoin(broadcast(q))
        .filter(col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id").as("neighbor_id"),
          round(score(col("q_emb"), col("emb")), 9).as("cosine")), K)
        .select("query_id", "neighbor_id")
    val full = top(cosine)
    val trunc = top((a, b) =>
      cosine(slice(a, 1, TruncDims), slice(b, 1, TruncDims)))
    val common = full.join(trunc, Seq("query_id", "neighbor_id"))
      .groupBy("query_id").agg(count(lit(1)).as("n_common"))
    full.select("query_id").distinct()
      .join(common, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("n_common"), lit(0L)).as("n_common"),
        round(coalesce(col("n_common"), lit(0L)).cast("double") / K, 9)
          .as("recall"))
      .orderBy("query_id")
  }

  /** Deterministic SRP hyperplane p as a LITERAL 64-dim double array:
    * weights are md5-derived in Scala with exactly the oracle's formula
    * (`ubigint(md5_hex8('pl<p>_<j>')) / 2^31 − 1`), so no hashing runs
    * per row — the plane is a constant the codegen'd dot product reads.
    */
  private def planeWeights(p: Int): Seq[Double] = (0 until 64).map { j =>
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s"pl${p}_$j".getBytes("UTF-8")).map(b => f"$b%02x").mkString
    java.lang.Long.parseLong(hex.take(8), 16).toDouble / 2147483648.0 - 1.0
  }

  private def planeVec(p: Int): Column = array(planeWeights(p).map(lit): _*)

  /** q26 — SRP-LSH bucketed ANN: bucket by hyperplane sign bits, exact
    * cosine re-rank within the bucket.
    */
  def annLsh(spark: SparkSession, dir: String): DataFrame =
    annLshFrom(Tables.embeddings(spark, dir))

  /** Corpus with its SRP bucket id: sign bits of the deterministic
    * hyperplane dot products (shared by the ANN and near-dup paths).
    */
  private def bucketed(embeddings: DataFrame): DataFrame = {
    val bucket = (0 until NumPlanes)
      .map(p => when(call_function("dot_product", col("emb"), planeVec(p)) > 0,
        lit(1 << p)).otherwise(lit(0)))
      .reduce(_ + _)
    embDouble(embeddings).withColumn("bucket", bucket)
  }

  def annLshFrom(embeddings: DataFrame): DataFrame = {
    val e = bucketed(embeddings)
    val q = e.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("emb").as("q_emb"),
        col("bucket").as("q_bucket"))
    val scored = e.join(broadcast(q),
        col("bucket") === col("q_bucket") && col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("bucket"),
        round(cosine(col("q_emb"), col("emb")), 9).as("cosine"))
    val rn = row_number().over(
      Window.partitionBy("query_id").orderBy(desc("cosine"), asc("neighbor_id")))
    scored.withColumn("rank", rn).filter(col("rank") <= K)
      .select("query_id", "neighbor_id", "bucket", "cosine", "rank")
      .orderBy("query_id", "rank")
  }

  /** q194 — EMBEDDING COVERAGE audit: the q02/q03 orphan check for the
    * ML tables — documents without a vector (can't be semantically
    * deduped, searched, or SemDeDup'd: they silently bypass every
    * embedding-gated filter), vectors without a document (stale index
    * entries that surface deleted content), duplicate vector ids
    * (which double-count in every centroid/aggregate), and the
    * coverage rate. The precondition audit for the whole q25–q176
    * embedding family.
    *
    * Scale shape: two anti-joins on the id columns (AQE broadcasts the
    * smaller id projection; only ids cross the wire, never payloads)
    * plus two count aggregates folded to one row.
    */
  def embeddingCoverage(spark: SparkSession, dir: String): DataFrame =
    embeddingCoverageFrom(Tables.documents(spark, dir),
      Tables.embeddings(spark, dir))

  def embeddingCoverageFrom(docs: DataFrame, embeddings: DataFrame): DataFrame = {
    val d = docs.select(col("doc_id"))
    val v = embeddings.select(col("vec_id"))
    val docStats = d.join(v, col("doc_id") === col("vec_id"), "left_anti")
      .agg(count(lit(1)).as("docs_without_vec"))
    val vecStats = v.join(d, col("vec_id") === col("doc_id"), "left_anti")
      .agg(count(lit(1)).as("vecs_without_doc"))
    val totals = d.agg(count(lit(1)).as("n_docs"))
      .crossJoin(v.agg(count(lit(1)).as("n_vecs"),
        (count(lit(1)) - countDistinct(col("vec_id"))).as("dup_vec_ids")))
    totals.crossJoin(broadcast(docStats)).crossJoin(broadcast(vecStats))
      .select(col("n_docs"), col("n_vecs"), col("docs_without_vec"),
        col("vecs_without_doc"), col("dup_vec_ids"),
        ((col("n_docs") - col("docs_without_vec")).cast("double") /
          nullIfZero(col("n_docs"))).as("coverage_rate"))
  }

  /** q180 — how many in-bucket nearest neighbors vote on each label. */
  val NoiseK = 5

  /** q180 — kNN LABEL-NOISE audit (confident-learning-lite): for every
    * labeled vector, its [[NoiseK]] nearest neighbors inside its SRP
    * bucket vote; when the majority neighbor label disagrees with the
    * vector's own label, the vector is flagged as probably mislabeled.
    * Reported per label: vectors audited (those with ≥1 in-bucket
    * neighbor), vectors flagged, and the noise rate — the table an
    * annotation team triages before training on the labels. Majority =
    * highest vote count, ties to the smaller label; ranks tie-break on
    * (cosine desc, neighbor id), with cosine rounded at 9 dp, so the
    * neighbor sets are bit-reproducible cross-engine.
    *
    * Scale shape: the q26/q38 posture — candidate pairs form ONLY
    * within SRP buckets (Σ bucket², never corpus²; more planes shrink
    * buckets), the per-vector K-cutoff rides a WindowGroupLimit so
    * ~K rows per vector cross the wire, votes and the final rollup are
    * label-cardinality-sized. The noise rate is one exact-int double
    * division (no rounding boundary on either engine).
    */
  def labelNoise(spark: SparkSession, dir: String): DataFrame =
    labelNoiseFrom(Tables.embeddings(spark, dir))

  /** `planes` is the scale dial: buckets = 2^planes, candidate pairs
    * ≈ N²/2^planes — the gated query uses [[NumPlanes]] (the q26
    * family); a 100 TB corpus raises it until buckets are cache-sized
    * (`ScaleCurve` adds ⌈log2 mult⌉ planes at each multiplier).
    */
  def labelNoiseFrom(embeddings: DataFrame,
      planes: Int = NumPlanes): DataFrame = {
    GraftFunctions.register(embeddings.sparkSession)
    val bucket = (0 until planes)
      .map(p => when(call_function("dot_product", col("emb"), planeVec(p)) > 0,
        lit(1 << p)).otherwise(lit(0)))
      .reduce(_ + _)
    val b = Tables.widened(embeddings, col("vec_id"))
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"),
        col("label"))
      .withColumn("bucket", bucket)
    val scored = b.select(col("vec_id").as("aid"), col("emb").as("a_emb"),
        col("label").as("a_label"), col("bucket"))
      .join(b.select(col("vec_id").as("nid"), col("emb").as("n_emb"),
        col("label").as("n_label"), col("bucket")), Seq("bucket"))
      .filter(col("aid") =!= col("nid"))
      .select(col("aid"), col("a_label"), col("nid"), col("n_label"),
        round(cosine(col("a_emb"), col("n_emb")), 9).as("cos"))
    val votes = scored
      .withColumn("rk", row_number().over(
        Window.partitionBy("aid").orderBy(desc("cos"), asc("nid"))))
      .filter(col("rk") <= NoiseK)
      .groupBy("aid", "a_label", "n_label")
      .agg(count(lit(1)).as("v"))
    votes
      .withColumn("mr", row_number().over(
        Window.partitionBy("aid").orderBy(desc("v"), asc("n_label"))))
      .filter(col("mr") === 1)
      .groupBy(col("a_label").as("label"))
      .agg(count(lit(1)).as("n_vectors"),
        sum(when(col("n_label") =!= col("a_label"), 1L).otherwise(0L))
          .as("n_flagged"))
      .withColumn("noise_rate",
        col("n_flagged").cast("double") / col("n_vectors"))
      .orderBy("label")
  }

  /** q189 — IVF INDEX-HEALTH audit: per cell of the seeded q36
    * codebook, the occupancy count, corpus share, and load factor
    * (occupancy × cells / corpus — 1.0 means perfectly balanced);
    * empty cells appear explicitly with zero. Cell occupancy IS an IVF
    * index's latency model — probing a cell costs its occupancy, so a
    * hot cell makes every query that probes it slow and a skewed
    * histogram says "retrain the codebook" (q75's trained path) before
    * any query regresses. The measurement half of the IVF playbook,
    * the way q112 is for join salting.
    *
    * Scale shape: cell assignment is pure map work (codebook broadcast
    * as literals, fused codegen dot products + argmax per row); ONE
    * cell-keyed aggregate with map-side combine; the spine join,
    * window total and closing divisions all run on the 16-row cell
    * relation.
    */
  def ivfBalance(spark: SparkSession, dir: String): DataFrame =
    ivfBalanceFrom(Tables.embeddings(spark, dir))

  def ivfBalanceFrom(embeddings: DataFrame): DataFrame = {
    val spark = embeddings.sparkSession
    GraftFunctions.register(spark)
    val codebook: Seq[Seq[Double]] = embeddings
      .filter(col("vec_id") >= SeedBase &&
        col("vec_id") < SeedBase + NumCells)
      .orderBy("vec_id")
      .select(col("embedding").cast("array<double>"))
      .collect().map(_.getSeq[Double](0).toSeq).toSeq
    val counts = embDouble(embeddings)
      .withColumn("cell", assignedCell(col("emb"), codebook))
      .groupBy("cell").agg(count(lit(1)).as("n_vectors"))
    val spine = spark.range(NumCells)
      .select(col("id").cast("int").as("cell"))
    val all = Window.partitionBy()
    spine.join(counts, Seq("cell"), "left")
      .na.fill(0L, Seq("n_vectors"))
      .withColumn("total", sum("n_vectors").over(all))
      .select(col("cell"), col("n_vectors"),
        (col("n_vectors").cast("double") / nullIfZero(col("total")))
          .as("share"),
        ((col("n_vectors") * NumCells).cast("double") /
          nullIfZero(col("total"))).as("load_factor"))
      .orderBy("cell")
  }

  /** q83 coarse space dims and per-query candidate pool width. */
  val RerankDims = 16
  val RerankCand = 100

  /** q83 — two-stage retrieval: coarse scan in an [[RerankDims]]-dim
    * random-projection space, exact rerank of the survivors. The
    * compressed-scan-then-rerank pattern every large vector index uses
    * (IVF-PQ/OPQ rerank, DiskANN's PQ-guided search): the full-dim
    * cosine — the expensive part — runs on Q×[[RerankCand]] candidate
    * rows instead of Q×N corpus rows, while the corpus-wide pass works
    * on 16 dims instead of 64 (4× fewer multiply-adds and bytes of
    * vector traffic; on-disk, a materialized coarse column would read
    * 1/4 the bytes).
    *
    * Coarse space = dot products against the SAME deterministic SRP
    * plane family q26 buckets by (plane p, md5-derived weights) —
    * JL-style: random projections approximately preserve angles, so
    * the coarse cosine ranks candidates well enough that most of the
    * true top-k survive the pool. On the iid-random test fixture —
    * the adversarial case, where all cosines crowd ~0 and neighbor
    * gaps are smaller than any projection's distortion — recall@10 is
    * 0.58 ([[annRerankWith]] is the dial; clustered real embeddings
    * rank far more faithfully, the same caveat as the q61 fixture
    * recall). Both stages rank on round(·,9) with id tie-breaks, so
    * candidate selection is bit-reproducible cross-engine.
    *
    * Scale shape: projection is map-only (8 fused-codegen dot products
    * per row against literal planes); the coarse top-C per query is the
    * q25 window shape — WindowGroupLimit pushes the C-cutoff map-side,
    * so ~C rows per task per query cross the wire, never the corpus;
    * the rerank joins broadcast the Q×C candidate list and the Q full
    * query vectors — one corpus-scan probe each, no shuffle.
    */
  def annRerank(spark: SparkSession, dir: String): DataFrame =
    annRerankFrom(Tables.embeddings(spark, dir))

  def annRerankFrom(embeddings: DataFrame): DataFrame =
    annRerankWith(embeddings, RerankDims, RerankCand)

  /** [[annRerankFrom]] with explicit coarse geometry (recall/cost dial). */
  def annRerankWith(embeddings: DataFrame, dims: Int, nCand: Int): DataFrame = {
    val e = embDouble(embeddings)
    val cvec = array((0 until dims).map(p =>
      call_function("dot_product", col("emb"), planeVec(p))): _*)
    val ec = e.select(col("vec_id"), col("emb"), cvec.as("cvec"))
    val q = ec.filter(col("vec_id") < NumQueries)
    val coarse = ec.select(col("vec_id"), col("cvec"))
      .crossJoin(broadcast(q.select(col("vec_id").as("query_id"),
        col("cvec").as("q_cvec"))))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(cosine(col("q_cvec"), col("cvec")), 9).as("coarse"))
    val cand = coarse.withColumn("crn", row_number().over(
        Window.partitionBy("query_id").orderBy(desc("coarse"), asc("neighbor_id"))))
      .filter(col("crn") <= nCand)
      .select("query_id", "neighbor_id")
    val scored = e.join(broadcast(cand), col("vec_id") === col("neighbor_id"))
      .join(broadcast(q.select(col("vec_id").as("query_id"),
        col("emb").as("q_emb"))), Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(cosine(col("q_emb"), col("emb")), 9).as("cosine"))
    topK(scored, K)
  }

  /** Candidates per query surviving q91's int8 coarse scan. */
  val QuantCand = 50

  /** q91 — int8 compressed-scan retrieval with exact rerank: the
    * quantize-then-refine pattern (FAISS's refine stage, ScaNN's
    * reordering) on q51's symmetric int8 codec. The corpus-wide pass
    * scores each query's FULL vector against the DEQUANTIZED int8
    * corpus — asymmetric distance computation, the 4×-smaller
    * representation a 100 TB embedding store actually scans — and the
    * exact float cosine reranks only the Q×[[QuantCand]] survivors.
    * Complements q83 (random-projection coarse space): int8 keeps all
    * 64 dims at lower precision, so the coarse ranking tracks the true
    * one far more closely than a 16-dim projection — the recall/cost
    * trade a serving deployment picks per corpus.
    *
    * Scale shape: `quantize_stats` gives max|v| in one generated pass;
    * dequantization is per-row map work; the coarse top-C per query is
    * the q25 window shape (WindowGroupLimit pre-limits map-side); the
    * rerank joins broadcast the Q×C candidate list and Q query
    * vectors — one corpus-scan probe each, no shuffle.
    */
  def quantizedRerank(spark: SparkSession, dir: String): DataFrame =
    quantizedRerankFrom(Tables.embeddings(spark, dir))

  def quantizedRerankFrom(embeddings: DataFrame): DataFrame = {
    val e = embDouble(embeddings)
    val ma = element_at(call_function("quantize_stats", col("emb")), 1)
    val ec = e.withColumn("ma", ma).filter(col("ma") > 0)
      .withColumn("scale", col("ma") / 127.0d)
      .withColumn("dq", transform(col("emb"),
        x => round(x / col("scale"), 0) * col("scale")))
    val q = ec.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("emb").as("q_emb"))
    val coarse = ec.select(col("vec_id"), col("dq"))
      .crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(cosine(col("q_emb"), col("dq")), 9).as("coarse"))
    val cand = coarse.withColumn("crn", row_number().over(
        Window.partitionBy("query_id").orderBy(desc("coarse"), asc("neighbor_id"))))
      .filter(col("crn") <= QuantCand)
      .select("query_id", "neighbor_id")
    val scored = e.join(broadcast(cand), col("vec_id") === col("neighbor_id"))
      .join(broadcast(q), Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(cosine(col("q_emb"), col("emb")), 9).as("cosine"))
    topK(scored, K)
  }

  /** IVF cells (codebook size) and probed cells per query. */
  val NumCells = 16
  val NumProbes = 2

  /** First seed vec_id of the codebook (centroids are the embeddings of
    * vec_ids [SeedBase, SeedBase + NumCells)). A k-means-trained
    * codebook would slot into the same plan — the seeds keep the
    * quantizer deterministic and oracle-reproducible without a stored
    * model.
    */
  val SeedBase: Int = NumQueries

  /** q36 — IVF-Flat ANN: coarse-quantize every vector to its
    * max-inner-product cell against a [[NumCells]]-entry codebook, probe
    * the [[NumProbes]] best cells per query, exact cosine re-rank inside
    * the probed cells.
    *
    * Scale design: the codebook is collected once (16 rows — the
    * standard broadcast-codebook pattern; IVF codebooks are small by
    * construction) and embedded as literal arrays, so cell assignment is
    * pure map work — 16 fused codegen dot products + an argmax per row,
    * no shuffle of the corpus. Only the tiny query relation runs a
    * window (NumQueries × NumCells rows) to pick probe cells. Candidate
    * generation is a broadcast join on cell id; comparisons scale with
    * probed-cell occupancy (nprobe/NumCells of the corpus), not corpus².
    */
  def annIvf(spark: SparkSession, dir: String): DataFrame =
    annIvfFrom(Tables.embeddings(spark, dir))

  /** Sequential left-fold dot product — the exact operation order of the
    * codegen kernel and the oracle's `list_inner_product`, so driver-side
    * probe scoring is bit-identical to the distributed path.
    */
  private def dotSeq(a: Seq[Double], b: Seq[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { s += a(i) * b(i); i += 1 }
    s
  }

  /** `codebookOpt`: pass [[trainCentroids]]' output to quantize against
    * a TRAINED codebook instead of the deterministic seeds (the driver
    * gate runs the seeded default so the oracle reproduces it; the
    * trained path is spec-covered and `ScaleCurve` times it as q75).
    */
  def annIvfFrom(embeddings: DataFrame,
      codebookOpt: Option[Seq[Seq[Double]]] = None): DataFrame = {
    val spark = embeddings.sparkSession
    GraftFunctions.register(spark)
    import spark.implicits._
    // ONE tiny collect serves both the codebook and the probe plan: the
    // vec_id < SeedBase+NumCells predicate pushes into parquet, and the
    // 26 collected rows (10 queries + 16 centroids) are driver-side by
    // construction — IVF codebooks and query batches are small. Probe
    // cells are then argsorted in Scala instead of running a separate
    // posexplode + window job over a corpus-derived relation (folds the
    // old 5-job plan to the collect + the main candidate join). On the
    // trained path the codebook comes from the caller, so only the
    // query rows are collected.
    val headBound = if (codebookOpt.isDefined) NumQueries else SeedBase + NumCells
    val head = embeddings
      .filter(col("vec_id") < headBound)
      .orderBy("vec_id")
      .select(col("vec_id").cast("long"), col("embedding").cast("array<double>"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1)))
    val codebook: Seq[Seq[Double]] = codebookOpt.getOrElse(
      head.filter(_._1 >= SeedBase).sortBy(_._1).map(_._2).toSeq)
    // probe selection: same (score DESC, c ASC) tie order as the oracle's
    // row_number window
    val probeRows: Seq[(Long, Seq[Double], Int)] =
      head.filter(_._1 < NumQueries).toSeq.flatMap { case (qid, q) =>
        codebook.zipWithIndex
          .map { case (c, i) => (dotSeq(q, c), i) }
          .sortBy { case (s, i) => (-s, i) }
          .take(NumProbes)
          .map { case (_, i) => (qid, q, i) }
      }
    val qProbes = probeRows.toDF("query_id", "q_emb", "probe_cell")
    val e = embDouble(embeddings)
    // first-max argmax: same tie order as the oracle's (score DESC, c ASC)
    val ecell = e.withColumn("cell", assignedCell(col("emb"), codebook))
    val scored = ecell.join(broadcast(qProbes),
        col("cell") === col("probe_cell") && col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("cell"),
        round(cosine(col("q_emb"), col("emb")), 9).as("cosine"))
    val rn = row_number().over(
      Window.partitionBy("query_id").orderBy(desc("cosine"), asc("neighbor_id")))
    scored.withColumn("rank", rn).filter(col("rank") <= K)
      .select("query_id", "neighbor_id", "cell", "cosine", "rank")
      .orderBy("query_id", "rank")
  }

  /** PQ geometry for q100: [[PqM]] subspaces of [[PqD]] dims (M·D = 64),
    * [[PqK]] centroids per subspace — a 64-float vector compresses to
    * M·log2(K) = 32 bits. Codebooks are the [[SeedBase]] seed rows'
    * subvectors (the q36 discipline: deterministic, oracle-reproducible
    * without a stored model; [[trainCentroids]]-style training slots
    * into the same plan). Coarse candidates per query before rerank =
    * [[PqCand]].
    */
  val PqM = 8
  val PqD = 8
  val PqK = 16
  val PqCand = 50

  /** q100 — product-quantization ANN with asymmetric distance (ADC,
    * the FAISS IndexPQ shape): every corpus vector is encoded as
    * [[PqM]] 4-bit codes (argmin sub-distance per subspace), queries
    * score candidates by summing per-subspace lookup-table entries
    * `||q_m − c_m,code||²`, and exact cosine reranks the Q×[[PqCand]]
    * survivors — completing the vector-codec family next to IVF (q36,
    * cell-bounded scan), scalar int8 (q51/q91, 4× compression), and
    * random projection (q83): PQ is the 16× codec a RAM-resident
    * 100 TB index actually stores.
    *
    * Scale shape: encoding is pure map work — M·K fused 8-dim codegen
    * dot products + a first-min argmin per row, no corpus shuffle; the
    * 10-query LUT relation (M arrays of K doubles per query) and the
    * candidate list broadcast; the coarse top-C per query is the q25
    * window shape (WindowGroupLimit pre-limits map-side); the rerank
    * re-joins the float vectors only for Q×C rows. Approx scores are
    * ranked UNROUNDED: every term derives from the same sequential
    * IEEE op order on both engines (dotSeq ≡ dot_product kernel ≡
    * list_inner_product), so the bits — and therefore the tie-broken
    * candidate sets — agree exactly.
    */
  def annPq(spark: SparkSession, dir: String): DataFrame =
    annPqFrom(Tables.embeddings(spark, dir))

  /** Train per-subspace PQ codebooks with Euclidean Lloyd iterations
    * (PQ minimizes L2 reconstruction, so assignment here is the SAME
    * `−2·v·c + cc` argmin the encoder uses — not the max-inner-product
    * assignment of the q61 cell trainer). Initialized from the seed
    * subvectors; the result plugs into [[annPqFrom]]'s `codebooksOpt`
    * exactly like q75's trained IVF codebook (the driver gate keeps the
    * seeded default so the oracle reproduces it; this path is
    * spec-covered).
    *
    * Scale shape: per iteration ONE corpus pass covers ALL subspaces —
    * each row explodes to [[PqM]] (subspace, cell, subvector) structs
    * and one two-phase aggregate keyed (m, cell) computes the exact
    * DECIMAL mean per sub-centroid (M·K = 128 collected rows, a
    * model-sized codebook); emptied cells carry forward.
    */
  def trainPqCodebooks(embeddings: DataFrame,
      iters: Int = KmIters): IndexedSeq[IndexedSeq[Seq[Double]]] = {
    val spark = embeddings.sparkSession
    GraftFunctions.register(spark)
    val e = embDouble(embeddings)
    val seeds = e.filter(col("vec_id") >= SeedBase && col("vec_id") < SeedBase + PqK)
      .orderBy("vec_id").select(col("emb"))
      .collect().toIndexedSeq.map(_.getSeq[Double](0))
    var cents: IndexedSeq[IndexedSeq[Seq[Double]]] =
      (0 until PqM).map(m => seeds.map(_.slice(m * PqD, (m + 1) * PqD)))
    for (_ <- 0 until iters) {
      val upd = pqIterUpdate(e, cents)
        .collect()
        .map(r => (r.getInt(0), r.getInt(1)) -> r.getSeq[Double](2)).toMap
      cents = cents.indices.map(m =>
        cents(m).indices.map(k => upd.getOrElse((m, k), cents(m)(k))))
    }
    cents
  }

  /** One PQ Lloyd update as a DataFrame: (m, cell, new sub-centroid)
    * for every non-empty sub-cell — ONE corpus pass covering all
    * [[PqM]] subspaces.
    */
  private def pqIterUpdate(e: DataFrame,
      cents: IndexedSeq[IndexedSeq[Seq[Double]]]): DataFrame = {
    val parts = (0 until PqM).map { m =>
      val sub = slice(col("emb"), m * PqD + 1, PqD)
      // codebook + self-dots as ONE nested-array literal each (data,
      // not code), probed by ONE fused compiled pass (adc_argmin_cell:
      // same sequential-fold dots, same (−2·d)+cc op order, same
      // first-min comparator as the composed
      // array_position/array_min chain — cell indices bit-identical).
      // The kernel body lives in scalac-compiled VecKernels and the
      // generated code only CALLS it: inlining 16 such loops pushed
      // the stage's consume method past the JVM's 8,000-bytecode JIT
      // limit and the whole stage ran in the bytecode interpreter
      // (measured ~0.9 s/task vs ~0.2 s for 2,000 rows).
      val cbLit = typedlit(cents(m).map(_.toSeq))
      val ccLit = typedlit(cents(m).map(c => dotSeq(c, c)))
      struct(lit(m).as("m"),
        call_function("adc_argmin_cell", sub, cbLit, ccLit).as("cell"),
        sub.as("v"))
    }
    e.select(explode(array(parts: _*)).as("x"))
      .select(col("x.m"), col("x.cell"), col("x.v"))
      .groupBy("m", "cell")
      .agg(call_function("vector_sum_dec",
          col("v").cast("array<decimal(38,12)>")).as("sumv"),
        count(lit(1)).as("n"))
      .select(col("m"), col("cell"),
        transform(col("sumv"), x => x.cast("double") / col("n")).as("c"))
  }

  def annPqFrom(embeddings: DataFrame,
      codebooksOpt: Option[IndexedSeq[IndexedSeq[Seq[Double]]]] = None): DataFrame = {
    val spark = embeddings.sparkSession
    GraftFunctions.register(spark)
    import spark.implicits._
    // one metadata-scale collect: 10 query rows + 16 seed rows
    val head = embeddings
      .filter(col("vec_id") < SeedBase + PqK)
      .orderBy("vec_id")
      .select(col("vec_id").cast("long"), col("embedding").cast("array<double>"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1)))
    // codebook(m)(k) = subspace-m slice of seed k (or the caller's
    // trained sub-codebooks); cc = its self-dot
    val codebook: IndexedSeq[IndexedSeq[Seq[Double]]] = codebooksOpt.getOrElse(
      (0 until PqM).map { m =>
        head.filter(_._1 >= SeedBase).sortBy(_._1).toIndexedSeq
          .map { case (_, v) => v.slice(m * PqD, (m + 1) * PqD) }
      })
    val cc: IndexedSeq[IndexedSeq[Double]] = codebook.map(_.map(c => dotSeq(c, c)))

    // per-query ADC lookup tables, same op order as the SQL twins:
    // qq − 2·q·c + cc
    val qRows: Seq[(Long, Seq[Double], Seq[Seq[Double]])] =
      head.filter(_._1 < NumQueries).toSeq.map { case (qid, q) =>
        val luts = (0 until PqM).map { m =>
          val qm = q.slice(m * PqD, (m + 1) * PqD)
          (0 until PqK).map(k =>
            dotSeq(qm, qm) - 2.0 * dotSeq(qm, codebook(m)(k)) + cc(m)(k)).toSeq
        }
        (qid, q, luts)
      }
    val qdf = qRows
      .map { case (qid, q, l) =>
        (qid, q, l(0), l(1), l(2), l(3), l(4), l(5), l(6), l(7)) }
      .toDF(("query_id" +: "q_emb" +: (0 until PqM).map(m => s"lut$m")): _*)

    val e = embDouble(embeddings)
    // encode: per subspace, argmin_k of (−2·v·c + cc) — the vv term is
    // constant per (row, subspace) and cancels out of the argmin.
    // Codebook + self-dots ride as nested-array literals (the trainer's
    // 64 KB-codegen discipline): the earlier per-centroid literal
    // unrolling pushed the projection past the JVM method limit and the
    // encode ran interpreted.
    val enc = (0 until PqM).foldLeft(e) { (df, m) =>
      val sub = slice(col("emb"), m * PqD + 1, PqD)
      val cbLit = typedlit(codebook(m).map(_.toSeq))
      val ccLit = typedlit(cc(m).toSeq)
      df.withColumn(s"code$m",
        call_function("adc_argmin_cell", sub, cbLit, ccLit))
    }
    val codes = enc.select(
      (col("vec_id") +: (0 until PqM).map(m => col(s"code$m"))): _*)
    val approx = (0 until PqM).map(m =>
      element_at(col(s"lut$m"), col(s"code$m") + 1)).reduce(_ + _)
    val cand = codes.crossJoin(broadcast(
        qdf.select(("query_id" +: (0 until PqM).map(m => s"lut$m")).map(col): _*)))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("approx", approx)
      .withColumn("crn", row_number().over(
        Window.partitionBy("query_id").orderBy(asc("approx"), asc("vec_id"))))
      .filter(col("crn") <= PqCand)
      .select(col("query_id"), col("vec_id").as("neighbor_id"))
    val scored = e.join(broadcast(cand), col("vec_id") === col("neighbor_id"))
      .join(broadcast(qdf.select(col("query_id"), col("q_emb"))), Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(cosine(col("q_emb"), col("emb")), 9).as("cosine"))
    topK(scored, K).select("query_id", "neighbor_id", "cosine", "rank")
  }

  /** Lloyd iterations for q61 (assignment + centroid update per
    * iteration). Two iterations exercise both the in-plan update and
    * the driver-side codebook refresh between iterations.
    */
  val KmIters = 2

  /** q61 — k-means codebook TRAINING (Lloyd's algorithm, fixed
    * [[KmIters]] iterations): the step that turns the q36/q60 seeded
    * codebook into a real trained quantizer. Initialized from the
    * deterministic [[SeedBase]] seeds, each iteration assigns every
    * vector to its max-inner-product centroid (first-max tie order, as
    * q36) and recomputes each centroid as the exact per-dimension mean
    * of its members; emptied cells carry their previous centroid
    * forward. Emits the trained model summary: per cell its final
    * membership count and centroid L2 norm.
    *
    * Scale shape — the distributed-k-means contract (MLlib's shape,
    * re-derived): per iteration ONE pass over the corpus — assignment
    * is the broadcast-codebook pattern (k literal-array fused dot
    * products + argmax per row, pure map work), the update is ONE
    * two-phase aggregate through the native
    * [[graft.plans.VectorSumDec]] (fixed-size buffer per (partition,
    * cell), the exchange carries one 64-dim array per cell per
    * partition), and only k centroid rows return to the driver. Nothing
    * doc-keyed ever crosses the wire; cost is iters × (scan + k-row
    * aggregate). DECIMAL accumulation keeps every centroid — and the
    * assignment boundaries derived from it next iteration —
    * bit-identical to the single-threaded oracle at any parallelism.
    */
  def kmeansTrain(spark: SparkSession, dir: String): DataFrame =
    kmeansTrainFrom(Tables.embeddings(spark, dir))

  /** Per-cell kernel scores against a model-constant codebook, shipped
    * as ONE nested-array literal through the fused
    * [[graft.plans.CodebookScores]] codegen kernel — the
    * 64 KB-codegen discipline (see [[trainPqCodebooks]]): unrolling a
    * literal array per centroid grows the generated method linearly in
    * cells × dims and silently de-compiles the stage past the JVM
    * method limit, while the previous `transform`+`dot_product`
    * composition is a higher-order function that never enters
    * whole-stage codegen (every row walked K interpreted expression
    * trees). Element k is the same sequential-fold dot in the same
    * IEEE order, built in ascending k — values identical.
    */
  private def codebookScores(v: Column, codebook: Seq[Seq[Double]]): Column =
    call_function("codebook_scores", v, typedlit(codebook.map(_.toSeq)))

  /** First-max argmax cell against a literal codebook, as ONE fused
    * compiled pass ([[graft.plans.CodebookArgmaxCell]]) — same
    * (score DESC, c ASC) tie order as the oracle's row_number window
    * (q36 precedent) and as the composed
    * `array_position(scores, array_max(scores)) - 1` chain it replaces
    * (identical comparator, identical first-occurrence index). Pure map
    * work; see [[codebookScores]]/[[graft.plans.VecKernels]] for the
    * 8,000-bytecode-JIT-limit rationale.
    */
  private def assignedCell(v: Column, codebook: Seq[Seq[Double]]): Column =
    call_function("codebook_argmax_cell", v, typedlit(codebook.map(_.toSeq)))

  /** First-max argmax assignment against a literal codebook — same
    * (score DESC, c ASC) tie order as the oracle's row_number window
    * (q36 precedent). Pure map work.
    */
  private def assignedCells(e: DataFrame, cent: Seq[Seq[Double]]): DataFrame =
    e.withColumn("cell", assignedCell(col("emb"), cent))

  /** One Lloyd update: exact per-dimension decimal means of each cell's
    * members (one two-phase `vector_sum_dec` aggregate).
    */
  private def updatedCentroids(e: DataFrame, cent: Seq[Seq[Double]]): DataFrame =
    assignedCells(e, cent).groupBy("cell")
      .agg(call_function("vector_sum_dec",
          col("emb").cast("array<decimal(38,12)>")).as("sumv"),
        count(lit(1)).as("n"))
      .select(col("cell"), col("n"),
        transform(col("sumv"), x => x.cast("double") / col("n")).as("centroid"))

  /** The deterministic seed codebook (embeddings of
    * [SeedBase, SeedBase + cells)).
    */
  private def seedCodebook(embeddings: DataFrame, cells: Int): Seq[Seq[Double]] = {
    val cent = embeddings
      .filter(col("vec_id") >= SeedBase && col("vec_id") < SeedBase + cells)
      .orderBy("vec_id")
      .select(col("embedding").cast("array<double>"))
      .collect().toSeq.map(_.getSeq[Double](0))
    require(cent.size == cells,
      s"k-means seeds missing: expected $cells vectors with vec_id in " +
        s"[$SeedBase, ${SeedBase + cells}), found ${cent.size}")
    cent
  }

  /** Train `iters` Lloyd iterations from an explicit initial codebook
    * and return the centroids driver-side (k × dim doubles —
    * model-sized, the broadcast-codebook contract). Emptied cells carry
    * their previous centroid. The result plugs into [[annIvfFrom]] /
    * [[semanticDedupFrom]] as a TRAINED quantizer.
    */
  def trainCentroidsFrom(embeddings: DataFrame, init: Seq[Seq[Double]],
      iters: Int): Seq[Seq[Double]] = {
    GraftFunctions.register(embeddings.sparkSession)
    val e = embDouble(embeddings)
    var cent = init
    for (_ <- 0 until iters) {
      val upd = updatedCentroids(e, cent).collect()
        .map(r => r.getInt(0) -> r.getSeq[Double](2)).toMap
      cent = cent.indices.map(c => upd.getOrElse(c, cent(c)))
    }
    cent
  }

  /** Lloyd training from the deterministic [[SeedBase]] seed window —
    * the oracle-reproducible default (q61).
    */
  def trainCentroids(embeddings: DataFrame, cells: Int = NumCells,
      iters: Int = KmIters): Seq[Seq[Double]] =
    trainCentroidsFrom(embeddings, seedCodebook(embeddings, cells), iters)

  /** Candidates collected per requested cell by [[initCentroids]]. */
  val InitOversample = 8

  /** Deterministic k-means‖-style initialization for corpora with
    * ARBITRARY vec_ids (no [[SeedBase]] window required): oversample
    * `cells × oversample` candidate vectors by smallest salted md5 of
    * the stable vec_id — a deterministic pseudo-random sample, the same
    * stable-hash discipline as the q45 split (never `rand()`: re-runs
    * and repartitions must not move the sample) — then re-cluster the
    * candidates driver-side with greedy farthest-point (k-center)
    * selection: start at the min-hash candidate, repeatedly add the
    * candidate whose squared distance to the chosen set is largest
    * (ties by candidate order).
    *
    * Scale shape (Bahmani et al. 2012, VLDB — k-means‖ — with the
    * random draws replaced by hash order so the init is reproducible):
    * the oversample is ONE TakeOrderedAndProject pass (per-partition
    * partial top-O on the hash, O = cells·oversample rows merge on the
    * driver — model-sized, like the codebook itself); the re-cluster is
    * O(O·k·dim) driver arithmetic in fixed order. The corpus is scanned
    * once and never shuffled.
    */
  def initCentroids(embeddings: DataFrame, cells: Int = NumCells,
      oversample: Int = InitOversample): Seq[Seq[Double]] = {
    val cand: Seq[Seq[Double]] = embeddings
      .select(col("vec_id").cast("long").as("vec_id"),
        col("embedding").cast("array<double>").as("emb"),
        TextFns.hash60(concat(lit("kmi|"), col("vec_id").cast("string"))).as("h"))
      .orderBy("h", "vec_id")
      .limit(cells * oversample)
      .collect().toSeq.map(_.getSeq[Double](1))
    require(cand.size >= cells,
      s"k-means init needs >= $cells vectors, corpus has ${cand.size}")
    def d2(a: Seq[Double], b: Seq[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
      s
    }
    val chosen = scala.collection.mutable.ArrayBuffer(cand.head)
    val minD2 = Array.fill(cand.size)(Double.MaxValue)
    while (chosen.size < cells) {
      var best = -1; var bestD = -1.0
      var i = 0
      while (i < cand.size) {
        val d = math.min(minD2(i), d2(cand(i), chosen.last))
        minD2(i) = d
        if (d > bestD) { bestD = d; best = i } // strict >: ties keep the earlier candidate
        i += 1
      }
      chosen += cand(best)
    }
    chosen.toSeq
  }

  /** Lloyd training for corpora WITHOUT the privileged seed window:
    * [[initCentroids]] (deterministic k-means‖-style) + [[trainCentroidsFrom]].
    */
  def trainCentroidsSeedless(embeddings: DataFrame, cells: Int = NumCells,
      iters: Int = KmIters): Seq[Seq[Double]] =
    trainCentroidsFrom(embeddings, initCentroids(embeddings, cells), iters)

  def kmeansTrainFrom(embeddings: DataFrame, cells: Int = NumCells,
      iters: Int = KmIters): DataFrame = {
    val spark = embeddings.sparkSession
    GraftFunctions.register(spark)
    import spark.implicits._
    val e = embDouble(embeddings)
    // iterations 1..iters-1 refresh the literal codebook driver-side;
    // the final update stays in the plan so the emitted model is
    // computed distributed
    val cent = trainCentroids(embeddings, cells, iters - 1)
    val carry = cent.zipWithIndex.map { case (c, i) => (i, c) }
      .toDF("cell", "carry")
    carry.join(broadcast(updatedCentroids(e, cent)), Seq("cell"), "left")
      .select(col("cell"), coalesce(col("n"), lit(0L)).as("n_members"),
        coalesce(col("centroid"), col("carry")).as("centroid"))
      .select(col("cell"), col("n_members"),
        round(sqrt(call_function("dot_product", col("centroid"), col("centroid"))), 9)
          .as("centroid_norm"))
      .orderBy("cell")
  }

  /** q60 within-cell semantic-duplicate cosine threshold (same fixture
    * rationale as [[NearDupMin]]).
    */
  val SemDupMin = 0.35

  /** q60 — SemDeDup-style semantic dedup (the cluster-then-dedup
    * recipe of Abbas et al. 2023, arXiv:2303.09540, reduced to engine
    * shape): coarse-cluster every embedding to its max-inner-product
    * cell against the q36 codebook, compare pairs only WITHIN a cell,
    * and drop every vector that has a smaller-id semantic duplicate
    * (cosine ≥ τ) in its cell — keeping one representative per
    * duplicate neighborhood. Emits per vector its cell, duplicate
    * count, and the keep decision.
    *
    * Scale shape: cell assignment is the q36 broadcast-codebook
    * pattern — literal-array dot products, pure map work, no corpus
    * shuffle; the pairwise compare shuffles on cell id only, so
    * comparisons are Σ cell² — bounded by cell occupancy, never
    * corpus². `cells` is the dial: like any IVF codebook it must grow
    * ~√N with the corpus (k-means centroids slot into the same plan);
    * the fixture pins the deterministic 16-seed codebook so the oracle
    * reproduces it. The keep rule is single-pass (min similar
    * neighbor id), the same non-transitive-chain caveat documented at
    * [[graft.app.CorpusPipeline]]; exact component resolution is q54's
    * operator, composable downstream.
    */
  def semanticDedup(spark: SparkSession, dir: String): DataFrame =
    semanticDedupFrom(Tables.embeddings(spark, dir))

  def semanticDedupFrom(embeddings: DataFrame, cells: Int = NumCells,
      tau: Double = SemDupMin,
      codebookOpt: Option[Seq[Seq[Double]]] = None): DataFrame = {
    val spark = embeddings.sparkSession
    GraftFunctions.register(spark)
    val codebook: Seq[Seq[Double]] =
      codebookOpt.getOrElse(seedCodebook(embeddings, cells))
    val e = embDouble(embeddings)
    // first-max argmax — same (score DESC, c ASC) tie order as the oracle
    val ecell = e.withColumn("cell", assignedCell(col("emb"), codebook))
      .select(col("vec_id"), col("cell"), col("emb"))
    val pairs = ecell.select(col("cell"), col("vec_id").as("va"), col("emb").as("ea"))
      .join(ecell.select(col("cell"), col("vec_id").as("vb"), col("emb").as("eb")),
        Seq("cell"))
      .filter(col("va") < col("vb"))
      .filter(cosine(col("ea"), col("eb")) >= tau)
      .select(col("va"), col("vb"))
    val partners = pairs.select(col("va").as("vec_id"), col("vb").as("p"))
      .unionAll(pairs.select(col("vb").as("vec_id"), col("va").as("p")))
      .groupBy("vec_id")
      .agg(count(lit(1)).as("n_dups"), min("p").as("min_p"))
    ecell.select(col("vec_id"), col("cell"))
      .join(partners, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"),
        coalesce(col("n_dups"), lit(0L)).as("n_dups"),
        (col("min_p").isNull || col("min_p") > col("vec_id")).as("is_kept"))
      .orderBy("vec_id")
  }

  /** Cosine threshold for embedding near-duplicates. Production corpora
    * use ~0.95+; the synthetic fixtures are random vectors whose max
    * pairwise cosine is ≈0.51, so the fixture threshold sits below that
    * to keep the verification path exercised — the plan is
    * threshold-agnostic.
    */
  val NearDupMin = 0.35

  /** SRP family geometry for near-dup candidate generation: OR over
    * [[NearDupFamilies]] independent AND-signatures of
    * [[NearDupPlanesPerFamily]] planes each (mirroring the minhash
    * bands). Versus the old single 4-plane family (16 buckets → the
    * bucket self-join did Σ bucket² ≈ N²/16 comparisons — quadratic in
    * corpus size), 4 families × 8 planes gives 256 buckets per family:
    * expected comparisons drop to ≈ 4·N²/256 (16× fewer) while pair
    * recall RISES — for a pair at angle θ with per-plane agreement
    * p = 1 − θ/π, recall = 1 − (1 − p⁸)⁴ > p⁴ across the whole range
    * (e.g. cosine 0.95: 0.90 vs 0.66; cosine 0.35: 0.20 vs 0.14). The
    * dial for bigger corpora is more planes per family (smaller buckets)
    * with more families (recall), same plan.
    */
  val NearDupFamilies = 4
  val NearDupPlanesPerFamily = 8

  /** One row per (vector, family) with that family's SRP bucket: sign
    * bits of planes `family*planesPerFamily ... +planesPerFamily-1`.
    */
  private def familyBucketed(embeddings: DataFrame,
      families: Int, planesPerFamily: Int): DataFrame = {
    val buckets = array((0 until families).map { f =>
      (0 until planesPerFamily).map { p =>
        when(call_function("dot_product", col("emb"),
          planeVec(f * planesPerFamily + p)) > 0, lit(1 << p)).otherwise(lit(0))
      }.reduce(_ + _)
    }: _*)
    embDouble(embeddings)
      .select(col("vec_id"), col("emb"),
        posexplode(buckets).as(Seq("family", "bucket")))
  }

  /** q38 — embedding-cosine near-dup pairs: banded multi-family SRP
    * candidate generation (deterministic hyperplanes as in q26), exact
    * cosine verification at ≥ [[NearDupMin]], duplicates from multi-family
    * collisions dropped (cosine is pure per pair, so the surviving row is
    * identical whichever family produced it).
    *
    * Scale design: the all-pairs relation is never formed — candidate
    * pairs only meet inside one family's bucket (a self-join on
    * (family, bucket), shuffle_hash both sides so the bucketed pipeline
    * is computed once via exchange reuse), so comparisons scale with
    * Σ_family Σ_bucket n², not corpus². See [[NearDupFamilies]] for the
    * geometry; `SimilaritySpec` gates the Σ bucket² count against the
    * old 4-plane config.
    */
  def embeddingNearDup(spark: SparkSession, dir: String): DataFrame =
    embeddingNearDupFrom(Tables.embeddings(spark, dir))

  def embeddingNearDupFrom(embeddings: DataFrame,
      families: Int = NearDupFamilies,
      planesPerFamily: Int = NearDupPlanesPerFamily): DataFrame = {
    val e = familyBucketed(embeddings, families, planesPerFamily)
    e.alias("a").hint("shuffle_hash")
      .join(e.alias("b").hint("shuffle_hash"),
        col("a.family") === col("b.family") &&
          col("a.bucket") === col("b.bucket") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
        round(cosine(col("a.emb"), col("b.emb")), 9).as("cosine"))
      .filter(col("cosine") >= NearDupMin)
      .dropDuplicates("vec_a", "vec_b")
      .orderBy("vec_a", "vec_b")
  }

  /** q51 — int8 embedding quantization with reconstruction metrics: the
    * storage/serving step a 100 TB embedding corpus actually runs
    * (float32 → int8 cuts the footprint 4×). Per vector: symmetric
    * scale = max|v|/127, q = round(v/scale) (HALF_UP, both engines),
    * then reconstruction error via dot-product identities —
    * `mse = (v·v − 2s·(v·q) + s²·(q·q))/64` and the scale-invariant
    * `cos(v, s·q) = cos(v, q)` — so every float runs through the fused
    * codegen kernels in the exact order the oracle's
    * `list_inner_product` uses. Map-only, and since round 5 fully
    * native: `quantize_stats` ([[graft.plans.QuantizeStats]]) returns
    * `[max|v|, v·v, v·q, q·q]` from two generated loops with no
    * intermediate quantized array — the derived arithmetic below keeps
    * the composed form's exact IEEE order, so the oracle hash is
    * unchanged.
    */
  def quantizeInt8(spark: SparkSession, dir: String): DataFrame =
    quantizeInt8From(Tables.embeddings(spark, dir))

  def quantizeInt8From(embeddings: DataFrame): DataFrame = {
    val e = embDouble(embeddings)
    val st = (i: Int) => element_at(col("qs"), i)
    e.withColumn("qs", call_function("quantize_stats", col("emb")))
      .withColumn("max_abs", st(1))
      .filter(col("max_abs") > 0)
      .withColumn("scale", col("max_abs") / 127.0d)
      .select(col("vec_id"),
        round(col("scale"), 9).as("scale"),
        round((st(2)
          - lit(2.0) * col("scale") * st(3)
          + col("scale") * col("scale") * st(4)) / lit(64.0d), 12)
          .as("mse"),
        round(st(3) / (sqrt(st(2)) * sqrt(st(4))), 9).as("cos_recon"))
      .orderBy("vec_id")
  }

  /** Σ over (family, bucket) of occupancy² — the number of pair
    * comparisons the near-dup self-join performs. `SimilaritySpec`
    * compares it for the banded config vs the legacy single 4-plane
    * family (families=1, planesPerFamily=4) on the fixture, gating the
    * comparison reduction the band geometry buys.
    */
  def nearDupComparisons(embeddings: DataFrame,
      families: Int = NearDupFamilies,
      planesPerFamily: Int = NearDupPlanesPerFamily): Long =
    familyBucketed(embeddings, families, planesPerFamily)
      .groupBy("family", "bucket").count()
      .agg(sum(col("count") * col("count")).as("cmp"))
      .collect()(0).getLong(0)

  /** Outlier rows kept per label group in q56. */
  val OutlierK = 5

  /** q56 — per-label embedding centroids + distance outliers: the
    * corpus-quality audit a training pipeline runs over its embedding
    * space (mislabeled / off-distribution vectors surface as the rows
    * least similar to their own group's centroid).
    *
    * Scale shape: the centroid is ONE two-phase aggregate through the
    * native [[graft.plans.VectorSumDec]] vector-sum — one fixed-size
    * buffer per (partition, label), the exchange carries one 64-dim
    * array per label per partition (a posexplode formulation would
    * shuffle dim× the rows and need a second exchange to re-assemble).
    * Decimal accumulation keeps the sum order-independent, so the
    * centroid (and every cosine derived from it) hash-matches the
    * single-threaded oracle at any parallelism. The tiny centroid table
    * broadcasts back; scoring is map-side fused-kernel cosine; the
    * bottom-k per label lowers to the k-bounded [[graft.plans.TopKPerKey]]
    * operator (never a full per-label sort).
    */
  def centroidOutliers(spark: SparkSession, dir: String): DataFrame =
    centroidOutliersFrom(Tables.embeddings(spark, dir))

  def centroidOutliersFrom(embeddings: DataFrame): DataFrame = {
    GraftFunctions.register(embeddings.sparkSession)
    val e = Tables.widened(embeddings, col("vec_id"))
      .select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>").as("emb"))
    val cents = e.groupBy("label")
      .agg(call_function("vector_sum_dec",
          col("emb").cast("array<decimal(38,12)>")).as("sumv"),
        count(lit(1)).as("n"))
      .select(col("label"),
        transform(col("sumv"), x => x.cast("double") / col("n")).as("centroid"))
    val scored = e.join(broadcast(cents), Seq("label"))
      .select(col("label"), col("vec_id"),
        round(cosine(col("emb"), col("centroid")), 9).as("cos_centroid"))
    graft.plans.TopKPerKey(scored, Seq(col("label")),
      Seq(col("cos_centroid").asc, col("vec_id").asc), OutlierK)
      .orderBy("label", "rank")
  }

  /** q122 — LABEL-CENTROID similarity matrix: exact per-label mean
    * embedding (the q56 DECIMAL discipline) and the pairwise cosine
    * between every label pair — the class-separability audit a
    * labeled corpus runs before training on it (two labels whose
    * centroids sit at cosine ≈ 1 are annotation aliases or a taxonomy
    * split the model cannot learn; q56 finds outliers WITHIN a class,
    * this measures the geometry BETWEEN classes).
    *
    * Scale shape: one corpus aggregate (order-independent DECIMAL
    * vector sums, map-side combined) reduces 100 TB to a
    * label-cardinality relation; the pairwise matrix is a broadcast
    * self-join over that model-sized relation — label² never touches
    * the corpus.
    */
  def labelCentroidMatrix(spark: SparkSession, dir: String): DataFrame =
    labelCentroidMatrixFrom(Tables.embeddings(spark, dir))

  def labelCentroidMatrixFrom(embeddings: DataFrame): DataFrame = {
    GraftFunctions.register(embeddings.sparkSession)
    val e = Tables.widened(embeddings, col("vec_id"))
      .select(col("label"), col("embedding").cast("array<double>").as("emb"))
    val cents = e.groupBy("label")
      .agg(call_function("vector_sum_dec",
          col("emb").cast("array<decimal(38,12)>")).as("sumv"),
        count(lit(1)).as("n"))
      .select(col("label"),
        transform(col("sumv"), x => x.cast("double") / col("n")).as("centroid"),
        col("n"))
    cents.alias("a")
      .join(broadcast(cents.alias("b")), col("a.label") < col("b.label"))
      .select(col("a.label").as("label_a"), col("b.label").as("label_b"),
        col("a.n").as("n_a"), col("b.n").as("n_b"),
        round(cosine(col("a.centroid"), col("b.centroid")), 9).as("cosine"))
      .orderBy("label_a", "label_b")
  }

  /** q164 collapse threshold: flag a label when its isotropy ratio
    * (mean pairwise squared distance over twice the mean squared norm —
    * ~1 for centered isotropic embeddings) drops below this.
    */
  val CollapseMin = 0.1

  /** q164 — embedding-COLLAPSE audit: per label (and the corpus-wide
    * `-1` row) the mean squared norm, the mean pairwise squared
    * distance, and their isotropy ratio with a collapse flag. A
    * degenerating encoder maps distinct inputs to one point; this is
    * the audit that catches it BEFORE a training mix inherits the
    * collapsed geometry. All-pairs distance is corpus²-impossible, so
    * the operator rides the moment identity
    * `Σᵢⱼ ‖xᵢ−xⱼ‖² / (n(n−1)) = 2·(n·Σ‖x‖² − ‖Σx‖²) / (n(n−1))` —
    * ONE corpus pass collecting Σ‖x‖² (9-dp-rounded kernel dots summed
    * in DECIMAL(38,12)) and the exact DECIMAL vector sum Σx
    * ([[graft.plans.VectorSumDec]], the q122 machinery); the global row
    * re-aggregates the label PARTIALS (decimal sums are associative),
    * so it costs label-count rows, not a second corpus pass.
    *
    * Determinism: both moments are exact decimals; the close is a
    * fixed correctly-rounded IEEE sequence mirrored token-for-token in
    * the oracle (the q147 discipline), the flag compares UNROUNDED
    * values via cross-multiplication (`mps < 0.2·msn`, never a
    * division), and single-member labels yield NULL statistics, not a
    * divide-by-zero.
    */
  def collapseAudit(spark: SparkSession, dir: String): DataFrame =
    collapseAuditFrom(Tables.embeddings(spark, dir))

  def collapseAuditFrom(embeddings: DataFrame): DataFrame = {
    GraftFunctions.register(embeddings.sparkSession)
    val dec12 = DecimalType(38, 12)
    val e = Tables.widened(embeddings, col("vec_id"))
      .select(col("label"), col("embedding").cast("array<double>").as("emb"))
    val per = e.groupBy("label").agg(
      count(lit(1)).as("n"),
      sum(round(call_function("dot_product", col("emb"), col("emb")), 9)
        .cast(dec12)).cast(dec12).as("ssum"),
      call_function("vector_sum_dec",
        col("emb").cast("array<decimal(38,12)>")).as("sumv"))
    val glob = per.agg(
      sum(col("n")).as("n"),
      sum(col("ssum")).cast(dec12).as("ssum"),
      call_function("vector_sum_dec", col("sumv")).as("sumv"))
      .select(lit(-1).as("label"), col("n"), col("ssum"), col("sumv"))
    val both = per.select(col("label"), col("n"), col("ssum"), col("sumv"))
      .union(glob)
    val sumd = transform(col("sumv"), x => x.cast("double"))
    both
      .withColumn("csum2", call_function("dot_product", sumd, sumd))
      .withColumn("msn_u", col("ssum").cast("double") / col("n"))
      .withColumn("mps_u", when(col("n") > 1,
        (lit(2.0) * (col("n").cast("double") * col("ssum").cast("double")
          - col("csum2")))
          / (col("n").cast("double") * (col("n") - 1).cast("double"))))
      .select(col("label"), col("n"),
        round(col("msn_u"), 9).as("mean_sq_norm"),
        round(col("mps_u"), 9).as("mean_pairwise_sq"),
        round(col("mps_u") / (lit(2.0) * col("msn_u")), 9).as("isotropy_ratio"),
        when(col("n") > 1, col("mps_u") < lit(0.2) * col("msn_u"))
          .as("collapsed"))
      .orderBy("label")
  }

  /** q170 drift flag threshold on the source-vs-corpus centroid cosine. */
  val DriftCosMin = 0.8

  /** q170 — per-source EMBEDDING drift: each source's centroid compared
    * to the corpus centroid (cosine + norm ratio) — the embedding-space
    * twin of q68's token-distribution KL. A crawl source whose content
    * silently shifts (spam injection, template change, language flip)
    * moves its centroid before sample-level audits notice; this is the
    * per-source gauge over the SAME documents↔embeddings id space q159
    * joins.
    *
    * Scale shape: ONE doc-keyed join carries `source` onto the vectors
    * (both sides corpus-scale but the join is the only corpus
    * exchange), then one source-keyed aggregate (exact DECIMAL vector
    * sums, source-cardinality rows out); the corpus centroid
    * re-aggregates the source PARTIALS (the q164 move — no second
    * corpus pass); all scoring is model-sized arithmetic on broadcast
    * rows.
    *
    * Determinism: centroids are exact-decimal means cast to double
    * per component (the q122 cast), cosine is the shared 9-dp fused
    * kernel, the norm ratio is one IEEE division of two sqrts
    * re-rounded, and the flag compares the ROUNDED cosine (both
    * engines see the identical rounded value).
    */
  def sourceDrift(spark: SparkSession, dir: String): DataFrame =
    sourceDriftFrom(Tables.documents(spark, dir), Tables.embeddings(spark, dir))

  def sourceDriftFrom(docs: DataFrame, embeddings: DataFrame): DataFrame = {
    GraftFunctions.register(embeddings.sparkSession)
    val e = Tables.widened(embeddings, col("vec_id"))
      .select(col("vec_id").as("doc_id"),
        col("embedding").cast("array<double>").as("emb"))
      .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
    val per = e.groupBy("source").agg(
      count(lit(1)).as("n_vecs"),
      call_function("vector_sum_dec",
        col("emb").cast("array<decimal(38,12)>")).as("sumv"))
    val glob = per.agg(sum(col("n_vecs")).as("n_all"),
      call_function("vector_sum_dec", col("sumv")).as("sumv_all"))
    def mean(sv: Column, n: Column): Column =
      transform(sv, x => x.cast("double") / n)
    val norm = (c: Column) => sqrt(call_function("dot_product", c, c))
    per.crossJoin(broadcast(glob))
      .withColumn("cs", mean(col("sumv"), col("n_vecs")))
      .withColumn("ca", mean(col("sumv_all"), col("n_all")))
      .withColumn("cos", round(cosine(col("cs"), col("ca")), 9))
      .select(col("source"), col("n_vecs"), col("cos").as("centroid_cos"),
        round(norm(col("cs")) / norm(col("ca")), 9).as("norm_ratio"),
        (col("cos") < DriftCosMin).as("drifted"))
      .orderBy("source")
  }

  /** q143 — LABEL-AGREEMENT audit (confusion matrix + Cohen's kappa):
    * every vector is re-assigned to its nearest label centroid (exact
    * DECIMAL means, the q122 discipline) and the assignment is compared
    * to the annotated label — per label the row/column marginals,
    * correct count, recall and precision, plus global accuracy and the
    * chance-corrected kappa. This is the label-NOISE audit of a
    * training corpus: a label whose own members mostly re-assign
    * elsewhere is mislabeled or geometrically meaningless (q122 finds
    * label pairs that collide; this measures how well the labels
    * explain the geometry at all).
    *
    * Determinism: kappa's textbook form is float (p_o−p_e)/(1−p_e);
    * here both terms stay INTEGER until one closing division —
    * kappa = (N·Σdiag − Σ rowᵢ·colᵢ) / (N² − Σ rowᵢ·colᵢ) — the q132
    * cross-multiplication discipline, so the statistic never
    * accumulates a float. The products live in exact 128-bit space
    * (DECIMAL(38,0) / HUGEINT): N² silently wraps a 64-bit long past
    * ~3.04e9 rows, inside the 100 TB posture. A single-label corpus
    * has denominator 0 → kappa NULL on both engines (NULLIF guard,
    * like prec for a never-predicted label). Assignment ties break on
    * rounded cosine then smallest label (bit-stable on any engine).
    *
    * Scale shape: one corpus aggregate reduces to the label-cardinality
    * centroid relation, broadcast back for map-side scoring; the rank-1
    * assignment is a bounded per-vector window; everything after the
    * confusion aggregate is label²-at-most, model-scale.
    */
  /** q158 — batch-hard TRIPLET mining over the labeled embedding
    * corpus: per anchor, the hardest POSITIVE (same label, LOWEST
    * cosine — the in-class example the encoder holds furthest away)
    * and the hardest NEGATIVE (different label, HIGHEST cosine — the
    * out-of-class example it holds closest), plus the triplet margin
    * `pos_cos − neg_cos` and its violation flag. This is the mining
    * stage of FaceNet-style metric training made a gated operator: the
    * violated triplets ARE the training batch a contrastive run wants,
    * and the margin distribution is the audit that says whether the
    * embedding space still separates the label classes.
    *
    * Scale shape: ONE q25-shaped pass — broadcast anchor set,
    * map-side fused-kernel cosine, then a single rank-1 window over
    * (anchor, side) whose `rn = 1` cut rides WindowGroupLimit (each
    * scan partition forwards one candidate per anchor-side, so the
    * exchange carries partitions × anchors × 2 rows, never the scored
    * corpus); the positive/negative population counts come from the
    * label histogram (one model-sized aggregate), not a second scored
    * pass. The per-side hard pick folds to one row per anchor in a
    * final anchor-keyed aggregate over 2·|anchors| rows.
    *
    * Determinism: cosines are the shared 9-dp-rounded kernel; ties
    * break by candidate id; the margin is one exact IEEE subtraction of
    * two rounded values, re-rounded; counts are integers.
    */
  def tripletMining(spark: SparkSession, dir: String): DataFrame =
    tripletMiningFrom(Tables.embeddings(spark, dir))

  def tripletMiningFrom(embeddings: DataFrame): DataFrame = {
    GraftFunctions.register(embeddings.sparkSession)
    val e = Tables.widened(embeddings, col("vec_id"))
      .select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>").as("emb"))
    val q = e.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("emb").as("q_emb"),
        col("label").as("q_label"))
    val scored = e.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("q_label"),
        col("vec_id").as("other_id"), col("label"),
        round(cosine(col("q_emb"), col("emb")), 9).as("cosine"))
      .withColumn("is_pos", col("label") === col("q_label"))
    // hardest of each side in ONE window: within (anchor, side) order
    // positives by ascending cosine, negatives by ascending -cosine
    // (= descending cosine); rn = 1 keeps the group-limit pushdown
    val hardOrder =
      when(col("is_pos"), col("cosine")).otherwise(-col("cosine"))
    val picked = scored
      .withColumn("rn", row_number().over(
        Window.partitionBy("query_id", "is_pos")
          .orderBy(hardOrder.asc, asc("other_id"))))
      .filter(col("rn") === 1)
    val folded = picked.groupBy("query_id")
      .agg(max(col("q_label")).as("label"),
        max(when(col("is_pos"), col("other_id"))).as("pos_id"),
        max(when(col("is_pos"), col("cosine"))).as("pos_cos"),
        max(when(not(col("is_pos")), col("other_id"))).as("neg_id"),
        max(when(not(col("is_pos")), col("cosine"))).as("neg_cos"))
    val lc = e.groupBy("label").agg(count(lit(1)).as("n_label"))
    val tot = e.agg(count(lit(1)).as("n_total"))
    folded.join(lc, Seq("label")).crossJoin(broadcast(tot))
      .select(col("query_id"), col("label"), col("pos_id"), col("pos_cos"),
        col("neg_id"), col("neg_cos"),
        round(col("pos_cos") - col("neg_cos"), 9).as("margin"),
        (col("pos_cos") < col("neg_cos")).as("violation"),
        (col("n_label") - 1L).as("n_pos"),
        (col("n_total") - col("n_label")).as("n_neg"))
      .orderBy("query_id")
  }

  /** RRF smoothing constant (the k=60 of Cormack/Clarke/Buettcher). */
  val RrfK = 60

  /** Fused result size and the dense query vector id for q159. */
  val HybridTopK = 20
  val HybridQueryVec = 0L

  /** q159 — HYBRID retrieval via reciprocal rank fusion: the standard
    * RAG-stack pattern of running a sparse (BM25, q55) and a dense
    * (cosine top-k, q25-shaped) ranker over the same corpus and fusing
    * by `Σ 1/(k + rank)` — rank fusion needs no score calibration
    * between rankers whose scales are incomparable, which is exactly
    * why production retrieval uses it over score interpolation.
    * Documents absent from one list contribute 0 from that side.
    *
    * Scale shape: each side is ONE corpus pass lowering to
    * TakeOrderedAndProject (BM25 scores are map-side array-filter
    * columns against a broadcast 1-row stats aggregate — q55's zero
    * corpus-shuffle plan; dense cosine is a map-side fused kernel
    * against the broadcast query vector). Everything after the two
    * top-k cuts — rank windows, the full-outer fuse, the final sort —
    * runs on ≤ 2·[[HybridTopK]] rows.
    *
    * Determinism: ranks are integers off the ROUNDED scores with id
    * tie-breaks; RRF is two correctly-rounded IEEE divisions by exact
    * integers and one addition in fixed order, re-rounded at 9 dp.
    */
  def hybridSearch(spark: SparkSession, dir: String): DataFrame =
    hybridSearchFrom(Tables.documents(spark, dir), Tables.embeddings(spark, dir))

  def hybridSearchFrom(docs: DataFrame, embeddings: DataFrame): DataFrame = {
    val sparse = TextAnalysis.bm25SearchFrom(docs)
      .withColumn("sparse_rank", row_number().over(
        Window.partitionBy().orderBy(desc("bm25"), asc("doc_id"))).cast("int"))
      .select(col("doc_id"), col("sparse_rank"))
    val e = embDouble(embeddings)
    val qv = e.filter(col("vec_id") === HybridQueryVec)
      .select(col("emb").as("q_emb"))
    val dense = e.crossJoin(broadcast(qv))
      .filter(col("vec_id") =!= HybridQueryVec)
      .select(col("vec_id").as("doc_id"),
        round(cosine(col("q_emb"), col("emb")), 9).as("cosine"))
      .orderBy(desc("cosine"), asc("doc_id")).limit(HybridTopK)
      .withColumn("dense_rank", row_number().over(
        Window.partitionBy().orderBy(desc("cosine"), asc("doc_id"))).cast("int"))
      .select(col("doc_id"), col("dense_rank"))
    sparse.join(dense, Seq("doc_id"), "full_outer")
      .withColumn("rrf", round(
        coalesce(lit(1.0) / (lit(RrfK) + col("sparse_rank")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(RrfK) + col("dense_rank")), lit(0.0)), 9))
      .orderBy(desc("rrf"), asc("doc_id")).limit(HybridTopK)
      .select("doc_id", "sparse_rank", "dense_rank", "rrf")
  }

  def labelAgreement(spark: SparkSession, dir: String): DataFrame =
    labelAgreementFrom(Tables.embeddings(spark, dir))

  /** Ambiguous vectors returned by q168. */
  val UncertainTopK = 20

  /** q168 — margin-based UNCERTAINTY sampling: the active-learning
    * batch selector — the [[UncertainTopK]] vectors whose best and
    * second-best label-centroid cosines are closest (smallest margin),
    * i.e. the examples a human labeling budget buys the most from.
    * Completes the label-QA family: q122 finds colliding label PAIRS,
    * q143 scores the labels globally, this picks the individual
    * EXAMPLES to send back for annotation.
    *
    * Scale shape: centroids are the q143 aggregate (label-cardinality
    * rows, exact DECIMAL means) broadcast back; scoring is map-side
    * over labels; the rank-2 cut rides WindowGroupLimit so the
    * vec-keyed exchange carries ≤2 rows per vector, and the final
    * bottom-k lowers to TakeOrderedAndProject. Vectors with no second
    * centroid (single-label corpus) are excluded — margin ordering on
    * NULL diverges between engines, and "no ambiguity measurable" is
    * the honest answer anyway.
    *
    * Determinism: the 9-dp kernel cosine, (cos desc, label asc) rank
    * ties, margin = one exact IEEE subtraction of rounded values
    * re-rounded, bottom-k ties broken by vec_id.
    */
  def uncertaintySample(spark: SparkSession, dir: String): DataFrame =
    uncertaintySampleFrom(Tables.embeddings(spark, dir))

  def uncertaintySampleFrom(embeddings: DataFrame): DataFrame = {
    GraftFunctions.register(embeddings.sparkSession)
    val e = Tables.widened(embeddings, col("vec_id"))
      .select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>").as("emb"))
    val cents = e.groupBy("label")
      .agg(call_function("vector_sum_dec",
          col("emb").cast("array<decimal(38,12)>")).as("sumv"),
        count(lit(1)).as("n"))
      .select(col("label").as("clabel"),
        transform(col("sumv"), x => x.cast("double") / col("n")).as("centroid"))
    val scored = e.crossJoin(broadcast(cents))
      .select(col("vec_id"), col("label"), col("clabel"),
        round(cosine(col("emb"), col("centroid")), 9).as("cos"))
    scored.withColumn("rn", row_number().over(
        Window.partitionBy("vec_id").orderBy(desc("cos"), asc("clabel"))))
      .filter(col("rn") <= 2)
      .groupBy("vec_id")
      .agg(max(col("label")).as("label"),
        max(when(col("rn") === 1, col("clabel"))).as("pred_label"),
        max(when(col("rn") === 1, col("cos"))).as("best_cos"),
        max(when(col("rn") === 2, col("clabel"))).as("second_label"),
        max(when(col("rn") === 2, col("cos"))).as("second_cos"))
      .filter(col("second_cos").isNotNull)
      .select(col("vec_id"), col("label"), col("pred_label"),
        col("best_cos"), col("second_label"), col("second_cos"),
        round(col("best_cos") - col("second_cos"), 9).as("margin"))
      .orderBy(asc("margin"), asc("vec_id"))
      .limit(UncertainTopK)
  }

  def labelAgreementFrom(embeddings: DataFrame): DataFrame = {
    GraftFunctions.register(embeddings.sparkSession)
    val e = Tables.widened(embeddings, col("vec_id"))
      .select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>").as("emb"))
    val cents = e.groupBy("label")
      .agg(call_function("vector_sum_dec",
          col("emb").cast("array<decimal(38,12)>")).as("sumv"),
        count(lit(1)).as("n"))
      .select(col("label").as("clabel"),
        transform(col("sumv"), x => x.cast("double") / col("n")).as("centroid"))
    val scored = e.crossJoin(broadcast(cents))
      .select(col("vec_id"), col("label"), col("clabel"),
        round(cosine(col("emb"), col("centroid")), 9).as("cos"))
    val pred = scored.withColumn("rn", row_number().over(
        Window.partitionBy("vec_id").orderBy(desc("cos"), asc("clabel"))))
      .filter(col("rn") === 1)
      .select(col("label"), col("clabel").as("pred"))
    val conf = pred.groupBy("label", "pred").agg(count(lit(1)).as("n"))
    val rowm = conf.groupBy("label").agg(sum("n").as("n_true"))
    val colm = conf.groupBy("pred").agg(sum("n").as("n_pred"))
    val diag = conf.filter(col("label") === col("pred"))
      .select(col("label"), col("n").as("n_correct"))
    // marginals are label-cardinality — broadcast them so the tail
    // never plans a sort-merge exchange pair over model-sized rows
    val perl = rowm
      .join(broadcast(colm), rowm("label") === colm("pred"), "left").drop("pred")
      .join(broadcast(diag), Seq("label"), "left")
      .select(col("label"), col("n_true"),
        coalesce(col("n_pred"), lit(0L)).as("n_pred"),
        coalesce(col("n_correct"), lit(0L)).as("n_correct"))
    // kappa products in exact 128-bit space (DECIMAL(38,0) here,
    // HUGEINT in the oracle): N² overflows a silent Spark BIGINT past
    // ~3.04e9 rows, well inside the 100 TB posture; NULLIF guards the
    // single-label corpus (denominator 0 → NULL on both engines)
    val dec0 = DecimalType(38, 0)
    val tot = perl.agg(sum("n_true").as("n_total"),
      sum("n_correct").as("sum_diag"),
      sum(col("n_true").cast(DecimalType(19, 0)) *
        col("n_pred").cast(DecimalType(19, 0))).cast(dec0).as("sum_exp"))
    val nT = col("n_total").cast(dec0)
    val kapDen = nT * nT - col("sum_exp")
    perl.crossJoin(broadcast(tot))
      .select(col("label"), col("n_true"), col("n_pred"), col("n_correct"),
        round(col("n_correct").cast("double") / col("n_true").cast("double"), 9)
          .as("recall"),
        round(col("n_correct").cast("double") /
          graft.functions.Det.nullIfZero(col("n_pred")).cast("double"), 9)
          .as("prec"),
        round(col("sum_diag").cast("double") / col("n_total").cast("double"), 9)
          .as("accuracy"),
        round((nT * col("sum_diag").cast(dec0) - col("sum_exp")).cast("double") /
          graft.functions.Det.nullIfZero(kapDen).cast("double"), 9)
          .as("kappa"))
      .orderBy("label")
  }

  /** q144 — fixed power-iteration count (enough to separate the top
    * direction on the fixture while keeping the oracle's unrolled CTE
    * text bounded, the q103/q61 rationale).
    */
  val PcaIters = 3

  /** q144 — top PRINCIPAL COMPONENT by power iteration: the dominant
    * eigenvector of the embedding covariance, its eigenvalue estimate,
    * and the share of total variance it carries. This is the
    * "all-but-the-top" embedding post-processing step of an LLM data
    * pipeline (the dominant direction of an embedding corpus is mostly
    * frequency/length signal; removing it sharpens cosine retrieval)
    * and the spectral complement to q51/q100's codecs and q119's
    * Matryoshka audit: those compress per-vector, this measures the
    * corpus-level geometry the compressions ride on.
    *
    * The covariance matrix is NEVER materialized (dim² at 100 TB is
    * fine, but the corpus pass to fill it is the cost): each iteration
    * computes C·w through the identity
    * `Σ sᵢ(vᵢ−m) = Σ sᵢvᵢ − (Σ sᵢ)·m` with `sᵢ = vᵢ·w − m·w`, i.e. ONE
    * corpus pass of map-side fused-kernel dot products feeding two
    * exact DECIMAL aggregates (a dim-length vector sum and a scalar) —
    * only model-sized rows reach the driver (the q61 Lloyd contract).
    *
    * Determinism: every fractional sum rides the DECIMAL(38,12)
    * accumulator; every scalar step (dot products, −, ·, /, sqrt) is a
    * correctly-rounded IEEE op applied in the same sequential order by
    * the Scala driver fold, the Spark SQL twin's kernels, and the
    * oracle's `list_inner_product` fold — so three independent
    * evaluation paths produce bit-identical loadings after a fixed
    * iteration count.
    */
  def pcaPower(spark: SparkSession, dir: String): DataFrame =
    pcaPowerFrom(Tables.embeddings(spark, dir))

  def pcaPowerFrom(embeddings: DataFrame): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val (w, lambda, tvar) = pcaComponentOf(embeddings)
    w.toIndexedSeq.zipWithIndex.map { case (x, p) => (p, x) }
      .toDF("pos", "loading")
      .select(col("pos"), round(col("loading"), 9).as("loading"),
        round(lit(lambda), 9).as("lambda"),
        round(lit(lambda / tvar), 9).as("var_share"))
      .orderBy("pos")
  }

  /** The q144 power iteration as a driver-side model result
    * `(w, λ, total variance)` — factored so q212 can APPLY the trained
    * component with the identical bit-level loadings.
    */
  private[operators] def pcaComponentOf(
      embeddings: DataFrame): (Array[Double], Double, Double) = {
    val spark = embeddings.sparkSession
    GraftFunctions.register(spark)
    val e = Tables.widened(embeddings, col("vec_id"))
      .select(col("embedding").cast("array<double>").as("emb"))
    // ONE corpus pass for all model-sized statistics: cardinality,
    // dimensionality, the DECIMAL mean sum, and Σ‖v‖² (the total-
    // variance numerator) ride a single fused aggregate
    val stats = e
      .agg(count(lit(1)).as("n"),
        max(size(col("emb"))).as("d"),
        call_function("vector_sum_dec",
          col("emb").cast("array<decimal(38,12)>")).as("sv"),
        sum(call_function("dot_product", col("emb"), col("emb"))
          .cast(DecimalType(38, 12))).cast("double").as("q"))
      .select(col("n"), col("d"),
        transform(col("sv"), x => x.cast("double") / col("n")).as("m"),
        col("q"))
      .head()
    val n = stats.getLong(0)
    val dim = stats.getInt(1)
    def dotSeq(a: Array[Double], b: Array[Double]): Double = {
      var acc = 0.0; var i = 0
      while (i < a.length) { acc += a(i) * b(i); i += 1 }
      acc
    }
    val m: Array[Double] = stats.getSeq[Double](2).toArray
    val q = stats.getDouble(3)
    var w = Array.fill(dim)(1.0 / math.sqrt(dim.toDouble))
    var lambda = 0.0
    for (_ <- 1 to PcaIters) {
      val c = dotSeq(m, w)
      val wLit = array(w.toIndexedSeq.map(lit(_)): _*)
      val g = e
        .select(col("emb"),
          (call_function("dot_product", col("emb"), wLit) - lit(c)).as("s"))
        .agg(call_function("vector_sum_dec",
            transform(col("emb"), x => col("s") * x)
              .cast("array<decimal(38,12)>")).as("sa"),
          sum(col("s").cast(DecimalType(38, 12))).cast("double").as("ss"))
        .select(transform(col("sa"), x => x.cast("double")).as("sa"), col("ss"))
        .head()
      val sa = g.getSeq[Double](0).toArray
      val ss = g.getDouble(1)
      val u = Array.tabulate(dim)(p => (sa(p) - ss * m(p)) / n.toDouble)
      lambda = math.sqrt(dotSeq(u, u))
      // a zero-variance corpus (every vector = the mean) has no
      // principal direction: fail loudly rather than silently diverge
      // from the SQL twins' x/0 null semantics
      require(lambda > 0, "q144 pcaPower needs a corpus with nonzero variance")
      w = u.map(_ / lambda)
    }
    val tvar = q / n.toDouble - dotSeq(m, m)
    (w, lambda, tvar)
  }

  /** q212 — "ALL-BUT-THE-TOP" APPLICATION (the inference half of q144's
    * training, the q198→q200 symmetry for the spectral family): remove
    * the trained dominant component from every embedding and report the
    * per-label energy ledger — mean ‖v‖² before, mean ‖v − (v·w)w‖²
    * after (via the expansion `b − 2p² + p²·(w·w)`, the identical
    * fixed-order IEEE chain in both engines, never a materialized v′),
    * and the mean removed energy `p²`. The dominant direction of an
    * embedding corpus is mostly frequency/length signal (Mu &
    * Viswanath's observation); a label whose energy is CONCENTRATED in
    * it gains the most retrieval sharpness from the removal — this is
    * the table that says which.
    *
    * Determinism: `w` comes to the driver via [[pcaComponentOf]]
    * (bit-identical across engines by q144's three-path argument) and
    * re-enters as literals; per-vector scalars are fused-kernel dot
    * products (sequential fold ≡ DuckDB `list_inner_product`); the
    * per-label means are double avgs rounded 6 (the q57 discipline).
    *
    * Scale shape: training is q144's one-pass-per-iteration contract;
    * application is ONE corpus pass of map-side kernels into a
    * |labels|-bounded aggregate. Nothing vector-sized shuffles.
    */
  def embedWhiten(spark: SparkSession, dir: String): DataFrame =
    embedWhitenFrom(Tables.embeddings(spark, dir))

  def embedWhitenFrom(embeddings: DataFrame): DataFrame = {
    val spark = embeddings.sparkSession
    GraftFunctions.register(spark)
    val (w, _, _) = pcaComponentOf(embeddings)
    var ww = 0.0
    w.foreach(x => ww += x * x)
    val wLit = array(w.toIndexedSeq.map(lit(_)): _*)
    val e = Tables.widened(embeddings, col("vec_id"))
      .select(col("label"), col("embedding").cast("array<double>").as("emb"))
    val b = call_function("dot_product", col("emb"), col("emb"))
    val p = call_function("dot_product", col("emb"), wLit)
    e.select(col("label"), b.as("b"), p.as("p"))
      .groupBy("label")
      .agg(count(lit(1)).as("n_vecs"),
        round(avg(col("b")), 6).as("msq_before"),
        round(avg(col("b") - lit(2.0) * col("p") * col("p") +
          col("p") * col("p") * lit(ww)), 6).as("msq_after"),
        round(avg(col("p") * col("p")), 6).as("msq_removed"))
      .orderBy("label")
  }

  /** q75 — IVF-Flat ANN quantized against the TRAINED codebook: the
    * q61 → q36 wiring under the driver's hash gate. `trainCentroids`
    * (seeded init, [[KmIters]] Lloyd iterations, exact-DECIMAL updates)
    * produces bit-reproducible centroids on any engine at any
    * parallelism, so the oracle re-derives the identical codebook with
    * unrolled SQL CTEs and the assignment boundaries — exact double
    * comparisons against those centroids — hash-match end to end.
    */
  def annIvfTrained(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    annIvfFrom(e, Some(trainCentroids(e)))
  }

  /** q76 — SemDeDup against the TRAINED codebook (q61 → q60 wiring),
    * gated like [[annIvfTrained]].
    */
  def semanticDedupTrained(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    semanticDedupFrom(e, codebookOpt = Some(trainCentroids(e)))
  }

  /** q236 — ANN RECALL audit: measured recall@[[K]] of the trained-IVF
    * index (q75, nprobe=[[NumProbes]]) against the exact brute-force
    * ground truth (q25), per query — the QUALITY gauge for the whole
    * approximate-retrieval stack. q189 audits the index's SHAPE (cell
    * occupancy/load); this audits what the user actually loses: which
    * true neighbors fall outside the probed cells, how many candidates
    * the probes even produced (`n_ivf` < K means the probe set ran
    * dry), and the weakest-returned-cosine gap between the exact and
    * approximate answer. The recall–nprobe trade-off is THE tuning
    * decision for IVF at scale; this is its measurement.
    *
    * Scale shape: both inputs are the existing q25/q75 plans (broadcast
    * query set, map-side scoring, WindowGroupLimit top-k); everything
    * after them is |queries|·K-grain — model-sized. Registered under
    * [[Analytics]] so its oracle/SQL texts can compose the q25/q75
    * texts without a self-referential map initialization.
    */
  def ivfRecall(spark: SparkSession, dir: String): DataFrame =
    ivfRecallFrom(Tables.embeddings(spark, dir))

  def ivfRecallFrom(embeddings: DataFrame): DataFrame = {
    val brute = knnBruteFrom(embeddings)
      .select(col("query_id"), col("neighbor_id"), col("cosine"))
    val ivf = annIvfFrom(embeddings, Some(trainCentroids(embeddings)))
      .select(col("query_id"), col("neighbor_id"),
        col("cosine").as("ivf_cosine"))
    val common = brute
      .join(ivf.select("query_id", "neighbor_id"), Seq("query_id", "neighbor_id"))
      .groupBy("query_id").agg(count(lit(1)).as("n_common"))
    val bk = brute.groupBy("query_id").agg(min("cosine").as("kth_brute"))
    val ik = ivf.groupBy("query_id").agg(
      count(lit(1)).as("n_ivf"), min("ivf_cosine").as("kth_ivf"))
    bk.join(ik, Seq("query_id"), "left")
      .join(common, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("n_ivf"), lit(0L)).as("n_ivf"),
        coalesce(col("n_common"), lit(0L)).as("n_common"),
        round(coalesce(col("n_common"), lit(0L)).cast("double") / K, 6)
          .as("recall"),
        col("kth_brute"), col("kth_ivf"),
        round(col("kth_brute") - col("kth_ivf"), 9).as("cosine_gap"))
      .orderBy("query_id")
  }

  /** q236 DuckDB oracle: the q25 and q75 oracle pipelines embedded
    * verbatim as CTEs (the q215 cross-module composition pattern), so
    * the ground truth and the index answer are regenerated by the
    * already-gated texts and only the recall algebra is new.
    */
  private[operators] lazy val ivfRecallOracleSql: String =
    s"""WITH br AS (${oracle("q25_knn_bruteforce")}),
       |iv AS (${oracle("q75_ann_ivf_trained")}),
       |cm AS (SELECT br.query_id, count(*) AS n_common
       |  FROM br JOIN iv ON iv.query_id = br.query_id
       |    AND iv.neighbor_id = br.neighbor_id
       |  GROUP BY br.query_id),
       |bk AS (SELECT query_id, min(cosine) AS kth_brute FROM br GROUP BY 1),
       |ik AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_ivf,
       |    min(cosine) AS kth_ivf FROM iv GROUP BY 1)
       |SELECT bk.query_id,
       |  COALESCE(ik.n_ivf, CAST(0 AS BIGINT)) AS n_ivf,
       |  COALESCE(cm.n_common, CAST(0 AS BIGINT)) AS n_common,
       |  round(CAST(COALESCE(cm.n_common, CAST(0 AS BIGINT)) AS DOUBLE) / $K, 6)
       |    AS recall,
       |  bk.kth_brute, ik.kth_ivf,
       |  round(bk.kth_brute - ik.kth_ivf, 9) AS cosine_gap
       |FROM bk LEFT JOIN ik ON ik.query_id = bk.query_id
       |LEFT JOIN cm ON cm.query_id = bk.query_id
       |ORDER BY bk.query_id""".stripMargin

  /** q236 Spark-SQL form: the q75 override's probe pipeline plus the
    * q25 brute scan, through the same native kernels.
    */
  private[operators] lazy val ivfRecallSparkSql: String =
    s"""WITH $eSparkCte,
       |${lloydSparkSql(KmIters)},
       |${ecellSparkSql(KmIters)},
       |qp AS (SELECT vec_id AS query_id, emb AS q_emb, c, row_number() OVER
       |    (PARTITION BY vec_id ORDER BY score DESC, c) AS prn
       |  FROM scs WHERE vec_id < $NumQueries),
       |qprobes AS (SELECT query_id, q_emb, c AS probe_cell FROM qp WHERE prn <= $NumProbes),
       |iscored AS (SELECT query_id, e.vec_id AS neighbor_id,
       |    round(cosine_similarity(q_emb, emb), 9) AS cosine
       |  FROM ecell e JOIN qprobes q
       |    ON e.cell = q.probe_cell AND e.vec_id <> q.query_id),
       |iv AS (SELECT query_id, neighbor_id, cosine FROM (
       |    SELECT *, row_number() OVER
       |      (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
       |    FROM iscored) WHERE rank <= $K),
       |bq AS (SELECT vec_id AS query_id, emb AS q_emb FROM e
       |  WHERE vec_id < $NumQueries),
       |bscored AS (SELECT query_id, e.vec_id AS neighbor_id,
       |    round(cosine_similarity(q_emb, emb), 9) AS cosine
       |  FROM e CROSS JOIN bq WHERE e.vec_id <> bq.query_id),
       |br AS (SELECT query_id, neighbor_id, cosine FROM (
       |    SELECT *, row_number() OVER
       |      (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
       |    FROM bscored) WHERE rank <= $K),
       |cm AS (SELECT br.query_id, count(1) AS n_common
       |  FROM br JOIN iv ON iv.query_id = br.query_id
       |    AND iv.neighbor_id = br.neighbor_id
       |  GROUP BY br.query_id),
       |bk AS (SELECT query_id, min(cosine) AS kth_brute FROM br GROUP BY query_id),
       |ik AS (SELECT query_id, count(1) AS n_ivf, min(cosine) AS kth_ivf
       |  FROM iv GROUP BY query_id)
       |SELECT bk.query_id,
       |  COALESCE(ik.n_ivf, 0L) AS n_ivf,
       |  COALESCE(cm.n_common, 0L) AS n_common,
       |  round(CAST(COALESCE(cm.n_common, 0L) AS DOUBLE) / $K, 6) AS recall,
       |  bk.kth_brute, ik.kth_ivf,
       |  round(bk.kth_brute - ik.kth_ivf, 9) AS cosine_gap
       |FROM bk LEFT JOIN ik ON ik.query_id = bk.query_id
       |LEFT JOIN cm ON cm.query_id = bk.query_id
       |ORDER BY bk.query_id""".stripMargin

  /** q136 — PQ-ADC ANN against TRAINED sub-codebooks: the q75 pattern
    * applied to the last vector-family member still searching seeded
    * codebooks — [[trainPqCodebooks]]'s per-subspace Euclidean Lloyd
    * iterations feed [[annPqFrom]], and the oracle re-derives the
    * identical sub-codebooks with unrolled SQL CTEs (exact-DECIMAL
    * means, first-min assignment ties), so training + encode + ADC +
    * rerank hash-match end to end like q75's trained IVF.
    *
    * Scale shape is q100's (encode is map-only, LUTs broadcast) plus
    * q61's training contract: per iteration ONE corpus pass covers all
    * [[PqM]] subspaces and only M·K model-sized rows reach the driver.
    */
  def annPqTrained(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    annPqFrom(e, Some(trainPqCodebooks(e)))
  }

  /** q255 delta share: vectors whose maintenance hash lands in bucket 0
    * of [[IvfDeltaMod]] form the arriving DELTA batch (~10%); the rest
    * are the stored base index. The q45 no-rand() rule, so the split
    * survives re-runs and growth.
    */
  val IvfDeltaMod = 10

  /** Shared q255 assignment relation: every vector scored against the
    * seeded codebook (one fused-kernel pass), winner cell by
    * max-score/first-index (the q36 tie order), maintenance arm from
    * the hash split. `score` is the winning dot product rounded 9 dp —
    * the kernel-output rounding class.
    */
  private def ivfAssigned(embeddings: DataFrame): DataFrame = {
    val codebook: Seq[Seq[Double]] = embeddings
      .filter(col("vec_id") >= SeedBase &&
        col("vec_id") < SeedBase + NumCells)
      .orderBy("vec_id")
      .select(col("embedding").cast("array<double>"))
      .collect().map(_.getSeq[Double](0).toSeq).toSeq
    embDouble(embeddings)
      .withColumn("cell", assignedCell(col("emb"), codebook))
      .withColumn("score",
        round(array_max(codebookScores(col("emb"), codebook)), 9))
      .withColumn("arm",
        (TextFns.hash32(concat(lit("ivfd|"), col("vec_id").cast("string")))
          % IvfDeltaMod).cast("int"))
      .select("vec_id", "cell", "score", "arm")
  }

  /** The STORED per-cell index statistics a production vector store
    * keeps beside its centroids: occupancy and the DECIMAL sum of
    * assignment scores over the base corpus. Building it is the index
    * construction, paid once; every maintenance run reads it back
    * (the q216/q135 stored-partials discipline).
    */
  def ivfBaseStats(embeddings: DataFrame): DataFrame =
    ivfAssigned(embeddings).filter(col("arm") =!= 0)
      .groupBy("cell").agg(count(lit(1)).as("n_base"),
        sum(col("score").cast(DecimalType(38, 12))).as("s_base"))

  /** q255 — incremental IVF index maintenance: assign ONLY the
    * arriving delta batch against the stored centroids and fold it
    * into the STORED per-cell stats, reporting the drift signals a
    * vector store's rebuild policy reads — per cell: base/delta
    * occupancy, growth ratio, mean assignment score of each arm and
    * their drift (a falling delta mean = new data far from the old
    * centroids = the codebook is stale), and a hot flag when a cell
    * absorbs >2× its fair share of the delta. The vector-side member
    * of the staged-incremental family (q135 clusters, q137
    * containment, q216 join IVM): at 100 TB the base corpus is NEVER
    * rescanned on a maintenance run — only the 16-row stored stats
    * and the delta slice pay.
    *
    * Determinism: occupancies integer; scores are 9-dp kernel outputs
    * summed through DECIMAL(38,12) (order-free); means/growth/drift
    * are raw fixed-order double chains; the hot flag is integer
    * cross-multiplied. Fresh ≡ staged by construction
    * ([[ivfDelta]] = [[ivfDeltaStaged]] ∘ [[ivfBaseStats]]); the
    * oracle is the direct both-arms computation, so the gate proves
    * the merge identity.
    */
  def ivfDelta(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    ivfDeltaStaged(ivfBaseStats(e), e)
  }

  /** The maintenance fold over the STORED base stats: only the delta
    * slice is assigned live.
    */
  def ivfDeltaStaged(baseStats: DataFrame, embeddings: DataFrame): DataFrame = {
    val spark = embeddings.sparkSession
    val delta = ivfAssigned(embeddings).filter(col("arm") === 0)
      .groupBy("cell").agg(count(lit(1)).as("n_delta"),
        sum(col("score").cast(DecimalType(38, 12))).as("s_delta"))
    val spine = spark.range(NumCells).select(col("id").cast("int").as("cell"))
    val all = Window.partitionBy()
    spine
      .join(baseStats, Seq("cell"), "left")
      .join(delta, Seq("cell"), "left")
      .na.fill(0L, Seq("n_base", "n_delta"))
      .withColumn("total_delta", sum("n_delta").over(all))
      .select(col("cell"), col("n_base"), col("n_delta"),
        (col("n_delta").cast("double") / nullIfZero(col("n_base")))
          .as("growth"),
        (col("s_base").cast("double") / nullIfZero(col("n_base")))
          .as("mean_score_base"),
        (col("s_delta").cast("double") / nullIfZero(col("n_delta")))
          .as("mean_score_delta"),
        (col("s_delta").cast("double") / nullIfZero(col("n_delta")) -
          col("s_base").cast("double") / nullIfZero(col("n_base")))
          .as("drift"),
        (col("n_delta") * NumCells > col("total_delta") * 2).as("hot"))
      .orderBy("cell")
  }

  /** q249 candidate pool (per query), picks, and the relevance weight.
    * λ = 0.7 and its complement are SEPARATE literals — `1 − 0.7`
    * computed in doubles is 0.30000000000000004, which would desync
    * the two engines' score arithmetic.
    */
  val MmrCand = 20
  val MmrSelect = 10
  val MmrLambda = 0.7
  val MmrMu = 0.3

  /** q249 — MMR-diversified retrieval (Carbonell & Goldstein, SIGIR
    * 1998 — maximal marginal relevance, the standard diversity
    * re-ranker in RAG stacks): from each query's top-[[MmrCand]]
    * cosine pool, greedily select [[MmrSelect]] docs maximizing
    * `λ·rel(d) − (1−λ)·max_{s∈S} sim(d,s)` — relevance against the
    * query, penalized by redundancy against what is ALREADY selected,
    * so near-duplicate hits stop crowding out coverage (the
    * result-list counterpart of q60's corpus-level SemDeDup).
    *
    * Determinism: rel and pairwise sims are 9-dp-rounded kernel
    * cosines — EXACT decimals — so each MMR score `0.7·rel − 0.3·red`
    * is computed as an exact scale-10 DECIMAL (a double formulation
    * re-rounded to 9 dp hit a half-boundary at sf0.1 and split the
    * engines); greedy argmax orders by that exact decimal with doc-id
    * tie-breaks; the oracle unrolls the [[MmrSelect]] selection
    * rounds as generated CTE stages over the same decimal algebra.
    *
    * Scale shape: ONE q25-shaped corpus pass (broadcast query set,
    * map-side fused-kernel scoring, WindowGroupLimit top-k) + one
    * broadcast-candidate corpus probe for candidate vectors; the
    * pairwise sim self-join and the greedy fold run on
    * |queries|·C(·C) rows — model-scale, the only rows that reach the
    * driver (the q61 contract: the iterative selection is inherently
    * sequential in k, so it folds over ≤|queries|·C² collected rows
    * instead of paying k tiny cluster jobs).
    */
  def mmrRerank(spark: SparkSession, dir: String): DataFrame =
    mmrFrom(Tables.embeddings(spark, dir))

  def mmrFrom(embeddings: DataFrame): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val e = embDouble(embeddings)
    val q = queriesOf(e)
    val scored = e.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(cosine(col("q_emb"), col("emb")), 9).as("cosine"))
    val cand = topK(scored, MmrCand)
      .select("query_id", "neighbor_id", "cosine").localCheckpoint()
    val candV = e.join(broadcast(cand), col("vec_id") === col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), col("emb"))
      .localCheckpoint()
    val sims = candV.alias("a").join(candV.alias("b"),
        col("a.query_id") === col("b.query_id") &&
          col("a.neighbor_id") =!= col("b.neighbor_id"))
      .select(col("a.query_id"), col("a.neighbor_id").as("i"),
        col("b.neighbor_id").as("j"),
        round(cosine(col("a.emb"), col("b.emb")), 9).as("s"))
    val candRows = cand.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val simMap = sims.collect()
      .map(r => ((r.getLong(0), r.getLong(1), r.getLong(2)), r.getDouble(3)))
      .toMap
    // exact-decimal MMR score: rel/red are 9-dp decimals, so
    // 0.7·rel − 0.3·red is EXACT at scale 10 — no second rounding, no
    // cross-engine half-boundary (the double formulation diverged at
    // sf0.1 on a …5-at-9dp score). Ordered via the scale-10 unscaled
    // long.
    val lam = new java.math.BigDecimal("0.7")
    val mu = new java.math.BigDecimal("0.3")
    def score(rel: Double, red: Double): java.math.BigDecimal =
      lam.multiply(java.math.BigDecimal.valueOf(rel))
        .subtract(mu.multiply(java.math.BigDecimal.valueOf(red)))
        .setScale(10)
    val out = candRows.groupBy(_._1).toSeq.sortBy(_._1).flatMap {
      case (qid, xs) =>
        val pool = scala.collection.mutable.LinkedHashMap(
          xs.sortBy(x => (-x._3, x._2)).map(x => x._2 -> x._3): _*)
        val sel = scala.collection.mutable.ArrayBuffer[Long]()
        (1 to MmrSelect).flatMap { k =>
          if (pool.isEmpty) None
          else {
            val (d, rel, red, mmr) = pool.iterator.map { case (d, rel) =>
              val red =
                if (sel.isEmpty) 0.0
                else sel.iterator.map(s => simMap((qid, d, s))).max
              (d, rel, red, score(rel, red))
            }.toSeq
              .sortBy(x => (-x._4.unscaledValue().longValueExact(), x._1))
              .head
            pool.remove(d)
            sel += d
            Some((qid, k, d, rel, red, mmr.doubleValue))
          }
        }
    }
    out.toDF("query_id", "sel_rank", "doc_id", "relevance", "redundancy",
        "mmr")
      .orderBy("query_id", "sel_rank")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q255_ivf_delta" -> (ivfDelta _),
    "q249_mmr_rerank" -> (mmrRerank _),
    "q25_knn_bruteforce" -> (knnBrute _),
    "q119_matryoshka_recall" -> (matryoshkaRecall _),
    "q26_ann_lsh" -> (annLsh _),
    "q180_label_noise" -> (labelNoise _),
    "q189_ivf_balance" -> (ivfBalance _),
    "q194_embedding_coverage" -> (embeddingCoverage _),
    "q36_ann_ivf" -> (annIvf _),
    "q83_ann_rerank" -> (annRerank _),
    "q38_embedding_neardup" -> (embeddingNearDup _),
    "q51_quantize_int8" -> (quantizeInt8 _),
    "q56_centroid_outliers" -> (centroidOutliers _),
    "q122_label_centroids" -> (labelCentroidMatrix _),
    "q164_collapse_audit" -> (collapseAudit _),
    "q143_label_agreement" -> (labelAgreement _),
    "q168_uncertainty_sample" -> (uncertaintySample _),
    "q170_source_drift" -> (sourceDrift _),
    "q158_triplet_mining" -> (tripletMining _),
    "q159_hybrid_search" -> (hybridSearch _),
    "q144_pca_power" -> (pcaPower _),
    "q212_embed_whiten" -> (embedWhiten _),
    "q60_semantic_dedup" -> (semanticDedup _),
    "q61_kmeans_train" -> (kmeansTrain _),
    "q75_ann_ivf_trained" -> (annIvfTrained _),
    "q76_semantic_dedup_trained" -> (semanticDedupTrained _),
    "q91_quantized_rerank" -> (quantizedRerank _),
    "q100_ann_pq" -> (annPq _),
    "q136_ann_pq_trained" -> (annPqTrained _))

  private val eCte =
    """e AS (SELECT vec_id, embedding::DOUBLE[] AS emb,
      |  sqrt(list_inner_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
      |  FROM embeddings)""".stripMargin

  /** Shared q36/q189 oracle fragment: seeded-codebook cell assignment
    * ending in `ecell(vec_id, emb, nrm, cell)`; `scs` (per-cell scores)
    * stays in scope for probe selection. Expects `e` from [[eCte]].
    */
  private def ivfCellSql: String =
    s"""cent AS (SELECT CAST(vec_id - $SeedBase AS INT) AS c, emb AS c_emb FROM e
       |         WHERE vec_id >= $SeedBase AND vec_id < ${SeedBase + NumCells}),
       |scs AS (SELECT e.vec_id, e.emb, e.nrm, c,
       |    list_inner_product(e.emb, c_emb) AS score
       |  FROM e CROSS JOIN cent),
       |asg AS (SELECT vec_id, emb, nrm, c AS cell, row_number() OVER
       |    (PARTITION BY vec_id ORDER BY score DESC, c) AS rn FROM scs),
       |ecell AS (SELECT vec_id, emb, nrm, cell FROM asg WHERE rn = 1)""".stripMargin

  private def planeSql(p: Int): String =
    s"""list_transform(range(64), j ->
       |  (${TextFns.sql.hash32(s"'pl${p}_' || CAST(j AS INT)")} / 2147483648.0) - 1.0)""".stripMargin

  /** Plane `p` as a literal DOUBLE[] — the same Scala-computed weights
    * the Spark side embeds. Each weight is `L/2^31 − 1` (L < 2^32), an
    * exact dyadic rational, so `Double.toString`'s shortest round-trip
    * decimal parses back to the identical bits in DuckDB.
    */
  private def planeLit(p: Int): String =
    planeWeights(p).map(w => java.lang.Double.toString(w))
      .mkString("[", ", ", "]::DOUBLE[]")

  /** Oracle fragment: the seed codebook `cent0` plus `iters` unrolled
    * Lloyd iterations ending in `cent<iters>(c, c_emb)`; iteration i
    * also leaves its member counts in `n<i>`. Expects a CTE
    * `e(vec_id, emb, ...)` in scope. One Lloyd iteration against
    * cent<i-1> = assignment (first-max tie order via the row_number
    * window) + exact DECIMAL per-dimension means; emptied cells carry
    * the previous centroid. Shared by q61 / q75 / q76 so the trained
    * codebook the Spark side collects is re-derived identically.
    */
  private def lloydSql(iters: Int): String = {
    def iterCtes(i: Int): String =
      s"""s$i AS (SELECT e.vec_id, e.emb, c, list_inner_product(e.emb, c_emb) AS score
         |  FROM e CROSS JOIN cent${i - 1}),
         |a$i AS (SELECT vec_id, emb, c AS cell, row_number() OVER
         |    (PARTITION BY vec_id ORDER BY score DESC, c) AS rn FROM s$i),
         |m$i AS (SELECT vec_id, emb, cell FROM a$i WHERE rn = 1),
         |ex$i AS (SELECT cell, UNNEST(emb) AS v, UNNEST(range(len(emb))) AS pos FROM m$i),
         |cs$i AS (SELECT cell, pos, sum(CAST(v AS DECIMAL(38,12))) AS s
         |  FROM ex$i GROUP BY cell, pos),
         |n$i AS (SELECT cell, count(*) AS n FROM m$i GROUP BY cell),
         |u$i AS (SELECT cell, list(CAST(s AS DOUBLE) / n ORDER BY pos) AS centroid
         |  FROM cs$i JOIN n$i USING (cell) GROUP BY cell, n)""".stripMargin
    val b = new StringBuilder(
      s"""cent0 AS (SELECT CAST(vec_id - $SeedBase AS INT) AS c, emb AS c_emb FROM e
         |          WHERE vec_id >= $SeedBase AND vec_id < ${SeedBase + NumCells})""".stripMargin)
    for (i <- 1 to iters)
      b.append(s""",
         |${iterCtes(i)},
         |cent$i AS (SELECT p.c, COALESCE(u$i.centroid, p.c_emb) AS c_emb
         |           FROM cent${i - 1} p LEFT JOIN u$i ON u$i.cell = p.c)""".stripMargin)
    b.toString
  }

  /** Spark-SQL twin of [[lloydSql]]: the same unrolled Lloyd iterations
    * through the registered native kernels (`dot_product` assignment,
    * `vector_sum_dec` exact-DECIMAL update) — the plan shape the
    * DataFrame path runs, now reachable from SQL text. Ends in
    * `cent<iters>(c, c_emb)` with member counts in `n<iters>`.
    */
  private def lloydSparkSql(iters: Int): String = {
    def iterCtes(i: Int): String =
      s"""s$i AS (SELECT e.vec_id, e.emb, c, dot_product(e.emb, c_emb) AS score
         |  FROM e CROSS JOIN cent${i - 1}),
         |a$i AS (SELECT vec_id, emb, c AS cell, row_number() OVER
         |    (PARTITION BY vec_id ORDER BY score DESC, c) AS rn FROM s$i),
         |m$i AS (SELECT vec_id, emb, cell FROM a$i WHERE rn = 1),
         |u$i AS (SELECT cell, count(1) AS n,
         |    vector_sum_dec(CAST(emb AS ARRAY<DECIMAL(38,12)>)) AS sumv
         |  FROM m$i GROUP BY cell),
         |n$i AS (SELECT cell, n FROM u$i),
         |uu$i AS (SELECT cell, transform(sumv, x -> CAST(x AS DOUBLE) / n) AS centroid
         |  FROM u$i),
         |cent$i AS (SELECT p.c, COALESCE(uu$i.centroid, p.c_emb) AS c_emb
         |           FROM cent${i - 1} p LEFT JOIN uu$i ON uu$i.cell = p.c)""".stripMargin
    val b = new StringBuilder(
      s"""cent0 AS (SELECT CAST(vec_id - $SeedBase AS INT) AS c, emb AS c_emb FROM e
         |          WHERE vec_id >= $SeedBase AND vec_id < ${SeedBase + NumCells})""".stripMargin)
    for (i <- 1 to iters) b.append(",\n" + iterCtes(i))
    b.toString
  }

  /** Oracle fragment for [[trainPqCodebooks]]: seed sub-codebooks `pc0`
    * plus `iters` unrolled per-subspace Euclidean Lloyd iterations
    * ending in `pc<iters>(k, m, c_emb)`. Expects CTEs `sub(vec_id, m,
    * v)` (the [[PqM]]-way sliced corpus) in scope. Assignment is the
    * encoder's `−2·v·c + cc` argmin with first-min tie order (the
    * row_number window); updates are exact DECIMAL per-dimension means;
    * emptied (m, cell) pairs carry the previous sub-centroid — the
    * DataFrame trainer's semantics, re-derived so q136's training is
    * itself hash-gated like q75's.
    */
  private def pqLloydSql(iters: Int): String = {
    def iterCtes(i: Int): String =
      s"""ps$i AS (SELECT s.vec_id, s.m, s.v, c.k,
         |    -2.0 * list_inner_product(s.v, c.c_emb)
         |      + list_inner_product(c.c_emb, c.c_emb) AS score
         |  FROM sub s JOIN pc${i - 1} c ON c.m = s.m),
         |pa$i AS (SELECT vec_id, m, v, k, row_number() OVER
         |    (PARTITION BY vec_id, m ORDER BY score ASC, k) AS rn FROM ps$i),
         |pm$i AS (SELECT m, k AS cell, v FROM pa$i WHERE rn = 1),
         |pex$i AS (SELECT m, cell, UNNEST(v) AS x,
         |    UNNEST(range(len(v))) AS pos FROM pm$i),
         |pcs$i AS (SELECT m, cell, pos, sum(CAST(x AS DECIMAL(38,12))) AS s
         |  FROM pex$i GROUP BY m, cell, pos),
         |pn$i AS (SELECT m, cell, count(*) AS n FROM pm$i GROUP BY m, cell),
         |pu$i AS (SELECT m, cell, list(CAST(s AS DOUBLE) / n ORDER BY pos) AS c
         |  FROM pcs$i JOIN pn$i USING (m, cell) GROUP BY m, cell, n),
         |pc$i AS (SELECT p.k, p.m, COALESCE(u.c, p.c_emb) AS c_emb
         |  FROM pc${i - 1} p LEFT JOIN pu$i u
         |    ON u.m = p.m AND u.cell = p.k)""".stripMargin
    val b = new StringBuilder(
      s"""pc0 AS (SELECT CAST(vec_id - $SeedBase AS INT) AS k, m, v AS c_emb
         |        FROM sub
         |        WHERE vec_id >= $SeedBase AND vec_id < ${SeedBase + PqK})""".stripMargin)
    for (i <- 1 to iters) b.append(",\n" + iterCtes(i))
    b.toString
  }

  /** Spark-SQL twin of [[pqLloydSql]] through the registered native
    * kernels (`dot_product` assignment, `vector_sum_dec` exact-DECIMAL
    * update) — the plan family the DataFrame trainer runs.
    */
  private def pqLloydSparkSql(iters: Int): String = {
    def iterCtes(i: Int): String =
      s"""ps$i AS (SELECT s.vec_id, s.m, s.v, c.k,
         |    -2.0D * dot_product(s.v, c.c_emb)
         |      + dot_product(c.c_emb, c.c_emb) AS score
         |  FROM sub s JOIN pc${i - 1} c ON c.m = s.m),
         |pa$i AS (SELECT vec_id, m, v, k, row_number() OVER
         |    (PARTITION BY vec_id, m ORDER BY score ASC, k) AS rn FROM ps$i),
         |pm$i AS (SELECT m, k AS cell, v FROM pa$i WHERE rn = 1),
         |pu$i AS (SELECT m, cell, count(1) AS n,
         |    vector_sum_dec(CAST(v AS ARRAY<DECIMAL(38,12)>)) AS sumv
         |  FROM pm$i GROUP BY m, cell),
         |puc$i AS (SELECT m, cell,
         |    transform(sumv, x -> CAST(x AS DOUBLE) / n) AS c FROM pu$i),
         |pc$i AS (SELECT p.k, p.m, COALESCE(u.c, p.c_emb) AS c_emb
         |  FROM pc${i - 1} p LEFT JOIN puc$i u
         |    ON u.m = p.m AND u.cell = p.k)""".stripMargin
    val b = new StringBuilder(
      s"""pc0 AS (SELECT CAST(vec_id - $SeedBase AS INT) AS k, m, v AS c_emb
         |        FROM sub
         |        WHERE vec_id >= $SeedBase AND vec_id < ${SeedBase + PqK})""".stripMargin)
    for (i <- 1 to iters) b.append(",\n" + iterCtes(i))
    b.toString
  }

  private val eSparkCte =
    "e AS (SELECT vec_id, CAST(embedding AS ARRAY<DOUBLE>) AS emb FROM embeddings)"

  /** Shared q75/q76 fragment: cell assignment of the full corpus against
    * the trained codebook (first-max tie order via the window).
    */
  private def ecellSparkSql(iters: Int): String =
    s"""scs AS (SELECT e.vec_id, e.emb, c, dot_product(e.emb, c_emb) AS score
       |  FROM e CROSS JOIN cent$iters),
       |asg AS (SELECT vec_id, emb, c AS cell, row_number() OVER
       |    (PARTITION BY vec_id ORDER BY score DESC, c) AS rn FROM scs),
       |ecell AS (SELECT vec_id, emb, cell FROM asg WHERE rn = 1)""".stripMargin

  /** Spark-SQL forms for [[SqlSurface]] that are NOT dialect rewrites:
    * the iterative/collect-based queries, expressed through the
    * registered native kernels so the SQL user runs the same plan
    * family as the DataFrame API (`SqlSurfaceSpec` gates bit-equality).
    */
  lazy val sparkSql: Map[String, String] = Map(
    // handwritten (not a dialect rewrite): the LUT arrays need an
    // ordered list aggregate — DuckDB `list(adc ORDER BY k)`, Spark
    // `transform(array_sort(collect_list(struct(k, adc))), s -> s.adc)`
    // — and the SQL form re-derives codebook + codes in-query where the
    // DataFrame form collects the 26 head rows driver-side; identical
    // IEEE op order keeps all three bit-equal
    "q100_ann_pq" -> {
      val codeCols = (0 until PqM)
        .map(m => s"MAX(CASE WHEN m = $m THEN code END) AS code$m").mkString(",\n    ")
      val lutCols = (0 until PqM)
        .map(m => s"MAX(CASE WHEN m = $m THEN l END) AS lut$m").mkString(",\n    ")
      val approxExpr = (0 until PqM)
        .map(m => s"element_at(l.lut$m, w.code$m + 1)").mkString(" + ")
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS ARRAY<DOUBLE>) AS emb,
         |  sqrt(dot_product(CAST(embedding AS ARRAY<DOUBLE>),
         |                   CAST(embedding AS ARRAY<DOUBLE>))) AS nrm
         |  FROM embeddings),
         |ms AS (SELECT explode(sequence(0, ${PqM - 1})) AS m),
         |sub AS (SELECT vec_id, m, slice(emb, m * $PqD + 1, $PqD) AS v
         |        FROM e CROSS JOIN ms),
         |cc AS (SELECT CAST(vec_id - $SeedBase AS INT) AS k, m, v AS c_emb,
         |    dot_product(v, v) AS cc
         |  FROM sub WHERE vec_id >= $SeedBase AND vec_id < ${SeedBase + PqK}),
         |scs AS (SELECT s.vec_id, s.m, c.k,
         |    -2.0D * dot_product(s.v, c.c_emb) + c.cc AS score
         |  FROM sub s JOIN cc c ON c.m = s.m),
         |codes AS (SELECT vec_id, m, k AS code FROM (
         |    SELECT *, row_number() OVER
         |      (PARTITION BY vec_id, m ORDER BY score ASC, k) AS rn
         |    FROM scs) WHERE rn = 1),
         |wide AS (SELECT vec_id,
         |    $codeCols
         |  FROM codes GROUP BY vec_id),
         |qsub AS (SELECT vec_id AS query_id, m, v, dot_product(v, v) AS qq
         |  FROM sub WHERE vec_id < $NumQueries),
         |lut AS (SELECT q.query_id, q.m, c.k,
         |    q.qq - 2.0D * dot_product(q.v, c.c_emb) + c.cc AS adc
         |  FROM qsub q JOIN cc c ON c.m = q.m),
         |luta AS (SELECT query_id, m,
         |    transform(array_sort(collect_list(struct(k, adc))), s -> s.adc) AS l
         |  FROM lut GROUP BY query_id, m),
         |lutw AS (SELECT query_id,
         |    $lutCols
         |  FROM luta GROUP BY query_id),
         |ap AS (SELECT l.query_id, w.vec_id, $approxExpr AS approx
         |  FROM wide w CROSS JOIN lutw l WHERE w.vec_id <> l.query_id),
         |cand AS (SELECT query_id, vec_id FROM (
         |    SELECT *, row_number() OVER
         |      (PARTITION BY query_id ORDER BY approx ASC, vec_id) AS crn
         |    FROM ap) WHERE crn <= $PqCand),
         |scored AS (SELECT c.query_id, n.vec_id AS neighbor_id,
         |    round(dot_product(q.emb, n.emb) / (q.nrm * n.nrm), 9) AS cosine
         |  FROM cand c JOIN e n ON n.vec_id = c.vec_id
         |  JOIN e q ON q.vec_id = c.query_id),
         |rk AS (SELECT *, row_number() OVER
         |  (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank FROM scored)
         |SELECT query_id, neighbor_id, cosine, CAST(rank AS INT) AS rank
         |FROM rk WHERE rank <= $K ORDER BY query_id, rank""".stripMargin
    },
    // q100's Spark-SQL body against pqLloydSparkSql's trained
    // sub-codebooks (the q75 trained-twin discipline)
    "q136_ann_pq_trained" -> {
      val codeCols = (0 until PqM)
        .map(m => s"MAX(CASE WHEN m = $m THEN code END) AS code$m").mkString(",\n    ")
      val lutCols = (0 until PqM)
        .map(m => s"MAX(CASE WHEN m = $m THEN l END) AS lut$m").mkString(",\n    ")
      val approxExpr = (0 until PqM)
        .map(m => s"element_at(l.lut$m, w.code$m + 1)").mkString(" + ")
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS ARRAY<DOUBLE>) AS emb,
         |  sqrt(dot_product(CAST(embedding AS ARRAY<DOUBLE>),
         |                   CAST(embedding AS ARRAY<DOUBLE>))) AS nrm
         |  FROM embeddings),
         |ms AS (SELECT explode(sequence(0, ${PqM - 1})) AS m),
         |sub AS (SELECT vec_id, m, slice(emb, m * $PqD + 1, $PqD) AS v
         |        FROM e CROSS JOIN ms),
         |${pqLloydSparkSql(KmIters)},
         |cc AS (SELECT k, m, c_emb, dot_product(c_emb, c_emb) AS cc
         |  FROM pc$KmIters),
         |scs AS (SELECT s.vec_id, s.m, c.k,
         |    -2.0D * dot_product(s.v, c.c_emb) + c.cc AS score
         |  FROM sub s JOIN cc c ON c.m = s.m),
         |codes AS (SELECT vec_id, m, k AS code FROM (
         |    SELECT *, row_number() OVER
         |      (PARTITION BY vec_id, m ORDER BY score ASC, k) AS rn
         |    FROM scs) WHERE rn = 1),
         |wide AS (SELECT vec_id,
         |    $codeCols
         |  FROM codes GROUP BY vec_id),
         |qsub AS (SELECT vec_id AS query_id, m, v, dot_product(v, v) AS qq
         |  FROM sub WHERE vec_id < $NumQueries),
         |lut AS (SELECT q.query_id, q.m, c.k,
         |    q.qq - 2.0D * dot_product(q.v, c.c_emb) + c.cc AS adc
         |  FROM qsub q JOIN cc c ON c.m = q.m),
         |luta AS (SELECT query_id, m,
         |    transform(array_sort(collect_list(struct(k, adc))), s -> s.adc) AS l
         |  FROM lut GROUP BY query_id, m),
         |lutw AS (SELECT query_id,
         |    $lutCols
         |  FROM luta GROUP BY query_id),
         |ap AS (SELECT l.query_id, w.vec_id, $approxExpr AS approx
         |  FROM wide w CROSS JOIN lutw l WHERE w.vec_id <> l.query_id),
         |cand AS (SELECT query_id, vec_id FROM (
         |    SELECT *, row_number() OVER
         |      (PARTITION BY query_id ORDER BY approx ASC, vec_id) AS crn
         |    FROM ap) WHERE crn <= $PqCand),
         |scored AS (SELECT c.query_id, n.vec_id AS neighbor_id,
         |    round(dot_product(q.emb, n.emb) / (q.nrm * n.nrm), 9) AS cosine
         |  FROM cand c JOIN e n ON n.vec_id = c.vec_id
         |  JOIN e q ON q.vec_id = c.query_id),
         |rk AS (SELECT *, row_number() OVER
         |  (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank FROM scored)
         |SELECT query_id, neighbor_id, cosine, CAST(rank AS INT) AS rank
         |FROM rk WHERE rank <= $K ORDER BY query_id, rank""".stripMargin
    },
    // kernel-driven twin of the q164 oracle (its parallel-UNNEST vector
    // sums are override territory); same IEEE close, same flag
    "q164_collapse_audit" ->
      s"""WITH e AS (SELECT label, CAST(embedding AS ARRAY<DOUBLE>) AS emb
         |  FROM embeddings),
         |per AS (SELECT label, count(1) AS n,
         |    CAST(sum(CAST(round(dot_product(emb, emb), 9)
         |      AS DECIMAL(38,12))) AS DECIMAL(38,12)) AS ssum,
         |    vector_sum_dec(CAST(emb AS ARRAY<DECIMAL(38,12)>)) AS sumv
         |  FROM e GROUP BY label),
         |u AS (SELECT label, n, ssum, sumv FROM per
         |  UNION ALL
         |  SELECT -1, sum(n), CAST(sum(ssum) AS DECIMAL(38,12)),
         |    vector_sum_dec(sumv)
         |  FROM per),
         |m AS (SELECT label, n,
         |    CAST(ssum AS DOUBLE) / n AS msn_u,
         |    CASE WHEN n > 1 THEN
         |      (2.0D * (CAST(n AS DOUBLE) * CAST(ssum AS DOUBLE)
         |        - dot_product(transform(sumv, x -> CAST(x AS DOUBLE)),
         |                      transform(sumv, x -> CAST(x AS DOUBLE)))))
         |      / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE)) END AS mps_u
         |  FROM u)
         |SELECT label, n, round(msn_u, 9) AS mean_sq_norm,
         |  round(mps_u, 9) AS mean_pairwise_sq,
         |  round(mps_u / (2.0D * msn_u), 9) AS isotropy_ratio,
         |  CASE WHEN n > 1 THEN mps_u < 0.2D * msn_u END AS collapsed
         |FROM m ORDER BY label""".stripMargin,
    "q122_label_centroids" ->
      s"""WITH e AS (SELECT vec_id, label, CAST(embedding AS ARRAY<DOUBLE>) AS emb
         |  FROM embeddings),
         |cs AS (SELECT label, count(1) AS n,
         |    vector_sum_dec(CAST(emb AS ARRAY<DECIMAL(38,12)>)) AS sumv
         |  FROM e GROUP BY label),
         |cent AS (SELECT label, n, transform(sumv, x -> CAST(x AS DOUBLE) / n) AS centroid
         |  FROM cs)
         |SELECT a.label AS label_a, b.label AS label_b, a.n AS n_a, b.n AS n_b,
         |  round(cosine_similarity(a.centroid, b.centroid), 9) AS cosine
         |FROM cent a JOIN cent b ON a.label < b.label
         |ORDER BY label_a, label_b""".stripMargin,
    "q144_pca_power" ->
      s"""WITH $pcaSparkCtes,
         |qq AS (SELECT CAST(sum(CAST(dot_product(emb, emb) AS DECIMAL(38,12))) AS DOUBLE) AS q FROM e),
         |tv AS (SELECT q / n - dot_product(m.m, m.m) AS tvar FROM qq CROSS JOIN nn CROSS JOIN mm m)
         |SELECT CAST(x.p AS INT) AS pos,
         |  round(element_at(x.w, CAST(x.p AS INT) + 1), 9) AS loading,
         |  round(x.lambda, 9) AS lambda,
         |  round(x.lambda / tv.tvar, 9) AS var_share
         |FROM (SELECT w.w, w.lambda, explode(sequence(0, size(w.w) - 1)) AS p
         |  FROM w$PcaIters w) x
         |CROSS JOIN tv
         |ORDER BY pos""".stripMargin,
    // the q144 kernel-driven training CTEs, then the b − 2p² + p²·(w·w)
    // application (the DuckDB oracle's ordered-list aggregates are
    // override territory)
    "q212_embed_whiten" ->
      s"""WITH $pcaSparkCtes,
         |lb AS (SELECT label, CAST(embedding AS ARRAY<DOUBLE>) AS emb FROM embeddings),
         |sc AS (SELECT lb.label,
         |    dot_product(lb.emb, lb.emb) AS b,
         |    dot_product(lb.emb, w.w) AS p,
         |    dot_product(w.w, w.w) AS ww
         |  FROM lb CROSS JOIN w$PcaIters w)
         |SELECT label, count(*) AS n_vecs,
         |  round(avg(b), 6) AS msq_before,
         |  round(avg(b - 2 * p * p + p * p * ww), 6) AS msq_after,
         |  round(avg(p * p), 6) AS msq_removed
         |FROM sc GROUP BY label ORDER BY label""".stripMargin,
    // kernel-driven twin of the q170 oracle (positional-unnest vector
    // sums are override territory); corpus centroid from source partials
    "q170_source_drift" ->
      s"""WITH e AS (SELECT d.source, CAST(v.embedding AS ARRAY<DOUBLE>) AS emb
         |  FROM embeddings v JOIN documents d ON d.doc_id = v.vec_id),
         |per AS (SELECT source, count(1) AS n_vecs,
         |    vector_sum_dec(CAST(emb AS ARRAY<DECIMAL(38,12)>)) AS sumv
         |  FROM e GROUP BY source),
         |g AS (SELECT sum(n_vecs) AS n_all, vector_sum_dec(sumv) AS sumv_all
         |  FROM per),
         |m AS (SELECT source, n_vecs,
         |    transform(sumv, x -> CAST(x AS DOUBLE) / n_vecs) AS cs,
         |    transform(sumv_all, x -> CAST(x AS DOUBLE) / n_all) AS ca
         |  FROM per CROSS JOIN g),
         |s AS (SELECT source, n_vecs,
         |    round(cosine_similarity(cs, ca), 9) AS centroid_cos,
         |    round(sqrt(dot_product(cs, cs)) / sqrt(dot_product(ca, ca)), 9)
         |      AS norm_ratio
         |  FROM m)
         |SELECT source, n_vecs, centroid_cos, norm_ratio,
         |  centroid_cos < $DriftCosMin AS drifted
         |FROM s ORDER BY source""".stripMargin,
    // the q143 centroid + scored CTEs, rank cut at 2, margin close
    "q168_uncertainty_sample" ->
      s"""WITH e AS (SELECT vec_id, label, CAST(embedding AS ARRAY<DOUBLE>) AS emb
         |  FROM embeddings),
         |cs AS (SELECT label, count(1) AS n,
         |    vector_sum_dec(CAST(emb AS ARRAY<DECIMAL(38,12)>)) AS sumv
         |  FROM e GROUP BY label),
         |cent AS (SELECT label AS clabel,
         |    transform(sumv, x -> CAST(x AS DOUBLE) / n) AS centroid
         |  FROM cs),
         |scored AS (SELECT e.vec_id, e.label, c.clabel,
         |    round(cosine_similarity(emb, centroid), 9) AS cos
         |  FROM e CROSS JOIN cent c),
         |t2 AS (SELECT * FROM (
         |    SELECT *, row_number() OVER
         |      (PARTITION BY vec_id ORDER BY cos DESC, clabel) AS rn
         |    FROM scored) x WHERE rn <= 2),
         |f AS (SELECT vec_id, max(label) AS label,
         |    max(CASE WHEN rn = 1 THEN clabel END) AS pred_label,
         |    max(CASE WHEN rn = 1 THEN cos END) AS best_cos,
         |    max(CASE WHEN rn = 2 THEN clabel END) AS second_label,
         |    max(CASE WHEN rn = 2 THEN cos END) AS second_cos
         |  FROM t2 GROUP BY 1)
         |SELECT vec_id, label, pred_label, best_cos, second_label,
         |  second_cos, round(best_cos - second_cos, 9) AS margin
         |FROM f WHERE second_cos IS NOT NULL
         |ORDER BY margin, vec_id LIMIT $UncertainTopK""".stripMargin,
    "q143_label_agreement" ->
      s"""WITH e AS (SELECT vec_id, label, CAST(embedding AS ARRAY<DOUBLE>) AS emb
         |  FROM embeddings),
         |cs AS (SELECT label, count(1) AS n,
         |    vector_sum_dec(CAST(emb AS ARRAY<DECIMAL(38,12)>)) AS sumv
         |  FROM e GROUP BY label),
         |cent AS (SELECT label AS clabel, transform(sumv, x -> CAST(x AS DOUBLE) / n) AS centroid
         |  FROM cs),
         |scored AS (SELECT e.vec_id, e.label, c.clabel,
         |    round(cosine_similarity(emb, centroid), 9) AS cos
         |  FROM e CROSS JOIN cent c),
         |pred AS (SELECT label, clabel AS pred FROM (
         |    SELECT *, row_number() OVER
         |      (PARTITION BY vec_id ORDER BY cos DESC, clabel) AS rn FROM scored) x
         |  WHERE rn = 1),
         |conf AS (SELECT label, pred, count(*) AS n FROM pred GROUP BY 1, 2),
         |rowm AS (SELECT label, sum(n) AS n_true FROM conf GROUP BY 1),
         |colm AS (SELECT pred, sum(n) AS n_pred FROM conf GROUP BY 1),
         |diag AS (SELECT label, n AS n_correct FROM conf WHERE label = pred),
         |perl AS (SELECT r.label, r.n_true, coalesce(c.n_pred, CAST(0 AS BIGINT)) AS n_pred,
         |    coalesce(d.n_correct, CAST(0 AS BIGINT)) AS n_correct
         |  FROM rowm r LEFT JOIN colm c ON c.pred = r.label
         |  LEFT JOIN diag d ON d.label = r.label),
         |tot AS (SELECT sum(n_true) AS n_total, sum(n_correct) AS sum_diag,
         |    CAST(sum(CAST(n_true AS DECIMAL(19,0)) * CAST(n_pred AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS sum_exp
         |  FROM perl)
         |SELECT p.label, p.n_true, p.n_pred, p.n_correct,
         |  round(CAST(p.n_correct AS DOUBLE) / CAST(p.n_true AS DOUBLE), 9) AS recall,
         |  round(CAST(p.n_correct AS DOUBLE) / CAST(NULLIF(p.n_pred, 0) AS DOUBLE), 9) AS prec,
         |  round(CAST(t.sum_diag AS DOUBLE) / CAST(t.n_total AS DOUBLE), 9) AS accuracy,
         |  round(CAST(CAST(t.n_total AS DECIMAL(38,0)) * CAST(t.sum_diag AS DECIMAL(38,0)) - t.sum_exp AS DOUBLE)
         |    / CAST(NULLIF(CAST(t.n_total AS DECIMAL(38,0)) * CAST(t.n_total AS DECIMAL(38,0)) - t.sum_exp, 0) AS DOUBLE), 9) AS kappa
         |FROM perl p CROSS JOIN tot t
         |ORDER BY p.label""".stripMargin,
    "q56_centroid_outliers" ->
      s"""WITH e AS (SELECT vec_id, label, CAST(embedding AS ARRAY<DOUBLE>) AS emb
         |  FROM embeddings),
         |cs AS (SELECT label, count(1) AS n,
         |    vector_sum_dec(CAST(emb AS ARRAY<DECIMAL(38,12)>)) AS sumv
         |  FROM e GROUP BY label),
         |cent AS (SELECT label, transform(sumv, x -> CAST(x AS DOUBLE) / n) AS centroid
         |  FROM cs),
         |scored AS (SELECT e.label, e.vec_id,
         |    round(cosine_similarity(emb, centroid), 9) AS cos_centroid
         |  FROM e JOIN cent USING (label)),
         |rk AS (SELECT *, row_number() OVER
         |  (PARTITION BY label ORDER BY cos_centroid, vec_id) AS rank FROM scored)
         |SELECT label, vec_id, cos_centroid, rank FROM rk
         |WHERE rank <= $OutlierK ORDER BY label, rank""".stripMargin,
    "q61_kmeans_train" ->
      s"""WITH $eSparkCte,
         |${lloydSparkSql(KmIters)}
         |SELECT cc.c AS cell, COALESCE(nn.n, 0) AS n_members,
         |  round(sqrt(dot_product(cc.c_emb, cc.c_emb)), 9) AS centroid_norm
         |FROM cent$KmIters cc LEFT JOIN n$KmIters nn ON nn.cell = cc.c
         |ORDER BY cell""".stripMargin,
    "q75_ann_ivf_trained" ->
      s"""WITH $eSparkCte,
         |${lloydSparkSql(KmIters)},
         |${ecellSparkSql(KmIters)},
         |qp AS (SELECT vec_id AS query_id, emb AS q_emb, c, row_number() OVER
         |    (PARTITION BY vec_id ORDER BY score DESC, c) AS prn
         |  FROM scs WHERE vec_id < $NumQueries),
         |qprobes AS (SELECT query_id, q_emb, c AS probe_cell FROM qp WHERE prn <= $NumProbes),
         |scored AS (SELECT query_id, e.vec_id AS neighbor_id, e.cell,
         |    round(cosine_similarity(q_emb, emb), 9) AS cosine
         |  FROM ecell e JOIN qprobes q
         |    ON e.cell = q.probe_cell AND e.vec_id <> q.query_id),
         |rk AS (SELECT *, row_number() OVER
         |  (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank FROM scored)
         |SELECT query_id, neighbor_id, cell, cosine, rank FROM rk
         |WHERE rank <= $K ORDER BY query_id, rank""".stripMargin,
    "q76_semantic_dedup_trained" ->
      s"""WITH $eSparkCte,
         |${lloydSparkSql(KmIters)},
         |${ecellSparkSql(KmIters)},
         |pairs AS (SELECT x.vec_id AS va, y.vec_id AS vb
         |  FROM ecell x JOIN ecell y ON x.cell = y.cell AND x.vec_id < y.vec_id
         |  WHERE cosine_similarity(x.emb, y.emb) >= ${java.lang.Double.toString(SemDupMin)}),
         |part AS (SELECT va AS vec_id, vb AS p FROM pairs
         |         UNION ALL SELECT vb, va FROM pairs),
         |g AS (SELECT vec_id, count(1) AS n_dups, min(p) AS min_p
         |      FROM part GROUP BY vec_id)
         |SELECT e.vec_id, e.cell, COALESCE(g.n_dups, 0) AS n_dups,
         |  (g.min_p IS NULL OR g.min_p > e.vec_id) AS is_kept
         |FROM ecell e LEFT JOIN g ON g.vec_id = e.vec_id
         |ORDER BY e.vec_id""".stripMargin)

  /** The q144 power-iteration training as SPARK SQL CTE text (kernel
    * forms — `vector_sum_dec`, `dot_product`), through `w$PcaIters`;
    * shared by the q144 and q212 sparkSql overrides.
    */
  private def pcaSparkCtes: String = {
    val iters = (1 to PcaIters).map { r =>
      s"""s$r AS (SELECT e.emb,
         |    dot_product(e.emb, w.w) - dot_product(m.m, w.w) AS s
         |  FROM e CROSS JOIN w${r - 1} w CROSS JOIN mm m),
         |g$r AS (SELECT vector_sum_dec(CAST(transform(emb, x -> s * x) AS ARRAY<DECIMAL(38,12)>)) AS sa,
         |    CAST(sum(CAST(s AS DECIMAL(38,12))) AS DOUBLE) AS ss
         |  FROM s$r),
         |u$r AS (SELECT transform(sequence(0, size(sa) - 1),
         |      p -> (CAST(element_at(sa, p + 1) AS DOUBLE) - ss * element_at(m.m, p + 1)) / n) AS u
         |  FROM g$r CROSS JOIN mm m CROSS JOIN nn),
         |w$r AS (SELECT transform(u, x -> x / sqrt(dot_product(u, u))) AS w,
         |    sqrt(dot_product(u, u)) AS lambda FROM u$r)"""
        .stripMargin
    }.mkString(",\n")
    s"""e AS (SELECT CAST(embedding AS ARRAY<DOUBLE>) AS emb FROM embeddings),
       |nn AS (SELECT count(*) AS n FROM e),
       |dd AS (SELECT max(size(emb)) AS d FROM e),
       |mm AS (SELECT transform(sv, x -> CAST(x AS DOUBLE) / n) AS m
       |  FROM (SELECT vector_sum_dec(CAST(emb AS ARRAY<DECIMAL(38,12)>)) AS sv FROM e)
       |  CROSS JOIN nn),
       |w0 AS (SELECT transform(sequence(0, d - 1), i -> CAST(1 AS DOUBLE) / sqrt(CAST(d AS DOUBLE))) AS w FROM dd),
       |$iters""".stripMargin
  }

  /** The q144 power-iteration training as DuckDB CTE text (through
    * `w$PcaIters` = the trained component + λ), shared by the q144 and
    * q212 oracles — the bpeTrainCtes pattern for the spectral family.
    */
  private def pcaOracleCtes: String = {
    val iters = (1 to PcaIters).map { r =>
      s"""s$r AS (SELECT e.emb,
         |    list_inner_product(e.emb, w.w) - list_inner_product(m.m, w.w) AS s
         |  FROM e CROSS JOIN w${r - 1} w CROSS JOIN mm m),
         |a$r AS (SELECT pos, CAST(sum(CAST(s * v AS DECIMAL(38,12))) AS DOUBLE) AS sa
         |  FROM (SELECT s, UNNEST(emb) AS v, UNNEST(range(len(emb))) AS pos FROM s$r) x
         |  GROUP BY pos),
         |ss$r AS (SELECT CAST(sum(CAST(s AS DECIMAL(38,12))) AS DOUBLE) AS ss FROM s$r),
         |u$r AS (SELECT list((sa - ss * list_extract(m.m, CAST(pos AS INT) + 1)) / n ORDER BY pos) AS u
         |  FROM a$r CROSS JOIN ss$r CROSS JOIN mm m CROSS JOIN nn),
         |w$r AS (SELECT list_transform(u, x -> x / sqrt(list_inner_product(u, u))) AS w,
         |    sqrt(list_inner_product(u, u)) AS lambda FROM u$r)"""
        .stripMargin
    }.mkString(",\n")
    s"""e AS (SELECT embedding::DOUBLE[] AS emb FROM embeddings),
       |nn AS (SELECT count(*) AS n FROM e),
       |dd AS (SELECT max(len(emb)) AS d FROM e),
       |ms AS (SELECT pos, CAST(sum(CAST(v AS DECIMAL(38,12))) AS DOUBLE) AS s
       |  FROM (SELECT UNNEST(emb) AS v, UNNEST(range(len(emb))) AS pos FROM e) x
       |  GROUP BY pos),
       |mm AS (SELECT list(s / n ORDER BY pos) AS m FROM ms CROSS JOIN nn GROUP BY n),
       |w0 AS (SELECT list_transform(range(d), i -> CAST(1 AS DOUBLE) / sqrt(CAST(d AS DOUBLE))) AS w FROM dd),
       |$iters""".stripMargin
  }

  lazy val oracle: Map[String, String] = Map(
    // the DIRECT both-arms computation: hash equality with the
    // staged base-stats + delta fold is the merge-identity proof
    // (the q96/q216 pattern applied to the vector index)
    "q255_ivf_delta" -> {
      val arm = graft.functions.TextFns.sql.hash32(
        "'ivfd|' || CAST(vec_id AS VARCHAR)")
      s"""WITH $eCte,
         |cent AS (SELECT CAST(vec_id - $SeedBase AS INT) AS c, emb AS c_emb
         |  FROM e WHERE vec_id >= $SeedBase
         |    AND vec_id < ${SeedBase + NumCells}),
         |scs AS (SELECT e.vec_id, c,
         |    list_inner_product(e.emb, c_emb) AS score
         |  FROM e CROSS JOIN cent),
         |asg AS (SELECT vec_id, c AS cell, score, row_number() OVER
         |    (PARTITION BY vec_id ORDER BY score DESC, c) AS rn FROM scs),
         |a AS (SELECT vec_id, cell, round(score, 9) AS score,
         |    CAST($arm % $IvfDeltaMod AS INT) AS arm
         |  FROM asg WHERE rn = 1),
         |b AS (SELECT cell, count(*) AS n_base,
         |    sum(CAST(score AS DECIMAL(38,12))) AS s_base
         |  FROM a WHERE arm <> 0 GROUP BY 1),
         |d AS (SELECT cell, count(*) AS n_delta,
         |    sum(CAST(score AS DECIMAL(38,12))) AS s_delta
         |  FROM a WHERE arm = 0 GROUP BY 1),
         |t AS (SELECT CAST(coalesce(sum(n_delta), 0) AS BIGINT)
         |    AS total_delta FROM d),
         |sp AS (SELECT CAST(cell0 AS INT) AS cell FROM
         |  (SELECT unnest(range($NumCells)) AS cell0))
         |SELECT sp.cell,
         |  CAST(coalesce(b.n_base, 0) AS BIGINT) AS n_base,
         |  CAST(coalesce(d.n_delta, 0) AS BIGINT) AS n_delta,
         |  CAST(coalesce(d.n_delta, 0) AS DOUBLE) /
         |    NULLIF(coalesce(b.n_base, 0), 0) AS growth,
         |  CAST(b.s_base AS DOUBLE) / NULLIF(b.n_base, 0)
         |    AS mean_score_base,
         |  CAST(d.s_delta AS DOUBLE) / NULLIF(d.n_delta, 0)
         |    AS mean_score_delta,
         |  CAST(d.s_delta AS DOUBLE) / NULLIF(d.n_delta, 0) -
         |    CAST(b.s_base AS DOUBLE) / NULLIF(b.n_base, 0) AS drift,
         |  coalesce(d.n_delta, 0) * $NumCells > t.total_delta * 2 AS hot
         |FROM sp LEFT JOIN b USING (cell) LEFT JOIN d USING (cell), t
         |ORDER BY sp.cell""".stripMargin
    },
    // the greedy selection unrolled as one generated CTE stage per
    // pick: stage k ranks the unselected pool by the identical
    // round(0.7·rel − 0.3·red, 9) chain with doc-id tie-breaks
    "q249_mmr_rerank" -> {
      val stages = (1 to MmrSelect).map { k =>
        if (k == 1)
          s"""s1 AS MATERIALIZED (SELECT query_id, neighbor_id, rel,
             |    CAST(0.0 AS DOUBLE) AS red, 1 AS sel_rank FROM (
             |  SELECT query_id, neighbor_id, rel, row_number() OVER
             |      (PARTITION BY query_id
             |       ORDER BY ($MmrLambda * CAST(rel AS DECIMAL(12,9)) -
             |           $MmrMu * CAST(0.0 AS DECIMAL(12,9)))
             |         DESC, neighbor_id) AS rn
             |  FROM cand) WHERE rn = 1)""".stripMargin
        else {
          val prev = (1 until k)
            .map(i => s"SELECT query_id, neighbor_id FROM s$i")
            .mkString(" UNION ALL ")
          s"""s$k AS MATERIALIZED (SELECT query_id, neighbor_id, rel, red,
             |    $k AS sel_rank FROM (
             |  SELECT c.query_id, c.neighbor_id, c.rel,
             |    coalesce(r.red, 0.0) AS red,
             |    row_number() OVER (PARTITION BY c.query_id
             |      ORDER BY ($MmrLambda * CAST(c.rel AS DECIMAL(12,9)) -
             |          $MmrMu * CAST(coalesce(r.red, 0.0) AS DECIMAL(12,9)))
             |        DESC, c.neighbor_id) AS rn
             |  FROM cand c
             |  LEFT JOIN (SELECT m.query_id, m.i AS neighbor_id,
             |      max(m.s) AS red
             |    FROM sims m JOIN ($prev) p
             |      ON p.query_id = m.query_id AND p.neighbor_id = m.j
             |    GROUP BY 1, 2) r
             |    ON r.query_id = c.query_id
             |      AND r.neighbor_id = c.neighbor_id
             |  WHERE NOT EXISTS (SELECT 1 FROM ($prev) p2
             |    WHERE p2.query_id = c.query_id
             |      AND p2.neighbor_id = c.neighbor_id)
             |  ) WHERE rn = 1)""".stripMargin
        }
      }.mkString(",\n")
      val union = (1 to MmrSelect).map(i => s"SELECT * FROM s$i")
        .mkString(" UNION ALL ")
      s"""WITH $eCte,
         |q AS (SELECT vec_id AS query_id, emb AS q_emb, nrm AS q_nrm
         |  FROM e WHERE vec_id < $NumQueries),
         |sc AS (SELECT query_id, e.vec_id AS neighbor_id,
         |    round(list_inner_product(q_emb, emb) / (q_nrm * nrm), 9) AS rel
         |  FROM e CROSS JOIN q WHERE e.vec_id <> q.query_id),
         |cand AS MATERIALIZED (SELECT query_id, neighbor_id, rel FROM (
         |    SELECT *, row_number() OVER (PARTITION BY query_id
         |      ORDER BY rel DESC, neighbor_id) AS crn FROM sc)
         |  WHERE crn <= $MmrCand),
         |cv AS (SELECT c.query_id, c.neighbor_id, e.emb, e.nrm
         |  FROM cand c JOIN e ON e.vec_id = c.neighbor_id),
         |sims AS MATERIALIZED (SELECT a.query_id, a.neighbor_id AS i,
         |    b.neighbor_id AS j,
         |    round(list_inner_product(a.emb, b.emb) / (a.nrm * b.nrm), 9)
         |      AS s
         |  FROM cv a JOIN cv b ON a.query_id = b.query_id
         |    AND a.neighbor_id <> b.neighbor_id),
         |$stages
         |SELECT query_id, sel_rank, neighbor_id AS doc_id,
         |  rel AS relevance, red AS redundancy,
         |  CAST($MmrLambda * CAST(rel AS DECIMAL(12,9)) -
         |    $MmrMu * CAST(red AS DECIMAL(12,9)) AS DOUBLE) AS mmr
         |FROM ($union)
         |ORDER BY query_id, sel_rank""".stripMargin
    },
    "q100_ann_pq" -> {
      val codeCols = (0 until PqM)
        .map(m => s"MAX(CASE WHEN m = $m THEN code END) AS code$m").mkString(",\n    ")
      val lutCols = (0 until PqM)
        .map(m => s"MAX(CASE WHEN m = $m THEN l END) AS lut$m").mkString(",\n    ")
      val approxExpr = (0 until PqM)
        .map(m => s"l.lut$m[w.code$m + 1]").mkString(" + ")
      s"""WITH $eCte,
         |ms AS (SELECT unnest(range($PqM)) AS m),
         |sub AS (SELECT vec_id, m, list_slice(emb, m * $PqD + 1, m * $PqD + $PqD) AS v
         |        FROM e CROSS JOIN ms),
         |cc AS (SELECT CAST(vec_id - $SeedBase AS INT) AS k, m, v AS c_emb,
         |    list_inner_product(v, v) AS cc
         |  FROM sub WHERE vec_id >= $SeedBase AND vec_id < ${SeedBase + PqK}),
         |scs AS (SELECT s.vec_id, s.m, c.k,
         |    -2.0 * list_inner_product(s.v, c.c_emb) + c.cc AS score
         |  FROM sub s JOIN cc c ON c.m = s.m),
         |codes AS (SELECT vec_id, m, k AS code FROM (
         |    SELECT *, row_number() OVER
         |      (PARTITION BY vec_id, m ORDER BY score ASC, k) AS rn
         |    FROM scs) WHERE rn = 1),
         |wide AS (SELECT vec_id,
         |    $codeCols
         |  FROM codes GROUP BY vec_id),
         |qsub AS (SELECT vec_id AS query_id, m, v, list_inner_product(v, v) AS qq
         |  FROM sub WHERE vec_id < $NumQueries),
         |lut AS (SELECT q.query_id, q.m, c.k,
         |    q.qq - 2.0 * list_inner_product(q.v, c.c_emb) + c.cc AS adc
         |  FROM qsub q JOIN cc c ON c.m = q.m),
         |luta AS (SELECT query_id, m, list(adc ORDER BY k) AS l
         |  FROM lut GROUP BY query_id, m),
         |lutw AS (SELECT query_id,
         |    $lutCols
         |  FROM luta GROUP BY query_id),
         |ap AS (SELECT l.query_id, w.vec_id, $approxExpr AS approx
         |  FROM wide w CROSS JOIN lutw l WHERE w.vec_id <> l.query_id),
         |cand AS (SELECT query_id, vec_id FROM (
         |    SELECT *, row_number() OVER
         |      (PARTITION BY query_id ORDER BY approx ASC, vec_id) AS crn
         |    FROM ap) WHERE crn <= $PqCand),
         |scored AS (SELECT c.query_id, n.vec_id AS neighbor_id,
         |    round(list_inner_product(q.emb, n.emb) / (q.nrm * n.nrm), 9) AS cosine
         |  FROM cand c JOIN e n ON n.vec_id = c.vec_id
         |  JOIN e q ON q.vec_id = c.query_id),
         |rk AS (SELECT *, row_number() OVER
         |  (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank FROM scored)
         |SELECT query_id, neighbor_id, cosine, CAST(rank AS INT) AS rank
         |FROM rk WHERE rank <= $K ORDER BY query_id, rank""".stripMargin
    },
    // q100's search body against pqLloydSql's trained sub-codebooks —
    // cc re-derives from pc<KmIters> instead of the raw seed slices
    "q136_ann_pq_trained" -> {
      val codeCols = (0 until PqM)
        .map(m => s"MAX(CASE WHEN m = $m THEN code END) AS code$m").mkString(",\n    ")
      val lutCols = (0 until PqM)
        .map(m => s"MAX(CASE WHEN m = $m THEN l END) AS lut$m").mkString(",\n    ")
      val approxExpr = (0 until PqM)
        .map(m => s"l.lut$m[w.code$m + 1]").mkString(" + ")
      s"""WITH $eCte,
         |ms AS (SELECT unnest(range($PqM)) AS m),
         |sub AS (SELECT vec_id, m, list_slice(emb, m * $PqD + 1, m * $PqD + $PqD) AS v
         |        FROM e CROSS JOIN ms),
         |${pqLloydSql(KmIters)},
         |cc AS (SELECT k, m, c_emb, list_inner_product(c_emb, c_emb) AS cc
         |  FROM pc$KmIters),
         |scs AS (SELECT s.vec_id, s.m, c.k,
         |    -2.0 * list_inner_product(s.v, c.c_emb) + c.cc AS score
         |  FROM sub s JOIN cc c ON c.m = s.m),
         |codes AS (SELECT vec_id, m, k AS code FROM (
         |    SELECT *, row_number() OVER
         |      (PARTITION BY vec_id, m ORDER BY score ASC, k) AS rn
         |    FROM scs) WHERE rn = 1),
         |wide AS (SELECT vec_id,
         |    $codeCols
         |  FROM codes GROUP BY vec_id),
         |qsub AS (SELECT vec_id AS query_id, m, v, list_inner_product(v, v) AS qq
         |  FROM sub WHERE vec_id < $NumQueries),
         |lut AS (SELECT q.query_id, q.m, c.k,
         |    q.qq - 2.0 * list_inner_product(q.v, c.c_emb) + c.cc AS adc
         |  FROM qsub q JOIN cc c ON c.m = q.m),
         |luta AS (SELECT query_id, m, list(adc ORDER BY k) AS l
         |  FROM lut GROUP BY query_id, m),
         |lutw AS (SELECT query_id,
         |    $lutCols
         |  FROM luta GROUP BY query_id),
         |ap AS (SELECT l.query_id, w.vec_id, $approxExpr AS approx
         |  FROM wide w CROSS JOIN lutw l WHERE w.vec_id <> l.query_id),
         |cand AS (SELECT query_id, vec_id FROM (
         |    SELECT *, row_number() OVER
         |      (PARTITION BY query_id ORDER BY approx ASC, vec_id) AS crn
         |    FROM ap) WHERE crn <= $PqCand),
         |scored AS (SELECT c.query_id, n.vec_id AS neighbor_id,
         |    round(list_inner_product(q.emb, n.emb) / (q.nrm * n.nrm), 9) AS cosine
         |  FROM cand c JOIN e n ON n.vec_id = c.vec_id
         |  JOIN e q ON q.vec_id = c.query_id),
         |rk AS (SELECT *, row_number() OVER
         |  (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank FROM scored)
         |SELECT query_id, neighbor_id, cosine, CAST(rank AS INT) AS rank
         |FROM rk WHERE rank <= $K ORDER BY query_id, rank""".stripMargin
    },
    // truncated cosine spelled dot/(√·√) over list_slice prefixes — the
    // fused kernel's exact op order (the q25 discipline)
    "q119_matryoshka_recall" -> {
      val t = s"list_slice(emb, 1, $TruncDims)"
      val qt = s"list_slice(q_emb, 1, $TruncDims)"
      s"""WITH $eCte,
         |q AS (SELECT vec_id AS query_id, emb AS q_emb, nrm AS q_nrm FROM e
         |      WHERE vec_id < $NumQueries),
         |fs AS (
         |  SELECT query_id, e.vec_id AS neighbor_id,
         |    round(list_inner_product(q_emb, emb) / (q_nrm * nrm), 9) AS cosine
         |  FROM e CROSS JOIN q WHERE e.vec_id <> q.query_id),
         |fr AS (SELECT query_id, neighbor_id FROM (
         |  SELECT *, row_number() OVER
         |    (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
         |  FROM fs) x WHERE rank <= $K),
         |tsc AS (
         |  SELECT query_id, e.vec_id AS neighbor_id,
         |    round(list_inner_product($qt, $t) /
         |      (sqrt(list_inner_product($qt, $qt)) *
         |       sqrt(list_inner_product($t, $t))), 9) AS cosine
         |  FROM e CROSS JOIN q WHERE e.vec_id <> q.query_id),
         |tr AS (SELECT query_id, neighbor_id FROM (
         |  SELECT *, row_number() OVER
         |    (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
         |  FROM tsc) x WHERE rank <= $K),
         |c AS (SELECT fr.query_id, count(*) AS n_common
         |  FROM fr JOIN tr ON fr.query_id = tr.query_id
         |    AND fr.neighbor_id = tr.neighbor_id
         |  GROUP BY 1)
         |SELECT qq.query_id, coalesce(c.n_common, 0) AS n_common,
         |  round(CAST(coalesce(c.n_common, 0) AS DOUBLE) / $K, 9) AS recall
         |FROM (SELECT DISTINCT query_id FROM fr) qq LEFT JOIN c USING (query_id)
         |ORDER BY query_id""".stripMargin
    },
    // one scored pass, rank-1 per (anchor, side) with the CASE
    // ordering (positives ascending cosine, negatives descending via
    // negation), side counts from the label histogram; margin is an
    // exact subtraction of two 9-dp-rounded kernels, re-rounded
    "q158_triplet_mining" ->
      s"""WITH el AS (SELECT vec_id, label, embedding::DOUBLE[] AS emb,
         |  sqrt(list_inner_product(embedding::DOUBLE[], embedding::DOUBLE[]))
         |    AS nrm FROM embeddings),
         |q AS (SELECT vec_id AS query_id, emb AS q_emb, nrm AS q_nrm,
         |    label AS q_label FROM el WHERE vec_id < $NumQueries),
         |scored AS (
         |  SELECT query_id, q_label, el.vec_id AS other_id, el.label,
         |    round(list_inner_product(q_emb, emb) / (q_nrm * nrm), 9)
         |      AS cosine,
         |    el.label = q_label AS is_pos
         |  FROM el CROSS JOIN q WHERE el.vec_id <> q.query_id),
         |sel AS (SELECT * FROM (
         |    SELECT *, row_number() OVER (PARTITION BY query_id, is_pos
         |      ORDER BY CASE WHEN is_pos THEN cosine ELSE -cosine END,
         |        other_id) AS rn
         |    FROM scored) x WHERE rn = 1),
         |agg AS (SELECT query_id, max(q_label) AS label,
         |    max(CASE WHEN is_pos THEN other_id END) AS pos_id,
         |    max(CASE WHEN is_pos THEN cosine END) AS pos_cos,
         |    max(CASE WHEN NOT is_pos THEN other_id END) AS neg_id,
         |    max(CASE WHEN NOT is_pos THEN cosine END) AS neg_cos
         |  FROM sel GROUP BY 1),
         |lc AS (SELECT label, count(*) AS n_label FROM el GROUP BY 1),
         |tot AS (SELECT count(*) AS n_total FROM el)
         |SELECT a.query_id, a.label, a.pos_id, a.pos_cos, a.neg_id,
         |  a.neg_cos, round(a.pos_cos - a.neg_cos, 9) AS margin,
         |  a.pos_cos < a.neg_cos AS violation,
         |  lc.n_label - 1 AS n_pos, t.n_total - lc.n_label AS n_neg
         |FROM agg a JOIN lc ON lc.label = a.label CROSS JOIN tot t
         |ORDER BY a.query_id""".stripMargin,
    // both rankers' top-k mirrored verbatim (q55 CTEs, q158's cosine
    // kernel), ranks off the rounded scores, RRF = two divisions by
    // exact integers + one addition in fixed order, re-rounded
    "q159_hybrid_search" ->
      s"""WITH toks AS (SELECT doc_id, ${TextFns.sql.toks} AS w FROM documents),
         |${TextAnalysis.bm25CtesSql},
         |sp0 AS (SELECT doc_id, round(sc, 9) AS bm25 FROM scored
         |  WHERE n_terms > 0 ORDER BY bm25 DESC, doc_id
         |  LIMIT ${TextAnalysis.Bm25TopK}),
         |sparse AS (SELECT doc_id, CAST(row_number() OVER
         |    (ORDER BY bm25 DESC, doc_id) AS INT) AS sparse_rank FROM sp0),
         |el AS (SELECT vec_id, embedding::DOUBLE[] AS emb,
         |  sqrt(list_inner_product(embedding::DOUBLE[], embedding::DOUBLE[]))
         |    AS nrm FROM embeddings),
         |qv AS (SELECT emb AS q_emb, nrm AS q_nrm FROM el
         |  WHERE vec_id = $HybridQueryVec),
         |d0 AS (SELECT vec_id AS doc_id,
         |    round(list_inner_product(q_emb, emb) / (q_nrm * nrm), 9) AS cosine
         |  FROM el CROSS JOIN qv WHERE vec_id <> $HybridQueryVec
         |  ORDER BY cosine DESC, doc_id LIMIT $HybridTopK),
         |dense AS (SELECT doc_id, CAST(row_number() OVER
         |    (ORDER BY cosine DESC, doc_id) AS INT) AS dense_rank FROM d0)
         |SELECT coalesce(s.doc_id, d.doc_id) AS doc_id,
         |  s.sparse_rank, d.dense_rank,
         |  round(coalesce(CAST(1.0 AS DOUBLE) / ($RrfK + s.sparse_rank), 0.0)
         |      + coalesce(CAST(1.0 AS DOUBLE) / ($RrfK + d.dense_rank), 0.0), 9)
         |    AS rrf
         |FROM sparse s FULL OUTER JOIN dense d ON s.doc_id = d.doc_id
         |ORDER BY rrf DESC, doc_id LIMIT $HybridTopK""".stripMargin,
    "q25_knn_bruteforce" ->
      s"""WITH $eCte,
         |q AS (SELECT vec_id AS query_id, emb AS q_emb, nrm AS q_nrm FROM e
         |      WHERE vec_id < $NumQueries),
         |scored AS (
         |  SELECT query_id, e.vec_id AS neighbor_id,
         |    round(list_inner_product(q_emb, emb) / (q_nrm * nrm), 9) AS cosine
         |  FROM e CROSS JOIN q WHERE e.vec_id <> q.query_id),
         |rk AS (SELECT *, row_number() OVER
         |  (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank FROM scored)
         |SELECT query_id, neighbor_id, cosine, CAST(rank AS INT) AS rank
         |FROM rk WHERE rank <= $K ORDER BY query_id, rank""".stripMargin,
    // dequantized coarse scan + exact rerank; scale/round forms mirror
    // the Spark side exactly (round HALF_UP on doubles in both engines,
    // q51 precedent), norms precomputed like q25 (≡ the cosine kernel's
    // internal order)
    "q91_quantized_rerank" ->
      s"""WITH $eCte,
         |qs AS (SELECT vec_id, emb, nrm,
         |    list_max(list_transform(emb, x -> abs(x))) AS ma FROM e),
         |dv AS (SELECT vec_id, emb, nrm, ma / 127.0 AS scale
         |  FROM qs WHERE ma > 0),
         |dq AS (SELECT vec_id, emb, nrm,
         |    list_transform(emb, x -> round(x / scale, 0) * scale) AS d FROM dv),
         |dn AS (SELECT vec_id, emb, nrm, d,
         |    sqrt(list_inner_product(d, d)) AS dnrm FROM dq),
         |q AS (SELECT vec_id AS query_id, emb AS q_emb, nrm AS q_nrm
         |  FROM dn WHERE vec_id < $NumQueries),
         |coarse AS (SELECT query_id, dn.vec_id AS neighbor_id,
         |    round(list_inner_product(q_emb, d) / (q_nrm * dnrm), 9) AS coarse
         |  FROM dn CROSS JOIN q WHERE dn.vec_id <> q.query_id),
         |cand AS (SELECT query_id, neighbor_id FROM (
         |  SELECT query_id, neighbor_id, row_number() OVER
         |    (PARTITION BY query_id ORDER BY coarse DESC, neighbor_id) AS crn
         |  FROM coarse) WHERE crn <= $QuantCand),
         |scored AS (SELECT c.query_id, c.neighbor_id,
         |    round(list_inner_product(q_emb, emb) / (q_nrm * nrm), 9) AS cosine
         |  FROM cand c JOIN e ON e.vec_id = c.neighbor_id
         |  JOIN q ON q.query_id = c.query_id),
         |rk AS (SELECT *, row_number() OVER
         |  (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank FROM scored)
         |SELECT query_id, neighbor_id, cosine, CAST(rank AS INT) AS rank
         |FROM rk WHERE rank <= $K ORDER BY query_id, rank""".stripMargin,
    "q26_ann_lsh" -> {
      val bucket = (0 until NumPlanes)
        .map(p => s"CASE WHEN list_inner_product(emb, ${planeSql(p)}) > 0 THEN ${1 << p} ELSE 0 END")
        .mkString("(", " + ", ")")
      s"""WITH $eCte,
         |b AS (SELECT vec_id, emb, nrm, $bucket AS bucket FROM e),
         |q AS (SELECT vec_id AS query_id, emb AS q_emb, nrm AS q_nrm, bucket AS q_bucket
         |      FROM b WHERE vec_id < $NumQueries),
         |scored AS (
         |  SELECT query_id, b.vec_id AS neighbor_id, b.bucket,
         |    round(list_inner_product(q_emb, emb) / (q_nrm * nrm), 9) AS cosine
         |  FROM b JOIN q ON b.bucket = q.q_bucket AND b.vec_id <> q.query_id),
         |rk AS (SELECT *, row_number() OVER
         |  (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank FROM scored)
         |SELECT query_id, neighbor_id, bucket, cosine, CAST(rank AS INT) AS rank
         |FROM rk WHERE rank <= $K ORDER BY query_id, rank""".stripMargin
    },
    // same bucket/cosine machinery as q26, labels riding along; the
    // rate is one exact-int double division (no round boundary)
    "q180_label_noise" -> {
      val bucket = (0 until NumPlanes)
        .map(p => s"CASE WHEN list_inner_product(emb, ${planeSql(p)}) > 0 THEN ${1 << p} ELSE 0 END")
        .mkString("(", " + ", ")")
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb,
         |    sqrt(list_inner_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm,
         |    label
         |  FROM embeddings),
         |b AS (SELECT vec_id, emb, nrm, label, $bucket AS bucket FROM e),
         |scored AS (
         |  SELECT a.vec_id AS aid, a.label AS a_label,
         |    n.vec_id AS nid, n.label AS n_label,
         |    round(list_inner_product(a.emb, n.emb) / (a.nrm * n.nrm), 9) AS cos
         |  FROM b a JOIN b n ON a.bucket = n.bucket AND a.vec_id <> n.vec_id),
         |top AS (SELECT *, row_number() OVER
         |    (PARTITION BY aid ORDER BY cos DESC, nid) AS rk FROM scored),
         |votes AS (SELECT aid, a_label, n_label, count(*) AS v
         |  FROM top WHERE rk <= $NoiseK GROUP BY 1, 2, 3),
         |maj AS (SELECT *, row_number() OVER
         |    (PARTITION BY aid ORDER BY v DESC, n_label) AS mr FROM votes)
         |SELECT a_label AS label, count(*) AS n_vectors,
         |  CAST(sum(CASE WHEN n_label <> a_label THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_flagged,
         |  CAST(sum(CASE WHEN n_label <> a_label THEN 1 ELSE 0 END) AS DOUBLE)
         |    / count(*) AS noise_rate
         |FROM maj WHERE mr = 1 GROUP BY 1 ORDER BY 1""".stripMargin
    },
    "q83_ann_rerank" -> {
      val cvecSql = (0 until RerankDims)
        .map(p => s"list_inner_product(emb, ${planeSql(p)})")
        .mkString("list_value(", ", ", ")")
      s"""WITH $eCte,
         |cv AS (SELECT vec_id, emb, nrm, $cvecSql AS cvec FROM e),
         |cn AS (SELECT vec_id, emb, nrm, cvec,
         |    sqrt(list_inner_product(cvec, cvec)) AS cnrm FROM cv),
         |q AS (SELECT vec_id AS query_id, emb AS q_emb, nrm AS q_nrm,
         |    cvec AS q_cvec, cnrm AS q_cnrm FROM cn WHERE vec_id < $NumQueries),
         |coarse AS (SELECT query_id, cn.vec_id AS neighbor_id,
         |    round(list_inner_product(q_cvec, cvec) / (q_cnrm * cnrm), 9) AS coarse
         |  FROM cn CROSS JOIN q WHERE cn.vec_id <> q.query_id),
         |cand AS (SELECT query_id, neighbor_id FROM (
         |  SELECT query_id, neighbor_id, row_number() OVER
         |    (PARTITION BY query_id ORDER BY coarse DESC, neighbor_id) AS crn
         |  FROM coarse) WHERE crn <= $RerankCand),
         |scored AS (SELECT c.query_id, c.neighbor_id,
         |    round(list_inner_product(q_emb, emb) / (q_nrm * nrm), 9) AS cosine
         |  FROM cand c JOIN e ON e.vec_id = c.neighbor_id
         |  JOIN q ON q.query_id = c.query_id),
         |rk AS (SELECT *, row_number() OVER
         |  (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank FROM scored)
         |SELECT query_id, neighbor_id, cosine, CAST(rank AS INT) AS rank
         |FROM rk WHERE rank <= $K ORDER BY query_id, rank""".stripMargin
    },
    "q60_semantic_dedup" ->
      s"""WITH $eCte,
         |cent AS (SELECT CAST(vec_id - $SeedBase AS INT) AS c, emb AS c_emb FROM e
         |         WHERE vec_id >= $SeedBase AND vec_id < ${SeedBase + NumCells}),
         |scs AS (SELECT e.vec_id, e.emb, e.nrm, c,
         |    list_inner_product(e.emb, c_emb) AS score
         |  FROM e CROSS JOIN cent),
         |asg AS (SELECT vec_id, emb, nrm, c AS cell, row_number() OVER
         |    (PARTITION BY vec_id ORDER BY score DESC, c) AS rn FROM scs),
         |ecell AS (SELECT vec_id, emb, nrm, cell FROM asg WHERE rn = 1),
         |pairs AS (SELECT x.vec_id AS va, y.vec_id AS vb
         |  FROM ecell x JOIN ecell y ON x.cell = y.cell AND x.vec_id < y.vec_id
         |  WHERE list_inner_product(x.emb, y.emb) / (x.nrm * y.nrm) >= ${java.lang.Double.toString(SemDupMin)}),
         |part AS (SELECT va AS vec_id, vb AS p FROM pairs
         |         UNION ALL SELECT vb, va FROM pairs),
         |g AS (SELECT vec_id, count(*) AS n_dups, min(p) AS min_p
         |      FROM part GROUP BY vec_id)
         |SELECT e.vec_id, e.cell, COALESCE(g.n_dups, 0) AS n_dups,
         |  (g.min_p IS NULL OR g.min_p > e.vec_id) AS is_kept
         |FROM ecell e LEFT JOIN g ON g.vec_id = e.vec_id
         |ORDER BY e.vec_id""".stripMargin,
    // two anti-joins + two counts folded to one row
    "q194_embedding_coverage" ->
      s"""WITH d AS (SELECT doc_id FROM documents),
         |v AS (SELECT vec_id FROM embeddings),
         |dw AS (SELECT count(*) AS docs_without_vec FROM d
         |  WHERE NOT EXISTS (SELECT 1 FROM v WHERE vec_id = doc_id)),
         |vw AS (SELECT count(*) AS vecs_without_doc FROM v
         |  WHERE NOT EXISTS (SELECT 1 FROM d WHERE doc_id = vec_id)),
         |t AS (SELECT (SELECT count(*) FROM d) AS n_docs,
         |  (SELECT count(*) FROM v) AS n_vecs,
         |  (SELECT count(*) - count(DISTINCT vec_id) FROM v) AS dup_vec_ids)
         |SELECT n_docs, n_vecs, docs_without_vec, vecs_without_doc,
         |  CAST(dup_vec_ids AS BIGINT) AS dup_vec_ids,
         |  CAST(n_docs - docs_without_vec AS DOUBLE) / NULLIF(n_docs, 0)
         |    AS coverage_rate
         |FROM t CROSS JOIN dw CROSS JOIN vw""".stripMargin,
    // the q36 cell assignment, rolled to occupancy; spine keeps empty
    // cells visible; closing divisions exact-int
    "q189_ivf_balance" ->
      s"""WITH $eCte,
         |$ivfCellSql,
         |counts AS (SELECT cell, count(*) AS n FROM ecell GROUP BY 1),
         |spine AS (SELECT UNNEST(range($NumCells)) AS cell),
         |j AS (SELECT CAST(s.cell AS INT) AS cell,
         |    CAST(coalesce(c.n, 0) AS BIGINT) AS n_vectors
         |  FROM spine s LEFT JOIN counts c ON c.cell = s.cell),
         |t AS (SELECT CAST(sum(n_vectors) AS BIGINT) AS total FROM j)
         |SELECT cell, n_vectors,
         |  CAST(n_vectors AS DOUBLE) / NULLIF(total, 0) AS share,
         |  CAST(n_vectors * $NumCells AS DOUBLE) / NULLIF(total, 0)
         |    AS load_factor
         |FROM j CROSS JOIN t ORDER BY cell""".stripMargin,
    "q36_ann_ivf" ->
      s"""WITH $eCte,
         |$ivfCellSql,
         |qp AS (SELECT vec_id AS query_id, emb AS q_emb, nrm AS q_nrm, c,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY score DESC, c) AS prn
         |  FROM scs WHERE vec_id < $NumQueries),
         |qprobes AS (SELECT query_id, q_emb, q_nrm, c AS probe_cell
         |  FROM qp WHERE prn <= $NumProbes),
         |scored AS (
         |  SELECT query_id, e.vec_id AS neighbor_id, e.cell,
         |    round(list_inner_product(q_emb, emb) / (q_nrm * nrm), 9) AS cosine
         |  FROM ecell e JOIN qprobes q
         |    ON e.cell = q.probe_cell AND e.vec_id <> q.query_id),
         |rk AS (SELECT *, row_number() OVER
         |  (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank FROM scored)
         |SELECT query_id, neighbor_id, cell, cosine, CAST(rank AS INT) AS rank
         |FROM rk WHERE rank <= $K ORDER BY query_id, rank""".stripMargin,
    "q51_quantize_int8" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
         |m AS (SELECT vec_id, emb,
         |    list_max(list_transform(emb, x -> abs(x))) AS max_abs FROM e),
         |s AS (SELECT vec_id, emb, max_abs / 127.0 AS scale FROM m WHERE max_abs > 0),
         |q AS (SELECT vec_id, emb, scale,
         |    list_transform(emb, x -> CAST(round(x / scale, 0) AS DOUBLE)) AS qd FROM s)
         |SELECT vec_id, round(scale, 9) AS scale,
         |  round((list_inner_product(emb, emb)
         |    - 2.0 * scale * list_inner_product(emb, qd)
         |    + scale * scale * list_inner_product(qd, qd)) / 64.0, 12) AS mse,
         |  round(list_inner_product(emb, qd) /
         |    (sqrt(list_inner_product(emb, emb)) * sqrt(list_inner_product(qd, qd))), 9) AS cos_recon
         |FROM q ORDER BY vec_id""".stripMargin,
    // the q56 centroid CTEs, then the pairwise cosine over the
    // label-cardinality relation
    // per-pos decimal sums reproduce vector_sum_dec; the IEEE close and
    // the cross-multiplied flag mirror the DataFrame token-for-token
    "q164_collapse_audit" ->
      s"""WITH e AS (SELECT label, embedding::DOUBLE[] AS emb FROM embeddings),
         |ex AS (SELECT label, UNNEST(emb) AS v,
         |  UNNEST(range(len(emb))) AS pos FROM e),
         |csum AS (SELECT label, pos, sum(CAST(v AS DECIMAL(38,12))) AS s
         |  FROM ex GROUP BY 1, 2),
         |per AS (SELECT label, count(*) AS n,
         |    CAST(sum(CAST(round(list_inner_product(emb, emb), 9)
         |      AS DECIMAL(38,12))) AS DECIMAL(38,12)) AS ssum
         |  FROM e GROUP BY 1),
         |pv AS (SELECT label, list(CAST(s AS DOUBLE) ORDER BY pos) AS sumd
         |  FROM csum GROUP BY 1),
         |gper AS (SELECT CAST(sum(n) AS BIGINT) AS n,
         |    CAST(sum(ssum) AS DECIMAL(38,12)) AS ssum FROM per),
         |gv AS (SELECT list(CAST(s AS DOUBLE) ORDER BY pos) AS sumd
         |  FROM (SELECT pos, sum(s) AS s FROM csum GROUP BY 1) g),
         |u AS (SELECT p.label, p.n, p.ssum, v.sumd
         |    FROM per p JOIN pv v USING (label)
         |  UNION ALL
         |  SELECT -1, g.n, g.ssum, gv.sumd FROM gper g CROSS JOIN gv),
         |m AS (SELECT label, n,
         |    CAST(ssum AS DOUBLE) / n AS msn_u,
         |    CASE WHEN n > 1 THEN
         |      (2.0 * (CAST(n AS DOUBLE) * CAST(ssum AS DOUBLE)
         |        - list_inner_product(sumd, sumd)))
         |      / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE)) END AS mps_u
         |  FROM u)
         |SELECT label, n, round(msn_u, 9) AS mean_sq_norm,
         |  round(mps_u, 9) AS mean_pairwise_sq,
         |  round(mps_u / (2.0 * msn_u), 9) AS isotropy_ratio,
         |  CASE WHEN n > 1 THEN mps_u < 0.2 * msn_u END AS collapsed
         |FROM m ORDER BY label""".stripMargin,
    "q122_label_centroids" ->
      s"""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS emb FROM embeddings),
         |ex AS (SELECT label, UNNEST(emb) AS v, UNNEST(range(len(emb))) AS pos FROM e),
         |csum AS (SELECT label, pos, sum(CAST(v AS DECIMAL(38,12))) AS s
         |  FROM ex GROUP BY label, pos),
         |cnt AS (SELECT label, count(*) AS n FROM e GROUP BY label),
         |cent AS (SELECT label, n, list(CAST(s AS DOUBLE) / n ORDER BY pos) AS centroid
         |  FROM csum JOIN cnt USING (label) GROUP BY label, n)
         |SELECT a.label AS label_a, b.label AS label_b, a.n AS n_a, b.n AS n_b,
         |  round(list_inner_product(a.centroid, b.centroid) /
         |    (sqrt(list_inner_product(a.centroid, a.centroid)) *
         |     sqrt(list_inner_product(b.centroid, b.centroid))), 9) AS cosine
         |FROM cent a JOIN cent b ON a.label < b.label
         |ORDER BY label_a, label_b""".stripMargin,
    // unrolled power iterations: every fractional sum DECIMAL-exact,
    // every scalar step one correctly-rounded IEEE op in the same
    // order as the DataFrame driver fold (C·w via Σs·v − (Σs)·m, the
    // covariance never materialized)
    "q144_pca_power" ->
      s"""WITH $pcaOracleCtes,
         |qq AS (SELECT CAST(sum(CAST(list_inner_product(emb, emb) AS DECIMAL(38,12))) AS DOUBLE) AS q FROM e),
         |tv AS (SELECT q / n - list_inner_product(m.m, m.m) AS tvar
         |  FROM qq CROSS JOIN nn CROSS JOIN mm m)
         |SELECT CAST(p AS INT) AS pos,
         |  round(list_extract(w.w, CAST(p AS INT) + 1), 9) AS loading,
         |  round(w.lambda, 9) AS lambda,
         |  round(w.lambda / tv.tvar, 9) AS var_share
         |FROM (SELECT w.w, w.lambda, UNNEST(range(len(w.w))) AS p FROM w$PcaIters w) w
         |CROSS JOIN tv
         |ORDER BY pos""".stripMargin,
    // the q144 training CTEs verbatim, then application: the identical
    // b − 2p² + p²·(w·w) expansion and double avgs rounded 6
    "q212_embed_whiten" ->
      s"""WITH $pcaOracleCtes,
         |lb AS (SELECT label, embedding::DOUBLE[] AS emb FROM embeddings),
         |sc AS (SELECT lb.label,
         |    list_inner_product(lb.emb, lb.emb) AS b,
         |    list_inner_product(lb.emb, w.w) AS p,
         |    list_inner_product(w.w, w.w) AS ww
         |  FROM lb CROSS JOIN w$PcaIters w)
         |SELECT label, count(*) AS n_vecs,
         |  round(avg(b), 6) AS msq_before,
         |  round(avg(b - 2 * p * p + p * p * ww), 6) AS msq_after,
         |  round(avg(p * p), 6) AS msq_removed
         |FROM sc GROUP BY label ORDER BY label""".stripMargin,
    // kappa numerator/denominator integer to the one closing division
    // (q132 discipline); assignment ties break on rounded cosine then
    // smallest centroid label on both engines
    // per-pos decimal sums reproduce vector_sum_dec; corpus centroid
    // from the per-source position sums (the partial re-aggregation)
    "q170_source_drift" ->
      s"""WITH e AS (SELECT d.source, v.embedding::DOUBLE[] AS emb
         |  FROM embeddings v JOIN documents d ON d.doc_id = v.vec_id),
         |ex AS (SELECT source, UNNEST(emb) AS val,
         |  UNNEST(range(len(emb))) AS pos FROM e),
         |csum AS (SELECT source, pos, sum(CAST(val AS DECIMAL(38,12))) AS s
         |  FROM ex GROUP BY 1, 2),
         |cnt AS (SELECT source, count(*) AS n_vecs FROM e GROUP BY 1),
         |tot AS (SELECT CAST(sum(n_vecs) AS BIGINT) AS n_all FROM cnt),
         |pv AS (SELECT source, list(CAST(s AS DOUBLE) / n_vecs ORDER BY pos)
         |    AS cs
         |  FROM csum JOIN cnt USING (source) GROUP BY source, n_vecs),
         |gv AS (SELECT list(CAST(s AS DOUBLE) / n_all ORDER BY pos) AS ca
         |  FROM (SELECT pos, sum(s) AS s FROM csum GROUP BY 1) z
         |  CROSS JOIN tot),
         |s AS (SELECT c.source, c.n_vecs,
         |    round(list_inner_product(cs, ca) /
         |      (sqrt(list_inner_product(cs, cs)) *
         |       sqrt(list_inner_product(ca, ca))), 9) AS centroid_cos,
         |    round(sqrt(list_inner_product(cs, cs)) /
         |      sqrt(list_inner_product(ca, ca)), 9) AS norm_ratio
         |  FROM cnt c JOIN pv USING (source) CROSS JOIN gv)
         |SELECT source, n_vecs, centroid_cos, norm_ratio,
         |  centroid_cos < $DriftCosMin AS drifted
         |FROM s ORDER BY source""".stripMargin,
    // q143's positional-unnest centroids, rank cut at 2, margin close
    "q168_uncertainty_sample" ->
      s"""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS emb FROM embeddings),
         |ex AS (SELECT label, UNNEST(emb) AS v, UNNEST(range(len(emb))) AS pos FROM e),
         |csum AS (SELECT label, pos, sum(CAST(v AS DECIMAL(38,12))) AS s
         |  FROM ex GROUP BY label, pos),
         |cnt AS (SELECT label, count(*) AS n FROM e GROUP BY label),
         |cent AS (SELECT label AS clabel,
         |    list(CAST(s AS DOUBLE) / n ORDER BY pos) AS centroid
         |  FROM csum JOIN cnt USING (label) GROUP BY label, n),
         |scored AS (SELECT e.vec_id, e.label, c.clabel,
         |    round(list_inner_product(emb, centroid) /
         |      (sqrt(list_inner_product(emb, emb)) *
         |       sqrt(list_inner_product(centroid, centroid))), 9) AS cos
         |  FROM e CROSS JOIN cent c),
         |t2 AS (SELECT * FROM (
         |    SELECT *, row_number() OVER
         |      (PARTITION BY vec_id ORDER BY cos DESC, clabel) AS rn
         |    FROM scored) x WHERE rn <= 2),
         |f AS (SELECT vec_id, max(label) AS label,
         |    max(CASE WHEN rn = 1 THEN clabel END) AS pred_label,
         |    max(CASE WHEN rn = 1 THEN cos END) AS best_cos,
         |    max(CASE WHEN rn = 2 THEN clabel END) AS second_label,
         |    max(CASE WHEN rn = 2 THEN cos END) AS second_cos
         |  FROM t2 GROUP BY 1)
         |SELECT vec_id, label, pred_label, best_cos, second_label,
         |  second_cos, round(best_cos - second_cos, 9) AS margin
         |FROM f WHERE second_cos IS NOT NULL
         |ORDER BY margin, vec_id LIMIT $UncertainTopK""".stripMargin,
    "q143_label_agreement" ->
      s"""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS emb FROM embeddings),
         |ex AS (SELECT label, UNNEST(emb) AS v, UNNEST(range(len(emb))) AS pos FROM e),
         |csum AS (SELECT label, pos, sum(CAST(v AS DECIMAL(38,12))) AS s
         |  FROM ex GROUP BY label, pos),
         |cnt AS (SELECT label, count(*) AS n FROM e GROUP BY label),
         |cent AS (SELECT label AS clabel, list(CAST(s AS DOUBLE) / n ORDER BY pos) AS centroid
         |  FROM csum JOIN cnt USING (label) GROUP BY label, n),
         |scored AS (SELECT e.vec_id, e.label, c.clabel,
         |    round(list_inner_product(emb, centroid) /
         |      (sqrt(list_inner_product(emb, emb)) * sqrt(list_inner_product(centroid, centroid))), 9) AS cos
         |  FROM e CROSS JOIN cent c),
         |pred AS (SELECT label, clabel AS pred FROM (
         |    SELECT *, row_number() OVER
         |      (PARTITION BY vec_id ORDER BY cos DESC, clabel) AS rn FROM scored) x
         |  WHERE rn = 1),
         |conf AS (SELECT label, pred, count(*) AS n FROM pred GROUP BY 1, 2),
         |rowm AS (SELECT label, CAST(sum(n) AS BIGINT) AS n_true FROM conf GROUP BY 1),
         |colm AS (SELECT pred, CAST(sum(n) AS BIGINT) AS n_pred FROM conf GROUP BY 1),
         |diag AS (SELECT label, n AS n_correct FROM conf WHERE label = pred),
         |perl AS (SELECT r.label, r.n_true, coalesce(c.n_pred, 0) AS n_pred,
         |    coalesce(d.n_correct, 0) AS n_correct
         |  FROM rowm r LEFT JOIN colm c ON c.pred = r.label
         |  LEFT JOIN diag d ON d.label = r.label),
         |tot AS (SELECT CAST(sum(n_true) AS BIGINT) AS n_total,
         |    CAST(sum(n_correct) AS BIGINT) AS sum_diag,
         |    CAST(sum(CAST(n_true AS HUGEINT) * CAST(n_pred AS HUGEINT)) AS HUGEINT) AS sum_exp
         |  FROM perl)
         |SELECT p.label, p.n_true, p.n_pred, p.n_correct,
         |  round(CAST(p.n_correct AS DOUBLE) / CAST(p.n_true AS DOUBLE), 9) AS recall,
         |  round(CAST(p.n_correct AS DOUBLE) / CAST(NULLIF(p.n_pred, 0) AS DOUBLE), 9) AS prec,
         |  round(CAST(t.sum_diag AS DOUBLE) / CAST(t.n_total AS DOUBLE), 9) AS accuracy,
         |  round(CAST(CAST(t.n_total AS HUGEINT) * CAST(t.sum_diag AS HUGEINT) - t.sum_exp AS DOUBLE)
         |    / CAST(NULLIF(CAST(t.n_total AS HUGEINT) * CAST(t.n_total AS HUGEINT) - t.sum_exp, 0) AS DOUBLE), 9) AS kappa
         |FROM perl p CROSS JOIN tot t
         |ORDER BY p.label""".stripMargin,
    "q56_centroid_outliers" ->
      s"""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS emb FROM embeddings),
         |ex AS (SELECT label, UNNEST(emb) AS v, UNNEST(range(len(emb))) AS pos FROM e),
         |csum AS (SELECT label, pos, sum(CAST(v AS DECIMAL(38,12))) AS s
         |  FROM ex GROUP BY label, pos),
         |cnt AS (SELECT label, count(*) AS n FROM e GROUP BY label),
         |cent AS (SELECT label, list(CAST(s AS DOUBLE) / n ORDER BY pos) AS centroid
         |  FROM csum JOIN cnt USING (label) GROUP BY label),
         |scored AS (SELECT e.label, e.vec_id,
         |    round(list_inner_product(emb, centroid) /
         |      (sqrt(list_inner_product(emb, emb)) * sqrt(list_inner_product(centroid, centroid))), 9)
         |    AS cos_centroid
         |  FROM e JOIN cent USING (label)),
         |rk AS (SELECT *, row_number() OVER
         |  (PARTITION BY label ORDER BY cos_centroid, vec_id) AS rank FROM scored)
         |SELECT label, vec_id, cos_centroid, CAST(rank AS INT) AS rank
         |FROM rk WHERE rank <= $OutlierK ORDER BY label, rank""".stripMargin,
    "q61_kmeans_train" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
         |${lloydSql(KmIters)}
         |SELECT c2.c AS cell, COALESCE(n$KmIters.n, 0) AS n_members,
         |  round(sqrt(list_inner_product(c2.c_emb, c2.c_emb)), 9) AS centroid_norm
         |FROM cent$KmIters c2 LEFT JOIN n$KmIters ON n$KmIters.cell = c2.c
         |ORDER BY cell""".stripMargin,
    "q75_ann_ivf_trained" ->
      s"""WITH $eCte,
         |${lloydSql(KmIters)},
         |scs AS (SELECT e.vec_id, e.emb, e.nrm, c,
         |    list_inner_product(e.emb, c_emb) AS score
         |  FROM e CROSS JOIN cent$KmIters),
         |asg AS (SELECT vec_id, emb, nrm, c AS cell, row_number() OVER
         |    (PARTITION BY vec_id ORDER BY score DESC, c) AS rn FROM scs),
         |ecell AS (SELECT vec_id, emb, nrm, cell FROM asg WHERE rn = 1),
         |qp AS (SELECT vec_id AS query_id, emb AS q_emb, nrm AS q_nrm, c,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY score DESC, c) AS prn
         |  FROM scs WHERE vec_id < $NumQueries),
         |qprobes AS (SELECT query_id, q_emb, q_nrm, c AS probe_cell
         |  FROM qp WHERE prn <= $NumProbes),
         |scored AS (
         |  SELECT query_id, e.vec_id AS neighbor_id, e.cell,
         |    round(list_inner_product(q_emb, emb) / (q_nrm * nrm), 9) AS cosine
         |  FROM ecell e JOIN qprobes q
         |    ON e.cell = q.probe_cell AND e.vec_id <> q.query_id),
         |rk AS (SELECT *, row_number() OVER
         |  (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank FROM scored)
         |SELECT query_id, neighbor_id, cell, cosine, CAST(rank AS INT) AS rank
         |FROM rk WHERE rank <= $K ORDER BY query_id, rank""".stripMargin,
    "q76_semantic_dedup_trained" ->
      s"""WITH $eCte,
         |${lloydSql(KmIters)},
         |scs AS (SELECT e.vec_id, e.emb, e.nrm, c,
         |    list_inner_product(e.emb, c_emb) AS score
         |  FROM e CROSS JOIN cent$KmIters),
         |asg AS (SELECT vec_id, emb, nrm, c AS cell, row_number() OVER
         |    (PARTITION BY vec_id ORDER BY score DESC, c) AS rn FROM scs),
         |ecell AS (SELECT vec_id, emb, nrm, cell FROM asg WHERE rn = 1),
         |pairs AS (SELECT x.vec_id AS va, y.vec_id AS vb
         |  FROM ecell x JOIN ecell y ON x.cell = y.cell AND x.vec_id < y.vec_id
         |  WHERE list_inner_product(x.emb, y.emb) / (x.nrm * y.nrm) >= ${java.lang.Double.toString(SemDupMin)}),
         |part AS (SELECT va AS vec_id, vb AS p FROM pairs
         |         UNION ALL SELECT vb, va FROM pairs),
         |g AS (SELECT vec_id, count(*) AS n_dups, min(p) AS min_p
         |      FROM part GROUP BY vec_id)
         |SELECT e.vec_id, e.cell, COALESCE(g.n_dups, 0) AS n_dups,
         |  (g.min_p IS NULL OR g.min_p > e.vec_id) AS is_kept
         |FROM ecell e LEFT JOIN g ON g.vec_id = e.vec_id
         |ORDER BY e.vec_id""".stripMargin,
    "q38_embedding_neardup" -> {
      val arms = (0 until NearDupFamilies).map { f =>
        val bucket = (0 until NearDupPlanesPerFamily)
          .map(p => s"CASE WHEN list_inner_product(emb, ${planeLit(f * NearDupPlanesPerFamily + p)}) > 0 THEN ${1 << p} ELSE 0 END")
          .mkString("(", " + ", ")")
        s"SELECT vec_id, emb, nrm, $f AS family, $bucket AS bucket FROM e"
      }.mkString("\n  UNION ALL ")
      s"""WITH $eCte,
         |b AS (
         |  $arms),
         |cand AS (SELECT DISTINCT x.vec_id AS vec_a, y.vec_id AS vec_b
         |  FROM b x JOIN b y ON x.family = y.family AND x.bucket = y.bucket
         |   AND x.vec_id < y.vec_id)
         |SELECT vec_a, vec_b,
         |  round(list_inner_product(ea.emb, eb.emb) / (ea.nrm * eb.nrm), 9) AS cosine
         |FROM cand
         |JOIN e ea ON ea.vec_id = vec_a
         |JOIN e eb ON eb.vec_id = vec_b
         |WHERE round(list_inner_product(ea.emb, eb.emb) / (ea.nrm * eb.nrm), 9) >= $NearDupMin
         |ORDER BY vec_a, vec_b""".stripMargin
    })
}
