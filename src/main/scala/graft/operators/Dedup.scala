package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.functions.Det.nullIfZero
import graft.functions.{TextCore, TextFns}
import graft.plans.GraftFunctions
import graft.sources.Tables

/** Deduplication operators over the `documents` table: exact (hash
  * groupBy), MinHash+LSH candidate generation, SimHash signatures, and
  * n-gram Jaccard verification of LSH candidates.
  *
  * Scale design (100 TB):
  *  - exact dedup is one hash-shuffle on a 128-bit fingerprint — the
  *    partial/final hash aggregate combines map-side, so the shuffle
  *    carries one row per distinct fingerprint per partition;
  *  - MinHash signatures are per-row map work (no shuffle); the LSH
  *    band join shuffles on (band_id, band_key) — that bucket-join IS
  *    the algorithm: candidate pairs only ever meet inside a bucket, so
  *    the quadratic blow-up is confined to same-signature groups;
  *  - SimHash is explode → 32 conditional int sums: map-side combine
  *    reduces each doc to one 32-column row before the shuffle;
  *  - Jaccard verification joins the candidate pair list (small by
  *    construction) back to shingle sets — two hash joins on doc_id.
  */
object Dedup {

  /** MinHash parameters: 8 signatures in 4 bands of 2 rows. */
  val NumHashes = 8
  val NumBands = 4
  val RowsPerBand = 2

  /** SimHash width in bits. */
  val SimBits = 32

  /** Jaccard acceptance threshold for verified near-dups. */
  val JaccardMin = 0.1

  /** Deterministic xor salts for the minhash family: one base 60-bit
    * hash per shingle, then `min(h ⊕ salt_j)` per signature — one md5
    * per shingle instead of [[NumHashes]] (8× less hashing, same LSH
    * guarantees for a universal-enough family). Constants are md5-derived
    * so the oracle embeds identical literals (source of truth:
    * [[TextCore.XorSalts]], shared with the native kernels).
    */
  private[operators] val XorSalts: Seq[Long] = TextCore.XorSalts.toSeq

  private def normText = trim(regexp_replace(
    regexp_replace(lower(col("text")), "[^a-z0-9 ]", ""), "\\s+", " "))

  private val normSql =
    "trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), '\\s+', ' ', 'g'))"

  /** Shared q23/q238 oracle fragment over `rel(doc_id, text)`: the
    * per-bit majority-vote SimHash as CTEs ending in `shx(doc_id, sh)`.
    */
  private def simhashCtes(rel: String): String = {
    val votes = (0 until SimBits).map(b =>
      s"sum(CASE WHEN (h >> $b) & 1 = 1 THEN 1 ELSE -1 END) AS v$b").mkString(",\n    ")
    val sig = (0 until SimBits)
      .map(b => s"CASE WHEN v$b > 0 THEN ${1L << b} ELSE 0 END")
      .mkString(" + ")
    s"""toks AS (SELECT doc_id, ${TextFns.sql.toks} AS w FROM $rel),
       |th AS (SELECT doc_id, ${TextFns.sql.hash32("tok")} AS h
       |       FROM (SELECT doc_id, unnest(w) AS tok FROM toks)),
       |agg AS (SELECT doc_id,
       |    $votes
       |  FROM th GROUP BY doc_id),
       |shx AS (SELECT doc_id, CAST($sig AS BIGINT) AS sh FROM agg)""".stripMargin
  }

  /** The [[replicaPlanted]] corpus as oracle CTEs (`reps` + `corpus`). */
  private def repsSql =
    s"""reps AS (
       |  SELECT doc_id + $RepShift AS doc_id,
       |    CASE WHEN ${TextFns.sql.hash32(
             s"'repsrc|' || CAST(doc_id + $RepShift AS VARCHAR)")} % 2 = 0
       |      THEN source ELSE 'mirror-' || source END AS source, text
       |  FROM documents
       |  WHERE ${TextFns.sql.hash32(
             "'rep|' || CAST(doc_id AS VARCHAR)")} % $RepMod = 0),
       |corpus AS (
       |  SELECT doc_id, source, text FROM documents
       |  UNION ALL SELECT * FROM reps)""".stripMargin

  /** q21 — exact dedup summary: docs grouped by normalized-text md5. */
  def exactDedup(spark: SparkSession, dir: String): DataFrame =
    exactDedupFrom(Tables.documents(spark, dir))

  def exactDedupFrom(docs: DataFrame): DataFrame =
    docs
      .select(md5(normText).as("fp"))
      .groupBy("fp").agg(count(lit(1)).as("c"))
      .agg(
        sum("c").as("n_docs"),
        count(lit(1)).as("n_distinct"),
        (sum("c") - count(lit(1))).as("n_dup_docs"),
        sum(when(col("c") > 1, 1L).otherwise(0L)).as("n_dup_clusters"))

  /** q179 weight scale: per-doc weights are round-half-up(1e9 / size)
    * fixed-point integers, so sums stay exact and order-independent.
    */
  val SoftW9 = 1000000000L

  /** q179 — SOFT-dedup sampling weights: instead of cutting duplicate
    * documents (q89), downweight them — each doc weighs 1/size of its
    * exact-duplicate cluster (q21's normalized-fp groups), so every
    * unique content unit contributes total weight 1 split across its
    * corpus-WIDE copies. Per source this reports the effective
    * document and token mass a weight-aware sampler would draw
    * (mirrored boilerplate collapses, unique content keeps full mass)
    * and the effective/raw fractions — the soft alternative to hard
    * dedup when near-identical copies still carry signal.
    *
    * Determinism/scale: weights are fixed-point integers
    * w9 = ⌊(2·10⁹ + size) / (2·size)⌋ (round-half-up of 10⁹/size —
    * both engines share the integral-divide spelling), summed in
    * DECIMAL(38,0) and shipped as [[graft.functions.Wide]] hi/lo
    * BIGINT halves; the closing fractions round half-up in INTEGER
    * math (another integral divide) before one identical double
    * division, so no engine ever rounds a double near a boundary. One
    * fp-partitioned window (the q21 shuffle) then one source-grained
    * aggregate; output is sources-sized.
    */
  def softDedupWeights(spark: SparkSession, dir: String): DataFrame =
    softDedupWeightsFrom(Tables.documents(spark, dir))

  def softDedupWeightsFrom(docs: DataFrame): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val w = org.apache.spark.sql.expressions.Window.partitionBy("fp")
    val sized = Tables.widened(docs, col("doc_id"))
      .select(col("source"), md5(normText).as("fp"),
        size(TextFns.toks(col("text"))).cast("long").as("t"))
      .withColumn("cs", count(lit(1)).over(w))
    val w9 = call_function("div",
      lit(2L * SoftW9) + col("cs"), lit(2L) * col("cs"))
    // exact round-half-up((tot/n) in 1e-9 units) as an integral divide,
    // then ONE identical double division on both engines — a round()
    // over ed/(1e9·n) would sit exactly on half-up boundaries whenever
    // the rational terminates (cluster sizes 2, 5, …), where the two
    // engines' double rounding can split
    def frac(tot: org.apache.spark.sql.Column,
        n: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      call_function("div", tot * lit(2) + n.cast(dec), (n * lit(2)).cast(dec))
        .cast("double") / lit(1.0e9)
    sized.select(col("source"), col("t"), w9.as("w9"))
      .groupBy("source").agg(
        count(lit(1)).as("n_docs"),
        sum("t").as("n_tokens"),
        sum(col("w9").cast(dec)).as("ed"),
        sum(col("t").cast(dec) * col("w9")).as("et"))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        graft.functions.Wide.hi62(col("ed")).as("eff_docs_hi"),
        graft.functions.Wide.lo62(col("ed")).as("eff_docs_lo"),
        graft.functions.Wide.hi62(col("et")).as("eff_tokens_hi"),
        graft.functions.Wide.lo62(col("et")).as("eff_tokens_lo"),
        frac(col("ed"), col("n_docs")).as("eff_doc_frac"),
        frac(col("et"), col("n_tokens")).as("eff_token_frac"))
      .orderBy("source")
  }

  /** Per-doc (band_id, band_key) rows: minhash signature split into
    * bands, each band keyed by the md5 of its concatenated minhashes.
    */
  private def bands(spark: SparkSession, dir: String): DataFrame =
    bandsFrom(Tables.documents(spark, dir))

  def bandsFrom(docs: DataFrame): DataFrame = {
    // Map-only minhash: `minhash_band_keys` is a native one-pass codegen
    // expression (tokenize → shingle → md5 → 8 salted mins → 4 band-key
    // md5s, graft.functions.TextCore) evaluated exactly once per doc in
    // the generator — no shuffle before the LSH band join, no exploded
    // shingle stream, no interpreted higher-order functions. The earlier
    // explode + groupBy(min) formulation shuffled every shingle row and,
    // worse, its interpreted Generate input re-split the document (with
    // a fresh regex Pattern compile) per shingle index — thread dumps at
    // sf0.1 showed ~90 Pattern.compile calls per doc per evaluation. At
    // 100 TB the win compounds: a per-doc map expression scales with doc
    // count and needs no shingle shuffle at all. Tables.widened only
    // repartitions when the scan is under-partitioned (single-file test
    // fixtures); a multi-file corpus keeps its file-split parallelism
    // with no shuffle before the kernel.
    GraftFunctions.register(docs.sparkSession)
    Tables.widened(docs, col("doc_id"))
      .select(col("doc_id"),
        posexplode(call_function("minhash_band_keys", col("text"))))
      .select(col("doc_id"), col("pos").as("band_id"), col("col").as("band_key"))
  }

  /** SQL twin of [[bands]] (exploded + grouped MIN, UNION ALL bands)
    * over any `(doc_id, textCol)` relation `rel`; CTE names carry
    * prefix `p` so two sides can coexist in one WITH (q78). Emits
    * `${p}toks` / `${p}shx` / `${p}mhs` / `${p}bands`.
    */
  private[operators] def bandsSqlOver(rel: String, textCol: String, p: String): String = {
    val mhs = (0 until NumHashes).map(j =>
      s"min(xor(h, ${XorSalts(j)})) AS mh$j")
      .mkString(",\n    ")
    val arms = (0 until NumBands).map { b =>
      val key = (0 until RowsPerBand).map(r => s"mh${RowsPerBand * b + r}").mkString(", ")
      s"SELECT doc_id, $b AS band_id, md5(concat_ws('|', $key)) AS band_key FROM ${p}mhs"
    }.mkString("\n  UNION ALL ")
    s"""${p}toks AS (SELECT doc_id, regexp_split_to_array(lower(trim($textCol)), '\\s+') AS w FROM $rel),
       |${p}shx AS (SELECT doc_id, ${TextFns.sql.hash60("s")} AS h FROM (
       |  SELECT doc_id, unnest(list_transform(range(len(w) - 1),
       |    i -> w[CAST(i AS INT) + 1] || ' ' || w[CAST(i AS INT) + 2])) AS s FROM ${p}toks)),
       |${p}mhs AS (SELECT doc_id,
       |    $mhs
       |  FROM ${p}shx GROUP BY doc_id),
       |${p}bands AS (
       |  $arms)""".stripMargin
  }

  private def bandsSql: String = bandsSqlOver("documents", "text", "")

  /** Distinct candidate pairs sharing at least one LSH band bucket. */
  private def candidatePairs(spark: SparkSession, dir: String): DataFrame =
    candidatePairsFrom(bands(spark, dir))

  def candidatePairsFrom(b: DataFrame): DataFrame = {
    // shuffle-hash on both sides: the two exchanges are canonically
    // identical, so the signature pipeline is computed once and reused
    // (a broadcast build side would recompute it — measured 2× slower).
    // At cluster scale the same choice holds: the band relation is too
    // big to broadcast and both sides shuffle on the same key.
    b.alias("a").hint("shuffle_hash")
      .join(b.alias("b").hint("shuffle_hash"),
        col("a.band_id") === col("b.band_id") &&
          col("a.band_key") === col("b.band_key") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
  }

  private val candidatePairsSql =
    """pairs AS (
      |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM bands a JOIN bands b
      |    ON a.band_id = b.band_id AND a.band_key = b.band_key
      |   AND a.doc_id < b.doc_id)""".stripMargin

  /** q22 — MinHash+LSH near-dup candidate pairs. */
  def minhashCandidates(spark: SparkSession, dir: String): DataFrame =
    candidatePairs(spark, dir).orderBy("doc_a", "doc_b")

  /** q23 — 32-bit SimHash per document: per-bit majority vote over
    * token hashes (+1 when the bit is set, −1 when clear; bit b of the
    * signature is 1 iff the vote is positive).
    */
  def simhash(spark: SparkSession, dir: String): DataFrame =
    simhashFrom(Tables.documents(spark, dir))

  def simhashFrom(docs: DataFrame): DataFrame = {
    // Map-only: one native `simhash32` call per doc (token hashes and
    // the 32 bit-votes fused in TextCore) replaces the exploded
    // token stream + 32 conditional sums — no shuffle, same bits.
    GraftFunctions.register(docs.sparkSession)
    Tables.widened(docs, col("doc_id"))
      .select(col("doc_id"),
        call_function("simhash32", col("text")).as("simhash32"))
      .orderBy("doc_id")
  }

  /** q24 — n-gram Jaccard verification of the LSH candidates, as a
    * set-similarity join: explode distinct shingles, equi-join candidate
    * pairs against both sides' shingle streams, count matches, derive
    * `|A∩B| / (|A| + |B| − |A∩B|)`. All hash joins + hash aggregates —
    * fully codegen'd and partitioned, unlike per-pair array_intersect
    * on rebuilt arrays (interpreted, inlined per pair by projection
    * collapse — measured 100×+ slower at sf0.1). Pairs with an empty
    * intersection drop out of the inner join; they can only score
    * jaccard 0, below any positive threshold.
    */
  def ngramJaccard(spark: SparkSession, dir: String): DataFrame =
    ngramJaccardFrom(Tables.documents(spark, dir))

  def ngramJaccardFrom(docs: DataFrame): DataFrame =
    ngramJaccardOfPairs(candidatePairsFrom(bandsFrom(docs)), docs)

  /** Jaccard verification over an explicit (possibly materialized)
    * candidate-pair relation.
    *
    * Set-similarity as array intersection, not stream joins: each doc is
    * reduced map-side to one sorted array of 60-bit hashes of its
    * distinct shingles (`sorted_shingle_hashes`, one codegen pass), the
    * pair relation hash-joins that relation twice on doc id, and
    * `sorted_intersect_count` merge-counts each pair in O(|A|+|B|) with
    * join-identical multiset semantics. Versus exploding both shingle
    * streams and re-grouping: the shuffle carries one row per doc per
    * side (not one per shingle), there is no wide `(doc_b, s)` join and
    * no (doc_a, doc_b) re-aggregation, and a hot candidate doc costs its
    * array length, not a quadratic stream blow-up. Counts are identical
    * modulo md5-prefix collisions, which the oracle mirrors.
    */
  def ngramJaccardOfPairs(pairs: DataFrame, docs: DataFrame,
      minJaccard: Double = JaccardMin): DataFrame =
    ngramJaccardDetail(pairs, docs, minJaccard)
      .select("doc_a", "doc_b", "jaccard")
      .orderBy("doc_a", "doc_b")

  /** [[ngramJaccardOfPairs]] keeping the integer intersection/size
    * columns — q80 aggregates those exactly instead of averaging the
    * rounded ratios (a cross-engine round-at-boundary hazard).
    */
  /** The per-doc sorted-shingle-hash relation `(doc_id, sh)` the
    * verifiers join — one map-only codegen pass per corpus. Public so
    * an incremental pipeline can MATERIALIZE it with the band index
    * (the q135 staged fold): re-deriving the old corpus's arrays every
    * batch is a full-corpus kernel pass the stored relation replaces.
    */
  def shinglesFrom(docs: DataFrame): DataFrame = {
    GraftFunctions.register(docs.sparkSession)
    Tables.widened(docs, col("doc_id"))
      .select(col("doc_id"),
        call_function("sorted_shingle_hashes", col("text")).as("sh"))
      .where(size(col("sh")) > 0)
  }

  /** [[ngramJaccardDetail]] without the jaccard floor — for consumers
    * (q184) whose own integer threshold tests subsume it; the floor's
    * filter would otherwise re-inline the intersection kernel into the
    * pair-join predicate.
    */
  private[operators] def ngramJaccardDetailRaw(pairs: DataFrame,
      docs: DataFrame): DataFrame =
    ngramJaccardDetail(pairs, docs, Double.NegativeInfinity)

  def ngramJaccardDetail(pairs: DataFrame, docs: DataFrame,
      minJaccard: Double = JaccardMin): DataFrame =
    ngramJaccardDetailOfShingles(pairs, shinglesFrom(docs), minJaccard)

  /** [[ngramJaccardDetail]] over an explicit (possibly stored) shingle
    * relation.
    */
  def ngramJaccardDetailOfShingles(pairs: DataFrame, sh: DataFrame,
      minJaccard: Double = JaccardMin): DataFrame = {
    GraftFunctions.register(sh.sparkSession)
    withJaccardFloor(pairs
      .join(sh.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), Seq("doc_a"))
      .join(sh.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        call_function("sorted_intersect_count", col("sh_a"), col("sh_b"))
          .as("n_common"),
        size(col("sh_a")).cast("long").as("sz_a"),
        size(col("sh_b")).cast("long").as("sz_b"))
      .select(col("doc_a"), col("doc_b"), col("n_common"),
        (col("sz_a") + col("sz_b") - col("n_common")).as("n_union"),
        round(col("n_common").cast("double") /
          nullIfZero(col("sz_a") + col("sz_b") - col("n_common")), 9).as("jaccard")),
      minJaccard)
  }

  private def withJaccardFloor(d: DataFrame, minJaccard: Double): DataFrame =
    if (minJaccard.isNegInfinity) d else d.filter(col("jaccard") >= minJaccard)

  /** q190 — DUPLICATION GEOGRAPHY per source: of each source's
    * documents living in exact-duplicate clusters (q21's normalized-fp
    * groups of size ≥ 2), how many sit in clusters CONTAINED in this
    * source versus clusters SPANNING other sources. Internal
    * duplication is the source's own re-posting (fix: dedup the feed);
    * cross-source duplication is syndication/mirroring (fix: pick a
    * canonical feed — q80/q185 find WHO mirrors whom, this sizes the
    * per-source mass). Integer counts to two closing exact-int
    * divisions.
    *
    * Scale shape: one fp-keyed aggregate builds the (fp, copies,
    * n_sources) cluster profile, one broadcast-friendly join carries
    * it back onto the (source, fp) copy counts — both relations are
    * fingerprint-bounded; output is sources-sized.
    */
  /** q190/q191 replica planting: the sf fixtures' planted duplicates
    * are NEAR-dups, so the exact-fingerprint geography/histogram gates
    * passed vacuously on zero rows (the one weak gate in r11's
    * correctness sweep). Ride the q67 replica discipline: 1 in
    * [[RepMod]] docs gains an exact text copy under a
    * [[RepShift]]-shifted id — kept in the SAME source (internal
    * duplication) or moved to a `mirror-` source (cross-source
    * syndication) by a second hash pick — so both gates prove the
    * histogram/geography math on real exact-dup clusters. Constants
    * mirror q67's, declared locally: Dedup↔Curation object init must
    * stay acyclic.
    */
  val RepMod = 5
  val RepShift = 100000L

  def replicaPlanted(docs: DataFrame): DataFrame = {
    val base = docs.select(col("doc_id"), col("source"), col("text"))
    val reps = base
      .filter(TextFns.hash32(
        concat(lit("rep|"), col("doc_id").cast("string"))) % RepMod === 0)
      .select((col("doc_id") + RepShift).as("doc_id"),
        when(TextFns.hash32(concat(lit("repsrc|"),
            (col("doc_id") + RepShift).cast("string"))) % 2 === 0,
          col("source"))
          .otherwise(concat(lit("mirror-"), col("source"))).as("source"),
        col("text"))
    base.unionByName(reps)
  }

  /** q258 — dedup-method scorecard against PLANTED ground truth: the
    * evaluation every dedup-stack decision should rest on and rarely
    * does — with [[replicaPlanted]]'s exact-copy pairs as labeled
    * truth (the original fixture is dup-free, so truth is closed-form),
    * score each candidate generator on how completely it RECOVERS the
    * true duplicates (recall — a pipeline that misses real dups ships
    * them into training) and at what candidate overhead (precision —
    * every extra candidate pays a verification kernel): `exact` (md5
    * fingerprint clusters), `minhash_lsh` (q22's band-collision
    * candidates), `simhash_ham` (q238's Hamming-radius pairs).
    * Near-dup generators legitimately surface non-identical template
    * pairs, so their precision against EXACT-dup truth reads as
    * candidate overhead, not error — the scorecard's point.
    *
    * Determinism: all counts integer; precision/recall are raw
    * NULLIF-guarded double quotients. Scale: every pair relation is
    * its method's own bounded shape (fp clusters, band buckets,
    * signature slices); truth is corpus/[[RepMod]]-sized; scoring
    * joins key on the pair id; the final rows are 3 × 1-row
    * broadcast-merged aggregates.
    */
  def dedupPrf(spark: SparkSession, dir: String): DataFrame =
    dedupPrfFrom(Tables.documents(spark, dir))

  def dedupPrfFrom(docs: DataFrame): DataFrame = {
    val planted = replicaPlanted(docs)
    val truth = docs
      .filter(TextFns.hash32(
        concat(lit("rep|"), col("doc_id").cast("string"))) % RepMod === 0)
      .select(col("doc_id").as("doc_a"),
        (col("doc_id") + RepShift).as("doc_b"))
      .localCheckpoint()
    val fp = Tables.widened(planted, col("doc_id"))
      .select(col("doc_id"), md5(normText).as("fp"))
    val exact = fp.alias("a").join(fp.alias("b"),
        col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
    val minhash = candidatePairsFrom(bandsFrom(planted))
      .select("doc_a", "doc_b")
    val simham = hammingKeptFrom(planted).select("doc_a", "doc_b")
    def score(name: String, pred: DataFrame): DataFrame = {
      val p = pred.distinct()
      val tp = p.join(truth, Seq("doc_a", "doc_b"), "left_semi")
      p.agg(count(lit(1)).as("n_pred"))
        .crossJoin(broadcast(tp.agg(count(lit(1)).as("tp"))))
        .crossJoin(broadcast(truth.agg(count(lit(1)).as("n_truth"))))
        .select(lit(name).as("method"), col("n_pred"), col("n_truth"),
          col("tp"),
          (col("tp").cast("double") / nullIfZero(col("n_pred")))
            .as("pair_precision"),
          (col("tp").cast("double") / nullIfZero(col("n_truth")))
            .as("pair_recall"))
    }
    score("exact", exact)
      .unionByName(score("minhash_lsh", minhash))
      .unionByName(score("simhash_ham", simham))
      .orderBy("method")
  }

  def dupGeography(spark: SparkSession, dir: String): DataFrame =
    dupGeographyFrom(replicaPlanted(Tables.documents(spark, dir)))

  def dupGeographyFrom(docs: DataFrame): DataFrame = {
    val d = Tables.widened(docs, col("doc_id"))
      .select(col("source"), md5(normText).as("fp"))
    val bySrcFp = d.groupBy("source", "fp").agg(count(lit(1)).as("c"))
    val byFp = bySrcFp.groupBy("fp").agg(
      sum("c").as("copies"), count(lit(1)).as("n_sources"))
    bySrcFp.join(byFp, Seq("fp"))
      .groupBy("source").agg(
        sum("c").as("n_docs"),
        sum(when(col("copies") >= 2 && col("n_sources") === 1, col("c"))
          .otherwise(0L)).as("dup_internal"),
        sum(when(col("n_sources") >= 2, col("c")).otherwise(0L))
          .as("dup_cross"))
      .select(col("source"), col("n_docs"), col("dup_internal"),
        col("dup_cross"),
        (col("dup_internal").cast("double") / nullIfZero(col("n_docs")))
          .as("internal_rate"),
        (col("dup_cross").cast("double") / nullIfZero(col("n_docs")))
          .as("cross_rate"))
      .orderBy("source")
  }

  /** q191 — duplicate-cluster SIZE histogram: for each exact-dup
    * cluster size ≥ 2, how many clusters and documents live there and
    * the doc share — "how deep is the duplication" (a head of huge
    * clusters means template/boilerplate mass that q175 should catch;
    * a long tail of pairs means organic re-posts), the sizing detail
    * behind q21's four summary counts and the savings behind q130's
    * ledger rollup. One fp aggregate, one size-keyed rollup; output is
    * distinct-sizes-sized.
    */
  def dupSizeHistogram(spark: SparkSession, dir: String): DataFrame =
    dupSizeHistogramFrom(replicaPlanted(Tables.documents(spark, dir)))

  def dupSizeHistogramFrom(docs: DataFrame): DataFrame = {
    val d = Tables.widened(docs, col("doc_id"))
      .select(md5(normText).as("fp"))
    val total = d.agg(count(lit(1)).as("n_all"))
    d.groupBy("fp").agg(count(lit(1)).as("sz"))
      .filter(col("sz") >= 2)
      .groupBy("sz").agg(
        count(lit(1)).as("n_clusters"),
        sum("sz").as("n_docs"))
      .crossJoin(broadcast(total))
      .select(col("sz").as("cluster_size"), col("n_clusters"),
        col("n_docs"),
        (col("n_docs").cast("double") / nullIfZero(col("n_all")))
          .as("doc_share"))
      .orderBy("cluster_size")
  }

  /** q184 Jaccard thresholds swept, as exact rationals (num, den). */
  val SweepThresholds = Seq((1, 2), (7, 10), (9, 10))

  /** q184 — DEDUP-THRESHOLD SENSITIVITY sweep: how many verified
    * near-dup pairs and distinct affected documents each candidate
    * Jaccard threshold (0.5 / 0.7 / 0.9) would keep — the dial-setting
    * report read before committing to a threshold (a cliff between two
    * arms means the corpus has a near-dup band exactly there, and the
    * chosen cut decides whether it collapses). One shared candidate +
    * intersection computation (q24's sorted-hash merge kernels), each
    * arm an integer CROSS-MULTIPLIED keep test — no float compare
    * decides membership, so arms agree bit-exactly cross-engine.
    *
    * Scale shape: candidates from the banded LSH join (never
    * all-pairs), intersections once per candidate pair, the 3-arm
    * replication happens AFTER the pair relation is computed (×|arms|
    * on pairs only); per-arm rollups are arm-cardinality-sized.
    */
  def dedupSensitivity(spark: SparkSession, dir: String): DataFrame =
    dedupSensitivityFrom(Tables.documents(spark, dir))

  def dedupSensitivityFrom(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    val armCol = explode(array(SweepThresholds.map { case (n, dn) =>
      struct(lit(n).as("num"), lit(dn).as("den")) }: _*))
    // the RAW detail (no 0.1 prefilter): a jaccard filter here would
    // re-inline the intersection kernel into the join predicate (the
    // q58 triple-hashing class of regression); the arms' integer tests
    // subsume it anyway
    val d = ngramJaccardDetailRaw(candidatePairsFrom(bandsFrom(docs)), docs)
    // ONE aggregation serves both metrics (pairs contribute 2 exploded
    // rows each), so the candidate+intersection pipeline is not
    // duplicated per rollup
    // coalesce keeps the predicate null-TOLERANT: a bare >= would let
    // constraint propagation infer isnotnull(n_common) and push the
    // intersection kernel into the pair-join predicate (re-evaluating
    // it per joined row)
    val agg = d.select(armCol.as("t"), col("doc_a"), col("doc_b"),
        col("n_common"), col("n_union"))
      .filter(coalesce(
        col("n_common") * col("t.den") >= col("t.num") * col("n_union"),
        lit(false)))
      .select(col("t.num").as("num"), col("t.den").as("den"),
        explode(array(col("doc_a"), col("doc_b"))).as("doc"))
      .groupBy("num", "den")
      .agg(call_function("div", count(lit(1)), lit(2L)).as("n_pairs"),
        countDistinct(col("doc")).as("n_dup_docs"))
    val arms = spark.range(1).select(armCol.as("t"))
      .select(col("t.num").as("num"), col("t.den").as("den"))
    val total = docs.agg(count(lit(1)).as("n_docs"))
    arms.join(agg, Seq("num", "den"), "left")
      .na.fill(0L, Seq("n_pairs", "n_dup_docs"))
      .crossJoin(broadcast(total))
      .select((col("num").cast("double") / col("den")).as("threshold"),
        col("n_pairs"), col("n_dup_docs"),
        (col("n_dup_docs").cast("double") /
          nullIfZero(col("n_docs"))).as("dup_doc_rate"))
      .orderBy("threshold")
  }

  /** q135 new-batch rate: 1 in [[IncMod]] docs (hash-picked) plays the
    * newly-ingested slice against the already-clustered remainder.
    */
  val IncMod = 4

  /** q135 — INCREMENTAL cluster maintenance: fold a new document batch
    * into an EXISTING q54 clustering without recomputing the old
    * corpus's graph — the operation a daily ingest actually needs
    * (full CC over 100 TB per day is not a plan). Candidates are
    * generated only where the new slice touches (new×old band join +
    * new×new pairs — the q78 ingest discipline), verified exactly as
    * q54 does, and the old clusters enter the fixpoint CONTRACTED to
    * their representative (sound: members are already connected, and
    * the rep is the member minimum, so component minima are preserved
    * under expansion). A new doc bridging two old clusters merges them
    * through their reps.
    *
    * THE GATE IS THE CONTRACT: the oracle is q54's full transitive
    * closure over ALL documents, so the hash gate literally proves
    * incremental ≡ full recompute. Scale shape: everything is sized by
    * the new slice and its collision neighborhood — the old corpus
    * contributes its (bucketable, q67-style) band index and its
    * cluster map, never its O(corpus) edge set; the CC rounds run on
    * the contracted graph only.
    */
  /** The q135 old/new corpus split (hash-picked, the q45 discipline). */
  def incSplit(docs: DataFrame): (DataFrame, DataFrame) = {
    val isNew = TextFns.hash32(
      concat(lit("inc|"), col("doc_id").cast("string"))) % IncMod === 0
    (docs.filter(!isNew), docs.filter(isNew))
  }

  def incrementalClusters(spark: SparkSession, dir: String): DataFrame = {
    val (oldDocs, newDocs) = incSplit(Tables.documents(spark, dir))
    incrementalClustersOf(dedupClustersFrom(oldDocs), oldDocs, newDocs)
  }

  def incrementalClustersOf(oldClusters: DataFrame, oldDocs: DataFrame,
      newDocs: DataFrame): DataFrame =
    incrementalClustersStaged(oldClusters, bandsFrom(oldDocs),
      shinglesFrom(oldDocs), newDocs)

  /** The fold over FULLY stored old-corpus state: yesterday's cluster
    * map, band index, and shingle-hash relation are read back, not
    * re-derived — so the only corpus-width kernel work each batch pays
    * is over the NEW slice (banding + shingling), and the old corpus
    * contributes storage reads sized by the collision neighborhood.
    * Re-deriving either index from the old documents is a full-corpus
    * pass per batch — at 100 TB that is the difference between an
    * incremental job and a daily recompute. [[incrementalClustersOf]]
    * delegates here with freshly-derived state; `DedupSpec` pins the
    * parquet round-trip equal.
    */
  def incrementalClustersStaged(oldClusters: DataFrame, oldBands: DataFrame,
      oldShingles: DataFrame, newDocs: DataFrame): DataFrame = {
    val bNew = bandsFrom(newDocs)
    val newOld = bNew.alias("n").hint("shuffle_hash")
      .join(oldBands.alias("o").hint("shuffle_hash"),
        col("n.band_id") === col("o.band_id") &&
          col("n.band_key") === col("o.band_key"))
      .select(col("o.doc_id").as("doc_a"), col("n.doc_id").as("doc_b"))
      .distinct()
    val sh = oldShingles.unionByName(shinglesFrom(newDocs))
    val verified = ngramJaccardDetailOfShingles(
      newOld.unionByName(candidatePairsFrom(bNew)), sh)
      .select("doc_a", "doc_b")
    // contract: old endpoints collapse to their cluster rep (an old doc
    // with no prior cluster is its own rep via the left-join miss)
    val nm = oldClusters.select(col("doc_id"), col("cluster_id").as("rep"))
    val contracted = verified
      .join(nm.select(col("doc_id").as("doc_a"), col("rep").as("ra")),
        Seq("doc_a"), "left")
      .join(nm.select(col("doc_id").as("doc_b"), col("rep").as("rb")),
        Seq("doc_b"), "left")
      .select(coalesce(col("ra"), col("doc_a")).as("doc_a"),
        coalesce(col("rb"), col("doc_b")).as("doc_b"))
      .filter(col("doc_a") =!= col("doc_b")).distinct()
    val comp = clustersOfVerified(contracted)
      .select(col("doc_id").as("node"), col("cluster_id").as("lbl"))
    // expand: old-cluster members follow their rep's merged label
    // (untouched clusters keep theirs); non-rep component nodes are the
    // previously-unclustered old docs and the new docs
    val oldFinal = oldClusters.select(col("doc_id"), col("cluster_id").as("rep"))
      .join(comp.select(col("node").as("rep"), col("lbl")), Seq("rep"), "left")
      .select(col("doc_id"), coalesce(col("lbl"), col("rep")).as("cluster_id"))
    val repSet = oldClusters.select(col("cluster_id").as("node")).distinct()
    val fresh = comp.join(repSet, Seq("node"), "left_anti")
      .select(col("node").as("doc_id"), col("lbl").as("cluster_id"))
    val membership = oldFinal.unionByName(fresh)
    val sized = membership.groupBy("cluster_id")
      .agg(count(lit(1)).as("cluster_size"))
    membership.join(sized, "cluster_id")
      .select(col("doc_id"), col("cluster_id"), col("cluster_size"),
        (col("doc_id") === col("cluster_id")).as("is_canonical"))
      .orderBy("doc_id")
  }

  /** q130 — dedup TOKEN-SAVINGS report: the q89 keep/cut ledger joined
    * to per-doc token counts and rolled up per cut reason — the number
    * a training-data owner actually asks for ("how many tokens does
    * each dedup stage save, and what share of the corpus is that").
    * Turns the ledger from a row-level audit into the budget
    * deliverable.
    *
    * Scale shape: one map-side token count, one doc_id hash join onto
    * the (already bounded) ledger, a 4-row reason aggregate, and the
    * corpus total reduced to a broadcast scalar.
    */
  def dedupSavings(spark: SparkSession, dir: String): DataFrame =
    dedupSavingsOf(keepLedger(spark, dir), Tables.documents(spark, dir))

  def dedupSavingsOf(ledger: DataFrame, docs: DataFrame): DataFrame = {
    val tok = Tables.widened(docs, col("doc_id"))
      .select(col("doc_id"), size(TextFns.toks(col("text"))).cast("long").as("t"))
    val tot = tok.agg(sum("t").as("total"))
    ledger.select("doc_id", "reason")
      .join(tok, Seq("doc_id"))
      .crossJoin(broadcast(tot))
      .groupBy("reason")
      .agg(count(lit(1)).as("n_docs"), sum("t").as("n_tokens"),
        round(sum("t").cast("double") / max("total"), 9).as("token_share"))
      .orderBy("reason")
  }

  /** q124 dirty-record rate (1 in [[LinkMod]] suppliers, hash-picked). */
  val LinkMod = 2

  /** q124 — RECORD LINKAGE (entity resolution across representations):
    * a deterministic "dirty" registry (vowel-stripped supplier names, a
    * stand-in for the OCR/typo/abbreviation variants a real ingest
    * produces) matched back to the clean dimension by BLOCKING + edit
    * scoring + best-match assignment — the ER primitive that links the
    * same real-world entity across feeds, upstream of any dedup or
    * conformance step. The gate reports per record whether the
    * assignment recovered the true key, so linkage ACCURACY is itself
    * hash-verified.
    *
    * Scale shape: the blocking key (trailing name digit here; phonetic/
    * sorted-neighborhood keys in production) turns the dirty × clean
    * cross product into a hash join whose comparisons are per-BLOCK
    * occupancy, never |dirty|·|clean|; scoring is the codegen'd
    * Levenshtein per candidate; assignment is a per-record window over
    * block-bounded candidates.
    */
  def recordLinkage(spark: SparkSession, dir: String): DataFrame =
    recordLinkageFrom(Tables.supplier(spark, dir))

  def recordLinkageFrom(supplier: DataFrame): DataFrame = {
    val dirty = supplier
      .filter(TextFns.hash32(
        concat(lit("rl|"), col("s_suppkey").cast("string"))) % LinkMod === 0)
      .select(col("s_suppkey").as("true_key"),
        regexp_replace(col("s_name"), "[aeiou]", "").as("dirty_name"))
      .withColumn("blk", substring(col("dirty_name"), -1, 1))
    val clean = supplier
      .select(col("s_suppkey"), col("s_name"))
      .withColumn("blk", substring(col("s_name"), -1, 1))
    val scored = dirty.join(clean, Seq("blk"))
      .select(col("true_key"), col("dirty_name"), col("s_suppkey"),
        levenshtein(col("dirty_name"), col("s_name")).cast("long").as("edit_dist"))
    val rn = row_number().over(
      Window.partitionBy("true_key").orderBy(asc("edit_dist"), asc("s_suppkey")))
    scored.withColumn("rn", rn).filter(col("rn") === 1)
      .select(col("true_key"), col("dirty_name"),
        col("s_suppkey").as("matched_key"), col("edit_dist"),
        (col("s_suppkey") === col("true_key")).as("is_correct"))
      .orderBy("true_key")
  }

  /** q121 — MinHash ESTIMATOR audit: per LSH candidate pair, the
    * Jaccard estimate from signature agreement (matching sigs ÷
    * [[NumHashes]]) against the exact shingle Jaccard, with the
    * absolute error — the measurement that licenses trusting q22's
    * 8-signature geometry (the q113/q119 audit discipline applied to
    * the dedup sketch: every estimator the pipeline relies on ships
    * with its own error gauge).
    *
    * Scale shape: signatures are map-side array math over the shared
    * `sorted_shingle_hashes` relation (xor-salted mins — identical
    * family to the band keys); candidates stay LSH-bounded; two doc_id
    * hash joins, no extra shuffle.
    */
  def minhashEstimate(spark: SparkSession, dir: String): DataFrame =
    minhashEstimateFrom(Tables.documents(spark, dir))

  def minhashEstimateFrom(docs: DataFrame): DataFrame =
    minhashEstimateOf(candidatePairsFrom(bandsFrom(docs)), docs)

  /** Estimator audit over an explicit (possibly materialized)
    * candidate-pair relation (the q24 staging discipline).
    */
  def minhashEstimateOf(pairs: DataFrame, docs: DataFrame): DataFrame = {
    GraftFunctions.register(docs.sparkSession)
    val sh = Tables.widened(docs, col("doc_id"))
      .select(col("doc_id"),
        call_function("sorted_shingle_hashes", col("text")).as("sh"))
      .where(size(col("sh")) > 0)
    val sigCols = XorSalts.zipWithIndex.map { case (salt, j) =>
      array_min(transform(col("sh"), x => x.bitwiseXOR(lit(salt)))).as(s"mh$j")
    }
    val sig = sh.select(Seq(col("doc_id"), col("sh")) ++ sigCols: _*)
    def side(tag: String, idCol: String) = sig.select(
      col("doc_id").as(idCol) +: col("sh").as(s"sh_$tag") +:
        (0 until NumHashes).map(j => col(s"mh$j").as(s"$tag$j")): _*)
    val nMatch = (0 until NumHashes)
      .map(j => when(col(s"a$j") === col(s"b$j"), 1L).otherwise(0L))
      .reduce(_ + _)
    pairs
      .join(side("a", "doc_a"), Seq("doc_a"))
      .join(side("b", "doc_b"), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"), nMatch.as("n_match"),
        call_function("sorted_intersect_count", col("sh_a"), col("sh_b"))
          .as("n_common"),
        size(col("sh_a")).cast("long").as("sz_a"),
        size(col("sh_b")).cast("long").as("sz_b"))
      .select(col("doc_a"), col("doc_b"), col("n_match"),
        round(col("n_match").cast("double") / NumHashes, 9).as("est_jaccard"),
        round(col("n_common").cast("double") /
          nullIfZero(col("sz_a") + col("sz_b") - col("n_common")), 9)
          .as("exact_jaccard"))
      .withColumn("abs_err",
        round(abs(col("est_jaccard") - col("exact_jaccard")), 9))
      .orderBy("doc_a", "doc_b")
  }

  /** q108 screen geometry: edit distance runs on the first
    * [[EditPrefixChars]] normalized chars (cost capped at prefix², not
    * doc²), and a pair is a near-dup when prefix similarity
    * `1 − dist/max(len)` reaches [[EditSimMin]].
    */
  val EditPrefixChars = 200
  val EditSimMin = 0.8

  /** q108 — EDIT-DISTANCE verification of the LSH candidates: the
    * character-level complement to q24's token-level Jaccard. Shingle
    * Jaccard is blind to within-token edits (typo farms, OCR noise,
    * templated digits — every token differs slightly, Jaccard ≈ 0
    * despite near-identical text); Levenshtein over the normalized
    * prefix catches exactly that class. Candidates stay LSH-bucketed,
    * so the O(prefix²) dynamic program runs per CANDIDATE, never per
    * corpus pair.
    *
    * Scale shape: two hash joins on doc_id attach the map-side-computed
    * prefixes to the candidate list (small by construction — the q24
    * argument), then the distance is per-row codegen'd work
    * (`levenshtein` is a native Catalyst expression); no shuffle beyond
    * the joins. The prefix dial bounds worst-case cost independently of
    * document length.
    */
  def editVerify(spark: SparkSession, dir: String): DataFrame =
    editVerifyOf(candidatePairs(spark, dir), Tables.documents(spark, dir))

  def editVerifyOf(pairs: DataFrame, docs: DataFrame): DataFrame = {
    val pref = Tables.widened(docs, col("doc_id"))
      .select(col("doc_id"), substring(normText, 1, EditPrefixChars).as("pref"))
    val mx = greatest(length(col("pa")), length(col("pb")), lit(1))
    pairs
      .join(pref.select(col("doc_id").as("doc_a"), col("pref").as("pa")), Seq("doc_a"))
      .join(pref.select(col("doc_id").as("doc_b"), col("pref").as("pb")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        levenshtein(col("pa"), col("pb")).cast("long").as("edit_dist"),
        round(lit(1.0) - levenshtein(col("pa"), col("pb")) / mx.cast("double"), 9)
          .as("edit_sim"))
      .withColumn("is_dup", col("edit_sim") >= EditSimMin)
      .orderBy("doc_a", "doc_b")
  }

  /** q215 — DEDUP-METHOD AGREEMENT audit: the q24 token-level verified
    * near-dups and the q38 embedding-cosine near-dups joined on the
    * pair key (the fixture's `vec_id ≡ doc_id` alignment, the q170
    * convention) and classified `both` / `text_only` /
    * `embedding_only`, with each class's pair count and mean
    * jaccard/cosine. This is the calibration table a curation team
    * reads before picking a dedup stack: `text_only` mass = lexical
    * copies the embedding space smooths over (templates with swapped
    * entities), `embedding_only` mass = paraphrase-level near-dups
    * shingle Jaccard cannot see, `both` = the high-confidence core.
    *
    * Determinism: both input relations are the gated q24/q38 outputs
    * (round-9 similarity values); the rollup is integer counts + one
    * round-6 avg per class (absent classes are absent rows in both
    * engines).
    *
    * Scale shape: both pair relations are dup-mass-bounded by their
    * own LSH bucketing (never corpus²); the agreement join keys on the
    * pair id — a full-outer hash join of two bounded relations — and
    * the rollup is a ≤3-row aggregate.
    */
  def dedupAgreement(spark: SparkSession, dir: String): DataFrame =
    dedupAgreementFrom(Tables.documents(spark, dir),
      Tables.embeddings(spark, dir))

  def dedupAgreementFrom(docs: DataFrame, embeddings: DataFrame): DataFrame = {
    val t = ngramJaccardFrom(docs)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
    val e = Similarity.embeddingNearDupFrom(embeddings)
      .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b"), col("cosine"))
    t.join(e, Seq("doc_a", "doc_b"), "full_outer")
      .select(
        when(col("jaccard").isNotNull && col("cosine").isNotNull, "both")
          .when(col("jaccard").isNotNull, "text_only")
          .otherwise("embedding_only").as("method"),
        col("jaccard"), col("cosine"))
      .groupBy("method")
      // means through DECIMAL(38,12) partials (the q54 discipline):
      // a double avg's partial-sum order varies with partitioning, so
      // a last-ulp drift at the round-6 boundary could flip the hash
      .agg(count(lit(1)).as("n_pairs"),
        round(sum(col("jaccard").cast(DecimalType(38, 12))).cast("double") /
          nullIfZero(count(col("jaccard"))), 6).as("mean_jaccard"),
        round(sum(col("cosine").cast(DecimalType(38, 12))).cast("double") /
          nullIfZero(count(col("cosine"))), 6).as("mean_cosine"))
      .orderBy("method")
  }

  /** q230 exact token-set Jaccard threshold, as a rational (num/den)
    * so every test in the pipeline stays integer-cross-multiplied.
    */
  val PpNum = 7
  val PpDen = 10

  /** q230 — EXACT set-similarity join via PREFIX FILTERING (the
    * AllPairs/PPJoin family — Bayardo, Ma & Srikant, "Scaling Up All
    * Pairs Similarity Search", WWW 2007): every pair whose DISTINCT
    * word-[[PpGram]]-gram SHINGLE sets have Jaccard ≥
    * [[PpNum]]/[[PpDen]], with NO false
    * negatives — the exact complement to q22's MinHash-LSH (which
    * trades recall for candidate sparsity; this keeps recall = 1 and
    * gets sparsity from mathematics instead). Each doc's tokens are
    * ranked by ascending GLOBAL document frequency (rarest first,
    * ties by token) and only the first `s − ⌈t·s⌉ + 1` tokens form its
    * prefix: two sets with Jaccard ≥ t MUST share a prefix token
    * (pigeonhole on the overlap bound), so joining on prefix tokens
    * alone is candidate-complete. Candidates verify with an exact
    * intersection count and the cross-multiplied keep test.
    *
    * Scale shape: the df rank is one token-keyed aggregate + a
    * per-doc (doc-length-bounded) window; the candidate self-join
    * keys on the globally-RAREST tokens by construction, so per-token
    * fan-out is small where MinHash's band buckets can be hot; the
    * verification join is candidate-bounded. The prefix-length test
    * stays integer (`num·s ≤ den·(s − rn + 1)` ⇔ rn within prefix).
    * PPJoin's positional refinement would shrink candidates further;
    * the prefix filter alone is already all-pairs-complete. The gated
    * OUTPUT is the bounded Jaccard-decile histogram (+ affected-doc
    * counts): pair lists are quadratic in template-family size, and
    * the histogram proves the identical pipeline at any corpus size.
    */
  /** The q230 set elements are word TRIGRAM shingles, not unigrams —
    * a scale decision, not a cosmetic one: prefix filtering gets its
    * sparsity from rare set elements, and the fixture corpus has a
    * 31-word vocabulary, so every unigram is corpus-frequent (df ≈
    * N/31) and the "rarest-token" prefix join degenerates to ~N²/31
    * candidates (132M at sf0.1 — measured; the r12 growth curve
    * OOM'd its 8 GB heap on it). Trigram shingles lift the element space to |vocab|³
    * (27k distinct at sf0.1, candidate Σdf² = 500k) and are the
    * textbook AllPairs dedup representation anyway. Real Zipf corpora
    * get the same effect from their vocabulary tail; the fixture needs
    * the shingle lift to expose it.
    */
  val PpGram = 3

  def ppjoinPairs(spark: SparkSession, dir: String): DataFrame =
    ppjoinPairsFrom(replicaPlanted(Tables.documents(spark, dir)))

  def ppjoinPairsFrom(docs: DataFrame): DataFrame = {
    GraftFunctions.register(docs.sparkSession)
    // r12-opt, two steps past the original explode-everything form:
    //  1. The per-doc relation is ONE sorted array of 60-bit shingle
    //     hashes (the q24 representation) computed and checkpointed in
    //     a single corpus pass — it serves the prefix build and BOTH
    //     verification sides. Hashing the trigram strings narrows the
    //     df/prefix/candidate shuffles from ~20-byte strings to longs
    //     (guide §2.3 "narrower types").
    //  2. Verification is the native `sorted_intersect_count` merge
    //     kernel per candidate pair, replacing the exploded
    //     (pair ⋈ shingle-stream) join whose intermediate is
    //     Σ_pairs |A| rows — the q24 array-verify discipline.
    // Values are unchanged: the gated histogram depends only on the
    // exact-Jaccard-kept pairs, recall-1 of the prefix filter holds
    // under ANY consistent global token order (df, then hash here,
    // token string in the oracle), and hash60 counts equal string
    // counts absent 60-bit collisions — the q24/jaccardSql contract
    // the oracle already rides; re-proven against the unchanged
    // oracle at both scales.
    val arr = Tables.widened(docs, col("doc_id"))
      .select(col("doc_id"), TextFns.toks(col("text")).as("w"))
      .filter(size(col("w")) >= PpGram)
      .select(col("doc_id"),
        array_sort(array_distinct(transform(
          sequence(lit(0), size(col("w")) - PpGram),
          i => TextFns.hash60(array_join(slice(col("w"), i + 1, lit(PpGram)), " ")))))
          .as("sh"))
      .withColumn("s", size(col("sh")).cast("long"))
      .localCheckpoint()
    val tk = arr.select(col("doc_id"), col("s"), explode(col("sh")).as("token"))
    val dfx = tk.groupBy("token").agg(count(lit(1)).as("df"))
    val w = Window.partitionBy("doc_id").orderBy("df", "token")
    // checkpointed: the candidate self-join reads the prefix relation
    // twice, and its window chain would otherwise replay per side
    val pfx = tk.join(dfx, "token")
      .withColumn("rn", row_number().over(w))
      .filter(lit(PpNum) * col("s") <=
        lit(PpDen) * (col("s") - col("rn") + 1))
      .select(col("token"), col("doc_id"), col("rn"), col("s"))
      .localCheckpoint()
    // PPJoin's LENGTH and POSITIONAL filters (Xiao et al., WWW 2008)
    // prune collisions BEFORE the distinct: J ≥ t needs
    // t·max(s) ≤ min(s), and a collision at prefix ranks (ra, rb) can
    // witness at most 1 + min(sa−ra, sb−rb) overlapping elements,
    // which must reach α = ⌈t/(1+t)·(sa+sb)⌉ — both tests integer
    // cross-multiplied. No false negatives (the brute-equality spec
    // gates recall 1); on the template-dense fixture the positional
    // test drops most same-template collisions whose sizes can't
    // reach the threshold.
    val cand = pfx.alias("a")
      .join(pfx.alias("b"), col("a.token") === col("b.token") &&
        col("a.doc_id") < col("b.doc_id") &&
        lit(PpNum) * col("a.s") <= lit(PpDen) * col("b.s") &&
        lit(PpNum) * col("b.s") <= lit(PpDen) * col("a.s") &&
        (lit(1) + least(col("a.s") - col("a.rn"), col("b.s") - col("b.rn"))) *
          (PpNum + PpDen) >= lit(PpNum) * (col("a.s") + col("b.s")))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    val kept = cand
      .join(arr.select(col("doc_id").as("doc_a"), col("sh").as("sh_a"),
        col("s").as("sz_a")), Seq("doc_a"))
      .join(arr.select(col("doc_id").as("doc_b"), col("sh").as("sh_b"),
        col("s").as("sz_b")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        call_function("sorted_intersect_count", col("sh_a"), col("sh_b"))
          .as("n_common"),
        col("sz_a"), col("sz_b"))
      .filter(col("n_common") * PpDen >=
        lit(PpNum) * (col("sz_a") + col("sz_b") - col("n_common")))
      .withColumn("bin",
        expr("(10 * n_common) div (sz_a + sz_b - n_common)"))
    // the PAIR LIST is quadratic in replica/template-family size —
    // the gated
    // deliverable is the bounded decile histogram + affected-doc
    // counts, which proves the identical pipeline at any corpus size
    val p = kept.groupBy("bin").agg(count(lit(1)).as("n_pairs"))
    val dd = kept
      .select(col("bin"), explode(array(col("doc_a"), col("doc_b"))).as("doc"))
      .groupBy("bin").agg(countDistinct(col("doc")).as("n_docs"))
    p.join(dd, Seq("bin"))
      .select(col("bin"),
        (col("bin").cast("double") / 10.0).as("jaccard_lo"),
        col("n_pairs"), col("n_docs"))
      .orderBy("bin")
  }

  /** q238 Hamming radius and the pigeonhole slice count (r+1 slices of
    * 32/[[HamSlices]] bits over the 32-bit SimHash).
    */
  val HamRadius = 3
  val HamSlices = 4

  /** q238 — EXACT Hamming-radius near-dup join over SimHash signatures
    * via the multi-index pigeonhole (Manku, Jain & Das Sarma,
    * "Detecting Near-Duplicates for Web Crawling", WWW 2007 — the
    * production simhash dedup shape): every doc pair whose 32-bit
    * signatures differ in ≤ [[HamRadius]] bits, with NO false
    * negatives — two signatures within distance r MUST agree exactly
    * on at least one of r+1 disjoint bit slices, so a self-join keyed
    * on (slice index, slice value) is candidate-complete and the
    * `bit_count(xor)` verify is exact. The bit-space complement to
    * q230's token-space prefix filter and q22's probabilistic LSH.
    *
    * Scale shape: candidates are Σ slice-bucket², corpus²/2^sliceBits
    * per slice — the geometry dial at 100 TB is a 64-bit signature cut
    * into r+1 slices of 16 bits (2^16 buckets), exactly this plan with
    * wider constants. Everything is equi-joins + hash aggregates; the
    * gated output is the bounded distance histogram (q230 discipline —
    * pair lists are quadratic in replica mass). Gated over the
    * [[replicaPlanted]] corpus so distance-0 clusters provably exist
    * (the q190/q191 non-vacuous-gate lesson).
    */
  def hammingPairs(spark: SparkSession, dir: String): DataFrame =
    hammingPairsFrom(replicaPlanted(Tables.documents(spark, dir)))

  /** The radius-kept pair relation (doc_a, doc_b, dist) behind q238's
    * histogram — also the simhash arm of q258's scorecard. `bits` is
    * the signature width: 32 (the catalog's — 8-bit slices, 256
    * buckets) or 60 (15-bit slices, 32k buckets). Slice-bucket
    * occupancy is corpus/2^sliceBits per slice, so the 32-bit geometry
    * saturates around 10⁵ docs and the wide signature carries the same
    * plan two orders of magnitude further — ScaleCurve's arms run 60.
    */
  private[operators] def hammingKeptFrom(docs: DataFrame,
      bits: Int = 32): DataFrame = {
    require(bits == 32 || bits == 60, s"hamming signature bits must be 32 or 60, got $bits")
    GraftFunctions.register(docs.sparkSession)
    val (fn, sliceBits) = if (bits == 60) ("simhash60", 15) else ("simhash32", 8)
    val mask = (1 << sliceBits) - 1
    val sh = Tables.widened(docs, col("doc_id"))
      .select(col("doc_id"),
        call_function(fn, col("text")).as("sh"))
    val sl = sh.select(col("doc_id"), col("sh"),
        explode(sequence(lit(0), lit(HamSlices - 1))).as("s"))
      .withColumn("v", expr(s"(sh >> ($sliceBits * s)) & $mask"))
    val cand = sl.alias("a").join(sl.alias("b"),
        col("a.s") === col("b.s") && col("a.v") === col("b.v") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.sh").as("sha"), col("b.sh").as("shb"))
      .distinct()
    cand
      .withColumn("dist", expr("CAST(bit_count(sha ^ shb) AS INT)"))
      .filter(col("dist") <= HamRadius)
      .select("doc_a", "doc_b", "dist")
  }

  def hammingPairsFrom(docs: DataFrame, bits: Int = 32): DataFrame = {
    val kept = hammingKeptFrom(docs, bits)
    val p = kept.groupBy("dist").agg(count(lit(1)).as("n_pairs"))
    val dd = kept
      .select(col("dist"),
        explode(array(col("doc_a"), col("doc_b"))).as("doc"))
      .groupBy("dist").agg(countDistinct(col("doc")).as("n_docs"))
    p.join(dd, Seq("dist")).orderBy("dist")
  }

  /** q241 — CONTENT-DEFINED CHUNKING dedup audit (the rsync/LBFS/
    * FastCDC primitive): boundaries fall where a sliding window's
    * content hash clears a divisor, so edits shift only the chunks
    * they touch and every chunk after the next content boundary
    * re-aligns — the alignment property q58's fixed token grid lacks
    * (one insertion there re-keys the whole tail). Per source: chunk
    * census, distinct-chunk census, dup-chunk rate, mean chunk
    * length — the storage-dedup / dataset-versioning savings estimate.
    *
    * Scale shape: chunking is ONE native kernel pass per doc
    * ([[graft.functions.Cdc]]); the only shuffle carries (source,
    * chunk-hash) with map-side combine into a two-phase distinct
    * count; rollup is sources-bounded. Gated over the
    * [[replicaPlanted]] corpus so exact-copy chunk duplication
    * provably exists; the oracle replays the boundary rule with a
    * position spine + lag window — every boundary decision and chunk
    * hash must agree.
    */
  def cdcChunks(spark: SparkSession, dir: String): DataFrame =
    cdcChunksFrom(replicaPlanted(Tables.documents(spark, dir)))

  def cdcChunksFrom(docs: DataFrame): DataFrame = {
    GraftFunctions.register(docs.sparkSession)
    val base = Tables.widened(docs, col("doc_id"))
      .select(col("source"), col("text"))
    val ex = base.select(col("source"),
        explode(call_function("cdc_chunks", col("text"))).as("h"))
    val src = ex.groupBy("source").agg(
      count(lit(1)).as("n_chunks"), countDistinct("h").as("n_distinct"))
    val dl = base.groupBy("source").agg(
      count(lit(1)).as("n_docs"),
      sum(length(col("text"))).as("total_len"))
    dl.join(src, Seq("source"))
      .select(col("source"), col("n_docs"), col("n_chunks"),
        col("n_distinct"),
        round((col("n_chunks") - col("n_distinct")).cast("double") /
          col("n_chunks"), 6).as("dup_rate"),
        round(col("total_len").cast("double") / col("n_chunks"), 6)
          .as("mean_chunk_len"))
      .orderBy("source")
  }

  /** q54 — duplicate-cluster resolution: connected components over the
    * Jaccard-verified near-dup pairs (q24). Every clustered doc gets its
    * component-minimum doc_id as `cluster_id`, the component size, and
    * an `is_canonical` flag (the doc a pipeline would KEEP) — pair lists
    * alone can't drive dedup, because near-duplication is transitive
    * through chains (A~B, B~C ⇒ drop two of {A,B,C}, keep exactly one).
    *
    * Algorithm: alternating large-star / small-star (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", SoCC 2014) — the
    * standard shared-nothing CC. Each half-round is one hash-shuffle on
    * the node id (groupBy min + an equi-join on the same key, so the
    * exchange is reused) and the edge set converges to min-rooted stars
    * in O(log n) rounds — no driver-side graph, no linear-in-diameter
    * label propagation (a 1M-doc chain would need 1M propagation rounds
    * but ~20 star rounds). `localCheckpoint` after each round truncates
    * the lineage so plan size stays constant across iterations.
    *
    * The oracle computes ground-truth transitive closure with a
    * recursive CTE, so the fixpoint itself is hash-gated.
    */
  def dedupClusters(spark: SparkSession, dir: String): DataFrame =
    dedupClustersFrom(Tables.documents(spark, dir))

  def dedupClustersFrom(docs: DataFrame): DataFrame =
    clustersOfVerified(ngramJaccardFrom(docs))

  /** Edge-count bound under which [[clustersOfVerified]] solves the
    * component graph DRIVER-SIDE (collect + min-rooted union-find)
    * instead of iterating distributed star rounds. The same adaptivity
    * as a broadcast join: the dedup graph's edge relation is dup-mass-
    * scale, not corpus-scale (and after q135's rep contraction,
    * batch-neighborhood-scale), so it routinely fits the driver — where
    * union-find costs microseconds while each star round pays fixed
    * job-scheduling + checkpoint constants regardless of data size
    * (measured 2.3 s of a 3.2 s incremental fold at sf0.1 on a graph of
    * a few hundred edges). 1M edges ≈ 16 MB collected — the broadcast-
    * threshold order of magnitude. Above the bound the O(log n)
    * large/small-star iterations run unchanged; `DedupSpec` pins both
    * paths to identical output.
    */
  val CcLocalEdgeMax = 1L << 20

  /** CC over an explicit verified-pair relation (columns doc_a, doc_b);
    * graphs of at most `localEdgeMax` edges take the driver solve.
    */
  def clustersOfVerified(verified: DataFrame,
      localEdgeMax: Long = CcLocalEdgeMax): DataFrame = {
    val spark = verified.sparkSession
    import spark.implicits._
    // canonical directed form: u = larger endpoint, v = smaller
    var e = verified
      .select(greatest(col("doc_a"), col("doc_b")).as("u"),
        least(col("doc_a"), col("doc_b")).as("v"))
      .where(col("u") =!= col("v")).distinct()
      .localCheckpoint()

    // convergence check: (edge count, order-independent XOR of per-edge
    // hashes — no ANSI overflow risk, unlike a hash SUM) — one cheap
    // aggregate per round instead of a set-difference join
    def sig(d: DataFrame): (Long, Long) = {
      val r = d.agg(count(lit(1)),
        coalesce(expr("bit_xor(xxhash64(u, v))"), lit(0L))).head()
      (r.getLong(0), r.getLong(1))
    }
    var cur = sig(e)

    if (cur._1 > 0L && cur._1 <= localEdgeMax) {
      // driver solve: the collect reads the already-checkpointed edges
      // (no pipeline recompute); min-rooted union-find reproduces the
      // star fixpoint's labels exactly (component min as cluster_id)
      val edges = e.collect().map(r => (r.getLong(0), r.getLong(1)))
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
        var c = x
        while (parent.getOrElse(c, c) != c) {
          val nxt = parent.getOrElse(c, c); parent(c) = r; c = nxt
        }
        r
      }
      edges.foreach { case (u, v) =>
        val (ru, rv) = (find(u), find(v))
        // union by min keeps every root the component minimum
        if (ru != rv) { if (ru < rv) parent(rv) = ru else parent(ru) = rv }
        else { parent.getOrElseUpdate(u, ru); parent.getOrElseUpdate(v, rv) }
      }
      val nodes = edges.iterator.flatMap(p => Iterator(p._1, p._2)).toSeq.distinct
      val labeled = nodes.map(x => x -> find(x))
      val size = labeled.groupBy(_._2).map { case (c, m) => c -> m.size.toLong }
      return labeled.sortBy(_._1)
        .map { case (d, c) => (d, c, size(c), d == c) }
        .toDF("doc_id", "cluster_id", "cluster_size", "is_canonical")
    }

    var done = cur._1 == 0L
    var iter = 0
    val MaxRounds = 64 // O(log n) expected; backstop far above any real depth
    while (!done && iter < MaxRounds) {
      // large-star: each strictly-larger neighbor of u links to
      // m = min(N(u) ∪ {u}); m ≤ u < v keeps the (larger, smaller) form
      val dir2 = e.union(e.select(col("v").as("u"), col("u").as("v")))
      val lsMin = dir2.groupBy("u").agg(min("v").as("mn"))
        .select(col("u"), least(col("u"), col("mn")).as("m"))
      val ls = dir2.join(lsMin, Seq("u"))
        .where(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .distinct()
      // small-star: u and all its (smaller) neighbors link to min(N(u))
      val ssMin = ls.groupBy("u").agg(min("v").as("m"))
      val joined = ls.join(ssMin, Seq("u"))
      val ss = joined.select(col("v").as("u"), col("m").as("v"))
        .union(joined.select(col("u"), col("m").as("v")))
        .where(col("u") =!= col("v"))
        .distinct()
        .localCheckpoint()
      val next = sig(ss)
      done = next == cur
      e = ss
      cur = next
      iter += 1
    }

    val members = e.select(col("u").as("doc_id"), col("v").as("cluster_id"))
      .union(e.select(col("v").as("doc_id"), col("v").as("cluster_id")))
      .distinct()
    val sizes = members.groupBy("cluster_id")
      .agg(count(lit(1)).as("cluster_size"))
    members.join(sizes, Seq("cluster_id"))
      .select(col("doc_id"), col("cluster_id"), col("cluster_size"),
        (col("doc_id") === col("cluster_id")).as("is_canonical"))
      .orderBy("doc_id")
  }

  /** q80 — cross-source mirror matrix: the q24-verified near-dup pairs
    * aggregated by unordered source pair — which sources mirror which,
    * and how closely. The standard crawl-curation diagnostic (mirror
    * domains, aggregator sites, cross-dump overlap) that decides which
    * source pairs deserve a dedup pass or a blocklist entry.
    *
    * Scale shape: rides the q24 machinery (banded candidates + merge-
    * kernel verify), then two hash joins of the SMALL verified pair
    * relation against the (doc_id, source) projection and a grouped
    * aggregate bounded by sources² — never corpus-sized state. The
    * similarity stat is the MICRO-averaged (pooled) jaccard —
    * Σ|A∩B| / Σ|A∪B| over the pair group: integer sums and one double
    * division, order-independent and free of the cross-engine
    * round-at-boundary hazard an average of rounded ratios carries.
    */
  def sourceMirrors(spark: SparkSession, dir: String): DataFrame =
    sourceMirrorsFrom(Tables.documents(spark, dir))

  def sourceMirrorsFrom(docs: DataFrame): DataFrame =
    sourceMirrorsOf(candidatePairsFrom(bandsFrom(docs)), docs)

  /** [[sourceMirrorsFrom]] over pre-materialized candidate pairs — the
    * staged form Bench uses so q80 rides the q22 CTAS like q24/q54 do.
    */
  def sourceMirrorsOf(pairs: DataFrame, docs: DataFrame): DataFrame = {
    val src = docs.select(col("doc_id"), col("source"))
    ngramJaccardDetail(pairs, docs)
      .join(src.select(col("doc_id").as("doc_a"), col("source").as("sa")),
        Seq("doc_a"))
      .join(src.select(col("doc_id").as("doc_b"), col("source").as("sb")),
        Seq("doc_b"))
      .select(least(col("sa"), col("sb")).as("source_a"),
        greatest(col("sa"), col("sb")).as("source_b"),
        col("n_common"), col("n_union"))
      .groupBy("source_a", "source_b")
      .agg(count(lit(1)).as("n_pairs"),
        (sum("n_common").cast("double") / sum("n_union"))
          .as("pooled_jaccard"))
      .orderBy(desc("n_pairs"), asc("source_a"), asc("source_b"))
  }

  /** q82 sliding-gram width in tokens, and the distinct-document
    * occurrence floor at which a gram counts as duplicated.
    */
  val SpanGramTokens = 8
  val SpanMinDocs = 2

  /** q82 — maximal duplicated token spans: the exact-substring dedup
    * diagnostic (the "train-dedup at substring granularity" family,
    * e.g. Lee et al., "Deduplicating Training Data Makes Language
    * Models Better", ACL 2022 — there via suffix arrays; here via
    * sliding grams, the shared-nothing equivalent). Slide an
    * overlapping [[SpanGramTokens]]-token window (stride 1) over every
    * document; a position is DUPLICATED when its gram occurs in ≥
    * [[SpanMinDocs]] distinct docs; consecutive duplicated positions
    * chain into maximal spans (stride-1 overlap makes adjacency =
    * same shared substring). Where q58's fixed grid scores whole docs
    * by boilerplate fraction, this returns the span boundaries a
    * surgical cut-the-substring pass needs — the grid misses any
    * duplicate that straddles a chunk boundary, a sliding window
    * cannot.
    *
    * Scale shape: gram hashing is map work producing one per-doc hash
    * ARRAY (stride-1 costs ×gramlen values over q58's grid, the price
    * of boundary-free detection — but they stay inside their doc's row,
    * never exploded onto a shuffle); the occurrence count is the ONE
    * shuffle in the operator, carrying per-doc-DISTINCT gram hashes
    * with map-side combine; the surviving duplicated-gram set is
    * dup-mass-bounded by definition, so it aggregates to a single
    * sorted broadcast array (q58's boilerplate-set discipline) and the
    * island merge runs map-side in the `dup_span_runs` kernel — one
    * binary-searched pass per doc, no token-granular join-back shuffle
    * and no per-doc window. If a pathological corpus ever outgrew the
    * broadcast (dup-mass ≈ corpus), the join-back formulation this
    * replaced is the fallback — that corpus is one giant duplicate and
    * needs q21 first, not span surgery.
    */
  def dupSpans(spark: SparkSession, dir: String): DataFrame =
    dupSpansFrom(Tables.documents(spark, dir))

  /** Per-doc stride-1 gram-hash arrays `(doc_id, kh)` — the map-side
    * input both the df count and the span kernel read (`DedupSpec`
    * checks the count never ships more rows than positions).
    */
  private[graft] def spanGramArrays(docs: DataFrame): DataFrame = {
    val kh = transform(sequence(lit(0), size(col("w")) - SpanGramTokens),
      i => TextFns.hash60(concat(lit("sp|"),
        concat_ws(" ", slice(col("w"), i + 1, lit(SpanGramTokens))))))
    Tables.widened(docs, col("doc_id"))
      .select(col("doc_id"), TextFns.toks(col("text")).as("w"))
      .filter(size(col("w")) >= SpanGramTokens)
      .select(col("doc_id"), kh.as("kh"))
  }

  def dupSpansFrom(docs: DataFrame): DataFrame = {
    GraftFunctions.register(docs.sparkSession)
    // checkpointed: the df count and the span kernel both read the
    // per-doc gram-hash arrays, and the stride-1 per-position hash60
    // chain is the q230 class of expensive kernel — one corpus pass
    // instead of two (r12-opt; measured ~25% off the query)
    val perDoc = spanGramArrays(docs).localCheckpoint()
    // doc-frequency over per-doc-distinct hashes (identical to a
    // countDistinct(doc_id) over exploded positions), collapsed to one
    // sorted broadcast array
    val dup = perDoc
      .select(explode(array_distinct(col("kh"))).as("h"))
      .groupBy("h").agg(count(lit(1)).as("nd"))
      .filter(col("nd") >= SpanMinDocs)
      .agg(sort_array(collect_list("h")).as("dup"))
    perDoc.crossJoin(broadcast(dup))
      .select(col("doc_id"),
        explode(call_function("dup_span_runs", col("kh"), col("dup"))).as("r"))
      .select(col("doc_id"),
        shiftright(col("r"), 32).as("span_start"),
        (col("r").bitwiseAND(lit(0xFFFFFFFFL)) - shiftright(col("r"), 32) +
          SpanGramTokens).as("span_tokens"))
      .orderBy("doc_id", "span_start")
  }

  /** q85 hot-fingerprint document-frequency cap (fps in more docs are
    * boilerplate, not evidence) and the minimum shared fingerprints for
    * a reported pair.
    */
  val ContainMaxFpDocs = 8
  val ContainMinShared = 2

  /** q85 — containment candidate pairs over the winnowed fingerprint
    * index (q84): doc pairs sharing ≥ [[ContainMinShared]] selected
    * fingerprints, scored by Broder-style containment
    * `|shared| / min(|A|, |B|)` over each doc's rare-fingerprint
    * profile. The capability whole-document MinHash (q22) structurally
    * misses: a long doc EMBEDDING a short doc's text has low whole-doc
    * Jaccard (the union is dominated by the long doc) but containment
    * ≈ 1 — quote inclusion, template wrapping, page-in-crawl-dump.
    * Winnowing's t-token guarantee (q84) makes any ≥ 7-token shared
    * run contribute matching fingerprints, so candidates surface at
    * substring granularity; a verify pass (q24 on the pair list, or
    * q82 for exact boundaries) composes downstream.
    *
    * Scale shape: fingerprints are the ~2/(w+1)-density winnow output
    * (map-only); the document-frequency count and per-doc profile
    * sizes are two map-side-combining aggregates; the hot-fp cap
    * bounds the fp self-join — pairs ≤ Σ_fp df² ≤ cap · Σ df, the
    * LSH-bucket argument with an explicit dial — and the pair group-by
    * carries only surviving candidates.
    */
  def containmentPairs(spark: SparkSession, dir: String): DataFrame =
    // gated end-to-end THROUGH the materialized bucketed index (q74's
    // partitioned-routing discipline): one winnow pass per corpus, and
    // the df count + fp self-join ride the bucketed scan's distribution
    containmentPairsOfFps(TextAnalysis.winnowIndexFor(spark, dir))

  def containmentPairsFrom(docs: DataFrame): DataFrame =
    containmentPairsOfFps(TextAnalysis.winnowFpsFrom(docs))

  /** Candidate generation over an explicit distinct `(doc_id, fp)`
    * winnow profile — recomputed ([[containmentPairsFrom]]) or the
    * materialized index ([[containmentPairs]]).
    */
  def containmentPairsOfFps(fps: DataFrame): DataFrame = {
    val rare = fps.groupBy("fp").agg(count(lit(1)).as("df"))
      .filter(col("df") <= ContainMaxFpDocs).select("fp")
    val r = fps.join(rare, Seq("fp"))
    val nPer = r.groupBy("doc_id").agg(count(lit(1)).as("nf"))
    r.select(col("fp"), col("doc_id").as("doc_a"))
      .join(r.select(col("fp"), col("doc_id").as("doc_b")), Seq("fp"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= ContainMinShared)
      .join(nPer.select(col("doc_id").as("doc_a"), col("nf").as("na")), Seq("doc_a"))
      .join(nPer.select(col("doc_id").as("doc_b"), col("nf").as("nb")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("n_shared"),
        round(col("n_shared").cast("double") / least(col("na"), col("nb")), 9)
          .as("containment"))
      .orderBy("doc_a", "doc_b")
  }

  /** q87 verified-containment acceptance threshold: a candidate pair is
    * a containment duplicate when the verified shingle-level containment
    * `|A∩B| / min(|A|,|B|)` reaches this.
    */
  val ContainVerifyMin = 0.5

  /** q87 — verified containment dedup: q85's winnow-candidates turned
    * into DECISIONS. Each candidate pair is re-scored exactly (not on
    * the winnowed sample) as shingle-set containment
    * `|A∩B| / min(|A|,|B|)` via the same merge-count kernel q24 uses;
    * pairs at ≥ [[ContainVerifyMin]] become keep/cut rows — cut the
    * CONTAINED side (the smaller shingle set; ties cut the larger
    * doc_id, so the decision is deterministic). This is the
    * q24→q54-style verify step containment candidates previously
    * lacked: q85 alone surfaces quote-inclusion/template-wrap pairs,
    * q87 says which doc a pipeline drops.
    *
    * Scale shape: rides q85's bounded candidate generation (df-capped
    * fp self-join), then two hash joins of the SMALL pair list against
    * the per-doc sorted-shingle arrays (one codegen pass per doc, one
    * row per doc on the shuffle) and an O(|A|+|B|) merge count per
    * pair — never a shingle-stream join, never corpus² work.
    */
  def containmentDedup(spark: SparkSession, dir: String): DataFrame =
    // candidates through the shared winnow index (one winnow pass per
    // corpus feeds q85 AND q87); the verify stage reads raw documents
    containmentDedupOf(
      containmentPairs(spark, dir).select("doc_a", "doc_b"),
      Tables.documents(spark, dir))

  def containmentDedupFrom(docs: DataFrame): DataFrame =
    containmentDedupOf(containmentPairsFrom(docs).select("doc_a", "doc_b"), docs)

  /** [[containmentDedupFrom]] over pre-materialized candidate pairs —
    * the staged form Bench uses so q87 rides a q85 CTAS.
    */
  def containmentDedupOf(pairs: DataFrame, docs: DataFrame): DataFrame =
    containmentDedupOfShingles(pairs, shinglesFrom(docs))

  /** The verify stage over an explicit (possibly stored) shingle
    * relation — the q135-staging hook for [[incrementalContainment]].
    */
  def containmentDedupOfShingles(pairs: DataFrame, sh: DataFrame): DataFrame = {
    GraftFunctions.register(sh.sparkSession)
    pairs
      .join(sh.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), Seq("doc_a"))
      .join(sh.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        call_function("sorted_intersect_count", col("sh_a"), col("sh_b"))
          .as("n_common"),
        size(col("sh_a")).cast("long").as("sz_a"),
        size(col("sh_b")).cast("long").as("sz_b"))
      .select(col("doc_a"), col("doc_b"), col("n_common"),
        round(col("n_common").cast("double") /
          nullIfZero(least(col("sz_a"), col("sz_b"))), 9).as("containment"),
        when(col("sz_a") < col("sz_b"), col("doc_a"))
          .when(col("sz_b") < col("sz_a"), col("doc_b"))
          .otherwise(greatest(col("doc_a"), col("doc_b"))).as("cut_doc"))
      .filter(col("containment") >= ContainVerifyMin)
      .select(col("doc_a"), col("doc_b"), col("n_common"), col("containment"),
        when(col("cut_doc") === col("doc_a"), col("doc_b"))
          .otherwise(col("doc_a")).as("keep_doc"),
        col("cut_doc"))
      .orderBy("doc_a", "doc_b")
  }

  /** q137 — INCREMENTAL containment maintenance: fold a new document
    * batch into an EXISTING containment-dedup state — the q135
    * discipline applied to the q85→q87 family, completing the
    * incremental set (exact q67, near-dup q78, clusters q135,
    * containment here). The old corpus contributes its STORED winnow
    * fingerprint index and shingle relation; the batch pays winnowing +
    * shingling for the NEW slice only. Document frequencies (the
    * rare-fp cap) are recomputed over old-index ∪ new-fps — index-scale
    * aggregation, not a corpus text pass — so the cap binds exactly as
    * a full run's would. Candidates are restricted to pairs touching
    * ≥1 new doc; old×old decisions already exist in yesterday's table.
    *
    * THE GATE IS THE CONTRACT: the oracle runs the FULL q87 pipeline
    * over all documents and keeps the pairs with a new endpoint, so the
    * hash gate proves incremental ≡ full-restricted — a batch fold
    * surfaces exactly the decisions a recompute would.
    *
    * Scale shape: the fp join is rNew (batch-sized) × rare-all
    * (df-capped), bounded by cap · Σ_new df — never the full fp
    * self-join; verification joins the (batch-neighborhood-sized) pair
    * list against the stored shingle arrays.
    */
  def incrementalContainment(spark: SparkSession, dir: String): DataFrame = {
    val (o, n) = incSplit(Tables.documents(spark, dir))
    incrementalContainmentOf(TextAnalysis.winnowFpsFrom(o), shinglesFrom(o), n)
  }

  def incrementalContainmentOf(oldFps: DataFrame, oldShingles: DataFrame,
      newDocs: DataFrame): DataFrame = {
    val newFps = TextAnalysis.winnowFpsFrom(newDocs)
    val fps = oldFps.unionByName(newFps)
    val rare = fps.groupBy("fp").agg(count(lit(1)).as("df"))
      .filter(col("df") <= ContainMaxFpDocs).select("fp")
    val r = fps.join(rare, Seq("fp"))
    val rNew = newFps.join(rare, Seq("fp"))
    // one side anchored on the batch: every emitted pair touches ≥1 new
    // doc. Canonicalize + distinct per (fp, pair) because a new×new
    // pair appears from both orientations of the all×new join.
    val cand = r.select(col("fp"), col("doc_id").as("x"))
      .join(rNew.select(col("fp"), col("doc_id").as("y")), Seq("fp"))
      .filter(col("x") =!= col("y"))
      .select(col("fp"), least(col("x"), col("y")).as("doc_a"),
        greatest(col("x"), col("y")).as("doc_b"))
      .distinct()
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= ContainMinShared)
    val sh = oldShingles.unionByName(shinglesFrom(newDocs))
    containmentDedupOfShingles(cand.select("doc_a", "doc_b"), sh)
  }

  /** q89 — the dedup DECISION LEDGER: one row per document with the
    * final keep/cut verdict and its reason, composing the three dedup
    * stages a real pipeline applies in precedence order — exact dedup
    * (q21's normalized-fp groups: every non-minimum doc of a group is
    * cut as `exact_dup`), near-dup cluster resolution (q54: every
    * non-canonical cluster member is cut as `near_dup`), and verified
    * containment (q87: every `cut_doc` is cut as `contained`). The
    * individual operators emit diagnostics; this is the table the
    * training-data job actually semi-joins the corpus against, and the
    * audit trail of WHY each document was dropped.
    *
    * Scale shape: three already-bounded cut relations (fp-grouped min,
    * clustered members, verified pair cuts) left-joined onto the
    * corpus id projection by doc_id — hash joins on the primary key,
    * reasons as a precedence CASE, no new corpus-squared work.
    */
  /** q176 — MEDOID representative per near-dup cluster: for every
    * multi-member q54 cluster, the member whose embedding maximizes
    * total cosine similarity to the rest of its cluster (ties → min
    * doc_id) — the semantically most CENTRAL copy. This upgrades the
    * keep rule from syntactic (q89's ledger keeps by cluster id) to
    * semantic: when near-dups differ by truncation or boilerplate, the
    * medoid is the fullest, most representative text, which is what a
    * training mix should retain.
    *
    * Determinism: each pairwise cosine rounds at 9 dp and accumulates
    * in DECIMAL(38,12) (the q169 move — order-independent across the
    * shuffle); the argmax is a fully tie-broken rank-1 window on the
    * exact decimal.
    *
    * Scale shape: clusters are dup-mass-scale, so the member relation
    * broadcasts into the embedding join; pairwise cosines form within
    * clusters only (Σ cluster² — near-dup clusters are small by
    * construction; a pathological mega-cluster is a dedup-threshold
    * bug upstream, not this operator's load); the rank-1 cut rides
    * WindowGroupLimit.
    */
  def clusterMedoids(spark: SparkSession, dir: String): DataFrame =
    clusterMedoidsOf(dedupClusters(spark, dir),
      Tables.embeddings(spark, dir))

  def clusterMedoidsOf(clusters: DataFrame, embeddings: DataFrame): DataFrame = {
    val spark = embeddings.sparkSession
    GraftFunctions.register(spark)
    val dec = org.apache.spark.sql.types.DecimalType(38, 12)
    val multi = clusters.filter(col("cluster_size") >= 2)
      .select(col("doc_id"), col("cluster_id"), col("cluster_size"))
    // member relation is ids+sizes only (dup-mass-scale) — AQE picks
    // broadcast when it fits; the pair join shuffles BOTH sides on
    // cluster_id (never broadcasts embedding payloads), so pairs form
    // bucket-locally within each cluster's partition
    val m = embeddings
      .select(col("vec_id").as("doc_id"),
        col("embedding").cast("array<double>").as("emb"))
      .join(multi, Seq("doc_id"))
    val pairs = m.alias("a").hint("shuffle_hash")
      .join(m.alias("b").hint("shuffle_hash"),
        col("a.cluster_id") === col("b.cluster_id") &&
          col("a.doc_id") =!= col("b.doc_id"))
      .select(col("a.cluster_id").as("cluster_id"),
        col("a.doc_id").as("doc_id"),
        col("a.cluster_size").as("cluster_size"),
        round(call_function("cosine_similarity",
          col("a.emb"), col("b.emb")), 9).cast(dec).as("cos"))
    // mean_cos divides by the EMBEDDED neighbors actually summed (the
    // per-doc pair count), not cluster_size−1: members lacking an
    // embedding row drop out of the pair join, and charging their
    // absence to the mean would deflate it under partial coverage
    // (the gap q194's coverage audit flags)
    pairs.groupBy("cluster_id", "doc_id", "cluster_size")
      .agg(sum("cos").cast(dec).as("sum_cos"),
        count(lit(1)).as("n_nbrs"))
      .withColumn("rn", row_number().over(Window.partitionBy("cluster_id")
        .orderBy(desc("sum_cos"), asc("doc_id"))))
      .filter(col("rn") === 1)
      .select(col("cluster_id"), col("doc_id").as("medoid_doc"),
        col("cluster_size"),
        round(col("sum_cos").cast("double") / col("n_nbrs"), 9)
          .as("mean_cos"))
      .orderBy("cluster_id")
  }

  def keepLedger(spark: SparkSession, dir: String): DataFrame =
    // containment cuts via the shared winnow index (one winnow pass per
    // corpus across q85/q87/q89)
    keepLedgerOf(Tables.documents(spark, dir), containmentDedup(spark, dir))

  def keepLedgerFrom(docs: DataFrame): DataFrame =
    keepLedgerOf(docs, containmentDedupFrom(docs))

  /** Ledger over explicit inputs: `containment` is a q87-shaped
    * decision relation (needs its `cut_doc` column). Recomputes the
    * near-dup closure from `docs`; a pipeline that already materialized
    * the q54 cluster CTAS hands it to the staged overload instead.
    */
  def keepLedgerOf(docs: DataFrame, containment: DataFrame): DataFrame =
    keepLedgerOf(docs, dedupClustersFrom(docs), containment)

  /** Ledger over FULLY staged inputs: `clusters` is a q54-shaped
    * membership relation (needs `doc_id`/`is_canonical`). This is the
    * production read pattern — the closure is resolved once per corpus
    * (the q54 CTAS) and every consumer (ledger, split, savings) reads
    * the stored table; re-running the log-round CC fixpoint per
    * consumer is the anti-pattern the ledger design exists to avoid.
    */
  def keepLedgerOf(docs: DataFrame, clusters: DataFrame,
      containment: DataFrame): DataFrame = {
    val exactCut = docs.select(col("doc_id"), md5(normText).as("fp"))
      .withColumn("keeper", min("doc_id").over(
        org.apache.spark.sql.expressions.Window.partitionBy("fp")))
      .filter(col("doc_id") =!= col("keeper"))
      .select("doc_id").distinct()
      .withColumn("x_exact", lit(true))
    val nearCut = clusters
      .filter(!col("is_canonical"))
      .select("doc_id").distinct()
      .withColumn("x_near", lit(true))
    val containCut = containment
      .select(col("cut_doc").as("doc_id")).distinct()
      .withColumn("x_contain", lit(true))
    docs.select("doc_id")
      .join(exactCut, Seq("doc_id"), "left")
      .join(nearCut, Seq("doc_id"), "left")
      .join(containCut, Seq("doc_id"), "left")
      .select(col("doc_id"),
        (coalesce(col("x_exact"), col("x_near"), col("x_contain"),
          lit(false)) === false).as("keep"),
        when(col("x_exact"), "exact_dup")
          .when(col("x_near"), "near_dup")
          .when(col("x_contain"), "contained")
          .otherwise("keep").as("reason"))
      .orderBy("doc_id")
  }

  /** q102 — LEAKAGE-SAFE train/val/test split: the q45 stable-hash
    * split keyed by each document's near-dup CLUSTER representative
    * (q54's cluster_id; singletons key on themselves) instead of its
    * own id — so a near-duplicate pair can never straddle train and
    * eval, the contamination channel a per-doc split leaves wide open.
    * Same 80/10/10 fractions as q45 (shared constants), distinct salt.
    *
    * The result carries per-split doc/group counts AND the global
    * count of groups spanning >1 split — structurally zero, but
    * EMITTED so the hash gate proves the invariant instead of a spec
    * asserting it.
    *
    * Scale shape: q54's log-round cluster resolution dominates; the
    * rep join is one doc_id-keyed hash join (cluster relation is
    * bounded by clustered docs, broadcastable when dup mass is small),
    * the split assignment is pure row arithmetic, and both summary
    * aggregates are split/group-cardinality.
    */
  def leakageSafeSplit(spark: SparkSession, dir: String): DataFrame =
    leakageSafeSplitFrom(Tables.documents(spark, dir))

  def leakageSafeSplitFrom(docs: DataFrame): DataFrame =
    leakageSafeSplitOf(docs, dedupClustersFrom(docs))

  /** Split over a staged q54-shaped cluster relation (`doc_id`,
    * `cluster_id`) — the production read pattern, same rationale as the
    * staged [[keepLedgerOf]]: group identity comes from the stored
    * cluster CTAS, not a per-consumer closure recompute.
    */
  def leakageSafeSplitOf(docs: DataFrame, clusters: DataFrame): DataFrame = {
    val cc = clusters.select(col("doc_id"), col("cluster_id"))
    val rep = docs.select("doc_id")
      .join(cc, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("cluster_id"), col("doc_id")).as("rep"))
    val bucket = TextFns.hash32(
      concat(lit("lsplit|"), col("rep").cast("string"))) % 100
    val assigned = rep.withColumn("split",
      when(bucket < Curation.TrainPct, "train")
        .when(bucket < Curation.ValPct, "val").otherwise("test"))
    val leaky = assigned.groupBy("rep")
      .agg(countDistinct("split").as("ns"))
      .agg(sum(when(col("ns") > 1, 1L).otherwise(0L)).as("n_leaky_groups"))
    assigned.groupBy("split")
      .agg(count(lit(1)).as("n_docs"), countDistinct("rep").as("n_groups"))
      .crossJoin(broadcast(leaky))
      .orderBy("split")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q102_leakage_safe_split" -> (leakageSafeSplit _),
    "q108_edit_verify" -> (editVerify _),
    "q121_minhash_estimate" -> (minhashEstimate _),
    "q124_record_linkage" -> (recordLinkage _),
    "q130_dedup_savings" -> (dedupSavings _),
    "q135_incremental_clusters" -> (incrementalClusters _),
    "q137_incremental_containment" -> (incrementalContainment _),
    "q215_dedup_agreement" -> (dedupAgreement _),
    "q230_ppjoin_pairs" -> (ppjoinPairs _),
    "q258_dedup_prf" -> (dedupPrf _),
    "q238_hamming_pairs" -> (hammingPairs _),
    "q241_cdc_chunks" -> (cdcChunks _),
    "q21_exact_dedup" -> (exactDedup _),
    "q179_soft_dedup_weights" -> (softDedupWeights _),
    "q184_dedup_sensitivity" -> (dedupSensitivity _),
    "q190_dup_geography" -> (dupGeography _),
    "q191_dup_size_histogram" -> (dupSizeHistogram _),
    "q22_minhash_candidates" -> (minhashCandidates _),
    "q23_simhash" -> (simhash _),
    "q24_ngram_jaccard" -> (ngramJaccard _),
    "q54_dedup_clusters" -> (dedupClusters _),
    "q176_cluster_medoids" -> (clusterMedoids _),
    "q80_source_mirrors" -> (sourceMirrors _),
    "q82_dup_spans" -> (dupSpans _),
    "q85_containment_pairs" -> (containmentPairs _),
    "q87_containment_dedup" -> (containmentDedup _),
    "q89_keep_ledger" -> (keepLedger _))

  lazy val oracle: Map[String, String] = Map(
    "q124_record_linkage" ->
      s"""WITH dirty AS (
         |  SELECT s_suppkey AS true_key,
         |    regexp_replace(s_name, '[aeiou]', '', 'g') AS dirty_name
         |  FROM supplier
         |  WHERE ${TextFns.sql.hash32(s"'rl|' || CAST(s_suppkey AS VARCHAR)")} % $LinkMod = 0),
         |d2 AS (SELECT *, substring(dirty_name, -1, 1) AS blk FROM dirty),
         |c2 AS (SELECT s_suppkey, s_name, substring(s_name, -1, 1) AS blk
         |       FROM supplier),
         |scored AS (
         |  SELECT true_key, dirty_name, c2.s_suppkey,
         |    CAST(levenshtein(dirty_name, s_name) AS BIGINT) AS edit_dist
         |  FROM d2 JOIN c2 USING (blk)),
         |rk AS (SELECT *, row_number() OVER
         |  (PARTITION BY true_key ORDER BY edit_dist, s_suppkey) AS rn FROM scored)
         |SELECT true_key, dirty_name, s_suppkey AS matched_key, edit_dist,
         |  s_suppkey = true_key AS is_correct
         |FROM rk WHERE rn = 1 ORDER BY true_key""".stripMargin,
    "q121_minhash_estimate" -> {
      val matches = (0 until NumHashes)
        .map(j => s"CASE WHEN a.mh$j = b.mh$j THEN 1 ELSE 0 END").mkString(" + ")
      s"""WITH $bandsSql,
         |$candidatePairsSql,
         |$jaccardSql,
         |est AS (
         |  SELECT p.doc_a, p.doc_b, CAST($matches AS BIGINT) AS n_match
         |  FROM pairs p JOIN mhs a ON a.doc_id = p.doc_a
         |  JOIN mhs b ON b.doc_id = p.doc_b)
         |SELECT e.doc_a, e.doc_b, e.n_match,
         |  round(CAST(e.n_match AS DOUBLE) / $NumHashes, 9) AS est_jaccard,
         |  coalesce(j.jaccard, 0.0) AS exact_jaccard,
         |  round(abs(round(CAST(e.n_match AS DOUBLE) / $NumHashes, 9)
         |    - coalesce(j.jaccard, 0.0)), 9) AS abs_err
         |FROM est e LEFT JOIN jac j ON j.doc_a = e.doc_a AND j.doc_b = e.doc_b
         |ORDER BY e.doc_a, e.doc_b""".stripMargin
    },
    "q108_edit_verify" ->
      s"""WITH $bandsSql,
         |$candidatePairsSql,
         |pref AS (SELECT doc_id, substring($normSql, 1, $EditPrefixChars) AS pref
         |         FROM documents),
         |j AS (
         |  SELECT doc_a, doc_b,
         |    CAST(levenshtein(a.pref, b.pref) AS BIGINT) AS edit_dist,
         |    greatest(length(a.pref), length(b.pref), 1) AS mx
         |  FROM pairs
         |  JOIN pref a ON a.doc_id = doc_a
         |  JOIN pref b ON b.doc_id = doc_b)
         |SELECT doc_a, doc_b, edit_dist,
         |  round(1.0 - edit_dist / CAST(mx AS DOUBLE), 9) AS edit_sim,
         |  round(1.0 - edit_dist / CAST(mx AS DOUBLE), 9) >= $EditSimMin AS is_dup
         |FROM j ORDER BY doc_a, doc_b""".stripMargin,
    "q21_exact_dedup" ->
      s"""WITH fps AS (SELECT md5($normSql) AS fp FROM documents),
         |grouped AS (SELECT fp, count(*) AS c FROM fps GROUP BY fp)
         |SELECT CAST(sum(c) AS BIGINT) AS n_docs,
         |  count(*) AS n_distinct,
         |  CAST(sum(c) - count(*) AS BIGINT) AS n_dup_docs,
         |  CAST(sum(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_clusters
         |FROM grouped""".stripMargin,
    // w9 = round-half-up(1e9/size) via integral divide; HUGEINT sums
    // shipped as Wide hi/lo halves; the closing fractions rebuild the
    // double from the halves with the identical expression Spark uses
    "q179_soft_dedup_weights" ->
      s"""WITH d AS (SELECT source, md5($normSql) AS fp,
         |    CAST(len(${TextFns.sql.toks}) AS BIGINT) AS t FROM documents),
         |s AS (SELECT source, t, count(*) OVER (PARTITION BY fp) AS cs FROM d),
         |w AS (SELECT source, t, (${2 * SoftW9} + cs) // (2 * cs) AS w9 FROM s),
         |a AS (SELECT source, count(*) AS n_docs, CAST(sum(t) AS BIGINT) AS n_tokens,
         |    sum(CAST(w9 AS HUGEINT)) AS ed, sum(CAST(t AS HUGEINT) * w9) AS et
         |  FROM w GROUP BY 1),
         |p AS (SELECT source, n_docs, n_tokens,
         |    ${graft.functions.Wide.sql.hi62("ed")} AS eff_docs_hi,
         |    ${graft.functions.Wide.sql.lo62("ed")} AS eff_docs_lo,
         |    ${graft.functions.Wide.sql.hi62("et")} AS eff_tokens_hi,
         |    ${graft.functions.Wide.sql.lo62("et")} AS eff_tokens_lo
         |  FROM a)
         |SELECT p.source, p.n_docs, p.n_tokens, eff_docs_hi, eff_docs_lo,
         |  eff_tokens_hi, eff_tokens_lo,
         |  CAST(CAST((2 * a.ed + a.n_docs) // (2 * a.n_docs) AS BIGINT)
         |    AS DOUBLE) / 1.0e9 AS eff_doc_frac,
         |  CAST(CAST((2 * a.et + a.n_tokens) // (2 * a.n_tokens) AS BIGINT)
         |    AS DOUBLE) / 1.0e9 AS eff_token_frac
         |FROM p JOIN a ON a.source = p.source ORDER BY p.source""".stripMargin,
    "q22_minhash_candidates" ->
      s"""WITH $bandsSql,
         |$candidatePairsSql
         |SELECT doc_a, doc_b FROM pairs ORDER BY doc_a, doc_b""".stripMargin,
    // fp cluster profile joined back onto per-(source, fp) copy counts
    "q190_dup_geography" ->
      s"""WITH $repsSql,
         |d AS (SELECT source, md5($normSql) AS fp FROM corpus),
         |sf AS (SELECT source, fp, count(*) AS c FROM d GROUP BY 1, 2),
         |f AS (SELECT fp, CAST(sum(c) AS BIGINT) AS copies,
         |    count(*) AS n_sources FROM sf GROUP BY 1)
         |SELECT sf.source, CAST(sum(sf.c) AS BIGINT) AS n_docs,
         |  CAST(sum(CASE WHEN f.copies >= 2 AND f.n_sources = 1
         |    THEN sf.c ELSE 0 END) AS BIGINT) AS dup_internal,
         |  CAST(sum(CASE WHEN f.n_sources >= 2 THEN sf.c ELSE 0 END)
         |    AS BIGINT) AS dup_cross,
         |  CAST(sum(CASE WHEN f.copies >= 2 AND f.n_sources = 1
         |    THEN sf.c ELSE 0 END) AS DOUBLE)
         |    / NULLIF(CAST(sum(sf.c) AS BIGINT), 0) AS internal_rate,
         |  CAST(sum(CASE WHEN f.n_sources >= 2 THEN sf.c ELSE 0 END)
         |    AS DOUBLE) / NULLIF(CAST(sum(sf.c) AS BIGINT), 0) AS cross_rate
         |FROM sf JOIN f USING (fp)
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    // cluster sizes ≥ 2 rolled to a size histogram
    "q191_dup_size_histogram" ->
      s"""WITH $repsSql,
         |d AS (SELECT md5($normSql) AS fp FROM corpus),
         |tot AS (SELECT count(*) AS n_all FROM d),
         |g AS (SELECT fp, count(*) AS sz FROM d GROUP BY 1)
         |SELECT sz AS cluster_size, count(*) AS n_clusters,
         |  CAST(sum(sz) AS BIGINT) AS n_docs,
         |  CAST(sum(sz) AS DOUBLE) / NULLIF(max(n_all), 0) AS doc_share
         |FROM g CROSS JOIN tot WHERE sz >= 2
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    // one shared candidate+intersection pass; each arm an integer
    // cross-multiplied keep test on the exact (n_common, n_union)
    "q184_dedup_sensitivity" ->
      s"""WITH $bandsSql,
         |$candidatePairsSql,
         |$jaccardSql,
         |iv AS (SELECT i.doc_a, i.doc_b, i.n_common,
         |    sa.sz + sb.sz - i.n_common AS n_union
         |  FROM inter i JOIN sizes sa ON sa.doc_id = i.doc_a
         |  JOIN sizes sb ON sb.doc_id = i.doc_b),
         |arms AS (${SweepThresholds.map { case (n, dn) =>
             s"SELECT $n AS num, $dn AS den" }.mkString(" UNION ALL ")}),
         |armed AS (SELECT arms.num, arms.den, doc_a, doc_b
         |  FROM iv CROSS JOIN arms
         |  WHERE n_common * arms.den >= arms.num * n_union),
         |p AS (SELECT num, den, count(*) AS n_pairs FROM armed GROUP BY 1, 2),
         |dd AS (SELECT num, den, count(*) AS n_dup_docs FROM (
         |    SELECT DISTINCT num, den, doc FROM (
         |      SELECT num, den, doc_a AS doc FROM armed
         |      UNION ALL SELECT num, den, doc_b AS doc FROM armed))
         |  GROUP BY 1, 2),
         |tot AS (SELECT count(*) AS n_docs FROM documents)
         |SELECT CAST(arms.num AS DOUBLE) / arms.den AS threshold,
         |  CAST(coalesce(p.n_pairs, 0) AS BIGINT) AS n_pairs,
         |  CAST(coalesce(dd.n_dup_docs, 0) AS BIGINT) AS n_dup_docs,
         |  CAST(coalesce(dd.n_dup_docs, 0) AS DOUBLE) / NULLIF(n_docs, 0)
         |    AS dup_doc_rate
         |FROM arms LEFT JOIN p ON p.num = arms.num AND p.den = arms.den
         |LEFT JOIN dd ON dd.num = arms.num AND dd.den = arms.den
         |CROSS JOIN tot ORDER BY threshold""".stripMargin,
    "q23_simhash" ->
      s"""WITH ${simhashCtes("documents")}
         |SELECT doc_id, sh AS simhash32 FROM shx ORDER BY doc_id""".stripMargin,
    // the stateless windowed boundary rule replayed on a position
    // spine: every interior window hashed, boundaries lag-chained into
    // chunk extents, chunk hashes re-derived — kernel and spine must
    // agree on every boundary decision
    "q241_cdc_chunks" -> {
      import graft.functions.Cdc
      val w = Cdc.Window
      val hWin = TextFns.sql.hash32(s"substr(text, i + 1, $w)")
      val hChunk = TextFns.sql.hash32(
        "'ch|' || substr(s.text, c.prev + 1, c.b - c.prev)")
      s"""WITH $repsSql,
         |ps AS (SELECT doc_id, text, unnest(range(length(text) - $w)) AS i
         |  FROM corpus),
         |bs AS (SELECT doc_id, i + $w AS b FROM ps
         |  WHERE $hWin % ${Cdc.Divisor} = 0),
         |sb AS (SELECT doc_id, b FROM bs
         |  UNION ALL SELECT doc_id, length(text) AS b FROM corpus),
         |chx AS (SELECT doc_id, b,
         |    lag(b, 1, 0) OVER (PARTITION BY doc_id ORDER BY b) AS prev
         |  FROM sb),
         |cw AS (SELECT c.doc_id, s.source, $hChunk AS h
         |  FROM chx c JOIN corpus s ON s.doc_id = c.doc_id
         |  WHERE c.b > c.prev),
         |src AS (SELECT source, count(*) AS n_chunks,
         |    CAST(count(DISTINCT h) AS BIGINT) AS n_distinct
         |  FROM cw GROUP BY 1),
         |dl AS (SELECT source, count(*) AS n_docs,
         |    CAST(sum(length(text)) AS BIGINT) AS total_len
         |  FROM corpus GROUP BY 1)
         |SELECT dl.source, dl.n_docs, src.n_chunks, src.n_distinct,
         |  round(CAST(src.n_chunks - src.n_distinct AS DOUBLE)
         |    / src.n_chunks, 6) AS dup_rate,
         |  round(CAST(dl.total_len AS DOUBLE) / src.n_chunks, 6)
         |    AS mean_chunk_len
         |FROM dl JOIN src ON src.source = dl.source
         |ORDER BY 1""".stripMargin
    },
    // the q23 pipeline over the replica-planted corpus, then the exact
    // pigeonhole machinery replayed: 4 byte-slices, slice-collision
    // candidates, bit_count verify, bounded distance histogram
    // three generators recomputed over the planted corpus and scored
    // against the closed-form truth pairs; bands carry the mb_ prefix
    // so the minhash CTEs coexist with simhash's fixed names
    "q258_dedup_prf" -> {
      val slices = (0 until HamSlices).map(s =>
        s"SELECT doc_id, sh, $s AS s, (sh >> ${8 * s}) & 255 AS v FROM shx")
        .mkString("\n  UNION ALL ")
      val arm = TextFns.sql.hash32("'rep|' || CAST(doc_id AS VARCHAR)")
      s"""WITH $repsSql,
         |truth AS (SELECT doc_id AS doc_a, doc_id + $RepShift AS doc_b
         |  FROM documents WHERE $arm % $RepMod = 0),
         |fp AS (SELECT doc_id, md5($normSql) AS fp FROM corpus),
         |exq AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM fp a JOIN fp b
         |    ON a.fp = b.fp AND b.doc_id > a.doc_id),
         |${bandsSqlOver("corpus", "text", "mb_")},
         |mhq AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM mb_bands a JOIN mb_bands b
         |    ON b.band_id = a.band_id AND b.band_key = a.band_key
         |      AND b.doc_id > a.doc_id),
         |${simhashCtes("corpus")},
         |sl AS ($slices),
         |shc AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |    a.sh AS sha, b.sh AS shb
         |  FROM sl a JOIN sl b
         |    ON b.s = a.s AND b.v = a.v AND b.doc_id > a.doc_id),
         |shq AS (SELECT doc_a, doc_b FROM shc
         |  WHERE bit_count(xor(sha, shb)) <= $HamRadius),
         |tn AS (SELECT count(*) AS n_truth FROM truth),
         |rows0 AS (
         |  SELECT 'exact' AS method,
         |    (SELECT count(*) FROM exq) AS n_pred,
         |    (SELECT count(*) FROM exq JOIN truth
         |       USING (doc_a, doc_b)) AS tp
         |  UNION ALL SELECT 'minhash_lsh',
         |    (SELECT count(*) FROM mhq),
         |    (SELECT count(*) FROM mhq JOIN truth USING (doc_a, doc_b))
         |  UNION ALL SELECT 'simhash_ham',
         |    (SELECT count(*) FROM shq),
         |    (SELECT count(*) FROM shq JOIN truth USING (doc_a, doc_b)))
         |SELECT method, CAST(n_pred AS BIGINT) AS n_pred,
         |  CAST(tn.n_truth AS BIGINT) AS n_truth,
         |  CAST(tp AS BIGINT) AS tp,
         |  CAST(tp AS DOUBLE) / NULLIF(n_pred, 0) AS pair_precision,
         |  CAST(tp AS DOUBLE) / NULLIF(tn.n_truth, 0) AS pair_recall
         |FROM rows0, tn ORDER BY method""".stripMargin
    },
    "q238_hamming_pairs" ->
      s"""WITH $repsSql,
         |${simhashCtes("corpus")},
         |sl AS (${(0 until HamSlices).map(s =>
             s"SELECT doc_id, sh, $s AS s, (sh >> ${8 * s}) & 255 AS v FROM shx")
             .mkString("\n  UNION ALL ")}),
         |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |    a.sh AS sha, b.sh AS shb
         |  FROM sl a JOIN sl b
         |    ON b.s = a.s AND b.v = a.v AND b.doc_id > a.doc_id),
         |kept AS (SELECT doc_a, doc_b,
         |    CAST(bit_count(xor(sha, shb)) AS INTEGER) AS dist
         |  FROM cand
         |  WHERE bit_count(xor(sha, shb)) <= $HamRadius),
         |p AS (SELECT dist, count(*) AS n_pairs FROM kept GROUP BY 1),
         |dd AS (SELECT dist, count(DISTINCT doc) AS n_docs FROM (
         |    SELECT dist, doc_a AS doc FROM kept
         |    UNION ALL SELECT dist, doc_b AS doc FROM kept)
         |  GROUP BY 1)
         |SELECT p.dist, p.n_pairs, dd.n_docs
         |FROM p JOIN dd ON dd.dist = p.dist
         |ORDER BY 1""".stripMargin,
    "q24_ngram_jaccard" ->
      s"""WITH $bandsSql,
         |$candidatePairsSql,
         |$jaccardSql
         |SELECT doc_a, doc_b, jaccard FROM jac
         |WHERE jaccard >= $JaccardMin ORDER BY doc_a, doc_b""".stripMargin,
    // the q24 verified pairs full-outer-joined to the q38 embedding
    // pairs (nested WITH reuses the q38 oracle verbatim; vec_id ≡
    // doc_id is the fixture alignment), classified and rolled up
    "q215_dedup_agreement" ->
      s"""WITH $bandsSql,
         |$candidatePairsSql,
         |$jaccardSql,
         |tp AS (SELECT doc_a, doc_b, jaccard FROM jac
         |  WHERE jaccard >= $JaccardMin),
         |ep AS (${Similarity.oracle("q38_embedding_neardup")}),
         |u AS (SELECT CASE
         |      WHEN tp.jaccard IS NOT NULL AND ep.cosine IS NOT NULL THEN 'both'
         |      WHEN tp.jaccard IS NOT NULL THEN 'text_only'
         |      ELSE 'embedding_only' END AS method,
         |    tp.jaccard, ep.cosine
         |  FROM tp FULL JOIN ep
         |    ON ep.vec_a = tp.doc_a AND ep.vec_b = tp.doc_b)
         |SELECT method, count(*) AS n_pairs,
         |  round(CAST(sum(CAST(jaccard AS DECIMAL(38,12))) AS DOUBLE) /
         |    NULLIF(count(jaccard), 0), 6) AS mean_jaccard,
         |  round(CAST(sum(CAST(cosine AS DECIMAL(38,12))) AS DOUBLE) /
         |    NULLIF(count(cosine), 0), 6) AS mean_cosine
         |FROM u GROUP BY 1 ORDER BY 1""".stripMargin,
    // the full prefix-filter pipeline replayed: df-ascending ranks,
    // integer prefix test, prefix self-join, exact intersection join,
    // cross-multiplied keep — row_number ties broken by (df, token)
    // are unique within a doc, so the replay is deterministic
    "q230_ppjoin_pairs" ->
      s"""WITH $repsSql,
         |tok0 AS (SELECT doc_id, ${TextFns.sql.toks} AS w FROM corpus),
         |pos AS (SELECT doc_id, w, unnest(range(len(w) - ${PpGram - 1})) AS i
         |  FROM tok0 WHERE len(w) >= $PpGram),
         |tk2 AS (SELECT DISTINCT doc_id,
         |    w[i + 1] || ' ' || w[i + 2] || ' ' || w[i + 3] AS token
         |  FROM pos),
         |szs AS (SELECT doc_id, count(*) AS s FROM tk2 GROUP BY 1),
         |dfx AS (SELECT token, count(*) AS df FROM tk2 GROUP BY 1),
         |rk AS (SELECT t.doc_id, t.token,
         |    row_number() OVER (PARTITION BY t.doc_id
         |      ORDER BY d.df, t.token) AS rn, z.s
         |  FROM tk2 t JOIN dfx d USING (token) JOIN szs z USING (doc_id)),
         |pfx AS (SELECT doc_id, token, rn, s FROM rk
         |  WHERE $PpNum * s <= $PpDen * (s - rn + 1)),
         |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM pfx a JOIN pfx b
         |    ON b.token = a.token AND b.doc_id > a.doc_id
         |    AND $PpNum * a.s <= $PpDen * b.s
         |    AND $PpNum * b.s <= $PpDen * a.s
         |    AND (1 + least(a.s - a.rn, b.s - b.rn)) * ${PpNum + PpDen}
         |      >= $PpNum * (a.s + b.s)),
         |inter AS (SELECT c.doc_a, c.doc_b, count(*) AS n_common
         |  FROM cand c
         |  JOIN tk2 x ON x.doc_id = c.doc_a
         |  JOIN tk2 y ON y.doc_id = c.doc_b AND y.token = x.token
         |  GROUP BY 1, 2),
         |kept AS (SELECT i.doc_a, i.doc_b,
         |    (10 * i.n_common) // (sa.s + sb.s - i.n_common) AS bin
         |  FROM inter i
         |  JOIN szs sa ON sa.doc_id = i.doc_a
         |  JOIN szs sb ON sb.doc_id = i.doc_b
         |  WHERE i.n_common * $PpDen >= $PpNum * (sa.s + sb.s - i.n_common)),
         |p AS (SELECT bin, count(*) AS n_pairs FROM kept GROUP BY 1),
         |dd AS (SELECT bin, count(DISTINCT doc) AS n_docs FROM (
         |    SELECT bin, doc_a AS doc FROM kept
         |    UNION ALL SELECT bin, doc_b AS doc FROM kept)
         |  GROUP BY 1)
         |SELECT p.bin, CAST(p.bin AS DOUBLE) / 10.0 AS jaccard_lo,
         |  p.n_pairs, dd.n_docs
         |FROM p JOIN dd ON dd.bin = p.bin
         |ORDER BY 1""".stripMargin,
    "q54_dedup_clusters" -> fullClustersSql,
    // embeds the q54 closure; cosines round 9 dp into DECIMAL(38,12)
    // partials (order-independent), argmax fully tie-broken
    "q176_cluster_medoids" ->
      s"""WITH RECURSIVE $bandsSql,
         |$candidatePairsSql,
         |$jaccardSql,
         |verified AS (SELECT doc_a, doc_b FROM jac
         |  WHERE jaccard >= $JaccardMin),
         |edges AS (
         |  SELECT doc_a AS u, doc_b AS v FROM verified
         |  UNION
         |  SELECT doc_b AS u, doc_a AS v FROM verified),
         |reach(u, lbl) AS (
         |  SELECT u, u AS lbl FROM (SELECT DISTINCT u FROM edges)
         |  UNION
         |  SELECT e.u, r.lbl FROM edges e JOIN reach r ON r.u = e.v),
         |cc AS (SELECT u AS doc_id, min(lbl) AS cluster_id
         |  FROM reach GROUP BY u),
         |csz AS (SELECT cluster_id, count(*) AS cluster_size
         |  FROM cc GROUP BY 1),
         |emb AS (SELECT vec_id AS doc_id, embedding::DOUBLE[] AS emb
         |  FROM embeddings),
         |mem AS (SELECT cc.doc_id, cc.cluster_id, csz.cluster_size,
         |    emb.emb
         |  FROM cc JOIN csz USING (cluster_id) JOIN emb USING (doc_id)
         |  WHERE cluster_size >= 2),
         |p AS (SELECT a.cluster_id, a.doc_id, a.cluster_size,
         |    CAST(round(list_inner_product(a.emb, b.emb)
         |      / (sqrt(list_inner_product(a.emb, a.emb))
         |        * sqrt(list_inner_product(b.emb, b.emb))), 9)
         |      AS DECIMAL(38,12)) AS cos
         |  FROM mem a JOIN mem b ON a.cluster_id = b.cluster_id
         |    AND a.doc_id <> b.doc_id),
         |s AS (SELECT cluster_id, doc_id, cluster_size,
         |    CAST(sum(cos) AS DECIMAL(38,12)) AS sum_cos,
         |    count(*) AS n_nbrs
         |  FROM p GROUP BY 1, 2, 3),
         |r AS (SELECT *, row_number() OVER (PARTITION BY cluster_id
         |    ORDER BY sum_cos DESC, doc_id) AS rn FROM s)
         |SELECT cluster_id, doc_id AS medoid_doc, cluster_size,
         |  round(CAST(sum_cos AS DOUBLE) / n_nbrs, 9)
         |    AS mean_cos
         |FROM r WHERE rn = 1 ORDER BY cluster_id""".stripMargin,
    // incremental ≡ full is the contract: the oracle IS the full
    // recompute, so the hash gate proves the maintenance path exact
    "q135_incremental_clusters" -> fullClustersSql,
    "q80_source_mirrors" ->
      s"""WITH $bandsSql,
         |$candidatePairsSql,
         |$jaccardSql,
         |m AS (SELECT least(da.source, db.source) AS source_a,
         |    greatest(da.source, db.source) AS source_b,
         |    n_common, sa.sz + sb.sz - n_common AS n_union
         |  FROM jac
         |  JOIN inter USING (doc_a, doc_b)
         |  JOIN sizes sa ON sa.doc_id = jac.doc_a
         |  JOIN sizes sb ON sb.doc_id = jac.doc_b
         |  JOIN documents da ON da.doc_id = jac.doc_a
         |  JOIN documents db ON db.doc_id = jac.doc_b
         |  WHERE jaccard >= $JaccardMin)
         |SELECT source_a, source_b, count(*) AS n_pairs,
         |  CAST(sum(n_common) AS DOUBLE) / CAST(sum(n_union) AS BIGINT)
         |    AS pooled_jaccard
         |FROM m GROUP BY source_a, source_b
         |ORDER BY n_pairs DESC, source_a, source_b""".stripMargin,
    "q82_dup_spans" ->
      s"""WITH t AS (SELECT doc_id, ${TextFns.sql.toks} AS w FROM documents),
         |g AS (SELECT doc_id, p,
         |    ${TextFns.sql.hash60(
             s"'sp|' || array_to_string(list_slice(w, p + 1, p + $SpanGramTokens), ' ')")} AS h
         |  FROM (SELECT doc_id, w, unnest(range(len(w) - $SpanGramTokens + 1)) AS p
         |    FROM t WHERE len(w) >= $SpanGramTokens)),
         |dup AS (SELECT h FROM g GROUP BY h
         |  HAVING count(DISTINCT doc_id) >= $SpanMinDocs),
         |isl AS (SELECT doc_id, p,
         |    p - row_number() OVER (PARTITION BY doc_id ORDER BY p) AS grp
         |  FROM g JOIN dup USING (h))
         |SELECT doc_id, CAST(min(p) AS BIGINT) AS span_start,
         |  CAST(max(p) - min(p) + $SpanGramTokens AS BIGINT) AS span_tokens
         |FROM isl GROUP BY doc_id, grp
         |ORDER BY doc_id, span_start""".stripMargin,
    "q85_containment_pairs" ->
      s"""WITH ${TextAnalysis.winnowSql},
         |f AS (SELECT DISTINCT doc_id,
         |    list_extract(kh, CAST(pos AS INT) + 1) AS fp FROM u),
         |d AS (SELECT fp FROM f GROUP BY fp
         |  HAVING count(*) <= $ContainMaxFpDocs),
         |r AS (SELECT f.doc_id, f.fp FROM f JOIN d USING (fp)),
         |n AS (SELECT doc_id, count(*) AS nf FROM r GROUP BY doc_id),
         |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |    count(*) AS n_shared
         |  FROM r a JOIN r b ON a.fp = b.fp AND a.doc_id < b.doc_id
         |  GROUP BY a.doc_id, b.doc_id
         |  HAVING count(*) >= $ContainMinShared)
         |SELECT doc_a, doc_b, n_shared,
         |  round(CAST(n_shared AS DOUBLE) / least(na.nf, nb.nf), 9)
         |    AS containment
         |FROM p JOIN n na ON na.doc_id = p.doc_a
         |JOIN n nb ON nb.doc_id = p.doc_b
         |ORDER BY doc_a, doc_b""".stripMargin,
    // q85's candidate chain (winnow fps → df cap → fp self-join → p)
    // + the exact shingle-level containment verify and the keep/cut
    // rule — winnowSql's `t` CTE already carries the token arrays the
    // shingle build needs
    "q87_containment_dedup" ->
      s"""WITH ${TextAnalysis.winnowSql},
         |f AS (SELECT DISTINCT doc_id,
         |    list_extract(kh, CAST(pos AS INT) + 1) AS fp FROM u),
         |d AS (SELECT fp FROM f GROUP BY fp
         |  HAVING count(*) <= $ContainMaxFpDocs),
         |r AS (SELECT f.doc_id, f.fp FROM f JOIN d USING (fp)),
         |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM r a JOIN r b ON a.fp = b.fp AND a.doc_id < b.doc_id
         |  GROUP BY a.doc_id, b.doc_id
         |  HAVING count(*) >= $ContainMinShared),
         |exd AS (SELECT doc_id, ${TextFns.sql.hash60("sx")} AS s FROM (
         |  SELECT doc_id, unnest(list_distinct(list_transform(range(len(w) - 1),
         |    i -> w[CAST(i AS INT) + 1] || ' ' || w[CAST(i AS INT) + 2]))) AS sx FROM t)),
         |sizes AS (SELECT doc_id, count(*) AS sz FROM exd GROUP BY doc_id),
         |inter AS (SELECT p.doc_a, p.doc_b, count(*) AS n_common
         |  FROM p JOIN exd a ON a.doc_id = p.doc_a
         |  JOIN exd b ON b.doc_id = p.doc_b AND b.s = a.s
         |  GROUP BY p.doc_a, p.doc_b),
         |v AS (SELECT i.doc_a, i.doc_b, i.n_common,
         |    round(CAST(i.n_common AS DOUBLE) / NULLIF(least(sa.sz, sb.sz), 0), 9)
         |      AS containment,
         |    CASE WHEN sa.sz < sb.sz THEN i.doc_a
         |         WHEN sb.sz < sa.sz THEN i.doc_b
         |         ELSE greatest(i.doc_a, i.doc_b) END AS cut_doc
         |  FROM inter i JOIN sizes sa ON sa.doc_id = i.doc_a
         |  JOIN sizes sb ON sb.doc_id = i.doc_b)
         |SELECT doc_a, doc_b, n_common, containment,
         |  CASE WHEN cut_doc = doc_a THEN doc_b ELSE doc_a END AS keep_doc,
         |  cut_doc
         |FROM v WHERE containment >= $ContainVerifyMin
         |ORDER BY doc_a, doc_b""".stripMargin,
    // q87's FULL pipeline restricted to pairs touching the q135
    // new-batch slice — the gate proves the incremental fold emits
    // exactly the decisions a full recompute would for the batch's
    // collision neighborhood (old×old rows live in yesterday's table)
    "q137_incremental_containment" -> {
      def isNew(c: String) =
        s"${TextFns.sql.hash32(s"'inc|' || CAST($c AS VARCHAR)")} % $IncMod = 0"
      s"""WITH ${TextAnalysis.winnowSql},
         |f AS (SELECT DISTINCT doc_id,
         |    list_extract(kh, CAST(pos AS INT) + 1) AS fp FROM u),
         |d AS (SELECT fp FROM f GROUP BY fp
         |  HAVING count(*) <= $ContainMaxFpDocs),
         |r AS (SELECT f.doc_id, f.fp FROM f JOIN d USING (fp)),
         |p0 AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM r a JOIN r b ON a.fp = b.fp AND a.doc_id < b.doc_id
         |  GROUP BY a.doc_id, b.doc_id
         |  HAVING count(*) >= $ContainMinShared),
         |p AS (SELECT * FROM p0
         |  WHERE ${isNew("doc_a")} OR ${isNew("doc_b")}),
         |exd AS (SELECT doc_id, ${TextFns.sql.hash60("sx")} AS s FROM (
         |  SELECT doc_id, unnest(list_distinct(list_transform(range(len(w) - 1),
         |    i -> w[CAST(i AS INT) + 1] || ' ' || w[CAST(i AS INT) + 2]))) AS sx FROM t)),
         |sizes AS (SELECT doc_id, count(*) AS sz FROM exd GROUP BY doc_id),
         |inter AS (SELECT p.doc_a, p.doc_b, count(*) AS n_common
         |  FROM p JOIN exd a ON a.doc_id = p.doc_a
         |  JOIN exd b ON b.doc_id = p.doc_b AND b.s = a.s
         |  GROUP BY p.doc_a, p.doc_b),
         |v AS (SELECT i.doc_a, i.doc_b, i.n_common,
         |    round(CAST(i.n_common AS DOUBLE) / NULLIF(least(sa.sz, sb.sz), 0), 9)
         |      AS containment,
         |    CASE WHEN sa.sz < sb.sz THEN i.doc_a
         |         WHEN sb.sz < sa.sz THEN i.doc_b
         |         ELSE greatest(i.doc_a, i.doc_b) END AS cut_doc
         |  FROM inter i JOIN sizes sa ON sa.doc_id = i.doc_a
         |  JOIN sizes sb ON sb.doc_id = i.doc_b)
         |SELECT doc_a, doc_b, n_common, containment,
         |  CASE WHEN cut_doc = doc_a THEN doc_b ELSE doc_a END AS keep_doc,
         |  cut_doc
         |FROM v WHERE containment >= $ContainVerifyMin
         |ORDER BY doc_a, doc_b""".stripMargin
    },
    // the three cut sets composed with precedence: exact fp groups
    // (q21's normalization), transitive near-dup clusters (q54's
    // recursive CTE), verified containment cuts (q87's chain with its
    // verify renamed c* — jac's exd/sizes double as the shingle sets)
    "q102_leakage_safe_split" ->
      s"""WITH RECURSIVE $bandsSql,
         |$candidatePairsSql,
         |$jaccardSql,
         |verified AS (SELECT doc_a, doc_b FROM jac WHERE jaccard >= $JaccardMin),
         |edges AS (
         |  SELECT doc_a AS u, doc_b AS v FROM verified
         |  UNION
         |  SELECT doc_b AS u, doc_a AS v FROM verified),
         |reach(u, lbl) AS (
         |  SELECT u, u AS lbl FROM (SELECT DISTINCT u FROM edges)
         |  UNION
         |  SELECT e.u, r.lbl FROM edges e JOIN reach r ON r.u = e.v),
         |cc AS (SELECT u AS doc_id, min(lbl) AS cluster_id FROM reach GROUP BY u),
         |rep AS (SELECT d.doc_id, COALESCE(cc.cluster_id, d.doc_id) AS rep
         |        FROM documents d LEFT JOIN cc ON cc.doc_id = d.doc_id),
         |asg AS (SELECT doc_id, rep,
         |    CASE WHEN ${TextFns.sql.hash32("'lsplit|' || CAST(rep AS VARCHAR)")} % 100 < ${Curation.TrainPct} THEN 'train'
         |         WHEN ${TextFns.sql.hash32("'lsplit|' || CAST(rep AS VARCHAR)")} % 100 < ${Curation.ValPct} THEN 'val'
         |         ELSE 'test' END AS split
         |  FROM rep),
         |leaky AS (SELECT CAST(sum(CASE WHEN ns > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_leaky_groups
         |  FROM (SELECT rep, count(DISTINCT split) AS ns FROM asg GROUP BY rep))
         |SELECT split, count(*) AS n_docs, count(DISTINCT rep) AS n_groups, n_leaky_groups
         |FROM asg CROSS JOIN leaky
         |GROUP BY split, n_leaky_groups
         |ORDER BY split""".stripMargin,
    "q89_keep_ledger" -> keepLedgerSql,
    // the full q89 ledger as a nested-WITH subquery, joined to token
    // counts and rolled up per cut reason
    "q130_dedup_savings" ->
      s"""WITH tok AS (SELECT doc_id, len(${TextFns.sql.toks}) AS t FROM documents),
         |tot AS (SELECT CAST(sum(t) AS BIGINT) AS total FROM tok),
         |l AS ($keepLedgerSql)
         |SELECT l.reason, count(*) AS n_docs, CAST(sum(tok.t) AS BIGINT) AS n_tokens,
         |  round(CAST(sum(tok.t) AS DOUBLE) / max(tot.total), 9) AS token_share
         |FROM l JOIN tok USING (doc_id) CROSS JOIN tot
         |GROUP BY l.reason ORDER BY l.reason""".stripMargin)

  /** The q54 oracle text — the full-corpus transitive closure, shared
    * verbatim by q135 (whose gate is exactly "incremental ≡ full").
    */
  private def fullClustersSql: String =
    s"""WITH RECURSIVE $bandsSql,
       |$candidatePairsSql,
       |$jaccardSql,
       |verified AS (SELECT doc_a, doc_b FROM jac WHERE jaccard >= $JaccardMin),
       |edges AS (
       |  SELECT doc_a AS u, doc_b AS v FROM verified
       |  UNION
       |  SELECT doc_b AS u, doc_a AS v FROM verified),
       |reach(u, lbl) AS (
       |  SELECT u, u AS lbl FROM (SELECT DISTINCT u FROM edges)
       |  UNION
       |  SELECT e.u, r.lbl FROM edges e JOIN reach r ON r.u = e.v),
       |cc AS (SELECT u AS doc_id, min(lbl) AS cluster_id FROM reach GROUP BY u),
       |sized AS (SELECT cluster_id, count(*) AS cluster_size FROM cc GROUP BY cluster_id)
       |SELECT cc.doc_id, cc.cluster_id, sized.cluster_size,
       |  cc.doc_id = cc.cluster_id AS is_canonical
       |FROM cc JOIN sized USING (cluster_id)
       |ORDER BY doc_id""".stripMargin

  /** The q89 oracle text (also embedded by q130 as a subquery). */
  private def keepLedgerSql: String =
      s"""WITH RECURSIVE $bandsSql,
         |$candidatePairsSql,
         |$jaccardSql,
         |verified AS (SELECT doc_a, doc_b FROM jac WHERE jaccard >= $JaccardMin),
         |edges AS (
         |  SELECT doc_a AS u, doc_b AS v FROM verified
         |  UNION
         |  SELECT doc_b AS u, doc_a AS v FROM verified),
         |reach(u, lbl) AS (
         |  SELECT u, u AS lbl FROM (SELECT DISTINCT u FROM edges)
         |  UNION
         |  SELECT e.u, r2.lbl FROM edges e JOIN reach r2 ON r2.u = e.v),
         |cc AS (SELECT u AS doc_id, min(lbl) AS cluster_id FROM reach GROUP BY u),
         |nearcut AS (SELECT DISTINCT doc_id FROM cc WHERE doc_id <> cluster_id),
         |${TextAnalysis.winnowSql},
         |f AS (SELECT DISTINCT doc_id,
         |    list_extract(kh, CAST(pos AS INT) + 1) AS fp FROM u),
         |d AS (SELECT fp FROM f GROUP BY fp
         |  HAVING count(*) <= $ContainMaxFpDocs),
         |r AS (SELECT f.doc_id, f.fp FROM f JOIN d USING (fp)),
         |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM r a JOIN r b ON a.fp = b.fp AND a.doc_id < b.doc_id
         |  GROUP BY a.doc_id, b.doc_id
         |  HAVING count(*) >= $ContainMinShared),
         |cinter AS (SELECT p.doc_a, p.doc_b, count(*) AS n_common
         |  FROM p JOIN exd a ON a.doc_id = p.doc_a
         |  JOIN exd b ON b.doc_id = p.doc_b AND b.s = a.s
         |  GROUP BY p.doc_a, p.doc_b),
         |cv AS (SELECT i.doc_a, i.doc_b,
         |    round(CAST(i.n_common AS DOUBLE) / NULLIF(least(sa.sz, sb.sz), 0), 9)
         |      AS containment,
         |    CASE WHEN sa.sz < sb.sz THEN i.doc_a
         |         WHEN sb.sz < sa.sz THEN i.doc_b
         |         ELSE greatest(i.doc_a, i.doc_b) END AS cut_doc
         |  FROM cinter i JOIN sizes sa ON sa.doc_id = i.doc_a
         |  JOIN sizes sb ON sb.doc_id = i.doc_b),
         |containcut AS (SELECT DISTINCT cut_doc AS doc_id FROM cv
         |  WHERE containment >= $ContainVerifyMin),
         |fpx AS (SELECT doc_id, md5($normSql) AS fp FROM documents),
         |keepfp AS (SELECT fp, min(doc_id) AS keeper FROM fpx GROUP BY fp),
         |exactcut AS (SELECT DISTINCT fx.doc_id FROM fpx fx
         |  JOIN keepfp kf ON kf.fp = fx.fp WHERE fx.doc_id <> kf.keeper)
         |SELECT doc.doc_id,
         |  ec.doc_id IS NULL AND ncut.doc_id IS NULL AND ccut.doc_id IS NULL
         |    AS keep,
         |  CASE WHEN ec.doc_id IS NOT NULL THEN 'exact_dup'
         |       WHEN ncut.doc_id IS NOT NULL THEN 'near_dup'
         |       WHEN ccut.doc_id IS NOT NULL THEN 'contained'
         |       ELSE 'keep' END AS reason
         |FROM documents doc
         |LEFT JOIN exactcut ec ON ec.doc_id = doc.doc_id
         |LEFT JOIN nearcut ncut ON ncut.doc_id = doc.doc_id
         |LEFT JOIN containcut ccut ON ccut.doc_id = doc.doc_id
         |ORDER BY doc.doc_id""".stripMargin

  /** Spark-SQL forms for [[SqlSurface]] that are NOT dialect rewrites of
    * the oracle texts: the SQL user gets the same native-kernel plan the
    * DataFrame API runs (`minhash_band_keys` / `simhash32` /
    * `sorted_shingle_hashes` / `sorted_intersect_count` are registered
    * session functions), not the exploded textbook shape the
    * single-threaded oracle uses — bit-equality with the DataFrame form
    * is by construction, and `SqlSurfaceSpec` asserts it.
    */
  lazy val sparkSql: Map[String, String] = {
    val bandsCte =
      """b AS (
        |  SELECT doc_id, band_id, band_key FROM documents
        |  LATERAL VIEW posexplode(minhash_band_keys(text)) t AS band_id, band_key),
        |pairs AS (
        |  SELECT DISTINCT a.doc_id AS doc_a, c.doc_id AS doc_b
        |  FROM b a JOIN b c
        |    ON a.band_id = c.band_id AND a.band_key = c.band_key
        |   AND a.doc_id < c.doc_id)""".stripMargin
    Map(
      "q22_minhash_candidates" ->
        s"""WITH $bandsCte
           |SELECT doc_a, doc_b FROM pairs ORDER BY doc_a, doc_b""".stripMargin,
      "q23_simhash" ->
        """SELECT doc_id, simhash32(text) AS simhash32
          |FROM documents ORDER BY doc_id""".stripMargin,
      "q24_ngram_jaccard" ->
        s"""WITH $bandsCte,
           |sh0 AS (SELECT doc_id, sorted_shingle_hashes(text) AS sh FROM documents),
           |sh AS (SELECT * FROM sh0 WHERE size(sh) > 0),
           |j AS (SELECT doc_a, doc_b,
           |    sorted_intersect_count(x.sh, y.sh) AS n_common,
           |    CAST(size(x.sh) AS BIGINT) AS sz_a,
           |    CAST(size(y.sh) AS BIGINT) AS sz_b
           |  FROM pairs JOIN sh x ON x.doc_id = doc_a
           |             JOIN sh y ON y.doc_id = doc_b),
           |jac AS (SELECT doc_a, doc_b,
           |    round(CAST(n_common AS DOUBLE) /
           |      nullif(sz_a + sz_b - n_common, 0), 9) AS jaccard
           |  FROM j)
           |SELECT doc_a, doc_b, jaccard FROM jac
           |WHERE jaccard >= $JaccardMin ORDER BY doc_a, doc_b""".stripMargin,
      // q24's verified pairs composed with q38's Spark text (nested
      // WITH) — the same shape as the oracle composition
      "q215_dedup_agreement" ->
        s"""WITH $bandsCte,
           |sh0 AS (SELECT doc_id, sorted_shingle_hashes(text) AS sh FROM documents),
           |sh AS (SELECT * FROM sh0 WHERE size(sh) > 0),
           |j AS (SELECT doc_a, doc_b,
           |    sorted_intersect_count(x.sh, y.sh) AS n_common,
           |    CAST(size(x.sh) AS BIGINT) AS sz_a,
           |    CAST(size(y.sh) AS BIGINT) AS sz_b
           |  FROM pairs JOIN sh x ON x.doc_id = doc_a
           |             JOIN sh y ON y.doc_id = doc_b),
           |tp AS (SELECT doc_a, doc_b,
           |    round(CAST(n_common AS DOUBLE) /
           |      nullif(sz_a + sz_b - n_common, 0), 9) AS jaccard
           |  FROM j
           |  WHERE round(CAST(n_common AS DOUBLE) /
           |      nullif(sz_a + sz_b - n_common, 0), 9) >= $JaccardMin),
           |ep AS (${SqlDialect.toSpark(Similarity.oracle("q38_embedding_neardup"))}),
           |u AS (SELECT CASE
           |      WHEN tp.jaccard IS NOT NULL AND ep.cosine IS NOT NULL THEN 'both'
           |      WHEN tp.jaccard IS NOT NULL THEN 'text_only'
           |      ELSE 'embedding_only' END AS method,
           |    tp.jaccard, ep.cosine
           |  FROM tp FULL JOIN ep
           |    ON ep.vec_a = tp.doc_a AND ep.vec_b = tp.doc_b)
           |SELECT method, count(*) AS n_pairs,
           |  round(CAST(sum(CAST(jaccard AS DECIMAL(38,12))) AS DOUBLE) /
           |    NULLIF(count(jaccard), 0), 6) AS mean_jaccard,
           |  round(CAST(sum(CAST(cosine AS DECIMAL(38,12))) AS DOUBLE) /
           |    NULLIF(count(cosine), 0), 6) AS mean_cosine
           |FROM u GROUP BY 1 ORDER BY 1""".stripMargin)
  }

  /** Shared q24/q54/q77 oracle fragment: `jac` = per-candidate-pair
    * shingle Jaccard (expects `toks` + `pairs` CTEs in scope).
    */
  private[operators] def jaccardSql: String =
    s"""exd AS (SELECT doc_id, ${TextFns.sql.hash60("sx")} AS s FROM (
       |  SELECT doc_id, unnest(list_distinct(list_transform(range(len(w) - 1),
       |    i -> w[CAST(i AS INT) + 1] || ' ' || w[CAST(i AS INT) + 2]))) AS sx FROM toks)),
       |sizes AS (SELECT doc_id, count(*) AS sz FROM exd GROUP BY doc_id),
       |inter AS (
       |  SELECT p.doc_a, p.doc_b, count(*) AS n_common
       |  FROM pairs p
       |  JOIN exd a ON a.doc_id = p.doc_a
       |  JOIN exd b ON b.doc_id = p.doc_b AND b.s = a.s
       |  GROUP BY p.doc_a, p.doc_b),
       |jac AS (
       |  SELECT doc_a, doc_b,
       |    round(CAST(n_common AS DOUBLE) /
       |      NULLIF(sa.sz + sb.sz - n_common, 0), 9) AS jaccard
       |  FROM inter
       |  JOIN sizes sa ON sa.doc_id = inter.doc_a
       |  JOIN sizes sb ON sb.doc_id = inter.doc_b)""".stripMargin

  /** Shared oracle fragment for composers (q115): the full near-dup
    * cluster derivation ending in `cc` = (doc_id, cluster_id) — the
    * q54 transitive-closure prefix. Callers must open WITH RECURSIVE.
    */
  private[operators] def ccSql: String =
    s"""$bandsSql,
       |$candidatePairsSql,
       |$jaccardSql,
       |verified AS (SELECT doc_a, doc_b FROM jac WHERE jaccard >= $JaccardMin),
       |edges AS (
       |  SELECT doc_a AS u, doc_b AS v FROM verified
       |  UNION
       |  SELECT doc_b AS u, doc_a AS v FROM verified),
       |reach(u, lbl) AS (
       |  SELECT u, u AS lbl FROM (SELECT DISTINCT u FROM edges)
       |  UNION
       |  SELECT e.u, r2.lbl FROM edges e JOIN reach r2 ON r2.u = e.v),
       |cc AS (SELECT u AS doc_id, min(lbl) AS cluster_id FROM reach GROUP BY u)""".stripMargin
}
