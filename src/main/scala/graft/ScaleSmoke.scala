package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Analytics, Curation, Dedup, Events, Multimodal, Similarity, TextAnalysis}
import graft.sources.Tables
import graft.streaming.Sessionize

/** Scale-behavior smoke: replicate the sf0.1 fixtures ~10× (50 k docs,
  * 1 M events, 20 k vectors) and time the heavy operators. The point is
  * the growth CURVE, not absolute numbers — an operator whose cost is
  * linear-ish in rows here has the plan shape that survives the next
  * 1000×; one that blows up quadratically or collapses to one core
  * does not.
  */
object ScaleSmoke {
  def main(args: Array[String]): Unit = {
    val mult = args.headOption.map(_.toInt).getOrElse(10)
    val sf = "/root/testdata/sf0.1"
    val wh = "/dev/shm/graft-scale-smoke"
    val spark = Session.local(32)

    def replicate(df: DataFrame, idCol: String, out: String): DataFrame = {
      val ids = spark.range(mult).select(col("id").as("__rep"))
      df.crossJoin(ids)
        .withColumn(idCol, col(idCol) + col("__rep") * lit(10000000L))
        .drop("__rep")
        .repartition(32)
        .write.mode("overwrite").parquet(out)
      spark.read.parquet(out)
    }

    def t(name: String)(f: => Long): Unit = {
      val t0 = System.nanoTime(); val n = f
      println(f"[scale] $name: rows=$n ${(System.nanoTime() - t0) / 1e9}%.1f s")
    }

    val docs = replicate(Tables.documents(spark, sf), "doc_id", s"$wh/documents")
    val events = replicate(Tables.events(spark, sf), "event_id", s"$wh/events")
    val emb = replicate(Tables.embeddings(spark, sf), "vec_id", s"$wh/embeddings")
    println(s"[scale] mult=$mult docs=${docs.count()} events=${events.count()} vecs=${emb.count()}")

    t("token_stats") { TextAnalysis.tokenStatsFrom(docs).count() }
    t("exact_dedup") { Dedup.exactDedupFrom(docs).count() }
    t("simhash") { Dedup.simhashFrom(docs).count() }
    t("minhash_candidates") { Dedup.candidatePairsFrom(Dedup.bandsFrom(docs)).count() }
    // best-practice pipeline order: collapse exact duplicates first —
    // LSH candidate pairs grow quadratically per duplicate cluster, so
    // dedup-then-minhash is ~100× cheaper on replica-heavy corpora
    t("dedup_then_minhash") {
      val canonical = docs.withColumn("fp", md5(col("text"))).dropDuplicates("fp")
      Dedup.candidatePairsFrom(Dedup.bandsFrom(canonical)).count()
    }
    // jaccard verification in the standard pipeline order (exact-dedup
    // first): candidate volume stays near the original corpus's
    t("dedup_then_jaccard") {
      val canonical = docs.withColumn("fp", md5(col("text"))).dropDuplicates("fp")
      Dedup.ngramJaccardFrom(canonical).count()
    }
    t("knn_bruteforce") { Similarity.knnBruteFrom(emb).count() }
    t("ann_lsh") { Similarity.annLshFrom(emb).count() }
    t("ann_ivf") { Similarity.annIvfFrom(emb).count() }
    t("embedding_neardup") { Similarity.embeddingNearDupFrom(emb).count() }
    // Σ bucket² = pair comparisons the near-dup self-join performs: the
    // banded 4×8-plane family must stay well under the legacy single
    // 4-plane family (16 buckets → ≈N²/16) as the corpus grows
    val legacyCmp = Similarity.nearDupComparisons(emb, families = 1, planesPerFamily = 4)
    val bandedCmp = Similarity.nearDupComparisons(emb)
    println(f"[scale] neardup_comparisons: legacy16bucket=$legacyCmp banded4x8=$bandedCmp " +
      f"reduction=${legacyCmp.toDouble / bandedCmp}%.1fx")
    t("event_windows") { Events.eventWindowsFrom(events).count() }
    t("topk_per_key") { Events.topKPerUserFrom(events).count() }
    t("sessionize") { Sessionize.sessions(events).count() }
    // round-4 operators: per-iteration linear k-means, Σ cell² semantic
    // dedup, two-pass prefix-sum packing (note: the replicas' sparse
    // shifted ids exercise the arithmetic-pid imbalance caveat), the
    // vocab-bounded KL aggregate, Σ basket² co-occurrence, and
    // log-round connected components in pipeline order (exact-dedup
    // first keeps the pair relation near-linear)
    t("kmeans_train") { Similarity.kmeansTrainFrom(emb).count() }
    // trained-codebook IVF (q61 → q36 wiring) + recall vs brute force
    val trained = Similarity.trainCentroids(emb)
    t("ann_ivf_trained") { Similarity.annIvfFrom(emb, Some(trained)).count() }
    locally {
      def pairs(df: DataFrame) = df.select("query_id", "neighbor_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val truth = pairs(Similarity.knnBruteFrom(emb))
      val recS = pairs(Similarity.annIvfFrom(emb)).intersect(truth).size.toDouble / truth.size
      val recT = pairs(Similarity.annIvfFrom(emb, Some(trained))).intersect(truth).size.toDouble / truth.size
      println(f"[scale] ivf_recall: seeded=$recS%.2f trained=$recT%.2f")
    }
    t("semantic_dedup") { Similarity.semanticDedupFrom(emb).count() }
    t("pack_sequences") { Curation.packSequencesFrom(docs).count() }
    t("source_kl") { TextAnalysis.sourceKlFrom(docs).count() }
    t("item_cooccurrence") { Analytics.itemCooccurrenceFrom(events).count() }
    t("dedup_then_clusters") {
      val canonical = docs.withColumn("fp", md5(col("text"))).dropDuplicates("fp")
      Dedup.clustersOfVerified(Dedup.ngramJaccardFrom(canonical)).count()
    }
    // round-5 operators. Replicated docs are exact duplicates, so the
    // substring/mirror passes run in pipeline order (exact-dedup first):
    // on the raw replicas every position is trivially "duplicated" and
    // the span output would be corpus-sized boilerplate, which is the
    // degenerate case exact dedup exists to remove.
    t("winnow_fingerprints") { TextAnalysis.winnowFingerprintsFrom(docs).count() }
    t("shuffle_shards") {
      Curation.shuffleShardsFrom(Curation.packSequencesFrom(docs)).count()
    }
    t("ann_rerank") { Similarity.annRerankFrom(emb).count() }
    t("dedup_then_spans") {
      val canonical = docs.withColumn("fp", md5(col("text"))).dropDuplicates("fp")
      Dedup.dupSpansFrom(canonical).count()
    }
    t("dedup_then_mirrors") {
      val canonical = docs.withColumn("fp", md5(col("text"))).dropDuplicates("fp")
      Dedup.sourceMirrorsFrom(canonical).count()
    }
    // round-6b operators: the binned interval self-join (cost ∝ per-bin
    // co-activity — replication multiplies concurrent sessions, so this
    // is the stress case), degree-oriented triangles (wedges bounded by
    // the oriented out-degree even as baskets densify), and the two
    // q25-shaped matryoshka passes
    t("session_overlap") { Events.sessionOverlapFrom(events).count() }
    t("item_triangles") { Analytics.itemTrianglesFrom(events).count() }
    t("matryoshka_recall") { Similarity.matryoshkaRecallFrom(emb).count() }
    // q82 shuffle audit: the broadcast-dup-set rewrite ships per-doc-
    // DISTINCT gram hashes to the one df-count shuffle and runs the
    // island merge map-side; the join-back formulation it replaced
    // re-shuffled EVERY stride-1 position into the dup join and again
    // into the per-doc window. positions/distinct is the volume the
    // rewrite stopped moving (≥1 by construction; grows with dup mass).
    locally {
      val canonical = docs.withColumn("fp", md5(col("text"))).dropDuplicates("fp")
      val g = Dedup.spanGramArrays(canonical)
        .select(size(col("kh")).cast("long").as("pos"),
          size(array_distinct(col("kh"))).cast("long").as("dis"))
        .agg(sum("pos"), sum("dis")).head()
      val (pos, dis) = (g.getLong(0), g.getLong(1))
      // rows the retired island WINDOW would have shuffled and sorted:
      // every duplicated position (islands are runs of them)
      val dupPos = Dedup.dupSpansFrom(canonical)
        .agg(coalesce(sum(col("span_tokens") - Dedup.SpanGramTokens + 1), lit(0L)))
        .head().getLong(0)
      println(f"[scale] dup_spans_shuffle: count_rows=$dis (vs $pos positions) " +
        f"window_rows_cut=$dupPos")
      require(dis <= pos, "distinct gram rows must not exceed positions")
    }
    // round-7 operators: trained-PQ search (the 64 KB-codegen
    // discipline keeps encode/training compiled at any corpus size) and
    // the staged incremental fold — old-state artifacts are the
    // PREVIOUS batch's work, so the timed arm is the new slice's
    // collision neighborhood only
    t("ann_pq_trained") {
      Similarity.annPqFrom(emb, Some(Similarity.trainPqCodebooks(emb))).count()
    }
    locally {
      val canonical = docs.withColumn("fp", md5(col("text"))).dropDuplicates("fp")
      val (o, n) = Dedup.incSplit(canonical)
      Dedup.dedupClustersFrom(o).write.mode("overwrite").parquet(s"$wh/oldclusters")
      Dedup.bandsFrom(o).write.mode("overwrite").parquet(s"$wh/oldbands")
      Dedup.shinglesFrom(o).write.mode("overwrite").parquet(s"$wh/oldsh")
      t("incremental_fold") {
        Dedup.incrementalClustersStaged(
          spark.read.parquet(s"$wh/oldclusters"),
          spark.read.parquet(s"$wh/oldbands"),
          spark.read.parquet(s"$wh/oldsh"), n).count()
      }
    }
    // round-7b operators. Replication multiplies EVERY co-occurrence
    // pair weight ~uniformly, which is exactly the case where a fixed
    // support floor stays a no-op (complete graph at any scale) — the
    // 0.9-quantile edge cut keeps the kept-edge count distribution-
    // stable instead, so wedge work stays bounded as the corpus grows.
    locally {
      val kept = Analytics.cooccurEdges(events).count()
      println(s"[scale] cooccur_quantile_cut: kept_edges=$kept")
    }
    t("label_communities") { Analytics.labelCommunitiesFrom(events).count() }
    t("link_prediction") { Analytics.linkPredictFrom(events).count() }
    t("sketch_rollup") { Analytics.sketchRollupFrom(events).count() }
    t("priority_sample") { Curation.prioritySampleFrom(docs).count() }
    t("oov_rate") { TextAnalysis.oovRateFrom(docs).count() }
    // round-8 operators: all linear-shaped — q158/q168 are q25-shaped
    // broadcast scans whose rank cuts ride WindowGroupLimit (the
    // exchange carries ≤2 rows per vector, never the scored corpus);
    // q161/q163 are event-keyed aggregates + model-sized windows;
    // q164/q170 one-pass moment/centroid audits (replication preserves
    // the doc_id↔vec_id alignment, so the q170 join stays 1:1);
    // q166's counts are vocab-bounded; q167 is one scan + a union.
    t("triplet_mining") { Similarity.tripletMiningFrom(emb).count() }
    t("uncertainty_sample") { Similarity.uncertaintySampleFrom(emb).count() }
    t("collapse_audit") { Similarity.collapseAuditFrom(emb).count() }
    t("source_drift") { Similarity.sourceDriftFrom(docs, emb).count() }
    t("hybrid_search") { Similarity.hybridSearchFrom(docs, emb).count() }
    t("decayed_popularity") { Analytics.decayedPopularityFrom(events).count() }
    t("cusum_drift") { Events.cusumDriftFrom(events).count() }
    t("collocations") { TextAnalysis.collocationsFrom(docs).count() }
    t("cdc_merge") { Curation.cdcMergeFrom(docs).count() }
    // round-9: q172 is a per-payload bounded codec flatMap (≤8 tiny
    // frames per doc) — pure map work, linear by construction
    t("video_frames") {
      val spark = docs.sparkSession
      import spark.implicits._
      val payloads = docs.select(org.apache.spark.sql.functions
        .col("doc_id").cast("long")).as[Long]
        .map(id => (id, Multimodal.gifBytes(id))).toDF("doc_id", "payload")
      Multimodal.sampleGifFrames(payloads, Multimodal.VideoPerDoc).count()
    }
    // round-9: q173 folds to a metadata-scale QI-class relation; q174
    // is one per-user window + one type aggregate; q175's counts are
    // source-gram-vocabulary-bounded; q176 pairs form within clusters
    // only (synthetic id-derived clusters of 3 — the operator's join/
    // window shape at scale without re-running the q54 fixpoint here)
    t("k_anonymity") { Curation.kAnonymityFrom(docs).count() }
    t("event_disorder") { Events.eventDisorderFrom(events).count() }
    t("boilerplate_templates") {
      TextAnalysis.boilerplateTemplatesFrom(docs).count()
    }
    t("cluster_medoids") {
      val cl = emb.select(col("vec_id").as("doc_id"),
        expr("vec_id div 3").as("cluster_id"), lit(3L).as("cluster_size"))
      Dedup.clusterMedoidsOf(cl, emb).count()
    }
    // round-9b: q177's support pool is the q66 basket self-join with a
    // support cut bounding the edge relation; q178/q179 fold docs once
    // to score-/fp-grained relations; q180 pairs form only within SRP
    // buckets (smoked at 8 planes = 256 buckets — the scale dial the
    // gated 4-plane query documents); q181 is one user_id shuffle plus
    // an hour-grain map-side count.
    t("rec_hit_rate") { Analytics.recHitRateFrom(events).count() }
    t("calibrated_cut") { TextAnalysis.calibratedCutFrom(docs).count() }
    t("soft_dedup_weights") { Dedup.softDedupWeightsFrom(docs).count() }
    t("label_noise") { Similarity.labelNoiseFrom(emb, planes = 8).count() }
    t("bot_audit") { Events.botAuditFrom(events).count() }
    // round-9c: q182/q183 fold docs once to source-/decile-grained
    // relations; q184 is the q22/q24 candidate+intersection pass with
    // arm replication on the pair relation only (replica-heavy smoke
    // corpora inflate candidates exactly like the raw minhash arm);
    // q185 rolls q175's bounded template relation to the gram grain
    t("source_concentration") { Curation.sourceConcentrationFrom(docs).count() }
    t("vocab_growth") { TextAnalysis.vocabGrowthFrom(docs).count() }
    t("dedup_sensitivity") { Dedup.dedupSensitivityFrom(docs).count() }
    t("syndication") { TextAnalysis.syndicationFrom(docs).count() }
    t("curriculum_fill") { Curation.curriculumFillFrom(docs).count() }
    t("truncation_loss") { Curation.truncationLossFrom(docs).count() }
    t("ivf_balance") { Similarity.ivfBalanceFrom(emb).count() }
    // replica-heavy smoke corpora exercise the dup paths the raw
    // fixture lacks (every doc has mult-1 exact copies here)
    t("dup_geography") { Dedup.dupGeographyFrom(docs).count() }
    t("dup_size_histogram") { Dedup.dupSizeHistogramFrom(docs).count() }
    t("item_novelty") { Analytics.itemNoveltyFrom(events).count() }
    t("embedding_coverage") {
      Similarity.embeddingCoverageFrom(docs, emb).count()
    }
    t("composition_grid") { Curation.compositionGridFrom(docs).count() }
    // round-10: BPE training is one corpus pass to the word-frequency
    // table, then vocabulary-bounded rounds — replicas share the vocab
    // so round cost is flat in corpus size by construction
    t("bpe_train") { TextAnalysis.bpeTrainFrom(docs).count() }
    // round-10: the q89→q52→q63→q81 chain as ONE job on the replicated
    // corpus — the composition proof at smoke scale (the ledger's exact
    // cut absorbs the replicas; packing + shard deal ride the
    // survivors). A driver-side cliff between stages would surface here
    // as a stall, not in the per-operator arms.
    t("training_shards_chained") {
      graft.app.CorpusPipeline.trainingShards(docs).count()
    }
    // round-10: q196's AVI parse + JPEG decode is per-payload bounded
    // codec work like q172 — pure map, linear by construction
    t("avi_frames") {
      val sp = docs.sparkSession
      import sp.implicits._
      val payloads = docs.select(col("doc_id").cast("long")).as[Long]
        .map(id => (id, Multimodal.aviBytes(id))).toDF("doc_id", "payload")
      Multimodal.sampleAviFrames(payloads, Multimodal.AviPerDoc).count()
    }
    // q197: fingerprint relation checkpointed (one decode pass), pairs
    // confined to equal-fingerprint buckets. NOTE the replicated ids
    // pile into the same mod-96 classes, so the PAIR OUTPUT here is
    // Σ class² — quadratic in the replication factor by fixture
    // construction (the raw-minhash replica caveat), not a plan
    // property; real corpora's dup classes are small
    t("video_neardup") {
      val sp = docs.sparkSession
      import sp.implicits._
      val payloads = docs.select(col("doc_id").cast("long")).as[Long]
        .map(id => (id, Multimodal.aviBytes(id))).toDF("doc_id", "payload")
      Multimodal.videoNearDupFrom(payloads).count()
    }
    // round-10: MP4 box parse + keyframe-only JPEG decode — per-payload
    // bounded codec work like the AVI arm, pure map, linear by
    // construction (only stss-listed byte ranges are ever decoded)
    t("mp4_keyframes") {
      val sp = docs.sparkSession
      import sp.implicits._
      val payloads = docs.select(col("doc_id").cast("long")).as[Long]
        .map(id => (id, Multimodal.mp4Bytes(id))).toDF("doc_id", "payload")
      Multimodal.sampleMp4Keyframes(payloads, Multimodal.Mp4PerDoc).count()
    }
    // r12: H.264 metadata is per-payload bounded bit parsing (avcC +
    // SPS/PPS Exp-Golomb + sample NAL scan), pure map, no decode
    t("h264_meta") {
      val sp = docs.sparkSession
      import sp.implicits._
      val payloads = docs.select(col("doc_id").cast("long")).as[Long]
        .map(id => (id, Multimodal.mp4AvcBytes(id))).toDF("doc_id", "payload")
      Multimodal.h264MetaOf(payloads).count()
    }
    // round-11: the fragmented layout pays the same bounded map work —
    // one moof walk per payload, only sync-flagged trun samples decode
    t("mp4_frag_keyframes") {
      val sp = docs.sparkSession
      import sp.implicits._
      val payloads = docs.select(col("doc_id").cast("long")).as[Long]
        .map(id => (id, Multimodal.mp4FragBytes(id))).toDF("doc_id", "payload")
      Multimodal.sampleMp4Keyframes(payloads, Multimodal.Mp4PerDoc).count()
    }
    // round-10: tokenizer application runs on the (lang, word) vocab
    // grain — replicas share the vocabulary, so the merge-chain cost is
    // flat in corpus size; only the word-count pass scales with rows
    t("bpe_tokenize") { TextAnalysis.bpeTokenizeFrom(docs).count() }
    // round-10: HLL reduce side is |types|·64 registers no matter how
    // many events flow (the n_exact audit column is the only
    // user-keyed aggregate in the arm)
    t("hll_distinct") { Events.hllDistinctFrom(events).count() }
    // round-10: LM count tables bounded by the observed-bigram
    // vocabulary (shared across replicas); scoring joins key on bigrams
    t("bigram_lm") { TextAnalysis.bigramLmFrom(docs).count() }
    // round-10: rendezvous scoring is map-only — zero corpus shuffle,
    // the exchange carries an 8-row rollup
    t("rendezvous_shards") { Curation.rendezvousShardsFrom(docs).count() }
    // round-10: model-bounded reduce sides (|sources|·vocab / charset)
    t("zipf_slope") { TextAnalysis.zipfSlopeFrom(docs).count() }
    t("char_entropy") { TextAnalysis.charEntropyFrom(docs).count() }
    // r12: NFC check + one regex, pure map into a sources-sized agg
    t("nfc_audit") { TextAnalysis.nfcAuditFrom(docs).count() }
    // r12: prefix-filter exact similarity join — candidates key on
    // globally-rarest tokens, run in pipeline order (exact-dedup
    // first, the q22 replica discipline: identical sets would
    // otherwise make every prefix token a clique key)
    t("dedup_then_ppjoin") {
      val canonical = docs.withColumn("fp", md5(col("text")))
        .dropDuplicates("fp")
      Dedup.ppjoinPairsFrom(canonical).count()
    }
    // round-10: OOF encoding folds to a |types|·5 model relation —
    // one combine-heavy pass regardless of event volume (q211's
    // streaming HLL twin is state-bounded by construction: 64 ints per
    // type, the HllAggSpec drain-equality gate)
    t("oof_encoding") { Events.oofEncodingFrom(events).count() }
    // round-11: DP release is one map+agg pass, noise is |sources|-row
    // scalar work
    t("dp_release") { Curation.dpReleaseFrom(docs).count() }
    // round-11 (r12: legs now DRIVE the replicated corpus — hardcoding
    // the sf dir measured constant-size work and made the bounded-at-
    // scale claim vacuous): evolved-layout vintage writes + merged read
    // scale with the corpus; time-travel's publishes are source-keyed
    // aggregates over it
    t("schema_evolution") {
      Curation.schemaEvolutionOf(
        graft.sources.Evolved.writeAndRead(docs, s"$wh/evolved")).count()
    }
    t("time_travel") {
      Curation.timeTravelOf(docs, s"$wh/ttwh", "tt_smoke").count()
    }
    // round-11: one q57-shaped scoring pass + |sources|-row algebra
    t("mixture_reweight") { Curation.mixtureReweightFrom(docs).count() }
    // round-11: logistic inference is pure map work
    t("quality_model") { TextAnalysis.qualityModelFrom(docs).count() }
    // round-11: rank tables at the VALUE grain (distinct metric values),
    // moments one all-combining pass
    t("spearman_corr") { Analytics.spearmanCorrFrom(events).count() }
    // r12: NEAR-CONTINUOUS metric domain — every event carries a
    // distinct cent value, so per-user sums are near-unique and the
    // rank relation's cardinality approaches user cardinality. This is
    // the shape that serialized the old global rank window through one
    // task; the two-phase prefix scan must hold it distributed.
    t("spearman_continuous") {
      Analytics.spearmanCorrFrom(events.withColumn("value",
        col("value") + (col("event_id") % 1000000L).cast("double") / 100.0))
        .count()
    }
    // r12: the quantile family rides the same histogram + distributed
    // prefix — per-type value grains, bucket-parallel windows, no
    // per-group sort or value buffer anywhere
    t("exact_quantiles") { Analytics.exactQuantilesFrom(events).count() }
    t("psi_drift") { Analytics.psiDriftFrom(events).count() }
    t("robust_outliers") { Analytics.robustOutliersFrom(events).count() }
    // r12c: conformal's order statistic rides the same Prefix engine;
    // KM's corpus work is one user-grain aggregate; LPM is map-side
    // broadcast equi-joins; richness is a vocab-bounded aggregate
    t("conformal_coverage") { Analytics.conformalFrom(events).count() }
    t("km_retention") { Analytics.kmRetentionFrom(events).count() }
    t("lpm_enrich") { Events.lpmEnrichFrom(events).count() }
    t("vocab_richness") { TextAnalysis.vocabRichnessFrom(docs).count() }
    // r12c: the skyline's supplier-grain relation grows with the
    // replicas (all three star keys shifted in lockstep)
    t("pareto_suppliers") {
      val reps = spark.range(mult).select(col("id").as("__rep"))
      val shift = lit(100000000L) * col("__rep")
      val s = Tables.supplier(spark, sf).crossJoin(reps)
        .withColumn("s_suppkey", col("s_suppkey") + shift).drop("__rep")
      val o = Tables.orders(spark, sf).crossJoin(reps)
        .withColumn("o_orderkey", col("o_orderkey") + shift).drop("__rep")
      val l = Tables.lineitem(spark, sf).crossJoin(reps)
        .withColumn("l_orderkey", col("l_orderkey") + shift)
        .withColumn("l_suppkey", col("l_suppkey") + shift).drop("__rep")
      graft.operators.SupplierPerf.paretoFrom(s, l, o).count()
    }
    // r12c: MMR's corpus passes scale; the greedy fold stays |q|·C²
    t("mmr_rerank") { Similarity.mmrFrom(emb).count() }
    // r12c: link extraction is per-doc map work over replicated pages
    t("link_graph") {
      val sp = docs.sparkSession
      import sp.implicits._
      val pages = docs
        .select(col("doc_id").cast("long"), col("text"), col("source"))
        .as[(Long, String, String)]
        .map { case (id, tx, so) =>
          (id, s"https://site${id % graft.operators.Html.LinkHosts}" +
            s".example/doc$id", graft.operators.Html.linkPageOf(id, tx, so))
        }.toDF("doc_id", "url", "html")
      graft.operators.Html.linkGraphOf(pages).count()
    }
    // r12c: the TIFF walk is per-doc map work
    t("exif_meta") {
      val sp = docs.sparkSession
      import sp.implicits._
      val payloads = docs.select(col("doc_id").cast("long")).as[Long]
        .map(id => (id, Multimodal.exifJpegBytes(id))).toDF("doc_id", "payload")
      Multimodal.exifMetaFrom(payloads).count()
    }
    // r12: both vintage writes + the merged read scale with the corpus
    t("partition_evolution") {
      graft.sources.PartitionEvolved.writeVintages(events, s"$wh/pevo")
      Curation.partitionEvolutionOf(graft.sources.PartitionEvolved
        .read(events.sparkSession, s"$wh/pevo")).count()
    }
    // round-11: Goertzel probes are O(bins·W) per window, map-only
    t("audio_tones") {
      val sp = docs.sparkSession
      import sp.implicits._
      val payloads = docs.select(col("doc_id").cast("long")).as[Long]
        .map(id => (id, Multimodal.wavBytes(id))).toDF("doc_id", "payload")
      Multimodal.toneWindows(payloads, Multimodal.AudioWin).count()
    }
    // round-11: both pair relations dup-mass-bounded (pipeline order:
    // exact-dedup first, the q22 discipline), agreement join keys on
    // the pair id
    t("dedup_agreement") {
      val canonical = docs.withColumn("fp", md5(col("text"))).dropDuplicates("fp")
      Dedup.dedupAgreementFrom(canonical, emb).count()
    }
    // round-11: the four delta-join terms each shuffle only their
    // slice; replicas shift both orderkeys so the join fan-out stays 1:1
    t("ivm_join") {
      val reps = spark.range(mult).select(col("id").as("__rep"))
      val shift = lit(100000000L) * col("__rep")
      val o = Tables.orders(spark, sf).crossJoin(reps)
        .withColumn("o_orderkey", col("o_orderkey") + shift).drop("__rep")
      val l = Tables.lineitem(spark, sf).crossJoin(reps)
        .withColumn("l_orderkey", col("l_orderkey") + shift).drop("__rep")
      graft.operators.SupplierPerf.ivmJoinFrom(o, l).count()
    }
    // round-10: the ORC format write→read roundtrip at 10× corpus
    t("orc_roundtrip") {
      docs.write.mode("overwrite").option("compression", "zlib")
        .orc(s"$wh/documents_orc")
      spark.read.orc(s"$wh/documents_orc").count()
    }

    // ---- skewed-key arm: power-law hot keys the uniform replication
    // above cannot produce. Assertions are on plan shape + output
    // (this VM's clock is too noisy for hard wall-time asserts); times
    // print as datapoints. Skew-join byte thresholds are scaled to
    // smoke bytes so the 256MB-at-cluster-scale logic exercises here.
    locally {
      val skewConfs = Map(
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "1KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1.0",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "1KB",
        "spark.sql.adaptive.forceOptimizeSkewedJoin" -> "true",
        // smoke-sized sides would broadcast (no skew to split); at the
        // 100 TB shape both sides shuffle — force that shape here
        "spark.sql.autoBroadcastJoinThreshold" -> "-1")
      val saved = skewConfs.keys.map(k => k -> spark.conf.getOption(k)).toMap
      skewConfs.foreach { case (k, v) => spark.conf.set(k, v) }
      try {
        // (a) hot LSH band bucket: 2000 identical docs (a replica-heavy
        // crawl). One reducer would own the 2M-pair bucket; AQE must
        // split it.
        t("skew_band_selfjoin") {
          val hot = 2000
          val d = spark.range(0, hot + 5000L * mult).selectExpr(
            "id AS doc_id",
            s"CASE WHEN id < $hot THEN 'the same replicated document text again and again' " +
              "ELSE concat('unique doc ', id, ' tok', id % 7, ' tok', id % 11) END AS text")
          val cnt = Dedup.candidatePairsFrom(Dedup.bandsFrom(d)).groupBy().count()
          val n = cnt.collect()(0).getLong(0)
          val p = cnt.queryExecution.executedPlan.toString
          require(p.toLowerCase.contains("skew=true") || p.contains("isSkewJoin=true"),
            "AQE skew split must engage on the hot band bucket")
          n
        }
        // (b) star CC graph: one hub of degree 20k·mult — the hot-key
        // aggregate path of large-star/small-star. Must resolve in the
        // log-round budget (clustersOfVerified's MaxRounds backstop
        // would loop forever under a linear-propagation regression).
        t("skew_cc_star") {
          val spokes = 20000L * mult
          val edges = spark.range(1, spokes + 1)
            .selectExpr("0L AS doc_a", "id AS doc_b")
          // force the DISTRIBUTED star rounds: this arm proves the
          // log-round machinery resolves a hot hub, so the driver
          // union-find shortcut (which would absorb the whole graph at
          // smoke scale) is disabled for it
          spark.conf.set(Dedup.CcLocalEdgeMaxConf, "0")
          val n =
            try Dedup.clustersOfVerified(edges).count()
            finally spark.conf.unset(Dedup.CcLocalEdgeMaxConf)
          require(n == spokes + 1, s"star must resolve whole: $n vs ${spokes + 1}")
          n
        }
        // (c) power-law basket: one user touching a 1000-item basket
        // while the tail stays ≤20 — the user-keyed pair self-join's
        // hot partition. Probed: AQE declines to split THIS reused-
        // exchange SMJ self-join shape at smoke bytes (the SHJ band
        // join above is the AQE-path proof), so the hot-basket run is
        // a timed datapoint and the assertion pins the OTHER skew
        // tool: `SkewJoin.salted` spreads a 75%-hot key over 32
        // salted reducers row-identically to the plain join.
        t("skew_cooccurrence_hotbasket") {
          val ev = spark.range(0, 50000L * mult).selectExpr(
            "id AS event_id",
            "CASE WHEN id % 2 = 0 THEN 0L ELSE 1 + id % 200 END AS user_id",
            "concat('{\"k\": ', CASE WHEN id % 2 = 0 THEN id % 2000 " +
              "ELSE id % 20 END, '}') AS props")
          val out = Analytics.itemCooccurrenceFrom(ev).collect()
          require(out.length == Analytics.CoocTopK,
            s"skewed fixture must still fill the top-k: ${out.length}")
          out.length.toLong
        }
        // (c2) planted POWER-LAW user: one bot holding ~all of a
        // 100k-item catalog. Uncapped, that single user mints
        // C(100k,2) ≈ 5·10⁹ pairs inside ONE user-keyed task — the
        // round-9 verdict's 100× hazard. The PairUserCap basket prune
        // bounds every user at C(256,2) = 32 640 pairs, so the arm
        // both finishes and pins the bound.
        t("skew_powerlaw_user_capped_pairs") {
          val items = 100000L
          val bot = spark.range(0, items).selectExpr(
            "id AS event_id", "0L AS user_id",
            "concat('{\"k\": ', id, '}') AS props")
          val tail = spark.range(0, 20000L * mult).selectExpr(
            s"$items + id AS event_id",
            "1 + id % 2000 AS user_id",
            "concat('{\"k\": ', id % 50, '}') AS props")
          val ev = bot.unionByName(tail)
          val ui = Analytics.itemBaskets(ev)
          val botBasket = ui.filter(col("user_id") === 0L).count()
          require(botBasket == Analytics.PairUserCap,
            s"bot basket must prune to the cap: $botBasket")
          val cap = Analytics.PairUserCap.toLong
          val bound = cap * (cap - 1) / 2 + 50L * 49 / 2
          val n = Analytics.itemPairsOf(ui).count()
          require(n <= bound,
            s"capped pair relation must stay under C(cap,2)+tail: $n vs $bound")
          n
        }
        // (d) Zipf corpus for the q203/q209 scoring joins: token ranks
        // drawn log-uniform (freq ∝ 1/rank over 50k types), so "t1"
        // alone is several percent of all transitions — the named
        // 100× hazard key. With broadcast disabled (above) and heads
        // sized BELOW the vocab/bigram tables, the pre-r11 shape would
        // shuffle every transition keyed by Zipf-hot tokens; the
        // head/tail discipline must keep the hot mass map-side (plan
        // asserts the 6 head probes + ≤3 rare-tail SMJs) and the cold
        // residual's keys are sub-head-rare by construction.
        t("skew_zipf_bigram_lm") {
          import graft.operators.TextAnalysis
          val zipf = spark.range(0, 20000L * mult).selectExpr(
            "id AS doc_id",
            "concat_ws(' ', transform(sequence(1, 30), i -> concat('t', " +
              "cast(exp(ln(50000.0d) * (pmod(xxhash64(id, i), 1000000) " +
              "/ 1000000.0d)) AS int)))) AS text")
          spark.conf.set(TextAnalysis.LmHeadVConf, "512")
          spark.conf.set(TextAnalysis.LmHeadBConf, "4096")
          try {
            val scored = TextAnalysis.bigramLmFrom(zipf)
            val n = scored.count()
            val p = scored.queryExecution.executedPlan.toString
            require(p.split("BroadcastHashJoin").length - 1 >= 6,
              "head probes must broadcast despite the disabled threshold")
            require(p.split("SortMergeJoin").length - 1 <= 3,
              "only the 3 rare-tail lookups may shuffle-join")
            require(n == 20000L * mult, s"every doc must score: $n")
            n
          } finally {
            spark.conf.unset(TextAnalysis.LmHeadVConf)
            spark.conf.unset(TextAnalysis.LmHeadBConf)
          }
        }
        t("skew_salted_join") {
          val big = spark.range(0, 200000L * mult).selectExpr(
            "CASE WHEN id % 4 < 3 THEN 0L ELSE 1 + id % 997 END AS key",
            "id AS v")
          val small = spark.range(0, 998L).selectExpr("id AS key", "id * 2 AS w")
          val plain = big.join(small, "key").count()
          val n = graft.operators.SkewJoin.salted(big, small, "key", 32).count()
          require(n == plain, s"salted join must be row-identical: $n vs $plain")
          n
        }
      } finally saved.foreach { case (k, v) =>
        v.fold(spark.conf.unset(k))(spark.conf.set(k, _))
      }
    }
    spark.stop()
  }
}
