package graft.operators

import org.apache.spark.sql.DataFrame
import org.scalatest.funspec.AnyFunSpec

import graft.TestSpark

class SimilaritySpec extends AnyFunSpec {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def vec(parts: (Int, Float)*): Array[Float] = {
    val a = new Array[Float](64)
    parts.foreach { case (i, v) => a(i) = v }
    a
  }

  private def emb(rows: (Long, Array[Float])*): DataFrame =
    rows.map { case (id, v) => (id, v, 0) }.toDF("vec_id", "embedding", "label")

  // 0 and 1 nearly parallel; 2 orthogonal to both; 3 anti-parallel to 0
  private val corpus = emb(
    (0L, vec(0 -> 1.0f)),
    (1L, vec(0 -> 1.0f, 1 -> 0.1f)),
    (2L, vec(1 -> 1.0f)),
    (3L, vec(0 -> -1.0f)))

  describe("knnBrute (q25)") {
    it("ranks the nearly-parallel vector first and anti-parallel last") {
      val rows = Similarity.knnBruteFrom(corpus)
        .filter($"query_id" === 0L).collect()
      val ranked = rows.sortBy(_.getAs[Int]("rank")).map(_.getAs[Long]("neighbor_id")).toSeq
      assert(ranked == Seq(1L, 2L, 3L))
      val cos = rows.map(r => r.getAs[Long]("neighbor_id") -> r.getAs[Double]("cosine")).toMap
      assert(math.abs(cos(1L) - 1.0 / math.sqrt(1.01)) < 1e-6)
      assert(cos(2L) == 0.0)
      assert(cos(3L) == -1.0)
    }

    it("never returns a vector as its own neighbor") {
      val rows = Similarity.knnBruteFrom(corpus).collect()
      assert(rows.forall(r => r.getAs[Long]("query_id") != r.getAs[Long]("neighbor_id")))
    }
  }

  describe("annRerank (q83)") {
    it("agrees with brute force when the pool covers the corpus") {
      // 4 vectors, pool of 100: the coarse stage cannot drop anything,
      // so the rerank output must equal q25 exactly
      val exact = Similarity.knnBruteFrom(corpus).collect()
        .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"),
          r.getAs[Double]("cosine"), r.getAs[Int]("rank"))).toSeq
      val rer = Similarity.annRerankFrom(corpus).collect()
        .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"),
          r.getAs[Double]("cosine"), r.getAs[Int]("rank"))).toSeq
      assert(rer == exact)
    }

    it("holds recall 0.58 on the adversarial iid-random fixture") {
      val sf = TestSpark.Sf
      val exact = Similarity.knnBrute(spark, sf)
        .select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val rer = Similarity.annRerank(spark, sf)
        .select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val recall = (exact & rer).size.toDouble / exact.size
      // iid-random 64-dim vectors are the worst case for a projection
      // (cosine gaps smaller than JL distortion); everything is
      // deterministic, so the measured 0.58 is exact — a drop means the
      // coarse geometry or tie-breaking changed
      assert(recall == 0.58, s"recall@10 was $recall, expected 0.58")
    }
  }

  describe("annPq (q100)") {
    it("PQ-ADC candidates rerank to reasonable recall on the fixture") {
      val sf = TestSpark.Sf
      val exact = Similarity.knnBrute(spark, sf)
        .select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val pq = Similarity.annPq(spark, sf)
        .select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val recall = (exact & pq).size.toDouble / exact.size
      // seeded (untrained) codebooks on iid-random vectors are PQ's
      // worst case — the deterministic measured value still has to
      // clear the projection-free floor; a collapse means encode or
      // LUT arithmetic diverged
      assert(recall >= 0.3, s"recall@10 was $recall")
      // every query returns a full top-k
      assert(pq.size == Similarity.NumQueries * Similarity.K)
    }

    it("trained sub-codebooks (q136 gate) hold recall on the same fixture") {
      val sf = TestSpark.Sf
      val exact = Similarity.knnBrute(spark, sf)
        .select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val trained = Similarity.annPqTrained(spark, sf)
        .select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val recall = (exact & trained).size.toDouble / exact.size
      info(s"trained PQ recall@10 = $recall")
      // L2 Lloyd on iid-random data shrinks quantization error but the
      // cosine ranking gain is modest — the floor guards against a
      // training-path regression, not a win claim
      assert(recall >= 0.3, s"trained recall@10 was $recall")
      assert(trained.size == Similarity.NumQueries * Similarity.K)
    }
  }

  describe("quantizedRerank (q91)") {
    it("int8 coarse scan holds near-exact recall on the fixture") {
      val sf = TestSpark.Sf
      val exact = Similarity.knnBrute(spark, sf)
        .select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val qr = Similarity.quantizedRerank(spark, sf)
        .select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val recall = (exact & qr).size.toDouble / exact.size
      // int8 keeps all 64 dims at ~0.8% relative error — on the same
      // iid-random fixture where the 16-dim projection (q83) manages
      // 0.58, the dequantized ranking tracks the true one near-exactly;
      // determinism makes the measured value stable, the bound leaves
      // headroom for fixture regeneration
      assert(recall >= 0.9, s"recall@10 was $recall, expected >= 0.9")
    }
  }

  describe("annLsh (q26)") {
    it("buckets identical vectors together and finds them") {
      val twin = emb(
        (0L, vec(0 -> 1.0f, 5 -> 2.0f)),
        (1L, vec(0 -> 1.0f, 5 -> 2.0f)), // identical to 0
        (2L, vec(7 -> 1.0f, 30 -> -3.0f)))
      val rows = Similarity.annLshFrom(twin).collect()
      val q0 = rows.filter(_.getAs[Long]("query_id") == 0L)
      assert(q0.exists(r => r.getAs[Long]("neighbor_id") == 1L &&
        r.getAs[Double]("cosine") == 1.0))
    }

    it("only pairs vectors within the same bucket") {
      val rows = Similarity.annLshFrom(corpus).collect()
      // bucket of the neighbor is reported; recompute query buckets by id
      val bucketOf = rows.map(r => r.getAs[Long]("neighbor_id") -> r.getAs[Int]("bucket")).toMap
      rows.foreach { r =>
        bucketOf.get(r.getAs[Long]("query_id")).foreach { qb =>
          assert(r.getAs[Int]("bucket") == qb)
        }
      }
    }
  }

  describe("embeddingNearDup (q38)") {
    it("finds identical vectors (same bucket in every family) exactly once") {
      val twin = emb(
        (0L, vec(0 -> 1.0f, 5 -> 2.0f)),
        (1L, vec(0 -> 1.0f, 5 -> 2.0f)), // identical to 0 → all 4 families collide
        (2L, vec(7 -> 1.0f, 30 -> -3.0f)))
      val rows = Similarity.embeddingNearDupFrom(twin).collect()
      val hit = rows.filter(r => r.getAs[Long]("vec_a") == 0L && r.getAs[Long]("vec_b") == 1L)
      assert(hit.length == 1, "multi-family collision must dedup to one pair row")
      assert(hit.head.getAs[Double]("cosine") == 1.0)
    }

    it("banded 4x8 geometry does far fewer comparisons than the legacy 16-bucket family") {
      val fixture = graft.sources.Tables.embeddings(spark, TestSpark.Sf)
      val legacy = Similarity.nearDupComparisons(fixture, families = 1, planesPerFamily = 4)
      val banded = Similarity.nearDupComparisons(fixture)
      // asymptotically ≈16× fewer (4·N²/256 vs N²/16); at the 500-vector
      // fixture bucket skew and the +N diagonal terms dominate, so gate a
      // conservative 2× here — ScaleCurve times q38 at large N
      assert(banded * 2 < legacy,
        s"banded=$banded should be >=2x under legacy=$legacy on the fixture")
    }
  }

  describe("quantizeInt8 (q51)") {
    it("reconstructs near-perfectly for a vector already on the int8 grid") {
      // values ±127 with scale 1: quantization is exact → mse 0, cosine 1
      val grid = emb((0L, vec(0 -> 127.0f, 1 -> -127.0f, 2 -> 64.0f)))
      val r = Similarity.quantizeInt8From(grid).collect()(0)
      assert(r.getAs[Double]("scale") == 1.0)
      assert(r.getAs[Double]("mse") == 0.0)
      assert(r.getAs[Double]("cos_recon") == 1.0)
    }

    it("keeps reconstruction cosine above 0.999 on the real fixture") {
      val fixture = graft.sources.Tables.embeddings(spark, TestSpark.Sf)
      val rows = Similarity.quantizeInt8From(fixture).collect()
      assert(rows.nonEmpty)
      rows.foreach { r =>
        assert(r.getAs[Double]("cos_recon") > 0.999,
          s"vec ${r.getAs[Long]("vec_id")} cos ${r.getAs[Double]("cos_recon")}")
        assert(r.getAs[Double]("mse") >= 0.0)
      }
    }
  }

  describe("annIvf (q36)") {
    lazy val fixture = graft.sources.Tables.embeddings(spark, TestSpark.Sf)

    it("returns at most K ranked rows per query with contiguous ranks") {
      val rows = Similarity.annIvfFrom(fixture).collect()
      assert(rows.nonEmpty)
      rows.groupBy(_.getAs[Long]("query_id")).foreach { case (_, rs) =>
        assert(rs.length <= Similarity.K)
        assert(rs.map(_.getAs[Int]("rank")).sorted.toSeq == (1 to rs.length))
      }
      rows.foreach(r =>
        assert(r.getAs[Long]("neighbor_id") != r.getAs[Long]("query_id")))
    }

    it("reaches reasonable recall against the exact brute force") {
      val ivf = Similarity.annIvfFrom(fixture).collect()
        .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
      val brute = Similarity.knnBruteFrom(fixture).collect()
        .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
      val recall = (ivf intersect brute).size.toDouble / brute.size
      // nprobe=2 of 16 seed cells: loose floor — catches a broken
      // quantizer (recall ≈ nprobe/NumCells for random assignment)
      assert(recall > 0.25, s"recall $recall")
    }

    it("is deterministic across runs") {
      val a = Similarity.annIvfFrom(fixture).collect().toSeq
      val b = Similarity.annIvfFrom(fixture).collect().toSeq
      assert(a == b)
    }
  }

  describe("centroidOutliers (q56)") {
    // label 0: 7 vectors near +e0, one (id 99) near -e0 — the planted
    // outlier; label 1: all near +e1
    def labeled(rows: (Long, Int, Array[Float])*): DataFrame =
      rows.map { case (id, l, v) => (id, v, l) }
        .toDF("vec_id", "embedding", "label")
    val dim = 8
    def unit(axis: Int, wobble: Double, seed: Int): Array[Float] = {
      val a = Array.fill(dim)(0.0f)
      a(axis) = 1.0f
      a((seed % (dim - 1)) + 1) = wobble.toFloat
      a
    }
    val fixture = labeled(
      (Seq.tabulate(7)(i => (i.toLong, 0, unit(0, 0.1 * (i % 3), i))) :+
        ((99L, 0, { val a = Array.fill(dim)(0.0f); a(0) = -1.0f; a })) :++
        Seq.tabulate(6)(i => (200L + i, 1, unit(1, 0.05 * (i % 2), i)))): _*)

    it("ranks the planted outlier worst in its label") {
      val r = Similarity.centroidOutliersFrom(fixture).collect()
      val lab0 = r.filter(_.getAs[Int]("label") == 0)
      assert(lab0.head.getAs[Long]("vec_id") == 99L,
        s"rank-1 outlier should be the planted vector: ${lab0.mkString(",")}")
      assert(lab0.head.getAs[Int]("rank") == 1)
      assert(r.filter(_.getAs[Int]("label") == 1).length ==
        math.min(6, Similarity.OutlierK))
    }

    it("keeps at most OutlierK rows per label, ranks contiguous") {
      val r = Similarity.centroidOutliersFrom(fixture).collect()
      r.groupBy(_.getAs[Int]("label")).foreach { case (_, rs) =>
        assert(rs.length <= Similarity.OutlierK)
        assert(rs.map(_.getAs[Int]("rank")).sorted.toSeq == (1 to rs.length))
      }
    }

    it("is invariant to input partitioning (exact decimal centroid sums)") {
      val a = Similarity.centroidOutliersFrom(fixture).collect().toSeq
      val b = Similarity.centroidOutliersFrom(fixture.repartition(7)).collect().toSeq
      assert(a == b)
    }
  }

  describe("semanticDedup (q60)") {
    it("keeps one representative per within-cell duplicate pair on the fixture") {
      val r = Similarity.semanticDedup(spark, TestSpark.Sf).collect()
      assert(r.length == 500)
      assert(r.forall(x => x.getAs[Int]("cell") >= 0 &&
        x.getAs[Int]("cell") < Similarity.NumCells))
      // the keep rule: no-dup vectors always survive; dropped vectors
      // must have at least one similar partner
      r.foreach { x =>
        if (x.getAs[Long]("n_dups") == 0L) assert(x.getAs[Boolean]("is_kept"))
        if (!x.getAs[Boolean]("is_kept")) assert(x.getAs[Long]("n_dups") > 0L)
      }
      // planted near-dups make the pass non-trivial
      assert(r.count(!_.getAs[Boolean]("is_kept")) > 0)
      assert(Similarity.semanticDedup(spark, TestSpark.Sf).collect().toSeq == r.toSeq)
    }

    it("growing the codebook shrinks cells (the 100 TB dial)") {
      val e = graft.sources.Tables.embeddings(spark, TestSpark.Sf)
      val r16 = Similarity.semanticDedupFrom(e, cells = 16).collect()
      val r32 = Similarity.semanticDedupFrom(e, cells = 32).collect()
      def sumSq(rows: Array[org.apache.spark.sql.Row]): Long = {
        val occ = rows.groupBy(_.getAs[Int]("cell")).view.mapValues(_.length.toLong)
        occ.values.map(n => n * n).sum
      }
      assert(sumSq(r32) < sumSq(r16), "more cells must cut pairwise comparisons")
    }
  }

  describe("kmeansTrain (q61)") {
    it("emits the full codebook with counts summing to the corpus") {
      val r = Similarity.kmeansTrain(spark, TestSpark.Sf).collect()
      assert(r.length == Similarity.NumCells)
      assert(r.map(_.getAs[Int]("cell")).toSeq == (0 until Similarity.NumCells))
      assert(r.map(_.getAs[Long]("n_members")).sum == 500)
      r.foreach(x => assert(x.getAs[Double]("centroid_norm") > 0.0))
    }

    it("iterating moves the centroids (training does work)") {
      val e = graft.sources.Tables.embeddings(spark, TestSpark.Sf)
      val one = Similarity.kmeansTrainFrom(e, iters = 1).collect()
        .map(x => x.getAs[Int]("cell") -> x.getAs[Double]("centroid_norm")).toMap
      val two = Similarity.kmeansTrainFrom(e, iters = 2).collect()
        .map(x => x.getAs[Int]("cell") -> x.getAs[Double]("centroid_norm")).toMap
      assert(one != two, "second Lloyd iteration must change some centroid")
      // the mean-of-members update pulls centroids inside the data cloud:
      // norms shrink vs the raw seed vectors for populated cells
      val seeds = Similarity.kmeansTrainFrom(e, iters = 1).collect()
      assert(seeds.forall(_.getAs[Double]("centroid_norm") > 0.0))
    }

    it("is invariant to input partitioning (decimal-exact updates)") {
      val e = graft.sources.Tables.embeddings(spark, TestSpark.Sf)
      val a = Similarity.kmeansTrainFrom(e).collect().toSeq
      val b = Similarity.kmeansTrainFrom(e.repartition(7)).collect().toSeq
      assert(a == b)
    }

    it("a trained codebook slots into IVF and semantic dedup (the q36/q60 wiring)") {
      val e = graft.sources.Tables.embeddings(spark, TestSpark.Sf)
      val trained = Similarity.trainCentroids(e)
      val seeded = Similarity.trainCentroids(e, iters = 0)
      assert(trained != seeded, "two Lloyd iterations must move centroids")

      def pairs(rows: Array[org.apache.spark.sql.Row]) =
        rows.map(x => (x.getAs[Long]("query_id"), x.getAs[Long]("neighbor_id"))).toSet
      val truth = pairs(Similarity.knnBrute(spark, graft.TestSpark.Sf).collect())
      val rTrained = Similarity.annIvfFrom(e, Some(trained)).collect()
      val rSeeded = Similarity.annIvfFrom(e).collect()
      val recT = pairs(rTrained).intersect(truth).size.toDouble / truth.size
      val recS = pairs(rSeeded).intersect(truth).size.toDouble / truth.size
      info(f"IVF recall vs brute force: trained=$recT%.2f seeded=$recS%.2f")
      assert(recT > 0.0)
      assert(Similarity.annIvfFrom(e, Some(trained)).collect().toSeq == rTrained.toSeq)

      val sem = Similarity.semanticDedupFrom(e, codebookOpt = Some(trained)).collect()
      assert(sem.length == 500)
      assert(sem.forall(x => x.getAs[Int]("cell") >= 0 &&
        x.getAs[Int]("cell") < Similarity.NumCells))
    }

    describe("seedless k-means|| init (arbitrary vec_ids)") {
      // ids 1000+ — no vector inside the [SeedBase, SeedBase+k) window
      lazy val eNoSeeds = spark.range(1000, 1200).selectExpr(
        "id AS vec_id",
        "transform(sequence(0, 63), j -> CAST(pmod(id * 131 + j * 17, 23) - 11 AS FLOAT)) AS embedding",
        "CAST(id % 3 AS INT) AS label")

      it("initializes a full codebook where the seeded path fails") {
        intercept[IllegalArgumentException] { Similarity.trainCentroids(eNoSeeds) }
        val init = Similarity.initCentroids(eNoSeeds)
        assert(init.size == Similarity.NumCells)
        assert(init.forall(_.size == 64))
        assert(init.distinct.size == init.size, "k-center init must pick distinct centroids")
      }

      it("is invariant to input partitioning") {
        val a = Similarity.initCentroids(eNoSeeds)
        val b = Similarity.initCentroids(eNoSeeds.repartition(7))
        assert(a == b)
      }

      it("trains and slots into the codebook consumers") {
        val trained = Similarity.trainCentroidsSeedless(eNoSeeds)
        assert(trained.size == Similarity.NumCells)
        assert(trained != Similarity.initCentroids(eNoSeeds),
          "Lloyd iterations must move the init centroids")
        val sem = Similarity.semanticDedupFrom(eNoSeeds,
          codebookOpt = Some(trained)).collect()
        assert(sem.length == 200)
        assert(sem.forall(x => x.getAs[Int]("cell") >= 0 &&
          x.getAs[Int]("cell") < Similarity.NumCells))
      }
    }

    it("fails loudly when the seed vectors are missing") {
      val e = spark.range(0, 5).selectExpr("id AS vec_id",
        "transform(sequence(0, 63), j -> CAST(0.1 AS FLOAT)) AS embedding",
        "CAST(0 AS INT) AS label")
      val ex = intercept[IllegalArgumentException] {
        Similarity.kmeansTrainFrom(e)
      }
      assert(ex.getMessage.contains("seeds missing"))
    }
  }

  describe("labelCentroidMatrix (q122)") {
    it("aligned labels score cosine 1, orthogonal labels 0") {
      val e = Seq(
        (0L, Array(1.0f, 0.0f, 0.0f, 0.0f), 1),
        (1L, Array(3.0f, 0.0f, 0.0f, 0.0f), 1),
        (2L, Array(2.0f, 0.0f, 0.0f, 0.0f), 2), // same direction as label 1
        (3L, Array(0.0f, 5.0f, 0.0f, 0.0f), 3)) // orthogonal
        .toDF("vec_id", "embedding", "label")
      val r = Similarity.labelCentroidMatrixFrom(e).collect()
      val m = r.map(x => (x.getAs[Int]("label_a"), x.getAs[Int]("label_b")) ->
        x.getAs[Double]("cosine")).toMap
      assert(m == Map((1, 2) -> 1.0, (1, 3) -> 0.0, (2, 3) -> 0.0))
      val n = r.map(x => (x.getAs[Int]("label_a"), x.getAs[Long]("n_a"))).toMap
      assert(n(1) == 2L && n(2) == 1L)
    }
  }

  describe("labelAgreement (q143)") {
    it("computes the hand-checked confusion matrix, recall/precision and kappa") {
      // label 0: four clean vectors on the x-axis plus ONE mislabeled
      // y-axis vector; label 1: three clean y-axis vectors. The noisy
      // vector re-assigns to label 1:
      //   confusion (0,0)=4 (0,1)=1 (1,1)=3 → N=8, Σdiag=7,
      //   Σ row·col = 5·4 + 3·4 = 32 → kappa = (56-32)/(64-32) = 0.75
      val e = (Seq.tabulate(4)(i => (i.toLong, Array(1.0f, 0.0f), 0)) ++
        Seq((4L, Array(0.0f, 1.0f), 0)) ++ // mislabeled
        Seq.tabulate(3)(i => (10L + i, Array(0.0f, 1.0f), 1)))
        .toDF("vec_id", "embedding", "label")
      val r = Similarity.labelAgreementFrom(e).collect()
      val by = r.map(x => x.getAs[Int]("label") -> x).toMap
      assert(by(0).getAs[Long]("n_true") == 5L)
      assert(by(0).getAs[Long]("n_pred") == 4L)
      assert(by(0).getAs[Long]("n_correct") == 4L)
      assert(by(0).getAs[Double]("recall") == 0.8)
      assert(by(0).getAs[Double]("prec") == 1.0)
      assert(by(1).getAs[Long]("n_true") == 3L)
      assert(by(1).getAs[Long]("n_correct") == 3L)
      assert(by(1).getAs[Double]("prec") == 0.75)
      r.foreach { x =>
        assert(x.getAs[Double]("accuracy") == 0.875)
        assert(x.getAs[Double]("kappa") == 0.75)
      }
    }

    it("a single-label corpus yields NULL kappa (chance term degenerate), not a blow-up") {
      val e = Seq.tabulate(3)(i => (i.toLong, Array(1.0f, 0.0f), 5))
        .toDF("vec_id", "embedding", "label")
      val r = Similarity.labelAgreementFrom(e).collect()
      assert(r.length == 1)
      assert(r(0).isNullAt(r(0).fieldIndex("kappa")))
      assert(r(0).getAs[Double]("accuracy") == 1.0)
    }

    it("perfectly separable labels score accuracy 1 and kappa 1") {
      val e = (Seq.tabulate(3)(i => (i.toLong, Array(1.0f, 0.0f), 0)) ++
        Seq.tabulate(3)(i => (10L + i, Array(0.0f, 1.0f), 1)))
        .toDF("vec_id", "embedding", "label")
      val r = Similarity.labelAgreementFrom(e).collect()
      r.foreach { x =>
        assert(x.getAs[Double]("accuracy") == 1.0)
        assert(x.getAs[Double]("kappa") == 1.0)
        assert(x.getAs[Long]("n_correct") == x.getAs[Long]("n_true"))
      }
    }
  }

  describe("tripletMining (q158)") {
    it("picks the hardest positive (lowest cosine) and hardest negative (highest) per anchor") {
      // anchor 0 (label 0, x-axis). positives: 20 nearly parallel
      // (cos≈0.995), 21 orthogonal (cos 0 → HARDEST). negatives
      // (label 1): 30 anti-parallel (cos −1), 31 nearly parallel
      // (cos 1/√1.04 → HARDEST). pos_cos 0 < neg_cos ⇒ violation.
      val e = Seq(
        (0L, Array(1.0f, 0.0f), 0),
        (20L, Array(1.0f, 0.1f), 0),
        (21L, Array(0.0f, 1.0f), 0),
        (30L, Array(-1.0f, 0.0f), 1),
        (31L, Array(1.0f, 0.2f), 1))
        .toDF("vec_id", "embedding", "label")
      val r = Similarity.tripletMiningFrom(e).collect()
      assert(r.length == 1)
      val x = r(0)
      assert(x.getAs[Long]("query_id") == 0L)
      assert(x.getAs[Long]("pos_id") == 21L)
      assert(x.getAs[Double]("pos_cos") == 0.0)
      assert(x.getAs[Long]("neg_id") == 31L)
      // 1/√(1+0.2f²) with 0.2f widened from float32, @9dp
      assert(x.getAs[Double]("neg_cos") == 0.980580675)
      assert(x.getAs[Double]("margin") == -0.980580675)
      assert(x.getAs[Boolean]("violation"))
      assert(x.getAs[Long]("n_pos") == 2L) // label-0 peers minus self
      assert(x.getAs[Long]("n_neg") == 2L)
    }

    it("a separated class yields a positive margin and no violation") {
      // anchor 1 (label 1, y-axis): both positives cluster near it
      // (worst cos 1/√1.01), both negatives sit at/below cosine 0.
      val e = Seq(
        (1L, Array(0.0f, 1.0f), 1),
        (40L, Array(0.0f, 2.0f), 1),
        (41L, Array(0.1f, 1.0f), 1),
        (50L, Array(1.0f, 0.0f), 0),
        (51L, Array(1.0f, -0.1f), 0))
        .toDF("vec_id", "embedding", "label")
      val r = Similarity.tripletMiningFrom(e).collect()
      assert(r.length == 1)
      val x = r(0)
      assert(x.getAs[Long]("pos_id") == 41L)
      assert(x.getAs[Double]("pos_cos") == 0.995037190) // 1/√1.01 @9dp
      assert(x.getAs[Long]("neg_id") == 50L)
      assert(x.getAs[Double]("neg_cos") == 0.0)
      assert(x.getAs[Double]("margin") == 0.995037190)
      assert(!x.getAs[Boolean]("violation"))
    }
  }

  describe("hybridSearch (q159)") {
    it("fuses sparse and dense ranks by RRF, 0 from a side a doc is absent from") {
      // doc 1 hits all four BM25 terms AND is the dense near-neighbor
      // (both ranks 1); doc 2 hits one term but has NO embedding
      // (sparse-only); doc 3 has no query terms but an embedding
      // (dense-only, anti-parallel → dense rank 2); doc 0 is the dense
      // query vector itself and matches no terms → absent entirely.
      val docs = Seq(
        (0L, "quarterly report"),
        (1L, "spark join vector customer"),
        (2L, "banana banana banana spark"),
        (3L, "apple pear"))
        .toDF("doc_id", "text")
      val embs = Seq(
        (0L, Array(1.0f, 0.0f), 0),
        (1L, Array(1.0f, 0.1f), 0),
        (3L, Array(-1.0f, 0.0f), 0))
        .toDF("vec_id", "embedding", "label")
      val r = Similarity.hybridSearchFrom(docs, embs).collect()
      def rrf(rs: Int*): Double =
        BigDecimal(rs.map(x => 1.0 / (60 + x)).sum)
          .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(r.map(_.getAs[Long]("doc_id")).toSeq == Seq(1L, 2L, 3L))
      val by = r.map(x => x.getAs[Long]("doc_id") -> x).toMap
      assert(by(1L).getAs[Int]("sparse_rank") == 1)
      assert(by(1L).getAs[Int]("dense_rank") == 1)
      assert(by(1L).getAs[Double]("rrf") == rrf(1, 1))
      assert(by(2L).getAs[Int]("sparse_rank") == 2)
      assert(by(2L).isNullAt(by(2L).fieldIndex("dense_rank")))
      assert(by(2L).getAs[Double]("rrf") == rrf(2))
      assert(by(3L).isNullAt(by(3L).fieldIndex("sparse_rank")))
      assert(by(3L).getAs[Int]("dense_rank") == 2)
      assert(by(3L).getAs[Double]("rrf") == rrf(2))
      // docs 2 and 3 tie on rrf (1/62 each) → doc_id breaks the tie
      assert(by(2L).getAs[Double]("rrf") == by(3L).getAs[Double]("rrf"))
    }
  }

  describe("collapseAudit (q164)") {
    it("flags the collapsed label, clears the isotropic one, NULLs the singleton") {
      // label 0: three IDENTICAL vectors → pairwise distance 0,
      // collapsed. label 1: the four unit axis vectors → Σx = 0, mean
      // pairwise sq = 2·n·msn/(n−1) = 8/3, ratio 4/3, healthy.
      // label 2: one member → NULL statistics, never a divide-by-zero.
      val e = Seq(
        (1L, Array(2.0f, 0.0f), 0), (2L, Array(2.0f, 0.0f), 0),
        (3L, Array(2.0f, 0.0f), 0),
        (10L, Array(1.0f, 0.0f), 1), (11L, Array(-1.0f, 0.0f), 1),
        (12L, Array(0.0f, 1.0f), 1), (13L, Array(0.0f, -1.0f), 1),
        (20L, Array(5.0f, 0.0f), 2))
        .toDF("vec_id", "embedding", "label")
      val r = Similarity.collapseAuditFrom(e).collect()
      assert(r.map(_.getAs[Int]("label")).toSeq == Seq(-1, 0, 1, 2))
      val by = r.map(x => x.getAs[Int]("label") -> x).toMap
      def rnd(v: Double) =
        BigDecimal(v).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(by(0).getAs[Double]("mean_sq_norm") == 4.0)
      assert(by(0).getAs[Double]("mean_pairwise_sq") == 0.0)
      assert(by(0).getAs[Double]("isotropy_ratio") == 0.0)
      assert(by(0).getAs[Boolean]("collapsed"))
      assert(by(1).getAs[Double]("mean_sq_norm") == 1.0)
      assert(by(1).getAs[Double]("mean_pairwise_sq") == rnd(32.0 / 12.0))
      assert(by(1).getAs[Double]("isotropy_ratio") == rnd(32.0 / 12.0 / 2.0))
      assert(!by(1).getAs[Boolean]("collapsed"))
      assert(by(2).getAs[Double]("mean_sq_norm") == 25.0)
      assert(by(2).isNullAt(by(2).fieldIndex("mean_pairwise_sq")))
      assert(by(2).isNullAt(by(2).fieldIndex("collapsed")))
      // global row: n=8, Σ‖x‖²=41, Σx=(11,0) → the moment identity
      val mps = 2.0 * (8.0 * 41.0 - 121.0) / (8.0 * 7.0)
      assert(by(-1).getAs[Long]("n") == 8L)
      assert(by(-1).getAs[Double]("mean_sq_norm") == rnd(41.0 / 8.0))
      assert(by(-1).getAs[Double]("mean_pairwise_sq") == rnd(mps))
      assert(by(-1).getAs[Double]("isotropy_ratio") ==
        rnd(mps / (2.0 * (41.0 / 8.0))))
      assert(!by(-1).getAs[Boolean]("collapsed"))
    }
  }

  describe("uncertaintySample (q168)") {
    it("ranks the equidistant vector first with margin exactly 0, ties to the smaller label") {
      // centroids stay exact: label 0 = {(1,0),(1,0),(1,1),(1,-1)} →
      // (1,0); label 1 = {(0,1),(0,1)} → (0,1). Vector 5 = (1,1) is
      // equidistant (cos 1/√2 to both) → margin 0, pred ties to label
      // 0; vector 6 = (1,-1) is the LEAST ambiguous (second cos is
      // negative) → margin √2.
      val e = Seq(
        (1L, Array(1.0f, 0.0f), 0), (2L, Array(1.0f, 0.0f), 0),
        (5L, Array(1.0f, 1.0f), 0), (6L, Array(1.0f, -1.0f), 0),
        (3L, Array(0.0f, 1.0f), 1), (4L, Array(0.0f, 1.0f), 1))
        .toDF("vec_id", "embedding", "label")
      val r = Similarity.uncertaintySampleFrom(e).collect()
      assert(r.length == 6)
      val first = r(0)
      assert(first.getAs[Long]("vec_id") == 5L)
      assert(first.getAs[Double]("margin") == 0.0)
      assert(first.getAs[Int]("pred_label") == 0)
      assert(first.getAs[Int]("second_label") == 1)
      assert(first.getAs[Double]("best_cos") == 0.707106781)
      assert(r.slice(1, 5).forall(_.getAs[Double]("margin") == 1.0))
      val last = r(5)
      assert(last.getAs[Long]("vec_id") == 6L)
      assert(last.getAs[Double]("margin") == 1.414213562)
      assert(last.getAs[Double]("second_cos") == -0.707106781)
    }
  }

  describe("sourceDrift (q170)") {
    it("scores each source centroid against the corpus centroid and flags drift") {
      // source A along the x-axis (centroid (2,0)), source B one vector
      // at (0,2); corpus centroid (4/3, 2/3). B's cosine ≈ 0.447 < 0.8
      // → drifted; A ≈ 0.894 → clean. Both norm ratios 6/√20.
      val docs = Seq((1L, "s", "en", "A", 1L), (2L, "s", "en", "A", 1L),
        (3L, "s", "en", "B", 1L))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
      val embs = Seq(
        (1L, Array(1.0f, 0.0f), 0), (2L, Array(3.0f, 0.0f), 0),
        (3L, Array(0.0f, 2.0f), 0))
        .toDF("vec_id", "embedding", "label")
      val r = Similarity.sourceDriftFrom(docs, embs).collect()
        .map(x => x.getAs[String]("source") -> x).toMap
      def rnd(v: Double) =
        BigDecimal(v).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
      def dot(a: Array[Double], b: Array[Double]) =
        a.zip(b).map { case (x, y) => x * y }.sum
      val ca = Array(4.0 / 3, 2.0 / 3)
      def cosTo(cs: Array[Double]) =
        rnd(dot(cs, ca) / (math.sqrt(dot(cs, cs)) * math.sqrt(dot(ca, ca))))
      assert(r("A").getAs[Long]("n_vecs") == 2L)
      assert(r("A").getAs[Double]("centroid_cos") == cosTo(Array(2.0, 0.0)))
      assert(!r("A").getAs[Boolean]("drifted"))
      assert(r("B").getAs[Double]("centroid_cos") == cosTo(Array(0.0, 2.0)))
      assert(r("B").getAs[Boolean]("drifted"))
      val ratio = rnd(2.0 / math.sqrt(dot(ca, ca)))
      assert(r("A").getAs[Double]("norm_ratio") == ratio)
      assert(r("B").getAs[Double]("norm_ratio") == ratio)
    }
  }

  describe("pcaPower (q144)") {
    it("recovers the dominant axis, eigenvalue and variance share of a hand fixture") {
      // mean-zero, covariance diag(2, 0.5): top component is the
      // x-axis with eigenvalue 2; total variance 2.5 ⇒ share 0.8
      val e = Seq(
        (1L, Array(2.0f, 0.0f), 0), (2L, Array(-2.0f, 0.0f), 0),
        (3L, Array(0.0f, 1.0f), 0), (4L, Array(0.0f, -1.0f), 0))
        .toDF("vec_id", "embedding", "label")
      val r = Similarity.pcaPowerFrom(e).collect()
      assert(r.length == 2)
      val l0 = r(0).getAs[Double]("loading")
      val l1 = r(1).getAs[Double]("loading")
      assert(l0 > 0.999, s"x loading $l0") // w0 has +x mass, so +x wins
      assert(math.abs(l1) < 0.02, s"y loading $l1")
      assert(math.abs(l0 * l0 + l1 * l1 - 1.0) < 1e-6) // unit norm
      val lam = r(0).getAs[Double]("lambda")
      assert(lam > 1.99 && lam <= 2.0, s"lambda $lam")
      // tvar is exactly 2.5 here, so the share is lambda/2.5
      assert(math.abs(r(0).getAs[Double]("var_share") - lam / 2.5) < 1e-6)
    }

    it("emits one unit-norm loading per dimension on the fixture, deterministically") {
      val a = Similarity.pcaPower(spark, TestSpark.Sf).collect()
      assert(a.length == 64)
      val norm = a.map(x => math.pow(x.getAs[Double]("loading"), 2)).sum
      assert(math.abs(norm - 1.0) < 1e-6)
      val vs = a(0).getAs[Double]("var_share")
      assert(vs > 0 && vs < 1)
      val b = Similarity.pcaPower(spark, TestSpark.Sf).collect()
      assert(a.map(_.toSeq).toSeq == b.map(_.toSeq).toSeq)
    }
  }

  describe("embedWhiten (q212)") {
    it("removes ALL energy when every vector lies on the trained axis") {
      // x-axis corpus with nonzero variance: w = ±e1, so v = (v·w)·w
      // exactly and the residual energy is 0 for both labels
      val e = Seq(
        (1L, Array(1.0f, 0.0f), 0), (2L, Array(2.0f, 0.0f), 0),
        (3L, Array(3.0f, 0.0f), 1), (4L, Array(-1.0f, 0.0f), 1))
        .toDF("vec_id", "embedding", "label")
      val r = Similarity.embedWhitenFrom(e).collect()
      assert(r.length == 2)
      r.foreach { x =>
        assert(math.abs(x.getAs[Double]("msq_after")) < 1e-6)
        assert(math.abs(x.getAs[Double]("msq_before") -
          x.getAs[Double]("msq_removed")) < 1e-6)
      }
    }

    it("the energy ledger balances per label on the fixture and removal is real") {
      val r = Similarity.embedWhiten(spark, TestSpark.Sf).collect()
      assert(r.nonEmpty)
      r.foreach { x =>
        val (before, after, removed) = (x.getAs[Double]("msq_before"),
          x.getAs[Double]("msq_after"), x.getAs[Double]("msq_removed"))
        // after + removed = before up to the (2 − ‖w‖²) ulp and round 6
        assert(math.abs(before - after - removed) < 1e-4,
          s"label ${x.getAs[Int]("label")} ledger")
        assert(removed > 0.0 && after < before)
      }
    }
  }

  describe("matryoshkaRecall (q119)") {
    it("reports per-query prefix recall consistent with its own counts") {
      val r = Similarity.matryoshkaRecall(spark, TestSpark.Sf).collect()
      assert(r.length == Similarity.NumQueries)
      r.foreach { x =>
        val n = x.getAs[Long]("n_common")
        assert(n >= 0 && n <= Similarity.K)
        assert(math.abs(x.getAs[Double]("recall") - n.toDouble / Similarity.K) < 1e-9)
      }
      // a 16-of-64-dim prefix on the random fixture keeps SOME signal:
      // at least one query retains a common neighbor (observed ~0.2 avg)
      assert(r.map(_.getAs[Long]("n_common")).sum > 0)
    }
  }

  describe("embeddingCoverage (q194)") {
    it("counts orphans on both sides and duplicate vector ids") {
      import spark.implicits._
      val docs = Seq(1L, 2L, 3L, 4L).map(i => (i, s"t$i", "en", "s", 2L))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
      // vec 9 orphaned, doc 4 uncovered, vec 2 duplicated
      val embs = Seq(1L, 2L, 2L, 3L, 9L).map(i => (i, vec(0 -> 1.0f), 0))
        .toDF("vec_id", "embedding", "label")
      val r = Similarity.embeddingCoverageFrom(docs, embs).collect()(0)
      assert(r.getAs[Long]("n_docs") == 4L)
      assert(r.getAs[Long]("n_vecs") == 5L)
      assert(r.getAs[Long]("docs_without_vec") == 1L)
      assert(r.getAs[Long]("vecs_without_doc") == 1L)
      assert(r.getAs[Long]("dup_vec_ids") == 1L)
      assert(r.getAs[Double]("coverage_rate") == 0.75)
    }
  }

  describe("ivfBalance (q189)") {
    it("counts occupancy per cell, keeps empty cells visible") {
      // seeds (vec_ids 10..25) are basis vectors e_0..e_15, EXCEPT seed
      // 15 duplicates seed 14 (both e_4): the tie argmaxes to cell 4,
      // leaving cell 5 empty. Queries (0..9) copy e_0; 26..28 copy e_3.
      def e(i: Int) = vec(i -> 1.0f)
      val rows =
        (0L to 9L).map(q => (q, e(0), 0)) ++
        (10L to 25L).map(s =>
          (s, e(if (s == 15L) 4 else (s - 10).toInt), 0)) ++
        (26L to 28L).map(c => (c, e(3), 0))
      val r = Similarity.ivfBalanceFrom(
          rows.toDF("vec_id", "embedding", "label")).collect()
      assert(r.length == Similarity.NumCells)
      val n = r.map(x => x.getAs[Int]("cell") -> x.getAs[Long]("n_vectors")).toMap
      assert(n(0) == 11L) // seed + 10 queries
      assert(n(3) == 4L)  // seed + 3 copies
      assert(n(4) == 2L)  // its seed + the duplicated one
      assert(n(5) == 0L)  // orphaned by the duplicate
      assert((1 to 15).filterNot(Set(3, 4, 5)).forall(c => n(c) == 1L))
      assert(n.values.sum == 29L)
      val c0 = r.find(_.getAs[Int]("cell") == 0).get
      assert(c0.getAs[Double]("load_factor") == 11.0 * 16 / 29)
      assert(c0.getAs[Double]("share") == 11.0 / 29)
    }
  }

  describe("labelNoise (q180)") {
    it("flags the vector whose in-bucket neighbor majority disagrees") {
      // identical vectors share an SRP bucket by construction, and
      // in-group cos=1.0 outranks any cross-group intruder, so top-5
      // neighbor sets are exactly the groups regardless of how the
      // md5-derived planes bucket them
      val x = vec(0 -> 1.0f, 5 -> 0.25f)
      val y = vec(1 -> 1.0f, 9 -> 0.5f)
      val rows =
        (1L to 5L).map(i => (i, x, 0)) ++ Seq((6L, x, 1)) ++ // 6 mislabeled
        (11L to 14L).map(i => (i, y, 7))
      val r = Similarity.labelNoiseFrom(
          rows.toDF("vec_id", "embedding", "label")).collect()
        .map(x => x.getAs[Int]("label") -> x).toMap
      assert(r(0).getAs[Long]("n_vectors") == 5L)
      assert(r(0).getAs[Long]("n_flagged") == 0L)
      assert(r(1).getAs[Long]("n_vectors") == 1L)
      assert(r(1).getAs[Long]("n_flagged") == 1L) // outvoted 5:0
      assert(r(1).getAs[Double]("noise_rate") == 1.0)
      assert(r(7).getAs[Long]("n_vectors") == 4L)
      assert(r(7).getAs[Long]("n_flagged") == 0L)
      assert(r(7).getAs[Double]("noise_rate") == 0.0)
    }

    it("majority ties break to the smaller label") {
      // 1 anchor + 2 neighbors with labels 3 and 5: votes 1:1 → the
      // smaller label (3) wins the majority; anchor label 3 → clean
      val x = vec(2 -> 1.0f)
      val r = Similarity.labelNoiseFrom(Seq(
          (1L, x, 3), (2L, x, 3), (3L, x, 5))
        .toDF("vec_id", "embedding", "label")).collect()
        .map(x => x.getAs[Int]("label") -> x).toMap
      // anchor 1 (label 3): neighbors {3, 5} tie → majority 3 → clean;
      // anchor 2 symmetric; anchor 3 (label 5): neighbors {3, 3} →
      // majority 3 ≠ 5 → flagged
      assert(r(3).getAs[Long]("n_flagged") == 0L)
      assert(r(5).getAs[Long]("n_flagged") == 1L)
    }
  }

  describe("ivfDelta (q255)") {
    it("staged over stored parquet base stats equals the fresh fold") {
      val e = graft.sources.Tables.embeddings(spark, TestSpark.Sf)
      val dir = java.nio.file.Files
        .createTempDirectory("ivfdelta").toString
      Similarity.ivfBaseStats(e).write.mode("overwrite").parquet(dir)
      val staged = Similarity
        .ivfDeltaStaged(spark.read.parquet(dir), e)
        .collect().map(_.toString).toSeq
      val fresh = Similarity.ivfDelta(spark, TestSpark.Sf)
        .collect().map(_.toString).toSeq
      assert(staged == fresh)
      assert(staged.nonEmpty)
    }

    it("accounts every vector exactly once across base and delta") {
      val e = graft.sources.Tables.embeddings(spark, TestSpark.Sf)
      val r = Similarity.ivfDelta(spark, TestSpark.Sf).collect()
      val total = r.map(x =>
        x.getAs[Long]("n_base") + x.getAs[Long]("n_delta")).sum
      assert(total == e.count())
      // the hash split puts ~10% in the delta arm
      val deltaShare = r.map(_.getAs[Long]("n_delta")).sum.toDouble / total
      assert(deltaShare > 0.05 && deltaShare < 0.15)
    }
  }

  describe("mmrRerank (q249)") {
    // two tight clusters flanking the query: A (ids 10–14) at +10°,
    // B (ids 20–24) at −14° — A is more relevant, so pure relevance
    // ranks all of A first; MMR's redundancy penalty must pull a B
    // doc into the top picks
    val a = math.toRadians(10)
    val b = math.toRadians(14)
    def clusterVec(ang: Double, i: Int): Array[Float] =
      Array(math.cos(ang).toFloat,
        (math.sin(ang) * (1.0 + i * 1e-4)).toFloat, 0f, 0f)
    val corpus2 = emb(
      Seq((0L, Array(1f, 0f, 0f, 0f))) ++
        (0 until 5).map(i => (10L + i, clusterVec(a, i))) ++
        (0 until 5).map(i => (20L + i, clusterVec(-b, i))): _*)

    it("diversifies: both clusters appear in the top 2 picks") {
      val r = Similarity.mmrFrom(corpus2)
        .filter(org.apache.spark.sql.functions.col("query_id") === 0L)
        .collect()
      val picks = r.sortBy(_.getAs[Int]("sel_rank"))
        .map(_.getAs[Long]("doc_id")).toSeq
      // pure relevance would put all five A docs first
      val relOrder = r.sortBy(x => (-x.getAs[Double]("relevance"),
        x.getAs[Long]("doc_id"))).map(_.getAs[Long]("doc_id")).take(5)
      assert(relOrder.forall(_ < 20L))
      assert(picks.head < 20L) // first pick = most relevant (A)
      assert(picks(1) >= 20L, s"second pick should diversify: $picks")
      // every candidate eventually selected exactly once
      assert(picks.distinct.size == picks.size)
    }

    it("is deterministic across runs") {
      val r1 = Similarity.mmrFrom(corpus2).collect().map(_.toString).toSeq
      val r2 = Similarity.mmrFrom(corpus2).collect().map(_.toString).toSeq
      assert(r1 == r2)
    }
  }
}
