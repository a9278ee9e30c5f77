package graft.operators

import org.apache.spark.sql.DataFrame
import org.scalatest.funspec.AnyFunSpec

import graft.TestSpark

class DedupSpec extends AnyFunSpec {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def docs(rows: (Long, String)*): DataFrame =
    rows.map { case (id, t) => (id, t, "en", "src0", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")

  private val base =
    "supplier performance data pipelines aggregate delivery quality metrics " +
      "across regions and categories every single day without fail while " +
      "analysts review dashboards tracking fill rates lead times and risk " +
      "scores for procurement planning decisions next quarter"
  private val nearDup = base.replace("quality", "quantity")
  private val distinct1 =
    "completely unrelated text about orchestration frameworks scheduling " +
      "batch jobs overnight with retries and alerts"

  private val corpus = docs(
    (1L, base), (2L, base), // exact dups
    (3L, nearDup),          // near dup of 1/2
    (4L, distinct1))

  describe("exactDedup (q21)") {
    it("counts duplicate docs and clusters") {
      val r = Dedup.exactDedupFrom(corpus).collect()(0)
      assert(r.getAs[Long]("n_docs") == 4L)
      assert(r.getAs[Long]("n_distinct") == 3L)
      assert(r.getAs[Long]("n_dup_docs") == 1L)
      assert(r.getAs[Long]("n_dup_clusters") == 1L)
    }

    it("treats case/punctuation variants as duplicates") {
      val r = Dedup.exactDedupFrom(docs((1L, "Hello,  World!"), (2L, "hello world")))
        .collect()(0)
      assert(r.getAs[Long]("n_distinct") == 1L)
    }
  }

  describe("softDedupWeights (q179)") {
    it("splits each content unit's weight across its corpus-wide copies") {
      // cluster "alpha beta" has 3 copies (1 in A, 2 in B) → each
      // weighs round(1e9/3) = 333333333; singletons weigh 1e9
      val d = Seq(
          (1L, "alpha beta", "en", "A", 10L),
          (4L, "unique one two three", "en", "A", 20L),
          (2L, "alpha beta", "en", "B", 10L),
          (3L, "Alpha  beta!", "en", "B", 12L), // normalizes identical
          (5L, "solo", "en", "B", 4L))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
      val r = Dedup.softDedupWeightsFrom(d).collect()
        .map(x => x.getAs[String]("source") -> x).toMap
      val a = r("A")
      assert(a.getAs[Long]("n_docs") == 2L)
      assert(a.getAs[Long]("n_tokens") == 6L) // 2 + 4
      assert(a.getAs[Long]("eff_docs_hi") == 0L)
      assert(a.getAs[Long]("eff_docs_lo") == 333333333L + 1000000000L)
      assert(a.getAs[Long]("eff_tokens_lo") ==
        2L * 333333333L + 4L * 1000000000L)
      // 1333333333 / 2 rounds half-up to 666666667 in INTEGER math —
      // the boundary a double round() could split across engines
      assert(a.getAs[Double]("eff_doc_frac") == 666666667.0 / 1.0e9)
      val b = r("B")
      assert(b.getAs[Long]("n_docs") == 3L)
      assert(b.getAs[Long]("n_tokens") == 5L) // 2 + 2 + 1
      assert(b.getAs[Long]("eff_docs_lo") == 2L * 333333333L + 1000000000L)
      assert(b.getAs[Long]("eff_tokens_lo") == 4L * 333333333L + 1000000000L)
      // (2·1666666666 + 3) div 6 = 555555555 (rounds down from .33)
      assert(b.getAs[Double]("eff_doc_frac") == 555555555.0 / 1.0e9)
    }

    it("an all-unique corpus keeps full mass: frac exactly 1.0") {
      val r = Dedup.softDedupWeightsFrom(docs(
          (1L, "aa bb"), (2L, "cc dd ee"))).collect()(0)
      assert(r.getAs[Long]("eff_docs_lo") == 2000000000L)
      assert(r.getAs[Double]("eff_doc_frac") == 1.0)
      assert(r.getAs[Double]("eff_token_frac") == 1.0)
    }
  }

  describe("dupGeography (q190)") {
    it("splits each source's dup mass into internal vs cross-source") {
      val d = Seq(
          (1L, "x x", "en", "A", 3L),  // cross: copy in B
          (2L, "a a", "en", "A", 3L),  // internal pair in A
          (3L, "a a", "en", "A", 3L),
          (4L, "uniq one", "en", "A", 8L),
          (5L, "x x", "en", "B", 3L),
          (6L, "other text", "en", "B", 10L))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
      val r = Dedup.dupGeographyFrom(d).collect()
        .map(x => x.getAs[String]("source") -> x).toMap
      assert(r("A").getAs[Long]("n_docs") == 4L)
      assert(r("A").getAs[Long]("dup_internal") == 2L)
      assert(r("A").getAs[Long]("dup_cross") == 1L)
      assert(r("A").getAs[Double]("internal_rate") == 0.5)
      assert(r("B").getAs[Long]("dup_internal") == 0L)
      assert(r("B").getAs[Long]("dup_cross") == 1L)
      assert(r("B").getAs[Double]("cross_rate") == 0.5)
    }
  }

  describe("dupSizeHistogram (q191)") {
    it("one row per cluster size >= 2 with exact doc shares") {
      val d = docs(
        (1L, "z z"), (2L, "z z"), (3L, "z z"),      // size 3
        (4L, "p q"), (5L, "p q"),                   // size 2
        (6L, "r s"), (7L, "r s"),                   // size 2
        (8L, "u1"), (9L, "u2"), (10L, "u3"), (11L, "u4"))
      val r = Dedup.dupSizeHistogramFrom(d).collect()
      assert(r.map(x => (x.getAs[Long]("cluster_size"),
        x.getAs[Long]("n_clusters"), x.getAs[Long]("n_docs"))).toSeq ==
        Seq((2L, 2L, 4L), (3L, 1L, 3L)))
      assert(r.head.getAs[Double]("doc_share") == 4.0 / 11.0)
    }
  }

  describe("ppjoinPairs (q230)") {
    it("prefix filtering loses no pair: histogram equals brute force") {
      val texts = Seq(
        1L -> "alpha beta gamma delta epsilon",
        2L -> "alpha beta gamma delta zeta",
        3L -> "alpha beta gamma delta epsilon", // exact dup of 1
        4L -> "omega psi chi phi upsilon",
        5L -> "alpha beta gamma delta epsilon zeta", // 3 of 4 shingles with 1
        6L -> "completely different words here now")
      val got = Dedup.ppjoinPairsFrom(docs(texts: _*)).collect()
        .map(r => r.getAs[Long]("bin") ->
          (r.getAs[Long]("n_pairs"), r.getAs[Long]("n_docs"))).toMap
      // brute force over the same word-trigram shingle sets
      def shingles(t: String): Set[String] =
        t.split(" ").sliding(Dedup.PpGram).map(_.mkString(" ")).toSet
      val sets = texts.toMap.view.mapValues(shingles).toMap
      val ids = texts.map(_._1)
      val pairs = for {
        a <- ids; b <- ids if a < b
        inter = sets(a).intersect(sets(b)).size
        uni = sets(a).union(sets(b)).size
        if inter * Dedup.PpDen >= Dedup.PpNum * uni
      } yield (a, b, 10L * inter / uni)
      val want = pairs.groupBy(_._3).map { case (bin, ps) =>
        bin -> (ps.size.toLong,
          ps.flatMap(p => Seq(p._1, p._2)).distinct.size.toLong)
      }
      assert(got == want)
      assert(got.contains(10L), "the exact-dup pair must land in bin 10")
      assert(got.contains(7L), "the 3-of-4-shingle pairs must land in bin 7")
    }
  }

  describe("replicaPlanted (q190/q191 gate substrate)") {
    it("plants exact copies so both gates prove math on non-trivial rows") {
      val sf = TestSpark.Sf
      val d = graft.sources.Tables.documents(spark, sf)
      val n = d.count()
      val planted = Dedup.replicaPlanted(d).count() - n
      assert(planted > 0L, "replica pick must be non-empty on the fixture")
      assert(planted <= n / 2, "replica pick must stay a minority slice")
      val hist = Dedup.dupSizeHistogram(spark, sf).collect()
      assert(hist.nonEmpty, "q191 must gate on non-trivial clusters now")
      assert(hist.map(_.getAs[Long]("n_docs")).sum >= 2 * planted,
        "every planted replica forms a cluster with its original")
      val geo = Dedup.dupGeography(spark, sf).collect()
      assert(geo.map(r => r.getAs[Long]("dup_internal") +
        r.getAs[Long]("dup_cross")).sum > 0L, "q190 must see dup mass")
      assert(geo.exists(_.getAs[String]("source").startsWith("mirror-")),
        "cross-source replicas must appear as mirror- sources")
    }
  }

  describe("dedupSensitivity (q184)") {
    it("arms keep exactly the pairs their cross-multiplied test admits") {
      // A and C identical (J=1.0); B differs in the last token of 10 →
      // 8 shared shingles of 10 distinct → J=0.8 against both
      val ten = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"
      val tenB = "w1 w2 w3 w4 w5 w6 w7 w8 w9 qq"
      val r = Dedup.dedupSensitivityFrom(docs(
          (1L, ten), (2L, tenB), (3L, ten),
          (4L, "utterly unrelated content entirely elsewhere")))
        .collect().map(x => x.getAs[Double]("threshold") -> x).toMap
      assert(r.keySet == Set(0.5, 0.7, 0.9))
      // 0.8 passes 0.5 and 0.7 (8·10 ≥ 7·10), fails 0.9 (8·10 < 9·10)
      assert(r(0.5).getAs[Long]("n_pairs") == 3L)
      assert(r(0.5).getAs[Long]("n_dup_docs") == 3L)
      assert(r(0.7).getAs[Long]("n_pairs") == 3L)
      assert(r(0.9).getAs[Long]("n_pairs") == 1L)
      assert(r(0.9).getAs[Long]("n_dup_docs") == 2L)
      assert(r(0.9).getAs[Double]("dup_doc_rate") == 0.5)
    }
  }

  describe("minhashCandidates (q22)") {
    it("finds exact and near duplicates, not unrelated docs") {
      val pairs = Dedup.candidatePairsFrom(Dedup.bandsFrom(corpus))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(pairs.contains((1L, 2L)), "exact dup pair")
      assert(pairs.contains((1L, 3L)) && pairs.contains((2L, 3L)), "near dup pairs")
      assert(!pairs.exists { case (a, b) => a == 4L || b == 4L }, "unrelated doc")
    }
  }

  describe("simhash (q23)") {
    it("gives identical signatures to identical docs, near for near-dups") {
      val sig = Dedup.simhashFrom(corpus).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(sig(1L) == sig(2L))
      val hammingNear = java.lang.Long.bitCount(sig(1L) ^ sig(3L))
      val hammingFar = java.lang.Long.bitCount(sig(1L) ^ sig(4L))
      assert(hammingNear <= 8, s"near-dup hamming $hammingNear")
      assert(hammingFar > hammingNear, s"far $hammingFar vs near $hammingNear")
    }
  }

  describe("ngramJaccard (q24)") {
    it("scores exact dups 1.0 and near dups below") {
      val byPair = Dedup.ngramJaccardFrom(corpus).collect()
        .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")) -> r.getAs[Double]("jaccard"))
        .toMap
      assert(byPair((1L, 2L)) == 1.0)
      assert(byPair((1L, 3L)) < 1.0 && byPair((1L, 3L)) > 0.5)
    }
  }

  describe("sourceMirrors (q80)") {
    it("aggregates verified near-dup pairs by unordered source pair") {
      val d = Seq(
        (1L, base, "en", "srcA", 1L), (2L, base, "en", "srcB", 1L),
        (3L, nearDup, "en", "srcB", 1L), (4L, distinct1, "en", "srcC", 1L))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
      val r = Dedup.sourceMirrorsFrom(d).collect()
        .map(x => (x.getAs[String]("source_a"), x.getAs[String]("source_b"),
          x.getAs[Long]("n_pairs"), x.getAs[Double]("pooled_jaccard")))
      // verified pairs: (1,2) A↔B exact, (1,3) A↔B near, (2,3) B↔B near
      val ab = r.find(t => t._1 == "srcA" && t._2 == "srcB").get
      assert(ab._3 == 2L)
      assert(ab._4 > 0.75 && ab._4 < 1.0, "pooled exact+near overlap ratio")
      val bb = r.find(t => t._1 == "srcB" && t._2 == "srcB").get
      assert(bb._3 == 1L)
      assert(!r.exists(t => t._1 == "srcC" || t._2 == "srcC"),
        "no verified pair touches the distinct source")
      // n_pairs DESC ordering puts the heaviest mirror pair first
      assert(r.head == ab)
    }
  }

  describe("dupSpans (q82)") {
    it("finds maximal cross-doc spans, ignores within-doc repeats") {
      val shared = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
      val rep = "p1 p2 p3 p4 p5 p6 p7 p8"
      val d = Seq(
        (1L, s"one two three $shared four five", "en", "srcA", 1L),
        (2L, s"$shared nine ten eleven twelve", "en", "srcB", 1L),
        (3L, "unrelated words entirely different from the rest here okay",
          "en", "srcC", 1L),
        (4L, s"$rep mid $rep", "en", "srcD", 1L))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
      val r = Dedup.dupSpansFrom(d).collect()
        .map(x => (x.getAs[Long]("doc_id"), x.getAs[Long]("span_start"),
          x.getAs[Long]("span_tokens")))
      // the 10-token shared run covers gram starts 3..5 in doc 1 (offset
      // by its 3-token prefix) and 0..2 in doc 2 — one maximal span each
      assert(r.toSeq == Seq((1L, 3L, 10L), (2L, 0L, 10L)),
        "exact maximal span boundaries; doc 3 (no shared gram) and " +
          "doc 4 (within-doc repeat only) must be absent")
    }

    it("the df count reads no more distinct gram rows than positions") {
      // the count shuffle ships per-doc DISTINCT gram hashes, never more
      // rows than the stride-1 positions; a within-doc repeat ships fewer
      import org.apache.spark.sql.functions.{array_distinct, size, sum}
      def rows(d: DataFrame) = Dedup.spanGramArrays(d)
        .agg(sum(size($"kh")), sum(size(array_distinct($"kh")))).head()
      val fx = rows(graft.sources.Tables.documents(spark, TestSpark.Sf))
      assert(fx.getLong(0) > 0L && fx.getLong(1) <= fx.getLong(0), fx.toString)
      val rep = "p1 p2 p3 p4 p5 p6 p7 p8"
      val r = rows(docs((1L, s"$rep mid $rep")))
      assert(r.getLong(1) < r.getLong(0), r.toString)
    }
  }

  describe("containmentPairs (q85)") {
    it("finds a short doc embedded in a long one, which whole-doc jaccard misses") {
      val core = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
        "lambda mu nu xi omicron pi"
      val long = s"w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12 $core " +
        "y1 y2 y3 y4 y5 y6 y7 y8 y9 y10 y11 y12"
      val d = Seq(
        (1L, core, "en", "srcA", 1L),
        (2L, long, "en", "srcB", 1L),
        (3L, "entirely different text about other things goes here now okay then",
          "en", "srcC", 1L))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
      val r = Dedup.containmentPairsFrom(d).collect()
        .map(x => (x.getAs[Long]("doc_a"), x.getAs[Long]("doc_b"),
          x.getAs[Long]("n_shared"), x.getAs[Double]("containment")))
      val p = r.find(t => t._1 == 1L && t._2 == 2L)
      assert(p.isDefined, s"embedded doc must pair with its container, got ${r.toSeq}")
      // every winnowed fp of the short doc that comes from the shared
      // 16-token run also exists in the long doc; boundary fps differ,
      // so containment is high but need not be 1.0
      assert(p.get._4 >= 0.5, s"containment should be high: ${p.get}")
      assert(!r.exists(t => t._1 == 3L || t._2 == 3L))
      // the whole-doc jaccard of the planted pair is LOW — the point of
      // the containment measure (40-token union, 16-token overlap)
      val jac = Dedup.ngramJaccardFrom(d).collect()
      assert(!jac.exists(x => x.getAs[Long]("doc_a") == 1L &&
        x.getAs[Long]("doc_b") == 2L &&
        x.getAs[Double]("jaccard") >= 0.5))
    }

    it("excludes fingerprints above the hot-document cap") {
      val boiler = "b1 b2 b3 b4 b5 b6 b7 b8 b9 b10"
      val rows = (1L to (Dedup.ContainMaxFpDocs + 2L)).map(i =>
        (i, s"$boiler unique${i}a unique${i}b unique${i}c", "en", "src", 1L))
      val d = rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      val r = Dedup.containmentPairsFrom(d).collect()
      // the only shared fps come from the boilerplate prefix, present in
      // cap+2 docs — every one is capped out, so no pairs survive
      assert(r.isEmpty, s"hot boilerplate fps must not generate pairs: ${r.length}")
    }
  }

  describe("containmentDedup (q87)") {
    it("turns the embedded-doc candidate into a verified keep/cut decision") {
      val core = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
        "lambda mu nu xi omicron pi"
      val long = s"w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12 $core " +
        "y1 y2 y3 y4 y5 y6 y7 y8 y9 y10 y11 y12"
      val d = Seq(
        (1L, core, "en", "srcA", 1L),
        (2L, long, "en", "srcB", 1L),
        (3L, "entirely different text about other things goes here now okay then",
          "en", "srcC", 1L))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
      val r = Dedup.containmentDedupFrom(d).collect()
      assert(r.length == 1, s"exactly the planted pair survives: ${r.toSeq}")
      val p = r(0)
      assert(p.getAs[Long]("doc_a") == 1L && p.getAs[Long]("doc_b") == 2L)
      // the short doc's shingles are a near-subset of the long doc's —
      // exact shingle containment is high even though whole-doc jaccard
      // (16 shared tokens in a 40-token union) stays low
      assert(p.getAs[Double]("containment") >= Dedup.ContainVerifyMin)
      // the CONTAINED side (smaller shingle set) is the one cut
      assert(p.getAs[Long]("cut_doc") == 1L)
      assert(p.getAs[Long]("keep_doc") == 2L)
    }

    it("keeps candidates below the verify threshold out of the decisions") {
      // two docs sharing one 7-token run inside otherwise-disjoint text:
      // enough winnow fps to surface as a q85 candidate, but exact
      // shingle containment stays well under the 0.5 acceptance bar
      val run = "alpha beta gamma delta epsilon zeta eta"
      val d = docs(
        (1L, s"a1 a2 a3 a4 a5 a6 a7 a8 a9 a10 $run b1 b2 b3 b4 b5 b6 b7 b8 b9 b10"),
        (2L, s"c1 c2 c3 c4 c5 c6 c7 c8 c9 c10 $run d1 d2 d3 d4 d5 d6 d7 d8 d9 d10"))
      val cand = Dedup.containmentPairsFrom(d).collect()
      assert(cand.nonEmpty, "the shared run must surface as a candidate")
      assert(Dedup.containmentDedupFrom(d).collect().isEmpty,
        "a 7-of-26-shingle overlap must not pass the 0.5 verify bar")
    }
  }

  describe("leakageSafeSplit (q102)") {
    it("near-dup cluster members land in one split; leak count is zero") {
      val near1 = "the quick brown fox jumps over the lazy dog again and again ok"
      val near2 = "the quick brown fox jumps over the lazy dog again and again yes"
      val d = docs(
        (1L, near1), (2L, near2), // near-dup pair → one cluster
        (3L, "completely different text about spark physical planning here"),
        (4L, "yet another unrelated document talking about parquet footers"))
      val r = Dedup.leakageSafeSplitFrom(d).collect()
      assert(r.map(_.getAs[Long]("n_docs")).sum == 4L)
      // the pair shares one rep, so groups < docs
      assert(r.map(_.getAs[Long]("n_groups")).sum == 3L)
      assert(r.forall(_.getAs[Long]("n_leaky_groups") == 0L))
    }
  }

  describe("keepLedger (q89)") {
    it("labels every doc with its cut reason in precedence order") {
      val core16 = "alpha beta gamma delta epsilon zeta eta theta iota " +
        "kappa lambda mu nu xi omicron pi"
      // a wrapper long enough that whole-doc jaccard stays BELOW the
      // 0.1 near-dup bar while containment of the core is 1.0 — the
      // contained cut must come from the containment stage, not ride
      // along as a near-dup
      val wrapper = (1 to 100).map(i => s"w$i").mkString(" ") +
        s" $core16 " + (1 to 100).map(i => s"y$i").mkString(" ")
      val d = docs(
        (1L, base), (2L, base),   // exact dups → cut 2 as exact_dup
        (3L, nearDup),            // near dup of 1/2 → cut as near_dup
        (4L, distinct1),          // untouched → keep
        (5L, core16),             // embedded in 6 → cut as contained
        (6L, wrapper))
      val r = Dedup.keepLedgerFrom(d).collect()
        .map(x => x.getAs[Long]("doc_id") ->
          (x.getAs[Boolean]("keep"), x.getAs[String]("reason"))).toMap
      assert(r.size == 6, "exactly one ledger row per doc")
      assert(r(1L) == (true, "keep"), "cluster canonical survives")
      assert(r(2L) == (false, "exact_dup"))
      assert(r(3L) == (false, "near_dup"))
      assert(r(4L) == (true, "keep"))
      assert(r(5L) == (false, "contained"), s"got ${r(5L)}")
      assert(r(6L) == (true, "keep"), "the containing doc survives")
    }
  }

  describe("dedupClusters (q54)") {
    /** Union-find ground truth for an edge list. */
    def ufClusters(edges: Seq[(Long, Long)]): Map[Long, Long] = {
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      parent.keys.map(k => k -> find(k)).toMap
    }

    def ccOf(edges: Seq[(Long, Long)]): Map[Long, Long] =
      Dedup.clustersOfVerified(edges.toDF("doc_a", "doc_b"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

    it("resolves a chain graph transitively (worst case for naive propagation)") {
      // path 1-2-3-...-12: one component, min label 1 for every node
      val chain = (1L until 12L).map(i => (i, i + 1))
      val got = ccOf(chain)
      assert(got.size == 12 && got.values.forall(_ == 1L), got.toString)
    }

    it("matches union-find on random graphs") {
      val rnd = new scala.util.Random(42)
      (1 to 3).foreach { _ =>
        val n = 40
        val edges = Seq.fill(30)((rnd.nextInt(n).toLong + 1, rnd.nextInt(n).toLong + 1))
          .filter { case (a, b) => a != b }
        assert(ccOf(edges) == ufClusters(edges))
      }
    }

    it("emits sizes and exactly one canonical doc per cluster") {
      val r = Dedup.clustersOfVerified(
        Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("doc_a", "doc_b")).collect()
      val bySize = r.map(x => x.getLong(1) -> x.getLong(2)).toMap
      assert(bySize == Map(1L -> 3L, 10L -> 2L))
      val canon = r.filter(_.getBoolean(3)).map(_.getLong(0)).toSet
      assert(canon == Set(1L, 10L))
    }

    it("returns an empty typed result when there are no verified pairs") {
      val r = Dedup.clustersOfVerified(
        Seq.empty[(Long, Long)].toDF("doc_a", "doc_b"))
      assert(r.columns.toSeq ==
        Seq("doc_id", "cluster_id", "cluster_size", "is_canonical"))
      assert(r.count() == 0L)
    }

    it("clusters the fixture corpus: {1,2,3} together, 4 out") {
      val r = Dedup.dedupClustersFrom(corpus).collect()
        .map(x => x.getLong(0) -> x.getLong(1)).toMap
      assert(r == Map(1L -> 1L, 2L -> 1L, 3L -> 1L), r.toString)
    }

    it("driver union-find and distributed star rounds produce identical output") {
      import spark.implicits._
      // chain + a separate pair + an isolated merge through a bridge:
      // exercises multi-round convergence on the distributed path
      val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (10L, 11L),
        (20L, 21L), (21L, 22L), (5L, 20L)).toDF("doc_a", "doc_b")
      val local = Dedup.clustersOfVerified(edges).collect().toSeq
      val dist = Dedup.clustersOfVerified(edges, localEdgeMax = 0L).collect().toSeq
      assert(local == dist, s"local=$local dist=$dist")
      assert(local.map(r => r.getLong(0) -> r.getLong(1)).toMap ==
        Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L,
          20L -> 1L, 21L -> 1L, 22L -> 1L, 10L -> 10L, 11L -> 10L))
    }
  }

  describe("clustersOfVerified on a star hub") {
    it("the distributed rounds resolve one hub and its spokes to one cluster") {
      // the hot-key aggregate path of large-star/small-star: one hub of
      // degree 2000, with the driver union-find shortcut disabled so the
      // log-round machinery must converge on its own
      val spokes = 2000L
      val edges = spark.range(1, spokes + 1).selectExpr("0L AS doc_a", "id AS doc_b")
      val r = Dedup.clustersOfVerified(edges, localEdgeMax = 0L).collect()
      assert(r.length == spokes + 1, s"star must resolve whole: ${r.length}")
      assert(r.forall(x => x.getLong(1) == 0L && x.getLong(2) == spokes + 1))
    }
  }

  describe("incrementalClustersOf (q135)") {
    it("a new doc bridging two old clusters merges them through their reps") {
      import spark.implicits._
      // old corpus: {1,2} near-dups, {10,11} near-dups, 20 unclustered
      val oldDocs = docs(
        (1L, "alpha beta gamma delta epsilon zeta"),
        (2L, "alpha beta gamma delta epsilon zeta eta"),
        (10L, "one two three four five six"),
        (11L, "one two three four five six seven"),
        (20L, "totally unrelated content lives here"))
      val oldClusters = Dedup.dedupClustersFrom(oldDocs)
      assert(oldClusters.collect().map(_.getLong(1)).distinct.sorted.toSeq ==
        Seq(1L, 10L))
      // new doc 30 overlaps BOTH old clusters' shingles → bridges them
      val newDocs = docs(
        (30L, "alpha beta gamma delta one two three four"),
        (31L, "completely fresh and unmatched text"))
      val r = Dedup.incrementalClustersOf(oldClusters, oldDocs, newDocs)
        .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
      // merged component keeps the global minimum id as the label
      assert(r == Map(1L -> 1L, 2L -> 1L, 10L -> 1L, 11L -> 1L, 30L -> 1L),
        r.toString)
      // and the incremental result equals a full recompute over all docs
      val full = Dedup.dedupClustersFrom(oldDocs.unionByName(newDocs))
      val inc = Dedup.incrementalClustersOf(oldClusters, oldDocs, newDocs)
      assert(inc.exceptAll(full).count() == 0 && full.exceptAll(inc).count() == 0)
      // the bench read pattern: all three old-state artifacts stored and
      // read back through parquet feed the staged fold identically
      val tmp = java.nio.file.Files.createTempDirectory("graft-incstate-").toString
      oldClusters.write.parquet(s"$tmp/clusters")
      Dedup.bandsFrom(oldDocs).write.parquet(s"$tmp/bands")
      Dedup.shinglesFrom(oldDocs).write.parquet(s"$tmp/sh")
      val staged = Dedup.incrementalClustersStaged(
        spark.read.parquet(s"$tmp/clusters"),
        spark.read.parquet(s"$tmp/bands"),
        spark.read.parquet(s"$tmp/sh"), newDocs)
      assert(staged.exceptAll(full).count() == 0 &&
        full.exceptAll(staged).count() == 0)
    }
  }

  describe("dedupSavings (q130)") {
    it("token shares partition the corpus across ledger reasons") {
      val r = Dedup.dedupSavings(spark, graft.TestSpark.Sf).collect()
      assert(r.nonEmpty)
      assert(r.exists(_.getAs[String]("reason") == "keep"))
      // every doc lands in exactly one reason → shares sum to 1
      val share = r.map(_.getAs[Double]("token_share")).sum
      assert(math.abs(share - 1.0) < 1e-6, s"shares sum $share")
      r.foreach(x => assert(x.getAs[Long]("n_tokens") >= 0
        && x.getAs[Long]("n_docs") > 0))
    }
  }

  describe("staged closure consumers (bench read pattern, q89/q102/q130)") {
    // the bench stages these three on the materialized q54 cluster CTAS
    // (and q89's ledger CTAS feeds q130); pin staged ≡ self-contained so
    // the bench numbers measure the same relations the driver gates
    it("ledger, split, and savings match their self-contained gates") {
      def sameAs(a: DataFrame, b: DataFrame): Unit = {
        assert(a.columns.toSeq == b.columns.toSeq)
        assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0)
      }
      val sf = graft.TestSpark.Sf
      val d = graft.sources.Tables.documents(spark, sf)
      val clusters = Dedup.dedupClustersFrom(d)
      val ledger = Dedup.keepLedgerOf(d, clusters, Dedup.containmentDedup(spark, sf))
      sameAs(ledger, Dedup.keepLedger(spark, sf))
      sameAs(Dedup.dedupSavingsOf(ledger, d), Dedup.dedupSavings(spark, sf))
      sameAs(Dedup.leakageSafeSplitOf(d, clusters), Dedup.leakageSafeSplit(spark, sf))
    }
  }

  describe("incrementalContainment (q137)") {
    it("equals the full containment decisions restricted to new-touching pairs") {
      val sf = graft.TestSpark.Sf
      val d = graft.sources.Tables.documents(spark, sf)
      val (o, n) = Dedup.incSplit(d)
      val newIds = n.select("doc_id").collect().map(_.getLong(0)).toSet
      val expected = Dedup.containmentDedupFrom(d).collect().toSeq
        .filter(r => newIds(r.getLong(0)) || newIds(r.getLong(1)))
      val inc = Dedup.incrementalContainment(spark, sf).collect().toSeq
      assert(inc == expected, s"inc=$inc expected=$expected")
      // and the bench read pattern: stored fp index + shingle relation
      val tmp = java.nio.file.Files.createTempDirectory("graft-incc-").toString
      graft.operators.TextAnalysis.winnowFpsFrom(o).write.parquet(s"$tmp/fps")
      Dedup.shinglesFrom(o).write.parquet(s"$tmp/sh")
      val staged = Dedup.incrementalContainmentOf(
        spark.read.parquet(s"$tmp/fps"),
        spark.read.parquet(s"$tmp/sh"), n).collect().toSeq
      assert(staged == expected)
    }
  }

  describe("recordLinkage (q124)") {
    it("recovers the true key for every vowel-stripped variant via blocking") {
      import spark.implicits._
      val sup = (0L to 19L).map(k =>
        (k, f"Supplier#$k%09d", 0, 0.0)).toDF(
        "s_suppkey", "s_name", "s_nationkey", "s_acctbal")
      val r = Dedup.recordLinkageFrom(sup).collect()
      assert(r.nonEmpty)
      r.foreach { x =>
        assert(x.getAs[Boolean]("is_correct"),
          s"${x.getAs[String]("dirty_name")} matched ${x.getAs[Long]("matched_key")}")
        // the only edits are the stripped vowels of 'Supplier'
        assert(x.getAs[Long]("edit_dist") == 3L)
      }
    }
  }

  describe("minhashEstimate (q121)") {
    it("signature agreement tracks exact Jaccard within sketch resolution") {
      val r = Dedup.minhashEstimate(spark, graft.TestSpark.Sf).collect()
      assert(r.nonEmpty)
      r.foreach { x =>
        val n = x.getAs[Long]("n_match")
        assert(n >= 0 && n <= Dedup.NumHashes)
        assert(math.abs(x.getAs[Double]("est_jaccard") -
          n.toDouble / Dedup.NumHashes) < 1e-9)
        // abs_err is literally |est - exact| on the reported values
        assert(math.abs(x.getAs[Double]("abs_err") -
          math.abs(x.getAs[Double]("est_jaccard") -
            x.getAs[Double]("exact_jaccard"))) < 1e-8)
      }
      // the sketch is informative on LSH candidates, not a coin flip
      val meanErr = r.map(_.getAs[Double]("abs_err")).sum / r.length
      assert(meanErr < 0.5, s"mean |est-exact| $meanErr")
    }
  }

  describe("editVerifyOf (q108)") {
    it("accepts within-token edits Jaccard is blind to, rejects unrelated pairs") {
      import spark.implicits._
      val d = docs(
        // one char differs inside a token: every bigram shingle breaks
        // (Jaccard ≈ 0) but the edit distance is 1
        (1L, "alpha beta gamma delta"),
        (2L, "alpha beta gamna delta"),
        (3L, "completely different text here"))
      val pairs = Seq((1L, 2L), (1L, 3L)).toDF("doc_a", "doc_b")
      val r = Dedup.editVerifyOf(pairs, d).collect()
      assert(r.length == 2)
      val nearDup = r.find(x => x.getAs[Long]("doc_b") == 2L).get
      assert(nearDup.getAs[Long]("edit_dist") == 1L)
      assert(nearDup.getAs[Boolean]("is_dup")) // 1 - 1/22 = 0.954..
      val unrelated = r.find(x => x.getAs[Long]("doc_b") == 3L).get
      assert(!unrelated.getAs[Boolean]("is_dup"))
    }

    it("similarity is computed over the bounded normalized prefix") {
      import spark.implicits._
      // identical beyond the prefix bound: differences past
      // EditPrefixChars are invisible to the screen (documented dial)
      val common = Seq.fill(Dedup.EditPrefixChars / 2)("ab").mkString(" ")
      val d = docs((1L, common + " tail one"), (2L, common + " other end"))
      val pairs = Seq((1L, 2L)).toDF("doc_a", "doc_b")
      val r = Dedup.editVerifyOf(pairs, d).collect()
      assert(r.length == 1)
      assert(r(0).getAs[Long]("edit_dist") == 0L)
      assert(r(0).getAs[Double]("edit_sim") == 1.0)
    }
  }

  describe("clusterMedoids (q176)") {
    it("picks the most-central member, breaks two-member ties by min id") {
      val clusters = Seq(
        (10L, 1L, 3L), (11L, 1L, 3L), (12L, 1L, 3L), // triangle
        (20L, 2L, 2L), (21L, 2L, 2L), // symmetric pair
        (30L, 3L, 1L)) // singleton — excluded
        .toDF("doc_id", "cluster_id", "cluster_size")
      val emb = Seq(
        (10L, Array(1f, 0f, 0f), 0),
        (11L, Array(0.9f, 0.1f, 0f), 0), // between 10 and 12 → medoid
        (12L, Array(0f, 1f, 0f), 0),
        (20L, Array(1f, 0f, 0f), 0),
        (21L, Array(1f, 1f, 0f), 0),
        (30L, Array(0f, 0f, 1f), 0))
        .toDF("vec_id", "embedding", "label")
      val r = Dedup.clusterMedoidsOf(clusters, emb).collect()
      assert(r.map(_.getAs[Long]("cluster_id")).toSeq == Seq(1L, 2L))
      val byC = r.map(x => x.getAs[Long]("cluster_id") -> x).toMap
      assert(byC(1L).getAs[Long]("medoid_doc") == 11L)
      assert(byC(1L).getAs[Long]("cluster_size") == 3L)
      // symmetric pair: identical sums on both sides → min doc_id
      assert(byC(2L).getAs[Long]("medoid_doc") == 20L)
      // pair mean = the single pairwise cosine, rounded at 9 dp
      val v20 = Array(1.0, 0.0, 0.0)
      val v21 = Seq(1f, 1f, 0f).map(_.toDouble).toArray
      val cos = v20.zip(v21).map { case (a, b) => a * b }.sum /
        (math.sqrt(v20.map(x => x * x).sum) *
          math.sqrt(v21.map(x => x * x).sum))
      val expected = BigDecimal(cos)
        .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(byC(2L).getAs[Double]("mean_cos") == expected)
    }

    it("divides mean_cos by the embedded neighbors, not cluster_size-1") {
      // 3-member cluster, but doc 12 has NO embedding row: the two
      // embedded members see exactly one neighbor each, so mean_cos is
      // the single pairwise cosine (=1.0 here), not cos/2
      val clusters = Seq((10L, 1L, 3L), (11L, 1L, 3L), (12L, 1L, 3L))
        .toDF("doc_id", "cluster_id", "cluster_size")
      val emb = Seq(
        (10L, Array(1f, 0f, 0f), 0),
        (11L, Array(2f, 0f, 0f), 0))
        .toDF("vec_id", "embedding", "label")
      val r = Dedup.clusterMedoidsOf(clusters, emb).collect()
      assert(r.length == 1)
      assert(r(0).getAs[Long]("medoid_doc") == 10L) // tie → min id
      assert(r(0).getAs[Long]("cluster_size") == 3L)
      assert(r(0).getAs[Double]("mean_cos") == 1.0)
    }
  }

  describe("dedupAgreement (q215)") {
    it("classes reconcile with the q24/q38 pair relations and respect both thresholds") {
      val r = Dedup.dedupAgreement(spark, graft.TestSpark.Sf).collect()
      assert(r.nonEmpty)
      val classes = r.map(_.getAs[String]("method")).toSet
      assert(classes.subsetOf(Set("both", "text_only", "embedding_only")))
      val byM = r.map(x => x.getAs[String]("method") -> x).toMap
      byM.get("both").foreach { b =>
        assert(b.getAs[Double]("mean_jaccard") >= Dedup.JaccardMin)
        assert(b.getAs[Double]("mean_cosine") >= Similarity.NearDupMin)
      }
      byM.get("text_only").foreach(b => assert(b.isNullAt(b.fieldIndex("mean_cosine"))))
      byM.get("embedding_only").foreach(b => assert(b.isNullAt(b.fieldIndex("mean_jaccard"))))
      // marginals: text classes sum to the q24 pair count, embedding
      // classes to the q38 pair count
      def n(m: String) = byM.get(m).map(_.getAs[Long]("n_pairs")).getOrElse(0L)
      val nText = Dedup.ngramJaccard(spark, graft.TestSpark.Sf).count()
      val nEmb = Similarity.embeddingNearDup(spark, graft.TestSpark.Sf).count()
      assert(n("both") + n("text_only") == nText)
      assert(n("both") + n("embedding_only") == nEmb)
    }
  }

  describe("dedupPrf (q258)") {
    it("every generator recovers all planted exact duplicates on the fixture") {
      val r = Dedup.dedupPrf(spark, graft.TestSpark.Sf).collect()
        .map(x => x.getAs[String]("method") -> x).toMap
      assert(r.keySet == Set("exact", "minhash_lsh", "simhash_ham"))
      // exact copies collide in every method by construction →
      // recall must be 1.0 everywhere; exact is also precision-1
      // (the original corpus is dup-free)
      r.values.foreach { x =>
        assert(x.getAs[Long]("n_truth") > 0)
        assert(x.getAs[Double]("pair_recall") == 1.0,
          x.getAs[String]("method"))
      }
      assert(r("exact").getAs[Double]("pair_precision") == 1.0)
      assert(r("exact").getAs[Long]("n_pred") ==
        r("exact").getAs[Long]("n_truth"))
      // near-dup generators carry candidate overhead on the
      // template-dense fixture
      assert(r("minhash_lsh").getAs[Long]("n_pred") >=
        r("minhash_lsh").getAs[Long]("tp"))
    }
  }
}
