package graft.operators

import org.apache.spark.sql.DataFrame
import org.scalatest.funspec.AnyFunSpec

import graft.TestSpark

class TextAnalysisSpec extends AnyFunSpec {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def docs(rows: (Long, String)*): DataFrame =
    rows.map { case (id, t) => (id, t, "en", "src0", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")

  describe("tokenStats (q17)") {
    it("counts whitespace and regex tokens") {
      val r = TextAnalysis.tokenStatsFrom(docs((1L, "Hello, world! 42"))).collect()(0)
      assert(r.getAs[Int]("n_tokens_ws") == 3)
      // Hello , world ! 42
      assert(r.getAs[Int]("n_tokens_re") == 5)
      assert(r.getAs[Int]("len_chars") == 16)
      // round(14/3, 6) — HALF_UP on the 6th decimal
      assert(r.getAs[Double]("avg_token_len") == 4.666667)
    }

    it("collapses repeated whitespace") {
      val r = TextAnalysis.tokenStatsFrom(docs((1L, "  a   b  "))).collect()(0)
      assert(r.getAs[Int]("n_tokens_ws") == 2)
    }
  }

  describe("filterFunnel (q88)") {
    it("charges each doc to its first failing rule and reports attrition") {
      // one doc per rule plus one clean survivor
      val tooShort = "only five little tokens here"
      val longToks = Seq.fill(25)("abcdefghijkl").mkString(" ")     // mean 12
      val noStops = Seq.fill(25)("zzzz").mkString(" ")              // 0 stopwords
      val repetitive = Seq.fill(10)("the cat and dog").mkString(" ") // 4/39 bigrams
      val clean = "the quick brown fox jumps over the lazy dog and " +
        "then runs far away into green fields near old creeks"
      val r = TextAnalysis.filterFunnelFrom(docs(
          (1L, tooShort), (2L, longToks), (3L, noStops),
          (4L, repetitive), (5L, clean)))
        .collect()
      val byRule = r.map(x => x.getAs[String]("rule") ->
        (x.getAs[Long]("n_rejected_here"), x.getAs[Long]("n_remaining"))).toMap
      assert(byRule("too_short") == (1L, 4L))
      assert(byRule("token_len") == (1L, 3L))
      assert(byRule("low_stopword") == (1L, 2L))
      assert(byRule("repetitive") == (1L, 1L))
      // rule order is the cascade order
      assert(r.map(_.getAs[Int]("stage")).toSeq == Seq(1, 2, 3, 4))
    }

    it("counts independent failures separately from cascade rejections") {
      // a doc that fails BOTH the length floor and the stopword rule is
      // charged to the earlier stage but counted by both n_failing
      val r = TextAnalysis.filterFunnelFrom(docs((1L, "zz zz zz")))
        .collect()
      val byRule = r.map(x => x.getAs[String]("rule") ->
        (x.getAs[Long]("n_failing"), x.getAs[Long]("n_rejected_here"))).toMap
      assert(byRule("too_short") == (1L, 1L))
      assert(byRule("low_stopword")._1 == 1L)
      assert(byRule("low_stopword")._2 == 0L)
    }
  }

  describe("qualityScore (q18)") {
    it("scores all-stopword text lower than contentful text") {
      val r = TextAnalysis.qualityScoreFrom(docs(
        (1L, "the a of to and the a of to and"),
        (2L, "supplier deliveries exceeded quarterly expectations across categories")))
        .collect()
      val stopScore = r(0).getAs[Double]("quality_score")
      val contentScore = r(1).getAs[Double]("quality_score")
      assert(r(0).getAs[Double]("stop_ratio") == 1.0)
      assert(r(1).getAs[Double]("stop_ratio") == 0.0)
      assert(stopScore < contentScore)
    }
  }

  describe("langId (q19)") {
    it("routes marker words to their language") {
      val r = TextAnalysis.langIdFrom(docs(
        (1L, "the cat is on the mat"),
        (2L, "der hund und die katze ist"),
        (3L, "el perro y la casa los"),
        (4L, "le chien et les maisons des")))
        .collect()
      assert(r.map(_.getAs[String]("pred_lang")).toSeq == Seq("en", "de", "es", "fr"))
    }

    it("breaks all-zero ties deterministically to the first language") {
      val r = TextAnalysis.langIdFrom(docs((1L, "xyzzy plugh"))).collect()(0)
      assert(r.getAs[String]("pred_lang") == "en")
    }
  }

  describe("langMismatch (q160)") {
    it("rolls declared-vs-predicted confusion up to a per-source rate") {
      // crawlA: one true en, one de text mislabeled en, one true de →
      // 1 of 3 mismatched; crawlB: clean fr → rate 0
      val d = Seq(
        ("crawlA", "en", "the cat is on the mat"),
        ("crawlA", "en", "der hund und die katze ist"),
        ("crawlA", "de", "der hund und die katze ist"),
        ("crawlB", "fr", "le chien et les maisons des"))
        .toDF("source", "lang", "text")
      val r = TextAnalysis.langMismatchFrom(d).collect()
      val keys = r.map(x => (x.getAs[String]("source"),
        x.getAs[String]("lang"), x.getAs[String]("pred_lang"))).toSeq
      assert(keys == Seq(
        ("crawlA", "de", "de"), ("crawlA", "en", "de"),
        ("crawlA", "en", "en"), ("crawlB", "fr", "fr")))
      assert(r.map(_.getAs[Long]("n_docs")).toSeq == Seq(1L, 1L, 1L, 1L))
      assert(r.map(_.getAs[Boolean]("is_mismatch")).toSeq ==
        Seq(false, true, false, false))
      assert(r.map(_.getAs[Long]("source_total")).toSeq == Seq(3L, 3L, 3L, 1L))
      assert(r.map(_.getAs[Double]("source_mismatch_rate")).toSeq ==
        Seq(0.333333, 0.333333, 0.333333, 0.0))
    }
  }

  describe("scoreBiasAuc (q165)") {
    it("computes the tie-corrected one-vs-rest AUC per language") {
      // score ordering by construction: x1 < (x2 = y1, identical text
      // ⇒ exact tie) < y2. Doubled ranks: st 1 (cv 1), st 2 (cv 2),
      // st 4 (cv 1). lang x: r2 = 1·2 + 1·5 = 7, U2 = 7 − 2·3 = 1,
      // AUC = 1/8; lang y: r2 = 5 + 8 = 13, U2 = 7, AUC = 7/8 —
      // complements sum to 1 as a two-class AUC must.
      val d = Seq(
        ("x", "alpha beta"),
        ("x", "gamma delta epsilon zeta"),
        ("y", "gamma delta epsilon zeta"),
        ("y", "abcdefgh ijklmnop qrstuvwx yzabcdef"))
        .toDF("lang", "text")
      val r = TextAnalysis.scoreBiasAucFrom(d).collect()
        .map(x => x.getAs[String]("lang") -> x).toMap
      assert(r("x").getAs[Long]("n_pos") == 2L)
      assert(r("x").getAs[Long]("n_neg") == 2L)
      assert(r("x").getAs[Long]("u2") == 1L)
      assert(r("x").getAs[Double]("auc") == 0.125)
      assert(r("y").getAs[Long]("u2") == 7L)
      assert(r("y").getAs[Double]("auc") == 0.875)
    }
  }

  describe("collocations (q166)") {
    it("ranks the repeated pair by lift and cuts below the noise floor") {
      // one doc of "new york" ×5: N=10 tokens, M=9 bigrams,
      // c(new,york)=5 ≥ CollocMin, c(york,new)=4 < CollocMin (cut).
      // lift = ((5·10/5)·10)/5/9 = 20/9 in that exact IEEE order.
      val r = TextAnalysis.collocationsFrom(docs(
        (1L, "new york new york new york new york new york"))).collect()
      assert(r.length == 1)
      val x = r(0)
      assert(x.getAs[String]("x") == "new" && x.getAs[String]("y") == "york")
      assert(x.getAs[Long]("c_xy") == 5L)
      assert(x.getAs[Long]("c_x") == 5L && x.getAs[Long]("c_y") == 5L)
      assert(x.getAs[Double]("lift") ==
        BigDecimal(5.0 * 10 / 5 * 10 / 5 / 9)
          .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
  }

  describe("fingerprint (q20)") {
    it("is invariant to case and punctuation") {
      val r = TextAnalysis.fingerprintFrom(docs(
        (1L, "Hello, World  again"), (2L, "hello world again")))
        .collect()
      assert(r(0).getAs[String]("fp_md5") == r(1).getAs[String]("fp_md5"))
      assert(r(0).getAs[Long]("fp60") == r(1).getAs[Long]("fp60"))
      assert(r(0).getAs[Long]("min_gram_hash") == r(1).getAs[Long]("min_gram_hash"))
    }

    it("handles text shorter than one 8-gram (null rolling hash)") {
      val r = TextAnalysis.fingerprintFrom(docs((1L, "hey"))).collect()(0)
      assert(r.isNullAt(r.fieldIndex("min_gram_hash")))
      assert(r.getAs[String]("fp_md5").nonEmpty)
    }
  }

  describe("winnowFingerprints (q84)") {
    it("selects ~2/(w+1) density and guarantees shared fingerprints for 7-token overlaps") {
      val shared = "alpha beta gamma delta epsilon zeta eta" // exactly t = w+k-1 = 7
      val d = docs(
        (1L, s"one two three four five $shared six seven"),
        (2L, s"$shared nine ten eleven twelve thirteen fourteen"),
        (3L, "totally different words with no overlap at all here"))
      val r = TextAnalysis.winnowFingerprintsFrom(d).collect()
        .map(x => (x.getAs[Long]("doc_id"), x.getAs[Long]("pos"), x.getAs[Long]("fp")))
      // the t-token guarantee: docs 1 and 2 must share >=1 selected fp
      val f1 = r.filter(_._1 == 1L).map(_._3).toSet
      val f2 = r.filter(_._1 == 2L).map(_._3).toSet
      val f3 = r.filter(_._1 == 3L).map(_._3).toSet
      assert((f1 & f2).nonEmpty, "t-token shared substring must share a fingerprint")
      assert((f1 & f3).isEmpty && (f2 & f3).isEmpty)
      // each selected fp is the hash at its position, positions in range
      r.groupBy(_._1).foreach { case (_, rows) =>
        assert(rows.map(_._2).distinct.length == rows.length, "positions distinct per doc")
      }
      // density: every w-window contributes at most one NEW position, so
      // selections <= number of windows and >= windows / w
      val nw1 = 14 - TextAnalysis.WinnowK + 1 - TextAnalysis.WinnowW + 1
      val s1 = r.count(_._1 == 1L)
      assert(s1 <= nw1 && s1 >= nw1 / TextAnalysis.WinnowW)
    }

    it("emits nothing for docs shorter than k tokens") {
      val r = TextAnalysis.winnowFingerprintsFrom(docs((9L, "too short"))).collect()
      assert(r.isEmpty)
    }
  }

  describe("kmvDistinct (q39)") {
    it("falls back to the exact count when distincts < k") {
      // fixtures have 500 distinct docs (> k=256), so the small-corpus
      // branch is only covered here
      val corpus = docs((1 to 40).map(i => (i.toLong, s"doc number $i")): _*)
      val r = TextAnalysis.kmvDistinctFrom(corpus).collect()(0)
      assert(r.getAs[Long]("n_exact") == 40L)
      assert(r.getAs[Long]("n_k") == 40L)
      assert(r.getAs[Double]("est_distinct") == 40.0)
    }

    it("collapses case/punctuation duplicates before sketching") {
      val corpus = docs((1L, "Same Doc!"), (2L, "same doc"), (3L, "other"))
      val r = TextAnalysis.kmvDistinctFrom(corpus).collect()(0)
      assert(r.getAs[Long]("n_exact") == 2L)
      assert(r.getAs[Double]("est_distinct") == 2.0)
    }

    it("estimates within 10% on a 5000-doc corpus with k=256") {
      val corpus = docs((1 to 5000).map(i => (i.toLong, s"unique doc $i")): _*)
      val r = TextAnalysis.kmvDistinctFrom(corpus).collect()(0)
      val est = r.getAs[Double]("est_distinct")
      assert(math.abs(est - 5000) / 5000 < 0.10, s"est=$est")
    }
  }

  describe("dfVocab (q53)") {
    it("counts tf and df with df <= min(tf, corpus size), ordered by df") {
      val corpus = docs(
        (1L, "apple banana apple"),
        (2L, "banana cherry"),
        (3L, "banana banana durian"))
      val r = TextAnalysis.dfVocabFrom(corpus).collect()
        .map(x => (x.getAs[String]("token"), x.getAs[Long]("tf"), x.getAs[Long]("df")))
      assert(r.head == ("banana", 4L, 3L))
      assert(r.toSet == Set(
        ("banana", 4L, 3L), ("apple", 2L, 1L),
        ("cherry", 1L, 1L), ("durian", 1L, 1L)))
      r.foreach { case (_, tf, df) => assert(df <= tf && df <= 3) }
    }

    it("caps output at VocabTopK with a fully tie-broken order") {
      val corpus = docs((1 to 100).map(i => (i.toLong, s"w$i common")): _*)
      val r = TextAnalysis.dfVocabFrom(corpus).collect()
      assert(r.length == TextAnalysis.VocabTopK)
      assert(r.head.getAs[String]("token") == "common")
      assert(r.head.getAs[Long]("df") == 100L)
    }
  }

  describe("tfidfKeywords (q97)") {
    it("ranks rare distinctive terms above corpus-wide common ones") {
      val r = TextAnalysis.tfidfKeywordsFrom(docs(
        (1L, "the quark the the"),
        (2L, "the boring common words"),
        (3L, "the boring common words")))
        .collect()
      val d1 = r.filter(_.getAs[Long]("doc_id") == 1L)
      // "quark" (df=1) outranks "the" (df=3) despite tf 1 vs 3
      assert(d1.head.getAs[String]("token") == "quark")
      assert(d1.head.getAs[Int]("rank") == 1)
      assert(d1.head.getAs[Long]("df") == 1L)
      // every doc emits at most TfidfTopK rows, ranks are 1..k dense
      r.groupBy(_.getAs[Long]("doc_id")).foreach { case (_, rows) =>
        assert(rows.length <= TextAnalysis.TfidfTopK)
        assert(rows.map(_.getAs[Int]("rank")).sorted.sameElements(1 to rows.length))
      }
      // df=N terms get ln((N+1)/(N+1))=0 score but can still fill ranks
      val theScore = r.find(x => x.getAs[Long]("doc_id") == 1L &&
        x.getAs[String]("token") == "the")
      assert(theScore.forall(_.getAs[Double]("tfidf") == 0.0))
    }
  }

  describe("oovRate (q139)") {
    // multilingual corpus: the helper pins lang="en", so build rows
    // directly when the language split matters
    def mdocs(rows: (Long, String, String)*): DataFrame =
      rows.map { case (id, t, l) => (id, t, l, "src0", t.length.toLong) }
        .toDF("doc_id", "text", "lang", "source", "n_chars")

    it("tags token mass outside the top-K vocabulary and rolls up per language") {
      // 24 vocab tokens appear twice (one 'en' doc, repeated); two rare
      // tokens appear once each in a second doc — outside the cut
      val common = (0 until TextAnalysis.OovVocabK).map(i => s"t$i").mkString(" ")
      val r = TextAnalysis.oovRateFrom(mdocs(
          (1L, s"$common $common", "en"),
          (2L, "rare1 rare2", "en"),
          (3L, "t0 t1", "de"))).collect()
      val en = r.find(_.getAs[String]("lang") == "en").get
      assert(en.getAs[Long]("n_docs") == 2L)
      assert(en.getAs[Long]("n_tokens") == 50L)
      assert(en.getAs[Long]("n_oov") == 2L)
      assert(en.getAs[Double]("oov_rate") == 0.04)
      assert(en.getAs[Long]("n_docs_high_oov") == 1L) // doc 2 is 100% OOV
      val de = r.find(_.getAs[String]("lang") == "de").get
      assert(de.getAs[Long]("n_oov") == 0L && de.getAs[Double]("oov_rate") == 0.0)
      assert(de.getAs[Long]("n_docs_high_oov") == 0L)
    }

    it("reports zero OOV when the corpus vocabulary fits the cut") {
      val r = TextAnalysis.oovRateFrom(docs((1L, "a b c"), (2L, "b c d")))
        .collect()
      assert(r.map(_.getAs[Long]("n_oov")).sum == 0L)
    }
  }

  describe("lmScore (q57)") {
    it("scores docs by mean -ln p under the corpus unigram LM") {
      // counts: a=3, b=2, c=1; total=6; all in-vocab (V=16)
      val r = TextAnalysis.lmScoreFrom(docs((1L, "a a a b"), (2L, "b c")))
        .collect()
      val nll1 = -(3 * math.log(3.0 / 6) + math.log(2.0 / 6)) / 4
      val nll2 = -(math.log(2.0 / 6) + math.log(1.0 / 6)) / 2
      def r6(x: Double) =
        BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(r.map(x => (x.getAs[Long]("doc_id"), x.getAs[Double]("nll"))).toSeq ==
        Seq((1L, r6(nll1)), (2L, r6(nll2))))
      assert(r.forall(x => x.getAs[Double]("ppl") ==
        r6(math.exp(if (x.getAs[Long]("doc_id") == 1) nll1 else nll2))))
    }

    it("floors OOV tokens at 1/total once the vocab cut bites") {
      // 16 tokens ×5 fill the vocab; "y" (corpus count 3 > 1) misses the
      // cut, so it must score with the 1/total floor, not its true count
      val vocabText = (1 to 16).map(i => (f"v$i%02d " * 5).trim).mkString(" ")
      val r = TextAnalysis.lmScoreFrom(docs(
        (1L, s"$vocabText y y"),
        (2L, "v01 y"))) // corpus: v01=6, v02..v16=5, y=3; total=84
        .collect()
      val nll2 = -(math.log(6.0 / 84) + math.log(1.0 / 84)) / 2
      def r6(x: Double) =
        BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(r.length == 2)
      assert(r(1).getAs[Double]("nll") == r6(nll2))
    }

    it("is deterministic on the fixture and exercises OOV") {
      val r = TextAnalysis.lmScore(spark, TestSpark.Sf).collect()
      assert(r.length == 500)
      assert(TextAnalysis.lmScore(spark, TestSpark.Sf).collect().toSeq == r.toSeq)
    }
  }

  describe("bm25Search (q55)") {
    // spark join vector customer are the fixed query terms
    val corpus = docs(
      (1L, "spark join vector customer extra words here"), // all 4 terms
      (2L, "spark spark spark filler filler filler filler"), // high tf, 1 term
      (3L, "join customer pad"),
      (4L, "nothing relevant at all in this document text"),
      (5L, "vector"))

    /** Scala reference of the exact formula (Okapi BM25, Lucene idf). */
    def refScores: Map[Long, (Double, Long)] = {
      val toks = corpus.collect()
        .map(r => r.getLong(0) -> r.getString(1).toLowerCase.trim.split("\\s+").toSeq)
        .toMap
      val n = toks.size
      val sumDl = toks.values.map(_.size).sum
      val terms = TextAnalysis.Bm25Query
      val dfs = terms.map(t => toks.values.count(_.contains(t)))
      toks.flatMap { case (id, w) =>
        val dl = w.size
        val tfs = terms.map(t => w.count(_ == t))
        val sc = terms.indices.map { i =>
          if (tfs(i) == 0) 0.0
          else math.log((n - dfs(i) + 0.5) / (dfs(i) + 0.5) + 1.0) *
            (tfs(i) * 2.2) /
            (tfs(i) + 1.2 * (0.25 + 0.75 * (dl.toDouble * n / sumDl)))
        }.sum
        val nt = tfs.count(_ > 0).toLong
        if (nt > 0) Some(id -> (sc, nt)) else None
      }
    }

    it("matches the reference formula and excludes no-hit docs") {
      val got = TextAnalysis.bm25SearchFrom(corpus).collect()
        .map(r => r.getLong(0) -> (r.getDouble(1), r.getLong(2))).toMap
      val want = refScores
      assert(got.keySet == want.keySet && !got.contains(4L))
      got.foreach { case (id, (sc, nt)) =>
        assert(nt == want(id)._2)
        assert(math.abs(sc - want(id)._1) < 1e-8, s"doc $id: $sc vs ${want(id)._1}")
      }
    }

    it("ranks the all-terms doc above single-term docs and orders by score desc") {
      val r = TextAnalysis.bm25SearchFrom(corpus).collect()
      assert(r.head.getLong(0) == 1L, "doc with all 4 terms ranks first")
      val scores = r.map(_.getDouble(1)).toSeq
      assert(scores == scores.sorted.reverse)
    }
  }

  describe("sourceKl (q68)") {
    def srcDocs(rows: (Long, String, String)*): org.apache.spark.sql.DataFrame =
      rows.map { case (id, t, src) => (id, t, "en", src, t.length.toLong) }
        .toDF("doc_id", "text", "lang", "source", "n_chars")

    it("a source matching the corpus distribution scores 0, a divergent one > 0") {
      // corpus: 'a' and 'b' each appear 4 times; source s1 is exactly the
      // corpus mix, source s2 is all-'a'
      val r = TextAnalysis.sourceKlFrom(srcDocs(
        (1L, "a b a b", "s1"),
        (2L, "a b a b", "s1"),
        (3L, "a a a a", "s2"),
        (4L, "b b b b", "s3")))
        .collect().map(x => x.getAs[String]("source") -> x.getAs[Double]("kl")).toMap
      // s1's token distribution (50/50) equals the corpus's → KL = 0
      assert(r("s1") == 0.0)
      assert(r("s2") > 0.0 && r("s3") > 0.0)
      // all-'a' diverges identically to all-'b' (corpus is symmetric)
      assert(math.abs(r("s2") - r("s3")) < 1e-9)
    }

    it("degenerates to zero on an all-blank corpus instead of throwing") {
      val r = TextAnalysis.sourceKlFrom(srcDocs((1L, " ", "s1")))
        .collect()(0)
      assert(r.getAs[Double]("kl") == 0.0)
    }

    it("hand-checks the two-bucket KL value") {
      // corpus: 6 a, 2 b; source s2 = (2 a, 2 b): KL = .5 ln(.5/.75) + .5 ln(.5/.25)
      val r = TextAnalysis.sourceKlFrom(srcDocs(
        (1L, "a a a a", "s1"),
        (2L, "a a b b", "s2")))
        .collect().map(x => x.getAs[String]("source") -> x.getAs[Double]("kl")).toMap
      val expected = 0.5 * math.log(0.5 / 0.75) + 0.5 * math.log(0.5 / 0.25)
      assert(math.abs(r("s2") - expected) < 1e-9, s"got ${r("s2")}, want $expected")
    }
  }

  describe("bpePairs (q69)") {
    it("counts adjacent char pairs inside tokens, never across spaces") {
      val r = TextAnalysis.bpePairsFrom(docs((1L, "ab abc a")))
        .collect().map(x => x.getAs[String]("pair") -> x.getAs[Long]("n")).toMap
      // "ab" -> {ab}; "abc" -> {ab, bc}; "a" -> none; no "b a" cross-space pair
      assert(r == Map("ab" -> 2L, "bc" -> 1L))
    }

    it("ranks by count with deterministic pair tie-break on the fixture") {
      val r = TextAnalysis.bpePairs(spark, graft.TestSpark.Sf).collect()
      assert(r.length == TextAnalysis.BpeTopK)
      val counts = r.map(_.getAs[Long]("n")).toSeq
      assert(counts == counts.sorted.reverse)
    }
  }

  describe("bpeTrain (q198)") {
    it("runs the greedy merge loop with frequency-weighted counts and BPE's left-to-right merge rule") {
      // vocab: "aaab"×3, "ab"×2. Round 1 pair counts: (a,a) = 2·3 = 6,
      // (a,b) = 3+2 = 5 → merge (a,a); "aaab" → <aa><a><b> (left-to-
      // right non-overlap: never <a><aa>). Round 2: (a,b) = 5 beats
      // (aa,a) = 3 → merge (a,b). Round 3: only (aa,ab) = 3 remains.
      // Round 4: no pairs anywhere → the loop stops early at 3 rows.
      val r = TextAnalysis.bpeTrainFrom(docs(
          (1L, "aaab aaab aaab ab ab")))
        .collect().map(x => (x.getAs[Int]("merge_round"),
          x.getAs[String]("pair"), x.getAs[String]("merged"),
          x.getAs[Long]("n")))
      assert(r.toSeq == Seq(
        (1, "<a><a>", "<aa>", 6L),
        (2, "<a><b>", "<ab>", 5L),
        (3, "<aa><ab>", "<aaab>", 3L)))
    }

    it("trains the full budget on the fixture with rounds numbered densely") {
      val r = TextAnalysis.bpeTrain(spark, graft.TestSpark.Sf).collect()
      assert(r.length == TextAnalysis.BpeMerges)
      assert(r.map(_.getAs[Int]("merge_round")).toSeq ==
        (1 to TextAnalysis.BpeMerges))
      // every merged symbol is the concatenation of its pair's parts
      r.foreach { x =>
        val parts = x.getAs[String]("pair").split("><")
          .map(_.stripPrefix("<").stripSuffix(">"))
        assert(x.getAs[String]("merged") == "<" + parts.mkString + ">")
      }
    }
  }

  describe("bpeTokenize (q200)") {
    it("applies the trained merges in order: the q198 hand-example tokenizes to 1 token/word") {
      // Training on "aaab"×3 + "ab"×2 yields merges (a,a)→aa, (a,b)→ab,
      // (aa,ab)→aaab (see the q198 spec). Applying them IN ORDER:
      // aaab → <aa><a><b> → <aa><ab> → <aaab> (1 token), ab → <ab>
      // (1 token). So: 5 words, 3·4+2·2 = 16 chars, 5 tokens.
      val r = TextAnalysis.bpeTokenizeFrom(docs(
          (1L, "aaab aaab aaab ab ab")))
        .collect().map(x => (x.getAs[String]("lang"),
          x.getAs[Long]("n_words"), x.getAs[Long]("n_chars"),
          x.getAs[Long]("n_tokens"), x.getAs[Double]("chars_per_token"),
          x.getAs[Double]("tokens_per_word")))
      assert(r.toSeq == Seq(("en", 5L, 16L, 5L, 3.2, 1.0)))
    }

    it("an unmergeable corpus tokenizes to one token per char") {
      // single-char words → no adjacent pairs → zero merges → every
      // char is its own token (chars_per_token = 1)
      val r = TextAnalysis.bpeTokenizeFrom(docs((1L, "a b c a"))).collect()(0)
      assert(r.getAs[Long]("n_chars") == 4L)
      assert(r.getAs[Long]("n_tokens") == 4L)
      assert(r.getAs[Double]("chars_per_token") == 1.0)
    }

    it("reports fertility per language on the fixture, compression ≥ 1") {
      val langs = graft.sources.Tables.documents(spark, graft.TestSpark.Sf)
        .select("lang").distinct().collect().map(_.getString(0)).sorted
      val r = TextAnalysis.bpeTokenize(spark, graft.TestSpark.Sf).collect()
      assert(r.map(_.getAs[String]("lang")).toSeq == langs.toSeq)
      r.foreach { x =>
        // merging can only shrink: tokens ≤ chars, and ≥ words
        assert(x.getAs[Long]("n_tokens") <= x.getAs[Long]("n_chars"))
        assert(x.getAs[Long]("n_tokens") >= x.getAs[Long]("n_words"))
        assert(x.getAs[Double]("chars_per_token") >= 1.0)
      }
    }
  }

  describe("bigramLm (q203)") {
    it("interpolates pruned-bigram MLE with the unigram floor, hand-checked") {
      // unigrams: a:3 b:2 c:1 z:1, N = 7; bigram (a,b):2 kept, (a,c):1 pruned
      val r = TextAnalysis.bigramLmFrom(docs(
          (1L, "a b"), (2L, "a b"), (3L, "a c"), (4L, "z")))
        .collect().map(x => x.getAs[Long]("doc_id") ->
          (x.getAs[Long]("n_bigrams"), x.getAs[Double]("nll"),
            x.getAs[Double]("ppl"))).toMap
      def r6(v: Double) =
        BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      val pAB = 0.75 * 2 / 3.0 + 0.25 * 2 / 7.0 // seen transition
      val pAC = 0.75 * 0 / 3.0 + 0.25 * 1 / 7.0 // pruned → unigram floor
      assert(r(1L) == ((1L, r6(-math.log(pAB)), r6(math.exp(-math.log(pAB))))))
      assert(r(2L) == r(1L))
      assert(r(3L)._1 == 1L)
      assert(r(3L)._2 == r6(-math.log(pAC)))
      // word-salad transitions score far worse than fluent ones
      assert(r(3L)._2 > r(1L)._2)
      // the single-token doc has no transitions and is absent
      assert(!r.contains(4L))
    }

    it("scores every multi-token fixture doc with positive nll and ppl >= 1") {
      val r = TextAnalysis.bigramLm(spark, graft.TestSpark.Sf).collect()
      assert(r.nonEmpty)
      r.foreach { x =>
        assert(x.getAs[Long]("n_bigrams") >= 1L)
        assert(x.getAs[Double]("nll") > 0.0)
        assert(x.getAs[Double]("ppl") >= 1.0)
      }
    }

    it("head/tail routing is value-invariant: tiny heads force the cold path, same rows") {
      // default heads resolve the whole fixture vocabulary map-side;
      // headV=2/headB=1 push almost every transition through the tail
      // shuffle joins (incl. sentinel-keyed rows whose unigram WAS
      // head-resolved) — the scores must not move for q203 or q209
      def canon(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(_.toSeq).toSeq
      val docs = graft.sources.Tables.documents(spark, graft.TestSpark.Sf)
      val lmDefault = canon(TextAnalysis.bigramLm(spark, graft.TestSpark.Sf))
      val hoDefault = canon(TextAnalysis.heldoutPpl(spark, graft.TestSpark.Sf))
      assert(canon(TextAnalysis.bigramLmFrom(docs, headV = 2, headB = 1)) ==
        lmDefault)
      assert(canon(TextAnalysis.heldoutPplFrom(docs, headV = 2, headB = 1)) ==
        hoDefault)
    }
  }

  describe("bigramLm (q203) on a Zipf corpus") {
    it("scores every doc when the vocabulary outgrows the heads") {
      // token ranks drawn log-uniform over 50k types, so a few hot
      // tokens carry much of the mass and the tail is head-rare; heads
      // sized below the vocab and broadcast disabled send the tail down
      // the cold shuffle joins
      val zipf = spark.range(0, 400).selectExpr(
        "id AS doc_id",
        "concat_ws(' ', transform(sequence(1, 30), i -> concat('t', " +
          "cast(exp(ln(50000.0d) * (pmod(xxhash64(id, i), 1000000) " +
          "/ 1000000.0d)) AS int)))) AS text")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try assert(TextAnalysis.bigramLmFrom(zipf, headV = 512, headB = 4096)
        .count() == 400L)
      finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }

  describe("heldoutPpl (q209)") {
    // the q45 split rule, re-derived (hash32("split|"+id) % 100)
    def bucket(id: Long): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s"split|$id".getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString
      java.lang.Long.parseLong(hex.take(8), 16) % 100
    }

    it("trains on the train bucket only and Laplace-floors unseen val tokens") {
      // pick one val-bucket id and two train-bucket ids from the rule
      val valId = (0L until 200L).find(id =>
        bucket(id) >= 80 && bucket(id) < 90).get
      val trainIds = (0L until 200L).filter(bucket(_) < 80).take(2)
      // train corpus: "a b" twice (per doc) → uni a:2 b:2, N=4, V=2;
      // bigram (a,b):2 kept. val doc: "a q" — (a,q): unseen bigram,
      // q unseen token → p = 0 + 0.25·(0+1)/(4+2)
      val r = TextAnalysis.heldoutPplFrom(docs(
          (trainIds(0), "a b"), (trainIds(1), "a b"), (valId, "a q")))
        .collect()
      def r6(v: Double) =
        BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      val p = 0.25 * (0 + 1) / (4 + 2).toDouble
      assert(r.length == 1 && r(0).getAs[Long]("doc_id") == valId)
      assert(r(0).getAs[Double]("nll") == r6(-math.log(p)))
    }

    it("scores only val-bucket docs on the fixture, all finite and positive") {
      val r = TextAnalysis.heldoutPpl(spark, graft.TestSpark.Sf).collect()
      assert(r.nonEmpty)
      r.foreach { x =>
        assert(bucket(x.getAs[Long]("doc_id")) >= 80 &&
          bucket(x.getAs[Long]("doc_id")) < 90)
        assert(x.getAs[Double]("nll") > 0.0 && !x.getAs[Double]("ppl").isNaN)
      }
      // held-out ppl must exceed train-on-self ppl for the same docs
      val self = TextAnalysis.bigramLm(spark, graft.TestSpark.Sf).collect()
        .map(x => x.getAs[Long]("doc_id") -> x.getAs[Double]("ppl")).toMap
      val worse = r.count(x =>
        x.getAs[Double]("ppl") >= self(x.getAs[Long]("doc_id")))
      assert(worse * 10 >= r.length * 7,
        s"held-out ppl should usually exceed train-on-self ppl ($worse/${r.length})")
    }
  }

  describe("qualityModel (q218)") {
    def r6(v: Double) =
      BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    def zOf(nt: Long, stop: Long, nonspace: Long): Double =
      TextAnalysis.QmBias +
        TextAnalysis.QmWLen * math.log(1.0 + nt.toDouble) +
        TextAnalysis.QmWStop * (stop.toDouble / nt) +
        TextAnalysis.QmWTok * (nonspace.toDouble / nt)

    it("scores the logistic chain over the q18 feature integers, hand-checked") {
      // "the cat sat" → 3 tokens, 1 stopword, 9 nonspace chars
      val z = zOf(3L, 1L, 9L)
      val r = TextAnalysis.qualityModelFrom(docs((1L, "the cat sat")))
        .collect()(0)
      assert(r.getAs[Long]("n_tokens") == 3L)
      assert(r.getAs[Double]("score") == r6(1.0 / (1.0 + math.exp(-z))))
      assert(r.getAs[Boolean]("keep") == (z >= 0.0))
    }

    it("stopword-rich natural text outranks symbol soup; keep matches the z sign") {
      val r = TextAnalysis.qualityModelFrom(docs(
          (1L, "the cat is on the mat and the dog is in the house of a friend"),
          (2L, "x9 zq1 7b kk3 p0q m2m r77 jx8 w4 v5n")))
        .collect().map(x => x.getAs[Long]("doc_id") -> x).toMap
      assert(r(1L).getAs[Double]("score") > r(2L).getAs[Double]("score"))
      assert(r(1L).getAs[Boolean]("keep"))
      // whitespace-only docs carry the q18 kernel's single empty token
      // (nt = 1, all ratios 0) and score at the bias-dominated floor
      val ws = TextAnalysis.qualityModelFrom(docs((3L, "   "))).collect()
      assert(ws.length == 1 && ws(0).getAs[Long]("n_tokens") == 1L)
      assert(!ws(0).getAs[Boolean]("keep"))
    }
  }

  describe("zipfSlope (q205)") {
    it("fits the least-squares slope over ranked token frequencies, hand-checked") {
      // counts a:4 b:2 c:1 → ranks 1,2,3
      val r = TextAnalysis.zipfSlopeFrom(docs((1L, "a a a a b b c")))
        .collect()(0)
      val x = Seq(1.0, 2.0, 3.0).map(math.log)
      val y = Seq(4.0, 2.0, 1.0).map(math.log)
      val n = 3.0
      val b = (n * x.zip(y).map { case (a, c) => a * c }.sum - x.sum * y.sum) /
        (n * x.map(v => v * v).sum - x.sum * x.sum)
      def r6(v: Double) =
        BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(r.getAs[Long]("v_used") == 3L)
      assert(r.getAs[Double]("slope") == r6(b))
      assert(r.getAs[Double]("zipf_dev") == r6(math.abs(b + 1.0)))
    }

    it("a flat source (every token once) slopes to 0 with deviation 1") {
      val r = TextAnalysis.zipfSlopeFrom(docs((1L, "q w e r t y")))
        .collect()(0)
      assert(r.getAs[Double]("slope") == 0.0)
      assert(r.getAs[Double]("zipf_dev") == 1.0)
    }

    it("audits every fixture source with a negative slope") {
      val r = TextAnalysis.zipfSlope(spark, graft.TestSpark.Sf).collect()
      assert(r.nonEmpty)
      r.foreach { x =>
        assert(x.getAs[Long]("v_used") <= TextAnalysis.ZipfTopV.toLong)
        assert(x.getAs[Double]("slope") < 0.0,
          s"${x.getAs[String]("source")}: natural text must slope down")
      }
    }
  }

  describe("charEntropy (q206)") {
    def r6(v: Double) =
      BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

    it("one repeated char has zero entropy; uniform chars hit ln(k)") {
      val r = TextAnalysis.charEntropyFrom(docs(
          (1L, "aaaa")))
        .collect()(0)
      assert(r.getAs[Long]("n_chars") == 4L)
      assert(r.getAs[Long]("n_distinct_chars") == 1L)
      assert(r.getAs[Double]("entropy_nats") == 0.0)
      val u = TextAnalysis.charEntropyFrom(docs((1L, "abcd"))).collect()(0)
      assert(u.getAs[Long]("n_distinct_chars") == 4L)
      assert(u.getAs[Double]("entropy_nats") == r6(math.log(4.0)))
    }

    it("splits on CODE POINTS, not UTF-16 units: surrogate-pair chars count once") {
      // pins the engine-parity contract for astral text: Spark's
      // split(text, '') and DuckDB's regexp_split_to_array(text, '')
      // both split per code point (verified: both yield ['a','😀','b']),
      // so 😀 (U+1F600, a surrogate pair in UTF-16) is ONE character
      val r = TextAnalysis.charEntropyFrom(docs((1L, "a😀b")))
        .collect()(0)
      assert(r.getAs[Long]("n_chars") == 3L)
      assert(r.getAs[Long]("n_distinct_chars") == 3L)
      assert(r.getAs[Double]("entropy_nats") == r6(math.log(3.0)))
      val rep = TextAnalysis.charEntropyFrom(
          docs((1L, "😀😀😀😀")))
        .collect()(0)
      assert(rep.getAs[Long]("n_chars") == 4L)
      assert(rep.getAs[Long]("n_distinct_chars") == 1L)
      assert(rep.getAs[Double]("entropy_nats") == 0.0)
    }

    it("counts spaces as characters and stays within the ln(charset) bound") {
      val r = TextAnalysis.charEntropyFrom(docs((1L, "ab ab"))).collect()(0)
      assert(r.getAs[Long]("n_chars") == 5L) // 'a','b',' ','a','b'
      assert(r.getAs[Long]("n_distinct_chars") == 3L)
      val fx = TextAnalysis.charEntropy(spark, graft.TestSpark.Sf).collect()
      fx.foreach { x =>
        val hMax = math.log(x.getAs[Long]("n_distinct_chars").toDouble)
        val h = x.getAs[Double]("entropy_nats")
        assert(h >= 0.0 && h <= hMax + 1e-9)
      }
    }
  }

  describe("piiScrub (q62)") {
    // the same md5-derived class the operator's hash32 computes
    def piiClass(id: Long): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s"pii|$id".getBytes("UTF-8")).map(b => f"$b%02x").mkString
      java.lang.Long.parseLong(hex.take(8), 16) % TextAnalysis.PiiMod
    }

    it("detects exactly the injected class and redacts its exact span") {
      val ids = (0L until 60L).toSeq
      val r = TextAnalysis.piiScrubFrom(docs(ids.map(id => (id, "plain words only")): _*))
        .collect().map(x => x.getAs[Long]("doc_id") -> x).toMap
      assert(r.size == 60)
      ids.foreach { id =>
        val x = r(id)
        val counts = (x.getAs[Int]("n_email"), x.getAs[Int]("n_phone"), x.getAs[Int]("n_ip"))
        val diff = x.getAs[Int]("len_orig") - x.getAs[Int]("len_redacted")
        piiClass(id) match {
          case 0 => // "user<id>@example.com" → "<EMAIL>"
            assert(counts == ((1, 0, 0)), s"doc $id")
            assert(diff == s"user$id@example.com".length - "<EMAIL>".length)
          case 1 => // "555-xxx-xxxx" → "<PHONE>"
            assert(counts == ((0, 1, 0)), s"doc $id")
            assert(diff == 12 - "<PHONE>".length)
          case 2 => // "a.b.0.1" → "<IP>"
            assert(counts == ((0, 0, 1)), s"doc $id")
            assert(diff == s"${id % 256}.${(id * 7) % 256}.0.1".length - "<IP>".length)
          case _ =>
            assert(counts == ((0, 0, 0)), s"doc $id")
            assert(diff == 0, s"doc $id must be untouched")
        }
      }
    }

    it("exercises every class on the fixture corpus") {
      val r = TextAnalysis.piiScrub(spark, graft.TestSpark.Sf).collect()
      assert(r.length == 500)
      assert(r.map(_.getAs[Int]("n_email")).sum > 0)
      assert(r.map(_.getAs[Int]("n_phone")).sum > 0)
      assert(r.map(_.getAs[Int]("n_ip")).sum > 0)
      assert(r.count(x => x.getAs[Int]("len_orig") == x.getAs[Int]("len_redacted")) > 0)
    }
  }

  describe("dedupSearchOf (q115)") {
    it("keeps the best hit per cluster and re-ranks; unclustered docs are singletons") {
      val hits = Seq((1L, 0.9, 2L), (2L, 0.8, 2L), (3L, 0.7, 1L))
        .toDF("doc_id", "bm25", "n_terms")
      // docs 1 and 2 are the same near-dup cluster; doc 3 unclustered
      val clusters = Seq((1L, 1L), (2L, 1L)).toDF("doc_id", "cluster_id")
      val r = TextAnalysis.dedupSearchOf(hits, clusters).collect()
      assert(r.map(x => (x.getAs[Int]("rank"), x.getAs[Long]("doc_id"),
        x.getAs[Long]("cluster_id"))).toSeq ==
        Seq((1, 1L, 1L), (2, 3L, 3L)))
    }

    it("the full pipeline returns deduped ranks over the corpus fixture") {
      val r = TextAnalysis.dedupSearch(spark, TestSpark.Sf).collect()
      assert(r.nonEmpty)
      // ranks are 1..n dense and cluster ids unique (one hit per cluster)
      assert(r.map(_.getAs[Int]("rank")).toSeq == (1 to r.length).toSeq)
      val cl = r.map(_.getAs[Long]("cluster_id"))
      assert(cl.distinct.length == cl.length)
    }
  }

  describe("boilerplateTemplates (q175)") {
    it("counts source-scoped document frequency with per-doc distinct grams") {
      // source A (4 docs): "alpha beta" in 3 docs — one of them TWICE
      // (must count df once); "beta gamma" rides along in 2.
      // source B (1 doc): every bigram trivially passes df*5 >= n_docs.
      val d = Seq(
        (1L, "alpha beta gamma", "en", "A", 16L),
        (2L, "alpha beta alpha beta", "en", "A", 21L), // dup gram in doc
        (3L, "x alpha beta gamma", "en", "A", 18L),
        (4L, "one two", "en", "A", 7L),
        (5L, "solo text", "en", "B", 9L))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
      val r = TextAnalysis.boilerplateTemplatesFrom(d).collect()
      val byKey = r.map(x => (x.getAs[String]("source"),
        x.getAs[String]("gram")) -> x.getAs[Long]("df")).toMap
      assert(byKey(("A", "alpha beta")) == 3L) // distinct per doc, not 4
      assert(byKey(("A", "beta gamma")) == 2L)
      assert(byKey(("B", "solo text")) == 1L)
      // threshold: df*5 >= n_docs — "one two" (df 1 of 4 docs) passes
      // 5 >= 4; every emitted row satisfies the exact rational cut
      r.foreach { x =>
        assert(x.getAs[Long]("df") * TextAnalysis.BoilerFracDen >=
          x.getAs[Long]("n_docs") * TextAnalysis.BoilerFracNum)
      }
      // ordering: df desc, then source, gram; "alpha beta" leads
      assert(r.head.getAs[String]("gram") == "alpha beta")
      assert(r.head.getAs[Double]("frac") == 0.75)
    }
  }

  describe("calibratedCut (q178)") {
    it("global raw cut starves the minority language; calibrated keeps ~30% each") {
      // score is strictly increasing in token count ("data" is not a
      // stopword): en gets 10 distinct score levels (1..10 tokens), de
      // gets the SAME first 5 levels (scores tie across languages).
      // Top-30% mid-rank math: global cut keeps token counts >= 6 —
      // all en, ZERO de; the within-language cut keeps en ranks
      // 8,9,10 (3 of 10) and de ranks 4,5 (2 of 5).
      val rows =
        (1 to 10).map(k => (k.toLong, Seq.fill(k)("data").mkString(" "),
          "en", "s", 5L * k)) ++
        (1 to 5).map(k => (100L + k, Seq.fill(k)("data").mkString(" "),
          "de", "s", 5L * k))
      val d = rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      val r = TextAnalysis.calibratedCutFrom(d).collect()
        .map(x => x.getAs[String]("lang") -> x).toMap
      assert(r("en").getAs[Long]("n_docs") == 10L)
      assert(r("en").getAs[Long]("kept_raw") == 5L)
      assert(r("en").getAs[Long]("kept_calib") == 3L)
      assert(r("de").getAs[Long]("n_docs") == 5L)
      assert(r("de").getAs[Long]("kept_raw") == 0L) // starved
      assert(r("de").getAs[Long]("kept_calib") == 2L) // rescued
      assert(r("de").getAs[Double]("rate_calib") == 0.4)
      assert(r("en").getAs[Double]("rate_calib") == 0.3)
    }
  }

  describe("syndication (q185)") {
    it("keeps only grams template-frequent in at least two sources") {
      // 10 docs/source → template threshold df ≥ 2; "click here" stamps
      // 2 docs in EACH source, "footer text" 2 docs in A only; filler
      // bigrams are unique (df=1 < 2)
      def src(s: String, shared: Int, aOnly: Int) =
        (1 to 10).map { i =>
          val t =
            if (i <= shared) s"click here f$s$i"
            else if (i <= shared + aOnly) s"footer text f$s$i"
            else s"g$s${i}a g$s${i}b"
          (s.hashCode.toLong * 100 + i, t, "en", s, t.length.toLong)
        }
      val d = (src("A", 2, 2) ++ src("B", 2, 0))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
      val r = TextAnalysis.syndicationFrom(d).collect()
      assert(r.map(_.getAs[String]("gram")).toSeq == Seq("click here"))
      assert(r.head.getAs[Long]("n_sources") == 2L)
      assert(r.head.getAs[Long]("total_df") == 4L)
    }
  }

  describe("vocabGrowth (q183)") {
    it("attributes each token type to the decile of its first document") {
      // ids 1..10 with lo=1, hi=10 → decile(id) = id exactly
      val rows = Seq((1L, "aa bb"), (2L, "aa cc"), (3L, "aa bb")) ++
        (4L to 10L).map(i => (i, "aa"))
      val r = TextAnalysis.vocabGrowthFrom(docs(rows: _*)).collect()
      assert(r.map(_.getAs[Long]("decile")).toSeq == (1L to 10L))
      assert(r.map(_.getAs[Long]("new_types")).toSeq ==
        Seq(2L, 1L, 0L, 0L, 0L, 0L, 0L, 0L, 0L, 0L))
      assert(r.map(_.getAs[Long]("cum_vocab")).toSeq ==
        Seq(2L, 3L, 3L, 3L, 3L, 3L, 3L, 3L, 3L, 3L))
      assert(r.map(_.getAs[Long]("n_tokens")).toSeq ==
        Seq(2L, 2L, 2L, 1L, 1L, 1L, 1L, 1L, 1L, 1L))
      assert(r.last.getAs[Long]("cum_tokens") == 13L)
      assert(r.head.getAs[Double]("new_type_rate") == 1.0)
      assert(r(1).getAs[Double]("new_type_rate") == 0.5)
    }

    it("sparse id ranges leave empty deciles absent, curve still monotone") {
      // ids 1..5 over a 10-decile grid → deciles 1,3,5,7,9
      val r = TextAnalysis.vocabGrowthFrom(docs(
          (1L to 5L).map(i => (i, s"t$i")): _*)).collect()
      assert(r.map(_.getAs[Long]("decile")).toSeq == Seq(1L, 3L, 5L, 7L, 9L))
      assert(r.map(_.getAs[Long]("cum_vocab")).toSeq ==
        Seq(1L, 2L, 3L, 4L, 5L))
    }
  }

  describe("nfcAudit (q229) + the nfc_normalize expression") {
    it("the native expression composes decomposed sequences and no-ops NFC text") {
      graft.plans.GraftFunctions.register(spark)
      val r = Seq(("e\u0301", "caf\u00e9", "ascii only"))
        .toDF("dec", "comp", "plain")
        .selectExpr("nfc_normalize(dec) AS d", "nfc_normalize(comp) AS c",
          "nfc_normalize(plain) AS p")
        .collect()(0)
      assert(r.getString(0) == "\u00e9") // e + U+0301 composes to one char
      assert(r.getString(1) == "caf\u00e9")
      assert(r.getString(2) == "ascii only")
    }

    it("counts planted decomposed and mixed-script docs, hand-checked rates") {
      val planted = TextAnalysis.nfcAuditFrom(
        docs((1L to 60L).map(id => (id, s"clean ascii doc $id")): _*))
        .collect()(0)
      // base text is pure ASCII: n_non_nfc counts exactly the arm-0
      // plants, n_mixed_script exactly the arm-1 plants
      assert(planted.getAs[Long]("n_docs") == 60L)
      assert(planted.getAs[Long]("n_non_nfc") > 0L,
        "arm 0 must plant at least one decomposed doc in 60")
      assert(planted.getAs[Long]("n_mixed_script") > 0L,
        "arm 1 must plant at least one confusable doc in 60")
      assert(planted.getAs[Long]("n_non_nfc") +
        planted.getAs[Long]("n_mixed_script") < 60L)
      assert(planted.getAs[Double]("non_nfc_rate") ==
        BigDecimal(planted.getAs[Long]("n_non_nfc").toDouble / 60L)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }

    it("a composed e-acute does not flag, the decomposed twin does") {
      graft.plans.GraftFunctions.register(spark)
      val flags = Seq(("caf\u00e9", 1L), ("cafe\u0301", 2L))
        .toDF("text", "doc_id")
        .selectExpr("doc_id", "text <> nfc_normalize(text) AS non_nfc")
        .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
      assert(!flags(1L) && flags(2L))
    }
  }

  describe("yuleK (q254)") {
    it("computes exact moments and the fixed-order K chain") {
      // doc1 "a a b": N=3, Σc²=5, K = 10⁴·2/9
      // doc2 "a b c d": N=4, Σc²=4, K = 0 (all hapax — maximally diverse)
      // pooled: a=3,b=2,c=1,d=1 → N=7, Σc²=15, K = 10⁴·8/49
      val d = Seq((1L, "a a b", "s"), (2L, "a b c d", "s"))
        .toDF("doc_id", "text", "source")
      val r = TextAnalysis.yuleKFrom(d).collect()(0)
      assert(r.getAs[Long]("n_docs") == 2L)
      assert(r.getAs[Long]("n_tokens") == 7L)
      assert(r.getAs[Long]("pooled_s2") == 15L)
      assert(r.getAs[Double]("yule_k") == 10000.0 * 8.0 / (7.0 * 7.0))
      assert(r.getAs[Double]("min_doc_k") == 0.0)
      assert(r.getAs[Double]("max_doc_k") == 10000.0 * 2.0 / (3.0 * 3.0))
    }

    it("ranks repetitious text above diverse text") {
      val d = Seq(
        (1L, Seq.fill(30)("spam").mkString(" "), "boiler"),
        (2L, (1 to 30).map(i => s"w$i").mkString(" "), "prose"))
        .toDF("doc_id", "text", "source")
      val k = TextAnalysis.yuleKFrom(d).collect()
        .map(x => x.getAs[String]("source") -> x.getAs[Double]("yule_k"))
        .toMap
      assert(k("boiler") > k("prose"))
      assert(k("prose") == 0.0)
    }
  }

  describe("vocabRichness (q253)") {
    it("computes exact frequency-of-frequencies and Chao1 on a hand corpus") {
      // doc: "a b c a b c a b d" → trigrams: "a b c","b c a","c a b",
      // "a b c","b c a","c a b","a b d" → counts: abc=2, bca=2, cab=2,
      // abd=1 → N=7 V=4 N1=1 N2=3
      val docs = Seq((1L, "a b c a b c a b d", "s1"))
        .toDF("doc_id", "text", "source")
      val row = TextAnalysis.vocabRichnessFrom(docs).collect()(0)
      assert(row.getAs[Long]("n_tokens") == 7L)
      assert(row.getAs[Long]("vocab") == 4L)
      assert(row.getAs[Long]("n1") == 1L)
      assert(row.getAs[Long]("n2") == 3L)
      assert(row.getAs[Double]("gt_unseen_mass") == 1.0 / 7)
      assert(row.getAs[Double]("coverage") == 1.0 - 1.0 / 7)
      // chao1 = V + N1(N1−1)/(2(N2+1)) = 4 + 0 = 4
      assert(row.getAs[Double]("chao1") == 4.0)
    }

    it("drops docs shorter than the trigram window") {
      val docs = Seq((1L, "a b", "s1"), (2L, "x y z", "s1"))
        .toDF("doc_id", "text", "source")
      val row = TextAnalysis.vocabRichnessFrom(docs).collect()(0)
      assert(row.getAs[Long]("n_tokens") == 1L) // only "x y z"
      assert(row.getAs[Long]("n1") == 1L)
      // singleton-only corpus: chao1 = 1 + 1·0/(2·1) = 1
      assert(row.getAs[Double]("chao1") == 1.0)
    }
  }
}
