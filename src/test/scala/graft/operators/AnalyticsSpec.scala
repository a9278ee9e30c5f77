package graft.operators

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.scalatest.funspec.AnyFunSpec

import graft.TestSpark

class AnalyticsSpec extends AnyFunSpec {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  private def events(rows: (Long, Timestamp, Long, String, Double, String)*): DataFrame =
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")

  describe("decayedPopularity (q161)") {
    it("sums exact dyadic weights per half-life and ranks weekly-first") {
      // max day 2024-01-10. item 1: two age-0 events (daily 2·2^60);
      // item 2: ages 0+1 (daily 1.5·2^60, weekly still 2·2^60 — ties
      // item 1 on weekly, loses the daily tie-break); item 3: age 7
      // (daily 2^53, weekly 2^59); item 4: age 61 — BEYOND the daily
      // horizon (weight exactly 0) but weekly ⌊61/7⌋=8 → 2^52.
      def e(id: Long, day: String, item: Int) =
        (id, ts(s"$day 12:00:00"), 1L, "click", 1.0, s"""{"k": $item}""")
      val r = Analytics.decayedPopularityFrom(events(
        e(1, "2024-01-10", 1), e(2, "2024-01-10", 1),
        e(3, "2024-01-10", 2), e(4, "2024-01-09", 2),
        e(5, "2024-01-03", 3),
        e(6, "2023-11-10", 4))).collect()
      assert(r.map(_.getAs[Int]("rank")).toSeq == Seq(1, 2, 3, 4))
      assert(r.map(_.getAs[Int]("item")).toSeq == Seq(1, 2, 3, 4))
      val p60 = BigDecimal(2).pow(60)
      // outputs are hi/lo BIGINT halves of the exact decimal sum
      // (hi·2^62 + lo — the Wide.hi62/lo62 gate-safe presentation)
      def wide(x: org.apache.spark.sql.Row, c: String) =
        BigDecimal(x.getAs[Long](s"${c}_hi")) * BigDecimal(2).pow(62) +
          BigDecimal(x.getAs[Long](s"${c}_lo"))
      assert(r.map(x => wide(x, "w_daily")).toSeq ==
        Seq(p60 * 2, p60 * 3 / 2, BigDecimal(2).pow(53), BigDecimal(0)))
      assert(r.map(x => wide(x, "w_weekly")).toSeq ==
        Seq(p60 * 2, p60 * 2, BigDecimal(2).pow(59), BigDecimal(2).pow(52)))
      assert(r.map(_.getAs[Double]("score_daily")).toSeq ==
        Seq(2.0, 1.5, 0.0078125, 0.0))
      assert(r.map(_.getAs[Double]("score_weekly")).toSeq ==
        Seq(2.0, 2.0, 0.5, 0.00390625))
      assert(r.map(_.getAs[Long]("n_events")).toSeq == Seq(2L, 2L, 1L, 1L))
    }
  }

  describe("cramersV (q169)") {
    it("scores perfect association 1 (dense grid: absent cells count)") {
      // lang fully determines source → χ² = N·min(R−1,C−1) = 10, V = 1;
      // the two ABSENT cells contribute their full expectation (2.5
      // each) — dropping them would read V ≈ 0.7
      val d = (Seq.fill(5)(("en", "A")) ++ Seq.fill(5)(("de", "B")))
        .toDF("lang", "source")
      val r = Analytics.cramersVFrom(d).collect()(0)
      assert(r.getAs[Long]("n") == 10L)
      assert(r.getAs[Long]("n_filled") == 2L)
      assert(r.getAs[Long]("n_langs") == 2L && r.getAs[Long]("n_sources") == 2L)
      assert(r.getAs[Double]("chi2") == 10.0)
      assert(r.getAs[Double]("cramers_v") == 1.0)
    }

    it("scores exact independence 0") {
      val d = Seq(("en", "A"), ("en", "B"), ("de", "A"), ("de", "B"))
        .toDF("lang", "source")
      val r = Analytics.cramersVFrom(d).collect()(0)
      assert(r.getAs[Long]("n_filled") == 4L)
      assert(r.getAs[Double]("chi2") == 0.0)
      assert(r.getAs[Double]("cramers_v") == 0.0)
    }
  }

  describe("revenueCube (q42)") {
    it("emits all four grouping sets with the cube grouping ids") {
      val li = Seq(
        (1L, "A", 10.0, ts("2024-03-01 00:00:00")),
        (2L, "A", 20.0, ts("2025-03-01 00:00:00")),
        (3L, "R", 5.0, ts("2024-06-01 00:00:00")))
        .toDF("l_orderkey", "l_returnflag", "l_extendedprice", "l_shipdate")
      val rows = Analytics.revenueCubeFrom(li).collect()
      // detail rows (gid 0): (A,2024) (A,2025) (R,2024)
      assert(rows.count(_.getAs[Int]("gid") == 0) == 3)
      // flag totals (gid 1, year null): A and R
      val flagTotals = rows.filter(_.getAs[Int]("gid") == 1)
      assert(flagTotals.map(r => (r.getAs[String]("l_returnflag"),
        r.getAs[Double]("revenue"))).toSet == Set(("A", 30.0), ("R", 5.0)))
      // year totals (gid 2, flag null): 2024 -> 15, 2025 -> 20
      val yearTotals = rows.filter(_.getAs[Int]("gid") == 2)
      assert(yearTotals.map(r => (r.getAs[Int]("ship_year"),
        r.getAs[Double]("revenue"))).toSet == Set((2024, 15.0), (2025, 20.0)))
      // grand total (gid 3)
      val grand = rows.filter(_.getAs[Int]("gid") == 3)
      assert(grand.length == 1 && grand(0).getAs[Double]("revenue") == 35.0
        && grand(0).getAs[Long]("n") == 3L)
    }
  }

  describe("userActivityPivot (q43)") {
    it("zero-fills counts and leaves sums null for absent event types") {
      val r = Analytics.userActivityPivotFrom(events(
        (1L, ts("2024-01-01 00:00:00"), 1L, "click", 1.5, "{}"),
        (2L, ts("2024-01-01 00:01:00"), 1L, "click", 2.5, "{}"),
        (3L, ts("2024-01-01 00:02:00"), 1L, "purchase", 10.0, "{}"),
        (4L, ts("2024-01-01 00:03:00"), 2L, "view", 0.5, "{}")))
        .collect()
      assert(r.length == 2)
      val u1 = r(0)
      assert(u1.getAs[Long]("click_n") == 2L)
      assert(u1.getAs[Double]("click_val") == 4.0)
      assert(u1.getAs[Long]("purchase_n") == 1L)
      assert(u1.getAs[Long]("view_n") == 0L)
      assert(u1.isNullAt(u1.fieldIndex("view_val")))
      val u2 = r(1)
      assert(u2.getAs[Long]("view_n") == 1L && u2.getAs[Long]("click_n") == 0L)
    }

    it("matches filtered aggregation on the sf0.001 fixture") {
      import org.apache.spark.sql.functions._
      import org.apache.spark.sql.types.DecimalType
      val ev = graft.sources.Tables.events(spark, TestSpark.Sf)
      val aggs = Analytics.EventTypes.flatMap { t =>
        Seq(
          count(when(col("event_type") === t, lit(1))).as(s"${t}_n"),
          sum(when(col("event_type") === t,
            col("value").cast(DecimalType(12, 2)))).cast("double").as(s"${t}_val"))
      }
      val manual = ev.groupBy("user_id").agg(aggs.head, aggs.tail: _*)
      val got = Analytics.userActivityPivot(spark, TestSpark.Sf)
      val wantCols = got.columns // same order for both sides
      val m = manual.select(wantCols.map(col): _*)
      assert(got.exceptAll(m).isEmpty && m.exceptAll(got).isEmpty)
    }
  }

  describe("approxStats (q44)") {
    it("approximations stay within their documented error of the exact values") {
      val rows = Analytics.approxStats(spark, TestSpark.Sf).collect()
      assert(rows.nonEmpty)
      rows.foreach { r =>
        val exactU = r.getAs[Long]("exact_users").toDouble
        val approxU = r.getAs[Long]("approx_users").toDouble
        assert(math.abs(approxU - exactU) <= math.max(1.0, 0.05 * exactU),
          s"HLL distinct off by >5%: $approxU vs $exactU")
        val exactP = r.getAs[Double]("p90_exact")
        val approxP = r.getAs[Double]("p90_approx")
        assert(math.abs(approxP - exactP) <= 0.05 * math.max(1.0, math.abs(exactP)),
          s"approx p90 off by >5%: $approxP vs $exactP")
      }
    }
  }

  describe("valueOutliers (q73)") {
    it("flags values beyond k scaled MADs of the per-type median") {
      val t = ts("2024-01-01 00:00:00")
      val r = Analytics.valueOutliersFrom(events(
        (1L, t, 1L, "a", 1.0, "{}"),
        (2L, t, 1L, "a", 2.0, "{}"),
        (3L, t, 1L, "a", 3.0, "{}"),
        (4L, t, 1L, "a", 4.0, "{}"),
        (5L, t, 1L, "a", 100.0, "{}"))) // corrupt feed value
        .collect()(0)
      // med=3, devs=[2,1,0,1,97], mad=1 → threshold 1.4826: flags {2, 97}
      assert(r.getAs[Double]("med") == 3.0)
      assert(r.getAs[Double]("mad") == 1.0)
      assert(r.getAs[Long]("n_outliers") == 2L)
      assert(r.getAs[Double]("outlier_ratio") == 0.4)
      // robustness: the corrupt value barely moves the median baseline —
      // a mean/σ z-score would have been dragged to ~22 ± 43
    }
  }

  describe("retentionCohorts (q94)") {
    it("buckets users by first-event week and counts weekly comebacks") {
      // 2024-01-01 and 2024-01-08 are Mondays
      val r = Analytics.retentionCohortsFrom(events(
        (1L, ts("2024-01-01 10:00:00"), 1L, "signup", 1.0, "{}"),
        (2L, ts("2024-01-09 10:00:00"), 1L, "click", 1.0, "{}"), // week+1
        (3L, ts("2024-01-02 10:00:00"), 2L, "signup", 1.0, "{}"),
        (4L, ts("2024-01-03 10:00:00"), 2L, "click", 1.0, "{}"), // same week
        (5L, ts("2024-01-08 10:00:00"), 3L, "signup", 1.0, "{}")))
        .collect()
      val byKey = r.map(x => (x.getAs[java.sql.Date]("cohort_week").toString,
        x.getAs[Int]("week_offset")) ->
        (x.getAs[Long]("n_cohort"), x.getAs[Long]("n_active"),
          x.getAs[Double]("retention_rate"))).toMap
      // cohort 2024-01-01: users 1,2 at offset 0; user 1 back at offset 1
      assert(byKey(("2024-01-01", 0)) == ((2L, 2L, 1.0)))
      assert(byKey(("2024-01-01", 1)) == ((2L, 1L, 0.5)))
      // cohort 2024-01-08: user 3, offset 0 only
      assert(byKey(("2024-01-08", 0)) == ((1L, 1L, 1.0)))
      assert(r.length == 3)
    }
  }

  describe("itemPagerank (q103)") {
    it("ranks the hub of a star graph first and conserves mass") {
      // items: 1 co-occurs with 2,3,4 (hub); 2,3,4 only with 1.
      // users u1..u3 each bought {1, x}
      val ev = events(
        (1L, ts("2024-01-01 00:00:00"), 1L, "view", 0.0, "{\"k\": 1}"),
        (2L, ts("2024-01-01 00:01:00"), 1L, "view", 0.0, "{\"k\": 2}"),
        (3L, ts("2024-01-01 00:02:00"), 2L, "view", 0.0, "{\"k\": 1}"),
        (4L, ts("2024-01-01 00:03:00"), 2L, "view", 0.0, "{\"k\": 3}"),
        (5L, ts("2024-01-01 00:04:00"), 3L, "view", 0.0, "{\"k\": 1}"),
        (6L, ts("2024-01-01 00:05:00"), 3L, "view", 0.0, "{\"k\": 4}"))
      val r = Analytics.itemPagerankFrom(ev).collect()
      assert(r.length == 4)
      assert(r(0).getAs[Int]("item") == 1)
      assert(r(0).getAs[Long]("n_neighbors") == 3L)
      // no dangling nodes → total rank mass stays 1
      assert(math.abs(r.map(_.getAs[Double]("pagerank")).sum - 1.0) < 1e-6)
      // the three leaves are symmetric: identical rank
      assert(r.drop(1).map(_.getAs[Double]("pagerank")).distinct.length == 1)
    }
  }

  describe("revenueAttribution (q98)") {
    it("credits purchases to the last in-window item click, else NULL") {
      val r = Analytics.revenueAttributionFrom(events(
        (1L, ts("2024-01-01 10:00:00"), 1L, "click", 0.0, "{\"k\": 5}"),
        (2L, ts("2024-01-01 10:10:00"), 1L, "click", 0.0, "{\"k\": 7}"),
        (3L, ts("2024-01-01 10:20:00"), 1L, "purchase", 50.0, "{}"), // → 7
        (4L, ts("2024-01-01 12:00:00"), 1L, "purchase", 30.0, "{}"), // stale → NULL
        (5L, ts("2024-01-01 09:00:00"), 2L, "purchase", 20.0, "{}"), // no click → NULL
        (6L, ts("2024-01-01 09:30:00"), 2L, "click", 0.0, "{}"),     // item-less click
        (7L, ts("2024-01-01 09:40:00"), 2L, "purchase", 10.0, "{}"))) // → NULL
        .collect()
      val byItem = r.map(x => (if (x.isNullAt(0)) None else Some(x.getInt(0))) ->
        (x.getAs[Long]("n_purchases"), x.getAs[Double]("revenue"))).toMap
      assert(byItem(Some(7)) == ((1L, 50.0)))
      assert(byItem(None) == ((3L, 60.0)))
      assert(!byItem.contains(Some(5)))
    }
  }

  describe("valueHistogram (q95)") {
    it("assigns equi-width buckets, clamps outliers, and shares sum to 1") {
      val r = Analytics.valueHistogramFrom(events(
        (1L, ts("2024-01-01 00:00:00"), 1L, "click", 10.0, "{}"), // bucket 0
        (2L, ts("2024-01-01 00:01:00"), 1L, "click", 30.0, "{}"), // bucket 1
        (3L, ts("2024-01-01 00:02:00"), 1L, "click", 30.1, "{}"), // bucket 1
        (4L, ts("2024-01-01 00:03:00"), 1L, "click", -7.0, "{}"), // clamps to 0
        (5L, ts("2024-01-01 00:04:00"), 1L, "click", 9999.0, "{}"))) // clamps to 19
        .collect()
      val byBucket = r.map(x => x.getAs[Int]("bucket") ->
        (x.getAs[Double]("lo"), x.getAs[Double]("hi"), x.getAs[Long]("n"))).toMap
      assert(byBucket(0) == ((0.0, 25.0, 2L)))
      assert(byBucket(1) == ((25.0, 50.0, 2L)))
      assert(byBucket(Analytics.HistBins - 1)._3 == 1L)
      assert(math.abs(r.map(_.getAs[Double]("share")).sum - 1.0) < 1e-9)
    }
  }

  describe("itemCooccurrence (q66)") {
    it("counts distinct users per item pair with basket semantics") {
      val t = ts("2024-01-01 00:00:00")
      def ev(id: Long, u: Long, k: Int) =
        (id, t, u, "view", 0.0, s"""{"k": $k}""")
      val r = Analytics.itemCooccurrenceFrom(events(
        ev(1, 1, 1), ev(2, 1, 2), ev(3, 1, 3),
        ev(4, 1, 1), // duplicate (user 1, item 1) — distinct collapses it
        ev(5, 2, 1), ev(6, 2, 2),
        ev(7, 3, 1), ev(8, 3, 2),
        (9L, t, 3L, "view", 0.0, "{}"))) // no k prop — ignored
        .collect()
        .map(x => (x.getAs[Int]("item_a"), x.getAs[Int]("item_b"),
          x.getAs[Long]("n_users")))
      assert(r.toSeq == Seq((1, 2, 3L), (1, 3, 1L), (2, 3, 1L)))
    }

    it("orders by support then pair and caps at the top-k on the fixture") {
      val r = Analytics.itemCooccurrence(spark, TestSpark.Sf).collect()
      assert(r.length == Analytics.CoocTopK)
      val supports = r.map(_.getAs[Long]("n_users")).toSeq
      assert(supports == supports.sorted.reverse)
    }

    it("still fills the top-k when half the events are one user's hot basket") {
      // user 0 touches 1000 items (pruned to PairUserCap) while every
      // other user holds one: the user-keyed pair self-join's hot key
      val ev = spark.range(0, 4000).selectExpr(
        "id AS event_id",
        "CASE WHEN id % 2 = 0 THEN 0L ELSE 1 + id % 200 END AS user_id",
        "concat('{\"k\": ', CASE WHEN id % 2 = 0 THEN id % 2000 " +
          "ELSE id % 20 END, '}') AS props")
      assert(Analytics.itemCooccurrenceFrom(ev).count() == Analytics.CoocTopK)
    }

    it("caps a power-law user's basket at PairUserCap, keeping the " +
      "globally most frequent items (count DESC, item ASC)") {
      val t = ts("2024-01-01 00:00:00")
      // bot: user 1 holds items 0..299 (> cap). user 2 holds 250..259,
      // lifting those items to global count 2 — they must all survive
      // the bot's prune ahead of any count-1 item.
      val bot = (0 until 300).map(k =>
        (k.toLong, t, 1L, "view", 0.0, s"""{"k": $k}"""))
      val other = (250 until 260).map(k =>
        (1000L + k, t, 2L, "view", 0.0, s"""{"k": $k}"""))
      val ui = Analytics.itemBaskets(events(bot ++ other: _*))
      val botItems = ui.filter(ui("user_id") === 1L)
        .collect().map(_.getAs[Int]("item")).toSet
      assert(botItems.size == Analytics.PairUserCap)
      // count-2 items all kept; count-1 tail kept ascending up to 245
      assert((250 until 260).forall(botItems.contains))
      assert((0 to 245).forall(botItems.contains))
      assert(!botItems.contains(246) && !botItems.contains(299))
      // the pair relation is bounded at cap·(cap−1)/2 for the bot
      val botPairs = Analytics.itemPairsOf(ui.filter(ui("user_id") === 1L))
      val cap = Analytics.PairUserCap.toLong
      assert(botPairs.count() == cap * (cap - 1) / 2)
    }
  }

  describe("assocRules (q106)") {
    it("scores support/confidence/lift and cuts pairs under the floor") {
      // 20 users with basket {1,2} (meets the floor), 5 with {1,3} (cut)
      val rows = (1L to 20L).flatMap(u => Seq(
        (u * 2, ts("2024-01-01 00:00:00"), u, "view", 0.0, "{\"k\": 1}"),
        (u * 2 + 1, ts("2024-01-01 00:01:00"), u, "view", 0.0, "{\"k\": 2}"))) ++
        (21L to 25L).flatMap(u => Seq(
          (u * 2, ts("2024-01-01 00:00:00"), u, "view", 0.0, "{\"k\": 1}"),
          (u * 2 + 1, ts("2024-01-01 00:01:00"), u, "view", 0.0, "{\"k\": 3}")))
      val r = Analytics.assocRulesFrom(events(rows: _*)).collect()
      // only 1↔2 survives RuleMinPairs=20; both directions reported
      assert(r.length == 2)
      val byDir = r.map(x => (x.getAs[Int]("item_a"), x.getAs[Int]("item_b")) -> x).toMap
      val r12 = byDir((1, 2))
      assert(r12.getAs[Long]("n_both") == 20L && r12.getAs[Long]("n_a") == 25L)
      assert(r12.getAs[Double]("support") == 0.8)
      assert(r12.getAs[Double]("confidence") == 0.8)
      assert(r12.getAs[Double]("lift") == 1.0) // conf 0.8 / P(2)=0.8
      val r21 = byDir((2, 1))
      assert(r21.getAs[Double]("confidence") == 1.0)
      assert(r21.getAs[Double]("lift") == 1.0) // conf 1.0 / P(1)=1.0
    }

    it("ranks by lift on the fixture and caps at the top-k") {
      val r = Analytics.assocRules(spark, TestSpark.Sf).collect()
      assert(r.length <= Analytics.RuleTopK)
      val lifts = r.map(_.getAs[Double]("lift")).toSeq
      assert(lifts == lifts.sorted.reverse)
      // every reported rule meets the pair floor
      assert(r.forall(_.getAs[Long]("n_both") >= Analytics.RuleMinPairs))
    }
  }

  describe("itemTriangles (q110)") {
    it("counts each triangle once and only over supported edges") {
      // users 1,2 share items {1,2,3} → triangle {1,2,3}; users 3,4
      // share {1,4} → edge (1,4) exists but closes no triangle
      def ev(id: Long, u: Long, item: Int) =
        (id, ts("2024-01-01 00:00:00"), u, "view", 1.0, s"""{"k": $item}""")
      val r = Analytics.itemTrianglesFrom(events(
        ev(1, 1, 1), ev(2, 1, 2), ev(3, 1, 3),
        ev(4, 2, 1), ev(5, 2, 2), ev(6, 2, 3),
        ev(7, 3, 1), ev(8, 3, 4),
        ev(9, 4, 1), ev(10, 4, 4))).collect()
      val counts = r.map(x =>
        x.getAs[Int]("item") -> x.getAs[Long]("n_triangles")).toMap
      assert(counts == Map(1 -> 1L, 2 -> 1L, 3 -> 1L))
    }

    it("a single-user pair is below the support floor and forms no edge") {
      def ev(id: Long, u: Long, item: Int) =
        (id, ts("2024-01-01 00:00:00"), u, "view", 1.0, s"""{"k": $item}""")
      // only user 1 links the triangle's items — no edge reaches w >= 2
      val r = Analytics.itemTrianglesFrom(events(
        ev(1, 1, 1), ev(2, 1, 2), ev(3, 1, 3))).collect()
      assert(r.isEmpty)
    }
  }

  describe("skewAudit (q112)") {
    it("flags the hot key and sizes its salt from the median") {
      val rows = (1 to 10).map(i =>
        (i.toLong, ts("2024-01-01 00:00:00"), 1L, "view", 1.0, "{}")) ++
        (2L to 5L).flatMap(u => Seq(
          (u * 100, ts("2024-01-01 00:00:00"), u, "view", 1.0, "{}"),
          (u * 100 + 1, ts("2024-01-01 00:01:00"), u, "view", 1.0, "{}")))
      val r = Analytics.skewAuditFrom(events(rows: _*)).collect()
      assert(r.length == 5)
      val hot = r(0) // ordered by cnt desc
      assert(hot.getAs[Long]("user_id") == 1L)
      assert(hot.getAs[Long]("cnt") == 10L)
      assert(hot.getAs[Boolean]("is_hot")) // 10 > 1.15 * median(=2)
      assert(hot.getAs[Long]("salt_factor") == 5L) // ceil(10 / 2)
      r.drop(1).foreach { x =>
        assert(!x.getAs[Boolean]("is_hot"))
        assert(x.getAs[Long]("salt_factor") == 1L)
      }
      // shares sum to 1 over the full (untruncated) key set
      assert(math.abs(r.map(_.getAs[Double]("share")).sum - 1.0) < 1e-9)
    }
  }

  describe("mannWhitney (q132)") {
    it("computes the tie-corrected rank-sum and AUC exactly") {
      // clicks {1,2,3} vs purchases {2,4}: U = 1 + 0.5(tie) = 1.5,
      // AUC = 1.5 / 6 = 0.25
      val r = Analytics.mannWhitneyFrom(events(
        (1L, ts("2024-01-01 00:00:00"), 1L, "click", 1.0, "{}"),
        (2L, ts("2024-01-01 00:01:00"), 1L, "click", 2.0, "{}"),
        (3L, ts("2024-01-01 00:02:00"), 1L, "click", 3.0, "{}"),
        (4L, ts("2024-01-01 00:03:00"), 2L, "purchase", 2.0, "{}"),
        (5L, ts("2024-01-01 00:04:00"), 2L, "purchase", 4.0, "{}")))
        .collect()
      assert(r.length == 1)
      assert(r(0).getAs[Long]("na") == 3L && r(0).getAs[Long]("nb") == 2L)
      assert(r(0).getAs[Long]("u2") == 3L) // 2U
      assert(r(0).getAs[Double]("auc") == 0.25)
    }
  }

  describe("ksTest (q133)") {
    it("finds the worst-case CDF gap with an integer numerator") {
      // clicks {1,2}, purchases {3,4}: disjoint supports → D = 1 at v=2
      val r = Analytics.ksTestFrom(events(
        (1L, ts("2024-01-01 00:00:00"), 1L, "click", 1.0, "{}"),
        (2L, ts("2024-01-01 00:01:00"), 1L, "click", 2.0, "{}"),
        (3L, ts("2024-01-01 00:02:00"), 2L, "purchase", 3.0, "{}"),
        (4L, ts("2024-01-01 00:03:00"), 2L, "purchase", 4.0, "{}")))
        .collect()
      assert(r.length == 1)
      assert(r(0).getAs[Long]("d_num") == 4L) // |2*2 - 0*2|
      assert(r(0).getAs[Double]("ks_d") == 1.0)
    }
  }

  describe("clusteringCoeff (q134)") {
    it("a closed triangle plus a dangling edge: C = 3·1/5") {
      // users 1,2 share items {1,2,3} (triangle); users 3,4 share {1,4}
      // (dangling edge) → wedges = 3·(1 at deg-2 nodes) + C(3,2) at item 1
      def ev(id: Long, u: Long, item: Int) =
        (id, ts("2024-01-01 00:00:00"), u, "view", 1.0, s"""{"k": $item}""")
      val r = Analytics.clusteringCoeffFrom(events(
        ev(1, 1, 1), ev(2, 1, 2), ev(3, 1, 3),
        ev(4, 2, 1), ev(5, 2, 2), ev(6, 2, 3),
        ev(7, 3, 1), ev(8, 3, 4),
        ev(9, 4, 1), ev(10, 4, 4))).collect()
      assert(r.length == 1)
      val x = r(0)
      assert(x.getAs[Long]("n_nodes") == 4L && x.getAs[Long]("n_edges") == 4L)
      // degrees: item1=3, item2=2, item3=2, item4=1 → wedges 3+1+1 = 5
      assert(x.getAs[Long]("n_wedges") == 5L)
      assert(x.getAs[Long]("n_triangles") == 1L)
      assert(x.getAs[Double]("clustering_coeff") == 0.6)
    }
  }

  describe("asofNextClick (q129)") {
    it("matches the next click only within the tolerance, with exact gaps") {
      val r = Analytics.asofNextClickFrom(events(
        // purchase at 00:00, click 5 min later → gap 300 s
        (1L, ts("2024-01-01 00:00:00"), 1L, "purchase", 1.0, "{}"),
        (2L, ts("2024-01-01 00:05:00"), 1L, "click", 1.0, "{}"),
        // purchase whose next click is 30 min out → no match
        (3L, ts("2024-01-01 01:00:00"), 2L, "purchase", 1.0, "{}"),
        (4L, ts("2024-01-01 01:30:00"), 2L, "click", 1.0, "{}"),
        // purchase with no later click at all
        (5L, ts("2024-01-01 02:00:00"), 3L, "purchase", 1.0, "{}")))
        .collect()
      assert(r.length == 3)
      val byId = r.map(x => x.getAs[Long]("event_id") -> x).toMap
      assert(byId(1L).getAs[Double]("gap_sec") == 300.0)
      assert(byId(3L).isNullAt(byId(3L).fieldIndex("next_click_ts")))
      assert(byId(5L).isNullAt(byId(5L).fieldIndex("gap_sec")))
    }
  }

  describe("trendAudit (q128)") {
    it("detects a strictly rising weekly mean and a flat one") {
      // type 'up': weekly means 1, 2, 3 → S = +3; 'flat': constant → 0
      val rows = (0 until 3).flatMap { w =>
        val day = f"2024-01-${4 + 7 * w}%02d" // Thursdays: week-aligned
        Seq(
          (w * 10L + 1, ts(s"$day 00:00:00"), 1L, "up", (w + 1).toDouble, "{}"),
          (w * 10L + 2, ts(s"$day 01:00:00"), 1L, "flat", 5.0, "{}"))
      }
      val r = Analytics.trendAuditFrom(events(rows: _*)).collect()
      val m = r.map(x => x.getAs[String]("event_type") ->
        (x.getAs[Long]("mk_stat"), x.getAs[String]("trend"))).toMap
      assert(m("up") == (3L, "rising"))
      assert(m("flat") == (0L, "flat"))
      assert(r.forall(_.getAs[Long]("n_weeks") == 3L))
    }
  }

  describe("decileBins (q123)") {
    it("equal-frequency bins: 1..100 lands 10 values in each decile") {
      val rows = (1 to 100).map(i =>
        (i.toLong, ts("2024-01-01 00:00:00"), 1L, "view", i.toDouble, "{}"))
      val r = Analytics.decileBinsFrom(events(rows: _*)).collect()
      assert(r.length == 10)
      assert(r.map(_.getAs[Int]("decile")).toSeq == (0 to 9).toSeq)
      assert(r.forall(_.getAs[Long]("n") == 10L))
      val d0 = r(0)
      assert(d0.getAs[Double]("min_value") == 1.0 &&
        d0.getAs[Double]("max_value") == 10.0 &&
        d0.getAs[Double]("mean_value") == 5.5)
    }
  }

  describe("joinCardinality (q113)") {
    it("estimates both audited joins within the printed relative error") {
      val r = Analytics.joinCardinality(spark, graft.TestSpark.Sf).collect()
      assert(r.map(_.getAs[String]("join_name")).toSeq ==
        Seq("events_self_user", "orders_lineitem"))
      r.foreach { x =>
        val exact = x.getAs[Long]("exact_rows")
        val est = x.getAs[Long]("est_rows")
        assert(exact > 0)
        // rel_err is literally |est - exact| / exact
        assert(math.abs(x.getAs[Double]("rel_err") -
          math.abs(est - exact).toDouble / exact) < 1e-9)
      }
      // the FK join's exact size is |lineitem|: every line has one order
      val fk = r.find(_.getAs[String]("join_name") == "orders_lineitem").get
      assert(fk.getAs[Long]("exact_rows") == 6000L)
    }
  }

  describe("sketchRollup (q138)") {
    def ev(day: String, user: Long, typ: String, id: Long) =
      (id, ts(s"$day 10:00:00"), user, typ, 1.0, "{}")

    it("is exact below saturation and applies the KMV formula above it") {
      val rows =
        (1L to 10L).map(u => ev("2024-01-0" + (u % 3 + 1), u, "a", u)) ++
          (1L to 300L).map(u => ev("2024-01-01", 1000L + u, "b", 100L + u))
      val r = Analytics.sketchRollupFrom(events(rows: _*)).collect()
      val a = r.find(_.getAs[String]("event_type") == "a").get
      assert(a.getAs[Long]("n_exact") == 10L && a.getAs[Long]("n_k") == 10L)
      assert(a.getAs[Double]("est_distinct") == 10.0) // unsaturated: exact
      assert(a.getAs[Long]("n_days") == 3L)
      val b = r.find(_.getAs[String]("event_type") == "b").get
      assert(b.getAs[Long]("n_exact") == 300L && b.getAs[Long]("n_k") == Analytics.SkK)
      // saturated: the declared estimator over the merged kth_min
      val expect = (Analytics.SkK - 1).toDouble * 1152921504606846976.0 /
        b.getAs[Long]("kth_min").toDouble
      assert(b.getAs[Double]("est_distinct") == expect)
      assert(math.abs(expect - 300.0) / 300.0 < 0.3) // k=128 ⇒ ~9% stderr
    }

    it("merges per-day partials exactly: rollup ≡ single-day sketch of the union") {
      // same 400-user population once split across 4 days, once on one
      // day — the k smallest of the per-day k-minima must equal the k
      // smallest overall, so the estimates are bit-identical
      val split = (1L to 400L).map(u =>
        ev("2024-01-0" + (u % 4 + 1), u, "c", u))
      val oneDay = (1L to 400L).map(u => ev("2024-01-01", u, "c", u))
      val em = Analytics.sketchRollupFrom(events(split: _*)).collect()(0)
      val ed = Analytics.sketchRollupFrom(events(oneDay: _*)).collect()(0)
      assert(em.getAs[Long]("kth_min") == ed.getAs[Long]("kth_min"))
      assert(em.getAs[Double]("est_distinct") == ed.getAs[Double]("est_distinct"))
      assert(em.getAs[Long]("n_days") == 4L && ed.getAs[Long]("n_days") == 1L)
    }
  }

  describe("metricCorr (q149)") {
    it("scores a perfectly linear click→spend relation as r = 1") {
      var id = 0L
      val rows = (1L to 3L).flatMap { u =>
        val clicks = (1L to u).map { _ =>
          id += 1; (id, ts("2024-01-01 10:00:00"), u, "click", 0.0, "{}")
        }
        id += 1
        clicks :+ ((id, ts("2024-01-01 10:00:00"), u, "purchase", u.toDouble, "{}"))
      }
      val r = Analytics.metricCorrFrom(events(rows: _*)).collect()(0)
      assert(r.getAs[Long]("n_users") == 3L)
      assert(r.getAs[Long]("sum_clicks") == 6L)
      assert(r.getAs[Long]("sum_purchase_cents") == 600L)
      assert(r.getAs[Double]("pearson_r") == 1.0)
    }

    it("yields NULL r when one metric has zero variance") {
      val rows = (1L to 3L).map(u =>
        (u, ts("2024-01-01 10:00:00"), u, "click", 0.0, "{}"))
      val r = Analytics.metricCorrFrom(events(rows: _*)).collect()(0)
      assert(r.isNullAt(r.fieldIndex("pearson_r"))) // y ≡ 0 for everyone
    }
  }

  describe("benfordAudit (q150)") {
    it("densifies the digit grid and charges absent digits to the distance") {
      // every value starts with digit 1 → the other 8 digits appear as
      // explicit zero rows and TV = ½(|1−p1| + Σ_{k≥2} p_k) = 1−p1
      val rows = (1L to 50L).map(i =>
        (i, ts("2024-01-01 10:00:00"), i, "a", 1.0 + (i % 9) * 0.01, "{}"))
      val r = Analytics.benfordAuditFrom(events(rows: _*)).collect()
      assert(r.length == 9)
      assert(r.count(_.getAs[Long]("n_d") == 0L) == 8)
      val tv = r(0).getAs[Double]("tv_distance")
      val expect = 1.0 - Analytics.BenfordP.head
      assert(math.abs(tv - expect) < 1e-8, s"tv $tv vs $expect")
      assert(!r(0).getAs[Boolean]("benford_ok"))
    }

    it("emits 9 rows per type with shares summing to 1 on the fixture") {
      val r = Analytics.benfordAudit(spark, graft.TestSpark.Sf).collect()
      val byType = r.groupBy(_.getAs[String]("event_type"))
      byType.foreach { case (_, rows) =>
        assert(rows.length == 9)
        assert(math.abs(rows.map(_.getAs[Double]("share")).sum - 1.0) < 1e-6)
        // the fixture's monetary values span decades and genuinely
        // conform (TV 0.03–0.09 across types and scales) — the PASS
        // path runs under the gate; the hand test above pins the
        // failing path
        assert(rows.head.getAs[Boolean]("benford_ok"))
      }
    }
  }

  describe("quantileRollup (q148)") {
    def twoBinEvents(days: Seq[String]): DataFrame = {
      // 10 rows valued 10.0 (bin 0) + 10 valued 30.0 (bin 1), spread
      // round-robin over the given days
      val rows = (1L to 20L).map { i =>
        val v = if (i <= 10) 10.0 else 30.0
        (i, ts(s"${days((i % days.size).toInt)} 10:00:00"), i, "a", v, "{}")
      }
      events(rows: _*)
    }

    it("interpolates the hand histogram exactly") {
      val r = Analytics.quantileRollupFrom(twoBinEvents(Seq("2024-01-01")))
        .collect()(0)
      // N=20: p50 target 10 hits bin 0 (cum 10): 0·25 + 10/10·25 = 25
      // p90 target 18 hits bin 1 (cum 20): 25 + 8/10·25 = 45
      assert(r.getAs[Double]("est_p50") == 25.0)
      assert(r.getAs[Double]("est_p90") == 45.0)
      assert(r.getAs[Long]("n") == 20L)
    }

    it("day partials merge to the same estimate as a single-day histogram") {
      val one = Analytics.quantileRollupFrom(twoBinEvents(Seq("2024-01-01"))).collect()
      val four = Analytics.quantileRollupFrom(twoBinEvents(
        Seq("2024-01-01", "2024-01-02", "2024-01-03", "2024-01-04"))).collect()
      assert(one.map(x => (x.getAs[Double]("est_p50"), x.getAs[Double]("est_p90"))).toSeq ==
        four.map(x => (x.getAs[Double]("est_p50"), x.getAs[Double]("est_p90"))).toSeq)
    }

    it("lands within one bin width of the exact quantiles on the fixture") {
      val r = Analytics.quantileRollup(spark, graft.TestSpark.Sf).collect()
      assert(r.nonEmpty)
      r.foreach { x =>
        assert(math.abs(x.getAs[Double]("est_p50") - x.getAs[Double]("exact_p50")) <=
          Analytics.HistWidth)
        assert(math.abs(x.getAs[Double]("est_p90") - x.getAs[Double]("exact_p90")) <=
          Analytics.HistWidth)
      }
    }
  }

  describe("conversionZ (q147)") {
    it("flags a forced treatment effect as significant") {
      // resolve each user's md5 arm first, then give arm-0 users
      // converting purchase counts and arm-1 users none
      val coh = spark.range(1, 21).selectExpr("id AS user_id",
          "CAST(conv(substring(md5('ab|' || CAST(id AS STRING)), 1, 8), 16, 10) AS BIGINT) % 2 AS c")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      var id = 0L
      val rows = coh.toSeq.flatMap { case (u, c) =>
        val k = if (c == 0L) Analytics.AbConvMin.toInt else 1
        (1 to k).map { _ =>
          id += 1; (id, ts("2024-01-01 10:00:00"), u, "purchase", 1.0, "{}")
        }
      }
      val r = Analytics.conversionZFrom(events(rows: _*)).collect()(0)
      assert(r.getAs[Long]("x_a") == r.getAs[Long]("n_a")) // arm 0 all convert
      assert(r.getAs[Long]("x_b") == 0L)
      assert(r.getAs[Double]("p_a") == 1.0 && r.getAs[Double]("p_b") == 0.0)
      assert(r.getAs[Boolean]("significant"))
    }

    it("computes the pooled z consistently with its own counts on the fixture") {
      val r = Analytics.conversionZ(spark, graft.TestSpark.Sf).collect()(0)
      val nA = r.getAs[Long]("n_a"); val nB = r.getAs[Long]("n_b")
      val xA = r.getAs[Long]("x_a"); val xB = r.getAs[Long]("x_b")
      assert(nA + nB == 15L) // the sf0.001 user universe, hash-split
      val pa = xA.toDouble / nA; val pb = xB.toDouble / nB
      val pp = (xA + xB).toDouble / (nA + nB)
      val z = (pa - pb) / math.sqrt(pp * (1.0 - pp) * (1.0 / nA + 1.0 / nB))
      assert(r.getAs[Double]("z") ==
        BigDecimal(z).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble)
      assert(r.getAs[Boolean]("significant") == (math.abs(z) > Analytics.AbZCrit))
    }
  }

  describe("bootstrapCi (q145)") {
    it("collapses to a zero-width interval on a constant-valued type") {
      val rows = (1L to 200L).map(i =>
        (i, ts("2024-01-01 10:00:00"), i, "a", 2.0, "{}"))
      val r = Analytics.bootstrapCiFrom(events(rows: _*)).collect()(0)
      assert(r.getAs[Long]("n") == 200L)
      assert(r.getAs[Double]("mean_cents") == 200.0)
      // every replicate resamples only 200-cent rows, so every
      // replicate mean — and both interval ends — is exactly 200
      assert(r.getAs[Double]("ci_lo_cents") == 200.0)
      assert(r.getAs[Double]("ci_hi_cents") == 200.0)
    }

    it("brackets the point estimate and is layout-invariant on the fixture") {
      val e = graft.sources.Tables.events(spark, graft.TestSpark.Sf)
      val a = Analytics.bootstrapCiFrom(e).collect()
      assert(a.nonEmpty)
      a.foreach { x =>
        assert(x.getAs[Double]("ci_lo_cents") <= x.getAs[Double]("mean_cents"))
        assert(x.getAs[Double]("ci_hi_cents") >= x.getAs[Double]("mean_cents"))
        assert(x.getAs[Double]("ci_lo_cents") < x.getAs[Double]("ci_hi_cents"))
      }
      // the resample is a pure function of (event_id, replicate) — the
      // interval cannot move when the corpus is laid out differently
      val b = Analytics.bootstrapCiFrom(e.repartition(7)).collect()
      assert(a.map(_.toSeq).toSeq == b.map(_.toSeq).toSeq)
    }
  }

  describe("labelCommunities (q140)") {
    // two 3-item cliques co-viewed by 3 users each (pair weight 3) over
    // a sea of weight-1 noise pairs: the 0.9-quantile edge cut keeps
    // exactly the clique edges
    def clusteredEvents(): DataFrame = {
      var id = 0L
      def view(u: Long, item: Int) = {
        id += 1; (id, ts("2024-01-01 10:00:00"), u, "view", 1.0, s"""{"k": $item}""")
      }
      val strong =
        (for (u <- 101L to 103L; i <- Seq(1, 2, 3)) yield view(u, i)) ++
          (for (u <- 111L to 113L; i <- Seq(11, 12, 13)) yield view(u, i))
      val noise = (0 until 54).flatMap(i =>
        Seq(view(200L + i, 20 + 2 * i), view(200L + i, 21 + 2 * i)))
      events((strong ++ noise): _*)
    }

    it("propagates the min label through each clique and leaves noise as singletons") {
      val r = Analytics.labelCommunitiesFrom(clusteredEvents()).collect()
      val byItem = r.map(x => x.getAs[Int]("item") ->
        (x.getAs[Int]("community"), x.getAs[Long]("community_size"))).toMap
      Seq(1, 2, 3).foreach(i => assert(byItem(i) == (1, 3L)))
      Seq(11, 12, 13).foreach(i => assert(byItem(i) == (11, 3L)))
      // noise items fall below the quantile cut: singleton communities
      assert(byItem(20) == (20, 1L) && byItem(127) == (127, 1L))
      assert(r.length == 6 + 108)
    }

    it("is stable under repartitioning (deterministic tie-breaks)") {
      val e = clusteredEvents()
      val a = Analytics.labelCommunitiesFrom(e).collect().toSeq
      val b = Analytics.labelCommunitiesFrom(e.repartition(7)).collect().toSeq
      assert(a == b)
    }
  }

  describe("linkPredict (q142)") {
    it("predicts the missing edge of a path through a shared neighbor") {
      var id = 0L
      def view(u: Long, item: Int) = {
        id += 1; (id, ts("2024-01-01 10:00:00"), u, "view", 1.0, s"""{"k": $item}""")
      }
      // strong path 1–2–3 (each edge weight 3), no 1–3 edge, plus noise
      val strong =
        (for (u <- 101L to 103L; i <- Seq(1, 2)) yield view(u, i)) ++
          (for (u <- 111L to 113L; i <- Seq(2, 3)) yield view(u, i))
      val noise = (0 until 54).flatMap(i =>
        Seq(view(200L + i, 20 + 2 * i), view(200L + i, 21 + 2 * i)))
      val r = Analytics.linkPredictFrom(events((strong ++ noise): _*)).collect()
      assert(r.length == 1)
      val x = r(0)
      assert(x.getAs[Int]("item_a") == 1 && x.getAs[Int]("item_b") == 3)
      assert(x.getAs[Long]("n_common") == 1L)
      assert(x.getAs[Long]("deg_a") == 1L && x.getAs[Long]("deg_b") == 1L)
      assert(x.getAs[Double]("jaccard") == 1.0)
    }

    it("caps the output and keeps it ordered by jaccard on the fixture") {
      val r = Analytics.linkPredict(spark, graft.TestSpark.Sf).collect()
      assert(r.length <= Analytics.LinkTopK)
      // jaccard is in (0, 1] and ordered
      val js = r.map(_.getAs[Double]("jaccard")).toSeq
      assert(js == js.sorted.reverse && js.forall(j => j > 0 && j <= 1))
    }
  }

  describe("audienceOverlap (q156)") {
    it("is EXACT when both sketches are unsaturated (theta = full range)") {
      // 3 types over a 40-user universe, all < SkK=128: every theta is
      // 2^60 and the estimates must equal the exact gauges bit-for-bit
      val ev = events((1L to 120L).map { i =>
        val t = Seq("click", "view", "purchase")((i % 3).toInt)
        (i, ts("2024-01-01 10:00:00"), (i % 40) + 1, t, 1.0, "{}")
      }: _*)
      val r = Analytics.audienceOverlapFrom(ev).collect()
      assert(r.length == 3)
      r.foreach { x =>
        assert(x.getAs[Long]("theta") == Analytics.ThetaMax)
        assert(x.getAs[Double]("est_inter") ==
          x.getAs[Long]("n_exact_inter").toDouble)
        assert(x.getAs[Double]("est_union") ==
          x.getAs[Long]("n_exact_union").toDouble)
      }
    }

    it("saturated estimates are sane and the pair algebra is consistent on the fixture") {
      val r = Analytics.audienceOverlap(spark, TestSpark.Sf).collect()
      assert(r.length == 10) // 5 choose 2 event types
      r.foreach { x =>
        val common = x.getAs[Long]("n_common")
        val union = x.getAs[Long]("n_union")
        assert(common >= 0 && common <= union)
        assert(union <= 2L * (Analytics.SkK - 1))
        assert(x.getAs[Long]("n_exact_inter") <= x.getAs[Long]("n_exact_union"))
        val j = x.getAs[Double]("est_jaccard")
        assert(j >= 0.0 && j <= 1.0)
        // estimates within a loose 3-sigma-ish band of the exact gauges
        // (k=128 => ~9% relative error; the fixture overlap is heavy)
        assert(math.abs(x.getAs[Double]("est_inter") -
          x.getAs[Long]("n_exact_inter")) <=
          0.35 * x.getAs[Long]("n_exact_union") + 5)
      }
    }

    it("the per-type sketch IS q138's merged sketch (same salt, same k)") {
      // theta of a saturated type must equal q138's kth_min for that
      // type — the stored-artifact reuse the operator's scale story
      // depends on (one sketch answers distincts AND intersections)
      val roll = Analytics.sketchRollup(spark, TestSpark.Sf).collect()
        .map(x => x.getAs[String]("event_type") ->
          (x.getAs[Long]("n_k"), x.getAs[Long]("kth_min"))).toMap
      val th = Analytics.audienceOverlap(spark, TestSpark.Sf).collect()
        .flatMap(x => Seq(
          x.getAs[String]("type_a") -> x.getAs[Long]("theta"),
          x.getAs[String]("type_b") -> x.getAs[Long]("theta")))
      // theta column is per-PAIR (least of the two): check each type's
      // contribution bound — every pair theta equals some member's
      // saturated kth_min or ThetaMax
      val valid = roll.map { case (t, (nk, kth)) =>
        t -> (if (nk < Analytics.SkK) Analytics.ThetaMax else kth)
      }
      th.foreach { case (t, theta) =>
        assert(theta <= valid(t),
          s"pair theta for $t above its own sketch theta")
      }
      val pairThetas = Analytics.audienceOverlap(spark, TestSpark.Sf)
        .collect()
        .map(x => (x.getAs[String]("type_a"), x.getAs[String]("type_b"),
          x.getAs[Long]("theta")))
      pairThetas.foreach { case (a, b, theta) =>
        assert(theta == math.min(valid(a), valid(b)))
      }
    }
  }

  describe("heavyHitters (q155)") {
    it("the CM estimate is one-sided: never below the exact count") {
      val r = Analytics.heavyHitters(spark, graft.TestSpark.Sf).collect()
      assert(r.length == Analytics.HhK)
      r.foreach { x =>
        assert(x.getAs[Long]("est_cm") >= x.getAs[Long]("n_exact"))
        assert(x.getAs[Long]("over_count") ==
          x.getAs[Long]("est_cm") - x.getAs[Long]("n_exact"))
      }
      // ranks are 1..k ordered by exact count desc
      assert(r.map(_.getAs[Int]("rank")).toSeq == (1 to Analytics.HhK))
      val ns = r.map(_.getAs[Long]("n_exact")).toSeq
      assert(ns == ns.sorted.reverse)
    }

    it("partials merge associatively: day-split sketch equals the whole-corpus sketch") {
      import org.apache.spark.sql.functions._
      val ev = graft.sources.Tables.events(spark, graft.TestSpark.Sf)
      val viaDays = Analytics.heavyHittersFrom(ev).collect()
      // bypass the per-day partial stage entirely: one global CM build
      val direct = Analytics.heavyHittersFrom(
        ev.withColumn("ts", to_timestamp(lit("2024-01-01 00:00:00"))))
        .collect()
      // collapsing every event onto one day changes ONLY the partial
      // grouping, not the merged bucket totals, estimates, or exact
      // counts — the associativity the rollup depends on
      assert(viaDays.map(x => (x.getAs[Long]("user_id"),
        x.getAs[Long]("n_exact"), x.getAs[Long]("est_cm"))).toSeq ==
        direct.map(x => (x.getAs[Long]("user_id"),
          x.getAs[Long]("n_exact"), x.getAs[Long]("est_cm"))).toSeq)
    }
  }

  describe("itemNovelty (q193)") {
    it("first occurrences land in their week; the cumulative catalog grows") {
      def e(id: Long, t: String, item: Int) =
        (id, ts(t), 1L, "click", 1.0, s"""{"k": $item}""")
      // 2024-01-01 is a Monday: week1 sees items {1,2}, week2 {2,3}
      val r = Analytics.itemNoveltyFrom(events(
          e(1, "2024-01-01 10:00:00", 1), e(2, "2024-01-02 10:00:00", 2),
          e(3, "2024-01-03 10:00:00", 1),
          e(4, "2024-01-08 10:00:00", 2), e(5, "2024-01-09 10:00:00", 3)))
        .collect()
      assert(r.length == 2)
      assert(r(0).getAs[Long]("n_events") == 3L)
      assert(r(0).getAs[Long]("n_active") == 2L)
      assert(r(0).getAs[Long]("new_items") == 2L)
      assert(r(0).getAs[Long]("cum_items") == 2L)
      assert(r(0).getAs[Double]("novelty_rate") == 1.0)
      assert(r(1).getAs[Long]("new_items") == 1L) // only item 3 is new
      assert(r(1).getAs[Long]("cum_items") == 3L)
      assert(r(1).getAs[Double]("novelty_rate") == 0.5)
      assert(r(0).getAs[java.sql.Timestamp]("week_start").toString
        .startsWith("2024-01-01"))
    }
  }

  describe("recHitRate (q177)") {
    it("leave-last-out over a history-only support pool") {
      def e(id: Long, t: String, user: Long, item: Int) =
        (id, ts(s"2024-01-01 $t"), user, "click", 1.0, s"""{"k": $item}""")
      // history baskets: u1{1,2} u2{1,3} u3{1} u4{2} u5{1,3} u6{2,3};
      // only pair (1,3) reaches support 2 (u2, u5). Targets: u1→3 (hit
      // via 1→3), u2→2 (candidates all already-seen), u3→3 (hit),
      // u4→3 (item 2 has no surviving edge), u5→9 (novel item),
      // u6→1 (hit via 3→1). 3 hits of 6 eval users at every k.
      val r = Analytics.recHitRateFrom(events(
          e(1, "10:00:00", 1, 1), e(2, "10:01:00", 1, 2), e(3, "10:02:00", 1, 3),
          e(4, "10:00:00", 2, 1), e(5, "10:01:00", 2, 3), e(6, "10:02:00", 2, 2),
          e(7, "10:00:00", 3, 1), e(8, "10:01:00", 3, 3),
          e(9, "10:00:00", 4, 2), e(10, "10:01:00", 4, 3),
          e(11, "10:00:00", 5, 1), e(12, "10:01:00", 5, 3), e(13, "10:02:00", 5, 9),
          e(14, "10:00:00", 6, 2), e(15, "10:01:00", 6, 3), e(16, "10:02:00", 6, 1)))
        .collect()
      assert(r.map(_.getAs[Int]("k")).toSeq == Seq(1, 5, 10))
      assert(r.forall(_.getAs[Long]("n_users") == 6L))
      assert(r.forall(_.getAs[Long]("n_hits") == 3L))
      assert(r.forall(_.getAs[Double]("hit_rate") == 0.5))
    }

    it("a user whose target was already in their history is excluded") {
      def e(id: Long, t: String, user: Long, item: Int) =
        (id, ts(s"2024-01-01 $t"), user, "click", 1.0, s"""{"k": $item}""")
      // u7 revisits item 1 at the end → target ∈ history → not an eval
      // user; u8 has no history at all → also excluded
      val r = Analytics.recHitRateFrom(events(
          e(1, "10:00:00", 7, 1), e(2, "10:01:00", 7, 2), e(3, "10:02:00", 7, 1),
          e(4, "10:00:00", 8, 5)))
        .collect()
      assert(r.isEmpty, "no eval users -> no k-arm rows")
    }
  }

  describe("spearmanCorr (q219)") {
    def t0 = Timestamp.valueOf("2024-01-01 00:00:00")
    def ev(id: Long, u: Long, typ: String, v: Double) =
      (id, t0, u, typ, v, "{}")

    it("perfectly monotone metrics score rho = 1, reversed score -1") {
      // users 1..3: clicks 1/2/3, spend 10/20/30 cents -> monotone
      val up = Analytics.spearmanCorrFrom(events(
          ev(1, 1, "click", 0), ev(2, 2, "click", 0), ev(3, 2, "click", 0),
          ev(4, 3, "click", 0), ev(5, 3, "click", 0), ev(6, 3, "click", 0),
          ev(7, 1, "purchase", 0.10), ev(8, 2, "purchase", 0.20),
          ev(9, 3, "purchase", 0.30))).collect()(0)
      assert(up.getAs[Long]("n_users") == 3L)
      assert(up.getAs[Double]("spearman_rho") == 1.0)
      val down = Analytics.spearmanCorrFrom(events(
          ev(1, 1, "click", 0), ev(2, 2, "click", 0), ev(3, 2, "click", 0),
          ev(4, 3, "click", 0), ev(5, 3, "click", 0), ev(6, 3, "click", 0),
          ev(7, 1, "purchase", 0.30), ev(8, 2, "purchase", 0.20),
          ev(9, 3, "purchase", 0.10))).collect()(0)
      assert(down.getAs[Double]("spearman_rho") == -1.0)
    }

    it("ties take average ranks (doubled to stay integer), hand-checked") {
      // clicks: u1=1, u2=1, u3=2 -> doubled ranks 3,3,6
      // spend:  u1=10, u2=20, u3=30 -> doubled ranks 2,4,6
      // sxy = 6+12+36 = 54; rho = (3*54 - 144) / (sqrt(3*54-144)*
      // sqrt(3*56-144)) = 18/sqrt(18*24) = sqrt(3)/2
      val r = Analytics.spearmanCorrFrom(events(
          ev(1, 1, "click", 0), ev(2, 2, "click", 0),
          ev(3, 3, "click", 0), ev(4, 3, "click", 0),
          ev(5, 1, "purchase", 0.10), ev(6, 2, "purchase", 0.20),
          ev(7, 3, "purchase", 0.30))).collect()(0)
      def r9(v: Double) =
        BigDecimal(v).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(r.getAs[Double]("spearman_rho") ==
        r9(18.0 / (math.sqrt(18.0) * math.sqrt(24.0))))
    }

    it("is outlier-robust where q149's Pearson is not (fixture sanity)") {
      val rho = Analytics.spearmanCorr(spark, graft.TestSpark.Sf)
        .collect()(0).getAs[Double]("spearman_rho")
      assert(rho >= -1.0 && rho <= 1.0 && !rho.isNaN)
    }
  }

  describe("exactQuantiles (q225)") {
    it("each quantile is the smallest value clearing the integer test") {
      // 10 click values 1.00..10.00: p50 = 5th (cum·2 ≥ 10 first at
      // 5.0), p90 = 9th, p99 = 10th (ceil semantics)
      val ev = events((1L to 10L).map(i =>
        (i, ts("2024-01-02 00:00:00"), i, "click", i.toDouble, "{}")): _*)
      val r = Analytics.exactQuantilesFrom(ev).collect()
      assert(r.length == 1)
      assert(r.head.getAs[Long]("n_events") == 10L)
      assert(r.head.getAs[Double]("p50") == 5.0)
      assert(r.head.getAs[Double]("p90") == 9.0)
      assert(r.head.getAs[Double]("p99") == 10.0)
    }

    it("satisfies the defining property on the fixture: smallest value with cum ≥ q·n") {
      val ev = graft.sources.Tables.events(spark, TestSpark.Sf)
      val got = Analytics.exactQuantilesFrom(ev).collect()
        .map(r => r.getAs[String]("event_type") -> r).toMap
      // brute-force check per type against the raw rows: count(≤ p) ≥
      // q·n, count(< p) < q·n, and p is an actual data value
      val raw = ev.select("event_type", "value").collect()
        .map(r => (r.getString(0), r.getDouble(1)))
        .groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
      got.foreach { case (t, r) =>
        val vs = raw(t)
        val n = vs.length
        assert(r.getAs[Long]("n_events") == n.toLong)
        Seq(("p50", 1, 2), ("p90", 9, 10), ("p99", 99, 100)).foreach {
          case (cname, num, den) =>
            val p = r.getAs[Double](cname)
            assert(vs.contains(p), s"$t $cname must be a data value")
            assert(vs.count(_ <= p).toLong * den >= num.toLong * n,
              s"$t $cname cum")
            assert(vs.count(_ < p).toLong * den < num.toLong * n,
              s"$t $cname minimality")
        }
        assert(r.getAs[Double]("p50") <= r.getAs[Double]("p90") &&
          r.getAs[Double]("p90") <= r.getAs[Double]("p99"))
      }
    }
  }

  describe("psiDrift (q226)") {
    it("identical halves score ~zero PSI; a shifted half alarms") {
      // same 20 values in both halves → only smoothing noise
      def half(refDay: String, base: Long, shift: Double) =
        (1L to 20L).map(i => (base + i, ts(s"$refDay 00:00:00"), i,
          "click", i.toDouble + shift, "{}"))
      val same = Analytics.psiDriftFrom(events(
        (half("2024-01-02", 0, 0.0) ++ half("2024-01-20", 100, 0.0)): _*))
        .collect().head
      assert(same.getAs[Long]("n_ref") == 20L && same.getAs[Long]("n_cur") == 20L)
      assert(math.abs(same.getAs[Double]("psi")) < 0.01)
      assert(!same.getAs[Boolean]("drift_alert"))
      val shifted = Analytics.psiDriftFrom(events(
        (half("2024-01-02", 0, 0.0) ++ half("2024-01-20", 100, 100.0)): _*))
        .collect().head
      assert(shifted.getAs[Double]("psi") > 0.2)
      assert(shifted.getAs[Boolean]("drift_alert"))
    }
  }

  describe("robustOutliers (q227)") {
    it("median/MAD flag the whale the mean/stddev z would mask") {
      // 9 values at 10.00±ε and one 10000.00 whale: med = 10.00,
      // MAD = small, whale dev ≫ 4.4478·MAD
      val vals = Seq(9.98, 9.99, 10.0, 10.0, 10.0, 10.01, 10.01,
        10.02, 10.02, 10000.0)
      val ev = events(vals.zipWithIndex.map { case (v, i) =>
        (i.toLong, ts("2024-01-02 00:00:00"), i.toLong, "click", v, "{}")
      }: _*)
      val r = Analytics.robustOutliersFrom(ev).collect().head
      assert(r.getAs[Double]("median_value") == 10.0)
      assert(r.getAs[Double]("mad_value") == 0.01)
      assert(r.getAs[Long]("n_outliers") == 1L)
      assert(r.getAs[Double]("outlier_rate") == 0.1)
    }

    it("a constant column has MAD 0 and every off-median row flags") {
      val ev = events((1L to 5L).map(i =>
        (i, ts("2024-01-02 00:00:00"), i, "view",
          if (i == 5L) 7.0 else 3.0, "{}")): _*)
      val r = Analytics.robustOutliersFrom(ev).collect().head
      assert(r.getAs[Double]("median_value") == 3.0)
      assert(r.getAs[Double]("mad_value") == 0.0)
      assert(r.getAs[Long]("n_outliers") == 1L)
    }
  }

  describe("kmRetention (q252)") {
    it("computes the product-limit curve on a hand corpus") {
      def ts(hour: Long) = new java.sql.Timestamp(hour * 3600L * 1000L)
      // u1/u4 churn at t=10; u3 censored at 95; u2 censored at 100
      val events = Seq(
        (1L, ts(0)), (1L, ts(10)),
        (2L, ts(0)), (2L, ts(100)),
        (3L, ts(5)), (3L, ts(99)),
        (4L, ts(0)), (4L, ts(10)))
        .toDF("user_id", "ts")
      val r = Analytics.kmRetentionFrom(events).collect()
      assert(r.map(_.getAs[Long]("t")).toSeq == Seq(10L, 95L, 100L))
      val t10 = r(0)
      assert(t10.getAs[Long]("n_at_risk") == 4L)
      assert(t10.getAs[Long]("n_churned") == 2L)
      assert(t10.getAs[Double]("hazard") == 0.5)
      assert(t10.getAs[Double]("survival") == 0.5)
      val t95 = r(1)
      assert(t95.getAs[Long]("n_at_risk") == 2L)
      assert(t95.getAs[Long]("n_censored") == 1L)
      assert(t95.getAs[Double]("survival") == 0.5) // censoring: no drop
      assert(r(2).getAs[Long]("n_at_risk") == 1L)
      assert(r(2).getAs[Double]("survival") == 0.5)
    }

    it("reports survival 1.0 when nobody churns") {
      def ts(hour: Long) = new java.sql.Timestamp(hour * 3600L * 1000L)
      val events = Seq((1L, ts(0)), (1L, ts(50)), (2L, ts(10)), (2L, ts(50)))
        .toDF("user_id", "ts")
      val r = Analytics.kmRetentionFrom(events).collect()
      r.foreach { x =>
        assert(x.getAs[Double]("survival") == 1.0)
        assert(x.getAs[Long]("n_churned") == 0L)
      }
    }
  }

  describe("conformalCoverage (q248)") {
    // independent driver-side reimplementation of the split-conformal
    // pipeline (same md5 split, |v − mean| scores, ⌈(1−α)(n+1)⌉-th
    // smallest threshold) over a synthetic corpus
    it("matches a brute-force conformal audit") {
      def arm(e: Long): Int = {
        val md = java.security.MessageDigest.getInstance("MD5")
        val hex = md.digest(s"conf|$e".getBytes("UTF-8"))
          .map(b => f"$b%02x").mkString
        (java.lang.Long.parseLong(hex.take(8), 16) % 2).toInt
      }
      val n = 600
      val rows = (1L to n.toLong).map(i =>
        (i, s"t${i % 2}", (i % 83) / 4.0))
      val events = rows.toDF("event_id", "event_type", "value")
      val expected = rows.groupBy(_._2).toSeq.sortBy(_._1).map {
        case (tpe, xs) =>
          val withArm = xs.map(x =>
            (arm(x._1), math.round(x._3 * 100)))
          val cal = withArm.filter(_._1 == 0).map(_._2)
          val test = withArm.filter(_._1 == 1).map(_._2)
          val s = cal.sum
          val nc = cal.size.toLong
          val scores = cal.map(c => (c * nc - s).abs).sorted
          val k = ((nc + 1) * 9 + 9) / 10 // ⌈0.9(n+1)⌉
          val qhat = if (k <= nc) Some(scores(k.toInt - 1)) else None
          val cov = test.count(c =>
            qhat.forall((c * nc - s).abs <= _))
          (tpe, nc, test.size.toLong,
            qhat.map(_.toDouble / nc / 100.0),
            BigDecimal(cov.toDouble / test.size)
              .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
      }
      val got = Analytics.conformalFrom(events).collect().map(r =>
        (r.getAs[String]("event_type"), r.getAs[Long]("n_cal"),
          r.getAs[Long]("n_test"),
          Option(r.getAs[java.lang.Double]("qhat_w")).map(_.toDouble),
          r.getAs[Double]("coverage"))).toSeq
      assert(got == expected)
      // the audited guarantee itself: empirical coverage near 1−α
      got.foreach(x => assert(x._5 >= 0.8 && x._5 <= 1.0))
    }
  }
}
