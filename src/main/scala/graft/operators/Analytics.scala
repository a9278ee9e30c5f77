package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.functions.Det.nullIfZero
import graft.functions.{TextFns, Wide}
import graft.sources.Tables

/** Analytic operator coverage beyond the reference surface: set
  * operations, grouping sets (ROLLUP + CUBE), as-of
  * (most-recent-prior) semantics via frame-bounded windows, exact
  * quantiles, wide pivot, and the approximate-sketch path
  * (HLL++ distinct, approx percentile).
  *
  * Scale notes: INTERSECT/EXCEPT lower to distinct + hash joins on the
  * compared columns; ROLLUP/CUBE are one pass with grouping-set
  * expansion and map-side partial aggregation; the as-of window
  * shuffles once on user_id with an unbounded-preceding frame (running
  * state, no re-scan per row); pivot with a declared value domain skips
  * the distinct-discovery scan; the q44 sketches are single-pass
  * mergeable fixed-size state — the only distinct-count/quantile shape
  * that works at 100 TB.
  */
object Analytics {

  /** q31 — cohort set operations: users with both clicks and purchases
    * (INTERSECT) vs clicks only (EXCEPT).
    */
  def cohorts(spark: SparkSession, dir: String): DataFrame =
    cohortsFrom(Tables.events(spark, dir))

  def cohortsFrom(events: DataFrame): DataFrame = {
    val clicks = events.filter(col("event_type") === "click").select("user_id").distinct()
    val purch = events.filter(col("event_type") === "purchase").select("user_id").distinct()
    clicks.intersect(purch).select(lit("both").as("cohort"), col("user_id"))
      .unionAll(clicks.except(purch).select(lit("click_only").as("cohort"), col("user_id")))
      .orderBy("cohort", "user_id")
  }

  /** q32 — ROLLUP revenue by (returnflag, linestatus) with grouping id. */
  def revenueRollup(spark: SparkSession, dir: String): DataFrame =
    revenueRollupFrom(Tables.lineitem(spark, dir))

  def revenueRollupFrom(lineitem: DataFrame): DataFrame =
    lineitem
      .rollup("l_returnflag", "l_linestatus")
      .agg(
        grouping_id().as("gid"),
        sum(col("l_extendedprice").cast(DecimalType(18, 2))).cast("double").as("revenue"),
        count(lit(1)).as("n"))
      .select(col("l_returnflag"), col("l_linestatus"), col("gid").cast("int").as("gid"),
        col("revenue"), col("n"))
      .orderBy(asc("gid"), asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus"))

  /** q33 — as-of lookup: for every purchase, the most recent prior
    * click timestamp of the same user (null when none), via an
    * IGNORE-NULLS last over an unbounded-preceding frame.
    */
  def asofPriorClick(spark: SparkSession, dir: String): DataFrame =
    asofPriorClickFrom(Tables.events(spark, dir))

  def asofPriorClickFrom(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id")
      .orderBy(asc("ts"), asc("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    events
      .filter(col("event_type").isin("click", "purchase"))
      .select(col("event_id"), col("user_id"), col("ts"), col("event_type"))
      .withColumn("prior_click_ts",
        last(when(col("event_type") === "click", col("ts")), ignoreNulls = true).over(w))
      .filter(col("event_type") === "purchase")
      .select("event_id", "user_id", "ts", "prior_click_ts")
      .orderBy("event_id")
  }

  /** q132 — MANN-WHITNEY U (rank-sum) test: does the `value`
    * distribution of clicks differ from purchases, reported as the
    * doubled U statistic and the AUC effect size (U / n_a·n_b — the
    * probability a random click value exceeds a random purchase value)
    * — the nonparametric A/B comparison that needs no normality
    * assumption, completing the statistics family (q128 trends within
    * a series; this compares two groups). Everything up to the final
    * AUC division is INTEGER: tie groups contribute their exact
    * average rank via `2·avg = 2·start + size − 1`, so `2R` and `2U`
    * accumulate as longs — no float ever sums.
    *
    * Scale shape: the corpus reduces to one per-VALUE aggregate (the
    * histogram trick that makes exact global ranking scale), and the
    * rank starts come from [[Prefix.cumSums]]'s two-phase distributed
    * prefix — NOT a global window, because a money column's distinct
    * cents approach row cardinality at warehouse scale, so the
    * "bounded domain" assumption doesn't survive 100×. One final
    * single-row aggregate closes it.
    */
  def mannWhitney(spark: SparkSession, dir: String): DataFrame =
    mannWhitneyFrom(Tables.events(spark, dir))

  def mannWhitneyFrom(events: DataFrame): DataFrame = {
    val sub = events.filter(col("event_type").isin("click", "purchase"))
      .select(col("event_type"), col("value"))
    val byV = sub.groupBy("value").agg(
      sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("ca"),
      count(lit(1)).as("cv"))
    // rank start = exclusive running count + 1, via the distributed
    // two-phase prefix (cent key is monotone in value) — never a
    // single-partition global window over the money grain
    val ranked = Prefix.cumSums(byV, "value",
        round(col("value") * 100), Seq("cv"), Seq("cum_cv"))
      .withColumn("st", col("cum_cv") - col("cv") + 1)
    val u2 = col("r2a") - col("na") * (col("na") + 1)
    ranked.agg(
        sum(col("ca") * (lit(2L) * col("st") + col("cv") - 1)).as("r2a"),
        sum("ca").as("na"), sum(col("cv") - col("ca")).as("nb"))
      .select(lit("click_vs_purchase").as("test"), col("na"), col("nb"),
        u2.as("u2"),
        round(u2.cast("double") / (lit(2.0) * col("na") * col("nb")), 9)
          .as("auc"))
  }

  /** q133 — KOLMOGOROV-SMIRNOV distance between the click and purchase
    * value distributions: D = max |F_a(v) − F_b(v)|, computed over the
    * same per-VALUE histogram reduction as q132 with the numerator kept
    * INTEGER (`|cumA·n_b − cumB·n_a|`) until the single final division
    * — the distribution-shift gauge that complements q132 (U measures
    * stochastic dominance; D measures worst-case CDF gap, the quantity
    * drift alarms threshold).
    *
    * Scale shape: identical to q132 — per-value histogram, both CDF
    * running counts through one [[Prefix.cumSums]] two-phase pass
    * (shared buckets, two counters), broadcast totals, one closing
    * aggregate. No global window anywhere on the money grain.
    */
  def ksTest(spark: SparkSession, dir: String): DataFrame =
    ksTestFrom(Tables.events(spark, dir))

  def ksTestFrom(events: DataFrame): DataFrame = {
    val byV = events.filter(col("event_type").isin("click", "purchase"))
      .groupBy("value").agg(
        sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("ca"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("cb"))
    // both CDF numerators ride one distributed two-phase prefix pass
    // (shared fine buckets, two counters); the group totals are a
    // broadcast single-row aggregate, not a whole-relation window
    val tot = byV.agg(sum("ca").as("na"), sum("cb").as("nb"))
    Prefix.cumSums(byV, "value", round(col("value") * 100),
        Seq("ca", "cb"), Seq("cuma", "cumb"))
      .crossJoin(broadcast(tot))
      .agg(max("na").as("na"), max("nb").as("nb"),
        max(abs(col("cuma") * col("nb") - col("cumb") * col("na"))).as("d_num"))
      .select(lit("click_vs_purchase").as("test"), col("na"), col("nb"),
        col("d_num"),
        round(col("d_num").cast("double") /
          nullIfZero(col("na") * col("nb")), 9).as("ks_d"))
  }

  /** q134 — GLOBAL clustering coefficient of the item graph:
    * 3·triangles / wedges, with the supporting degree-distribution
    * counts — the one-number cohesion summary over q110's exact
    * triangle machinery (transitivity: how often do two items sharing
    * a neighbor also co-occur directly). Wedge count is the exact
    * integer Σ d(d−1)/2; the coefficient is the single final division.
    */
  def clusteringCoeff(spark: SparkSession, dir: String): DataFrame =
    clusteringCoeffFrom(Tables.events(spark, dir))

  def clusteringCoeffFrom(events: DataFrame): DataFrame = {
    val (edges, tri) = triangleParts(events)
    val deg = edges.select(col("u").as("x"))
      .unionAll(edges.select(col("v").as("x")))
      .groupBy("x").agg(count(lit(1)).as("d"))
    val wedges = deg.agg(count(lit(1)).as("n_nodes"),
      (sum(col("d") * (col("d") - 1)) / 2).cast("long").as("n_wedges"))
    val sizes = edges.agg(count(lit(1)).as("n_edges"))
      .crossJoin(tri.agg(count(lit(1)).as("n_triangles")))
    wedges.crossJoin(sizes)
      .select(col("n_nodes"), col("n_edges"), col("n_wedges"),
        col("n_triangles"),
        round((col("n_triangles") * 3).cast("double") /
          nullIfZero(col("n_wedges")), 9).as("clustering_coeff"))
  }

  /** q129 forward tolerance (minutes): a next-click further out is no
    * match — the alignment contract of a toleranced as-of join.
    */
  val AsofFwdToleranceMin = 10L

  /** q129 — FORWARD as-of join with tolerance: for every purchase, the
    * same user's NEXT click within [[AsofFwdToleranceMin]] minutes and
    * the exact gap seconds (NULL when nothing lands inside the
    * tolerance) — the other half of the as-of family (q33 looks
    * backward, unbounded; this looks forward, toleranced), the shape
    * sensor/label alignment uses ("the first reading AFTER the event,
    * if fresh enough").
    *
    * Scale shape: identical to q33 — one user-keyed window over the
    * merged click/purchase stream (forward frame instead of backward),
    * running state per row, no join at all; the tolerance is a
    * row-local predicate after the window.
    */
  def asofNextClick(spark: SparkSession, dir: String): DataFrame =
    asofNextClickFrom(Tables.events(spark, dir))

  def asofNextClickFrom(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id")
      .orderBy(asc("ts"), asc("event_id"))
      .rowsBetween(1, Window.unboundedFollowing)
    val tolUs = AsofFwdToleranceMin * 60L * 1000000L
    events
      .filter(col("event_type").isin("click", "purchase"))
      .select(col("event_id"), col("user_id"), col("ts"), col("event_type"))
      .withColumn("nc",
        first(when(col("event_type") === "click", col("ts")),
          ignoreNulls = true).over(w))
      .filter(col("event_type") === "purchase")
      .withColumn("next_click_ts",
        when(unix_micros(col("nc")) - unix_micros(col("ts")) <= tolUs, col("nc")))
      .select(col("event_id"), col("user_id"), col("ts"), col("next_click_ts"),
        round((unix_micros(col("next_click_ts")) - unix_micros(col("ts")))
          .cast("double") / 1000000.0, 6).as("gap_sec"))
      .orderBy("event_id")
  }

  /** q34 — exact quantiles per event type: Spark `median`/`percentile`
    * interpolate identically (bit-exact) to DuckDB
    * `median`/`quantile_cont`, both sorting exact doubles.
    */
  def valueQuantiles(spark: SparkSession, dir: String): DataFrame =
    valueQuantilesFrom(Tables.events(spark, dir))

  def valueQuantilesFrom(events: DataFrame): DataFrame =
    events.groupBy("event_type")
      .agg(
        count(lit(1)).as("n"),
        min("value").as("min_v"),
        median(col("value")).as("med"),
        percentile(col("value"), lit(0.9)).as("p90"),
        max("value").as("max_v"))
      .orderBy("event_type")

  /** q42 — CUBE over (returnflag, ship year) with grouping id: all four
    * grouping sets in one pass (grouping-set expansion + map-side
    * partial agg, one shuffle — never four scans).
    */
  def revenueCube(spark: SparkSession, dir: String): DataFrame =
    revenueCubeFrom(Tables.lineitem(spark, dir))

  def revenueCubeFrom(lineitem: DataFrame): DataFrame =
    lineitem
      .withColumn("ship_year", year(col("l_shipdate")))
      .cube("l_returnflag", "ship_year")
      .agg(
        grouping_id().as("gid"),
        sum(col("l_extendedprice").cast(DecimalType(18, 2))).cast("double").as("revenue"),
        count(lit(1)).as("n"))
      .select(col("l_returnflag"), col("ship_year"), col("gid").cast("int").as("gid"),
        col("revenue"), col("n"))
      .orderBy(asc("gid"), asc_nulls_first("l_returnflag"), asc_nulls_first("ship_year"))

  /** Pivot value domain, declared statically: passing explicit values to
    * `pivot` skips the extra distinct-collect job Spark otherwise runs
    * to discover them — at 100 TB that discovery pass is a full scan.
    */
  val EventTypes: Seq[String] = Seq("click", "error", "purchase", "signup", "view")

  /** q43 — wide per-user activity matrix: pivot on event type with a
    * count and an exact-decimal value sum per type. Counts for absent
    * (user, type) cells are 0; sums stay null (no events ⇒ no sum), the
    * same semantics as filtered aggregation.
    */
  def userActivityPivot(spark: SparkSession, dir: String): DataFrame =
    userActivityPivotFrom(Tables.events(spark, dir))

  def userActivityPivotFrom(events: DataFrame): DataFrame = {
    val pivoted = events
      .groupBy("user_id")
      .pivot("event_type", EventTypes)
      .agg(
        count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(12, 2))).cast("double").as("val"))
    val counts = EventTypes.map(t => coalesce(col(s"${t}_n"), lit(0L)).as(s"${t}_n"))
    val sums = EventTypes.map(t => col(s"${t}_val"))
    pivoted.select((col("user_id") +: (counts ++ sums)): _*).orderBy("user_id")
  }

  /** q44 — the approximate path for the same statistics the exact
    * operators compute (q28 countDistinct, q34 percentile): HLL++
    * `approx_count_distinct` (rsd 1%) and `percentile_approx`
    * (accuracy 10⁴) next to their exact values. At 100 TB these are the
    * operators you actually run — both are single-pass, mergeable
    * sketches with fixed-size state, where exact distinct counts shuffle
    * every distinct value. Sketch internals differ across engines, so
    * this query has NO DuckDB oracle (driver records a rows-only check);
    * `AnalyticsSpec` pins the approximation error against the exact
    * columns instead.
    */
  def approxStats(spark: SparkSession, dir: String): DataFrame =
    approxStatsFrom(Tables.events(spark, dir))

  def approxStatsFrom(events: DataFrame): DataFrame =
    events.groupBy("event_type")
      .agg(
        approx_count_distinct(col("user_id"), 0.01).as("approx_users"),
        countDistinct(col("user_id")).as("exact_users"),
        percentile_approx(col("value"), lit(0.9), lit(10000)).as("p90_approx"),
        percentile(col("value"), lit(0.9)).as("p90_exact"))
      .orderBy("event_type")

  /** q44 driver form — self-checking: the raw sketch estimates are
    * engine-specific and never leave the query; what the driver hashes
    * is the exact statistics plus two deterministic in-bounds booleans
    * (`users_ok`: HLL++ rsd-1% estimate within 5% of exact; `p90_ok`:
    * approx percentile between the exact 85th and 95th percentiles).
    * The oracle asserts both literally TRUE, so a sketch accuracy
    * regression now FAILS the rows/schema/hash gate instead of hiding
    * behind a rows-only check.
    */
  def approxStatsChecked(spark: SparkSession, dir: String): DataFrame =
    approxStatsCheckedFrom(Tables.events(spark, dir))

  def approxStatsCheckedFrom(events: DataFrame): DataFrame =
    events.groupBy("event_type")
      .agg(
        approx_count_distinct(col("user_id"), 0.01).as("approx_users"),
        countDistinct(col("user_id")).as("exact_users"),
        percentile_approx(col("value"), lit(0.9), lit(10000)).as("p90_approx"),
        percentile(col("value"), lit(0.9)).as("p90_exact"),
        percentile(col("value"), lit(0.85)).as("p85_exact"),
        percentile(col("value"), lit(0.95)).as("p95_exact"))
      .select(col("event_type"), col("exact_users"),
        (abs(col("approx_users") - col("exact_users")) <=
          col("exact_users") * lit(0.05)).as("users_ok"),
        col("p90_exact"),
        (col("p90_approx") >= col("p85_exact") &&
          col("p90_approx") <= col("p95_exact")).as("p90_ok"))
      .orderBy("event_type")

  /** Co-occurring item pairs kept by q66. */
  val CoocTopK = 20

  /** Items kept by q161's decayed-popularity ranking. */
  val DecayTopK = 20

  /** q169 — categorical ASSOCIATION audit: Cramér's V between the
    * document corpus's `lang` and `source` columns — the profiling
    * question q120's functional dependencies answer only at the
    * extremes (FD holds / FD broken): HOW strongly does one
    * categorical determine the other? V ≈ 0 means sources are
    * language-balanced; V → 1 means language is a function of source —
    * the stratification warning for every per-source mixture decision
    * (q48/q152/q157).
    *
    * Determinism: χ² = Σ (o·N − r·c)²/(N·r·c) over the DENSE
    * langs × sources grid (absent cells contribute their full
    * expectation — the q150 dense-grid lesson); each cell term is a
    * fixed 6-op correctly-rounded IEEE sequence rounded at 9 dp, the
    * sum crosses the shuffle as DECIMAL(38,12) (order-independent),
    * and V closes with one division and one sqrt.
    *
    * Scale shape: ONE (lang, source) corpus aggregate; the dense grid
    * is marginal × marginal (model-sized) built from broadcast
    * marginals; everything after is grid-cardinality rows.
    */
  def cramersV(spark: SparkSession, dir: String): DataFrame =
    cramersVFrom(Tables.documents(spark, dir))

  def cramersVFrom(docs: DataFrame): DataFrame = {
    val cells = docs.groupBy("lang", "source").agg(count(lit(1)).as("o"))
    val rm = cells.groupBy("lang").agg(sum("o").as("r"))
    val cm = cells.groupBy("source").agg(sum("o").as("c"))
    val tot = cells.agg(sum("o").as("n"),
      count(lit(1)).as("n_filled")) // filled cells (diagnostic)
    val grid = rm.crossJoin(broadcast(cm))
      .join(cells, Seq("lang", "source"), "left")
      .select(col("lang"), col("source"), col("r"), col("c"),
        coalesce(col("o"), lit(0L)).as("o"))
    val dims = rm.agg(count(lit(1)).as("n_langs"))
      .crossJoin(cm.agg(count(lit(1)).as("n_sources")))
    // fixed IEEE order: (o·N − r·c)² / ((N·r)·c), rounded per cell
    val term = {
      val num = (col("o").cast("double") * col("n")
        - col("r").cast("double") * col("c"))
      round(num * num / (col("n").cast("double") * col("r") * col("c")), 9)
    }
    grid.crossJoin(broadcast(tot))
      .agg(sum(term.cast(DecimalType(38, 12))).cast("double").as("chi2"))
      .crossJoin(broadcast(tot))
      .crossJoin(broadcast(dims))
      .select(col("n"), col("n_langs"), col("n_sources"), col("n_filled"),
        round(col("chi2"), 9).as("chi2"),
        round(sqrt(col("chi2") / (col("n").cast("double")
          * least(col("n_langs") - 1, col("n_sources") - 1).cast("double"))),
          9).as("cramers_v"))
  }

  /** q161 — EXPONENTIAL time-decay popularity, exactly: per item
    * (`props.k`), the decayed event mass under two half-lives — daily
    * (weight 2^−age_days) and weekly (2^−⌊age_days/7⌋) — ranked by the
    * weekly score. The freshness-weighted ranking every feed/trending
    * surface runs, but with a twist that makes it hash-gateable: the
    * usual `exp(−λ·age)` is libm territory (not correctly rounded,
    * drifts cross-engine), so the half-life is fixed at a POWER OF TWO
    * and each event's weight is the exact integer `1 << (60 − age)` —
    * the decayed sum is pure integer arithmetic in DECIMAL(38,0) space
    * (the q149 move), and the presentation score is ONE closing
    * division by 2^60 off the exact sum. The exact weights ship as
    * hi/lo BIGINT halves ([[graft.functions.Wide]] — decimals stay
    * internal, never in the output schema). Ages beyond the 60-step
    * horizon contribute exactly 0 (a 2^−60 weight is below any
    * ranking's noise floor).
    *
    * Scale shape: the max-day anchor is a 1-row aggregate broadcast
    * back; weights are map-side expressions; ONE item-keyed aggregate
    * with combine-heavy integer partials; the top-k cut lowers to
    * TakeOrderedAndProject on (weekly, daily, item) — items never
    * collect, documents never re-shuffle.
    */
  def decayedPopularity(spark: SparkSession, dir: String): DataFrame =
    decayedPopularityFrom(Tables.events(spark, dir))

  def decayedPopularityFrom(events: DataFrame): DataFrame = {
    val dec0 = DecimalType(38, 0)
    val raw = regexp_extract(col("props"), "\"k\":\\s*(\\d+)", 1)
    val item = when(raw === "", lit(null)).otherwise(raw).cast("int")
    val base = events.select(item.as("item"), col("ts").cast("date").as("d"))
      .filter(col("item").isNotNull)
    val mx = base.agg(max("d").as("mxd"))
    // exact dyadic weight: 1 << shift for shift in [0, 60], else 0
    def dyadic(shift: Column): Column =
      when(shift.between(0, 60),
        call_function("shiftleft", lit(1L), shift.cast("int")).cast(dec0))
        .otherwise(lit(0).cast(dec0))
    val agg = base.crossJoin(broadcast(mx))
      .withColumn("age", datediff(col("mxd"), col("d")))
      .groupBy("item").agg(
        count(lit(1)).as("n_events"),
        sum(dyadic(lit(60) - col("age"))).cast(dec0).as("w_daily"),
        sum(dyadic(lit(60) - floor(col("age") / lit(7)).cast("int")))
          .cast(dec0).as("w_weekly"))
    val scale = lit(math.pow(2, 60)) // exact in double
    agg.orderBy(desc("w_weekly"), desc("w_daily"), asc("item"))
      .limit(DecayTopK)
      .withColumn("rank", row_number().over(Window.partitionBy()
        .orderBy(desc("w_weekly"), desc("w_daily"), asc("item"))).cast("int"))
      .select(col("rank"), col("item"), col("n_events"),
        Wide.hi62(col("w_daily")).as("w_daily_hi"),
        Wide.lo62(col("w_daily")).as("w_daily_lo"),
        Wide.hi62(col("w_weekly")).as("w_weekly_hi"),
        Wide.lo62(col("w_weekly")).as("w_weekly_lo"),
        round(col("w_daily").cast("double") / scale, 9).as("score_daily"),
        round(col("w_weekly").cast("double") / scale, 9).as("score_weekly"))
      .orderBy("rank")
  }

  /** q66 — market-basket item co-occurrence: the top item pairs (the
    * `props.k` attribute) appearing together in the same user's events,
    * with the number of distinct users supporting each pair — the
    * association-mining primitive behind "related items" and feature
    * co-occurrence audits.
    *
    * Scale shape: the corpus reduces to DISTINCT (user, item) rows
    * first (one shuffle with map-side combine — basket semantics, and
    * the self-join's input is bounded by Σ basket sizes, not event
    * count); pairs form in a user-keyed self-join whose output is
    * Σ_user basket² — the irreducible cost of exact pair counting
    * (a-priori support pruning composes on top by filtering the item
    * relation first); the pair aggregate combines map-side and the
    * top-k lowers to TakeOrderedAndProject. Hot users are bounded by
    * the [[PairUserCap]] basket prune inside [[itemBaskets]], so one
    * bot/power user can never mint a basket² straggler task.
    */
  def itemCooccurrence(spark: SparkSession, dir: String): DataFrame =
    itemCooccurrenceFrom(Tables.events(spark, dir))

  def itemCooccurrenceFrom(events: DataFrame): DataFrame =
    // checkpoint the capped baskets: the self-join references the
    // relation twice (and a broadcast build side would otherwise
    // recompute the whole distinct+count+window chain)
    itemPairsOf(itemBaskets(events).localCheckpoint())
      .select(col("u").as("item_a"), col("v").as("item_b"),
        col("w").as("n_users"))
      .orderBy(desc("n_users"), asc("item_a"), asc("item_b"))
      .limit(CoocTopK)

  /** q177 cutoff ranks evaluated (ascending) and the minimum pair
    * support a candidate edge needs.
    */
  val RecEvalKs = Seq(1, 5, 10)
  val RecMinSupport = 2

  /** q177 — LEAVE-LAST-OUT recommender evaluation: hold out each
    * user's LAST item (by event time, event-id tie-break), recommend
    * by summed co-occurrence support between the user's HISTORY items
    * and candidate items, and report hit-rate@k for k ∈
    * [[RecEvalKs]] — the offline eval loop behind every "related
    * items" surface built on q66's co-occurrence statistics. The
    * support pool is built from history events ONLY (every user's last
    * event is excluded globally), so a user's own held-out interaction
    * never leaks into the scores that rank it. Eval users = those
    * whose target is genuinely novel (∉ history) and who have ≥1
    * history item; candidates already in the history are excluded.
    *
    * Scale shape: the hold-out split is one per-user window; the
    * SCORING relations (pair-support self-join + per-user score fold)
    * ride the [[PairUserCap]] history prune — the q66 discipline, so
    * Σ basket² is bounded at cap² per user — with a support cut
    * bounding the edge relation; the hold-out/eval logic keeps the
    * FULL history (novelty of the target must not depend on the cap);
    * the hit rank is one per-user rank-1-style window; the k-arm
    * rollup replicates only the per-user hit ranks (× |Ks|), never
    * events.
    */
  /** q193 — ITEM-NOVELTY curve: per (Monday-aligned) week of the event
    * stream, the events observed, the distinct items active, the items
    * seen for the FIRST time ever, the cumulative catalog size, and
    * the novelty rate (new/active) — q183's vocabulary-growth question
    * asked of the interaction log instead of the corpus: a flattening
    * curve means the catalog saturated (recommendation/co-occurrence
    * models stop learning new items); a spike means an ingest or
    * catalog-drop event worth correlating with q163's CUSUM.
    *
    * Scale shape: one item-keyed min-aggregate for first occurrences
    * (item-cardinality-bounded), one week-keyed count with map-side
    * combine; the cumulative window rides the weeks relation
    * (timeline-bounded). The rate is a single exact-int division.
    */
  def itemNovelty(spark: SparkSession, dir: String): DataFrame =
    itemNoveltyFrom(Tables.events(spark, dir))

  def itemNoveltyFrom(events: DataFrame): DataFrame = {
    val raw = regexp_extract(col("props"), "\"k\":\\s*(\\d+)", 1)
    val item = when(raw === "", lit(null)).otherwise(raw).cast("int")
    val ev = events
      .select(date_trunc("week", col("ts")).as("wk"), item.as("item"))
      .filter(col("item").isNotNull)
    val perWeek = ev.groupBy("wk").agg(
      count(lit(1)).as("n_events"),
      countDistinct(col("item")).as("n_active"))
    val newItems = ev.groupBy("item").agg(min("wk").as("wk"))
      .groupBy("wk").agg(count(lit(1)).as("new_items"))
    val w = Window.orderBy("wk")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    perWeek.join(newItems, Seq("wk"), "left")
      .na.fill(0L, Seq("new_items"))
      .select(col("wk").as("week_start"), col("n_events"), col("n_active"),
        col("new_items"),
        sum("new_items").over(w).as("cum_items"),
        (col("new_items").cast("double") / col("n_active"))
          .as("novelty_rate"))
      .orderBy("week_start")
  }

  def recHitRate(spark: SparkSession, dir: String): DataFrame =
    recHitRateFrom(Tables.events(spark, dir))

  def recHitRateFrom(events: DataFrame): DataFrame = {
    val raw = regexp_extract(col("props"), "\"k\":\\s*(\\d+)", 1)
    val item = when(raw === "", lit(null)).otherwise(raw).cast("int")
    val ev = events
      .select(col("user_id"), item.as("item"), col("ts"), col("event_id"))
      .filter(col("item").isNotNull)
    val wu = Window.partitionBy("user_id").orderBy(desc("ts"), desc("event_id"))
    // checkpointed: the hold-out split is consumed by five downstream
    // relations (item counts, the capped scoring history, the eval-user
    // anti/semi joins, the seen-item anti-join) — without it the corpus
    // window + distinct replays per consumer (r12-opt)
    val ranked = ev.withColumn("rn", row_number().over(wu)).localCheckpoint()
    val last = ranked.filter(col("rn") === 1)
      .select(col("user_id"), col("item").as("target"))
    val hist = ranked.filter(col("rn") > 1)
      .select("user_id", "item").distinct()
      .localCheckpoint()
    // the SCORING relations ride the PairUserCap prune (the q66
    // discipline — the support self-join and the per-user score fold
    // are the Σ basket² terms a bot history would blow up); the
    // hold-out/eval logic keeps the FULL history: whether the target
    // is novel must not depend on the cap
    val hic = hist.groupBy("item").agg(count(lit(1)).as("__ic"))
    val histCap = hist.join(dimBroadcast(hic), Seq("item"))
      .withColumn("__rn", row_number().over(
        Window.partitionBy("user_id").orderBy(desc("__ic"), asc("item"))))
      .filter(col("__rn") <= PairUserCap)
      .select("user_id", "item")
      .localCheckpoint()
    val evalU = last
      .join(hist.select(col("user_id"), col("item").as("target")),
        Seq("user_id", "target"), "left_anti")
      .join(hist.select("user_id").distinct(), Seq("user_id"), "left_semi")
    val pairSupport = histCap.alias("a").join(histCap.alias("b"),
        col("a.user_id") === col("b.user_id") &&
          col("a.item") =!= col("b.item"))
      .groupBy(col("a.item").as("src"), col("b.item").as("dst"))
      .agg(count(lit(1)).as("support"))
      .filter(col("support") >= RecMinSupport)
    val scores = histCap.join(evalU, Seq("user_id"))
      .join(pairSupport, col("item") === col("src"))
      .groupBy(col("user_id"), col("target"), col("dst"))
      .agg(sum("support").as("score"))
      .join(hist.select(col("user_id"), col("item").as("dst")),
        Seq("user_id", "dst"), "left_anti")
    val hitRank = scores
      .withColumn("rk", row_number().over(Window.partitionBy("user_id")
        .orderBy(desc("score"), asc("dst"))))
      .filter(col("dst") === col("target"))
      .groupBy("user_id").agg(min("rk").as("hit_rk"))
    evalU.join(hitRank, Seq("user_id"), "left")
      .select(explode(array(RecEvalKs.map(k => lit(k)): _*)).as("k"),
        col("hit_rk"))
      .groupBy("k").agg(
        count(lit(1)).as("n_users"),
        sum(when(col("hit_rk") <= col("k"), 1L).otherwise(0L))
          .as("n_hits"))
      .select(col("k"), col("n_users"), col("n_hits"),
        round(col("n_hits").cast("double") / col("n_users"), 9)
          .as("hit_rate"))
      .orderBy("k")
  }

  /** q73 MAD multiplier: production pipelines run 3–5; the fixture's
    * near-uniform `value` has no tail beyond ~2 scaled MADs, so the
    * gate uses 1.0 to exercise the flag path (same fixture rationale as
    * `Similarity.NearDupMin`) — the plan is threshold-agnostic.
    */
  val MadK = 1.0

  /** Normal-consistency constant: 1 MAD ≈ 1.4826 σ. */
  val MadC = 1.4826

  /** q73 — robust outlier detection per event type via median absolute
    * deviation: median and MAD are outlier-resistant where mean/stddev
    * are not (one corrupt feed value drags a z-score baseline, not a
    * MAD one) — the standard data-quality screen over a metric column.
    *
    * Scale shape: three passes over events, each ending in a tiny
    * per-type aggregate broadcast back — (1) per-type median, (2)
    * per-type MAD of the deviations, (3) count + flag; the exact
    * medians are single-column sort percentiles (bit-equal to the
    * oracle's quantile_cont, as q34), and the flag predicate is pure
    * row arithmetic. An approximate single-pass variant would ride
    * q44's percentile_approx sketch unchanged.
    */
  def valueOutliers(spark: SparkSession, dir: String): DataFrame =
    valueOutliersFrom(Tables.events(spark, dir))

  def valueOutliersFrom(events: DataFrame): DataFrame = {
    val med = events.groupBy("event_type")
      .agg(median(col("value")).as("med"))
    val d = events.select("event_type", "value")
      .join(broadcast(med), "event_type")
      .withColumn("dev", abs(col("value") - col("med")))
    val mad = d.groupBy("event_type")
      .agg(median(col("dev")).as("mad"))
    d.join(broadcast(mad), "event_type")
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n"),
        min("med").as("med"),
        min("mad").as("mad"),
        sum(when(col("dev") > lit(MadK) * lit(MadC) * col("mad"), 1L)
          .otherwise(0L)).as("n_outliers"))
      .withColumn("outlier_ratio",
        round(col("n_outliers").cast("double") / col("n"), 9))
      .orderBy("event_type")
  }

  /** q94 — weekly retention cohorts: users bucketed by the ISO week
    * (Monday-truncated) of their FIRST event, tracked by how many are
    * active again k weeks later — the standard growth/engagement matrix
    * every product warehouse derives, and a representative "two
    * aggregation granularities of the same fact table" shape.
    *
    * Scale shape: first-event per user is one user-keyed aggregate; the
    * distinct (user, active-week) relation rides the SAME user_id
    * hash distribution, so the cohort join is co-partitioned (no extra
    * corpus shuffle); per-cohort sizes are a week-cardinality relation
    * — broadcast back for the rate division. Nothing keyed by event
    * ever shuffles twice.
    */
  def retentionCohorts(spark: SparkSession, dir: String): DataFrame =
    retentionCohortsFrom(Tables.events(spark, dir))

  def retentionCohortsFrom(events: DataFrame): DataFrame = {
    val cohorts = events.groupBy("user_id")
      .agg(min("ts").as("first_ts"))
      .select(col("user_id"),
        to_date(date_trunc("week", col("first_ts"))).as("cohort_week"))
    val activity = events
      .select(col("user_id"), to_date(date_trunc("week", col("ts"))).as("act_week"))
      .distinct()
    val sizes = cohorts.groupBy("cohort_week").agg(count(lit(1)).as("n_cohort"))
    activity.join(cohorts, "user_id")
      // both weeks are Monday-truncated dates, so the day delta is an
      // exact multiple of 7 — the division is integral by construction
      .select(col("cohort_week"),
        (datediff(col("act_week"), col("cohort_week")) / 7).cast("int").as("week_offset"))
      .groupBy("cohort_week", "week_offset")
      // activity is distinct per (user, week): plain count = active users
      .agg(count(lit(1)).as("n_active"))
      .join(broadcast(sizes), "cohort_week")
      .withColumn("retention_rate",
        round(col("n_active").cast("double") / col("n_cohort"), 9))
      .select("cohort_week", "week_offset", "n_cohort", "n_active", "retention_rate")
      .orderBy("cohort_week", "week_offset")
  }

  /** Attribution lookback window (minutes) for q98. */
  val AttribWindowMin = 30

  /** q98 — last-touch revenue attribution: every purchase's value is
    * credited to the item (`props.k`) of the user's most recent prior
    * click within [[AttribWindowMin]] minutes, purchases with no such
    * click land in the NULL bucket — the marketing/recsys attribution
    * report, and the composition of the q33 as-of discipline into an
    * aggregate deliverable.
    *
    * Only clicks that CARRY an item participate (an item-less click
    * cannot receive credit), which keeps the as-of timestamp and the
    * as-of item aligned under IGNORE NULLS on both engines.
    *
    * Scale shape: one user_id shuffle for the as-of window (running
    * IGNORE-NULLS last over an unbounded-preceding frame — no re-scan
    * per row), then a two-phase aggregate keyed by item (item-domain
    * cardinality); value sums ride an exact DECIMAL accumulator.
    */
  def revenueAttribution(spark: SparkSession, dir: String): DataFrame =
    revenueAttributionFrom(Tables.events(spark, dir))

  def revenueAttributionFrom(events: DataFrame): DataFrame = {
    val raw = regexp_extract(col("props"), "\"k\":\\s*(\\d+)", 1)
    val item = when(raw === "", lit(null)).otherwise(raw).cast("int")
    val ev = events
      .select(col("event_id"), col("user_id"), col("ts"), col("event_type"),
        col("value"), item.as("item"))
      .filter(col("event_type") === "purchase" ||
        (col("event_type") === "click" && col("item").isNotNull))
    val w = Window.partitionBy("user_id")
      .orderBy(asc("ts"), asc("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val clickTs = when(col("event_type") === "click", col("ts"))
    val clickItem = when(col("event_type") === "click", col("item"))
    ev
      .withColumn("last_click_ts", last(clickTs, ignoreNulls = true).over(w))
      .withColumn("last_click_item", last(clickItem, ignoreNulls = true).over(w))
      .filter(col("event_type") === "purchase")
      .select(
        when(col("last_click_ts") >=
          col("ts") - expr(s"INTERVAL $AttribWindowMin MINUTES"),
          col("last_click_item")).as("item"),
        col("value"))
      .groupBy("item")
      .agg(count(lit(1)).as("n_purchases"),
        sum(col("value").cast(DecimalType(12, 2))).cast("double").as("revenue"))
      .orderBy(asc_nulls_first("item"))
  }

  /** q95 histogram geometry: 20 equi-width buckets of 25.0 covering the
    * events fixture's `value` range [0, 500); out-of-range values clamp
    * into the edge buckets, so the histogram is total over any input.
    */
  val HistWidth = 25.0
  val HistBins = 20

  /** The one bucket expression q95 and q148 share — the partials-merge
    * compatibility between histograms and quantile rollups holds only
    * while both use literally the same geometry, so it lives in one
    * place (the SQL twins restate it per dialect).
    */
  private def histBucket: Column =
    least(greatest(floor(col("value") / HistWidth).cast("int"), lit(0)),
      lit(HistBins - 1))

  /** q95 — equi-width value histogram per event type: bucket counts and
    * within-type shares, the distribution profile a drift monitor or
    * join-planner consults (and the missing piece next to q92's
    * min/max bounds and q34's point quantiles).
    *
    * Scale shape: bucket assignment is pure row arithmetic (one
    * deterministic IEEE divide + floor — identical in any engine);
    * the aggregate is two-phase keyed by (type, bucket) — cardinality
    * = types × bins, tiny regardless of corpus size; per-type totals
    * broadcast back for the share division. One corpus pass.
    */
  def valueHistogram(spark: SparkSession, dir: String): DataFrame =
    valueHistogramFrom(Tables.events(spark, dir))

  def valueHistogramFrom(events: DataFrame): DataFrame = {
    val totals = events.groupBy("event_type").agg(count(lit(1)).as("n_total"))
    events.select(col("event_type"), histBucket.as("bucket"))
      .groupBy("event_type", "bucket")
      .agg(count(lit(1)).as("n"))
      .join(broadcast(totals), "event_type")
      .select(col("event_type"), col("bucket"),
        (col("bucket") * HistWidth).as("lo"),
        ((col("bucket") + 1) * HistWidth).as("hi"),
        col("n"),
        round(col("n").cast("double") / col("n_total"), 9).as("share"))
      .orderBy("event_type", "bucket")
  }

  /** q138 sketch size (smaller than q39's [[TextAnalysis.KmvK]]: the
    * per-day partial tables it bounds are stored per group).
    */
  val SkK = 128

  /** q138 — MERGEABLE sketch rollup: per-day KMV partials of distinct
    * users per event type, merged across days into the full-range
    * estimate. This is the 100 TB rollup discipline made a first-class
    * operator: a 1000-day warehouse never recounts distinct users from
    * raws — it stores a [[SkK]]-row sketch per (type, day) at ingest
    * and answers any date-range distinct query by merging the range's
    * partials (state = groups × k rows, independent of corpus size).
    * KMV merges EXACTLY: the k smallest of a union equal the k smallest
    * of the per-day k-minima (an element among the global k smallest is
    * among its own day's k smallest), so the merged estimate is
    * bit-identical to a direct sketch of the raws — the spec pins that
    * identity, and the exact per-type distinct count rides alongside as
    * the error gauge (the q121 discipline).
    *
    * Scale shape: the partial build is one distinct + bounded
    * rank-per-group pass (per-partition partial top-k under the group
    * exchange); the merge touches only partial rows — days × k per
    * type, model-scale — and the estimate arithmetic is q39's
    * deterministic (k−1)·2^60/h_k form. The exact count is the one
    * corpus-scale aggregate, present only as the gauge.
    */
  def sketchRollup(spark: SparkSession, dir: String): DataFrame =
    sketchRollupFrom(Tables.events(spark, dir))

  def sketchRollupFrom(events: DataFrame): DataFrame = {
    val h = TextFns.hash60(concat(lit("sk|"), col("user_id").cast("string")))
    val dh = events
      .select(col("event_type"), col("ts").cast("date").as("day"), h.as("h"))
      .distinct()
    val daily = dh.withColumn("rn", row_number().over(
        Window.partitionBy("event_type", "day").orderBy("h")))
      .filter(col("rn") <= SkK)
      .select("event_type", "day", "h")
    val merged = daily.select("event_type", "h").distinct()
      .withColumn("rn", row_number().over(
        Window.partitionBy("event_type").orderBy("h")))
      .filter(col("rn") <= SkK)
    val sk = merged.groupBy("event_type")
      .agg(count(lit(1)).as("n_k"), max("h").as("kth_min"))
    val nd = daily.groupBy("event_type")
      .agg(countDistinct("day").as("n_days"))
    val exact = events.groupBy("event_type")
      .agg(countDistinct("user_id").as("n_exact"))
    sk.join(nd, Seq("event_type")).join(exact, Seq("event_type"))
      .select(col("event_type"), col("n_days"), col("n_exact"),
        col("n_k"), col("kth_min"),
        TextFns.kmvEstimate(col("n_k"), col("kth_min"), SkK)
          .as("est_distinct"))
      .orderBy("event_type")
  }

  /** q156 theta upper bound: [[TextFns.hash60]] values live in
    * [0, 2^60), so an UNSATURATED sketch retains its whole set and its
    * theta is the full range (the estimate degenerates to the exact
    * count — the same below-saturation exactness [[TextFns.kmvEstimate]]
    * encodes for single-set distincts).
    */
  val ThetaMax = 1152921504606846976L // 2^60

  /** q156 — audience-overlap matrix via THETA-SKETCH intersection: the
    * set-OPERATION layer over the q138 sketch family. A KMV sketch
    * answers "how many distinct users did X" — this operator answers
    * "how many users did BOTH A and B" (and their union, and Jaccard)
    * from the SAME stored per-type sketches, never rescanning raws:
    * the sketch salt and k are q138's, so the per-type sketch here IS
    * q138's merged rollup artifact read back. Theta semantics: a
    * saturated sketch's theta is its k-th minimum (the k-th itself is
    * excluded from the retained set — matching the (k−1)·M/h_k
    * estimator), an unsaturated sketch's theta is the full range; a
    * pair intersects under theta = min(theta_a, theta_b), and
    * `est = |retained_a ∩ retained_b under theta| · M / theta` — exact
    * whenever both sketches are unsaturated. The exact intersection and
    * union ride alongside as the error gauge (the q121/q138
    * discipline).
    *
    * Determinism: retained sets are integer hash ranks; n·2^60 is exact
    * in double for any count (power-of-two scaling), so each estimate
    * is one correctly-rounded IEEE division; the Jaccard estimate is
    * one integer-ratio division rounded to 6 dp.
    *
    * Scale shape: ONE corpus distinct builds the sketches (the q138
    * pass); every pairwise stage — theta table, common-hash equi-join,
    * union count — touches only sketch rows (types × k). The exact
    * gauges are the one corpus-scale self-join (user-keyed, one
    * exchange) a production rollup would drop.
    */
  def audienceOverlap(spark: SparkSession, dir: String): DataFrame =
    audienceOverlapFrom(Tables.events(spark, dir))

  def audienceOverlapFrom(events: DataFrame): DataFrame = {
    val h = TextFns.hash60(concat(lit("sk|"), col("user_id").cast("string")))
    val dh = events.select(col("event_type"), h.as("h")).distinct()
    val ranked = dh.withColumn("rn", row_number().over(
        Window.partitionBy("event_type").orderBy("h")))
      .filter(col("rn") <= SkK)
    val th = ranked.groupBy("event_type")
      .agg(count(lit(1)).as("n_k"), max("h").as("kth"))
      .select(col("event_type"),
        when(col("n_k") < SkK, lit(ThetaMax)).otherwise(col("kth"))
          .as("theta"))
    val kept = ranked.join(th, Seq("event_type"))
      .filter(col("h") < col("theta"))
      .select(col("event_type"), col("h"))
    val pairs = th.as("a").join(th.as("b"),
        col("a.event_type") < col("b.event_type"))
      .select(col("a.event_type").as("type_a"),
        col("b.event_type").as("type_b"),
        least(col("a.theta"), col("b.theta")).as("theta"))
    val common = kept.as("x").join(kept.as("y"),
        col("x.h") === col("y.h") &&
          col("x.event_type") < col("y.event_type"))
      .select(col("x.event_type").as("type_a"),
        col("y.event_type").as("type_b"), col("x.h").as("h"))
      .join(pairs, Seq("type_a", "type_b"))
      .filter(col("h") < col("theta"))
      .groupBy("type_a", "type_b").agg(count(lit(1)).as("n_common"))
    val union = pairs
      .select(col("type_a"), col("type_b"), col("theta"),
        explode(array(col("type_a"), col("type_b"))).as("event_type"))
      .join(kept, Seq("event_type"))
      .filter(col("h") < col("theta"))
      .groupBy("type_a", "type_b")
      .agg(countDistinct("h").as("n_union"))
    val ex = events.select(col("event_type"), col("user_id")).distinct()
    val exInter = ex.as("p").join(ex.as("q"),
        col("p.user_id") === col("q.user_id") &&
          col("p.event_type") < col("q.event_type"))
      .select(col("p.event_type").as("type_a"),
        col("q.event_type").as("type_b"))
      .groupBy("type_a", "type_b")
      .agg(count(lit(1)).as("n_exact_inter"))
    val exN = ex.groupBy("event_type").agg(count(lit(1)).as("n"))
    val m = lit(ThetaMax.toDouble)
    pairs
      .join(union, Seq("type_a", "type_b"))
      .join(common, Seq("type_a", "type_b"), "left")
      .join(exInter, Seq("type_a", "type_b"), "left")
      .join(exN.select(col("event_type").as("type_a"), col("n").as("na")),
        Seq("type_a"))
      .join(exN.select(col("event_type").as("type_b"), col("n").as("nb")),
        Seq("type_b"))
      .select(col("type_a"), col("type_b"),
        coalesce(col("n_exact_inter"), lit(0L)).as("n_exact_inter"),
        (col("na") + col("nb") - coalesce(col("n_exact_inter"), lit(0L)))
          .as("n_exact_union"),
        coalesce(col("n_common"), lit(0L)).as("n_common"),
        col("n_union"), col("theta"),
        (coalesce(col("n_common"), lit(0L)).cast("double") * m /
          col("theta").cast("double")).as("est_inter"),
        (col("n_union").cast("double") * m / col("theta").cast("double"))
          .as("est_union"),
        round(coalesce(col("n_common"), lit(0L)).cast("double") /
          col("n_union").cast("double"), 6).as("est_jaccard"))
      .orderBy("type_a", "type_b")
  }

  /** q155 count-min geometry: [[CmSeeds]] independent hash rows ×
    * [[CmW]] buckets (w deliberately small so collisions — and the
    * sketch's one-sided error — actually occur at fixture scale), and
    * the [[HhK]] heaviest users probed against it.
    */
  val CmSeeds = 3
  val CmW = 64
  val HhK = 10

  /** q155 — heavy-hitter FREQUENCY rollup via mergeable count-min
    * partials: the third member of the store-partials-not-raws family
    * (q138 KMV = distinct counts, q148 histograms = quantiles, this =
    * per-item frequencies). Per (day, seed, bucket) the partial is a
    * plain integer event count; partials merge ASSOCIATIVELY (sum), so
    * any date range answers from days × [[CmSeeds]]·[[CmW]] stored
    * rows without rescanning raws. A user's estimate is the MIN over
    * seed rows of their bucket's merged count — never below the truth
    * (one-sided CM guarantee, spec-pinned), with the exact top-k
    * riding alongside as the gauge (the q121/q138 discipline).
    *
    * Scale shape: the partial build fans each event to [[CmSeeds]]
    * rows map-side and aggregates with map-side combine — the shuffle
    * carries day × seed × bucket partials, not events; the merge and
    * probe run on sketch-sized relations (the 192-row merged sketch
    * broadcasts to the probe join); the exact gauge is one user-keyed
    * aggregate whose top-k lowers to TakeOrderedAndProject, never a
    * global sort.
    */
  def heavyHitters(spark: SparkSession, dir: String): DataFrame =
    heavyHittersFrom(Tables.events(spark, dir))

  def heavyHittersFrom(events: DataFrame): DataFrame = {
    def bucket(seed: Column, user: Column): Column =
      TextFns.hash32(concat(lit("cm"), seed.cast("string"), lit("|"),
        user.cast("string"))) % CmW
    val daily = events.select(col("user_id"), col("ts").cast("date").as("day"))
    val part = daily
      .select(col("day"), col("user_id"),
        explode(sequence(lit(0), lit(CmSeeds - 1))).as("seed"))
      .groupBy(col("day"), col("seed"),
        bucket(col("seed"), col("user_id")).as("bucket"))
      .agg(count(lit(1)).as("c"))
    val merged = part.groupBy("seed", "bucket").agg(sum("c").as("c"))
    val top = daily.groupBy("user_id").agg(count(lit(1)).as("n_exact"))
      .orderBy(desc("n_exact"), asc("user_id")).limit(HhK)
    val probe = top
      .select(col("user_id"), col("n_exact"),
        explode(sequence(lit(0), lit(CmSeeds - 1))).as("seed"))
      .select(col("user_id"), col("n_exact"), col("seed"),
        bucket(col("seed"), col("user_id")).as("bucket"))
    probe.join(broadcast(merged), Seq("seed", "bucket"))
      .groupBy("user_id", "n_exact").agg(min("c").as("est_cm"))
      .select(
        row_number().over(Window.orderBy(desc("n_exact"), asc("user_id")))
          .as("rank"),
        col("user_id"), col("n_exact"), col("est_cm"),
        (col("est_cm") - col("n_exact")).as("over_count"))
      .orderBy("rank")
  }

  /** q149 — PEARSON correlation between two per-user metrics (click
    * count vs purchase spend): the metric-correlation audit a pipeline
    * runs before trusting one metric as a proxy for another. The
    * textbook r accumulates float moments; here every moment is an
    * EXACT integer sum — r = (n·Σxy − Σx·Σy) / (√(n·Σx² − (Σx)²) ·
    * √(n·Σy² − (Σy)²)) — with the products in 128-bit space
    * (DECIMAL(38,0) / HUGEINT, the q143 discipline: moment products
    * wrap a 64-bit long at warehouse scale), so the only float ops are
    * two sqrts and one closing division. A zero-variance metric yields
    * NULL r on both engines (NULLIF guard).
    *
    * Scale shape: one user-bounded aggregate builds (x, y) per user;
    * the five moments reduce in a single all-combining aggregate —
    * map-side partials, one row out. One corpus pass.
    */
  def metricCorr(spark: SparkSession, dir: String): DataFrame =
    metricCorrFrom(Tables.events(spark, dir))

  def metricCorrFrom(events: DataFrame): DataFrame = {
    val dec0 = DecimalType(38, 0)
    val per = events.groupBy("user_id").agg(
      sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("x"),
      sum(when(col("event_type") === "purchase",
        round(col("value") * 100).cast("long")).otherwise(0L)).as("y"))
    val s = per.agg(count(lit(1)).as("n"),
      sum(col("x").cast(dec0)).cast(dec0).as("sx"),
      sum(col("y").cast(dec0)).cast(dec0).as("sy"),
      sum(col("x").cast(dec0) * col("y").cast(dec0)).cast(dec0).as("sxy"),
      sum(col("x").cast(dec0) * col("x").cast(dec0)).cast(dec0).as("sxx"),
      sum(col("y").cast(dec0) * col("y").cast(dec0)).cast(dec0).as("syy"))
    val nD = col("n").cast(dec0)
    val num = (nD * col("sxy") - col("sx") * col("sy")).cast("double")
    val dx = (nD * col("sxx") - col("sx") * col("sx")).cast("double")
    val dy = (nD * col("syy") - col("sy") * col("sy")).cast("double")
    s.select(col("n").as("n_users"),
      col("sx").cast("long").as("sum_clicks"),
      col("sy").cast("long").as("sum_purchase_cents"),
      round(num / nullIfZero(sqrt(dx) * sqrt(dy)), 9).as("pearson_r"))
  }

  /** q219 — SPEARMAN rank correlation between the q149 user metrics:
    * Pearson's r measures LINEARITY — one whale account drags it
    * wherever its spend sits — while the rank correlation is the
    * monotonicity audit, invariant to outliers and to any monotone
    * rescaling of either metric (the robustness check a metrics team
    * runs next to q149 before trusting one metric as a proxy).
    *
    * Determinism: ties take the textbook AVERAGE rank, kept exact by
    * DOUBLING — d = rank_min + rank_max = 2·avg_rank is always an
    * integer, and scaling both rank vectors by 2 leaves the
    * correlation untouched — so every moment is an exact integer in
    * q149's DECIMAL(38,0)/HUGEINT discipline and the only float ops
    * are two sqrts and one closing round-9 division.
    *
    * Scale shape: the per-user fold is one combine-heavy aggregate;
    * ranks compute at the VALUE grain and the running counts ride
    * [[Prefix.cumSums]]'s two-phase distributed prefix — for the
    * money metric, distinct values approach USER cardinality, so a
    * global rank window would serialize a users-sized sort through
    * one task. Rank vectors join back to users on the metric value;
    * moments are one all-combining pass.
    */
  def spearmanCorr(spark: SparkSession, dir: String): DataFrame =
    spearmanCorrFrom(Tables.events(spark, dir))

  def spearmanCorrFrom(events: DataFrame): DataFrame = {
    val dec0 = DecimalType(38, 0)
    val per = events.groupBy("user_id").agg(
      sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("x"),
      sum(when(col("event_type") === "purchase",
        round(col("value") * 100).cast("long")).otherwise(0L)).as("y"))
    // doubled mid-ranks at the value grain: d = 2·rank_min + cnt − 1,
    // the running count via the distributed two-phase prefix (the
    // metric IS the key) — the money grain's value cardinality
    // approaches user cardinality at warehouse scale, so a global
    // window here would serialize a users-sized sort through one task
    def doubled(c: String, out: String): DataFrame =
      Prefix.cumSums(per.groupBy(c).agg(count(lit(1)).as("cnt")),
          c, col(c), Seq("cnt"), Seq("cum"))
        .select(col(c),
          (lit(2L) * (col("cum") - col("cnt") + lit(1L)) +
            col("cnt") - lit(1L)).as(out))
    val j = per
      .join(doubled("x", "dx"), Seq("x"))
      .join(doubled("y", "dy"), Seq("y"))
    val s = j.agg(count(lit(1)).as("n"),
      sum(col("dx").cast(dec0)).cast(dec0).as("sx"),
      sum(col("dy").cast(dec0)).cast(dec0).as("sy"),
      sum(col("dx").cast(dec0) * col("dy").cast(dec0)).cast(dec0).as("sxy"),
      sum(col("dx").cast(dec0) * col("dx").cast(dec0)).cast(dec0).as("sxx"),
      sum(col("dy").cast(dec0) * col("dy").cast(dec0)).cast(dec0).as("syy"))
    val nD = col("n").cast(dec0)
    val num = (nD * col("sxy") - col("sx") * col("sy")).cast("double")
    val dx = (nD * col("sxx") - col("sx") * col("sx")).cast("double")
    val dy = (nD * col("syy") - col("sy") * col("sy")).cast("double")
    s.select(col("n").as("n_users"),
      round(num / nullIfZero(sqrt(dx) * sqrt(dy)), 9).as("spearman_rho"))
  }

  /** q225 — EXACT per-group quantiles at corpus scale: the p50/p90/p99
    * a data-quality SLA pins, computed without ever sorting raw rows.
    * q34's built-in `percentile` is exact but materializes every
    * group's values in one aggregation buffer — a per-group collect
    * that dies on a 100 TB group. This is the scale path: reduce to
    * the (group, value) histogram, run [[Prefix.cumSumsBy]]'s
    * two-phase distributed prefix per group, and each quantile is the
    * SMALLEST value whose running count clears the cross-multiplied
    * integer test `cum·den ≥ num·n` — the DISCRETE quantile
    * (quantile_disc), chosen over interpolation because it never
    * leaves integer arithmetic, so the gate is exact by construction.
    *
    * Scale shape: one combine-heavy histogram aggregate, one
    * metadata-scale bucket collect, bucket-parallel windows, one
    * closing per-group aggregate. No sort, no per-group buffer.
    */
  def exactQuantiles(spark: SparkSession, dir: String): DataFrame =
    exactQuantilesFrom(Tables.events(spark, dir))

  def exactQuantilesFrom(events: DataFrame): DataFrame = {
    val byV = events.groupBy("event_type", "value")
      .agg(count(lit(1)).as("c"))
    val tot = byV.groupBy("event_type").agg(sum("c").as("n_events"))
    Prefix.cumSumsBy(byV, Seq("event_type"), "value",
        round(col("value") * 100), Seq("c"), Seq("cum"))
      .join(broadcast(tot), Seq("event_type"))
      .groupBy("event_type")
      .agg(max("n_events").as("n_events"),
        min(when(col("cum") * 2 >= col("n_events"), col("value"))).as("p50"),
        min(when(col("cum") * 10 >= col("n_events") * 9, col("value")))
          .as("p90"),
        min(when(col("cum") * 100 >= col("n_events") * 99, col("value")))
          .as("p99"))
      .orderBy("event_type")
  }

  /** q252 churn horizon in HOURS: a user whose last activity is more
    * than this far before the corpus end is a churn EVENT; later
    * activity right-censors instead (we can't observe a churn that
    * hasn't happened by end-of-data). Hours, not days: the fixture's
    * users average an event every ~2 h, so a day-scale horizon never
    * fires and the gate would be vacuous (the q191 lesson) — at this
    * horizon both the churned and censored paths carry real mass at
    * every sf.
    */
  val KmChurnHours = 2L

  /** q252 — KAPLAN-MEIER user-retention curve with right-censoring
    * (Kaplan & Meier 1958 — the survival-analysis member of the
    * statistics family next to q94's cohort grid): per lifetime-HOUR t,
    * the at-risk count, churn events, censorings, hazard dₜ/nₜ (the raw
    * double quotient — one division, identical on both engines, no
    * rounding to straddle) and the product-limit survival estimate S(t) = Π(1 − dₛ/nₛ). The
    * censoring distinction is the whole point — q94's raw retention
    * undercounts survival because users who simply haven't been
    * observed long enough get read as churned; KM charges each user
    * only for the time they were actually watchable.
    *
    * Determinism: lifetimes are integer epoch-hour spans; dₜ/cₜ/nₜ are
    * exact integers (nₜ = an inclusive DESCENDING cumulative sum);
    * hazard is one double division; the survival chain is a stepwise
    * fold in 10^12 fixed point — S ← ⌊(S·(n−d) + n/2)/n⌋, one exact
    * integer multiply-divide per step, mirrored by the oracle's
    * recursive CTE row-for-row (a cumulative product has no window
    * form; exp∘Σ∘ln would put two libm calls across the gate, and a
    * 12-dp double chain diverged at a shortest-repr half boundary —
    * found under the gate at sf0.01).
    *
    * Scale shape: ONE user-grain aggregate (min/max day per user —
    * combine-heavy, the only corpus shuffle), then everything lives on
    * the lifetime-day grain — bounded by the observation window, the
    * documented bounded-domain window class — and the survival fold
    * runs driver-side over those ≤span rows (the q61 model-scale
    * contract).
    */
  def kmRetention(spark: SparkSession, dir: String): DataFrame =
    kmRetentionFrom(Tables.events(spark, dir))

  def kmRetentionFrom(events: DataFrame): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val hour = expr("unix_micros(ts) div 3600000000")
    val users = events.select(col("user_id"), hour.as("h"))
      .groupBy("user_id").agg(min("h").as("f"), max("h").as("l"))
    val m = users.agg(max("l").as("m"))
    val lifetimes = users.crossJoin(broadcast(m))
      .select(
        when(col("l") <= col("m") - KmChurnHours, col("l") - col("f"))
          .otherwise(col("m") - col("f")).as("t"),
        when(col("l") <= col("m") - KmChurnHours, 1L).otherwise(0L).as("ev"))
    val grain = lifetimes.groupBy("t")
      .agg(sum("ev").as("n_churned"),
        sum(lit(1L) - col("ev")).as("n_censored"))
    val wDesc = Window.orderBy(desc("t"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val withRisk = grain
      .withColumn("n_at_risk",
        sum(col("n_churned") + col("n_censored")).over(wDesc))
      .select("t", "n_at_risk", "n_churned", "n_censored")
      .collect().sortBy(_.getAs[Long]("t"))
    // the product-limit chain in scaled INTEGERS (10^12 fixed point):
    // S ← ⌊(S·(n−d) + n/2) / n⌋ — one exact integer multiply-divide
    // per step, bit-identical on both engines (a double chain rounded
    // to 12 dp diverged at a shortest-repr-vs-binary half boundary)
    var s = BigInt("1000000000000")
    val out = withRisk.map { r =>
      val t = r.getAs[Long]("t")
      val n = r.getAs[Long]("n_at_risk")
      val d = r.getAs[Long]("n_churned")
      val h = d.toDouble / n
      s = (s * BigInt(n - d) + BigInt(n / 2)) / BigInt(n)
      (t, n, d, r.getAs[Long]("n_censored"), h,
        s.toDouble / 1000000000000.0)
    }.toSeq
    out.toDF("t", "n_at_risk", "n_churned", "n_censored", "hazard",
        "survival")
      .orderBy("t")
  }

  /** q248 — SPLIT-CONFORMAL coverage audit (Vovk's inductive conformal
    * prediction, the Lei et al. split formulation — the
    * distribution-free uncertainty wrapper production ML ships because
    * it needs no model internals): a hash-split calibration half fits
    * a per-type predictor (the exact rational calibration mean) and
    * the (1−α) conformal quantile q̂ of the nonconformity scores; the
    * disjoint test half then audits empirical coverage — the
    * finite-sample guarantee says P(score ≤ q̂) ≥ 1−α, and this query
    * is the audit that certifies it on THIS corpus.
    *
    * Determinism: scores are the n_cal-SCALED integers
    * |cents·n_cal − Σcents| (the shared scaling cancels in every
    * comparison, so coverage matches the textbook |value − mean|
    * formulation while staying all-integer — no float-at-threshold
    * hazard); q̂ is the ⌈(1−α)(n_cal+1)⌉-th smallest calibration score
    * via the integer test `10·cum ≥ 9·(n_cal+1)`; the split is the
    * q45 no-rand() hash rule, so arms survive re-runs and growth.
    *
    * Scale shape: one corpus pass into the (type, score) value-grain
    * relation; the order statistic rides [[Prefix.cumSumsBy]] (score
    * cardinality ≈ row cardinality for money-derived scores — the
    * q219 lesson, never a single-partition window); the test-side
    * audit is one broadcast-q̂ join + a types-sized aggregate.
    */
  def conformalCoverage(spark: SparkSession, dir: String): DataFrame =
    conformalFrom(Tables.events(spark, dir))

  def conformalFrom(events: DataFrame): DataFrame = {
    // ONE corpus pass: the (type, cents, arm) value histogram carries
    // everything downstream — calibration moments, the score grain
    // (score is a function of the distinct cent value, so it lives on
    // the histogram, not the rows), and the covered-count census (each
    // distinct value contributes its count `c`, an exact integer
    // regroup of the original per-row count). The r12-opt rewrite of
    // the original 3-corpus-scan form (guide §2.3: aggregate before
    // you shuffle; everything after the histogram is value-scale).
    val h = events.select(col("event_type"),
        round(col("value") * 100).cast("long").as("cents"),
        (TextFns.hash32(concat(lit("conf|"), col("event_id").cast("string")))
          % 2).cast("int").as("arm"))
      .groupBy("event_type", "cents", "arm").agg(count(lit(1)).as("c"))
      .localCheckpoint()
    val pred = h.filter(col("arm") === 0).groupBy("event_type")
      .agg(sum(col("cents") * col("c")).as("s_cal"), sum("c").as("n_cal"))
    val scored = h.join(broadcast(pred), Seq("event_type"))
      .withColumn("score", abs(col("cents") * col("n_cal") - col("s_cal")))
    val byS = scored.filter(col("arm") === 0)
      .groupBy("event_type", "score").agg(sum("c").as("c"))
    val qhat = Prefix.cumSumsBy(byS, Seq("event_type"), "score",
        col("score"), Seq("c"), Seq("cum"))
      .join(broadcast(pred.select("event_type", "n_cal")), Seq("event_type"))
      .groupBy("event_type")
      .agg(min(when(col("cum") * 10 >= (col("n_cal") + 1) * 9, col("score")))
        .as("qhat"))
    scored.filter(col("arm") === 1)
      .join(broadcast(qhat), Seq("event_type"))
      .groupBy("event_type")
      .agg(sum("c").as("n_test"),
        sum(when(col("qhat").isNull || col("score") <= col("qhat"),
          col("c")).otherwise(0L)).as("n_cov"),
        first(col("qhat")).as("qh"))
      .join(broadcast(pred.select("event_type", "n_cal")), Seq("event_type"))
      .select(col("event_type"), col("n_cal"), col("n_test"),
        (col("qh").cast("double") / col("n_cal") / 100.0).as("qhat_w"),
        round(col("n_cov").cast("double") / col("n_test"), 6).as("coverage"))
      .orderBy("event_type")
  }

  /** q226 reference/current split point and the textbook alert level
    * (PSI > 0.2 = "significant population shift").
    */
  val PsiCutTs = "2024-01-16 00:00:00"
  val PsiAlert = 0.2

  /** q226 — POPULATION STABILITY INDEX: the drift gauge every model
    * and data-quality monitor runs between a reference window and the
    * current one — `PSI = Σ_bins (p_ref − p_cur)·ln(p_ref/p_cur)` over
    * decile bins OF THE REFERENCE half, the industry-standard
    * complement to q133's KS (KS is the worst single CDF gap; PSI
    * weights the whole reallocation of mass). Deciles come from the
    * reference half through the same [[Prefix.cumSumsBy]] integer
    * machinery as q225; bins are densified (types × 10, add-one
    * smoothed) so empty current-side bins contribute their full
    * penalty instead of vanishing.
    *
    * Determinism: bin populations are exact integers; shares are one
    * double division each; each bin's term rounds to 9 dp and the
    * 10-term sum rides the DECIMAL(38,12) accumulator (order-free);
    * the closing PSI rounds to 6 dp. The only libm call is `ln` on
    * bit-identical inputs.
    *
    * Scale shape: two histogram aggregates (reference deciles, then
    * (type, bin) populations via a broadcast 9-cut join), everything
    * after lives on the types×10 relation.
    */
  def psiDrift(spark: SparkSession, dir: String): DataFrame =
    psiDriftFrom(Tables.events(spark, dir))

  def psiDriftFrom(events: DataFrame): DataFrame = {
    val spark = events.sparkSession
    val cut = to_timestamp(lit(PsiCutTs))
    // ONE corpus pass: the (type, cents, is_ref) value histogram
    // carries both the reference-decile derivation and the binned
    // populations (bin is a function of the distinct cent value, so
    // binning is a regroup of the histogram — the r12-opt rewrite of
    // the original 2-corpus-scan form, guide §2.3).
    val hist = events.select(col("event_type"),
        round(col("value") * 100).cast("long").as("cents"),
        (col("ts") < cut).as("is_ref"))
      .groupBy("event_type", "cents", "is_ref").agg(count(lit(1)).as("c"))
      .localCheckpoint()
    val byV = hist.filter(col("is_ref"))
      .groupBy("event_type", "cents").agg(sum("c").as("c"))
    val tot = byV.groupBy("event_type").agg(sum("c").as("n"))
    val cuts = Prefix.cumSumsBy(byV, Seq("event_type"), "cents",
        col("cents"), Seq("c"), Seq("cum"))
      .join(broadcast(tot), Seq("event_type"))
      .groupBy("event_type")
      .agg(min(when(col("cum") * 10 >= col("n") * 1, col("cents"))).as("d1"),
        (2 to 9).map(k =>
          min(when(col("cum") * 10 >= col("n") * k, col("cents")))
            .as(s"d$k")): _*)
    val binned = hist.join(broadcast(cuts), Seq("event_type"))
      .withColumn("bin", (1 to 9).map(k =>
        when(col("cents") > col(s"d$k"), 1).otherwise(0))
        .reduce(_ + _))
      .groupBy("event_type", "bin")
      .agg(sum(when(col("is_ref"), col("c")).otherwise(0L)).as("ca"),
        sum(when(!col("is_ref"), col("c")).otherwise(0L)).as("cb"))
    // densify to types × 10 so an empty current-side bin still pays
    val grid = cuts.select("event_type")
      .crossJoin(spark.range(10).select(col("id").cast("int").as("bin")))
    val dense = grid.join(binned, Seq("event_type", "bin"), "left")
      .select(col("event_type"), col("bin"),
        coalesce(col("ca"), lit(0L)).as("ca"),
        coalesce(col("cb"), lit(0L)).as("cb"))
    val halves = dense.groupBy("event_type")
      .agg(sum("ca").as("na"), sum("cb").as("nb"))
    val pa = (col("ca") + 1).cast("double") / (col("na") + 10)
    val pb = (col("cb") + 1).cast("double") / (col("nb") + 10)
    dense.join(broadcast(halves), Seq("event_type"))
      .select(col("event_type"), col("na"), col("nb"),
        round((pa - pb) * log(pa / pb), 9).as("term"))
      .groupBy("event_type")
      .agg(max("na").as("n_ref"), max("nb").as("n_cur"),
        round(sum(col("term").cast(DecimalType(38, 12))).cast("double"), 6)
          .as("psi"))
      .withColumn("drift_alert", col("psi") > PsiAlert)
      .orderBy("event_type")
  }

  /** q227 robust-z cut, integer form: |dev|·10⁴ > 44478·MAD encodes
    * |dev| > 3·1.4826·MAD (the MAD-to-σ consistency constant for
    * normal data, 3σ rule) without a float comparison.
    */
  val RobustCut10k = 44478L

  /** q227 — MEDIAN/MAD robust outlier audit: the outlier gauge q73's
    * mean/stddev z-score cannot give on heavy-tailed money columns
    * (one whale inflates σ until nothing is an outlier — the masking
    * effect; the median and the median-absolute-deviation have 50%
    * breakdown). Median and MAD both ride the q225 histogram +
    * distributed-prefix machinery (MAD is a SECOND prefix pass over
    * the |x − median| histogram); the 3σ-equivalent cut stays the
    * exact integer cross-multiplication [[RobustCut10k]].
    *
    * Scale shape: two histogram aggregates + two metadata-scale
    * prefix passes + one broadcast-join scoring pass. No sort, no
    * per-group value buffer, no float until the two closing /100
    * presentations and the rate division.
    */
  def robustOutliers(spark: SparkSession, dir: String): DataFrame =
    robustOutliersFrom(Tables.events(spark, dir))

  def robustOutliersFrom(events: DataFrame): DataFrame = {
    // ONE corpus pass: everything after the (type, cents) value
    // histogram is value-domain-scale. The deviation relation is a
    // REGROUPING of the histogram (dev = |cents − med| with the counts
    // summed), not a second corpus scan, and the outlier census rides
    // the same regrouped histogram — the r12-opt rewrite of the
    // original 3-scan form (guide §2.3/§2.4: aggregate once, derive
    // downstream relations from the aggregate). Checkpointed because
    // three consumers (median prefix pass, MAD regroup, census) would
    // otherwise each re-run the corpus aggregate.
    val byV = events.select(col("event_type"),
        round(col("value") * 100).cast("long").as("cents"))
      .groupBy("event_type", "cents").agg(count(lit(1)).as("c"))
      .localCheckpoint()
    val tot = byV.groupBy("event_type").agg(sum("c").as("n"))
    val med = Prefix.cumSumsBy(byV, Seq("event_type"), "cents",
        col("cents"), Seq("c"), Seq("cum"))
      .join(broadcast(tot), Seq("event_type"))
      .groupBy("event_type")
      .agg(max("n").as("n"),
        min(when(col("cum") * 2 >= col("n"), col("cents"))).as("med_cents"))
    val byD = byV.join(broadcast(med), Seq("event_type"))
      .select(col("event_type"), col("n"), col("med_cents"),
        abs(col("cents") - col("med_cents")).as("dev"), col("c"))
      .groupBy("event_type", "dev").agg(sum("c").as("c"))
    val mad = Prefix.cumSumsBy(byD, Seq("event_type"), "dev",
        col("dev"), Seq("c"), Seq("cum"))
      .join(broadcast(med.select("event_type", "n")), Seq("event_type"))
      .groupBy("event_type")
      .agg(min(when(col("cum") * 2 >= col("n"), col("dev"))).as("mad_cents"))
    byV.join(broadcast(med), Seq("event_type"))
      .join(broadcast(mad), Seq("event_type"))
      .select(col("event_type"), col("med_cents"), col("mad_cents"),
        abs(col("cents") - col("med_cents")).as("dev"), col("c"))
      .groupBy("event_type")
      .agg(sum("c").as("n_events"),
        max("med_cents").as("med_cents"),
        max("mad_cents").as("mad_cents"),
        sum(when(col("dev") * 10000 > col("mad_cents") * RobustCut10k,
          col("c")).otherwise(0L)).as("n_outliers"))
      .select(col("event_type"), col("n_events"),
        (col("med_cents").cast("double") / 100.0).as("median_value"),
        (col("mad_cents").cast("double") / 100.0).as("mad_value"),
        col("n_outliers"),
        (col("n_outliers").cast("double") / nullIfZero(col("n_events")))
          .as("outlier_rate"))
      .orderBy("event_type")
  }

  /** q150 — Benford first-digit expectations log10(1 + 1/k), k = 1..9,
    * as shortest-round-trip double literals (identical parse on both
    * engines), and the total-variation flag threshold.
    */
  val BenfordP: Seq[Double] = (1 to 9).map(k => math.log10(1.0 + 1.0 / k))
  val BenfordTvMax = 0.1

  /** q150 — BENFORD first-digit audit: the forensic data-quality check
    * (fabricated, capped, or unit-mangled monetary columns drift from
    * Benford's law). Per event type: the dense digit-1..9 histogram of
    * first digits of the cent value, each digit's share next to the
    * Benford expectation, and the total-variation distance (half the
    * L1 — the textbook definition, so [[BenfordTvMax]] reads as a true
    * TV bound) with a conformance flag. The fixture's monetary values
    * span decades and genuinely conform (TV 0.03–0.09 at every sf), so
    * the PASS path runs under the gate; the spec's all-digit-1 hand
    * corpus pins the failing path.
    *
    * Determinism: digit extraction is string-of-integer (engine-
    * agnostic); shares are one division each; the TV sum rides the
    * DECIMAL accumulator — a 9-term double sum across a shuffle would
    * be order-dependent. The digit grid is DENSIFIED (types ×
    * sequence(1..9)) so absent digits contribute their full |0 − p_k|
    * to the distance instead of silently vanishing.
    *
    * Scale shape: one (type, digit) two-phase aggregate — reduce side
    * types×9; the dense grid join and the distance are model-scale.
    */
  def benfordAudit(spark: SparkSession, dir: String): DataFrame =
    benfordAuditFrom(Tables.events(spark, dir))

  def benfordAuditFrom(events: DataFrame): DataFrame = {
    val cents = round(col("value") * 100).cast("long")
    val d = events.select(col("event_type"), cents.as("cents"))
      .filter(col("cents") >= 1)
      .select(col("event_type"),
        substring(col("cents").cast("string"), 1, 1).cast("int").as("digit"))
      .groupBy("event_type", "digit").agg(count(lit(1)).as("c"))
    val totals = d.groupBy("event_type").agg(sum("c").as("n"))
    val bp = array(BenfordP.map(lit(_)): _*)
    val grid = totals
      .select(col("event_type"), col("n"),
        explode(sequence(lit(1), lit(9))).as("digit"))
      .join(d, Seq("event_type", "digit"), "left")
      .select(col("event_type"), col("digit"), col("n"),
        coalesce(col("c"), lit(0L)).as("n_d"),
        (coalesce(col("c"), lit(0L)).cast("double") / col("n").cast("double"))
          .as("share"),
        element_at(bp, col("digit")).as("benford_p"))
    // TV distance is HALF the L1 distance (the textbook definition —
    // the flag threshold reads as a true TV bound)
    val tv = grid.groupBy("event_type").agg(
      (sum(abs(col("share") - col("benford_p")).cast(DecimalType(38, 12)))
        .cast("double") * lit(0.5)).as("tvr"))
    grid.join(broadcast(tv), Seq("event_type"))
      .select(col("event_type"), col("digit"), col("n_d"),
        round(col("share"), 9).as("share"),
        round(col("benford_p"), 9).as("benford_p"),
        round(col("tvr"), 9).as("tv_distance"),
        (col("tvr") <= BenfordTvMax).as("benford_ok"))
      .orderBy("event_type", "digit")
  }

  /** q148 — QUANTILE rollup from mergeable histogram partials: q138's
    * store-partials-not-raws discipline applied to percentiles. Exact
    * quantiles need the raws (or a full re-sort) per queried range; a
    * warehouse instead stores per-(type, day) equal-width bin counts
    * (q95's geometry — [[HistBins]] integers per group, and integer
    * counts merge associatively, unlike quantile sketches whose merge
    * order changes the answer bit-wise), then answers any date range
    * by summing the range's partials and interpolating inside the
    * target bin. The exact percentile rides alongside as the error
    * gauge (q121 discipline) — on the fixture the 25-unit bins land
    * the estimate within a bin width of the exact p50/p90.
    *
    * Determinism: partial counts are integers; the interpolation
    * `lo + (p·N − cum_before)/c · width` is a fixed sequence of
    * correctly-rounded IEEE ops mirrored token-for-token in the
    * oracle; the target-bin pick compares the same doubles on both
    * engines.
    *
    * Scale shape: the partial build is one two-phase aggregate keyed
    * (type, day, bin); everything after the merge is types × bins
    * rows — model scale. A 1000-day range query touches 1000·bins
    * integers, never the raws.
    */
  def quantileRollup(spark: SparkSession, dir: String): DataFrame =
    quantileRollupFrom(Tables.events(spark, dir))

  def quantileRollupFrom(events: DataFrame): DataFrame = {
    // NULL values would bucket NULL and sort on DIFFERENT ends of the
    // cumulative window on the two engines (Spark NULLS FIRST, DuckDB
    // NULLS LAST), shifting every cum — exclude them on both sides
    val daily = events
      .filter(col("value").isNotNull)
      .select(col("event_type"), col("ts").cast("date").as("day"),
        histBucket.as("bucket"))
      .groupBy("event_type", "day", "bucket").agg(count(lit(1)).as("c"))
    val merged = daily.groupBy("event_type", "bucket").agg(sum("c").as("c"))
    val w = Window.partitionBy("event_type").orderBy("bucket")
    val cm = merged
      .withColumn("cum", sum("c").over(w))
      .withColumn("n", sum("c").over(Window.partitionBy("event_type")))
    def estAt(p: Double, name: String): DataFrame = {
      val t = lit(p) * col("n").cast("double")
      cm.filter(col("cum").cast("double") >= t)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("event_type"),
          round(col("bucket").cast("double") * HistWidth +
            (t - (col("cum") - col("c")).cast("double")) /
              col("c").cast("double") * HistWidth, 9).as(name))
    }
    events.filter(col("value").isNotNull).groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        round(percentile(col("value"), lit(0.5)), 9).as("exact_p50"),
        round(percentile(col("value"), lit(0.9)), 9).as("exact_p90"))
      .join(broadcast(estAt(0.5, "est_p50")), Seq("event_type"))
      .join(broadcast(estAt(0.9, "est_p90")), Seq("event_type"))
      .select(col("event_type"), col("n"), col("est_p50"), col("exact_p50"),
        col("est_p90"), col("exact_p90"))
      .orderBy("event_type")
  }

  /** q147 — the |z| cut for the two-sided 5% significance call, and
    * the per-user purchase-count conversion threshold (≈ the fixture's
    * per-user purchase mean at EVERY sf — the per-user event rate is
    * scale-invariant — so both arms stay non-degenerate; "has any
    * purchase" would be conversion 1.0 for every user here).
    */
  val AbZCrit = 1.96
  val AbConvMin = 14L

  /** q147 — A/B TWO-PROPORTION z-test on deterministic hash cohorts:
    * users split 50/50 by md5 of the stable user id (the q45 split
    * rule applied to EXPERIMENT assignment — a user's arm never moves
    * under re-runs, repartitions, or corpus growth, which is the
    * no-rand() contract an experimentation harness needs), conversion
    * = a user with ≥ [[AbConvMin]] purchases; the pooled two-proportion z
    * statistic and the two-sided 5% significance call. The
    * experimentation member of the statistics family (q132 AUC ranks
    * values, q133 KS compares distributions, this compares RATES).
    * The fixture's hash split carries no real treatment, so the gate
    * exercises the insignificant path — by design, like q112's no-hot-
    * key audit.
    *
    * Determinism: the cohort and conversion counts are exact integers
    * off one distinct-user aggregate; p̂, the pooled rate, and z are a
    * fixed sequence of correctly-rounded IEEE ops (divisions, one
    * sqrt) mirrored token-for-token in the oracle; the significance
    * boolean compares the same doubles on both engines.
    *
    * Scale shape: one (user → cohort, converted) aggregate bounded by
    * user cardinality, then a 2-row rollup — the statistic costs one
    * corpus pass regardless of event volume.
    */
  def conversionZ(spark: SparkSession, dir: String): DataFrame =
    conversionZFrom(Tables.events(spark, dir))

  def conversionZFrom(events: DataFrame): DataFrame = {
    val cohort = TextFns.hash32(concat(lit("ab|"), col("user_id").cast("string"))) % 2
    val users = events
      .select(col("user_id"), cohort.as("cohort"),
        when(col("event_type") === "purchase", 1L).otherwise(0L).as("pur"))
      .groupBy("user_id", "cohort")
      .agg(when(sum("pur") >= AbConvMin, 1L).otherwise(0L).as("conv"))
    val arms = users.groupBy("cohort")
      .agg(count(lit(1)).as("n"), sum("conv").as("x"))
    val a = arms.filter(col("cohort") === 0)
      .select(col("n").as("n_a"), col("x").as("x_a"))
    val b = arms.filter(col("cohort") === 1)
      .select(col("n").as("n_b"), col("x").as("x_b"))
    val pa = col("x_a").cast("double") / col("n_a").cast("double")
    val pb = col("x_b").cast("double") / col("n_b").cast("double")
    val pp = (col("x_a") + col("x_b")).cast("double") /
      (col("n_a") + col("n_b")).cast("double")
    // nullIfZero on the pooled-variance denominator: a degenerate
    // corpus (pp = 0 or 1) would otherwise produce z = 0/0 = NaN,
    // which both engines order ABOVE every number — a no-signal test
    // must report NULL, never significant=true
    val z = (pa - pb) /
      nullIfZero(sqrt(pp * (lit(1.0) - pp) *
        (lit(1.0) / col("n_a").cast("double") + lit(1.0) / col("n_b").cast("double"))))
    a.crossJoin(b)
      .select(col("n_a"), col("x_a"), col("n_b"), col("x_b"),
        round(pa, 9).as("p_a"), round(pb, 9).as("p_b"),
        round(z, 9).as("z"),
        (abs(z) > AbZCrit).as("significant"))
  }

  /** q145 bootstrap replicates, and the Poisson(1) CDF as EXACT
    * integer thresholds in 2^60 hash space: a row's multiplicity in
    * replicate b is the number of thresholds its 60-bit hash clears —
    * the draw is an integer comparison, so no float literal ever
    * enters the resampling path (the cross-engine risk a
    * `u < 0.3678…` comparison would carry). Truncation at m = 9 drops
    * ~1.1e-6 of Poisson mass (statistically irrelevant, and both
    * engines truncate identically).
    */
  val BootB = 32
  val BootPoisThresh: Seq[Long] = Seq(
    424136118829305329L, 848272237658610659L, 1060340297073263324L,
    1131029650211480879L, 1148701988496035267L, 1152236456152946145L,
    1152825534095764625L, 1152909688087595836L, 1152920207336574738L)

  /** q145 — POISSON-BOOTSTRAP confidence intervals for the per-type
    * mean event value: every pipeline metric the engine reports is a
    * point estimate; this is the uncertainty quantification around
    * one. The classic bootstrap resamples n rows WITH replacement B
    * times — a shuffle per replicate, unusable at 100 TB. The Poisson
    * bootstrap (the MapReduce-era large-scale formulation) replaces
    * the multinomial with independent per-row Poisson(1)
    * multiplicities, so ALL B replicates ride ONE corpus pass: each
    * row fans out to B (replicate, multiplicity) contributions
    * map-side, the aggregate is keyed (type, replicate) with a
    * types×B reduce side, and the interval is a percentile over B
    * replicate means.
    *
    * Determinism: the multiplicity draw is a hash-threshold count in
    * integer space (never `rand()` — q45's rule — and never a float
    * CDF compare); replicate sums are integer cents with ONE closing
    * division per replicate; the 2.5%/97.5% cut is the
    * percentile ≡ quantile_cont identity (q34). Values are reported
    * in cents (the corpus's exact unit).
    */
  def bootstrapCi(spark: SparkSession, dir: String): DataFrame =
    bootstrapCiFrom(Tables.events(spark, dir))

  def bootstrapCiFrom(events: DataFrame): DataFrame = {
    val base = events.select(col("event_type"), col("event_id"),
      round(col("value") * 100).cast("long").as("cents"))
    val h = TextFns.hash60(concat(lit("bs|"), col("b").cast("string"),
      lit("|"), col("event_id").cast("string")))
    // the multiplicity is a 9-indicator sum over a MATERIALIZED hash
    // column, not an array-filter lambda: a single-reference lambda
    // body gets project-collapsed back into the filter and re-computes
    // the md5 once PER THRESHOLD (9× the query's dominant work), while
    // nine references to a non-cheap column block the collapse — the
    // hash is evaluated once per (row, replicate), like the oracle's
    // rep CTE
    val m = BootPoisThresh
      .map(t => when(col("h") >= t, 1L).otherwise(0L))
      .reduce(_ + _)
    val reps = base
      .select(col("event_type"), col("event_id"), col("cents"),
        explode(sequence(lit(0), lit(BootB - 1))).as("b"))
      .select(col("event_type"), col("b"), col("cents"), h.as("h"))
      .select(col("event_type"), col("b"), col("cents"), m.as("m"))
      .groupBy("event_type", "b")
      .agg(sum(col("m") * col("cents")).as("s"), sum("m").as("c"))
      .select(col("event_type"),
        (col("s").cast("double") / nullIfZero(col("c")).cast("double"))
          .as("mean_b"))
    val ci = reps.groupBy("event_type").agg(
      round(percentile(col("mean_b"), lit(0.025)), 9).as("ci_lo_cents"),
      round(percentile(col("mean_b"), lit(0.975)), 9).as("ci_hi_cents"))
    base.groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("cents").as("sc"))
      .select(col("event_type"), col("n"),
        round(col("sc").cast("double") / col("n").cast("double"), 9)
          .as("mean_cents"))
      .join(broadcast(ci), Seq("event_type"))
      .orderBy("event_type")
  }

  /** PageRank constants for q103: standard damping, fixed unrolled
    * iteration count (enough to differentiate hubs on the fixture
    * graph while keeping the oracle a plain non-recursive SQL text).
    */
  val PrDamp = 0.85
  val PrIters = 3
  val PrTopK = 20

  /** q103 — weighted PageRank over the item co-occurrence graph: the
    * iterative graph-centrality operator class beyond q54's connected
    * components (influence/hub scoring over the same "related items"
    * graph q66 surfaces; the operator shape of label propagation and
    * embedding-graph smoothing). Transition weight = co-occurrence
    * count over the node's total incident weight; [[PrIters]] damped
    * iterations from the uniform vector; top-[[PrTopK]] by final rank.
    *
    * Scale shape: the transition relation is built ONCE (edge relation
    * keyed by source, co-partitioned with the rank vector across every
    * iteration — the classic Pregel data layout); each iteration is one
    * join + one two-phase aggregate whose reduce side is
    * item-cardinality. Contribution sums ride the exact DECIMAL(38,12)
    * accumulator ([[graft.functions.Det]]): float sums over an
    * arbitrary-order shuffle would differ run-to-run and engine-to-
    * engine, and PageRank COMPOUNDS such drift across iterations — the
    * decimal accumulator is what lets an iterative float algorithm sit
    * under a bit-exact hash gate at all.
    */
  def itemPagerank(spark: SparkSession, dir: String): DataFrame =
    itemPagerankFrom(Tables.events(spark, dir))

  def itemPagerankFrom(events: DataFrame): DataFrame = {
    // one corpus extraction serves the pair build (2 refs), the node
    // set, and the teleport count — the q140 discipline: checkpoint the
    // capped basket relation instead of recomputing its distinct +
    // count + window chain per consumer
    val ui = itemBaskets(events).localCheckpoint()
    val pairs = itemPairsOf(ui)
    // checkpointed: degree build, transition build and the closing
    // degree join all consume the edge relation — without it the
    // basket self-join replays up to six times per run (r12-opt)
    val edges = pairs.unionByName(
        pairs.select(col("v").as("u"), col("u").as("v"), col("w")))
      .localCheckpoint()
    val deg = edges.groupBy("u")
      .agg(sum("w").as("wu"), count(lit(1)).as("n_neighbors"))
    val items = ui.select(col("item")).distinct()
    val nItems = items.count() // one scalar job — item-domain cardinality
    val base = (1.0 - PrDamp) / nItems
    // materialize the transition relation ONCE (localCheckpoint = the
    // in-session CTAS): every iteration reads the stored edges instead
    // of stacking the user-pair self-join subtree PrIters deep in the
    // final plan — the same iterate-on-stored-state shape as the CC
    // rounds and the q135 fold
    val trans = edges.join(deg, "u")
      .select(col("u"), col("v"),
        (col("w").cast("double") / col("wu").cast("double")).as("frac"))
      .localCheckpoint()
    var p = items.select(col("item"), (lit(1.0) / lit(nItems)).as("p"))
    for (_ <- 0 until PrIters) {
      val contrib = trans.join(p, trans("u") === p("item"))
        .select(col("v"), (col("p") * col("frac")).as("c"))
        .groupBy("v")
        .agg(sum(col("c").cast(DecimalType(38, 12))).cast("double").as("cs"))
      p = items.join(contrib, items("item") === contrib("v"), "left")
        .select(col("item"),
          (lit(base) + lit(PrDamp) * coalesce(col("cs"), lit(0.0))).as("p"))
    }
    p.join(deg, p("item") === deg("u"), "left")
      .select(col("item"), coalesce(col("n_neighbors"), lit(0L)).as("n_neighbors"),
        round(col("p"), 9).as("pagerank"))
      .orderBy(desc("pagerank"), asc("item"))
      .limit(PrTopK)
  }

  /** q140 — synchronous rounds, and the edge-weight quantile above
    * which a co-occurrence pair becomes a graph edge. The cut is a
    * QUANTILE, not a fixed support floor, because the fixture's
    * co-occurrence graph is complete at any absolute floor that
    * survives a 100× scale-up (every pair's count grows with the data;
    * a constant threshold silently flips the graph from complete to
    * empty across scales). Keeping the top decile BY DISTRIBUTION
    * sparsifies identically at every sf — the scale-adaptive
    * sparsification a production similarity graph needs anyway.
    */
  val LpRounds = 3
  val LpEdgeQuantile = 0.9

  /** Shared q140/q142 graph: canonical (u<v) co-occurrence pairs with
    * weight above the [[LpEdgeQuantile]] cut of the weight
    * distribution. One quantile over the pair relation (pair-bounded,
    * not corpus-bounded), broadcast back as a scalar filter.
    */
  private[graft] def cooccurEdges(events: DataFrame): DataFrame =
    // checkpointed: cooccurEdgesOf references the pair relation twice
    // (quantile + filter), each side expanding the basket subtree twice
    cooccurEdgesOf(itemBaskets(events).localCheckpoint())

  private def cooccurEdgesOf(ui: DataFrame): DataFrame = {
    // checkpointed: the quantile probe and the filter both consume the
    // pair relation — without it the basket self-join runs twice
    // (r12-opt; the pair relation is the Σ basket²-bounded working set)
    val pw = itemPairsOf(ui).localCheckpoint()
    val thr = pw.agg(percentile(col("w"), lit(LpEdgeQuantile)).as("t"))
    pw.crossJoin(broadcast(thr)).filter(col("w") > col("t"))
      .select("u", "v", "w")
  }

  /** q140 — COMMUNITY detection by weighted label propagation over the
    * item co-occurrence graph: each node starts as its own label; each
    * synchronous round every node adopts the label carrying the most
    * incident edge weight among its neighbors (tie → smallest label);
    * after [[LpRounds]] rounds each item reports its community and the
    * community's size. The clustering operator class between q54's
    * exact connected components (pure reachability) and q103's PageRank
    * (global centrality): LPA finds densely-linked groups inside one
    * component — the "related item family" / topic-cluster signal.
    *
    * Determinism: classic LPA is order-dependent (async updates, random
    * tie-breaks); this is the deterministic formulation — synchronous
    * rounds, exact integer weight sums, total-order tie-break
    * (score DESC, label ASC) — so a fixed round count is hash-gatable
    * on any engine.
    *
    * Scale shape: the edge relation is built once and checkpointed (the
    * q103 iterate-on-stored-state discipline); each round is one
    * edge⋈label join co-partitioned on the node key plus one two-phase
    * aggregate whose reduce side is (node, label) — bounded by edge
    * count, never corpus²; rounds are O(1) by construction. The
    * per-node argmax is a bounded rank-per-group, and isolated nodes
    * keep their label via the left join (no driver round-trips).
    */
  def labelCommunities(spark: SparkSession, dir: String): DataFrame =
    labelCommunitiesFrom(Tables.events(spark, dir))

  def labelCommunitiesFrom(events: DataFrame): DataFrame = {
    // one corpus extraction serves both the edge build and the node
    // set (the basket relation is the working set; re-deriving it for
    // `items` would be a second full scan+distinct)
    val ui = itemBaskets(events).localCheckpoint()
    val pairs = cooccurEdgesOf(ui)
    val edges = pairs.unionByName(
        pairs.select(col("v").as("u"), col("u").as("v"), col("w")))
      .localCheckpoint()
    val items = ui.select(col("item")).distinct()
    var labels = items.select(col("item"), col("item").cast("int").as("label"))
    for (_ <- 1 to LpRounds) {
      val scored = edges.join(labels, edges("v") === labels("item"))
        .select(col("u"), col("label"), col("w"))
        .groupBy("u", "label").agg(sum("w").as("s"))
      val pick = scored.withColumn("rn", row_number().over(
          Window.partitionBy("u").orderBy(desc("s"), asc("label"))))
        .filter(col("rn") === 1)
        .select(col("u").as("item"), col("label").as("newl"))
      labels = labels.join(pick, Seq("item"), "left")
        .select(col("item"), coalesce(col("newl"), col("label")).as("label"))
    }
    // checkpointed: the size census and the closing join both read the
    // final label relation — without it the whole 3-round join/window
    // chain replays twice (r12-opt)
    labels = labels.localCheckpoint()
    val sizes = labels.groupBy("label").agg(count(lit(1)).as("community_size"))
    labels.join(dimBroadcast(sizes), Seq("label"))
      .select(col("item"), col("label").as("community"), col("community_size"))
      .orderBy("community", "item")
  }

  /** q106 thresholds: pairs below [[RuleMinPairs]] users are noise cut
    * before the dimension joins; [[RuleTopK]] rules by lift survive.
    */
  val RuleMinPairs = 20
  val RuleTopK = 50

  /** q106 — association rules over the item co-occurrence graph
    * (market-basket a-priori at the pair level): for each directed rule
    * A→B with at least [[RuleMinPairs]] co-occurring users, its
    * support = P(A,B), confidence = P(B|A) and lift =
    * P(B|A) / P(B); top-[[RuleTopK]] by lift. The recommendation /
    * query-expansion operator class on top of q66's co-occurrence
    * counts.
    *
    * Scale shape: the pair relation is q66's (bounded by Σ per-user
    * basket², the a-priori candidate step — never |items|²); the
    * antecedent/consequent count dimension is item-vocabulary-sized and
    * broadcast twice, so rule scoring is map-side; the basket count is
    * one scalar job. Confidence/lift are single IEEE divisions over
    * exact integer counts — deterministic without a decimal
    * accumulator.
    */
  def assocRules(spark: SparkSession, dir: String): DataFrame =
    assocRulesFrom(Tables.events(spark, dir))

  def assocRulesFrom(events: DataFrame): DataFrame = {
    val ui = itemBaskets(events).localCheckpoint()
    val nUsers = ui.select("user_id").distinct().count() // one scalar job
    val icnt = ui.groupBy("item").agg(count(lit(1)).as("cnt"))
    val pairs = itemPairsOf(ui)
    val rules = pairs.unionByName(
      pairs.select(col("v").as("u"), col("u").as("v"), col("w")))
    val conf = col("w").cast("double") / col("ca")
    rules.filter(col("w") >= RuleMinPairs)
      .join(dimBroadcast(icnt.select(col("item").as("u"), col("cnt").as("ca"))), "u")
      .join(dimBroadcast(icnt.select(col("item").as("v"), col("cnt").as("cb"))), "v")
      .select(col("u").as("item_a"), col("v").as("item_b"),
        col("w").as("n_both"), col("ca").as("n_a"),
        round(col("w").cast("double") / lit(nUsers), 9).as("support"),
        round(conf, 9).as("confidence"),
        round(conf / (col("cb").cast("double") / lit(nUsers)), 9).as("lift"))
      .orderBy(desc("lift"), desc("confidence"), asc("item_a"), asc("item_b"))
      .limit(RuleTopK)
  }

  /** q110 edge support floor (distinct users per co-occurrence edge)
    * and output cap.
    */
  val TriMinSupport = 2L
  val TriTopK = 20

  /** Per-user distinct-item cap applied to every basket that feeds a
    * pair self-join (q66/q103/q106/q110/q134/q140/q142). The self-join
    * emits Σ_user basket² rows; on a production catalog (10⁵–10⁷
    * items) ONE bot/power user with a huge distinct-item basket turns
    * that into a single ~basket² straggler task. The cap bounds every
    * user's contribution at [[PairUserCap]]² pairs by keeping the
    * user's [[PairUserCap]] globally most-frequent items (a-priori
    * discipline: frequent items are the ones that can reach any
    * support/quantile cut downstream; rare tail items of a bot basket
    * produce support-1 pairs every consumer filters out anyway). The
    * tie-break (count DESC, item ASC) is a total order per user, so
    * the kept set is deterministic and the DuckDB oracle replicates it
    * with the same `row_number()` text. The fixtures' item domain
    * (≤ 25) never reaches the cap, so fixture results are unchanged;
    * the cap exists for the 100× story (`AnalyticsSpec` plants a
    * power-law bot basket and pins the cap and its pair bound).
    */
  val PairUserCap = 256

  /** Broadcast hint for item-domain-sized dimension relations (degree
    * vectors, item counts, community sizes). These are tiny on the
    * fixtures but a 10⁷-item production catalog would make a forced
    * broadcast oversized — so the hint is dropped when the session
    * declares a large catalog via `spark.graft.graph.domainSizeHint`
    * (items; default unset = hint applies) against
    * [[DimBroadcastMax]], and AQE's runtime stats pick the join
    * strategy instead. A conf hint, not a count job: sizing the dim
    * with an action would recompute the corpus subtree that feeds it.
    */
  val DimBroadcastMax = 4000000L

  private def dimBroadcast(dim: DataFrame): DataFrame = {
    val key = "spark.graft.graph.domainSizeHint"
    val hint = dim.sparkSession.conf.getOption(key).map(v =>
      v.toLongOption.filter(_ >= 0L).getOrElse(throw new IllegalArgumentException(
        s"$key must be a non-negative item count, got '$v'")))
    if (hint.exists(_ > DimBroadcastMax)) dim else broadcast(dim)
  }

  /** The shared item-basket extraction feeding every pair self-join:
    * DISTINCT (user, item) rows (basket semantics — one shuffle with
    * map-side combine), then the [[PairUserCap]] prune: one item-keyed
    * count, one user-keyed `row_number` window ordered (count DESC,
    * item ASC). The window's user_id exchange is exactly the
    * partitioning the downstream self-join needs, so the cap costs one
    * item-cardinality aggregate, not an extra corpus shuffle.
    */
  private[graft] def itemBaskets(events: DataFrame): DataFrame = {
    val raw = regexp_extract(col("props"), "\"k\":\\s*(\\d+)", 1)
    val item = when(raw === "", lit(null)).otherwise(raw).cast("int")
    val ui0 = events.select(col("user_id"), item.as("item"))
      .filter(col("item").isNotNull).distinct()
    val icnt = ui0.groupBy("item").agg(count(lit(1)).as("__ic"))
    ui0.join(dimBroadcast(icnt), Seq("item"))
      .withColumn("__rn", row_number().over(
        Window.partitionBy("user_id").orderBy(desc("__ic"), asc("item"))))
      .filter(col("__rn") <= PairUserCap)
      .select("user_id", "item")
  }

  /** The shared canonical co-occurrence pair relation: (u < v, w =
    * supporting users), built from the CAPPED baskets — Σ_user basket²
    * with basket ≤ [[PairUserCap]], the one pair build every graph
    * query (q66/q103/q106/q110/q134/q140/q142) rides.
    */
  private[graft] def itemPairsOf(ui: DataFrame): DataFrame =
    ui.alias("a").join(ui.alias("b"),
        col("a.user_id") === col("b.user_id") && col("a.item") < col("b.item"))
      .select(col("a.item").as("u"), col("b.item").as("v"))
      .groupBy("u", "v").agg(count(lit(1)).as("w"))

  /** q110 — TRIANGLE counting over the item co-occurrence graph
    * (edges = item pairs sharing ≥ [[TriMinSupport]] users): per-item
    * triangle participation, the clustering-structure signal behind
    * community detection and graph-quality audits (q103's PageRank
    * measures reach; triangles measure cohesion).
    *
    * Scale design: the classic shared-nothing triangle algorithm
    * (node-iterator with DEGREE ORIENTATION). Each undirected edge is
    * oriented from its lower-(degree, id) endpoint to the higher; every
    * wedge then forms at its lowest-degree apex, so wedge count is
    * Σ deg_out² with deg_out ≤ O(√m) on any graph — the m^{3/2} bound
    * (Suri & Vassilvitskii's MR-friendly orientation) instead of the
    * unbounded Σ deg² a hub vertex causes unoriented. Wedges close in
    * one hash join against the canonical edge set; each triangle is
    * produced exactly once. Degrees are node-cardinality and broadcast.
    */
  def itemTriangles(spark: SparkSession, dir: String): DataFrame =
    itemTrianglesFrom(Tables.events(spark, dir))

  /** Shared q110/q134 pipeline: the supported canonical edge set (u<v)
    * and the exact triangle relation (a,b,c), a<b<c each once.
    */
  private def triangleParts(events: DataFrame): (DataFrame, DataFrame) = {
    // checkpointed: degrees (two projections), the orientation join
    // and the wedge-closing join all consume the supported edge set —
    // without it the basket self-join replays four times (r12-opt)
    val edges = itemPairsOf(itemBaskets(events).localCheckpoint())
      .filter(col("w") >= TriMinSupport)
      .select("u", "v")
      .localCheckpoint()
    val deg = edges.select(col("u").as("x"))
      .unionAll(edges.select(col("v").as("x")))
      .groupBy("x").agg(count(lit(1)).as("d"))
    val e = edges
      .join(dimBroadcast(deg.select(col("x").as("u"), col("d").as("du"))), Seq("u"))
      .join(dimBroadcast(deg.select(col("x").as("v"), col("d").as("dv"))), Seq("v"))
    // u < v throughout, so the tie-break on equal degree keeps u first
    val oriented = e.select(
      when(col("du") <= col("dv"), col("u")).otherwise(col("v")).as("src"),
      when(col("du") <= col("dv"), col("v")).otherwise(col("u")).as("dst"))
    val wedges = oriented.alias("e1").join(oriented.alias("e2"),
        col("e1.src") === col("e2.src") && col("e1.dst") < col("e2.dst"))
      .select(col("e1.src").as("a"), col("e1.dst").as("b"), col("e2.dst").as("c"))
    // close against the canonical (u<v) edge set; (b, c) is already
    // ordered because the wedge join kept e1.dst < e2.dst
    val tri = wedges.join(
      edges.select(col("u").as("b"), col("v").as("c")), Seq("b", "c"))
    (edges, tri)
  }

  def itemTrianglesFrom(events: DataFrame): DataFrame = {
    val tri = triangleParts(events)._2
    tri.select(col("a").as("item"))
      .unionAll(tri.select(col("b").as("item")))
      .unionAll(tri.select(col("c").as("item")))
      .groupBy("item").agg(count(lit(1)).as("n_triangles"))
      .orderBy(desc("n_triangles"), asc("item"))
      .limit(TriTopK)
  }

  /** q142 output cap (predicted links kept). */
  val LinkTopK = 20

  /** q142 — LINK PREDICTION by neighborhood Jaccard over the item
    * co-occurrence graph: for every non-adjacent item pair that shares
    * at least one neighbor, the common-neighbor count and the Jaccard
    * of the two neighborhoods |N(a)∩N(b)| / |N(a)∪N(b)|; top-
    * [[LinkTopK]] by (jaccard, common, ids). The recommender /
    * graph-completion operator class on q110's graph: triangles measure
    * cohesion that exists, link prediction scores the edges that are
    * MISSING from dense neighborhoods.
    *
    * Scale shape: candidate pairs come from the wedge join (two edge
    * relations met at the shared neighbor), so generation is bounded by
    * Σ deg² of the quantile-sparsified graph — never |items|²; adjacency
    * removal is one hash anti-join against the canonical edge set; the
    * degree dimension is item-cardinality and broadcast twice (the q106
    * discipline). Counts stay integer; the Jaccard is one closing IEEE
    * division; the top-k lowers to TakeOrderedAndProject.
    */
  def linkPredict(spark: SparkSession, dir: String): DataFrame =
    linkPredictFrom(Tables.events(spark, dir))

  def linkPredictFrom(events: DataFrame): DataFrame = {
    val pairs = cooccurEdges(events).select("u", "v").localCheckpoint()
    val edges = pairs.unionByName(pairs.select(col("v").as("u"), col("u").as("v")))
    val deg = edges.groupBy("u").agg(count(lit(1)).as("d"))
    val wedges = edges.alias("x").join(edges.alias("y"),
        col("x.u") === col("y.u") && col("x.v") < col("y.v"))
      .select(col("x.v").as("a"), col("y.v").as("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("n_common"))
    val cand = wedges.join(pairs.select(col("u").as("a"), col("v").as("b")),
      Seq("a", "b"), "left_anti")
    val jc = col("n_common").cast("double") /
      (col("deg_a") + col("deg_b") - col("n_common")).cast("double")
    cand
      .join(dimBroadcast(deg.select(col("u").as("a"), col("d").as("deg_a"))), Seq("a"))
      .join(dimBroadcast(deg.select(col("u").as("b"), col("d").as("deg_b"))), Seq("b"))
      .select(col("a").as("item_a"), col("b").as("item_b"), col("n_common"),
        col("deg_a"), col("deg_b"), round(jc, 9).as("jaccard"))
      .orderBy(desc("jaccard"), desc("n_common"), asc("item_a"), asc("item_b"))
      .limit(LinkTopK)
  }

  /** q112 hot-key multiple over the median per-key count, and output
    * cap. The near-uniform fixture has no organic hot keys, so the
    * audit runs with a low multiple to exercise the flag path (the q73
    * MadK rationale); production pipelines run 5–10×.
    */
  val SkewHotFactor = 1.15
  val SkewTopK = 50

  /** q112 — join-key SKEW audit over `events.user_id`: per-key
    * frequency against the median, with the hot-key flag and the salt
    * factor (`ceil(cnt / median)` — the number of salted sub-keys that
    * would level this key back to median occupancy). This is the
    * measurement HALF of the skew playbook the engine already ships
    * (operators/SkewJoin salts, AQE splits — both need to know WHICH
    * keys and HOW MANY salts): run the audit on a sample cadence,
    * feed the factors to the salted join.
    *
    * Scale shape: one hash aggregate with map-side combine (the
    * shuffle carries one row per key per partition), one
    * key-cardinality percentile reduced to a broadcast scalar, and a
    * top-k lowered to TakeOrderedAndProject. The exact median swaps
    * for q44's percentile_approx sketch when key cardinality itself
    * is at scale.
    */
  def skewAudit(spark: SparkSession, dir: String): DataFrame =
    skewAuditFrom(Tables.events(spark, dir))

  def skewAuditFrom(events: DataFrame): DataFrame = {
    val cnt = events.groupBy("user_id").agg(count(lit(1)).as("cnt"))
    val stats = cnt.agg(percentile(col("cnt"), lit(0.5)).as("med"),
      sum("cnt").as("total"))
    cnt.crossJoin(broadcast(stats))
      .select(col("user_id"), col("cnt"),
        round(col("cnt") / col("total"), 9).as("share"),
        (col("cnt") > lit(SkewHotFactor) * col("med")).as("is_hot"),
        greatest(lit(1L), ceil(col("cnt") / col("med"))).as("salt_factor"))
      .orderBy(desc("cnt"), asc("user_id"))
      .limit(SkewTopK)
  }

  /** q113 coordinated key-sample modulus: 1 in [[CardSampleMod]] join
    * keys is kept ON BOTH SIDES (hash-picked by key, the q45
    * discipline), so every sampled key contributes its full cl·cr
    * product and the scaled sum is an unbiased Horvitz–Thompson
    * estimate of the join size.
    */
  val CardSampleMod = 16

  /** q113 — JOIN-SIZE estimation: the planning primitive behind "can I
    * afford this join" at 100 TB. For two key relations the exact join
    * cardinality is Σ_k cl(k)·cr(k); the estimator computes the same
    * sum over a COORDINATED 1-in-[[CardSampleMod]] key sample and
    * scales up — key-coordinated (not row-) sampling is what keeps the
    * estimate unbiased for joins. Audited on two shapes: the FK join
    * (orders⋈lineitem — est ≈ exact, every key matches once) and the
    * self-join (events⋈events on user_id — the quadratic per-key blow
    * the q112 audit warns about).
    *
    * Scale shape: per-side key counts are map-combined hash aggregates;
    * in estimation-only mode the hash filter pushes BELOW the
    * aggregate (scan + filter + count over 1/[[CardSampleMod]] of the
    * key space); the exact column here is the audit reference that
    * gates the estimator's arithmetic.
    */
  def joinCardinality(spark: SparkSession, dir: String): DataFrame = {
    val orders = Tables.orders(spark, dir)
    val lineitem = Tables.lineitem(spark, dir)
    val events = Tables.events(spark, dir)
    def keyed(df: DataFrame, c: Column) = df.select(c.cast("string").as("k"))
    def one(name: String, lk: DataFrame, rk: DataFrame): DataFrame = {
      val lc = lk.groupBy("k").agg(count(lit(1)).as("cl"))
      val rc = rk.groupBy("k").agg(count(lit(1)).as("cr"))
      lc.join(rc, "k")
        .select(col("k"), (col("cl") * col("cr")).as("p"))
        .agg(sum("p").as("exact_rows"),
          coalesce(sum(when(graft.functions.TextFns.hash32(col("k"))
            % CardSampleMod === 0, col("p"))), lit(0L)).as("sp"))
        .select(lit(name).as("join_name"), col("exact_rows"),
          (col("sp") * CardSampleMod).as("est_rows"),
          round(abs(col("sp") * CardSampleMod - col("exact_rows"))
            .cast("double") / col("exact_rows"), 9).as("rel_err"))
    }
    one("events_self_user", keyed(events, col("user_id")),
        keyed(events, col("user_id")))
      .unionByName(one("orders_lineitem", keyed(orders, col("o_orderkey")),
        keyed(lineitem, col("l_orderkey"))))
      .orderBy("join_name")
  }

  /** q123 — QUANTILE-BINNED feature encoding: per event type, exact
    * decile boundaries over `value` and the per-bin count/bounds/mean —
    * the equal-FREQUENCY binning feature pipelines apply before
    * bucketized models and drift monitors (q95's equal-WIDTH histogram
    * shows the distribution; this builds the transform that equalizes
    * it). The emitted table is both the audit and the apply artifact:
    * broadcast `bnds` back and the bin assignment is one map-side
    * array count-below.
    *
    * Scale shape: boundaries are one per-type exact-percentile
    * aggregate (sketchable via q44's percentile_approx at 100 TB);
    * assignment is a broadcast join + codegen'd array filter; the
    * final aggregate is (types × 10)-cardinality with map-side
    * combine. Means ride the exact DECIMAL accumulator.
    */
  def decileBins(spark: SparkSession, dir: String): DataFrame =
    decileBinsFrom(Tables.events(spark, dir))

  def decileBinsFrom(events: DataFrame): DataFrame = {
    val cuts = array((1 to 9).map(i => lit(i / 10.0)): _*)
    val bnds = events.groupBy("event_type")
      .agg(percentile(col("value"), cuts).as("bnds"))
    events.select("event_type", "value")
      .join(broadcast(bnds), Seq("event_type"))
      .withColumn("decile",
        size(filter(col("bnds"), b => b <= col("value"))).cast("int"))
      .groupBy("event_type", "decile")
      .agg(count(lit(1)).as("n"),
        min("value").as("min_value"), max("value").as("max_value"),
        (sum(col("value").cast(DecimalType(12, 2))).cast("double") /
          count(lit(1))).as("mean_value"))
      .orderBy("event_type", "decile")
  }

  /** q128 — MANN-KENDALL trend test per event type: the sign-sum
    * statistic S = Σ_{i<j} sign(mean_j − mean_i) over weekly value
    * means — the distribution-free monotonic-trend detector drift
    * monitors run on metric series (a least-squares slope needs float
    * accumulation and an error model; MK needs only ORDER, which makes
    * it both robust and exactly computable). `mean_j > mean_i`
    * evaluates as the cross-multiplied INTEGER comparison
    * `s_j·c_i ≷ s_i·c_j` on cent-exact weekly sums, so the whole
    * statistic is integer arithmetic — no float ever accumulates.
    *
    * Scale shape: the corpus reduces to one (type, week) aggregate at
    * calendar cardinality; the pairwise i<j join runs on that
    * metadata-scale relation (weeks², not rows²).
    */
  def trendAudit(spark: SparkSession, dir: String): DataFrame =
    trendAuditFrom(Tables.events(spark, dir))

  def trendAuditFrom(events: DataFrame): DataFrame = {
    val wk = (datediff(col("ts").cast("date"), to_date(lit("1970-01-01"))) / 7)
      .cast("long")
    val w = events
      .select(col("event_type"), wk.as("wk"),
        round(col("value") * 100).cast("long").as("cents"))
      .groupBy("event_type", "wk")
      .agg(sum("cents").as("s"), count(lit(1)).as("c"))
    val diff = col("b.s") * col("a.c") - col("a.s") * col("b.c")
    val p = w.alias("a").join(w.alias("b"),
        col("a.event_type") === col("b.event_type") && col("a.wk") < col("b.wk"))
      .select(col("a.event_type").as("event_type"),
        when(diff > 0, 1L).when(diff < 0, -1L).otherwise(0L).as("sg"))
    val mk = p.groupBy("event_type").agg(sum("sg").as("mk_stat"))
    w.groupBy("event_type").agg(count(lit(1)).as("n_weeks"))
      .join(mk, Seq("event_type"), "left")
      .select(col("event_type"), col("n_weeks"),
        coalesce(col("mk_stat"), lit(0L)).as("mk_stat"))
      .withColumn("trend",
        when(col("mk_stat") > 0, "rising")
          .when(col("mk_stat") < 0, "falling").otherwise("flat"))
      .orderBy("event_type")
  }

  /** q244 — CUPED variance-reduced experiment readout (Deng et al.,
    * "Improving the Sensitivity of Online Controlled Experiments",
    * WSDM 2013 — the industry-standard A/B variance-reduction):
    * adjust each unit's experiment-period metric by its own
    * PRE-period baseline, y' = y − θ(x − x̄), with θ = cov(x,y)/var(x)
    * fitted pooled — the regression that soaks up stable per-user
    * spend levels so the cohort delta needs far fewer users to reach
    * significance; `var_reduction` IS the sample-size saving. The
    * pre/post cutoff is the observed time-range midpoint; cohorts are
    * the q147 hash split.
    *
    * Determinism: per-user sums are exact cents; all five pooled
    * moments accumulate in DECIMAL(38,0) (q149's discipline — wraps
    * loudly, never silently, past ~1e38); θ rounds 9 before use, so
    * the adjusted means and the variance-reduction identity
    * Vy' = Vy − 2θC + θ²Vx are fixed-order double chains mirrored
    * verbatim in the oracle.
    *
    * Scale shape: one broadcast 1-row time-bound, one combine-heavy
    * per-user fold, one 2-row cohort aggregate × one broadcast pooled
    * row. Nothing user-grain shuffles twice.
    */
  def cupedReadout(spark: SparkSession, dir: String): DataFrame =
    cupedFrom(Tables.events(spark, dir))

  def cupedFrom(events: DataFrame): DataFrame = {
    val dec0 = DecimalType(38, 0)
    val bounds = events.agg(
      min(unix_micros(col("ts"))).as("mn"),
      max(unix_micros(col("ts"))).as("mx"))
    val per = events.crossJoin(broadcast(bounds))
      .withColumn("mid", expr("(mn + mx) div 2"))
      .groupBy("user_id").agg(
        sum(when(col("event_type") === "purchase" &&
          unix_micros(col("ts")) <= col("mid"),
          round(col("value") * 100).cast("long")).otherwise(0L)).as("x"),
        sum(when(col("event_type") === "purchase" &&
          unix_micros(col("ts")) > col("mid"),
          round(col("value") * 100).cast("long")).otherwise(0L)).as("y"))
      .withColumn("cohort",
        (TextFns.hash32(concat(lit("cuped|"), col("user_id").cast("string")))
          % 2).cast("int"))
    val nD = col("n").cast(dec0)
    val pooled = per.agg(count(lit(1)).as("n"),
        sum(col("x").cast(dec0)).cast(dec0).as("sx"),
        sum(col("y").cast(dec0)).cast(dec0).as("sy"),
        sum(col("x").cast(dec0) * col("y").cast(dec0)).cast(dec0).as("sxy"),
        sum(col("x").cast(dec0) * col("x").cast(dec0)).cast(dec0).as("sxx"),
        sum(col("y").cast(dec0) * col("y").cast(dec0)).cast(dec0).as("syy"))
      .select(col("n"), col("sx"), col("sy"),
        round((nD * col("sxy") - col("sx") * col("sy")).cast("double") /
          nullIfZero((nD * col("sxx") - col("sx") * col("sx")).cast("double")),
          9).as("theta"),
        (nD * col("sxy") - col("sx") * col("sy")).cast("double").as("cxy"),
        (nD * col("sxx") - col("sx") * col("sx")).cast("double").as("vx"),
        (nD * col("syy") - col("sy") * col("sy")).cast("double").as("vy"))
    val coh = per.groupBy("cohort").agg(
      count(lit(1)).as("n_users"),
      sum(col("x").cast(dec0)).cast(dec0).as("sxc"),
      sum(col("y").cast(dec0)).cast(dec0).as("syc"))
    coh.crossJoin(broadcast(pooled))
      .select(col("cohort"), col("n_users"),
        round(col("syc").cast("double") / col("n_users") / 100.0, 6)
          .as("mean_y"),
        round((col("syc").cast("double") / col("n_users") -
          col("theta") * (col("sxc").cast("double") / col("n_users") -
            col("sx").cast("double") / col("n"))) / 100.0, 6)
          .as("adj_mean_y"),
        col("theta"),
        round(lit(1.0) - (col("vy") - lit(2.0) * col("theta") * col("cxy") +
          col("theta") * col("theta") * col("vx")) / nullIfZero(col("vy")), 6)
          .as("var_reduction"))
      .orderBy("cohort")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q244_cuped_readout" -> (cupedReadout _),
    "q248_conformal_coverage" -> (conformalCoverage _),
    "q252_km_retention" -> (kmRetention _),
    // implemented in Similarity (see ivfRecall's scaladoc for why the
    // registration lives here: its texts compose the q25/q75 texts)
    "q236_ivf_recall" -> (Similarity.ivfRecall _),
    "q225_exact_quantiles" -> (exactQuantiles _),
    "q226_psi_drift" -> (psiDrift _),
    "q227_robust_outliers" -> (robustOutliers _),
    "q128_trend_mk" -> (trendAudit _),
    "q138_sketch_rollup" -> (sketchRollup _),
    "q155_heavy_hitters" -> (heavyHitters _),
    "q156_audience_overlap" -> (audienceOverlap _),
    "q145_bootstrap_ci" -> (bootstrapCi _),
    "q147_conversion_z" -> (conversionZ _),
    "q148_quantile_rollup" -> (quantileRollup _),
    "q149_metric_corr" -> (metricCorr _),
    "q219_spearman_corr" -> (spearmanCorr _),
    "q150_benford_audit" -> (benfordAudit _),
    "q161_decayed_popularity" -> (decayedPopularity _),
    "q177_rec_hit_rate" -> (recHitRate _),
    "q193_item_novelty" -> (itemNovelty _),
    "q169_cramers_v" -> (cramersV _),
    "q140_label_communities" -> (labelCommunities _),
    "q142_link_prediction" -> (linkPredict _),
    "q123_decile_bins" -> (decileBins _),
    "q110_item_triangles" -> (itemTriangles _),
    "q112_skew_audit" -> (skewAudit _),
    "q113_join_cardinality" -> (joinCardinality _),
    "q106_assoc_rules" -> (assocRules _),
    "q103_item_pagerank" -> (itemPagerank _),
    "q31_cohort_set_ops" -> (cohorts _),
    "q32_revenue_rollup" -> (revenueRollup _),
    "q33_asof_prior_click" -> (asofPriorClick _),
    "q129_asof_next_click" -> (asofNextClick _),
    "q132_mann_whitney" -> (mannWhitney _),
    "q133_ks_test" -> (ksTest _),
    "q134_clustering_coeff" -> (clusteringCoeff _),
    "q34_value_quantiles" -> (valueQuantiles _),
    "q42_revenue_cube" -> (revenueCube _),
    "q43_user_pivot" -> (userActivityPivot _),
    "q44_approx_stats" -> (approxStatsChecked _),
    "q66_item_cooccurrence" -> (itemCooccurrence _),
    "q73_value_outliers" -> (valueOutliers _),
    "q94_retention_cohorts" -> (retentionCohorts _),
    "q95_value_histogram" -> (valueHistogram _),
    "q98_revenue_attribution" -> (revenueAttribution _))

  /** Spark-SQL form for [[SqlSurface]] (not a dialect rewrite: the
    * oracle's q44 text is the degenerate TRUE-literal form because
    * DuckDB has no HLL++/KLL twin — the Spark SQL form computes the
    * real sketches and bounds, exactly like the DataFrame form).
    */
  lazy val sparkSql: Map[String, String] = Map(
    // the q75 override's probe pipeline plus the q25 brute scan,
    // through the same native kernels (handwritten in Similarity)
    "q236_ivf_recall" -> Similarity.ivfRecallSparkSql,
    // the dialect-derived form would keep the oracle's list_filter
    // lambda, which Spark project-collapses into re-computing the md5
    // once PER THRESHOLD (9× the dominant work — the materialized-hash
    // note on bootstrapCiFrom); this override materializes `h` in its
    // own SELECT and takes the 9-indicator sum over it, the DataFrame
    // form's plan
    "q145_bootstrap_ci" -> {
      val ind = BootPoisThresh
        .map(t => s"(CASE WHEN h >= ${t}L THEN 1L ELSE 0L END)")
        .mkString(" + ")
      s"""WITH base AS (
         |  SELECT event_type, event_id,
         |    CAST(round(value * 100) AS BIGINT) AS cents
         |  FROM events),
         |fan AS (
         |  SELECT event_type, event_id, cents,
         |    explode(sequence(0, ${BootB - 1})) AS b
         |  FROM base),
         |rep AS (
         |  SELECT event_type, b, cents,
         |    CAST(conv(substring(md5('bs|' || CAST(b AS STRING) || '|' ||
         |      CAST(event_id AS STRING)), 1, 15), 16, 10) AS BIGINT) AS h
         |  FROM fan),
         |mrep AS (SELECT event_type, b, cents, $ind AS m FROM rep),
         |ag AS (SELECT event_type, b, CAST(sum(m * cents) AS BIGINT) AS s,
         |    CAST(sum(m) AS BIGINT) AS c
         |  FROM mrep GROUP BY 1, 2),
         |means AS (SELECT event_type,
         |    CAST(s AS DOUBLE) / CAST(NULLIF(c, 0) AS DOUBLE) AS mean_b
         |  FROM ag),
         |ci AS (SELECT event_type,
         |    round(percentile(mean_b, 0.025), 9) AS ci_lo_cents,
         |    round(percentile(mean_b, 0.975), 9) AS ci_hi_cents
         |  FROM means GROUP BY 1),
         |pt AS (SELECT event_type, count(*) AS n,
         |    round(CAST(sum(cents) AS DOUBLE) / CAST(count(*) AS DOUBLE), 9) AS mean_cents
         |  FROM base GROUP BY 1)
         |SELECT pt.event_type, pt.n, pt.mean_cents, ci.ci_lo_cents, ci.ci_hi_cents
         |FROM pt JOIN ci ON ci.event_type = pt.event_type
         |ORDER BY pt.event_type""".stripMargin
    },
    // 128-bit moments: DECIMAL(38,0) here, HUGEINT in the oracle —
    // same exact integers, same closing doubles
    // q149's moment discipline over DOUBLED mid-ranks (exact integers)
    "q219_spearman_corr" ->
      s"""WITH per AS (
         |  SELECT user_id,
         |    CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS x,
         |    CAST(sum(CASE WHEN event_type = 'purchase'
         |        THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END) AS BIGINT) AS y
         |  FROM events GROUP BY 1),
         |vx AS (SELECT x, count(*) AS cnt FROM per GROUP BY 1),
         |rx AS (SELECT x, 2 * (sum(cnt) OVER (ORDER BY x
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - cnt + 1)
         |    + cnt - 1 AS dx FROM vx),
         |vy AS (SELECT y, count(*) AS cnt FROM per GROUP BY 1),
         |ry AS (SELECT y, 2 * (sum(cnt) OVER (ORDER BY y
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - cnt + 1)
         |    + cnt - 1 AS dy FROM vy),
         |j AS (SELECT per.user_id, rx.dx, ry.dy
         |  FROM per JOIN rx ON rx.x = per.x JOIN ry ON ry.y = per.y),
         |s AS (SELECT count(*) AS n,
         |    CAST(sum(CAST(dx AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sx,
         |    CAST(sum(CAST(dy AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sy,
         |    CAST(sum(CAST(dx AS DECIMAL(38,0)) * CAST(dy AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sxy,
         |    CAST(sum(CAST(dx AS DECIMAL(38,0)) * CAST(dx AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sxx,
         |    CAST(sum(CAST(dy AS DECIMAL(38,0)) * CAST(dy AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS syy
         |  FROM j)
         |SELECT n AS n_users,
         |  round(CAST(CAST(n AS DECIMAL(38,0)) * sxy - sx * sy AS DOUBLE)
         |    / NULLIF(sqrt(CAST(CAST(n AS DECIMAL(38,0)) * sxx - sx * sx AS DOUBLE))
         |      * sqrt(CAST(CAST(n AS DECIMAL(38,0)) * syy - sy * sy AS DOUBLE)), 0), 9) AS spearman_rho
         |FROM s""".stripMargin,
    "q149_metric_corr" ->
      s"""WITH per AS (
         |  SELECT user_id,
         |    CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS x,
         |    CAST(sum(CASE WHEN event_type = 'purchase'
         |        THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END) AS BIGINT) AS y
         |  FROM events GROUP BY 1),
         |s AS (SELECT count(*) AS n,
         |    CAST(sum(CAST(x AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sx,
         |    CAST(sum(CAST(y AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sy,
         |    CAST(sum(CAST(x AS DECIMAL(38,0)) * CAST(y AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sxy,
         |    CAST(sum(CAST(x AS DECIMAL(38,0)) * CAST(x AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sxx,
         |    CAST(sum(CAST(y AS DECIMAL(38,0)) * CAST(y AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS syy
         |  FROM per)
         |SELECT n AS n_users, CAST(sx AS BIGINT) AS sum_clicks,
         |  CAST(sy AS BIGINT) AS sum_purchase_cents,
         |  round(CAST(CAST(n AS DECIMAL(38,0)) * sxy - sx * sy AS DOUBLE)
         |    / NULLIF(sqrt(CAST(CAST(n AS DECIMAL(38,0)) * sxx - sx * sx AS DOUBLE))
         |      * sqrt(CAST(CAST(n AS DECIMAL(38,0)) * syy - sy * sy AS DOUBLE)), 0), 9) AS pearson_r
         |FROM s""".stripMargin,
    "q44_approx_stats" ->
      """WITH a AS (
        |  SELECT event_type,
        |    approx_count_distinct(user_id, 0.01) AS approx_users,
        |    count(DISTINCT user_id) AS exact_users,
        |    percentile_approx(value, 0.9, 10000) AS p90_approx,
        |    percentile(value, 0.9) AS p90_exact,
        |    percentile(value, 0.85) AS p85_exact,
        |    percentile(value, 0.95) AS p95_exact
        |  FROM events GROUP BY event_type)
        |SELECT event_type, exact_users,
        |  (abs(approx_users - exact_users) <= exact_users * 0.05) AS users_ok,
        |  p90_exact,
        |  (p90_approx >= p85_exact AND p90_approx <= p95_exact) AS p90_ok
        |FROM a ORDER BY event_type""".stripMargin)

  /** Shared oracle CTE chain for the CAPPED item baskets (the SQL twin
    * of [[itemBaskets]]): raw distinct (user, item) rows, the global
    * item counts, and the per-user top-[[PairUserCap]] prune ordered
    * (count DESC, item ASC) — every pair-building oracle
    * (q66/q103/q106/q110/q134/q140/q142) opens with `WITH $uiCte`.
    */
  private def uiCte: String =
    s"""ui0 AS (
       |  SELECT DISTINCT user_id,
       |    CAST(NULLIF(regexp_extract(props, '"k":\\s*(\\d+)', 1), '') AS INT) AS item
       |  FROM events
       |  WHERE NULLIF(regexp_extract(props, '"k":\\s*(\\d+)', 1), '') IS NOT NULL),
       |uic AS (SELECT item, count(*) AS ic FROM ui0 GROUP BY 1),
       |ui AS (
       |  SELECT user_id, item FROM (
       |    SELECT ui0.user_id, ui0.item,
       |      row_number() OVER (PARTITION BY ui0.user_id
       |        ORDER BY uic.ic DESC, ui0.item) AS rn
       |    FROM ui0 JOIN uic ON uic.item = ui0.item) capped
       |  WHERE rn <= $PairUserCap)""".stripMargin

  lazy val oracle: Map[String, String] = Map(
    // the survival chain has no window form: the recursive CTE steps
    // S ← round(S·(1−h), 12) row-for-row with the driver fold;
    // hazards are raw double quotients (identical division both
    // engines, nothing rounded across the gate)
    "q252_km_retention" ->
      s"""WITH RECURSIVE u AS (
         |  SELECT user_id,
         |    min(epoch_us(ts) // 3600000000) AS f,
         |    max(epoch_us(ts) // 3600000000) AS l
         |  FROM events GROUP BY 1),
         |b AS (SELECT max(l) AS m FROM u),
         |lt AS (SELECT
         |    CASE WHEN l <= m - $KmChurnHours THEN l - f ELSE m - f END AS t,
         |    CASE WHEN l <= m - $KmChurnHours THEN 1 ELSE 0 END AS ev
         |  FROM u, b),
         |g AS (SELECT t, CAST(sum(ev) AS BIGINT) AS d,
         |    CAST(sum(1 - ev) AS BIGINT) AS c
         |  FROM lt GROUP BY 1),
         |r AS (SELECT t, d, c,
         |    CAST(sum(d + c) OVER (ORDER BY t DESC
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |      AS BIGINT) AS n,
         |    row_number() OVER (ORDER BY t) AS rn
         |  FROM g),
         |km AS (
         |  SELECT rn, t, n, d, c, CAST(d AS DOUBLE) / n AS h,
         |    (CAST(1000000000000 AS HUGEINT) * (n - d) + n // 2) // n AS s
         |  FROM r WHERE rn = 1
         |  UNION ALL
         |  SELECT r.rn, r.t, r.n, r.d, r.c, CAST(r.d AS DOUBLE) / r.n,
         |    (km.s * (r.n - r.d) + r.n // 2) // r.n
         |  FROM km JOIN r ON r.rn = km.rn + 1)
         |SELECT t, n AS n_at_risk, d AS n_churned, c AS n_censored,
         |  h AS hazard,
         |  CAST(s AS DOUBLE) / 1000000000000.0 AS survival
         |FROM km ORDER BY t""".stripMargin,
    // scaled-integer scores both sides; the window cum mirrors the
    // Prefix two-phase bit-exactly (distinct scores per type, so the
    // RANGE default frame ≡ ROWS)
    "q248_conformal_coverage" -> {
      val arm = TextFns.sql.hash32("'conf|' || CAST(event_id AS VARCHAR)")
      s"""WITH ev AS (SELECT event_type,
         |    CAST(round(value * 100) AS BIGINT) AS cents,
         |    CAST($arm % 2 AS INTEGER) AS arm
         |  FROM events),
         |pred AS (SELECT event_type, CAST(sum(cents) AS BIGINT) AS s_cal,
         |    count(*) AS n_cal
         |  FROM ev WHERE arm = 0 GROUP BY 1),
         |sc AS (SELECT ev.event_type, arm,
         |    abs(cents * n_cal - s_cal) AS score
         |  FROM ev JOIN pred USING (event_type)),
         |cal AS (SELECT event_type, score, count(*) AS c
         |  FROM sc WHERE arm = 0 GROUP BY 1, 2),
         |cum AS (SELECT event_type, score,
         |    CAST(sum(c) OVER (PARTITION BY event_type ORDER BY score)
         |      AS BIGINT) AS cum
         |  FROM cal),
         |qh AS (SELECT cum.event_type,
         |    min(CASE WHEN cum * 10 >= (n_cal + 1) * 9 THEN score END)
         |      AS qhat
         |  FROM cum JOIN pred USING (event_type) GROUP BY 1)
         |SELECT sc.event_type, max(p.n_cal) AS n_cal,
         |  count(*) AS n_test,
         |  CAST(max(q.qhat) AS DOUBLE) / max(p.n_cal) / 100.0 AS qhat_w,
         |  round(CAST(sum(CASE WHEN q.qhat IS NULL OR sc.score <= q.qhat
         |      THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) AS coverage
         |FROM sc JOIN qh q ON q.event_type = sc.event_type
         |JOIN pred p ON p.event_type = sc.event_type
         |WHERE arm = 1 GROUP BY 1 ORDER BY 1""".stripMargin
    },
    // q149's exact-moment discipline: per-user cents, HUGEINT pooled
    // moments, theta rounded 9 before the fixed-order double chains
    "q244_cuped_readout" -> {
      val arm = TextFns.sql.hash32("'cuped|' || CAST(user_id AS VARCHAR)")
      s"""WITH b AS (SELECT (min(epoch_us(ts)) + max(epoch_us(ts))) // 2
         |    AS mid FROM events),
         |per AS (SELECT user_id,
         |    CAST(sum(CASE WHEN event_type = 'purchase'
         |        AND epoch_us(ts) <= b.mid
         |      THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END)
         |      AS BIGINT) AS x,
         |    CAST(sum(CASE WHEN event_type = 'purchase'
         |        AND epoch_us(ts) > b.mid
         |      THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END)
         |      AS BIGINT) AS y,
         |    CAST($arm % 2 AS INTEGER) AS cohort
         |  FROM events, b GROUP BY user_id),
         |pooled AS (SELECT count(*) AS n,
         |    CAST(sum(CAST(x AS HUGEINT)) AS HUGEINT) AS sx,
         |    CAST(sum(CAST(y AS HUGEINT)) AS HUGEINT) AS sy,
         |    CAST(sum(CAST(x AS HUGEINT) * CAST(y AS HUGEINT)) AS HUGEINT) AS sxy,
         |    CAST(sum(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) AS HUGEINT) AS sxx,
         |    CAST(sum(CAST(y AS HUGEINT) * CAST(y AS HUGEINT)) AS HUGEINT) AS syy
         |  FROM per),
         |pp AS (SELECT n, sx, sy,
         |    round(CAST(CAST(n AS HUGEINT) * sxy - sx * sy AS DOUBLE) /
         |      NULLIF(CAST(CAST(n AS HUGEINT) * sxx - sx * sx AS DOUBLE), 0),
         |      9) AS theta,
         |    CAST(CAST(n AS HUGEINT) * sxy - sx * sy AS DOUBLE) AS cxy,
         |    CAST(CAST(n AS HUGEINT) * sxx - sx * sx AS DOUBLE) AS vx,
         |    CAST(CAST(n AS HUGEINT) * syy - sy * sy AS DOUBLE) AS vy
         |  FROM pooled),
         |coh AS (SELECT cohort, count(*) AS n_users,
         |    CAST(sum(CAST(x AS HUGEINT)) AS HUGEINT) AS sxc,
         |    CAST(sum(CAST(y AS HUGEINT)) AS HUGEINT) AS syc
         |  FROM per GROUP BY 1)
         |SELECT cohort, n_users,
         |  round(CAST(syc AS DOUBLE) / n_users / 100.0, 6) AS mean_y,
         |  round((CAST(syc AS DOUBLE) / n_users -
         |    theta * (CAST(sxc AS DOUBLE) / n_users -
         |      CAST(sx AS DOUBLE) / n)) / 100.0, 6) AS adj_mean_y,
         |  theta,
         |  round(1.0 - (vy - 2.0 * theta * cxy + theta * theta * vx)
         |    / NULLIF(vy, 0), 6) AS var_reduction
         |FROM coh, pp ORDER BY cohort""".stripMargin
    },
    // ground truth and index answer regenerated by the already-gated
    // q25/q75 oracle pipelines; only the recall algebra is new
    "q236_ivf_recall" -> Similarity.ivfRecallOracleSql,
    // discrete quantiles as smallest-value-clearing-the-integer-test:
    // the window here mirrors Spark's DISTRIBUTED prefix bit-exactly
    // (all integer arithmetic)
    "q225_exact_quantiles" ->
      """WITH b AS (SELECT event_type, value, count(*) AS c
        |  FROM events GROUP BY 1, 2),
        |t AS (SELECT event_type, CAST(sum(c) AS BIGINT) AS n
        |  FROM b GROUP BY 1),
        |cu AS (SELECT event_type, value,
        |    CAST(sum(c) OVER (PARTITION BY event_type ORDER BY value
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS cum
        |  FROM b)
        |SELECT cu.event_type, max(t.n) AS n_events,
        |  min(CASE WHEN cum * 2 >= t.n THEN value END) AS p50,
        |  min(CASE WHEN cum * 10 >= t.n * 9 THEN value END) AS p90,
        |  min(CASE WHEN cum * 100 >= t.n * 99 THEN value END) AS p99
        |FROM cu JOIN t ON t.event_type = cu.event_type
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // reference-decile bins densified to types × 10 (the UNION-ALL
    // arm list, the q184 pattern); per-bin terms round 9 then sum
    // through the DECIMAL accumulator — order-free
    "q226_psi_drift" -> {
      val binArms = (0 to 9).map(b => s"SELECT $b AS bin")
        .mkString(" UNION ALL ")
      val pa = "(CAST(ca + 1 AS DOUBLE) / (na + 10))"
      val pb = "(CAST(cb + 1 AS DOUBLE) / (nb + 10))"
      s"""WITH r AS (SELECT event_type,
         |    CAST(round(value * 100) AS BIGINT) AS cents,
         |    ts < TIMESTAMP '$PsiCutTs' AS is_ref FROM events),
         |b AS (SELECT event_type, cents, count(*) AS c
         |  FROM r WHERE is_ref GROUP BY 1, 2),
         |t AS (SELECT event_type, CAST(sum(c) AS BIGINT) AS n
         |  FROM b GROUP BY 1),
         |cu AS (SELECT event_type, cents,
         |    CAST(sum(c) OVER (PARTITION BY event_type ORDER BY cents
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         |      AS cum
         |  FROM b),
         |cuts AS (SELECT cu.event_type,
         |    ${(1 to 9).map(k =>
              s"min(CASE WHEN cum * 10 >= t.n * $k THEN cents END) AS d$k")
              .mkString(",\n         |    ")}
         |  FROM cu JOIN t ON t.event_type = cu.event_type GROUP BY 1),
         |bb AS (SELECT r.event_type,
         |    ${(1 to 9).map(k =>
              s"(CASE WHEN cents > d$k THEN 1 ELSE 0 END)")
              .mkString(" + ")} AS bin,
         |    is_ref
         |  FROM r JOIN cuts ON cuts.event_type = r.event_type),
         |binned AS (SELECT event_type, bin,
         |    CAST(sum(CASE WHEN is_ref THEN 1 ELSE 0 END) AS BIGINT) AS ca,
         |    CAST(sum(CASE WHEN NOT is_ref THEN 1 ELSE 0 END) AS BIGINT)
         |      AS cb
         |  FROM bb GROUP BY 1, 2),
         |grid AS (SELECT c.event_type, bins.bin
         |  FROM cuts c CROSS JOIN ($binArms) bins),
         |dense AS (SELECT g.event_type, g.bin,
         |    coalesce(bn.ca, 0) AS ca, coalesce(bn.cb, 0) AS cb
         |  FROM grid g LEFT JOIN binned bn
         |    ON bn.event_type = g.event_type AND bn.bin = g.bin),
         |h AS (SELECT event_type, CAST(sum(ca) AS BIGINT) AS na,
         |    CAST(sum(cb) AS BIGINT) AS nb FROM dense GROUP BY 1),
         |terms AS (SELECT d.event_type, h.na, h.nb,
         |    round(($pa - $pb) * ln($pa / $pb), 9) AS term
         |  FROM dense d JOIN h ON h.event_type = d.event_type)
         |SELECT event_type, max(na) AS n_ref, max(nb) AS n_cur,
         |  round(CAST(sum(CAST(term AS DECIMAL(38,12))) AS DOUBLE), 6)
         |    AS psi,
         |  round(CAST(sum(CAST(term AS DECIMAL(38,12))) AS DOUBLE), 6)
         |    > $PsiAlert AS drift_alert
         |FROM terms GROUP BY 1 ORDER BY 1""".stripMargin
    },
    // median and MAD each a smallest-value-clearing-cum·2≥n probe;
    // the 3·1.4826·MAD cut stays an integer cross-multiplication
    "q227_robust_outliers" ->
      s"""WITH cts AS (SELECT event_type,
         |    CAST(round(value * 100) AS BIGINT) AS cents FROM events),
         |b AS (SELECT event_type, cents, count(*) AS c
         |  FROM cts GROUP BY 1, 2),
         |t AS (SELECT event_type, CAST(sum(c) AS BIGINT) AS n
         |  FROM b GROUP BY 1),
         |cu AS (SELECT event_type, cents,
         |    CAST(sum(c) OVER (PARTITION BY event_type ORDER BY cents
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         |      AS cum
         |  FROM b),
         |med AS (SELECT cu.event_type, max(t.n) AS n,
         |    min(CASE WHEN cum * 2 >= t.n THEN cents END) AS med_cents
         |  FROM cu JOIN t ON t.event_type = cu.event_type GROUP BY 1),
         |dv AS (SELECT c.event_type, m.med_cents,
         |    abs(c.cents - m.med_cents) AS dev
         |  FROM cts c JOIN med m ON m.event_type = c.event_type),
         |bd AS (SELECT event_type, dev, count(*) AS c
         |  FROM dv GROUP BY 1, 2),
         |cud AS (SELECT event_type, dev,
         |    CAST(sum(c) OVER (PARTITION BY event_type ORDER BY dev
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         |      AS cum
         |  FROM bd),
         |mad AS (SELECT cud.event_type,
         |    min(CASE WHEN cum * 2 >= m.n THEN dev END) AS mad_cents
         |  FROM cud JOIN med m ON m.event_type = cud.event_type GROUP BY 1)
         |SELECT dv.event_type, count(*) AS n_events,
         |  CAST(max(dv.med_cents) AS DOUBLE) / 100.0 AS median_value,
         |  CAST(max(mad.mad_cents) AS DOUBLE) / 100.0 AS mad_value,
         |  CAST(sum(CASE WHEN dv.dev * 10000 > mad.mad_cents * $RobustCut10k
         |    THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
         |  CAST(sum(CASE WHEN dv.dev * 10000 > mad.mad_cents * $RobustCut10k
         |    THEN 1 ELSE 0 END) AS DOUBLE) / NULLIF(count(*), 0)
         |    AS outlier_rate
         |FROM dv JOIN mad ON mad.event_type = dv.event_type
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    // first occurrences one item-keyed min; cumulative rides the weeks
    // relation; Monday-aligned date_trunc on both engines
    "q193_item_novelty" ->
      s"""WITH it AS (SELECT
         |    CAST(date_trunc('week', ts) AS TIMESTAMP) AS wk,
         |    CAST(NULLIF(regexp_extract(props, '"k":\\s*(\\d+)', 1), '')
         |      AS INT) AS item
         |  FROM events),
         |ev AS (SELECT * FROM it WHERE item IS NOT NULL),
         |pw AS (SELECT wk, count(*) AS n_events,
         |    count(DISTINCT item) AS n_active FROM ev GROUP BY 1),
         |fw AS (SELECT item, min(wk) AS wk FROM ev GROUP BY 1),
         |ni AS (SELECT wk, count(*) AS new_items FROM fw GROUP BY 1)
         |SELECT pw.wk AS week_start, pw.n_events, pw.n_active,
         |  CAST(coalesce(ni.new_items, 0) AS BIGINT) AS new_items,
         |  CAST(sum(coalesce(ni.new_items, 0)) OVER (ORDER BY pw.wk
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         |    AS cum_items,
         |  CAST(coalesce(ni.new_items, 0) AS DOUBLE) / pw.n_active
         |    AS novelty_rate
         |FROM pw LEFT JOIN ni ON ni.wk = pw.wk
         |ORDER BY week_start""".stripMargin,
    // leave-last-out protocol: the support pool is history-only (rn>1),
    // exclusions via LEFT JOIN ... IS NULL (the q162 anti-join
    // spelling), rank ties broken (score DESC, dst)
    "q177_rec_hit_rate" ->
      s"""WITH it AS (SELECT user_id, CAST(NULLIF(regexp_extract(props,
         |      '"k":\\s*(\\d+)', 1), '') AS INT) AS item, ts, event_id
         |  FROM events),
         |ev AS (SELECT * FROM it WHERE item IS NOT NULL),
         |rk AS (SELECT *, row_number() OVER (PARTITION BY user_id
         |    ORDER BY ts DESC, event_id DESC) AS rn FROM ev),
         |lst AS (SELECT user_id, item AS target FROM rk WHERE rn = 1),
         |hist AS (SELECT DISTINCT user_id, item FROM rk WHERE rn > 1),
         |hic AS (SELECT item, count(*) AS ic FROM hist GROUP BY 1),
         |histc AS (SELECT user_id, item FROM (
         |    SELECT hist.user_id, hist.item,
         |      row_number() OVER (PARTITION BY hist.user_id
         |        ORDER BY hic.ic DESC, hist.item) AS hrn
         |    FROM hist JOIN hic ON hic.item = hist.item) capped
         |  WHERE hrn <= $PairUserCap),
         |hu AS (SELECT DISTINCT user_id FROM hist),
         |ej AS (SELECT l.user_id, l.target, h.item AS seen
         |  FROM lst l LEFT JOIN hist h
         |    ON h.user_id = l.user_id AND h.item = l.target),
         |evalu AS (SELECT ej.user_id, ej.target FROM ej
         |  JOIN hu ON hu.user_id = ej.user_id WHERE seen IS NULL),
         |ps AS (SELECT a.item AS src, b.item AS dst, count(*) AS support
         |  FROM histc a JOIN histc b
         |    ON a.user_id = b.user_id AND a.item <> b.item
         |  GROUP BY 1, 2 HAVING count(*) >= $RecMinSupport),
         |sc AS (SELECT e.user_id, e.target, p.dst,
         |    CAST(sum(p.support) AS BIGINT) AS score
         |  FROM histc h JOIN evalu e ON h.user_id = e.user_id
         |  JOIN ps p ON h.item = p.src
         |  GROUP BY 1, 2, 3),
         |scx AS (SELECT s.user_id, s.target, s.dst, s.score
         |  FROM sc s LEFT JOIN hist h
         |    ON h.user_id = s.user_id AND h.item = s.dst
         |  WHERE h.item IS NULL),
         |rr AS (SELECT user_id, target, dst, row_number() OVER
         |    (PARTITION BY user_id ORDER BY score DESC, dst) AS rk2
         |  FROM scx),
         |hr AS (SELECT user_id, min(rk2) AS hit_rk FROM rr
         |  WHERE dst = target GROUP BY 1),
         |arms AS (SELECT e.user_id, h.hit_rk, k
         |  FROM evalu e LEFT JOIN hr h USING (user_id)
         |  CROSS JOIN (SELECT UNNEST(list_value(${
             RecEvalKs.mkString(", ")})) AS k) ks)
         |SELECT k, count(*) AS n_users,
         |  CAST(sum(CASE WHEN hit_rk <= k THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_hits,
         |  round(CAST(sum(CASE WHEN hit_rk <= k THEN 1 ELSE 0 END)
         |    AS DOUBLE) / count(*), 9) AS hit_rate
         |FROM arms GROUP BY 1 ORDER BY 1""".stripMargin,
    // exact dyadic weights (1 << shift) summed in DECIMAL(38,0),
    // shipped as hi/lo BIGINT halves (Wide.sql, gate-safe) — the
    // q149 discipline; both engines share the << operator and the
    // closing division by the exact double 2^60
    "q161_decayed_popularity" ->
      s"""WITH it AS (SELECT CAST(NULLIF(regexp_extract(props,
         |      '"k":\\s*(\\d+)', 1), '') AS INT) AS item,
         |    CAST(ts AS DATE) AS d FROM events),
         |base AS (SELECT item, d FROM it WHERE item IS NOT NULL),
         |mx AS (SELECT max(d) AS mxd FROM base),
         |aged AS (SELECT item, date_diff('day', d, mxd) AS age
         |  FROM base CROSS JOIN mx),
         |agg AS (SELECT item, count(*) AS n_events,
         |    CAST(sum(CAST(CASE WHEN 60 - age BETWEEN 0 AND 60
         |      THEN (CAST(1 AS BIGINT) << CAST(60 - age AS INT))
         |      ELSE 0 END AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS w_daily,
         |    CAST(sum(CAST(CASE WHEN 60 - (age // 7) BETWEEN 0 AND 60
         |      THEN (CAST(1 AS BIGINT) << CAST(60 - (age // 7) AS INT))
         |      ELSE 0 END AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS w_weekly
         |  FROM aged GROUP BY 1),
         |top AS (SELECT * FROM agg
         |  ORDER BY w_weekly DESC, w_daily DESC, item LIMIT $DecayTopK)
         |SELECT CAST(row_number() OVER
         |    (ORDER BY w_weekly DESC, w_daily DESC, item) AS INT) AS rank,
         |  item, n_events,
         |  ${Wide.sql.hi62("w_daily")} AS w_daily_hi,
         |  ${Wide.sql.lo62("w_daily")} AS w_daily_lo,
         |  ${Wide.sql.hi62("w_weekly")} AS w_weekly_hi,
         |  ${Wide.sql.lo62("w_weekly")} AS w_weekly_lo,
         |  round(CAST(w_daily AS DOUBLE) / 1152921504606846976.0, 9)
         |    AS score_daily,
         |  round(CAST(w_weekly AS DOUBLE) / 1152921504606846976.0, 9)
         |    AS score_weekly
         |FROM top ORDER BY rank""".stripMargin,
    // dense grid (absent cells contribute their expectation), per-cell
    // term the same fixed IEEE sequence rounded 9 dp, summed in
    // DECIMAL(38,12); V closes with one division and one sqrt
    "q169_cramers_v" ->
      s"""WITH cells AS (SELECT lang, source, count(*) AS o
         |  FROM documents GROUP BY 1, 2),
         |rm AS (SELECT lang, CAST(sum(o) AS BIGINT) AS r FROM cells GROUP BY 1),
         |cm AS (SELECT source, CAST(sum(o) AS BIGINT) AS c FROM cells GROUP BY 1),
         |tot AS (SELECT CAST(sum(o) AS BIGINT) AS n,
         |    count(*) AS n_filled FROM cells),
         |dims AS (SELECT (SELECT count(*) FROM rm) AS n_langs,
         |    (SELECT count(*) FROM cm) AS n_sources),
         |grid AS (SELECT rm.lang, cm.source, rm.r, cm.c,
         |    coalesce(cells.o, 0) AS o
         |  FROM rm CROSS JOIN cm
         |  LEFT JOIN cells ON cells.lang = rm.lang AND cells.source = cm.source),
         |x AS (SELECT CAST(sum(CAST(round(
         |      (CAST(o AS DOUBLE) * n - CAST(r AS DOUBLE) * c)
         |      * (CAST(o AS DOUBLE) * n - CAST(r AS DOUBLE) * c)
         |      / (CAST(n AS DOUBLE) * r * c), 9) AS DECIMAL(38,12)))
         |    AS DOUBLE) AS chi2
         |  FROM grid CROSS JOIN tot)
         |SELECT n, n_langs, n_sources, n_filled, round(chi2, 9) AS chi2,
         |  round(sqrt(chi2 / (CAST(n AS DOUBLE)
         |    * CAST(least(n_langs - 1, n_sources - 1) AS DOUBLE))), 9)
         |    AS cramers_v
         |FROM x CROSS JOIN tot CROSS JOIN dims""".stripMargin,
    // weekly cent-exact sums; mean comparisons cross-multiplied to
    // integers, so the statistic never accumulates a float
    "q128_trend_mk" ->
      """WITH e AS (
        |  SELECT event_type,
        |    date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) // 7 AS wk,
        |    CAST(round(value * 100) AS BIGINT) AS cents
        |  FROM events),
        |w AS (SELECT event_type, wk, CAST(sum(cents) AS BIGINT) AS s,
        |    count(*) AS c
        |  FROM e GROUP BY 1, 2),
        |p AS (SELECT a.event_type,
        |    CASE WHEN b.s * a.c - a.s * b.c > 0 THEN 1
        |         WHEN b.s * a.c - a.s * b.c < 0 THEN -1 ELSE 0 END AS sg
        |  FROM w a JOIN w b ON a.event_type = b.event_type AND a.wk < b.wk),
        |wc AS (SELECT event_type, count(*) AS n_weeks FROM w GROUP BY 1),
        |mk AS (SELECT event_type, CAST(sum(sg) AS BIGINT) AS mk_stat
        |  FROM p GROUP BY 1)
        |SELECT wc.event_type, wc.n_weeks, coalesce(mk.mk_stat, 0) AS mk_stat,
        |  CASE WHEN coalesce(mk.mk_stat, 0) > 0 THEN 'rising'
        |       WHEN coalesce(mk.mk_stat, 0) < 0 THEN 'falling'
        |       ELSE 'flat' END AS trend
        |FROM wc LEFT JOIN mk ON mk.event_type = wc.event_type
        |ORDER BY wc.event_type""".stripMargin,
    // decile cuts as exact quantile_cont twins of the engine's
    // percentile (the q34 discipline); bin = count of boundaries ≤ v
    "q123_decile_bins" -> {
      val cuts = (1 to 9).map(i => i / 10.0).mkString("[", ", ", "]::DOUBLE[]")
      s"""WITH b AS (
         |  SELECT event_type, quantile_cont(value, $cuts) AS bnds
         |  FROM events GROUP BY 1),
         |a AS (
         |  SELECT e.event_type,
         |    CAST(len(list_filter(b.bnds, x -> x <= e.value)) AS INT) AS decile,
         |    e.value
         |  FROM events e JOIN b USING (event_type))
         |SELECT event_type, decile, count(*) AS n,
         |  min(value) AS min_value, max(value) AS max_value,
         |  CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) / count(*) AS mean_value
         |FROM a GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
    },
    // unoriented 3-way closure — each triangle a<b<c matched once; the
    // engine's degree-oriented plan exists for the m^{3/2} bound, not
    // for different answers
    "q110_item_triangles" ->
      s"""WITH $uiCte,
         |e AS (
         |  SELECT a.item AS u, b.item AS v
         |  FROM ui a JOIN ui b ON a.user_id = b.user_id AND a.item < b.item
         |  GROUP BY 1, 2 HAVING count(*) >= $TriMinSupport),
         |t AS (
         |  SELECT e1.u AS a, e1.v AS b, e2.v AS c
         |  FROM e e1 JOIN e e2 ON e2.u = e1.v
         |  JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v),
         |m AS (
         |  SELECT a AS item FROM t
         |  UNION ALL SELECT b AS item FROM t
         |  UNION ALL SELECT c AS item FROM t)
         |SELECT item, count(*) AS n_triangles FROM m GROUP BY item
         |ORDER BY n_triangles DESC, item LIMIT $TriTopK""".stripMargin,
    "q112_skew_audit" ->
      s"""WITH c AS (SELECT user_id, count(*) AS cnt FROM events GROUP BY 1),
         |s AS (SELECT quantile_cont(cnt, 0.5) AS med, sum(cnt) AS total FROM c)
         |SELECT user_id, cnt, round(cnt / CAST(total AS DOUBLE), 9) AS share,
         |  cnt > $SkewHotFactor * med AS is_hot,
         |  greatest(1, CAST(ceil(cnt / med) AS BIGINT)) AS salt_factor
         |FROM c, s ORDER BY cnt DESC, user_id LIMIT $SkewTopK""".stripMargin,
    "q113_join_cardinality" -> {
      def h32 = TextFns.sql.hash32("k")
      s"""WITH le AS (SELECT CAST(user_id AS VARCHAR) AS k FROM events),
         |j1 AS (
         |  SELECT lc.k AS k, cl * cr AS p
         |  FROM (SELECT k, count(*) AS cl FROM le GROUP BY 1) lc
         |  JOIN (SELECT k, count(*) AS cr FROM le GROUP BY 1) rc ON lc.k = rc.k),
         |a1 AS (
         |  SELECT CAST(sum(p) AS BIGINT) AS exact_rows,
         |    CAST(coalesce(sum(CASE WHEN $h32 % $CardSampleMod = 0 THEN p END), 0)
         |      AS BIGINT) AS sp
         |  FROM j1),
         |lo AS (SELECT CAST(o_orderkey AS VARCHAR) AS k FROM orders),
         |ll AS (SELECT CAST(l_orderkey AS VARCHAR) AS k FROM lineitem),
         |j2 AS (
         |  SELECT lc.k AS k, cl * cr AS p
         |  FROM (SELECT k, count(*) AS cl FROM lo GROUP BY 1) lc
         |  JOIN (SELECT k, count(*) AS cr FROM ll GROUP BY 1) rc ON lc.k = rc.k),
         |a2 AS (
         |  SELECT CAST(sum(p) AS BIGINT) AS exact_rows,
         |    CAST(coalesce(sum(CASE WHEN $h32 % $CardSampleMod = 0 THEN p END), 0)
         |      AS BIGINT) AS sp
         |  FROM j2)
         |SELECT 'events_self_user' AS join_name, exact_rows,
         |  sp * $CardSampleMod AS est_rows,
         |  round(CAST(abs(sp * $CardSampleMod - exact_rows) AS DOUBLE)
         |    / exact_rows, 9) AS rel_err
         |FROM a1
         |UNION ALL
         |SELECT 'orders_lineitem' AS join_name, exact_rows,
         |  sp * $CardSampleMod AS est_rows,
         |  round(CAST(abs(sp * $CardSampleMod - exact_rows) AS DOUBLE)
         |    / exact_rows, 9) AS rel_err
         |FROM a2
         |ORDER BY join_name""".stripMargin
    },
    "q106_assoc_rules" ->
      s"""WITH $uiCte,
         |n AS (SELECT count(DISTINCT user_id) AS n FROM ui),
         |icnt AS (SELECT item, count(*) AS cnt FROM ui GROUP BY 1),
         |pr AS (SELECT a.item AS u, b.item AS v, count(*) AS w
         |  FROM ui a JOIN ui b ON a.user_id = b.user_id AND a.item < b.item
         |  GROUP BY 1, 2),
         |rules AS (SELECT u, v, w FROM pr UNION ALL SELECT v, u, w FROM pr)
         |SELECT r.u AS item_a, r.v AS item_b, r.w AS n_both, ia.cnt AS n_a,
         |  round(CAST(r.w AS DOUBLE) / n.n, 9) AS support,
         |  round(CAST(r.w AS DOUBLE) / ia.cnt, 9) AS confidence,
         |  round((CAST(r.w AS DOUBLE) / ia.cnt) / (CAST(ib.cnt AS DOUBLE) / n.n), 9) AS lift
         |FROM rules r
         |JOIN icnt ia ON ia.item = r.u
         |JOIN icnt ib ON ib.item = r.v
         |CROSS JOIN n
         |WHERE r.w >= $RuleMinPairs
         |ORDER BY lift DESC, confidence DESC, item_a, item_b
         |LIMIT $RuleTopK""".stripMargin,
    // five exact integer moments in HUGEINT (the engine's native
    // 128-bit), two sqrts and one division at the close; NULLIF guards
    // a zero-variance metric
    // q149's moment discipline over DOUBLED mid-ranks (exact integers)
    "q219_spearman_corr" ->
      s"""WITH per AS (
         |  SELECT user_id,
         |    CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS x,
         |    CAST(sum(CASE WHEN event_type = 'purchase'
         |        THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END) AS BIGINT) AS y
         |  FROM events GROUP BY 1),
         |vx AS (SELECT x, count(*) AS cnt FROM per GROUP BY 1),
         |rx AS (SELECT x, 2 * (sum(cnt) OVER (ORDER BY x
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - cnt + 1)
         |    + cnt - 1 AS dx FROM vx),
         |vy AS (SELECT y, count(*) AS cnt FROM per GROUP BY 1),
         |ry AS (SELECT y, 2 * (sum(cnt) OVER (ORDER BY y
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - cnt + 1)
         |    + cnt - 1 AS dy FROM vy),
         |j AS (SELECT per.user_id, rx.dx, ry.dy
         |  FROM per JOIN rx ON rx.x = per.x JOIN ry ON ry.y = per.y),
         |s AS (SELECT count(*) AS n,
         |    CAST(sum(CAST(dx AS HUGEINT)) AS HUGEINT) AS sx,
         |    CAST(sum(CAST(dy AS HUGEINT)) AS HUGEINT) AS sy,
         |    CAST(sum(CAST(dx AS HUGEINT) * CAST(dy AS HUGEINT)) AS HUGEINT) AS sxy,
         |    CAST(sum(CAST(dx AS HUGEINT) * CAST(dx AS HUGEINT)) AS HUGEINT) AS sxx,
         |    CAST(sum(CAST(dy AS HUGEINT) * CAST(dy AS HUGEINT)) AS HUGEINT) AS syy
         |  FROM j)
         |SELECT n AS n_users,
         |  round(CAST(CAST(n AS HUGEINT) * sxy - sx * sy AS DOUBLE)
         |    / NULLIF(sqrt(CAST(CAST(n AS HUGEINT) * sxx - sx * sx AS DOUBLE))
         |      * sqrt(CAST(CAST(n AS HUGEINT) * syy - sy * sy AS DOUBLE)), 0), 9) AS spearman_rho
         |FROM s""".stripMargin,
    "q149_metric_corr" ->
      s"""WITH per AS (
         |  SELECT user_id,
         |    CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS x,
         |    CAST(sum(CASE WHEN event_type = 'purchase'
         |        THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END) AS BIGINT) AS y
         |  FROM events GROUP BY 1),
         |s AS (SELECT count(*) AS n,
         |    CAST(sum(CAST(x AS HUGEINT)) AS HUGEINT) AS sx,
         |    CAST(sum(CAST(y AS HUGEINT)) AS HUGEINT) AS sy,
         |    CAST(sum(CAST(x AS HUGEINT) * CAST(y AS HUGEINT)) AS HUGEINT) AS sxy,
         |    CAST(sum(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) AS HUGEINT) AS sxx,
         |    CAST(sum(CAST(y AS HUGEINT) * CAST(y AS HUGEINT)) AS HUGEINT) AS syy
         |  FROM per)
         |SELECT n AS n_users, CAST(sx AS BIGINT) AS sum_clicks,
         |  CAST(sy AS BIGINT) AS sum_purchase_cents,
         |  round(CAST(CAST(n AS HUGEINT) * sxy - sx * sy AS DOUBLE)
         |    / NULLIF(sqrt(CAST(CAST(n AS HUGEINT) * sxx - sx * sx AS DOUBLE))
         |      * sqrt(CAST(CAST(n AS HUGEINT) * syy - sy * sy AS DOUBLE)), 0), 9) AS pearson_r
         |FROM s""".stripMargin,
    // dense 1..9 digit grid (absent digits contribute |0 − p_k|);
    // Benford expectations as CAST(…AS DOUBLE) literals; TV distance
    // through the DECIMAL accumulator
    "q150_benford_audit" -> {
      val bp = BenfordP.map(v => s"CAST($v AS DOUBLE)")
        .mkString("list_value(", ", ", ")")
      s"""WITH c AS (
         |  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS cents
         |  FROM events),
         |d AS (SELECT event_type,
         |    CAST(substring(CAST(cents AS VARCHAR), 1, 1) AS INT) AS digit,
         |    count(*) AS c
         |  FROM c WHERE cents >= 1 GROUP BY 1, 2),
         |t AS (SELECT event_type, CAST(sum(c) AS BIGINT) AS n FROM d GROUP BY 1),
         |g AS (SELECT t.event_type, t.n, CAST(i + 1 AS INT) AS digit
         |  FROM t CROSS JOIN (SELECT UNNEST(range(9)) AS i) ii),
         |gg AS (SELECT g.event_type, g.digit, g.n,
         |    coalesce(d.c, 0) AS n_d,
         |    CAST(coalesce(d.c, 0) AS DOUBLE) / CAST(g.n AS DOUBLE) AS share,
         |    list_extract($bp, g.digit) AS benford_p
         |  FROM g LEFT JOIN d ON d.event_type = g.event_type AND d.digit = g.digit),
         |tv AS (SELECT event_type,
         |    CAST(sum(CAST(abs(share - benford_p) AS DECIMAL(38,12))) AS DOUBLE)
         |      * CAST(0.5 AS DOUBLE) AS tvr
         |  FROM gg GROUP BY 1)
         |SELECT gg.event_type, gg.digit, gg.n_d,
         |  round(gg.share, 9) AS share,
         |  round(gg.benford_p, 9) AS benford_p,
         |  round(tv.tvr, 9) AS tv_distance,
         |  (tv.tvr <= $BenfordTvMax) AS benford_ok
         |FROM gg JOIN tv ON tv.event_type = gg.event_type
         |ORDER BY gg.event_type, gg.digit""".stripMargin
    },
    // integer partial counts merged associatively; interpolation
    // mirrored token-for-token; target-bin pick compares identical
    // doubles
    "q148_quantile_rollup" -> {
      def estCte(p: String, cte: String, name: String) =
        s"""$cte AS (SELECT event_type, round(CAST(bucket AS DOUBLE) * $HistWidth
           |      + ($p * CAST(n AS DOUBLE) - CAST(cum - c AS DOUBLE))
           |        / CAST(c AS DOUBLE) * $HistWidth, 9) AS $name
           |  FROM (SELECT *, row_number() OVER
           |      (PARTITION BY event_type ORDER BY bucket) AS rn
           |    FROM cm WHERE CAST(cum AS DOUBLE) >= $p * CAST(n AS DOUBLE)) x
           |  WHERE rn = 1)""".stripMargin
      s"""WITH b AS (
         |  SELECT event_type, CAST(ts AS DATE) AS day,
         |    least(greatest(CAST(floor(value / $HistWidth) AS INT), 0), ${HistBins - 1}) AS bucket
         |  FROM events WHERE value IS NOT NULL),
         |daily AS (SELECT event_type, day, bucket, count(*) AS c
         |  FROM b GROUP BY 1, 2, 3),
         |m AS (SELECT event_type, bucket, CAST(sum(c) AS BIGINT) AS c
         |  FROM daily GROUP BY 1, 2),
         |cm AS (SELECT *,
         |    CAST(sum(c) OVER (PARTITION BY event_type ORDER BY bucket) AS BIGINT) AS cum,
         |    CAST(sum(c) OVER (PARTITION BY event_type) AS BIGINT) AS n
         |  FROM m),
         |${estCte("0.5", "e50", "est_p50")},
         |${estCte("0.9", "e90", "est_p90")},
         |ex AS (SELECT event_type, count(*) AS n,
         |    round(quantile_cont(value, 0.5), 9) AS exact_p50,
         |    round(quantile_cont(value, 0.9), 9) AS exact_p90
         |  FROM events WHERE value IS NOT NULL GROUP BY 1)
         |SELECT ex.event_type, ex.n, e50.est_p50, ex.exact_p50,
         |  e90.est_p90, ex.exact_p90
         |FROM ex
         |JOIN e50 ON e50.event_type = ex.event_type
         |JOIN e90 ON e90.event_type = ex.event_type
         |ORDER BY ex.event_type""".stripMargin
    },
    // integer cohort/conversion counts; p̂ and z as one fixed sequence
    // of correctly-rounded IEEE ops, mirrored token-for-token; the
    // significance boolean compares the UNROUNDED z on both engines
    "q147_conversion_z" ->
      s"""WITH u AS (
         |  SELECT user_id,
         |    ${TextFns.sql.hash32("'ab|' || CAST(user_id AS VARCHAR)")} % 2 AS cohort,
         |    CASE WHEN sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) >= $AbConvMin
         |         THEN 1 ELSE 0 END AS conv
         |  FROM events GROUP BY 1, 2),
         |arms AS (SELECT cohort, count(*) AS n, CAST(sum(conv) AS BIGINT) AS x
         |  FROM u GROUP BY 1),
         |a AS (SELECT n AS n_a, x AS x_a FROM arms WHERE cohort = 0),
         |b AS (SELECT n AS n_b, x AS x_b FROM arms WHERE cohort = 1),
         |s AS (
         |  SELECT n_a, x_a, n_b, x_b,
         |    CAST(x_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS pa,
         |    CAST(x_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS pb,
         |    CAST(x_a + x_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE) AS pp
         |  FROM a CROSS JOIN b),
         |zc AS (
         |  SELECT *, (pa - pb) / NULLIF(sqrt(pp * (CAST(1 AS DOUBLE) - pp)
         |      * (CAST(1 AS DOUBLE) / CAST(n_a AS DOUBLE)
         |         + CAST(1 AS DOUBLE) / CAST(n_b AS DOUBLE))), 0) AS z_raw
         |  FROM s)
         |SELECT n_a, x_a, n_b, x_b,
         |  round(pa, 9) AS p_a, round(pb, 9) AS p_b,
         |  round(z_raw, 9) AS z,
         |  (abs(z_raw) > CAST($AbZCrit AS DOUBLE)) AS significant
         |FROM zc""".stripMargin,
    // Poisson multiplicity = count of 2^60-space integer thresholds
    // the row hash clears (no float CDF compare); integer cents to one
    // division per replicate; percentile ≡ quantile_cont
    "q145_bootstrap_ci" -> {
      val thr = BootPoisThresh.mkString("list_value(", ", ", ")")
      s"""WITH base AS (
         |  SELECT event_type, event_id,
         |    CAST(round(value * 100) AS BIGINT) AS cents
         |  FROM events),
         |rep AS (
         |  SELECT event_type, b, cents,
         |    ${TextFns.sql.hash60(
              "'bs|' || CAST(b AS VARCHAR) || '|' || CAST(event_id AS VARCHAR)")} AS h
         |  FROM (SELECT event_type, event_id, cents, UNNEST(range($BootB)) AS b
         |    FROM base) x),
         |mrep AS (
         |  SELECT event_type, b, cents,
         |    CAST(len(list_filter($thr, t -> h >= t)) AS BIGINT) AS m
         |  FROM rep),
         |ag AS (SELECT event_type, b, CAST(sum(m * cents) AS BIGINT) AS s,
         |    CAST(sum(m) AS BIGINT) AS c
         |  FROM mrep GROUP BY 1, 2),
         |means AS (SELECT event_type,
         |    CAST(s AS DOUBLE) / CAST(NULLIF(c, 0) AS DOUBLE) AS mean_b
         |  FROM ag),
         |ci AS (SELECT event_type,
         |    round(quantile_cont(mean_b, 0.025), 9) AS ci_lo_cents,
         |    round(quantile_cont(mean_b, 0.975), 9) AS ci_hi_cents
         |  FROM means GROUP BY 1),
         |pt AS (SELECT event_type, count(*) AS n,
         |    round(CAST(sum(cents) AS DOUBLE) / CAST(count(*) AS DOUBLE), 9) AS mean_cents
         |  FROM base GROUP BY 1)
         |SELECT pt.event_type, pt.n, pt.mean_cents, ci.ci_lo_cents, ci.ci_hi_cents
         |FROM pt JOIN ci ON ci.event_type = pt.event_type
         |ORDER BY pt.event_type""".stripMargin
    },
    // count-min partials per (day, seed, bucket), associative sum
    // merge, min-over-seeds probe for the exact top-k; counts stay
    // BIGINT except the merge sum (CAST back from HUGEINT)
    "q155_heavy_hitters" -> {
      val seeds = s"(SELECT unnest(range($CmSeeds)) AS seed)"
      def bkt(user: String) = TextFns.sql.hash32(
        s"'cm' || CAST(seed AS VARCHAR) || '|' || CAST($user AS VARCHAR)") +
        s" % $CmW"
      s"""WITH daily AS (
         |  SELECT user_id, CAST(ts AS DATE) AS day FROM events),
         |part AS (
         |  SELECT day, seed, ${bkt("user_id")} AS bucket, count(*) AS c
         |  FROM daily CROSS JOIN $seeds s
         |  GROUP BY 1, 2, 3),
         |merged AS (
         |  SELECT seed, bucket, CAST(sum(c) AS BIGINT) AS c
         |  FROM part GROUP BY 1, 2),
         |ex AS (SELECT user_id, count(*) AS n_exact FROM daily GROUP BY 1),
         |top AS (SELECT * FROM ex ORDER BY n_exact DESC, user_id LIMIT $HhK),
         |probe AS (
         |  SELECT t.user_id, t.n_exact, seed, ${bkt("t.user_id")} AS bucket
         |  FROM top t CROSS JOIN $seeds s),
         |est AS (
         |  SELECT p.user_id, p.n_exact, min(m.c) AS est_cm
         |  FROM probe p JOIN merged m
         |    ON m.seed = p.seed AND m.bucket = p.bucket
         |  GROUP BY 1, 2)
         |SELECT CAST(row_number() OVER (ORDER BY n_exact DESC, user_id) AS INT)
         |    AS rank,
         |  user_id, n_exact, est_cm, est_cm - n_exact AS over_count
         |FROM est ORDER BY rank""".stripMargin
    },
    // theta-sketch pair algebra over the q138 per-type sketches:
    // retained = ranks < theta (the saturated kth is excluded),
    // intersect/union under theta = least of the pair, estimates are
    // count · 2^60 / theta (count·2^60 exact in double — power-of-two
    // scaling); exact gauges stay BIGINT (additions don't widen)
    "q156_audience_overlap" ->
      s"""WITH dh AS (
         |  SELECT DISTINCT event_type,
         |    ${TextFns.sql.hash60("'sk|' || CAST(user_id AS VARCHAR)")} AS h
         |  FROM events),
         |rk AS (
         |  SELECT event_type, h FROM (
         |    SELECT *, row_number() OVER
         |      (PARTITION BY event_type ORDER BY h) AS rn FROM dh) x
         |  WHERE rn <= $SkK),
         |th AS (
         |  SELECT event_type,
         |    CASE WHEN count(*) < $SkK THEN $ThetaMax ELSE max(h) END AS theta
         |  FROM rk GROUP BY 1),
         |kept AS (
         |  SELECT r.event_type, r.h FROM rk r
         |  JOIN th t ON t.event_type = r.event_type WHERE r.h < t.theta),
         |pairs AS (
         |  SELECT a.event_type AS type_a, b.event_type AS type_b,
         |    least(a.theta, b.theta) AS theta
         |  FROM th a JOIN th b ON a.event_type < b.event_type),
         |cm AS (
         |  SELECT p.type_a, p.type_b, count(*) AS n_common
         |  FROM kept x JOIN kept y
         |    ON y.h = x.h AND x.event_type < y.event_type
         |  JOIN pairs p
         |    ON p.type_a = x.event_type AND p.type_b = y.event_type
         |  WHERE x.h < p.theta GROUP BY 1, 2),
         |un AS (
         |  SELECT p.type_a, p.type_b, count(DISTINCT k.h) AS n_union
         |  FROM pairs p JOIN kept k
         |    ON k.event_type IN (p.type_a, p.type_b)
         |  WHERE k.h < p.theta GROUP BY 1, 2),
         |ex AS (SELECT DISTINCT event_type, user_id FROM events),
         |ei AS (
         |  SELECT a.event_type AS type_a, b.event_type AS type_b,
         |    count(*) AS n_exact_inter
         |  FROM ex a JOIN ex b
         |    ON b.user_id = a.user_id AND a.event_type < b.event_type
         |  GROUP BY 1, 2),
         |en AS (SELECT event_type, count(*) AS n FROM ex GROUP BY 1)
         |SELECT p.type_a, p.type_b,
         |  coalesce(ei.n_exact_inter, 0) AS n_exact_inter,
         |  na.n + nb.n - coalesce(ei.n_exact_inter, 0) AS n_exact_union,
         |  coalesce(cm.n_common, 0) AS n_common, un.n_union, p.theta,
         |  CAST(coalesce(cm.n_common, 0) AS DOUBLE) * ${ThetaMax.toDouble}
         |    / CAST(p.theta AS DOUBLE) AS est_inter,
         |  CAST(un.n_union AS DOUBLE) * ${ThetaMax.toDouble}
         |    / CAST(p.theta AS DOUBLE) AS est_union,
         |  round(CAST(coalesce(cm.n_common, 0) AS DOUBLE)
         |    / CAST(un.n_union AS DOUBLE), 6) AS est_jaccard
         |FROM pairs p
         |JOIN un ON un.type_a = p.type_a AND un.type_b = p.type_b
         |LEFT JOIN cm ON cm.type_a = p.type_a AND cm.type_b = p.type_b
         |LEFT JOIN ei ON ei.type_a = p.type_a AND ei.type_b = p.type_b
         |JOIN en na ON na.event_type = p.type_a
         |JOIN en nb ON nb.event_type = p.type_b
         |ORDER BY p.type_a, p.type_b""".stripMargin,
    // per-day KMV partials then the exact-merge: k smallest of the
    // union of per-day k-minima ≡ k smallest overall; ties impossible
    // (rank orders distinct hashes)
    "q138_sketch_rollup" ->
      s"""WITH u AS (
         |  SELECT DISTINCT event_type, CAST(ts AS DATE) AS day,
         |    ${TextFns.sql.hash60("'sk|' || CAST(user_id AS VARCHAR)")} AS h
         |  FROM events),
         |daily AS (
         |  SELECT event_type, day, h FROM (
         |    SELECT *, row_number() OVER
         |      (PARTITION BY event_type, day ORDER BY h) AS rn FROM u) x
         |  WHERE rn <= $SkK),
         |m AS (SELECT DISTINCT event_type, h FROM daily),
         |mk AS (
         |  SELECT event_type, h FROM (
         |    SELECT *, row_number() OVER
         |      (PARTITION BY event_type ORDER BY h) AS rn FROM m) y
         |  WHERE rn <= $SkK),
         |sk AS (SELECT event_type, count(*) AS n_k, max(h) AS kth_min
         |  FROM mk GROUP BY 1),
         |nd AS (SELECT event_type, count(DISTINCT day) AS n_days
         |  FROM daily GROUP BY 1),
         |ex AS (SELECT event_type, count(DISTINCT user_id) AS n_exact
         |  FROM events GROUP BY 1)
         |SELECT sk.event_type, nd.n_days, ex.n_exact, sk.n_k, sk.kth_min,
         |  CASE WHEN sk.n_k < $SkK THEN CAST(sk.n_k AS DOUBLE)
         |       ELSE ${(SkK - 1).toDouble * 1152921504606846976.0} / CAST(sk.kth_min AS DOUBLE)
         |  END AS est_distinct
         |FROM sk JOIN nd ON nd.event_type = sk.event_type
         |JOIN ex ON ex.event_type = sk.event_type
         |ORDER BY sk.event_type""".stripMargin,
    "q140_label_communities" -> {
      // unrolled synchronous rounds: sI scores incident weight per
      // neighbor label, pI takes the total-order argmax, lI folds
      // isolated nodes back via the left join — the DataFrame loop
      // body verbatim
      val rounds = (1 to LpRounds).map { r =>
        val prev = if (r == 1) "l0" else s"l${r - 1}"
        s"""s$r AS (SELECT e.u, l.label, CAST(sum(e.w) AS BIGINT) AS s
           |  FROM e JOIN $prev l ON l.item = e.v GROUP BY 1, 2),
           |p$r AS (SELECT u, label FROM (
           |    SELECT *, row_number() OVER
           |      (PARTITION BY u ORDER BY s DESC, label) AS rn FROM s$r) x
           |  WHERE rn = 1),
           |l$r AS (SELECT l.item, coalesce(p.label, l.label) AS label
           |  FROM $prev l LEFT JOIN p$r p ON p.u = l.item)""".stripMargin
      }.mkString(",\n")
      s"""WITH $uiCte,
         |pw AS (SELECT a.item AS u, b.item AS v, count(*) AS w
         |  FROM ui a JOIN ui b ON a.user_id = b.user_id AND a.item < b.item
         |  GROUP BY 1, 2),
         |thr AS (SELECT quantile_cont(w, $LpEdgeQuantile) AS t FROM pw),
         |pr AS (SELECT u, v, w FROM pw CROSS JOIN thr WHERE w > t),
         |e AS (SELECT u, v, w FROM pr UNION ALL SELECT v, u, w FROM pr),
         |l0 AS (SELECT DISTINCT item, item AS label FROM ui),
         |$rounds,
         |sz AS (SELECT label, count(*) AS community_size
         |  FROM l$LpRounds GROUP BY 1)
         |SELECT l.item, l.label AS community, sz.community_size
         |FROM l$LpRounds l JOIN sz ON sz.label = l.label
         |ORDER BY community, item""".stripMargin
    },
    // wedge-generated candidates, adjacency removed by anti join;
    // integer counts, one closing division
    "q142_link_prediction" ->
      s"""WITH $uiCte,
         |pw AS (SELECT a.item AS u, b.item AS v, count(*) AS w
         |  FROM ui a JOIN ui b ON a.user_id = b.user_id AND a.item < b.item
         |  GROUP BY 1, 2),
         |thr AS (SELECT quantile_cont(w, $LpEdgeQuantile) AS t FROM pw),
         |pr AS (SELECT u, v FROM pw CROSS JOIN thr WHERE w > t),
         |e AS (SELECT u, v FROM pr UNION ALL SELECT v, u FROM pr),
         |deg AS (SELECT u, count(*) AS d FROM e GROUP BY 1),
         |wdg AS (SELECT x.v AS a, y.v AS b, count(*) AS n_common
         |  FROM e x JOIN e y ON x.u = y.u AND x.v < y.v
         |  GROUP BY 1, 2),
         |cand AS (SELECT w.* FROM wdg w
         |  LEFT JOIN pr p ON p.u = w.a AND p.v = w.b
         |  WHERE p.u IS NULL)
         |SELECT c.a AS item_a, c.b AS item_b, c.n_common,
         |  da.d AS deg_a, db.d AS deg_b,
         |  round(CAST(c.n_common AS DOUBLE)
         |    / CAST(da.d + db.d - c.n_common AS DOUBLE), 9) AS jaccard
         |FROM cand c
         |JOIN deg da ON da.u = c.a
         |JOIN deg db ON db.u = c.b
         |ORDER BY jaccard DESC, n_common DESC, item_a, item_b
         |LIMIT $LinkTopK""".stripMargin,
    "q103_item_pagerank" -> {
      // unrolled damped iterations: cI/pI mirror the DataFrame loop
      // body exactly (same op order, same DECIMAL accumulator)
      val iters = (1 to PrIters).map { i =>
        val prev = if (i == 1) "p0" else s"p${i - 1}"
        s"""c$i AS (SELECT t.v,
           |    CAST(sum(CAST(p.p * t.frac AS DECIMAL(38,12))) AS DOUBLE) AS cs
           |  FROM trans t JOIN $prev p ON p.item = t.u GROUP BY t.v),
           |p$i AS (SELECT i.item,
           |    (CAST(1.0 AS DOUBLE) - $PrDamp) / n.n + $PrDamp * COALESCE(c$i.cs, 0.0) AS p
           |  FROM items i CROSS JOIN n LEFT JOIN c$i ON c$i.v = i.item)"""
          .stripMargin
      }.mkString(",\n")
      s"""WITH $uiCte,
         |pr AS (SELECT a.item AS u, b.item AS v, count(*) AS w
         |  FROM ui a JOIN ui b ON a.user_id = b.user_id AND a.item < b.item
         |  GROUP BY 1, 2),
         |edges AS (SELECT u, v, w FROM pr UNION ALL SELECT v, u, w FROM pr),
         |deg AS (SELECT u, CAST(sum(w) AS BIGINT) AS wu, count(*) AS n_neighbors
         |  FROM edges GROUP BY u),
         |items AS (SELECT DISTINCT item FROM ui),
         |n AS (SELECT count(*) AS n FROM items),
         |trans AS (SELECT e.u, e.v, CAST(e.w AS DOUBLE) / CAST(d.wu AS DOUBLE) AS frac
         |  FROM edges e JOIN deg d ON d.u = e.u),
         |p0 AS (SELECT item, CAST(1.0 AS DOUBLE) / n.n AS p FROM items CROSS JOIN n),
         |$iters
         |SELECT p$PrIters.item, COALESCE(d.n_neighbors, 0) AS n_neighbors,
         |  round(p$PrIters.p, 9) AS pagerank
         |FROM p$PrIters LEFT JOIN deg d ON d.u = p$PrIters.item
         |ORDER BY pagerank DESC, item LIMIT $PrTopK""".stripMargin
    },
    "q98_revenue_attribution" ->
      s"""WITH ev AS (
         |  SELECT event_id, user_id, ts, event_type, value,
         |    CAST(NULLIF(regexp_extract(props, '"k":\\s*(\\d+)', 1), '') AS INT) AS item
         |  FROM events),
         |f AS (
         |  SELECT * FROM ev
         |  WHERE event_type = 'purchase'
         |     OR (event_type = 'click' AND item IS NOT NULL)),
         |w AS (
         |  SELECT *,
         |    last_value(CASE WHEN event_type = 'click' THEN ts END IGNORE NULLS) OVER
         |      (PARTITION BY user_id ORDER BY ts, event_id
         |       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_click_ts,
         |    last_value(CASE WHEN event_type = 'click' THEN item END IGNORE NULLS) OVER
         |      (PARTITION BY user_id ORDER BY ts, event_id
         |       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_click_item
         |  FROM f),
         |p AS (
         |  SELECT CASE WHEN last_click_ts >= ts - INTERVAL $AttribWindowMin MINUTE
         |              THEN last_click_item END AS item,
         |         value
         |  FROM w WHERE event_type = 'purchase')
         |SELECT item, count(*) AS n_purchases,
         |  CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS revenue
         |FROM p GROUP BY item ORDER BY item NULLS FIRST""".stripMargin,
    "q94_retention_cohorts" ->
      """WITH first AS (
        |  SELECT user_id, CAST(date_trunc('week', min(ts)) AS DATE) AS cohort_week
        |  FROM events GROUP BY user_id),
        |act AS (
        |  SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS act_week
        |  FROM events),
        |sizes AS (SELECT cohort_week, count(*) AS n_cohort FROM first GROUP BY 1),
        |ret AS (
        |  SELECT f.cohort_week,
        |    CAST(date_diff('day', f.cohort_week, a.act_week) // 7 AS INT) AS week_offset,
        |    count(*) AS n_active
        |  FROM act a JOIN first f USING (user_id)
        |  GROUP BY 1, 2)
        |SELECT r.cohort_week, r.week_offset, s.n_cohort, r.n_active,
        |  round(CAST(r.n_active AS DOUBLE) / s.n_cohort, 9) AS retention_rate
        |FROM ret r JOIN sizes s USING (cohort_week)
        |ORDER BY cohort_week, week_offset""".stripMargin,
    "q95_value_histogram" ->
      s"""WITH b AS (
         |  SELECT event_type,
         |    least(greatest(CAST(floor(value / $HistWidth) AS INT), 0), ${HistBins - 1}) AS bucket
         |  FROM events),
         |tot AS (SELECT event_type, count(*) AS n_total FROM events GROUP BY 1),
         |h AS (SELECT event_type, bucket, count(*) AS n FROM b GROUP BY 1, 2)
         |SELECT h.event_type, h.bucket,
         |  h.bucket * CAST($HistWidth AS DOUBLE) AS lo,
         |  (h.bucket + 1) * CAST($HistWidth AS DOUBLE) AS hi,
         |  h.n, round(CAST(h.n AS DOUBLE) / t.n_total, 9) AS share
         |FROM h JOIN tot t USING (event_type)
         |ORDER BY event_type, bucket""".stripMargin,
    "q73_value_outliers" ->
      s"""WITH m AS (SELECT event_type, median(value) AS med
         |           FROM events GROUP BY 1),
         |d AS (SELECT e.event_type, m.med, abs(e.value - m.med) AS dev
         |      FROM events e JOIN m USING (event_type)),
         |md AS (SELECT event_type, median(dev) AS mad FROM d GROUP BY 1)
         |SELECT d.event_type, count(*) AS n, min(d.med) AS med, min(md.mad) AS mad,
         |  CAST(sum(CASE WHEN d.dev > $MadK * $MadC * md.mad THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_outliers,
         |  round(CAST(sum(CASE WHEN d.dev > $MadK * $MadC * md.mad THEN 1 ELSE 0 END)
         |    AS DOUBLE) / count(*), 9) AS outlier_ratio
         |FROM d JOIN md USING (event_type)
         |GROUP BY d.event_type ORDER BY d.event_type""".stripMargin,
    "q66_item_cooccurrence" ->
      s"""WITH $uiCte
         |SELECT a.item AS item_a, b.item AS item_b, count(*) AS n_users
         |FROM ui a JOIN ui b ON a.user_id = b.user_id AND a.item < b.item
         |GROUP BY 1, 2
         |ORDER BY n_users DESC, item_a, item_b
         |LIMIT $CoocTopK""".stripMargin,
    "q31_cohort_set_ops" ->
      """WITH clicks AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'click'),
        |purch AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase')
        |SELECT 'both' AS cohort, user_id FROM
        |  (SELECT user_id FROM clicks INTERSECT SELECT user_id FROM purch)
        |UNION ALL
        |SELECT 'click_only' AS cohort, user_id FROM
        |  (SELECT user_id FROM clicks EXCEPT SELECT user_id FROM purch)
        |ORDER BY cohort, user_id""".stripMargin,
    "q32_revenue_rollup" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(GROUPING(l_returnflag, l_linestatus) AS INT) AS gid,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY gid, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,
    // the CDF-gap numerator stays integer (cumA·n_b − cumB·n_a) until
    // the one closing division
    "q133_ks_test" ->
      """WITH s AS (
        |  SELECT event_type, value FROM events
        |  WHERE event_type IN ('click', 'purchase')),
        |v AS (
        |  SELECT value,
        |    sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS ca,
        |    sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS cb
        |  FROM s GROUP BY 1),
        |r AS (
        |  SELECT *,
        |    sum(ca) OVER (ORDER BY value
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cuma,
        |    sum(cb) OVER (ORDER BY value
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumb,
        |    sum(ca) OVER () AS na, sum(cb) OVER () AS nb
        |  FROM v),
        |a AS (
        |  SELECT CAST(max(na) AS BIGINT) AS na, CAST(max(nb) AS BIGINT) AS nb,
        |    CAST(max(abs(cuma * nb - cumb * na)) AS BIGINT) AS d_num
        |  FROM r)
        |SELECT 'click_vs_purchase' AS test, na, nb, d_num,
        |  round(CAST(d_num AS DOUBLE) / NULLIF(na * nb, 0), 9) AS ks_d
        |FROM a""".stripMargin,
    "q134_clustering_coeff" ->
      s"""WITH $uiCte,
         |e AS (
         |  SELECT a.item AS u, b.item AS v
         |  FROM ui a JOIN ui b ON a.user_id = b.user_id AND a.item < b.item
         |  GROUP BY 1, 2 HAVING count(*) >= $TriMinSupport),
         |t AS (
         |  SELECT e1.u AS a, e1.v AS b, e2.v AS c
         |  FROM e e1 JOIN e e2 ON e2.u = e1.v
         |  JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v),
         |dg AS (SELECT x, count(*) AS d FROM (
         |  SELECT u AS x FROM e UNION ALL SELECT v AS x FROM e) q GROUP BY 1),
         |w AS (SELECT count(*) AS n_nodes,
         |  CAST(sum(d * (d - 1)) // 2 AS BIGINT) AS n_wedges FROM dg),
         |se AS (SELECT count(*) AS n_edges FROM e),
         |st AS (SELECT count(*) AS n_triangles FROM t)
         |SELECT w.n_nodes, se.n_edges, w.n_wedges, st.n_triangles,
         |  round(CAST(st.n_triangles * 3 AS DOUBLE) / NULLIF(w.n_wedges, 0), 9)
         |    AS clustering_coeff
         |FROM w CROSS JOIN se CROSS JOIN st""".stripMargin,
    // tie groups contribute 2·avg_rank = 2·start + size − 1, so the
    // statistic is integer until the single AUC division
    "q132_mann_whitney" ->
      """WITH s AS (
        |  SELECT event_type, value FROM events
        |  WHERE event_type IN ('click', 'purchase')),
        |v AS (
        |  SELECT value,
        |    sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS ca,
        |    count(*) AS cv
        |  FROM s GROUP BY 1),
        |r AS (
        |  SELECT *, coalesce(sum(cv) OVER (ORDER BY value
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + 1 AS st
        |  FROM v),
        |a AS (
        |  SELECT CAST(sum(ca * (2 * st + cv - 1)) AS BIGINT) AS r2a,
        |    CAST(sum(ca) AS BIGINT) AS na, CAST(sum(cv - ca) AS BIGINT) AS nb
        |  FROM r)
        |SELECT 'click_vs_purchase' AS test, na, nb,
        |  r2a - na * (na + 1) AS u2,
        |  round(CAST(r2a - na * (na + 1) AS DOUBLE) / (2.0 * na * nb), 9) AS auc
        |FROM a""".stripMargin,
    "q129_asof_next_click" -> {
      val tolUs = AsofFwdToleranceMin * 60L * 1000000L
      s"""WITH ev AS (
         |  SELECT event_id, user_id, ts, event_type FROM events
         |  WHERE event_type IN ('click', 'purchase')),
         |w AS (
         |  SELECT *, first_value(CASE WHEN event_type = 'click' THEN ts END IGNORE NULLS) OVER
         |    (PARTITION BY user_id ORDER BY ts, event_id
         |     ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS nc
         |  FROM ev),
         |g AS (
         |  SELECT event_id, user_id, ts,
         |    CASE WHEN epoch_us(nc) - epoch_us(ts) <= $tolUs THEN nc END
         |      AS next_click_ts
         |  FROM w WHERE event_type = 'purchase')
         |SELECT event_id, user_id, ts, next_click_ts,
         |  round(CAST(epoch_us(next_click_ts) - epoch_us(ts) AS DOUBLE)
         |    / 1000000.0, 6) AS gap_sec
         |FROM g ORDER BY event_id""".stripMargin
    },
    "q33_asof_prior_click" ->
      """WITH ev AS (
        |  SELECT event_id, user_id, ts, event_type FROM events
        |  WHERE event_type IN ('click', 'purchase')),
        |w AS (
        |  SELECT *, last_value(CASE WHEN event_type = 'click' THEN ts END IGNORE NULLS) OVER
        |    (PARTITION BY user_id ORDER BY ts, event_id
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prior_click_ts
        |  FROM ev)
        |SELECT event_id, user_id, ts, prior_click_ts FROM w
        |WHERE event_type = 'purchase' ORDER BY event_id""".stripMargin,
    "q34_value_quantiles" ->
      """SELECT event_type, count(*) AS n, min(value) AS min_v,
        |  median(value) AS med, quantile_cont(value, 0.9) AS p90,
        |  max(value) AS max_v
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q42_revenue_cube" ->
      """SELECT l_returnflag, ship_year,
        |  CAST(GROUPING(l_returnflag, ship_year) AS INT) AS gid,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n
        |FROM (SELECT l_returnflag, CAST(year(l_shipdate) AS INT) AS ship_year,
        |        l_extendedprice FROM lineitem)
        |GROUP BY CUBE(l_returnflag, ship_year)
        |ORDER BY gid, l_returnflag NULLS FIRST, ship_year NULLS FIRST""".stripMargin,
    "q43_user_pivot" -> {
      val counts = EventTypes.map(t =>
        s"count(*) FILTER (WHERE event_type = '$t') AS ${t}_n")
      val sums = EventTypes.map(t =>
        s"CAST(sum(CAST(value AS DECIMAL(12,2))) FILTER (WHERE event_type = '$t') AS DOUBLE) AS ${t}_val")
      s"""SELECT user_id,
         |  ${(counts ++ sums).mkString(",\n  ")}
         |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin
    },
    // The sketch estimates themselves are engine-specific (no DuckDB
    // HLL++/KLL twin exists) — the oracle checks the exact columns and
    // asserts the in-bounds booleans hold; Spark computes them for real.
    "q44_approx_stats" ->
      """SELECT event_type, count(DISTINCT user_id) AS exact_users,
        |  TRUE AS users_ok,
        |  quantile_cont(value, 0.9) AS p90_exact,
        |  TRUE AS p90_ok
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)
}
