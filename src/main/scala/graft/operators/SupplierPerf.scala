package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.functions.Det._
import graft.sources.Tables

/** Per-supplier performance KPIs + composite risk scoring.
  *
  * Re-expresses the reference's analytical core on the driver's star
  * schema: a 3-way join (`suppliers ⋈ purchase_orders ⋈ deliveries`,
  * reference compute_kpis.py:24-74) becomes `supplier ⋈ lineitem ⋈
  * orders`; per-supplier rate/delay/fill aggregates become
  * on-time/delay/return/revenue aggregates; min-max normalization into a
  * weighted composite risk score follows compute_risk.py:36-113 (grand
  * aggregate bounds + broadcast cross join + degenerate-range guards +
  * `risk = 0.7·(1-performance) + 0.3·financial`).
  *
  * Scale notes (100 TB): `lineitem ⋈ orders` is the only big-big join and
  * shuffles on the natural key; `supplier` and the 1-row `bounds` relation
  * are broadcast. Aggregation is two-phase hash (partial map-side), and
  * top-k queries lower to `TakeOrderedAndProject` — no full sorts.
  */
object SupplierPerf {

  /** Days-late threshold for the on-time flag (reference semantics:
    * `delivery_date <= promised_date`, compute_kpis.py:45; here promised =
    * order date + 30 days).
    */
  val OnTimeDays = 30

  /** Q4 analog — per-supplier KPI table (reference compute_kpis.py:24-74). */
  def kpis(spark: SparkSession, dir: String): DataFrame =
    kpisFrom(
      Tables.supplier(spark, dir),
      Tables.lineitem(spark, dir),
      Tables.orders(spark, dir))

  /** The joined per-line fact relation both the one-shot [[kpisFrom]]
    * aggregate and the incremental [[kpiPartialsFrom]] path reduce.
    * Carries `l_shipdate` for slice predicates; Catalyst prunes it when
    * unused.
    */
  private def factsFrom(supplier: DataFrame, lineitem: DataFrame, orders: DataFrame): DataFrame = {
    val s = supplier
    val l = lineitem
    val o = orders.select("o_orderkey", "o_orderdate")

    val delay = datediff(col("l_shipdate"), col("o_orderdate"))
    s.join(l, s("s_suppkey") === l("l_suppkey"))
      .join(o, l("l_orderkey") === o("o_orderkey"))
      .select(
        s("s_suppkey"), s("s_name"), s("s_nationkey"), s("s_acctbal"),
        l("l_shipdate"),
        delay.as("ship_delay_days"),
        when(delay <= OnTimeDays, 1).otherwise(0).as("on_time_flag"),
        when(col("l_returnflag") === "R", 1).otherwise(0).as("ret_flag"),
        when(col("l_returnflag") === "R", col("l_quantity")).otherwise(lit(0.0)).as("ret_qty"),
        col("l_quantity").as("qty"),
        (money(col("l_extendedprice")) * (lit(1) - frac(col("l_discount")))).as("net_rev"))
  }

  /** DataFrame-core of [[kpis]] — the library API for caller-supplied
    * relations (and the unit-test seam).
    */
  def kpisFrom(supplier: DataFrame, lineitem: DataFrame, orders: DataFrame): DataFrame =
    factsFrom(supplier, lineitem, orders)
      .groupBy("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
      .agg(
        rate(col("on_time_flag")).as("on_time_rate"),
        avgInt(col("ship_delay_days")).as("avg_ship_delay_days"),
        rate(col("ret_flag")).as("return_rate"),
        sum("qty").as("total_qty"), // integer-valued doubles: exact sum
        (sum("ret_qty") / nullIfZero(sum("qty"))).as("returned_qty_ratio"),
        sum("net_rev").cast("double").as("revenue"),
        count(lit(1)).as("n_lines"))
      .orderBy("s_suppkey")

  /** Shared SQL text for the KPI CTE (DuckDB oracle form of [[kpis]]). */
  val kpisSql: String =
    s"""WITH facts AS (
       |  SELECT s.s_suppkey, s.s_name, s.s_nationkey, s.s_acctbal,
       |         date_diff('day', o.o_orderdate, l.l_shipdate) AS ship_delay_days,
       |         CASE WHEN date_diff('day', o.o_orderdate, l.l_shipdate) <= $OnTimeDays THEN 1 ELSE 0 END AS on_time_flag,
       |         CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END AS ret_flag,
       |         CASE WHEN l.l_returnflag = 'R' THEN l.l_quantity ELSE 0.0 END AS ret_qty,
       |         l.l_quantity AS qty,
       |         CAST(l.l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l.l_discount AS DECIMAL(4,2))) AS net_rev
       |  FROM supplier s
       |  JOIN lineitem l ON s.s_suppkey = l.l_suppkey
       |  JOIN orders o ON l.l_orderkey = o.o_orderkey
       |), kpis AS (
       |  SELECT s_suppkey, s_name, s_nationkey, s_acctbal,
       |         CAST(SUM(on_time_flag) AS DOUBLE) / COUNT(*) AS on_time_rate,
       |         CAST(SUM(ship_delay_days) AS DOUBLE) / COUNT(*) AS avg_ship_delay_days,
       |         CAST(SUM(ret_flag) AS DOUBLE) / COUNT(*) AS return_rate,
       |         SUM(qty) AS total_qty,
       |         SUM(ret_qty) / NULLIF(SUM(qty), 0) AS returned_qty_ratio,
       |         CAST(SUM(net_rev) AS DOUBLE) AS revenue,
       |         COUNT(*) AS n_lines
       |  FROM facts
       |  GROUP BY s_suppkey, s_name, s_nationkey, s_acctbal
       |)""".stripMargin

  /** Incremental cutoff: lines shipped on/after this date form the
    * delta slice (the "new day's files" of a maintenance run; the
    * fixture range 1995–2001 puts ~1/7 of lines in the delta).
    */
  val IncrCutoff = "2001-01-01"

  /** Mergeable per-supplier KPI partials — every accumulator is exact
    * (integer sums, integer-valued-double sums, DECIMAL revenue), so
    * merging slice partials is bit-identical to aggregating the union.
    * This is the stored state of an incremental KPI view.
    */
  def kpiPartialsFrom(supplier: DataFrame, lineitem: DataFrame, orders: DataFrame): DataFrame =
    factsFrom(supplier, lineitem, orders)
      .groupBy("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
      .agg(
        sum("on_time_flag").as("s_on_time"),
        sum("ship_delay_days").as("s_delay"),
        sum("ret_flag").as("s_ret"),
        sum("qty").as("s_qty"),
        sum("ret_qty").as("s_ret_qty"),
        sum("net_rev").as("s_rev"),
        count(lit(1)).as("n"))

  /** Merge stored base partials with a delta slice's partials and
    * finalize the KPI columns. All accumulators are exact, so the
    * result is bit-identical to a full recompute — which is exactly
    * what the q96 oracle asserts.
    */
  def mergeKpiPartials(base: DataFrame, delta: DataFrame): DataFrame =
    base.withColumn("slice", lit("base"))
      .unionByName(delta.withColumn("slice", lit("delta")))
      .groupBy("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
      .agg(
        sum("s_on_time").as("s_on_time"), sum("s_delay").as("s_delay"),
        sum("s_ret").as("s_ret"), sum("s_qty").as("s_qty"),
        sum("s_ret_qty").as("s_ret_qty"), sum("s_rev").as("s_rev"),
        sum("n").as("n_lines"),
        sum(when(col("slice") === "base", col("n")).otherwise(lit(0L))).as("n_base"),
        sum(when(col("slice") === "delta", col("n")).otherwise(lit(0L))).as("n_delta"))
      .select(
        col("s_suppkey"), col("s_name"), col("s_nationkey"), col("s_acctbal"),
        (col("s_on_time").cast("double") / col("n_lines")).as("on_time_rate"),
        (col("s_delay").cast("double") / col("n_lines")).as("avg_ship_delay_days"),
        (col("s_ret").cast("double") / col("n_lines")).as("return_rate"),
        col("s_qty").as("total_qty"),
        (col("s_ret_qty") / nullIfZero(col("s_qty"))).as("returned_qty_ratio"),
        col("s_rev").cast("double").as("revenue"),
        col("n_lines"), col("n_base"), col("n_delta"))
      .orderBy("s_suppkey")

  /** q96 — INCREMENTAL KPI view maintenance: the scalable alternative
    * to the reference's daily drop-and-rebuild (load_duckdb.py:32-36 +
    * Airflow cron, dags/supplier_pipeline_dag.py:32). The lineitem
    * corpus splits at [[IncrCutoff]] into a base slice (the partials a
    * real deployment has stored) and a delta slice (the new day's
    * files); each side aggregates to mergeable exact partials and the
    * merge finalizes the same KPI columns as q04, plus per-slice line
    * counts auditing what the delta contributed. The oracle computes
    * the same table DIRECTLY over the full corpus — hash equality IS
    * the incremental-equals-full proof.
    *
    * Scale shape: at 100 TB only the delta slice is scanned and
    * shuffled on a maintenance run (the base enters as its stored
    * partial relation, supplier-cardinality-sized); here both sides
    * recompute from the shared scan so the driver gate covers the
    * whole path — the split predicates push down to the parquet scan.
    */
  def kpisIncremental(spark: SparkSession, dir: String): DataFrame = {
    val s = Tables.supplier(spark, dir)
    val l = Tables.lineitem(spark, dir)
    val o = Tables.orders(spark, dir)
    val cut = to_date(lit(IncrCutoff))
    mergeKpiPartials(
      kpiPartialsFrom(s, l.filter(col("l_shipdate") < cut), o),
      kpiPartialsFrom(s, l.filter(col("l_shipdate") >= cut), o))
  }

  /** Q7 analog — risk summary (reference compute_risk.py:36-113):
    * grand-aggregate bounds, broadcast cross join, min-max normalization
    * with `max=min → 1.0` guards, inverted for bad-is-high metrics,
    * composite performance (mean of 4 norms) and
    * `risk = 0.7·(1-performance) + 0.3·(1-norm_acctbal)`.
    */
  def risk(spark: SparkSession, dir: String): DataFrame =
    riskFrom(kpis(spark, dir))

  /** DataFrame-core of [[risk]]: normalize + score a KPI relation
    * (computed by [[kpisFrom]] or read back from a materialized table).
    */
  def riskFrom(k: DataFrame): DataFrame = {
    val bounds = k.agg(
      min("on_time_rate").as("min_ot"), max("on_time_rate").as("max_ot"),
      min("avg_ship_delay_days").as("min_dl"), max("avg_ship_delay_days").as("max_dl"),
      min("return_rate").as("min_rt"), max("return_rate").as("max_rt"),
      min("revenue").as("min_rv"), max("revenue").as("max_rv"),
      min("s_acctbal").as("min_ab"), max("s_acctbal").as("max_ab"))

    // goodness normalization: 1.0 when the range degenerates
    // (compute_risk.py:59-80), else (x-min)/(max-min), inverted when
    // larger-is-worse.
    def norm(c: String, mn: String, mx: String, invert: Boolean) = {
      val scaled = (col(c) - col(mn)) / (col(mx) - col(mn))
      when(col(mx) === col(mn), lit(1.0))
        .otherwise(if (invert) lit(1.0) - scaled else scaled)
    }

    val kCols = k.columns.map(col)
    val n = k.crossJoin(broadcast(bounds)).select(
      kCols :+
        norm("on_time_rate", "min_ot", "max_ot", invert = false).as("norm_on_time") :+
        norm("avg_ship_delay_days", "min_dl", "max_dl", invert = true).as("norm_delay") :+
        norm("return_rate", "min_rt", "max_rt", invert = true).as("norm_return") :+
        norm("revenue", "min_rv", "max_rv", invert = false).as("norm_revenue") :+
        norm("s_acctbal", "min_ab", "max_ab", invert = false).as("norm_acctbal"): _*)

    n.withColumn(
        "performance_score",
        (col("norm_on_time") + col("norm_delay") + col("norm_return") + col("norm_revenue")) / 4.0)
      .withColumn(
        "risk_score",
        lit(0.7) * (lit(1.0) - col("performance_score")) + lit(0.3) * (lit(1.0) - col("norm_acctbal")))
      .orderBy(desc("risk_score"), asc("s_suppkey"))
  }

  /** DuckDB oracle form of [[risk]] (kpis CTE + bounds + norms + scores). */
  val riskSql: String =
    s"""$kpisSql, bounds AS (
       |  SELECT min(on_time_rate) AS min_ot, max(on_time_rate) AS max_ot,
       |         min(avg_ship_delay_days) AS min_dl, max(avg_ship_delay_days) AS max_dl,
       |         min(return_rate) AS min_rt, max(return_rate) AS max_rt,
       |         min(revenue) AS min_rv, max(revenue) AS max_rv,
       |         min(s_acctbal) AS min_ab, max(s_acctbal) AS max_ab
       |  FROM kpis
       |), norms AS (
       |  SELECT kpis.*,
       |    CASE WHEN max_ot = min_ot THEN 1.0 ELSE (on_time_rate - min_ot) / (max_ot - min_ot) END AS norm_on_time,
       |    CASE WHEN max_dl = min_dl THEN 1.0 ELSE 1.0 - (avg_ship_delay_days - min_dl) / (max_dl - min_dl) END AS norm_delay,
       |    CASE WHEN max_rt = min_rt THEN 1.0 ELSE 1.0 - (return_rate - min_rt) / (max_rt - min_rt) END AS norm_return,
       |    CASE WHEN max_rv = min_rv THEN 1.0 ELSE (revenue - min_rv) / (max_rv - min_rv) END AS norm_revenue,
       |    CASE WHEN max_ab = min_ab THEN 1.0 ELSE (s_acctbal - min_ab) / (max_ab - min_ab) END AS norm_acctbal
       |  FROM kpis CROSS JOIN bounds
       |), perf AS (
       |  SELECT norms.*,
       |         (norm_on_time + norm_delay + norm_return + norm_revenue) / 4.0 AS performance_score
       |  FROM norms
       |), risk AS (
       |  SELECT s_suppkey, s_name, s_nationkey, s_acctbal, on_time_rate,
       |         avg_ship_delay_days, return_rate, total_qty, returned_qty_ratio,
       |         revenue, n_lines, norm_on_time, norm_delay, norm_return,
       |         norm_revenue, norm_acctbal, performance_score,
       |         0.7 * (1.0 - performance_score) + 0.3 * (1.0 - norm_acctbal) AS risk_score
       |  FROM perf
       |)""".stripMargin

  /** Q5 analog over a (possibly materialized) KPI relation. */
  def bottom5OnTimeFrom(k: DataFrame): DataFrame =
    k.select("s_suppkey", "s_name", "on_time_rate", "avg_ship_delay_days")
      .orderBy(asc("on_time_rate"), asc("s_suppkey"))
      .limit(5)

  /** Q6 analog over a (possibly materialized) KPI relation. */
  def top5DelayFrom(k: DataFrame): DataFrame =
    k.select("s_suppkey", "s_name", "avg_ship_delay_days", "on_time_rate")
      .orderBy(desc("avg_ship_delay_days"), asc("s_suppkey"))
      .limit(5)

  /** Q8 analog over a (possibly materialized) risk relation. */
  def top10RiskFrom(r: DataFrame): DataFrame =
    r.select("s_suppkey", "s_name", "s_nationkey", "on_time_rate",
        "avg_ship_delay_days", "return_rate", "revenue",
        "performance_score", "risk_score")
      .orderBy(desc("risk_score"), asc("s_suppkey"))
      .limit(10)

  /** q216 delta cut points: orders arriving / lines shipping on or
    * after these dates form the ΔO / ΔL slices (both nonempty at every
    * fixture sf — orders run to 2001-08, lineitems to 2001-11).
    */
  val IvmOrderCut = "2001-06-01"
  val IvmShipCut = "2001-08-01"

  /** q216 — DELTA-JOIN view maintenance: the JOIN half of the IVM story
    * q96's aggregate half started. q96 maintains an aggregate when ONE
    * input grows; a JOIN view whose BOTH inputs grow needs the delta
    * decomposition `(A+ΔA)⋈(B+ΔB) = A⋈B + ΔA⋈B + A⋈ΔB + ΔA⋈ΔB` — the
    * classic incremental-view algebra. Here the revenue-per-priority
    * view over orders⋈lineitem is maintained through the four terms
    * (new orders ΔO, late-shipping lines ΔL), each term aggregated to
    * exact mergeable partials and merged; per-term line counts ride
    * along as the audit columns showing what each delta contributed.
    * The oracle computes the view DIRECTLY over the full join — hash
    * equality is the incremental-equals-full proof.
    *
    * Scale shape: the base term A⋈B — the 100 TB bulk — is NEVER
    * recomputed on a maintenance run: [[ivmJoinStaged]] reads its
    * aggregate partials from a STORED priority-cardinality table (the
    * q96 mergeable-partials discipline) and computes only the three
    * delta terms live (ΔA⋈B probes the base side sized by the delta —
    * at 100 TB the base enters through its orderkey-bucketed layout so
    * the probe shuffles only the delta; ΔA⋈ΔB is delta²). Revenue
    * partials are exact DECIMAL products summed per term and merged —
    * bit-identical to the direct aggregation regardless of term
    * boundaries, so staged ≡ fresh ≡ direct under one hash gate.
    */
  def ivmJoin(spark: SparkSession, dir: String): DataFrame =
    ivmJoinFrom(Tables.orders(spark, dir), Tables.lineitem(spark, dir))

  /** Self-contained form: derives the base partials live then folds the
    * deltas — the path a fresh session (and the driver gate) pays.
    */
  def ivmJoinFrom(orders: DataFrame, lineitem: DataFrame): DataFrame =
    ivmJoinStaged(ivmBasePartials(orders, lineitem), orders, lineitem)

  private def ivmOrders(orders: DataFrame): DataFrame =
    orders.select(col("o_orderkey"), col("o_orderdate"),
      col("o_orderpriority"))

  private def ivmLines(lineitem: DataFrame): DataFrame =
    lineitem.select(col("l_orderkey"), col("l_shipdate"),
      col("l_extendedprice"), col("l_discount"))

  /** One decomposition term: the (priority, n, rev) aggregate of one
    * slice pair — exact DECIMAL partials, mergeable across terms.
    */
  private def ivmTerm(os: DataFrame, ls: DataFrame): DataFrame =
    os.join(ls, col("o_orderkey") === col("l_orderkey"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"),
        sum(money(col("l_extendedprice")) *
          (lit(1) - frac(col("l_discount")))).as("rev"))

  /** The base-term partials (o_orderpriority, n, rev) over the
    * below-cutoff slices — the table a production IVM keeps STORED
    * between runs. Building it is the initial view materialization,
    * paid once; every maintenance run reads it back (the bench writes
    * it pre-pass, like the q135 cluster state).
    */
  def ivmBasePartials(orders: DataFrame, lineitem: DataFrame): DataFrame =
    ivmTerm(
      ivmOrders(orders).filter(col("o_orderdate") < to_date(lit(IvmOrderCut))),
      ivmLines(lineitem).filter(col("l_shipdate") < to_date(lit(IvmShipCut))))

  /** The maintenance fold over the STORED base term: only the three
    * delta terms compute live; the full base⋈base join never reruns.
    */
  def ivmJoinStaged(basePartials: DataFrame, orders: DataFrame,
      lineitem: DataFrame): DataFrame = {
    val o = ivmOrders(orders)
    val l = ivmLines(lineitem)
    val cutO = to_date(lit(IvmOrderCut))
    val cutL = to_date(lit(IvmShipCut))
    val ob = o.filter(col("o_orderdate") < cutO)
    val od = o.filter(col("o_orderdate") >= cutO)
    val lb = l.filter(col("l_shipdate") < cutL)
    val ld = l.filter(col("l_shipdate") >= cutL)
    basePartials.withColumn("term", lit("base"))
      .unionByName(ivmTerm(od, lb).withColumn("term", lit("delta_orders")))
      .unionByName(ivmTerm(ob, ld).withColumn("term", lit("delta_lines")))
      .unionByName(ivmTerm(od, ld).withColumn("term", lit("delta_both")))
      .groupBy("o_orderpriority")
      .agg(sum("n").as("n_lines"),
        sum("rev").cast("double").as("revenue"),
        sum(when(col("term") === "base", col("n")).otherwise(0L)).as("n_base"),
        sum(when(col("term") === "delta_orders", col("n")).otherwise(0L))
          .as("n_delta_orders"),
        sum(when(col("term") === "delta_lines", col("n")).otherwise(0L))
          .as("n_delta_lines"),
        sum(when(col("term") === "delta_both", col("n")).otherwise(0L))
          .as("n_delta_both"))
      .orderBy("o_orderpriority")
  }

  /** q246 grid resolution: cells per objective dimension (G³ cells
    * total). 8 keeps the cell-metadata relation at ≤512 rows —
    * driver-trivial — while carving enough strict-dominance structure
    * to prune the bulk of a correlated corpus before the candidate
    * join. `paretoFrom`'s `grid` parameter overrides it.
    */
  val SkylineGrid = 8

  /** q246 — Pareto-frontier (skyline) suppliers: the multi-objective
    * shortlist no single risk weighting can produce (q07 collapses the
    * trade-off into one 0.7/0.3 scalar; this keeps every supplier that
    * is not outperformed on ALL axes at once). Objectives: minimize
    * `late_lines` (lines shipped past the [[OnTimeDays]] promise),
    * minimize `ret_lines` (returned lines), maximize revenue. A
    * supplier is dominated iff another is ≤ on both failure counts and
    * ≥ on revenue with at least one strict — dominance entirely on
    * exact integers (revenue as the ×10⁴-scaled exact DECIMAL sum cast
    * to long), so no float-at-threshold cross-engine hazard.
    *
    * Scale shape (the MR-grid skyline of the distributed-skyline
    * literature, not the quadratic NOT-EXISTS the oracle runs): the
    * corpus reduces to ONE supplier-grain aggregate; each point maps to
    * a [[SkylineGrid]]³ cell by integer range-bucketing (monotone: a
    * pointwise-dominating point never lands in a higher cell). Phase 1
    * removes within-cell dominated points in a cell-keyed equi-self-join
    * (hash join on the cell id, never all-pairs); phase 2 prunes every
    * cell strictly dominated by a non-empty cell on the ≤G³-row cell
    * METADATA relation; phase 3 resolves the survivors with a
    * candidate×candidate anti-join restricted to cell-comparable pairs
    * — candidates are frontier-adjacent by construction, a vanishing
    * fraction of points on correlated data (and the G dial trades cell
    * balance against prune power when it isn't). The supplier-grain
    * relation is localCheckpointed once so the three phases never
    * re-run the corpus join.
    */
  def paretoSuppliers(spark: SparkSession, dir: String): DataFrame =
    paretoFrom(
      Tables.supplier(spark, dir),
      Tables.lineitem(spark, dir),
      Tables.orders(spark, dir))

  def paretoFrom(supplier: DataFrame, lineitem: DataFrame, orders: DataFrame,
      grid: Int = SkylineGrid): DataFrame = {
    val obj = factsFrom(supplier, lineitem, orders)
      .groupBy("s_suppkey")
      .agg(
        sum(lit(1) - col("on_time_flag")).cast("long").as("late_lines"),
        sum("ret_flag").cast("long").as("ret_lines"),
        (sum("net_rev") * 10000).cast("long").as("rev_u"))
      // third minimized objective = −revenue, so all three axes point
      // the same way for the grid arithmetic
      .withColumn("o3", -col("rev_u"))
      .localCheckpoint()
    val bounds = obj.agg(
      min("late_lines").as("mn1"), max("late_lines").as("mx1"),
      min("ret_lines").as("mn2"), max("ret_lines").as("mx2"),
      min("o3").as("mn3"), max("o3").as("mx3"))
    def cellOf(v: String, mn: String, mx: String): Column =
      expr(s"CAST((($v - $mn) * $grid) DIV ($mx - $mn + 1) AS INT)")
    val cells = obj.crossJoin(broadcast(bounds))
      .select(col("s_suppkey"), col("late_lines"), col("ret_lines"),
        col("rev_u"), col("o3"),
        cellOf("late_lines", "mn1", "mx1").as("c1"),
        cellOf("ret_lines", "mn2", "mx2").as("c2"),
        cellOf("o3", "mn3", "mx3").as("c3"))
    def dominates(d: String, o: String): Column =
      col(s"$d.late_lines") <= col(s"$o.late_lines") &&
        col(s"$d.ret_lines") <= col(s"$o.ret_lines") &&
        col(s"$d.o3") <= col(s"$o.o3") &&
        (col(s"$d.late_lines") < col(s"$o.late_lines") ||
          col(s"$d.ret_lines") < col(s"$o.ret_lines") ||
          col(s"$d.o3") < col(s"$o.o3"))
    // phase 1: within-cell skyline (equi-join on the cell id)
    val local = cells.alias("o").join(cells.alias("d"),
        col("d.c1") === col("o.c1") && col("d.c2") === col("o.c2") &&
          col("d.c3") === col("o.c3") && dominates("d", "o"),
        "left_anti")
    // phase 2: prune cells strictly dominated by a non-empty cell —
    // strict < per cell coordinate implies strict < per value (the
    // bucketing is monotone), so every point of the dominated cell is
    // dominated by every point of the dominating one. Transitivity
    // keeps minimal cells unpruned, so a dominating witness always
    // survives into the candidate set. ≤G³ rows.
    val occ = local.select("c1", "c2", "c3").distinct()
    val live = occ.alias("o").join(occ.alias("d"),
        col("d.c1") < col("o.c1") && col("d.c2") < col("o.c2") &&
          col("d.c3") < col("o.c3"),
        "left_anti")
    val cand = local.join(
      broadcast(live.select(col("c1").as("c1"), col("c2").as("c2"),
        col("c3").as("c3"))),
      Seq("c1", "c2", "c3"), "left_semi")
    // phase 3: cross-cell resolution among the surviving candidates —
    // a dominator's cells are ≤ the dominated point's in every dim, so
    // the comparability filter loses nothing
    cand.alias("o").join(broadcast(cand.alias("d")),
        col("d.c1") <= col("o.c1") && col("d.c2") <= col("o.c2") &&
          col("d.c3") <= col("o.c3") && dominates("d", "o"),
        "left_anti")
      .select(col("s_suppkey"), col("late_lines"), col("ret_lines"),
        col("rev_u"),
        (col("rev_u").cast("double") / 10000.0).as("revenue"))
      .orderBy("s_suppkey")
  }

  /** q256 — geographic revenue ROLLUP (region → nation → total): the
    * hierarchical drill-down report over the star's geography
    * dimension — and the catalog's first consumer of the `region` and
    * `nation` tables beyond row counts/viewers. ROLLUP, not CUBE
    * (q42): geography is a strict hierarchy, so the nation-without-
    * region grouping set would be noise. Revenue through the exact
    * DECIMAL accumulator; grouping level = `grouping_id` (bit-equal to
    * DuckDB's GROUPING over the same column order); NULLS FIRST
    * ordering pinned on both engines.
    *
    * Scale shape: nation/region are tiny dims — two broadcast joins
    * onto the supplier side before the lineitem fact join (supplier
    * itself broadcast, the q04 shape); the corpus pre-aggregates to
    * SUPPLIER grain before the rollup (a supplier maps to exactly one
    * geography, so count(*) at every level IS the distinct supplier
    * count); the three levels are explicit aggregates over the
    * checkpointed supplier-grain relation — no Expand replication at
    * all (and Spark 4.1's native rollup trips its ambiguous-self-join
    * detector on any joined input — probed and documented in the
    * method body).
    */
  def geoRollup(spark: SparkSession, dir: String): DataFrame =
    geoRollupFrom(Tables.supplier(spark, dir), Tables.nation(spark, dir),
      Tables.region(spark, dir), Tables.lineitem(spark, dir))

  def geoRollupFrom(supplier: DataFrame, nation: DataFrame,
      region: DataFrame, lineitem: DataFrame): DataFrame = {
    val grain = supplier
      .join(broadcast(nation), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
      .join(lineitem, col("s_suppkey") === col("l_suppkey"))
      .select(col("r_name"), col("n_name"), col("s_suppkey"),
        (money(col("l_extendedprice")) *
          (lit(1) - frac(col("l_discount")))).as("net_rev"))
      .groupBy("r_name", "n_name", "s_suppkey")
      .agg(count(lit(1)).as("n"), sum("net_rev").as("rev"))
      .localCheckpoint()
    // the three grouping sets as an explicit union over the TINY
    // supplier-grain pre-aggregate (a supplier maps to exactly one
    // geography, so count(*) at every level IS the distinct supplier
    // count). Spark's native `.rollup` after a multi-table join trips
    // the analyzer's ambiguous-self-join detector in 4.1 (the Expand
    // duplicates dataset-id-tagged grouping attributes — probed:
    // single-table cube q42 is fine, ANY joined input fails), and the
    // union form is the better plan regardless: no Expand replication,
    // each level aggregates supplier-cardinality rows. gid values
    // match GROUPING(r_name, n_name): 0, 1 (n rolled), 3 (both).
    def lvl(gcols: Seq[String], gid: Int)(g: DataFrame): DataFrame = {
      val agged = (if (gcols.isEmpty) g.groupBy() else
        g.groupBy(gcols.map(col): _*))
        .agg(sum("n").as("n_lines"), count(lit(1)).as("n_suppliers"),
          sum("rev").cast("double").as("revenue"))
        .withColumn("gid", lit(gid))
      Seq("r_name", "n_name").foldLeft(agged) { (df, c) =>
        if (gcols.contains(c)) df
        else df.withColumn(c, lit(null).cast("string"))
      }.select("r_name", "n_name", "gid", "n_lines", "n_suppliers",
        "revenue")
    }
    lvl(Seq("r_name", "n_name"), 0)(grain)
      .unionByName(lvl(Seq("r_name"), 1)(grain))
      .unionByName(lvl(Nil, 3)(grain))
      .orderBy(asc("gid"), asc_nulls_first("r_name"),
        asc_nulls_first("n_name"))
  }

  /** q257 — part-margin grid: per part brand, volume, realized revenue
    * (discounted extended price) vs LIST value (retail price ×
    * quantity), the realized-to-list ratio (discount depth), and the
    * brand's top part type by revenue — the merchandising view, and
    * the catalog's first consumer of the `part` table. List value is
    * an exact DECIMAL product of the 2-dp retail price and the
    * integer-valued quantity; the ratio is one raw double division.
    *
    * Scale shape: `part` is a dimension — broadcast onto the lineitem
    * fact scan; two combine-heavy aggregates at (brand) and
    * (brand, type) grain; the per-brand top type is a rank-1 window
    * over the bounded brand domain.
    */
  def partMargins(spark: SparkSession, dir: String): DataFrame =
    partMarginsFrom(Tables.part(spark, dir), Tables.lineitem(spark, dir))

  def partMarginsFrom(part: DataFrame, lineitem: DataFrame): DataFrame = {
    // ONE fact pass: aggregate at (brand, type) grain, then roll the
    // brand totals up from the type grain (exact DECIMAL partial sums
    // re-summed — associative, so bit-identical to the direct
    // brand-level sums) instead of scanning the fact join twice (the
    // r12-opt rewrite; guide §2.3/§2.4). The type grain is
    // brand×type-bounded — model-scale at any corpus size.
    val byType = lineitem
      .join(broadcast(part), col("l_partkey") === col("p_partkey"))
      .select(col("p_brand"), col("p_type"),
        col("l_quantity"),
        (money(col("l_extendedprice")) *
          (lit(1) - frac(col("l_discount")))).as("net_rev"),
        (money(col("p_retailprice")) *
          col("l_quantity").cast(DecimalType(12, 0))).as("retail_val"))
      .groupBy("p_brand", "p_type")
      .agg(count(lit(1)).as("n"),
        sum("l_quantity").as("qty"),
        sum("net_rev").as("rev"),
        sum("retail_val").as("retail"))
      .localCheckpoint()
    val byBrand = byType.groupBy("p_brand").agg(
      sum("n").as("n_lines"),
      sum("qty").as("total_qty"),
      sum("rev").cast("double").as("revenue"),
      sum("retail").cast("double").as("retail_value"))
    val w = Window.partitionBy("p_brand")
      .orderBy(desc("t_rev"), asc("p_type"))
    val topType = byType
      .select(col("p_brand"), col("p_type"), col("rev").cast("double").as("t_rev"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("p_brand"), col("p_type").as("top_type"),
        col("t_rev").as("top_type_revenue"))
    byBrand.join(topType, Seq("p_brand"))
      .select(col("p_brand"), col("n_lines"), col("total_qty"),
        col("revenue"), col("retail_value"),
        (col("revenue") / col("retail_value")).as("realized_ratio"),
        col("top_type"), col("top_type_revenue"))
      .orderBy("p_brand")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q256_geo_rollup" -> (geoRollup _),
    "q257_part_margins" -> (partMargins _),
    "q246_pareto_suppliers" -> (paretoSuppliers _),
    "q216_ivm_join" -> (ivmJoin _),
    "q04_supplier_kpis" -> (kpis _),
    "q05_bottom5_on_time" -> ((spark, dir) => bottom5OnTimeFrom(kpis(spark, dir))),
    "q06_top5_delay" -> ((spark, dir) => top5DelayFrom(kpis(spark, dir))),
    "q07_supplier_risk" -> (risk _),
    "q08_top10_risk" -> ((spark, dir) => top10RiskFrom(risk(spark, dir))),
    "q96_incremental_kpis" -> (kpisIncremental _))

  val oracle: Map[String, String] = Map(
    // DuckDB GROUPING over the same column order = Spark grouping_id;
    // NULLS FIRST pinned on both engines
    "q256_geo_rollup" ->
      """SELECT r_name, n_name,
        |  CAST(GROUPING(r_name, n_name) AS INT) AS gid,
        |  COUNT(*) AS n_lines,
        |  CAST(COUNT(DISTINCT s_suppkey) AS BIGINT) AS n_suppliers,
        |  CAST(SUM(net_rev) AS DOUBLE) AS revenue
        |FROM (SELECT r.r_name, n.n_name, s.s_suppkey,
        |    CAST(l.l_extendedprice AS DECIMAL(18,2)) *
        |      (1 - CAST(l.l_discount AS DECIMAL(4,2))) AS net_rev
        |  FROM supplier s
        |  JOIN nation n ON s.s_nationkey = n.n_nationkey
        |  JOIN region r ON n.n_regionkey = r.r_regionkey
        |  JOIN lineitem l ON s.s_suppkey = l.l_suppkey)
        |GROUP BY ROLLUP(r_name, n_name)
        |ORDER BY gid, r_name NULLS FIRST, n_name NULLS FIRST""".stripMargin,
    // list value = exact DECIMAL retail × integer-valued quantity;
    // the ratio is one raw double division
    "q257_part_margins" ->
      """WITH f AS (SELECT p.p_brand, p.p_type, l.l_quantity,
        |    CAST(l.l_extendedprice AS DECIMAL(18,2)) *
        |      (1 - CAST(l.l_discount AS DECIMAL(4,2))) AS net_rev,
        |    CAST(p.p_retailprice AS DECIMAL(18,2)) *
        |      CAST(l.l_quantity AS DECIMAL(12,0)) AS retail_val
        |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey),
        |b AS (SELECT p_brand, count(*) AS n_lines,
        |    sum(l_quantity) AS total_qty,
        |    CAST(sum(net_rev) AS DOUBLE) AS revenue,
        |    CAST(sum(retail_val) AS DOUBLE) AS retail_value
        |  FROM f GROUP BY 1),
        |tt AS (SELECT p_brand, p_type AS top_type,
        |    t_rev AS top_type_revenue FROM (
        |  SELECT p_brand, p_type, CAST(sum(net_rev) AS DOUBLE) AS t_rev,
        |    row_number() OVER (PARTITION BY p_brand
        |      ORDER BY CAST(sum(net_rev) AS DOUBLE) DESC, p_type) AS rn
        |  FROM f GROUP BY 1, 2) WHERE rn = 1)
        |SELECT b.p_brand, n_lines, total_qty, revenue, retail_value,
        |  revenue / retail_value AS realized_ratio,
        |  top_type, top_type_revenue
        |FROM b JOIN tt USING (p_brand) ORDER BY b.p_brand""".stripMargin,
    // the textbook quadratic NOT-EXISTS dominance test over the
    // supplier-grain objective relation — supplier-cardinality² is
    // oracle-fine at sf; the Spark side must reach the same set
    // through the grid-pruned phases
    "q246_pareto_suppliers" ->
      s"""WITH facts AS (
         |  SELECT s.s_suppkey,
         |    CASE WHEN date_diff('day', o.o_orderdate, l.l_shipdate)
         |      <= $OnTimeDays THEN 0 ELSE 1 END AS late_flag,
         |    CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END AS ret_flag,
         |    CAST(l.l_extendedprice AS DECIMAL(18,2)) *
         |      (1 - CAST(l.l_discount AS DECIMAL(4,2))) AS net_rev
         |  FROM supplier s
         |  JOIN lineitem l ON s.s_suppkey = l.l_suppkey
         |  JOIN orders o ON l.l_orderkey = o.o_orderkey),
         |obj AS (
         |  SELECT s_suppkey,
         |    CAST(sum(late_flag) AS BIGINT) AS late_lines,
         |    CAST(sum(ret_flag) AS BIGINT) AS ret_lines,
         |    CAST(sum(net_rev) * 10000 AS BIGINT) AS rev_u
         |  FROM facts GROUP BY 1)
         |SELECT o.s_suppkey, o.late_lines, o.ret_lines, o.rev_u,
         |  CAST(o.rev_u AS DOUBLE) / 10000.0 AS revenue
         |FROM obj o
         |WHERE NOT EXISTS (
         |  SELECT 1 FROM obj d
         |  WHERE d.late_lines <= o.late_lines
         |    AND d.ret_lines <= o.ret_lines
         |    AND d.rev_u >= o.rev_u
         |    AND (d.late_lines < o.late_lines OR d.ret_lines < o.ret_lines
         |      OR d.rev_u > o.rev_u))
         |ORDER BY o.s_suppkey""".stripMargin,
    // the DIRECT full-join view with per-term CASE counts: hash
    // equality with the four merged delta terms is the
    // incremental-equals-full proof for the JOIN decomposition
    "q216_ivm_join" ->
      s"""WITH j AS (
         |  SELECT o.o_orderpriority,
         |    CAST(l.l_extendedprice AS DECIMAL(18,2)) *
         |      (1 - CAST(l.l_discount AS DECIMAL(4,2))) AS net_rev,
         |    CASE WHEN o.o_orderdate >= DATE '$IvmOrderCut' THEN 1 ELSE 0 END AS dor,
         |    CASE WHEN l.l_shipdate >= DATE '$IvmShipCut' THEN 1 ELSE 0 END AS dln
         |  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey)
         |SELECT o_orderpriority, count(*) AS n_lines,
         |  CAST(sum(net_rev) AS DOUBLE) AS revenue,
         |  CAST(sum(CASE WHEN dor = 0 AND dln = 0 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_base,
         |  CAST(sum(CASE WHEN dor = 1 AND dln = 0 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_delta_orders,
         |  CAST(sum(CASE WHEN dor = 0 AND dln = 1 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_delta_lines,
         |  CAST(sum(CASE WHEN dor = 1 AND dln = 1 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_delta_both
         |FROM j GROUP BY 1 ORDER BY 1""".stripMargin,
    "q04_supplier_kpis" ->
      s"$kpisSql SELECT * FROM kpis ORDER BY s_suppkey",
    "q05_bottom5_on_time" ->
      s"""$kpisSql SELECT s_suppkey, s_name, on_time_rate, avg_ship_delay_days
         |FROM kpis ORDER BY on_time_rate ASC, s_suppkey ASC LIMIT 5""".stripMargin,
    "q06_top5_delay" ->
      s"""$kpisSql SELECT s_suppkey, s_name, avg_ship_delay_days, on_time_rate
         |FROM kpis ORDER BY avg_ship_delay_days DESC, s_suppkey ASC LIMIT 5""".stripMargin,
    "q07_supplier_risk" ->
      s"$riskSql SELECT * FROM risk ORDER BY risk_score DESC, s_suppkey ASC",
    "q08_top10_risk" ->
      s"""$riskSql SELECT s_suppkey, s_name, s_nationkey, on_time_rate,
         |  avg_ship_delay_days, return_rate, revenue, performance_score, risk_score
         |FROM risk ORDER BY risk_score DESC, s_suppkey ASC LIMIT 10""".stripMargin,
    // the DIRECT full-corpus aggregation: hash equality with the merged
    // base+delta partials is the incremental-equals-full proof
    "q96_incremental_kpis" ->
      s"""WITH facts AS (
         |  SELECT s.s_suppkey, s.s_name, s.s_nationkey, s.s_acctbal, l.l_shipdate,
         |         date_diff('day', o.o_orderdate, l.l_shipdate) AS ship_delay_days,
         |         CASE WHEN date_diff('day', o.o_orderdate, l.l_shipdate) <= $OnTimeDays THEN 1 ELSE 0 END AS on_time_flag,
         |         CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END AS ret_flag,
         |         CASE WHEN l.l_returnflag = 'R' THEN l.l_quantity ELSE 0.0 END AS ret_qty,
         |         l.l_quantity AS qty,
         |         CAST(l.l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l.l_discount AS DECIMAL(4,2))) AS net_rev
         |  FROM supplier s
         |  JOIN lineitem l ON s.s_suppkey = l.l_suppkey
         |  JOIN orders o ON l.l_orderkey = o.o_orderkey)
         |SELECT s_suppkey, s_name, s_nationkey, s_acctbal,
         |  CAST(SUM(on_time_flag) AS DOUBLE) / COUNT(*) AS on_time_rate,
         |  CAST(SUM(ship_delay_days) AS DOUBLE) / COUNT(*) AS avg_ship_delay_days,
         |  CAST(SUM(ret_flag) AS DOUBLE) / COUNT(*) AS return_rate,
         |  SUM(qty) AS total_qty,
         |  SUM(ret_qty) / NULLIF(SUM(qty), 0) AS returned_qty_ratio,
         |  CAST(SUM(net_rev) AS DOUBLE) AS revenue,
         |  COUNT(*) AS n_lines,
         |  COUNT(*) FILTER (WHERE l_shipdate < DATE '$IncrCutoff') AS n_base,
         |  COUNT(*) FILTER (WHERE l_shipdate >= DATE '$IncrCutoff') AS n_delta
         |FROM facts
         |GROUP BY s_suppkey, s_name, s_nationkey, s_acctbal
         |ORDER BY s_suppkey""".stripMargin)
}
