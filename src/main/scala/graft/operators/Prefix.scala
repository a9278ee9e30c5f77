package graft.operators

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Distributed EXACT prefix sums over a value-grain relation — the
  * shared engine behind every "cumulative count ordered by value"
  * consumer (rank statistics q219, rank-sum q132, KS q133, exact
  * quantiles). A bare `Window.orderBy(v)` is a single-partition global
  * sort+scan: fine when the value domain is provably tiny, a
  * scale-killer when value cardinality approaches row cardinality
  * (money columns at warehouse scale — distinct cents ≈ users). This
  * is the q63/q81 two-phase prefix discipline packaged:
  *
  *  1. a deterministic, value-MONOTONE fine range bucket (pure
  *     arithmetic over the key span — no sampled RangePartitioner
  *     whose boundaries could differ between passes), 64·parallelism
  *     buckets;
  *  2. ONE O(64·p)-row collected aggregate of per-bucket counter
  *     totals; the driver prefix-sums the sorted buckets into
  *     exclusive offsets and broadcasts them back;
  *  3. an intra-bucket cumulative window — parallel across buckets,
  *     each sorting only its own value slice.
  *
  * All integer arithmetic, so the result is bit-identical to the
  * global-window formulation regardless of partitioning — the
  * determinism contract every gated consumer rides.
  */
object Prefix {

  /** Fine value-range buckets per unit of parallelism — the q63
    * balance-granularity dial: a value cluster narrower than
    * span/(64·p) still lands in one bucket; wider clustering spreads.
    * More buckets buy balance at the price of a larger collected
    * offset relation (O(groups × buckets)); 64 is the value every
    * gated consumer was verified at.
    */
  val FineBucketsPerCore = 64L

  /** Adds the INCLUSIVE running sum of each `cntCols(i)` (a long
    * counter column) over ascending `orderCol` as `outCols(i)` —
    * the distributed form of
    * `sum(cnt) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)`.
    * Exclusive forms derive as `out - cnt` (all longs, exact).
    *
    * `key` must be a long-castable expression (non-strictly) MONOTONE
    * in `orderCol` — equal order values must share a key, and key
    * order must follow value order (e.g. the value itself for integer
    * grains, `round(v*100)` for 2-decimal money). Ties in `orderCol`
    * across rows are not supported (the input is value-grain: one row
    * per distinct value).
    */
  def cumSums(byV: DataFrame, orderCol: String, key: Column,
      cntCols: Seq[String], outCols: Seq[String]): DataFrame =
    cumSumsBy(byV, Nil, orderCol, key, cntCols, outCols)

  /** [[cumSums]] with an independent running sum per GROUP — the
    * per-group exact-quantile / per-group CDF form. Fine buckets span
    * the global key range; offsets and windows key on
    * (group…, bucket), so the collected relation is
    * O(groups × 64·p) — metadata-scale for model-scale group counts.
    */
  def cumSumsBy(byV: DataFrame, groupCols: Seq[String], orderCol: String,
      key: Column, cntCols: Seq[String], outCols: Seq[String]): DataFrame = {
    require(cntCols.length == outCols.length && cntCols.nonEmpty,
      "cntCols/outCols must align")
    val spark = byV.sparkSession
    // materialize the value-grain relation ONCE: the two driver
    // collects (span, bucket totals) and the windowed output would
    // otherwise each re-run the full upstream lineage — for a
    // histogram over a corpus that is 3+ corpus scans instead of 1
    // (the relation itself is model-scale by this operator's
    // contract, so the checkpoint is cheap)
    val keyed = byV.withColumn("__pk", key.cast("long")).localCheckpoint()
    val mm = keyed.agg(min("__pk"), max("__pk")).collect()(0)
    if (mm.isNullAt(0)) // empty relation: same schema, zeroed sums
      return cntCols.zip(outCols).foldLeft(byV) {
        case (df, (c, o)) => df.withColumn(o, col(c))
      }
    val lo = mm.getLong(0)
    val hi = mm.getLong(1)
    require(BigInt(hi) - BigInt(lo) < BigInt(Long.MaxValue),
      s"key span [$lo, $hi] overflows the fine-bucket arithmetic")
    val p = math.max(1L, spark.sparkContext.defaultParallelism.toLong)
    val fineN = p * FineBucketsPerCore
    val width = math.max(1L, (hi - lo) / fineN + 1L) // ceil span+1 / fineN
    val fined = keyed.withColumn("__fine", expr(s"(__pk - $lo) div $width"))
    val gN = groupCols.length
    // one metadata-scale collect: per-(group, bucket) counter totals
    val stats = fined.groupBy((groupCols :+ "__fine").map(col): _*)
      .agg(sum(col(cntCols.head)).as(cntCols.head),
        cntCols.tail.map(c => sum(col(c)).as(c)): _*)
      .collect()
    // driver prefix per group over its sorted buckets → excl. offsets
    val offRows = stats.groupBy(r => (0 until gN).map(r.get(_))).toSeq
      .flatMap { case (_, rows) =>
        val acc = Array.fill(cntCols.length)(0L)
        rows.sortBy(_.getLong(gN)).map { r =>
          val row = Row.fromSeq(
            (0 until gN).map(r.get(_)) ++ (r.getLong(gN) +: acc.toSeq))
          cntCols.indices.foreach(i => acc(i) += r.getLong(gN + 1 + i))
          row
        }
      }
    val offSchema = StructType(groupCols.map(g => byV.schema(g)) ++
      (StructField("__fine", LongType, false) +:
        outCols.map(o => StructField(s"__off_$o", LongType, false))))
    val offs = spark.createDataFrame(offRows.toList.asJava, offSchema)
    val w = Window.partitionBy((groupCols :+ "__fine").map(col): _*)
      .orderBy(orderCol)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cummed = cntCols.zip(outCols).foldLeft(
      fined.join(broadcast(offs), groupCols :+ "__fine")) {
      case (df, (c, o)) =>
        df.withColumn(o, col(s"__off_$o") + sum(col(c)).over(w))
    }
    cummed.drop("__pk" +: "__fine" +: outCols.map(o => s"__off_$o"): _*)
  }
}
