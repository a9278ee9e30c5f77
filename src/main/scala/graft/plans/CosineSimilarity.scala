package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Fused cosine similarity over two `ARRAY<DOUBLE>` columns as a native
  * Catalyst expression with whole-stage codegen: one pass accumulates
  * dot product and both squared norms, then `dot / (√na · √nb)`.
  *
  * Why custom: composing `aggregate(zip_with(...))` builds the zipped
  * array, runs interpreted lambdas per element, and needs three passes
  * (dot + 2 norms) — higher-order functions never enter codegen. This
  * expression is a tight generated loop over the two `ArrayData`
  * buffers, ~10× per-row on 64-dim vectors, which is the difference
  * between an ANN re-rank being compute-bound or not at 100 TB.
  *
  * Determinism: identical IEEE operation order to the composed form
  * (sequential left fold; norms multiplied after their square roots),
  * so oracle hash-parity is preserved bit-for-bit.
  *
  * Edge semantics: result is NaN for a zero vector (0/0), null if
  * either array is null; lengths clamp to the shorter array.
  */
case class CosineSimilarity(left: Expression, right: Expression)
  extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(t: DataType) = t match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two ARRAY<DOUBLE> arguments, " +
        s"got ${left.dataType.sql} and ${right.dataType.sql}")
  }

  override def dataType: DataType = DoubleType

  override def prettyName: String = "cosine_similarity"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val xi = x.getDouble(i); val yi = y.getDouble(i)
      dot += xi * yi; na += xi * xi; nb += yi * yi
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val xv = ctx.freshName("xv")
      val yv = ctx.freshName("yv")
      s"""
         |int $n = java.lang.Math.min($x.numElements(), $y.numElements());
         |double $dot = 0.0, $na = 0.0, $nb = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $xv = $x.getDouble($i);
         |  double $yv = $y.getDouble($i);
         |  $dot += $xv * $yv; $na += $xv * $xv; $nb += $yv * $yv;
         |}
         |${ev.value} = $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSimilarity =
    copy(left = newLeft, right = newRight)
}

/** Fused sequential-fold dot product over two `ARRAY<DOUBLE>` columns —
  * same codegen pattern as [[CosineSimilarity]], same IEEE order as
  * DuckDB `list_inner_product`.
  */
case class DotProduct(left: Expression, right: Expression)
  extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(t: DataType) = t match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two ARRAY<DOUBLE> arguments, " +
        s"got ${left.dataType.sql} and ${right.dataType.sql}")
  }

  override def dataType: DataType = DoubleType
  override def prettyName: String = "dot_product"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0
    var i = 0
    while (i < n) { dot += x.getDouble(i) * y.getDouble(i); i += 1 }
    dot
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      s"""
         |int $n = java.lang.Math.min($x.numElements(), $y.numElements());
         |double $dot = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $dot += $x.getDouble($i) * $y.getDouble($i);
         |}
         |${ev.value} = $dot;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

/** Runtime registration of graft's native functions (for sessions built
  * without `spark.sql.extensions`).
  */
object GraftFunctions {
  /** Single source of truth for graft's native function surface — both
    * registration paths (runtime [[register]] and the
    * `spark.sql.extensions` class [[GraftExtensions]]) iterate this, so
    * a cluster session configured only via extensions resolves exactly
    * the names call sites use.
    */
  val all: Seq[(String, Class[_], Seq[Expression] => Expression)] = Seq(
    ("cosine_similarity", classOf[CosineSimilarity],
      (e: Seq[Expression]) => CosineSimilarity(e(0), e(1))),
    ("dot_product", classOf[DotProduct],
      (e: Seq[Expression]) => DotProduct(e(0), e(1))),
    ("minhash_sig", classOf[MinHashSig],
      (e: Seq[Expression]) => MinHashSig(e(0))),
    ("minhash_band_keys", classOf[MinHashBandKeys],
      (e: Seq[Expression]) => MinHashBandKeys(e(0))),
    ("sorted_shingle_hashes", classOf[SortedShingleHashes],
      (e: Seq[Expression]) => SortedShingleHashes(e(0))),
    ("simhash32", classOf[SimHash32],
      (e: Seq[Expression]) => SimHash32(e(0))),
    ("simhash60", classOf[SimHash60],
      (e: Seq[Expression]) => SimHash60(e(0))),
    ("nfc_normalize", classOf[NfcNormalize],
      (e: Seq[Expression]) => NfcNormalize(e(0))),
    ("blocklist_hits", classOf[BlocklistHits],
      (e: Seq[Expression]) => BlocklistHits(e(0))),
    ("luhn_counts", classOf[LuhnCounts],
      (e: Seq[Expression]) => LuhnCounts(e(0))),
    ("cdc_chunks", classOf[CdcChunks],
      (e: Seq[Expression]) => CdcChunks(e(0))),
    ("sorted_intersect_count", classOf[SortedIntersectCount],
      (e: Seq[Expression]) => SortedIntersectCount(e(0), e(1))),
    ("vector_sum_dec", classOf[VectorSumDec],
      (e: Seq[Expression]) => VectorSumDec(e(0))),
    ("codebook_scores", classOf[CodebookScores],
      (e: Seq[Expression]) => CodebookScores(e(0), e(1))),
    ("adc_cell_scores", classOf[AdcCellScores],
      (e: Seq[Expression]) => AdcCellScores(e(0), e(1), e(2))),
    ("codebook_argmax_cell", classOf[CodebookArgmaxCell],
      (e: Seq[Expression]) => CodebookArgmaxCell(e(0), e(1))),
    ("adc_argmin_cell", classOf[AdcArgminCell],
      (e: Seq[Expression]) => AdcArgminCell(e(0), e(1), e(2))),
    ("quantize_stats", classOf[QuantizeStats],
      (e: Seq[Expression]) => QuantizeStats(e(0))),
    ("winnow_positions", classOf[WinnowPositions],
      (e: Seq[Expression]) => WinnowPositions(e(0), e(1))),
    ("dup_span_runs", classOf[DupSpanRuns],
      (e: Seq[Expression]) => DupSpanRuns(e(0), e(1))))

  /** Registers the functions the session does not hold yet, so the
    * per-operator calls after the first re-register nothing.
    */
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    all.foreach { case (name, _, builder) =>
      if (!registry.functionExists(FunctionIdentifier(name)))
        registry.createOrReplaceTempFunction(name, builder, "scala_udf")
    }
  }
}

/** `spark.sql.extensions`-injectable variant — the deployment path for
  * clusters: `--conf spark.sql.extensions=graft.plans.GraftExtensions`.
  */
class GraftExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  override def apply(ext: org.apache.spark.sql.SparkSessionExtensions): Unit = {
    GraftFunctions.all.foreach { case (name, cls, builder) =>
      ext.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo(cls.getName, name),
        (exprs: Seq[Expression]) => builder(exprs)))
    }
    ext.injectPlannerStrategy(_ => TopKPerKey.PlanStrategy)
  }
}
