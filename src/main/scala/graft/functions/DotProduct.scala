package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native codegen dot product over float/double array columns — the
  * preference-ladder step above the `zip_with`+`aggregate` fold (which
  * evaluates interpreted lambdas per element): same sequential
  * double-accumulation semantics (bit-identical results, including NULL
  * when any element in the overlapping prefix is NULL), but compiled
  * into the whole-stage-codegen loop.
  */
case class DotProduct(left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_dot"

  private def elemType(e: Expression): DataType =
    e.dataType.asInstanceOf[ArrayType].elementType

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(FloatType | DoubleType, _), ArrayType(FloatType | DoubleType, _)) =>
      TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<float|double> inputs, got ${left.dataType.sql}, ${right.dataType.sql}")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    val lf = elemType(left) == FloatType
    val rf = elemType(right) == FloatType
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      val xv = if (lf) x.getFloat(i).toDouble else x.getDouble(i)
      val yv = if (rf) y.getFloat(i).toDouble else y.getDouble(i)
      acc += xv * yv
      i += 1
    }
    java.lang.Double.valueOf(acc)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val gx = if (elemType(left) == FloatType) "getFloat" else "getDouble"
      val gy = if (elemType(right) == FloatType) "getFloat" else "getDouble"
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
        int $n = java.lang.Math.min($a.numElements(), $b.numElements());
        double $acc = 0.0;
        for (int $i = 0; $i < $n; $i++) {
          if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
          $acc += (double) $a.$gx($i) * (double) $b.$gy($i);
        }
        ${ev.value} = $acc;
      """
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Session registration for graft's native expressions. */
object GraftFunctions {
  private val registered = java.util.Collections.newSetFromMap(
    new java.util.concurrent.ConcurrentHashMap[SparkSession, java.lang.Boolean]())

  def register(spark: SparkSession): Unit =
    if (registered.add(spark)) {
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        "graft_dot", exprs => DotProduct(exprs(0), exprs(1)), "scala_udf")
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        "graft_bucket", exprs => IcebergBucket(
          exprs(0), exprs(1).eval().asInstanceOf[Number].intValue()), "scala_udf")
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        "graft_bucket_uuid", exprs => IcebergBucket(
          exprs(0), exprs(1).eval().asInstanceOf[Number].intValue(),
          uuid = true), "scala_udf")
      // Catalyst's own decimal->unscaled-long extractor (codegen); lets
      // exact decimal sums run on a plain long aggregation buffer
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        "graft_unscaled",
        exprs => org.apache.spark.sql.catalyst.expressions.UnscaledValue(exprs(0)),
        "scala_udf")
      // fused double -> unscaled-decimal-long, skipping Cast's
      // BigDecimal/toString allocation on the non-tie fast path
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        "graft_dunscaled",
        exprs => DoubleUnscaledExpr(
          exprs(0), exprs(1).eval().asInstanceOf[Number].intValue()),
        "scala_udf")
      // one-pass exact distinct count (no Expand); analyzer wraps the
      // raw AggregateFunction into an AggregateExpression
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        "graft_count_distinct", exprs => ExactCountDistinct(exprs(0)), "scala_udf")
      // two-level exact distinct re-aggregation (level 1 emits per-salt
      // sets, level 2 merges them) — see q_distinct_agg
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        "graft_distinct_set", exprs => ExactDistinctSet(exprs(0)), "scala_udf")
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        "graft_count_distinct_merge",
        exprs => ExactCountDistinctMerge(exprs(0)), "scala_udf")
      // bounded exact bucket collection (count + smallest-cap member
      // list in one buffer) — the LSH skew guard, see Dedup.cappedBuckets
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        "graft_bounded_sorted_set",
        exprs => BoundedSortedCollect(
          exprs(0), exprs(1).eval().asInstanceOf[Number].intValue()), "scala_udf")
      // fixed-point k-means kernels (see VecKernels.scala)
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        "graft_to_fixed", exprs => FixedPointArray(
          exprs(0), exprs(1).eval().asInstanceOf[Number].intValue()), "scala_udf")
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        "graft_l2_argmin", exprs => LongL2ArgMin(exprs(0), exprs(1)), "scala_udf")
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        "graft_vec_sum", exprs => LongVecSum(exprs(0)), "scala_udf")
      // fused dl + per-term frequency scan (text_bm25's hot cell)
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        "graft_term_freqs", exprs => TermFreqs(exprs(0),
          exprs(1).eval().asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
            .toArray[org.apache.spark.unsafe.types.UTF8String](
              org.apache.spark.sql.types.StringType).map(_.toString).toSeq), "scala_udf")
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        "graft_ws_tokens", exprs => WsTokenCount(exprs(0)), "scala_udf")
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        "graft_bpe_tokens", exprs => BpeTokenCount(exprs(0)), "scala_udf")
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        "graft_fingerprint", exprs => Fingerprint(exprs(0)), "scala_udf")
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        "graft_simhash", exprs => SimhashFromText(exprs(0)), "scala_udf")
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        "graft_shingle_minhash", exprs => ShingleMinhash(exprs(0),
          exprs(1).eval().asInstanceOf[Number].intValue(),
          exprs(2).eval().asInstanceOf[Number].intValue()), "scala_udf")
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        "graft_minhash", exprs => MinhashFromText(exprs(0),
          exprs(1).eval().asInstanceOf[Number].intValue(),
          exprs(2).eval().asInstanceOf[Number].intValue()), "scala_udf")
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        "graft_shingle_minhash_hashed", exprs => HashedShingleMinhash(exprs(0),
          exprs(1).eval().asInstanceOf[Number].intValue(),
          exprs(2).eval().asInstanceOf[Number].intValue()), "scala_udf")
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        "graft_jaccard_hashes", exprs => JaccardHashes(exprs(0), exprs(1)), "scala_udf")
      // Misra-Gries frequent-items summary: bounded k-counter state,
      // mergeable across partial aggregations
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        "graft_heavy_hitters", exprs => MisraGriesTopK(
          exprs(0), exprs(1).eval().asInstanceOf[Number].intValue()), "scala_udf")
    }
}
