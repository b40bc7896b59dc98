package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, JoinedRow, MutableProjection, SpecificInternalRow, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.{DeclarativeAggregate, Final, Partial}
import org.apache.spark.sql.execution.{InputAdapter, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.aggregate.HashAggregateExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import scala.util.control.NonFatal

/** Coordinator-side final merge for SMALL-cardinality aggregations.
  *
  * A two-phase `groupBy().agg()` plans as partial-agg -> shuffle ->
  * final-agg. When the group-by key is bounded by construction (a flag
  * pair, a calendar bucket, a 25-row dimension), the shuffled data is a
  * few hundred tiny partial-state rows — yet the exchange still costs a
  * full extra stage (~50 ms of scheduler latency in local mode, a
  * network round per executor on a cluster). Distributed engines
  * finalize exactly this shape on the coordinator: DuckDB merges
  * thread-local states on one thread, Trino routes partials to a single
  * final node. This helper does the same with Spark's own aggregate
  * semantics: it executes ONLY the partial stage, collects the partial
  * buffers (bounded: #tasks x #groups rows), merges them on the driver
  * with each aggregate's OWN Catalyst `mergeExpressions` /
  * `evaluateExpression`, and returns the finished result as a LAZY
  * local DataFrame ([[LazyLocal]]): the shape analysis runs once at
  * build, the partial job + merge re-run on every action, so prepared
  * plans stay current and repeated executions skip Catalyst re-analysis
  * but never skip execution. Numeric behavior is bit-identical to the
  * distributed plan because the very same expressions run — just
  * interpreted on the driver instead of codegen'd in an executor stage
  * (the pattern of TakeOrderedAndProject, applied to aggregation).
  *
  * Scale guard: this is ONLY sound when the group-key cardinality is
  * bounded independent of data volume — callers opt in per query, and a
  * hard `maxPartialRows` cap reroutes an over-cap execution to the
  * distributed final aggregation rather than merging an unbounded state
  * on the driver. Plans that don't match the partial/final shape
  * (distinct rewrites, imperative aggregates, AQE-wrapped plans) fall
  * back untouched at build time.
  */
object DriverFinalAgg {

  /** Physical plan of the most recent engaged rewrite's source query
    * (the distributed plan whose partial stage ran) — diagnostics and
    * plan-quality tests; the merged result is just a LocalRelation.
    * Stored as the node, rendered on demand (toString of a wide join
    * plan is not free on the per-query hot path). */
  @volatile private var lastSourcePlanNode: SparkPlan = null
  def lastSourcePlan: String =
    Option(lastSourcePlanNode).map(_.toString).getOrElse("")
  private[graft] def lastSourcePlan_=(s: String): Unit =
    if (s.isEmpty) lastSourcePlanNode = null

  /** `sortBy`: optional (column, ascending) presentation order applied
    * DRIVER-SIDE to the merged result (Catalyst-identical order via
    * [[RowOrd]]), so the returned plan needs no Spark-side sort — a
    * collect of the finished result launches only the partial-stage
    * job. When a key isn't driver-orderable the rewrite attaches the
    * equivalent Spark-side sort itself; either way the returned plan
    * is already ordered. */
  def rewrite(
      df: DataFrame, maxPartialRows: Int = 1 << 20,
      sortBy: Seq[(String, Boolean)] = Nil): Option[DataFrame] =
    try {
      val r = rewrite0(df, maxPartialRows, sortBy)
      if (r.isEmpty && sys.env.contains("SPARK_GRAFT_DEBUG"))
        System.err.println("[driver-agg] shape mismatch, fell back:\n" +
          df.queryExecution.executedPlan.treeString)
      r
    } catch {
      case NonFatal(e) =>
        if (sys.env.contains("SPARK_GRAFT_DEBUG")) {
          System.err.println(s"[driver-agg] fallback: $e")
          e.printStackTrace()
        }
        None
    }

  private def strip(p: SparkPlan): SparkPlan = p match {
    case w: WholeStageCodegenExec => strip(w.child)
    case i: InputAdapter => strip(i.child)
    case other => other
  }

  // no-AQE static re-plan, shared with BatchKernels — see [[StaticPlan]]
  private def staticQe(df: DataFrame): org.apache.spark.sql.execution.QueryExecution =
    StaticPlan.qe(df)

  private def rewrite0(
      df: DataFrame, maxPartialRows: Int,
      sortBy: Seq[(String, Boolean)]): Option[DataFrame] = {
    val spark = df.sparkSession
    val plan = staticQe(df).executedPlan

    val (finalAgg, partialPlan, partialAgg) = strip(plan) match {
      case f: HashAggregateExec if f.aggregateExpressions.forall(_.mode == Final) =>
        strip(f.child) match {
          case sh: ShuffleExchangeExec => strip(sh.child) match {
            case p: HashAggregateExec if p.aggregateExpressions.forall(_.mode == Partial) =>
              (f, sh.child, p)
            case _ => return None
          }
          case _ => return None
        }
      case _ => return None
    }
    lastSourcePlanNode = plan
    val fns = finalAgg.aggregateExpressions.map(_.aggregateFunction)
    if (!fns.forall(_.isInstanceOf[DeclarativeAggregate])) return None
    val aggs = fns.map(_.asInstanceOf[DeclarativeAggregate])

    val partialOutput: Seq[Attribute] = partialAgg.output
    val nGroup = finalAgg.groupingExpressions.length
    val bufferAttrs = aggs.flatMap(_.aggBufferAttributes)
    if (partialOutput.length != nGroup + bufferAttrs.length) return None

    // Bind-validate EVERY projection now: with the eager rewrite an
    // incompatible shape (e.g. a distinct pre-agg whose exprIds don't
    // line up with the final agg's result attributes) failed inside the
    // surrounding try and fell back at build; the lazy closure would
    // surface it at ACTION time instead. Validation instances are then
    // discarded — projections are stateful, so each execution creates
    // fresh ones (cheap: the codegen cache has them after this).
    UnsafeProjection.create(partialOutput.take(nGroup), partialOutput)
    MutableProjection.create(aggs.flatMap(_.initialValues), Nil)
    MutableProjection.create(
      aggs.flatMap(_.mergeExpressions), bufferAttrs ++ partialOutput)
    MutableProjection.create(aggs.map(_.evaluateExpression), bufferAttrs)
    UnsafeProjection.create(
      finalAgg.resultExpressions,
      partialOutput.take(nGroup) ++ finalAgg.aggregateExpressions.map(_.resultAttribute))

    // LAZY coordinator finish: the shape analysis above runs once at
    // build; the closure below runs on EVERY action of the returned
    // DataFrame ([[LazyLocal]] re-invokes it per physical planning), so
    // a prepared/reused plan still re-runs the partial stage against
    // current table state — and repeated executions (benchmark passes,
    // dashboard refreshes) pay execution, not Catalyst re-analysis.
    // Projections are created per call: they're stateful (shared target
    // buffers), and the codegen cache makes re-creation cheap.
    val sortSpec = RowOrd.spec(df.schema, sortBy) // None -> caller sorts
    def sorted(rows: Seq[InternalRow]): Seq[InternalRow] = sortSpec match {
      case Some(sp) =>
        val arr = rows.toArray
        java.util.Arrays.sort(arr, RowOrd.comparator(sp))
        arr.toSeq
      case None => rows
    }
    val compute: () => Seq[InternalRow] = () => sorted(try {
      // one partial-stage job; rows are (group cols ++ partial agg
      // buffers). Execute a CLONE of the captured plan: the same
      // instance would reuse its lazy broadcast relationFutures (a
      // partial stage containing dim joins, e.g. q5, would serve the
      // first execution's broadcasts forever — stale results on
      // changed dims, skipped work on repeat executions).
      val partials = partialPlan.clone().execute().map(_.copy()).collect()
      if (partials.length > maxPartialRows) {
        // runtime cap breach: the bounded-cardinality contract the
        // caller vouched for doesn't hold — run the DISTRIBUTED final
        // aggregation instead (same result; every driverAgg caller
        // presents a small final result, so the collect stays bounded
        // by the group count, not the partial count)
        plan.clone().executeCollect().toSeq.map(_.copy())
      } else {
        val groupProj = UnsafeProjection.create(partialOutput.take(nGroup), partialOutput)
        val initProj = MutableProjection.create(aggs.flatMap(_.initialValues), Nil)
        // merge reads the running buffer on the left and the incoming partial
        // row on the right; inputAggBufferAttributes carry the partial
        // output's exprIds, so binding against the concatenation resolves both
        val mergeProj = MutableProjection.create(
          aggs.flatMap(_.mergeExpressions), bufferAttrs ++ partialOutput)
        val joined = new JoinedRow

        val buffers = new java.util.LinkedHashMap[UnsafeRow, SpecificInternalRow]()
        partials.foreach { row =>
          val key = groupProj(row)
          var buf = buffers.get(key)
          if (buf == null) {
            buf = new SpecificInternalRow(bufferAttrs.map(_.dataType))
            initProj.target(buf)(InternalRow.empty)
            buffers.put(key.copy(), buf)
          }
          mergeProj.target(buf)(joined(buf, row))
        }
        // empty input, global aggregation: one group of initial values
        // (count() = 0, sum = null), matching the distributed plan
        if (buffers.isEmpty && nGroup == 0) {
          val buf = new SpecificInternalRow(bufferAttrs.map(_.dataType))
          initProj.target(buf)(InternalRow.empty)
          buffers.put(UnsafeProjection.create(Seq.empty[Attribute], Nil)(InternalRow.empty).copy(), buf)
        }

        val evalProj = MutableProjection.create(aggs.map(_.evaluateExpression), bufferAttrs)
        // the key row carries exactly the nGroup grouping columns, so the
        // aggregate result attributes land at ordinals nGroup..n in the join
        val resultProj = UnsafeProjection.create(
          finalAgg.resultExpressions,
          partialOutput.take(nGroup) ++ finalAgg.aggregateExpressions.map(_.resultAttribute))
        val resultJoin = new JoinedRow
        val out = Vector.newBuilder[InternalRow]
        buffers.forEach { (key, buf) =>
          val evaluated = evalProj(buf)
          out += resultProj(resultJoin(key, evaluated)).copy()
        }
        out.result()
      }
    } catch {
      case NonFatal(e) =>
        // belt-and-braces: any runtime surprise in the coordinator merge
        // reroutes to the distributed plan (same rows) instead of
        // failing the action
        if (sys.env.contains("SPARK_GRAFT_DEBUG"))
          System.err.println(s"[driver-agg] runtime fallback: $e")
        plan.clone().executeCollect().toSeq.map(_.copy())
    })
    val lazyDf = LazyLocal.internalRows(spark, df.schema, compute)
    // when a sort key isn't driver-orderable, attach the equivalent
    // Spark-side sort so the caller always receives an ordered plan
    Some(if (sortSpec.isEmpty && sortBy.nonEmpty)
      lazyDf.coalesce(1).sortWithinPartitions(sortBy.map { case (n, asc) =>
        if (asc) org.apache.spark.sql.functions.col(n).asc
        else org.apache.spark.sql.functions.col(n).desc }: _*)
    else lazyDf)
  }
}
