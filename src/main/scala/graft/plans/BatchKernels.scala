package graft.plans

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.execution.{ColumnarToRowExec, FileSourceScanExec, InputAdapter, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.DoubleUnscaled

/** Columnar-batch aggregate kernels for the per-row-constant class
  * (round 21; guide §1.2 step 2 "per-task work" + §4 "prefer batch
  * execution over row-at-a-time").
  *
  * The three pinned residuals (q_distinct_agg Exp49, q_date_extract
  * Exp48, q_events_hourly Exp46) share one shape: a full-scan group-by
  * whose per-row cost is NOT the parquet decode but the row-at-a-time
  * aggregation constant above it — codegen'd HashAggregate probes a
  * BytesToBytesMap with a composite key per row (date parts / hour
  * bucket), or a TypedImperativeAggregate pays an eval + Number-box +
  * set-insert dispatch per row. DuckDB runs the same aggregations
  * vectorized over its decoded column chunks, which is the 2.0-2.6x gap
  * the floor pins left standing. The q_distinct_agg variant measured a
  * wash (its cost is the distinct-set inserts and merges themselves,
  * which a batch loop keeps identical) and is not carried; kernels
  * exist for q_date_extract and q_events_hourly.
  *
  * These kernels run the partial aggregation BATCH-AT-A-TIME over the
  * parquet reader's own [[org.apache.spark.sql.vectorized.ColumnarBatch]]
  * vectors (`scan.executeColumnar()` — no ColumnarToRow materialization,
  * no per-row UnsafeRow), into flat primitive accumulators (an
  * open-addressing long->slot map with parallel cnt/sum arrays). The
  * FINAL aggregation stays the engine's own distributed plan over the
  * tiny per-partition
  * partials — identical Catalyst expressions ([[dsumFinal]] reuses
  * dsum's exact sum-of-unscaled-longs finish), so results are
  * bit-identical and the 163-gate oracle pins them.
  *
  * Engagement is gated on the plan being EXACTLY a columnar parquet
  * scan of the expected columns (no filter, no projection expressions):
  * anything else falls back to the declared query's existing plan.
  * The gate goes through [[StaticPlan]] so it engages identically under
  * AQE-on (verify) and AQE-off (bench) sessions.
  *
  * Scale behavior: partials are bounded per partition (group cardinality
  * x partition count, same as any map-side partial aggregation); nothing
  * is collected on the driver here, and every action recomputes from the
  * parquet inputs (the scan RDD is never cached).
  */
object BatchKernels {

  /** Final leg of [[graft.queries.CoreQueries.dsum]] over pre-computed
    * per-partition unscaled-long partial sums: the SAME Catalyst
    * expressions dsum ends with (sum of longs -> decimal(38,0) -> exact
    * /10^scale -> double), so the result is bit-identical to dsum over
    * the rows — long addition is associative and the one double
    * rounding happens in the same place. */
  def dsumFinal(c: Column, scale: Int, alias: String): Column = {
    val pow = math.pow(10, scale).toLong
    (sum(c).cast(DecimalType(38, 0)) / lit(pow)).cast(DoubleType).as(alias)
  }

  /** Per-row round-half-up to unscaled long at `scale`, exactly
    * [[graft.functions.DoubleUnscaledExpr]]'s semantics (fast Math.round
    * away from ties, Spark's own Cast sequence near them / on overflow).
    * Returns Long.MinValue as the "null" sentinel ONLY via `valid=false`
    * — packed in the callers' accumulators, never in data. */
  @inline private def unscaledOrInvalid(v: Double, pow: Double, scale: Int): Long = {
    val x = v * pow
    if (DoubleUnscaled.isFast(x)) Math.round(x)
    else {
      val s = DoubleUnscaled.slow(v, scale)
      if (s == null) InvalidUnscaled else s.longValue()
    }
  }
  private val InvalidUnscaled = Long.MinValue

  private def strip(p: SparkPlan): SparkPlan = p match {
    case w: WholeStageCodegenExec => strip(w.child)
    case i: InputAdapter => strip(i.child)
    case c: ColumnarToRowExec => strip(c.child)
    case other => other
  }

  /** The columnar parquet scan behind `df`, when the physical plan is
    * EXACTLY that scan (row-conversion wrappers and a pure
    * attribute-reordering Project aside — the scan prunes to the
    * requested columns but emits them in FILE order) with the expected
    * output types — i.e. no filter, no computed projection, nothing the
    * kernel would silently skip. Returns the scan plus, per df output
    * column, its ordinal in the scan's ColumnarBatch. */
  def scanOf(df: DataFrame, expected: Seq[DataType]): Option[(FileSourceScanExec, Array[Int])] =
    try {
      val plan = StaticPlan.qe(df).executedPlan
      if (plan.output.map(_.dataType) != expected) return None
      val (scanOpt, outAttrs) = strip(plan) match {
        case s: FileSourceScanExec => (Some(s), plan.output)
        case p: org.apache.spark.sql.execution.ProjectExec
          if p.projectList.forall(
            _.isInstanceOf[org.apache.spark.sql.catalyst.expressions.AttributeReference]) =>
          strip(p.child) match {
            case s: FileSourceScanExec => (Some(s), p.projectList.map(
              _.asInstanceOf[org.apache.spark.sql.catalyst.expressions.AttributeReference]))
            case _ => (None, Nil)
          }
        case _ => (None, Nil)
      }
      scanOpt.flatMap { s =>
        if (!s.supportsColumnar) None
        else {
          val idx = outAttrs.map(a => s.output.indexWhere(_.exprId == a.exprId)).toArray
          if (idx.contains(-1) || idx.length != expected.length) None
          else Some((s, idx))
        }
      }
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Open-addressing long-key group accumulator: parallel primitive
    * arrays (count, unscaled sum, sum-seen flag), a dedicated null-key
    * cell, geometric growth. The per-row hot path is one mix + probe +
    * two array writes — no boxing, no UnsafeRow, no BytesToBytesMap. */
  private final class LongGroupAgg(initialCapacity: Int = 1 << 10) {
    private var cap = Integer.highestOneBit(math.max(initialCapacity, 16) * 2 - 1)
    private var mask = cap - 1
    private var keys = new Array[Long](cap)
    private var used = new Array[Boolean](cap)
    private var cnt = new Array[Long](cap)
    private var sum = new Array[Long](cap)
    private var has = new Array[Boolean](cap)
    private var n = 0
    var nullCnt = 0L
    var nullSum = 0L
    var nullHas = false

    // Stafford variant 13 mixer (as AdaptiveLongSet): full avalanche so
    // sequential day/hour buckets spread across the table
    @inline private def mix(x: Long): Long = {
      var z = x
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z ^ (z >>> 31)
    }

    def add(key: Long, u: Long, uValid: Boolean): Unit = {
      if ((n + 1L) * 4 > cap.toLong * 3) grow()
      var i = (mix(key) & mask).toInt
      while (used(i) && keys(i) != key) i = (i + 1) & mask
      if (!used(i)) { used(i) = true; keys(i) = key; n += 1 }
      cnt(i) += 1
      if (uValid) { sum(i) += u; has(i) = true }
    }

    def addNull(u: Long, uValid: Boolean): Unit = {
      nullCnt += 1
      if (uValid) { nullSum += u; nullHas = true }
    }

    private def grow(): Unit = {
      val ok = keys; val ou = used; val oc = cnt; val os = sum; val oh = has
      cap <<= 1; mask = cap - 1
      keys = new Array[Long](cap); used = new Array[Boolean](cap)
      cnt = new Array[Long](cap); sum = new Array[Long](cap); has = new Array[Boolean](cap)
      var j = 0
      while (j < ok.length) {
        if (ou(j)) {
          var i = (mix(ok(j)) & mask).toInt
          while (used(i)) i = (i + 1) & mask
          used(i) = true; keys(i) = ok(j); cnt(i) = oc(j); sum(i) = os(j); has(i) = oh(j)
        }
        j += 1
      }
    }

    /** Visit non-null-key cells: (key, cnt, sum, hasSum). */
    def foreachCell(f: (Long, Long, Long, Boolean) => Unit): Unit = {
      var j = 0
      while (j < keys.length) {
        if (used(j)) f(keys(j), cnt(j), sum(j), has(j))
        j += 1
      }
    }
  }

  private val MicrosPerDay = 86400000000L
  private val MicrosPerHour = 3600000000L

  /** q_date_extract kernel: orders scanned columnar, per-batch
    * accumulation keyed on the raw epoch DAY (one floorDiv per row;
    * year/month computed once per distinct day at partition end, via the
    * same proleptic-Gregorian java.time path Catalyst's year()/month()
    * use), partials finished by the engine's own groupBy(y,m). `base`
    * must be orders projected to (o_orderdate TIMESTAMP_NTZ,
    * o_totalprice DOUBLE). */
  def dateExtract(base: DataFrame): Option[DataFrame] =
    scanOf(base, Seq(TimestampNTZType, DoubleType)).map { case (scan, idx) =>
      val spark = base.sparkSession
      val (iDate, iPrice) = (idx(0), idx(1))
      val rdd = scan.executeColumnar().mapPartitions { it =>
        val agg = new LongGroupAgg()
        while (it.hasNext) {
          val b = it.next()
          val dateV = b.column(iDate); val priceV = b.column(iPrice)
          val rows = b.numRows()
          var i = 0
          while (i < rows) {
            var u = 0L; var valid = false
            if (!priceV.isNullAt(i)) {
              u = unscaledOrInvalid(priceV.getDouble(i), 100.0, 2)
              valid = u != InvalidUnscaled
              if (!valid) u = 0L
            }
            if (dateV.isNullAt(i)) agg.addNull(u, valid)
            else agg.add(Math.floorDiv(dateV.getLong(i), MicrosPerDay), u, valid)
            i += 1
          }
        }
        // fold ~2.4k day cells into (y, m) cells — one LocalDate
        // conversion per DISTINCT day, not per row
        val ym = new java.util.HashMap[Long, Array[Long]]()
        agg.foreachCell { (day, c, s, h) =>
          val d = java.time.LocalDate.ofEpochDay(day)
          val key = (d.getYear.toLong << 32) | (d.getMonthValue.toLong & 0xffffffffL)
          var cell = ym.get(key)
          if (cell == null) { cell = new Array[Long](3); ym.put(key, cell) }
          cell(0) += c
          if (h) { cell(1) += s; cell(2) = 1 }
        }
        val out = Vector.newBuilder[Row]
        ym.forEach { (key, cell) =>
          out += Row((key >> 32).toInt, key.toInt,
            cell(0), if (cell(2) == 1) java.lang.Long.valueOf(cell(1)) else null)
        }
        if (agg.nullCnt > 0)
          out += Row(null, null, agg.nullCnt,
            if (agg.nullHas) java.lang.Long.valueOf(agg.nullSum) else null)
        out.result().iterator
      }
      val schema = StructType(Seq(
        StructField("y", IntegerType), StructField("m", IntegerType),
        StructField("n", LongType, nullable = false), StructField("s", LongType)))
      spark.createDataFrame(rdd, schema)
        .groupBy("y", "m")
        .agg(sum("n").as("n"), dsumFinal(col("s"), 2, "total"))
    }

  /** q_events_hourly kernel: events scanned columnar, accumulation keyed
    * on (hour bucket = one floorDiv of the raw micros, event_type via a
    * tiny per-type map), partials finished by the engine's own
    * groupBy(b, event_type) + the query's existing bucket->NTZ
    * presentation. `base` must be events projected to
    * (ts TIMESTAMP_NTZ, event_type STRING, value DOUBLE). */
  def eventsHourly(base: DataFrame): Option[DataFrame] =
    scanOf(base, Seq(TimestampNTZType, StringType, DoubleType)).map { case (scan, idx) =>
      val spark = base.sparkSession
      val (iTs, iType, iVal) = (idx(0), idx(1), idx(2))
      val rdd = scan.executeColumnar().mapPartitions { it =>
        // event_type cardinality is tiny (5 in the fixture); a HashMap
        // lookup per row on a string would allocate — key the per-type
        // accumulators on the FIRST BYTE for 1..N-byte strings with a
        // last-seen memo, falling back to a string map only for types
        // that collide on the first byte (none in the fixture)
        val byType = new java.util.HashMap[String, LongGroupAgg]()
        var lastType: org.apache.spark.unsafe.types.UTF8String = null
        var lastAgg: LongGroupAgg = null
        while (it.hasNext) {
          val b = it.next()
          val tsV = b.column(iTs); val typeV = b.column(iType); val valV = b.column(iVal)
          val rows = b.numRows()
          var i = 0
          while (i < rows) {
            var u = 0L; var valid = false
            if (!valV.isNullAt(i)) {
              u = unscaledOrInvalid(valV.getDouble(i), 1000000.0, 6)
              valid = u != InvalidUnscaled
              if (!valid) u = 0L
            }
            val agg =
              if (typeV.isNullAt(i)) {
                var a = byType.get(null)
                if (a == null) { a = new LongGroupAgg(); byType.put(null, a) }
                a
              } else {
                val t = typeV.getUTF8String(i)
                if (lastType != null && t.equals(lastType)) lastAgg
                else {
                  val ts = t.toString
                  var a = byType.get(ts)
                  if (a == null) { a = new LongGroupAgg(); byType.put(ts, a) }
                  // memo key must not alias the reused batch buffer
                  lastType = t.clone(); lastAgg = a
                  a
                }
              }
            if (tsV.isNullAt(i)) agg.addNull(u, valid)
            else agg.add(Math.floorDiv(tsV.getLong(i), MicrosPerHour), u, valid)
            i += 1
          }
        }
        val out = Vector.newBuilder[Row]
        byType.forEach { (tpe, agg) =>
          agg.foreachCell { (bucket, c, s, h) =>
            out += Row(bucket, tpe, c, if (h) java.lang.Long.valueOf(s) else null)
          }
          if (agg.nullCnt > 0)
            out += Row(null, tpe, agg.nullCnt,
              if (agg.nullHas) java.lang.Long.valueOf(agg.nullSum) else null)
        }
        out.result().iterator
      }
      val schema = StructType(Seq(
        StructField("b", LongType), StructField("event_type", StringType),
        StructField("n", LongType, nullable = false), StructField("s", LongType)))
      spark.createDataFrame(rdd, schema)
        .groupBy("b", "event_type")
        .agg(sum("n").as("n"), dsumFinal(col("s"), 6, "sum_value"))
        .select(
          expr("cast(timestamp_micros(b * 3600000000) as timestamp_ntz)").as("hour"),
          col("event_type"), col("n"), col("sum_value"))
    }
}
