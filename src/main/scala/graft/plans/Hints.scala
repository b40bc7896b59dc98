package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.broadcast

/** Size-aware join-strategy hints.
  *
  * Catalyst auto-broadcasts a relation when its size ESTIMATE is under
  * `spark.sql.autoBroadcastJoinThreshold`, but without CBO the estimate
  * for a join output is a blown-up product, so a provably-small
  * pre-joined build side (dim-filtered fact slice joined to a key list)
  * never qualifies even when a tight upper bound for it is sitting in
  * the stats of one of its inputs. `broadcastIfSmall` applies the
  * broadcast hint only when Catalyst's own estimate for a caller-chosen
  * upper-bound plan fits the session threshold — at bench scale the
  * slice broadcasts; at 100 TB the same code degrades to a shuffle join
  * (the same decision AQE would make at runtime, taken at plan time for
  * a sub-second query where AQE's re-planning jobs cost more than the
  * query).
  */
object Hints {

  /** The session's auto-broadcast threshold in bytes; <= 0 when
    * broadcasting is disabled. "-1" (disabled) is a bare negative
    * number, which the byte-string parser rejects — treat any
    * unparsable value as disabled. */
  def autoBroadcastThreshold(df: DataFrame): Long =
    try org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
      df.sparkSession.conf.get("spark.sql.autoBroadcastJoinThreshold", "10MB"))
    catch { case _: NumberFormatException => -1L }

  /** Catalyst's size estimate for `df`'s optimized plan. */
  def sizeEstimate(df: DataFrame): BigInt =
    df.queryExecution.optimizedPlan.stats.sizeInBytes

  /** Cap for the MEASURED broadcast path (see [[broadcastIfSmall]]'s
    * `countOnFail`). Deliberately looser than
    * `spark.sql.autoBroadcastJoinThreshold`: that knob guards against
    * Catalyst's blind size ESTIMATES (which without CBO can be off by
    * orders of magnitude in either direction), while this one gates an
    * exact executed COUNT times the schema width. The budget it has to
    * fit is the executor-side hash relation (roughly 2-3x the raw
    * bytes once UnsafeRows and the LongToUnsafeRowMap are built), so
    * 128 MB raw stays under ~400 MB per executor — small against the
    * multi-GB executor heaps any 100 TB deployment runs, and far
    * cheaper than re-shuffling a fact table that is 3-4 orders of
    * magnitude larger than the build side. */
  val MeasuredCapBytes: Long = 128L << 20

  /** Fact-volume floor above which the measured-broadcast rescue
    * engages (round 19, from the sf50 trend line); below it the gate
    * stays closed. On a single-JVM local[32] "cluster" at sf10-class
    * volumes the rescue is a measured NEGATIVE (tools/Exp21, sf10,
    * exec-only with the count amortized at plan time: q5 2.55 s
    * broadcast vs 2.34 s shuffled-hash, q3 2.16 vs 1.67, isolated
    * orders join 2.00 vs 1.72) — a shuffle there is an in-memory copy,
    * while every one of 32 threads contends on the single shared
    * broadcast hash relation that also costs a per-execution
    * collect+build. The sign INVERTS as the fact side grows: at sf50
    * (fact ~4.9 GB) the same interleaved A/B read q3 static-SHJ 6.14 s
    * vs measured-broadcast 5.39 s (-12%) and q5 ~tie — one build +
    * many probes beats re-exchanging the fact even where the exchange
    * is only an in-memory copy, and on a real cluster (where it crosses
    * the network) the crossover comes far earlier. Callers that know
    * their fact side pass it via [[broadcastIfSmall]]'s `factSide`;
    * when its size estimate clears this floor the measured path
    * engages with [[MeasuredCapBytes]] as the cap. */
  private val AutoEngageFactBytes: Long = 4L << 30

  /** Broadcast `df` iff the size estimate of `bound` (a plan whose row
    * set provably contains `df`'s, e.g. the pre-join filtered side of a
    * key-preserving join) is within the auto-broadcast threshold.
    *
    * When the gate FAILS, the degraded join must still not sort: the
    * first sf10 sweep caught exactly this cliff — q5/q3's orders side
    * outgrew the broadcast gate and Spark's default turned the fact
    * join into a sort-merge that sorted 60M lineitem rows (q5 went
    * 3.4x -> 15x vs the columnar oracle). The caller's `df` is the
    * smaller side by construction, so the right fallback is a
    * shuffled-hash build from it: both sides still exchange, nothing
    * sorts, and the per-partition build is df-bytes/shuffle-partitions
    * — bounded by the same shuffle-width knob every deployment already
    * sizes. Caveat, stated plainly: Spark's hash build does not spill,
    * so a caller whose df side can be BOTH huge and heavily skewed on
    * the join key should pass `hashFallback = false` and keep the
    * spill-safe sort-merge.
    *
    * `countOnFail` (opt-in per call site) adds a SECOND chance before
    * degrading: a plan that is cheap to execute and whose row count
    * provably upper-bounds `df`'s (usually `df` itself when `df` is
    * scan+filter+project, or the pre-join filtered input when `df`
    * embeds a join that is expensive to run twice). On static-gate
    * failure it is COUNTed — one real Spark job, paid only on the
    * failure path — and `df` broadcasts anyway if
    * rows x defaultSize(df.schema) fits [[MeasuredCapBytes]] and the
    * caller's `factSide` clears [[AutoEngageFactBytes]].
    * This is the selectivity information a cost-based optimizer reads
    * from table statistics, bought at the price of one scan of the
    * small side: at sf10 the one-year orders slice in q5 is ~37 MB of
    * exact rows — trivially broadcastable — but Catalyst's static
    * estimate for it is the unfiltered file size, so without the count
    * the whole 60M-row fact side pays an avoidable exchange. Callers
    * whose `df` is itself expensive (e.g. an aggregation over the fact
    * table) simply don't pass `countOnFail` and keep the old behavior.
    * At 100 TB the measured bytes outgrow the cap and the path degrades
    * to the same shuffled-hash join as before. */
  def broadcastIfSmall(df: DataFrame, bound: DataFrame,
      hashFallback: Boolean = true,
      countOnFail: Option[DataFrame] = None,
      factSide: Option[DataFrame] = None): DataFrame = {
    val threshold = autoBroadcastThreshold(df)
    if (threshold > 0 && sizeEstimate(bound) <= threshold) broadcast(df)
    else {
      // measured second chance only when broadcasting is enabled and
      // the caller's fact side is past the sf50-trend floor
      val engaged = threshold > 0 &&
        factSide.exists(f => sizeEstimate(f) >= AutoEngageFactBytes)
      val measuredFit = engaged && countOnFail.exists { proxy =>
        measuredBytes(df.schema, proxy).exists(_ <= MeasuredCapBytes)
      }
      if (measuredFit) broadcast(df)
      else if (hashFallback) df.hint("shuffle_hash")
      else df
    }
  }

  private def isFixedWidth(dt: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    dt match {
      case _: NumericType | BooleanType | DateType | TimestampType | TimestampNTZType => true
      case _ => false
    }
  }

  /** Byte estimate for the broadcast payload behind the measured gate:
    * fixed-width fields at their defaultSize, variable-width
    * (string/binary) fields at their ACTUAL summed bytes, measured on
    * `proxy` in the same single job that produces the row count.
    * `StringType.defaultSize` is a flat 20 bytes that UNDER-charges real
    * string data, so a rows x defaultSize product is not an upper bound
    * for string-carrying sides — a side passing a 128 MB cap that way
    * could broadcast gigabytes. None (gate stays closed) when a
    * variable-width column of `df` is absent from `proxy` or is a nested
    * type we don't measure. */
  private def measuredBytes(schema: org.apache.spark.sql.types.StructType,
      proxy: DataFrame): Option[Long] = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.{BinaryType, StringType}
    val proxyCols = proxy.columns.toSet
    val (fixed, variable) = schema.fields.partition(f => isFixedWidth(f.dataType))
    val measurable = variable.forall(f =>
      (f.dataType == StringType || f.dataType == BinaryType) && proxyCols.contains(f.name))
    if (!measurable) return None
    // UnsafeRow pads each variable-width value to an 8-byte boundary —
    // sum the ALIGNED bytes per value, not the raw octet count, so a
    // side sitting just under the cap can't exceed it in practice
    val aggs = count(lit(1)).cast("long") +:
      variable.toSeq.map(f => coalesce(
        // (n + 7) & ~7 — integer alignment; SQL `/` would widen to double
        sum((octet_length(col(f.name)).cast("long") + lit(7L)).bitwiseAND(lit(-8L))),
        lit(0L)))
    val row = proxy.agg(aggs.head, aggs.tail: _*).head()
    val rows = row.getLong(0)
    // one 8-byte UnsafeRow slot per field plus the null bitset (one
    // 8-byte word per 64 fields) on top of the data bytes
    val bitsetBytes = 8L * ((schema.length + 63) / 64)
    val perRowFixed =
      fixed.map(_.dataType.defaultSize.toLong).sum + 8L * schema.length + bitsetBytes
    Some(rows * perRowFixed + (1 until row.length).map(row.getLong).sum)
  }
}
