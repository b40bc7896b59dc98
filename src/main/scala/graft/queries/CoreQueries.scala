package graft.queries

import graft.{Q, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Core relational surface: scans, filters, joins (inner/outer/semi/anti),
  * aggregations (hash agg, distinct, rollup/cube), window functions, sorts,
  * limits, set ops, scalar functions — the DuckDB pass-through surface of
  * the reference (SURVEY §2.3–§2.5), expressed Spark-first and verified
  * against a DuckDB oracle.
  *
  * Determinism rules used throughout (for hash-compare parity):
  *  - money/qty sums go through DECIMAL casts (exact, order-independent);
  *  - avgs of doubles are rounded;
  *  - every result has a total ORDER BY with unique tie-breakers;
  *  - timestamps stay TIMESTAMP_NTZ end-to-end (see [[graft.Tables]]).
  */
object CoreQueries {

  /** Exact decimal sum of a (possibly computed) double column, surfaced as
    * DOUBLE: the decimal intermediate makes the sum order-independent, the
    * final cast gives a bit-identical representation in Spark and DuckDB.
    *
    * Summed as the decimal's UNSCALED long: graft_dunscaled performs
    * the cast's round-half-up directly on the double (Math.round fast
    * path, exact Decimal slow path near ties — see
    * [[graft.functions.DoubleUnscaledExpr]]), so the aggregation buffer
    * is a plain codegen long and the per-row BigDecimal/toString
    * allocation of Cast disappears (measured ~95ms per computed-product
    * sum on the q1 scan-agg). The final
    * decimal(38,0)/10^scale division is exact (result scale 6 >= all our
    * scales), so the one double rounding happens at the cast, identical
    * to Decimal.toDouble. Unscaled sums fit a long up to ~9e18 — room for
    * four orders of magnitude beyond sf100 at scale 6; past that, shard
    * the sum or fall back to the decimal buffer. */
  private[queries] def dsum(c: Column, scale: Int, alias: String): Column = {
    graft.functions.GraftFunctions.register(
      org.apache.spark.sql.SparkSession.active)
    val pow = math.pow(10, scale).toLong
    (sum(call_function("graft_dunscaled", c.cast(DoubleType), lit(scale)))
      .cast(DecimalType(38, 0)) / lit(pow)).cast(DoubleType).as(alias)
  }

  private def ts(s: String): Column = expr(s"TIMESTAMP_NTZ '$s'")

  val all: Seq[Q] = Seq(
    // ------------------------------------------------------------------
    Q("q1_pricing_summary",
      (s, d) => {
        Tables.lineitem(s, d)
          .filter(col("l_shipdate") <= ts("1998-09-02 00:00:00"))
          .groupBy("l_returnflag", "l_linestatus")
          .agg(
            dsum(col("l_quantity"), 2, "sum_qty"),
            dsum(col("l_extendedprice"), 2, "sum_base_price"),
            dsum(col("l_extendedprice") * (lit(1) - col("l_discount")), 4, "sum_disc_price"),
            dsum(col("l_extendedprice") * (lit(1) - col("l_discount")) * (lit(1) + col("l_tax")), 6, "sum_charge"),
            round(avg("l_quantity"), 2).as("avg_qty"),
            round(avg("l_extendedprice"), 2).as("avg_price"),
            count(lit(1)).as("count_order"))
          .transform(Present.driverAgg(_, "l_returnflag" -> true, "l_linestatus" -> true))
      },
      oracle = Some("""
        SELECT l_returnflag, l_linestatus,
          CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
          CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
          CAST(sum(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
          CAST(sum(CAST(l_extendedprice*(1-l_discount)*(1+l_tax) AS DECIMAL(18,6))) AS DOUBLE) AS sum_charge,
          round(avg(l_quantity), 2) AS avg_qty,
          round(avg(l_extendedprice), 2) AS avg_price,
          count(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus"""),
      bench = true,
      doc = "TPC-H Q1-shaped scan+hash-agg (SURVEY §2.4)"),

    // ------------------------------------------------------------------
    Q("q3_shipping_priority",
      (s, d) => {
        val c = Tables.customer(s, d).filter(col("c_mktsegment") === "BUILDING")
          .select("c_custkey")
        val o = Tables.orders(s, d).filter(col("o_orderdate") < ts("1998-03-15 00:00:00"))
        val l = Tables.lineitem(s, d).filter(col("l_shipdate") > ts("1998-03-15 00:00:00"))
        // reduce the orders side to BUILDING rows BEFORE the fact join —
        // the build payload shrinks ~5x. The join output has no usable
        // Catalyst estimate (no CBO), but orders PROJECTED to the three
        // shipped columns is a provable upper bound (c_custkey is
        // unique, so the semi join can't grow the row count, and the
        // broadcast rows carry only these columns — a full-width bound
        // over-charges 9 columns for a 3-column payload and pushed q3
        // to a shuffle join at sf1, -13% measured on the projected
        // bound, tools/Exp8). Size-gated: at 100 TB this still degrades
        // to a shuffle join.
        // Both gates carry a countOnFail proxy: past the static bound
        // (sf10+) the BUILDING-filtered oj slice is a few-MB exact
        // count, and paying that one count job keeps the 60M-row fact
        // side shuffle-free. c is scan-only, so counting it is cheap;
        // oj's count reuses whatever join shape c's own gate picked,
        // so it is one pass over orders, never over lineitem.
        val cSmall = graft.plans.Hints.broadcastIfSmall(c, bound = c,
          countOnFail = Some(c))
        val oj = o.join(cSmall, col("o_custkey") === col("c_custkey"))
          .select("o_orderkey", "o_orderdate", "o_orderpriority")
        val ojBound = Tables.orders(s, d)
          .select("o_orderkey", "o_orderdate", "o_orderpriority")
        // bloom prefilter on the (shipdate-filtered) fact side: only
        // ~1/5 of its rows hit a BUILDING order — see q5's note.
        // Re-validated at sf10 (round 16, tools/Exp40 prepared-clone
        // A/B, bit-identical results): bloom on 1.02-1.26 s vs off
        // 1.46-3.23 s — the build amortizes well past the Exp22
        // sf0.1-class volumes, so no fact-volume gate is warranted.
        val lp = graft.plans.BloomPrune.pruned(l, col("l_orderkey"), oj, col("o_orderkey"))
        lp.join(graft.plans.Hints.broadcastIfSmall(oj, bound = ojBound,
            countOnFail = Some(oj), factSide = Some(l)),
            col("l_orderkey") === col("o_orderkey"))
          .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
          .agg(dsum(col("l_extendedprice") * (lit(1) - col("l_discount")), 4, "revenue"))
          .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
          .orderBy(desc("revenue"), asc("l_orderkey"))
          .limit(10)
      },
      oracle = Some("""
        SELECT l_orderkey,
          CAST(sum(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
          o_orderdate, o_orderpriority
        FROM customer, orders, lineitem
        WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey AND l_orderkey = o_orderkey
          AND o_orderdate < TIMESTAMP '1998-03-15' AND l_shipdate > TIMESTAMP '1998-03-15'
        GROUP BY l_orderkey, o_orderdate, o_orderpriority
        ORDER BY revenue DESC, l_orderkey LIMIT 10"""),
      bench = true,
      doc = "3-way join + agg + top-k (SURVEY §2.3 J1)"),

    // ------------------------------------------------------------------
    Q("q5_local_supplier",
      (s, d) => {
        // Fold the supplier->nation->region chain into ONE composite
        // broadcast dim (suppliers in ASIA nations, keyed by suppkey +
        // nationkey): the fact stream passes one broadcast hash join
        // instead of three, and the region filter prunes the dim BEFORE
        // it ships. At cluster scale each broadcast is a driver collect
        // + full-executor fan-out, so fewer-and-smaller wins twice
        // (measured -5..-17% same-JVM at sf1, tools/Exp8; bit-identical).
        val dim = Tables.supplier(s, d)
          .join(broadcast(Tables.nation(s, d)),
            col("s_nationkey") === col("n_nationkey"))
          .join(broadcast(Tables.region(s, d).filter(col("r_name") === "ASIA")),
            col("n_regionkey") === col("r_regionkey"))
          .select(col("s_suppkey"), col("s_nationkey"), col("n_name"))
        // Customer only contributes its nation key to the star; the
        // 2-column projection broadcasts well past sf1 under the same
        // size gate, making the whole pre-agg fact path shuffle-free at
        // bench SF. At 100 TB the gate fails and it degrades back to a
        // shuffle join on o_custkey.
        val c = Tables.customer(s, d).select("c_custkey", "c_nationkey")
        // The fact path's ONLY shuffle is l><o; the one-year filtered
        // orders side projected to its two shipped columns is small
        // enough to broadcast well past sf1 (-6% measured same-JVM,
        // tools/Exp8, on top of removing the exchange — the shape that
        // matters at cluster scale). Size-gated on the projected
        // full-table bound, so 100 TB degrades back to the shuffle join.
        val o = Tables.orders(s, d)
          .filter(col("o_orderdate") >= ts("1996-01-01 00:00:00") &&
            col("o_orderdate") < ts("1997-01-01 00:00:00"))
          .select("o_orderkey", "o_custkey")
        val oBound = Tables.orders(s, d).select("o_orderkey", "o_custkey")
        val l0 = Tables.lineitem(s, d)
        // Bloom semi-join prefilter (round 14): ~6/7 of lineitem rows
        // miss the one-year orders slice, and Exp21 showed this join's
        // input volume IS q5's wall (one join = +1.45 s over a 0.27 s
        // scan floor at sf10). The bloom drops misses inside the scan
        // stage, before they are exchanged or probed — the shape that
        // matters at 1000 executors, where pruned rows never hit the
        // network. Advisory-only: false positives pass, the join stays
        // exact, and BloomPrune degrades to a no-op past its key cap.
        val l = graft.plans.BloomPrune.pruned(l0, col("l_orderkey"), o, col("o_orderkey"))
        // countOnFail: past the static bound, the one-year slice is an
        // exact ~2M-row/16B count (~34 MB at sf10) — broadcastable for
        // the price of one pushed-filter orders scan, keeping the fact
        // path exchange-free. Both proxies are scan+filter plans.
        // (the measured path engages only past a 4 GB fact side — see
        // Hints scaladoc)
        //
        // JOIN ORDER (round 15, tools/Exp33): the ASIA dim keeps only
        // ~20% of suppliers and it BROADCASTS — joining it to lineitem
        // FIRST (equi on l_suppkey alone; the c_nationkey = s_nationkey
        // leg moves to the customer join, same predicate set) drops
        // ~80% of the bloom-surviving fact rows inside the scan stage,
        // BEFORE the orders exchange that Exp20 showed was the wall.
        // Measured sf10 in the AQE-off bench harness, bit-identical
        // results: 2.63 s -> 1.345 s. (The first Exp33 run printed
        // 0.085 s — an AQE-clone stage-cache artifact, retracted in
        // COVERAGE; never cite it.) At cluster scale the same rows
        // never reach the network.
        //
        // FLOOR (final, round 16): remaining wall = scan floor (Exp20:
        // 0.27 s) + this one orders SHJ. Negatives ledger: broadcast
        // rescue (Exp21), prejoin (Exp29), below-join partial
        // aggregation (Exp39 — bit-identical but never faster and
        // degrades under memory pressure). The cluster-scale lever is
        // Hints' measured-broadcast rescue, documented there.
        // factSide = the RAW lineitem scan (provable volume bound —
        // the bloom-pruned l's estimate shape is join-dependent): above
        // the auto-engage fact-volume floor (sf50+ shape) the measured
        // rescue flips these gates to the broadcast arm per the Exp21
        // sf50 trend.
        l.join(broadcast(dim), col("l_suppkey") === col("s_suppkey"))
          .join(graft.plans.Hints.broadcastIfSmall(o, bound = oBound,
            countOnFail = Some(o), factSide = Some(l0)),
            col("l_orderkey") === col("o_orderkey"))
          .join(graft.plans.Hints.broadcastIfSmall(c, bound = c,
            countOnFail = Some(c), factSide = Some(l0)),
            col("o_custkey") === col("c_custkey") &&
              col("c_nationkey") === col("s_nationkey"))
          .groupBy("n_name")
          .agg(dsum(col("l_extendedprice") * (lit(1) - col("l_discount")), 4, "revenue"))
          .transform(Present.driverAgg(_, "revenue" -> false, "n_name" -> true))
      },
      oracle = Some("""
        SELECT n_name,
          CAST(sum(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        FROM customer, orders, lineitem, supplier, nation, region
        WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey AND l_suppkey = s_suppkey
          AND c_nationkey = s_nationkey AND s_nationkey = n_nationkey
          AND n_regionkey = r_regionkey AND r_name = 'ASIA'
          AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
        GROUP BY n_name ORDER BY revenue DESC, n_name"""),
      bench = true,
      doc = "6-way star join with broadcast dims (SURVEY §2.3)"),

    // ------------------------------------------------------------------
    Q("q6_forecast_revenue",
      (s, d) => {
        Tables.lineitem(s, d)
          .filter(col("l_shipdate") >= ts("1996-01-01 00:00:00") &&
            col("l_shipdate") < ts("1997-01-01 00:00:00") &&
            col("l_discount").between(0.05, 0.07) &&
            col("l_quantity") < 24)
          .agg(dsum(col("l_extendedprice") * col("l_discount"), 4, "revenue"))
          .transform(Present.driverAgg(_))
      },
      oracle = Some("""
        SELECT CAST(sum(CAST(l_extendedprice*l_discount AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
          AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24"""),
      bench = true,
      doc = "selective filter + scalar agg; pushdown showcase (SURVEY §7.2)"),

    // ------------------------------------------------------------------
    Q("q_window_rank",
      (s, d) => {
        val o = Tables.orders(s, d)
        val c = Tables.customer(s, d)
        import s.implicits._
        // top-k-per-group combiner: each input partition keeps only its
        // local top 3 per segment (bounded state: #segments x 3), so the
        // exchange moves #partitions x 15 rows instead of every order —
        // the same partial/final split a distributed top-k runs at any
        // scale. The final window then ranks a few hundred rows in one
        // task; its ClusteredDistribution is satisfied by the single
        // partition, so no further shuffle is planned.
        val base = o.join(c, col("o_custkey") === col("c_custkey"))
          .select(col("c_mktsegment"), col("o_orderkey"), col("o_totalprice"))
        val localTop = base.as[(String, Long, Double)].mapPartitions { it =>
          val best = scala.collection.mutable.HashMap
            .empty[String, scala.collection.mutable.ArrayBuffer[(Long, Double)]]
          val worseThan = (a: (Long, Double), b: (Long, Double)) =>
            a._2 < b._2 || (a._2 == b._2 && a._1 > b._1)
          it.foreach { case (seg, k, p) =>
            val buf = best.getOrElseUpdate(seg,
              scala.collection.mutable.ArrayBuffer.empty[(Long, Double)])
            if (buf.size < 3) buf += ((k, p))
            else {
              val worst = buf.indices.reduce((i, j) => if (worseThan(buf(i), buf(j))) i else j)
              if (worseThan(buf(worst), (k, p))) buf(worst) = (k, p)
            }
          }
          best.iterator.flatMap { case (seg, buf) => buf.map(t => (seg, t._1, t._2)) }
        }.toDF("c_mktsegment", "o_orderkey", "o_totalprice")
        // coordinator rank finish: the combiner output is bounded
        // (#partitions x #segments x 3), so the final rank is the same
        // driver merge a distributed top-k runs at the coordinator —
        // no repartition(1) exchange, no ranking-window stage. Lazy via
        // LazyLocal + a fresh-plan collect: every action re-runs the
        // combiner job. Tie-break (o_totalprice desc, o_orderkey asc)
        // matches the window spec it replaces bit-for-bit.
        Present.recordFinishSource(localTop) // plan-quality observability
        val outSchema = StructType(Seq(
          StructField("c_mktsegment", StringType), StructField("o_orderkey", LongType),
          StructField("o_totalprice", DoubleType), StructField("rn", IntegerType, nullable = false)))
        val compute: () => Seq[org.apache.spark.sql.catalyst.InternalRow] = () => {
          val partials = Present.freshCollect(localTop)
          partials.groupBy(_.getUTF8String(0)).toSeq
            .sortWith((a, b) =>
              (a._1 eq null) && (b._1 ne null) || (a._1 ne null) && (b._1 ne null) && a._1.compareTo(b._1) < 0)
            .flatMap { case (seg, cand) =>
              cand.sortWith { (x, y) =>
                val c = java.lang.Double.compare(y.getDouble(2), x.getDouble(2))
                c < 0 || (c == 0 && x.getLong(1) < y.getLong(1))
              }.take(3).zipWithIndex.map { case (r, i) =>
                new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
                  Array[Any](seg, r.getLong(1), r.getDouble(2), i + 1))
              }
            }
        }
        graft.plans.LazyLocal.internalRows(s, outSchema, compute)
      },
      oracle = Some("""
        SELECT * FROM (
          SELECT c_mktsegment, o_orderkey, o_totalprice,
            CAST(row_number() OVER (PARTITION BY c_mktsegment
              ORDER BY o_totalprice DESC, o_orderkey) AS INTEGER) AS rn
          FROM orders JOIN customer ON o_custkey = c_custkey) t
        WHERE rn <= 3 ORDER BY c_mktsegment, rn"""),
      bench = true,
      doc = "ranking window function (SURVEY §2.5)"),

    // ------------------------------------------------------------------
    Q("q_window_running",
      (s, d) => {
        val e = Tables.events(s, d).filter(col("user_id") < 20)
        val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        e.select(col("event_id"), col("user_id"),
            round(sum(col("value").cast(DecimalType(18, 6))).over(w), 4)
              .cast(DoubleType).as("running_value"),
            count(lit(1)).over(w).as("running_n"))
          .orderBy("user_id", "event_id")
      },
      oracle = Some("""
        SELECT event_id, user_id,
          CAST(round(sum(CAST(value AS DECIMAL(18,6))) OVER (PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS DOUBLE) AS running_value,
          count(*) OVER (PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running_n
        FROM events WHERE user_id < 20 ORDER BY user_id, event_id"""),
      doc = "running-total window frame over event stream (SURVEY §2.5)"),

    // ------------------------------------------------------------------
    Q("q_semi_join",
      (s, d) => {
        val big = Tables.orders(s, d).filter(col("o_totalprice") > 400000)
        Tables.customer(s, d)
          .join(big, col("c_custkey") === col("o_custkey"), "left_semi")
          .select("c_custkey", "c_name")
          .orderBy("c_custkey")
      },
      oracle = Some("""
        SELECT c_custkey, c_name FROM customer
        WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 400000)
        ORDER BY c_custkey"""),
      doc = "left-semi join / EXISTS (SURVEY §2.3 J1)"),

    // ------------------------------------------------------------------
    Q("q_anti_join",
      (s, d) => {
        val urgent = Tables.orders(s, d).filter(col("o_orderpriority") === "1-URGENT")
        Tables.customer(s, d)
          .join(urgent, col("c_custkey") === col("o_custkey"), "left_anti")
          .select("c_custkey", "c_mktsegment")
          .orderBy("c_custkey")
      },
      oracle = Some("""
        SELECT c_custkey, c_mktsegment FROM customer
        WHERE NOT EXISTS (SELECT 1 FROM orders
          WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
        ORDER BY c_custkey"""),
      doc = "left-anti join / NOT EXISTS (SURVEY §2.3 J1)"),

    // ------------------------------------------------------------------
    Q("q_outer_join",
      (s, d) => {
        val n = Tables.nation(s, d)
        val c = Tables.customer(s, d)
        n.join(c, col("c_nationkey") === col("n_nationkey"), "left_outer")
          .groupBy("n_name")
          .agg(count(col("c_custkey")).as("n_cust"),
            dsum(coalesce(col("c_acctbal"), lit(0d)), 2, "sum_bal"))
          .orderBy("n_name")
      },
      oracle = Some("""
        SELECT n_name, count(c_custkey) AS n_cust,
          CAST(sum(CAST(coalesce(c_acctbal, 0) AS DECIMAL(18,2))) AS DOUBLE) AS sum_bal
        FROM nation LEFT JOIN customer ON c_nationkey = n_nationkey
        GROUP BY n_name ORDER BY n_name"""),
      doc = "left-outer join + agg over null-extended rows (SURVEY §2.3 J1)"),

    // ------------------------------------------------------------------
    Q("q_intersect",
      (s, d) => {
        val a = Tables.customer(s, d).filter(col("c_mktsegment") === "BUILDING")
          .select(col("c_custkey"))
        val b = Tables.orders(s, d).filter(col("o_totalprice") > 300000)
          .select(col("o_custkey").as("c_custkey"))
        a.intersect(b).orderBy("c_custkey")
      },
      oracle = Some("""
        SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        INTERSECT
        SELECT o_custkey AS c_custkey FROM orders WHERE o_totalprice > 300000
        ORDER BY c_custkey"""),
      doc = "INTERSECT set op (SURVEY §2.5)"),

    // ------------------------------------------------------------------
    Q("q_except",
      (s, d) => {
        val a = Tables.customer(s, d).filter(col("c_mktsegment") === "MACHINERY")
          .select(col("c_custkey"))
        val b = Tables.orders(s, d).filter(col("o_totalprice") > 350000)
          .select(col("o_custkey").as("c_custkey"))
        a.except(b).orderBy("c_custkey")
      },
      oracle = Some("""
        SELECT c_custkey FROM customer WHERE c_mktsegment = 'MACHINERY'
        EXCEPT
        SELECT o_custkey AS c_custkey FROM orders WHERE o_totalprice > 350000
        ORDER BY c_custkey"""),
      doc = "EXCEPT set op (SURVEY §2.5)"),

    // ------------------------------------------------------------------
    Q("q_union_by_name",
      (s, d) => {
        val a = Tables.customer(s, d)
          .select(col("c_custkey").as("key"), col("c_name").as("name"),
            col("c_acctbal").as("acctbal"))
        val b = Tables.supplier(s, d)
          .select(col("s_suppkey").as("key"), col("s_acctbal").as("acctbal"),
            col("s_name").as("name"))
        // schema-aligned union regardless of column order; missing cols -> NULL
        a.withColumn("side", lit("c"))
          .unionByName(b.withColumn("side", lit("s")), allowMissingColumns = true)
          .groupBy("side").agg(count(lit(1)).as("n"), dsum(col("acctbal"), 2, "bal"))
          .orderBy("side")
      },
      oracle = Some("""
        SELECT side, count(*) AS n,
               CAST(sum(CAST(acctbal AS DECIMAL(18,2))) AS DOUBLE) AS bal
        FROM (
          SELECT c_custkey AS key, c_name AS name, c_acctbal AS acctbal, 'c' AS side FROM customer
          UNION ALL BY NAME
          SELECT s_suppkey AS key, s_acctbal AS acctbal, s_name AS name, 's' AS side FROM supplier)
        GROUP BY side ORDER BY side"""),
      doc = "UNION ALL BY NAME (SURVEY §2.5 set ops; reference SchemaEvolution.java:216)"),

    // ------------------------------------------------------------------
    Q("q_rollup",
      (s, d) => {
        Tables.lineitem(s, d)
          .rollup("l_returnflag", "l_linestatus")
          .agg(count(lit(1)).as("n"), dsum(col("l_quantity"), 2, "qty"))
          .select(coalesce(col("l_returnflag"), lit("ALL")).as("flag"),
            coalesce(col("l_linestatus"), lit("ALL")).as("status"),
            col("n"), col("qty"))
          .orderBy("flag", "status")
      },
      oracle = Some("""
        SELECT coalesce(l_returnflag, 'ALL') AS flag, coalesce(l_linestatus, 'ALL') AS status,
          count(*) AS n, CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
        FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        ORDER BY flag, status"""),
      doc = "ROLLUP grouping sets (SURVEY §2.4)"),

    // ------------------------------------------------------------------
    Q("q_cube",
      (s, d) => {
        Tables.orders(s, d)
          .cube("o_orderstatus", "o_orderpriority")
          .agg(count(lit(1)).as("n"))
          .select(coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
            coalesce(col("o_orderpriority"), lit("ALL")).as("priority"), col("n"))
          .orderBy("status", "priority")
      },
      oracle = Some("""
        SELECT coalesce(o_orderstatus, 'ALL') AS status,
               coalesce(o_orderpriority, 'ALL') AS priority, count(*) AS n
        FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
        ORDER BY status, priority"""),
      doc = "CUBE grouping sets (SURVEY §2.4)"),

    // ------------------------------------------------------------------
    Q("q_grouping_sets",
      (s, d) => {
        Tables.orders(s, d).createOrReplaceTempView("orders_gs")
        s.sql("""
          SELECT coalesce(o_orderstatus, 'ALL') AS status,
                 coalesce(o_orderpriority, 'ALL') AS priority,
                 count(*) AS n
          FROM orders_gs
          GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
          ORDER BY status, priority""")
      },
      oracle = Some("""
        SELECT coalesce(o_orderstatus, 'ALL') AS status,
               coalesce(o_orderpriority, 'ALL') AS priority,
               count(*) AS n
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        ORDER BY status, priority"""),
      doc = "explicit GROUPING SETS (SURVEY §2.4)"),

    // ------------------------------------------------------------------
    Q("q_distinct_agg",
      (s, d) => {
        // graft_count_distinct = one-pass exact distinct (adaptive
        // hash-set/bitmap buffers, see [[graft.functions.ExactCountDistinct]])
        // instead of Spark's Expand x3 plan, which scans the input once
        // per distinct aggregate. SHAPE IS VOLUME-ADAPTIVE (round 12):
        // the one-level plan concentrates the final per-group set
        // merges on #groups reduce tasks, which inverts at scale —
        // measured crossover: sf1 (~100 MB input) one-level 465 ms vs
        // salted 649 (tools/Exp14); sf10 (~1 GB) one-level 6.33 s vs
        // salted 1.95 (tools/Exp19). Above the threshold the query
        // takes the two-level salted shape (disjoint orderkey sets per
        // salt, parallel set merges, level-2 sum/merge) — the same
        // decision a CBO would make from input stats, taken here from
        // Catalyst's own size estimate.
        graft.functions.GraftFunctions.register(s)
        val l = Tables.lineitem(s, d)
        // NOT adopted (round 21): a columnar-batch variant of this
        // aggregation (same shape as the adopted
        // q_date_extract/q_events_hourly kernels) measured a
        // WASH at sf10 — Exp50 min-of-7: kernel 2.228 s vs this salted
        // plan 2.286 s — because the cost is the distinct-SET inserts
        // and merges themselves (Exp49's pin), which the kernel keeps
        // identical; only the already-cheap row iteration changed.
        // Registry shape stays volume-adaptive as before.
        val salted = graft.plans.Hints.sizeEstimate(l) > (256L << 20)
        if (!salted)
          l.groupBy("l_returnflag")
            .agg(call_function("graft_count_distinct", col("l_suppkey")).as("n_supp"),
              call_function("graft_count_distinct", col("l_partkey")).as("n_part"),
              call_function("graft_count_distinct", col("l_orderkey")).as("n_ord"))
            .transform(Present.sortSmall(_, col("l_returnflag")))
        else
          l.groupBy(col("l_returnflag"),
              pmod(xxhash64(col("l_orderkey")), lit(8)).as("_salt"))
            .agg(call_function("graft_distinct_set", col("l_suppkey")).as("ss"),
              call_function("graft_distinct_set", col("l_partkey")).as("ps"),
              call_function("graft_count_distinct", col("l_orderkey")).as("no"))
            .groupBy("l_returnflag")
            .agg(call_function("graft_count_distinct_merge", col("ss")).as("n_supp"),
              call_function("graft_count_distinct_merge", col("ps")).as("n_part"),
              sum("no").as("n_ord"))
            .transform(Present.sortSmall(_, col("l_returnflag")))
      },
      oracle = Some("""
        SELECT l_returnflag, count(DISTINCT l_suppkey) AS n_supp,
          count(DISTINCT l_partkey) AS n_part, count(DISTINCT l_orderkey) AS n_ord
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""),
      bench = true,
      doc = "multi distinct aggregation (SURVEY §2.4)"),

    // ------------------------------------------------------------------
    Q("q_distinct_salted",
      (s, d) => {
        // Two-level exact multi-distinct: level 1 groups by
        // (flag, salt(orderkey)) so the heavy per-group set merges are
        // DISJOINT across salts and parallelize across reducers — the
        // cluster-scale answer when one group's distinct cardinality
        // would serialize on a single final-merge task (single-node
        // A/B'd slower than q_distinct_agg's one-level plan, which is
        // why BOTH shapes are first-class). Level 2 sums the disjoint
        // orderkey counts and set-merges the small bounded-range
        // suppkey/partkey sets (word-OR'd bitmaps; see AdaptiveLongSet).
        graft.functions.GraftFunctions.register(s)
        Tables.lineitem(s, d)
          .groupBy(col("l_returnflag"),
            pmod(xxhash64(col("l_orderkey")), lit(8)).as("_salt"))
          .agg(call_function("graft_distinct_set", col("l_suppkey")).as("ss"),
            call_function("graft_distinct_set", col("l_partkey")).as("ps"),
            call_function("graft_count_distinct", col("l_orderkey")).as("no"))
          .groupBy("l_returnflag")
          .agg(call_function("graft_count_distinct_merge", col("ss")).as("n_supp"),
            call_function("graft_count_distinct_merge", col("ps")).as("n_part"),
            sum("no").as("n_ord"))
          .transform(Present.sortSmall(_, col("l_returnflag")))
      },
      oracle = Some("""
        SELECT l_returnflag, count(DISTINCT l_suppkey) AS n_supp,
          count(DISTINCT l_partkey) AS n_part, count(DISTINCT l_orderkey) AS n_ord
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""),
      doc = "two-level salted exact distinct re-aggregation (SURVEY §2.4 scale path)"),

    // ------------------------------------------------------------------
    Q("q_approx_distinct",
      (s, d) => {
        // HLL++ sketch path for the same shape as q_distinct_agg: one
        // scan-side partial sketch per group, no Expand, bounded memory —
        // the 100 TB answer when exactness isn't required. DuckDB's
        // approx_distinct uses a different sketch, so the estimates
        // themselves can't hash-compare; the gate instead emits the
        // EXACT counts (oracle-pinned) plus per-group flags asserting
        // the HLL++ estimate lands within 5% relative error of them
        // (rsd = 0.02, so 5% = 2.5 sigma; HLL is deterministic on fixed
        // data, so the flags are stable). A broken sketch path flips a
        // flag and hash-fails the gate.
        graft.functions.GraftFunctions.register(s)
        def okFlag(est: Column, exact: Column): Column =
          abs(est.cast(DoubleType) - exact) <= exact * 0.05
        Tables.lineitem(s, d)
          .groupBy("l_returnflag")
          .agg(approx_count_distinct(col("l_suppkey"), 0.02).as("est_supp"),
            approx_count_distinct(col("l_partkey"), 0.02).as("est_part"),
            approx_count_distinct(col("l_orderkey"), 0.02).as("est_ord"),
            call_function("graft_count_distinct", col("l_suppkey")).as("n_supp"),
            call_function("graft_count_distinct", col("l_partkey")).as("n_part"),
            call_function("graft_count_distinct", col("l_orderkey")).as("n_ord"))
          .select(col("l_returnflag"),
            col("n_supp"), col("n_part"), col("n_ord"),
            okFlag(col("est_supp"), col("n_supp")).as("ok_supp"),
            okFlag(col("est_part"), col("n_part")).as("ok_part"),
            okFlag(col("est_ord"), col("n_ord")).as("ok_ord"))
          .orderBy("l_returnflag")
      },
      oracle = Some("""
        SELECT l_returnflag, count(DISTINCT l_suppkey) AS n_supp,
          count(DISTINCT l_partkey) AS n_part, count(DISTINCT l_orderkey) AS n_ord,
          TRUE AS ok_supp, TRUE AS ok_part, TRUE AS ok_ord
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""),
      doc = "approximate distinct counts via HLL++, error-bound checked vs exact (SURVEY §2.4)"),

    // ------------------------------------------------------------------
    Q("q_topk",
      (s, d) => {
        Tables.orders(s, d)
          .select("o_orderkey", "o_totalprice", "o_orderpriority")
          .orderBy(desc("o_totalprice"), asc("o_orderkey"))
          .limit(20)
      },
      oracle = Some("""
        SELECT o_orderkey, o_totalprice, o_orderpriority FROM orders
        ORDER BY o_totalprice DESC, o_orderkey LIMIT 20"""),
      doc = "global top-k (TakeOrderedAndProject) (SURVEY §2.5)"),

    // ------------------------------------------------------------------
    Q("q_scalar_fns",
      (s, d) => {
        Tables.part(s, d)
          .filter(col("p_size").between(10, 20))
          .select(col("p_partkey"),
            upper(col("p_brand")).as("brand_u"),
            length(col("p_name")).as("name_len"),
            substring(col("p_type"), 1, 5).as("type5"),
            round(abs(col("p_retailprice") - 1000.0).cast(DecimalType(18, 2)), 2)
              .cast(DoubleType).as("absdiff"),
            (col("p_size") % 7).as("size_mod"),
            concat_ws("-", col("p_brand"), col("p_type")).as("tag"))
          .orderBy("p_partkey")
      },
      oracle = Some("""
        SELECT p_partkey, upper(p_brand) AS brand_u, length(p_name) AS name_len,
          substr(p_type, 1, 5) AS type5,
          CAST(round(CAST(abs(p_retailprice - 1000.0) AS DECIMAL(18,2)), 2) AS DOUBLE) AS absdiff,
          p_size % 7 AS size_mod,
          concat_ws('-', p_brand, p_type) AS tag
        FROM part WHERE p_size BETWEEN 10 AND 20 ORDER BY p_partkey"""),
      doc = "string/math scalar functions (SURVEY §2.5)"),

    // ------------------------------------------------------------------
    Q("q_date_extract",
      (s, d) => {
        // Columnar-batch kernel (round 21, guide §1.2 step 2 / §4): the
        // Exp48 pin showed the residual over the 2-column scan floor is
        // the row-at-a-time (year, month)-keyed HashAggregate constant,
        // not decode or plan shape. The kernel aggregates batch-at-a-time
        // over the parquet reader's own column vectors keyed on the raw
        // epoch day (one floorDiv/row; calendar math once per DISTINCT
        // day), then the engine's own groupBy(y,m) + dsum finish merges
        // the partials — bit-identical results (oracle-pinned), same
        // distributed shape. Falls back to the row plan whenever the
        // scan isn't the expected bare columnar scan.
        val orders = Tables.orders(s, d)
        graft.plans.BatchKernels.dateExtract(
          orders.select(col("o_orderdate"), col("o_totalprice")))
          .getOrElse {
            orders
              .groupBy(year(col("o_orderdate")).as("y"), month(col("o_orderdate")).as("m"))
              .agg(count(lit(1)).as("n"), dsum(col("o_totalprice"), 2, "total"))
          }
          .transform(Present.driverAgg(_, "y" -> true, "m" -> true))
      },
      oracle = Some("""
        SELECT CAST(year(o_orderdate) AS INTEGER) AS y, CAST(month(o_orderdate) AS INTEGER) AS m,
          count(*) AS n, CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        FROM orders GROUP BY 1, 2 ORDER BY y, m"""),
      bench = true,
      doc = "date part extraction + agg (SURVEY §2.5; transform parity for year())"),

    // ------------------------------------------------------------------
    Q("q_case_expr",
      (s, d) => {
        Tables.orders(s, d)
          .select(col("o_orderstatus"),
            when(col("o_totalprice") > 300000, "big")
              .when(col("o_totalprice") > 100000, "mid")
              .otherwise("small").as("bucket"))
          .groupBy("o_orderstatus", "bucket")
          .agg(count(lit(1)).as("n"))
          .orderBy("o_orderstatus", "bucket")
      },
      oracle = Some("""
        SELECT o_orderstatus,
          CASE WHEN o_totalprice > 300000 THEN 'big'
               WHEN o_totalprice > 100000 THEN 'mid' ELSE 'small' END AS bucket,
          count(*) AS n
        FROM orders GROUP BY 1, 2 ORDER BY o_orderstatus, bucket"""),
      doc = "CASE WHEN expression (SURVEY §2.5)"),

    // ------------------------------------------------------------------
    Q("q_in_between_not",
      (s, d) => {
        Tables.lineitem(s, d)
          .filter(col("l_returnflag").isin("A", "R") &&
            col("l_quantity").between(10, 20) &&
            !(col("l_discount") < 0.02) &&
            col("l_shipdate").isNotNull)
          .agg(count(lit(1)).as("n"), dsum(col("l_extendedprice"), 2, "price"))
      },
      oracle = Some("""
        SELECT count(*) AS n,
          CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS price
        FROM lineitem
        WHERE l_returnflag IN ('A','R') AND l_quantity BETWEEN 10 AND 20
          AND NOT (l_discount < 0.02) AND l_shipdate IS NOT NULL"""),
      doc = "IN / BETWEEN / NOT / IS NOT NULL predicate algebra (SURVEY §2.2 P1–P4)"),

    // ------------------------------------------------------------------
    Q("q_like_pred",
      (s, d) => {
        Tables.part(s, d)
          .filter(col("p_name").like("%gre%") || col("p_type").startsWith("SMALL"))
          .agg(count(lit(1)).as("n"))
      },
      oracle = Some("""
        SELECT count(*) AS n FROM part
        WHERE p_name LIKE '%gre%' OR p_type LIKE 'SMALL%'"""),
      doc = "LIKE / startsWith predicates (SURVEY §2.2 P4, P8)"),

    // ------------------------------------------------------------------
    Q("q_having",
      (s, d) => {
        Tables.orders(s, d)
          .groupBy("o_custkey")
          .agg(count(lit(1)).as("n"), dsum(col("o_totalprice"), 2, "total"))
          .filter(col("n") >= 15)
          .orderBy("o_custkey")
      },
      oracle = Some("""
        SELECT o_custkey, count(*) AS n,
          CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        FROM orders GROUP BY o_custkey HAVING count(*) >= 15 ORDER BY o_custkey"""),
      doc = "HAVING post-agg filter (SURVEY §2.4)"),

    // ------------------------------------------------------------------
    Q("q_events_hourly",
      (s, d) => {
        // Raw-nanos fast path: the fixture stores ts as TIMESTAMP(NANOS),
        // which Spark reads as LONG under nanosAsLong. Grouping on the
        // hour bucket of the RAW long (one integer div per row, floor
        // semantics for pre-epoch values) and converting to NTZ once per
        // GROUP is ~1.8x faster than the per-row
        // nanos->micros->timestamp->NTZ->date_trunc chain. The raw
        // bucket floors in UTC, while the general path truncates in
        // session-tz wall clock — identical ONLY when the session runs
        // UTC (a non-whole-hour offset like +05:30 shifts the bucket
        // boundaries), so the fast path is gated on both the raw LONG
        // schema and a UTC session.
        // FLOOR (final, round 16): the query sits AT the Exp24 scan
        // floor; the one remaining per-row branch (the pre-epoch floor
        // guard) measured 0.246 vs 0.233 s unguarded at sf10 (Exp40) —
        // inside noise, and the guard is load-bearing for pre-epoch
        // timestamps, so it stays.
        val raw = Tables.eventsRaw(s, d)
        val utcSession = s.conf.get("spark.sql.session.timeZone", "") == "UTC"
        // Raw-bucket fast path: group on the hour bucket as ONE integer
        // floor-division per row and convert to NTZ once per GROUP —
        // ~1.8x over the per-row date_trunc chain (tools/Exp8). The raw
        // bucket floors in UTC while date_trunc truncates in session-tz
        // wall clock — identical ONLY under a UTC session, so the fast
        // paths are gated on it. Two fixture generations exist: ts as
        // TIMESTAMP(NANOS) (surfaces as LONG under nanosAsLong; divide
        // from nanos) and TIMESTAMP(MICROS) NTZ (bucket unix_micros —
        // the NTZ->TZ cast is a numeric no-op under UTC).
        raw.schema("ts").dataType match {
          case LongType if utcSession =>
            val b = when(col("ts") >= 0, expr("ts div 3600000000000"))
              .otherwise(expr("((ts + 1) div 3600000000000) - 1"))
            raw.groupBy(b.as("b"), col("event_type"))
              .agg(count(lit(1)).as("n"), dsum(col("value"), 6, "sum_value"))
              .select(
                expr("cast(timestamp_micros(b * 3600000000) as timestamp_ntz)").as("hour"),
                col("event_type"), col("n"), col("sum_value"))
              .transform(Present.driverAgg(_, "hour" -> true, "event_type" -> true))
          case TimestampNTZType if utcSession =>
            // Columnar-batch kernel (round 21): same shape as the
            // q_date_extract kernel — the Exp46 pin left a ~2x residual
            // that is the per-row (bucket, type)-keyed HashAggregate
            // constant; batch-at-a-time accumulation over the reader's
            // column vectors removes it, the engine's own
            // groupBy(b, event_type) + dsum finish merges partials.
            // Falls back to the row plan on any unexpected scan shape.
            val events = Tables.events(s, d)
            graft.plans.BatchKernels.eventsHourly(
              events.select(col("ts"), col("event_type"), col("value")))
              .getOrElse {
                val e = events
                  .withColumn("us", expr("unix_micros(cast(ts as timestamp))"))
                val b = when(col("us") >= 0, expr("us div 3600000000"))
                  .otherwise(expr("((us + 1) div 3600000000) - 1"))
                e.groupBy(b.as("b"), col("event_type"))
                  .agg(count(lit(1)).as("n"), dsum(col("value"), 6, "sum_value"))
                  .select(
                    expr("cast(timestamp_micros(b * 3600000000) as timestamp_ntz)").as("hour"),
                    col("event_type"), col("n"), col("sum_value"))
              }
              .transform(Present.driverAgg(_, "hour" -> true, "event_type" -> true))
          case _ =>
            Tables.events(s, d)
              .groupBy(date_trunc("hour", col("ts")).cast(TimestampNTZType).as("hour"),
                col("event_type"))
              .agg(count(lit(1)).as("n"),
                dsum(col("value"), 6, "sum_value"))
              .transform(Present.sortSmall(_, col("hour"), col("event_type")))
        }
      },
      oracle = Some("""
        SELECT date_trunc('hour', ts) AS hour, event_type, count(*) AS n,
          CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        FROM events GROUP BY 1, 2 ORDER BY hour, event_type"""),
      bench = true,
      doc = "tumbling-window-shaped batch agg over the stream fixture (SURVEY §2.7)"),

    // ------------------------------------------------------------------
    Q("q_json_extract",
      (s, d) => {
        val k = get_json_object(col("props"), "$.k").cast(IntegerType)
        Tables.events(s, d)
          .select(col("event_type"), k.as("k"))
          .groupBy("event_type")
          .agg(sum("k").as("sum_k"), max("k").as("max_k"), count(lit(1)).as("n"))
          .orderBy("event_type")
      },
      oracle = Some("""
        SELECT event_type,
          CAST(sum(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS BIGINT) AS sum_k,
          max(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS max_k,
          count(*) AS n
        FROM events GROUP BY event_type ORDER BY event_type"""),
      doc = "JSON scalar extraction from a string column (SURVEY §2.5)"),

    // ------------------------------------------------------------------
    Q("q_pivot",
      (s, d) => {
        val types = Seq("click", "error", "purchase", "signup", "view")
        Tables.events(s, d)
          .withColumn("ub", col("user_id") % 10)
          .groupBy("ub").pivot("event_type", types).count()
          // pivot-count leaves absent combos NULL; the oracle's FILTER
          // counts give 0 — align
          .select(col("ub") +: types.map(t => coalesce(col(t), lit(0L)).as(t)): _*)
          .orderBy("ub")
      },
      oracle = Some("""
        SELECT user_id % 10 AS ub,
          count(*) FILTER (event_type = 'click') AS click,
          count(*) FILTER (event_type = 'error') AS error,
          count(*) FILTER (event_type = 'purchase') AS purchase,
          count(*) FILTER (event_type = 'signup') AS signup,
          count(*) FILTER (event_type = 'view') AS view
        FROM events GROUP BY 1 ORDER BY ub"""),
      doc = "pivot / conditional aggregation (SURVEY §2.5)"),

    // ------------------------------------------------------------------
    Q("q_explode",
      (s, d) => {
        Tables.embeddings(s, d).filter(col("vec_id") < 2)
          .select(col("vec_id"), posexplode(col("embedding")).as(Seq("pos", "v")))
          .select(col("vec_id"), col("pos"),
            round(col("v").cast(DoubleType), 6).cast(DoubleType).as("val"))
          .orderBy("vec_id", "pos")
      },
      oracle = Some("""
        SELECT vec_id, CAST(generate_subscripts(embedding, 1) - 1 AS INTEGER) AS pos,
          CAST(round(CAST(unnest(embedding) AS DOUBLE), 6) AS DOUBLE) AS val
        FROM embeddings WHERE vec_id < 2 ORDER BY vec_id, pos"""),
      doc = "array explode with ordinality / LATERAL VIEW shape (SURVEY §2.5)"),

    // ------------------------------------------------------------------
    Q("q_vector_centroids",
      (s, d) => {
        // element-wise per-label aggregation over the embedding column —
        // decimal summation keeps it order-independent (exact), so the
        // distributed result hash-matches the sequential oracle
        Tables.embeddings(s, d)
          .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "v")))
          .filter(col("pos") < 8)
          .groupBy("label", "pos")
          .agg(count(lit(1)).as("n"),
            round(sum(col("v").cast(DecimalType(18, 9))).cast(DoubleType), 6).as("sum_v"))
          .orderBy("label", "pos")
      },
      oracle = Some("""
        SELECT label, CAST(pos AS INTEGER) AS pos, count(*) AS n,
          -- widen float->double BEFORE the decimal cut: Spark's
          -- float->decimal goes through the double expansion, DuckDB's
          -- direct float->decimal uses the float's shortest repr
          round(CAST(sum(CAST(CAST(v AS DOUBLE) AS DECIMAL(18,9))) AS DOUBLE), 6) AS sum_v
        FROM (
          SELECT label, generate_subscripts(embedding, 1) - 1 AS pos,
                 unnest(embedding) AS v
          FROM embeddings)
        WHERE pos < 8 GROUP BY label, pos ORDER BY label, pos"""),
      doc = "element-wise vector aggregation per label (SURVEY §2.4 / embeddings)"),

    // ------------------------------------------------------------------
    Q("q_window_leadlag",
      (s, d) => {
        val w = Window.partitionBy("user_id").orderBy(asc("ts"), asc("event_id"))
        Tables.events(s, d).select(col("event_id"), col("user_id"),
            lag("event_type", 1).over(w).as("prev_type"),
            lead("event_type", 1).over(w).as("next_type"),
            ntile(4).over(w).as("quartile"))
          .orderBy("event_id")
      },
      oracle = Some("""
        SELECT event_id, user_id,
          lag(event_type) OVER w AS prev_type,
          lead(event_type) OVER w AS next_type,
          CAST(ntile(4) OVER w AS INTEGER) AS quartile
        FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ORDER BY event_id"""),
      doc = "lead/lag/ntile window navigation (SURVEY §2.5)"),

    // ------------------------------------------------------------------
    Q("q_array_fns",
      (s, d) => {
        Tables.embeddings(s, d)
          .filter(col("vec_id") < 50)
          .select(col("vec_id"),
            size(col("embedding")).as("dim"),
            round(aggregate(col("embedding"), lit(0.0d),
              (acc, x) => acc + x.cast(DoubleType)).cast(DecimalType(18, 6)), 4)
              .cast(DoubleType).as("vsum"),
            round(sqrt(aggregate(col("embedding"), lit(0.0d),
              (acc, x) => acc + x.cast(DoubleType) * x.cast(DoubleType)))
              .cast(DecimalType(18, 6)), 4)
              .cast(DoubleType).as("vnorm"))
          .orderBy("vec_id")
      },
      oracle = Some("""
        SELECT vec_id, CAST(len(embedding) AS INTEGER) AS dim,
          CAST(round(CAST(list_aggregate(list_transform(embedding, x -> CAST(x AS DOUBLE)), 'sum') AS DECIMAL(18,6)), 4) AS DOUBLE) AS vsum,
          CAST(round(CAST(sqrt(list_aggregate(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum')) AS DECIMAL(18,6)), 4) AS DOUBLE) AS vnorm
        FROM embeddings WHERE vec_id < 50 ORDER BY vec_id"""),
      doc = "higher-order array functions: size/aggregate fold (SURVEY §2.5; embeddings fixture)"),

    // ------------------------------------------------------------------
    Q("q_corr_subquery",
      (s, d) => {
        val o = Tables.orders(s, d)
        val avgBySeg = o.join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
          .groupBy("c_mktsegment")
          .agg(avg("o_totalprice").as("seg_avg"))
        o.join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
          .join(broadcast(avgBySeg), "c_mktsegment")
          .filter(col("o_totalprice") > col("seg_avg") * 2)
          .groupBy("c_mktsegment")
          .agg(count(lit(1)).as("n_above"))
          .orderBy("c_mktsegment")
      },
      oracle = Some("""
        WITH seg AS (
          SELECT c_mktsegment, avg(o_totalprice) AS seg_avg
          FROM orders JOIN customer ON o_custkey = c_custkey GROUP BY 1)
        SELECT c.c_mktsegment, count(*) AS n_above
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN seg ON seg.c_mktsegment = c.c_mktsegment
        WHERE o.o_totalprice > seg.seg_avg * 2
        GROUP BY 1 ORDER BY c.c_mktsegment"""),
      doc = "decorrelated aggregate subquery as broadcast join (SURVEY §4)"),

    // ------------------------------------------------------------------
    Q("q_percentile",
      (s, d) => {
        // ordered-set aggregation surface: exact interpolated percentiles
        // (Spark `percentile` == DuckDB `quantile_cont`, both the R-7
        // definition: rank p*(n-1), linear interpolation). Partial states
        // on a sorted-merge path are NOT bounded like count/sum — at
        // 100 TB cardinalities use approx_percentile (t-digest/KLL
        // sketch); this gate pins the exact semantics.
        val pct = expr(
          "percentile(l_extendedprice, array(0.25D, 0.5D, 0.75D))")
        Tables.lineitem(s, d)
          .groupBy("l_returnflag")
          .agg(round(element_at(pct, 1), 4).as("p25"),
            round(element_at(pct, 2), 4).as("p50"),
            round(element_at(pct, 3), 4).as("p75"),
            round(expr("percentile(l_extendedprice, 0.99D)"), 4).as("p99"))
          .transform(Present.driverSortBy(_, "l_returnflag" -> true))
      },
      oracle = Some("""
        SELECT l_returnflag,
          round(quantile_cont(l_extendedprice, 0.25), 4) AS p25,
          round(quantile_cont(l_extendedprice, 0.50), 4) AS p50,
          round(quantile_cont(l_extendedprice, 0.75), 4) AS p75,
          round(quantile_cont(l_extendedprice, 0.99), 4) AS p99
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""),
      doc = "exact interpolated percentiles / ordered-set aggregates (SURVEY §2.4)"),

    // ------------------------------------------------------------------
    Q("q_approx_percentile",
      (s, d) => {
        // the sketch path q_percentile's comment promises: bounded-state
        // approximate percentiles. approx_percentile(accuracy=A)
        // guarantees a value whose RANK is within n/A of the target
        // rank; the gate verifies that guarantee per (group, p) — the
        // reported value's min/max rank interval (count(<v), count(<=v))
        // must intersect [p*n - n/A, p*n + n/A]. DuckDB pins the flags
        // as TRUE; a broken sketch or merge produces an out-of-rank
        // value and hash-fails. The sketch estimates themselves are
        // engine-specific and never compared.
        val acc = 1000
        val li = Tables.lineitem(s, d).select("l_returnflag", "l_extendedprice")
        val ap = li.groupBy("l_returnflag")
          .agg(expr(s"approx_percentile(l_extendedprice, array(0.25D, 0.5D, 0.75D), $acc)")
              .as("vs"),
            count(lit(1)).as("n"))
          .select(col("l_returnflag"), col("n"),
            posexplode(col("vs")).as(Seq("pi", "v")))
          .withColumn("p", element_at(typedLit(Seq(0.25, 0.5, 0.75)), col("pi") + 1))
        li.join(broadcast(ap), "l_returnflag")
          .groupBy("l_returnflag", "pi", "p", "n", "v")
          .agg(sum(when(col("l_extendedprice") < col("v"), 1L).otherwise(0L)).as("below"),
            sum(when(col("l_extendedprice") <= col("v"), 1L).otherwise(0L)).as("at_or_below"))
          .select(col("l_returnflag"), col("pi"),
            (col("below") <= col("p") * col("n") + col("n") / acc + 1 &&
              col("at_or_below") >= col("p") * col("n") - col("n") / acc - 1)
              .as("rank_ok"))
          .transform(Present.driverSortBy(_, "l_returnflag" -> true, "pi" -> true))
      },
      oracle = Some("""
        SELECT l_returnflag, pi, TRUE AS rank_ok
        FROM (SELECT DISTINCT l_returnflag FROM lineitem)
        CROSS JOIN (SELECT unnest([0, 1, 2]) AS pi)
        ORDER BY l_returnflag, pi"""),
      doc = "approximate percentiles: rank-error guarantee checked per group (SURVEY §2.4)"),

    // ------------------------------------------------------------------
    Q("q_string_agg",
      (s, d) => {
        // ordered string aggregation (LISTAGG ... WITHIN GROUP): bounded
        // dims, broadcast join, deterministic order inside the aggregate
        Tables.nation(s, d)
          .join(Tables.region(s, d),
            col("n_regionkey") === col("r_regionkey"))
          .groupBy("r_name")
          .agg(expr("listagg(n_name, ',') WITHIN GROUP (ORDER BY n_name)")
              .as("nations"),
            count(lit(1)).cast(LongType).as("n"))
          .transform(Present.driverSortBy(_, "r_name" -> true))
      },
      oracle = Some("""
        SELECT r_name, string_agg(n_name, ',' ORDER BY n_name) AS nations,
          count(*) AS n
        FROM nation JOIN region ON n_regionkey = r_regionkey
        GROUP BY r_name ORDER BY r_name"""),
      doc = "ordered LISTAGG / string_agg aggregation (SURVEY §2.5)"),

    // ------------------------------------------------------------------
    Q("q_gap_fill",
      (s, d) => {
        // time-series resampling + forward fill (the gap-fill every
        // metrics/feature pipeline runs before a model sees the data):
        // per-user hourly spine via sequence(), LEFT join of observed
        // hourly aggregates, then last(ignoreNulls) carries the prior
        // observation across empty hours. The spine generator is one
        // bounded agg + explode — no driver loop — and the fill is a
        // running window inside each user partition, so the whole op
        // scales as a partitioned shuffle + linear window pass. Spines
        // start at each user's first observed hour, so the fill column
        // never has leading NULLs (deterministic output type).
        val ev = Tables.events(s, d).filter(col("user_id") < 40)
          .select(col("user_id"), date_trunc("hour", col("ts")).as("hour"),
            col("value"))
        val hourly = ev.groupBy("user_id", "hour")
          .agg(count(lit(1)).as("n"),
            sum(col("value").cast(DecimalType(18, 6))).as("sv"))
        val spine = ev.groupBy("user_id")
          .agg(min(col("hour")).as("h0"), max(col("hour")).as("h1"))
          .select(col("user_id"),
            explode(sequence(col("h0"), col("h1"), expr("interval 1 hour")))
              .as("hour"))
        val w = Window.partitionBy("user_id").orderBy("hour")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        spine.join(hourly, Seq("user_id", "hour"), "left")
          .select(col("user_id"),
            col("hour").cast(TimestampNTZType).as("hour"),
            coalesce(col("n"), lit(0L)).as("n"),
            last(col("sv"), ignoreNulls = true).over(w)
              .cast(DoubleType).as("filled_sum"))
          .orderBy("user_id", "hour")
      },
      oracle = Some("""
        WITH ev AS (
          SELECT user_id, date_trunc('hour', ts) AS hour, value
          FROM events WHERE user_id < 40),
        hourly AS (
          SELECT user_id, hour, count(*) AS n,
            sum(CAST(value AS DECIMAL(18,6))) AS sv
          FROM ev GROUP BY 1, 2),
        bounds AS (
          SELECT user_id, min(hour) AS h0, max(hour) AS h1 FROM ev GROUP BY 1),
        spine AS (
          SELECT user_id, unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour
          FROM bounds)
        SELECT s.user_id, s.hour, COALESCE(n, 0) AS n,
          CAST(last_value(sv IGNORE NULLS) OVER (
            PARTITION BY s.user_id ORDER BY s.hour
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
            AS filled_sum
        FROM spine s LEFT JOIN hourly h
          ON s.user_id = h.user_id AND s.hour = h.hour
        ORDER BY s.user_id, s.hour"""),
      doc = "time-series gap fill: per-key hourly spine + forward fill via ignore-nulls window (SURVEY §2.5)"),

    // ------------------------------------------------------------------
    Q("q_unpivot",
      (s, d) => {
        // wide->long UNPIVOT (melt): per-status metric columns rotate
        // into (metric, value) rows via Dataset.unpivot — the inverse
        // of q_pivot and the shape feature stores export. Aggregation
        // first, so the rotation is over a bounded relation.
        val aggd = Tables.orders(s, d)
          .groupBy("o_orderstatus")
          .agg(dsum(col("o_totalprice"), 2, "total_price"),
            count(lit(1)).cast(DoubleType).as("n_orders"),
            round(avg(col("o_totalprice")), 2).as("avg_price"))
        aggd.unpivot(
            ids = Array(col("o_orderstatus")),
            values = Array(col("total_price"), col("n_orders"), col("avg_price")),
            variableColumnName = "metric",
            valueColumnName = "value")
          .orderBy("o_orderstatus", "metric")
      },
      oracle = Some("""
        WITH a AS (
          SELECT o_orderstatus,
            CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price,
            CAST(count(*) AS DOUBLE) AS n_orders,
            round(avg(o_totalprice), 2) AS avg_price
          FROM orders GROUP BY o_orderstatus)
        SELECT o_orderstatus, 'total_price' AS metric, total_price AS value FROM a
        UNION ALL SELECT o_orderstatus, 'n_orders', n_orders FROM a
        UNION ALL SELECT o_orderstatus, 'avg_price', avg_price FROM a
        ORDER BY o_orderstatus, metric"""),
      doc = "UNPIVOT / melt wide metrics to long rows — inverse of q_pivot (SURVEY §2.5)"),

    // ------------------------------------------------------------------
    Q("q_window_range_frame",
      (s, d) => {
        // RANGE-frame sliding aggregate over event time (trailing-hour
        // totals per user — the rolling feature window of a metrics
        // pipeline): the frame is value-based on epoch micros, so rows
        // whose timestamps tie are all in-frame together and the
        // decimal sum is order-independent — deterministic where a
        // ROWS frame over tied timestamps is not.
        val ev = Tables.events(s, d).filter(col("user_id") < 40)
          .select(col("event_id"), col("user_id"),
            expr("unix_micros(cast(ts as timestamp))").as("tsu"),
            col("value"))
        val w = Window.partitionBy("user_id").orderBy("tsu")
          .rangeBetween(-3600L * 1000000L, 0L)
        ev.select(col("event_id"), col("user_id"), col("tsu"),
            count(lit(1)).over(w).as("n_1h"),
            sum(col("value").cast(DecimalType(18, 6))).over(w)
              .cast(DoubleType).as("sum_1h"))
          .orderBy("event_id")
      },
      oracle = Some("""
        SELECT event_id, user_id, epoch_us(ts) AS tsu,
          count(*) OVER w AS n_1h,
          CAST(sum(CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE) AS sum_1h
        FROM events
        WHERE user_id < 40
        WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
          RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
        ORDER BY event_id"""),
      doc = "value-based RANGE window frame: trailing-hour rolling aggregate per key (SURVEY §2.5)"),

    // ------------------------------------------------------------------
    Q("q_histogram",
      (s, d) => {
        // dynamic-range equi-width histogram — the two-pass shape every
        // distributed profiler runs: pass 1 is a tiny (min, max) agg
        // that attaches to the scan via a constant-key broadcast hash
        // join (no driver round-trip, no cartesian); pass 2 buckets
        // each row with integer arithmetic on the broadcast range.
        // Bucket index stays in exact long math (value scaled by 100
        // to cents first) so both engines bin identically — binning on
        // raw doubles risks ulp disagreements at bucket edges.
        val nb = 16
        val o = Tables.orders(s, d)
          .select(round(col("o_totalprice") * 100, 0).cast(LongType).as("cents"))
        val range = o.agg(min(col("cents")).as("lo"), max(col("cents")).as("hi"))
          .withColumn("g", Present.constKey(col("hi") - col("lo") + 1))
        o.withColumn("g", Present.constKey(col("cents") - col("cents") + 1))
          .join(broadcast(range), "g")
          .select(least(lit(nb.toLong - 1),
            expr(s"((cents - lo) * $nb) DIV (hi - lo + 1)")).as("bucket"),
            col("lo"), col("hi"))
          .groupBy("bucket")
          .agg(count(lit(1)).as("n"),
            first(col("lo")).as("lo_cents"), first(col("hi")).as("hi_cents"))
          .transform(Present.driverSortBy(_, "bucket" -> true))
      },
      oracle = Some("""
        WITH o AS (
          SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders),
        r AS (SELECT min(cents) AS lo, max(cents) AS hi FROM o)
        SELECT least(15, ((cents - lo) * 16) // (hi - lo + 1)) AS bucket,
          count(*) AS n, any_value(lo) AS lo_cents, any_value(hi) AS hi_cents
        FROM o, r GROUP BY 1 ORDER BY bucket"""),
      doc = "dynamic-range equi-width histogram: (min,max) agg broadcast back into an integer binning pass (SURVEY §2.4)"),

    // ------------------------------------------------------------------
    Q("q_funnel",
      (s, d) => {
        // ordered conversion funnel (view -> click -> purchase): each
        // stage is a per-user MIN-timestamp aggregate constrained to
        // at-or-after the previous stage — the dependent-aggregation
        // chain every product-analytics engine ships. Three bounded
        // per-user aggregates + key joins; no window over raw events,
        // no per-user row explosion.
        val ev = Tables.events(s, d).select("user_id", "event_type", "ts")
        val t1 = ev.filter(col("event_type") === "view")
          .groupBy("user_id").agg(min(col("ts")).as("t1"))
        val t2 = ev.filter(col("event_type") === "click")
          .join(t1, "user_id").filter(col("ts") >= col("t1"))
          .groupBy("user_id").agg(min(col("ts")).as("t2"))
        val t3 = ev.filter(col("event_type") === "purchase")
          .join(t2, "user_id").filter(col("ts") >= col("t2"))
          .groupBy("user_id").agg(min(col("ts")).as("t3"))
        t1.join(t2, Seq("user_id"), "left").join(t3, Seq("user_id"), "left")
          .agg(count(col("t1")).as("n_view"),
            count(col("t2")).as("n_click_after_view"),
            count(col("t3")).as("n_purchase_after_click"))
          .transform(Present.driverAgg(_))
      },
      oracle = Some("""
        WITH t1 AS (
          SELECT user_id, min(ts) AS t1 FROM events
          WHERE event_type = 'view' GROUP BY user_id),
        t2 AS (
          SELECT e.user_id, min(e.ts) AS t2 FROM events e
          JOIN t1 ON e.user_id = t1.user_id
          WHERE e.event_type = 'click' AND e.ts >= t1.t1
          GROUP BY e.user_id),
        t3 AS (
          SELECT e.user_id, min(e.ts) AS t3 FROM events e
          JOIN t2 ON e.user_id = t2.user_id
          WHERE e.event_type = 'purchase' AND e.ts >= t2.t2
          GROUP BY e.user_id)
        SELECT count(t1.t1) AS n_view,
          count(t2.t2) AS n_click_after_view,
          count(t3.t3) AS n_purchase_after_click
        FROM t1 LEFT JOIN t2 ON t1.user_id = t2.user_id
        LEFT JOIN t3 ON t1.user_id = t3.user_id"""),
      doc = "ordered conversion funnel: dependent per-key min-timestamp stages (SURVEY §2.4)"),

    // ------------------------------------------------------------------
    Q("q_cohort_retention",
      (s, d) => {
        // cohort retention: users cohorted by first-activity week,
        // counted distinct in each later week offset — the canonical
        // retention triangle. One per-user aggregate for the cohort,
        // one join back, one (cohort, offset) distinct count; week
        // arithmetic stays in whole days so both engines bin
        // identically (both truncate weeks to Monday).
        val ev = Tables.events(s, d)
          .select(col("user_id"), date_trunc("week", col("ts")).as("wk"))
        val cohort = ev.groupBy("user_id").agg(min(col("wk")).as("cwk"))
        ev.join(cohort, "user_id")
          .select(col("user_id"),
            col("cwk").cast(TimestampNTZType).as("cohort_week"),
            (datediff(col("wk").cast(DateType), col("cwk").cast(DateType)) / 7)
              .cast(IntegerType).as("week_offset"))
          .groupBy("cohort_week", "week_offset")
          .agg(countDistinct(col("user_id")).as("n_users"))
          .transform(Present.driverAgg(_, "cohort_week" -> true, "week_offset" -> true))
      },
      oracle = Some("""
        WITH ev AS (
          SELECT user_id, date_trunc('week', ts) AS wk FROM events),
        cohort AS (
          SELECT user_id, min(wk) AS cwk FROM ev GROUP BY user_id)
        SELECT c.cwk AS cohort_week,
          CAST(date_diff('day', CAST(c.cwk AS DATE), CAST(e.wk AS DATE)) / 7
            AS INTEGER) AS week_offset,
          count(DISTINCT e.user_id) AS n_users
        FROM ev e JOIN cohort c ON e.user_id = c.user_id
        GROUP BY 1, 2 ORDER BY cohort_week, week_offset"""),
      doc = "cohort retention triangle: first-activity cohorts x week offsets (SURVEY §2.4)"),

    // ------------------------------------------------------------------
    Q("q_percent_rank",
      (s, d) => {
        // distribution-rank windows (percent_rank / cume_dist) per
        // market segment — the remaining members of the window family
        // (rank/dense_rank/ntile/lead/lag are gated elsewhere). The
        // ordering carries a unique tie-breaker so both ranks are fully
        // determined; the rank fractions are exact k/(n-1) doubles both
        // engines compute identically.
        val w = Window.partitionBy("c_mktsegment")
          .orderBy(desc("c_acctbal"), asc("c_custkey"))
        Tables.customer(s, d).filter(col("c_custkey") < 300)
          .select(col("c_custkey"), col("c_mktsegment"),
            round(percent_rank().over(w), 6).as("pct_rank"),
            round(cume_dist().over(w), 6).as("cume"))
          .orderBy("c_custkey")
      },
      oracle = Some("""
        SELECT c_custkey, c_mktsegment,
          round(percent_rank() OVER w, 6) AS pct_rank,
          round(cume_dist() OVER w, 6) AS cume
        FROM customer WHERE c_custkey < 300
        WINDOW w AS (PARTITION BY c_mktsegment
          ORDER BY c_acctbal DESC, c_custkey)
        ORDER BY c_custkey"""),
      doc = "percent_rank / cume_dist distribution windows (SURVEY §2.5)"),

    // ------------------------------------------------------------------
    Q("q_try_fns",
      (s, d) => {
        // error-safe expression surface under ANSI mode: try_divide
        // returns NULL on /0 where a plain division would raise,
        // try_cast returns NULL on malformed input — the semantics a
        // 100 TB batch job needs so one bad row degrades instead of
        // failing the stage. The malformed-cast column exercises a
        // genuinely unparseable string built from real data.
        Tables.orders(s, d).filter(col("o_orderkey") < 200)
          .select(col("o_orderkey"),
            round(try_divide(col("o_totalprice"),
              (col("o_orderkey") % 3).cast(DoubleType)), 4).as("div_or_null"),
            try_to_number(concat(lit("x"), col("o_orderstatus")), lit("999"))
              .cast(DoubleType).as("bad_cast"),
            try_to_number(col("o_orderkey").cast(StringType), lit("999999"))
              .cast(LongType).as("good_cast"))
          .orderBy("o_orderkey")
      },
      oracle = Some("""
        SELECT o_orderkey,
          round(o_totalprice / NULLIF(CAST(o_orderkey % 3 AS DOUBLE), 0.0), 4)
            AS div_or_null,
          CAST(TRY_CAST('x' || o_orderstatus AS INTEGER) AS DOUBLE) AS bad_cast,
          TRY_CAST(CAST(o_orderkey AS VARCHAR) AS BIGINT) AS good_cast
        FROM orders WHERE o_orderkey < 200
        ORDER BY o_orderkey"""),
      doc = "try_* error-safe expressions: NULL degradation instead of stage failure under ANSI (SURVEY §2.5)"),

    // ------------------------------------------------------------------
    Q("q_not_in_null_semantics",
      (s, d) => {
        // the classic three-valued-logic trap, pinned as a gate: NOT IN
        // against a subquery CONTAINING NULL is never true (x <> NULL
        // is unknown), so the count collapses to 0, while NOT EXISTS
        // keeps its row-by-row semantics — both engines must agree on
        // all three counts or an anti-join rewrite somewhere is
        // breaking ANSI semantics. Spark plans these as
        // null-aware anti joins; the gate keeps it honest.
        Tables.orders(s, d).createOrReplaceTempView("orders_nin")
        Tables.customer(s, d).createOrReplaceTempView("cust_nin")
        s.sql("""
          SELECT
            (SELECT count(*) FROM orders_nin
             WHERE o_custkey NOT IN
               (SELECT c_custkey FROM cust_nin WHERE c_custkey > 100)) AS n_not_in,
            (SELECT count(*) FROM orders_nin
             WHERE o_custkey NOT IN
               (SELECT CASE WHEN c_custkey = 1 THEN NULL ELSE c_custkey END
                FROM cust_nin)) AS n_with_null,
            (SELECT count(*) FROM orders_nin o
             WHERE NOT EXISTS (SELECT 1 FROM cust_nin c
               WHERE CASE WHEN c.c_custkey = 1 THEN NULL ELSE c.c_custkey END
                 = o.o_custkey)) AS n_not_exists""")
      },
      oracle = Some("""
        SELECT
          (SELECT count(*) FROM orders
           WHERE o_custkey NOT IN
             (SELECT c_custkey FROM customer WHERE c_custkey > 100)) AS n_not_in,
          (SELECT count(*) FROM orders
           WHERE o_custkey NOT IN
             (SELECT CASE WHEN c_custkey = 1 THEN NULL ELSE c_custkey END
              FROM customer)) AS n_with_null,
          (SELECT count(*) FROM orders o
           WHERE NOT EXISTS (SELECT 1 FROM customer c
             WHERE CASE WHEN c.c_custkey = 1 THEN NULL ELSE c.c_custkey END
               = o.o_custkey)) AS n_not_exists"""),
      doc = "NOT IN vs NOT EXISTS under NULL: three-valued-logic anti-join semantics pinned (SURVEY §2.2)"),

    // ------------------------------------------------------------------
    Q("q_decile_report",
      (s, d) => {
        // decile profile of order value — the distribution report an
        // analyst pulls before setting thresholds: a global ntile(10)
        // with a unique tie-breaker (so bucket membership is fully
        // determined), then per-decile bounds and an exact decimal
        // revenue share. ntile's single-partition window runs over
        // (orderkey, price) pairs only.
        val w = Window.orderBy(asc("o_totalprice"), asc("o_orderkey"))
        Tables.orders(s, d)
          .select(col("o_orderkey"), col("o_totalprice"))
          .withColumn("decile", ntile(10).over(w))
          .groupBy("decile")
          .agg(count(lit(1)).as("n"),
            min(col("o_totalprice")).as("lo"),
            max(col("o_totalprice")).as("hi"),
            dsum(col("o_totalprice"), 2, "revenue"))
          .transform(Present.driverSortBy(_, "decile" -> true))
      },
      oracle = Some("""
        WITH t AS (
          SELECT o_orderkey, o_totalprice,
            ntile(10) OVER (ORDER BY o_totalprice, o_orderkey) AS decile
          FROM orders)
        SELECT CAST(decile AS INTEGER) AS decile, count(*) AS n,
          min(o_totalprice) AS lo, max(o_totalprice) AS hi,
          CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        FROM t GROUP BY decile ORDER BY decile"""),
      doc = "decile distribution report: tie-broken global ntile + per-decile bounds/revenue (SURVEY §2.5)")
  )
}
