package graft

import graft.functions.{GraftFunctions, LongOpenHashSet}
import org.apache.spark.sql.functions._

/** [[graft.functions.ExactCountDistinct]]: one-pass exact distinct must
  * agree with Spark's Expand-based countDistinct on real data and on the
  * edge cases an open-addressing long set can get wrong (0L handling,
  * nulls, resize, serialization round-trip).
  */
class ExactDistinctSpec extends SparkSpec {

  test("matches countDistinct on lineitem, grouped and global") {
    GraftFunctions.register(spark)
    val l = Tables.lineitem(spark, sf)
    val expect = l.groupBy("l_returnflag")
      .agg(countDistinct(col("l_suppkey")).as("a"),
        countDistinct(col("l_partkey")).as("b"),
        countDistinct(col("l_orderkey")).as("c"))
      .orderBy("l_returnflag").collect().map(_.toSeq)
    val got = l.groupBy("l_returnflag")
      .agg(call_function("graft_count_distinct", col("l_suppkey")).as("a"),
        call_function("graft_count_distinct", col("l_partkey")).as("b"),
        call_function("graft_count_distinct", col("l_orderkey")).as("c"))
      .orderBy("l_returnflag").collect().map(_.toSeq)
    assert(got.toSeq == expect.toSeq)

    val eg = l.agg(countDistinct(col("l_orderkey"))).head().getLong(0)
    val gg = l.agg(call_function("graft_count_distinct", col("l_orderkey")))
      .head().getLong(0)
    assert(gg == eg)
  }

  test("nulls ignored, zero counted once, empty group = 0") {
    GraftFunctions.register(spark)
    import spark.implicits._
    val df = Seq[(String, java.lang.Long)](
      ("a", 0L), ("a", 0L), ("a", null), ("a", 7L), ("a", 7L), ("b", null))
      .toDF("k", "v")
    val r = df.groupBy("k")
      .agg(call_function("graft_count_distinct", col("v")).as("n"))
      .orderBy("k").collect().map(r => (r.getString(0), r.getLong(1)))
    assert(r.toSeq == Seq(("a", 2L), ("b", 0L)))
  }

  test("adaptive set: dense keys convert to bitmap, agree with hash") {
    import graft.functions.AdaptiveLongSet
    val s = new AdaptiveLongSet()
    // dense: 100k keys in [1000, 201000) step 2 -> span 200k, n 100k
    val dense = (0 until 100000).map(i => 1000L + i * 2)
    dense.foreach(s.add)
    dense.foreach(s.add) // idempotent across representations
    assert(s.size == 100000)
    // serialization round-trip out of bitmap mode
    val rt = AdaptiveLongSet.deserialize(s.serialize())
    assert(rt.size == 100000)
    // union fast path (nested bitmap) and slow path (hash other)
    val h = new AdaptiveLongSet()
    (0 until 100).foreach(i => h.add(1001L + i * 2)) // odd keys, new
    rt.union(h)
    assert(rt.size == 100100)
    rt.union(s) // no-op union, word-OR path
    assert(rt.size == 100100)
  }

  test("adaptive set: sparse stream reverts from bitmap and stays exact") {
    import graft.functions.AdaptiveLongSet
    val s = new AdaptiveLongSet()
    // phase 1: dense enough to convert
    (1L to 10000L).foreach(s.add)
    // phase 2: far-flung keys force geometric growth past the density
    // bound -> revert to hash
    val rnd = new java.util.Random(7)
    val sparse = (1 to 5000).map(_ => rnd.nextLong() | 1L).distinct
    sparse.foreach(s.add)
    assert(s.size == 10000 + sparse.count(v => v < 1L || v > 10000L))
    val rt = AdaptiveLongSet.deserialize(s.serialize())
    assert(rt.size == s.size)
  }

  test("adaptive set: zero, negatives, Long extremes, empty") {
    import graft.functions.AdaptiveLongSet
    val s = new AdaptiveLongSet()
    assert(s.size == 0)
    val vals = Seq(0L, -1L, 1L, Long.MinValue, Long.MaxValue, -64L, 63L)
    vals.foreach(s.add); vals.foreach(s.add)
    assert(s.size == vals.size)
    val rt = AdaptiveLongSet.deserialize(s.serialize())
    assert(rt.size == vals.size)
    var seen = Set.empty[Long]
    rt.foreach(seen += _)
    assert(seen == vals.toSet)
  }

  test("adaptive set: downward growth keeps earlier keys") {
    import graft.functions.AdaptiveLongSet
    val s = new AdaptiveLongSet()
    (1000000L until 1010000L).foreach(s.add) // converts, base ~1M
    (990000L until 1000000L).foreach(s.add)  // grows downward
    assert(s.size == 20000)
    var seen = 0
    s.foreach(_ => seen += 1)
    assert(seen == 20000)
  }

  test("two-level salted distinct (set + merge aggs) matches countDistinct") {
    GraftFunctions.register(spark)
    val l = Tables.lineitem(spark, sf)
    val expect = l.groupBy("l_returnflag")
      .agg(countDistinct(col("l_suppkey")).as("n_supp"),
        countDistinct(col("l_partkey")).as("n_part"),
        countDistinct(col("l_orderkey")).as("n_ord"))
      .orderBy("l_returnflag").collect().map(_.toSeq)
    // level 1 buckets by salt(orderkey): orderkey sets are disjoint
    // across salts (sum), supp/part sets overlap (set-merge)
    val got = l.groupBy(col("l_returnflag"),
        pmod(xxhash64(col("l_orderkey")), lit(8)).as("_salt"))
      .agg(call_function("graft_distinct_set", col("l_suppkey")).as("ss"),
        call_function("graft_distinct_set", col("l_partkey")).as("ps"),
        call_function("graft_count_distinct", col("l_orderkey")).as("no"))
      .groupBy("l_returnflag")
      .agg(call_function("graft_count_distinct_merge", col("ss")).as("n_supp"),
        call_function("graft_count_distinct_merge", col("ps")).as("n_part"),
        sum("no").as("n_ord"))
      .orderBy("l_returnflag").collect().map(_.toSeq)
    assert(got.toSeq == expect.toSeq)
  }

  test("set survives resize and serialization round-trip") {
    val s = new LongOpenHashSet(4)
    val vals = (1L to 10000L).map(_ * 2654435761L) :+ 0L :+ Long.MinValue :+ Long.MaxValue
    vals.foreach(s.add)
    vals.foreach(s.add) // idempotent
    assert(s.size == vals.distinct.size)
    val rt = LongOpenHashSet.deserialize(s.serialize())
    assert(rt.size == s.size)
    val merged = new LongOpenHashSet(4)
    merged.add(42L)
    merged.union(rt)
    assert(merged.size == s.size + 1)
  }
}
