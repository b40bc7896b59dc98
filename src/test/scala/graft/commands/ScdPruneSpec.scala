package graft.commands

import graft._
import graft.format._
import graft.scan._
import org.apache.spark.sql.functions._

/** Round-12 J2-for-SCD pins: changes-mode merges prune candidate files
  * by source keys (Merge.scdKeyPrunePred) — the pred compacts clustered
  * integral keys into ranges, the stats evaluator actually drops
  * non-overlapping files, and the end-to-end merge rewrites only the
  * touched file while producing the right rows. */
class ScdPruneSpec extends SparkSpec {

  private def mkTable(dir: String): (LakeEngine, LakeTable) = {
    val catalog = new LakeCatalog(dir)
    val engine = new LakeEngine(spark, catalog)
    val df = spark.range(0, 4000).select(
      col("id").as("k"), (col("id") % 7).cast("double").as("v"))
    val t = catalog.createTable("t", df.schema,
      sortOrder = Seq(SortField("k")),
      properties = Map("write.max-records-per-file" -> "1000"))
    engine.insert(t, df)
    assert(t.currentFiles().size == 4, "expected 4 range-clustered files")
    (engine, t)
  }

  private def rangesOf(p: Pred): Seq[(Long, Long)] = p match {
    case Or(l, r) => rangesOf(l) ++ rangesOf(r)
    case And(Ge(_, a), Le(_, b)) =>
      Seq((a.asInstanceOf[Number].longValue, b.asInstanceOf[Number].longValue))
    case Eq(_, a) =>
      val v = a.asInstanceOf[Number].longValue; Seq((v, v))
    case other => fail(s"unexpected pred node $other")
  }

  private def assertCovers(p: Pred, keys: Seq[Long], maxRanges: Int): Unit = {
    val rs = rangesOf(p)
    assert(rs.nonEmpty && rs.length <= maxRanges, s"${rs.length} ranges: $rs")
    keys.foreach(k => assert(rs.exists { case (a, b) => k >= a && k <= b },
      s"key $k not covered by $rs"))
  }

  test("scdKeyPrunePred compacts clustered keys into ranges and planFiles drops untouched files") {
    val dir = java.nio.file.Files.createTempDirectory("graft-scdprune1-").toString
    val (_, t) = mkTable(dir)
    // two clusters: one inside file 2's range, one beyond every file
    val src = spark.range(1200, 1261).select(col("id").as("k"))
      .unionByName(spark.range(10000, 10010).select(col("id").as("k")))
    val pred = Merge.scdKeyPrunePred(src, Seq("k"), t.schema)
    // structure: a bounded Or-tree of ranges, not an In-list
    assert(rangesOf(pred).length == 2)
    val planned = new TableScan(spark, t, pred, withFileColumns = true).planFiles()
    assert(planned.size == 1, s"expected 1 may-match file, got ${planned.size}")
  }

  test("changes-mode scd1 rewrites only the touched file; results correct") {
    val dir = java.nio.file.Files.createTempDirectory("graft-scdprune2-").toString
    val (engine, t) = mkTable(dir)
    val before = t.currentFiles().map(_.path).toSet
    val src = spark.range(1200, 1261).select(
        col("id").as("k"), lit(99.0).as("v"), lit("U").as("op"))
      .unionByName(spark.range(10000, 10010).select(
        col("id").as("k"), lit(5.0).as("v"), lit("I").as("op")))
    Merge.scd1(engine, t, src, Merge.Scd1Options(
      keyCols = Seq("k"), operationTypeColumn = Some("op")))
    val t2 = LakeTable.load(t.location)
    val after = t2.currentFiles().map(_.path).toSet
    assert((before -- after).size == 1,
      s"expected exactly 1 original file rewritten, got ${(before -- after).size}")
    val out = engine.scan(t2).toDF()
    assert(out.count() == 4010)
    assert(out.filter(col("v") === 99.0).count() === 61L)
    assert(out.filter(col("k") >= 10000).count() === 10L)
  }

  test("range compaction stays bounded past the old 1M-key cap (round 21)") {
    // 1.2M distinct keys in two clusters: the old implementation
    // collected distinct keys and fell to AlwaysTrue past 1M — a full
    // table scan at exactly the batch sizes where pruning matters most.
    // The bucketized compaction must return the two ranges instead.
    val dir = java.nio.file.Files.createTempDirectory("graft-scdprune4-").toString
    val (_, t) = mkTable(dir)
    val src = spark.range(0, 600000).select((col("id") * 2 + 1200).as("k"))
      .unionByName(spark.range(0, 600000).select((col("id") * 2 + 100000000L).as("k")))
    val pred = Merge.scdKeyPrunePred(src, Seq("k"), t.schema)
    val rs = rangesOf(pred)
    assert(rs.length == 2, s"expected 2 ranges, got $rs")
    assert(rs.contains((1200L, 1200L + 599999 * 2)))
    assert(rs.contains((100000000L, 100000000L + 599999 * 2)))
  }

  test("key summary: shuffled keys in merged partitions stay covered within the cap") {
    // a small cap forces many compactions; keys arrive in random order,
    // split across partitions whose summaries merge like the driver's
    val rnd = new scala.util.Random(17)
    val keys = (Seq.fill(5000)(rnd.nextLong()) ++ (0L until 3000L) ++
      Seq(Long.MinValue, Long.MinValue + 1, Long.MaxValue - 1, Long.MaxValue, -1L)).distinct
    val parts = rnd.shuffle(keys).grouped(700).map { ks =>
      val s = new Merge.KeyRanges(8)
      ks.foreach(s.add)
      s
    }.toSeq
    val merged = parts.reduce(_ merge _)
    val rs = merged.ranges
    assert(rs.nonEmpty && rs.length <= 8, rs)
    assert(rs.zip(rs.tail).forall { case ((_, b), (c, _)) => b < c && c - 1 != b }, s"not disjoint: $rs")
    assert(rs.forall { case (a, b) => a <= b })
    keys.foreach(k => assert(rs.exists { case (a, b) => k >= a && k <= b }, s"key $k not covered"))
    assert(rs.head._1 == Long.MinValue && rs.last._2 == Long.MaxValue)
    assert(!merged.hasNull)
    // contiguous ascending keys extend one range and never compact
    val run = new Merge.KeyRanges(2)
    (100L until 100000L).foreach(run.add)
    assert(run.ranges == Seq((100L, 99999L)))
  }

  test("residualOf caps the per-row range count, coverage only widens (round 21)") {
    // 100 single-key ranges with uniform gaps: residualOf must merge
    // down to <= 4 ranges whose union still covers every key
    val keys = (0 until 100).map(i => i.toLong * 1000)
    val pred = keys.map(k => Eq("k", k): Pred).reduceLeft[Pred](Or.apply)
    val resid = Merge.residualOf(pred)
    assertCovers(resid, keys, 4)
    // null-safe: IsNull rides through
    val residNull = Merge.residualOf(Or(pred, IsNull("k")))
    def hasIsNull(p: Pred): Boolean = p match {
      case Or(l, r) => hasIsNull(l) || hasIsNull(r)
      case IsNull(_) => true
      case _ => false
    }
    assert(hasIsNull(residNull))
    // unexpected shapes degrade to AlwaysTrue, never a wrong residual
    assert(Merge.residualOf(In("k", Seq(1, 2))) == AlwaysTrue)
    assert(Merge.residualOf(AlwaysTrue) == AlwaysTrue)
  }

  test("coarsening: IntegerType keys of mixed sign at the Int extremes under ANSI") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{IntegerType, StructField, StructType}
    // 100 clusters spread over the whole Int range (more runs than the
    // 64-range file-prune cap) plus both extremes and a cluster around 0:
    // the bucket arithmetic subtracts the Int.MinValue minimum from
    // Int.MaxValue-scale keys, which must not overflow under ANSI
    val step = (1L << 32) / 100
    val keys = ((0 until 100).map(i => Int.MinValue.toLong + i * step) ++
      Seq(Int.MinValue + 1L, -1L, 0L, 1L, Int.MaxValue - 1L, Int.MaxValue.toLong)).distinct
    val schema = StructType(Seq(StructField("k", IntegerType)))
    val src = spark.createDataFrame(
      spark.sparkContext.parallelize(keys.map(k => Row(k.toInt)), 2), schema)
    val prev = spark.conf.getOption("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try {
      val pred = Merge.scdKeyPrunePred(src, Seq("k"), schema)
      assert(rangesOf(pred).length == 64, s"expected the 64-range cap: ${rangesOf(pred)}")
      assertCovers(pred, keys, 64)
      val resid = Merge.residualOf(pred)
      assertCovers(resid, keys, 4)
      // the residual as the diff scan applies it: a row filter on the
      // Int column that keeps every source key
      assert(src.filter(Pred.toColumn(resid)).count() == keys.size)
    } finally prev match {
      case Some(v) => spark.conf.set("spark.sql.ansi.enabled", v)
      case None => spark.conf.unset("spark.sql.ansi.enabled")
    }
  }

  test("coarsening: a one-key source (span 0) prunes to that key and rewrites one file") {
    val dir = java.nio.file.Files.createTempDirectory("graft-scdprune5-").toString
    val (engine, t) = mkTable(dir)
    val src = spark.range(1500, 1501).select(
      col("id").as("k"), lit(99.0).as("v"), lit("U").as("op"))
    val pred = Merge.scdKeyPrunePred(src, Seq("k"), t.schema)
    assert(pred == Eq("k", 1500L))
    assert(Merge.coarsen(Seq((1500L, 1500L)), 4) == Seq((1500L, 1500L)))
    assert(Merge.residualOf(pred) == pred)
    val before = t.currentFiles().map(_.path).toSet
    Merge.scd1(engine, t, src, Merge.Scd1Options(
      keyCols = Seq("k"), operationTypeColumn = Some("op")))
    val t2 = LakeTable.load(t.location)
    assert((before -- t2.currentFiles().map(_.path).toSet).size == 1)
    val out = engine.scan(t2).toDF()
    assert(out.count() == 4000L)
    assert(out.filter(col("v") === 99.0).select("k").collect().map(_.getLong(0)).toSeq == Seq(1500L))
  }

  test("coarsening: a changes source empty after the boundary filter commits nothing") {
    val dir = java.nio.file.Files.createTempDirectory("graft-scdprune6-").toString
    val (engine, t) = mkTable(dir)
    val empty = spark.range(0, 0).select(col("id").as("k"))
    assert(Merge.scdKeyPrunePred(empty, Seq("k"), t.schema) == AlwaysFalse)
    // no range to coarsen: the residual degrades to no row filter
    assert(Merge.residualOf(AlwaysFalse) == AlwaysTrue)
    val head = t.metadata.currentSnapshotId
    val files = t.currentFiles().map(_.path).toSet
    // every source key lies outside the boundary k < 1000
    val src = spark.range(2000, 2100).select(
      col("id").as("k"), lit(99.0).as("v"), lit("U").as("op"))
    val m = Merge.scd1(engine, t, src, Merge.Scd1Options(keyCols = Seq("k"),
      tableFilterSql = "k < 1000", operationTypeColumn = Some("op")))
    assert(m.addedFiles == 0 && m.removedFiles == 0)
    val after = LakeTable.load(t.location)
    assert(after.metadata.currentSnapshotId == head)
    assert(after.currentFiles().map(_.path).toSet == files)
  }

  test("snapshot-mode scd1 keeps the full scan (absent keys become deletes)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-scdprune3-").toString
    val (engine, t) = mkTable(dir)
    // snapshot source: only keys 0..99 -> everything else is deleted
    val src = spark.range(0, 100).select(col("id").as("k"), lit(1.0).as("v"))
    Merge.scd1(engine, t, src, Merge.Scd1Options(keyCols = Seq("k")))
    val out = engine.scan(LakeTable.load(t.location)).toDF()
    assert(out.count() === 100L)
  }
}
