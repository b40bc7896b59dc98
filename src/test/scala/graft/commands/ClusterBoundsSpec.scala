package graft.commands

import graft._
import graft.format._
import graft.write.LakeWriter
import org.apache.spark.sql.functions._

/** Round-12 stats-guided clustering pins: CoW rewrites on sorted tables
  * bucket by the touched files' existing sort-key bounds (one hash
  * exchange, no RangePartitioner sampling job) — the rewritten files
  * must still carry NON-OVERLAPPING sort-key ranges, or future stats
  * pruning silently degrades. */
class ClusterBoundsSpec extends SparkSpec {

  private def keyRanges(t: LakeTable, keyCol: String): Seq[(Long, Long)] = {
    val id = FieldIds.of(t.schema(keyCol)).toString
    t.currentFiles().flatMap { f =>
      for (cs <- f.stats.get(id); mn <- cs.min; mx <- cs.max)
        yield (mn.toLong, mx.toLong)
    }
  }

  private def assertNonOverlapping(ranges: Seq[(Long, Long)]): Unit = {
    val sorted = ranges.sortBy(_._1)
    sorted.sliding(2).foreach {
      case Seq((_, aMax), (bMin, _)) =>
        assert(aMax < bMin, s"overlapping file ranges: ..$aMax vs $bMin..")
      case _ =>
    }
  }

  test("update rewrite keeps non-overlapping file ranges without a sampling pass") {
    val dir = java.nio.file.Files.createTempDirectory("graft-cb1-").toString
    val catalog = new LakeCatalog(dir)
    val engine = new LakeEngine(spark, catalog)
    val df = spark.range(0, 8000).select(
      col("id").as("k"), (col("id") % 13).cast("double").as("v"))
    val t = catalog.createTable("t", df.schema,
      sortOrder = Seq(SortField("k")),
      properties = Map("write.max-records-per-file" -> "2000"))
    engine.insert(t, df)
    assertNonOverlapping(keyRanges(t, "k"))
    engine.update(t, "k >= 2500 AND k < 5500", Map("v" -> "-1.0"))
    val t2 = LakeTable.load(t.location)
    assertNonOverlapping(keyRanges(t2, "k"))
    val out = engine.scan(t2).toDF()
    assert(out.filter(col("v") === -1.0).count() === 3000L)
    assert(out.count() === 8000L)
  }

  private def scd1Scenario(dir: String): LakeTable = {
    val catalog = new LakeCatalog(dir)
    val engine = new LakeEngine(spark, catalog)
    val df = spark.range(0, 8000).select(
      col("id").as("k"), (col("id") % 13).cast("double").as("v"))
    val t = catalog.createTable("t", df.schema,
      sortOrder = Seq(SortField("k")),
      properties = Map("write.max-records-per-file" -> "2000"))
    engine.insert(t, df)
    val src = spark.range(3000, 3200).select(
        col("id").as("k"), lit(77.0).as("v"), lit("U").as("op"))
      .unionByName(spark.range(20000, 20100).select(
        col("id").as("k"), lit(1.0).as("v"), lit("I").as("op")))
    Merge.scd1(engine, t, src, Merge.Scd1Options(
      keyCols = Seq("k"), operationTypeColumn = Some("op")))
    LakeTable.load(t.location)
  }

  private def checkScd1End(t2: LakeTable): Unit = {
    val engine = new LakeEngine(spark, new LakeCatalog(
      java.nio.file.Paths.get(t2.location).getParent.toString))
    val out = engine.scan(t2).toDF()
    assert(out.count() === 8100L)
    assert(out.filter(col("v") === 77.0).count() === 200L)
    // pruned point lookup still hits exactly one file for an untouched key
    val scan = new graft.scan.TableScan(spark, t2, graft.scan.Eq("k", 100L))
    assert(scan.planFiles().size === 1)
  }

  test("changes-mode scd1 (clustered fallback): inserts land in the tail bucket, ranges stay disjoint") {
    // the CLUSTERED rewrite (test-sized files sit under the split
    // rewrite's rebuilt-bytes floor): one write, disjoint ranges everywhere
    val t2 = scd1Scenario(
      java.nio.file.Files.createTempDirectory("graft-cb2-").toString)
    assertNonOverlapping(keyRanges(t2, "k"))
    checkScd1End(t2)
  }

  test("changes-mode scd1 (split rewrite): rebuilt files stay disjoint, new rows in their own files") {
    // drop the rebuilt-bytes floor so the split engages on test-sized data
    val floor = Merge.splitRewriteMinBytes
    Merge.splitRewriteMinBytes = 0L
    try splitScenario()
    finally Merge.splitRewriteMinBytes = floor
  }

  private def splitScenario(): Unit = {
    // the round-15 split rewrite: retained rows rebuilt per file (no
    // exchange/sort — their ranges must still be disjoint among
    // themselves), upserts appended as separate files whose range MAY
    // overlap the rebuilt ones (the reference's rewrite+append flow;
    // the accepted pruning trade for never exchanging the full-width
    // retained rows)
    val t2 = scd1Scenario(
      java.nio.file.Files.createTempDirectory("graft-cb2s-").toString)
    checkScd1End(t2)
    // rebuilt files keep their original (disjoint) ranges; appended
    // upsert files are the only ones allowed to overlap them. Identify
    // appended files by row count (the upsert batch is 300 rows across
    // however many files; rebuilt files carry ~2000).
    val files = t2.currentFiles()
    val (appended, rebuilt) = files.partition(_.recordCount <= 300L)
    assert(appended.nonEmpty && appended.map(_.recordCount).sum == 300L,
      s"appended upsert rows: ${files.map(f => f.path -> f.recordCount)}")
    val id = FieldIds.of(t2.schema("k")).toString
    assertNonOverlapping(rebuilt.flatMap { f =>
      for (cs <- f.stats.get(id); mn <- cs.min; mx <- cs.max)
        yield (mn.toLong, mx.toLong)
    })
    // an untouched-range point lookup must still prune to one file
    val scan = new graft.scan.TableScan(spark, t2, graft.scan.Eq("k", 6000L))
    assert(scan.planFiles().size === 1)
  }

  test("interior write-parallelism splits: volume-gated, ranges stay disjoint") {
    // round 17: files over the split target contribute interpolated
    // interior bounds (more buckets, same contiguity); files under it
    // contribute only their max — the sf0.1-scale shape is unchanged
    val dir = java.nio.file.Files.createTempDirectory("graft-cb4-").toString
    val catalog = new LakeCatalog(dir)
    val engine = new LakeEngine(spark, catalog)
    val df = spark.range(0, 8000).select(
      col("id").as("k"), (col("id") % 13).cast("double").as("v"))
    val t = catalog.createTable("t", df.schema,
      sortOrder = Seq(SortField("k")),
      properties = Map("write.max-records-per-file" -> "4000"))
    engine.insert(t, df)
    val files = t.currentFiles()
    // default target (8m) >> these tiny files: bounds = per-file maxes only
    assert(LakeWriter.clusterBoundsOf(t, files).get.size == files.size)
    // force the gate open: target below the file size adds interior
    // bounds between each file's (min, max), capped at 8 splits/file
    graft.write.LakeWriterSeams.withClusterSplitTargetBytes(1L) {
      val bounds = LakeWriter.clusterBoundsOf(t, files).get
      assert(bounds.size == files.size * 8, s"expected 8 splits/file, got $bounds")
      val id = FieldIds.of(t.schema("k")).toString
      files.foreach { f =>
        val (mn, mx) = (f.stats(id).min.get.toLong, f.stats(id).max.get.toLong)
        // interior points sit strictly inside the file's range
        assert(bounds.map(_.toLong).count(b => b > mn && b < mx) >= 7)
      }
      // a CoW rewrite under the forced splits still yields
      // non-overlapping rewritten ranges and correct rows
      engine.update(t, "k >= 1000 AND k < 7000", Map("v" -> "-2.0"))
      val t2 = LakeTable.load(t.location)
      assertNonOverlapping(keyRanges(t2, "k"))
      val out = engine.scan(t2).toDF()
      assert(out.filter(col("v") === -2.0).count() === 6000L)
      assert(out.count() === 8000L)
    }
  }

  test("clusterBoundsOf declines descending and unsupported sort shapes") {
    val dir = java.nio.file.Files.createTempDirectory("graft-cb3-").toString
    val catalog = new LakeCatalog(dir)
    val engine = new LakeEngine(spark, catalog)
    val df = spark.range(0, 100).select(
      col("id").as("k"), col("id").cast("double").as("v"))
    val t = catalog.createTable("t", df.schema,
      sortOrder = Seq(SortField("k", ascending = false)))
    engine.insert(t, df)
    assert(LakeWriter.clusterBoundsOf(t, t.currentFiles()).isEmpty)
    val t2 = catalog.createTable("t2", df.schema,
      sortOrder = Seq(SortField("v"))) // double: unsupported key type
    engine.insert(t2, df)
    assert(LakeWriter.clusterBoundsOf(t2, t2.currentFiles()).isEmpty)
  }

  // ------------------------------------------------------------------
  // Round-18 adversarial sweep (round-17 verdict #6): the bound list is
  // a HINT — any list, however degenerate, must leave content exact and
  // file ranges disjoint, because boundsBucketExpr canonicalizes
  // (sort + dedupe + cap) before bucketing and the per-partition sort
  // still orders rows within every bucket.

  private def writeWithBounds(bounds: Seq[String], label: String): Unit = {
    val dir = java.nio.file.Files.createTempDirectory(s"graft-cbadv-").toString
    val catalog = new LakeCatalog(dir)
    val engine = new LakeEngine(spark, catalog)
    val df = spark.range(0, 4000).select(
      col("id").as("k"), (col("id") % 7).cast("double").as("v"))
    val t = catalog.createTable("t", df.schema,
      sortOrder = Seq(SortField("k")),
      properties = Map("write.max-records-per-file" -> "1500"))
    val entries = LakeWriter.write(spark, t, df, clusterBounds = Some(bounds))
    t.appendFiles(entries)
    val t2 = LakeTable.load(t.location)
    assertNonOverlapping(keyRanges(t2, "k"))
    val out = new LakeEngine(spark, catalog).scan(t2).toDF()
    assert(out.count() === 4000L, s"$label: row count")
    assert(out.agg(sum(col("k"))).head().getLong(0) === (0L until 4000L).sum,
      s"$label: content drifted")
  }

  test("adversarial bound lists: duplicates, reversed, out-of-range, single, empty-ish") {
    writeWithBounds(Seq("1000", "1000", "2000", "2000", "1000"), "duplicates")
    writeWithBounds(Seq("3000", "2000", "1000"), "reversed order")
    writeWithBounds(Seq("-500", "999999", "100"), "bounds outside the data range")
    writeWithBounds(Seq("0"), "single bound at the data minimum")
    writeWithBounds(Seq("3999"), "single bound at the data maximum")
    writeWithBounds((0 until 500).map(i => (i * 8).toString), "500 bounds (cap subsample)")
    writeWithBounds(Seq(Long.MinValue.toString, Long.MaxValue.toString), "extreme Long bounds")
  }

  test("clusterBoundsOf survives degenerate footer stats") {
    val dir = java.nio.file.Files.createTempDirectory("graft-cbadv2-").toString
    val catalog = new LakeCatalog(dir)
    val engine = new LakeEngine(spark, catalog)
    val df = spark.range(0, 100).select(
      col("id").as("k"), col("id").cast("double").as("v"))
    val t = catalog.createTable("t", df.schema, sortOrder = Seq(SortField("k")))
    engine.insert(t, df)
    val id = FieldIds.of(t.schema("k")).toString
    def entry(mn: Option[String], mx: Option[String], size: Long) = FileEntry(
      "fake.parquet", Map.empty, 10L, size, t.metadata.currentSchemaId,
      Map(id -> ColumnStats(mn, mx, 0L)))
    // min == max (single-key file, big enough to ask for splits):
    // interpolation must not emit bounds outside [lo, hi]
    val same = LakeWriter.clusterBoundsOf(t, Seq(entry(Some("42"), Some("42"), 100L << 20)))
    assert(same.exists(_.forall(_ == "42")), s"min==max bounds: $same")
    // corrupt stats (min > max): whatever comes back must still write
    // exactly (canonicalization makes any list safe)
    LakeWriter.clusterBoundsOf(t, Seq(entry(Some("900"), Some("100"), 100L << 20)))
      .foreach(bs => writeWithBounds(bs, "min>max corrupt stats"))
    // absent stats on one file, present on another
    val mixed = LakeWriter.clusterBoundsOf(t,
      Seq(entry(None, None, 100L << 20), entry(Some("10"), Some("90"), 1L)))
    assert(mixed.exists(_.contains("90")), s"mixed stats: $mixed")
    // full-Long span: BigInt interpolation must not throw or emit junk
    val wide = LakeWriter.clusterBoundsOf(t, Seq(
      entry(Some(Long.MinValue.toString), Some(Long.MaxValue.toString), 100L << 20)))
    assert(wide.isDefined)
    wide.foreach { bs =>
      bs.foreach(b => assert(BigInt(b) >= BigInt(Long.MinValue) &&
        BigInt(b) <= BigInt(Long.MaxValue), s"bound outside Long: $b"))
      writeWithBounds(bs, "full-Long interpolated bounds")
    }
  }
}
