package graft

import graft.commands.{LakeEngine, Merge, MergeCardinalityException, OutOfOrderMergeException}
import graft.format._
import graft.scan._
import graft.transforms.IcebergHash
import java.nio.file.Files
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

class LakeSpec extends SparkSpec {
  import spark.implicits._

  private lazy val warehouse = Files.createTempDirectory("graft-wh-").toString
  private lazy val engine = new LakeEngine(spark, new LakeCatalog(warehouse))

  private def freshName(): String = s"t_${java.util.UUID.randomUUID().toString.take(8)}"

  test("iceberg bucket hash parity (spec test vectors)") {
    assert(IcebergHash.hashLong(34L) === 2017239379)
    assert(IcebergHash.hashString("iceberg") === 1210000089)
  }

  test("create + insert + read round-trip with partition transforms and sort order") {
    val orders = Tables.orders(spark, sf)
    val t = engine.catalog.createTable(freshName(), orders.schema,
      partitionSpec = Seq(PartitionField("o_year", "o_orderdate", "year")),
      sortOrder = Seq(SortField("o_orderkey")))
    engine.insert(t, orders)
    val back = engine.scan(t).toDF()
    assert(back.count() === orders.count())
    assert(back.schema.fieldNames.toSeq === orders.schema.fieldNames.toSeq)
    // values identical
    assert(back.except(orders).isEmpty && orders.except(back).isEmpty)
  }

  test("scan bin-packs many small files into target-size splits") {
    // Streaming ingest + CoW DML produce many tiny files; split planning
    // must pack them into target-size splits (Iceberg read.split.target-size
    // semantics), not one sliver per core (Spark's minPartitionNum default).
    val t = engine.catalog.createTable(freshName(), StructType(Seq(
      StructField("id", LongType), StructField("v", StringType))))
    (1 to 24).foreach { i =>
      engine.insert(t, Seq((i.toLong, s"v$i")).toDF("id", "v").coalesce(1))
    }
    assert(t.currentFiles().size === 24)
    val key = "spark.sql.files.minPartitionNum"
    val prev = spark.conf.getOption(key)
    spark.conf.unset(key)
    try {
      val scan = engine.scan(t).toDF()
      val parts = scan.rdd.getNumPartitions
      // 24 files x ~1 KB + 4 MB openCost each bin-pack well inside one
      // 128 MB split; Spark's own default would plan one per core
      assert(parts <= 2, s"24 tiny files planned $parts scan partitions — not bin-packed")
      assert(scan.count() === 24)
      // split sizing is per scan: reading sets no session conf
      assert(spark.conf.getOption(key).isEmpty, s"a read set $key")
      // an explicit user choice still drives the split count
      spark.conf.set(key, "3")
      val parts3 = engine.scan(t).toDF().rdd.getNumPartitions
      assert(parts3 > parts, s"minPartitionNum=3 planned $parts3 partitions, unset planned $parts")
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("partition pruning + stats pruning skip files; results still exact") {
    val orders = Tables.orders(spark, sf)
    val t = engine.catalog.createTable(freshName(), orders.schema,
      partitionSpec = Seq(PartitionField("o_year", "o_orderdate", "year")),
      sortOrder = Seq(SortField("o_orderkey")))
    engine.insert(t, orders)
    val all = engine.scan(t).planFiles()
    val scan96 = engine.scan(t,
      "o_orderdate >= TIMESTAMP_NTZ'1996-01-01 00:00:00' AND o_orderdate < TIMESTAMP_NTZ'1997-01-01 00:00:00'")
    val pruned = scan96.planFiles()
    assert(pruned.nonEmpty && pruned.size < all.size, s"pruned=${pruned.size} all=${all.size}")
    val expected = orders.filter(
      col("o_orderdate") >= lit("1996-01-01").cast(TimestampNTZType) &&
        col("o_orderdate") < lit("1997-01-01").cast(TimestampNTZType)).count()
    assert(scan96.toDF().count() === expected)
    // stats pruning on the sort key within a single year
    val keyScan = engine.scan(t, "o_orderkey <= 100")
    assert(keyScan.planFiles().size <= all.size)
    assert(keyScan.toDF().count() ===
      orders.filter(col("o_orderkey") <= 100).count())
  }

  test("partition spec evolution: files prune under the spec they were written with") {
    val orders = Tables.orders(spark, sf)
    val t = engine.catalog.createTable(freshName(), orders.schema,
      partitionSpec = Seq(PartitionField("o_year", "o_orderdate", "year")))
    engine.insert(t, orders.filter(year(col("o_orderdate")) < 1997))
    val oldFiles = engine.scan(t).planFiles()
    assert(oldFiles.forall(_.specId === 0))

    t.updatePartitionSpec(Seq(PartitionField("o_stat", "o_orderstatus", "identity")))
    engine.insert(t, orders.filter(year(col("o_orderdate")) >= 1997))
    val allFiles = engine.scan(t).planFiles()
    val newFiles = allFiles.filterNot(f => oldFiles.map(_.path).toSet.contains(f.path))
    assert(newFiles.nonEmpty && newFiles.forall(_.specId === 1))
    assert(newFiles.forall(_.partition.keySet === Set("o_stat")))
    assert(oldFiles.forall(_.partition.keySet === Set("o_year")))

    // full read is exact across both layouts
    assert(engine.scan(t).toDF().count() === orders.count())

    // a date predicate prunes OLD files via their year partition
    val mDate = engine.scan(t,
      "o_orderdate < TIMESTAMP_NTZ'1996-01-01 00:00:00'").metrics()
    assert(mDate.skippedFiles > 0, s"year-spec files not pruned: $mDate")
    assert(engine.scan(t, "o_orderdate < TIMESTAMP_NTZ'1996-01-01 00:00:00'").toDF().count() ===
      orders.filter(col("o_orderdate") < lit("1996-01-01").cast(TimestampNTZType)).count())

    // a status predicate prunes NEW files via their identity partition
    val mStat = engine.scan(t, "o_orderstatus = 'P'").metrics()
    assert(mStat.matchedFiles < mStat.totalFiles, s"identity-spec files not pruned: $mStat")
    assert(engine.scan(t, "o_orderstatus = 'P'").toDF().count() ===
      orders.filter(col("o_orderstatus") === "P").count())
  }

  test("time travel: snapshots, tags, branches") {
    val orders = Tables.orders(spark, sf)
    val t = engine.catalog.createTable(freshName(), orders.schema)
    val old = orders.filter(year(col("o_orderdate")) < 1998)
    val recent = orders.filter(year(col("o_orderdate")) >= 1998)
    engine.insert(t, old)
    val snap1 = t.metadata.currentSnapshotId.get
    t.createTag("v1", snap1)
    engine.insert(t, recent)
    assert(engine.scan(t).toDF().count() === orders.count())
    assert(new TableScan(spark, t, ref = TableRef.SnapshotId(snap1)).toDF().count() === old.count())
    assert(new TableScan(spark, t, ref = TableRef.Tag("v1")).toDF().count() === old.count())
  }

  test("schema evolution: rename + add + widen are read-time, by field id") {
    val t = engine.catalog.createTable(freshName(), StructType(Seq(
      StructField("id", IntegerType), StructField("name", StringType))))
    engine.insert(t, Seq((1, "a"), (2, "b")).toDF("id", "name"))
    t.renameColumn("name", "title")
    t.addColumn("score", DoubleType)
    t.widenColumn("id", LongType)
    engine.insert(t, Seq((3L, "c", 9.5)).toDF("id", "title", "score"))
    val got = engine.scan(t).toDF().orderBy("id")
    assert(got.schema.fieldNames.toSeq === Seq("id", "title", "score"))
    assert(got.schema("id").dataType === LongType)
    val rows = got.collect()
    assert(rows.map(_.getLong(0)).toSeq === Seq(1L, 2L, 3L))
    assert(rows.map(_.getString(1)).toSeq === Seq("a", "b", "c"))
    assert(rows(0).isNullAt(2) && rows(2).getDouble(2) === 9.5)
  }

  test("update rewrites only touched files") {
    val orders = Tables.orders(spark, sf)
    val t = engine.catalog.createTable(freshName(), orders.schema,
      partitionSpec = Seq(PartitionField("o_year", "o_orderdate", "year")))
    engine.insert(t, orders)
    val before = engine.scan(t).planFiles().map(_.path).toSet
    val m = engine.update(t, "o_orderkey = 42", Map("o_orderpriority" -> "'0-REWRITTEN'"))
    assert(m.removedFiles === 1, s"expected 1 touched file, got ${m.removedFiles}")
    val after = engine.scan(t).planFiles().map(_.path).toSet
    assert((before -- after).size === 1) // only one file swapped
    val got = engine.scan(t, "o_orderkey = 42").toDF().collect()
    assert(got.length === 1 && got(0).getAs[String]("o_orderpriority") === "0-REWRITTEN")
    assert(engine.scan(t).toDF().count() === orders.count())
  }

  test("delete removes exactly the matching rows, file-minimal") {
    val orders = Tables.orders(spark, sf)
    val t = engine.catalog.createTable(freshName(), orders.schema,
      partitionSpec = Seq(PartitionField("o_year", "o_orderdate", "year")))
    engine.insert(t, orders)
    val toDelete = orders.filter(col("o_totalprice") > 400000).count()
    assert(toDelete > 0)
    engine.delete(t, "o_totalprice > 400000")
    assert(engine.scan(t).toDF().count() === orders.count() - toDelete)
    assert(engine.scan(t, "o_totalprice > 400000").toDF().isEmpty)
  }

  test("insert overwrite by columns replaces matching partitions only") {
    val orders = Tables.orders(spark, sf)
    val t = engine.catalog.createTable(freshName(), orders.schema,
      partitionSpec = Seq(PartitionField("o_status", "o_orderstatus", "identity")))
    engine.insert(t, orders)
    val replacement = orders.filter(col("o_orderstatus") === "P")
      .withColumn("o_totalprice", lit(1.0))
    engine.insertOverwriteByColumns(t, replacement, Seq("o_orderstatus"))
    val got = engine.scan(t).toDF()
    assert(got.count() === orders.count())
    assert(got.filter(col("o_orderstatus") === "P" && col("o_totalprice") =!= 1.0).isEmpty)
    assert(got.filter(col("o_orderstatus") === "F" && col("o_totalprice") === 1.0).isEmpty)
  }

  private def scdTable(withFlag: Boolean = false): (LakeTable, org.apache.spark.sql.DataFrame) = {
    val base = Seq(
      (1L, "alice", 100.0, "S1"), (2L, "bob", 200.0, "S1"),
      (3L, "carol", 300.0, "S2"), (4L, "dan", 400.0, "S2"))
      .toDF("id", "name", "bal", "seg")
    val schema = StructType(base.schema.fields)
    val t = engine.catalog.createTable(freshName(), schema)
    engine.insert(t, base)
    (t, base)
  }

  test("SCD1 snapshot merge: I/U/D/N with boundary filter") {
    val (t, _) = scdTable()
    // boundary: segment S1. alice updated, bob deleted (absent), eve inserted.
    val source = Seq((1L, "alice2", 150.0, "S1"), (5L, "eve", 500.0, "S1"))
      .toDF("id", "name", "bal", "seg")
    Merge.scd1(engine, t, source, Merge.Scd1Options(
      keyCols = Seq("id"), tableFilterSql = "seg = 'S1'"))
    val got = engine.scan(t).toDF().orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getString(3))).toSeq
    assert(got === Seq(
      (1L, "alice2", 150.0, "S1"), (3L, "carol", 300.0, "S2"),
      (4L, "dan", 400.0, "S2"), (5L, "eve", 500.0, "S1")))
  }

  test("SCD1 changes merge with operation column; cardinality guard") {
    val (t, _) = scdTable()
    val changes = Seq(
      (2L, "bob2", 250.0, "S1", "U"),
      (3L, "carol", 300.0, "S2", "D"),
      (6L, "frank", 600.0, "S2", "I"))
      .toDF("id", "name", "bal", "seg", "op")
    Merge.scd1(engine, t, changes, Merge.Scd1Options(
      keyCols = Seq("id"), operationTypeColumn = Some("op"), deleteOperationValue = "D"))
    val got = engine.scan(t).toDF().orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got === Seq((1L, "alice"), (2L, "bob2"), (4L, "dan"), (6L, "frank")))

    val dup = Seq((2L, "x", 1.0, "S1", "U"), (2L, "y", 2.0, "S1", "U"))
      .toDF("id", "name", "bal", "seg", "op")
    intercept[MergeCardinalityException] {
      Merge.scd1(engine, t, dup, Merge.Scd1Options(
        keyCols = Seq("id"), operationTypeColumn = Some("op")))
    }
  }

  test("SCD2 snapshot merge: close + insert versions; out-of-order guard") {
    val ts0 = java.time.LocalDateTime.parse("2024-01-01T00:00:00")
    val ts1 = java.time.LocalDateTime.parse("2024-02-01T00:00:00")
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("name", StringType),
      StructField("bal", DoubleType),
      StructField("effective_start", TimestampNTZType),
      StructField("effective_end", TimestampNTZType),
      StructField("is_current", BooleanType)))
    val t = engine.catalog.createTable(freshName(), schema)
    val seed = Seq(
      (1L, "alice", 100.0, ts0, null.asInstanceOf[java.time.LocalDateTime], true),
      (2L, "bob", 200.0, ts0, null.asInstanceOf[java.time.LocalDateTime], true))
      .toDF("id", "name", "bal", "effective_start", "effective_end", "is_current")
    engine.insert(t, seed)

    // alice changes, bob unchanged, carol new
    val snap = Seq((1L, "alice", 110.0), (2L, "bob", 200.0), (3L, "carol", 300.0))
      .toDF("id", "name", "bal")
    Merge.scd2(engine, t, snap, Merge.Scd2Options(
      keyCols = Seq("id"), effectiveTimestamp = ts1, currentFlagCol = Some("is_current")))

    val got = engine.scan(t).toDF().orderBy("id", "effective_start").collect()
    assert(got.length === 4)
    val alice = got.filter(_.getLong(0) == 1L)
    assert(alice.length === 2)
    val closed = alice(0)
    assert(closed.getAs[java.time.LocalDateTime]("effective_end") == ts1 &&
      !closed.getAs[Boolean]("is_current"))
    val currentAlice = alice(1)
    assert(currentAlice.getDouble(2) === 110.0 &&
      currentAlice.isNullAt(4) && currentAlice.getAs[Boolean]("is_current"))
    val bob = got.filter(_.getLong(0) == 2L)
    assert(bob.length === 1 && bob(0).isNullAt(4)) // untouched
    val carol = got.filter(_.getLong(0) == 3L)
    assert(carol.length === 1 &&
      carol(0).getAs[java.time.LocalDateTime]("effective_start") == ts1)

    // out-of-order: effective ts before the last one aborts
    intercept[OutOfOrderMergeException] {
      Merge.scd2(engine, t, snap, Merge.Scd2Options(
        keyCols = Seq("id"), effectiveTimestamp = ts0, currentFlagCol = Some("is_current")))
    }
  }

  test("serializable conflict detection on concurrent overwrite") {
    val orders = Tables.orders(spark, sf)
    val t = engine.catalog.createTable(freshName(), orders.schema)
    engine.insert(t, orders)
    val snapBefore = t.metadata.currentSnapshotId
    // another writer commits a delete in the same key range
    engine.delete(t, "o_orderkey <= 50")
    // a stale writer tries to overwrite from the older snapshot
    val stale = CommitOp.Overwrite(Seq.empty, Set.empty,
      fromSnapshotId = snapBefore, conflictFilter = Some(Le("o_orderkey", 100)))
    intercept[ValidationException] { t.commit(stale) }
  }

  test("scan metrics report pruning savings without reading data") {
    val orders = Tables.orders(spark, sf)
    val t = engine.catalog.createTable(freshName(), orders.schema,
      partitionSpec = Seq(PartitionField("o_year", "o_orderdate", "year")))
    engine.insert(t, orders)
    val m = engine.scan(t,
      "o_orderdate >= TIMESTAMP_NTZ'1996-01-01 00:00:00' AND o_orderdate < TIMESTAMP_NTZ'1997-01-01 00:00:00'")
      .metrics()
    assert(m.skippedFiles > 0 && m.matchedFiles > 0)
    assert(m.matchedFiles + m.skippedFiles === m.totalFiles)
    assert(m.matchedBytes < m.totalBytes && m.matchedRecords > 0)
  }

  test("per-partition record counts come from metadata alone (A4)") {
    val orders = Tables.orders(spark, sf)
    val t = engine.catalog.createTable(freshName(), orders.schema,
      partitionSpec = Seq(PartitionField("o_year", "o_orderdate", "year")))
    engine.insert(t, orders)
    val expected = orders.groupBy(year(col("o_orderdate")).cast("string").as("y"))
      .count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val got = engine.scan(t).partitionRecordCounts()
    assert(got.map { case (_, p, n) => p("o_year") -> n }.toMap === expected)
    assert(got.forall(_._1 === 0)) // all under the create-time spec
    // pruned variant: only the matching year remains, count still exact
    val one = engine.scan(t,
      "o_orderdate >= TIMESTAMP_NTZ'1996-01-01 00:00:00' AND o_orderdate < TIMESTAMP_NTZ'1997-01-01 00:00:00'")
      .partitionRecordCounts()
    assert(one.map { case (_, p, n) => p("o_year") -> n } === Seq("1996" -> expected("1996")))
  }

  test("full-table-scan guard and scan size limit") {
    val orders = Tables.orders(spark, sf)
    val t = engine.catalog.createTable(freshName(), orders.schema)
    engine.insert(t, orders)
    val guarded = new LakeEngine(spark, engine.catalog, allowFullTableScan = false)
    intercept[FullTableScanException] { guarded.scan(t).planFiles() }
    val limited = new LakeEngine(spark, engine.catalog,
      totalFileSizePerScanLimitInMiB = Some(0L))
    intercept[ScanSizeLimitException] { limited.scan(t, "o_orderkey > 0").planFiles() }
  }
}
