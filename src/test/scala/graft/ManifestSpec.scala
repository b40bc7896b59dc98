package graft

import graft.commands.{LakeEngine, Maintenance}
import graft.format._
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._

/** Incremental manifest-list behavior: commits write manifests only for
  * what they change and reuse the parent's chunks (the O(changed)-commit
  * property that keeps metadata writes bounded at 100 TB table sizes).
  */
class ManifestSpec extends SparkSpec {
  import spark.implicits._

  private lazy val warehouse = Files.createTempDirectory("graft-mwh-").toString
  private lazy val engine = new LakeEngine(spark, new LakeCatalog(warehouse))

  private def freshName(): String = s"m_${java.util.UUID.randomUUID().toString.take(8)}"

  private def mkTable(props: Map[String, String] = Map.empty) = {
    val df = Seq((1L, "a")).toDF("id", "v")
    engine.catalog.createTable(freshName(), df.schema, properties = props)
  }

  private def rows(ids: Range) = ids.map(i => (i.toLong, s"v$i")).toDF("id", "v")

  test("formatVersion-1 metadata loads via upgrade-on-read; next commit writes v2") {
    val t = mkTable()
    engine.insert(t, rows(0 until 10))
    engine.insert(t, rows(10 until 20))
    // downgrade the metadata file to the v1 shape: one manifestFile string
    // per snapshot (v1 predates manifest lists, so collapse each snapshot
    // to its newest chunk — for this append-only history snapshot 1 has
    // exactly chunk 1 and snapshot 2 reused chunk 1 + added chunk 2; a
    // faithful v1 table would have per-snapshot full manifests, which the
    // FIRST snapshot here models exactly)
    val metaDir = Paths.get(t.location, "metadata")
    val v = LakeTable.currentVersion(t.location)
    val tree = Json.mapper.readTree(Files.readString(metaDir.resolve(s"v$v.json")))
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    tree.put("formatVersion", 1)
    val snaps = tree.path("snapshots")
    // keep only the first snapshot (single-manifest history = valid v1)
    val first = snaps.get(0).asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    val mf = first.path("manifests").get(0).path("path").asText()
    first.remove("manifests")
    first.put("manifestFile", mf)
    tree.putArray("snapshots").add(first)
    tree.put("currentSnapshotId", first.path("id").asLong())
    tree.putObject("refs")
    Files.writeString(metaDir.resolve(s"v${v + 1}.json"), tree.toString)

    val reloaded = LakeTable.load(t.location)
    val snap = reloaded.metadata.currentSnapshot.get
    assert(reloaded.metadata.formatVersion === LakeTable.FormatVersion)
    assert(snap.manifests.size === 1 && snap.manifests.head.path === mf)
    assert(snap.manifests.head.entryCount > 0)
    assert(snap.manifests.head.recordCount === 10L)
    assert(engine.scan(reloaded).toDF().count() === 10L)
    // a commit on the upgraded table persists native v2 metadata
    engine.insert(reloaded, rows(100 until 105))
    val latest = Json.mapper.readTree(Files.readString(
      metaDir.resolve(s"v${LakeTable.currentVersion(t.location)}.json")))
    assert(latest.path("formatVersion").asInt() === LakeTable.FormatVersion)
    assert(engine.scan(reloaded.refresh()).toDF().count() === 15L)
  }

  test("append reuses the parent's manifests and adds one for the new files") {
    val t = mkTable()
    engine.insert(t, rows(0 until 10))
    val s1 = t.metadata.currentSnapshot.get
    engine.insert(t, rows(10 until 20))
    val s2 = t.metadata.currentSnapshot.get
    assert(s2.manifests.startsWith(s1.manifests),
      s"parent chunks not reused: ${s1.manifests} vs ${s2.manifests}")
    assert(s2.manifests.size === s1.manifests.size + 1)
    // the new chunk holds only the new files
    val newChunk = s2.manifests.last
    assert(newChunk.entryCount === (t.manifest(s2).size - t.manifest(s1).size))
    assert(newChunk.recordCount === 10L)
    // both snapshots still read their own file sets (time travel intact)
    assert(t.manifest(s1).size < t.manifest(s2).size)
  }

  test("overwrite rewrites only manifests containing removed paths") {
    val t = mkTable()
    engine.insert(t, rows(0 until 10))
    engine.insert(t, rows(10 until 20))
    val before = t.metadata.currentSnapshot.get
    assert(before.manifests.size === 2)
    // delete rows only in the second chunk's files
    engine.delete(t, "id >= 15")
    val after = t.metadata.currentSnapshot.get
    assert(after.manifests.head === before.manifests.head,
      "untouched manifest chunk was rewritten")
    assert(after.manifests.last.path !== before.manifests.last.path)
    assert(engine.scan(t).toDF().count() === 15)
  }

  test("manifest list compacts past max-count; reads unchanged") {
    val t = mkTable(Map("graft.manifest.max-count" -> "4"))
    (0 until 8).foreach(i => engine.insert(t, rows(i * 10 until i * 10 + 10)))
    val s = t.metadata.currentSnapshot.get
    assert(s.manifests.size <= 5, s"list not compacted: ${s.manifests.size} chunks")
    assert(t.manifest(s).size === t.currentFiles().size)
    assert(engine.scan(t).toDF().count() === 80)
    assert(engine.scan(t, "id = 42").toDF().count() === 1)
  }

  test("partition-filtered scans skip whole manifest chunks") {
    val orders = Tables.orders(spark, sf)
    val t = engine.catalog.createTable(freshName(), orders.schema,
      partitionSpec = Seq(PartitionField("o_year", "o_orderdate", "year")))
    def slice(y: Int) = orders.filter(year(col("o_orderdate")) === y)
    engine.insert(t, slice(1995))
    engine.insert(t, slice(1996))
    val s = t.metadata.currentSnapshot.get
    assert(s.manifests.size === 2)
    assert(s.manifests.forall(_.partitionValues.contains("o_year")))

    val scan96 = engine.scan(t,
      "o_orderdate >= TIMESTAMP_NTZ'1996-01-01 00:00:00' AND o_orderdate < TIMESTAMP_NTZ'1997-01-01 00:00:00'")
    // chunk-level: the 1995 manifest is excluded without being read
    val kept = s.manifests.filter(scan96.manifestMayMatch)
    assert(kept.size === 1 && kept.head.partitionValues("o_year") === Seq("1996"))
    // results still exact
    assert(scan96.toDF().count() === slice(1996).count())
    // an unfiltered scan keeps both chunks
    assert(s.manifests.count(engine.scan(t).manifestMayMatch) === 2)
  }

  test("manifest cache: a repeated scan re-reads zero chunk files") {
    val t = mkTable()
    engine.insert(t, rows(0 until 10))
    engine.insert(t, rows(10 until 20))
    assert(engine.scan(t).toDF().count() === 20) // warm: parses each chunk once
    val misses0 = ManifestCache.misses
    assert(engine.scan(t, "id = 5").toDF().count() === 1)
    assert(engine.scan(t).toDF().count() === 20)
    assert(ManifestCache.misses === misses0,
      "repeated scans of unchanged chunks must be pure cache hits")
    assert(ManifestCache.hits > 0)
  }

  test("unknown future metadata version fails with a clear error (v1 upgrades)") {
    val t = mkTable()
    engine.insert(t, rows(0 until 5))
    val v = LakeTable.currentVersion(t.location)
    val p = Paths.get(t.location, "metadata", s"v$v.json")
    Files.writeString(p, Files.readString(p)
      .replaceFirst("\"formatVersion\":2", "\"formatVersion\":3"))
    val e = intercept[ValidationException] { LakeTable.load(t.location) }
    assert(e.getMessage.contains("unsupported table format version 3"))
    // restore so other paths over this temp dir stay sane
    Files.writeString(p, Files.readString(p)
      .replaceFirst("\"formatVersion\":3", "\"formatVersion\":2"))
  }

  test("partition-scoped delete commits without reading non-matching chunks") {
    val orders = Tables.orders(spark, sf)
    val t = engine.catalog.createTable(freshName(), orders.schema,
      partitionSpec = Seq(PartitionField("o_year", "o_orderdate", "year")))
    def slice(y: Int) = orders.filter(year(col("o_orderdate")) === y)
    engine.insert(t, slice(1995))
    engine.insert(t, slice(1996))
    val before = t.metadata.currentSnapshot.get
    assert(before.manifests.size === 2)

    ManifestCache.clear()
    val misses0 = ManifestCache.misses
    engine.delete(t,
      "o_orderdate >= TIMESTAMP_NTZ'1996-01-01 00:00:00' AND o_orderdate < TIMESTAMP_NTZ'1997-01-01 00:00:00'")
    // end-to-end (scan plan + probe + CoW commit) the 1995 chunk is
    // NEVER parsed: the scan excludes it by summary and the commit's
    // remove hints let it be reused unread
    assert(ManifestCache.misses - misses0 === 1,
      s"expected exactly one chunk parse, got ${ManifestCache.misses - misses0}")
    val after = t.metadata.currentSnapshot.get
    assert(after.manifests === Seq(before.manifests.head),
      "non-matching chunk must be reused as-is")
    assert(engine.scan(t).toDF().count() === slice(1995).count())
  }

  test("JSON manifest chunks round-trip edge values exactly through a cold reload") {
    // every optionality edge: unicode path, __NULL__ partition, Long.MaxValue,
    // quotes and backslashes, -Infinity/NaN stats strings, absent stats
    val edges = Seq(
      FileEntry("/data/ünïcode/p näme.parquet", Map("k" -> "__NULL__", "y" -> "1996"),
        0L, 0L, 1, Map("1" -> ColumnStats(None, None, 5L, Some(2L))), 3),
      FileEntry("/plain.parquet", Map.empty, Long.MaxValue, 123456789L, 2,
        Map("2" -> ColumnStats(Some("a\"b\\c"), Some(""), 0L, None),
          "7" -> ColumnStats(Some("-Infinity"), Some("NaN"), 1L, Some(0L))), 0))
    // deterministic pseudo-random fuzz across the full optionality space
    val rnd = new scala.util.Random(20260813L)
    def rs(): String = {
      // whole code points only: indexing a surrogate pair by UTF-16 unit
      // would create lone surrogates, which don't survive UTF-8 by design
      val alphabet = Vector("a", "b", "/", "=", "%", " ", ".", "\"", "\\", "é", "中", "😀", "-")
      (0 until rnd.nextInt(24)).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString
    }
    val fuzz = (0 until 200).map { i =>
      FileEntry(s"/f$i/${rs()}.parquet",
        (0 until rnd.nextInt(3)).map(j => s"p$j" -> rs()).toMap,
        rnd.nextLong().abs, rnd.nextLong().abs, rnd.nextInt(5),
        (0 until rnd.nextInt(4)).map { j =>
          s"${j + 1}" -> ColumnStats(
            if (rnd.nextBoolean()) Some(rs()) else None,
            if (rnd.nextBoolean()) Some(rs()) else None,
            rnd.nextInt(100).toLong,
            if (rnd.nextBoolean()) Some(rnd.nextInt(10).toLong) else None)
        }.toMap, rnd.nextInt(3))
    }
    // metadata-only commits write one chunk each; a cold load re-reads
    // them from disk through the same decode every manifest read uses
    val t = mkTable()
    t.appendFiles(edges)
    t.appendFiles(fuzz)
    val chunks = t.metadata.currentSnapshot.get.manifests
    assert(chunks.map(_.entryCount) === Seq(2L, 200L))
    assert(chunks.forall(_.path.endsWith(".json")), chunks.map(_.path).toString)
    ManifestCache.clear()
    val cold = LakeTable.load(t.location)
    assert(chunks.map(cold.readManifest) === Seq(edges, fuzz))
  }

  test("a manifest chunk in a non-JSON encoding fails with an error naming it") {
    val t = mkTable()
    engine.insert(t, rows(0 until 10))
    val metaDir = Paths.get(t.location, "metadata")
    val json = t.metadata.currentSnapshot.get.manifests.head.path
    Seq(".gmf", ".parquet").foreach { suffix =>
      // the same bytes under a foreign suffix, published as the next version
      val foreign = json.stripSuffix(".json") + suffix
      Files.copy(metaDir.resolve(json), metaDir.resolve(foreign))
      val v = LakeTable.currentVersion(t.location)
      Files.writeString(metaDir.resolve(s"v${v + 1}.json"),
        Files.readString(metaDir.resolve(s"v$v.json")).replace(json, foreign))
      ManifestCache.clear()
      val e = intercept[ValidationException] { LakeTable.load(t.location).currentFiles() }
      assert(e.getMessage.contains(foreign), e.getMessage)
      // restore the JSON chunk as head so the next suffix starts clean
      Files.writeString(metaDir.resolve(s"v${v + 2}.json"),
        Files.readString(metaDir.resolve(s"v$v.json")))
    }
    assert(engine.scan(LakeTable.load(t.location)).toDF().count() === 10)
  }

  test("rewriteManifests consolidates chunks") {
    val t = mkTable()
    (0 until 5).foreach(i => engine.insert(t, rows(i * 10 until i * 10 + 10)))
    assert(t.metadata.currentSnapshot.get.manifests.size === 5)
    val before = engine.scan(t).toDF().collect().toSet

    Maintenance.rewriteManifests(t)
    val s = t.metadata.currentSnapshot.get
    assert(s.manifests.size === 1, s"not consolidated: ${s.manifests.map(_.path)}")
    assert(s.operation === "replace")
    assert(engine.scan(t).toDF().collect().toSet === before)
    // history still reads through the old chunks; time travel intact
    val prev = t.metadata.snapshots.sortBy(_.id).dropRight(1).last
    assert(t.manifest(prev).size === t.currentFiles().size)
    // chunk-size bound respected
    Maintenance.rewriteManifests(t, targetEntriesPerChunk = 2)
    assert(t.metadata.currentSnapshot.get.manifests.size ===
      (t.currentFiles().size + 1) / 2)
    assert(engine.scan(t).toDF().collect().toSet === before)
  }

  test("bloom-columns property writes parquet bloom filters") {
    val t = mkTable(Map("graft.write.bloom-columns" -> "id"))
    engine.insert(t, rows(0 until 500))
    val path = t.currentFiles().head.path
    val conf = new org.apache.hadoop.conf.Configuration()
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(path), conf))
    try {
      import scala.jdk.CollectionConverters._
      val chunks = reader.getFooter.getBlocks.asScala.flatMap(_.getColumns.asScala)
      def bloomOff(col: String) = chunks
        .filter(_.getPath.toDotString == col).map(_.getBloomFilterOffset)
      assert(bloomOff("id").forall(_ >= 0) && bloomOff("id").nonEmpty,
        "bloom filter missing on requested column")
      assert(bloomOff("v").forall(_ < 0), "bloom filter written on unrequested column")
    } finally reader.close()
    // point lookup stays exact with the filter in play
    assert(engine.scan(t, "id = 123").toDF().count() === 1)
  }

  test("commits route through the pluggable CommitStore") {
    val puts = new java.util.concurrent.atomic.AtomicInteger
    val counting = new CommitStore {
      override def putIfAbsent(dir: java.nio.file.Path, name: String, content: String): Boolean = {
        puts.incrementAndGet(); LocalCommitStore.putIfAbsent(dir, name, content)
      }
    }
    val df = Seq((1L, "a")).toDF("id", "v")
    val loc = Paths.get(warehouse, freshName()).toString
    val t = LakeTable.create(loc, df.schema, store = counting)
    assert(puts.get === 1)
    engine.insert(t, rows(0 until 5))
    assert(puts.get === 2)
    assert(engine.scan(t).toDF().count() === 5)
  }

  test("incremental read: later batches only; non-append range errors") {
    val t = mkTable()
    engine.insert(t, rows(0 until 10))
    val snap1 = t.metadata.currentSnapshotId.get
    engine.insert(t, rows(10 until 20))
    engine.insert(t, rows(20 until 30))
    val inc = engine.readIncremental(t, Some(snap1))
    assert(inc.select("id").as[Long].collect().sorted.toSeq === (10L until 30L))
    // full-history read (from = None)
    assert(engine.readIncremental(t, None).count() === 30)
    // shared chunks are skipped unread: appendedFiles is O(changed)
    val head = t.metadata.currentSnapshotId.get
    assert(t.appendedFiles(Some(snap1), head).size ===
      t.currentFiles().size - t.manifest(t.metadata.snapshotById(snap1).get).size)
    // ...and provably so: only the 2 non-shared chunks are parsed — the
    // shared from-chunk is skipped on BOTH sides (to-list and from-paths)
    ManifestCache.clear()
    val misses0 = ManifestCache.misses
    t.appendedFiles(Some(snap1), head)
    assert(ManifestCache.misses - misses0 === 2,
      "incremental planning must touch O(changed) manifest chunks")
    // a delete in range has no append-only representation
    engine.delete(t, "id < 5")
    intercept[graft.format.ValidationException] {
      engine.readIncremental(t, Some(snap1))
    }
  }

  test("readChanges: file-level CDC across appends, deletes and updates") {
    import spark.implicits._
    val t = mkTable()
    engine.insert(t, rows(0 until 10))
    val s1 = t.metadata.currentSnapshotId.get
    engine.insert(t, rows(10 until 20))       // append
    engine.delete(t, "id < 5")                // rewrite of the first file
    engine.update(t, "id = 15", Map("v" -> "'upd'"))

    def changes(from: Option[Long]) = engine.readChanges(t, from)
      .select(col("id").cast("long"), col("v"), col("_change_type"))
      .as[(Long, String, String)].collect().toSet
    val got = changes(Some(s1))
    // net reconciliation: applying deletes then inserts to snapshot s1
    // must yield the current table (CoW re-emits rewritten rows)
    val base = (0L until 10L).map(i => (i, s"v$i")).toSet
    val dels = got.collect { case (id, v, "delete") => (id, v) }
    val ins = got.collect { case (id, v, "insert") => (id, v) }
    val reconciled = (base -- dels) ++ ins
    val current = engine.scan(t).toDF().select(col("id").cast("long"), col("v"))
      .as[(Long, String)].collect().toSet
    assert(reconciled === current)
    // shared-chunk skip: planning the CDC parses EXACTLY the non-shared
    // chunks of the two snapshots, regardless of layout
    val fromM = t.metadata.snapshotById(s1).get.manifests.map(_.path).toSet
    val toM = t.metadata.currentSnapshot.get.manifests.map(_.path).toSet
    val nonShared = (fromM -- toM).size + (toM -- fromM).size
    ManifestCache.clear()
    val misses0 = ManifestCache.misses
    engine.readChanges(t, Some(s1)).queryExecution.executedPlan
    assert(ManifestCache.misses - misses0 === nonShared,
      s"CDC planning read ${ManifestCache.misses - misses0} chunks, expected $nonShared")
    // no range restriction: crossing the delete/update is the point
    assert(changes(None).nonEmpty)
    // SQL surface: lake.`t$changes_<fromId>` resolves the same CDC frame
    spark.conf.set("spark.graft.warehouse",
      java.nio.file.Paths.get(t.location).getParent.toString)
    val tableName = java.nio.file.Paths.get(t.location).getFileName.toString
    val viaSql = spark.sql(
      s"SELECT id, v, _change_type FROM lake.`$tableName$$changes_$s1`")
      .as[(Long, String, String)].collect().toSet
    assert(viaSql === got)
    // empty diff: from == to yields an empty typed frame
    val head = t.metadata.currentSnapshotId
    assert(engine.readChanges(t, head, head).isEmpty)
  }

  test("readChanges skips replace snapshots: no churn for compacted rows") {
    import spark.implicits._
    val t = mkTable()
    (0 until 4).foreach(i => engine.insert(t, rows(i * 5 until (i + 1) * 5)))
    val s1 = t.metadata.currentSnapshotId.get
    engine.insert(t, rows(20 until 25))
    // compaction rewrites every file (operation=replace, no logical change)
    graft.commands.Maintenance.compactSmallFiles(engine, t.refresh(), targetBytes = 1L << 30)
    assert(t.refresh().metadata.currentSnapshot.get.operation === "replace")
    // the adversarial shape: a row INSERTED in-range (20), carried
    // through the compaction, then DELETED in-range — order-free set
    // reconciliation would resurrect it; per-commit application must not
    engine.delete(t.refresh(), "id = 3 OR id = 20")

    val got = engine.readChanges(t.refresh(), Some(s1))
      .select(col("id").cast("long"), col("v"), col("_change_type"), col("_commit_snapshot_id"))
      .as[(Long, String, String, Long)].collect()
    val ins = got.collect { case (id, v, "insert", _) => (id, v) }.toSet
    val dels = got.collect { case (id, _, "delete", _) => id }.toSet
    // batch CDC must agree with the streaming feed: the append's rows as
    // inserts, the deleted rows as deletes — but NONE of the
    // compaction's rewrite churn
    assert(ins.contains((21L, "v21")) && ins.contains((24L, "v24")), ins.toString)
    assert(dels.contains(3L) && dels.contains(20L), dels.toString)
    assert(!got.exists { case (id, _, ct, _) => ct === "insert" && id < 20L && !dels.contains(id) },
      s"compaction churn leaked into inserts: ${got.toSeq}")
    // reconciliation applied PER COMMIT in ascending _commit_snapshot_id
    // (deletes before inserts within a commit — the documented contract;
    // a flat set-union would resurrect row 20)
    var state = (0L until 20L).map(i => (i, s"v$i")).toSet
    got.map(_._4).distinct.sorted.foreach { sid =>
      val d = got.collect { case (id, v, "delete", s) if s == sid => (id, v) }.toSet
      val i = got.collect { case (id, v, "insert", s) if s == sid => (id, v) }.toSet
      state = (state -- d) ++ i
    }
    val current = engine.scan(t.refresh()).toDF().select(col("id").cast("long"), col("v"))
      .as[(Long, String)].collect().toSet
    assert(state === current, s"per-commit reconciliation broke")
    assert(!state.exists(_._1 == 20L), "insert-then-delete row resurrected")
  }

  test("orphan cleanup deletes stranded files, keeps everything referenced") {
    val t = mkTable()
    engine.insert(t, rows(0 until 10))
    engine.insert(t, rows(10 until 20))
    // strand fakes: an unreferenced data file, manifest, and commit temp
    val strandedData = t.dataDir.resolve("stage-dead").resolve("part-dead.parquet")
    Files.createDirectories(strandedData.getParent)
    Files.writeString(strandedData, "not really parquet")
    val strandedManifest = Paths.get(t.location, "metadata", "manifest-99-deadbeef.json")
    Files.writeString(strandedManifest, "[]")
    val strandedTmp = Paths.get(t.location, "metadata", ".tmp-deadbeef.json")
    Files.writeString(strandedTmp, "{}")
    // age the fakes past the cutoff: with graceMs=0 a fake written in the
    // same clock tick as the cleanup would otherwise survive (flake)
    val past = java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() - 60000)
    Seq(strandedData, strandedManifest, strandedTmp)
      .foreach(p => Files.setLastModifiedTime(p, past))

    val deleted = Maintenance.removeOrphanFiles(t, graceMs = 0)
    assert(!Files.exists(strandedData) && !Files.exists(strandedManifest) &&
      !Files.exists(strandedTmp))
    // the fakes go, plus write-side artifacts (_SUCCESS, .crc) — but never
    // a referenced parquet data file
    assert(deleted.exists(_.endsWith("part-dead.parquet")))
    val liveData = t.currentFiles().map(_.path).toSet
    assert(deleted.forall(p => !liveData.contains(p)))
    // live table unaffected, history intact
    assert(engine.scan(t).toDF().count() === 20)
    t.metadata.snapshots.foreach(s => assert(t.manifest(s).nonEmpty))
  }

  test("query timeout cancels the running job group") {
    import org.apache.spark.sql.functions.udf
    // nondeterministic so the aggregate can't prune the sleeping column
    val slow = udf((x: Long) => { Thread.sleep(10000L); x }).asNondeterministic()
    val df = spark.range(32).select(slow(col("id")).as("id"))
    val t0 = System.nanoTime()
    intercept[Exception] {
      engine.withQueryTimeout(1500L) { df.agg(sum("id")).head() }
    }
    // generous cold-JVM bound: running to completion would take 80s+
    val elapsedMs = (System.nanoTime() - t0) / 1e6
    assert(elapsedMs < 15000, s"cancel took ${elapsedMs}ms — timeout did not fire")
    // the session is still usable afterwards
    assert(spark.range(5).count() === 5)
  }

  test("time-protected expiry keeps recent snapshots regardless of count") {
    val t = mkTable()
    engine.insert(t, rows(0 until 5))
    engine.insert(t, rows(5 until 10))
    engine.insert(t, rows(10 until 15))
    val before = t.metadata.snapshots.size
    // cutoff in the past: everything is "recent", nothing expires
    val deleted = Maintenance.expireSnapshots(t, keepLast = 1, olderThanMs = 1L)
    assert(deleted.isEmpty && t.metadata.snapshots.size === before)
    // cutoff in the future behaves like plain keepLast
    Maintenance.expireSnapshots(t, keepLast = 1, olderThanMs = Long.MaxValue)
    assert(t.refresh().metadata.snapshots.size === 1)
    assert(engine.scan(t).toDF().count() === 15)
  }

  test("expire deletes only manifests unreferenced by surviving snapshots") {
    val t = mkTable()
    engine.insert(t, rows(0 until 10))   // s1: [m1]
    engine.insert(t, rows(10 until 20))  // s2: [m1, m2]
    engine.insert(t, rows(20 until 30))  // s3: [m1, m2, m3]
    val all = t.metadata.snapshots.flatMap(_.manifests.map(_.path)).distinct
    Maintenance.expireSnapshots(t, keepLast = 1)
    val live = t.metadata.currentSnapshot.get.manifests.map(_.path)
    // every shared chunk survives (head still references m1..m3)
    all.foreach(p => assert(
      Files.exists(Paths.get(t.location, "metadata", p)) === live.contains(p),
      s"manifest $p liveness wrong"))
    assert(engine.scan(t).toDF().count() === 30)
  }
}
