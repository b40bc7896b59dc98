package graft

import graft.commands.LakeEngine
import graft.format._
import java.nio.file.Files
import org.apache.spark.sql.functions._

/** SURVEY §7.4 hard parts: float special values (the reference's arbiter
  * fixture — SwiftLakeEngineIntegrationTest.java:163-238 seeds exactly
  * {±1.1, 0, ±inf, nan}) and optimistic-commit behavior under
  * concurrent writers.
  */
class EdgeCasesSpec extends SparkSpec {
  import spark.implicits._

  private lazy val warehouse = Files.createTempDirectory("graft-edge-").toString
  private lazy val engine = new LakeEngine(spark, new LakeCatalog(warehouse))

  private def floatFixture(partitioned: Boolean) = {
    val rows = Seq(1.1f, -1.1f, 0.0f, Float.PositiveInfinity,
      Float.NegativeInfinity, Float.NaN)
      .zipWithIndex.map { case (f, i) => (i.toLong, f, f.toDouble) }
    val df = rows.toDF("id", "float_value", "double_value")
    val spec = if (partitioned)
      Seq(PartitionField("fv", "float_value", "identity"),
        PartitionField("dv", "double_value", "identity"))
    else Seq.empty
    val name = s"fl_${partitioned}_${java.util.UUID.randomUUID().toString.take(6)}"
    val t = engine.catalog.createTable(name, df.schema, partitionSpec = spec)
    engine.insert(t, df)
    t
  }

  for (partitioned <- Seq(false, true))
    test(s"float special values: NaN/±Inf predicates exact (partitioned=$partitioned)") {
      val t = floatFixture(partitioned)
      def q(filter: String): Set[Long] =
        engine.scan(t, filter).toDF().select("id").as[Long].collect().toSet
      assert(q("isnan(float_value)") === Set(5L))
      assert(q("NOT isnan(double_value)") === Set(0L, 1L, 2L, 3L, 4L))
      // Spark/Iceberg ordering: NaN is largest; Inf compares normally
      assert(q("float_value > 1000000.0") === Set(3L, 5L))
      assert(q("double_value < 0.0") === Set(1L, 4L))
      assert(q("float_value = 1.1") === Set(0L))
      assert(q("double_value >= 0.0") === Set(0L, 2L, 3L, 5L))
      // stats pruning must never wrongly drop files containing specials
      assert(engine.scan(t).toDF().count() === 6)
    }

  test("SQL DML: UPDATE/DELETE on lake tables; time-travel refs read-only") {
    val df = Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0)).toDF("id", "v", "x")
    val t = engine.catalog.createTable("sqldml_t", df.schema)
    engine.insert(t, df)
    t.createTag("v1", t.metadata.currentSnapshotId.get)
    spark.conf.set("spark.graft.warehouse", warehouse)

    val upd = spark.sql("UPDATE lake.sqldml_t SET v = 'Z' WHERE x > 15.0").collect()
    // copy-on-write: rewritten files carry their rows out and back in
    assert(upd.length === 1 &&
      upd(0).getAs[Long]("added_records") === upd(0).getAs[Long]("removed_records"))
    assert(upd(0).getAs[Long]("added_records") >= 2)
    val del = spark.sql("DELETE FROM lake.sqldml_t WHERE id = 1").collect()
    assert(del(0).getAs[Long]("removed_records") - del(0).getAs[Long]("added_records") === 1)
    assert(spark.sql("SELECT id, v FROM lake.sqldml_t ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq ===
      Seq((2L, "Z"), (3L, "Z")))
    // the tag still reads the pre-DML data (copy-on-write history intact)
    assert(spark.sql("SELECT count(*) FROM lake.`sqldml_t$tag_v1`")
      .head().getLong(0) === 3)
    // writes to time-travel refs are rejected
    val e = intercept[Exception] {
      spark.sql("DELETE FROM lake.`sqldml_t$tag_v1` WHERE id = 1")
    }
    assert(e.getMessage.contains("time-travel"), s"wrong error: ${e.getMessage}")

    // INSERT: positional VALUES, column-list form, and SELECT source
    spark.sql("INSERT INTO lake.sqldml_t VALUES (10, 'ten', 100.0)")
    spark.sql("INSERT INTO lake.sqldml_t (id, v) VALUES (11, 'eleven')")
    spark.sql("INSERT INTO lake.sqldml_t SELECT id + 100, v, x FROM lake.sqldml_t WHERE id = 10")
    val after = spark.sql("SELECT id, v, x FROM lake.sqldml_t ORDER BY id").collect()
      .map(r => (r.getLong(0), r.getString(1), Option(r.get(2)))).toSeq
    assert(after === Seq(
      (2L, "Z", Some(20.0)), (3L, "Z", Some(30.0)),
      (10L, "ten", Some(100.0)), (11L, "eleven", None),
      (110L, "ten", Some(100.0))))
    intercept[Exception] {
      spark.sql("INSERT INTO lake.sqldml_t VALUES (1, 'x')") // arity mismatch
    }
    // BY NAME keeps the query's own column names (out-of-order is fine)
    spark.sql("INSERT INTO lake.sqldml_t BY NAME SELECT 3.5 AS x, 12L AS id, 'twelve' AS v")
    assert(spark.sql("SELECT v, x FROM lake.sqldml_t WHERE id = 12").collect()
      .map(r => (r.getString(0), r.getDouble(1))).toSeq === Seq(("twelve", 3.5)))
  }

  test("SQL DDL: CREATE TABLE / CTAS with transforms / DROP TABLE") {
    spark.conf.set("spark.graft.warehouse", warehouse)
    spark.sql("""CREATE TABLE lake.ddl_t (id BIGINT, v STRING, ts TIMESTAMP_NTZ)
      PARTITIONED BY (bucket(4, id), years(ts)) TBLPROPERTIES ('purpose'='etl')""")
    val t = engine.catalog.loadTable("ddl_t")
    assert(t.schema.fieldNames.toSeq === Seq("id", "v", "ts"))
    assert(t.metadata.partitionSpec.map(p => (p.sourceColumn, p.transform)) ===
      Seq(("id", "bucket[4]"), ("ts", "years".replace("years", "year"))))
    assert(t.properties("purpose") === "etl")
    spark.sql("INSERT INTO lake.ddl_t VALUES (1, 'a', TIMESTAMP_NTZ'2024-06-01 00:00:00')")
    assert(spark.sql("SELECT * FROM lake.ddl_t").count() === 1)
    // duplicate create errors; IF NOT EXISTS no-ops
    intercept[Exception] { spark.sql("CREATE TABLE lake.ddl_t (x INT)") }
    spark.sql("CREATE TABLE IF NOT EXISTS lake.ddl_t (x INT)")
    assert(engine.catalog.loadTable("ddl_t").schema.fieldNames.length === 3)

    // CTAS partitioned by identity
    spark.sql("""CREATE TABLE lake.ddl_ctas PARTITIONED BY (v)
      AS SELECT id, v FROM lake.ddl_t""")
    assert(spark.sql("SELECT * FROM lake.ddl_ctas").count() === 1)
    assert(engine.catalog.loadTable("ddl_ctas").metadata.partitionSpec
      .map(_.transform) === Seq("identity"))

    spark.sql("DROP TABLE lake.ddl_ctas")
    assert(!engine.catalog.tableExists("ddl_ctas"))
    intercept[Exception] { spark.sql("DROP TABLE lake.ddl_ctas") }
    spark.sql("DROP TABLE IF EXISTS lake.ddl_ctas") // no-op
    spark.sql("DROP TABLE lake.ddl_t")
  }

  test("SQL ALTER TABLE: add/rename/drop/widen columns, properties") {
    spark.conf.set("spark.graft.warehouse", warehouse)
    spark.sql("CREATE TABLE lake.alter_t (id INT, v STRING)")
    spark.sql("INSERT INTO lake.alter_t VALUES (1, 'a')")
    spark.sql("ALTER TABLE lake.alter_t ADD COLUMNS (x DOUBLE, y STRING)")
    spark.sql("ALTER TABLE lake.alter_t RENAME COLUMN v TO label")
    spark.sql("ALTER TABLE lake.alter_t ALTER COLUMN id TYPE BIGINT")
    spark.sql("ALTER TABLE lake.alter_t DROP COLUMN y")
    spark.sql("INSERT INTO lake.alter_t VALUES (2, 'b', 0.5)")
    val got = spark.sql("SELECT id, label, x FROM lake.alter_t ORDER BY id").collect()
      .map(r => (r.getLong(0), r.getString(1), Option(r.get(2)))).toSeq
    // old file projects by field id: rename visible, added col NULL, id widened
    assert(got === Seq((1L, "a", None), (2L, "b", Some(0.5))))
    spark.sql("ALTER TABLE lake.alter_t SET TBLPROPERTIES ('purpose'='etl', 'team'='x')")
    val t = engine.catalog.loadTable("alter_t")
    assert(t.properties("purpose") === "etl" && t.properties("team") === "x")
    spark.sql("ALTER TABLE lake.alter_t UNSET TBLPROPERTIES ('team')")
    assert(!engine.catalog.loadTable("alter_t").properties.contains("team"))
    spark.sql("DROP TABLE lake.alter_t")
  }

  test("SQL ref DDL: CREATE/DROP BRANCH and TAG") {
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    val t = engine.catalog.createTable("refddl_t", df.schema)
    engine.insert(t, df)
    val snap1 = t.metadata.currentSnapshotId.get
    engine.insert(t, Seq((3L, "c")).toDF("id", "v"))
    spark.conf.set("spark.graft.warehouse", warehouse)

    spark.sql(s"ALTER TABLE lake.refddl_t CREATE TAG v1 AS OF VERSION $snap1")
    spark.sql("ALTER TABLE lake.refddl_t CREATE BRANCH dev")
    assert(spark.sql("SELECT count(*) FROM lake.`refddl_t$tag_v1`").head().getLong(0) === 2)
    assert(spark.sql("SELECT count(*) FROM lake.`refddl_t$branch_dev`").head().getLong(0) === 3)

    // kind mismatch and unknown snapshot are clear errors
    val e1 = intercept[Exception] {
      spark.sql("ALTER TABLE lake.refddl_t DROP BRANCH v1") }
    assert(e1.getMessage.contains("is a tag"), e1.getMessage)
    val e2 = intercept[Exception] {
      spark.sql("ALTER TABLE lake.refddl_t CREATE TAG bad AS OF VERSION 999") }
    assert(e2.getMessage.contains("no snapshot"), e2.getMessage)

    // branch APPEND via SQL (write-audit-publish): lands on dev only
    spark.sql("INSERT INTO lake.`refddl_t$branch_dev` VALUES (9, 'z')")
    assert(spark.sql("SELECT count(*) FROM lake.`refddl_t$branch_dev`").head().getLong(0) === 4)
    assert(spark.sql("SELECT count(*) FROM lake.refddl_t").head().getLong(0) === 3,
      "main must not see branch-only rows")
    // tags and non-INSERT kinds stay read-only
    val e4 = intercept[Exception] {
      spark.sql("DELETE FROM lake.`refddl_t$branch_dev` WHERE id = 9") }
    assert(e4.getMessage.contains("not allowed"), e4.getMessage)

    // publish (WAP step 3): fast-forward main to the audited branch head
    spark.sql("ALTER TABLE lake.refddl_t FAST FORWARD BRANCH dev")
    assert(spark.sql("SELECT count(*) FROM lake.refddl_t").head().getLong(0) === 4)
    // a diverged main no longer fast-forwards (history protection)
    engine.insert(t.refresh(), Seq((100L, "m")).toDF("id", "v"))
    spark.sql("INSERT INTO lake.`refddl_t$branch_dev` VALUES (101, 'd')")
    val e5 = intercept[Exception] {
      spark.sql("ALTER TABLE lake.refddl_t FAST FORWARD BRANCH dev") }
    assert(e5.getMessage.contains("does not descend"), e5.getMessage)

    // rollback: main returns to an earlier snapshot; later snapshots
    // stay in history, so rolling forward again also works
    val headBefore = t.refresh().metadata.currentSnapshotId.get
    spark.sql(s"ALTER TABLE lake.refddl_t ROLLBACK TO VERSION $snap1")
    assert(spark.sql("SELECT count(*) FROM lake.refddl_t").head().getLong(0) === 2)
    spark.sql(s"ALTER TABLE lake.refddl_t ROLLBACK TO VERSION $headBefore")
    assert(spark.sql("SELECT count(*) FROM lake.refddl_t").head().getLong(0) === 5)
    val e6 = intercept[Exception] {
      spark.sql("ALTER TABLE lake.refddl_t ROLLBACK TO VERSION 999") }
    assert(e6.getMessage.contains("no snapshot"), e6.getMessage)
    // a branch-only (diverged) snapshot is NOT on main's lineage: rollback
    // must refuse — publishing unaudited branch state is fast-forward's
    // ancestry-checked job, not rollback's
    val devHead = t.refresh().metadata.refs("dev").snapshotId
    val e7 = intercept[Exception] {
      spark.sql(s"ALTER TABLE lake.refddl_t ROLLBACK TO VERSION $devHead") }
    assert(e7.getMessage.contains("lineage"), e7.getMessage)

    spark.sql("ALTER TABLE lake.refddl_t DROP TAG v1")
    spark.sql("ALTER TABLE lake.refddl_t DROP BRANCH dev")
    assert(t.refresh().metadata.refs.isEmpty)
    // a dropped ref resolves to no snapshot -> empty relation (S5)
    assert(spark.sql("SELECT * FROM lake.`refddl_t$tag_v1`").count() === 0)
    spark.sql("DROP TABLE lake.refddl_t")
  }

  test("SQL catalog UX: SHOW TABLES, DESCRIBE, $partitions relation") {
    spark.conf.set("spark.graft.warehouse", warehouse)
    spark.sql("CREATE TABLE lake.ux_a (id BIGINT, v STRING, ts TIMESTAMP_NTZ) " +
      "PARTITIONED BY (years(ts)) TBLPROPERTIES ('team'='graft')")
    spark.sql("CREATE TABLE lake.ux_b (id BIGINT)")
    val shown = spark.sql("SHOW TABLES IN lake").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(shown.contains(("lake", "ux_a")) && shown.contains(("lake", "ux_b")))
    assert(spark.sql("SHOW TABLES IN lake LIKE 'ux_a'").count() === 1)
    assert(spark.sql("SHOW TABLES IN lake LIKE 'ux_*'").count() >= 2)
    assert(spark.sql("SHOW TABLES IN lake LIKE 'ux_a|ux_b'").count() === 2)
    // regex metacharacters are literal: 'ux.a' must NOT match 'ux_a',
    // and bracket/plus patterns must not throw PatternSyntaxException
    assert(spark.sql("SHOW TABLES IN lake LIKE 'ux.a'").count() === 0)
    assert(spark.sql("SHOW TABLES IN lake LIKE '[ux+'").count() === 0)

    val desc = spark.sql("DESCRIBE TABLE lake.ux_a").collect()
      .map(r => (r.getString(0), r.getString(1)))
    assert(desc.take(3).toSeq === Seq(("id", "bigint"), ("v", "string"), ("ts", "timestamp_ntz")))
    assert(desc.exists(_._1 == "# partition: ts_year"))
    assert(spark.sql("DESCRIBE TABLE EXTENDED lake.ux_a").collect()
      .exists(_.getString(0) == "# property: team"))

    spark.sql("INSERT INTO lake.ux_a VALUES (1, 'a', TIMESTAMP_NTZ'2023-01-02 00:00:00')")
    spark.sql("INSERT INTO lake.ux_a VALUES (2, 'b', TIMESTAMP_NTZ'2024-03-04 00:00:00'), " +
      "(3, 'c', TIMESTAMP_NTZ'2024-05-06 00:00:00')")
    val parts = spark.sql("SELECT * FROM lake.`ux_a$partitions` ORDER BY partition")
      .collect().map(r => (r.getString(1), r.getLong(2))).toSeq
    assert(parts === Seq(("ts_year=2023", 1L), ("ts_year=2024", 2L)))
    spark.sql("DROP TABLE lake.ux_a"); spark.sql("DROP TABLE lake.ux_b")
  }

  test("SQL maintenance: OPTIMIZE compacts, ZORDER clusters, VACUUM cleans") {
    spark.conf.set("spark.graft.warehouse", warehouse)
    val orders = Tables.orders(spark, sf)
    spark.sql("CREATE TABLE lake.maint_t (o_orderkey BIGINT, o_custkey BIGINT, o_totalprice DOUBLE)")
    val slim = orders.select("o_orderkey", "o_custkey", "o_totalprice")
    // fragment with several small commits
    (0 until 8).foreach(i => engine.insert(engine.catalog.loadTable("maint_t"),
      slim.filter(col("o_orderkey") % 8 === i)))
    val t = engine.catalog.loadTable("maint_t")
    val filesBefore = t.currentFiles().size
    assert(filesBefore >= 8)
    spark.sql("OPTIMIZE lake.maint_t").collect()
    assert(t.refresh().currentFiles().size < filesBefore, "compaction did not shrink files")
    assert(engine.scan(t).toDF().count() === slim.count())

    spark.sql("OPTIMIZE lake.maint_t ZORDER BY (o_orderkey, o_custkey)").collect()
    assert(engine.scan(t.refresh()).toDF().count() === slim.count())

    // stranded temp file: DRY RUN reports it but leaves it in place...
    val stranded = java.nio.file.Paths.get(t.location, "metadata", ".tmp-x.json")
    java.nio.file.Files.writeString(stranded, "{}")
    val dry = spark.sql("VACUUM lake.maint_t RETAIN 0 HOURS DRY RUN").head().getLong(0)
    assert(dry >= 1 && java.nio.file.Files.exists(stranded),
      "dry run must not delete anything")
    // ...and the real vacuum then removes it
    val n = spark.sql("VACUUM lake.maint_t RETAIN 0 HOURS").head().getLong(0)
    assert(n >= 1 && !java.nio.file.Files.exists(stranded))
    assert(engine.scan(t.refresh()).toDF().count() === slim.count())

    // SQL snapshot expiry: history trimmed to the kept tail
    val snapsBefore = t.refresh().metadata.snapshots.size
    assert(snapsBefore > 2)
    spark.sql("EXPIRE SNAPSHOTS lake.maint_t KEEP LAST 2").collect()
    assert(t.refresh().metadata.snapshots.size <= 2)
    assert(engine.scan(t).toDF().count() === slim.count())
    // OLDER THAN far in the past protects everything that remains
    spark.sql("EXPIRE SNAPSHOTS lake.maint_t KEEP LAST 1 OLDER THAN 9999 HOURS").collect()
    assert(t.refresh().metadata.snapshots.nonEmpty)
    spark.sql("DROP TABLE lake.maint_t")
  }

  test("SQL MERGE: first-match-wins, inserts, write amplification, cardinality") {
    val df = Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0), (4L, "d", 40.0))
      .toDF("id", "v", "x")
    val t = engine.catalog.createTable("merge_t", df.schema)
    engine.insert(t, df)
    spark.conf.set("spark.graft.warehouse", warehouse)
    Seq((2L, 200.0), (3L, 5.0), (9L, 900.0)).toDF("id", "nx")
      .createOrReplaceTempView("m_src")

    spark.sql("""
      MERGE INTO lake.merge_t t USING m_src s ON t.id = s.id
      WHEN MATCHED AND s.nx > 100 THEN UPDATE SET x = s.nx, v = 'upd'
      WHEN MATCHED THEN DELETE
      WHEN NOT MATCHED AND s.nx > 500 THEN INSERT (id, v, x) VALUES (s.id, 'new', s.nx)""")
    val got = spark.sql("SELECT id, v, x FROM lake.merge_t ORDER BY id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq
    // 1,4 untouched; 2 updated (first clause); 3 deleted (second); 9 inserted
    assert(got === Seq((1L, "a", 10.0), (2L, "upd", 200.0), (4L, "d", 40.0), (9L, "new", 900.0)))

    // WHEN NOT MATCHED BY SOURCE: rows absent from the source get their
    // own update/delete chain (state after previous merge: ids 1,2,4,9)
    Seq((2L, 0.0)).toDF("id", "nx").createOrReplaceTempView("m_src2")
    spark.sql("""
      MERGE INTO lake.merge_t t USING m_src2 s ON t.id = s.id
      WHEN NOT MATCHED BY SOURCE AND t.x < 30 THEN UPDATE SET v = 'stale'
      WHEN NOT MATCHED BY SOURCE THEN DELETE""")
    val got2 = spark.sql("SELECT id, v FROM lake.merge_t ORDER BY id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    // 2 matched (no matched clause -> kept); 1 (x=10<30) marked stale;
    // 4 (x=40) and 9 (x=900) deleted
    assert(got2 === Seq((1L, "stale"), (2L, "upd")))

    // duplicate source matches abort (ANSI cardinality rule)
    Seq((2L, 1.0), (2L, 2.0)).toDF("id", "nx").createOrReplaceTempView("m_dup")
    val e = intercept[Exception] {
      spark.sql("""
        MERGE INTO lake.merge_t t USING m_dup s ON t.id = s.id
        WHEN MATCHED THEN DELETE""")
    }
    assert(e.getMessage.contains("more than once"), s"wrong error: ${e.getMessage}")
  }

  test("SQL MERGE: NOT MATCHED insert combined with NOT MATCHED BY SOURCE") {
    val df = Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0))
      .toDF("id", "v", "x")
    val t = engine.catalog.createTable("merge_both", df.schema)
    engine.insert(t, df)
    spark.conf.set("spark.graft.warehouse", warehouse)
    // source: 1 matches, 7 is new, target rows 2 and 3 are absent from source
    Seq((1L, 100.0), (7L, 700.0)).toDF("id", "nx")
      .createOrReplaceTempView("mb_src")
    spark.sql("""
      MERGE INTO lake.merge_both t USING mb_src s ON t.id = s.id
      WHEN MATCHED THEN UPDATE SET x = s.nx
      WHEN NOT MATCHED THEN INSERT (id, v, x) VALUES (s.id, 'new', s.nx)
      WHEN NOT MATCHED BY SOURCE AND t.id = 2 THEN UPDATE SET v = 'stale'
      WHEN NOT MATCHED BY SOURCE THEN DELETE""")
    val got = spark.sql("SELECT id, v, x FROM lake.merge_both ORDER BY id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq
    // 1 updated; 2 marked stale (by-source update, exactly once, no phantom
    // NULL insert); 3 deleted; 7 inserted
    assert(got === Seq((1L, "a", 100.0), (2L, "stale", 20.0), (7L, "new", 700.0)))
    spark.sql("DROP TABLE lake.merge_both")
  }

  test("selective MERGE prunes target files via ON-key source collection") {
    import graft.metrics.{MetricCollector, MetricCollectors, ScanEvent}
    // four commits -> four files with disjoint id ranges (footer stats
    // give each file a tight [min,max] on id)
    val t = engine.catalog.createTable("merge_prune",
      Seq((1L, "x")).toDF("id", "v").schema)
    (0 until 4).foreach(b => engine.insert(t,
      ((b * 100 + 1) to (b * 100 + 100)).map(i => (i.toLong, s"v$i")).toDF("id", "v").coalesce(1)))
    assert(t.refresh().currentFiles().size === 4)
    spark.conf.set("spark.graft.warehouse", warehouse)

    val scans = scala.collection.mutable.ArrayBuffer.empty[ScanEvent]
    val rec = new MetricCollector {
      override def onScan(e: ScanEvent): Unit = scans.synchronized { scans += e }
    }
    MetricCollectors.register(rec)
    try {
      // keys hit only the second file (101..200): the merge must plan 1
      // file and skip 3 — a full-table read here is the 100 TB bug
      Seq((150L, "upd"), (160L, "upd")).toDF("id", "nv")
        .createOrReplaceTempView("mp_src")
      spark.sql("""
        MERGE INTO lake.merge_prune t USING mp_src s ON t.id = s.id
        WHEN MATCHED THEN UPDATE SET v = s.nv
        WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.id, s.nv)""")
      val ev = scans.synchronized(scans.filter(_.tableLocation == t.location).last)
      assert(ev.matchedFiles === 1, s"merge should plan only the key-bearing file: $ev")
      assert(ev.skippedFiles === 3, s"merge should skip the other files: $ev")
      // and the result is still a correct merge
      assert(spark.sql("SELECT v FROM lake.merge_prune WHERE id IN (150, 160)")
        .collect().map(_.getString(0)).toSeq === Seq("upd", "upd"))
      assert(spark.sql("SELECT count(*) FROM lake.merge_prune").head().getLong(0) === 400)

      // NOT MATCHED BY SOURCE consumes unmatched target rows -> pruning
      // must switch off (every file planned)
      val allFiles = t.refresh().currentFiles().size
      scans.synchronized(scans.clear())
      spark.sql("""
        MERGE INTO lake.merge_prune t USING mp_src s ON t.id = s.id
        WHEN MATCHED THEN UPDATE SET v = 'again'
        WHEN NOT MATCHED BY SOURCE AND t.id = -1 THEN DELETE""")
      val ev2 = scans.synchronized(scans.filter(_.tableLocation == t.location).last)
      assert(ev2.matchedFiles === allFiles, s"by-source merge must scan all files: $ev2")
    } finally MetricCollectors.unregister(rec)
    spark.sql("DROP TABLE lake.merge_prune")
  }

  test("key-scoped merge conflicts: disjoint-key merges land, overlapping conflict") {
    import graft.commands.Merge
    val t = engine.catalog.createTable("merge_conc",
      Seq((1L, "x")).toDF("id", "v").schema)
    (0 until 3).foreach(b => engine.insert(t,
      ((b * 100 + 1) to (b * 100 + 100)).map(i => (i.toLong, s"v$i")).toDF("id", "v").coalesce(1)))

    def mergeKeys(table: graft.format.LakeTable, keys: Seq[Long], tag: String) =
      Merge.merge(engine, table, keys.map(k => (k, tag)).toDF("id", "nv"),
        "t", Some("s"), "t.id = s.id",
        matched = Seq(Merge.WhenMatched(None, Some(Map("v" -> "s.nv")))),
        notMatched = Seq.empty)

    // both merges plan from the SAME snapshot (stale second handle): the
    // key-bound conflict scope must let the disjoint-key one commit
    val stale = graft.format.LakeTable.load(t.location)
    mergeKeys(t.refresh(), Seq(50L, 60L), "m1")     // keys in file 1
    mergeKeys(stale, Seq(250L, 260L), "m2")          // keys in file 3, stale base
    val got = engine.scan(t.refresh()).toDF().collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(50L) === "m1" && got(250L) === "m2", "both disjoint merges must land")

    // overlapping keys from a stale base must be detected as a conflict
    val stale2 = graft.format.LakeTable.load(t.location)
    mergeKeys(t.refresh(), Seq(150L), "m3")
    val e = intercept[Exception] { mergeKeys(stale2, Seq(150L), "m4") }
    assert(e.getMessage.toLowerCase.matches("(?s).*(conflict|concurrent|rewritten).*"),
      s"overlapping stale merge must conflict: ${e.getMessage}")
  }

  test("merge evaluates the source once; pruning engages for nondeterministic sources") {
    import graft.commands.Merge
    import graft.metrics.{MetricCollector, MetricCollectors, ScanEvent}
    val t = engine.catalog.createTable("merge_once",
      Seq((1L, "x")).toDF("id", "v").schema)
    (0 until 3).foreach(b => engine.insert(t,
      ((b * 100 + 1) to (b * 100 + 100)).map(i => (i.toLong, s"v$i")).toDF("id", "v").coalesce(1)))

    // the source rides a lazy localCheckpoint inside merge(): boundary-key
    // collection materializes it ONCE and the join reuses the blocks, so
    // the side-effecting column runs once per row — and, because both
    // consumers see the same materialized rows, pruning is sound even for
    // a nondeterministic source (the old determinism guard forced a full
    // scan here)
    val evals = spark.sparkContext.longAccumulator("merge-src-evals")
    val tagged = udf((k: Long) => { evals.add(1L); s"m$k" }).asNondeterministic()
    val source = Seq(50L, 60L).toDF("id").withColumn("nv", tagged(col("id")))

    val scans = scala.collection.mutable.ArrayBuffer.empty[ScanEvent]
    val rec = new MetricCollector {
      override def onScan(e: ScanEvent): Unit = scans.synchronized { scans += e }
    }
    MetricCollectors.register(rec)
    try {
      Merge.merge(engine, t.refresh(), source, "t", Some("s"), "t.id = s.id",
        matched = Seq(Merge.WhenMatched(None, Some(Map("v" -> "s.nv")))),
        notMatched = Seq.empty)
      assert(evals.value === 2L,
        s"source evaluated ${evals.value} row-times for 2 rows — expected exactly one pass")
      val ev = scans.synchronized(scans.filter(_.tableLocation == t.location).last)
      assert(ev.matchedFiles === 1 && ev.skippedFiles === 2,
        s"ON-key pruning should keep only the 1-100 file: $ev")
      val got = engine.scan(t.refresh()).toDF().collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(got(50L) === "m50" && got(60L) === "m60" && got(70L) === "v70")
    } finally MetricCollectors.unregister(rec)
  }

  test("merge pruning stays sound for null-safe ON keys") {
    import graft.commands.Merge
    import graft.metrics.{MetricCollector, MetricCollectors, ScanEvent}
    // three files: null-key rows, k=5, k=7
    val t = engine.catalog.createTable("merge_nullsafe",
      Seq((Option.empty[Long], "x")).toDF("k", "v").schema)
    engine.insert(t, Seq((Option.empty[Long], "n1"), (Option.empty[Long], "n2"))
      .toDF("k", "v").coalesce(1))
    engine.insert(t, Seq((Some(5L), "five")).toDF("k", "v").coalesce(1))
    engine.insert(t, Seq((Some(7L), "seven")).toDF("k", "v").coalesce(1))

    val scans = scala.collection.mutable.ArrayBuffer.empty[ScanEvent]
    val rec = new MetricCollector {
      override def onScan(e: ScanEvent): Unit = scans.synchronized { scans += e }
    }
    MetricCollectors.register(rec)
    try {
      // source has a NULL key and k=5: under <=> the null-key target rows
      // MATCH — pruning must keep the null file (IsNull disjunct) and may
      // skip only the k=7 file
      val source = Seq((Option.empty[Long], "N"), (Some(5L), "F")).toDF("k", "nv")
      Merge.merge(engine, t.refresh(), source, "t", Some("s"),
        "t.k <=> s.k",
        matched = Seq(Merge.WhenMatched(None, Some(Map("v" -> "s.nv")))),
        notMatched = Seq.empty)
      val ev = scans.synchronized(scans.filter(_.tableLocation == t.location).last)
      assert(ev.matchedFiles === 2 && ev.skippedFiles === 1,
        s"null-safe merge should keep null + k=5 files, skip k=7: $ev")
      val got = engine.scan(t.refresh()).toDF().collect()
        .map(r => (if (r.isNullAt(0)) -1L else r.getLong(0)) -> r.getString(1)).toSeq
      assert(got.count(_ == (-1L, "N")) === 2, s"null-key rows not updated: ${got.toSeq}")
      assert(got.contains((5L, "F")) && got.contains((7L, "seven")), got.toSeq.toString)
    } finally MetricCollectors.unregister(rec)
  }

  test("concurrent appends: optimistic retry lands both commits") {
    val orders = Tables.orders(spark, sf)
    val t = engine.catalog.createTable("conc", orders.schema)
    val halves = Seq(
      orders.filter(col("o_orderkey") % 2 === 0),
      orders.filter(col("o_orderkey") % 2 === 1))
    // pre-write both file sets, then race the two commits
    val files = halves.map(h => graft.write.LakeWriter.write(spark, t, h))
    val threads = files.map { fs =>
      new Thread(() => { t.appendFiles(fs); () })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    assert(t.refresh().metadata.snapshots.size === 2)
    assert(engine.scan(t).toDF().count() === orders.count())
  }

  test("commit is atomic: version files are dense and parseable after races") {
    val t = engine.catalog.loadTable("conc")
    val v = LakeTable.currentVersion(t.location)
    (1 to v).foreach { i =>
      val p = java.nio.file.Paths.get(t.location, "metadata", s"v$i.json")
      assert(Files.exists(p), s"missing v$i.json")
      Json.read(Files.readString(p), classOf[TableMetadata]) // parses
    }
  }
}
