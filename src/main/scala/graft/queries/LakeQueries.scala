package graft.queries

import graft.{Q, Tables}
import graft.commands.{LakeEngine, Merge}
import graft.format._
import graft.scan.TableScan
import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Lake-layer DML queries for the driver's oracle gate: each one creates a
  * throwaway snapshot-log table under java.io.tmpdir, runs real engine DML
  * (insert / overwrite / update / delete / SCD merges / time travel /
  * schema evolution), reads the committed end-state back through the
  * pruning scan, and the DuckDB oracle recomputes that end-state in pure
  * SQL over the original parquet tables (SURVEY §2.6 D1–D8, §2.1 S1–S8).
  */
object LakeQueries {

  private def freshEngine(s: SparkSession, prefix: String): (LakeEngine, String) = {
    val wh = Files.createTempDirectory(s"graft-$prefix-").toString
    (new LakeEngine(s, new LakeCatalog(wh)), wh)
  }

  private val ts0 = java.time.LocalDateTime.parse("2024-01-01T00:00:00")
  private val ts1 = java.time.LocalDateTime.parse("2024-02-01T00:00:00")

  val all: Seq[Q] = Seq(
    // ------------------------------------------------------------------
    Q("lake_roundtrip_pruned_read",
      (s, d) => {
        val (e, _) = freshEngine(s, "rt")
        val orders = Tables.orders(s, d)
        val t = e.catalog.createTable("orders", orders.schema,
          partitionSpec = Seq(PartitionField("o_year", "o_orderdate", "year")),
          sortOrder = Seq(SortField("o_orderkey")))
        e.insert(t, orders)
        e.scan(t,
          "o_orderdate >= TIMESTAMP_NTZ'1996-01-01 00:00:00' AND o_orderdate < TIMESTAMP_NTZ'1997-01-01 00:00:00'")
          .toDF().orderBy("o_orderkey")
      },
      oracle = Some("""
        SELECT * FROM orders
        WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
        ORDER BY o_orderkey"""),
      doc = "D1 insert + S1 pruned scan round-trip (partition+stats pruning)"),

    // ------------------------------------------------------------------
    Q("lake_update",
      (s, d) => {
        val (e, _) = freshEngine(s, "upd")
        val orders = Tables.orders(s, d)
        val t = e.catalog.createTable("orders", orders.schema,
          partitionSpec = Seq(PartitionField("o_year", "o_orderdate", "year")))
        e.insert(t, orders)
        e.update(t, "o_totalprice > 400000", Map("o_orderpriority" -> "'0-REWRITTEN'"))
        e.scan(t).toDF().orderBy("o_orderkey")
      },
      oracle = Some("""
        SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate,
          CASE WHEN o_totalprice > 400000 THEN '0-REWRITTEN' ELSE o_orderpriority END AS o_orderpriority
        FROM orders ORDER BY o_orderkey"""),
      doc = "D3 UPDATE with touched-file minimization"),

    // ------------------------------------------------------------------
    Q("lake_delete",
      (s, d) => {
        val (e, _) = freshEngine(s, "del")
        val orders = Tables.orders(s, d)
        val t = e.catalog.createTable("orders", orders.schema,
          partitionSpec = Seq(PartitionField("o_year", "o_orderdate", "year")))
        e.insert(t, orders)
        e.delete(t, "o_orderstatus = 'P' AND o_totalprice < 50000")
        e.scan(t).toDF().orderBy("o_orderkey")
      },
      oracle = Some("""
        SELECT * FROM orders
        WHERE NOT (o_orderstatus = 'P' AND o_totalprice < 50000)
        ORDER BY o_orderkey"""),
      doc = "D4 DELETE with touched-file minimization"),

    // ------------------------------------------------------------------
    Q("lake_overwrite_partition",
      (s, d) => {
        val (e, _) = freshEngine(s, "ovw")
        val orders = Tables.orders(s, d)
        val t = e.catalog.createTable("orders", orders.schema,
          partitionSpec = Seq(PartitionField("o_status", "o_orderstatus", "identity")))
        e.insert(t, orders)
        val replacement = orders.filter(col("o_orderstatus") === "P")
          .withColumn("o_totalprice", col("o_totalprice") * 0.5)
        e.insertOverwriteByColumns(t, replacement, Seq("o_orderstatus"))
        e.scan(t).toDF().orderBy("o_orderkey")
      },
      oracle = Some("""
        SELECT o_orderkey, o_custkey, o_orderstatus,
          CASE WHEN o_orderstatus = 'P' THEN o_totalprice * 0.5 ELSE o_totalprice END AS o_totalprice,
          o_orderdate, o_orderpriority
        FROM orders ORDER BY o_orderkey"""),
      doc = "D2 INSERT OVERWRITE by derived partition filter (A5)"),

    // ------------------------------------------------------------------
    Q("lake_scd1_snapshot",
      (s, d) => {
        val (e, _) = freshEngine(s, "scd1s")
        val customer = Tables.customer(s, d)
        val t = e.catalog.createTable("customer", customer.schema,
          partitionSpec = Seq(PartitionField("c_seg", "c_mktsegment", "identity")))
        e.insert(t, customer)
        val building = customer.filter(col("c_mktsegment") === "BUILDING")
        val source = building.filter(col("c_custkey") % 10 =!= 0)
          .withColumn("c_acctbal", col("c_acctbal") + 100.0)
          .unionByName(building.filter(col("c_custkey") % 7 === 0)
            .select((col("c_custkey") + 100000).as("c_custkey"),
              concat(lit("new_"), col("c_custkey").cast("string")).as("c_name"),
              col("c_nationkey"), lit(1000.0).as("c_acctbal"), col("c_mktsegment")))
        Merge.scd1(e, t, source, Merge.Scd1Options(
          keyCols = Seq("c_custkey"), tableFilterSql = "c_mktsegment = 'BUILDING'"))
        e.scan(t).toDF().orderBy("c_custkey")
      },
      oracle = Some("""
        SELECT * FROM customer WHERE c_mktsegment <> 'BUILDING'
        UNION ALL
        SELECT c_custkey, c_name, c_nationkey, c_acctbal + 100.0, c_mktsegment
        FROM customer WHERE c_mktsegment = 'BUILDING' AND c_custkey % 10 <> 0
        UNION ALL
        SELECT c_custkey + 100000, 'new_' || CAST(c_custkey AS VARCHAR), c_nationkey, 1000.0, c_mktsegment
        FROM customer WHERE c_mktsegment = 'BUILDING' AND c_custkey % 7 = 0
        ORDER BY c_custkey"""),
      doc = "D5 SCD1 snapshot merge: I/U/D/N + boundary filter + out-of-boundary preservation"),

    // ------------------------------------------------------------------
    Q("lake_scd1_changes",
      (s, d) => {
        val (e, _) = freshEngine(s, "scd1c")
        val customer = Tables.customer(s, d)
        val t = e.catalog.createTable("customer", customer.schema)
        e.insert(t, customer)
        val updates = customer.filter(col("c_custkey") % 5 === 1)
          .withColumn("c_acctbal", lit(0.0)).withColumn("op", lit("U"))
        val deletes = customer.filter(col("c_custkey") % 5 === 2)
          .withColumn("op", lit("D"))
        val inserts = customer.filter(col("c_custkey") % 5 === 3)
          .select((col("c_custkey") + 200000).as("c_custkey"), col("c_name"),
            col("c_nationkey"), col("c_acctbal"), col("c_mktsegment"))
          .withColumn("op", lit("I"))
        val changes = updates.unionByName(deletes).unionByName(inserts)
        Merge.scd1(e, t, changes, Merge.Scd1Options(
          keyCols = Seq("c_custkey"), operationTypeColumn = Some("op"),
          deleteOperationValue = "D"))
        e.scan(t).toDF().orderBy("c_custkey")
      },
      oracle = Some("""
        SELECT c_custkey, c_name, c_nationkey,
          CASE WHEN c_custkey % 5 = 1 THEN 0.0 ELSE c_acctbal END AS c_acctbal, c_mktsegment
        FROM customer WHERE c_custkey % 5 <> 2
        UNION ALL
        SELECT c_custkey + 200000, c_name, c_nationkey, c_acctbal, c_mktsegment
        FROM customer WHERE c_custkey % 5 = 3
        ORDER BY c_custkey"""),
      doc = "D6 SCD1 changes merge with operation-type column"),

    // ------------------------------------------------------------------
    Q("lake_scd2_snapshot",
      (s, d) => {
        val (e, _) = freshEngine(s, "scd2s")
        val customer = Tables.customer(s, d)
        val schema = StructType(customer.schema.fields ++ Seq(
          StructField("effective_start", TimestampNTZType),
          StructField("effective_end", TimestampNTZType),
          StructField("is_current", BooleanType)))
        val t = e.catalog.createTable("customer_dim", schema,
          partitionSpec = Seq(
            PartitionField("cur", "is_current", "identity"),
            PartitionField("end_b", "effective_end", "bucket[1]")))
        e.insert(t, customer
          .withColumn("effective_start", lit(ts0).cast(TimestampNTZType))
          .withColumn("effective_end", lit(null).cast(TimestampNTZType))
          .withColumn("is_current", lit(true)))
        val source = customer.filter(col("c_custkey") % 25 =!= 0)
          .withColumn("c_acctbal",
            when(col("c_custkey") % 4 === 0, col("c_acctbal") + 50.0).otherwise(col("c_acctbal")))
          .unionByName(customer.filter(col("c_custkey") % 30 === 0)
            .select((col("c_custkey") + 300000).as("c_custkey"), col("c_name"),
              col("c_nationkey"), col("c_acctbal"), col("c_mktsegment")))
        Merge.scd2(e, t, source, Merge.Scd2Options(
          keyCols = Seq("c_custkey"), effectiveTimestamp = ts1,
          currentFlagCol = Some("is_current")))
        e.scan(t).toDF().orderBy("c_custkey", "effective_start")
      },
      oracle = Some("""
        WITH base AS (SELECT * FROM customer)
        -- unchanged current rows
        SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment,
          TIMESTAMP '2024-01-01' AS effective_start, CAST(NULL AS TIMESTAMP) AS effective_end,
          TRUE AS is_current
        FROM base WHERE c_custkey % 25 <> 0 AND c_custkey % 4 <> 0
        UNION ALL
        -- closed versions of changed rows
        SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment,
          TIMESTAMP '2024-01-01', TIMESTAMP '2024-02-01', FALSE
        FROM base WHERE c_custkey % 25 <> 0 AND c_custkey % 4 = 0
        UNION ALL
        -- new versions of changed rows
        SELECT c_custkey, c_name, c_nationkey, c_acctbal + 50.0, c_mktsegment,
          TIMESTAMP '2024-02-01', NULL, TRUE
        FROM base WHERE c_custkey % 25 <> 0 AND c_custkey % 4 = 0
        UNION ALL
        -- closed versions of deleted rows
        SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment,
          TIMESTAMP '2024-01-01', TIMESTAMP '2024-02-01', FALSE
        FROM base WHERE c_custkey % 25 = 0
        UNION ALL
        -- brand-new keys
        SELECT c_custkey + 300000, c_name, c_nationkey, c_acctbal, c_mktsegment,
          TIMESTAMP '2024-02-01', NULL, TRUE
        FROM base WHERE c_custkey % 30 = 0
        ORDER BY c_custkey, effective_start"""),
      doc = "D7 SCD2 snapshot merge: close U/D + insert versions; SCD2 partition rules (currentFlag identity, effectiveEnd bucket[1])"),

    // ------------------------------------------------------------------
    Q("lake_scd2_changes",
      (s, d) => {
        val (e, _) = freshEngine(s, "scd2c")
        val customer = Tables.customer(s, d)
        val schema = StructType(customer.schema.fields ++ Seq(
          StructField("effective_start", TimestampNTZType),
          StructField("effective_end", TimestampNTZType),
          StructField("is_current", BooleanType)))
        val t = e.catalog.createTable("customer_dim", schema)
        e.insert(t, customer
          .withColumn("effective_start", lit(ts0).cast(TimestampNTZType))
          .withColumn("effective_end", lit(null).cast(TimestampNTZType))
          .withColumn("is_current", lit(true)))
        // change rows: update every 6th, delete every 9th (non-overlapping
        // with %6==0), insert fresh keys
        val updates = customer.filter(col("c_custkey") % 6 === 0)
          .withColumn("c_acctbal", col("c_acctbal") + 17.5).withColumn("op", lit("U"))
        val deletes = customer.filter(col("c_custkey") % 9 === 0 && col("c_custkey") % 6 =!= 0)
          .withColumn("op", lit("D"))
        val inserts = customer.filter(col("c_custkey") % 11 === 0)
          .select((col("c_custkey") + 500000).as("c_custkey"), col("c_name"),
            col("c_nationkey"), col("c_acctbal"), col("c_mktsegment"))
          .withColumn("op", lit("I"))
        Merge.scd2(e, t, updates.unionByName(deletes).unionByName(inserts),
          Merge.Scd2Options(
            keyCols = Seq("c_custkey"), effectiveTimestamp = ts1,
            currentFlagCol = Some("is_current"),
            operationTypeColumn = Some("op"), deleteOperationValue = "D"))
        e.scan(t).toDF().orderBy("c_custkey", "effective_start")
      },
      oracle = Some("""
        WITH base AS (SELECT * FROM customer)
        -- untouched current rows
        SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment,
          TIMESTAMP '2024-01-01' AS effective_start, CAST(NULL AS TIMESTAMP) AS effective_end,
          TRUE AS is_current
        FROM base WHERE c_custkey % 6 <> 0 AND NOT (c_custkey % 9 = 0 AND c_custkey % 6 <> 0)
        UNION ALL
        -- closed versions of updated rows
        SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment,
          TIMESTAMP '2024-01-01', TIMESTAMP '2024-02-01', FALSE
        FROM base WHERE c_custkey % 6 = 0
        UNION ALL
        -- new versions of updated rows
        SELECT c_custkey, c_name, c_nationkey, c_acctbal + 17.5, c_mktsegment,
          TIMESTAMP '2024-02-01', NULL, TRUE
        FROM base WHERE c_custkey % 6 = 0
        UNION ALL
        -- closed versions of deleted rows
        SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment,
          TIMESTAMP '2024-01-01', TIMESTAMP '2024-02-01', FALSE
        FROM base WHERE c_custkey % 9 = 0 AND c_custkey % 6 <> 0
        UNION ALL
        -- inserted keys
        SELECT c_custkey + 500000, c_name, c_nationkey, c_acctbal, c_mktsegment,
          TIMESTAMP '2024-02-01', NULL, TRUE
        FROM base WHERE c_custkey % 11 = 0
        ORDER BY c_custkey, effective_start"""),
      doc = "D8 SCD2 changes merge with operation-type column"),

    // ------------------------------------------------------------------
    Q("lake_time_travel",
      (s, d) => {
        val (e, _) = freshEngine(s, "tt")
        val orders = Tables.orders(s, d)
        val t = e.catalog.createTable("orders", orders.schema)
        e.insert(t, orders.filter(year(col("o_orderdate")) < 1998))
        val snap1 = t.metadata.currentSnapshotId.get
        t.createTag("v1", snap1)
        e.insert(t, orders.filter(year(col("o_orderdate")) >= 1998))
        new TableScan(s, t, ref = TableRef.Tag("v1")).toDF().orderBy("o_orderkey")
      },
      oracle = Some("""
        SELECT * FROM orders WHERE year(o_orderdate) < 1998 ORDER BY o_orderkey"""),
      doc = "S2 time travel: tag/snapshot reads"),

    // ------------------------------------------------------------------
    Q("lake_incremental_read",
      (s, d) => {
        val (e, _) = freshEngine(s, "incr")
        val orders = Tables.orders(s, d)
        val t = e.catalog.createTable("orders", orders.schema)
        e.insert(t, orders.filter(year(col("o_orderdate")) < 1996))
        val snap1 = t.metadata.currentSnapshotId.get
        e.insert(t, orders.filter(year(col("o_orderdate")) === 1996))
        e.insert(t, orders.filter(year(col("o_orderdate")) > 1996))
        // rows committed after snap1, across two append snapshots
        e.readIncremental(t, Some(snap1)).orderBy("o_orderkey")
      },
      oracle = Some("""
        SELECT * FROM orders WHERE year(o_orderdate) >= 1996 ORDER BY o_orderkey"""),
      doc = "incremental append read between snapshots (CDC consumption)"),

    // ------------------------------------------------------------------
    Q("lake_spec_evolution",
      (s, d) => {
        val (e, _) = freshEngine(s, "spev")
        val orders = Tables.orders(s, d)
        val t = e.catalog.createTable("orders", orders.schema,
          partitionSpec = Seq(PartitionField("o_year", "o_orderdate", "year")))
        e.insert(t, orders.filter(year(col("o_orderdate")) < 1997))
        // evolve the layout: later writes partition by status, earlier
        // files keep the year layout and still prune through it
        t.updatePartitionSpec(Seq(PartitionField("o_stat", "o_orderstatus", "identity")))
        e.insert(t, orders.filter(year(col("o_orderdate")) >= 1997))
        e.scan(t,
          "o_orderdate >= TIMESTAMP_NTZ'1996-01-01 00:00:00' AND o_orderstatus = 'O'")
          .toDF().orderBy("o_orderkey")
      },
      oracle = Some("""
        SELECT * FROM orders
        WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderstatus = 'O'
        ORDER BY o_orderkey"""),
      doc = "partition spec evolution: coexisting specs, per-file pruning under each"),

    // ------------------------------------------------------------------
    Q("lake_schema_evolution",
      (s, d) => {
        val (e, _) = freshEngine(s, "evo")
        val orders = Tables.orders(s, d)
        val t = e.catalog.createTable("orders_lite", StructType(Seq(
          StructField("o_orderkey", LongType), StructField("o_totalprice", DoubleType),
          StructField("attrs", MapType(StringType, StructType(Seq(
            StructField("qty", IntegerType), StructField("tag", StringType))))))))
        def attrsV1 = map(lit("p"), struct(
          col("o_custkey").cast("int").as("qty"), col("o_orderpriority").as("tag")))
        e.insert(t, orders.filter(year(col("o_orderdate")) < 1998)
          .select(col("o_orderkey"), col("o_totalprice"), attrsV1.as("attrs")))
        t.renameColumn("o_totalprice", "price_usd")
        t.addColumn("note", StringType)
        // evolve INSIDE the map value struct: rename tag -> label and add
        // score in the MIDDLE, so a positional (non-field-id) read would
        // mis-assign or fail — the oracle hash proves id resolution
        t.evolveSchema { sch =>
          val mIdx = sch.fieldIndex("attrs")
          val mField = sch.fields(mIdx)
          val mt = mField.dataType.asInstanceOf[MapType]
          val vt = mt.valueType.asInstanceOf[StructType]
          val nextId = t.metadata.lastAssignedFieldId + 1
          val evolved = StructType(Seq(
            vt.fields(0),
            FieldIds.withId(StructField("score", DoubleType), nextId),
            vt.fields(1).copy(name = "label")))
          (StructType(sch.fields.updated(mIdx,
            mField.copy(dataType = mt.copy(valueType = evolved)))), nextId)
        }
        e.insert(t, orders.filter(year(col("o_orderdate")) >= 1998)
          .select(col("o_orderkey"), col("o_totalprice").as("price_usd"),
            map(lit("p"), struct(
              col("o_custkey").cast("int").as("qty"),
              col("o_totalprice").as("score"),
              col("o_orderpriority").as("label"))).as("attrs"),
            lit("v2").as("note")))
        e.scan(t).toDF()
          .select(col("o_orderkey"), col("price_usd"), col("note"),
            col("attrs")("p")("qty").as("attr_qty"),
            col("attrs")("p")("score").as("attr_score"),
            col("attrs")("p")("label").as("attr_label"))
          .orderBy("o_orderkey")
      },
      oracle = Some("""
        SELECT o_orderkey, o_totalprice AS price_usd, CAST(NULL AS VARCHAR) AS note,
          CAST(o_custkey AS INTEGER) AS attr_qty, CAST(NULL AS DOUBLE) AS attr_score,
          o_orderpriority AS attr_label
        FROM orders WHERE year(o_orderdate) < 1998
        UNION ALL
        SELECT o_orderkey, o_totalprice, 'v2', CAST(o_custkey AS INTEGER),
          o_totalprice, o_orderpriority
        FROM orders WHERE year(o_orderdate) >= 1998
        ORDER BY o_orderkey"""),
      doc = "S4 schema evolution: rename+add resolved by field id, incl. inside map value structs"),

    // ------------------------------------------------------------------
    Q("lake_scd2_evolution",
      (s, d) => {
        // SURVEY §7.4 hard-part 4 end-to-end: an SCD2 merge against a
        // table whose data files PREDATE a schema evolution — the diff
        // join must read old files through the field-id projection
        // (rename resolved, added column NULL-filled) and compare the
        // NULL-filled column null-safely, or unchanged rows churn.
        // Reference anchor: sql/SchemaEvolution.java:328-404.
        val (e, _) = freshEngine(s, "scd2evo")
        val customer = Tables.customer(s, d)
        val schema = StructType(customer.schema.fields ++ Seq(
          StructField("effective_start", TimestampNTZType),
          StructField("effective_end", TimestampNTZType),
          StructField("is_current", BooleanType)))
        val t = e.catalog.createTable("customer_dim_evo", schema)
        e.insert(t, customer
          .withColumn("effective_start", lit(ts0).cast(TimestampNTZType))
          .withColumn("effective_end", lit(null).cast(TimestampNTZType))
          .withColumn("is_current", lit(true)))
        // evolve AFTER the insert: every data file is old-schema
        t.renameColumn("c_acctbal", "balance")
        t.addColumn("c_phone", StringType)
        // new-schema snapshot source: %25==0 keys absent (-> closed),
        // %4==0 balance bumped, %10==0 phone set (vs NULL-fill in old
        // files), the rest UNCHANGED (old version must stay open), plus
        // brand-new keys carrying phones
        val src = customer.filter(col("c_custkey") % 25 =!= 0)
          .withColumn("c_acctbal", when(col("c_custkey") % 4 === 0,
            col("c_acctbal") + 50.0).otherwise(col("c_acctbal")))
          .withColumnRenamed("c_acctbal", "balance")
          .withColumn("c_phone", when(col("c_custkey") % 10 === 0,
            concat(lit("PH-"), col("c_custkey").cast("string"))))
          .unionByName(customer.filter(col("c_custkey") % 30 === 0)
            .select((col("c_custkey") + 300000).as("c_custkey"), col("c_name"),
              col("c_nationkey"), col("c_acctbal").as("balance"), col("c_mktsegment"),
              concat(lit("PH-"), (col("c_custkey") + 300000).cast("string")).as("c_phone")))
        Merge.scd2(e, t, src, Merge.Scd2Options(
          keyCols = Seq("c_custkey"), effectiveTimestamp = ts1,
          currentFlagCol = Some("is_current")))
        e.scan(t).toDF().orderBy("c_custkey", "effective_start")
      },
      oracle = Some("""
        WITH base AS (SELECT * FROM customer)
        -- unchanged rows: old version stays open, phone still NULL
        SELECT c_custkey, c_name, c_nationkey, c_acctbal AS balance, c_mktsegment,
          TIMESTAMP '2024-01-01' AS effective_start, CAST(NULL AS TIMESTAMP) AS effective_end,
          TRUE AS is_current, CAST(NULL AS VARCHAR) AS c_phone
        FROM base WHERE c_custkey % 25 <> 0 AND c_custkey % 4 <> 0 AND c_custkey % 10 <> 0
        UNION ALL
        -- closed versions of changed rows (balance bump or phone arrival)
        SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment,
          TIMESTAMP '2024-01-01', TIMESTAMP '2024-02-01', FALSE, NULL
        FROM base WHERE c_custkey % 25 <> 0 AND (c_custkey % 4 = 0 OR c_custkey % 10 = 0)
        UNION ALL
        -- new versions of changed rows
        SELECT c_custkey, c_name, c_nationkey,
          CASE WHEN c_custkey % 4 = 0 THEN c_acctbal + 50.0 ELSE c_acctbal END, c_mktsegment,
          TIMESTAMP '2024-02-01', NULL, TRUE,
          CASE WHEN c_custkey % 10 = 0 THEN 'PH-' || CAST(c_custkey AS VARCHAR) ELSE NULL END
        FROM base WHERE c_custkey % 25 <> 0 AND (c_custkey % 4 = 0 OR c_custkey % 10 = 0)
        UNION ALL
        -- closed versions of keys absent from the snapshot
        SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment,
          TIMESTAMP '2024-01-01', TIMESTAMP '2024-02-01', FALSE, NULL
        FROM base WHERE c_custkey % 25 = 0
        UNION ALL
        -- brand-new keys
        SELECT c_custkey + 300000, c_name, c_nationkey, c_acctbal, c_mktsegment,
          TIMESTAMP '2024-02-01', NULL, TRUE, 'PH-' || CAST(c_custkey + 300000 AS VARCHAR)
        FROM base WHERE c_custkey % 30 = 0
        ORDER BY c_custkey, effective_start"""),
      doc = "D7+S4: SCD2 snapshot merge over pre-evolution data files (rename + NULL-filled add read through the field-id projection, null-safe change diff)"),

    // ------------------------------------------------------------------
    Q("lake_update_evolution",
      (s, d) => {
        // round-18 (round-17 verdict #4): UPDATE against a table whose
        // data files PREDATE a schema evolution. The rewrite must read
        // old files through the field-id projection (rename resolved,
        // added column NULL-filled), evaluate the predicate over the
        // NULL-filled column with sound 3VL, and PASS THROUGH untouched
        // rows of touched files without inventing values. Reference
        // anchor: sql/SchemaEvolution.java:328-404.
        val (e, _) = freshEngine(s, "updevo")
        val orders = Tables.orders(s, d)
        val t = e.catalog.createTable("orders_updevo", orders.schema)
        e.insert(t, orders) // every data file is old-schema
        t.renameColumn("o_totalprice", "price_usd")
        t.addColumn("channel", StringType)
        // the `channel = 'never'` disjunct is NULL for every pre-evolution
        // row: (pred OR NULL) must update only where pred is TRUE
        e.update(t,
          "(o_orderkey % 7 = 0 AND price_usd < 150000) OR channel = 'never'",
          Map("price_usd" -> "price_usd + 100", "channel" -> "'adj'"))
        e.scan(t).toDF()
          .select(col("o_orderkey"), col("price_usd"), col("channel"),
            col("o_orderstatus"))
          .orderBy("o_orderkey")
      },
      oracle = Some("""
        SELECT o_orderkey,
          CASE WHEN o_orderkey % 7 = 0 AND o_totalprice < 150000
               THEN o_totalprice + 100 ELSE o_totalprice END AS price_usd,
          CASE WHEN o_orderkey % 7 = 0 AND o_totalprice < 150000
               THEN 'adj' ELSE NULL END AS channel,
          o_orderstatus
        FROM orders ORDER BY o_orderkey"""),
      doc = "D3+S4: UPDATE over pre-evolution data files (field-id projection on the rewrite, 3VL over the NULL-filled added column, passthrough rows preserved)"),

    // ------------------------------------------------------------------
    Q("lake_delete_evolution",
      (s, d) => {
        // DELETE sibling of lake_update_evolution: the rewrite of
        // touched pre-evolution files keeps survivors byte-faithful
        // through the projection, and the NULL-filled added column's
        // disjunct must never widen the delete set (3VL).
        val (e, _) = freshEngine(s, "delevo")
        val orders = Tables.orders(s, d)
        val t = e.catalog.createTable("orders_delevo", orders.schema)
        e.insert(t, orders)
        t.renameColumn("o_totalprice", "price_usd")
        t.addColumn("channel", StringType)
        e.delete(t,
          "(price_usd < 60000 AND o_orderstatus = 'F') OR channel = 'never'")
        e.scan(t).toDF()
          .select(col("o_orderkey"), col("price_usd"), col("channel"),
            col("o_orderstatus"))
          .orderBy("o_orderkey")
      },
      oracle = Some("""
        SELECT o_orderkey, o_totalprice AS price_usd,
          CAST(NULL AS VARCHAR) AS channel, o_orderstatus
        FROM orders
        WHERE NOT (o_totalprice < 60000 AND o_orderstatus = 'F')
        ORDER BY o_orderkey"""),
      doc = "D4+S4: DELETE over pre-evolution data files (survivor passthrough through the field-id projection, NULL disjunct never widens the delete set)"),

    // ------------------------------------------------------------------
    Q("cdc_incremental_agg",
      (s, d) => {
        import org.apache.spark.sql.types.{DecimalType, DoubleType}
        // incremental view maintenance off the change feed: an
        // aggregate is kept current by applying SIGNED deltas from the
        // CDC stream instead of recomputing — the materialized-view
        // pattern (count/sum are self-maintainable; Gupta & Mumick,
        // "Maintenance of Materialized Views", IEEE DE Bulletin 1995).
        // The file-level feed replays rewritten files as
        // delete(old)+insert(new); untouched rows cancel EXACTLY
        // because the accumulation is decimal — which is what lets a
        // whole-file CDC feed maintain an aggregate without row-level
        // diffing. At 100 TB the delta side scans only changed files
        // (O(changed) planning), never the table.
        val (e, _) = freshEngine(s, "cdcagg")
        val orders = Tables.orders(s, d)
        val t = e.catalog.createTable("orders_cdc", orders.schema)
        e.insert(t, orders)
        val snap0 = t.metadata.currentSnapshotId.get
        // base aggregate at snap0 (what the view held before the DML)
        val dec = DecimalType(18, 6)
        val base = new TableScan(s, t, ref = TableRef.SnapshotId(snap0)).toDF()
          .groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n0"),
            sum(col("o_totalprice").cast(dec)).as("s0"))
        // three DML commits: numeric update, delete, append
        e.update(t, "o_orderkey % 7 = 0",
          Map("o_totalprice" -> "o_totalprice + 10000"))
        e.delete(t, "o_orderstatus = 'F' AND o_totalprice < 50000")
        e.insert(t, orders.filter(col("o_orderkey") % 10 === 0)
          .withColumn("o_orderkey", col("o_orderkey") + 10000000L))
        // signed delta from the change feed — the ONLY data read after
        // the base: the aggregate never rescans the table
        val changes = e.readChanges(t, Some(snap0))
        val sign = when(col("_change_type") === "insert", 1L).otherwise(-1L)
        val delta = changes.groupBy("o_orderstatus")
          .agg(sum(sign).as("dn"),
            sum(col("o_totalprice").cast(dec) * sign).as("ds"))
        base.join(delta, Seq("o_orderstatus"), "full_outer")
          .select(col("o_orderstatus"),
            (coalesce(col("n0"), lit(0L)) + coalesce(col("dn"), lit(0L))).as("n"),
            (coalesce(col("s0"), lit(0).cast(dec)) + coalesce(col("ds"), lit(0).cast(dec)))
              .cast(DoubleType).as("sum_price"))
          .filter(col("n") > 0)
          .transform(Present.driverSortBy(_, "o_orderstatus" -> true))
      },
      oracle = Some("""
        WITH upd AS (
          SELECT o_orderkey, o_orderstatus,
            CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 10000
                 ELSE o_totalprice END AS price
          FROM orders),
        kept AS (
          SELECT o_orderstatus, price FROM upd
          WHERE NOT (o_orderstatus = 'F' AND price < 50000)),
        final AS (
          SELECT * FROM kept
          UNION ALL
          SELECT o_orderstatus, o_totalprice FROM orders WHERE o_orderkey % 10 = 0)
        SELECT o_orderstatus, count(*) AS n,
          CAST(sum(CAST(price AS DECIMAL(18,6))) AS DOUBLE) AS sum_price
        FROM final GROUP BY o_orderstatus ORDER BY o_orderstatus"""),
      doc = "incremental aggregate maintenance from the CDC feed: signed deltas, no table rescan"),

    // ------------------------------------------------------------------
    Q("lake_compaction",
      (s, d) => {
        // the full table-maintenance cycle a streaming-ingest table
        // needs (SURVEY §2.6 + Iceberg OPTIMIZE/expire/vacuum
        // semantics): 6 small appends fragment each year partition into
        // small files; compactSmallFiles rewrites the small tail per
        // partition (dataChange=false replace commit), expireSnapshots
        // drops the superseded history, removeOrphanFiles deletes the
        // files only those snapshots referenced. The gate hash-verifies
        // that DATA survives the whole cycle untouched; file/snapshot
        // counts are pinned by MaintenanceSpec/ManifestSpec.
        val (e, _) = freshEngine(s, "compact")
        val orders = Tables.orders(s, d)
        val t = e.catalog.createTable("orders_compact", orders.schema,
          partitionSpec = Seq(PartitionField("o_year", "o_orderdate", "year")))
        (0 until 6).foreach { i =>
          e.insert(t, orders.filter(col("o_orderkey") % 6 === i))
        }
        graft.commands.Maintenance.compactSmallFiles(
          e, t.refresh(), targetBytes = 512L * 1024 * 1024)
        graft.commands.Maintenance.expireSnapshots(t.refresh(), keepLast = 1)
        graft.commands.Maintenance.removeOrphanFiles(t.refresh(), graceMs = 0)
        e.scan(t.refresh()).toDF().orderBy("o_orderkey")
      },
      oracle = Some("SELECT * FROM orders ORDER BY o_orderkey"),
      doc = "small-file compaction + snapshot expiry + orphan vacuum: data invariant through the maintenance cycle"),

    // ------------------------------------------------------------------
    Q("lake_zorder",
      (s, d) => {
        // Z-order re-clustering (multi-dimensional locality): rewrite
        // interleaves quantized (o_custkey, o_totalprice) bits so BOTH
        // columns get tight per-file ranges — a point/range predicate
        // on the SECOND column prunes files after the rewrite, which a
        // linear sort order cannot do. The gate runs the rewrite and
        // hash-verifies a second-column range scan returns exactly the
        // source rows; pruning-efficacy counts are pinned in
        // MaintenanceSpec.
        val (e, _) = freshEngine(s, "zorder")
        val orders = Tables.orders(s, d)
        val t = e.catalog.createTable("orders_z", orders.schema)
        // several appends so the table has multiple files to re-cluster
        (0 until 4).foreach { i =>
          e.insert(t, orders.filter(col("o_orderkey") % 4 === i))
        }
        graft.commands.Maintenance.zorderRewrite(
          e, t.refresh(), cols = Seq("o_custkey", "o_totalprice"))
        e.scan(t.refresh(), "o_totalprice >= 350000 AND o_totalprice < 400000")
          .toDF().orderBy("o_orderkey")
      },
      oracle = Some("""
        SELECT * FROM orders
        WHERE o_totalprice >= 350000 AND o_totalprice < 400000
        ORDER BY o_orderkey"""),
      doc = "Z-order re-clustering: second-column range scan correct after interleaved rewrite"),

    // ------------------------------------------------------------------
    Q("lake_batch_txn",
      (s, d) => {
        // D9 batch transaction: three staged appends land as ONE atomic
        // snapshot (a reader sees none or all). The oracle pins
        // atomicity, not just data: n_snapshots is part of the
        // hash-compared output and must be exactly 1.
        val (e, _) = freshEngine(s, "btx")
        val orders = Tables.orders(s, d)
        val t = e.catalog.createTable("orders_btx", orders.schema)
        val b = new TableBatchTransaction(t)
        (0 until 3).foreach { i =>
          b.addAppend(graft.write.LakeWriter.write(
            s, t, orders.filter(col("o_orderkey") % 3 === i)))
        }
        b.commit()
        val snaps = t.refresh().metadata.snapshots.size.toLong
        e.scan(t).toDF()
          .withColumn("n_snapshots", lit(snaps))
          .orderBy("o_orderkey")
      },
      oracle = Some("""
        SELECT *, CAST(1 AS BIGINT) AS n_snapshots
        FROM orders ORDER BY o_orderkey"""),
      doc = "D9 batch transaction: three appends commit as one atomic snapshot (count oracled)"),

    // ------------------------------------------------------------------
    Q("lake_wap",
      (s, d) => {
        // write-audit-publish (D12): new data lands on an isolated
        // branch, an audit query inspects the BRANCH while main still
        // serves the old snapshot, and only a passing audit
        // fast-forwards main onto the branch head. The gate output
        // carries the audited row count seen on the branch BEFORE
        // publish plus main's published end state — so isolation and
        // publish are both hash-pinned.
        val (e, _) = freshEngine(s, "wap")
        val orders = Tables.orders(s, d)
        val t = e.catalog.createTable("orders_wap", orders.schema)
        e.insert(t, orders.filter(col("o_orderkey") % 2 === 0))
        t.refresh()
        t.createBranch("audit", t.metadata.currentSnapshotId.get)
        e.insert(t, orders.filter(col("o_orderkey") % 2 =!= 0),
          branch = Some("audit"))
        t.refresh()
        // audit: branch sees evens+odds, main still sees evens only
        val branchRows = new TableScan(s, t, ref = TableRef.Branch("audit"))
          .toDF().count()
        val mainBefore = e.scan(t).toDF().count()
        val auditPassed = branchRows > mainBefore
        if (auditPassed) t.fastForward("audit")
        e.scan(t.refresh()).toDF()
          .withColumn("rows_on_branch_pre_publish", lit(branchRows))
          .withColumn("rows_on_main_pre_publish", lit(mainBefore))
          .orderBy("o_orderkey")
      },
      oracle = Some("""
        SELECT *,
          (SELECT count(*) FROM orders) AS rows_on_branch_pre_publish,
          (SELECT count(*) FROM orders WHERE o_orderkey % 2 = 0)
            AS rows_on_main_pre_publish
        FROM orders ORDER BY o_orderkey"""),
      doc = "D12 write-audit-publish: branch isolation, audit count, fast-forward publish — all hash-pinned"),

    // ------------------------------------------------------------------
    Q("lake_csv_import",
      (s, d) => {
        // S10 data import, end to end through a FOREIGN format: the
        // nation/region dims round-trip through CSV text (header,
        // explicit schema — no inference nondeterminism), conform to
        // the table schema, land via a lake commit, and the joined
        // read-back hash-matches SQL over the original parquet. Proves
        // the import path re-types text correctly (ints come back
        // ints, not strings) — the classic CSV silent-corruption trap.
        val (e, _) = freshEngine(s, "csvimp")
        val tmp = Files.createTempDirectory("graft-csv-").toString
        val nation = Tables.nation(s, d)
        val region = Tables.region(s, d)
        nation.coalesce(1).write.option("header", "true").csv(s"$tmp/nation")
        region.coalesce(1).write.option("header", "true").csv(s"$tmp/region")
        val tn = e.catalog.createTable("nation_csv", nation.schema)
        val tr = e.catalog.createTable("region_csv", region.schema)
        graft.sources.DataImport.intoTable(e, tn,
          graft.sources.DataImport.fromCsv(s, s"$tmp/nation", nation.schema))
        graft.sources.DataImport.intoTable(e, tr,
          graft.sources.DataImport.fromCsv(s, s"$tmp/region", region.schema))
        e.scan(tn.refresh()).toDF()
          .join(broadcast(e.scan(tr.refresh()).toDF()),
            col("n_regionkey") === col("r_regionkey"))
          .select(col("n_nationkey"), col("n_name"), col("r_name"))
          .orderBy("n_nationkey")
      },
      oracle = Some("""
        SELECT n_nationkey, n_name, r_name
        FROM nation JOIN region ON n_regionkey = r_regionkey
        ORDER BY n_nationkey"""),
      doc = "S10 CSV import: text round-trip + conform + lake commit, re-typed read hash-matches parquet"),

    // ------------------------------------------------------------------
    Q("lake_metadata_count",
      (s, d) => {
        // A4 driver-gated: per-partition record counts answered from
        // manifest metadata ONLY — zero data files read. The DELETE
        // before the count forces copy-on-write rewrites, so the gate
        // proves the metadata counts track DML, not just the initial
        // append. The collect is metadata-bounded (#partitions rows).
        val (e, _) = freshEngine(s, "metacnt")
        val orders = Tables.orders(s, d)
        val t = e.catalog.createTable("orders_mc", orders.schema,
          partitionSpec = Seq(PartitionField("o_year", "o_orderdate", "year")))
        e.insert(t, orders)
        e.delete(t, "o_orderstatus = 'P'")
        val counts = new TableScan(s, t.refresh()).partitionRecordCounts()
          .map { case (_, part, n) => (part("o_year").toInt, n) }
        import s.implicits._
        counts.toDF("o_year", "n").orderBy("o_year")
      },
      oracle = Some("""
        SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year, count(*) AS n
        FROM orders WHERE o_orderstatus <> 'P'
        GROUP BY 1 ORDER BY o_year"""),
      doc = "A4 metadata-only partition counts: manifests answer the aggregate after CoW DML, zero data read"),

    // ------------------------------------------------------------------
    Q("lake_rewrite_manifests",
      (s, d) => {
        // metadata defragmentation (Iceberg rewrite_manifests):
        // fragmenting appends, then one rewrite consolidates the
        // manifest list with ZERO data-file IO. The gate hash-verifies
        // the data is invariant; chunk counts are pinned by
        // ManifestSpec. A pruned read after the rewrite proves the
        // consolidated manifests still serve stats-based file skipping.
        val (e, _) = freshEngine(s, "rwm")
        val orders = Tables.orders(s, d)
        val t = e.catalog.createTable("orders_rwm", orders.schema,
          partitionSpec = Seq(PartitionField("o_year", "o_orderdate", "year")))
        (0 until 4).foreach { i =>
          e.insert(t, orders.filter(col("o_orderkey") % 4 === i))
        }
        graft.commands.Maintenance.rewriteManifests(t.refresh())
        e.scan(t.refresh(),
          "o_orderdate >= TIMESTAMP_NTZ'1997-01-01 00:00:00'")
          .toDF().orderBy("o_orderkey")
      },
      oracle = Some("""
        SELECT * FROM orders
        WHERE o_orderdate >= TIMESTAMP '1997-01-01'
        ORDER BY o_orderkey"""),
      doc = "manifest rewrite: consolidated manifests still prune; data invariant"),

    // ------------------------------------------------------------------
    Q("sql_ddl_lifecycle",
      (s, d) => {
        // the pure-SQL table lifecycle an analyst runs without touching
        // the Scala API: CTAS with transform partitioning, INSERT INTO
        // ... SELECT, ALTER TABLE ADD COLUMNS (field-id schema
        // evolution), then UPDATE against the evolved column — every
        // statement through the parser/analyzer facade, end state
        // hash-compared.
        val wh = Files.createTempDirectory("graft-ddlgate-").toString
        s.conf.set("spark.graft.warehouse", wh)
        Tables.orders(s, d).createOrReplaceTempView("orders_ddl_src")
        s.sql("""CREATE TABLE lake.orders_ddl PARTITIONED BY (years(o_orderdate))
          AS SELECT * FROM orders_ddl_src WHERE o_orderkey % 2 = 0""")
        s.sql("""INSERT INTO lake.orders_ddl
          SELECT * FROM orders_ddl_src WHERE o_orderkey % 2 = 1""")
        s.sql("ALTER TABLE lake.orders_ddl ADD COLUMNS (tier STRING)")
        s.sql("UPDATE lake.orders_ddl SET tier = 'big' WHERE o_totalprice > 300000")
        s.sql("SELECT * FROM lake.orders_ddl ORDER BY o_orderkey")
      },
      oracle = Some("""
        SELECT *, CASE WHEN o_totalprice > 300000 THEN 'big' END AS tier
        FROM orders ORDER BY o_orderkey"""),
      doc = "pure-SQL lifecycle: CTAS + INSERT SELECT + ALTER ADD + UPDATE on the evolved column"),

    // ------------------------------------------------------------------
    Q("lake_agg_pushdown",
      (s, d) => {
        // DSv2 aggregate pushdown: COUNT(*)/MIN/MAX over the connector
        // answer from manifest stats — ZERO data files read (Dsv2AggSpec
        // proves it by deleting the parquet files and aggregating
        // anyway; soundness guards fall back to a real scan for NaN
        // max, truncated string bounds, and filtered reads). The gate
        // hash-pins the VALUES against SQL over the source parquet.
        val (e, _) = freshEngine(s, "aggpush")
        val orders = Tables.orders(s, d)
        val t = e.catalog.createTable("orders_ap", orders.schema,
          partitionSpec = Seq(PartitionField("o_year", "o_orderdate", "year")))
        e.insert(t, orders)
        s.read.format("graft-lake").option("path", t.location).load()
          .agg(count(lit(1)).as("n"),
            min(col("o_orderkey")).as("min_key"),
            max(col("o_orderkey")).as("max_key"),
            min(col("o_totalprice")).as("min_price"),
            max(col("o_totalprice")).as("max_price"),
            min(col("o_orderdate")).as("first_date"),
            max(col("o_orderdate")).as("last_date"))
      },
      oracle = Some("""
        SELECT count(*) AS n,
          min(o_orderkey) AS min_key, max(o_orderkey) AS max_key,
          min(o_totalprice) AS min_price, max(o_totalprice) AS max_price,
          min(o_orderdate) AS first_date, max(o_orderdate) AS last_date
        FROM orders"""),
      doc = "DSv2 aggregate pushdown: count/min/max answered from manifest stats, zero data-file IO")
  )
}
