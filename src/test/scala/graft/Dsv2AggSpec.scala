package graft

import graft.commands.LakeEngine
import graft.format.LakeCatalog
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._

/** DSv2 aggregate pushdown: COUNT(*)/MIN/MAX answered from manifest
  * stats with zero data-file IO — proven by DELETING the parquet data
  * files and aggregating anyway. Soundness guards (NaN max, string
  * bounds, filters) fall back to the real scan.
  */
class Dsv2AggSpec extends SparkSpec {
  import spark.implicits._

  private def mk(prefix: String): (LakeEngine, String) = {
    val wh = Files.createTempDirectory(s"graft-$prefix-").toString
    (new LakeEngine(spark, new LakeCatalog(wh)), wh)
  }

  test("count/min/max answer from metadata even after data files are deleted") {
    val (engine, _) = mk("aggpush")
    val orders = Tables.orders(spark, sf)
    val t = engine.catalog.createTable("orders_agg", orders.schema)
    engine.insert(t, orders.filter(col("o_orderkey") % 2 === 0))
    engine.insert(t, orders.filter(col("o_orderkey") % 2 =!= 0))
    val expected = orders.agg(count(lit(1)), min(col("o_orderkey")),
      max(col("o_totalprice")), min(col("o_orderdate"))).head()

    def agg() = spark.read.format("graft-lake").option("path", t.location).load()
      .agg(count(lit(1)), min(col("o_orderkey")), max(col("o_totalprice")),
        min(col("o_orderdate"))).head()
    assert(agg() === expected)

    // the plan must contain the metadata-aggregated scan, no parquet read
    val plan = spark.read.format("graft-lake").option("path", t.location).load()
      .agg(count(lit(1))).queryExecution.executedPlan.toString
    assert(plan.contains("metadata-aggregated"), s"expected metadata agg scan:\n$plan")

    // nuke every data file: only metadata can answer now
    import scala.jdk.CollectionConverters._
    val dataFiles = Files.walk(Paths.get(t.location, "data")).iterator().asScala
      .filter(Files.isRegularFile(_)).toList
    assert(dataFiles.nonEmpty)
    dataFiles.foreach(Files.delete)
    assert(agg() === expected, "metadata-only answer after data deletion")
  }

  test("guards: filters, strings, and NaN max fall back to the real scan") {
    val (engine, _) = mk("aggguard")
    val df = Seq((1L, "a", 1.5), (2L, "b", Double.NaN), (3L, "c", 9.0))
      .toDF("id", "s", "v")
    val t = engine.catalog.createTable("guard_t", df.schema)
    engine.insert(t, df)
    val reader = spark.read.format("graft-lake").option("path", t.location)

    // NaN present: max(v) must NOT be metadata-answered (footer bounds
    // exclude NaN but Spark ranks NaN greatest) — and the scan answer
    // is NaN as Spark semantics demand
    val mx = reader.load().agg(max(col("v"))).head().getDouble(0)
    assert(mx.isNaN)
    val planNaN = reader.load().agg(max(col("v")))
      .queryExecution.executedPlan.toString
    assert(!planNaN.contains("metadata-aggregated"), planNaN)
    // min over the same column IS metadata-answerable (NaN never wins a min)
    assert(reader.load().agg(min(col("v"))).head().getDouble(0) === 1.5)

    // string bounds are truncated by the writer: never metadata-answered
    val planStr = reader.load().agg(max(col("s")))
      .queryExecution.executedPlan.toString
    assert(!planStr.contains("metadata-aggregated"), planStr)
    assert(reader.load().agg(max(col("s"))).head().getString(0) === "c")

    // a filter makes planned files a may-match superset: full scan path
    val filtered = reader.load().filter(col("id") > 1).agg(count(lit(1)))
    assert(!filtered.queryExecution.executedPlan.toString.contains("metadata-aggregated"))
    assert(filtered.head().getLong(0) === 2L)
  }

  test("scan statistics report the PRUNED size; selective lake reads broadcast") {
    val (engine, _) = mk("stats")
    val orders = Tables.orders(spark, sf)
    val t = engine.catalog.createTable("orders_st", orders.schema,
      partitionSpec = Seq(graft.format.PartitionField("o_year", "o_orderdate", "year")))
    engine.insert(t, orders)
    def read = spark.read.format("graft-lake").option("path", t.location).load()
    val full = read.queryExecution.optimizedPlan.stats.sizeInBytes
    val pruned = read
      .filter(col("o_orderdate") >= expr("TIMESTAMP_NTZ'2001-01-01 00:00:00'"))
      .queryExecution.optimizedPlan.stats.sizeInBytes
    assert(pruned < full, s"pruned=$pruned full=$full")
    // accurate pruned stats flip the join to a broadcast build without a hint
    val plan = orders.join(
        read.filter(col("o_orderdate") >= expr("TIMESTAMP_NTZ'2001-01-01 00:00:00'"))
          .select(col("o_orderkey").as("k")),
        col("o_orderkey") === col("k"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("runtime filtering: the dim's join keys prune fact files at execution") {
    val (engine, _) = mk("dpp")
    val orders = Tables.orders(spark, sf)
    val t = engine.catalog.createTable("orders_dpp", orders.schema,
      partitionSpec = Seq(graft.format.PartitionField("o_status", "o_orderstatus", "identity")))
    engine.insert(t, orders)
    // the dim's selective filter must survive optimization (a local Seq
    // constant-folds) AND sit on a NON-join column — a join-key
    // equality would be inferred into a static pushed filter and
    // nothing would be left for runtime pruning to do
    val dimPath = Files.createTempDirectory("graft-dpp-dim-").toString
    Seq(("P", 1L), ("O", 2L), ("F", 3L)).toDF("st", "tag")
      .write.mode("overwrite").parquet(dimPath)
    val dim = spark.read.parquet(dimPath).filter(col("tag") === 1)
    val fact = spark.read.format("graft-lake").option("path", t.location).load()
    val q = fact.join(broadcast(dim), col("o_orderstatus") === col("st"))
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("dynamicpruning") ||
      plan.contains("RuntimeFilters: [in"), s"expected a runtime filter:\n$plan")
    val expected = orders.filter(col("o_orderstatus") === "P").count()
    assert(q.count() === expected)
  }

  test("limit pushdown plans only enough files to cover the limit") {
    val (engine, _) = mk("limit")
    val orders = Tables.orders(spark, sf)
    val t = engine.catalog.createTable("orders_lim", orders.schema)
    (0 until 6).foreach(i => engine.insert(t, orders.filter(col("o_orderkey") % 6 === i)))
    val read = spark.read.format("graft-lake").option("path", t.location).load()
    def scanParts(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.executedPlan.collectLeaves().collectFirst {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
          b.inputRDD.getNumPartitions
      }.getOrElse(fail("no BatchScanExec in plan"))
    // the file cap shrinks the planned FILE LIST; to observe it through
    // partition counts, stop Spark's bin-packer from folding the six
    // tiny files into one split (maxPartitionBytes/openCost are session
    // state other suites legitimately tune — pin them here)
    val prevMax = spark.conf.getOption("spark.sql.files.maxPartitionBytes")
    val prevOpen = spark.conf.getOption("spark.sql.files.openCostInBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "1024")
    spark.conf.set("spark.sql.files.openCostInBytes", "1024")
    try {
      val full = scanParts(read)
      val limited = scanParts(read.limit(5))
      assert(limited < full, s"limited=$limited full=$full")
      assert(read.limit(5).collect().length === 5)
      // limit + filter compose: pruned first, then file-capped
      assert(read.filter(col("o_orderkey") % 6 === 2).limit(3).collect().length === 3)
      // and the invariant the file cap's soundness rests on: when a
      // filter sits above the scan, the scan must NOT be file-capped
      // (raw manifest counts can't bound post-filter rows) — the
      // filtered+limited scan plans the same partitions as the filtered
      // scan alone
      val filteredOnly = scanParts(read.filter(col("o_orderkey") % 6 === 2))
      val filteredLimited = scanParts(read.filter(col("o_orderkey") % 6 === 2).limit(3))
      assert(filteredLimited === filteredOnly,
        s"filtered scan was file-capped: $filteredLimited vs $filteredOnly")
    } finally {
      prevMax.fold(spark.conf.unset("spark.sql.files.maxPartitionBytes"))(
        spark.conf.set("spark.sql.files.maxPartitionBytes", _))
      prevOpen.fold(spark.conf.unset("spark.sql.files.openCostInBytes"))(
        spark.conf.set("spark.sql.files.openCostInBytes", _))
    }
  }

  test("all-null column aggregates to NULL from metadata; empty table counts zero") {
    val (engine, _) = mk("aggnull")
    val df = Seq((1L, Option.empty[java.lang.Double]), (2L, Option.empty[java.lang.Double]))
      .toDF("id", "v")
    val t = engine.catalog.createTable("null_t", df.schema)
    engine.insert(t, df)
    val got = spark.read.format("graft-lake").option("path", t.location).load()
      .agg(count(lit(1)), min(col("v")), max(col("id"))).head()
    assert(got.getLong(0) === 2L)
    assert(got.isNullAt(1))
    assert(got.getLong(2) === 2L)

    val t2 = engine.catalog.createTable("empty_t", df.schema)
    val got2 = spark.read.format("graft-lake").option("path", t2.location).load()
      .agg(count(lit(1)), min(col("id"))).head()
    assert(got2.getLong(0) === 0L)
    assert(got2.isNullAt(1))
  }

  test("filter pushdown: each predicate shape prunes files and returns the parquet rows") {
    import graft.metrics.{MetricCollector, MetricCollectors, ScanEvent}
    val (engine, wh) = mk("shapes")
    // 4 files clustered by k (25 keys each); s starts with one letter per
    // file; n is null only in the last file
    val df = spark.range(0, 100, 1, 1).select(col("id").as("k"),
      concat(expr("char(97 + cast(id div 25 as int))"), col("id").cast("string")).as("s"),
      when(col("id") < 75, col("id")).as("n"))
    val t = engine.catalog.createTable("shapes_t", df.schema)
    (0 until 4).foreach(i => engine.insert(t,
      df.filter(col("k") >= i * 25 && col("k") < (i + 1) * 25).coalesce(1)))
    assert(t.refresh().currentFiles().size === 4)
    val plain = Paths.get(wh, "shapes_plain").toString
    df.write.parquet(plain)
    val lake = spark.read.format("graft-lake").option("path", t.location).load()
    val oracle = spark.read.parquet(plain)
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[ScanEvent]()
    val rec = new MetricCollector { override def onScan(e: ScanEvent): Unit = seen.add(e) }
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => (r.getLong(0), r.getString(1), Option(r.get(2)))).toSet
    val shapes = Seq(
      "k = 30" -> 1,
      "k < 20" -> 1,
      "k >= 60" -> 2,
      "k IN (1, 80)" -> 2,
      "n IS NULL" -> 1,
      "s LIKE 'b%'" -> 1,
      "k >= 25 AND k < 50" -> 1,
      "k < 10 OR k > 90" -> 2,
      "k NOT IN (1, 2)" -> 4,
      "k < 30 AND k % 2 = 0" -> 2,
      "NOT (k < 5 AND k % 2 = 0)" -> 4)
    def check(cond: String, files: Int): Unit = {
      seen.clear()
      assert(rows(lake.filter(cond)) === rows(oracle.filter(cond)), cond)
      val scans = seen.toArray(Array.empty[ScanEvent]).filter(_.tableLocation == t.location)
      assert(scans.nonEmpty, s"no scan planned for $cond")
      assert(scans.last.matchedFiles === files, s"$cond matched ${scans.last.matchedFiles} files")
    }
    MetricCollectors.register(rec)
    try {
      shapes.foreach { case (cond, files) => check(cond, files) }
      // v2 predicates keep nested conjunctions: inside an OR, an AND
      // keeps its convertible side (v1 filters dropped the whole OR)
      check("(k < 10 AND k % 2 = 0) OR k > 90", 2)
    } finally MetricCollectors.unregister(rec)
  }
}
