package graft.scan

import graft.SparkSpec
import graft.commands.LakeEngine
import graft.format._
import graft.metrics.{MetricCollector, MetricCollectors, ScanEvent}
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** `lake.*` SQL reads resolve to the `graft-lake` connector's relation,
  * so a WHERE clause prunes files from manifest stats exactly like an
  * engine scan does: on the live table and on a time-travel ref read
  * through a later rename and widening. Two resolutions of one table
  * state compare equal, so a self-join reuses its exchange and a cached
  * read is found again until a commit moves the table. */
class SqlPruneSpec extends SparkSpec {

  private def scansOf(location: String)(body: => Unit): Seq[ScanEvent] = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[ScanEvent]()
    val c = new MetricCollector {
      override def onScan(e: ScanEvent): Unit =
        if (e.tableLocation == location) seen.add(e)
    }
    MetricCollectors.register(c)
    try body finally MetricCollectors.unregister(c)
    import scala.jdk.CollectionConverters._
    seen.asScala.toSeq
  }

  test("WHERE on lake.t and on a time-travel ref prunes files; the filter shows at the relation") {
    val dir = java.nio.file.Files.createTempDirectory("graft-sqlprune-").toString
    val catalog = new LakeCatalog(dir)
    val engine = new LakeEngine(spark, catalog)
    val df = spark.range(0, 10000).select(
      col("id").cast("int").as("k"), concat(lit("v"), col("id")).as("v"))
    val t = catalog.createTable("t", df.schema, sortOrder = Seq(SortField("k")),
      properties = Map("write.max-records-per-file" -> "1000"))
    engine.insert(t, df)
    assert(t.currentFiles().size == 10, s"expected 10 files, got ${t.currentFiles().size}")
    val snap = t.metadata.currentSnapshotId.get
    spark.conf.set("spark.graft.warehouse", dir)

    val plain = spark.sql("SELECT k, v FROM lake.t WHERE k BETWEEN 2500 AND 3499")
    assert(plain.queryExecution.analyzed.collectFirst {
      case r: DataSourceV2Relation => r }.isDefined, plain.queryExecution.analyzed.toString)
    val plainScans = scansOf(t.location)(assert(plain.count() == 1000))
    assert(plainScans.exists(e => e.totalFiles == 10 && e.matchedFiles < e.totalFiles),
      s"no pruned scan: $plainScans")
    val explained = plain.queryExecution.explainString(FormattedMode)
    val scanNode = explained.linesIterator.dropWhile(!_.contains("BatchScan")).toSeq
    assert(scanNode.exists(_.contains("pruned-by:")) &&
      scanNode.exists(_.contains("GreaterThanOrEqual(k,2500)")),
      s"WHERE filter not at the lake relation:\n$explained")

    // the snapshot read projects old files through a rename and an
    // int -> long widening, and still prunes on the current names
    t.renameColumn("v", "w")
    t.widenColumn("k", LongType)
    val tt = spark.sql(
      s"SELECT k, w FROM lake.`t$$snapshot_$snap` WHERE k BETWEEN 2500 AND 3499")
    assert(tt.queryExecution.analyzed.collectFirst {
      case r: DataSourceV2Relation => r }.isDefined, tt.queryExecution.analyzed.toString)
    val ttScans = scansOf(t.location) {
      val rows = tt.orderBy("k").collect()
      assert(rows.length == 1000)
      assert(rows.head.getLong(0) == 2500L && rows.head.getString(1) == "v2500")
    }
    assert(ttScans.exists(e => e.totalFiles == 10 && e.matchedFiles < e.totalFiles),
      s"no pruned time-travel scan: $ttScans")
  }

  test("two resolutions of lake.t compare equal: self-join exchange reuse and cache lookup") {
    val dir = java.nio.file.Files.createTempDirectory("graft-sqlreuse-").toString
    val catalog = new LakeCatalog(dir)
    val engine = new LakeEngine(spark, catalog)
    val df = spark.range(0, 2000).select(col("id").cast("int").as("k"), (col("id") % 7).as("g"))
    val t = catalog.createTable("t", df.schema)
    engine.insert(t, df)
    spark.conf.set("spark.graft.warehouse", dir)

    val side = "SELECT g, count(*) AS c FROM lake.t GROUP BY g"
    val joined = spark.sql(s"SELECT a.g, a.c, b.c FROM ($side) a JOIN ($side) b ON a.g = b.g")
    assert(joined.collect().forall(r => r.getLong(1) == r.getLong(2)))
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("ReusedExchange"), s"self-join did not reuse its exchange:\n$plan")

    def cached(q: String) = spark.sql(q).queryExecution.withCachedData
      .collectFirst { case r: InMemoryRelation => r }.isDefined
    val all = spark.sql("SELECT * FROM lake.t").cache()
    try {
      assert(cached("SELECT * FROM lake.t"), "a second resolution missed the cached read")
      engine.insert(t, df.limit(10))
      assert(!cached("SELECT * FROM lake.t"), "a read after a commit hit the cache of the old snapshot")
      assert(spark.sql("SELECT * FROM lake.t").count() == 2010)
    } finally all.unpersist(blocking = true)
  }
}
