package graft.scan

import graft.SparkSpec
import graft.commands.{LakeEngine, Merge}
import graft.format._
import graft.io.{CachingFileSystem, CountingFileSystem, FileCacheState}
import java.nio.file.Files
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

/** Row identity and row-group skipping on the one lake read path:
  * `_file` is the manifest path verbatim and `_pos` the row's ordinal
  * in its file, over two schema ids and across split boundaries, on a
  * plain `file:` table and on a `gcache:` table; and a pushed filter
  * skips parquet row groups inside the files a DELETE rebuilds and a
  * changes-mode merge diff scans. */
class FileIdentitySpec extends SparkSpec {

  private def withSmallSplits(body: => Unit): Unit = {
    val keys = Seq("spark.sql.files.maxPartitionBytes", "spark.sql.files.openCostInBytes")
    val prev = keys.map(k => k -> spark.conf.getOption(k))
    keys.foreach(spark.conf.set(_, "16384"))
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Two inserts around a rename and an added column: files of schema
    * ids 0 and 1, each holding many small row groups, sorted by k. */
  private def twoSchemaTable(catalog: LakeCatalog): LakeTable = {
    val engine = new LakeEngine(spark, catalog)
    // hashed labels barely compress, so each file spans many splits
    val rows = spark.range(0, 6000).select(col("id").as("k"),
      sha2(col("id").cast("string"), 256).as("s"))
    val t = catalog.createTable("t", rows.schema, sortOrder = Seq(SortField("k")),
      properties = Map("write.parquet.row-group-size-bytes" -> (8 * 1024).toString,
        "write.max-records-per-file" -> "3000"))
    engine.insert(t, rows.filter(col("k") < 3000))
    t.renameColumn("s", "label")
    t.addColumn("extra", org.apache.spark.sql.types.LongType)
    engine.insert(t, rows.filter(col("k") >= 3000)
      .select(col("k"), col("s").as("label"), col("k").as("extra")))
    t
  }

  private def assertIdentity(t: LakeTable): Unit = withSmallSplits {
    val files = t.refresh().currentFiles()
    assert(files.map(_.schemaId).toSet.size == 2, s"schema ids: ${files.map(_.schemaId)}")
    val df = new TableScan(spark, t, withFileColumns = true).toDF()
    assert(df.rdd.getNumPartitions > files.size,
      s"${df.rdd.getNumPartitions} splits for ${files.size} files: no file split")
    val got = df.select(col("k"), col("_file"), col("_pos")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(got.length == 6000)
    assert(got.map(_._2).toSet == files.map(_.path).toSet,
      s"_file ${got.map(_._2).toSet} != manifest ${files.map(_.path)}")
    got.groupBy(_._2).foreach { case (path, rows) =>
      assert(rows.length == files.find(_.path == path).get.recordCount)
      // files are written sorted by k, so the ordinal is the rank of k
      val byK = rows.sortBy(_._1)
      byK.zipWithIndex.foreach { case ((k, _, pos), i) =>
        assert(pos == i, s"$path: row k=$k at ordinal $i read _pos $pos") }
    }
  }

  test("_file is the manifest path and _pos the in-file ordinal across splits (file:)") {
    val dir = Files.createTempDirectory("graft-fileid-").toString
    assertIdentity(twoSchemaTable(new LakeCatalog(dir)))
  }

  test("_file is the manifest path and _pos the in-file ordinal across splits (gcache:)") {
    val cacheDir = Files.createTempDirectory("graft-fileid-cache-").toString
    val wh = Files.createTempDirectory("graft-fileid-wh-").toString
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("fs.gcache.impl", classOf[CachingFileSystem].getName)
    hc.set("fs.slowfs.impl", classOf[CountingFileSystem].getName)
    hc.set("graft.cache.inner.scheme", "slowfs")
    hc.set("graft.cache.dir", cacheDir)
    try {
      val t = twoSchemaTable(new LakeCatalog(s"gcache://$wh", new HadoopCommitStore(hc)))
      assert(t.currentFiles().forall(_.path.startsWith("gcache:")), t.currentFiles().map(_.path))
      assertIdentity(t)
    } finally FileCacheState.reset(cacheDir)
  }

  /** Output rows of every lake scan in the plans `body` executes over
    * `scope` (cached diff plans included). */
  private def scanRows(scope: String)(body: => Unit): Seq[Long] = {
    val rows = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    def scans(p: SparkPlan): Seq[BatchScanExec] = p match {
      case b: BatchScanExec => Seq(b)
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case q: QueryStageExec => scans(q.plan)
      case m: InMemoryTableScanExec => scans(m.relation.cachedPlan)
      case other => other.children.flatMap(scans)
    }
    val l = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        scans(qe.executedPlan).filter(_.table.name().contains(scope))
          .foreach(b => rows.add(b.metrics("numOutputRows").value))
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    try {
      body
      val deadline = System.currentTimeMillis() + 10000
      while (rows.isEmpty && System.currentTimeMillis() < deadline) Thread.sleep(100)
      Thread.sleep(500)
    } finally spark.listenerManager.unregister(l)
    import scala.jdk.CollectionConverters._
    rows.asScala.toSeq
  }

  /** One sorted 4000-row file of many row groups. Identity-partitioned
    * on a constant, so rewrites take the clustered write in this
    * session rather than the per-file passthrough session. */
  private def oneFileTable(dir: String): (LakeEngine, LakeTable) = {
    val catalog = new LakeCatalog(dir)
    val engine = new LakeEngine(spark, catalog)
    val df = spark.range(0, 4000).select(col("id").as("k"),
      (col("id") % 7).cast("double").as("v"), lit(0).as("g"))
    val t = catalog.createTable("t", df.schema, sortOrder = Seq(SortField("k")),
      partitionSpec = Seq(PartitionField("g", "g", "identity")),
      properties = Map("write.parquet.row-group-size-bytes" -> (8 * 1024).toString))
    engine.insert(t, df)
    assert(t.currentFiles().size == 1 && t.currentFiles().head.recordCount == 4000)
    (engine, t)
  }

  test("row groups outside a pushed filter are skipped in DELETE rebuilds and merge diffs") {
    val dirD = Files.createTempDirectory("graft-rgskip-del-").toString
    val (engineD, tD) = oneFileTable(dirD)
    val deleteScans = scanRows(dirD)(engineD.delete(tD, "k >= 100 AND k < 3900"))
    assert(deleteScans.nonEmpty && deleteScans.forall(_ < 4000L),
      s"DELETE rebuild scans read $deleteScans rows of a 4000-row file")
    assert(engineD.scan(tD.refresh()).toDF().count() == 200)

    val dirM = Files.createTempDirectory("graft-rgskip-merge-").toString
    val (engineM, tM) = oneFileTable(dirM)
    val src = spark.range(1200, 1261).select(col("id").as("k"), lit(99.0).as("v"),
      lit(0).as("g"), lit("U").as("op"))
    val mergeScans = scanRows(dirM)(Merge.scd1(engineM, tM, src, Merge.Scd1Options(
      keyCols = Seq("k"), operationTypeColumn = Some("op"))))
    assert(mergeScans.exists(_ < 4000L),
      s"changes-mode diff scans read $mergeScans rows of a 4000-row file")
    val after = engineM.scan(tM.refresh()).toDF()
    assert(after.count() == 4000)
    assert(after.filter(col("v") === 99.0).count() == 61)
  }
}
