package graft.format

import java.nio.file.{Files, Paths}

import graft.SparkSpec
import graft.commands.LakeEngine
import graft.io.{CachingFileSystem, CountingFileSystem, CountingFs, FileCacheState}
import org.apache.spark.sql.functions._

/** End-to-end lake lifecycle at a SCHEME-PREFIXED location through
  * [[HadoopCommitStore]]: the metadata plane (conditional-put commits,
  * manifest chunks, version discovery) and the data plane (parquet
  * write, pruned scan, CoW DML file-identity probes) all routed
  * through the round-16 `gcache://` caching FileSystem over an
  * instrumented inner store. This is the pin behind the cache's
  * "tables at gcache:// locations keep manifest path identity" claim
  * — the DML probe matches each row's `_file` against manifest paths,
  * so any drift between the path the writer records and the path the
  * reader reports fails here. */
class HadoopLakeSpec extends SparkSpec {

  private def freshEnv(tag: String): (LakeEngine, String, String) = {
    val cacheDir = Files.createTempDirectory(s"gclake-cache-$tag").toString
    val wh = Files.createTempDirectory(s"gclake-wh-$tag").toString
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("fs.gcache.impl", classOf[CachingFileSystem].getName)
    hc.set("fs.slowfs.impl", classOf[CountingFileSystem].getName)
    hc.set("graft.cache.inner.scheme", "slowfs")
    hc.set("graft.cache.dir", cacheDir)
    val store = new HadoopCommitStore(hc)
    val engine = new LakeEngine(spark,
      new LakeCatalog(s"gcache://$wh", store))
    (engine, wh, cacheDir)
  }

  test("full lifecycle at a gcache:// location: create, insert, scan, DML, drop") {
    val (engine, wh, cacheDir) = freshEnv("life")
    try {
      val orders = graft.Tables.orders(spark, sf)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
          col("o_orderstatus"))
      val t = engine.catalog.createTable("db.orders_gc", orders.schema)
      assert(t.location.startsWith("gcache:"), t.location)
      engine.insert(t, orders)
      // scan through the cache: correct rows, pruned read
      val n = orders.count()
      assert(engine.scan(t).toDF().count() === n)
      val hot = engine.scan(t, "o_orderkey < 100").toDF()
        .orderBy("o_orderkey").collect()
      val oracle = orders.filter(col("o_orderkey") < 100)
        .orderBy("o_orderkey").collect()
      assert(hot.toSeq == oracle.toSeq)
      // the second identical scan is served from the executor-local
      // cache: zero further inner data opens
      val before = CountingFs.opens.get()
      assert(engine.scan(t).toDF().count() === n)
      assert(CountingFs.opens.get() == before,
        "warm lake scan must not touch the inner store")
      // CoW DML: the file-identity probe (`_file` vs manifest paths)
      // must agree across the gcache scheme
      val tsAfterInsert = System.currentTimeMillis()
      Thread.sleep(5)
      val del = orders.filter(col("o_orderkey") % 7 === 0).count()
      engine.delete(t, "o_orderkey % 7 = 0")
      val after = engine.catalog.loadTable("db.orders_gc")
      assert(engine.scan(after).toDF().count() === n - del)
      assert(engine.scan(after, "o_orderkey % 7 = 0").toDF().count() === 0)
      // snapshot log survived the scheme: time travel to pre-delete
      val asOf = engine.scan(after,
        ref = TableRef.AsOfTimestamp(tsAfterInsert))
      assert(asOf.toDF().count() === n)
      engine.catalog.dropTable("db.orders_gc")
      assert(!engine.catalog.tableExists("db.orders_gc"))
    } finally {
      FileCacheState.reset(cacheDir)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(wh))
    }
  }

  test("conditional put: exactly one concurrent committer wins per version") {
    val (engine, wh, cacheDir) = freshEnv("race")
    try {
      val store = engine.catalog.store
      val metaDir = Paths.get(s"gcache://$wh", "race_t", "metadata")
      store.prepareTable(Paths.get(s"gcache://$wh", "race_t"))
      val wins = new java.util.concurrent.atomic.AtomicInteger()
      val threads = (1 to 8).map { i =>
        new Thread(() => {
          if (store.putIfAbsent(metaDir, "v1.json", s"""{"writer":$i}"""))
            wins.incrementAndGet()
          ()
        })
      }
      threads.foreach(_.start())
      threads.foreach(_.join())
      assert(wins.get() == 1, s"expected exactly one winner, got ${wins.get()}")
      assert(store.listNames(metaDir).count(_ == "v1.json") == 1)
      // losers must not have left temp litter behind
      assert(!store.listNames(metaDir).exists(_.startsWith(".tmp-")))
    } finally {
      FileCacheState.reset(cacheDir)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(wh))
    }
  }
}
