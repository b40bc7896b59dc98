package graft

import graft.commands._
import graft.extras.Dedup
import graft.format._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Job-count ratchet for the write paths whose latency at small sizes is
  * set by how many Spark jobs they start (each pays scheduling and AQE
  * re-planning, however few rows it moves). AQE stays at the session
  * default. A changes-mode SCD merge on a 10-file integral-key table
  * runs at most 9 jobs (the previous shapes ran 13 for SCD1 and 14 for
  * SCD2): one for the key-prune summary, none for an SCD2 order guard
  * whose files the stats prune, one exchange in the probe. The MinHash
  * curation pass counts its pairs in 6 jobs when run alone and 7 inside
  * the full suite (previously 12): member lists ride the signature rows,
  * so no membership join runs, and the candidate dedup shares its
  * exchange with the first verify join. The bound keeps one job of
  * headroom over the higher reading, since AQE re-plans as stages finish. */
class JobCountSpec extends SparkSpec {

  private val effective = java.time.LocalDateTime.parse("1999-01-01T00:00:00")

  /** 10,000 keys in ten range-clustered files of 1,000 rows. */
  private def table(scd2: Boolean): (LakeEngine, LakeTable) = {
    val dir = java.nio.file.Files.createTempDirectory("graft-jobcount-").toString
    val catalog = new LakeCatalog(dir)
    val engine = new LakeEngine(spark, catalog)
    val rows = spark.range(0, 10000)
      .select(col("id").as("k"), (col("id") % 7).cast("double").as("v"))
    val df =
      if (!scd2) rows
      else rows.withColumn("effective_start", lit("1992-01-01 00:00:00").cast("timestamp_ntz"))
        .withColumn("effective_end", lit(null).cast("timestamp_ntz"))
    val t = catalog.createTable("t", df.schema, sortOrder = Seq(SortField("k")),
      properties = Map("write.max-records-per-file" -> "1000"))
    engine.insert(t, df)
    val loaded = LakeTable.load(t.location)
    assert(loaded.currentFiles().size == 10)
    (engine, loaded)
  }

  /** 300 updates inside one file's key range plus 100 new keys, cached
    * like a change batch that was staged before the merge. */
  private def changes(): DataFrame = {
    val c = spark.range(2000, 2300)
      .select(col("id").as("k"), lit(99.0).as("v"), lit("U").as("op"))
      .unionByName(spark.range(20000, 20100)
        .select(col("id").as("k"), lit(5.0).as("v"), lit("I").as("op")))
      .cache()
    c.count()
    c
  }

  test("changes-mode scd1 on a 10-file integral-key table runs at most 9 Spark jobs") {
    val (engine, t) = table(scd2 = false)
    val src = changes()
    val (m, jobs) = SparkJobs.during(spark)(engine.applyChangesAsSCD1(t, src, Seq("k"), "op"))
    src.unpersist()
    assert(m.removedFiles == 1, m)
    assert(jobs <= 9, s"scd1 ran $jobs Spark jobs")
    val out = engine.scan(LakeTable.load(t.location)).toDF()
    assert(out.count() == 10100L)
    assert(out.filter(col("v") === 99.0).count() == 300L)
  }

  test("changes-mode scd2 on a 10-file integral-key table runs at most 9 Spark jobs") {
    val (engine, t) = table(scd2 = true)
    val src = changes()
    val (m, jobs) = SparkJobs.during(spark)(
      engine.applyChangesAsSCD2(t, src, Seq("k"), effective, "op"))
    src.unpersist()
    assert(m.removedFiles == 1, m)
    assert(jobs <= 9, s"scd2 ran $jobs Spark jobs")
    val out = engine.scan(LakeTable.load(t.location)).toDF()
    // 300 closed versions + 300 new open ones + 100 inserts
    assert(out.count() == 10400L)
    assert(out.filter(col("effective_end").isNotNull).count() == 300L)
  }

  test("minhashPairs on a corpus with duplicate groups counts its pairs in at most 8 Spark jobs") {
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
    val corpus = docs.unionByName(docs.select((col("doc_id") + 100000L).as("doc_id"), col("text")))
    val (pairs, jobs) = SparkJobs.during(spark)(
      Dedup.minhashPairs(corpus, "doc_id", "text").count())
    // every text has an identical copy: at least one pair per distinct id
    assert(pairs >= docs.count())
    assert(jobs <= 8, s"minhashPairs(...).count() ran $jobs Spark jobs")
  }
}
