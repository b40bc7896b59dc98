package graft.write

import graft.{SparkJobs, SparkSpec}
import graft.commands.LakeEngine
import graft.format._
import java.nio.file.{Files, Path}
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** Pins for the metadata-only write commit ([[FooterCommitProtocol]]):
  * write tasks put their files at final paths under `data/` and report
  * their own footer stats, so a write leaves no staging directory,
  * `_temporary` or `_SUCCESS` behind, a failed write leaves no files and
  * no snapshot, and the commit adds no Spark job however many files the
  * write produced. */
class WriteCommitSpec extends SparkSpec {

  private def freshEngine(): LakeEngine =
    new LakeEngine(spark, new LakeCatalog(Files.createTempDirectory("graft-wcommit-").toString))

  /** Every file and directory under `dir`, relative to it. */
  private def tree(dir: Path): Set[String] =
    if (!Files.isDirectory(dir)) Set.empty
    else {
      val s = Files.walk(dir)
      try s.iterator().asScala.filter(_ != dir).map(p => dir.relativize(p).toString).toSet
      finally s.close()
    }

  private def regularFiles(dir: Path): Set[String] =
    tree(dir).filter(f => Files.isRegularFile(dir.resolve(f)))

  /** The committed data files plus their checksum sidecars, relative to
    * `data/`, and every directory on the way to them. */
  private def expectedTree(t: LakeTable): Set[String] = {
    val data = t.dataDir.toAbsolutePath
    val files = t.currentFiles().map(e => data.relativize(java.nio.file.Paths.get(e.path)))
    files.flatMap { f =>
      val crc = Option(f.getParent).fold(java.nio.file.Paths.get(s".${f.getFileName}.crc"))(
        _.resolve(s".${f.getFileName}.crc"))
      val dirs = Iterator.iterate(f.getParent)(_.getParent).takeWhile(_ != null).map(_.toString)
      Seq(f.toString, crc.toString) ++ dirs
    }.toSet
  }

  test("data/ holds exactly the committed files: no _temporary, _SUCCESS or stage-*") {
    val engine = freshEngine()
    val df = spark.range(0, 600, 1, 6).select(col("id").as("k"), (col("id") % 7).as("v"))
    val plain = engine.catalog.createTable("plain", df.schema)
    engine.insert(plain, df)
    val t1 = engine.table("plain")
    assert(t1.currentFiles().size == 6)
    assert(tree(t1.dataDir) == expectedTree(t1))

    // partition values with characters the directory names must escape
    val vals = Seq("a", "b c", "x/y=z", "50%", null)
    val pdf = spark.range(0, 500, 1, 3).select(col("id").as("k"),
      element_at(typedLit(vals), (pmod(col("id"), lit(vals.size)) + 1).cast("int")).as("c"))
    val part = engine.catalog.createTable("part", pdf.schema,
      partitionSpec = Seq(PartitionField("c_p", "c", "identity")))
    engine.insert(part, pdf)
    val t2 = engine.table("part")
    assert(t2.currentFiles().map(_.partition("c_p")).toSet ==
      vals.map(v => Option(v).getOrElse(graft.transforms.Transform.NullValue)).toSet)
    assert(tree(t2.dataDir) == expectedTree(t2))
    t2.currentFiles().foreach { e =>
      val inFile = spark.read.parquet(e.path).select("c").distinct().collect().map(_.getString(0))
      assert(inFile.toSeq == Seq(vals.find(v =>
        Option(v).getOrElse(graft.transforms.Transform.NullValue) == e.partition("c_p")).get),
        s"rows of ${e.path} disagree with its partition ${e.partition}")
    }
    assert(engine.scan(t2).toDF().count() == 500)

    Seq(t1, t2).foreach { t =>
      assert(!tree(t.dataDir).exists(f =>
        f.contains("_temporary") || f.contains("_SUCCESS") || f.contains("stage-")))
    }
  }

  test("a write whose task fails adds no snapshot and leaves no file behind") {
    val engine = freshEngine()
    val df = spark.range(0, 200, 1, 1).select(col("id").as("k"))
    val t = engine.catalog.createTable("t", df.schema)
    engine.insert(t, df)
    val before = regularFiles(t.dataDir)
    val snapshots = engine.table("t").metadata.snapshots.map(_.id)

    // the task has opened its file and written rows when the marker row throws
    val boom = udf((k: Long) => {
      if (k == 150L) throw new IllegalStateException("marker row")
      k
    })
    val err = intercept[Exception](engine.insert(engine.table("t"), df.select(boom(col("k")).as("k"))))
    assert(Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
      .exists(e => Option(e.getMessage).exists(_.contains("marker row"))), err.toString)

    assert(engine.table("t").metadata.snapshots.map(_.id) == snapshots)
    assert(regularFiles(t.dataDir) == before)
    assert(engine.scan(engine.table("t")).toDF().count() == 200)
  }

  test("a 6-file write starts no more Spark jobs than a 1-file write") {
    val engine = freshEngine()
    val shape = (n: Int) => spark.range(0, 100L * n, 1, n).select(col("id").as("k"))
    val t = engine.catalog.createTable("t", shape(1).schema)
    LakeWriter.write(spark, t, shape(1)) // warm the write path
    val (one, jobsOne) = SparkJobs.during(spark)(LakeWriter.write(spark, t, shape(1)))
    val (six, jobsSix) = SparkJobs.during(spark)(LakeWriter.write(spark, t, shape(6)))
    assert(one.size == 1 && six.size == 6)
    assert(jobsSix <= jobsOne, s"6-file write ran $jobsSix jobs, 1-file write $jobsOne")
  }
}
