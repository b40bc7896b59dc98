package graft.write

import graft.SparkSpec
import graft.format._
import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** Pins for the one footer reader behind [[LakeWriter.harvest]] and
  * [[LakeWriter.rowGroupStats]]: footers of up to 4 (harvest) / 8
  * (probe) files are read on the driver with no Spark job, more fan out
  * as exactly one job; the decoded per-file (min, max, nulls) equal a
  * plain DataFrame aggregate per input file; and an unreadable footer
  * maps to None on both paths instead of throwing. */
class FooterReaderSpec extends SparkSpec {

  /** A lake table plus a staged directory of exactly `nFiles` parquet
    * files over its schema (k LONG and s STRING with nulls, v DOUBLE). */
  private def staged(nFiles: Int): (LakeTable, Path) = {
    val dir = Files.createTempDirectory("graft-footer-").toString
    val df = spark.range(0, 100L * nFiles).select(
      when(col("id") % 7 =!= 3, col("id")).as("k"),
      (col("id") % 13).cast("double").as("v"),
      when(col("id") % 5 =!= 0, concat(lit("s"), (col("id") % 97).cast("string"))).as("s"))
    val t = new LakeCatalog(dir).createTable("t", df.schema)
    val staging = t.dataDir.resolve("stage-test")
    df.repartition(nFiles).write.parquet(staging.toString)
    (t, staging)
  }

  /** Runs `body` and counts the Spark jobs it started. A marker job in
    * its own group runs afterwards: the listener bus delivers in order,
    * so once the marker is seen every job of `body` has been counted. */
  private def jobsDuring[A](body: => A): (A, Int) = {
    val sc = spark.sparkContext
    val group = s"footer-${java.util.UUID.randomUUID()}"
    val marker = s"$group-marker"
    val seen = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        seen.add(Option(j.properties).flatMap(p =>
          Option(p.getProperty("spark.jobGroup.id"))).getOrElse(""))
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "footer reader", interruptOnCancel = false)
      val out = try body finally sc.clearJobGroup()
      sc.setJobGroup(marker, "listener marker", interruptOnCancel = false)
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      while (!seen.contains(marker) && System.nanoTime() < deadline) Thread.sleep(10)
      assert(seen.contains(marker), "listener never saw the marker job")
      (out, seen.asScala.count(_ == group))
    } finally sc.removeSparkListener(listener)
  }

  private def fileName(p: String): String = p.substring(p.lastIndexOf('/') + 1)

  Seq(3 -> 0, 6 -> 1).foreach { case (nFiles, expectJobs) =>
    test(s"harvest of $nFiles files: $expectJobs Spark job(s), stats equal a per-file aggregate") {
      val (t, staging) = staged(nFiles)
      val (entries, jobs) = jobsDuring(LakeWriter.harvest(spark, t, staging))
      assert(jobs == expectJobs, s"harvest of $nFiles files ran $jobs jobs")
      assert(entries.size == nFiles)

      val expected = spark.read.parquet(staging.toString)
        .groupBy(input_file_name().as("f"))
        .agg(count(lit(1)).as("n"),
          min("k").as("kmin"), max("k").as("kmax"), (count(lit(1)) - count("k")).as("knull"),
          min("v").as("vmin"), max("v").as("vmax"), (count(lit(1)) - count("v")).as("vnull"),
          min("s").as("smin"), max("s").as("smax"), (count(lit(1)) - count("s")).as("snull"))
        .collect().map(r => fileName(r.getString(0)) -> r).toMap
      assert(expected.keySet == entries.map(e => fileName(e.path)).toSet)
      entries.foreach { e =>
        val r = expected(fileName(e.path))
        assert(e.recordCount == r.getAs[Long]("n"))
        Seq("k", "v", "s").foreach { c =>
          val st = e.stats(FieldIds.of(t.schema(c)).toString)
          // doubles compare by value: parquet writes a zero min as -0.0
          val canon: Any => Any =
            if (c == "v") x => x.toString.toDouble else x => x.toString
          assert(st.min.map(canon) == Some(canon(r.getAs[Any](s"${c}min"))), s"$c min of ${e.path}")
          assert(st.max.map(canon) == Some(canon(r.getAs[Any](s"${c}max"))), s"$c max of ${e.path}")
          assert(st.nullCount == r.getAs[Long](s"${c}null"), s"$c nulls of ${e.path}")
        }
      }
    }
  }

  Seq(3 -> 0, 10 -> 1).foreach { case (nFiles, expectJobs) =>
    test(s"rowGroupStats over $nFiles files with one truncated: bad file is None, $expectJobs job(s)") {
      val (t, staging) = staged(nFiles)
      val entries = LakeWriter.harvest(spark, t, staging)
      assert(entries.size == nFiles)
      // cut the footer off one file (and drop its checksum sidecar so the
      // failure is the missing footer, not a checksum mismatch)
      val bad = entries(1)
      val badPath = java.nio.file.Paths.get(bad.path)
      val bytes = Files.readAllBytes(badPath)
      Files.write(badPath, java.util.Arrays.copyOf(bytes, bytes.length / 2))
      Files.deleteIfExists(badPath.resolveSibling(s".${badPath.getFileName}.crc"))

      val (groups, jobs) = jobsDuring(LakeWriter.rowGroupStats(spark, t, entries))
      assert(jobs == expectJobs, s"rowGroupStats of $nFiles files ran $jobs jobs")
      assert(groups.keySet == entries.map(_.path).toSet)
      assert(groups(bad.path).isEmpty, "truncated footer should map to None")
      entries.filterNot(_ == bad).foreach { e =>
        val gs = groups(e.path)
        assert(gs.isDefined, s"readable footer mapped to None: ${e.path}")
        assert(gs.get.map(_.recordCount).sum == e.recordCount)
      }
    }
  }
}
