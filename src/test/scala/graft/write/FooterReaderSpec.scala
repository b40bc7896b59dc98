package graft.write

import graft.{SparkJobs, SparkSpec}
import graft.format._
import java.nio.file.Files
import org.apache.spark.sql.functions._

/** Pins for the footer decode behind [[LakeWriter.write]]'s per-file
  * entries and [[LakeWriter.rowGroupStats]]: the per-file (min, max,
  * nulls) a write reports equal a plain DataFrame aggregate per written
  * file and its NaN counts equal the true counts; `rowGroupStats` reads
  * up to 8 footers on the driver with no Spark job, more fan out as
  * exactly one job; and an unreadable footer maps to None on both paths
  * instead of throwing. */
class FooterReaderSpec extends SparkSpec {

  /** A lake table (k LONG and s STRING with nulls, v DOUBLE, d DOUBLE
    * with NaNs) and the entries of one [[LakeWriter.write]] of exactly
    * `nFiles` files into it: the table is unsorted and unpartitioned,
    * so each input partition becomes one file. */
  private def written(nFiles: Int): (LakeTable, Seq[FileEntry]) = {
    val dir = Files.createTempDirectory("graft-footer-").toString
    val df = spark.range(0, 100L * nFiles, 1, nFiles).select(
      when(col("id") % 7 =!= 3, col("id")).as("k"),
      (col("id") % 13).cast("double").as("v"),
      when(col("id") % 5 =!= 0, concat(lit("s"), (col("id") % 97).cast("string"))).as("s"),
      when(col("id") % 11 === 0, lit(Double.NaN)).otherwise(col("id").cast("double")).as("d"))
    val t = new LakeCatalog(dir).createTable("t", df.schema)
    (t, LakeWriter.write(spark, t, df))
  }

  private def fileName(p: String): String = p.substring(p.lastIndexOf('/') + 1)

  test("write of 6 files: stats equal a per-file aggregate, NaN counts exact") {
    val (t, entries) = written(6)
    assert(entries.size == 6)

    val expected = spark.read.parquet(entries.map(_.path): _*)
      .groupBy(input_file_name().as("f"))
      .agg(count(lit(1)).as("n"),
        min("k").as("kmin"), max("k").as("kmax"), (count(lit(1)) - count("k")).as("knull"),
        min("v").as("vmin"), max("v").as("vmax"), (count(lit(1)) - count("v")).as("vnull"),
        min("s").as("smin"), max("s").as("smax"), (count(lit(1)) - count("s")).as("snull"),
        count(when(isnan(col("d")), 1)).as("dnan"))
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
      assert(e.stats(FieldIds.of(t.schema("v")).toString).nanCount == Some(0L))
      val dnan = r.getAs[Long]("dnan")
      assert(dnan > 0, s"fixture file ${e.path} holds no NaN")
      assert(e.stats(FieldIds.of(t.schema("d")).toString).nanCount == Some(dnan),
        s"d NaN count of ${e.path}")
    }
  }

  Seq(3 -> 0, 10 -> 1).foreach { case (nFiles, expectJobs) =>
    test(s"rowGroupStats over $nFiles files with one truncated: bad file is None, $expectJobs job(s)") {
      val (t, entries) = written(nFiles)
      assert(entries.size == nFiles)
      // cut the footer off one file (and drop its checksum sidecar so the
      // failure is the missing footer, not a checksum mismatch)
      val bad = entries(1)
      val badPath = java.nio.file.Paths.get(bad.path)
      val bytes = Files.readAllBytes(badPath)
      Files.write(badPath, java.util.Arrays.copyOf(bytes, bytes.length / 2))
      Files.deleteIfExists(badPath.resolveSibling(s".${badPath.getFileName}.crc"))

      val (groups, jobs) = SparkJobs.during(spark)(LakeWriter.rowGroupStats(spark, t, entries))
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
