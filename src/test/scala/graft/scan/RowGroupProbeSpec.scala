package graft.scan

import graft.SparkSpec
import graft.commands.LakeEngine
import graft.format._
import graft.write.LakeWriter
import org.apache.spark.sql.functions._

/** Round-16 pin for the row-group-granular DML probe: per-group footer
  * stats reclassify file-level-ambiguous candidates — an interior
  * provably-all group proves the file touched with zero data read, a
  * no-group-may-match file is provably untouched — and a DELETE's
  * result equals the rows computed independently from the input,
  * including the sub-group ranges only the row probe can resolve. */
class RowGroupProbeSpec extends SparkSpec {

  private def inputRows = spark.range(0, 4000).select(
    col("id").as("k"), (col("id") % 7).cast("double").as("v"),
    concat(lit("row-"), col("id")).as("s"))

  /** One sorted file with several small row groups over k = 0..3999. */
  private def mkTable(dir: String): (LakeEngine, LakeTable) = {
    val catalog = new LakeCatalog(dir)
    val engine = new LakeEngine(spark, catalog)
    val df = inputRows
    val t = catalog.createTable("t", df.schema,
      sortOrder = Seq(SortField("k")),
      // tiny groups so one file holds many (row-count check every 100)
      properties = Map(
        "write.parquet.row-group-size-bytes" -> (8 * 1024).toString))
    engine.insert(t, df)
    (engine, t)
  }

  test("rowGroupStats exposes per-group min/max under the canonical codec") {
    val dir = java.nio.file.Files.createTempDirectory("graft-rgp-").toString
    val (_, t) = mkTable(dir)
    val files = t.currentFiles()
    assert(files.size == 1, s"expected one file, got ${files.size}")
    val groups = LakeWriter.rowGroupStats(spark, t, files)(files.head.path).get
    assert(groups.size > 3, s"expected several row groups, got ${groups.size}")
    assert(groups.map(_.recordCount).sum == 4000L)
    val id = FieldIds.of(t.schema("k")).toString
    // groups tile the sorted key space: each group's min is the
    // previous group's max + 1
    val sorted = groups.sortBy(_.stats(id).min.get.toLong)
    sorted.sliding(2).foreach {
      case Seq(a, b) =>
        assert(a.stats(id).max.get.toLong + 1 == b.stats(id).min.get.toLong)
      case _ => ()
    }
    assert(sorted.head.stats(id).min.get.toLong == 0L)
    assert(sorted.last.stats(id).max.get.toLong == 3999L)
  }

  test("interior provably-all group proves a boundary file touched; disjoint gap proves untouched") {
    val dir = java.nio.file.Files.createTempDirectory("graft-rgp2-").toString
    val (_, t) = mkTable(dir)
    val files = t.currentFiles()
    val groups = LakeWriter.rowGroupStats(spark, t, files)(files.head.path).get
    val ev = new StatsEvaluator(t.schema, t.metadata.specsById)
    val id = FieldIds.of(t.schema("k")).toString
    val g0 = groups.sortBy(_.stats(id).min.get.toLong).head
    val g0max = g0.stats(id).max.get.toLong
    // a range covering group 0 entirely plus a slice of group 1:
    // file-level ambiguous, but group 0 is provably all-matching
    val span = PredSql.compile(spark, s"k >= 0 AND k <= ${g0max + 1}", t.schema)
    assert(!ev.provablyAll(span, files.head))
    assert(ev.provablyAll(span, g0))
    // a range BETWEEN two group boundaries that no row occupies can't
    // exist on dense keys — instead prove the untouched direction with
    // a predicate outside every group's range
    val out = PredSql.compile(spark, "k > 10000", t.schema)
    assert(groups.forall(g => !ev.mayContain(out, g)))
  }

  test("DELETE result identical with the row-group probe on and off") {
    for ((cond, tag) <- Seq(
        // spans several interior groups: probe-on classifies with zero
        // data read, probe-off row-probes
        ("k >= 700 AND k < 2300", "range"),
        // single point inside one group: both paths row-probe
        ("k = 1234", "point"),
        // matches nothing: candidate groups exist (stats ranges cover
        // the value) only if within bounds — exercise the no-match path
        ("k = -5", "nomatch"))) {
      val dir = java.nio.file.Files.createTempDirectory(s"graft-rgp3-$tag-").toString
      val (engine, t) = mkTable(dir)
      engine.delete(t, cond)
      val rows = engine.scan(LakeTable.load(t.location)).toDF()
        .orderBy("k").collect().map(_.toSeq).toSeq
      // oracle: the generated input with the 3VL keep filter applied in
      // plain DataFrame code, no lake path involved
      val expected = inputRows.filter(!coalesce(expr(cond), lit(false)))
        .orderBy("k").collect().map(_.toSeq).toSeq
      assert(rows == expected, s"DELETE result diverged from the direct filter for $tag")
    }
  }
}
