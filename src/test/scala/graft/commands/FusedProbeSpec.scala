package graft.commands

import graft.SparkSpec
import graft.format._
import org.apache.spark.sql.functions._

/** Pins the DML probe on a mixed candidate set: some files provably
  * touched by stats, some ambiguous. An ambiguous candidate that holds
  * NO matching row is NEVER swapped by the commit, so the reference's
  * rewrite-only-touched-files contract holds exactly. */
class FusedProbeSpec extends SparkSpec {

  /** Table with three single-commit files:
    *  A: k = 0..99    (dense — fully covered by the range below)
    *  B: k = 200..249 (dense — boundary, partially covered)
    *  C: k = 300, 320, 340 (sparse — stats overlap the point probe
    *     below but no row matches)
    */
  private def mkTable(dir: String): (LakeEngine, LakeTable) = {
    val catalog = new LakeCatalog(dir)
    val engine = new LakeEngine(spark, catalog)
    val schema = spark.range(1).select(col("id").as("k"), col("id").as("v")).schema
    val t = catalog.createTable("t", schema, sortOrder = Seq(SortField("k")))
    def ins(df: org.apache.spark.sql.DataFrame): Unit = { engine.insert(t, df); () }
    ins(spark.range(0, 100).select(col("id").as("k"), col("id").as("v")))
    ins(spark.range(200, 250).select(col("id").as("k"), col("id").as("v")))
    ins(spark.createDataFrame(Seq((300L, 1L), (320L, 2L), (340L, 3L)))
      .toDF("k", "v"))
    (engine, LakeTable.load(t.location))
  }

  private def fileByMinK(t: LakeTable, minK: Long): String = {
    val id = FieldIds.of(t.schema("k")).toString
    t.currentFiles().find(_.stats(id).min.get.toLong == minK)
      .getOrElse(fail(s"no file with min k=$minK")).path
  }

  test("fused path commits only truly-touched files; untouched speculation is redone away") {
    val dir = java.nio.file.Files.createTempDirectory("graft-fused-").toString
    val (engine, t) = mkTable(dir)
    val (pathA, pathB, pathC) =
      (fileByMinK(t, 0), fileByMinK(t, 200), fileByMinK(t, 300))
    // A provably-all (range covers 0..99 entirely, no nulls), B
    // ambiguous-with-matches (210 inside 200..249), C ambiguous-no-
    // matches (310 inside C's 300..340 stats range, but no row = 310)
    engine.delete(t, "(k >= 0 AND k <= 99) OR (k >= 205 AND k <= 215) OR k = 310")
    val after = LakeTable.load(t.location)
    val paths = after.currentFiles().map(_.path).toSet
    assert(!paths.contains(pathA), "A must be rewritten")
    assert(!paths.contains(pathB), "B must be rewritten")
    assert(paths.contains(pathC),
      "C contains no matching rows and must SURVIVE the commit untouched")
    val left = engine.scan(after).toDF().orderBy("k").collect().map(_.getLong(0)).toSeq
    assert(left == ((200L to 204L) ++ (216L to 249L) ++ Seq(300L, 320L, 340L)),
      "wrong surviving rows")
  }

  test("fused path with all speculations confirmed commits in one pass") {
    val dir = java.nio.file.Files.createTempDirectory("graft-fused2-").toString
    val (engine, t) = mkTable(dir)
    val pathC = fileByMinK(t, 300)
    // covers A fully, B partially with real matches; C not a candidate
    engine.delete(t, "k >= 0 AND k <= 220")
    val after = LakeTable.load(t.location)
    assert(after.currentFiles().map(_.path).toSet.contains(pathC))
    val left = engine.scan(after).toDF().orderBy("k").collect().map(_.getLong(0)).toSeq
    assert(left == ((221L to 249L) ++ Seq(300L, 320L, 340L)))
  }

  test("UPDATE through the fused path modifies exactly the matching rows") {
    val dir = java.nio.file.Files.createTempDirectory("graft-fused3-").toString
    val (engine, t) = mkTable(dir)
    val pathC = fileByMinK(t, 300)
    engine.update(t, "(k >= 0 AND k <= 99) OR k = 310", Map("v" -> "-1"))
    val after = LakeTable.load(t.location)
    assert(after.currentFiles().map(_.path).toSet.contains(pathC),
      "C has no k=310 row and must survive untouched")
    val df = engine.scan(after).toDF()
    assert(df.filter(col("v") === -1L).count() == 100L)
    assert(df.count() == 153L)
  }
}
