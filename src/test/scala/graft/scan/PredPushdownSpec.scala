package graft.scan

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Round-14 pins for the pushdown-friendly Pred over-approximations
  * ([[Pred.mayTrue]] / [[Pred.notTrue]]) that the DML probe and DELETE
  * rebuild push into parquet ahead of their exact 3VL filters.
  * Soundness is a row-level IMPLICATION, checked exhaustively against
  * Catalyst's own evaluation over a null-rich corpus:
  *   p true      => toColumn(mayTrue(p)) true
  *   p not true  => toColumn(notTrue(p)) true
  */
class PredPushdownSpec extends SparkSpec {

  private lazy val corpus = {
    import spark.implicits._
    // nulls, boundaries, duplicates — every comparison class gets rows
    // on both sides plus the null row
    Seq[(java.lang.Long, String)](
      (null, null), (1L, "a"), (2L, "ab"), (3L, "b"), (5L, "bc"),
      (7L, "c"), (10L, null), (null, "z"), (0L, ""), (-3L, "a"))
      .toDF("x", "s")
  }

  private val preds: Seq[Pred] = Seq(
    Eq("x", 2L), Ne("x", 2L), Lt("x", 3L), Le("x", 3L), Gt("x", 3L), Ge("x", 3L),
    In("x", Seq(1L, 5L)), NotIn("x", Seq(1L, 5L)),
    In("x", Seq(1L, null)), NotIn("x", Seq(1L, null)),
    IsNull("x"), NotNull("x"), StartsWith("s", "a"),
    Opaque("length(s) > 1"),
    And(Ge("x", 1L), Lt("x", 6L)),
    Or(Lt("x", 0L), StartsWith("s", "b")),
    And(Or(Eq("x", 1L), Eq("s", "c")), NotNull("s")),
    Pred.negate(And(Ge("x", 1L), Lt("x", 6L))))

  test("mayTrue is implied by the exact predicate (never loses a match)") {
    preds.foreach { p =>
      val exact = corpus.filter(coalesce(Pred.toColumn(p), lit(false)))
      val lost = exact.filter(not(coalesce(Pred.toColumn(Pred.mayTrue(p)), lit(false))))
      assert(lost.count() == 0, s"mayTrue dropped matching rows for $p")
    }
  }

  test("notTrue is implied by 'exact predicate is not true' (never loses a kept row)") {
    preds.foreach { p =>
      val kept = corpus.filter(not(coalesce(Pred.toColumn(p), lit(false))))
      val lost = kept.filter(not(coalesce(Pred.toColumn(Pred.notTrue(p)), lit(false))))
      assert(lost.count() == 0, s"notTrue dropped kept rows for $p")
    }
  }

  test("null-literal comparisons compile to Opaque and stay 3VL-exact under NOT") {
    // NOT (x = NULL) is never true under 3VL; a structural negate of
    // AlwaysFalse would claim AlwaysTrue and a DELETE on it would wipe
    // the table. The compile must degrade to Opaque instead.
    val sqls = Seq(
      "NOT (x = NULL)", "x = NULL", "NOT (x <> NULL)", "NOT (x < NULL)",
      "NOT (x <=> 2)", "NOT (x <=> NULL)")
    sqls.foreach { sql =>
      val p = PredSql.compile(spark, sql)
      assert(p != AlwaysTrue && p != AlwaysFalse, s"$sql compiled to $p")
      // row-exactness: Pred's column matches Spark's own evaluation
      val viaPred = corpus.filter(coalesce(Pred.toColumn(p), lit(false)))
        .selectExpr("coalesce(cast(x as string),'_') AS x")
        .collect().map(_.getString(0)).sorted.toSeq
      val viaSpark = corpus.filter(coalesce(expr(sql), lit(false)))
        .selectExpr("coalesce(cast(x as string),'_') AS x")
        .collect().map(_.getString(0)).sorted.toSeq
      assert(viaPred == viaSpark, s"$sql: pred rows $viaPred != spark rows $viaSpark")
      // and the over-approximations stay sound for it
      assert(Pred.mayTrue(p) == AlwaysTrue || Pred.toColumn(Pred.mayTrue(p)) != null)
    }
    // provablyAll must never claim a file for these (Opaque hardens false)
    val eval = new StatsEvaluator(
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("x", org.apache.spark.sql.types.LongType))),
      Map.empty[Int, Seq[graft.format.PartitionField]])
    val anyFile = graft.format.FileEntry("f", Map.empty, 10L, 1L, 0, Map.empty)
    sqls.foreach { sql =>
      val p = PredSql.compile(spark, sql)
      assert(!eval.provablyAll(p, anyFile), s"provablyAll claimed file for $sql")
    }
  }

  test("DELETE on a never-true NOT(col = NULL) condition is a no-op, not a wipe") {
    import graft.format._
    // NOT IN with a NULL in its list is never TRUE either: no file may
    // count as fully matching, even one whose stats exclude every listed
    // value (5000 is outside 0..999), or the delete rewrites it for nothing
    Seq("NOT (k = NULL)", "k NOT IN (5000, NULL)").foreach { cond =>
      val dir = java.nio.file.Files.createTempDirectory("graft-nulllit-").toString
      val catalog = new LakeCatalog(dir)
      val engine = new graft.commands.LakeEngine(spark, catalog)
      val df = spark.range(0, 1000).select(col("id").as("k"), (col("id") % 3).as("v"))
      val t = catalog.createTable("t", df.schema, sortOrder = Seq(SortField("k")))
      engine.insert(t, df)
      val snapshots = LakeTable.load(t.location).metadata.snapshots.size
      engine.delete(t, cond)
      val after = LakeTable.load(t.location)
      assert(engine.scan(after).toDF().count() == 1000,
        s"DELETE $cond must keep every row under 3VL")
      assert(after.metadata.snapshots.size == snapshots, s"DELETE $cond added a snapshot")
    }
  }

  test("insertOverwrite of an empty source on a never-true NOT IN (.., NULL) keeps every row") {
    import graft.format._
    val dir = java.nio.file.Files.createTempDirectory("graft-notinnull-").toString
    val catalog = new LakeCatalog(dir)
    val engine = new graft.commands.LakeEngine(spark, catalog)
    val df = spark.range(10, 20).select(col("id").as("k"))
    val t = catalog.createTable("t", df.schema, sortOrder = Seq(SortField("k")))
    engine.insert(t, df)
    engine.insertOverwrite(t, df.limit(0), "k NOT IN (5, NULL)")
    assert(engine.scan(LakeTable.load(t.location)).toDF().count() == 10,
      "an overwrite filter that is never TRUE must remove no file")
  }

  test("DELETE rebuild pushes the keep prefilter into the parquet scan") {
    import graft.format._
    val dir = java.nio.file.Files.createTempDirectory("graft-pushdown-").toString
    val catalog = new LakeCatalog(dir)
    val engine = new graft.commands.LakeEngine(spark, catalog)
    val df = spark.range(0, 5000).select(
      col("id").as("k"), (col("id") % 7).cast("double").as("v"))
    val t = catalog.createTable("t", df.schema, sortOrder = Seq(SortField("k")))
    engine.insert(t, df)
    // capture the rebuild scan's plan via the listener-free route: run
    // the delete and assert on the LAST executed rewrite by re-building
    // the same keep filter shape and checking it is source-pushable
    val keep = Pred.toColumn(Pred.notTrue(
      PredSql.compile(spark, "k >= 100 AND k < 200", t.schema)))
    val scan = new TableScan(spark, t).toDF().filter(keep)
    val pushed = scan.queryExecution.executedPlan.toString
    assert(pushed.contains("PushedFilters: [Or(") ||
      pushed.contains("PushedFilters: [IsNotNull") ||
      pushed.contains("PushedFilters: [Or"),
      s"keep prefilter not pushed:\n$pushed")
    // and the full DELETE stays correct with nulls in play
    engine.delete(t, "k >= 100 AND k < 200")
    val t2 = LakeTable.load(t.location)
    assert(engine.scan(t2).toDF().count() == 4900)
    assert(engine.scan(t2).toDF().filter(col("k").between(100, 199)).count() == 0)
  }
}
