package graft.scan

import graft.SparkSpec
import graft.commands.LakeEngine
import graft.format._
import graft.metrics.{MetricCollector, MetricCollectors, ScanEvent}
import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._

/** Condition strings whose parsed shape is not a Catalyst comparison —
  * BETWEEN (the `between` function), LIKE and `startswith` — compile to
  * prunable [[Pred]]s: the bound conjunction and the prefix test. Pins
  * the compiled shapes, their row-exactness against Spark's own
  * evaluation, and the file sets DML statements then plan. */
class PredSqlSpec extends SparkSpec {

  private lazy val corpus = {
    import spark.implicits._
    Seq[(java.lang.Long, String)](
      (null, null), (1L, "a"), (2L, "ab"), (3L, "abc"), (5L, "b"),
      (7L, "a_b"), (10L, null), (null, "ab%c"), (0L, ""), (-3L, "xab"))
      .toDF("x", "s")
  }

  private val schema = StructType(Seq(StructField("x", LongType), StructField("s", StringType)))

  /** The compiled Pred selects exactly the rows Spark's own evaluation
    * of `sql` selects. */
  private def assertRowExact(sql: String, p: Pred): Unit = {
    def rows(c: org.apache.spark.sql.Column) = corpus.filter(coalesce(c, lit(false)))
      .selectExpr("concat_ws('|', coalesce(cast(x as string), '_'), coalesce(s, '_'))")
      .collect().map(_.getString(0)).sorted.toSeq
    assert(rows(Pred.toColumn(p)) == rows(expr(sql)), s"$sql compiled to $p")
  }

  test("BETWEEN and NOT BETWEEN compile to the bound conjunction and its negation") {
    val cases = Seq(
      "x BETWEEN 1 AND 5" -> And(Ge("x", 1), Le("x", 5)),
      "x NOT BETWEEN 1 AND 5" -> Or(Lt("x", 1), Gt("x", 5)),
      "x BETWEEN 1 AND 5 AND s = 'ab'" -> And(And(Ge("x", 1), Le("x", 5)), Eq("s", "ab")))
    cases.foreach { case (sql, want) =>
      val p = PredSql.compile(spark, sql, schema)
      assert(p == PredSql.coerce(want, schema), s"$sql compiled to $p")
      assertRowExact(sql, p)
    }
    // a NULL bound keeps that side Opaque: never a constant under NOT
    Seq("x BETWEEN NULL AND 5", "x NOT BETWEEN 1 AND NULL").foreach { sql =>
      val p = PredSql.compile(spark, sql, schema)
      assert(p.toString.contains("Opaque"), s"$sql compiled to $p")
      assertRowExact(sql, p)
    }
  }

  test("prefix LIKE and startswith compile to StartsWith; other patterns stay Opaque") {
    Seq("s LIKE 'ab%'", "startswith(s, 'ab')", "STARTSWITH(s, 'ab')").foreach { sql =>
      val p = PredSql.compile(spark, sql, schema)
      assert(p == StartsWith("s", "ab"), s"$sql compiled to $p")
      assertRowExact(sql, p)
    }
    Seq("s LIKE 'a_b%'", "s LIKE '%ab'", "s LIKE 'ab%c'", "s LIKE 'ab'",
        "s LIKE 'a\\\\_%'", "s LIKE 'a!%%' ESCAPE '!'", "s NOT LIKE 'ab%'",
        "NOT startswith(s, 'ab')").foreach { sql =>
      val p = PredSql.compile(spark, sql, schema)
      assert(p.isInstanceOf[Opaque], s"$sql compiled to $p")
      assertRowExact(sql, p)
    }
    // prefix pruning on a non-string column would compare number strings
    assert(PredSql.compile(spark, "x LIKE '1%'", schema).isInstanceOf[Opaque])
  }

  /** Engine over a fresh warehouse and a table sorted on `sortCol`,
    * built by ten appends of `rows(0..9)` — one file each, with
    * disjoint, increasing sort-key ranges. */
  private def tenFileTable(name: String, rows: Int => org.apache.spark.sql.DataFrame,
      sortCol: String): (LakeEngine, String, LakeTable) = {
    val wh = java.nio.file.Files.createTempDirectory("graft-predsql-").toString
    val engine = new LakeEngine(spark, new LakeCatalog(wh))
    val t = engine.catalog.createTable(name, rows(0).schema, sortOrder = Seq(SortField(sortCol)))
    (0 until 10).foreach(i => engine.insert(engine.table(name), rows(i)))
    assert(engine.table(name).currentFiles().size == 10)
    (engine, wh, t)
  }

  /** Scan events the table's planning emitted while `body` ran. */
  private def scansDuring(location: String)(body: => Unit): Seq[ScanEvent] = {
    val seen = new ConcurrentLinkedQueue[ScanEvent]()
    val rec = new MetricCollector { override def onScan(e: ScanEvent): Unit = seen.add(e) }
    MetricCollectors.register(rec)
    try body finally MetricCollectors.unregister(rec)
    seen.asScala.toSeq.filter(_.tableLocation == location)
  }

  private def keyed(i: Int) = spark.range(i * 1000L, (i + 1) * 1000L, 1, 1)
    .select(col("id").as("k"), lit(0L).as("v"))

  test("UPDATE with BETWEEN plans only the range's files, like the >=/<= form") {
    val (engine, _, t) = tenFileTable("t", keyed, "k")
    val matched = Seq("k BETWEEN 2100 AND 2399", "k >= 2100 AND k <= 2399").map { cond =>
      val scans = scansDuring(t.location)(engine.update(engine.table("t"), cond, Map("v" -> "v + 1")))
      assert(scans.nonEmpty, s"no scan planned for $cond")
      scans.head.matchedFiles
    }
    assert(matched.head <= 2 && matched.head == matched(1), s"matched files $matched")
    assert(engine.scan(engine.table("t")).toDF().filter(col("v") === 2).count() == 300)
  }

  test("SQL UPDATE lake.t ... WHERE k BETWEEN plans only the range's files") {
    val (engine, wh, t) = tenFileTable("sqlt", keyed, "k")
    val prev = spark.conf.getOption("spark.graft.warehouse")
    spark.conf.set("spark.graft.warehouse", wh)
    try {
      val scans = scansDuring(t.location)(
        spark.sql("UPDATE lake.sqlt SET v = 7 WHERE k BETWEEN 5100 AND 5399").collect())
      assert(scans.nonEmpty && scans.head.matchedFiles <= 2, s"scans $scans")
    } finally prev.fold(spark.conf.unset("spark.graft.warehouse"))(spark.conf.set("spark.graft.warehouse", _))
    assert(engine.scan(engine.table("sqlt")).toDF().filter(col("v") === 7).count() == 300)
  }

  test("DELETE with a prefix LIKE plans only the prefix's files") {
    // file i holds strings "<letter i><4 digits>": the prefix 'd' is in file 3 only
    val lettered = (i: Int) => spark.range(0, 1000, 1, 1).select(
      concat(lit(('a' + i).toChar.toString), lpad(col("id").cast("string"), 4, "0")).as("s"),
      col("id").as("v"))
    val (engine, _, t) = tenFileTable("st", lettered, "s")
    val scans = scansDuring(t.location)(engine.delete(engine.table("st"), "s LIKE 'd%'"))
    assert(scans.nonEmpty && scans.head.matchedFiles == 1, s"scans $scans")
    val left = engine.scan(engine.table("st")).toDF()
    assert(left.count() == 9000 && left.filter(col("s").startsWith("d")).count() == 0)
  }
}
