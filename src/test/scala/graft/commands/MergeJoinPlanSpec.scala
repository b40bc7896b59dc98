package graft.commands

import graft._
import graft.format._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Round-12 plan pins for the merge pipeline's join strategies (the
  * Exp18 decision): in CHANGES mode the full-outer diff join must build
  * a shuffled-hash table from the batch-proportional source side (not
  * sort both sides — the touched-file side is table-scale), and the
  * rewrite's (_file,_pos) anti join must hash the bounded actioned-key
  * pairs. In SNAPSHOT mode the diff must stay sort-merge: the source is
  * table-scale there and Spark's hash build fails outright (no spill)
  * when it can't acquire build memory. A regression that silently
  * flips either shape fails here instead of surfacing as a scale
  * incident. */
class MergeJoinPlanSpec extends SparkSpec {

  /** Runs `body` while capturing every executed physical plan whose
    * tree references `scope` (the test's own table directory) — the
    * execution-listener bus is asynchronous and shared, so a previous
    * test's trailing events can arrive during this test's window. */
  private def capturePlans(scope: String)(body: => Unit): Seq[String] = {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val l = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
        // optimized plan keeps the JoinHint markers (physical plan
        // erases them); record both for hint- and shape-assertions
        val s = qe.optimizedPlan.toString + "\n" + qe.executedPlan.toString
        if (s.contains(scope)) plans.add(s)
      }
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    try {
      body
      // the execution-listener bus is asynchronous; poll briefly
      val deadline = System.currentTimeMillis() + 10000
      while (plans.isEmpty && System.currentTimeMillis() < deadline) Thread.sleep(100)
      Thread.sleep(500)
    } finally spark.listenerManager.unregister(l)
    import scala.jdk.CollectionConverters._
    plans.asScala.toSeq
  }

  private def mkTable(dir: String): (LakeEngine, LakeTable) = {
    val catalog = new LakeCatalog(dir)
    val engine = new LakeEngine(spark, catalog)
    val df = spark.range(0, 4000).select(
      col("id").as("k"), (col("id") % 7).cast("double").as("v"))
    val t = catalog.createTable("t", df.schema,
      sortOrder = Seq(SortField("k")),
      properties = Map("write.max-records-per-file" -> "1000"))
    engine.insert(t, df)
    (engine, t)
  }

  test("changes-mode scd1: diff join drops unmatched target rows (right-outer SHJ), rewrite keys broadcast") {
    // Round 15: the source-present filter lets Catalyst eliminate the
    // dead outer side — the diff join must plan as RIGHT outer (the
    // unmatched-target op-N rows are never emitted, so the persisted
    // diff is O(source), not O(candidate-file rows)) and still build
    // shuffled-hash from the batch-proportional source. The rewrite's
    // bounded (_file,_pos) key list must BROADCAST into the anti join
    // (Exp32: SHJ shuffles the full-width file rows for nothing), with
    // the shuffled-hash fallback reserved for key lists past the budget.
    val dir = java.nio.file.Files.createTempDirectory("graft-mjp1-").toString
    val (engine, t) = mkTable(dir)
    val src = spark.range(1200, 1261).select(
        col("id").as("k"), lit(99.0).as("v"), lit("U").as("op"))
      .unionByName(spark.range(10000, 10010).select(
        col("id").as("k"), lit(5.0).as("v"), lit("I").as("op")))
    // test-sized files sit under Merge.splitRewriteMinBytes, so the
    // rewrite takes the clustered shape whose plans this capture sees
    // (the split rewrite's per-file scan runs in a forked session;
    // ClusterBoundsSpec pins the split's file layout)
    val plans = capturePlans(dir) {
      Merge.scd1(engine, t, src, Merge.Scd1Options(
        keyCols = Seq("k"), operationTypeColumn = Some("op")))
    }
    assert(plans.exists(p => p.contains("ShuffledHashJoin") && p.contains("RightOuter")),
      s"no shuffled-hash right-outer diff join in any captured plan:\n${plans.mkString("\n---\n")}")
    assert(!plans.exists(_.contains("FullOuter")),
      "changes-mode diff stayed full-outer: unmatched-target drop did not fire")
    assert(plans.exists(p => p.contains("BroadcastHashJoin") && p.contains("LeftAnti")),
      "rewrite (_file,_pos) anti join did not broadcast the bounded key list")
    assert(!plans.exists(p => p.contains("SortMergeJoin") && p.contains("RightOuter")),
      "a right-outer sort-merge join survived in changes mode")
  }

  test("snapshot-mode scd1: no shuffle_hash hint injected — Catalyst decides from stats") {
    // The invariant is NOT "snapshot = sort-merge": on small stats the
    // planner may legitimately hash-join. The invariant is that WE
    // never force a hash build from a side that is table-scale by
    // construction — i.e. snapshot mode must leave the join unhinted
    // so a large source's size statistics steer Catalyst back to SMJ.
    val dir = java.nio.file.Files.createTempDirectory("graft-mjp2-").toString
    val (engine, t) = mkTable(dir)
    // snapshot source: the full new table state
    val src = spark.range(0, 4000).select(
      col("id").as("k"), (col("id") % 5).cast("double").as("v"))
    val plans = capturePlans(dir) {
      Merge.scd1(engine, t, src, Merge.Scd1Options(keyCols = Seq("k")))
    }
    assert(plans.exists(_.contains("FullOuter")),
      s"no full-outer diff observed:\n${plans.mkString("\n---\n")}")
    // line-scoped: the hint marker must sit ON the full-outer join node
    // itself (other joins in the same tree — the rewrite's anti join —
    // are legitimately hinted even in snapshot mode: their build side
    // is 16-byte (_file,_pos) pairs, not source rows)
    val hintedFullOuter = plans.flatMap(_.linesIterator)
      .filter(l => l.contains("Join FullOuter") && l.contains("shuffle_hash"))
    assert(hintedFullOuter.isEmpty,
      s"snapshot-mode diff join carries a shuffle_hash hint:\n${hintedFullOuter.mkString("\n")}")
  }
}
