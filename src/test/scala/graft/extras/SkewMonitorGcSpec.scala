package graft.extras

import graft.{SparkSpec, Tables}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicBoolean
import org.apache.logging.log4j.LogManager
import org.apache.logging.log4j.core.LogEvent
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.logging.log4j.core.impl.Log4jContextFactory
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** `minhashPairs` builds its own [[Dedup.BucketSkewMonitor]] when the
  * caller passes none, and nothing outside the plan keeps it alive. Spark
  * holds accumulators weakly, and when one is collected while tasks that
  * update it are still in flight, the scheduler logs "attempted to access
  * non-existent accumulator" and drops the update. With the collector
  * running throughout the curation shape that drops the later document of
  * each near-duplicate pair, such drops do occur, but only for SQL metrics
  * of plans whose lineage a lazy local checkpoint cut; every skew-monitor
  * update arrives. */
class SkewMonitorGcSpec extends SparkSpec {

  /** Logs through Spark's own logging setup, to probe the capture. */
  private object SparkSideLog extends org.apache.spark.internal.Logging {
    def error(msg: String): Unit = logError(msg)
  }

  test("the internal skew monitor loses no accumulator update across GC") {
    val sc = spark.sparkContext // Spark's logging is set up before the capture
    val lostIds = ConcurrentHashMap.newKeySet[Long]()
    val lostId = """non-existent accumulator (\d+)""".r
    val capture = new AbstractAppender("lost-accumulators", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = {
        val text = e.getMessage.getFormattedMessage +
          Option(e.getThrown).map(t => " " + t.getMessage).getOrElse("")
        lostId.findAllMatchIn(text).foreach(m => lostIds.add(m.group(1).toLong))
      }
    }
    // Spark's classes and this suite may log through different logger
    // contexts: listen on the root logger of every one
    val roots = LogManager.getFactory.asInstanceOf[Log4jContextFactory]
      .getSelector.getLoggerContexts.asScala.map(_.getConfiguration.getRootLogger)
    capture.start()
    roots.foreach(_.addAppender(capture, null, null))
    SparkSideLog.error("probe: non-existent accumulator 0")
    assert(lostIds.remove(0L), "log capture is not attached")

    val skewIds = new ConcurrentHashMap[Long, String]()
    val sqlMetricIds = new ConcurrentHashMap[Long, String]()
    def planMetrics(p: SparkPlanInfo): Unit = {
      p.metrics.foreach(m => sqlMetricIds.put(m.accumulatorId, m.name))
      p.children.foreach(planMetrics)
    }
    val listener = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        e.taskInfo.accumulables.foreach { a =>
          a.name.filter(_.startsWith("graft.dedup.skew.")).foreach(skewIds.put(a.id, _))
        }
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart => planMetrics(s.sparkPlanInfo)
        case u: SparkListenerSQLAdaptiveExecutionUpdate => planMetrics(u.sparkPlanInfo)
        case _ =>
      }
    }
    sc.addSparkListener(listener)
    val collecting = new AtomicBoolean(true)
    val gc = new Thread(() => while (collecting.get) { System.gc(); Thread.sleep(20) })
    try {
      val docs = Tables.documents(spark, sf).select("doc_id", "text")
      // every text twice under two ids, so the identical-text collapse
      // has real groups to count
      val corpus = docs.unionByName(docs.select((col("doc_id") + 100000L).as("doc_id"), col("text")))
      gc.start()
      (1 to 2).foreach { _ =>
        // no reference to a monitor survives this expression
        val kept = corpus.join(
          Dedup.minhashPairs(corpus, "doc_id", "text").select(col("id_b").as("doc_id")),
          Seq("doc_id"), "left_anti")
        System.gc()
        val n = kept.localCheckpoint(eager = true).count()
        assert(n > 0 && n <= docs.count())
      }
    } finally {
      collecting.set(false)
      gc.join()
    }
    // the listener bus delivers events asynchronously
    val expected = Set("graft.dedup.skew.exact_groups.max_bucket_size",
      "graft.dedup.skew.minhash.max_bucket_size")
    def settled = expected.subsetOf(skewIds.values.asScala.toSet) &&
      lostIds.asScala.forall(sqlMetricIds.containsKey)
    val deadline = System.currentTimeMillis() + 10000L
    while (!settled && System.currentTimeMillis() < deadline) Thread.sleep(20)
    sc.removeSparkListener(listener)
    roots.foreach(_.removeAppender(capture.getName))
    capture.stop()
    assert(expected.subsetOf(skewIds.values.asScala.toSet), skewIds)
    val lost = lostIds.asScala.toSeq.sorted
    assert(!lost.exists(skewIds.containsKey), s"skew-monitor updates lost: $lost")
    assert(lost.forall(sqlMetricIds.containsKey),
      "lost updates of accumulators that are no SQL metric: " +
        lost.map(id => s"$id=${Option(sqlMetricIds.get(id)).getOrElse("?")}").mkString(", "))
  }
}
