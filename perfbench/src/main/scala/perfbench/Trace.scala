package perfbench

import graft.metrics.{CommitEvent, MetricCollector, MetricCollectors, ScanEvent}
import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.ListenerBusAccess
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** One run's clock: milliseconds since the benchmark process started
  * measuring, with nanosecond resolution. Epoch timestamps that Spark and
  * graft report (task launch/finish, stream trigger starts) map onto it. */
object Clock {
  private val baseNano = System.nanoTime()
  private val baseEpochMs = System.currentTimeMillis()
  def now(): Double = (System.nanoTime() - baseNano) / 1e6
  def fromEpochMs(ms: Long): Double = (ms - baseEpochMs).toDouble
}

/** A span: one call into a layer, or a layer's own event mapped to an
  * interval. `parent` is -1 for roots and for event spans, whose parent
  * is resolved afterwards by interval containment. */
final case class Span(id: Int, name: String, start: Double, end: Double, parent: Int, op: Int)

/** Everything the traced run records. Spans and counters stay in memory
  * and are written once, when the run ends. The listeners and the metric
  * collector are registered only while a traced operation runs, so
  * untraced operations pay nothing for them. */
final class Trace(spark: SparkSession, val enabled: Boolean) {
  private val spans = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  @volatile private var op = -1
  /** Whether the operation in flight is traced (alternate operations run
    * untraced in the traced run, so the two can be compared). */
  @volatile var armed = false
  /** Whether the last operation was traced, for spans a layer reports
    * only after the call returned (stream triggers). */
  @volatile var lastTraced = false

  // counters attributed to operations by time window after the run
  val tasks = new ConcurrentLinkedQueue[(Double, Double)]()
  val jobs = new ConcurrentLinkedQueue[Double]()
  val stages = new ConcurrentLinkedQueue[Double]()
  val maxBucket = new ConcurrentLinkedQueue[(Double, Long)]()
  /** (planning end, analysis ms, optimization + planning ms, has a graft plan node) */
  val queries = new ConcurrentLinkedQueue[(Double, Double, Double, Boolean)]()
  val scans = ArrayBuffer.empty[(Int, ScanEvent)]
  val commits = ArrayBuffer.empty[(Int, CommitEvent, Double)]

  private val collector = new MetricCollector {
    override def onScan(e: ScanEvent): Unit = Trace.this.synchronized {
      val end = Clock.now()
      scans += op -> e
      addSpan("scan.plan", end - e.planMs, end)
    }
    override def onCommit(e: CommitEvent): Unit = Trace.this.synchronized {
      val end = Clock.now()
      commits += ((op, e, end))
      addSpan("format.commit", end - e.metrics.elapsedMs, end)
    }
  }

  private val sparkListener = new SparkListener {
    override def onJobStart(j: SparkListenerJobStart): Unit = jobs.add(Clock.fromEpochMs(j.time))
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
      val info = s.stageInfo
      info.submissionTime.foreach(t => stages.add(Clock.fromEpochMs(t)))
      val end = Clock.fromEpochMs(info.completionTime.getOrElse(System.currentTimeMillis()))
      info.accumulables.values
        .filter(a => a.name.exists(_.endsWith("max_bucket_size")))
        .foreach(a => a.value.foreach(v => maxBucket.add(end -> v.toString.toLong)))
    }
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
      if (t.taskInfo != null)
        tasks.add(Clock.fromEpochMs(t.taskInfo.launchTime) -> Clock.fromEpochMs(t.taskInfo.finishTime))
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val ph = qe.tracker.phases
      def ms(k: String) = ph.get(k).map(_.durationMs.toDouble).getOrElse(0.0)
      val fast = qe.executedPlan.exists(_.getClass.getName.startsWith("graft."))
      // stamped when planning ended, inside the operation (this bus is async)
      val planned = ph.get("planning").map(p => Clock.fromEpochMs(p.endTimeMs)).getOrElse(Clock.now())
      queries.add((planned, ms("analysis"), ms("optimization") + ms("planning"), fast))
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  /** Operation `id` is about to start; arm the tracer if `traced`. Events
    * of earlier operations still queued on the listener bus are delivered
    * first, so none reach the listeners. */
  def begin(id: Int, traced: Boolean): Unit = {
    op = id
    armed = enabled && traced
    lastTraced = armed
    if (armed) {
      ListenerBusAccess.drain(spark.sparkContext)
      spark.sparkContext.addSparkListener(sparkListener)
      spark.listenerManager.register(qeListener)
      MetricCollectors.register(collector)
    }
  }

  /** The operation has returned: deliver its queued events, then disarm. */
  def end(): Unit =
    if (armed) {
      MetricCollectors.unregister(collector)
      ListenerBusAccess.drain(spark.sparkContext)
      spark.listenerManager.unregister(qeListener)
      spark.sparkContext.removeSparkListener(sparkListener)
      armed = false
    }

  /** A span around one call into a layer, made from the calling thread. */
  def span[T](name: String)(body: => T): T =
    if (!armed) body
    else {
      val id = synchronized {
        val id = spans.length
        spans += Span(id, name, Clock.now(), Double.NaN, stack.headOption.getOrElse(-1), op)
        stack = id :: stack
        id
      }
      try body
      finally synchronized {
        spans(id) = spans(id).copy(end = Clock.now())
        stack = stack.tail
      }
    }

  /** An interval reported by a layer itself (an event with a duration);
    * `late` attributes it to the operation that just ended. */
  def addSpan(name: String, start: Double, end: Double, late: Boolean = false): Unit =
    if (armed || (late && lastTraced)) synchronized { spans += Span(spans.length, name, start, end, -1, op) }

  def allSpans: Seq[Span] = synchronized(spans.toList)
}

/** JVM-wide readings: collector time and live heap. */
object Jvm {
  private val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala.toList
  def gcMs(): Long = gcs.map(_.getCollectionTime.max(0L)).sum

  /** Heap in use right after a full collection, in MB. Two collections
    * with a pause between: the first lets Spark's context cleaner drop
    * broadcast and shuffle blocks whose handles died, the second frees them. */
  def liveHeapMb(): Double = {
    System.gc()
    Thread.sleep(100)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }
}
