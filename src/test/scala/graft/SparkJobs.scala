package graft

import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** Spark job counting for specs that pin how many jobs an operation
  * starts. */
object SparkJobs {

  /** Runs `body` and counts the Spark jobs it started. A marker job in
    * its own group runs afterwards: the listener bus delivers in order,
    * so once the marker is seen every job of `body` has been counted. */
  def during[A](spark: SparkSession)(body: => A): (A, Int) = {
    val sc = spark.sparkContext
    val group = s"jobs-${java.util.UUID.randomUUID()}"
    val marker = s"$group-marker"
    val seen = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        seen.add(Option(j.properties).flatMap(p =>
          Option(p.getProperty("spark.jobGroup.id"))).getOrElse(""))
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "counted body", interruptOnCancel = false)
      val out = try body finally sc.clearJobGroup()
      sc.setJobGroup(marker, "listener marker", interruptOnCancel = false)
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      while (!seen.contains(marker) && System.nanoTime() < deadline) Thread.sleep(10)
      assert(seen.contains(marker), "listener never saw the marker job")
      (out, seen.asScala.count(_ == group))
    } finally sc.removeSparkListener(listener)
  }
}
