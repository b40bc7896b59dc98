package perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import graft.format.{FileEntry, LakeTable, ManifestCache}
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** JVM side of the lake-path benchmark. `run.py` writes a plan (the seeded
  * operation stream), starts this main, and reads back one JSON file of
  * raw measurements; percentiles, result checks and the printed metrics
  * are computed there.
  *
  * Usage: perfbench.Main --plan plan.json --out out.json --work <dir>
  */
object Main {
  val mapper: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    val plan = mapper.readTree(new java.io.File(opts("--plan")))
    val work = Paths.get(opts("--work")).toAbsolutePath
    val cpus = plan.get("cpus").asInt()
    val spark = SparkSession.builder()
      .withExtensions(new graft.sqlext.LakeSqlExtensions)
      .master(s"local[$cpus]")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("spark-warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val ctx = new Ctx(spark, plan, work)
    ctx.out("session_s") = (Clock.now() -
      Clock.fromEpochMs(ManagementFactory.getRuntimeMXBean.getStartTime)) / 1000.0
    try {
      val w: Workload = plan.get("workload").asText() match {
        case "lake_read" => new LakeRead(ctx)
        case "lake_write" => new LakeWrite(ctx)
      }
      ctx.runAll(w)
      Files.writeString(Paths.get(opts("--out")), mapper.writeValueAsString(ctx.out))
    } finally spark.stop()
  }
}

/** One operation's record. `extra` carries what the result checks and
  * the per-layer metrics need. */
final case class OpRecord(id: Int, cls: String, t0: Double, t1: Double, ok: Boolean,
    err: String, traced: Boolean, gcMs: Long, manifestHits: Long, manifestMisses: Long,
    extra: Map[String, Any]) {
  def toMap: Map[String, Any] = Map("id" -> id, "cls" -> cls, "t0" -> t0, "t1" -> t1,
    "ms" -> (t1 - t0), "ok" -> ok, "err" -> err, "traced" -> traced, "gc_ms" -> gcMs,
    "manifest_hits" -> manifestHits, "manifest_misses" -> manifestMisses) ++ extra
}

/** A workload: set-up (repeatable into fresh warehouses) from the inputs
  * run.py staged, warm-up, and one operation of the plan at a time. */
trait Workload {
  /** Create and bulk-load the workload's tables under `warehouse`. */
  def load(warehouse: Path): Unit
  def warmup(ops: Seq[JsonNode]): Unit
  /** Run plan operation `op`, recording it through `ctx.timed`. */
  def run(op: JsonNode): Unit
  /** Final state, written to the output under "final". */
  def finish(): Map[String, Any]
}

final class Ctx(val spark: SparkSession, val plan: JsonNode, val work: Path) {
  val out = scala.collection.mutable.LinkedHashMap.empty[String, Any]
  val trace = new Trace(spark, plan.get("trace").asInt() == 1)
  val records = ArrayBuffer.empty[OpRecord]
  val heapMb = ArrayBuffer.empty[Double]
  val loadMs = ArrayBuffer.empty[Double]
  private var nextId = 0
  /** Whether the plan operation in flight is one the traced run traces. */
  private var tracedOp = false

  def stageDir(name: String): String = work.resolve("stage").resolve(name).toString
  /** Rows of a staged table (known from the plan, so set-up runs no count). */
  def stagedRows(name: String): Long = plan.get("table_rows").get(name).asLong()

  /** Time `body` as one operation. The traced run traces the operations
    * its plan marks; arming and disarming the tracer stays outside the
    * timed interval. */
  def timed[T](cls: String)(body: => T)(extra: T => Map[String, Any]): Option[T] = {
    val id = nextId; nextId += 1
    val traced = trace.enabled && tracedOp
    trace.begin(id, traced)
    val (gc0, h0, m0) = (Jvm.gcMs(), ManifestCache.hits, ManifestCache.misses)
    val t0 = Clock.now()
    val res = try Right(trace.span("op")(body)) catch { case NonFatal(e) => Left(e) }
    val t1 = Clock.now()
    val (gc1, h1, m1) = (Jvm.gcMs(), ManifestCache.hits, ManifestCache.misses)
    trace.end()
    val ex = res.fold(_ => Map.empty[String, Any], v =>
      try extra(v) catch { case NonFatal(e) => Map("extra_err" -> e.toString) })
    records += OpRecord(id, cls, t0, t1, res.isRight,
      res.fold(e => s"${e.getClass.getName}: ${e.getMessage}".take(400), _ => ""),
      traced, gc1 - gc0, h1 - h0, m1 - m0, ex)
    res.toOption
  }

  /** A record for a sub-operation timed by the layer itself. */
  def subRecord(cls: String, t0: Double, t1: Double, traced: Boolean,
      extra: Map[String, Any]): Unit = {
    records += OpRecord(nextId, cls, t0, t1, ok = true, "", traced, 0L, 0L, 0L, extra)
    nextId += 1
  }

  def heapCheckpoint(): Unit = heapMb += Jvm.liveHeapMb()

  def timeLoad[T](body: => T): T = {
    val t0 = Clock.now()
    try body finally loadMs += Clock.now() - t0
  }

  def runAll(w: Workload): Unit = {
    val rounds = plan.get("setup_rounds").asInt()
    val roundS = (1 to rounds).map { r =>
      val t0 = Clock.now()
      w.load(work.resolve(s"warehouse-$r"))
      (Clock.now() - t0) / 1000.0
    }
    out("rounds_s") = roundS
    out("load_ms") = loadMs.toList
    // one operation of each class, one after the other
    val w0 = Clock.now()
    out("warmup_ops") = plan.get("warmup").elements().asScala.map { op =>
      val t0 = Clock.now()
      w.warmup(Seq(op))
      op.get("cls").asText() -> (Clock.now() - t0) / 1000.0
    }.toList.toMap
    out("warmup_s") = (Clock.now() - w0) / 1000.0
    heapCheckpoint()

    // Every round of the plan runs, so every run takes the same samples;
    // only a run far slower than planned stops early, at a round boundary.
    val ops = plan.get("ops").elements().asScala.toIndexedSeq
    val heapEvery = plan.get("heap_every").asInt()
    val perRound = plan.get("per_round").asInt()
    val tLoop = Clock.now()
    val stopAt = tLoop + plan.get("max_loop_s").asDouble() * 1000
    var i = 0
    while (i < ops.length && !(i % perRound == 0 && Clock.now() > stopAt)) {
      if (i > 0 && i % heapEvery == 0) heapCheckpoint()
      tracedOp = ops(i).get("traced").asBoolean()
      w.run(ops(i))
      i += 1
    }
    out("loop_s") = (Clock.now() - tLoop) / 1000.0
    out("rounds_run") = i / perRound
    heapCheckpoint()
    out("final") = w.finish()
    out("heap_mb") = heapMb.toList
    out("ops") = records.map(_.toMap).toList
    if (trace.enabled) out("trace") = traceOut()
  }

  private def traceOut(): Map[String, Any] = Map(
    "spans" -> trace.allSpans.map(s => List(s.id, s.name, s.start, s.end, s.parent, s.op)),
    "tasks" -> trace.tasks.asScala.map { case (a, b) => List(a, b) }.toList,
    "jobs" -> trace.jobs.asScala.toList,
    "stages" -> trace.stages.asScala.toList,
    "queries" -> trace.queries.asScala.map { case (t, a, o, f) => List(t, a, o, f) }.toList,
    "max_bucket" -> trace.maxBucket.asScala.map { case (t, v) => List(t, v) }.toList,
    "scans" -> trace.scans.map { case (op, e) => Map("op" -> op, "plan_ms" -> e.planMs,
      "total_files" -> e.totalFiles, "matched_files" -> e.matchedFiles,
      "matched_records" -> e.matchedRecords) }.toList,
    "commits" -> trace.commits.map { case (op, e, t) => Map("op" -> op, "t" -> t,
      "ms" -> e.metrics.elapsedMs, "attempts" -> e.attempts,
      "added_records" -> e.metrics.addedRecords, "added_files" -> e.metrics.addedFiles) }.toList)
}

object Lake {
  def files(t: LakeTable): Seq[FileEntry] = t.refresh().currentFiles()

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }

  def copyTree(src: Path, dst: Path): Unit = {
    val s = Files.walk(src)
    try s.iterator().asScala.foreach { p =>
      val t = dst.resolve(src.relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else { Files.createDirectories(t.getParent); Files.copy(p, t) }
    } finally s.close()
  }

  /** Bytes and rows of the live data files of `tables`. */
  def stored(tables: Seq[LakeTable]): Map[String, Any] = {
    val fs = tables.flatMap(files)
    Map("bytes" -> fs.map(_.sizeBytes).sum, "rows" -> fs.map(_.recordCount).sum)
  }

  /** Files added by an operation, for the write-layer metrics. */
  def added(before: Seq[FileEntry], after: Seq[FileEntry]): Map[String, Any] = {
    val old = before.map(_.path).toSet
    val nu = after.filterNot(f => old.contains(f.path))
    Map("new_files" -> nu.size, "new_bytes" -> nu.map(_.sizeBytes).sum,
      "files_before" -> before.size,
      "files" -> after.map(_.path).toList)
  }
}
