package perfbench

import com.fasterxml.jackson.databind.JsonNode
import graft.commands.LakeEngine
import graft.extras.{Dedup, TextAnalysis}
import graft.format.{CommitMetrics, LakeCatalog, LakeTable, SortField}
import java.nio.file.{Files, Path}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._

object Rows {
  /** Result rows as JSON values; dates and decimals as the oracle prints them. */
  def toJson(rows: Array[Row]): List[List[Any]] = rows.toList.map(_.toSeq.toList.map {
    case d: java.sql.Date => d.toString
    case b: java.math.BigDecimal => b.doubleValue()
    case other => other
  })

  def commit(m: CommitMetrics): Map[String, Any] = Map(
    "added_records" -> m.addedRecords, "added_files" -> m.addedFiles,
    "removed_records" -> m.removedRecords, "removed_files" -> m.removedFiles)

  def sizedFiles(rows: Long, files: Int): Map[String, String] =
    Map("write.max-records-per-file" -> (rows / files + 1).toString)
}

/** `lake_read`: the four statement classes through `spark.sql` on `lake.*`
  * names, with writes idle. */
final class LakeRead(ctx: Ctx) extends Workload {
  import ctx.{spark, trace}
  private var catalog: LakeCatalog = _
  private var snapshots = Seq.empty[Long]
  // smallest first: the first write of a run pays the JVM's warm-up
  private val Tables = Seq("region", "nation", "supplier", "customer", "orders", "lineitem")

  def load(warehouse: Path): Unit = {
    catalog = new LakeCatalog(warehouse.toString)
    val engine = new LakeEngine(spark, catalog)
    val sorted = Map("lineitem" -> "l_shipdate", "orders" -> "o_orderkey")
    Tables.foreach { n =>
      val df = spark.read.parquet(ctx.stageDir(n))
      val props = if (sorted.contains(n)) Rows.sizedFiles(ctx.stagedRows(n), ctx.plan.get("files").asInt())
        else Map.empty[String, String]
      val t = catalog.createTable(n, df.schema, sortOrder = sorted.get(n).map(SortField(_)).toSeq,
        properties = props)
      ctx.timeLoad(engine.insert(t, df))
    }
    // orders_hist: three commits across a rename, an int -> long widening
    // and an added column, so old snapshots are read through projection
    val orders = spark.read.parquet(ctx.stageDir("orders"))
    def part(r: Int) = orders.filter(col("o_orderkey") % 3 === r)
    val v1 = part(0).select(col("o_orderkey"), col("o_custkey").cast("int"), col("o_totalprice"),
      col("o_orderdate"), col("o_orderpriority").as("o_prio"))
    val hist = catalog.createTable("orders_hist", v1.schema)
    val ids = Seq.newBuilder[Long]
    def commit(df: DataFrame): Unit = ids += ctx.timeLoad(engine.insert(hist, df)).snapshotId
    commit(v1)
    hist.renameColumn("o_prio", "o_orderpriority")
    commit(part(1).select(col("o_orderkey"), col("o_custkey").cast("int"), col("o_totalprice"),
      col("o_orderdate"), col("o_orderpriority")))
    hist.widenColumn("o_custkey", LongType)
    hist.addColumn("o_clerk", StringType)
    commit(part(2).select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
      col("o_orderdate"), col("o_orderpriority"),
      concat(lit("Clerk#"), (col("o_orderkey") % 1000).cast("string")).as("o_clerk")))
    snapshots = ids.result()
    spark.conf.set("spark.graft.warehouse", warehouse.toString)
  }

  private def sql(op: JsonNode): String =
    snapshots.zipWithIndex.foldLeft(op.get("sql").asText()) { case (s, (id, i)) =>
      s.replace(s"{snap${i + 1}}", id.toString) }

  private def query(text: String): Array[Row] = {
    val df = trace.span("sqlext.analyze") {
      val d = spark.sql(text); d.queryExecution.analyzed; d
    }
    trace.span("spark.optimize")(df.queryExecution.executedPlan)
    trace.span("spark.execute")(df.collect())
  }

  def warmup(ops: Seq[JsonNode]): Unit = ops.foreach(op => query(sql(op)))

  def run(op: JsonNode): Unit = {
    val text = sql(op)
    ctx.timed(op.get("cls").asText())(query(text))(rows =>
      Map("sql" -> text, "key" -> op.get("key").asText(), "rows" -> Rows.toJson(rows)))
  }

  def finish(): Map[String, Any] =
    Map("stored" -> Lake.stored((Tables :+ "orders_hist").map(catalog.loadTable)))
}

/** `lake_write`: the DML operations of [[LakeDml]] and the ingest cycles of
  * [[IngestCurate]] in one operation stream, on one warehouse. */
final class LakeWrite(ctx: Ctx) extends Workload {
  private val dml = new LakeDml(ctx)
  private val ingest = new IngestCurate(ctx)
  private def part(op: JsonNode): Workload = if (op.get("cls").asText() == "ingest") ingest else dml

  def load(warehouse: Path): Unit = { dml.load(warehouse); ingest.load(warehouse) }
  def warmup(ops: Seq[JsonNode]): Unit = ops.foreach(op => part(op).warmup(Seq(op)))
  def run(op: JsonNode): Unit = part(op).run(op)

  def finish(): Map[String, Any] = {
    val (d, i) = (dml.finish(), ingest.finish())
    def stored(m: Map[String, Any], k: String) =
      m("stored").asInstanceOf[Map[String, Any]](k).asInstanceOf[Long]
    i ++ Map("stored" -> Map("bytes" -> (stored(d, "bytes") + stored(i, "bytes")),
      "rows" -> (stored(d, "rows") + stored(i, "rows"))))
  }
}

/** Copy-on-write UPDATE, DELETE and SCD1/SCD2 merges through [[LakeEngine]]
  * on replicated `orders`; each operation starts from the same base
  * snapshot, restored untimed by copying the table's metadata. */
final class LakeDml(ctx: Ctx) extends Workload {
  import ctx.spark
  val EffectiveTs = java.time.LocalDateTime.parse("1999-01-01T00:00:00")
  private var catalog: LakeCatalog = _
  private var engine: LakeEngine = _
  private val clones = new java.util.concurrent.atomic.AtomicInteger()
  private val last = scala.collection.mutable.Map.empty[String, LakeTable]

  private def base = spark.read.parquet(ctx.stageDir("orders_rep"))

  def load(warehouse: Path): Unit = {
    catalog = new LakeCatalog(warehouse.toString)
    engine = new LakeEngine(spark, catalog)
    val df = base
    val props = Rows.sizedFiles(ctx.stagedRows("orders_rep"), ctx.plan.get("files").asInt())
    def create(name: String, sortCol: String, rows: DataFrame): Unit = {
      val t = catalog.createTable(name, rows.schema, sortOrder = Seq(SortField(sortCol)), properties = props)
      ctx.timeLoad(engine.insert(t, rows))
    }
    create("orders_key", "o_orderkey", df)
    create("orders_date", "o_orderdate", df)
    create("orders_scd2", "o_orderkey", df
      .withColumn("effective_start", lit("1992-01-01 00:00:00").cast("timestamp_ntz"))
      .withColumn("effective_end", lit(null).cast("timestamp_ntz")))
  }

  private def fresh(name: String): LakeTable = {
    val src = catalog.loadTable(name)
    val dst = ctx.work.resolve("clones").resolve(s"$name-${clones.incrementAndGet()}")
    Lake.copyTree(java.nio.file.Paths.get(src.location, "metadata"), dst.resolve("metadata"))
    Files.createDirectories(dst.resolve("data"))
    LakeTable.load(dst.toString)
  }

  /** The seeded change batch of a merge: updates of the keys the plan
    * selects (price + 1) plus new keys copied from a range of old ones. */
  private def changes(op: JsonNode): DataFrame = {
    val k = col("o_orderkey")
    val sel = op.get("update_sql").asText()
    val upd = base.filter(expr(sel)).withColumn("o_totalprice", col("o_totalprice") + 1.0)
      .withColumn("op", lit("U"))
    val ins = base.filter(k.between(op.get("ins_lo").asLong(), op.get("ins_hi").asLong()))
      .withColumn("o_orderkey", k + op.get("ins_shift").asLong())
      .withColumn("op", lit("I"))
    upd.unionByName(ins)
  }

  private def exec(op: JsonNode, warm: Boolean): Unit = {
    val cls = op.get("cls").asText()
    val tableName = cls match {
      case "delete" => "orders_date"
      case "scd2" => "orders_scd2"
      case _ => "orders_key"
    }
    val t = fresh(tableName)
    val src = if (cls.startsWith("scd")) Some(changes(op).cache()) else None
    src.foreach(_.count())
    val before = t.currentFiles()
    val metaBefore = Lake.dirBytes(java.nio.file.Paths.get(t.location, "metadata"))
    val body: () => CommitMetrics = cls match {
      case "update" => () => engine.update(t, op.get("cond").asText(),
        Map("o_orderpriority" -> "'0-REWRITTEN'", "o_totalprice" -> "o_totalprice + 1"))
      case "delete" => () => engine.delete(t, op.get("cond").asText())
      case "scd1" => () => engine.applyChangesAsSCD1(t, src.get, Seq("o_orderkey"), "op")
      case "scd2" => () => engine.applyChangesAsSCD2(t, src.get, Seq("o_orderkey"), EffectiveTs, "op")
    }
    if (warm) body()
    else ctx.timed(cls)(ctx.trace.span("commands." + cls)(body())) { m =>
      val after = Lake.files(t)
      last(cls) = t
      Rows.commit(m) ++ Lake.added(before, after) ++ Map("key" -> op.get("key").asText(),
        "metadata_bytes" -> (Lake.dirBytes(java.nio.file.Paths.get(t.location, "metadata")) - metaBefore))
    }
    src.foreach(_.unpersist())
  }

  def warmup(ops: Seq[JsonNode]): Unit = ops.foreach(exec(_, warm = true))
  def run(op: JsonNode): Unit = exec(op, warm = false)
  def finish(): Map[String, Any] = Map("stored" -> Lake.stored(last.values.toSeq))
}

/** Ingest cycles: the replicated corpus streamed through the `graft-lake`
  * exactly-once sink in fixed micro-batches, then curated (exact dedup,
  * MinHash-LSH near-duplicate removal, token counts) and published with
  * `insertOverwrite`; each cycle lands into a fresh table. */
final class IngestCurate(ctx: Ctx) extends Workload {
  import ctx.{spark, trace}
  private var catalog: LakeCatalog = _
  private var engine: LakeEngine = _
  private var cycles = 0
  private lazy val schema = spark.read.parquet(ctx.stageDir("documents")).schema

  private def exact(df: DataFrame) = Dedup.dropExactDuplicates(df, "doc_id", "text")
  /** Drops the later document of every MinHash-LSH near-duplicate pair. */
  private def nearDup(df: DataFrame) = df.join(
    Dedup.minhashPairs(df, "doc_id", "text").select(col("id_b").as("doc_id")), Seq("doc_id"), "left_anti")
  private def tokens(df: DataFrame) =
    df.select(col("doc_id"), col("text"), TextAnalysis.tokenCount(col("text")).as("n_tokens"))
  private def curated(df: DataFrame): DataFrame = tokens(nearDup(exact(df)))

  def load(warehouse: Path): Unit = {
    catalog = new LakeCatalog(warehouse.toString)
    engine = new LakeEngine(spark, catalog)
    spark.conf.set("spark.graft.warehouse", warehouse.toString)
    val docs = tokens(spark.read.parquet(ctx.stageDir("documents")))
    val t = catalog.createTable("curated", docs.schema, sortOrder = Seq(SortField("doc_id")))
    ctx.timeLoad(engine.insert(t, docs))
  }

  /** The curation pass over one landed table; in the traced run each step
    * is materialised on its own so its time is attributable. */
  private def curate(name: String): CommitMetrics = {
    val landed = trace.span("sqlext.analyze") {
      val d = spark.sql(s"SELECT doc_id, text FROM lake.$name"); d.queryExecution.analyzed; d
    }
    val out =
      if (!trace.armed) curated(landed)
      else {
        val e = trace.span("extras.dedup_exact")(exact(landed).localCheckpoint(eager = true))
        val n = trace.span("extras.near_dup")(nearDup(e).localCheckpoint(eager = true))
        trace.span("extras.token_count")(tokens(n).localCheckpoint(eager = true))
      }
    trace.span("commands.publish")(engine.insertOverwrite(catalog.loadTable("curated"), out, "true"))
  }

  private def cycle(warm: Boolean): Unit = {
    cycles += 1
    val name = s"landed_$cycles"
    val landed = catalog.createTable(name, schema, sortOrder = Seq(SortField("doc_id")))
    val chk = ctx.work.resolve("checkpoints").resolve(name).toString
    def stream() = {
      val q = spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
        .parquet(ctx.stageDir("documents"))
        .writeStream.format("graft-lake").option("path", landed.location)
        .option("checkpointLocation", chk).trigger(Trigger.AvailableNow()).start()
      if (!q.awaitTermination(120000L)) { q.stop(); throw new RuntimeException("ingest timed out") }
      q
    }
    if (warm) { stream(); curate(name); return }
    val metaDir = java.nio.file.Paths.get(landed.location, "metadata")
    val meta0 = Lake.dirBytes(metaDir)
    ctx.timed("ingest")(trace.span("streaming.run")(stream())) { q =>
      val files = Lake.files(landed)
      val progress = q.recentProgress.filter(_.numInputRows > 0)
      progress.foreach { p =>
        val start = Clock.fromEpochMs(java.time.Instant.parse(p.timestamp).toEpochMilli)
        val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue() }.toMap
        val end = start + d.getOrElse("triggerExecution", 0L)
        trace.addSpan("streaming.trigger", start, end, late = true)
        ctx.subRecord("trigger", start, end, trace.lastTraced,
          Map("durations" -> d, "rows" -> p.numInputRows))
      }
      val rows = files.map(_.recordCount).sum
      Lake.added(Seq.empty, files) ++ Map("rows" -> rows, "added_records" -> rows,
        "commits" -> progress.length,
        "metadata_bytes" -> (Lake.dirBytes(metaDir) - meta0))
    }
    val before = Lake.files(catalog.loadTable("curated"))
    ctx.timed("curate")(curate(name)) { m =>
      Rows.commit(m) ++ Lake.added(before, Lake.files(catalog.loadTable("curated")))
    }
  }

  def warmup(ops: Seq[JsonNode]): Unit = ops.foreach(_ => cycle(warm = true))
  def run(op: JsonNode): Unit = cycle(warm = false)

  def finish(): Map[String, Any] = {
    // the same Dedup calls on the staged input, for the result checks
    val staged = spark.read.parquet(ctx.stageDir("documents"))
    val ref = curated(staged).agg(count(lit(1)), sum(col("n_tokens"))).head()
    Map("stored" -> Lake.stored(Seq("curated", s"landed_$cycles").map(catalog.loadTable)),
      "staged_rows" -> staged.count(),
      "ref_exact_rows" -> exact(staged).count(),
      "ref_curated_rows" -> ref.getLong(0),
      "ref_tokens" -> ref.getLong(1))
  }
}
