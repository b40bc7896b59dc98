package graft.streaming

import graft.format.{FieldIds, FileEntry, LakeTable, TableRef}
import graft.scan.{AlwaysTrue, And, Eq, Ge, Gt, In, IsNull, Le, Lt, Ne, NotNull, Or, Pred, PredSql, SchemaEvolve, StartsWith, StatsEvaluator}
import java.util.{Map => JMap}
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.classic.{Dataset => ClassicDataset, SparkSession => ClassicSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, BindReferences, BoundReference, Expression, GenericInternalRow, Literal, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.{Expression => V2Expression, Expressions, Literal => V2Literal, NamedReference, Transform}
import org.apache.spark.sql.connector.expressions.filter.Predicate
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, SupportsTriggerAvailableNow}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.datasources.{FilePartition, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScan
import org.apache.spark.sql.sources.{DataSourceRegister, Filter}
import org.apache.spark.sql.{sources => v1}
import org.apache.spark.sql.types.{DataType, LongType, Metadata, StringType, StructField, StructType, TimestampType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.sql.vectorized.ColumnarBatch
import org.apache.spark.unsafe.types.UTF8String

/** Lake tables as a DataSource V2 connector — a MicroBatchStream SOURCE
  * (the mirror of [[LakeStreamSink]], closing the table-to-table
  * incremental pipeline; net-new vs the reference, which has no
  * streaming surface) plus a plain Batch read.
  *
  * Offsets are snapshot ids: a micro-batch reads exactly the files
  * appended between two snapshots ([[LakeTable.appendedFiles]] — shared
  * manifest chunks are skipped unread, so per-batch planning cost is
  * O(new files)). Restart resumes from the checkpointed snapshot id with
  * no duplicates and no gaps; paired with the sink's batch-id markers the
  * whole pipeline is exactly-once. Append-only ranges: a compaction or
  * delete inside an unread range fails the stream rather than replaying
  * rewritten rows.
  *
  * Execution delegates to Spark's own parquet reader: splits are planned
  * from manifest file sizes with Spark's split sizing (no listing), and
  * each written-schema group reads through one parquet reader factory;
  * files written under an older schema are projected to the current
  * schema by the field-id [[SchemaEvolve]] rules, bound once and applied
  * per row in the reader. No classes live in Spark's namespace and no
  * v1 `Source` shim is needed.
  *
  * Batch reads, append streams and change streams share one planner, one
  * partition type and one reader factory keyed by schema id.
  *
  * Usage: `spark.readStream.format("graft-lake").option("path", loc).load()`
  * (and `spark.read.format("graft-lake")` for a batch read that prunes
  * files on pushed and runtime filters from manifest stats). The same
  * relation backs every other lake read: `lake.*` SQL, and the engine's
  * own scans ([[graft.scan.TableScan.toDF]], which pins the files it
  * planned and can add the `_file`/`_pos` row-identity columns).
  */
class LakeSourceProvider extends TableProvider with DataSourceRegister
    with org.apache.spark.sql.sources.StreamSinkProvider {
  override def shortName(): String = "graft-lake"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    new LakeDsv2Table(LakeDsv2.path(options), LakeDsv2.changesMode(options.get _)).schema()

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: JMap[String, String]): Table =
    new LakeDsv2Table(properties.get("path"),
      LakeDsv2.changesMode(k => properties.get(k)))

  /** `df.writeStream.format("graft-lake").option("path", loc)` — the
    * exactly-once lake sink as a first-class stream sink (v1 Sink API:
    * its DataFrame-level addBatch is exactly the transactional
    * micro-batch append; DSv2 StreamingWrite would force executor-side
    * parquet writers for no gain). `query-key` scopes the batch-id
    * high-water mark; it defaults to the checkpoint location so two
    * independent streams into one table cannot dedup each other. A
    * checkpoint set only via the spark.sql.streaming.checkpointLocation
    * conf does NOT reach the sink's options map, so with neither option
    * present the sink fails fast rather than silently keying every
    * stream into the table on one shared high-water mark (which would
    * drop sibling streams' batches as replays). */
  override def createSink(
      sqlContext: org.apache.spark.sql.SQLContext,
      parameters: Map[String, String],
      partitionColumns: Seq[String],
      outputMode: org.apache.spark.sql.streaming.OutputMode): org.apache.spark.sql.execution.streaming.Sink = {
    val location = parameters.getOrElse("path",
      throw new IllegalArgumentException("graft-lake sink requires option 'path'"))
    val queryKey = parameters.getOrElse("query-key",
      parameters.getOrElse("checkpointLocation",
        throw new IllegalArgumentException(
          "graft-lake sink requires option 'query-key' (or an explicit " +
            ".option(\"checkpointLocation\", ...)) to scope its exactly-once " +
            "batch-id high-water mark; a session-conf checkpoint is not " +
            "visible here and cannot distinguish independent streams")))
    new org.apache.spark.sql.execution.streaming.Sink {
      override def addBatch(batchId: Long, data: org.apache.spark.sql.DataFrame): Unit = {
        val spark = data.sparkSession
        val warehouse = java.nio.file.Paths.get(location).getParent.toString
        val engine = new graft.commands.LakeEngine(spark,
          new graft.format.LakeCatalog(warehouse))
        // the batch is streaming-flagged and must run through its own
        // incremental execution: planning its logical plan again as a
        // batch query is rejected. So the rows of its prepared plan are
        // wrapped as a plain relation.
        val qe = data.asInstanceOf[ClassicDataset[Row]].queryExecution
        val batch = LakeDsv2.frame(spark, LogicalRDD(
          qe.analyzed.output.map(_.newInstance()), qe.toRdd)(qe.sparkSession))
        // the rebound LogicalRDD can't estimate its size (defaults to
        // "huge"), but the incremental execution's own optimized plan
        // can — pass it through so a small micro-batch takes the
        // single-file no-shuffle write path
        LakeStreamSink.appendBatch(engine, LakeTable.load(location), queryKey, batchId, batch,
          sizeHintBytes = Some(qe.optimizedPlan.stats.sizeInBytes))
      }
      override def toString: String = s"graft-lake sink [$location]"
    }
  }
}

private[graft] object LakeDsv2 {
  val ChangeTypeCol = "_change_type"
  val CommitSnapshotCol = "_commit_snapshot_id"
  /** Row identity of an engine scan: the manifest path of the row's
    * file, verbatim, and the row's ordinal in that file. */
  val FileCol = "_file"
  val PosCol = "_pos"
  // parquet reader column that carries each row's index in its file
  private val RowIndexCol = ParquetFileFormat.ROW_INDEX_TEMPORARY_COLUMN_NAME

  /** Files of one scan side, with the (change type, commit snapshot id)
    * tag its rows carry in a change feed. */
  type Side = (Seq[FileEntry], Option[(String, Long)])

  /** An engine scan's input, fixed when its DataFrame is built: the
    * session its splits plan in, a [[LakeTable.pinned]] copy of the table
    * (so a later commit cannot move the read), the ref it reads, the
    * files already planned (None: plan from the ref and the pushed
    * filters, as `lake.*` SQL does), whether rows carry
    * [[FileCol]]/[[PosCol]], and a copy-on-write rewrite's split size
    * (every split then holds a slice of one file). Not reachable through
    * read options. Relations and scans compare pins by [[Pin.key]]: what
    * they read, not their session or the copy holding the metadata, as
    * a file source compares by its files; Spark's cache lookup and
    * exchange reuse then match two resolutions of one read. */
  final case class Pin(session: ClassicSession, table: LakeTable, ref: TableRef,
      sides: Option[Seq[Side]], fileColumns: Boolean, splitBytes: Option[Long]) {
    def key: Any = (table.location, table.metadata, ref, sides, fileColumns, splitBytes)
  }

  /** The connector relation for an engine scan of `table` as it is now. */
  def relation(spark: SparkSession, table: LakeTable, ref: TableRef = TableRef.Head,
      sides: Option[Seq[Side]] = None, fileColumns: Boolean = false,
      changes: Boolean = false, splitBytes: Option[Long] = None): DataSourceV2Relation =
    DataSourceV2Relation.create(
      new LakeDsv2Table(table.location, changes, Some(Pin(
        spark.asInstanceOf[ClassicSession], table.pinned, ref, sides, fileColumns, splitBytes))),
      None, None, CaseInsensitiveStringMap.empty())

  /** An analyzed plan as a DataFrame; nothing in it is analyzed again. */
  def frame(spark: SparkSession, plan: LogicalPlan): DataFrame =
    new ClassicDataset[Row](spark.asInstanceOf[ClassicSession], plan, Encoders.row(plan.schema))

  def path(options: CaseInsensitiveStringMap): String =
    Option(options.get("path")).getOrElse(
      throw new IllegalArgumentException("graft-lake requires option 'path'"))

  /** Positive-long option with a clear parse error (a silent zero or
    * negative cap would shrink every batch to one snapshot). */
  def positiveOption(options: CaseInsensitiveStringMap, name: String): Option[Long] =
    Option(options.get(name)).map { v =>
      val n = try v.toLong catch {
        case _: NumberFormatException => throw new IllegalArgumentException(
          s"option '$name' must be a positive integer, got '$v'")
      }
      if (n <= 0) throw new IllegalArgumentException(
        s"option '$name' must be a positive integer, got '$v'")
      n
    }

  /** `option("read-changes", "true")`: row-level CDC — each micro-batch
    * steps snapshot-by-snapshot through its offset range and emits the
    * per-commit changes as rows tagged `_change_type` = insert | delete
    * plus `_commit_snapshot_id` (Delta CDF shape: its _commit_version),
    * so a consumer can order delete-before-insert when one key is
    * rewritten inside a single micro-batch. */
  def changesMode(get: String => String): Boolean =
    Option(get("read-changes")).exists(_.equalsIgnoreCase("true"))

  def withChangeType(s: StructType): StructType =
    StructType(s.fields :+ org.apache.spark.sql.types.StructField(
      ChangeTypeCol, org.apache.spark.sql.types.StringType, nullable = false)
      :+ org.apache.spark.sql.types.StructField(
      CommitSnapshotCol, org.apache.spark.sql.types.LongType, nullable = false))

  /** Pushed or runtime v2 predicate -> pruning predicate. A predicate
    * that does not convert maps to None and prunes nothing; Spark
    * re-applies every predicate to the returned rows, so pushdown here
    * only skips files and is always sound. AND may keep its convertible
    * side, OR needs both, and NOT is pushed only into a leaf (the Pred
    * algebra has no Not node). Dotted (nested) names do not convert. */
  def predOf(p: Predicate): Option[Pred] = {
    def column(e: V2Expression): Option[String] = e match {
      case nr: NamedReference if nr.fieldNames.length == 1 && !nr.fieldNames()(0).contains('.') =>
        Some(nr.fieldNames()(0))
      case _ => None
    }
    // catalyst-internal literal -> the external value the Pred layer's
    // literalKey understands (UTF8String, timestamp micros, date days)
    def value(e: V2Expression): Option[Any] = e match {
      case l: V2Literal[_] => Some(PredSql.external(l.value, l.dataType))
      case _ => None
    }
    def compare(op: String, c: String, v: Any): Pred = op match {
      case "=" => Eq(c, v); case "<>" => Ne(c, v)
      case "<" => Lt(c, v); case "<=" => Le(c, v)
      case ">" => Gt(c, v); case ">=" => Ge(c, v)
    }
    val flipped = Map("=" -> "=", "<>" -> "<>", "<" -> ">", "<=" -> ">=", ">" -> "<", ">=" -> "<=")
    def leaf(p: Predicate): Option[Pred] = (p.name, p.children.toSeq) match {
      case (op, Seq(l, r)) if flipped.contains(op) =>
        column(l).zip(value(r)).map { case (c, v) => compare(op, c, v) }
          .orElse(column(r).zip(value(l)).map { case (c, v) => compare(flipped(op), c, v) })
      case ("IN", c +: vs) =>
        val values = vs.map(value)
        column(c).filter(_ => values.forall(_.isDefined)).map(In(_, values.flatten))
      case ("IS_NULL", Seq(c)) => column(c).map(IsNull(_))
      case ("IS_NOT_NULL", Seq(c)) => column(c).map(NotNull(_))
      case ("STARTS_WITH", Seq(c, prefix)) =>
        column(c).zip(value(prefix)).map { case (n, v) => StartsWith(n, v.toString) }
      case _ => None
    }
    (p.name, p.children.toSeq) match {
      case ("AND", Seq(l: Predicate, r: Predicate)) => (predOf(l), predOf(r)) match {
        case (Some(a), Some(b)) => Some(And(a, b))
        case (a, b) => a.orElse(b)
      }
      case ("OR", Seq(l: Predicate, r: Predicate)) =>
        predOf(l).zip(predOf(r)).map { case (a, b) => Or(a, b) }
      case ("NOT", Seq(c: Predicate)) if c.name != "STARTS_WITH" => leaf(c).map(Pred.negate)
      case _ => leaf(p)
    }
  }

  def clean(s: StructType): StructType =
    StructType(s.fields.map(f => f.copy(metadata = Metadata.empty)))

  /** Re-attach field ids to the pruned output slice (pruneColumns hands
    * back metadata-free columns; ids drive the evolution projection).
    * Fields that already carry an id (a stream's pinned schema) are kept
    * verbatim so a concurrent table evolution cannot change the output
    * layout mid-stream. */
  private def outWithIds(table: LakeTable, out: StructType): StructType = {
    val cur = table.schema
    StructType(out.fields.map(f =>
      if (graft.format.FieldIds.of(f) >= 0) f
      else cur.fields.find(_.name == f.name).getOrElse(f)))
  }

  /** Columns of written schema `sid` feeding the requested output (id
    * match); reading only those is the column-pruning pushdown. */
  private def readWrittenFor(table: LakeTable, sid: Int, outIds: StructType): StructType = {
    val ids = outIds.fields.map(graft.format.FieldIds.of).toSet
    StructType(table.schemaFor(sid).fields.filter(f =>
      ids.contains(graft.format.FieldIds.of(f))))
  }

  /** Splits for `files` with the sizing of Spark's own file scans —
    * split target `maxPartitionBytes`, per-file `openCostInBytes`, and
    * the bytes-per-core floor divided by `minPartitionNum` — except that
    * an unset `minPartitionNum` counts as 1, not the core count: small
    * tables and many small files (what streaming ingest and copy-on-write
    * produce) pack into target-size splits instead of one sliver per core
    * (Iceberg `read.split.target-size` semantics). Sizes come from the
    * manifest, so nothing is listed; each file carries its manifest path
    * for [[FileCol]]. A rewrite's `perFile` size gives each split of
    * each file its own partition. */
  private def splits(spark: ClassicSession, files: Seq[FileEntry],
      perFile: Option[Long]): Seq[FilePartition] = {
    val conf = spark.sessionState.conf
    val openCost = conf.filesOpenCostInBytes
    val total = files.map(_.sizeBytes + openCost).sum
    val maxSplit = perFile.getOrElse(math.min(conf.filesMaxPartitionBytes,
      math.max(openCost, total / conf.filesMinPartitionNum.getOrElse(1))))
    val pieces = files.flatMap { f =>
      val (path, size) = (SparkPath.fromPathString(f.path), f.sizeBytes)
      (0L until size by maxSplit).map(off => PartitionedFile(InternalRow.empty, path, off,
        math.min(maxSplit, size - off), Array.empty, 0L, size, Map(FileCol -> f.path)))
    }.sortBy(-_.length)
    if (perFile.isDefined) pieces.zipWithIndex.map { case (p, i) => FilePartition(i, Array(p)) }
    else FilePartition.getFilePartitions(spark, pieces, maxSplit)
  }

  /** Plan each side's files into splits, one planning pass per
    * written-schema group, each split tagged with its group and the
    * side's change tag. */
  def planPartitions(spark: ClassicSession, sides: Seq[Side],
      perFile: Option[Long] = None): Array[InputPartition] =
    sides.flatMap { case (files, change) =>
      files.groupBy(_.schemaId).toSeq.sortBy(_._1).flatMap { case (sid, fs) =>
        splits(spark, fs, perFile).map(p => LakePartition(sid, Right(p), change))
      }
    }.toArray

  /** One schema group of a read: its parquet reader factory, its bound
    * evolution projection (None when written under the read schema), and
    * how many data columns it reads (the row index follows them). */
  final case class Group(factory: PartitionReaderFactory, evolve: Option[Seq[Expression]],
      width: Int)

  /** The factory for schema groups `schemaIds`. `data` is the (possibly
    * column-pruned) slice of the CURRENT schema the read produces:
    * current-schema groups read exactly those columns; older-schema
    * groups read their id-matched source columns and are projected by
    * [[LakeReaderFactory]]. `pred` reaches each group's parquet reader,
    * renamed to its written names, to skip row groups. Built from schema,
    * filters and conf alone, so it costs O(schemas), never O(files). */
  def readerFactory(spark: ClassicSession, table: LakeTable, data: StructType,
      schemaIds: Iterable[Int], pred: Pred = AlwaysTrue,
      fileCol: Boolean = false, posCol: Boolean = false): LakeReaderFactory = {
    val outIds = outWithIds(table, data)
    val groups = schemaIds.toSeq.distinct.sorted.map { sid =>
      val readWritten = readWrittenFor(table, sid, outIds)
      val read =
        if (posCol) StructType(readWritten.fields :+ StructField(RowIndexCol, LongType))
        else readWritten
      sid -> Group(
        parquetFactory(spark, read, rowGroupFilter(table, sid, pred).toArray),
        if (clean(readWritten) == clean(outIds)) None
        else Some(boundEvolveExprs(spark, readWritten, outIds)),
        readWritten.length)
    }.toMap
    LakeReaderFactory(groups, data.fields.map(_.dataType).toSeq, fileCol, posCol)
  }

  /** Spark's parquet reader factory for `read`, with `filters` for
    * row-group skipping. Read as nullable, like any file source. The
    * factory derives from the schemas, the filters and the session conf;
    * the scan is never asked for files, so it is given no file index. */
  private def parquetFactory(spark: ClassicSession, read: StructType,
      filters: Array[Filter]): PartitionReaderFactory = {
    val schema = nullable(clean(read))
    ParquetScan(spark, spark.sessionState.newHadoopConf(), null, schema, schema,
      new StructType(), filters, CaseInsensitiveStringMap.empty()).createReaderFactory()
  }

  /** The pushed predicate as a parquet filter on written schema `sid`,
    * for row-group skipping: columns renamed by field id to their
    * written names, and only columns whose written type is the current
    * type. Like file pruning, an AND keeps what converts (Pred negates
    * only leaves, so a dropped conjunct only widens the filter); Spark
    * still applies every predicate above the scan. Values take the types
    * parquet filters expect. */
  def rowGroupFilter(table: LakeTable, sid: Int, pred: Pred): Option[Filter] = {
    val written = table.schemaFor(sid).fields.map(f => FieldIds.of(f) -> f).toMap
    val column = table.schema.fields.flatMap(f => written.get(FieldIds.of(f))
      .filter(_.dataType == f.dataType).map(w => f.name -> w)).toMap
    def leaf(c: String, make: String => Filter) = column.get(c).map(w => make(w.name))
    def value(c: String, v: Any): Any = (column.get(c).map(_.dataType), v) match {
      case (Some(TimestampType), t: java.time.LocalDateTime) => t.toInstant(java.time.ZoneOffset.UTC)
      case (_, d: BigDecimal) => d.bigDecimal
      case _ => v
    }
    def go(p: Pred): Option[Filter] = p match {
      case And(l, r) => (go(l), go(r)) match {
        case (Some(a), Some(b)) => Some(v1.And(a, b))
        case (a, b) => a.orElse(b)
      }
      case Or(l, r) => go(l).zip(go(r)).map { case (a, b) => v1.Or(a, b) }
      case Eq(c, v) => leaf(c, v1.EqualTo(_, value(c, v)))
      case Ne(c, v) => leaf(c, n => v1.Not(v1.EqualTo(n, value(c, v))))
      case Lt(c, v) => leaf(c, v1.LessThan(_, value(c, v)))
      case Le(c, v) => leaf(c, v1.LessThanOrEqual(_, value(c, v)))
      case Gt(c, v) => leaf(c, v1.GreaterThan(_, value(c, v)))
      case Ge(c, v) => leaf(c, v1.GreaterThanOrEqual(_, value(c, v)))
      case In(c, vs) => leaf(c, v1.In(_, vs.map(value(c, _)).toArray))
      case IsNull(c) => leaf(c, v1.IsNull(_))
      case NotNull(c) => leaf(c, v1.IsNotNull(_))
      case StartsWith(c, prefix) => leaf(c, v1.StringStartsWith(_, prefix))
      case _ => None
    }
    go(pred)
  }

  /** `s` with every column nullable, as a file source reads it (a write
    * casts nested values to the table's own types). */
  def nullable(s: StructType): StructType = StructType(s.fields.map(_.copy(nullable = true)))

  /** The [[SchemaEvolve]] column projection, analyzed against an empty
    * relation of the written schema and bound to its output order, ready
    * to apply to raw parquet reader rows on executors. */
  private def boundEvolveExprs(spark: ClassicSession, written: StructType,
      cur: StructType): Seq[Expression] = {
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[Row], nullable(clean(written)))
    val analyzed = empty.select(SchemaEvolve.columns(written, cur): _*)
      .queryExecution.analyzed
    val project = analyzed.collectFirst { case p: Project => p }.getOrElse(
      throw new IllegalStateException(s"evolution projection did not analyze to a Project: $analyzed"))
    BindReferences.bindReferences(
      project.projectList.asInstanceOf[Seq[Expression]],
      project.child.output.asInstanceOf[Seq[Attribute]])
  }
}

/** The connector's one input partition: a split of schema group
  * `schemaId`, tagged (change type, commit snapshot id) when it feeds a
  * change feed, or (Left) the single row of an aggregate answered from
  * metadata (catalyst-internal, Serializable values). */
private[streaming] final case class LakePartition(schemaId: Int,
    split: Either[Seq[Any], FilePartition],
    change: Option[(String, Long)] = None) extends InputPartition {
  override def preferredLocations(): Array[String] =
    split.fold(_ => Array.empty[String], _.preferredLocations())
}

/** The connector's one reader factory, keyed by schema id: a split reads
  * through its group's parquet factory, then one projection applies the
  * group's bound field-id evolution (when written under another schema),
  * appends [[LakeDsv2.FileCol]] and [[LakeDsv2.PosCol]] (when asked for)
  * and the `_change_type` and `_commit_snapshot_id` literals (when
  * change-tagged). With `_file` every file of a split gets its own
  * reader, so the path is one literal per file. The projection is built
  * lazily executor-side: UnsafeProjection itself is not serializable,
  * the expressions are. */
private[streaming] final case class LakeReaderFactory(
    groups: Map[Int, LakeDsv2.Group],
    outTypes: Seq[DataType],
    fileCol: Boolean = false,
    posCol: Boolean = false) extends PartitionReaderFactory {

  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val lp = p.asInstanceOf[LakePartition]
    lp.split match {
      case Left(values) => new PartitionReader[InternalRow] {
        private[this] val row = new GenericInternalRow(values.toArray)
        private[this] var pending = true
        override def next(): Boolean = { val n = pending; pending = false; n }
        override def get(): InternalRow = row
        override def close(): Unit = ()
      }
      case Right(split) =>
        val g = groups.getOrElse(lp.schemaId, throw new IllegalStateException(
          s"no reader for schema id ${lp.schemaId}"))
        val data = g.evolve.getOrElse(
          outTypes.zipWithIndex.map { case (dt, i) => BoundReference(i, dt, nullable = true) })
        val tail = (if (posCol) Seq(BoundReference(g.width, LongType, nullable = false)) else Nil) ++
          lp.change.toSeq.flatMap { case (kind, sid) =>
            Seq(Literal(UTF8String.fromString(kind), StringType), Literal(sid, LongType)) }
        if (!fileCol) {
          val inner = g.factory.createReader(split)
          if (g.evolve.isEmpty && tail.isEmpty) inner else projected(inner, data ++ tail)
        } else new PartitionReader[InternalRow] {
          private[this] val readers = split.files.iterator.map { f =>
            val path = f.otherConstantMetadataColumnValues(LakeDsv2.FileCol).toString
            projected(g.factory.createReader(FilePartition(split.index, Array(f))),
              (data :+ Literal(UTF8String.fromString(path), StringType)) ++ tail)
          }
          private[this] var cur: PartitionReader[InternalRow] = null
          override def next(): Boolean = {
            while (cur == null || !cur.next()) {
              close()
              if (!readers.hasNext) return false
              cur = readers.next()
            }
            true
          }
          override def get(): InternalRow = cur.get()
          override def close(): Unit = if (cur != null) { cur.close(); cur = null }
        }
    }
  }

  // a read with no projection in any group takes parquet's columnar
  // batches as they are: every split then reads the same way, as Spark
  // requires of one scan
  private val columnar = !fileCol && !posCol && groups.values.forall(_.evolve.isEmpty)
  override def supportColumnarReads(p: InputPartition): Boolean = p match {
    case LakePartition(sid, Right(split), None) =>
      columnar && groups(sid).factory.supportColumnarReads(split)
    case _ => false
  }
  override def createColumnarReader(p: InputPartition): PartitionReader[ColumnarBatch] = {
    val lp = p.asInstanceOf[LakePartition]
    groups(lp.schemaId).factory.createColumnarReader(lp.split.toOption.get)
  }

  private def projected(inner: PartitionReader[InternalRow],
      exprs: Seq[Expression]): PartitionReader[InternalRow] = new PartitionReader[InternalRow] {
    private[this] val proj = UnsafeProjection.create(exprs)
    override def next(): Boolean = inner.next()
    override def get(): InternalRow = proj(inner.get())
    override def close(): Unit = inner.close()
  }
}

/** The connector's table. `pin` is set for an engine or SQL scan (see
  * [[LakeDsv2.Pin]]); a pinned table compares equal to another with an
  * equal pin, the public one only to itself. Data columns are all
  * nullable, like any file source read, so a rewrite writes the same
  * parquet schema whatever the source's declared nullability. */
private[graft] final class LakeDsv2Table(location: String,
    val changes: Boolean = false, val pin: Option[LakeDsv2.Pin] = None) extends Table
    with SupportsRead with org.apache.spark.sql.connector.catalog.SupportsWrite {
  private val table = pin.map(_.table).getOrElse(LakeTable.load(location))

  private def key = (changes, pin.map(_.key))
  override def equals(o: Any): Boolean = o match {
    case t: LakeDsv2Table => (this eq t) || pin.isDefined && key == t.key
    case _ => false
  }
  override def hashCode: Int = if (pin.isEmpty) System.identityHashCode(this) else key.##

  override def name(): String = s"graft-lake:$location"
  override def schema(): StructType = {
    val read = LakeDsv2.nullable(LakeDsv2.clean(table.schema))
    if (changes) LakeDsv2.withChangeType(read)
    else if (pin.exists(_.fileColumns)) StructType(read.fields
      :+ StructField(LakeDsv2.FileCol, StringType, nullable = false)
      :+ StructField(LakeDsv2.PosCol, LongType, nullable = false))
    else read
  }
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.MICRO_BATCH_READ, TableCapability.BATCH_READ,
      TableCapability.V1_BATCH_WRITE, TableCapability.BATCH_WRITE,
      TableCapability.TRUNCATE)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new LakeScan(location, schema(), pin.map(_.ref).getOrElse(TableRef.fromOptions(options.get)),
      changes = changes || LakeDsv2.changesMode(options.get),
      maxFilesPerTrigger = LakeDsv2.positiveOption(options, "maxFilesPerTrigger").map(_.toInt),
      maxBytesPerTrigger = LakeDsv2.positiveOption(options, "maxBytesPerTrigger"), pin = pin)

  /** Batch write via the V1Write fallback: the DataFrame-level insert
    * reuses the transactional LakeWriter/commit path (per-task footer
    * stats, partition layout, atomic snapshot) instead of
    * reimplementing parquet writers at the DSv2 executor level.
    * `df.write.format("graft-lake").option("path", loc).mode(...)`:
    * append = insert commit, overwrite = strict full overwrite. */
  override def newWriteBuilder(info: org.apache.spark.sql.connector.write.LogicalWriteInfo):
      org.apache.spark.sql.connector.write.WriteBuilder =
    new org.apache.spark.sql.connector.write.WriteBuilder
      with org.apache.spark.sql.connector.write.SupportsTruncate {
      private var overwrite = false
      override def truncate(): org.apache.spark.sql.connector.write.WriteBuilder = {
        overwrite = true; this
      }
      override def build(): org.apache.spark.sql.connector.write.Write =
        new org.apache.spark.sql.connector.write.V1Write {
          override def toInsertableRelation: org.apache.spark.sql.sources.InsertableRelation =
            (data: org.apache.spark.sql.DataFrame, ow: Boolean) => {
              val spark = data.sparkSession
              val warehouse = java.nio.file.Paths.get(location).getParent.toString
              val engine = new graft.commands.LakeEngine(spark,
                new graft.format.LakeCatalog(warehouse))
              val t = LakeTable.load(location)
              if (overwrite || ow) engine.insertOverwrite(t, data, "true")
              else engine.insert(t, data)
              ()
            }
        }
    }
}

private[streaming] final class LakeScan(location: String, outSchema: StructType,
    ref: TableRef, changes: Boolean = false,
    maxFilesPerTrigger: Option[Int] = None,
    maxBytesPerTrigger: Option[Long] = None,
    pin: Option[LakeDsv2.Pin] = None)
  extends ScanBuilder with Scan with Batch
  with org.apache.spark.sql.connector.read.SupportsPushDownV2Filters
  with org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns
  with org.apache.spark.sql.connector.read.SupportsPushDownAggregates
  with org.apache.spark.sql.connector.read.SupportsReportStatistics
  with org.apache.spark.sql.connector.read.SupportsRuntimeV2Filtering
  with org.apache.spark.sql.connector.read.SupportsPushDownLimit {

  /** Unordered LIMIT pushdown: plan only enough files (by manifest
    * record counts) to cover the limit — a `df.limit(n).collect()` or
    * `.show()` against a 10^6-file table touches O(n/rows-per-file)
    * files instead of all of them. Partial push: Spark still applies
    * the exact row limit above the scan, so over-planning by one file
    * is always sound. File order is the manifest plan order —
    * any-n-rows semantics, which is all an unordered LIMIT promises.
    *
    * SOUNDNESS: the file cap counts RAW manifest rows, so it is only
    * valid when no predicate filters rows above the scan (this source
    * keeps every pushed filter residual). Spark's own rule happens to
    * push limits only below trivial filters, but the invariant is
    * enforced locally instead of relied on: the limit is accepted only
    * while the pushed predicate is AlwaysTrue, and re-checked at plan
    * time because runtime filters AND into `pred` after pushLimit. */
  private var limitRows: Option[Int] = None
  override def pushLimit(limit: Int): Boolean = {
    if (!changes && pred == graft.scan.AlwaysTrue) limitRows = Some(limit)
    false // partial: the scan bounds FILES, Spark still limits rows
  }

  private def applyLimit(files: Seq[FileEntry]): Seq[FileEntry] =
    limitRows match {
      case Some(n) if pred == graft.scan.AlwaysTrue =>
        val out = Seq.newBuilder[FileEntry]
        var seen = 0L
        val it = files.iterator
        while (seen < n && it.hasNext) {
          val f = it.next()
          out += f
          seen += f.recordCount
        }
        out.result()
      case _ => files
    }

  /** Dynamic file pruning (the DSv2 analog of dynamic partition
    * pruning): Spark collects the join's build-side keys at runtime and
    * pushes an IN filter here BEFORE planInputPartitions runs; the
    * filter ANDs into the metadata pruner so a fact scan joined to a
    * filtered dim plans only the files the dim's keys may touch —
    * O(matching) instead of O(table) at 100 TB. Advertised for every
    * top-level column: identity-partition values prune exactly, and
    * footer min/max make IN-set pruning sound (never wrong, possibly
    * conservative) on any other column. Runtime filters are
    * execution-time hints — rows are still re-filtered by the join. */
  override def filterAttributes(): Array[NamedReference] =
    // the public read only. A pinned scan's files are final once
    // planned: an engine scan's were already key-pruned by its command,
    // and on `lake.*` SQL joins (the `lake_read` q5 trace) the filter's
    // planning and build-side pass cost more than the files it skipped
    if (changes || pin.isDefined) Array.empty
    // only columns the (possibly pruned) scan OUTPUT carries: Spark
    // resolves these against the scan's output attributes, and a
    // projected-away column fails analysis inside PartitionPruning.
    // Dotted names are skipped: Expressions.column PARSES dots into
    // nested paths, which would mis-resolve a literal "a.b" column
    // (LakeDsv2.predOf does not convert dotted names either).
    else dataOut.fields.filterNot(_.name.contains('.')).map(f => Expressions.column(f.name))

  override def filter(filters: Array[Predicate]): Unit = {
    val preds = filters.flatMap(LakeDsv2.predOf) // unconvertible runtime filters are hints
    if (preds.nonEmpty) pred = preds.foldLeft(pred)(And(_, _))
  }

  /** ONE table snapshot per scan: every planning surface (statistics,
    * metadata aggregation, partition planning — including the second
    * planInputPartitions pass Spark makes after runtime filters) reads
    * the SAME metadata. Without this, a commit landing between physical
    * planning and execution could hand the runtime-filtered pass files
    * from a newer snapshot whose schema groups the already-built reader
    * factory has never seen. */
  private lazy val tableSnap: LakeTable = pin.map(_.table).getOrElse(LakeTable.load(location))
  // a pinned scan plans in the session its relation was built in
  private lazy val spark: ClassicSession = pin.map(_.session).getOrElse(ClassicSession.active)

  // columns the relation adds to the table's (row identity, change tags)
  private lazy val added = Set(LakeDsv2.ChangeTypeCol, LakeDsv2.CommitSnapshotCol,
    LakeDsv2.FileCol, LakeDsv2.PosCol) -- tableSnap.schema.fieldNames
  private def dataOut: StructType = StructType(out.fields.filterNot(f => added(f.name)))

  /** One factory per scan. A pinned scan's covers the schema groups of
    * its planned files; the public read's covers every schema of the
    * snapshot, so a re-plan after runtime filtering stays a subset. */
  private lazy val sharedFactory: PartitionReaderFactory = {
    def reads(c: String) = added(c) && out.fieldNames.contains(c)
    LakeDsv2.readerFactory(spark, tableSnap, dataOut,
      if (aggRow.isDefined) Nil
      else if (pin.isDefined) plannedFiles().map(_.schemaId)
      else tableSnap.metadata.schemas.keys.map(_.toInt),
      pred, reads(LakeDsv2.FileCol), reads(LakeDsv2.PosCol))
  }

  /** The scan's sides with files planned for the current pred, memoized
    * per pred state: supportCompletePushDown / pushAggregation /
    * estimateStatistics / partition planning would otherwise each re-walk
    * the manifests during one query's planning. Pinned files are pruned
    * by the pushed filters from their stats; otherwise the ref's
    * snapshot is planned. */
  @volatile private var planCache: Option[(Pred, Seq[LakeDsv2.Side])] = None
  private def plannedSides(): Seq[LakeDsv2.Side] = {
    val p = pred
    planCache match {
      case Some((cp, sides)) if cp == p => sides
      case _ =>
        lazy val evaluator = new StatsEvaluator(tableSnap.schema, tableSnap.metadata.specsById)
        val sides = pin.flatMap(_.sides) match {
          case Some(pinned) => pinned.map { case (fs, tag) => (fs.filter(evaluator.mayContain(p, _)), tag) }
          case None => Seq(new graft.scan.TableScan(spark, tableSnap, p, ref).planFiles() -> None)
        }
        planCache = Some((p, sides))
        sides
    }
  }
  private def plannedFiles(): Seq[FileEntry] = plannedSides().flatMap(_._1)

  /** Accurate pre-execution statistics from the PRUNED file set —
    * manifest record counts and byte sizes after partition/stats
    * pruning, scaled by the projection's column fraction. Catalyst's
    * join planning (broadcast-vs-shuffle, build-side choice) sees the
    * post-pruning size instead of a blind default, so a selective
    * lake read joins like the small relation it actually is. Planning
    * cost is metadata-only (the same planFiles the read itself uses). */
  override def estimateStatistics(): org.apache.spark.sql.connector.read.Statistics = {
    import java.util.OptionalLong
    val files =
      try Some(plannedFiles())
      catch { case scala.util.control.NonFatal(_) => None }
    // column pruning shrinks what the read materializes; approximate
    // per-column weight uniformly (parquet sizes per column are not in
    // the manifests) with a floor so the estimate never reaches 0
    val frac =
      if (outSchema.fields.isEmpty) 1.0
      else math.max(out.fields.length.toDouble / outSchema.fields.length, 0.1)
    new org.apache.spark.sql.connector.read.Statistics {
      // a metadata failure must report UNKNOWN, not near-zero: a 1-byte
      // estimate would flip join planning to broadcasting a table that
      // is actually arbitrarily large
      override def sizeInBytes(): OptionalLong = files match {
        case Some(fs) =>
          OptionalLong.of(math.max((fs.map(_.sizeBytes).sum * frac).toLong, 1L))
        case None => OptionalLong.empty()
      }
      override def numRows(): OptionalLong = files match {
        case Some(fs) => OptionalLong.of(fs.map(_.recordCount).sum)
        case None => OptionalLong.empty()
      }
    }
  }

  // every filter stays residual (Spark re-applies them all): the
  // convertible conjunction drives metadata file pruning and, as a
  // parquet filter, row-group skipping
  private var pred: Pred = AlwaysTrue
  private var pushed: Array[Predicate] = Array.empty
  // column pruning: the parquet readers then read only these columns
  private var out: StructType = outSchema

  override def pushPredicates(predicates: Array[Predicate]): Array[Predicate] = {
    val convertible = predicates.flatMap(p => LakeDsv2.predOf(p).map(p -> _))
    pushed = convertible.map(_._1)
    pred = convertible.map(_._2).reduceOption[Pred](And(_, _)).getOrElse(AlwaysTrue)
    predicates // all residual: pushdown only skips files and row groups
  }
  override def pushedPredicates(): Array[Predicate] = pushed

  // changes mode emits the full row + _change_type; Spark projects above
  override def pruneColumns(required: StructType): Unit =
    if (!changes) out = required

  override def build(): Scan = this
  override def readSchema(): StructType = out
  override def description(): String =
    if (aggRow.isDefined) s"graft-lake $location metadata-aggregated"
    else s"graft-lake $location pruned-by: $pred PushedFilters: [${
      LakeDsv2.rowGroupFilter(tableSnap, tableSnap.metadata.currentSchemaId, pred).mkString}]"

  // ---- aggregate pushdown: COUNT(*)/MIN/MAX answered from manifests —
  // zero data files read (Iceberg-style metadata aggregation). Complete
  // pushdown only, and only when provably exact: global aggregation, no
  // pushed filter (planned files would be a may-match superset), typed
  // numeric/temporal columns only (string/binary bounds are TRUNCATED
  // by the writer; decimal kept out for simplicity), per-file stats
  // present wherever a value is needed, and float/double MAX refused
  // unless every file's NaN count is known zero (footer bounds exclude
  // NaN, but Spark's MAX ranks NaN greatest). MIN stays sound under
  // NaNs: a file whose non-null values are all NaN has no finite bound
  // recorded and is refused via the missing-stats rule.
  private var aggRow: Option[Seq[Any]] = None

  override def supportCompletePushDown(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean =
    metadataAgg(agg).isDefined

  override def pushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean =
    metadataAgg(agg) match {
      case Some((schema, row)) =>
        out = schema
        aggRow = Some(row)
        true
      case None => false
    }

  // supportCompletePushDown and pushAggregation receive the SAME
  // Aggregation back-to-back; cache so the manifests are walked once
  @volatile private var aggCache:
      Option[(AnyRef, Option[(StructType, Seq[Any])])] = None

  private def metadataAgg(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation):
      Option[(StructType, Seq[Any])] = aggCache match {
    case Some((key, res)) if key eq agg => res
    case _ =>
      val res = metadataAggUncached(agg)
      aggCache = Some((agg, res))
      res
  }

  private def metadataAggUncached(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation):
      Option[(StructType, Seq[Any])] = {
    import org.apache.spark.sql.connector.expressions.aggregate.{CountStar, Max, Min}
    import org.apache.spark.sql.types._
    if (changes || agg.groupByExpressions.nonEmpty || pred != graft.scan.AlwaysTrue)
      return None
    val table = tableSnap
    val files = plannedFiles().filter(_.recordCount > 0)
    val schema = table.schema
    val idByName = schema.fields.map(f => f.name -> graft.format.FieldIds.of(f)).toMap
    def colOf(e: org.apache.spark.sql.connector.expressions.Expression): Option[StructField] =
      e match {
        case nr: NamedReference if nr.fieldNames.length == 1 =>
          schema.fields.find(_.name == nr.fieldNames()(0))
        case _ => None
      }
    def parse(dt: DataType, s: String): Option[Any] = dt match {
      case ByteType => Some(s.toByte)
      case ShortType => Some(s.toShort)
      case IntegerType => Some(s.toInt)
      case LongType => Some(s.toLong)
      case FloatType => Some(s.toFloat)
      case DoubleType => Some(s.toDouble)
      case DateType => Some(s.toInt) // canonical = epoch days
      case TimestampType | TimestampNTZType => Some(s.toLong) // epoch micros
      case _ => None // strings/binary truncated; decimal unsupported
    }
    def ord(dt: DataType): Option[Ordering[Any]] = dt match {
      case ByteType | ShortType | IntegerType | LongType |
           DateType | TimestampType | TimestampNTZType =>
        Some(Ordering.by((v: Any) => v.asInstanceOf[Number].longValue()))
      case FloatType | DoubleType =>
        Some(Ordering.by((v: Any) => v.asInstanceOf[Number].doubleValue()))
      case _ => None
    }
    def bound(f: StructField, isMin: Boolean): Option[Any] = {
      val fid = idByName.get(f.name).filter(_ > 0).map(_.toString).getOrElse(return None)
      val ordering = ord(f.dataType).getOrElse(return None)
      if (!isMin && (f.dataType == FloatType || f.dataType == DoubleType) &&
          !files.forall(_.stats.get(fid).exists(_.nanCount.contains(0L))))
        return None // NaN would out-rank the recorded footer max
      val perFile = files.map { fe =>
        fe.stats.get(fid) match {
          case None => return None // unknown file: cannot answer exactly
          case Some(cs) if cs.nullCount == fe.recordCount => None // all-null file
          case Some(cs) =>
            val b = if (isMin) cs.min else cs.max
            b match {
              case None => return None // values exist but no recorded bound
              case Some(s) => Some(parse(f.dataType, s).getOrElse(return None))
            }
        }
      }
      val defined = perFile.flatten
      if (defined.isEmpty) Some(null) // zero rows or all null -> NULL aggregate
      else Some(if (isMin) defined.min(ordering) else defined.max(ordering))
    }
    val resolved: Seq[Option[(StructField, Any)]] = agg.aggregateExpressions.toSeq.map {
      case _: CountStar =>
        Some((StructField("count_star", LongType, nullable = false),
          files.map(_.recordCount).sum: Any))
      case m: Min => colOf(m.column).flatMap(f =>
        bound(f, isMin = true).map(v => (StructField(s"min_${f.name}", f.dataType), v)))
      case m: Max => colOf(m.column).flatMap(f =>
        bound(f, isMin = false).map(v => (StructField(s"max_${f.name}", f.dataType), v)))
      case _ => None
    }
    if (resolved.exists(_.isEmpty)) None
    else {
      val cols = resolved.flatten
      Some((StructType(cols.map(_._1)), cols.map(_._2)))
    }
  }

  /** The scan is its own batch, as Spark's file scans are: Spark
    * compares batch scans by their batch. Partitions are planned when
    * asked for, after any runtime filter, from the scan's one table
    * snapshot, so they always fall within the factory's schema groups. */
  override def toBatch: Batch = {
    if (changes && pin.flatMap(_.sides).isEmpty)
      throw new IllegalArgumentException(
        "read-changes is a streaming option; for a batch change feed use " +
          "SQL lake.`t$changes_<fromSnapshot>` or LakeEngine.readChanges")
    this
  }
  override def planInputPartitions(): Array[InputPartition] = aggRow match {
    case Some(row) => Array(LakePartition(-1, Left(row)))
    case None => LakeDsv2.planPartitions(spark,
      plannedSides().map { case (files, tag) => (applyLimit(files), tag) }, pin.flatMap(_.splitBytes))
  }
  override def createReaderFactory(): PartitionReaderFactory = sharedFactory

  // a pinned scan is final once built (it takes no runtime filter), so
  // it compares by what it reads; the public read only to itself
  private def key = (pin.map(_.key), changes, pred, out, aggRow, limitRows)
  override def equals(o: Any): Boolean = o match {
    case s: LakeScan => (this eq s) || pin.isDefined && key == s.key
    case _ => false
  }
  override def hashCode: Int = if (pin.isEmpty) System.identityHashCode(this) else key.##

  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream = {
    if (ref != TableRef.Head)
      throw new IllegalArgumentException(
        "time-travel options are batch-read only; streams consume the live table")
    if (changes) {
      // fail fast instead of silently dropping the rate limit: the CDC
      // stream's unit of admission is a commit, not a file count
      if (maxFilesPerTrigger.isDefined || maxBytesPerTrigger.isDefined)
        throw new IllegalArgumentException(
          "maxFilesPerTrigger/maxBytesPerTrigger are not supported with " +
            "read-changes (CDC batches step per commit); remove one of the options")
      new LakeChangesMicroBatchStream(location)
    } else new LakeMicroBatchStream(location, maxFilesPerTrigger, maxBytesPerTrigger)
  }
}

/** What the append and change streams share. Offsets are snapshot ids
  * (0 = before the first snapshot). The consumer's schema is fixed at
  * stream start (inferSchema); every micro-batch must emit THIS layout
  * even if the table evolves while the stream runs. It is kept with
  * field-id metadata so files committed under a later schema are
  * projected back by id (added columns drop, removed columns resurface
  * as NULL) instead of leaking a different column count into the
  * running plan. */
private[streaming] sealed abstract class LakeStreamBase(location: String)
    extends MicroBatchStream with SupportsTriggerAvailableNow {
  protected val spark: ClassicSession = ClassicSession.active
  protected val table: LakeTable = LakeTable.load(location)
  protected val pinnedSchema: StructType = table.schema
  // AvailableNow pins the end offset at start; None = unbounded stream
  @volatile private var availableEnd: Option[LakeOffset] = None
  // the factory matching the LAST planInputPartitions call (Spark builds
  // the factory right after planning each micro-batch)
  @volatile private var lastFactory: PartitionReaderFactory =
    LakeReaderFactory(Map.empty, Nil)

  private def head(): Option[Long] = table.refresh().metadata.currentSnapshotId

  override def prepareForTriggerAvailableNow(): Unit =
    availableEnd = Some(LakeOffset(head().getOrElse(0L)))
  override def initialOffset(): Offset = LakeOffset(0L)
  override def latestOffset(): Offset =
    availableEnd.getOrElse(LakeOffset(head().getOrElse(0L)))
  override def deserializeOffset(json: String): Offset = LakeOffset(json.trim.toLong)

  /** Partitions for the micro-batch's (files, change tag) sides, and a
    * factory covering the schema groups present in them. */
  protected def plan(sides: Seq[(Seq[FileEntry], Option[(String, Long)])]): Array[InputPartition] = {
    lastFactory = LakeDsv2.readerFactory(spark, table, pinnedSchema,
      sides.flatMap(_._1.map(_.schemaId)))
    LakeDsv2.planPartitions(spark, sides)
  }

  override def createReaderFactory(): PartitionReaderFactory = lastFactory
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

final class LakeMicroBatchStream(location: String,
    maxFilesPerTrigger: Option[Int] = None,
    maxBytesPerTrigger: Option[Long] = None) extends LakeStreamBase(location) {

  // SupportsAdmissionControl (via SupportsTriggerAvailableNow):
  // `option("maxFilesPerTrigger", n)` / `option("maxBytesPerTrigger", n)`
  // cap a micro-batch at the last snapshot keeping the batch's
  // appended-file/byte totals within EVERY configured cap, always
  // advancing at least one snapshot so the stream makes progress.
  // Counts come from snapshot summaries — zero manifest reads on the
  // admission path (a legacy snapshot without "added-bytes" counts as
  // unbounded, closing its batch conservatively). AvailableNow's pinned
  // end offset still bounds the overall run; the stream converges to it
  // batch by batch.
  override def latestOffset(start: Offset, limit: org.apache.spark.sql.connector.read.streaming.ReadLimit): Offset = {
    val endCap = latestOffset().asInstanceOf[LakeOffset].snapshotId
    if (maxFilesPerTrigger.isEmpty && maxBytesPerTrigger.isEmpty) return LakeOffset(endCap)
    val fromId = start.asInstanceOf[LakeOffset].snapshotId
    if (endCap == 0L || fromId == endCap) return LakeOffset(endCap)
    // any walk irregularity (expired history) defers to the planner's
    // own clean error
    val chain = table.refresh().metadata.snapshotsBetween(Some(fromId).filter(_ != 0L), endCap)
      .getOrElse(return LakeOffset(endCap))
    var files = 0L; var bytes = 0L
    var end = fromId
    var first = true
    var stopped = false
    chain.foreach { s =>
      if (!stopped) {
        val addedFiles = s.summary.get("added-files").flatMap(_.toLongOption)
          .getOrElse(s.manifests.map(_.entryCount).sum)
        val addedBytes = s.summary.get("added-bytes").flatMap(_.toLongOption)
          .getOrElse(Long.MaxValue / 4) // unknown: admit only as a batch's first
        val fits = maxFilesPerTrigger.forall(files + addedFiles <= _) &&
          maxBytesPerTrigger.forall(bytes + addedBytes <= _)
        if (first || fits) { files += addedFiles; bytes += addedBytes; end = s.id; first = false }
        else stopped = true // offset ranges are contiguous: stop at first over-cap
      }
    }
    LakeOffset(end)
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val from = Some(start.asInstanceOf[LakeOffset].snapshotId).filter(_ != 0L)
    val endId = end.asInstanceOf[LakeOffset].snapshotId
    val files =
      if (endId == 0L || from.contains(endId)) Seq.empty
      else table.refresh().appendedFiles(from, endId)
    plan(Seq(files -> None))
  }
}

/** Row-level CDC stream (Delta Change-Data-Feed shape): each micro-batch
  * steps SNAPSHOT BY SNAPSHOT through its offset range and emits every
  * commit's file delta as rows tagged `_change_type` = insert | delete
  * plus `_commit_snapshot_id` — the commit the change belongs to, so a
  * consumer can order delete-before-insert when one key is rewritten
  * inside a single micro-batch (Delta CDF's _commit_version plays the
  * same role). Per-commit file sets come from the O(changed-chunks)
  * manifest diff against each snapshot's parent
  * ([[LakeTable.changesBySnapshot]]), so overwrites/deletes stream fine
  * (the append-only stream errors on them by design). Pure rewrites
  * (`operation = "replace"`: compaction, manifest rewrite) change no
  * logical rows and are skipped outright instead of emitting
  * delete+insert churn for every untouched row. The first batch replays
  * the table's current content as inserts attributed to the head
  * snapshot. A snapshot expired out of an unread range fails the stream
  * cleanly rather than misattributing its changes. */
final class LakeChangesMicroBatchStream(location: String) extends LakeStreamBase(location) {
  override def latestOffset(start: Offset, limit: org.apache.spark.sql.connector.read.streaming.ReadLimit): Offset =
    latestOffset()

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val fromId = start.asInstanceOf[LakeOffset].snapshotId
    val endId = end.asInstanceOf[LakeOffset].snapshotId
    if (endId == 0L || fromId == endId) return plan(Seq.empty)
    val m = table.refresh().metadata
    val to = m.snapshotById(endId).getOrElse(
      throw new IllegalStateException(s"offset snapshot $endId expired from $location"))
    val changes =
      // initial batch: current content as inserts, attributed to head
      if (fromId == 0L) Seq((to, LakeTable.changedFiles(table, None, to)._1, Seq.empty))
      else m.snapshotsBetween(Some(fromId), endId) match {
        case Right(chain) => LakeTable.changesBySnapshot(table, chain)
        // the walk missed fromId: it ended at an expired parent or at the root
        case Left(walked) => walked.head.parentId match {
          case Some(pid) => throw new IllegalStateException(
            s"snapshot $pid in unread range ($fromId, $endId] expired from $location")
          case None => throw new IllegalStateException(
            s"offset snapshot $fromId is not an ancestor of $endId at $location " +
              "(history rewritten under a running stream)")
        }
      }
    plan(changes.flatMap { case (s, added, removed) =>
      Seq(added -> Some(("insert", s.id)), removed -> Some(("delete", s.id)))
    })
  }
}

final case class LakeOffset(snapshotId: Long) extends Offset {
  override def json(): String = snapshotId.toString
}
