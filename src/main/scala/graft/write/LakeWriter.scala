package graft.write

import graft.format._
import graft.transforms.Transform
import java.util.UUID
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.BlockMetaData
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.classic.{SparkSession => ClassicSession}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.datasources.FileFormatWriter
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._
import scala.reflect.ClassTag

/** Write pipeline (SURVEY §7.1.4; mirrors reference S6–S8 + D10):
  * cast-projection to table schema (P9) -> partition transform columns ->
  * clustering repartition -> sorted write, each task putting its parquet
  * files at their final paths under `data/` and reading their footer
  * stats as it commits ([[FooterCommitProtocol]]) -> FileEntry list for
  * the table commit, which is metadata only: no staging directory,
  * rename, listing or driver-side footer read.
  *
  * Scale design: one Spark job does the whole write; parallelism is tasks
  * (not the reference's partitionWriterThreadPool). Partitioned tables
  * hash-distribute on the transformed partition columns so each partition's
  * rows land in few tasks (small-file control); sorted unpartitioned tables
  * range-distribute on the sort key so file min/max ranges don't overlap —
  * that's what makes the stats pruner effective. AQE coalesces the shuffle
  * when the batch is small.
  */
object LakeWriter extends Serializable {

  def partColName(pf: PartitionField): String = s"__p_${pf.name}"

  /** P9 cast-projection: every table column present (missing -> NULL),
    * cast to the table type (reference SchemaEvolution.java:283-319). */
  def castProjection(df: DataFrame, schema: StructType): DataFrame = {
    val in = df.columns.toSet
    df.select(schema.fields.map { f =>
      (if (in.contains(f.name)) col(f.name) else lit(null)).cast(f.dataType).as(f.name)
    }.toSeq: _*)
  }

  /** Session conf the write path depends on, applied lazily from
    * [[write]] on each write entry, and only when the conf differs —
    * [[graft.commands.LakeEngine]] deliberately does NOT call this at
    * construction (a read-only engine must not mutate session conf;
    * see the NOTE there), so direct and engine-driven writers both get
    * it on first write with no redundant mutation on the hot path. */
  def ensureWriteConf(spark: SparkSession): Unit = {
    val key = "spark.sql.parquet.outputTimestampType"
    if (!spark.conf.getOption(key).contains("TIMESTAMP_MICROS"))
      spark.conf.set(key, "TIMESTAMP_MICROS")
  }

  /** @param clusterBounds stats-derived range-clustering hint for CoW
    *   rewrites (round 12): sorted unpartitioned tables normally range-
    *   cluster via `repartitionByRange`, whose RangePartitioner runs a
    *   SAMPLING job that recomputes the entire rewrite pipeline (scan +
    *   diff anti-join) a second time — measured as a full extra pass on
    *   every UPDATE/DELETE/merge (Exp17). A rewrite already KNOWS good
    *   bounds: the touched files' existing sort-key ranges (footer
    *   stats carried in their FileEntry rows). Callers pass those max
    *   bounds (canonical stats strings, [[clusterBoundsOf]]) and the
    *   write buckets rows by explicit bound comparison + a single hash
    *   exchange — zero sampling, same non-overlapping file ranges.
    *   (A persist-the-input alternative was A/B'd first and REJECTED:
    *   the columnar cache build cost more than the recompute it saved —
    *   sample job 1.2->2.4-3.6s taskSum at sf1.) Unsupported shapes
    *   (descending/missing sort, float/decimal keys) fall back to
    *   sampling. */
  /** @param preserveDistribution CoW passthrough rewrites (round 12):
    *   the input's partitions ARE the desired output files — one scan
    *   split per touched file, rows still in the file's own sort order
    *   (a filter/projection rebuild can't disturb it) — so the write
    *   skips BOTH the cluster exchange and the within-partition sort.
    *   Each task rewrites its file in place: zero shuffle at any scale,
    *   which is the shape a 1000-executor CoW delete wants (K touched
    *   files -> K tasks). Callers must guarantee (a) unpartitioned
    *   table, (b) per-file input partitions, (c) the rebuild leaves
    *   sort columns untouched — [[graft.commands.LakeEngine]] checks
    *   all three before asking for it. */
  /** @param sizeHintBytes caller-known input size for the single-file
    *   fast path, for inputs whose own plan cannot estimate (the
    *   streaming sink's LogicalRDD batches default to "huge", which
    *   would silently disable the fast path for exactly the micro-batch
    *   appends it exists for). */
  def write(spark: SparkSession, table: LakeTable, input: DataFrame,
      clusterBounds: Option[Seq[String]] = None,
      preserveDistribution: Boolean = false,
      sizeHintBytes: Option[BigInt] = None): Seq[FileEntry] = {
    val schema = table.schema
    val spec = table.metadata.partitionSpec
    val props = table.properties
    ensureWriteConf(spark)

    val casted = castProjection(input, schema)
    val partCols = spec.map { pf =>
      Transform.parse(pf.transform)
        .column(col(pf.sourceColumn), schema(pf.sourceColumn).dataType)
        .as(partColName(pf))
    }
    val withParts =
      if (spec.isEmpty) casted
      else casted.select(col("*") +: partCols: _*)

    val sortExprs: Seq[Column] = table.metadata.sortOrder.map { sf =>
      (sf.ascending, sf.nullsFirst) match {
        case (true, true)   => col(sf.column).asc_nulls_first
        case (true, false)  => col(sf.column).asc_nulls_last
        case (false, true)  => col(sf.column).desc_nulls_first
        case (false, false) => col(sf.column).desc_nulls_last
      }
    }

    val ClusterCol = "__graft_cluster"
    if (preserveDistribution && spec.isEmpty) {
      // passthrough: partitions and order arrive write-ready (scaladoc)
      return finishWrite(table, withParts, props, spec)
    }
    val bucketed = clusterBounds.filter(_ => spec.isEmpty && sortExprs.nonEmpty)
      .flatMap(bs => boundsBucketExpr(table, bs))
    val distributed = (spec.nonEmpty, sortExprs.nonEmpty) match {
      case (true, _) if props.getOrElse("write.distribution-mode", "hash") == "hash" =>
        withParts.repartition(spec.map(pf => col(partColName(pf))): _*)
      case (false, true) =>
        bucketed match {
          // stats-guided clustering: explicit bound buckets + one hash
          // exchange, no sampling pass (see scaladoc)
          case Some((bucketExpr, nBuckets)) =>
            withParts.withColumn(ClusterCol, bucketExpr)
              .repartition(nBuckets, col(ClusterCol))
          case None =>
            // micro-batch fast path (round 15, Exp34): a batch whose
            // size estimate fits ONE target file needs no range
            // clustering — collapse to a single sorted partition and
            // write one tight file. The sampling branch below pays a
            // RangePartitioner job that RE-EVALUATES the input, and
            // worse, a small append fragments into up to
            // shuffle-partition-count sliver files (a streaming sink
            // commits one such append per micro-batch). Estimates from
            // a scan are the file bytes (accurate for stream batches);
            // an over-estimate just takes the sampling path, an
            // under-estimate writes one larger sorted file — correct
            // either way.
            val est = sizeHintBytes.getOrElse(
              withParts.queryExecution.optimizedPlan.stats.sizeInBytes)
            // Trusted caller hint (the streaming sink measures its
            // batch) -> coalesce(1): no exchange at all, the whole
            // small write runs as ONE single-stage task. Stats-derived
            // estimate -> repartition(1): coalesce would propagate the
            // 1-partition constraint up the entire narrow stage, so an
            // under-estimating plan (e.g. a selective filter feeding a
            // large append) would silently serialize the whole
            // scan+compute into one task — an exchange caps a wrong
            // estimate at one small shuffle instead.
            if (est <= SingleFileBytes) {
              if (sizeHintBytes.isDefined) withParts.coalesce(1)
              else withParts.repartition(1)
            }
            // sorted table: range-cluster so file ranges don't overlap
            else withParts.repartitionByRange(sortExprs: _*)
        }
      case _ => withParts
    }
    val sorted0 =
      if (sortExprs.isEmpty) distributed
      else if (spec.isEmpty) distributed.sortWithinPartitions(sortExprs: _*)
      else distributed.sortWithinPartitions(spec.map(pf => col(partColName(pf))) ++ sortExprs: _*)
    val sorted = if (bucketed.isDefined) sorted0.drop(ClusterCol) else sorted0
    finishWrite(table, sorted, props, spec)
  }

  /** Direct write shared by the clustered and passthrough paths: Spark's
    * `FileFormatWriter` runs the plan with [[FooterCommitProtocol]], so
    * each task writes its files at their final paths under `data/` and
    * reports their footer stats as its commit message — the commit needs
    * no staging directory, rename, listing or driver-side footer read.
    * The write gets its own SQL execution (as a `DataFrameWriter` save
    * would) and its options go through this write's Hadoop conf only;
    * the session's commit protocol setting is never touched. */
  private def finishWrite(table: LakeTable, sorted: DataFrame,
      props: Map[String, String], spec: Seq[PartitionField]): Seq[FileEntry] = {
    val session = sorted.sparkSession.asInstanceOf[ClassicSession]
    val options = writeOptions(props)
    val hadoopConf = session.sessionState.newHadoopConfWithOptions(options)
    val dir = new HPath(table.dataDir.toString)
    val dataDir = dir.getFileSystem(hadoopConf).makeQualified(dir).toString
    val committer = new FooterCommitProtocol(
      dataDir, UUID.randomUUID().toString, EntryLayout.of(table))
    val qe = sorted.queryExecution
    // the optimized plan's attributes, as a DataFrameWriter save writes:
    // their nullability (constant-folded casts are non-null) decides
    // each column's required/optional parquet repetition
    val output = qe.optimizedPlan.output
    val partAttrs = spec.map(pf => output.find(_.name == partColName(pf)).get)
    SQLExecution.withNewExecutionId(qe, Some("graft lake write")) {
      FileFormatWriter.write(session, qe.executedPlan, new ParquetFileFormat, committer,
        FileFormatWriter.OutputSpec(dataDir, Map.empty, output), hadoopConf,
        partAttrs, None, Nil, options)
    }
    committer.entries.sortBy(_.path)
  }

  /** Parquet writer options from the table properties; they reach the
    * writer both as data-source options and as this write's Hadoop conf. */
  private def writeOptions(props: Map[String, String]): Map[String, String] = {
    val base = Map(
      "compression" -> props.getOrElse("write.parquet.compression", "zstd"),
      // 32 MB default row groups (vs parquet-mr's 128 MB): row-group
      // stats/page-index pruning and the CoW rewrite's intra-file
      // parallelism both work at GROUP granularity, and 128 MB buffered
      // groups left a 50 MB data file with ~1 group — unsplittable for
      // a rewrite and all-or-nothing for pruning. 32 MB keeps groups
      // well above the size where per-group overhead shows while giving
      // a file 4-8 independently skippable/rewritable slices (DuckDB's
      // own layout runs ~122k-row groups for the same reason).
      "parquet.block.size" ->
        props.getOrElse("write.parquet.row-group-size-bytes", (32 * 1024 * 1024).toString))
    // zstd stays at parquet-mr's default level 3: level 1 measured
    // slower on both write-bound paths in round 21 (Exp51 sf50 scd1
    // 13.19 vs 15.27 s; Exp53 sink addBatch +12%) — the sorted write is
    // not encode-bound, and level 1 writes more bytes
    val maxRecords = props.get("write.max-records-per-file").map("maxRecordsPerFile" -> _)
    // `graft.write.bloom-columns` = comma list: parquet row-group bloom
    // filters for high-cardinality point-lookup columns — min/max pruning
    // can't help an equality probe inside a file's range, a bloom can
    // (the parquet reader consults it automatically; at 100 TB this is
    // the per-file complement to stats-based file pruning)
    val blooms = props.get("graft.write.bloom-columns").toSeq
      .flatMap(_.split(',').map(_.trim).filter(_.nonEmpty))
      .map(c => s"parquet.bloom.filter.enabled#$c" -> "true")
    base ++ maxRecords ++ blooms
  }

  private val MaxClusterBuckets = 64

  /** Size estimate at or under which a sorted unpartitioned write skips
    * range clustering and writes one file (see [[write]]). */
  private val SingleFileBytes: Long = 32L << 20

  /** Per-task byte target of [[clusterBoundsOf]]'s interior splits: a
    * touched file adds one bound per target-sized slice (at most 8).
    * Lowered only by specs that pin the split bounds on test-sized
    * tables. */
  @volatile private[write] var clusterSplitTargetBytes: Long = 8L << 20

  /** Upper bounds of the FIRST sort column across a rewrite's touched
    * files (canonical stats strings), for [[write]]'s `clusterBounds` —
    * None when the table's sort shape can't take the hint. */
  def clusterBoundsOf(table: LakeTable, touched: Seq[FileEntry]): Option[Seq[String]] =
    table.metadata.sortOrder.headOption.filter(_.ascending).flatMap { sf =>
      val dt = table.schema(sf.column).dataType
      if (!supportedClusterType(dt)) None
      else {
        val id = FieldIds.of(table.schema(sf.column))
        val maxes = touched.flatMap { f =>
          val st = f.stats.get(id.toString)
          val mx = st.flatMap(_.max)
          // write-parallelism splits (round 17): one bucket per touched
          // file caps a CoW rewrite at #files tasks — at sf10 the scd
          // rewrite funneled ~115MB of sort+zstd-encode through 3 reduce
          // tasks on 32 cores. For integer-canonical sort keys the
          // footer (min,max) lets us add interior bounds by closed-form
          // interpolation — NO sampling job — keeping ranges contiguous
          // and disjoint (stats pruning unchanged; output files smaller
          // but never overlapping). Volume-gated: files under the
          // per-task target contribute no interior points, so
          // small-scale writes keep their exact one-file-one-bucket
          // shape. Skew inside a file degrades a split's balance, never
          // correctness — and parallelism never drops below the
          // unsplit shape.
          val interior: Seq[String] = (st.flatMap(_.min), mx) match {
            case (Some(lo), Some(hi)) if integerCanonical(dt) && f.sizeBytes > 0 =>
              try {
                val n = math.min(math.max(f.sizeBytes / clusterSplitTargetBytes, 1L), 8L)
                val (blo, bhi) = (BigInt(lo), BigInt(hi))
                (1L until n).map(i => (blo + (bhi - blo) * i / n).toString)
                  .filterNot(b => b == lo || b == hi)
              } catch { case scala.util.control.NonFatal(_) => Seq.empty }
            case _ => Seq.empty
          }
          interior ++ mx
        }
        if (maxes.isEmpty) None else Some(maxes)
      }
    }

  /** Sort-key types whose canonical stats strings are plain integers —
    * the ones [[clusterBoundsOf]] can split by interpolation. */
  private def integerCanonical(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType | DateType |
         TimestampType | TimestampNTZType => true
    case _ => false
  }

  private def supportedClusterType(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType | DateType |
         TimestampType | TimestampNTZType | StringType => true
    case _ => false
  }

  /** Bucket-assignment expression for stats-guided clustering: rows are
    * compared against the sorted bound list (a when-chain, ≤
    * [[MaxClusterBuckets]] arms — larger bound lists subsample evenly)
    * and tagged with an int LABEL chosen so Spark's hash partitioner
    * (murmur3 seed 42, pmod n) sends bucket i to its own partition —
    * the labels are searched driver-side for injectivity, making
    * `repartition(n, label)` an EXACT bucket->partition map. Bucket
    * ranges are contiguous and ordered, so each output partition (and
    * each maxRecordsPerFile split of it, which is sequential within the
    * partition sort) covers a non-overlapping sort-key range — the same
    * invariant repartitionByRange gives, without its sampling job. */
  private def boundsBucketExpr(
      table: LakeTable, boundsCanonical: Seq[String]): Option[(Column, Int)] = {
    val sf = table.metadata.sortOrder.head
    val dt = table.schema(sf.column).dataType
    if (!supportedClusterType(dt)) return None
    // sort + dedupe canonically, subsample to the bucket cap
    val sortedB = boundsCanonical.distinct
      .sortWith((a, b) => graft.scan.StatsCodec.cmp(
        graft.scan.StatsCodec.statsKey(dt, a), graft.scan.StatsCodec.statsKey(dt, b)) < 0)
    val capped =
      if (sortedB.size <= MaxClusterBuckets - 1) sortedB
      else {
        val step = sortedB.size.toDouble / (MaxClusterBuckets - 1)
        (1 to (MaxClusterBuckets - 1)).map(i => sortedB(math.min(
          (i * step).toInt - 1, sortedB.size - 1))).distinct
      }
    val lits: Seq[Column] =
      try capped.map(canonicalLit(dt, _))
      catch { case scala.util.control.NonFatal(_) => return None }
    val n = lits.size + 1 // + tail bucket for rows above every bound
    // labels: smallest non-negative ints whose murmur3(seed 42) pmod n
    // lands each bucket in its own partition (HashPartitioning's
    // partition-id expression for an int column)
    val labels = new Array[Int](n)
    val takenBy = new Array[Boolean](n)
    var found = 0
    var cand = 0
    while (found < n) {
      val p = math.floorMod(
        org.apache.spark.unsafe.hash.Murmur3_x86_32.hashInt(cand, 42), n)
      if (!takenBy(p)) { takenBy(p) = true; labels(p) = cand; found += 1 }
      cand += 1
    }
    // bucket i (bound order) must land in partition i -> use the label
    // that hashes to partition i
    val k = col(sf.column)
    val nullLabel = if (sf.nullsFirst) labels(0) else labels(n - 1)
    val chain = lits.zipWithIndex.foldRight(lit(labels(n - 1)): Column) {
      case ((b, i), els) => when(k <= b, lit(labels(i))).otherwise(els)
    }
    Some((when(k.isNull, lit(nullLabel)).otherwise(chain), n))
  }

  /** Canonical stats string -> typed literal Column for bound compares. */
  private def canonicalLit(dt: DataType, s: String): Column = dt match {
    case ByteType | ShortType | IntegerType | LongType => lit(s.toLong).cast(dt)
    case DateType => lit(java.time.LocalDate.ofEpochDay(s.toLong))
    case TimestampType =>
      val us = s.toLong
      lit(java.time.Instant.ofEpochSecond(Math.floorDiv(us, 1000000L),
        Math.floorMod(us, 1000000L) * 1000L))
    case TimestampNTZType =>
      val us = s.toLong
      lit(java.time.LocalDateTime.ofEpochSecond(Math.floorDiv(us, 1000000L),
        (Math.floorMod(us, 1000000L) * 1000L).toInt, java.time.ZoneOffset.UTC))
    case StringType => lit(s)
    case other => throw new IllegalArgumentException(s"no cluster literal for $other")
  }

  /** What a write task needs to turn the files it wrote into
    * [[FileEntry]] rows: the table's column types and field ids, its
    * float/double columns (for NaN counts), each partition field's name
    * with its directory column, and the schema/spec ids the entries
    * record. */
  private[write] final case class EntryLayout(
      typeByName: Map[String, DataType], idByName: Map[String, Int],
      floatColNames: Array[String], partCols: Seq[(String, String)],
      schemaId: Int, specId: Int)

  private[write] object EntryLayout {
    def of(table: LakeTable): EntryLayout = {
      val fields = table.schema.fields.toSeq
      EntryLayout(
        fields.map(f => f.name -> f.dataType).toMap,
        fields.map(f => f.name -> FieldIds.of(f)).toMap,
        fields.collect { case f if f.dataType == FloatType || f.dataType == DoubleType => f.name }.toArray,
        table.metadata.partitionSpec.map(pf => pf.name -> partColName(pf)),
        table.metadata.currentSchemaId, table.metadata.currentSpecId)
    }
  }

  /** S8: the [[FileEntry]] of one file a write task just closed, read
    * from its footer inside the task ([[FooterCommitProtocol.commitTask]])
    * — the reference collects these inline in its writer
    * (BaseDataFileWriter.java:353-484). Per-column (min, max, nulls) come
    * from the row-group statistics; NaN counts for float/double columns
    * (Iceberg nanValueCounts — parquet footers don't carry them) are
    * counted through the same `ParquetFileReader` open, reading only
    * those columns' pages. `partDir` is the file's partition directory
    * relative to `data/` as Spark named it (`__p_<name>=<escaped>`). */
  private[write] def footerEntry(conf: Configuration, path: String,
      partDir: Option[String], layout: EntryLayout): FileEntry = {
    val partition: Map[String, String] = {
      val segs = partDir.toSeq.flatMap(_.split('/')).filter(_.nonEmpty)
      layout.partCols.map { case (name, dirCol) =>
        val needle = s"$dirCol="
        val seg = segs.find(_.startsWith(needle)).getOrElse(
          throw new IllegalStateException(s"no partition dir for $name in $path"))
        name -> unescapePath(seg.stripPrefix(needle))
      }.toMap
    }
    val input = HadoopInputFile.fromPath(new HPath(path), conf)
    val reader = ParquetFileReader.open(input)
    try {
      val typeByName = layout.typeByName
      val blocks = reader.getFooter.getBlocks.asScala
      val rowCount = blocks.map(_.getRowCount).sum
      val statsByCol = scala.collection.mutable.Map[String, (Option[String], Option[String], Long)]()
      blocks.foreach { b =>
        groupStats(b, typeByName).foreach { case (name, (mn, mx, nulls)) =>
          val dt = typeByName(name)
          val prev = statsByCol.getOrElse(name, (None: Option[String], None: Option[String], 0L))
          statsByCol(name) = (
            mergeBound(prev._1, mn, dt, isMin = true),
            mergeBound(prev._2, mx, dt, isMin = false),
            prev._3 + nulls)
        }
      }
      val nanCounts = countNans(reader, layout.floatColNames)
      val stats = statsByCol.flatMap { case (name, (mn, mx, nc)) =>
        layout.idByName.get(name).filter(_ > 0).map(id =>
          id.toString -> ColumnStats(mn, mx, nc, nanCount = nanCounts.get(name)))
      }.toMap
      FileEntry(plainPath(path), partition, rowCount, input.getLength,
        layout.schemaId, stats, layout.specId)
    } finally reader.close()
  }

  /** Driver-side footer reads for [[rowGroupStats]] up to this many
    * files — a DML's ambiguous set is normally the few boundary files
    * of a range. */
  private val ProbeDriverMaxFiles = 8

  /** Runs `read` over `items` with a Hadoop conf rebuilt from `conf`'s
    * entries (Configuration is not serializable): on the driver when
    * there are at most [[ProbeDriverMaxFiles]] items, else as one
    * `parallelize` job so footer IO fans out across executors — at
    * 10^5–10^6 files that is what keeps a probe off a serial driver
    * loop. */
  private def footerFanOut[A: ClassTag, B: ClassTag](spark: SparkSession,
      conf: Configuration, items: Seq[A])(
      read: (Configuration, A) => B): Seq[B] = {
    val confEntries = conf.iterator().asScala.map(e => (e.getKey, e.getValue)).toArray
    def readPart(iter: Iterator[A]): Iterator[B] = {
      val tconf = new Configuration(false)
      confEntries.foreach { case (k, v) => tconf.set(k, v) }
      iter.map(read(tconf, _))
    }
    if (items.size <= ProbeDriverMaxFiles) readPart(items.iterator).toSeq
    else {
      val slices = math.max(1, math.min(items.size, spark.sparkContext.defaultParallelism))
      spark.sparkContext.parallelize(items, slices).mapPartitions(readPart).collect().toSeq
    }
  }

  /** One row group's footer statistics for the top-level columns named
    * in `typeByName`, decoded to canonical (min, max, nullCount) — the
    * decode shared by [[footerEntry]] (merged per file) and
    * [[rowGroupStats]] (kept per group). */
  private def groupStats(b: BlockMetaData, typeByName: Map[String, DataType])
      : Seq[(String, (Option[String], Option[String], Long))] =
    b.getColumns.asScala.toSeq.flatMap { cc =>
      val name = cc.getPath.toDotString
      if (name.contains('.')) None
      else typeByName.get(name).map { dt =>
        val st = cc.getStatistics
        name -> (
          if (st == null || st.isEmpty) (None, None, 0L)
          else {
            val n = if (st.isNumNullsSet) st.getNumNulls else 0L
            if (!st.hasNonNullValue) (None, None, n)
            else (statToCanon(st.genericGetMin.asInstanceOf[AnyRef], dt, isMin = true),
              statToCanon(st.genericGetMax.asInstanceOf[AnyRef], dt, isMin = false), n)
          })
      }
    }

  /** Row-group-granular stats for already-committed files: per ROW GROUP
    * of each input file, a synthetic [[FileEntry]] carrying that group's
    * footer min/max/nullCount under the same canonical encoding as the
    * write-time [[footerEntry]] — so [[graft.scan.StatsEvaluator]] evaluates
    * predicates at group granularity with zero format change (the
    * manifests keep file-level stats only). Used by the DML probe: a
    * file-level-ambiguous candidate whose groups either all exclude the
    * predicate (untouched) or include a provably-all group (touched) is
    * classified from its FOOTER alone, no row scan. NaN counts are NOT
    * re-derived per group (that would read the float pages — the very
    * IO this path avoids); [[graft.scan.StatsEvaluator]] treats a
    * missing nanCount conservatively. Footer IO is one driver-side open
    * per file up to [[ProbeDriverMaxFiles]], then fans out as a Spark
    * job ([[footerFanOut]]) — at 100 TB a wide ambiguous set
    * parallelizes across executors. Files whose footer read fails map
    * to None (caller falls back to the row probe). */
  def rowGroupStats(spark: SparkSession, table: LakeTable,
      files: Seq[FileEntry]): Map[String, Option[Seq[FileEntry]]] = {
    if (files.isEmpty) return Map.empty
    val layout = EntryLayout.of(table)
    def readGroups(tconf: Configuration, fe: FileEntry): (String, Option[Seq[FileEntry]]) =
      fe.path -> (try {
        val reader = ParquetFileReader.open(
          HadoopInputFile.fromPath(new HPath(fe.path), tconf))
        try {
          val groups = reader.getFooter.getBlocks.asScala.toSeq.map { b =>
            val stats = groupStats(b, layout.typeByName).flatMap { case (name, (mn, mx, nulls)) =>
              layout.idByName.get(name).filter(_ > 0).map(id =>
                id.toString -> ColumnStats(mn, mx, nulls))
            }.toMap
            FileEntry(fe.path, fe.partition, b.getRowCount, b.getCompressedSize,
              fe.schemaId, stats, fe.specId)
          }
          Some(groups)
        } finally reader.close()
      } catch { case scala.util.control.NonFatal(_) => None })
    footerFanOut(spark, spark.sessionState.newHadoopConf(), files)(readGroups).toMap
  }

  /** Dummy record assembly for [[ColumnReadStoreImpl]] — values are read
    * directly off the [[org.apache.parquet.column.ColumnReader]], never
    * materialized through converters. */
  private class NanGroupConverter extends org.apache.parquet.io.api.GroupConverter {
    override def getConverter(fieldIndex: Int): org.apache.parquet.io.api.Converter =
      new org.apache.parquet.io.api.PrimitiveConverter {}
    override def start(): Unit = ()
    override def end(): Unit = ()
  }

  /** NaN counts per top-level float/double column, read through an
    * ALREADY-OPEN footer reader: `setRequestedSchema` restricts row-group
    * reads to just those columns' pages, then a definition-level walk
    * counts NaNs (top-level primitives: one value slot per row). Runs
    * in the write task's commit ([[footerEntry]]), right after the file
    * closes, so a write reads its new files back exactly once and on the
    * executor that wrote them. The per-value loop is slower per byte than
    * Spark's vectorized reader, but it replaces an entire extra job +
    * second file open + shuffle, and it touches only the float/double
    * pages — a net win at every scale measured (and skipped entirely for
    * schemas with no float/double columns). */
  private def countNans(
      reader: ParquetFileReader, floatColNames: Array[String]): Map[String, Long] = {
    if (floatColNames.isEmpty) return Map.empty
    val fileSchema = reader.getFooter.getFileMetaData.getSchema
    val present = floatColNames.filter(fileSchema.containsField)
    if (present.isEmpty) return Map.empty
    val fieldTypes: java.util.List[org.apache.parquet.schema.Type] =
      present.map(n => fileSchema.getType(Array(n): _*)).toList.asJava
    val projected = new org.apache.parquet.schema.MessageType(
      "graft_nan_projection", fieldTypes)
    reader.setRequestedSchema(projected)
    val createdBy = reader.getFooter.getFileMetaData.getCreatedBy
    val counts = scala.collection.mutable.Map.empty[String, Long]
    present.foreach(counts(_) = 0L)
    var pages = reader.readNextRowGroup()
    while (pages != null) {
      val crs = new org.apache.parquet.column.impl.ColumnReadStoreImpl(
        pages, new NanGroupConverter, projected, createdBy)
      projected.getColumns.asScala.foreach { cd =>
        val name = cd.getPath()(0)
        val isDouble = cd.getPrimitiveType.getPrimitiveTypeName ==
          org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.DOUBLE
        val cr = crs.getColumnReader(cd)
        val maxDef = cd.getMaxDefinitionLevel
        val rows = pages.getRowCount
        var i = 0L
        var c = counts(name)
        while (i < rows) {
          if (cr.getCurrentDefinitionLevel == maxDef) {
            val isNaN =
              if (isDouble) java.lang.Double.isNaN(cr.getDouble)
              else java.lang.Float.isNaN(cr.getFloat)
            if (isNaN) c += 1
          }
          cr.consume()
          i += 1
        }
        counts(name) = c
      }
      pages = reader.readNextRowGroup()
    }
    counts.toMap
  }


  private def plainPath(s: String): String = s.replaceFirst("^file:/+", "/")

  private def mergeBound(a: Option[String], b: Option[String], dt: DataType, isMin: Boolean): Option[String] =
    (a, b) match {
      case (None, x) => x
      case (x, None) => x
      case (Some(x), Some(y)) =>
        val c = graft.scan.StatsCodec.cmp(
          graft.scan.StatsCodec.statsKey(dt, x), graft.scan.StatsCodec.statsKey(dt, y))
        Some(if ((c <= 0) == isMin) x else y)
    }

  private val MaxBoundChars = 64

  /** Safe string lower bound: a prefix sorts <= every string it prefixes. */
  private def truncMin(s: String): Option[String] =
    Some(if (s.length <= MaxBoundChars) s else s.substring(0, MaxBoundChars))

  /** Safe string upper bound: truncate, then increment the last
    * incrementable char (skipping the surrogate range) so the result
    * sorts strictly above every string sharing the truncated prefix
    * (Iceberg UnicodeUtil.truncateStringMax semantics). None = no finite
    * bound (every truncated char was at its max). */
  private def truncMaxUpper(s: String): Option[String] =
    if (s.length <= MaxBoundChars) Some(s)
    else {
      val cs = s.substring(0, MaxBoundChars).toCharArray
      var i = cs.length - 1
      while (i >= 0) {
        val c = cs(i)
        if (c < 0xD7FF || (c >= 0xE000 && c < 0xFFFF)) {
          cs(i) = (c + 1).toChar
          return Some(new String(cs, 0, i + 1))
        }
        if (c == 0xD7FF) { cs(i) = 0xE000.toChar; return Some(new String(cs, 0, i + 1)) }
        i -= 1 // 0xFFFF or a surrogate: can't increment safely, carry left
      }
      None
    }

  private val MaxBinaryBoundBytes = 16

  /** Safe binary lower bound: a byte prefix sorts <= every value it
    * prefixes (unsigned), and the hex encoding preserves that. */
  private def truncBinMin(bs: Array[Byte]): Option[String] =
    Some(graft.scan.StatsCodec.hexKey(
      if (bs.length <= MaxBinaryBoundBytes) bs else bs.take(MaxBinaryBoundBytes)))

  /** Safe binary upper bound: truncate, then increment the last non-0xFF
    * byte (carrying left) so the bound sorts strictly above every value
    * sharing the truncated prefix — Iceberg
    * BinaryUtil.truncateBinaryMax semantics. None = all-0xFF prefix,
    * no finite bound. */
  private def truncBinMaxUpper(bs: Array[Byte]): Option[String] =
    if (bs.length <= MaxBinaryBoundBytes) Some(graft.scan.StatsCodec.hexKey(bs))
    else {
      val cs = bs.take(MaxBinaryBoundBytes)
      var i = cs.length - 1
      while (i >= 0) {
        if ((cs(i) & 0xff) != 0xff) {
          cs(i) = ((cs(i) & 0xff) + 1).toByte
          return Some(graft.scan.StatsCodec.hexKey(cs.slice(0, i + 1)))
        }
        i -= 1
      }
      None
    }

  /** Parquet statistics value -> canonical stats string (see StatsCodec). */
  private def statToCanon(v: AnyRef, dt: DataType, isMin: Boolean): Option[String] = dt match {
    case StringType =>
      val s = v.asInstanceOf[org.apache.parquet.io.api.Binary].toStringUsingUTF8
      if (isMin) truncMin(s) else truncMaxUpper(s)
    case BinaryType =>
      val bs = v.asInstanceOf[org.apache.parquet.io.api.Binary].getBytes
      if (isMin) truncBinMin(bs) else truncBinMaxUpper(bs)
    case d: DecimalType =>
      // physical type depends on precision: int32 / int64 / binary unscaled
      val unscaled = v match {
        case b: org.apache.parquet.io.api.Binary => new java.math.BigInteger(b.getBytes)
        case n: java.lang.Integer => java.math.BigInteger.valueOf(n.longValue)
        case n: java.lang.Long => java.math.BigInteger.valueOf(n.longValue)
        case _ => return None
      }
      Some(new java.math.BigDecimal(unscaled, d.scale).toPlainString)
    case BooleanType | IntegerType | LongType | FloatType | DoubleType |
         ShortType | ByteType | DateType | TimestampType | TimestampNTZType =>
      val s = v.toString
      // +-Infinity encode to StatsCodec ordering sentinels; NaN-poisoned
      // bounds (parquet-mr propagates NaN through min/max) are unusable
      if (s == "NaN") None else Some(s)
    case _ => None
  }

  private def unescapePath(s: String): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '%' && i + 3 <= s.length) {
        try {
          sb.append(Integer.parseInt(s.substring(i + 1, i + 3), 16).toChar); i += 3
        } catch { case _: Exception => sb.append(c); i += 1 }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }
}
