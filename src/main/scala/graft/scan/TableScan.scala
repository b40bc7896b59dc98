package graft.scan

import graft.format.{FileEntry, LakeTable, TableRef}
import graft.streaming.LakeDsv2
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

class FullTableScanException(msg: String) extends RuntimeException(msg)
class ScanSizeLimitException(msg: String) extends RuntimeException(msg)

/** Pruning scan: predicate -> (partition + stats) file pruning -> the
  * planned files as a DataFrame over the `graft-lake` connector.
  *
  * Spark rebuild of the reference read path (SURVEY §3.1 steps 2–5):
  * SqlQueryProcessor/IcebergScanExecutor collapse into [[planFiles]], and
  * SchemaEvolution.getSelectSQLForDataFiles (S4) into the connector's
  * reader — per-schema file groups, field-id projection
  * casting/renaming/NULL-filling ([[SchemaEvolve]]). `lake.*` SQL reads
  * the same relation, so reads and DML share one read path. Everything
  * above the relation is Catalyst: the residual predicate is a plain
  * Column, so pushdown/codegen apply.
  */
final class TableScan(
    spark: SparkSession,
    table: LakeTable,
    pred: Pred = AlwaysTrue,
    ref: TableRef = TableRef.Head,
    allowFullTableScan: Boolean = true,
    sizeLimitMiB: Option[Long] = None,
    withFileColumns: Boolean = false,
    // scan exactly these files (no file pruning); `pred` still applies as
    // the row residual, AlwaysTrue for rebuild scans that keep every row
    explicitFiles: Option[Seq[FileEntry]] = None) {

  private lazy val evaluator = new StatsEvaluator(table.schema, table.metadata.specsById)

  /** Scan metrics (reference TableScanMetrics, SURVEY §2.8): how much the
    * metadata pruner saved, with zero data read. */
  final case class ScanMetrics(
      totalFiles: Int, matchedFiles: Int, skippedFiles: Int,
      totalBytes: Long, matchedBytes: Long, matchedRecords: Long)

  def metrics(): ScanMetrics = {
    val all = explicitFiles.getOrElse(table.currentFiles(ref))
    val matched = planFiles()
    ScanMetrics(all.size, matched.size, all.size - matched.size,
      all.map(_.sizeBytes).sum, matched.map(_.sizeBytes).sum,
      matched.map(_.recordCount).sum)
  }

  /** A4: per-partition record counts from manifest metadata only — zero
    * data read (reference IcebergScanExecutor.java:515-570 shape: group
    * planned files by (specId, partition values), sum record counts).
    * Like the reference, counts cover every file the pruner cannot
    * exclude, since both engines take them from the same file metadata. */
  def partitionRecordCounts(): Seq[(Int, Map[String, String], Long)] =
    planFiles().groupBy(f => (f.specId, f.partition)).toSeq
      .map { case ((sid, part), fs) => (sid, part, fs.map(_.recordCount).sum) }
      .sortBy { case (sid, part, _) =>
        (sid, part.toSeq.sortBy(_._1).map(kv => s"${kv._1}=${kv._2}").mkString(",")) }

  /** Manifest-chunk pruning: a chunk whose recorded partition-value set
    * provably excludes the predicate is skipped WITHOUT reading it — at
    * large table sizes a partition-filtered scan touches O(matching)
    * metadata, not O(table). Checked per recorded field via a synthetic
    * single-field entry; the evaluator treats all missing information
    * conservatively, so this is an upper bound of every real entry. */
  private[graft] def manifestMayMatch(m: graft.format.ManifestRef): Boolean =
    m.specId.isEmpty || m.partitionValues.isEmpty || {
      m.partitionValues.forall { case (field, vals) =>
        vals.exists(v => evaluator.mayContain(pred,
          FileEntry("", Map(field -> v), 1L, 0L,
            table.metadata.currentSchemaId, Map.empty, m.specId.get)))
      }
    }

  /** Metadata-only planning: no data read (S1). */
  def planFiles(): Seq[FileEntry] = {
    explicitFiles.foreach(fs => return fs)
    if (!allowFullTableScan && Pred.isTrue(pred))
      throw new FullTableScanException(
        s"full table scan not allowed on ${table.location} (P10 guard)")
    val t0 = System.nanoTime()
    val chunks = table.snapshot(ref).map(_.manifests).getOrElse(Seq.empty)
    val read = chunks.filter(manifestMayMatch)
    val all = read.flatMap(table.readManifest)
    val matched = all.filter(f => evaluator.mayContain(pred, f))
    sizeLimitMiB.foreach { lim =>
      val mib = matched.map(_.sizeBytes).sum / (1024.0 * 1024.0)
      if (mib > lim)
        throw new ScanSizeLimitException(f"scan would read $mib%.1f MiB > limit $lim MiB (P11)")
    }
    graft.metrics.MetricCollectors.emitScan {
      // skipped-chunk file counts come from the chunk summary (entryCount)
      // without reading it; byte totals cover only the chunks actually read
      val total = chunks.map(_.entryCount).sum.toInt
      graft.metrics.ScanEvent(table.location, pred.toString,
        total, matched.size, total - matched.size,
        all.map(_.sizeBytes).sum, matched.map(_.sizeBytes).sum,
        matched.map(_.recordCount).sum, (System.nanoTime() - t0) / 1000000L)
    }
    matched
  }

  /** The planned files as a DataFrame over the `graft-lake` connector's
    * relation, pinned to this table's current metadata: a commit after
    * this call does not change what the DataFrame reads. Schema groups,
    * field-id evolution and `_file`/`_pos` are the connector's work; a
    * filter placed on the result prunes the pinned files from their
    * stats and skips parquet row groups. A non-trivial `pred` is also
    * applied as the row residual (round 21: the changes-mode merge diff
    * scans its candidate files with the source-key ranges as residual,
    * so row groups outside them are skipped). */
  def toDF(): DataFrame = {
    val df = LakeDsv2.frame(spark, LakeDsv2.relation(spark, table, ref,
      Some(Seq(planFiles() -> None)), withFileColumns))
    if (Pred.isTrue(pred)) df else df.filter(Pred.toColumn(pred))
  }
}

/** Field-id based projection from a written schema to the current one:
  * rename via id match, cast widened types, NULL-fill added columns —
  * recursing into structs and arrays-of-struct (S4;
  * reference sql/SchemaEvolution.java:328-457). The `graft-lake`
  * connector binds it to raw parquet reader output for every file
  * written under an older schema, so batch, SQL, DML and stream reads
  * all evolve through it. */
private[graft] object SchemaEvolve {

  def columns(written: StructType, cur: StructType): Seq[Column] = {
    val byId = written.fields.map(f => graft.format.FieldIds.of(f) -> f).toMap
    cur.fields.toSeq.map { nf =>
      val id = graft.format.FieldIds.of(nf)
      byId.get(id) match {
        case Some(of) => evolve(col(of.name), of.dataType, nf.dataType).as(nf.name)
        case None     => lit(null).cast(nf.dataType).as(nf.name)
      }
    }
  }

  private def evolve(c: Column, from: DataType, to: DataType): Column = (from, to) match {
    case (f, t) if f == t => c
    case (f: StructType, t: StructType) =>
      val byId = f.fields.map(x => graft.format.FieldIds.of(x) -> x).toMap
      val parts = t.fields.map { nf =>
        val id = graft.format.FieldIds.of(nf)
        byId.get(id) match {
          case Some(of) => evolve(c.getField(of.name), of.dataType, nf.dataType).as(nf.name)
          case None     => lit(null).cast(nf.dataType).as(nf.name)
        }
      }
      when(c.isNull, lit(null).cast(to)).otherwise(struct(parts.toSeq: _*))
    case (ArrayType(fe, _), ArrayType(te, n)) =>
      transform(c, x => evolve(x, fe, te)).cast(ArrayType(te, n))
    // field-id evolution inside map keys/values (reference
    // sql/SchemaEvolution.java:561-587 rewrites via map entries; here the
    // same rewrite is transform_keys/transform_values, which recurse into
    // struct-typed keys/values by id like every other nesting level)
    case (MapType(fk, fv, _), MapType(tk, tv, n)) =>
      val keyed = transform_keys(c, (k, _) => evolve(k, fk, tk))
      val valued = transform_values(keyed, (_, v) => evolve(v, fv, tv))
      valued.cast(MapType(tk, tv, n))
    case _ => c.cast(to)
  }
}
