package graft.commands

import graft.format._
import graft.scan._
import graft.streaming.LakeDsv2
import graft.write.LakeWriter
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Engine facade (SURVEY §2.8): session + catalog + the copy-on-write DML
  * command set D1–D4 (Insert/InsertOverwrite/Update/Delete). The SCD
  * merges (D5–D8) live in [[Merge]].
  *
  * The key performance behavior reproduced from the reference is
  * write-amplification control (SURVEY §4): UPDATE/DELETE first prune
  * candidate files by metadata, then probe which candidates actually
  * contain matching rows (distinct `_file`, a file-path-bounded collect),
  * and rewrite ONLY those files. Untouched files survive the commit.
  */
final class LakeEngine(
    val spark: SparkSession,
    val catalog: LakeCatalog,
    val allowFullTableScan: Boolean = true,
    val totalFileSizePerScanLimitInMiB: Option[Long] = None) {

  // NOTE: no session-conf mutation here — a read-only engine must not
  // clobber a user's own parquet settings. LakeWriter.ensureWriteConf
  // applies the micros timestamp requirement lazily on first WRITE, and
  // only when the conf differs (no repeated mutation on the hot path).

  def table(name: String): LakeTable = catalog.loadTable(name)

  def scan(table: LakeTable, filterSql: String = "true",
      ref: TableRef = TableRef.Head, withFileColumns: Boolean = false): TableScan = {
    val pred =
      if (filterSql.trim.equalsIgnoreCase("true")) AlwaysTrue
      else PredSql.compile(spark, filterSql, table.schema)
    new TableScan(spark, table, pred, ref, allowFullTableScan,
      totalFileSizePerScanLimitInMiB, withFileColumns)
  }

  def read(tableName: String, filterSql: String = "true", ref: TableRef = TableRef.Head): DataFrame =
    scan(table(tableName), filterSql, ref).toDF()

  // ------------------------------------------------------------- D1
  def insert(table: LakeTable, source: DataFrame,
      branch: Option[String] = None): CommitMetrics = {
    val files = LakeWriter.write(spark, table, source)
    table.appendFiles(files, branch)
  }

  // ------------------------------------------------------------- D2
  /** Strict overwrite: replaced files must FULLY match the filter (files
    * partially matching -> error), and the new data must match it too
    * (reference validateAddedFilesMatchOverwriteFilter,
    * writer/Transaction.java:237-298). */
  def insertOverwrite(table: LakeTable, source: DataFrame, filterSql: String): CommitMetrics = {
    val fromSnapshot = table.metadata.currentSnapshotId
    val pred = PredSql.compile(spark, filterSql, table.schema)
    val cond = expr(filterSql)
    require(!Pred.isTrue(pred) || allowFullTableScan, "full-table overwrite not allowed")
    if (!source.filter(!coalesce(cond, lit(false))).isEmpty)
      throw new ValidationException(s"source rows violate overwrite filter: $filterSql")
    val evalr = new StatsEvaluator(table.schema, table.metadata.specsById)
    val files = table.currentFiles()
    val full = files.filter(f => evalr.provablyAll(pred, f))
    val unproven = files.filterNot(f => evalr.provablyAll(pred, f))
      .filter(f => evalr.mayContain(pred, f))
    // metadata can't prove these either way -> one batched row probe
    val provenByRows: Seq[String] =
      if (unproven.isEmpty) Seq.empty
      else {
        val probe = new TableScan(spark, table, explicitFiles = Some(unproven), withFileColumns = true)
          .toDF().groupBy(col(LakeDsv2.FileCol).as("f"))
          .agg(
            sum(when(coalesce(cond, lit(false)), 1L).otherwise(0L)).as("inMatch"),
            sum(when(!coalesce(cond, lit(false)), 1L).otherwise(0L)).as("outMatch"))
          .collect()
        val partial = probe.filter(r => r.getLong(1) > 0 && r.getLong(2) > 0)
        if (partial.nonEmpty)
          throw new ValidationException(
            s"cannot overwrite: ${partial.length} file(s) only partially match $filterSql")
        probe.filter(r => r.getLong(1) > 0 && r.getLong(2) == 0).map(_.getString(0)).toSeq
      }
    val remove = full.map(_.path).toSet ++ provenByRows
    val newFiles = LakeWriter.write(spark, table, source)
    // D11: anchor the commit at the planning snapshot with the
    // overwrite filter as the conflict scope, so concurrent commits
    // touching OTHER partitions/filters sail past while a racing write
    // into this filter's rows surfaces as a conflict to retry from
    table.overwriteFiles(newFiles, remove, fromSnapshotId = fromSnapshot,
      conflictFilter = Some(pred),
      removeHints = files.filter(f => remove.contains(f.path)))
  }

  /** D2 variant: overwrite the partitions/values present in the source
    * (filter derived from distinct source values of `cols` — A5,
    * reference commands/WriteUtil.java:228-264). */
  def insertOverwriteByColumns(table: LakeTable, source: DataFrame, cols: Seq[String]): CommitMetrics = {
    val distinct = source.select(cols.map(col): _*).distinct().collect()
    require(distinct.nonEmpty, "source is empty; nothing to overwrite")
    require(distinct.length <= 10000, s"too many distinct overwrite keys: ${distinct.length}")
    val pred = distinct.map { r =>
      cols.zipWithIndex.map { case (c, i) =>
        val v = r.get(i)
        if (v == null) IsNull(c): Pred else Eq(c, v): Pred
      }.reduce[Pred](And.apply)
    }.reduce[Pred](Or.apply)
    val sql = distinct.map { r =>
      cols.zipWithIndex.map { case (c, i) =>
        val v = r.get(i)
        if (v == null) s"$c IS NULL" else s"$c = ${sqlLit(v)}"
      }.mkString("(", " AND ", ")")
    }.mkString(" OR ")
    insertOverwrite(table, source, sql)
  }

  private def sqlLit(v: Any): String = v match {
    case s: String => "'" + s.replace("'", "''") + "'"
    case t: java.time.LocalDateTime => s"TIMESTAMP_NTZ'$t'".replace("T", " ")
    case t: java.sql.Timestamp => s"TIMESTAMP'$t'"
    case d: java.time.LocalDate => s"DATE'$d'"
    case other => other.toString
  }

  // ------------------------------------------------------------- D3
  /** UPDATE t SET col = <sql expr> WHERE <condition>: rewrites only files
    * that actually contain matching rows (reference commands/Update.java:129-238). */
  def update(table: LakeTable, conditionSql: String, set: Map[String, String]): CommitMetrics = {
    val schema = table.schema
    set.keys.foreach(c => require(schema.fieldNames.contains(c), s"unknown column $c"))
    rewriteTouched(table, conditionSql, modifiedCols = set.keySet) { (rows, cond) =>
      rows.select(schema.fields.map { f =>
        set.get(f.name) match {
          case Some(e) => when(cond, expr(e).cast(f.dataType)).otherwise(col(f.name)).as(f.name)
          case None    => col(f.name)
        }
      }.toSeq: _*)
    }
  }

  // ------------------------------------------------------------- D4
  /** DELETE FROM t WHERE <condition> (reference commands/Delete.java:121-207).
    *
    * The rebuild filters with a redundant PUSHABLE prefilter
    * ([[graft.scan.Pred.notTrue]]) ahead of the exact 3VL keep filter:
    * `!coalesce(cond, false)` alone reaches parquet as no filter at
    * all, so every row group of a touched file is decoded — including
    * groups the DELETE empties entirely. With the prefilter pushed,
    * parquet's own row-group stats (and page indexes) skip
    * fully-deleted groups without decoding them; a range DELETE on a
    * sort-clustered table then decodes only the two BOUNDARY groups of
    * each touched file. Correctness is untouched: the prefilter is
    * implied by "cond is not true", and the exact filter still runs. */
  def delete(table: LakeTable, conditionSql: String): CommitMetrics = {
    val keepHint = Pred.toColumn(Pred.notTrue(PredSql.compile(spark, conditionSql, table.schema)))
    rewriteTouched(table, conditionSql) { (rows, cond) =>
      rows.filter(keepHint).filter(!coalesce(cond, lit(false)))
        .select(table.schema.fieldNames.map(col).toSeq: _*)
    }
  }

  /** Reference-parity query timeout (SwiftLakeEngine builder's
    * queryTimeoutInSeconds): run `body`'s Spark actions inside a job
    * group that a daemon timer cancels at the deadline. Cancellation
    * interrupts running tasks, so the caller sees a SparkException from
    * the cancelled job rather than a hung action. */
  def withQueryTimeout[T](timeoutMs: Long)(body: => T): T = {
    // job TAGS, not job groups: AQE submits stages from its own thread
    // pool and tags are the cancellation mechanism that survives that
    val tag = s"graft-timeout-${java.util.UUID.randomUUID().toString.take(8)}"
    val sc = spark.sparkContext
    sc.addJobTag(tag)
    sc.setInterruptOnCancel(true)
    val timer = new java.util.Timer("graft-query-timeout", true)
    // re-fire past the deadline: cancelJobsWithTag only reaches ACTIVE
    // jobs, and a query both launches jobs after planning delays and can
    // launch several jobs — every one past the deadline must die
    timer.scheduleAtFixedRate(new java.util.TimerTask {
      override def run(): Unit =
        sc.cancelJobsWithTag(tag, s"graft query timeout after ${timeoutMs}ms")
    }, timeoutMs, 500L)
    try body
    finally { timer.cancel(); sc.removeJobTag(tag) }
  }

  /** Incremental append read: rows committed after `fromSnapshotId`
    * (exclusive), up to `toSnapshotId` or the current head — the CDC-style
    * consumption surface for downstream pipelines. Errors if the range
    * crosses a non-append snapshot (see [[LakeTable.appendedFiles]]). */
  def readIncremental(table: LakeTable, fromSnapshotId: Option[Long],
      toSnapshotId: Option[Long] = None): DataFrame = {
    val to = toSnapshotId.orElse(table.metadata.currentSnapshotId)
      .getOrElse(throw new ValidationException("table has no snapshots"))
    val files = table.appendedFiles(fromSnapshotId, to)
    new TableScan(spark, table, explicitFiles = Some(files)).toDF()
  }

  /** File-level CDC between two snapshots, rows tagged `_change_type`
    * insert/delete and attributed by `_commit_snapshot_id`. Fast path:
    * one endpoint manifest net-diff (touches only the non-shared chunks
    * of the two snapshots); each file appears at most once, so set
    * reconciliation (apply deletes, then inserts) is order-free and
    * every row is attributed to the range end. When the commit chain
    * between the endpoints contains `replace` snapshots (compaction /
    * manifest rewrite — file churn with NO logical row change), the
    * endpoint diff would emit delete+insert pairs for every
    * compacted-but-untouched row; those ranges instead step per
    * snapshot and skip the replace commits, matching the streaming CDC
    * feed ([[graft.streaming.LakeStreamSource]]) exactly — and there
    * `_commit_snapshot_id` is the REAL commit, because a row can change
    * more than once in the range: reconciling consumers must apply
    * commits in ascending `_commit_snapshot_id` order (deletes before
    * inserts within each commit), exactly like the streaming feed.
    * Ranges whose endpoints are not ancestor-related (diverged
    * branches) keep the net-diff semantics. */
  def readChanges(table: LakeTable, fromSnapshotId: Option[Long],
      toSnapshotId: Option[Long] = None): DataFrame = {
    val m = table.metadata
    val toId = toSnapshotId.orElse(m.currentSnapshotId)
      .getOrElse(throw new ValidationException("table has no snapshots"))
    val to = m.snapshotById(toId).getOrElse(
      throw new ValidationException(s"no snapshot $toId"))
    val from = fromSnapshotId.map(id => m.snapshotById(id).getOrElse(
      throw new ValidationException(s"no snapshot $id")))
    val commits: Seq[(Long, Seq[FileEntry], Seq[FileEntry])] =
      from.map(f => m.snapshotsBetween(Some(f.id), to.id)) match {
        case Some(Right(chain)) if chain.exists(_.operation == "replace") =>
          LakeTable.changesBySnapshot(table, chain).map { case (s, add, rem) => (s.id, add, rem) }
        case _ =>
          val (add, rem) = LakeTable.changedFiles(table, from, to)
          Seq((to.id, add, rem))
      }
    // the connector's change-tagged partitions: the same reader the
    // streaming change feed uses
    LakeDsv2.frame(spark, LakeDsv2.relation(spark, table, sides = Some(commits.flatMap {
      case (sid, add, rem) => Seq(rem -> Some(("delete", sid)), add -> Some(("insert", sid)))
    }), changes = true))
  }

  // ------------------------------------------------------------- D5–D8
  // Reference-API-shaped merge entry points (SwiftLakeEngine's
  // applySnapshotAsSCD1 / applyChangesAsSCD1 / ...AsSCD2 builders —
  // SwiftLakeEngine.java), so reference users map 1:1.
  def applySnapshotAsSCD1(table: LakeTable, source: DataFrame,
      keyColumns: Seq[String], tableFilterSql: String = "true",
      valueSpecs: Map[String, Merge.ValueColumnSpec] = Map.empty): CommitMetrics =
    Merge.scd1(this, table, source, Merge.Scd1Options(
      keyCols = keyColumns, tableFilterSql = tableFilterSql, valueSpecs = valueSpecs))

  def applyChangesAsSCD1(table: LakeTable, source: DataFrame,
      keyColumns: Seq[String], operationTypeColumn: String,
      deleteOperationValue: String = "D", tableFilterSql: String = "true"): CommitMetrics =
    Merge.scd1(this, table, source, Merge.Scd1Options(
      keyCols = keyColumns, tableFilterSql = tableFilterSql,
      operationTypeColumn = Some(operationTypeColumn),
      deleteOperationValue = deleteOperationValue))

  def applySnapshotAsSCD2(table: LakeTable, source: DataFrame,
      keyColumns: Seq[String], effectiveTimestamp: java.time.LocalDateTime,
      currentFlagColumn: Option[String] = None,
      tableFilterSql: String = "true"): CommitMetrics =
    Merge.scd2(this, table, source, Merge.Scd2Options(
      keyCols = keyColumns, effectiveTimestamp = effectiveTimestamp,
      currentFlagCol = currentFlagColumn, tableFilterSql = tableFilterSql))

  def applyChangesAsSCD2(table: LakeTable, source: DataFrame,
      keyColumns: Seq[String], effectiveTimestamp: java.time.LocalDateTime,
      operationTypeColumn: String, deleteOperationValue: String = "D",
      currentFlagColumn: Option[String] = None,
      tableFilterSql: String = "true"): CommitMetrics =
    Merge.scd2(this, table, source, Merge.Scd2Options(
      keyCols = keyColumns, effectiveTimestamp = effectiveTimestamp,
      currentFlagCol = currentFlagColumn, tableFilterSql = tableFilterSql,
      operationTypeColumn = Some(operationTypeColumn),
      deleteOperationValue = deleteOperationValue))

  /** Shared copy-on-write rewrite: prune candidates by stats -> classify
    * by row-group footers -> row-probe the still-ambiguous files ->
    * rebuild only the touched files -> commit.
    *
    * @param modifiedCols columns the rebuild may change — when none of
    *   them is a sort column (DELETE changes none; most UPDATEs touch
    *   value columns only) and the table is unpartitioned, the rewrite
    *   takes the PASSTHROUGH path: scan the touched files in
    *   [[LakeEngine.perFileSplitBytes]] splits (no split mixes two files),
    *   rebuild, and write with the partitioning preserved — zero
    *   exchange, zero sort, each task rewriting a slice of one file
    *   whose rows are already in the file's own sort order. This is the
    *   reference's per-file COPY flow (commands/Update.java:129-238
    *   rewrites file-by-file) and the shape that scales: a CoW DELETE
    *   touching K files is K independent tasks on any cluster size.
    *   Sort-column-modifying UPDATEs fall back to the stats-guided
    *   cluster exchange. */
  private def rewriteTouched(table: LakeTable, conditionSql: String,
      modifiedCols: Set[String] = Set.empty)(
      rebuild: (DataFrame, Column) => DataFrame): CommitMetrics = {
    import LakeEngine.timed
    val fromSnapshot = table.metadata.currentSnapshotId
    val pred = PredSql.compile(spark, conditionSql, table.schema)
    val cond = expr(conditionSql)
    val candScan = new TableScan(spark, table, pred, TableRef.Head,
      allowFullTableScan, totalFileSizePerScanLimitInMiB, withFileColumns = true)
    val candidates = candScan.planFiles()
    if (candidates.isEmpty)
      return CommitMetrics(fromSnapshot.getOrElse(0L), 0, 0, 0, 0, 0)
    // Stats-decided probe split (round 14, after the Exp26 isolation
    // put >half the sf10 delete wall in this probe): a candidate whose
    // stats prove EVERY row matches (range fully covering the file's
    // min/max, no nulls — `provablyAll` is sound because the compiled
    // Pred is semantically the condition, with Opaque subtrees
    // hardening to false) is touched with ZERO data read; only the
    // boundary files whose stats are ambiguous pay the row probe. For
    // a range DML on a sort-clustered table that is 2 files however
    // many the range covers.
    val evaluator = new StatsEvaluator(table.schema, table.metadata.specsById)
    val (sureByFile, ambiguousByFile) =
      candidates.partition(f => evaluator.provablyAll(pred, f))
    // Row-group-granular probe (round 16, after Exp26-r15 put the row
    // probe at 0.52 s of the 0.96 s sf10 delete wall vs a 0.178 s bare
    // count): a file-level-ambiguous candidate is re-classified from its
    // FOOTER alone — file-level stats are the union of its groups, so a
    // range predicate that only PARTIALLY covers a file usually fully
    // covers its interior groups. Any group provably-all-matching
    // => the file surely contains matching rows (touched, zero data
    // read); no group may-matching => provably untouched; only files
    // whose matching region stays inside a single ambiguous group (a
    // point delete, a sub-group range) still pay the row probe. For the
    // canonical range-DML-on-sort-clustered-table shape the row probe
    // disappears: every boundary file has an interior provably-all
    // group. The classification is sound for exactly the reason the
    // file-level split is: the compiled Pred IS the condition
    // (Opaque subtrees harden to false in provablyAll / true in
    // mayContain), and group stats go through the same canonical codec
    // as the write-time harvest.
    val groupsByPath = timed("dml.rowGroupStats")(
      LakeWriter.rowGroupStats(spark, table, ambiguousByFile))
    val (sureByGroup, ambiguous) = ambiguousByFile.flatMap { f =>
      groupsByPath.get(f.path).flatten match {
        case None => Some((f, false)) // footer unreadable: row-probe
        case Some(groups) =>
          val may = groups.filter(g => evaluator.mayContain(pred, g))
          if (may.isEmpty) None // provably untouched: dropped
          else Some((f, may.exists(g => evaluator.provablyAll(pred, g))))
      }
    }.partition(_._2) match { case (sure, amb) => (sure.map(_._1), amb.map(_._1)) }
    val probed =
      if (ambiguous.isEmpty) Set.empty[String]
      else timed("dml.rowProbe")(rowProbe(table, ambiguous, pred, cond))
    // `_file` is the manifest path verbatim, so paths compare as strings
    val touched = (sureByFile ++ sureByGroup).map(_.path).toSet ++ probed
    if (touched.isEmpty)
      return CommitMetrics(fromSnapshot.getOrElse(0L), 0, 0, 0, 0, 0)
    val touchedEntries = candidates.filter(f => touched.contains(f.path))
    val passthrough = table.metadata.partitionSpec.isEmpty &&
      !table.metadata.sortOrder.exists(sf => modifiedCols.contains(sf.column)) &&
      touchedEntries.forall(_.sizeBytes > 0)
    val rebuilt = rebuild(LakeDsv2.frame(spark, LakeDsv2.relation(spark, table,
      sides = Some(Seq(touchedEntries -> None)),
      splitBytes = Some(LakeEngine.perFileSplitBytes(spark, touchedEntries)).filter(_ => passthrough))), cond)
    val newFiles = timed("dml.rewrite") {
      if (passthrough) LakeWriter.write(spark, table, rebuilt, preserveDistribution = true)
      else LakeWriter.write(spark, table, rebuilt,
        clusterBounds = LakeWriter.clusterBoundsOf(table, touchedEntries))
    }
    timed("dml.commit")(table.commit(CommitOp.Overwrite(newFiles,
      touchedEntries.map(_.path).toSet, fromSnapshotId = fromSnapshot,
      conflictFilter = Some(pred), removeHints = touchedEntries)))
  }

  /** Manifest paths of the `files` holding at least one row matching
    * `cond`. A redundant pushable prefilter ([[graft.scan.Pred.mayTrue]],
    * implied by the exact condition) runs ahead of the exact 3VL match:
    * the coalesce wrapper alone reaches parquet as NO filter, so without
    * it the probe decodes every row of every file; with it, parquet's
    * row-group stats and page indexes skip the non-matching ranges. The
    * probe needs FILE identity only: it selects `_file` without `_pos`,
    * so no row index is generated. */
  private def rowProbe(table: LakeTable, files: Seq[FileEntry], pred: Pred,
      cond: Column): Set[String] = {
    val probeDf = new TableScan(spark, table, explicitFiles = Some(files), withFileColumns = true)
      .toDF().filter(Pred.toColumn(Pred.mayTrue(pred)))
      .filter(coalesce(cond, lit(false)))
      .select(col(LakeDsv2.FileCol))
    // single-stage distinct: a `.distinct()` would add an exchange +
    // final-agg stage just to dedupe <= #files strings — instead each
    // task dedupes its own run (`_file` is constant per file chunk, so
    // a last-seen check does almost all the work) and the driver unions
    // the <= #files results. One stage, no shuffle.
    probeDf.queryExecution.toRdd.mapPartitions { it =>
      val seen = scala.collection.mutable.LinkedHashSet.empty[String]
      var last: String = null
      while (it.hasNext) {
        val f = it.next().getUTF8String(0).toString
        if (f != last) { seen += f; last = f }
      }
      seen.iterator
    }.collect().toSet
  }
}

object LakeEngine {
  /** Split size for a copy-on-write rewrite that keeps each input
    * file's rows together: tasks must never MIX files (each output file
    * inherits one input's sort run), so every split of such a scan holds
    * a slice of one file. One task per FILE starves the cluster when a
    * rewrite touches fewer files than there are cores (round 13: a sf10
    * delete ran 3 tasks on 32 threads), so a touched file splits at
    * row-group boundaries — each slice is a consecutive, sorted,
    * stats-tight run of one file. The size targets cores/files splits
    * per file, with an 8 MB slice floor so small files keep single-task
    * rewrites; a rewrite touching >= cores files gets one task per file. */
  private[commands] def perFileSplitBytes(spark: SparkSession, entries: Seq[FileEntry]): Long = {
    val splitsPerFile = math.max(1L, spark.sparkContext.defaultParallelism.toLong / entries.size)
    math.max(entries.map(_.sizeBytes).max / splitsPerFile + 1L, 8L << 20)
  }

  /** Phase timer for the copy-on-write commands: with GRAFT_MERGE_TIMING
    * set, prints each phase's elapsed seconds to stderr. Zero-cost when
    * unset. */
  private[commands] def timed[A](phase: String)(body: => A): A =
    if (!sys.env.contains("GRAFT_MERGE_TIMING")) body
    else {
      val t0 = System.nanoTime()
      try body
      finally System.err.println(f"[timing] $phase ${(System.nanoTime() - t0) / 1e9}%.3fs")
    }
}
