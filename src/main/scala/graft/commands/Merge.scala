package graft.commands

import graft.format._
import graft.scan._
import graft.streaming.LakeDsv2
import graft.write.LakeWriter
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

class MergeCardinalityException(msg: String) extends RuntimeException(msg)
class OutOfOrderMergeException(msg: String) extends RuntimeException(msg)

/** SCD1 / SCD2 merges, snapshot & changes modes (reference D5–D8:
  * commands/SCD1Merge.java, commands/SCD2Merge.java and the generated SQL
  * in dao/scd1_merge.xml, dao/scd2_merge.xml) re-expressed as DataFrame
  * pipelines:
  *
  *  - null-safe key join (`<=>`) target vs source (J3)
  *  - op classification I/U/D/N with per-column maxDelta /
  *    nullReplacement change tracking (ValueColumnMetadata)
  *  - merge-cardinality guard: a target row matched by >1 source rows
  *    aborts (J4)
  *  - write-amplification control: only files containing U/D rows are
  *    rebuilt; rebuild preserves untouched rows (history rows and rows
  *    outside the boundary filter) via an anti-join on (_file, _pos)
  *
  * All joins shuffle on the merge keys. The driver collects only bounded
  * results: the source-key prune summary (per-partition range summaries
  * merged to at most [[MaxPruneRanges]] ranges, or a capped key list) and
  * the probe's one row per candidate file (metadata-bounded).
  */
object Merge {

  final case class ValueColumnSpec(
      maxDelta: Option[Double] = None,
      nullReplacement: Option[Any] = None)

  /** Options both SCD merges share. */
  sealed trait ScdOptions {
    def keyCols: Seq[String]
    def tableFilterSql: String
    def valueSpecs: Map[String, ValueColumnSpec]
    def operationTypeColumn: Option[String] // changes mode marker column
    def deleteOperationValue: String
  }

  final case class Scd1Options(
      keyCols: Seq[String],
      valueCols: Option[Seq[String]] = None, // default: all non-key columns
      tableFilterSql: String = "true",
      valueSpecs: Map[String, ValueColumnSpec] = Map.empty,
      operationTypeColumn: Option[String] = None,
      deleteOperationValue: String = "D") extends ScdOptions

  final case class Scd2Options(
      keyCols: Seq[String],
      changeCols: Option[Seq[String]] = None, // change-tracking columns
      effectiveTimestamp: java.time.LocalDateTime,
      effectiveStartCol: String = "effective_start",
      effectiveEndCol: String = "effective_end",
      currentFlagCol: Option[String] = None,
      tableFilterSql: String = "true",
      valueSpecs: Map[String, ValueColumnSpec] = Map.empty,
      operationTypeColumn: Option[String] = None,
      deleteOperationValue: String = "D") extends ScdOptions

  private val OpCol = "__op"
  private val SrcOpCol = "__src_op"
  private val SPresent = "__s_present"
  private val CloseCol = "__close"

  /** Join strategies (the Exp18 and Exp32 decisions).
    *
    * The CHANGES-mode diff join and the general MERGE join build their
    * hash table from the batch-proportional source side
    * (`shuffle_hash`) instead of sort-merging — under SMJ both diff
    * sides sort, and the touched-file side is table-scale. Snapshot
    * mode leaves the join unhinted: there the source is table-scale
    * too, and Spark's shuffled-hash build does NOT spill (a too-big
    * build side fails with "can't acquire N bytes to build hash
    * relation" rather than degrading), so hashing is only safe from
    * the side that is batch-proportional by construction. Exp18 (sf1,
    * arms interleaved, n=9/arm) measured scd1 min 2.30→2.05 s and scd2
    * 2.57→2.16 s, at the local-mode noise floor; the choice rests on
    * the structural ground that never sorting the table-scale side is
    * what survives a 100× scale-up.
    *
    * The rewrite's (_file,_pos) actioned-key list BROADCASTS when the
    * probe's byte estimate fits [[RewriteBroadcastMax]]: the full-width
    * rebuilt-file rows then stream scan->join->write with no exchange
    * (Exp32, sf10: scd1 9.04→8.51 s). Past the budget the keys hash
    * (`shuffle_hash`, 16 B/row build side) against the streamed files. */
  private val RewriteBroadcastMax = 64L << 20

  private def tp(c: String) = s"t_$c"
  private def sp(c: String) = s"s_$c"

  /** Change detector for one value column (reference dao/scd1_merge.xml:73-103
    * + ValueColumnMetadata: maxDelta / nullReplacement semantics). */
  private def differsExpr(c: String, spec: Option[ValueColumnSpec]): Column =
    spec match {
      case Some(ValueColumnSpec(Some(delta), _)) =>
        abs(coalesce(col(tp(c)), lit(0)) - coalesce(col(sp(c)), lit(0))) > delta
      case Some(ValueColumnSpec(_, Some(repl))) =>
        !(coalesce(col(tp(c)), lit(repl)) <=> coalesce(col(sp(c)), lit(repl)))
      case _ => !(col(tp(c)) <=> col(sp(c)))
    }

  // ===================================================================
  // SCD1 (D5 snapshot / D6 changes)
  // ===================================================================
  def scd1(engine: LakeEngine, table: LakeTable, source: DataFrame,
      opts: Scd1Options): CommitMetrics = {
    val schema = table.schema
    val fromSnapshot = table.metadata.currentSnapshotId
    opts.keyCols.foreach(k => require(schema.fieldNames.contains(k), s"unknown key column $k"))
    val valueCols = opts.valueCols.getOrElse(schema.fieldNames.toSeq.filterNot(opts.keyCols.contains))
    val d = scdDiff(engine.spark, table, source, opts, valueCols, "scd1", lit(true))
    scdRewrite(engine.spark, table, fromSnapshot, d, "scd1", Set.empty, d.boundaryPred)(
      newRows = _.select(schema.fieldNames.map(c => col(sp(c)).as(c)).toSeq: _*),
      // every original row except replaced/deleted ones
      rebuild = (full, keys) => full.join(keys, Seq("_file", "_pos"), "left_anti")
        .select(schema.fieldNames.map(col).toSeq: _*))
  }

  // ===================================================================
  // SCD2 (D7 snapshot / D8 changes)
  // ===================================================================
  def scd2(engine: LakeEngine, table: LakeTable, source: DataFrame,
      opts: Scd2Options): CommitMetrics = {
    val spark = engine.spark
    val schema = table.schema
    val fromSnapshot = table.metadata.currentSnapshotId
    val effTs = opts.effectiveTimestamp
    val startC = opts.effectiveStartCol
    val endC = opts.effectiveEndCol
    Seq(startC, endC).foreach(c =>
      require(schema.fieldNames.contains(c), s"missing SCD2 column $c"))
    opts.currentFlagCol.foreach(c =>
      require(schema.fieldNames.contains(c), s"missing current-flag column $c"))
    val scdCols = Set(startC, endC) ++ opts.currentFlagCol
    val changeCols = opts.changeCols.getOrElse(
      schema.fieldNames.toSeq.filterNot(c => opts.keyCols.contains(c) || scdCols.contains(c)))
    val boundaryPred = boundaryPredOf(spark, opts.tableFilterSql, schema)
    val effLit = lit(effTs).cast(schema(startC).dataType)

    // out-of-order guard (reference dao/scd2_merge.xml:4-11), never
    // key-pruned: the chronology check must see every boundary row's
    // interval, not just the rows this batch touches. Stats-first
    // (round 14): a violating row needs startC >= eff or a non-null
    // endC >= eff, and both columns carry footer min/max — so files
    // whose recorded maxima sit below the effective timestamp are
    // pruned METADATA-ONLY, which in the chronological steady state
    // (every stored interval predates each new batch) is ALL of them:
    // the guard costs zero data read instead of a full column-pruned
    // boundary scan per merge. Survivors get the same predicate as a
    // pushable row-group prefilter ahead of the exact 3VL check.
    val violationPred = Or(Ge(startC, effTs), Ge(endC, effTs))
    // With every file pruned the guard starts no Spark job at all.
    LakeEngine.timed("scd2.orderGuard") {
      val guardFiles = new TableScan(spark, table,
        And(boundaryPred, violationPred), withFileColumns = true).planFiles()
      def outOfOrder = new TableScan(spark, table,
        explicitFiles = Some(guardFiles), withFileColumns = true).toDF()
        .filter(col(startC) >= effLit ||
          (col(endC).isNotNull && col(endC) >= effLit)) // pushable: skips clean groups
        .filter(coalesce(expr(opts.tableFilterSql), lit(false)))
      if (guardFiles.nonEmpty && !outOfOrder.isEmpty)
        throw new OutOfOrderMergeException(
          s"target has rows with $startC/$endC >= effective timestamp $effTs; " +
            "apply changes in chronological order")
    }

    // the diff compares against the CURRENT (open) version of each key
    val d = scdDiff(spark, table, source, opts, changeCols, "scd2", col(endC).isNull)
    // conflict filter mirrors the reference scan filter: boundary OR still-open rows
    val conflict = Or(boundaryPred, Or(IsNull(endC), Ge(endC, effTs)))
    scdRewrite(spark, table, fromSnapshot, d, "scd2", Set(endC) ++ opts.currentFlagCol, conflict)(
      // new versions for I/U rows: start = effTs, end = NULL, flag = true
      newRows = _.select(schema.fieldNames.map {
        case `startC` => effLit.as(startC)
        case `endC`   => lit(null).cast(schema(endC).dataType).as(endC)
        case c if opts.currentFlagCol.contains(c) => lit(true).cast(schema(c).dataType).as(c)
        case c        => col(sp(c)).as(c)
      }.toSeq: _*),
      // close U/D current rows, keep everything else (history rows and
      // out-of-boundary rows included, via the (_file,_pos) match)
      rebuild = (full, keys) => full.join(keys, Seq("_file", "_pos"), "left_outer")
        .select(schema.fieldNames.map {
          case `endC` => when(col(CloseCol), effLit).otherwise(col(endC)).as(endC)
          case c if opts.currentFlagCol.contains(c) =>
            when(col(CloseCol), lit(false).cast(schema(c).dataType))
              .otherwise(col(c)).as(c)
          case c => col(c)
        }.toSeq: _*))
  }

  private def boundaryPredOf(spark: SparkSession, filterSql: String,
      schema: org.apache.spark.sql.types.StructType): Pred =
    if (filterSql.trim.equalsIgnoreCase("true")) AlwaysTrue
    else PredSql.compile(spark, filterSql, schema)

  /** A persisted SCD diff: one row per target/source key pairing, the op
    * in [[OpCol]], the target's row identity and the source's columns. */
  private final case class ScdDiff(boundaryPred: Pred, candidates: Seq[FileEntry],
      diff: DataFrame)

  /** The diff both SCD merges run on: the source projected to the table
    * schema and bounded by the table filter, null-safe key joined (J3) to
    * the boundary's target rows that pass `targetFilter`, and each pair
    * classified:
    *
    *  - snapshot mode: I (new key), D (key absent from the source),
    *    U (a `compareCols` value differs), N (unchanged)
    *  - changes mode: I, X (delete of a missing key: no-op), D, U,
    *    NS (matched, no change: target row untouched), N (no source row)
    *
    * After classification the target's value columns are dead — only its
    * row identity (_file,_pos) plus the source side feed the probe, the
    * rewrite keys and the new rows — so they are projected away before
    * the diff is persisted (halves the cached width). */
  private def scdDiff(spark: SparkSession, table: LakeTable, source: DataFrame,
      opts: ScdOptions, compareCols: Seq[String], label: String,
      targetFilter: Column): ScdDiff = {
    val schema = table.schema
    val changesMode = opts.operationTypeColumn.isDefined
    val boundaryPred = boundaryPredOf(spark, opts.tableFilterSql, schema)
    val boundaryCol = expr(opts.tableFilterSql)

    // In changes mode the source is PINNED (lazy local checkpoint) so the
    // key-prune collect below and the diff join see the same rows — the
    // same soundness device the general MERGE uses (see [[merge]]).
    val source0 = if (changesMode) source.localCheckpoint(eager = false) else source
    val sWithOp = opts.operationTypeColumn match {
      case Some(oc) =>
        val in = source0.columns.toSet
        source0.select(schema.fields.map { f =>
          (if (in.contains(f.name)) col(f.name) else lit(null)).cast(f.dataType).as(f.name)
        }.toSeq :+ col(oc).cast("string").as(SrcOpCol): _*)
      case None => LakeWriter.castProjection(source0, schema)
        .withColumn(SrcOpCol, lit(null).cast("string"))
    }
    val sBounded =
      if (Pred.isTrue(boundaryPred)) sWithOp
      else sWithOp.filter(coalesce(boundaryCol, lit(false)))
    val s = sBounded.toDF(sBounded.columns.map(sp).toSeq: _*)
      .withColumn(SPresent, lit(true))

    // changes mode additionally skips files that provably contain no
    // source key; snapshot mode scans the whole boundary (absent keys
    // become deletes)
    val prunePred = LakeEngine.timed(s"$label.keyPrune") {
      if (changesMode) scdKeyPrunePred(sBounded, opts.keyCols, schema)
      else AlwaysTrue
    }
    val scanPred = if (Pred.isTrue(prunePred)) boundaryPred else And(boundaryPred, prunePred)
    val candidates = LakeEngine.timed(s"$label.planFiles")(
      new TableScan(spark, table, scanPred, withFileColumns = true).planFiles())
    // round 21 (diffProbe attack): in changes mode the key-prune ranges
    // ride the DIFF scan as its residual predicate — they reach the
    // parquet reader as PushedFilters, so row groups of candidate files
    // that provably hold no source key are skipped before the join. Rows
    // outside the ranges can't match any source key (the ranges are a
    // superset of the source keys) and would be op N, which the
    // changes-mode diff drops anyway.
    val target = new TableScan(spark, table, pred = residualOf(prunePred),
      explicitFiles = Some(candidates), withFileColumns = true).toDF()
      .filter(coalesce(boundaryCol, lit(false)))
      .filter(targetFilter)
    val t = target.toDF(target.columns.map(tp).toSeq: _*)

    val joinCond = opts.keyCols.map(k => col(tp(k)) <=> col(sp(k))).reduce(_ && _)
    val tPresent = col(tp("_file")).isNotNull
    val sPresent = coalesce(col(SPresent), lit(false))
    val isDelete = col(sp(SrcOpCol)) === lit(opts.deleteOperationValue)
    val differs = compareCols.map(c => differsExpr(c, opts.valueSpecs.get(c)))
      .foldLeft(lit(false))(_ || _)
    val op =
      if (!changesMode)
        when(!tPresent, "I").when(!sPresent, "D").when(differs, "U").otherwise("N")
      else
        when(!tPresent && !isDelete, "I")
          .when(!tPresent && isDelete, "X")
          .when(sPresent && isDelete, "D")
          .when(sPresent && differs, "U")
          .when(sPresent, "NS")
          .otherwise("N")

    // In CHANGES mode a target row with no source match is op N —
    // untouched by every downstream consumer (the probe counts matches
    // among source-present rows only, new rows are I/U, rewritten keys
    // are U/D), so drop it AT THE JOIN: the source-present filter lets
    // Catalyst eliminate the dead outer side (full_outer -> right_outer,
    // the unmatched-target rows are never even emitted) and the persisted
    // diff shrinks from O(candidate-file rows) to O(source). Snapshot
    // mode keeps every target row — absent keys become deletes there.
    val joined =
      if (changesMode) t.join(s.hint("shuffle_hash"), joinCond, "full_outer").filter(sPresent)
      else t.join(s, joinCond, "full_outer")
    val diff = joined
      .withColumn(OpCol, op)
      .select(col(OpCol) +: col(tp("_file")) +: col(tp("_pos")) +:
        (schema.fieldNames.map(c => col(sp(c))).toSeq :+ col(SPresent)): _*)
      .persist(StorageLevel.MEMORY_AND_DISK)
    ScdDiff(boundaryPred, candidates, diff)
  }

  /** Applies a persisted SCD diff: probe cardinality and the files
    * holding U/D rows, rewrite those files through `rebuild` (given
    * their full scan and the (_file,_pos,[[CloseCol]]) keys of the U/D
    * rows), append `newRows` of the I/U rows, commit under `conflict`.
    * Only files containing U/D rows are rebuilt (write-amplification
    * control); the diff is unpersisted on every exit. */
  private def scdRewrite(spark: SparkSession, table: LakeTable,
      fromSnapshot: Option[Long], d: ScdDiff, label: String,
      modifiedCols: Set[String], conflict: Pred)(
      newRows: DataFrame => DataFrame,
      rebuild: (DataFrame, DataFrame) => DataFrame): CommitMetrics =
    try {
      val diff = d.diff
      val probe = LakeEngine.timed(s"$label.diffProbe")(probeCardinalityAndModified(
        diff, col(tp("_file")).isNotNull, coalesce(col(SPresent), lit(false)),
        tp("_file"), tp("_pos"), col(OpCol).isin("U", "D")))
      val modified = probe.modified
      val added = newRows(diff.filter(col(OpCol).isin("I", "U")))
      if (modified.isEmpty && added.isEmpty)
        return CommitMetrics(fromSnapshot.getOrElse(0L), 0, 0, 0, 0, 0)
      val entries = d.candidates.filter(f => modified.contains(f.path))
      val keys = diff.filter(col(OpCol).isin("U", "D"))
        .select(col(tp("_file")).as("_file"), col(tp("_pos")).as("_pos"), lit(true).as(CloseCol))
      val (keysSide, keysBroadcast) = rewriteSide(keys, probe)
      val newFiles = LakeEngine.timed(s"$label.rewrite")(rewriteFiles(spark, table,
        entries, keysBroadcast, modifiedCols, rebuild(_, keysSide), Some(added), label))
      LakeEngine.timed(s"$label.commit")(table.commit(CommitOp.Overwrite(newFiles, modified,
        fromSnapshotId = fromSnapshot, conflictFilter = Some(conflict),
        removeHints = entries)))
    } finally d.diff.unpersist()

  // ===================================================================
  // General MERGE (ANSI MERGE INTO shape — beyond the reference's SCD
  // builders; the SQL facade routes MERGE INTO lake.<t> here)
  // ===================================================================

  /** One WHEN MATCHED clause: `set` = None means DELETE, Some(map) is
    * UPDATE SET (target column -> SQL expression over both aliases). */
  final case class WhenMatched(conditionSql: Option[String],
      set: Option[Map[String, String]])
  /** One WHEN NOT MATCHED clause: INSERT values (target column -> SQL
    * expression over the source alias; unlisted columns become NULL). */
  final case class WhenNotMatched(conditionSql: Option[String],
      values: Map[String, String])

  /** ANSI MERGE: arbitrary ON condition, ordered first-match-wins WHEN
    * clauses. Same write-amplification control as the SCD merges: only
    * files containing actioned rows are rebuilt, untouched rows survive
    * via a (_file,_pos) anti-join, inserts append. The source side is
    * joined once (full_outer) and the equi-part of the ON condition
    * drives the shuffle keys (Catalyst extracts them), so the plan
    * scales like any key-partitioned join.
    *
    * Expressions in conditions/SET/VALUES reference the target and
    * source through `targetAlias` / `sourceAlias` (or unambiguous bare
    * names). A target row matched by more than one source row aborts
    * (J4, ANSI cardinality rule). */
  def merge(engine: LakeEngine, table: LakeTable, source: DataFrame,
      targetAlias: String, sourceAlias: Option[String], onSql: String,
      matched: Seq[WhenMatched], notMatched: Seq[WhenNotMatched],
      notMatchedBySource: Seq[WhenMatched] = Seq.empty): CommitMetrics = {
    val spark = engine.spark
    val schema = table.schema
    val fromSnapshot = table.metadata.currentSnapshotId
    require(matched.nonEmpty || notMatched.nonEmpty || notMatchedBySource.nonEmpty,
      "MERGE needs at least one WHEN clause")
    (matched ++ notMatchedBySource).flatMap(_.set).flatMap(_.keys).foreach(c =>
      require(schema.fieldNames.contains(c), s"unknown target column in UPDATE SET: $c"))
    notMatched.flatMap(_.values.keys).foreach(c =>
      require(schema.fieldNames.contains(c), s"unknown target column in INSERT: $c"))

    val FileC = "_file"
    val PosC = "_pos"
    // J2 for the general merge (reference sql/SqlQueryProcessor.java:296-327):
    // a selective MERGE must not read the whole table. Files provably
    // containing no source key can hold no matched row, so joining only
    // the may-match files yields identical matched / not-matched
    // classification; sound ONLY while no WHEN NOT MATCHED BY SOURCE
    // clause exists (those act on target rows the source does NOT hit).
    // When pruning can engage, pin the source behind a lazy local
    // checkpoint FIRST: the boundary-key collect in [[mergePrunePred]]
    // materializes it once and the merge join below reuses the same
    // blocks — the source plan (possibly an expensive join pipeline)
    // never evaluates twice, and a non-deterministic source yields the
    // SAME rows to key collection and to the join, so pruning stays
    // sound without a determinism guard. Tradeoff, accepted: local
    // checkpoint blocks pin to executors, so losing one mid-merge fails
    // the MERGE instead of recomputing — acceptable because a merge is
    // a retryable command (re-running replans from the same snapshot),
    // unlike the long iterative chains for which connectedComponents
    // deliberately uses reliable checkpoints.
    val (src, prunePred: Pred) =
      if (notMatchedBySource.nonEmpty) (source, AlwaysTrue)
      else {
        val pinned = source.localCheckpoint(eager = false)
        (pinned, mergePrunePred(spark, schema, pinned, targetAlias, sourceAlias, onSql))
      }
    val scan0 = new TableScan(spark, table, prunePred, withFileColumns = true)
    val candidates = scan0.planFiles()
    val target = new TableScan(spark, table, explicitFiles = Some(candidates),
      withFileColumns = true).toDF().alias(targetAlias)
    val sMarked = src.withColumn(SPresent, lit(true))
    val s = sourceAlias.map(sMarked.alias).getOrElse(sMarked)

    val tP = col(s"$targetAlias.$PosC").isNotNull
    val sP = coalesce(col(SPresent), lit(false))
    def condOf(c: Option[String]): Column =
      c.map(x => coalesce(expr(x), lit(false))).getOrElse(lit(true))
    // first-match-wins across the ordered WHEN chains (ANSI semantics);
    // op bases: 0 matched, 100 not-matched inserts, 200 not-matched-by-source
    val matchedOp = matched.zipWithIndex.foldRight(lit(-1): Column) {
      case ((a, i), els) => when(condOf(a.conditionSql), lit(i)).otherwise(els) }
    val insertOp = notMatched.zipWithIndex.foldRight(lit(-1): Column) {
      case ((a, i), els) => when(condOf(a.conditionSql), lit(100 + i)).otherwise(els) }
    val bySourceOp = notMatchedBySource.zipWithIndex.foldRight(lit(-1): Column) {
      case ((a, i), els) => when(condOf(a.conditionSql), lit(200 + i)).otherwise(els) }
    val op = when(tP && sP, matchedOp).when(!tP && sP, insertOp)
      .when(tP && !sP, bySourceOp).otherwise(lit(-1))

    // general MERGE sources are batch-proportional by construction
    // (no snapshot mode), so the same build-from-source choice applies;
    // and without a BY SOURCE clause an unmatched target row can take no
    // action (op -1) — drop it at the join like the changes-mode SCDs
    val joined = target.join(s.hint("shuffle_hash"), expr(onSql), "full_outer")
    val joinedKept = if (notMatchedBySource.isEmpty) joined.filter(sP) else joined
    val diff = joinedKept
      .withColumn(OpCol, op)
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val actioned = col(OpCol).between(0, 99) || col(OpCol).between(200, 299)
      val probe = probeCardinalityAndModified(diff, tP, sP,
        s"$targetAlias.$FileC", s"$targetAlias.$PosC", actioned)
      val modified = probe.modified
      // every target-row action (matched or by-source), tagged by op value
      val targetActions = matched.zipWithIndex.map { case (a, i) => (i, a) } ++
        notMatchedBySource.zipWithIndex.map { case (a, i) => (200 + i, a) }
      val updateIdx = targetActions.collect { case (i, a) if a.set.isDefined => i }

      val updated =
        if (updateIdx.isEmpty) None
        else Some(diff.filter(col(OpCol).isin(updateIdx: _*))
          .select(schema.fields.toSeq.map { f =>
            targetActions.foldRight(col(s"$targetAlias.${f.name}"): Column) {
              case ((i, a), els) => a.set match {
                case Some(m) => when(col(OpCol) === i,
                    m.get(f.name).map(expr).getOrElse(col(s"$targetAlias.${f.name}")))
                  .otherwise(els)
                case None => els
              }
            }.cast(f.dataType).as(f.name)
          }: _*))

      val inserted =
        if (notMatched.isEmpty) None
        else Some(diff.filter(col(OpCol).between(100, 199))
          .select(schema.fields.toSeq.map { f =>
            notMatched.zipWithIndex.foldRight(lit(null).cast(f.dataType): Column) {
              case ((a, i), els) => when(col(OpCol) === lit(100 + i),
                  a.values.get(f.name).map(expr).getOrElse(lit(null)))
                .otherwise(els)
            }.cast(f.dataType).as(f.name)
          }: _*))

      val entries = candidates.filter(f => modified.contains(f.path))
      val actionedKeys = diff.filter(actioned)
        .select(col(s"$targetAlias.$FileC").as(FileC), col(s"$targetAlias.$PosC").as(PosC))
      val (keysSide, keysBroadcast) = rewriteSide(actionedKeys, probe)
      val changed = (updated.toSeq ++ inserted.toSeq).reduceOption(_.unionByName(_))
      val newFiles = rewriteFiles(spark, table, entries, keysBroadcast, Set.empty,
        _.join(keysSide, Seq(FileC, PosC), "left_anti").select(schema.fieldNames.toSeq.map(col): _*),
        changed, "merge")
      if (newFiles.isEmpty && modified.isEmpty)
        return CommitMetrics(fromSnapshot.getOrElse(0L), 0, 0, 0, 0, 0)
      // the key-bound predicate is also the conflict scope: a concurrent
      // commit touching only keys outside the source set cannot change
      // this merge's matched/not-matched classification
      table.commit(CommitOp.Overwrite(newFiles, modified,
        fromSnapshotId = fromSnapshot,
        conflictFilter = if (Pred.isTrue(prunePred)) None else Some(prunePred),
        removeHints = entries))
    } finally diff.unpersist()
  }

  /** Boundary predicate for the general merge, derived from the ON
    * clause's top-level equi-conjuncts (`t.col = s.col`, `<=>` too) by
    * bounded source-key collection — the A5 distinct-values machinery
    * ([[LakeEngine.insertOverwriteByColumns]]; reference
    * commands/WriteUtil.java:228-264) applied to merge pruning. One
    * distributed distinct + a ≤`maxKeys`-row collect per merge; each
    * extracted pair becomes `In(targetCol, sourceValues)` (plus IsNull
    * for `<=>` with null keys), conjoined. Anything unextractable —
    * non-equi ON, expressions on the target side, over-cap key counts —
    * degrades to AlwaysTrue (full scan), never to a wrong plan. */
  private def mergePrunePred(spark: SparkSession, schema: org.apache.spark.sql.types.StructType,
      source: DataFrame, targetAlias: String, sourceAlias: Option[String],
      onSql: String, maxKeys: Int = 10000): Pred = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    import org.apache.spark.sql.catalyst.expressions.{EqualNullSafe, EqualTo, Expression}
    // `source` is locally checkpointed by the caller: key collection here
    // materializes it once, and the merge join reuses the same blocks —
    // so even a non-deterministic source yields one consistent row set
    // and pruning from its keys is sound.
    val parsed =
      try spark.sessionState.sqlParser.parseExpression(onSql)
      catch { case scala.util.control.NonFatal(_) => return AlwaysTrue }
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case org.apache.spark.sql.catalyst.expressions.And(l, r) => conjuncts(l) ++ conjuncts(r)
      case other => Seq(other)
    }
    val targetByLc = schema.fieldNames.map(f => f.toLowerCase -> f).toMap
    val sourceLc = source.columns.map(_.toLowerCase).toSet
    // classify a bare/qualified attribute as a target column or a source
    // column; ambiguous bare names (present on both sides) extract nothing
    def asTarget(a: UnresolvedAttribute): Option[String] =
      a.nameParts.map(_.toLowerCase) match {
        case scala.collection.Seq(q, c) if q == targetAlias.toLowerCase => targetByLc.get(c)
        case scala.collection.Seq(c) if !sourceLc.contains(c) => targetByLc.get(c)
        case _ => None
      }
    def asSource(a: UnresolvedAttribute): Option[String] =
      a.nameParts.map(_.toLowerCase) match {
        case scala.collection.Seq(q, c) if sourceAlias.exists(_.equalsIgnoreCase(q)) && sourceLc.contains(c) => Some(c)
        case scala.collection.Seq(c) if sourceLc.contains(c) && !targetByLc.contains(c) => Some(c)
        case _ => None
      }
    final case class Pair(targetCol: String, sourceCol: String, nullSafe: Boolean)
    def pairOf(x: Expression, y: Expression, nullSafe: Boolean): Option[Pair] = (x, y) match {
      case (a: UnresolvedAttribute, b: UnresolvedAttribute) =>
        asTarget(a).zip(asSource(b)).map { case (t, s) => Pair(t, s, nullSafe) }
          .orElse(asTarget(b).zip(asSource(a)).map { case (t, s) => Pair(t, s, nullSafe) })
      case _ => None
    }
    import org.apache.spark.sql.types.{ByteType, DataType, IntegerType, LongType, ShortType}
    // only same-type or integral-promotable key pairs: the collected
    // values must compare under the evaluator exactly as the join's
    // implicit coercion would, so anything murkier (string=int, ...)
    // conservatively keeps the full scan
    val integral: Set[DataType] = Set(ByteType, ShortType, IntegerType, LongType)
    def comparable(src: DataType, tgt: DataType): Boolean =
      src == tgt || (integral(src) && integral(tgt))
    val srcTypeByLc = source.schema.fields.map(f => f.name.toLowerCase -> f.dataType).toMap
    val pairs = conjuncts(parsed).flatMap {
      case EqualTo(a, b) => pairOf(a, b, nullSafe = false)
      case EqualNullSafe(a, b) => pairOf(a, b, nullSafe = true)
      case _ => None
    }.filter(p => comparable(srcTypeByLc(p.sourceCol), schema(p.targetCol).dataType))
    if (pairs.isEmpty) return AlwaysTrue
    val rows = source
      .select(pairs.map(p => col(p.sourceCol).cast(schema(p.targetCol).dataType)): _*)
      .distinct().limit(maxKeys + 1).collect()
    if (rows.length > maxKeys) return AlwaysTrue
    pairs.zipWithIndex.map { case (p, i) =>
      val vals = rows.map(_.get(i)).filter(_ != null).distinct.toSeq
      val hasNull = rows.exists(_.isNullAt(i))
      val base: Pred =
        if (vals.isEmpty) AlwaysFalse // every source key NULL (or empty source)
        else In(p.targetCol, vals)
      if (p.nullSafe && hasNull) Or(base, IsNull(p.targetCol)) else base
    }.reduceLeft[Pred](And.apply)
  }

  private val MaxPruneRanges = 64
  private val MaxPruneKeys = 10000
  /** Range cap for the ROW-LEVEL residual on the diff scan. File
    * pruning evaluates the pred once per file, so 64 ranges are free
    * there — but as a per-row filter a 64-range OR generates a
    * comparison chain big enough to blow the JIT inlining budget
    * (measured: scd1 sf10 diffProbe 2.3 s -> 9.0 s with the full pred
    * as residual). 4 ranges = at most 8 long compares per row. */
  private val MaxResidualRanges = 4

  /** Coarsen a [[scdKeyPrunePred]] range pred to at most `maxRanges`
    * ranges (merge the smallest inter-range gaps first) for use as a
    * per-row residual. Coarsening only widens coverage — still a
    * superset of the source keys, so dropping non-matching rows stays
    * sound. Any unexpected pred shape returns AlwaysTrue (no residual). */
  private[commands] def residualOf(pred: Pred, maxRanges: Int = MaxResidualRanges): Pred = {
    // collect (lo, hi) leaves and an optional IsNull; bail on anything else
    var col: String = null
    var hasNull = false
    val ranges = scala.collection.mutable.ArrayBuffer.empty[(Any, Any)]
    def walk(p: Pred): Boolean = p match {
      case Or(l, r) => walk(l) && walk(r)
      case And(Ge(c, a), Le(c2, b)) if c == c2 && (col == null || col == c) =>
        col = c; ranges += ((a, b)); true
      case Eq(c, a) if col == null || col == c =>
        col = c; ranges += ((a, a)); true
      case IsNull(c) if col == null || col == c =>
        col = c; hasNull = true; true
      case _ => false
    }
    if (!walk(pred) || ranges.isEmpty) return AlwaysTrue
    rangesPred(col, coarsen(ranges.sortBy(r => longOf(r._1)).toSeq, maxRanges), hasNull)
  }

  private def longOf(a: Any): Long = a.asInstanceOf[Number].longValue

  /** Merge `ranges` (disjoint, sorted by lower bound) down to at most
    * `maxRanges` by closing the smallest inter-range gaps first — only
    * the `maxRanges - 1` largest gaps stay splits. Coverage only widens,
    * so the result is still a superset of the input's keys. */
  private[commands] def coarsen(ranges: Seq[(Any, Any)], maxRanges: Int): Seq[(Any, Any)] =
    if (ranges.length <= maxRanges) ranges
    else {
      val keepGaps = ranges.sliding(2).zipWithIndex.collect {
        case (scala.collection.Seq((_, e), (s, _)), i) => (longOf(s) - longOf(e), i)
      }.toSeq.sortBy(-_._1).take(maxRanges - 1).map(_._2).toSet
      val out = scala.collection.mutable.ArrayBuffer.empty[(Any, Any)]
      ranges.zipWithIndex.foreach { case ((a, b), i) =>
        if (out.isEmpty || keepGaps.contains(i - 1)) out += ((a, b))
        else out(out.length - 1) = (out.last._1, b)
      }
      out.toSeq
    }

  /** `k` in any of `ranges` (a point range as Eq), OR `k IS NULL` when
    * `withNull` (the null-safe key join matches null to null). */
  private def rangesPred(k: String, ranges: Seq[(Any, Any)], withNull: Boolean): Pred = {
    val base = ranges.map { case (a, b) =>
      if (a == b) Eq(k, a) else And(Ge(k, a), Le(k, b)): Pred
    }.reduceLeftOption[Pred](Or.apply).getOrElse(AlwaysFalse)
    if (withNull) Or(base, IsNull(k)) else base
  }

  /** Resolution of the final range compaction: gaps narrower than
    * span/4096 are absorbed, so a densely sampled key window stays one
    * range however many keys it skips. */
  private val PruneResolution = 4096L

  /** Range cap of one partition's [[KeyRanges]] summary (and of the
    * merged summary); its buffers (32 KB) ship once per partition. */
  private val PruneSummaryRanges = 1024

  /** Bounded, mergeable summary of a set of integral keys: disjoint
    * [lo, hi] ranges whose union covers every key added, plus whether a
    * NULL was seen. It holds at most `2 * cap` ranges. A full buffer is
    * compacted: ranges are unioned (adjacent ones too), then the
    * smallest gaps are closed until at most `cap` ranges remain. Closing
    * a gap only widens coverage, so the summary stays a superset of the
    * keys. Keys arriving in ascending order extend the last range in
    * place and never fill the buffer while they stay contiguous. */
  private[commands] final class KeyRanges(cap: Int) extends Serializable {
    var hasNull = false
    private val lo = new Array[Long](2 * cap)
    private val hi = new Array[Long](2 * cap)
    private var n = 0

    def add(k: Long): Unit =
      if (n > 0 && k >= lo(n - 1) && k <= hi(n - 1)) ()
      else if (n > 0 && k - 1 == hi(n - 1) && k != Long.MinValue) hi(n - 1) = k
      else append(k, k)

    private def append(a: Long, b: Long): Unit = {
      if (n == lo.length) compact()
      lo(n) = a; hi(n) = b; n += 1
    }

    def merge(o: KeyRanges): KeyRanges = {
      hasNull ||= o.hasNull
      var i = 0
      while (i < o.n) { append(o.lo(i), o.hi(i)); i += 1 }
      this
    }

    /** The compacted ranges, ascending. */
    def ranges: Seq[(Long, Long)] = { compact(); (0 until n).map(i => (lo(i), hi(i))) }

    private def compact(): Unit = {
      // Union by a sweep over the separately sorted starts and ends: the
      // open count is starts taken minus ends taken, and a start at or
      // before the next end + 1 joins the open range.
      java.util.Arrays.sort(lo, 0, n)
      java.util.Arrays.sort(hi, 0, n)
      var i = 0
      var j = 0
      var m = 0
      var open = 0L
      while (j < n) {
        if (i < n && (i == j || lo(i) <= hi(j) || lo(i) - 1 == hi(j))) {
          if (i == j) open = lo(i)
          i += 1
        } else {
          j += 1
          if (i == j) { lo(m) = open; hi(m) = hi(j - 1); m += 1 }
        }
      }
      n = m
      if (n > cap) {
        // keep the cap-1 widest gaps (the first of equal ones), close the rest
        val gaps = Array.tabulate(n - 1)(g => gapOf(g))
        val sorted = gaps.clone(); java.util.Arrays.sort(sorted)
        val cut = sorted(sorted.length - (cap - 1))
        var equalLeft = (cap - 1) - gaps.count(_ > cut)
        m = 1
        var g = 0
        while (g < n - 1) {
          val keep = gaps(g) > cut || (gaps(g) == cut && equalLeft > 0)
          if (gaps(g) == cut && keep) equalLeft -= 1
          if (keep) { lo(m) = lo(g + 1); hi(m) = hi(g + 1); m += 1 }
          else hi(m - 1) = hi(g + 1)
          g += 1
        }
        n = m
      }
    }

    /** Width of the gap after range `g`, saturating past the Long range. */
    private def gapOf(g: Int): Long =
      try Math.subtractExact(lo(g + 1), hi(g)) catch { case _: ArithmeticException => Long.MaxValue }
  }

  /** J2 for changes-mode SCD merges (round 12): in changes mode a target
    * row whose key matches no source row is left untouched (op N/NS), so
    * candidate files that provably contain no source key can be skipped
    * BEFORE the diff join — the same source-key file pruning the general
    * MERGE does, shrinking the diff's target scan from O(boundary) to
    * O(may-match files). Snapshot mode must scan the whole boundary
    * (keys absent from the source become deletes) and keeps the full
    * scan — callers only invoke this in changes mode. Sound because the
    * caller pins the source (lazy local checkpoint) before keys are
    * collected — the collect and the join see the same rows — and
    * because file pruning is conservative (a file is dropped only when
    * its footer stats prove no source key can be inside).
    *
    * Key-set shape: a single integral key column compacts into at most
    * [[MaxPruneRanges]] contiguous ranges in ONE Spark job over the
    * pinned source: every partition folds its keys into a bounded
    * [[KeyRanges]] summary, and the driver merges the summaries as the
    * tasks finish. The driver then absorbs gaps narrower than
    * span/[[PruneResolution]] and keeps the [[MaxPruneRanges]]-1 widest
    * gaps — O(ranges) stats work per file at ANY key count, exactly
    * right for the common "update a clustered window + append new keys"
    * batch. Every step only widens ranges, so the result covers every
    * source key. Other key shapes fall back to per-column In-lists capped
    * at [[MaxPruneKeys]] tuples; beyond their cap, full scan. */
  private[commands] def scdKeyPrunePred(source: DataFrame, keyCols: Seq[String],
      schema: org.apache.spark.sql.types.StructType): Pred = {
    import org.apache.spark.sql.types._
    val integral: Set[DataType] = Set(ByteType, ShortType, IntegerType, LongType)
    if (keyCols.size == 1 && integral(schema(keyCols.head).dataType)) {
      // The summary is bounded at ANY key count: a capped distinct-key
      // collect would fall to AlwaysTrue (a FULL-table diff scan) past its
      // cap, which the sf50 bench batch (1.31M keys) crosses.
      val k = keyCols.head
      val typed: Long => Any = schema(k).dataType match {
        case ByteType => _.toByte
        case ShortType => _.toShort
        case IntegerType => _.toInt
        case _ => identity
      }
      val summary = source.select(col(k).cast(LongType)).queryExecution.toRdd
        .aggregate(new KeyRanges(PruneSummaryRanges))(
          (s, r) => { if (r.isNullAt(0)) s.hasNull = true else s.add(r.getLong(0)); s },
          _ merge _)
      val rs = summary.ranges
      if (rs.isEmpty) // empty source or all-null keys
        return rangesPred(k, Seq.empty, summary.hasNull)
      val span = try Math.subtractExact(rs.last._2, rs.head._1) catch {
        case _: ArithmeticException => return AlwaysTrue // > Long range: rare, keep full scan
      }
      // gaps up to span/PruneResolution close; no gap overflows once the span fits
      val width = span / PruneResolution + 1L
      val runs = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
      rs.foreach { case (a, b) =>
        if (runs.nonEmpty && a - runs.last._2 <= width) runs(runs.length - 1) = (runs.last._1, b)
        else runs += ((a, b))
      }
      rangesPred(k, coarsen(runs.toSeq.map { case (a, b) => (typed(a), typed(b)) }, MaxPruneRanges),
        summary.hasNull)
    } else {
      val rows = source.select(keyCols.map(col): _*).distinct()
        .limit(MaxPruneKeys + 1).collect()
      if (rows.length > MaxPruneKeys) return AlwaysTrue
      keyCols.zipWithIndex.map { case (k, i) =>
        val vals = rows.map(_.get(i)).filter(_ != null).distinct.toSeq
        val hasNull = rows.exists(_.isNullAt(i))
        val base: Pred = if (vals.isEmpty) AlwaysFalse else In(k, vals)
        if (hasNull) Or(base, IsNull(k)) else base
      }.reduceLeft[Pred](And.apply) // per-column marginals: superset of the tuple set, sound
    }
  }

  /** Fused commit probe — ONE query over the materialized diff answers
    * both questions the previous two-job flow asked separately: the J4
    * cardinality guard (reference dao/common.xml:21-30 — a target row
    * matched by more than one source row aborts) and the modified-file
    * set (the files containing actioned rows, i.e. the only files the
    * CoW rewrite touches). The diff is hash-partitioned on the file
    * column ONCE: that partitioning clusters every (_file, _pos) group
    * too, so the cardinality grouping and the per-file rollup both run
    * on it without a second exchange, and every row of a target row
    * identity still meets in one group (J4 sees all its matches). The
    * collect returns one row per candidate FILE — metadata-bounded, like
    * every driver collect on this path. */
  private def probeCardinalityAndModified(diff: DataFrame, tPresent: Column,
      sPresent: Column, fileCol: String, posCol: String,
      modifiedCond: Column): ProbeResult = {
    val rows = diff.filter(tPresent)
      .repartition(col(fileCol))
      .groupBy(col(fileCol), col(posCol))
      .agg(
        sum(when(sPresent, 1L).otherwise(0L)).as("__matches"),
        max(when(modifiedCond, 1).otherwise(0)).as("__mod"))
      .groupBy(col(fileCol))
      .agg(max(col("__matches")).as("__max_matches"), max(col("__mod")).as("__any_mod"),
        sum(col("__mod").cast("long")).as("__mod_rows"))
      .collect()
    if (rows.exists(_.getLong(1) > 1))
      throw new MergeCardinalityException(
        "merge source matches a target row more than once; " +
          "deduplicate the source on the merge keys")
    val modified = rows.filter(_.getInt(2) == 1)
    // broadcast-budget estimate for the actioned (_file,_pos) key list:
    // path bytes + 8B pos + UnsafeRow/relation overhead per row
    val keyBytes = modified.map(r => (r.getString(0).length + 40L) * r.getLong(3)).sum
    ProbeResult(modified.map(_.getString(0)).toSet, keyBytes)
  }

  private final case class ProbeResult(modified: Set[String], actionedKeyBytes: Long)

  /** Join side for the rewrite's (_file,_pos) actioned-key list —
    * broadcast within [[RewriteBroadcastMax]] by the probe's exact byte
    * estimate, shuffled-hash past it (see the join-strategy note at the
    * top). Returns the side and whether it broadcast. */
  private def rewriteSide(keys: DataFrame, probe: ProbeResult): (DataFrame, Boolean) =
    if (probe.actionedKeyBytes > 0 && probe.actionedKeyBytes <= RewriteBroadcastMax)
      (broadcast(keys), true)
    else (keys.hint("shuffle_hash"), false)

  /** Rebuilt-bytes floor of the split rewrite. The split saves the
    * retained rows' cluster EXCHANGE + sort at the price of a second
    * write job — a fixed cost that dominates when the rebuilt volume is
    * tiny (measured at sf0.1: scd walls +60% with the split always-on,
    * -19% at sf10). Lowered only by specs that pin the split's file
    * layout on test-sized tables. */
  @volatile private[commands] var splitRewriteMinBytes: Long = 64L << 20

  /** Writes the rewrite of `entries` — `rebuild` over their full scan
    * (with file columns) — plus the `added` rows, and returns the staged
    * files.
    *
    * Split rewrite (round 15): with the actioned keys BROADCAST, the
    * rebuild is a map-side join over the modified files' scan —
    * partitioning and intra-file order survive, so those full-width rows
    * are written back PER FILE ([[LakeEngine.perFileSplitBytes]]) with zero
    * exchange and zero sort, while the batch-proportional added rows
    * cluster separately. This is the reference's own flow: rewrite the
    * touched files, append the new data as its own files. Ineligible
    * below [[splitRewriteMinBytes]], when the table is partitioned, when
    * the rebuild touches a sort column (per-file order would not
    * survive), or when the keys didn't broadcast (a shuffled hash join
    * re-partitions the full-width rows anyway); then everything unions
    * into one clustered write. Both shapes cluster by the touched files'
    * bounds, so inserts beyond every bound get their own tail file. */
  private def rewriteFiles(spark: SparkSession, table: LakeTable, entries: Seq[FileEntry],
      keysBroadcast: Boolean, modifiedCols: Set[String], rebuild: DataFrame => DataFrame,
      added: Option[DataFrame], label: String): Seq[FileEntry] = {
    def rebuilt(splitBytes: Option[Long]): DataFrame = rebuild(LakeDsv2.frame(spark,
      LakeDsv2.relation(spark, table, sides = Some(Seq(entries -> None)), fileColumns = true,
        splitBytes = splitBytes)))
    val bounds = LakeWriter.clusterBoundsOf(table, entries)
    val split = keysBroadcast && entries.nonEmpty &&
      table.metadata.partitionSpec.isEmpty &&
      entries.forall(_.sizeBytes > 0) &&
      entries.map(_.sizeBytes).sum >= splitRewriteMinBytes &&
      !table.metadata.sortOrder.exists(sf => modifiedCols.contains(sf.column))
    if (split) {
      val kept = LakeEngine.timed(s"$label.rewrite.rebuilt")(LakeWriter.write(spark, table,
        rebuilt(Some(LakeEngine.perFileSplitBytes(spark, entries))), preserveDistribution = true))
      val appended = added.filterNot(_.isEmpty).map(d => LakeEngine.timed(s"$label.rewrite.appended")(
        LakeWriter.write(spark, table, d, clusterBounds = bounds)))
      kept ++ appended.getOrElse(Seq.empty)
    } else {
      val pieces = (if (entries.isEmpty) None else Some(rebuilt(None))).toSeq ++ added
      if (pieces.isEmpty) Seq.empty
      else LakeWriter.write(spark, table, pieces.reduce(_.unionByName(_)), clusterBounds = bounds)
    }
  }
}
