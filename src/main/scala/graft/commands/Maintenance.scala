package graft.commands

import graft.format._
import graft.scan.TableScan
import graft.write.LakeWriter
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Table maintenance: small-file compaction and snapshot expiry — the
  * standard lakehouse upkeep pair (net-new vs the reference, which leaves
  * file sizing to write-time options only).
  */
object Maintenance {

  /** Rewrite files smaller than `targetBytes` into consolidated files
    * (per partition, since the writer re-clusters on the partition spec).
    * Large files are left untouched — copy-on-write applies only to the
    * small tail, so compaction cost is proportional to the fragmentation,
    * not the table size. `scopeSql` restricts candidates to files the
    * predicate may match (stats-level, whole files only — compaction
    * rewrites files verbatim so a may-match superset is always sound):
    * `OPTIMIZE t WHERE o_date >= ...` compacts yesterday's partition
    * without touching — or even listing data of — the other 10^5. */
  def compactSmallFiles(
      engine: LakeEngine, table: LakeTable, targetBytes: Long,
      scopeSql: String = "true"): CommitMetrics = {
    val fromSnapshot = table.metadata.currentSnapshotId
    val files = engine.scan(table, scopeSql).planFiles()
    val small = files.filter(_.sizeBytes < targetBytes)
    if (small.size < 2)
      return CommitMetrics(fromSnapshot.getOrElse(0L), 0, 0, 0, 0, 0)
    val rows = new TableScan(engine.spark, table, explicitFiles = Some(small)).toDF()
    val rewritten = LakeWriter.write(engine.spark, table, rows)
    table.commit(CommitOp.Overwrite(rewritten, small.map(_.path).toSet,
      fromSnapshotId = fromSnapshot, removeHints = small, dataChange = false))
  }

  /** Delete files in the table's directories that no snapshot references:
    * data files and manifests stranded by commit retries that lost the
    * optimistic race, or by crashed writers. `graceMs` protects in-flight
    * writes — only files older than it are touched (pass 0 in tests).
    * The default is 24h because data files are written at their final
    * paths BEFORE their commit lands (a write job over a huge batch can
    * run long): the grace must exceed the longest possible write-to-commit
    * gap or cleanup deletes files an imminent commit references (Iceberg
    * defaults this guard to 3 days for the same reason).
    * Returns the deleted paths; `dryRun` reports them without deleting
    * (`VACUUM ... DRY RUN`). */
  def removeOrphanFiles(table: LakeTable, graceMs: Long = 24 * 60 * 60 * 1000L,
      dryRun: Boolean = false): Seq[String] = {
    val m = table.refresh().metadata
    val cutoff = System.currentTimeMillis() - graceMs
    val liveData = m.snapshots.flatMap(table.manifestPaths)
      .map(p => Paths.get(p).toAbsolutePath.normalize.toString).toSet
    val liveMeta = m.snapshots.flatMap(_.manifests.map(_.path)).toSet
    val deleted = scala.collection.mutable.ArrayBuffer.empty[String]
    // data dir: anything parquet-ish not referenced by any snapshot
    val dataDir = table.dataDir
    if (Files.isDirectory(dataDir)) {
      import scala.jdk.CollectionConverters._
      Files.walk(dataDir).iterator().asScala
        .filter(p => Files.isRegularFile(p))
        .filter(p => Files.getLastModifiedTime(p).toMillis < cutoff)
        .filter(p => !liveData.contains(p.toAbsolutePath.normalize.toString))
        .foreach { p =>
          if (!dryRun) Files.deleteIfExists(p)
          deleted += p.toString
        }
    }
    // metadata dir: unreferenced manifest chunks + stranded commit temps
    // (listed and deleted through the CommitStore so object-store
    // metadata is reclaimed the same way)
    val metaDir = Paths.get(table.location, "metadata")
    table.store.listNames(metaDir)
      .filter(n => (n.startsWith("manifest-") && !liveMeta.contains(n)) || n.startsWith(".tmp-"))
      .filter(n => table.store.lastModifiedMs(metaDir, n) < cutoff)
      .foreach { n =>
        if (!dryRun) table.store.deleteIfExists(metaDir, n)
        deleted += metaDir.resolve(n).toString
      }
    deleted.toSeq
  }

  /** Rewrite the manifest list into consolidated chunks (Iceberg
    * `rewrite_manifests`): metadata defragmentation for existing tables,
    * zero data-file IO. Incremental reads across the rewrite boundary
    * fail fast (the snapshot is a "replace", not an append) — the same
    * contract as compaction. */
  def rewriteManifests(table: LakeTable, targetEntriesPerChunk: Int = 100000): CommitMetrics =
    table.commit(CommitOp.RewriteManifests(targetEntriesPerChunk))

  /** Z-order re-clustering: rewrite the table ordered by the interleaved
    * bits of each row's per-column quantization, so file min/max ranges
    * are tight in EVERY clustered column and stats pruning works for
    * predicates on any of them (a linear sort only prunes its leading
    * column). The multi-dimensional answer for 100 TB point/range lookups
    * on secondary columns.
    *
    * Quantization is value-based (min/max normalized to `bits` bits, one
    * bounded agg to find the ranges — no global rank); columns must be
    * numeric or date. NULLs quantize to bucket 0.
    *
    * `scopeSql` bounds the rewrite to the files matching a predicate
    * (partition/stats pruned, whole files — their full contents are
    * re-clustered, never split): at 100 TB an all-or-nothing rewrite is
    * one giant job whose failure wastes everything, so re-cluster the
    * fragmented partition(s) incrementally instead. Each scoped commit
    * is atomic; pruning on the clustered columns holds table-wide
    * because every rewritten file gets tight per-file ranges and
    * untouched files keep their existing stats. */
  def zorderRewrite(
      engine: LakeEngine, table: LakeTable, cols: Seq[String],
      bits: Int = 8, scopeSql: String = "true"): CommitMetrics = {
    require(cols.size >= 2, "z-order needs at least two columns")
    require(cols.size * bits <= 63, s"${cols.size} cols x $bits bits exceeds a long")
    require(table.metadata.sortOrder.isEmpty,
      "z-order conflicts with the table's declared sort order")
    val schema = table.schema
    cols.foreach { c =>
      val dt = schema(c).dataType
      require(dt.isInstanceOf[NumericType] || dt == DateType,
        s"z-order column $c must be numeric or date, got ${dt.sql}")
    }
    val fromSnapshot = table.metadata.currentSnapshotId
    val files = engine.scan(table, scopeSql).planFiles()
    if (files.isEmpty)
      return CommitMetrics(fromSnapshot.getOrElse(0L), 0, 0, 0, 0, 0)
    val df = new TableScan(engine.spark, table, explicitFiles = Some(files)).toDF()

    val asKey: Map[String, Column] = cols.map(c => c -> col(c).cast(DoubleType)).toMap
    val aggs = cols.flatMap(c => Seq(min(asKey(c)).as(s"mn_$c"), max(asKey(c)).as(s"mx_$c")))
    val mm = df.agg(aggs.head, aggs.tail: _*).head()
    val top = (1L << bits) - 1
    val buckets = cols.map { c =>
      val mn = Option(mm.getAs[java.lang.Double](s"mn_$c")).map(_.toDouble).getOrElse(0.0)
      val mx = Option(mm.getAs[java.lang.Double](s"mx_$c")).map(_.toDouble).getOrElse(0.0)
      val scaled =
        if (mx > mn) floor((asKey(c) - lit(mn)) / lit(mx - mn) * lit(top.toDouble))
        else lit(0L)
      coalesce(scaled.cast(LongType), lit(0L))
    }
    // interleave: bit i of column j lands at position i * ncols + j
    val z = (0 until bits).flatMap(i => buckets.zipWithIndex.map { case (b, j) =>
      shiftleft(shiftright(b, i).bitwiseAND(lit(1L)), i * cols.size + j)
    }).reduce(_.bitwiseOR(_))

    val clustered = df.withColumn("__z", z)
      .repartitionByRange(col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
    val rewritten = LakeWriter.write(engine.spark, table, clustered)
    table.commit(CommitOp.Overwrite(rewritten, files.map(_.path).toSet,
      fromSnapshotId = fromSnapshot, removeHints = files, dataChange = false))
  }

  /** Expire snapshots older than `keepLast` (never the current one or any
    * branch/tag target), then delete manifests and data files no longer
    * referenced by any surviving snapshot. `olderThanMs` additionally
    * protects recent history regardless of count (the Iceberg
    * `expire_snapshots(older_than)` shape). Returns deleted data files. */
  def expireSnapshots(
      table: LakeTable, keepLast: Int,
      olderThanMs: Long = Long.MaxValue): Seq[String] = {
    require(keepLast >= 1, "must keep at least one snapshot")
    val m = table.metadata
    val protectedIds = m.refs.values.map(_.snapshotId).toSet ++ m.currentSnapshotId
    val ordered = m.snapshots.sortBy(_.id)
    val expire = ordered.dropRight(keepLast)
      .filterNot(s => protectedIds.contains(s.id))
      .filter(_.timestampMs < olderThanMs)
    if (expire.isEmpty) return Seq.empty
    val keep = m.snapshots.filterNot(s => expire.exists(_.id == s.id))
    val liveFiles = keep.flatMap(table.manifestPaths).toSet
    val deadFiles = expire.flatMap(table.manifestPaths).distinct
      .filterNot(liveFiles.contains)
    // manifests are shared across snapshots (incremental commits reuse the
    // parent's chunks) — only delete ones no surviving snapshot references
    val liveManifests = keep.flatMap(_.manifests.map(_.path)).toSet
    val deadManifests = expire.flatMap(_.manifests.map(_.path)).distinct
      .filterNot(liveManifests.contains)
    // commit the trimmed snapshot list first, then delete orphans.
    // Manifest deletes route through the table's CommitStore so expiry
    // also reclaims object-store metadata; data files are local/Hadoop.
    table.commit(CommitOp.ExpireSnapshots(expire.map(_.id).toSet))
    val metaDir = Paths.get(table.location, "metadata")
    deadManifests.foreach(p => table.store.deleteIfExists(metaDir, p))
    deadFiles.foreach(p => Files.deleteIfExists(Paths.get(p)))
    deadFiles
  }
}
