package graft.format

import com.fasterxml.jackson.databind.{DeserializationFeature, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import org.apache.spark.sql.types._
import scala.util.Random

/** A snapshot-log table over parquet: load, commit (optimistic, atomic),
  * time travel, branches/tags, schema evolution.
  *
  * Replaces the reference's Iceberg table + Transaction
  * (writer/Transaction.java:198-335): commits write `v<N+1>.json` via an
  * exclusive hard-link (atomic on POSIX), so concurrent committers race on
  * the version file and the loser retries against refreshed metadata.
  */
object Json {
  val mapper: ObjectMapper = {
    val m = new ObjectMapper()
    m.registerModule(DefaultScalaModule)
    m.configure(DeserializationFeature.FAIL_ON_UNKNOWN_PROPERTIES, false)
    m
  }
  def write(v: Any): String = mapper.writeValueAsString(v)
  def read[T](s: String, c: Class[T]): T = mapper.readValue(s, c)
}

/** SURVEY §1.2 logical types with no native Spark representation:
  * TIME -> LongType micros-of-day, UUID -> StringType (canonical 36-char
  * form), both marked by a metadata tag so tools can recover the intent.
  * Stats, sorting and pruning come for free from the carrier type's
  * ordering (micros order chronologically; the canonical hex form orders
  * consistently for equality and prefix pruning); UUID bucket layouts
  * use the Iceberg byte-layout hash via the bucket_uuid transform. */
object LogicalTypes {
  val Key = "graft-type"
  val Uuid = "uuid"
  val Time = "time"

  def uuidField(name: String): StructField = tag(StructField(name, StringType), Uuid)
  def timeField(name: String): StructField = tag(StructField(name, LongType), Time)

  def tag(f: StructField, t: String): StructField = {
    validateCarrier(f.copy(metadata =
      new MetadataBuilder().withMetadata(f.metadata).putString(Key, t).build()))
  }
  def tagOf(f: StructField): Option[String] =
    if (f.metadata.contains(Key)) Some(f.metadata.getString(Key)) else None

  private[format] def validateCarrier(f: StructField): StructField = tagOf(f) match {
    case Some(Uuid) if f.dataType != StringType =>
      throw new ValidationException(s"uuid column ${f.name} must be StringType, got ${f.dataType.sql}")
    case Some(Time) if f.dataType != LongType =>
      throw new ValidationException(s"time column ${f.name} must be LongType micros-of-day, got ${f.dataType.sql}")
    case _ => f
  }
}

object FieldIds {
  val Key = "field-id"
  def of(f: StructField): Int =
    if (f.metadata.contains(Key)) f.metadata.getLong(Key).toInt else -1
  def withId(f: StructField, id: Int): StructField =
    f.copy(metadata = new MetadataBuilder().withMetadata(f.metadata).putLong(Key, id.toLong).build())

  /** Assign sequential field ids to a fresh schema, recursing into
    * structs (including struct elements of arrays/maps) so nested
    * evolution resolves by id like Iceberg's (SURVEY §1.1). */
  def assign(schema: StructType, from: Int = 1): (StructType, Int) = {
    var next = from
    def assignType(dt: DataType): DataType = dt match {
      case st: StructType => StructType(st.fields.map(assignField))
      case ArrayType(et, n) => ArrayType(assignType(et), n)
      case MapType(k, v, n) => MapType(assignType(k), assignType(v), n)
      case other => other
    }
    def assignField(f: StructField): StructField = {
      val withTop = withId(f, next)
      next += 1
      withTop.copy(dataType = assignType(f.dataType))
    }
    (StructType(schema.fields.map(assignField)), next - 1)
  }
}

class CommitConflictException(msg: String) extends RuntimeException(msg)
class ValidationException(msg: String) extends RuntimeException(msg)

/** The conditional-put seam of the commit protocol — the single
  * operation that must be atomic-exclusive for optimistic concurrency
  * to be safe. Everything else the table writes (manifest chunks, data
  * files) uses unique names and needs no atomicity.
  *
  * A deployment swaps this for its object store (reference analog: the
  * pluggable FileIO + S3 client in aws/SwiftLakeS3FileIO.java:41-163):
  * - S3: `PUT vN+1.json` with `If-None-Match: *` — the 412 Precondition
  *   Failed response IS the lost race.
  * - GCS: `x-goog-if-generation-match: 0`; Azure: `If-None-Match: *`.
  * - Stores without conditional writes: CAS the version in a DynamoDB/
  *   JDBC catalog row, then write the file (Iceberg's catalog commit).
  */
trait CommitStore {
  /** Publish `content` as `metadata/<name>` iff absent.
    * @return false when `name` already exists (the commit lost the race;
    *         caller refreshes and retries). */
  def putIfAbsent(metadataDir: Path, name: String, content: String): Boolean

  // ---- metadata byte IO ---------------------------------------------
  // Every OTHER metadata access (manifest chunks, version files,
  // discovery listing) routes through these, so a table's metadata can
  // live wholly in an object store. Data files are Spark/Hadoop-managed
  // (an s3a:// location already reads and writes parquet through the
  // Hadoop FileSystem); only the metadata plane needs this seam.
  // Defaults are the local-filesystem behavior, so a store that only
  // customizes commit atomicity stays source-compatible.

  def writeBytes(metadataDir: Path, name: String, bytes: Array[Byte]): Unit = {
    val _ = Files.write(metadataDir.resolve(name), bytes)
  }
  def readBytes(metadataDir: Path, name: String): Array[Byte] =
    Files.readAllBytes(metadataDir.resolve(name))
  /** Immediate child object names of the metadata dir (empty when the
    * table does not exist). */
  def listNames(metadataDir: Path): Seq[String] =
    if (!Files.isDirectory(metadataDir)) Seq.empty
    else {
      val out = Vector.newBuilder[String]
      val s = Files.list(metadataDir)
      try s.iterator().forEachRemaining(p => out += p.getFileName.toString)
      finally s.close()
      out.result()
    }
  def deleteIfExists(metadataDir: Path, name: String): Boolean =
    Files.deleteIfExists(metadataDir.resolve(name))
  /** Object age for grace-window checks (S3 LastModified analog). */
  def lastModifiedMs(metadataDir: Path, name: String): Long =
    Files.getLastModifiedTime(metadataDir.resolve(name)).toMillis
  /** One-time layout setup at table create. */
  def prepareTable(tableDir: Path): Unit = {
    Files.createDirectories(tableDir.resolve("metadata"))
    Files.createDirectories(tableDir.resolve("data"))
    ()
  }
  /** Recursive table-directory removal (catalog DROP TABLE). */
  def dropTableDir(tableDir: Path): Unit =
    if (Files.exists(tableDir)) {
      import scala.jdk.CollectionConverters._
      Files.walk(tableDir).sorted(java.util.Comparator.reverseOrder())
        .iterator().asScala.foreach(Files.delete)
    }
}

/** Local-FS store: exclusive hard link (atomic on POSIX) is the
  * conditional put; version discovery lists the metadata directory. */
object LocalCommitStore extends CommitStore {
  override def putIfAbsent(metadataDir: Path, name: String, content: String): Boolean = {
    val tmp = metadataDir.resolve(s".tmp-${Random.alphanumeric.take(8).mkString}.json")
    Files.writeString(tmp, content)
    try {
      Files.createLink(metadataDir.resolve(name), tmp) // fails if name exists
      true
    } catch {
      case _: java.nio.file.FileAlreadyExistsException => false
    } finally Files.deleteIfExists(tmp)
  }
}

/** Process-wide cache of PARSED manifest chunks, keyed by absolute path
  * (reference analog: io/ContentCache.java:56-310 — a 256 MiB Caffeine
  * cache of manifest bytes, kept for exactly this reason: every query
  * re-plans from the same immutable chunks). Chunk files are immutable
  * once written and their names embed a random suffix, so a path never
  * maps to different content; a plain LRU needs no invalidation.
  * Bounded by total cached [[FileEntry]] rows — the dominant memory term
  * — so a million-file table can't pin unbounded heap on the driver. */
object ManifestCache {
  private[this] val lock = new Object
  private[this] val map =
    new java.util.LinkedHashMap[String, Seq[FileEntry]](256, 0.75f, true)
  private[this] var total: Long = 0L
  private[this] val capacity: Long = 4L * 1000 * 1000
  private[this] var hitN: Long = 0L
  private[this] var missN: Long = 0L

  def hits: Long = lock.synchronized(hitN)
  def misses: Long = lock.synchronized(missN)

  def clear(): Unit = lock.synchronized { map.clear(); total = 0L }

  def getOrLoad(path: Path)(load: => Seq[FileEntry]): Seq[FileEntry] = {
    val key = path.toAbsolutePath.normalize.toString
    val cached = lock.synchronized {
      val c = map.get(key)
      if (c != null) hitN += 1 else missN += 1
      c
    }
    if (cached != null) cached
    else {
      val loaded = load // parse OUTSIDE the lock: no I/O under contention
      lock.synchronized {
        if (!map.containsKey(key)) { map.put(key, loaded); total += loaded.size; evict() }
      }
      loaded
    }
  }

  private[this] def evict(): Unit = {
    val it = map.entrySet().iterator()
    while (total > capacity && map.size() > 1) {
      val eldest = it.next()
      total -= eldest.getValue.size
      it.remove()
    }
  }
}

sealed trait CommitOp
object CommitOp {
  /** Append files to the branch head. `extraSummary` lands in the
    * snapshot summary (e.g. the streaming sink's batch-id watermark);
    * `extraProperties` merge into the TABLE properties in the same
    * atomic commit — state that must outlive snapshot expiry (e.g. the
    * sink's per-query high-water mark) goes there. */
  final case class Append(files: Seq[FileEntry], branch: Option[String] = None,
      extraSummary: Map[String, String] = Map.empty,
      extraProperties: Map[String, String] = Map.empty) extends CommitOp
  /** Copy-on-write swap: remove `removePaths`, add `files`.
    * `removeHints` are the planned [[FileEntry]]s of the removed paths:
    * when they cover every removed path, the commit skips (reuses
    * unread) any manifest chunk whose partition-value summary excludes
    * all of them, making a partition-scoped CoW commit O(matching
    * chunks) instead of O(table metadata). Hints are advisory — absent
    * or incomplete hints just mean every chunk is read. */
  final case class Overwrite(
      files: Seq[FileEntry],
      removePaths: Set[String],
      branch: Option[String] = None,
      // D11 isolation: snapshot id the writer planned from + a conflict
      // predicate evaluated against files added/removed since then.
      fromSnapshotId: Option[Long] = None,
      conflictFilter: Option[graft.scan.Pred] = None,
      serializable: Boolean = true,
      removeHints: Seq[FileEntry] = Seq.empty,
      // false = pure file rewrite (compaction): same logical rows in new
      // files. The snapshot is stamped "replace" so CDC readers skip it
      // instead of emitting delete+insert churn for untouched rows.
      dataChange: Boolean = true) extends CommitOp
  final case class SetSchema(schema: StructType, lastFieldId: Int) extends CommitOp
  /** Spec evolution: new writes use this layout; existing files keep
    * theirs (per-file specId resolves at scan). */
  final case class SetPartitionSpec(spec: Seq[PartitionField]) extends CommitOp
  final case class SetRef(name: String, ref: Ref) extends CommitOp
  final case class RemoveRef(name: String) extends CommitOp
  /** Move main's head back to an existing snapshot in the log (Iceberg
    * rollback_to_snapshot): later snapshots stay in history (expiry
    * trims them) so the rollback itself is revertible. */
  final case class Rollback(snapshotId: Long) extends CommitOp
  /** Publish a branch: move main's head to the branch head, iff the
    * branch descends from the current head (no history rewrite) —
    * Iceberg's fast_forward, the publish step of write-audit-publish. */
  final case class FastForward(branch: String) extends CommitOp
  /** Drop expired snapshots from the log (history trim; data-file cleanup
    * is the caller's job once the commit lands). */
  final case class ExpireSnapshots(ids: Set[Long]) extends CommitOp
  /** Set/remove table properties. */
  final case class SetProperties(set: Map[String, String],
      remove: Set[String] = Set.empty) extends CommitOp
  /** Rewrite the head's manifest list into consolidated chunks of
    * `targetEntriesPerChunk` — metadata defragmentation; data files
    * untouched (Iceberg rewrite_manifests). */
  final case class RewriteManifests(targetEntriesPerChunk: Int = 100000) extends CommitOp
}

class LakeTable private (
    val location: String,
    @volatile private var meta: TableMetadata,
    val store: CommitStore = LocalCommitStore) {

  def metadata: TableMetadata = meta
  def schema: StructType = schemaFor(meta.currentSchemaId)
  def schemaFor(id: Int): StructType =
    DataType.fromJson(meta.schemas(id.toString)).asInstanceOf[StructType]
  def properties: Map[String, String] = meta.properties

  def refresh(): LakeTable = { meta = LakeTable.loadMeta(location, store); this }

  /** A copy holding this table's metadata as it is now: a later
    * [[refresh]] or commit through `this` does not move it. Scans built
    * on it keep reading the snapshot they were planned against. */
  def pinned: LakeTable = new LakeTable(location, meta, store)

  def snapshot(ref: TableRef): Option[Snapshot] = meta.resolve(ref)

  def manifest(s: Snapshot): Seq[FileEntry] = s.manifests.flatMap(readManifest)

  def readManifest(ref: ManifestRef): Seq[FileEntry] = {
    val p = Paths.get(location, "metadata", ref.path)
    ManifestCache.getOrLoad(p)(LakeTable.parseManifest(ref.path,
      store.readBytes(Paths.get(location, "metadata"), ref.path)))
  }

  /** Paths of every data file a snapshot references. */
  def manifestPaths(s: Snapshot): Seq[String] = manifest(s).map(_.path)

  def currentFiles(ref: TableRef = TableRef.Head): Seq[FileEntry] =
    snapshot(ref).map(manifest).getOrElse(Seq.empty)

  /** Incremental append scan (Iceberg appendsBetween shape): files added
    * after `fromSnapshotId` (exclusive) up to `toSnapshotId` (inclusive).
    * Every snapshot in range must be an append — an overwrite/delete in
    * range has no pure files-added representation, so it errors rather
    * than silently over- or under-reporting. Manifest chunks shared with
    * `from` are skipped UNREAD (incremental commits reuse them), so the
    * metadata cost is O(changed), not O(table). */
  def appendedFiles(fromSnapshotId: Option[Long], toSnapshotId: Long): Seq[FileEntry] = {
    val to = meta.snapshotById(toSnapshotId).getOrElse(
      throw new ValidationException(s"no snapshot $toSnapshotId"))
    val from = fromSnapshotId.map(id => meta.snapshotById(id).getOrElse(
      throw new ValidationException(s"no snapshot $id")))
    val range = meta.snapshotsBetween(fromSnapshotId, toSnapshotId)
    range.merge.findLast(_.operation != "append").foreach { s =>
      throw new ValidationException(
        s"incremental read crosses non-append snapshot ${s.id} (${s.operation})")
    }
    if (range.isLeft)
      throw new ValidationException(
        s"snapshot $fromSnapshotId is not an ancestor of $toSnapshotId")
    LakeTable.changedFiles(this, from, to)._1
  }

  // -------------------------------------------------------------------
  // Commit protocol (optimistic with retries)
  // -------------------------------------------------------------------
  def commit(op: CommitOp, retries: Int = 5): CommitMetrics = {
    val t0 = System.currentTimeMillis()
    var attempt = 0
    while (true) {
      // read the version FIRST, then the metadata AT that version: basing
      // the new metadata on a fresher read than the version we link would
      // silently drop a concurrent commit (TOCTOU)
      val curV = LakeTable.currentVersion(location, store)
      val cur = LakeTable.loadMetaAt(location, curV, store)
      val (next, metrics) = applyOp(cur, op, t0)
      if (store.putIfAbsent(Paths.get(location, "metadata"), s"v${curV + 1}.json", Json.write(next))) {
        meta = next
        val finalMetrics = metrics.copy(elapsedMs = System.currentTimeMillis() - t0)
        emitCommitEvent(op, cur, finalMetrics, attempt + 1)
        return finalMetrics
      } else {
        attempt += 1
        if (attempt > retries)
          throw new CommitConflictException(s"commit lost the race $retries times at $location")
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Push the commit's typed event (with partition-level deltas) to any
    * registered [[graft.metrics.MetricCollector]]. The event body is
    * by-name: with no collector registered nothing is computed, and
    * removed-entry resolution falls back to the pre-commit manifest only
    * when the overwrite's advisory hints don't cover every removed path. */
  private def emitCommitEvent(op: CommitOp, before: TableMetadata,
      metrics: CommitMetrics, attempts: Int): Unit =
    graft.metrics.MetricCollectors.emitCommit {
      val (name, added, removed) = op match {
        case a: CommitOp.Append => ("append", a.files, Seq.empty[FileEntry])
        case o: CommitOp.Overwrite =>
          val hints = o.removeHints.filter(f => o.removePaths.contains(f.path))
          val rest =
            if (hints.map(_.path).toSet == o.removePaths) Seq.empty
            else headOf(before, o.branch).map(manifest).getOrElse(Seq.empty)
              .filter(f => o.removePaths.contains(f.path) && !hints.exists(_.path == f.path))
          (if (!o.dataChange) "replace"
          else if (o.removePaths.isEmpty) "append" else "overwrite", o.files, hints ++ rest)
        case other =>
          (other.getClass.getSimpleName.stripSuffix("$").toLowerCase,
            Seq.empty[FileEntry], Seq.empty[FileEntry])
      }
      graft.metrics.CommitEvent(location, name, metrics, attempts,
        graft.metrics.MetricCollectors.partitionDeltas(added, removed))
    }

  private def newSnapshotId(m: TableMetadata): Long =
    m.snapshots.map(_.id).maxOption.getOrElse(0L) + 1L

  private def headOf(m: TableMetadata, branch: Option[String]): Option[Snapshot] =
    branch match {
      case None => m.currentSnapshot
      case Some(b) => m.refs.get(b).filter(_.isBranch).flatMap(r => m.snapshotById(r.snapshotId))
    }

  private def newManifest(files: Seq[FileEntry], sid: Long): ManifestRef = {
    // unique per attempt: a lost optimistic race must not reuse a name
    val name = s"manifest-$sid-${Random.alphanumeric.take(8).mkString}.json"
    store.writeBytes(Paths.get(location, "metadata"), name, Json.write(files).getBytes(UTF_8))
    // partition summary for scan-time chunk pruning: only meaningful when
    // every entry shares a spec; fields exceeding the cardinality cap are
    // dropped (a near-unique field can't skip chunks anyway)
    val specIds = files.map(_.specId).distinct
    val (specId, values) =
      if (specIds.size != 1) (None, Map.empty[String, Seq[String]])
      else {
        val cap = 16
        val fields = files.head.partition.keySet
          .filter(k => files.forall(_.partition.contains(k)))
        (Some(specIds.head), fields.iterator.map { k =>
          k -> files.map(_.partition(k)).distinct.sorted
        }.filter(_._2.size <= cap).toMap)
      }
    ManifestRef(name, files.size.toLong, files.map(_.recordCount).sum, specId, values)
  }

  /** Manifest-list hygiene: once the list exceeds `max-count`, rewrite the
    * small-manifest tail into one chunk (large manifests are never
    * rewritten — merge cost tracks fragmentation, not table size). */
  private def compactList(m: TableMetadata, list: Seq[ManifestRef], sid: Long): Seq[ManifestRef] = {
    val maxCount = m.properties.getOrElse("graft.manifest.max-count", "32").toInt
    val mergeMin = m.properties.getOrElse("graft.manifest.merge-min-entries", "8192").toLong
    if (list.size <= maxCount) return list
    val (small, large) = list.partition(_.entryCount < mergeMin)
    if (small.size <= 1) list
    else large :+ newManifest(small.flatMap(readManifest), sid)
  }

  private def applyOp(m: TableMetadata, op: CommitOp, t0: Long): (TableMetadata, CommitMetrics) = op match {
    case CommitOp.Append(files, branch, extraSummary, extraProperties) =>
      val head = headOf(m, branch)
      val baseList = head.map(_.manifests).getOrElse(Seq.empty)
      val sid = newSnapshotId(m)
      val list = compactList(m,
        if (files.isEmpty) baseList else baseList :+ newManifest(files, sid), sid)
      val snap = Snapshot(sid, head.map(_.id), System.currentTimeMillis(), "append", list,
        Map("added-files" -> files.size.toString,
          "added-records" -> files.map(_.recordCount).sum.toString,
          "added-bytes" -> files.map(_.sizeBytes).sum.toString) ++ extraSummary)
      val next = advance(m, snap, branch)
      (if (extraProperties.isEmpty) next
       else next.copy(properties = next.properties ++ extraProperties),
        CommitMetrics(sid, files.size, 0, files.map(_.recordCount).sum, 0, 0))

    case CommitOp.Overwrite(files, removePaths, branch, fromSnap, conflictFilter, serializable, removeHints, dataChange) =>
      val head = headOf(m, branch)
      validateNoConflicts(m, head, fromSnap, conflictFilter, serializable)
      val baseList = head.map(_.manifests).getOrElse(Seq.empty)
      val sid = newSnapshotId(m)
      // Chunk-skip (mirrors TableScan.manifestMayMatch): when the hints
      // cover every removed path, a chunk whose partition-value summary
      // excludes ALL of their partitions provably contains none of them
      // and is reused WITHOUT being read. A hinted file can live in a
      // chunk only if the chunk's spec matches and every summarized
      // field lists the file's value (missing info -> conservative).
      val hintsComplete = removeHints.nonEmpty &&
        removePaths.subsetOf(removeHints.iterator.map(_.path).toSet)
      def mayContainRemoved(mref: ManifestRef): Boolean =
        !hintsComplete || mref.specId.isEmpty || mref.partitionValues.isEmpty ||
          removeHints.exists { f =>
            f.specId == mref.specId.get &&
              mref.partitionValues.forall { case (k, vs) =>
                f.partition.get(k).forall(vs.contains) }
          }
      // rewrite only manifests that contain a removed path; reuse the rest
      var removed = Seq.empty[FileEntry]
      var seen = Set.empty[String]
      val keptList = baseList.flatMap { mref =>
        if (!mayContainRemoved(mref)) Some(mref)
        else {
          val entries = readManifest(mref)
          seen ++= entries.iterator.map(_.path)
          val hit = entries.filter(f => removePaths.contains(f.path))
          if (hit.isEmpty) Some(mref)
          else {
            removed ++= hit
            val kept = entries.filterNot(f => removePaths.contains(f.path))
            if (kept.isEmpty) None else Some(newManifest(kept, sid))
          }
        }
      }
      // sound with skipping: a skipped chunk provably holds no removed
      // path, so a path absent from every READ chunk is truly gone
      val missing = removePaths -- seen
      if (missing.nonEmpty)
        throw new ValidationException(
          s"cannot overwrite: ${missing.size} file(s) no longer in table (concurrently rewritten?): ${missing.take(3)}")
      val list = compactList(m,
        if (files.isEmpty) keptList else keptList :+ newManifest(files, sid), sid)
      val snap = Snapshot(sid, head.map(_.id), System.currentTimeMillis(),
        if (!dataChange) "replace"
        else if (files.isEmpty) "delete" else "overwrite", list,
        Map("added-files" -> files.size.toString,
          "added-bytes" -> files.map(_.sizeBytes).sum.toString,
          "removed-files" -> removed.size.toString))
      (advance(m, snap, branch),
        CommitMetrics(sid, files.size, removed.size,
          files.map(_.recordCount).sum, removed.map(_.recordCount).sum, 0))

    case CommitOp.SetSchema(schema, lastFieldId) =>
      val nextId = m.currentSchemaId + 1
      (m.copy(
        schemas = m.schemas + (nextId.toString -> schema.json),
        currentSchemaId = nextId,
        lastAssignedFieldId = math.max(lastFieldId, m.lastAssignedFieldId)),
        CommitMetrics(m.currentSnapshotId.getOrElse(0L), 0, 0, 0, 0, 0))

    case CommitOp.SetPartitionSpec(spec) =>
      val schemaNow = DataType.fromJson(m.schemas(m.currentSchemaId.toString))
        .asInstanceOf[StructType]
      spec.foreach(pf => {
        if (!schemaNow.fieldNames.contains(pf.sourceColumn))
          throw new ValidationException(s"partition source ${pf.sourceColumn} not in schema")
        graft.transforms.Transform.parse(pf.transform) // validates transform syntax
      })
      val nextId = m.specsById.keys.maxOption.getOrElse(0) + 1
      (m.copy(
        partitionSpecs = m.partitionSpecs + (nextId.toString -> spec),
        currentSpecId = nextId),
        CommitMetrics(m.currentSnapshotId.getOrElse(0L), 0, 0, 0, 0, 0))

    case CommitOp.SetRef(name, ref) =>
      (m.copy(refs = m.refs + (name -> ref)),
        CommitMetrics(ref.snapshotId, 0, 0, 0, 0, 0))

    case CommitOp.RemoveRef(name) =>
      if (!m.refs.contains(name))
        throw new ValidationException(s"no branch or tag named $name")
      (m.copy(refs = m.refs - name),
        CommitMetrics(m.currentSnapshotId.getOrElse(0L), 0, 0, 0, 0, 0))

    case CommitOp.Rollback(snapshotId) =>
      if (m.snapshotById(snapshotId).isEmpty)
        throw new ValidationException(s"no snapshot $snapshotId to roll back to")
      // ROLLBACK moves main only along its own lineage (target is an
      // ancestor of head, or — undoing a prior rollback — a descendant).
      // Moving onto a diverged branch-only snapshot would silently
      // publish unaudited branch state and bypass FastForward's ancestry
      // protection; Iceberg splits these as rollback_to_snapshot
      // (checked) vs set_current_snapshot (explicitly unchecked).
      m.currentSnapshotId.foreach { head =>
        def onLineage(from: Long, to: Long): Boolean = m.lineage(from).exists(_.id == to)
        if (!onLineage(head, snapshotId) && !onLineage(snapshotId, head))
          throw new ValidationException(
            s"snapshot $snapshotId is not on main's lineage (head $head); " +
              "ROLLBACK only moves along published history (fast-forward a branch to publish it)")
      }
      (m.copy(currentSnapshotId = Some(snapshotId)),
        CommitMetrics(snapshotId, 0, 0, 0, 0, 0))

    case CommitOp.FastForward(branch) =>
      val ref = m.refs.getOrElse(branch,
        throw new ValidationException(s"no branch named $branch"))
      if (!ref.isBranch)
        throw new ValidationException(s"$branch is a tag; only branches fast-forward")
      val target = m.snapshotById(ref.snapshotId).getOrElse(
        throw new ValidationException(s"branch $branch points at missing snapshot ${ref.snapshotId}"))
      // ancestry walk: main's head must be an ancestor of the branch head
      // (fast-forward never rewrites history)
      m.currentSnapshotId.foreach { head =>
        if (!m.lineage(target.id).exists(_.id == head)) throw new ValidationException(
          s"branch $branch (snapshot ${target.id}) does not descend from " +
            s"main's head $head; fast-forward would lose commits")
      }
      (m.copy(currentSnapshotId = Some(target.id)),
        CommitMetrics(target.id, 0, 0, 0, 0, 0))

    case CommitOp.SetProperties(set, remove) =>
      (m.copy(properties = m.properties ++ set -- remove),
        CommitMetrics(m.currentSnapshotId.getOrElse(0L), 0, 0, 0, 0, 0))

    case CommitOp.RewriteManifests(target) =>
      val head = headOf(m, None)
      val sid = newSnapshotId(m)
      val files = head.map(s => s.manifests.flatMap(readManifest)).getOrElse(Seq.empty)
      val list = files.grouped(math.max(target, 1)).map(newManifest(_, sid)).toSeq
      val snap = Snapshot(sid, head.map(_.id), System.currentTimeMillis(), "replace", list,
        Map("rewritten-manifests" -> head.map(_.manifests.size).getOrElse(0).toString))
      (advance(m, snap, None),
        CommitMetrics(sid, 0, 0, 0, 0, 0))

    case CommitOp.ExpireSnapshots(ids) =>
      val protectedIds = m.refs.values.map(_.snapshotId).toSet ++ m.currentSnapshotId
      val bad = ids.intersect(protectedIds)
      if (bad.nonEmpty)
        throw new ValidationException(s"cannot expire referenced snapshots: $bad")
      (m.copy(snapshots = m.snapshots.filterNot(s => ids.contains(s.id))),
        CommitMetrics(m.currentSnapshotId.getOrElse(0L), 0, 0, 0, 0, 0))
  }

  /** D11 isolation: between the writer's from-snapshot and the head, look
    * for committed file adds/removes that match the conflict filter
    * (serializable checks adds+removes; snapshot isolation removes only). */
  private def validateNoConflicts(
      m: TableMetadata, head: Option[Snapshot], fromSnap: Option[Long],
      filter: Option[graft.scan.Pred], serializable: Boolean): Unit = {
    (fromSnap, head) match {
      case (from, Some(h)) if !from.contains(h.id) =>
        // walk parent chain head..from; from = None means the writer
        // planned against the EMPTY table, so the chain reaches the
        // root and EVERY head file counts as added since planning —
        // without this, two merges racing into a brand-new table both
        // see no base snapshot, skip validation entirely, and
        // double-insert the same keys (caught by ConcurrencyStressSpec)
        val chain = m.lineage(h.id).takeWhile(s => !from.contains(s.id)).toSeq
        val fromEntries = from.flatMap(m.snapshotById).map(manifest).getOrElse(Seq.empty)
        val fromPaths = fromEntries.map(_.path).toSet
        val headManifest = manifest(h)
        val headPaths = headManifest.map(_.path).toSet
        val added = headManifest.filterNot(f => fromPaths.contains(f.path))
        // removed files still have full entries in the FROM snapshot's
        // manifest, so removals are filter-checked like adds: a removed
        // file that provably held no filter-matching rows cannot affect
        // this commit's scope — two merges/updates over disjoint key
        // ranges (or partitions) commit concurrently without retries
        val removed = fromEntries.filterNot(f => headPaths.contains(f.path))
        val schemaNow = DataType.fromJson(m.schemas(m.currentSchemaId.toString))
          .asInstanceOf[StructType]
        val hit = filter match {
          case None => added.nonEmpty || removed.nonEmpty
          case Some(p) =>
            val eval = new graft.scan.StatsEvaluator(schemaNow, m.specsById)
            (serializable && added.exists(f => eval.mayContain(p, f))) ||
              removed.exists(f => eval.mayContain(p, f))
        }
        if (hit && chain.nonEmpty)
          throw new ValidationException(
            s"serializable conflict: snapshots ${chain.map(_.id).mkString(",")} committed since $from touch rows matching the filter")
      case _ => ()
    }
  }

  private def advance(m: TableMetadata, snap: Snapshot, branch: Option[String]): TableMetadata = {
    val withSnap = m.copy(snapshots = m.snapshots :+ snap)
    branch match {
      case None => withSnap.copy(currentSnapshotId = Some(snap.id))
      case Some(b) => withSnap.copy(refs = withSnap.refs + (b -> Ref(snap.id, isBranch = true)))
    }
  }

  // convenience
  def appendFiles(files: Seq[FileEntry], branch: Option[String] = None): CommitMetrics =
    commit(CommitOp.Append(files, branch))
  /** Overwrite commit. `fromSnapshotId` is the snapshot the writer PLANNED
    * against and is deliberately non-defaulted: `None` means "planned
    * against the empty table", so on a non-empty table every head file
    * counts as concurrently added and the commit fails validation (the
    * empty-table race fix in [[validateNoConflicts]]). Pass the real
    * planning snapshot (`table.metadata.currentSnapshotId` captured at
    * plan time); `conflictFilter = None` keeps the conservative
    * any-change-conflicts check, a narrower Pred scopes it. */
  def overwriteFiles(add: Seq[FileEntry], removePaths: Set[String],
      fromSnapshotId: Option[Long], conflictFilter: Option[graft.scan.Pred] = None,
      removeHints: Seq[FileEntry] = Seq.empty): CommitMetrics =
    commit(CommitOp.Overwrite(add, removePaths, None, fromSnapshotId, conflictFilter,
      removeHints = removeHints))
  def evolveSchema(f: StructType => (StructType, Int)): Unit = {
    val (s, last) = f(schema)
    commit(CommitOp.SetSchema(s, last))
  }
  // schema evolution by field-id identity (SURVEY §1.2: add/drop/rename/
  // widen handled at read time, never by rewriting data)
  def addColumn(name: String, dt: DataType): Unit = evolveSchema { s =>
    require(!s.fieldNames.contains(name), s"column $name exists")
    val id = metadata.lastAssignedFieldId + 1
    (StructType(s.fields :+ FieldIds.withId(StructField(name, dt), id)), id)
  }
  def renameColumn(from: String, to: String): Unit = evolveSchema { s =>
    require(s.fieldNames.contains(from), s"no column $from")
    (StructType(s.fields.map(f => if (f.name == from) f.copy(name = to) else f)),
      metadata.lastAssignedFieldId)
  }
  def dropColumn(name: String): Unit = evolveSchema { s =>
    (StructType(s.fields.filterNot(_.name == name)), metadata.lastAssignedFieldId)
  }
  def widenColumn(name: String, dt: DataType): Unit = evolveSchema { s =>
    (StructType(s.fields.map(f => if (f.name == name) f.copy(dataType = dt) else f)),
      metadata.lastAssignedFieldId)
  }
  /** Evolve the partition layout for FUTURE writes; existing files keep
    * their spec and prune through it (Iceberg coexisting-spec behavior). */
  def updatePartitionSpec(spec: Seq[PartitionField]): Unit =
    commit(CommitOp.SetPartitionSpec(spec))

  def setProperties(set: Map[String, String], remove: Set[String] = Set.empty): Unit =
    commit(CommitOp.SetProperties(set, remove))

  def createTag(name: String, snapshotId: Long): Unit =
    commit(CommitOp.SetRef(name, Ref(snapshotId, isBranch = false)))
  def createBranch(name: String, snapshotId: Long): Unit =
    commit(CommitOp.SetRef(name, Ref(snapshotId, isBranch = true)))
  def removeRef(name: String): Unit = commit(CommitOp.RemoveRef(name))
  def fastForward(branch: String): CommitMetrics = commit(CommitOp.FastForward(branch))
  def rollbackTo(snapshotId: Long): CommitMetrics = commit(CommitOp.Rollback(snapshotId))

  def dataDir: Path = Paths.get(location, "data")
}

object LakeTable {
  /** Table-format version written to every v<N>.json. Bumped to 2 when the
    * metadata JSON shape changed incompatibly (Snapshot.manifestFile ->
    * manifests, TableMetadata.partitionSpec -> partitionSpecs); the loader
    * checks it BEFORE binding the full model so a mismatched table fails
    * with a clear message instead of an opaque mapping error. */
  val FormatVersion = 2

  def currentVersion(location: String, store: CommitStore = LocalCommitStore): Int = {
    var max = 0
    store.listNames(Paths.get(location, "metadata")).foreach { n =>
      if (n.startsWith("v") && n.endsWith(".json")) {
        val v = n.stripPrefix("v").stripSuffix(".json")
        try max = math.max(max, v.toInt) catch { case _: NumberFormatException => () }
      }
    }
    max
  }

  private def loadMeta(location: String, store: CommitStore): TableMetadata =
    loadMetaAt(location, currentVersion(location, store), store)

  private[format] def loadMetaAt(location: String, v: Int,
      store: CommitStore = LocalCommitStore): TableMetadata = {
    require(v > 0, s"no table at $location")
    val text = new String(
      store.readBytes(Paths.get(location, "metadata"), s"v$v.json"), UTF_8)
    val tree = Json.mapper.readTree(text)
    val fv = Option(tree.get("formatVersion")).map(_.asInt(0)).getOrElse(0)
    if (fv == 1)
      return Json.mapper.treeToValue(upgradeV1(location, tree, store), classOf[TableMetadata])
    if (fv != FormatVersion)
      throw new ValidationException(
        s"unsupported table format version $fv at $location " +
          s"(this build reads version $FormatVersion; older tables must be recreated or migrated)")
    Json.mapper.treeToValue(tree, classOf[TableMetadata])
  }

  /** Upgrade-on-read for version-1 metadata (pre manifest-list): each
    * snapshot held ONE `manifestFile` path instead of a `manifests` list
    * with entry/record counts. The counts are recovered by reading the
    * legacy manifest once (cached thereafter); the first commit on the
    * table then persists native v2 metadata, so the upgrade cost is
    * transient. Iceberg reads v1 and v2 side by side the same way. */
  private def upgradeV1(location: String,
      tree: com.fasterxml.jackson.databind.JsonNode,
      store: CommitStore): com.fasterxml.jackson.databind.JsonNode = {
    import com.fasterxml.jackson.databind.node.ObjectNode
    val root = tree.asInstanceOf[ObjectNode]
    root.put("formatVersion", FormatVersion)
    root.path("snapshots").forEach { sn =>
      val s = sn.asInstanceOf[ObjectNode]
      Option(s.remove("manifestFile")).map(_.asText()).foreach { mf =>
        val p = Paths.get(location, "metadata", mf)
        val entries = ManifestCache.getOrLoad(p)(parseManifest(mf,
          store.readBytes(Paths.get(location, "metadata"), mf)))
        val ref = s.putArray("manifests").addObject()
        ref.put("path", mf)
        ref.put("entryCount", entries.size.toLong)
        ref.put("recordCount", entries.map(_.recordCount).sum)
      }
    }
    root
  }

  /** Manifest chunks are JSON arrays of [[FileEntry]]; a chunk in any
    * other encoding is refused by name rather than fed to the parser. */
  private[format] def parseManifest(name: String, bytes: Array[Byte]): Seq[FileEntry] = {
    if (!name.endsWith(".json"))
      throw new ValidationException(
        s"unsupported manifest chunk $name: only .json manifest chunks are readable")
    Json.mapper.readValue(new String(bytes, UTF_8), classOf[Array[FileEntry]]).toSeq
  }

  /** Net file-level delta between two snapshots: (added, removed) file
    * entries. Manifest chunks shared by both snapshots carry identical
    * entries and cancel out UNREAD, so metadata cost is O(changed
    * chunks) on both ends — the diff that feeds batch CDC
    * (`readChanges`, SQL `t$changes_<from>`) and the streaming CDC
    * source. */
  def changedFiles(table: LakeTable, from: Option[Snapshot],
      to: Snapshot): (Seq[FileEntry], Seq[FileEntry]) = {
    val fromChunks = from.map(_.manifests.map(_.path).toSet).getOrElse(Set.empty)
    val toChunks = to.manifests.map(_.path).toSet
    val fromOnly = from.map(_.manifests.filterNot(mr => toChunks.contains(mr.path))
      .flatMap(table.readManifest)).getOrElse(Seq.empty)
    val toOnly = to.manifests.filterNot(mr => fromChunks.contains(mr.path))
      .flatMap(table.readManifest)
    val fromOnlyPaths = fromOnly.map(_.path).toSet
    val toOnlyPaths = toOnly.map(_.path).toSet
    (toOnly.filterNot(f => fromOnlyPaths.contains(f.path)),
      fromOnly.filterNot(f => toOnlyPaths.contains(f.path)))
  }

  /** Per-commit deltas along an ascending snapshot chain whose parents
    * are all present: (snapshot, added, removed) for every commit except
    * `replace` ones (compaction, manifest rewrite), which move files
    * without changing logical rows. */
  def changesBySnapshot(table: LakeTable,
      chain: Seq[Snapshot]): Seq[(Snapshot, Seq[FileEntry], Seq[FileEntry])] =
    chain.filterNot(_.operation == "replace").map { s =>
      val (added, removed) =
        changedFiles(table, s.parentId.flatMap(table.metadata.snapshotById), s)
      (s, added, removed)
    }

  def load(location: String, store: CommitStore = LocalCommitStore): LakeTable =
    new LakeTable(location, loadMeta(location, store), store)

  def exists(location: String, store: CommitStore = LocalCommitStore): Boolean =
    currentVersion(location, store) > 0

  def create(
      location: String,
      schema: StructType,
      partitionSpec: Seq[PartitionField] = Seq.empty,
      sortOrder: Seq[SortField] = Seq.empty,
      properties: Map[String, String] = Map.empty,
      store: CommitStore = LocalCommitStore): LakeTable = {
    require(!exists(location, store), s"table already exists at $location")
    schema.fields.foreach(LogicalTypes.validateCarrier) // uuid/time carrier checks
    val (withIds, lastId) = FieldIds.assign(schema)
    val names = schema.fieldNames.toSet
    partitionSpec.foreach(pf => require(names.contains(pf.sourceColumn),
      s"partition source ${pf.sourceColumn} not in schema"))
    store.prepareTable(Paths.get(location))
    val meta = TableMetadata(FormatVersion, location, Map("1" -> withIds.json), 1, lastId,
      Map("0" -> partitionSpec), 0, sortOrder, properties, Seq.empty, None, Map.empty)
    if (!store.putIfAbsent(Paths.get(location, "metadata"), "v1.json", Json.write(meta)))
      throw new ValidationException(s"table already exists at $location (lost create race)")
    new LakeTable(location, meta, store)
  }
}

/** Directory-tree catalog: warehouse/<db>/<table> (SURVEY §2.8). The
  * optional `store` binds the metadata plane — [[LocalCommitStore]]
  * (default), [[ObjectStoreCommitStore]], or [[HadoopCommitStore]] for
  * scheme-prefixed warehouses (hdfs://, gcache://). */
class LakeCatalog(val warehouse: String,
    val store: CommitStore = LocalCommitStore) {
  private def loc(name: String) = Paths.get(warehouse, name.split('.'): _*).toString
  def createTable(name: String, schema: StructType,
      partitionSpec: Seq[PartitionField] = Seq.empty,
      sortOrder: Seq[SortField] = Seq.empty,
      properties: Map[String, String] = Map.empty): LakeTable =
    LakeTable.create(loc(name), schema, partitionSpec, sortOrder, properties, store)
  def loadTable(name: String): LakeTable = LakeTable.load(loc(name), store)
  def tableExists(name: String): Boolean = LakeTable.exists(loc(name), store)
  def dropTable(name: String): Unit = store.dropTableDir(Paths.get(loc(name)))
}
