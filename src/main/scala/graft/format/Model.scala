package graft.format

import com.fasterxml.jackson.databind.annotation.JsonDeserialize

/** Table-format metadata model — the snapshot-log equivalent of the
  * reference's Iceberg usage (SURVEY §7.1.1; mirrors
  * reference writer/Transaction.java commit semantics and the manifest
  * stats consumed by sql/IcebergScanExecutor.java:453-505).
  *
  * Scale note: snapshots index + refs live in `v<N>.json`; data-file
  * entries live in immutable `manifest-*.json` chunks referenced by each
  * snapshot's manifest list. Commits write manifests only for files they
  * add or rewrite and reuse the parent's other chunks, so commit cost is
  * O(changed), reads are O(current table), and history is free.
  * ManifestRef partition-value summaries let partition-filtered scans
  * skip whole chunks unread, so such scans touch O(matching) metadata.
  */
final case class PartitionField(
    name: String,         // partition column name in the layout, e.g. "o_orderdate_year"
    sourceColumn: String, // data column it derives from
    transform: String)    // "identity" | "bucket[N]" | "truncate[W]" | "year" | "month" | "day" | "hour"

final case class SortField(column: String, ascending: Boolean = true, nullsFirst: Boolean = true)

/** Per-column stats harvested from parquet footers at write time
  * (mirrors reference BaseDataFileWriter.java:353-484). min/max are
  * canonical strings (see StatsCodec); keyed by field id in FileEntry.
  * nanCount (Iceberg nanValueCounts) is present for float/double columns
  * written since it was introduced; None = unknown (prune conservatively). */
final case class ColumnStats(
    min: Option[String], max: Option[String], nullCount: Long,
    @JsonDeserialize(contentAs = classOf[java.lang.Long])
    nanCount: Option[Long] = None)

final case class FileEntry(
    path: String,
    partition: Map[String, String], // partition field name -> canonical value ("__NULL__" for null)
    recordCount: Long,
    sizeBytes: Long,
    schemaId: Int,                  // schema the file was written with
    stats: Map[String, ColumnStats], // field-id (as string) -> stats
    specId: Int = 0                 // partition spec the file was written under
)

/** One manifest file in a snapshot's manifest list. Counts ride along so
  * merge policy and record-count probes don't need to open the file;
  * `partitionValues` (partition field name -> distinct canonical values,
  * recorded only when all entries share a spec and a field stays under a
  * small cardinality cap) lets a partition-filtered scan skip the whole
  * chunk without reading it. */
final case class ManifestRef(
    path: String, entryCount: Long, recordCount: Long,
    @JsonDeserialize(contentAs = classOf[java.lang.Integer])
    specId: Option[Int] = None,
    partitionValues: Map[String, Seq[String]] = Map.empty)

final case class Snapshot(
    id: Long,
    @JsonDeserialize(contentAs = classOf[java.lang.Long])
    parentId: Option[Long],
    timestampMs: Long,
    operation: String, // "append" | "overwrite" | "delete" | "replace"
    // Iceberg-style manifest list: a commit writes manifests only for what
    // it adds/rewrites and REUSES the rest from its parent, so commit cost
    // is O(changed files), not O(table files)
    manifests: Seq[ManifestRef],
    summary: Map[String, String])

final case class Ref(snapshotId: Long, isBranch: Boolean)

final case class TableMetadata(
    formatVersion: Int,
    location: String,
    // schema id -> Spark StructType JSON (fields carry "field-id" metadata)
    schemas: Map[String, String],
    currentSchemaId: Int,
    lastAssignedFieldId: Int,
    // spec id -> partition fields; files keep the layout of the spec they
    // were written under (Iceberg-style coexisting specs,
    // reference via IcebergScanExecutor.java:453-505)
    partitionSpecs: Map[String, Seq[PartitionField]],
    currentSpecId: Int,
    sortOrder: Seq[SortField],
    properties: Map[String, String],
    snapshots: Seq[Snapshot],
    @JsonDeserialize(contentAs = classOf[java.lang.Long])
    currentSnapshotId: Option[Long],
    refs: Map[String, Ref]) {

  /** The CURRENT spec — what new writes partition by. */
  @com.fasterxml.jackson.annotation.JsonIgnore
  def partitionSpec: Seq[PartitionField] =
    partitionSpecs.getOrElse(currentSpecId.toString, Seq.empty)

  @com.fasterxml.jackson.annotation.JsonIgnore
  def specsById: Map[Int, Seq[PartitionField]] =
    partitionSpecs.map { case (k, v) => k.toInt -> v }

  // lazy index: ancestry walks (CDC stepping, admission control,
  // rollback/fast-forward lineage checks) do O(chain) lookups per call;
  // a linear find would make them O(history^2) on long-history tables
  @transient private lazy val snapshotIndex: Map[Long, Snapshot] =
    snapshots.iterator.map(s => s.id -> s).toMap
  def snapshotById(id: Long): Option[Snapshot] = snapshotIndex.get(id)

  /** Snapshot `id`, then its parents newest first, stopping at the root
    * or at the first parent that has expired (empty for an unknown id).
    * Every ancestry question (rollback and fast-forward checks, conflict
    * validation, incremental and CDC ranges) walks this one chain. */
  def lineage(id: Long): Iterator[Snapshot] =
    Iterator.iterate(snapshotById(id))(_.flatMap(_.parentId).flatMap(snapshotById))
      .takeWhile(_.isDefined).flatten

  /** The snapshots in (`from`, `to`] oldest first; with no `from`, the
    * whole lineage of `to`. Left holds the snapshots walked when the
    * lineage ended without reaching `from`: the oldest one's parentId is
    * Some when that parent expired, None when the walk hit the root. */
  def snapshotsBetween(from: Option[Long], to: Long): Either[List[Snapshot], List[Snapshot]] = {
    val (range, rest) = lineage(to).span(s => !from.contains(s.id))
    val chain = range.toList.reverse
    if (from.isEmpty || rest.hasNext) Right(chain) else Left(chain)
  }

  def currentSnapshot: Option[Snapshot] = currentSnapshotId.flatMap(snapshotById)

  /** Time-travel resolution (mirrors reference SqlQueryProcessor.java:371-402). */
  def resolve(ref: TableRef): Option[Snapshot] = ref match {
    case TableRef.Head               => currentSnapshot
    case TableRef.SnapshotId(id)     => snapshotById(id)
    case TableRef.AsOfTimestamp(ts)  =>
      snapshots.filter(_.timestampMs <= ts).sortBy(_.timestampMs).lastOption
    case TableRef.Branch(n)          => refs.get(n).filter(_.isBranch).flatMap(r => snapshotById(r.snapshotId))
    case TableRef.Tag(n)             => refs.get(n).filter(!_.isBranch).flatMap(r => snapshotById(r.snapshotId))
  }
}

sealed trait TableRef
object TableRef {
  case object Head extends TableRef
  final case class SnapshotId(id: Long) extends TableRef
  final case class AsOfTimestamp(tsMs: Long) extends TableRef
  final case class Branch(name: String) extends TableRef
  final case class Tag(name: String) extends TableRef

  /** Time-travel read options: `snapshot-id` | `timestamp` | `branch` |
    * `tag` (the first one set wins), else [[Head]]. */
  def fromOptions(get: String => String): TableRef =
    Seq("snapshot-id" -> "snapshot", "timestamp" -> "timestamp", "branch" -> "branch", "tag" -> "tag")
      .collectFirst { case (opt, kind) if get(opt) != null => parse(kind, get(opt), s"option '$opt'") }
      .getOrElse(Head)

  /** `name$snapshot_<id>` / `name$timestamp_<ts>` / `name$branch_<b>` /
    * `name$tag_<t>` -> (name, ref); a bare name reads the head. */
  def fromSuffix(spec: String): (String, TableRef) = spec.indexOf('$') match {
    case -1 => (spec, Head)
    case idx =>
      val suffix = spec.substring(idx + 1)
      val kind = Seq("snapshot", "timestamp", "branch", "tag").find(k => suffix.startsWith(k + "_"))
        .getOrElse(throw new IllegalArgumentException(s"unknown time-travel suffix: $suffix"))
      (spec.substring(0, idx), parse(kind, suffix.stripPrefix(kind + "_"), s"suffix '$$${kind}_'"))
  }

  /** A timestamp is epoch millis or, as in the reference's suffix grammar
    * (SqlQueryProcessor.java:386-388), an ISO local date or datetime read
    * as UTC. `source` names the option or suffix in the error. */
  private def parse(kind: String, v: String, source: String): TableRef = {
    def bad(what: String) = new ValidationException(s"$source must be $what, got '$v'")
    kind match {
      case "snapshot" => SnapshotId(v.toLongOption.getOrElse(throw bad("a snapshot id")))
      case "timestamp" => AsOfTimestamp(
        try {
          if (v.nonEmpty && v.forall(_.isDigit)) v.toLong
          else (if (v.contains('T')) java.time.LocalDateTime.parse(v)
            else java.time.LocalDate.parse(v).atStartOfDay())
            .toInstant(java.time.ZoneOffset.UTC).toEpochMilli
        } catch {
          case _: NumberFormatException | _: java.time.format.DateTimeParseException =>
            throw bad("epoch millis or an ISO local date or datetime")
        })
      case "branch" => Branch(v)
      case "tag" => Tag(v)
    }
  }
}

final case class CommitMetrics(
    snapshotId: Long,
    addedFiles: Int,
    removedFiles: Int,
    addedRecords: Long,
    removedRecords: Long,
    elapsedMs: Long)
