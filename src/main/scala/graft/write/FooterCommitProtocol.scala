package graft.write

import graft.format.FileEntry
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.hadoop.mapreduce.{JobContext, TaskAttemptContext}
import org.apache.spark.internal.io.{FileCommitProtocol, FileNameSpec}
import org.apache.spark.internal.io.FileCommitProtocol.TaskCommitMessage
import scala.collection.mutable.ArrayBuffer

/** Commit protocol of [[LakeWriter]]'s direct write — the shape of
  * Spark's own `FileStreamSink`/`ManifestFileCommitProtocol`, and of the
  * reference writer that reads each file's footer into metrics and
  * commits by metadata alone (BaseDataFileWriter.java:353-484).
  *
  * Every task writes straight to unique final paths under `dataDir`
  * (partition directories `__p_<name>=<value>` as Spark names them).
  * When a task commits it reads the footers of the files it just closed
  * and returns their [[FileEntry]] rows as its commit message; zero-row
  * files (an empty bucket or an empty first partition still opens one)
  * are deleted there and never reported — their empty stats would
  * match every conflict filter. `commitJob` only gathers the messages.
  * Nothing is staged, renamed, listed or read back on the driver.
  *
  * File names carry the task id, the task attempt id and a per-write id,
  * so no two attempts of any write share a path. An aborted task
  * deletes its own files, best-effort; whatever a failed write or a
  * losing attempt leaves is unreferenced by any snapshot, which
  * `Maintenance.removeOrphanFiles` reclaims (it walks all of `data/`). */
private[write] final class FooterCommitProtocol(
    dataDir: String, writeId: String, layout: LakeWriter.EntryLayout)
  extends FileCommitProtocol with Serializable {

  /** Task side: (path, partition dir) of every file this attempt opened. */
  @transient private var opened: ArrayBuffer[(String, Option[String])] = _

  /** Driver side: the gathered entries. */
  @transient @volatile private var committed: Seq[FileEntry] = Seq.empty

  /** The committed files' entries, once the write job has committed. */
  def entries: Seq[FileEntry] = committed

  override def setupJob(job: JobContext): Unit = ()

  override def commitJob(job: JobContext, msgs: Seq[TaskCommitMessage]): Unit =
    committed = msgs.flatMap(_.obj.asInstanceOf[Seq[FileEntry]])

  override def abortJob(job: JobContext): Unit = ()

  override def setupTask(ctx: TaskAttemptContext): Unit = opened = ArrayBuffer.empty

  override def newTaskTempFile(ctx: TaskAttemptContext, dir: Option[String],
      spec: FileNameSpec): String = {
    val id = ctx.getTaskAttemptID
    val name = f"${spec.prefix}part-${id.getTaskID.getId}%05d-$writeId-${id.getId}${spec.suffix}"
    val path = dir.fold(s"$dataDir/$name")(d => s"$dataDir/$d/$name")
    opened += ((path, dir))
    path
  }

  override def commitTask(ctx: TaskAttemptContext): TaskCommitMessage = {
    val conf = ctx.getConfiguration
    val (kept, empty) = opened.toSeq
      .map { case (path, dir) => (path, LakeWriter.footerEntry(conf, path, dir, layout)) }
      .partition(_._2.recordCount > 0)
    empty.foreach { case (path, _) => deleteQuietly(conf, path) }
    new TaskCommitMessage(kept.map(_._2))
  }

  override def abortTask(ctx: TaskAttemptContext): Unit =
    if (opened != null) opened.foreach { case (path, _) => deleteQuietly(ctx.getConfiguration, path) }

  private def deleteQuietly(conf: Configuration, path: String): Unit =
    try {
      val p = new HPath(path)
      p.getFileSystem(conf).delete(p, false)
    } catch { case scala.util.control.NonFatal(_) => () }
}
