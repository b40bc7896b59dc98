package graft.format

import java.nio.file.Path

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFileSystem, FileSystem, Path => HPath}

/** [[CommitStore]] over a Hadoop `FileSystem` — the third live binding
  * of the metadata-IO seam (reference analog: the HadoopFileIO side of
  * the pluggable FileIO, next to the S3 client the
  * [[ObjectStoreCommitStore]] models). Lets a table live at ANY
  * Hadoop-resolvable location: `hdfs://`, a mounted DFS, or the
  * round-16 `gcache://` caching wrapper — which closes the loop where
  * the data plane already reads/writes through the Hadoop FS but the
  * metadata plane was java.nio-only.
  *
  * Conditional put = write a temp object, then `FileSystem.rename`
  * into the version name. Hadoop's rename contract FAILS when the
  * destination exists and is atomic on HDFS-class stores — exactly the
  * exclusive-publish primitive the commit protocol needs, with no
  * partial-content window (readers only ever see fully-written
  * objects). Two caveats, stated plainly: `RawLocalFileSystem`'s
  * rename is exclusive but its exists-check is not a kernel-level CAS,
  * so same-process racers are additionally serialized by a JVM lock
  * (cross-process local racing is [[LocalCommitStore]]'s job — its
  * hard-link CAS is the right local primitive); and raw object stores
  * have NO atomic rename — use [[ObjectStoreCommitStore]] there, whose
  * conditional PUT is the store's own primitive.
  *
  * `metadataDir` arrives as the engine's opaque java.nio form of the
  * location string ("gcache:/tmp/wh/t/metadata" — java.nio collapses
  * the scheme's double slash, which Hadoop's Path parser accepts). */
final class HadoopCommitStore(conf: Configuration) extends CommitStore {

  private val renameLock = new Object

  private def hPath(dir: Path, name: String = null): HPath =
    if (name == null) new HPath(dir.toString)
    else new HPath(dir.toString, name)

  private def fsOf(p: HPath): FileSystem = p.getFileSystem(conf)

  /** The commit scheme whose rename semantics actually apply: a
    * `gcache://` path delegates mutations to its wrapped store, so the
    * inner scheme is what matters for atomicity. */
  private def effectiveScheme(p: HPath): String = {
    var s = Option(p.toUri.getScheme).getOrElse("file")
    if (s == "gcache")
      s = Option(conf.get("graft.cache.inner.scheme")).getOrElse(s)
    s
  }

  override def putIfAbsent(metadataDir: Path, name: String, content: String): Boolean = {
    val dst = hPath(metadataDir, name)
    val scheme = effectiveScheme(dst)
    if (HadoopCommitStore.nonAtomicObjectStores(scheme))
      throw new IllegalArgumentException(
        s"HadoopCommitStore cannot provide exclusive commits on '$scheme://' — " +
          "its rename is a non-atomic check-then-copy, so two committers can " +
          "both win and silently lose a version. Use ObjectStoreCommitStore " +
          "for the metadata plane (conditional PUT is the store's own " +
          "primitive); data files may still ride gcache://.")
    val trustedRename = HadoopCommitStore.atomicRenameSchemes(scheme)
    // a checksummed FS (file://'s LocalFileSystem) renames the file and
    // its .crc sidecar as two separate steps, so two cross-process
    // racers can leave one's bytes under the other's checksum: a version
    // that fails its checksum on every read. Commit through the raw FS
    // instead — one rename, no sidecar; checksummed readers accept a
    // file that has no .crc.
    val fs = fsOf(dst) match {
      case c: ChecksumFileSystem => c.getRawFileSystem
      case other => other
    }
    if (fs.exists(dst)) return false // cheap fast path; rename re-checks
    val tmp = hPath(metadataDir,
      s".tmp-${java.util.UUID.randomUUID().toString.take(12)}")
    val bytes = content.getBytes("UTF-8")
    val out = fs.create(tmp, true)
    try out.write(bytes) finally out.close()
    try {
      val won = renameLock.synchronized {
        // rename fails when dst exists (atomic on HDFS-class stores);
        // the lock serializes same-JVM racers on local filesystems
        if (fs.exists(dst)) false
        else fs.rename(tmp, dst)
      }
      // local-class renames REPLACE an existing destination (POSIX
      // File.renameTo), so a cross-process racer can overwrite a
      // rename that already "won". Read-back verify converts the
      // got-replaced direction into a correct loss; the inverse
      // window (we replaced a racer that already returned true) is
      // why cross-process LOCAL racing belongs to LocalCommitStore's
      // hard-link CAS, as the class doc states. The verify runs
      // OUTSIDE renameLock: the rename outcome is already decided, and
      // its bounded retry backoff must not stall other same-JVM
      // committers (possibly on unrelated tables) behind the lock.
      won && (trustedRename || readBackMatches(fs, dst, bytes))
    } finally {
      if (fs.exists(tmp)) { fs.delete(tmp, false); () }
    }
  }

  /** Verify the rename's destination holds OUR bytes. A transient read
    * failure must NOT be reported as a lost commit — that would make a
    * genuinely-won rename rebase on its own content and re-apply the
    * same operation at the next version (duplicate commit). Retry a
    * bounded number of times; if the file stays unreadable, rethrow so
    * the committer surfaces an error instead of inventing an outcome. */
  private def readBackMatches(fs: FileSystem, p: HPath, expected: Array[Byte]): Boolean = {
    val attempts = 3
    var i = 0
    while (true) {
      try {
        val len = fs.getFileStatus(p).getLen
        if (len != expected.length) return false
        val in = fs.open(p)
        try {
          val buf = new Array[Byte](expected.length)
          in.readFully(0, buf)
          return java.util.Arrays.equals(buf, expected)
        } finally in.close()
      } catch {
        case e: java.io.IOException =>
          i += 1
          if (i >= attempts) throw new java.io.IOException(
            s"commit read-back verify failed ${attempts}x at $p; " +
              "refusing to guess whether the rename won", e)
          Thread.sleep(10L << i)
      }
    }
    false // unreachable
  }

  override def writeBytes(metadataDir: Path, name: String, bytes: Array[Byte]): Unit = {
    val p = hPath(metadataDir, name)
    val out = fsOf(p).create(p, true)
    try out.write(bytes) finally out.close()
  }

  override def readBytes(metadataDir: Path, name: String): Array[Byte] = {
    val p = hPath(metadataDir, name)
    val fs = fsOf(p)
    val len = fs.getFileStatus(p).getLen.toInt
    val in = fs.open(p)
    try {
      val buf = new Array[Byte](len)
      in.readFully(0, buf)
      buf
    } finally in.close()
  }

  override def listNames(metadataDir: Path): Seq[String] = {
    val p = hPath(metadataDir)
    val fs = fsOf(p)
    try {
      if (!fs.exists(p)) Seq.empty
      else fs.listStatus(p).toSeq.map(_.getPath.getName)
    } catch { case _: java.io.FileNotFoundException => Seq.empty }
  }

  override def deleteIfExists(metadataDir: Path, name: String): Boolean = {
    val p = hPath(metadataDir, name)
    fsOf(p).delete(p, false)
  }

  override def lastModifiedMs(metadataDir: Path, name: String): Long = {
    val p = hPath(metadataDir, name)
    fsOf(p).getFileStatus(p).getModificationTime
  }

  override def prepareTable(tableDir: Path): Unit = {
    val base = hPath(tableDir)
    val fs = fsOf(base)
    fs.mkdirs(new HPath(base, "metadata"))
    fs.mkdirs(new HPath(base, "data"))
    ()
  }

  override def dropTableDir(tableDir: Path): Unit = {
    val p = hPath(tableDir)
    val fs = fsOf(p)
    if (fs.exists(p)) { fs.delete(p, true); () }
  }
}

object HadoopCommitStore {
  /** Filesystems whose `rename` is an atomic fails-if-destination-
    * exists primitive — the exclusive-publish guarantee the commit
    * protocol rides on. Everything else gets read-back verification. */
  private[format] val atomicRenameSchemes: Set[String] =
    Set("hdfs", "webhdfs", "swebhdfs", "viewfs", "ofs", "o3fs", "abfs", "abfss")

  /** Object stores where rename is an emulated check-then-copy with no
    * exclusivity at all — rejected outright for commits. */
  private[format] val nonAtomicObjectStores: Set[String] =
    Set("s3a", "s3n", "s3", "gs", "wasb", "wasbs", "swift", "oss", "cos", "cosn")
}
