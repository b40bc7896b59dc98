package graft.format

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentHashMap

/** Object-store metadata plane (reference analog: the pluggable FileIO +
  * S3 client, aws/SwiftLakeS3FileIO.java:41-163).
  *
  * [[ObjectStoreClient]] is the minimal S3-shaped API the table needs:
  * unconditional PUT/GET/LIST/DELETE for immutable uniquely-named
  * objects (manifest chunks), and PUT-if-none-match for the single
  * object whose exclusivity carries the commit protocol (`vN.json`).
  * A production deployment implements it with the AWS SDK —
  * `PutObjectRequest.ifNoneMatch("*")`, where the 412 PreconditionFailed
  * response maps to `false` — or the GCS/Azure equivalents; data files
  * never pass through here (Spark reads and writes parquet at s3a://
  * locations via the Hadoop FileSystem already).
  *
  * [[ObjectStoreCommitStore]] adapts a client to the [[CommitStore]]
  * seam, keying objects as `<metadata-dir>/<name>`. Version discovery
  * lists the prefix (S3 LIST is strongly consistent since 2020, so a
  * committed version is immediately visible).
  *
  * [[InMemoryObjectStore]] implements the client with exact conditional-
  * PUT atomicity (ConcurrentHashMap.putIfAbsent) so the whole table
  * lifecycle — create, insert, scan, CoW DML, time travel, concurrent
  * racing commits — runs against object-store semantics in tests
  * without any cloud dependency.
  */
trait ObjectStoreClient {
  /** @return false iff the key already exists (HTTP 412 path). */
  def putIfNoneMatch(key: String, bytes: Array[Byte]): Boolean
  def put(key: String, bytes: Array[Byte]): Unit
  def get(key: String): Array[Byte]
  /** Immediate child names under `prefix` (no recursion). */
  def list(prefix: String): Seq[String]
  def delete(key: String): Boolean
  /** Object LastModified in epoch millis (0 when unknown/missing). */
  def lastModified(key: String): Long
}

final class InMemoryObjectStore extends ObjectStoreClient {
  private val objects = new ConcurrentHashMap[String, Array[Byte]]()
  private val mtimes = new ConcurrentHashMap[String, java.lang.Long]()

  override def putIfNoneMatch(key: String, bytes: Array[Byte]): Boolean = {
    val won = objects.putIfAbsent(key, bytes) == null
    if (won) mtimes.put(key, System.currentTimeMillis())
    won
  }
  override def put(key: String, bytes: Array[Byte]): Unit = {
    objects.put(key, bytes)
    mtimes.put(key, System.currentTimeMillis())
    ()
  }
  override def get(key: String): Array[Byte] =
    Option(objects.get(key)).getOrElse(
      throw new java.io.FileNotFoundException(s"no such object: $key"))
  override def lastModified(key: String): Long =
    Option(mtimes.get(key)).map(_.longValue).getOrElse(0L)
  override def list(prefix: String): Seq[String] = {
    val p = if (prefix.endsWith("/")) prefix else prefix + "/"
    import scala.jdk.CollectionConverters._
    objects.keySet().asScala.iterator
      .filter(k => k.startsWith(p) && !k.substring(p.length).contains('/'))
      .map(_.substring(p.length)).toVector
  }
  override def delete(key: String): Boolean = objects.remove(key) != null
  def size: Int = objects.size()
}

/** Durable [[ObjectStoreClient]] over a filesystem directory — the
  * second live binding of the seam (the shape a MinIO/on-prem-NFS-free
  * deployment takes, and the proof the client trait isn't shaped around
  * one implementation). Conditional PUT maps to POSIX
  * `open(O_CREAT|O_EXCL)` (`StandardOpenOption.CREATE_NEW`), which the
  * kernel guarantees atomic on a local filesystem — the same primitive
  * a Hadoop `create(path, overwrite=false)` commit uses. Objects live
  * at `root/<key>`; keys are opaque slash-separated names exactly as
  * the in-memory client treats them. */
final class FsObjectStore(root: Path) extends ObjectStoreClient {
  private def p(key: String): Path = root.resolve(key.stripPrefix("/"))

  override def putIfNoneMatch(key: String, bytes: Array[Byte]): Boolean = {
    val f = p(key)
    Files.createDirectories(f.getParent)
    // Atomicity requires the object to become visible FULLY WRITTEN —
    // S3's conditional PUT publishes all-or-nothing. A naive
    // CREATE_NEW-then-write wins the race on an EMPTY file: a losing
    // committer re-reading it to rebase would parse 0/partial bytes,
    // and a crash between create and write would leave a permanent
    // empty object blocking every later commit. So: write a private
    // temp file, then hard-LINK it to the final name — link(2) fails
    // with EEXIST atomically and the target is complete the instant it
    // exists (the LocalCommitStore CAS primitive).
    val tmp = Files.createTempFile(f.getParent, ".put-", ".tmp")
    try {
      Files.write(tmp, bytes)
      try { Files.createLink(f, tmp); true }
      catch { case _: java.nio.file.FileAlreadyExistsException => false }
    } finally Files.deleteIfExists(tmp)
  }
  override def put(key: String, bytes: Array[Byte]): Unit = {
    val f = p(key)
    Files.createDirectories(f.getParent)
    Files.write(f, bytes)
    ()
  }
  override def get(key: String): Array[Byte] =
    try Files.readAllBytes(p(key))
    catch { case _: java.nio.file.NoSuchFileException =>
      // contract parity with the S3 client shape: missing object is a
      // FileNotFoundException, whatever the backend raised
      throw new java.io.FileNotFoundException(s"no such object: $key")
    }
  override def list(prefix: String): Seq[String] = {
    val dir = p(prefix)
    if (!Files.isDirectory(dir)) Vector.empty
    else {
      val s = Files.list(dir)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.filter(Files.isRegularFile(_))
          .map(_.getFileName.toString)
          .filterNot(_.startsWith(".put-")) // in-flight PUT temp files
          .toVector
      } finally s.close()
    }
  }
  override def delete(key: String): Boolean = Files.deleteIfExists(p(key))
  override def lastModified(key: String): Long =
    try Files.getLastModifiedTime(p(key)).toMillis
    catch { case _: java.io.IOException => 0L }
}

/** CommitStore over an object store: conditional PUT carries commit
  * atomicity; everything else is plain immutable-object IO. The local
  * `data/` dir is still prepared because data files are written by
  * Spark to the table location (object-store locations go through
  * Hadoop's FileSystem there, not through this class). */
final class ObjectStoreCommitStore(client: ObjectStoreClient) extends CommitStore {
  private def key(dir: Path, name: String): String =
    dir.toString.stripSuffix("/") + "/" + name

  override def putIfAbsent(metadataDir: Path, name: String, content: String): Boolean =
    client.putIfNoneMatch(key(metadataDir, name), content.getBytes("UTF-8"))
  override def writeBytes(metadataDir: Path, name: String, bytes: Array[Byte]): Unit =
    client.put(key(metadataDir, name), bytes)
  override def readBytes(metadataDir: Path, name: String): Array[Byte] =
    client.get(key(metadataDir, name))
  override def listNames(metadataDir: Path): Seq[String] =
    client.list(metadataDir.toString)
  override def deleteIfExists(metadataDir: Path, name: String): Boolean =
    client.delete(key(metadataDir, name))
  override def lastModifiedMs(metadataDir: Path, name: String): Long =
    client.lastModified(key(metadataDir, name))
  override def prepareTable(tableDir: Path): Unit = {
    Files.createDirectories(tableDir.resolve("data"))
    ()
  }
}
