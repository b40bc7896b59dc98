package graft.io

import java.net.URI
import java.nio.file.{Files, Path => JPath, Paths, StandardCopyOption}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicLong, AtomicReference}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, FileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** Data-file locality cache (reference analog: the local-disk tier of
  * the two-tier cache — io/FileSystemCache.java:49-360 composed through
  * io/DefaultCacheFileIO.java:39-230).
  *
  * The reference engine runs on one node and downloads every data file
  * through a Caffeine-weighted local-disk cache before DuckDB reads it.
  * On Spark the equivalent seam is the Hadoop `FileSystem` layer: the
  * parquet reader opens files executor-side, so a caching `FileSystem`
  * gives every executor its OWN local-disk cache with zero changes to
  * the scan/write code — the scale-correct shape for 1000 executors,
  * where a driver-side cache would serve nothing. Tables created at
  * `gcache://...` locations keep that scheme in their manifests, and
  * scans report each row's file as its manifest path verbatim (`_file`),
  * so file identity never depends on how a reader renders the URI.
  *
  * Usage: set `fs.gcache.impl=graft.io.CachingFileSystem` and
  * `graft.cache.inner.scheme=<s3a|slowfs|...>` in the Hadoop conf; a
  * path `gcache://bucket/k` then delegates all IO to
  * `<inner>://bucket/k`, caching whole files on first open.
  *
  * Behavior matched to the reference cache:
  *  - size-bounded, byte-weighted LRU (`graft.cache.max.bytes`,
  *    default 512 MiB like the reference's io.cache defaults);
  *  - expire-after-access TTL (`graft.cache.expire.ms`, 0 = off);
  *  - single-flight fetches (one download per key under concurrency);
  *  - oversized files (`graft.cache.max.file.bytes`, default 256 MiB)
  *    stream straight through without polluting the cache;
  *  - hit/miss/eviction/byte counters ([[FileCacheStats]], the
  *    FileSystemCacheMetrics analog — JVM-local because the cache runs
  *    executor-side where driver collectors are unreachable).
  *
  * Correctness stance: lake data files are IMMUTABLE and uniquely
  * named (the writer never rewrites a path in place), so a cached copy
  * never goes stale; `graft.cache.assume.immutable=false` additionally
  * revalidates (mtime, length) against the inner store on every hit
  * for non-lake usage. Same-JVM mutations (create/delete/rename)
  * always invalidate. Readers holding an open stream survive eviction
  * via REFERENCE-COUNTED PINS: an entry with open streams is dropped
  * from the index but its file is unlinked only on the last close —
  * relying on POSIX inode liveness is NOT enough, because Hadoop's
  * vectored read path (RawLocalFileSystem.readVectored) lazily
  * re-opens the file BY PATH mid-stream. Cache directories are
  * per-JVM-lifetime — leftovers
  * from a previous process are cleared on first use, mirroring the
  * reference's UUID-named entries that are never reused across
  * restarts.
  */
final class CachingFileSystem extends FileSystem {

  private var myUri: URI = _
  private var inner: FileSystem = _
  private var innerScheme: String = _
  private var state: FileCacheState = _
  private var workDir: Path = _
  private var assumeImmutable: Boolean = true
  private var maxFileBytes: Long = _

  override def getScheme: String = "gcache"

  override def initialize(uri: URI, conf: Configuration): Unit = {
    super.initialize(uri, conf)
    setConf(conf)
    innerScheme = conf.get("graft.cache.inner.scheme")
    require(innerScheme != null && innerScheme.nonEmpty,
      "graft.cache.inner.scheme must name the wrapped filesystem scheme")
    val auth = Option(uri.getAuthority).getOrElse("")
    myUri = URI.create(if (auth.isEmpty) "gcache:///" else s"gcache://$auth")
    inner = FileSystem.get(URI.create(s"$innerScheme://$auth/"), conf)
    val dir = conf.get("graft.cache.dir",
      Paths.get(System.getProperty("java.io.tmpdir"), "graft-data-cache").toString)
    val maxBytes = conf.getLong("graft.cache.max.bytes", 512L * 1024 * 1024)
    val expireMs = conf.getLong("graft.cache.expire.ms", 0L)
    maxFileBytes = conf.getLong("graft.cache.max.file.bytes", 256L * 1024 * 1024)
    assumeImmutable = conf.getBoolean("graft.cache.assume.immutable", true)
    state = FileCacheState.forDir(dir, maxBytes, expireMs)
    workDir = new Path(s"gcache://$auth/")
  }

  override def getUri: URI = myUri

  // ---- path translation -------------------------------------------------

  private def toInner(p: Path): Path = {
    val u = p.toUri
    val auth = Option(u.getAuthority).getOrElse(Option(myUri.getAuthority).getOrElse(""))
    new Path(URI.create(s"$innerScheme://$auth${u.getPath}"))
  }

  private def toOuter(p: Path): Path = {
    val u = p.toUri
    val auth = Option(u.getAuthority).getOrElse("")
    new Path(URI.create(s"gcache://$auth${u.getPath}"))
  }

  private def rewrap(st: FileStatus): FileStatus = {
    // permission/owner may be lazy on the inner status (RawLocal's
    // deprecated status shells out on first access and rejects foreign
    // schemes); degrade to defaults — the cache serves reads, not ACLs
    val (perm, owner, group) =
      try (st.getPermission, st.getOwner, st.getGroup)
      catch {
        case scala.util.control.NonFatal(_) =>
          (if (st.isDirectory) FsPermission.getDirDefault
           else FsPermission.getFileDefault, "", "")
      }
    new FileStatus(st.getLen, st.isDirectory, st.getReplication, st.getBlockSize,
      st.getModificationTime, st.getAccessTime, perm, owner, group,
      toOuter(st.getPath))
  }

  // ---- read path ---------------------------------------------------------

  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    val ip = toInner(f)
    val st = inner.getFileStatus(ip)
    if (st.isDirectory)
      throw new java.io.FileNotFoundException(s"$f is a directory")
    if (st.getLen > maxFileBytes) { // stream-through: too big to pin locally
      state.stats.bypass.incrementAndGet()
      return inner.open(ip, bufferSize)
    }
    // the entry stays PINNED until the returned stream closes: eviction
    // or invalidation meanwhile drops it from the index but defers the
    // unlink to the last close, so mid-stream path re-opens (Hadoop
    // vectored reads) keep working
    state.ensurePinned(ip.toString, st.getLen, st.getModificationTime,
      assumeImmutable, () => inner.open(ip)) { (file, release) =>
      val in = try localFs.open(new Path(file.toUri))
      catch { case e: Throwable => release(); throw e }
      new FSDataInputStream(in) {
        override def close(): Unit = try super.close() finally release()
      }
    }
  }

  private lazy val localFs: FileSystem =
    FileSystem.getLocal(getConf).getRaw

  // ---- write / mutation path (delegate + invalidate) ---------------------

  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    state.invalidate(toInner(f).toString)
    inner.create(toInner(f), permission, overwrite, bufferSize, replication,
      blockSize, progress)
  }

  override def append(f: Path, bufferSize: Int, progress: Progressable): FSDataOutputStream = {
    state.invalidate(toInner(f).toString)
    inner.append(toInner(f), bufferSize, progress)
  }

  override def rename(src: Path, dst: Path): Boolean = {
    state.invalidate(toInner(src).toString)
    state.invalidate(toInner(dst).toString)
    inner.rename(toInner(src), toInner(dst))
  }

  override def delete(f: Path, recursive: Boolean): Boolean = {
    state.invalidate(toInner(f).toString)
    inner.delete(toInner(f), recursive)
  }

  // ---- metadata (delegate with scheme rewrap) -----------------------------

  override def listStatus(f: Path): Array[FileStatus] =
    inner.listStatus(toInner(f)).map(rewrap)

  override def getFileStatus(f: Path): FileStatus =
    rewrap(inner.getFileStatus(toInner(f)))

  override def mkdirs(f: Path, permission: FsPermission): Boolean =
    inner.mkdirs(toInner(f), permission)

  override def setWorkingDirectory(dir: Path): Unit = workDir = dir
  override def getWorkingDirectory: Path = workDir
}

/** Counters for one cache directory (FileSystemCacheMetrics analog). */
final class FileCacheStats {
  val hits = new AtomicLong()
  val misses = new AtomicLong()
  val evictions = new AtomicLong()
  val bytesFetched = new AtomicLong()
  val bypass = new AtomicLong() // oversized stream-throughs
  override def toString: String =
    s"hits=${hits.get} misses=${misses.get} evictions=${evictions.get} " +
      s"bytesFetched=${bytesFetched.get} bypass=${bypass.get}"
}

/** JVM-shared cache state for one directory: byte-weighted LRU with
  * optional expire-after-access, single-flight downloads, atomic
  * publication (fetch to a temp name, ATOMIC_MOVE into place). */
final class FileCacheState private (dir: JPath, maxBytes: Long, expireMs: Long) {

  val stats = new FileCacheStats

  private final case class Entry(file: JPath, len: Long, mtime: Long) {
    @volatile var lastAccess: Long = System.currentTimeMillis()
  }

  // access-ordered LRU; all structural access synchronized on `lru`
  private val lru = new java.util.LinkedHashMap[String, Entry](64, 0.75f, true)
  private val totalBytes = new AtomicLong()

  // FILE-IDENTITY reference counts, guarded by lru's monitor (round 18,
  // from the adversarial sweep): entry names are deterministic
  // (key-len-mtime), so two GENERATIONS of one key share a path — a
  // later generation evicted with zero pins of its OWN must not delete
  // the path an earlier generation's live stream still reads. A path is
  // deletable only when no index entry owns it AND no pin (of any
  // generation) references it.
  private val pathPins = new java.util.HashMap[JPath, Integer]()
  private val pathOwners = new java.util.HashMap[JPath, Integer]()

  /** Adjust a path refcount map; the path leaves the map at zero. */
  private def bump(m: java.util.HashMap[JPath, Integer], f: JPath, d: Int): Unit = {
    val n = m.merge(f, d, (a: Integer, b: Integer) => Integer.valueOf(a + b))
    if (n <= 0) { m.remove(f); () }
  }

  /** Unlink `f` iff nothing references it (callers hold lru's monitor). */
  private def deleteIfUnreferenced(f: JPath): Unit =
    if (!pathPins.containsKey(f) && !pathOwners.containsKey(f))
      try { Files.deleteIfExists(f); () } catch { case _: java.io.IOException => () }
  // single-flight: one future per in-progress key; losers await the
  // winner instead of racing a removable lock object (which let a
  // late-arriving thread mint a fresh lock while a waiter still held
  // the old one, double-downloading and double-counting)
  private val inFlight =
    new ConcurrentHashMap[String, java.util.concurrent.CompletableFuture[Unit]]()

  /** Serve `key` from local disk, downloading at most once per miss
    * even under concurrent callers, holding the pin only for the span
    * of `use`. `mtime` participates in validity unless
    * `assumeImmutable`. */
  def ensureLocal[A](key: String, len: Long, mtime: Long, assumeImmutable: Boolean,
      fetch: () => java.io.InputStream)(use: JPath => A): A =
    ensurePinned(key, len, mtime, assumeImmutable, fetch) { (file, release) =>
      try use(file) finally release()
    }

  /** Like [[ensureLocal]] but the caller controls the pin's lifetime:
    * `use` receives the local file AND a `release` thunk (idempotent)
    * that MUST eventually be invoked — typically from a stream's
    * close(). While pinned, eviction/invalidation drop the entry from
    * the index but defer the unlink, so the path stays readable (Hadoop
    * vectored reads re-open by path mid-stream). */
  def ensurePinned[A](key: String, len: Long, mtime: Long, assumeImmutable: Boolean,
      fetch: () => java.io.InputStream)(use: (JPath, () => Unit) => A): A = {
    def releaseOf(e: Entry): () => Unit = {
      val released = new java.util.concurrent.atomic.AtomicBoolean(false)
      () => if (released.compareAndSet(false, true)) lru.synchronized {
        bump(pathPins, e.file, -1)
        deleteIfUnreferenced(e.file)
      }
    }
    // pin acquisition happens under the lru monitor (entry proven live);
    // `use` itself runs OUTSIDE it — the pin is what keeps the file
    def lookupAndPin(): Option[(Entry, () => Unit)] = lru.synchronized {
      Option(lru.get(key)).flatMap { e =>
        val now = System.currentTimeMillis()
        val expired = expireMs > 0 && now - e.lastAccess > expireMs
        val stale = e.len != len || (!assumeImmutable && e.mtime != mtime)
        if (expired || stale || !Files.exists(e.file)) {
          dropLocked(key, e)
          None
        } else {
          e.lastAccess = now
          bump(pathPins, e.file, 1)
          Some((e, releaseOf(e)))
        }
      }
    }
    def run(e: Entry, release: () => Unit): A =
      try use(e.file, release)
      catch { case t: Throwable => release(); throw t }
    while (true) {
      lookupAndPin() match {
        case Some((e, release)) =>
          stats.hits.incrementAndGet()
          return run(e, release)
        case None =>
          val mine = new java.util.concurrent.CompletableFuture[Unit]()
          val existing = inFlight.putIfAbsent(key, mine)
          if (existing != null) {
            // someone else is fetching this key — await, then re-lookup
            try existing.join()
            catch { case _: java.util.concurrent.CompletionException => () }
          } else {
            try {
              lookupAndPin() match { // a fetch may have landed before our claim
                case Some((e, release)) =>
                  stats.hits.incrementAndGet()
                  return run(e, release)
                case None =>
                  stats.misses.incrementAndGet()
                  val target = dir.resolve(entryName(key, len, mtime))
                  val tmp = dir.resolve(s".tmp-${java.util.UUID.randomUUID()}")
                  val in = fetch()
                  try Files.copy(in, tmp, StandardCopyOption.REPLACE_EXISTING)
                  finally in.close()
                  stats.bytesFetched.addAndGet(len)
                  val (e, release) = lru.synchronized {
                    // publish (move) INSIDE the monitor: a zombie pin's
                    // deferred delete for this same deterministic name
                    // would otherwise race the window between the move
                    // and the index insert and unlink the fresh file
                    Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE,
                      StandardCopyOption.REPLACE_EXISTING)
                    // claim ownership BEFORE evicting: a same-path
                    // victim inside evictToFit must not zero the count
                    // and unlink the file just moved into place
                    bump(pathOwners, target, 1)
                    evictToFit(len)
                    val entry = Entry(target, len, mtime)
                    Option(lru.put(key, entry)).foreach { old =>
                      totalBytes.addAndGet(-old.len)
                      bump(pathOwners, old.file, -1)
                      deleteIfUnreferenced(old.file)
                    }
                    totalBytes.addAndGet(len)
                    bump(pathPins, target, 1)
                    (entry, releaseOf(entry))
                  }
                  return run(e, release)
              }
            } finally {
              mine.complete(())
              inFlight.remove(key, mine)
            }
          }
      }
    }
    throw new IllegalStateException("unreachable")
  }

  def invalidate(key: String): Unit = lru.synchronized {
    Option(lru.get(key)).foreach(e => dropLocked(key, e))
  }

  def entryCount: Int = lru.synchronized(lru.size)
  def currentBytes: Long = totalBytes.get()

  // callers hold lru's monitor; a pinned path outlives the index drop
  // until its last release (file-identity counts, any generation)
  private def dropLocked(key: String, e: Entry): Unit = {
    lru.remove(key)
    totalBytes.addAndGet(-e.len)
    bump(pathOwners, e.file, -1)
    deleteIfUnreferenced(e.file)
  }

  /** Evict least-recently-used entries until `incoming` fits; pinned
    * victims leave the index now, unlink on their last release. */
  private def evictToFit(incoming: Long): Unit = {
    val it = lru.entrySet().iterator()
    while (totalBytes.get() + incoming > maxBytes && it.hasNext) {
      val me = it.next()
      val e = me.getValue
      it.remove()
      totalBytes.addAndGet(-e.len)
      stats.evictions.incrementAndGet()
      bump(pathOwners, e.file, -1)
      deleteIfUnreferenced(e.file)
    }
  }

  private def entryName(key: String, len: Long, mtime: Long): String = {
    val md = java.security.MessageDigest.getInstance("SHA-1")
    val h = md.digest(key.getBytes("UTF-8")).map("%02x".format(_)).mkString
    s"$h-$len-$mtime"
  }
}

object FileCacheState {
  private val states = new ConcurrentHashMap[String, FileCacheState]()

  /** Matches only names THIS cache writes: sha1-hex "-len-mtime"
    * entries and in-flight ".tmp-" fetches — the startup sweep must
    * never touch foreign files in a misconfigured cache dir. */
  private val OwnEntry = "^[0-9a-f]{40}-[-0-9]+-[-0-9]+$".r

  /** One shared state per canonical cache directory; previous-process
    * leftovers (OUR naming only) are cleared when first claimed. */
  def forDir(dir: String, maxBytes: Long, expireMs: Long): FileCacheState =
    states.computeIfAbsent(Paths.get(dir).toAbsolutePath.normalize.toString, { key =>
      val p = Paths.get(key)
      Files.createDirectories(p)
      val old = Files.list(p)
      try old.forEach { f =>
        val n = f.getFileName.toString
        if (n.startsWith(".tmp-") || OwnEntry.matches(n)) {
          Files.deleteIfExists(f); ()
        }
      }
      finally old.close()
      new FileCacheState(p, maxBytes, expireMs)
    })

  /** Stats for a cache dir, if that cache has been initialized. */
  def statsFor(dir: String): Option[FileCacheStats] =
    Option(states.get(Paths.get(dir).toAbsolutePath.normalize.toString)).map(_.stats)

  /** Test hook: drop the state (and its files) for a directory. */
  private[graft] def reset(dir: String): Unit = {
    val key = Paths.get(dir).toAbsolutePath.normalize.toString
    Option(states.remove(key)).foreach { _ =>
      val p = Paths.get(key)
      if (Files.exists(p)) {
        val ls = Files.list(p)
        try ls.forEach(f => { Files.deleteIfExists(f); () })
        finally ls.close()
      }
    }
  }
}
