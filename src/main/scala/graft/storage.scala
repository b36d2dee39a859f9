package graft

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}

/** Warehouse storage layer: every commit-log, manifest, registry-swap,
  * vacuum and version-pointer file operation the engine performs routes
  * through this thin wrapper over the Hadoop `FileSystem` API, resolved
  * from the warehouse URI — so one code path addresses `file://` (tests,
  * single box), `hdfs://` and `s3a://` warehouses, exactly like Spark's
  * own readers ([ds :: datastream/api.py :: Datastream] keeps all state in
  * MongoDB; this engine's analog of that storage indirection is the Hadoop
  * fs abstraction the rest of the Spark ecosystem shares).
  *
  * Rename semantics per store class (the commit protocol's load-bearing
  * primitive — every caller renames onto a NON-EXISTENT destination, never
  * onto an existing one, so overwrite-rename atomicity is required
  * nowhere):
  *
  *  - `file://` — POSIX `rename(2)`: atomic for files and directories.
  *  - `hdfs://` — namespace metadata op: atomic for files and directories.
  *  - `s3a://`  — NOT a rename: O(data) server-side copy + delete, and a
  *    concurrent lister can observe both names. The single-file commit
  *    markers stay correct under the single-writer lock (the copy is
  *    invisible until complete and readers gate on the `.commit` suffix
  *    appearing, which is the copy's last step), but the REGISTRY
  *    directory swap loses its atomicity window and large-table writes
  *    pay the copy. A production S3 deployment should front the warehouse
  *    with a real table format's putIfAbsent-style commit (or S3's
  *    conditional PUT) — documented here rather than papered over.
  *
  * The `FileSystem` instance is private (`newInstance`, not the global
  * cache) so disabling checksum sidecars for the engine's tiny marker
  * files cannot leak into Spark's shared cached filesystem, and it is
  * memoized per (scheme, authority, the scheme's `fs.<scheme>.*` entries)
  * so facade churn in tests does not accumulate handles. `conf` is read
  * on each use of [[fs]] ([[WarehouseIO.confOf]] follows the session), so
  * a filesystem setting changed at runtime reaches a live facade's next
  * operation. The memo keeps at most 32 instances; one it drops is not
  * closed, as a facade or an operation in flight may still hold it, and
  * is collected once nothing does.
  */
private[graft] final class WarehouseIO(conf: () => Configuration, root: String) {
  private val rootPath = new Path(root)

  // the instance for the conf last seen; a rebuilt conf (a setting
  // changed) resolves its own through the memo
  @volatile private var bound: (Configuration, FileSystem) = (null, null)

  private[graft] def fs: FileSystem = {
    val c = conf()
    val b = bound
    if (b._1 eq c) b._2
    else {
      val f = WarehouseIO.fsFor(rootPath, c)
      bound = (c, f)
      f
    }
  }

  /** Local warehouses keep the `java.nio` advisory OS file lock (T5):
    * kernel-arbitrated, leak-proof across crashed holders. Remote stores
    * have no such primitive — [[createExclusive]] is the fallback there.
    */
  private[graft] val isLocal: Boolean = {
    val s = fs.getUri.getScheme
    s == null || s == "file"
  }

  /** The local-filesystem path of `p` (only meaningful when [[isLocal]]). */
  private[graft] def localPath(p: String): java.nio.file.Path =
    java.nio.file.Paths.get(new Path(p).toUri.getPath)

  private def q(p: String): Path = new Path(p)

  // LOCAL FAST PATH: on `file://` warehouses every metadata primitive maps
  // to the identical POSIX operation through java.nio directly, skipping
  // the Hadoop LocalFileSystem wrapper (measured: the wrapper's per-op
  // Path/stat overhead added 15-45% to commit-heavy lifecycle verbs, which
  // issue hundreds of tiny marker/manifest ops). Semantics are unchanged —
  // rename(2) onto a non-existent destination, create-exclusive, listing —
  // so remote stores keep the one generic Hadoop route and local runs keep
  // r9's metadata throughput.

  def exists(p: String): Boolean =
    if (isLocal) java.nio.file.Files.exists(localPath(p))
    else fs.exists(q(p))

  def mkdirs(p: String): Unit =
    if (isLocal) { java.nio.file.Files.createDirectories(localPath(p)); () }
    else { fs.mkdirs(q(p)); () }

  /** Delete a single file (not recursive); false if absent or undeletable. */
  def deleteFile(p: String): Boolean =
    if (isLocal) {
      try java.nio.file.Files.deleteIfExists(localPath(p))
      catch { case _: java.io.IOException => false }
    } else {
      try fs.delete(q(p), false)
      catch { case _: java.io.IOException => false }
    }

  /** Recursive delete, idempotent (absent path is a no-op). */
  def rmTree(p: String): Unit =
    if (isLocal) {
      val root = localPath(p)
      if (java.nio.file.Files.exists(root)) {
        import scala.jdk.CollectionConverters._
        val walk = java.nio.file.Files.walk(root)
        try walk.sorted(java.util.Comparator.reverseOrder())
          .iterator().asScala.foreach(java.nio.file.Files.deleteIfExists(_))
        finally walk.close()
      }
    } else {
      try { fs.delete(q(p), true); () }
      catch { case _: java.io.FileNotFoundException => () }
    }

  /** Rename onto a non-existent destination; false (never throw) on
    * failure so callers keep their explicit restore-on-failure handling.
    */
  def rename(src: String, dst: String): Boolean =
    if (isLocal) {
      try {
        // no REPLACE_EXISTING: the commit protocol never renames onto an
        // existing destination, and failing there must return false
        java.nio.file.Files.move(localPath(src), localPath(dst))
        true
      } catch { case _: java.io.IOException => false }
    } else {
      try fs.rename(q(src), q(dst))
      catch { case _: java.io.IOException => false }
    }

  /** Non-recursive child statuses; empty for a missing directory. */
  def children(dir: String): Seq[FileStatus] =
    if (isLocal) {
      val d = new java.io.File(localPath(dir).toString)
      val fsEntries = d.listFiles()
      if (fsEntries == null) Seq.empty
      else fsEntries.toSeq.map(f => new FileStatus(f.length, f.isDirectory, 1,
        134217728L, f.lastModified, new Path(f.toURI)))
    } else {
      try fs.listStatus(q(dir)).toSeq
      catch { case _: java.io.FileNotFoundException => Seq.empty }
    }

  /** Modification time of `p` in epoch ms; 0 when absent. */
  def modificationTime(p: String): Long =
    if (isLocal) new java.io.File(localPath(p).toString).lastModified()
    else
      try fs.getFileStatus(q(p)).getModificationTime
      catch { case _: java.io.FileNotFoundException => 0L }

  def childNames(dir: String): Seq[String] =
    if (isLocal) {
      val names = new java.io.File(localPath(dir).toString).list()
      if (names == null) Seq.empty else names.toSeq
    } else children(dir).map(_.getPath.getName)

  /** Every regular file under `root`/`prefix` (recursive), as paths
    * RELATIVE to `root` — the commit protocol's scope walk. Uses the
    * streaming `listFiles` iterator, which object-store implementations
    * back with paginated LIST calls rather than per-directory round trips.
    */
  def walkFiles(rootDir: String, prefix: String = ""): Seq[String] =
    if (isLocal) {
      val base = localPath(rootDir)
      val start = if (prefix.isEmpty) base else base.resolve(prefix)
      if (!java.nio.file.Files.exists(start)) Seq.empty
      else {
        import scala.jdk.CollectionConverters._
        val walk = java.nio.file.Files.walk(start)
        try walk.iterator().asScala
          .filter(java.nio.file.Files.isRegularFile(_))
          .map(p => base.relativize(p).toString)
          .toSeq
        finally walk.close()
      }
    } else {
      val start = if (prefix.isEmpty) q(rootDir) else new Path(rootDir, prefix)
      if (!fs.exists(start)) Seq.empty
      else {
        val base = fs.makeQualified(q(rootDir)).toUri.getPath
        val out = Seq.newBuilder[String]
        val it = fs.listFiles(start, true)
        while (it.hasNext) {
          val p = it.next().getPath.toUri.getPath
          out += p.stripPrefix(base).stripPrefix("/")
        }
        out.result()
      }
    }

  def readString(p: String): String =
    if (isLocal)
      new String(java.nio.file.Files.readAllBytes(localPath(p)),
        java.nio.charset.StandardCharsets.UTF_8)
    else {
      val in = fs.open(q(p))
      try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
      finally in.close()
    }

  /** Create/overwrite `p` with `s`. Visibility is at close: HDFS exposes
    * the full content once closed, S3 PUTs are all-or-nothing — so a
    * reader never sees a partial marker, though overwrite-in-place is NOT
    * atomic across stores; commit paths therefore always write a fresh
    * name and rename or version-select instead of overwriting live files.
    */
  def writeString(p: String, s: String): Unit =
    if (isLocal) {
      java.nio.file.Files.write(localPath(p),
        s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      ()
    } else {
      val out = fs.create(q(p), true)
      try out.write(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
    }

  /** Atomically create `p` iff absent (the remote-store writer-lock
    * primitive): HDFS `create(overwrite=false)` is namespace-atomic; on
    * S3A it maps to a conditional PUT on recent Hadoop versions. False ⇔
    * already held. Unlike the OS lock, a crashed holder LEAKS the file —
    * the operator removes it manually; an expiring-lease design (as the
    * reference carried) is the production answer on such stores.
    */
  def createExclusive(p: String, s: String): Boolean =
    if (isLocal) {
      try {
        java.nio.file.Files.write(localPath(p),
          s.getBytes(java.nio.charset.StandardCharsets.UTF_8),
          java.nio.file.StandardOpenOption.CREATE_NEW,
          java.nio.file.StandardOpenOption.WRITE)
        true
      } catch {
        case _: java.nio.file.FileAlreadyExistsException => false
        case _: java.io.IOException => false
      }
    } else {
      try {
        val out = fs.create(q(p), false)
        try out.write(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        finally out.close()
        true
      } catch {
        case _: org.apache.hadoop.fs.FileAlreadyExistsException => false
        case _: java.io.IOException => false
      }
    }
}

private[graft] object WarehouseIO {
  import org.apache.spark.sql.SparkSession

  /** Instances the memo keeps; the least recently used one past this is
    * dropped, not closed.
    */
  private val MaxInstances = 32

  // one private instance per (scheme, authority, the scheme's `fs.<scheme>.*`
  // settings): checksum flags below are ours alone (the global
  // FileSystem.get cache is shared with Spark), and a setting changed at
  // runtime (new `fs.s3a.*` credentials, say) gets an instance built
  // from it. Access-ordered, so eviction drops the least recently used.
  private val cache = new java.util.LinkedHashMap[String, FileSystem](16, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[String, FileSystem]): Boolean =
      size > MaxInstances
  }

  private def fsFor(p: Path, conf: Configuration): FileSystem = {
    val uri = p.toUri
    val scheme = Option(uri.getScheme).getOrElse(FileSystem.getDefaultUri(conf).getScheme)
    val settings = new java.util.TreeMap[String, String](conf.getPropsWithPrefix(s"fs.$scheme."))
    val key = s"$scheme://${Option(uri.getAuthority).getOrElse("")} $settings"
    cache.synchronized {
      Option(cache.get(key)).getOrElse {
        val fs = FileSystem.newInstance(uri, conf)
        // no .crc sidecars for commit-log markers/manifests (they would
        // pollute name-based version listings); data files are written by
        // Spark's own fs instance, unaffected
        fs.setWriteChecksum(false)
        fs.setVerifyChecksum(false)
        cache.put(key, fs)
        fs
      }
    }
  }

  /** Each session's Hadoop conf, with the session entries it was built
    * from. `newHadoopConf()` copies every runtime conf entry verbatim, so
    * a Hadoop key set at runtime (`fs.s3a.endpoint`, say) is a plain
    * entry; the `spark.*` ones other than `spark.hadoop.*` are left out
    * of the comparison, as they do not configure Hadoop.
    */
  private val confCache =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession, (Map[String, String], Configuration)]())

  /** `spark`'s Hadoop conf, rebuilt only when a Hadoop-relevant entry of
    * the session changed: `newHadoopConf()` copies the full property map
    * per call, and metadata operations ask often.
    */
  def confOf(spark: SparkSession): Configuration = {
    val entries = spark.sessionState.conf.getAllConfs.filter { case (k, _) =>
      !k.startsWith("spark.") || k.startsWith("spark.hadoop.")
    }
    val c = confCache.get(spark)
    if (c != null && c._1 == entries) c._2
    else {
      val n = spark.sessionState.newHadoopConf()
      confCache.put(spark, entries -> n)
      n
    }
  }
}
