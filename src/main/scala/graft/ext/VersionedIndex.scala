package graft.ext

/** Shared CURRENT-pointer plumbing for persisted index layouts (the IVF /
  * IVF-PQ vector indexes, the dedup index): versioned directories
  * published by an atomic marker create, shard manifests that let an
  * APPEND publish a new version referencing its parent's data by name
  * (O(shard) publication, no rewrite), logical retirement of superseded
  * versions, and an explicit vacuum with reference-aware retention.
  *
  * Commit protocol (mirrors [[graft.Datastream]]'s warehouse contract at
  * index scale):
  *
  *  - the live version is the max over `CURRENT.v<N>` MARKER files — a
  *    commit CREATES a fresh marker (atomic on every store class:
  *    visible only once closed/PUT) rather than overwriting a single
  *    `CURRENT` file, because overwrite-rename is atomic on POSIX but
  *    not on HDFS+S3A; a legacy single `CURRENT` file (pre-marker
  *    layout) keeps resolving until the next commit supersedes it;
  *  - a version directory holds either its full data under `defaultSub`
  *    (build/refresh) or a `shards` manifest naming data roots across
  *    versions (appends);
  *  - committing NEVER reclaims superseded versions — an in-flight
  *    reader resolved on the old version completes, pinned (`asOf`)
  *    reads keep working; [[vacuum]] is the only reclamation path and
  *    keeps every version directory a retained version's manifest still
  *    references.
  */
private[graft] object VersionedIndex {
  import org.apache.spark.sql.SparkSession

  /** IO bound to the CALLER's session conf — threaded explicitly because
    * ambient `SparkSession.active` resolution is thread-context-dependent
    * (a pool/stream thread without an inherited active or default session
    * throws), and every caller already holds the session it means.
    */
  def io(spark: SparkSession, path: String): graft.WarehouseIO =
    new graft.WarehouseIO(() => graft.WarehouseIO.confOf(spark), path)

  /** Versions ever committed via a `CURRENT.v<N>` marker, ascending.
    * Markers are KEPT past supersession (tiny files, and the audit trail
    * that lets a vacuumed version fail with "reclaimed", not "unknown").
    */
  def committedVersions(spark: SparkSession, path: String): Seq[Long] =
    io(spark, path).childNames(path)
      .filter(_.startsWith("CURRENT.v"))
      .flatMap(_.stripPrefix("CURRENT.v").toLongOption).sorted

  def currentVersion(spark: SparkSession, path: String): Option[Long] = {
    val s = io(spark, path)
    val markers = committedVersions(spark, path)
    if (markers.nonEmpty) Some(markers.max)
    else if (s.exists(s"$path/CURRENT"))
      Some(s.readString(s"$path/CURRENT").trim.stripPrefix("v").toLong)
    else None
  }

  /** Directory holding the index tables: the LIVE version per the
    * CURRENT pointer — or `path` itself for a pre-versioned legacy
    * layout — or, with `asOf`, a PINNED historical version that fails
    * loudly when never committed or already vacuumed.
    */
  def resolveDir(spark: SparkSession, path: String, asOf: Option[Long]): String = asOf match {
    case None => currentVersion(spark, path).map(v => s"$path/v$v").getOrElse(path)
    case Some(v) =>
      if (!committedVersions(spark, path).contains(v))
        throw new IllegalArgumentException(
          s"index $path: version $v was never committed " +
            s"(committed: ${committedVersions(spark, path).mkString(", ")})")
      if (!io(spark, path).exists(s"$path/v$v"))
        throw new IllegalStateException(
          s"index $path: version $v was reclaimed by vacuum — " +
            "pinned reads reach only retained versions")
      s"$path/v$v"
  }

  /** The data-shard roots of version dir `dir`, PATH-RELATIVE: the
    * `shards` manifest's entries when present (append-published version),
    * else the literal `<dirRel>/defaultSub` (full build / legacy layout).
    * The entry `.` names the index root itself — the legacy pre-versioned
    * layout whose side tables live directly under `path`.
    */
  def shardRels(spark: SparkSession, path: String, dir: String, defaultSub: String): Seq[String] = {
    val s = io(spark, path)
    val mf = s"$dir/shards"
    if (s.exists(mf))
      s.readString(mf).split('\n').toSeq.map(_.trim).filter(_.nonEmpty)
    else if (dir == path && !s.exists(s"$path/$defaultSub"))
      Seq(".") // legacy layout with side tables directly under the root
    else relRoot(path, s"$dir/$defaultSub")
  }

  private def relRoot(path: String, abs: String): Seq[String] =
    Seq(if (abs == path) "." else abs.stripPrefix(path + "/").stripPrefix("/"))

  /** [[shardRels]] resolved to absolute paths. */
  def shardsOf(spark: SparkSession, path: String, dir: String, defaultSub: String): Seq[String] =
    shardRels(spark, path, dir, defaultSub)
      .map(rel => if (rel == ".") path else s"$path/$rel")

  /** How many data shards the LIVE version unions per read — the read
    * amplification a query pays, and the number `compactIndex` resets to
    * 1 (probed by the compaction gate; grows by one per streaming fold).
    */
  def liveShardCount(spark: SparkSession, path: String, defaultSub: String): Int =
    shardRels(spark, path, resolveDir(spark, path, None), defaultSub).length

  /** The (path, version) the current thread's in-flight [[foldBatch]] is
    * entitled to commit WITH its batch record. Thread-scoped is sound
    * here: a fold body runs synchronously on the calling thread (the
    * foreachBatch driver thread), and its commit happens in that same
    * call stack.
    */
  private val activeFold = new ThreadLocal[(String, Long)]

  /** Publish version `v`: CREATE its marker exclusively (the commit
    * point — create-fails-if-exists, so two writers colliding on one
    * version number fail LOUDLY instead of silently double-publishing) and
    * sweep stale pointer temp files. Indexes are single-writer by
    * contract; this guard turns a violated contract into an error
    * instead of a corrupted pointer history. Superseded versions are
    * retired, never reclaimed here.
    *
    * ORPHAN SCRUB: [[foldBatch]] stamps `v<N>/ingest_batch_id` BEFORE its
    * body commits. If the body crashed pre-commit, a later NON-fold
    * mutation (batch append/remove/refresh/compact) allocating the same
    * version number would otherwise ADOPT the orphaned record — the
    * restarted stream then sees `batchId <= hwm` and skips the replay,
    * silently losing the batch's rows. Every commit that is not the
    * active fold's own therefore deletes a pre-existing record in the
    * version directory it is about to publish.
    */
  def commit(spark: SparkSession, path: String, v: Long): Unit = {
    val s = io(spark, path)
    val rec = s"$path/v$v/ingest_batch_id"
    if (activeFold.get != ((path, v)) && s.exists(rec)) s.deleteFile(rec)
    if (!s.createExclusive(s"$path/CURRENT.v$v", s"v$v"))
      throw new IllegalStateException(
        s"index $path: version $v is already committed — a concurrent " +
          "writer raced this one (persisted indexes are single-writer; " +
          "serialize mutations, e.g. under the warehouse writer lock)")
    s.childNames(path).filter(_.startsWith("CURRENT.tmp-"))
      .foreach(n => s.deleteFile(s"$path/$n"))
  }

  /** Write version `next`'s `shards` manifest (parent's effective shard
    * roots + `v<next>/defaultSub`, path-relative; a legacy parent's root
    * data rides as the `.` entry) and commit — the shared O(1)
    * publication step of the append paths. Runs strictly AFTER the new
    * shard's data is fully on disk.
    */
  def publishAppend(spark: SparkSession, path: String, parentDir: String,
                    next: Long, defaultSub: String): Unit = {
    val parentShards = shardRels(spark, path, parentDir, defaultSub)
    io(spark, path).writeString(s"$path/v$next/shards",
      (parentShards :+ s"v$next/$defaultSub").mkString("\n"))
    commit(spark, path, next)
  }

  /** Publish version `next` carrying its PARENT's data shards unchanged
    * (manifest = the parent's effective roots, no new entry) — the
    * publication step of a metadata-only version (e.g. a tombstone
    * takedown, whose own tables live beside the manifest in `v<next>/`).
    */
  def publishCarry(spark: SparkSession, path: String, parentDir: String,
                   next: Long, defaultSub: String): Unit = {
    io(spark, path).writeString(s"$path/v$next/shards",
      shardRels(spark, path, parentDir, defaultSub).mkString("\n"))
    commit(spark, path, next)
  }

  /** Exactly-once micro-batch fold — the shared `foreachBatch` body
    * contract of every stream-maintained index (search postings, IVF,
    * IVF-PQ): run `body` (which must commit exactly one new version via
    * [[commit]]/[[publishAppend]]) unless `batchId` is at or below the
    * recorded high-watermark, because foreachBatch replays micro-batches
    * on retry and a replayed index append is NOT naturally idempotent —
    * postings/vectors double and every served result is silently wrong.
    *
    * Exactly-once across EVERY crash point, via two records:
    *
    *  - `v<N>/ingest_batch_id` is written INSIDE the version directory
    *    BEFORE the body runs (and therefore before that version's
    *    `CURRENT.v<N>` marker exists), so the commit and the batch record
    *    become effectively atomic: a version is either uncommitted (no
    *    marker → the record is invisible to the high-watermark and the
    *    replay legitimately re-appends into a fresh version; the orphaned
    *    directory is reclaimed by vacuum) or committed WITH its batch id.
    *    A crash after the commit can no longer replay the batch.
    *  - `ingest_batch_hwm.v<id>` at the index root is advanced after the
    *    body — it survives [[vacuum]] (which reclaims old version
    *    directories together with their in-version records), so the
    *    watermark never regresses on a long-vacuumed index.
    *
    * The high-watermark is the max over both. Returns whether the body
    * ran (false = replay skipped).
    */
  def foldBatch(spark: SparkSession, path: String, batchId: Long)(body: => Unit): Boolean = {
    val s = io(spark, path)
    // NEWEST-FIRST scan with an early stop: under the single-writer
    // contract batch ids are monotone in version order, so the newest
    // version carrying a record holds the max — a long-lived stream
    // (markers are kept forever) pays O(versions since the last recorded
    // fold) per micro-batch, not O(all versions) small-file reads
    val inVersion = committedVersions(spark, path).sorted.reverse.iterator
      .map { v =>
        val p = s"$path/v$v/ingest_batch_id"
        if (s.exists(p)) s.readString(p).trim.toLongOption else None
      }
      .collectFirst { case Some(id) => id }
    val atRoot = s.childNames(path)
      .filter(_.startsWith("ingest_batch_hwm.v"))
      .flatMap(_.stripPrefix("ingest_batch_hwm.v").toLongOption)
    val hwm = (inVersion ++ atRoot).foldLeft(-1L)(math.max)
    if (batchId <= hwm) return false
    val next = currentVersion(spark, path).getOrElse(0L) + 1
    s.mkdirs(s"$path/v$next")
    s.writeString(s"$path/v$next/ingest_batch_id", batchId.toString)
    // entitle THIS body's commit of (path, next) to keep the record — any
    // other commit of that version scrubs it (see [[commit]]'s orphan
    // scrub; the entitlement is cleared even when the body throws)
    activeFold.set((path, next))
    try body finally activeFold.remove()
    s.writeString(s"$path/ingest_batch_hwm.v$batchId", batchId.toString)
    s.childNames(path)
      .filter(_.startsWith("ingest_batch_hwm.v"))
      .flatMap(_.stripPrefix("ingest_batch_hwm.v").toLongOption)
      .filter(_ < batchId)
      .foreach(v => s.deleteFile(s"$path/ingest_batch_hwm.v$v"))
    true
  }

  /** Reclaim versions superseded past the retention window. Keeps the
    * newest `retainVersions` committed versions PLUS any older version
    * directory (or legacy root) a retained version's shard manifest
    * still references; `legacyNames` are the pre-versioned root entries
    * swept once unreferenced. Markers stay as the audit trail.
    */
  def vacuum(spark: SparkSession, path: String, retainVersions: Int,
             defaultSub: String, legacyNames: Seq[String]): Unit = {
    require(retainVersions >= 1, "retainVersions must be >= 1")
    val s = io(spark, path)
    val committed = committedVersions(spark, path)
    if (committed.isEmpty) return // nothing versioned to reclaim
    val retained = committed.takeRight(retainVersions)
    val referenced: Set[String] =
      retained.map(v => s"v$v").toSet ++
        retained.filter(v => s.exists(s"$path/v$v")).flatMap { v =>
          shardRels(spark, path, s"$path/v$v", defaultSub).flatMap { rel =>
            // a `.` entry references the legacy ROOT data — every legacy
            // name stays protected while any retained version names it
            if (rel == ".") legacyNames else Seq(rel.split('/').head)
          }
        }
    s.childNames(path).foreach { n =>
      val stale =
        (n.matches("v\\d+") && !referenced(n)) ||
          (legacyNames.contains(n) && !referenced(n)) ||
          n == "CURRENT" || n.startsWith("CURRENT.tmp-")
      if (stale) s.rmTree(s"$path/$n")
    }
  }
}
