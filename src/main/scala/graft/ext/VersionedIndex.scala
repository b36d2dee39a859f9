package graft.ext

/** Shared commit protocol of the persisted index layouts (IVF / IVF-PQ,
  * SQ8, BM25 postings, the dedup index): versioned directories published
  * by an exclusive marker create, shard manifests that let an APPEND
  * publish a new version referencing its parent's data by name (O(shard)
  * publication, no rewrite), logical retirement of superseded versions,
  * and an explicit vacuum with reference-aware retention.
  *
  * Commit protocol (mirrors [[graft.Datastream]]'s warehouse contract at
  * index scale):
  *
  *  - every mutation goes through [[publish]]: it allocates `v<N>`, lets
  *    the caller write its tables there, writes the `shards` manifest when
  *    the version has one, and commits by CREATING `CURRENT.v<N>`
  *    exclusively — the one commit point. Create-if-absent is atomic on
  *    every store class (visible only once closed/PUT), unlike
  *    overwrite-rename, which is atomic on POSIX but not on HDFS+S3A;
  *  - the live version is the max over the markers;
  *  - a version directory holds either its full data under `defaultSub`
  *    (build/refresh/compaction) or a `shards` manifest naming data roots
  *    across versions (appends, takedowns);
  *  - the marker's content is `v<N>` and a `txn=` line: `txn=fold:<id>`
  *    names the last micro-batch [[foldBatch]] committed, copied forward
  *    from the parent marker on every commit (Delta's `SetTransaction`,
  *    as the warehouse manifest's `txn=` attribute), so the batch id
  *    commits atomically with the data it guards;
  *  - the format floor: a publish or fold on an index root that holds a
  *    bare `CURRENT` file, or whose live marker has no `txn=` line, fails
  *    with `errors.UnsupportedFormat` before anything is written — no
  *    writer of this engine produces either;
  *  - committing NEVER reclaims superseded versions — an in-flight
  *    reader resolved on the old version completes, pinned (`asOf`)
  *    reads keep working; [[vacuum]] is the only reclamation path and
  *    keeps every version directory a retained version's manifest still
  *    references.
  */
private[graft] object VersionedIndex {
  import org.apache.spark.sql.{DataFrame, SparkSession}
  import org.apache.spark.sql.functions.{broadcast, col}
  import org.apache.spark.sql.types.{LongType, StructField, StructType}

  /** IO bound to the CALLER's session conf — threaded explicitly because
    * ambient `SparkSession.active` resolution is thread-context-dependent
    * (a pool/stream thread without an inherited active or default session
    * throws), and every caller already holds the session it means.
    */
  def io(spark: SparkSession, path: String): graft.WarehouseIO =
    new graft.WarehouseIO(() => graft.WarehouseIO.confOf(spark), path)

  private def markersIn(names: Seq[String]): Seq[Long] =
    names.filter(_.startsWith("CURRENT.v"))
      .flatMap(_.stripPrefix("CURRENT.v").toLongOption).sorted

  /** Versions ever committed via a `CURRENT.v<N>` marker, ascending.
    * Markers are KEPT past supersession (tiny files, and the audit trail
    * that lets a vacuumed version fail with "reclaimed", not "unknown").
    */
  def committedVersions(spark: SparkSession, path: String): Seq[Long] =
    markersIn(io(spark, path).childNames(path))

  def currentVersion(spark: SparkSession, path: String): Option[Long] =
    committedVersions(spark, path).lastOption

  /** Directory holding the index tables: the LIVE version, or with `asOf`
    * a PINNED historical version; fails loudly when nothing was committed,
    * or the pinned version never was or was already vacuumed.
    */
  def resolveDir(spark: SparkSession, path: String, asOf: Option[Long]): String = asOf match {
    case None => requireLive(spark, path, "index read")
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

  /** The live version's directory, for a verb that rewrites a committed
    * version (a compaction); fails when nothing was committed yet.
    */
  def requireLive(spark: SparkSession, path: String, verb: String): String =
    currentVersion(spark, path).map(v => s"$path/v$v").getOrElse(
      throw new IllegalStateException(s"$verb: no committed version at $path"))

  /** The data-shard roots of version dir `dir`, PATH-RELATIVE: the
    * `shards` manifest's entries when present (append-published version),
    * else `v<N>/defaultSub` (full build).
    */
  def shardRels(spark: SparkSession, path: String, dir: String, defaultSub: String): Seq[String] = {
    val s = io(spark, path)
    val mf = s"$dir/shards"
    if (s.exists(mf))
      s.readString(mf).split('\n').toSeq.map(_.trim).filter(_.nonEmpty)
    else Seq(s"$dir/$defaultSub".stripPrefix(path + "/"))
  }

  /** [[shardRels]] resolved to absolute paths. */
  def shardsOf(spark: SparkSession, path: String, dir: String, defaultSub: String): Seq[String] =
    shardRels(spark, path, dir, defaultSub).map(rel => s"$path/$rel")

  /** How many data shards the LIVE version unions per read — the read
    * amplification a query pays, and the number `compactIndex` resets to
    * 1 (probed by the compaction gate; grows by one per streaming fold).
    */
  def liveShardCount(spark: SparkSession, path: String, defaultSub: String): Int =
    shardRels(spark, path, resolveDir(spark, path, None), defaultSub).length

  /** What a [[publish]]ed version's data is. */
  sealed trait Layout
  /** Its own full data under `defaultSub` (build, refresh, compaction). */
  case object Full extends Layout
  /** A `shards` manifest: the parent's shard roots plus `v<N>/defaultSub`. */
  case object Append extends Layout
  /** A `shards` manifest naming the parent's shard roots only — a
    * metadata-only version (a takedown, whose own tables live beside it).
    */
  case object Carry extends Layout

  /** Publish one new version: allocate `v<N>` (the live version + 1), run
    * `write(parentDir, dir)` to write its tables into `dir` (`parentDir`
    * is the live version's directory, or `path` when none: only a [[Full]]
    * version may have no parent), write the `shards` manifest the `layout`
    * asks for, and commit by CREATING `CURRENT.v<N>` —
    * create-fails-if-exists, so two writers colliding on one version
    * number fail LOUDLY instead of silently double-publishing. Indexes are
    * single-writer by contract; this guard turns a violated contract into
    * an error. A crash before the create leaves readers on the parent and
    * an uncommitted `v<N>/`, which the next publish clears before it
    * writes and [[vacuum]] reclaims. Superseded versions are retired,
    * never reclaimed here.
    *
    * The marker records `txn=fold:<foldId>` when [[foldBatch]] commits a
    * batch, else the parent's entry unchanged. `crashBeforeCommit` stops
    * after the tables and the manifest are written, before the create —
    * the crash-injection seam.
    */
  def publish(spark: SparkSession, path: String, defaultSub: String, layout: Layout,
              foldId: Option[Long] = None, crashBeforeCommit: Boolean = false)(
      write: (String, String) => Unit): Unit = {
    val s = io(spark, path)
    val names = s.childNames(path)
    // read before anything is written: the format floor refuses here
    val cursor = foldId.getOrElse(foldCursor(s, path, names))
    val parent = markersIn(names).lastOption
    if (parent.isEmpty && layout != Full) requireLive(spark, path, s"$layout publish")
    val cur = parent.fold(path)(v => s"$path/v$v")
    val next = parent.getOrElse(0L) + 1
    val dir = s"$path/v$next"
    s.rmTree(dir)
    write(cur, dir)
    if (layout != Full) {
      val own = if (layout == Append) Seq(s"v$next/$defaultSub") else Nil
      s.writeString(s"$dir/shards", (shardRels(spark, path, cur, defaultSub) ++ own).mkString("\n"))
    }
    if (crashBeforeCommit) return
    val txn = if (cursor < 0) "txn=" else s"txn=fold:$cursor"
    if (!s.createExclusive(s"$path/CURRENT.v$next", s"v$next\n$txn\n"))
      throw new IllegalStateException(
        s"index $path: version $next is already committed — a concurrent " +
          "writer raced this one (persisted indexes are single-writer; " +
          "serialize mutations, e.g. under the warehouse writer lock)")
  }

  /** The last batch id [[foldBatch]] committed, −1 when none: the
    * `txn=fold:<id>` entry of the newest marker among the root entries
    * `names`. The format floor: a root holding a bare `CURRENT` file, or a
    * newest marker without a `txn=` line, is refused.
    */
  private def foldCursor(s: graft.WarehouseIO, path: String, names: Seq[String]): Long = {
    def refuse(what: String) = throw new graft.errors.UnsupportedFormat(
      s"index $path: $what, a layout below the format floor (no writer of " +
        "this engine produces it); rebuild the index")
    if (names.contains("CURRENT")) refuse("the root holds a bare CURRENT file")
    markersIn(names).lastOption.fold(-1L) { v =>
      s.readString(s"$path/CURRENT.v$v").linesIterator.find(_.startsWith("txn="))
        .getOrElse(refuse(s"marker CURRENT.v$v has no txn= line"))
        .stripPrefix("txn=").split(',').collectFirst {
          case e if e.startsWith("fold:") => e.stripPrefix("fold:").toLong
        }.getOrElse(-1L)
    }
  }

  /** Exactly-once micro-batch fold — the `foreachBatch` body of every
    * stream-maintained index: fold `batch` in as one [[publish]] unless
    * `batchId` is at or below the fold cursor, because foreachBatch
    * replays micro-batches on retry and a replayed index append is NOT
    * naturally idempotent — postings/vectors double and every served
    * result is silently wrong. The batch id commits IN the new version's
    * marker, so a crash before the marker create replays the batch into a
    * fresh version and a crash after it skips the replay; nothing else is
    * written. A replay is skipped before `batch` is evaluated (no Spark
    * job, no file). An empty batch commits nothing and records nothing —
    * its replay is as empty, and an empty first batch would otherwise
    * train a degenerate model and wedge the stream. The first non-empty
    * batch on an index with no version runs `build(batch, dir)` as a
    * [[Full]] version; later ones `append(batch, parentDir, dir)` as an
    * [[Append]].
    */
  def foldBatch(spark: SparkSession, path: String, batchId: Long, defaultSub: String,
                batch: => DataFrame)(build: (DataFrame, String) => Unit,
                                     append: (DataFrame, String, String) => Unit): Unit = {
    val s = io(spark, path)
    val names = s.childNames(path)
    if (batchId <= foldCursor(s, path, names)) return
    val b = batch
    if (b.isEmpty) return
    if (markersIn(names).isEmpty)
      publish(spark, path, defaultSub, Full, Some(batchId))((_, dir) => build(b, dir))
    else
      publish(spark, path, defaultSub, Append, Some(batchId))(append(b, _, _))
  }

  /** The takedown tombstone set of version `dir` (`dir/tombstones`, the
    * one `idCol` column), None when it carries none. Each version's table
    * is the FULL accumulated set (self-contained, so pinned reads need no
    * chain walk). Read with its schema: inferring it costs a Spark job.
    */
  private def tombstonesOf(spark: SparkSession, dir: String, idCol: String): Option[DataFrame] =
    if (io(spark, dir).exists(s"$dir/tombstones"))
      Some(spark.read.schema(StructType(Seq(StructField(idCol, LongType))))
        .parquet(s"$dir/tombstones"))
    else None

  /** Copy version `cur`'s small table `name` (model parameters) forward
    * into version `dir`, as one file. Read with its `schema`: inferring it
    * costs a Spark job.
    */
  def copyTable(spark: SparkSession, cur: String, dir: String, name: String,
                schema: StructType): Unit =
    spark.read.schema(schema).parquet(s"$cur/$name").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/$name")

  /** `df` without the rows whose `idCol` is in version `dir`'s tombstone
    * set — a broadcast anti-join, like the warehouse's merge-on-read
    * delete filter (tombstone sets are takedown-request sized), and `df`
    * itself when the version carries none.
    */
  def minusTombstones(spark: SparkSession, dir: String, df: DataFrame,
                      idCol: String): DataFrame =
    tombstonesOf(spark, dir, idCol).fold(df) { t =>
      val dead = t.select(col(idCol).as("_dead_id"))
      df.join(broadcast(dead), df(idCol) === col("_dead_id"), "left_anti")
    }

  /** Write version `dir`'s tombstone set: the parent `cur`'s set plus the
    * `dead` ids (an `idCol` frame) — with none, the parent's set carried
    * forward so its takedowns stay in force over the shards it references.
    */
  def writeTombstones(spark: SparkSession, cur: String, dir: String, idCol: String,
                      dead: Option[DataFrame] = None): Unit =
    ((tombstonesOf(spark, cur, idCol), dead) match {
      case (Some(t), Some(d)) => Some(t.unionByName(d).distinct())
      case (t, d) => t.orElse(d)
    }).foreach(_.coalesce(1).write.mode("overwrite").parquet(s"$dir/tombstones"))

  /** Reclaim versions superseded past the retention window. Keeps the
    * newest `retainVersions` committed versions PLUS any older version
    * directory a retained version's shard manifest still references.
    * Markers stay as the audit trail (the newest one also holds the fold
    * cursor).
    */
  def vacuum(spark: SparkSession, path: String, retainVersions: Int,
             defaultSub: String): Unit = {
    require(retainVersions >= 1, "retainVersions must be >= 1")
    val s = io(spark, path)
    val committed = committedVersions(spark, path)
    if (committed.isEmpty) return // nothing versioned to reclaim
    val retained = committed.takeRight(retainVersions)
    val referenced: Set[String] =
      retained.map(v => s"v$v").toSet ++
        retained.filter(v => s.exists(s"$path/v$v")).flatMap { v =>
          shardRels(spark, path, s"$path/v$v", defaultSub).map(_.split('/').head)
        }
    s.childNames(path).foreach { n =>
      if (n.matches("v\\d+") && !referenced(n)) s.rmTree(s"$path/$n")
    }
  }
}
