package graft

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.functions._

/** The reference's API facade re-expressed over a parquet warehouse
  * [ds :: datastream/api.py :: Datastream] (SURVEY.md §2.1, §7.1).
  *
  * Layout under `warehouse/`:
  *   streams_versions/g<N>/           — metadata table (small, broadcast
  *                                      side): one immutable generation per
  *                                      registry swap, live = the highest
  *                                      `CURRENT.g<N>` marker, held in
  *                                      driver memory once read
  *   raw/                             — appended datapoints (100 TB side; at
  *                                      cluster scale partitioned by date(ts),
  *                                      bucketed by stream_id — flat here)
  *   derived/stream_id=<id>/          — derived streams' datapoints, one
  *                                      partition per derived stream so a
  *                                      refresh overwrites ONLY that slice
  *                                      (dynamic partition overwrite) — never
  *                                      the appended fact table
  *   rollup/granularity=<name>/       — downsample partials per ladder level
  *
  * Semantics kept from the reference: monotone-append enforcement
  * (`InvalidTimestamp`, opt-out via checkTimestamp=false drops stale rows),
  * append-to-derived rejection, granularity compatibility at ensure, delete
  * dependency check, and the `downsampled_until` incremental-maintenance
  * watermark (only buckets wholly ≤ `until` are finalized, exactly once).
  */
class Datastream(spark: SparkSession, private[graft] val warehouse: String) {
  import spark.implicits._

  // Write timestamps as INT64 TIMESTAMP_MICROS, not Spark's
  // compatibility-default INT96: TimestampType is µs-precision internally
  // so the switch is lossless, INT96 min/max stats have no defined sort
  // order (readers must ignore them — neither row-group pruning nor the
  // manifest's file-level data-skipping stats can use INT96 files), and
  // INT64 µs is what every modern engine (and the DuckDB oracle) speaks.
  spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")

  /** All warehouse metadata I/O (commit log, manifests, registry swap,
    * vacuum, pointers) goes through the Hadoop FileSystem API resolved
    * from the warehouse URI — see [[WarehouseIO]] for the per-store
    * rename-semantics contract. The warehouse therefore addresses
    * `file://`, `hdfs://` or `s3a://` with one code path. Its Hadoop conf
    * follows the session, so a filesystem setting changed at runtime
    * reaches the next metadata operation.
    */
  private val io = new WarehouseIO(() => WarehouseIO.confOf(spark), warehouse)

  // immutable registry generations (time-travelled metadata): one parquet
  // dir per swap under streams_versions/g<N>, live = max CURRENT.g<N> marker
  private val streamsVersionsPath = s"$warehouse/streams_versions"
  private val rawPath = s"$warehouse/raw"
  private val derivedPath = s"$warehouse/derived"
  // prev-point sidecar for incremental derived maintenance: one row per
  // (derived, source) pair — registry-sized, a manifest table like `derived`
  private val derivePrevPath = s"$warehouse/derive_prev"
  private val derivePrevSchema = {
    import org.apache.spark.sql.types._
    StructType(Seq(StructField("derived_id", StringType),
      StructField("stream_id", StringType), StructField("ts", TimestampType),
      StructField("value", DoubleType)))
  }

  private def exists(path: String): Boolean = io.exists(path)

  private def rmTree(path: String): Unit = io.rmTree(path)

  /** The live registry generation (max `CURRENT.g<N>` marker), or None
    * before the first registry swap.
    */
  private def registryGen: Option[Long] = registryHead.map(_._1)

  /** The live generation paired with its `CURRENT.g<N>` marker's
    * modification time (one listing, one stat): the key of the in-memory
    * registry. A warehouse wiped and recreated under a live facade
    * restarts its generation numbers, but not its marker times.
    */
  private def registryHead: Option[(Long, Long)] =
    io.childNames(streamsVersionsPath)
      .filter(_.startsWith("CURRENT.g"))
      .flatMap(_.stripPrefix("CURRENT.g").toLongOption)
      .maxOption
      .map(g => g -> io.modificationTime(s"$streamsVersionsPath/CURRENT.g$g"))

  private def registryDir(gen: Long): String = s"$streamsVersionsPath/g$gen"

  /** The columns of every registry generation the engine writes: reads
    * pass them instead of inferring the schema from the files.
    */
  private val registrySchema =
    org.apache.spark.sql.Encoders.product[StreamMeta].schema

  private def readRegistry(dir: String): Seq[StreamMeta] =
    spark.read.schema(registrySchema).parquet(dir).as[StreamMeta]
      .collect().toSeq

  /** One registry generation held in driver memory: its rows, the same
    * rows as a local frame (a `LocalRelation`: filters, projections and
    * collects over it run on the driver, with no file scan and no Spark
    * job), and the rows by stream id. Generations are immutable, so an
    * entry is valid for as long as its `key` is the live [[registryHead]].
    */
  private final class Registry(val key: Option[(Long, Long)],
                               val rows: Seq[StreamMeta]) {
    val frame: DataFrame = rows.toDF()
    val byId: Map[String, StreamMeta] = rows.map(m => m.stream_id -> m).toMap
  }

  @volatile private var loadedRegistry: Option[Registry] = None

  /** The live registry, loaded at most once per generation; empty before
    * the first registry swap.
    */
  private def registry: Registry = registryHead match {
    case head @ Some((g, _)) =>
      loadedRegistry.filter(_.key == head).getOrElse {
        val r = new Registry(head, readRegistry(registryDir(g)))
        loadedRegistry = Some(r)
        r
      }
    case None => new Registry(None, Seq.empty)
  }

  /** Swap-write the registry as a fresh IMMUTABLE generation — the
    * metadata analog of the fact tables' snapshot manifests. The registry
    * must stay addressable AS OF any retained commit: each manifest
    * records the generation current at its commit
    * ([[ManifestFile.registry]]), so `getData(asOfVersion=)` /
    * [[streamsAt]] resolve tags, watermarks and derive config exactly as
    * that snapshot published them — closing the documented round-9 gap
    * where an as-of read saw today's registry against yesterday's data.
    *
    * Commit point is the `CURRENT.g<N>` marker CREATE (atomic on every
    * store class — see [[WarehouseIO]]); the parquet write and dir rename
    * before it are invisible to readers, and a crash at any instant
    * leaves the previous generation live. Generations referenced by a
    * retained manifest are protected from the post-swap sweep, and the
    * newest [[RegistryGenRetention]] are kept as a concurrent-reader
    * grace window; the rest (superseded, unreferenced, aged out) are
    * reclaimed — the same retention interplay the data files get from
    * vacuum. Single-writer (every caller holds the writer lock).
    *
    * The new rows are collected before the write and become the
    * in-memory registry once the marker is down, so the swap's own
    * facade never reads back the generation it wrote.
    */
  private def swapRegistry(df: DataFrame): Unit =
    swapRegistry(df.as[StreamMeta].collect().toSeq)

  private def swapRegistry(rows: Seq[StreamMeta]): Unit = {
    val next = registryGen.getOrElse(0L) + 1
    // a crash between a previous swap's dir rename and its marker create
    // leaves an UNPUBLISHED g<next> orphan — reclaim it, its content was
    // never visible
    if (exists(registryDir(next))) rmTree(registryDir(next))
    val tmp = s"$streamsVersionsPath/g$next.tmp-${System.nanoTime()}"
    rows.toDF().coalesce(1).write.mode(SaveMode.Overwrite).parquet(tmp)
    if (!io.rename(tmp, registryDir(next)))
      throw new IllegalStateException(
        s"swapRegistry: cannot promote $tmp to generation g$next")
    val marker = s"$streamsVersionsPath/CURRENT.g$next"
    io.writeString(marker, s"g$next")
    loadedRegistry =
      Some(new Registry(Some(next -> io.modificationTime(marker)), rows))
    sweepRegistryGenerations(next)
  }

  /** Concurrent-reader grace window for superseded registry generations:
    * a reader outside the writer lock resolves the CURRENT marker and
    * then opens the generation DIRECTORY — reclaiming a generation the
    * instant it is superseded can yank the dir out from under a reader
    * that resolved it microseconds earlier (observed as a torn
    * UNABLE_TO_INFER_SCHEMA read in the racing-writers soak). Retaining
    * the newest few generations closes the window; each is one tiny
    * parquet file, so the steady-state cost is O(1) regardless.
    */
  private val RegistryGenRetention = 4

  /** Reclaim registry generations that are not current, not within the
    * [[RegistryGenRetention]] grace window, and not referenced by any
    * retained manifest; plus superseded markers and crashed-swap temp
    * dirs. O(retained commits) manifest-header reads (memoized).
    */
  private def sweepRegistryGenerations(current: Long): Unit = {
    val referenced = committedVersions
      .flatMap(v => scala.util.Try(parseManifest(v)).toOption)
      .flatMap(_.registry).toSet + current
    val recent = io.childNames(streamsVersionsPath)
      .filter(_.matches("g\\d+")).map(_.stripPrefix("g").toLong)
      .sorted.takeRight(RegistryGenRetention).toSet
    io.childNames(streamsVersionsPath).foreach { n =>
      if (n.matches("g\\d+") && {
          val g = n.stripPrefix("g").toLong
          !referenced(g) && !recent(g)
        })
        rmTree(s"$streamsVersionsPath/$n")
      else if (n.startsWith("CURRENT.g") &&
        n.stripPrefix("CURRENT.g").toLongOption.exists(_ < current))
        { io.deleteFile(s"$streamsVersionsPath/$n"); () }
      else if (n.contains(".tmp-"))
        rmTree(s"$streamsVersionsPath/$n")
    }
  }

  // ---- commit log (multi-table mutation atomicity witness) ---------------

  private val commitLogPath = s"$warehouse/commitlog"

  /** Advisory warehouse writer lock — the batch-facade analog of the
    * reference's maintenance lock (T5; the streaming side's state is owned
    * by its checkpoint instead). Every mutation verb routes through
    * `withCommit`, so holding the OS file lock for the duration of the
    * commit-log window makes the single-writer assumption ENFORCED rather
    * than assumed: a second writer — another process, or another thread of
    * this JVM — fails fast with `MaintenanceLockContended` instead of
    * interleaving table writes into a corrupt warehouse. tryLock (no
    * blocking): contention is an operational error to surface, not a queue
    * to wait in; an OS lock also cannot leak past a crashed holder, which
    * is what let the reference's expiring-lease design be simplified away.
    */
  private def withWriterLock[T](op: String)(body: => T): T = {
    io.mkdirs(warehouse)
    if (io.isLocal) {
      // local warehouse: kernel-arbitrated advisory lock — cannot leak
      // past a crashed holder, which is what let the reference's
      // expiring-lease design be simplified away here
      val ch = java.nio.channels.FileChannel.open(
        io.localPath(s"$warehouse/.writer_lock"),
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.WRITE)
      val lock =
        try ch.tryLock()
        catch { case _: java.nio.channels.OverlappingFileLockException => null }
      if (lock == null) {
        ch.close()
        throw new errors.MaintenanceLockContended(
          s"warehouse $warehouse is locked by another writer (op $op)")
      }
      try body
      finally { lock.release(); ch.close() }
    } else {
      // remote store: atomic create-exclusive lock file (HDFS namespace
      // op / S3 conditional PUT). Caveat documented on
      // [[WarehouseIO.createExclusive]]: a crashed holder leaks the file
      // and the operator must remove it — the production answer on such
      // stores is an expiring lease, as the reference carried.
      val lockPath = s"$warehouse/.writer_lock_held"
      if (!io.createExclusive(lockPath, s"$op@${System.nanoTime()}"))
        throw new errors.MaintenanceLockContended(
          s"warehouse $warehouse is locked by another writer (op $op); " +
            s"if the holder crashed, remove $lockPath manually")
      try body
      finally { io.deleteFile(lockPath); () }
    }
  }

  /** Warehouse tables covered by snapshot manifests, keyed by path
    * relative to the warehouse root. The registry is NOT here: it commits
    * by its own immutable generations and `CURRENT.g<N>` markers
    * ([[swapRegistry]]), which each manifest records by number.
    * `derive_prev` is the derived refresh's prev-point sidecar: a manifest
    * table so `restore` brings back the sidecar matching its watermarks.
    */
  private def manifestTables: Seq[String] =
    Seq("raw", "derived", "raw_deletes", "derive_prev") ++
      Granularity.ladder.map(g => s"rollup/granularity=${g.name}")

  private def tablePath(table: String) = s"$warehouse/$table"

  /** Parquet data-file predicate: any regular file not prefixed `_` (job
    * markers) or `.` (CRC/hidden). Foreign writers name files
    * `data.parquet`, not only Spark's `part-*` — a `part-` match would
    * leave their files permanently invisible to adoption AND vacuum.
    */
  private def isDataFile(name: String): Boolean =
    !name.startsWith("_") && !name.startsWith(".")

  /** Files-walked meter (tests assert the per-mutation walk cost stays
    * O(mutation scope) as the table's total file count grows).
    */
  private[graft] val walkMeter = new java.util.concurrent.atomic.AtomicLong

  /** Manifest-files-parsed meter: each `parseManifest` call reads ONE
    * commit-log manifest from storage. Tests assert the delta-chain
    * resolve cost per commit stays bounded by the full-checkpoint cadence
    * (≤ 10-long chain to the last checkpoint + memoized ancestors), never
    * O(total versions) — the storage cost that would otherwise grow
    * without bound on a long-lived warehouse.
    */
  private[graft] val manifestParseMeter = new java.util.concurrent.atomic.AtomicLong

  /** Relative data-file listing under `table`/`prefix` (`""` = whole
    * table). The driver walk is the sandbox stand-in for a table format's
    * file metadata; at cluster scale the SAME contents come from
    * Delta/Iceberg actions instead of a filesystem walk. Commit paths walk
    * only their declared write SCOPE (touched partitions), never the whole
    * table — the delta-manifest design below is what keeps per-mutation
    * driver cost flat as tables accrete files.
    */
  private def listFilesUnder(table: String, prefix: String = ""): Set[String] = {
    val all = io.walkFiles(tablePath(table), prefix)
    walkMeter.addAndGet(all.size)
    all.filter(rel => isDataFile(rel.split('/').last)).toSet
  }

  /** Per-file data-skipping stats: (min, max) of `table`'s time column in
    * epoch-µs, plus — when the file carries a `stream_id` DATA column with
    * ASCII-only bounds — the (min, max) stream id. Read from the parquet
    * footer the commit just wrote: the stats a table format records in
    * its commit metadata. Strictly a pruning HINT: any irregularity
    * (foreign file, missing column stats, non-µs physical type,
    * unreadable footer) yields None and the file is simply never skipped;
    * stream bounds are dropped unless pure ASCII because parquet orders
    * binary stats by UNSIGNED bytes while the engine compares Java
    * strings — the two orders provably agree when the deciding position
    * is ASCII on at least one side, which ASCII-only bounds guarantee.
    * Called only for files written THIS commit, so collection cost is
    * O(mutation scope), and full-manifest checkpoints carry prior stats
    * forward without re-reading any footer.
    */
  private case class FileStats(tsMin: Long, tsMax: Long,
                               sidMin: Option[String], sidMax: Option[String],
                               sidBloom: Option[Seq[Long]] = None,
                               len: Option[Long] = None,
                               rows: Option[Long] = None)

  /** 256-bit / 4-probe bloom helpers over a file's EXACT stream-id set
    * (read from the parquet dictionary pages, see [[footerStats]]). The
    * bloom closes the gap sid BOUNDS leave on multi-stream files: a file
    * holding streams {a, z} has bounds [a, z] that wrongly keep it for a
    * query on m; the bloom's membership probes skip it. FNV-1a base hash
    * with a mixed second hash (Kirsch–Mitzenmacher double hashing); at the
    * 64-distinct-id cap the false-positive rate is ~0.16 and falls below
    * 0.01 under 20 ids — a pruning HINT, absence (or a false positive)
    * only costs reading a file the bounds already admitted.
    */
  private def sidBloomProbes(sid: String): Seq[Int] = {
    var h = 0xcbf29ce484222325L
    sid.getBytes(java.nio.charset.StandardCharsets.UTF_8).foreach { b =>
      h ^= (b & 0xFFL); h *= 0x100000001b3L
    }
    val h2 = (h ^ (h >>> 29)) * 0xbf58476d1ce4e5b9L
    (0 until 4).map(i => (((h + i * (h2 | 1L)) & Long.MaxValue) % 256).toInt)
  }

  private def sidBloomBits(sids: Iterable[String]): Seq[Long] = {
    val bits = new Array[Long](4)
    for (s <- sids; p <- sidBloomProbes(s)) bits(p >>> 6) |= 1L << (p & 63)
    bits.toSeq
  }

  private def sidBloomMaybeContains(bits: Seq[Long], sid: String): Boolean =
    sidBloomProbes(sid).forall(p => (bits(p >>> 6) & (1L << (p & 63))) != 0)

  private def footerStats(table: String, rel: String): Option[FileStats] = {
    val tsCol = if (table.startsWith("rollup/")) "bucket_start" else "ts"
    try {
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(s"${tablePath(table)}/$rel"),
        spark.sessionState.newHadoopConf())
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      // the file's byte length, recorded in the manifest so snapshot reads
      // can synthesize FileStatus objects with ZERO plan-time FS listings
      // (files are immutable once committed, so the length never drifts)
      val fileLen = in.getLength
      try {
        import scala.jdk.CollectionConverters._
        val blocks = r.getFooter.getBlocks.asScala.toSeq
        def colStats(name: String) = blocks.map { b =>
          b.getColumns.asScala.find(_.getPath.toDotString == name)
            .map(_.getStatistics).filter(s => s != null && s.hasNonNullValue)
        }
        val ts = colStats(tsCol).map(_.flatMap { s =>
          (s.genericGetMin, s.genericGetMax) match {
            case (mn: java.lang.Long, mx: java.lang.Long) =>
              Some((mn.toLong, mx.toLong))
            case _ => None
          }
        })
        // every row group must carry time stats, else the file is unpruned
        if (ts.isEmpty || ts.exists(_.isEmpty)) None
        else {
          val flat = ts.flatten
          val isAscii = (s: String) => s.forall(_ < 0x80)
          // a null stream id voids the bounds: with min == max they would
          // prove a file single-stream (soleStream) that also holds nulls
          val sid = colStats("stream_id").map(_.flatMap { s =>
            (s.genericGetMin, s.genericGetMax) match {
              case (mn: org.apache.parquet.io.api.Binary,
                    mx: org.apache.parquet.io.api.Binary) if s.getNumNulls == 0 =>
                val (a, b) = (mn.toStringUsingUTF8, mx.toStringUsingUTF8)
                if (isAscii(a) && isAscii(b)) Some((a, b)) else None
              case _ => None
            }
          })
          val sidBounds =
            if (sid.isEmpty || sid.exists(_.isEmpty)) None
            else {
              val f = sid.flatten
              Some((f.map(_._1).min, f.map(_._2).max))
            }
          // EXACT per-file stream set from the parquet DICTIONARY pages:
          // valid only when every data page of every row group is
          // dictionary-encoded (EncodingStats pins this; a plain-encoding
          // fallback on a high-cardinality chunk yields None). Capped at
          // 64 distinct ids — past that the 256-bit bloom saturates.
          val sidBloom =
            if (sidBounds.isEmpty) None
            else {
              val perBlock = blocks.map { b =>
                b.getColumns.asScala.find(_.getPath.toDotString == "stream_id")
                  .flatMap { c =>
                    val es = c.getEncodingStats
                    if (es == null || es.hasNonDictionaryEncodedPages) None
                    else Option(r.getDictionaryReader(b)
                        : org.apache.parquet.column.page.DictionaryPageReadStore)
                      .flatMap { store =>
                      val cd = r.getFooter.getFileMetaData.getSchema
                        .getColumnDescription(c.getPath.toArray)
                      Option(store.readDictionaryPage(cd)).flatMap { dp =>
                        scala.util.Try {
                          val dict = dp.getEncoding.initDictionary(cd, dp)
                          (0 to dict.getMaxId)
                            .map(i => dict.decodeToBinary(i).toStringUsingUTF8)
                            .toSet
                        }.toOption
                      }
                    }
                  }
              }
              if (perBlock.isEmpty || perBlock.exists(_.isEmpty)) None
              else {
                val all = perBlock.flatMap(_.get).toSet
                if (all.size > 64) None else Some(sidBloomBits(all))
              }
            }
          Some(FileStats(flat.map(_._1).min, flat.map(_._2).max,
            sidBounds.map(_._1), sidBounds.map(_._2), sidBloom,
            len = Some(fileLen),
            // exact row count from the footer's block metadata — lets
            // fully-covered range counts be served from the manifest alone
            rows = Some(blocks.map(_.getRowCount).sum)))
        }
      } finally r.close()
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  // ---- snapshot manifests (multi-table read isolation) --------------------

  /** A committed snapshot: every manifest table's exact relative file
    * set. Readers resolve this instead of listing directories, so files a
    * torn or in-flight mutation wrote are invisible until their commit,
    * and files a rewrite logically retired stay on disk (for older readers
    * / vacuum) but out of plans.
    */
  private case class Snapshot(version: Long,
                              files: Map[String, Set[String]],
                              stats: Map[(String, String), FileStats]) {
    def tableFiles(table: String): Set[String] = files.getOrElse(table, Set.empty)
  }

  private case class ManifestFile(version: Long, parent: Long, depth: Int,
                                  full: Boolean, tables: Set[String],
                                  adds: Seq[(String, String, Option[FileStats])],
                                  removes: Seq[(String, String)],
                                  registry: Option[Long],
                                  rawCols: Seq[(String, String)],
                                  txn: Map[String, Long])

  /** Manifest format, one file per committed version:
    *
    *   `#graft v3 parent=<p> depth=<d> full=<0|1> tables=<t1,t2,...>`
    *   `+<table>\t<relpath>[\t<minUs>\t<maxUs>[\t<sidMin>\t<sidMax>[\t<bloomHex>]]][\tlen=<bytes>]`
    *                           file added this version (stream-id bounds
    *                           URL-encoded; present only when the footer
    *                           had ASCII-safe stream_id stats; bloomHex =
    *                           the file's 256-bit stream-id bloom as 64
    *                           hex chars, present when every page was
    *                           dictionary-encoded with ≤ 64 distinct ids;
    *                           `len=` / `rows=` are TAGGED order-free
    *                           fields — the file's byte length (letting
    *                           snapshot reads synthesize FileStatus
    *                           objects with zero plan-time FS listings)
    *                           and its exact row count (letting
    *                           fully-covered range counts be served from
    *                           the manifest alone) — safe to tag because
    *                           URL-encoding means no positional string
    *                           token can start with a tag prefix)
    *   `-<table>\t<relpath>`   file removed (retired) this version
    *
    * A DELTA manifest records only this commit's changes plus a pointer to
    * its parent — O(mutation) to write, like a Delta/Iceberg commit log
    * entry. Every `FullManifestEvery`-th version is written FULL (all `+`
    * lines, no parent) to bound the resolution chain — the checkpoint
    * cadence table formats use for exactly this reason.
    *
    * THE FORMAT FLOOR: a manifest without a `#graft v3` or `v4` header, and
    * a resolved snapshot whose `tables=` lists (unioned along its delta
    * chain) miss a manifest table, are refused with
    * `errors.UnsupportedFormat` — no writer of this engine produces either.
    *
    * Optional header attributes after `tables=`: `registry=g<N>` (the
    * registry generation live at the commit), `rawcols=` (declared raw
    * columns, see `ManifestEvolvedWriteVersion`) and
    * `txn=<sink>:<batchId>,...` — the batch-sink cursors (`ingest`,
    * `upsert`; Delta's `SetTransaction`). A commit made by a batch sink
    * records its batch id in the same manifest as its data, so the
    * manifest write is the sink's one commit point: a replay of a
    * committed batch is skipped by construction. `txn=` is re-recorded
    * whole on every commit (carried from the parent), so restore never
    * rewinds a cursor. Readers ignore header attributes they do not know,
    * so `txn=` needs no protocol bump.
    *
    * The optional trailing pair is the file's MIN/MAX of its table's time
    * column (epoch-µs, from the parquet footer the commit just wrote) —
    * the per-file stats a table format keeps for data skipping. Stats are
    * a pruning HINT only: a file without them (an adopted foreign file,
    * an unreadable footer) is simply never skipped. Full manifests
    * carry stats FORWARD from the resolved parent, so the checkpoint never
    * re-reads footers — collection cost stays O(files written this commit).
    *
    * PROTOCOL VERSIONING (the Delta reader-version guard): the `v<N>`
    * token is the MINIMUM reader protocol the manifest requires, and the
    * parser fails LOUDLY on a version it does not know — a newer writer's
    * feature this reader cannot honor must be a planning error, never a
    * silently-thinner snapshot (the failure mode the un-validated v2
    * parser had: a line carrying an unknown tag resolved to an unknown
    * arity and the file vanished from the snapshot on a rolling
    * downgrade). v3 added the TAGGED `len=`/`rows=` fields to the
    * positional stats (+bloom) of v2; v2 is below the format floor. This
    * reader accepts v3 and v4 and writes v3 (v4 once a raw column is
    * declared).
    */
  private val ManifestWriteVersion = 3
  // v4 = v3 plus the `rawcols=` header attribute (additive raw-table
  // schema evolution). Written ONLY once a column has been declared —
  // the Delta table-features pattern: an un-evolved warehouse stays v3
  // and old readers keep working; an evolved one must refuse old
  // binaries, whose BASE-schema compactions/CoW rewrites would silently
  // DROP the declared column from every file they rewrite.
  private val ManifestEvolvedWriteVersion = 4
  private val ManifestReadVersions: Set[Int] = Set(3, 4)

  private val FullManifestEvery = 10

  // manifests are immutable once committed and version numbers never
  // recycle (the counter majorizes every retained marker) — memoize parses
  private val manifestCache =
    new java.util.concurrent.ConcurrentHashMap[Long, ManifestFile]()

  private def parseManifest(v: Long): ManifestFile = {
    val hit = manifestCache.get(v)
    if (hit != null) return hit
    val out = parseManifestUncached(v)
    manifestCache.put(v, out)
    out
  }

  private def parseManifestUncached(v: Long): ManifestFile = {
    manifestParseMeter.incrementAndGet()
    val f = f"$commitLogPath/$v%09d.manifest"
    if (!io.exists(f))
      throw new IllegalStateException(
        s"commitlog: manifest $v missing — the delta chain is broken " +
          "(commit-log files were removed out of band); restore them or " +
          "adoptRaw() to re-baseline the warehouse")
    val txt = io.readString(f)
    val lines = txt.split('\n').toSeq.map(_.stripLineEnd).filter(_.nonEmpty)
    // reader-protocol guard (see the format scaladoc): a version token
    // this parser does not know is a newer writer whose lines it would
    // mis-read, or a layout below the format floor — fail at resolve
    // time, loudly, instead of serving a silently-thinner snapshot
    val verTok = lines.headOption.filter(_.startsWith("#graft "))
      .flatMap(_.split(' ').lift(1)).getOrElse("")
    val ver = verTok.stripPrefix("v").toIntOption.filter(_ => verTok.startsWith("v"))
    if (!ver.exists(ManifestReadVersions.contains))
      throw new errors.UnsupportedFormat(
        s"commitlog: manifest $v requires reader protocol " +
          s"'${if (verTok.isEmpty) "none (no #graft header)" else verTok}' but " +
          s"this binary reads only ${ManifestReadVersions.toSeq.sorted
            .map("v" + _).mkString(", ")} — " +
          (if (ver.exists(_ > ManifestReadVersions.max))
            "upgrade the engine to read this warehouse (a newer writer committed it)"
          else "the warehouse predates the format floor; rebuild it, or " +
            "adoptRaw() its raw files into a fresh warehouse"))
    val attrs = lines.head.split(' ').drop(2)
      .flatMap(_.split('=') match {
        case Array(k, rest @ _*) => Some(k -> rest.mkString("="))
        case _ => None
      }).toMap
    val adds = Seq.newBuilder[(String, String, Option[FileStats])]
    val removes = Seq.newBuilder[(String, String)]
    def dec(s: String) = java.net.URLDecoder.decode(s, "UTF-8")
    lines.tail.foreach { l =>
      l.splitAt(1) match {
        case ("+", rest) =>
          // tagged fields first (order-free `len=<n>` / `rows=<n>`),
          // then the positional arities — a positional token can never
          // start with a tag prefix (strings are URL-encoded, '=' → %3D)
          val toks = rest.split('\t')
          def tagged(tag: String) = toks.collectFirst {
            case s if s.startsWith(tag) => s.stripPrefix(tag).toLongOption
          }.flatten
          val len = tagged("len=")
          val rows = tagged("rows=")
          toks.filterNot(s => s.startsWith("len=") || s.startsWith("rows=")) match {
          case Array(t, f) => adds += ((t, f, None))
          case Array(t, f, mn, mx) =>
            adds += ((t, f,
              for (a <- mn.toLongOption; b <- mx.toLongOption)
                yield FileStats(a, b, None, None, None, len, rows)))
          case Array(t, f, mn, mx, smn, smx) =>
            adds += ((t, f,
              for (a <- mn.toLongOption; b <- mx.toLongOption)
                yield FileStats(a, b, Some(dec(smn)), Some(dec(smx)), None, len, rows)))
          case arr if arr.length >= 7 =>
            // 7+ positional fields: parse the prefix this reader knows;
            // EXTRA trailing positional fields from a NEWER writer are
            // ignored rather than dropping the file from the snapshot —
            // losing committed data to an unknown stat would be silent
            // corruption, losing an unknown stat only costs pruning
            val Array(t, f, mn, mx, smn, smx, bl) = arr.take(7)
            val bloom =
              if (bl.length == 64 && bl.forall(c => c.isDigit ||
                  (c >= 'a' && c <= 'f')))
                scala.util.Try(bl.grouped(16)
                  .map(java.lang.Long.parseUnsignedLong(_, 16)).toSeq).toOption
              else None
            adds += ((t, f,
              for (a <- mn.toLongOption; b <- mx.toLongOption)
                yield FileStats(a, b, Some(dec(smn)), Some(dec(smx)), bloom, len, rows)))
          // unknown arities (3, 5 — never written by this code) still
          // name a committed file: keep it stat-less, never drop it
          case arr if arr.length >= 2 => adds += ((arr(0), arr(1), None))
          case _ => ()
        }
        case ("-", rest) => rest.split('\t') match {
          case Array(t, f, _*) => removes += ((t, f))
          case _ => ()
        }
        case _ => ()
      }
    }
    ManifestFile(v,
      attrs.getOrElse("parent", "-1").toLong,
      attrs.getOrElse("depth", "0").toInt,
      attrs.getOrElse("full", "0") == "1",
      attrs.get("tables").map(_.split(',').filter(_.nonEmpty).toSet)
        .getOrElse(Set.empty),
      adds.result(), removes.result(),
      // registry generation current when this version committed — the
      // metadata half of the snapshot; absent before the first registry swap
      registry = attrs.get("registry").flatMap(_.stripPrefix("g").toLongOption),
      // additive raw-table schema evolution (protocol v4): the FULL
      // declared extra-column list, re-recorded by every commit —
      // `<urlenc(name)>:<urlenc(typeDDL)>,...` in declaration order
      rawCols = attrs.get("rawcols").toSeq.flatMap(_.split(',').toSeq)
        .flatMap(_.split(':') match {
          case Array(n, t) => Some((dec(n), dec(t)))
          case _ => None
        }),
      // batch-sink cursors: `<sink>:<batchId>,...`, re-recorded whole
      // by every commit, like `rawcols=`
      txn = attrs.get("txn").toSeq.flatMap(_.split(',').toSeq)
        .flatMap(_.split(':') match {
          case Array(k, id) => id.toLongOption.map(k -> _)
          case _ => None
        }).toMap)
  }

  // versions are immutable once committed — resolution memoizes freely
  private type Resolved =
    (Set[String], Map[String, Set[String]], Map[(String, String), FileStats])
  private val resolveCache =
    new java.util.concurrent.ConcurrentHashMap[Long, Resolved]()

  private def resolveManifest(v: Long): Resolved = {
    val hit = resolveCache.get(v)
    if (hit != null) hit
    else {
      val m = parseManifest(v)
      val (pc, pf, ps) =
        if (m.full || m.parent < 0)
          (Set.empty[String], Map.empty[String, Set[String]],
            Map.empty[(String, String), FileStats])
        else resolveManifest(m.parent)
      var files = pf
      var stats = ps
      m.removes.foreach { case (t, f) =>
        files = files.updated(t, files.getOrElse(t, Set.empty) - f)
        stats = stats - ((t, f))
      }
      m.adds.foreach { case (t, f, st) =>
        files = files.updated(t, files.getOrElse(t, Set.empty) + f)
        st.foreach(s => stats = stats.updated((t, f), s))
      }
      val covered = pc ++ m.tables
      val out = (covered, files, stats)
      resolveCache.put(v, out)
      out
    }
  }

  private def committedVersions: Seq[Long] = {
    val names = io.childNames(commitLogPath)
    def versions(sfx: String): Set[Long] =
      names.filter(_.endsWith(sfx))
        .flatMap(_.split('.').headOption.flatMap(_.toLongOption)).toSet
    (versions(".commit") & versions(".manifest")).toSeq.sorted
  }

  /** Newest COMMITTED snapshot, or None on a warehouse with no committed
    * manifest yet — an empty warehouse: nothing on disk is visible before
    * the first commit. The newest-version probe is a cheap commit-log dir
    * listing per read; resolution is memoized per immutable version.
    */
  private def rawSnapshot: Option[Snapshot] = {
    val vs = committedVersions
    vs.lastOption.map(snapshotOf(vs, _))
  }

  /** Committed version `v` of `versions` as a snapshot, after the lineage
    * check ([[validateLineage]]) and the coverage half of the format floor:
    * the `tables=` lists along its delta chain must cover every manifest
    * table.
    */
  private def snapshotOf(versions: Seq[Long], v: Long): Snapshot = {
    validateLineage(versions, v)
    val (covered, files, stats) = resolveManifest(v)
    val missing = manifestTables.filterNot(covered)
    if (missing.nonEmpty)
      throw new errors.UnsupportedFormat(
        s"commitlog: snapshot $v does not cover table(s) " +
          s"${missing.mkString(", ")} — the warehouse predates the format " +
          "floor; rebuild it, or adoptRaw() its raw files into a fresh warehouse")
    Snapshot(v, files, stats)
  }

  /** LINEAGE INVARIANT (reader half of the optimistic commit protocol):
    * every committed manifest's `parent` attribute records the version that
    * was max-committed when it landed, so within the retained window the
    * parent of v must be the next-lower committed version. A violation
    * means two writers raced past every guard (both locks bypassed AND the
    * staleness check interleaved, or an operator removed commit markers out
    * of band) and the higher version was built blind to the lower —
    * resolving it would serve a silently-thinner snapshot, so the read
    * fails at planning instead. Skipped for the oldest retained version
    * (its parent aged out of the bounded history — indistinguishable from
    * a genuine first commit).
    */
  private def validateLineage(versions: Seq[Long], v: Long): Unit = {
    val m = parseManifest(v)
    versions.filter(_ < v).lastOption.foreach { expected =>
      if (m.parent != expected)
        throw new IllegalStateException(
          s"commitlog: version $v records parent ${m.parent} but the " +
            s"next-lower committed version is $expected — a concurrent " +
            "commit was built blind to the other and one update would be " +
            "silently lost; restore the commit log or reprocess the " +
            "warehouse")
    }
  }

  /** Committed snapshot versions still resolvable, oldest first — the
    * bounded commit-log retention window. Each is a valid `asOfVersion`
    * target for time travel ([[rawDatapointsAt]], [[rollupAt]],
    * [[getData]]). The commit history is bounded (newest 20 commits plus
    * the delta-chain ancestors they resolve through), so time travel
    * reaches a rolling window, exactly like a table format's
    * `VACUUM`/log-retention interplay.
    */
  def snapshotVersions: Seq[Long] = committedVersions

  /** Newest committed snapshot version (None on a fresh warehouse). Capture
    * this before a mutation to time-travel back across it later.
    */
  def currentVersion: Option[Long] = committedVersions.lastOption

  /** Commit history within the retained window, oldest first — the
    * `DESCRIBE HISTORY` analog: (version, operation, registryGeneration)
    * for every committed mutation whose marker survives the
    * bounded-history sweep. Versions also present in [[snapshotVersions]]
    * are time-travel targets. The third column is the registry generation
    * each version's manifest recorded — the metadata half of the as-of
    * contract ([[streamsAt]]: pinned reads resolve tags/validation against
    * THAT generation), so data-and-metadata-travel-together is auditable
    * straight from the log; None for a version whose manifest aged out of
    * the delta-chain retention or committed before the first registry
    * swap.
    */
  def history: Seq[(Long, String, Option[Long])] = {
    io.childNames(commitLogPath)
      .filter(_.endsWith(".commit"))
      .sorted
      .flatMap { n =>
        val txt = io.readString(s"$commitLogPath/$n")
        for {
          v <- n.split('.').headOption.flatMap(_.toLongOption)
          op = "\"op\":\"([^\"]*)\"".r.findFirstMatchIn(txt)
            .map(_.group(1)).getOrElse("unknown")
        } yield (v, op,
          scala.util.Try(parseManifest(v)).toOption.flatMap(_.registry))
      }
  }

  /** Resolve a PINNED historical snapshot for time travel. Fails loudly on
    * a version outside the retained window rather than silently serving
    * current data. Note the retention caveat: the snapshot pins the FILE
    * SET, so it stays bit-exact across later appends, rewrites (delete
    * purge, compaction, derived refresh — they only retire files
    * logically), and default `vacuumRaw()` — but an aggressive
    * `vacuumRaw(retainVersions = n)` may have reclaimed files an older
    * snapshot references, in which case the read fails at planning (missing
    * path), never returns partial rows.
    */
  private def snapshotAt(version: Long): Snapshot = {
    val vs = committedVersions
    if (!vs.contains(version))
      throw new IllegalArgumentException(
        s"time travel: version $version is not a committed, retained " +
          s"snapshot (retained: ${vs.mkString(", ")}); commit-log history " +
          "is bounded, older versions age out")
    snapshotOf(vs, version)
  }

  // ---- commit protocol ----------------------------------------------------

  // Per-commit write bookkeeping (reset by withCommit; populated by the
  // mutation bodies, some of which fan out concurrent per-table jobs):
  //  - scopeBefore: declared write scopes with their PRE-write listings,
  //    so the commit diffs out exactly the files the mutation wrote;
  //  - retiredFiles: files logically deleted from the next snapshot (they
  //    stay on disk, invisible, until vacuum reclaims them).
  private val scopeBefore =
    new java.util.concurrent.ConcurrentHashMap[(String, String), Set[String]]()
  private val retiredFiles =
    java.util.concurrent.ConcurrentHashMap.newKeySet[(String, String)]()
  // Existing on-disk files RE-ADDED to the snapshot this commit publishes
  // (restore re-publishing a historical file set) — a third channel next
  // to written/retired, because these files are neither in any declared
  // write scope (nothing wrote them now) nor in the previous snapshot.
  // Their data-skipping stats are carried from the snapshot that last
  // referenced them (adoptedStats), so re-adding costs zero footer I/O.
  private val adoptedFiles =
    java.util.concurrent.ConcurrentHashMap.newKeySet[(String, String)]()
  private val adoptedStats =
    new java.util.concurrent.ConcurrentHashMap[(String, String), FileStats]()
  // additive raw-table columns DECLARED by the commit in flight
  // (addRawColumn) — folded into the manifest header at commit write
  private val pendingRawCols =
    new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
  // test seam: ops listed here throw AFTER their table writes but BEFORE
  // the manifest/commit rename — the worst-case crash instant for a
  // rewrite-shaped mutation (every new file on disk, nothing committed)
  private[graft] var crashBeforeCommitOf: Set[String] = Set.empty
  // test seam: runs between the version-number listing and the intent CAS —
  // the exact window a concurrent writer can steal the version in; tests
  // inject a foreign intent here to exercise the CAS-loss retry path
  private[graft] var commitRaceInjection: () => Unit = () => ()
  // test seam: runs after the mutation body but before the commit-time
  // staleness check — the window a concurrent writer's COMMIT can land in;
  // tests inject a foreign commit here to exercise the lost-update abort
  private[graft] var commitStaleInjection: () => Unit = () => ()

  /** Declare an imminent write's scope BEFORE writing: captures the
    * pre-write listing under each `table`/`prefix` so the commit can diff
    * out exactly this mutation's files at O(scope) walk cost.
    */
  private def scopeWrite(table: String, prefixes: Seq[String] = Seq("")): Unit =
    prefixes.foreach { p =>
      scopeBefore.putIfAbsent((table, p), listFilesUnder(table, p)); ()
    }

  /** Logically delete `files` of `table` from the snapshot this commit
    * will publish. The files are NOT touched on disk — readers of older
    * snapshots keep working and vacuum reclaims them once unreferenced.
    * A whole table retires its [[committedFiles]].
    */
  private def retireFiles(table: String, files: Set[String]): Unit =
    files.foreach(f => retiredFiles.add((table, f)))

  /** Files this commit has written so far under `table`'s declared scopes
    * (current listing minus the captured pre-write listing).
    */
  private def writtenSoFar(table: String): Set[String] = {
    import scala.jdk.CollectionConverters._
    scopeBefore.asScala.collect {
      case ((t, p), before) if t == table => listFilesUnder(t, p) -- before
    }.foldLeft(Set.empty[String])(_ ++ _)
  }

  /** Read `table` AS THIS COMMIT WILL PUBLISH IT: previous snapshot minus
    * retirements plus files written so far under declared scopes. Mutation
    * bodies use this for intra-commit reads (e.g. the rollup cascade
    * reading the finer level it just wrote) — a live-directory read would
    * adopt orphans from earlier torn mutations, and a plain snapshot read
    * would miss this commit's own writes. Non-empty `within` keeps only
    * the committed files that may hold rows of one of its groups
    * ([[touchedByRanges]]).
    */
  private def commitRead(table: String,
                         schema: org.apache.spark.sql.types.StructType,
                         within: Seq[(Long, Long, Option[IndexedSeq[String]])] = Nil)
      : Option[DataFrame] = {
    import scala.jdk.CollectionConverters._
    val retired = retiredFiles.asScala.collect { case (t, f) if t == table => f }
    val committed = if (within.isEmpty) committedFiles(table) else touchedByRanges(table, within)
    val files = (committed -- retired) ++ writtenSoFar(table)
    if (files.isEmpty) None else Some(readFiles(table, schema, files))
  }

  /** Read exactly `files` (paths relative to `table`) with `schema` — the
    * one explicit-file-list read. `basePath` makes partition columns and
    * partition pruning behave as in a directory read. No files is an empty
    * local relation.
    */
  private def readFiles(table: String,
                        schema: org.apache.spark.sql.types.StructType,
                        files: Iterable[String]): DataFrame =
    if (files.isEmpty)
      spark.createDataFrame(
        java.util.Collections.emptyList[org.apache.spark.sql.Row](), schema)
    else spark.read.option("basePath", tablePath(table)).schema(schema)
      .parquet(files.toSeq.sorted.map(f => s"${tablePath(table)}/$f"): _*)

  /** The one copy-on-write rewrite: declare `files`' partition
    * directories (plus `extraScope`) as this commit's write scope, retire
    * `files`, read exactly them, and append `transform`'s output
    * partitioned by `partCols` as fresh files beside the retired ones.
    * Paths are relative to `table`, which may be the root of several
    * manifest tables (`rollup`, partitioned first by `granularity`): each
    * path's scope and retirement go to the table it lies in.
    * Nothing is deleted in place: a crash at any instant leaves every
    * reader on the pre-mutation snapshot and the new files as orphans
    * vacuum reclaims. The retired files stay immutable until vacuum, so
    * the append never reads a path it replaces. `extraScope` names
    * partitions the output may reach that no retired file lives in;
    * `maxRecordsPerFile` caps the output files. Nothing to read and no
    * extra scope is a no-op.
    */
  private def rewriteFiles(table: String,
                           schema: org.apache.spark.sql.types.StructType,
                           partCols: Seq[String], files: Set[String],
                           extraScope: Seq[String] = Seq.empty,
                           maxRecordsPerFile: Option[Long] = None)(
      transform: DataFrame => DataFrame): Unit =
    if (files.nonEmpty || extraScope.nonEmpty) {
      def owned(paths: Iterable[String]): Map[String, Seq[String]] =
        paths.toSeq.sorted.map { p =>
          val t = manifestTables.find(t => s"$table/$p".startsWith(s"$t/")).get
          t -> s"$table/$p".stripPrefix(s"$t/")
        }.groupMap(_._1)(_._2)
      val dirs = files.map(_.split('/').dropRight(1).take(partCols.size).mkString("/"))
      owned(dirs ++ extraScope).foreach { case (t, ps) => scopeWrite(t, ps) }
      owned(files).foreach { case (t, fs) => retireFiles(t, fs.toSet) }
      val w = transform(readFiles(table, schema, files)).write.mode(SaveMode.Append)
      maxRecordsPerFile.fold(w)(n => w.option("maxRecordsPerFile", n))
        .partitionBy(partCols: _*).parquet(tablePath(table))
    }

  /** The fact tables (raw, derived) with their read schema and partition
    * column.
    */
  private def factTables: Seq[(String, org.apache.spark.sql.types.StructType, String)] =
    Seq(("raw", rawSchemaPartitioned, "dp_date"),
      ("derived", Schemas.rawDatapoints, "stream_id"))

  /** Every rewritable data table: the fact tables and the seven rollup
    * levels.
    */
  private def dataTables: Seq[(String, org.apache.spark.sql.types.StructType, String)] =
    factTables ++ Granularity.ladder.map(g => (s"rollup/granularity=${g.name}",
      Schemas.downsampledPartitioned, "bucket_date"))

  /** `table`'s committed files (none before the first commit). */
  private def committedFiles(table: String): Set[String] =
    rawSnapshot.fold(Set.empty[String])(_.tableFiles(table))

  /** [[committedFiles]] that the stats test `keep` admits. */
  private def committedFilesWhere(table: String)(
      keep: (Snapshot, String) => Boolean): Set[String] =
    rawSnapshot.fold(Set.empty[String])(s => s.tableFiles(table).filter(keep(s, _)))

  /** Run a MULTI-TABLE write sequence inside a write-ahead intent marker —
    * the sandbox-scale stand-in for the Delta/Iceberg commit the mutation
    * paths cite. Plain parquet gives each table swap/write atomicity but
    * nothing spans tables: a crash between "raw appended" and "registry
    * swapped" leaves a torn warehouse. Two layers of defense:
    *
    *  - DETECTION, all mutations: `<version>.intent` is committed (temp +
    *    rename) before the first table write, renamed to
    *    `<version>.commit` after the last; a crash leaves the intent
    *    behind, a mid-sequence failure renames it to `<version>.failed` —
    *    both surface in `tornOperations` and as a startup warning.
    *  - ISOLATION, all mutations: each commit also writes a
    *    `<version>.manifest` snapshot of every manifest table's file set
    *    ([[manifestTables]]), and readers resolve the newest committed
    *    manifest instead of listing the directory
    *    (`rawDatapointsInRange`) — so the files a torn mutation left
    *    behind are simply never visible, and readers stay on the
    *    pre-mutation snapshot with no remediation needed (`vacuumRaw`
    *    reclaims the orphans). Rewrite-shaped mutations (delete purge,
    *    compaction, derived refresh) retire replaced files LOGICALLY
    *    ([[retireFiles]]): the files stay on disk for older snapshots and
    *    `restore` until vacuum reclaims them.
    *
    * Callers wrap ONLY the write sequence (validation failures precede the
    * intent and leave no marker). Single-writer per warehouse, as with the
    * registry swap. A batch sink passes `txn = Some(sink -> batchId)`: the
    * manifest records it as that sink's cursor (see [[batchCursor]]).
    */
  private def withCommit[T](op: String, adoptAll: Boolean = false,
                            txn: Option[(String, Long)] = None)(body: => T): T = withWriterLock(op) {
    io.mkdirs(commitLogPath)
    // resolved before the intent marker, so a warehouse below the format
    // floor is refused with nothing written
    val prev = rawSnapshot
    def markerOf(v: Long, suffix: String) = f"$commitLogPath/$v%09d.$suffix"
    def alloc(): Long = 1L + io.childNames(commitLogPath)
      .flatMap(_.split('.').headOption.flatMap(_.toLongOption))
      .foldLeft(0L)(math.max)
    // OPTIMISTIC COMMIT CAS: version N's `.intent` marker is CREATED
    // exclusively (create-fails-if-exists — HDFS namespace-atomic,
    // conditional PUT on S3A), so the marker create itself allocates the
    // version: two drivers racing a mutation serialize on the NUMBER even
    // where the advisory writer lock above has no reach (the `java.nio`
    // OS lock is single-host; the remote lock file leaks past a crash and
    // an operator may have removed it while a slow holder still runs). A
    // loser re-lists and retries at a higher number — exactly one writer
    // ever owns a version, so no two manifests can collide on one name.
    val version = {
      var v = alloc()
      var tries = 0
      commitRaceInjection()
      while (!io.createExclusive(markerOf(v, "intent"),
          s"""{"version":$v,"op":"$op"}""")) {
        tries += 1
        if (tries > 16)
          throw new errors.CommitConflict(
            s"commitlog: lost the version CAS $tries times in a row " +
              s"(op $op) — a concurrent writer is committing faster than " +
              "this one can allocate; retry the mutation")
        v = math.max(alloc(), v + 1)
      }
      v
    }
    def marker(suffix: String) = markerOf(version, suffix)
    val intent = marker("intent")
    scopeBefore.clear()
    retiredFiles.clear()
    adoptedFiles.clear()
    adoptedStats.clear()
    pendingRawCols.clear()
    val headBefore = registryHead
    val rowsBefore = loadedRegistry.filter(_.key == headBefore).map(_.rows)
    val out =
      try {
        val r = body
        if (crashBeforeCommitOf(op))
          throw new IllegalStateException(s"injected crash after $op body")
        r
      }
      catch { case e: Throwable =>
        io.rename(intent, marker("failed"))
        scopeBefore.clear(); retiredFiles.clear()
        adoptedFiles.clear(); adoptedStats.clear(); pendingRawCols.clear()
        // a body that swapped the registry (watermarks, bounds) and then
        // failed must not leave it ahead of data it never committed: swap
        // the generation it started from back in (a crash of the process
        // itself can still leave that tail; the intent marker flags it)
        if (registryHead.map(_._1) != headBefore.map(_._1))
          try swapRegistry(rowsBefore.getOrElse(headBefore.fold(Seq.empty[StreamMeta])(
            h => readRegistry(registryDir(h._1)))))
          catch { case r: Throwable => e.addSuppressed(r) }
        throw e
      }
    // OPTIMISTIC STALENESS CHECK (the second half of the commit CAS): the
    // snapshot below is assembled against `prev`, captured before the
    // version CAS. If ANOTHER writer committed meanwhile — possible exactly
    // where the advisory lock has no reach — publishing ours would smuggle a
    // parent pointer past their changes and readers at the higher version
    // would lose one of the two updates silently. The loser ABORTS instead:
    // its intent renames to `.failed` (the torn-mutation path — its data
    // files are invisible orphans vacuum reclaims) and the pinned
    // CommitConflict tells the caller to simply re-run the mutation against
    // the new snapshot. Combined with the intent CAS above this yields
    // last-committer-loses serialization: every published manifest's parent
    // is the version that was max-committed when it landed (the lineage
    // invariant readers verify in [[validateLineage]]).
    commitStaleInjection()
    val committedNow = committedVersions.lastOption
    if (committedNow != prev.map(_.version)) {
      io.rename(intent, marker("failed"))
      scopeBefore.clear(); retiredFiles.clear()
      adoptedFiles.clear(); adoptedStats.clear(); pendingRawCols.clear()
      throw new errors.CommitConflict(
        s"commitlog: version ${committedNow.getOrElse(-1L)} committed while " +
          s"op $op was building version $version against parent " +
          s"${prev.map(_.version).getOrElse(-1L)} — this commit aborted " +
          "rather than drop the concurrent writer's changes; retry the " +
          "mutation (its partial writes are invisible orphans, " +
          "vacuumRaw() reclaims them)")
    }
    // Assemble the new snapshot per table: previous minus retirements plus
    // this commit's written files — NEVER a directory listing, so orphans
    // from earlier torn mutations are not adopted, not even by the first
    // commit (adoptRaw's full listing is the explicit opt-in).
    import scala.jdk.CollectionConverters._
    val retiredByTable: Map[String, Set[String]] =
      retiredFiles.asScala.toSet[(String, String)].groupMap(_._1)(_._2)
    val writtenByTable: Map[String, Set[String]] =
      manifestTables.map(t => t -> writtenSoFar(t)).toMap
    val adoptedByTable: Map[String, Set[String]] =
      adoptedFiles.asScala.toSet[(String, String)].groupMap(_._1)(_._2)
    val snapshot: Map[String, Set[String]] = manifestTables.map { t =>
      val files =
        if (adoptAll) listFilesUnder(t)
        else {
          val base = prev.fold(Set.empty[String])(_.tableFiles(t))
          (base -- retiredByTable.getOrElse(t, Set.empty)) ++
            writtenByTable(t) ++ adoptedByTable.getOrElse(t, Set.empty)
        }
      t -> files
    }.toMap
    // data-skipping stats: footers of THIS commit's files only; prior
    // files carry their stats forward from the resolved parent, re-added
    // (adopted) files carry theirs from the snapshot that last referenced
    // them — a footer read only for an adopted file with none recorded
    // the per-file footer opens are independent metadata I/O — a commit
    // that wrote one file per date partition pays dozens of them, so read
    // them from a small pool instead of serially on the driver
    val writtenPairs: Seq[(String, String)] =
      writtenByTable.toSeq.flatMap { case (t, fs) => fs.toSeq.sorted.map(t -> _) }
    val writtenStats: Seq[((String, String), FileStats)] =
      Concurrency.inParallel(
        writtenPairs.map { case (t, f) =>
          () => footerStats(t, f).map(((t, f), _))
        }, maxConcurrent = 8).flatten
    val statsAll: Map[(String, String), FileStats] =
      prev.map(_.stats).getOrElse(Map.empty) ++
        writtenStats ++
        adoptedFiles.asScala.toSeq.flatMap { case (t, f) =>
          (Option(adoptedStats.get((t, f))) orElse footerStats(t, f))
            .map(((t, f), _))
        }
    // Delta vs full: deltas record only this commit's changes against the
    // resolved parent; a full manifest (checkpoint) every FullManifestEvery
    // versions bounds the resolution chain. Written (temp + rename) BEFORE
    // the commit rename: a crash between the two leaves an uncommitted
    // manifest readers ignore.
    val prevFiles: Map[String, Set[String]] =
      prev.map(_.files).getOrElse(Map.empty)
    val prevDepth = prev.map(s => parseManifest(s.version).depth).getOrElse(0)
    val full = prev.isEmpty || adoptAll || prevDepth + 1 >= FullManifestEvery
    // the registry generation live as this version commits — the metadata
    // half of the snapshot (mutation bodies that swap the registry do so
    // before this line, so the POST-mutation generation is recorded)
    val regAttr = registryGen.map(g => s" registry=g$g").getOrElse("")
    // additive raw-table columns: the parent's declared list plus any this
    // commit declares (addRawColumn), re-recorded whole on EVERY commit so
    // resolution never chain-walks. Presence bumps the manifest to the
    // evolved protocol version — see ManifestEvolvedWriteVersion.
    import scala.jdk.CollectionConverters._
    val rawColsNow: Seq[(String, String)] =
      prev.map(s => parseManifest(s.version).rawCols).getOrElse(Seq.empty) ++
        pendingRawCols.asScala
    val colsAttr =
      if (rawColsNow.isEmpty) ""
      else {
        def enc(x: String) = java.net.URLEncoder.encode(x, "UTF-8")
        " rawcols=" + rawColsNow
          .map { case (n, t) => s"${enc(n)}:${enc(t)}" }.mkString(",")
      }
    val writeVer =
      if (rawColsNow.nonEmpty) ManifestEvolvedWriteVersion
      else ManifestWriteVersion
    // batch-sink cursors: the parent's, plus this commit's own entry
    val txnNow = prev.map(s => parseManifest(s.version).txn)
      .getOrElse(Map.empty[String, Long]) ++ txn
    val txnAttr =
      if (txnNow.isEmpty) ""
      else " txn=" + txnNow.toSeq.sorted.map { case (k, id) => s"$k:$id" }.mkString(",")
    val header = s"#graft v$writeVer parent=${prev.map(_.version).getOrElse(-1L)} " +
      s"depth=${if (full) 0 else prevDepth + 1} full=${if (full) "1" else "0"} " +
      s"tables=${manifestTables.mkString(",")}" + regAttr + colsAttr + txnAttr
    val body0 = new StringBuilder(header).append('\n')
    manifestTables.foreach { t =>
      val now = snapshot(t)
      val before = if (full) Set.empty[String] else prevFiles.getOrElse(t, Set.empty)
      (now -- before).toSeq.sorted.foreach { f =>
        body0.append('+').append(t).append('\t').append(f)
        statsAll.get((t, f)).foreach { st =>
          body0.append('\t').append(st.tsMin).append('\t').append(st.tsMax)
          (st.sidMin, st.sidMax) match {
            case (Some(a), Some(b)) =>
              def enc(s: String) = java.net.URLEncoder.encode(s, "UTF-8")
              body0.append('\t').append(enc(a)).append('\t').append(enc(b))
              // optional 7th field: the 256-bit stream-id bloom as 64 hex
              // chars (positional, so it requires the bounds fields)
              st.sidBloom.foreach { bl =>
                body0.append('\t').append(bl.map(l => f"$l%016x").mkString)
              }
            case _ => ()
          }
          // TAGGED optional fields (order-free, unlike the positional
          // bounds/bloom): the file's byte length and exact row count.
          // Safe to tag because every positional string field is
          // URL-encoded ('=' → %3D), so no positional token can ever
          // start with "len=" or "rows="
          st.len.foreach(n => body0.append('\t').append("len=").append(n))
          st.rows.foreach(n => body0.append('\t').append("rows=").append(n))
        }
        body0.append('\n')
      }
      (before -- now).toSeq.sorted.foreach(f => body0.append('-').append(t).append('\t').append(f).append('\n'))
    }
    val mTmp = marker("manifest.tmp")
    io.writeString(mTmp, body0.toString)
    if (!io.rename(mTmp, marker("manifest")))
      throw new IllegalStateException(s"commitlog: cannot stage manifest $version")
    if (!io.rename(intent, marker("commit")))
      throw new IllegalStateException(s"commitlog: cannot commit $intent")
    resolveCache.put(version, (manifestTables.toSet, snapshot,
      statsAll.filter { case ((t, f), _) =>
        snapshot.getOrElse(t, Set.empty)(f) }))
    // Bounded history: keep the newest 20 commit/resolved markers and the
    // newest 20 manifests PLUS the parent-chain ancestors a retained delta
    // still resolves through; stale `.tmp`/`.manifest.tmp` leftovers from
    // crashed commits older than the current version are reclaimed too.
    val entries = io.childNames(commitLogPath)
    Seq(".commit", ".resolved").foreach { sfx =>
      entries.filter(_.endsWith(sfx)).sorted
        .dropRight(20).foreach(n => io.deleteFile(s"$commitLogPath/$n"))
    }
    val manifestVersions = entries
      .filter(_.endsWith(".manifest"))
      .flatMap(_.split('.').headOption.flatMap(_.toLongOption)).sorted
    val keep = scala.collection.mutable.Set.empty[Long]
    manifestVersions.takeRight(20).foreach { v =>
      keep += v
      var m = parseManifest(v)
      while (!m.full && m.parent >= 0 && !keep(m.parent) &&
        manifestVersions.contains(m.parent)) {
        keep += m.parent
        m = parseManifest(m.parent)
      }
    }
    entries.filter { n =>
      val v = n.split('.').headOption.flatMap(_.toLongOption)
      (n.endsWith(".manifest") && v.exists(!keep(_))) ||
        ((n.endsWith(".tmp") || n.endsWith(".manifest.tmp")) &&
          v.exists(_ < version))
    }.foreach(n => io.deleteFile(s"$commitLogPath/$n"))
    // per-commit bookkeeping must not leak into the next commit (it is
    // cleared at start too — this keeps the idle state clean)
    scopeBefore.clear()
    retiredFiles.clear()
    adoptedFiles.clear()
    adoptedStats.clear()
    pendingRawCols.clear()
    out
  }

  /** ADOPT out-of-band raw files into the committed snapshot: commits a
    * manifest of the full on-disk listing, making rows a foreign writer
    * (or a pre-upgrade warehouse) placed in `raw/` visible to snapshot
    * readers — the "convert existing files to the table format" step
    * Delta/Iceberg require for the same reason. Refused while unresolved
    * torn-mutation markers exist: adoption cannot distinguish a foreign
    * file from a crashed mutation's orphan, so the operator must first
    * `vacuumRaw()` + resolve (or `reprocessStreams`) the tear.
    */
  def adoptRaw(): Unit = {
    val torn = tornOperations
    if (torn.nonEmpty)
      throw new IllegalStateException(
        s"adoptRaw: unresolved torn mutations ${torn.mkString(", ")} — their " +
          "orphan files would be adopted as data; vacuumRaw() and resolve " +
          "them first")
    withCommit("adopt_raw", adoptAll = true) { () }
  }

  /** Delete data files no retained committed manifest references — the
    * garbage a torn mutation's un-committed write left behind (its rows
    * were never visible through the snapshot read path), plus files a
    * rewrite (delete purge, compaction, derived refresh) logically retired
    * once every retained snapshot referencing them has aged out. Covers
    * every manifest table. Empty partition directories left behind are
    * pruned.
    * Under the writer lock but NOT a commit: visible state is unchanged by
    * construction. Returns the number of files removed.
    *
    * `retainVersions` bounds how many newest snapshots keep protecting
    * their files (the table-format retention window): the default protects
    * every retained manifest — safe for any reader holding an older
    * snapshot — while `retainVersions = 1` reclaims everything the CURRENT
    * snapshot no longer references (e.g. files a just-run compaction
    * retired), the aggressive `VACUUM ... RETAIN 0 HOURS` analog.
    */
  def vacuumRaw(retainVersions: Int = Int.MaxValue): Long = withWriterLock("vacuum_raw") {
    require(retainVersions >= 1, "retainVersions must be >= 1")
    val versions = committedVersions
    if (versions.isEmpty) 0L // nothing is garbage before the first commit
    else {
      // the current snapshot first: a warehouse below the format floor is
      // refused before any file is deleted
      snapshotOf(versions, versions.last)
      // protect the union of every RETAINED snapshot's file set — a reader
      // holding one of those versions must keep resolving
      val resolved = versions.takeRight(retainVersions.min(versions.size))
        .map(resolveManifest)
      val referenced: Map[String, Set[String]] = resolved
        .flatMap(_._2.toSeq)
        .groupMapReduce(_._1)(_._2)(_ ++ _)
      var removed = 0L
      manifestTables.foreach { t =>
        val doomed = listFilesUnder(t) -- referenced.getOrElse(t, Set.empty)
        doomed.foreach { rel =>
          if (io.deleteFile(s"${tablePath(t)}/$rel")) removed += 1
        }
        // prune now-empty partition directories (bottom-up; a dir whose
        // filtered listing is empty may still hold checksum remnants, so
        // the removal is a recursive delete)
        def prune(st: org.apache.hadoop.fs.FileStatus): Unit =
          if (st.isDirectory) {
            io.children(st.getPath.toString).foreach(prune)
            if (io.children(st.getPath.toString).isEmpty)
              io.rmTree(st.getPath.toString)
          }
        io.children(tablePath(t)).foreach(prune)
      }
      // the rollup write stages its tasks' output under `rollup/`, outside
      // every table: a torn downsample leaves its `_temporary` there
      val staging = s"$warehouse/rollup/_temporary"
      if (exists(staging)) {
        removed += io.walkFiles(staging).size
        rmTree(staging)
      }
      removed
    }
  }

  /** Multi-table mutations that began but never committed — each entry is
    * the op name from a surviving `.intent` (crash) or `.failed` (thrown
    * mid-sequence) marker, oldest first. Non-empty means table files may be
    * mutually inconsistent; at this storage layer the remedy is
    * `reprocessStreams` (rebuilds all rollups — and resolves these markers
    * on success) or restoring the warehouse.
    */
  def tornOperations: Seq[String] = {
    io.childNames(commitLogPath)
      .filter(n => n.endsWith(".intent") || n.endsWith(".failed"))
      .sorted
      .map { n =>
        val txt = io.readString(s"$commitLogPath/$n")
        "\"op\":\"([^\"]*)\"".r.findFirstMatchIn(txt)
          .map(_.group(1)).getOrElse(n)
      }
  }

  /** Mark every surviving torn-operation witness as remediated: each
    * `.intent`/`.failed` marker is renamed to `.resolved` (kept, trimmed
    * with the commit history — an audit trail, no longer a warning). Called
    * automatically by `reprocessStreams` once the rollups are rebuilt — the
    * remedy the startup warning recommends — and available directly for an
    * operator who restored or verified the warehouse out of band. Without
    * this, one torn mutation would warn on every facade construction
    * forever, even after full remediation. Returns the number resolved.
    */
  def acknowledgeTorn(): Int = {
    val torn = io.childNames(commitLogPath)
      .filter(n => n.endsWith(".intent") || n.endsWith(".failed"))
    torn.foreach { n =>
      val resolved = n.replaceAll("\\.(intent|failed)$", ".resolved")
      if (!io.rename(s"$commitLogPath/$n", s"$commitLogPath/$resolved"))
        throw new IllegalStateException(s"commitlog: cannot resolve $n")
    }
    torn.length
  }

  // THE FORMAT FLOOR at open: one root listing refuses what older engines
  // left at the warehouse root (the single `streams` registry directory,
  // `.swap-*`/`.bak-*` directory-swap leftovers, `*_batch_hwm*` cursor
  // markers) before anything is read or written
  io.childNames(warehouse).find(n => n == "streams" || n.contains(".swap-") ||
      n.contains(".bak-") || n.contains("_batch_hwm")).foreach { n =>
    throw new errors.UnsupportedFormat(
      s"warehouse $warehouse holds '$n', a layout below the format floor " +
        "(no writer of this engine produces it); rebuild the warehouse, or " +
        "adoptRaw() its raw files into a fresh one")
  }
  locally {
    val torn = tornOperations
    if (torn.nonEmpty)
      System.err.println(s"[graft] WARNING: warehouse $warehouse has " +
        s"uncommitted multi-table mutations (${torn.mkString(", ")}); " +
        "table files may be mutually inconsistent — consider reprocessStreams")
  }

  // ---- registry -----------------------------------------------------------

  /** The live registry as a local frame: reading it runs no Spark job. */
  def streams: DataFrame = registry.frame

  /** REGISTRY TIME TRAVEL: the stream metadata (tags, watermarks, derive
    * config, bounds) exactly as committed snapshot `version` published it
    * — the metadata half of [[rawDatapointsAt]]. Resolution: the version's
    * manifest records the registry generation live at its commit; that
    * generation directory is immutable and protected from the sweep while
    * the manifest is retained. A commit written before registry versioning
    * existed carries no generation — the read falls back to the CURRENT
    * registry with the pre-round-10 caveat (documented, not silent: that
    * is exactly the state such a warehouse is in).
    */
  def streamsAt(version: Long): DataFrame = {
    snapshotAt(version) // validates the version is committed and retained
    parseManifest(version).registry match {
      case Some(g) =>
        val live = registry
        if (live.key.exists(_._1 == g)) live.frame
        else if (!exists(registryDir(g)))
          throw new IllegalStateException(
            s"registry generation g$g for snapshot $version was reclaimed " +
              "out of band — commit-log and streams_versions disagree")
        else spark.read.schema(registrySchema).parquet(registryDir(g))
      case None => streams
    }
  }

  /** [[findStreams]] against a pinned snapshot's registry. */
  def findStreamsAt(tagQuery: Map[String, String], version: Long): DataFrame =
    StreamRegistry.findStreams(streamsAt(version), tagQuery)

  private def streamMetaFrom(reg: DataFrame, streamId: String): StreamMeta = {
    val hit = reg.where(col("stream_id") === streamId).as[StreamMeta].collect()
    if (hit.isEmpty) throw new errors.StreamNotFound(s"no such stream: $streamId")
    hit.head
  }

  def streamMeta(streamId: String): StreamMeta =
    registry.byId.getOrElse(streamId,
      throw new errors.StreamNotFound(s"no such stream: $streamId"))

  /** Idempotent stream creation; re-ensure with same id returns existing
    * metadata. Derived streams must share their sources' granularity.
    */
  def ensureStream(streamId: String,
                   tags: Map[String, String] = Map.empty,
                   valueType: String = ValueType.Numeric,
                   highestGranularity: Granularity = Granularity.Seconds,
                   deriveOp: Option[String] = None,
                   deriveArgs: Option[String] = None,
                   derivedFrom: Seq[String] = Seq.empty): StreamMeta = {
    require(ValueType.all(valueType), s"unsupported value type $valueType")
    deriveOp.filterNot(Derive.ops).foreach { op =>
      throw new errors.InvalidOperatorArguments(s"unknown derive op $op " +
        s"(expected one of ${Derive.ops.toSeq.sorted.mkString(", ")})")
    }
    val existing = registry.byId.get(streamId)
    if (existing.nonEmpty) return existing.get
    derivedFrom.foreach { src =>
      val meta = streamMeta(src) // throws StreamNotFound
      if (meta.highest_granularity != highestGranularity.name)
        throw new errors.IncompatibleGranularities(
          s"derived stream $streamId at ${highestGranularity.name} from " +
            s"$src at ${meta.highest_granularity}")
    }
    val meta = StreamMeta(streamId, tags, valueType,
      ValueType.valueDownsamplers(valueType).toSeq.sorted,
      Downsamplers.allTime.toSeq.sorted,
      highestGranularity.name, deriveOp, deriveArgs, derivedFrom)
    // swap-write, NOT append: per-ensure appends leave one tiny parquet
    // file per ensured stream, and every later registry read pays listing
    // + scheduling for all of them. The swap keeps the registry a single
    // file regardless of how many ensures a session performs. The writer
    // lock covers the read-modify-swap (a racing ensure would otherwise
    // silently lose one of the two registry rows).
    withWriterLock("ensure")(swapRegistry(registry.rows :+ meta))
    meta
  }

  /** Batch `ensureStream`: N streams in ONE swap write (the single-stream
    * verb costs a swap per call — fine interactively, quadratic for a
    * many-streams fixture). Existing ids are
    * skipped (idempotent); sources referenced by derived specs may be
    * earlier entries of the SAME batch. Validation mirrors the
    * single-stream verb: unknown value type, missing derive sources
    * (`StreamNotFound`), granularity mismatch (`IncompatibleGranularities`).
    */
  def ensureStreams(specs: Seq[StreamMeta]): Unit = {
    if (specs.isEmpty) return
    specs.foreach { s =>
      require(ValueType.all(s.value_type),
        s"unsupported value type ${s.value_type}")
      // the single-stream verb takes the Granularity/op types, so it cannot
      // be invalid; the batch specs carry STRINGS — admit nothing the rest
      // of the engine would choke on (a typo'd granularity produces null
      // bucket timestamps deep inside the join-based sum derive)
      Granularity(s.highest_granularity) // throws on unknown names
      s.derive_op.filterNot(Derive.ops).foreach { op =>
        throw new errors.InvalidOperatorArguments(s"unknown derive op $op " +
          s"(stream ${s.stream_id})")
      }
    }
    val dupes = specs.groupBy(_.stream_id).collect { case (id, ss) if ss.size > 1 => id }
    require(dupes.isEmpty, s"duplicate stream ids in batch: ${dupes.mkString(", ")}")
    // normalize the downsampler sets exactly as ensureStream would
    val metas = specs.map(s => s.copy(
      value_downsamplers = ValueType.valueDownsamplers(s.value_type).toSeq.sorted,
      time_downsamplers = Downsamplers.allTime.toSeq.sorted,
      earliest_datapoint = None, latest_datapoint = None,
      downsampled_until = Map.empty))
    // driver-side validation against batch-local sources plus the
    // in-memory registry for the rest
    val granByIdLocal = metas.map(m => m.stream_id -> m.highest_granularity).toMap
    val reg = registry.byId
    metas.foreach { m =>
      m.derived_from.foreach { src =>
        val srcGran = granByIdLocal.get(src)
          .orElse(reg.get(src).map(_.highest_granularity))
          .getOrElse(throw new errors.StreamNotFound(s"no such stream: $src"))
        if (srcGran != m.highest_granularity)
          throw new errors.IncompatibleGranularities(
            s"derived stream ${m.stream_id} at ${m.highest_granularity} " +
              s"from $src at $srcGran")
      }
    }
    // one swap: existing rows win (idempotent ensure), new rows appended
    withWriterLock("ensure_batch") {
      val live = registry
      swapRegistry(live.rows ++ metas.filterNot(m => live.byId.contains(m.stream_id)))
    }
  }

  def findStreams(tagQuery: Map[String, String] = Map.empty): DataFrame =
    StreamRegistry.findStreams(streams, tagQuery)

  /** `find_streams` with Mongo-style operator predicates (`$gt`/`$in`/
    * `$exists`/prefix …) — see [[StreamRegistry.findStreamsWhere]].
    */
  def findStreamsWhere(query: Map[String, Seq[StreamRegistry.TagPred]]): DataFrame =
    StreamRegistry.findStreamsWhere(streams, query)

  /** `find_streams` over a full query document — `$or`/`$and` composition
    * with operator leaves — see [[StreamRegistry.findStreamsQuery]].
    */
  def findStreamsQuery(q: StreamRegistry.TagQuery): DataFrame =
    StreamRegistry.findStreamsQuery(streams, q)

  /** Merge `tags` into every stream matching `tagQuery` (new values win on
    * key collision) — the reference's `Datastream.update_tags`
    * [ds :: api.py :: Datastream.update_tags]. One swap write; returns
    * the number of streams retagged. The count and the rewrite both read
    * the same in-memory registry generation.
    */
  def updateTags(tagQuery: Map[String, String],
                 tags: Map[String, String]): Long = {
    if (tags.isEmpty) return 0L
    val matched = StreamRegistry.findStreams(streams, tagQuery)
      .select(col("stream_id"), lit(true).as("_m"))
    val n = matched.collect().length.toLong // local rows: no Spark job
    if (n == 0) return 0L
    // merge = old tags minus overridden keys, then concat the new map —
    // deterministic override without relying on a mapKeyDedupPolicy setting
    val newKeys = tags.keys.toSeq
    val merged = map_concat(
      map_filter(col("tags"), (k, _) => !k.isin(newKeys: _*)),
      typedLit(tags))
    val updated = streams.join(matched, Seq("stream_id"), "left")
      .withColumn("tags", when(col("_m").isNotNull, merged).otherwise(col("tags")))
      .drop("_m")
    withWriterLock("update_tags")(swapRegistry(updated))
    n
  }

  /** Remove tag keys from every stream matching `tagQuery` — the
    * reference's `Datastream.remove_tag` [ds :: api.py ::
    * Datastream.remove_tag], generalized to a key set. Missing keys are
    * ignored. Returns the number of matched streams.
    */
  def removeTags(tagQuery: Map[String, String], keys: Seq[String]): Long = {
    if (keys.isEmpty) return 0L
    val matched = StreamRegistry.findStreams(streams, tagQuery)
      .select(col("stream_id"), lit(true).as("_m"))
    val n = matched.collect().length.toLong
    if (n == 0) return 0L
    val pruned = map_filter(col("tags"), (k, _) => !k.isin(keys: _*))
    val updated = streams.join(matched, Seq("stream_id"), "left")
      .withColumn("tags", when(col("_m").isNotNull, pruned).otherwise(col("tags")))
      .drop("_m")
    withWriterLock("remove_tags")(swapRegistry(updated))
    n
  }

  /** Refuse while a surviving derived stream of `rows` depends on a
    * stream of `doomed` (a frame with a `stream_id` column), naming up to
    * five `[source,derived]` pairs.
    */
  private def refuseOutstandingDependencies(rows: Seq[StreamMeta],
                                            doomed: DataFrame): Unit = {
    val viol = StreamRegistry.outstandingDependencies(rows, doomed)
    if (viol.nonEmpty)
      throw new errors.OutstandingDependenciesError(
        viol.take(5).map { case (d, src) => s"[$src,$d]" }.mkString(", "))
  }

  /** Refuses while surviving derived streams depend on doomed ones
    * (`OutstandingDependenciesError`); deletes metadata AND all datapoints —
    * raw, derived and every rollup level, like the reference's delete of
    * all per-granularity collections [ds :: backends/mongodb.py ::
    * delete_streams]. The Delta `DELETE WHERE stream_id IN (...)` shape:
    * the touched files come from the commit log and only those are
    * rewritten, through the one copy-on-write path ([[rewriteFiles]]).
    * Per table:
    *
    *  1. candidates: every committed file whose stream id ([[keepFile]]:
    *     the derived table's `stream_id=` directory, else footer sid
    *     bounds and bloom) may be doomed, over ALL time — the registry
    *     bounds are no safe window, rows appended while a stream was
    *     unregistered (or by a foreign writer, then adopted) lie outside
    *     them;
    *  2. a candidate that provably holds only doomed rows
    *     ([[soleStream]] is doomed) is retired without being read — every
    *     derived file of a doomed stream, for one;
    *  3. the other candidates go through ONE `_metadata.file_path` scan,
    *     semi-joined to the doomed ids (an IN filter), which names the
    *     files that really hold doomed rows; only those are rewritten,
    *     minus the doomed ids.
    *
    * The registry swap comes last: the rewrites publish nothing until the
    * manifest commits, so a crash anywhere before leaves the warehouse,
    * registry included, on the pre-mutation snapshot. Only the
    * swap→commit tail (milliseconds) can leave the registry ahead of the
    * data; the intent marker flags that window. Returns the number of
    * streams deleted.
    */
  def deleteStreams(tagQuery: Map[String, String]): Long = {
    val reg = registry
    val all = reg.frame
    val doomed0 = StreamRegistry.findStreams(all, tagQuery)
    refuseOutstandingDependencies(reg.rows, doomed0)
    // from the in-memory registry generation: local rows the registry swap
    // at the end cannot change
    val doomedSorted = doomed0.select("stream_id").collect()
      .map(_.getString(0)).sorted.toIndexedSeq
    // an IN filter, not a broadcast join: the id set is already on the
    // driver, and a broadcast costs a Spark job per plan
    val isDoomed = col("stream_id").isInCollection(doomedSorted)
    withCommit("delete_streams") {
      if (doomedSorted.nonEmpty) {
        val snap = rawSnapshot
        val mixed = dataTables.map { case (table, schema, _) =>
          val (pure, rest) = committedFilesWhere(table)(
              keepFile(_, table, _, None, Some(doomedSorted)))
            .partition(f => soleStream(snap, table, f)
              .exists(sid => anyIdInRange(doomedSorted, sid, sid)))
          retireFiles(table, pure)
          (table, schema, rest)
        }
        val held = filesHolding(mixed.filter(_._3.nonEmpty), isDoomed)
        Concurrency.inParallel(dataTables.flatMap { case (table, schema, partCol) =>
          held.get(table).map(files => () =>
            rewriteFiles(table, schema, Seq(partCol), files)(
              _.where(col("stream_id").isNull || !isDoomed)))
        })
      }
      // crash seam for tests: the instant after ALL data rewrites, before
      // the registry swap — the widest mid-purge window, where isolation
      // must be total (nothing committed, registry untouched)
      if (crashBeforeCommitOf("delete_streams_purge"))
        throw new IllegalStateException("injected crash mid delete_streams")
      swapRegistry(all.where(!isDoomed))
    }
    doomedSorted.size.toLong
  }

  /** Which of `files` (per table, with its read schema) hold a row
    * matching `pred`: ONE scan of their `stream_id` and
    * `_metadata.file_path` over all the tables, each task deduplicating
    * its own paths, so the answer costs one Spark job and no shuffle.
    */
  private def filesHolding(
      files: Seq[(String, org.apache.spark.sql.types.StructType, Set[String])],
      pred: org.apache.spark.sql.Column): Map[String, Set[String]] =
    if (files.isEmpty) Map.empty
    else {
      import spark.implicits._
      // `_metadata.file_path` is a URL-encoded URI; decoded and qualified
      // it matches the table root plus the relative path
      def key(p: org.apache.hadoop.fs.Path) = io.fs.makeQualified(p).toUri.getPath
      val byKey = files.flatMap { case (table, _, fs) =>
        fs.toSeq.map(f =>
          key(new org.apache.hadoop.fs.Path(s"${tablePath(table)}/$f")) -> (table, f))
      }.toMap
      files.map { case (table, schema, fs) =>
          readFiles(table, schema, fs)
            .select(col("stream_id"), col("_metadata.file_path").as("path"))
        }.reduce(_.unionByName(_))
        .where(pred).select("path").as[String].mapPartitions(_.toSet.iterator)
        .collect().toSet
        .map((p: String) =>
          byKey(key(new org.apache.hadoop.fs.Path(java.net.URI.create(p)))))
        .groupMap(_._1)(_._2)
    }

  // ---- row-level deletes (GDPR takedown; Iceberg-style equality deletes) --

  private def usOfTs(t: Timestamp): Long =
    t.toInstant.getEpochSecond * 1000000L + t.toInstant.getNano / 1000L

  /** Every committed file of `table` that MAY hold rows of any
    * `(loUs, hiUs, sortedSids)` group — decided purely from the manifest's
    * per-file ts bounds / sid bounds / sid bloom and the derived table's
    * stream directories ([[keepFile]]), so provably-disjoint files are
    * never rewritten. Pruning by the manifest's REAL `ts` stats (not the
    * `dp_date` partition dir) also catches rows a foreign writer placed in
    * a mismatched partition. `sids = None` is the PAST-THE-BOUND
    * fallback: a mutation touching more distinct streams than the driver
    * may collect prunes by time range only.
    */
  private def touchedByRanges(table: String,
      groups: Seq[(Long, Long, Option[IndexedSeq[String]])]): Set[String] =
    committedFilesWhere(table)((s, f) => groups.exists { case (lo, hi, sids) =>
      keepFile(s, table, f, Some((lo, hi)), sids)
    })

  /** Copy-on-write survivor rewrite ([[rewriteFiles]]) of the files
    * [[touchedByRanges]] selects, voiding rows matching `ranges` with the
    * same broadcast anti-join the merge-on-read path applies at read time
    * — one code path, one semantics.
    */
  private def rewriteMinusRanges(table: String,
                                 schema: org.apache.spark.sql.types.StructType,
                                 partCol: String,
                                 groups: Seq[(Long, Long, Option[IndexedSeq[String]])],
                                 ranges: DataFrame,
                                 hinted: Boolean = true): Unit =
    rewriteFiles(table, schema, Seq(partCol), touchedByRanges(table, groups))(
      minusDeleted(_, Some(ranges), hinted))

  /** Purge + recompute the rollup buckets a row delete or an upsert
    * invalidated, inside the mutation's own commit — so the cascade is
    * never observably inconsistent with the post-mutation fact table.
    * `groups` are `(loUs, hiUs, sids)` windows as [[touchedByRanges]]
    * takes them; at level g a group's window is `[winLo_g, winHi_g]`, its
    * ends aligned down to g. `sids = None` is the past-the-bound fallback:
    * `doomedIds` then names the streams (a semi-join) and file pruning
    * degrades to time-range-only. One pass for all seven levels:
    *
    *  1. ONE purged-key frame `(granularity, stream_id, bucket_start)`,
    *     checkpointed (the rewrite below replaces the files it is read
    *     from): each level's committed rows of the groups' streams inside
    *     their windows and, with `upsertKeys`, the FINALIZED bucket of
    *     every upserted key at each level — `bucket_start <
    *     downsampled_until[g]`, the predicate the maintenance watermark
    *     advances under — whether or not it exists yet. An upsert into a
    *     finalized GAP bucket must materialize it now: maintenance never
    *     revisits it. Buckets at or above the watermark are maintenance's:
    *     adding one here would double its rows when the cascade finalizes.
    *     One collect of its `(granularity, bucket_date)` pairs says
    *     whether anything was purged and where the write may land.
    *  2. ONE recompute: the SURVIVING fact rows of the groups' streams in
    *     their coarsest windows, routed as raw points to every purged
    *     level ([[Downsample.routedRollup]]) under the bounds
    *     `[winLo_g, winHi_g + dur_g)` spanning the groups, semi-joined to
    *     the purged keys. Bit-identical to aggregating each level from
    *     raw ([[Downsample.pointPartial]]); a bucket whose rows were all
    *     deleted simply vanishes.
    *  3. ONE rewrite of `rollup/` ([[rewriteFiles]]): each purged level's
    *     touched files are retired, and their rows minus the purged keys
    *     plus the recomputed rows are written once, partitioned by
    *     `(granularity, bucket_date)`.
    *
    * Work is proportional to the mutated windows × streams, never the
    * table.
    */
  private def repairRollups(groups: Seq[(Long, Long, Option[IndexedSeq[String]])],
                            doomedIds: Option[DataFrame] = None,
                            upsertKeys: Option[DataFrame] = None): Unit = {
    import spark.implicits._
    val ladder = Granularity.ladder
    def dur(g: Granularity) = g.durationSeconds * 1000000L
    def align(us: Long, g: Granularity) = us - java.lang.Math.floorMod(us, dur(g))
    // the groups' windows aligned to level g; `whole` extends each to the
    // end of its last bucket
    def at(g: Granularity, whole: Boolean = false) = groups.map { case (lo, hi, sids) =>
      (align(lo, g), align(hi, g) + (if (whole) dur(g) - 1 else 0L), sids)
    }
    // rows of `df` of some group's streams with `t` inside that group's
    // window, both ends inclusive
    def inGroups(df: DataFrame, t: String,
                 windows: Seq[(Long, Long, Option[IndexedSeq[String]])]): DataFrame = {
      val kept = df.where(windows.map { case (a, b, sids) =>
        sids.fold(lit(true))(col("stream_id").isInCollection(_)) &&
          col(t) >= tsLit(a) && col(t) <= tsLit(b)
      }.reduce(_ || _))
      doomedIds.fold(kept)(kept.join(_, Seq("stream_id"), "left_semi"))
    }
    val committed = ladder.flatMap { g =>
      commitRead(s"rollup/granularity=${g.name}", Schemas.downsampledPartitioned, at(g))
        .map(inGroups(_, "bucket_start", at(g))
          .select(lit(g.name).as("granularity"), col("stream_id"), col("bucket_start")))
    }
    val finalized = upsertKeys.map { keys =>
      // watermarks from the in-memory registry generation
      val marks = groups.head._3.fold(registry.rows)(_.flatMap(registry.byId.get))
        .map(m => m.stream_id -> (ladder.map(g => Option(m.downsampled_until)
          .flatMap(_.get(g.name)).getOrElse(Long.MinValue)): Seq[Long]))
      val buckets = ladder.zipWithIndex.map { case (g, i) =>
        val b = Downsample.bucketStart(col("ts"), g)
        when(unix_micros(b) < element_at(col("_wm"), i + 1),
          struct(lit(g.name).as("granularity"), b.as("bucket_start")))
      }
      keys.join(marks.toDF("stream_id", "_wm"), "stream_id")
        .select(col("stream_id"), explode(filter(array(buckets: _*), _.isNotNull)).as("_k"))
        .select(col("_k.granularity"), col("stream_id"), col("_k.bucket_start"))
    }
    val key = Seq("granularity", "stream_id", "bucket_start")
    (committed ++ finalized).reduceOption(_.unionByName(_)).foreach { all =>
      val (purged, rdds) = Plans.checkpointTracked(all.distinct())
      try {
        val dates = purged.select(col("granularity"), to_date(col("bucket_start")).cast("string"))
          .as[(String, String)].mapPartitions(_.toSet.iterator).collect().toSet
        val levels = ladder.indices.filter(i => dates.exists(_._1 == ladder(i).name))
        val touched = levels.map(ladder).flatMap(g =>
          touchedByRanges(s"rollup/granularity=${g.name}", at(g)).map(f => s"granularity=${g.name}/$f"))
        val days = at(ladder.last, whole = true)
        val cols = Seq("stream_id", "ts", "value").map(col)
        val fact = Seq(commitRead("raw", Schemas.rawDatapointsPartitioned, days),
            commitRead("derived", Schemas.rawDatapoints, days)).flatten.map(_.select(cols: _*))
          .reduceOption(_.unionByName(_))
          .getOrElse(readFiles("raw", Schemas.rawDatapoints, Nil).select(cols: _*))
        // commitRead sees this commit's own writes: the in-flight delete file
        // (merge-on-read) or the already-rewritten raw (copy-on-write), plus
        // every previously committed range — one uniform survivor view
        val survivors = minusDeleted(inGroups(fact, "ts", days),
          commitRead("raw_deletes", Schemas.rawDeletes))
        val los = ladder.map(at(_).map(_._1).min)
        val his = ladder.map(g => at(g).map(_._2).max + dur(g))
        val recomputed = Downsample.routedRollup(
            Downsample.pointPartial(survivors)
              .withColumn("_src", lit(-1)).withColumn("_lb", typedLit(los)),
            ladder, his, levels)
          .join(purged, key, "left_semi")
          .withColumn("bucket_date", to_date(col("bucket_start")))
        rewriteFiles("rollup", Schemas.downsampledPartitioned.add("granularity", "string"),
            Seq("granularity", "bucket_date"), touched.toSet,
            extraScope = dates.toSeq.map { case (g, d) => s"granularity=$g/bucket_date=$d" }) {
          _.join(purged, key, "left_anti").unionByName(recomputed)
        }
      } finally rdds.foreach(_.unpersist(blocking = false))
    }
  }

  /** ROW-LEVEL DELETE — the takedown/right-to-be-forgotten verb a training
    * corpus needs and [[deleteStreams]] (whole-stream) cannot express: void
    * every datapoint of the streams matching `tagQuery` with `ts` in the
    * INCLUSIVE `[start, end]` range. Two physical strategies
    * ([[DeleteMode]]):
    *
    *  - merge-on-read (default): ONE tiny equality-delete file is committed
    *    to the `raw_deletes` table; every snapshot read applies it as a
    *    broadcast anti-join until [[applyDeletes]] rewrites it away. The
    *    commit is O(metadata) regardless of table size — the right shape
    *    for point deletes on a 100 TB table.
    *  - copy-on-write: the manifest-pruned touched files are rewritten in
    *    this commit (survivors only); nothing is left for readers to merge.
    *
    * Both strategies repair the downsample cascade in the SAME commit, in
    * one pass over all seven levels ([[repairRollups]]): the doomed
    * streams' rollup rows overlapping the window are recomputed from the
    * surviving rows (or vanish when emptied), so `get_data` at any
    * granularity is consistent with the post-delete fact table the moment
    * the commit lands. Time travel to a pre-delete version
    * still serves the deleted rows until vacuum; [[restore]] undoes the
    * delete wholesale.
    *
    * Refused while any doomed stream has dependent derived streams
    * (`OutstandingDependenciesError`) — their derived values would silently
    * keep encoding the deleted rows; delete or reprocess the dependents
    * first. Registry bounds (`earliest/latest_datapoint`) are NOT shrunk:
    * they remain a correct (wider) pruning envelope, and the monotone-append
    * contract deliberately still measures against the pre-delete tail — a
    * takedown must not reopen history for rewriting.
    *
    * Returns the exact number of rows voided (0 = no-op, nothing committed).
    */
  def deleteDatapoints(tagQuery: Map[String, String],
                       start: Timestamp, end: Timestamp,
                       mode: DeleteMode = DeleteMode.MergeOnRead,
                       maxPruneStreams: Int =
                         Datastream.DefaultMaxPruneStreams): Long =
    deleteDatapointsFrom(StreamRegistry.findStreams(streams, tagQuery),
      start, end, mode, maxPruneStreams)

  /** [[deleteDatapoints]] over the full tag-query ALGEBRA (operator
    * leaves, `$or`/`$and` composition, `$regex` — everything
    * [[findStreamsQuery]] accepts), so a takedown can target exactly the
    * stream population a compliance query selects.
    */
  def deleteDatapointsWhere(query: StreamRegistry.TagQuery,
                            start: Timestamp, end: Timestamp,
                            mode: DeleteMode = DeleteMode.MergeOnRead,
                            maxPruneStreams: Int =
                              Datastream.DefaultMaxPruneStreams): Long =
    deleteDatapointsFrom(StreamRegistry.findStreamsQuery(streams, query),
      start, end, mode, maxPruneStreams)

  private def deleteDatapointsFrom(doomed0: DataFrame,
                                   start: Timestamp, end: Timestamp,
                                   mode: DeleteMode,
                                   maxPruneStreams: Int =
                                     Datastream.DefaultMaxPruneStreams): Long = {
    if (start == null || end == null)
      throw new errors.InvalidTimestamp(
        "delete_datapoints: start and end must both be set (the verb is " +
          "range-scoped by contract; use delete_streams to drop a stream)")
    if (start.after(end))
      throw new errors.InvalidTimestamp(
        s"delete_datapoints: start $start is after end $end")
    refuseOutstandingDependencies(registry.rows, doomed0)
    // BOUNDED driver collect (the house head(max+1) fail-fast): the id set
    // drives driver-side manifest pruning and must survive any registry
    // rewrite underneath — but a takedown matching millions of streams must
    // refuse loudly, not OOM the driver mid-collect. `maxPruneStreams = 0`
    // is the documented distributed fallback: no id set is ever collected,
    // file pruning degrades to time-range-only, the stream predicate stays
    // exact via the (then shuffle-joined, un-hinted) semi-join, and the id
    // frame is CHECKPOINTED so its contents survive any concurrent registry
    // rewrite (the same guarantee the collected set gives the bounded
    // path). The fallback is COPY-ON-WRITE ONLY: a merge-on-read delete
    // file is metadata-scale by contract — every read broadcasts it and
    // maintenance collects it — so a stream-count-sized one must be
    // refused, not written.
    if (maxPruneStreams <= 0 && mode == DeleteMode.MergeOnRead)
      throw new IllegalArgumentException(
        "delete_datapoints: the distributed path (maxPruneStreams = 0) " +
          "supports CopyOnWrite only — a merge-on-read delete file is " +
          "metadata-scale by contract (reads broadcast it; applyDeletes " +
          "collects it), which an unbounded matched-stream set would break")
    // registry-derived: stream_id is unique by construction (findStreams
    // filters the registry), so no dedup shuffle is spent here
    val doomedDistinct = doomed0.select("stream_id")
    val doomedSorted: Option[IndexedSeq[String]] =
      if (maxPruneStreams <= 0) None
      else {
        val head = doomedDistinct
          .limit(maxPruneStreams + 1).collect().map(_.getString(0))
        if (head.length > maxPruneStreams)
          throw new IllegalArgumentException(
            s"delete_datapoints: matched stream set exceeds " +
              s"maxPruneStreams=$maxPruneStreams — the id set is collected " +
              "to drive manifest pruning; raise maxPruneStreams " +
              "deliberately or pass maxPruneStreams = 0 for the " +
              "distributed (time-range-pruned, copy-on-write) path")
        Some(head.sorted.toIndexedSeq)
      }
    if (doomedSorted.exists(_.isEmpty)) return 0L
    val loUs = usOfTs(start)
    val hiUs = usOfTs(end)
    import spark.implicits._
    val hinted = doomedSorted.isDefined
    val (doomedIds, doomedRdds) = doomedSorted match {
      case Some(sids) => (sids.toDF("stream_id"), Seq.empty[org.apache.spark.rdd.RDD[_]])
      case None => Plans.checkpointTracked(doomedDistinct)
    }
    // the fallback's id frame; the bounded path filters by its id set
    // (an IN filter: a broadcast costs a Spark job per plan)
    val fallbackIds = if (hinted) None else Some(doomedIds)
    try {
      // exact voided-row count (the verb's return value): counted through
      // the CURRENT snapshot, so rows an earlier delete already voided are
      // not double-counted. `streamIds` below is FILE-level skipping only
      // (a superset by contract) — the IN filter or semi-join is the exact
      // stream predicate.
      val inRange = rawDatapointsInRange(Some(start), Some(end), None, doomedSorted)
      val matched = doomedSorted.fold(inRange.join(doomedIds, Seq("stream_id"), "left_semi"))(
          ids => inRange.where(col("stream_id").isInCollection(ids)))
        .where(col("ts") >= lit(start) && col("ts") <= lit(end)).count()
      if (matched == 0L) return 0L
      val ranges = doomedIds
        .select(col("stream_id"), lit(loUs).as("lo_us"), lit(hiUs).as("hi_us"))
      withCommit("delete_datapoints") {
        mode match {
          case DeleteMode.MergeOnRead =>
            scopeWrite("raw_deletes")
            // one shard: the delete file is metadata-sized by contract
            // (the bounded path is the only way here — see the refusal)
            ranges.coalesce(1).write.mode(SaveMode.Append)
              .parquet(tablePath("raw_deletes"))
          case DeleteMode.CopyOnWrite =>
            factTables.foreach { case (table, schema, partCol) =>
              rewriteMinusRanges(table, schema, partCol,
                Seq((loUs, hiUs, doomedSorted)), ranges, hinted)
            }
        }
        // crash seam for tests: after the fact-table mutation, before the
        // rollup repair — isolation must be total (nothing visible)
        if (crashBeforeCommitOf("delete_datapoints_repair"))
          throw new IllegalStateException(
            "injected crash mid delete_datapoints")
        repairRollups(Seq((loUs, hiUs, doomedSorted)), fallbackIds)
      }
      matched
    } finally doomedRdds.foreach(_.unpersist(blocking = false))
  }

  /** RETENTION EXPIRY — the TTL twin of [[deleteDatapoints]]: void every
    * datapoint strictly BEFORE `before`, across all streams (or the
    * `tagQuery`-matched subset). Merge-on-read by default, so expiring the
    * oldest slice of a 100 TB table is an O(metadata) commit; schedule
    * [[applyDeletes]] + [[vacuumRaw]] to reclaim the bytes. Dependent
    * derived streams need not be re-derived: their post-cutoff values are
    * historical facts computed while the expired rows were live, which is
    * exactly what a retention policy preserves. Returns rows voided.
    */
  def expireDatapoints(before: Timestamp,
                       tagQuery: Map[String, String] = Map.empty,
                       mode: DeleteMode = DeleteMode.MergeOnRead,
                       maxPruneStreams: Int =
                         Datastream.DefaultMaxPruneStreams): Long = {
    if (before == null)
      throw new errors.InvalidTimestamp("expire_datapoints: before must be set")
    val hiUs = usOfTs(before) - 1L // strict: [epoch, before)
    if (hiUs < 0L) return 0L
    deleteDatapoints(tagQuery, new Timestamp(0L), tsOf(hiUs), mode,
      maxPruneStreams)
  }

  /** UPSERT — the merge-by-key write verb (Delta/Iceberg `MERGE INTO`
    * shape): each incoming `(stream_id, ts)` row REPLACES whatever the
    * fact table stores at that exact key, or inserts when the key is new.
    * The correction/late-restatement verb the monotone [[appendMultiple]]
    * contract deliberately refuses — a sensor re-reports a window, a
    * backfill recomputes a slice, an ingest bug's rows get restated.
    *
    * Physical shape is COPY-ON-WRITE (Iceberg's CoW `MERGE`): the
    * manifest-pruned files holding matched keys are rewritten minus those
    * keys, the full batch appends as fresh date-partitioned files, and
    * both land in ONE atomic commit — a reader sees the pre-upsert
    * snapshot or the fully merged table, never a torn middle. Merge-on-
    * read equality deletes are deliberately NOT used here: this format's
    * delete ranges carry no sequence numbers, so a same-commit append at
    * a matched key would be voided by its own delete (the problem Iceberg
    * v2 solves with per-file data sequence numbers). Rather than grow the
    * format, the upsert pays the rewrite — pruned to files that actually
    * contain matched keys (date-partition + manifest-stats pruning), so a
    * pure insert rewrites nothing and a point correction rewrites one
    * file, not the table. No pending-delete state is left behind.
    *
    * The downsample cascade is repaired in the SAME commit, in one pass
    * over all seven levels ([[repairRollups]]): the batch streams' rollup
    * rows inside the batch's time window, and every finalized bucket an
    * upserted key lands in, are recomputed from the post-merge rows —
    * including a finalized GAP bucket the insert creates (maintenance will
    * never revisit it; the repair must materialize it now). Buckets above
    * the watermark are left to maintenance. Registry bounds WIDEN from the
    * batch (least/greatest) — an upsert may extend history at either end.
    *
    * Contract edges, all pinned by tests: the merge key must be unique
    * within the batch (rejected otherwise — "last write wins" inside one
    * batch is unordered nonsense on a distributed frame); multiple stored
    * rows at one key (legal under append's `ts == latest`) all collapse
    * into the single incoming row; derived streams are refused like
    * append; streams with derived dependents are refused like
    * [[deleteDatapoints]] (`OutstandingDependenciesError` — silently
    * rewriting a derivation's inputs would orphan its outputs); CHECK
    * constraints gate the batch at the front door; an empty batch commits
    * nothing and returns 0. Time travel to a
    * pre-upsert version serves the original rows; [[restore]] undoes the
    * merge wholesale.
    *
    * Changefeed/replication interplay (pinned in UpsertSpec): a REPLACING
    * upsert retires raw files, so [[readChanges]]/[[replicateTo]] treat
    * its commit like any raw-rewriting change — loud failure by default,
    * skipped wholesale under `skipChangeCommits` — while a PURE-INSERT
    * upsert retires nothing and flows through the feed as a clean insert
    * commit.
    *
    * Returns the number of stored rows REPLACED (0 = pure insert).
    */
  def upsertDatapoints(points0: DataFrame,
                       maxPruneStreams: Int =
                         Datastream.DefaultMaxPruneStreams): Long =
    upsertRows(points0, maxPruneStreams, txn = None)

  /** [[upsertDatapoints]], committing `txn` (a batch sink's cursor) with
    * the merge.
    */
  private def upsertRows(points0: DataFrame, maxPruneStreams: Int,
                         txn: Option[(String, Long)]): Long = {
    val withJson = if (points0.columns.contains("value_json")) points0
      else points0.withColumn("value_json", lit(null).cast("string"))
    // declared extra columns: batch-supplied values ride, absences null-fill
    // (resolved once per verb, like appendMultiple)
    val rawExtras = rawExtraColumns
    val withExtras = rawExtras.foldLeft(withJson) { case (df, (n, t)) =>
      if (df.columns.contains(n)) df.withColumn(n, col(n).cast(t))
      else df.withColumn(n, lit(null).cast(t))
    }
    val points = withExtras
      .select((Schemas.rawDatapoints.fieldNames.toSeq ++
        rawExtras.map(_._1)).map(col): _*)
      .cache()
    try {
      val cons = checkConstraints
      if (cons.nonEmpty) {
        val bad = points
          .select(violationOf(cons).as("_violated"), col("stream_id"), col("ts"))
          .where(col("_violated").isNotNull).limit(1).collect()
        if (bad.nonEmpty) {
          val b = bad.head
          throw new errors.ConstraintViolation(
            s"upsert rejected by CHECK constraint '${b.getString(0)}' " +
              s"(${cons(b.getString(0))}): e.g. stream ${b.getString(1)} at " +
              s"${b.getTimestamp(2)}")
        }
      }
      // same broadcast-registry validation as append, minus the monotone
      // check (rewriting history is this verb's purpose). ONE aggregation
      // pass answers every validation question AND the driver-side batch
      // facts (bounds, touched dates, duplicate-key presence): lifecycle
      // verbs are dominated by per-action overhead, so the former four
      // actions (dup check, flag aggregation, bounds, touched dates) fold
      // into one job; the failure paths still recompute their examples
      // lazily, paying only when an error is actually thrown.
      val meta = streams.select(col("stream_id"), col("derive_op"),
        col("value_type"))
      val joined = points.join(broadcast(meta), Seq("stream_id"), "left")
      val isDerived = col("derive_op").isNotNull
      val isBadNumeric = col("value_type") === ValueType.Numeric &&
        col("value").isNull
      val isNullKey = col("stream_id").isNull || col("ts").isNull
      val flags = joined.agg(
        sum(when(isDerived, 1L).otherwise(0L)).as("derived"),
        sum(when(isBadNumeric, 1L).otherwise(0L)).as("bad_numeric"),
        count(lit(1)).as("_n"),
        count_distinct(col("stream_id"), col("ts")).as("_nkeys"),
        min("ts").as("_lo"), max("ts").as("_hi"),
        collect_set(to_date(col("ts"))).as("_dates"),
        sum(when(isNullKey, 1L).otherwise(0L)).as("null_keys")).first()
      // an empty batch commits nothing (and its sums above are null)
      if (flags.getLong(2) == 0) return 0L
      // null merge keys are rejected BEFORE any write: the declared write
      // scope below comes from collect_set(to_date(ts)), which drops
      // nulls, so a null-ts row would land in the default partition
      // invisible to the commit's scope diff (silently unadopted file)
      if (flags.getLong(7) > 0)
        throw new IllegalArgumentException(
          s"upsert batch has ${flags.getLong(7)} row(s) with null " +
            "stream_id or ts — merge keys must be non-null")
      // count_distinct skips null-keyed rows, so `_nkeys < _n` is a
      // SUPERSET trigger (null ts/stream_id rows fire it without being
      // duplicates); the groupBy recompute below is the exact test and
      // throws precisely when the old eager check would have
      if (flags.getLong(2) > 0 && flags.getLong(3) < flags.getLong(2)) {
        val dup = points.groupBy("stream_id", "ts").agg(count(lit(1)).as("_n"))
          .where(col("_n") > 1).limit(1).collect()
        if (dup.nonEmpty)
          throw new IllegalArgumentException(
            s"upsert batch has duplicate merge keys, e.g. " +
              s"(${dup.head.getString(0)}, ${dup.head.getTimestamp(1)}) — " +
              "(stream_id, ts) must be unique per batch")
      }
      if (flags.getLong(0) > 0)
        throw new errors.AppendToDerivedStreamNotAllowed(
          joined.where(isDerived).select("stream_id").distinct()
            .collect().map(_.getString(0)).mkString(", "))
      if (flags.getLong(1) > 0)
        throw new IllegalArgumentException(
          s"null value upserted to numeric stream(s): " +
            joined.where(isBadNumeric).select("stream_id").distinct()
              .collect().map(_.getString(0)).mkString(", "))
      val sidDf = points.select("stream_id").distinct()
      refuseOutstandingDependencies(registry.rows, sidDf)
      val loTs = flags.getTimestamp(4)
      val hiTs = flags.getTimestamp(5)
      val touchedDates = flags.getSeq[java.sql.Date](6)
        .map(d => s"dp_date=$d").sorted
      // BOUNDED batch-scale collect (house head(max+1) fail-fast): the id
      // set drives manifest pruning, but a batch touching millions of
      // streams must refuse loudly, not OOM the driver mid-collect.
      // `maxPruneStreams = 0` is the documented distributed fallback: no
      // collect, time-range-only file pruning, semi-joins carry the exact
      // stream predicate without a broadcast hint.
      val sidsSorted: Option[IndexedSeq[String]] =
        if (maxPruneStreams <= 0) None
        else {
          val head = sidDf.limit(maxPruneStreams + 1).collect()
            .map(_.getString(0))
          if (head.length > maxPruneStreams)
            throw new IllegalArgumentException(
              s"upsert batch touches more than maxPruneStreams=" +
                s"$maxPruneStreams distinct streams — the id set is " +
                "collected to drive manifest pruning; raise " +
                "maxPruneStreams deliberately or pass maxPruneStreams = 0 " +
                "for the distributed (time-range-pruned) path")
          Some(head.sorted.toIndexedSeq)
        }
      val keys = points.select("stream_id", "ts")
      // matched through the CURRENT snapshot (earlier-voided rows excluded).
      // The per-key match COUNT rides the same checkpointed frame (`_n`),
      // so nReplaced is a sum over the tiny materialized key set instead of
      // a second full manifest-pruned fact scan + semi-join.
      val matchedRows = rawDatapointsInRange(Some(loTs), Some(hiTs), None,
          sidsSorted)
        .join(keys, Seq("stream_id", "ts"), "left_semi")
      val (matchedKeyCounts, mRdds) = Plans.checkpointTracked(
        matchedRows.groupBy(col("stream_id"),
            unix_micros(col("ts")).as("lo_us"))
          .agg(count(lit(1)).as("_n"))
          .select(col("stream_id"), col("lo_us"),
            col("lo_us").as("hi_us"), col("_n"))
          .coalesce(1))
      val matchedKeys = matchedKeyCounts.drop("_n")
      try {
        val nReplaced = matchedKeyCounts
          .agg(coalesce(sum("_n"), lit(0L))).first().getLong(0)
        withCommit("upsert_datapoints", txn = txn) {
          if (nReplaced > 0) {
            // copy-on-write: retire the snapshot files overlapping the
            // matched streams×window, rewrite them minus the matched keys
            // (point ranges, lo_us = hi_us); survivors land as fresh files.
            // Past the collect bound the matched-keys frame is batch-scale
            // with no size guarantee — no broadcast hint there.
            rewriteMinusRanges("raw", rawSchemaPartitioned, "dp_date",
              Seq((usOfTs(loTs), usOfTs(hiTs), sidsSorted)),
              matchedKeys, hinted = sidsSorted.isDefined)
          }
          // touched dates come from the single validation aggregation above
          scopeWrite("raw", touchedDates)
          points.withColumn("dp_date", to_date(col("ts")))
            .write.mode(SaveMode.Append).partitionBy("dp_date")
            .parquet(rawPath)
          // widen bounds from the whole batch (inserts can extend history)
          val bounds = points.groupBy("stream_id")
            .agg(min("ts").as("_lo"), max("ts").as("_hi"))
          val updated = streams.join(bounds, Seq("stream_id"), "left")
            .withColumn("earliest_datapoint",
              when(col("_lo").isNotNull,
                least(coalesce(col("earliest_datapoint"), col("_lo")),
                  col("_lo")))
                .otherwise(col("earliest_datapoint")))
            .withColumn("latest_datapoint",
              when(col("_hi").isNotNull,
                greatest(coalesce(col("latest_datapoint"), col("_hi")),
                  col("_hi")))
                .otherwise(col("latest_datapoint")))
            .drop("_lo", "_hi")
          swapRegistry(updated)
          repairRollups(Seq((usOfTs(loTs), usOfTs(hiTs), sidsSorted)),
            if (sidsSorted.isEmpty) Some(sidDf) else None, upsertKeys = Some(keys))
        }
        nReplaced
      } finally mRdds.foreach(_.unpersist(blocking = false))
    } finally points.unpersist()
  }

  /** Rewrite every fact file the active merge-on-read delete files touch
    * (manifest-pruned — provably-disjoint files are untouched) and retire
    * the delete files themselves: the "compact the deletes away" verb
    * (Iceberg's rewrite of delete files), after which reads pay no
    * anti-join and [[generateSymlinkManifest]] export is legal again.
    * Returns the number of delete ranges applied (0 = nothing pending,
    * nothing committed).
    */
  def applyDeletes(): Long = {
    val rangeRows = deleteRangesList(rawSnapshot)
    if (rangeRows.isEmpty) return 0L
    import spark.implicits._
    withCommit("apply_deletes") {
      val ranges = rangeRows.toDF("stream_id", "lo_us", "hi_us")
      // group by window so per-file pruning is O(files × windows) with one
      // sorted-sid-set probe each, not O(files × ranges)
      val groups = rangeRows.groupBy(r => (r._2, r._3)).toSeq.map {
        case ((lo, hi), rs) => (lo, hi, Some(rs.map(_._1).sorted.toIndexedSeq))
      }
      factTables.foreach { case (table, schema, partCol) =>
        rewriteMinusRanges(table, schema, partCol, groups, ranges)
      }
      retireFiles("raw_deletes", committedFiles("raw_deletes"))
      ()
    }
    rangeRows.size.toLong
  }

  // ---- CHECK constraints (ingest expectations) -----------------------------

  private def constraintsPath = s"$warehouse/_constraints"

  private def constraintVersions: Seq[Long] =
    io.childNames(constraintsPath)
      .filter(n => n.startsWith("v") && n.endsWith(".tsv"))
      .flatMap(_.stripPrefix("v").stripSuffix(".tsv").toLongOption)

  /** The active CHECK constraints: name → boolean SQL expression over the
    * appended columns (`stream_id`, `ts`, `value`, `value_json`) — the
    * ingest-side data-quality expectations a lakehouse table declares
    * (Delta's `CHECK` constraints). Enforced on EVERY append path (direct,
    * batch, streaming — they all funnel through [[appendMultiple]]): a
    * batch containing any violating row is rejected whole with the pinned
    * [[errors.ConstraintViolation]] naming the constraint and a sample
    * row, BEFORE anything is written. SQL-standard tri-state: only FALSE
    * violates; NULL passes. Stored as monotone versioned files beside the
    * commit log (readers take the max version, so no store needs an
    * atomic overwrite), mutated only under the writer lock; a
    * declaration is not a commit and does not appear in [[history]].
    */
  def checkConstraints: Map[String, String] = {
    val vs = constraintVersions
    if (vs.isEmpty) Map.empty
    else {
      val body = io.readString(s"$constraintsPath/v${vs.max}.tsv")
      body.split('\n').iterator.filter(_.nonEmpty).map { line =>
        val i = line.indexOf('\t')
        line.substring(0, i) -> line.substring(i + 1)
      }.toMap
    }
  }

  private def writeConstraints(m: Map[String, String]): Unit = {
    io.mkdirs(constraintsPath)
    val next = constraintVersions.foldLeft(0L)(math.max) + 1L
    io.writeString(s"$constraintsPath/v$next.tsv",
      m.toSeq.sorted.map { case (n, e) => s"$n\t$e" }.mkString("\n"))
    // sweep older versions — a crash mid-sweep leaves extras whose max
    // still wins
    constraintVersions.filter(_ < next)
      .foreach(v => io.deleteFile(s"$constraintsPath/v$v.tsv"))
  }

  /** The per-row "which constraint failed" projection: first (by name) of
    * the constraints whose expression is FALSE for the row, else null.
    */
  private def violationOf(cons: Map[String, String]): org.apache.spark.sql.Column =
    coalesce(cons.toSeq.sortBy(_._1).map { case (n, e) =>
      when(coalesce(expr(e), lit(true)) === false, lit(n))
    }: _*)

  /** Declare a CHECK constraint. Refused (loudly, nothing recorded) when
    * the name is already taken, the expression does not analyze against
    * the fact-row schema, or ANY existing visible row violates it —
    * Delta's add-constraint contract: the declaration is a promise about
    * the whole table, so dirty history must be deleted or reprocessed
    * first. The existence probe is a limit-1 scan with the predicate
    * pushed down, not a full materialization.
    */
  def addCheckConstraint(name: String, expression: String): Unit = {
    if (!name.matches("[A-Za-z_][A-Za-z0-9_]*"))
      throw new IllegalArgumentException(
        s"constraint name '$name' must match [A-Za-z_][A-Za-z0-9_]*")
    withWriterLock("constraints") {
      val cur = checkConstraints
      if (cur.contains(name))
        throw new IllegalArgumentException(
          s"constraint '$name' already exists (drop it first to replace)")
      // analyzes + type-checks the expression against the fact schema
      // (throws AnalysisException on a bad reference or non-boolean)
      val probe = spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        Schemas.rawDatapoints).where(expr(expression))
      probe.queryExecution.analyzed
      val dirty = rawDatapoints
        .where(coalesce(expr(expression), lit(true)) === false)
        .select("stream_id", "ts", "value").limit(1).collect()
      if (dirty.nonEmpty)
        throw new errors.ConstraintViolation(
          s"cannot add constraint '$name' ($expression): existing row " +
            s"violates it, e.g. ${dirty.head} — delete or reprocess the " +
            "violating history first")
      writeConstraints(cur + (name -> expression))
    }
  }

  /** Drop a declared CHECK constraint; unknown names fail loudly. */
  def dropCheckConstraint(name: String): Unit = withWriterLock("constraints") {
    val cur = checkConstraints
    if (!cur.contains(name))
      throw new IllegalArgumentException(
        s"constraint '$name' does not exist " +
          s"(declared: ${cur.keys.toSeq.sorted.mkString(", ")})")
    writeConstraints(cur - name)
  }

  // ---- ingest (S1/S2, T3) -------------------------------------------------

  def append(streamId: String, value: Double, ts: Timestamp,
             checkTimestamp: Boolean = true): Unit =
    appendMultiple(Seq((streamId, ts, value)).toDF("stream_id", "ts", "value"),
      checkTimestamp)

  /** Bulk append of `(stream_id, ts, value[, value_json])` rows — numeric
    * streams carry `value`, nominal/graph streams carry JSON in `value_json`
    * (F3). Monotonicity policy: every new point must be ≥ the stream's
    * stored latest datapoint. Violations throw `InvalidTimestamp` when
    * `checkTimestamp`, else the stale rows are dropped (the documented batch
    * analog of the reference's opt-out). Appending to a derived stream or a
    * null value to a numeric stream is always an error.
    */
  // ---- additive schema evolution (raw fact table) --------------------------

  /** Declared additive columns on the raw fact table, in declaration
    * order: (name, Spark SQL type DDL). Resolved from the CURRENT
    * manifest — the declaration travels with the snapshot, exactly like
    * the file set.
    */
  def rawExtraColumns: Seq[(String, String)] = rawExtraColumnsAt(None)

  private def rawExtraColumnsAt(v: Option[Long]): Seq[(String, String)] =
    v.orElse(committedVersions.lastOption)
      .map(ver => parseManifest(ver).rawCols).getOrElse(Seq.empty)

  private def evolvedFields(extras: Seq[(String, String)]) =
    extras.map { case (n, t) =>
      org.apache.spark.sql.types.StructField(n,
        org.apache.spark.sql.types.DataType.fromDDL(t), nullable = true)
    }

  /** `Schemas.rawDatapoints` plus the declared extras (and `At` a pinned
    * version: the extras declared AS OF that version — time travel reads
    * the schema the snapshot had, like Delta's per-version metadata).
    */
  private def rawSchemaAt(v: Option[Long]): org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(
      Schemas.rawDatapoints.fields ++ evolvedFields(rawExtraColumnsAt(v)))

  private def rawSchemaPartitioned: org.apache.spark.sql.types.StructType =
    rawSchemaPartitionedAt(None)

  private def rawSchemaPartitionedAt(v: Option[Long]): org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(rawSchemaAt(v).fields :+
      org.apache.spark.sql.types.StructField("dp_date",
        org.apache.spark.sql.types.DateType, nullable = true))

  /** ADD COLUMN for the raw fact table — ADDITIVE-ONLY schema evolution,
    * the Delta/Iceberg `ALTER TABLE ADD COLUMN` shape: declares a new
    * NULLABLE column; files written before the declaration are never
    * rewritten, readers fill the column with NULL for them (parquet
    * schema projection), and every rewrite path (compaction, z-order,
    * copy-on-write delete/upsert, purge) carries the column forward. The
    * declaration commits a metadata-only version whose manifest requires
    * the EVOLVED reader protocol (`#graft v4`), so a pre-evolution binary
    * refuses the warehouse loudly instead of silently dropping the column
    * in its base-schema rewrites.
    *
    * Everything else is an incompatible change and is refused with a
    * pinned error: re-declaring an existing column (any type), a name
    * colliding with the base schema or the partition column, a
    * non-identifier name, an unparseable type.
    */
  def addRawColumn(name: String, dataType: String): Unit = {
    if (!name.matches("[a-z][a-z0-9_]*"))
      throw new IllegalArgumentException(
        s"add_raw_column: invalid column name '$name' — lowercase " +
          "identifier ([a-z][a-z0-9_]*) required")
    val canonical =
      try org.apache.spark.sql.types.DataType.fromDDL(dataType).sql
      catch {
        case scala.util.control.NonFatal(e) =>
          throw new IllegalArgumentException(
            s"add_raw_column: cannot parse type '$dataType': ${e.getMessage}")
      }
    val taken = Schemas.rawDatapointsPartitioned.fieldNames.toSet ++
      rawExtraColumns.map(_._1)
    if (taken(name))
      throw new IllegalArgumentException(
        s"add_raw_column: column '$name' already exists — raw-table " +
          "schema evolution is ADDITIVE-ONLY (rename, retype and drop are " +
          "incompatible changes; declare a fresh column instead)")
    // the append/upsert validation joins pull registry columns alongside
    // the batch (value_type/derive_op/latest/...): a same-named extra
    // would make every later ingest ambiguous — and evolution has no drop
    // verb, so the collision would be PERMANENT. Refuse up front.
    val reserved =
      org.apache.spark.sql.Encoders.product[StreamMeta].schema
        .fieldNames.toSet + "latest"
    if (reserved(name))
      throw new IllegalArgumentException(
        s"add_raw_column: '$name' is reserved — it collides with a " +
          "registry column the ingest validation joins carry alongside " +
          "the batch, which would break every subsequent append")
    withCommit("add_column") {
      pendingRawCols.add((name, canonical)); ()
    }
  }

  /** The raw fact table INCLUDING declared extra columns — the evolved
    * read surface (`rawDatapoints` stays the base-schema raw ∪ derived
    * fact view). Pre-evolution files serve NULL for later-declared
    * columns; merge-on-read row deletes apply exactly as on every other
    * read. With `asOfVersion`, both the file set AND the column set pin
    * to that version.
    */
  def rawDatapointsWithExtras(asOfVersion: Option[Long] = None): DataFrame = {
    val snap = asOfVersion match {
      case Some(v) => Some(snapshotAt(v))
      case None => rawSnapshot
    }
    val schema = rawSchemaAt(asOfVersion)
    val cols = schema.fieldNames.toSeq.map(col)
    val raw = tableReadFrom(snap, "raw", rawSchemaPartitionedAt(asOfVersion))
      .map(_.select(cols: _*))
      .getOrElse(spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema))
    minusDeleted(raw, deleteRangesDF(snap))
  }

  def appendMultiple(points0: DataFrame, checkTimestamp: Boolean = true): Unit =
    appendRows(points0, checkTimestamp, txn = None)

  /** [[appendMultiple]], committing `txn` (a batch sink's cursor) with the
    * rows.
    */
  private def appendRows(points0: DataFrame, checkTimestamp: Boolean,
                         txn: Option[(String, Long)]): Unit = {
    val points1 =
      if (points0.columns.contains("value_json")) points0
      else points0.withColumn("value_json", lit(null).cast("string"))
    // declared extra columns ride the batch when present, null-fill when
    // absent — either way the written files carry the full evolved schema
    // (resolved ONCE per verb: the manifest lookup is memoized but the
    // commit-log listing behind currentVersion is not)
    val rawExtras = rawExtraColumns
    val points = rawExtras.foldLeft(points1) { case (df, (n, t)) =>
      if (df.columns.contains(n)) df.withColumn(n, col(n).cast(t))
      else df.withColumn(n, lit(null).cast(t))
    }
    // CHECK constraints first (zero cost when none declared): the whole
    // batch is rejected on the first violating row, before any validation
    // join or write — an expectations gate at the table's front door
    val cons = checkConstraints
    if (cons.nonEmpty) {
      val bad = points
        .select(violationOf(cons).as("_violated"), col("stream_id"), col("ts"))
        .where(col("_violated").isNotNull).limit(1).collect()
      if (bad.nonEmpty) {
        val b = bad.head
        throw new errors.ConstraintViolation(
          s"append rejected by CHECK constraint '${b.getString(0)}' " +
            s"(${cons(b.getString(0))}): e.g. stream ${b.getString(1)} at " +
            s"${b.getTimestamp(2)}")
      }
    }
    // ONE broadcast of the (small) metadata table carries all three checks
    // and the monotonicity bound: a single validation job, never a fact scan
    val live = registry
    val meta = live.frame.select(col("stream_id").as("_sid"), col("derive_op"),
      col("value_type"), col("latest_datapoint").as("latest"))
    val joined = points.join(broadcast(meta), col("stream_id") === col("_sid"), "left")
      .cache()
    try {
      val isDerived = col("derive_op").isNotNull
      val isBadNumeric = col("value_type") === ValueType.Numeric && col("value").isNull
      val isStale = col("latest").isNotNull && col("ts") < col("latest")
      val isNullKey = col("stream_id").isNull || col("ts").isNull
      // the one validation job, grouped by registered stream (every row of
      // an unregistered or null id in one null group), so its result is
      // bounded by the registry the driver already holds. It also carries
      // the touched dates for the commit's write scope and each stream's
      // kept bounds for the registry update (stale rows contribute null).
      val perStream = joined.groupBy(col("_sid")).agg(
        sum(when(isDerived, 1L).otherwise(0L)).as("derived"),
        sum(when(isBadNumeric, 1L).otherwise(0L)).as("bad_numeric"),
        min(when(isStale, col("ts"))).as("stale_ts"),
        collect_set(when(!isStale, to_date(col("ts")))).as("_dates"),
        sum(when(isNullKey, 1L).otherwise(0L)).as("null_keys"),
        min(when(!isStale, col("ts"))).as("_lo"),
        max(when(!isStale, col("ts"))).as("_hi")).collect()
      // an empty batch commits nothing
      if (perStream.isEmpty) return
      def ids(flag: String) = perStream.filter(_.getAs[Long](flag) > 0)
        .map(_.getAs[String]("_sid")).sorted
      // null keys rejected pre-write: the commit's declared scope is the
      // collect_set of dates above, which silently drops nulls — a
      // null-ts row would otherwise write an undeclared default-partition
      // file the commit diff never adopts
      val nullKeys = perStream.map(_.getAs[Long]("null_keys")).sum
      if (nullKeys > 0)
        throw new IllegalArgumentException(
          s"append batch has $nullKeys row(s) with null " +
            "stream_id or ts — keys must be non-null")
      val derived = ids("derived")
      if (derived.nonEmpty)
        throw new errors.AppendToDerivedStreamNotAllowed(derived.mkString(", "))
      val badNumeric = ids("bad_numeric")
      if (badNumeric.nonEmpty)
        throw new IllegalArgumentException(
          s"null value appended to numeric stream(s): " + badNumeric.mkString(", "))
      if (checkTimestamp)
        perStream.filter(_.getAs[Timestamp]("stale_ts") != null)
          .sortBy(_.getAs[String]("_sid")).headOption.foreach { r =>
            val sid = r.getAs[String]("_sid")
            throw new errors.InvalidTimestamp(
              s"append ts ${r.getAs[Timestamp]("stale_ts")} < latest " +
                s"${live.byId(sid).latest_datapoint.get} for stream $sid")
          }
      val kept = joined.where(!isStale)
        .select((Schemas.rawDatapoints.fieldNames.toSeq ++
          rawExtras.map(_._1)).map(col): _*)
      // validation is done — everything from here mutates two tables (raw
      // + registry), so it runs under an intent marker
      withCommit("append", txn = txn) {
        // declared write scope = the touched date partitions (from the one
        // validation job above), so the commit diffs this append's files
        // with an O(batch dates) walk — per-append driver cost stays flat
        // no matter how many files the table holds
        val touchedDates = perStream.flatMap(r => r.getSeq[java.sql.Date](r.fieldIndex("_dates")))
          .map(d => s"dp_date=$d").distinct.sorted.toSeq
        scopeWrite("raw", touchedDates)
        // the 100 TB fact-table layout: partitioned by date(ts), so
        // maintenance slices and get_data range scans prune whole partitions
        kept.withColumn("dp_date", to_date(col("ts")))
          .write.mode(SaveMode.Append).partitionBy("dp_date").parquet(rawPath)
        // advance the per-stream earliest/latest bookkeeping from the KEPT
        // rows' bounds of the validation job (dropped stale rows must not
        // lower earliest): a driver-side update of the in-memory registry
        // generation. The registry file itself is still rewritten (plain
        // parquet has no row-level update; at cluster scale this table is
        // Delta/Iceberg MERGE territory).
        val bounds = perStream.collect {
          case r if r.getAs[String]("_sid") != null && r.getAs[Timestamp]("_lo") != null =>
            r.getAs[String]("_sid") -> (r.getAs[Timestamp]("_lo"), r.getAs[Timestamp]("_hi"))
        }.toMap
        // registry is the small dimension table: one single-file swap write
        // keeps the many re-reads across a maintenance session from listing
        // and scheduling 32 shards of a few-KB table (shard only at true
        // millions-of-streams scale)
        swapRegistry(registry.rows.map { m =>
          bounds.get(m.stream_id).fold(m) { case (lo, hi) =>
            m.copy(
              earliest_datapoint = Some(m.earliest_datapoint.filter(_.before(lo)).getOrElse(lo)),
              latest_datapoint = Some(m.latest_datapoint.filter(_.after(hi)).getOrElse(hi)))
          }
        })
      }
    } finally joined.unpersist()
  }

  /** Streaming-ingest entry (the `foreachBatch` body of
    * `Streaming.ingestToWarehouse`): append `batch` only if `batchId` is
    * strictly above the `ingest` cursor, else skip — foreachBatch replays
    * micro-batches on retry (its writes are at-least-once), and this is
    * the standard idempotent-sink pattern that restores exactly-once. The
    * cursor commits in the SAME manifest as the rows (the `txn=` header
    * attribute), so a crash either loses both or keeps both: there is no
    * window in which a replay re-appends a committed batch. An empty batch
    * commits nothing and so records no cursor; its replay is as empty.
    * Stale rows are dropped rather than rejected (`checkTimestamp =
    * false`): the documented streaming arm of the T3 policy; compose the
    * stateful monotone pre-filter (as in `Streaming.ingestMonotone`)
    * upstream for strict cross-batch parity.
    */
  def appendBatch(batch: DataFrame, batchId: Long): Unit =
    if (batchId > ingestHighWatermark)
      appendRows(batch, checkTimestamp = false, txn = Some("ingest" -> batchId))

  /** Idempotent streaming RESTATEMENT sink body (the `foreachBatch` of
    * [[Streaming.upsertToWarehouse]]): merge the micro-batch by key unless
    * `batchId` is at or below the `upsert` cursor — the same
    * replayed-micro-batch guard as [[appendBatch]], committed with the
    * merge, on a SEPARATE cursor so a pipeline that both ingests and
    * restates does not share one between the two sinks. (An upsert
    * replay would also converge by idempotence of the merge itself; the
    * cursor spares the wasted commit.) Batch keys must be unique per
    * micro-batch, as for [[upsertDatapoints]] — dedupe upstream.
    */
  def upsertBatch(batch: DataFrame, batchId: Long,
                  maxPruneStreams: Int =
                    Datastream.DefaultMaxPruneStreams): Unit =
    if (batchId > batchCursor("upsert")) {
      upsertRows(batch, maxPruneStreams, txn = Some("upsert" -> batchId)); ()
    }

  /** Idempotently apply a set of row-delete ranges under the SAME `ingest`
    * cursor [[appendBatch]] uses — the delete twin of the exactly-once
    * ingest verb, and what lets [[replicateTo]] propagate a source
    * merge-on-read delete instead of degrading the replica to insert-only.
    * Commits one merge-on-read delete file plus one rollup repair over
    * every distinct range window, with the cursor; a batch id at or below the
    * cursor is a no-op. No dependency check: the ranges were validated
    * where they were first issued (the source warehouse), and a replica
    * mirrors, not re-adjudicates.
    */
  def applyDeleteBatch(ranges: Seq[(String, Long, Long)], batchId: Long): Unit = {
    if (ranges.isEmpty || batchId <= ingestHighWatermark) return
    import spark.implicits._
    withCommit("delete_datapoints", txn = Some("ingest" -> batchId)) {
      scopeWrite("raw_deletes")
      ranges.toDF("stream_id", "lo_us", "hi_us").coalesce(1)
        .write.mode(SaveMode.Append).parquet(tablePath("raw_deletes"))
      repairRollups(ranges.groupBy(r => (r._2, r._3)).toSeq.sortBy(_._1).map {
        case ((lo, hi), rs) => (lo, hi, Some(rs.map(_._1).distinct.sorted.toIndexedSeq))
      })
    }
  }

  /** The idempotent-ingest cursor [[appendBatch]] enforces: the last
    * batch id committed through the `ingest` sink, −1 when none.
    * [[replicateTo]] reads the DESTINATION's cursor to know which source
    * commits were already applied — the cursor lives with the data it
    * guards.
    */
  private[graft] def ingestHighWatermark: Long = batchCursor("ingest")

  /** `sink`'s cursor as the newest committed manifest records it (memoized
    * per version: one `commitlog/` listing, no Spark job), −1 when it
    * records none.
    */
  private def batchCursor(sink: String): Long =
    committedVersions.lastOption.flatMap(v => parseManifest(v).txn.get(sink))
      .getOrElse(-1L)

  /** Every datapoint the engine serves: the appended fact table plus the
    * derived streams' sibling table (maintained by `updateDerivedStreams`).
    * Union is by name over the normative raw schema, so readers and the
    * maintenance cascade see one logical fact table; physically the two
    * sides never rewrite each other.
    */
  def rawDatapoints: DataFrame = rawDatapointsInRange(None, None)

  /** SNAPSHOT table read: the plan reads EXACTLY the file set the newest
    * committed manifest records for `table` (explicit file list +
    * basePath, so partition-column values and pruning behave as with a
    * directory read) — files an in-flight or crashed mutation wrote after
    * that commit are invisible, and files a rewrite retired stay out of
    * the plan even though they are still on disk. None ⇔ definitely no
    * rows (no commit yet, or no files) so callers can skip union/read
    * nodes outright.
    */
  private def tableReadOpt(table: String,
                           schema: org.apache.spark.sql.types.StructType): Option[DataFrame] =
    tableReadFrom(rawSnapshot, table, schema)

  /** [[tableReadOpt]] against an explicit (possibly historical) snapshot —
    * the time-travel read path shares every property of the current-read
    * path because it IS the same path with a pinned version.
    *
    * `skipRange` (epoch-µs, inclusive superset of the caller's exact time
    * predicate) and `skipStreams` (a SORTED stream-id set — the hot
    * single-stream read path wraps its one id; the J1 find_streams →
    * fact-scan path passes the whole matched set) enable FILE-LEVEL DATA
    * SKIPPING: files whose manifest min/max stats provably miss the
    * predicate are dropped from the plan before Spark ever sees them —
    * pruning below partition granularity, exactly what a table format's
    * per-file stats buy. A derived-table file survives the sid check iff
    * its `stream_id=` directory's id is requested ([[dirStream]]); any
    * other file iff ANY requested id falls inside its [sidMin, sidMax]
    * bounds and its bloom (binary search per file, so a snapshot with many
    * files pays O(log |ids|) each). Files without the relevant stat are
    * never skipped, so this is always a correctness-neutral subset of the
    * snapshot.
    */
  private def keepFile(snap: Snapshot, table: String, f: String,
                       skipRange: Option[(Long, Long)],
                       skipStreams: Option[IndexedSeq[String]]): Boolean = {
    val st = snap.stats.get((table, f))
    val tsOk = skipRange.forall { case (lo, hi) =>
      st.forall(s => s.tsMax >= lo && s.tsMin <= hi)
    }
    val sidOk = skipStreams.forall { sids =>
      dirStream(table, f) match {
        case Some(sid) => anyIdInRange(sids, sid, sid)
        case None => st.forall { s =>
          val boundsOk = (s.sidMin, s.sidMax) match {
            case (Some(a), Some(b)) => anyIdInRange(sids, a, b)
            case _ => true
          }
          // the bloom catches what bounds cannot: a multi-stream file
          // whose [min, max] admits ids it does not actually contain
          boundsOk && s.sidBloom.forall(bits => sids.exists(sidBloomMaybeContains(bits, _)))
        }
      }
    }
    tsOk && sidOk
  }

  /** The stream id of a derived-table file, read from its `stream_id=`
    * directory: exact, since the derived table is partitioned by stream
    * and each of its files holds one stream. None for other tables and
    * for a file outside such a directory (or in the null partition).
    */
  private def dirStream(table: String, f: String): Option[String] =
    if (table != "derived" || !f.startsWith("stream_id=")) None
    else {
      val seg = f.substring("stream_id=".length).takeWhile(_ != '/')
      if (seg == ExternalCatalogUtils.DEFAULT_PARTITION_NAME) None
      else Some(ExternalCatalogUtils.unescapePathName(seg))
    }

  /** The one stream id every row of `f` provably holds: its derived
    * directory ([[dirStream]]), else footer stream-id bounds with
    * min == max (recorded only for files with no null stream id, see
    * [[footerStats]]).
    */
  private def soleStream(snap: Option[Snapshot], table: String,
                         f: String): Option[String] =
    dirStream(table, f).orElse(snap.flatMap(_.stats.get((table, f)))
      .filter(st => st.sidMin.isDefined && st.sidMin == st.sidMax)
      .flatMap(_.sidMin))

  /** Does the SORTED `sorted` contain any element in `[lo, hi]`? Binary
    * search for the first element ≥ lo, then one bound check.
    */
  private def anyIdInRange(sorted: IndexedSeq[String], lo: String,
                           hi: String): Boolean = {
    var a = 0
    var b = sorted.length
    while (a < b) {
      val m = (a + b) >>> 1
      if (sorted(m) < lo) a = m + 1 else b = m
    }
    a < sorted.length && sorted(a) <= hi
  }

  // memoized FileIndex-backed reads; bounded, cleared wholesale past 256
  // entries (keys embed the immutable snapshot version + exact file set,
  // so entries can never serve stale data — the bound is purely memory)
  private val indexedReadCache =
    new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()

  private def tableReadFrom(snap: Option[Snapshot], table: String,
                            schema: org.apache.spark.sql.types.StructType,
                            skipRange: Option[(Long, Long)] = None,
                            skipStreams: Option[IndexedSeq[String]] = None): Option[DataFrame] =
    snap.flatMap { s =>
      val files = s.tableFiles(table)
      val kept =
        if (skipRange.isEmpty && skipStreams.isEmpty) files
        else files.filter(keepFile(s, table, _, skipRange, skipStreams))
      if (kept.isEmpty) None
      else tableLayout(table) match {
        case Some((partCol, tsCol)) =>
          // memoized per (version, table, file set, schema): snapshot
          // file sets are immutable per version, so the analyzed frame
          // (and its FileIndex's statuses) are freely reusable — a
          // lifecycle verb re-reading the same slice pays relation
          // construction once
          val keptSorted = kept.toSeq.sorted
          val filesDigest = java.security.MessageDigest.getInstance("MD5")
            .digest(keptSorted.mkString("\n").getBytes("UTF-8"))
            .map("%02x".format(_)).mkString
          val key = s"${s.version}|$table|" +
            s"${schema.fieldNames.mkString(",")}|$filesDigest"
          if (indexedReadCache.size > 256) indexedReadCache.clear()
          Some(indexedReadCache.computeIfAbsent(key, _ =>
            indexedRead(s, table, schema, keptSorted, partCol, tsCol)))
        case None => Some(readFiles(table, schema, kept))
      }
    }

  /** Partition layout + manifest-stats time column per warehouse table,
    * for the Catalyst FileIndex read path; None = a table served by a
    * plain explicit-file-list read ([[readFiles]]).
    */
  private def tableLayout(table: String): Option[(String, String)] = table match {
    case "raw" => Some(("dp_date", "ts"))
    case "derived" => Some(("stream_id", "ts"))
    case t if t.startsWith("rollup/") => Some(("bucket_date", "bucket_start"))
    case _ => None
  }

  /** Resolve a FileStatus per kept snapshot file. Files whose manifest
    * stats carry a recorded byte LENGTH get a SYNTHESIZED status — zero
    * plan-time FS calls, exactly how Delta/Iceberg serve scans from the
    * log alone (safe because committed files are immutable; the synthetic
    * mtime is 0, so the `_metadata.file_modification_time` pseudo-column
    * is not meaningful on this path). Stat-less files (adopted foreign
    * files) fall back to one listing per containing directory.
    */
  private def statusesFor(snap: Snapshot, table: String, rels: Seq[String])
      : Seq[(String, org.apache.hadoop.fs.FileStatus)] = {
    val root = tablePath(table)
    val (known, unknown) = rels.partition(r =>
      snap.stats.get((table, r)).exists(_.len.isDefined))
    val synth = known.map { r =>
      r -> new org.apache.hadoop.fs.FileStatus(
        snap.stats((table, r)).len.get, false, 1, 134217728L, 0L,
        new org.apache.hadoop.fs.Path(s"$root/$r"))
    }
    val listed = unknown.groupBy { r =>
      r.lastIndexOf('/') match { case -1 => ""; case i => r.substring(0, i) }
    }.toSeq.flatMap { case (dir, rs) =>
      val base = if (dir.isEmpty) root else s"$root/$dir"
      val byName = io.children(base).map(st => st.getPath.getName -> st).toMap
      rs.map { r =>
        val name = r.substring(r.lastIndexOf('/') + 1)
        r -> byName.getOrElse(name, throw new IllegalStateException(
          s"snapshot file missing on storage: $root/$r — reclaimed by an " +
            "over-aggressive vacuum, or foreign deletion"))
      }
    }
    synth ++ listed
  }

  /** Serve a snapshot read through [[plans.GraftFileIndex]]: the
    * hint-pruned manifest file set becomes a Catalyst [[org.apache.spark
    * .sql.execution.datasources.FileIndex]], so partition filters AND
    * pushed data filters (time bounds, stream-id sets) prune files INSIDE
    * the planner — an ad-hoc `.where` over the returned frame gets
    * manifest data-skipping with no facade hint, the Delta-style
    * `TahoeFileIndex` integration. Output columns are re-selected into the
    * declared schema order, so the switch is invisible to callers.
    */
  private def indexedRead(snap: Snapshot, table: String,
                          schema: org.apache.spark.sql.types.StructType,
                          kept: Seq[String], partCol: String,
                          tsCol: String): DataFrame = {
    import org.apache.spark.sql.execution.datasources.HadoopFsRelation
    import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
    val partitionSchema = org.apache.spark.sql.types.StructType(
      schema.fields.filter(_.name == partCol))
    val dataSchema = org.apache.spark.sql.types.StructType(
      schema.fields.filterNot(_.name == partCol))
    val index = new plans.GraftFileIndex(tablePath(table),
      statusesFor(snap, table, kept), partitionSchema, tsCol,
      (rel, r, s) => keepFile(snap, table, rel, r, s))
    val relation = HadoopFsRelation(index, partitionSchema, dataSchema, None,
      new ParquetFileFormat, Map.empty[String, String])(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession])
    org.apache.spark.sql.GraftBridge.ofRelation(spark, relation)
      .select(schema.fieldNames.toSeq.map(col): _*)
  }

  /** Files a snapshot read would plan for `table` after stats-based
    * skipping (test seam for the data-skipping contract).
    */
  private[graft] def plannedFiles(table: String,
                                  start: Option[Timestamp],
                                  end: Option[Timestamp],
                                  streamIds: Option[Seq[String]] = None): Set[String] =
    rawSnapshot match {
      case None => Set.empty
      case Some(snap) =>
        val sids = streamIds.map(_.sorted.toIndexedSeq)
        snap.tableFiles(table)
          .filter(keepFile(snap, table, _, usSkipRange(start, end), sids))
    }

  /** Inclusive epoch-µs superset of a caller's time bounds, for file-level
    * skipping (exclusive bounds only shrink the exact predicate applied
    * later, so the inclusive superset stays correct).
    */
  private def usSkipRange(start: Option[Timestamp],
                          end: Option[Timestamp]): Option[(Long, Long)] =
    if (start.isEmpty && end.isEmpty) None
    else {
      def us(t: Timestamp) =
        t.toInstant.getEpochSecond * 1000000L + t.toInstant.getNano / 1000L
      Some((start.map(us).getOrElse(Long.MinValue),
        end.map(us).getOrElse(Long.MaxValue)))
    }

  /** The snapshot's ACTIVE row-level delete ranges (merge-on-read files a
    * [[deleteDatapoints]] commit published and no [[applyDeletes]] has
    * rewritten away yet), or None when the snapshot carries none — the
    * zero-cost common case every read path checks first.
    */
  private def deleteRangesDF(snap: Option[Snapshot]): Option[DataFrame] =
    snap.map(_.tableFiles("raw_deletes"))
      .filter(_.nonEmpty)
      .map(fs => spark.read.schema(Schemas.rawDeletes)
        .parquet(fs.toSeq.sorted
          .map(f => s"${tablePath("raw_deletes")}/$f"): _*))

  /** Driver-side copy of the active delete ranges — metadata-scale by the
    * delete-file contract (one row per doomed stream per verb), used where
    * per-FILE overlap decisions are made (stats-served counts, touched-file
    * selection). Sorted for determinism.
    */
  private def deleteRangesList(snap: Option[Snapshot]): Seq[(String, Long, Long)] =
    deleteRangesDF(snap).map(_.collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
        .toSeq.sorted)
      .getOrElse(Seq.empty)

  /** Anti-join `df` (fact-table shape: `stream_id`, `ts`) against delete
    * ranges: equality on the stream id, the µs range as the residual
    * condition. Read paths pass `hinted = true` — broadcast is safe there
    * by the merge-on-read delete-file size contract (a contract
    * [[deleteDatapointsFrom]] ENFORCES by refusing merge-on-read on the
    * unbounded distributed path). The copy-on-write rewrite of a
    * past-the-bound delete passes `hinted = false`: its range frame is
    * stream-count-sized, and an unconditional broadcast hint would collect
    * it to the driver — the exact OOM the bound exists to prevent. No-op
    * (the same plan, untouched) when `dels` is None.
    */
  private def minusDeleted(df: DataFrame, dels: Option[DataFrame],
                           hinted: Boolean = true): DataFrame =
    dels match {
      case None => df
      case Some(d) =>
        val r = d.select(col("stream_id").as("_del_sid"),
          col("lo_us").as("_del_lo"), col("hi_us").as("_del_hi"))
        df.join(if (hinted) broadcast(r) else r,
          df("stream_id") === r("_del_sid") &&
            unix_micros(df("ts")) >= r("_del_lo") &&
            unix_micros(df("ts")) <= r("_del_hi"),
          "left_anti")
    }

  /** The active merge-on-read delete ranges as a user-facing DataFrame
    * (`stream_id`, `delete_from`, `delete_to`) — the audit surface for
    * "which takedowns are still pending a physical rewrite".
    */
  def pendingDeletes: DataFrame = {
    deleteRangesDF(rawSnapshot) match {
      case Some(d) => d.select(col("stream_id"),
        timestamp_micros(col("lo_us")).as("delete_from"),
        timestamp_micros(col("hi_us")).as("delete_to"))
      case None =>
        import org.apache.spark.sql.types.{StructField, StructType, StringType, TimestampType}
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          StructType(Seq(StructField("stream_id", StringType),
            StructField("delete_from", TimestampType),
            StructField("delete_to", TimestampType))))
    }
  }

  /** `rawDatapoints` with optional time bounds applied as PARTITION-PRUNING
    * `dp_date` predicates on the appended side (the derived side is
    * stream_id-partitioned; its rows flow through unpruned and the caller's
    * exact `ts` predicate still applies to both). Both sides are snapshot
    * reads ([[tableReadOpt]]): a torn append OR a torn rewrite (delete
    * purge, compaction, derived refresh) leaves readers on the previous
    * consistent snapshot — rewrites append new files and logically retire
    * old ones, so the pre-mutation file set stays intact on disk until the
    * new manifest commits (and until vacuum, after).
    *
    * `evolved = true` serves the raw table's declared extra columns (as
    * of `asOfVersion`, or current) alongside the base fields — the
    * changefeed's delete-decode needs the voided rows' extras, not a
    * null-filled shadow of them. Derived rows null-fill the extras (the
    * derived table is base-schema by construction).
    */
  private def rawDatapointsInRange(start: Option[Timestamp],
                                   end: Option[Timestamp],
                                   asOfVersion: Option[Long] = None,
                                   streamIds: Option[Seq[String]] = None,
                                   evolved: Boolean = false): DataFrame = {
    val snap = asOfVersion match {
      case Some(v) => Some(snapshotAt(v))
      case None => rawSnapshot
    }
    val schema = if (evolved) rawSchemaAt(asOfVersion) else Schemas.rawDatapoints
    val cols = schema.fieldNames.toSeq.map(col)
    val bounds = Seq(
      start.map(s => col("dp_date") >= to_date(lit(s))),
      end.map(e => col("dp_date") <= to_date(lit(e)))).flatten
    // a local relation: its size is known (0), so the empty side of a
    // read does not make the read's planned input unknown
    def emptyRaw =
      spark.createDataFrame(java.util.Collections.emptyList[org.apache.spark.sql.Row](),
        schema)
    val skip = usSkipRange(start, end)
    val sids = streamIds.map(_.sorted.toIndexedSeq)
    val raw = tableReadFrom(snap, "raw",
        if (evolved) rawSchemaPartitionedAt(asOfVersion)
        else Schemas.rawDatapointsPartitioned,
        skip, sids)
      .map(df => bounds.foldLeft(df)(_.where(_)).select(cols: _*))
      .getOrElse(emptyRaw)
    val fact = tableReadFrom(snap, "derived", Schemas.rawDatapoints, skip, sids) match {
      // full schema supplied: the stream_id partition column takes its type
      // from the schema instead of partition-value inference
      case Some(der) =>
        val have = der.columns.toSet
        raw.unionByName(der.select(schema.fields.toSeq.map(f =>
          if (have(f.name)) col(f.name)
          else lit(null).cast(f.dataType).as(f.name)): _*))
      case None => raw
    }
    // merge-on-read row deletes: voided rows vanish from EVERY read built on
    // this path (get_data, derive sources, downsample maintenance, counts'
    // boundary scans come through statsCount's own twin) — and because the
    // ranges are snapshot-scoped, a pinned as-of read applies exactly the
    // deletes that were active AT that version
    minusDeleted(fact, deleteRangesDF(snap))
  }

  /** METADATA-ONLY datapoint count over the logical fact table
    * (raw ∪ derived) with optional INCLUSIVE time bounds — the
    * `SELECT count(*)` a monitoring dashboard or ingest audit fires
    * constantly, served Delta-style from the commit log: a file whose
    * manifest stats prove it lies FULLY inside the range contributes its
    * recorded exact `rows=` count with zero I/O; only boundary-straddling
    * files (and stat-less adopted files) are actually scanned, with the
    * exact µs predicate applied. Unbounded counts over a stats-covered
    * table touch NO data files at all. At 100 TB that is the difference
    * between a O(boundary files) metadata operation and a full scan —
    * and the result is bit-identical to the scan by construction
    * (committed files are immutable; `rows=` was read from the footer the
    * commit itself wrote).
    *
    * Stream-scoped counts (`streamIds`) ride the same path: a file
    * counts from the manifest only when it PROVABLY holds one requested
    * stream ([[soleStream]]: a derived file's `stream_id=` directory, or
    * footer bounds with `sidMin == sidMax` — string bounds cannot prove
    * subset membership for a wider range, and the bloom is one-sided) —
    * otherwise it joins the boundary scan with the exact `stream_id IN`
    * predicate. Per-stream files (the derived table's layout, or a
    * z-ordered day at high `maxRecordsPerFile` resolution) make most of
    * the table provably pure.
    *
    * Pinned (`asOfVersion`) counts follow the same contract as every
    * other time-travel read: a snapshot that does not cover a table fails
    * at planning instead of silently counting live files.
    */
  def countDatapoints(start: Option[Timestamp] = None,
                      end: Option[Timestamp] = None,
                      asOfVersion: Option[Long] = None,
                      streamIds: Option[Seq[String]] = None): Long =
    statsCount(Seq(("raw", Schemas.rawDatapointsPartitioned),
        ("derived", Schemas.rawDatapoints)),
      "ts", start, end, asOfVersion, streamIds, applyRowDeletes = true)

  /** [[countDatapoints]]'s rollup twin: the exact BUCKET count of
    * granularity `g`'s finalized rollup table, served the same Delta-style
    * way — `rows=` manifest stats for files fully inside the (inclusive,
    * `bucket_start`-keyed) range, a real scan only for boundary
    * straddlers. The rollup tables' files carry the identical stats
    * complement (their footers record `bucket_start` bounds, stream-id
    * bounds/bloom and exact row counts at commit time), so a dashboard's
    * per-granularity freshness/volume probes are metadata-only too —
    * unbounded or provably-covered counts touch NO rollup data files.
    */
  def countRollup(g: Granularity,
                  start: Option[Timestamp] = None,
                  end: Option[Timestamp] = None,
                  asOfVersion: Option[Long] = None,
                  streamIds: Option[Seq[String]] = None): Long =
    statsCount(Seq((s"rollup/granularity=${g.name}",
        Schemas.downsampledPartitioned)),
      "bucket_start", start, end, asOfVersion, streamIds)

  /** The shared stats-served count: manifest `rows=` for files PROVABLY
    * inside the range (and provably stream-pure when stream-scoped), an
    * exact scan with the residual predicate for the rest. `tsColName` is
    * the table family's time column (`ts` for fact tables, `bucket_start`
    * for rollups) — the same column the manifest's per-file bounds were
    * collected from ([[footerStats]]).
    */
  private def statsCount(tables: Seq[(String, org.apache.spark.sql.types.StructType)],
                         tsColName: String,
                         start: Option[Timestamp], end: Option[Timestamp],
                         asOfVersion: Option[Long],
                         streamIds: Option[Seq[String]],
                         applyRowDeletes: Boolean = false): Long = {
    val snap = asOfVersion match {
      case Some(v) => Some(snapshotAt(v))
      case None => rawSnapshot
    }
    val range = usSkipRange(start, end)
    val sids = streamIds.map(_.sorted.toIndexedSeq)
    val sidSet = streamIds.map(_.toSet)
    // active merge-on-read delete ranges (fact tables only): a file whose
    // stats PROVE it disjoint from every range still counts from metadata;
    // a maybe-overlapping file joins the boundary scan, where the exact
    // anti-join voids exactly the deleted rows — the count stays
    // bit-identical to a full scan, and stays metadata-only everywhere the
    // deletes provably did not reach
    val delRanges =
      if (applyRowDeletes) deleteRangesList(snap) else Seq.empty
    def delOverlaps(s: Snapshot, table: String, f: String): Boolean =
      delRanges.exists { case (sid, lo, hi) =>
        keepFile(s, table, f, Some((lo, hi)), Some(IndexedSeq(sid)))
      }
    def filtered(df: DataFrame): DataFrame = {
      val withStart = start.map(t => df.where(col(tsColName) >= lit(t))).getOrElse(df)
      val withEnd = end.map(t => withStart.where(col(tsColName) <= lit(t))).getOrElse(withStart)
      val scoped = sidSet.map(s => withEnd.where(col("stream_id").isInCollection(s.toSeq)))
        .getOrElse(withEnd)
      if (delRanges.isEmpty) scoped
      else minusDeleted(scoped, deleteRangesDF(snap))
    }
    def tableCount(s: Snapshot, table: String,
                   schema: org.apache.spark.sql.types.StructType): Long = {
      val kept = s.tableFiles(table).filter(keepFile(s, table, _, range, sids))
      val (interior, boundary) = kept.partition { f =>
        s.stats.get((table, f)).exists { st =>
          st.rows.isDefined && range.forall { case (lo, hi) =>
            st.tsMin >= lo && st.tsMax <= hi
          } && sidSet.forall(set =>
            soleStream(snap, table, f).exists(set)) &&
            !delOverlaps(s, table, f)
        }
      }
      val metaRows = interior.iterator
        .map(f => s.stats((table, f)).rows.get).sum
      val scanned =
        if (boundary.isEmpty) 0L
        else filtered(readFiles(table, schema, boundary)).count()
      metaRows + scanned
    }
    snap.fold(0L)(s => tables.map { case (t, sch) => tableCount(s, t, sch) }.sum)
  }

  /** TIME TRAVEL: the logical fact table (raw ∪ derived) exactly as the
    * committed snapshot `version` published it — `SELECT ... VERSION AS OF`
    * over the commit log. Later appends are invisible; later rewrites
    * (delete purge, compaction, derived refresh) only retired this
    * version's files logically, so the read is bit-identical until an
    * aggressive vacuum reclaims them (then it fails at planning, loudly).
    * Registry metadata travels too, through its own surface: each manifest
    * records the registry generation live at its commit (`registry=g<N>`),
    * which [[streamsAt]] serves.
    */
  def rawDatapointsAt(version: Long): DataFrame =
    rawDatapointsInRange(None, None, Some(version))

  /** TIME TRAVEL twin of [[rollup]]: granularity `g`'s finalized buckets as
    * of snapshot `version`.
    */
  def rollupAt(g: Granularity, version: Long): DataFrame =
    tableReadFrom(Some(snapshotAt(version)),
        s"rollup/granularity=${g.name}", Schemas.downsampledPartitioned)
      .getOrElse(spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        Schemas.downsampledPartitioned))
      .drop("bucket_date")

  /** CDC-STYLE INCREMENTAL READ over the commit log — the `table_changes`
    * / streaming-source shape every table format grows: all datapoints
    * ADDED to the logical fact table (raw ∪ derived) by commits in
    * `(sinceVersion, toVersion]`, each row tagged with `_commit_version`
    * and `_commit_op` of the commit that landed it. Served straight from
    * the manifest deltas: a qualifying commit's `+` lines name exactly the
    * files it added, so the plan reads ONLY new files — O(changed data),
    * never O(table). That is what makes an incremental downstream consumer
    * (feature-store sync, cache invalidation, audit trail) viable at
    * 100 TB: catching up on k appended commits costs the size of those
    * appends, not a table scan plus diff.
    *
    * Commits that RETIRE fact files (delete purge, compaction, z-order,
    * derived refresh) have no row-level change encoding in this log (like
    * Delta without CDF, it records file-level deltas only). By default
    * such a commit inside the range fails the read LOUDLY;
    * `skipChangeCommits = true` skips them wholesale — Delta's
    * `skipChangeCommits` semantics: exact whenever rewrites are
    * row-preserving maintenance (compaction, z-order), an explicit
    * opt-out of delete visibility otherwise. Registry-only mutations
    * never enter the manifest chain, so tag CRUD costs consumers nothing.
    *
    * `sinceVersion` is EXCLUSIVE (the snapshot the consumer already
    * holds; 0 = the start of the retained log) and `toVersion` INCLUSIVE
    * (default: newest committed); both must be inside the retained
    * window — an aged-out cursor fails loudly rather than silently
    * skipping the gap, mirroring the [[snapshotAt]] contract.
    */
  def readChanges(sinceVersion: Long, toVersion: Option[Long] = None,
                  skipChangeCommits: Boolean = false): DataFrame = {
    // project through the schema AS OF the feed's end version: files
    // written after [[addRawColumn]] carry the declared extras, and a
    // CDF consumer mirroring the table must see them — silently dropping
    // a declared column is the exact failure mode the v4 protocol bump
    // exists to prevent. Pre-evolution raw files null-fill (parquet
    // schema projection); the derived table is base-schema by
    // construction and null-fills in the output projection.
    //
    // Validate toVersion BEFORE resolving the evolved schema: an unknown
    // bound must fail the argument contract (IllegalArgumentException,
    // as changesOver pins), not surface as parseManifest's broken-chain
    // IllegalStateException from the schema lookup.
    val vs = committedVersions
    val hi = toVersion.orElse(vs.lastOption)
    hi.filterNot(vs.contains).foreach(h =>
      throw new IllegalArgumentException(
        s"changefeed: toVersion $h is not a committed, retained snapshot " +
          s"(retained: ${vs.mkString(", ")})"))
    changesOver(
      Map("raw" -> rawSchemaPartitionedAt(hi),
        "derived" -> Schemas.rawDatapoints),
      rawSchemaAt(hi), sinceVersion, toVersion, skipChangeCommits)
  }

  /** [[readChanges]] for ONE rollup granularity — the incremental consumer
    * of the downsample cascade (dashboard cache, alerting tier): buckets
    * the maintenance commits in `(sinceVersion, toVersion]` finalized,
    * read from exactly the files those commits added. The cascade is
    * append-once (complete buckets only, no retraction — T1/T2), so
    * every maintenance commit is a clean insert-only change; rollup
    * rewrites (compaction) follow the same skip/fail contract.
    */
  def readRollupChanges(g: Granularity, sinceVersion: Long,
                        toVersion: Option[Long] = None,
                        skipChangeCommits: Boolean = false): DataFrame =
    changesOver(
      Map(s"rollup/granularity=${g.name}" -> Schemas.downsampledPartitioned),
      Schemas.downsampled, sinceVersion, toVersion, skipChangeCommits)

  /** The fact-table changefeed WITH row-level delete encoding — the CDF
    * (change-data-feed) shape: every row carries `_change_type`
    * ('insert' | 'delete') plus the commit attribution columns. Inserts
    * are served from exactly the files each commit added, as
    * [[readChanges]]. A merge-on-read [[deleteDatapoints]] commit is
    * DECODED into the rows it voided: its new delete ranges are applied to
    * the PARENT snapshot's visible rows (file-pruned to the range windows
    * and doomed streams, so the decode costs O(deleted window), never a
    * scan) — and because the parent read already applies the parent's own
    * active deletes, rows voided twice are emitted exactly once, at the
    * commit that first voided them. Copy-on-write rewrites still have no
    * row encoding (issue deletes merge-on-read where the feed must see
    * them): row-preserving maintenance (`compact`) and the physical
    * `apply_deletes` rewrite (whose deletions this feed already emitted at
    * their merge-on-read commit) are skipped; any other fact-file-retiring
    * commit fails the read loudly, mirroring [[readChanges]]'s contract.
    * Needs the delete commit's PARENT snapshot retained: an aged-out
    * cursor fails loudly rather than silently dropping the delta.
    */
  def readChangesWithDeletes(sinceVersion: Long,
                             toVersion: Option[Long] = None): DataFrame = {
    val vs = committedVersions
    val hi = toVersion.orElse(vs.lastOption).getOrElse(
      throw new IllegalArgumentException(
        "changefeed: no committed versions exist yet"))
    if (!vs.contains(hi))
      throw new IllegalArgumentException(
        s"changefeed: toVersion $hi is not a committed, retained snapshot " +
          s"(retained: ${vs.mkString(", ")})")
    if (sinceVersion != 0L && !vs.contains(sinceVersion))
      throw new IllegalArgumentException(
        s"changefeed: sinceVersion $sinceVersion is not a committed, " +
          s"retained snapshot (retained: ${vs.mkString(", ")}); pass 0 to " +
          "read from the start of the retained log")
    if (sinceVersion > hi)
      throw new IllegalArgumentException(
        s"changefeed: sinceVersion $sinceVersion is past toVersion $hi")
    // evolved projection, as in [[readChanges]]: the feed carries the
    // schema as of its end version; slices lacking a declared extra
    // (derived rows, pre-evolution raw files) null-fill it
    val outSchema = rawSchemaAt(Some(hi))
    def project(df: DataFrame): DataFrame = {
      val have = df.columns.toSet
      df.select(outSchema.fields.toSeq.map(f =>
        if (have(f.name)) col(f.name)
        else lit(null).cast(f.dataType).as(f.name)): _*)
    }
    val tables = Map("raw" -> rawSchemaPartitionedAt(Some(hi)),
      "derived" -> Schemas.rawDatapoints)
    val rowPreserving = Set("compact", "apply_deletes")
    val slices = vs.filter(v => v > sinceVersion && v <= hi).flatMap { v =>
      val m = parseManifest(v)
      val op = commitOpOf(v)
      val removes = m.removes.filter { case (t, _) => tables.contains(t) }
      val delAdds = m.adds.filter(_._1 == "raw_deletes")
      if (removes.nonEmpty && !rowPreserving(op))
        throw new IllegalStateException(
          s"changefeed: version $v (op '$op') retires fact files — the " +
            "rewrite has no row-level change encoding; only merge-on-read " +
            "deletes are decodable (compact and apply_deletes are skipped " +
            "as row-preserving)")
      val skippedRewrite = removes.nonEmpty && rowPreserving(op)
      val inserts =
        if (skippedRewrite) Seq.empty
        else m.adds.filter { case (t, _, _) => tables.contains(t) }
          .groupBy(_._1).toSeq.sortBy(_._1).map { case (t, tAdds) =>
            val snap = Snapshot(v, Map(t -> tAdds.map(_._2).toSet),
              tAdds.collect { case (_, rel, Some(st)) => ((t, rel), st) }.toMap)
            project(tableReadFrom(Some(snap), t, tables(t)).get)
              .withColumn("_change_type", lit("insert"))
              .withColumn("_commit_version", lit(v))
              .withColumn("_commit_op", lit(op))
          }
      val deletes =
        if (delAdds.isEmpty) Seq.empty
        else {
          val parentV = vs.filter(_ < v).lastOption.getOrElse(
            throw new IllegalStateException(
              s"changefeed: delete commit $v has no retained parent " +
                "snapshot to decode against"))
          val rangesDF = spark.read.schema(Schemas.rawDeletes)
            .parquet(delAdds.map { case (_, rel, _) =>
              s"${tablePath("raw_deletes")}/$rel" }.sorted: _*)
          val rows = rangesDF.collect()
            .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
          val sids = rows.map(_._1).distinct.sorted.toSeq
          val lo = rows.map(_._2).min
          val hiUs = rows.map(_._3).max
          val r = rangesDF.select(col("stream_id").as("_del_sid"),
            col("lo_us").as("_del_lo"), col("hi_us").as("_del_hi"))
          // extras as declared AT the parent snapshot (⊆ extras at `hi`,
          // evolution being additive) — the voided rows' true values, not
          // a null-filled shadow; columns declared after parentV null-fill
          // in the output projection
          val parent = rawDatapointsInRange(Some(tsOf(lo)), Some(tsOf(hiUs)),
            Some(parentV), Some(sids), evolved = true)
          Seq(project(parent.join(broadcast(r),
              parent("stream_id") === r("_del_sid") &&
                unix_micros(parent("ts")) >= r("_del_lo") &&
                unix_micros(parent("ts")) <= r("_del_hi"), "left_semi"))
            .withColumn("_change_type", lit("delete"))
            .withColumn("_commit_version", lit(v))
            .withColumn("_commit_op", lit(op)))
        }
      inserts ++ deletes
    }
    if (slices.isEmpty) {
      import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(outSchema.fields ++ Seq(
          StructField("_change_type", StringType, nullable = false),
          StructField("_commit_version", LongType, nullable = false),
          StructField("_commit_op", StringType, nullable = false))))
    } else slices.reduce(_.unionByName(_))
  }

  private def changesOver(tables: Map[String, org.apache.spark.sql.types.StructType],
                          outSchema: org.apache.spark.sql.types.StructType,
                          sinceVersion: Long, toVersion: Option[Long],
                          skipChangeCommits: Boolean): DataFrame = {
    val vs = committedVersions
    val hi = toVersion.orElse(vs.lastOption).getOrElse(
      throw new IllegalArgumentException(
        "changefeed: no committed versions exist yet"))
    if (!vs.contains(hi))
      throw new IllegalArgumentException(
        s"changefeed: toVersion $hi is not a committed, retained snapshot " +
          s"(retained: ${vs.mkString(", ")})")
    if (sinceVersion != 0L && !vs.contains(sinceVersion))
      throw new IllegalArgumentException(
        s"changefeed: sinceVersion $sinceVersion is not a committed, " +
          s"retained snapshot (retained: ${vs.mkString(", ")}); pass 0 to " +
          "read from the start of the retained log")
    if (sinceVersion > hi)
      throw new IllegalArgumentException(
        s"changefeed: sinceVersion $sinceVersion is past toVersion $hi")
    // project to the feed's output schema, NULL-FILLING columns a slice's
    // table lacks — the derived table never carries the raw table's
    // declared extra columns, and under an evolved outSchema its slices
    // must null-fill them rather than fail the select
    def project(df: DataFrame): DataFrame = {
      val have = df.columns.toSet
      df.select(outSchema.fields.toSeq.map(f =>
        if (have(f.name)) col(f.name)
        else lit(null).cast(f.dataType).as(f.name)): _*)
    }
    def opOf(v: Long): String = commitOpOf(v)
    val slices = vs.filter(v => v > sinceVersion && v <= hi).flatMap { v =>
      val m = parseManifest(v)
      val removes = m.removes.filter { case (t, _) => tables.contains(t) }
      val adds = m.adds.filter { case (t, _, _) => tables.contains(t) }
      // a merge-on-read row delete retires NO fact files — the change is a
      // new `raw_deletes` file voiding fact rows in place. For a fact-table
      // feed that is a row-deleting change commit exactly like a rewrite,
      // and silently emitting nothing would desynchronize the consumer.
      val morDelete = tables.contains("raw") &&
        m.adds.exists(_._1 == "raw_deletes")
      if (removes.nonEmpty || morDelete) {
        if (skipChangeCommits) Seq.empty
        else throw new IllegalStateException(
          s"changefeed: version $v (op '${opOf(v)}') " +
            (if (removes.nonEmpty)
              s"retires files of ${removes.map(_._1).distinct.mkString(", ")}"
            else "publishes a merge-on-read row delete") +
            " — a rewrite/delete has no row-level change encoding in the " +
            "commit log; pass skipChangeCommits=true to skip such commits " +
            "(exact for row-preserving maintenance like compaction and " +
            "z-order; row deletions will NOT be surfaced)")
      } else {
        val op = opOf(v)
        adds.groupBy(_._1).toSeq.sortBy(_._1).map { case (t, tAdds) =>
          // a synthetic one-commit snapshot: exactly the files this commit
          // added to `t`, with their manifest stats so the read keeps the
          // zero-listing FileIndex path and data skipping
          val snap = Snapshot(v, Map(t -> tAdds.map(_._2).toSet),
            tAdds.collect { case (_, rel, Some(st)) => ((t, rel), st) }.toMap)
          project(tableReadFrom(Some(snap), t, tables(t)).get)
            .withColumn("_commit_version", lit(v))
            .withColumn("_commit_op", lit(op))
        }
      }
    }
    if (slices.isEmpty) {
      import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(outSchema.fields ++ Seq(
          StructField("_commit_version", LongType, nullable = false),
          StructField("_commit_op", StringType, nullable = false))))
    } else slices.reduce(_.unionByName(_))
  }

  /** EXACTLY-ONCE incremental replication of the RAW fact table into
    * `dest` — the changefeed's canonical consumer (DR copy, region
    * fan-out, prod→dev seed): every source commit above the DESTINATION's
    * `ingest` cursor that appended raw files is applied to `dest`
    * as one idempotent [[appendBatch]] whose batch id IS the source
    * commit version. The cursor therefore lives in dest with the data it
    * guards — no separate cursor file to lose — and re-running after any
    * crash converges: an already-applied version is skipped by the id
    * check, an unapplied one re-reads exactly that commit's files
    * (O(new data), never a source scan; the same synthetic one-commit
    * snapshot reads the changefeed uses).
    *
    * Streams missing in dest are batch-ensured from the source registry
    * first (idempotent; dest rebuilds its own bounds as data lands).
    * Derived and rollup tables are NOT copied — a replica runs its own
    * maintenance — so replication cost stays proportional to new raw
    * data. MERGE-ON-READ ROW DELETES PROPAGATE: the replica applies the
    * same delete ranges ([[applyDeleteBatch]]) under the same idempotent
    * batch-id cursor, so takedowns reach every replica exactly once.
    * Raw-REWRITING commits: `compact` (row-preserving) and
    * `apply_deletes` (physically rewrites deletions already propagated at
    * their merge-on-read commit) are skipped silently; any other
    * raw-retiring commit (copy-on-write delete, whole-stream delete
    * purge, reprocess, restore) fails the run loudly unless
    * `skipChangeCommits = true`, which skips every non-append change and
    * makes the replica an INSERT-ONLY follower (deletes do not
    * propagate) — Delta's `skipChangeCommits` trade, stated.
    *
    * Returns the number of source commits applied this run.
    */
  def replicateTo(dest: Datastream,
                  skipChangeCommits: Boolean = false,
                  maxSyncStreams: Int =
                    Datastream.DefaultMaxPruneStreams): Long = {
    require(dest.warehouse != warehouse,
      "replicateTo: destination is this warehouse")
    require(maxSyncStreams > 0, "replicateTo: maxSyncStreams must be > 0")
    import spark.implicits._
    // registry sync, BOUNDED DRIVER: the missing-spec set is collected in
    // chunks of `maxSyncStreams`, each ensured before the anti-join is
    // recomputed against the swapped registry — so the set strictly
    // shrinks every round and a replica bootstrapping a very large
    // registry holds at most ONE chunk of specs on the driver, never the
    // whole registry. ensureStreams is a driver-side registry swap by
    // design (stream metadata is registry-scale, like every
    // ensure/maintenance path), so the bound is chunked iteration rather
    // than a distributed write; each chunk is one idempotent batch ensure
    // and a crash between chunks just resumes where it left off.
    var syncing = true
    while (syncing) {
      val chunk = streams
        .join(dest.streams.select("stream_id"), Seq("stream_id"), "left_anti")
        .as[StreamMeta].head(maxSyncStreams)
      if (chunk.nonEmpty) dest.ensureStreams(chunk.toSeq)
      syncing = chunk.length == maxSyncStreams
    }
    // schema sync: declared extra columns the replica lacks are declared
    // there first (idempotent — an identical declaration is skipped), and
    // a SAME-NAMED column with a DIFFERENT type refuses loudly: replaying
    // through it would silently cast every value to the destination's
    // type and the replica would diverge without an error
    val destCols = dest.rawExtraColumns.toMap
    rawExtraColumns.foreach { case (n, t) =>
      destCols.get(n) match {
        case None => dest.addRawColumn(n, t)
        case Some(dt) if dt == t => () // already declared, same type
        case Some(dt) => throw new IllegalArgumentException(
          s"replicateTo: destination declares raw column '$n' as $dt but " +
            s"the source declares $t — incompatible schema evolution; " +
            "re-seed the replica or reconcile the declarations")
      }
    }
    val cursor = dest.ingestHighWatermark
    val cols = rawSchemaAt(None).fieldNames.toSeq.map(col)
    var applied = 0L
    committedVersions.filter(_ > cursor).foreach { v =>
      val m = parseManifest(v)
      val rawRemoves = m.removes.filter(_._1 == "raw")
      val rawAdds = m.adds.filter(_._1 == "raw")
      val delAdds = m.adds.filter(_._1 == "raw_deletes")
      val op = commitOpOf(v)
      if (rawRemoves.nonEmpty &&
          (op == "compact" || op == "apply_deletes")) {
        // row-preserving maintenance (apply_deletes physically rewrites
        // deletions the replica already applied at their merge-on-read
        // commit): nothing a replica needs
      } else if (rawRemoves.nonEmpty) {
        if (!skipChangeCommits)
          throw new IllegalStateException(
            s"replicateTo: source version $v (op '$op') retires raw files " +
              "— the change cannot be expressed as an append (issue row " +
              "deletes merge-on-read to make them replicable); pass " +
              "skipChangeCommits=true for an insert-only replica (deletes " +
              "will NOT propagate), or re-seed the replica from a restore")
      } else if (delAdds.nonEmpty) {
        // a merge-on-read row delete PROPAGATES: the replica applies the
        // same delete ranges under the same idempotent batch-id cursor
        // appends use — the delete is exactly-once like everything else.
        // skipChangeCommits still opts into an insert-only follower.
        if (!skipChangeCommits) {
          val ranges = spark.read.schema(Schemas.rawDeletes)
            .parquet(delAdds.map { case (_, rel, _) =>
              s"${tablePath("raw_deletes")}/$rel" }.sorted: _*)
            .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
            .toSeq.sorted
          dest.applyDeleteBatch(ranges, v)
          applied += 1L
        }
      } else if (rawAdds.nonEmpty) {
        val snap = Snapshot(v,
          Map("raw" -> rawAdds.map(_._2).toSet),
          rawAdds.collect { case (_, rel, Some(st)) => (("raw", rel), st) }.toMap)
        val rows = tableReadFrom(Some(snap), "raw",
          rawSchemaPartitioned).get.select(cols: _*)
        dest.appendBatch(rows, v)
        applied += 1L
      }
    }
    applied
  }

  /** EXTERNAL-READER snapshot export — Delta's `GENERATE
    * symlink_format_manifest`: writes, per table of the current
    * (or pinned) snapshot, a text manifest listing the ABSOLUTE paths of
    * exactly that snapshot's data files, so an engine without a graft
    * reader (DuckDB, Trino, Hive, a plain `spark.read.parquet`) can scan
    * a CONSISTENT snapshot by reading the listed files instead of the
    * live directory — which may contain logically-retired files (a
    * doubled read after compaction) and in-flight writers' orphans (torn
    * rows). Written under `_symlink_manifest/v<version>/<table>.txt`
    * (underscore prefix: parquet data readers ignore the directory;
    * `/` in rollup table names flattens to `_`), one swap-free write per
    * table into a fresh per-version directory so concurrent readers of an
    * older export are untouched — the manifest is immutable once its
    * version is, like everything else in the log. Returns the number of
    * file paths listed.
    */
  def generateSymlinkManifest(asOfVersion: Option[Long] = None): Long = {
    val snap = asOfVersion.map(snapshotAt).orElse(rawSnapshot).getOrElse(
      throw new IllegalStateException(
        "generateSymlinkManifest: no committed snapshot to export"))
    // an external engine reading the listed parquet files has no way to
    // apply merge-on-read delete files — exporting a snapshot with active
    // row deletes would hand it rows the engine's own readers void. Refuse
    // loudly; applyDeletes() makes the snapshot physically clean.
    if (snap.tableFiles("raw_deletes").nonEmpty)
      throw new IllegalStateException(
        s"generateSymlinkManifest: snapshot ${snap.version} carries active " +
          "merge-on-read row deletes an external reader cannot apply — run " +
          "applyDeletes() (or export a version before the delete)")
    val outDir = s"$warehouse/_symlink_manifest/v${snap.version}"
    io.mkdirs(outDir)
    var n = 0L
    // raw_deletes (empty past the guard) and the derive_prev sidecar are
    // engine-internal — not tables external readers should see
    manifestTables.filterNot(Set("raw_deletes", "derive_prev")).sorted.foreach { t =>
      val files = snap.tableFiles(t).toSeq.sorted
      io.writeString(s"$outDir/${t.replace('/', '_')}.txt",
        files.map(f => s"${tablePath(t)}/$f").mkString("\n"))
      n += files.size
    }
    n
  }

  /** The `op` recorded by version `v`'s commit marker (`unknown` when the
    * marker aged out of the bounded history).
    */
  private def commitOpOf(v: Long): String = {
    val f = f"$commitLogPath/$v%09d.commit"
    if (!io.exists(f)) "unknown"
    else "\"op\":\"([^\"]*)\"".r.findFirstMatchIn(io.readString(f))
      .map(_.group(1)).getOrElse("unknown")
  }

  /** RESTORE the warehouse to committed snapshot `version` — Delta's
    * `RESTORE TABLE ... VERSION AS OF`, by log manipulation ALONE: the new
    * commit's file set per table is exactly the target snapshot's, so no
    * data is copied or rewritten (rewrites only ever retire files
    * logically, so the historical files are still on disk) and the verb
    * costs O(file names in the two snapshots) regardless of table size.
    * History is preserved — the pre-restore state remains a time-travel
    * target and the restore appears in [[history]] as one more commit, so
    * a mistaken restore is itself restorable. The registry travels with
    * the data: the target manifest's recorded generation is re-published
    * as a fresh generation (generations are immutable — re-pointing would
    * alias two manifests to one mutable slot), rolling tags, watermarks
    * and derive config back in the same commit, and the derived refresh's
    * prev-point sidecar (`derive_prev`) travels with those watermarks.
    * Batch-sink cursors are NOT rewound: they carry forward like every
    * commit's, so a batch id already applied stays skipped.
    *
    * Fails loudly when: `version` is outside the retained window; a
    * needed historical file was reclaimed by an aggressive
    * `vacuumRaw(retainVersions=…)`; or the target's registry generation
    * was reclaimed out of band. Each failure aborts BEFORE the commit
    * marker lands, so the warehouse is never left half-restored.
    */
  def restore(version: Long): Unit = {
    val target = snapshotAt(version)
    withCommit("restore") {
      manifestTables.foreach { t =>
        val targetFiles = target.tableFiles(t)
        retireFiles(t, committedFiles(t))
        if (targetFiles.nonEmpty) {
          val missing = targetFiles -- listFilesUnder(t)
          if (missing.nonEmpty)
            throw new IllegalStateException(
              s"restore: ${missing.size} file(s) of snapshot $version's " +
                s"table '$t' were reclaimed by an aggressive vacuum " +
                s"(e.g. ${missing.head}) — the snapshot is no longer " +
                "restorable; pick a newer version")
          targetFiles.foreach { f =>
            adoptedFiles.add((t, f))
            target.stats.get((t, f)).foreach(adoptedStats.put((t, f), _))
          }
        }
      }
      parseManifest(version).registry.foreach { g =>
        if (!exists(registryDir(g)))
          throw new IllegalStateException(
            s"restore: registry generation g$g for snapshot $version was " +
              "reclaimed out of band — commit-log and streams_versions " +
              "disagree")
        swapRegistry(readRegistry(registryDir(g)))
      }
    }
  }

  // ---- maintenance (§2.4, T1/T6) ------------------------------------------

  private def tsOf(us: Long): Timestamp =
    Timestamp.from(java.time.Instant.ofEpochSecond(us / 1000000L,
      (us % 1000000L) * 1000L))

  /** Timestamp literal from epoch-µs — foldable, so comparisons against it
    * push down to parquet scans (an `unix_micros(col)` rewrite would not).
    */
  private def tsLit(us: Long): org.apache.spark.sql.Column = lit(tsOf(us))

  /** Incremental cascade maintenance with PER-STREAM watermarks — the
    * reference's `downsample_streams(query_tags, until)` semantics
    * [ds :: backends/mongodb.py :: downsample_streams]:
    *
    *  - each stream carries `downsampled_until` per granularity in its
    *    metadata (SURVEY §1.3), so a stream ensured or backfilled AFTER
    *    other streams advanced still gets its full history downsampled
    *    (a single global watermark would silently skip it);
    *  - `filterTags` restricts maintenance to matching streams
    *    (`filter_stream`); others keep their watermarks untouched;
    *  - every level with work in ONE aggregation and ONE write
    *    ([[Downsample.routedRollup]]): the raw slice and each finer
    *    level's committed partials are routed to every level they feed,
    *    with each stream's bounds on a broadcast join and each source's
    *    GLOBAL bounds as pushable literals so its scan still prunes;
    *  - returns the newly finalized buckets per granularity
    *    (`return_datapoints=True`) as lazy reads of the written slices.
    *
    * Watermarks are g-aligned previous `hi`s, so every source row ≥ its
    * stream's lo lands in a bucket ≥ lo: written buckets are exactly the
    * new, complete ones — append-once, no retraction.
    */
  def downsampleStreams(until: Timestamp,
                        filterTags: Map[String, String] = Map.empty)
      : Map[Granularity, DataFrame] = {
    if (!exists(rawPath) && !exists(derivedPath)) return Map.empty
    val untilUs = until.toInstant.getEpochSecond * 1000000L +
      until.toInstant.getNano / 1000L
    // The routing bounds and the returned `produced` read-backs are built
    // from the in-memory registry generation: local frames that the
    // registry swap at the end of this call cannot change.
    val live = registry
    val selected: Set[String] =
      if (filterTags.isEmpty) live.byId.keySet
      else StreamRegistry.findStreams(live.frame, filterTags)
        .select("stream_id").collect().map(_.getString(0)).toSet
    val selectedRows = live.rows.filter(m => selected(m.stream_id))
    import spark.implicits._
    def hiOf(g: Granularity): Long = {
      val durUs = g.durationSeconds * 1000000L
      (untilUs / durUs) * durUs // first NOT-complete bucket start
    }
    def loOf(m: StreamMeta, g: Granularity): Long =
      Option(m.downsampled_until).flatMap(_.get(g.name)).getOrElse(Long.MinValue)
    // the finest highest-granularity over ALL streams, and per ladder
    // level the min watermark among selected streams with work (lo < hi)
    val finestOpt = live.rows
      .flatMap(m => Granularity.ladder.find(_.name == m.highest_granularity))
      .map(_.durationSeconds).minOption
    if (finestOpt.isEmpty) return Map.empty // empty registry
    val levels = Granularity.ladder.filter(_.durationSeconds >= finestOpt.get)
    val his = levels.map(hiOf)
    val globalLo: Map[Int, Long] = levels.indices.flatMap { i =>
      selectedRows.map(loOf(_, levels(i))).filter(_ < his(i)).minOption.map(i -> _)
    }.toMap
    // levels with work, finest first; none ⇒ no writes and no commit
    val work = levels.indices.filter(globalLo.contains)
    if (work.isEmpty) return Map.empty
    def table(i: Int) = s"rollup/granularity=${levels(i).name}"
    def loDfOf(i: Int): DataFrame =
      selectedRows.map(m => (m.stream_id, loOf(m, levels(i))))
        .filter(_._2 < his(i)).toDF("stream_id", "_lo")
    // pushable global bounds of one source level's scan, `[lo, hi)` on `t`
    def bounded(df: DataFrame, t: String, lo: Long, hi: Long): DataFrame = {
      val below = df.where(col(t) < tsLit(hi))
      if (lo == Long.MinValue) below else below.where(col(t) >= tsLit(lo))
    }
    // the bucket_date partitions level i's buckets can land in (all of
    // them when a bootstrapping stream leaves its window unbounded)
    val zone = java.time.ZoneId.of(spark.conf.get("spark.sql.session.timeZone"),
      java.time.ZoneId.SHORT_IDS)
    def datesOf(i: Int): Seq[String] =
      if (globalLo(i) == Long.MinValue) Seq("")
      else {
        def day(us: Long) = java.time.Instant.ofEpochSecond(Math.floorDiv(us, 1000000L))
          .atZone(zone).toLocalDate
        val last = day(his(i) - 1)
        Iterator.iterate(day(globalLo(i)))(_.plusDays(1)).takeWhile(!_.isAfter(last))
          .map(d => s"bucket_date=$d").toSeq
      }
    withCommit("downsample") {
      val snap = rawSnapshot
      // the sources: the raw slice of level 0's window, and each finer
      // level's COMMITTED partials in the window of the level above it
      // (pruned by manifest stats; no listing). Partials this commit
      // folds into a level reach the coarser levels through the router,
      // never through a read-back of files written here.
      val raw = if (!work.contains(0)) None else Some {
        val lo = globalLo(0)
        Downsample.pointPartial(bounded(rawDatapointsInRange(
            if (lo != Long.MinValue) Some(tsOf(lo)) else None, Some(tsOf(his(0)))),
          "ts", lo, his(0))).withColumn("_src", lit(-1))
      }
      val partials = work.filter(_ > 0).flatMap { i =>
        val (lo, hi) = (globalLo(i), his(i))
        tableReadFrom(snap, table(i - 1), Schemas.downsampledPartitioned,
            Some((lo, hi - 1)))
          .map(df => bounded(df, "bucket_start", lo, hi).drop("bucket_date")
            .withColumn("_src", lit(i - 1)))
      }
      // every selected stream with work at some level, with its bounds
      val lb = broadcast(selectedRows.flatMap { m =>
        val los = levels.map(loOf(m, _))
        if (work.exists(i => los(i) < his(i)))
          Some(m.stream_id -> Downsample.routeBounds(los))
        else None
      }.toDF("stream_id", "_lb"))
      work.foreach(i => scopeWrite(table(i), datesOf(i)))
      (raw ++ partials).reduceOption(_.unionByName(_)).foreach { sources =>
        // partitioned by bucket date — the 100 TB layout; maintenance and
        // reads prune partitions by date before row-group pruning kicks
        // in. The rebalance sizes the files of each (level, date) to its
        // data, as a per-level write's coalesced shuffle did.
        Downsample.routedRollup(sources.join(lb, "stream_id"), levels, his, work)
          .withColumn("bucket_date", to_date(col("bucket_start")))
          .hint("rebalance", col("granularity"), col("bucket_date"))
          .write.mode(SaveMode.Append).partitionBy("granularity", "bucket_date")
          .parquet(s"$warehouse/rollup")
      }
      // a finer level with no files at all halts the coarser levels: they
      // keep their watermarks, and whatever the write put in them is
      // removed again (never committed, so never visible)
      val halt = work.find(i => i > 0 && committedFiles(table(i - 1)).isEmpty &&
        writtenSoFar(table(i - 1)).isEmpty)
      val (done, halted) = work.partition(i => halt.forall(i < _))
      halted.foreach(i => writtenSoFar(table(i))
        .foreach(f => io.deleteFile(s"${tablePath(table(i))}/$f")))
      if (done.nonEmpty) {
        // watermark advance: for selected streams, each written level's
        // entry becomes max(old, hi) — identical to the per-stream
        // semantics (work streams move to hi; already-current streams keep
        // their ≥ hi value; unselected streams are untouched)
        val advanced = done.map(i => levels(i).name -> his(i))
        swapRegistry(registry.rows.map { m =>
          if (!selected(m.stream_id)) m
          else {
            val du = Option(m.downsampled_until).getOrElse(Map.empty[String, Long])
            m.copy(downsampled_until = du ++ advanced.map { case (k, hi) =>
              k -> du.get(k).fold(hi)(math.max(_, hi)) })
          }
        })
      }
      done.map { i =>
        val read = commitRead(table(i), Schemas.downsampledPartitioned)
          .getOrElse(readFiles(table(i), Schemas.downsampledPartitioned, Nil))
          .drop("bucket_date")
          .where(col("bucket_start") < tsLit(his(i)))
        levels(i) -> read.join(loDfOf(i), "stream_id")
          .where(col("_lo") === Long.MinValue ||
            unix_micros(col("bucket_start")) >= col("_lo"))
          .drop("_lo")
      }.toMap
    }
  }

  /** T6 backfill/reprocess: drop all rollup state and recompute the whole
    * cascade up to `until` — the batch analog of the reference's
    * `backprocess_streams`. Exactness of the decimal partials guarantees the
    * reprocessed tables are bit-identical to the incrementally-built ones.
    */
  def reprocessStreams(until: Timestamp): Unit = {
    // recompute derived slices FIRST: the rollups below are built from
    // raw ∪ derived, so rebuilding them over a stale/torn derived table
    // would bake the tear in. Idempotent; free when nothing is derived.
    updateDerivedStreams()
    withCommit("reprocess") {
      // drop all rollup state LOGICALLY (retire from the manifest, files
      // reclaimed by vacuum once unreferenced): readers between this
      // commit and the rebuild see empty rollups, exactly as the previous
      // physical delete behaved — but a crash mid-reprocess leaves the
      // pre-reprocess rollups intact and still served
      Granularity.ladder.map(g => s"rollup/granularity=${g.name}")
        .foreach(t => retireFiles(t, committedFiles(t)))
      // reset every stream's per-granularity watermark
      if (registryGen.isDefined)
        swapRegistry(
          registry.rows.map(_.copy(downsampled_until = Map.empty)))
    }
    downsampleStreams(until)
    // the warehouse is now rebuilt from its raw tables — any torn-mutation
    // markers that survived a crash are remediated, so stop warning on them
    acknowledgeTorn()
    ()
  }

  // ---- compaction (file-health maintenance) -------------------------------

  /** Small-file compaction with clustering. Every partition of the raw,
    * derived, and rollup tables holding more than `maxFilesPerPartition`
    * data files is rewritten to ONE file per partition value, sorted by
    * (stream_id, time) inside the file. Frequent appends and incremental
    * maintenance accrete one small file per write per touched partition;
    * every later scan then pays listing, scheduling, and per-file open
    * overhead for all of them, and row-group min/max stats stay loose
    * because each file interleaves streams. Compaction is a PURE PHYSICAL
    * rewrite — bit-identical data, gated by `q_compaction` — that restores
    * both: O(1) files per partition and tight per-file (stream_id, time)
    * ranges, so stream-selective and time-range scans skip whole row
    * groups. The Delta/Iceberg spelling is `OPTIMIZE … ZORDER BY`. Like
    * every rewrite it goes through [[rewriteFiles]]: the clustered files
    * are appended beside the fat partitions' files, which are retired in
    * the same commit (they stay on disk for older snapshots until vacuum).
    * [[compactZOrder]] is the max-records-per-file split for partitions
    * too big for one file; single-writer per warehouse as with every
    * mutation verb.
    *
    * Returns per-table (data files before, after).
    */
  def compact(maxFilesPerPartition: Int = 1,
              start: Option[Timestamp] = None,
              end: Option[Timestamp] = None): Map[String, (Long, Long)] = {
    require(maxFilesPerPartition >= 1, "maxFilesPerPartition must be >= 1")
    // OPTIMIZE-WHERE scoping: with a [start, end] window only the DATE
    // partitions inside it are candidates — the incremental shape
    // compaction must have at 100 TB (optimize yesterday's ingest, not
    // the whole table). Date-partitioned tables (raw, rollups) scope by
    // their partition value; the stream-partitioned derived table has no
    // date axis and is skipped entirely under a scoped run.
    val scopeDates = (start, end) match {
      case (None, None) => None
      case _ => Some((
        start.map(t => java.sql.Date.valueOf(t.toLocalDateTime.toLocalDate))
          .getOrElse(new java.sql.Date(Long.MinValue)),
        end.map(t => java.sql.Date.valueOf(t.toLocalDateTime.toLocalDate))
          .getOrElse(new java.sql.Date(Long.MaxValue))))
    }
    def partInScope(part: String): Boolean = scopeDates match {
      case None => true
      case Some((lo, hi)) =>
        // unparseable partition values (foreign layouts) stay out of a
        // SCOPED run — scoping must never widen the rewrite
        scala.util.Try(java.sql.Date.valueOf(part.substring(part.indexOf('=') + 1)))
          .toOption.exists(d => !d.before(lo) && !d.after(hi))
    }
    /** Rewrite every partition whose MANIFEST-REFERENCED file count
      * exceeds the cap through [[rewriteFiles]]: exactly those files are
      * read through the snapshot (never the live directory — orphans from
      * torn mutations are neither merged nor adopted) and one fresh
      * clustered file per partition value is appended. Counts ("files
      * before/after") are snapshot counts: retired-but-unvacuumed garbage
      * never makes a partition look fat again.
      */
    def compactTable(table: String,
                     schema: org.apache.spark.sql.types.StructType,
                     partCol: String): (Long, Long) = {
      val files = committedFiles(table)
      def partOf(f: String) = f.split('/').head
      val byPart = files.toSeq.map(partOf)
        .filter(_.startsWith(partCol + "="))
        .groupBy(identity).view.mapValues(_.size.toLong).toMap
      val fat = byPart.filter { case (p, n) =>
        n > maxFilesPerPartition && partInScope(p)
      }.keySet
      val old = files.filter(f => fat(partOf(f)))
      // hash-cluster on the partition value so every value's rows land in
      // ONE task (one output file each); the within-task sort leads with
      // partCol to keep values contiguous for the partitioned writer, then
      // clusters by (stream_id, time)
      val sortCols = partCol +: Seq("stream_id", tableLayout(table).get._2)
        .filterNot(_ == partCol)
      rewriteFiles(table, schema, Seq(partCol), old)(
        _.repartition(col(partCol)).sortWithinPartitions(sortCols.map(col): _*))
      val before = byPart.values.sum
      (before, before - old.size + writtenSoFar(table).size)
    }
    withCommit("compact") {
      // the per-table compactions are independent read→append pipelines
      // over different paths; the commit bookkeeping they share is
      // concurrent by construction. The derived table is
      // stream-partitioned (no date axis): it joins a FULL compaction
      // only — a scoped run leaves it alone
      val tables = dataTables.filter(t => scopeDates.isEmpty || t._1 != "derived")
      tables.map(_._1.replace("/granularity=", "/")).zip(
        Concurrency.inParallel(tables.map { case (table, schema, partCol) =>
          () => compactTable(table, schema, partCol)
        })).toMap
    }
  }

  /** DESCRIBE DETAIL analog, served from the CURRENT snapshot manifest
    * with zero data I/O: per manifest table, the exact file count, total
    * bytes (`len=` stats), total rows (`rows=` stats) and the µs time
    * bounds. A column is null when any file lacks the backing stat (an
    * adopted foreign file) — absent, never wrong. At 100 TB this is
    * the table-health dashboard query; nothing here opens a data file.
    */
  def tableDetail: DataFrame = {
    import spark.implicits._
    val rows: Seq[(String, Long, Option[Long], Option[Long],
        Option[Long], Option[Long])] =
      rawSnapshot match {
        case None => Seq.empty
        case Some(s) =>
          manifestTables.sorted.map { t =>
            val files = s.tableFiles(t).toSeq
            val sts = files.flatMap(f => s.stats.get((t, f)))
            def total(get: FileStats => Option[Long]): Option[Long] =
              if (sts.size == files.size && sts.forall(get(_).isDefined))
                Some(sts.map(get(_).get).sum)
              else None
            val bounds =
              if (files.nonEmpty && sts.size == files.size)
                (Some(sts.map(_.tsMin).min), Some(sts.map(_.tsMax).max))
              else (None, None)
            (t, files.size.toLong, total(_.len), total(_.rows),
              bounds._1, bounds._2)
          }
      }
    rows.toDF("table", "n_files", "bytes", "n_rows", "ts_min_us", "ts_max_us")
  }

  /** 16-bit Morton spread: bits of a 16-bit value moved to the even bit
    * positions of a 32-bit value (classic staged shift-and-mask), all
    * long column arithmetic — stays inside whole-stage codegen.
    */
  private[graft] def zSpread(c0: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    var x = c0.bitwiseAND(lit(0xFFFFL))
    x = x.bitwiseOR(shiftleft(x, 8)).bitwiseAND(lit(0x00FF00FFL))
    x = x.bitwiseOR(shiftleft(x, 4)).bitwiseAND(lit(0x0F0F0F0FL))
    x = x.bitwiseOR(shiftleft(x, 2)).bitwiseAND(lit(0x33333333L))
    x.bitwiseOR(shiftleft(x, 1)).bitwiseAND(lit(0x55555555L))
  }

  /** SQL fragment scaling column `name` (a 0-based offset) to a full
    * 16-bit key over a `domain`-sized value space: multiply-then-`div`
    * when the domain is small (≤ 2^16 — exact and overflow-free since
    * value < domain ≤ 2^16 ⇒ product < 2^32), `div`-by-bucket when large
    * (no overflow at any domain size). Both fill the HIGH key bits, so
    * the two interleaved dimensions carry equal weight in the z-curve —
    * a low-cardinality dimension scaled naively would occupy only the
    * low bits and the "z-order" would degenerate to a plain sort on the
    * other dimension. Integral `div` throughout: double division would
    * lose exactness past 2^53.
    */
  private[graft] def zKey16(name: String, domain: Long): String = {
    val d = math.max(domain, 1L)
    if (d <= 65536L) s"(($name * 65536) div $d)"
    else {
      // CEILING bucket: floor (`d / 65536`) under-sizes the bucket whenever
      // 65536 ∤ d — worst at d ∈ (2^16, 2^17) where the bucket floors to 1
      // and `least(.., 65535)` collapses the UPPER HALF of the value space
      // onto one saturated key (the clustering silently degenerates to a
      // one-dimension sort there). A ceiling bucket spreads every value
      // without saturation; the cost is bounded slack at the top of the
      // key range (≤ half just above each 2^16 multiple, vanishing as d
      // grows) — recoverable spread, vs. unrecoverable key collisions.
      // The `least` stays as a pure safety clamp for out-of-domain inputs.
      val bucket = (d + 65535L) / 65536L
      s"least($name div $bucket, 65535)"
    }
  }

  /** Z-ORDER clustering rewrite of the raw fact table — the OPTIMIZE
    * ZORDER BY (stream_id, ts) analog. [[compact]] collapses each
    * dp_date partition to ONE file, which is right for the reference's
    * thousands-of-streams monitoring shape but wrong at 100 TB, where a
    * single day is far bigger than any sane file: this rewrite instead
    * splits each partition into `maxRecordsPerFile`-sized files whose
    * rows are contiguous on the Morton interleave of (stream-rank,
    * ts-offset), so every output file covers a NARROW sid × ts rectangle
    * and the existing manifest-stats skipping ([[keepFile]]: sid bounds +
    * bloom, ts bounds) prunes on BOTH dimensions at once — a plain
    * (stream_id, ts) sort gives narrow sid bounds but each file spans the
    * whole day, a (ts) sort the reverse.
    *
    * The z-key inputs cost no extra scan: stream ranks come from a
    * registry-scale window (the dimension table — millions of rows at
    * most, metadata next to the fact table), ts bounds from the manifest
    * stats. One range shuffle on (dp_date, z) clusters the rewrite; the
    * partitioned writer cuts files every `maxRecordsPerFile` rows, i.e.
    * along z-contiguous boundaries. Snapshot-isolated like every rewrite:
    * old files retire logically, readers stay on the previous manifest
    * until the commit lands.
    */
  def compactZOrder(maxRecordsPerFile: Long = 1L << 20,
                    start: Option[Timestamp] = None,
                    end: Option[Timestamp] = None): (Long, Long) = {
    require(maxRecordsPerFile > 0, "maxRecordsPerFile must be > 0")
    // optional INCREMENTAL scope (the `OPTIMIZE ... WHERE` shape): only
    // dp_date partitions inside [start, end] rewrite — at 100 TB the
    // maintenance loop re-clusters the recently-ingested days, never the
    // whole table. Date-granularity prune on the partition directory
    // names; untouched partitions keep their files and stats verbatim.
    // An empty scope is a true no-op: no commit version is spent.
    def scopedFiles(): Set[String] = {
      val dateLo = start.map(t => t.toInstant.atZone(java.time.ZoneOffset.UTC).toLocalDate)
      val dateHi = end.map(t => t.toInstant.atZone(java.time.ZoneOffset.UTC).toLocalDate)
      def inScope(part: String): Boolean =
        scala.util.Try(java.time.LocalDate.parse(part.stripPrefix("dp_date=")))
          .toOption.forall(d =>
            dateLo.forall(lo => !d.isBefore(lo)) &&
              dateHi.forall(hi => !d.isAfter(hi)))
      committedFiles("raw").filter { f =>
        val part = f.split('/').head
        part.startsWith("dp_date=") && inScope(part)
      }
    }
    if (scopedFiles().isEmpty) (0L, 0L)
    else withCommit("compact") {
      // re-resolve under the writer lock — the advisory pre-check only
      // decided whether a commit is worth opening at all
      val old = scopedFiles()
      if (old.isEmpty) (0L, 0L)
      else zorderRewrite(old, maxRecordsPerFile)
    }
  }

  /** The clustered-rewrite body of [[compactZOrder]]: rewrites the raw
    * files `old` (whole `dp_date` partitions) inside its commit.
    */
  private def zorderRewrite(old: Set[String],
                            maxRecordsPerFile: Long): (Long, Long) = {
    rewriteFiles("raw", rawSchemaPartitioned, Seq("dp_date"), old,
      maxRecordsPerFile = Some(maxRecordsPerFile))(zOrdered(_, old))
    (old.size.toLong, writtenSoFar("raw").size.toLong)
  }

  /** `slice` (the raw files `old`) range-clustered on the Morton key of
    * (stream rank, ts offset) within each `dp_date`, in the raw schema's
    * column order.
    */
  private def zOrdered(slice: DataFrame, old: Set[String]): DataFrame = {
    val nStreams = math.max(registry.rows.size.toLong, 1L)
    // stream ranks, SIZE-ADAPTIVE: a plain `Window.orderBy(stream_id)`
    // coalesces the registry into ONE task — fine (and cheapest: no
    // range shuffle, no checkpoint) up to tens of thousands of streams,
    // a straggler at millions. Past the threshold the scalable
    // range-partitioned rank (Pack.globalRankByKey) takes over —
    // bit-identical output (row_number over a UNIQUE key), only a
    // partition-count-sized apex window. Both paths are exercised:
    // the gate runs the window arm; CorpusOpsSpec pins the two
    // formulations equal on the same input.
    val ranks =
      if (nStreams <= 65536L) {
        val w = org.apache.spark.sql.expressions.Window.orderBy("stream_id")
        streams.select(col("stream_id"))
          .withColumn("_sr", row_number().over(w).cast("long") - 1L)
      } else
        ext.Pack.globalRankByKey(
          streams.select(col("stream_id")), "stream_id", "_sr")
    // ts bounds from the manifest stats when EVERY retired file carries
    // them (zero data I/O); a stat-less file (an adopted foreign file)
    // falls back to one min/max aggregate over the slice being
    // rewritten anyway — bounds must COVER the data or the offset key
    // goes negative and the clustering silently degenerates
    val sts = rawSnapshot.map(_.stats).getOrElse(Map.empty)
      .collect { case (("raw", f), st) if old(f) => st }
    val (tsLo, tsHi) =
      if (sts.size == old.size && sts.nonEmpty)
        (sts.map(_.tsMin).min, sts.map(_.tsMax).max)
      else {
        val r = slice.agg(min(expr("unix_micros(ts)")),
          max(expr("unix_micros(ts)"))).first()
        if (r.isNullAt(0)) (0L, 0L) else (r.getLong(0), r.getLong(1))
      }
    val tsDomain = tsHi - tsLo + 1L
    // unregistered streams (appendMultiple tolerates them) take the
    // sentinel rank `nStreams`, whose key clamps to the TOP of the key
    // space — they cluster at the end of the z-range instead of inside
    // rank 0's lane, and the registered ranks keep their clean
    // full-domain scaling (a +1 domain would smear every key's bit
    // pattern and visibly degrade the per-stream file bounds)
    val zed = slice.join(ranks, Seq("stream_id"), "left")
      // clamped: a row outside the computed bounds can only come from a
      // foreign concurrent writer, and a clamped key degrades clustering
      // for that row instead of wrapping the Morton spread
      .withColumn("_us", expr(
        s"greatest(0L, least(unix_micros(ts) - ${tsLo}L, ${tsDomain - 1}L))"))
      .withColumn("_sr0", coalesce(col("_sr"), lit(nStreams)))
      .withColumn("_z",
        zSpread(expr(zKey16("_us", tsDomain))) * 2L +
          zSpread(expr(s"least(${zKey16("_sr0", nStreams)}, 65535)")))
    zed.repartitionByRange(col("dp_date"), col("_z"),
        col("stream_id"), col("ts"))
      .sortWithinPartitions("dp_date", "_z", "stream_id", "ts")
      // restore the exact schema column order (the join moved
      // stream_id to the front) — order-preserving projection
      .select(rawSchemaPartitioned.fieldNames.toSeq.map(col): _*)
  }

  /** Finalized downsampled table at granularity `g` (read shape of S3) —
    * a snapshot read, like every other table surface.
    */
  def rollup(g: Granularity): DataFrame =
    tableReadOpt(s"rollup/granularity=${g.name}", Schemas.downsampledPartitioned)
      .getOrElse(spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        Schemas.downsampledPartitioned))
      .drop("bucket_date")

  /** Aligned MULTI-STREAM matrix export — the "hand a training job /
    * notebook one frame" read shape the reference's one-stream get_data
    * cannot express: one row per `bucket_start` in `[start, end]`, one
    * column per tag-matched stream, each cell the requested downsampler
    * at `granularity` (derived from the finalized rollup partials exactly
    * as [[getData]] derives it — [[Downsample.finalizeView]]). A bucket a
    * stream has no finalized data for is NULL, so the frame is a dense
    * time grid over a sparse union of series.
    *
    * Scale shape: ONE rollup read (partition-pruned to the window) under
    * the pivot's aggregate; the pivot runs in the scan's own task when the
    * read is no larger than one file-open ([[GetData.oneTaskIfSmall]]) and
    * shuffles on `bucket_start` above that. The matched stream ids are
    * collected (bounded by the house `head(max+1)` fail-fast) because they
    * become COLUMNS — a matrix is driver-width by construction, which is
    * also why `maxStreams` defaults low; wide exports should raise it
    * deliberately or stay in the long (stream_id, bucket, value) shape.
    */
  def getDataMatrix(tagQuery: Map[String, String], granularity: Granularity,
                    start: Timestamp, end: Timestamp,
                    downsampler: String = "mean",
                    maxStreams: Int = 1024): DataFrame = {
    val matched = StreamRegistry.findStreams(streams, tagQuery)
    val metaRows = matched.select(col("stream_id"),
        col("highest_granularity"), col("value_downsamplers"))
      .limit(maxStreams + 1).collect()
    if (metaRows.length > maxStreams)
      throw new IllegalArgumentException(
        s"get_data_matrix: tag query matches more than maxStreams=" +
          s"$maxStreams streams — each matched stream becomes a COLUMN; " +
          "raise maxStreams deliberately or read the long shape instead")
    if (metaRows.isEmpty)
      throw new errors.StreamNotFound(
        s"get_data_matrix: no stream matches $tagQuery")
    metaRows.foreach { r =>
      if (!Granularity.isCoarserOrEqual(granularity,
          Granularity(r.getString(1))))
        throw new errors.UnsupportedGranularity(
          s"${granularity.name} finer than stream ${r.getString(0)}'s " +
            r.getString(1))
      if (!r.getSeq[String](2).contains(downsampler))
        throw new errors.UnsupportedDownsampler(
          s"stream ${r.getString(0)} does not declare: $downsampler")
    }
    val sids = metaRows.map(_.getString(0)).sorted.toSeq
    val slice = rollup(granularity)
      .where(col("stream_id").isInCollection(sids) &&
        col("bucket_start") >= lit(start) && col("bucket_start") <= lit(end))
    Downsample.finalizeView(GetData.oneTaskIfSmall(slice))
      .select(col("stream_id"), col("bucket_start"),
        col(downsampler).as("_v"))
      .groupBy("bucket_start")
      .pivot("stream_id", sids) // explicit values: no discovery pass
      .agg(first(col("_v")))
  }

  /** Register the warehouse's read surfaces as session temp views so plain
    * `spark.sql` queries the engine — the Spark-native equivalent of the
    * reference's HTTP query layer. Registered under `<prefix>_*`:
    * `datapoints` (the logical fact table: raw ∪ derived, merge-on-read
    * deletes applied), `rollup_<granularity>` (FINALIZED downsample views —
    * mean/std_dev derived read-side from the exact partials, like
    * `get_data`), `streams` (the registry), `pending_deletes`, `history`
    * and `table_detail`. Every view is SNAPSHOT-PINNED at registration
    * (the plan embeds the committed file set — table-format semantics, not
    * a live directory read): re-register to advance to the newest commit.
    * Returns the registered view names.
    */
  def registerViews(prefix: String = "graft"): Seq[String] = {
    import spark.implicits._
    val hist = history.toDF("version", "op", "registry_generation")
    val entries: Seq[(String, DataFrame)] = Seq(
      "datapoints" -> rawDatapoints,
      "streams" -> streams,
      "pending_deletes" -> pendingDeletes,
      "history" -> hist,
      "table_detail" -> tableDetail) ++
      Granularity.ladder.map(g =>
        s"rollup_${g.name}" -> Downsample.finalizeView(rollup(g)))
    entries.map { case (name, df) =>
      val full = s"${prefix}_$name"
      df.createOrReplaceTempView(full)
      full
    }
  }

  // ---- read path (S3) -----------------------------------------------------

  /** S3 read path. Requested downsamplers are validated against the
    * STREAM'S declared set (nominal/graph streams are count-only), not just
    * the global name space — `UnsupportedDownsampler` otherwise.
    */
  def getData(streamId: String, granularity: Granularity,
              start: Option[Timestamp] = None, end: Option[Timestamp] = None,
              startExclusive: Boolean = false, endExclusive: Boolean = false,
              reverse: Boolean = false,
              valueDownsamplers: Option[Seq[String]] = None,
              timeDownsamplers: Seq[String] =
                Seq(Downsamplers.TimeFirst, Downsamplers.TimeLast),
              limit: Option[Int] = None, offset: Int = 0,
              asOfVersion: Option[Long] = None): DataFrame = {
    // pinned reads resolve METADATA from the same snapshot as the data:
    // granularity checks, declared-downsampler validation and value-type
    // projection below all follow the as-of registry ([[streamsAt]])
    val meta = asOfVersion match {
      case Some(v) => streamMetaFrom(streamsAt(v), streamId)
      case None => streamMeta(streamId) // validates existence
    }
    if (granularity.name == meta.highest_granularity) {
      val vcols = if (meta.value_type == ValueType.Numeric) Seq("value") else Seq("value_json")
      // dp_date partition pruning first (inclusive-date superset), exact µs
      // predicate inside GetData.raw on top
      GetData.raw(
        rawDatapointsInRange(start, end, asOfVersion, Some(Seq(streamId))),
        streamId, start, end,
        startExclusive, endExclusive, reverse, limit, offset, vcols)
    } else {
      if (!Granularity.isCoarserOrEqual(granularity, Granularity(meta.highest_granularity)))
        throw new errors.UnsupportedGranularity(
          s"${granularity.name} finer than stream's ${meta.highest_granularity}")
      val requested = valueDownsamplers.getOrElse(meta.value_downsamplers)
      val undeclared = requested.filterNot(meta.value_downsamplers.contains)
      if (undeclared.nonEmpty)
        throw new errors.UnsupportedDownsampler(
          s"stream $streamId does not declare: ${undeclared.mkString(", ")}")
      // partition pruning first (bucket_date bounds), then row-group pruning
      // and the exact bucket_start predicate inside GetData; snapshot read
      val pruned = Seq(
        start.map(s => col("bucket_date") >= to_date(lit(s))),
        end.map(e => col("bucket_date") <= to_date(lit(e))))
        .flatten
        .foldLeft(tableReadFrom(
            asOfVersion.map(snapshotAt).orElse(rawSnapshot),
            s"rollup/granularity=${granularity.name}",
            Schemas.downsampledPartitioned,
            usSkipRange(start, end), Some(IndexedSeq(streamId)))
          .getOrElse(spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
            Schemas.downsampledPartitioned)))(_.where(_))
        .drop("bucket_date")
      GetData.downsampledPage(pruned, streamId, start, end,
        startExclusive, endExclusive, reverse, requested, timeDownsamplers,
        limit, offset)
    }
  }

  /** Streams matching `tagQuery` may never drive file skipping beyond this
    * count: the matched-id set is driver-collected to filter the manifest
    * file list, and a tag query matching a huge slice of the registry
    * would (a) bloat the driver and (b) skip almost nothing anyway — a
    * near-total selection overlaps nearly every file. Past the cap the
    * read silently degrades to the plain snapshot scan + semi-join, which
    * is always correct.
    */
  private val MaxSkipIds = 4096

  /** J1 composed with the storage layer: the fact table restricted to the
    * streams matching `tagQuery` (and the optional time range), with
    * MANIFEST FILE SKIPPING driven by the matched stream-id SET — a file
    * stays in the plan only if some matched id falls inside its
    * [sidMin, sidMax] manifest bounds (and its ts bounds overlap the
    * range). On a warehouse where streams land in distinct commits —
    * ingest-per-source, the common shape — a 2-stream tag selection plans
    * a strict subset of the snapshot's files before Spark sees the scan.
    * Exactness is still enforced on top, by an IN filter on the matched
    * ids (or, past the cap, the broadcast semi-join
    * [[StreamRegistry.selectDatapoints]]); the skip is a plan-size
    * optimization, never a correctness dependency.
    */
  def datapointsForStreams(tagQuery: Map[String, String],
                           start: Option[Timestamp] = None,
                           end: Option[Timestamp] = None,
                           asOfVersion: Option[Long] = None): DataFrame = {
    // pinned reads resolve the TAG QUERY against the registry generation
    // recorded in that snapshot's manifest ([[streamsAt]]) — metadata and
    // data travel together, as in getData's pinned path
    val registry = asOfVersion.map(streamsAt).getOrElse(streams)
    val matched = StreamRegistry.findStreams(registry, tagQuery)
      .select("stream_id")
    val ids = matched.limit(MaxSkipIds + 1).collect().map(_.getString(0)).toSeq
    val skip = if (ids.length > MaxSkipIds) None else Some(ids)
    // dp_date partition pruning + file skipping inside the range read are
    // DATE/µs supersets; the exact inclusive ts bounds apply on top
    val exact = Seq(
      start.map(s => col("ts") >= lit(s)),
      end.map(e => col("ts") <= lit(e))).flatten
    val rows = exact.foldLeft(
      rawDatapointsInRange(start, end, asOfVersion, skip))(_.where(_))
    // a collected id set is an IN filter (pushed into the scan, no
    // broadcast job); past the cap, the semi-join against the registry
    skip match {
      case Some(sids) => rows.where(col("stream_id").isInCollection(sids))
      case None => StreamRegistry.selectDatapoints(rows, matched)
    }
  }

  /** Batch materialization of a derived stream's datapoints from its
    * sources' raw data (the reference derives at append; batch recompute is
    * the idempotent equivalent — T6).
    */
  def deriveDatapoints(streamId: String): DataFrame = {
    val meta = streamMeta(streamId)
    val op = meta.derive_op.getOrElse(
      throw new errors.InvalidOperatorArguments(s"$streamId is not derived"))
    val src = rawDatapoints
      .join(broadcast(meta.derived_from.toDF("stream_id")), Seq("stream_id"), "left_semi")
      .withColumn("event_id", monotonically_increasing_id())
    val g = Granularity(meta.highest_granularity)
    op match {
      case "sum" =>
        Derive.sumStreams(src.withColumn("derived", lit(streamId)), g, Seq("derived"))
      case "derivative" => Derive.derivative(src)
      case "counter_reset" => Derive.counterReset(src)
      case "counter_derivative" =>
        val maxV = meta.derive_args.flatMap(s =>
          MaxValueArg.r.findFirstMatchIn(s).map(_.group(1).toDouble))
        Derive.counterDerivative(src, maxV)
      case other => throw new errors.InvalidOperatorArguments(s"unknown derive op $other")
    }
  }

  /** `max_value` in a counter_derivative stream's `derive_args`. */
  private val MaxValueArg = "max_value\"?\\s*[:=]\\s*([0-9.eE+-]+)"

  /** The reference updates derived streams at append
    * [ds :: backends/mongodb.py :: append → _process_contributes_to]; the
    * batch-native equivalent recomputes every derived stream's datapoints
    * and replaces ONLY those streams' slices of the `derived/` sibling table.
    * The appended fact table is never rewritten — at 100 TB a derived-stream
    * refresh costs O(sources read + derived written), not a full fact-table
    * round-trip. `rawDatapoints` unions the slice back in, so `getData` and
    * the maintenance cascade serve derived streams exactly like ordinary
    * ones. Idempotent.
    *
    * This is [[updateDerivedStreamsIncremental]] run from an empty
    * watermark with no upper bound: every derived stream bootstraps, the
    * whole previous derived table is retired from the next snapshot, and
    * the `"derived"` watermarks and the prev-point sidecar are cleared — a
    * stream whose recompute comes back empty simply has no files in the
    * new manifest. It is also the remedy for every state the incremental
    * bookkeeping cannot repair (see there).
    */
  def updateDerivedStreams(): Unit = refreshDerived(None)

  /** INCREMENTAL derived-stream maintenance — the `downsampled_until`
    * watermark pattern applied to the derived table, so a refresh costs
    * O(new data), not O(history) (the reference derives incrementally at
    * append; at 100 TB a daily refresh must not re-read the past).
    *
    * Per derived stream the registry carries a `"derived"` entry in its
    * `downsampled_until` map: the granularity-aligned bound below which
    * derived points are FINAL. A refresh reads only source rows in
    * `[watermark, floor(until, g))` — dp_date partition pruning applies,
    * so the scan is bounded by the new slice — emits the new derived
    * points APPEND-ONLY into the stream's slice, and advances the
    * watermark. Late source rows below a stream's watermark are dropped,
    * the same T1/T3 finality contract the rollup cascade enforces.
    *
    * The lag boundary (derivative / counter ops need each first new row's
    * predecessor) is stitched from a prev-point sidecar: one
    * `(derived, source, prev_ts, prev_value)` row per pair — the same
    * summary-row stitch `Derive.chunkedPrev` does across day chunks,
    * persisted across refreshes. `sum` needs no stitch: the watermark is
    * bucket-aligned, so every emitted bucket's rows lie wholly in the new
    * slice.
    *
    * A stream with NO watermark (first refresh, after a full
    * [[updateDerivedStreams]], or after a `restore` to a version before its
    * first refresh) BOOTSTRAPS: its existing slice is retired and its full
    * history re-derived up to the bound, with no sidecar rows — thereafter
    * every refresh is incremental. Incremental-in-N-steps ≡ one-shot
    * (asserted in tests and by the `q_derive_incremental` oracle gate):
    * decimal bucket sums are exact under any split, and the lag stitch
    * reproduces the unsplit window.
    *
    * The sidecar is a manifest table (`derive_prev`) committed with the
    * derived rows, so `restore` brings back the sidecar that matches the
    * restored watermarks. Open case, remedied by a full
    * [[updateDerivedStreams]]: the data and sidecar writes precede the
    * registry swap, which precedes the manifest commit — a crash during
    * the (dominant) writes is fully invisible; the remaining swap→commit
    * tail (milliseconds) can leave the watermark ahead of invisible data,
    * which the intent marker flags — the same registry-ahead-of-data tail
    * deleteStreams documents.
    */
  def updateDerivedStreamsIncremental(until: Timestamp): Unit =
    refreshDerived(Some(until))

  /** The one derived-stream refresh body. `until = None` is the full
    * refresh: every stream bootstraps, no upper bound, no sidecar.
    *
    * ONE join-based pass per op class — never a per-stream driver loop: the
    * registry's derived rows (derived id, op, parsed args, exploded sources)
    * broadcast-join into the fact table, and each op class runs as a single
    * window/groupBy keyed by (derived id, source id). N derived streams cost
    * ~4 plans total (one per op class present), not 2N driver-side jobs —
    * the reference's per-stream Python loop is exactly what SURVEY §7.4.5
    * forbids at scale. Driver state is O(op classes), never O(derived
    * streams).
    */
  private def refreshDerived(until: Option[Timestamp]): Unit = {
    val full = until.isEmpty
    import spark.implicits._
    // per-row bucket duration from each derived stream's granularity —
    // the same epoch-µs floor as Downsample.bucketStart, duration via the
    // joined metadata instead of a plan-time literal
    val durUs = element_at(
      typedLit(Granularity.ladder
        .map(g => g.name -> g.durationSeconds * 1000000L).toMap),
      col("highest_granularity"))
    // per-derived work window [lo, hi), on the driver over the in-memory
    // registry: lo = watermark (MinValue ⇒ bootstrap), hi =
    // floor(until, granularity); a stream already at hi has no work
    val untilUs = until.map(u =>
      u.toInstant.getEpochSecond * 1000000L + u.toInstant.getNano / 1000L)
    val work = registry.rows.flatMap { m =>
      for {
        op <- m.derive_op
        hi <- untilUs.fold(Option(Long.MaxValue)) { us =>
          Granularity.ladder.find(_.name == m.highest_granularity).map { g =>
            us - Math.floorMod(us, g.durationSeconds * 1000000L)
          }
        }
        lo = if (full) Long.MinValue else Option(m.downsampled_until)
          .flatMap(_.get("derived")).getOrElse(Long.MinValue)
        if lo < hi
      } yield Datastream.DeriveWork(m.stream_id, op, m.derive_args.flatMap(a =>
        MaxValueArg.r.findFirstMatchIn(a).flatMap(_.group(1).toDoubleOption)),
        m.highest_granularity, m.derived_from, lo, hi)
    }.sortBy(_.id)
    if (work.isEmpty || !exists(rawPath)) return
    val ops = work.map(_.op).toSet
    // ensure-time validation admits only Derive.ops; re-checked here because
    // this also reads registries written by older/foreign tools
    ops.find(!Derive.ops(_)).foreach { op =>
      throw new errors.InvalidOperatorArguments(s"unknown derive op $op")
    }
    work.find(w => w.op == "counter_derivative" && w.maxValue.exists(_ <= 0)).foreach { w =>
      throw new errors.InvalidOperatorArguments(
        s"counter_derivative max_value must be positive (stream ${w.id})")
    }
    val globalLo = work.map(_.lo).min
    val globalHi = work.map(_.hi).max
    val boots = work.filter(_.lo == Long.MinValue).map(_.id).toSet
    // route every source row to every derived stream consuming it: one
    // broadcast of the registry-sized derived metadata
    val routes = broadcast(work.flatMap { w =>
      w.from.map(src => (w.id, w.op, w.maxValue, w.granularity, w.lo, w.hi, src))
    }.toDF("derived_id", "derive_op", "max_value", "highest_granularity",
      "_lo", "_hi", "stream_id"))
    withCommit(if (full) "update_derived" else "update_derived_incremental") {
      // the prev-point sidecar as the previous snapshot published it: the
      // incremental refresh replaces it whole below, the full refresh
      // clears it (its files stay on disk for older snapshots until vacuum)
      val prevSidecar =
        if (full) None else commitRead("derive_prev", derivePrevSchema)
      retireFiles("derive_prev", committedFiles("derive_prev"))
      // bootstrapping streams re-derive their full history: retire their
      // current slices (files stay until vacuum; readers on the previous
      // snapshot keep them until this commit lands). In the full refresh
      // every stream bootstraps, so the whole table goes.
      if (full) retireFiles("derived", committedFiles("derived"))
      else if (boots.nonEmpty)
        retireFiles("derived",
          committedFiles("derived").filter(f => dirStream("derived", f).exists(boots)))
      scopeWrite("derived")
      // the bounded source slice: dp_date partition pruning via the global
      // bounds, the exact per-stream [lo, hi) window via the route join —
      // this is THE property that makes a refresh cost O(new data)
      val slice = rawDatapointsInRange(
          if (globalLo != Long.MinValue) Some(tsOf(globalLo)) else None,
          until.map(_ => tsOf(globalHi)))
        .join(routes, Seq("stream_id"))
        .where(unix_micros(col("ts")) < col("_hi") &&
          (col("_lo") === Long.MinValue || unix_micros(col("ts")) >= col("_lo")))
      // lag stitch: each watermarked (derived, source) pair's persisted
      // prev point rides in as one extra source row BELOW the window; its
      // own output (emitted by the previous refresh) is filtered back out
      // below. Only lag ops get prev rows — a prev row in a `sum` group
      // would double-count a bucket contribution — and bootstrapping
      // streams get none: they re-derive from their whole history, and a
      // sidecar row can only be stale for them.
      val prevRows = prevSidecar.map(_
          .join(routes.where(col("derive_op") =!= "sum" &&
            col("_lo") =!= Long.MinValue), Seq("derived_id", "stream_id"))
          .select(col("stream_id"), col("ts"), col("value"),
            lit(null).cast("string").as("value_json"), col("derived_id"),
            col("derive_op"), col("max_value"), col("highest_granularity"),
            col("_lo"), col("_hi")))
      // checkpoint, not cache: a derived stream's sources may include OTHER
      // derived streams — slices this commit is retiring. A plain cache
      // lost mid-write would silently recompute from lineage against the
      // table being replaced; the lineage-free checkpoint cannot. The
      // emitted points and the new sidecar rows are both derived from it,
      // so the slice is scanned once.
      val (src, srcRdds) = Plans.checkpointTracked(
        prevRows.fold(slice)(slice.unionByName(_))
          .withColumn("event_id", monotonically_increasing_id()))
      val part = Seq("derived_id", "stream_id")
      def shape(out: DataFrame, valueCol: String): DataFrame =
        out.select(col("derived_id").as("stream_id"), col("ts"),
          col(valueCol).cast("double").as("value"),
          lit(null).cast("string").as("value_json"))
      val plans = ops.toSeq.sorted.map {
        case "sum" =>
          shape(src.where(col("derive_op") === "sum")
            .groupBy(col("derived_id"),
              timestamp_micros(unix_micros(col("ts")) -
                pmod(unix_micros(col("ts")), durUs)).as("ts"))
            .agg(sum(col("value").cast(Downsample.DecV)).cast("double").as("sum")),
            "sum")
        case "derivative" =>
          shape(Derive.derivative(
            src.where(col("derive_op") === "derivative"), part), "derivative")
        case "counter_reset" =>
          shape(Derive.counterReset(
            src.where(col("derive_op") === "counter_reset"), part), "reset")
        case "counter_derivative" =>
          shape(Derive.counterDerivativeByCol(
            src.where(col("derive_op") === "counter_derivative"),
            col("max_value"), part), "counter_derivative")
      }
      // append-only emission: keep outputs at/above each stream's
      // watermark (a prev row's own output re-derives below it)
      val loDf = broadcast(work.map(w => (w.id, w.lo)).toDF("stream_id", "_lo"))
      val (emitted, rdds) = Plans.checkpointTracked(plans.reduce(_.unionByName(_))
        .join(loDf, Seq("stream_id"))
        .where(col("_lo") === Long.MinValue || unix_micros(col("ts")) >= col("_lo"))
        .drop("_lo"))
      try {
        emitted.write.mode(SaveMode.Append)
          .partitionBy("stream_id")
          .parquet(derivedPath)
        if (!full) {
          // advance the prev-point sidecar in one aggregate: per (derived,
          // source) lag pair, the max-(ts, event_id) row of this window (the
          // unioned prev row itself loses to any newer row); a pair with no
          // row in the window keeps its sidecar row, which ranks below them
          val pair = Seq("derived_id", "stream_id", "ts", "value")
          val ranked = src.where(col("derive_op") =!= "sum")
            .select(pair.map(col) :+ lit(1).as("_rank") :+ col("event_id"): _*)
          val newPrev = prevSidecar.fold(ranked)(p => ranked.unionByName(
              p.select(pair.map(col) :+ lit(0).as("_rank") :+ lit(0L).as("event_id"): _*)))
            .groupBy("derived_id", "stream_id")
            .agg(max_by(struct(col("ts"), col("value")),
              struct(col("_rank"), col("ts"), col("event_id"))).as("_p"))
            .select(col("derived_id"), col("stream_id"),
              col("_p.ts").as("ts"), col("_p.value").as("value"))
          scopeWrite("derive_prev")
          newPrev.coalesce(1).write.mode(SaveMode.Append).parquet(derivePrevPath)
        }
        // registry, per worked stream: bounds from the emitted points (one
        // registry-sized collect) — a bootstrap SETS them (its slice was
        // replaced), others extend; and the watermark → hi (the full
        // refresh clears it instead). Derived streams never pass through
        // appendMultiple, so without this they'd have null bounds.
        val bounds = emitted.groupBy("stream_id")
          .agg(min("ts"), max("ts")).collect()
          .map(r => r.getString(0) -> (r.getTimestamp(1), r.getTimestamp(2))).toMap
        val his = work.map(w => w.id -> w.hi).toMap
        def widen(old: Option[Timestamp], t: Timestamp, boot: Boolean)(
            keep: Timestamp => Boolean): Option[Timestamp] =
          Some(if (boot) t else old.filter(keep).getOrElse(t))
        swapRegistry(registry.rows.map { m =>
          his.get(m.stream_id).fold(m) { hi =>
            val boot = boots(m.stream_id)
            val du = Option(m.downsampled_until).getOrElse(Map.empty[String, Long]) - "derived"
            bounds.get(m.stream_id).fold(m) { case (lo, hiTs) =>
              m.copy(
                earliest_datapoint = widen(m.earliest_datapoint, lo, boot)(_.before(lo)),
                latest_datapoint = widen(m.latest_datapoint, hiTs, boot)(_.after(hiTs)))
            }.copy(downsampled_until = if (full) du else du + ("derived" -> hi))
          }
        })
      } finally (srcRdds ++ rdds).foreach(_.unpersist(blocking = false))
    }
  }
}

object Datastream {
  /** One derived stream's refresh work: its op, parsed `max_value`,
    * granularity, sources and window `[lo, hi)` in epoch-µs.
    */
  private final case class DeriveWork(id: String, op: String, maxValue: Option[Double],
                                      granularity: String, from: Seq[String],
                                      lo: Long, hi: Long)

  /** Bound on the driver-side distinct-stream-id collect the mutation
    * verbs ([[Datastream.upsertDatapoints]], [[Datastream.deleteDatapoints]])
    * use for manifest pruning — the house `head(max+1)` fail-fast: past
    * it the verb refuses with a pinned message instead of OOMing the
    * driver mid-collect. Callers either raise it deliberately or pass `0`
    * for the distributed fallback (no collect; time-range-only file
    * pruning, exact stream predicate via shuffle semi-join).
    */
  val DefaultMaxPruneStreams: Int = 100000
}
