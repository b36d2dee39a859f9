package graft.ext

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** IVF (inverted-file) approximate nearest neighbor — the second scale path
  * next to random-hyperplane LSH (builder brief: "an IVF or LSH-bucketed
  * variant"). Shape:
  *
  *  1. centroids: a deterministic hash-ordered sample of the corpus
  *     (k-means-free "IVF-flat on sampled seeds" — at 100 TB a periodic
  *     k-means job would refine these; the pipeline is identical);
  *  2. cell assignment: per-partition argmax-cosine loop against the
  *     broadcast centroid matrix (narrow map, no shuffle);
  *  3. queries probe their `nProbe` nearest cells; candidates = corpus
  *     vectors in probed cells (a join on `cell`, moving only ids);
  *  4. exact cosine re-rank, top-k per query.
  *
  * With `nProbe == nCells` the search is exhaustive and equals brute force
  * exactly (asserted in tests); recall/cost trades via `nProbe`.
  */
object Ivf {

  private def dotLoop(a: Array[Float], b: Array[Float]): Double = {
    val n = math.min(a.length, b.length)
    var s = 0.0; var i = 0
    while (i < n) { s += a(i).toDouble * b(i).toDouble; i += 1 }
    s
  }

  private def nearestCells(vec: Array[Float], cents: Centroids, n: Int): Seq[Int] = {
    val vn = math.sqrt(dotLoop(vec, vec))
    cents.map { case (cell, cv, cn) => (cell, dotLoop(vec, cv) / (cn * vn)) }
      .sortBy { case (cell, cos) => (-cos, cell) }
      .take(n).map(_._1).toSeq
  }

  /** Deterministic centroid sample: the `nCells` corpus vectors with the
    * smallest xxhash64(vec_id) — stable across runs and partitionings.
    */
  def centroids(corpus: DataFrame, nCells: Int,
                vecCol: String = "embedding", idCol: String = "vec_id"): Array[(Int, Array[Float])] = {
    import corpus.sparkSession.implicits._
    corpus.select(col(idCol).cast("long"), col(vecCol))
      .withColumn("_h", xxhash64(col(idCol)))
      .orderBy("_h").limit(nCells)
      .select(col(idCol).cast("long"), col(vecCol))
      .as[(Long, Array[Float])].collect()
      .zipWithIndex.map { case ((_, v), i) => (i, v) }
  }

  /** SPHERICAL k-means refinement of the IVF centroids — the periodic
    * maintenance job that tightens cells after the seed sample. The
    * assignment metric is cosine, the SAME metric `ivfTopK` assigns and
    * probes with, and the update step is the normalized mean of the
    * assigned UNIT vectors — the closed-form maximizer of the cosine
    * objective Σᵢ cos(xᵢ, c₍ₐ₍ᵢ₎₎) for a fixed assignment. Both steps are
    * ascent steps on that one objective, so it is non-decreasing per
    * iteration (the guarantee plain Lloyd only gives the Euclidean
    * objective — mixing cosine assignment with coordinate means has
    * neither). Each iteration is one narrow assignment map against the
    * broadcast centroid matrix plus ONE partial-aggregating shuffle of
    * `(cell, pos, component)` rows (map-side combine reduces every
    * partition to ≤ nCells×dim rows before the exchange); the driver only
    * ever holds the nCells×dim centroid matrix. Empty cells (and
    * degenerate all-zero means) keep their previous centroid.
    */
  def refineCentroids(corpus: DataFrame, init: Array[(Int, Array[Float])],
                      iters: Int = 3,
                      vecCol: String = "embedding", idCol: String = "vec_id")
      : Array[(Int, Array[Float])] = {
    import corpus.sparkSession.implicits._
    val sc = corpus.sparkSession.sparkContext
    var cents = init
    (0 until iters).foreach { _ =>
      val centB = sc.broadcast(cents.map { case (c, v) =>
        (c, v, math.sqrt(dotLoop(v, v))) })
      val assigned = corpus.select(col(idCol).cast("long"), col(vecCol))
        .as[(Long, Array[Float])]
        .mapPartitions { it =>
          val cs = centB.value
          it.map { case (_, v) =>
            val n = math.sqrt(dotLoop(v, v))
            val unit =
              if (n > 0) v.map(x => (x / n).toFloat) else v
            (nearestCells(v, cs, 1).head, unit)
          }
        }.toDF("cell", "vec")
      // DECIMAL partial sums (like learnPq): double avg() merges shuffle
      // partials in fetch order and can ULP-drift between runs — decimal
      // sums make the refined centroids partitioning-independent
      val means = assigned
        .select(col("cell"), posexplode(col("vec")))
        .groupBy("cell", "pos")
        .agg((sum(col("col").cast("decimal(38,10)")) / count(lit(1)))
          .cast("double").as("m"))
        .collect() // ≤ nCells × dim rows
      val byCell = means.groupBy(_.getInt(0))
      cents = cents.map { case (c, old) =>
        byCell.get(c) match {
          case Some(rows) =>
            val m = new Array[Double](old.length)
            rows.foreach(r => m(r.getInt(1)) = r.getDouble(2))
            val norm = math.sqrt(m.map(x => x * x).sum)
            if (norm > 0) (c, m.map(x => (x / norm).toFloat))
            else (c, old) // degenerate mean: keep previous centroid
          case None => (c, old) // empty cell: keep previous centroid
        }
      }
      centB.destroy()
    }
    cents
  }

  /** Persist an IVF index: the build-once / query-many lifecycle a 100 TB
    * deployment needs (`ivfTopK` recomputes centroids and the full-corpus
    * assignment on every call — fine for one-shot analytics, wasteful under
    * a query workload). Layout under `path`:
    *
    *   CURRENT.v<N>          — commit marker of version N; the live version
    *                           is the newest
    *   v<N>/centroids/       (cell, centroid) — tiny, read to the driver
    *   v<N>/cells/cell=<c>/  (vec_id, embedding) — the inverted file
    *                         itself, PARTITIONED BY CELL with the vectors
    *                         embedded, so probing reads ONLY the probed
    *                         cells' partitions (scan cost ≈ nProbe/nCells
    *                         of the corpus before any row is touched)
    *
    * Readers resolve the newest marker first ([[indexDir]]); both index
    * tables of a version become visible in ONE exclusive marker create
    * ([[VersionedIndex.publish]]), so a rebuild or [[refreshIndex]] crash
    * at any instant leaves queries on a complete older version — never a
    * half-swapped index (pre-versioned layouts without a marker still
    * resolve to `path` itself, so legacy indexes stay readable and migrate
    * on their next refresh). On an object store the marker create is the
    * metadata commit a table format provides.
    *
    * Build = the same assignment map `ivfTopK` runs, plus one partitioned
    * write; optional spherical-k-means refinement before persisting.
    */
  def buildIndex(corpus: DataFrame, path: String, nCells: Int = 64,
                 refineIters: Int = 0,
                 vecCol: String = "embedding", idCol: String = "vec_id"): Unit =
    VersionedIndex.publish(corpus.sparkSession, path, "cells", VersionedIndex.Full)(
      (_, dir) => writeBuild(corpus, dir, nCells, refineIters, vecCol, idCol))

  /** A complete version of `corpus` in `dir`: trained centroids, then the
    * assignment.
    */
  private def writeBuild(corpus: DataFrame, dir: String, nCells: Int, refineIters: Int,
                         vecCol: String, idCol: String): Unit = {
    val seeds = centroids(corpus, nCells, vecCol, idCol)
    val refined =
      if (refineIters > 0) refineCentroids(corpus, seeds, refineIters, vecCol, idCol)
      else seeds
    writeCells(corpus, dir, writeCentroids(corpus.sparkSession, dir, refined), vecCol, idCol)
  }

  // ---- versioned layout (shared: [[VersionedIndex]]) ----------------------

  /** Directory holding the index tables (`centroids/`, `cells/` or a
    * `shards` manifest): the LIVE version (the newest `CURRENT.v<N>`
    * marker) — or `path` itself for an index written by a pre-versioned
    * build — or, with `asOfVersion`, a PINNED historical version.
    * Superseded versions stay resolvable until [[vacuumIndex]] reclaims
    * them (retention mirrors the warehouse snapshot contract); a pinned
    * resolve fails loudly on a version that was never committed or whose
    * directory vacuum already reclaimed — never serves the wrong version
    * silently.
    */
  def indexDir(spark: org.apache.spark.sql.SparkSession, path: String,
               asOfVersion: Option[Long] = None): String =
    VersionedIndex.resolveDir(spark, path, asOfVersion)

  private def cellShards(spark: org.apache.spark.sql.SparkSession, path: String,
                         dir: String): Seq[String] =
    VersionedIndex.shardsOf(spark, path, dir, "cells")

  // Schemas of a version's tables, passed on every read: inferring them
  // costs a Spark job per table (per shard, for the cells).
  private val centroidSchema = StructType(Seq(
    StructField("cell", IntegerType), StructField("centroid", ArrayType(FloatType))))
  private val ivfCellSchema = StructType(Seq(StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType)), StructField("cell", IntegerType)))
  private val pqCellSchema = StructType(Seq(StructField("vec_id", LongType),
    StructField("codes", ArrayType(IntegerType)), StructField("norm", DoubleType),
    StructField("cell", IntegerType)))
  private val pqSchema = StructType(Seq(StructField("sub", IntegerType),
    StructField("code", IntegerType), StructField("centroid", ArrayType(FloatType))))

  /** `(cell, centroid, norm)` rows of a version's centroid table. */
  private type Centroids = Array[(Int, Array[Float], Double)]

  /** Centroid tables by file set, shared by every session (the content is
    * the files'); cleared whole past 256 entries.
    */
  private val centroidCache = new java.util.concurrent.ConcurrentHashMap[String, Centroids]()

  /** A version's centroid table is written once and never changed, so its
    * part files' names, lengths and modification times identify the
    * content: an index deleted and rebuilt at the same version number
    * never matches an old key.
    */
  private def centroidMemo(spark: org.apache.spark.sql.SparkSession, dir: String)(
      load: => Array[(Int, Array[Float])]): Centroids = {
    val files = VersionedIndex.io(spark, dir).children(s"$dir/centroids")
      .map(st => (st.getPath.getName, st.getLen, st.getModificationTime))
      .filterNot { case (n, _, _) => n.startsWith(".") || n.startsWith("_") }
      .sorted
    if (centroidCache.size > 256) centroidCache.clear()
    centroidCache.computeIfAbsent(s"$dir|${files.mkString(",")}",
      _ => load.map { case (c, v) => (c, v, math.sqrt(dotLoop(v, v))) })
  }

  /** The centroid table of the version at `dir`: the one read of it,
    * memoized per committed version directory. Callers share the
    * returned array and must not mutate it.
    */
  private def centroidsOf(spark: org.apache.spark.sql.SparkSession, dir: String): Centroids = {
    import spark.implicits._
    centroidMemo(spark, dir)(spark.read.schema(centroidSchema)
      .parquet(s"$dir/centroids").as[(Int, Array[Float])].collect())
  }

  /** Write `cents` as the centroid table of version `dir`; the written
    * table is memoized as [[centroidsOf]] would load it, and returned.
    */
  private def writeCentroids(spark: org.apache.spark.sql.SparkSession, dir: String,
                             cents: Array[(Int, Array[Float])]): Centroids = {
    import spark.implicits._
    cents.toSeq.toDF("cell", "centroid").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/centroids")
    centroidMemo(spark, dir)(cents)
  }

  /** Copy version `cur`'s centroid table forward into version `dir`. */
  private def copyCentroids(spark: org.apache.spark.sql.SparkSession, cur: String,
                            dir: String): Centroids =
    writeCentroids(spark, dir, centroidsOf(spark, cur).map { case (c, v, _) => (c, v) })

  /** Copy version `cur`'s model tables (centroids, and the PQ codebooks
    * when present) forward into version `dir`.
    */
  private def copyModel(spark: org.apache.spark.sql.SparkSession,
                        cur: String, dir: String): Unit = {
    val s = VersionedIndex.io(spark, cur)
    if (s.exists(s"$cur/centroids")) copyCentroids(spark, cur, dir)
    if (s.exists(s"$cur/pq")) VersionedIndex.copyTable(spark, cur, dir, "pq", pqSchema)
  }

  /** PUBLIC read surface for a version's inverted file: the union of its
    * cell shards (one partitioned parquet table per shard; `cell` pruning
    * applies per shard). Read THROUGH this, not `indexDir(..)+"/cells"` —
    * an appended index's version references older shards by manifest and
    * a literal read would silently see only the newest shard.
    */
  def cells(spark: org.apache.spark.sql.SparkSession, path: String,
            asOfVersion: Option[Long] = None): DataFrame =
    liveCells(spark, path, indexDir(spark, path, asOfVersion))

  private def readCells(spark: org.apache.spark.sql.SparkSession,
                        path: String, dir: String): DataFrame = {
    val schema =
      if (VersionedIndex.io(spark, path).exists(s"$dir/pq")) pqCellSchema
      else ivfCellSchema
    cellShards(spark, path, dir).map(d => spark.read.schema(schema).parquet(d))
      .reduce(_.unionByName(_))
  }

  /** The LOGICAL content of version `dir`: its shards minus its
    * tombstones — a takedown is invisible here the instant its version
    * commits.
    */
  private def liveCells(spark: org.apache.spark.sql.SparkSession,
                        path: String, dir: String): DataFrame =
    VersionedIndex.minusTombstones(spark, dir, readCells(spark, path, dir), "vec_id")

  // ---- takedown (right-to-be-forgotten for persisted indexes) -------------

  /** TAKEDOWN for a persisted index (plain IVF or IVF-PQ): void `removeIds`
    * from every subsequent read — queries, [[cells]], refresh input — by
    * publishing a metadata-only version whose `tombstones` table is the
    * accumulated dead set and whose shard manifest carries the parent's
    * data unchanged (O(ids) commit, no shard rewrite: the index twin of
    * the warehouse's merge-on-read delete). Pinned (`asOfVersion`) reads
    * of pre-takedown versions still serve the vectors until
    * [[vacuumIndex]] reclaims them. [[refreshIndex]] is the physical
    * drain: it rebuilds from the logical (tombstone-filtered) content and
    * resets the set; for an IVF-PQ index rebuild via [[buildPqIndex]].
    * Returns how many of the ids were actually present (0 = no-op,
    * nothing committed).
    */
  def removeFromIndex(path: String, removeIds: DataFrame,
                      idCol: String = "vec_id"): Long = {
    val spark = removeIds.sparkSession
    val dead = removeIds.select(col(idCol).cast("long").as("vec_id")).distinct()
    val present = liveCells(spark, path, indexDir(spark, path)).select("vec_id")
      .join(broadcast(dead), Seq("vec_id"), "left_semi").count()
    if (present == 0L) return 0L
    VersionedIndex.publish(spark, path, "cells", VersionedIndex.Carry) { (cur, dir) =>
      // self-contained per-version metadata, like the append paths
      copyModel(spark, cur, dir)
      VersionedIndex.writeTombstones(spark, cur, dir, "vec_id", Some(dead))
    }
    present
  }

  /** Reclaim index versions superseded past the retention window —
    * the explicit GC verb, mirroring the warehouse `vacuumRaw` contract
    * (a publish only RETIRES versions logically, so an in-flight
    * reader resolved on the old version completes its scan). Keeps the
    * newest `retainVersions` committed versions PLUS any older version
    * directory a retained version's shard manifest still references
    * (an appended chain shares its parents' cell shards — reclaiming a
    * referenced parent would corrupt a live version). Commit markers are
    * kept as the audit trail: a pinned read past retention fails with
    * "reclaimed", loudly, never resolves wrong data.
    */
  def vacuumIndex(spark: org.apache.spark.sql.SparkSession, path: String,
                  retainVersions: Int = 2): Unit =
    VersionedIndex.vacuum(spark, path, retainVersions, "cells",
      Seq("cells", "centroids", "pq", "centroids_next", "cells_next"))

  /** Assign `vecs` to their nearest of `cents` and write them as version
    * `dir`'s cell shard, partitioned by cell.
    */
  private def writeCells(vecs: DataFrame, dir: String, cents: Centroids,
                         vecCol: String, idCol: String): Unit = {
    import vecs.sparkSession.implicits._
    val centB = vecs.sparkSession.sparkContext.broadcast(cents)
    vecs.select(col(idCol).cast("long"), col(vecCol))
      .as[(Long, Array[Float])]
      .mapPartitions { it =>
        val cs = centB.value
        it.map { case (id, v) => (id, v, nearestCells(v, cs, 1).head) }
      }.toDF("vec_id", "embedding", "cell")
      .write.mode("overwrite").partitionBy("cell").parquet(s"$dir/cells")
  }

  /** INCREMENTAL index maintenance: assign a new shard to the EXISTING
    * centroids and publish it as a fresh index VERSION — O(shard) work
    * per ingest (one narrow assignment map + one partitioned shard write;
    * the already-indexed corpus is never re-clustered OR rewritten: the
    * new version's `shards` manifest references the parent's cell shards
    * by name and adds its own). The commit is the same exclusive marker
    * create every build/refresh uses — a reader never observes a
    * half-appended inverted file, and a crash mid-append leaves queries
    * on the previous complete version (the earlier
    * mode(append)-into-the-live-directory design had exactly that torn
    * window). The flip side of folding into fixed centroids is drift: as
    * appended data shifts the distribution, cells get lopsided and probe
    * recall decays — that is what the periodic [[refreshIndex]]
    * compaction (which collapses the shard chain back to one `cells/`)
    * is for. Same single-writer contract as the dedup index.
    */
  def appendToIndex(newVecs: DataFrame, path: String,
                    vecCol: String = "embedding", idCol: String = "vec_id"): Unit =
    VersionedIndex.publish(newVecs.sparkSession, path, "cells", VersionedIndex.Append)(
      writeAppend(newVecs, _, _, vecCol, idCol))

  /** Version `dir`'s own cell shard of `newVecs`, assigned to its parent
    * `cur`'s centroids.
    */
  private def writeAppend(newVecs: DataFrame, cur: String, dir: String,
                          vecCol: String, idCol: String): Unit = {
    val spark = newVecs.sparkSession
    // self-contained per-version metadata: the tiny centroid table (and
    // any takedown tombstones, which stay in force) copied forward
    // (driver-scale); only the big cell shards share by reference
    val cents = copyCentroids(spark, cur, dir)
    VersionedIndex.writeTombstones(spark, cur, dir, "vec_id")
    writeCells(newVecs, dir, cents, vecCol, idCol)
  }

  /** Idempotent streaming maintenance body for the PLAIN IVF index (the
    * `foreachBatch` of [[graft.Streaming.ingestToIvfIndex]]): fold the
    * micro-batch in via the shared exactly-once protocol
    * ([[VersionedIndex.foldBatch]] — the batch id commits in the new
    * version's marker), because a replayed [[appendToIndex]] would DOUBLE
    * the appended vectors and every served top-k silently carries
    * duplicates. The first batch on an empty index BUILDS (trains
    * `nCells` centroids on that batch); later batches fold into the
    * existing centroids as O(shard) versioned appends — drift is
    * [[refreshIndex]]'s job, exactly as in the batch lifecycle.
    */
  def appendBatchToIndex(newVecs: DataFrame, path: String, batchId: Long,
                         nCells: Int = 64,
                         vecCol: String = "embedding",
                         idCol: String = "vec_id"): Unit =
    VersionedIndex.foldBatch(newVecs.sparkSession, path, batchId, "cells", newVecs)(
      writeBuild(_, _, nCells, 0, vecCol, idCol), writeAppend(_, _, _, vecCol, idCol))

  /** [[appendBatchToIndex]]'s IVF-PQ twin (the `foreachBatch` of
    * [[graft.Streaming.ingestToPqIndex]]): first batch trains centroids
    * AND codebooks, later batches encode against the frozen model and
    * publish O(shard) appends — same exactly-once protocol.
    */
  def appendBatchToPqIndex(newVecs: DataFrame, path: String, batchId: Long,
                           nCells: Int = 64, m: Int = 16, codes: Int = 32,
                           vecCol: String = "embedding",
                           idCol: String = "vec_id"): Unit =
    VersionedIndex.foldBatch(newVecs.sparkSession, path, batchId, "cells", newVecs)(
      writePqBuild(_, _, nCells, m, codes, 0, 3, vecCol, idCol),
      writePqAppend(_, _, _, vecCol, idCol))

  /** INDEX-CHAIN COMPACTION — collapse an appended chain's live shards
    * into ONE complete shard per table, published as a fresh version (the
    * streaming-maintenance counterweight: every micro-batch fold adds a
    * shard, and every query unions and prunes ALL live shards — a week of
    * 5-minute batches is ~2,000 parquet scans per probe; compaction resets
    * that read amplification to one). Unlike [[refreshIndex]] it does NOT
    * re-learn anything: centroids (and PQ codebooks, when present — one
    * verb serves both the plain and the PQ layout) are copied forward
    * unchanged and every vector keeps its cell, so post-compaction query
    * results are BIT-IDENTICAL to pre-compaction by construction (the
    * gate pins this) — it is the warehouse `compact()` at index scale,
    * not a retrain. Takedown tombstones FOLD: the merged shard carries
    * only live vectors and the new version no tombstone table (the
    * physical drain, same as refresh). The old chain stays intact for
    * pinned reads until [[vacuumIndex]] reclaims it; the commit is the
    * same exclusive marker create as every other publish.
    *
    * FULLY-TOMBSTONED REFUSAL (returns false, nothing committed — the
    * codebase's no-op convention): a `partitionBy` over zero rows emits
    * no part files, so the committed version's `cells` dir would fail
    * every later read with "unable to infer schema". The un-compacted
    * chain stays correct (tombstones keep filtering), just un-collapsed;
    * the right verb for an emptied index is takedown, not compaction.
    */
  def compactIndex(path: String,
                   spark: org.apache.spark.sql.SparkSession): Boolean = {
    val cur = VersionedIndex.requireLive(spark, path, "compactIndex")
    // the chain's LOGICAL content (tombstones folded), one partitioned
    // table — cell partitioning preserved, so probe pruning is unchanged
    val live = liveCells(spark, path, cur)
    if (live.isEmpty) return false
    VersionedIndex.publish(spark, path, "cells", VersionedIndex.Full) { (_, dir) =>
      copyModel(spark, cur, dir)
      live.write.mode("overwrite").partitionBy("cell").parquet(s"$dir/cells")
    }
    true
  }

  /** PERIODIC compaction for an index that has absorbed appends:
    * re-learns centroids from the index's own contents (spherical k-means
    * seeded by the stored centroids — no access to the original corpus
    * needed) and writes a complete fresh version (the build never reads
    * files it is replacing). The COMMIT is one exclusive marker create: a
    * crash at any earlier instant leaves readers on the previous complete
    * version — centroids and assignments always move together, no
    * half-swapped window (crash-injected in tests via
    * [[refreshIndexImpl]]).
    */
  def refreshIndex(path: String, spark: org.apache.spark.sql.SparkSession,
                   refineIters: Int = 3): Unit =
    refreshIndexImpl(path, spark, refineIters, crashBeforeCommit = false)

  /** [[refreshIndex]] with a crash-injection seam: `crashBeforeCommit`
    * returns after the new version's tables are fully written but BEFORE
    * its marker is created — the worst-case crash instant, which must
    * leave queries on the old version.
    */
  private[graft] def refreshIndexImpl(path: String,
                                      spark: org.apache.spark.sql.SparkSession,
                                      refineIters: Int,
                                      crashBeforeCommit: Boolean): Unit = {
    val cur = indexDir(spark, path)
    // read through the shard manifest: an appended chain's version holds
    // its cells as parent-shard references, not one literal directory.
    // LOGICAL content only — a refresh is the physical drain of any
    // accumulated takedown tombstones (the rebuilt version has none)
    val all = liveCells(spark, path, cur).select("vec_id", "embedding")
    val init = centroidsOf(spark, cur).map { case (c, v, _) => (c, v) }.sortBy(_._1)
    val refined = refineCentroids(all, init, refineIters)
    VersionedIndex.publish(spark, path, "cells", VersionedIndex.Full,
        crashBeforeCommit = crashBeforeCommit) { (_, dir) =>
      writeCells(all, dir, writeCentroids(spark, dir, refined), "embedding", "vec_id")
    }
  }

  /** [[queryIndex]] probes a query set on the driver up to this many rows
    * and this many vector elements in all; a larger one is probed by
    * Spark. The driver path puts every query vector into the plan as a
    * literal, and its cost grew with rows x dimension: on a 4-vCPU box
    * (k = 10, nProbe = 4 of 16 cells, 1000 and 10000 vectors) it beat
    * the Spark path at every point measured up to 16384 elements (512
    * queries at 32 dimensions, 128 at 128, 16 at 768) and was about even
    * or slower from 32768 (1024 queries at 32 dimensions, 256 at 128) and
    * at 48 queries of 768 dimensions (36864).
    */
  private val MaxDriverQueries = 512
  private val MaxDriverQueryElems = 16384L

  /** Query a persisted index: probe each query's `nProbe` nearest cells,
    * scan ONLY those cell partitions (partition pruning does the candidate
    * generation), exact-cosine re-rank, top-k. Same arithmetic and
    * tie-break as `ivfTopK`/brute force — with `nProbe == nCells` the
    * result is bit-identical to brute (the gate configuration). No second
    * corpus join: the inverted file already carries the vectors.
    *
    * A query set of at most 512 rows and 16384 vector elements with
    * distinct ids (`MaxDriverQueries`) is collected (a local frame
    * collects without a job) and probed on the driver against the
    * memoized centroids; the probes enter the plan as literals, so the
    * candidate scan, scoring and top-k window run as one job, in one task
    * when the probed cells times the queries probing each are small
    * ([[graft.GetData.oneTaskIfSmall]]). A larger query set, or one that
    * repeats an id, is probed by Spark: a broadcast probe join, a
    * broadcast of the query vectors and a window exchange.
    */
  /** `allowedIds` — FILTERED vector search (the metadata-predicate ANN
    * every vector store grew: faiss IDSelector, pgvector WHERE, Milvus
    * expr): when set, only corpus vectors whose id is in the set compete.
    * The filter applies AFTER cell pruning and BEFORE scoring (excluded
    * vectors are never dot-producted) as a semi-join on the id — no
    * broadcast hint, the set may be corpus-sized and Catalyst/AQE picks
    * the join strategy. Recall caveat under probing: a filter thins each
    * probed cell's candidates, so a filtered approximate query should
    * raise `nProbe` (at `nProbe = nCells` the result is exact over the
    * filtered corpus — the configuration the gate pins bit-for-bit).
    */
  def queryIndex(path: String, queries: DataFrame, k: Int, nProbe: Int = 8,
                 vecCol: String = "embedding", idCol: String = "vec_id",
                 asOfVersion: Option[Long] = None,
                 allowedIds: Option[DataFrame] = None): DataFrame = {
    import queries.sparkSession.implicits._
    val spark = queries.sparkSession
    val dir = indexDir(spark, path, asOfVersion)
    val cents = centroidsOf(spark, dir)
    val keyed = queries.select(col(idCol).cast("long"), col(vecCol))
    // collect only a query set that may be small: a bounded row count, or
    // a planned input no larger than one file-open; a larger one (a
    // corpus-sized dedup batch, say) goes to Spark without the extra job
    val collected =
      if (keyed.queryExecution.analyzed.maxRows.exists(_ <= MaxDriverQueries) ||
          graft.GetData.plannedInput(keyed) <= spark.sessionState.conf.filesOpenCostInBytes)
        keyed.limit(MaxDriverQueries + 1).as[(Long, Array[Float])].collect()
      else Array.empty[(Long, Array[Float])]
    val onDriver = collected.nonEmpty && collected.length <= MaxDriverQueries &&
      collected.map(_._2.length.toLong).sum <= MaxDriverQueryElems &&
      collected.map(_._1).distinct.length == collected.length
    // the probed cells' partitions of every shard, minus takedowns: the
    // isin literal list prunes the cells/ partitions at scan planning
    // (per shard: each shard dir of an appended chain prunes on its own)
    def probedScan(cells: Seq[Int]): DataFrame =
      VersionedIndex.minusTombstones(spark, dir,
        readCells(spark, path, dir).where(col("cell").isin(cells: _*)), "vec_id")
    def allowed(cand: DataFrame): DataFrame = allowedIds match {
      case None => cand
      case Some(ids) => cand.join(
        ids.select(col(idCol).cast("long").as("vec_id")),
        Seq("vec_id"), "left_semi")
    }
    def scored(cand: DataFrame): DataFrame =
      cand.select(col("query_vec_id"), col("vec_id"),
        Similarity.cosine(col("qvec"), col("embedding")).as("cosine"))
    val ranked =
      if (onDriver) {
        // cell -> 1-based positions of the queries probing it; a candidate
        // row fans out to those queries, whose ids and vectors are literals
        val byCell = collected.indices
          .flatMap(i => nearestCells(collected(i)._2, cents, nProbe).map(_ -> (i + 1)))
          .groupBy(_._1).map { case (c, ps) => c -> ps.map(_._2) }
        val q = col("_q")
        val cand = probedScan(byCell.keys.toSeq.sorted)
          .select(col("vec_id"), col("embedding"),
            explode(element_at(typedLit(byCell), col("cell"))).as("_q"))
          .select(element_at(typedLit(collected.map(_._1).toSeq), q).as("query_vec_id"),
            col("vec_id"), col("embedding"),
            element_at(typedLit(collected.map(_._2.toSeq).toSeq), q).as("qvec"))
          .where(col("vec_id") =!= col("query_vec_id"))
        // each candidate row is scored once per query probing its cell
        val fanOut = math.ceil(byCell.values.map(_.size).sum.toDouble / byCell.size).toLong
        graft.GetData.oneTaskIfSmall(scored(allowed(cand)), fanOut)
      } else {
        val centB = spark.sparkContext.broadcast(cents)
        val probes = keyed.as[(Long, Array[Float])]
          .mapPartitions { it =>
            val cs = centB.value
            it.flatMap { case (qid, v) => nearestCells(v, cs, nProbe).map(c => (qid, c)) }
          }.toDF("query_vec_id", "cell")
        // probed cell set across all queries: bounded by nCells
        val probedCells = probes.select("cell").distinct().as[Int].collect().sorted
        val cand = probedScan(probedCells.toSeq)
          .join(broadcast(probes), "cell")
          .where(col("vec_id") =!= col("query_vec_id"))
        val qvecs = broadcast(queries.select(col(idCol).cast("long").as("query_vec_id"),
          col(vecCol).as("qvec")))
        scored(allowed(cand).join(qvecs, "query_vec_id"))
      }
    val w = Window.partitionBy("query_vec_id").orderBy(col("cosine").desc, col("vec_id"))
    ranked.withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
  }

  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int,
              nCells: Int = 64, nProbe: Int = 8,
              vecCol: String = "embedding", idCol: String = "vec_id",
              refineIters: Int = 0): DataFrame = {
    import corpus.sparkSession.implicits._
    val seeds = centroids(corpus, nCells, vecCol, idCol)
    val refined =
      if (refineIters > 0) refineCentroids(corpus, seeds, refineIters, vecCol, idCol)
      else seeds
    val cents = refined
      .map { case (c, v) => (c, v, math.sqrt(dotLoop(v, v))) }
    val centB = corpus.sparkSession.sparkContext.broadcast(cents)

    // corpus side: one cell per vector (narrow map)
    val assigned = corpus.select(col(idCol).cast("long"), col(vecCol))
      .as[(Long, Array[Float])]
      .mapPartitions { it =>
        val cs = centB.value
        it.map { case (id, v) => (id, nearestCells(v, cs, 1).head) }
      }.toDF("vec_id", "cell")

    // query side: nProbe probed cells per query (small, broadcast)
    val probes = broadcast(queries.select(col(idCol).cast("long"), col(vecCol))
      .as[(Long, Array[Float])]
      .mapPartitions { it =>
        val cs = centB.value
        it.flatMap { case (qid, v) => nearestCells(v, cs, nProbe).map(c => (qid, c)) }
      }.toDF("query_vec_id", "cell"))

    val cands = assigned.join(probes, "cell")
      .where(col("vec_id") =!= col("query_vec_id"))
      .select("query_vec_id", "vec_id").distinct()

    val qvecs = broadcast(queries.select(col(idCol).cast("long").as("query_vec_id"),
      col(vecCol).as("qvec")))
    val scored = cands
      .join(corpus.select(col(idCol).cast("long").as("vec_id"), col(vecCol).as("vec")), "vec_id")
      .join(qvecs, "query_vec_id")
      .select(col("query_vec_id"), col("vec_id"),
        Similarity.cosine(col("qvec"), col("vec")).as("cosine"))
    val w = Window.partitionBy("query_vec_id").orderBy(col("cosine").desc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
  }

  // ---- persisted IVF-PQ index ---------------------------------------------

  /** Persist the full IVF-PQ composition: coarse cells for candidate
    * PRUNING (probe nProbe of nCells partitions), PQ codes for in-cell
    * SCORING (m small ints + the exact norm per vector — the inverted
    * file holds no float vectors at all), optional exact rerank on top.
    * Layout under `path` (same versioned marker commit as [[buildIndex]]
    * — one exclusive marker create publishes centroids, pq model and
    * cells together):
    *
    *   v<N>/centroids/       (cell, centroid) — tiny, read to the driver
    *   v<N>/pq/              (sub, code, centroid) — the codebooks
    *   v<N>/cells/cell=<c>/  (vec_id, codes, norm) — codes-only inverted
    *                         file, partitioned by cell
    *
    * This is the billion-vector shape: the scan reads nProbe/nCells of a
    * codes-only table (~16× smaller than the vectors), and float vectors
    * are touched only by the caller-supplied rerank corpus.
    */
  def buildPqIndex(corpus: DataFrame, path: String, nCells: Int = 64,
                   m: Int = 16, codes: Int = 32,
                   refineIters: Int = 0, pqIters: Int = 3,
                   vecCol: String = "embedding", idCol: String = "vec_id"): Unit =
    VersionedIndex.publish(corpus.sparkSession, path, "cells", VersionedIndex.Full)(
      (_, dir) => writePqBuild(corpus, dir, nCells, m, codes, refineIters, pqIters,
        vecCol, idCol))

  /** A complete IVF-PQ version of `corpus` in `dir`: trained centroids
    * and codebooks, then the encoded assignment.
    */
  private def writePqBuild(corpus: DataFrame, dir: String, nCells: Int,
                           m: Int, codes: Int, refineIters: Int, pqIters: Int,
                           vecCol: String, idCol: String): Unit = {
    import corpus.sparkSession.implicits._
    val seeds = centroids(corpus, nCells, vecCol, idCol)
    val cents =
      if (refineIters > 0) refineCentroids(corpus, seeds, refineIters, vecCol, idCol)
      else seeds
    val model = learnPq(corpus, m, codes, pqIters, vecCol, idCol)
    val written = writeCentroids(corpus.sparkSession, dir, cents)
    model.codebooks.zipWithIndex.flatMap { case (book, s) =>
      book.zipWithIndex.map { case (cb, c) => (s, c, cb.toSeq) }
    }.toSeq.toDF("sub", "code", "centroid").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/pq")
    writePqCells(corpus, dir, written, model, vecCol, idCol)
  }

  /** Encode `vecs` with `model`, assign them to their nearest of `cents`
    * and write them as version `dir`'s codes-only cell shard.
    */
  private def writePqCells(vecs: DataFrame, dir: String, cents: Centroids,
                           model: PqModel, vecCol: String, idCol: String): Unit = {
    import vecs.sparkSession.implicits._
    val centB = vecs.sparkSession.sparkContext.broadcast(cents)
    val pqB = vecs.sparkSession.sparkContext.broadcast(model)
    vecs.select(col(idCol).cast("long"), col(vecCol))
      .as[(Long, Array[Float])]
      .mapPartitions { it =>
        val cs = centB.value
        val mo = pqB.value
        it.map { case (id, v) =>
          (id, encodeCodes(v, mo).toSeq, math.sqrt(dotLoop(v, v)),
            nearestCells(v, cs, 1).head)
        }
      }.toDF("vec_id", "codes", "norm", "cell")
      .write.mode("overwrite").partitionBy("cell").parquet(s"$dir/cells")
  }

  /** INCREMENTAL IVF-PQ maintenance, the twin of [[appendToIndex]]: a new
    * shard is assigned to the EXISTING centroids and encoded with the
    * EXISTING codebooks — O(shard) work (one narrow map + one partitioned
    * shard write, published as a fresh version whose `shards` manifest
    * references the parent's code shards), never a re-cluster or codebook
    * re-train, and never an in-place write into a live directory (the
    * exclusive marker create is the only commit point — no torn-shard
    * window). Same drift trade-off as the plain index: appended data the
    * codebooks never saw quantizes worse, which is what a periodic
    * [[buildPqIndex]] rebuild is for.
    */
  def appendToPqIndex(newVecs: DataFrame, path: String,
                      vecCol: String = "embedding",
                      idCol: String = "vec_id"): Unit =
    VersionedIndex.publish(newVecs.sparkSession, path, "cells", VersionedIndex.Append)(
      writePqAppend(newVecs, _, _, vecCol, idCol))

  /** Version `dir`'s own codes shard of `newVecs`, encoded with its parent
    * `cur`'s model.
    */
  private def writePqAppend(newVecs: DataFrame, cur: String, dir: String,
                            vecCol: String, idCol: String): Unit = {
    val spark = newVecs.sparkSession
    val model = loadPqModel(spark, cur)
    // per-version metadata copied forward (all driver-scale tables,
    // takedown tombstones included); the codes shards share by reference
    // like the plain index's vectors
    val cents = copyCentroids(spark, cur, dir)
    VersionedIndex.copyTable(spark, cur, dir, "pq", pqSchema)
    VersionedIndex.writeTombstones(spark, cur, dir, "vec_id")
    writePqCells(newVecs, dir, cents, model, vecCol, idCol)
  }

  /** Query a persisted IVF-PQ index: per query, probe the `nProbe`
    * nearest cells (partition-pruned codes scan), score candidates from
    * their codes via the asymmetric-distance lookup table, and — when
    * `rerank > k` and a `rerankAgainst` corpus is supplied — exact-rerank
    * the top-`rerank` candidates against their true vectors (bit-exact
    * cosine, same fold as brute). Exhaustive probing plus full-depth
    * rerank reproduces brute force exactly over the indexed corpus.
    */
  /** `allowedIds` — the filtered-search twin of [[queryIndex]]'s option,
    * applied to the codes-only candidate scan before any LUT scoring;
    * with `rerank`, the rerank corpus need only cover the FILTERED
    * candidates (candidates ⊆ allowed by construction). Same recall
    * caveat: a filter thins probed cells, raise `nProbe`.
    */
  def queryPqIndex(path: String, queries: DataFrame, k: Int, nProbe: Int = 8,
                   rerank: Int = 0, rerankAgainst: Option[DataFrame] = None,
                   vecCol: String = "embedding", idCol: String = "vec_id",
                   maxQueries: Int = 100000,
                   asOfVersion: Option[Long] = None,
                   allowedIds: Option[DataFrame] = None): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    val dir = indexDir(spark, path, asOfVersion)
    val cents = centroidsOf(spark, dir)
    val model = loadPqModel(spark, dir)
    val books = model.codebooks
    val mM = model.m
    val subDim = model.subDim
    // `label` is an OPTIONAL passthrough (the documents-gate queries carry
    // one; an arbitrary caller's query set need not) — absent, a sentinel
    // rides the internal tuples and the column is dropped from the output
    val hasLabel = queries.columns.contains("label")
    val labelCol = if (hasLabel) col("label").cast("long") else lit(-1L)
    val qRows = queries
      .select(col(idCol).cast("long"), col(vecCol), labelCol)
      .as[(Long, Array[Float], Long)].head(maxQueries + 1)
    require(qRows.length <= maxQueries,
      s"queryPqIndex: query set exceeds maxQueries=$maxQueries rows")
    val perQuery = qRows.map { case (qid, qv, label) =>
      val lut = Array.tabulate(mM)(s => books(s).map { cb =>
        var d = 0.0
        var i = 0
        while (i < cb.length) { d += qv(s * subDim + i).toDouble * cb(i); i += 1 }
        d
      })
      (qid, label, math.sqrt(dotLoop(qv, qv)),
        nearestCells(qv, cents, nProbe).toSet, lut)
    }
    val probed = perQuery.flatMap(_._4).toSeq.distinct
    val qB = spark.sparkContext.broadcast(perQuery)
    val cand0 = VersionedIndex.minusTombstones(spark, dir,
      readCells(spark, path, dir)
        .where(col("cell").isInCollection(probed)), // partition-pruned scan
      "vec_id")
    val cand = allowedIds match {
      case None => cand0
      case Some(ids) => cand0.join(
        ids.select(col(idCol).cast("long").as("vec_id")),
        Seq("vec_id"), "left_semi")
    }
    val scored = cand
      .select(col("vec_id").cast("long"), col("codes"), col("norm"), col("cell"))
      .as[(Long, Seq[Int], Double, Int)]
      .mapPartitions { it =>
        val qs = qB.value
        it.flatMap { case (vid, cs, vnrm, cell) =>
          qs.iterator.collect {
            case (qid, label, qnrm, cells, lut) if qid != vid && cells(cell) =>
              var s = 0
              var dot = 0.0
              while (s < lut.length) { dot += lut(s)(cs(s)); s += 1 }
              (label, qid, vid,
                if (qnrm > 0 && vnrm > 0) dot / (qnrm * vnrm) else 0.0)
          }
        }
      }.toDF("label", "query_vec_id", "vec_id", "cosine")
      .withColumn("label", col("label").cast("int"))
    val w = Window.partitionBy("query_vec_id")
      .orderBy(col("cosine").desc, col("vec_id"))
    // ANY supplied rerank corpus requests the exact rescore (at depth
    // max(k, rerank)): the earlier `rerank > k` guard silently skipped the
    // rescore at rerank == k — the natural way to ask for an exact rescore
    // of the top-k — returning PQ-approximate scores labeled 'cosine'.
    // Same contract as Sq.queryIndex.
    val out = rerankAgainst match {
      case Some(corpus) =>
        val depth = math.max(k, rerank)
        exactRerank(scored.withColumn("rank", row_number().over(w))
            .where(col("rank") <= depth)
            .select("label", "query_vec_id", "vec_id"),
          corpus, qRows, k, vecCol, idCol)
      case None =>
        scored.withColumn("rank", row_number().over(w).cast("long"))
          .where(col("rank") <= k)
    }
    if (hasLabel) out else out.drop("label")
  }

  // ---- product quantization (the PQ half of faiss's IVF-PQ) ---------------

  /** A learned PQ codebook set: the embedding is split into `m` contiguous
    * subspaces of `subDim` dims; `codebooks(s)(c)` is code `c`'s centroid
    * in subspace `s`. Model size = m × codes × subDim floats — a few KB,
    * a broadcast artifact like the IVF centroid matrix.
    */
  case class PqModel(m: Int, subDim: Int,
                     codebooks: Array[Array[Array[Float]]])

  /** Nearest codeword by EUCLIDEAN distance (the PQ-standard metric for
    * codebook training and encoding); ties break on the lower code.
    */
  private def nearestCode(sub: Array[Float], book: Array[Array[Float]]): Int = {
    var best = 0
    var bestD = Double.MaxValue
    var c = 0
    while (c < book.length) {
      val cb = book(c)
      var d = 0.0
      var i = 0
      while (i < sub.length) { val t = sub(i) - cb(i); d += t * t; i += 1 }
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    best
  }

  /** Encode one vector against the model: the `m` nearest codeword ids.
    * Fails fast on a dimension mismatch — `copyOfRange` would otherwise
    * silently zero-pad a short vector and commit garbage codes.
    */
  private def encodeCodes(v: Array[Float], mo: PqModel): Array[Int] = {
    require(v.length == mo.m * mo.subDim,
      s"PQ dimension mismatch: vector has ${v.length} dims, model expects " +
        s"${mo.m} × ${mo.subDim}")
    val cs = new Array[Int](mo.m)
    var s = 0
    while (s < mo.m) {
      cs(s) = nearestCode(
        java.util.Arrays.copyOfRange(v, s * mo.subDim, (s + 1) * mo.subDim),
        mo.codebooks(s))
      s += 1
    }
    cs
  }

  /** Rebuild a [[PqModel]] from a persisted index version's `pq/` table. */
  private def loadPqModel(spark: org.apache.spark.sql.SparkSession,
                          dir: String): PqModel = {
    import spark.implicits._
    val pqRows = spark.read.schema(pqSchema).parquet(s"$dir/pq")
      .select(col("sub"), col("code"), col("centroid"))
      .as[(Int, Int, Array[Float])].collect()
    val mM = pqRows.map(_._1).max + 1
    val kC = pqRows.map(_._2).max + 1
    val books = Array.ofDim[Array[Float]](mM, kC)
    pqRows.foreach { case (s, c, v) => books(s)(c) = v }
    PqModel(mM, books(0)(0).length, books)
  }

  /** Exact cosine rerank of a `(label, query_vec_id, vec_id)` candidate
    * set against the true vectors — the SAME unguarded fold as
    * [[Similarity.topK]] (a zero-norm vector scores NaN there too), so a
    * candidate set containing the true top-k yields bit-identical
    * winners.
    *
    * COVERAGE GUARD: the caller-supplied `corpus` must cover every
    * candidate id. A LEFT join + raise_error enforces it in the same
    * single pass — an inner join would silently DROP a candidate the
    * corpus is missing (e.g. a pre-append snapshot of the corpus queried
    * against a post-append index), returning plausible-but-wrong winners
    * instead of failing the 'full rerank equals brute force' contract.
    */
  private def exactRerank(cand: DataFrame, corpus: DataFrame,
                          qRows: Array[(Long, Array[Float], Long)],
                          k: Int, vecCol: String, idCol: String): DataFrame = {
    import corpus.sparkSession.implicits._
    val qvB = corpus.sparkSession.sparkContext.broadcast(
      qRows.map { case (qid, qv, _) =>
        qid -> (qv, math.sqrt(dotLoop(qv, qv))) }.toMap)
    val exact = cand
      .join(corpus.select(col(idCol).cast("long").as("vec_id"),
        col(vecCol).as("_vec")), Seq("vec_id"), "left")
      .withColumn("_vec", when(col("_vec").isNull,
          raise_error(concat(lit("exactRerank: candidate vec_id "),
            col("vec_id").cast("string"),
            lit(" is missing from the rerank corpus — the corpus must " +
              "cover the index (stale pre-append corpus?)"))))
        .otherwise(col("_vec")))
      .select(col("label"), col("query_vec_id"), col("vec_id"), col("_vec"))
      .as[(Int, Long, Long, Array[Float])]
      .mapPartitions { it =>
        val qs = qvB.value
        it.map { case (label, qid, vid, v) =>
          val (qv, qn) = qs(qid)
          (label, qid, vid, dotLoop(qv, v) / (qn * math.sqrt(dotLoop(v, v))))
        }
      }.toDF("label", "query_vec_id", "vec_id", "cosine")
    val w = Window.partitionBy("query_vec_id")
      .orderBy(col("cosine").desc, col("vec_id"))
    exact.withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
  }

  /** Learn PQ codebooks: per subspace, `iters` Lloyd rounds of Euclidean
    * k-means over the sliced corpus. Deterministic seeding (the `codes`
    * smallest-xxhash vectors, sliced), so the model is reproducible across
    * runs and partitionings like every other learned artifact here. Each
    * round is ONE narrow assignment map (all m subspaces per pass —
    * the corpus is read once per round, not once per subspace) plus one
    * partial-aggregating shuffle of (sub, code, pos) component means —
    * ≤ m × codes × subDim rows reach the driver. Empty codes keep their
    * previous centroid.
    */
  def learnPq(corpus: DataFrame, m: Int = 16, codes: Int = 32,
              iters: Int = 3, vecCol: String = "embedding",
              idCol: String = "vec_id"): PqModel = {
    import corpus.sparkSession.implicits._
    val seed = corpus.select(col(idCol).cast("long"), col(vecCol))
      .withColumn("_h", xxhash64(col(idCol))).orderBy("_h").limit(codes)
      .select(col(vecCol)).as[Array[Float]].collect()
    require(seed.nonEmpty, "learnPq: empty corpus")
    val dim = seed.head.length
    require(m > 0 && dim % m == 0, s"dim $dim must divide into m=$m subspaces")
    val ds = dim / m
    var books: Array[Array[Array[Float]]] =
      Array.tabulate(m)(s => Array.tabulate(codes)(c =>
        java.util.Arrays.copyOfRange(seed(c % seed.length), s * ds, (s + 1) * ds)))
    val sc = corpus.sparkSession.sparkContext
    (0 until iters).foreach { _ =>
      val bB = sc.broadcast(books)
      val assigned = corpus.select(col(vecCol)).as[Array[Float]]
        .mapPartitions { it =>
          val bs = bB.value
          val sub0 = bs(0)(0).length
          it.flatMap { v =>
            bs.indices.iterator.map { s =>
              val sub = java.util.Arrays.copyOfRange(v, s * sub0, (s + 1) * sub0)
              (s, nearestCode(sub, bs(s)), sub)
            }
          }
        }.toDF("sub", "code", "v")
      // DECIMAL partial sums: double avg() merges shuffle partials in
      // fetch order and can ULP-drift between runs — decimal sums are
      // exact, so the codebooks really are partitioning-independent
      val means = assigned.select(col("sub"), col("code"), posexplode(col("v")))
        .groupBy("sub", "code", "pos")
        .agg((sum(col("col").cast("decimal(38,10)")) / count(lit(1)))
          .cast("double").as("mn"))
        .collect() // ≤ m × codes × subDim rows
      val upd = means.map(r =>
        ((r.getInt(0), r.getInt(1), r.getInt(2)), r.getDouble(3))).toMap
      books = Array.tabulate(m)(s => Array.tabulate(codes) { c =>
        val comps = (0 until ds).map(p => upd.get((s, c, p)))
        if (comps.forall(_.isDefined)) comps.map(_.get.toFloat).toArray
        else books(s)(c) // empty code: keep previous centroid
      })
      bB.destroy()
    }
    PqModel(m, ds, books)
  }

  /** Encode the corpus against a learned [[PqModel]]: per vector, the `m`
    * nearest-codeword ids plus the TRUE vector norm (stored exactly, the
    * standard trick that keeps cosine denominators exact while the dot
    * numerator is approximated). `m` small ints + one double per vector —
    * the ~16× memory compression that lets a 100 TB corpus's candidate
    * scoring structure live in RAM. Narrow map, zero shuffle.
    */
  def pqEncode(corpus: DataFrame, model: PqModel,
               vecCol: String = "embedding",
               idCol: String = "vec_id"): DataFrame = {
    import corpus.sparkSession.implicits._
    val bB = corpus.sparkSession.sparkContext.broadcast(model)
    corpus.select(col(idCol).cast("long"), col(vecCol))
      .as[(Long, Array[Float])]
      .mapPartitions { it =>
        val mo = bB.value
        it.map { case (id, v) =>
          (id, encodeCodes(v, mo).toSeq, math.sqrt(dotLoop(v, v)))
        }
      }.toDF(idCol, "codes", "norm")
  }

  /** Approximate cosine top-k by PQ asymmetric distance: learn codebooks,
    * encode the corpus once, then score every (query, vector) pair from
    * the codes alone — per query, a per-subspace lookup table of
    * `dot(q_sub, codeword)` is precomputed (m × codes doubles) and the
    * approximate dot is the m-term table sum, divided by the exact norms.
    * The corpus's float vectors are read once (encode); scoring touches
    * only the m-int codes — the memory/bandwidth shape that makes PQ the
    * standard billion-vector candidate generator. Output matches
    * [[Similarity.topK]] (label, query_vec_id, vec_id, cosine≈, rank),
    * approximate by construction — gate with a recall floor, not a hash.
    */
  def pqTopK(corpus: DataFrame, queries: DataFrame, k: Int,
             m: Int = 16, codes: Int = 32, iters: Int = 3,
             rerank: Int = 0,
             vecCol: String = "embedding", idCol: String = "vec_id",
             maxQueries: Int = 100000): DataFrame = {
    import corpus.sparkSession.implicits._
    val model = learnPq(corpus, m, codes, iters, vecCol, idCol)
    // optional label passthrough, as in [[queryPqIndex]]
    val hasLabel = queries.columns.contains("label")
    val labelCol = if (hasLabel) col("label").cast("long") else lit(-1L)
    val qRows = queries
      .select(col(idCol).cast("long"), col(vecCol), labelCol)
      .as[(Long, Array[Float], Long)].head(maxQueries + 1)
    require(qRows.length <= maxQueries,
      s"pqTopK: query set exceeds maxQueries=$maxQueries rows")
    // per query: the m × codes asymmetric-distance lookup table
    val luts = qRows.map { case (qid, qv, label) =>
      val lut = Array.tabulate(model.m)(s => model.codebooks(s).map { cb =>
        var d = 0.0
        var i = 0
        while (i < cb.length) { d += qv(s * model.subDim + i).toDouble * cb(i); i += 1 }
        d
      })
      (qid, label, math.sqrt(dotLoop(qv, qv)), lut)
    }
    val qB = corpus.sparkSession.sparkContext.broadcast(luts)
    val scored = pqEncode(corpus, model, vecCol, idCol)
      .as[(Long, Seq[Int], Double)]
      .mapPartitions { it =>
        val qs = qB.value
        it.flatMap { case (vid, cs, vnrm) =>
          qs.iterator.collect { case (qid, label, qnrm, lut) if qid != vid =>
            var s = 0
            var dot = 0.0
            while (s < lut.length) { dot += lut(s)(cs(s)); s += 1 }
            (label, qid, vid,
              if (qnrm > 0 && vnrm > 0) dot / (qnrm * vnrm) else 0.0)
          }
        }
      }.toDF("label", "query_vec_id", "vec_id", "cosine")
      .withColumn("label", col("label").cast("int"))
    val w = Window.partitionBy("query_vec_id")
      .orderBy(col("cosine").desc, col("vec_id"))
    val out =
      if (rerank <= k)
        scored.withColumn("rank", row_number().over(w).cast("long"))
          .where(col("rank") <= k)
      else
        // faiss-standard two-stage retrieval: PQ is the CANDIDATE GENERATOR
        // (approximate top-`rerank` from the codes alone), then the exact
        // cosine reranks only those candidates against their true vectors —
        // per query, `rerank` float-vector reads instead of the whole
        // corpus ([[exactRerank]] uses the brute fold, so a candidate set
        // containing the true top-k yields bit-identical winners).
        exactRerank(scored.withColumn("rank", row_number().over(w))
            .where(col("rank") <= rerank)
            .select("label", "query_vec_id", "vec_id"),
          corpus, qRows, k, vecCol, idCol)
    if (hasLabel) out else out.drop("label")
  }
}
