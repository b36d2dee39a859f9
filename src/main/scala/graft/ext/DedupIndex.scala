package graft.ext

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Persisted dedup index — the INCREMENTAL ingest story for X1/X2: build
  * the MinHash/exact index over the existing corpus ONCE, then dedup each
  * arriving shard against it without recomputing anything corpus-side,
  * and fold accepted shards in with an append. At 100 TB the index is the
  * only thing a new-shard dedup reads: slim `(doc_id, band, band_hash)`
  * rows for candidates, shingle sets for exact-Jaccard verification, md5
  * hashes for the exact arm — never the corpus text.
  *
  * VERSIONED layout under `path` (same [[VersionedIndex]] protocol as the
  * IVF indexes — one exclusive `CURRENT.v<N>` marker create per commit,
  * shard-manifest appends, retention + explicit [[vacuumIndex]]):
  *
  *   v<N>/params/     (n, bands, rows_per_band, probe_hash) — pinned at
  *                    build, copied forward by appends; queries and
  *                    appends validate against it. `probe_hash` is the
  *                    band-0 hash of a sentinel shingle set computed
  *                    through the SAME code path executors use
  *                    (`Dedup.bandHashesOf`): signatures only collide
  *                    across runs when the banding scheme matches, and
  *                    the scheme leans on MurmurHash3 and `Random(8191)`
  *                    internals — if either drifts across a Scala/JVM
  *                    upgrade, every read fails loudly here instead of
  *                    near-dup recall silently collapsing to zero.
  *   v<N>/data/bands/     (doc_id, band, band_hash) — LSH candidate side
  *   v<N>/data/shingles/  (doc_id, sh)              — Jaccard verify side
  *   v<N>/data/exact/     (doc_id, text_md5)        — exact arm
  *   v<N>/shards          (append-published versions) — the parent's data
  *                        roots + this version's own, so an append is
  *                        O(shard) work publishing atomically: a reader
  *                        never observes a half-appended side table (the
  *                        earlier mode(append)-into-live-dirs design left
  *                        bands/shingles/exact mutually torn on a crash
  *                        mid-append — silent recall loss)
  *
  * A pre-versioned legacy index (root-level bands/shingles/exact/params)
  * keeps resolving until its next append migrates it. Single-writer per
  * index, as before; readers are safe against any committed version.
  */
object DedupIndex {

  /** Live (or pinned) version directory — the public resolution surface,
    * shared with the vector indexes. */
  def indexDir(spark: org.apache.spark.sql.SparkSession, path: String,
               asOfVersion: Option[Long] = None): String =
    VersionedIndex.resolveDir(spark, path, asOfVersion)

  /** Reclaim superseded index versions past the retention window; keeps
    * data roots a retained version's shard manifest still references.
    */
  def vacuumIndex(spark: org.apache.spark.sql.SparkSession, path: String,
                  retainVersions: Int = 2): Unit =
    VersionedIndex.vacuum(spark, path, retainVersions, "data",
      Seq("bands", "shingles", "exact", "params", "data"))

  /** The data-shard roots of the resolved version (legacy indexes with
    * side tables at the root resolve to `path` itself via the `.` rel).
    */
  private def dataRoots(spark: org.apache.spark.sql.SparkSession, path: String,
                        dir: String): Seq[String] =
    VersionedIndex.shardsOf(spark, path, dir, "data")

  /** One side table (`bands` / `shingles` / `exact`) as the union of its
    * shard instances, with the resolved version's takedown tombstones
    * voided — a removed document must stop suppressing future documents
    * the moment its takedown version commits (all three sides carry
    * `doc_id`).
    */
  private def readSide(spark: org.apache.spark.sql.SparkSession,
                       path: String, dir: String, side: String): DataFrame = {
    VersionedIndex.minusTombstones(spark, dir,
      dataRoots(spark, path, dir).map(r => spark.read.parquet(s"$r/$side"))
        .reduce(_.unionByName(_)), "doc_id")
  }

  /** TAKEDOWN for the dedup index, the twin of [[Ivf.removeFromIndex]]:
    * void `removeIds`' fingerprints (bands, shingles, exact hashes) from
    * every subsequent read by publishing a metadata-only version whose
    * `tombstones` table is the accumulated dead set and whose shard
    * manifest carries the parent's data unchanged. After it commits, a
    * re-submitted copy of a removed document is NOT suppressed — the
    * right-to-be-forgotten contract extends to the index's memory of the
    * document, not just its bytes. Pinned pre-takedown versions still
    * serve until vacuum. Returns how many ids were present (0 = no-op).
    */
  def removeFromIndex(path: String, removeIds: DataFrame,
                      idCol: String = "doc_id"): Long = {
    val spark = removeIds.sparkSession
    val cur = indexDir(spark, path)
    val dead = removeIds.select(col(idCol).cast("long").as("doc_id")).distinct()
    val present = readSide(spark, path, cur, "exact").select("doc_id")
      .join(broadcast(dead), Seq("doc_id"), "left_semi").count()
    if (present == 0L) return 0L
    VersionedIndex.publish(spark, path, "data", VersionedIndex.Carry) { (_, dir) =>
      VersionedIndex.copyTable(spark, cur, dir, "params", paramsSchema)
      VersionedIndex.writeTombstones(spark, cur, dir, "doc_id", Some(dead))
    }
    present
  }

  /** Sentinel whose band-0 hash fingerprints the whole hashing scheme: it
    * exercises the string hash, every permutation coefficient of band 0,
    * and the polynomial band fold.
    */
  private val ProbeShingles = Array("graft_probe_a", "graft_probe_b", "graft_probe_c")

  private def probeHash(bands: Int, rowsPerBand: Int): Long =
    Dedup.bandHashesOf(ProbeShingles,
      Dedup.minhashCoeffs(bands * rowsPerBand), bands, rowsPerBand)(0)

  def buildIndex(docs: DataFrame, path: String, n: Int = 3,
                 bands: Int = 16, rowsPerBand: Int = 4,
                 textCol: String = "text", idCol: String = "doc_id"): Unit =
    VersionedIndex.publish(docs.sparkSession, path, "data", VersionedIndex.Full)(
      (_, dir) => writeBuild(docs, dir, n, bands, rowsPerBand, textCol, idCol))

  /** A complete version of `docs` in `dir`: the banding params, then the
    * side tables.
    */
  private def writeBuild(docs: DataFrame, dir: String, n: Int, bands: Int,
                         rowsPerBand: Int, textCol: String, idCol: String): Unit = {
    import docs.sparkSession.implicits._
    Seq((n, bands, rowsPerBand, probeHash(bands, rowsPerBand)))
      .toDF("n", "bands", "rows_per_band", "probe_hash")
      .coalesce(1).write.mode(SaveMode.Overwrite).parquet(s"$dir/params")
    writeSides(docs, s"$dir/data", n, bands, rowsPerBand, textCol, idCol)
  }

  /** Fold a shard into the index as a fresh VERSION: the same side-table
    * computation written as this version's own data shard, published with
    * the parent's data roots referenced by manifest — O(shard) work, one
    * exclusive marker create, never an in-place append into live
    * directories (a crash mid-append used to leave bands/shingles/exact
    * mutually torn, silently losing recall). The caller appends the
    * SURVIVORS of `dedupeAgainstIndex` — which (with the default
    * `withinShard = true`) are duplicate-free both against the index and
    * among themselves, so the index stays internally duplicate-free.
    * (With `withinShard = false` the caller takes over that obligation: a
    * shard carrying internal duplicates would fold them all in.)
    */
  def appendToIndex(docs: DataFrame, path: String,
                    textCol: String = "text", idCol: String = "doc_id"): Unit =
    VersionedIndex.publish(docs.sparkSession, path, "data", VersionedIndex.Append)(
      writeAppend(docs, _, _, textCol, idCol))

  /** Version `dir`'s own data shard of `docs`, under its parent `cur`'s
    * banding params; the params and the takedown tombstones are copied
    * forward (driver-scale), only the big side tables share by reference.
    */
  private def writeAppend(docs: DataFrame, cur: String, dir: String,
                          textCol: String, idCol: String): Unit = {
    val spark = docs.sparkSession
    val (n, bands, rowsPerBand) = paramsAt(spark, cur)
    VersionedIndex.copyTable(spark, cur, dir, "params", paramsSchema)
    VersionedIndex.writeTombstones(spark, cur, dir, "doc_id")
    writeSides(docs, s"$dir/data", n, bands, rowsPerBand, textCol, idCol)
  }

  /** Chain compaction, the twin of [[Ivf.compactIndex]]: merge each side
    * table's live shards (bands / shingles / exact, tombstones folded)
    * into one data shard under a fresh version, banding params copied
    * forward unchanged — so signatures keep colliding exactly as before
    * and dedup decisions are bit-identical pre/post (the gate pins this).
    * Streaming maintenance adds one shard per micro-batch and every
    * candidate join unions the whole chain; compaction resets that read
    * amplification to one shard per side.
    */
  def compactIndex(path: String,
                   spark: org.apache.spark.sql.SparkSession): Boolean = {
    val cur = VersionedIndex.requireLive(spark, path, "compactIndex")
    // fully-tombstoned chain: refuse (no-op, nothing committed) — a
    // zero-row write can emit no part files, leaving unreadable data
    // dirs in the committed version (see Ivf.compactIndex)
    if (readSide(spark, path, cur, "exact").isEmpty) return false
    VersionedIndex.publish(spark, path, "data", VersionedIndex.Full) { (_, dir) =>
      VersionedIndex.copyTable(spark, cur, dir, "params", paramsSchema)
      // independent merged-side writes into the unpublished version dir —
      // overlap them; the commit marker still lands strictly after
      graft.Concurrency.inParallel[Unit](
        Seq("exact", "shingles", "bands").map(side => () =>
          readSide(spark, path, cur, side)
            .write.mode(SaveMode.Overwrite).parquet(s"$dir/data/$side")))
    }
    true
  }

  /** Ids currently present in the resolved index (exact side, takedown
    * tombstones voided) — the membership surface a caller joins against
    * to ask "which of these documents did the index accept".
    */
  def indexedIds(spark: org.apache.spark.sql.SparkSession, path: String,
                 asOfVersion: Option[Long] = None): DataFrame =
    readSide(spark, path, indexDir(spark, path, asOfVersion), "exact")
      .select("doc_id").distinct()

  /** Idempotent streaming maintenance body (the `foreachBatch` of
    * [[graft.Streaming.ingestToDedupIndex]]): DEDUPE-THEN-FOLD each
    * micro-batch — survivors of [[dedupeAgainstIndex]] (against the live
    * index AND within the batch) fold in as an O(shard) versioned append,
    * exactly-once via the shared [[VersionedIndex.foldBatch]] protocol (a
    * replayed batch would re-append its survivors, and duplicate
    * fingerprints silently skew every later candidate set). The index
    * stays internally duplicate-free by the same survivor contract the
    * batch verb documents. A first batch finds an empty index: one
    * zero-row build pins the banding params so the uniform
    * dedupe-then-append path applies from batch 0 (guarded by
    * `currentVersion.isEmpty`, so a replay never re-builds). An all-dup
    * batch appends nothing and records nothing — its replay dedupes to
    * nothing again.
    */
  def appendBatchDeduped(docs: DataFrame, path: String, batchId: Long,
                         threshold: Double = 0.8,
                         n: Int = 3, bands: Int = 16, rowsPerBand: Int = 4,
                         textCol: String = "text",
                         idCol: String = "doc_id"): Unit = {
    val spark = docs.sparkSession
    if (VersionedIndex.currentVersion(spark, path).isEmpty)
      buildIndex(docs.limit(0), path, n, bands, rowsPerBand, textCol, idCol)
    VersionedIndex.foldBatch(spark, path, batchId, "data",
        // consumed twice: emptiness probe + append
        dedupeAgainstIndex(docs, path, threshold, textCol, idCol).localCheckpoint(true))(
      writeBuild(_, _, n, bands, rowsPerBand, textCol, idCol),
      writeAppend(_, _, _, textCol, idCol))
  }

  /** Survivors of `newDocs` after removing every exact (md5) or near
    * (shingle-Jaccard ≥ `threshold`) duplicate of an INDEXED document —
    * and, when `withinShard` (the default), every shard document with a
    * smaller-id duplicate INSIDE the shard itself. Cross-index candidates
    * come from band-hash collisions between the shard's signatures
    * (computed here, same fixed-seed scheme) and the stored band rows;
    * only colliding pairs fetch shingle sets for verification. The
    * intra-shard arm instead uses the EXACT inverted shingle index over
    * the shard alone (the small side by contract — shard-sized work, no
    * LSH recall risk): drop any doc with a smaller-id shard doc at
    * Jaccard ≥ `threshold` or with identical md5. Survivors are therefore
    * pairwise non-duplicate, which is what lets `appendToIndex` keep the
    * index clean.
    */
  def dedupeAgainstIndex(newDocs: DataFrame, path: String,
                         threshold: Double = 0.8,
                         textCol: String = "text",
                         idCol: String = "doc_id",
                         withinShard: Boolean = true,
                         asOfVersion: Option[Long] = None): DataFrame = {
    val spark = newDocs.sparkSession
    val dir = indexDir(spark, path, asOfVersion)
    val (n, bands, rowsPerBand) = paramsAt(spark, dir)
    // referenced by both the candidate and verification branches, so the
    // shard is shingled twice — deliberate: the result is returned LAZY,
    // so a persist here could not be released safely (the round-2 cache
    // leak), and the recomputation is one narrow map over the SHARD (the
    // small side), never the indexed corpus
    val shN = Dedup.shingled(newDocs, n, textCol, idCol)
      .where(size(col("sh")) > 0)
    val candidates = Dedup.bandedRows(shN, bands, rowsPerBand)
      .join(readSide(spark, path, dir, "bands")
          .select(col("doc_id").as("idx_id"), col("band"), col("band_hash")),
        Seq("band", "band_hash"))
      .select(col("doc_id"), col("idx_id")).distinct()
    val near = candidates
      .join(shN.select(col("doc_id"), col("sh").as("sh_new")), Seq("doc_id"))
      .join(readSide(spark, path, dir, "shingles")
          .select(col("doc_id").as("idx_id"), col("sh").as("sh_idx")),
        Seq("idx_id"))
      .where(Dedup.jaccard(col("sh_new"), col("sh_idx")) >= threshold)
      .select(col("doc_id").as(idCol))
    val exact = newDocs.select(col(idCol), md5(col(textCol)).as("_h"))
      .join(readSide(spark, path, dir, "exact")
        .select(col("text_md5").as("_h")).distinct(), Seq("_h"))
      .select(col(idCol))
    val doomed =
      if (!withinShard) near.unionByName(exact)
      else {
        // intra-shard near: exact inverted-index candidates (pairs share
        // ≥1 shingle), larger id drops — deterministic regardless of
        // whether the smaller partner itself survives the cross-index arm
        val inv = shN.select(col("doc_id"),
          size(col("sh")).cast("long").as("sz"), explode(col("sh")).as("s"))
        val intraNear = inv.as("x").join(inv.as("y"),
            col("x.s") === col("y.s") && col("x.doc_id") < col("y.doc_id"))
          .groupBy(col("x.doc_id").as("a"), col("y.doc_id").as("b"),
            col("x.sz").as("sa"), col("y.sz").as("sb"))
          .agg(count(lit(1)).as("i"))
          .where(col("i").cast("double") / (col("sa") + col("sb") - col("i"))
            >= threshold)
          .select(col("b").as(idCol))
        val hashed = newDocs.select(col(idCol), md5(col(textCol)).as("_h"))
        val intraExact = hashed.as("p").join(hashed.as("q"),
            col("p._h") === col("q._h") && col(s"q.$idCol") < col(s"p.$idCol"),
            "left_semi")
          .select(col(idCol))
        near.unionByName(exact).unionByName(intraNear).unionByName(intraExact)
      }
    newDocs.join(doomed, Seq(idCol), "left_anti")
  }

  /** One version's OWN data shard, written fresh under `dataDir` —
    * appends never touch a published directory. */
  private def writeSides(docs: DataFrame, dataDir: String,
                         n: Int, bands: Int, rowsPerBand: Int,
                         textCol: String, idCol: String): Unit = {
    val sh = Dedup.shingled(docs, n, textCol, idCol)
      .where(size(col("sh")) > 0).persist()
    try {
      // the three side tables are independent outputs into an UNPUBLISHED
      // version dir (commit marker lands after) — write them concurrently
      // (guide §2.6); shingles/bands share the persisted shingle frame
      graft.Concurrency.inParallel[Unit](Seq(
        () => docs.select(col(idCol).cast("long").as("doc_id"),
            md5(col(textCol)).as("text_md5"))
          .write.mode(SaveMode.Overwrite).parquet(s"$dataDir/exact"),
        () => sh.write.mode(SaveMode.Overwrite).parquet(s"$dataDir/shingles"),
        () => Dedup.bandedRows(sh, bands, rowsPerBand)
          .write.mode(SaveMode.Overwrite).parquet(s"$dataDir/bands")))
      ()
    } finally { sh.unpersist(); () }
  }

  /** A version's `params` table, read with its schema: inferring it costs
    * a Spark job.
    */
  private val paramsSchema = StructType(Seq(StructField("n", IntegerType),
    StructField("bands", IntegerType), StructField("rows_per_band", IntegerType),
    StructField("probe_hash", LongType)))

  /** The banding params of index version `dir`, checked against this
    * runtime's hashing scheme.
    */
  private def paramsAt(spark: org.apache.spark.sql.SparkSession,
                       dir: String): (Int, Int, Int) = {
    val row = spark.read.schema(paramsSchema).parquet(s"$dir/params").head()
    val (n, bands, rowsPerBand) = (row.getInt(0), row.getInt(1), row.getInt(2))
    val expected = probeHash(bands, rowsPerBand)
    // a params table written without the probe reads it as null
    val stored = if (row.isNullAt(3)) None else Some(row.getLong(3))
    if (!stored.contains(expected))
      throw new IllegalStateException(
        s"dedup index at $dir was built under a different hashing scheme " +
          s"(stored probe ${stored.getOrElse("none")}, this runtime computes $expected) — " +
          "MurmurHash3/Random internals differ from build time; stored band " +
          "hashes would never collide with freshly computed signatures. " +
          "Rebuild the index with buildIndex on this runtime.")
    (n, bands, rowsPerBand)
  }
}
