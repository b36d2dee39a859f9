package graft.ext

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** SQ8 scalar-quantized vector index — the memory-bandwidth middle ground
  * between the brute float32 scan and product quantization: each dimension
  * is affinely mapped to one unsigned byte against per-dimension [lo, hi]
  * bounds learned at build, so the stored corpus is 4× smaller than
  * float32 (vs PQ's ~16× with far coarser cells), and the scan decodes and
  * scores with no codebook lookups — the faiss `SQ8` deployment shape,
  * used when PQ's recall loss is unacceptable but float32 doesn't fit.
  *
  * Layout under `path` (the shared [[VersionedIndex]] protocol — one
  * exclusive `CURRENT.v<N>` marker create per commit, shard-manifest
  * O(shard) appends, retention + [[vacuumIndex]]):
  *
  *   v<N>/params/  1 row: (dim, lo: float[dim], hi: float[dim]) — FROZEN
  *                 at build, copied forward by appends (an append encodes
  *                 against the original bounds, clamped; re-learning would
  *                 silently re-scale every stored code)
  *   v<N>/codes/   (vec_id, codes: binary[dim], dnorm) — one unsigned
  *                 byte per dimension plus the DEQUANTIZED vector's norm,
  *                 precomputed so scoring reads no float arrays at all
  *
  * Scoring is exhaustive (no cell pruning — that is IVF's axis; compose
  * them by feeding SQ8 survivors to a rerank, exactly like PQ): cosine of
  * the float query against the dequantized vector. With `rerank` ≥ the
  * corpus size and a `rerankAgainst` corpus, the exact-rerank stage
  * reproduces brute force bit-for-bit (same ordered `dotLoop` fold and
  * self-exclusion as [[Similarity.topK]] — asserted by the gate's shared
  * oracle); serving configs use a shallow rerank over the SQ8 candidate
  * order, recall-gated like every approximate config here.
  */
object Sq {

  private def dotLoop(a: Array[Float], b: Array[Float]): Double = {
    val n = math.min(a.length, b.length)
    var s = 0.0; var i = 0
    while (i < n) { s += a(i).toDouble * b(i).toDouble; i += 1 }
    s
  }

  /** code = round((v - lo) / (hi - lo) * 255), clamped to [0, 255] —
    * clamping matters on APPENDS, whose values may exceed the frozen
    * build-time bounds. A constant dimension (hi == lo) encodes 0 and
    * dequantizes to lo exactly.
    */
  private def encode(v: Array[Float], lo: Array[Float], hi: Array[Float]): Array[Byte] = {
    val out = new Array[Byte](lo.length)
    var i = 0
    while (i < lo.length) {
      val span = hi(i).toDouble - lo(i).toDouble
      val q =
        if (span <= 0.0 || i >= v.length) 0
        else math.max(0, math.min(255,
          math.round((v(i).toDouble - lo(i).toDouble) / span * 255.0).toInt))
      out(i) = (q - 128).toByte // shift to signed byte for storage
      i += 1
    }
    out
  }

  private def dequant(codes: Array[Byte], lo: Array[Float], hi: Array[Float]): Array[Float] = {
    val out = new Array[Float](lo.length)
    var i = 0
    while (i < lo.length) {
      val q = (codes(i).toInt + 128).toDouble
      out(i) = (lo(i).toDouble + q * (hi(i).toDouble - lo(i).toDouble) / 255.0).toFloat
      i += 1
    }
    out
  }

  /** Per-dimension corpus bounds: one narrow fold per partition, a
    * driver-side elementwise reduce over ≤ partitions rows — never a
    * corpus-scale collect.
    */
  private def learnBounds(corpus: DataFrame, vecCol: String): (Array[Float], Array[Float]) = {
    import corpus.sparkSession.implicits._
    val parts = corpus.select(col(vecCol)).as[Array[Float]]
      .mapPartitions { it =>
        var lo: Array[Float] = null
        var hi: Array[Float] = null
        it.foreach { v =>
          if (lo == null) { lo = v.clone(); hi = v.clone() }
          else {
            var i = 0
            while (i < math.min(lo.length, v.length)) {
              if (v(i) < lo(i)) lo(i) = v(i)
              if (v(i) > hi(i)) hi(i) = v(i)
              i += 1
            }
          }
        }
        if (lo == null) Iterator.empty else Iterator((lo, hi))
      }.collect()
    require(parts.nonEmpty, "Sq.buildIndex: empty corpus")
    parts.reduce { (a, b) =>
      val (al, ah) = a; val (bl, bh) = b
      (al.zip(bl).map(t => math.min(t._1, t._2)),
        ah.zip(bh).map(t => math.max(t._1, t._2)))
    }
  }

  def indexDir(spark: org.apache.spark.sql.SparkSession, path: String,
               asOfVersion: Option[Long] = None): String =
    VersionedIndex.resolveDir(spark, path, asOfVersion)

  def vacuumIndex(spark: org.apache.spark.sql.SparkSession, path: String,
                  retainVersions: Int = 2): Unit =
    VersionedIndex.vacuum(spark, path, retainVersions, "codes",
      Seq("codes", "params", "tombstones"))

  def buildIndex(corpus: DataFrame, path: String,
                 vecCol: String = "embedding", idCol: String = "vec_id"): Unit =
    VersionedIndex.publish(corpus.sparkSession, path, "codes", VersionedIndex.Full)(
      (_, dir) => writeBuild(corpus, dir, vecCol, idCol))

  /** A complete version of `corpus` in `dir`: learned bounds, then codes. */
  private def writeBuild(corpus: DataFrame, dir: String,
                         vecCol: String, idCol: String): Unit = {
    import corpus.sparkSession.implicits._
    val (lo, hi) = learnBounds(corpus, vecCol)
    Seq((lo.length, lo.toSeq, hi.toSeq)).toDF("dim", "lo", "hi")
      .coalesce(1).write.mode(SaveMode.Overwrite).parquet(s"$dir/params")
    writeCodes(corpus, s"$dir/codes", lo, hi, vecCol, idCol)
  }

  /** Fold a new shard in against the FROZEN bounds — O(shard) encode +
    * one exclusive marker create; the parent's code shards ride by
    * manifest reference. Out-of-range append values clamp (the encode
    * contract), which only widens their quantization error — the exact
    * rerank stage is unaffected.
    */
  def appendToIndex(newVecs: DataFrame, path: String,
                    vecCol: String = "embedding", idCol: String = "vec_id"): Unit =
    VersionedIndex.publish(newVecs.sparkSession, path, "codes", VersionedIndex.Append)(
      writeAppend(newVecs, _, _, vecCol, idCol))

  /** Version `dir`'s own codes shard of `newVecs`, encoded against its
    * parent `cur`'s bounds, which it copies forward with the tombstones.
    */
  private def writeAppend(newVecs: DataFrame, cur: String, dir: String,
                          vecCol: String, idCol: String): Unit = {
    val spark = newVecs.sparkSession
    val (lo, hi) = readParams(spark, cur)
    VersionedIndex.copyTable(spark, cur, dir, "params", paramsSchema)
    VersionedIndex.writeTombstones(spark, cur, dir, "vec_id")
    writeCodes(newVecs, s"$dir/codes", lo, hi, vecCol, idCol)
  }

  /** Idempotent streaming maintenance body (`foreachBatch` shape): the
    * shared exactly-once protocol ([[VersionedIndex.foldBatch]]); first
    * batch builds (learns the bounds), later batches encode against them.
    */
  def appendBatchToIndex(newVecs: DataFrame, path: String, batchId: Long,
                         vecCol: String = "embedding",
                         idCol: String = "vec_id"): Unit =
    VersionedIndex.foldBatch(newVecs.sparkSession, path, batchId, "codes", newVecs)(
      writeBuild(_, _, vecCol, idCol), writeAppend(_, _, _, vecCol, idCol))

  /** Chain compaction, the twin of [[Ivf.compactIndex]]: merge the live
    * code shards into one table under a fresh version, tombstones folded,
    * frozen params copied forward — queries are bit-identical pre/post
    * (same codes, same bounds), read amplification resets to one shard.
    */
  def compactIndex(path: String,
                   spark: org.apache.spark.sql.SparkSession): Boolean = {
    val cur = VersionedIndex.requireLive(spark, path, "compactIndex")
    // fully-tombstoned chain: refuse (no-op, nothing committed) — a
    // zero-row write can emit no part files, leaving an unreadable
    // `codes` dir in the committed version (see Ivf.compactIndex)
    val live = codesOf(spark, path, cur)
    if (live.isEmpty) return false
    VersionedIndex.publish(spark, path, "codes", VersionedIndex.Full) { (_, dir) =>
      VersionedIndex.copyTable(spark, cur, dir, "params", paramsSchema)
      live.write.mode(SaveMode.Overwrite).parquet(s"$dir/codes")
    }
    true
  }

  /** TAKEDOWN — the tombstone pattern shared with the sibling indexes:
    * a metadata-only version voids the ids from every later read; pinned
    * pre-takedown versions serve until vacuum. Returns ids present.
    */
  def removeFromIndex(path: String, removeIds: DataFrame,
                      idCol: String = "vec_id"): Long = {
    val spark = removeIds.sparkSession
    val dead = removeIds.select(col(idCol).cast("long").as("vec_id")).distinct()
    val present = codesOf(spark, path, indexDir(spark, path))
      .join(dead, Seq("vec_id"), "left_semi").count()
    if (present == 0L) return 0L
    VersionedIndex.publish(spark, path, "codes", VersionedIndex.Carry) { (cur, dir) =>
      VersionedIndex.writeTombstones(spark, cur, dir, "vec_id", Some(dead))
      VersionedIndex.copyTable(spark, cur, dir, "params", paramsSchema)
    }
    present
  }

  /** Cosine top-k from the quantized corpus: broadcast queries (bounded
    * by the house `head(max+1)` fail-fast), one narrow pass over the
    * codes (decode + score, emitting only scalars), rank window. With
    * `rerankAgainst`, the top-`max(k, rerank)` SQ8 candidates
    * are exact-rescored against their true vectors — the same ordered
    * fold and self-exclusion as [[Similarity.topK]], so a full-depth
    * rerank reproduces brute force exactly. `label` on the query side is
    * an optional passthrough, as in the sibling indexes.
    */
  def queryIndex(path: String, queries: DataFrame, k: Int,
                 rerank: Int = 0, rerankAgainst: Option[DataFrame] = None,
                 vecCol: String = "embedding", idCol: String = "vec_id",
                 maxQueries: Int = 100000,
                 asOfVersion: Option[Long] = None): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    val dir = indexDir(spark, path, asOfVersion)
    val (lo, hi) = readParams(spark, dir)
    val hasLabel = queries.columns.contains("label")
    val labelCol = if (hasLabel) col("label").cast("long") else lit(-1L)
    val qRows = queries.select(col(idCol).cast("long"), col(vecCol), labelCol)
      .as[(Long, Array[Float], Long)].head(maxQueries + 1)
    require(qRows.length <= maxQueries,
      s"Sq.queryIndex: query set exceeds maxQueries=$maxQueries — the " +
        "query side is collected and broadcast; raise it deliberately")
    val qB = spark.sparkContext.broadcast(
      qRows.map { case (id, v, l) => (id, v, l, math.sqrt(dotLoop(v, v))) })
    val loB = spark.sparkContext.broadcast(lo)
    val hiB = spark.sparkContext.broadcast(hi)
    val approx = codesOf(spark, path, dir)
      .as[(Long, Array[Byte], Double)]
      .mapPartitions { it =>
        val qs = qB.value; val l = loB.value; val h = hiB.value
        it.flatMap { case (vid, codes, dnorm) =>
          val dv = dequant(codes, l, h)
          qs.iterator.collect { case (qid, qv, lbl, qn) if qid != vid =>
            (lbl, qid, vid, dotLoop(qv, dv) / (qn * dnorm))
          }
        }
      }.toDF("label", "query_vec_id", "vec_id", "sq8_cosine")
    val depth = math.max(k, rerank)
    val w = Window.partitionBy("query_vec_id")
      .orderBy(col("sq8_cosine").desc, col("vec_id"))
    val cand = approx.withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= depth)
    // ANY supplied rerank corpus requests the exact rescore (at depth
    // max(k, rerank)): the earlier `rerank > k` guard silently skipped the
    // rerank at rerank == k — the natural way to ask for an exact rescore
    // of the top-k — returning SQ8-approximate scores labeled 'cosine'
    val out = rerankAgainst match {
      case Some(corpus) =>
        // exact rescore of the candidate slice: joins move only ids; the
        // float vectors are read once from the caller's corpus
        val exact = cand.select(col("label"), col("query_vec_id"), col("vec_id"))
          .join(corpus.select(col(idCol).cast("long").as("vec_id"), col(vecCol)),
            "vec_id")
          // the join moves the key column first — pin positions before the
          // positional tuple encoder reads them
          .select(col("label"), col("query_vec_id"), col("vec_id"), col(vecCol))
          .as[(Long, Long, Long, Array[Float])]
          .mapPartitions { it =>
            val qs = qB.value.map(q => (q._1, (q._2, q._4))).toMap
            it.map { case (lbl, qid, vid, v) =>
              val (qv, qn) = qs(qid)
              (lbl, qid, vid, dotLoop(qv, v) / (qn * math.sqrt(dotLoop(v, v))))
            }
          }.toDF("label", "query_vec_id", "vec_id", "cosine")
        val we = Window.partitionBy("query_vec_id")
          .orderBy(col("cosine").desc, col("vec_id"))
        exact.withColumn("rank", row_number().over(we).cast("long"))
          .where(col("rank") <= k)
      case _ =>
        cand.where(col("rank") <= k)
          .withColumnRenamed("sq8_cosine", "cosine")
    }
    val shaped = out.select("label", "query_vec_id", "vec_id", "cosine", "rank")
      .withColumn("label", col("label").cast("int"))
    if (hasLabel) shaped else shaped.drop("label")
  }

  private def writeCodes(vecs: DataFrame, dir: String,
                         lo: Array[Float], hi: Array[Float],
                         vecCol: String, idCol: String): Unit = {
    val spark = vecs.sparkSession
    import spark.implicits._
    val loB = spark.sparkContext.broadcast(lo)
    val hiB = spark.sparkContext.broadcast(hi)
    vecs.select(col(idCol).cast("long"), col(vecCol))
      .as[(Long, Array[Float])]
      .mapPartitions { it =>
        val l = loB.value; val h = hiB.value
        it.map { case (id, v) =>
          val codes = encode(v, l, h)
          val dv = dequant(codes, l, h)
          (id, codes, math.sqrt(dotLoop(dv, dv)))
        }
      }.toDF("vec_id", "codes", "dnorm")
      .write.mode(SaveMode.Overwrite).parquet(dir)
  }

  /** A version's `params` table (dim, per-dimension bounds), read with
    * its schema: inferring it costs a Spark job.
    */
  private val paramsSchema = StructType(Seq(StructField("dim", IntegerType),
    StructField("lo", ArrayType(FloatType)), StructField("hi", ArrayType(FloatType))))

  private def readParams(spark: org.apache.spark.sql.SparkSession,
                         dir: String): (Array[Float], Array[Float]) = {
    import spark.implicits._
    spark.read.schema(paramsSchema).parquet(s"$dir/params")
      .select(col("lo"), col("hi")).as[(Array[Float], Array[Float])].head()
  }

  /** Codes side across the shard manifest, tombstones voided. */
  private def codesOf(spark: org.apache.spark.sql.SparkSession,
                      path: String, dir: String): DataFrame = {
    val raw = VersionedIndex.shardsOf(spark, path, dir, "codes")
      .map(r => spark.read.parquet(r))
      .reduce(_.unionByName(_))
      .select(col("vec_id").cast("long"), col("codes"), col("dnorm"))
    VersionedIndex.minusTombstones(spark, dir, raw, "vec_id")
  }
}
