package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Keyword search over a document corpus — the retrieval side of a
  * training-data pipeline (dataset search, eval-set mining, RAG corpus
  * curation): Okapi BM25 ranking and reciprocal-rank fusion of
  * heterogeneous rankers (lexical BM25 × embedding cosine).
  *
  * Scoring contract: BM25 with a LOG-FREE idf, `idf(t) = (N - df + 0.5) /
  * (df + 0.5)` — the ratio inside the conventional `ln(...)`, used
  * directly. Per term it is the same monotone relevance signal (ln is
  * strictly increasing), and dropping the log keeps every score an exact
  * IEEE-754 fold of longs and pinned literals that a second engine
  * replays bit-for-bit — the house rule every scored operator here
  * follows (`ln` is NOT correctly-rounded-specified and differs across
  * libm implementations; +,-,*,/ are). The fold order over query terms is
  * pinned (distinct terms, lexicographic), so the sum itself is
  * reproducible.
  *
  * Plan shape at 100 TB: scoring is embarrassingly parallel — one NARROW
  * pass computes per-document token counts for the (tiny, fixed) query
  * vocabulary via array `filter` on the token array, one 1-row corpus
  * aggregate (N, Σdl, per-term df) is broadcast back as a scalar carrier,
  * and the only data-sized movement is the slim (query_id, doc_id, score,
  * dl) rank shuffle — the corpus text never shuffles. At real scale the
  * corpus-stats row comes from the same pass that built the index; here it
  * is recomputed per call, which is one extra scan, not an extra shuffle.
  */
object Search {

  /** Okapi BM25 top-k for a batch of queries in ONE corpus pass.
    *
    * `queries` maps a query id (must be `[A-Za-z0-9_]+` — it is spliced
    * into a generator expression) to its term list; terms are de-duplicated
    * and scored in lexicographic order (the pinned IEEE fold order). Only
    * documents containing at least one query term are candidates
    * (`score > 0`); ties break by `doc_id`. Output: `(query_id, rank,
    * doc_id, score, dl)`.
    */
  def bm25(docs: DataFrame, queries: Seq[(String, Seq[String])],
           k1: Double = 1.2, b: Double = 0.75, topK: Int = 15,
           textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(queries.nonEmpty, "bm25: at least one query")
    require(queries.forall(_._2.nonEmpty), "bm25: every query needs terms")
    require(queries.forall(_._1.matches("[A-Za-z0-9_]+")),
      "bm25: query ids must be [A-Za-z0-9_]+ (spliced into a stack() expr)")
    require(queries.map(_._1).distinct.size == queries.size,
      "bm25: query ids must be unique")
    val terms = queries.flatMap(_._2).distinct.sorted
    val termIdx = terms.zipWithIndex.toMap

    // Narrow pass: doc length + tf for each distinct query term. Array
    // `filter` keeps this a per-row map over the token array — no explode,
    // no shuffle, no |corpus|×|vocab| intermediate.
    val toks = Text.tokens(col(textCol))
    val base = docs
      .select(col(idCol).cast("long").as("doc_id"), toks.as("_toks"))
      .select(Seq(col("doc_id"),
        size(col("_toks")).cast("long").as("dl")) ++
        terms.zipWithIndex.map { case (t, i) =>
          size(filter(col("_toks"), x => x === lit(t))).cast("long")
            .as(s"_tf$i")
        }: _*)

    // One 1-row aggregate: corpus size, total length, per-term df — then a
    // broadcast scalar carrier (the house 1-row crossJoin pattern).
    val statAggs = Seq(count(lit(1)).as("n_docs"),
      sum(col("dl")).as("total_dl")) ++
      terms.indices.map(i =>
        sum(when(col(s"_tf$i") > 0, 1L).otherwise(0L)).as(s"_df$i"))
    val stats = base.agg(statAggs.head, statAggs.tail: _*)
    val scored = base.crossJoin(broadcast(stats))

    // avgdl and the per-term contribution, written as the EXACT double
    // expression the oracle states: association and literal forms matter
    // for bit-equality, so keep them in lockstep with Oracles.searchBm25.
    val avgdl = col("total_dl").cast("double") / col("n_docs").cast("double")
    def contrib(i: Int): Column = {
      val tf = col(s"_tf$i").cast("double")
      val idf = ((col("n_docs") - col(s"_df$i")).cast("double") + lit(0.5)) /
        (col(s"_df$i").cast("double") + lit(0.5))
      val norm = lit(k1) *
        (lit(1.0 - b) + (lit(b) * col("dl").cast("double")) / avgdl)
      (idf * (tf * lit(k1 + 1.0))) / (tf + norm)
    }
    val withScores = scored.select(
      Seq(col("doc_id"), col("dl")) ++ queries.zipWithIndex.map {
        case ((_, qTerms), qi) =>
          qTerms.distinct.sorted.map(t => contrib(termIdx(t)))
            .reduceLeft(_ + _).as(s"_s$qi")
      }: _*)

    // stack() fans the per-query score columns into rows in the same scan;
    // the rank shuffle then moves only slim scalar rows.
    val stackExpr = s"stack(${queries.size}, " + queries.zipWithIndex.map {
      case ((qid, _), qi) => s"'$qid', _s$qi"
    }.mkString(", ") + ") as (query_id, score)"
    val stacked = withScores.select(col("doc_id"), col("dl"), expr(stackExpr))
    val w = Window.partitionBy("query_id")
      .orderBy(col("score").desc, col("doc_id"))
    stacked.where(col("score") > 0)
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= topK)
      .select("query_id", "rank", "doc_id", "score", "dl")
  }

  /** DataFrame-native batch twin of [[bm25]]: the query set arrives as a
    * DataFrame of `(query_id, terms: array<string>)` rows instead of a
    * driver-side Seq, so a million-query workload (hard-negative mining,
    * eval-set retrieval) scores without the driver materializing — or the
    * plan growing with — the query list. Bit-identical to [[bm25]] on the
    * same query set (asserted in tests and by the gate's shared oracle).
    *
    * Plan shape: the corpus explodes to `(term, doc_id, tf)` postings
    * RESTRICTED to the query vocabulary (semi-join before the groupBy, so
    * off-vocabulary tokens never shuffle), per-term df is an aggregate of
    * that slim frame, and the scoring join moves only `(query_id, term)` ×
    * `(term, doc_id, contribution)` rows — corpus text never shuffles,
    * nothing is driver-side. The per-document sum is the ORDERED fold over
    * the lexicographically-sorted matched terms, reproducing the scan's
    * pinned `reduceLeft` order (absent terms contribute an exact `0.0`
    * there — the IEEE identity for these non-negative contributions).
    */
  def bm25Batch(docs: DataFrame, queries: DataFrame,
                k1: Double = 1.2, b: Double = 0.75, topK: Int = 15,
                textCol: String = "text", idCol: String = "doc_id",
                queryIdCol: String = "query_id",
                termsCol: String = "terms"): DataFrame = {
    val qTerms = queries.select(
      col(queryIdCol).cast("string").as("query_id"),
      explode(col(termsCol)).as("term")).distinct()
    val toks = docs.select(col(idCol).cast("long").as("doc_id"),
      Text.tokens(col(textCol)).as("_toks"))
    val base = toks.select(col("doc_id"),
      size(col("_toks")).cast("long").as("dl"), col("_toks"))
    val st = base.agg(count(lit(1)), sum(col("dl"))).first()
    val post = vocabRestrict(
      base.select(col("doc_id"), explode(col("_toks")).as("term")), qTerms)
      .groupBy("term", "doc_id").agg(count(lit(1)).as("tf"))
    scoreBatch(qTerms, post, base.select("doc_id", "dl"),
      st.getLong(0), st.getLong(1), k1, b, topK)
  }

  /** Small vocabularies (the serving case) are collected — bounded by the
    * house `head(max+1)` probe — into a literal IN filter, which reaches a
    * parquet postings scan as a pushed row-group filter and costs the scan
    * path nothing but a per-row membership test; genuinely large query
    * batches fall back to a (broadcastable) semi-join. Either restriction
    * keeps the SAME rows, so scores are unaffected.
    */
  private val MaxLiteralVocab = 1024
  private def vocabRestrict(post: DataFrame, qTerms: DataFrame): DataFrame = {
    val vocab = qTerms.select("term").distinct()
    val head = vocab.limit(MaxLiteralVocab + 1).collect().map(_.getString(0))
    if (head.length <= MaxLiteralVocab)
      post.where(col("term").isInCollection(head.toSeq.sorted))
    else post.join(vocab, Seq("term"), "left_semi")
  }

  /** Shared batch-scoring tail: BM25 over pre-shaped postings. `qTerms` is
    * the DISTINCT `(query_id, term)` set, `post` the `(term, doc_id, tf)`
    * postings already restricted to live documents, `lens` the doc-length
    * side (joined inner from the postings side, so ids absent from `post`
    * never surface). The contribution expression and the sorted-struct
    * ordered fold are the SAME pinned IEEE forms as [[bm25]]'s scan — keep
    * them in lockstep with `Oracles.searchBm25`.
    */
  private def scoreBatch(qTerms: DataFrame, post: DataFrame, lens: DataFrame,
                         nDocs: Long, totalDl: Long,
                         k1: Double, b: Double, topK: Int): DataFrame = {
    // an emptied corpus (every document taken down) serves an empty
    // result — without the guard `avgdl = 0/0` explodes at PLAN time
    // (ANSI division, constant-folded before any row is touched)
    if (nDocs <= 0L) {
      val spark = qTerms.sparkSession
      import spark.implicits._
      return Seq.empty[(String, Long, Long, Double, Long)]
        .toDF("query_id", "rank", "doc_id", "score", "dl")
    }
    // df is query-vocabulary-sized — broadcast it back (statistics-free
    // after the aggregate, so without the hint the planner can shuffle the
    // whole postings slice into a sort-merge join on the serving path)
    val dfs = broadcast(post.groupBy("term").agg(count(lit(1)).as("df")))
    val avgdl = lit(totalDl).cast("double") / lit(nDocs).cast("double")
    val tf = col("tf").cast("double")
    val idf = ((lit(nDocs) - col("df")).cast("double") + lit(0.5)) /
      (col("df").cast("double") + lit(0.5))
    val norm = lit(k1) *
      (lit(1.0 - b) + (lit(b) * col("dl").cast("double")) / avgdl)
    val contrib = post.join(dfs, "term")
      .join(lens, "doc_id")
      .select(col("doc_id"), col("term"), col("dl"),
        ((idf * (tf * lit(k1 + 1.0))) / (tf + norm)).as("c"))
    val scored = qTerms.join(contrib, "term")
      .groupBy("query_id", "doc_id", "dl")
      .agg(aggregate(
        sort_array(collect_list(struct(col("term"), col("c")))),
        lit(0.0),
        (acc, x) => acc + x.getField("c")).as("score"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("score").desc, col("doc_id"))
    scored.where(col("score") > 0)
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= topK)
      .select("query_id", "rank", "doc_id", "score", "dl")
  }

  /** Reciprocal-rank fusion of two rankers over the same id space:
    * `rrf = 1/(kRrf + rank_a) + 1/(kRrf + rank_b)` with an absent side
    * contributing 0 (full-outer semantics — a document only one ranker
    * surfaced still competes). The classic hybrid-retrieval combiner
    * (Cormack/Clarke/Buettcher, SIGIR'09): rank-space fusion needs no
    * score calibration between lexical and embedding rankers.
    *
    * Inputs are top-k lists (bounded by contract — both sides are already
    * rank-truncated), so the full-outer join and the single-partition
    * final ordering touch ≤ |a|+|b| slim rows; document-scale data never
    * reaches this operator. Ties break by `doc_id`. Output: `(rank,
    * doc_id, rrf_score, rank_a, rank_b)` — the input ranks ride along for
    * attribution.
    */
  def rrfFuse(a: DataFrame, b: DataFrame,
              kRrf: Int = 60, topK: Int = 20): DataFrame = {
    val aa = a.select(col("doc_id").cast("long").as("doc_id"),
      col("rank").cast("long").as("rank_a"))
    val bb = b.select(col("doc_id").cast("long").as("doc_id"),
      col("rank").cast("long").as("rank_b"))
    // a-side contribution first, then b — the pinned two-term fold order
    val fused = aa.join(bb, Seq("doc_id"), "full_outer")
      .withColumn("rrf_score",
        coalesce(lit(1.0) / (lit(kRrf.toLong) + col("rank_a")).cast("double"),
          lit(0.0)) +
          coalesce(lit(1.0) / (lit(kRrf.toLong) + col("rank_b")).cast("double"),
            lit(0.0)))
    val w = Window.orderBy(col("rrf_score").desc, col("doc_id"))
    fused.withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= topK)
      .select("rank", "doc_id", "rrf_score", "rank_a", "rank_b")
  }

  // ---------------------------------------------------------------------
  // Persisted inverted index — build once, serve keyword queries from
  // term-pruned postings instead of rescanning the corpus per query.
  // ---------------------------------------------------------------------

  /** VERSIONED layout under `path` (the shared [[VersionedIndex]]
    * protocol — one exclusive `CURRENT.v<N>` marker create per commit,
    * shard-manifest appends, retention + explicit [[vacuumIndex]]):
    *
    *   v<N>/data/postings/  (term, doc_id, tf) — range-partitioned and
    *                        sorted BY TERM, so a query's `term IN (…)`
    *                        predicate prunes at parquet row-group level
    *                        (min/max stats); directory-per-term would not
    *                        survive a real vocabulary, range-by-term does
    *   v<N>/data/doclens/   (doc_id, dl) — the length normalizer
    *   v<N>/data/stats/     1 row (n_docs, total_dl) per shard; the
    *                        corpus totals are the SUM over shard stats,
    *                        which is what makes an append O(shard)
    *
    * [[queryIndex]] is bit-identical to the one-pass [[bm25]] scan: same
    * contribution expression, and the per-document sum is an ORDERED fold
    * over the lexicographically-sorted matched terms (`sort_array` +
    * `aggregate`), which reproduces the scan's pinned `reduceLeft` order
    * exactly — absent terms contribute an exact `0.0` there, an identity
    * under IEEE addition for these non-negative contributions, so
    * skipping them here changes nothing bit-wise.
    */
  def buildIndex(docs: DataFrame, path: String,
                 textCol: String = "text", idCol: String = "doc_id"): Unit =
    VersionedIndex.publish(docs.sparkSession, path, "data", VersionedIndex.Full)(
      (_, dir) => writeShard(docs, s"$dir/data", textCol, idCol))

  /** Fold a NEW shard in as a fresh version referencing the parent's data
    * by manifest — O(shard) work, one exclusive marker create. The caller
    * guarantees shard doc ids are new (dedup upstream); corpus stats and
    * per-term df compose additively across shards by construction.
    */
  def appendToIndex(docs: DataFrame, path: String,
                    textCol: String = "text", idCol: String = "doc_id"): Unit =
    VersionedIndex.publish(docs.sparkSession, path, "data", VersionedIndex.Append)(
      writeAppend(docs, _, _, textCol, idCol))

  /** Version `dir`'s own data shard of `docs`, with its parent `cur`'s
    * takedown metadata copied forward (driver-scale); only the big side
    * tables share by reference through the shard manifest.
    */
  private def writeAppend(docs: DataFrame, cur: String, dir: String,
                          textCol: String, idCol: String): Unit = {
    val spark = docs.sparkSession
    VersionedIndex.writeTombstones(spark, cur, dir, "doc_id")
    statsAdjustOf(spark, cur).foreach { case (n, dl) => writeStatsAdjust(spark, dir, n, dl) }
    writeShard(docs, s"$dir/data", textCol, idCol)
  }

  /** Live (or pinned) version directory — shared resolution surface. */
  def indexDir(spark: org.apache.spark.sql.SparkSession, path: String,
               asOfVersion: Option[Long] = None): String =
    VersionedIndex.resolveDir(spark, path, asOfVersion)

  /** Idempotent streaming maintenance body (the `foreachBatch` of
    * [[graft.Streaming.ingestToSearchIndex]]): fold the micro-batch into
    * the index via the shared exactly-once protocol
    * ([[VersionedIndex.foldBatch]] — the batch id commits in the new
    * version's marker), because a replayed [[appendToIndex]] would DOUBLE
    * the shard's postings (df and scores silently wrong — unlike the
    * warehouse upsert, an index append is not naturally idempotent).
    * First batch on an empty index builds; an empty batch commits nothing
    * (empty shards would compose, but the chain stays free of zero-row
    * shard versions).
    */
  def appendBatchToIndex(docs: DataFrame, path: String, batchId: Long,
                         textCol: String = "text",
                         idCol: String = "doc_id"): Unit =
    VersionedIndex.foldBatch(docs.sparkSession, path, batchId, "data", docs)(
      (b, dir) => writeShard(b, s"$dir/data", textCol, idCol),
      writeAppend(_, _, _, textCol, idCol))

  /** TAKEDOWN for the search index — the twin of `Ivf.removeFromIndex` /
    * `DedupIndex.removeFromIndex`: void `removeIds`' postings and doc
    * lengths from every subsequent read by publishing a metadata-only
    * version whose `tombstones` table is the accumulated dead set and
    * whose shard manifest carries the parent's data unchanged.
    *
    * Scoring stays AS-IF-REBUILT, not merely filtered: BM25's corpus
    * terms (N, total length → avgdl, and per-term df) must stop counting
    * a removed document or every surviving score drifts from a fresh
    * build's. df comes out right for free (computed live from the
    * tombstone-filtered postings); N and Σdl are served from per-shard
    * stats, so the takedown version also writes a 1-row `stats_adjust`
    * carrying the CUMULATIVE (docs, length) to subtract — computed once
    * here from the dead docs' own doclens rows, O(removed), never a
    * corpus scan at query time. Pinned pre-takedown versions still serve
    * the full corpus until vacuum. Returns ids actually present (0 =
    * no-op, nothing published).
    */
  def removeFromIndex(path: String, removeIds: DataFrame,
                      idCol: String = "doc_id"): Long = {
    val spark = removeIds.sparkSession
    val cur = VersionedIndex.resolveDir(spark, path, None)
    val dead = removeIds.select(col(idCol).cast("long").as("doc_id")).distinct()
    val roots = VersionedIndex.shardsOf(spark, path, cur, "data")
    def side(name: String): DataFrame =
      roots.map(r => spark.read.parquet(s"$r/$name")).reduce(_.unionByName(_))
    val lens = VersionedIndex.minusTombstones(spark, cur, side("doclens"), "doc_id")
    // the dead docs' own (count, total length): O(removed) rows
    val gone = lens.join(dead, Seq("doc_id"), "left_semi")
      .agg(count(lit(1)).as("n"), coalesce(sum("dl"), lit(0L)).as("dl"))
      .first()
    val present = gone.getLong(0)
    if (present == 0L) return 0L
    VersionedIndex.publish(spark, path, "data", VersionedIndex.Carry) { (_, dir) =>
      VersionedIndex.writeTombstones(spark, cur, dir, "doc_id", Some(dead))
      val (priorN, priorDl) = statsAdjustOf(spark, cur).getOrElse((0L, 0L))
      writeStatsAdjust(spark, dir, priorN + present, priorDl + gone.getLong(1))
    }
    present
  }

  /** Chain compaction, the twin of [[Ivf.compactIndex]]: merge the live
    * postings/doclens shards (tombstones folded) into one data shard under
    * a fresh version, re-establishing the by-term range partitioning so
    * row-group pruning is as sharp as a fresh build's. The per-shard stats
    * are RECOMPUTED from the compacted doclens (exact long count/sum — the
    * accumulated `stats_adjust` folds away with the tombstones), so BM25's
    * corpus terms are identical pre/post and scores stay bit-equal (the
    * gate pins this). Read amplification resets to one shard.
    */
  def compactIndex(path: String,
                   spark: org.apache.spark.sql.SparkSession): Boolean = {
    import org.apache.spark.sql.SaveMode
    val cur = VersionedIndex.requireLive(spark, path, "compactIndex")
    val roots = VersionedIndex.shardsOf(spark, path, cur, "data")
    def side(name: String): DataFrame =
      roots.map(r => spark.read.parquet(s"$r/$name")).reduce(_.unionByName(_))
    def live(df: DataFrame): DataFrame =
      VersionedIndex.minusTombstones(spark, cur, df, "doc_id")
    val lens = live(side("doclens"))
    // fully-tombstoned chain: refuse (no-op, nothing committed) — a
    // zero-row write can emit no part files, leaving unreadable data
    // dirs in the committed version (see Ivf.compactIndex)
    if (lens.isEmpty) return false
    VersionedIndex.publish(spark, path, "data", VersionedIndex.Full) { (_, dir) =>
      lens.write.mode(SaveMode.Overwrite).parquet(s"$dir/data/doclens")
      lens.agg(count(lit(1)).as("n_docs"),
          coalesce(sum(col("dl")), lit(0L)).as("total_dl"))
        .coalesce(1).write.mode(SaveMode.Overwrite).parquet(s"$dir/data/stats")
      live(side("postings"))
        .repartitionByRange(col("term"))
        .sortWithinPartitions("term", "doc_id")
        .write.mode(SaveMode.Overwrite).parquet(s"$dir/data/postings")
    }
    true
  }

  private def statsAdjustOf(spark: org.apache.spark.sql.SparkSession,
                            dir: String): Option[(Long, Long)] =
    if (VersionedIndex.io(spark, dir).exists(s"$dir/stats_adjust")) {
      val r = spark.read.parquet(s"$dir/stats_adjust").first()
      Some((r.getLong(0), r.getLong(1)))
    } else None

  /** Version `dir`'s cumulative takedown adjustment: `n` dead docs of
    * total length `dl`.
    */
  private def writeStatsAdjust(spark: org.apache.spark.sql.SparkSession,
                               dir: String, n: Long, dl: Long): Unit = {
    import spark.implicits._
    Seq((n, dl)).toDF("dead_docs", "dead_dl").coalesce(1)
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(s"$dir/stats_adjust")
  }

  /** Reclaim superseded versions past the retention window. */
  def vacuumIndex(spark: org.apache.spark.sql.SparkSession, path: String,
                  retainVersions: Int = 2): Unit =
    VersionedIndex.vacuum(spark, path, retainVersions, "data")

  private def writeShard(docs: DataFrame, dir: String,
                         textCol: String, idCol: String): Unit = {
    import org.apache.spark.sql.SaveMode
    val toks = docs.select(col(idCol).cast("long").as("doc_id"),
      Text.tokens(col(textCol)).as("_toks"))
    val base = toks.select(col("doc_id"),
      size(col("_toks")).cast("long").as("dl"), col("_toks"))
    base.select("doc_id", "dl").write.mode(SaveMode.Overwrite)
      .parquet(s"$dir/doclens")
    base.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("total_dl"))
      .coalesce(1).write.mode(SaveMode.Overwrite).parquet(s"$dir/stats")
    base.select(col("doc_id"), explode(col("_toks")).as("term"))
      .groupBy("term", "doc_id").agg(count(lit(1)).as("tf"))
      .repartitionByRange(col("term"))
      .sortWithinPartitions("term", "doc_id")
      .write.mode(SaveMode.Overwrite).parquet(s"$dir/postings")
  }

  /** BM25 top-k served FROM the index: reads only the query terms'
    * postings slice (term-range pruned), the doc-length side, and the
    * driver-summed shard stats — never the corpus. Bit-identical to
    * [[bm25]] over the same documents (asserted in tests and by the
    * gate's shared oracle).
    */
  def queryIndex(spark: org.apache.spark.sql.SparkSession, path: String,
                 queries: Seq[(String, Seq[String])],
                 k1: Double = 1.2, b: Double = 0.75, topK: Int = 15,
                 asOfVersion: Option[Long] = None): DataFrame = {
    require(queries.nonEmpty && queries.forall(_._2.nonEmpty),
      "queryIndex: at least one query with terms")
    import spark.implicits._
    queryIndexBatch(spark, path,
      queries.toDF("query_id", "terms"), k1, b, topK, asOfVersion)
  }

  /** DataFrame-native batch twin of [[queryIndex]] (the index-served
    * [[bm25Batch]]): a `(query_id, terms: array<string>)` query frame is
    * scored against the postings slice its vocabulary prunes to — the
    * serving plan is a fixed number of operators regardless of |queries|,
    * where the Seq path unions one aggregate per query. Tombstones and the
    * takedown stats adjustment apply exactly as in [[queryIndex]] (which
    * now delegates here), so both shapes stay bit-identical to the
    * one-pass scan by construction.
    */
  def queryIndexBatch(spark: org.apache.spark.sql.SparkSession, path: String,
                      queries: DataFrame,
                      k1: Double = 1.2, b: Double = 0.75, topK: Int = 15,
                      asOfVersion: Option[Long] = None,
                      queryIdCol: String = "query_id",
                      termsCol: String = "terms"): DataFrame = {
    val dir = VersionedIndex.resolveDir(spark, path, asOfVersion)
    val roots = VersionedIndex.shardsOf(spark, path, dir, "data")
    def side(name: String): DataFrame =
      roots.map(r => spark.read.parquet(s"$r/$name")).reduce(_.unionByName(_))
    // corpus totals: sum of per-shard 1-row stats, minus the resolved
    // version's takedown adjustment — scores stay as-if-rebuilt after a
    // removeFromIndex, with zero corpus-side work at query time
    val st = side("stats").agg(sum("n_docs"), sum("total_dl")).first()
    val (deadN, deadDl) = statsAdjustOf(spark, dir).getOrElse((0L, 0L))
    val qTerms = queries.select(
      col(queryIdCol).cast("string").as("query_id"),
      explode(col(termsCol)).as("term")).distinct()
    // the vocabulary restriction reaches the postings scan as a pushed IN
    // filter when the query set is literal-small, and stays a
    // (broadcastable) semi-join for genuinely large batches — either way
    // only the matched terms' row groups are read (postings are
    // range-sorted by term)
    val post0 = vocabRestrict(side("postings"), qTerms)
    // takedown tombstones void a removed doc's postings from candidacy AND
    // from df (counted off this filtered frame in the scoring tail); its
    // doclens rows never surface because the length join is inner from the
    // postings side
    val post = VersionedIndex.minusTombstones(spark, dir, post0, "doc_id")
    scoreBatch(qTerms, post, side("doclens"),
      st.getLong(0) - deadN, st.getLong(1) - deadDl, k1, b, topK)
  }
}
