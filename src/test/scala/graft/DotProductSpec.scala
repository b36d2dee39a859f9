package graft

import org.apache.spark.sql.functions._

class DotProductSpec extends SparkSpec {
  import spark.implicits._

  test("custom codegen dot product is bit-identical to the declarative fold") {
    val rnd = new scala.util.Random(7)
    val rows = (0 until 200).map { i =>
      (i.toLong, Seq.fill(64)(rnd.nextFloat() * 2 - 1), Seq.fill(64)(rnd.nextFloat() * 2 - 1))
    }
    val df = rows.toDF("id", "a", "b")
    val diff = df.select(
        ext.Similarity.dot(col("a"), col("b")).as("native"),
        ext.Similarity.dotFold(col("a"), col("b")).as("fold"))
      .where(col("native") =!= col("fold")) // bitwise-equal doubles compare equal
      .count()
    assert(diff == 0)
  }

  test("dot product of double arrays and null-array propagation") {
    val df = Seq(
      (Some(Seq(1.0, 2.0, 3.0)), Some(Seq(4.0, 5.0, 6.0))),
      (None, Some(Seq(1.0, 2.0, 3.0))))
      .toDF("a", "b")
    val out = df.select(ext.Similarity.dot(col("a"), col("b")).as("d"))
      .collect().map(r => if (r.isNullAt(0)) None else Some(r.getDouble(0)))
    assert(out.toSeq == Seq(Some(32.0), None))
  }

  test("IVF with nProbe == nCells is exhaustive and equals brute-force top-k") {
    val rnd = new scala.util.Random(11)
    val corpus = (0 until 300).map(i =>
      (i.toLong, Seq.fill(16)(rnd.nextFloat() * 2 - 1), i % 3)).toDF("vec_id", "embedding", "label")
    val queries = corpus.where(col("vec_id") < 3)
    val exhaustive = ext.Ivf.ivfTopK(corpus, queries, k = 5, nCells = 16, nProbe = 16)
      .select("query_vec_id", "vec_id", "rank").as[(Long, Long, Long)].collect().toSet
    val brute = ext.Similarity.topK(corpus, queries, k = 5)
      .select("query_vec_id", "vec_id", "rank").as[(Long, Long, Long)].collect().toSet
    assert(exhaustive == brute)
    assert(exhaustive.size == 15) // 3 queries × k
  }

  test("PQ: deterministic codebooks, in-range codes, and full-depth rerank " +
      "equals brute-force top-k exactly") {
    val rnd = new scala.util.Random(13)
    val corpus = (0 until 200).map(i =>
      (i.toLong, Seq.fill(16)(rnd.nextFloat() * 2 - 1), i % 3)).toDF("vec_id", "embedding", "label")
    val queries = corpus.where(col("vec_id") < 3)
    val m1 = ext.Ivf.learnPq(corpus, m = 4, codes = 8, iters = 2)
    val m2 = ext.Ivf.learnPq(corpus.repartition(7), m = 4, codes = 8, iters = 2)
    assert(m1.m === 4)
    assert(m1.subDim === 4)
    // learned artifact is partitioning-independent (deterministic seed +
    // exact partial means)
    assert(m1.codebooks.flatten.flatten.toSeq === m2.codebooks.flatten.flatten.toSeq)
    val enc = ext.Ivf.pqEncode(corpus, m1).collect()
    assert(enc.length === 200)
    assert(enc.forall(_.getAs[Seq[Int]]("codes").forall(c => c >= 0 && c < 8)))
    // rerank depth ≥ corpus ⇒ the candidate set is everything and the
    // exact rerank IS brute force — bit-identical winners
    val viaPq = ext.Ivf.pqTopK(corpus, queries, k = 5, m = 4, codes = 8,
        rerank = 300)
      .select("query_vec_id", "vec_id", "rank").as[(Long, Long, Long)].collect().toSet
    val brute = ext.Similarity.topK(corpus, queries, k = 5)
      .select("query_vec_id", "vec_id", "rank").as[(Long, Long, Long)].collect().toSet
    assert(viaPq === brute)
    // code path without rerank still returns k well-formed rows per query
    assert(ext.Ivf.pqTopK(corpus, queries, k = 5, m = 4, codes = 8)
      .groupBy("query_vec_id").count()
      .select("count").as[Long].collect().forall(_ === 5L))
    // dimension mismatch fails fast instead of silently zero-padding
    val short = Seq((999L, Seq.fill(14)(0.5f), 0)).toDF("vec_id", "embedding", "label")
    val boom = intercept[org.apache.spark.SparkException] {
      ext.Ivf.pqEncode(short, m1).collect()
    }
    assert(boom.getMessage.contains("dimension mismatch") ||
      Option(boom.getCause).exists(_.getMessage.contains("dimension mismatch")))
  }

  test("persisted IVF-PQ index: codes-only inverted file, exhaustive probe " +
      "+ full rerank equals brute; probed scan prunes cell partitions") {
    val rnd = new scala.util.Random(17)
    val corpus = (0 until 200).map(i =>
      (i.toLong, Seq.fill(16)(rnd.nextFloat() * 2 - 1), i % 3)).toDF("vec_id", "embedding", "label")
    val queries = corpus.where(col("vec_id") < 3)
    val dir = java.nio.file.Files.createTempDirectory("graft-ivfpq-t").toString
    ext.Ivf.buildPqIndex(corpus, dir, nCells = 8, m = 4, codes = 8, refineIters = 1)
    // the inverted file holds codes + norm, never the float vectors
    val cellsDir = new java.io.File(s"${ext.Ivf.indexDir(spark, dir)}/cells")
    assert(cellsDir.listFiles().exists(_.getName.startsWith("cell=")))
    val cellsSchema = spark.read.parquet(cellsDir.toString).schema.fieldNames.toSet
    assert(cellsSchema.contains("codes") && cellsSchema.contains("norm"))
    assert(!cellsSchema.contains("embedding"))
    val viaIdx = ext.Ivf.queryPqIndex(dir, queries, k = 5, nProbe = 8,
        rerank = 1000, rerankAgainst = Some(corpus))
      .select("query_vec_id", "vec_id", "rank").as[(Long, Long, Long)].collect().toSet
    val brute = ext.Similarity.topK(corpus, queries, k = 5)
      .select("query_vec_id", "vec_id", "rank").as[(Long, Long, Long)].collect().toSet
    assert(viaIdx === brute)
    // narrow probing still returns k well-formed rows per query
    assert(ext.Ivf.queryPqIndex(dir, queries, k = 5, nProbe = 3)
      .groupBy("query_vec_id").count()
      .select("count").as[Long].collect().forall(_ === 5L))
    // incremental append: a new shard encoded with the EXISTING model —
    // exhaustive exact query over the union still equals brute
    val shard = (200 until 260).map(i =>
      (i.toLong, Seq.fill(16)(rnd.nextFloat() * 2 - 1), i % 3)).toDF("vec_id", "embedding", "label")
    ext.Ivf.appendToPqIndex(shard, dir)
    val union = corpus.unionByName(shard)
    val viaIdx2 = ext.Ivf.queryPqIndex(dir, queries, k = 5, nProbe = 8,
        rerank = 1000, rerankAgainst = Some(union))
      .select("query_vec_id", "vec_id", "rank").as[(Long, Long, Long)].collect().toSet
    val brute2 = ext.Similarity.topK(union, queries, k = 5)
      .select("query_vec_id", "vec_id", "rank").as[(Long, Long, Long)].collect().toSet
    assert(viaIdx2 === brute2)
  }

  test("MMR diversification: lambda=1 is pure relevance order; a lower " +
      "lambda skips the near-duplicate of the top result") {
    // doc 1 ≈ doc 0's direction (near-dup); doc 2 is orthogonal-ish but
    // still relevant; query aligned with doc 0
    val corpus = Seq(
      (0L, Seq(1.0f, 0.0f, 0.0f), 0),
      (1L, Seq(0.999f, 0.04f, 0.0f), 0),  // near-dup of 0
      (2L, Seq(0.7f, 0.7f, 0.0f), 0),
      (3L, Seq(0.5f, 0.5f, 0.7f), 0),
      (9L, Seq(1.0f, 0.01f, 0.0f), 0)     // the query vector row
    ).toDF("vec_id", "embedding", "label")
    val q = corpus.where(col("vec_id") === 9L)
    val pure = ext.Similarity.mmrTopK(corpus.where(col("vec_id") =!= 9L), q,
        k = 3, poolSize = 4, lambda = 1.0)
      .orderBy("rank").select("vec_id").as[Long].collect().toSeq
    val rel = ext.Similarity.topK(corpus.where(col("vec_id") =!= 9L), q, k = 3)
      .orderBy("rank").select("vec_id").as[Long].collect().toSeq
    assert(pure === rel) // λ=1 degenerates to the relevance ranking
    assert(pure.take(2) === Seq(0L, 1L)) // near-dup sits at rank 2 on rel
    val diverse = ext.Similarity.mmrTopK(corpus.where(col("vec_id") =!= 9L), q,
        k = 3, poolSize = 4, lambda = 0.5)
      .orderBy("rank").select("vec_id").as[Long].collect().toSeq
    // MMR demotes the near-duplicate: rank 2 goes to the spread-out doc
    assert(diverse.head === 0L)
    assert(diverse(1) !== 1L)
    assert(diverse.toSet.subsetOf(Set(0L, 1L, 2L, 3L)) && diverse.size === 3)
    intercept[IllegalArgumentException](
      ext.Similarity.mmrTopK(corpus, q, k = 5, poolSize = 3))
    intercept[IllegalArgumentException](
      ext.Similarity.mmrTopK(corpus, q, k = 1, poolSize = 2, lambda = 1.5))
  }

  test("mmrRerank: caller-supplied relevance composes; a pool id without " +
      "an embedding fails the coverage guard loudly") {
    val corpus = Seq(
      (0L, Seq(1.0f, 0.0f), 0), (1L, Seq(0.9f, 0.1f), 0),
      (2L, Seq(0.0f, 1.0f), 0)).toDF("vec_id", "embedding", "label")
    val ranked = Seq((0L, 0.9), (1L, 0.8), (2L, 0.5)).toDF("vec_id", "rel")
    val r = ext.Similarity.mmrRerank(ranked, corpus, k = 2, lambda = 0.5)
      .orderBy("rank").select("vec_id").as[Long].collect().toSeq
    // pick 1 = best rel (0); pick 2 = the orthogonal doc, not the near-dup
    assert(r === Seq(0L, 2L))
    // the guard that caught the sf0.1 fixture gap: an unknown pool id is
    // a loud failure, never a silent drop
    val bad = Seq((0L, 0.9), (99L, 0.8)).toDF("vec_id", "rel")
    val e = intercept[IllegalArgumentException](
      ext.Similarity.mmrRerank(bad, corpus, k = 2))
    assert(e.getMessage.contains("no embedding"))
    assert(e.getMessage.contains("99")) // names the actual missing id
    // duplicate ranked ids would let the greedy pick one id twice —
    // rejected, and NOT maskable by a missing embedding for another id
    // (the old count-vs-count guard could be fooled exactly that way)
    val dup = Seq((0L, 0.9), (0L, 0.8), (99L, 0.5)).toDF("vec_id", "rel")
    val e2 = intercept[IllegalArgumentException](
      ext.Similarity.mmrRerank(dup, corpus, k = 2))
    assert(e2.getMessage.contains("duplicate vec_id"))
    // duplicate corpus rows per id inflate the pairwise join — loud error
    val dupCorpus = corpus.unionByName(
      Seq((0L, Seq(1.0f, 0.0f), 0)).toDF("vec_id", "embedding", "label"))
    val e3 = intercept[IllegalArgumentException](
      ext.Similarity.mmrRerank(ranked, dupCorpus, k = 2))
    assert(e3.getMessage.contains("duplicate"))
  }

  test("mmrTopK forwards custom vecCol/idCol to the relevance pool (not " +
      "just the pairwise side) — and decoy default-named columns are " +
      "never read") {
    // decoy columns literally named embedding/vec_id carry WRONG data; a
    // regression to topK's defaults would silently score against them
    val base = Seq(
      (0L, Seq(1.0f, 0.0f, 0.0f), 0),
      (1L, Seq(0.999f, 0.04f, 0.0f), 0),
      (2L, Seq(0.7f, 0.7f, 0.0f), 0),
      (3L, Seq(0.5f, 0.5f, 0.7f), 0),
      (9L, Seq(1.0f, 0.01f, 0.0f), 0)).toDF("doc_id", "emb", "label")
    val decoyed = base
      .withColumn("vec_id", -col("doc_id"))
      .withColumn("embedding", expr("transform(emb, x -> -x)"))
    val q = decoyed.where(col("doc_id") === 9L)
    val got = ext.Similarity.mmrTopK(decoyed.where(col("doc_id") =!= 9L), q,
        k = 3, poolSize = 4, lambda = 0.5, vecCol = "emb", idCol = "doc_id")
      .orderBy("rank").select("vec_id").as[Long].collect().toSeq
    val want = ext.Similarity.mmrTopK(
        base.where(col("doc_id") =!= 9L)
          .toDF("vec_id", "embedding", "label"),
        base.where(col("doc_id") === 9L)
          .toDF("vec_id", "embedding", "label"),
        k = 3, poolSize = 4, lambda = 0.5)
      .orderBy("rank").select("vec_id").as[Long].collect().toSeq
    assert(got === want)
  }

  test("filtered IVF-PQ search: exhaustive probe + full rerank over the " +
      "allowed set equals brute over the filtered corpus") {
    val rnd = new scala.util.Random(29)
    val corpus = (0 until 200).map(i =>
      (i.toLong, Seq.fill(16)(rnd.nextFloat() * 2 - 1), i % 3))
      .toDF("vec_id", "embedding", "label")
    val queries = corpus.where(col("vec_id") < 3)
    val allowed = corpus.where(col("vec_id") % 2 === 0)
    val dir = java.nio.file.Files.createTempDirectory("graft-ivfpq-f").toString
    ext.Ivf.buildPqIndex(corpus, dir, nCells = 8, m = 4, codes = 8)
    // rerank corpus = the ALLOWED set only: candidates ⊆ allowed by
    // construction, so the coverage guard must not fire
    val viaIdx = ext.Ivf.queryPqIndex(dir, queries, k = 5, nProbe = 8,
        rerank = 1000, rerankAgainst = Some(allowed),
        allowedIds = Some(allowed))
      .select("query_vec_id", "vec_id", "rank")
      .as[(Long, Long, Long)].collect().toSet
    val brute = ext.Similarity.topK(allowed, queries, k = 5)
      .select("query_vec_id", "vec_id", "rank")
      .as[(Long, Long, Long)].collect().toSet
    assert(viaIdx === brute)
    assert(!viaIdx.exists(_._2 % 2 != 0))
  }

  test("persisted IVF index round-trips: exhaustive queryIndex equals brute; cells are partition dirs") {
    val rnd = new scala.util.Random(17)
    val corpus = (0 until 300).map(i =>
      (i.toLong, Seq.fill(16)(rnd.nextFloat() * 2 - 1), i % 3))
      .toDF("vec_id", "embedding", "label")
    val dir = java.nio.file.Files.createTempDirectory("graft-ivfidx").toString
    ext.Ivf.buildIndex(corpus, dir, nCells = 16)
    // the inverted file is physically partitioned by cell — the layout that
    // lets probing prune whole partitions at scan time
    val cellDirs = Option(
        new java.io.File(s"${ext.Ivf.indexDir(spark, dir)}/cells").listFiles())
      .getOrElse(Array.empty[java.io.File])
      .count(f => f.isDirectory && f.getName.startsWith("cell="))
    assert(cellDirs > 1 && cellDirs <= 16)
    val queries = corpus.where(col("vec_id") < 3)
    val fromIndex = ext.Ivf.queryIndex(dir, queries, k = 5, nProbe = 16)
      .select("query_vec_id", "vec_id", "rank").as[(Long, Long, Long)].collect().toSet
    val brute = ext.Similarity.topK(corpus, queries, k = 5)
      .select("query_vec_id", "vec_id", "rank").as[(Long, Long, Long)].collect().toSet
    assert(fromIndex == brute)
    // narrow probe: still k well-formed rows per query, scan pruned to the
    // probed cells (cheap structural check: fewer input cells than total)
    val narrow = ext.Ivf.queryIndex(dir, queries.limit(1), k = 5, nProbe = 2)
    assert(narrow.count() == 5)
  }

  test("filtered vector search: allowed-id semi-join equals brute force " +
      "over the filtered corpus; excluded ids never appear") {
    val rnd = new scala.util.Random(23)
    val corpus = (0 until 300).map(i =>
      (i.toLong, Seq.fill(16)(rnd.nextFloat() * 2 - 1), i % 3))
      .toDF("vec_id", "embedding", "label")
    val dir = java.nio.file.Files.createTempDirectory("graft-ivffilt").toString
    ext.Ivf.buildIndex(corpus, dir, nCells = 16)
    val queries = corpus.where(col("vec_id") < 3)
    val allowed = corpus.where(col("vec_id") % 2 === 0)
    val filtered = ext.Ivf.queryIndex(dir, queries, k = 5, nProbe = 16,
      allowedIds = Some(allowed))
    val got = filtered.select("query_vec_id", "vec_id", "rank", "cosine")
      .as[(Long, Long, Long, Double)].collect().toSet
    val brute = ext.Similarity.topK(allowed, queries, k = 5)
      .select("query_vec_id", "vec_id", "rank", "cosine")
      .as[(Long, Long, Long, Double)].collect().toSet
    // queries 1 (odd) is not in the allowed corpus — brute uses the same
    // query set against the filtered corpus, so the comparison is exact
    assert(got == brute)
    assert(filtered.where(col("vec_id") % 2 =!= 0).count() === 0)
    // narrow probe with a filter still returns well-formed rows
    assert(ext.Ivf.queryIndex(dir, queries.limit(1), k = 5, nProbe = 4,
      allowedIds = Some(allowed)).count() <= 5)
  }

  test("IVF append + refresh lifecycle preserves contents exactly") {
    val rnd = new scala.util.Random(23)
    val corpus = (0 until 300).map(i =>
      (i.toLong, Seq.fill(16)(rnd.nextFloat() * 2 - 1), i % 3))
      .toDF("vec_id", "embedding", "label")
    val dir = java.nio.file.Files.createTempDirectory("graft-ivfapp").toString
    ext.Ivf.buildIndex(corpus.where(col("vec_id") % 2 === 0), dir, nCells = 8)
    ext.Ivf.appendToIndex(corpus.where(col("vec_id") % 2 === 1), dir)
    // incremental index == full corpus, exactly once each
    val ids = ext.Ivf.cells(spark, dir).select("vec_id")
      .as[Long].collect().sorted
    assert(ids.toSeq == (0L until 300L))
    val queries = corpus.where(col("vec_id") < 3)
    val brute = ext.Similarity.topK(corpus, queries, k = 5)
      .select("query_vec_id", "vec_id", "rank").as[(Long, Long, Long)].collect().toSet
    assert(ext.Ivf.queryIndex(dir, queries, k = 5, nProbe = 8)
      .select("query_vec_id", "vec_id", "rank").as[(Long, Long, Long)]
      .collect().toSet == brute)
    // compaction re-learns centroids from the index itself; contents and
    // exhaustive results are unchanged, and narrow probes stay well-formed
    val centsBefore = spark.read.parquet(s"${ext.Ivf.indexDir(spark, dir)}/centroids")
      .select("cell", "centroid").as[(Int, Array[Float])].collect().toMap
    ext.Ivf.refreshIndex(dir, spark, refineIters = 2)
    val centsAfter = spark.read.parquet(s"${ext.Ivf.indexDir(spark, dir)}/centroids")
      .select("cell", "centroid").as[(Int, Array[Float])].collect().toMap
    assert(centsAfter.keySet == centsBefore.keySet)
    assert(centsAfter.exists { case (c, v) =>
      !java.util.Arrays.equals(v, centsBefore(c)) })
    assert(ext.Ivf.cells(spark, dir).select("vec_id")
      .as[Long].collect().sorted.toSeq == (0L until 300L))
    assert(ext.Ivf.queryIndex(dir, queries, k = 5, nProbe = 8)
      .select("query_vec_id", "vec_id", "rank").as[(Long, Long, Long)]
      .collect().toSet == brute)
    assert(ext.Ivf.queryIndex(dir, queries.limit(1), k = 5, nProbe = 2).count() == 5)
    // the refresh COLLAPSED the append's shard chain back into one literal
    // cells/ directory — the compaction half of the append contract
    assert(!new java.io.File(s"${ext.Ivf.indexDir(spark, dir)}/shards").exists())
  }

  test("appendBatchToIndex is exactly-once: replayed batch ids are no-ops, " +
      "the in-version record survives a lost root watermark, and the PQ " +
      "twin holds the same contract") {
    val rnd = new scala.util.Random(41)
    val corpus = (0 until 300).map(i =>
      (i.toLong, Seq.fill(16)(rnd.nextFloat() * 2 - 1), i % 3))
      .toDF("vec_id", "embedding", "label")
    val even = corpus.where(col("vec_id") % 2 === 0)
    val odd = corpus.where(col("vec_id") % 2 === 1)
    val dir = java.nio.file.Files.createTempDirectory("graft-ivfb").toString
    ext.Ivf.appendBatchToIndex(even, dir, batchId = 0, nCells = 8) // builds
    ext.Ivf.appendBatchToIndex(odd, dir, batchId = 1)              // appends
    ext.Ivf.appendBatchToIndex(odd, dir, batchId = 1)              // replay
    ext.Ivf.appendBatchToIndex(even, dir, batchId = 0)             // stale replay
    assert(ext.Ivf.cells(spark, dir).select("vec_id")
      .as[Long].collect().sorted.toSeq == (0L until 300L))
    // the crash window the protocol closes: version committed, root
    // watermark lost before it was written — the in-version batch record
    // must still veto the replay
    new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("ingest_batch_hwm.v")).foreach(_.delete())
    ext.Ivf.appendBatchToIndex(odd, dir, batchId = 1)
    assert(ext.Ivf.cells(spark, dir).count() === 300L)
    // PQ twin: same protocol, exact after full rerank
    val pqDir = java.nio.file.Files.createTempDirectory("graft-pqb").toString
    ext.Ivf.appendBatchToPqIndex(even, pqDir, batchId = 0,
      nCells = 8, m = 4, codes = 8)
    ext.Ivf.appendBatchToPqIndex(odd, pqDir, batchId = 1)
    ext.Ivf.appendBatchToPqIndex(odd, pqDir, batchId = 1)          // replay
    val queries = corpus.where(col("vec_id") < 3)
    val brute = ext.Similarity.topK(corpus, queries, k = 5)
      .select("query_vec_id", "vec_id", "rank")
      .as[(Long, Long, Long)].collect().toSet
    assert(ext.Ivf.queryPqIndex(pqDir, queries, k = 5, nProbe = 8,
        rerank = 1 << 20, rerankAgainst = Some(corpus))
      .select("query_vec_id", "vec_id", "rank")
      .as[(Long, Long, Long)].collect().toSet == brute)
  }

  test("SQ8 index: full-depth rerank is bit-identical to brute; appends " +
      "encode against frozen bounds; takedown voids ids; batch fold is " +
      "exactly-once; pure SQ8 order is near-brute") {
    val rnd = new scala.util.Random(47)
    val corpus = (0 until 300).map(i =>
      (i.toLong, Seq.fill(16)(rnd.nextFloat() * 2 - 1), i % 3))
      .toDF("vec_id", "embedding", "label")
    val queries = corpus.where(col("vec_id") < 3)
    val dir = java.nio.file.Files.createTempDirectory("graft-sq8").toString
    // build on the even half, append the odd half (frozen bounds, clamped)
    ext.Sq.buildIndex(corpus.where(col("vec_id") % 2 === 0), dir)
    ext.Sq.appendToIndex(corpus.where(col("vec_id") % 2 === 1), dir)
    def brute(c: org.apache.spark.sql.DataFrame) =
      ext.Similarity.topK(c, queries, k = 5)
        .select("query_vec_id", "vec_id", "rank", "cosine")
        .as[(Long, Long, Long, Double)].collect().toSet
    val exact = ext.Sq.queryIndex(dir, queries, k = 5,
        rerank = 1 << 20, rerankAgainst = Some(corpus))
      .select("query_vec_id", "vec_id", "rank", "cosine")
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(exact == brute(corpus)) // exact doubles: same fold, same ties
    // pure SQ8 (no rerank): high-fidelity — recall@5 vs brute well past PQ
    val approx = ext.Sq.queryIndex(dir, queries, k = 5)
      .select("query_vec_id", "vec_id").as[(Long, Long)].collect().toSet
    val hits = brute(corpus).count(r => approx((r._1, r._2)))
    assert(hits >= 12, s"SQ8 recall@5 too low: $hits/15") // ≥0.8
    // takedown: removed ids vanish; full rerank equals brute over survivors
    assert(ext.Sq.removeFromIndex(dir,
      corpus.where(col("vec_id") >= 150 && col("vec_id") < 160)
        .select("vec_id")) === 10L)
    val after = ext.Sq.queryIndex(dir, queries, k = 5,
        rerank = 1 << 20, rerankAgainst = Some(corpus))
      .select("query_vec_id", "vec_id", "rank", "cosine")
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(after == brute(corpus.where(col("vec_id") < 150 ||
      col("vec_id") >= 160)))
    // exactly-once batch fold on a fresh index
    val dir2 = java.nio.file.Files.createTempDirectory("graft-sq8b").toString
    val even = corpus.where(col("vec_id") % 2 === 0)
    val odd = corpus.where(col("vec_id") % 2 === 1)
    ext.Sq.appendBatchToIndex(even, dir2, batchId = 0) // builds
    ext.Sq.appendBatchToIndex(odd, dir2, batchId = 1)
    ext.Sq.appendBatchToIndex(odd, dir2, batchId = 1)  // replay: no-op
    ext.Sq.appendBatchToIndex(even, dir2, batchId = 0) // stale: no-op
    assert(ext.Sq.queryIndex(dir2, queries, k = 5,
        rerank = 1 << 20, rerankAgainst = Some(corpus))
      .select("query_vec_id", "vec_id", "rank", "cosine")
      .as[(Long, Long, Long, Double)].collect().toSet == brute(corpus))
  }

  test("refreshIndex crash before pointer commit leaves queries on the old complete version") {
    val rnd = new scala.util.Random(29)
    val corpus = (0 until 200).map(i =>
      (i.toLong, Seq.fill(16)(rnd.nextFloat() * 2 - 1)))
      .toDF("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("graft-ivfcrash").toString
    ext.Ivf.buildIndex(corpus, dir, nCells = 8)
    val queries = corpus.where(col("vec_id") < 3)
    def results() = ext.Ivf.queryIndex(dir, queries, k = 5, nProbe = 8)
      .select("query_vec_id", "vec_id", "rank").as[(Long, Long, Long)].collect().toSet
    val before = results()
    val dirBefore = ext.Ivf.indexDir(spark, dir)
    // crash injected at the worst instant: the new version's tables are
    // fully on disk, the CURRENT pointer has not moved
    ext.Ivf.refreshIndexImpl(dir, spark, refineIters = 2, crashBeforeCommit = true)
    assert(ext.Ivf.indexDir(spark, dir) == dirBefore) // pointer untouched
    assert(results() == before) // old version served, bit-identical
    // recovery = simply re-running the refresh (the orphaned dir is
    // overwritten by the retry's version write)
    ext.Ivf.refreshIndex(dir, spark, refineIters = 2)
    assert(ext.Ivf.indexDir(spark, dir) != dirBefore)
    assert(results() == before) // exhaustive probing: still exact
    // RETENTION: the superseded version is retired, NOT reclaimed — a
    // reader that resolved it mid-refresh (or pins it) still completes
    assert(ext.Ivf.queryIndex(dir, queries, k = 5, nProbe = 8,
        asOfVersion = Some(1L))
      .select("query_vec_id", "vec_id", "rank").as[(Long, Long, Long)]
      .collect().toSet == before)
    // explicit vacuum past retention reclaims it; the pinned read then
    // fails LOUDLY (marker kept as the audit trail), never serves v2 data
    ext.Ivf.vacuumIndex(spark, dir, retainVersions = 1)
    val versionDirs = Option(new java.io.File(dir).listFiles())
      .getOrElse(Array.empty[java.io.File])
      .filter(f => f.isDirectory && f.getName.matches("v\\d+"))
    assert(versionDirs.length == 1)
    val e = intercept[IllegalStateException](
      ext.Ivf.queryIndex(dir, queries, k = 5, nProbe = 8,
        asOfVersion = Some(1L)).collect())
    assert(e.getMessage.contains("reclaimed"))
    intercept[IllegalArgumentException](
      ext.Ivf.queryIndex(dir, queries, k = 5, nProbe = 8,
        asOfVersion = Some(99L)).collect())
    assert(results() == before) // live reads untouched by the vacuum
  }

  test("IVF append chain: shard-manifest versions share parent cells; " +
      "vacuum keeps referenced ancestors; stale rerank corpus fails fast") {
    val rnd = new scala.util.Random(31)
    def mk(lo: Int, hi: Int) = (lo until hi).map(i =>
      (i.toLong, Seq.fill(16)(rnd.nextFloat() * 2 - 1), i % 3))
      .toDF("vec_id", "embedding", "label")
    val base = mk(0, 120)
    val dir = java.nio.file.Files.createTempDirectory("graft-ivfchain").toString
    ext.Ivf.buildPqIndex(base, dir, nCells = 8, m = 4, codes = 8)
    val s1 = mk(120, 160)
    val s2 = mk(160, 200)
    ext.Ivf.appendToPqIndex(s1, dir)
    ext.Ivf.appendToPqIndex(s2, dir)
    // v3's manifest references v1's and v2's shards — the big code shards
    // were written once each, never rewritten by the appends
    val shards = java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$dir/v3/shards")).split('\n').toSeq
    assert(shards == Seq("v1/cells", "v2/cells", "v3/cells"))
    assert(ext.Ivf.cells(spark, dir).select("vec_id")
      .as[Long].collect().sorted.toSeq == (0L until 200L))
    // exhaustive probe + full-depth rerank over the chain == brute force
    val all = base.unionByName(s1).unionByName(s2)
    val queries = base.where(col("vec_id") < 3)
    val viaIdx = ext.Ivf.queryPqIndex(dir, queries, k = 5, nProbe = 8,
        rerank = 1000, rerankAgainst = Some(all))
      .select("query_vec_id", "vec_id", "rank").as[(Long, Long, Long)].collect().toSet
    val brute = ext.Similarity.topK(all, queries, k = 5)
      .select("query_vec_id", "vec_id", "rank").as[(Long, Long, Long)].collect().toSet
    assert(viaIdx == brute)
    // a STALE rerank corpus (pre-append) no longer silently drops the
    // appended candidates — the coverage guard fails the query loudly
    val stale = intercept[Exception](
      ext.Ivf.queryPqIndex(dir, queries, k = 5, nProbe = 8,
        rerank = 1000, rerankAgainst = Some(base)).collect())
    assert(stale.getMessage.contains("missing from the rerank corpus") ||
      Option(stale.getCause).exists(_.getMessage.contains("missing from the rerank corpus")))
    // vacuum retaining only the NEWEST version must keep v1/v2 dirs alive:
    // v3's shard manifest references them
    ext.Ivf.vacuumIndex(spark, dir, retainVersions = 1)
    assert(new java.io.File(s"$dir/v1/cells").exists())
    assert(new java.io.File(s"$dir/v2/cells").exists())
    assert(ext.Ivf.cells(spark, dir).count() == 200L)
    // label-optional query surface: no `label` column in, none out
    val noLabel = ext.Ivf.queryPqIndex(dir,
      queries.select("vec_id", "embedding"), k = 5, nProbe = 8)
    assert(!noLabel.columns.contains("label"))
    assert(noLabel.groupBy("query_vec_id").count()
      .select("count").as[Long].collect().forall(_ == 5L))
  }

  test("IVF probing fewer cells returns k well-formed results per query") {
    val rnd = new scala.util.Random(13)
    val corpus = (0 until 300).map(i =>
      (i.toLong, Seq.fill(16)(rnd.nextFloat() * 2 - 1))).toDF("vec_id", "embedding")
    val out = ext.Ivf.ivfTopK(corpus, corpus.where(col("vec_id") === 0), k = 5,
      nCells = 16, nProbe = 4).collect()
    assert(out.length == 5)
    assert(out.map(_.getAs[Long]("rank")).sorted.toSeq == Seq(1L, 2L, 3L, 4L, 5L))
    val cosines = out.sortBy(_.getAs[Long]("rank")).map(_.getAs[Double]("cosine"))
    assert(cosines.zip(cosines.tail).forall { case (a, b) => a >= b })
  }

  test("codegen rolling hash is bit-identical to the declarative per-char fold") {
    val docs = Seq(
      "the quick brown fox", "", "a", "的是不了在人有我", // CJK code points
      "mixed ascii 和 中文 text", "x" * 500)
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val both = docs.select(
      ext.Text.docHash(col("text")).as("fast"),
      ext.Text.docHashFold(col("text")).as("ref")).collect()
    both.foreach(r => assert(r.getLong(0) == r.getLong(1), r.toString))
    // null text: declarative fold gives 0 via its guard, docHash coalesces
    val nulls = Seq((1L, null: String)).toDF("doc_id", "text")
      .select(ext.Text.docHash(col("text")).as("fast"),
        ext.Text.docHashFold(col("text")).as("ref")).collect().head
    assert(nulls.getLong(0) == 0L && nulls.getLong(1) == 0L)
  }

  test("rolling hash ≡ declarative fold on 200 random strings incl. CJK and non-BMP") {
    val rnd = new scala.util.Random(23)
    // pool spans 1-byte ASCII, multi-byte BMP (CJK), and a non-BMP code
    // point (surrogate pair in Java) — pins the code-point iteration of
    // the generated loop against substring/ascii semantics
    val pool: IndexedSeq[String] =
      "abc XYZ09.,!".map(_.toString) ++ "的是不了在人".map(_.toString) :+
        new String(Character.toChars(0x1D11E)) // kept whole: one code point
    def randStr(): String =
      (0 until rnd.nextInt(60)).map(_ => pool(rnd.nextInt(pool.length))).mkString
    val docs = (0 until 200).map(i => (i.toLong, randStr())).toDF("doc_id", "text")
    val rows = docs.select(ext.Text.docHash(col("text")).as("fast"),
      ext.Text.docHashFold(col("text")).as("ref")).collect()
    rows.foreach(r => assert(r.getLong(0) == r.getLong(1)))
  }

  test("SQL functions registered via GraftExtensions match the Column API") {
    GraftExtensions.register(spark)
    val rnd = new scala.util.Random(29)
    val rows = (0 until 50).map { i =>
      (i.toLong, Seq.fill(16)(rnd.nextFloat() * 2 - 1), Seq.fill(16)(rnd.nextFloat() * 2 - 1))
    }
    rows.toDF("id", "a", "b").createOrReplaceTempView("graft_ext_vecs")
    val viaSql = spark.sql(
      """SELECT id, graft_dot_product(a, b) AS d, graft_cosine(a, b) AS c
        |FROM graft_ext_vecs""".stripMargin)
    val viaCols = rows.toDF("id", "a", "b").select(col("id"),
      ext.Similarity.dot(col("a"), col("b")).as("d"),
      ext.Similarity.cosine(col("a"), col("b")).as("c"))
    assert(viaSql.exceptAll(viaCols).count() == 0) // bitwise-equal doubles
    assert(viaCols.exceptAll(viaSql).count() == 0)
  }

  test("fused cosine is bit-identical to the composed dot/norm form") {
    val rnd = new scala.util.Random(23)
    val rows = (0 until 300).map { i =>
      (i.toLong, Seq.fill(48)(rnd.nextFloat() * 2 - 1), Seq.fill(48)(rnd.nextFloat() * 2 - 1))
    }
    val df = rows.toDF("id", "a", "b")
    val diff = df.select(
        ext.Similarity.cosine(col("a"), col("b")).as("fused"),
        ext.Similarity.cosineComposed(col("a"), col("b")).as("composed"))
      .where(col("fused") =!= col("composed")) // bitwise-equal doubles compare equal
      .count()
    assert(diff == 0)
  }

  test("type mismatch is rejected at analysis") {
    val df = Seq((Seq(1, 2), Seq(1.0, 2.0))).toDF("a", "b")
    assertThrows[org.apache.spark.sql.AnalysisException](
      df.select(ext.Similarity.dot(col("a"), col("b"))).collect())
  }

  test("k-means refinement keeps exhaustive IVF ≡ brute and does not worsen the cosine objective") {
    val rnd = new scala.util.Random(17)
    // two gaussian blobs so refinement has structure to find
    val corpus = (0 until 400).map { i =>
      val center = if (i % 2 == 0) 1.0f else -1.0f
      (i.toLong, Seq.fill(8)(center + rnd.nextFloat() * 0.3f), i % 2)
    }.toDF("vec_id", "embedding", "label")
    // the objective spherical k-means alternately maximizes: Σᵢ max over
    // cells of cos(xᵢ, c). Both refinement steps are ascent steps on THIS
    // quantity (assignment picks the argmax cell; the normalized mean of
    // unit vectors is the closed-form best centroid for a fixed
    // assignment), so non-decrease is a guarantee, not a fixture accident;
    // the epsilon absorbs float-summation nondeterminism in avg().
    def objective(cents: Array[(Int, Array[Float])]): Double = {
      val rows = corpus.select(col("vec_id"), col("embedding"))
        .as[(Long, Seq[Float])].collect()
      rows.map { case (_, v) =>
        val vn = math.sqrt(v.map(x => x.toDouble * x).sum)
        cents.map { case (_, c) =>
          val cn = math.sqrt(c.map(x => x.toDouble * x).sum)
          v.zip(c).map { case (a, b) => a.toDouble * b }.sum / (vn * cn)
        }.max
      }.sum
    }
    val seeds = ext.Ivf.centroids(corpus, nCells = 4)
    val refined = ext.Ivf.refineCentroids(corpus, seeds, iters = 3)
    assert(objective(refined) >= objective(seeds) - 1e-6)
    // exhaustive probing is partition-independent: refined cells still
    // reproduce brute force exactly
    val queries = corpus.where(col("vec_id") < 2)
    val viaRefined = ext.Ivf.ivfTopK(corpus, queries, k = 5,
        nCells = 4, nProbe = 4, refineIters = 2)
      .select("query_vec_id", "vec_id", "rank").as[(Long, Long, Long)].collect().toSet
    val brute = ext.Similarity.topK(corpus, queries, k = 5)
      .select("query_vec_id", "vec_id", "rank").as[(Long, Long, Long)].collect().toSet
    assert(viaRefined == brute)
  }

  test("IVF queries probe the live version's centroids after append, " +
      "refresh and a rebuild at the same path") {
    val n = 6
    // six distinct directions; every corpus vector becomes a centroid
    // (nCells = corpus size), so each cell holds its own centroid's vector
    val base = (0 until n).map(i => Array.tabulate(n)(j =>
      if (j == i) 1.0f else 0.02f * ((i + j) % n)))
    def corpus(vec: Int => Array[Float]) =
      (0 until n).map(i => (i.toLong, vec(i))).toDF("vec_id", "embedding")
    def cos(a: Array[Float], b: Array[Float]): Double = {
      def dot(x: Array[Float], y: Array[Float]) =
        x.indices.map(i => x(i).toDouble * y(i)).sum
      dot(a, b) / math.sqrt(dot(a, a) * dot(b, b))
    }
    val dir = java.nio.file.Files.createTempDirectory("graft-ivfmemo").toString
    def top1(q: Array[Float]): Long =
      ext.Ivf.queryIndex(dir, Seq((-1L, q)).toDF("vec_id", "embedding"), k = 1,
        nProbe = 1).select("vec_id").as[Long].collect().head
    // the answer a one-cell probe gives under the centroids on disk
    def expected(q: Array[Float]): Long = {
      val d = ext.Ivf.indexDir(spark, dir)
      val cell = spark.read.parquet(s"$d/centroids").select("cell", "centroid")
        .as[(Int, Array[Float])].collect()
        .minBy { case (c, v) => (-cos(q, v), c) }._1
      ext.Ivf.cells(spark, dir).where(col("cell") === cell)
        .select("vec_id", "embedding").as[(Long, Array[Float])].collect()
        .minBy { case (id, v) => (-cos(q, v), id) }._1
    }
    val queries = base.map(_.map(_ * 0.9f))
    ext.Ivf.buildIndex(corpus(base), dir, nCells = n)
    queries.zipWithIndex.foreach { case (q, i) => assert(top1(q) == i) }
    ext.Ivf.appendBatchToIndex(
      Seq((100L, base(2).map(_ + 0.01f))).toDF("vec_id", "embedding"), dir, 1L)
    queries.foreach(q => assert(top1(q) == expected(q)))
    ext.Ivf.refreshIndex(dir, spark, refineIters = 2)
    queries.foreach(q => assert(top1(q) == expected(q)))
    // the same ids with their vectors rotated by three, rebuilt at v1 of
    // the same path: the old centroid of cell c now fronts a cell holding
    // another direction, so a stale table would answer with the wrong id
    val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
    try walk.sorted(java.util.Comparator.reverseOrder())
      .forEach(p => java.nio.file.Files.delete(p))
    finally walk.close()
    ext.Ivf.buildIndex(corpus(i => base((i + 3) % n)), dir, nCells = n)
    assert(ext.Ivf.indexDir(spark, dir).endsWith("/v1"))
    queries.zipWithIndex.foreach { case (q, i) =>
      assert(top1(q) == (i + n - 3) % n)
      assert(top1(q) == expected(q))
    }
  }
}
