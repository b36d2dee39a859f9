package graft

import org.apache.spark.sql.functions._

/** BM25 keyword search + reciprocal-rank fusion (ext.Search). */
class SearchSpec extends SparkSpec {
  import spark.implicits._

  private def corpus = Seq(
    (0L, "cat dog cat fish"),
    (1L, "dog dog dog"),
    (2L, "fish fish cat cat cat cat"),
    (3L, "bird bird bird bird"),
    (4L, "cat")
  ).toDF("doc_id", "text")

  /** Scala model of the pinned scoring contract — the same IEEE ops in the
    * same order as Search.bm25's Column expression. */
  private def model(terms: Seq[String]): Map[Long, Double] = {
    val docs = Seq(
      0L -> Seq("cat", "dog", "cat", "fish"),
      1L -> Seq("dog", "dog", "dog"),
      2L -> Seq("fish", "fish", "cat", "cat", "cat", "cat"),
      3L -> Seq("bird", "bird", "bird", "bird"),
      4L -> Seq("cat"))
    val nDocs = docs.size.toLong
    val totalDl = docs.map(_._2.size.toLong).sum
    val avgdl = totalDl.toDouble / nDocs.toDouble
    val df = terms.map(t => t -> docs.count(_._2.contains(t)).toLong).toMap
    docs.map { case (id, toks) =>
      val dl = toks.size.toLong
      val score = terms.distinct.sorted.map { t =>
        val tf = toks.count(_ == t).toLong.toDouble
        val idf = ((nDocs - df(t)).toDouble + 0.5) / (df(t).toDouble + 0.5)
        val norm = 1.2 * ((1.0 - 0.75) + (0.75 * dl.toDouble) / avgdl)
        (idf * (tf * (1.2 + 1.0))) / (tf + norm)
      }.reduceLeft(_ + _)
      id -> score
    }.toMap
  }

  test("bm25 scores match the scalar model bit-for-bit") {
    val got = ext.Search.bm25(corpus, Seq("q" -> Seq("cat", "fish")), topK = 10)
      .select("doc_id", "score").as[(Long, Double)].collect().toMap
    val want = model(Seq("cat", "fish")).filter(_._2 > 0)
    assert(got == want) // exact double equality: same IEEE fold on both sides
  }

  test("bm25 excludes zero-score docs, ranks are contiguous, topK truncates") {
    val r = ext.Search.bm25(corpus, Seq("q" -> Seq("dog")), topK = 10)
      .orderBy("rank").select("rank", "doc_id").as[(Long, Long)].collect()
    // docs 0 and 1 contain "dog"; 1 has higher tf (and shorter dl) → rank 1
    assert(r.toSeq == Seq((1L, 1L), (2L, 0L)))
    val truncated = ext.Search.bm25(corpus, Seq("q" -> Seq("cat")), topK = 2)
    assert(truncated.count() == 2)
  }

  test("bm25 rare term outranks common term under idf") {
    // "bird" appears only in doc 3; a (bird, cat) query must put doc 3 first
    // even though "cat" matches more docs overall
    val top = ext.Search.bm25(corpus, Seq("q" -> Seq("bird", "cat")), topK = 1)
      .select("doc_id").as[Long].head()
    assert(top == 3L)
  }

  test("bm25 scores several queries in one pass with independent ranks") {
    val r = ext.Search.bm25(corpus,
      Seq("qa" -> Seq("cat"), "qb" -> Seq("dog")), topK = 10)
    val byQ = r.select("query_id", "doc_id").as[(String, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(byQ("qa") == Set(0L, 2L, 4L))
    assert(byQ("qb") == Set(0L, 1L))
  }

  test("bm25 validates query ids and shapes") {
    intercept[IllegalArgumentException] {
      ext.Search.bm25(corpus, Seq.empty)
    }
    intercept[IllegalArgumentException] {
      ext.Search.bm25(corpus, Seq("bad id" -> Seq("cat")))
    }
    intercept[IllegalArgumentException] {
      ext.Search.bm25(corpus, Seq("q" -> Seq.empty))
    }
    intercept[IllegalArgumentException] {
      ext.Search.bm25(corpus, Seq("q" -> Seq("cat"), "q" -> Seq("dog")))
    }
  }

  test("rrfFuse full-outer semantics: one-sided docs still compete") {
    val a = Seq((10L, 1L), (11L, 2L), (12L, 3L)).toDF("doc_id", "rank")
    val b = Seq((11L, 1L), (13L, 2L)).toDF("doc_id", "rank")
    val r = ext.Search.rrfFuse(a, b, kRrf = 60, topK = 10)
      .orderBy("rank")
      .select("rank", "doc_id", "rrf_score")
      .as[(Long, Long, Double)].collect()
    // doc 11: both sides → 1/62 + 1/61; doc 10: 1/61; doc 13: 1/62; doc 12: 1/63
    val want = Seq(
      (1L, 11L, 1.0 / 62L.toDouble + 1.0 / 61L.toDouble),
      (2L, 10L, 1.0 / 61L.toDouble),
      (3L, 13L, 1.0 / 62L.toDouble),
      (4L, 12L, 1.0 / 63L.toDouble))
    assert(r.toSeq == want)
  }

  test("rrfFuse preserves source ranks for attribution and truncates") {
    val a = Seq((10L, 1L)).toDF("doc_id", "rank")
    val b = Seq((20L, 1L), (21L, 2L)).toDF("doc_id", "rank")
    val r = ext.Search.rrfFuse(a, b, kRrf = 60, topK = 2)
    assert(r.count() == 2)
    val row = r.where(col("doc_id") === 10L)
      .select("rank_a", "rank_b").collect().head
    assert(row.getLong(0) == 1L && row.isNullAt(1))
  }

  private def asRows(df: org.apache.spark.sql.DataFrame) =
    df.select("query_id", "rank", "doc_id", "score", "dl")
      .as[(String, Long, Long, Double, Long)].collect().toSet

  test("index-served BM25 is bit-identical to the one-pass scan") {
    val path = java.nio.file.Files.createTempDirectory("graft-bm25idx").toString
    ext.Search.buildIndex(corpus, path)
    val qs = Seq("qa" -> Seq("cat", "fish"), "qb" -> Seq("dog", "bird"))
    val fromIndex = ext.Search.queryIndex(spark, path, qs, topK = 10)
    val fromScan = ext.Search.bm25(corpus, qs, topK = 10)
    assert(asRows(fromIndex) == asRows(fromScan))
    assert(fromIndex.count() > 0)
  }

  test("index append composes: query over two shards equals scan over the union") {
    val path = java.nio.file.Files.createTempDirectory("graft-bm25idx2").toString
    val shard1 = corpus.where(col("doc_id") < 3)
    val shard2 = corpus.where(col("doc_id") >= 3)
    ext.Search.buildIndex(shard1, path)
    val v1 = ext.Search.indexDir(spark, path)
    ext.Search.appendToIndex(shard2, path)
    val qs = Seq("q" -> Seq("cat", "bird"))
    assert(asRows(ext.Search.queryIndex(spark, path, qs, topK = 10)) ==
      asRows(ext.Search.bm25(corpus, qs, topK = 10)))
    // pinned pre-append read still serves shard 1's world exactly
    assert(asRows(ext.Search.queryIndex(spark, path, qs, topK = 10,
        asOfVersion = Some(1L))) ==
      asRows(ext.Search.bm25(shard1, qs, topK = 10)))
    assert(v1.endsWith("/v1"))
  }

  test("index takedown: removed docs stop being retrievable and surviving " +
    "scores are as-if-rebuilt (df, N, avgdl all forget the dead docs)") {
    val path = java.nio.file.Files.createTempDirectory("graft-bm25take").toString
    ext.Search.buildIndex(corpus, path)
    val qs = Seq("q" -> Seq("cat", "dog", "bird"))
    assert(ext.Search.removeFromIndex(path,
      Seq(1L, 3L).toDF("doc_id")) === 2L)
    // bit-identical to a FRESH BUILD over the survivors — a filter-only
    // implementation would keep the dead docs inside df/N/avgdl and the
    // surviving scores would drift
    assert(asRows(ext.Search.queryIndex(spark, path, qs, topK = 10)) ==
      asRows(ext.Search.bm25(
        corpus.where(!col("doc_id").isin(1L, 3L)), qs, topK = 10)))
    // pinned pre-takedown read still serves the full corpus
    assert(asRows(ext.Search.queryIndex(spark, path, qs, topK = 10,
        asOfVersion = Some(1L))) ==
      asRows(ext.Search.bm25(corpus, qs, topK = 10)))
    // re-removing already-dead ids is a no-op (nothing published)
    val vBefore = ext.Search.indexDir(spark, path)
    assert(ext.Search.removeFromIndex(path, Seq(1L).toDF("doc_id")) === 0L)
    assert(ext.Search.indexDir(spark, path) === vBefore)
    // an append AFTER the takedown carries both the tombstones and the
    // stats adjustment forward
    val extra = Seq((10L, "bird cat cat")).toDF("doc_id", "text")
    ext.Search.appendToIndex(extra, path)
    assert(asRows(ext.Search.queryIndex(spark, path, qs, topK = 10)) ==
      asRows(ext.Search.bm25(
        corpus.where(!col("doc_id").isin(1L, 3L)).unionByName(extra),
        qs, topK = 10)))
  }

  test("appendBatchToIndex: replayed micro-batches fold in exactly once; " +
    "a double-append would corrupt df and scores") {
    val path = java.nio.file.Files.createTempDirectory("graft-bm25sb").toString
    val shard1 = corpus.where(col("doc_id") < 3)
    val shard2 = corpus.where(col("doc_id") >= 3)
    ext.Search.appendBatchToIndex(shard1, path, batchId = 0L) // first = build
    ext.Search.appendBatchToIndex(shard2, path, batchId = 1L)
    ext.Search.appendBatchToIndex(shard2, path, batchId = 1L) // replay: no-op
    ext.Search.appendBatchToIndex(shard1, path, batchId = 0L) // stale: no-op
    val qs = Seq("q" -> Seq("cat", "bird"))
    assert(asRows(ext.Search.queryIndex(spark, path, qs, topK = 10)) ==
      asRows(ext.Search.bm25(corpus, qs, topK = 10)))
    // a second replay is vetoed as well
    ext.Search.appendBatchToIndex(shard2, path, batchId = 1L)
    assert(asRows(ext.Search.queryIndex(spark, path, qs, topK = 10)) ==
      asRows(ext.Search.bm25(corpus, qs, topK = 10)))
    // and the OTHER half of the window: an UNCOMMITTED version directory
    // carrying a batch record (crash before commit) must not suppress the
    // replay — the replay re-appends into a fresh committed version.
    val path2 = java.nio.file.Files.createTempDirectory("graft-bm25sb2").toString
    ext.Search.appendBatchToIndex(shard1, path2, batchId = 0L)
    val io2 = graft.ext.VersionedIndex.io(spark, path2)
    io2.mkdirs(s"$path2/v2")
    io2.writeString(s"$path2/v2/ingest_batch_id", "1") // orphan, no marker
    ext.Search.appendBatchToIndex(shard2, path2, batchId = 1L)
    assert(asRows(ext.Search.queryIndex(spark, path2, qs, topK = 10)) ==
      asRows(ext.Search.bm25(corpus, qs, topK = 10)))
  }

  test("vacuumIndex reclaims superseded versions; pinned reads past " +
    "retention fail loudly") {
    val path = java.nio.file.Files.createTempDirectory("graft-bm25vac").toString
    ext.Search.buildIndex(corpus.where(col("doc_id") < 3), path)
    ext.Search.appendToIndex(corpus.where(col("doc_id") >= 3), path)
    // retention 1 keeps only v2 — but v2's shard manifest references v1's
    // data root, so the referenced data survives and the live query works
    ext.Search.vacuumIndex(spark, path, retainVersions = 1)
    val qs = Seq("q" -> Seq("cat", "bird"))
    assert(asRows(ext.Search.queryIndex(spark, path, qs, topK = 10)) ==
      asRows(ext.Search.bm25(corpus, qs, topK = 10)))
    // the v1 version DIRECTORY may be retained (its data root is still
    // referenced); if vacuum reclaimed it, the pinned read must fail
    // loudly rather than serve a thinner corpus
    try {
      val pinned = ext.Search.queryIndex(spark, path, qs, topK = 10,
        asOfVersion = Some(1L))
      assert(asRows(pinned) ==
        asRows(ext.Search.bm25(corpus.where(col("doc_id") < 3), qs, topK = 10)))
    } catch {
      case e: IllegalStateException => assert(e.getMessage.contains("reclaimed"))
    }
  }

  test("queryIndex pushes the term predicate into the postings scan") {
    val path = java.nio.file.Files.createTempDirectory("graft-bm25idx3").toString
    ext.Search.buildIndex(corpus, path)
    val plan = ext.Search.queryIndex(spark, path, Seq("q" -> Seq("cat", "dog")))
      .queryExecution.executedPlan.toString
    // the postings scan must carry the term filter as a parquet pushed
    // filter (row-group min/max pruning on the term-sorted layout) — a
    // scan reading the whole vocabulary for a 2-term query is wrong
    val postingsScans = plan.linesIterator
      .filter(l => l.contains("postings") && l.contains("PushedFilters"))
      .toSeq
    assert(postingsScans.nonEmpty)
    assert(postingsScans.forall(l => l.contains("In(term") ||
      l.contains("EqualTo(term")), s"term filter not pushed:\n$plan")
  }

  test("bm25Batch (DataFrame query set) is bit-identical to the Seq path") {
    val qs = Seq("qa" -> Seq("cat", "fish"), "qb" -> Seq("dog", "bird"))
    val seqRows = ext.Search.bm25(corpus, qs, topK = 10)
      .collect().map(_.toSeq).toSet
    val batchRows = ext.Search.bm25Batch(corpus,
      qs.toDF("query_id", "terms"), topK = 10)
      .collect().map(_.toSeq).toSet
    assert(batchRows == seqRows) // exact doubles: same pinned IEEE fold
    // duplicate terms in the array dedup exactly like the Seq path
    val dup = ext.Search.bm25Batch(corpus,
      Seq(("qa", Seq("cat", "cat", "fish"))).toDF("query_id", "terms"),
      topK = 10).collect().map(_.toSeq).toSet
    assert(dup == ext.Search.bm25(corpus, Seq("qa" -> Seq("cat", "fish")),
      topK = 10).collect().map(_.toSeq).toSet)
  }

  test("bm25Batch honors custom column names on both sides") {
    val docs2 = corpus.withColumnRenamed("doc_id", "id")
      .withColumnRenamed("text", "body")
    val got = ext.Search.bm25Batch(docs2,
      Seq(("qa", Seq("cat", "fish"))).toDF("qid", "qterms"),
      topK = 10, textCol = "body", idCol = "id",
      queryIdCol = "qid", termsCol = "qterms")
      .collect().map(_.toSeq).toSet
    assert(got == ext.Search.bm25(corpus, Seq("qa" -> Seq("cat", "fish")),
      topK = 10).collect().map(_.toSeq).toSet)
  }

  test("queryIndexBatch serves a DataFrame query set bit-identical to the " +
    "scan, including past the literal-vocab bound") {
    val path = java.nio.file.Files.createTempDirectory("graft-bm25b").toString
    ext.Search.buildIndex(corpus, path)
    val qs = Seq("qa" -> Seq("cat", "fish"), "qb" -> Seq("dog"))
    val scan = ext.Search.bm25(corpus, qs, topK = 10)
      .collect().map(_.toSeq).toSet
    val served = ext.Search.queryIndexBatch(spark, path,
      qs.toDF("query_id", "terms"), topK = 10)
      .collect().map(_.toSeq).toSet
    assert(served == scan)
    // >1024 distinct terms forces the semi-join fallback (no literal IN);
    // the off-vocabulary padding terms must not move any score
    val padded = Seq(
      ("qa", Seq("cat", "fish") ++ (0 until 1100).map(i => s"zz$i")),
      ("qb", Seq("dog"))).toDF("query_id", "terms")
    val wide = ext.Search.queryIndexBatch(spark, path, padded, topK = 10)
      .collect().map(_.toSeq).toSet
    assert(wide == scan)
  }

  test("bm25 corpus text never shuffles: only slim rank rows reach an Exchange") {
    val plan = ext.Search.bm25(corpus, Seq("q" -> Seq("cat")), topK = 5)
      .queryExecution.executedPlan.toString
    // the token array / text column must not appear below any Exchange —
    // pin the slim-shuffle shape by checking no exchange carries _toks
    assert(!plan.contains("_toks") ||
      !plan.linesIterator.exists(l => l.contains("Exchange") && l.contains("_toks")))
  }
}
