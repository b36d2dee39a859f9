package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-prep narrow ops: PII scrubbing, context-window chunking,
  * deterministic stratified sampling, and token-budget sequence packing
  * (the two-level prefix scan vs its naive single-window formulation).
  */
class CorpusOpsSpec extends SparkSpec {

  import ext.{Pack, Text}

  private def docsDF(rows: Seq[(Long, String, String)]) = {
    import spark.implicits._
    rows.toDF("doc_id", "text", "lang")
  }

  test("heavy hitters: exact counts, strict threshold, null-blind, " +
      "invariant under partitioning, tiny-k sketch still exact") {
    import spark.implicits._
    // skewed synthetic stream: value i appears 2^(9-i) times (i=0..9) plus
    // a long uniform tail of singletons and some NULLs
    val rows = (0 until 10).flatMap(i => Seq.fill(1 << (9 - i))(s"v$i")) ++
      (0 until 300).map(i => s"tail$i") ++ Seq.fill(25)(null: String)
    val n = rows.count(_ != null)
    def brute(k: Int) = rows.filter(_ != null).groupBy(identity)
      .map { case (v, g) => v -> g.size.toLong }
      .filter { case (_, c) => c * k > n }
    for (parts <- Seq(1, 3, 13); k <- Seq(2, 5, 40, 1000)) {
      val df = spark.sparkContext.parallelize(
        scala.util.Random.shuffle(rows), parts).toDF("v")
      val got = operators.HeavyHitters.exact(df, "v", k).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(got === brute(k), s"parts=$parts k=$k")
    }
    // strict >: a value at exactly n/k must NOT be reported
    val even = (Seq.fill(25)("hot") ++ (0 until 75).map(i => s"t$i")).toDF("v")
    val border = operators.HeavyHitters.exact(even, "v", 4).collect()
    assert(border.isEmpty, "count == n/k must not pass the strict threshold")
    assert(operators.HeavyHitters.exact(even.limit(0), "v", 4).collect().isEmpty)
  }

  test("vocab build + id mapping: frequency rank with alphabetical " +
      "tie-break, OOV id 0, token order preserved") {
    val docs = docsDF(Seq(
      (1L, "b b b a a c c zz a", "en"),  // a:3 b:3 c:2 zz:1
      (2L, "c a qq b", "en")))           // a:4 b:4 c:3 total; qq/zz singles
    val vocab = Text.buildVocab(docs, v = 3).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // a and b tie at 4 -> alphabetical; c third; singles cut by v=3
    assert(vocab === Map("a" -> 1L, "b" -> 2L, "c" -> 3L))
    val mapped = Text.mapToIds(docs, Text.buildVocab(docs, v = 3))
    val plan = mapped.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      "vocab lookup must broadcast the vocabulary")
    val ids = mapped.collect().map(r =>
      r.getLong(0) -> r.getSeq[Long](1).toList).toMap
    assert(ids(1L) === List(2L, 2L, 2L, 1L, 1L, 3L, 3L, 0L, 1L))
    assert(ids(2L) === List(3L, 1L, 0L, 2L))
  }

  test("withIds stateless projection is row-identical to the join-based " +
      "mapToIds, and rejects a vocab claiming the OOV id") {
    val docs = docsDF(Seq(
      (1L, "b b b a a c c zz a", "en"), (2L, "c a qq b", "en"),
      (3L, "zz zz zz", "en")))
    val vocabDf = Text.buildVocab(docs, v = 3)
    val vocab = vocabDf.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val viaJoin = Text.mapToIds(docs, vocabDf).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toList).toMap
    val viaLit = Text.withIds(docs, vocab).select("doc_id", "ids").collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toList).toMap
    assert(viaLit === viaJoin)
    intercept[IllegalArgumentException] {
      Text.withIds(docs, Map("a" -> 0L))
    }
  }

  test("boilerplateShare: exact hot/total gram counts, gramless docs " +
      "surface with zeros, hitter join broadcasts") {
    import spark.implicits._
    val docs = docsDF(Seq(
      (1L, "a b a b c d", "en"),   // grams a_b b_a a_b b_c c_d
      (2L, "x", "en"),             // no grams
      (3L, "a b", "en")))          // one gram a_b
    val hitters = Seq("a_b", "b_a").toDF("ngram")
    val out = Text.boilerplateShare(docs, hitters)
    assert(out.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"))
    val rows = out.select("doc_id", "n_grams", "hot").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(rows === Map(1L -> ((5L, 3L)), 2L -> ((0L, 0L)), 3L -> ((1L, 1L))))
  }

  test("profile: exact per-column stats in one scan, numeric min/max only, " +
      "approx arm keeps the schema") {
    import spark.implicits._
    val df = Seq(
      (1L, Some(2.5), Some("a")), (2L, None, Some("b")),
      (3L, Some(-1.0), None), (3L, Some(2.5), Some("b")))
      .toDF("id", "x", "s")
    val out = operators.Profile.profile(df)
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("Expand"), "exact distincts must plan through Expand")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"))
    val rows = out.collect().map(r => r.getString(0) ->
      ((r.getLong(1), r.getLong(2), r.getLong(3),
        Option(r.get(4)).map(_.asInstanceOf[Double]),
        Option(r.get(5)).map(_.asInstanceOf[Double])))).toMap
    assert(rows("id") === ((4L, 0L, 3L, Some(1.0), Some(3.0))))
    assert(rows("x") === ((4L, 1L, 2L, Some(-1.0), Some(2.5))))
    assert(rows("s") === ((4L, 1L, 2L, None, None)))
    val approx = operators.Profile.profile(df, approx = true)
    assert(approx.columns.toSeq === out.columns.toSeq)
    assert(approx.count() === 3L)
  }

  test("per-group heavy hitters: each group thresholds against its own " +
      "total, exact under partitioning, null groups/values ignored") {
    import spark.implicits._
    // group A: skewed (hot 40 of 100); group B: uniform (no hitters at
    // k=4); group C: tiny with one dominant value; plus nulls both ways
    val rows =
      Seq.fill(40)(("A", "hot")) ++ (0 until 60).map(i => ("A", s"a$i")) ++
      (0 until 80).map(i => ("B", s"b${i % 8}")) ++
      Seq(("C", "only"), ("C", "only"), ("C", "other")) ++
      Seq((null, "x"), ("A", null))
    def brute(k: Int) = rows
      .filter(r => r._1 != null && r._2 != null).groupBy(_._1).flatMap {
        case (g, rs) =>
          val n = rs.size
          rs.groupBy(_._2).collect {
            case (v, vs) if vs.size.toLong * k > n => (g, v) -> vs.size.toLong
          }
      }.toMap
    for (parts <- Seq(1, 5); k <- Seq(2, 4, 50)) {
      val df = spark.sparkContext.parallelize(
        scala.util.Random.shuffle(rows), parts).toDF("g", "v")
      val got = operators.HeavyHitters.exactPerGroup(df, "g", "v", k)
        .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
        .toMap
      assert(got === brute(k), s"parts=$parts k=$k")
    }
  }

  test("heavy hitters: recount is a broadcast semi-join, no wide shuffle " +
      "of the raw distribution") {
    import spark.implicits._
    val df = (0 until 200).map(i => s"v${i % 7}").toDF("v")
    val plan = operators.HeavyHitters.exact(df, "v", 5)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftSemi"),
      s"candidate filter must be a broadcast semi-join:\n$plan")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"))
  }

  test("gopherRules: each of the seven rules rejects its crafted violator " +
      "and passes the clean doc") {
    val good = ("the report covers " + Seq.tabulate(47)(i => s"item$i")
      .mkString(" ")) + " a summary"                       // 51 words, has the+a
    val df = docsDF(Seq(
      (1L, good, "en"),
      (2L, "the a short doc", "en"),                       // too few words
      (3L, ("the a " + "x" * 600).trim, "en"),             // mean word len > 10
      (4L, "the a " + Seq.fill(49)("#w...").mkString(" "), "en"), // symbols
      (5L, "the a intro\n" + Seq.fill(50)("- bullet line").mkString("\n"), "en"),
      (6L, "the a head\n" + Seq.fill(49)("trailing line...").mkString("\n"), "en"),
      (7L, "the a " + Seq.fill(49)("1234").mkString(" "), "en"),  // non-alpha
      (8L, good.replace("the ", "zz ").replace(" a ", " zz "), "en"))) // no stops
    val out = Text.gopherRules(df, stopwords = Seq("the", "a"))
      .orderBy("doc_id").collect()
    assert(out.map(_.getAs[Boolean]("keep")).toSeq
      === Seq(true, false, false, false, false, false, false, false))
    def failedRule(i: Int, rule: String) =
      assert(!out(i).getAs[Boolean](rule), s"doc ${i + 1} should fail $rule")
    failedRule(1, "ok_words")
    failedRule(2, "ok_mean_len")
    failedRule(3, "ok_symbols")
    failedRule(4, "ok_bullets")
    failedRule(5, "ok_ellipsis")
    failedRule(6, "ok_alpha")
    failedRule(7, "ok_stopwords")
    // the keep verdict composes with a scan-level filter: same survivors
    assert(Text.gopherRules(df, stopwords = Seq("the", "a"))
      .where(col("keep")).select("doc_id").collect().map(_.getLong(0)).toSeq
      === Seq(1L))
    // the appending variant keeps the input columns and agrees verdict
    // for verdict with the projection form
    val appended = Text.withGopherKeep(df, stopwords = Seq("the", "a"))
    assert(appended.columns.toSeq === Seq("doc_id", "text", "lang", "keep"))
    assert(appended.orderBy("doc_id").select("keep").collect()
      .map(_.getBoolean(0)).toSeq
      === out.map(_.getAs[Boolean]("keep")).toSeq)
  }

  test("scrub redacts all three PII classes and counts them sequentially") {
    val df = docsDF(Seq(
      (1L, "mail a.b+c@ex.co and b@sub.domain.org ip 10.0.0.1 tel +38611223344", "en"),
      (2L, "no pii here at all", "en"),
      (3L, "", "en")))
    val out = Text.piiReport(df).orderBy("doc_id").collect()
    assert(out(0).getAs[String]("scrubbed") ===
      "mail [EMAIL] and [EMAIL] ip [IP] tel [PHONE]")
    assert(out(0).getAs[Long]("n_email") === 2L)
    assert(out(0).getAs[Long]("n_ipv4") === 1L)
    assert(out(0).getAs[Long]("n_phone") === 1L)
    assert(out(1).getAs[String]("scrubbed") === "no pii here at all")
    assert(Seq("n_email", "n_ipv4", "n_phone")
      .forall(c => out(1).getAs[Long](c) === 0L))
    assert(out(2).getAs[String]("scrubbed") === "")
  }

  test("chunk covers every character and chunks equal their substrings") {
    val text = (1 to 37).map(i => ('a' + i % 26).toChar).mkString // 37 chars
    val df = docsDF(Seq((1L, text, "en"), (2L, "short", "en"), (3L, "x" * 10, "en")))
    val out = Text.chunk(df, window = 10, stride = 7)
      .orderBy("doc_id", "chunk_idx").collect()
    // doc 1: len 37 > 10 → ceil((37-10)/7)+1 = 4+1 = 5 chunks
    val c1 = out.filter(_.getLong(0) == 1L)
    assert(c1.length === 5)
    c1.zipWithIndex.foreach { case (r, i) =>
      assert(r.getAs[String]("chunk_text") ===
        text.slice(i * 7, math.min(i * 7 + 10, text.length)))
    }
    // every character covered: last chunk reaches the end
    assert(c1.last.getAs[String]("chunk_text").endsWith(text.takeRight(1)))
    assert(c1.map(_.getAs[Long]("n_chunk_chars")).sum >= text.length)
    // len <= window → exactly one chunk, the whole text
    val c2 = out.filter(_.getLong(0) == 2L)
    assert(c2.length === 1 && c2.head.getAs[String]("chunk_text") === "short")
    // len == window → one chunk
    assert(out.count(_.getLong(0) == 3L) === 1)
  }

  test("chunk with multibyte text is character-based") {
    val text = "一二三四五六七八九十" * 3 // 30 CJK chars
    val out = Text.chunk(docsDF(Seq((1L, text, "zh"))), window = 12, stride = 9)
      .orderBy("chunk_idx").collect()
    assert(out.length === 3) // ceil((30-12)/9)+1 = 3
    assert(out(0).getAs[String]("chunk_text") === text.slice(0, 12))
    assert(out(2).getAs[String]("chunk_text") === text.slice(18, 30))
  }

  test("sampleStrata: rate 1000 keeps all, 0 keeps none, selection is a deterministic subset") {
    val docs = Sources.documents(spark, "/root/testdata/sf0.001")
    assert(Text.sampleStrata(docs, Map.empty).count() === docs.count())
    assert(Text.sampleStrata(docs, Map.empty, defaultPerMille = 0).count() === 0L)
    val a = Text.sampleStrata(docs, Map("en" -> 300)).select("doc_id")
    val b = Text.sampleStrata(docs, Map("en" -> 300)).select("doc_id")
    assert(a.exceptAll(b).count() === 0L && b.exceptAll(a).count() === 0L)
    // rate monotonicity: a tighter threshold selects a subset
    val tight = Text.sampleStrata(docs, Map("en" -> 100)).select("doc_id")
    assert(tight.exceptAll(a).count() === 0L)
  }

  test("DedupIndex: exact and near dups removed, survivors append, requeue drains") {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val idxDocs = docsDF(Seq(
      (0L, base, "en"),
      (2L, "completely different words entirely here now today maybe", "en")))
    val shard = docsDF(Seq(
      (1L, base, "en"),                           // exact dup of doc 0
      (3L, base + " lambda", "en"),               // near dup (jaccard ~0.8+)
      (5L, "nothing in common with anything at all whatsoever", "en")))
    val dir = java.nio.file.Files.createTempDirectory("graft-didx-t").toString
    ext.DedupIndex.buildIndex(idxDocs, dir)
    val clean = ext.DedupIndex.dedupeAgainstIndex(shard, dir, threshold = 0.7)
    assert(clean.select("doc_id").collect().map(_.getLong(0)).toSet === Set(5L))
    // fold the survivor in; the same shard now drains completely
    ext.DedupIndex.appendToIndex(clean, dir)
    assert(ext.DedupIndex.dedupeAgainstIndex(shard, dir, threshold = 0.7).isEmpty)
    // an unrelated fresh shard still passes through
    val fresh = docsDF(Seq((7L, "yet another unrelated set of tokens right", "en")))
    assert(ext.DedupIndex.dedupeAgainstIndex(fresh, dir, threshold = 0.7)
      .count() === 1L)
  }

  test("DedupIndex.appendBatchDeduped: dedupe-then-fold per batch, " +
      "exactly-once under replayed and stale batch ids, all-dup batch is " +
      "a natural no-op") {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val dir = java.nio.file.Files.createTempDirectory("graft-didx-s").toString
    def ids() = ext.DedupIndex.indexedIds(spark, dir)
      .collect().map(_.getLong(0)).toSet
    // batch 0 on an empty index: params pinned, within-batch dup dropped
    ext.DedupIndex.appendBatchDeduped(docsDF(Seq(
      (0L, base, "en"),
      (1L, base, "en"), // within-batch exact dup of 0 — dropped
      (2L, "completely different words entirely here now today maybe", "en"))),
      dir, batchId = 0, threshold = 0.7)
    assert(ids() === Set(0L, 2L))
    // batch 1: cross-batch dup dropped, fresh doc folds in
    val b1 = docsDF(Seq(
      (3L, base + " lambda", "en"), // near dup of indexed 0 — dropped
      (5L, "nothing in common with anything at all whatsoever", "en")))
    ext.DedupIndex.appendBatchDeduped(b1, dir, batchId = 1, threshold = 0.7)
    assert(ids() === Set(0L, 2L, 5L))
    // replayed and stale batch ids are vetoed by the watermark
    ext.DedupIndex.appendBatchDeduped(b1, dir, batchId = 1, threshold = 0.7)
    ext.DedupIndex.appendBatchDeduped(b1, dir, batchId = 0, threshold = 0.7)
    assert(ids() === Set(0L, 2L, 5L))
    // an all-dup batch appends nothing and still advances the watermark
    val before = ext.DedupIndex.indexDir(spark, dir)
    ext.DedupIndex.appendBatchDeduped(docsDF(Seq((7L, base, "en"))),
      dir, batchId = 2, threshold = 0.7)
    assert(ids() === Set(0L, 2L, 5L))
    assert(ext.DedupIndex.indexDir(spark, dir) === before) // no version published
    ext.DedupIndex.appendBatchDeduped(docsDF(Seq((7L, base, "en"))),
      dir, batchId = 2, threshold = 0.7) // replay of the no-op: still no-op
    assert(ids() === Set(0L, 2L, 5L))
    // a later real batch reuses the orphaned version slot cleanly
    ext.DedupIndex.appendBatchDeduped(docsDF(Seq(
      (9L, "yet another unrelated set of tokens right", "en"))),
      dir, batchId = 3, threshold = 0.7)
    assert(ids() === Set(0L, 2L, 5L, 9L))
  }

  test("substringOverlap: span counts by hand, hashed ≡ string keys, " +
      "crossDocOnly ignores within-doc repeats, short docs emit no row") {
    // doc 1: "a b c d a b c d" → 5 4-grams; "a b c d" appears at positions
    //   1 and 5 (within-doc repeat); also in doc 2 → cross-doc dup.
    // doc 2: "x a b c d y" → 3 4-grams, one shared with doc 1.
    // doc 3: "p q r s" → exactly one 4-gram, unique.
    // doc 4: "too short" → < 4 tokens, no row.
    val df = docsDF(Seq(
      (1L, "a b c d a b c d", "en"),
      (2L, "x a b c d y", "en"),
      (3L, "p q r s", "en"),
      (4L, "too short", "en")))
    val scored = ext.Dedup.substringOverlap(df, k = 4, hashGrams = false)
      .orderBy("doc_id").collect()
    assert(scored.map(_.getLong(0)).toSeq === Seq(1L, 2L, 3L))
    // doc 1 grams: [abcd, bcda, cdab, dabc, abcd] — abcd dup (3 occs),
    // the middle three unique → total 5, dup 2
    assert(scored(0).getLong(1) === 5L && scored(0).getLong(2) === 2L)
    assert(scored(0).getDouble(3) === 2.0 / 5.0)
    // doc 2 grams: [xabc, abcd, bcdy] → dup 1 of 3
    assert(scored(1).getLong(1) === 3L && scored(1).getLong(2) === 1L)
    // doc 3: 1 gram, 0 dup
    assert(scored(2).getLong(1) === 1L && scored(2).getLong(2) === 0L)
    assert(scored(2).getDouble(3) === 0.0)
    // hashed keys give identical per-doc numbers
    val hashed = ext.Dedup.substringOverlap(df, k = 4, hashGrams = true)
      .orderBy("doc_id").collect()
    assert(hashed.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      === scored.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq)
    // crossDocOnly: doc 5 repeats its own span but shares nothing — its
    // repeat no longer counts; doc 1/2's shared span still does
    val df5 = docsDF(Seq(
      (1L, "a b c d a b c d", "en"),
      (2L, "x a b c d y", "en"),
      (5L, "m n o p m n o p", "en")))
    val cross = ext.Dedup.substringOverlap(df5, k = 4, hashGrams = true,
        crossDocOnly = true).orderBy("doc_id").collect()
    assert(cross(0).getLong(2) === 2L) // both abcd positions cross-doc dup
    assert(cross(1).getLong(2) === 1L)
    assert(cross(2).getLong(2) === 0L) // self-repeat ignored
    // dropOverlapping at 0.3: doc 1 (2/5) and doc 2 (1/3) both exceed it;
    // doc 3 is clean and the short doc 4 always survives
    val kept = ext.Dedup.dropOverlapping(df, maxOverlap = 0.3, k = 4)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(kept === Seq(3L, 4L))
    // at 0.45 no ratio (0.4, 1/3, 0) exceeds the bound — all four survive
    val kept45 = ext.Dedup.dropOverlapping(df, maxOverlap = 0.45, k = 4)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(kept45 === Seq(1L, 2L, 3L, 4L))
  }

  test("repetitionSignals: mode share and dup fraction by hand, short docs drop") {
    val df = docsDF(Seq(
      (1L, "a b a b a", "en"), // bigrams [ab, ba, ab, ba]: n=4, distinct=2
      (2L, "x y", "en"),       // one bigram, unique
      (3L, "z", "en")))        // < 2 tokens → no row
    val out = Text.repetitionSignals(df).orderBy("doc_id").collect()
    assert(out.map(_.getLong(0)).toSeq === Seq(1L, 2L))
    assert(out(0).getLong(1) === 4L && out(0).getLong(2) === 2L)
    assert(out(0).getDouble(3) === 0.5 && out(0).getDouble(4) === 0.5)
    assert(out(1).getLong(1) === 1L && out(1).getLong(2) === 1L)
    assert(out(1).getDouble(3) === 0.0 && out(1).getDouble(4) === 1.0)
    // trigram flavor on doc 1: [aba, bab, aba] → n=3, distinct=2, top=2/3
    val tri = Text.repetitionSignals(df, n = 3).orderBy("doc_id").collect()
    assert(tri.map(_.getLong(0)).toSeq === Seq(1L))
    assert(tri(0).getLong(1) === 3L && tri(0).getLong(2) === 2L)
    assert(tri(0).getDouble(4) === 2.0 / 3.0)
  }

  test("spanGrams loop equals its declarative twin, order included") {
    val df = docsDF(Seq(
      (1L, "a b c d a b c d", "en"), (2L, "x y z", "en"),
      (3L, "", "en"), (4L, "one two", "en")))
    for (k <- Seq(2, 3, 4)) {
      val loop = ext.Dedup.spanGrams(df, k, "text", "doc_id")
        .collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
      val decl = ext.Dedup.spanGramsDeclarative(df, k, "text", "doc_id")
        .collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
      assert(loop === decl, s"k=$k")
      assert(loop.nonEmpty)
    }
  }

  test("tokenDrift: exact probabilities, one-sided tokens, gap ordering, top-k cut") {
    val a = docsDF(Seq((1L, "x x x y", "en")))        // ta=4: x 3/4, y 1/4
    val b = docsDF(Seq((2L, "x y y z", "en")))        // tb=4: x y 1/4 2/4, z 1/4
    val out = ext.Text.tokenDrift(a, b, k = 2).collect()
    // drifts: x |3/4-1/4|=0.5, y |1/4-2/4|=0.25, z |0-1/4|=0.25 → top-2 =
    // x then y (tie with z broken by token asc)
    assert(out.map(_.getString(0)).toSeq === Seq("x", "y"))
    assert(out(0).getLong(1) === 3L && out(0).getLong(2) === 1L)
    assert(out(0).getDouble(3) === 0.75 && out(0).getDouble(4) === 0.25)
    assert(out(0).getDouble(5) === 0.5)
    assert(out(1).getDouble(5) === 0.25)
    // k past vocab returns the whole joined vocabulary, z with n_a = 0
    val all = ext.Text.tokenDrift(a, b, k = 10).collect()
    assert(all.length === 3)
    assert(all.find(_.getString(0) == "z").get.getLong(1) === 0L)
  }

  test("decontaminateSpans drops exactly the docs sharing a k-span, " +
      "either key scheme, short docs immune") {
    // doc 1 embeds held doc 10's exact 4-token span inside novel text;
    // doc 2 shares only a 3-token prefix of it (below k); doc 3 is clean;
    // doc 4 is shorter than k and can never be doomed.
    val corpus = docsDF(Seq(
      (1L, "novel text then s1 s2 s3 s4 and more", "en"),
      (2L, "here s1 s2 s3 x4 diverges after three", "en"),
      (3L, "entirely unrelated content words only here", "en"),
      (4L, "too short", "en")))
    val held = docsDF(Seq((10L, "eval item s1 s2 s3 s4 answer", "en")))
    for (hashed <- Seq(true, false)) {
      val kept = ext.Dedup.decontaminateSpans(corpus, held, k = 4,
          hashGrams = hashed)
        .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
      assert(kept === Seq(2L, 3L, 4L), s"hashGrams=$hashed")
    }
    // k = 3 also catches doc 2's shared prefix span
    val kept3 = ext.Dedup.decontaminateSpans(corpus, held, k = 3)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(kept3 === Seq(3L, 4L))
  }

  test("withRepetitionSignals keeps every row, appends signals, nulls short docs") {
    val df = docsDF(Seq(
      (1L, "a b a b a", "en"), (2L, "x y", "en"), (3L, "z", "en")))
    val out = Text.withRepetitionSignals(df).orderBy("doc_id").collect()
    assert(out.length === 3)
    assert(out(0).getAs[String]("text") === "a b a b a")
    assert(out(0).getAs[Long]("n_grams") === 4L)
    assert(out(0).getAs[Double]("top_frac") === 0.5)
    assert(out(1).getAs[Double]("top_frac") === 1.0)
    assert(out(2).isNullAt(out(2).fieldIndex("n_grams")))
    assert(out(2).isNullAt(out(2).fieldIndex("top_frac")))
    // matches the scored flavor wherever both emit
    val scored = Text.repetitionSignals(df).orderBy("doc_id").collect()
    assert(scored.map(r => (r.getLong(0), r.getLong(1), r.getDouble(4))).toSeq
      === out.take(2).map(r => (r.getLong(0), r.getAs[Long]("n_grams"),
        r.getAs[Double]("top_frac"))).toSeq)
  }

  test("topNgrams counts bigrams corpus-wide with deterministic tie-break") {
    val df = docsDF(Seq(
      (1L, "a b a b c", "en"),   // a_b ×2, b_a, b_c
      (2L, "a b z", "en"),       // a_b, b_z
      (3L, "one", "en"),         // no bigram
      (4L, "", "en")))
    val top = Text.topNgrams(df, n = 2, k = 3).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    assert(top.head === ("a_b", 3L))
    // ties at count 1 break alphabetically: b_a then b_c
    assert(top.toSeq === Seq(("a_b", 3L), ("b_a", 1L), ("b_c", 1L)))
    // unigram flavor includes the empty-string token of the empty doc
    val uni = Text.topNgrams(df, n = 1, k = 10).collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    assert(uni("a") === 3L && uni("b") === 3L && uni("one") === 1L)
  }

  test("tokenHistogram buckets by div-width with exact aggregates") {
    val df = docsDF(Seq(
      (1L, "a b c", "en"),                       // 3 tok → bucket 0
      (2L, (1 to 16).map(_ => "w").mkString(" "), "en"), // 16 → bucket 1
      (3L, (1 to 33).map(_ => "w").mkString(" "), "fr"))) // 33 → bucket 2
    val h = Text.tokenHistogram(df, width = 16).collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        (r.getAs[Long]("n_docs"), r.getAs[Long]("tokens_sum"),
          r.getAs[Long]("tok_min"), r.getAs[Long]("tok_max"))).toMap
    assert(h(("en", 0L)) === ((1L, 3L, 3L, 3L)))
    assert(h(("en", 1L)) === ((1L, 16L, 16L, 16L)))
    assert(h(("fr", 2L)) === ((1L, 33L, 33L, 33L)))
    assert(h.size === 3)
  }

  test("lengthPercentiles: exact rank-based values, singleton stratum, p=1000 is the max") {
    // en: token counts 1..10 (doc_id tie-break irrelevant, all distinct)
    val en = (1 to 10).map(n => ((n + 100).toLong, ("w " * n).trim, "en"))
    val fr = Seq((1L, "only one doc here", "fr")) // 4 tokens, singleton
    val out = ext.Text.lengthPercentiles(
        docsDF(en ++ fr), perMilles = Seq(250, 500, 1000))
      .collect()
      .map(r => (r.getString(0), r.getInt(1)) -> r.getLong(3)).toMap
    // ceil semantics: p25 of 10 docs = rank 3, p50 = rank 5, p100 = rank 10
    assert(out(("en", 250)) === 3L)
    assert(out(("en", 500)) === 5L)
    assert(out(("en", 1000)) === 10L)
    // a singleton stratum returns its only value at every percentile
    assert(Seq(250, 500, 1000).forall(pm => out(("fr", pm)) === 4L))
  }

  test("approxLengthPercentiles: sketch lands in its rank bracket; exact " +
      "values ride along; singleton stratum trivially in-bounds") {
    val en = (1 to 200).map(n => ((n + 100).toLong, ("w " * n).trim, "en"))
    val fr = Seq((1L, "only one doc here", "fr"))
    val out = ext.Text.approxLengthPercentiles(
        docsDF(en ++ fr), perMilles = Seq(500, 900), accuracy = 50)
      .collect()
      .map(r => (r.getString(0), r.getInt(1)) ->
        (r.getLong(3), r.getBoolean(4))).toMap
    // exact values: p50 of 200 = rank 100 → 100 tokens; p90 → rank 180
    assert(out(("en", 500)) === ((100L, true)))
    assert(out(("en", 900)) === ((180L, true)))
    assert(out(("fr", 500)) === ((4L, true)))
    assert(out(("fr", 900)) === ((4L, true)))
  }

  test("sampleByWeight: endpoint weights, clamped out-of-range, monotone " +
      "superset in weight, deterministic across re-runs") {
    import spark.implicits._
    val docs = Sources.documents(spark, "/root/testdata/sf0.001")
    val n = docs.count()
    assert(ext.Text.sampleByWeight(docs, lit(0.0)).count() === 0L)
    assert(ext.Text.sampleByWeight(docs, lit(1.0)).count() === n)
    // out-of-range weights clamp, never throw or invert
    assert(ext.Text.sampleByWeight(docs, lit(-3.0)).count() === 0L)
    assert(ext.Text.sampleByWeight(docs, lit(7.5)).count() === n)
    // a higher constant weight keeps a SUPERSET (threshold semantics)
    val k3 = ext.Text.sampleByWeight(docs, lit(0.3))
      .select("doc_id").as[Long].collect().toSet
    val k7 = ext.Text.sampleByWeight(docs, lit(0.7))
      .select("doc_id").as[Long].collect().toSet
    assert(k3.subsetOf(k7))
    assert(k3.size < k7.size && k7.size < n)
    // realized rate tracks the weight (hash uniformity; loose bounds)
    assert(math.abs(k7.size.toDouble / n - 0.7) < 0.15)
    // deterministic: identical selection on a re-run
    assert(ext.Text.sampleByWeight(docs, lit(0.3))
      .select("doc_id").as[Long].collect().toSet === k3)
  }

  test("sampleQuota: exact counts, over-quota keeps all, deterministic hash-order prefix") {
    val docs = Sources.documents(spark, "/root/testdata/sf0.001")
    val before = docs.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val kept = ext.Text.sampleQuota(docs, Map("en" -> 5L, "zh" -> 10000L))
    val after = kept.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(after("en") === 5L)                 // exact quota
    assert(after("zh") === before("zh"))       // over-quota keeps all
    assert(after.keySet === Set("en", "zh"))   // unlisted strata dropped
    // a larger quota's selection extends the smaller one (prefix property)
    val kept3 = ext.Text.sampleQuota(docs, Map("en" -> 3L)).select("doc_id")
    assert(kept3.exceptAll(kept.where(col("lang") === "en")
      .select("doc_id")).count() === 0L)
  }

  test("mixTo: binding stratum keeps everything, others downsample, untargeted strata drop") {
    val docs = Sources.documents(spark, "/root/testdata/sf0.001")
    val targets = Map("en" -> 0.4, "zh" -> 0.2, "de" -> 0.2, "es" -> 0.1, "fr" -> 0.1)
    val kept = ext.Text.mixTo(docs, targets)
    val before = docs.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val pm = kept.select("lang", "mix_permille").distinct().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // the binding stratum (max share/weight ratio) keeps everything
    val binding = before.keys.minBy(l => before(l) / targets(l))
    assert(pm(binding) === 1000L)
    assert(pm.values.forall(p => p >= 1L && p <= 1000L))
    // a stratum targeted BELOW its share is strictly downsampled
    val after = kept.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(after(binding) === before(binding))
    assert(pm.filter(_._2 < 1000L).keys.forall(l => after(l) < before(l)))
    // deterministic: same call, same survivors
    val again = ext.Text.mixTo(docs, targets).select("doc_id")
    assert(kept.select("doc_id").exceptAll(again).count() === 0L)
    // a stratum absent from targets is dropped entirely
    val partial = ext.Text.mixTo(docs, Map("en" -> 0.5, "zh" -> 0.5))
    assert(partial.select("lang").distinct().collect()
      .map(_.getString(0)).toSet.subsetOf(Set("en", "zh")))
    intercept[IllegalArgumentException] {
      ext.Text.mixTo(docs, Map("en" -> 0.5, "zh" -> 0.4))
    }
    // a target stratum with zero corpus documents is infeasible, not ignored
    intercept[IllegalArgumentException] {
      ext.Text.mixTo(docs, Map("en" -> 0.5, "xx" -> 0.5))
    }
  }

  test("bigram LM: hand-computed counts, smoothing, ordered fold, OOV arm, " +
      "vocab guardrail") {
    // target: "a b a" and "a b" → uni a:3 b:2 (V=2); bi (a,b):2 (b,a):1
    val target = docsDF(Seq((1L, "a b a", "en"), (2L, "a b", "en")))
    val m = Text.learnBigramLm(target)
    assert(m.vocabSize === 2L)
    assert(m.uni === Map("a" -> 3L, "b" -> 2L))
    assert(m.bi === Map(("a", "b") -> 2L, ("b", "a") -> 1L))
    val corpus = docsDF(Seq(
      (10L, "a b c", "en"), // (a,b): (3+2)/(2+1); (b,c): OOV → (2+2)/(0+1)
      (11L, "solo", "en"),  // no pairs → surprise 0.0
      (12L, "", "en")))     // split('') = [''] → 1 token, no pairs
    val out = Text.lmSurprise(corpus, m).orderBy("doc_id").collect()
    assert(out(0).getAs[Long]("n_pairs") === 2L)
    assert(out(0).getAs[Long]("n_unseen") === 1L)
    assert(out(0).getAs[Double]("surprise") === (5.0 / 3.0 + 4.0) / 2.0)
    assert(out(1).getAs[Long]("n_pairs") === 0L)
    assert(out(1).getAs[Double]("surprise") === 0.0)
    assert(out(2).getAs[Long]("n_pairs") === 0L)
    // model-sized contract: an over-budget vocabulary dies loudly
    val boom = intercept[IllegalArgumentException] {
      Text.learnBigramLm(target, maxVocab = 1)
    }
    assert(boom.getMessage.contains("maxVocab"))
    // the row-preserving append carries every input column plus the same
    // scores (the streaming filter's scoring path)
    val withCols = Text.withLmSurprise(corpus, m).orderBy("doc_id").collect()
    assert(withCols(0).getAs[String]("text") === "a b c")
    assert(withCols(0).getAs[Long]("lm_pairs") === 2L)
    assert(withCols(0).getAs[Double]("lm_surprise") === (5.0 / 3.0 + 4.0) / 2.0)
    assert(withCols(1).getAs[Double]("lm_surprise") === 0.0)
  }

  test("class-unigram classifier: hand-computed folds, argmin label, " +
      "tie-break on label order, vocab guardrail") {
    // pos: "a a b" → counts a:2 b:1, V=2, N=3, base=5
    // neg: "c c"   → counts c:2,      V=1, N=2, base=3
    val pos = docsDF(Seq((1L, "a a b", "en")))
    val neg = docsDF(Seq((2L, "c c", "zh")))
    val classes = Seq("pos" -> Text.learnClassUnigrams(pos),
      "neg" -> Text.learnClassUnigrams(neg))
    assert(classes.head._2 === Text.ClassUnigrams(2L, 3L, Map("a" -> 2L, "b" -> 1L)))
    assert(classes(1)._2 === Text.ClassUnigrams(1L, 2L, Map("c" -> 2L)))
    val corpus = docsDF(Seq(
      (10L, "a b", "en"),  // s_pos = (5/3 + 5/2)/2, s_neg = (3/1 + 3/1)/2
      (11L, "c", "zh"),    // s_pos = 5/1, s_neg = 3/3 = 1.0
      (12L, "", "en")))    // [''] → 1 OOV token both sides: 5/1 vs 3/1
    val out = Text.classifyBySurprise(corpus, classes)
      .orderBy("doc_id").collect()
    assert(out(0).getAs[Double]("s_pos") === (5.0 / 3.0 + 5.0 / 2.0) / 2.0)
    assert(out(0).getAs[Double]("s_neg") === 3.0)
    assert(out(0).getAs[String]("label") === "pos")
    assert(out(1).getAs[Double]("s_pos") === 5.0)
    assert(out(1).getAs[Double]("s_neg") === 1.0)
    assert(out(1).getAs[String]("label") === "neg")
    // '' is OOV in both models; neg's smaller base wins
    assert(out(2).getAs[Long]("n_tok") === 1L)
    assert(out(2).getAs[String]("label") === "neg")
    // equal surprises → first class in label order (strict-< argmin);
    // "neg" sorts before "pos"
    val tie = Text.classifyBySurprise(corpus.limit(0), classes).schema
    assert(tie.fieldNames.toSeq ===
      Seq("doc_id", "n_tok", "s_neg", "s_pos", "label"))
    val same = Text.classifyBySurprise(
      docsDF(Seq((20L, "x", "en"))),
      Seq("b" -> Text.ClassUnigrams(1L, 1L, Map("y" -> 1L)),
          "a" -> Text.ClassUnigrams(1L, 1L, Map("z" -> 1L)))).head()
    assert(same.getAs[String]("label") === "a") // 2/1 both → label order
    // model-sized contract: an over-budget vocabulary dies loudly
    val boom = intercept[IllegalArgumentException] {
      Text.learnClassUnigrams(pos, maxVocab = 1)
    }
    assert(boom.getMessage.contains("maxVocab"))
    intercept[IllegalArgumentException] {
      Text.classifyBySurprise(corpus, Seq(
        "x" -> classes.head._2, "x" -> classes.head._2))
    }
  }

  test("rollingAnomaly: window excludes current row, warm-up stays false, spike flags") {
    // 8 constant points then a spike: priors of the spike are all 5.0
    val rows = (0 until 8).map(i =>
      ("s", f"2024-01-01T00:0$i:00Z", 5.0)) :+ ("s", "2024-01-01T00:08:00Z", 50.0)
    val out = Derive.rollingAnomaly(dp(rows).select("stream_id", "ts", "value"),
        k = 20, z = 2.0, minPrior = 5)
      .orderBy("ts").collect()
    // first row: no priors, null mean, false flag
    assert(out.head.getLong(3) === 0L && out.head.isNullAt(4) &&
      !out.head.getBoolean(6))
    // rows 1..4: under minPrior, flag false even though std == 0
    (1 to 4).foreach(i => assert(!out(i).getBoolean(6)))
    // row 5 onward (constant): mean 5, std 0, |v-mean| == 0 not > 0 → false
    (5 to 7).foreach { i =>
      assert(out(i).getDouble(4) === 5.0 && out(i).getDouble(5) === 0.0)
      assert(!out(i).getBoolean(6))
    }
    // the spike: priors are 8 constants → flagged
    val spike = out.last
    assert(spike.getLong(3) === 8L && spike.getBoolean(6))
  }

  test("normalize recovers unit norm and passes zero vectors through as zeros") {
    import spark.implicits._
    val df = Seq(
      (1L, Array(3.0f, 4.0f)),        // norm 5
      (2L, Array(0.0f, 0.0f)),        // zero vector: no NaN
      (3L, Array(-2.0f, 0.0f, 0.0f))) // negative components
      .toDF("vec_id", "embedding")
    val out = ext.Similarity.normalize(df).orderBy("vec_id")
      .select("norm2", "unit").collect()
    assert(out(0).getDouble(0) === 25.0)
    assert(out(0).getSeq[Double](1) === Seq(0.6, 0.8))
    assert(out(1).getDouble(0) === 0.0)
    assert(out(1).getSeq[Double](1) === Seq(0.0, 0.0))
    assert(out(2).getSeq[Double](1) === Seq(-1.0, 0.0, 0.0))
  }

  test("packContiguous equals the naive global-window formulation, sparse ids included") {
    import spark.implicits._
    // sparse, shuffled ids with varied token counts, including zeros
    val rows = Seq(3L -> 5L, 17L -> 0L, 20L -> 130L, 21L -> 7L, 95L -> 999L,
      96L -> 1L, 200L -> 64L, 1000L -> 3L, 1001L -> 64L, 1002L -> 128L)
    val df = util.Random.shuffle(rows).toDF("doc_id", "n_tok")
    val got = Pack.packContiguous(df, budget = 128L, blockSize = 4L)
    val w = Window.orderBy("doc_id").rowsBetween(Window.unboundedPreceding, 0)
    val want = df.withColumn("_cum", sum("n_tok").over(w))
      .withColumn("bin", expr("(_cum - n_tok) div 128"))
      .select("doc_id", "n_tok", "bin")
    assert(got.exceptAll(want).count() === 0L)
    assert(want.exceptAll(got).count() === 0L)
    // bins are non-decreasing in id order and start at 0
    val bins = got.orderBy("doc_id").select("bin").as[Long].collect()
    assert(bins.head === 0L)
    assert(bins.sliding(2).forall(p => p.length < 2 || p(0) <= p(1)))
  }

  test("packContiguous recursive scan (tiny apex bound) matches the flat formulation") {
    import spark.implicits._
    // 300 sparse ids → 150 blocks at blockSize=2; maxSinglePartition=4
    // forces THREE recursion levels (150 → 75 → 38 → 19 > 4 → 10 → 5 > 4 → 3)
    val rows = (0 until 300).map(i => (i * 7L + (i % 3), (i * 31 % 97).toLong))
    val df = util.Random.shuffle(rows).toDF("doc_id", "n_tok")
    val got = Pack.packContiguous(df, budget = 64L, blockSize = 2L,
      maxSinglePartition = 4L)
    val w = Window.orderBy("doc_id").rowsBetween(Window.unboundedPreceding, 0)
    val want = df.withColumn("_cum", sum("n_tok").over(w))
      .withColumn("bin", expr("(_cum - n_tok) div 64"))
      .select("doc_id", "n_tok", "bin")
    assert(got.exceptAll(want).count() === 0L)
    assert(want.exceptAll(got).count() === 0L)
  }

  test("shardByRank equals the naive global-window rank, ties and empty input included") {
    import spark.implicits._
    // 300 docs, many tied scores (score = i % 7) so the idCol tie-break
    // is load-bearing; shuffled input over several partitions
    val rows = (0 until 300).map(i => (i * 3L + (i % 2), (i % 7).toLong))
    val df = util.Random.shuffle(rows).toDF("doc_id", "score").repartition(8)
    val got = Pack.shardByRank(df, "score", shardSize = 10L)
    val w = Window.orderBy("score", "doc_id")
    val want = df.withColumn("rank", row_number().over(w).cast("long"))
      .withColumn("shard", expr("(rank - 1) div 10"))
      .withColumn("pos", expr("(rank - 1) % 10"))
      .select("doc_id", "rank", "shard", "pos")
    assert(got.exceptAll(want).count() === 0L)
    assert(want.exceptAll(got).count() === 0L)
    // shards are exactly shardSize docs apiece (last one ragged)
    val sizes = got.groupBy("shard").count().orderBy("shard")
      .select("count").as[Long].collect()
    assert(sizes.dropRight(1).forall(_ === 10L))
    assert(got.count() === 300L)
    assert(Pack.shardByRank(df.limit(0), "score", 10L).count() === 0L)
    intercept[IllegalArgumentException] { Pack.shardByRank(df, "score", 0L) }
  }

  test("globalRankByKey equals the naive global-window rank over a string key") {
    import spark.implicits._
    // hostile-ish keys: varying lengths so lexicographic order differs
    // from insertion order; shuffled over several partitions (the z-order
    // rewrite's large-registry arm rides this exact formulation)
    val keys = (0 until 500).map(i => s"s${i % 50}:${"x" * (i % 5)}$i")
    val df = util.Random.shuffle(keys).toDF("k").repartition(8)
    val got = Pack.globalRankByKey(df, "k", "r")
    val want = df.withColumn("r",
      row_number().over(Window.orderBy("k")).cast("long") - 1L)
    assert(got.exceptAll(want).count() === 0L)
    assert(want.exceptAll(got).count() === 0L)
    assert(got.select("r").as[Long].collect().sorted.toSeq ===
      (0L until 500L))
  }

  test("DedupIndex: intra-shard duplicates collapse so appended index stays clean") {
    val idxDocs = docsDF(Seq(
      (0L, "completely different words entirely here now today maybe", "en")))
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    // none of the shard docs match the index; 11/13 are intra-shard dups
    val shard = docsDF(Seq(
      (1L, base, "en"),
      (3L, base, "en"),               // exact intra dup of 1
      (5L, base + " lambda", "en"),   // near intra dup of 1
      (7L, "nothing in common with anything at all whatsoever", "en")))
    val dir = java.nio.file.Files.createTempDirectory("graft-didx-intra").toString
    ext.DedupIndex.buildIndex(idxDocs, dir)
    val clean = ext.DedupIndex.dedupeAgainstIndex(shard, dir, threshold = 0.7)
    assert(clean.select("doc_id").collect().map(_.getLong(0)).toSet === Set(1L, 7L))
    // withinShard = false preserves the old cross-index-only semantics
    val crossOnly = ext.DedupIndex.dedupeAgainstIndex(shard, dir,
      threshold = 0.7, withinShard = false)
    assert(crossOnly.count() === 4L)
    // append the survivors: the re-queued shard must drain completely
    // (1/7 exact-match themselves; 3/5 trip the intra arm again)
    ext.DedupIndex.appendToIndex(clean, dir)
    assert(ext.DedupIndex.dedupeAgainstIndex(shard, dir, threshold = 0.7).isEmpty)
  }

  test("splitWithoutLeakage: clusters land whole; singletons match splitAssign") {
    import spark.implicits._
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    // 1 and 3 are near-dups (one cluster); 5/7/9 singletons with texts
    // chosen so plain per-doc splitting would scatter them around
    val docs = docsDF(Seq(
      (1L, base, "en"),
      (3L, base + " lambda", "en"),
      (5L, "completely different words entirely here now today", "en"),
      (7L, "nothing in common with anything at all whatsoever", "en"),
      (9L, "yet another unrelated set of tokens right here", "en")))
    val pairs = ext.Dedup.nearDupJaccard(docs, 0.7)
    val out = ext.Dedup.splitWithoutLeakage(docs, pairs, buckets = 4)
      .select(col("doc_id").cast("long"), col("cluster"), col("split_bucket"))
      .as[(Long, Long, Long)].collect().toSeq.sortBy(_._1)
    // the dup pair shares one cluster AND one bucket (cluster-atomic)
    val byId = out.map(r => r._1 -> r).toMap
    assert(byId(1L)._2 === 1L && byId(3L)._2 === 1L)
    assert(byId(1L)._3 === byId(3L)._3)
    // both members take the REPRESENTATIVE's (doc 1) hash bucket
    val naive = ext.Text.splitAssign(docs, buckets = 4)
      .select(col("doc_id").cast("long"), col("split_bucket").cast("long"))
      .as[(Long, Long)].collect().toMap
    assert(byId(1L)._3 === naive(1L))
    // singletons: own cluster, and the split is EXACTLY splitAssign's
    Seq(5L, 7L, 9L).foreach { id =>
      assert(byId(id)._2 === id)
      assert(byId(id)._3 === naive(id))
    }
  }

  test("DedupIndex: versioned appends share parent shards atomically; " +
      "vacuum keeps referenced ancestors; a root-level layout is refused") {
    import spark.implicits._
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val dir = java.nio.file.Files.createTempDirectory("graft-didx-ver").toString
    ext.DedupIndex.buildIndex(docsDF(Seq((0L, base, "en"))), dir)
    // two appends → two shard-manifest versions referencing v1's data
    ext.DedupIndex.appendToIndex(
      docsDF(Seq((2L, "completely different words entirely here now", "en"))), dir)
    ext.DedupIndex.appendToIndex(
      docsDF(Seq((4L, "yet another unrelated set of tokens right", "en"))), dir)
    val shards = java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$dir/v3/shards")).split('\n').toSeq
    assert(shards == Seq("v1/data", "v2/data", "v3/data"))
    // dedup consults the WHOLE chain: dups of every generation drain
    val probe = docsDF(Seq(
      (10L, base, "en"),                                        // v1 dup
      (11L, "completely different words entirely here now", "en"), // v2 dup
      (12L, "yet another unrelated set of tokens right", "en"),  // v3 dup
      (13L, "fresh never seen content tokens", "en")))
    assert(ext.DedupIndex.dedupeAgainstIndex(probe, dir, threshold = 0.7)
      .select("doc_id").as[Long].collect().toSet === Set(13L))
    // vacuum retaining 1 keeps every referenced ancestor's data alive
    ext.DedupIndex.vacuumIndex(spark, dir, retainVersions = 1)
    assert(new java.io.File(s"$dir/v1/data/bands").exists())
    assert(ext.DedupIndex.dedupeAgainstIndex(probe, dir, threshold = 0.7)
      .count() === 1L)
    // the pre-versioned layout (side tables at the root, no marker) has
    // no committed version to read or append to, and the same root with
    // the bare `CURRENT` file of the pre-marker layout is below the format
    // floor: both refuse with nothing written
    val leg = java.nio.file.Files.createTempDirectory("graft-didx-leg").toString
    ext.DedupIndex.buildIndex(docsDF(Seq((0L, base, "en"))), leg)
    java.nio.file.Files.move(java.nio.file.Paths.get(s"$leg/v1/params"),
      java.nio.file.Paths.get(s"$leg/params"))
    for (side <- Seq("bands", "shingles", "exact"))
      java.nio.file.Files.move(java.nio.file.Paths.get(s"$leg/v1/data/$side"),
        java.nio.file.Paths.get(s"$leg/$side"))
    new java.io.File(s"$leg/CURRENT.v1").delete()
    deleteRecursively(new java.io.File(s"$leg/v1"))
    val more = docsDF(Seq((6L, "brand new unseen material for the index", "en")))
    val before = treeOf(leg)
    val noVersion = Seq[() => Any](
      () => ext.DedupIndex.dedupeAgainstIndex(docsDF(Seq((9L, base, "en"))), leg,
        threshold = 0.7),
      () => ext.DedupIndex.appendToIndex(more, leg))
    noVersion.foreach { op =>
      val e = intercept[IllegalStateException](op())
      assert(e.getMessage.contains("no committed version"))
    }
    assert(treeOf(leg) == before)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$leg/CURRENT"), "v1")
    val beforeBare = treeOf(leg)
    intercept[errors.UnsupportedFormat](ext.DedupIndex.appendToIndex(more, leg))
    assert(treeOf(leg) == beforeBare)
  }

  private def deleteRecursively(f: java.io.File): Unit = {
    Option(f.listFiles()).getOrElse(Array.empty[java.io.File])
      .foreach(deleteRecursively)
    f.delete(); ()
  }

  test("DedupIndex: hashing-scheme fingerprint mismatch fails loudly at read") {
    import spark.implicits._
    val docs = docsDF(Seq((0L, "alpha beta gamma delta epsilon", "en")))
    val dir = java.nio.file.Files.createTempDirectory("graft-didx-fp").toString
    ext.DedupIndex.buildIndex(docs, dir)
    // simulate a MurmurHash3/Random drift: rewrite params with a wrong probe
    val paramsDir = s"${ext.DedupIndex.indexDir(spark, dir)}/params"
    val p = spark.read.parquet(paramsDir)
      .select(col("n"), col("bands"), col("rows_per_band"),
        (col("probe_hash") + 1L).as("probe_hash"))
      .collect().head
    Seq((p.getInt(0), p.getInt(1), p.getInt(2), p.getLong(3)))
      .toDF("n", "bands", "rows_per_band", "probe_hash")
      .coalesce(1).write.mode("overwrite").parquet(paramsDir)
    val e = intercept[IllegalStateException] {
      ext.DedupIndex.dedupeAgainstIndex(docs, dir).count()
    }
    assert(e.getMessage.contains("different hashing scheme"))
  }

  test("learned lang profiles: top-k selection, argmax, tie and fallback arms") {
    import spark.implicits._
    // two "languages" with disjoint dominant trigrams
    val labeled = docsDF(Seq(
      (1L, "aaaa aaaa", "aa"),   // trigrams: aaa ×4, 'aa ' 'a a' ' aa' ×1
      (2L, "bbbb bbbb", "bb")))
    val prof = ext.Text.learnLangProfiles(labeled, topK = 1)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(prof === Set(("aa", "aaa", 4L), ("bb", "bbb", 4L)))
    // classification: dominant-trigram doc → its language; a doc with no
    // profile hits falls back to the alphabetically FIRST profile language
    val profiles = ext.Text.learnLangProfiles(labeled, topK = 1)
    val preds = ext.Text.langIdByProfiles(
        docsDF(Seq((10L, "aaa zzz", "?"), (11L, "zzbbbzz", "?"),
          (12L, "zz", "?"))),
        profiles)
      .select("doc_id", "predicted").as[(Long, String)].collect().toMap
    assert(preds(10L) === "aa")
    assert(preds(11L) === "bb")
    assert(preds(12L) === "aa") // no hits → fallback min(lang)
    // exact tie in hit counts → alphabetically first language wins
    val tied = ext.Text.langIdByProfiles(
        docsDF(Seq((20L, "aaabbb", "?"))), profiles)
      .select("predicted").as[String].collect()
    assert(tied.toSeq === Seq("aa"))
  }

  test("Bpe.learnMerges: classic corpus, exact hand-computed merge sequence") {
    // the textbook BPE corpus {low×5, lower×2, newest×6, widest×3}; the
    // expected sequence below is derived by hand under the declared
    // (weight DESC, left, right) tie-break:
    //   es(9) → est(9) → lo(7) → low(7) → ew(6) → ewest(6)
    val df = docsDF(Seq(
      (1L, "low low low low low", "en"),
      (2L, "lower lower", "en"),
      (3L, "newest newest newest newest newest newest", "en"),
      (4L, "widest widest widest", "en")))
    val merges = ext.Bpe.learnMerges(df, numMerges = 6)
    assert(merges === Seq(("e", "s", 9L), ("es", "t", 9L), ("l", "o", 7L),
      ("lo", "w", 7L), ("e", "w", 6L), ("ew", "est", 6L)))
    // deterministic under any partitioning
    assert(ext.Bpe.learnMerges(df.repartition(7), numMerges = 6) === merges)
    // minCount floor stops the loop before it memorizes rare pairs
    val floored = ext.Bpe.learnMerges(df, numMerges = 50, minCount = 3L)
    assert(floored.nonEmpty && floored.forall(_._3 >= 3L))
    // induced vocabulary: corpus chars + merge products; greedy inference
    // over it collapses frequent words to their learned subwords
    val vocab = ext.Bpe.learnedVocab(df, numMerges = 6)
    assert(Seq("es", "est", "lo", "low", "ew", "ewest").forall(vocab.contains))
    val vs = vocab.toSet
    val maxLen = vocab.map(_.length).max
    assert(ext.Bpe.tokenizeWord("newest", vs, maxLen) === Vector("n", "ewest"))
    assert(ext.Bpe.tokenizeWord("low", vs, maxLen) === Vector("low"))
    assert(ext.Bpe.tokenizeWord("lower", vs, maxLen) === Vector("low", "e", "r"))
    // leftmost non-overlapping apply: (a,a) over "aaa" merges the FIRST pair
    assert(ext.Bpe.applyMerge(Array("a", "a", "a"), "a", "a").toSeq
      === Seq("aa", "a"))
  }

  test("Bpe.learnMerges: batched rounds equal the sequential trainer on random corpora") {
    // pure-Scala reference: the textbook one-merge-at-a-time loop with the
    // same (weight DESC, left, right) tie-break and leftmost-greedy apply
    def sequential(texts: Seq[String], numMerges: Int,
                   minCount: Long): Seq[(String, String, Long)] = {
      var words = texts.flatMap(_.split(" ")).filter(_.nonEmpty)
        .groupBy(identity).map { case (w, ws) =>
          (w.map(_.toString).toArray, ws.size.toLong) }.toSeq
      val out = Seq.newBuilder[(String, String, Long)]
      var k = 0
      var done = false
      while (k < numMerges && !done) {
        val counts = scala.collection.mutable.Map.empty[(String, String), Long]
        words.foreach { case (s, c) =>
          (0 until s.length - 1).foreach { i =>
            counts((s(i), s(i + 1))) = counts.getOrElse((s(i), s(i + 1)), 0L) + c
          }
        }
        val best = counts.toSeq
          .sortBy { case ((l, r), w) => (-w, l, r) }.headOption
        best match {
          case Some(((l, r), w)) if w >= minCount =>
            out += ((l, r, w))
            words = words.map { case (s, c) => (ext.Bpe.applyMerge(s, l, r), c) }
            k += 1
          case _ => done = true
        }
      }
      out.result()
    }
    val rnd = new scala.util.Random(97)
    (0 until 3).foreach { trial =>
      // heavy-tailed random words over a tiny alphabet → dense pair ties
      // and interaction chains, the hard case for batching soundness
      val vocabWords = (0 until 12).map(_ =>
        (0 until (2 + rnd.nextInt(5))).map(_ => ('a' + rnd.nextInt(4)).toChar)
          .mkString)
      val texts = (0 until 30).map(_ =>
        (0 until (3 + rnd.nextInt(6)))
          .map(_ => vocabWords(math.min(rnd.nextInt(12), rnd.nextInt(12))))
          .mkString(" "))
      val df = docsDF(texts.zipWithIndex.map { case (t, i) => (i.toLong, t, "en") })
      val want = sequential(texts, numMerges = 12, minCount = 2L)
      val got = ext.Bpe.learnMerges(df, numMerges = 12, minCount = 2L)
      assert(got === want, s"trial $trial diverged")
    }
  }

  test("Bpe: greedy longest-prefix tokenization with unknown-char fallback") {
    import ext.Bpe
    val vocab = Set("the", "th", "he", "ab", "abc", "x")
    def toks(w: String) = Bpe.tokenizeWord(w, vocab, maxLen = 3)
    // longest match wins over an earlier shorter one
    assert(toks("the") === Vector("the"))
    assert(toks("abcab") === Vector("abc", "ab"))
    // greedy is NOT optimal: "thhe" → "th" + unknown "h" + unknown "e"?
    // no — "th" then "he": greedy consumes longest at each position
    assert(toks("thhe") === Vector("th", "he"))
    // unknown chars fall back to single-char tokens
    assert(toks("zq") === Vector("z", "q"))
    assert(toks("xzx") === Vector("x", "z", "x"))
    assert(toks("") === Vector.empty)
    // count path agrees with the materializing path
    Seq("the", "abcab", "thhe", "zq", "xzx", "").foreach { w =>
      assert(Bpe.countTokens(w, vocab, 3) === toks(w).length.toLong)
    }
    // DataFrame surface: per-doc sums across whitespace words
    val df = docsDF(Seq((1L, "the abcab", "en"), (2L, "", "en")))
    val out = ext.Bpe.tokenCounts(df, vocab.toSeq).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out(1L) === 3L && out(2L) === 0L)
  }

  test("exactPairs and topK fail fast past their collect guardrails") {
    import spark.implicits._
    val vecs = (1L to 5L).map(i => (i, Array(i.toFloat, 1.0f), 0))
      .toDF("vec_id", "embedding", "label")
    val e1 = intercept[IllegalArgumentException] {
      ext.Similarity.exactPairs(vecs, threshold = 0.5, maxRows = 3)
    }
    assert(e1.getMessage.contains("maxRows"))
    val e2 = intercept[IllegalArgumentException] {
      ext.Similarity.topK(vecs, queries = vecs, k = 2, maxQueries = 3)
    }
    assert(e2.getMessage.contains("maxQueries"))
    // within bounds both still work
    assert(ext.Similarity.exactPairs(vecs, threshold = 0.99, maxRows = 5)
      .count() >= 1L)
    assert(ext.Similarity.topK(vecs, vecs.limit(2), k = 2).count() === 4L)
  }
}
