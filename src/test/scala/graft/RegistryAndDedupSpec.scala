package graft

import org.apache.spark.sql.functions._

class RegistryAndDedupSpec extends SparkSpec {
  import spark.implicits._

  test("findStreams matches on tag equality; semi-join restricts the fact table") {
    val fact = dp(Seq(
      ("1:click", "2024-01-01T00:00:00Z", 1.0),
      ("1:view", "2024-01-01T00:00:00Z", 2.0),
      ("2:click", "2024-01-01T00:00:00Z", 3.0)))
      .withColumn("user_id", split(col("stream_id"), ":").getItem(0).cast("long"))
      .withColumn("event_type", split(col("stream_id"), ":").getItem(1))
    val registry = StreamRegistry.fromEvents(fact)
    assert(registry.count() == 3)
    val clicks = StreamRegistry.findStreams(registry, Map("type" -> "click"))
    assert(clicks.select("stream_id").as[String].collect().toSet == Set("1:click", "2:click"))
    val selected = StreamRegistry.selectDatapoints(fact, clicks)
    assert(selected.select("value").as[Double].collect().toSet == Set(1.0, 3.0))
  }

  test("findStreamsWhere: operator predicates over flat and nested tags") {
    import StreamRegistry.TagPred._
    val fact = dp(Seq(
      ("1:click", "2024-01-01T00:00:00Z", 1.0),
      ("2:click", "2024-01-01T00:00:00Z", 2.0),
      ("3:view", "2024-01-01T00:00:00Z", 3.0),
      ("10:view", "2024-01-01T00:00:00Z", 4.0)))
      .withColumn("user_id", split(col("stream_id"), ":").getItem(0).cast("long"))
      .withColumn("event_type", split(col("stream_id"), ":").getItem(1))
    val reg = StreamRegistry.fromEvents(fact)
    def ids(q: Map[String, Seq[StreamRegistry.TagPred]]) =
      StreamRegistry.findStreamsWhere(reg, q)
        .select("stream_id").as[String].collect().toSet
    // numeric range on a flat tag: "10" > "2" numerically, not lexically
    assert(ids(Map("user" -> Seq(Gte(2), Lte(10)))) ===
      Set("2:click", "3:view", "10:view"))
    assert(ids(Map("user" -> Seq(Gt(2), Lt(10)))) === Set("3:view"))
    // set membership + prefix
    assert(ids(Map("type" -> Seq(In(Seq("view"))))) === Set("3:view", "10:view"))
    assert(ids(Map("type" -> Seq(Prefix("cli")))) === Set("1:click", "2:click"))
    // existence: flat present / absent keys, nested path
    assert(ids(Map("type" -> Seq(Exists(true)))).size === 4)
    assert(ids(Map("tier" -> Seq(Exists(true)))) === Set.empty[String])
    assert(ids(Map("tier" -> Seq(Exists(false)))).size === 4)
    assert(ids(Map("meta.parity" -> Seq(Exists(true)))).size === 4)
    // nested eq + conjunction across keys
    assert(ids(Map("meta.parity" -> Seq(Eq("odd")), "type" -> Seq(Eq("view")))) ===
      Set("3:view"))
    // a non-numeric value never satisfies a numeric range (type bracketing)
    assert(ids(Map("type" -> Seq(Gt(0)))) === Set.empty[String])
  }

  test("findStreamsQuery: $or composition and $regex over tag documents") {
    import StreamRegistry.TagPred._
    import StreamRegistry.TagQuery._
    val fact = dp(Seq(
      ("1:click", "2024-01-01T00:00:00Z", 1.0),
      ("2:click", "2024-01-01T00:00:00Z", 2.0),
      ("3:view", "2024-01-01T00:00:00Z", 3.0),
      ("10:view", "2024-01-01T00:00:00Z", 4.0)))
      .withColumn("user_id", split(col("stream_id"), ":").getItem(0).cast("long"))
      .withColumn("event_type", split(col("stream_id"), ":").getItem(1))
    val reg = StreamRegistry.fromEvents(fact)
    def ids(q: StreamRegistry.TagQuery) =
      StreamRegistry.findStreamsQuery(reg, q)
        .select("stream_id").as[String].collect().toSet
    // disjunction of disjoint ranges
    assert(ids(Or(Seq(
      Clause(Map("user" -> Seq(Lte(1)))),
      Clause(Map("user" -> Seq(Gte(10))))))) === Set("1:click", "10:view"))
    // $or AND'd with an outer clause
    assert(ids(And(Seq(
      Or(Seq(
        Clause(Map("user" -> Seq(Lte(2)))),
        Clause(Map("user" -> Seq(Gte(10)))))),
      Clause(Map("type" -> Seq(Eq("view"))))))) === Set("10:view"))
    // $regex is unanchored (matches anywhere); anchors still work
    assert(ids(Clause(Map("type" -> Seq(Regex("ie"))))) ===
      Set("3:view", "10:view"))
    assert(ids(Clause(Map("type" -> Seq(Regex("^cl.*ck$"))))) ===
      Set("1:click", "2:click"))
    // regex on an absent key matches nothing (null bracketing)
    assert(ids(Clause(Map("tier" -> Seq(Regex(".*"))))) === Set.empty[String])
    // $or mixing a nested-path clause with a regex leaf
    assert(ids(Or(Seq(
      Clause(Map("meta.parity" -> Seq(Eq("odd")), "user" -> Seq(Lte(3)))),
      Clause(Map("type" -> Seq(Regex("lick$"))))))) ===
      Set("1:click", "2:click", "3:view"))
    // empty alternatives: Or matches nothing, And matches everything
    assert(ids(Or(Seq.empty)) === Set.empty[String])
    assert(ids(And(Seq.empty)).size === 4)
    // equivalence with findStreamsWhere on a single clause
    val doc: Map[String, Seq[StreamRegistry.TagPred]] =
      Map("user" -> Seq(Gte(2), Lte(10)))
    assert(ids(Clause(doc)) ===
      StreamRegistry.findStreamsWhere(reg, doc)
        .select("stream_id").as[String].collect().toSet)
  }

  test("variant tags resolve nested paths identically to the JSON-path query") {
    val fact = dp(Seq(
      ("1:click", "2024-01-01T00:00:00Z", 1.0),
      ("2:click", "2024-01-01T00:00:00Z", 2.0),
      ("3:view", "2024-01-01T00:00:00Z", 3.0)))
      .withColumn("user_id", split(col("stream_id"), ":").getItem(0).cast("long"))
      .withColumn("event_type", split(col("stream_id"), ":").getItem(1))
    val reg = StreamRegistry.withVariantTags(StreamRegistry.fromEvents(fact))
    val viaVariant = StreamRegistry.findStreamsVariant(reg, "meta.parity", "odd")
      .select("stream_id").as[String].collect().toSet
    val viaJson = StreamRegistry.findStreams(reg, Map("meta.parity" -> "odd"))
      .select("stream_id").as[String].collect().toSet
    assert(viaVariant === viaJson && viaVariant === Set("1:click", "3:view"))
    // a path absent from the document matches nothing (no null surprises)
    assert(StreamRegistry.findStreamsVariant(reg, "meta.absent", "x").count() === 0L)
  }

  test("outstandingDependencies finds derived streams that survive a delete") {
    def meta(id: String, from: Seq[String]) = StreamMeta(id, Map.empty,
      ValueType.Numeric, Seq.empty, Seq.empty, "seconds", derived_from = from)
    val registry = Seq(meta("raw1", Nil), meta("raw2", Nil),
      meta("derived", Seq("raw1", "raw2")))
    // deleting raw1 alone: derived depends on it → violation
    val viol = StreamRegistry.outstandingDependencies(
      registry, Seq("raw1").toDF("stream_id"))
    assert(viol == Seq(("derived", "raw1")))
    // deleting raw1 + derived together: no violation
    val ok = StreamRegistry.outstandingDependencies(
      registry, Seq("raw1", "derived").toDF("stream_id"))
    assert(ok.isEmpty)
  }

  test("exact dedup groups identical texts and keeps min doc_id") {
    val docs = Seq((1L, "a b c"), (2L, "a b c"), (3L, "x y z"))
      .toDF("doc_id", "text")
    val out = ext.Dedup.exact(docs).orderBy("keep_doc_id").collect()
    assert(out.map(r => (r.getAs[Long]("keep_doc_id"), r.getAs[Long]("n_copies"))).toSeq
      == Seq((1L, 2L), (3L, 1L)))
  }

  test("normalized dedup: case/punct/whitespace variants collapse onto the " +
      "original; non-ASCII letters survive the punct strip") {
    val norm = Seq("  Hello,   WORLD!! ", "hello world",
        "一二三, 一二!", "一二三 一二", "ß-test", "ß test")
      .toDF("t").select(ext.Dedup.normalized(col("t"))).as[String].collect()
    assert(norm(0) === "hello world")
    assert(norm(1) === "hello world")
    assert(norm(2) === "一二三 一二")
    assert(norm(3) === "一二三 一二")
    assert(norm(4) === "ßtest") // '-' stripped, ß kept
    assert(norm(5) === "ß test")
    val docs = Seq((1L, "a b"), (2L, "A   B!"), (3L, "c")).toDF("doc_id", "text")
    val out = ext.Dedup.exactNormalized(docs).orderBy("keep_doc_id").collect()
    assert(out.map(r => (r.getAs[Long]("keep_doc_id"), r.getAs[Long]("n_copies"))).toSeq
      === Seq((1L, 2L), (3L, 1L)))
  }

  test("shingle Jaccard near-dup finds the overlapping pair, not the disjoint one") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today"),
      (2L, "the quick brown fox jumps over the lazy dog tonight"),
      (3L, "completely different words appear in this document here now"))
      .toDF("doc_id", "text")
    val pairs = ext.Dedup.nearDupJaccard(docs, threshold = 0.5)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("minhash LSH candidates contain the true near-dup pair and verify equal jaccard") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today"),
      (2L, "the quick brown fox jumps over the lazy dog tonight"),
      (3L, "completely different words appear in this document here now"))
      .toDF("doc_id", "text")
    val exact = ext.Dedup.nearDupJaccard(docs, threshold = 0.5)
      .select("a", "b", "jaccard").as[(Long, Long, Double)].collect().toSet
    val lsh = ext.Dedup.nearDupMinhash(docs, threshold = 0.5)
      .select("a", "b", "jaccard").as[(Long, Long, Double)].collect().toSet
    assert(lsh == exact)
  }

  test("duplicate clusters: min-label propagation finds connected components") {
    // components: {1,2,3,7} (chain 1-2, 2-3, 3-7), {10,11}, singleton 20 untouched
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 7L), (10L, 11L)).toDF("a", "b")
    val clusters = ext.Dedup.duplicateClusters(pairs)
      .as[(Long, Long)].collect().toMap
    assert(clusters == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 1L, 10L -> 10L, 11L -> 10L))
    val docs = Seq(1L, 2L, 3L, 7L, 10L, 11L, 20L).toDF("doc_id")
    val kept = ext.Dedup.keepOnePerCluster(docs, pairs)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 10L, 20L))
  }

  test("keepOnePerCluster collapses exact duplicates found by minhash end-to-end") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon zeta"), // exact dup of 1
      (3L, "alpha beta gamma delta epsilon zeta"), // exact dup of 1
      (4L, "totally different content in this one here"))
      .toDF("doc_id", "text")
    val pairs = ext.Dedup.nearDupMinhash(docs, threshold = 0.8)
    val kept = ext.Dedup.keepOnePerCluster(docs, pairs)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 4L))
  }

  test("hot bucket: 500 identical docs expand via the join route, pairs complete") {
    // 500 identical docs put all ids in ONE bucket of every band — the
    // degenerate case the one-row flatten expansion must not absorb. With
    // maxBucket=16 they route through the bucket-local self-join; the pair
    // set must still be exactly all C(500,2) pairs.
    val docs = (1L to 500L).map(i => (i, "alpha beta gamma delta epsilon zeta eta theta"))
      .toDF("doc_id", "text")
    val pairs = ext.Dedup.nearDupMinhash(docs, threshold = 0.8, maxBucket = 16)
    assert(pairs.count() == 500L * 499L / 2L)
    val kept = ext.Dedup.keepOnePerCluster(docs, pairs)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L))
  }

  test("maxBucket routing does not change the candidate/verified pair set") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today"),
      (2L, "the quick brown fox jumps over the lazy dog tonight"),
      (3L, "the quick brown fox jumps over the lazy dog today"),
      (4L, "completely different words appear in this document here now"))
      .toDF("doc_id", "text")
    val viaArray = ext.Dedup.nearDupMinhash(docs, threshold = 0.5, maxBucket = 64)
      .select("a", "b", "jaccard").as[(Long, Long, Double)].collect().toSet
    val viaJoin = ext.Dedup.nearDupMinhash(docs, threshold = 0.5, maxBucket = 1)
      .select("a", "b", "jaccard").as[(Long, Long, Double)].collect().toSet
    assert(viaJoin == viaArray && viaArray.nonEmpty)
  }

  test("docFreqCap drops hot shingles from the index but scores full-set jaccard") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today"),
      (2L, "the quick brown fox jumps over the lazy dog tonight"),
      (3L, "completely different words appear in this document here now"))
      .toDF("doc_id", "text")
    val uncapped = ext.Dedup.nearDupJaccard(docs, threshold = 0.5)
      .select("a", "b", "jaccard").as[(Long, Long, Double)].collect().toSet
    // cap of 2 keeps every shingle shared by the dup pair (df ≤ 2) → same result
    val capped = ext.Dedup.nearDupJaccard(docs, threshold = 0.5, docFreqCap = Some(2))
      .select("a", "b", "jaccard").as[(Long, Long, Double)].collect().toSet
    assert(capped == uncapped)
  }

  test("duplicateClusters throws instead of returning unconverged labels") {
    // a path graph of 64 nodes has diameter 63 > maxIter=3 rounds of
    // min-label propagation → must refuse, not silently mislabel
    val chain = (1L until 64L).map(i => (i, i + 1)).toDF("a", "b")
    intercept[IllegalStateException] {
      ext.Dedup.duplicateClusters(chain, maxIter = 3).collect()
    }
  }

  test("simhash: identical docs collide at hamming 0; unrelated docs are far") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today"),
      (2L, "the quick brown fox jumps over the lazy dog today"),
      (3L, "completely different words appear in this document here now"))
      .toDF("doc_id", "text")
    val cands = ext.Dedup.simhashCandidates(docs)
      .select("a", "b", "hamming").as[(Long, Long, Long)].collect()
    val identical = cands.find(c => c._1 == 1L && c._2 == 2L)
    assert(identical.exists(_._3 == 0L))
    assert(cands.filter(c => c._3 == 0L).map(c => (c._1, c._2)).toSet == Set((1L, 2L)))
  }
}
