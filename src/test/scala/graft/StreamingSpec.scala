package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def points: Seq[Streaming.Point] = Seq(
    Streaming.Point("a", ts("2024-01-01T00:00:00Z"), 10.0),
    Streaming.Point("a", ts("2024-01-01T00:00:10Z"), 30.0),
    Streaming.Point("b", ts("2024-01-01T00:00:05Z"), 5.0),
    Streaming.Point("a", ts("2024-01-01T00:00:15Z"), 20.0),
    Streaming.Point("b", ts("2024-01-01T00:00:25Z"), 2.0),
    Streaming.Point("a", ts("2024-01-01T00:01:30Z"), 50.0))

  test("streaming derivative across micro-batches equals batch derivative") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Streaming.Point]
    val out = Streaming.derive(mem.toDS(), "derivative")
    val q = out.writeStream.format("memory").queryName("sderiv")
      .outputMode("append").start()
    try {
      mem.addData(points.take(3): _*); q.processAllAvailable()
      mem.addData(points.drop(3): _*); q.processAllAvailable()
      val streamed = spark.table("sderiv")
        .select("stream_id", "ts", "value")
        .as[(String, java.sql.Timestamp, Double)].collect().toSet
      val batch = Derive.derivative(
        points.toDF("stream_id", "ts", "value").withColumn("event_id", lit(0L)))
        .select(col("stream_id"), col("ts"), col("derivative"))
        .as[(String, java.sql.Timestamp, Double)].collect().toSet
      assert(streamed == batch)
      assert(streamed.nonEmpty)
    } finally q.stop()
  }

  test("streaming counter_derivative handles wraparound like batch") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Streaming.Point]
    val wrap = Seq(
      Streaming.Point("s", ts("2024-01-01T00:00:00Z"), 90.0),
      Streaming.Point("s", ts("2024-01-01T00:00:10Z"), 95.0),
      Streaming.Point("s", ts("2024-01-01T00:00:20Z"), 3.0))
    val out = Streaming.derive(mem.toDS(), "counter_derivative", Some(100.0))
    val q = out.writeStream.format("memory").queryName("scd")
      .outputMode("append").start()
    try {
      mem.addData(wrap: _*); q.processAllAvailable()
      val got = spark.table("scd").orderBy("ts").select("value").as[Double].collect().toSeq
      assert(got == Seq(0.5, 0.8))
    } finally q.stop()
  }

  test("watermarked streaming downsample emits exactly the finalized complete buckets") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Streaming.Point]
    val out = Streaming.downsample(mem.toDF(), Granularity.Minutes, "30 seconds")
    val q = out.writeStream.format("memory").queryName("sdown")
      .outputMode("append").start()
    try {
      mem.addData(points: _*); q.processAllAvailable()
      // watermark = max(ts) - 30s = 00:01:00 → minute-0 bucket is final
      mem.addData(Streaming.Point("a", ts("2024-01-01T00:05:00Z"), 1.0))
      q.processAllAvailable() // advance watermark past minute 1
      val emitted = spark.table("sdown")
        .select("stream_id", "bucket_start", "cnt")
        .as[(String, java.sql.Timestamp, Long)].collect().toSet
      val batchEquiv = Downsample.aggregateRaw(
        points.toDF("stream_id", "ts", "value"), Granularity.Minutes)
        .where(col("bucket_start") < ts("2024-01-01T00:02:00Z"))
        .select("stream_id", "bucket_start", "cnt")
        .as[(String, java.sql.Timestamp, Long)].collect().toSet
      assert(emitted == batchEquiv)
      assert(emitted.map(_._2).contains(ts("2024-01-01T00:00:00Z")))
    } finally q.stop()
  }

  test("monotone streaming ingest drops stale arrivals across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val mem = MemoryStream[Streaming.Point]
    val dir = java.nio.file.Files.createTempDirectory("graft-ingmono").toString
    val q = Streaming.ingestMonotone(mem.toDS(), s"$dir/raw", s"$dir/ckpt").start()
    try {
      mem.addData(
        Streaming.Point("s", ts("2024-01-01T00:00:10Z"), 1.0),
        Streaming.Point("s", ts("2024-01-01T00:00:20Z"), 2.0))
      q.processAllAvailable()
      // next batch: one stale row (t=15 < last-seen 20 ⇒ dropped — state
      // carries ACROSS batches), one equal-ts row (kept, as in the batch
      // `ts < latest` stale predicate), one fresh row
      mem.addData(
        Streaming.Point("s", ts("2024-01-01T00:00:15Z"), 9.0),
        Streaming.Point("s", ts("2024-01-01T00:00:20Z"), 3.0),
        Streaming.Point("s", ts("2024-01-01T00:00:25Z"), 4.0))
      q.processAllAvailable()
      val got = spark.read.parquet(s"$dir/raw")
        .select("ts", "value").as[(java.sql.Timestamp, Double)].collect().toSet
      assert(got == Set(
        (ts("2024-01-01T00:00:10Z"), 1.0),
        (ts("2024-01-01T00:00:20Z"), 2.0),
        (ts("2024-01-01T00:00:20Z"), 3.0),
        (ts("2024-01-01T00:00:25Z"), 4.0)))
    } finally q.stop()
  }

  test("streaming dedup ingest drops replayed documents across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String, String)]
    val dir = java.nio.file.Files.createTempDirectory("graft-sdedup-t").toString
    val q = Streaming.dedupIngest(
      mem.toDF().toDF("doc_id", "text", "lang"), s"$dir/out", s"$dir/ckpt")
      .start()
    try {
      mem.addData((1L, "alpha beta", "en"), (2L, "gamma", "en"),
        (3L, "alpha beta", "en")) // in-batch duplicate of doc 1
      q.processAllAvailable()
      // second delivery: doc 1 replayed verbatim plus one fresh doc — the
      // replay must be dropped by state carried ACROSS batches
      mem.addData((1L, "alpha beta", "en"), (4L, "delta", "fr"))
      q.processAllAvailable()
      assert(q.recentProgress.count(_.numInputRows > 0) >= 2,
        "deliveries must land in separate micro-batches")
      val texts = spark.read.parquet(s"$dir/out")
        .select("text").as[String].collect().sorted.toSeq
      assert(texts === Seq("alpha beta", "delta", "gamma"))
    } finally q.stop()
  }

  test("streaming multimodal decode: real codec per micro-batch, replayed " +
      "assets land exactly once, poison pill degrades instead of killing") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String, String)]
    val dir = java.nio.file.Files.createTempDirectory("graft-sdecode-t").toString
    val q = Streaming.decodeIngest(
      mem.toDF().toDF("doc_id", "text", "lang"), s"$dir/out", s"$dir/ckpt")
      .start()
    try {
      // doc 74 = 2×37 → the corrupt-payload arm (decode_ok = false)
      mem.addData((1L, "x", "en"), (74L, "x", "en"))
      q.processAllAvailable()
      mem.addData((1L, "x", "en"), (2L, "x", "fr")) // 1 replayed wholesale
      q.processAllAvailable()
      assert(q.recentProgress.count(_.numInputRows > 0) >= 2,
        "deliveries must land in separate micro-batches")
      val rows = spark.read.parquet(s"$dir/out")
        .select(col("asset_id"), col("width").cast("long"),
          col("height").cast("long"), col("decode_ok"))
        .as[(Long, Long, Long, Boolean)].collect().sortBy(_._1).toSeq
      // exactly once each; dims follow the closed-form generator; the
      // poison pill decoded to the deterministic fallback, stream alive
      assert(rows.map(_._1) === Seq(1L, 2L, 74L))
      assert(rows(0) === ((1L, 17L, 23L, true)))  // 16+1, 16+7
      assert(rows(1) === ((2L, 18L, 30L, true)))  // 16+2, 16+14
      assert(!rows(2)._4)
    } finally q.stop()
  }

  test("LM-filtered streaming ingest scores each micro-batch with the " +
      "broadcast model and equals the batch filter") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // model from a tiny reference: uni a:3 b:2 (V=2); bi (a,b):2 (b,a):1
    val target = Seq((1L, "a b a", "en"), (2L, "a b", "en"))
      .toDF("doc_id", "text", "lang")
    val model = ext.Text.learnBigramLm(target)
    val mem = MemoryStream[(Long, String, String)]
    val dir = java.nio.file.Files.createTempDirectory("graft-slm-t").toString
    // "a b": surprise (3+2)/(2+1) = 5/3 ≤ 2.0 → kept
    // "b c": OOV transition (2+2)/(0+1) = 4.0 > 2.0 → dropped
    val q = Streaming.filterIngestLm(
      mem.toDF().toDF("doc_id", "text", "lang"), model,
      s"$dir/out", s"$dir/ckpt", maxSurprise = 2.0)
      .start()
    try {
      mem.addData((10L, "a b", "en"), (11L, "b c", "en"))
      q.processAllAvailable()
      // "b b": known unigram, unseen transition → (2+2)/(0+1) = 4.0 > 2
      mem.addData((12L, "a b a b", "en"), (13L, "b b", "de"))
      q.processAllAvailable()
      assert(q.recentProgress.count(_.numInputRows > 0) >= 2,
        "deliveries must land in separate micro-batches")
      val kept = spark.read.parquet(s"$dir/out")
        .select("doc_id").as[Long].collect().sorted.toSeq
      // "a b a b": pairs (a,b),(b,a),(a,b) → (5/3 + 5/2 + 5/3)/3 ≈ 1.94 ≤ 2
      assert(kept === Seq(10L, 12L))
      // the streaming survivors equal the batch filter over the same rows
      val all = Seq((10L, "a b", "en"), (11L, "b c", "en"),
        (12L, "a b a b", "en"), (13L, "b b", "de"))
        .toDF("doc_id", "text", "lang")
      val batchKept = ext.Text.withLmSurprise(all, model)
        .where(col("lm_surprise") <= 2.0)
        .select("doc_id").as[Long].collect().sorted.toSeq
      assert(batchKept === kept)
    } finally q.stop()
  }

  test("classifier-filtered streaming ingest labels each micro-batch with " +
      "the broadcast models and equals the batch filter") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // pos: "a a b" → a:2 b:1, V=2, base=5; neg: "c c" → c:2, V=1, base=3
    val classes = Seq(
      "pos" -> ext.Text.learnClassUnigrams(
        Seq((1L, "a a b", "en")).toDF("doc_id", "text", "lang")),
      "neg" -> ext.Text.learnClassUnigrams(
        Seq((2L, "c c", "zh")).toDF("doc_id", "text", "lang")))
    val mem = MemoryStream[(Long, String, String)]
    val dir = java.nio.file.Files.createTempDirectory("graft-sclf-t").toString
    val q = Streaming.filterIngestClassifier(
      mem.toDF().toDF("doc_id", "text", "lang"), classes,
      s"$dir/out", s"$dir/ckpt", keep = "pos")
      .start()
    try {
      // "a b": s_pos = (5/3 + 5/2)/2 < s_neg = 3 → kept
      // "c":   s_pos = 5 > s_neg = 1 → dropped
      mem.addData((10L, "a b", "en"), (11L, "c", "zh"))
      q.processAllAvailable()
      mem.addData((12L, "a a", "en"), (13L, "c c c", "zh"))
      q.processAllAvailable()
      assert(q.recentProgress.count(_.numInputRows > 0) >= 2,
        "deliveries must land in separate micro-batches")
      val kept = spark.read.parquet(s"$dir/out")
        .select("doc_id").as[Long].collect().sorted.toSeq
      assert(kept === Seq(10L, 12L))
      // the streaming survivors equal the batch label filter
      val all = Seq((10L, "a b", "en"), (11L, "c", "zh"),
        (12L, "a a", "en"), (13L, "c c c", "zh"))
        .toDF("doc_id", "text", "lang")
      val batchKept = ext.Text.withClassLabel(all, classes)
        .where(col("clf_label") === "pos")
        .select("doc_id").as[Long].collect().sorted.toSeq
      assert(batchKept === kept)
    } finally q.stop()
  }

  test("bounded dedup ingest: in-window replay dropped, state TTLs beyond the watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, String)]
    val dir = java.nio.file.Files.createTempDirectory("graft-sdedupw").toString
    def t(s: String) = ts(s)
    val q = Streaming.dedupIngestBounded(
      mem.toDF().toDF("ts", "text"), s"$dir/out", s"$dir/ckpt",
      delay = "10 minutes").start()
    try {
      // batch 1: a document and its immediate replay — within the
      // watermark window, so the replay is dropped
      mem.addData((t("2024-01-01T10:00:00Z"), "docA"),
        (t("2024-01-01T10:01:00Z"), "docA"))
      q.processAllAvailable()
      // batch 2: two hours later — the watermark advances to 11:50,
      // evicting docA's state (first seen 10:00 + 10 min ≪ 11:50)
      mem.addData((t("2024-01-01T12:00:00Z"), "docB"))
      q.processAllAvailable()
      // batch 3: docA replayed BEYOND its state's lifetime — it lands
      // again (the documented at-least-once cap of bounded state); its
      // fresh in-window replay right after is dropped again
      mem.addData((t("2024-01-01T12:05:00Z"), "docA"),
        (t("2024-01-01T12:06:00Z"), "docA"))
      q.processAllAvailable()
      val out = spark.read.parquet(s"$dir/out")
        .select("text").as[String].collect().toSeq
      assert(out.count(_ == "docA") === 2, s"got $out")
      assert(out.count(_ == "docB") === 1)
    } finally q.stop()
  }

  test("streaming anomaly ring carries across micro-batches and equals the batch window") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val mem = MemoryStream[Streaming.Point]
    val dir = java.nio.file.Files.createTempDirectory("graft-sanom-t").toString
    val q = Streaming.anomaly(mem.toDS(), k = 3, z = 1.5, minPrior = 2)
      .toDF()
      .writeStream.format("parquet")
      .option("path", s"$dir/out").option("checkpointLocation", s"$dir/ckpt")
      .outputMode("append").start()
    val pts = (0 until 6).map(i =>
      Streaming.Point("s", ts(f"2024-01-01T00:0$i:00Z"), if (i == 5) 99.0 else 5.0))
    try {
      mem.addData(pts.take(3): _*)
      q.processAllAvailable()
      mem.addData(pts.drop(3): _*) // ring state must carry across the boundary
      q.processAllAvailable()
      val got = spark.read.parquet(s"$dir/out")
      val want = Derive.rollingAnomaly(
        pts.map(p => (p.stream_id, p.ts, p.value))
          .toDF("stream_id", "ts", "value"),
        k = 3, z = 1.5, minPrior = 2)
      assert(got.exceptAll(want).count() === 0L)
      assert(want.exceptAll(got).count() === 0L)
      // the spike (priors all 5.0, std 0) is flagged
      assert(got.where(col("value") === 99.0).head().getAs[Boolean]("is_anomaly"))
    } finally q.stop()
  }

  test("streaming session_window emits a session once, when the watermark passes its close") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Streaming.Point]
    val dir = java.nio.file.Files.createTempDirectory("graft-ssess-t").toString
    val q = Streaming.sessionizeStream(
        mem.toDF().toDF("stream_id", "ts", "value"),
        Seq("stream_id"), gap = "30 minutes", delay = "0 seconds")
      .writeStream.format("parquet")
      .option("path", s"$dir/out").option("checkpointLocation", s"$dir/ckpt")
      .outputMode("append").start()
    try {
      mem.addData(
        Streaming.Point("s", ts("2024-01-01T00:00:00Z"), 1.0),
        Streaming.Point("s", ts("2024-01-01T00:10:00Z"), 2.0),
        Streaming.Point("s", ts("2024-01-01T02:00:00Z"), 4.0))
      q.processAllAvailable()
      // batch 2 only advances the watermark past session 2's close
      mem.addData(Streaming.Point("s", ts("2024-01-01T03:00:00Z"), 8.0))
      q.processAllAvailable()
      val got = spark.read.parquet(s"$dir/out")
        .select("session_start", "session_last", "n_events")
        .as[(java.sql.Timestamp, java.sql.Timestamp, Long)].collect().toSet
      // session {3:00} is still open: never emitted
      assert(got === Set(
        (ts("2024-01-01T00:00:00Z"), ts("2024-01-01T00:10:00Z"), 2L),
        (ts("2024-01-01T02:00:00Z"), ts("2024-01-01T02:00:00Z"), 1L)))
    } finally q.stop()
  }

  test("streaming multi-stream sum emits finalized buckets equal to the batch derive op") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Streaming.Point]
    val out = Streaming.deriveSum(
      mem.toDF().withColumn("group", lit("g")),
      Granularity.Minutes, "30 seconds", Seq("group"))
    val q = out.writeStream.format("memory").queryName("ssum")
      .outputMode("append").start()
    try {
      mem.addData(points: _*); q.processAllAvailable()
      mem.addData(Streaming.Point("a", ts("2024-01-01T00:10:00Z"), 1.0))
      q.processAllAvailable()
      val emitted = spark.table("ssum")
        .select("bucket_start", "sum", "contributing")
        .as[(java.sql.Timestamp, Double, Long)].collect().toSet
      val batch = Derive.sumStreams(
          points.toDF("stream_id", "ts", "value").withColumn("group", lit("g")),
          Granularity.Minutes, Seq("group"))
        .where(col("bucket_start") < ts("2024-01-01T00:02:00Z"))
        .select("bucket_start", "sum", "contributing")
        .as[(java.sql.Timestamp, Double, Long)].collect().toSet
      assert(emitted == batch)
      assert(emitted.nonEmpty)
    } finally q.stop()
  }

  test("streaming ladder: minutes rollup stream-read into hours matches batch rollup") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ladder").toString
    // build a minutes-level rollup table with the batch facade
    val ds = new Datastream(spark, dir)
    ds.ensureStream("s1")
    ds.appendMultiple(dp(Seq(
      ("s1", "2024-01-01T00:10:00Z", 2.0),
      ("s1", "2024-01-01T00:40:00Z", 4.0),
      ("s1", "2024-01-01T01:20:00Z", 6.0),
      ("s1", "2024-01-01T05:00:00Z", 8.0))).select("stream_id", "ts", "value"))
    ds.downsampleStreams(ts("2024-01-01T06:00:00Z"))
    // stream the minutes table up to hours
    val q = Streaming.maintainFromRollup(spark,
      s"$dir/rollup/granularity=minutes", Granularity.Hours, "0 seconds",
      s"$dir/stream-hours", s"$dir/ck-ladder").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = Downsample.finalizeView(spark.read.parquet(s"$dir/stream-hours"))
      .where(col("bucket_start") < ts("2024-01-01T05:00:00Z")) // watermark-final buckets
      .select("stream_id", "bucket_start", "count", "sum")
      .as[(String, java.sql.Timestamp, Long, Double)].collect().toSet
    val batch = Downsample.finalizeView(
        Downsample.rollup(ds.rollup(Granularity.Minutes)
          .select("stream_id", "bucket_start", "cnt", "vsum", "vmin", "vmax",
            "vsumsq", "tfirst", "tlast", "tsum_us"), Granularity.Hours))
      .where(col("bucket_start") < ts("2024-01-01T05:00:00Z"))
      .select("stream_id", "bucket_start", "count", "sum")
      .as[(String, java.sql.Timestamp, Long, Double)].collect().toSet
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("streaming ingest + maintenance write parquet tables a batch reader can query") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-stream").toString
    val mem = MemoryStream[Streaming.Point]
    val qIngest = Streaming.ingest(mem.toDF(), s"$dir/raw", s"$dir/ck-ingest").start()
    val qMaint = Streaming.maintain(mem.toDF(), Granularity.Minutes, "30 seconds",
      s"$dir/rollup", s"$dir/ck-maint").start()
    try {
      mem.addData(points: _*)
      qIngest.processAllAvailable(); qMaint.processAllAvailable()
      mem.addData(Streaming.Point("a", ts("2024-01-01T00:05:00Z"), 1.0))
      qIngest.processAllAvailable(); qMaint.processAllAvailable()
      assert(spark.read.parquet(s"$dir/raw").count() == 7)
      val finalized = Downsample.finalizeView(spark.read.parquet(s"$dir/rollup"))
      val minute0 = finalized
        .where(col("stream_id") === "a" &&
          col("bucket_start") === ts("2024-01-01T00:00:00Z")).collect()
      assert(minute0.length == 1 && minute0.head.getAs[Long]("count") == 3L)
      assert(minute0.head.getAs[Double]("mean") == 20.0)
    } finally { qIngest.stop(); qMaint.stop() }
  }
}
