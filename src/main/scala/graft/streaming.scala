package graft

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode,
  StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}

/** Structured Streaming flavor of the engine (SURVEY.md §2.9).
  *
  * The reference is logically streaming (append-only ingest + incremental
  * maintenance); here that is literal: the SAME aggregation expressions as
  * the batch cascade run under a watermark in append output mode, so a
  * finalized bucket is emitted exactly once — the streaming equivalent of
  * `downsampled_until` advancing past it. Batch/streaming equivalence on
  * identical input is asserted in StreamingSpec.
  */
object Streaming {

  /** Watermarked tumbling-window downsample at granularity `g` in append
    * mode: emits each complete bucket once, `delay` after its end
    * [ds :: downsample_streams(until=now-margin)] ≡ watermark delay.
    */
  def downsample(raw: DataFrame, g: Granularity, delay: String,
                 keys: Seq[String] = Seq("stream_id")): DataFrame =
    raw.withWatermark("ts", delay)
      .groupBy(keys.map(col) :+ window(col("ts"), g.interval).as("w"): _*)
      .agg(
        count(lit(1)).as("cnt"),
        sum(col("value").cast(Downsample.DecV)).as("vsum"),
        min("value").as("vmin"),
        max("value").as("vmax"),
        sum((col("value") * col("value")).cast(Downsample.DecV)).as("vsumsq"),
        min("ts").as("tfirst"),
        max("ts").as("tlast"),
        sum(unix_micros(col("ts")).cast(Downsample.DecT)).as("tsum_us"))
      .select((keys.map(col) :+ col("w.start").as("bucket_start")) ++
        Seq("cnt", "vsum", "vmin", "vmax", "vsumsq", "tfirst", "tlast", "tsum_us")
          .map(col): _*)

  /** S1 streaming flavor: continuous ingest of `(stream_id, ts, value)`
    * rows into the raw datapoint table. Any streaming source DataFrame
    * works (file/Kafka/rate/Memory); exactly-once via the checkpoint.
    */
  def ingest(points: DataFrame, rawPath: String, checkpoint: String) =
    points.select(col("stream_id"), col("ts"), col("value"))
      .writeStream
      .format("parquet")
      .option("path", rawPath)
      .option("checkpointLocation", checkpoint)
      .outputMode("append")

  /** T1/T2 streaming maintenance: the watermarked cascade of ONE granularity
    * written append-mode to its rollup table. One StreamingQuery per ladder
    * level owns that level's state — the reference's maintenance-lock role
    * is played by the checkpoint (SURVEY.md §2.9 T5).
    */
  def maintain(raw: DataFrame, g: Granularity, delay: String,
               rollupPath: String, checkpoint: String) =
    downsample(raw, g, delay)
      .writeStream
      .format("parquet")
      .option("path", rollupPath)
      .option("checkpointLocation", checkpoint)
      .outputMode("append")

  /** The streaming LADDER stitch: maintain granularity `g` by stream-reading
    * the next-finer level's rollup table (append-only parquet is a valid
    * file source) and merging partials under a watermark on `bucket_start`.
    * Chaining one such query per level gives the full cascade with each
    * level reading only the level below — the same dataflow as the batch
    * `Datastream.downsampleStreams`, but continuous.
    */
  def maintainFromRollup(spark: org.apache.spark.sql.SparkSession,
                         finerPath: String, g: Granularity, delay: String,
                         rollupPath: String, checkpoint: String) = {
    val finer = spark.readStream
      .schema(Schemas.downsampledPartitioned)
      .parquet(finerPath)
      .drop("bucket_date")
    finer.withWatermark("bucket_start", delay)
      .groupBy(col("stream_id"), window(col("bucket_start"), g.interval).as("w"))
      .agg(
        sum("cnt").as("cnt"),
        sum("vsum").as("vsum"),
        min("vmin").as("vmin"),
        max("vmax").as("vmax"),
        sum("vsumsq").as("vsumsq"),
        min("tfirst").as("tfirst"),
        max("tlast").as("tlast"),
        sum("tsum_us").as("tsum_us"))
      .select(col("stream_id"), col("w.start").as("bucket_start"),
        col("cnt"), col("vsum"), col("vmin"), col("vmax"), col("vsumsq"),
        col("tfirst"), col("tlast"), col("tsum_us"))
      .writeStream
      .format("parquet")
      .option("path", rollupPath)
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
  }

  /** W1/J2 streaming flavor: multi-stream `sum` alignment under a
    * watermark — a bucket's sum is emitted once event time passes the
    * bucket end + delay, the streaming answer to "wait until all sources
    * have contributed" [ds :: derive op "sum"] (late sources are the T3
    * drop policy, as with appends).
    */
  def deriveSum(sources: DataFrame, g: Granularity, delay: String,
                derivedKeys: Seq[String]): DataFrame =
    sources.withWatermark("ts", delay)
      .groupBy(derivedKeys.map(col) :+ window(col("ts"), g.interval).as("w"): _*)
      .agg(
        sum(col("value").cast(Downsample.DecV)).cast("double").as("sum"),
        count(lit(1)).as("contributing"))
      .select(derivedKeys.map(col) :+ col("w.start").as("bucket_start") :+
        col("sum") :+ col("contributing"): _*)

  /** W1 streaming `sum` with the reference's COMPLETENESS contract: a
    * bucket leaves the operator only if every declared source contributed
    * before the watermark closed it [ds :: derive op "sum"]. One stateful
    * operator: per-bucket state carries the decimal sum plus the SET of
    * contributing sources (bounded by |sourceIds| — a few strings, not
    * datapoints), and the post-aggregation filter withholds incomplete
    * buckets at emit time. A bucket a source never reaches is dropped at
    * watermark rather than emitted partial — the streaming analog of the
    * reference never materializing a derived point it cannot complete.
    */
  def deriveSumRequireAll(sources: DataFrame, g: Granularity, delay: String,
                          derivedKeys: Seq[String],
                          sourceIds: Seq[String],
                          sourceCol: String = "stream_id"): DataFrame = {
    require(sourceIds.nonEmpty, "deriveSumRequireAll needs a declared source set")
    sources.where(col(sourceCol).isin(sourceIds: _*))
      .withWatermark("ts", delay)
      .groupBy(derivedKeys.map(col) :+ window(col("ts"), g.interval).as("w"): _*)
      .agg(
        sum(col("value").cast(Downsample.DecV)).cast("double").as("sum"),
        count(lit(1)).as("contributing"),
        size(collect_set(col(sourceCol))).cast("long").as("n_sources"))
      .where(col("n_sources") === sourceIds.size)
      .select(derivedKeys.map(col) :+ col("w.start").as("bucket_start") :+
        col("sum") :+ col("contributing") :+ col("n_sources"): _*)
  }

  /** One raw datapoint on the wire. */
  case class Point(stream_id: String, ts: Timestamp, value: Double)
  /** Per-stream derive state: last seen datapoint (epoch-µs, value). */
  case class LastPoint(tsUs: Long, value: Double)
  /** An emitted derived datapoint. */
  case class Derived(stream_id: String, ts: Timestamp, value: Double)

  private def us(t: Timestamp): Long =
    t.toInstant.getEpochSecond * 1000000L + t.toInstant.getNano / 1000L

  /** The per-point transition of each derive operator: (state, point) →
    * emitted value. Mirrors Derive's batch window-lag semantics exactly
    * [ds :: backends/mongodb.py :: DERIVE_OPERATORS].
    */
  def transition(op: String, maxValue: Option[Double])(
      prev: LastPoint, ts: Long, v: Double): Option[Double] = op match {
    case "derivative" =>
      if (ts > prev.tsUs) Some((v - prev.value) / ((ts - prev.tsUs).toDouble / 1000000.0))
      else None
    case "counter_reset" =>
      if (v < prev.value) Some(1.0) else None
    case "counter_derivative" =>
      if (ts <= prev.tsUs) None
      else {
        val delta =
          if (v >= prev.value) Some(v - prev.value)
          else maxValue.map(m => v + (m - prev.value))
        delta.map(_ / ((ts - prev.tsUs).toDouble / 1000000.0))
      }
    case other => throw new errors.InvalidOperatorArguments(s"unknown derive op $other")
  }

  /** Stateful streaming derive: keyed by stream, keeps the last datapoint
    * in the state store, applies `transition` to each in-order arrival.
    * Within a micro-batch points are sorted by event time; an arrival older
    * than the stored state is dropped — the streaming analog of the
    * reference rejecting non-monotone appends (T3/T4).
    */
  def derive(points: Dataset[Point], op: String,
             maxValue: Option[Double] = None): Dataset[Derived] = {
    import points.sparkSession.implicits._
    val f = transition(op, maxValue) _
    points.groupByKey(_.stream_id)
      .flatMapGroupsWithState[LastPoint, Derived](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: String, it: Iterator[Point], state: GroupState[LastPoint]) =>
          val sorted = it.toVector.sortBy(p => us(p.ts))
          var prev = state.getOption
          val out = Vector.newBuilder[Derived]
          sorted.foreach { p =>
            val t = us(p.ts)
            prev match {
              case Some(s) if t < s.tsUs => // stale arrival: drop
              case Some(s) =>
                f(s, t, p.value).foreach(d => out += Derived(key, p.ts, d))
                prev = Some(LastPoint(t, p.value))
              case None =>
                prev = Some(LastPoint(t, p.value))
            }
          }
          prev.foreach(state.update)
          out.result().iterator
      }
  }

  /** T3 for the INGEST path: per-stream monotonicity enforcement as a
    * stateful pre-sink filter, closing the batch/streaming policy
    * divergence (batch `appendMultiple` rejects or drops stale rows
    * against the registry's `latest_datapoint`; plain streaming ingest
    * relied on the watermark only). Keeps the last-seen event time per
    * stream in the state store and drops any arrival strictly older —
    * including ACROSS micro-batches, which a watermark alone does not
    * guarantee. Equal timestamps pass, exactly like the batch check
    * (`ts < latest` is the stale predicate). Within a batch, rows are
    * applied in event-time order, mirroring the batch path's sorted apply.
    */
  private class MonotoneFilter
      extends StatefulProcessor[String, Point, Point] {
    @transient private var last: ValueState[LastPoint] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      last = getHandle.getValueState[LastPoint](
        "last_ts", Encoders.product[LastPoint], TTLConfig.NONE)

    override def handleInputRows(key: String, rows: Iterator[Point],
                                 timers: TimerValues): Iterator[Point] = {
      val sorted = rows.toVector.sortBy(p => us(p.ts))
      var lastTs = Option(last.get()).map(_.tsUs)
      val out = Vector.newBuilder[Point]
      sorted.foreach { p =>
        val t = us(p.ts)
        if (!lastTs.exists(t < _)) { out += p; lastTs = Some(t) }
      }
      lastTs.foreach(t => last.update(LastPoint(t, 0.0)))
      out.result().iterator
    }
  }

  /** S1 streaming ingest INTO A MANAGED WAREHOUSE: each micro-batch goes
    * through `Datastream.appendBatch`, so rows land dp_date-partitioned AND
    * the registry's earliest/latest bounds advance with them. A plain
    * `ingest` pointed at a warehouse's raw path writes rows the registry
    * never hears about — leaving its bounds stale and breaking
    * monotonicity bookkeeping; this sink
    * keeps the registry contract on the streaming path. Exactly-once rides
    * the batch-id cursor `appendBatch` commits in the same snapshot
    * manifest as the rows (foreachBatch's own writes are only
    * at-least-once), not the parquet-sink commit log.
    */
  def ingestToWarehouse(points: DataFrame, ds: Datastream, checkpoint: String) =
    points.select(col("stream_id"), col("ts"), col("value"))
      .writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        ds.appendBatch(batch, batchId)
      }

  /** Streaming RESTATEMENT sink — the upsert twin of [[ingestToWarehouse]]:
    * each micro-batch MERGES by `(stream_id, ts)` through
    * [[Datastream.upsertBatch]] (idempotent under foreachBatch replays via
    * its own batch-id cursor), so a correction feed — sensors re-reporting
    * a window, a backfill restating a slice — lands through the same
    * atomic copy-on-write commit and same-commit rollup repair as the
    * batch verb. Keys must be unique within each micro-batch (the upsert
    * contract); dedupe upstream with `dropDuplicates` when the feed can
    * carry intra-batch restatements of one key.
    */
  def upsertToWarehouse(points: DataFrame, ds: Datastream, checkpoint: String,
                        maxPruneStreams: Int =
                          Datastream.DefaultMaxPruneStreams) =
    points.select(col("stream_id"), col("ts"), col("value"))
      .writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        ds.upsertBatch(batch, batchId, maxPruneStreams)
      }

  /** Streaming SEARCH-INDEX maintenance: each micro-batch of documents
    * folds into the persisted BM25 inverted index as one O(shard)
    * versioned append (the first batch builds it), exactly-once via the
    * batch id its commit marker records ([[ext.Search.appendBatchToIndex]]) —
    * a crawler feed keeps the retrieval index current without ever
    * rebuilding or rescanning the corpus. Shard doc ids must be new
    * (dedupe upstream — compose [[dedupIngest]] or the persisted dedup
    * index); df/avgdl compose additively across shards by the index's
    * stats layout, so a query after any batch equals a scan over
    * everything ingested so far, bit-for-bit.
    */
  def ingestToSearchIndex(docs: DataFrame, indexPath: String,
                          checkpoint: String,
                          textCol: String = "text",
                          idCol: String = "doc_id") =
    docs.select(col(idCol), col(textCol))
      .writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        ext.Search.appendBatchToIndex(batch, indexPath, batchId,
          textCol, idCol)
      }

  /** Stream-maintain a PLAIN IVF vector index: each micro-batch folds in
    * exactly-once through [[ext.Ivf.appendBatchToIndex]] (first batch
    * builds/trains, later batches publish O(shard) versioned appends) —
    * the live-embedding-pipeline twin of [[ingestToSearchIndex]].
    * Readers keep resolving complete committed versions throughout.
    */
  def ingestToIvfIndex(vecs: DataFrame, indexPath: String,
                       checkpoint: String, nCells: Int = 64,
                       vecCol: String = "embedding",
                       idCol: String = "vec_id") =
    vecs.select(col(idCol), col(vecCol))
      .writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        ext.Ivf.appendBatchToIndex(batch, indexPath, batchId, nCells,
          vecCol, idCol)
      }

  /** [[ingestToIvfIndex]]'s IVF-PQ twin: first batch trains centroids and
    * codebooks, later batches encode against the frozen model — same
    * exactly-once fold protocol.
    */
  def ingestToPqIndex(vecs: DataFrame, indexPath: String,
                      checkpoint: String, nCells: Int = 64,
                      m: Int = 16, codes: Int = 32,
                      vecCol: String = "embedding",
                      idCol: String = "vec_id") =
    vecs.select(col(idCol), col(vecCol))
      .writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        ext.Ivf.appendBatchToPqIndex(batch, indexPath, batchId, nCells,
          m, codes, vecCol, idCol)
      }

  /** Stream-maintain the persisted DEDUP index: each micro-batch is
    * deduped against the live index (and within itself), survivors fold
    * in exactly-once ([[ext.DedupIndex.appendBatchDeduped]]) — continuous
    * corpus ingestion with online dedup, the last of the three persisted
    * indexes to gain a streaming arm (search and IVF/IVF-PQ have theirs).
    */
  def ingestToDedupIndex(docs: DataFrame, indexPath: String,
                         checkpoint: String, threshold: Double = 0.8,
                         textCol: String = "text",
                         idCol: String = "doc_id") =
    docs.select(col(idCol), col(textCol))
      .writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        ext.DedupIndex.appendBatchDeduped(batch, indexPath, batchId,
          threshold, textCol = textCol, idCol = idCol)
      }

  /** An emitted anomaly score (nullable stats during warm-up). */
  case class Scored(stream_id: String, ts: Timestamp, value: Double,
                    n_prior: Long, prior_mean: Option[Double],
                    prior_std: Option[Double], is_anomaly: Boolean)
  /** Ring-buffer state for the rolling-anomaly processor: last ≤k values
    * in arrival order plus the last-seen event time (stale-arrival drop,
    * as in the derive processors).
    */
  case class Ring(values: Array[Double], lastTsUs: Long)

  /** The rolling-anomaly scorer as a stateful streaming op: per stream, a
    * bounded ring buffer of the previous `k` values scores each arrival
    * against its trailing mean/σ — `Derive.rollingAnomaly`'s semantics
    * with O(k) state per key instead of a batch window. The arithmetic
    * replays the batch op EXACTLY: each value quantizes to
    * DECIMAL(38,10) the way Spark's double→decimal cast does
    * (`BigDecimal.valueOf`, HALF_UP at scale 10), the decimal sums are
    * exact, and the doubles derive by the same IEEE op sequence — so on
    * in-order input the streaming output is bit-identical to the batch
    * window (the gate pins this under the SAME oracle twin). Stale
    * arrivals (event time before the last seen) are dropped, like the
    * derive processors.
    */
  private class AnomalyProcessor(k: Int, z: Double, minPrior: Int)
      extends StatefulProcessor[String, Point, Scored] {
    @transient private var ring: ValueState[Ring] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      ring = getHandle.getValueState[Ring](
        "ring", Encoders.product[Ring], TTLConfig.NONE)

    private def dec(d: Double): java.math.BigDecimal =
      java.math.BigDecimal.valueOf(d)
        .setScale(10, java.math.RoundingMode.HALF_UP)

    override def handleInputRows(key: String, rows: Iterator[Point],
                                 timers: TimerValues): Iterator[Scored] = {
      val sorted = rows.toVector.sortBy(p => us(p.ts))
      var st = Option(ring.get()).getOrElse(Ring(Array.empty, Long.MinValue))
      val out = Vector.newBuilder[Scored]
      sorted.foreach { p =>
        val t = us(p.ts)
        if (t >= st.lastTsUs || st.values.isEmpty) {
          val n = st.values.length
          if (n == 0)
            // the batch window's warm-up row: mean is NULL (empty-frame sum
            // divided by 0 priors) but std is 0.0 — greatest(NULL, 0.0)
            // skips the NULL before sqrt in Spark AND DuckDB alike
            out += Scored(key, p.ts, p.value, 0L, None, Some(0.0),
              is_anomaly = false)
          else {
            // decimal-exact sums, then the batch op's double derivation:
            // mean = toDouble(Σ dec(v)) / n, var = toDouble(Σ dec(v·v))/n − mean²
            val s = st.values.map(dec).reduce(_.add(_)).doubleValue()
            val q = st.values.map(v => dec(v * v)).reduce(_.add(_)).doubleValue()
            val mean = s / n.toDouble
            val varP = math.max(q / n.toDouble - mean * mean, 0.0)
            val std = math.sqrt(varP)
            out += Scored(key, p.ts, p.value, n.toLong, Some(mean), Some(std),
              is_anomaly = n >= minPrior && math.abs(p.value - mean) > z * std)
          }
          val appended = st.values :+ p.value
          st = Ring(appended.takeRight(k), t)
        } // else: stale arrival, dropped
      }
      ring.update(st)
      out.result().iterator
    }
  }

  /** `Derive.rollingAnomaly` as a real streaming query on the
    * `transformWithState` API (requires the RocksDB state store provider,
    * `spark.sql.streaming.stateStore.providerClass`).
    */
  def anomaly(points: Dataset[Point], k: Int = 20, z: Double = 3.0,
              minPrior: Int = 5): Dataset[Scored] = {
    implicit val enc: Encoder[Scored] = Encoders.product[Scored]
    points.groupByKey(_.stream_id)(Encoders.STRING)
      .transformWithState(new AnomalyProcessor(k, z, minPrior),
        TimeMode.None(), OutputMode.Append(), enc)
  }

  /** The sessionizer's streaming arm: Spark's native `session_window`
    * under a watermark in append mode — a session is emitted exactly once,
    * when the watermark passes its close (last event + gap). Decimal value
    * partials like everywhere else. `session_window`'s `end` is
    * last-event-time + gap, so `session_last` re-derives the batch op's
    * `session_end` (max event ts) by subtracting the gap.
    *
    * Boundary note vs the batch `Sessionize.sessions`: the batch op keeps
    * two events in one session at inter-arrival == gap (strict `>` starts
    * a session); `session_window` merges on window OVERLAP, so an exact
    * ==gap arrival starts a new session. At µs resolution an exact-gap
    * pair has measure zero; deployments that must pin the boundary use
    * the batch op.
    */
  def sessionizeStream(raw: DataFrame, keys: Seq[String], gap: String,
                       delay: String): DataFrame =
    raw.withWatermark("ts", delay)
      .groupBy(keys.map(col) :+ session_window(col("ts"), gap).as("w"): _*)
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast(Downsample.DecV)).as("vsum_dec"),
        max("ts").as("session_last"))
      .select(keys.map(col) :+ col("w.start").as("session_start") :+
        col("session_last") :+ col("n_events") :+ col("vsum_dec"): _*)

  /** X1's streaming arm: exact-dedup ingest. Documents are keyed by
    * content hash and deduplicated ACROSS micro-batches —
    * `dropDuplicates` on a streaming DataFrame keeps every seen key in
    * the state store, which here is precisely the dedup index (one row
    * per distinct document, the same cardinality the batch index pays).
    * The replayed-shard / re-crawl case every training-ingest pipeline
    * hits: the second delivery of a document must not land. At cluster
    * scale the state store is RocksDB-backed; if the ingest window is
    * bounded, `withWatermark` + `dropDuplicatesWithinWatermark` caps
    * state by event time instead — same plan shape, TTL'd state.
    * NULL-text rows all share the NULL hash key, so at most one lands —
    * filter them upstream if they must be kept.
    */
  /** X5's STREAMING arm — multimodal decode at the ingest edge: each
    * arriving document is bound to its image asset and decoded through
    * the REAL `javax.imageio` codec per micro-batch (both stateless
    * narrow maps, no watermark, no shuffle before the state op), then
    * cross-batch exactly-once delivery comes from `dropDuplicates` state
    * on `asset_id` — a shard redelivered wholesale (the crawler-retry
    * shape) decodes again but LANDS once, and the sink stores decoded
    * METADATA (dims, channels, health flag), never the payload: the
    * triage a multimodal pipeline wants before paying storage. Same
    * unbounded-state caveat and bounded `withWatermark` alternative as
    * [[dedupIngest]]; corrupt payloads degrade to the decoder's
    * deterministic fallback row (`decode_ok = false`) instead of killing
    * the stream — poison-pill assets must not wedge an ingest pipeline.
    */
  def decodeIngest(docs: DataFrame, outPath: String, checkpoint: String) =
    ext.Multimodal.decode(ext.Multimodal.pngAssets(docs)).toDF()
      .dropDuplicates("asset_id")
      .writeStream
      .format("parquet")
      .option("path", outPath)
      .option("checkpointLocation", checkpoint)
      .outputMode("append")

  def dedupIngest(docs: DataFrame, outPath: String, checkpoint: String,
                  textCol: String = "text") =
    docs.withColumn("content_hash", md5(col(textCol)))
      .dropDuplicates("content_hash")
      .writeStream
      .format("parquet")
      .option("path", outPath)
      .option("checkpointLocation", checkpoint)
      .outputMode("append")

  /** Streaming corpus QUALITY FILTER: each arriving document is scored
    * with the Gopher repetition signals (`ext.Text.withRepetitionSignals`
    * — a stateless narrow map, so no watermark and no state store) and
    * only docs whose most-frequent n-gram share is within `maxTopFrac`
    * land; docs too short to produce an n-gram carry no evidence and
    * always land, exactly as the batch operator treats them. The filter
    * every training-ingest pipeline wants BEFORE paying storage for a
    * crawl shard, here as a pre-sink stage that composes with
    * [[dedupIngest]]'s hash state downstream.
    */
  def filterIngest(docs: DataFrame, outPath: String, checkpoint: String,
                   maxTopFrac: Double, n: Int = 2,
                   textCol: String = "text") =
    ext.Text.withRepetitionSignals(docs, n, textCol)
      .where(col("top_frac").isNull || col("top_frac") <= maxTopFrac)
      .drop("n_grams", "distinct_grams", "dup_frac", "top_frac")
      .writeStream
      .format("parquet")
      .option("path", outPath)
      .option("checkpointLocation", checkpoint)
      .outputMode("append")

  /** LM-quality-filtered streaming ingest — the CCNet deployment shape:
    * the bigram model is learned BATCH from a curated reference slice
    * (`Text.learnBigramLm`) and shipped to the stream like a KenLM
    * binary; each micro-batch's documents are scored by the same
    * zero-shuffle narrow fold as the batch path (`Text.withLmSurprise`,
    * stateless — no watermark or state store needed) and docs whose
    * surprise exceeds `maxSurprise` are dropped before landing.
    */
  def filterIngestLm(docs: DataFrame, model: ext.Text.BigramLm,
                     outPath: String, checkpoint: String,
                     maxSurprise: Double, textCol: String = "text") =
    ext.Text.withLmSurprise(docs, model, textCol)
      .where(col("lm_surprise") <= maxSurprise)
      .drop("lm_pairs", "lm_unseen", "lm_surprise")
      .writeStream
      .format("parquet")
      .option("path", outPath)
      .option("checkpointLocation", checkpoint)
      .outputMode("append")

  /** Gopher-rule-filtered streaming ingest — the rule set is stateless
    * (pure per-row expressions, no learned artifact at all), so the
    * stream arm IS the batch projection applied per micro-batch: no
    * watermark, no state store, no broadcast; only documents passing
    * every rule land. The cheapest filter in the chain, which is why
    * real pipelines run it FIRST, before any model-scored stage.
    */
  def filterIngestGopher(docs: DataFrame, outPath: String,
                         checkpoint: String,
                         stopwords: Seq[String] = ext.Text.GopherStopwords,
                         textCol: String = "text") =
    ext.Text.withGopherKeep(docs, textCol, stopwords = stopwords)
      .where(col("keep"))
      .drop("keep")
      .writeStream
      .format("parquet")
      .option("path", outPath)
      .option("checkpointLocation", checkpoint)
      .outputMode("append")

  /** Trained-classifier-filtered streaming ingest — the deployment shape
    * of the crawl-vs-curated filter (GPT-3's WebText-like classifier in
    * front of the raw crawl): the class-conditional unigram models are
    * learned BATCH from curated slices (`Text.learnClassUnigrams`) and
    * shipped to the stream; each micro-batch is labeled by the same
    * zero-shuffle argmin-surprise map as the batch path
    * (`Text.withClassLabel`, stateless — no watermark or state store)
    * and only documents labeled `keep` land.
    */
  def filterIngestClassifier(docs: DataFrame,
                             classes: Seq[(String, ext.Text.ClassUnigrams)],
                             outPath: String, checkpoint: String,
                             keep: String, textCol: String = "text") =
    ext.Text.withClassLabel(docs, classes, textCol)
      .where(col("clf_label") === keep)
      .drop("clf_label")
      .writeStream
      .format("parquet")
      .option("path", outPath)
      .option("checkpointLocation", checkpoint)
      .outputMode("append")

  /** Tokenizing streaming ingest — the deployment shape of corpus
    * id-mapping: the vocabulary is built BATCH (`Text.buildVocab`) and
    * shipped to the stream as a bounded map literal; each micro-batch is
    * mapped by the same stateless per-row `transform` as the batch
    * projection (`Text.withIds` — no explode, no join, no state store,
    * no watermark), landing every document with its id sequence.
    */
  def mapIngestVocab(docs: DataFrame, vocab: Map[String, Long],
                     outPath: String, checkpoint: String,
                     textCol: String = "text") =
    ext.Text.withIds(docs, vocab, textCol)
      .writeStream
      .format("parquet")
      .option("path", outPath)
      .option("checkpointLocation", checkpoint)
      .outputMode("append")

  /** Event-time interval join of two LIVE streams — the stream-stream
    * join family (Spark's state-store join, the one join shape neither a
    * broadcast nor a static side can express): each click matched to
    * every view of the same user within the preceding `lag`. BOTH sides
    * carry watermarks and the range condition bounds the join state — the
    * store retains only rows inside the watermark+lag band per key, so
    * state is O(arrival rate × lag), never O(history); at cluster scale
    * both sides hash-partition on the key and the state store shards with
    * them. Inner join, append mode: each match emits exactly once.
    */
  def intervalJoinIngest(clicks: DataFrame, views: DataFrame,
                         outPath: String, checkpoint: String,
                         lag: String = "1 hour") = {
    val c = clicks
      .select(col("user_id"), col("ts").as("click_ts"),
        col("value").as("click_value"))
      .withWatermark("click_ts", lag)
    val v = views
      .select(col("user_id").as("_v_user"), col("ts").as("view_ts"),
        col("value").as("view_value"))
      .withWatermark("view_ts", lag)
    c.join(v, col("user_id") === col("_v_user") &&
        col("view_ts") <= col("click_ts") &&
        col("view_ts") >= col("click_ts") - expr(s"INTERVAL $lag"))
      .select("user_id", "click_ts", "view_ts", "click_value", "view_value")
      .writeStream
      .format("parquet")
      .option("path", outPath)
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
  }

  /** [[dedupIngest]] with BOUNDED state: `withWatermark` +
    * `dropDuplicatesWithinWatermark` caps the dedup state by event time —
    * a content hash is remembered only until the watermark passes its
    * first sighting plus `delay`, then evicted. The trade the unbounded
    * flavor's scaladoc cites, made concrete: a replay arriving WITHIN the
    * watermark window is dropped exactly like `dropDuplicates`, a replay
    * arriving after its state expired lands AGAIN (at-least-once beyond
    * the window) — correct for re-crawl/replay loops whose lag is
    * bounded, and the only shape whose state does not grow with corpus
    * size. State keyed by content hash, TTL'd by the engine; RocksDB-
    * backed at cluster scale like every stateful op here.
    */
  def dedupIngestBounded(docs: DataFrame, outPath: String, checkpoint: String,
                         delay: String = "10 minutes",
                         textCol: String = "text", tsCol: String = "ts") =
    docs.withColumn("content_hash", md5(col(textCol)))
      .withWatermark(tsCol, delay)
      .dropDuplicatesWithinWatermark("content_hash")
      .writeStream
      .format("parquet")
      .option("path", outPath)
      .option("checkpointLocation", checkpoint)
      .outputMode("append")

  /** `ingest` with the monotonicity filter applied: the strict-parity
    * streaming ingest for deployments where the batch reject/drop contract
    * must hold on the streaming path too.
    */
  def ingestMonotone(points: Dataset[Point], rawPath: String,
                     checkpoint: String) = {
    implicit val enc: Encoder[Point] = Encoders.product[Point]
    ingest(points.groupByKey(_.stream_id)(Encoders.STRING)
        .transformWithState(new MonotoneFilter,
          TimeMode.None(), OutputMode.Append(), enc)
        .toDF(),
      rawPath, checkpoint)
  }
}
