package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Derived streams — the reference's derive operators
  * [ds :: backends/mongodb.py :: DERIVE_OPERATORS
  *  {sum, derivative, counter_reset, counter_derivative}] (SURVEY.md §2.5).
  *
  * The reference updates derived streams point-at-a-time at append; the
  * batch-native shape is a per-stream ordered window (`lag` over
  * `partitionBy(stream_id).orderBy(ts, ...)`) — one shuffle keyed by
  * stream, no driver-side iteration, arbitrarily many streams in parallel.
  * The streaming flavor keeps `(prev_ts, prev_value)` per stream in
  * `flatMapGroupsWithState` (see streaming/).
  *
  * All window specs use explicit ROWS frames and a total order
  * (`ts, tieBreak`) so results are deterministic under ties.
  */
object Derive {

  /** The derive-op name space the facade admits into the registry (W1–W4).
    * Validated at ensure time so a typo'd op is rejected at the door rather
    * than failing a later `updateDerivedStreams` pass.
    */
  val ops: Set[String] =
    Set("sum", "derivative", "counter_reset", "counter_derivative")

  private def w(partition: Seq[String], order: Seq[String]) =
    Window.partitionBy(partition.map(col): _*).orderBy(order.map(col): _*)

  /** Seconds between a timestamp and its predecessor, as exact µs → double. */
  private def dtSeconds(tsCol: Column, prevTs: Column): Column =
    (unix_micros(tsCol) - unix_micros(prevTs)).cast("double") / 1000000.0

  // Lag ops: two predecessor primitives (`windowPrev`, `chunkedPrev`) and
  // one emitter per op over either, so each op's arithmetic exists once.

  /** Each row plus its predecessor's `(_pv, _pt)` under (partition, order),
    * from one window over the whole partition.
    */
  private def windowPrev(df: DataFrame, partition: Seq[String],
                         order: Seq[String], valueCol: String): DataFrame = {
    val win = w(partition, order)
    df.withColumn("_pv", lag(col(valueCol), 1).over(win))
      .withColumn("_pt", lag(col("ts"), 1).over(win))
  }

  /** Each row plus its predecessor's `(_pv, _pt)` under (partition, order),
    * computed with BOUNDED (partition, day) window tasks: intra-chunk lags,
    * then each chunk's first row takes its predecessor from the previous
    * chunk's last row (a per-(partition, day) summary whose window orders
    * DAYS per partition — days-per-stream cardinality, never datapoints).
    * `windowPrev` routes an ENTIRE stream's history through one task —
    * fine for millions of modest streams, a straggler for one 10-year
    * stream at 100 TB; this is the primitive behind every chunked flavor.
    */
  private def chunkedPrev(df: DataFrame,
                          partition: Seq[String], order: Seq[String],
                          valueCol: String): DataFrame = {
    val withC = df.withColumn("_chunk", to_date(col("ts")))
    val keys = partition :+ "_chunk"
    val win = w(keys, order)
    // the predecessor rides as ONE struct: lag(struct) is null exactly for
    // each chunk's first row (a predecessor row with a null VALUE still
    // yields a non-null struct), so the boundary stitch can never pair a
    // previous-day value with a same-day timestamp — coalescing _pv and _pt
    // independently would do exactly that when a predecessor's value is null
    val intra = withC
      .withColumn("_prev",
        lag(struct(col(valueCol).as("v"), col("ts").as("t")), 1).over(win))
    // last (value, ts) of each chunk under the same (ts, tieBreak) order
    val summary = withC.groupBy(keys.map(col): _*)
      .agg(max_by(struct(col(valueCol).as("v"), col("ts").as("t")),
        struct(order.map(col): _*)).as("_last"))
    val prev = summary
      .withColumn("_prevLast",
        lag(col("_last"), 1).over(w(partition, Seq("_chunk"))))
      .select((keys.map(col) :+ col("_prevLast")): _*)
    intra.join(prev, keys)
      .withColumn("_prev", coalesce(col("_prev"), col("_prevLast")))
      .withColumn("_pv", col("_prev.v"))
      .withColumn("_pt", col("_prev.t"))
  }

  /** Rows with a predecessor strictly earlier in time. */
  private def advancing(prev: DataFrame): DataFrame =
    prev.where(col("_pv").isNotNull &&
      unix_micros(col("ts")) > unix_micros(col("_pt")))

  /** W2 emitter: (vᵢ − vᵢ₋₁) / Δt_seconds. */
  private def derivativeOf(prev: DataFrame, partition: Seq[String],
                           valueCol: String): DataFrame =
    advancing(prev).select(partition.map(col) :+ col("ts") :+
      ((col(valueCol) - col("_pv")) / dtSeconds(col("ts"), col("_pt")))
        .as("derivative"): _*)

  /** W3 emitter: `1` wherever vᵢ < vᵢ₋₁. */
  private def counterResetOf(prev: DataFrame, partition: Seq[String],
                             valueCol: String): DataFrame =
    prev.where(col("_pv").isNotNull && col(valueCol) < col("_pv"))
      .select(partition.map(col) :+ col("ts") :+ lit(1L).as("reset"): _*)

  /** W4 emitter: like W2 with wraparound — on a decrease the delta is
    * v + (maxValue − prev), or no sample when the row's `maxValue` is null.
    */
  private def counterDerivativeOf(prev: DataFrame, maxValue: Column,
                                  partition: Seq[String],
                                  valueCol: String): DataFrame = {
    val v = col(valueCol)
    advancing(prev)
      .withColumn("_delta", when(v >= col("_pv"), v - col("_pv"))
        .otherwise(when(maxValue.isNotNull, v + (maxValue - col("_pv")))))
      .where(col("_delta").isNotNull)
      .select(partition.map(col) :+ col("ts") :+
        (col("_delta").cast("double") / dtSeconds(col("ts"), col("_pt")))
          .as("counter_derivative"): _*)
  }

  /** A global `max_value` as the emitter's column; must be positive. */
  private def maxValueLit(maxValue: Option[Double]): Column = {
    maxValue.foreach { m =>
      if (m <= 0) throw new errors.InvalidOperatorArguments(
        s"counter_derivative max_value must be positive, got $m")
    }
    maxValue.map(lit).getOrElse(lit(null).cast("double"))
  }

  /** W2 `derivative`: (vᵢ − vᵢ₋₁) / Δt_seconds for consecutive datapoints of
    * one stream; the first datapoint emits nothing. Reference timestamps are
    * strictly increasing (monotone append), so Δt=0 rows are dropped too.
    */
  def derivative(df: DataFrame,
                 partition: Seq[String] = Seq("stream_id"),
                 order: Seq[String] = Seq("ts", "event_id"),
                 valueCol: String = "value"): DataFrame =
    derivativeOf(windowPrev(df, partition, order, valueCol), partition, valueCol)

  /** W2 for unbounded stream length, on [[chunkedPrev]]'s bounded tasks.
    * Row-for-row identical to `derivative` (shared oracle).
    */
  def derivativeChunked(df: DataFrame,
                        partition: Seq[String] = Seq("stream_id"),
                        order: Seq[String] = Seq("ts", "event_id"),
                        valueCol: String = "value"): DataFrame =
    derivativeOf(chunkedPrev(df, partition, order, valueCol), partition, valueCol)

  /** W3 `counter_reset`: emit datapoint `1` at tᵢ whenever vᵢ < vᵢ₋₁ (a
    * monotone counter restarted).
    */
  def counterReset(df: DataFrame,
                   partition: Seq[String] = Seq("stream_id"),
                   order: Seq[String] = Seq("ts", "event_id"),
                   valueCol: String = "value"): DataFrame =
    counterResetOf(windowPrev(df, partition, order, valueCol), partition, valueCol)

  /** W3's bounded-task flavor — same result as `counterReset`. */
  def counterResetChunked(df: DataFrame,
                          partition: Seq[String] = Seq("stream_id"),
                          order: Seq[String] = Seq("ts", "event_id"),
                          valueCol: String = "value"): DataFrame =
    counterResetOf(chunkedPrev(df, partition, order, valueCol), partition, valueCol)

  /** W4 `counter_derivative`: like W2 for wrap-around counters. On decrease,
    * delta = v + (maxValue − prev) when `maxValue` is given; without
    * `maxValue` a decrease is treated as a reset and the sample is skipped
    * (the reference's behavior with its auxiliary reset stream).
    */
  def counterDerivative(df: DataFrame,
                        maxValue: Option[Double],
                        partition: Seq[String] = Seq("stream_id"),
                        order: Seq[String] = Seq("ts", "event_id"),
                        valueCol: String = "value"): DataFrame =
    counterDerivativeByCol(df, maxValueLit(maxValue), partition, order, valueCol)

  /** W4 with a PER-ROW `max_value` column instead of a global option — the
    * shape the facade's join-based derived-stream refresh needs, where ONE
    * window evaluates counter_derivative for every derived stream at once
    * and each stream's parsed `max_value` rides the joined metadata. A null
    * `maxValue` cell reproduces the Option-None arm (decrease ⇒ dropped).
    */
  def counterDerivativeByCol(df: DataFrame, maxValue: Column,
                             partition: Seq[String] = Seq("stream_id"),
                             order: Seq[String] = Seq("ts", "event_id"),
                             valueCol: String = "value"): DataFrame =
    counterDerivativeOf(windowPrev(df, partition, order, valueCol), maxValue,
      partition, valueCol)

  /** W4's bounded-task flavor — same wraparound arithmetic as
    * `counterDerivative`.
    */
  def counterDerivativeChunked(df: DataFrame,
                               maxValue: Option[Double],
                               partition: Seq[String] = Seq("stream_id"),
                               order: Seq[String] = Seq("ts", "event_id"),
                               valueCol: String = "value"): DataFrame =
    counterDerivativeOf(chunkedPrev(df, partition, order, valueCol),
      maxValueLit(maxValue), partition, valueCol)

  /** W1 `sum` (multi-stream): align the datapoints of N source streams on
    * their rounded timestamp and emit the per-bucket sum (J2). All sources
    * must share a granularity — enforced by the caller/facade via
    * `IncompatibleGranularities` (see api.scala).
    *
    * Implemented as union → single `groupBy(derivedKeys, bucket)`: one
    * shuffle total, regardless of source-stream count. Decimal sums keep
    * the result exact and identical to any per-stream pre-aggregation.
    */
  def sumStreams(sources: DataFrame, g: Granularity,
                 derivedKeys: Seq[String]): DataFrame =
    sources
      .groupBy(derivedKeys.map(col) :+
        Downsample.bucketStart(col("ts"), g).as("bucket_start"): _*)
      .agg(
        sum(col("value").cast(Downsample.DecV)).cast("double").as("sum"),
        count(lit(1)).as("contributing"))

  /** W1 `sum` with the reference's COMPLETENESS semantics: a bucket is
    * emitted only when every declared source stream contributed at least
    * one datapoint to it [ds :: backends/mongodb.py :: derive op "sum" —
    * the derived datapoint is appended once all sources reach the bucket].
    * Plain `sumStreams` emits partial buckets with a `contributing` count
    * the caller may filter; this flavor enforces the contract in the
    * operator itself.
    *
    * Two-level aggregation, NOT `count_distinct`: per-(bucket, source)
    * decimal partials first (partial-agg combines map-side, so a hot
    * bucket never routes all its raw rows through one distinct-expand),
    * then per-bucket merge where the row count IS the distinct source
    * count. Decimal partial re-aggregation is exact, so emitted sums are
    * bit-identical to `sumStreams` on the same bucket.
    */
  def sumStreamsRequireAll(sources: DataFrame, g: Granularity,
                           derivedKeys: Seq[String],
                           sourceIds: Seq[String],
                           sourceCol: String = "stream_id"): DataFrame = {
    require(sourceIds.nonEmpty, "sumStreamsRequireAll needs a declared source set")
    val perSource = sources
      .where(col(sourceCol).isin(sourceIds: _*))
      .groupBy(derivedKeys.map(col) :+
        Downsample.bucketStart(col("ts"), g).as("bucket_start") :+
        col(sourceCol): _*)
      .agg(sum(col("value").cast(Downsample.DecV)).as("_part"),
        count(lit(1)).as("_cnt"))
    perSource
      .groupBy(derivedKeys.map(col) :+ col("bucket_start"): _*)
      .agg(sum("_part").cast("double").as("sum"),
        sum("_cnt").as("contributing"),
        count(lit(1)).as("n_sources"))
      .where(col("n_sources") === sourceIds.size)
  }

  /** Rolling anomaly detection: each datapoint scored against the mean/σ
    * of its stream's previous `k` points (ROWS frame, current row
    * excluded — the score must not see the value it judges). The
    * monitoring use the reference's deployments ran on top of the raw
    * API, as a first-class operator.
    *
    * Exactness: the rolling sums accumulate in DECIMAL(38,10) — exact and
    * associative, so any windowed-summation tree (sliding-window segment
    * trees included) yields the same partials — and the doubles (mean,
    * variance, threshold compare) derive from them by a fixed IEEE op
    * sequence the oracle replays. Population variance, clamped at 0
    * against cancellation, same as the downsample cascade's std_dev. One
    * window shuffle keyed by stream.
    */
  def rollingAnomaly(dp: DataFrame, k: Int = 20, z: Double = 3.0,
                     minPrior: Int = 5,
                     partition: Seq[String] = Seq("stream_id"),
                     order: Seq[String] = Seq("ts")): DataFrame = {
    require(k > 0 && minPrior > 0 && z > 0, "k, minPrior, z must be positive")
    val win = w(partition, order).rowsBetween(-k, -1)
    val nPrior = count(lit(1)).over(win)
    val meanP = (sum(col("value").cast(Downsample.DecV)).over(win).cast("double") /
      nPrior.cast("double"))
    val varP = greatest(
      sum((col("value") * col("value")).cast(Downsample.DecV)).over(win)
        .cast("double") / nPrior.cast("double") - meanP * meanP,
      lit(0.0))
    dp.withColumn("n_prior", nPrior)
      .withColumn("prior_mean", meanP)
      .withColumn("prior_std", sqrt(varP))
      .withColumn("is_anomaly",
        col("n_prior") >= minPrior &&
          abs(col("value") - col("prior_mean")) > lit(z) * col("prior_std"))
  }

  /** The integer "wrapping counter" fixture used by the oracle-twin queries
    * (FIXTURES.md §B): an exact cumulative counter per stream, wrapped at
    * `modulus`. floor(value·100) makes it integer (exact in both engines);
    * the running sum uses an explicit ROWS frame.
    */
  def wrappingCounter(df: DataFrame, modulus: Long,
                      partition: Seq[String] = Seq("stream_id"),
                      order: Seq[String] = Seq("ts", "event_id"),
                      valueCol: String = "value"): DataFrame = {
    val win = w(partition, order)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("counter",
      sum(floor(col(valueCol) * 100).cast("long")).over(win) % modulus)
  }
}
