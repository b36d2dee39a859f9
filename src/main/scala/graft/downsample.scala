package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The downsampling cascade — the heart of the reference engine
  * [ds :: backends/mongodb.py :: downsample_streams, _downsample]
  * (SURVEY.md §2.4).
  *
  * Design (Spark-first, not a port):
  *
  *  - One `groupBy(stream_id, bucket)` per granularity level, a single
  *    shuffle regardless of stream count; incremental maintenance folds
  *    every level in one `groupBy(level, stream_id, bucket)`
  *    ([[routedRollup]]). The reference iterates streams in a Python
  *    driver loop; we must not (SURVEY.md §7.4.5).
  *  - Buckets are epoch-aligned, labeled by start, half-open
  *    `[start, start+duration)` — identical to the reference's
  *    `round_timestamp` [ds :: api.py :: Granularity.round_timestamp].
  *  - Per-bucket state is the *re-aggregable partial*:
  *    `(cnt, vsum, vmin, vmax, vsumsq, tfirst, tlast, tsum_us)`.
  *    Sums are `DECIMAL(38,10)` / `DECIMAL(38,0)`: decimal addition is
  *    exact and associative, so rolling level N up from level N−1 is
  *    *bit-identical* to aggregating level N directly from raw data —
  *    the ladder is a pure rollup with no float drift, and `mean` /
  *    `std_dev` are derived at read time from (sum, count, sum_squares)
  *    [SURVEY.md §1.3].
  *  - At 100 TB: every level's partials land in one write, partitioned by
  *    `(granularity, date(bucket_start))`; maintenance reads the raw slice
  *    once and each finer level's committed partials only in the window of
  *    the level above it, and the shuffle key `(level, stream_id, bucket)`
  *    is high-cardinality → no skew.
  */
object Downsample {

  /** Exact decimal type for value sums: 28 integer digits × 10 fractional. */
  val DecV: DecimalType = DecimalType(38, 10)
  /** Exact decimal type for summed epoch-microseconds. */
  val DecT: DecimalType = DecimalType(38, 0)

  /** Floor `ts` to the start of its granularity bucket. Pure integer
    * arithmetic on epoch-µs (no struct like `window()` produces) — cheap,
    * codegen-friendly, and bit-exact with the oracle's formulation.
    */
  def bucketStart(ts: Column, g: Granularity): Column = {
    val durUs = g.durationSeconds * 1000000L
    timestamp_micros(unix_micros(ts) - pmod(unix_micros(ts), lit(durUs)))
  }

  /** Aggregate raw datapoints into per-bucket partial state at granularity
    * `g`. `keys` identifies the stream (defaults to `stream_id`).
    */
  def aggregateRaw(raw: DataFrame, g: Granularity,
                   keys: Seq[String] = Seq("stream_id")): DataFrame =
    raw.groupBy(keys.map(col) :+ bucketStart(col("ts"), g).as("bucket_start"): _*)
      .agg(
        count(lit(1)).as("cnt"),
        sum(col("value").cast(DecV)).as("vsum"),
        min("value").as("vmin"),
        max("value").as("vmax"),
        sum((col("value") * col("value")).cast(DecV)).as("vsumsq"),
        min("ts").as("tfirst"),
        max("ts").as("tlast"),
        sum(unix_micros(col("ts")).cast(DecT)).as("tsum_us"))

  /** Roll partial state up one-or-more levels to coarser granularity `to`.
    * Every aggregate here is an exact merge of the partial state — this is
    * what makes the cascade equivalent to direct aggregation.
    */
  def rollup(partial: DataFrame, to: Granularity,
             keys: Seq[String] = Seq("stream_id")): DataFrame =
    partial.groupBy(
        keys.map(col) :+ bucketStart(col("bucket_start"), to).as("bucket_start"): _*)
      .agg(
        sum("cnt").as("cnt"),
        sum("vsum").as("vsum"),
        min("vmin").as("vmin"),
        max("vmax").as("vmax"),
        sum("vsumsq").as("vsumsq"),
        min("tfirst").as("tfirst"),
        max("tlast").as("tlast"),
        sum("tsum_us").as("tsum_us"))

  /** One raw point as the partial state [[aggregateRaw]] gives a bucket
    * holding only that point, at `bucket_start = ts`: the form in which raw
    * rows enter [[routedRollup]] beside committed partials. Merging these
    * with [[rollup]]'s aggregates is exactly [[aggregateRaw]].
    */
  def pointPartial(raw: DataFrame): DataFrame = {
    val v = col("value")
    raw.select(col("stream_id"), col("ts").as("bucket_start"), lit(1L).as("cnt"),
      v.cast(DecV).as("vsum"), v.as("vmin"), v.as("vmax"),
      (v * v).cast(DecV).as("vsumsq"), col("ts").as("tfirst"),
      col("ts").as("tlast"), unix_micros(col("ts")).cast(DecT).as("tsum_us"))
  }

  /** Per-stream routing bounds for [[routedRollup]] over `levels.size` = L
    * levels with watermarks `los` (epoch-µs, `Long.MinValue` for none):
    * entry `(src + 1) * L + g` is the lowest time at which a row of source
    * level `src` (−1 = raw) reaches level `g` — the largest watermark of
    * the levels `src + 1 .. g` it is folded through — and `Long.MaxValue`
    * where `g <= src`.
    */
  def routeBounds(los: IndexedSeq[Long]): Seq[Long] = {
    val n = los.size
    for (src <- -1 until n - 1; g <- 0 until n)
      yield if (g <= src) Long.MaxValue else los.slice(src + 1, g + 1).max
  }

  /** The ladder in ONE expand-then-aggregate pass, the plan Spark uses for
    * `GROUPING SETS`. Each row of `sources` is partial state at
    * `bucket_start` from source level `_src` (−1 for a raw point, see
    * [[pointPartial]]; `j` for a level-`j` partial) and carries its
    * stream's `_lb` ([[routeBounds]]). It is copied to every level `g` of
    * `targets` with `_lb(src, g) <= t < his(g)`, and one
    * `groupBy(level, stream_id, bucket)` merges all copies.
    *
    * This equals folding the levels one at a time, each level reading the
    * next-finer one as it stands after its own fold, restricted to the
    * window `[watermark, his)`: watermarks and `his` are aligned to their
    * level, and every level's duration divides the next, so a row lies in
    * a window exactly when the finer bucket holding it does. Returns
    * `granularity` (the level's name) beside the partial columns.
    */
  def routedRollup(sources: DataFrame, levels: IndexedSeq[Granularity],
                   his: IndexedSeq[Long], targets: Seq[Int]): DataFrame = {
    val n = levels.size
    val t = unix_micros(col("bucket_start"))
    val route = array(targets.map { g =>
      when(t >= element_at(col("_lb"), (col("_src") + 1) * n + (g + 1)) &&
        t < lit(his(g)), lit(g))
    }: _*)
    val dur = element_at(typedLit(levels.map(_.durationSeconds * 1000000L)),
      col("_g") + 1)
    sources.select(col("*"), explode(filter(route, _.isNotNull)).as("_g"))
      .groupBy(col("_g"), col("stream_id"),
        timestamp_micros(t - pmod(t, dur)).as("bucket_start"))
      .agg(
        sum("cnt").as("cnt"),
        sum("vsum").as("vsum"),
        min("vmin").as("vmin"),
        max("vmax").as("vmax"),
        sum("vsumsq").as("vsumsq"),
        min("tfirst").as("tfirst"),
        max("tlast").as("tlast"),
        sum("tsum_us").as("tsum_us"))
      .select(element_at(typedLit(levels.map(_.name)), col("_g") + 1)
        .as("granularity") +: Schemas.downsampled.fieldNames.toSeq.map(col): _*)
  }

  /** Run the full ladder cascade from `from` (exclusive start = raw at
    * `from`) up to `to`, re-aggregating each level from the next-finer one.
    * Returns the partial-state DataFrame per granularity visited.
    */
  def cascade(raw: DataFrame, from: Granularity, to: Granularity,
              keys: Seq[String] = Seq("stream_id")): Map[Granularity, DataFrame] = {
    require(Granularity.isCoarserOrEqual(to, from),
      s"cascade target ${to.name} must be coarser than source ${from.name}")
    val levels = Granularity.ladder
      .dropWhile(_ != from).takeWhile(g => g.durationSeconds <= to.durationSeconds)
    val first = aggregateRaw(raw, levels.head, keys)
    levels.tail.foldLeft(Map(levels.head -> first)) { (acc, g) =>
      val finer = acc(levels(levels.indexOf(g) - 1))
      acc + (g -> rollup(finer, g, keys))
    }
  }

  /** Convenience: cascade seconds→`to` and return the finalized view of the
    * target level. This is the read shape of the reference's downsampled
    * collections [ds :: backends/mongodb.py :: get_data on coarse
    * granularities].
    */
  def cascadeTo(raw: DataFrame, to: Granularity,
                keys: Seq[String] = Seq("stream_id")): DataFrame =
    finalizeView(cascade(raw, Granularity.Seconds, to, keys)(to), keys)

  /** Read-time projection of the reference's downsampler fields from the
    * partial state. mean and std_dev are *derived* here (never stored), so
    * ladder merges stay exact; std_dev is the population form
    * `sqrt(q/n − (s/n)²)` — the formula the reference computes from its
    * stored sum_squares [ds :: backends/mongodb.py :: StdDev downsampler]
    * (SURVEY.md §2.4 A6; pop-vs-samp settled against the DuckDB oracle).
    *
    * t_mean is exact: `tsum_us div cnt` is Spark's integral divide, which
    * for DECIMAL operands uses exact BigDecimal divideToIntegralValue.
    */
  def finalizeView(partial: DataFrame,
                   keys: Seq[String] = Seq("stream_id")): DataFrame = {
    val n = col("cnt").cast(DoubleType)
    val s = col("vsum").cast(DoubleType)
    val q = col("vsumsq").cast(DoubleType)
    // cancellation guard, mirrored EXACTLY in the oracle SQL: for an
    // all-equal bucket q/n − m² should be 0, but once the decimal sums are
    // big enough their double conversions round differently across engines
    // and the subtraction amplifies that ulp to ~1e-10 (observed at sf0.1:
    // std_dev 7.6e-6 vs 0). Relative variance below 1e-12·m² is cancellation
    // noise by construction — clamp it to zero on both sides.
    val m = s / n
    val varRaw = greatest(lit(0.0), q / n - m * m)
    val varClamped = when(varRaw <= m * m * lit(1e-12), lit(0.0)).otherwise(varRaw)
    partial.select(
      keys.map(col) ++ Seq(
        col("bucket_start"),
        (s / n).as("mean"),
        s.as("sum"),
        col("vmin").as("min"),
        col("vmax").as("max"),
        q.as("sum_squares"),
        // explicit null guard: Spark's greatest IGNORES nulls, so an
        // all-null bucket (nominal/graph) would otherwise yield 0.0 here
        // while mean correctly stays null
        when(col("vsumsq").isNotNull && col("vsum").isNotNull,
          sqrt(varClamped)).as("std_dev"),
        col("cnt").as("count"),
        col("tfirst").as("t_first"),
        timestamp_micros(expr("tsum_us div cnt")).as("t_mean"),
        col("tlast").as("t_last")): _*)
  }
}
