package graft

import java.sql.Timestamp
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The read path — the reference's `get_data`
  * [ds :: api.py + backends/mongodb.py :: get_data] (SURVEY.md §2.1 S3).
  *
  * Range scan of one stream at one granularity with inclusive/exclusive
  * bounds, optional descending order, and projection of a subset of
  * downsampler fields. In Spark this is a filter+project plan under a
  * sort: the time predicate and `stream_id` equality push down to the
  * parquet scan (partition pruning + row-group min/max stand in for the
  * reference's `_id`-range index scans, SURVEY.md §4), and struct-field
  * projection rides Catalyst's nested-schema pruning (P3). The `orderBy`
  * is sized to the input ([[oneTaskIfSmall]]): a read whose planned input
  * is no larger than Spark's cost of opening one file sorts in the scan's
  * own task, one job and no shuffle; a larger one runs a parallel scan
  * under a global range sort (the range-bound sample, the exchange, the
  * result). A limited read plans a take-ordered with no exchange either
  * way, so it keeps the parallel scan.
  */
object GetData {

  private def us(t: Timestamp): Long =
    t.toInstant.getEpochSecond * 1000000L + t.toInstant.getNano / 1000L

  /** `df` as one partition when its planned input is no larger than
    * `spark.sql.files.openCostInBytes`, Spark's own estimate of the cost
    * of opening one file; `df` itself otherwise. Put the result directly
    * under an operator that needs a distribution (a global sort, an
    * aggregate, a window): one partition satisfies it, so that operator
    * runs in the scan's own task, with no exchange and in one job.
    *
    * The planned input is the sum of the analyzed plan's leaf sizes, which
    * costs no job: for a snapshot relation it is the summed length of the
    * hint-pruned manifest files ([[plans.GraftFileIndex]]). A leaf of
    * unknown size reports `spark.sql.defaultSizeInBytes`, so the frame
    * keeps its parallel plan. `fanOut` scales the input for a plan that
    * emits each input row that many times before the operator (a kNN
    * candidate row scored once per query probing its cell).
    */
  private[graft] def oneTaskIfSmall(df: DataFrame, fanOut: Long = 1): DataFrame =
    if (plannedInput(df) * fanOut <= df.sparkSession.sessionState.conf.filesOpenCostInBytes)
      df.coalesce(1)
    else df

  /** The sum of `df`'s analyzed leaf sizes, in bytes (see [[oneTaskIfSmall]]). */
  private[graft] def plannedInput(df: DataFrame): BigInt =
    df.queryExecution.analyzed.collectLeaves().map(_.stats.sizeInBytes).sum

  /** `df` ordered on `tsCol`, then paged. An unlimited read of a small
    * input sorts in one task ([[oneTaskIfSmall]]); a limited one plans a
    * take-ordered, which has no exchange to save, so its scan stays
    * parallel.
    */
  private def ordered(df: DataFrame, tsCol: String, reverse: Boolean,
                      limit: Option[Int], offset: Int): DataFrame = {
    val input = if (limit.isEmpty) oneTaskIfSmall(df) else df
    paginate(input.orderBy(if (reverse) col(tsCol).desc else col(tsCol)), limit, offset)
  }

  /** Inclusive/exclusive time-range predicate on `tsCol` (P1). */
  def rangePredicate(tsCol: Column,
                     start: Option[Timestamp], end: Option[Timestamp],
                     startExclusive: Boolean = false,
                     endExclusive: Boolean = false): Column = {
    val lower = start.map(s => if (startExclusive) tsCol > lit(s) else tsCol >= lit(s))
    val upper = end.map(e => if (endExclusive) tsCol < lit(e) else tsCol <= lit(e))
    (lower.toSeq ++ upper.toSeq).reduceOption(_ && _).getOrElse(lit(true))
  }

  private def validate(requested: Seq[String], supported: Set[String],
                       kind: String): Unit = {
    val bad = requested.filterNot(supported)
    if (bad.nonEmpty)
      throw new errors.UnsupportedDownsampler(
        s"unsupported $kind downsampler(s): ${bad.mkString(", ")} " +
          s"(supported: ${supported.toSeq.sorted.mkString(", ")})")
  }

  /** Tastypie-style pagination (O2): `limit`+`offset` over the ordered scan.
    * Spark 4's `offset` composes with `limit` into a single
    * TakeOrderedAndProject-like plan — no full materialization.
    */
  def paginate(df: DataFrame, limit: Option[Int], offset: Int): DataFrame = {
    val off = if (offset > 0) df.offset(offset) else df
    limit.map(off.limit).getOrElse(off)
  }

  /** Datapoint fetch at the stream's highest granularity: raw
    * `(stream_id, ts, value)` rows in the range, optionally reversed.
    */
  def raw(datapoints: DataFrame, streamId: String,
          start: Option[Timestamp] = None, end: Option[Timestamp] = None,
          startExclusive: Boolean = false, endExclusive: Boolean = false,
          reverse: Boolean = false,
          limit: Option[Int] = None, offset: Int = 0,
          valueCols: Seq[String] = Seq("value")): DataFrame = {
    // When the source kept its PHYSICAL time column — `ts_ns` (raw ns
    // long) or `ts_ntz` (µs NTZ) — add redundant bounds on it: the derived
    // `ts` hides the range from parquet pushdown, while physical-column
    // bounds reach row-group min/max pruning. Exclusivity is safe to relax
    // here — the exact µs predicate still applies on top.
    val pushable: Column =
      if (datapoints.columns.contains("ts_ns"))
        Seq(
          start.map(s => col("ts_ns") >= lit(us(s) * 1000L)),
          end.map(e => col("ts_ns") < lit((us(e) + 1) * 1000L)))
          .flatten.reduceOption(_ && _).getOrElse(lit(true))
      else if (datapoints.columns.contains("ts_ntz")) {
        def ntz(t: Timestamp) = lit(
          java.time.LocalDateTime.ofInstant(t.toInstant, java.time.ZoneOffset.UTC))
        Seq(
          start.map(s => col("ts_ntz") >= ntz(s)),
          end.map(e => col("ts_ntz") <= ntz(e)))
          .flatten.reduceOption(_ && _).getOrElse(lit(true))
      } else lit(true)
    val filtered = datapoints
      .where(col("stream_id") === streamId)
      .where(pushable)
      .where(rangePredicate(col("ts"), start, end, startExclusive, endExclusive))
      .select((Seq("stream_id", "ts") ++ valueCols).map(col): _*)
    ordered(filtered, "ts", reverse, limit, offset)
  }

  /** ISO-8601 rendering of datapoint timestamps — the facade's wire format
    * (F5) [dds :: serializers.py :: DatastreamSerializer].
    */
  def renderIso(df: DataFrame, tsCols: Seq[String]): DataFrame =
    tsCols.foldLeft(df) { (d, c) =>
      d.withColumn(c, date_format(col(c), "yyyy-MM-dd'T'HH:mm:ss.SSSSSS'Z'"))
    }

  /** The reference's HTTP wire shape for datapoints: one JSON object per
    * row, `{"t": <iso ts>, "v": <value|aggregate object>}` (F5). `tsCol`
    * becomes `t`; every other column folds into `v` (scalar if one column,
    * object otherwise).
    */
  def renderWire(df: DataFrame, tsCol: String = "ts"): DataFrame = {
    val valueCols = df.columns.filterNot(c => c == tsCol || c == "stream_id")
    val v = if (valueCols.length == 1) col(valueCols.head)
    else struct(valueCols.map(col): _*)
    renderIso(df.select(col(tsCol), v.as("v")), Seq(tsCol))
      .select(to_json(struct(col(tsCol).as("t"), col("v"))).as("datapoint"))
  }

  /** Inverse of `renderWire` for scalar values — the INGEST side of the
    * reference's wire format, so datapoints exported through the
    * reference's HTTP API (or this engine's own rendering) re-ingest
    * losslessly: `{"t": "<iso-µs>Z", "v": <number>}` → (ts, value). Both
    * sides are µs-precision, so parse ∘ render is the identity — pinned
    * end-to-end by the `q_wire_roundtrip` oracle.
    */
  def parseWire(df: DataFrame, jsonCol: String = "datapoint"): DataFrame = {
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("t",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("v",
        org.apache.spark.sql.types.DoubleType)))
    df.select(from_json(col(jsonCol), schema).as("p"))
      .select(
        to_timestamp(col("p.t"), "yyyy-MM-dd'T'HH:mm:ss.SSSSSS'Z'").as("ts"),
        col("p.v").as("value"))
  }

  /** Downsampled fetch: `partial` is the rollup table at the requested
    * granularity (its `bucket_start` is the datapoint timestamp, matching
    * the reference's bucket-start labeling). Projects the requested
    * downsampler fields, validating names like the reference's API layer
    * (`UnsupportedDownsampler`).
    */
  def downsampled(partial: DataFrame,
                  streamId: String,
                  start: Option[Timestamp] = None, end: Option[Timestamp] = None,
                  startExclusive: Boolean = false, endExclusive: Boolean = false,
                  reverse: Boolean = false,
                  valueDownsamplers: Seq[String] = Downsamplers.allValue.toSeq.sorted,
                  timeDownsamplers: Seq[String] = Seq(Downsamplers.TimeFirst, Downsamplers.TimeLast))
      : DataFrame =
    downsampledPage(partial, streamId, start, end, startExclusive, endExclusive,
      reverse, valueDownsamplers, timeDownsamplers, None, 0)

  /** [[downsampled]], paged by `limit`/`offset` ([[paginate]]). */
  private[graft] def downsampledPage(partial: DataFrame, streamId: String,
                                     start: Option[Timestamp], end: Option[Timestamp],
                                     startExclusive: Boolean, endExclusive: Boolean,
                                     reverse: Boolean,
                                     valueDownsamplers: Seq[String],
                                     timeDownsamplers: Seq[String],
                                     limit: Option[Int], offset: Int): DataFrame = {
    validate(valueDownsamplers, Downsamplers.allValue, "value")
    validate(timeDownsamplers, Downsamplers.allTime, "time")
    val view = Downsample.finalizeView(
        partial.where(col("stream_id") === streamId)
          .where(rangePredicate(col("bucket_start"), start, end, startExclusive, endExclusive)))
    val valueCols = valueDownsamplers.map(view.col)
    val timeCols = timeDownsamplers.map {
      case Downsamplers.TimeFirst => view.col("t_first")
      case Downsamplers.TimeMean  => view.col("t_mean")
      case Downsamplers.TimeLast  => view.col("t_last")
    }
    val projected = view.select(
      col("stream_id") +: col("bucket_start") +: (valueCols ++ timeCols): _*)
    ordered(projected, "bucket_start", reverse, limit, offset)
  }
}
