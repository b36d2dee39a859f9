package graft

import org.apache.spark.sql.types._

/** The fixed 7-level granularity ladder of the reference engine.
  *
  * Semantics reconstructed from the reference
  * [ds :: datastream/api.py :: Granularity] (SURVEY.md §1.1, confidence H):
  * `round_timestamp` floors epoch-seconds to a multiple of the duration, so
  * Hours6 buckets start at 00/06/12/18 UTC and Days at UTC midnight. Buckets
  * are half-open `[start, start + duration)` and labeled by their start.
  */
sealed abstract class Granularity(val name: String, val durationSeconds: Long)
    extends Serializable {
  /** Spark interval string for `window(ts, duration)`. */
  def interval: String = s"$durationSeconds seconds"
  override def toString: String = name
}

object Granularity {
  case object Seconds   extends Granularity("seconds", 1L)
  case object Seconds10 extends Granularity("seconds10", 10L)
  case object Minutes   extends Granularity("minutes", 60L)
  case object Minutes10 extends Granularity("minutes10", 600L)
  case object Hours     extends Granularity("hours", 3600L)
  case object Hours6    extends Granularity("hours6", 21600L)
  case object Days      extends Granularity("days", 86400L)

  /** Finest → coarsest. Every level's duration divides the next, which is
    * what makes the cascade a pure re-aggregation (rollup) — SURVEY.md §1.3.
    */
  val ladder: Vector[Granularity] =
    Vector(Seconds, Seconds10, Minutes, Minutes10, Hours, Hours6, Days)

  private val byName: Map[String, Granularity] =
    ladder.map(g => g.name -> g).toMap

  def apply(name: String): Granularity =
    byName.getOrElse(
      name,
      throw new errors.UnsupportedGranularity(
        s"$name (expected one of ${ladder.map(_.name).mkString(", ")})"))

  /** All granularities strictly coarser than `g`, finest first. */
  def coarserThan(g: Granularity): Vector[Granularity] =
    ladder.dropWhile(_ != g).drop(1)

  def isCoarserOrEqual(a: Granularity, b: Granularity): Boolean =
    a.durationSeconds >= b.durationSeconds
}

/** Value types supported by the reference — numeric gets the full downsampler
  * set; nominal and graph are count-only (SURVEY.md §1.1 value types, H).
  */
object ValueType {
  val Numeric = "numeric"
  val Nominal = "nominal"
  val Graph   = "graph"
  val all: Set[String] = Set(Numeric, Nominal, Graph)

  /** Downsamplers valid for a value type. */
  def valueDownsamplers(valueType: String): Set[String] = valueType match {
    case Numeric => Downsamplers.allValue
    case Nominal | Graph => Set(Downsamplers.Count)
    case other => throw new IllegalArgumentException(s"Unsupported value type: $other")
  }
}

/** Downsampler names (full names; the reference's one-letter BSON
  * abbreviations are a row-store byte optimization that is irrelevant in
  * columnar parquet — SURVEY.md §2.2 P4).
  */
object Downsamplers {
  val Mean       = "mean"
  val Sum        = "sum"
  val Min        = "min"
  val Max        = "max"
  val SumSquares = "sum_squares"
  val StdDev     = "std_dev"
  val Count      = "count"
  val allValue: Set[String] = Set(Mean, Sum, Min, Max, SumSquares, StdDev, Count)

  val TimeFirst = "first"
  val TimeLast  = "last"
  val TimeMean  = "mean"
  val allTime: Set[String] = Set(TimeFirst, TimeLast, TimeMean)
}

/** Stream metadata row — SURVEY.md §1.3 normative schema. Small dimension
  * side: always broadcastable against the datapoint fact table.
  */
case class StreamMeta(
    stream_id: String,
    tags: Map[String, String],
    value_type: String,
    value_downsamplers: Seq[String],
    time_downsamplers: Seq[String],
    highest_granularity: String,
    derive_op: Option[String] = None,
    derive_args: Option[String] = None,
    derived_from: Seq[String] = Seq.empty,
    // reserved bookkeeping tags [ds :: api.py :: RESERVED_TAGS]: maintained
    // at append so monotonicity checks never scan the fact table
    earliest_datapoint: Option[java.sql.Timestamp] = None,
    latest_datapoint: Option[java.sql.Timestamp] = None,
    // per-granularity maintenance watermark in epoch-µs (g-aligned), the
    // reference's per-stream `downsampled_until` — a late-ensured stream
    // starts from scratch instead of inheriting a global watermark
    downsampled_until: Map[String, Long] = Map.empty)

object Schemas {
  /** Graph value wire format [ds :: value_type "graph"]: vertex list `v`
    * (ids `i`) and edge list `e` (`f`→`t`). Stored as JSON in `value_json`;
    * parse with `from_json(col, Schemas.graph)` (F3).
    */
  val graph: StructType = StructType(Seq(
    StructField("v", ArrayType(StructType(Seq(
      StructField("i", StringType)))), nullable = true),
    StructField("e", ArrayType(StructType(Seq(
      StructField("f", StringType),
      StructField("t", StringType)))), nullable = true)))

  /** Raw datapoints fact table (the 100 TB side). At cluster scale this is
    * partitioned by `date(ts)` and bucketed by `stream_id`.
    */
  val rawDatapoints: StructType = StructType(Seq(
    StructField("stream_id", StringType, nullable = false),
    StructField("ts", TimestampType, nullable = false),
    StructField("value", DoubleType, nullable = true),
    StructField("value_json", StringType, nullable = true)))

  /** Downsampled (rollup) fact table: re-aggregable partial state, exactly
    * as `Downsample.aggregateRaw` produces it — decimal sums so ladder
    * merges are exact; mean and std_dev are derived at read time from
    * (sum, count, sum_squares) — SURVEY.md §1.3. Load-bearing: the facade
    * passes this schema on rollup reads (robust to empty partition dirs).
    */
  val downsampled: StructType = StructType(Seq(
    StructField("stream_id", StringType, nullable = false),
    StructField("bucket_start", TimestampType, nullable = false),
    StructField("cnt", LongType, nullable = false),
    StructField("vsum", DecimalType(38, 10), nullable = true),
    StructField("vmin", DoubleType, nullable = true),
    StructField("vmax", DoubleType, nullable = true),
    StructField("vsumsq", DecimalType(38, 10), nullable = true),
    StructField("tfirst", TimestampType, nullable = false),
    StructField("tlast", TimestampType, nullable = false),
    StructField("tsum_us", DecimalType(38, 0), nullable = true)))

  /** `downsampled` plus the physical date partition column. */
  val downsampledPartitioned: StructType =
    StructType(downsampled.fields :+ StructField("bucket_date", DateType, nullable = true))

  /** `rawDatapoints` plus the physical date partition column the appended
    * fact table is laid out by (`dp_date = date(ts)`), so time-range reads
    * prune whole partitions before row-group stats are consulted.
    */
  val rawDatapointsPartitioned: StructType =
    StructType(rawDatapoints.fields :+ StructField("dp_date", DateType, nullable = true))

  /** Row-level delete file (Iceberg's EQUALITY/range delete shape, not a
    * positional bitmap): each row voids every fact row of `stream_id` with
    * `ts` in the INCLUSIVE epoch-µs range `[lo_us, hi_us]`. Value-keyed
    * rather than (file, position)-keyed deliberately: the predicate stays
    * correct across compaction and z-order rewrites (which move rows
    * between files) with no delete-file rewrite, and it applies as one
    * broadcast anti-join — tiny by contract (one row per doomed stream per
    * delete verb), never proportional to the deleted data.
    */
  val rawDeletes: StructType = StructType(Seq(
    StructField("stream_id", StringType, nullable = false),
    StructField("lo_us", LongType, nullable = false),
    StructField("hi_us", LongType, nullable = false)))
}

/** Physical strategy for a row-level delete ([[Datastream.deleteDatapoints]]).
  * Merge-on-read writes a tiny delete file and defers the rewrite (the
  * right default for point/takedown deletes on a 100 TB table: O(metadata)
  * commit, readers pay one broadcast anti-join until [[Datastream.applyDeletes]]
  * rewrites the touched files). Copy-on-write rewrites the touched files in
  * the delete commit itself — the right call when the deleted fraction is
  * large enough that carrying the read-side filter costs more than the
  * rewrite.
  */
sealed trait DeleteMode
object DeleteMode {
  case object MergeOnRead extends DeleteMode
  case object CopyOnWrite extends DeleteMode
}

/** Plan utilities shared by the facade. */
object Plans {
  /** Eager `localCheckpoint` that also returns the persistent RDD(s) backing
    * it, so callers can free the blocks explicitly once the checkpointed
    * data is no longer referenced. The backing RDD is read directly off the
    * checkpointed Dataset's `LogicalRDD` plan leaf (GraftBridge) — NOT by
    * diffing `sparkContext.getPersistentRDDs` around the call, which a
    * concurrent persist from another thread (e.g. the rollup repair's
    * parallel levels) could contaminate, capturing an unrelated caller's blocks for
    * later wrongful unpersist. The checkpoint is lineage-free: immune to
    * later overwrites of the paths it was computed from (the
    * cached-plan-recompute hazard), and resident on executors — the driver
    * holds nothing proportional to the data.
    */
  def checkpointTracked(df: org.apache.spark.sql.DataFrame)
      : (org.apache.spark.sql.DataFrame, Seq[org.apache.spark.rdd.RDD[_]]) = {
    val out = df.localCheckpoint(true)
    (out, org.apache.spark.sql.GraftBridge.backingRdds(out))
  }
}

/** Exception types mirroring the reference API surface (SURVEY.md §2). */
object errors {
  final class UnsupportedGranularity(msg: String) extends IllegalArgumentException(msg)
  final class UnsupportedDownsampler(msg: String) extends IllegalArgumentException(msg)
  final class InvalidTimestamp(msg: String) extends IllegalArgumentException(msg)
  final class StreamNotFound(msg: String) extends IllegalArgumentException(msg)
  final class AppendToDerivedStreamNotAllowed(msg: String) extends IllegalArgumentException(msg)
  final class IncompatibleGranularities(msg: String) extends IllegalArgumentException(msg)
  final class InvalidOperatorArguments(msg: String) extends IllegalArgumentException(msg)
  final class OutstandingDependenciesError(msg: String) extends IllegalArgumentException(msg)
  final class MaintenanceLockContended(msg: String) extends IllegalStateException(msg)
  /** A concurrent writer won the commit-log version CAS (or holds an
    * unresolved lower version) and the bounded wait expired — the losing
    * mutation wrote NOTHING visible and may simply be retried. Distinct
    * from [[MaintenanceLockContended]] (the advisory fast-path): this is
    * the optimistic-concurrency backstop that holds even where no OS file
    * lock exists (HDFS / object stores).
    */
  final class CommitConflict(msg: String) extends IllegalStateException(msg)
  /** A warehouse or index directory holds a layout below the format floor
    * (one no writer of this engine produces) or one a newer engine wrote.
    * Raised before anything is written; rebuild the directory, or bring
    * foreign raw files in with `adoptRaw`.
    */
  final class UnsupportedFormat(msg: String) extends IllegalStateException(msg)
  /** A CHECK constraint rejected an append (or could not be added because
    * existing rows already violate it). SQL-standard semantics: a
    * constraint fails only when its expression evaluates to FALSE — NULL
    * passes.
    */
  final class ConstraintViolation(msg: String) extends IllegalArgumentException(msg)
}
