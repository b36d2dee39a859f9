package graft

import java.nio.file.Files
import java.sql.Timestamp

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

/** ScalaCheck properties of the downsampling cascade.
  *
  *  - The ladder is exactly associative: rolling up through ANY
  *    intermediate level equals direct aggregation, because the partial
  *    state is decimal-exact (SURVEY.md §5 test strategy).
  *  - `downsampleStreams`, which folds every level in one routed
  *    aggregation, equals [[RollupPropertySpec.Reference]]: the cascade
  *    run one level at a time over a driver-side model of the warehouse,
  *    each level reading the next-finer one as it stands after its own
  *    fold.
  *  - `upsertDatapoints`, `deleteDatapoints` (both modes) and a
  *    multi-window `applyDeleteBatch` repair every level as the reference
  *    recomputes it: each touched stream's rows in the mutated window,
  *    and each upserted key's finalized buckets, from the surviving
  *    points.
  */
class RollupPropertySpec extends AnyFunSuite {
  import RollupPropertySpec._

  private lazy val spark = SparkSpec.session

  private val pointGen = for {
    stream <- Gen.oneOf("a", "b", "c")
    offsetS <- Gen.choose(0L, 3L * 86400L)
    micros <- Gen.choose(0L, 999999L)
    value <- Gen.choose(-1e6, 1e6)
  } yield (stream, offsetS * 1000000L + micros, value)

  test("cascade through any intermediate granularity equals direct aggregation") {
    import spark.implicits._
    val prop = Prop.forAll(
      Gen.nonEmptyListOf(pointGen),
      Gen.choose(1, Granularity.ladder.size - 2)) { (points, midIdx) =>
      val mid = Granularity.ladder(midIdx)
      val target = Granularity.Days
      val raw = points.map { case (s, us, v) =>
        (s, new java.sql.Timestamp(1704067200000L + us / 1000), v)
      }.toDF("stream_id", "ts", "value")
      val direct = Downsample.finalizeView(Downsample.aggregateRaw(raw, target))
      val viaMid = Downsample.finalizeView(
        Downsample.rollup(Downsample.aggregateRaw(raw, mid), target))
      direct.exceptAll(viaMid).isEmpty && viaMid.exceptAll(direct).isEmpty
    }
    val result = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(15), prop)
    assert(result.passed, result.status.toString)
  }

  /** Runs `ops` on a fresh warehouse and on the reference; after every
    * downsample compares the returned `produced` frames and every
    * stream's `downsampled_until`, after every upsert or delete its
    * return value, every rollup table (as a multiset) and every
    * watermark, and at the end every rollup table. Returns the reference,
    * whose `seen` records the cases the run hit.
    */
  private def agree(ops: Seq[Op]): Reference = {
    import spark.implicits._
    val ds = new Datastream(spark, Files.createTempDirectory("graft-routed").toString)
    val ref = new Reference
    def rowsOf(df: DataFrame, level: Column): Seq[Part] =
      df.select(level, col("stream_id"), unix_micros(col("bucket_start")), col("cnt"),
          col("vsum"), col("vmin"), col("vmax"), col("vsumsq"),
          unix_micros(col("tfirst")), unix_micros(col("tlast")), col("tsum_us"))
        .collect().toSeq.map(toPart)
    def partials(df: DataFrame, level: Column): Set[Part] = rowsOf(df, level).toSet
    def repaired(op: Op): Unit = {
      Granularity.ladder.foreach { g =>
        def counted(ps: Seq[Part]) = ps.groupBy(identity).view.mapValues(_.size).toMap
        assert(counted(rowsOf(ds.rollup(g), lit(g.name))) === counted(ref.table(g.name)),
          s"rollup ${g.name} after $op in $ops")
      }
      ref.streams.keys.foreach { s =>
        assert(ds.streamMeta(s).downsampled_until === ref.watermarks(s),
          s"downsampled_until of $s after $op in $ops")
      }
    }
    var batchId = 0L
    ops.foreach {
      case e @ Ensure(id, grp, g, nominal) =>
        ds.ensureStream(id, Map("grp" -> grp),
          valueType = if (nominal) ValueType.Nominal else ValueType.Numeric,
          highestGranularity = g)
        ref.ensure(e)
      case Append(rows) =>
        ds.appendMultiple(rows.map { case (s, us, v) =>
          (s, micros(us), v.map(java.lang.Double.valueOf).orNull)
        }.toDF("stream_id", "ts", "value"), checkTimestamp = false)
        ref.append(rows)
      case Down(until, grp) =>
        val produced = ds.downsampleStreams(micros(until),
          grp.fold(Map.empty[String, String])(g => Map("grp" -> g)))
        val want = ref.downsample(until, grp)
        assert(produced.keySet.map(_.name) === want.keySet, s"produced levels after $ops")
        produced.foreach { case (g, df) =>
          assert(partials(df, lit(g.name)) === want(g.name), s"produced ${g.name} after $ops")
        }
        ref.streams.keys.foreach { s =>
          assert(ds.streamMeta(s).downsampled_until === ref.watermarks(s),
            s"downsampled_until of $s after $ops")
        }
      case u @ Upsert(rows) =>
        val n = ds.upsertDatapoints(rows.map { case (s, us, v) =>
          (s, micros(us), v.map(java.lang.Double.valueOf).orNull)
        }.toDF("stream_id", "ts", "value"))
        assert(n === ref.upsert(rows), s"replaced by $u in $ops")
        repaired(u)
      case d @ Delete(grp, lo, hi, mor) =>
        val n = ds.deleteDatapoints(grp.fold(Map.empty[String, String])(g => Map("grp" -> g)),
          micros(lo), micros(hi), if (mor) DeleteMode.MergeOnRead else DeleteMode.CopyOnWrite)
        assert(n === ref.delete(grp, lo, hi, mor), s"voided by $d in $ops")
        repaired(d)
      case b @ DeleteBatch(ranges) =>
        batchId += 1
        ds.applyDeleteBatch(ranges, batchId)
        ref.deleteBatch(ranges)
        repaired(b)
    }
    Granularity.ladder.foreach { g =>
      assert(partials(ds.rollup(g), lit(g.name)) === ref.table(g.name).toSet,
        s"rollup ${g.name} after $ops")
    }
    ref
  }

  private val Base = 1704067200000000L // 2024-01-01T00:00:00Z in µs
  private val S = 1000000L

  test("the routed cascade equals the level-by-level reference, example by example") {
    // a halt, then a level without work between levels with work:
    // seconds10 folds a point whose minute is still open, so `minutes`
    // stays without files and `minutes10` halts; the next call advances
    // seconds10 but not minutes, and minutes10 halts again
    val halts = agree(Seq(
      Ensure("s", "a", Granularity.Seconds, nominal = false),
      Append(Seq(("s", Base + 15 * S, Some(1.5)))),
      Down(Base + 45 * S, None),
      Down(Base + 55 * S, None),
      Append(Seq(("s", Base + 180 * S, Some(-2.0)), ("s", Base + 50 * S, Some(4.0)))),
      Down(Base + 3600 * S, None)))
    assert(halts.seen("halt") && halts.seen("gap") && halts.seen("late"))
    // a gap with no halt: the nominal `b` halts at minutes10 while
    // `minutes` is empty; filterTags then lets `a` alone fill `minutes`,
    // so the next call has no work at minutes, `b` still lags from
    // minutes10 up, and nothing halts
    val day = Base + 86400 * S
    val filtered = agree(Seq(
      Ensure("a", "a", Granularity.Seconds, nominal = false),
      Ensure("b", "b", Granularity.Seconds, nominal = true),
      Append(Seq(("a", Base + 5 * S, Some(1.0)), ("b", day + 7 * S, None),
        ("b", day + 75 * S, None))),
      Down(day + 45 * S, Some("b")),
      Down(day + 30 * S, Some("a")),
      Append(Seq(("a", day + 125 * S, Some(2.5)))),
      Down(day + 55 * S, None),
      Down(day + 2 * 86400 * S, None)))
    assert(filtered.seen("gap") && filtered.seen("filter") && filtered.seen("nominal"))
  }

  test("the routed cascade equals the level-by-level reference (property)") {
    val seen = mutable.Set.empty[String]
    val prop = Prop.forAllNoShrink(opsGen(Base)) { ops =>
      seen ++= agree(ops).seen
      true
    }
    // a fixed seed: the coverage check below must not depend on the draw
    val result = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(8)
      .withWorkers(1).withInitialSeed(org.scalacheck.rng.Seed(20241001L)), prop)
    assert(result.passed, result.status.toString)
    // the generator reaches every case the reference distinguishes
    assert(Set("lagging", "late", "filter", "nominal").subsetOf(seen), seen)
  }

  test("a two-window applyDeleteBatch rewrites the files both windows touch once") {
    // each level's one file holds both windows' buckets: repaired once per
    // window, it was rewritten twice, each copy keeping the stale rows the
    // other window repaired
    val h = 3600 * S
    val twice = agree(Seq(
      Ensure("s", "a", Granularity.Seconds, nominal = false),
      Ensure("t", "b", Granularity.Seconds, nominal = false),
      Append(Seq(("s", Base + 10 * S, Some(1.0)), ("t", Base + 20 * S, Some(3.0)),
        ("s", Base + 6 * h + 10 * S, Some(2.0)), ("t", Base + 6 * h + 20 * S, Some(4.0)))),
      Down(Base + 24 * h, None),
      DeleteBatch(Seq(("s", Base + 10 * S, Base + 10 * S),
        ("t", Base + 6 * h + 20 * S, Base + 6 * h + 20 * S)))))
    assert(twice.seen("batch"))
  }

  test("upserts and row deletes repair every level as the reference recomputes it (property)") {
    val seen = mutable.Set.empty[String]
    val prop = Prop.forAllNoShrink(opsGen(Base, mutations = true)) { ops =>
      seen ++= agree(ops).seen
      true
    }
    val result = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(8)
      .withWorkers(1).withInitialSeed(org.scalacheck.rng.Seed(20241013L)), prop)
    assert(result.passed, result.status.toString)
    assert(Set("replace", "insert", "gap-bucket", "mor", "cow", "batch").subsetOf(seen), seen)
  }
}

object RollupPropertySpec {
  type Column = org.apache.spark.sql.Column

  sealed trait Op
  final case class Ensure(id: String, grp: String, g: Granularity, nominal: Boolean) extends Op
  /** Rows `(stream, ts µs, value)`, appended without the timestamp check. */
  final case class Append(rows: Seq[(String, Long, Option[Double])]) extends Op
  final case class Down(until: Long, grp: Option[String]) extends Op
  /** Rows `(stream, ts µs, value)` merged by key. */
  final case class Upsert(rows: Seq[(String, Long, Option[Double])]) extends Op
  /** A row delete of the `grp` streams (all without one), `[lo, hi]` µs. */
  final case class Delete(grp: Option[String], lo: Long, hi: Long, mor: Boolean) extends Op
  /** `applyDeleteBatch` of `(stream, lo µs, hi µs)` ranges. */
  final case class DeleteBatch(ranges: Seq[(String, Long, Long)]) extends Op

  /** One rollup row, level first; decimals as plain strings without
    * trailing zeros, times in epoch-µs.
    */
  type Part = (String, String, Long, Long, Option[String], Option[Double],
    Option[Double], Option[String], Long, Long, String)

  /** The instant `us` epoch-µs as a timestamp, to the microsecond. */
  private def micros(us: Long): Timestamp = {
    val t = new Timestamp(Math.floorDiv(us, 1000L))
    t.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
    t
  }

  private def dec(b: java.math.BigDecimal): String =
    if (b.signum == 0) "0" else b.stripTrailingZeros.toPlainString

  private def toPart(r: Row): Part = {
    def d(i: Int) = Option(r.getDecimal(i)).map(dec)
    def x(i: Int) = if (r.isNullAt(i)) None else Some(r.getDouble(i))
    (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3), d(4), x(5),
      x(6), d(7), r.getLong(8), r.getLong(9), dec(r.getDecimal(10)))
  }

  /** The partial state of one bucket, merged exactly. */
  private final case class P(cnt: Long, vsum: Option[BigDecimal], vmin: Option[Double],
                             vmax: Option[Double], vsumsq: Option[BigDecimal],
                             tfirst: Long, tlast: Long, tsum: BigDecimal) {
    def +(o: P): P = {
      def opt[A](a: Option[A], b: Option[A])(f: (A, A) => A) =
        (a ++ b).reduceOption(f)
      P(cnt + o.cnt, opt(vsum, o.vsum)(_ + _), opt(vmin, o.vmin)(math.min),
        opt(vmax, o.vmax)(math.max), opt(vsumsq, o.vsumsq)(_ + _),
        math.min(tfirst, o.tfirst), math.max(tlast, o.tlast), tsum + o.tsum)
    }
  }

  private def point(us: Long, v: Option[Double]): P =
    P(1L, v.map(BigDecimal(_)), v, v, v.map(x => BigDecimal(x * x)), us, us, BigDecimal(us))

  /** The cascade one level at a time over a driver-side model of the
    * warehouse: raw points, rollup rows per level and the registry's
    * watermarks. Each level with work reads the raw window (level 0) or
    * the next-finer level as it stands after this call's fold, restricted
    * per stream to `[watermark, hi)`; a level whose finer level has no
    * rows at all halts it and every coarser level. An upsert or a delete
    * recomputes, at every level, the rows of the touched streams in the
    * window (and each upserted key's finalized bucket) from the surviving
    * points; a merge-on-read range voids the points in it from then on.
    * `seen` names the cases a run went through.
    */
  final class Reference {
    val streams = mutable.LinkedHashMap.empty[String, Ensure]
    private val raw = mutable.ArrayBuffer.empty[(String, Long, Option[Double])]
    // the raw table exists once a write landed, even if deletes empty it
    private var rawWritten = false
    private val latest = mutable.Map.empty[String, Long]
    private val rows = mutable.Map.empty[String, Vector[(String, Long, P)]]
    private val marks = mutable.Map.empty[String, Map[String, Long]]
    private val pending = mutable.ArrayBuffer.empty[(String, Long, Long)]
    val seen = mutable.Set.empty[String]

    /** The points no merge-on-read range voids. */
    private def visible = raw.filterNot { case (s, us, _) =>
      pending.exists { case (d, lo, hi) => d == s && us >= lo && us <= hi }
    }.toSeq

    def watermarks(s: String): Map[String, Long] = marks.getOrElse(s, Map.empty)

    def table(level: String): Seq[Part] =
      rows.getOrElse(level, Vector.empty).map { case (s, b, p) => part(level, s, b, p) }

    private def part(level: String, s: String, b: Long, p: P): Part =
      (level, s, b, p.cnt, p.vsum.map(x => dec(x.bigDecimal)), p.vmin, p.vmax,
        p.vsumsq.map(x => dec(x.bigDecimal)), p.tfirst, p.tlast, dec(p.tsum.bigDecimal))

    def ensure(e: Ensure): Unit = if (!streams.contains(e.id)) streams(e.id) = e

    def append(batch: Seq[(String, Long, Option[Double])]): Unit = {
      // stale rows (below the stream's latest point) are dropped
      val kept = batch.filter { case (s, us, _) => latest.get(s).forall(us >= _) }
      kept.foreach { case (s, us, _) =>
        if (watermarks(s).get(Granularity.ladder.head.name).exists(us < _)) seen += "late"
      }
      raw ++= kept
      rawWritten ||= kept.nonEmpty
      kept.groupMapReduce(_._1)(_._2)(math.max).foreach { case (s, hi) =>
        latest(s) = latest.get(s).fold(hi)(math.max(_, hi))
      }
    }

    def downsample(until: Long, grp: Option[String]): Map[String, Set[Part]] = {
      if (!rawWritten || streams.isEmpty) return Map.empty
      val selected = streams.values.filter(e => grp.forall(_ == e.grp)).map(_.id).toSeq
      if (grp.isDefined) seen += "filter"
      val finest = streams.values.map(_.g.durationSeconds).min
      val levels = Granularity.ladder.filter(_.durationSeconds >= finest)
      def dur(i: Int) = levels(i).durationSeconds * 1000000L
      def hi(i: Int) = Math.floorDiv(until, dur(i)) * dur(i)
      def lo(s: String, i: Int) = watermarks(s).getOrElse(levels(i).name, Long.MinValue)
      def busy(i: Int) = selected.filter(lo(_, i) < hi(i))
      val work = levels.indices.filter(busy(_).nonEmpty)
      if (work.isEmpty) return Map.empty
      if (work.last - work.head + 1 > work.size) seen += "gap"
      if (levels.indices.exists(i => selected.map(lo(_, i)).distinct.size > 1)) seen += "lagging"
      if (selected.exists(s => streams(s).nominal && raw.exists(_._1 == s))) seen += "nominal"
      val produced = mutable.LinkedHashMap.empty[String, Set[Part]]
      var halted = false
      work.foreach { i =>
        val name = levels(i).name
        val source: Option[Seq[(String, Long, P)]] =
          if (i == 0) Some(visible.map { case (s, us, v) => (s, us, point(us, v)) })
          else Some(rows.getOrElse(levels(i - 1).name, Vector.empty)).filter(_.nonEmpty)
        if (!halted && source.isEmpty) { halted = true; seen += "halt" }
        if (!halted) {
          val windows = busy(i).map(s => s -> lo(s, i)).toMap
          def inWindow(s: String, t: Long) = windows.get(s).exists(l => t >= l && t < hi(i))
          val folded = source.get.filter { case (s, t, _) => inWindow(s, t) }
            .groupMapReduce { case (s, t, _) => (s, t - Math.floorMod(t, dur(i))) }(_._3)(_ + _)
            .toSeq.map { case ((s, b), p) => (s, b, p) }
          rows(name) = rows.getOrElse(name, Vector.empty) ++ folded
          produced(name) = rows(name).filter { case (s, b, _) => inWindow(s, b) }
            .map { case (s, b, p) => part(name, s, b, p) }.toSet
        }
      }
      selected.foreach { s =>
        marks(s) = watermarks(s) ++ levels.indices.filter(i => produced.contains(levels(i).name))
          .map(i => levels(i).name -> watermarks(s).get(levels(i).name).fold(hi(i))(math.max(_, hi(i))))
      }
      produced.toMap
    }

    /** Merges `batch` by key; returns the visible points it replaced. */
    def upsert(batch: Seq[(String, Long, Option[Double])]): Long = {
      val keys = batch.map(r => (r._1, r._2)).toSet
      val replaced = visible.count(r => keys((r._1, r._2)))
      if (replaced > 0) seen += "replace"
      if (replaced < keys.size) seen += "insert"
      raw.filterInPlace(r => !keys((r._1, r._2)))
      raw ++= batch
      rawWritten = true
      batch.groupMapReduce(_._1)(_._2)(math.max).foreach { case (s, hi) =>
        latest(s) = latest.get(s).fold(hi)(math.max(_, hi))
      }
      repair(Seq((batch.map(_._2).min, batch.map(_._2).max, batch.map(_._1).toSet)), keys.toSeq)
      replaced.toLong
    }

    /** Voids the `grp` streams' points in `[lo, hi]`; returns how many
      * were visible. Nothing visible commits nothing.
      */
    def delete(grp: Option[String], lo: Long, hi: Long, mor: Boolean): Long = {
      val ids = streams.values.filter(e => grp.forall(_ == e.grp)).map(_.id).toSet
      def doomed(s: String, us: Long) = ids(s) && us >= lo && us <= hi
      val n = visible.count(r => doomed(r._1, r._2))
      if (n > 0) {
        seen += (if (mor) "mor" else "cow")
        if (mor) pending ++= ids.map((_, lo, hi))
        else raw.filterInPlace(r => !doomed(r._1, r._2))
        repair(Seq((lo, hi, ids)), Nil)
      }
      n.toLong
    }

    /** `applyDeleteBatch`: merge-on-read ranges, one repair per window. */
    def deleteBatch(ranges: Seq[(String, Long, Long)]): Unit = {
      val windows = ranges.groupMap(r => (r._2, r._3))(_._1).toSeq
      if (windows.size > 1) seen += "batch"
      pending ++= ranges
      repair(windows.map { case ((lo, hi), ids) => (lo, hi, ids.toSet) }, Nil)
    }

    /** At every level: the rows of a group's streams in its window and
      * each key's finalized bucket, recomputed from the visible points (a
      * bucket left without points vanishes).
      */
    private def repair(groups: Seq[(Long, Long, Set[String])], keys: Seq[(String, Long)]): Unit = {
      val live = visible
      Granularity.ladder.foreach { g =>
        val d = g.durationSeconds * 1000000L
        def align(t: Long) = t - Math.floorMod(t, d)
        val cur = rows.getOrElse(g.name, Vector.empty)
        val finalized = keys.map { case (s, t) => (s, align(t)) }
          .filter { case (s, b) => watermarks(s).get(g.name).exists(b < _) }.toSet
        if (finalized.exists(k => !cur.exists(r => (r._1, r._2) == k))) seen += "gap-bucket"
        val purged = finalized ++ cur.collect { case (s, b, _) if groups.exists {
          case (lo, hi, ids) => ids(s) && b >= align(lo) && b <= align(hi)
        } => (s, b) }
        val again = live.filter { case (s, us, _) => purged((s, align(us))) }
          .groupMapReduce { case (s, us, _) => (s, align(us)) } { case (_, us, v) => point(us, v) }(_ + _)
        rows(g.name) = cur.filterNot(r => purged((r._1, r._2))) ++
          again.toSeq.map { case ((s, b), p) => (s, b, p) }
      }
    }
  }

  /** A random case: a few streams (some nominal, some ensured late, two tag
    * groups, seconds or minutes granularity), appends around a moving
    * clock (some rows late or stale), and downsamples whose `until` steps
    * from seconds to days, some with `filterTags`. With `mutations`, also
    * upserts (of stored keys or of fresh times up to a day back), row
    * deletes in either mode and `applyDeleteBatch`es over two windows.
    */
  def opsGen(base: Long, mutations: Boolean = false): Gen[Seq[Op]] = {
    val s = 1000000L
    // a stream's attributes follow from its id, so a repeated ensure of
    // an id is the engine's idempotent re-ensure
    val ensure = Gen.choose(0, 9).map { n =>
      Ensure(s"s$n", if (n % 2 == 0) "a" else "b",
        if (n % 4 == 3) Granularity.Minutes else Granularity.Seconds, nominal = n % 5 == 4)
    }
    def append(ids: Seq[Ensure], clock: Long) = for {
      n <- Gen.choose(1, 6)
      rs <- Gen.listOfN(n, for {
        e <- Gen.oneOf(ids)
        off <- Gen.choose(-7200L, 7200L)
        k <- Gen.choose(-2000, 2000)
      } yield (e.id, clock + off * s + 1234L, if (e.nominal) None else Some(k * 0.5)))
    } yield Append(rs)
    def upsert(ids: Seq[Ensure], clock: Long, keys: Seq[(String, Long)]) = for {
      n <- Gen.choose(1, 4)
      rs <- Gen.listOfN(n, for {
        fresh <- for {
          e <- Gen.oneOf(ids)
          off <- Gen.choose(-86400L, 3600L)
        } yield (e.id, clock + off * s + 4321L)
        key <- if (keys.isEmpty) Gen.const(fresh) else Gen.oneOf(Gen.const(fresh), Gen.oneOf(keys))
        k <- Gen.choose(-2000, 2000)
      } yield (key._1, key._2, if (ids.exists(e => e.id == key._1 && e.nominal)) None else Some(k * 0.5)))
    } yield Upsert(rs.distinctBy(r => (r._1, r._2)))
    // a window around a stored key (or the clock): most of them void a point
    def window(clock: Long, keys: Seq[(String, Long)]) = for {
      at <- if (keys.isEmpty) Gen.const(clock) else Gen.oneOf(keys).map(_._2)
      before <- Gen.oneOf(0L, 30L, 3600L, 86400L)
      after <- Gen.oneOf(0L, 30L, 3600L)
    } yield (at - before * s, at + after * s)
    def delete(clock: Long, keys: Seq[(String, Long)]) = for {
      w <- window(clock, keys)
      grp <- Gen.oneOf(None, Some("a"), Some("b"))
      mor <- Gen.oneOf(true, false)
    } yield Delete(grp, w._1, w._2, mor)
    def deleteBatch(ids: Seq[Ensure], clock: Long, keys: Seq[(String, Long)]) = for {
      w1 <- window(clock, keys)
      w2 <- window(clock, keys)
      a <- Gen.oneOf(ids)
      b <- Gen.oneOf(ids)
    } yield DeleteBatch(Seq((a.id, w1._1, w1._2), (b.id, w2._1, w2._2), (a.id, w2._1, w2._2)).distinct)
    def steps(ids: Seq[Ensure], clock: Long, left: Int,
              keys: Seq[(String, Long)]): Gen[List[Op]] =
      if (left == 0) Gen.const(Nil)
      else Gen.frequency(Seq(
        3 -> (for {
          a <- append(ids, clock)
          rest <- steps(ids, clock, left - 1, keys ++ a.rows.map(r => (r._1, r._2)))
        } yield a :: rest),
        3 -> (for {
          step <- Gen.oneOf(5L, 40L, 7 * 60L, 2 * 3600L, 86400L + 3600L)
          grp <- Gen.frequency(3 -> None, 1 -> Some("a"), 1 -> Some("b"))
          rest <- steps(ids, clock + step * s, left - 1, keys)
        } yield Down(clock + step * s, grp) :: rest),
        1 -> (for {
          e <- ensure
          rest <- steps(ids :+ e, clock, left - 1, keys)
        } yield e :: rest)) ++ (if (!mutations) Nil else Seq(
        3 -> (for {
          u <- upsert(ids, clock, keys)
          rest <- steps(ids, clock, left - 1, keys ++ u.rows.map(r => (r._1, r._2)))
        } yield u :: rest),
        2 -> (for {
          d <- delete(clock, keys)
          rest <- steps(ids, clock, left - 1, keys)
        } yield d :: rest),
        1 -> (for {
          b <- deleteBatch(ids, clock, keys)
          rest <- steps(ids, clock, left - 1, keys)
        } yield b :: rest))): _*)
    for {
      first <- Gen.nonEmptyListOf(ensure).map(_.take(3))
      n <- if (mutations) Gen.choose(8, 12) else Gen.choose(3, 7)
      ops <- steps(first, base + 3600L * s, n, Nil)
    } yield first ++ ops :+ Down(base + 3 * 86400L * s, None)
  }
}
